package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.ShardWriter

/** Scale artifact for [[ShardWriter.readKeyRange]] — the "boundary pin
  * as an index" claim with a measured number, like every other pruning
  * claim (q129's oracle + exact numFiles spec gate prove correctness;
  * this records what the pruning is WORTH at scale): write an N-doc
  * corpus as a derived-boundary pinned layout of `numShards` shards,
  * then serve a point-ish key range (~¼ shard wide) two ways:
  *
  *  - `readKeyRange` — static `shard BETWEEN` directory prune from the
  *    pin, residual key filter against in-shard sorted row groups;
  *  - the same `keyCol BETWEEN` filter over a plain
  *    `spark.read.parquet` of the layout — no shard predicate, so
  *    every shard's files are listed AND opened (footer + row-group
  *    stats) even though row groups then skip.
  *
  * Both sides report the FileSourceScanExec `numFiles` metric (files
  * the scan planned to read) and the wall of a noop-sink
  * materialization; results are asserted row-identical. AQE is off for
  * the metric runs so the scan leaf is directly inspectable (same
  * convention as the spec gates).
  *
  * Usage: RangeBench <documentsDir> [numShards=64] [outDir]
  */
object RangeBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/grown4m")
    val numShards = args.lift(1).map(_.toInt).getOrElse(64)
    val outDir = args.lift(2).getOrElse("/tmp/range_bench")
    val spark = BenchProto.session()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")

    val layout = s"$outDir/layout"
    val layoutPath = new org.apache.hadoop.fs.Path(layout)
    val fs = layoutPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(layoutPath, true)
    fs.delete(new org.apache.hadoop.fs.Path(
      layout + "." + ShardWriter.BoundsSidecar), false)

    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val tW0 = System.nanoTime()
    val bounds = ShardWriter.writeShardsDerived(
      docs, layout, "doc_id", numShards, snapshotOnDerive = false)
    val writeSec = (System.nanoTime() - tW0) / 1e9
    println(f"layout written: ${bounds.size + 1} shards in $writeSec%.1f s")

    // point-ish range: ~¼ shard wide, centered inside shard numShards/2
    // (interior, so the prune has shards on both sides to drop)
    val mid = bounds(bounds.size / 2)
    val span = math.max(1L, nDocs / numShards / 4)
    val (lo, hi) = (mid + span, mid + 2 * span)

    // executed via collect() ON THE INSPECTED df (a writer action runs
    // through its own QueryExecution, leaving the inspected plan's
    // metrics at zero — the spec gates use the same collect convention);
    // the range is point-ish, so the collected rows are ~n/shards/4
    def timedScan(mk: () => DataFrame): (Double, Long, Long) = {
      mk().collect(): Unit // warm
      val df = mk()
      val t0 = System.nanoTime()
      val rows = df.collect().length
      val sec = (System.nanoTime() - t0) / 1e9
      val scan = df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.headOption.getOrElse(sys.error("no file scan leaf"))
      (sec, scan.metrics("numFiles").value, rows.toLong)
    }

    val (secPruned, filesPruned, rowsPruned) = timedScan(() =>
      ShardWriter.readKeyRange(spark, layout, "doc_id", lo, hi))
    val (secFull, filesFull, rowsFull) = timedScan(() =>
      spark.read.parquet(layout).filter(col("doc_id").between(lo, hi)))
    require(rowsPruned == rowsFull,
      s"pruned read returned $rowsPruned rows, full-scan $rowsFull")
    val filesTotal = BenchProto.filesUnder(layout, ".parquet").size

    val json =
      f"""{"metric":"shard_range","docs":$nDocs,"shards":${bounds.size + 1},""" +
        f""""range":[$lo,$hi],"rows":$rowsPruned,""" +
        f""""files_total":$filesTotal,"files_pruned":$filesPruned,""" +
        f""""files_unpruned":$filesFull,""" +
        f""""sec_pruned":$secPruned%.3f,"sec_unpruned":$secFull%.3f,""" +
        f""""write_sec":$writeSec%.1f}"""
    BenchProto.writeArtifact(outDir, s"range_${nDocs}_s$numShards.json", json)
    spark.stop()
  }
}
