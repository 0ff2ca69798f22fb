package graft

import org.apache.spark.sql.functions._
import graft.streaming.IdempotentSink

/** Scale artifact for the self-growing streaming dedup ingest
  * ([[IdempotentSink.dedupIngestByBatch]]) — the number the design
  * claims hang on: how the per-batch ingest wall and the lookup's
  * listed-file count GROW with stream age, and what
  * `compactBatches`/`compactBatchesFlat` buy back. The ingest's
  * `prior()` lookup reads the whole accumulated `_batch=` forest every
  * micro-batch; un-folded, that forest gains ~3 subtrees per batch
  * (fp + band×bands + tok), so at 10⁵ batches the file LISTING is the
  * job — this records the curve instead of asserting it.
  *
  * Protocol: the corpus is pre-split into `nBatches` arrival
  * directories ONCE (so per-batch input cost is O(batch), like a real
  * file stream's new arrivals), then each batch runs the exact
  * foreachBatch function the stream binds. Walls are recorded
  * per-batch; tree file counts are sampled at checkpoints. After the
  * last batch: a standalone lookup (the prior() read + flag
  * computation over the FULL tree, noop-materialized, no writes) is
  * timed, all three index trees fold (band via compactBatches, fp/tok
  * via compactBatchesFlat, `uptoBatch = nBatches-2` per the
  * replay-safety contract), and the same lookup re-times over the
  * folded trees. Flags of the folded lookup are asserted identical to
  * the pre-fold lookup (distributed compare).
  *
  * Usage: IngestBench <documentsDir> [nBatches=100] [outDir]
  *        [mode=full|lookup] [foldEvery=0] [foldMode=all|tail]
  * `lookup` skips the ingest+fold and just re-times the standalone
  * lookup (min-of-3) over whatever state the outDir's work trees are
  * in — the time-travel bound is DERIVED from the trees themselves
  * (max `_batch` + 1), so a re-adjudication run can't silently time a
  * truncated tree by passing a different nBatches than the original
  * ingest; for adjudicating a suspect single-sample window without a
  * 30-minute re-ingest. `foldEvery > 0` runs the ingest with
  * IN-STREAM fold scheduling ([[IdempotentSink.foldIfDue]]) — the
  * checkpoints curve then records whether listings stay flat WITHOUT
  * any outside maintenance pass (the final manual fold still runs and
  * should find almost nothing left to fold).
  */
object IngestBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/grown1m_uniq")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(100)
    val outDir = args.lift(2).getOrElse("/tmp/ingest_bench")
    val mode = args.lift(3).getOrElse("full")
    val foldEvery = args.lift(4).map(_.toInt).getOrElse(0)
    val foldMode = args.lift(5).getOrElse("all")
    require(foldMode == "all" || foldMode == "tail",
      s"foldMode must be all|tail (got $foldMode)")
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    val work = s"$outDir/work"
    val workPath = new org.apache.hadoop.fs.Path(work)
    if (mode == "full")
      workPath.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(workPath, true): Unit
    val arrivals = s"$work/arrivals"
    val root = s"$work/idx"
    val flagsOut = s"$work/flags"

    // one split pass: doc_id % nBatches spreads GrowDocs' id-contiguous
    // near-dup families ACROSS batches, so the cross-batch dedup the
    // ingest exists for actually happens (id-contiguous batches would
    // make every family intra-batch — out of the ingest's contract)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    if (mode == "full")
      docs.withColumn("_arr", col("doc_id") % nBatches)
        .write.partitionBy("_arr").mode("overwrite").parquet(arrivals)
    val nDocs = docs.count()

    def treeFiles(): Map[String, Long] = Seq("fp", "band", "tok").map(t =>
      t -> BenchProto.filesUnder(s"$root/$t", ".parquet").size.toLong).toMap

    val ingest = IdempotentSink.dedupIngestByBatch(
      root, flagsOut, "text", "doc_id", foldEvery = foldEvery,
      foldTail = foldMode == "tail") _
    val walls = new scala.collection.mutable.ArrayBuffer[Double](nBatches)
    val checkpoints = scala.collection.mutable.ListBuffer[(Int, Double,
      Map[String, Long])]()
    val every = math.max(1, nBatches / 10)
    for (b <- 0 until (if (mode == "full") nBatches else 0)) {
      val batch = spark.read.parquet(s"$arrivals/_arr=$b")
      val t0 = System.nanoTime()
      ingest(batch, b.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      walls += sec
      if ((b + 1) % every == 0 || b == nBatches - 1) {
        val files = treeFiles()
        checkpoints += ((b, sec, files))
        println(f"batch $b: $sec%.2f s, files=${files}")
      }
    }

    // the standalone lookup: exactly the ingest's prior() + flag
    // computation over the full tree, no writes — isolates the read
    // path the fold exists to protect. The time-travel bound is
    // DERIVED from the trees (max _batch + 1 ⇒ sees everything the
    // ingest wrote), never the CLI arg: a lookup-mode re-adjudication
    // run passing a different nBatches than the original ingest would
    // otherwise silently time a truncated tree under the same metric
    // name.
    val probe = spark.read.parquet(s"$arrivals/_arr=0")
    val lookupBound: Long = {
      val ids = Seq("fp", "band", "tok").flatMap { t =>
        Option(new java.io.File(s"$root/$t").listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
          .map(_.getName.stripPrefix("_batch=").toLong)
      }
      require(ids.nonEmpty, s"no _batch= subtrees under $root — " +
        "run mode=full first")
      ids.max + 1
    }
    def prior(t: String) = spark.read.parquet(s"$root/$t")
      .filter(col("_batch").cast("long") < lookupBound).drop("_batch")
    def lookupFlags() = graft.ops.Dedup.crossDedupFlagsFromIndexes(
      probe, "text", "doc_id", prior("fp"), prior("band"), prior("tok"))
    // min-of-3 timed runs after a warm: the lookup is the artifact's
    // headline number and single samples flapped ±80% in host windows;
    // ALL samples ride into the JSON so the headline needs no
    // sibling-file forensics
    def lookupSamples(): Seq[Double] =
      BenchProto.timeNoop(lookupFlags()).samples
    def samplesJson(xs: Seq[Double]): String =
      xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    if (mode == "lookup") {
      // re-adjudicate the lookup over the work trees AS THEY ARE
      // (post-fold if a full run already folded them)
      val samples = lookupSamples()
      println(f"""{"metric":"ingest_lookup","docs":$nDocs,""" +
        f""""stat":"min_of_3","lookup_bound":$lookupBound,""" +
        f""""files":${treeFiles().values.sum},""" +
        f""""lookup_samples":${samplesJson(samples)},""" +
        f""""lookup_sec":${samples.min}%.2f}""")
      spark.stop()
      return
    }
    val filesPre = treeFiles()
    val lookupPreSamples = lookupSamples()
    val lookupPre = lookupPreSamples.min
    val preFlags = lookupFlags().localCheckpoint(true)

    // fold: latest committed batch (nBatches-1) stays unfolded per the
    // replay-safety contract — the one-call maintenance pass
    val upto = nBatches.toLong - 2
    val tFold0 = System.nanoTime()
    val folded = IdempotentSink.compactIngestTrees(spark, root, upto)
    val (foldedFp, foldedBand, foldedTok) =
      (folded("fp"), folded("band"), folded("tok"))
    val foldSec = (System.nanoTime() - tFold0) / 1e9
    val filesPost = treeFiles()
    val lookupPostSamples = lookupSamples()
    val lookupPost = lookupPostSamples.min
    val postFlags = lookupFlags()
    require(preFlags.exceptAll(postFlags).isEmpty &&
      postFlags.exceptAll(preFlags).isEmpty,
      "fold changed the lookup's flags")
    preFlags.unpersist()

    val dupStats = spark.read.parquet(flagsOut)
      .agg(count(lit(1)), sum(col("exact_dup").cast("long")),
        sum(col("near_dup").cast("long"))).head
    def filesJson(m: Map[String, Long]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    val ckJson = checkpoints.map { case (b, sec, files) =>
      f"""{"batch":$b,"sec":$sec%.2f,"files":${filesJson(files)}}"""
    }.mkString("[", ",", "]")
    def meanOf(xs: Seq[Double]) = xs.sum / math.max(1, xs.size)
    val json =
      f"""{"metric":"ingest_stream","docs":$nDocs,"batches":$nBatches,""" +
        f""""stat":"min_of_3","fold_every":$foldEvery,""" +
        f""""fold_mode":"$foldMode",""" +
        f""""lookup_bound":$lookupBound,""" +
        f""""lookup_pre_samples":${samplesJson(lookupPreSamples)},""" +
        f""""lookup_post_samples":${samplesJson(lookupPostSamples)},""" +
        f""""flagged_rows":${dupStats.getLong(0)},""" +
        f""""exact_dups":${dupStats.getLong(1)},""" +
        f""""near_dups":${dupStats.getLong(2)},""" +
        f""""wall_first10_mean":${meanOf(walls.take(10).toSeq)}%.2f,""" +
        f""""wall_last10_mean":${meanOf(walls.takeRight(10).toSeq)}%.2f,""" +
        f""""checkpoints":$ckJson,""" +
        f""""files_pre":${filesJson(filesPre)},""" +
        f""""files_post":${filesJson(filesPost)},""" +
        f""""folded":[${foldedFp.size},${foldedBand.size},${foldedTok.size}],""" +
        f""""fold_sec":$foldSec%.2f,""" +
        f""""lookup_pre_sec":$lookupPre%.2f,""" +
        f""""lookup_post_sec":$lookupPost%.2f}"""
    val suffix = (if (foldEvery > 0) s"_f$foldEvery" else "") +
      (if (foldEvery > 0 && foldMode == "tail") "t" else "")
    BenchProto.writeArtifact(outDir,
      s"ingest_${nDocs}_b$nBatches$suffix.json", json)
    spark.stop()
  }
}
