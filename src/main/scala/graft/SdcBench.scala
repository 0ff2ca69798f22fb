package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}

/** ADC vs SDC probe cost A/B — the measurement behind
  * [[Pq.ivfPqSearchBatchSdc]]'s regime claim: ADC ships a per-query
  * m·k-double LUT (16 KB at m=8/k=256 — 32× a dim-64 vector; a
  * 10⁴-query batch is a ~160 MB broadcast hash-probed per candidate),
  * SDC ships the m-byte query code plus ONE shared m·k² table. The
  * bench probes the SAME 1M-vector IVF-PQ index with the same query
  * batch through both paths at two batch sizes (small, where ADC's
  * LUT broadcast is cheap; large, the streaming-ingest shape where it
  * is not) and records walls (min-of-3, calib, load1) plus the top-1
  * agreement fraction — the quantization-shape difference the PqSpec
  * lossless-codebook case proves is the ONLY divergence.
  *
  * Usage: SdcBench [n=1000000] [outDir] [bigBatch=10000]
  */
object SdcBench {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(1000000)
    val outDir = args.lift(1).getOrElse("/tmp/sdc_bench")
    val bigBatch = args.lift(2).map(_.toInt).getOrElse(10000)
    val dim = 64
    val (m, k) = (8, 256)
    val kCells = math.sqrt(n.toDouble).toInt
    val nProbe = 2
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val work = s"$outDir/work"
    val workPath = new org.apache.hadoop.fs.Path(work)
    workPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(workPath, true): Unit

    // random unit vectors (SemIngestBench's generator — PQ's worst
    // case, so the agreement number is a floor, not a showcase)
    spark.range(n).as[Long]
      .mapPartitions(_.map(id => (id, BenchProto.unitVec(dim, id))))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/corpus")
    val emb = spark.read.parquet(s"$work/corpus")

    // strided IVF codebook (no Lloyd pass: both probes share it, and
    // the A/B measures probe COST, not cell quality)
    val stride = math.max(1, n / kCells)
    val centroids = Similarity.Centroids(
      emb.filter(col("vec_id") % stride === 0).orderBy("vec_id")
        .limit(kCells), "vec_id", "embedding")
    val cb = Pq.train(emb, "vec_id", "embedding", m, k,
      sampleN = 20000, iters = 5)
    Pq.ivfPqIndexWrite(emb, "vec_id", "embedding", centroids, cb,
      s"$work/ivfpq")
    val index = spark.read.parquet(s"$work/ivfpq")

    def queriesOf(batchN: Int) = spark.range(batchN.toLong).as[Long]
      .mapPartitions(_.map(i =>
        (10000000L + i, BenchProto.unitVec(dim, 7777777L + i))))
      .toDF("vec_id", "embedding").localCheckpoint(true)

    // the ADC leg is the PRODUCTION ADC path at each batch size: the
    // chunked escape self-selects single-shot under maxLutBatch and
    // splits into ceil(|batch|/8192) independent probe passes above it
    // (each with its own stamp check, probe selection, and pruned
    // scan) — exactly the cost SDC's 400×-smaller batch payload
    // removes at corpus-refresh scale
    def probe(kind: String, q: org.apache.spark.sql.DataFrame) =
      if (kind == "adc")
        Pq.ivfPqSearchBatchChunked(q, "vec_id", "embedding", index,
          "vec_id", centroids, cb, k = 1,
          nProbe = nProbe, excludeSelf = false)
      else
        Pq.ivfPqSearchBatchSdc(q, "vec_id", "embedding", index, "vec_id",
          centroids, cb, k = 1, nProbe = nProbe,
          excludeSelf = false)

    val legs = Seq(100, bigBatch, 5 * bigBatch).flatMap { batchN =>
      val q = queriesOf(batchN)
      val calib = BenchProto.calibSec()
      val adc = BenchProto.timeNoop(probe("adc", q))
      val sdc = BenchProto.timeNoop(probe("sdc", q))
      // top-1 agreement: same neighbor id per qid (distributed compare)
      val a = probe("adc", q).select(col("qid"),
        col("vec_id").as("n_adc"))
      val s = probe("sdc", q).select(col("qid"),
        col("vec_id").as("n_sdc"))
      val joined = a.join(s, Seq("qid"), "full")
        .agg(count(lit(1)),
          sum(when(col("n_adc") === col("n_sdc"), 1L).otherwise(0L)))
        .head
      val (tot, agree) = (joined.getLong(0), joined.getLong(1))
      println(f"batch=$batchN: adc ${adc.sec}%.2f s, sdc ${sdc.sec}%.2f s, " +
        f"top1 agreement $agree/$tot")
      Seq(f""""batch$batchN":{"calib":$calib%.3f,""" +
        f""""adc":${adc.json()},"sdc":${sdc.json()},""" +
        f""""top1_agree":$agree,"queries":$tot}""")
    }

    val json = f"""{"metric":"sdc_probe","n":$n,"dim":$dim,"m":$m,""" +
      f""""k":$k,"cells":$kCells,"n_probe":$nProbe,"stat":"min_of_3",""" +
      legs.mkString(",") + "}"
    BenchProto.writeArtifact(outDir, s"sdc_$n.json", json)
    spark.stop()
  }
}
