package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** The exchange-shrink point for the bounded top-k aggregate
  * (TopKByScore) that replaced ivfSearchBatch's k>1 rank window: at a
  * corpus-scale probe the window shuffles EVERY candidate row (batch ×
  * nProbe × cell size) to sort it, the aggregate ships ≤ k hits per
  * (query, map partition). The only honest head-to-head is at the
  * MaxK boundary — k=100 runs the aggregate, k=101 the window, same
  * candidate volume within 1% — so that pair is the headline;
  * a k=10 aggregate point rides along for the regime callers actually
  * run (top-10 ANN), where the bounded buffer's shrink is deepest.
  *
  * Reported per variant: min-of-3 warm walls and the summed
  * ShuffleExchange dataSize of one metered run (the exchanges before
  * the rank stage are identical across variants, so the delta is the
  * rank exchange itself).
  *
  * Fixture: n interpolated unit vectors (seed-pair mixtures, the
  * RecallBench/SemDedupBench shape — spread cosines, deterministic),
  * √n-ish stride-initialized codebook, persisted cell-partitioned
  * index, batchN query vectors with a disjoint id stream.
  *
  * Usage: TopKBench [n=1000000] [batchN=2000] [nProbe=8] [outDir]
  */
object TopKBench {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val n = args.lift(0).map(_.toInt).getOrElse(1000000)
    val batchN = args.lift(1).map(_.toInt).getOrElse(2000)
    val nProbe = args.lift(2).map(_.toInt).getOrElse(8)
    val outDir = args.lift(3).getOrElse("/tmp/topk_bench")
    val dim = 32
    val seeds = 32
    val kCells = math.max(8, math.sqrt(n.toDouble).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-topk-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val seedRnd = new scala.util.Random(7)
    val cents = Array.fill(seeds)(Array.fill(dim)(seedRnd.nextGaussian()))
    val bc = spark.sparkContext.broadcast(cents)
    def interpolated(ids: org.apache.spark.sql.Dataset[java.lang.Long],
        saltBase: Long) =
      ids.as[Long].mapPartitions { it =>
        it.map { id =>
          val r = new scala.util.Random(id * 1000003L + saltBase)
          val a = r.nextInt(seeds)
          val b0 = r.nextInt(seeds)
          val b = if (b0 == a) (b0 + 1) % seeds else b0
          val t = r.nextDouble()
          val raw = Array.tabulate(dim)(j =>
            (1 - t) * bc.value(a)(j) + t * bc.value(b)(j) +
              0.05 * r.nextGaussian())
          val nrm = math.sqrt(raw.map(x => x * x).sum)
          (id, raw.map(_ / nrm).toSeq)
        }
      }.toDF("vec_id", "embedding")

    interpolated(spark.range(n.toLong).as[java.lang.Long], 17L)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")
    val stride = math.max(1, n / kCells)
    val codebook = Similarity.Centroids(
      emb.filter(col("vec_id") % stride === 0).orderBy("vec_id")
        .limit(kCells), "vec_id", "embedding")
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", codebook,
      s"$outDir/ivf")
    val index = spark.read.parquet(s"$outDir/ivf")
    val batch = interpolated(
      spark.range(10000000L, 10000000L + batchN).as[java.lang.Long], 91L)
      .localCheckpoint(true)

    def search(k: Int) = Similarity.ivfSearchBatch(batch, "vec_id",
      "embedding", index, "vec_id", "embedding", codebook,
      k = k, nProbe = nProbe, excludeSelf = false)
    def point(k: Int): (Double, Seq[Double], Long, Long) = {
      search(k).write.format("noop").mode("overwrite").save() // warm
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        search(k).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // metered run: metrics live on THE executed df's QueryExecution,
      // so collect() this one (noop executes through its own QE); AQE
      // is pinned off for the metered run only — its query stages hide
      // ShuffleExchangeExec from a plain plan collect (the timed
      // samples above keep the production default)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (nOut, shuffleBytes) =
        try {
          val metered = search(k)
          val rows = metered.collect().length.toLong
          val bytes = metered.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => e.metrics.get("dataSize")
              .map(_.value).getOrElse(0L)
          }.sum
          (rows, bytes)
        } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      (samples.min, samples, nOut, shuffleBytes)
    }

    val points = Seq(100, 101, 10).map { k =>
      val (minSec, samples, rows, bytes) = point(k)
      val kind = if (k > 100) "window" else "topk_agg"
      println(f"k=$k ($kind): $minSec%.2f s, $rows rows, " +
        f"shuffle ${bytes / 1048576.0}%.1f MiB")
      f""""k$k":{"kind":"$kind","sec":$minSec%.2f,""" +
        f""""samples":${samples.map(s => f"$s%.2f").mkString("[", ",", "]")},""" +
        f""""rows":$rows,"shuffle_mb":${bytes / 1048576.0}%.1f}"""
    }
    val json = f"""{"metric":"topk_exchange","n":$n,"batch":$batchN,""" +
      f""""cells":$kCells,"nprobe":$nProbe,"stat":"min_of_3",""" +
      points.mkString(",") + "}"
    println(json)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir)): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, s"topk_$n.json"),
      (json + "\n").getBytes("UTF-8")): Unit
    spark.stop()
  }
}
