package graft

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
    val n = args.lift(0).map(_.toInt).getOrElse(1000000)
    val batchN = args.lift(1).map(_.toInt).getOrElse(2000)
    val nProbe = args.lift(2).map(_.toInt).getOrElse(8)
    val outDir = args.lift(3).getOrElse("/tmp/topk_bench")
    val dim = 32
    val kCells = math.max(8, math.sqrt(n.toDouble).toInt)
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    BenchProto.interpolated(spark, 0L, n, dim)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")
    val stride = math.max(1, n / kCells)
    val codebook = Similarity.Centroids(
      emb.filter(col("vec_id") % stride === 0).orderBy("vec_id")
        .limit(kCells), "vec_id", "embedding")
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", codebook,
      s"$outDir/ivf")
    val index = spark.read.parquet(s"$outDir/ivf")
    val batch = BenchProto.interpolated(spark, 10000000L,
      10000000L + batchN, dim, saltBase = 91L).localCheckpoint(true)

    def search(k: Int) = Similarity.ivfSearchBatch(batch, "vec_id",
      "embedding", index, "vec_id", "embedding", codebook,
      k = k, nProbe = nProbe, excludeSelf = false)
    val points = Seq(100, 101, 10).map { k =>
      // the timed samples keep the production AQE default; the metered
      // run pins it off
      val samples = BenchProto.timeNoop(search(k)).samples
      val minSec = samples.min
      val (rows, bytes) = BenchProto.meteredShuffle(spark, search(k))
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
    BenchProto.writeArtifact(outDir, s"topk_$n.json", json)
    spark.stop()
  }
}
