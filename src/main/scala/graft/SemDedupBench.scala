package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Semantic-dedup error study at the √n codebook — the dedup analog of
  * the RecallBench recall@10 curve (r10 verdict ask #5): q120's gate
  * fixture runs an 8-cell codebook, so its sf1 cost ratio (×4.5) and
  * its miss behavior say nothing about the sized-codebook operating
  * point. This runs [[Similarity.semanticDedupFlags]] on the
  * RecallBench interpolated corpus with a √n `kmeansIterate` codebook
  * and measures, per (nProbe, τ):
  *
  *  - false-keep rate: batch rows the probe KEEPS whose true best
  *    corpus cosine is ≥ τ (the dedup-side cost of 1−recall@1 — a
  *    missed duplicate enters the corpus);
  *  - false-keep rate among TRUE duplicates only (conditional miss);
  *  - per-batch-row wall cost against the persisted index, warm.
  *
  * Ground truth is the all-cells probe (candidate set = whole corpus ⇒
  * exact best cosine), computed once per batch. The batch interpolates
  * BETWEEN the corpus's seed pairs with a different id stream, so true
  * best-cosines straddle practical τ values instead of clustering at
  * one end.
  *
  * Usage: SemDedupBench [n] [batchN] [outDir]
  */
object SemDedupBench {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val batchN = args.lift(1).map(_.toInt).getOrElse(2000)
    val outDir = args.lift(2).getOrElse("/tmp/semdedup_bench")
    val dim = 64
    val kCells = math.sqrt(n.toDouble).toInt
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    BenchProto.interpolated(spark, 0L, n, dim)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")

    val stride = math.max(1, n / kCells)
    val init = emb.filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(kCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val codebook = Similarity.kmeansIterate(
      emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
      init, "cid", "cvec", maxIters = 8, tol = 1e-4)
    codebook.write.mode("overwrite").parquet(s"$outDir/codebook")
    val cb = Similarity.Centroids(spark.read.parquet(s"$outDir/codebook"),
      "cid", "cvec")
    val nCells = cb.cells.size

    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", cb,
      s"$outDir/ivf")
    val index = spark.read.parquet(s"$outDir/ivf")

    // batch: NEW vectors (id space disjoint; different rng salt so they
    // interpolate different (a,b,t) triples than any corpus id), with
    // per-row noise amplitude swept 0.05 → 0.65 so the true best
    // corpus cosine SPREADS across the τ range — an all-near-copy
    // batch (the corpus-salt fixture) makes every τ degenerate:
    // true_dups = batch and recall@1 ≈ 1 because a near-copy shares
    // its neighbor's cell almost surely
    val batch = BenchProto.interpolated(spark, 1000000L, 1000000L + batchN,
      dim, saltBase = 91L,
      amp = id => 0.05 + 0.6 * ((id % 97).toDouble / 96.0))
      .cache()
    batch.count(): Unit

    def bestCos(nProbe: Int): (Map[Long, Double], Double) = {
      def mk() = Similarity.semanticDedupFlags(
        batch, "vec_id", "embedding", index, "vec_id", "embedding",
        cb, tau = 2.0 /* keep-all: we want cos only */,
        nProbe = nProbe, excludeSelf = false)
      val sec = BenchProto.timeNoop(mk(), runs = 1).sec
      val m = mk().select(col("vec_id"), col("cos_sim")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
      (m, sec)
    }

    val (truth, _) = bestCos(nCells) // all cells ⇒ exact best cosine
    require(truth.size == batchN, s"truth lost rows: ${truth.size}")

    val taus = Seq(0.7, 0.8, 0.9)
    val lines = Seq(1, 2, 4).map { np =>
      val (got, sec) = bestCos(np)
      val tauStats = taus.map { tau =>
        val trueDups = truth.filter(_._2 >= tau).keySet
        val falseKeeps = trueDups.count(id => got(id) < tau)
        val rate = if (trueDups.isEmpty) 0.0
          else falseKeeps.toDouble / trueDups.size
        f""""tau_$tau%.1f":{"true_dups":${trueDups.size},""" +
          f""""false_keeps":$falseKeeps,"miss_rate":$rate%.4f}"""
      }
      println(f"nProbe=$np: ${sec * 1000 / batchN}%.2f ms/row")
      f"""{"nProbe":$np,"batch_sec":$sec%.2f,""" +
        f""""ms_per_batch_row":${sec * 1000 / batchN}%.2f,""" +
        tauStats.mkString(",") + "}"
    }
    val json = s"""{"n":$n,"cells":$nCells,"batch":$batchN,""" +
      s""""points":[${lines.mkString(",")}]}"""
    BenchProto.writeArtifact(outDir, "semdedup.json", json)
    spark.stop()
  }
}
