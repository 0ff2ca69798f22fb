package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** ANN recall study — makes the IVF index's central quality knob
  * (nProbe vs recall) produce a real number instead of the 1.0 the
  * clustered bench fixture yields by construction (SCALE_r09.md §5:
  * every derived vector sits in exactly one cell's orbit, so the
  * trade-off was asserted, never measured).
  *
  * Fixture: `n` unit-normalized vectors interpolated between random
  * PAIRS of seed centroids (`v = (1−t)·c_a + t·c_b + ε`, t ~ U(0,1)) —
  * a query's true neighbors spread along the segment, so a fine
  * codebook cuts its neighborhood across cells and nProbe=1 must
  * miss some of the true top-10. Deterministic: every vector is a pure
  * function of its id (seeded per-row RNG), so reruns measure the same
  * corpus.
  *
  * Codebook: √n cells (the standard IVF sizing the scaledocs cite —
  * ~447 at 200k, vs the 8-cell bench fixture codebook), trained with
  * [[Similarity.kmeansIterate]] on a deterministic 10% sample (training
  * on a sample is the standard codebook practice; assignment of the
  * full corpus happens exactly once, at index build).
  *
  * Ground truth: [[Similarity.ivfSearchBatch]] probing ALL cells —
  * with every cell probed the candidate set is the whole corpus, so
  * the "probe" IS the exact cosine top-k; recall@10 at nProbe ∈
  * {1,2,4,8} is measured against it, along with per-query batch cost
  * on the reloaded cell-partitioned index. Unit-norm vectors make the
  * L2 cell assignment and the cosine ranking metric agree (monotone on
  * the sphere), so measured recall isolates the banding geometry, not
  * a metric mismatch.
  *
  * Usage: RecallBench [n] [outDir] — prints one JSON line (recall +
  * ms/query per nProbe) consumed by SCALE_r10.md.
  */
object RecallBench {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val outDir = args.lift(1).getOrElse("/tmp/recall_ivf")
    val dim = 64
    val seeds = 32
    val kCells = math.sqrt(n.toDouble).toInt // √n sizing
    val kTop = 10
    val nQueries = 100
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // --- fixture: boundary-straddling interpolated corpus ------------
    BenchProto.interpolated(spark, 0L, n, dim, seeds)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")

    // --- √n codebook: kmeansIterate on a 10% sample -------------------
    val stride = math.max(1, n / kCells)
    val init = emb.filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(kCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val t0 = System.nanoTime()
    val codebook = Similarity.kmeansIterate(
      emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
      init, "cid", "cvec", maxIters = 8, tol = 1e-4)
    codebook.write.mode("overwrite").parquet(s"$outDir/codebook")
    val kmeansSec = (System.nanoTime() - t0) / 1e9
    val cb = Similarity.Centroids(spark.read.parquet(s"$outDir/codebook"),
      "cid", "cvec")
    val nCells = cb.cells.size

    // --- persisted index ----------------------------------------------
    val t1 = System.nanoTime()
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", cb,
      s"$outDir/ivf")
    val buildSec = (System.nanoTime() - t1) / 1e9
    val index = spark.read.parquet(s"$outDir/ivf")
    val occupied = index.select("cell").distinct().count().toInt
    val queries = emb.filter(col("vec_id") < nQueries)

    def topSets(nProbe: Int): (Map[Long, Set[Long]], Double) = {
      val t = System.nanoTime()
      val rows = Similarity.ivfSearchBatch(queries, "vec_id", "embedding",
        index, "vec_id", "embedding", cb,
        k = kTop, nProbe = nProbe)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      val sec = (System.nanoTime() - t) / 1e9
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap, sec)
    }

    // ground truth: probe every cell ⇒ exact cosine top-k. Warmed like
    // every nProbe point (discarded first run) so exact_batch_sec is
    // comparable — timing it cold overstated the exact scan's cost in
    // the published exact-vs-probe ratios.
    topSets(nCells)
    val (truth, truthSec) = topSets(nCells)
    require(truth.size == nQueries && truth.values.forall(_.size == kTop),
      s"degenerate truth: ${truth.size} queries, " +
        s"sizes ${truth.values.map(_.size).toSet}")

    val probeRows = Seq(1, 2, 4, 8).map { np =>
      topSets(np) // warm-up (file index + codegen)
      val (got, sec) = topSets(np)
      val recall = truth.map { case (q, ts) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ts).size.toDouble / kTop
      }.sum / truth.size
      (np, recall, sec)
    }

    val rowsJson = probeRows.map { case (np, r, sec) =>
      f"""{"nProbe":$np,"recall_at_10":$r%.4f,"batch_sec":$sec%.3f,"ms_per_query":${sec * 1000 / nQueries}%.1f}"""
    }.mkString("[", ",", "]")
    val json =
      f"""{"n":$n,"dim":$dim,"seeds":$seeds,"cells":$nCells,"occupied_cells":$occupied,"queries":$nQueries,"k":$kTop,"kmeans_sec":$kmeansSec%.1f,"index_build_sec":$buildSec%.1f,"exact_batch_sec":$truthSec%.3f,"probes":$rowsJson}"""
    BenchProto.writeArtifact(outDir, "recall.json", json)
    spark.stop()
  }
}
