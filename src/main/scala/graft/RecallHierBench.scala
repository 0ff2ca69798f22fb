package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** END-TO-END recall gate for hierarchical probe-cell selection — the
  * artifact [[graft.ops.Similarity.ivfSearchBatchHier]]'s
  * approximation contract cites: PROBE_10k_r17.json measured probe-SET
  * agreement (97.9–99.7% of flat's (qid, cell) pairs survive the
  * coarse tier), a good proxy but not the user-facing number. This
  * bench runs the FULL search (selection + candidate scan + exact
  * cosine rank) through the hierarchical selector at superProbe ∈
  * {1, 2, 4} and compares recall@10 against (a) the exact all-cells
  * probe (ground truth) and (b) the flat selector at the same nProbe —
  * so the artifact separates the recall the BANDING costs (flat vs
  * exact) from the extra recall the COARSE TIER costs (hier vs flat),
  * per nProbe. The probe-set agreement is recorded alongside each
  * point, tying the proxy to the measurement.
  *
  * Fixture: [[RecallBench]]'s interpolated boundary-straddling corpus
  * (a query's true neighbors spread across cells, so selection quality
  * actually moves recall); codebook = a deterministic `cells`-vector
  * sample of the same family ([[ProbeBench]]'s shortcut — selection
  * geometry needs codebook SHAPE, not k-means optimality, and 8k-cell
  * k-means training would dwarf the measurement). Default 8192 cells
  * over 200k vectors ≈ the per-cell occupancy of a 10⁹-vector corpus
  * at √n cells — the operating point the coarse tier exists for.
  *
  * Usage: RecallHierBench [n=200000] [cells=8192] [nQueries=1000]
  *        [outDir]
  */
object RecallHierBench {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val kCells = args.lift(1).map(_.toInt).getOrElse(8192)
    val nQueries = args.lift(2).map(_.toInt).getOrElse(1000)
    val outDir = args.lift(3).getOrElse("/tmp/recall_hier")
    val dim = 64
    val kTop = 10
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    BenchProto.interpolated(spark, 0L, n, dim)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")
    // codebook: deterministic sample of the family, salted away from
    // both corpus and query ids
    val cbDf = BenchProto.interpolated(spark, 90000000L, 90000000L + kCells,
      dim).select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    cbDf.write.mode("overwrite").parquet(s"$outDir/codebook")
    val cents = Similarity.Centroids(spark.read.parquet(s"$outDir/codebook"),
      "cid", "cvec")

    val t1 = System.nanoTime()
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", cents,
      s"$outDir/ivf")
    val buildSec = (System.nanoTime() - t1) / 1e9
    val index = spark.read.parquet(s"$outDir/ivf")
    val occupied = index.select("cell").distinct().count().toInt
    val queries = emb.filter(col("vec_id") < nQueries)
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qvec"))
      .localCheckpoint(true)

    def topSets(df: => org.apache.spark.sql.DataFrame)
    : (Map[Long, Set[Long]], Double, Double) = {
      def collectOnce() = df.select(col("qid"), col("vec_id"))
        .as[(Long, Long)].collect()
      collectOnce() // warm (file index + codegen)
      val samples = (1 to 3).map { _ =>
        val t = System.nanoTime()
        collectOnce()
        (System.nanoTime() - t) / 1e9
      }
      val rows = collectOnce()
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
        samples.min, BenchProto.load1())
    }
    def recallOf(got: Map[Long, Set[Long]],
        truth: Map[Long, Set[Long]]): Double =
      truth.map { case (qid, ts) =>
        got.getOrElse(qid, Set.empty[Long]).intersect(ts).size.toDouble /
          kTop
      }.sum / truth.size

    val calib = BenchProto.calibSec()
    // ground truth: every cell probed ⇒ the exact cosine top-k
    val (truth, truthSec, _) = topSets(Similarity.ivfSearchBatch(
      queries, "vec_id", "embedding", index, "vec_id", "embedding",
      cents, k = kTop, nProbe = kCells))
    require(truth.size == nQueries &&
      truth.values.forall(_.size == kTop),
      s"degenerate truth: ${truth.size} queries, " +
        s"sizes ${truth.values.map(_.size).toSet}")

    val points = Seq(2, 8).flatMap { np =>
      val (flat, flatSec, flatL) = topSets(Similarity.ivfSearchBatch(
        queries, "vec_id", "embedding", index, "vec_id", "embedding",
        cents, k = kTop, nProbe = np))
      val flatRecall = recallOf(flat, truth)
      val flatLine =
        f"""{"n_probe":$np,"selector":"flat","recall_at_10":$flatRecall%.4f,""" +
          f""""batch_sec":$flatSec%.2f,"load1":$flatL%.2f}"""
      val hierLines = Seq(1, 2, 4).map { sp =>
        val (hier, hierSec, hierL) = topSets(Similarity.ivfSearchBatchHier(
          queries, "vec_id", "embedding", index, "vec_id", "embedding",
          cents, k = kTop, nProbe = np, superProbe = sp))
        val hierRecall = recallOf(hier, truth)
        val vsFlat = recallOf(hier, flat.view.mapValues(identity).toMap)
        // probe-set agreement at this (nProbe, superProbe): the proxy
        // PROBE_10k measured, recorded next to the recall it predicts
        val flatP = Similarity.probeCellsHierarchical(q, cents, np,
          superCells = kCells, superProbe = kCells)
          .withColumnRenamed("cell", "fcell")
        val hierP = Similarity.probeCellsHierarchical(q, cents, np,
          superCells = 0, superProbe = sp)
        val shared = flatP.join(hierP,
          flatP("qid") === hierP("qid") && col("fcell") === col("cell"))
          .agg(count(lit(1))).head.getLong(0)
        val agree = shared.toDouble / (nQueries.toLong * np)
        println(f"nProbe=$np superProbe=$sp: recall $hierRecall%.4f " +
          f"(flat $flatRecall%.4f), agree $agree%.4f, $hierSec%.2f s")
        f"""{"n_probe":$np,"selector":"hier","super_probe":$sp,""" +
          f""""recall_at_10":$hierRecall%.4f,"recall_vs_flat":$vsFlat%.4f,""" +
          f""""probe_agree":$agree%.4f,"batch_sec":$hierSec%.2f,""" +
          f""""load1":$hierL%.2f}"""
      }
      flatLine +: hierLines
    }

    val json =
      f"""{"metric":"recall_hier","n":$n,"dim":$dim,"cells":$kCells,""" +
        f""""occupied_cells":$occupied,"queries":$nQueries,"k":$kTop,""" +
        f""""stat":"min_of_3","calib":$calib%.3f,""" +
        f""""index_build_sec":$buildSec%.1f,"exact_batch_sec":$truthSec%.2f,""" +
        f""""points":[${points.mkString(",")}]}"""
    BenchProto.writeArtifact(outDir, s"recall_hier_$kCells.json", json)
    spark.stop()
  }
}
