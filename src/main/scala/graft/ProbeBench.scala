package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Measures batch PROBE-CELL SELECTION cost vs codebook size — the
  * probe-side companion of [[AssignBench]] and the evidence behind
  * [[graft.ops.Similarity.ivfSearchBatchHier]]'s scaladoc: flat
  * selection explodes |batch| × |codebook| distance rows (bounded-agg,
  * no shuffle — but the sqdists ARE the compute at a 10⁹-vector
  * corpus's √n ≈ 3×10⁴ cells), the coarse-then-fine form computes
  * O(s + superProbe·k/s) distances per query. Also records the
  * probe-set agreement fraction (the approximation side: a missed
  * group shifts recall the way a smaller nProbe would).
  *
  * Only the SELECTION stage is timed (noop-materialized (qid, cell)
  * frames) — the candidate scan/score/rank tail is identical under
  * both selectors by construction (spec'd in SimilaritySpec), so
  * including it would only dilute the measured contrast. House
  * protocol: min-of-3 samples, per-sample load1, calib sentinel.
  *
  * Corpus/queries: AssignBench's interpolated fixture (structured
  * groups — the shape a k-means codebook has and the coarse tier
  * needs). Usage: ProbeBench [nQueries=10000] [outDir]
  */
object ProbeBench {

  def main(args: Array[String]): Unit = {
    val nQ = args.lift(0).map(_.toInt).getOrElse(10000)
    val outDir = args.lift(1).getOrElse("/tmp/probe_bench")
    val dim = 64
    val nProbe = 2
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    def mkVecs(n: Int, salt: Long) =
      BenchProto.interpolated(spark, salt, salt + n, dim)
    // queries: salted away from the codebook source ids
    val q = mkVecs(nQ, 50000000L)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qvec"))
      .localCheckpoint(true)

    // 32000 ≈ the √n operating point of a 10⁹-vector corpus — the
    // scale the coarse tier exists for; 1000 ≈ today's 1M-corpus point
    val lines = Seq(1000, 4000, 8000, 32000).map { k =>
      // codebook: a deterministic k-vector sample of the fixture
      // family (selection cost does not depend on codebook quality;
      // agreement is measured against the SAME codebook both ways)
      val cents = Similarity.Centroids(mkVecs(k, 0L), "vec_id", "embedding")
      val calib = BenchProto.calibSec()
      // flat leg = the degenerate superProbe ≥ superCells > 2 path:
      // the literal whole-codebook explode ivfSearchBatch runs
      val flat = BenchProto.timeNoop(Similarity.probeCellsHierarchical(
        q, cents, nProbe, superCells = k, superProbe = k))
      val hier = BenchProto.timeNoop(Similarity.probeCellsHierarchical(
        q, cents, nProbe, superCells = 0, superProbe = 2))
      // probe-set agreement: shared (qid, cell) pairs / flat pairs
      val flatP = Similarity.probeCellsHierarchical(
        q, cents, nProbe, superCells = k, superProbe = k)
        .withColumnRenamed("cell", "fcell")
      val hierP = Similarity.probeCellsHierarchical(
        q, cents, nProbe, superCells = 0, superProbe = 2)
      val row = flatP.join(hierP,
        flatP("qid") === hierP("qid") && col("fcell") === col("cell"))
        .agg(count(lit(1))).head
      val shared = row.getLong(0)
      val totalP = nQ.toLong * nProbe
      println(f"cells=$k: flat ${flat.sec}%.2f s, hier ${hier.sec}%.2f s, " +
        f"probe agreement $shared/$totalP")
      f"""{"cells":$k,"calib":$calib%.3f,""" +
        f""""flat":${flat.json()},"hier":${hier.json()},""" +
        f""""probe_agree":$shared,"probe_total":$totalP}"""
    }
    val json = s"""{"metric":"probe_select","queries":$nQ,"dim":$dim,""" +
      s""""n_probe":$nProbe,"stat":"min_of_3",""" +
      s""""points":[${lines.mkString(",")}]}"""
    BenchProto.writeArtifact(outDir, s"probe_$nQ.json", json)
    spark.stop()
  }
}
