package graft

import org.apache.spark.sql.SparkSession
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
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nQ = args.lift(0).map(_.toInt).getOrElse(10000)
    val outDir = args.lift(1).getOrElse("/tmp/probe_bench")
    val dim = 64
    val seeds = 32
    val nProbe = 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val seedRnd = new scala.util.Random(7)
    val cents0 = Array.fill(seeds)(Array.fill(dim)(seedRnd.nextGaussian()))
    val bc = spark.sparkContext.broadcast(cents0)
    def mkVecs(n: Int, salt: Long) = spark.range(n.toLong).as[Long]
      .mapPartitions { it =>
        it.map { id0 =>
          val id = id0 + salt
          val r = new scala.util.Random(id * 1000003L + 17L)
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
    // queries: salted away from the codebook source ids
    val q = mkVecs(nQ, 50000000L)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qvec"))
      .localCheckpoint(true)

    def point(df: => org.apache.spark.sql.DataFrame)
    : (Double, Seq[(Double, Double)]) = {
      df.write.format("noop").mode("overwrite").save() // warm
      val samples = (1 to 3).map { _ =>
        val l = BenchProto.load1()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, l)
      }
      (samples.map(_._1).min, samples)
    }
    def legJson(sec: Double, ss: Seq[(Double, Double)]) =
      f"""{"sec":$sec%.2f,"samples":${ss.map(x => f"${x._1}%.2f")
        .mkString("[", ",", "]")},"load1":${ss.map(x => f"${x._2}%.2f")
        .mkString("[", ",", "]")}}"""

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
      val (flatSec, flatS) = point(Similarity.probeCellsHierarchical(
        q, cents, nProbe, superCells = k, superProbe = k))
      val (hierSec, hierS) = point(Similarity.probeCellsHierarchical(
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
      println(f"cells=$k: flat $flatSec%.2f s, hier $hierSec%.2f s, " +
        f"probe agreement $shared/$totalP")
      f"""{"cells":$k,"calib":$calib%.3f,""" +
        f""""flat":${legJson(flatSec, flatS)},""" +
        f""""hier":${legJson(hierSec, hierS)},""" +
        f""""probe_agree":$shared,"probe_total":$totalP}"""
    }
    val json = s"""{"metric":"probe_select","queries":$nQ,"dim":$dim,""" +
      s""""n_probe":$nProbe,"stat":"min_of_3",""" +
      s""""points":[${lines.mkString(",")}]}"""
    println(json)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir)): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, s"probe_$nQ.json"),
      (json + "\n").getBytes("UTF-8")): Unit
    spark.stop()
  }
}
