package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Measures IVF assignment cost vs codebook size — the evidence behind
  * [[graft.ops.Similarity.ivfAssignHierarchical]]'s scaladoc: the flat
  * fold is O(|codebook|) sqdists per row, so per-row cost should grow
  * linearly with cells while the two-level form grows ~√cells; the
  * crossover locates where the coarse tier starts paying. Also records
  * the flat-vs-hierarchical cell agreement fraction (the approximation
  * side of the trade: misrouted rows land in a neighboring cell, the
  * recall analog of a smaller nProbe).
  *
  * Corpus: the RecallBench interpolated fixture shape (deterministic
  * per-id RNG, unit-norm, 32 seeds) so codebooks trained at √n have
  * real cluster structure — the operating point of a coarse
  * quantizer. Codebook at size k: a deterministic k-vector sample of
  * the corpus (assignment cost does not depend on codebook quality;
  * agreement is measured against the SAME codebook both ways).
  *
  * Usage: AssignBench [n] [outDir] — one JSON line per codebook size,
  * plus a summary file consumed by SCALE_r11.md.
  */
object AssignBench {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val outDir = args.lift(1).getOrElse("/tmp/assign_bench")
    val dim = 64
    val seeds = 32
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-assign-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val seedRnd = new scala.util.Random(7)
    val cents0 = Array.fill(seeds)(Array.fill(dim)(seedRnd.nextGaussian()))
    val bc = spark.sparkContext.broadcast(cents0)
    val corpus = spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
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
    corpus.write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")

    def timeNoop(df: org.apache.spark.sql.DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val lines = Seq(128, 447, 1000, 4000).map { k =>
      val stride = math.max(1, n / k)
      val cb = Similarity.Centroids(emb.filter(col("vec_id") % stride === 0)
        .orderBy("vec_id").limit(k), "vec_id", "embedding")
      val flatSec = timeNoop(Similarity.ivfAssign(
        emb, "vec_id", "embedding", cb))
      val hierSec = timeNoop(Similarity.ivfAssignHierarchical(
        emb, "vec_id", "embedding", cb))
      val agree = Similarity.ivfAssign(
        emb, "vec_id", "embedding", cb)
        .select(col("vec_id"), col("cell").as("flat_cell"))
        .join(Similarity.ivfAssignHierarchical(
          emb, "vec_id", "embedding", cb)
          .select(col("vec_id"), col("cell").as("hier_cell")), "vec_id")
        .agg(avg(when(col("flat_cell") === col("hier_cell"), 1.0)
          .otherwise(0.0)))
        .collect()(0).getDouble(0)
      val line = f"""{"cells":$k,"flat_sec":$flatSec%.2f,""" +
        f""""hier_sec":$hierSec%.2f,"agreement":$agree%.4f,""" +
        f""""us_per_row_flat":${flatSec * 1e6 / n}%.2f,""" +
        f""""us_per_row_hier":${hierSec * 1e6 / n}%.2f}"""
      println(line)
      line
    }
    val json = s"""{"n":$n,"dim":$dim,"points":[${lines.mkString(",")}]}"""
    println(json)
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/assign.json"), json + "\n"): Unit
    } catch {
      case e: java.io.IOException =>
        System.err.println(
          s"[graft] AssignBench: failed to write $outDir/assign.json ($e)")
    }
    spark.stop()
  }
}
