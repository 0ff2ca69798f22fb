package graft

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
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val outDir = args.lift(1).getOrElse("/tmp/assign_bench")
    val dim = 64
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    BenchProto.interpolated(spark, 0L, n, dim)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")

    val lines = Seq(128, 447, 1000, 4000).map { k =>
      val stride = math.max(1, n / k)
      val cb = Similarity.Centroids(emb.filter(col("vec_id") % stride === 0)
        .orderBy("vec_id").limit(k), "vec_id", "embedding")
      val flatSec = BenchProto.timeNoop(Similarity.ivfAssign(
        emb, "vec_id", "embedding", cb), runs = 1).sec
      val hierSec = BenchProto.timeNoop(Similarity.ivfAssignHierarchical(
        emb, "vec_id", "embedding", cb), runs = 1).sec
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
    BenchProto.writeArtifact(outDir, "assign.json",
      s"""{"n":$n,"dim":$dim,"points":[${lines.mkString(",")}]}""")
    spark.stop()
  }
}
