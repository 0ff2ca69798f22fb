package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}

/** Where the PQ dedup probe's driver finish stops paying — the
  * measurement behind the pair cap in `Pq.flagsOnDriver`: the hybrid
  * flags ([[Pq.semanticDedupFlagsPqHybrid]], refineK 4, nProbe 2) of
  * one batch against one IVF-PQ index, timed in three regimes:
  *
  *  - `driver`: the threshold raised to 10¹² bytes, so the batch, the
  *    slice and the pair cap all fit and the driver scores every pair;
  *  - `distributed`: the threshold at -1 (the distributed plan);
  *  - `default`: the session's own threshold, i.e. whichever of the two
  *    the rule picks.
  *
  * Each shape is `batch:index:cells`. Vectors are dim-64 unit vectors;
  * every even batch row is a σ-noised copy of an index row, so the
  * flags split and the two regimes' answers can be compared (the kept
  * counts must agree). Centroids are `cells` index rows, the PQ
  * codebook (m=8, k=256) is trained once on the first shape's index.
  * `pairs` is the probe's work estimate, batch × nProbe × index/cells.
  * Walls are min-of-3 noop writes after one warm run, with load1.
  *
  * Usage: ProbeFinishBench [shapes=1000:1000:45,...] [outDir]
  */
object ProbeFinishBench {

  def main(args: Array[String]): Unit = {
    val shapes = args.lift(0).getOrElse(
      "1000:1000:45,1000:10000:100,5000:50000:100,5000:100000:20")
      .split(",").map(_.split(":").map(_.toInt)).toSeq
    val outDir = args.lift(1).getOrElse("/tmp/probe_finish_bench")
    val (dim, m, k, nProbe, refineK, band) = (64, 8, 256, 2, 4, 0.15)
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val defaultBudget = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def write(df: org.apache.spark.sql.DataFrame, path: String) = {
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    var codebook: Option[(Pq.Codebook, Double, Double)] = None
    val lines = shapes.map { case Array(nBatch, nIndex, nCells) =>
      val work = s"$outDir/work/$nBatch-$nIndex-$nCells"
      // index ids 0 until nIndex; batch ids from 10⁹, even ones are
      // near-copies of index row (i mod nIndex)
      val index0 = write(spark.range(nIndex).as[Long].map(id =>
        (id, BenchProto.unitVec(dim, id))).toDF("vec_id", "embedding"),
        s"$work/emb")
      val batch = write(spark.range(nBatch).as[Long].map { i =>
        val id = 1000000000L + i
        (id,
          if (i % 2 == 0) BenchProto.unitVec(dim, i % nIndex, noiseOf = id)
          else BenchProto.unitVec(dim, id))
      }.toDF("vec_id", "embedding"), s"$work/batch")
      val (cb, tauSdc, tauAdc) = codebook.getOrElse {
        val cb = Pq.train(index0, "vec_id", "embedding", m, k,
          sampleN = 20000, iters = 5)
        val (a, s) = Pq.calibrateTauDistBoth(index0, "vec_id",
          "embedding", cb, 0.95)
        codebook = Some((cb, s, a))
        (cb, s, a)
      }
      val stride = math.max(1, nIndex / nCells)
      val cents = Similarity.Centroids(write(index0
        .filter(col("vec_id") % stride === 0).orderBy("vec_id")
        .limit(nCells)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        s"$work/cents"), "cid", "cvec")
      Pq.ivfPqIndexWrite(index0, "vec_id", "embedding", cents, cb,
        s"$work/ivfpq")
      val ivfpq = spark.read.parquet(s"$work/ivfpq")
      def flags() = Pq.semanticDedupFlagsPqHybrid(batch, "vec_id",
        "embedding", ivfpq, "vec_id", cents, cb, tauSdc = tauSdc,
        tauAdc = tauAdc, band = band, refineK = refineK, nProbe = nProbe,
        excludeSelf = false)
      def leg(regime: String, threshold: String): (String, Long) = {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        val kept = flags().filter(col("keep")).count()
        val timed = BenchProto.timeNoop(flags())
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          defaultBudget)
        println(f"$nBatch:$nIndex:$nCells $regime: ${timed.sec}%.3f s, " +
          f"kept=$kept")
        (s""""$regime":""" + timed.json(s""""kept":$kept"""), kept)
      }
      val legs = Seq(leg("driver", "1000000000000"),
        leg("distributed", "-1"), leg("default", defaultBudget))
      require(legs.map(_._2).distinct.size == 1,
        s"regimes disagree on kept rows: ${legs.map(_._2)}")
      val pairs = nBatch.toLong * nProbe * nIndex / nCells
      f"""{"batch":$nBatch,"index":$nIndex,"cells":$nCells,""" +
        f""""pairs":$pairs,""" + legs.map(_._1).mkString(",") + "}"
    }
    val json = f"""{"metric":"probe_finish","dim":$dim,"pq_m":$m,""" +
      f""""pq_k":$k,"n_probe":$nProbe,"refine_k":$refineK,""" +
      f""""budget":${spark.sessionState.conf.autoBroadcastJoinThreshold},""" +
      f""""calib":${BenchProto.calibSec()}%.3f,""" +
      f""""stat":"min_of_3","shapes":[${lines.mkString(",")}]}"""
    BenchProto.writeArtifact(outDir, "probe_finish.json", json)
    spark.stop()
  }
}
