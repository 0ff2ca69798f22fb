package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}

/** Recall-vs-cost A/B/C for the PQ dedup family at 1M scale — the
  * measurement behind [[Pq.semanticDedupFlagsPqHybrid]]: does the
  * band-sized ADC refinement recover the SDC probe's measured recall
  * notch (SEMINGEST_PQ_SDC_1m_f10_r17: ~13% of planted near-dups
  * missed at the random-unit-vector worst case) at SDC-class cost?
  *
  * Fixture: the SemIngestBench corpus shape — 900k unique corpus rows,
  * a 100k batch whose EVEN families are planted near-copies of corpus
  * rows (σ-noise, cos ≈ 0.987) and odd families independent uniques,
  * so the exact regime's kept-count splits the batch ~in half and
  * every probe's misses are attributable. All four regimes flag the
  * SAME batch against the SAME corpus at τ(cos 0.95), each through its
  * own calibrated threshold ([[Pq.calibrateTauDist]]); EXACT = the
  * full-vector IVF probe (the reference verdicts). Walls are min-of-3
  * noop-materialized with load1 + calib, per the house protocol.
  *
  * Usage: HybridBench [n=1000000] [outDir] [band=0.15] [band2=0.3]
  */
object HybridBench {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(1000000)
    val outDir = args.lift(1).getOrElse("/tmp/hybrid_bench")
    val band1 = args.lift(2).map(_.toDouble).getOrElse(0.15)
    val band2 = args.lift(3).map(_.toDouble).getOrElse(0.3)
    val dim = 64
    val kCells = math.sqrt(n.toDouble).toInt
    val (m, k) = (8, 256)
    val cosT = 0.95
    val nProbe = 2
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val work = s"$outDir/work"
    val workPath = new org.apache.hadoop.fs.Path(work)
    workPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(workPath, true): Unit

    // SemIngestBench's generator: batch ids ≡ 9 (mod 10); EVEN
    // families are σ-noised copies of base (id/10)·10 (a corpus row),
    // odd families independent uniques
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        if (id % 10 == 9 && (id / 10) % 2 == 0)
          (id, BenchProto.unitVec(dim, (id / 10) * 10, noiseOf = id))
        else (id, BenchProto.unitVec(dim, id))
      }
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/all")
    val all = spark.read.parquet(s"$work/all")
    val corpus = all.filter(col("vec_id") % 10 =!= 9)
    val batch = all.filter(col("vec_id") % 10 === 9)
      .localCheckpoint(true)
    val nBatch = batch.count()

    // √n codebook (strided init + a few Lloyd steps on a sample) —
    // shared by every regime, as is the PQ codebook
    val stride = math.max(1, n / kCells)
    val init = corpus.filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(kCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.kmeansIterate(corpus.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", init, "cid", "cvec", maxIters = 5,
      tol = 1e-4)
      .write.mode("overwrite").parquet(s"$work/codebook")
    val cents = Similarity.Centroids(spark.read.parquet(s"$work/codebook"),
      "cid", "cvec")
    val pqCb = Pq.train(corpus, "vec_id", "embedding", m, k,
      sampleN = 20000, iters = 5)

    Similarity.ivfIndexWrite(corpus, "vec_id", "embedding",
      cents, s"$work/ivf")
    Pq.ivfPqIndexWrite(corpus, "vec_id", "embedding",
      cents, pqCb, s"$work/ivfpq")
    val ivf = spark.read.parquet(s"$work/ivf")
    val ivfpq = spark.read.parquet(s"$work/ivfpq")

    val calSample = corpus.filter(col("vec_id") % 10 === 0)
    val tauA = Pq.calibrateTauDist(calSample, "vec_id", "embedding",
      pqCb, cosT, mode = "adc")
    val tauS = Pq.calibrateTauDist(calSample, "vec_id", "embedding",
      pqCb, cosT, mode = "sdc")

    def flagsOf(kind: String, band: Double) = kind match {
      case "exact" => Similarity.semanticDedupFlags(batch, "vec_id",
        "embedding", ivf, "vec_id", "embedding", cents,
        tau = cosT, nProbe = nProbe, excludeSelf = false)
      case "adc" => Pq.semanticDedupFlagsPq(batch, "vec_id",
        "embedding", ivfpq, "vec_id", cents, pqCb,
        tauDist = tauA, nProbe = nProbe, excludeSelf = false)
      case "sdc" => Pq.semanticDedupFlagsPqSdc(batch, "vec_id",
        "embedding", ivfpq, "vec_id", cents, pqCb,
        tauDist = tauS, nProbe = nProbe, excludeSelf = false)
      case "hybrid" => Pq.semanticDedupFlagsPqHybrid(batch, "vec_id",
        "embedding", ivfpq, "vec_id", cents, pqCb,
        tauSdc = tauS, tauAdc = tauA, band = band, refineK = 4,
        nProbe = nProbe, excludeSelf = false)
    }
    // the exact regime's verdicts = the reference for flag agreement
    val exactKeeps = flagsOf("exact", 0.0)
      .select(col("vec_id"), col("keep")).localCheckpoint(true)
    val keptExact = exactKeeps.filter(col("keep")).count()

    def leg(kind: String, band: Double): String = {
      val timed = BenchProto.timeNoop(flagsOf(kind, band), calib = true)
      val f = flagsOf(kind, band).select(col("vec_id"),
        col("keep").as("_k"))
      val agg = f.join(exactKeeps, Seq("vec_id"))
        .agg(sum(when(col("_k"), 1L).otherwise(0L)),
          sum(when(col("_k") === col("keep"), 1L).otherwise(0L))).head
      val (kept, agree) = (agg.getLong(0), agg.getLong(1))
      println(f"$kind band=$band: ${timed.sec}%.2f s, kept=$kept, " +
        f"flag-agreement with exact $agree/$nBatch")
      f""""${kind}${if (kind == "hybrid") f"_b$band%.2f" else ""}":""" +
        timed.json(s""""kept":$kept""", s""""agree_exact":$agree""")
    }
    val legs = Seq(leg("adc", 0.0), leg("sdc", 0.0),
      leg("hybrid", band1), leg("hybrid", band2))
    val json = f"""{"metric":"hybrid_dedup","n":$n,"batch":$nBatch,""" +
      f""""dim":$dim,"cells":$kCells,"pq_m":$m,"pq_k":$k,""" +
      f""""cos_t":$cosT,"tau_adc":$tauA%.3f,"tau_sdc":$tauS%.3f,""" +
      f""""n_probe":$nProbe,"stat":"min_of_3",""" +
      f""""kept_exact":$keptExact,""" +
      legs.mkString(",") + "}"
    BenchProto.writeArtifact(outDir, s"hybrid_$n.json", json)
    spark.stop()
  }
}
