package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.streaming.IdempotentSink

/** Scale artifact for the streaming SEMANTIC dedup ingest
  * ([[IdempotentSink.semanticIngestByBatch]]) — the embedding twin of
  * [[IngestBench]], recording the same curves for the vec tree: how
  * the per-batch ingest wall and the probe's listed-file count grow
  * with stream age, what the in-stream fold (`foldEvery`) keeps flat,
  * and what the final manual [[IdempotentSink.compactBatches]] pass
  * buys back. The ingest's prior() probe prunes to the batch's probed
  * CELLS, but un-folded each micro-batch adds one file set per touched
  * cell — at 10⁵ batches the per-cell listing is the probe job.
  *
  * Protocol (matches IngestBench): the corpus is MOSTLY-UNIQUE random
  * unit vectors with ~10% planted near-copies of earlier ids (the
  * GrowDocs `unique` philosophy in embedding space — random 64-dim
  * unit vectors are pairwise near-orthogonal, so uniques keep and only
  * the planted copies drop; an interpolated family like SemDedupBench's
  * is WRONG here: at τ=0.95 it dedups the whole corpus away by batch
  * ~22 and the tree stops growing, leaving nothing for the fold to
  * protect — measured, first cut of this bench). Pre-split into
  * `nBatches` arrival dirs once; the codebook is a √n `kmeansIterate`
  * fit on a 10% sample (trained BEFORE the stream starts — the
  * stream's invariant, stamped into the tree by the first batch); each
  * batch runs the exact foreachBatch function the stream binds. After
  * the last batch: a standalone full-tree lookup (min-of-3,
  * noop-materialized) is timed, the vec tree folds (`uptoBatch =
  * nBatches-2` per the replay-safety contract), the same lookup
  * re-times, and post-fold flags are asserted identical (distributed
  * compare).
  *
  * `mode=pq` swaps in [[IdempotentSink.semanticIngestPqByBatch]] — the
  * NO-FULL-VECTOR regime: the grown tree holds (id, pq_code, cell)
  * only, so the artifact's `tree_bytes_*` fields carry the payload
  * contrast this variant exists for (the plain vec tree stores
  * 8·dim = 512 bytes of vector per row; m=8 codes are ~(8·dim)/m× =
  * 64× smaller before parquet encoding) and `fold_sec` shows the fold
  * rewriting codes instead of vectors. tauDist comes from the managed
  * [[graft.ops.Pq.calibrateTauDist]] (boundary-pair measurement on the
  * training sample, mode-matched — the operator that replaced this
  * bench's hand-derived self-distance fold-in); flags are the PQ
  * variant's own (quantization can flip a straddler — the recall/τ
  * study is SemDedupBench's), so the cross-policy comparisons stay
  * within-mode.
  *
  * `probe=sdc` (pq mode only) probes via the symmetric kernel —
  * m-byte query codes + one shared table instead of per-query
  * m·k-double LUTs: the A/B against `probe=adc` at the same n/batches
  * is the ingest-shaped measurement behind the SDC regime claim
  * (SEMINGEST_PQ_SDC artifacts).
  *
  * `probe=hybrid` (pq mode only) probes via
  * [[graft.ops.Pq.semanticDedupFlagsPqHybrid]] — SDC for the whole
  * batch, ADC re-scoring for the straddlers within `band` of τ_sdc:
  * the ingest-shaped measurement of the r17 notch-closer (does the
  * kept-count move from sdc's toward adc/plain's at ~sdc wall).
  *
  * Usage: SemIngestBench [n=200000] [nBatches=50] [outDir]
  *        [foldEvery=0] [foldMode=all|tail] [mode=plain|pq]
  *        [probe=adc|sdc|hybrid] [band=0.3]
  */
object SemIngestBench {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(50)
    val outDir = args.lift(2).getOrElse("/tmp/semingest_bench")
    val foldEvery = args.lift(3).map(_.toInt).getOrElse(0)
    val foldMode = args.lift(4).getOrElse("all")
    val mode = args.lift(5).getOrElse("plain")
    val probe0 = args.lift(6).getOrElse("adc")
    require(foldMode == "all" || foldMode == "tail",
      s"foldMode must be all|tail (got $foldMode)")
    require(mode == "plain" || mode == "pq",
      s"mode must be plain|pq (got $mode)")
    require(probe0 == "adc" || probe0 == "sdc" || probe0 == "hybrid",
      s"probe must be adc|sdc|hybrid (got $probe0)")
    require(mode == "pq" || probe0 == "adc",
      "probe=sdc|hybrid only applies to mode=pq")
    // hybrid band: straddlers within `band` of τ_sdc get ADC-rescored
    // (the HYBRID_1m_r17 operating point reproduced ADC verdicts to
    // 99.98% at band=0.3 on this corpus shape)
    val band = args.lift(7).map(_.toDouble).getOrElse(0.3)
    val dim = 64
    val kCells = math.sqrt(n.toDouble).toInt
    val tau = 0.95
    val nProbe = 2
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val work = s"$outDir/work"
    val workPath = new org.apache.hadoop.fs.Path(work)
    workPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(workPath, true): Unit
    val arrivals = s"$work/arrivals"
    val root = s"$work/idx"
    // the tree the ingest grows (and the fold rewrites): full vectors
    // under plain, (id, pq_code, cell) under pq
    val treeDir = if (mode == "pq") s"$root/code" else s"$root/vec"
    val flagsOut = s"$work/flags"

    // mostly-unique corpus: vec(id) is a pure function — ids ≡ 9 (mod
    // 10) are near-copies (σ=0.02 noise) of base id (id/10)*10, every
    // other id an independent random unit vector. Arrival = id %
    // nBatches puts base and copy 9 batches apart, so the dedup the
    // ingest exists for is CROSS-batch (bases whose id % nBatches ≥
    // nBatches-9 wrap: the copy arrives first and the BASE drops —
    // deterministic either way).
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        if (id % 10 == 9)
          (id, BenchProto.unitVec(dim, (id / 10) * 10, noiseOf = id))
        else (id, BenchProto.unitVec(dim, id))
      }
    }.toDF("vec_id", "embedding")
      // vec_id % nBatches spreads each seed pair's interpolations
      // ACROSS batches so the cross-batch dedup actually happens
      .withColumn("_arr", col("vec_id") % nBatches)
      .write.partitionBy("_arr").mode("overwrite").parquet(arrivals)

    // √n codebook on a 10% sample — trained before the stream starts.
    // Init centroids stride over the FULL id range (striding the
    // sample's own ids intersects the two modular filters and
    // collapses the codebook to n/lcm(10, stride) cells).
    val sample = spark.read.parquet(arrivals)
      .filter(col("vec_id") % 10 === 0)
    val stride = math.max(1, n / kCells)
    val init = spark.read.parquet(arrivals)
      .filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(kCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.kmeansIterate(sample, "vec_id", "embedding",
      init, "cid", "cvec", maxIters = 8, tol = 1e-4)
      .write.mode("overwrite").parquet(s"$work/codebook")
    val cb = spark.read.parquet(s"$work/codebook")
    val cents = Similarity.Centroids(cb, "cid", "cvec")
    val nCells = cents.cells.size
    // PQ codebook trained on the same pre-stream sample (m=8 over
    // dim=64 → 8-double subspaces, k=256 — the documented standard
    // point, 64× raw payload shrink)
    val (pqM, pqK) = (8, 256)
    lazy val pqCb = graft.ops.Pq.train(
      spark.read.parquet(arrivals).filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", m = pqM, k = pqK, sampleN = 20000, iters = 5)
    // τ CALIBRATION — the step a PQ-thresholded dedup cannot skip: on
    // random unit vectors (PQ's worst case) the quantization bias
    // (~0.25–0.33 here) dwarfs the raw cosine threshold (2−2·0.95 =
    // 0.1): uncalibrated, every planted near-copy ranks past tauDist
    // and NOTHING dedups (measured, first cut of the pq mode). Since
    // r17 this is the managed operator — mode-matched boundary-pair
    // measurement on the training sample — instead of the
    // self-distance fold-in this bench used to hand-derive (which is
    // ~right for ADC but over-corrects SDC: straddler pairs share
    // codes; see calibrateTauDist's scaladoc).
    def calibTau(m: String): Double = graft.ops.Pq.calibrateTauDist(
      spark.read.parquet(arrivals).filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", pqCb, cosThreshold = tau, mode = m,
      sampleN = 20000)
    // hybrid's primary threshold is the SDC one (the whole batch's
    // cheap pass); its refinement threshold is the ADC one
    lazy val tauDist = calibTau(if (probe0 == "adc") "adc" else "sdc")
    lazy val tauAdcH = calibTau("adc")
    // recorded alongside: how far calibration moved τ off the raw map
    lazy val tauMargin = tauDist - (2.0 - 2.0 * tau)

    def parquetFiles(path: String): Long =
      BenchProto.filesUnder(path, ".parquet").size.toLong
    def parquetBytes(path: String): Long =
      BenchProto.filesUnder(path, ".parquet").map(_.length).sum

    val ingest: (org.apache.spark.sql.DataFrame, Long) => Unit =
      if (mode == "pq")
        IdempotentSink.semanticIngestPqByBatch(
          root, flagsOut, "vec_id", "embedding", cb, "cid", "cvec",
          pqCb, tauDist = tauDist, nProbe = nProbe,
          foldEvery = foldEvery, foldTail = foldMode == "tail",
          probeMode = probe0,
          tauAdc = if (probe0 == "hybrid") tauAdcH else Double.NaN,
          band = if (probe0 == "hybrid") band else Double.NaN) _
      else
        IdempotentSink.semanticIngestByBatch(
          root, flagsOut, "vec_id", "embedding", cb, "cid", "cvec",
          tau = tau, nProbe = nProbe, foldEvery = foldEvery,
          foldTail = foldMode == "tail") _
    val walls = new scala.collection.mutable.ArrayBuffer[Double](nBatches)
    val checkpoints = scala.collection.mutable.ListBuffer[(Int, Double,
      Long)]()
    val every = math.max(1, nBatches / 10)
    for (b <- 0 until nBatches) {
      val batch = spark.read.parquet(s"$arrivals/_arr=$b")
      val t0 = System.nanoTime()
      ingest(batch, b.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      walls += sec
      if ((b + 1) % every == 0 || b == nBatches - 1) {
        val files = parquetFiles(treeDir)
        checkpoints += ((b, sec, files))
        println(f"batch $b: $sec%.2f s, tree_files=$files")
      }
    }

    // standalone full-tree lookup: the ingest's prior() + flag
    // computation, no writes — the read path the fold protects. Bound
    // derived from the tree (max _batch + 1), never a CLI arg.
    val probe = spark.read.parquet(s"$arrivals/_arr=0")
    val lookupBound: Long = {
      val ids = Option(new java.io.File(treeDir).listFiles()).toSeq
        .flatten.filter(f => f.isDirectory &&
          f.getName.startsWith("_batch="))
        .map(_.getName.stripPrefix("_batch=").toLong)
      require(ids.nonEmpty, s"no _batch= subtrees under $treeDir")
      ids.max + 1
    }
    def prior() = spark.read.parquet(treeDir)
      .filter(col("_batch").cast("long") < lookupBound).drop("_batch")
    def lookupFlags() =
      if (mode == "pq" && probe0 == "hybrid")
        graft.ops.Pq.semanticDedupFlagsPqHybrid(
          probe, "vec_id", "embedding", prior(), "vec_id",
          cents, pqCb, tauSdc = tauDist, tauAdc = tauAdcH,
          band = band, refineK = 4, nProbe = nProbe,
          excludeSelf = true)
      else if (mode == "pq" && probe0 == "sdc")
        graft.ops.Pq.semanticDedupFlagsPqSdc(
          probe, "vec_id", "embedding", prior(), "vec_id",
          cents, pqCb, tauDist = tauDist, nProbe = nProbe,
          excludeSelf = true)
      else if (mode == "pq")
        graft.ops.Pq.semanticDedupFlagsPq(
          probe, "vec_id", "embedding", prior(), "vec_id",
          cents, pqCb, tauDist = tauDist, nProbe = nProbe,
          excludeSelf = true)
      else Similarity.semanticDedupFlags(
        probe, "vec_id", "embedding", prior(), "vec_id", "embedding",
        cents, tau = tau, nProbe = nProbe,
        excludeSelf = true)
    def lookupSamples(): Seq[Double] =
      BenchProto.timeNoop(lookupFlags()).samples
    def samplesJson(xs: Seq[Double]): String =
      xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    val filesPre = parquetFiles(treeDir)
    val bytesPre = parquetBytes(treeDir)
    val lookupPreSamples = lookupSamples()
    val preFlags = lookupFlags().localCheckpoint(true)

    // final manual fold: latest committed batch stays unfolded
    val tFold0 = System.nanoTime()
    val folded = IdempotentSink.compactBatches(spark, treeDir, "cell",
      nBatches.toLong - 2)
    val foldSec = (System.nanoTime() - tFold0) / 1e9
    val filesPost = parquetFiles(treeDir)
    val bytesPost = parquetBytes(treeDir)
    val lookupPostSamples = lookupSamples()
    val postFlags = lookupFlags()
    require(preFlags.exceptAll(postFlags).isEmpty &&
      postFlags.exceptAll(preFlags).isEmpty,
      "fold changed the lookup's flags")
    preFlags.unpersist()

    val dupStats = spark.read.parquet(flagsOut)
      .agg(count(lit(1)), sum(col("keep").cast("long"))).head
    val ckJson = checkpoints.map { case (b, sec, files) =>
      f"""{"batch":$b,"sec":$sec%.2f,"vec_files":$files}"""
    }.mkString("[", ",", "]")
    def meanOf(xs: Seq[Double]) = xs.sum / math.max(1, xs.size)
    val pqJson = if (mode == "pq")
      f""""pq_m":$pqM,"pq_k":$pqK,"probe":"$probe0",""" +
        f""""tau_dist":$tauDist%.3f,"tau_margin":$tauMargin%.3f,""" +
        (if (probe0 == "hybrid")
          f""""tau_adc":$tauAdcH%.3f,"band":$band%.2f,""" else "")
    else ""
    val json =
      f"""{"metric":"semingest_stream","docs":$n,"batches":$nBatches,""" +
        f""""stat":"min_of_3","dim":$dim,"cells":$nCells,"tau":$tau,""" +
        f""""mode":"$mode",$pqJson""" +
        f""""n_probe":$nProbe,"fold_every":$foldEvery,""" +
        f""""fold_mode":"$foldMode","lookup_bound":$lookupBound,""" +
        f""""flagged_rows":${dupStats.getLong(0)},""" +
        f""""kept_rows":${dupStats.getLong(1)},""" +
        f""""wall_first10_mean":${meanOf(walls.take(10).toSeq)}%.2f,""" +
        f""""wall_last10_mean":${meanOf(walls.takeRight(10).toSeq)}%.2f,""" +
        f""""checkpoints":$ckJson,""" +
        f""""files_pre":$filesPre,"files_post":$filesPost,""" +
        f""""tree_mb_pre":${bytesPre / 1048576.0}%.1f,""" +
        f""""tree_mb_post":${bytesPost / 1048576.0}%.1f,""" +
        f""""folded":${folded.size},"fold_sec":$foldSec%.2f,""" +
        f""""lookup_pre_samples":${samplesJson(lookupPreSamples)},""" +
        f""""lookup_post_samples":${samplesJson(lookupPostSamples)},""" +
        f""""lookup_pre_sec":${lookupPreSamples.min}%.2f,""" +
        f""""lookup_post_sec":${lookupPostSamples.min}%.2f}"""
    val suffix = (if (foldEvery > 0) s"_f$foldEvery" else "") +
      (if (foldEvery > 0 && foldMode == "tail") "t" else "") +
      (if (mode == "pq") "_pq" else "") +
      (if (mode == "pq" && probe0 != "adc") s"_$probe0" else "")
    BenchProto.writeArtifact(outDir,
      s"semingest_${n}_b$nBatches$suffix.json", json)
    spark.stop()
  }
}
