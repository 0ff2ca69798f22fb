package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.io.StampedLayout
import graft.ops.Similarity.Centroids

/** Product quantization — the MEMORY tier of the ANN family
  * (reference similarity surface `hebrew_alignment_tool.py:351`
  * generalized to corpus scale; the cell/partition tier is
  * [[Similarity]]'s IVF, the code tier is this).
  *
  * Why it exists at 100 TB: an IVF index still stores the full vector
  * per row (d=64 doubles = 512 bytes). At 10⁹ vectors that is ~0.5 TB
  * of embedding payload the probe scan reads; a PQ code is `m` bytes
  * (m=8: 64× less), so the probed cells' scan becomes almost free and
  * a whole-corpus brute rescore stays I/O-bounded at ~m·n bytes.
  * Search uses asymmetric distance computation (ADC): queries stay
  * exact, candidates cost m table lookups each — no per-candidate
  * vector arithmetic. The decode-free layout trades a bounded
  * quantization error, measured in PQ_*_r11.json / SCALE_r11.
  *
  * The kernels ([[graft.functions.PqKernels]]) are native codegen
  * expressions; the flat-codebook layout convention is documented
  * there. Codebooks are driver-sized plan literals (m·k·dsub doubles —
  * m=8,k=256,d=64 ⇒ 128 KB, the same torrent-broadcast footprint class
  * as the IVF codebook literal).
  */
object Pq {

  /** A trained PQ codebook: `flat` is subspace-major
    * (codebook[(j·k + c)·dsub + t]), split into `m` subspaces of `k`
    * sub-centroids each.
    */
  case class Codebook(flat: IndexedSeq[Double], m: Int, k: Int) {
    require(m > 0 && k > 0 && flat.nonEmpty && flat.length % (m * k) == 0,
      s"PQ codebook: ${flat.length} doubles is not m·k·dsub for m=$m k=$k")
    def dsub: Int = flat.length / (m * k)
    def dim: Int = m * dsub

    /** Identity stamp, the PQ analog of the IVF codebook stamp: probing
      * codes encoded under a different codebook silently returns wrong
      * neighbors, so persisted layouts carry (and verify) this.
      */
    def stamp: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      flat.foreach(x => md.update(String.format(java.util.Locale.ROOT,
        "%.9e,", Double.box(x)).getBytes("UTF-8")))
      s"pq$m/$k/" + md.digest().map("%02x".format(_)).mkString.take(12)
    }
  }

  /** Train per-subspace codebooks with driver-side Lloyd iterations
    * over a DETERMINISTIC bounded sample (the first `sampleN` rows by
    * `idCol` — a TakeOrdered, k·log n work, no full sort). Driver-side
    * on a sample is the standard PQ training regime (codebooks
    * generalize from ~10⁴–10⁵ points; the corpus-scale passes are
    * encode and search, not training) and keeps this collect in the
    * same bounded class as the IVF codebook's [[Similarity.Centroids]].
    *
    * Deterministic: strided init over the sample order, strict-<
    * argmin (ties to the lower index), empty clusters keep their
    * previous mean — same rules as the IVF codebook builder.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      sampleN: Int = 20000, iters: Int = 10): Codebook = {
    val rows = emb.orderBy(col(idCol))
      .select(col(vecCol).cast("array<double>"))
      .limit(sampleN).collect()
    require(rows.nonEmpty, "Pq.train: empty training sample")
    val dim = rows(0).getSeq[Double](0).length
    require(dim % m == 0, s"Pq.train: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val pts = rows.map(_.getSeq[Double](0).toArray)
    val flat = new Array[Double](m * k * dsub)
    var j = 0
    while (j < m) {
      val off = j * dsub
      val n = pts.length
      // strided init over sample order
      val means = Array.ofDim[Double](k, dsub)
      val stride = math.max(1, n / k)
      var c = 0
      while (c < k) {
        val src = pts(math.min(c * stride, n - 1))
        System.arraycopy(src, off, means(c), 0, dsub)
        c += 1
      }
      val assign = new Array[Int](n)
      var it = 0
      while (it < iters) {
        var i = 0
        while (i < n) {
          var best = -1; var bestD = Double.MaxValue
          var cc = 0
          while (cc < k) {
            var s = 0.0; var t = 0
            while (t < dsub) {
              val d0 = pts(i)(off + t) - means(cc)(t); s += d0 * d0; t += 1
            }
            if (s < bestD) { bestD = s; best = cc }
            cc += 1
          }
          assign(i) = best
          i += 1
        }
        val sums = Array.ofDim[Double](k, dsub)
        val counts = new Array[Int](k)
        i = 0
        while (i < n) {
          val a = assign(i); counts(a) += 1
          var t = 0
          while (t < dsub) { sums(a)(t) += pts(i)(off + t); t += 1 }
          i += 1
        }
        var cc = 0
        while (cc < k) {
          if (counts(cc) > 0) {
            var t = 0
            while (t < dsub) {
              means(cc)(t) = sums(cc)(t) / counts(cc); t += 1
            }
          } // empty cluster keeps its previous mean
          cc += 1
        }
        it += 1
      }
      c = 0
      while (c < k) {
        System.arraycopy(means(c), 0, flat, (j * k + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    Codebook(flat.toIndexedSeq, m, k)
  }

  private def cbLit(cb: Codebook): Column = typedLit(cb.flat)

  /** τ-CALIBRATION as an operator — the executable form of the recipe
    * every PQ-thresholded dedup docstring points at, which until r17
    * lived only in bench code (SemIngestBench) and had to be re-derived
    * from artifacts by every caller. Returns the DISTANCE threshold to
    * pass as `tauDist` to [[semanticDedupFlagsPq]] (mode "adc") /
    * [[semanticDedupFlagsPqSdc]] (mode "sdc") so the flags match an
    * exact-cosine dedup at `cosThreshold` as closely as the
    * quantization allows.
    *
    * METHOD — measured BOUNDARY PAIRS, not a bias formula: for each
    * sample vector x a partner x' is synthesized at EXACTLY
    * cos(x, x') = cosThreshold (rotate x toward a deterministic
    * orthogonal direction — the Gram-Schmidt residual of x's
    * coordinate rotation — by arccos(cosThreshold), same norm), and τ
    * is the mean probe-distance the chosen kernel actually reports for
    * those pairs: ADC scores pq_adc(lut(x), encode(x')), SDC scores
    * the shared-table code pair. That is the decision boundary by
    * construction — whatever lands below it is closer than the
    * threshold pair, in the metric the dedup will really use.
    *
    * Why not the self-distance bias fold-in (τ₀ + E‖x−c(x)‖², the r16
    * bench recipe; τ₀ = 2 − 2·cosThreshold for near-unit vectors)? It
    * models quantization error as orthogonal AND independent across
    * the pair. For ADC that holds well (the candidate is the only
    * quantized side) and the boundary measurement reproduces ~τ₀+bias.
    * For SDC it fails in exactly the regime dedup cares about:
    * STRADDLER pairs are near-identical, their sub-vectors mostly
    * quantize to the SAME codes, the two errors correlate, and the
    * code-to-code distance collapses far below the "both biases" model
    * — the ×2 fold-in over-dedups massively (measured in PqSpec's
    * seeded case: τ₀+2·bias kept 110 where the exact regime kept 200;
    * the boundary-measured τ recovers the exact count on both modes).
    * Error correlation is a property of the pair geometry; only
    * measuring AT the boundary captures it.
    *
    * The sample must be codebook-representative (the natural choice is
    * the codebook's own training sample); it is bounded to the first
    * `sampleN` rows by `idCol` — deterministic TakeOrdered collect,
    * the same driver-bounded class as [[train]]'s sample (the partner
    * construction is per-row arithmetic; scoring runs distributed
    * through the kernels). Zero-norm vectors and vectors with no
    * orthogonal residual (constant vectors) are skipped; null scores
    * (corrupt rows, per the kernel null contract) are excluded from
    * the mean.
    *
    * Spec'd in PqSpec: a LOSSLESS codebook (every sub-vector its own
    * sub-centroid) reproduces the pure cos→L2 map exactly — τ =
    * 2 − 2·cosThreshold for unit vectors — and on a seeded near-dup
    * corpus the calibrated τ recovers the exact-regime kept-count in
    * BOTH modes (the agreement class the r16 ingest artifact measured
    * at 1M rows).
    */
  def calibrateTauDist(sample: DataFrame, idCol: String, vecCol: String,
      cb: Codebook, cosThreshold: Double, mode: String = "adc",
      sampleN: Int = 20000): Double = {
    require(mode == "adc" || mode == "sdc",
      s"""calibrateTauDist: mode must be "adc" or "sdc" (got "$mode")""")
    val (adc, sdc) = calibrateTauDists(sample, idCol, vecCol, cb,
      cosThreshold, sampleN, wantAdc = mode == "adc",
      wantSdc = mode == "sdc")
    if (mode == "adc") adc else sdc
  }

  /** BOTH modes' τ from ONE sample collect and ONE boundary-score pass
    * — the hybrid callers' form ([[semanticDedupFlagsPqHybrid]] needs
    * τ_sdc AND τ_adc over the same calibration sample; two
    * [[calibrateTauDist]] calls pay the TakeOrdered collect, the
    * partner synthesis, and the distributed scoring job twice for
    * byte-identical inputs). Each τ is exactly what the single-mode
    * call returns: same sample order, same pair construction, same
    * kernel expressions — the two means just share one aggregate.
    * Returns (τ_adc, τ_sdc).
    */
  def calibrateTauDistBoth(sample: DataFrame, idCol: String,
      vecCol: String, cb: Codebook, cosThreshold: Double,
      sampleN: Int = 20000): (Double, Double) =
    calibrateTauDists(sample, idCol, vecCol, cb, cosThreshold, sampleN,
      wantAdc = true, wantSdc = true)

  private def calibrateTauDists(sample: DataFrame, idCol: String,
      vecCol: String, cb: Codebook, cosThreshold: Double, sampleN: Int,
      wantAdc: Boolean, wantSdc: Boolean): (Double, Double) = {
    require(sampleN > 0, "calibrateTauDist: sampleN must be positive")
    require(cosThreshold > -1.0 && cosThreshold <= 1.0,
      s"calibrateTauDist: cosThreshold must be in (-1, 1] " +
        s"(got $cosThreshold)")
    val spark = sample.sparkSession
    val rows = sample.orderBy(col(idCol))
      .select(col(vecCol).cast("array<double>"))
      .limit(sampleN).collect()
      .flatMap(r => Option(r.getSeq[Double](0)))
      .filter(v => v.forall(x => !x.isNaN))
    require(rows.nonEmpty, "calibrateTauDist: empty calibration sample")
    val cosT = cosThreshold
    val sinT = math.sqrt(math.max(0.0, 1.0 - cosT * cosT))
    def norm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    val pairs = rows.toSeq.flatMap { x =>
      val n = norm(x)
      if (n < 1e-12) None
      else {
        val xh = x.map(_ / n)
        // deterministic direction "unrelated" to x: its own coordinate
        // rotation, Gram-Schmidt'ed orthogonal to x
        val shifted = xh.last +: xh.init
        val proj = shifted.zip(xh).map { case (s, h) => s * h }.sum
        val resid = shifted.zip(xh).map { case (s, h) => s - proj * h }
        val rn = norm(resid)
        if (rn < 1e-9) None // constant vector: no orthogonal residual
        else {
          val u = resid.map(_ / rn)
          // same-norm partner at exactly cos = cosT
          Some((x, xh.zip(u).map { case (h, uu) =>
            n * (cosT * h + sinT * uu) }))
        }
      }
    }
    require(pairs.nonEmpty,
      "calibrateTauDist: no usable vectors in the sample (all " +
        "zero-norm or constant) — cannot calibrate a threshold")
    import spark.implicits._
    val df = pairs.toDF("x", "xp")
    val cbCol = cbLit(cb)
    val adcScore = GraftFunctions.pq_adc(
      GraftFunctions.pq_lut(col("x"), cbCol, cb.m, cb.k),
      GraftFunctions.pq_encode(col("xp"), cbCol, cb.m, cb.k))
    def sdcScore = GraftFunctions.pq_sdc(
      GraftFunctions.pq_encode(col("x"), cbCol, cb.m, cb.k),
      GraftFunctions.pq_encode(col("xp"), cbCol, cb.m, cb.k),
      sdcTable(cb), cb.k)
    val scores = (if (wantAdc) Seq(adcScore.as("_adc")) else Seq.empty) ++
      (if (wantSdc) Seq(sdcScore.as("_sdc")) else Seq.empty)
    // every requested mode's boundary mean in ONE distributed pass
    val aggRow = df.select(scores: _*).agg(
      (if (wantAdc) avg(col("_adc")) else min(lit(Double.NaN))).as("_ma"),
      (if (wantSdc) avg(col("_sdc")) else min(lit(Double.NaN))).as("_ms"))
      .head
    def checked(i: Int): Double = {
      require(!aggRow.isNullAt(i),
        "calibrateTauDist: no non-null boundary distances in the " +
          "sample — an all-corrupt sample cannot calibrate a threshold")
      aggRow.getDouble(i)
    }
    (if (wantAdc) checked(0) else Double.NaN,
      if (wantSdc) checked(1) else Double.NaN)
  }

  /** Per-metric pieces: LUT builder and output score column.
    * "l2" ranks ascending squared distance (column `adc_dist`); "ip"
    * ranks DESCENDING inner product (column `adc_ip`). MEASURED
    * guidance (PQ_*_r11.json): for cosine over a unit-norm corpus,
    * "l2" wins — its −‖c(x)‖²/2 term implicitly corrects the
    * MSE-codebook reconstruction bias that raw IP-ADC keeps
    * (see [[graft.functions.PqKernels.lutIp]]); "ip" is for true MIPS
    * over deliberately un-normalized corpora.
    */
  private def metricPieces(metric: String, cb: Codebook,
      vec: Column): (Column, String) = metric match {
    case "l2" => (GraftFunctions.pq_lut(vec, cbLit(cb), cb.m, cb.k),
      "adc_dist")
    case "ip" => (GraftFunctions.pq_lut_ip(vec, cbLit(cb), cb.m, cb.k),
      "adc_ip")
    case other => throw new IllegalArgumentException(
      s"""PQ metric must be "l2" or "ip" (got "$other")""")
  }

  /** Append a `pq_code` column (array<int> of length m) — the encode
    * pass: one native-kernel scan, zero shuffle, the corpus-scale step
    * that replaces 512-byte vectors with m-byte codes.
    */
  def encode(df: DataFrame, vecCol: String, cb: Codebook): DataFrame =
    df.withColumn("pq_code",
      GraftFunctions.pq_encode(col(vecCol), cbLit(cb), cb.m, cb.k))

  /** Brute-force ADC batch search over a CODES table — the
    * whole-corpus rescore baseline (the scale path is
    * [[ivfPqSearchBatch]], which prunes to probed cells first). Each
    * query row computes its m·k LUT once (native kernel), the query
    * batch broadcasts against the code scan — the deliberate
    * broadcast-crossJoin form every brute baseline here uses
    * ([[Similarity.knnCosine]]'s shape): candidate work is
    * |batch|·|corpus| ADC lookups, which is the POINT of ADC — m table
    * reads per candidate instead of d multiplies.
    *
    * Returns (qid, `idCol`, score) — top `k` per query, ranked on the
    * ROUNDED score with id tie-break (the determinism rule every ANN
    * surface here shares). The score column is metric-dependent:
    * `adc_dist` ascending under "l2", `adc_ip` descending under "ip".
    * Null-scored rows (corrupt vectors, per the kernel null contract)
    * are excluded, never ranked. `queryIdCol` must be unique within
    * `queries` (the contract of [[Similarity.ivfSearchBatch]]).
    */
  def searchBatch(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, codes: DataFrame, idCol: String,
      cb: Codebook, k: Int, excludeSelf: Boolean = true,
      metric: String = "l2"): DataFrame = {
    val (lut, scoreCol) = metricPieces(metric, cb, col(queryVecCol))
    val q = queries.select(col(queryIdCol).as("qid"), lut.as("_lut"))
    val cand = codes.crossJoin(broadcast(q))
    val scoped =
      if (excludeSelf) cand.filter(col(idCol) =!= col("qid")) else cand
    val scored = scoped
      .select(col("qid"), col(idCol),
        round(GraftFunctions.pq_adc(col("_lut"), col("pq_code")), 5)
          .as(scoreCol))
      // a null score (corrupt row or corrupt query, per the kernel
      // null contract) is not a rankable result — excluded, not ranked
      .filter(col(scoreCol).isNotNull)
    // window-free rank whenever possible matters MOST here: the brute
    // cross join scores |batch|·|corpus| rows, and a rank window would
    // shuffle every one of them
    Similarity.rankTopK(scored, idCol, scoreCol,
      biggerIsBetter = metric == "ip", k, cellCol = None)
  }

  /** The pair identity of an IVF-PQ layout: both codebooks, one stamp
    * (graft-wide: the streaming PQ ingest stamps its tree with it too).
    */
  private[graft] def combinedStamp(centroids: Centroids, cb: Codebook)
  : String = s"${centroids.stamp}+${cb.stamp}"

  /** Build AND persist an IVF-PQ index: cell-partitioned like
    * [[Similarity.ivfIndexWrite]], but each row stores its PQ code and
    * NOT the vector — the layout whose probed-cell scan reads m bytes
    * per candidate instead of the embedding payload. The `_params`
    * stamp (and O(1) sidecar) covers BOTH codebooks: a probe under a
    * different IVF codebook mis-routes, a probe under a different PQ
    * codebook mis-scores, and either must fail loudly, not
    * approximately.
    *
    * Exact re-ranking needs the original vectors; fetch them by id
    * from the SOURCE table for the top candidates only
    * ([[ivfPqSearchRefined]]) — that join is k·|batch| rows, not the
    * corpus.
    */
  def ivfPqIndexWrite(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, cb: Codebook, indexDir: String): Unit = {
    ivfPqIndexFrame(emb, idCol, vecCol, centroids, cb)
      .write.partitionBy("cell").mode("overwrite").parquet(indexDir)
    StampedLayout.writeStampSidecar(emb.sparkSession, indexDir,
      combinedStamp(centroids, cb))
  }

  /** The stamped IVF-PQ index FRAME [[ivfPqIndexWrite]] persists —
    * exposed so alternative writers (a streaming exactly-once build
    * via [[graft.streaming.IdempotentSink.indexByBatch]], a job that
    * embeds the write in a larger plan) produce the identical rows.
    */
  def ivfPqIndexFrame(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, cb: Codebook): DataFrame =
    codeRows(Similarity.ivfAssign(emb, idCol, vecCol, centroids), idCol,
      vecCol, centroids, cb)

  /** `assigned`'s stamped code-tree rows (id, pq_code, cell, _params). */
  private def codeRows(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, cb: Codebook): DataFrame =
    encode(assigned, vecCol, cb)
      .select(col(idCol), col("pq_code"), col("cell"))
      .withColumn("_params", lit(combinedStamp(centroids, cb)))

  /** Build the IVF-PQ code tree AND its refine companion — the
    * cell-partitioned FULL-VECTOR layout ([[Similarity.ivfIndexWrite]]'s
    * tree) — in one pass over the corpus: the vector tree is written
    * first (the only `emb` scan — one assignment fold), and the code
    * tree derives from the PERSISTED vectors, whose `cell` is already
    * assigned, so encoding is a pure kernel scan of the vector tree
    * with zero re-assignment work. The two trees agree row-for-row by
    * construction (same assignment, same commit), and each carries its
    * own sidecar stamp so [[ivfPqSearchRefined]] can verify BOTH before
    * probing.
    *
    * This is the storage contract of the memory tier spelled out: the
    * small hot code tree serves every probe; the big cold vector tree
    * is touched only by the refine tail's cell-pruned fetch.
    *
    * The code rows are clustered by cell and sorted by id before the
    * write: one part file per cell, whatever the vector tree's scan
    * packing (unclustered, `PqBench 5000` wrote 164, 160 and 158 files).
    */
  def ivfPqIndexWritePair(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, cb: Codebook, indexDir: String,
      vectorsDir: String): Unit = {
    val spark = emb.sparkSession
    Similarity.ivfIndexWrite(emb, idCol, vecCol, centroids, vectorsDir)
    codeRows(spark.read.parquet(vectorsDir), idCol, vecCol, centroids, cb)
      .repartition(col("cell")).sortWithinPartitions(col("cell"), col(idCol))
      .write.partitionBy("cell").mode("overwrite").parquet(indexDir)
    StampedLayout.writeStampSidecar(spark, indexDir,
      combinedStamp(centroids, cb))
  }

  /** [[Similarity.rebuildUnderCodebook]] for an IVF-PQ refine PAIR:
    * one pass over the old FULL-VECTOR tree re-assigning and
    * re-encoding under the new IVF codebook AND new PQ codebook, out
    * to a fresh pair via [[ivfPqIndexWritePair]] (vector tree written
    * first, code tree derived from the persisted vectors — the trees
    * agree row-for-row by construction). The managed path out of the
    * combined-stamp refusal: re-clustering OR re-training invalidates
    * the pair, and both are the same migration.
    *
    * The source must be the pair's VECTOR tree (or any tree carrying
    * `idCol`+`vecCol`): codes cannot re-encode — quantization already
    * destroyed the residual a new codebook would need; the vector twin
    * is exactly the "decode side" this migration exists to read. Its
    * own stamp is irrelevant (re-assignment reads vectors only).
    *
    * Same crash contract as the scalar variant, pairwise: both
    * sidecars are written after their data, both writes are
    * overwrite-mode, so a crash anywhere re-runs to convergence; a
    * finished migration (both sidecars matching) no-ops; a COMPLETE
    * foreign layout at either new root refuses. Cut readers over only
    * after this returns. A pending compaction swap at the old root
    * refuses for the same drop-their-rows reason. Returns the
    * combined stamp.
    */
  def rebuildPairUnderCodebooks(spark: SparkSession,
      oldVectorsRoot: String, idCol: String, vecCol: String,
      newCentroids: Centroids, cb: Codebook,
      newIndexDir: String, newVectorsDir: String): String = {
    require(newIndexDir != oldVectorsRoot &&
      newVectorsDir != oldVectorsRoot && newIndexDir != newVectorsDir,
      "rebuildPairUnderCodebooks: the three roots must be distinct — " +
        "in-place migration is impossible by design")
    val pairStamp = combinedStamp(newCentroids, cb)
    if (!StampedLayout.migrationDone(spark, "rebuildPairUnderCodebooks",
        Seq(oldVectorsRoot),
        Seq(newVectorsDir -> newCentroids.stamp, newIndexDir -> pairStamp)))
      ivfPqIndexWritePair(
        spark.read.parquet(oldVectorsRoot).select(col(idCol), col(vecCol)),
        idCol, vecCol, newCentroids, cb, newIndexDir, newVectorsDir)
    pairStamp
  }

  /** Incremental append to a persisted [[ivfPqIndexWrite]] layout —
    * the micro-batch ingest path of the memory tier, mirroring
    * [[Similarity.ivfIndexAppend]]: new vectors are assigned AND
    * encoded under the layout's exact (stamped) codebooks, their
    * (id, code, cell) rows appended to the matching cell directories;
    * the existing index is never read beyond the O(1) stamp check and
    * never rewritten. A mismatched IVF codebook OR PQ codebook refuses
    * BEFORE any write (the combined stamp covers both). Fragmentation
    * from an append loop is the same cell-directory problem as the
    * plain IVF index, and [[Similarity.compactCells]] is
    * layout-agnostic — it moves rows by cell directory regardless of
    * which columns ride along — so the identical compaction pass
    * applies (spec-proven on an IVF-PQ layout).
    *
    * For a layout with a refine companion ([[ivfPqIndexWritePair]]),
    * use [[ivfPqIndexAppendPair]] instead: appending the code tree
    * alone desyncs the pair — the stamps stay valid, the appended ids
    * become candidates, and the refine fetch drops them silently
    * (caught loudly by [[ivfPqSearchRefined]]'s pair-sync guard, but
    * the repair is the paired append).
    */
  def ivfPqIndexAppend(newVectors: DataFrame, idCol: String,
      vecCol: String, indexDir: String, centroids: Centroids,
      cb: Codebook): Unit = {
    require(newVectors.columns.contains(idCol) &&
      newVectors.columns.contains(vecCol),
      s"ivfPqIndexAppend: newVectors needs columns '$idCol' and " +
        s"'$vecCol' (has ${newVectors.columns.mkString(", ")})")
    Similarity.appendToStampedLayout(
      ivfPqIndexFrame(newVectors, idCol, vecCol, centroids, cb), indexDir,
      combinedStamp(centroids, cb), "ivfPqIndexAppend")
  }

  /** Append to BOTH trees of an [[ivfPqIndexWritePair]] layout in one
    * call — the ingest path that keeps the refine pair in sync.
    * Appending to the code tree alone ([[ivfPqIndexAppend]]) leaves the
    * vector tree without the new rows: both stamps still verify (the
    * codebooks are unchanged), the probe surfaces the appended ids as
    * candidates, and the refine fetch silently drops them — recall
    * degrades with no error. This call assigns the batch ONCE
    * (batch-sized checkpoint) and appends the full vectors and the PQ
    * codes from the same assignment, so the trees keep agreeing
    * row-for-row.
    *
    * Crash contract: the VECTOR tree appends first. A crash between the
    * two appends leaves vectors-ahead — the appended rows are simply
    * not yet probe-visible (the same state as a not-yet-ingested
    * batch), never the silent-drop state; [[ivfPqSearchRefined]]'s
    * pair-sync guard additionally refuses any probe whose candidate
    * cells disagree between the trees, so the half-appended state is
    * repaired (re-run the pair append after restoring agreement — e.g.
    * re-write the pair), not silently served. Both trees' stamps are
    * verified BEFORE either write.
    */
  def ivfPqIndexAppendPair(newVectors: DataFrame, idCol: String,
      vecCol: String, indexDir: String, vectorsDir: String,
      centroids: Centroids, cb: Codebook): Unit = {
    require(newVectors.columns.contains(idCol) &&
      newVectors.columns.contains(vecCol),
      s"ivfPqIndexAppendPair: newVectors needs columns '$idCol' and " +
        s"'$vecCol' (has ${newVectors.columns.mkString(", ")})")
    val spark = newVectors.sparkSession
    val ivfStamp = centroids.stamp
    val pairStamp = combinedStamp(centroids, cb)
    // verify BOTH trees before either write: failing the second append
    // after the first committed would manufacture the very desync this
    // call exists to prevent
    StampedLayout.verifyStamp(spark.read.parquet(vectorsDir), Seq(ivfStamp),
      "ivfPqIndexAppendPair",
      desc = "vector tree assigned under a different codebook"): Unit
    StampedLayout.verifyStamp(spark.read.parquet(indexDir), Seq(pairStamp),
      "ivfPqIndexAppendPair",
      desc = "code tree built under different codebooks"): Unit
    // one assignment for both trees — batch-sized, checkpointed so the
    // two appends don't re-run the distance fold
    val assigned = Similarity.ivfAssign(
      newVectors.select(col(idCol), col(vecCol)), idCol, vecCol, centroids)
      .localCheckpoint(false)
    Similarity.appendToStampedLayout(
      assigned.withColumn("_params", lit(ivfStamp)),
      vectorsDir, ivfStamp, "ivfPqIndexAppendPair",
      desc = "vector tree assigned under a different codebook")
    Similarity.appendToStampedLayout(
      codeRows(assigned, idCol, vecCol, centroids, cb), indexDir,
      pairStamp, "ivfPqIndexAppendPair",
      desc = "code tree built under different codebooks")
  }

  /** Batch ANN against a RELOADED IVF-PQ index: the one batch probe
    * ([[Similarity.probeBatch]]: cell selection, static cell pruning
    * with the proven numFiles gate, candidate joins, rank stage) with
    * candidates scored by ADC — the probed cells' scan reads
    * (id, pq_code) only, never a vector column.
    * Returns (qid, `idCol`, cell, score), top `k` per query on the
    * rounded score with id tie-break — the score column is
    * metric-dependent (`adc_dist` asc under "l2", `adc_ip` desc under
    * "ip"); null-scored rows are excluded, never ranked. Cells are
    * picked by L2 against the IVF centroids whatever the metric (cells
    * ARE L2-nearest regions of that codebook); `superProbe > 0` picks
    * them through the coarse tier for √n-scale codebooks
    * ([[Similarity.probeCellsHierarchical]]'s approximation contract).
    *
    * BATCH-SIZE CONTRACT: besides `queryIdCol` uniqueness (the
    * contract of [[Similarity.ivfSearchBatch]]), the query batch must
    * be broadcast-sized — the probe ships every query's m·k-double LUT
    * to the executors (m=16, k=256 ⇒ 32 KB/query; 10⁴ queries ⇒
    * ~320 MB, about the practical broadcast ceiling; 10⁵ ⇒ ~3 GB,
    * past it). The plan already avoids the nProbe× LUT blowup by
    * keeping probe pairs and LUTs separate (below); for batches past
    * ~10⁴ queries use [[ivfPqSearchBatchChunked]], which splits the
    * batch driver-side and unions per-chunk results — result-identical
    * (each query's top-k depends on no other query; spec'd in PqSpec).
    */
  def ivfPqSearchBatch(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, k: Int, nProbe: Int = 2,
      excludeSelf: Boolean = true, metric: String = "l2",
      superCells: Int = 0, superProbe: Int = 0): DataFrame = {
    val (lut, scoreCol) = metricPieces(metric, cb, col("qvec"))
    // (qid, cell) probe pairs and (qid, LUT) kept SEPARATE: computing
    // the m·k-double LUT on the exploded probe rows would materialize
    // (and broadcast) nProbe copies of every query's table — at m=8,
    // k=256, nProbe=8 that is 8×16 KB per query instead of 16 KB
    pqProbeBatch(queries, queryIdCol, queryVecCol, index, idCol, centroids,
      cb, k, nProbe, excludeSelf, superCells, superProbe, "ivfPqSearchBatch",
      lut.as("_lut"), GraftFunctions.pq_adc(col("_lut"), col("pq_code")),
      scoreCol, biggerIsBetter = metric == "ip")
  }

  /** The IVF-PQ batch probe: [[Similarity.probeBatch]] over the
    * stamp-verified code tree, with `qside` (the query's ADC lookup
    * table or PQ code, computed once per query from `qvec`) and
    * `score` over it and the candidate's `pq_code`. A null score (a
    * corrupt row or query, per the kernel null contract) is not a
    * rankable result and is dropped before the rank.
    */
  private def pqProbeBatch(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, k: Int, nProbe: Int,
      excludeSelf: Boolean, superCells: Int, superProbe: Int,
      caller: String, qside: Column, score: Column, scoreCol: String,
      biggerIsBetter: Boolean): DataFrame = {
    val checked = StampedLayout.verifyStamp(index,
      Seq(combinedStamp(centroids, cb)), caller)
    val q = Similarity.queryFrame(queries, queryIdCol, queryVecCol)
    Similarity.probeBatch(checked, q, q.select(col("qid"), qside),
      centroids, nProbe, superCells, superProbe, idCol, score, scoreCol,
      _.isNotNull, biggerIsBetter, k, excludeSelf)
  }

  /** The SDC code-to-code distance table for `cb`, flattened
    * subspace-major: `table[(j·k + a)·k + b] = ‖c_{j,a} − c_{j,b}‖²`
    * (m·k² doubles — m=8, k=256 ⇒ 4 MB, a PLAN CONSTANT shared by
    * every query in every batch, vs ADC's per-query m·k-double LUT).
    * Driver-side m·k²·dsub flops, trivial at codebook scale.
    */
  def sdcTable(cb: Codebook): IndexedSeq[Double] = {
    val (m, k, dsub) = (cb.m, cb.k, cb.dsub)
    val out = new Array[Double](m * k * k)
    var j = 0
    while (j < m) {
      var a = 0
      while (a < k) {
        var b = 0
        while (b < k) {
          var s = 0.0
          var t = 0
          while (t < dsub) {
            val d0 = cb.flat((j * k + a) * dsub + t) -
              cb.flat((j * k + b) * dsub + t)
            s += d0 * d0
            t += 1
          }
          out((j * k + a) * k + b) = s
          b += 1
        }
        a += 1
      }
      j += 1
    }
    out.toIndexedSeq
  }

  /** [[ivfPqSearchBatch]] with SYMMETRIC distance (SDC): the query
    * side is ENCODED too, and candidates score through the shared
    * m·k² [[sdcTable]] instead of per-query LUTs; everything else is
    * the shared batch probe ([[Similarity.probeBatch]]), cells picked
    * by L2 from the exact query vectors. A corrupt vector encodes to a
    * null code and is excluded, never ranked. Returns (qid, `idCol`,
    * cell, sdc_dist) — ascending.
    *
    * REGIME (measured, SDC_1m_r17.json): ADC ships m·k doubles PER
    * QUERY (16 KB at m=8/k=256 — 32× a dim-64 vector; a 10⁴-query
    * batch is a ~160 MB broadcast whose per-candidate hash-probes
    * dominate the probe wall). SDC ships the m-byte query code plus
    * one 4 MB table for the whole plan — use it when the query batch
    * is large relative to the probed candidates (the streaming-ingest
    * shape). The price is the SECOND quantization: the error term
    * gains E‖q−c(q)‖² on top of ADC's E‖x−c(x)‖², roughly doubling
    * the τ-calibration bias and widening the straddler band — both
    * measurable as mean self-distances, executable via
    * [[calibrateTauDist]] (mode "sdc") (PqSpec pins SDC == ADC ==
    * exact on a lossless codebook, so the difference IS the
    * quantization, not the plumbing).
    *
    * BATCH-SIZE CONTRACT: the qcells (|batch|·nProbe rows) and qcodes
    * (|batch| rows) frames still BROADCAST — ~100 bytes per query at
    * m=8/nProbe=2, so the practical ceiling sits around ~10⁶–10⁷
    * queries (vs ADC's ~10⁴): two orders of magnitude more headroom,
    * but NOT unbounded. A corpus-refresh batch past that (the 10⁸-row
    * shape) must go through [[ivfPqSearchBatchSdcChunked]], whose
    * hash chunks bound both broadcasts — same result by construction.
    */
  def ivfPqSearchBatchSdc(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, k: Int, nProbe: Int = 2,
      excludeSelf: Boolean = true,
      superCells: Int = 0, superProbe: Int = 0): DataFrame =
    // cells are picked from the EXACT query (cell selection must not pay
    // the second quantization); the m·k² table rides INSIDE the pq_sdc
    // expression as a primitive double[] constructor constant — as a
    // typedLit child it converted to boxed ArrayData and the per-row
    // pointer chases measured 6× the whole ADC scoring pass (see
    // PqKernels.sdc)
    pqProbeBatch(queries, queryIdCol, queryVecCol, index, idCol, centroids,
      cb, k, nProbe, excludeSelf, superCells, superProbe,
      "ivfPqSearchBatchSdc",
      GraftFunctions.pq_encode(col("qvec"), cbLit(cb), cb.m, cb.k)
        .as("_qcode"),
      GraftFunctions.pq_sdc(col("_qcode"), col("pq_code"), sdcTable(cb),
        cb.k), "sdc_dist", biggerIsBetter = false)

  /** [[semanticDedupFlagsPq]] through the SYMMETRIC probe — the
    * LARGE-BATCH dedup regime: the batch side ships codes, not LUTs,
    * so a corpus-refresh batch probes without the ADC variant's
    * |batch|·m·k-double broadcast; the probe goes through
    * [[ivfPqSearchBatchSdcChunked]], so batches past the single-shot
    * broadcast ceiling (the 10⁸-row corpus-refresh shape) split into
    * bounded hash chunks automatically. `tauDist` must carry BOTH
    * quantization biases (≈ 2× ADC's — [[calibrateTauDist]] with mode
    * "sdc" computes it). Returns
    * (batchIdCol, neighbor_id, sdc_dist, keep).
    *
    * REGIME: when the batch's (id, vector) rows and the probed cells'
    * (id, code) rows each fit `spark.sql.autoBroadcastJoinThreshold`
    * ([[DriverFinish]]) and the (query, candidate) pairs to score fit
    * one per byte of it, the flags are computed on the driver by the
    * same kernels and returned as a local relation — same rows, same
    * schema, one bounded collect per side instead of a job per probe
    * step. A negative threshold, a null or duplicate id, or a
    * non-integral id type keeps the distributed probe.
    */
  def semanticDedupFlagsPqSdc(batch: DataFrame, batchIdCol: String,
      batchVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, tauDist: Double,
      nProbe: Int = 2, excludeSelf: Boolean = true): DataFrame =
    flagsOnDriver(batch, batchIdCol, batchVecCol, index, idCol, centroids,
      cb, tauDist, refine = None, topK = 1, nProbe, excludeSelf,
      "semanticDedupFlagsPqSdc").getOrElse(
      Similarity.flagsFromTop(batch, batchIdCol,
        ivfPqSearchBatchSdcChunked(batch, batchIdCol, batchVecCol, index,
          idCol, centroids, cb, k = 1, nProbe = nProbe,
          excludeSelf = excludeSelf),
        idCol, "sdc_dist", col("sdc_dist") > tauDist))

  /** HYBRID semantic dedup — SDC speed with ADC accuracy exactly where
    * accuracy matters: the whole batch probes through the SYMMETRIC
    * kernel (m-byte codes, the measured 3–6× large-batch win,
    * SDC_1m_r17.json), and ONLY the queries whose best symmetric
    * distance lands inside `band` of `tauSdc` — the STRADDLERS, the
    * population where SDC's doubled quantization actually flips flags
    * (measured ~13% of planted near-dups on the worst-case corpus,
    * SEMINGEST_PQ_SDC_1m_f10_r17, vs ADC's ~1.5%) — get their top
    * `refineK` SDC candidates re-scored by ADC and re-flagged at
    * `tauAdc`. Out-of-band queries keep the SDC verdict untouched.
    *
    * Cost shape: the ADC machinery (per-query m·k-double LUT + the
    * pruned candidate fetch) runs over the BAND-SIZED query subset
    * only — the LUT broadcast is bounded by the straddler count, not
    * the batch, so the contract scales with how thin the boundary is,
    * which the caller controls via `band` (≈ the spread of boundary
    * distances; 0 degenerates to pure SDC, and band = ∞ with refineK ≥
    * candidates degenerates to the pure-ADC verdict — both pinned in
    * PqSpec). Calibrate BOTH thresholds with [[calibrateTauDist]] in
    * the matching mode.
    *
    * Returns (batchIdCol, neighbor_id, sdc_dist, keep) — neighbor
    * attribution stays the SDC top-1 (the cheap pass's answer); `keep`
    * is the hybrid verdict. Null scores keep, as everywhere.
    *
    * REGIME: the rule of [[semanticDedupFlagsPqSdc]] — a batch and
    * probed-cell slice within the broadcast budget, and within its
    * pair cap, finish on the driver (the SDC top-`refineK`, the band
    * test, the straddlers' ADC rescore, all by the same kernels, same
    * rows and schema); anything else runs the distributed plan.
    */
  def semanticDedupFlagsPqHybrid(batch: DataFrame, batchIdCol: String,
      batchVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, tauSdc: Double, tauAdc: Double,
      band: Double, refineK: Int = 4, nProbe: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    require(band >= 0, "band must be ≥ 0")
    require(refineK >= 1, "refineK must be ≥ 1")
    flagsOnDriver(batch, batchIdCol, batchVecCol, index, idCol, centroids,
      cb, tauSdc, refine = Some((tauAdc, band)), topK = refineK, nProbe,
      excludeSelf, "semanticDedupFlagsPqHybrid").getOrElse(
      hybridFlagsDistributed(batch, batchIdCol, batchVecCol, index, idCol,
        centroids, cb, tauSdc, tauAdc, band, refineK, nProbe, excludeSelf))
  }

  private def hybridFlagsDistributed(batch: DataFrame, batchIdCol: String,
      batchVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, tauSdc: Double, tauAdc: Double,
      band: Double, refineK: Int, nProbe: Int, excludeSelf: Boolean)
  : DataFrame = {
    // one symmetric probe, top-refineK per query — candidate-sized
    // (refineK·|batch| rows), checkpointed: it feeds the top-1 and the
    // straddler candidates
    val top = ivfPqSearchBatchSdcChunked(batch, batchIdCol,
      batchVecCol, index, idCol, centroids, cb,
      k = refineK, nProbe = nProbe, excludeSelf = excludeSelf)
      .localCheckpoint(true)
    // SDC top-1 = rank 1 of the top-K (same (dist asc, id asc) order)
    val best = Similarity.rankTopK(top, idCol, "sdc_dist",
      biggerIsBetter = false, k = 1, cellCol = None)
      .localCheckpoint(true) // feeds the band filter AND the final join
    val inBand = abs(col("sdc_dist") - lit(tauSdc)) <= lit(band)
    val bandQids = best.filter(inBand).select(col("qid"))
    // the straddlers' candidates rescored by ADC over their own cells'
    // codes (the probe above verified the index stamp); LUTs ship for
    // the BAND-SIZED query subset only — the bounded form of the cost
    // ADC pays for the whole batch
    val (_, adcBest) = Similarity.rescoreBatch(
      top.join(broadcast(bandQids), Seq("qid")), index,
      Similarity.queryFrame(batch, batchIdCol, batchVecCol)
        .join(broadcast(bandQids), Seq("qid"))
        .select(col("qid"),
          GraftFunctions.pq_lut(col("qvec"), cbLit(cb), cb.m, cb.k)
            .as("_lut")),
      idCol, GraftFunctions.pq_adc(col("_lut"), col("pq_code")), "_adc",
      _.isNotNull, biggerIsBetter = false, k = 1)
    Similarity.flagsFromTop(batch, batchIdCol,
      best.join(adcBest.select(col("qid"), col("_adc")), Seq("qid"), "left"),
      idCol, "sdc_dist",
      when(inBand, col("_adc").isNull || col("_adc") > tauAdc)
        .otherwise(col("sdc_dist") > tauSdc))
  }

  /** The driver finish of [[semanticDedupFlagsPqSdc]] (`refine` None,
    * `topK` 1) and [[semanticDedupFlagsPqHybrid]] (`refine` =
    * (tauAdc, band), `topK` = refineK): the flags as a one-partition
    * local relation, or None for the distributed plan.
    *
    * Each step is the distributed plan's, on the driver: probe cells by
    * `vec_sqdist` (nearest `nProbe`, ties to the lower cell, null
    * distances dropped), the query code by `pq_encode`, candidates of
    * the probed cells (minus self under `excludeSelf`) by
    * `round(pq_sdc, 5)` ranked (dist asc, id asc), the best as rank 1;
    * in-band queries rescore their top-`topK` by `round(pq_adc, 5)`
    * over their `pq_lut` and keep the minimum. The kernels are
    * [[graft.functions.PqKernels]]/[[graft.functions.VectorKernels]]
    * and the rounding and comparisons are Catalyst's, so every double
    * and verdict is the distributed one. Inputs whose distributed
    * result depends on task order — a NaN distance or score, a null or
    * duplicate id on either side — and probe widths past the bounded
    * aggregate take the distributed plan.
    *
    * Bytes are not the whole cost: the probe scores every (query,
    * probed-cell code) pair on one thread, so a budget-sized batch
    * over a few crowded cells is far more work than its bytes suggest.
    * The pair count is known once the slice is on the driver; past
    * one pair per [[BudgetBytesPerPair]] bytes of budget the
    * distributed plan, which scores on every core, takes over.
    */
  private def flagsOnDriver(batch: DataFrame, batchIdCol: String,
      batchVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, tauSdc: Double,
      refine: Option[(Double, Double)], topK: Int, nProbe: Int,
      excludeSelf: Boolean, caller: String): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    import org.apache.spark.sql.types._
    import graft.functions.{PqKernels, TopKByScore, VectorKernels}
    import scala.jdk.CollectionConverters._
    import Similarity.integral
    val idField = batch.select(col(batchIdCol)).schema.head
    val neighborType = index.select(col(idCol)).schema.head.dataType
    if (!integral(idField.dataType) || !integral(neighborType) ||
        nProbe < 1 || nProbe > TopKByScore.MaxK)
      return None
    val queries = DriverFinish.collectWithin(
      batch.select(col(batchIdCol), col(batchVecCol).cast("array<double>")),
      8L * cb.dim + 16).getOrElse(return None)
    def idOf(r: Row): Long = r.get(0).asInstanceOf[Number].longValue
    // a null or repeated id has no single answer row in the distributed
    // joins: left to them
    def uniqueIds(rows: Array[Row]): Option[Array[Long]] =
      if (rows.exists(_.isNullAt(0))) None
      else Some(rows.map(idOf)).filter(ids => ids.distinct.length == ids.length)
    val qids = uniqueIds(queries).getOrElse(return None)
    // a null element stays null: the kernels null the result, as in SQL
    def arrayOf(r: Row, i: Int): ArrayData =
      if (r.isNullAt(i)) null
      else new GenericArrayData(r.getSeq[Any](i).toArray)
    val qvecs = queries.map(arrayOf(_, 1))
    val cbFlat = UnsafeArrayData.fromPrimitiveArray(cb.flat.toArray)
    val cells = centroids.cells.map { case (cid, v) =>
      (cid, UnsafeArrayData.fromPrimitiveArray(v.toArray))
    }
    // (distance, cell) of every non-null centroid distance per query
    val dists = qvecs.map(qvec =>
      if (qvec == null) Seq.empty[(Double, Long)]
      else cells.flatMap { case (cid, c) =>
        Option(VectorKernels.sqDist(qvec, c)).map(d => (d.doubleValue, cid))
      })
    if (dists.exists(_.exists(_._1.isNaN))) return None
    val probes = dists.map(_.sortWith { case ((d1, c1), (d2, c2)) =>
      d1 < d2 || (d1 == d2 && c1 < c2) }.take(nProbe).map(_._2))
    val qcodes = qvecs.map(qvec =>
      if (qvec == null) null else PqKernels.encode(qvec, cbFlat, cb.m, cb.k))
    val probed = probes.flatten.distinct.sorted.toSeq
    val checked = StampedLayout.verifyStamp(index,
      Seq(combinedStamp(centroids, cb)), caller)
    val slice =
      if (probed.isEmpty) Array.empty[Row]
      else DriverFinish.collectWithin(
        checked.filter(col("cell").cast("long").isin(probed: _*))
          .select(col(idCol), col("pq_code").cast("array<int>"),
            col("cell").cast("long")), cb.m + 24L).getOrElse(return None)
    val ids = uniqueIds(slice).getOrElse(return None)
    // null-free codes as primitive arrays: the kernel's m reads per
    // pair then unbox nothing
    val codes = slice.map { r =>
      val code = arrayOf(r, 1)
      if (code == null || (0 until code.numElements()).exists(code.isNullAt))
        code
      else UnsafeArrayData.fromPrimitiveArray(code.toIntArray())
    }
    val byCell = slice.indices.toArray.groupBy(slice(_).getLong(2))
    // the scoring work, one SDC per (query, probed-cell code): past the
    // pair cap the distributed plan, which scores on every core, runs
    val pairs = probes.iterator.flatMap(_.iterator)
      .map(c => byCell.get(c).fold(0L)(_.length.toLong)).sum
    val budget = batch.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    if (pairs > budget / BudgetBytesPerPair) return None
    val round5 = Round(BoundReference(0, DoubleType, nullable = false),
      Literal(5))
    def rounded(x: Double): Double =
      round5.eval(InternalRow(x)).asInstanceOf[Double]
    val table = sdcTable(cb).toArray
    def ranksBefore(d1: Double, j1: Int, d2: Double, j2: Int): Boolean = {
      val c = compareDoubles(d1, d2)
      c < 0 || (c == 0 && ids(j1) < ids(j2))
    }
    // each query's top-`topK` (rounded sdc, slice index), best first,
    // kept in a bounded insertion list while its candidates stream by
    val tops = Array.fill(queries.length)(Array.empty[(Double, Int)])
    val topD = new Array[Double](topK)
    val topJ = new Array[Int](topK)
    for (i <- queries.indices) {
      var n = 0
      for (cell <- probes(i); j <- byCell.getOrElse(cell, Array.empty[Int])
          if codes(j) != null && !(excludeSelf && ids(j) == qids(i))) {
        val s = PqKernels.sdc(table, cb.k, qcodes(i), codes(j))
        if (s != null) {
          val raw = s.doubleValue
          if (raw.isNaN) return None
          // round(·, 5) is monotone and moves a value by at most
          // 0.5e-5 (plus its decimal conversion's ulps): a raw score
          // past the worst kept one by more than that cannot rank in
          // after rounding, so it skips the BigDecimal rounding
          if (n < topK ||
              !(raw - topD(n - 1) > 1e-5 * (1.0 + math.abs(raw)))) {
            val d = rounded(raw)
            if (n < topK || ranksBefore(d, j, topD(n - 1), topJ(n - 1))) {
              var p = if (n < topK) { n += 1; n - 1 } else topK - 1
              while (p > 0 && ranksBefore(d, j, topD(p - 1), topJ(p - 1))) {
                topD(p) = topD(p - 1); topJ(p) = topJ(p - 1); p -= 1
              }
              topD(p) = d; topJ(p) = j
            }
          }
        }
      }
      tops(i) = Array.tabulate(n)(t => (topD(t), topJ(t)))
    }
    def exceeds(d: Double, tau: Double) = compareDoubles(d, tau) > 0
    val rows = queries.indices.map { i =>
      val best = tops(i).headOption
      val keep = (refine, best) match {
        case (Some((tauAdc, band)), Some((d, _)))
            if compareDoubles(math.abs(d - tauSdc), band) <= 0 =>
          // a straddler: the minimum rounded ADC over its top-`topK`
          val lut = PqKernels.lut(qvecs(i), cbFlat, cb.m, cb.k)
          tops(i).flatMap(t => Option(PqKernels.adc(lut, codes(t._2))))
            .map(a => rounded(a.doubleValue))
            .reduceOption((x, y) => if (compareDoubles(y, x) < 0) y else x)
            .forall(exceeds(_, tauAdc))
        case _ => best.forall(t => exceeds(t._1, tauSdc))
      }
      Row(queries(i).get(0), best.map(t => slice(t._2).get(0)).orNull,
        best.map(t => Double.box(t._1)).orNull, keep)
    }
    val schema = StructType(Seq(idField,
      StructField("neighbor_id", neighborType, nullable = true),
      StructField("sdc_dist", DoubleType, nullable = true),
      StructField("keep", BooleanType, nullable = true)))
    // one partition: budget-sized flags are one file to a writer, as
    // the distributed plan's over a one-split batch
    Some(batch.sparkSession.createDataFrame(rows.asJava, schema)
      .coalesce(1))
  }

  /** Bytes of broadcast budget per (query, candidate) pair the PQ
    * probe's driver finish may score ([[flagsOnDriver]]): 1, so the
    * default 10 MB budget admits ~1.05·10⁷ pairs. ProbeFinishBench
    * (hybrid flags, dim 64, m=8, refineK 4, nProbe 2, 4-core host;
    * PROBE_FINISH.json) measured the distributed plan's floor at
    * 3.9–5.3 s (1,000 queries × 1,000 codes, 4.4·10⁴ pairs) and the
    * driver finish at 4.2 s for 10⁷ pairs: at the cap the driver is
    * about as slow as the distributed plan's fixed cost alone, so no
    * core count makes the distributed plan win below it. Above it the
    * driver still won on 4 cores (6.1 s vs 20.2 s at 2·10⁷ pairs),
    * but its one thread does not scale with the cluster and the
    * distributed plan does.
    */
  private[graft] val BudgetBytesPerPair = 1L

  /** [[ivfPqSearchBatchSdc]] for query batches past ITS broadcast-size
    * contract — the SDC twin of [[ivfPqSearchBatchChunked]], with the
    * default chunk sized 64× larger: an SDC chunk ships ~100 bytes per
    * query (the m-byte code + the (qid, cell) probe pairs) where an
    * ADC chunk ships the m·k-double LUT (16 KB at m=8/k=256), so the
    * same ~50 MB broadcast budget admits 64× the queries. Hash chunks
    * (`pmod(xxhash64(qid), nChunks)`), one scalar count to size them,
    * per-query top-k independent of every other query ⇒ the union is
    * result-identical to the single-shot probe (PqSpec asserts it);
    * the shared m·k² table is a plan constant either way.
    */
  def ivfPqSearchBatchSdcChunked(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, k: Int, nProbe: Int = 2,
      excludeSelf: Boolean = true,
      maxCodeBatch: Int = 524288): DataFrame = {
    require(maxCodeBatch >= 1, "maxCodeBatch must be ≥ 1")
    hashChunks(queries, queryIdCol, maxCodeBatch)(chunk =>
      ivfPqSearchBatchSdc(chunk, queryIdCol, queryVecCol, index, idCol,
        centroids, cb, k, nProbe, excludeSelf))
  }

  /** `probe` over `queries` split into `ceil(|queries| / maxBatch)`
    * hash chunks (`pmod(xxhash64(qid), nChunks)`), results unioned;
    * one chunk is the whole frame. The only driver-side
    * materialization is one scalar count sizing the chunks.
    */
  private def hashChunks(queries: DataFrame, queryIdCol: String,
      maxBatch: Int)(probe: DataFrame => DataFrame): DataFrame = {
    val nChunks =
      math.max(1L, (queries.count() + maxBatch - 1) / maxBatch).toInt
    if (nChunks <= 1) probe(queries)
    else (0 until nChunks).map { chunk =>
      // an unlucky-empty chunk probes nothing and unions empty — safe
      probe(queries.filter(
        pmod(xxhash64(col(queryIdCol)), lit(nChunks)) === lit(chunk)))
    }.reduce(_ union _)
  }

  /** [[graft.ops.Similarity.semanticDedupFlags]] over an IVF-PQ index
    * — the NO-FULL-VECTOR dedup regime: the probed cells' scan reads
    * (id, pq_code) only, so flagging a batch against a 10⁹-vector
    * corpus never touches the ~0.5 TB embedding payload (the plain
    * variant's index stores it per row). Same flag semantics: each
    * batch row gets its single nearest indexed neighbor — ADC-scored
    * top-1 ([[ivfPqSearchBatch]] at k = 1), metric "l2"
    * (ascending squared distance, the measured-better choice for
    * cosine-normalized corpora per [[metricPieces]]) — and
    * `keep = no neighbor within tauDist` (probed-cell misses surface
    * as NULL neighbors ⇒ keep, exactly the plain variant's LEFT-join
    * contract). The trade is quantization error in the SCORE: a true
    * near-dup straddling tauDist by less than the ADC error can flip,
    * which is the recall/τ study SemDedupBench runs; the structure
    * (probe, candidates, determinism) is identical.
    *
    * Returns (batchIdCol, neighbor_id, adc_dist, keep). Same
    * `excludeSelf` contract as the plain variant: true when batch and
    * corpus share an id space, false when ids are independent.
    *
    * The probe goes through [[ivfPqSearchBatchChunked]] (result-
    * identical to single-shot by construction), so a batch past the
    * per-query-LUT broadcast ceiling splits into bounded hash chunks
    * automatically — MEASURED failure without it: a 10⁵-row batch's
    * LUT frame overran `spark.driver.maxResultSize` (1 GB) at the
    * broadcast-build collect (HybridBench 1M first cut, r17); 10⁴-row
    * micro-batches sat under the ceiling, which is why the streaming
    * ingest never hit it.
    */
  def semanticDedupFlagsPq(batch: DataFrame, batchIdCol: String,
      batchVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, tauDist: Double,
      nProbe: Int = 2, excludeSelf: Boolean = true): DataFrame =
    Similarity.flagsFromTop(batch, batchIdCol,
      ivfPqSearchBatchChunked(batch, batchIdCol, batchVecCol, index, idCol,
        centroids, cb, k = 1, nProbe = nProbe, excludeSelf = excludeSelf,
        metric = "l2"),
      idCol, "adc_dist", col("adc_dist") > tauDist)

  /** [[ivfPqSearchBatch]] for query batches past its broadcast-size
    * contract (~10⁴ queries at m=16/k=256): the batch splits into
    * `ceil(|batch| / maxLutBatch)` HASH chunks
    * (`pmod(xxhash64(qid), nChunks)`) and each chunk runs the ordinary
    * probe; results union. Per-query top-k is independent of every
    * other query, so the union is result-identical to the single-shot
    * probe (PqSpec asserts equality against it) regardless of which
    * chunk a query hashes into; the cost is one stamp check +
    * probe-cell selection per chunk — O(|batch|/maxLutBatch) probes,
    * each chunk's LUT broadcast bounded at ~maxLutBatch·m·k doubles.
    *
    * The ONLY driver-side materialization is one scalar `count` of the
    * batch (sizing nChunks). The previous form collected every
    * distinct qid to the driver to build IN-lists — O(|batch|) driver
    * memory, GBs at a 10⁸-query corpus-refresh batch, i.e. the same
    * failure class the chunking exists to bound. Hash chunks are
    * Binomial(|batch|, 1/nChunks)-sized: mean maxLutBatch, stddev
    * ~√maxLutBatch, so even a +5σ outlier chunk overshoots the LUT
    * budget by ~√(1/maxLutBatch) relative (≈1% at the 8192 default) —
    * noise against the broadcast ceiling's ~3× headroom.
    */
  def ivfPqSearchBatchChunked(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String,
      centroids: Centroids, cb: Codebook, k: Int, nProbe: Int = 2,
      excludeSelf: Boolean = true, metric: String = "l2",
      maxLutBatch: Int = 8192): DataFrame = {
    require(maxLutBatch >= 1, "maxLutBatch must be ≥ 1")
    hashChunks(queries, queryIdCol, maxLutBatch)(chunk =>
      ivfPqSearchBatch(chunk, queryIdCol, queryVecCol, index, idCol,
        centroids, cb, k, nProbe, excludeSelf, metric))
  }

  /** IVF-PQ search with an exact re-rank tail: take the top
    * `k·refineFactor` ADC candidates per query, fetch ONLY those rows'
    * full vectors from `vectors` — a cell-partitioned full-vector
    * layout of the SAME corpus (a reloaded
    * [[Similarity.ivfIndexWrite]] tree; [[ivfPqIndexWritePair]] emits
    * both trees from one corpus pass) — and re-rank by exact cosine.
    * The standard IVFADC+refine shape: ADC error only matters when it
    * reorders across the refine boundary, measured in PQ_*_r11.json.
    *
    * The fetch is [[Similarity.rescoreBatch]]'s CELL-PRUNED one, not an
    * id join against the raw corpus: each candidate's vector lives in
    * the cell the probe found it in, so the scan reads ≤ nProbe·|batch|
    * cells' files (numFiles-gated in PlanRegressionSpec), never the
    * ~0.5 TB payload of a 10⁹-vector corpus. Both sidecar stamps are
    * verified before any plan is built: a vector tree assigned under a
    * different codebook would place candidates in other cells and
    * silently drop them. A NaN cosine (a zero-norm vector) is dropped.
    *
    * Returns (qid, `idCol`, cos_sim) — top `k` per query by rounded
    * cosine descending, id tie-break.
    */
  def ivfPqSearchRefined(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, vectors: DataFrame,
      sourceIdCol: String, sourceVecCol: String,
      centroids: Centroids, cb: Codebook, k: Int, nProbe: Int = 2,
      refineFactor: Int = 4, excludeSelf: Boolean = true,
      metric: String = "l2"): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be ≥ 1")
    val checkedVecs = StampedLayout.verifyStamp(vectors,
      Seq(centroids.stamp), "ivfPqSearchRefined",
      desc = "refine vector layout assigned under a different codebook")
    val cand = ivfPqSearchBatch(queries, queryIdCol, queryVecCol,
      index, sourceIdCol, centroids, cb,
      k = k * refineFactor, nProbe = nProbe, excludeSelf = excludeSelf,
      metric = metric)
    val (candCells, top) = Similarity.rescoreBatch(cand,
      checkedVecs.select(col(sourceIdCol), col("cell"),
        col(sourceVecCol).cast("array<double>").as("_sv")),
      Similarity.queryFrame(queries, queryIdCol, queryVecCol), sourceIdCol,
      Similarity.cosine(col("_sv"), col("qvec")), "cos_sim",
      c => !isnan(c), biggerIsBetter = true, k)
    // PAIR-SYNC GUARD: the code tree and the vector tree agree
    // row-for-row when built/appended as a pair ([[ivfPqIndexWritePair]]
    // / [[ivfPqIndexAppendPair]]); an append to ONE tree keeps both
    // stamps valid (the codebooks are unchanged) but desyncs the rows,
    // and the fetch's inner join would then silently drop appended
    // candidates from the refine results. Count the candidate cells on
    // both sides — partition-pruned, column-pruned scans (row counts
    // come from footer metadata; no code or vector payload is read) —
    // and refuse a desynced pair loudly, before the fetch runs. One
    // aggregate over both trees' pruned scans counts them together.
    def rowsIn(tree: DataFrame, name: String) =
      tree.filter(col("cell").cast("long").isin(candCells: _*))
        .select(lit(name).as("_tree"))
    val counts = rowsIn(index, "code").union(rowsIn(checkedVecs, "vector"))
      .groupBy(col("_tree")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val (codeRows, vecRows) = (counts("code"), counts("vector"))
    if (codeRows != vecRows) throw new IllegalStateException(
      "ivfPqSearchRefined: code tree and vector tree disagree in the " +
        s"candidate cells (${candCells.mkString(",")}): $codeRows code " +
        s"rows vs $vecRows vector rows. " +
        (if (codeRows > vecRows)
          "The code tree is ahead — refining would silently drop the " +
            "extra rows' candidates. "
        else
          "The vector tree is ahead — the code tree is stale and the " +
            "probe is blind to the extra rows. ") +
        "Append with ivfPqIndexAppendPair (or rebuild with " +
        "ivfPqIndexWritePair) so both trees ingest together.")
    top
  }
}
