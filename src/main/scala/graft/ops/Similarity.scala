package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.io.StampedLayout

/** Embedding similarity search over `ARRAY<FLOAT>` columns.
  *
  * Baseline: brute-force cosine top-k against a broadcast query vector —
  * one scan, no shuffle except the final top-k (which Spark executes as
  * per-partition TakeOrdered + driver merge, O(k) memory).
  *
  * Scale path: sign-LSH bucketing — partition vectors by the sign pattern
  * of a few components (or of projections), then search only the query's
  * bucket. The bucket id is a plain column ⇒ the bucket restriction is a
  * partition-prunable filter / equi-join key at 100 TB.
  *
  * Index path: [[ivfIndex]] persists the assigned corpus
  * `partitionBy("cell")` with a codebook stamp; [[ivfSearchIndexed]]
  * (single query) and [[ivfSearchBatch]] (whole query set, one job)
  * probe the RELOADED layout reading only nProbe cell directories —
  * zero assignment recomputation. Per-query probe cost is
  * corpus·nProbe/|codebook|, so the codebook is sized to the corpus
  * (√n cells is the standard rule); [[kmeansIterate]] builds it.
  *
  * All arithmetic is done in double via the native codegen vector
  * expressions (`graft.functions.VectorKernels`) — one tight JVM loop
  * per row inside whole-stage codegen; no UDF, no Python boundary, and
  * no per-element interpreted lambda (Spark's `zip_with`/`aggregate`
  * HOFs are CodegenFallback — the previous composition paid ~3·dim
  * boxed invocations per cosine). Summation order is unchanged, so
  * results are bit-identical to the HOF forms and the DuckDB oracles.
  */
object Similarity {

  /** Dot product of two array<double> columns (element order fixed ⇒
    * deterministic summation order).
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.vec_dot(a, b)

  def l2Norm(a: Column): Column = GraftFunctions.vec_norm(a)

  /** Fused one-pass cosine — dot and both norms in a single loop. */
  def cosine(a: Column, b: Column): Column =
    GraftFunctions.cosine_sim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** A collected IVF codebook — the one value every IVF and IVF-PQ op
    * takes, as every PQ op takes a [[Pq.Codebook]]. `cells` are
    * (cid, centroid) sorted by cid, which the assignment folds rely on
    * for their smallest-cid tie-break.
    *
    * The codebook is tiny by construction (an IVF index has 10²–10⁴
    * centroids for billions of vectors), so [[Centroids.apply]]
    * collects it ONCE and every op ships `cells` inside its plan as a
    * literal. A query body that builds, appends and probes under one
    * codebook resolves it once and passes the value to each call; no
    * op collects a codebook again.
    *
    * `stamp` is the codebook identity a persisted [[ivfIndex]] layout
    * carries: cell count + md5 of the (cid, centroid) stream. Cells are
    * nearest-centroid regions OF A SPECIFIC CODEBOOK — probing an index
    * assigned under a different codebook mis-routes the probe and
    * silently returns wrong neighbors, so the reload path verifies this
    * stamp the way [[graft.ops.Dedup.crossDedupFlagsFromIndexes]]
    * verifies band params. Its byte format is fixed: layouts persisted
    * by earlier builds must keep verifying (SimilaritySpec pins it).
    */
  final case class Centroids(cells: Seq[(Long, Seq[Double])]) {
    require(cells.nonEmpty, "IVF codebook: no centroids")
    require(cells.iterator.map(_._1).sliding(2).forall {
      case Seq(a, b) => a < b
      case _ => true
    }, "IVF codebook: cells must be sorted by strictly increasing id")

    lazy val stamp: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      cells.foreach { case (cid, v) =>
        md.update(cid.toString.getBytes("UTF-8"))
        // Locale.ROOT: the f interpolator uses the JVM default locale,
        // so a comma-decimal locale would render the same codebook to a
        // DIFFERENT stamp — an index built on one machine would
        // spuriously fail the codebook check on another
        v.foreach(x => md.update(String.format(java.util.Locale.ROOT,
          "%.9e,", Double.box(x)).getBytes("UTF-8")))
      }
      s"ivf${cells.size}/" +
        md.digest().map("%02x".format(_)).mkString.take(12)
    }

    /** The codebook as a (cid: bigint, cvec: array<double>) frame over a
      * `LocalRelation`: collecting it is a driver-side `LocalTableScan`
      * with no Spark job. The form for a caller that must hand a
      * DataFrame codebook to an op which collects it per call — the
      * streaming sinks collect theirs once per micro-batch.
      */
    def frame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      cells.toDF("cid", "cvec")
    }
  }

  object Centroids {
    /** Collect `centroids` (one Spark job) into a [[Centroids]] value.
      * The frame is input from outside the engine, so it is checked
      * here: a null id or vector, a null vector element (its distance
      * would be null, so the centroid could never win a cell yet would
      * still count in the stamp) or a duplicate id (two centroids under
      * one cell label) fails with the offending column named.
      */
    def apply(centroids: DataFrame, idCol: String, vecCol: String)
    : Centroids = {
      val rows = centroids
        .select(col(idCol).cast("long"), asDouble(col(vecCol)))
        .collect()
      require(rows.nonEmpty,
        s"IVF codebook: no rows in the centroid frame ($idCol, $vecCol)")
      val cells = rows.map { r =>
        require(!r.isNullAt(0), s"IVF codebook: null id in column '$idCol'")
        val cid = r.getLong(0)
        require(!r.isNullAt(1),
          s"IVF codebook: null vector in column '$vecCol' (cell $cid)")
        val v = r.getSeq[Any](1)
        require(!v.contains(null),
          s"IVF codebook: null element in column '$vecCol' (cell $cid)")
        (cid, v.map(_.asInstanceOf[Double]))
      }.sortBy(_._1).toSeq
      cells.iterator.map(_._1).sliding(2).foreach {
        case Seq(a, b) => require(a != b,
          s"IVF codebook: duplicate id $a in column '$idCol'")
        case _ =>
      }
      Centroids(cells)
    }
  }

  /** Brute-force cosine top-k neighbors of `queryId` (excluded from the
    * results). Broadcasts the single query row.
    */
  def knnCosine(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = broadcast(emb.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol)).as("qvec")))
    topCosine(emb.filter(col(idCol) =!= queryId)
      .crossJoin(q)
      .select(col(idCol),
        round(cosine(asDouble(col(vecCol)), col("qvec")), 5).as("cos_sim")),
      idCol, k)
  }

  /** The rank of the single-query surfaces ([[knnCosine]], [[lshAnn]],
    * [[ivfSearch]], [[ivfSearchIndexed]]): top `k` by `cos_sim` desc,
    * id asc, a TakeOrdered. NaN scores (a zero-norm vector: 0/0) are
    * dropped first — Spark sorts NaN above every value, so a zero-norm
    * corpus vector would otherwise rank 1 for every query.
    */
  private def topCosine(scored: DataFrame, idCol: String, k: Int)
  : DataFrame =
    scored.filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Sign-LSH bucket id from `nBits` vector components starting at
    * `offset`: bucket = Σ 2^i · [v_(offset+i) > 0]. A cheap, portable
    * stand-in for random hyperplane projections (components of a dense
    * random-ish embedding are already near-isotropic).
    */
  def signBucket(vec: Column, nBits: Int = 3, offset: Int = 0): Column =
    (0 until nBits).map(i =>
      when(element_at(vec, offset + i + 1) > 0, 1 << (nBits - 1 - i))
        .otherwise(0))
      .reduce(_ + _)

  /** Multi-table sign-LSH candidate pairs: `bands` independent bucket
    * tables, table b keyed by the sign pattern of components
    * [b·bitsPerBand, (b+1)·bitsPerBand); a pair is a candidate when it
    * collides in ANY table. Catch probability 1−(1−(1−θ/π)^r)^b for
    * angle θ — the multi-table recall a single coarse table lacks,
    * while each table's 2^bitsPerBand buckets keep the within-bucket
    * pair space ~2^bitsPerBand× smaller than a single small-bit table:
    * the equi-join on (band, bucket) stays bounded at 100 TB instead of
    * going quadratic over 1/2^smallBits of the corpus.
    */
  def signBandPairs(emb: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, bitsPerBand: Int = 8): DataFrame = {
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        signBucket(col(vecCol), bitsPerBand, b * bitsPerBand).as("bucket")))
    val rows = emb
      .select(col(idCol).as("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    rows.as("x").join(rows.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
  }

  /** Bucket histogram — the partition layout an IVF/LSH index would use. */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), signBucket(col(vecCol)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col(idCol)).as("min_id"))

  /** IVF-style cell assignment: each row folds over the centroid
    * codebook and keeps the nearest (smallest-id tie-break). At scale
    * the cell id becomes the partition column; probing searches only
    * the query's cell(s).
    *
    * The collected codebook ships inside the plan as a literal array;
    * the argmin is a per-row `aggregate` fold — ZERO shuffle, zero
    * join, no row replication. (The previous crossJoin +
    * row_number().over(partitionBy(id)) form shuffled n×k rows just to
    * pick each row's min — a scale-killer.)
    */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids): DataFrame = {
    // array<struct<_1:bigint,_2:array<double>>>
    val codebook = typedLit(centroids.cells)
    withCell(emb, emb.withColumn("_best",
      nearestIn(codebook, asDouble(col(vecCol)))))
  }

  /** The assignment fold: struct(cid, d) of the entry of `book`
    * (array<struct<_1: cid, _2: centroid>>) nearest `v`. Strict `<`
    * keeps the first (smallest cid, book sorted) on ties, matching
    * the old (dist, cid) sort.
    */
  private def nearestIn(book: Column, v: Column): Column =
    aggregate(book,
      struct(lit(-1L).as("cid"), lit(Double.MaxValue).as("d")),
      (acc, c) => {
        val d = GraftFunctions.vec_sqdist(v, c.getField("_2"))
        val cand = struct(c.getField("_1").as("cid"), d.as("d"))
        when(cand.getField("d") < acc.getField("d"), cand).otherwise(acc)
      })

  /** `emb`'s columns plus the `cell` and `cell_dist2` of the `_best`
    * fold column of `folded` (`emb` with fold columns added).
    */
  private def withCell(emb: DataFrame, folded: DataFrame): DataFrame =
    folded.select(emb.columns.toIndexedSeq.map(col) :+
      col("_best.cid").as("cell") :+
      round(col("_best.d"), 5).as("cell_dist2"): _*)

  /** Driver-side Lloyd iterations over a point set already in driver
    * memory — the one driver Lloyd of the engine. It clusters the
    * CODEBOOK itself for [[ivfAssignHierarchical]] (points =
    * centroids, so |points| ≤ tens of thousands) and finishes
    * [[kmeansIterate]] when that loop's input fits the broadcast
    * budget. The rules are [[kmeansIterate]]'s: each point goes to its
    * nearest mean by a strict `<` scan from `Double.MaxValue` (ties to
    * the lower index), empty clusters keep their previous mean, and
    * the loop stops after `maxIters` rounds or once the largest mean
    * L2 movement is ≤ `tol`. Means are per-dimension sums in point
    * order divided by the member count.
    */
  private def localKmeans(points: IndexedSeq[Array[Double]],
      init: IndexedSeq[Array[Double]], maxIters: Int, tol: Double)
  : IndexedSeq[Array[Double]] = {
    def sq(a: Array[Double], b: Array[Double]): Double = {
      if (a.length != b.length) throw new IllegalArgumentException(
        s"vector length mismatch: ${a.length} vs ${b.length}")
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var means = init
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIters && moved > tol) {
      val k = means.size
      val sums = Array.fill(k)(new Array[Double](means(0).length))
      val n = new Array[Long](k)
      points.foreach { p =>
        var best = -1; var bestD = Double.MaxValue; var j = 0
        while (j < k) {
          val d = sq(p, means(j))
          if (d < bestD) { best = j; bestD = d }
          j += 1
        }
        if (best >= 0) {
          n(best) += 1
          val acc = sums(best); var i = 0
          while (i < acc.length) { acc(i) += p(i); i += 1 }
        }
      }
      val next = means.indices.map(j =>
        if (n(j) == 0) means(j) else sums(j).map(_ / n(j)))
      moved = means.indices.map(j => math.sqrt(sq(means(j), next(j)))).max
      means = next
      iter += 1
    }
    means
  }

  /** The driver-side coarse structure of a codebook: super-centroids
    * ([[localKmeans]] over the CENTROIDS) plus each centroid's group
    * membership — a pure function of (codebook, s), MEMOIZED
    * process-wide because deriving it is O(|codebook|·s·dim·iters)
    * single-threaded driver work (≈4 s at 32k cells) and the
    * consumers re-derive per CALL: a streaming ingest probes the same
    * codebook every micro-batch, and the first ProbeBench cut measured
    * the per-call re-clustering eating the coarse tier's entire saving
    * at the 32k-cell operating point. Bounded FIFO (8 codebooks ≈ a
    * few MB); deep-equality keyed, so a re-collected but identical
    * codebook hits.
    */
  private case class SuperStructure(means: IndexedSeq[Seq[Double]],
      membership: Map[Long, Seq[(Long, Seq[Double])]])
  private val superCache = scala.collection.mutable.ArrayDeque[
    (Seq[(Long, Seq[Double])], Int, SuperStructure)]()
  private def superStructure(cents: Seq[(Long, Seq[Double])], s: Int)
  : SuperStructure = superCache.synchronized {
    superCache.find(e => e._2 == s &&
      ((e._1 eq cents) || e._1 == cents)) match {
      case Some((_, _, st)) => st
      case None =>
        // strided init over the codebook order; tol 0 stops only on
        // an exact fixpoint, where further rounds change nothing
        val points = cents.map(_._2.toArray).toIndexedSeq
        val stride = math.max(1, points.size / s)
        val means = localKmeans(points, (0 until s).map(i =>
          points(math.min(i * stride, points.size - 1))), 10, 0.0)
          .map(_.toIndexedSeq)
        def sq(a: Seq[Double], b: Seq[Double]): Double = {
          var acc = 0.0; var i = 0
          while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
          acc
        }
        // cid order preserved within a group, only non-empty groups
        // probe-able (an empty localKmeans cluster must not be)
        val membership = cents.groupBy(c =>
          means.indices.minBy(j => sq(c._2, means(j))).toLong)
        val st = SuperStructure(means, membership)
        superCache.append((cents, s, st))
        if (superCache.size > 8) superCache.removeHead(): Unit
        st
    }
  }

  /** Two-level IVF assignment — the coarse-quantizer tier for codebooks
    * past ~10³ cells, where the flat fold's O(|codebook|) sqdists per
    * row dominates (√n sizing at 10⁹ vectors ⇒ ~31k cells ⇒ 31k
    * sqdists/row in [[ivfAssign]]'s single fold).
    *
    * The codebook is clustered driver-side ([[localKmeans]] over the
    * CENTROIDS — never corpus data) into `superCells` groups; each row
    * then folds over the super-centroids, takes its `superProbe`
    * nearest groups, and folds over only those groups' member
    * centroids: O(s + superProbe·k/s) work per row instead of O(k) —
    * at 31k cells and s = √k ≈ 176, ~60× fewer sqdists.
    *
    * MEASURED (graft.AssignBench, 200k×64-dim interpolated corpus,
    * local[32], ASSIGN_200k_r11.json): flat per-row cost is linear in
    * cells exactly as the fold predicts — 4.2 / 10.2 / 21.7 / 85.6
    * µs/row at 128 / 447 / 1000 / 4000 cells — while this form grows
    * ~√cells: 2.5 / 3.7 / 4.4 / 10.3 µs/row (8.3× at 4000 cells, the
    * gap still widening). Cell agreement vs flat at superProbe = 2:
    * 0.9984 at the √n operating point (447), 0.989 / 0.983 at
    * 1000 / 4000 — the ~1–2% misrouted rows land in a neighboring
    * cell, shifting recall-at-fixed-nProbe the same way a slightly
    * smaller nProbe would.
    *
    * APPROXIMATION CONTRACT: with `superProbe` < `superCells` a row
    * whose true nearest centroid lies in a group whose super-centroid
    * is not among the row's `superProbe` nearest can land in a
    * neighboring cell. This changes which IVF cell stores the vector
    * (recall shifts at fixed nProbe, same knob family as nProbe
    * itself — measured in SCALE_r11); it never loses the vector.
    * `superProbe = superCells` degenerates to exactly the flat
    * assignment. Default superProbe = 2 bounds the misassignment to
    * rows near super-cell boundaries.
    *
    * Plan size: the member map is still an O(k) literal, but Spark
    * ships task binaries ONCE per executor via torrent broadcast, so
    * the payload cost is per-stage, not per-row — the per-row compute
    * was the scale problem, and that is what the hierarchy removes.
    */
  def ivfAssignHierarchical(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, superCells: Int = 0, superProbe: Int = 2)
  : DataFrame = {
    val cents = centroids.cells
    val s = if (superCells > 0) superCells
      else math.ceil(math.sqrt(cents.size.toDouble)).toInt
    require(superProbe >= 1 && superProbe <= 2 || superProbe >= s,
      s"superProbe must be 1, 2, or ≥ superCells=$s (got $superProbe); " +
        "the two-minima fold tracks at most two groups")
    // memoized per (codebook, s): the clustering is per-codebook
    // preprocessing, not per-call work (see [[superStructure]])
    val SuperStructure(superMeans, membership) = superStructure(cents, s)
    if (superProbe >= s && s > 2) {
      // degenerate exact form — one fold over everything, as flat
      // (the two-minima fold below cannot track more than 2 groups).
      // s ≤ 2 with superProbe = s stays on the general path: probing
      // EVERY group is also exact, but runs the full two-level
      // machinery — the registered q122 gate uses that shape to pin
      // the hierarchy against the flat DuckDB oracle.
      ivfAssign(emb, idCol, vecCol, centroids)
    } else {
      // only super-cells that won members: an empty localKmeans cluster
      // must not be probe-able (element_at would return null members)
      val superBook = typedLit(membership.keys.toSeq.sorted.map(sid =>
        (sid, superMeans(sid.toInt))))
      val memberMap = typedLit(membership)
      val v = asDouble(col(vecCol))
      // two-minima fold over the super-centroids
      val init2 = struct(
        lit(-1L).as("s1"), lit(Double.MaxValue).as("d1"),
        lit(-1L).as("s2"), lit(Double.MaxValue).as("d2"))
      val best2 = aggregate(superBook, init2, (acc, c) => {
        val d = GraftFunctions.vec_sqdist(v, c.getField("_2"))
        val sid = c.getField("_1")
        when(d < acc.getField("d1"), struct(
          sid.as("s1"), d.as("d1"),
          acc.getField("s1").as("s2"), acc.getField("d1").as("d2")))
          .when(d < acc.getField("d2"), struct(
            acc.getField("s1").as("s1"), acc.getField("d1").as("d1"),
            sid.as("s2"), d.as("d2")))
          .otherwise(acc)
      })
      val groups =
        if (superProbe == 1) element_at(memberMap, col("_sb.s1"))
        else concat(
          element_at(memberMap, col("_sb.s1")),
          coalesce(element_at(memberMap, col("_sb.s2")),
            typedLit(Seq.empty[(Long, Seq[Double])])))
      withCell(emb, emb.withColumn("_sb", best2)
        .withColumn("_best", nearestIn(groups, v)))
    }
  }

  /** The single-query IVF probe of [[ivfSearch]] and
    * [[ivfSearchIndexed]]: the `nProbe` cells whose centroids are
    * nearest `qVec` by (squared distance, cid), picked on the driver,
    * filter `assigned` (minus `excludeId`), and the survivors rank by
    * rounded exact cosine ([[topCosine]]).
    */
  private def probeOne(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, qVec: Seq[Double], k: Int, nProbe: Int,
      excludeId: Option[Long]): DataFrame = {
    val probes = centroids.cells.map { case (cid, cv) =>
      (cv.zip(qVec).map { case (x, y) => (x - y) * (x - y) }.sum, cid)
    }.sorted.take(nProbe).map(_._2)
    topCosine(
      excludeId.foldLeft(assigned.filter(col("cell").isin(probes: _*)))(
        (df, q) => df.filter(col(idCol) =!= q))
        .select(col(idCol), col("cell"),
          round(cosine(asDouble(col(vecCol)), typedLit(qVec)), 5)
            .as("cos_sim")),
      idCol, k)
  }

  /** IVF probe search: assign every vector to its cell (zero-shuffle
    * fold), pick the query's `nProbe` nearest centroids driver-side
    * (codebook + one query row — the broadcast pattern), and search
    * ONLY those cells. The scan touches ~nProbe/|codebook| of the
    * corpus; on a cell-partitioned layout the cell filter is
    * partition-prunable, which is the entire point of an IVF index.
    */
  def ivfSearch(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, queryId: Long, k: Int, nProbe: Int = 2)
  : DataFrame = {
    // one query-row scan; the query vector ships as a literal — no
    // second source scan, no crossJoin
    val qVec = emb.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol))).collect()(0).getSeq[Double](0)
    probeOne(ivfAssign(emb, idCol, vecCol, centroids), idCol, vecCol,
      centroids, qVec, k, nProbe, excludeId = Some(queryId))
  }

  /** Persistable IVF index: [[ivfAssign]] output stamped with the
    * codebook identity — the ANN analog of
    * [[graft.ops.Dedup.bandIndex]]. Write it `partitionBy("cell")`;
    * [[ivfSearchIndexed]] then reads ONLY the probed cells' directories
    * (static partition pruning on the `cell IN (...)` filter, proven by
    * numFiles in PlanRegressionSpec), so a search against a billion-
    * vector corpus scans ~nProbe/|codebook| of it with ZERO assignment
    * recomputation — the amortization [[ivfSearch]] (which re-assigns
    * the corpus per query) cannot offer.
    */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids): DataFrame =
    ivfAssign(emb, idCol, vecCol, centroids)
      .withColumn("_params", lit(centroids.stamp))

  /** Build AND persist an [[ivfIndex]] layout: the cell-partitioned
    * parquet tree plus the [[StampedLayout.StampSidecar]] stamp file,
    * so every later probe/append verifies the codebook in O(1) instead
    * of scanning the `_params` column of a layout whose file count
    * grows with every append (the in-data column is still written — it
    * is the fallback for frames that lose their path, and the
    * consistency anchor for the sidecar). Use this over hand-writing
    * the frame unless the write must be embedded in a larger job.
    */
  def ivfIndexWrite(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, indexDir: String): Unit = {
    ivfIndex(emb, idCol, vecCol, centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(indexDir)
    // after the data commit: a crash between the two leaves a layout
    // that still verifies (slow path), never one that lies
    StampedLayout.writeStampSidecar(emb.sparkSession, indexDir,
      centroids.stamp)
  }

  /** Managed codebook MIGRATION — the path out of the refusal every
    * probe/append/ingest correctly gives a drifted codebook: one corpus
    * pass re-assigning the old layout's vectors under `newCentroids`,
    * written to a NEW root ([[ivfIndexWrite]]'s layout: cell-partitioned
    * + `_params` + sidecar). Completes the index lifecycle: build →
    * append → compact → REBUILD-UNDER-NEW-CODEBOOK → cut over. In-place
    * re-clustering is impossible by design (the accumulated cell
    * layout is meaningless under new centroids — every row moves), so
    * migration = rebuild + caller cutover; the old root stays live and
    * untouched until the caller swaps readers.
    *
    * Input tolerance: the old tree only needs (`idCol`, `vecCol`) —
    * its own stamp/codebook is irrelevant (re-assignment never reads
    * cells), so this migrates a plain [[ivfIndexWrite]] layout, a
    * hand-built stampless tree, or a STREAMING `_batch=`-keyed vec
    * tree ([[graft.streaming.IdempotentSink.semanticIngestByBatch]]'s)
    * — the stream-graduation path. The output is always a BATCH
    * layout: a continuing stream starts a fresh ingest root (its
    * batch-0 write stamps the new codebook) rather than adopting this
    * one, because adopted rows without honest `_batch` ids would break
    * the time-travel replay contract.
    *
    * CRASH CONTRACT (resumable by re-run): the sidecar is written LAST,
    * so `newRoot`'s sidecar is the completion marker — present+matching
    * means the migration finished (a re-run then no-ops: idempotent);
    * absent over data files means a crashed prior attempt, which the
    * re-run's overwrite-mode write replaces wholesale. Present with a
    * DIFFERENT stamp refuses — that is a complete foreign layout, not
    * a resume. Don't cut readers over to `newRoot` before this call
    * returns (equivalently: before the sidecar exists) — a partial
    * no-sidecar tree would pass the `_params` fallback of
    * [[StampedLayout.verifyStamp]] while holding a fraction of the
    * corpus. A PENDING COMPACTION swap at the old root refuses:
    * mid-swap, some cells' only copy lives in the temp tree, and
    * rebuilding from the main tree alone would silently drop them —
    * finish it ([[compactCells]] / `compactBatches` re-run) first.
    * These checks are [[StampedLayout.migrationDone]].
    *
    * Cost: one full read of the old tree's (id, vec) + the zero-shuffle
    * broadcast assignment fold + one cell-partitioned write — the same
    * shape as the original build; at 10⁹ rows this is the unavoidable
    * re-assignment pass, and nothing else. Returns the new stamp.
    */
  def rebuildUnderCodebook(spark: SparkSession, oldRoot: String,
      newRoot: String, idCol: String, vecCol: String,
      newCentroids: Centroids): String = {
    require(newRoot != oldRoot,
      "rebuildUnderCodebook: in-place migration is impossible by " +
        "design (every row changes cell) — pass a fresh newRoot and " +
        "cut over after this returns")
    val stamp = newCentroids.stamp
    if (!StampedLayout.migrationDone(spark, "rebuildUnderCodebook",
        Seq(oldRoot), Seq(newRoot -> stamp)))
      ivfIndexWrite(
        spark.read.parquet(oldRoot).select(col(idCol), col(vecCol)),
        idCol, vecCol, newCentroids, newRoot)
    stamp
  }

  /** Compact an [[ivfIndex]] layout's fragmented cells: every
    * [[ivfIndexAppend]] adds one file set per cell it touches, so a
    * per-micro-batch ingest loop grows unbounded small files (and with
    * them probe-side open/footer costs). This rewrites ONLY the cells
    * whose file count exceeds `maxFilesPerCell` — cost proportional to
    * the fragmented fraction, not the index — coalescing each to one
    * file, and returns the compacted cell ids.
    *
    * Mechanics: fragmented cell ids are found from the directory
    * listing (metadata-only); their rows are read with the same
    * `cell IN (...)` partition pruning the probes use, shuffled so
    * each cell lands in one task, and written to a temp subtree; each
    * cell directory is then swapped in via delete + rename. Run
    * compaction from the ingest owner, not concurrently with itself;
    * a reader racing a swap can transiently miss one cell's rows, the
    * same contract as any non-transactional parquet rewrite. The
    * sidecar stamp is untouched: compaction moves rows, never
    * reassigns them.
    *
    * CRASH RECOVERY: the swap is RESUMABLE via the same
    * [[StampedLayout.Swap]] protocol as `compactBatches`. The temp
    * tree is fully written, then the manifest (the compacted cell ids)
    * commits INSIDE it — only after that does any cell directory
    * delete. A re-run that finds the manifest FINISHES the pending
    * per-cell swaps (a cell present in the temp tree is renamed in —
    * including one whose source dir a crash already deleted; a cell
    * absent from the temp tree was already swapped) instead of
    * rewriting the temp tree, which would destroy the only copy of a
    * deleted cell's rows. A temp tree
    * WITHOUT a manifest is an incomplete write (no source was touched
    * yet) and is safely rewritten; `maxFilesPerCell` is ignored while
    * a pending swap exists (the manifest pins that compaction).
    * While the manifest is pending, [[appendToStampedLayout]] (every
    * stamped ingest path) REFUSES appends to this layout: rows
    * appended to a not-yet-swapped cell dir between the crash and the
    * resume would be destroyed by the resume's delete+rename — finish
    * the swap (re-run this), then append.
    */
  def compactCells(spark: SparkSession, indexDir: String,
      maxFilesPerCell: Int = 4, partitionCol: String = "cell")
  : Seq[Long] = {
    require(maxFilesPerCell >= 1,
      s"maxFilesPerCell must be ≥1 (got $maxFilesPerCell)")
    val swap = StampedLayout.swapOf(spark, indexDir)
    import swap.{fs, root, tmp, manifest}
    val prefix = partitionCol + "="
    def finishSwap(cells: Seq[Long]): Seq[Long] = {
      cells.foreach { cid =>
        val oldDir = new org.apache.hadoop.fs.Path(root, s"$prefix$cid")
        val newDir = new org.apache.hadoop.fs.Path(tmp, s"$prefix$cid")
        if (fs.exists(newDir)) {
          fs.delete(oldDir, true)
          if (!fs.rename(newDir, oldDir))
            throw new java.io.IOException(
              s"compactCells: rename $newDir -> $oldDir failed — " +
                s"$partitionCol $cid's rows are in the temp tree, not " +
                "the index; re-run to resume")
        } else require(fs.exists(oldDir),
          s"compactCells: $prefix$cid is in the pending-swap manifest " +
            "but present in neither tree — the layout needs manual repair")
        // newDir absent + oldDir present ⇒ this cell's swap already
        // finished before the crash; nothing to do
      }
      // every cell dir has been renamed out; what remains of the temp
      // tree is the manifest + writer metadata — dropping it retires
      // the pending swap
      fs.delete(tmp, true): Unit
      spark.catalog.refreshByPath(indexDir)
      cells
    }
    if (swap.pending) {
      // a pending swap whose LAYOUT was deleted is an orphan: resuming
      // would rename the deleted snapshot's cells into a fresh rebuild
      // (two corpora silently mixed) — discard it instead, the same
      // rule the stamped-append guard applies. `!exists(root)` as the
      // deleted-on-purpose signal assumes DIRECTORY-native semantics
      // (HDFS/local FS, where a committed layout's directory exists
      // independent of its contents). On an object store, where
      // "directories" are only key prefixes, a transient
      // list-after-delete inconsistency could make a live layout look
      // absent and this branch would discard committed rows — front
      // such stores with an explicit layout sentinel (the stamp
      // sidecar this family already writes is a natural one) before
      // trusting prefix existence as liveness.
      if (!fs.exists(root)) { fs.delete(tmp, true); return Seq.empty }
      return finishSwap(StampedLayout.readFoldManifest(fs, manifest)._2)
    }
    val cellDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
    def parquetCount(d: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet"))
    val fragmented = cellDirs
      .filter(d => parquetCount(d.getPath) > maxFilesPerCell)
      .map(_.getPath.getName.stripPrefix(prefix).toLong)
      .toSeq.sorted
    if (fragmented.isEmpty) return fragmented
    // partition-pruned read of just the fragmented cells; repartition
    // on the partition column puts each in one task ⇒ one file per dir
    spark.read.parquet(indexDir)
      .filter(col(partitionCol).isin(fragmented: _*))
      .repartition(fragmented.size, col(partitionCol))
      .write.partitionBy(partitionCol).mode("overwrite")
      .parquet(tmp.toString)
    StampedLayout.writeFoldManifest(fs, manifest, fragmented.head,
      fragmented)
    finishSwap(fragmented)
  }

  /** IVF probe against a RELOADED [[ivfIndex]]: pick the query vector's
    * `nProbe` nearest centroids driver-side (codebook-sized work),
    * filter the index to those cells — a partition-prunable predicate
    * on a cell-partitioned layout — and rank the survivors by exact
    * cosine. No corpus re-assignment, no join, no shuffle except the
    * final top-k. A stamp mismatch against `centroids` fails the query
    * loudly; a stampless index (hand-built) is flagged on stderr rather
    * than silently trusted.
    */
  def ivfSearchIndexed(index: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, queryVec: Seq[Double], k: Int,
      nProbe: Int = 2, excludeId: Option[Long] = None): DataFrame = {
    probeOne(StampedLayout.verifyStamp(index, Seq(centroids.stamp),
      "ivfSearchIndexed"),
      idCol, vecCol, centroids, queryVec, k, nProbe, excludeId)
  }

  /** Probe-cell selection shared by the batch ANN surfaces: each
    * query's `nProbe` nearest cells by (centroid distance asc, cell
    * asc) out of the exploded (qid, cell, d) frame — `batch ×
    * |codebook|` rows, which at 10⁵ queries × 10⁴ cells is a
    * 10⁹-row stream. A rank window would SHUFFLE all of it just to
    * keep nProbe rows per query; the bounded TopKByScore aggregate
    * (goodness = −d, payload = cell) caps each map partition at
    * nProbe entries per query before the exchange, same as the
    * candidate rank stage. nProbe past the buffer guard falls back to
    * the window. Null distances (a corrupt query vector) are dropped
    * — the window form ranked them FIRST (bare `.asc` is nulls-first),
    * silently probing arbitrary cells for a garbage query; no probe
    * and no candidates is the saner contract, and downstream
    * left-joins already surface empty probes as NULL/keep rows.
    * Returns (qid, cell).
    */
  private def probeTopCells(qdist: DataFrame, nProbe: Int)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TopKByScore
    if (nProbe <= TopKByScore.MaxK)
      qdist.filter(col("d").isNotNull)
        .groupBy(col("qid"))
        .agg(TopKByScore.topk(nProbe, col("cell").cast("long"), lit(0L),
          lit(0.0) - col("d")).as("_t"))
        .select(col("qid"), explode(col("_t")).as("_e"))
        .select(col("qid"), col("_e.id").as("cell"))
    else
      qdist
        .withColumn("_rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d").asc_nulls_last, col("cell").asc)))
        .filter(col("_rn") <= nProbe)
        .select(col("qid"), col("cell"))
  }

  /** (qid, cell, d): the squared distance from each query of `q`
    * (qid, qvec) to every entry of `book`, an
    * array<struct<_1: bigint, _2: array<double>>> plan literal.
    */
  private def cellDists(q: DataFrame, book: Column): DataFrame =
    q.select(col("qid"), col("qvec"), explode(book).as("c"))
      .select(col("qid"), col("c._1").as("cell"),
        GraftFunctions.vec_sqdist(col("qvec"), col("c._2")).as("d"))

  /** The cell-selection stage of every batch probe: (qid, cell) for
    * each query of `q` (qid, qvec). `superProbe ≤ 0` is the flat probe
    * over the whole codebook; `superProbe ≥ 1` goes through the coarse
    * tier ([[probeCellsHierarchical]], with its approximation
    * contract).
    */
  private def probeCells(q: DataFrame, centroids: Centroids,
      nProbe: Int, superCells: Int, superProbe: Int): DataFrame =
    if (superProbe <= 0)
      probeTopCells(cellDists(q, typedLit(centroids.cells)), nProbe)
    else probeCellsHierarchical(q, centroids, nProbe, superCells, superProbe)

  /** The (qid, qvec) frame every batch probe starts from. */
  private[ops] def queryFrame(queries: DataFrame, queryIdCol: String,
      queryVecCol: String): DataFrame =
    queries.select(col(queryIdCol).as("qid"),
      asDouble(col(queryVecCol)).as("qvec"))

  /** Batch ANN against a RELOADED [[ivfIndex]]: every query row probed
    * in ONE job — the shape a curation pipeline runs (dedup or link a
    * whole batch against the corpus), where per-query [[ivfSearchIndexed]]
    * would pay a driver round-trip each.
    *
    * Probe selection explodes the (tiny) codebook per query —
    * |queries|·|codebook| rows, bounded by the batch being ≪ the corpus
    * — and keeps each query's `nProbe` nearest cells through the
    * bounded window-free aggregate ([[probeTopCells]]: ≤ nProbe
    * entries per query leave each map partition, where a rank window
    * shuffled the whole exploded stream). The union of probed cells (at
    * most |codebook| values) is then collected and applied to the index
    * as a STATIC `cell IN (...)` filter before the broadcast equi-join:
    * metadata-only partition pruning on a `partitionBy("cell")` layout
    * — only probed cell directories are read (PlanRegressionSpec
    * numFiles gate), with no reliance on the optimizer's DPP
    * selectivity heuristics (which decline the window-limited probe
    * side) and no subquery at scan time. The extra driver round-trip is
    * one distinct over the probe side — codebook-bounded, not
    * batch-bounded. Exact cosine per candidate, top-k per query on the
    * rounded score (ties broken by id, matching the oracle's
    * determinism) through the shared rank stage ([[rankTopK]]: k=1 a
    * `min_by` partial aggregate, k ≤ MaxK a bounded partial top-k,
    * else the rank window).
    *
    * Returns (qid, `idCol`, cell, cos_sim). `excludeSelf` drops
    * candidates whose id equals the query id (the common
    * corpus-queries-corpus case). `queryIdCol` must be unique within
    * `queries`: the rank stage groups by qid (and the candidate join
    * re-attaches query vectors by qid), so duplicated ids merge two
    * queries' candidate pools into one top-k.
    *
    * Broadcast sizing (r14): the probe-assignment frame broadcast to
    * the index scan carries ONLY (qid, cell) — the query VECTORS
    * broadcast separately, once per query, and re-attach by qid at the
    * candidate join. Broadcasting the vector riding on every probe row
    * (the pre-r14 shape) is O(batch × nProbe × dim) bytes and OOMs the
    * build exactly when nProbe grows toward |codebook| (the
    * brute-force-truth probe: 2k queries × 1k cells × 64 dims ≈ 1 GB);
    * split, it is O(batch × nProbe + batch × dim) — 32 MB + 1 MB for
    * the same probe.
    */
  def ivfSearchBatch(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, k: Int, nProbe: Int = 2,
      excludeSelf: Boolean = true): DataFrame =
    cosineBatch(queries, queryIdCol, queryVecCol, index, idCol, vecCol,
      centroids, k, nProbe, excludeSelf, superCells = 0, superProbe = 0,
      "ivfSearchBatch")

  /** [[ivfSearchBatch]] with HIERARCHICAL probe-cell selection — the
    * coarse-quantizer tier applied to the probe side, for codebooks
    * past ~10³ cells: the flat probe explodes batch × |codebook|
    * distance rows (bounded-agg'd, no shuffle — but at a 10⁹-vector
    * corpus's √n ≈ 3×10⁴ cells, a 10⁴-query batch computes 3×10⁸
    * sqdists for CELL SELECTION alone, the probe's dominant compute).
    * Here each query selects its `superProbe` nearest groups first
    * (the same memoized codebook clustering
    * [[ivfAssignHierarchical]] uses) and scores only those groups'
    * members: O(s + superProbe·k/s) distance rows per query instead
    * of O(k). MEASURED (PROBE_10k_r17.json, selection stage,
    * min-of-3): 1.2× / 1.9× / 2.9× / 3.4× over flat at 1k / 4k / 8k /
    * 32k cells, probe-set agreement 98–99.7% (highest at the 32k
    * operating point — finer groups straddle less).
    *
    * APPROXIMATION CONTRACT (mirrors the assignment op's
    * subset-distance contract): with superProbe < superCells a true
    * top-nProbe cell whose group the coarse fold missed is not
    * probed — recall shifts the same way a smaller nProbe would; the
    * candidate scan and rank stages are untouched, so whatever cells
    * ARE probed score exactly. `superProbe = superCells` probes every
    * group — the subset is the whole codebook and the result equals
    * [[ivfSearchBatch]] by construction (the registered q142 gate
    * runs that shape against q115's oracle).
    */
  def ivfSearchBatchHier(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, k: Int, nProbe: Int = 2,
      excludeSelf: Boolean = true, superCells: Int = 0,
      superProbe: Int = 2): DataFrame = {
    // below 1 [[probeCells]] would take the flat probe
    require(superProbe >= 1, s"superProbe must be ≥ 1 (got $superProbe)")
    cosineBatch(queries, queryIdCol, queryVecCol, index, idCol, vecCol,
      centroids, k, nProbe, excludeSelf, superCells, superProbe,
      "ivfSearchBatchHier")
  }

  /** The exact-cosine batch probe behind [[ivfSearchBatch]] and
    * [[ivfSearchBatchHier]].
    */
  private def cosineBatch(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, index: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, k: Int, nProbe: Int, excludeSelf: Boolean,
      superCells: Int, superProbe: Int, caller: String): DataFrame = {
    val checked = StampedLayout.verifyStamp(index, Seq(centroids.stamp),
      caller)
    val q = queryFrame(queries, queryIdCol, queryVecCol)
      .localCheckpoint(true) // one pass feeds probe ranking + vector join
    // NaN scores (a zero-norm vector on EITHER side ⇒ cosine 0/0) are
    // dropped before the rank, as in [[topCosine]]: left in, the rank
    // window would sort them first under desc while min_by and the
    // bounded aggregate drop them. A zero-norm QUERY keeps (NULL row).
    probeBatch(checked, q, q, centroids, nProbe, superCells, superProbe,
      idCol, cosine(asDouble(col(vecCol)), col("qvec")), "cos_sim",
      c => !isnan(c), biggerIsBetter = true, k, excludeSelf)
  }

  /** Probe-cell selection through the coarse tier, staged as the SAME
    * explode + bounded-agg machinery the flat path uses — all
    * whole-stage codegen, just ~k/(s + superProbe·k/s)× fewer distance
    * rows: (1) explode the s super-centroids per query and keep each
    * query's `superProbe` nearest GROUPS (the shared [[probeTopCells]]
    * aggregate at superProbe); (2) broadcast-join the probed (qid,
    * group) pairs to the groups' member centroids and keep the
    * top-`nProbe` CELLS. Input `q` is (qid, qvec); returns
    * (qid, cell).
    *
    * Why not the [[ivfAssignHierarchical]] two-minima `aggregate()`
    * fold? MEASURED AND REJECTED (PROBE_10k_r17.json first cut): the
    * flat probe's explode computes each sqdist inside codegen, and the
    * higher-order fold's per-distance cost is enough higher that the
    * 30× row reduction LOST outright (13.8 s vs flat's 9.6 s at 8k
    * cells) — the fold wins for ASSIGNMENT because there the flat
    * baseline is the same fold machinery; here the baseline is
    * codegen, so the coarse tier must be codegen too.
    *
    * `superProbe >= superCells` (> 2 groups) degenerates to the flat
    * explode; `superProbe = superCells <= 2` stays on the general
    * path — probing every group is also exact, but runs the full
    * two-stage machinery (the registered q142 gate uses that shape to
    * pin it against q115's flat oracle).
    */
  private[graft] def probeCellsHierarchical(q: DataFrame,
      centroids: Centroids, nProbe: Int,
      superCells: Int = 0, superProbe: Int = 2): DataFrame = {
    val cents = centroids.cells
    val s = if (superCells > 0) superCells
      else math.ceil(math.sqrt(cents.size.toDouble)).toInt
    require(superProbe >= 1,
      s"superProbe must be ≥ 1 (got $superProbe)")
    if (superProbe >= s && s > 2)
      // degenerate exact form: the flat probe
      probeTopCells(cellDists(q, typedLit(cents)), nProbe)
    else {
      val spark = q.sparkSession
      import spark.implicits._
      // same memoized structure as ivfAssignHierarchical: per-codebook
      // preprocessing, not per-probe work (see [[superStructure]])
      val SuperStructure(superMeans, membership) = superStructure(cents, s)
      val superBook = typedLit(membership.keys.toSeq.sorted.map(sid =>
        (sid, superMeans(sid.toInt))))
      // stage 1: each query's superProbe nearest groups — s distance
      // rows per query through the shared bounded aggregate
      val qsupers = probeTopCells(cellDists(q, superBook), superProbe)
        .select(col("qid"), col("cell").as("_sid"))
      // stage 2: probed groups' members only — superProbe·k/s distance
      // rows per query; the member table and the query batch both
      // broadcast (codebook-sized and batch-sized respectively, the
      // same classes the flat probe already ships)
      val memberDf = membership.toSeq
        .flatMap { case (sid, cs) => cs.map(c => (sid, c._1, c._2)) }
        .toDF("_sid", "cell", "_cvec")
      probeTopCells(qsupers
        .join(broadcast(memberDf), Seq("_sid"))
        .join(broadcast(q), Seq("qid"))
        .select(col("qid"), col("cell"),
          GraftFunctions.vec_sqdist(col("qvec"), col("_cvec")).as("d")),
        nProbe)
    }
  }

  /** The one batch-probe pipeline behind [[ivfSearchBatch]],
    * [[ivfSearchBatchHier]], [[Pq.ivfPqSearchBatch]] and
    * [[Pq.ivfPqSearchBatchSdc]]; the surfaces differ only in the
    * query side, the score and its rank direction.
    *
    *  1. Cells: [[probeCells]] over `q` (qid, qvec), checkpointed — it
    *     feeds the cells collect AND the candidate join.
    *  2. Candidates, score and rank: [[rankCandidates]] over the
    *     DISTINCT probed cell ids (≤ |codebook|, a driver-sized
    *     quantity by the same argument as the codebook literal itself —
    *     unlike a qid collect it cannot grow with the batch), joining
    *     the (qid, cell) pairs on cell, with the cell riding along.
    *
    * Returns (qid, `idCol`, cell, `scoreCol`).
    */
  private[ops] def probeBatch(checked: DataFrame, q: DataFrame,
      qside: DataFrame, centroids: Centroids, nProbe: Int, superCells: Int,
      superProbe: Int, idCol: String, score: Column, scoreCol: String,
      valid: Column => Column, biggerIsBetter: Boolean, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val qcells = probeCells(q, centroids, nProbe, superCells, superProbe)
      .localCheckpoint(true) // probe side computed once: cells collect + join
    rankCandidates(checked, cellsOf(qcells), qcells, "cell", qside, idCol,
      score, scoreCol, valid, biggerIsBetter, k, excludeSelf,
      cellCol = Some("cell"))
  }

  /** The rescore stage of [[Pq.ivfPqSearchRefined]] (exact re-rank)
    * and [[Pq.semanticDedupFlagsPqHybrid]] (straddler ADC): `cand`'s
    * (qid, `idCol`, cell) pairs, checkpointed (cells collect + join),
    * rescored by [[rankCandidates]] against `tree`, a stamp-verified
    * layout under the same IVF codebook, so each row lives in the cell
    * it was found in. No cells: an empty result, no job. Returns
    * the cells (a guard may run before the lazy result reads anything)
    * and (qid, `idCol`, `scoreCol`).
    */
  private[ops] def rescoreBatch(cand: DataFrame, tree: DataFrame,
      qside: DataFrame, idCol: String, score: Column, scoreCol: String,
      valid: Column => Column, biggerIsBetter: Boolean, k: Int)
  : (Seq[Long], DataFrame) = {
    val pairs = cand.select(col("qid"), col(idCol), col("cell"))
      .localCheckpoint(true)
    val cells = cellsOf(pairs)
    val top =
      if (cells.isEmpty)
        pairs.select(col("qid"), col(idCol),
          lit(null).cast("double").as(scoreCol)).filter(lit(false))
      else rankCandidates(tree, cells, pairs.select(col("qid"), col(idCol)),
        idCol, qside, idCol, score, scoreCol, valid, biggerIsBetter, k,
        excludeSelf = false, cellCol = None)
    (cells, top)
  }

  /** `df`'s distinct cells, sorted (a reloaded `cell` may be an int). */
  private def cellsOf(df: DataFrame): Seq[Long] =
    df.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** The candidate stage of [[probeBatch]] and [[rescoreBatch]]: a
    * static `cell IN (cells)` prunes `checked` to those cells' files;
    * `pairs` (qid, `key`) and `qside` (qid + what the score reads of
    * the query: vector, ADC table or PQ code) broadcast-join on, the
    * pruned tree being the big side; `excludeSelf` drops id == qid;
    * `round(score, 5)` as `scoreCol`, rows failing `valid` dropped,
    * [[rankTopK]] with `cellCol` riding along.
    */
  private def rankCandidates(checked: DataFrame, cells: Seq[Long],
      pairs: DataFrame, key: String, qside: DataFrame, idCol: String,
      score: Column, scoreCol: String, valid: Column => Column,
      biggerIsBetter: Boolean, k: Int, excludeSelf: Boolean,
      cellCol: Option[String]): DataFrame = {
    val cand = checked.filter(col("cell").isin(cells: _*))
      .join(broadcast(pairs), Seq(key))
      .join(broadcast(qside), Seq("qid"))
    val scoped =
      if (excludeSelf) cand.filter(col(idCol) =!= col("qid")) else cand
    val scored = scoped
      .select((Seq(col("qid"), col(idCol)) ++ cellCol.map(col)) :+
        round(score, 5).as(scoreCol): _*)
      .filter(valid(col(scoreCol)))
    rankTopK(scored, idCol, scoreCol, biggerIsBetter, k, cellCol)
  }

  /** Byte, short, int or long: the id/cell types the bounded
    * aggregates carry as longs.
    */
  private[ops] def integral(dt: org.apache.spark.sql.types.DataType)
  : Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** The rank stage of every ANN batch surface, of [[rescoreBatch]] and
    * of the hybrid dedup's SDC top-1: top-k per `qid` on
    * (score best-first, id asc) over rows the caller has already
    * cleared of null/NaN scores, so the aggregates never see one.
    * Window-free whenever k and the id/cell types allow:
    *
    *  - k=1: a `min_by` partial aggregate — map-side partial
    *    aggregation reduces each partition's candidates to one row per
    *    query BEFORE the shuffle, where the window form shuffles EVERY
    *    candidate row (batch × nProbe × cell size, or |batch|·|corpus|
    *    on the brute [[Pq.searchBatch]]) to sort it. It ranks on
    *    struct(0.0 − goodness, id): negating the SCORE instead of the
    *    id keeps the tie-break correct for ANY id domain (a
    *    max_by(…, struct(score, −id)) silently inverts ties for
    *    negative ids and overflows at Long.MinValue), and `0.0 − x`
    *    rather than `−x` so a −0.0 score (round() of a tiny negative
    *    value) normalizes to +0.0 and can't order-split a tie.
    *  - 1 < k ≤ [[graft.functions.TopKByScore.MaxK]] with integral
    *    id/cell types: the size-bounded partial top-k aggregate, ≤ k
    *    hits per query leave each map partition. Ids/cells travel as
    *    longs and cast back on the way out (partition-directory
    *    inference can make `cell` an int), so the output schema is the
    *    window form's.
    *  - otherwise the rank window (identical results, plan-gated in
    *    PlanRegressionSpec and PqSpec).
    *
    * `biggerIsBetter` is the rank direction (cosine and ADC "ip"
    * descending, squared distances ascending): internally everything
    * ranks on a bigger-is-better goodness, built as `0.0 - score` for
    * the ascending scores and un-negated exactly on the way out
    * (0−(0−x) ≡ x for every finite x; the distances are ≥ 0).
    * `cellCol` rides through the payload when the caller carries one.
    */
  private[ops] def rankTopK(scored: DataFrame, idCol: String,
      scoreCol: String, biggerIsBetter: Boolean, k: Int,
      cellCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TopKByScore
    val goodness =
      if (biggerIsBetter) col(scoreCol) else lit(0.0) - col(scoreCol)
    val idType = scored.schema(idCol).dataType
    val cellType = cellCol.map(c => scored.schema(c).dataType)
    val outCols = Seq(idCol) ++ cellCol ++ Seq(scoreCol)
    if (k == 1)
      scored.groupBy(col("qid"))
        .agg(min_by(struct(outCols.map(col): _*),
          struct(lit(0.0) - goodness, col(idCol))).as("_t"))
        .select(col("qid") +: outCols.map(n => col(s"_t.$n")): _*)
    else if (k <= TopKByScore.MaxK && integral(idType) &&
        cellType.forall(integral))
      scored.groupBy(col("qid"))
        .agg(TopKByScore.topk(k, col(idCol).cast("long"),
          cellCol.map(col).getOrElse(lit(0L)).cast("long"),
          goodness).as("_t"))
        .select(col("qid"), explode(col("_t")).as("_e"))
        .select(col("qid") +: (
          Seq(col("_e.id").cast(idType).as(idCol)) ++
          cellCol.map(c => col("_e.cell").cast(cellType.get).as(c)) ++
          Seq((if (biggerIsBetter) col("_e.cos_sim")
            else lit(0.0) - col("_e.cos_sim")).as(scoreCol))): _*)
    else {
      // nulls last both ways: bare `.asc` is nulls-first, and a null
      // score must never take rank 1
      val ord = if (biggerIsBetter) col(scoreCol).desc_nulls_last
        else col(scoreCol).asc_nulls_last
      scored
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(ord, col(idCol).asc)))
        .filter(col("_rn") <= k)
        .drop("_rn")
    }
  }

  /** Incremental append to a persisted [[ivfIndex]] layout — the
    * ingest path of the ANN story (the band index has [[graft.ops.Dedup
    * .crossDedupFlagsFromIndexes]]; this is the vector analog): assign
    * ONLY the new vectors under the layout's exact codebook and append
    * their rows to the cell-partitioned directory tree. The existing
    * index is never read beyond the driver-side stamp check and never
    * rewritten — appending n new vectors to a billion-vector index
    * costs O(n·|codebook|) assignment plus n row writes into the
    * matching cell directories.
    *
    * The codebook stamp is verified against the existing layout BEFORE
    * any write: appending rows assigned under a different codebook
    * would silently corrupt every future probe of the mixed cells,
    * which is exactly the failure the stamp exists to prevent. A
    * missing directory degrades to a fresh [[ivfIndex]] write (the
    * bootstrap case).
    *
    * Append atomicity is Spark's committer: each call is one job whose
    * files appear only on commit. For exactly-once streaming ingest,
    * drive this from `foreachBatch` keyed by batchId through the same
    * idempotent-sink pattern StreamingSpec proves for the band index.
    *
    * Per-call overhead: O(1) against a sidecar-stamped layout (every
    * [[ivfIndexWrite]]/append commit leaves the stamp sidecar; the
    * schema check reads footer metadata, not data). Only a legacy
    * stampless layout pays the `_params` column scan, once — this call
    * writes the sidecar after a successful append. A long-running
    * micro-batch ingest should also run [[compactCells]] periodically:
    * each append adds one file set per touched cell, and probe-side
    * file-open cost grows with the fragment count.
    */
  def ivfIndexAppend(newVectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, centroids: Centroids): Unit = {
    require(newVectors.columns.contains(idCol) &&
      newVectors.columns.contains(vecCol),
      s"ivfIndexAppend: newVectors needs columns '$idCol' and '$vecCol'" +
        s" (has ${newVectors.columns.mkString(", ")})")
    appendToStampedLayout(ivfIndex(newVectors, idCol, vecCol, centroids),
      indexDir, centroids.stamp, "ivfIndexAppend")
  }

  /** Shared append tail for cell-partitioned stamped layouts (the
    * plain IVF index and the IVF-PQ index of [[Pq.ivfPqIndexAppend]]):
    * verify the existing layout's stamp driver-side BEFORE any write
    * (the checked frame is discarded — only agreement matters), refuse
    * column-SET and column-TYPE divergence, append, and leave the O(1)
    * sidecar stamp behind for bootstrap/legacy layouts.
    *
    * Why both schema checks: a column-set mismatch writes files a
    * later read resolves from an arbitrary footer, and a TYPE mismatch
    * under the same names (e.g. array<float> appended to an
    * array<double> layout) does the same one level down — silent
    * corruption the stamp can't catch. catalogString ignores
    * nullability (presentation, not physical layout); `cell` is
    * excluded because the existing side's type is re-inferred from
    * partition DIRECTORY NAMES, not data.
    */
  private[graft] def appendToStampedLayout(assigned: DataFrame,
      indexDir: String, stamp: String, caller: String,
      partitionCol: String = "cell",
      desc: String = "IVF index assigned under a different codebook")
  : Unit = {
    val spark = assigned.sparkSession
    val swap = StampedLayout.swapOf(spark, indexDir)
    import swap.fs
    // a PENDING compaction swap must finish before any append: a crash
    // mid-swap leaves some cell dirs still awaiting their rename from
    // the temp tree, and the resume's delete+rename would destroy any
    // files appended to those dirs in between — refuse loudly instead
    // of silently losing the batch on the next compactCells run
    if (swap.pending) {
      if (fs.exists(swap.root))
        throw new IllegalArgumentException(
          s"$caller: $indexDir has a pending compaction swap " +
            s"(${swap.manifest}) — run Similarity.compactCells($indexDir) " +
            "to finish the swap, then retry the append (appending now " +
            "would race the resume's per-cell delete+rename and lose rows)")
      // layout deleted out from under a pending swap: the temp tree is
      // an ORPHAN of the old snapshot — resuming it would resurrect the
      // deleted corpus's rows into the fresh layout, and refusing would
      // brick the rebuild forever. Discard it and write fresh (the
      // same rule ShardWriter applies to its orphaned boundary pin).
      // Like compactCells' orphan check, `!exists(path)` as the
      // deleted-on-purpose signal assumes directory-native FS semantics
      // (HDFS/local); on an object store, gate this on an explicit
      // layout sentinel instead of prefix existence.
      fs.delete(swap.tmp, true): Unit
    }
    if (fs.exists(swap.root)) {
      val existing = spark.read.parquet(indexDir)
      StampedLayout.verifyStamp(existing, Seq(stamp), caller, desc): Unit
      require(existing.columns.toSet == assigned.columns.toSet,
        s"$caller: appended schema would diverge from the existing " +
          s"layout (existing: ${existing.columns.sorted.mkString(", ")}; " +
          s"appending: ${assigned.columns.sorted.mkString(", ")})")
      val typeOf = (df: DataFrame) => df.schema.fields
        .filter(_.name != partitionCol)
        .map(f => f.name -> f.dataType.catalogString).toMap
      val (et, at) = (typeOf(existing), typeOf(assigned))
      val mismatched = et.keySet.intersect(at.keySet)
        .filter(c => et(c) != at(c)).toSeq.sorted
      require(mismatched.isEmpty,
        s"$caller: appended column types would diverge from the " +
          "existing layout: " + mismatched.map(c =>
            s"$c (existing ${et(c)}, appending ${at(c)})").mkString("; "))
    }
    assigned.write.partitionBy(partitionCol).mode("append").parquet(indexDir)
    if (StampedLayout.readStampSidecar(spark, indexDir).isEmpty)
      StampedLayout.writeStampSidecar(spark, indexDir, stamp)
  }

  /** SemDeDup-style embedding near-dup flags against a (reloaded)
    * [[ivfIndex]]: every batch row probes its `nProbe` nearest cells in
    * ONE job ([[ivfSearchBatch]] with k = 1) and is dropped when its
    * best corpus neighbor's cosine ≥ `tau` — the embedding-cosine
    * member of the dedup family (exact / MinHash / SimHash / Jaccard /
    * cosine), the semantic-dedup pass a training pipeline runs between
    * near-dup text removal and mixture sampling.
    *
    * Semantics are the GREEDY one-pass form: each batch row decides
    * against the standing corpus only (the batch-vs-corpus shape of
    * [[graft.ops.Dedup.crossDedupFlags]]) — batch rows never pair with
    * each other, so the result is order-independent and idempotent for
    * incremental ingest. For transitive-consistent whole-corpus
    * semantics, feed cosine-verified pairs to
    * [[graft.ops.Dedup.componentDedupFlags]] instead.
    *
    * Scale: the corpus side is the persisted cell-partitioned index —
    * scanned (pruned to the batch's probed cells), never shuffled, no
    * assignment recomputation; the batch ships as one broadcast.
    * Approximation boundary is the index's own: a neighbor outside the
    * probed cells is missed with the measured 1−recall probability
    * (SCALE_r10.md §1), tunable via `nProbe`.
    *
    * Returns (`batchIdCol`, neighbor_id, cos_sim, keep) — neighbor_id/
    * cos_sim NULL when no candidate survives in the probed cells.
    *
    * CONTRACT: `batchIdCol` must be unique within `batch`. The id
    * threads through [[ivfSearchBatch]]'s per-qid top-1 rank and the
    * final left join — a duplicated id would collapse two distinct
    * vectors' candidate pools into one rank group (one vector's
    * genuine neighbor silently evicted by the other's higher score)
    * and then fan the merged verdict back out to BOTH rows. The same
    * uniqueness contract as [[ivfSearchBatch]]'s qid, stated here
    * because the flag semantics make the corruption invisible (a
    * boolean, not an obviously-shared neighbor list).
    */
  def semanticDedupFlags(batch: DataFrame, batchIdCol: String,
      batchVecCol: String, index: DataFrame, idCol: String, vecCol: String,
      centroids: Centroids, tau: Double, nProbe: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    // excludeSelf matters when batch and corpus SHARE an id space (the
    // corpus-refresh case: a re-embedded doc must not match its own
    // old row). When the batch's ids are independent of the corpus's,
    // pass false — an id collision would otherwise silently skip a
    // genuine near-duplicate candidate.
    flagsFromTop(batch, batchIdCol, ivfSearchBatch(batch, batchIdCol,
      batchVecCol, index, idCol, vecCol, centroids,
      k = 1, nProbe = nProbe, excludeSelf = excludeSelf),
      idCol, "cos_sim", col("cos_sim") < tau)
  }

  /** The tail of the dedup flag surfaces: every `batch` row
    * left-joined to its top-1 probe hit (`top`: qid, `idCol`,
    * `scoreCol`, and any columns `notDup` reads) as (`batchIdCol`,
    * neighbor_id, `scoreCol`, keep) — keep when the probe found no
    * candidate or `notDup` holds for the hit.
    */
  private[ops] def flagsFromTop(batch: DataFrame, batchIdCol: String,
      top: DataFrame, idCol: String, scoreCol: String, notDup: Column)
  : DataFrame = {
    val hit = top.withColumnRenamed(idCol, "neighbor_id")
    batch.select(col(batchIdCol))
      .join(hit, col(batchIdCol) === col("qid"), "left")
      .select(col(batchIdCol), col("neighbor_id"), col(scoreCol),
        (col(scoreCol).isNull || notDup).as("keep"))
  }

  /** One Lloyd (k-means) iteration — the offline IVF codebook builder:
    * assign every vector with the zero-shuffle broadcast fold, then
    * recompute each cell's per-dimension mean. ONE shuffle keyed by
    * (cell, dim) with map-side partial aggregation; the codebook stays
    * driver-sized, so iterating to convergence is a driver loop over
    * this step with no growing lineage state.
    *
    * Output is long-form (cell, dim, mean, n) — `dim` 1-based.
    */
  def kmeansStep(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centroidIdCol: String, centroidVecCol: String)
  : DataFrame =
    ivfAssign(emb, idCol, vecCol,
      Centroids(centroids, centroidIdCol, centroidVecCol))
      .select(col("cell"),
        posexplode(asDouble(col(vecCol))).as(Seq("dim0", "x")))
      .groupBy(col("cell"), (col("dim0") + 1).as("dim"))
      .agg(round(avg(col("x")), 5).as("mean"), count(lit(1)).as("n"))

  /** Lloyd iterations to convergence — the offline IVF codebook
    * builder. Stops when the largest centroid L2 movement drops below
    * `tol` or after `maxIters` rounds; each vector goes to its nearest
    * centroid (strict `<`, ties to the lower cid), null vectors are
    * skipped, and empty cells keep their previous centroid. Returns
    * the final codebook (cid, centroid).
    *
    * Regime rule ([[DriverFinish]]): one bounded collect of at most
    * budget/(8·dim + 16) + 1 rows, with no count job, tells whether
    * the training input fits the session's broadcast budget — rows ×
    * (8·dim + 16) B against `spark.sql.autoBroadcastJoinThreshold`.
    * If it does, the collected rows are the input and the rounds run
    * in driver memory ([[localKmeans]], the same rules), as
    * [[Pq.train]] trains on its bounded driver sample. A √n
    * codebook's training sample is that size at curation scale, where
    * each distributed round is a Spark job over a few kilobytes. Above the budget, or with the threshold
    * at -1, the rounds are a driver loop over the [[kmeansStep]]
    * shape: each assigns every vector with the zero-shuffle broadcast
    * fold, recomputes the per-cell means with ONE (cell, dim)-keyed
    * shuffle (map-side partial agg), and pulls the codebook back to
    * seed the next round. The per-round collect is |codebook|·dim rows
    * — driver-sized by construction, the same bound as
    * [[Centroids]]' own collect. Lineage never grows: every
    * iteration re-plans from the source with the new codebook shipped
    * as a literal, so no checkpointing is needed no matter how many
    * rounds run. The two regimes agree to floating-point summation
    * order (SimilaritySpec pins 1e-9).
    */
  def kmeansIterate(emb: DataFrame, idCol: String, vecCol: String,
      initCentroids: DataFrame, centroidIdCol: String,
      centroidVecCol: String, maxIters: Int = 10, tol: Double = 1e-6)
  : DataFrame = {
    val init = Centroids(initCentroids, centroidIdCol, centroidVecCol)
    val dim = init.cells.head._2.size
    val cents = DriverFinish.collectWithin(
      emb.select(asDouble(col(vecCol))), rowBytes = 8L * dim + 16)
      .map { rows =>
        // a null vector, or one with a null element, has no nearest
        // cell in the distributed fold either
        val points = rows.iterator.filterNot(_.isNullAt(0))
          .map(_.getSeq[Any](0)).filterNot(_.contains(null))
          .map(_.map(_.asInstanceOf[Double]).toArray).toIndexedSeq
        init.cells.map(_._1).zip(localKmeans(points,
          init.cells.map(_._2.toArray).toIndexedSeq, maxIters, tol)
          .map(_.toSeq))
      }
      .getOrElse(distributedKmeans(emb, idCol, vecCol, init, maxIters,
        tol).cells)
    val spark = emb.sparkSession
    import spark.implicits._
    cents.toDF(centroidIdCol, centroidVecCol)
  }

  private def distributedKmeans(emb: DataFrame, idCol: String,
      vecCol: String, init: Centroids, maxIters: Int, tol: Double)
  : Centroids = {
    var cents = init
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIters && moved > tol) {
      val means = ivfAssign(emb, idCol, vecCol, cents)
        .select(col("cell"),
          posexplode(asDouble(col(vecCol))).as(Seq("dim0", "x")))
        .groupBy(col("cell"), col("dim0"))
        .agg(avg(col("x")).as("mean"))
        .collect()
      val byCell = means.groupBy(_.getLong(0)).map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      val next = Centroids(cents.cells.map { case (cid, old) =>
        (cid, byCell.getOrElse(cid, old))
      })
      moved = cents.cells.zip(next.cells).map { case ((_, a), (_, b)) =>
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.max
      cents = next
      iter += 1
    }
    cents
  }

  /** ANN restricted to the query's LSH bucket: the scale path — the scan
    * touches only ~1/2^nBits of the corpus (partition-prunable on a
    * bucket-partitioned layout).
    */
  def lshAnn(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val withBucket = emb.withColumn("bucket", signBucket(col(vecCol)))
    val q = broadcast(withBucket.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol)).as("qvec"), col("bucket").as("qbucket")))
    topCosine(withBucket.filter(col(idCol) =!= queryId)
      .join(q, col("bucket") === col("qbucket"))
      .select(col(idCol), col("bucket"),
        round(cosine(asDouble(col(vecCol)), col("qvec")), 5).as("cos_sim")),
      idCol, k)
  }
}
