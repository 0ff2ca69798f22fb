package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic sharded parquet output — the training-data layout step
  * (generalizes the reference's per-book output tree,
  * `hebrew_alignment_tool.py:152-160`, to a corpus-scale sink).
  *
  * The 100 TB problems this solves:
  *  - **Small files**: a 32k-task shuffle writing 32k×shards tiny files
  *    kills the downstream scan's file-listing. One range partition per
  *    shard ⇒ exactly `numShards` files (+ `maxRecordsPerFile` splits
  *    when a shard legitimately overflows).
  *  - **Determinism**: within-shard sort order and global key order
  *    across shards are always deterministic. Shard BOUNDARIES from
  *    [[writeShards]] are not — Spark's RangePartitioner seeds its
  *    reservoir sample by RDD id, so boundaries drift between runs
  *    (balance holds, membership wiggles at the edges). When the
  *    layout itself must be byte-stable (resumable training, diffable
  *    snapshots — SURVEY.md §7.4 risk 3), use [[writeShardsPinned]]
  *    with explicit boundaries: membership becomes a pure function of
  *    the key.
  *  - **Balance**: range partitioning samples key quantiles, so shards
  *    are near-equal row counts even on skewed keys — a hash layout
  *    can't promise that, and unbalanced shards stall data-parallel
  *    training at the slowest reader.
  */
object ShardWriter {

  /** Write `df` as `numShards` range-sharded files sorted by `keyCol`
    * within each shard.
    */
  def writeShards(df: DataFrame, outDir: String, numShards: Int,
      keyCol: String, maxRecordsPerFile: Long = 0L): Unit = {
    require(numShards > 0, "numShards must be positive")
    df.repartitionByRange(numShards, col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Overwrite)
      .parquet(outDir)
  }

  /** Byte-stable sharding: explicit sorted `boundaries` pin shard
    * membership (shard i = count of boundaries < key), written as a
    * `shard=` partitioned tree. Hash-repartitioning on the shard id
    * lands each shard's rows in one task ⇒ one file per shard
    * directory; rows are sorted by key within each file. Re-runs —
    * including over a differently-partitioned upstream — produce the
    * identical layout.
    */
  def writeShardsPinned(df: DataFrame, outDir: String,
      keyCol: String, boundaries: Seq[Long]): Unit = {
    require(boundaries == boundaries.sorted, "boundaries must be sorted")
    // Small boundary lists get the codegen'd when-chain; large ones an
    // array-literal HOF count — the chain is O(N) EXPRESSION DEPTH, and
    // a few thousand boundaries overflow Catalyst's recursive transforms
    // / the 64KB codegen method limit. Identical strict-> semantics.
    val shard =
      if (boundaries.size <= 64)
        boundaries.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col(keyCol) > lit(b), 1).otherwise(0)
        }
      else
        size(filter(typedLit(boundaries), b => col(keyCol) > b))
    df.withColumn("shard", shard)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(keyCol))
      .write
      .partitionBy("shard")
      .mode(SaveMode.Overwrite)
      .parquet(outDir)
  }

  /** Derive PINNED boundaries from the data's own exact quantiles —
    * the bridge between [[writeShards]] (balanced but run-dependent
    * boundaries) and [[writeShardsPinned]] (byte-stable but caller-
    * chosen boundaries): compute the key's k/numShards quantiles ONCE,
    * persist them alongside the layout, and every later (re-)write
    * against the same snapshot produces the identical balanced layout.
    * Fixed hand-picked boundaries (the q95/q119 demo's Seq(40,80,160))
    * stop balancing the moment the key range outgrows them — at 10×
    * the corpus the last shard would swallow ~everything and its one
    * writer task becomes the job (the same single-task class as the
    * packing window this round fixed); quantile-derived boundaries
    * track the distribution at any scale.
    *
    * Exact (sort-based) per-partition quantiles would be a full sort;
    * this uses `approx_percentile` at `accuracy` (default 1/10000 —
    * rank error ≤ n/10000, so shard sizes balance within ~0.03% at
    * numShards ≤ 32). Byte-stability comes from PINNING, not from the
    * sketch: compute the boundaries ONCE per snapshot and persist them
    * with the layout — beyond ~`accuracy` rows the Greenwald-Khanna
    * summaries compress, and their final merge follows shuffle fetch
    * order, so RE-deriving boundaries on the same data is not
    * guaranteed to reproduce them cut-for-cut (membership from any
    * one pinned boundary list is always a pure function of the key).
    * Heavily duplicated keys can collapse adjacent cuts — the
    * `.distinct` then yields fewer boundaries (and shards) than
    * requested, the correct degeneration when the key has fewer
    * distinct values than shards.
    */
  def boundariesFromQuantiles(df: DataFrame, keyCol: String,
      numShards: Int, accuracy: Int = 10000): Seq[Long] = {
    require(numShards > 1, "numShards must be > 1 to need boundaries")
    val fracs = (1 until numShards).map(_.toDouble / numShards)
    val row = df.select(percentile_approx(col(keyCol).cast("long"),
      typedLit(fracs), lit(accuracy))).collect()(0)
    require(!row.isNullAt(0),
      s"boundariesFromQuantiles: no non-null '$keyCol' values to " +
        "derive boundaries from (empty or all-null input)")
    row.getSeq[Long](0).distinct.sorted
  }

  /** Exact rank-derived pinned boundaries: boundary i (1 ≤ i <
    * numShards) is the key at 1-indexed rank ⌊i·n/numShards⌋ of the
    * key multiset — so with [[writeShardsPinned]]'s strict `key >
    * boundary` membership, shard i holds the keys between consecutive
    * rank cuts, balanced to within the key's duplicate structure at
    * ANY scale and distribution. Unlike [[boundariesFromQuantiles]]
    * (a Greenwald-Khanna sketch whose exact cuts depend on merge
    * order), this derivation is a PURE function of the key multiset:
    * re-deriving on the same snapshot reproduces it cut-for-cut, and
    * an external system (the DuckDB oracles mirror exactly this
    * formula) can recompute it independently.
    *
    * Cost: a distributed sort of the KEY COLUMN ONLY (8 bytes/row —
    * ~8 GB shuffle per 10⁹ rows) plus rank selection; the key
    * projection is checkpointed so the upstream plan evaluates once.
    * Run it once per corpus snapshot at onboarding and persist the
    * result beside the layout ([[writeShardsDerived]] does both);
    * at scales where even the key sort is too much and cut-exactness
    * isn't needed, [[boundariesFromQuantiles]] is the sketch-based
    * alternative.
    *
    * Ranks that fall below 1 (n < numShards) are dropped and
    * duplicate-key cuts collapse via `.distinct` — the same correct
    * degeneration as [[boundariesFromQuantiles]]: fewer shards than
    * requested when the data can't fill them.
    */
  def boundariesFromRanks(df: DataFrame, keyCol: String,
      numShards: Int): Seq[Long] = {
    require(numShards > 1, "numShards must be > 1 to need boundaries")
    val keys = df.select(col(keyCol).cast("long").as("k")).na.drop()
      .localCheckpoint(false)
    val n = keys.count()
    // an empty (or all-null-key) snapshot pins ZERO boundaries — the
    // same degeneration as n=1, one (empty) shard. A sampling stage
    // upstream can legitimately select nothing; crashing the write on
    // it turns a data condition into an outage.
    if (n == 0) return Seq.empty
    val ranks = (1 until numShards).map(i => i * n / numShards)
      .filter(_ >= 1).distinct
    val rankSet = ranks.map(_ - 1).toSet // 0-indexed positions
    keys.rdd.map(_.getLong(0)).sortBy(identity)
      .zipWithIndex()
      .collect { case (k, idx) if rankSet.contains(idx) => k }
      .collect().toSeq.distinct.sorted
  }

  /** Sidecar file pinning a layout's derived boundaries — the shard
    * analog of the index families' stamp sidecars: derived ONCE per
    * corpus snapshot, persisted beside the layout, consumed by every
    * later (re-)write so membership stays byte-stable.
    *
    * The sidecar lives at a SIBLING path (`<outDir>._graft_shard_bounds`),
    * NOT inside the layout directory: [[writeShardsPinned]]'s overwrite
    * clears the directory, and an in-dir sidecar opens a crash window —
    * data committed, old sidecar already deleted, new one not yet
    * written — after which a re-write over a GROWN snapshot would
    * silently re-derive different boundaries and break the byte-stable
    * membership contract. A sibling sidecar is never touched by the
    * data overwrite, so the pin survives any crash during a re-write.
    * Writes are create-temp-then-rename, so a reader never sees a
    * truncated pin. RECOVERY RULE: the only state a crash can leave is
    * "layout without sidecar" on the FIRST derive — and re-running the
    * derive reproduces the identical boundaries because
    * [[boundariesFromRanks]] is a pure function of the snapshot's key
    * multiset. Layouts written by older builds (in-dir sidecar) are
    * still readable: [[readBoundsSidecar]] falls back to the legacy
    * in-dir location.
    */
  private[graft] val BoundsSidecar = "_graft_shard_bounds"

  private def sidecarPath(p: org.apache.hadoop.fs.Path) =
    p.suffix("." + BoundsSidecar)

  def writeBoundsSidecar(spark: org.apache.spark.sql.SparkSession,
      outDir: String, boundaries: Seq[Long]): Unit = {
    val (fs, p) = FsUtil.fsOf(spark, outDir)
    val dest = sidecarPath(p)
    val payload = boundaries.mkString(",") + "\n"
    // idempotent re-pin of the same snapshot: nothing to do, and
    // skipping keeps the delete+rename below off the common path.
    // Checks the SIBLING file only — NOT readBoundsSidecar, whose
    // legacy in-dir fallback would satisfy this check and skip the
    // write, leaving the pin in a location the next data overwrite
    // deletes (a migration must always materialize the sibling)
    if (readSidecarFile(fs, dest).contains(boundaries)) return
    val tmp = dest.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(payload.getBytes("UTF-8"))
    finally out.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(
        s"writeBoundsSidecar: rename $tmp -> $dest failed — the layout " +
          "has no pin; re-run the write (re-derivation is deterministic)")
  }

  private def readSidecarFile(fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.Path): Option[Seq[Long]] =
    // a degenerate corpus (n < 2 distinct keys) pins ZERO boundaries —
    // a blank payload round-trips to Seq.empty, not a parse error
    FsUtil.readFullyUtf8(fs, f).map(
      _.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)

  def readBoundsSidecar(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Option[Seq[Long]] = {
    val (fs, p) = FsUtil.fsOf(spark, outDir)
    readSidecarFile(fs, sidecarPath(p)).orElse(
      // legacy in-dir location (pre-sibling builds)
      readSidecarFile(fs, new org.apache.hadoop.fs.Path(p, BoundsSidecar)))
  }

  /** The derive-once-persist-then-pin workflow as ONE call: reuse the
    * layout's [[BoundsSidecar]] boundaries when present (a re-write of
    * the same snapshot — byte-stable by pinning), otherwise derive
    * them from the data's exact ranks ([[boundariesFromRanks]]) and
    * write the pinned layout + sidecar. Returns the boundaries in
    * effect. Delete the sidecar to re-derive for a new corpus
    * snapshot; a sidecar derived for a different `numShards` wins over
    * the argument by design (the sidecar IS the snapshot's pin).
    *
    * The DERIVE path has two consumers of `df` — the rank sort and the
    * pinned write — and Spark reuses exchanges, not arbitrary subplans,
    * so feeding both from the raw frame evaluates the entire upstream
    * chain twice (measured: the q119 curation capstone paid 1.67× wall
    * for exactly this). With `snapshotOnDerive` (the default) the
    * input is eagerly `localCheckpoint`ed ONCE and both consumers read
    * the snapshot — the upstream chain runs a single time, the same
    * rationale as the fused dedup chain's internal checkpoint
    * ([[graft.ops.Dedup]]). Pass `snapshotOnDerive = false` when `df`
    * is a WIDE frame straight off storage (e.g. a plain parquet read
    * carrying the text payload): re-scanning a table for the
    * column-pruned key projection is cheaper than materializing the
    * payload to executor-local disk. The PINNED path (sidecar present)
    * has one consumer and never snapshots.
    *
    * This replaces hand-pinned demo boundaries in the registered
    * queries: a fixed list stops balancing the moment the key range
    * outgrows it (the last shard swallows everything and its one
    * writer task becomes the job — ShardWriterSpec reproduces the
    * collapse AND the derived boundaries' green half at the same 10×
    * point).
    */
  def writeShardsDerived(df: DataFrame, outDir: String, keyCol: String,
      numShards: Int, snapshotOnDerive: Boolean = true): Seq[Long] = {
    val spark = df.sparkSession
    // a sibling pin with NO layout is stale: deleting the layout
    // directory is the natural reset for a new corpus snapshot (and was
    // a sufficient one under the old in-dir sidecar), but the sibling
    // survives it — silently re-pinning the DELETED snapshot's
    // boundaries over a grown corpus would pile every new high key into
    // the last shard. Discard the orphan and re-derive.
    val (fs, p) = FsUtil.fsOf(spark, outDir)
    if (!fs.exists(p)) fs.delete(sidecarPath(p), false): Unit
    // an EMPTY pin (a snapshot with < 2 distinct keys — including one
    // whose sampling stage transiently selected nothing) must not
    // outlive its degeneracy: re-pinning Seq.empty over a frame that
    // NOW has ≥ 2 distinct keys would put every row in shard 0 forever
    // — a silent, self-perpetuating single-task collapse. The ≥2-key
    // probe is two short-circuiting `head(1)` scans (CollectLimit
    // probes partitions incrementally and stops at the first hit — a
    // `distinct().limit(2)` would run the full distinct SHUFFLE before
    // its limit applied) and runs only when the stored pin is empty,
    // never on the common path.
    def hasTwoDistinctKeys: Boolean = {
      val keys = df.select(col(keyCol)).na.drop()
      keys.head(1) match {
        case Array(first) =>
          keys.filter(col(keyCol) =!= lit(first.get(0))).head(1).nonEmpty
        case _ => false
      }
    }
    val stored = readBoundsSidecar(spark, outDir).filter(bounds =>
      bounds.nonEmpty || !hasTwoDistinctKeys)
    stored match {
      case Some(bounds) =>
        // re-pin BEFORE the data write: a no-op when the sibling sidecar
        // already holds these bounds (the common case), but when the pin
        // was read from the LEGACY in-dir location the overwrite below
        // deletes it — writing the sibling first means no crash point in
        // the migration can lose the pin
        writeBoundsSidecar(spark, outDir, bounds)
        writeShardsPinned(df, outDir, keyCol, bounds)
        bounds
      case None =>
        val snap = if (snapshotOnDerive) df.localCheckpoint(true) else df
        val bounds = boundariesFromRanks(snap, keyCol, numShards)
        writeShardsPinned(snap, outDir, keyCol, bounds)
        writeBoundsSidecar(spark, outDir, bounds)
        // the snapshot has served both consumers; release its blocks so
        // repeated derive-writes in one session don't accumulate
        // executor-local storage (each snapshot is a full copy of df)
        if (snapshotOnDerive) snap.unpersist()
        bounds
    }
  }

  /** Key-range read over a pinned shard layout — the boundary pin makes
    * the layout an INDEX: `shardOf` is monotone in the key, so the keys
    * in `[lo, hi]` live in exactly the shard ids
    * `[shardOf(lo), shardOf(hi)]`, and a static `shard BETWEEN` predicate
    * prunes every other shard DIRECTORY out of the scan at plan time
    * (PartitionFilters, no file of a non-covering shard is listed or
    * read — numFiles-gated in ShardWriterSpec). At 100 TB a layout of
    * 10⁴ shards serves a point-ish range from one or two directories
    * instead of a corpus scan; the residual `keyCol BETWEEN` pushes down
    * to the parquet row groups of the covering shards, which are sorted
    * by key, so min/max stats prune within the shard too.
    *
    * Refuses a layout without a boundary pin rather than degrading
    * silently: without the sidecar, shard membership is unknowable and
    * the "range read" would be a full scan wearing an index's name —
    * read with `spark.read.parquet(...).filter(...)` explicitly if that
    * is what you want.
    */
  def readKeyRange(spark: org.apache.spark.sql.SparkSession,
      outDir: String, keyCol: String, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"empty key range [$lo, $hi]")
    val bounds = readBoundsSidecar(spark, outDir).getOrElse(
      throw new IllegalStateException(
        s"readKeyRange: $outDir has no boundary pin ($BoundsSidecar " +
          "sidecar) — shard membership is unknowable, so a pruned range " +
          "read is impossible; write the layout via writeShardsDerived/" +
          "writeBoundsSidecar, or full-scan with spark.read.parquet + " +
          "filter if an unpruned read is intended"))
    // shard id = count of boundaries strictly below the key (the
    // writeShardsPinned membership rule); monotone ⇒ a contiguous range
    def shardOf(k: Long): Int = bounds.count(_ < k)
    spark.read.parquet(outDir)
      .filter(col("shard").cast("int")
        .between(shardOf(lo), shardOf(hi))) // static partition prune
      .filter(col(keyCol).between(lo, hi))  // row-group stats prune
  }

  /** Shard inventory of a written directory: one row per data file with
    * its row count and key span — the manifest a training job consumes.
    * The scan is pruned to the key column only.
    */
  def shardManifest(spark: org.apache.spark.sql.SparkSession,
      outDir: String, keyCol: String): DataFrame = {
    spark.read.parquet(outDir)
      .select(input_file_name().as("shard"), col(keyCol))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("rows"),
        min(col(keyCol)).as("key_min"), max(col(keyCol)).as("key_max"))
      .orderBy(col("key_min"))
  }
}
