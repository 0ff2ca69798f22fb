package graft.streaming

import graft.io.{FsUtil, ParallelActions, StampedLayout}
import graft.ops.{Dedup, Pq, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Idempotent `foreachBatch` sink: exactly-once for targets WITHOUT a
  * commit log (plain directory trees, JDBC-style upserts), complementing
  * the file sink's built-in log (StreamingSpec's checkpoint-recovery
  * cases).
  *
  * Structured Streaming's `foreachBatch` contract is at-least-once: on
  * recovery the last uncommitted micro-batch REPLAYS with the same
  * `batchId`. Keying the write by that id and overwriting only the
  * touched partitions (dynamic partition overwrite) makes the replay a
  * byte-identical no-op instead of a duplicate append — the standard
  * production recipe for exactly-once side outputs.
  *
  * Scale shape: one directory per micro-batch; the overwrite touches
  * only `_batch=<id>`, never the accumulated history, so recovery cost
  * is one micro-batch regardless of stream age.
  */
object IdempotentSink {

  /** A `foreachBatch`-shaped function writing each micro-batch to
    * `out/_batch=<batchId>/` via dynamic partition overwrite. Replaying
    * a batch id rewrites that partition with the same rows — idempotent
    * by construction (spec'd in StreamingSpec).
    */
  def parquetByBatch(out: String)(df: DataFrame, batchId: Long): Unit =
    writeByBatch(out, None, df, batchId)

  /** [[parquetByBatch]] for cell-/band-partitioned INDEX layouts — the
    * exactly-once STREAMING BUILD path for the persisted index
    * families (IVF / IVF-PQ / band): a raw `mode("append")` ingest
    * (the batch-side `ivfIndexAppend` etc.) is at-least-once under
    * foreachBatch replay — a recovered micro-batch would append its
    * rows AGAIN, and duplicated index rows occupy top-k ranks and
    * corrupt probe results. Keying the tree as
    * `_batch=<id>/<partitionCol>=<v>/` makes the replay overwrite only
    * its own `_batch` subtree (dynamic partition overwrite — byte-
    * identical no-op), while lookups keep their partition pruning on
    * `partitionCol` unchanged: Spark applies partition filters at any
    * level of the tree, so a probe reads matching cell/band dirs
    * across every batch. Fragmentation grows one file set per
    * micro-batch per touched cell — run [[compactBatches]] (NOT
    * `Similarity.compactCells`, which lists `<partitionCol>=` dirs at
    * the root and no-ops on this tree shape) periodically from
    * OUTSIDE the stream, after the checkpoint has committed past the
    * batches being folded.
    */
  def indexByBatch(out: String, partitionCol: String)(
      df: DataFrame, batchId: Long): Unit =
    writeByBatch(out, Some(partitionCol), df, batchId)

  /** The batch-keyed write behind [[parquetByBatch]] (no
    * `partitionCol`) and [[indexByBatch]]: `_batch=<id>/` first, then
    * the index's own partition level, by dynamic partition overwrite.
    */
  private def writeByBatch(out: String, partitionCol: Option[String],
      df: DataFrame, batchId: Long): Unit = {
    require(!df.columns.contains("_batch"),
      "the micro-batch already carries a _batch column; it would be " +
        "silently replaced by the sink's batch id")
    // per-WRITE option, not the session conf: mutating the session-wide
    // partitionOverwriteMode races with concurrent writers on a shared
    // SparkSession (the option takes precedence and needs no restore)
    df.withColumn("_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch" +: partitionCol.toSeq: _*).parquet(out)
  }

  /** Compaction for an [[indexByBatch]] tree — `Similarity
    * .compactCells` can NOT compact it (it lists `<partitionCol>=`
    * dirs at the ROOT, finds only `_batch=` dirs, and returns empty —
    * a silent no-op), and folding across `_batch` subtrees from inside
    * the stream would break the replay-overwrite keying. This is the
    * OUTSIDE-the-stream pass: every `_batch ≤ uptoBatch` subtree folds
    * into ONE consolidated subtree (named `_batch=<smallest folded
    * id>`, one file per `partitionCol` value), so probe-side file
    * count stops growing with stream age. Returns the folded batch
    * ids (empty when fewer than two qualify).
    *
    * REPLAY-SAFETY CONTRACT: only call with `uptoBatch` < the stream's
    * latest committed batch id — foreachBatch replays exactly the last
    * uncommitted batch, so folded batches can never be replayed; a
    * replay of a folded id would resurrect its subtree alongside the
    * consolidated rows (duplicates).
    *
    * CRASH RECOVERY: the swap is RESUMABLE, making the re-run-on-crash
    * contract real. The consolidated subtree is fully written to a
    * temp tree, then a [[StampedLayout.FoldManifest]] (target id +
    * folded ids) commits INSIDE it — only after that do the source
    * `_batch=` subtrees delete and the temp tree rename in. A re-run
    * that finds the manifest finishes the pending swap (delete
    * survivors, rename) instead of rewriting the temp tree — rewriting
    * would destroy the only copy of rows whose sources were already
    * deleted. A temp tree WITHOUT a manifest is an incomplete write
    * (no source was deleted yet) and is safely rewritten; `uptoBatch`
    * is ignored while a pending swap exists (the manifest pins that
    * fold).
    */
  def compactBatches(spark: SparkSession,
      out: String, partitionCol: String, uptoBatch: Long,
      fromBatch: Long = 0L): Seq[Long] =
    compactBatchesWith(spark, out, uptoBatch, (folded, tmp) =>
      byPartition(folded, partitionCol)
        .write.partitionBy(partitionCol).mode("overwrite").parquet(tmp),
      fromBatch)

  /** `df` hash-partitioned on `partitionCol` into the session's shuffle
    * partition count, for a `partitionBy(partitionCol)` write: each
    * value lands in one task, so the tree gets one file per value per
    * write, and the tasks write their values' files in parallel. The
    * count is explicit because adaptive execution coalesces a
    * column-only repartition of a small frame into ONE task, which
    * then writes every value's file serially.
    */
  private def byPartition(df: DataFrame, partitionCol: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col(partitionCol))

  /** [[compactBatches]] for the NON-partitioned `_batch=` trees
    * ([[parquetByBatch]] outputs — [[dedupIngestByBatch]]'s fp/tok
    * index trees and its flags tree): every `_batch ≤ uptoBatch`
    * subtree folds into ONE consolidated `_batch=<smallest folded id>`
    * subtree of exactly `numFiles` files (coalesce, no shuffle), so a
    * lookup's file LISTING stops growing with stream age — at 10⁵
    * micro-batches the un-folded trees' listing is the lookup job
    * itself. Same resumable [[StampedLayout.Swap]], same REPLAY-SAFETY
    * CONTRACT as [[compactBatches]]: only fold `uptoBatch` < the
    * stream's latest committed batch id. The ingest's time-travel
    * filter (`_batch < id`) is unaffected — folded rows keep the
    * smallest folded id, which stays strictly below every batch id
    * that can still replay.
    */
  def compactBatchesFlat(spark: SparkSession,
      out: String, uptoBatch: Long, numFiles: Int = 1,
      fromBatch: Long = 0L): Seq[Long] = {
    require(numFiles >= 1, s"numFiles must be ≥1 (got $numFiles)")
    compactBatchesWith(spark, out, uptoBatch, (folded, tmp) =>
      folded.coalesce(numFiles).write.mode("overwrite").parquet(tmp),
      fromBatch)
  }

  /** One tree an ingest grows under its index root: the subdirectory
    * name and, for a cell-/band-partitioned index tree, its partition
    * column ([[indexByBatch]] layout; `None` is a flat
    * [[parquetByBatch]] tree, folded by [[compactBatchesFlat]]).
    */
  private case class Tree(name: String, partitionCol: Option[String])

  /** [[dedupIngestByBatch]]'s trees, in fold and write order. */
  private val TextTrees =
    Seq(Tree("fp", None), Tree("band", Some("band")), Tree("tok", None))

  /** A codebook-identity stamp an ingest's first tree is built under,
    * and the error for a tree whose sidecar holds another one.
    */
  private case class Stamp(value: String, drift: String => String)

  /** One maintenance call folding ALL THREE of a [[dedupIngestByBatch]]
    * index root's trees (band via [[compactBatches]], fp/tok via
    * [[compactBatchesFlat]]) under the shared replay-safety contract —
    * the stream owner's scheduled pass. Returns the folded batch ids
    * per tree. Each tree's fold is independently crash-resumable; a
    * re-run after a crash finishes whichever swaps were pending.
    */
  def compactIngestTrees(spark: SparkSession, indexRoot: String,
      uptoBatch: Long, numFiles: Int = 1, fromBatch: Long = 0L)
  : Map[String, Seq[Long]] =
    foldTrees(spark, indexRoot, TextTrees, uptoBatch, numFiles, fromBatch)

  /** Folds each of `trees` under `indexRoot` over `_batch` ids
    * [`fromBatch`, `uptoBatch`], in order; the folded ids per tree.
    */
  private def foldTrees(spark: SparkSession, indexRoot: String,
      trees: Seq[Tree], uptoBatch: Long, numFiles: Int, fromBatch: Long)
  : Map[String, Seq[Long]] = trees.map { t =>
    val dir = s"$indexRoot/${t.name}"
    t.name -> t.partitionCol.fold(compactBatchesFlat(spark, dir, uptoBatch,
      numFiles, fromBatch))(compactBatches(spark, dir, _, uptoBatch, fromBatch))
  }.toMap

  /** IN-STREAM fold scheduling — [[compactIngestTrees]] driven from
    * inside the foreachBatch body itself, so an ingest stream keeps its
    * own listings flat without an external maintenance job: call once
    * per micro-batch (or let [[dedupIngestByBatch]]'s `foldEvery` do
    * it); every `everyN` batches it folds all three trees with
    * `uptoBatch = batchId - 2`.
    *
    * That bound is the replay-safety contract DERIVED rather than
    * guessed: inside foreachBatch(batchId) the stream's latest
    * COMMITTED batch is batchId − 1 (the engine dispatches batch B only
    * after B−1's checkpoint commit, and a replayed batch is precisely
    * the last UNcommitted one), so `committed − 1 = batchId − 2` keeps
    * one committed batch unfolded as margin and can never fold a batch
    * that could still replay.
    *
    * Crash-safe at every point in the batch body: the fold is the
    * resumable manifest swap of [[compactBatches]], and a crash
    * anywhere between the fold and the batch's checkpoint commit
    * replays the SAME batchId — the replay's foldIfDue fires again and
    * either finishes a pending swap or no-ops (fewer than two foldable
    * subtrees remain), and the replayed flags recompute identically
    * because folding preserves rows and the folded target id stays
    * strictly below every replayable batch id (the `_batch < batchId`
    * time-travel read sees the same logical state).
    */
  def foldIfDue(spark: SparkSession,
      indexRoot: String, batchId: Long, everyN: Int, numFiles: Int = 1,
      tailOnly: Boolean = false): Map[String, Seq[Long]] = {
    require(everyN > 0, s"foldIfDue cadence must be positive (got $everyN)")
    // tailOnly = the LSM-lite policy: fold ONLY the fresh tail — the
    // ~everyN subtrees since the previous due point — into one run,
    // never re-reading older consolidated runs. Listings then grow as
    // batches/everyN runs (plus the fresh tail) instead of staying
    // constant, but total fold work over the stream is O(n) instead of
    // the full policy's O(n²/everyN): the full fold rewrites the WHOLE
    // accumulated tree every due point (measured: the per-fold wall
    // grows with the corpus, STREAM_1m_f10_r15), which at 10⁴+ batches
    // dominates the stream. Pick full for constant listings on short
    // streams, tail for long-lived ingests. Same replay-safety bound
    // either way (nothing ≥ batchId−1 is ever touched); the range
    // fold's target id is its smallest folded id, so the time-travel
    // filter is unaffected.
    foldRange(batchId, everyN, tailOnly).fold(Map.empty[String, Seq[Long]]) {
      case (upto, from) =>
        compactIngestTrees(spark, indexRoot, upto, numFiles, from)
    }
  }

  /** The fold-due rule every ingest shares: batch `batchId` folds
    * every `everyN`-th id from 2 on, over `_batch` ids
    * [from, batchId − 2] — from 0 under the full policy, from the tail
    * start `batchId − everyN − 1` under `tailOnly`. Nothing at or above
    * batchId − 1 is touched, the replay-safety bound. None when the
    * batch is not due or `everyN` is not positive (no folding).
    */
  private def foldRange(batchId: Long, everyN: Int, tailOnly: Boolean)
  : Option[(Long, Long)] =
    if (everyN > 0 && batchId >= 2 && batchId % everyN == 0)
      Some((batchId - 2,
        if (tailOnly) math.max(0L, batchId - everyN - 1) else 0L))
    else None

  /** The shared fold core: list `_batch=` subtrees in
    * [`fromBatch`, `uptoBatch`], write the consolidated tree to the
    * [[StampedLayout.Swap]] temp tree via `rewrite` (which receives the
    * folded rows WITHOUT `_batch` and the temp path), commit the fold
    * manifest inside it, then swap — per the crash-recovery contract
    * documented on [[compactBatches]].
    *
    * `fromBatch > 0` is the RANGE fold behind the tail policy: only
    * subtrees inside the range fold (into `_batch=<smallest folded
    * id>` — still ≥ fromBatch, so ids stay time-travel-consistent:
    * every folded row's new label is ≤ its true batch id and ≥ the
    * range start, and every lookup bound that admitted the range
    * admits the label). Runs BELOW the range are never read or
    * rewritten — the property that turns a fixed fold cadence from
    * O(n²/everyN) total rewrite work into O(n).
    */
  private def compactBatchesWith(spark: SparkSession, out: String,
      uptoBatch: Long, rewrite: (DataFrame, String) => Unit,
      fromBatch: Long): Seq[Long] = {
    val swap = StampedLayout.swapOf(spark, out)
    import swap.{fs, root, tmp, manifest}
    def finishSwap(fold: (Long, Seq[Long])): Seq[Long] = {
      val (target, folded) = fold
      folded.foreach(b => fs.delete(new Path(root, s"_batch=$b"), true))
      val dest = new Path(root, s"_batch=$target")
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(
          s"compactBatches: rename $tmp -> $dest failed — the folded " +
            "rows are in the temp tree, not the index; re-run to resume")
      // the manifest rode the rename into the batch dir (underscore-
      // hidden from readers); drop it now that the swap is durable
      fs.delete(new Path(dest, StampedLayout.FoldManifest), false)
      // the overwrite replaced listed files; invalidate cached listings
      spark.catalog.refreshByPath(out)
      folded
    }
    if (swap.pending)
      return finishSwap(StampedLayout.readFoldManifest(fs, manifest))
    val batchIds = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_batch="))
      .map(_.getPath.getName.stripPrefix("_batch=").toLong)
      .filter(b => b >= fromBatch && b <= uptoBatch).toSeq.sorted
    if (batchIds.size < 2) return Seq.empty
    rewrite(spark.read.parquet(out).filter(col("_batch").cast("long")
      .between(fromBatch, uptoBatch)).drop("_batch"), tmp.toString)
    StampedLayout.writeFoldManifest(fs, manifest, batchIds.head, batchIds)
    finishSwap((batchIds.head, batchIds))
  }

  /** The per-batch EXACTLY-ONCE protocol of the three self-growing
    * `foreachBatch` ingests — [[dedupIngestByBatch]] (text),
    * [[semanticIngestByBatch]] (vectors) and [[semanticIngestPqByBatch]]
    * (PQ codes). A raw `mode("append")` ingest is at-least-once under
    * foreachBatch replay: a recovered micro-batch would append its
    * index rows AGAIN and later lookups would count them twice. The
    * caller supplies its `trees` under `indexRoot`, an optional codebook
    * `stamp`, `flagsOf` (the batch's flags from one prior per tree,
    * `None` where no earlier batch holds data), the `keep` predicate
    * over those flags and `indexRows` (the kept rows' index frame per
    * tree). Each micro-batch runs, in this order:
    *
    *  1. Drift: a `stamp` that differs from the first tree's sidecar is
    *     refused before ANY tree mutation — a fold-due batch under a
    *     drifted codebook must not compact the tree it is about to
    *     refuse to write into (r16 ADVICE). The codebook is the stream's
    *     invariant (cells assigned under another one mis-route the
    *     probe), so re-clustering needs a new index root.
    *  2. Fold: every `foldEvery`-th batch folds each tree in-stream over
    *     `_batch` ids up to `batchId − 2` — the derived replay-safe
    *     bound, crash analysis and full-vs-tail (`foldTail`) trade of
    *     [[foldIfDue]] — BEFORE the prior read, so that read already
    *     lists the consolidated trees and sees the same rows either way.
    *     0 leaves folding to an outside-the-stream [[compactBatches]] /
    *     [[compactBatchesFlat]] pass run after the checkpoint commits
    *     past the folded ids; a negative cadence is refused before any
    *     tree is touched. The folded target id is the smallest folded
    *     id, strictly below any batch that can still replay, so folds
    *     keep the time-travel contract. Without folds each tree grows
    *     one `_batch=` subtree per micro-batch forever, and at 10⁵
    *     micro-batches the prior read's file LISTING is the job
    *     (STREAM_*_r14).
    *  3. Prior read: each tree is read at `_batch < batchId`, a
    *     partition-pruned TIME-TRAVEL filter, and only when a `_batch=`
    *     subtree below `batchId` holds data files. Bare existence is not
    *     enough: an EMPTY micro-batch leaves only `_SUCCESS`, and reading
    *     that throws "Unable to infer schema" (r16 ADVICE); a tree whose
    *     data all sits at `_batch ≥ batchId` — every replay of the
    *     earliest data-carrying batch — prunes the read to statically
    *     empty, where a probe would still cost ~15 empty-stage Spark
    *     jobs (JobProf r19). The file-system check is that pruning, at
    *     zero jobs.
    *  4. Checkpoint: the flags materialize once, EAGERLY, so the
    *     overlapped writes below do not each recompute them (a lazy
    *     checkpoint would race them into it) — unless every leaf of
    *     their plan is a local relation (a driver finish already holds
    *     the rows), which the writes read without computing anything.
    *  5. Kept join: the batch's rows whose flags pass `keep`.
    *  6. Writes: the flags batch-keyed under `flagsOut` (the stream's
    *     product) and each tree's kept index rows under `_batch=<id>`,
    *     overlapped from the driver pool (guide §2.6): disjoint trees,
    *     no ordering contract between them.
    *  7. Stamp: after the first write, so the sidecar never outlives a
    *     crashed pre-write batch; a replay re-stamps identically.
    *
    * EXACTLY-ONCE: a replayed batch can find its OWN rows already in
    * the trees, and flagging a row against itself would flip it (kept →
    * self-dup), rewrite a different subtree than the first run, and
    * poison every later batch. The time-travel read gives a replay
    * exactly the state its first run saw, so it recomputes
    * byte-identical flags and each dynamic-partition overwrite of
    * `_batch=<id>` is a no-op rewrite. The writes are not atomic as a
    * group, but any partial state a crash leaves is healed by the same
    * property: the replay overwrites each `_batch=<id>` partition from
    * flags that depend only on `_batch < id` state (crash+replay ≡
    * uninterrupted, spec'd in StreamingSpec). Consumers of `flagsOut`
    * get the contract of every foreachBatch side output: a batch's
    * subtree can exist before its checkpoint commits (and before its
    * index rows land) — gate consumption on the stream's committed
    * offsets, or tolerate the last batch being rewritten in place.
    *
    * WITHIN-batch dups are out of contract (the corpus-lookup shape
    * flags batch vs corpus): a micro-batch carrying internal copies
    * keeps them all this round and dedups against them from the next
    * batch on; pre-collapse the batch (`exactDedupFlags` /
    * `componentDedupFlags`) when that matters.
    */
  private def ingestBatch(df: DataFrame, batchId: Long, indexRoot: String,
      flagsOut: String, idCol: String, trees: Seq[Tree],
      stamp: Option[Stamp], foldEvery: Int, foldTail: Boolean)(
      flagsOf: Seq[Option[DataFrame]] => DataFrame, keep: Column,
      indexRows: DataFrame => Seq[DataFrame]): Unit = {
    require(foldEvery >= 0,
      s"foldEvery must be ≥ 0, 0 = no in-stream fold (got $foldEvery)")
    val spark = df.sparkSession
    val dirs = trees.map(t => s"$indexRoot/${t.name}")
    val sidecar =
      stamp.flatMap(_ => StampedLayout.readStampSidecar(spark, dirs.head))
    for (s <- stamp; found <- sidecar if found != s.value)
      throw new IllegalStateException(s.drift(found))
    for ((upto, from) <- foldRange(batchId, foldEvery, foldTail))
      foldTrees(spark, indexRoot, trees, upto, numFiles = 1, from): Unit
    val (fs, _) = FsUtil.fsOf(spark, indexRoot)
    val priors = dirs.map(dir =>
      Option.when(FsUtil.hasBatchDataBelow(fs, new Path(dir), batchId))(
        spark.read.parquet(dir)
          .filter(col("_batch").cast("long") < batchId).drop("_batch")))
    val probed = flagsOf(priors)
    val flags = if (probed.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])) probed
      else probed.localCheckpoint()
    val kept = df.join(flags.filter(keep).select(idCol), Seq(idCol))
    val indexWrites = dirs.lazyZip(trees).lazyZip(indexRows(kept)).map {
      (dir, t, rows) => () => writeByBatch(dir, t.partitionCol, rows, batchId)
    }
    ParallelActions.run(
      (() => parquetByBatch(flagsOut)(flags, batchId)) +: indexWrites)
    if (sidecar.isEmpty) stamp.foreach(s =>
      StampedLayout.writeStampSidecar(spark, dirs.head, s.value))
  }

  /** Self-growing exactly-once streaming TEXT dedup ingest — the
    * text-dedup analog of [[indexByBatch]]'s ANN build, closing the
    * loop the batch-side `corpusIndexesAppend` leaves open in a stream.
    * Each micro-batch is flagged against the index rows of every
    * EARLIER batch ([[graft.ops.Dedup.crossDedupFlagsFromIndexes]] over
    * the accumulated batch-keyed (fp, band, tok) trees under
    * `indexRoot` — zero passes over earlier batches' text; a tree with
    * no earlier data reads as an empty frame of the batch's own shape),
    * writes its flags `(id, exact_dup, near_dup)` to `flagsOut`, and
    * indexes its KEPT (non-dup) docs in all three trees, so later
    * batches dedup against everything kept so far. Protocol, replay
    * and crash analysis: [[ingestBatch]].
    *
    * `foldEvery = N` folds all three trees in-stream
    * ([[foldIfDue]]'s rule; `foldTail` picks the tail policy); the
    * default 0 leaves folding to an outside-the-stream
    * [[compactIngestTrees]] pass (the band tree is
    * [[compactBatches]]-shaped, partitionCol "band"; the fp/tok trees —
    * and the flags tree, if its consumers want it — fold with
    * [[compactBatchesFlat]]).
    */
  def dedupIngestByBatch(indexRoot: String, flagsOut: String,
      textCol: String, idCol: String, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.3, foldEvery: Int = 0,
      foldTail: Boolean = false)(df: DataFrame, batchId: Long): Unit = {
    def indexes(profile: DataFrame): Seq[DataFrame] = {
      val (f, b, t) = Dedup.corpusIndexesFromProfile(profile, numHashes, bands)
      Seq(f, b, t)
    }
    ingestBatch(df, batchId, indexRoot, flagsOut, idCol, TextTrees, None,
      foldEvery, foldTail)(
      priors => {
        val shapes = indexes(Dedup.corpusProfile(df, textCol, idCol))
        val Seq(fp, band, tok) = priors.lazyZip(shapes)
          .map((prior, shape) => prior.getOrElse(shape.filter(lit(false))))
        Dedup.crossDedupFlagsFromIndexes(df, textCol, idCol, fp, band, tok,
          numHashes, bands, minJaccard)
      },
      !col("exact_dup") && !col("near_dup"),
      // ONE text pass (fingerprint + shingles), checkpointed, feeds all
      // three index writes — the corpusIndexesAppend convention; without
      // it each write re-runs the join + profile
      kept => indexes(Dedup.corpusProfile(kept, textCol, idCol)
        .localCheckpoint()))
  }

  /** Flags for a batch no earlier batch precedes with data: every row
    * keeps, no search job runs. The semantic ingests' flags schema
    * (id, neighbor_id, `score`, keep) with null neighbors.
    */
  private def allKeep(df: DataFrame, idCol: String, score: String): DataFrame =
    df.select(col(idCol),
      lit(null).cast(df.schema(idCol).dataType).as("neighbor_id"),
      lit(null).cast("double").as(score), lit(true).as("keep"))

  /** The EMBEDDING-family twin of [[dedupIngestByBatch]]: a
    * self-growing exactly-once streaming SEMANTIC dedup ingest. Each
    * micro-batch of (id, vector) rows is flagged against the vectors
    * every EARLIER batch kept (keep iff best cosine under the IVF
    * probe < `tau` — [[graft.ops.Similarity.semanticDedupFlags]]'s
    * contract, nProbe cells probed per query), writes flags (id,
    * neighbor_id, cos_sim, keep) to `flagsOut`, then appends only its
    * KEPT rows' (id, vec, cell) index rows under
    * `vec/_batch=<id>/cell=<c>`, so the probe prunes at BOTH levels
    * (batch subtrees by the time-travel bound, cells by the static
    * probe predicate). The first batch stamps the tree with the
    * codebook's identity sidecar, the same O(1) mechanism the persisted
    * IVF index uses, and a later batch under a drifted codebook is
    * refused. Protocol, replay and crash analysis: [[ingestBatch]].
    *
    * `excludeSelf` defaults false here (a streaming ingest's ids are
    * new by construction); pass true for the corpus-refresh case where
    * a re-embedded id must not match its own old row. `foldEvery = N`
    * folds the vec tree in-stream ([[compactBatches]], partitionCol
    * "cell"; policy trade on [[foldIfDue]]); the flags tree is the
    * caller's to fold ([[compactBatchesFlat]]) if its consumers want
    * it.
    *
    * The centroid frame is collected once per micro-batch (one Spark
    * job per batch on a plan-backed frame). A caller that feeds many
    * batches by hand resolves the codebook once with
    * [[graft.ops.Similarity.Centroids]] and passes its
    * [[graft.ops.Similarity.Centroids#frame]], whose collect runs no
    * job.
    */
  def semanticIngestByBatch(indexRoot: String, flagsOut: String,
      idCol: String, vecCol: String, centroids: DataFrame,
      centroidIdCol: String, centroidVecCol: String, tau: Double,
      nProbe: Int = 2, excludeSelf: Boolean = false, foldEvery: Int = 0,
      foldTail: Boolean = false)(df: DataFrame, batchId: Long): Unit = {
    val cents = Similarity.Centroids(centroids, centroidIdCol, centroidVecCol)
    val stamp = Stamp(cents.stamp, s => "semanticIngestByBatch: this " +
      s"call's codebook (stamp ${cents.stamp}) is not the one the index " +
      s"tree at $indexRoot/vec was built under ($s) — the accumulated " +
      "cell assignments would mis-route the probe. Re-clustering " +
      "requires a new index root.")
    ingestBatch(df, batchId, indexRoot, flagsOut, idCol,
      Seq(Tree("vec", Some("cell"))), Some(stamp), foldEvery, foldTail)(
      _.head.fold(allKeep(df, idCol, "cos_sim"))(prior =>
        Similarity.semanticDedupFlags(df, idCol, vecCol, prior, idCol,
          vecCol, cents, tau, nProbe, excludeSelf)),
      col("keep"),
      // repartition by cell before the write: one file per TOUCHED cell
      // per batch instead of one per (cell × input partition) — at 32
      // cores the un-repartitioned tree lists ~32× more files for the
      // same rows, and the probe's per-cell listing is exactly what the
      // fold exists to protect. The shuffle is batch-sized.
      kept => Seq(byPartition(Similarity.ivfAssign(
        kept.select(col(idCol), col(vecCol)), idCol, vecCol, cents)
        .select(col(idCol), col(vecCol), col("cell")), "cell")))
  }

  /** The NO-FULL-VECTOR regime of [[semanticIngestByBatch]] — the
    * streaming twin of [[graft.ops.Pq.semanticDedupFlagsPq]], closing
    * the 100 TB streaming gap the plain ingest leaves open: its vec
    * tree stores the FULL vector per kept row (~0.5 TB at 10⁹ 64-dim
    * vectors — the payload the IVF-PQ index exists to avoid), and its
    * in-stream folds REWRITE that payload every due point. Here each
    * micro-batch is flagged by top-1 against the earlier batches'
    * accumulated (id, pq_code, cell) tree under `code/` — the probe
    * reads m bytes per candidate, never a vector — and appends only its
    * KEPT rows' codes, so the tree the stream grows (and the folds
    * rewrite) is ~(8·dim)/m× smaller than the plain ingest's (64× at
    * dim=64, m=8; measured in SEMINGEST_PQ_1m_r16). Protocol, replay
    * and crash analysis: [[ingestBatch]]; `foldEvery`/`foldTail` as in
    * the plain ingest.
    *
    * The stream invariant widens to BOTH codebooks: the sidecar carries
    * the combined IVF+PQ stamp ([[graft.ops.Pq.combinedStamp]]), and a
    * drift in EITHER is refused before any tree mutation — a drifted
    * IVF codebook mis-routes the probe, a drifted PQ codebook mis-SCORES
    * it (silently, which is worse). Re-clustering or re-training
    * requires a new index root;
    * [[graft.ops.Similarity.rebuildUnderCodebook]]-family migration ops
    * are the managed path out.
    *
    * Flag semantics are [[graft.ops.Pq.semanticDedupFlagsPq]]'s:
    * `keep = no indexed neighbor within tauDist` (probed-cell misses
    * surface as NULL neighbors ⇒ keep). The trade vs the plain ingest
    * is quantization error in the SCORE — a true near-dup straddling
    * tauDist by less than the probe error can flip (the recall/τ study
    * in SEMDEDUP artifacts). Flags are (id, neighbor_id, <score>,
    * keep), batch-keyed under `flagsOut`.
    *
    * `probeMode` picks the probe kernel — the score column name and
    * the τ recipe follow it:
    *  - "adc" (default): per-query m·k-double LUTs, score `adc_dist`.
    *    The LUT is 32× a dim-64 vector, so at LARGE batch sizes the
    *    per-batch broadcast+hash-probe cost dominates the ingest wall
    *    (measured 1.9× the plain ingest's at 20k-row batches,
    *    SEMINGEST_PQ_1m_f10_r16).
    *  - "sdc": the batch ships m-byte query CODES against the ONE
    *    shared m·k² table ([[graft.ops.Pq.semanticDedupFlagsPqSdc]]),
    *    score `sdc_dist` — the large-batch regime this ingest's shape
    *    is (a micro-batch IS a large query batch); chunking past the
    *    broadcast ceiling is automatic. The price is the second
    *    quantization on the query side — measured ~13% of planted
    *    near-dups missed at the random-unit worst case vs ADC's ~1.5%
    *    (SEMINGEST_PQ_SDC_1m_f10_r17).
    *  - "hybrid": SDC for the whole batch, ADC re-scoring for ONLY the
    *    straddlers — the queries whose best symmetric distance lands
    *    within `band` of `tauDist` ([[graft.ops.Pq
    *    .semanticDedupFlagsPqHybrid]]) — closing the SDC recall notch
    *    at band-sized ADC cost (99.98% ADC-verdict agreement at 1/6
    *    its wall, HYBRID_1m_r17.json). Score column stays `sdc_dist`
    *    (the cheap pass's attribution); `tauDist` is the SDC
    *    threshold and `tauAdc`/`band`/`refineK` (hybrid-only
    *    parameters, refused in other modes) shape the refinement.
    * Either way `tauDist` must be calibrated FOR THE MODE —
    * [[graft.ops.Pq.calibrateTauDist]] with the matching `mode` is the
    * executable recipe (boundary-pair measurement; SDC straddler pairs
    * share codes, so its τ is NOT simply the ADC τ plus a bias).
    * Hybrid calibrates BOTH: `tauDist` in mode "sdc", `tauAdc` in
    * mode "adc". The modes flag-agree wherever quantization doesn't
    * straddle (flag parity on a lossless codebook is spec'd). The
    * CODE tree is mode-independent (codes under the combined stamp —
    * a mid-stream switch probes the same tree correctly), but the
    * FLAGS tree's score column follows the mode: batches written
    * across an adc↔(sdc|hybrid) switch carry different score columns,
    * so flags consumers spanning one need `mergeSchema` (or project
    * (id, keep) only).
    *
    * Downstream of this tree: probes/dedup read codes only; when exact
    * re-rank is wanted, fetch candidates' vectors BY ID from the
    * stream's source table (candidate-sized join) — the ingest
    * deliberately does not persist a vector twin, that regime is the
    * plain [[semanticIngestByBatch]].
    *
    * Like the plain ingest, each micro-batch collects the centroid
    * frame once; a multi-batch caller passes a resolved codebook's
    * [[graft.ops.Similarity.Centroids#frame]] so that collect runs no
    * Spark job.
    *
    * REGIME (modes "sdc" and "hybrid"): a micro-batch whose (id,
    * vector) rows and probed cells' prior codes fit
    * `spark.sql.autoBroadcastJoinThreshold`, and whose (query,
    * candidate) pairs fit one per byte of it, is flagged on the driver
    * ([[graft.ops.DriverFinish]]; the rule is
    * [[graft.ops.Pq.semanticDedupFlagsPqSdc]]'s), anything larger —
    * or any batch under a negative threshold — by the distributed
    * probe. The flags and the code tree are the same either way; flags
    * the driver holds skip the checkpoint.
    */
  def semanticIngestPqByBatch(indexRoot: String, flagsOut: String,
      idCol: String, vecCol: String, centroids: DataFrame,
      centroidIdCol: String, centroidVecCol: String, cb: Pq.Codebook,
      tauDist: Double, nProbe: Int = 2, excludeSelf: Boolean = false,
      foldEvery: Int = 0, foldTail: Boolean = false, probeMode: String = "adc",
      tauAdc: Double = Double.NaN, band: Double = Double.NaN,
      refineK: Int = 4)(df: DataFrame, batchId: Long): Unit = {
    require(Seq("adc", "sdc", "hybrid").contains(probeMode),
      "semanticIngestPqByBatch: probeMode must be \"adc\", \"sdc\" or " +
        s""""hybrid" (got "$probeMode")""")
    val hybrid = probeMode == "hybrid"
    require(tauAdc.isNaN != hybrid && band.isNaN != hybrid,
      if (hybrid) "semanticIngestPqByBatch: probeMode=hybrid needs " +
        "tauAdc AND band (tauDist is the SDC threshold; calibrate tauAdc " +
        "with Pq.calibrateTauDist mode=\"adc\", band ≈ the boundary " +
        "spread — 0 degenerates to pure sdc)"
      else s"semanticIngestPqByBatch: tauAdc/band are hybrid-only " +
        s"parameters (probeMode=$probeMode) — a silently-ignored " +
        "threshold is a mis-calibration waiting to happen")
    val cents = Similarity.Centroids(centroids, centroidIdCol, centroidVecCol)
    val combined = Pq.combinedStamp(cents, cb)
    val stamp = Stamp(combined, s => "semanticIngestPqByBatch: this " +
      s"call's codebooks (combined stamp $combined) are not the ones the " +
      s"code tree at $indexRoot/code was built under ($s) — a drifted IVF " +
      "codebook mis-routes the probe, a drifted PQ codebook mis-scores " +
      "it. Re-clustering/re-training requires a new index root.")
    val scoreCol = if (probeMode == "adc") "adc_dist" else "sdc_dist"
    ingestBatch(df, batchId, indexRoot, flagsOut, idCol,
      Seq(Tree("code", Some("cell"))), Some(stamp), foldEvery, foldTail)(
      _.head.fold(allKeep(df, idCol, scoreCol))(prior => probeMode match {
        case "sdc" => Pq.semanticDedupFlagsPqSdc(df, idCol, vecCol, prior,
          idCol, cents, cb, tauDist, nProbe, excludeSelf)
        case "hybrid" => Pq.semanticDedupFlagsPqHybrid(df, idCol, vecCol,
          prior, idCol, cents, cb, tauDist, tauAdc, band, refineK, nProbe,
          excludeSelf)
        case _ => Pq.semanticDedupFlagsPq(df, idCol, vecCol, prior, idCol,
          cents, cb, tauDist, nProbe, excludeSelf)
      }),
      col("keep"),
      // assign + encode in one batch-sized scan, repartitioned by cell
      // as in the plain ingest
      kept => Seq(byPartition(Pq.encode(Similarity.ivfAssign(
        kept.select(col(idCol), col(vecCol)), idCol, vecCol, cents),
        vecCol, cb).select(col(idCol), col("pq_code"), col("cell")),
        "cell")))
  }
}
