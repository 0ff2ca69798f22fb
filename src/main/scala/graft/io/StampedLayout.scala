package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The on-disk protocol shared by every persisted index layout — the
  * IVF index, the IVF-PQ code/vector pair, the text band index and the
  * streaming ingest trees:
  *
  *  - an identity STAMP (codebook or banding params), kept in the
  *    [[StampSidecar]] file at the layout root and in the in-data
  *    `_params` column, checked driver-side by [[verifyStamp]];
  *  - a crash-resumable compaction [[Swap]]: a temp tree next to the
  *    root whose [[FoldManifest]] commits the swap before any source
  *    directory is touched;
  *  - the [[migrationDone]] preflight every rebuild-under-new-params
  *    migration runs before it writes.
  *
  * The two swap algorithms stay with their layouts
  * (`Similarity.compactCells` renames cells in one by one,
  * `IdempotentSink.compactBatches` deletes batches and renames one tree
  * in); this object owns the names, the manifest codec and the checks.
  */
object StampedLayout {

  /** Sidecar stamp file at a layout root. Named with a leading
    * underscore so parquet readers treat it as hidden metadata (the
    * `_SUCCESS` convention). The sidecar makes stamp verification O(1)
    * — one tiny file read — where the in-data `_params` column scan
    * grows with the layout's file count (every append adds a file set
    * whose footers the per-call distinct must visit). The data column
    * stays as the fallback for hand-assembled layouts and as the
    * consistency anchor: both are written at the same commit, so they
    * cannot diverge except by hand-tampering.
    */
  private[graft] val StampSidecar = "_graft_ivf_stamp"

  /** The resumable-swap commit record: its presence inside a temp tree
    * means the consolidated rows are COMPLETE and the source-dir
    * deletes may have begun — a re-run must finish the swap, never
    * rewrite the tree. Payload: a target id and the folded ids
    * (`compactBatches`: target batch + folded batches; `compactCells`:
    * the compacted cell ids, first as target), each
    * crash-injection-spec'd in StreamingSpec.
    */
  private[graft] val FoldManifest = "_graft_fold"

  private[graft] def writeStampSidecar(spark: SparkSession, dir: String,
      stamp: String): Unit = {
    val (fs, p) = FsUtil.fsOf(spark, dir)
    val out = fs.create(new Path(p, StampSidecar), true)
    try out.write((stamp + "\n").getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readStampSidecar(spark: SparkSession, dir: String)
  : Option[String] = {
    val (fs, p) = FsUtil.fsOf(spark, dir)
    FsUtil.readFullyUtf8(fs, new Path(p, StampSidecar))
  }

  /** The sidecar stamp of the single root directory a reloaded
    * file-source frame scans — the hook that lets the probe APIs, which
    * take the reloaded DataFrame and not a path, find the sidecar.
    * Frames not backed by exactly one file-source root (unions,
    * in-memory frames) return None.
    */
  private[graft] def sidecarOf(index: DataFrame): Option[String] =
    scala.util.Try {
      index.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => h.location.rootPaths
            case _ => Seq.empty[Path]
          }
      }.flatten
    }.toOption.collect { case Seq(root) => root.toString }
      .flatMap(readStampSidecar(index.sparkSession, _))

  /** The distinct in-data `_params` stamps, sorted, NULL as `<null>`;
    * None when the frame has no `_params` column. One column-pruned
    * Spark job.
    */
  private def dataStamps(index: DataFrame): Option[Seq[String]] =
    Option.when(index.columns.contains("_params"))(
      index.select(col("_params")).distinct().collect()
        .map(r => Option(r.getString(0)).getOrElse("<null>")).toSeq.sorted)

  private def warnUnstamped(caller: String, what: String,
      expected: String, builder: String): Unit =
    System.err.println(s"[graft] $caller: $what has no stamp — cannot " +
      s"verify it was built under $expected; a mismatched layout " +
      "silently mis-routes lookups or matches nothing." +
      (if (builder.isEmpty) "" else s" Build it with $builder to get one."))

  /** Verify a layout's stamp ONCE, driver-side, before any plan is
    * built: every stamp it carries must be one of `accepted` (several
    * when a legacy format names the same identity). A per-row check
    * only fires when a probed cell actually produces rows, so a stale
    * index whose probed cells happen to be empty would return an empty
    * result unverified. A zero-ROW index is an error too — there is no
    * stamp to verify, and probing a truncated layout as if it were the
    * corpus is the same silent wrong-empty answer. NULL stamps (stamped
    * and hand-appended stampless files mixed) fail with the diagnostic.
    *
    * Cost: O(1) when the frame's root carries the [[StampSidecar]] (one
    * tiny metadata read, however many appends the layout holds);
    * otherwise one column-pruned `_params` distinct, whose cost grows
    * with the file count. A stampless index (no sidecar, no `_params`)
    * is flagged on stderr, naming `builder` when given, rather than
    * silently trusted — the hand-built escape hatch. Returns the frame
    * without `_params`.
    */
  private[graft] def verifyStamp(index: DataFrame, accepted: Seq[String],
      caller: String,
      desc: String = "IVF index assigned under a different codebook",
      builder: String = ""): DataFrame = {
    val expected = accepted.mkString(" | ")
    sidecarOf(index).map(s => ("sidecar", Seq(s)))
      .orElse(dataStamps(index).map(("index", _))) match {
      case None =>
        warnUnstamped(caller, "index", expected, builder)
        index
      case Some((_, Seq())) =>
        throw new IllegalStateException(
          s"$caller: index has zero rows — nothing to verify the " +
            s"stamp against (expected $expected). A truncated or " +
            "never-built layout must fail the probe, not answer empty.")
      case Some((where, stamps)) =>
        if (!stamps.forall(accepted.contains))
          throw new IllegalStateException(s"$caller: $desc than this " +
            s"probe (expected $expected, $where has ${stamps.mkString(", ")})")
        if (index.columns.contains("_params")) index.drop("_params")
        else index
    }
  }

  /** The one stamp of the layout at `dir` — its sidecar, else the
    * single in-data `_params` value — for a caller that must READ the
    * stamp rather than match it (re-banding checks the old layout's
    * tokenizer, whatever its banding). A layout mixing stamps refuses;
    * a stampless or data-free one is flagged on stderr and reads None.
    */
  private[graft] def layoutStamp(spark: SparkSession, dir: String,
      caller: String, expected: String): Option[String] = {
    val (fs, p) = FsUtil.fsOf(spark, dir)
    readStampSidecar(spark, dir).map(Seq(_)).orElse(
      if (FsUtil.hasDataFiles(fs, p)) dataStamps(spark.read.parquet(dir))
      else None) match {
      case Some(Seq(s)) => Some(s)
      case Some(stamps) if stamps.size > 1 =>
        throw new IllegalStateException(s"$caller: $dir mixes stamps " +
          s"(${stamps.mkString(", ")}) — repair it before migrating")
      case _ =>
        warnUnstamped(caller, dir, expected, builder = "")
        None
    }
  }

  /** A layout root's compaction swap: the `tmp` tree the consolidated
    * rows are written to, next to the root, and the [[FoldManifest]]
    * inside it. A committed manifest is a PENDING swap — some
    * partitions' only copy may live in `tmp`.
    */
  private[graft] final case class Swap(fs: FileSystem, root: Path) {
    val tmp = new Path(root.getParent, root.getName + "_compact_tmp")
    val manifest = new Path(tmp, FoldManifest)
    def pending: Boolean = fs.exists(manifest)
  }

  private[graft] def swapOf(spark: SparkSession, dir: String): Swap = {
    val (fs, p) = FsUtil.fsOf(spark, dir)
    Swap(fs, p)
  }

  private[graft] def writeFoldManifest(fs: FileSystem, manifest: Path,
      target: Long, folded: Seq[Long]): Unit = {
    val out = fs.create(manifest, true)
    try out.write(s"$target\n${folded.mkString(",")}\n".getBytes("UTF-8"))
    finally out.close()
  }

  private[graft] def readFoldManifest(fs: FileSystem,
      manifest: Path): (Long, Seq[Long]) = {
    val lines = FsUtil.readFullyUtf8(fs, manifest)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"fold manifest $manifest vanished mid-read"))
      .split("\n")
    (lines(0).toLong, lines(1).split(",").map(_.toLong).toSeq)
  }

  /** The preflight of a rebuild-under-new-params migration, before it
    * writes anything:
    *
    *  1. Old roots: a PENDING compaction swap refuses
    *     (IllegalStateException) — mid-swap, some partitions' only copy
    *     is in the temp tree, and rebuilding from the main tree alone
    *     would silently drop their rows; then a root without data files
    *     refuses (IllegalArgumentException) — migrating a never-built or
    *     truncated layout must not produce an empty index. Roots in
    *     `mayBeEmpty` skip the data check.
    *  2. New roots, each paired with the stamp the migration gives it:
    *     true (nothing to do) when every one already carries its stamp
    *     — sidecars are written last, so that is a finished migration
    *     and the re-run is an idempotent resume; any carrying a
    *     DIFFERENT stamp refuses — a complete foreign layout, not a
    *     resume.
    *  3. Otherwise false: the roots are fresh or a crashed partial,
    *     which the migration's overwrite-mode writes replace.
    */
  private[graft] def migrationDone(spark: SparkSession, caller: String,
      oldRoots: Seq[String], newRoots: Seq[(String, String)],
      mayBeEmpty: Set[String] = Set.empty): Boolean = {
    oldRoots.foreach { dir =>
      val swap = swapOf(spark, dir)
      if (swap.pending)
        throw new IllegalStateException(
          s"$caller: $dir has a pending compaction swap " +
            s"(${swap.manifest}) — some partitions' only copy is in the " +
            "temp tree, and rebuilding from the main tree alone would " +
            "silently drop their rows. Finish the swap (re-run the " +
            "compaction), then migrate.")
      require(mayBeEmpty(dir) || FsUtil.hasDataFiles(swap.fs, swap.root),
        s"$caller: no data files under $dir — migrating a never-built " +
          "or truncated layout must fail, not produce an empty index")
    }
    val found = newRoots.map { case (dir, stamp) =>
      (dir, stamp, readStampSidecar(spark, dir)) }
    for ((dir, stamp, Some(s)) <- found if s != stamp)
      throw new IllegalStateException(
        s"$caller: $dir already holds a COMPLETE layout under other " +
          s"params (sidecar $s, this migration targets $stamp) — " +
          "refusing to overwrite it; pick a fresh root")
    val done = found.forall { case (_, stamp, s) => s.contains(stamp) }
    if (done) System.err.println(s"[graft] $caller: " +
      s"${newRoots.map(_._1).mkString(" and ")} already carry this " +
      "migration's stamps — nothing to do")
    done
  }
}
