package graft.io

/** Shared IO for the engine's tiny protocol files — stamp sidecars,
  * boundary pins, fold manifests — and the layout-existence probes.
  * One read-fully primitive instead of a per-module copy, so
  * stream-semantics fixes (short reads, charset) propagate everywhere
  * at once. These files are bytes-to-low-KBs by contract; this is NOT a
  * data-file reader. The stamped-layout protocol built on them (stamp
  * sidecar, compaction swap, migration preflight) is [[StampedLayout]].
  */
object FsUtil {

  /** The file system `dir` lives on, under the session's Hadoop conf,
    * with `dir` as a Path.
    */
  private[graft] def fsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String)
  : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The file's full content as trimmed UTF-8 text; None when absent. */
  def readFullyUtf8(fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(bytes.toString("UTF-8").trim)
      } finally in.close()
    }

  /** True iff the tree at `root` holds at least one DATA file — a
    * non-hidden file anywhere under it, descending into partition
    * directories (`name=value`, which may legitimately start with `_`,
    * e.g. the streaming ingests' `_batch=` keying) but not into hidden
    * ones. This is the "does a prior layout exist" probe the streaming
    * ingests need: `fs.exists(root)` is NOT it — an EMPTY micro-batch's
    * dynamic-partition overwrite creates the root with only `_SUCCESS`
    * (and possibly a stamp sidecar), no data files and no partition
    * dirs, and `spark.read.parquet` over such a tree throws "Unable to
    * infer schema"; keyed off bare existence, every replay of the next
    * batch then fails identically and the stream wedges with no
    * recovery (r16 ADVICE). Short-circuits on the first data file, so
    * on a populated tree this is one directory listing deep.
    *
    * Visibility matches Spark's InMemoryFileIndex filter EXACTLY
    * (r17 ADVICE): a `.`-prefixed name is hidden UNCONDITIONALLY —
    * Spark filters it even when it contains `=`, so counting a
    * `.x=1/` subtree as data here would report "data exists" for a
    * tree `spark.read.parquet` still refuses, the exact wedge this
    * probe prevents; a `_`-prefixed name is hidden only WITHOUT `=`
    * (partition dirs like `_batch=0` are data-visible). A concurrent
    * fold deleting a `_batch=` subtree mid-walk surfaces as
    * FileNotFoundException from listStatus — treated as "that subtree
    * holds no data" rather than crashing the probe (the fold only ever
    * removes batches whose rows its consolidated subtree re-hosts, so
    * a sibling still answers the existence question).
    */
  def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean = {
    def visible(n: String) =
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    def walk(p: org.apache.hadoop.fs.Path): Boolean =
      try fs.listStatus(p).exists { s =>
        visible(s.getPath.getName) && (!s.isDirectory || walk(s.getPath))
      } catch {
        case _: java.io.FileNotFoundException => false
      }
    try fs.exists(root) && fs.getFileStatus(root).isDirectory && walk(root)
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** True iff some `_batch=<k>` subtree with k < `batchId` holds a data
    * file — the FS-metadata form of the streaming ingests' `_batch <
    * batchId` time-travel read's PARTITION PRUNING. When false, the
    * pruned prior scan is statically empty, the probe against it is a
    * no-op (every flag comes back "keep", exactly the documented
    * first-batch contract), and the caller can take the first-batch
    * fast path without planning the probe at all — a REPLAYED batch 0
    * otherwise pays ~15 empty-stage Spark jobs of pure driver overhead
    * per invocation (measured: JobProf r19, q138/q141/q146 epoch 0).
    * False negatives are impossible (prior rows require a data file in
    * a qualifying subtree); a false positive (a zero-row data file)
    * just routes through the ordinary probe, which computes the same
    * flags. Non-numeric `name=value` dirs are not `_batch=` subtrees
    * and are ignored.
    */
  def hasBatchDataBelow(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, batchId: Long): Boolean =
    try fs.exists(root) && fs.getFileStatus(root).isDirectory &&
      fs.listStatus(root).exists { s =>
        s.isDirectory && {
          val n = s.getPath.getName
          n.startsWith("_batch=") &&
            scala.util.Try(n.stripPrefix("_batch=").toLong).toOption
              .exists(_ < batchId) &&
            hasDataFiles(fs, s.getPath)
        }
      }
    catch { case _: java.io.FileNotFoundException => false }
}
