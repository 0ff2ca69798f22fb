package graft.io

import org.apache.spark.sql.DataFrame

/** Bucketed-table layouts — the SHUFFLE-FREE co-located join path.
  *
  * A plain parquet tree carries no partitioning guarantee Catalyst can
  * trust, so every big join/aggregation on it re-shuffles both sides
  * on the key — at 100 TB the exchange IS the job, and it repeats for
  * every consumer. Writing the table BUCKETED (`bucketBy(n, key)` +
  * `saveAsTable`) records `hash(key) % n` co-location in the catalog:
  * any join or aggregation keyed on the bucket column then satisfies
  * its clustering requirement straight off the scan — zero Exchange on
  * the bucketed side(s), proven by plan gate in BucketedSpec. Two
  * tables bucketed with the SAME n on their join keys sort-merge-join
  * with no shuffle on either side; a `groupBy(key)` on one table
  * partial-aggregates and finishes without any exchange at all.
  *
  * This is the write-once/read-many counterpart of the repartition()
  * the pipeline would otherwise pay per query: pay one bucketed write
  * per corpus snapshot, then every downstream join/agg on that key is
  * map-side. The pinned range-shard layout ([[ShardWriter]]) solves
  * the ORDERED access pattern (key-range reads); buckets solve the
  * EQUI-JOIN pattern — hash co-location is useless for ranges and
  * range shards are useless to Catalyst's hash-clustering requirement,
  * so the two layouts coexist.
  *
  * Buckets also PRUNE: a point predicate on the bucket key plans as
  * `SelectedBucketsCount: 1 out of n` — a 1/n scan with no layout
  * metadata beyond the catalog entry. Caveat:
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled` (default
  * true) falls back to a plain scan when no operator in the plan
  * consumes the clustering, which ALSO forfeits the pruning on bare
  * point lookups — pin it false for lookup-heavy workloads (the
  * joins/aggs this layout primarily serves are unaffected either way).
  *
  * The table is EXTERNAL (explicit `path`): dropping the catalog entry
  * never deletes data, and a fresh session re-registers the same files
  * with one `saveAsTable`-shaped write or a `CREATE TABLE ... USING
  * parquet CLUSTERED BY` DDL over the existing path. Bucket count is
  * the layout's contract — Spark only elides the shuffle when the
  * join's sides agree (or one side's count divides the other's with
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`); pick n once
  * per key domain (a power of two ~= cluster cores) and keep it.
  */
object BucketedTables {

  /** Scale-aware bucket count for [[writeBucketed]] (r19, the r18
    * verdict's follow-up): [[writeBucketed]]'s repartition makes one
    * task = one bucket = exactly one file, so nBuckets IS the write's
    * parallelism AND its file-size knob — a fixed 8 serializes a
    * 100 TB table through eight writer tasks (the r18 caveat), while a
    * count scaled to the input keeps both per-file bytes and write
    * parallelism bounded. One bucket per `targetBucketBytes` of the
    * frame's ESTIMATED size (Catalyst stats — file-length-based for
    * parquet scans, so cheap and metadata-only), rounded UP to a power
    * of two and THEN clamped to [minBuckets, maxBuckets] (a
    * non-power-of-two bound wins over the rounding). Powers of two
    * because the bucket count is the layout's JOIN contract: Spark
    * elides the join shuffle when the sides' counts agree, or (with
    * coalesceBucketsInJoin) when one divides the other — power-of-two
    * counts maximize the divisibility across snapshots that grew.
    * Tables that will JOIN on the bucket key must share one count:
    * derive it from the LARGEST side of the key domain and pass it to
    * every writer (q136 does). The local default minBuckets=8 keeps
    * the gate fixtures' layout — and q136's zero-exchange read plan —
    * byte-identical to the fixed count they used before; production
    * values are the targetBucketBytes/maxBuckets knobs, not a code
    * change.
    */
  def bucketCountFor(df: DataFrame, targetBucketBytes: Long = 1L << 30,
      minBuckets: Int = 8, maxBuckets: Int = 1 << 16): Int = {
    require(targetBucketBytes > 0, "targetBucketBytes must be positive")
    require(minBuckets >= 1 && maxBuckets >= minBuckets,
      s"need 1 <= minBuckets ($minBuckets) <= maxBuckets ($maxBuckets)")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val raw = ((bytes + targetBucketBytes - 1) / targetBucketBytes)
      .max(BigInt(1))
    // round UP to the next power of two in BigInt (no Int overflow past
    // 2^30), THEN clamp: a non-power-of-two bound is itself respected
    val pow2 = BigInt(1) << (raw - 1).bitLength
    pow2.min(BigInt(maxBuckets)).max(BigInt(minBuckets)).toInt
  }

  /** Write `df` as an external parquet table bucketed by `bucketCol`
    * into `nBuckets`, optionally sorted within buckets (`sortCols` —
    * lets a one-file-per-bucket layout feed sort-merge joins with the
    * scan's order, skipping the sort too). Replaces any existing
    * catalog entry of the same name; `mode overwrite` replaces the
    * files, so a re-run converges instead of appending.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive (got $nBuckets)")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    // repartition on the bucket key FIRST: `repartition(n, col)` is the
    // same Murmur3-pmod partitioning the bucket-id assignment uses, so
    // each write task holds exactly one bucket and emits exactly ONE
    // file — without it every input task writes a file per bucket it
    // touches (tasks×buckets files — the small-files problem, guide §6)
    // AND a single-split input serializes the whole sorted write
    // through one task (measured: the sf0.1 lineitem write ran as one
    // 1.4 s task). The shuffle it adds is the clustering the layout
    // exists to record; the write's parallelism knob is nBuckets.
    val w = df.repartition(nBuckets, org.apache.spark.sql.functions
        .col(bucketCol))
      .write.mode("overwrite").option("path", path)
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w)
      .format("parquet").saveAsTable(table)
  }
}
