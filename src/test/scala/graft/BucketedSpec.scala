package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.BucketedTables

class BucketedSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect(): Unit // AQE finalizes the plan on execution
    df.queryExecution.executedPlan.toString
  }

  test("same-bucket-count join plans with ZERO exchange on either " +
    "side, and a groupBy on the bucket key aggregates exchange-free") {
    val dir = TestDirs.tmp("bucketed").toString
    val left = (0L until 400L).map(i => (i % 100L, i))
      .toDF("k", "lv")
    val right = (0L until 300L).map(i => (i % 100L, -i))
      .toDF("k", "rv")
    BucketedTables.writeBucketed(left, "graft_spec_left",
      s"$dir/left", "k", 8)
    BucketedTables.writeBucketed(right, "graft_spec_right",
      s"$dir/right", "k", 8)
    val l = spark.table("graft_spec_left")
    val r = spark.table("graft_spec_right")
    // force sort-merge (a broadcast would also be exchange-free on the
    // probe side and prove nothing about the bucket co-location)
    val joined = l.hint("merge").join(r, Seq("k"))
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), s"no SMJ in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed-bucketed join still shuffles:\n$plan")
    // correctness vs the plain-frame join
    val expect = left.join(right, Seq("k"))
      .select("k", "lv", "rv").as[(Long, Long, Long)].collect().sorted
    val got = joined
      .select("k", "lv", "rv").as[(Long, Long, Long)].collect().sorted
    assert(got.toSeq === expect.toSeq)
    // aggregation keyed on the bucket column: partial+final without a
    // shuffle — the scan already satisfies the clustering
    val agg = l.groupBy("k").agg(sum("lv").as("s"))
    val aggPlan = planOf(agg)
    assert(!aggPlan.contains("Exchange"),
      s"groupBy(bucket key) still shuffles:\n$aggPlan")
    assert(agg.as[(Long, Long)].collect().toMap ===
      left.groupBy("k").agg(sum("lv")).as[(Long, Long)].collect().toMap)
  }

  test("a point filter on the bucket key PRUNES buckets at the scan " +
    "(SelectedBucketsCount < total), and the pruned read is correct") {
    val dir = TestDirs.tmp("bucketed_prune").toString
    val rows = (0L until 400L).map(i => (i % 100L, i)).toDF("k", "lv")
    BucketedTables.writeBucketed(rows, "graft_spec_prune",
      s"$dir/t", "k", 8)
    // autoBucketedScan falls back to a PLAIN scan when no operator in
    // the plan needs the clustering — which also forfeits bucket
    // pruning on a bare point lookup; pin it off for the lookup shape
    // (documented on BucketedTables)
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val (plan, q) =
      try {
        val q0 = spark.table("graft_spec_prune").filter(col("k") === 42L)
        (planOf(q0), q0)
      } finally spark.conf.unset(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled")
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val m = sel.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in the scan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"point filter scanned every bucket:\n$plan")
    assert(q.select("lv").as[Long].collect().sorted.toSeq ===
      Seq(42L, 142L, 242L, 342L))
  }

  test("mismatched bucket counts stay CORRECT (the layout contract " +
    "gives back the shuffle, never a wrong answer)") {
    val dir = TestDirs.tmp("bucketed_mm").toString
    val left = (0L until 200L).map(i => (i % 50L, i)).toDF("k", "lv")
    val right = (0L until 150L).map(i => (i % 50L, -i)).toDF("k", "rv")
    BucketedTables.writeBucketed(left, "graft_spec_mm_left",
      s"$dir/left", "k", 8)
    BucketedTables.writeBucketed(right, "graft_spec_mm_right",
      s"$dir/right", "k", 4)
    val got = spark.table("graft_spec_mm_left").hint("merge")
      .join(spark.table("graft_spec_mm_right"), Seq("k"))
      .select("k", "lv", "rv").as[(Long, Long, Long)].collect().sorted
    val expect = left.join(right, Seq("k"))
      .select("k", "lv", "rv").as[(Long, Long, Long)].collect().sorted
    assert(got.toSeq === expect.toSeq)
  }

  test("writeBucketed replaces an existing table (re-run converges, " +
    "no append) and refuses a non-positive bucket count") {
    val dir = TestDirs.tmp("bucketed_rw").toString
    val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    BucketedTables.writeBucketed(a, "graft_spec_rw", s"$dir/t", "k", 2)
    val b = Seq((3L, 30L)).toDF("k", "v")
    BucketedTables.writeBucketed(b, "graft_spec_rw", s"$dir/t", "k", 2)
    assert(spark.table("graft_spec_rw").as[(Long, Long)]
      .collect().toSet === Set((3L, 30L)))
    intercept[IllegalArgumentException] {
      BucketedTables.writeBucketed(a, "graft_spec_bad", s"$dir/bad",
        "k", 0)
    }
  }

  test("bucketCountFor scales with the estimated input, rounds up to a " +
    "power of two, clamps to [min, max], and the derived count keeps " +
    "one file per bucket") {
    val dir = TestDirs.tmp("bucketed_auto").toString
    val rows = (0L until 4000L).map(i => (i % 100L, i)).toDF("k", "lv")
    // tiny input vs a 1 GB target: clamped to the floor — the gate-SF
    // behavior that keeps q136's layout (and plan) unchanged
    assert(BucketedTables.bucketCountFor(rows) === 8)
    // force the stats to dominate: a 1-byte target makes the count the
    // maxBuckets clamp, a power of two or not
    assert(BucketedTables.bucketCountFor(rows, targetBucketBytes = 1L,
      minBuckets = 8, maxBuckets = 64) === 64)
    assert(BucketedTables.bucketCountFor(rows, targetBucketBytes = 1L,
      minBuckets = 8, maxBuckets = 100) === 100)
    // mid-range: estimated bytes / target lands strictly between
    // min and max and must round UP to a power of two
    val bytes = rows.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = (bytes / 20).toLong.max(1L) // raw ≈ 20-21
    val derived = BucketedTables.bucketCountFor(rows,
      targetBucketBytes = target, minBuckets = 2, maxBuckets = 1 << 16)
    assert(derived === 32, s"raw ~20 must round up to 32, got $derived")
    intercept[IllegalArgumentException] {
      BucketedTables.bucketCountFor(rows, targetBucketBytes = 0L)
    }
    // the one-task-one-bucket invariant holds under a derived count:
    // exactly `n` data files for `n` buckets
    val n = BucketedTables.bucketCountFor(rows, targetBucketBytes = 1L,
      minBuckets = 4, maxBuckets = 4)
    BucketedTables.writeBucketed(rows, "graft_spec_auto", s"$dir/t",
      "k", n)
    val files = new java.io.File(s"$dir/t").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    assert(files.length === n,
      s"expected one file per bucket ($n), got ${files.length}")
  }

  test("bucketCountFor clamps AFTER rounding: a non-power-of-two " +
    "maxBuckets is respected and counts past 2^30 do not overflow") {
    val rows = (0L until 4000L).map(i => (i % 100L, i)).toDF("k", "lv")
    // raw count far above 100: rounding first would give 128
    assert(BucketedTables.bucketCountFor(rows, targetBucketBytes = 1L,
      minBuckets = 8, maxBuckets = 100) === 100)
    // a non-power-of-two floor is respected the same way
    assert(BucketedTables.bucketCountFor(rows, targetBucketBytes = 1L << 40,
      minBuckets = 5, maxBuckets = 100) === 5)
    // Range stats are metadata-only: 2^40 longs = 2^43 estimated bytes
    val huge = spark.range(1L << 40).toDF()
    // raw 2^30 is itself a power of two
    assert(BucketedTables.bucketCountFor(huge, targetBucketBytes = 1L << 13,
      minBuckets = 8, maxBuckets = Int.MaxValue) === (1 << 30))
    // raw 2^31 must clamp to the Int bound, not wrap negative
    assert(BucketedTables.bucketCountFor(huge, targetBucketBytes = 1L << 12,
      minBuckets = 8, maxBuckets = Int.MaxValue) === Int.MaxValue)
    assert(BucketedTables.bucketCountFor(huge, targetBucketBytes = 1L,
      minBuckets = 8, maxBuckets = (1 << 30) + 1) === (1 << 30) + 1)
    // the largest range there is: 8·(2^63 − 1) estimated bytes clamp
    // to the Int bound. The read is metadata-only — a job over 2^63
    // rows would not return
    assert(BucketedTables.bucketCountFor(spark.range(Long.MaxValue).toDF(),
      targetBucketBytes = 1L, minBuckets = 8,
      maxBuckets = Int.MaxValue) === Int.MaxValue)
  }
}
