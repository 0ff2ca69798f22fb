package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale artifact for the bucketed-table layout
  * ([[graft.io.BucketedTables]]) — the evidence BucketedSpec's plan
  * gate can't give: at a scale where the exchange is real money, how
  * much WALL and how many SHUFFLED BYTES does hash co-location remove
  * from the keyed join + agg it exists for, and what does the
  * one-time bucketed write cost against that per-query saving?
  *
  * The measured query is q136's exact shape (pre-aggregate the fact
  * side by its key, join the dim side on the same key, roll up small)
  * over orders ⋈ lineitem at the given SF — the plain path shuffles
  * BOTH sides on the key; the bucketed path satisfies the pre-agg AND
  * the join clustering straight off the scan, leaving only the tiny
  * final rollup exchange.
  *
  * Protocol (the house rules): min-of-3 noop-materialized samples per
  * path with per-sample load1, one calib sentinel per phase
  * ([[BenchProto]]), exchange bytes from a metered AQE-off run's
  * ShuffleExchangeExec dataSize metrics (AQE query stages hide the
  * exchanges from a plain plan collect — TopKBench's protocol), both
  * paths' rollup rows asserted EQUAL (layout-invariance, the same
  * property q136's shared oracle gates), and the bucketed WRITE timed
  * alongside so the amortization math (write cost vs per-query
  * exchange saving × consumers) is in the artifact, not prose.
  *
  * Usage: BucketBench <sfDir> [outDir] [nBuckets=32]
  */
object BucketBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/sf1")
    val outDir = args.lift(1).getOrElse("/tmp/bucket_bench")
    val nBuckets = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = BenchProto.session(
      "spark.sql.warehouse.dir" -> s"$outDir/warehouse")
    spark.sparkContext.setLogLevel("WARN")

    def revenue(o: DataFrame, l: DataFrame): DataFrame = {
      val pre = l.groupBy(col("l_orderkey"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).as("_rev"),
          count(lit(1)).as("_n"))
      o.join(pre, o("o_orderkey") === pre("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          sum(col("_n")).as("n_lines"))
        .orderBy("o_orderpriority")
    }

    // timed legs, then a metered AQE-off run for rows and exchange bytes
    def point(mk: () => DataFrame): (BenchProto.Leg, Long, Long) = {
      val leg = BenchProto.timeNoop(mk())
      val (nOut, shuffleBytes) = BenchProto.meteredShuffle(spark, mk())
      (leg, nOut, shuffleBytes)
    }

    val nOrders = Tables.orders(spark, sfDir).count()
    val nLines = Tables.lineitem(spark, sfDir).count()
    println(s"orders=$nOrders lineitem=$nLines nBuckets=$nBuckets")

    val calibPlain = BenchProto.calibSec()
    val (plainLeg, plainRows, plainBytes) = point(() =>
      revenue(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)))
    println(f"plain: ${plainLeg.sec}%.2f s, " +
      f"shuffle ${plainBytes / 1048576.0}%.1f MiB")

    // the one-time layout cost: repartition to nBuckets first so each
    // bucket is one file (without it every write task emits one file
    // per bucket it sees — nBuckets×tasks files, a listing regression
    // masquerading as a layout)
    val calibWrite = BenchProto.calibSec()
    val tW = System.nanoTime()
    graft.io.BucketedTables.writeBucketed(
      Tables.orders(spark, sfDir)
        .repartition(nBuckets, col("o_orderkey")),
      "graft_bench_orders", s"$outDir/orders", "o_orderkey", nBuckets)
    graft.io.BucketedTables.writeBucketed(
      Tables.lineitem(spark, sfDir)
        .repartition(nBuckets, col("l_orderkey")),
      "graft_bench_lineitem", s"$outDir/lineitem", "l_orderkey",
      nBuckets)
    val writeSec = (System.nanoTime() - tW) / 1e9
    println(f"bucketed write (both tables): $writeSec%.2f s")

    val calibBucketed = BenchProto.calibSec()
    val (buckLeg, buckRows, buckBytes) = point(() =>
      revenue(spark.table("graft_bench_orders"),
        spark.table("graft_bench_lineitem")))
    println(f"bucketed: ${buckLeg.sec}%.2f s, " +
      f"shuffle ${buckBytes / 1048576.0}%.1f MiB")

    // layout-invariance: the rollup must agree row-for-row
    val a = revenue(Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir)).collect().map(_.toString).sorted
    val b = revenue(spark.table("graft_bench_orders"),
      spark.table("graft_bench_lineitem")).collect()
      .map(_.toString).sorted
    require(a.sameElements(b),
      "bucketed rollup diverged from the plain layout's")
    require(plainRows == buckRows, "metered row counts diverged")

    def leg(l: BenchProto.Leg, bytes: Long) =
      l.json(f""""shuffle_mb":${bytes / 1048576.0}%.1f""")
    val json =
      f"""{"metric":"bucket_exchange","orders":$nOrders,""" +
        f""""lineitem":$nLines,"n_buckets":$nBuckets,""" +
        f""""stat":"min_of_3","result_equal":true,""" +
        f""""calib":[$calibPlain%.3f,$calibWrite%.3f,$calibBucketed%.3f],""" +
        f""""plain":${leg(plainLeg, plainBytes)},""" +
        f""""bucketed":${leg(buckLeg, buckBytes)},""" +
        f""""write_sec":$writeSec%.2f,"sf":"$sfDir"}"""
    BenchProto.writeArtifact(outDir, s"bucket_${nLines}.json", json)
    spark.stop()
  }
}
