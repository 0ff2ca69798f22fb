package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Similarity, SkewJoin}
import graft.ops.Similarity.Centroids

/** Physical-plan regression gates: the properties that make the headline
  * queries scale (pushdown reaching the scan, dims broadcast, zero-
  * shuffle IVF assignment, hot-key-gated salting) asserted on the plans
  * themselves, so a rewrite can't silently trade them away.
  */
class PlanRegressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Shuffle exchanges of the PREPARED plan. Two traps this avoids:
    * `sparkPlan` is pre-EnsureRequirements (never contains an exchange —
    * assertions on it are vacuous), and under AQE `executedPlan` is an
    * AdaptiveSparkPlanExec LEAF that `.collect` cannot descend into
    * (exchange searches silently return empty). AQE is disabled while
    * the plan under test is built.
    */
  private def shufflesOf(mk: => org.apache.spark.sql.DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try mk.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q02: filters are pushed to the parquet scan and columns pruned") {
    val plan = planOf(SparkEntry.queries("q02_scan_pushdown")(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    assert(!plan.contains("PushedFilters: []"),
      "scan lost its pushed filters")
    // projection is 4 columns — the scan must not read the full schema
    assert(plan.contains("l_shipdate") && !plan.contains("l_comment"),
      "column pruning lost: scan reads unprojected columns")
  }

  test("q08 and q12: dimension joins broadcast") {
    for (q <- Seq("q08_dim_resolve", "q12_range_join")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcast")
    }
    // q12's scale shape (sf1.0 ratio run caught the direct form at 247×
    // on 10× data): events aggregate per DISTINCT interval before the
    // per-part fan-out, so the plan carries TWO broadcast joins — the
    // deduped-interval probe and the aggregate re-attach. A revert to
    // the direct events×parts join shows exactly one.
    val q12 = planOf(SparkEntry.queries("q12_range_join")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(q12).length >= 2,
      "q12 lost its aggregate-before-fanout shape (direct join is " +
        "quadratic in per-size multiplicity)")
  }

  test("ivfAssign introduces no Exchange (zero-shuffle assignment)") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
      Centroids(centroids, "cid", "cvec"))
    assert(shufflesOf(assigned).isEmpty,
      "IVF assignment reintroduced a shuffle")
  }

  test("IVF probe on a cell-partitioned layout prunes to the probed " +
    "cells' files") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
      Centroids(centroids, "cid", "cvec"))
    val dir = TestDirs.tmp("ivf_layout")
      .toFile.getAbsolutePath
    // one file per cell directory ⇒ numFiles read == cells touched
    assigned.coalesce(1).write.partitionBy("cell")
      .mode("overwrite").parquet(dir)
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length > 2, s"fixture produced ${cellDirs.length} cells")
    val probes = cellDirs.take(2)
      .map(_.stripPrefix("cell=").toLong).toSeq

    val reread = spark.read.parquet(dir)
    val probed = reread.filter(col("cell").isin(probes: _*))
    probed.collect() // populate scan metrics
    val planStr = probed.queryExecution.executedPlan.toString
    // the cell restriction must be a PARTITION filter (metadata-only
    // pruning), not a post-scan data filter
    assert(planStr.contains("PartitionFilters") &&
      planStr.replaceAll("(?s).*PartitionFilters", "").contains("cell"),
      planStr.take(1200))
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec leaf"))
    assert(scan.metrics("numFiles").value == probes.length,
      s"scan read ${scan.metrics("numFiles").value} files for " +
        s"${probes.length} probed cells of ${cellDirs.length}")
  }

  test("ivfSearchIndexed on a persisted ivfIndex layout prunes to the " +
    "probed cells' files (the q114 shape)") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = Centroids(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val dir = TestDirs.tmp("ivf_api_layout").toFile.getAbsolutePath
    // one file per cell directory ⇒ numFiles read == cells probed
    Similarity.ivfIndex(emb, "vec_id", "embedding",
      centroids)
      .coalesce(1).write.partitionBy("cell")
      .mode("overwrite").parquet(dir)
    val nCells = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(nCells > 2, s"fixture produced only $nCells cells")
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0)
    val probed = Similarity.ivfSearchIndexed(spark.read.parquet(dir),
      "vec_id", "embedding", centroids,
      qVec, k = 5, nProbe = 2, excludeId = Some(0L))
    probed.collect() // populate scan metrics
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec leaf"))
    assert(scan.metrics("numFiles").value == 2,
      s"indexed probe read ${scan.metrics("numFiles").value} files for " +
        s"2 probed cells of $nCells")
  }

  test("after a micro-batch append loop, compactCells restores " +
    "one-file-per-cell and the probe reads exactly nProbe files") {
    // the ingest-loop failure mode: every ivfIndexAppend adds a file
    // set per touched cell, so probe-side numFiles grows with append
    // count even though pruning still limits the DIRECTORIES read.
    // compactCells must bring numFiles back to one per probed cell.
    val emb = Tables.embeddings(spark, sf)
    val centroids = Centroids(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val dir = TestDirs.tmp("ivf_compact_layout").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", centroids, dir)
    for (b <- 1 to 4)
      Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 5 === b),
        "vec_id", "embedding", dir, centroids)
    val compacted = Similarity.compactCells(spark, dir, maxFilesPerCell = 1)
    assert(compacted.nonEmpty, "append loop produced no fragmentation")
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0)
    val probed = Similarity.ivfSearchIndexed(spark.read.parquet(dir),
      "vec_id", "embedding", centroids,
      qVec, k = 5, nProbe = 2, excludeId = Some(0L))
    probed.collect()
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec leaf"))
    assert(scan.metrics("numFiles").value == 2,
      s"post-compaction probe read ${scan.metrics("numFiles").value} " +
        "files for 2 probed cells — compaction or pruning regressed")
  }

  test("ivfSearchBatch: the collected probe-cell IN-list prunes the " +
    "persisted index to the probed cells' files (the q115 shape)") {
    // AQE off so the executed plan is inspectable; static partition
    // pruning is metadata-only and independent of it
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = Tables.embeddings(spark, sf)
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val codebook = Centroids(centroids, "cid", "cvec")
      val dir = TestDirs.tmp("ivf_batch_layout").toFile.getAbsolutePath
      Similarity.ivfIndex(emb, "vec_id", "embedding",
        codebook)
        .coalesce(1).write.partitionBy("cell")
        .mode("overwrite").parquet(dir)
      val nCells = new java.io.File(dir).listFiles()
        .count(_.getName.startsWith("cell="))
      assert(nCells > 2, s"fixture produced only $nCells cells")

      // expected probed-cell set, derived independently: each query's 2
      // nearest centroids by (sqdist, cid)
      val cents = centroids.select(col("cid"),
        col("cvec").cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      val qs = emb.filter(col("vec_id") < 2)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val probedCells = qs.flatMap { case (_, qv) =>
        cents.map { case (cid, cv) =>
          (cv.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum, cid)
        }.sorted.take(2).map(_._2)
      }.distinct.sorted
      assert(probedCells.length < nCells,
        "fixture degenerate: every cell probed — pruning unobservable")

      val res = Similarity.ivfSearchBatch(
        emb.filter(col("vec_id") < 2), "vec_id", "embedding",
        spark.read.parquet(dir), "vec_id", "embedding",
        codebook, k = 5, nProbe = 2)
      res.collect() // populate scan metrics
      val scan = res.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("ivf_batch_layout")) => s
      }.headOption.getOrElse(fail("no index-side FileSourceScanExec"))
      assert(scan.metrics("numFiles").value == probedCells.length,
        s"index scan read ${scan.metrics("numFiles").value} files for " +
          s"${probedCells.length} probed cells of $nCells — the probe " +
          "IN-list is not pruning the cell-partitioned layout")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ivfSearchBatch top-1 (the q120 semantic-dedup shape) reduces " +
    "candidates with a PARTIAL min_by aggregate, not a rank window") {
    // the k=1 fast path exists because a row_number window shuffles
    // EVERY candidate row (batch × nProbe × cell size) to sort it,
    // while min_by partial-aggregates each partition down to one row
    // per query before the exchange — assert the plan shape so a
    // refactor can't silently reintroduce the window
    val emb = Tables.embeddings(spark, sf)
    val centroids = Centroids(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val res = Similarity.ivfSearchBatch(
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      Similarity.ivfIndex(emb, "vec_id", "embedding",
        centroids),
      "vec_id", "embedding", centroids,
      k = 1, nProbe = 2)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"top-1 probe went through a rank window:\n${plan.take(1500)}")
    assert(plan.contains("partial_min_by") || plan.contains("partial min_by")
      || plan.toLowerCase.contains("min_by"),
      s"no min_by aggregate in the top-1 plan:\n${plan.take(1500)}")
    // k>1 within the buffer guard is ALSO window-free: the bounded
    // TopKByScore partial aggregate replaces the rank window (≤ k hits
    // per query leave each map partition instead of every candidate)
    val res5 = Similarity.ivfSearchBatch(
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      Similarity.ivfIndex(emb, "vec_id", "embedding",
        centroids),
      "vec_id", "embedding", centroids,
      k = 5, nProbe = 2)
    res5.collect()
    val plan5 = res5.queryExecution.executedPlan.toString
    assert(!plan5.contains("Window"),
      s"k=5 probe went through a rank window:\n${plan5.take(1500)}")
    assert(plan5.contains("topkbyscore") ||
      plan5.toLowerCase.contains("topkbyscore"),
      s"no TopKByScore aggregate in the k=5 plan:\n${plan5.take(1500)}")
    // past the buffer guard the window form remains (a top-10000 is a
    // different query shape; the bounded buffer no longer pays)
    val resBig = Similarity.ivfSearchBatch(
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      Similarity.ivfIndex(emb, "vec_id", "embedding",
        centroids),
      "vec_id", "embedding", centroids,
      k = graft.functions.TopKByScore.MaxK + 1, nProbe = 2)
    assert(resBig.queryExecution.executedPlan.toString.contains("Window"),
      "k past the buffer guard should rank through the window top-k")
  }

  test("q118 media embed→index→batch-ANN composition prunes the " +
    "persisted index to the probed cells' files") {
    // the end-to-end multimodal path: md5-stub embeddings (not the
    // embeddings fixture) through the same ivfIndex/ivfSearchBatch
    // machinery — proves the COMPOSED query inherits the pruning, not
    // just the operator in isolation
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import graft.ops.Multimodal
      import graft.ops.Multimodal.MediaRow
      val s = spark
      import s.implicits._
      val media = Tables.documents(spark, sf)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          encode(col("text"), "utf-8").as("content"))
        .as[MediaRow]
      val emb = Multimodal.embed(media)
        .select(col("media_id"), col("embedding"))
      val centroids = emb.filter(col("media_id") < 12)
        .select(col("media_id").as("cid"), col("embedding").as("cvec"))
      val codebook = Centroids(centroids, "cid", "cvec")
      val dir = TestDirs.tmp("ivf_media_layout").toFile.getAbsolutePath
      Similarity.ivfIndex(emb, "media_id", "embedding",
        codebook)
        .coalesce(1).write.partitionBy("cell")
        .mode("overwrite").parquet(dir)
      val nCells = new java.io.File(dir).listFiles()
        .count(_.getName.startsWith("cell="))
      assert(nCells > 2, s"fixture produced only $nCells cells")
      val cents = centroids.select(col("cid"),
        col("cvec").cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      val qs = emb.filter(col("media_id") < 6)
        .select(col("media_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val probedCells = qs.flatMap { case (_, qv) =>
        cents.map { case (cid, cv) =>
          (cv.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum, cid)
        }.sorted.take(2).map(_._2)
      }.distinct.sorted
      assert(probedCells.length < nCells,
        "fixture degenerate: every cell probed — pruning unobservable")
      val res = Similarity.ivfSearchBatch(
        emb.filter(col("media_id") < 6), "media_id", "embedding",
        spark.read.parquet(dir), "media_id", "embedding",
        codebook, k = 5, nProbe = 2)
      res.collect()
      val scan = res.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.location.rootPaths.exists(
            _.toString.contains("ivf_media_layout")) => sc
      }.headOption.getOrElse(fail("no index-side FileSourceScanExec"))
      assert(scan.metrics("numFiles").value == probedCells.length,
        s"index scan read ${scan.metrics("numFiles").value} files for " +
          s"${probedCells.length} probed cells of $nCells — the media " +
          "composition lost the probe-cell pruning")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q119 capstone: the pinned shard write lands one file per shard " +
    "directory and is layout-stable across input partitionings") {
    // the capstone's sink guarantee: shard membership is a pure key
    // function and each shard is one task ⇒ one file — so the written
    // tree is byte-stable no matter how the upstream (dedup flags →
    // budget sample → packing) happened to be partitioned
    import graft.io.ShardWriter
    val s = spark
    import s.implicits._
    val rows = (0L until 200L).map(i => (i, s"l${i % 4}", 10L + i % 7))
    val base = rows.toDF("doc_id", "lang", "n_tok")
    val dirA = TestDirs.tmp("capstone_shards_a").toFile.getAbsolutePath
    val dirB = TestDirs.tmp("capstone_shards_b").toFile.getAbsolutePath
    ShardWriter.writeShardsPinned(base.repartition(7), dirA, "doc_id",
      Seq(40L, 80L, 160L))
    ShardWriter.writeShardsPinned(base.repartition(3, col("lang")), dirB,
      "doc_id", Seq(40L, 80L, 160L))
    def layout(dir: String): Seq[(String, Int)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet")))
        .toSeq.sortBy(_._1)
    val la = layout(dirA)
    assert(la.map(_._1) == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    assert(la.forall(_._2 == 1),
      s"expected one file per shard dir, got $la")
    assert(la == layout(dirB),
      "shard layout drifted with upstream partitioning")
    // no row lost or duplicated through the write
    val back = spark.read.parquet(dirA)
    assert(back.count() == 200)
    assert(back.select("doc_id").distinct().count() == 200)
  }

  test("q97 packing: no full-width window partitioned by the language " +
    "stratum alone — the prefix sum is the chunked two-level form") {
    // the r10 scale-killer: sum().over(Window.partitionBy(lang)
    // .orderBy(doc_id)) routes a dominant language's ENTIRE corpus
    // through one window task. The two-level PrefixSum decomposition
    // keeps exactly one lang-only window, over the reduced per-chunk
    // subtotal frame (3 narrow bookkeeping columns), and does the
    // full-width work in windows partitioned by (lang, chunk). Gate
    // both properties on the executed plan so a rewrite can't quietly
    // reintroduce the serializer.
    import org.apache.spark.sql.execution.window.WindowExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val windows = try {
      SparkEntry.queries("q97_pack_sequences")(spark, sf)
        .queryExecution.executedPlan.collect { case w: WindowExec => w }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(windows.nonEmpty, "expected the packing windows in the plan")
    val langOnly = windows.filter(_.partitionSpec.size == 1)
    langOnly.foreach { w =>
      val childCols = w.child.output.map(_.name).toSet
      assert(!childCols.exists(Set("text", "n_tok", "doc_id")),
        s"a lang-only window sees full-width per-doc rows " +
          s"(child output: ${childCols.mkString(", ")}) — the " +
          "per-stratum serializer is back")
      assert(childCols.size <= 3,
        s"lang-only window child should be the narrow subtotal frame, " +
          s"got ${childCols.mkString(", ")}")
    }
    assert(windows.exists(_.partitionSpec.size == 2),
      "expected the chunk-local window partitioned by (lang, chunk)")
  }

  test("bucketed tables co-locate: the fact⋈fact join runs with zero " +
    "Exchange") {
    // the 100 TB story for repeated big-big joins: bucket BOTH sides on
    // the join key at write time and the sort-merge join needs no
    // shuffle at read time — the scan itself delivers the partitioning
    val s = spark
    import s.implicits._
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val base = TestDirs.tmp("bucketed")
        .toFile.getAbsolutePath
      val facts = (1 to 1000).map(i => (i % 100, i)).toDF("key", "v")
      val dims = (0 until 100).map(i => (i, s"d$i")).toDF("key", "name")
      facts.write.bucketBy(8, "key").sortBy("key")
        .option("path", s"$base/facts").mode("overwrite")
        .saveAsTable("graft_bucketed_facts")
      dims.write.bucketBy(8, "key").sortBy("key")
        .option("path", s"$base/dims").mode("overwrite")
        .saveAsTable("graft_bucketed_dims")
      val joined = s.table("graft_bucketed_facts")
        .join(s.table("graft_bucketed_dims"), "key")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(!plan.contains("Exchange"),
        "bucketed join reintroduced a shuffle:\n" + plan.take(1500))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.sql("DROP TABLE IF EXISTS graft_bucketed_facts")
      s.sql("DROP TABLE IF EXISTS graft_bucketed_dims")
    }
  }

  test("q09 pre-aggregated fact join: the lineitem rollup's exchange " +
    "doubles as the join distribution (no extra shuffle)") {
    // broadcast off: at sf0.001 the pre-agg side broadcasts and the
    // property under test (sort-merge distribution reuse — the 100 TB
    // plan, where neither fact side broadcasts) would be vacuously
    // green no matter how many exchanges a regression added
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val exchanges = shufflesOf(
        SparkEntry.queries("q09_order_revenue")(spark, sf))
      val prevA = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val planStr =
        try SparkEntry.queries("q09_order_revenue")(spark, sf)
          .queryExecution.executedPlan.toString
        finally spark.conf.set("spark.sql.adaptive.enabled", prevA)
      assert(planStr.contains("SortMergeJoin"),
        "expected the forced sort-merge shape:\n" + planStr.take(800))
      // lineitem agg on l_orderkey, orders side, the 5-group priority
      // agg, the presentation orderBy — a 5th exchange means the
      // pre-agg output was re-shuffled for the join
      assert(exchanges.size <= 4,
        s"pre-agg exchange not reused by the join (${exchanges.size} " +
          "shuffles)")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
  }

  test("band index persisted partitionBy(band): lookups restricted to " +
    "a band subset prune to those directories (metadata + DPP)") {
    import graft.ops.Dedup
    import graft.functions.TextFunctions
    // AQE off so the executed plan is inspectable (not QueryStage
    // leaves); dynamic partition pruning is independent of AQE
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val docs = Tables.documents(spark, sf)
    val index = Dedup.bandIndex(docs,
      TextFunctions.wordShingles(col("text"), 3), "doc_id")
    val dir = TestDirs.tmp("band_index").toFile.getAbsolutePath
    // one file per band directory ⇒ numFiles read == bands touched
    index.coalesce(1).write.partitionBy("band")
      .mode("overwrite").parquet(dir)
    val bandDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("band=")).map(_.getName).sorted
    assert(bandDirs.length == 4, s"expected 4 band dirs: ${bandDirs.toSeq}")

    // the INDEX-side scan (the probe side reads documents.parquet)
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect() // populate scan metrics
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("band_index")) => s
      }.headOption.getOrElse(fail("no index-side FileSourceScanExec"))
    }

    // 1) static band restriction: metadata-only partition pruning
    val reread = spark.read.parquet(dir)
    val static = reread.filter(col("band").isin(0, 2))
    val sScan = scanOf(static)
    assert(sScan.metrics("numFiles").value == 2,
      s"static probe read ${sScan.metrics("numFiles").value} files " +
        "for 2 of 4 bands")

    // 2) the ingest-lookup shape: equi-join on (band, band_sig) with a
    // broadcast probe covering a band subset — dynamic partition
    // pruning must reach the index scan so a 100 TB index reads only
    // the probed directories
    val probe = index.filter(col("band").isin(1, 3))
      .select(col("band"), col("band_sig")).limit(64)
    val joined = reread.join(broadcast(probe), Seq("band", "band_sig"))
    val jScan = scanOf(joined)
    assert(jScan.metrics("numFiles").value == 2,
      s"DPP lookup read ${jScan.metrics("numFiles").value} files for " +
        "2 probed of 4 bands:\n" +
        joined.queryExecution.executedPlan.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q94 simhash: no shuffle ever carries document text (codes " +
    "materialize in-scan; only narrow rows move)") {
    val df = SparkEntry.queries("q94_simhash_neighbors")(spark, sf)
    val exchanges = shufflesOf(df)
    assert(exchanges.nonEmpty, "expected at least one shuffle in q94")
    exchanges.foreach { e =>
      val wide = e.output.filter(a => a.name == "text" || a.name == "_toks")
      assert(wide.isEmpty,
        s"shuffle carries wide columns ${wide.map(_.name)}:\n$e")
    }
  }

  test("q113 simhash64: no shuffle ever carries document text, and the " +
    "band shuffle ships only fixed-width columns (packed-long code)") {
    val df = SparkEntry.queries("q113_simhash64_neighbors")(spark, sf)
    val exchanges = shufflesOf(df)
    assert(exchanges.nonEmpty, "expected at least one shuffle in q113")
    exchanges.foreach { e =>
      val wide = e.output.filter(a => a.name == "text" || a.name == "_toks")
      assert(wide.isEmpty,
        s"shuffle carries wide columns ${wide.map(_.name)}:\n$e")
    }
    // the (band, bits) exchange must be all-numeric: unlike q94 there
    // is no bit-string code anywhere past the scan (the only string
    // shuffle allowed is the exact-collapse content hash)
    val bandEx = exchanges.filter(e =>
      e.output.exists(_.name == "band") && e.output.exists(_.name == "bits"))
    assert(bandEx.nonEmpty, "band shuffle not found in q113 plan")
    bandEx.foreach { e =>
      val strs = e.output.filter(_.dataType.typeName == "string")
      assert(strs.isEmpty,
        s"band shuffle ships strings ${strs.map(_.name)}:\n$e")
    }
  }

  test("q109 winnow near-dup: ONE documents scan (posting-list pair " +
    "generation, not a self-join that re-runs the winnow pipeline)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q109_winnow_neardup")(spark, sf)
      val scans = df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("documents") => s
      }
      assert(scans.size == 1,
        s"q109 reads documents ${scans.size} times — the winnow " +
          "pipeline is being re-executed per consumer")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // groupBy(fp), groupBy(id1,id2), presentation orderBy — no more
      assert(exchanges.size <= 3,
        s"unexpected extra shuffles (${exchanges.size})")
      // no shuffle may carry document text
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name == "text"),
          s"shuffle carries document text:\n$e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("AQE splits a skewed sort-merge join at runtime (the no-code " +
    "complement to SkewJoin's explicit salting)") {
    import spark.implicits._
    val s = spark
    val prev = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(s.conf.get(k)).toOption).toMap
    try {
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "16KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pad = "x" * 200
      // key 1 carries ~3000 wide rows; 49 other keys carry a handful
      val skewed = ((1 to 3000).map(i => (1, pad + i)) ++
        (1 to 245).map(i => (i % 49 + 2, pad + i))).toDF("key", "v")
        .repartition(8)
      val dim = (1 to 60).map(i => (i, s"n$i")).toDF("key", "name")
        .repartition(8)
      val joined = skewed.join(dim, Seq("key"))
      // execute THIS dataframe (count() would run a different, partial
      // aggregate plan and leave joined's adaptive plan un-finalized)
      assert(joined.collect().length == 3245)
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("isFinalPlan=true"))
      assert(planStr.contains("skew=true"),
        "AQE did not split the skewed partition:\n" + planStr.take(2000))
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("saltedJoinHot: plain join on uniform keys, salted on hot keys") {
    import spark.implicits._
    val uniformBig = (1 to 2000).map(i => (i % 50, i)).toDF("key", "v")
    val skewedBig = ((1 to 2000).map(i => (1, i)) ++
      (1 to 50).map(i => (i + 1, i))).toDF("key", "v")
    val small = (1 to 60).map(i => (i, s"n$i")).toDF("key", "name")

    val uniform = SkewJoin.saltedJoinHot(uniformBig, small, Seq("key"),
      "v", k = 4, sampleFraction = 0.5, hotThreshold = 500L)
    // no hot keys detected ⇒ the plan is the plain join: no Generate
    // (explode) node anywhere
    assert(!uniform.queryExecution.sparkPlan.toString.contains("Generate"),
      "uniform keys still pay small-side replication")
    assert(uniform.count() ==
      uniformBig.join(small, Seq("key")).count())

    val skewed = SkewJoin.saltedJoinHot(skewedBig, small, Seq("key"),
      "v", k = 4, sampleFraction = 0.5, hotThreshold = 500L)
    // key 1 (2000 rows) detected hot ⇒ salting engages (explode present)
    assert(skewed.queryExecution.sparkPlan.toString.contains("Generate"),
      "hot key not detected")
    val plain = skewedBig.join(small, Seq("key"))
    assert(skewed.count() == plain.count())
    assert(skewed.exceptAll(plain).isEmpty && plain.exceptAll(skewed).isEmpty)
  }

  test("q98 decontaminate: the benchmark shingle set broadcasts (corpus " +
    "side never shuffles its grams)") {
    val plan = planOf(SparkEntry.queries("q98_decontaminate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "benchmark side lost its broadcast")
    // shuffles: the bench-side distinct (tiny) and the per-doc count.
    // Neither may carry document text or the shingle arrays, and at most
    // one shuffle (the bench distinct) may carry exploded grams — the
    // corpus side's grams must stay map-side.
    val exchanges =
      shufflesOf(SparkEntry.queries("q98_decontaminate")(spark, sf))
    exchanges.foreach { e =>
      val wide = e.output.filter(a =>
        a.name == "text" || a.name == "shingles")
      assert(wide.isEmpty, s"shuffle carries wide columns:\n$e")
    }
    assert(exchanges.count(_.output.exists(_.name == "gram")) <= 1,
      "corpus-side grams entered a shuffle (only the bench distinct may)")
  }

  test("q99 repetition stats: zero shuffles — pure in-scan folds") {
    // the operator itself (before the presentation orderBy) must not
    // exchange: every statistic is a per-row array fold
    val stats = graft.ops.CurationOps.repetitionStats(
      Tables.documents(spark, sf), "text", "doc_id")
    assert(shufflesOf(stats).isEmpty,
      "repetitionStats reintroduced a shuffle")
  }

  test("q101 stratified sample flag is a pushable filter (no shuffle " +
    "before the rollup; filter works at the scan)") {
    val flag = graft.ops.CurationOps.stratifiedSampleFlag(col("lang"),
      col("doc_id"), Map("en" -> 10), 25, "mix")
    val sampled = Tables.documents(spark, sf).filter(flag)
    assert(shufflesOf(sampled).isEmpty,
      "sampling filter should be a pure scan-side predicate")
  }

  test("q110 token-budget mix: the per-stratum totals join back as a " +
    "broadcast, never a corpus shuffle") {
    val plan = planOf(SparkEntry.queries("q110_token_budget_mix")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "stratum totals lost their broadcast join")
    assert(!plan.contains("SortMergeJoin"),
      "corpus side shuffled for the totals join")
  }

  test("q111 exact-k sample: partial WindowGroupLimit prunes to k rows " +
    "per stratum BEFORE the window shuffle") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q111_exact_k_sample")(spark, sf)
        .queryExecution.executedPlan.toString
      // rank<=k pushes map-side: each task ships at most k rows per
      // stratum into the shuffle — the property that makes exact-k
      // sampling viable on corpus-scale strata
      assert(plan.contains("WindowGroupLimit") &&
        plan.contains("Partial"),
        s"partial window group limit missing:\n${plan.take(1500)}")
      val exchanges = shufflesOf(
        SparkEntry.queries("q111_exact_k_sample")(spark, sf))
      // the stratum window + the presentation orderBy, nothing else
      assert(exchanges.size <= 2,
        s"unexpected extra shuffles: ${exchanges.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ivfPqSearchBatch: the probe prunes the IVF-PQ index to the " +
    "probed cells' files AND reads codes, never a vector column " +
    "(the q126 shape)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = Tables.embeddings(spark, sf)
      val centroids = Centroids(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        "cid", "cvec")
      val cb = graft.ops.Pq.train(emb, "vec_id", "embedding",
        m = 2, k = 4, sampleN = 64)
      val dir = TestDirs.tmp("ivfpq_layout").toFile.getAbsolutePath
      graft.ops.Pq.ivfPqIndexWrite(emb, "vec_id", "embedding",
        centroids, cb, dir)
      val probed = graft.ops.Pq.ivfPqSearchBatch(
        emb.filter(col("vec_id") < 2), "vec_id", "embedding",
        spark.read.parquet(dir), "vec_id",
        centroids, cb, k = 5, nProbe = 2)
      probed.collect() // populate scan metrics
      val scans = probed.queryExecution.executedPlan.collectLeaves()
        .collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
      val idxScan = scans.find(
        _.schema.fieldNames.contains("pq_code")).getOrElse(
        fail("no index FileSourceScanExec leaf"))
      // the union of both queries' nProbe=2 cells, counted from disk:
      // numFiles must equal the files living under exactly those dirs
      val planStr = idxScan.toString
      assert(planStr.contains("PartitionFilters") &&
        planStr.replaceAll("(?s).*PartitionFilters", "").contains("cell"),
        planStr.take(1200))
      val probedCells = "cell#\\d+L? IN \\(([^)]*)\\)".r
        .findFirstMatchIn(planStr).map(_.group(1).split(",").length)
        .getOrElse(fail(s"no cell IN-list in:\n${planStr.take(1200)}"))
      val filesInProbed = idxScan.metrics("numFiles").value
      val allCellFiles = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles()
          .count(_.getName.endsWith(".parquet"))).toMap
      assert(probedCells < allCellFiles.size,
        s"probe did not prune: $probedCells of ${allCellFiles.size} cells")
      assert(filesInProbed < allCellFiles.values.sum,
        s"probe read $filesInProbed of ${allCellFiles.values.sum} files")
      // the memory tier: the probed scan's schema is codes + ids only —
      // no 64-float embedding payload rides through the probe
      assert(idxScan.schema.fieldNames.toSet
        .subsetOf(Set("vec_id", "pq_code", "cell")),
        s"index scan reads ${idxScan.schema.fieldNames.mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ivfPqSearchRefined: the refine fetch prunes the vector tree " +
    "to the candidates' cells' files — it never scans the corpus's " +
    "vector payload — and joins candidates as a broadcast, never " +
    "shuffling the fetch side on id (the q127 shape)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = Tables.embeddings(spark, sf)
      val centroids = Centroids(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        "cid", "cvec")
      val cb = graft.ops.Pq.train(emb, "vec_id", "embedding",
        m = 2, k = 4, sampleN = 64)
      val dir = TestDirs.tmp("ivfpq_ref_layout").toFile.getAbsolutePath
      val vecDir = TestDirs.tmp("ivfpq_ref_vecs").toFile.getAbsolutePath
      graft.ops.Pq.ivfPqIndexWritePair(emb, "vec_id", "embedding",
        centroids, cb, dir, vecDir)
      val refined = graft.ops.Pq.ivfPqSearchRefined(
        emb.filter(col("vec_id") < 2), "vec_id", "embedding",
        spark.read.parquet(dir), spark.read.parquet(vecDir),
        "vec_id", "embedding",
        centroids, cb, k = 3, nProbe = 2,
        refineFactor = 4)
      refined.collect() // populate scan metrics
      val plan = refined.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"refine tail shuffled a join side:\n${plan.take(1500)}")
      assert(plan.contains("BroadcastHashJoin"),
        s"candidate/query sides lost their broadcast:\n${plan.take(1500)}")
      // the memory-tier I/O claim, counted from disk: the fetch scan's
      // numFiles equals the files under exactly the candidate cells'
      // directories of the VECTOR tree — a whole-corpus id join would
      // read every cell's files
      val scans = refined.queryExecution.executedPlan.collectLeaves()
        .collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
      val fetchScan = scans.find(s =>
        s.schema.fieldNames.contains("embedding") &&
          s.toString.contains(vecDir)).getOrElse(
        fail("no vector-tree FileSourceScanExec leaf"))
      val planStr = fetchScan.toString
      val candCells = "cell#\\d+L? IN \\(([^)]*)\\)".r
        .findFirstMatchIn(planStr)
        .map(_.group(1).split(",").map(_.trim.toLong).toSet)
        .getOrElse(fail(s"no cell IN-list in:\n${planStr.take(1200)}"))
      val cellFiles = new java.io.File(vecDir).listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName.stripPrefix("cell=").toLong ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      assert(candCells.size < cellFiles.size,
        s"fetch did not prune: ${candCells.size} of ${cellFiles.size} cells")
      val wantFiles = cellFiles.filter(kv => candCells(kv._1)).values.sum
      assert(fetchScan.metrics("numFiles").value == wantFiles,
        s"fetch read ${fetchScan.metrics("numFiles").value} files, " +
          s"expected the $wantFiles under cells $candCells " +
          s"(corpus total ${cellFiles.values.sum})")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
