package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.RecognitionState
import graft.streaming.RecognitionState.RecognitionEvent
import graft.streaming.ChapterFileStream
import graft.ops.TranscriptNormalize
import graft.ops.Similarity.Centroids
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("RecognitionState: words accumulate until session_stopped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[RecognitionEvent]
    val out = RecognitionState.sessionize(stream.toDS(), timeout = None)
    val q = out.writeStream.format("memory").queryName("rec_out")
      .outputMode("append")
      .option("checkpointLocation",
        TestDirs.tmp("ckpt").toString)
      .start()
    try {
      stream.addData(
        RecognitionEvent("Gen", 1, "word", "א", 0.0, 0.5, 0.9),
        RecognitionEvent("Gen", 1, "word", "ב", 0.5, 1.0, 0.7),
        RecognitionEvent("Gen", 2, "word", "ג", 0.0, 0.4, 0.8))
      q.processAllAvailable()
      // nothing completed yet
      assert(spark.sql("select * from rec_out").count() == 0)

      stream.addData(
        RecognitionEvent("Gen", 1, "session_stopped", "", 0, 0, 0))
      q.processAllAvailable()
      val rows = spark.sql(
        "select book, chapter, wordCount, confidence, totalDuration, completed from rec_out")
        .collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getString(0) == "Gen" && r.getInt(1) == 1)
      assert(r.getInt(2) == 2 && math.abs(r.getDouble(3) - 0.8) < 1e-9)
      assert(r.getDouble(4) == 1.0 && r.getBoolean(5))
      // chapter 2 still pending (no stop, no timeout)
      assert(!rows.exists(_.getInt(1) == 2))
    } finally q.stop()
  }

  test("RecognitionState event-time: session times out on watermark, " +
    "not wall clock") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.RecognitionState.TimedRecognitionEvent
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[TimedRecognitionEvent]
    val out = RecognitionState.sessionizeEventTime(stream.toDS(),
      watermarkDelay = "10 seconds", gapMs = 300000L)
    val q = out.writeStream.format("memory").queryName("rec_et_out")
      .outputMode("append")
      .option("checkpointLocation",
        TestDirs.tmp("ckpt_et").toString)
      .start()
    try {
      stream.addData(
        TimedRecognitionEvent("Gen", 1, "word", "א", 0.0, 0.5, 0.9,
          ts("2024-01-01 00:00:00")),
        TimedRecognitionEvent("Gen", 1, "word", "ב", 0.5, 1.0, 0.7,
          ts("2024-01-01 00:00:01")))
      q.processAllAvailable()
      assert(spark.sql("select * from rec_et_out").count() == 0)

      // a much-later event on ANOTHER chapter advances the watermark past
      // Gen 1's (last event + 300 s) timeout — event time, not wall clock
      stream.addData(
        TimedRecognitionEvent("Gen", 2, "word", "ג", 0.0, 0.4, 0.8,
          ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // timeout processing fires on the NEXT batch after the watermark
      // advances
      stream.addData(
        TimedRecognitionEvent("Gen", 2, "word", "ד", 0.4, 0.8, 0.8,
          ts("2024-01-01 00:10:01")))
      q.processAllAvailable()
      val rows = spark.sql(
        "select book, chapter, wordCount, completed from rec_et_out")
        .collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0) == "Gen" && rows.head.getInt(1) == 1)
      assert(rows.head.getInt(2) == 2 && !rows.head.getBoolean(3))
    } finally q.stop()
  }

  test("stream-static join: session rollups validated against the " +
    "static audio catalog by the same batch operator") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[RecognitionEvent]
    val sessions = RecognitionState.sessionize(stream.toDS(), timeout = None)
    val audio = Seq(("Gen", 1, 2.0), ("Gen", 2, 10.0))
      .toDF("book", "chapter", "audio_duration")
    // DurationSanity.validate is stream-agnostic: the static side joins
    // into each micro-batch (broadcast), the gates are row-local
    val out = graft.ops.DurationSanity.validate(sessions.toDF(), audio,
      Seq("book", "chapter"), "totalDuration", "confidence", "wordCount",
      "audio_duration")
    val q = out.writeStream.format("memory").queryName("val_out")
      .outputMode("append")
      .option("checkpointLocation",
        TestDirs.tmp("ckpt_vs").toString)
      .start()
    try {
      stream.addData(
        RecognitionEvent("Gen", 1, "word", "א", 0.0, 2.5, 0.9),
        RecognitionEvent("Gen", 1, "session_stopped", "", 0, 0, 0),
        RecognitionEvent("Gen", 2, "word", "ב", 0.0, 1.0, 0.9),
        RecognitionEvent("Gen", 2, "session_stopped", "", 0, 0, 0))
      q.processAllAvailable()
      val rows = spark.sql("select chapter, valid_strict from val_out")
        .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      // Gen 1 aligned to 2.5 s vs 2.0 s audio (> ×1.1) — strict reject;
      // Gen 2 well inside its audio
      assert(rows == Map(1 -> false, 2 -> true))
    } finally q.stop()
  }

  test("ChapterFileStream: file arrival → normalize → aligned batch") {
    val srcDir = TestDirs.tmp("payloads")
    val payload =
      """{"chunks":[{"text":"שלום","timestamp":[0.0,1.0]},
        |{"text":"עולם","timestamp":[1.0,2.0]}]}""".stripMargin
    Files.write(srcDir.resolve("Gen_1.json"),
      payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val collected = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Int, Long)]()
    val stream = ChapterFileStream.payloadStream(spark, srcDir.toString)
    val q = ChapterFileStream.start(stream, Trigger.AvailableNow(),
      TestDirs.tmp("ckpt2").toString) { (batch, _) =>
      val words = TranscriptNormalize.fromWhisper(batch)
      words.collect().foreach(r =>
        collected.add((r.getString(0), r.getInt(1), 1L)))
    }
    assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    assert(collected.size == 2)
    assert(collected.peek()._1 == "Gen")
  }

  test("checkpoint recovery: restart resumes from the offset log; " +
    "file sink output is exactly-once (no duplicate, no missing)") {
    val srcDir = TestDirs.tmp("payloads_recover")
    val ckpt = TestDirs.tmp("ckpt_recover").toString
    val outDir = TestDirs.tmp("out_recover").toString
    def writeFile(n: Int): Unit =
      Files.write(srcDir.resolve(s"Gen_$n.json"),
        s"""{"chunks":[{"text":"t$n","timestamp":[0.0,1.0]}]}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the real deployment contract (handovernote-v1.txt:43 blob
    // trigger): the process can die between arrivals; the offset log +
    // the file sink's commit log must make a restart transparent
    def runOnce(): Unit = {
      val stream = ChapterFileStream.payloadStream(spark, srcDir.toString)
      val q = stream.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    }
    writeFile(1)
    runOnce() // processes chapter 1, then the query stops ("crash")
    writeFile(2); writeFile(3)
    runOnce() // restart from the SAME checkpoint
    val out = spark.read.parquet(outDir)
      .select("book", "chapter").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    // chapter 1 must not reprocess (offset log) and must not vanish;
    // 2 and 3 must both arrive exactly once
    assert(out == Seq(("Gen", 1), ("Gen", 2), ("Gen", 3)),
      s"restart broke exactly-once: $out")
  }

  test("PollMonitor: attempt counting, terminal emit, budget exhaustion") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.PollMonitor
    import graft.streaming.PollMonitor.PollEvent
    val stream = MemoryStream[PollEvent]
    val out = PollMonitor.monitor(stream.toDS(), maxAttempts = 3)
    val q = out.writeStream.format("memory").queryName("poll_out")
      .outputMode("append")
      .option("checkpointLocation",
        TestDirs.tmp("ckpt3").toString)
      .start()
    try {
      stream.addData(
        PollEvent("job1", "Running"), PollEvent("job2", "Running"))
      q.processAllAvailable()
      assert(spark.sql("select * from poll_out").count() == 0)
      stream.addData(PollEvent("job1", "Succeeded"),
        PollEvent("job2", "Running"), PollEvent("job2", "Running"))
      q.processAllAvailable()
      val rows = spark.sql(
        "select jobId, outcome, attempts from poll_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      // job1 succeeded on attempt 2; job2 exhausted its 3-attempt budget
      assert(rows == Set(("job1", "succeeded", 2), ("job2", "exhausted", 3)))
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark on content hash") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = stream.toDS().toDF("ts", "text")
      .withColumn("content_hash", md5(lower(col("text"))))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_hash")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation",
        TestDirs.tmp("ckpt4").toString)
      .start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
      stream.addData((t, "hello world"), (t2, "HELLO WORLD"),
        (t2, "unique doc"))
      q.processAllAvailable()
      val texts = spark.sql("select text from dedup_out").collect()
        .map(_.getString(0)).toSet
      // case-insensitive duplicate dropped within the watermark window
      assert(texts.size == 2)
      assert(texts.contains("unique doc"))
    } finally q.stop()
  }

  test("streaming ingest curation: stream-static dup flag vs the " +
    "standing corpus + stateless quality/redaction projections") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // standing corpus (static side — at scale, the training set's
    // fingerprint index; broadcast under the stream-static join)
    val corpus = Seq("alpha beta gamma delta", "old corpus doc here")
      .toDF("text")
      .select(graft.functions.TextFunctions.fingerprint(col("text"))
        .as("fp"), lit(true).as("known"))
    val stream = MemoryStream[(Long, String)]
    val ingest = stream.toDS().toDF("doc_id", "text")
      .withColumn("fp",
        graft.functions.TextFunctions.fingerprint(col("text")))
      .withColumn("quality",
        graft.functions.TextFunctions.qualityScore(col("text")))
      .withColumn("n_redacted",
        regexp_count(col("text"), lit("[0-9]+")))
      .join(broadcast(corpus), Seq("fp"), "left")
      .withColumn("is_dup", coalesce(col("known"), lit(false)))
      .select("doc_id", "quality", "n_redacted", "is_dup")
    val q = ingest.writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (1L, "alpha beta gamma delta"), // already in the corpus
        (2L, "a fresh document with id 12345"), // new, one digit run
        (3L, "another brand new clean document"))
      q.processAllAvailable()
      val rows = spark.sql(
        "select doc_id, n_redacted, is_dup from ingest_out order by 1")
        .as[(Long, Int, Boolean)].collect().toSeq
      assert(rows === Seq((1L, 0, true), (2L, 1, false), (3L, 0, false)))
    } finally q.stop()
  }

  test("streaming near-dup flagging against a static corpus band index " +
    "(the materialized index path of crossDedupFlags)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "one two three four five six seven eight nine ten"
    val corpus = Seq((0L, base), (1L, "another corpus document entirely"))
      .toDF("doc_id", "text")
    // the persisted index: built once per corpus build, written in its
    // lookup layout (one directory per band — pruning proven in
    // PlanRegressionSpec), and re-read like an ingest job would
    val indexDir = TestDirs.tmp("stream_band_index").toFile.getAbsolutePath
    graft.ops.Dedup.bandIndex(corpus,
      graft.functions.TextFunctions.wordShingles(col("text"), 3), "doc_id")
      .write.partitionBy("band").mode("overwrite").parquet(indexDir)
    val index = spark.read.parquet(indexDir)
      .withColumnRenamed("id", "corpus_id")
    val stream = MemoryStream[(Long, String)]
    val streamBands = graft.ops.Dedup.bandIndex(
      stream.toDS().toDF("doc_id", "text"),
      graft.functions.TextFunctions.wordShingles(col("text"), 3), "doc_id")
    // stream-static equi-join on the band key: candidate near-dup hits
    val hits = streamBands.join(broadcast(index), Seq("band", "band_sig"))
      .select(col("id").as("doc_id"), col("corpus_id"))
    val q = hits.writeStream.format("memory").queryName("banddx_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (9L, base + " eleven"),              // near-dup of corpus doc 0
        (10L, "totally novel words right here now then"))
      q.processAllAvailable()
      val got = spark.sql(
        "select distinct doc_id, corpus_id from banddx_out")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((9L, 0L)),
        s"expected only the planted near-dup to hit the index, got $got")
    } finally q.stop()
  }

  test("streaming ANN ingest: query vectors probed against the " +
    "persisted IVF index per micro-batch (foreachBatch, the ANN analog " +
    "of the band-index ingest lookup)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.ops.Similarity
    val rnd = new scala.util.Random(59)
    val corpus = (0L until 120L).map(i =>
      (i, Seq.fill(6)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val centroids = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val codebook = Centroids(centroids, "cid", "cvec")
    // the persisted index: built once per corpus build, one directory
    // per cell (pruning proven in PlanRegressionSpec), re-read like an
    // ingest job would
    val indexDir = TestDirs.tmp("stream_ivf_index").toFile.getAbsolutePath
    Similarity.ivfIndex(corpus, "vec_id", "embedding",
      codebook)
      .coalesce(1) // one file per cell dir ⇒ numFiles == cells scanned
      .write.partitionBy("cell").mode("overwrite").parquet(indexDir)
    val index = spark.read.parquet(indexDir)
    val nCells = new java.io.File(indexDir).listFiles()
      .count(_.getName.startsWith("cell="))

    val queries = Seq(
      (1000L, (0 until 6).map(j => 0.9 * rnd.nextGaussian())),
      (1001L, (0 until 6).map(j => 1.1 * rnd.nextGaussian())))
    val expected = Similarity.ivfSearchBatch(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      index, "vec_id", "embedding", codebook,
      k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture degenerate: no neighbors found")
    // expected probed-cell union, derived independently: each query's 2
    // nearest centroids by (sqdist, cid) — the pruning target
    val cents = centroids.select(col("cid"),
      col("cvec").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val probedCells = queries.flatMap { case (_, qv) =>
      cents.map { case (cid, cv) =>
        (cv.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum, cid)
      }.sorted.take(2).map(_._2)
    }.distinct.sorted
    assert(probedCells.length < nCells,
      "fixture degenerate: every cell probed — pruning unobservable")

    // ivfSearchBatch rank-limits per query and collects the probe-cell
    // list — both unsupported inside a streaming plan, so the ingest
    // shape is foreachBatch: each micro-batch is a plain DataFrame and
    // the whole batch amortizes one index lookup. The micro-batch
    // probe must inherit the static partition pruning — a stream that
    // full-scans the index per batch would not survive a 100 TB
    // corpus — so the batch records the index-side numFiles too.
    val got = scala.collection.mutable.Set[(Long, Long)]()
    @volatile var filesRead = -1L
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = stream.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          val res = Similarity.ivfSearchBatch(batch, "vec_id", "embedding",
            index, "vec_id", "embedding", codebook,
            k = 3, nProbe = 2)
          got ++= res.collect().map(r => (r.getLong(0), r.getLong(1)))
          res.queryExecution.executedPlan.collect {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec
              if sc.relation.location.rootPaths.exists(
                _.toString.contains("stream_ivf_index")) => sc
          }.headOption.foreach(sc =>
            filesRead = sc.metrics("numFiles").value)
        }: Unit
      }
      .start()
    try {
      stream.addData(queries: _*)
      q.processAllAvailable()
      assert(got.toSet === expected,
        s"streamed probe diverged: got $got expected $expected")
      assert(filesRead == probedCells.length,
        s"micro-batch probe read $filesRead index files for " +
          s"${probedCells.length} probed cells of $nCells — the " +
          "streaming lookup lost the probe-cell pruning")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("streaming ANN ingest is exactly-once across a restart " +
    "(foreachBatch probe through IdempotentSink; kill between " +
    "micro-batches; no duplicate, no missing neighbors)") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(61)
    val corpus = (0L until 120L).map(i =>
      (i, Seq.fill(6)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val centroids = Centroids(corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val indexDir = TestDirs.tmp("eo_ivf_index").toFile.getAbsolutePath
    Similarity.ivfIndex(corpus, "vec_id", "embedding",
      centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(indexDir)
    val index = spark.read.parquet(indexDir)

    val queries = (0 until 3).map(i =>
      (1000L + i, Seq.fill(6)(rnd.nextGaussian())))
    // batching cannot change per-query answers: expected = one direct
    // batch over all three queries
    val expected = Similarity.ivfSearchBatch(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      index, "vec_id", "embedding", centroids,
      k = 3, nProbe = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture degenerate: no neighbors")

    val srcDir = TestDirs.tmp("eo_ivf_src")
    val ckpt = TestDirs.tmp("eo_ivf_ckpt").toString
    val outDir = TestDirs.tmp("eo_ivf_out").toString
    def writeQuery(q: (Long, Seq[Double])): Unit =
      Files.write(srcDir.resolve(s"q_${q._1}.json"),
        s"""{"vec_id":${q._1},"embedding":[${q._2.mkString(",")}]}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long")
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            batchId: Long) =>
          graft.streaming.IdempotentSink.parquetByBatch(outDir)(
            Similarity.ivfSearchBatch(batch, "vec_id", "embedding",
              index, "vec_id", "embedding", centroids,
              k = 3, nProbe = 2), batchId)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    }
    writeQuery(queries(0))
    runOnce() // probes query 1000, then the query stops ("crash")
    writeQuery(queries(1))
    writeQuery(queries(2))
    runOnce() // restart from the SAME checkpoint
    val out = spark.read.parquet(outDir)
    val dupRows = out.groupBy("qid", "vec_id")
      .count().filter(col("count") > 1).count()
    assert(dupRows == 0, "restart duplicated already-probed neighbors")
    val got = out.select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"restart lost or invented neighbors: got $got expected $expected")
  }

  test("band-index ingest lookup is exactly-once across a restart " +
    "(kill between microbatches; no duplicate, no missing flags)") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val corpus = Seq((0L, base), (1L, "another corpus document entirely"))
      .toDF("doc_id", "text")
    val indexDir = TestDirs.tmp("eo_band_index").toFile.getAbsolutePath
    graft.ops.Dedup.bandIndex(corpus,
      graft.functions.TextFunctions.wordShingles(col("text"), 3), "doc_id")
      .write.partitionBy("band").mode("overwrite").parquet(indexDir)
    val index = spark.read.parquet(indexDir)
      .withColumnRenamed("id", "corpus_id")

    val srcDir = TestDirs.tmp("eo_band_src")
    val ckpt = TestDirs.tmp("eo_band_ckpt").toString
    val outDir = TestDirs.tmp("eo_band_out").toString
    def writeDoc(id: Long, text: String): Unit =
      Files.write(srcDir.resolve(s"doc_$id.json"),
        s"""{"doc_id":$id,"text":"$text"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).json(srcDir.toString)
      val bandsDf = graft.ops.Dedup.bandIndex(stream,
        graft.functions.TextFunctions.wordShingles(col("text"), 3),
        "doc_id")
      val hits = bandsDf.join(broadcast(index), Seq("band", "band_sig"))
        .select(col("id").as("doc_id"), col("corpus_id"), col("band"))
      val q = hits.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    }
    writeDoc(9L, base + " eleven") // near-dup of corpus doc 0
    runOnce() // flags doc 9, then the query stops ("crash")
    writeDoc(10L, "totally novel words right here now then")
    writeDoc(11L, base + " twelve") // another near-dup
    runOnce() // restart from the SAME checkpoint
    val out = spark.read.parquet(outDir)
    // (doc, corpus, band) is unique per processed input row: any
    // duplicate means batch 1 reprocessed; any missing means the
    // restart dropped a microbatch
    val dupRows = out.groupBy("doc_id", "corpus_id", "band")
      .count().filter(col("count") > 1).count()
    assert(dupRows == 0, "restart duplicated already-flagged hits")
    val byDoc = out.select("doc_id", "corpus_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(byDoc == Set((9L, 0L), (11L, 0L)),
      s"expected exactly the two planted near-dups flagged once: $byDoc")
  }

  test("IdempotentSink: a replayed micro-batch (foreachBatch's " +
    "at-least-once recovery contract) is a no-op, not a duplicate") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = TestDirs.tmp("idem_sink").toFile.getAbsolutePath
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("id", "v").writeStream
      .outputMode("append")
      .foreachBatch(graft.streaming.IdempotentSink.parquetByBatch(out) _)
      .option("checkpointLocation", TestDirs.tmp("idem_ckpt").toString)
      .start()
    try {
      stream.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      stream.addData((3L, "c"))
      q.processAllAvailable()
      val before = spark.read.parquet(out)
        .select("id", "v", "_batch").collect().toSet
      assert(before.size == 3, s"expected 3 rows, got $before")
      // simulate recovery replaying the LAST batch: same id, same rows.
      // (partition-type inference narrows the directory value — read it
      // numerically, not as a hardcoded Int)
      val lastBatch = spark.read.parquet(out)
        .select(max(col("_batch").cast("long"))).head().getLong(0)
      graft.streaming.IdempotentSink.parquetByBatch(out)(
        Seq((3L, "c")).toDF("id", "v"), lastBatch)
      val after = spark.read.parquet(out)
        .select("id", "v", "_batch").collect().toSet
      assert(after === before, "replay duplicated or dropped rows")
      // and a replay must not touch OTHER batches' partitions
      // (dynamic overwrite, not whole-table truncate)
      assert(after.exists(_.getLong(0) == 1L),
        "replay truncated earlier batches")
    } finally q.stop()
  }

  test("streaming IVF-PQ index BUILD is exactly-once: vectors ingested " +
    "via indexByBatch across a kill/restart, probes equal the " +
    "single-shot build, a replayed batch is a no-op, and cell pruning " +
    "survives the _batch tree level") {
    import spark.implicits._
    import graft.ops.{Pq, Similarity}
    val rnd = new scala.util.Random(67)
    val vecs = (0L until 150L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian())))
    val all = vecs.toDF("vec_id", "embedding")
    // 8 cells so the 2 queries' nProbe=2 union stays a strict subset
    // and the pruning assertion below is observable
    val cents = Centroids(vecs.take(8).toDF("cid", "cvec"), "cid", "cvec")
    val cb = Pq.train(all, "vec_id", "embedding", m = 2, k = 4,
      sampleN = 150)
    // the reference answer: one single-shot build over everything
    val oneShot = TestDirs.tmp("spq_oneshot").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(all, "vec_id", "embedding", cents,
      cb, oneShot)
    val queries = vecs.take(2).toDF("vec_id", "embedding")
    def probe(dir: String): Set[(Long, Long, Double)] =
      Pq.ivfPqSearchBatch(queries, "vec_id", "embedding",
        spark.read.parquet(dir), "vec_id", cents, cb,
        k = 5, nProbe = 4)
        .select(col("qid"), col("vec_id"), col("adc_dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val expected = probe(oneShot)
    assert(expected.nonEmpty)

    // streamed build: vectors arrive as json files; each micro-batch is
    // assigned+encoded and lands under _batch=<id>/cell=<c>/
    val srcDir = TestDirs.tmp("spq_src")
    val ckpt = TestDirs.tmp("spq_ckpt").toString
    val idxDir = TestDirs.tmp("spq_idx").toFile.getAbsolutePath
    def writeVecs(rows: Seq[(Long, Seq[Double])], name: String): Unit =
      Files.write(srcDir.resolve(name), rows.map { case (i, v) =>
        s"""{"vec_id":$i,"embedding":[${v.mkString(",")}]}"""
      }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long")
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            batchId: Long) =>
          graft.streaming.IdempotentSink.indexByBatch(idxDir, "cell")(
            Pq.ivfPqIndexFrame(batch, "vec_id", "embedding",
              cents, cb), batchId)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish in 60 s")
    }
    val (h1, h2) = vecs.splitAt(70)
    writeVecs(h1, "a.json")
    runOnce() // ingests the first half, then stops ("crash")
    writeVecs(h2, "b.json")
    runOnce() // restart from the SAME checkpoint
    val streamed = spark.read.parquet(idxDir)
    assert(streamed.groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0,
      "restart duplicated index rows")
    assert(streamed.count() == vecs.size)
    assert(probe(idxDir) == expected,
      "streamed build diverged from the single-shot index")
    // foreachBatch's at-least-once recovery: replaying the last batch
    // must be a byte-level no-op, not an append
    val lastBatch = streamed
      .select(max(col("_batch").cast("long"))).head().getLong(0)
    graft.streaming.IdempotentSink.indexByBatch(idxDir, "cell")(
      Pq.ivfPqIndexFrame(h2.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, cb), lastBatch)
    // the overwrite replaced part files under _batch=<last>; drop the
    // session's cached listing before re-reading the tree
    spark.catalog.refreshByPath(idxDir)
    assert(spark.read.parquet(idxDir).count() == vecs.size,
      "replayed batch appended duplicate index rows")
    assert(probe(idxDir) == expected)
    // the probe still prunes on cell THROUGH the _batch level
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probed = Pq.ivfPqSearchBatch(queries, "vec_id", "embedding",
        spark.read.parquet(idxDir), "vec_id", cents, cb,
        k = 5, nProbe = 2)
      probed.collect()
      val scan = probed.queryExecution.executedPlan.collectLeaves()
        .collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.schema.fieldNames.contains("pq_code") => s
        }.headOption.getOrElse(fail("no index scan leaf"))
      val planStr = scan.toString
      assert(planStr.contains("PartitionFilters") &&
        planStr.replaceAll("(?s).*PartitionFilters", "").contains("cell"),
        planStr.take(1200))
      // fresh read: `streamed` predates the replay's file rewrite
      val allFiles = spark.read.parquet(idxDir)
        .select(input_file_name()).distinct().count()
      assert(scan.metrics("numFiles").value < allFiles,
        s"probe read ${scan.metrics("numFiles").value} of $allFiles " +
          "files — cell pruning lost under the _batch tree level")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // compactBatches (the working maintenance pass for this tree —
    // compactCells no-ops on it by shape): both batch subtrees fold
    // into one, probes unchanged, second call is a no-op
    assert(graft.ops.Similarity.compactCells(spark, idxDir,
      maxFilesPerCell = 1).isEmpty,
      "compactCells unexpectedly matched a _batch tree")
    val folded = graft.streaming.IdempotentSink.compactBatches(
      spark, idxDir, "cell", uptoBatch = lastBatch)
    assert(folded.size == 2, s"expected 2 folded batches, got $folded")
    val dirs = new java.io.File(idxDir).listFiles()
      .filter(_.getName.startsWith("_batch=")).map(_.getName).toSeq
    assert(dirs == Seq(s"_batch=${folded.head}"),
      s"unexpected batch dirs after compaction: $dirs")
    assert(spark.read.parquet(idxDir).count() == vecs.size)
    assert(probe(idxDir) == expected,
      "batch compaction changed probe results")
    // the post-compaction pruning claim, COUNTED from disk (the
    // "probe-side file count stops growing with stream age" contract):
    // the probe scan's numFiles equals exactly the probed cells' file
    // count under the consolidated _batch subtree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probed2 = Pq.ivfPqSearchBatch(queries, "vec_id", "embedding",
        spark.read.parquet(idxDir), "vec_id", cents, cb,
        k = 5, nProbe = 2)
      probed2.collect()
      val scan2 = probed2.queryExecution.executedPlan.collectLeaves()
        .collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.schema.fieldNames.contains("pq_code") => s
        }.headOption.getOrElse(fail("no post-compaction index scan leaf"))
      val cellsProbed = "cell#\\d+L? IN \\(([^)]*)\\)".r
        .findFirstMatchIn(scan2.toString)
        .map(_.group(1).split(",").map(_.trim.toLong).toSet)
        .getOrElse(fail(s"no cell IN-list in:\n${scan2.toString.take(1200)}"))
      val consolidated = new java.io.File(idxDir, s"_batch=${folded.head}")
      val wantFiles = consolidated.listFiles()
        .filter(_.getName.startsWith("cell="))
        .filter(d => cellsProbed(d.getName.stripPrefix("cell=").toLong))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
      assert(wantFiles > 0, "probed cells have no files to count")
      assert(scan2.metrics("numFiles").value == wantFiles,
        s"post-compaction probe read ${scan2.metrics("numFiles").value} " +
          s"files, expected the $wantFiles under cells $cellsProbed of " +
          s"the consolidated ${consolidated.getName} subtree")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(graft.streaming.IdempotentSink.compactBatches(
      spark, idxDir, "cell", uptoBatch = lastBatch).isEmpty,
      "compactBatches is not idempotent")
  }

  test("composed exactly-once ingest: band-index lookup stream through " +
    "IdempotentSink, killed between micro-batches with a replayed " +
    "batch — output tree identical to an uninterrupted run") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val corpus = Seq((0L, base), (1L, "another corpus document entirely"))
      .toDF("doc_id", "text")
    val indexDir = TestDirs.tmp("comp_band_index").toFile.getAbsolutePath
    graft.ops.Dedup.bandIndex(corpus,
      graft.functions.TextFunctions.wordShingles(col("text"), 3), "doc_id")
      .write.partitionBy("band").mode("overwrite").parquet(indexDir)
    val index = spark.read.parquet(indexDir)
      .withColumnRenamed("id", "corpus_id")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")

    // the composed pipeline: file arrival → banding → broadcast lookup
    // against the persisted index → idempotent batch-keyed sink
    def hitsOf(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.bandIndex(df,
        graft.functions.TextFunctions.wordShingles(col("text"), 3),
        "doc_id")
        .join(broadcast(index), Seq("band", "band_sig"))
        .select(col("id").as("doc_id"), col("corpus_id"), col("band"))
    def runOnce(src: java.nio.file.Path, ckpt: String, out: String): Unit = {
      val q = hitsOf(spark.readStream.schema(schema).json(src.toString))
        .writeStream.outputMode("append")
        .foreachBatch(graft.streaming.IdempotentSink.parquetByBatch(out) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    }
    def writeDoc(src: java.nio.file.Path, id: Long, text: String): Unit =
      Files.write(src.resolve(s"doc_$id.json"),
        s"""{"doc_id":$id,"text":"$text"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // tree fingerprint: partition → row multiset (part-file names carry
    // fresh UUIDs per write, so identity is judged on layout + content)
    def tree(out: String): Map[Long, Set[(Long, Long, Int)]] =
      spark.read.parquet(out)
        .select(col("_batch").cast("long"), col("doc_id"),
          col("corpus_id"), col("band"))
        .as[(Long, Long, Long, Int)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3, r._4)).toSet).toMap

    // control: same two-phase arrival schedule, clean resume, no failure
    val srcA = TestDirs.tmp("comp_src_a"); val outA =
      TestDirs.tmp("comp_out_a").toString
    val ckptA = TestDirs.tmp("comp_ckpt_a").toString
    writeDoc(srcA, 9L, base + " eleven")
    runOnce(srcA, ckptA, outA)
    writeDoc(srcA, 10L, "totally novel words right here now then")
    writeDoc(srcA, 11L, base + " twelve")
    runOnce(srcA, ckptA, outA)

    // crash run: after batch 0 commits, foreachBatch's at-least-once
    // recovery REPLAYS batch 0 (same id, same rows) before the restart
    // processes the new arrivals
    val srcB = TestDirs.tmp("comp_src_b"); val outB =
      TestDirs.tmp("comp_out_b").toString
    val ckptB = TestDirs.tmp("comp_ckpt_b").toString
    writeDoc(srcB, 9L, base + " eleven")
    runOnce(srcB, ckptB, outB)
    graft.streaming.IdempotentSink.parquetByBatch(outB)(
      hitsOf(Seq((9L, base + " eleven")).toDF("doc_id", "text")), 0L)
    writeDoc(srcB, 10L, "totally novel words right here now then")
    writeDoc(srcB, 11L, base + " twelve")
    runOnce(srcB, ckptB, outB)

    val a = tree(outA); val b = tree(outB)
    assert(a === b,
      s"crash+replay run diverged from the uninterrupted run: $a vs $b")
    assert(a.values.flatten.map(r => (r._1, r._2)).toSet ===
      Set((9L, 0L), (11L, 0L)),
      "expected exactly the two planted near-dups flagged")
  }

  test("self-growing streaming dedup ingest is exactly-once: the lookup " +
    "time-travels to _batch < id (a replayed batch cannot self-match), " +
    "later batches dedup against kept docs only, and crash+replay " +
    "produces trees identical to an uninterrupted run") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val clean2 = "totally different words entirely here now indeed"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def writeDoc(src: java.nio.file.Path, id: Long, text: String): Unit =
      Files.write(src.resolve(s"doc_$id.json"),
        s"""{"doc_id":$id,"text":"$text"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def runOnce(src: java.nio.file.Path, ckpt: String, root: String,
        flagsOut: String): Unit = {
      val q = spark.readStream.schema(schema).json(src.toString)
        .writeStream.outputMode("append")
        .foreachBatch(graft.streaming.IdempotentSink.dedupIngestByBatch(
          root, flagsOut, "text", "doc_id") _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    }
    def flagTree(out: String): Map[Long, Set[(Long, Boolean, Boolean)]] =
      spark.read.parquet(out)
        .select(col("_batch").cast("long"), col("doc_id"),
          col("exact_dup"), col("near_dup"))
        .as[(Long, Long, Boolean, Boolean)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3, r._4)).toSet).toMap
    def fpTree(root: String): Map[Long, Set[Long]] =
      spark.read.parquet(s"$root/fp")
        .select(col("_batch").cast("long"), col("id"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    def schedule(src: java.nio.file.Path, ckpt: String, root: String,
        flagsOut: String, replayBatch0: Boolean): Unit = {
      // batch 0: two clean docs — an empty index tree must flag nothing
      writeDoc(src, 1L, base + " eleven")
      writeDoc(src, 2L, clean2)
      runOnce(src, ckpt, root, flagsOut)
      if (replayBatch0)
        // foreachBatch at-least-once recovery: batch 0 REPLAYS with the
        // same id AFTER its own index rows are already in the trees —
        // the time-travel lookup must keep it from matching itself
        graft.streaming.IdempotentSink.dedupIngestByBatch(
          root, flagsOut, "text", "doc_id")(
          Seq((1L, base + " eleven"), (2L, clean2)).toDF("doc_id", "text"),
          0L)
      // batch 1: 3 near-dups doc 1, 5 exact-dups doc 2, 4 is novel
      writeDoc(src, 3L, base + " twelve")
      writeDoc(src, 4L, "another novel collection of unrelated tokens")
      writeDoc(src, 5L, clean2)
      runOnce(src, ckpt, root, flagsOut)
      // batch 2: 6 (the bare base, the pair the composed-ingest test
      // proves band-collides with base+" eleven") near-dups doc 1 — and
      // doc 3, but 3 was DROPPED and must not be in the index; 7
      // exact-dups the dropped 5's text, which lives in the index as
      // doc 2's fingerprint
      writeDoc(src, 6L, base)
      writeDoc(src, 7L, clean2)
      runOnce(src, ckpt, root, flagsOut)
    }

    val srcA = TestDirs.tmp("dedup_ingest_src_a")
    val rootA = TestDirs.tmp("dedup_ingest_idx_a").toString
    val flagsA = TestDirs.tmp("dedup_ingest_flags_a").toString
    schedule(srcA, TestDirs.tmp("dedup_ingest_ckpt_a").toString,
      rootA, flagsA, replayBatch0 = false)
    val srcB = TestDirs.tmp("dedup_ingest_src_b")
    val rootB = TestDirs.tmp("dedup_ingest_idx_b").toString
    val flagsB = TestDirs.tmp("dedup_ingest_flags_b").toString
    schedule(srcB, TestDirs.tmp("dedup_ingest_ckpt_b").toString,
      rootB, flagsB, replayBatch0 = true)

    val a = flagTree(flagsA)
    assert(a === flagTree(flagsB),
      "crash+replay flags diverged from the uninterrupted run")
    assert(fpTree(rootA) === fpTree(rootB),
      "crash+replay index tree diverged from the uninterrupted run")
    // batch 0: both kept (clean corpus start; a self-matching replay
    // would have flipped these to dups in run B)
    assert(a(0L) === Set((1L, false, false), (2L, false, false)))
    // batch 1: 3 near-dups 1; 5 exact-dups 2 (an exact copy is also a
    // near-dup -- Jaccard 1.0); 4 clean
    assert(a(1L) === Set((3L, false, true), (5L, true, true),
      (4L, false, false)))
    // batch 2: 6 near-dups the KEPT doc 1; 7 exact-dups doc 2's text
    // (again exact implies near)
    assert(a(2L) === Set((6L, false, true), (7L, true, true)))
    // the index accumulated exactly the kept docs, batch-keyed (batch 2
    // kept nothing: a zero-row dynamic overwrite touches no partition,
    // so no _batch=2 subtree exists)
    assert(fpTree(rootA) === Map(0L -> Set(1L, 2L), 1L -> Set(4L)))
  }

  test("self-growing streaming SEMANTIC dedup ingest is exactly-once: " +
    "time-travel keeps a replayed batch from self-matching, later " +
    "batches dedup against KEPT vectors only, crash+replay trees match " +
    "the uninterrupted run, and a drifted codebook is refused") {
    import spark.implicits._
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("vec", "array<double>")
    def writeVec(src: java.nio.file.Path, id: Long,
        v: Seq[Double]): Unit =
      Files.write(src.resolve(s"vec_$id.json"),
        s"""{"vec_id":$id,"vec":[${v.mkString(",")}]}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    def ingest(root: String, flagsOut: String)(
        df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      graft.streaming.IdempotentSink.semanticIngestByBatch(
        s"$root/idx", flagsOut, "vec_id", "vec", cents, "cid", "cvec",
        tau = 0.9, nProbe = 2)(df, b)
    def runOnce(src: java.nio.file.Path, ckpt: String, root: String,
        flagsOut: String): Unit = {
      val q = spark.readStream.schema(schema).json(src.toString)
        .writeStream.outputMode("append")
        .foreachBatch(ingest(root, flagsOut) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    }
    def flagTree(out: String): Map[Long, Set[(Long, Boolean)]] =
      spark.read.parquet(out)
        .select(col("_batch").cast("long"), col("vec_id"), col("keep"))
        .as[(Long, Long, Boolean)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    def vecTree(root: String): Map[Long, Set[Long]] =
      spark.read.parquet(s"$root/idx/vec")
        .select(col("_batch").cast("long"), col("vec_id"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // cos(v1, v3) ≈ 1 (both hug c0); v4 splits the axes (cos < 0.9 vs
    // everything); v5 re-sends v3's DROPPED direction (must match the
    // KEPT v1, proving the dropped v3 never entered the index); v6
    // copies the kept v4
    val v1 = Seq(1.0, 0.1, 0.0, 0.0); val v2 = Seq(0.0, 1.0, 0.1, 0.0)
    val v3 = Seq(1.0, 0.11, 0.0, 0.0)
    val v4 = Seq(0.5, -0.5, 0.7, 0.0)
    val v5 = Seq(1.0, 0.12, 0.0, 0.0); val v6 = Seq(0.5, -0.5, 0.69, 0.0)
    def schedule(src: java.nio.file.Path, ckpt: String, root: String,
        flagsOut: String, replayBatch0: Boolean): Unit = {
      writeVec(src, 1L, v1); writeVec(src, 2L, v2)
      runOnce(src, ckpt, root, flagsOut)
      if (replayBatch0)
        // foreachBatch at-least-once recovery: batch 0 replays with its
        // own index rows already in the tree — `_batch < 0` must keep
        // it from matching itself
        ingest(root, flagsOut)(
          Seq((1L, v1), (2L, v2)).toDF("vec_id", "vec"), 0L)
      writeVec(src, 3L, v3); writeVec(src, 4L, v4)
      runOnce(src, ckpt, root, flagsOut)
      writeVec(src, 5L, v5); writeVec(src, 6L, v6)
      runOnce(src, ckpt, root, flagsOut)
    }

    val srcA = TestDirs.tmp("sem_ingest_src_a")
    val rootA = TestDirs.tmp("sem_ingest_idx_a").toString
    val flagsA = TestDirs.tmp("sem_ingest_flags_a").toString
    schedule(srcA, TestDirs.tmp("sem_ingest_ckpt_a").toString,
      rootA, flagsA, replayBatch0 = false)
    val srcB = TestDirs.tmp("sem_ingest_src_b")
    val rootB = TestDirs.tmp("sem_ingest_idx_b").toString
    val flagsB = TestDirs.tmp("sem_ingest_flags_b").toString
    schedule(srcB, TestDirs.tmp("sem_ingest_ckpt_b").toString,
      rootB, flagsB, replayBatch0 = true)

    val a = flagTree(flagsA)
    assert(a === flagTree(flagsB),
      "crash+replay flags diverged from the uninterrupted run")
    assert(vecTree(rootA) === vecTree(rootB),
      "crash+replay index tree diverged from the uninterrupted run")
    // batch 0: empty prior keeps both (a self-matching replay in run B
    // would have flipped them)
    assert(a(0L) === Set((1L, true), (2L, true)))
    // batch 1: v3 matches the kept v1 (drop); v4 is novel (keep)
    assert(a(1L) === Set((3L, false), (4L, true)))
    // batch 2: v5 matches v1 — NOT the dropped v3; v6 matches the
    // batch-1-kept v4 (proving kept rows from every prior batch index)
    assert(a(2L) === Set((5L, false), (6L, false)))
    // the index accumulated exactly the kept vectors, batch-keyed
    // (batch 2 kept nothing → no _batch=2 subtree)
    assert(vecTree(rootA) === Map(0L -> Set(1L, 2L), 1L -> Set(4L)))
    // batch 2's neighbor attribution: v5's best neighbor is v1
    val n5 = spark.read.parquet(flagsA)
      .filter(col("vec_id") === 5L).select(col("neighbor_id"))
      .as[Long].head()
    assert(n5 === 1L, s"v5 matched $n5, expected the kept v1")
    // a drifted codebook must be refused BEFORE writing anything
    val drifted = Seq((0L, Seq(0.9, 0.0, 0.1, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val ex = intercept[IllegalStateException] {
      graft.streaming.IdempotentSink.semanticIngestByBatch(
        s"$rootA/idx", flagsA, "vec_id", "vec", drifted, "cid", "cvec",
        tau = 0.9, nProbe = 2)(
        Seq((9L, v1)).toDF("vec_id", "vec"), 3L)
    }
    assert(ex.getMessage.contains("codebook"))
    assert(!a.contains(3L) && !vecTree(rootA).contains(3L),
      "the refused batch must not have written flags or index rows")
  }

  test("semanticIngestByBatch differential sweep: 4 seeded random " +
    "corpora agree with an independent driver-side sequential model " +
    "(exact cosine vs the kept set, batch by batch)") {
    import spark.implicits._
    // nProbe = |codebook| so the IVF probe is EXACT — the sweep tests
    // the ingest protocol (time-travel, kept-only indexing, replay
    // surface), not IVF recall, which has its own measured artifacts
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0))).toDF("cid", "cvec")
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 7919)
      val tau = 0.85 + 0.05 * (seed % 3) // sweep the threshold too
      val nBatches = 4
      val vecs: Seq[(Long, Seq[Double])] = (0 until 28).map { i =>
        val raw = Seq.fill(3)(rnd.nextGaussian())
        val nrm = math.sqrt(raw.map(x => x * x).sum)
        (i.toLong, raw.map(_ / nrm))
      }
      // independent model: sequential batches, exact cosine against
      // every kept vector so far, keep iff best < tau (round 5 like
      // the engine so threshold comparisons can't split on ulps)
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        BigDecimal(dot / (na * nb))
          .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val expected = scala.collection.mutable.Map[Long, Boolean]()
      val keptModel = scala.collection.mutable.ArrayBuffer[(Long,
        Seq[Double])]()
      for (b <- 0 until nBatches) {
        val batch = vecs.filter(_._1 % nBatches == b)
        val flags = batch.map { case (id, v) =>
          val best = keptModel.map(kv => cos(v, kv._2))
            .reduceOption(_ max _)
          (id, best.forall(_ < tau))
        }
        flags.foreach { case (id, k) => expected(id) = k }
        keptModel ++= batch.filter(x => expected(x._1))
      }
      val root = TestDirs.tmp(s"sem_diff_$seed").toString
      val flagsOut = TestDirs.tmp(s"sem_diff_flags_$seed").toString
      for (b <- 0 until nBatches) {
        val batch = vecs.filter(_._1 % nBatches == b)
          .toDF("vec_id", "vec")
        graft.streaming.IdempotentSink.semanticIngestByBatch(
          s"$root/idx", flagsOut, "vec_id", "vec", cents, "cid", "cvec",
          tau = tau, nProbe = 3)(batch, b.toLong)
      }
      val got = spark.read.parquet(flagsOut)
        .select(col("vec_id"), col("keep"))
        .as[(Long, Boolean)].collect().toMap
      assert(got === expected.toMap,
        s"seed $seed tau $tau: ingest flags diverged from the " +
          s"sequential exact model (got ${got.toSeq.sorted}, " +
          s"expected ${expected.toSeq.sorted})")
    }
  }

  test("semanticIngestByBatch foldEvery: the in-stream vec-tree fold " +
    "fires at the cadence, flags match the unfolded run, and the " +
    "folded tree answers the same lookup") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    // 6 batches, one novel vector each (distinct directions in 2D so
    // nothing dedups away and every batch writes index rows)
    val vecs = (0 until 6).map { b =>
      val t = 0.1 + b * 0.25
      (b.toLong + 1L, Seq(math.cos(t), math.sin(t)))
    }
    def drive(root: String, flags: String, foldEvery: Int): Unit =
      vecs.zipWithIndex.foreach { case ((id, v), b) =>
        graft.streaming.IdempotentSink.semanticIngestByBatch(
          s"$root/idx", flags, "vec_id", "vec", cents, "cid", "cvec",
          tau = 0.999, nProbe = 2, foldEvery = foldEvery)(
          Seq((id, v)).toDF("vec_id", "vec"), b.toLong)
      }
    val rootU = TestDirs.tmp("sem_fold_u").toString
    val flagsU = TestDirs.tmp("sem_fold_u_flags").toString
    drive(rootU, flagsU, foldEvery = 0)
    val rootF = TestDirs.tmp("sem_fold_f").toString
    val flagsF = TestDirs.tmp("sem_fold_f_flags").toString
    drive(rootF, flagsF, foldEvery = 2)
    def allFlags(out: String) = spark.read.parquet(out)
      .select(col("_batch").cast("long"), col("vec_id"), col("keep"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(allFlags(flagsU) === allFlags(flagsF),
      "in-stream vec-tree folds changed the flags")
    // the fold actually consolidated: fewer _batch= subtrees than
    // batches that wrote (last due point: batch 4 folds _batch ≤ 2)
    def batchDirs(root: String) =
      Option(new java.io.File(s"$root/idx/vec").listFiles()).toSeq
        .flatten.filter(f => f.isDirectory &&
          f.getName.startsWith("_batch=")).map(_.getName).toSet
    assert(batchDirs(rootU).size === 6)
    assert(batchDirs(rootF).size < 6,
      s"no fold happened: ${batchDirs(rootF)}")
    // folded tree still answers the full-tree lookup identically
    val prior = spark.read.parquet(s"$rootF/idx/vec").drop("_batch")
    val probe = Seq((99L, Seq(math.cos(0.1), math.sin(0.1))))
      .toDF("vec_id", "vec")
    val got = graft.ops.Similarity.semanticDedupFlags(probe, "vec_id",
      "vec", prior, "vec_id", "vec", Centroids(cents, "cid", "cvec"),
      tau = 0.999, nProbe = 2, excludeSelf = false)
      .select(col("neighbor_id")).as[Long].head()
    assert(got === 1L, "post-fold lookup lost the planted neighbor")
  }

  test("compactCells crash recovery: a temp tree with a committed " +
    "manifest RESUMES the per-cell swaps (including a cell whose " +
    "source dir the crash already deleted); a temp tree without a " +
    "manifest is rewritten, never trusted") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    def freshFragmented(tag: String): String = {
      val dir = TestDirs.tmp(tag).toFile.getAbsolutePath
      val df = (0L until 30L).map(i => (i, i % 2)).toDF("id", "cell")
      for (_ <- 1 to 3) // 3 appends ⇒ 3 files per cell directory
        df.repartition(2, col("cell")).write.partitionBy("cell")
          .mode("append").parquet(dir)
      dir
    }
    def rowsOf(dir: String): Set[(Long, Long)] =
      spark.read.parquet(dir)
        .select(col("id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def fileCounts(dir: String): Map[String, Int] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

    // ---- crash AFTER the manifest committed, mid-swap: cell=0's
    // source dir is already deleted (its only copy is the temp tree)
    val dirA = freshFragmented("ccells_resume")
    val expected = rowsOf(dirA)
    val fs = new org.apache.hadoop.fs.Path(dirA)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmpA = new org.apache.hadoop.fs.Path(dirA + "_compact_tmp")
    spark.read.parquet(dirA).repartition(2, col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmpA.toString)
    IdempotentSink.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmpA, IdempotentSink.FoldManifest),
      0L, Seq(0L, 1L))
    fs.delete(new org.apache.hadoop.fs.Path(dirA, "cell=0"), true)
    // while the swap is pending, every stamped append path REFUSES:
    // rows appended to a not-yet-swapped cell dir here would be
    // destroyed by the resume's delete+rename below
    val refused = intercept[IllegalArgumentException] {
      graft.ops.Similarity.appendToStampedLayout(
        Seq((99L, 1L)).toDF("id", "cell"), dirA, "any", "spec")
    }
    assert(refused.getMessage.contains("pending compaction swap"),
      s"wrong refusal: ${refused.getMessage}")
    // maxFilesPerCell is deliberately vacuous: the pending manifest —
    // not a fresh fragmentation scan — must drive the resume
    val resumed = graft.ops.Similarity.compactCells(spark, dirA,
      maxFilesPerCell = 999)
    assert(resumed == Seq(0L, 1L), s"resume compacted $resumed")
    assert(rowsOf(dirA) == expected,
      "resumed swap lost or duplicated rows")
    assert(fileCounts(dirA).values.forall(_ == 1),
      s"cells not consolidated: ${fileCounts(dirA)}")
    assert(!fs.exists(tmpA), "pending temp tree not retired")
    assert(graft.ops.Similarity.compactCells(spark, dirA,
      maxFilesPerCell = 1).isEmpty, "compaction is not idempotent")

    // ---- layout deleted OUT FROM UNDER a pending swap: the temp tree
    // is an orphan of the dead snapshot — both the append guard and
    // compactCells must DISCARD it (resuming would resurrect the
    // deleted corpus's rows into a fresh rebuild; refusing would brick
    // the rebuild forever)
    val dirC = freshFragmented("ccells_orphan")
    val tmpC = new org.apache.hadoop.fs.Path(dirC + "_compact_tmp")
    spark.read.parquet(dirC).repartition(2, col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmpC.toString)
    IdempotentSink.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmpC, IdempotentSink.FoldManifest),
      0L, Seq(0L, 1L))
    fs.delete(new org.apache.hadoop.fs.Path(dirC), true)
    // fresh write to the rebuilt location proceeds (guard discards the
    // orphan instead of refusing or resuming)
    graft.ops.Similarity.appendToStampedLayout(
      Seq((1L, 0L)).toDF("id", "cell").withColumn("_params", lit("s")),
      dirC, "s", "spec")
    assert(!fs.exists(tmpC), "orphaned temp tree not discarded by append")
    assert(spark.read.parquet(dirC).count() == 1,
      "rebuilt layout should hold only the fresh row")
    // and compactCells itself also treats it as an orphan
    val dirD = freshFragmented("ccells_orphan2")
    val tmpD = new org.apache.hadoop.fs.Path(dirD + "_compact_tmp")
    spark.read.parquet(dirD).repartition(2, col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmpD.toString)
    IdempotentSink.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmpD, IdempotentSink.FoldManifest),
      0L, Seq(0L, 1L))
    fs.delete(new org.apache.hadoop.fs.Path(dirD), true)
    assert(graft.ops.Similarity.compactCells(spark, dirD).isEmpty)
    assert(!fs.exists(tmpD), "orphaned temp tree not discarded")

    // ---- crash BEFORE the manifest: a partial temp tree (here: one
    // cell, truncated rows) must be rewritten — no source was deleted
    val dirB = freshFragmented("ccells_rewrite")
    val expectedB = rowsOf(dirB)
    val tmpB = dirB + "_compact_tmp"
    spark.read.parquet(dirB).filter(col("cell") === 1 && col("id") < 5)
      .write.partitionBy("cell").mode("overwrite").parquet(tmpB)
    val compacted = graft.ops.Similarity.compactCells(spark, dirB,
      maxFilesPerCell = 1)
    assert(compacted == Seq(0L, 1L))
    assert(rowsOf(dirB) == expectedB,
      "a manifest-less temp tree leaked into the layout")
    assert(fileCounts(dirB).values.forall(_ == 1))
  }

  test("compactBatches crash recovery: a committed manifest finishes " +
    "the fold (surviving source subtrees deleted, temp tree renamed " +
    "in) even when a source _batch dir is already gone; a manifest-" +
    "less temp tree is rewritten from the sources") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    def freshTree(tag: String): String = {
      val out = TestDirs.tmp(tag).toFile.getAbsolutePath
      for (b <- 0L to 2L)
        IdempotentSink.indexByBatch(out, "cell")(
          (0L until 10L).map(i => (b * 100 + i, i % 2))
            .toDF("id", "cell"), b)
      out
    }
    def rowsOf(dir: String): Set[Long] =
      spark.read.parquet(dir).select(col("id"))
        .collect().map(_.getLong(0)).toSet
    def batchDirs(dir: String): Seq[String] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("_batch=")).map(_.getName).toSeq.sorted

    // ---- crash mid-fold, after the manifest: _batch=0 already deleted
    val outA = freshTree("cbatch_resume")
    val expected = rowsOf(outA)
    val fs = new org.apache.hadoop.fs.Path(outA)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmpA = new org.apache.hadoop.fs.Path(outA + "_compact_tmp")
    spark.read.parquet(outA).drop("_batch").repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmpA.toString)
    IdempotentSink.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmpA, IdempotentSink.FoldManifest),
      0L, Seq(0L, 1L, 2L))
    fs.delete(new org.apache.hadoop.fs.Path(outA, "_batch=0"), true)
    // uptoBatch is deliberately vacuous: the manifest pins the fold
    val folded = IdempotentSink.compactBatches(spark, outA, "cell",
      uptoBatch = -999L)
    assert(folded == Seq(0L, 1L, 2L), s"resume folded $folded")
    assert(batchDirs(outA) == Seq("_batch=0"),
      s"unexpected batch dirs: ${batchDirs(outA)}")
    assert(rowsOf(outA) == expected, "resumed fold lost or duplicated rows")
    assert(!fs.exists(tmpA), "pending temp tree not retired")

    // ---- crash before the manifest: partial temp tree, sources intact
    val outB = freshTree("cbatch_rewrite")
    val expectedB = rowsOf(outB)
    spark.read.parquet(outB).drop("_batch").filter(col("id") < 3)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(outB + "_compact_tmp")
    val foldedB = IdempotentSink.compactBatches(spark, outB, "cell",
      uptoBatch = 2L)
    assert(foldedB == Seq(0L, 1L, 2L))
    assert(batchDirs(outB) == Seq("_batch=0"))
    assert(rowsOf(outB) == expectedB,
      "a manifest-less temp tree leaked into the fold")
  }

  test("compactBatchesFlat folds non-partitioned _batch= trees into one " +
    "numFiles-file subtree: rows preserved, the time-travel lookup lists " +
    "exactly the consolidated file, replay-after-fold is a no-op, " +
    "idempotent; crash recovery resumes a committed manifest and " +
    "rewrites a manifest-less temp tree") {
    import spark.implicits._
    import graft.streaming.IdempotentSink

    def freshFlat(tag: String): String = {
      val out = TestDirs.tmp(tag).toFile.getAbsolutePath
      for (b <- 0L to 2L)
        IdempotentSink.parquetByBatch(out)(
          (0L until 10L).map(i => (b * 100 + i, s"v$i")).toDF("id", "v"), b)
      out
    }
    def rowsOf(dir: String): Set[Long] =
      spark.read.parquet(dir).select(col("id"))
        .collect().map(_.getLong(0)).toSet
    def batchDirs(dir: String): Seq[String] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("_batch=")).map(_.getName).toSeq.sorted

    // ---- fold semantics + numFiles gate + replay-safety boundary:
    // uptoBatch=1 folds 0+1 and leaves _batch=2 (the latest committed
    // batch — the one foreachBatch can still replay) untouched
    val out = freshFlat("cflat")
    val expected = rowsOf(out)
    val folded = IdempotentSink.compactBatchesFlat(spark, out, uptoBatch = 1L)
    assert(folded == Seq(0L, 1L), s"folded $folded")
    assert(batchDirs(out) == Seq("_batch=0", "_batch=2"),
      s"unexpected batch dirs: ${batchDirs(out)}")
    assert(rowsOf(out) == expected, "fold lost or duplicated rows")
    assert(new java.io.File(out, "_batch=0").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1,
      "consolidated subtree should hold exactly numFiles=1 parquet file")
    // the ingest's prior() shape over the folded tree: _batch < 2 sees
    // batches 0+1's rows from exactly the one consolidated file
    val prior = spark.read.parquet(out)
      .filter(col("_batch").cast("long") < 2L).drop("_batch")
    assert(prior.count() == 20)
    assert(prior.select(input_file_name()).distinct().count() == 1,
      "time-travel lookup should list exactly the consolidated file")
    assert(IdempotentSink.compactBatchesFlat(spark, out, 1L).isEmpty,
      "compactBatchesFlat is not idempotent")
    // a replayed batch 2 (dynamic overwrite of its own subtree) stays a
    // byte-identical no-op after the fold
    IdempotentSink.parquetByBatch(out)(
      (0L until 10L).map(i => (200 + i, s"v$i")).toDF("id", "v"), 2L)
    spark.catalog.refreshByPath(out)
    assert(rowsOf(out) == expected, "replay after fold duplicated rows")

    // ---- crash mid-fold, after the manifest: _batch=0 already deleted
    val outA = freshFlat("cflat_resume")
    val expA = rowsOf(outA)
    val fs = new org.apache.hadoop.fs.Path(outA)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmpA = new org.apache.hadoop.fs.Path(outA + "_compact_tmp")
    spark.read.parquet(outA).drop("_batch").coalesce(1)
      .write.mode("overwrite").parquet(tmpA.toString)
    IdempotentSink.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmpA, IdempotentSink.FoldManifest),
      0L, Seq(0L, 1L, 2L))
    fs.delete(new org.apache.hadoop.fs.Path(outA, "_batch=0"), true)
    // uptoBatch is deliberately vacuous: the manifest pins the fold
    val resumed = IdempotentSink.compactBatchesFlat(spark, outA,
      uptoBatch = -999L)
    assert(resumed == Seq(0L, 1L, 2L), s"resume folded $resumed")
    assert(batchDirs(outA) == Seq("_batch=0"))
    assert(rowsOf(outA) == expA, "resumed fold lost or duplicated rows")
    assert(!fs.exists(tmpA), "pending temp tree not retired")

    // ---- crash before the manifest: partial temp tree, sources intact
    val outB = freshFlat("cflat_rewrite")
    val expB = rowsOf(outB)
    spark.read.parquet(outB).drop("_batch").filter(col("id") < 3)
      .coalesce(1).write.mode("overwrite").parquet(outB + "_compact_tmp")
    val foldedB = IdempotentSink.compactBatchesFlat(spark, outB,
      uptoBatch = 2L)
    assert(foldedB == Seq(0L, 1L, 2L))
    assert(batchDirs(outB) == Seq("_batch=0"))
    assert(rowsOf(outB) == expB,
      "a manifest-less temp tree leaked into the fold")
  }

  test("dedupIngestByBatch flags identically over folded index trees " +
    "(compactBatchesFlat on fp/tok, compactBatches on band) as over " +
    "the unfolded control") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val base = "one two three four five six seven eight nine ten"
    val clean2 = "totally different words entirely here now indeed"
    val b0 = Seq((1L, base + " eleven"), (2L, clean2))
    val b1 = Seq((3L, "another novel collection of unrelated tokens"),
      (4L, "yet more fresh language with no overlap at all"))
    val b2 = Seq((5L, base), (6L, clean2),
      (7L, "genuinely new closing content"))

    def run(tag: String, foldAfterB1: Boolean)
    : Map[Long, (Boolean, Boolean)] = {
      val root = TestDirs.tmp(s"ingfold_idx_$tag").toString
      val flags = TestDirs.tmp(s"ingfold_flags_$tag").toString
      def ingest(rows: Seq[(Long, String)], b: Long): Unit =
        IdempotentSink.dedupIngestByBatch(root, flags, "text", "doc_id")(
          rows.toDF("doc_id", "text"), b)
      ingest(b0, 0L)
      ingest(b1, 1L)
      if (foldAfterB1) {
        // the checkpoint has committed past batch 1 (batch 2 is next):
        // uptoBatch=1 satisfies the replay-safety contract; the
        // one-call maintenance pass folds all three trees
        val folded = IdempotentSink.compactIngestTrees(spark, root, 1L)
        assert(folded == Map("fp" -> Seq(0L, 1L), "band" -> Seq(0L, 1L),
          "tok" -> Seq(0L, 1L)), s"unexpected fold: $folded")
      }
      ingest(b2, 2L)
      spark.read.parquet(flags).filter(col("_batch").cast("long") === 2L)
        .select(col("doc_id"), col("exact_dup"), col("near_dup"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2))))
        .toMap
    }
    val control = run("ctl", foldAfterB1 = false)
    val overFolded = run("fold", foldAfterB1 = true)
    assert(overFolded === control, "fold changed the ingest's flags")
    // the planted batch-2 dups flag against rows that now live in the
    // consolidated subtree: 6 exact-dups doc 2, 5 near-dups doc 1
    assert(control(6L) == ((true, true)), s"doc 6: ${control(6L)}")
    assert(control(5L)._2, s"doc 5 should near-dup doc 1: ${control(5L)}")
    assert(control(7L) == ((false, false)), s"doc 7: ${control(7L)}")
  }

  test("foldIfDue schedules the fold in-stream: it fires mid-run at " +
    "the derived replay-safe bound, a replay of the folding batch " +
    "no-ops, and a crash between the fold and the batch's writes " +
    "recovers to the uninterrupted state") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val base = "one two three four five six seven eight nine ten"
    val clean2 = "totally different words entirely here now indeed"
    val batches = Seq(
      Seq((1L, base + " eleven"), (2L, clean2)),
      Seq((3L, "another novel collection of unrelated tokens")),
      Seq((4L, "yet more fresh language with no overlap at all")),
      Seq((5L, base), (6L, clean2), (7L, "genuinely new closing content")))
    def flagRows(flags: String): Set[(Long, Long, Boolean, Boolean)] =
      spark.read.parquet(flags)
        .select(col("_batch").cast("long"), col("doc_id"),
          col("exact_dup"), col("near_dup"))
        .as[(Long, Long, Boolean, Boolean)].collect().toSet
    def fpSubtrees(root: String): Set[Long] =
      new java.io.File(s"$root/fp").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
        .map(_.getName.stripPrefix("_batch=").toLong).toSet
    def runBatches(tag: String, foldEvery: Int, upTo: Int)
    : (String, String, (Seq[(Long, String)], Long) => Unit) = {
      val root = TestDirs.tmp(s"folddue_idx_$tag").toString
      val flags = TestDirs.tmp(s"folddue_flags_$tag").toString
      val ingest = (rows: Seq[(Long, String)], b: Long) =>
        IdempotentSink.dedupIngestByBatch(root, flags, "text", "doc_id",
          foldEvery = foldEvery)(rows.toDF("doc_id", "text"), b)
      (0 to upTo).foreach(b => ingest(batches(b), b.toLong))
      (root, flags, ingest)
    }

    // control: never folds — one _batch= subtree per kept batch
    val (rootC, flagsC, _) = runBatches("ctl", foldEvery = 0, upTo = 3)
    assert(fpSubtrees(rootC) === Set(0L, 1L, 2L, 3L))

    // in-stream folding at every batch: fires at b2 (upto 0 — only one
    // foldable subtree, a no-op) and b3 (upto 1 — folds 0,1), so the
    // listing stays flat WITHOUT any outside maintenance pass
    val (rootA, flagsA, ingestA) = runBatches("due", foldEvery = 1,
      upTo = 3)
    assert(fpSubtrees(rootA) === Set(0L, 2L, 3L),
      "the b3 in-stream fold should have consolidated _batch=0,1")
    assert(flagRows(flagsA) === flagRows(flagsC),
      "in-stream folding changed the ingest's flags")
    // the planted b3 dups resolve against rows in the consolidated
    // subtree: 5 near-dups doc 1, 6 exact-dups doc 2, 7 is clean
    assert(flagRows(flagsA).filter(_._1 == 3L) ===
      Set((3L, 5L, false, true), (3L, 6L, true, true),
        (3L, 7L, false, false)))

    // replay of the FOLDING batch (foreachBatch at-least-once): fold
    // fires again and no-ops (one foldable subtree left), writes
    // overwrite byte-identically
    ingestA(batches(3), 3L)
    assert(fpSubtrees(rootA) === Set(0L, 2L, 3L))
    assert(flagRows(flagsA) === flagRows(flagsC),
      "replaying the folding batch changed state")

    // crash BETWEEN the fold and the batch's writes: b3's fold runs,
    // the process dies before any write, the stream replays b3 — the
    // replay's own foldIfDue no-ops and the flags recompute over the
    // folded trees to the identical state
    val (rootB, flagsB, ingestB) = runBatches("crash", foldEvery = 1,
      upTo = 2)
    IdempotentSink.foldIfDue(spark, rootB, 3L, everyN = 1): Unit
    ingestB(batches(3), 3L)
    assert(fpSubtrees(rootB) === Set(0L, 2L, 3L))
    assert(flagRows(flagsB) === flagRows(flagsC),
      "crash-between-fold-and-writes diverged from the clean run")
  }

  test("foldIfDue tailOnly (the LSM-lite policy): each due point folds " +
    "only the fresh tail into one run, older runs are never rewritten, " +
    "flags unchanged") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val base = "one two three four five six seven eight nine ten"
    val clean2 = "totally different words entirely here now indeed"
    // six batches, all kept (pairwise-novel docs) so every batch has
    // index subtrees and the run structure is fully visible
    val batches = (0 until 6).map(b => Seq(
      (b * 10L + 1, s"fresh b$b alpha words one${b}a two${b}b three${b}c"),
      (b * 10L + 2, s"other b$b beta tokens four${b}d five${b}e six${b}f")))
    def fpSubtrees(root: String): Set[Long] =
      new java.io.File(s"$root/fp").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
        .map(_.getName.stripPrefix("_batch=").toLong).toSet
    def flagRows(flags: String): Set[(Long, Long, Boolean, Boolean)] =
      spark.read.parquet(flags)
        .select(col("_batch").cast("long"), col("doc_id"),
          col("exact_dup"), col("near_dup"))
        .as[(Long, Long, Boolean, Boolean)].collect().toSet
    def run(tag: String, foldEvery: Int, foldTail: Boolean)
    : (String, String) = {
      val root = TestDirs.tmp(s"tailfold_idx_$tag").toString
      val flags = TestDirs.tmp(s"tailfold_flags_$tag").toString
      batches.zipWithIndex.foreach { case (rows, b) =>
        IdempotentSink.dedupIngestByBatch(root, flags, "text", "doc_id",
          foldEvery = foldEvery, foldTail = foldTail)(
          rows.toDF("doc_id", "text"), b.toLong)
      }
      (root, flags)
    }
    val (rootC, flagsC) = run("ctl", foldEvery = 0, foldTail = false)
    assert(fpSubtrees(rootC) === (0L to 5L).toSet)

    // tail folds at every 2nd batch: b2 folds [0, 0] (one subtree —
    // no-op), b4 folds [1, 2] into _batch=1 WITHOUT touching _batch=0
    // (the policy's point: the old run is never re-read). Final runs:
    // 0 (untouched), 1 (folded 1-2), 3, 4, 5 (fresh tail).
    val (rootT, flagsT) = run("tail", foldEvery = 2, foldTail = true)
    assert(fpSubtrees(rootT) === Set(0L, 1L, 3L, 4L, 5L),
      s"unexpected run structure: ${fpSubtrees(rootT)}")
    assert(flagRows(flagsT) === flagRows(flagsC),
      "tail folding changed the ingest's flags")
    // the full policy at the same cadence consolidates everything
    // foldable: b4's fold merges [0, 2] into _batch=0
    val (rootF, flagsF) = run("full", foldEvery = 2, foldTail = false)
    assert(fpSubtrees(rootF) === Set(0L, 3L, 4L, 5L),
      s"unexpected full-fold structure: ${fpSubtrees(rootF)}")
    assert(flagRows(flagsF) === flagRows(flagsC))
  }

  test("watermarked tumbling-window aggregation (streaming)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = stream.toDS()
      .toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete")
      .start()
    try {
      stream.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 00:50:00"), 2.0),
        (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), 4.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "select window.start, n, total from win_out order by 1").collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.0)
      assert(rows(1).getLong(1) == 1 && rows(1).getDouble(2) == 4.0)
    } finally q.stop()
  }

  // ---- PQ-coded streaming semantic ingest (the no-full-vector regime)

  // test vectors shared by the PQ-ingest cases: 4-dim, m=2/k=8, with
  // EVERY distinct half-vector a sub-centroid, so encode is lossless
  // and ADC distance == exact squared distance — the cases then assert
  // sharp flag values instead of quantization-blurred ones. Unused
  // sub-centroid slots are parked far away (never nearest).
  private val pqV1 = Seq(1.0, 0.1, 0.0, 0.0)
  private val pqV2 = Seq(0.0, 1.0, 0.1, 0.0)
  private val pqV3 = Seq(1.0, 0.11, 0.0, 0.0) // near-copy of v1
  private val pqV4 = Seq(0.5, -0.5, 0.7, 0.0) // novel direction
  private val pqV5 = Seq(1.0, 0.12, 0.0, 0.0) // re-sends v3's DROPPED dir
  private val pqV6 = Seq(0.5, -0.5, 0.69, 0.0) // near-copy of the kept v4
  private def pqTestCodebook: graft.ops.Pq.Codebook = {
    val halves1 = Seq(Seq(1.0, 0.1), Seq(0.0, 1.0), Seq(1.0, 0.11),
      Seq(0.5, -0.5), Seq(1.0, 0.12), Seq(9.0, 9.0), Seq(9.0, 8.0),
      Seq(9.0, 7.0))
    val halves2 = Seq(Seq(0.0, 0.0), Seq(0.1, 0.0), Seq(0.7, 0.0),
      Seq(0.69, 0.0), Seq(9.0, 9.0), Seq(9.0, 8.0), Seq(9.0, 7.0),
      Seq(9.0, 6.0))
    graft.ops.Pq.Codebook(
      (halves1.flatten ++ halves2.flatten).toIndexedSeq, m = 2, k = 8)
  }

  test("self-growing streaming PQ semantic dedup ingest is " +
    "exactly-once: time-travel keeps a replayed batch from " +
    "self-matching, later batches dedup against KEPT codes only, " +
    "crash+replay trees match the uninterrupted run, and drift in " +
    "EITHER codebook is refused before any write") {
    import spark.implicits._
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("vec", "array<double>")
    def writeVec(src: java.nio.file.Path, id: Long,
        v: Seq[Double]): Unit =
      Files.write(src.resolve(s"vec_$id.json"),
        s"""{"vec_id":$id,"vec":[${v.mkString(",")}]}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val cb = pqTestCodebook
    // exact-ADC geometry: d²(v3,v1)=1e-4, d²(v5,v1)=4e-4, d²(v6,v4)=
    // 1e-4, all cross-direction distances ≥ 1 — tauDist 0.01 splits
    def ingest(root: String, flagsOut: String)(
        df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$root/idx", flagsOut, "vec_id", "vec", cents, "cid", "cvec",
        cb, tauDist = 0.01, nProbe = 2)(df, b)
    def runOnce(src: java.nio.file.Path, ckpt: String, root: String,
        flagsOut: String): Unit = {
      val q = spark.readStream.schema(schema).json(src.toString)
        .writeStream.outputMode("append")
        .foreachBatch(ingest(root, flagsOut) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish within 60 s")
    }
    def flagTree(out: String): Map[Long, Set[(Long, Boolean)]] =
      spark.read.parquet(out)
        .select(col("_batch").cast("long"), col("vec_id"), col("keep"))
        .as[(Long, Long, Boolean)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    def codeTree(root: String): Map[Long, Set[Long]] =
      spark.read.parquet(s"$root/idx/code")
        .select(col("_batch").cast("long"), col("vec_id"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def schedule(src: java.nio.file.Path, ckpt: String, root: String,
        flagsOut: String, replayBatch0: Boolean): Unit = {
      writeVec(src, 1L, pqV1); writeVec(src, 2L, pqV2)
      runOnce(src, ckpt, root, flagsOut)
      if (replayBatch0)
        // foreachBatch at-least-once recovery: batch 0 replays with
        // its own code rows already in the tree — `_batch < 0` must
        // keep it from matching itself
        ingest(root, flagsOut)(
          Seq((1L, pqV1), (2L, pqV2)).toDF("vec_id", "vec"), 0L)
      writeVec(src, 3L, pqV3); writeVec(src, 4L, pqV4)
      runOnce(src, ckpt, root, flagsOut)
      writeVec(src, 5L, pqV5); writeVec(src, 6L, pqV6)
      runOnce(src, ckpt, root, flagsOut)
    }

    val srcA = TestDirs.tmp("pq_ingest_src_a")
    val rootA = TestDirs.tmp("pq_ingest_idx_a").toString
    val flagsA = TestDirs.tmp("pq_ingest_flags_a").toString
    schedule(srcA, TestDirs.tmp("pq_ingest_ckpt_a").toString,
      rootA, flagsA, replayBatch0 = false)
    val srcB = TestDirs.tmp("pq_ingest_src_b")
    val rootB = TestDirs.tmp("pq_ingest_idx_b").toString
    val flagsB = TestDirs.tmp("pq_ingest_flags_b").toString
    schedule(srcB, TestDirs.tmp("pq_ingest_ckpt_b").toString,
      rootB, flagsB, replayBatch0 = true)

    val a = flagTree(flagsA)
    assert(a === flagTree(flagsB),
      "crash+replay flags diverged from the uninterrupted run")
    assert(codeTree(rootA) === codeTree(rootB),
      "crash+replay code tree diverged from the uninterrupted run")
    // batch 0: empty prior keeps both (a self-matching replay in run B
    // would have flipped them)
    assert(a(0L) === Set((1L, true), (2L, true)))
    // batch 1: v3 is within tauDist of the kept v1 (drop); v4 novel
    assert(a(1L) === Set((3L, false), (4L, true)))
    // batch 2: v5 matches v1 — NOT the dropped v3 (its code never
    // entered the tree); v6 matches the batch-1-kept v4
    assert(a(2L) === Set((5L, false), (6L, false)))
    // the tree accumulated exactly the kept CODES, batch-keyed
    assert(codeTree(rootA) === Map(0L -> Set(1L, 2L), 1L -> Set(4L)))
    // the tree really is code-only: no vector column anywhere
    val treeCols = spark.read.parquet(s"$rootA/idx/code").columns.toSet
    assert(treeCols === Set("vec_id", "pq_code", "cell", "_batch"),
      s"code tree carries unexpected columns: $treeCols")
    // v5's neighbor attribution, with the exact-ADC distance
    val n5 = spark.read.parquet(flagsA)
      .filter(col("vec_id") === 5L)
      .select(col("neighbor_id"), col("adc_dist"))
      .as[(Long, Double)].head()
    assert(n5 === ((1L, 4.0e-4)), s"v5 matched $n5, expected (1, 4e-4)")

    // drift in the IVF codebook: refused before any write
    val driftedIvf = Seq((0L, Seq(0.9, 0.0, 0.1, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val e1 = intercept[IllegalStateException] {
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$rootA/idx", flagsA, "vec_id", "vec", driftedIvf, "cid",
        "cvec", cb, tauDist = 0.01, nProbe = 2)(
        Seq((9L, pqV1)).toDF("vec_id", "vec"), 3L)
    }
    assert(e1.getMessage.contains("codebook"))
    // drift in the PQ codebook alone: same refusal (combined stamp)
    val driftedPq = graft.ops.Pq.Codebook(
      cb.flat.updated(0, cb.flat(0) + 0.5), cb.m, cb.k)
    val e2 = intercept[IllegalStateException] {
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$rootA/idx", flagsA, "vec_id", "vec", cents, "cid", "cvec",
        driftedPq, tauDist = 0.01, nProbe = 2)(
        Seq((9L, pqV1)).toDF("vec_id", "vec"), 3L)
    }
    assert(e2.getMessage.contains("codebook"))
    assert(!flagTree(flagsA).contains(3L) &&
      !codeTree(rootA).contains(3L),
      "a refused batch must not have written flags or code rows")
  }

  test("semanticIngestPqByBatch foldEvery: the in-stream code-tree " +
    "fold fires at the cadence, flags match the unfolded run, and the " +
    "folded tree answers the same probe") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val cb = pqTestCodebook
    // 6 novel vectors, one per batch (pairwise far at tauDist 0.01
    // even after quantization — each half is its own sub-centroid);
    // 6 batches so the foldEvery=2 cadence actually fires (batch 4
    // folds _batch ≤ 2; at 4 batches uptoBatch=0 has one subtree and
    // the fold no-ops)
    val vecs = Seq((1L, pqV1), (2L, pqV2), (3L, pqV4),
      (4L, Seq(9.0, 9.0, 9.0, 9.0)), (5L, Seq(9.0, 8.0, 9.0, 8.0)),
      (6L, Seq(9.0, 7.0, 9.0, 7.0)))
    def drive(root: String, flags: String, foldEvery: Int): Unit =
      vecs.zipWithIndex.foreach { case ((id, v), b) =>
        graft.streaming.IdempotentSink.semanticIngestPqByBatch(
          s"$root/idx", flags, "vec_id", "vec", cents, "cid", "cvec",
          cb, tauDist = 0.01, nProbe = 2, foldEvery = foldEvery)(
          Seq((id, v)).toDF("vec_id", "vec"), b.toLong)
      }
    val rootU = TestDirs.tmp("pq_fold_u").toString
    val flagsU = TestDirs.tmp("pq_fold_u_flags").toString
    drive(rootU, flagsU, foldEvery = 0)
    val rootF = TestDirs.tmp("pq_fold_f").toString
    val flagsF = TestDirs.tmp("pq_fold_f_flags").toString
    drive(rootF, flagsF, foldEvery = 2)
    def allFlags(out: String) = spark.read.parquet(out)
      .select(col("_batch").cast("long"), col("vec_id"), col("keep"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(allFlags(flagsU) === allFlags(flagsF),
      "in-stream code-tree folds changed the flags")
    def batchDirs(root: String) =
      Option(new java.io.File(s"$root/idx/code").listFiles()).toSeq
        .flatten.filter(f => f.isDirectory &&
          f.getName.startsWith("_batch=")).map(_.getName).toSet
    assert(batchDirs(rootU).size === 6)
    assert(batchDirs(rootF).size < 6,
      s"no fold happened: ${batchDirs(rootF)}")
    // the folded tree still answers the flags probe identically
    val prior = spark.read.parquet(s"$rootF/idx/code").drop("_batch")
    val probe = Seq((99L, pqV3)).toDF("vec_id", "vec")
    val got = graft.ops.Pq.semanticDedupFlagsPq(probe, "vec_id", "vec",
      prior, "vec_id", Centroids(cents, "cid", "cvec"), cb, tauDist = 0.01,
      nProbe = 2, excludeSelf = false)
      .select(col("neighbor_id")).as[Long].head()
    assert(got === 1L, "post-fold probe lost the planted neighbor")
  }

  test("semanticIngestPqByBatch probeMode=sdc: flag parity with the " +
    "adc mode on the lossless codebook, exactly-once under forced " +
    "replay (incl. an empty batch 0), drift refused pre-mutation, " +
    "and in-stream folds flag-invariant") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val cb = pqTestCodebook
    val batches = Seq(
      Seq((1L, pqV1), (2L, pqV2)),
      Seq((3L, pqV3), (4L, pqV4)),
      Seq((5L, pqV5), (6L, pqV6)))
    def drive(root: String, flags: String, probeMode: String,
        replay: Boolean = false, emptyFirst: Boolean = false): Unit = {
      val bs = (if (emptyFirst)
        Seq(Seq.empty[(Long, Seq[Double])]) else Nil) ++ batches
      bs.zipWithIndex.foreach { case (rows, b) =>
        def run(): Unit =
          graft.streaming.IdempotentSink.semanticIngestPqByBatch(
            s"$root/idx", flags, "vec_id", "vec", cents, "cid", "cvec",
            cb, tauDist = 0.01, nProbe = 2, probeMode = probeMode)(
            rows.toDF("vec_id", "vec"), b.toLong)
        run()
        // at-least-once: the same batch id fires again with its own
        // rows already in the tree — `_batch < id` must keep it from
        // self-matching, making the rewrite byte-identical
        if (replay) run()
      }
    }
    def flagRows(out: String, scoreCol: String) =
      spark.read.parquet(out)
        .select(col("vec_id"), col("neighbor_id"), col(scoreCol),
          col("keep"))
        .as[(Long, Option[Long], Option[Double], Boolean)]
        .collect().toSet
    def codeTree(root: String) =
      spark.read.parquet(s"$root/idx/code")
        .select(col("_batch").cast("long"), col("vec_id"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val rootA = TestDirs.tmp("sdc_ing_adc").toString
    val flagsA = TestDirs.tmp("sdc_ing_adc_flags").toString
    drive(rootA, flagsA, "adc")
    val rootS = TestDirs.tmp("sdc_ing_sdc").toString
    val flagsS = TestDirs.tmp("sdc_ing_sdc_flags").toString
    drive(rootS, flagsS, "sdc")
    // the fixture codebook is LOSSLESS for these vectors (each half
    // its own sub-centroid), so SDC == ADC == exact — the modes must
    // produce identical flags, neighbors, AND distances; the grown
    // code trees are mode-independent by construction
    assert(flagRows(flagsS, "sdc_dist") === flagRows(flagsA, "adc_dist"),
      "sdc-mode flags diverged from adc-mode on a lossless codebook")
    assert(codeTree(rootS) === codeTree(rootA))
    assert(codeTree(rootS) === Map(0L -> Set(1L, 2L), 1L -> Set(4L)))

    // exactly-once: a forced replay of EVERY batch (incl. an empty
    // batch 0) leaves trees and flags identical to the clean sdc run
    val rootR = TestDirs.tmp("sdc_ing_replay").toString
    val flagsR = TestDirs.tmp("sdc_ing_replay_flags").toString
    drive(rootR, flagsR, "sdc", replay = true, emptyFirst = true)
    def keepsOf(out: String) = spark.read.parquet(out)
      .select(col("vec_id"), col("keep")).as[(Long, Boolean)]
      .collect().toSet
    assert(keepsOf(flagsR) === keepsOf(flagsS),
      "replayed sdc ingest (with empty batch 0) changed the flags")
    assert(codeTree(rootR).values.map(_.toSeq.sorted).toSeq.sortBy(_.head)
      === codeTree(rootS).values.map(_.toSeq.sorted).toSeq.sortBy(_.head),
      "replayed sdc ingest grew a different code tree")

    // drift (either codebook) refused BEFORE any tree mutation in sdc
    // mode too — same ordering contract as adc
    val driftedPq = graft.ops.Pq.Codebook(
      cb.flat.updated(0, cb.flat(0) + 0.5), cb.m, cb.k)
    val e = intercept[IllegalStateException] {
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$rootS/idx", flagsS, "vec_id", "vec", cents, "cid", "cvec",
        driftedPq, tauDist = 0.01, nProbe = 2, probeMode = "sdc")(
        Seq((9L, pqV1)).toDF("vec_id", "vec"), 3L)
    }
    assert(e.getMessage.contains("codebook"))
    assert(!codeTree(rootS).contains(3L),
      "a refused sdc batch must not have written code rows")

    // in-stream folds are flag-invariant under the sdc probe: the fold
    // touches the mode-independent code tree before the probe reads it
    val novel = Seq((1L, pqV1), (2L, pqV2), (3L, pqV4),
      (4L, Seq(9.0, 9.0, 9.0, 9.0)), (5L, Seq(9.0, 8.0, 9.0, 8.0)),
      (6L, Seq(9.0, 7.0, 9.0, 7.0)))
    def driveNovel(root: String, flags: String, foldEvery: Int): Unit =
      novel.zipWithIndex.foreach { case ((id, v), b) =>
        graft.streaming.IdempotentSink.semanticIngestPqByBatch(
          s"$root/idx", flags, "vec_id", "vec", cents, "cid", "cvec",
          cb, tauDist = 0.01, nProbe = 2, foldEvery = foldEvery,
          probeMode = "sdc")(Seq((id, v)).toDF("vec_id", "vec"), b.toLong)
      }
    val rootU = TestDirs.tmp("sdc_fold_u").toString
    val flagsU = TestDirs.tmp("sdc_fold_u_flags").toString
    driveNovel(rootU, flagsU, foldEvery = 0)
    val rootF = TestDirs.tmp("sdc_fold_f").toString
    val flagsF = TestDirs.tmp("sdc_fold_f_flags").toString
    driveNovel(rootF, flagsF, foldEvery = 2)
    assert(keepsOf(flagsU) === keepsOf(flagsF),
      "in-stream folds changed the sdc-mode flags")
    def batchDirs(root: String) =
      Option(new java.io.File(s"$root/idx/code").listFiles()).toSeq
        .flatten.filter(f => f.isDirectory &&
          f.getName.startsWith("_batch=")).map(_.getName).toSet
    assert(batchDirs(rootF).size < batchDirs(rootU).size,
      s"no fold happened: ${batchDirs(rootF)}")
  }

  test("semanticIngestPqByBatch probeMode=hybrid: flag parity with " +
    "BOTH pure modes on the lossless codebook, exactly-once under " +
    "forced replay (incl. an empty batch 0), drift refused " +
    "pre-mutation, in-stream folds flag-invariant, and the " +
    "hybrid-only parameters refused outside hybrid mode") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val cb = pqTestCodebook
    val batches = Seq(
      Seq((1L, pqV1), (2L, pqV2)),
      Seq((3L, pqV3), (4L, pqV4)),
      Seq((5L, pqV5), (6L, pqV6)))
    def drive(root: String, flags: String, probeMode: String,
        replay: Boolean = false, emptyFirst: Boolean = false): Unit = {
      val bs = (if (emptyFirst)
        Seq(Seq.empty[(Long, Seq[Double])]) else Nil) ++ batches
      bs.zipWithIndex.foreach { case (rows, b) =>
        def run(): Unit =
          graft.streaming.IdempotentSink.semanticIngestPqByBatch(
            s"$root/idx", flags, "vec_id", "vec", cents, "cid", "cvec",
            cb, tauDist = 0.01, nProbe = 2, probeMode = probeMode,
            tauAdc = if (probeMode == "hybrid") 0.01 else Double.NaN,
            band = if (probeMode == "hybrid") 0.5 else Double.NaN)(
            rows.toDF("vec_id", "vec"), b.toLong)
        run()
        if (replay) run()
      }
    }
    def flagRows(out: String, scoreCol: String) =
      spark.read.parquet(out)
        .select(col("vec_id"), col("neighbor_id"), col(scoreCol),
          col("keep"))
        .as[(Long, Option[Long], Option[Double], Boolean)]
        .collect().toSet
    def codeTree(root: String) =
      spark.read.parquet(s"$root/idx/code")
        .select(col("_batch").cast("long"), col("vec_id"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // lossless codebook ⇒ SDC == ADC == exact, and a band wide enough
    // to catch every in-band query still re-derives the same verdicts:
    // hybrid must match BOTH pure modes in flags, attribution, AND
    // distance (its score column is sdc's)
    val rootH = TestDirs.tmp("hyb_ing").toString
    val flagsH = TestDirs.tmp("hyb_ing_flags").toString
    drive(rootH, flagsH, "hybrid")
    val rootA = TestDirs.tmp("hyb_ing_adc").toString
    val flagsA = TestDirs.tmp("hyb_ing_adc_flags").toString
    drive(rootA, flagsA, "adc")
    val rootS = TestDirs.tmp("hyb_ing_sdc").toString
    val flagsS = TestDirs.tmp("hyb_ing_sdc_flags").toString
    drive(rootS, flagsS, "sdc")
    assert(flagRows(flagsH, "sdc_dist") === flagRows(flagsS, "sdc_dist"),
      "hybrid-mode flags diverged from sdc-mode on a lossless codebook")
    assert(flagRows(flagsH, "sdc_dist") === flagRows(flagsA, "adc_dist"),
      "hybrid-mode flags diverged from adc-mode on a lossless codebook")
    assert(codeTree(rootH) === codeTree(rootA))
    assert(codeTree(rootH) === Map(0L -> Set(1L, 2L), 1L -> Set(4L)))

    // exactly-once: a forced replay of EVERY batch (incl. an empty
    // batch 0) leaves trees and flags identical to the clean run
    val rootR = TestDirs.tmp("hyb_ing_replay").toString
    val flagsR = TestDirs.tmp("hyb_ing_replay_flags").toString
    drive(rootR, flagsR, "hybrid", replay = true, emptyFirst = true)
    def keepsOf(out: String) = spark.read.parquet(out)
      .select(col("vec_id"), col("keep")).as[(Long, Boolean)]
      .collect().toSet
    assert(keepsOf(flagsR) === keepsOf(flagsH),
      "replayed hybrid ingest (with empty batch 0) changed the flags")
    assert(codeTree(rootR).values.map(_.toSeq.sorted).toSeq.sortBy(_.head)
      === codeTree(rootH).values.map(_.toSeq.sorted).toSeq.sortBy(_.head),
      "replayed hybrid ingest grew a different code tree")

    // drift (either codebook) refused BEFORE any tree mutation in
    // hybrid mode too
    val driftedPq = graft.ops.Pq.Codebook(
      cb.flat.updated(0, cb.flat(0) + 0.5), cb.m, cb.k)
    val e = intercept[IllegalStateException] {
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$rootH/idx", flagsH, "vec_id", "vec", cents, "cid", "cvec",
        driftedPq, tauDist = 0.01, nProbe = 2, probeMode = "hybrid",
        tauAdc = 0.01, band = 0.5)(
        Seq((9L, pqV1)).toDF("vec_id", "vec"), 3L)
    }
    assert(e.getMessage.contains("codebook"))
    assert(!codeTree(rootH).contains(3L),
      "a refused hybrid batch must not have written code rows")

    // in-stream folds are flag-invariant under the hybrid probe
    val novel = Seq((1L, pqV1), (2L, pqV2), (3L, pqV4),
      (4L, Seq(9.0, 9.0, 9.0, 9.0)), (5L, Seq(9.0, 8.0, 9.0, 8.0)),
      (6L, Seq(9.0, 7.0, 9.0, 7.0)))
    def driveNovel(root: String, flags: String, foldEvery: Int): Unit =
      novel.zipWithIndex.foreach { case ((id, v), b) =>
        graft.streaming.IdempotentSink.semanticIngestPqByBatch(
          s"$root/idx", flags, "vec_id", "vec", cents, "cid", "cvec",
          cb, tauDist = 0.01, nProbe = 2, foldEvery = foldEvery,
          probeMode = "hybrid", tauAdc = 0.01, band = 0.5)(
          Seq((id, v)).toDF("vec_id", "vec"), b.toLong)
      }
    val rootU = TestDirs.tmp("hyb_fold_u").toString
    val flagsU = TestDirs.tmp("hyb_fold_u_flags").toString
    driveNovel(rootU, flagsU, foldEvery = 0)
    val rootF = TestDirs.tmp("hyb_fold_f").toString
    val flagsF = TestDirs.tmp("hyb_fold_f_flags").toString
    driveNovel(rootF, flagsF, foldEvery = 2)
    assert(keepsOf(flagsU) === keepsOf(flagsF),
      "in-stream folds changed the hybrid-mode flags")
    def batchDirs(root: String) =
      Option(new java.io.File(s"$root/idx/code").listFiles()).toSeq
        .flatten.filter(f => f.isDirectory &&
          f.getName.startsWith("_batch=")).map(_.getName).toSet
    assert(batchDirs(rootF).size < batchDirs(rootU).size,
      s"no fold happened: ${batchDirs(rootF)}")

    // the hybrid-only parameters are refused outside hybrid mode (a
    // silently-ignored threshold would be a mis-calibration trap), and
    // hybrid without them is refused too
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$rootH/idx", flagsH, "vec_id", "vec", cents, "cid", "cvec",
        cb, tauDist = 0.01, probeMode = "sdc", tauAdc = 0.01)(
        Seq((9L, pqV1)).toDF("vec_id", "vec"), 3L)
    }
    assert(e2.getMessage.contains("hybrid-only"))
    val e3 = intercept[IllegalArgumentException] {
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$rootH/idx", flagsH, "vec_id", "vec", cents, "cid", "cvec",
        cb, tauDist = 0.01, probeMode = "hybrid")(
        Seq((9L, pqV1)).toDF("vec_id", "vec"), 3L)
    }
    assert(e3.getMessage.contains("tauAdc"))
  }

  test("an EMPTY first micro-batch does not wedge any streaming " +
    "ingest: the next batch reads 'no prior' instead of throwing on a " +
    "data-file-less tree (r16 ADVICE)") {
    import spark.implicits._
    // text ingest
    val rootT = TestDirs.tmp("empty0_text_idx").toString
    val flagsT = TestDirs.tmp("empty0_text_flags").toString
    def ingestText(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      graft.streaming.IdempotentSink.dedupIngestByBatch(
        rootT, flagsT, "text", "id")(df, b)
    ingestText(Seq.empty[(Long, String)].toDF("id", "text"), 0L)
    ingestText(Seq((1L, "aleph bet gimel dalet he vav zayin het tet"))
      .toDF("id", "text"), 1L)
    ingestText(Seq((2L, "aleph bet gimel dalet he vav zayin het tet"))
      .toDF("id", "text"), 2L)
    val textFlags = spark.read.parquet(flagsT)
      .select(col("id"), col("exact_dup")).as[(Long, Boolean)]
      .collect().toMap
    assert(textFlags === Map(1L -> false, 2L -> true),
      "batch 2 must still dedup against batch 1 across the empty batch 0")

    // plain semantic ingest
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val rootS = TestDirs.tmp("empty0_sem").toString
    val flagsS = TestDirs.tmp("empty0_sem_flags").toString
    def ingestSem(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      graft.streaming.IdempotentSink.semanticIngestByBatch(
        s"$rootS/idx", flagsS, "vec_id", "vec", cents, "cid", "cvec",
        tau = 0.99, nProbe = 2)(df, b)
    ingestSem(Seq.empty[(Long, Seq[Double])].toDF("vec_id", "vec"), 0L)
    ingestSem(Seq((1L, Seq(1.0, 0.05))).toDF("vec_id", "vec"), 1L)
    ingestSem(Seq((2L, Seq(1.0, 0.06))).toDF("vec_id", "vec"), 2L)
    val semFlags = spark.read.parquet(flagsS)
      .select(col("vec_id"), col("keep")).as[(Long, Boolean)]
      .collect().toMap
    assert(semFlags === Map(1L -> true, 2L -> false),
      "batch 2 must still dedup against batch 1 across the empty batch 0")

    // PQ semantic ingest (4-dim shared fixture)
    val cents4 = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val rootP = TestDirs.tmp("empty0_pq").toString
    val flagsP = TestDirs.tmp("empty0_pq_flags").toString
    def ingestPq(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$rootP/idx", flagsP, "vec_id", "vec", cents4, "cid", "cvec",
        pqTestCodebook, tauDist = 0.01, nProbe = 2)(df, b)
    ingestPq(Seq.empty[(Long, Seq[Double])].toDF("vec_id", "vec"), 0L)
    ingestPq(Seq((1L, pqV1)).toDF("vec_id", "vec"), 1L)
    ingestPq(Seq((2L, pqV3)).toDF("vec_id", "vec"), 2L)
    val pqFlags = spark.read.parquet(flagsP)
      .select(col("vec_id"), col("keep")).as[(Long, Boolean)]
      .collect().toMap
    assert(pqFlags === Map(1L -> true, 2L -> false),
      "batch 2 must still dedup against batch 1 across the empty batch 0")
  }

  /** Two seeded micro-batches over 6 IVF cells (dim 8, PQ m=4 k=16):
    * batch 1 holds near copies of batch 0 at spread noise levels, so
    * its hybrid flags keep, drop and straddle. Returns the batches, the
    * centroid frame, the codebook and the calibrated (tauAdc, tauSdc).
    */
  private def cellFixture(seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def unit(raw: Array[Double]): Seq[Double] = {
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n).toSeq
    }
    val b0 = (0L until 120L).map(i =>
      (i, unit(Array.fill(8)(rnd.nextGaussian()))))
    val b1 = (0 until 60).map { i =>
      val sigma = Seq(0.02, 0.08, 0.15, 0.3)(i % 4)
      (1000L + i, unit(b0(i * 2)._2.map(_ + sigma * rnd.nextGaussian())
        .toArray))
    }
    val cents = b0.take(6).toDF("cid", "cvec")
    val all = (b0 ++ b1).toDF("vec_id", "vec")
    val cb = graft.ops.Pq.train(all, "vec_id", "vec", m = 4, k = 16,
      iters = 4)
    val taus = graft.ops.Pq.calibrateTauDistBoth(all, "vec_id", "vec", cb,
      cosThreshold = 0.95)
    (Seq(b0, b1), cents, cb, taus)
  }

  private def parquetFilesPerDir(root: String): Map[String, Int] = {
    val rootPath = java.nio.file.Paths.get(root)
    val files = java.nio.file.Files.walk(rootPath).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    files.groupBy(f => rootPath.relativize(f.getParent).toString)
      .view.mapValues(_.size).toMap
  }

  test("semanticIngestPqByBatch probeMode=hybrid: the driver finish and " +
    "the distributed probe (threshold -1) grow identical flags and code " +
    "trees over two batches, and a driver-regime replay of batch 1 is a " +
    "no-op") {
    import spark.implicits._
    import TestConf.withBroadcastThreshold
    val (batches, cents, cb, (tauA, tauS)) = cellFixture(7)
    def ingest(root: String, rows: Seq[(Long, Seq[Double])], b: Long) =
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$root/idx", s"$root/flags", "vec_id", "vec", cents, "cid",
        "cvec", cb, tauDist = tauS, nProbe = 2, probeMode = "hybrid",
        tauAdc = tauA, band = 0.3)(rows.toDF("vec_id", "vec"), b)
    def trees(root: String) = (
      spark.read.parquet(s"$root/flags")
        .select(col("_batch").cast("long"), col("vec_id"),
          col("neighbor_id"), col("sdc_dist"), col("keep"))
        .as[(Long, Long, Option[Long], Option[Double], Boolean)]
        .collect().toSet,
      spark.read.parquet(s"$root/idx/code")
        .select(col("_batch").cast("long"), col("cell").cast("long"),
          col("vec_id"), col("pq_code"))
        .as[(Long, Long, Long, Seq[Int])].collect().toSet)
    val driver = TestDirs.tmp("hyb_regime_driver").toString
    batches.zipWithIndex.foreach { case (rows, b) =>
      ingest(driver, rows, b.toLong) }
    val distributed = TestDirs.tmp("hyb_regime_dist").toString
    withBroadcastThreshold("-1") {
      batches.zipWithIndex.foreach { case (rows, b) =>
        ingest(distributed, rows, b.toLong) }
    }
    val (flagsD, codesD) = trees(driver)
    assert(flagsD === trees(distributed)._1,
      "flags differ between the driver and distributed regimes")
    assert(codesD === trees(distributed)._2,
      "code trees differ between the driver and distributed regimes")
    assert(flagsD.filter(_._1 == 1L).map(_._5) === Set(true, false),
      "batch 1 must both keep and drop")
    ingest(driver, batches(1), 1L)
    assert(trees(driver) === ((flagsD, codesD)),
      "a driver-regime replay of batch 1 changed the trees")
  }

  test("cell-partitioned streaming writes keep one file per (_batch, " +
    "cell): the PQ and plain semantic ingests, and compactBatches' " +
    "folded subtree") {
    import spark.implicits._
    val (batches, cents, cb, (tauA, tauS)) = cellFixture(8)
    val pq = TestDirs.tmp("cell_files_pq").toString
    val plain = TestDirs.tmp("cell_files_plain").toString
    batches.zipWithIndex.foreach { case (rows, b) =>
      val df = rows.toDF("vec_id", "vec")
      graft.streaming.IdempotentSink.semanticIngestPqByBatch(
        s"$pq/idx", s"$pq/flags", "vec_id", "vec", cents, "cid", "cvec",
        cb, tauDist = tauS, nProbe = 2, probeMode = "hybrid",
        tauAdc = tauA, band = 0.3)(df, b.toLong)
      graft.streaming.IdempotentSink.semanticIngestByBatch(
        s"$plain/idx", s"$plain/flags", "vec_id", "vec", cents, "cid",
        "cvec", tau = 0.95, nProbe = 2)(df, b.toLong)
    }
    def assertOnePerCell(root: String, batchIds: Set[String]): Unit = {
      val perDir = parquetFilesPerDir(root)
      val leaf = """_batch=(\d+)/cell=\d+""".r
      assert(perDir.keySet.forall(leaf.matches), s"$root: $perDir")
      assert(perDir.keySet.map { case leaf(b) => b } === batchIds,
        s"$root: $perDir")
      assert(perDir.values.forall(_ == 1), s"$root: $perDir")
      assert(perDir.size > batchIds.size,
        s"$root: the fixture must touch several cells per batch")
    }
    assertOnePerCell(s"$pq/idx/code", Set("0", "1"))
    assertOnePerCell(s"$plain/idx/vec", Set("0", "1"))
    val rowsBefore = spark.read.parquet(s"$pq/idx/code").drop("_batch")
      .as[(Long, Seq[Int], Int)].collect().toSet
    assert(graft.streaming.IdempotentSink.compactBatches(spark,
      s"$pq/idx/code", "cell", uptoBatch = 1L) === Seq(0L, 1L))
    assertOnePerCell(s"$pq/idx/code", Set("0"))
    assert(spark.read.parquet(s"$pq/idx/code").drop("_batch")
      .as[(Long, Seq[Int], Int)].collect().toSet === rowsBefore)
  }

  /** Every file under `dir`, relative path and length, sorted. */
  private def fileListing(dir: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => (root.relativize(f).toString, Files.size(f)))
          .toSeq.sorted
      } finally walk.close()
    }
  }

  test("every streaming ingest refuses a negative foldEvery before any " +
    "tree is touched (0 stays \"no in-stream fold\")") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val docs = Seq((1L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, pqV1)).toDF("vec_id", "vec")
    type Ingest = (String, String, Int, Long) => Unit
    val ingests: Seq[(String, Ingest)] = Seq(
      "dedupIngestByBatch" -> ((root, flags, every, b) =>
        IdempotentSink.dedupIngestByBatch(root, flags, "text", "doc_id",
          foldEvery = every)(docs, b)),
      "semanticIngestByBatch" -> ((root, flags, every, b) =>
        IdempotentSink.semanticIngestByBatch(root, flags, "vec_id", "vec",
          cents, "cid", "cvec", tau = 0.9, foldEvery = every)(vecs, b)),
      "semanticIngestPqByBatch" -> ((root, flags, every, b) =>
        IdempotentSink.semanticIngestPqByBatch(root, flags, "vec_id",
          "vec", cents, "cid", "cvec", pqTestCodebook, tauDist = 0.01,
          foldEvery = every)(vecs, b)))
    for ((name, ingest) <- ingests) {
      val root = TestDirs.tmp(s"negfold_idx_$name").toString
      val flags = TestDirs.tmp(s"negfold_flags_$name").toString
      // batches 0 and 1 under foldEvery = 0; batch 2 would be due at
      // any positive cadence that divides it
      ingest(root, flags, 0, 0L)
      ingest(root, flags, 0, 1L)
      val before = (fileListing(root), fileListing(flags))
      assert(before._1.nonEmpty && before._2.nonEmpty, name)
      val e = intercept[IllegalArgumentException] {
        ingest(root, flags, -1, 2L)
      }
      assert(e.getMessage.contains("foldEvery"), s"$name: ${e.getMessage}")
      assert((fileListing(root), fileListing(flags)) === before,
        s"$name: the refused batch touched the index root or the flags")
    }
  }

  test("a fold-due batch under a drifted codebook is refused before " +
    "the fold: both semantic ingests leave their tree unfolded") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    val drifted = Seq((0L, Seq(0.9, 0.0, 0.1, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cvec")
    // one novel vector per batch (pairwise cosine ≤ 0.55, and far
    // apart at tauDist 0.01 after quantization), so every batch keeps
    // its row and writes its own _batch= subtree
    val vecs = Seq(pqV1, pqV2, pqV4, Seq(9.0, 9.0, 9.0, 9.0))
    type Ingest = (String, String, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, Long) => Unit
    val ingests: Seq[(String, String, Ingest)] = Seq(
      ("semanticIngestByBatch", "vec", (root, flags, cs, rows, b) =>
        IdempotentSink.semanticIngestByBatch(root, flags, "vec_id", "vec",
          cs, "cid", "cvec", tau = 0.9, foldEvery = 2)(rows, b)),
      ("semanticIngestPqByBatch", "code", (root, flags, cs, rows, b) =>
        IdempotentSink.semanticIngestPqByBatch(root, flags, "vec_id", "vec",
          cs, "cid", "cvec", pqTestCodebook, tauDist = 0.01,
          foldEvery = 2)(rows, b)))
    for ((name, tree, ingest) <- ingests) {
      val root = TestDirs.tmp(s"driftfold_idx_$name").toString
      val flags = TestDirs.tmp(s"driftfold_flags_$name").toString
      vecs.zipWithIndex.foreach { case (v, b) =>
        ingest(root, flags, cents, Seq((b.toLong + 1L, v))
          .toDF("vec_id", "vec"), b.toLong)
      }
      def batchDirs: Set[String] =
        Option(new java.io.File(s"$root/$tree").listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
          .map(_.getName).toSet
      // batch 2's due point folds _batch ≤ 0, a single subtree: no-op
      assert(batchDirs === (0 to 3).map(b => s"_batch=$b").toSet, name)
      // batch 4 is due (folds _batch ≤ 2) but its codebook drifted
      val e = intercept[IllegalStateException] {
        ingest(root, flags, drifted,
          Seq((9L, pqV3)).toDF("vec_id", "vec"), 4L)
      }
      assert(e.getMessage.contains(name), e.getMessage)
      assert(batchDirs === (0 to 3).map(b => s"_batch=$b").toSet,
        s"$name: the refused batch folded the tree")
      assert(!new java.io.File(s"${root}/${tree}_compact_tmp").exists(),
        s"$name: the refused batch started a fold")
    }
  }
}
