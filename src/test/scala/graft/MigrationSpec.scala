package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.StampedLayout
import graft.ops.{Pq, Similarity}
import graft.ops.Similarity.Centroids

/** The managed codebook-migration ops — the path out of the drift
  * refusal every probe/append/ingest gives a re-clustered codebook:
  * equivalence to a fresh build from the same rows, idempotent resume,
  * foreign-layout refusal, partial-old-tree refusal, and the
  * stream-graduation path (a `_batch=`-keyed ingest tree migrates to a
  * batch layout).
  */
class MigrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def vecsDf(n: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val raw = Seq.fill(4)(rnd.nextGaussian())
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(_ / nrm))
    }.toDF("vec_id", "vec")
  }

  private def centsA = {
    import spark.implicits._
    Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cid", "cvec")
  }
  private def centsB = {
    import spark.implicits._
    Seq((0L, Seq(0.0, 0.0, 1.0, 0.0)), (1L, Seq(0.0, 0.0, 0.0, 1.0)),
      (2L, Seq(0.5, 0.5, 0.0, 0.0))).toDF("cid", "cvec")
  }
  private lazy val codebookA = Centroids(centsA, "cid", "cvec")
  private lazy val codebookB = Centroids(centsB, "cid", "cvec")

  private def rowsOf(dir: String): Set[(Long, Long)] =
    spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rebuildUnderCodebook == a fresh ivfIndexWrite from the same " +
    "rows: identical (id, cell) assignment, identical probe answers, " +
    "and probes under the OLD codebook still refuse the new root") {
    val emb = vecsDf(60, 17)
    val oldRoot = TestDirs.tmp("mig_old").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb, "vec_id", "vec",
      codebookA, oldRoot)
    val newRoot = TestDirs.tmp("mig_new").toFile.getAbsolutePath + "/idx"
    val stamp = Similarity.rebuildUnderCodebook(spark, oldRoot, newRoot,
      "vec_id", "vec", codebookB)
    // equivalence to a fresh build under B from the original rows
    val freshRoot = TestDirs.tmp("mig_fresh").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb, "vec_id", "vec",
      codebookB, freshRoot)
    assert(rowsOf(newRoot) === rowsOf(freshRoot),
      "migrated assignment diverged from a fresh build")
    assert(StampedLayout.readStampSidecar(spark, newRoot) === Some(stamp))
    // probe parity between migrated and fresh
    def probe(dir: String) = Similarity.ivfSearchBatch(
      emb.filter(col("vec_id") < 3), "vec_id", "vec",
      spark.read.parquet(dir), "vec_id", "vec",
      codebookB, k = 3, nProbe = 2)
      .select(col("qid"), col("vec_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(probe(newRoot) === probe(freshRoot))
    // drift refusal is unchanged: the OLD codebook refuses the NEW root
    val e = intercept[IllegalStateException] {
      Similarity.ivfSearchBatch(emb.filter(col("vec_id") < 1),
        "vec_id", "vec", spark.read.parquet(newRoot), "vec_id", "vec",
        codebookA, k = 1, nProbe = 1).collect()
    }
    assert(e.getMessage.contains("codebook"))
  }

  test("rebuildUnderCodebook migrates a STREAMING _batch= vec tree " +
    "(graduation path) and is idempotent on re-run; a complete " +
    "foreign layout at the new root refuses") {
    import spark.implicits._
    val emb = vecsDf(24, 23)
    val root = TestDirs.tmp("mig_stream").toString
    // two ingest batches under codebook A, tau high enough nothing drops
    def ingest(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      graft.streaming.IdempotentSink.semanticIngestByBatch(
        s"$root/idx", s"$root/flags", "vec_id", "vec",
        centsA, "cid", "cvec", tau = 1.1, nProbe = 2)(df, b)
    ingest(emb.filter(col("vec_id") % 2 === 0), 0L)
    ingest(emb.filter(col("vec_id") % 2 === 1), 1L)
    val newRoot = TestDirs.tmp("mig_stream_new").toString + "/idx"
    val stamp = Similarity.rebuildUnderCodebook(spark, s"$root/idx/vec",
      newRoot, "vec_id", "vec", codebookB)
    // batch layout, all rows, fresh-build-equivalent assignment
    val freshRoot = TestDirs.tmp("mig_stream_fresh").toString
    Similarity.ivfIndexWrite(emb, "vec_id", "vec",
      codebookB, freshRoot)
    assert(rowsOf(newRoot) === rowsOf(freshRoot))
    assert(!spark.read.parquet(newRoot).columns.contains("_batch"),
      "the migrated layout must be a plain batch tree")
    // idempotent resume: the second call no-ops (sidecar matches)
    assert(Similarity.rebuildUnderCodebook(spark, s"$root/idx/vec",
      newRoot, "vec_id", "vec", codebookB) === stamp)
    assert(rowsOf(newRoot) === rowsOf(freshRoot))
    // a COMPLETE layout under some other codebook refuses
    val e = intercept[IllegalStateException] {
      Similarity.rebuildUnderCodebook(spark, s"$root/idx/vec", newRoot,
        "vec_id", "vec", codebookA)
    }
    assert(e.getMessage.contains("refusing to overwrite"))
  }

  test("rebuildUnderCodebook refuses a pending compaction swap at the " +
    "old root (mid-swap cells live only in the temp tree) and an " +
    "empty/never-built old root") {
    val emb = vecsDf(20, 31)
    val oldRoot = TestDirs.tmp("mig_pend").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb, "vec_id", "vec",
      codebookA, oldRoot)
    // plant a pending swap: a temp tree WITH a committed manifest
    val fs = new org.apache.hadoop.fs.Path(oldRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(oldRoot + "_compact_tmp")
    fs.mkdirs(tmp)
    StampedLayout.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmp,
        StampedLayout.FoldManifest), 0L, Seq(0L))
    val newRoot = TestDirs.tmp("mig_pend_new").toString + "/idx"
    val e = intercept[IllegalStateException] {
      Similarity.rebuildUnderCodebook(spark, oldRoot, newRoot,
        "vec_id", "vec", codebookB)
    }
    assert(e.getMessage.contains("pending compaction"))
    fs.delete(tmp, true)
    // empty old root: refuse, never produce an empty index
    val bare = TestDirs.tmp("mig_bare").toFile.getAbsolutePath
    val e2 = intercept[IllegalArgumentException] {
      Similarity.rebuildUnderCodebook(spark, bare, newRoot,
        "vec_id", "vec", codebookB)
    }
    assert(e2.getMessage.contains("no data files"))
  }

  private def docsDf(n: Int) = {
    import spark.implicits._
    // every 5th doc a verbatim copy of its predecessor (exact dups),
    // every 7th a one-word edit (near dups), rest unique
    val words = Seq("aleph", "bet", "gimel", "dalet", "he", "vav",
      "zayin", "het", "tet", "yod", "kaf", "lamed")
    (0L until n.toLong).map { i =>
      val r = new scala.util.Random(i * 7919L + 3L)
      val base = Seq.fill(12)(words(r.nextInt(words.size))).mkString(" ")
      val text =
        if (i % 5 == 4) {
          val rp = new scala.util.Random((i - 1) * 7919L + 3L)
          Seq.fill(12)(words(rp.nextInt(words.size))).mkString(" ")
        } else if (i % 7 == 6) {
          val rp = new scala.util.Random((i - 1) * 7919L + 3L)
          val ws = Seq.fill(12)(words(rp.nextInt(words.size)))
          (ws.init :+ "edited").mkString(" ")
        } else base
      (i, text)
    }.toDF("doc_id", "text")
  }

  test("rebuildUnderBandParams == a fresh corpusIndexesWrite at the " +
    "target params: identical trees, identical flags, old-params " +
    "lookups refuse the new root; tokenizer change refused; re-run " +
    "no-ops; foreign-complete layout refused") {
    import graft.ops.Dedup
    val docs = docsDf(60)
    val isBatch = col("doc_id") % 10 === 9
    val oldRoot = TestDirs.tmp("reband_old").toString + "/idx"
    Dedup.corpusIndexesWrite(docs.filter(!isBatch), "text", "doc_id",
      oldRoot, numHashes = 8, bands = 2)
    val newRoot = TestDirs.tmp("reband_new").toString + "/idx"
    val stamp = Dedup.rebuildUnderBandParams(spark, oldRoot, newRoot,
      numHashes = 16, bands = 4)
    val freshRoot = TestDirs.tmp("reband_fresh").toString + "/idx"
    Dedup.corpusIndexesWrite(docs.filter(!isBatch), "text", "doc_id",
      freshRoot, numHashes = 16, bands = 4)
    // tree-level equivalence: fp, tok, and band rows all match a
    // fresh 16×4 build; the band sidecar carries the new stamp
    def fpOf(root: String) = spark.read.parquet(s"$root/fp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def tokOf(root: String) = spark.read.parquet(s"$root/tok")
      .select(col("id"), col("toks"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toSet
    def bandOf(root: String) = spark.read.parquet(s"$root/band")
      .select(col("id"), col("band").cast("long"), col("band_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(fpOf(newRoot) === fpOf(freshRoot))
    assert(tokOf(newRoot) === tokOf(freshRoot))
    assert(bandOf(newRoot) === bandOf(freshRoot),
      "re-banded band rows diverged from a fresh build")
    assert(StampedLayout.readStampSidecar(spark, s"$newRoot/band")
      === Some(stamp))
    // flag parity through the production lookup
    def flagsOf(root: String) = {
      val (fpI, bandI, tokI) = Dedup.corpusIndexesRead(spark, root)
      Dedup.crossDedupFlagsFromIndexes(docs.filter(isBatch), "text",
        "doc_id", fpI, bandI, tokI, numHashes = 16, bands = 4)
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          r.getBoolean(2))).toSet
    }
    assert(flagsOf(newRoot) === flagsOf(freshRoot),
      "migrated flags diverged from a fresh build's")
    // the OLD banding params refuse the migrated root (stamp works)
    val (fpI, bandI, tokI) = Dedup.corpusIndexesRead(spark, newRoot)
    val e0 = intercept[IllegalStateException] {
      Dedup.crossDedupFlagsFromIndexes(docs.filter(isBatch), "text",
        "doc_id", fpI, bandI, tokI, numHashes = 8, bands = 2).collect()
    }
    assert(e0.getMessage.contains("banding params"))
    // a tokenizer change cannot re-derive from persisted toks
    val e1 = intercept[IllegalStateException] {
      Dedup.rebuildUnderBandParams(spark, oldRoot,
        TestDirs.tmp("reband_tok").toString + "/idx",
        numHashes = 16, bands = 4, tokensTag = "char5")
    }
    assert(e1.getMessage.contains("tokenizer"))
    // idempotent resume: matching sidecar no-ops
    assert(Dedup.rebuildUnderBandParams(spark, oldRoot, newRoot,
      numHashes = 16, bands = 4) === stamp)
    assert(bandOf(newRoot) === bandOf(freshRoot))
    // a COMPLETE layout under different params refuses
    val e2 = intercept[IllegalStateException] {
      Dedup.rebuildUnderBandParams(spark, oldRoot, newRoot,
        numHashes = 8, bands = 4)
    }
    assert(e2.getMessage.contains("refusing to overwrite"))
  }

  test("rebuildUnderBandParams: stream-graduation from a _batch= " +
    "ingest root; pending compaction and never-built roots refuse") {
    import spark.implicits._
    import graft.ops.Dedup
    val docs = docsDf(40)
    val root = TestDirs.tmp("reband_stream").toString
    def ingest(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      graft.streaming.IdempotentSink.dedupIngestByBatch(
        s"$root/idx", s"$root/flags", "text", "doc_id")(df, b)
    ingest(docs.filter(col("doc_id") % 2 === 0), 0L)
    ingest(docs.filter(col("doc_id") % 2 === 1), 1L)
    // kept docs = those the ingest itself kept (flags tree)
    val keptIds = spark.read.parquet(s"$root/flags")
      .filter(!col("exact_dup") && !col("near_dup"))
      .select(col("doc_id")).as[Long].collect().toSet
    val newRoot = TestDirs.tmp("reband_stream_new").toString + "/idx"
    Dedup.rebuildUnderBandParams(spark, s"$root/idx", newRoot,
      numHashes = 16, bands = 4): Unit
    // batch layout (no _batch), fresh-build-equivalent over kept docs
    assert(!spark.read.parquet(s"$newRoot/band").columns
      .contains("_batch"),
      "the migrated layout must be a plain batch tree")
    val freshRoot = TestDirs.tmp("reband_stream_fresh").toString + "/idx"
    Dedup.corpusIndexesWrite(
      docs.filter(col("doc_id").isin(keptIds.toSeq: _*)),
      "text", "doc_id", freshRoot, numHashes = 16, bands = 4)
    def bandOf(r: String) = spark.read.parquet(s"$r/band")
      .select(col("id"), col("band").cast("long"), col("band_sig"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
      .toSet
    assert(bandOf(newRoot) === bandOf(freshRoot),
      "stream-graduated band rows diverged from a fresh build")
    // pending compaction swap at the old band tree refuses
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(s"$root/idx/band_compact_tmp")
    fs.mkdirs(tmp)
    StampedLayout.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmp,
        StampedLayout.FoldManifest), 0L, Seq(0L))
    val e = intercept[IllegalStateException] {
      Dedup.rebuildUnderBandParams(spark, s"$root/idx",
        TestDirs.tmp("reband_pend_new").toString + "/idx")
    }
    assert(e.getMessage.contains("pending"))
    fs.delete(tmp, true)
    // a never-built root refuses instead of writing an empty index
    val e2 = intercept[IllegalArgumentException] {
      Dedup.rebuildUnderBandParams(spark,
        TestDirs.tmp("reband_bare").toString,
        TestDirs.tmp("reband_bare_new").toString + "/idx")
    }
    assert(e2.getMessage.contains("no data files"))
  }

  test("rebuildPairUnderCodebooks == a fresh ivfPqIndexWritePair from " +
    "the same rows; the migrated pair serves a refined search; re-run " +
    "no-ops") {
    val emb = vecsDf(80, 41)
    val cbOld = Pq.train(emb, "vec_id", "vec", m = 2, k = 4, sampleN = 80)
    val oldOut = TestDirs.tmp("mig_pair_old").toString
    Pq.ivfPqIndexWritePair(emb, "vec_id", "vec", codebookA,
      cbOld, s"$oldOut/codes", s"$oldOut/vecs")
    // new codebooks: re-clustered cells AND a re-trained PQ codebook
    val cbNew = Pq.Codebook(cbOld.flat.map(_ * 0.9), cbOld.m, cbOld.k)
    val newOut = TestDirs.tmp("mig_pair_new").toString
    val stamp = Pq.rebuildPairUnderCodebooks(spark, s"$oldOut/vecs",
      "vec_id", "vec", codebookB, cbNew,
      s"$newOut/codes", s"$newOut/vecs")
    val freshOut = TestDirs.tmp("mig_pair_fresh").toString
    Pq.ivfPqIndexWritePair(emb, "vec_id", "vec", codebookB,
      cbNew, s"$freshOut/codes", s"$freshOut/vecs")
    def codesOf(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long"),
        col("pq_code").cast("array<int>"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2))).toSet
    assert(codesOf(s"$newOut/codes") === codesOf(s"$freshOut/codes"),
      "migrated codes diverged from a fresh pair build")
    assert(rowsOf(s"$newOut/vecs") === rowsOf(s"$freshOut/vecs"),
      "migrated vector tree diverged from a fresh pair build")
    // the migrated pair serves the production search shape
    val got = Pq.ivfPqSearchRefined(emb.filter(col("vec_id") < 2),
      "vec_id", "vec", spark.read.parquet(s"$newOut/codes"),
      spark.read.parquet(s"$newOut/vecs"), "vec_id", "vec",
      codebookB, cbNew, k = 3, nProbe = 2)
    assert(got.count() === 6, "refined search over the migrated pair")
    // idempotent resume
    assert(Pq.rebuildPairUnderCodebooks(spark, s"$oldOut/vecs",
      "vec_id", "vec", codebookB, cbNew,
      s"$newOut/codes", s"$newOut/vecs") === stamp)
    // a complete foreign layout at a new root refuses
    val e = intercept[IllegalStateException] {
      Pq.rebuildPairUnderCodebooks(spark, s"$oldOut/vecs",
        "vec_id", "vec", codebookA, cbOld,
        s"$newOut/codes", s"$newOut/vecs")
    }
    assert(e.getMessage.contains("refusing to overwrite"))
  }

  private def codesOf(dir: String) = spark.read.parquet(dir)
    .select(col("vec_id"), col("cell").cast("long"),
      col("pq_code").cast("array<int>"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
    .toSet

  test("rebuildPairUnderCodebooks refuses a pending compaction swap at " +
    "the old vector root and a never-built old root") {
    val emb = vecsDf(40, 43)
    val cb = Pq.train(emb, "vec_id", "vec", m = 2, k = 4, sampleN = 40)
    val oldOut = TestDirs.tmp("mig_pair_pend").toString
    Pq.ivfPqIndexWritePair(emb, "vec_id", "vec", codebookA, cb,
      s"$oldOut/codes", s"$oldOut/vecs")
    val fs = new org.apache.hadoop.fs.Path(oldOut)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(s"$oldOut/vecs_compact_tmp")
    fs.mkdirs(tmp)
    StampedLayout.writeFoldManifest(fs,
      new org.apache.hadoop.fs.Path(tmp, StampedLayout.FoldManifest),
      0L, Seq(0L))
    val newOut = TestDirs.tmp("mig_pair_pend_new").toString
    def migrate(oldVecs: String) = Pq.rebuildPairUnderCodebooks(spark,
      oldVecs, "vec_id", "vec", codebookB, cb,
      s"$newOut/codes", s"$newOut/vecs")
    val e = intercept[IllegalStateException] { migrate(s"$oldOut/vecs") }
    assert(e.getMessage.contains("pending"), e.getMessage)
    assert(!new java.io.File(s"$newOut/vecs").exists(),
      "a refused migration wrote the new vector tree")
    fs.delete(tmp, true)
    val e2 = intercept[IllegalArgumentException] {
      migrate(TestDirs.tmp("mig_pair_bare").toString)
    }
    assert(e2.getMessage.contains("no data files"), e2.getMessage)
  }

  test("rebuildPairUnderCodebooks resumes a crash between the two " +
    "writes: the new vector tree's sidecar matches, the code tree is " +
    "missing, and the re-run completes the pair") {
    val emb = vecsDf(60, 47)
    val cb = Pq.train(emb, "vec_id", "vec", m = 2, k = 4, sampleN = 60)
    val oldOut = TestDirs.tmp("mig_pair_crash_old").toString
    Pq.ivfPqIndexWritePair(emb, "vec_id", "vec", codebookA, cb,
      s"$oldOut/codes", s"$oldOut/vecs")
    // what the pair build leaves when it dies after its first write
    val newOut = TestDirs.tmp("mig_pair_crash_new").toString
    Similarity.ivfIndexWrite(emb, "vec_id", "vec", codebookB,
      s"$newOut/vecs")
    assert(!new java.io.File(s"$newOut/codes").exists())
    val stamp = Pq.rebuildPairUnderCodebooks(spark, s"$oldOut/vecs",
      "vec_id", "vec", codebookB, cb, s"$newOut/codes", s"$newOut/vecs")
    assert(StampedLayout.readStampSidecar(spark, s"$newOut/codes")
      === Some(stamp), "the re-run did not complete the code tree")
    val freshOut = TestDirs.tmp("mig_pair_crash_fresh").toString
    Pq.ivfPqIndexWritePair(emb, "vec_id", "vec", codebookB, cb,
      s"$freshOut/codes", s"$freshOut/vecs")
    assert(codesOf(s"$newOut/codes") === codesOf(s"$freshOut/codes"),
      "resumed codes diverged from a fresh pair build")
    assert(rowsOf(s"$newOut/vecs") === rowsOf(s"$freshOut/vecs"))
  }
}
