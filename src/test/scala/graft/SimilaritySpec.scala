package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}
import graft.ops.Similarity.Centroids

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("kmeansIterate converges to the true cluster means from a bad " +
    "init and stops early on tol") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def around(cx: Double, cy: Double, n: Int) =
      (1 to n).map(_ => Seq(cx + rnd.nextGaussian() * 0.1,
        cy + rnd.nextGaussian() * 0.1))
    val pts = around(0.0, 0.0, 200) ++ around(10.0, 10.0, 200)
    val emb = pts.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    // bad init: both centroids near one cluster, but on either side of
    // the midline to it so the far cluster captures one of them
    val init = Seq((0L, Seq(1.0, 1.0)), (1L, Seq(6.0, 6.0)))
      .toDF("cid", "cvec")

    val out = Similarity.kmeansIterate(emb, "vec_id", "embedding",
      init, "cid", "cvec", maxIters = 20, tol = 1e-9)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c0 = out(0L); val c1 = out(1L)
    assert(math.abs(c0(0)) < 0.1 && math.abs(c0(1)) < 0.1,
      s"centroid 0 off: $c0")
    assert(math.abs(c1(0) - 10.0) < 0.1 && math.abs(c1(1) - 10.0) < 0.1,
      s"centroid 1 off: $c1")
  }

  test("ivfSearchIndexed over a persisted index returns exactly " +
    "ivfSearch's answer") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val emb = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val centroids = Centroids(emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val dir = TestDirs.tmp("ivf_index").toFile.getAbsolutePath
    Similarity.ivfIndex(emb, "vec_id", "embedding",
      centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val qVec = emb.filter(col("vec_id") === 7L)
      .select(col("embedding")).collect()(0).getSeq[Double](0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cos_sim")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = rows(Similarity.ivfSearchIndexed(
      spark.read.parquet(dir), "vec_id", "embedding",
      centroids, qVec, k = 10, nProbe = 2,
      excludeId = Some(7L)))
    val inline = rows(Similarity.ivfSearch(emb, "vec_id", "embedding",
      centroids, queryId = 7L, k = 10, nProbe = 2))
    assert(indexed == inline, "persisted-index probe diverged from the " +
      "inline assignment probe")
  }

  test("ivfSearchBatch: a one-query batch returns exactly " +
    "ivfSearchIndexed's answer") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val emb = (0L until 150L).map(i =>
      (i, Seq.fill(6)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val centroids = Centroids(emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val dir = TestDirs.tmp("ivf_batch").toFile.getAbsolutePath
    Similarity.ivfIndex(emb, "vec_id", "embedding",
      centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val qVec = emb.filter(col("vec_id") === 9L)
      .select(col("embedding")).collect()(0).getSeq[Double](0)
    val single = Similarity.ivfSearchIndexed(index, "vec_id", "embedding",
      centroids, qVec, k = 8, nProbe = 2,
      excludeId = Some(9L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val batch = Similarity.ivfSearchBatch(
      emb.filter(col("vec_id") === 9L), "vec_id", "embedding",
      index, "vec_id", "embedding", centroids,
      k = 8, nProbe = 2)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSeq
    assert(batch == single,
      "batch probe diverged from the single-query indexed probe")
  }

  test("zero-norm vectors (cosine 0/0 = NaN) are excluded from every " +
    "rank path identically: top-1 min_by, bounded top-k aggregate, and " +
    "the forced rank window agree, and a zero-norm QUERY keeps") {
    import spark.implicits._
    // 2D fixture: one cell holds a planted ZERO vector (id 100) plus
    // two finite neighbors — without the NaN drop the window path
    // would rank the zero vector FIRST (Spark sorts NaN above every
    // value under desc) while the aggregate paths drop it
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (100L, Seq(0.0, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.1, 0.9)))
      .toDF("vec_id", "embedding")
    val cents = Centroids(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivf_nan").toFile.getAbsolutePath
    Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val q = Seq((50L, Seq(1.0, 0.05))).toDF("vec_id", "embedding")
    def ids(k: Int) = Similarity.ivfSearchBatch(q, "vec_id", "embedding",
      index, "vec_id", "embedding", cents,
      k = k, nProbe = 2, excludeSelf = false)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .select(col("vec_id")).as[Long].collect().toSeq
    // top-1 (min_by path): the finite best, never the NaN row
    assert(ids(1) === Seq(1L))
    // k=4 (bounded-aggregate path): all four finite rows, no id 100
    assert(ids(4) === Seq(1L, 2L, 4L, 3L))
    // k past MaxK (forced window path): same four rows — the window
    // would have put the NaN row first without the pre-rank drop
    assert(ids(graft.functions.TopKByScore.MaxK + 1) ===
      Seq(1L, 2L, 4L, 3L))
    // the single-query surfaces (ordered TakeOrdered rank) drop it too
    assert(Similarity.ivfSearchIndexed(index, "vec_id", "embedding", cents,
      Seq(1.0, 0.05), k = 4, nProbe = 2)
      .select(col("vec_id")).as[Long].collect().toSeq === Seq(1L, 2L, 4L, 3L))
    assert(Similarity.knnCosine(emb.union(q), "vec_id", "embedding",
      queryId = 50L, k = 4)
      .select(col("vec_id")).as[Long].collect().toSeq === Seq(1L, 2L, 4L, 3L))
    // a zero-norm QUERY scores NaN against every candidate → no
    // neighbors → semanticDedupFlags keeps it (the NULL/keep contract)
    val zq = Seq((60L, Seq(0.0, 0.0))).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedupFlags(zq, "vec_id", "embedding",
      index, "vec_id", "embedding", cents,
      tau = 0.5, nProbe = 2, excludeSelf = false)
      .select(col("keep")).as[Boolean].collect().toSeq
    assert(kept === Seq(true),
      "zero-norm query must surface as the no-candidates keep row")
  }

  test("ivfSearchIndexed fails loudly when the index was assigned " +
    "under a different codebook") {
    import spark.implicits._
    val emb = (0L until 50L).map(i =>
      (i, Seq(i.toDouble, -i.toDouble))).toDF("vec_id", "embedding")
    val cents1 = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(40.0, -40.0)))
      .toDF("cid", "cvec")
    val cents2 = Seq((0L, Seq(5.0, -5.0)), (1L, Seq(45.0, -45.0)))
      .toDF("cid", "cvec")
    val dir = TestDirs.tmp("ivf_stale").toFile.getAbsolutePath
    Similarity.ivfIndex(emb, "vec_id", "embedding",
      Centroids(cents1, "cid", "cvec"))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val e = intercept[Exception] {
      Similarity.ivfSearchIndexed(spark.read.parquet(dir),
        "vec_id", "embedding", Centroids(cents2, "cid", "cvec"),
        Seq(0.0, 0.0), k = 3).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("different codebook")),
      s"unexpected failure: $e")
  }

  test("semanticDedupFlags: near-copy of a corpus vector drops, " +
    "distant vector keeps, probed-cell miss keeps with NULL neighbor") {
    import spark.implicits._
    // two well-separated clusters; centroids sit on them
    val corpus = Seq(
      (10L, Seq(1.0, 0.0, 0.0)), (11L, Seq(0.99, 0.01, 0.0)),
      (12L, Seq(0.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    val cents = Centroids(Seq((0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0)), (2L, Seq(0.0, 0.0, 1.0)))
      .toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("semdedup").toFile.getAbsolutePath
    Similarity.ivfIndex(corpus, "vec_id", "embedding",
      cents)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val batch = Seq(
      (100L, Seq(0.999, 0.001, 0.0)), // ≈ corpus 10 → cos ≈ 1 → drop
      (101L, Seq(0.5, -0.8, 0.1)), // far from everything → keep
      (102L, Seq(0.0, 0.0, 1.0))) // cell 2 is EMPTY → null neighbor
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedupFlags(batch, "vec_id", "embedding",
      spark.read.parquet(dir), "vec_id", "embedding",
      cents, tau = 0.95, nProbe = 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getBoolean(3))).toMap
    assert(got(100L) == (Some(10L), false), s"near-copy not dropped: $got")
    assert(got(101L)._2, s"distant vector dropped: $got")
    // 102's single probed cell holds no corpus vectors: the LEFT join
    // must surface it as keep with no neighbor, not lose the row
    assert(got(102L) == (None, true), s"cell-miss row mishandled: $got")
  }

  test("ivfIndexAppend: append-built layout answers exactly like a " +
    "single-shot build; a mismatched codebook is refused BEFORE writing") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val emb = (0L until 150L).map(i =>
      (i, Seq.fill(6)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val cents = Centroids(emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val oneShot = TestDirs.tmp("ivf_oneshot").toFile.getAbsolutePath
    Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      .write.partitionBy("cell").mode("overwrite").parquet(oneShot)
    val appended = TestDirs.tmp("ivf_appended").toFile.getAbsolutePath
    Similarity.ivfIndex(emb.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", cents)
      .write.partitionBy("cell").mode("overwrite").parquet(appended)
    Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", appended, cents)
    def probe(dir: String) = Similarity.ivfSearchBatch(
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      spark.read.parquet(dir), "vec_id", "embedding",
      cents, k = 7, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSet
    assert(probe(appended) == probe(oneShot),
      "append-built index diverged from the single-shot build")
    // wrong codebook: the append must throw at the stamp check and
    // leave the layout untouched — a silent mixed-codebook append
    // corrupts every future probe of the affected cells
    val before = spark.read.parquet(appended).count()
    val badCents = Seq((0L, Seq(9.0, 9.0, 9.0, 9.0, 9.0, 9.0)),
      (1L, Seq(-9.0, 9.0, -9.0, 9.0, -9.0, 9.0))).toDF("cid", "cvec")
    val e = intercept[IllegalStateException] {
      Similarity.ivfIndexAppend(emb.limit(5), "vec_id", "embedding",
        appended, Centroids(badCents, "cid", "cvec"))
    }
    assert(e.getMessage.contains("different codebook"))
    assert(spark.read.parquet(appended).count() == before,
      "refused append still wrote rows")
  }

  test("ivfSearchBatch probing ALL cells equals an independent " +
    "driver-side brute-force cosine top-k (multi-seed differential)") {
    import spark.implicits._
    for (seed <- Seq(11, 23, 37)) {
      val rnd = new scala.util.Random(seed)
      val vecs = (0L until 120L).map(i =>
        (i, Seq.fill(8)(rnd.nextGaussian()))).toMap
      val emb = vecs.toSeq.toDF("vec_id", "embedding")
      val cents = Centroids((0 until 5).map(c =>
        (c.toLong, vecs(c * 20L))).toDF("cid", "cvec"), "cid", "cvec")
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding",
        cents)
      val qids = Seq(7L, 42L, 99L)
      val got = Similarity.ivfSearchBatch(
        emb.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
        index, "vec_id", "embedding", cents,
        k = 10, nProbe = 5) // all 5 cells probed ⇒ exact
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(3))).toSeq
          .sortBy { case (id, c) => (-c, id) }).toMap
      // independent implementation: plain Scala cosine, same rounding
      // and (−cos, id) tie order as the operator's window
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val r = dot / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum))
        BigDecimal(r).setScale(5, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      }
      val want = qids.map { q =>
        q -> vecs.toSeq.filter(_._1 != q)
          .map { case (id, v) => (id, cos(vecs(q), v)) }
          .sortBy { case (id, c) => (-c, id) }.take(10)
      }.toMap
      assert(got == want, s"seed $seed: batch ANN diverged from the " +
        s"driver-side brute force\n got: $got\nwant: $want")
    }
  }

  test("probing a zero-row index fails loudly instead of answering " +
    "empty (truncated-layout guard)") {
    import spark.implicits._
    val emb = (0L until 20L).map(i =>
      (i, Seq(i.toDouble, 1.0))).toDF("vec_id", "embedding")
    val cents = Centroids(Seq((0L, Seq(0.0, 1.0)), (1L, Seq(19.0, 1.0)))
      .toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivf_zero_rows").toFile.getAbsolutePath
    // a schema-complete but row-free layout — what a truncated or
    // never-populated index looks like to a reader
    Similarity.ivfIndex(emb.filter(col("vec_id") < 0L),
      "vec_id", "embedding", cents)
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalStateException] {
      Similarity.ivfSearchIndexed(spark.read.parquet(dir),
        "vec_id", "embedding", cents,
        Seq(1.0, 1.0), k = 3).collect()
    }
    assert(e.getMessage.contains("zero rows"), s"unexpected: $e")
  }

  test("sidecar stamp is authoritative and O(1): probes trust it over " +
    "the _params column, and refuse a tampered one") {
    // "probe cost independent of append count" as a mechanism proof:
    // a layout whose _params DATA column is bogus but whose sidecar is
    // correct must probe fine — possible only if the per-file column
    // scan never ran. Conversely a corrupted sidecar must fail even
    // though the data column is fine, and deleting the sidecar must
    // fall back to the data column (bogus column ⇒ throw).
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val emb = (0L until 90L).map(i =>
      (i, Seq.fill(5)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val cents = Centroids(emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val good = TestDirs.tmp("ivf_sidecar_good").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding",
      cents, good)
    val sidecarPath = java.nio.file.Paths.get(good, "_graft_ivf_stamp")
    assert(java.nio.file.Files.exists(sidecarPath),
      "ivfIndexWrite left no stamp sidecar")
    val goodStamp = java.nio.file.Files.readString(sidecarPath)
    // tampering bypasses the Hadoop LocalFileSystem, so drop its .crc
    // shadow or the reader fails on checksum, not on stamp content
    def setSidecar(dir: String, content: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "_graft_ivf_stamp"), content): Unit
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._graft_ivf_stamp.crc")): Unit
    }
    def probe(dir: String) = Similarity.ivfSearchIndexed(
      spark.read.parquet(dir), "vec_id", "embedding",
      cents,
      Seq.fill(5)(0.3), k = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val expect = probe(good)
    assert(expect.size == 4)

    // bogus _params column + correct sidecar ⇒ works (column unread)
    val bogusCol = TestDirs.tmp("ivf_sidecar_bogus").toFile.getAbsolutePath
    Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      .withColumn("_params", lit("ivf3/deadbeef0000"))
      .write.partitionBy("cell").mode("overwrite").parquet(bogusCol)
    setSidecar(bogusCol, goodStamp)
    assert(probe(bogusCol) == expect,
      "sidecar-stamped probe diverged — the _params column was scanned")

    // corrupted sidecar ⇒ refused even though the data column is fine
    setSidecar(good, "ivf3/deadbeef0000\n")
    val e1 = intercept[IllegalStateException] { probe(good) }
    assert(e1.getMessage.contains("different codebook"))
    setSidecar(good, goodStamp) // restore
    assert(probe(good) == expect)

    // no sidecar ⇒ data-column fallback catches the bogus column
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(bogusCol, "_graft_ivf_stamp"))
    val e2 = intercept[IllegalStateException] { probe(bogusCol) }
    assert(e2.getMessage.contains("different codebook"))
  }

  test("compactCells: fragmented cells coalesce to one file, probe " +
    "results are byte-identical, and the pass is idempotent") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val emb = (0L until 200L).map(i =>
      (i, Seq.fill(5)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val cents = Centroids(emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec")
    val dir = TestDirs.tmp("ivf_compact").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb.filter(col("vec_id") % 7 === 0),
      "vec_id", "embedding", cents, dir)
    // a micro-batch ingest loop: 6 appends, each lands a file set
    for (b <- 1 to 6)
      Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 7 === b),
        "vec_id", "embedding", dir, cents)
    def filesPerCell: Map[String, Int] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(filesPerCell.values.max > 4,
      s"fixture never fragmented: $filesPerCell")
    def probe() = Similarity.ivfSearchBatch(
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      spark.read.parquet(dir), "vec_id", "embedding",
      cents, k = 6, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSet
    val before = probe()
    val rowsBefore = spark.read.parquet(dir).count()
    val compacted = Similarity.compactCells(spark, dir, maxFilesPerCell = 1)
    assert(compacted.nonEmpty)
    assert(filesPerCell.values.max == 1,
      s"cells still fragmented after compaction: $filesPerCell")
    assert(spark.read.parquet(dir).count() == rowsBefore,
      "compaction lost or duplicated rows")
    assert(probe() == before, "compaction changed probe results")
    // sidecar survived ⇒ the stamp check still passes O(1)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_graft_ivf_stamp")))
    assert(Similarity.compactCells(spark, dir, maxFilesPerCell = 1).isEmpty,
      "second compaction pass found work")
    // and the layout still accepts appends afterwards
    Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 7 === 0),
      "vec_id", "embedding", dir, cents)
  }

  test("ivfAssignHierarchical: degenerate superProbe is exactly flat; " +
    "two-probe agrees on nearly all rows and never improves a distance") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    // a STRUCTURED codebook — 8 well-separated groups of 8 centroids —
    // the shape a k-means codebook actually has (a fully random
    // codebook has no group structure for the coarse tier to find and
    // is the documented worst case, not the operating point)
    val groupBase = (0 until 8).map(g =>
      Seq.tabulate(6)(j => if (j == g % 6) 40.0 * (1 + g / 6) else 0.0))
    val centVecs = (0L until 64L).map { c =>
      val g = (c / 8).toInt
      (c, groupBase(g).map(_ + rnd.nextGaussian()))
    }
    val cents = Centroids(centVecs.toDF("cid", "cvec"), "cid", "cvec")
    val emb = (0L until 400L).map { i =>
      val near = centVecs(rnd.nextInt(64))._2
      (i, near.map(_ + rnd.nextGaussian() * 2.0))
    }.toDF("vec_id", "embedding")
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "cell_dist2").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val flat = cellsOf(Similarity.ivfAssign(emb, "vec_id", "embedding",
      cents))
    // superProbe ≥ superCells ⇒ bit-identical to the flat fold
    val exact = cellsOf(Similarity.ivfAssignHierarchical(
      emb, "vec_id", "embedding", cents,
      superCells = 8, superProbe = 8))
    assert(exact == flat, "degenerate hierarchical diverged from flat")
    // superCells = superProbe = 2 stays on the GENERAL path (super
    // fold + member map + group concat) but probes every group — must
    // also be exactly flat; this is the q122 gate shape
    val bothGroups = cellsOf(Similarity.ivfAssignHierarchical(
      emb, "vec_id", "embedding", cents,
      superCells = 2, superProbe = 2))
    assert(bothGroups == flat,
      "all-groups-probed hierarchical diverged from flat")
    // superProbe = 2: boundary rows may land in a neighboring cell,
    // but (a) every row is assigned, (b) a disagreement can only give
    // a GREATER-OR-EQUAL distance (it searched a subset), and (c) the
    // overwhelming majority agree
    val hier = cellsOf(Similarity.ivfAssignHierarchical(
      emb, "vec_id", "embedding", cents,
      superCells = 8, superProbe = 2))
    assert(hier.keySet == flat.keySet, "hierarchical lost rows")
    val disagree = hier.filter { case (id, (c, _)) => flat(id)._1 != c }
    disagree.foreach { case (id, (_, d)) =>
      assert(d >= flat(id)._2 - 1e-9,
        s"row $id: hierarchical found a BETTER distance than flat — " +
          "the subset search is broken")
    }
    assert(disagree.size <= flat.size / 10,
      s"${disagree.size}/${flat.size} rows disagree — super-clustering " +
        "is routing badly")
    // and the default super-cell count also runs end to end
    val auto = cellsOf(Similarity.ivfAssignHierarchical(
      emb, "vec_id", "embedding", cents))
    assert(auto.keySet == flat.keySet)
  }

  test("ivfSearchBatchHier: all-groups-probed equals the flat batch " +
    "probe exactly (general path AND degenerate path); a coarse " +
    "superProbe=2 probe selects mostly the same cells and never " +
    "fabricates candidates") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    // the structured-codebook fixture shape of the assignment test:
    // 8 well-separated groups of 8 centroids — a coarse tier's
    // operating point
    val groupBase = (0 until 8).map(g =>
      Seq.tabulate(6)(j => if (j == g % 6) 40.0 * (1 + g / 6) else 0.0))
    val centVecs = (0L until 64L).map { c =>
      val g = (c / 8).toInt
      (c, groupBase(g).map(_ + rnd.nextGaussian()))
    }
    val cents = Centroids(centVecs.toDF("cid", "cvec"), "cid", "cvec")
    val emb = (0L until 500L).map { i =>
      val near = centVecs(rnd.nextInt(64))._2
      (i, near.map(_ + rnd.nextGaussian() * 2.0))
    }.toDF("vec_id", "embedding")
    val dir = TestDirs.tmp("ivf_hier_batch").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding",
      cents, dir)
    val index = spark.read.parquet(dir)
    val queries = emb.filter(col("vec_id") < 10)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("vec_id"), col("cos_sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val flat = rowsOf(Similarity.ivfSearchBatch(queries, "vec_id",
      "embedding", index, "vec_id", "embedding", cents,
      k = 5, nProbe = 3))
    // degenerate (superProbe ≥ superCells ⇒ flat explode) and general
    // (2 groups, both probed) paths must both be EXACTLY flat
    assert(rowsOf(Similarity.ivfSearchBatchHier(queries, "vec_id",
      "embedding", index, "vec_id", "embedding", cents,
      k = 5, nProbe = 3, superCells = 8, superProbe = 8)) === flat,
      "degenerate hierarchical batch probe diverged from flat")
    assert(rowsOf(Similarity.ivfSearchBatchHier(queries, "vec_id",
      "embedding", index, "vec_id", "embedding", cents,
      k = 5, nProbe = 3, superCells = 2, superProbe = 2)) === flat,
      "all-groups-probed hierarchical batch probe diverged from flat")
    // coarse probe: cells come from the 2 probed groups' members only —
    // probe sets agree with flat on the overwhelming majority, and the
    // scored results are always a SUBSET-search of flat's candidate
    // space (equal scores wherever (qid, id) pairs coincide)
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qvec"))
    val centsSeq = Centroids(centVecs.map { case (c, v) => (c, v) })
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flatProbe = probeSet(Similarity.probeCellsHierarchical(
      q, centsSeq, nProbe = 3, superCells = 8, superProbe = 8))
    val hierProbe = probeSet(Similarity.probeCellsHierarchical(
      q, centsSeq, nProbe = 3, superCells = 8, superProbe = 2))
    assert(hierProbe.map(_._1) === flatProbe.map(_._1),
      "coarse probe lost a query")
    val shared = hierProbe.intersect(flatProbe)
    assert(shared.size * 10 >= flatProbe.size * 9,
      s"coarse probe agrees on only ${shared.size}/${flatProbe.size} " +
        "cells — super-clustering is routing badly")
    val hier2 = rowsOf(Similarity.ivfSearchBatchHier(queries, "vec_id",
      "embedding", index, "vec_id", "embedding", cents,
      k = 5, nProbe = 3, superCells = 8, superProbe = 2))
    val flatByKey = flat.map(t => (t._1, t._2) -> t._3).toMap
    hier2.foreach { case (qid, id, score) =>
      flatByKey.get((qid, id)).foreach(fs =>
        assert(fs === score,
          s"($qid,$id) scored $score hier vs $fs flat — the candidate " +
            "scan must be untouched by probe selection"))
    }
  }

  test("kmeansIterate: the driver finish and the distributed rounds " +
    "train the same centroids (within 1e-9) on the kmeans fixtures") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def train(emb: DataFrame, init: DataFrame, maxIters: Int,
        tol: Double): Map[Long, Seq[Double]] =
      Similarity.kmeansIterate(emb, "vec_id", "embedding", init, "cid",
        "cvec", maxIters = maxIters, tol = tol)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def distributed(emb: DataFrame, init: DataFrame, maxIters: Int,
        tol: Double): Map[Long, Seq[Double]] = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try train(emb, init, maxIters, tol)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val rnd = new scala.util.Random(31)
    def around(cx: Double, cy: Double, n: Int) =
      (1 to n).map(_ => Seq(cx + rnd.nextGaussian() * 0.1,
        cy + rnd.nextGaussian() * 0.1))
    val clusters = (around(0.0, 0.0, 200) ++ around(10.0, 10.0, 200))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val fixtures = Seq(
      // the convergence fixture: bad init, stops on tol
      (clusters.toDF("vec_id", "embedding"),
        Seq((0L, Seq(1.0, 1.0)), (1L, Seq(6.0, 6.0))), 20, 1e-9),
      // the empty-cell fixture
      (Seq((1L, Seq(0.0, 0.0)), (2L, Seq(0.2, 0.0)))
        .toDF("vec_id", "embedding"),
        Seq((0L, Seq(0.1, 0.0)), (1L, Seq(50.0, 50.0))), 3, 1e-6),
      // a null vector is skipped and a tie goes to the lower cid
      (Seq((1L, Seq(0.0, 0.0)), (2L, null), (3L, Seq(2.0, 0.0)),
        (4L, Seq(4.0, 0.0))).toDF("vec_id", "embedding"),
        Seq((5L, Seq(1.0, 0.0)), (6L, Seq(3.0, 0.0))), 10, 1e-6))
    for ((emb, init, maxIters, tol) <- fixtures) {
      val initDf = init.toDF("cid", "cvec")
      val got = train(emb, initDf, maxIters, tol)
      val want = distributed(emb, initDf, maxIters, tol)
      assert(got.keySet == want.keySet)
      for ((cid, c) <- want; (x, y) <- c.zip(got(cid)))
        assert(math.abs(x - y) < 1e-9,
          s"cid $cid: driver ${got(cid)} vs distributed $c")
    }
  }

  test("kmeansIterate: an empty cell keeps its previous centroid") {
    import spark.implicits._
    val emb = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(0.2, 0.0)))
      .toDF("vec_id", "embedding")
    val init = Seq((0L, Seq(0.1, 0.0)), (1L, Seq(50.0, 50.0)))
      .toDF("cid", "cvec")
    val out = Similarity.kmeansIterate(emb, "vec_id", "embedding",
      init, "cid", "cvec", maxIters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(50.0, 50.0), "empty cell centroid drifted")
    assert(math.abs(out(0L)(0) - 0.1) < 1e-9)
  }

  test("Centroids.stamp and Pq.combinedStamp keep their byte format: " +
    "layouts persisted by earlier builds still verify") {
    import spark.implicits._
    // unsorted ids, a negative zero, a subnormal and a tiny exponent;
    // the expected strings are what the collected-codebook stamp of
    // the earlier releases computed for this frame
    val df = Seq(
      (7L, Seq(1.0, -0.0, 0.5)),
      (2L, Seq(1e-300, -2.5, 3.141592653589793)),
      (5L, Seq(-1.0, 4.9e-324, 123456.789))).toDF("cid", "cvec")
    val cents = Centroids(df, "cid", "cvec")
    assert(cents.cells.map(_._1) == Seq(2L, 5L, 7L))
    assert(cents.stamp == "ivf3/8543c45008e6")
    val cb = Pq.Codebook(IndexedSeq(0.25, -0.0, 1e-310, 2.0), 2, 2)
    assert(Pq.combinedStamp(cents, cb) ==
      "ivf3/8543c45008e6+pq2/2/dff15cc5bcbd")
    // the driver-local frame round-trips to the same codebook
    val again = Centroids(cents.frame(spark), "cid", "cvec")
    assert(again == cents && again.stamp == cents.stamp)
  }

  test("Centroids rejects a null centroid id, naming the column") {
    import spark.implicits._
    val df = Seq((Some(0L), Seq(1.0, 0.0)), (None, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val e = intercept[IllegalArgumentException](
      Centroids(df, "cid", "cvec"))
    assert(e.getMessage.contains("null id in column 'cid'"), e.getMessage)
  }

  test("Centroids rejects a null centroid vector, naming the column") {
    import spark.implicits._
    val df = Seq((0L, Some(Seq(1.0, 0.0))), (1L, None))
      .toDF("cid", "cvec")
    val e = intercept[IllegalArgumentException](
      Centroids(df, "cid", "cvec"))
    assert(e.getMessage.contains("null vector in column 'cvec'"),
      e.getMessage)
  }

  test("Centroids rejects a null centroid element, which could never " +
    "win a cell yet would count in the stamp") {
    import spark.implicits._
    val df = Seq((0L, Seq(Some(1.0), Some(0.0))), (1L, Seq(Some(0.0), None)))
      .toDF("cid", "cvec")
    val e = intercept[IllegalArgumentException](
      Centroids(df, "cid", "cvec"))
    assert(e.getMessage.contains("null element in column 'cvec'"),
      e.getMessage)
  }

  test("Centroids rejects a duplicate centroid id (two centroids under " +
    "one cell label)") {
    import spark.implicits._
    val df = Seq((3L, Seq(1.0, 0.0)), (1L, Seq(1.0, 1.0)),
      (3L, Seq(0.0, 1.0))).toDF("cid", "cvec")
    val e = intercept[IllegalArgumentException](
      Centroids(df, "cid", "cvec"))
    assert(e.getMessage.contains("duplicate id 3 in column 'cid'"),
      e.getMessage)
  }
}
