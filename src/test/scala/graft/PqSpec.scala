package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.{Pq, Similarity}
import graft.ops.Similarity.Centroids

/** Product-quantization family: kernel correctness against a
  * driver-side reference, search differentials against brute force,
  * training determinism, and the stamp contract on persisted IVF-PQ
  * layouts.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // driver-side reference implementations (independent of the kernels)
  private def refEncode(v: Seq[Double], flat: IndexedSeq[Double],
      m: Int, k: Int): Seq[Int] = {
    val dsub = flat.length / (m * k)
    (0 until m).map { j =>
      (0 until k).minBy { c =>
        val d = (0 until dsub).map { t =>
          val x = v(j * dsub + t) - flat((j * k + c) * dsub + t); x * x
        }.sum
        (d, c)
      }
    }
  }

  private def refAdc(q: Seq[Double], code: Seq[Int],
      flat: IndexedSeq[Double], m: Int, k: Int): Double = {
    val dsub = flat.length / (m * k)
    (0 until m).map { j =>
      val c = code(j)
      (0 until dsub).map { t =>
        val x = q(j * dsub + t) - flat((j * k + c) * dsub + t); x * x
      }.sum
    }.sum
  }

  private def randVecs(n: Int, dim: Int, seed: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
  }

  test("pq_encode / pq_lut / pq_adc match the driver-side reference") {
    import spark.implicits._
    val m = 4; val k = 8; val dim = 16
    val vecs = randVecs(100, dim, 7)
    val cbSrc = randVecs(m * k, dim / m, 8)
    val flat = cbSrc.flatMap(_._2).toIndexedSeq
    val cb = Pq.Codebook(flat, m, k)
    val df = vecs.toDF("id", "vec")
    val q = vecs.head._2
    val out = Pq.encode(df, "vec", cb)
      .withColumn("adc", GraftFunctions.pq_adc(
        GraftFunctions.pq_lut(typedLit(q), typedLit(flat), m, k),
        col("pq_code")))
      .orderBy("id").collect()
    vecs.zip(out).foreach { case ((_, v), row) =>
      val code = row.getSeq[Int](row.fieldIndex("pq_code"))
      assert(code == refEncode(v, flat, m, k))
      // same IEEE op order in kernel and reference: exact equality
      assert(row.getDouble(row.fieldIndex("adc")) ==
        refAdc(q, code, flat, m, k))
    }
  }

  test("pq_lut_ip + pq_adc equals the exact dot against RECONSTRUCTED " +
    "codewords, and ip-ranked searchBatch matches a driver brute force") {
    import spark.implicits._
    val m = 4; val k = 8; val dim = 16
    val vecs = randVecs(200, dim, 91)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m, k, sampleN = 200)
    val codeMap = vecs.map { case (i, v) =>
      i -> refEncode(v, cb.flat, cb.m, cb.k)
    }.toMap
    def refIp(q: Seq[Double], code: Seq[Int]): Double = {
      val dsub = cb.dsub
      (0 until m).map { j =>
        val c = code(j)
        (0 until dsub).map(t =>
          q(j * dsub + t) * cb.flat((j * k + c) * dsub + t)).sum
      }.sum
    }
    val queries = vecs.take(2).toDF("id", "vec")
    val codes = Pq.encode(df, "vec", cb).select(col("id"), col("pq_code"))
    val got = Pq.searchBatch(queries, "id", "vec", codes, "id", cb,
      k = 5, metric = "ip")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    vecs.take(2).foreach { case (qid, qv) =>
      val want = vecs.filter(_._1 != qid).map { case (i, _) =>
        (i, BigDecimal(refIp(qv, codeMap(i)))
          .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (i, s) => (-s, i) }.take(5)
      assert(got(qid).sortBy { case (i, s) => (-s, i) } == want,
        s"ip query $qid")
    }
  }

  test("the PQ kernels run inside whole-stage codegen (no fallback)") {
    // spark.range keeps the plan non-local so codegen actually runs;
    // encode → lut → adc chained in one projection
    val flat = typedLit((0 until 8).map(_.toDouble)) // m=2, k=2, dsub=2
    val df = spark.range(10)
      .select(array(col("id").cast("double"), lit(1.0),
        col("id").cast("double") * 2, lit(3.0)).as("v"))
      .select(GraftFunctions.pq_adc(
        GraftFunctions.pq_lut(col("v"), flat, 2, 2),
        GraftFunctions.pq_encode(col("v"), flat, 2, 2)).as("d"),
        GraftFunctions.pq_lut_ip(col("v"), flat, 2, 2).as("l"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes a WholeStageCodegen stage; a fallback Project
    // would print without the star
    assert(plan.linesIterator.next().trim.startsWith("*("), plan)
    assert(df.collect().forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("null element nulls the result; bad lengths throw") {
    import spark.implicits._
    val cb = Pq.Codebook(IndexedSeq(0.0, 1.0, 2.0, 3.0), 2, 2) // dsub=1
    val df = Seq((1L, Seq(Some(1.0), None))).toDF("id", "vec")
    val out = df.select(GraftFunctions.pq_encode(col("vec"),
      typedLit(cb.flat), 2, 2)).collect()
    assert(out(0).isNullAt(0))
    val bad = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("id", "vec")
    val e = intercept[Exception] {
      bad.select(GraftFunctions.pq_encode(col("vec"),
        typedLit(cb.flat), 2, 2)).collect()
    }
    assert(e.getMessage != null)
    val e2 = intercept[Exception] {
      Seq((Seq(0.0, 0.0, 0.0), Seq(0, 1))).toDF("lut", "code")
        .select(GraftFunctions.pq_adc(col("lut"), col("code"))).collect()
    }
    assert(e2.getMessage != null)
  }

  test("pq_adc null contract on HAND-BUILT LUTs: a null READ slot " +
    "nulls the score, a null UNREAD slot does not") {
    import spark.implicits._
    // DELIBERATE semantics pin (r17 ADVICE): pq_adc checks only the m
    // LUT slots it reads. Kernel-built LUTs are all-or-nothing null
    // (pq_lut returns a NULL ARRAY for a corrupt query), so this only
    // matters for hand-built LUTs — where "the slots you rank by are
    // intact" is the honest contract, and scanning all m·k entries per
    // candidate row cost ~k× the lookup itself (the r16 relaxation).
    // m=2, k=2; codes [0, 1] read slots 0 (j·k+c = 0) and 3 (1·2+1).
    val readSlotNull = Seq(
      (Seq[Option[Double]](None, Some(9.0), Some(9.0), Some(2.0)),
        Seq(0, 1))).toDF("lut", "code")
      .select(GraftFunctions.pq_adc(col("lut"), col("code"))).head
    assert(readSlotNull.isNullAt(0),
      "a null in a READ slot must null the score")
    val unreadSlotNull = Seq(
      (Seq[Option[Double]](Some(1.0), None, None, Some(2.0)),
        Seq(0, 1))).toDF("lut", "code")
      .select(GraftFunctions.pq_adc(col("lut"), col("code"))).head
    assert(!unreadSlotNull.isNullAt(0) &&
      unreadSlotNull.getDouble(0) == 3.0,
      "nulls confined to UNREAD slots must not affect the score")
  }

  test("train is deterministic and codes cover the centroid range") {
    import spark.implicits._
    val df = randVecs(500, 16, 21).toDF("id", "vec")
    val cb1 = Pq.train(df, "id", "vec", m = 4, k = 4, sampleN = 300)
    val cb2 = Pq.train(df, "id", "vec", m = 4, k = 4, sampleN = 300)
    assert(cb1 == cb2)
    assert(cb1.dsub == 4 && cb1.dim == 16)
    val codes = Pq.encode(df, "vec", cb1)
      .select(explode(col("pq_code"))).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(codes.subsetOf((0 until 4).toSet) && codes.size > 1)
  }

  test("searchBatch top-k matches a driver-side ADC brute force") {
    import spark.implicits._
    val m = 4; val k = 8; val dim = 16
    val vecs = randVecs(300, dim, 33)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m, k, sampleN = 300)
    val codes = Pq.encode(df, "vec", cb).select(col("id"), col("pq_code"))
    val queries = vecs.take(3).toDF("id", "vec")
    val got = Pq.searchBatch(queries, "id", "vec", codes, "id", cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val codeMap = vecs.map { case (i, v) =>
      i -> refEncode(v, cb.flat, cb.m, cb.k)
    }.toMap
    vecs.take(3).foreach { case (qid, qv) =>
      val want = vecs.filter(_._1 != qid).map { case (i, _) =>
        (i, BigDecimal(refAdc(qv, codeMap(i), cb.flat, cb.m, cb.k))
          .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (i, d) => (d, i) }.take(5)
      assert(got(qid).sortBy { case (i, d) => (d, i) } == want,
        s"query $qid")
    }
  }

  test("ivfPqSearchBatch == searchBatch restricted to probed cells; " +
    "refined with a corpus-wide factor == exact knn") {
    import spark.implicits._
    val dim = 16
    // id 400 is a zero vector: its cosine to any query is 0/0, so the
    // refine must drop it, never rank it first
    val vecs = randVecs(400, dim, 55) :+ ((400L, Seq.fill(dim)(0.0)))
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 4, k = 8, sampleN = 400)
    val cents = Centroids(vecs.take(6).map { case (i, v) => (i, v) }
      .toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq").toFile.getAbsolutePath
    val vecDir = TestDirs.tmp("ivfpq_vecs").toFile.getAbsolutePath
    Pq.ivfPqIndexWritePair(df, "id", "vec", cents, cb,
      dir, vecDir)
    val index = spark.read.parquet(dir)
    assert(index.columns.toSet == Set("id", "pq_code", "cell", "_params"))
    val queries = vecs.take(2).toDF("id", "vec")
    val got = Pq.ivfPqSearchBatch(queries, "id", "vec", index, "id",
      cents, cb, k = 5, nProbe = 6) // all cells probed
      .select(col("qid"), col("id"), col("adc_dist")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val codes = Pq.encode(df, "vec", cb).select(col("id"), col("pq_code"))
    val want = Pq.searchBatch(queries, "id", "vec", codes, "id", cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(got == want) // every cell probed ⇒ identical to brute ADC
    // refine over the whole candidate set ⇒ exact cosine knn (the
    // fetch runs against the pair build's cell-partitioned vector tree)
    val refined = Pq.ivfPqSearchRefined(queries, "id", "vec", index,
      spark.read.parquet(vecDir), "id", "vec", cents,
      cb, k = 3, nProbe = 6, refineFactor = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    vecs.take(2).foreach { case (qid, qv) =>
      val want = vecs.filter(t => t._1 != qid && !cos(qv, t._2).isNaN)
        .map { case (i, v) =>
          (i, BigDecimal(cos(qv, v))
            .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.sortBy { case (i, c) => (-c, i) }.take(3)
      assert(refined(qid).sortBy { case (i, c) => (-c, i) } == want,
        s"refined query $qid")
    }
  }

  test("PQ rank stages are window-free through the bounded aggregates " +
    "(k=1 min_by, k<=MaxK topk) and fall back to the window past MaxK; " +
    "the ip-metric aggregate path matches the window path") {
    import spark.implicits._
    val dim = 16
    val vecs = randVecs(400, dim, 77)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 4, k = 8, sampleN = 400)
    val cents = Centroids(vecs.take(4).toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_plan").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    val index = spark.read.parquet(dir)
    val vecDir = TestDirs.tmp("ivfpq_plan_v").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(df, "id", "vec", cents, vecDir)
    val queries = vecs.take(3).toDF("id", "vec")
    def probe(k: Int, metric: String = "l2") =
      Pq.ivfPqSearchBatch(queries, "id", "vec", index, "id",
        cents, cb, k = k, nProbe = 2, metric = metric)
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val p1 = planOf(probe(1))
    assert(!p1.contains("Window") && p1.toLowerCase.contains("min_by"),
      s"k=1 should rank through min_by, not a window:\n${p1.take(1200)}")
    val p5 = planOf(probe(5))
    assert(!p5.contains("Window") &&
      p5.toLowerCase.contains("topkbyscore"),
      s"k=5 should rank through TopKByScore:\n${p5.take(1200)}")
    assert(planOf(probe(graft.functions.TopKByScore.MaxK + 1))
      .contains("Window"), "k past MaxK should keep the rank window")
    val pRefined = planOf(Pq.ivfPqSearchRefined(queries, "id", "vec", index,
      spark.read.parquet(vecDir), "id", "vec", cents, cb, k = 5,
      nProbe = 2))
    assert(!pRefined.contains("Window") &&
      pRefined.toLowerCase.contains("topkbyscore"),
      s"refine k=5 should rank through TopKByScore:\n${pRefined.take(1200)}")
    val codes = Pq.encode(df, "vec", cb).select(col("id"), col("pq_code"))
    val pBrute = planOf(Pq.searchBatch(queries, "id", "vec", codes,
      "id", cb, k = 5))
    assert(!pBrute.contains("Window"),
      "brute searchBatch k=5 should rank through TopKByScore")
    // ip metric: the aggregate's goodness is the raw score (no
    // negation round-trip) — its top-5 must equal the window path's
    // first 5 ranks (forced by k past MaxK, then trimmed per query)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val ipAgg = Pq.searchBatch(queries, "id", "vec", codes, "id", cb,
      k = 5, metric = "ip").select("qid", "id", "adc_ip")
      .collect().map(key).sorted.toSeq
    val ipWin = Pq.searchBatch(queries, "id", "vec", codes, "id", cb,
      k = graft.functions.TopKByScore.MaxK + 1, metric = "ip")
      .select("qid", "id", "adc_ip").collect()
      .map(key).groupBy(_._1).view.mapValues(
        _.sortBy(t => (-t._3, t._2)).take(5)).values.flatten
      .toSeq.sorted
    assert(ipAgg == ipWin,
      "ip-metric aggregate top-5 diverged from the window ranking")
  }

  test("SDC rank stage is window-free through the bounded aggregates " +
    "(k=1 min_by, k<=MaxK topk), falls back to the window past MaxK, " +
    "and the three paths agree on the (sdc_dist asc, id asc) ranks") {
    import spark.implicits._
    val dim = 16
    val vecs = randVecs(400, dim, 78)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 4, k = 8, sampleN = 400)
    val cents = Centroids(vecs.take(4).toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_sdc_plan").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    val index = spark.read.parquet(dir)
    val queries = vecs.take(3).toDF("id", "vec")
    def probe(k: Int) =
      Pq.ivfPqSearchBatchSdc(queries, "id", "vec", index, "id",
        cents, cb, k = k, nProbe = 2)
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val p1 = planOf(probe(1))
    assert(!p1.contains("Window") && p1.toLowerCase.contains("min_by"),
      s"k=1 should rank through min_by, not a window:\n${p1.take(1200)}")
    val p5 = planOf(probe(5))
    assert(!p5.contains("Window") &&
      p5.toLowerCase.contains("topkbyscore"),
      s"k=5 should rank through TopKByScore:\n${p5.take(1200)}")
    val win = probe(graft.functions.TopKByScore.MaxK + 1)
    assert(planOf(win).contains("Window"),
      "k past MaxK should keep the rank window")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "id", "cell", "sdc_dist").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.get(2).asInstanceOf[Number].longValue, r.getDouble(3)))
    // quantized distances tie often, so the id tie-break is exercised
    val ranked = rows(win).groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._4, t._2)).toSeq).toMap
    def firstRanks(n: Int) =
      ranked.values.flatMap(_.take(n)).toSeq.sorted
    assert(rows(probe(5)).toSeq.sorted == firstRanks(5),
      "SDC aggregate top-5 diverged from the window ranking")
    assert(rows(probe(1)).toSeq.sorted == firstRanks(1),
      "SDC min_by top-1 diverged from the window ranking")
    assert(ranked.values.exists(r => r.size > 5 &&
      r.sliding(2).exists(p => p(0)._4 == p(1)._4)),
      "fixture has no tied distances — the tie-break is untested")
  }

  test("semanticDedupFlagsPq: a planted near-copy is dropped, a far " +
    "vector kept, and flags agree with the k=1 ADC probe") {
    import spark.implicits._
    val dim = 16
    val corpus = randVecs(300, dim, 91)
    val df = corpus.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 4, k = 8, sampleN = 300)
    val cents = Centroids(corpus.take(4).toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_dedup").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    val index = spark.read.parquet(dir)
    // 900: vector 7 + tiny noise — its best ADC distance is the
    // quantization floor; 901: the same vector scaled −10× — its best
    // ADC distance is two orders of magnitude above that floor. tau
    // derives from the observed probe (the midpoint), so the test pins
    // the FLAG MECHANICS (threshold split, left-join shape, neighbor
    // pass-through) without hardcoding a quantization-error magnitude;
    // the absolute-score correctness lives in the kernel specs and the
    // q133 oracle.
    val near = corpus(7)._2.map(_ + 1e-4)
    val far = corpus(7)._2.map(x => -10.0 * x)
    val batch = Seq((900L, near), (901L, far)).toDF("id", "vec")
    val probed = Pq.ivfPqSearchBatch(batch, "id", "vec", index, "id",
      cents, cb, k = 1, nProbe = 4, excludeSelf = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    val (dNear, dFar) = (probed(900L)._2, probed(901L)._2)
    assert(dNear < dFar,
      s"fixture broken: near $dNear not below far $dFar")
    val tau = (dNear + dFar) / 2
    val flags = Pq.semanticDedupFlagsPq(batch, "id", "vec", index, "id",
      cents, cb, tauDist = tau, nProbe = 4,
      excludeSelf = false)
      .orderBy("id").collect()
    assert(flags.length == 2)
    assert(flags(0).getLong(0) == 900L &&
      flags(0).getLong(1) == probed(900L)._1 &&
      flags(0).getDouble(2) == dNear && !flags(0).getBoolean(3),
      s"near-copy should carry the probe's neighbor and drop: ${flags(0)}")
    assert(flags(1).getLong(0) == 901L && flags(1).getBoolean(3),
      s"far vector should be kept: ${flags(1)}")
  }

  test("an append-built IVF-PQ layout answers identically to a " +
    "single-shot build; compactCells applies unchanged") {
    import spark.implicits._
    val vecs = randVecs(300, 16, 101)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 4, k = 8, sampleN = 300)
    val cents = Centroids(vecs.take(4).toDF("cid", "cvec"), "cid", "cvec")
    val full = TestDirs.tmp("ivfpq_full").toFile.getAbsolutePath
    val inc = TestDirs.tmp("ivfpq_inc").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, full)
    Pq.ivfPqIndexWrite(vecs.filter(_._1 % 5 != 0).toDF("id", "vec"),
      "id", "vec", cents, cb, inc)
    for (b <- Seq(0L)) // the held-out 20% appended in one micro-batch
      Pq.ivfPqIndexAppend(vecs.filter(_._1 % 5 == b).toDF("id", "vec"),
        "id", "vec", inc, cents, cb)
    val queries = vecs.take(2).toDF("id", "vec")
    def answers(dir: String): Seq[(Long, Long, Double)] =
      Pq.ivfPqSearchBatch(queries, "id", "vec",
        spark.read.parquet(dir), "id", cents, cb,
        k = 5, nProbe = 4)
        .select(col("qid"), col("id"), col("adc_dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    assert(answers(inc) == answers(full))
    // fragment with more micro-batches, compact, re-check + file gate
    for (b <- 1L to 4L)
      Pq.ivfPqIndexAppend(vecs.filter(_._1 % 5 == b).toDF("id", "vec")
        .withColumn("id", col("id") + 1000L), // fresh ids, same vectors
        "id", "vec", inc, cents, cb)
    val before = answers(inc)
    val compacted = Similarity.compactCells(spark, inc, maxFilesPerCell = 1)
    assert(compacted.nonEmpty, "append loop produced no fragmentation")
    assert(answers(inc) == before, "compaction changed probe results")
    val fileCounts = new java.io.File(inc).listFiles()
      .filter(_.getName.startsWith("cell="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(fileCounts.forall(_ == 1), s"cells not compacted: ${fileCounts.toSeq}")
  }

  test("an append under a different PQ codebook is refused before " +
    "any write") {
    import spark.implicits._
    val vecs = randVecs(80, 8, 113)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 2, k = 4, sampleN = 80)
    val cents = Centroids(vecs.take(2).toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_app_stale").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    val rowsBefore = spark.read.parquet(dir).count()
    val other = Pq.Codebook(cb.flat.map(_ + 0.25), cb.m, cb.k)
    val e = intercept[IllegalStateException] {
      Pq.ivfPqIndexAppend(vecs.take(5).toDF("id", "vec"), "id", "vec",
        dir, cents, other)
    }
    assert(e.getMessage.contains("different codebook"))
    assert(spark.read.parquet(dir).count() == rowsBefore,
      "refused append still wrote rows")
  }

  test("a probe under a different PQ codebook is refused") {
    import spark.implicits._
    val vecs = randVecs(60, 8, 77)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 2, k = 4, sampleN = 60)
    val cents = Centroids(vecs.take(2).toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_stale").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    val other = Pq.Codebook(cb.flat.map(_ + 0.5), cb.m, cb.k)
    val e = intercept[IllegalStateException] {
      Pq.ivfPqSearchBatch(vecs.take(1).toDF("id", "vec"), "id", "vec",
        spark.read.parquet(dir), "id", cents, other,
        k = 3, nProbe = 2).collect()
    }
    assert(e.getMessage.contains("different codebook"))
  }

  test("ivfPqSearchBatchChunked == single-shot probe at any chunking " +
    "(the documented batch-size-bound escape)") {
    import spark.implicits._
    val vecs = randVecs(200, 16, 131)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 4, k = 8, sampleN = 200)
    val cents = Centroids(vecs.take(5).toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_chunk").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    val index = spark.read.parquet(dir)
    val queries = vecs.take(5).toDF("id", "vec")
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.select(col("qid"), col("id"), col("adc_dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val single = rowsOf(Pq.ivfPqSearchBatch(queries, "id", "vec",
      index, "id", cents, cb, k = 4, nProbe = 3))
    // maxLutBatch=1 is the extreme split: every query its own probe job
    for (chunk <- Seq(1, 2, 100))
      assert(rowsOf(Pq.ivfPqSearchBatchChunked(queries, "id", "vec",
        index, "id", cents, cb, k = 4, nProbe = 3,
        maxLutBatch = chunk)) == single, s"maxLutBatch=$chunk diverged")
    // and the SDC escape holds the same parity against ITS single-shot
    def sdcRowsOf(d: org.apache.spark.sql.DataFrame) =
      d.select(col("qid"), col("id"), col("sdc_dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val sdcSingle = sdcRowsOf(Pq.ivfPqSearchBatchSdc(queries, "id", "vec",
      index, "id", cents, cb, k = 4, nProbe = 3))
    for (chunk <- Seq(1, 2, 100))
      assert(sdcRowsOf(Pq.ivfPqSearchBatchSdcChunked(queries, "id", "vec",
        index, "id", cents, cb, k = 4, nProbe = 3,
        maxCodeBatch = chunk)) == sdcSingle,
        s"maxCodeBatch=$chunk diverged")
    // hierarchical probe-cell selection, all groups probed (the exact
    // shape), must be result-identical on BOTH PQ probes too
    assert(rowsOf(Pq.ivfPqSearchBatch(queries, "id", "vec",
      index, "id", cents, cb, k = 4, nProbe = 3,
      superCells = 2, superProbe = 2)) == single,
      "hier-probe ADC diverged from flat")
    assert(sdcRowsOf(Pq.ivfPqSearchBatchSdc(queries, "id", "vec",
      index, "id", cents, cb, k = 4, nProbe = 3,
      superCells = 2, superProbe = 2)) == sdcSingle,
      "hier-probe SDC diverged from flat")
  }

  test("calibrateTauDist: zero bias on a lossless codebook; the " +
    "calibrated tau recovers the exact regime's kept-count on a " +
    "seeded near-dup corpus") {
    import spark.implicits._
    // LOSSLESS case: a codebook that encodes both the sample vector
    // AND its documented boundary partner exactly (dsub=1, each
    // coordinate codebook = {x_i, x'_i}), so the measured boundary
    // distance has zero quantization error — tau must be the pure
    // cos→L2 map, 2 − 2·cosThreshold for a unit vector, EXACTLY.
    val cosT0 = 0.9
    val x0 = {
      val r = new scala.util.Random(55)
      val raw = Seq.fill(4)(r.nextGaussian())
      val nn = math.sqrt(raw.map(a => a * a).sum)
      raw.map(_ / nn)
    }
    val xp0 = { // the operator's documented partner construction
      val shifted = x0.last +: x0.init
      val proj = shifted.zip(x0).map { case (s, h) => s * h }.sum
      val resid = shifted.zip(x0).map { case (s, h) => s - proj * h }
      val rn = math.sqrt(resid.map(a => a * a).sum)
      val sinT0 = math.sqrt(1.0 - cosT0 * cosT0)
      x0.zip(resid.map(_ / rn)).map { case (h, u) =>
        cosT0 * h + sinT0 * u }
    }
    val cb0 = Pq.Codebook(
      (0 until 4).flatMap(j => Seq(x0(j), xp0(j))).toIndexedSeq,
      m = 4, k = 2)
    val lossless = Seq((0L, x0)).toDF("id", "vec")
    val tau0 = Pq.calibrateTauDist(lossless, "id", "vec", cb0,
      cosThreshold = cosT0, mode = "adc")
    assert(math.abs(tau0 - (2.0 - 2.0 * cosT0)) < 1e-9,
      s"lossless ADC boundary must be the pure cos→L2 map (got $tau0)")
    val tau0s = Pq.calibrateTauDist(lossless, "id", "vec", cb0,
      cosThreshold = cosT0, mode = "sdc")
    assert(math.abs(tau0s - (2.0 - 2.0 * cosT0)) < 1e-9,
      s"lossless SDC boundary must be the pure cos→L2 map (got $tau0s)")

    // SEEDED near-dup corpus (the SemIngestBench generator shape):
    // ids ≡ 9 (mod 10) are noisy copies of base (id/10)·10, everything
    // else an independent random unit vector — random unit vectors are
    // PQ's worst case, so the uncalibrated τ keeps everything
    // (measured: the bias dwarfs 2−2·cos) and only the calibrated one
    // can match the exact regime.
    val dim = 16; val n = 4000
    def unitVec(seed: Long, noiseOf: Long = -1L): Seq[Double] = {
      val r = new scala.util.Random(seed * 1000003L + 17L)
      val raw = Array.fill(dim)(r.nextGaussian())
      if (noiseOf >= 0L) {
        // σ=0.02 at dim=16 puts copies at cos ≈ 0.997 — clear of the
        // 0.95 boundary, so the agreement measures CALIBRATION quality
        // (is τ at the right level?), not straddler recall (how wide
        // the quantization spread is — SemDedupBench's study)
        val rn = new scala.util.Random(noiseOf * 999983L + 5L)
        for (j <- 0 until dim) raw(j) += 0.02 * rn.nextGaussian()
      }
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / nrm).toSeq
    }
    // half the batch rows are planted copies (drop in the exact
    // regime), half independent uniques (keep) — the fixture must
    // exercise BOTH flag branches or the kept-count agreement is vacuous
    val all = (0L until n.toLong).map { id =>
      if (id % 10 == 9 && (id / 10) % 2 == 0)
        (id, unitVec((id / 10) * 10, noiseOf = id))
      else (id, unitVec(id))
    }
    val corpus = all.filter(_._1 % 10 != 9).toDF("vec_id", "embedding")
    val batch = all.filter(_._1 % 10 == 9).toDF("vec_id", "embedding")
    val cents = Centroids(all.filter(_._1 % 100 == 0).take(16)
      .toDF("cid", "cvec"), "cid", "cvec")
    val dirV = TestDirs.tmp("calib_ivf").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(corpus, "vec_id", "embedding",
      cents, dirV)
    val cosT = 0.95
    def keptOf(flags: org.apache.spark.sql.DataFrame): Long =
      flags.filter(col("keep")).count()
    val keptExact = keptOf(Similarity.semanticDedupFlags(
      batch, "vec_id", "embedding", spark.read.parquet(dirV),
      "vec_id", "embedding", cents, tau = cosT,
      nProbe = 2))
    val nBatch = batch.count()
    assert(keptExact > 0 && keptExact < nBatch,
      s"fixture must split in the exact regime (kept $keptExact/$nBatch)")
    // two codebook granularities: the COARSE one (m=4/k=64) has a bias
    // that dwarfs τ₀ — the raw cos→L2 τ under-dedups wildly and the
    // calibrated τ lands within 5% of exact (the residual is
    // PER-VECTOR error variance, which no single τ can correct for —
    // ~9% of bases sit in the error tail past any boundary at this
    // granularity); the FINE one (m=8/k=128, 2-dim subspaces)
    // concentrates that variance and the calibrated τ recovers the
    // exact kept-count within 2% in both modes.
    def keptUnder(cbX: Pq.Codebook, dirX: String, tauD: Double,
        sdc: Boolean): Long =
      keptOf(
        if (sdc) Pq.semanticDedupFlagsPqSdc(
          batch, "vec_id", "embedding", spark.read.parquet(dirX),
          "vec_id", cents, cbX, tauDist = tauD, nProbe = 2)
        else Pq.semanticDedupFlagsPq(
          batch, "vec_id", "embedding", spark.read.parquet(dirX),
          "vec_id", cents, cbX, tauDist = tauD,
          nProbe = 2))
    val configs = Seq(("coarse", 4, 64, 0.05), ("fine", 8, 128, 0.02))
    val kept = configs.map { case (label, m, k, tolFrac) =>
      val cbX = Pq.train(corpus, "vec_id", "embedding", m = m, k = k,
        sampleN = 2000, iters = 5)
      val dirX = TestDirs.tmp(s"calib_ivfpq_$label").toFile.getAbsolutePath
      Pq.ivfPqIndexWrite(corpus, "vec_id", "embedding",
        cents, cbX, dirX)
      val tol = math.max(4L, (tolFrac * nBatch).toLong)
      val tauAdc = Pq.calibrateTauDist(corpus, "vec_id", "embedding",
        cbX, cosT, mode = "adc", sampleN = 2000)
      val keptAdc = keptUnder(cbX, dirX, tauAdc, sdc = false)
      assert(math.abs(keptAdc - keptExact) <= tol,
        s"$label ADC calibrated kept $keptAdc vs exact $keptExact " +
          s"(tol $tol)")
      val tauSdc = Pq.calibrateTauDist(corpus, "vec_id", "embedding",
        cbX, cosT, mode = "sdc", sampleN = 2000)
      val keptSdc = keptUnder(cbX, dirX, tauSdc, sdc = true)
      assert(math.abs(keptSdc - keptExact) <= tol,
        s"$label SDC calibrated kept $keptSdc vs exact $keptExact " +
          s"(tol $tol)")
      (label, cbX, dirX, tol)
    }
    // the raw (uncalibrated) τ under the coarse codebook is the
    // failure mode calibration exists for: it under-dedups far past
    // the agreement tolerance — without this pin the case is vacuous
    // (a fine-enough codebook needs no calibration at all)
    val (_, coarseCb, coarseDir, coarseTol) = kept.head
    val keptRaw = keptUnder(coarseCb, coarseDir, 2.0 - 2.0 * cosT,
      sdc = false)
    assert(keptRaw > keptExact + 4 * coarseTol,
      s"expected the raw cos→L2 tau to under-dedup far past the " +
        s"agreement tolerance (raw kept $keptRaw, exact $keptExact)")
  }

  test("ivfPqIndexWritePair clusters the code tree by cell: one part " +
    "file per cell directory, rows in id order, and the same file sizes " +
    "on a second write of the same input") {
    import spark.implicits._
    val vecs = randVecs(300, 8, 173)
    // six input partitions: each writes a file to every cell of the
    // vector tree, so a code tree read straight from it spans several
    // read tasks per cell
    val df = vecs.toDF("id", "vec").repartition(6)
    val cb = Pq.train(df, "id", "vec", m = 2, k = 4, sampleN = 300)
    val cents = Centroids(vecs.take(5).toDF("cid", "cvec"), "cid", "cvec")
    def layout(run: Int): Map[String, Seq[java.io.File]] = {
      val dir = TestDirs.tmp(s"ivfpq_layout_$run").toFile.getAbsolutePath
      val vecDir = TestDirs.tmp(s"ivfpq_layout_v_$run").toFile
        .getAbsolutePath
      Pq.ivfPqIndexWritePair(df, "id", "vec", cents, cb, dir, vecDir)
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq).toMap
    }
    val first = layout(1)
    assert(first.size === 5 && first.values.forall(_.size == 1),
      s"files per cell: ${first.view.mapValues(_.size).toMap}")
    first.values.flatten.foreach { f =>
      val ids = spark.read.parquet(f.getAbsolutePath).select(col("id"))
        .as[Long].collect().toSeq
      assert(ids === ids.sorted, s"${f.getName}: rows not in id order")
    }
    def sizes(l: Map[String, Seq[java.io.File]]) =
      l.view.mapValues(_.map(_.length)).toMap
    assert(sizes(layout(2)) === sizes(first))
  }

  test("a refine fetch against a vector tree assigned under a " +
    "different IVF codebook is refused — mis-celled vectors would " +
    "silently drop candidates") {
    import spark.implicits._
    val vecs = randVecs(100, 8, 171)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 2, k = 4, sampleN = 100)
    val cents = Centroids(vecs.take(3).toDF("cid", "cvec"), "cid", "cvec")
    val otherCents = vecs.slice(3, 6).toDF("cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_refstale").toFile.getAbsolutePath
    val vecDir = TestDirs.tmp("ivfpq_refstale_v").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    // vector tree deliberately built under a DIFFERENT codebook
    Similarity.ivfIndexWrite(df, "id", "vec",
      Centroids(otherCents, "cid", "cvec"), vecDir)
    val e = intercept[IllegalStateException] {
      Pq.ivfPqSearchRefined(vecs.take(1).toDF("id", "vec"), "id", "vec",
        spark.read.parquet(dir), spark.read.parquet(vecDir),
        "id", "vec", cents, cb, k = 3, nProbe = 2)
        .collect()
    }
    assert(e.getMessage.contains("refine vector layout"))
  }

  test("a refine pair desynced by a code-tree-only append is refused " +
    "loudly (both stamps still verify); ivfPqIndexAppendPair ingests " +
    "both trees together and matches a single-shot pair build") {
    import spark.implicits._
    val vecs = randVecs(200, 8, 191)
    val df = vecs.toDF("id", "vec")
    val cb = Pq.train(df, "id", "vec", m = 2, k = 4, sampleN = 200)
    val cents = Centroids(vecs.take(4).toDF("cid", "cvec"), "cid", "cvec")
    val (base, extra) = vecs.partition(_._1 < 150)
    val queries = vecs.take(2).toDF("id", "vec")
    def refine(dir: String, vecDir: String): Seq[(Long, Long, Double)] =
      Pq.ivfPqSearchRefined(queries, "id", "vec",
        spark.read.parquet(dir), spark.read.parquet(vecDir), "id", "vec",
        cents, cb, k = 3, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq

    val dir = TestDirs.tmp("ivfpq_pair").toFile.getAbsolutePath
    val vecDir = TestDirs.tmp("ivfpq_pair_v").toFile.getAbsolutePath
    Pq.ivfPqIndexWritePair(base.toDF("id", "vec"), "id", "vec", cents,
      cb, dir, vecDir)
    assert(refine(dir, vecDir).nonEmpty) // the synced pair probes green
    // DESYNC: append the code tree ALONE — the codebooks are unchanged
    // so both sidecar stamps still verify, but the appended rows have
    // no vectors to refine against; the pair-sync guard must refuse
    Pq.ivfPqIndexAppend(extra.toDF("id", "vec"), "id", "vec", dir,
      cents, cb)
    val e = intercept[IllegalStateException] { refine(dir, vecDir) }
    assert(e.getMessage.contains("disagree") &&
      e.getMessage.contains("code tree is ahead"), e.getMessage)
    // repair: bring the vector tree level — the pair probes green again
    Similarity.ivfIndexAppend(extra.toDF("id", "vec"), "id", "vec",
      vecDir, cents)
    val repaired = refine(dir, vecDir)

    // the paired append is the ingest path: one call, both trees, and
    // the result equals BOTH the repaired pair above and a single-shot
    // pair build over the union
    val dir2 = TestDirs.tmp("ivfpq_pair2").toFile.getAbsolutePath
    val vecDir2 = TestDirs.tmp("ivfpq_pair2_v").toFile.getAbsolutePath
    Pq.ivfPqIndexWritePair(base.toDF("id", "vec"), "id", "vec", cents,
      cb, dir2, vecDir2)
    Pq.ivfPqIndexAppendPair(extra.toDF("id", "vec"), "id", "vec",
      dir2, vecDir2, cents, cb)
    assert(refine(dir2, vecDir2) == repaired)
    val oneDir = TestDirs.tmp("ivfpq_pair_one").toFile.getAbsolutePath
    val oneVec = TestDirs.tmp("ivfpq_pair_one_v").toFile.getAbsolutePath
    Pq.ivfPqIndexWritePair(df, "id", "vec", cents, cb,
      oneDir, oneVec)
    assert(refine(oneDir, oneVec) == repaired,
      "append-built pair diverged from the single-shot pair build")

    // a paired append under a foreign PQ codebook refuses BEFORE
    // either tree is touched (no half-appended pair)
    val rowsCode = spark.read.parquet(dir2).count()
    val rowsVec = spark.read.parquet(vecDir2).count()
    val other = Pq.Codebook(cb.flat.map(_ + 0.25), cb.m, cb.k)
    val e2 = intercept[IllegalStateException] {
      Pq.ivfPqIndexAppendPair(extra.take(3).toDF("id", "vec"), "id",
        "vec", dir2, vecDir2, cents, other)
    }
    assert(e2.getMessage.contains("different codebook"))
    assert(spark.read.parquet(dir2).count() == rowsCode &&
      spark.read.parquet(vecDir2).count() == rowsVec,
      "refused pair append still wrote rows")
  }

  // ---- SDC (symmetric distance: both sides quantized)

  test("pq_sdc kernel == driver reference (table lookup over encoded " +
    "pairs), and a null element nulls the score") {
    import spark.implicits._
    val m = 2; val k = 4; val dim = 8
    val vecs = randVecs(24, dim, 211)
    val cb = Pq.train(vecs.toDF("id", "vec"), "id", "vec", m, k,
      sampleN = 24)
    val table = Pq.sdcTable(cb)
    // reference: SDC(q, x) = Σ_j table[(j·k + enc(q)_j)·k + enc(x)_j]
    def refSdc(q: Seq[Double], x: Seq[Double]): Double = {
      val (qc, xc) = (refEncode(q, cb.flat, m, k),
        refEncode(x, cb.flat, m, k))
      (0 until m).map(j => table((j * k + qc(j)) * k + xc(j))).sum
    }
    val pairs = for (a <- vecs.take(6); b <- vecs.take(6)) yield (a, b)
    val got = pairs.map { case ((_, qa), (_, xb)) => (qa, xb) }
      .toDF("q", "x")
      .select(GraftFunctions.pq_sdc(
        GraftFunctions.pq_encode(col("q"), typedLit(cb.flat), m, k),
        GraftFunctions.pq_encode(col("x"), typedLit(cb.flat), m, k),
        table, k)
        .as("d"))
      .collect().map(_.getDouble(0))
    val want = pairs.map { case ((_, qa), (_, xb)) => refSdc(qa, xb) }
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) < 1e-12, s"pair $i: kernel $g != ref $w")
    }
    // SDC table symmetry + zero diagonal (a sanity the layout math
    // must preserve)
    for (j <- 0 until m; a <- 0 until k; b <- 0 until k) {
      assert(math.abs(table((j * k + a) * k + b) -
        table((j * k + b) * k + a)) < 1e-12)
      if (a == b) assert(table((j * k + a) * k + b) == 0.0)
    }
    // null element in either code → null score (corrupt row is not a
    // rankable result)
    val nullRow = Seq((
      Seq[Option[Double]](Some(1.0), None, Some(0.0), Some(0.0),
        Some(0.0), Some(0.0), Some(0.0), Some(0.0)),
      vecs.head._2))
      .toDF("q", "x")
      .select(GraftFunctions.pq_sdc(
        GraftFunctions.pq_encode(col("q"), typedLit(cb.flat), m, k),
        GraftFunctions.pq_encode(col("x"), typedLit(cb.flat), m, k),
        table, k)
        .as("d"))
      .collect()(0)
    assert(nullRow.isNullAt(0), "corrupt query must score null")
  }

  test("ivfPqSearchBatchSdc == ivfPqSearchBatch == exact squared " +
    "distance on a LOSSLESS codebook (every half a sub-centroid): the " +
    "difference between the two probes IS the quantization, not the " +
    "plumbing") {
    import spark.implicits._
    // 8 vectors in 4-dim whose halves enumerate 8 distinct values per
    // subspace — k=8 sub-centroids hold them exactly, so encode is
    // lossless and ADC == SDC == exact
    val halves = (0 until 8).map(i => Seq(i * 1.0, (7 - i) * 0.5))
    val vecs: Seq[(Long, Seq[Double])] = (0L until 8L).map(i =>
      (i, halves(i.toInt) ++ halves(7 - i.toInt)))
    val cb = Pq.Codebook(
      (halves.flatten ++ halves.flatten).toIndexedSeq, m = 2, k = 8)
    val cents = Centroids(Seq((0L, vecs(0)._2), (1L, vecs(7)._2))
      .toDF("cid", "cvec"), "cid", "cvec")
    val dir = TestDirs.tmp("ivfpq_sdc").toFile.getAbsolutePath
    val df = vecs.toDF("id", "vec")
    Pq.ivfPqIndexWrite(df, "id", "vec", cents, cb, dir)
    val index = spark.read.parquet(dir)
    val queries = vecs.take(3).toDF("id", "vec")
    def rowsOf(d: org.apache.spark.sql.DataFrame, score: String) =
      d.select(col("qid"), col("id"), col(score))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
    val adc = rowsOf(Pq.ivfPqSearchBatch(queries, "id", "vec", index,
      "id", cents, cb, k = 4, nProbe = 2), "adc_dist")
    val sdc = rowsOf(Pq.ivfPqSearchBatchSdc(queries, "id", "vec", index,
      "id", cents, cb, k = 4, nProbe = 2), "sdc_dist")
    assert(sdc === adc,
      "SDC diverged from ADC on a lossless codebook")
    // both equal the exact squared distance
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    sdc.foreach { case (q, i, d) =>
      assert(math.abs(d - sq(vecs(q.toInt)._2, vecs(i.toInt)._2)) < 1e-9,
        s"($q, $i): $d != exact")
    }
    // the dedup wrapper agrees with the ADC one on flags
    val batch = vecs.slice(3, 6).map { case (i, v) => (i + 100L, v) }
      .toDF("id", "vec")
    def flagsOf(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), col("neighbor_id"), col("keep"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val fAdc = flagsOf(Pq.semanticDedupFlagsPq(batch, "id", "vec",
      index, "id", cents, cb, tauDist = 3.0, nProbe = 2,
      excludeSelf = false))
    val fSdc = flagsOf(Pq.semanticDedupFlagsPqSdc(batch, "id", "vec",
      index, "id", cents, cb, tauDist = 3.0, nProbe = 2,
      excludeSelf = false))
    assert(fSdc === fAdc,
      "SDC dedup flags diverged from ADC on a lossless codebook")
    // and the hybrid equals both here (lossless: refinement can never
    // disagree with the cheap pass), at any band
    for (band <- Seq(0.0, 1.0, 100.0)) {
      val fHyb = flagsOf(Pq.semanticDedupFlagsPqHybrid(batch, "id",
        "vec", index, "id", cents, cb, tauSdc = 3.0,
        tauAdc = 3.0, band = band, refineK = 4, nProbe = 2,
        excludeSelf = false))
      assert(fHyb === fAdc,
        s"hybrid flags diverged on a lossless codebook at band=$band")
    }
  }

  test("semanticDedupFlagsPqHybrid degenerates algebraically: band=0 " +
    "== pure SDC, band=inf with refineK >= candidates == pure ADC; on " +
    "a straddler-heavy corpus the hybrid recovers the ADC verdicts at " +
    "SDC neighbor attribution") {
    import spark.implicits._
    val dim = 16; val n = 2000
    def unitVec(seed: Long, noiseOf: Long = -1L): Seq[Double] = {
      val r = new scala.util.Random(seed * 1000003L + 17L)
      val raw = Array.fill(dim)(r.nextGaussian())
      if (noiseOf >= 0L) {
        // σ=0.05: copies at cos ≈ 0.98, NEAR the 0.95 boundary — the
        // straddler regime the hybrid exists for
        val rn = new scala.util.Random(noiseOf * 999983L + 5L)
        for (j <- 0 until dim) raw(j) += 0.05 * rn.nextGaussian()
      }
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / nrm).toSeq
    }
    val all = (0L until n.toLong).map { id =>
      if (id % 10 == 9 && (id / 10) % 2 == 0)
        (id, unitVec((id / 10) * 10, noiseOf = id))
      else (id, unitVec(id))
    }
    val corpus = all.filter(_._1 % 10 != 9).toDF("vec_id", "embedding")
    val batch = all.filter(_._1 % 10 == 9).toDF("vec_id", "embedding")
    val cents = Centroids(all.filter(_._1 % 100 == 0).take(8)
      .toDF("cid", "cvec"), "cid", "cvec")
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 4, k = 32,
      sampleN = 1800, iters = 5)
    val dir = TestDirs.tmp("hybrid_ivfpq").toFile.getAbsolutePath
    Pq.ivfPqIndexWrite(corpus, "vec_id", "embedding",
      cents, cb, dir)
    val index = spark.read.parquet(dir)
    val cosT = 0.95
    val tauS = Pq.calibrateTauDist(corpus, "vec_id", "embedding", cb,
      cosT, mode = "sdc", sampleN = 1800)
    val tauA = Pq.calibrateTauDist(corpus, "vec_id", "embedding", cb,
      cosT, mode = "adc", sampleN = 1800)
    def keeps(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id"), col("keep"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    def hybrid(band: Double, refineK: Int = 4) =
      keeps(Pq.semanticDedupFlagsPqHybrid(batch, "vec_id", "embedding",
        index, "vec_id", cents, cb, tauSdc = tauS,
        tauAdc = tauA, band = band, refineK = refineK, nProbe = 2))
    val pureSdc = keeps(Pq.semanticDedupFlagsPqSdc(batch, "vec_id",
      "embedding", index, "vec_id", cents, cb,
      tauDist = tauS, nProbe = 2))
    val pureAdc = keeps(Pq.semanticDedupFlagsPq(batch, "vec_id",
      "embedding", index, "vec_id", cents, cb,
      tauDist = tauA, nProbe = 2))
    // band = 0: no query straddles exactly — pure SDC verdicts
    assert(hybrid(0.0) === pureSdc, "band=0 must be pure SDC")
    // band = ∞ with refineK covering every candidate: the min-ADC over
    // ALL SDC candidates IS ADC's top-1, so the verdicts are pure ADC
    assert(hybrid(1e9, refineK = 100000) === pureAdc,
      "band=inf + full refineK must be pure ADC")
    // at a working band, the hybrid must move from SDC toward ADC:
    // every query it flips, it flips TO the ADC verdict
    val hyb = hybrid(0.3)
    val flipped = hyb.filter { case (id, k) => pureSdc(id) != k }
    assert(flipped.nonEmpty,
      "fixture produced no straddlers — the hybrid case is vacuous")
    flipped.foreach { case (id, k) =>
      assert(k === pureAdc(id),
        s"query $id flipped away from the ADC verdict")
    }
  }

  test("SDC and hybrid dedup flags: the driver finish (default broadcast " +
    "budget) and the distributed plan (threshold -1) give identical rows " +
    "and schema over seeded fixtures and degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    import TestConf.withBroadcastThreshold
    val dim = 8
    def unit(raw: Array[Double]): Seq[Double] = {
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n).toSeq
    }
    // flag rows (sorted), schema, and whether the driver finish answered
    def flagsIn(regime: Option[String])(f: => DataFrame)
    : (Seq[Seq[Any]], StructType, Boolean) = {
      def read = {
        val df = f
        (df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")),
          df.schema, df.queryExecution.analyzed.collectLeaves()
            .forall(_.isInstanceOf[LocalRelation]))
      }
      regime.fold(read)(withBroadcastThreshold(_)(read))
    }
    // returns the driver regime's rows so callers can check coverage
    def parity(what: String, driverFinish: Boolean)(f: => DataFrame)
    : Seq[Seq[Any]] = {
      val (dRows, dSchema, dLocal) = flagsIn(None)(f)
      val (xRows, xSchema, xLocal) = flagsIn(Some("-1"))(f)
      assert(dLocal === driverFinish, s"$what: driver finish taken")
      assert(!xLocal, s"$what: threshold -1 must run the distributed plan")
      assert(dSchema === xSchema, s"$what: schema")
      assert(dRows === xRows, s"$what: rows")
      dRows
    }
    for (seed <- Seq(11, 12)) {
      val rnd = new scala.util.Random(seed)
      val corpusRows = (0L until 240L).map(i =>
        (i, unit(Array.fill(dim)(rnd.nextGaussian()))))
      // near copies at spread noise levels (some keep, some drop, some
      // straddle); half reuse their source's id so excludeSelf matters
      val sources = rnd.shuffle(corpusRows).take(40)
      val batchRows = sources.indices.map { i =>
        val (src, v) = sources(i)
        val sigma = Seq(0.02, 0.08, 0.15, 0.3)(i % 4)
        (if (i % 2 == 0) src else 1000L + i,
          unit(v.map(_ + sigma * rnd.nextGaussian()).toArray))
      } ++ (0 until 8).map(i =>
        (2000L + i, unit(Array.fill(dim)(rnd.nextGaussian()))))
      val corpus = corpusRows.toDF("id", "vec")
      val batch = batchRows.toDF("id", "vec")
      val cents = Centroids(corpusRows.take(6).toDF("cid", "cvec"),
        "cid", "cvec")
      val cb = Pq.train(corpus, "id", "vec", m = 4, k = 16, iters = 4)
      val dir = TestDirs.tmp(s"pq_parity_$seed").toFile.getAbsolutePath
      Pq.ivfPqIndexWrite(corpus, "id", "vec", cents, cb, dir)
      val index = spark.read.parquet(dir)
      val (tauA, tauS) = Pq.calibrateTauDistBoth(corpus, "id", "vec", cb,
        cosThreshold = 0.95)
      def hybrid(b: DataFrame, idx: DataFrame, band: Double, refineK: Int,
          nProbe: Int, excludeSelf: Boolean) =
        Pq.semanticDedupFlagsPqHybrid(b, "id", "vec", idx, "id", cents,
          cb, tauSdc = tauS, tauAdc = tauA, band = band, refineK = refineK,
          nProbe = nProbe, excludeSelf = excludeSelf)
      def sdc(b: DataFrame, idx: DataFrame, nProbe: Int,
          excludeSelf: Boolean) =
        Pq.semanticDedupFlagsPqSdc(b, "id", "vec", idx, "id", cents, cb,
          tauDist = tauS, nProbe = nProbe, excludeSelf = excludeSelf)
      // every value of every parameter, each in two combinations
      val seen = Seq((true, 0.0, 1, 1), (false, 0.3, 4, 2),
        (true, 1e9, 4, 3), (false, 1e9, 1, 2), (true, 0.3, 1, 2),
        (false, 0.0, 4, 3)).flatMap { case (ex, band, rk, np) =>
        parity(s"seed $seed hybrid excludeSelf=$ex band=$band " +
          s"refineK=$rk nProbe=$np", driverFinish = true)(
          hybrid(batch, index, band, rk, np, ex))
      } ++ Seq((true, 1), (false, 2), (true, 3)).flatMap { case (ex, np) =>
        parity(s"seed $seed sdc excludeSelf=$ex nProbe=$np",
          driverFinish = true)(sdc(batch, index, np, ex))
      }
      assert(seen.map(_(3)).toSet === Set(true, false),
        s"seed $seed: the sweep must both keep and drop")

      // degenerate inputs, each through both ops (first seed only)
      if (seed == 11) {
        def both(what: String, b: DataFrame, idx: DataFrame = index,
            driverFinish: Boolean = true): Unit = {
          parity(s"seed $seed $what hybrid", driverFinish)(
            hybrid(b, idx, 0.3, 4, 2, excludeSelf = true))
          parity(s"seed $seed $what sdc", driverFinish)(
            sdc(b, idx, 2, excludeSelf = true))
        }
        val nullable = StructType(Seq(StructField("id", LongType),
          StructField("vec", ArrayType(DoubleType, containsNull = true))))
        val withNulls = spark.createDataFrame(java.util.Arrays.asList(
          Row(5000L, null),
          Row(5001L, Seq[Any](0.5, null, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5)),
          Row(batchRows(0)._1, batchRows(0)._2),
          Row(batchRows(1)._1, batchRows(1)._2)), nullable)
        both("null vector and null element", withNulls)
        both("duplicate id", batchRows.take(5).toDF("id", "vec")
          .union(batchRows.take(1).toDF("id", "vec")), driverFinish = false)
        both("empty batch", batchRows.take(0).toDF("id", "vec"))
        both("int batch ids", batch.select(col("id").cast("int").as("id"),
          col("vec")))
        // an index holding only cells 0-2: probes of cells 3-5 find no rows
        val sparseDir = TestDirs.tmp(s"pq_parity_sparse_$seed").toFile
          .getAbsolutePath
        Pq.ivfPqIndexWrite(Similarity.ivfAssign(corpus, "id", "vec", cents)
          .filter(col("cell") < 3).select(col("id"), col("vec")),
          "id", "vec", cents, cb, sparseDir)
        both("probed cells without prior rows", batch,
          spark.read.parquet(sparseDir))
      }
    }
  }

  test("SDC and hybrid dedup flags: a batch and probed slice within the " +
    "byte budget but past the pair cap run the distributed plan, with " +
    "the same rows") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import TestConf.withBroadcastThreshold
    val dim = 8
    val rnd = new scala.util.Random(21)
    def unit(): Seq[Double] = {
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n).toSeq
    }
    val corpusRows = (0L until 400L).map(i => (i, unit()))
    val corpus = corpusRows.toDF("id", "vec")
    val batch = (0 until 40).map(i => (1000L + i, unit())).toDF("id", "vec")
    val cb = Pq.train(corpus, "id", "vec", m = 4, k = 16, iters = 4)
    val (tauA, tauS) = Pq.calibrateTauDistBoth(corpus, "id", "vec", cb,
      cosThreshold = 0.95)
    // 40 queries × 400 codes: 40 × (8·8+16) B of batch and 400 × (4+24) B
    // of slice fit a 12,000 B budget, the 16,000 pairs of two crowded
    // cells probed twice do not fit its pair cap
    val threshold = 12000L * Pq.BudgetBytesPerPair
    def flagsOver(nCells: Int): Seq[() => DataFrame] = {
      val cents = Centroids(corpusRows.take(nCells).toDF("cid", "cvec"),
        "cid", "cvec")
      val dir = TestDirs.tmp(s"pq_pair_cap_$nCells").toFile.getAbsolutePath
      Pq.ivfPqIndexWrite(corpus, "id", "vec", cents, cb, dir)
      val index = spark.read.parquet(dir)
      Seq(() => Pq.semanticDedupFlagsPqHybrid(batch, "id", "vec", index,
        "id", cents, cb, tauSdc = tauS, tauAdc = tauA, band = 0.3,
        refineK = 4, nProbe = 2, excludeSelf = false),
        () => Pq.semanticDedupFlagsPqSdc(batch, "id", "vec", index, "id",
          cents, cb, tauDist = tauS, nProbe = 2, excludeSelf = false))
    }
    def answer(regime: String, f: () => DataFrame) =
      withBroadcastThreshold(regime) {
        val df = f()
        (df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")),
          df.queryExecution.analyzed.collectLeaves()
            .forall(_.isInstanceOf[LocalRelation]))
      }
    for ((nCells, driverFinish) <- Seq((2, false), (40, true));
         f <- flagsOver(nCells)) {
      val (rows, local) = answer(threshold.toString, f)
      assert(local === driverFinish,
        s"$nCells cells: driver finish taken under the $threshold B budget")
      assert(rows === answer("-1", f)._1, s"$nCells cells: rows")
      assert(rows.size === 40)
    }
  }
}
