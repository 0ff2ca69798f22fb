package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.functions.TextFunctions

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // The 32-bit neighbor entry points are deprecated (n²/2⁹ candidate
  // growth — use simhashNeighbors64*) but stay covered: these
  // forwarders scope the deprecation suppression to exactly the specs
  // that exist to pin the compat form's behavior.
  @scala.annotation.nowarn("cat=deprecation")
  private def neighbors32(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, maxHamming: Int) =
    Dedup.simhashNeighbors(df, textCol, idCol, maxHamming)

  @scala.annotation.nowarn("cat=deprecation")
  private def neighbors32Over(df: org.apache.spark.sql.DataFrame,
      tokensExpr: org.apache.spark.sql.Column, idCol: String,
      nBits: Int = 32, maxHamming: Int = 2, maxBucket: Int = 4096) =
    Dedup.simhashNeighborsOver(df, tokensExpr, idCol, nBits = nBits,
      maxHamming = maxHamming, maxBucket = maxBucket)

  // The connected-components loops finish on the driver when the edge
  // list fits the broadcast budget; threshold -1 pins the distributed
  // rounds the loop-shape specs below are about.
  import TestConf.withBroadcastThreshold

  test("minhash: identical token sets collide regardless of order/dups") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "fox brown quick the"),          // permutation → same set
      (3L, "the the quick brown fox fox"),  // duplicates → same set
      (4L, "a completely different text")).toDF("doc_id", "text")
    val sigs = Dedup.minhashAgg(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    assert(sigs(1L) == sigs(2L) && sigs(2L) == sigs(3L))
    assert(sigs(1L) != sigs(4L))
    val groups = Dedup.minhashDupGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("group_size") == 3)
    assert(groups.head.getAs[Long]("keeper") == 1L)
  }

  test("minhash plan is shuffle-free scan-projection") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Dedup.minhashAgg(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("simhash: near-identical token sets yield close codes") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extraone"),
      (3L, (1 to 40).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val codes = Dedup.simhash16(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def hamming(a: String, b: String) =
      a.zip(b).count { case (x, y) => x != y }
    assert(hamming(codes(1L), codes(2L)) <= 3)
    assert(hamming(codes(1L), codes(3L)) >= 4)
  }

  test("exact dedup flags keep exactly one row per duplicate group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Same Text"), (2L, "same   text"), (3L, "unique")
    ).toDF("doc_id", "text")
    // normalization makes 1 and 2 equal (case + whitespace squeeze)
    val flags = Dedup.exactDedupFlags(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("group_size"), r.getAs[Boolean]("keep"))).toMap
    assert(flags(1L) == (2L, true))
    assert(flags(2L) == (2L, false))
    assert(flags(3L) == (1L, true))
  }

  test("jaccard: adjacent-pair token-set similarity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), (2L, "b c d e"), (3L, "x y")).toDF("doc_id", "text")
    val j = Dedup.jaccardAdjacent(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(j((1L, 2L)) == 0.6) // |{b,c,d}| / |{a,b,c,d,e}|
    assert(!j.contains((2L, 3L))) // empty intersection → inner join drops
  }

  test("quality score orders clean text above noisy text") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 60).map(i => s"word$i").mkString(" ")),
      (2L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
      (3L, "1234 5678 9012 3456")).toDF("doc_id", "text")
    val q = docs.select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > 0.9)
    assert(q(2L) < q(1L) && q(3L) < q(1L))
  }

  test("wordShingles: overlapping windows, short docs get empty sets") {
    import spark.implicits._
    val rows = Seq("a b c d", "a b", "")
      .toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty && rows(2).isEmpty)
  }

  test("shingle banding is order-sensitive where token-set banding " +
    "is not") {
    import spark.implicits._
    val words = (1 to 24).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.mkString(" ")), // identical
      (3L, words.reverse.mkString(" "))) // same token SET, reversed
      .toDF("doc_id", "text")
    val tokenPairs = Dedup.minhashBandPairs(docs, "text", "doc_id")
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 2 (byte-identical to 1) pre-collapses into 1 — exact dups are
    // exactDedupFlags' job; the reversed doc 3 still pairs on token set
    assert(tokenPairs == Set((1L, 3L)))
    // without the collapse, every pair surfaces at jaccard 1.0
    val uncollapsed = Dedup.minhashBandPairsOver(docs,
      TextFunctions.tokenSet(col("text")), "doc_id")
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncollapsed == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val shinglePairs = Dedup.minhashBandPairsOver(docs,
      TextFunctions.wordShingles(col("text"), 3), "doc_id",
      minJaccard = 0.3)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reversal destroys every 3-gram: without collapse only the true
    // duplicate pair survives
    assert(shinglePairs == Set((1L, 2L)))
  }

  test("simhashNeighbors: banded Hamming lookup finds near-identical " +
    "docs, pre-collapses exact dups, misses order-destroyed ones") {
    import spark.implicits._
    val words = (1 to 40).map(i => s"w$i")
    val nearDup = (words :+ "extra").mkString(" ") // ONE added shingle
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.mkString(" ")), // byte-identical → collapsed
      (3L, nearDup), // one extra shingle → few sign flips
      (4L, words.reverse.mkString(" "))) // reversed → distant code
      .toDF("doc_id", "text")
    val got = neighbors32(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 3L)), "near-dup pair missed")
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L),
      "exact dup not collapsed")
    assert(!got.contains((1L, 4L)), "reversed doc should be distant")
  }

  test("simhashNeighbors verify matches a brute-force Hamming scan " +
    "for all recall-guaranteed distances") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = (1 to 30).map(i => s"t$i")
    // random small perturbations → a spread of Hamming distances
    val docs = (1L to 20L).map { id =>
      val mutated = base.map(w =>
        if (rnd.nextInt(10) == 0) w + "x" + id else w)
      (id, mutated.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = graft.functions.TextFunctions.wordShingles(col("text"), 3)
    // 4 bands of 4, 6 and 8 bits: the band keys are shift+mask reads of
    // codes narrower than the 32-bit word width too
    for (nBits <- Seq(16, 24, 32)) {
      val got = neighbors32Over(docs, sh, "doc_id", nBits = nBits,
        maxHamming = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
        .toMap
      val codes = Dedup.simhashOver(docs, sh, "doc_id", nBits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val naive = (for {
        i <- codes.keys; j <- codes.keys if i < j
        d = codes(i).zip(codes(j)).count { case (a, b) => a != b }
        if d <= 3 // pigeonhole guarantee: 4 bands cover d < 4 exactly
      } yield ((i, j), d)).toMap
      assert(got == naive, s"nBits = $nBits")
    }
  }

  test("simhashNeighborsOver rejects nBits outside [1, 32] at the API " +
    "boundary (a 64-bit code would NULL out of the packed-long verify)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = graft.functions.TextFunctions.wordShingles(col("text"), 3)
    val e = intercept[IllegalArgumentException] {
      neighbors32Over(docs, sh, "doc_id", nBits = 64, maxHamming = 3)
    }
    assert(e.getMessage.contains("[1, 32]"))
    // top of the supported range still verifies exactly: a 32-bit code
    // is well under Long.MaxValue, so conv→long never overflows
    val ok = neighbors32Over(docs, sh, "doc_id", nBits = 32,
      maxHamming = 3)
    assert(ok.columns.toSeq == Seq("id1", "id2", "hamming"))
  }

  test("native minhash-sigs kernel matches the md5-conv Column " +
    "construction (random multibyte tokens, null elements, empty " +
    "arrays)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val rnd = new scala.util.Random(41)
    val alphabet = "abcXYZ שלוםαβ😀,.!"
    val rows = (1L to 40L).map { id =>
      val n = rnd.nextInt(8) // 0..7 tokens, some empty arrays
      (id, Seq.tabulate(n)(_ =>
        if (rnd.nextInt(12) == 0) null
        else Seq.fill(1 + rnd.nextInt(10))(
          alphabet(rnd.nextInt(alphabet.length))).mkString))
    }
    val df = rows.toDF("id", "t")
    val consts = graft.ops.Dedup.xorConstants(16)
    // the portable Column form the DuckDB oracles mirror
    val h = transform(col("t"),
      tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"))
    val refSigs = consts.map(c =>
      array_min(transform(h, x => x.bitwiseXOR(lit(c)))))
    val expected = df.select(col("id"), array(refSigs: _*).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Any](1))).toMap
    val got = df.select(col("id"),
      column(graft.functions.MinhashSigs(expression(col("t")), consts))
        .as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Any](1))).toMap
    // the Column array() of all-null sigs is an array of nulls; the
    // kernel reports whole-result null — both mean "no usable token"
    def norm(v: Seq[Any]): Seq[Any] =
      if (v == null || v.forall(_ == null)) null else v
    assert(expected.keySet === got.keySet)
    expected.foreach { case (id, e) =>
      assert(norm(e) === norm(got(id)), s"id $id")
    }
  }

  test("native tokenize/shingle kernels match the HOF Column specs " +
    "(multi-space runs, multibyte, short docs)") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "the quick  brown   fox the quick brown"),
      (2L, " leading and trailing  "),
      (3L, "שלום עולם שלום עולם טוב 😀"),
      (4L, "one two"), // shorter than the 3-shingle window
      (5L, "")).toDF("id", "t")
    val both = docs.select(col("id"),
      TextFunctions.tokens(col("t")).as("k_tok"),
      TextFunctions.tokensHof(col("t")).as("h_tok"),
      TextFunctions.tokenSet(col("t")).as("k_set"),
      array_distinct(TextFunctions.tokensHof(col("t"))).as("h_set"),
      TextFunctions.wordShingles(col("t"), 3).as("k_sh"),
      TextFunctions.wordShinglesHof(col("t"), 3).as("h_sh"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"tokens ${r(0)}")
      assert(r.getSeq[String](3) === r.getSeq[String](4), s"set ${r(0)}")
      assert(r.getSeq[String](5) === r.getSeq[String](6), s"shingles ${r(0)}")
    }
  }

  test("kernel/HOF parity holds on randomized text (seeded: random " +
    "space runs, multibyte, token multiplicity) for tokenize, " +
    "shingles, minhash sigs, and repetition counts") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(97)
    val vocab = Seq("a", "bb", "שלום", "αβ", "😀x", "longtokenvalue", "y")
    val docs = (1L to 120L).map { id =>
      val n = rnd.nextInt(30)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb.append(" " * rnd.nextInt(3)) // empty runs between tokens
        sb.append(vocab(rnd.nextInt(vocab.length)))
      }
      sb.append(" " * rnd.nextInt(2))
      (id, sb.toString)
    }.toDF("id", "t")
    val consts = graft.ops.Dedup.xorConstants(16)
    val h = transform(TextFunctions.tokensHof(col("t")),
      tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"))
    val rows = docs.select(col("id"),
      TextFunctions.tokens(col("t")).as("k_tok"),
      TextFunctions.tokensHof(col("t")).as("h_tok"),
      TextFunctions.wordShingles(col("t"), 3).as("k_sh"),
      TextFunctions.wordShinglesHof(col("t"), 3).as("h_sh"),
      column(graft.functions.MinhashSigs(
        expression(TextFunctions.tokens(col("t"))), consts)).as("k_mh"),
      array(consts.map(c => array_min(transform(h,
        x => x.bitwiseXOR(lit(c))))): _*).as("h_mh"),
      column(graft.functions.RepetitionCounts(expression(col("t"))))
        .as("k_rc"),
      array(size(TextFunctions.tokensHof(col("t"))).cast("long"),
        size(array_distinct(TextFunctions.tokensHof(col("t"))))
          .cast("long"),
        graft.ops.CurationOps.maxMultiplicity(
          graft.ops.CurationOps.bigramsOf(
            TextFunctions.tokensHof(col("t"))))).as("h_rc"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"tok ${r(0)}")
      assert(r.getSeq[String](3) === r.getSeq[String](4), s"sh ${r(0)}")
      val kMh = if (r.isNullAt(5)) null else r.getSeq[Long](5)
      val hMh0 = if (r.isNullAt(6)) null else r.getSeq[Any](6)
      val hMh = if (hMh0 == null || hMh0.forall(_ == null)) null else hMh0
      assert((kMh: Any) === (hMh: Any), s"mh ${r(0)}")
      assert(r.getSeq[Long](7) === r.getSeq[Long](8), s"rc ${r(0)}")
    }
  }

  test("native salted-minhash kernel matches the minhashSig Column " +
    "spec (multibyte tokens, empty docs)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "שלום עולם αβγ 😀 mixed script tokens"),
      (3L, ""),
      (4L, "one")).toDF("doc_id", "text")
    val salts = Seq("a", "b", "c", "d")
    val viaSpec = docs.select(col("doc_id") +: salts.map(s =>
      graft.ops.Dedup.minhashSig(col("text"), s).as(s"sig_$s")): _*)
      .collect().map(r => r.getLong(0) ->
        salts.indices.map(i =>
          if (r.isNullAt(i + 1)) null else r.getString(i + 1))).toMap
    val viaKernel = graft.ops.Dedup.minhashAgg(docs, "text", "doc_id",
      salts)
      .collect().map(r => r.getLong(0) ->
        salts.indices.map(i =>
          if (r.isNullAt(i + 1)) null else r.getString(i + 1))).toMap
    assert(viaSpec === viaKernel)
    assert(viaKernel(3L).forall(_ == null), "empty doc must yield nulls")
  }

  test("native simhash kernel matches the md5-hex Column construction " +
    "on multibyte text (Hebrew, niqqud, emoji)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "בְּרֵאשִׁית בָּרָא אֱלֹהִים אֵת הַשָּׁמַיִם"),
      (2L, "וְאֵת הָאָרֶץ 🌍 mixed עם ascii"),
      (3L, "שלום שלום שלום עולם"),
      (4L, "a b c d e f"))
      .toDF("doc_id", "text")
    val toks = graft.functions.TextFunctions.tokenSet(col("text"))
    val nBits = 32
    // reference construction: Spark's own md5 (UTF-8 bytes → hex) via
    // explode + per-digit sums — the arithmetic the DuckDB oracles run
    val expected = docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .withColumn("h", md5(col("tok")))
      .groupBy(col("doc_id"))
      .agg((1 to nBits).map(j =>
        sum(when(substring(col("h"), j, 1) >= "8", 1).otherwise(-1))
          .as(s"b$j")).head,
        (1 to nBits).map(j =>
          sum(when(substring(col("h"), j, 1) >= "8", 1).otherwise(-1))
            .as(s"b$j")).tail: _*)
      .select(col("doc_id"), concat((1 to nBits).map(j =>
        when(col(s"b$j") > 0, "1").otherwise("0")): _*).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Dedup.simhashOver(docs, toks, "doc_id", nBits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected)
  }

  test("simhashNeighbors hot-bucket guard: the streamed join path " +
    "returns the identical pair set") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = (1 to 30).map(i => s"t$i")
    val docs = (1L to 20L).map { id =>
      val mutated = base.map(w =>
        if (rnd.nextInt(10) == 0) w + "x" + id else w)
      (id, mutated.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = graft.functions.TextFunctions.wordShingles(col("text"), 3)
    def pairs(maxBucket: Int) =
      neighbors32Over(docs, sh, "doc_id", maxHamming = 3,
        maxBucket = maxBucket)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
        .toMap
    // maxBucket=1 forces EVERY bucket through the equi-join branch
    assert(pairs(1) == pairs(4096))
  }

  test("simhash128: 16-bit and 32-bit band layouts yield the same " +
    "H≤3 pair set (both guarantee it by pigeonhole), and the salted " +
    "second code actually differs from the first") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    // base template + per-doc mutations: some pairs land within
    // Hamming 3 of each other on the 128-bit code, most don't
    val base = (1 to 40).map(i => s"w$i")
    val docs = (1L to 30L).map { id =>
      val mutated = base.map(w =>
        if (rnd.nextInt(12) == 0) w + "m" + (id % 3) else w)
      (id, mutated.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = graft.functions.TextFunctions.wordShingles(col("text"), 3)
    def pairs(bandBits: Int) =
      Dedup.simhashNeighbors128Over(docs, sh, "doc_id",
        bandBits = bandBits, maxHamming = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
        .toMap
    val p32 = pairs(32) // 4 bands  — guarantees H ≤ 3
    val p16 = pairs(16) // 8 bands — guarantees H ≤ 7 ⊇ H ≤ 3
    assert(p32.nonEmpty, "fixture produced no near-dup pairs")
    assert(p32 == p16,
      "band layouts disagree on a pigeonhole-guaranteed pair set")
    // the salted code is an independent hash: hi ≠ lo except by chance
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val hiLo = docs.select(
      column(graft.functions.Simhash64Code(expression(sh))).as("hi"),
      column(graft.functions.Simhash64CodeSalted(expression(sh), "#2"))
        .as("lo"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hiLo.forall { case (h, l) => h != l },
      "salted simhash collapsed to the unsalted code")
    // empty salt IS the unsalted code (md5 of identical bytes)
    val same = docs.select(
      (column(graft.functions.Simhash64Code(expression(sh))) ===
        column(graft.functions.Simhash64CodeSalted(expression(sh), "")))
        .as("eq")).collect().map(_.getBoolean(0))
    assert(same.forall(identity))
  }

  test("simhashNeighbors128Over verify matches a brute-force Hamming " +
    "scan over (hi, lo), and the hot-bucket guard path returns the " +
    "identical pair set") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    // the 16-/32-bit layout test's fixture: some pairs within Hamming 3
    val rnd = new scala.util.Random(67)
    val base = (1 to 40).map(i => s"w$i")
    val docs = (1L to 30L).map { id =>
      val mutated = base.map(w =>
        if (rnd.nextInt(12) == 0) w + "m" + (id % 3) else w)
      (id, mutated.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = TextFunctions.wordShingles(col("text"), 3)
    def pairs(maxBucket: Int) =
      Dedup.simhashNeighbors128Over(docs, sh, "doc_id", maxHamming = 3,
        maxBucket = maxBucket)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
        .toMap
    val got = pairs(4096)
    val codes = docs.select(col("doc_id"),
      column(graft.functions.Simhash64Code(expression(sh))).as("hi"),
      column(graft.functions.Simhash64CodeSalted(expression(sh), "#2"))
        .as("lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val naive = (for {
      i <- codes.keys; j <- codes.keys if i < j
      d = java.lang.Long.bitCount(codes(i)._1 ^ codes(j)._1) +
        java.lang.Long.bitCount(codes(i)._2 ^ codes(j)._2)
      if d <= 3 // pigeonhole: 4 bands of 32 bits cover d < 4 exactly
    } yield ((i, j), d)).toMap
    assert(naive.nonEmpty, "fixture produced no close pairs — vacuous")
    assert(got == naive)
    // maxBucket=1 forces EVERY bucket through the equi-join branch
    assert(pairs(1) == got)
  }

  test("simhash64ComponentFlags: the fused one-scan form matches the " +
    "composed componentDedupFlags ∘ simhashNeighbors64 chain, and its " +
    "output plan reads the checkpointed narrow frame, not the source") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val composed = Dedup.componentDedupFlags(docs, "text", "doc_id",
      Dedup.simhashNeighbors64(docs, "text", "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val fused = Dedup.simhash64ComponentFlags(docs, "text", "doc_id")
    val got = fused.collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == composed, {
      val diff = (got.keySet ++ composed.keySet)
        .filter(k => got.get(k) != composed.get(k)).take(5)
      s"fused flags diverge from composed at e.g. $diff"
    })
    assert(got.values.exists(identity) && got.values.exists(!_),
      "fixture degenerate: flags all-true or all-false prove nothing")
    // one-scan proof: the returned frame's plan must contain NO file
    // source scan — both join sides flow from the eager checkpoint /
    // the components checkpoint, so the 100 TB text is read once, at
    // materialization time, not again per downstream action
    val scans = fused.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty,
      s"fused output plan re-scans the source: $scans")
  }

  test("native simhash64 kernel matches the md5-bitstream Column " +
    "construction on multibyte text (Hebrew, niqqud, emoji)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "בְּרֵאשִׁית בָּרָא אֱלֹהִים אֵת הַשָּׁמַיִם"),
      (2L, "וְאֵת הָאָרֶץ 🌍 mixed עם ascii"),
      (3L, "שלום שלום שלום עולם"),
      (4L, "a b c d e f"))
      .toDF("doc_id", "text")
    val toks = TextFunctions.tokenSet(col("text"))
    // reference construction: bit j (1-based) of the code is bit
    // 3-((j-1)%4) of md5 hex digit (j-1)/4+1 — the arithmetic the
    // DuckDB q113 oracle runs; rendered as a 64-char bit string to
    // keep the comparison free of long-packing arithmetic
    def nib(h: org.apache.spark.sql.Column, q: Int) =
      conv(substring(h, q, 1), 16, 10).cast("int")
    val expected = docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .withColumn("h", md5(col("tok")))
      .groupBy(col("doc_id"))
      .agg((1 to 64).map { j =>
        val q = (j - 1) / 4 + 1
        val s = 3 - ((j - 1) % 4)
        sum(when(shiftright(nib(col("h"), q), s).bitwiseAND(lit(1)) === 1,
          1).otherwise(-1)).as(s"b$j")
      }.head, (2 to 64).map { j =>
        val q = (j - 1) / 4 + 1
        val s = 3 - ((j - 1) % 4)
        sum(when(shiftright(nib(col("h"), q), s).bitwiseAND(lit(1)) === 1,
          1).otherwise(-1)).as(s"b$j")
      }: _*)
      .select(col("doc_id"), concat((1 to 64).map(j =>
        when(col(s"b$j") > 0, "1").otherwise("0")): _*).as("bits"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Dedup.simhash64Over(docs, toks, "doc_id")
      .collect().map { r =>
        val b = java.lang.Long.toBinaryString(r.getLong(1))
        r.getLong(0) -> ("0" * (64 - b.length) + b)
      }.toMap
    assert(got == expected)
  }

  test("simhashNeighbors64: finds near-dups, collapses exact dups, " +
    "keeps reversed docs distant") {
    import spark.implicits._
    val words = (1 to 40).map(i => s"w$i")
    val nearDup = (words :+ "extra").mkString(" ")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.mkString(" ")), // byte-identical → collapsed
      (3L, nearDup),             // one extra shingle → few sign flips
      (4L, words.reverse.mkString(" "))) // reversed → distant code
      .toDF("doc_id", "text")
    val got = Dedup.simhashNeighbors64(docs, "text", "doc_id",
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 3L)), "near-dup pair missed")
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L),
      "exact dup not collapsed")
    assert(!got.contains((1L, 4L)), "reversed doc should be distant")
  }

  test("simhashNeighbors64 is the documented default entry point: its " +
    "default shape is 4 bands x 16 bits over 3-word shingles with " +
    "exact-dup collapse") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = (1 to 60).map(i => s"tok$i")
    val docs = (1L to 30L).map { i =>
      val body = Seq.fill(25)(vocab(rnd.nextInt(vocab.length)))
      (i, body.mkString(" "))
    }.toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDefault = pairs(
      Dedup.simhashNeighbors64(docs, "text", "doc_id", maxHamming = 3))
    val viaExplicit = pairs(Dedup.simhashNeighbors64Over(docs,
      TextFunctions.wordShingles(col("text"), 3), "doc_id",
      bandBits = 16, maxHamming = 3,
      collapseExactOn = Some(TextFunctions.fingerprint(col("text")))))
    assert(viaDefault == viaExplicit,
      "default entry point drifted from the pinned 64/16 scale shape")
  }

  test("componentDedupFlags keeps exactly one doc per transitive " +
    "chain (the split a greedy pairwise drop can make is impossible)") {
    import spark.implicits._
    val words = (1 to 40).map(i => s"w$i")
    // a ~ b and b ~ c by one-word steps; a ~ c only transitively
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, (words :+ "x").mkString(" ")),
      (3L, (words :+ "x" :+ "y").mkString(" ")),
      (4L, words.mkString(" ")), // exact dup of 1 → never kept
      (5L, words.reverse.mkString(" "))) // distant → kept
      .toDF("doc_id", "text")
    // the chain is the INPUT contract (any pair source qualifies —
    // the generators have their own recall specs): a ~ b ~ c with no
    // direct a ~ c pair, exactly the shape greedy pairwise drop splits
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val flags = Dedup.componentDedupFlags(docs, "text", "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> true),
      s"component flags inconsistent: $flags")
  }

  test("simhashNeighbors64 verify matches a brute-force Hamming scan, " +
    "and the hot-bucket guard path returns the identical pair set") {
    import spark.implicits._
    // 64-bit codes spread distances ~2× wider than 32-bit ones, so the
    // 32-bit test's random-mutation fixture has no pairs within d≤3
    // here. This chain (each doc appends one more extra word) was
    // solved offline against the same md5 arithmetic: pairs (1,3),
    // (4,5), (5,6) sit at exactly d=3; everything else is farther.
    val base = (1 to 40).map(i => s"w$i")
    val extras = (1 to 5).map(i => s"e$i")
    val docs = ((1L to 6L).map(id =>
      (id, (base ++ extras.take(id.toInt - 1)).mkString(" "))) :+
      (7L, base.reverse.mkString(" ")))
      .toDF("doc_id", "text")
    val sh = TextFunctions.wordShingles(col("text"), 3)
    def pairs(maxBucket: Int) =
      Dedup.simhashNeighbors64Over(docs, sh, "doc_id", maxHamming = 3,
        maxBucket = maxBucket)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
        .toMap
    val got = pairs(4096)
    val codes = Dedup.simhash64Over(docs, sh, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = (for {
      i <- codes.keys; j <- codes.keys if i < j
      d = java.lang.Long.bitCount(codes(i) ^ codes(j))
      if d <= 3 // pigeonhole: 4 bands cover d < 4 exactly
    } yield ((i, j), d)).toMap
    assert(got == naive)
    assert(naive.nonEmpty, "fixture produced no close pairs — vacuous")
    // maxBucket=1 forces EVERY bucket through the equi-join branch
    assert(pairs(1) == got)
  }

  test("simhashNeighbors64Over rejects band widths that break the " +
    "pigeonhole or don't divide the code") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = TextFunctions.wordShingles(col("text"), 3)
    intercept[IllegalArgumentException] {
      Dedup.simhashNeighbors64Over(docs, sh, "doc_id", bandBits = 24)
    }
    intercept[IllegalArgumentException] {
      // 1 band of 64 bits can't pigeonhole any nonzero distance
      Dedup.simhashNeighbors64Over(docs, sh, "doc_id", bandBits = 64)
    }
    intercept[IllegalArgumentException] {
      // 2×32-bit bands guarantee recall only for maxHamming < 2
      Dedup.simhashNeighbors64Over(docs, sh, "doc_id", bandBits = 32,
        maxHamming = 2)
    }
  }

  test("crossDedupFlags: exact via fingerprint, near via shared " +
    "shingles, independent flags") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (0L, base),
      (1L, "completely unrelated corpus words right here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (9L, base),                       // byte-identical → exact + near
      (19L, base + " eleven"),          // head-identical shingles → near
      (29L, "ten nine eight seven six five four three two one")
      // reversed: same token SET, zero shared shingles → neither
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.crossDedupFlags(batch, corpus, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Boolean, Boolean)].collect().toSeq
    assert(got === Seq((9L, true, true), (19L, false, true),
      (29L, false, false)))
  }

  test("crossDedupFlags auto regime: the size estimate picks broadcast " +
    "below the threshold, shuffle above, identical flags either way") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val corpus = ((0L until 50L).map(i => (i, s"a$i b$i c$i d$i e$i")) :+
      (50L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (900L, base),              // exact + near
      (901L, base + " eleven"),  // near only
      (902L, "nothing in common here at all")).toDF("doc_id", "text")
    // pin Catalyst's own size-based broadcast off so the only
    // BroadcastExchanges in either plan are the ones the regime switch
    // injects (explicit broadcast() hints survive threshold -1)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def bcExchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .BroadcastExchangeExec => e
        }.size
      // max threshold → auto picks broadcast; 0 → auto picks shuffle
      val viaBc = Dedup.crossDedupFlags(batch, corpus, "text", "doc_id",
        broadcastMaxBytes = Long.MaxValue)
      val viaSh = Dedup.crossDedupFlags(batch, corpus, "text", "doc_id",
        broadcastMaxBytes = 0L)
      assert(bcExchanges(viaBc) >= 3,
        "auto-below-threshold did not take the broadcast regime")
      assert(bcExchanges(viaSh) == 0,
        "auto-above-threshold still broadcasts the batch side")
      val expect = Seq((900L, true, true), (901L, false, true),
        (902L, false, false))
      assert(viaBc.orderBy("doc_id")
        .as[(Long, Boolean, Boolean)].collect().toSeq === expect)
      assert(viaSh.orderBy("doc_id")
        .as[(Long, Boolean, Boolean)].collect().toSeq === expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("connectedComponents: min-label propagation over chains and " +
    "separate clusters") {
    import spark.implicits._
    // a 5-chain (diameter 4 — needs multiple propagation rounds) plus a
    // separate 2-clique
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("id1", "id2")
    val comp = graft.ops.Dedup.connectedComponents(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(comp === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (7L, 7L), (8L, 7L)))
    // the API owns its caches: nothing left in the CacheManager for the
    // caller to unpersist (the result is localCheckpoint-backed instead)
    assert(spark.sharedState.cacheManager.isEmpty,
      "connectedComponents leaked a cached frame")
  }

  test("connected components: plain rounds until the switch, pointer " +
    "jumps after it — a diameter-3 graph never jumps, the 101-node chain " +
    "jumps and converges inside maxIters = 15") {
    import spark.implicits._
    withBroadcastThreshold("-1") {
      // diameter 3 (the 4-chain) plus a clique and a pair: 3 changing
      // rounds and the stability round, all before the switch
      val shallow = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L),
        (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id1", "id2")
      val (labels, rounds) = Dedup.components(shallow, maxIters = 20)
      assert(labels.orderBy("id").as[(Long, Long)].collect().toSeq ===
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (7L, 7L), (8L, 7L),
          (20L, 20L), (21L, 20L), (22L, 20L)))
      assert(rounds.nonEmpty && !rounds.exists(_.jump),
        s"a diameter-3 graph paid a jump round: $rounds")
      assert(rounds.last.changed == 0 && rounds.init.forall(_.changed > 0))
      assert(spark.sharedState.cacheManager.isEmpty,
        "the distributed loop leaked a cached frame")
      // the loud-error contract, at a cheap size: a 10-node path
      // (diameter 9) cannot converge in 3 propagation rounds
      assertThrows[IllegalStateException] {
        Dedup.connectedComponents(
          (0L until 9L).map(i => (i, i + 1)).toDF("id1", "id2"),
          maxIters = 3)
      }
      // the chain adversary: a 101-node path (diameter 100). Plain
      // propagation alone moves the min one hop per round (~100
      // rounds); 4 plain rounds advance it 4 hops, then doubling covers
      // the remaining ~96 in ~7 jump rounds + stability
      val chain = (0L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
      val (chainLabels, chainRounds) = Dedup.components(chain, maxIters = 15)
      assert(chainLabels.count() == 101)
      assert(chainLabels.filter(col("rep") =!= 0L).count() == 0,
        "chain did not collapse to the single min label")
      assert(chainRounds.map(_.jump) ===
        Seq.fill(4)(false) ++ Seq.fill(chainRounds.size - 4)(true),
        s"expected 4 plain rounds, then jumps: $chainRounds")
      assert(chainRounds.size <= 15 && chainRounds.last.changed == 0)
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("connected components: an empty pair frame gives an empty " +
    "(id, rep) frame of the pairs' id type in both regimes") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    for ((empty, idType) <- Seq(
        Seq.empty[(Long, Long)].toDF("id1", "id2") -> LongType,
        Seq.empty[(Int, Int)].toDF("id1", "id2") -> IntegerType)) {
      val driver = Dedup.components(empty, maxIters = 20)
      val distributed = withBroadcastThreshold("-1") {
        Dedup.components(empty, maxIters = 20)
      }
      assert(driver._2.isEmpty, "an empty edge list left the driver")
      assert(distributed._2.nonEmpty, "threshold -1 took the driver")
      for ((labels, _) <- Seq(driver, distributed)) {
        assert(labels.columns.toSeq === Seq("id", "rep"))
        assert(labels.schema.map(_.dataType) === Seq(idType, idType))
        assert(labels.count() == 0)
      }
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("connected components: the driver finish matches every " +
    "distributed loop label for label (seeded sweep, 101-node chain, " +
    "self-edges, duplicate pairs) and leaves no cache or round behind") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def labels(df: DataFrame): Seq[(Long, Long)] =
      df.orderBy("id").as[(Long, Long)].collect().toSeq
    def driver(g: DataFrame, maxIters: Int = 40): Seq[(Long, Long)] = {
      val (comps, rounds) = Dedup.components(g, maxIters)
      val got = labels(comps)
      assert(rounds.isEmpty, "the driver finish ran rounds")
      assert(spark.sharedState.cacheManager.isEmpty,
        "the driver finish leaked a cached frame")
      got
    }
    def distributed(g: DataFrame, maxIters: Int = 40): Seq[(Long, Long)] =
      withBroadcastThreshold("-1") {
        val (comps, rounds) = Dedup.components(g, maxIters)
        val got = labels(comps)
        assert(rounds.nonEmpty, "threshold -1 took the driver")
        assert(spark.sharedState.cacheManager.isEmpty,
          "the distributed loop leaked a cached frame")
        got
      }
    // seeded random graphs: sparse ones (fragmented components) and
    // denser ones (few big components)
    def random(seed: Int, n: Int, density: Double): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed * 1000 + (density * 10).toInt)
      (1 to (n * density).toInt).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
    }
    val sweep = (for (seed <- Seq(11, 12, 13); density <- Seq(0.6, 1.5))
      yield s"seed=$seed density=$density" -> random(seed, 60, density)) ++
      Seq(31, 32).map(seed => s"seed=$seed density=2" -> random(seed, 50, 2))
    // paths of 2…12 nodes: diameters 1…11 straddle the switch round,
    // so they converge before it, at it, and at every jump round after
    val chains = (2 to 12).map(n =>
      s"$n-node chain" -> (1L until n.toLong).map(i => (i, i + 1)))
    val graphs = sweep ++ chains ++ Seq(
      // self-edges (one on an otherwise isolated node) and the same
      // pair listed in both orientations and twice
      "self-edges+duplicates" -> Seq((1L, 1L), (1L, 2L), (2L, 1L),
        (1L, 2L), (2L, 3L), (3L, 3L), (9L, 9L), (5L, 6L), (6L, 5L)))
    for ((name, es) <- graphs) {
      val g = es.toDF("id1", "id2")
      assert(distributed(g) === driver(g), s"regime divergence on $name")
    }
    assert(driver(Seq((1L, 1L), (9L, 9L)).toDF("id1", "id2")) ===
      Seq((1L, 1L), (9L, 9L)))
    // the 101-node chain: the driver finish is exact at any diameter;
    // the distributed loop lands on the same labels inside 15 rounds
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chainLabels = driver(chain, maxIters = 15)
    assert(chainLabels === (0L to 100L).map(i => (i, 0L)))
    assert(distributed(chain, maxIters = 15) === chainLabels,
      "chain regime divergence")
    // int ids keep their type through the driver finish
    val intIds = Seq((3, 4), (4, 5)).toDF("id1", "id2")
    val intLabels = Dedup.connectedComponents(intIds)
    assert(intLabels.schema.map(_.dataType) ===
      Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType))
    assert(intLabels.orderBy("id").as[(Int, Int)].collect().toSeq ===
      Seq((3, 3), (4, 3), (5, 3)))
  }

  test("connected components at maxIters = 0 with a self-edge: the " +
    "distributed loops throw instead of returning unpropagated labels, " +
    "and a self-edge-only graph converges to one label per node") {
    import spark.implicits._
    val g = Seq((1L, 1L), (1L, 2L), (7L, 7L)).toDF("id1", "id2")
    // diameter 2 (1~2~3, min at an end): 2 changing rounds + stability
    val path3 = Seq((3L, 2L), (2L, 1L)).toDF("id1", "id2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").as[(Long, Long)].collect().toSeq
    withBroadcastThreshold("-1") {
      assertThrows[IllegalStateException] {
        Dedup.connectedComponents(g, maxIters = 0)
      }
      assert(spark.sharedState.cacheManager.isEmpty,
        "a throwing loop leaked a cached frame")
      // a graph of self-edges alone is converged after its first
      // round: one label per node, each its own rep
      val selfOnly = Seq((1L, 1L), (7L, 7L), (7L, 7L)).toDF("id1", "id2")
      assert(rows(Dedup.connectedComponents(selfOnly, maxIters = 1)) ===
        Seq((1L, 1L), (7L, 7L)))
      // a budget below the switch round is valid: 3 plain rounds
      // converge a diameter-2 graph
      assert(rows(Dedup.connectedComponents(path3, maxIters = 3)) ===
        Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    }
    // the driver finish needs no rounds: the same graphs at
    // maxIters = 0 and 3
    assert(rows(Dedup.connectedComponents(g, maxIters = 0)) ===
      Seq((1L, 1L), (2L, 1L), (7L, 7L)))
    assert(rows(Dedup.connectedComponents(path3, maxIters = 3)) ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("crossDedupFlagsFromIndexes: flag-identical to the inline path " +
    "over persisted indexes, with zero corpus-text scans") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (0L, base),
      (1L, "completely unrelated corpus words right here"),
      (2L, "another corpus document entirely distinct"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                        // exact dup of 0
      (11L, base + " eleven"),            // near dup of 0
      (12L, "fresh novel text never seen before anywhere"))
      .toDF("doc_id", "text")
    val inline = graft.ops.Dedup.crossDedupFlags(batch, corpus,
      "text", "doc_id").orderBy("doc_id").collect().toSeq
    // build via the documented one-text-pass staging: persist the
    // narrow profile first, derive all three indexes from the RELOAD,
    // persist those like a corpus build would, then reload again
    val dir = TestDirs.tmp("amortized_idx").toFile.getAbsolutePath
    graft.ops.Dedup.corpusProfile(corpus, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/profile")
    val (fpI, bandI, tokI) = graft.ops.Dedup.corpusIndexesFromProfile(
      spark.read.parquet(s"$dir/profile"))
    fpI.write.mode("overwrite").parquet(s"$dir/fp")
    bandI.write.partitionBy("band").mode("overwrite").parquet(s"$dir/band")
    tokI.write.mode("overwrite").parquet(s"$dir/tok")
    val fromIdx = graft.ops.Dedup.crossDedupFlagsFromIndexes(batch,
      "text", "doc_id",
      spark.read.parquet(s"$dir/fp"),
      spark.read.parquet(s"$dir/band"),
      spark.read.parquet(s"$dir/tok"))
    assert(fromIdx.orderBy("doc_id").collect().toSeq === inline)
    assert(inline.map(r => (r.getLong(0), r.getBoolean(1),
      r.getBoolean(2))) === Seq((10L, true, true), (11L, false, true),
      (12L, false, false)))
    // the amortization claim at plan level: every file the indexed
    // path reads lives under the persisted index tree — the corpus
    // artifacts come from storage, nothing is re-derived from a corpus
    // table. AQE off so the executed plan's scan leaves are reachable.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = graft.ops.Dedup.crossDedupFlagsFromIndexes(batch,
        "text", "doc_id",
        spark.read.parquet(s"$dir/fp"),
        spark.read.parquet(s"$dir/band"),
        spark.read.parquet(s"$dir/tok"))
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
      assert(scans.nonEmpty)
      scans.foreach { s =>
        assert(s.relation.location.rootPaths.forall(
          _.toString.contains("amortized_idx")),
          s"indexed path reads a non-index file source:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("crossDedupFlagsFromIndexes rejects an index built with " +
    "different banding params (loud error, not silent empty flags)") {
    import spark.implicits._
    val corpus = Seq((0L, "one two three four five six"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "one two three four five six"))
      .toDF("doc_id", "text")
    // index built at bands=2, looked up at the default bands=4
    val (fpI, bandI, tokI) = graft.ops.Dedup.corpusIndexes(corpus,
      "text", "doc_id", numHashes = 16, bands = 2)
    val flags = graft.ops.Dedup.crossDedupFlagsFromIndexes(batch,
      "text", "doc_id", fpI, bandI, tokI)
    val e = intercept[Exception](flags.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("different params") ||
      m.contains("mh16/b4")), s"unexpected error: ${msgs(e)}")
  }

  test("corpusIndexesWrite/Append: an append-built layout flags " +
    "identically to a single-shot build; a mismatched-banding append " +
    "is refused before any write; band-tree compaction applies") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val corpus = (0L until 30L).map {
      case 0L => (0L, base)
      case i => (i, s"corpus doc $i filler words alpha beta gamma d$i")
    }.toDF("doc_id", "text")
    val batch = Seq(
      (100L, base),              // exact dup of 0
      (101L, base + " eleven"),  // near dup of 0
      (102L, "fresh novel text never seen before anywhere"))
      .toDF("doc_id", "text")
    val full = TestDirs.tmp("cidx_full").toFile.getAbsolutePath
    val inc = TestDirs.tmp("cidx_inc").toFile.getAbsolutePath
    graft.ops.Dedup.corpusIndexesWrite(corpus, "text", "doc_id", full)
    // staging tree must not survive the build
    assert(!new java.io.File(full + "_profile_tmp").exists())
    graft.ops.Dedup.corpusIndexesWrite(
      corpus.filter(col("doc_id") % 3 =!= 0), "text", "doc_id", inc)
    graft.ops.Dedup.corpusIndexesAppend(
      corpus.filter(col("doc_id") % 3 === 0), "text", "doc_id", inc)
    def flags(dir: String): Seq[(Long, Boolean, Boolean)] = {
      val (fpI, bandI, tokI) =
        graft.ops.Dedup.corpusIndexesRead(spark, dir)
      graft.ops.Dedup.crossDedupFlagsFromIndexes(batch, "text",
        "doc_id", fpI, bandI, tokI)
        .orderBy("doc_id").as[(Long, Boolean, Boolean)].collect().toSeq
    }
    val expect = flags(full)
    assert(expect === Seq((100L, true, true), (101L, false, true),
      (102L, false, false)))
    assert(flags(inc) === expect)
    // a mismatched-banding append refuses BEFORE any write
    val rowsBefore = spark.read.parquet(s"$inc/band").count()
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.corpusIndexesAppend(batch, "text", "doc_id", inc,
        numHashes = 16, bands = 2)
    }
    assert(e.getMessage.contains("different banding params"))
    assert(spark.read.parquet(s"$inc/band").count() == rowsBefore,
      "refused append still wrote band rows")
    // fragment with more appends, compact the band tree generically
    for (b <- 1L to 4L)
      graft.ops.Dedup.corpusIndexesAppend(
        corpus.filter(col("doc_id") % 5 === b)
          .withColumn("doc_id", col("doc_id") + 1000L * b),
        "text", "doc_id", inc)
    val compacted = graft.ops.Similarity.compactCells(spark,
      s"$inc/band", maxFilesPerCell = 1, partitionCol = "band")
    assert(compacted.nonEmpty, "append loop produced no fragmentation")
    assert(flags(inc) === expect, "compaction changed lookup flags")
    val fileCounts = new java.io.File(s"$inc/band").listFiles()
      .filter(_.getName.startsWith("band="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(fileCounts.forall(_ == 1),
      s"band dirs not compacted: ${fileCounts.toSeq}")
  }

  test("corpusIndexesWrite leaves an O(1) sidecar stamp the lookup " +
    "trusts over the data column") {
    import spark.implicits._
    val corpus = Seq((0L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val dir = TestDirs.tmp("cidx_sidecar").toFile.getAbsolutePath
    graft.ops.Dedup.corpusIndexesWrite(corpus, "text", "doc_id", dir)
    val sidecar = java.nio.file.Paths.get(s"$dir/band", "_graft_ivf_stamp")
    assert(java.nio.file.Files.exists(sidecar),
      "corpusIndexesWrite left no band-stamp sidecar")
    assert(java.nio.file.Files.readString(sidecar).trim == "mh16/b4/ws3")
    // bogus _params DATA column + correct sidecar ⇒ lookup works,
    // which is only possible if the per-row column check never ran
    val bogus = TestDirs.tmp("cidx_sidecar_bogus").toFile.getAbsolutePath
    val (fpI, bandI, tokI) = graft.ops.Dedup.corpusIndexes(corpus,
      "text", "doc_id")
    fpI.write.mode("overwrite").parquet(s"$bogus/fp")
    bandI.drop("_params").withColumn("_params", lit("mh99/b9"))
      .write.partitionBy("band").mode("overwrite").parquet(s"$bogus/band")
    tokI.write.mode("overwrite").parquet(s"$bogus/tok")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bogus/band", "_graft_ivf_stamp"),
      "mh16/b4/ws3\n"): Unit
    val (f2, b2, t2) = graft.ops.Dedup.corpusIndexesRead(spark, bogus)
    val got = graft.ops.Dedup.crossDedupFlagsFromIndexes(batch, "text",
      "doc_id", f2, b2, t2)
      .orderBy("doc_id").as[(Long, Boolean, Boolean)].collect().toSeq
    assert(got === Seq((10L, true, true)))
    // a mismatched sidecar fails loudly BEFORE any plan runs
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bogus/band", "_graft_ivf_stamp"),
      "mh8/b2\n"): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$bogus/band", "._graft_ivf_stamp.crc")): Unit
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.crossDedupFlagsFromIndexes(batch, "text",
        "doc_id", f2, spark.read.parquet(s"$bogus/band"), t2)
    }
    assert(e.getMessage.contains("different banding params"))
  }

  test("crossDedupFlags plan: the corpus side joins only as broadcast " +
    "probe (no corpus-keyed shuffle)") {
    import spark.implicits._
    val corpus = (0L until 100L).map(i => (i, s"w$i x$i y$i"))
      .toDF("doc_id", "text")
    val batch = Seq((900L, "w1 x1 y1")).toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val flags = graft.ops.Dedup.crossDedupFlags(batch, corpus,
        "text", "doc_id")
      val exchanges = flags.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // every shuffle in the plan carries batch-derived rows (candidate
      // ids / flags) — none may carry corpus token sets or corpus text
      exchanges.foreach { e =>
        val wide = e.output.filter(a =>
          a.name == "ctoks" || a.name == "text")
        assert(wide.isEmpty, s"corpus-side data shuffled:\n$e")
      }
      // the batch side evaluates ONCE: its three broadcast consumers
      // (exact fingerprints, band rows, verify token sets) must read
      // the checkpointed narrow frame (Scan ExistingRDD), not re-run
      // the shingle pipeline per consumer
      val rddScans = flags.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.RDDScanExec => s
      }
      assert(rddScans.size >= 3,
        s"batch-side consumers bypass the checkpoint (${rddScans.size} " +
          "RDD scans; expected one per broadcast consumer)")
      val rdds = rddScans.map(_.rdd.id).distinct
      assert(rdds.size == 1,
        s"consumers read different RDDs ($rdds) — batch evaluated " +
          "more than once")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a legacy two-field band stamp (pre-tokenizer-tag layout) is " +
    "accepted under the default tokenizer, refused under any other " +
    "tag, and appends keep the legacy layout stamp-homogeneous") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((0L, base),
      (1L, "other words that are entirely unrelated over here"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, base),
      (11L, "fresh novel text never seen before anywhere at all"))
      .toDF("doc_id", "text")
    // build a PRE-TAG layout: two-field in-data stamps + two-field
    // sidecar (what corpusIndexesWrite produced before the stamp named
    // its tokenizer)
    val legacy = "mh16/b4"
    val dir = TestDirs.tmp("legacy_band").toFile.getAbsolutePath
    val (fpI, bandI, tokI) = graft.ops.Dedup.corpusIndexesFromProfile(
      graft.ops.Dedup.corpusProfile(corpus, "text", "doc_id"))
    fpI.write.mode("overwrite").parquet(s"$dir/fp")
    bandI.withColumn("_params", lit(legacy))
      .write.partitionBy("band").mode("overwrite").parquet(s"$dir/band")
    tokI.write.mode("overwrite").parquet(s"$dir/tok")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "band", "_graft_ivf_stamp"),
      legacy.getBytes("UTF-8"))

    def lookup(tag: String) =
      graft.ops.Dedup.crossDedupFlagsFromIndexes(batch, "text", "doc_id",
        spark.read.parquet(s"$dir/fp"), spark.read.parquet(s"$dir/band"),
        spark.read.parquet(s"$dir/tok"), tokensTag = tag)
    val inline = graft.ops.Dedup.crossDedupFlags(batch, corpus,
      "text", "doc_id").orderBy("doc_id").collect().toSeq
    assert(lookup("ws3").orderBy("doc_id").collect().toSeq == inline,
      "legacy-stamped layout diverged from the inline flags")
    // a NON-default tag must still refuse: the legacy stamp cannot
    // prove which tokenizer built it
    val e = intercept[IllegalStateException] { lookup("ws5") }
    assert(e.getMessage.contains("banding params"), e.getMessage)

    // append: verified against and stamped with the layout's OWN
    // legacy stamp — one stamp format per tree, never a mixture
    graft.ops.Dedup.corpusIndexesAppend(
      Seq((20L, "an appended document with its own words then"))
        .toDF("doc_id", "text"), "text", "doc_id", dir)
    val stamps = spark.read.parquet(s"$dir/band")
      .select(col("_params")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(stamps == Set(legacy),
      s"append mixed stamp formats into the legacy layout: $stamps")
    assert(lookup("ws3").count() == batch.count(),
      "lookup against the appended legacy layout failed")
  }
}
