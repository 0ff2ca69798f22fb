package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CurationOps

class CurationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("maxMultiplicity counts the largest equal-run after sort") {
    val df = Seq(
      (1, Seq("b", "a", "b", "c", "b")), // b ×3
      (2, Seq("x")),                     // singleton
      (3, Seq.empty[String])             // empty → 0
    ).toDF("id", "arr")
      .select($"id", CurationOps.maxMultiplicity($"arr").as("m"))
    assert(df.orderBy("id").as[(Int, Long)].collect().toSeq ===
      Seq((1, 3L), (2, 1L), (3, 0L)))
  }

  test("repetitionStats: hand-computed fractions and flag") {
    // "a b a b a b": 6 tokens, 2 distinct → dup 1 - 2/6 = 0.6667
    // bigrams: ab ba ab ba ab → max mult 3 of 5 → top 3/5 = 0.6
    val docs = Seq((1L, "a b a b a b"), (2L, "u v w x y z"), (3L, ""))
      .toDF("doc_id", "text")
    val got = CurationOps.repetitionStats(docs, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, Double, Double, Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, 0.6667, 0.6, true),
      (2L, 0.0, 0.2, true), // 1/5 bigram frac = 0.2 > 0.08
      (3L, 0.0, 0.0, false)))
  }

  test("decontaminate finds planted benchmark overlap and honors flagAt") {
    // doc 0 is the benchmark (pred id=0); doc 1 copies a 6-token span
    // (4 shared 3-shingles), doc 2 shares nothing.
    val docs = Seq(
      (0L, "one two three four five six seven eight"),
      (1L, "zz one two three four five six yy"),
      (2L, "totally different words here entirely now")
    ).toDF("doc_id", "text")
    val got = CurationOps.decontaminate(docs, "text", "doc_id",
      col("doc_id") === 0, minShared = 2, flagAt = 4)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(got === Seq((1L, 4L, true)))
  }

  test("decontaminateBloom matches the exact broadcast variant (the " +
    "bloom is a pure prefilter), plans the might_contain predicate, and " +
    "handles an empty benchmark side") {
    // wider corpus so the bloom prefilter has real negatives to drop:
    // docs 0,10 are the benchmark; 1 copies a span from each; the rest
    // share nothing
    val docs = ((0L to 20L).map { i =>
      if (i == 0L) (i, "one two three four five six seven eight")
      else if (i == 10L) (i, "alpha beta gamma delta epsilon zeta")
      else if (i == 1L) (i, "zz one two three four alpha beta gamma delta yy")
      else (i, s"filler${i}a filler${i}b filler${i}c filler${i}d filler${i}e")
    }).toDF("doc_id", "text")
    val pred = col("doc_id") % 10 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    val exact = rows(CurationOps.decontaminate(
      docs, "text", "doc_id", pred, minShared = 2, flagAt = 4))
    val bloom = CurationOps.decontaminateBloom(
      docs, "text", "doc_id", pred, minShared = 2, flagAt = 4,
      expectedBenchGrams = 64)
    assert(rows(bloom) === exact,
      "bloom-prefiltered result diverged from the exact broadcast variant")
    assert(exact.nonEmpty, "fixture lost its planted overlap")
    // the prefilter is IN the plan (a codegen'd scan predicate), not an
    // implementation hope
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"no bloom predicate in the executed plan:\n$plan")
    // an empty benchmark side must yield the empty result (the empty
    // sketch admits nothing)
    val none = CurationOps.decontaminateBloom(
      docs, "text", "doc_id", col("doc_id") < 0, minShared = 1)
    assert(none.count() == 0, "empty bench side should flag nothing")
    // the sketch is NOT clamped by the runtime-filter session caps
    // (maxNumItems 4e6 / maxNumBits 2^26): a 16M-item request must come
    // back bigger than the 8 MB bit cap — the silent-collapse failure
    // the per-partition build exists to avoid
    val big = CurationOps.gramBloom(
      docs.select(col("text").as("gram")), "gram", 16L * 1000 * 1000, 0.03)
    assert(big.length > (1 << 26) / 8,
      s"sketch is ${big.length} B — clamped to the runtime-filter caps")
    // sketch-shipping cost cap: a pathologically over-partitioned input
    // (here 97 partitions — on a cluster, 10⁴ raw file splits) must
    // still produce the same flags, through a build coalesced to
    // ~defaultParallelism partitions (O(cores × sketch), not
    // O(input partitions × sketch), of treeReduce traffic)
    val shredded = rows(CurationOps.decontaminateBloom(
      docs.repartition(97), "text", "doc_id", pred, minShared = 2,
      flagAt = 4, expectedBenchGrams = 64))
    assert(shredded === exact,
      "coalesced sketch build changed flags on an over-partitioned input")
  }

  test("decontaminateAuto picks each regime through the threshold, " +
    "results identical") {
    val docs = ((0L to 20L).map { i =>
      if (i == 0L) (i, "one two three four five six seven eight")
      else if (i == 10L) (i, "alpha beta gamma delta epsilon zeta")
      else if (i == 1L) (i, "zz one two three four alpha beta gamma delta yy")
      else (i, s"filler${i}a filler${i}b filler${i}c filler${i}d filler${i}e")
    }).toDF("doc_id", "text")
    val pred = col("doc_id") % 10 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    val exact = rows(CurationOps.decontaminate(
      docs, "text", "doc_id", pred, minShared = 2, flagAt = 4))
    assert(exact.nonEmpty, "fixture lost its planted overlap")
    // huge threshold → the estimator picks broadcast: NO bloom
    // predicate in the plan
    val asBroadcast = CurationOps.decontaminateAuto(docs, "text",
      "doc_id", pred, minShared = 2, flagAt = 4,
      broadcastMaxBytes = Long.MaxValue)
    assert(rows(asBroadcast) === exact)
    assert(!asBroadcast.queryExecution.executedPlan.toString
      .contains("might_contain"),
      "under-threshold auto run should take the exact broadcast path")
    // 1-byte threshold → the estimator picks bloom: the prefilter IS
    // in the plan, result unchanged (exact-verify tail)
    val asBloom = CurationOps.decontaminateAuto(docs, "text",
      "doc_id", pred, minShared = 2, flagAt = 4, broadcastMaxBytes = 1L)
    assert(rows(asBloom) === exact,
      "auto-picked bloom regime diverged from the exact answer")
    assert(asBloom.queryExecution.executedPlan.toString
      .contains("might_contain"),
      "over-threshold auto run should take the bloom path")
  }

  test("redact masks digit runs and counts them") {
    val df = Seq((1L, """{"k": 42, "u": 1234}"""), (2L, "none")).toDF("id", "p")
    val got = CurationOps.redact(df, "p")
      .select($"id", $"n_redacted", $"scrubbed")
      .orderBy("id").as[(Long, Int, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2, """{"k": <NUM>, "u": <NUM>}"""),
      (2L, 0, "none")))
  }

  test("stratifiedSampleFlag is deterministic and salt-independent streams") {
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    def flags(salt: String) = df.select($"id",
      CurationOps.stratifiedSampleFlag($"lang", $"id",
        Map("en" -> 10), defaultRate = 50, salt = salt).as("f"))
      .orderBy("id").as[(Long, Boolean)].collect().toSeq
    val a = flags("mix")
    assert(a === flags("mix"), "same salt must reproduce exactly")
    assert(a !== flags("other"), "different salt must give a different stream")
    // rates land near targets (hash uniformity, loose bounds)
    val en = a.filter(_._1 % 2 == 0).count(_._2)
    val de = a.filter(_._1 % 2 == 1).count(_._2)
    assert(en >= 2 && en <= 25, s"en sampled $en of 100 at 10%")
    assert(de >= 30 && de <= 70, s"de sampled $de of 100 at 50%")
  }

  test("tokenBudgetSampleFlag: rates derived from stratum totals, " +
    "exact integer arithmetic, full keep under budget") {
    import graft.ops.CurationOps
    // "small" stratum fits the budget entirely → rate 10^6 ppm, all
    // kept; "big" stratum is 10× over → rate 100000 ppm
    val docs = ((0L until 20L).map(i => (i, "small", 50L)) ++
      (100L until 300L).map(i => (i, "big", 100L)))
      .toDF("id", "stratum", "n_tok")
    val flagged = CurationOps.tokenBudgetSampleFlag(docs, $"stratum",
      $"n_tok", $"id", tokenBudget = 2000L, salt = "t")
    val rates = flagged.groupBy("stratum")
      .agg(max($"_rate_ppm").as("r"), sum($"sampled".cast("long")).as("n"))
      .orderBy("stratum").as[(String, Long, Long)].collect().toSeq
    val big = rates(0); val small = rates(1)
    assert(big._2 === 100000L, s"big stratum rate: $big") // 2000e6/20000
    assert(small._2 === 1000000L && small._3 === 20L,
      s"under-budget stratum must keep everything: $small")
    assert(big._3 > 0 && big._3 < 200, s"big stratum sampled: $big")
    // deterministic: same inputs → same flags
    val again = CurationOps.tokenBudgetSampleFlag(docs, $"stratum",
      $"n_tok", $"id", tokenBudget = 2000L, salt = "t")
      .select("id", "sampled").orderBy("id").collect().toSeq
    assert(again === flagged.select("id", "sampled").orderBy("id")
      .collect().toSeq)
  }

  test("tokenBudgetSampleFlag: zero-token and NULL strata keep their " +
    "rows (rate 10^6 ppm, no NULL flags, null-safe rate join), and the " +
    "ppm space keeps sub-percent rates from flooring to zero") {
    import graft.ops.CurationOps
    val docs = Seq(
      (1L, Some("empty"), 0L),   // stratum sums to 0 tokens
      (2L, Some("empty"), 0L),
      (3L, None, 40L),           // NULL stratum
      (4L, None, 40L),
      (5L, Some("big"), 50000L))
      .toDF("id", "stratum", "n_tok")
    val flagged = CurationOps.tokenBudgetSampleFlag(docs, $"stratum",
      $"n_tok", $"id", tokenBudget = 2000L, salt = "t")
    assert(flagged.count() === 5, "NULL-stratum rows were dropped")
    assert(flagged.filter($"sampled".isNull).count() === 0,
      "NULL leaked into the sampled flag")
    val zeroRates = flagged.filter($"stratum" === "empty")
      .select("_rate_ppm", "sampled")
      .as[(Long, Boolean)].collect().toSeq
    assert(zeroRates.forall(r => r._1 == 1000000L && r._2),
      s"zero-token stratum must keep everything: $zeroRates")
    val nullRate = flagged.filter($"stratum".isNull)
      .select(max($"_rate_ppm")).as[Long].head()
    assert(nullRate === 1000000L, "NULL stratum (80 tokens) is under budget")

    // the scale failure the ppm space fixes: a stratum 5000x over
    // budget needs rate 200 ppm — integer PERCENT floors it to 0 and
    // silently drops the whole stratum (the 1M-doc capstone failure)
    val huge = (0L until 10000L).map(i => (i, "huge", 1000L))
      .toDF("id", "stratum", "n_tok")
    val hugeFlagged = CurationOps.tokenBudgetSampleFlag(huge, $"stratum",
      $"n_tok", $"id", tokenBudget = 2000L, salt = "t")
    val hugeRate = hugeFlagged.select(max($"_rate_ppm")).as[Long].head()
    assert(hugeRate === 200L, s"5000x-over stratum rate: $hugeRate ppm")
    val hugeKept = hugeFlagged.filter($"sampled").count()
    assert(hugeKept > 0,
      "sub-percent stratum floored to zero — nothing sampled")
  }

  test("native repetition-counts kernel matches the Column fold spec " +
    "(multiplicity, short docs, multibyte)") {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "a b a b a b c"),
      (2L, "one"),
      (3L, ""),
      (4L, "שלום עולם שלום עולם שלום עולם"),
      (5L, "x  y   x  y")).toDF("id", "t")
    val toks = TextFunctions.tokens(col("t"))
    val spec = docs.select(col("id"),
      size(toks).cast("long").as("n_tok"),
      size(array_distinct(toks)).cast("long").as("n_dist"),
      CurationOps.maxMultiplicity(CurationOps.bigramsOf(toks)).as("mx"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val kernel = docs.select(col("id"),
      column(graft.functions.RepetitionCounts(expression(col("t"))))
        .as("c"))
      .collect().map { r =>
        val c = r.getSeq[Long](1)
        r.getLong(0) -> ((c(0), c(1), c(2)))
      }.toMap
    assert(spec === kernel)
  }

  test("columnProfile survives backslashes and quotes in column names") {
    val df = Seq((1, 2)).toDF("a\\b", "it's")
    val got = CurationOps.columnProfile(df, Seq("a\\b", "it's"))
      .orderBy("col_name").as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a\\b", 0L, 1L), ("it's", 0L, 1L)))
  }

  test("columnProfile counts nulls and exact distincts per column") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")), (None, Some("a"))
    ).toDF("x", "y")
    val got = CurationOps.columnProfile(df, Seq("x", "y"))
      .orderBy("col_name").as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("x", 1L, 2L), ("y", 1L, 2L)))
  }

  test("winnowedFingerprints: local edits preserve most fingerprints " +
    "(md5 fingerprint flips on any edit)") {
    import graft.functions.TextFunctions
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a.replace("lazy", "hazy") // one local edit
    val df = Seq((1L, a), (2L, b), (3L, "xy")).toDF("id", "text")
      .select($"id",
        TextFunctions.winnowedFingerprints($"text").as("fp"),
        TextFunctions.fingerprint($"text").as("md5fp"))
    val rows = df.orderBy("id").collect()
    val fpA = rows(0).getSeq[Long](1).toSet
    val fpB = rows(1).getSeq[Long](1).toSet
    val shared = fpA.intersect(fpB).size.toDouble
    assert(shared / fpA.size > 0.5,
      s"local edit kept only $shared of ${fpA.size} fingerprints")
    assert(fpA != fpB, "edit must perturb the touched windows")
    assert(rows(0).getString(2) != rows(1).getString(2),
      "md5 fingerprint must flip on any edit")
    // shorter than k chars → single-window degenerate case, non-empty
    assert(rows(2).getSeq[Long](1).isEmpty ||
      rows(2).getSeq[Long](1).size <= 1)
  }

  test("native winnow kernel matches the HOF reference construction " +
    "(incl. multibyte text and degenerate lengths)") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "אבג דהו זחט יכל מנס עפצ קרש תאב גדה"), // Hebrew (multibyte)
      (3L, "short"),   // < k chars → empty
      (4L, "exactly8"), // == k chars → single hash, single window
      (5L, "")          // empty
    ).toDF("id", "text")
    val both = docs.select($"id",
      TextFunctions.winnowedFingerprints($"text").as("native"),
      TextFunctions.winnowedFingerprintsHof($"text").as("hof"))
      .orderBy("id").collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"kernel/HOF divergence for id=${r.getLong(0)}")
    }
    assert(both(0).getSeq[Long](1).nonEmpty)
    assert(both(2).getSeq[Long](1).isEmpty) // "short" < k
    assert(both(3).getSeq[Long](1).size == 1)
  }

  test("winnow kernel/HOF parity holds on randomized text (seeded, " +
    "mixed scripts + random k/w)") {
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(31)
    val alphabets = Seq(
      ('a' to 'z') ++ Seq(' ', ' ', ' '),           // ascii words
      ('א' to 'ת') ++ Seq(' '),                     // hebrew
      ('a' to 'f') ++ ('0' to '3') ++ Seq(' ', '.') // low-diversity
    )
    val docs = (1L to 60L).map { i =>
      val ab = alphabets((i % 3).toInt)
      val len = rnd.nextInt(120)
      (i, (0 until len).map(_ => ab(rnd.nextInt(ab.size))).mkString)
    }.toDF("id", "text")
    for ((k, w) <- Seq((8, 4), (5, 3), (3, 1), (12, 6))) {
      val rows = docs.select($"id",
        TextFunctions.winnowedFingerprints($"text", k, w).as("native"),
        TextFunctions.winnowedFingerprintsHof($"text", k, w).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"k=$k w=$w id=${r.getLong(0)}")
      }
    }
  }

  test("spanDedup: planted head/tail/middle spans trim, overlapping " +
    "and adjacent matches merge into one span, disjoint spans stay " +
    "two, within-doc repeats and owners are untouched, full removal " +
    "yields '' (k=3)") {
    val docs = Seq(
      (0L, "a b c"),                 // owner of "a b c"
      (1L, "d e f"),                 // owner of "d e f"
      (2L, "a b c d x y z w"),       // HEAD trim: cov {1,2,3}
      (3L, "p q r a b c"),           // TAIL trim: cov {4,5,6}
      (4L, "m n a b c o p"),         // MIDDLE trim: cov {3,4,5}
      (5L, "a b c z1 z2 d e f g"),   // two DISJOINT spans stay 2
      (6L, "a b c d e f"),           // overlap+adjacency MERGE → 1 span,
                                     // full removal → ''
      (7L, "q r s t u"),             // untouched
      (8L, "h i j k h i j k"),       // within-doc repeat: owner keeps all
      (9L, "  x   y  ")              // tokenization normalizes whitespace
    ).toDF("doc_id", "text")
    val got = CurationOps.spanDedup(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id")
      .as[(Long, Int, Int, Int, String)].collect().toSeq
    assert(got === Seq(
      (0L, 3, 0, 0, "a b c"),
      (1L, 3, 0, 0, "d e f"),
      (2L, 8, 1, 3, "d x y z w"),
      (3L, 6, 1, 3, "p q r"),
      (4L, 7, 1, 3, "m n o p"),
      (5L, 9, 2, 6, "z1 z2 g"),
      (6L, 6, 1, 6, ""),
      (7L, 5, 0, 0, "q r s t u"),
      (8L, 8, 0, 0, "h i j k h i j k"),
      (9L, 2, 0, 0, "x y")))
  }

  test("spanDedup: empty text and many alternating islands (the " +
    "linear island-fold + array_except reconstruction internals, k=2)") {
    // owner 0 holds the shared bigrams; doc 1 alternates shared bigram /
    // unique token so the covered set has MANY islands ({1,2}, {4,5},
    // {7,8}, {10,11}); doc 2 is empty text (zero tokens — the
    // sequence(1,0) descending-guard edge)
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b u1 c d u2 e f u3 g h"),
      (2L, "")
    ).toDF("doc_id", "text")
    val got = CurationOps.spanDedup(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id")
      .as[(Long, Int, Int, Int, String)].collect().toSeq
    assert(got === Seq(
      (0L, 8, 0, 0, "a b c d e f g h"),
      (1L, 11, 4, 8, "u1 u2 u3"),
      (2L, 0, 0, 0, "")))
  }

  test("spanDedup refuses k < 2") {
    val docs = Seq((0L, "a b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      CurationOps.spanDedup(docs, "doc_id", "text", k = 1)
    }
    assert(e.getMessage.contains("k must be"))
  }

  test("vocabTopK orders by count desc then token asc") {
    val docs = Seq((1L, "b a b c a b"), (2L, "c a")).toDF("doc_id", "text")
    val got = CurationOps.vocabTopK(docs, "text", 2)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a", 3L), ("b", 3L))) // tie a/b → token asc
  }
}
