package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-curation operators a pre-training pipeline runs before shipping
  * shards: benchmark decontamination, repetition-quality rules, PII-style
  * redaction, stratified mixture sampling, column profiling, vocabulary
  * building. All are DataFrame→DataFrame library operators; the
  * `queries/Curation` entries wire them to the driver's oracle gate.
  *
  * Scale notes are per-operator; the common theme is that every per-doc
  * statistic is an in-scan array fold (no explode+shuffle) and every
  * sample/split decision is a pure hash of the key (pushable filter).
  */
object CurationOps {

  /** Non-distinct word bigram array (the BAG of bigrams — repetition
    * counting needs multiplicity, unlike the shingle SET used for
    * MinHash). Token array is bound once as a column reference, same
    * CSE-avoidance reasoning as TextFunctions.wordShingles.
    */
  private[graft] def bigramsOf(toks: Column): Column = {
    val last = size(toks) - 2
    when(last >= 0, transform(sequence(lit(0), last), i =>
      concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
  }

  /** Largest multiplicity in a string array, computed IN-SCAN: sort the
    * array, then one `aggregate` fold counts the longest equal-run.
    * O(n log n) per row, zero shuffle — the 100 TB alternative to
    * explode → groupBy(doc, gram) → max, which shuffles every gram.
    */
  private[graft] def maxMultiplicity(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("mx")),
      (s, x) => {
        val run = when(x === s.getField("prev"), s.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(s.getField("mx"), run).as("mx"))
      },
      s => s.getField("mx"))

  /** Benchmark decontamination: per-document count of 3-shingles shared
    * with the union shingle set of the benchmark rows (`benchPred`).
    * Returns (id, n_shared, contaminated) for docs with ≥ minShared.
    *
    * The benchmark side is an eval suite — tiny by construction — so it
    * BROADCASTS: corpus shingles never shuffle; the only shuffle is the
    * per-doc count, which partial-aggregates map-side. At 100 TB the
    * corpus side stays a single scan.
    */
  def decontaminate(docs: DataFrame, textCol: String, idCol: String,
      benchPred: Column, minShared: Int = 3, flagAt: Int = 8): DataFrame = {
    // benchPred resolves against the FULL docs row (it may reference a
    // source/tag column, not just idCol), so split before narrowing to
    // the shingle projection
    def shinglesOf(df: DataFrame) = df.select(col(idCol),
      TextFunctions.wordShingles(col(textCol), 3).as("shingles"))
    val bench = shinglesOf(docs.filter(benchPred))
      .select(explode(col("shingles")).as("gram")).distinct()
    val corpus = shinglesOf(docs.filter(!benchPred))
      .select(col(idCol), explode(col("shingles")).as("gram"))
    corpus.join(broadcast(bench), "gram")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .withColumn("contaminated", col("n_shared") >= flagAt)
  }

  /** [[decontaminate]] for a benchmark suite too big to broadcast as an
    * exact set: a Bloom PREFILTER + exact-verify join, result-identical
    * by construction (the verify kills the false positives), shipping
    * ~1.44·log₂(1/fpp) BITS per bench gram instead of the gram strings.
    *
    * Why the broadcast variant stops scaling: the exact distinct bench
    * shingle set must fit in the driver AND every executor — a 10⁸-gram
    * suite at ~25 B/gram is multi-GB before join-hash overhead. The
    * bloom at 3% fpp is 7.3 bits/item (~90 MB for 10⁸ grams), built in
    * ONE distributed pass over `xxhash64(gram)` ([[gramBloom]] —
    * per-partition sketches merged executor-side; NOT the
    * `BloomFilterAggregate` expression, which silently clamps to the
    * runtime-filter session caps at exactly this scale) and applied as
    * a codegen'd scan predicate
    * (`BloomFilterMightContain` on a binary literal) — the corpus side's
    * exploded grams (the trillions-of-rows side at 100 TB) drop to
    * |true matches| + fpp·|corpus grams| BEFORE any shuffle. The
    * exact-verify tail then joins only the SURVIVORS against the bench
    * set — a shuffle join whose corpus side the bloom already cut ~1/fpp
    * and whose bench side never materializes on the driver.
    *
    * EAGER at call time: the sketch build ([[gramBloom]]) runs a Spark
    * job inside this call (the sketch must exist as a literal before
    * the returned plan can be built), so invoking the operator twice
    * builds the sketch twice — callers timing or iterating on the
    * RESULT should hold the returned frame, not re-call the operator.
    *
    * `expectedBenchGrams` sizes the sketch; overshooting wastes bits,
    * undershooting raises the realized fpp (never correctness — the
    * verify is exact at any fpp, a degraded sketch only prefilters
    * less). An EMPTY benchmark side builds an empty sketch that admits
    * nothing, so the result is empty without a special case.
    */
  def decontaminateBloom(docs: DataFrame, textCol: String, idCol: String,
      benchPred: Column, minShared: Int = 3, flagAt: Int = 8,
      expectedBenchGrams: Long = 1L << 20, fpp: Double = 0.03): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1) (got $fpp)")
    def shinglesOf(df: DataFrame) = df.select(col(idCol),
      TextFunctions.wordShingles(col(textCol), 3).as("shingles"))
    val bench = shinglesOf(docs.filter(benchPred))
      .select(explode(col("shingles")).as("gram")).distinct()
    val bloom = gramBloom(bench, "gram", expectedBenchGrams, fpp)
    val corpus = shinglesOf(docs.filter(!benchPred))
      .select(col(idCol), explode(col("shingles")).as("gram"))
    // an empty bench builds an empty sketch that admits nothing — the
    // prefilter alone already yields the correct empty result
    corpus
      .filter(mightContain(bloom, col("gram")))
      // exact-verify join: both sides are now survivor-sized; NOT
      // broadcast by us — the point is the bench set never has to fit
      // anywhere whole (AQE may still pick broadcast when it does fit)
      .join(bench, "gram")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .withColumn("contaminated", col("n_shared") >= flagAt)
  }

  /** Auto-regime boundary for [[decontaminateAuto]]: estimated bench
    * distinct-gram-set bytes above this pick the bloom-prefilter
    * regime. 64 MiB against the measured failure boundary — the exact
    * broadcast set hit 198 MB at a 6.2M-gram suite (4M docs,
    * BLOOM_4m_r13: broadcast 64.7 s vs bloom 30.4 s, the broadcast
    * build visibly stalling) — with ~3× headroom because the exact set
    * must materialize whole on the driver AND in every executor's
    * join hash relation, and real clusters run 8-16 GB executors.
    */
  val BroadcastGramMaxBytes: Long = 64L << 20

  /** [[decontaminate]] with the broadcast-vs-bloom regime AUTO-selected,
    * so the measured exact-broadcast cliff (BLOOM_4m_r13: a 198 MB
    * bench gram set stalls the broadcast build where the 5.7 MB sketch
    * runs 2.1× faster) is handled by default instead of by the caller
    * knowing which variant to call. Results are identical in both
    * regimes by construction — the bloom path's exact-verify tail
    * kills every false positive — so the choice is purely physical
    * (q134 shares q98's oracle verbatim).
    *
    * The regime comes from ONE narrow agg over the bench side
    * (row count + text chars — bench-sized, i.e. exactly the quantity
    * being bounded): distinct shingle strings are bounded above by
    * ~3× the text bytes (every word starts one 3-shingle carrying ~3
    * words) plus per-entry join-hash overhead. The bound ignores
    * cross-doc dedup, so it overestimates on templated suites — which
    * errs toward bloom, the regime that is correct at every scale and
    * merely leaves a few seconds on the table for small suites.
    * `broadcastMaxBytes` forces either regime (-1 always takes the
    * bloom path, `Long.MaxValue` the broadcast). The same estimate
    * sizes the sketch (`expectedBenchGrams` ≈ one gram per word), so
    * the bloom path never inherits a default sized for a different
    * suite.
    */
  def decontaminateAuto(docs: DataFrame, textCol: String, idCol: String,
      benchPred: Column, minShared: Int = 3, flagAt: Int = 8,
      fpp: Double = 0.03,
      broadcastMaxBytes: Long = BroadcastGramMaxBytes): DataFrame = {
    val (rows, estGrams, estSetBytes) =
      benchGramEstimate(docs.filter(benchPred), textCol)
    val useBroadcast = estSetBytes <= broadcastMaxBytes
    System.err.println(s"[graft] decontaminateAuto regime: ~" +
      s"${estSetBytes >> 20} MiB estimated exact gram set for " +
      s"$rows bench rows -> ${if (useBroadcast) "broadcast" else "bloom"}")
    if (useBroadcast)
      decontaminate(docs, textCol, idCol, benchPred, minShared, flagAt)
    else
      decontaminateBloom(docs, textCol, idCol, benchPred, minShared,
        flagAt, expectedBenchGrams = math.max(estGrams, 1L << 16), fpp)
  }

  /** The auto-regime estimator, one narrow agg over the bench side:
    * (rows, estimated distinct grams, estimated exact-set bytes). One
    * definition shared with BloomBench so the recorded decision point
    * can never drift from the operator's.
    */
  private[graft] def benchGramEstimate(bench: DataFrame, textCol: String)
  : (Long, Long, Long) = {
    val est = bench.agg(count(lit(1)),
      coalesce(sum(length(col(textCol))), lit(0L))).head
    val chars = est.getLong(1)
    val grams = math.max(chars / 6L, 1L) // ~1 shingle start per word
    (est.getLong(0), grams, chars * 3L + grams * 16L)
  }

  /** One distributed pass building the serialized bloom sketch over
    * `df(gramCol)` (hashed with xxhash64, the convention Spark's own
    * injected runtime filters use — [[mightContain]] deserializes the
    * same `util.sketch.BloomFilter` form). An empty input yields a
    * valid EMPTY sketch (admits nothing), never null.
    *
    * Built with per-partition `BloomFilter.create` + `treeReduce`
    * rather than the `BloomFilterAggregate` expression on purpose: the
    * aggregate silently clamps to the runtime-row-filter session caps
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems` = 4×10⁶,
    * `maxNumBits` = 2²⁶) — sized for auto-injected join filters, not
    * for an operator whose whole point is a 10⁸-gram suite. Under the
    * clamp a 10⁸-item request builds an 8 MB sketch at ~0.67 bits/item
    * (realized fpp ≈ 0.8) and the prefilter silently collapses;
    * results stay correct (the verify tail is exact at any fpp) but
    * the memory/shuffle blowup the operator exists to prevent returns
    * with no signal. The per-partition build ships no sketch-sized
    * closure (each task allocates its own) and merges executor-side.
    *
    * Every task allocates the FULL sketch and treeReduce ships one per
    * partition, so the build's memory and network cost is
    * O(partitions × sketch bytes) — at 10⁸ grams / 3% fpp that is
    * ~90 MB per partition, which over 10⁴ raw input partitions would
    * be ~1 TB of sketch traffic. The hashed gram stream (8 bytes/row)
    * is therefore COALESCED to the cluster's parallelism before the
    * build — a narrow dependency, no shuffle — capping the cost at
    * O(cores × sketch bytes) regardless of how many files the bench
    * suite arrived in.
    */
  private[graft] def gramBloom(df: DataFrame, gramCol: String,
      expectedItems: Long, fpp: Double): Array[Byte] = {
    // validated on the DRIVER: a non-positive size would otherwise
    // throw from BloomFilter.create inside every executor task
    require(expectedItems > 0,
      s"gramBloom: expectedItems must be positive (got $expectedItems)")
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val sketches = df.select(xxhash64(col(gramCol)).as("h"))
      .rdd.coalesce(math.max(parallelism, 1)).mapPartitions { it =>
        val f = org.apache.spark.util.sketch.BloomFilter
          .create(expectedItems, fpp)
        it.foreach(r => f.putLong(r.getLong(0)))
        Iterator(f)
      }
    // an empty plan can compile to an RDD with ZERO partitions (AQE
    // coalesces empty shuffles away) and treeReduce refuses an empty
    // collection — the empty sketch is built locally instead
    val merged =
      if (sketches.getNumPartitions == 0)
        org.apache.spark.util.sketch.BloomFilter
          .create(math.max(expectedItems, 1L), fpp)
      else sketches.treeReduce((a, b) => { a.mergeInPlace(b); a }, depth = 2)
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    bos.toByteArray
  }

  /** The codegen'd scan predicate testing membership of `gramCol` in a
    * [[gramBloom]] sketch.
    */
  private[graft] def mightContain(bloom: Array[Byte],
      gramCol: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    column(BloomFilterMightContain(
      Literal(bloom, BinaryType), expression(xxhash64(gramCol))))
  }

  /** Gopher-style repetition quality rules: duplicate-token fraction
    * (1 - |set|/|bag|) and top-bigram fraction (max bigram multiplicity
    * over total bigrams), both rounded to 4. The three counts come from
    * ONE native pass per row ([[graft.functions.RepetitionKernel]]; the
    * Column fold form stays as [[maxMultiplicity]]/[[bigramsOf]], the
    * executable spec with a parity test) — the whole operator is one
    * scan projection, no shuffle.
    */
  def repetitionStats(docs: DataFrame, textCol: String, idCol: String,
      dupTokenFlag: Double = 0.6, topBigramFlag: Double = 0.08): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    docs.select(col(idCol),
      column(graft.functions.RepetitionCounts(expression(col(textCol))))
        .as("_c"))
      .select(col(idCol),
        element_at(col("_c"), 1).as("n_tok"),
        element_at(col("_c"), 2).as("n_dist"),
        element_at(col("_c"), 3).as("max_bg"))
      .select(col(idCol),
        when(col("n_tok") > 0,
          round(lit(1.0) - col("n_dist") / col("n_tok").cast("double"), 4))
          .otherwise(0.0).as("dup_token_frac"),
        when(col("n_tok") >= 2,
          round(col("max_bg") / (col("n_tok") - 1).cast("double"), 4))
          .otherwise(0.0).as("top_bigram_frac"))
      .withColumn("repetitive",
        col("dup_token_frac") > dupTokenFlag ||
          col("top_bigram_frac") > topBigramFlag)
  }

  /** PII-style redaction: count and mask every match of `pattern` in
    * `payloadCol`. Pure regexp projection (codegen'd, no UDF) — a scrub
    * pass at 100 TB is a map-only rewrite of the scan.
    */
  def redact(df: DataFrame, payloadCol: String,
      pattern: String = "[0-9]+", replacement: String = "<NUM>"): DataFrame =
    df.withColumn("n_redacted", regexp_count(col(payloadCol), lit(pattern)))
      .withColumn("scrubbed",
        regexp_replace(col(payloadCol), pattern, replacement))

  /** Deterministic stratified sampling flag: keep a row iff its salted
    * hash bucket falls under the stratum's per-mille... per-cent rate.
    * Membership is a pure function of (salt, key): independent streams
    * per salt, stable across re-runs/partitionings/incremental ingests,
    * and a PUSHABLE FILTER — a 100 TB downsample never shuffles.
    * `rates` maps stratum value → percentage in [0,100].
    */
  def stratifiedSampleFlag(strataCol: Column, keyCol: Column,
      rates: Map[String, Int], defaultRate: Int, salt: String): Column = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(strataCol === k, r).otherwise(acc)
    }
    TextFunctions.hashBucket(
      concat(lit(salt + ":"), keyCol.cast("string")), 100) < rate
  }

  /** Token-budget mixture sampling: derive each stratum's keep-rate
    * from its token total so no stratum exceeds `tokenBudget`, then
    * apply the salted deterministic bucket filter. Integer arithmetic
    * end-to-end — rate_ppm = min(10⁶, budget·10⁶ ÷ stratum tokens) — so
    * engines agree exactly. The per-stratum totals are a tiny aggregate
    * (one row per stratum) joined back by broadcast: two passes over
    * the corpus, no driver-side state at all.
    *
    * The rate space is PARTS PER MILLION, not percent: an integer
    * percent floors to ZERO once a stratum exceeds 100× the budget —
    * at 1M docs (~10⁸ tokens) a 20k-token budget rounds to rate 0 and
    * the whole stratum silently vanishes (found by running the
    * registered capstone at 200× the gate scale, DOCS_1m_r13). ppm
    * granularity holds to 10⁶× the budget — ~10¹⁰ tokens per stratum
    * at this budget, and proportionally further at real budgets (a
    * 10¹⁰-token budget saturates Long at ~10¹⁶-token strata, past any
    * single stratum in a 100 TB corpus).
    *
    * Output: the input columns plus `sampled` (the keep flag) and
    * `_rate_ppm` (the stratum's applied rate, for auditing).
    */
  def tokenBudgetSampleFlag(docs: DataFrame, strataCol: Column,
      tokensCol: Column, keyCol: Column, tokenBudget: Long,
      salt: String): DataFrame = {
    val totals = docs.groupBy(strataCol.as("_stratum"))
      .agg(sum(tokensCol).as("_total"))
      // `div`, not `/`: Spark's / on longs returns DOUBLE; integral
      // division is what keeps the rate bit-identical to DuckDB's //.
      // A stratum with zero (or all-NULL) tokens has nothing to budget
      // away — keep it whole at rate 100 instead of letting the NULL
      // division leak into `sampled`.
      .withColumn("_rate_ppm",
        when(col("_total") > 0,
          least(lit(1000000L),
            expr(s"${tokenBudget}L * 1000000L div _total")))
          .otherwise(lit(1000000L)))
    // null-safe equality: a NULL stratum is a groupBy group like any
    // other, so its rows must survive the rate join too
    docs.join(broadcast(totals), strataCol <=> col("_stratum"))
      .withColumn("sampled",
        TextFunctions.hashBucket(
          concat(lit(salt + ":"), keyCol.cast("string")), 1000000)
          < col("_rate_ppm"))
      .drop("_stratum", "_total")
  }

  /** Column profiling: per-column null and exact-distinct counts in ONE
    * pass (Catalyst expands the multi-distinct into a single Expand+agg).
    * At 100 TB swap countDistinct for approx_count_distinct — same plan
    * shape without the Expand; exact here so DuckDB can oracle it.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    // index-based agg aliases + escaped literals: profiled column names
    // may contain quotes/spaces/dots/backslashes without corrupting the
    // stack expr (backslashes first: the default parser — no
    // escapedStringLiterals — treats \ as an escape inside literals)
    val aggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      (count(lit(1)) - count(col(c))).as(s"nn_$i"),
      countDistinct(col(c)).as(s"nd_$i"))
    }
    val stackArgs = cols.zipWithIndex.map { case (c, i) =>
      s"'${c.replace("\\", "\\\\").replace("'", "''")}', nn_$i, nd_$i"
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_nulls, n_distinct)")
  }

  /** Vocabulary building: corpus-wide top-k tokens with a deterministic
    * (count desc, token asc) tie-break. Partial aggregation collapses
    * each partition's token counts before the single shuffle; the top-k
    * is TakeOrdered, never a global sort.
    */
  def vocabTopK(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)

  /** All k-token grams of a document WITH their 1-based start
    * positions, as (pos, gram) structs — the positional twin of
    * [[TextFunctions.wordShingles]]'s distinct set (span removal needs
    * WHERE a gram sits, not just that it occurs). Token array bound
    * once via the array() lambda trick — same CSE-avoidance reasoning
    * as wordShinglesHof: HOF lambdas get no common-subexpression
    * elimination, so a bare reference would re-tokenize per element.
    */
  private[graft] def posGramsOf(text: Column, k: Int): Column =
    element_at(transform(array(TextFunctions.tokens(text)), ts => {
      val last = size(ts) - k
      when(last >= 0, transform(sequence(lit(0), last), i =>
        struct((i + 1).as("pos"),
          concat_ws(" ",
            (0 until k).map(j => element_at(ts, i + j + 1)): _*)
            .as("gram"))))
        .otherwise(array().cast("array<struct<pos:int,gram:string>>"))
    }), 1)

  /** SUBSTRING-level deduplication — cross-document repeated-SPAN
    * removal: every run of ≥ `k` tokens that also appears in an
    * earlier document (smaller id — "first writer owns the text") is
    * trimmed from the later document, which otherwise survives. The
    * complement of document-granularity dedup: exact/MinHash/semantic
    * dedup drop WHOLE near-copies, while the boilerplate a template
    * corpus smears across otherwise-unique documents (headers, license
    * blocks, navigation chrome) survives all of them. Large-scale
    * training-data pipelines run both passes (the ≥50-token duplicated
    * substrings of a crawl are this operator's target, at a
    * token-granularity k the caller picks).
    *
    * Semantics, exactly: a document's token position p is REMOVED iff
    * some k-gram occurrence covering p (start s, s ≤ p ≤ s+k−1) has
    * its gram string present in ANY smaller-id document. Ownership is
    * per-GRAM (global min id over its holders); overlapping and
    * adjacent removed grams merge into spans. Within-document repeats
    * of a doc's own text are NOT removed (that regime is
    * [[repetitionStats]]'s); the owner keeps all its occurrences.
    * Removal is single-level, not transitive — doc C's span shared
    * only with doc B's REMOVED copy still trims (both copies trace to
    * the same owner text), which is the fixed-point a one-pass
    * pipeline wants.
    *
    * Returns one row per input document:
    * (idCol, n_tok, n_spans, n_removed, cleaned_text) — cleaned_text
    * is the surviving tokens re-joined single-spaced (whitespace is
    * normalized by tokenization, as everywhere in this family); a
    * fully-boilerplate document comes back as '' with
    * n_removed = n_tok, never silently dropped.
    *
    * Scale shape (the 100 TB argument): the (id, pos, gram) frame is
    * generated map-side in TWO passes over the source (the ownership
    * side prunes to gram-only pre-aggregate; re-scanning parquet beats
    * materializing a corpus-token-sized gram frame); exchange 1 is the
    * per-gram min-id partial aggregate (collapses map-side — a gram in
    * 10⁶ docs ships one row per partition, not a posting list); the
    * ownership join shuffles on gram (AQE-skew-safe, unlike the
    * window-min alternative whose skewed gram group is one straggler
    * task; ubiquitous boilerplate grams are exactly the skewed keys);
    * exchange 3 collects each trimmed doc's sorted start set —
    * bounded by that doc's own token count.
    * Span merge and text reconstruction are in-scan array folds on the
    * final doc-sized rows. No all-pairs anywhere; total shuffled bytes
    * ≈ token count of the corpus (the gram strings; at 100 TB swap the
    * join key to a 128-bit gram fingerprint — n²/2¹²⁸ collision odds —
    * to ship 16 bytes instead of ~6k per gram... kept exact-string
    * here so the DuckDB oracle gates the operator end-to-end).
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 2, "spanDedup: k must be ≥ 2 (k=1 removes every " +
      "token that appears anywhere earlier — that's a vocabulary, " +
      "not a span)")
    val g = docs
      .select(col(idCol), explode(posGramsOf(col(textCol), k)).as("g"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.gram").as("gram"))
    val own = g.groupBy("gram").agg(min(col(idCol)).as("_owner"))
    val starts = g.join(own, "gram")
      .filter(col(idCol) > col("_owner"))
      .groupBy(idCol)
      .agg(array_sort(collect_set(col("pos"))).as("_starts"))
    // covered positions = union of [s, s+k-1]; islands of that set ARE
    // the merged spans. Both the token array and the covered set are
    // bound ONCE (struct lambda var) before the folds reference them.
    val covExpr = when(col("_starts").isNull, array().cast("array<int>"))
      .otherwise(array_sort(array_distinct(flatten(
        transform(col("_starts"), s => sequence(s, s + lit(k - 1)))))))
    val out = element_at(transform(
      array(struct(TextFunctions.tokens(col(textCol)).as("ts"),
        covExpr.as("cov"))), r => {
        val ts = r.getField("ts")
        val cov = r.getField("cov")
        struct(
          size(ts).as("n_tok"),
          // island starts = covered positions whose predecessor isn't
          size(filter(cov, p => !array_contains(cov, p - 1)))
            .as("n_spans"),
          size(cov).as("n_removed"),
          array_join(
            filter(ts, (t, i) => !array_contains(cov, i + 1)), " ")
            .as("cleaned_text"))
      }), 1)
    docs.select(col(idCol), col(textCol))
      .join(starts, Seq(idCol), "left")
      .select(col(idCol), out.as("_o"))
      .select(col(idCol), col("_o.n_tok").as("n_tok"),
        col("_o.n_spans").as("n_spans"),
        col("_o.n_removed").as("n_removed"),
        col("_o.cleaned_text").as("cleaned_text"))
  }
}
