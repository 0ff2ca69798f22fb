package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.io.StampedLayout

/** Corpus deduplication operators: exact (hash-groupBy), MinHash
  * signatures + banded grouping, SimHash, and token-set Jaccard.
  *
  * Scale design: every op is a hash-partitioned groupBy on a derived key —
  * no global sort, no driver collect. MinHash banding turns the O(n²)
  * near-dup pair search into an equi-join on band keys, which Spark
  * executes as a shuffle-hash join keyed by the band; at 100 TB the band
  * key cardinality keeps bucket sizes bounded (full-signature bands ⇒
  * only true near-identical sets collide).
  *
  * Hash functions are md5-based (not Spark-internal murmur3) so results
  * are portable across engines — the DuckDB oracle computes the same
  * signatures.
  */
object Dedup {

  /** Exact-dup keep/drop decision per row: keep the smallest id per
    * normalized-content hash. One shuffle on the content hash.
    */
  def exactDedupFlags(df: DataFrame, textCol: String, idCol: String)
  : DataFrame = {
    val h = fingerprint(col(textCol)).as("content_hash")
    val w = Window.partitionBy(col("content_hash"))
    df.select(col(idCol), h)
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col(idCol) === min(col(idCol)).over(w))
  }

  /** Salted-min MinHash signature over the distinct token set. Each salt
    * yields an independent permutation approximation; the signature is the
    * k min md5 digests. Portable: min over lexicographic md5 hex strings.
    *
    * Zero shuffle: at 100 TB the signatures materialize during the scan,
    * and only the (tiny) signature columns ever move for banding. This
    * Column form (`array_min ∘ transform`) is the executable
    * specification of [[graft.functions.SaltedMinhashKernel]], which
    * [[minhashAgg]] runs in production (one native pass for all salts;
    * DedupSpec asserts parity).
    */
  def minhashSig(textCol: Column, salt: String): Column =
    array_min(transform(tokenSet(textCol),
      t => md5(concat(lit(salt), t))))

  def minhashAgg(df: DataFrame, textCol: String, idCol: String,
      salts: Seq[String] = Seq("a", "b", "c", "d")): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    df.select(col(idCol),
      column(graft.functions.SaltedMinhashSigs(
        expression(tokenSet(col(textCol))), salts)).as("_s"))
      .select(col(idCol) +: salts.zipWithIndex.map { case (s, i) =>
        element_at(col("_s"), i + 1).as(s"sig_$s") }: _*)
  }

  /** Near-dup groups: documents whose full MinHash signature collides.
    * Returns one row per group with size > 1.
    */
  def minhashDupGroups(df: DataFrame, textCol: String, idCol: String,
      salts: Seq[String] = Seq("a", "b", "c", "d")): DataFrame = {
    val sigs = minhashAgg(df, textCol, idCol, salts)
    val sigCols = salts.map(s => col(s"sig_$s"))
    sigs.groupBy(sigCols: _*)
      .agg(count(lit(1)).as("group_size"),
        min(col(idCol)).as("keeper"))
      .filter(col("group_size") > 1)
  }

  /** Real b×r MinHash banding (default 16 salted signatures in 4 bands
    * of 4): docs agreeing on ALL r signatures within ANY band become
    * candidate pairs — the classic LSH candidate generator with catch
    * probability 1−(1−j^r)^b at Jaccard j (r=4, b=4: ≈0.99 at j=0.9,
    * ≈0.50 at j≈0.68), the recall the single full-signature band
    * misses. Candidates are then verified with exact token-set Jaccard
    * and filtered at `minJaccard`.
    *
    * Scale shape: signatures materialize inline during the scan (zero
    * shuffle); the band join is an equi-join on (band, band_sig) — hash-
    * partitioned by band key, never all-pairs; the verify join rejoins
    * only the candidate ids to their token sets. Bucket sizes stay
    * bounded at 100 TB because r-of-r signature agreement within a band
    * only happens for genuinely similar docs.
    *
    * Exact duplicates are PRE-COLLAPSED: only the smallest-id row per
    * normalized-content fingerprint is banded, so byte-identical docs
    * never appear as pairs here (a group of g identical docs would
    * otherwise contribute g·(g−1)/2 trivial jaccard-1.0 pairs — the
    * quadratic blow-up on template corpora). Output pairs are between
    * group REPRESENTATIVES only; full exact-dup membership comes from
    * [[exactDedupFlags]]. Use [[minhashBandPairsOver]] with
    * `collapseExactOn = None` to band every row.
    */
  def minhashBandPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4, minJaccard: Double = 0.5)
  : DataFrame =
    minhashBandPairsOver(df, tokenSet(col(textCol)), idCol, numHashes,
      bands, minJaccard,
      collapseExactOn = Some(fingerprint(col(textCol))))

  /** The XOR-permutation constants for the k minhash functions —
    * golden-ratio multiples masked to 60 bits (below the base-hash
    * range, overflow-free in both engines). Public so the DuckDB
    * oracles derive the identical family from one source of truth.
    */
  def xorConstants(n: Int): Seq[Long] =
    (1 to n).map(i => (0x9E3779B97F4A7C15L * i) & 0x0FFFFFFFFFFFFFFFL)

  /** (id, band, band_sig) rows for the b×r banding join: one md5 per
    * token materialized in a dedicated projection, k XOR-mixed min-sigs
    * folded over the hashed array, bands exploded. Shared by the
    * within-corpus pair search and the batch-vs-corpus incremental
    * path, and public as THE materializable near-dup index: persist
    * this frame `partitionBy("band")` and an ingest — batch or stream —
    * flags near-dups with a plain equi-join against it, no corpus
    * re-scan ([[crossDedupFlags]] derives it inline; a production
    * deployment writes it once per corpus build). The layout is
    * load-bearing: a lookup restricted to a band subset reads only
    * those directories — both static (metadata pruning) and through
    * the equi-join (dynamic partition pruning), proven by numFiles in
    * PlanRegressionSpec; StreamingSpec's ingest lookup runs against
    * the persisted layout.
    */
  def bandIndex(df: DataFrame, tokensExpr: Column, idCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame =
    stampedBandRows(df, tokensExpr, idCol, numHashes, bands)

  /** [[bandRowsOf]] plus the constant `_params` build stamp (numHashes,
    * bands, tokenizer tag) — the band derivation of every PERSISTABLE
    * band frame: a lookup banded differently than the stored index
    * silently finds nothing, and [[crossDedupFlagsFromIndexes]] turns
    * the stamp into a loud error; the internal bandRowsOf paths stay
    * stampless (the column would ride every candidate shuffle for
    * nothing).
    */
  private def stampedBandRows(df: DataFrame, tokensExpr: Column,
      idCol: String, numHashes: Int, bands: Int, tokensTag: String = "ws3")
  : DataFrame = {
    requireBands(numHashes, bands)
    bandRowsOf(df, tokensExpr, idCol, numHashes, bands)
      .withColumn("_params", lit(bandParams(numHashes, bands, tokensTag)))
  }

  private def requireBands(numHashes: Int, bands: Int): Unit =
    require(numHashes > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must split evenly into $bands bands")

  /** (id, _sigs) — md5 + all k xor-min signatures in ONE native pass
    * over the token array ([[graft.functions.MinhashSigs]]; the Column
    * form paid an interpreted hashing transform plus k CodegenFallback
    * array_min sweeps per row). Split out of [[bandRowsOf]] so
    * [[minhashBandPairsOver]] can checkpoint THIS narrow frame
    * (~numHashes longs/doc) and explode bands from it on both sides of
    * its self-join.
    */
  private def sigRowsOf(df: DataFrame, tokensExpr: Column, idCol: String,
      numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    df.select(col(idCol).as("id"), tokensExpr.as("_t"))
      .filter(size(col("_t")) > 0) // empty docs: no sigs, no bands
      .select(col("id"),
        column(graft.functions.MinhashSigs(expression(col("_t")),
          xorConstants(numHashes))).as("_sigs"))
  }

  /** Explode the k signatures into (id, band, band_sig) rows — the
    * per-band slices are attribute reads over the materialized `_sigs`
    * column.
    */
  private def bandRowsFromSigs(withSigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val r = numHashes / bands
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        concat_ws("_", (b * r until (b + 1) * r).map(j =>
          element_at(col("_sigs"), j + 1).cast("string")): _*)
          .as("band_sig")))
    withSigs
      .select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"),
        col("bs.band_sig").as("band_sig"))
  }

  private def bandRowsOf(df: DataFrame, tokensExpr: Column, idCol: String,
      numHashes: Int, bands: Int): DataFrame =
    bandRowsFromSigs(sigRowsOf(df, tokensExpr, idCol, numHashes),
      numHashes, bands)

  /** The banding machinery over an arbitrary shingle/token-set
    * expression (`graft.functions.TextFunctions.wordShingles` gives the
    * order-sensitive shingle→minhash→band→bucket-join pipeline).
    *
    * Hash family: ONE cryptographic hash per token (first 60 bits of
    * md5), then `numHashes` XOR permutations of it — the standard
    * MinHash construction (k cheap mixes of one strong hash, not k full
    * hashes; XOR by a constant is a bijection of the hash space). At
    * corpus scale this is the difference between 1 and k md5 passes
    * over every shingle array. Portable: DuckDB derives the same 60-bit
    * base hash via CAST('0x'||substring(md5(t),1,15) AS BIGINT).
    *
    * Scale notes: candidates and output are bounded by the corpus's
    * TRUE near-dup structure — a dup-heavy corpus yields many pairs by
    * definition. Token-SET jaccard saturates on template-generated text
    * (shared vocabulary ⇒ half of all pairs can exceed 0.5); the
    * shingle variant stays discriminative there.
    *
    * `collapseExactOn`: exact-dup pre-collapse key (e.g. the content
    * fingerprint). When set, only the smallest-id row per key is banded
    * — identical docs collapse to ONE representative BEFORE the band
    * join, so a group of g byte-identical docs contributes 0 candidate
    * pairs instead of g·(g−1)/2. On template/duplicate-heavy corpora
    * this is the difference between a bounded candidate set and a
    * quadratic blow-up; exact duplicates are already fully handled by
    * [[exactDedupFlags]], which reports every member. Costs one window
    * shuffle on the key — the same shuffle exactDedupFlags pays.
    */
  def minhashBandPairsOver(df: DataFrame, tokensExpr: Column,
      idCol: String, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5, collapseExactOn: Option[Column] = None)
  : DataFrame = {
    requireBands(numHashes, bands)
    val source = collapseExactOn.fold(df)(keepersByKey(df, _, idCol))
    // ONE text scan + ONE pre-collapse window for the whole pair build:
    // the narrow (id, sigs) frame (~numHashes longs/doc) is lazily
    // checkpointed so both sides of the band self-join read it instead
    // of recomputing the scan+window+MinHash pipeline — the
    // un-checkpointed form planned FOUR separate text scans and four
    // keeper windows per pair frame (self-join sides + the two verify
    // joins; no ReusedExchange fires across the differing downstream
    // keys — measured in plans/r18/q84_minhash_band_pairs_before.txt,
    // r18 optimization)
    val sigs = sigRowsOf(source, tokensExpr, idCol, numHashes)
      .localCheckpoint(false)
    val bandRows = bandRowsFromSigs(sigs, numHashes, bands)
    val cands = bandRows.as("x")
      .join(bandRows.as("y"), Seq("band", "band_sig"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
    // verify tokens straight off `df`, NOT `source`: every candidate id
    // is a keeper by construction (only keepers are banded), so the
    // pre-collapse window in the old verify lineage filtered nothing
    // the inner join doesn't — and dropping it removes two more
    // window shuffles + text scans from the plan. Token arrays are
    // derived only for ids the candidate join actually touches.
    val tokSets = df.select(col(idCol).as("id"), tokensExpr.as("toks"))
    val inter = size(array_intersect(col("toks1"), col("toks2")))
    cands
      .join(tokSets.select(col("id").as("id1"), col("toks").as("toks1")),
        "id1")
      .join(tokSets.select(col("id").as("id2"), col("toks").as("toks2")),
        "id2")
      .select(col("id1"), col("id2"),
        round(inter /
          (size(col("toks1")) + size(col("toks2")) - inter).cast("double"),
          4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Smallest-id row per exact key — the shared pre-collapse step: one
    * window shuffle on the key (the shuffle [[exactDedupFlags]] already
    * pays), after which duplicate groups are a single representative.
    */
  private def keepersByKey(df: DataFrame, key: Column, idCol: String)
  : DataFrame =
    df.withColumn("_ck", key)
      .withColumn("_keep", col(idCol) ===
        min(col(idCol)).over(Window.partitionBy(col("_ck"))))
      .filter(col("_keep")).drop("_ck", "_keep")

  /** 16-bit SimHash from md5 hex digits of distinct tokens: bit j is the
    * sign of Σ_tokens (digit_j(md5(tok)) >= '8' ? +1 : -1). Portable
    * across engines; near-dup docs land on nearby codes.
    */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashOver(df, tokenSet(col(textCol)), idCol, nBits = 16)

  /** SimHash code as a pure per-row COLUMN: bit j of the code is the
    * sign of Σ_tokens (digit_j(md5(tok)) >= '8' ? +1 : −1), for up to
    * 32 bits (md5 supplies 32 hex digits).
    *
    * Zero shuffle AND zero interpreted per-element work: the native
    * codegen kernel ([[graft.functions.SimhashKernel]]) runs one MD5
    * pass per token and accumulates the bit sums in a local int array —
    * the signature materializes during the scan, like the MinHash
    * signatures. The previous explode → nBits-sum groupBy shape paid a
    * corpus-cardinality shuffle of (id, token-hash) rows for the same
    * arithmetic (at 100 TB that shuffle IS the job), and an
    * `aggregate`/`zip_with` fold pays ~nBits boxed lambda calls per
    * token (Spark HOFs are CodegenFallback — measured 2.3× slower than
    * even the shuffle shape).
    */
  def simhashCode(tokensExpr: Column, nBits: Int = 32): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    column(graft.functions.SimhashCode(expression(tokensExpr), nBits))
  }

  /** The packed 64-bit code ([[graft.functions.Simhash64Code]]), or its
    * salted twin when `salt` is set.
    */
  private def simhash64Code(tokensExpr: Column, salt: Option[String] = None)
  : Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import graft.functions.{Simhash64Code, Simhash64CodeSalted}
    val t = expression(tokensExpr)
    column(salt.fold[Expression](Simhash64Code(t))(
      Simhash64CodeSalted(t, _)))
  }

  /** The SimHash coding step every SimHash entry point shares: `(id,
    * <code words>)` per document, `codeOf` mapping the token array to
    * the code columns. Empty token sets emit no row (parity with the
    * historical explode shape: a doc with no tokens has no meaningful
    * code). With `collapseExactOn`, code AND collapse key materialize
    * in-scan (both are pure projections), and the collapse window then
    * shuffles only the narrow (id, key, code) rows — the document text
    * never moves — keeping the smallest id per key.
    */
  private def simhashCodes(df: DataFrame, id: Column, tokensExpr: Column,
      collapseExactOn: Option[Column] = None)(codeOf: Column => Seq[Column])
  : DataFrame = {
    val key = collapseExactOn.map(_.as("_ck")).toSeq
    val toks = df.select(id +: tokensExpr.as("_toks") +: key: _*)
      .filter(size(col("_toks")) > 0)
    val idName = toks.columns.head
    val coded = toks.select(col(idName) +: codeOf(col("_toks")) ++:
      key.map(_ => col("_ck")): _*)
    if (collapseExactOn.isEmpty) coded
    else keepersByKey(coded, col("_ck"), idName)
  }

  /** Generalized SimHash per document. Empty token sets emit no row. */
  def simhashOver(df: DataFrame, tokensExpr: Column, idCol: String,
      nBits: Int = 32): DataFrame =
    simhashCodes(df, col(idCol), tokensExpr)(t =>
      Seq(simhashCode(t, nBits).as("simhash")))

  /** SimHash Hamming-neighbor pairs — the lookup the codes exist for:
    * split the code into `bands` bit-ranges; by pigeonhole any pair
    * within Hamming distance < bands agrees EXACTLY on at least one
    * band, so the candidate search is an equi-join on (band, band_bits)
    * — never all-pairs — followed by an exact popcount verify at
    * `maxHamming`. Same b×r trick as MinHash banding, in Hamming space.
    *
    * Defaults are the scale shape: a 32-bit code over 3-word SHINGLES in
    * 4 bands of 8 bits. Shingles keep the code discriminative on
    * template-heavy corpora where token-SET codes collapse (shared
    * vocabulary ⇒ near-identical bit sums for almost all docs), and
    * 8-bit bands give 256 buckets/band where 4-bit bands give 16 — the
    * difference between a bounded candidate join and corpus²/16. Exact
    * dups are pre-collapsed (identical docs ⇒ distance 0 — they would
    * dominate candidates and are already reported by
    * [[exactDedupFlags]]). The code travels WITH the band rows, so the
    * verify needs no rejoin to the corpus.
    *
    * '''Small-corpus / compat variant.''' The 8-bit band key is a fixed
    * 256-value domain, so per-bucket occupancy — and with it the
    * candidate join — grows as n²/2⁹ once n ≫ 256·bands (measured: OOM
    * at 500k docs, SCALE_r09.md §4). For any corpus that can grow, use
    * [[simhashNeighbors64]] — the default entry point — whose 16-bit
    * bands push the occupancy knee out 256×.
    */
  @deprecated("the 8-bit band key's fixed 256-value domain makes " +
    "candidate pairs grow n²/2⁹ — measured OOM at 500k docs " +
    "(SCALE_r09.md §4). Use simhashNeighbors64, whose 16-bit bands " +
    "push the occupancy knee out 256×; keep this form only for " +
    "corpora provably bounded ≪ 100k docs that must match a stored " +
    "32-bit code.", "round 10")
  def simhashNeighbors(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 2): DataFrame =
    simhashNeighborsOver(df, wordShingles(col(textCol), 3), idCol,
      maxHamming = maxHamming,
      collapseExactOn = Some(fingerprint(col(textCol))))

  /** `maxBucket` is the hot-bucket guard of [[bandedHammingPairs]]:
    * buckets over it stream through an equi-join instead of one
    * grouped row — same pairs, no extra shuffle.
    */
  @deprecated("32-bit codes cap bands at 8 bits (n²/2⁹ candidate " +
    "growth, measured OOM at 500k docs — SCALE_r09.md §4); use " +
    "simhashNeighbors64Over unless a stored 32-bit code must be " +
    "matched on a provably small corpus.", "round 10")
  def simhashNeighborsOver(df: DataFrame, tokensExpr: Column,
      idCol: String, nBits: Int = 32, bands: Int = 4, maxHamming: Int = 2,
      collapseExactOn: Option[Column] = None, maxBucket: Int = 4096)
  : DataFrame = {
    require(nBits % bands == 0,
      s"nBits ($nBits) must split evenly into $bands bands")
    // the md5-digit construction ([[SimhashCode]]) supplies at most 32
    // bits, and 32 also keeps the packed code exact through the
    // unsigned conv → signed long cast below (a 64-bit MSB-set code
    // would NULL out and silently drop its pairs at the verify)
    require(nBits >= 1 && nBits <= 32,
      s"nBits ($nBits) must be in [1, 32]: simhash bits come from md5's " +
        "32 hex digits")
    requirePigeonhole(maxHamming, bands)
    // the bit-string code collapses to ONE long in the scan: the band
    // keys are then shift+mask reads and the verify is `bit_count(xor)`,
    // and every downstream row ships 8 bytes instead of nBits chars
    val codes = simhashCodes(df, col(idCol).as("id"), tokensExpr,
      collapseExactOn)(t =>
      Seq(conv(simhashCode(t, nBits), 2, 10).cast("long").as("code")))
    bandedHammingPairs(codes, Seq("code"), nBits, nBits / bands,
      maxHamming, maxBucket)
  }

  /** Packed 64-bit SimHash per document (LONG column `simhash64`).
    * Empty token sets emit no row, matching [[simhashOver]].
    */
  def simhash64Over(df: DataFrame, tokensExpr: Column, idCol: String)
  : DataFrame =
    simhashCodes(df, col(idCol), tokensExpr)(t =>
      Seq(simhash64Code(t).as("simhash64")))

  /** 64-bit banded Hamming-neighbor pairs over 3-word shingles — '''the
    * default SimHash neighbor entry point'''. Same b×r pigeonhole
    * search as [[simhashNeighbors]], but the code is the packed-long
    * [[graft.functions.Simhash64Code]] and the 4 bands are 16 bits
    * wide: 65,536 buckets per band where the 32-bit form has 256. The
    * 8-bit band key is a FIXED domain — per-bucket occupancy, and with
    * it the candidate join, grows as n²/2⁹ on ANY corpus once
    * n ≫ 256·bands (measured: the quadratic term overtakes the
    * char-linear scan between 50k and 500k docs, SCALE_r09.md §4). 16-bit
    * bands push that knee out 256×, and
    * [[simhashNeighbors64Over]]'s `bandBits` parameterizes it further
    * for corpora past ~10⁷ docs. Prefer this form unless the corpus is
    * provably bounded ≪ 100k docs AND a stored 32-bit code must be
    * matched.
    */
  def simhashNeighbors64(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 2): DataFrame =
    simhashNeighbors64Over(df, wordShingles(col(textCol), 3), idCol,
      maxHamming = maxHamming,
      collapseExactOn = Some(fingerprint(col(textCol))))

  /** Long-code variant of [[simhashNeighborsOver]]: bands are bit
    * ranges of the packed 64-bit code (no string ever materializes).
    * `bandBits` must divide 64; recall is guaranteed for
    * `maxHamming < 64/bandBits` by pigeonhole, and the call refuses
    * settings that void the guarantee unless `allowPartialRecall` opts
    * in EXPLICITLY — bandBits = 32 with maxHamming = 2 finds a
    * distance-2 pair only when both flipped bits land in the same
    * 32-bit band.
    *
    * MEASURED (graft.BandBench, 1M docs, BAND_1m_r11.json): the
    * 16-bit default's candidate occupancy is the knee past ~10⁷ docs
    * (n²/2¹⁶ per band; 3.6× cost at docs ×2, SCALE_r10 §2); 32-bit
    * bands push the occupancy domain to 2³² at a measured
    * pairs-recall cost recorded in SCALE_r11 §2 — every missed pair
    * sits at exactly Hamming 2, the pigeonhole edge.
    */
  def simhashNeighbors64Over(df: DataFrame, tokensExpr: Column,
      idCol: String, bandBits: Int = 16, maxHamming: Int = 2,
      collapseExactOn: Option[Column] = None, maxBucket: Int = 4096,
      allowPartialRecall: Boolean = false)
  : DataFrame = {
    require(64 % bandBits == 0 && bandBits >= 1 && bandBits <= 32,
      s"bandBits ($bandBits) must divide 64 and leave ≥2 bands")
    requirePigeonhole(maxHamming, 64 / bandBits, Some(allowPartialRecall))
    val codes = simhashCodes(df, col(idCol).as("id"), tokensExpr,
      collapseExactOn)(t => Seq(simhash64Code(t).as("code")))
    bandedHammingPairs(codes, Seq("code"), 64, bandBits, maxHamming,
      maxBucket)
  }

  /** 128-bit SimHash neighbor pairs — the band-domain lever that does
    * NOT shrink the pigeonhole guarantee: 64-bit codes offer either
    * 16-bit bands (4 bands, H ≤ 2 guaranteed, 2¹⁶ occupancy domain —
    * quadratic knee past ~10⁶ docs, SCALE_r10 §2) or 32-bit bands
    * (2³² domain but only 2 bands ⇒ H ≤ 1 guaranteed; measured 29% of
    * the H ≤ 2 pairs lost, BAND_1m_r11.json). A 128-bit code with
    * 32-bit bands has BOTH: 4 bands ⇒ H ≤ 3 guaranteed by pigeonhole,
    * per-band occupancy n²/2³².
    *
    * The code is two independent 64-bit simhashes over the same
    * shingle set — the second over salt-suffixed shingles (`tok ⧺
    * "#2"`, mirrored exactly by the DuckDB oracle as `md5(tok ||
    * '#2')`) — so the existing native one-pass kernel runs twice in
    * the same scan and no new expression is needed. Hamming distance
    * is the sum of the two 64-bit XOR popcounts.
    *
    * CALIBRATION: distances here are ~Binomial-doubled versions of the
    * 64-bit code's (a 64-bit-H=2 pair lands at mean 4, sd ≈ 2), so
    * thresholds do NOT map proportionally — measured at 1M docs
    * (SCALE_r11 §2): H ≤ 3 keeps ~30% of the 64/16 H ≤ 2 population
    * (a substantially TIGHTER similarity notion), H ≤ 4 ~55%, with
    * disagreement in both directions because the longer code is a
    * √2-lower-variance estimator of the same shingle similarity.
    * Calibrate `maxHamming` (3…5 spans the 64-bit H ≤ 2 strictness
    * range; >3 needs `allowPartialRecall`) to the corpus rather than
    * porting the 64-bit threshold.
    */
  def simhashNeighbors128(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashNeighbors128Over(df, wordShingles(col(textCol), 3), idCol,
      maxHamming = maxHamming,
      collapseExactOn = Some(fingerprint(col(textCol))))

  /** See [[simhashNeighbors128]]. `bandBits` ∈ {8, 16, 32} (must
    * divide 64 so every band sits inside one of the two longs);
    * recall is guaranteed for `maxHamming < 128/bandBits`, and as in
    * the 64-bit form, voiding the guarantee requires the explicit
    * `allowPartialRecall` opt-in.
    */
  def simhashNeighbors128Over(df: DataFrame, tokensExpr: Column,
      idCol: String, bandBits: Int = 32, maxHamming: Int = 3,
      collapseExactOn: Option[Column] = None, maxBucket: Int = 4096,
      allowPartialRecall: Boolean = false): DataFrame = {
    require(64 % bandBits == 0 && bandBits >= 8 && bandBits <= 32,
      s"bandBits ($bandBits) must divide 64 (each band inside one long)")
    requirePigeonhole(maxHamming, 128 / bandBits, Some(allowPartialRecall))
    val codes = simhashCodes(df, col(idCol).as("id"), tokensExpr,
      collapseExactOn)(t => Seq(simhash64Code(t).as("hi"),
      simhash64Code(t, Some("#2")).as("lo")))
    bandedHammingPairs(codes, Seq("hi", "lo"), 64, bandBits, maxHamming,
      maxBucket)
  }

  /** The pigeonhole guard of every banded Hamming search: `bands` bands
    * guarantee recall only for distances < `bands`. `allowPartial` is
    * the caller's `allowPartialRecall` opt-in, where it has one.
    */
  private def requirePigeonhole(maxHamming: Int, bands: Int,
      allowPartial: Option[Boolean] = None): Unit =
    require(maxHamming < bands || allowPartial.contains(true),
      s"pigeonhole: $bands bands only guarantee recall for distance < " +
        s"$bands" + allowPartial.fold("")(_ => " — pass " +
          "allowPartialRecall=true to accept probabilistic recall at " +
          "this bandBits (trade measured in SCALE_r11)"))

  /** The banded Hamming search every SimHash width shares: band rows,
    * bucket-occupancy window, hot-bucket guard, popcount verify,
    * cross-band dedup → (id1, id2, hamming) at `maxHamming`.
    *
    * `codes` carries (id, `words`): the code as long columns of
    * `wordBits` bits each, read as one bit string, word 0 first. Band b
    * is the b-th `bandBits`-wide slice of it, MSB-first — matching the
    * hex-prefix reading order of the oracles' bit-string rendering —
    * extracted with shift+mask; shiftrightunsigned keeps the top band
    * exact on negative codes (MSB set). `bandBits` must divide
    * `wordBits` (each band inside one word) and be ≤ 32.
    *
    * One shuffle on (band, bits) — the bucket-size window rides it, and
    * both guard branches reuse the same exchange. Every row ships its
    * code as 8 bytes per word, so the verify is a sum of
    * `bit_count(xor)` — one codegen'd instruction per word per pair.
    * `maxBucket` is the hot-bucket guard: band bits are NOT uniformly
    * distributed (template-heavy corpora skew the sign sums), so a
    * single bucket can approach corpus size. Buckets at or under the
    * threshold expand to pairs via the grouped array pass; buckets OVER
    * it are routed to a streamed equi-join on the bucket key instead —
    * same pairs, but never a corpus-sized `collect_list` row on one
    * executor.
    */
  private def bandedHammingPairs(codes: DataFrame, words: Seq[String],
      wordBits: Int, bandBits: Int, maxHamming: Int, maxBucket: Int)
  : DataFrame = {
    val perWord = wordBits / bandBits
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until words.size * perWord).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col(words(b / perWord)),
          wordBits - bandBits * (b % perWord + 1))
          .bitwiseAND(lit(mask)).as("bits")))
    val keyed = col("id") +: words.map(col)
    val bandRows = codes
      .select(keyed :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(keyed :+ col("bb.band").as("band") :+
        col("bb.bits").as("bits"): _*)
      .withColumn("_g", count(lit(1))
        .over(Window.partitionBy(col("band"), col("bits"))))
      .filter(col("_g") > 1)
    // Within-bucket pairs via ONE grouped pass, not a self-join: a
    // DataFrame self-join would evaluate the whole upstream (scan →
    // collapse window → shingle md5 fold) once per join side — Spark
    // reuses exchanges, not arbitrary subplans. Each (band, bits)
    // bucket materializes as one row whose member list expands to its
    // i<j pairs with array HOFs; `maxBucket` keeps that row bounded.
    // The HOF lambda copies the (id, code) structs VERBATIM — higher-
    // order functions run interpreted (CodegenFallback), so the
    // id-ordering arithmetic waits for the codegen'd projection after
    // the explode (measured ~4× less interpreted work per pair).
    val buckets = bandRows.filter(col("_g") <= maxBucket)
      .groupBy(col("band"), col("bits"))
      .agg(collect_list(struct(keyed: _*)).as("ms"))
    val pairArr = flatten(transform(col("ms"), (m, i) =>
      transform(slice(col("ms"), i + lit(2), size(col("ms"))), n =>
        struct(m.as("a"), n.as("b")))))
    def pairCols(a: String, b: String): Seq[Column] =
      col(s"$a.id").as("xid") +: col(s"$b.id").as("yid") +:
        (words.indices.map(i => col(s"$a.${words(i)}").as(s"ac$i")) ++
          words.indices.map(i => col(s"$b.${words(i)}").as(s"bc$i")))
    val smallCands = buckets.select(explode(pairArr).as("p"))
      .select(pairCols("p.a", "p.b"): _*)
    // Hot buckets: equi-join on the bucket key streams the g² pair
    // enumeration through the shuffle machinery (spillable) instead of
    // collecting g members into one aggregation row.
    val hot = bandRows.filter(col("_g") > maxBucket)
      .select(col("id") +: col("band") +: col("bits") +: words.map(col): _*)
    val hotCands = hot.as("x").join(hot.as("y"), Seq("band", "bits"))
      .filter(col("x.id") < col("y.id"))
      .select(pairCols("x", "y"): _*)
    // Verify BEFORE the cross-band dedup: hamming is a pure function of
    // the pair, so the distinct shuffles (id1, id2, hamming) — two longs
    // and an int — and only for pairs that already passed the distance
    // cut. A pair caught by ≤`bands` bands recomputes the popcount that
    // many times; one xor+popcount beats shipping codes through a
    // shuffle.
    val ham = words.indices.map(i =>
      bit_count(col(s"ac$i").bitwiseXOR(col(s"bc$i"))).cast("int"))
      .reduce(_ + _)
    smallCands.unionByName(hotCands)
      .select(least(col("xid"), col("yid")).as("id1"),
        greatest(col("xid"), col("yid")).as("id2"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Auto-regime boundary for [[crossDedupFlags]]: estimated batch
    * shingle-frame bytes above this pick the shuffle regime. 256 MiB
    * against the measured failure boundary — ~600 MB of shingle frames
    * (4M-doc corpus, 400k-doc batch) killed the broadcast build twice
    * (DOCS_4m_r13/r14) — with 2× headroom for the driver holding up to
    * three batch-derived broadcasts concurrently and for per-executor
    * copies on a real cluster's 8-16 GB executors.
    */
  val BroadcastShingleMaxBytes: Long = 256L << 20

  /** Incremental-ingest dedup: flag each BATCH document as an exact
    * and/or near duplicate of the existing CORPUS — the daily-ingest
    * decision ("is this new document already in the training set?")
    * without ever pairing batch docs against each other.
    *
    * Scale shape (batch ≪ corpus, the defining property of an ingest):
    * every corpus-sided step is MAP-SIDE — the batch fingerprints, band
    * rows, candidate ids, and token sets all broadcast, so the 100 TB
    * corpus is never shuffled. It IS read three times (fingerprint pass,
    * banding pass, candidate-pruned verify pass) — three scans, zero
    * shuffles; a production deployment amortizes the first two into the
    * stored fingerprint/band indexes. Exact membership is a
    * broadcast semi-join on the content fingerprint; near-dup candidates
    * come from the same b×r banding family as [[minhashBandPairsOver]]
    * (identical signatures, so a corpus-side band INDEX materialized by
    * a previous run is directly reusable), verified with exact Jaccard
    * at `minJaccard`.
    *
    * The near-dup unit is the 3-word SHINGLE set, not the token set:
    * token-set Jaccard saturates on template corpora (shared vocabulary
    * ⇒ candidates approach batch×corpus — measured 10× slower on the
    * synthetic corpus), while shingles only collide on preserved local
    * word order. Pass `tokensOf` to override — unlike the index-backed
    * variants there is no `tokensTag` here: the inline path derives
    * every artifact from `tokensOf` within one call and persists
    * nothing, so there is no stored stamp for a tag to name.
    */
  def crossDedupFlags(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.3,
      tokensOf: Column => Column = wordShingles(_, 3),
      broadcastMaxBytes: Long = BroadcastShingleMaxBytes): DataFrame = {
    requireBands(numHashes, bands)
    // The broadcast regime BOUNDS the batch: its (id, fp, toks) frame
    // must fit in the driver and every executor — the production ingest
    // shape (a bounded arrival batch vs an unbounded corpus). A batch
    // that GROWS with the corpus (a fixed fraction, a backfill) blows
    // the broadcast build — measured at 4M docs / 400k-doc batch
    // (~600 MB of shingle frames, DOCS_4m_r13 AND r14) — where the
    // shuffle regime swaps every batch-side broadcast for a plain
    // shuffle equi-join: the corpus shuffles too (that is the price of
    // a corpus-sized batch), but nothing must fit whole anywhere.
    // Flags are identical either way (q130 shares q104's oracle).
    //
    // The regime is AUTO-selected: one narrow batch-sided agg (row
    // count + text chars) estimates the dominant broadcast — the
    // shingle frame, ~3× the text (every word lands in ~3 three-word
    // shingles) plus per-row array overhead — and estimates above
    // `broadcastMaxBytes` take the shuffle regime. The estimate costs
    // one extra batch scan (batch-sized, i.e. exactly the quantity
    // being bounded), and is deliberately coarse: chars ≈ bytes and
    // the 3× multiplier assume the default `wordShingles(_, 3)`
    // tokenizer; a custom `tokensOf` with very different expansion
    // should force its regime through `broadcastMaxBytes` (-1 always
    // shuffles, `Long.MaxValue` always broadcasts).
    val est = batch.agg(count(lit(1)),
      coalesce(sum(length(col(textCol))), lit(0L))).head
    val rows = est.getLong(0)
    val estShingleBytes = est.getLong(1) * 3L + rows * 64L
    val useBroadcast = estShingleBytes <= broadcastMaxBytes
    System.err.println(s"[graft] crossDedupFlags auto regime: ~" +
      s"${estShingleBytes >> 20} MiB estimated shingle frame for " +
      s"$rows batch rows -> ${if (useBroadcast) "broadcast" else "shuffle"}")
    // the candidate join runs BEFORE the shingle projection of the
    // corpus verify side — Catalyst has no rule to push a join below a
    // projection, so ordering it here is what keeps the shingle+md5
    // work off the non-candidate rows
    batchVsCorpusFlags(batch, textCol, idCol, numHashes, bands,
      minJaccard, tokensOf, if (useBroadcast) broadcast else identity,
      corpus.select(fingerprint(col(textCol)).as("fp")),
      bandRowsOf(corpus, tokensOf(col(textCol)), idCol, numHashes, bands),
      cands => corpus.select(col(idCol).as("cid"), col(textCol))
        .join(cands, Seq("cid"))
        .select(col("cid"), col("bid"), tokensOf(col(textCol)).as("ctoks")))
  }

  /** The batch-vs-corpus flag body [[crossDedupFlags]] and
    * [[crossDedupFlagsFromIndexes]] share: the corpus side comes in as
    * its fingerprints `(fp)`, its band rows `(id, band, band_sig)`
    * (by name: the index path's stamp check runs where the inline path
    * derived them) and `candToks`, which turns the candidate
    * `(bid, cid)` rows into `(cid, bid, ctoks)` rows. `wrap` is the
    * batch-side join hint — `broadcast`, or `identity` for the shuffle
    * regime. Exact: fingerprint semi-join. Near: band equi-join, then
    * exact Jaccard of the candidate pairs at `minJaccard`.
    *
    * The narrow batch frame (id, fingerprint, token set) materializes
    * ONCE via a (lazy) local checkpoint: it feeds three joins (exact
    * fingerprints, band rows, verify token sets) that would otherwise
    * EACH re-run the batch scan + md5 + shingle pipeline — subplans
    * don't reuse across consumers, only exchanges do. A
    * localCheckpoint rather than persist() on purpose: an internal
    * persist has no unpersist hook, and CacheManager holds cached
    * frames until session end — one leaked ingest-batch cache per call
    * in a long-lived ingest loop — while checkpoint blocks are
    * reference-tracked and reclaimed by the ContextCleaner once the
    * returned flags frame is dropped. Trade-off: lineage truncation
    * means an executor loss fails the ingest job instead of
    * recomputing (rerun the batch; flags are deterministic).
    */
  private def batchVsCorpusFlags(batch: DataFrame, textCol: String,
      idCol: String, numHashes: Int, bands: Int, minJaccard: Double,
      tokensOf: Column => Column, wrap: DataFrame => DataFrame,
      corpusFps: DataFrame, corpusBands: => DataFrame,
      candToks: DataFrame => DataFrame): DataFrame = {
    val bToks = corpusProfile(batch, textCol, idCol, tokensOf)
      .localCheckpoint(false)
    val exactIds = corpusFps
      .join(wrap(bToks.select(col("id"), col("fp"))), Seq("fp"))
      .select(col("id")).distinct()
    val bBands = bandRowsOf(bToks, col("toks"), "id", numHashes, bands)
    val cands = corpusBands
      .join(wrap(bBands.withColumnRenamed("id", "bid")),
        Seq("band", "band_sig"))
      .select(col("bid"), col("id").as("cid")).distinct()
    val inter = size(array_intersect(col("btoks"), col("ctoks")))
    val nearIds = candToks(wrap(cands))
      .join(wrap(bToks.select(col("id").as("bid"),
        col("toks").as("btoks"))), Seq("bid"))
      .select(col("bid"),
        (inter / (size(col("btoks")) + size(col("ctoks")) - inter)
          .cast("double")).as("j"))
      .filter(round(col("j"), 4) >= minJaccard)
      .select(col("bid").as("id")).distinct()
    batch.select(col(idCol).as("id"))
      .join(exactIds.withColumn("exact_dup", lit(true)), Seq("id"), "left")
      .join(nearIds.withColumn("near_dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
  }

  /** The narrow per-document corpus profile `(id, fp, toks)` every
    * index derives from — ONE text scan + shingle pipeline. For big
    * corpora, persist THIS once and build the indexes from the reload
    * ([[corpusIndexesFromProfile]]); deriving the three indexes
    * straight from text ([[corpusIndexes]]) re-runs the scan per
    * artifact.
    */
  def corpusProfile(corpus: DataFrame, textCol: String, idCol: String,
      tokensOf: Column => Column = wordShingles(_, 3)): DataFrame =
    corpus.select(col(idCol).as("id"),
      fingerprint(col(textCol)).as("fp"), tokensOf(col(textCol)).as("toks"))

  /** The three corpus-side artifacts [[crossDedupFlags]] derives
    * inline, as frames to persist once per corpus build: fingerprints
    * `(id, fp)`, the near-dup band index `(id, band, band_sig,
    * _params)` (write it `partitionBy("band")` — pruning proven in
    * PlanRegressionSpec), and token sets `(id, toks)`. ONE canonical
    * derivation so [[crossDedupFlagsFromIndexes]] is flag-identical to
    * the inline path by construction. The band frame carries a constant
    * `_params` column stamping (numHashes, bands, tokenizer tag): a
    * lookup run with different banding than the index was built with
    * would otherwise return silently-empty candidates — the stamp
    * turns that into a loud runtime error.
    *
    * `tokensTag` names the TOKENIZER in the stamp: band signatures
    * from different token spaces never collide either, so an index
    * built under one `tokensOf` and looked up (or appended to) under
    * another is the same silent-empty failure — and a function can't
    * be hashed, so the contract is label-based: pass a distinct tag
    * whenever you pass a non-default `tokensOf`. The default tag
    * names the default `wordShingles(_, 3)`.
    */
  def corpusIndexesFromProfile(profile: DataFrame, numHashes: Int = 16,
      bands: Int = 4, tokensTag: String = "ws3")
  : (DataFrame, DataFrame, DataFrame) =
    (profile.select(col("id"), col("fp")),
      stampedBandRows(profile, col("toks"), "id", numHashes, bands,
        tokensTag),
      profile.select(col("id"), col("toks")))

  /** [[corpusIndexesFromProfile]] over raw corpus text. Each returned
    * frame re-derives the profile when materialized (three text scans
    * at build time) — stage [[corpusProfile]] to storage first when
    * build I/O matters. `tokensTag` must change with `tokensOf`
    * (label-based tokenizer identity — see
    * [[corpusIndexesFromProfile]]).
    */
  def corpusIndexes(corpus: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4,
      tokensOf: Column => Column = wordShingles(_, 3),
      tokensTag: String = "ws3")
  : (DataFrame, DataFrame, DataFrame) =
    corpusIndexesFromProfile(corpusProfile(corpus, textCol, idCol,
      tokensOf), numHashes, bands, tokensTag)

  private def bandParams(numHashes: Int, bands: Int, tokensTag: String)
  : String =
    s"mh$numHashes/b$bands/$tokensTag"

  /** Stamps a lookup/append under (numHashes, bands, tokensTag)
    * ACCEPTS: the current three-field format, plus — when `tokensTag`
    * is the default "ws3" — the two-field `mh<n>/b<b>` format written
    * before the stamp named its tokenizer. Every pre-tag layout was
    * necessarily built with the default `wordShingles(_, 3)` (the tag
    * was introduced WITH the first non-default tokenizer support), so
    * the two-field stamp identifies the same banding family and
    * refusing it would orphan existing layouts for no safety gain; a
    * NON-default tag never matches a legacy stamp — the legacy layout
    * cannot prove its tokenizer, which is exactly the mismatch the
    * stamp exists to catch.
    */
  private def acceptedBandParams(numHashes: Int, bands: Int,
      tokensTag: String): Seq[String] =
    Seq(bandParams(numHashes, bands, tokensTag)) ++
      (if (tokensTag == "ws3") Seq(s"mh$numHashes/b$bands") else Nil)

  /** Build AND persist the [[corpusIndexes]] triple under one root —
    * `dir/fp` (fingerprints), `dir/band` (`partitionBy("band")` with
    * the banding-params stamp + O(1) sidecar), `dir/tok` (token sets)
    * — the text-dedup analog of [[Similarity.ivfIndexWrite]], so the
    * index family gets the same managed lifecycle the ANN family has
    * (write → append → compact) instead of leaving persistence
    * conventions to each caller. One text pass: the shared profile is
    * staged to the sibling `<dir>_profile_tmp` and deleted after the
    * three projections commit (the in-memory alternative caches
    * corpus-scale text on executors). The staging root sits outside
    * every tree a reader lists, and its name does not start with `_`
    * or `.`, which Spark would hide from its own read-back.
    */
  def corpusIndexesWrite(corpus: DataFrame, textCol: String,
      idCol: String, dir: String, numHashes: Int = 16, bands: Int = 4,
      tokensOf: Column => Column = wordShingles(_, 3),
      tokensTag: String = "ws3"): Unit = {
    val spark = corpus.sparkSession
    val (fs, root) = graft.io.FsUtil.fsOf(spark, dir)
    val prof = new org.apache.hadoop.fs.Path(root.getParent,
      root.getName + "_profile_tmp")
    corpusProfile(corpus, textCol, idCol, tokensOf)
      .write.mode("overwrite").parquet(prof.toString)
    val (fpI, bandI, tokI) = corpusIndexesFromProfile(
      spark.read.parquet(prof.toString), numHashes, bands, tokensTag)
    // the three projections read the SAME staged profile and write
    // DISJOINT trees — overlapped so each write's task tail and commit
    // back-fill the others (guide §2.6); the sidecar stays strictly
    // after the band data it stamps
    graft.io.ParallelActions.run(Seq(
      () => fpI.write.mode("overwrite").parquet(s"$dir/fp"),
      () => bandI.write.partitionBy("band").mode("overwrite")
        .parquet(s"$dir/band"),
      () => tokI.write.mode("overwrite").parquet(s"$dir/tok")))
    StampedLayout.writeStampSidecar(spark, s"$dir/band",
      bandParams(numHashes, bands, tokensTag))
    fs.delete(prof, true): Unit
  }

  /** Reload a [[corpusIndexesWrite]] layout as the
    * (fingerprints, bandIndex, tokenSets) triple
    * [[crossDedupFlagsFromIndexes]] consumes.
    */
  def corpusIndexesRead(spark: org.apache.spark.sql.SparkSession,
      dir: String)
  : (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/fp"),
      spark.read.parquet(s"$dir/band"),
      spark.read.parquet(s"$dir/tok"))

  /** Incremental append to a persisted [[corpusIndexesWrite]] layout —
    * the ingest path of the text-dedup index family, mirroring
    * [[Similarity.ivfIndexAppend]]: the new docs' artifacts are derived
    * in ONE batch-sized text pass and appended; the existing indexes
    * are never read beyond the O(1) band-stamp check and never
    * rewritten. A layout built under different banding params refuses
    * BEFORE any write (mismatched banding silently matches nothing —
    * the failure the stamp exists for).
    *
    * Failure atomicity: the stamp check precedes all writes, and the
    * band tree is appended FIRST; a crash between appends leaves the
    * batch partially visible, and every partial state only MISSES the
    * new docs (an fp/tok row without band rows — or band rows whose
    * token sets are absent — drops candidates, never fabricates
    * matches), the same degraded-to-missing contract as any
    * not-yet-ingested batch. Re-running the append repairs it
    * (duplicate index rows change no flags: candidates are
    * `.distinct()`-ed and the verify join is per-(bid, cid)).
    *
    * Band-tree fragmentation from a micro-batch loop is the same
    * cell-directory problem as the IVF index;
    * `Similarity.compactCells(spark, s"$dir/band", n, "band")` is the
    * identical cure (layout-agnostic, spec-proven).
    */
  def corpusIndexesAppend(newDocs: DataFrame, textCol: String,
      idCol: String, dir: String, numHashes: Int = 16, bands: Int = 4,
      tokensOf: Column => Column = wordShingles(_, 3),
      tokensTag: String = "ws3"): Unit = {
    val prof = corpusProfile(newDocs, textCol, idCol, tokensOf)
      .localCheckpoint(false) // batch-sized: one text pass feeds all three
    val (fpI, bandI, tokI) = corpusIndexesFromProfile(prof,
      numHashes, bands, tokensTag)
    // appending to a LEGACY layout (two-field pre-tokenizer-tag stamp,
    // accepted under the default tag — [[acceptedBandParams]]): verify
    // against and stamp the new rows with the layout's OWN stamp, so
    // the tree stays stamp-homogeneous instead of mixing formats
    val layoutStamp = StampedLayout.readStampSidecar(
      newDocs.sparkSession, s"$dir/band")
      .filter(acceptedBandParams(numHashes, bands, tokensTag).contains)
      .getOrElse(bandParams(numHashes, bands, tokensTag))
    Similarity.appendToStampedLayout(
      bandI.withColumn("_params", lit(layoutStamp)), s"$dir/band",
      layoutStamp, "corpusIndexesAppend",
      partitionCol = "band",
      desc = "band index built under different banding params")
    fpI.write.mode("append").parquet(s"$dir/fp")
    tokI.write.mode("append").parquet(s"$dir/tok")
  }

  /** Managed RE-BANDING migration — [[Similarity.rebuildUnderCodebook]]
    * for the text-dedup index family, completing its lifecycle (build →
    * append → compact → REBUILD-UNDER-NEW-PARAMS → cut over): the path
    * out of the refusal [[corpusIndexesAppend]] and
    * [[crossDedupFlagsFromIndexes]] correctly give mismatched
    * (numHashes, bands), which until r17 was "new root by hand".
    *
    * Source of truth is the old layout's TOK tree: token sets are
    * banding-INDEPENDENT, so the new band tree re-derives from them in
    * one staged pass with zero passes over corpus text — the tok tree
    * is the text index family's "decode side", exactly as the vector
    * twin is the IVF-PQ pair's. The fp tree copies unchanged
    * (fingerprints don't band). Consequently the TOKENIZER cannot
    * change here: the persisted toks were computed under the old
    * `tokensOf`, and new-shingle token sets simply do not exist in the
    * layout — a `tokensTag` differing from the old layout's stamp
    * refuses with the pointer to [[corpusIndexesWrite]] over text (the
    * unavoidable re-tokenization pass).
    *
    * Input tolerance mirrors the vector-side migration: a
    * [[corpusIndexesWrite]] layout or a STREAMING `_batch=`-keyed
    * [[graft.streaming.IdempotentSink.dedupIngestByBatch]] root (the
    * stream-graduation path — extra partition columns are projected
    * away; the output is always a BATCH layout, a continuing stream
    * starts a fresh ingest root). The old layout's tag is read from
    * the band sidecar, falling back to the in-data `_params` distinct
    * (streaming roots write no sidecar); a stampless layout is flagged
    * on stderr rather than silently trusted.
    *
    * CRASH CONTRACT (resumable by re-run, sidecar-last): the new band
    * sidecar is the completion marker — present+matching no-ops
    * (idempotent resume), present+different refuses (complete foreign
    * layout), absent over data files is a crashed partial that the
    * overwrite-mode writes replace wholesale. Don't cut readers over
    * before this returns. A PENDING compaction swap at any of the old
    * root's trees refuses — mid-swap, some partitions' only copy lives
    * in the temp tree and the rebuild would silently drop their rows.
    * Write order: tok first, band DERIVED FROM THE PERSISTED NEW TOK
    * TREE (the pair-build convention — the two trees agree by
    * construction), fp, sidecar. Returns the new band stamp.
    */
  def rebuildUnderBandParams(spark: org.apache.spark.sql.SparkSession,
      oldRoot: String, newRoot: String, numHashes: Int = 16,
      bands: Int = 4, tokensTag: String = "ws3"): String = {
    requireBands(numHashes, bands)
    require(newRoot != oldRoot,
      "rebuildUnderBandParams: in-place migration is impossible by " +
        "design (every band row changes) — pass a fresh newRoot and " +
        "cut over after this returns")
    val newStamp = bandParams(numHashes, bands, tokensTag)
    val caller = "rebuildUnderBandParams"
    // the band tree may legitimately be absent mid-crash
    if (StampedLayout.migrationDone(spark, caller,
        Seq("fp", "band", "tok").map(t => s"$oldRoot/$t"),
        Seq(s"$newRoot/band" -> newStamp),
        mayBeEmpty = Set(s"$oldRoot/band"))) return newStamp
    // the old layout's tokenizer identity (streaming roots carry it in
    // the data only)
    for (old <- StampedLayout.layoutStamp(spark, s"$oldRoot/band", caller,
        s"tokenizer '$tokensTag'")) {
      val oldTag = old.split("/").lift(2).getOrElse("ws3")
      if (oldTag != tokensTag) throw new IllegalStateException(
        s"$caller: the old layout's token sets were " +
          s"built under tokenizer '$oldTag', this migration targets " +
          s"'$tokensTag' — re-banding re-derives from PERSISTED token " +
          "sets, and a tokenizer change invalidates them. Rebuild " +
          "from corpus text with corpusIndexesWrite.")
    }
    // tok first (one projected pass over the old tree — `_batch` and
    // friends dropped), then band from the PERSISTED new tok tree;
    // the fp copy has no ordering contract against either (only the
    // sidecar is ordering-sensitive: last), so it overlaps the
    // tok→band chain (guide §2.6) — a crash still leaves only
    // sidecar-less partial trees, which a re-run overwrites
    graft.io.ParallelActions.run(Seq(
      () => {
        spark.read.parquet(s"$oldRoot/tok")
          .select(col("id"), col("toks"))
          .write.mode("overwrite").parquet(s"$newRoot/tok")
        stampedBandRows(spark.read.parquet(s"$newRoot/tok"), col("toks"),
          "id", numHashes, bands, tokensTag)
          .write.partitionBy("band").mode("overwrite")
          .parquet(s"$newRoot/band")
      },
      () => spark.read.parquet(s"$oldRoot/fp")
        .select(col("id"), col("fp"))
        .write.mode("overwrite").parquet(s"$newRoot/fp")))
    StampedLayout.writeStampSidecar(spark, s"$newRoot/band", newStamp)
    newStamp
  }

  /** The amortized ingest path — [[crossDedupFlags]] with the corpus
    * artifacts read from their persisted [[corpusIndexes]] instead of
    * re-derived per batch: ZERO passes over corpus text (the inline
    * path pays three). Same flags (DedupSpec asserts parity); every
    * index-side join still probes with a broadcast batch side, so the
    * corpus-scale indexes never shuffle, and a `partitionBy("band")`
    * band index prunes to the probed bands.
    */
  def crossDedupFlagsFromIndexes(batch: DataFrame, textCol: String,
      idCol: String, fpIndex: DataFrame, bandIdx: DataFrame,
      tokenIndex: DataFrame, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.3,
      tokensOf: Column => Column = wordShingles(_, 3),
      tokensTag: String = "ws3"): DataFrame = {
    requireBands(numHashes, bands)
    val accepted = acceptedBandParams(numHashes, bands, tokensTag)
    batchVsCorpusFlags(batch, textCol, idCol, numHashes, bands,
      minJaccard, tokensOf, broadcast, fpIndex.select(col("fp")),
      // a lookup banded differently than the stored index silently
      // finds nothing (band_sig strings never collide). A
      // corpusIndexesWrite layout carries an O(1) sidecar stamp, and a
      // stampless index (hand-built or bandRowsOf-era) can't be
      // verified: both go through the shared driver-side check
      // (mismatch throws BEFORE any plan is built; stampless is flagged
      // loudly). A sidecar-less tree that carries its in-data stamp —
      // the streaming ingest's, and the empty-shape priors it passes —
      // is verified per row instead: a driver-side `_params` distinct
      // would cost a Spark job per micro-batch and throw on an empty
      // prior
      if (bandIdx.columns.contains("_params") &&
          StampedLayout.sidecarOf(bandIdx).isEmpty) bandIdx
        .filter(assert_true(
          col("_params").isin(accepted: _*),
          concat(lit("band index built with different params than this " +
            s"lookup (expected one of ${accepted.mkString(" | ")},"
            + " index has "), col("_params"), lit(")"))).isNull)
        .drop("_params")
      else StampedLayout.verifyStamp(bandIdx, accepted,
        "crossDedupFlagsFromIndexes",
        desc = "band index built under different banding params",
        builder = "corpusIndexesWrite"),
      cands => tokenIndex
        .select(col("id").as("cid"), col("toks").as("ctoks"))
        .join(cands, Seq("cid")))
  }

  /** Connected components over a near-dup pair graph by min-label
    * propagation: every node's label converges to the smallest id
    * reachable from it, so a component is named by its smallest member —
    * the canonical dup-GROUP clustering when keep/drop decisions need
    * whole groups (the pairwise greedy drop of [[minhashBandPairsOver]]
    * consumers can split a transitive chain a←b←c into inconsistent
    * decisions; components cannot).
    *
    * Scale shape: the edge list (derived from the expensive banding
    * pipeline) is persisted once, and ONE bounded collect of at most
    * budget/16 + 1 edge rows decides whether it fits the session's
    * broadcast budget ([[DriverFinish]]: 16 B per directed edge against
    * `spark.sql.autoBroadcastJoinThreshold`; no count job). If it does,
    * the components come from a driver union-find over those rows in
    * one pass, with no round. At curation sizes (a few thousand pairs)
    * that replaces ~30 Spark jobs of a few kilobytes each. Above the
    * budget, or with the threshold at -1, the distributed loop runs
    * over the cached closed neighborhoods — without the persist every
    * round would re-run the whole MinHash/verify pipeline. It
    * early-stops on a converged round observed on the round's own
    * checkpoint job, and throws if `maxIters` rounds did not converge
    * (silently returning partial labels would split components, the
    * exact inconsistency this operator exists to prevent). `maxIters`
    * bounds only these rounds: the driver finish is exact at any
    * diameter.
    *
    * The engine, not the caller, picks the round shape. The first
    * four rounds are PLAIN propagation: ONE hash shuffle
    * (neighbor-label join + min agg) each. Near-dup clusters in real
    * corpora are template families, star/clique-shaped with diameter ≤
    * ~3, and converge inside them — 3 changing rounds plus the
    * stability round, measured flat per round on the 4M-doc grown
    * corpus (DOCS_4m_r14 / SCALE_r14 §4). A graph still changing after
    * them is chain-shaped (a~b~…~z, diameter = n, where propagation
    * alone needs O(n) rounds), so every later round also POINTER-JUMPS
    * (`rep(x) ← rep(rep(x))` — labels are node ids, so the label table
    * self-joins as its own lookup), which doubles the distance a
    * minimum travels per round: O(log diameter) rounds for a second
    * shuffle per round (cf. hash-to-min, Rastogi et al. 2012). On the
    * 1M-doc chain adversary that took 17.4 s where jumping from round 0
    * took 20.7 s and plain rounds alone 140.2 s (CC_1m_chain_r15b.json);
    * on shallow graphs it runs the plain loop's rounds
    * (CC_1m_shallow_r15.json).
    *
    * Correctness: both round shapes only DECREASE labels and keep every
    * label the id of a node reachable from its owner (neighbor labels
    * are reachable through the edge; `rep(rep(x))` transitively), so
    * labels are bounded below by the component min. At `changed == 0`
    * the propagate step was a no-op: every edge has equal labels at
    * both ends, so labels are constant per component, and the min
    * node's own label can never move off itself, so the constant is
    * the component min — whatever mix of shapes ran before.
    *
    * Returns (id, rep): one row per node of the pair graph (isolated
    * docs never enter; their "component" is trivially themselves). The
    * API owns every cache it creates: the driver finish returns a
    * local relation, and the distributed loop materializes its labels
    * via an eager `localCheckpoint` (same pattern as
    * [[crossDedupFlags]]'s batch frame) and drops every intermediate
    * persist before returning, so no CacheManager entry escapes — the
    * checkpoint blocks are reclaimed by the ContextCleaner when the
    * returned frame goes unreferenced, with no caller-side
    * `unpersist()` obligation (the round-6 foot-gun).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20)
  : DataFrame = components(pairs, maxIters)._1

  /** One distributed round of [[components]]: the labels it changed,
    * whether it pointer-jumped, and its wall seconds.
    */
  private[graft] final case class CcRound(changed: Long, jump: Boolean,
      sec: Double)

  /** The round from which every distributed round also pointer-jumps. */
  private val CcJumpFrom = 4

  /** [[connectedComponents]] with the distributed rounds it ran, in
    * order; Nil when the driver finish took the edge list.
    */
  private[graft] def components(pairs: DataFrame, maxIters: Int)
  : (DataFrame, Seq[CcRound]) = {
    // edges persist for the one-time setup, not the loop: the size
    // probe collects from them, `closed` references them TWICE (the
    // union below) and the initial labels scan them once more —
    // unpersisted, each consumer re-runs the full upstream
    // MinHash/verify pairs pipeline (~2-3× one-time setup cost, the
    // r14 advice finding). Dropped right after the first
    // materialization of closed.
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .persist()
    driverComponents(edges) match {
      case Some(labels) =>
        edges.unpersist()
        (labels, Nil)
      case None => distributedComponents(edges, maxIters)
    }
  }

  /** Union-find components of a persisted directed edge list (a, b)
    * when it fits the broadcast budget ([[DriverFinish]], 16 B per
    * row); None — and the distributed loop runs — above the budget,
    * with the rule disabled, for non-integral ids, or if an id is null
    * (the distributed loop's own null semantics then apply). Linking
    * the larger root under the smaller makes every root its
    * component's min id, the distributed loop's fixpoint label.
    */
  private def driverComponents(edges: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val idType = edges.schema("a").dataType
    if (idType != LongType && idType != IntegerType) None
    else DriverFinish.collectWithin(edges, rowBytes = 16L)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      .map { rows =>
        def id(r: org.apache.spark.sql.Row, i: Int): Long =
          if (idType == LongType) r.getLong(i) else r.getInt(i).toLong
        // both directions are in the list, so `a` alone is the node set
        val ids = rows.map(id(_, 0)).distinct.sorted
        val parent = Array.range(0, ids.length)
        def find(x: Int): Int = {
          var root = x
          while (parent(root) != root) root = parent(root)
          var y = x
          while (parent(y) != root) {
            val up = parent(y); parent(y) = root; y = up
          }
          root
        }
        rows.foreach { r =>
          val x = find(java.util.Arrays.binarySearch(ids, id(r, 0)))
          val y = find(java.util.Arrays.binarySearch(ids, id(r, 1)))
          if (x != y) parent(math.max(x, y)) = math.min(x, y)
        }
        val spark = edges.sparkSession
        import spark.implicits._
        ids.indices.map(i => (ids(i), ids(find(i)))).toDF("id", "rep")
          .select(col("id").cast(idType), col("rep").cast(idType))
      }
  }

  private def distributedComponents(edges: DataFrame, maxIters: Int)
  : (DataFrame, Seq[CcRound]) = {
    // self-loops CLOSE the neighborhood so each round is ONE join+agg
    // with labels referenced ONCE. The former round shape —
    // union(neighbor-min join, own labels) — referenced labels TWICE,
    // doubling the LOGICAL plan per round: invisible at the
    // template-family diameter (≤4 rounds ⇒ ≤16 copies) but a
    // diameter-16 random graph OOM'd plan stringification at 2¹⁶
    // copies before maxIters could fire (found by the r14 differential
    // sweep), and unioning against a checkpoint-truncated labels frame
    // trips Catalyst's union-constraint rewrite (AttributeMap lookup
    // fails on the join-side constraint attribute at planning). Same
    // semantics: min over the closed neighborhood. Caller self-edges
    // (x, x) leave the edge branch — the synthesized self-loop is the
    // same row — so the b === a rows of closed ARE the distinct
    // self-loop branch.
    val closed = edges.filter(!(col("a") <=> col("b")))
      .unionByName(edges.select(col("a"), col("a").as("b")).distinct())
      .persist()
    // labels init = the self-loop rows of closed: the distinct node
    // set, one row per id by construction rather than by the first
    // round's groupBy. Filtering closed scans it once, so this eager
    // checkpoint populates closed's cache, after which the edges cache
    // has no further reader. Per-round labels are lineage-truncated
    // the same way (eager localCheckpoint): persist alone caches DATA
    // but leaves the logical tree growing with every round, and a jump
    // round references its propagated frame TWICE (both sides of the
    // self-join) — 2^rounds copies of the base tree by round 10, an
    // analyzer OOM before any task runs (measured: 8 GB heap dies at a
    // 101-node chain).
    var labels = closed.filter(col("b") === col("a"))
      .select(col("a").as("id"), col("a").as("rep")).localCheckpoint(true)
    edges.unpersist()
    val rounds = Vector.newBuilder[CcRound]
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val t0 = System.nanoTime()
      val jump = i >= CcJumpFrom
      // propagate: everyone adopts the min label in their CLOSED
      // neighborhood. The self row (a,a) carries a's OWN current label
      // through the join, so the same aggregate also recovers the
      // pre-round label (`_old`) — and convergence (no label shrank)
      // rides the round's LAST checkpoint materialization job as an
      // Observation (r19; min(rep) ≤ _old always since the self row
      // participates in the min). One exchange and one job per plain
      // round, two per jump round.
      val obs = org.apache.spark.sql.Observation()
      def observed(df: DataFrame): DataFrame = df.observe(obs,
        count(when(col("rep") < col("_old"), lit(1))).as("changed"))
      val propagated0 = closed.join(labels, closed("b") === labels("id"))
        .select(closed("a").as("id"),
          (closed("b") === closed("a")).as("_self"), col("rep"))
        .groupBy("id").agg(min(col("rep")).as("rep"),
          min(when(col("_self"), col("rep"))).as("_old"))
      val next =
        if (!jump) observed(propagated0).localCheckpoint(true)
        else {
          // shortcut: follow the label one hop through the label table
          // itself — rep ids are node ids, so this is a self-join; a
          // rep that is already a component min maps to itself. The
          // jump only ever DECREASES rep further, so rep < _old still
          // counts exactly the changed rows.
          val propagated = propagated0.localCheckpoint(true)
          observed(propagated.as("p")
            .join(propagated.select(col("id").as("rep"),
              col("rep").as("rep2")).as("q"), Seq("rep"), "left")
            .select(col("id"),
              least(col("rep"), coalesce(col("rep2"), col("rep")))
                .as("rep"), col("_old")))
            .localCheckpoint(true)
        }
      val changed = obs.get("changed").asInstanceOf[Long]
      labels = next.select(col("id"), col("rep"))
      converged = changed == 0
      i += 1
      rounds += CcRound(changed, jump, (System.nanoTime() - t0) / 1e9)
    }
    closed.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations; " +
          "raise maxIters")
    // the converged labels are already checkpoint-materialized; the
    // caller gets a plain frame with no unpersist obligation
    (labels, rounds.result())
  }

  /** Transitive-consistent keep/drop flags for every document: keep iff
    * the doc is its exact-dup group's keeper AND (it sits outside the
    * near-dup pair graph OR it is its component's min-id
    * representative). Pairwise greedy drop over raw pairs can split a
    * transitive a~b~c chain into inconsistent decisions; component
    * representatives cannot. The pair graph is between exact-dup
    * REPRESENTATIVES (the pair generators pre-collapse), so a dropped
    * representative also drops its exact-dup members — they were
    * already non-keepers.
    *
    * `pairs` is any (id1, id2) near-dup pair frame over the same id
    * space — [[simhashNeighbors64]] pairs make the flags an exact
    * function of the data (banding recall is total for hamming <
    * bands); MinHash-banded pairs give the LSH-probabilistic variant.
    * One broadcast-able join against the component labels (component
    * count ≤ paired-doc count ≪ corpus).
    *
    * '''Pair-source contract (load-bearing).''' `pairs` must link
    * exact-dup REPRESENTATIVES — ids that are also the min-id exact
    * keepers — which every pair generator in this object guarantees by
    * pre-collapsing on the normalized fingerprint. Pairs built over RAW
    * doc ids violate that: a component whose min-id node is itself an
    * exact-dup NON-keeper gets a representative with `_exact_keep =
    * false`, so `keep` is false for the representative AND for every
    * other member (they lose `rep === id`) — the whole group is
    * silently eliminated. The invariant is not checked at runtime (it
    * would cost a corpus-wide join per call); if you supply custom
    * pairs, pre-collapse them through [[keepersByKey]] first.
    */
  def componentDedupFlags(df: DataFrame, textCol: String, idCol: String,
      pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val comps = connectedComponents(pairs, maxIters)
      .withColumnRenamed("id", idCol)
    exactDedupFlags(df, textCol, idCol)
      .withColumnRenamed("keep", "_exact_keep")
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        (col("_exact_keep") &&
          (col("rep").isNull || col("rep") === col(idCol))).as("keep"))
  }

  /** One-scan fused form of the default transitive-consistent flag
    * chain — identical output to
    * `componentDedupFlags(df, …, simhashNeighbors64(df, …))` (parity
    * spec in DedupSpec), different cost:
    *
    *  - The composed form scans the document TEXT twice (once for the
    *    pair pipeline's codes, once for [[exactDedupFlags]]) and pays
    *    the fingerprint-partitioned window shuffle twice (the banding
    *    pre-collapse and the exact flags are the same min-id window).
    *    At 100 TB the second text scan is another 100 TB of I/O.
    *  - This form computes the fingerprint AND the 64-bit shingle code
    *    in ONE pass (both are in-scan kernels), derives exact flags
    *    and the banding pre-collapse from ONE fingerprint window, and
    *    materializes that narrow (id, fp-derived flag, code) frame via
    *    an eager localCheckpoint — ~50 bytes/doc, the same
    *    narrow-index-for-text-scan trade [[corpusIndexes]] makes
    *    explicitly — so the text is read exactly once no matter how
    *    many downstream actions (component iterations + final join)
    *    consume it. Checkpoint blocks are reclaimed when the returned
    *    frame goes unreferenced, as in [[connectedComponents]].
    */
  def simhash64ComponentFlags(df: DataFrame, textCol: String,
      idCol: String, bandBits: Int = 16, maxHamming: Int = 2,
      maxBucket: Int = 4096, maxIters: Int = 20): DataFrame = {
    require(64 % bandBits == 0 && bandBits >= 1 && bandBits <= 32,
      s"bandBits ($bandBits) must divide 64 and leave ≥2 bands")
    requirePigeonhole(maxHamming, 64 / bandBits)
    // ONE text pass: fingerprint + shingle code together
    val toks = wordShingles(col(textCol), 3)
    val coded = df.select(col(idCol).as("id"),
      fingerprint(col(textCol)).as("_fp"),
      when(size(toks) > 0, simhash64Code(toks)).as("code"))
    // ONE fingerprint window: exact flags for every row; its min-id IS
    // the banding pre-collapse (keepersByKey's predicate)
    val flagged = coded
      .withColumn("_exact_keep", col("id") ===
        min(col("id")).over(Window.partitionBy(col("_fp"))))
      .drop("_fp")
      .localCheckpoint(true)
    val comps = connectedComponents(bandedHammingPairs(
      flagged.filter(col("_exact_keep") && col("code").isNotNull),
      Seq("code"), 64, bandBits, maxHamming, maxBucket), maxIters)
      .withColumnRenamed("id", "_cid")
    flagged.select(col("id").as(idCol), col("_exact_keep"))
      .join(comps, col(idCol) === col("_cid"), "left")
      .select(col(idCol),
        (col("_exact_keep") &&
          (col("rep").isNull || col("rep") === col(idCol))).as("keep"))
  }

  /** Token-set Jaccard similarity for id-adjacent pairs (a linear-cost
    * demonstration of the n-gram Jaccard kernel; the general pair source
    * is the MinHash band join). Inner-join semantics: pairs with empty
    * intersection are dropped.
    */
  def jaccardAdjacent(df: DataFrame, textCol: String, idCol: String)
  : DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(tokenSet(col(textCol))).as("tok"))
    val counts = toks.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = toks.as("a")
      .join(toks.as("b"),
        col("a.tok") === col("b.tok") &&
          col("b.id") === col("a.id") + 1)
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("n", "n1"),
        col("id1") === col("id"))
      .drop("id")
      .join(counts.withColumnRenamed("n", "n2"),
        col("id2") === col("id"))
      .drop("id")
      .select(col("id1"), col("id2"),
        round(col("n_inter") /
          (col("n1") + col("n2") - col("n_inter")).cast("double"), 4)
          .as("jaccard"))
  }
}
