package graft


/** Grows a template-heavy near-dup corpus from the sf documents table
  * — the fixture SCALE_r11 §2 conceded BandBench lacked: its
  * c-prefixed replication left every copy's simhash far from its
  * source, so copies never shared a band bucket and the n²/2^bandBits
  * occupancy term was never exercised against a colliding population.
  *
  * Here copies COLLIDE by construction:
  *  - each family f draws a word pool from three source docs, shuffles
  *    it with a family-seeded RNG (3-word shingles are order-sensitive,
  *    so the shuffle makes family codes pairwise independent ACROSS
  *    families even when they share a source doc), and cycles it to
  *    `docWords` words;
  *  - member 0 is the template verbatim; member m > 0 replaces exactly
  *    ONE word with a doc-unique token, so ~3 of ~`docWords` shingles
  *    change and the member's 64-bit simhash stays within a few bits
  *    of the template's — the members share band buckets, which is the
  *    "colliding corpus" property.
  *
  * Deterministic: doc id fully seeds every choice, so re-running at
  * the same (n, familySize, docWords) reproduces the corpus bit-for-bit
  * and BandBench runs are comparable across sessions.
  *
  * The default (`pool`) mode draws words from the sf corpus — whose
  * vocabulary is SMALL, so any two docs share trigrams at J ≈ 0.2-0.3
  * by chance. That is exactly right for exercising SimHash band
  * occupancy (the fixture's purpose) and exactly wrong for the
  * MinHash/decontamination family, where an all-pairs-J≥0.3 corpus is
  * adversarial (banding saturates: catch(0.3) ≈ 3% of C(n,2) pairs —
  * quadratic). `mode=unique` generates the REALISTIC sparse-similarity
  * shape instead: every doc's words are doc-unique (`w<id>_<i>`)
  * except that each family shares a family pool (`f<fam>_<i>`) with
  * one unique token per member — near-dup families exist, everything
  * else is pairwise-disjoint, the web-corpus profile the MinHash
  * family is built for.
  *
  * `mode=chain` generates the LONG-DIAMETER adversary the
  * connected-components scaladoc names: docs come in chains of
  * `familySize` (reused as the CHAIN LENGTH), each doc two 60-word
  * segments with CONSECUTIVE chain members sharing one segment —
  * shingle Jaccard 58/178 ≈ 0.326, just above the 0.3 verify cut —
  * and members two apart sharing nothing (their segment sets are
  * disjoint), so each chain's true near-dup graph is a pure PATH of
  * diameter chainLen−1. Word ids are globally unique per segment, so
  * cross-chain pairs never collide. Band at r=1 (numHashes=bands=16)
  * to catch J≈0.33 edges reliably (P ≈ 1−(1−.326)¹⁶ ≈ 0.998 per
  * edge); the default r=4 banding catches ~4% of them, which is the
  * point of the fixture being a separate mode.
  *
  * Usage: GrowDocs <sfDir> <outPath> <nDocs> [familySize=4]
  *        [docWords=120] [mode=pool|unique|chain]
  */
object GrowDocs {

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outPath = args(1)
    val n = args(2).toLong
    val familySize = args.lift(3).map(_.toInt).getOrElse(4)
    val docWords = args.lift(4).map(_.toInt).getOrElse(120)
    val mode = args.lift(5).getOrElse("pool")
    require(mode == "pool" || mode == "unique" || mode == "chain",
      s"unknown mode $mode")
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // sf0.1 documents = 5000 rows / ~2.4 MB of text — a broadcast of
    // the word arrays is trivially driver-safe at any target n
    val src: Array[Array[String]] = Tables.documents(spark, srcDir)
      .selectExpr("text").collect()
      .map(_.getString(0).split("\\s+").filter(_.nonEmpty))
    val bc = spark.sparkContext.broadcast(src)

    spark.range(n).repartition(BenchProto.cpus).as[Long].mapPartitions { it =>
      val pool = bc.value
      it.map { id =>
        val f = id / familySize
        val m = (id % familySize).toInt
        val words =
          if (mode == "chain") {
            // chain c, position m: segments seg(m) ++ seg(m+1) of the
            // chain's segment stream — doc m and m+1 share segment
            // m+1's words (J ≈ 0.326 over 3-word shingles); m and m+2
            // share none. Segment ids are globally unique (each chain
            // owns chainLen+1 of them), so chains never cross-collide.
            val chainLen = familySize
            val c = id / chainLen
            val m = id % chainLen
            val seg0 = c * (chainLen + 1) + m
            val half = docWords / 2
            Array.tabulate(docWords)(i =>
              if (i < half) s"s${seg0}_$i"
              else s"s${seg0 + 1}_${i - half}")
          } else if (mode == "unique") {
            // every 19th family is a near-dup family sharing a family
            // pool (one unique token per member keeps members near- not
            // exact-dups); all other docs are pairwise-disjoint
            if (f % 19 == 0)
              // modulo placement: members past docWords/7 would
              // otherwise get NO unique token and become exact dups
              Array.tabulate(docWords)(i =>
                if (i == (m * 7 + 1) % docWords) s"u${id}x"
                else s"f${f}_$i")
            else Array.tabulate(docWords)(i => s"w${id}_$i")
          } else {
            val rnd = new scala.util.Random(f * 1000003L + 29L)
            val words0 = Array(
              pool(((f * 3) % pool.length).toInt),
              pool(((f * 3 + 1) % pool.length).toInt),
              pool(((f * 3 + 2) % pool.length).toInt)).flatten.toSeq
            val shuffled = rnd.shuffle(words0)
            val w = Array.tabulate(docWords)(i => shuffled(i % shuffled.size))
            if (m > 0) w((m * 31) % docWords) = s"u${id}x"
            w
          }
        val text = words.mkString(" ")
        // unique mode: two strata so per-lang curation stages have real
        // groups; pool mode stays byte-identical to the recorded
        // BAND_*_r13 corpora
        val lang =
          if (mode == "unique" && id % 5 == 0) "he" else "en"
        (id, text, lang, "grown", text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outPath/documents.parquet")

    val nOut = spark.read.parquet(s"$outPath/documents.parquet").count()
    println(s"wrote $nOut docs (familySize=$familySize, " +
      s"docWords=$docWords) to $outPath/documents.parquet")
    spark.stop()
  }
}
