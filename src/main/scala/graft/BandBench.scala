package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.functions.TextFunctions.{fingerprint, wordShingles}

/** Measures the SimHash64 `bandBits` occupancy/recall trade — the r10
  * verdict's unexercised lever: per-band bucket occupancy grows as
  * n²/2^bandBits, so the 16-bit default's candidate join goes
  * quadratic past ~10⁷ docs (knee measured at 1M: 3.6× at docs ×2,
  * SCALE_r10 §2) and the documented fix is wider bands — at the cost
  * of the pigeonhole guarantee (64/32 ⇒ 2 bands ⇒ only Hamming ≤ 1
  * guaranteed; a Hamming-2 pair is found only when both flipped bits
  * land in the SAME band, ~1/2 of the time for random bit positions).
  *
  * Protocol (the RecallBench template): at a scale where bandBits=16
  * is still computable, its pair set IS the ground truth for
  * Hamming ≤ 2 (4 bands, ≤ 2 ruined ⇒ ≥ 2 intact — recall 1 by
  * pigeonhole; both settings Hamming-verify candidates exactly, so
  * P32 ⊆ P16). Reports |P16|, |P32|, pairs-recall of 32 vs 16, the
  * Hamming histogram of the missed pairs (they must ALL be at
  * distance 2), per-setting wall time warm (noop-sink), and the
  * pre-verify candidate-pair count per setting (the occupancy side).
  *
  * Usage: BandBench <documentsDir> [outDir] — one JSON line, plus a
  * file consumed by SCALE_r11.md.
  */
object BandBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/sf20docs")
    val outDir = args.lift(1).getOrElse("/tmp/band_bench")
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()

    def pairsAt(bandBits: Int) = Dedup.simhashNeighbors64Over(
      docs, wordShingles(col("text"), 3), "doc_id", bandBits = bandBits,
      maxHamming = 2, collapseExactOn = Some(fingerprint(col("text"))),
      allowPartialRecall = true)

    def run(pairs: => org.apache.spark.sql.DataFrame)
    : (Set[(Long, Long)], Double) = {
      val sec = BenchProto.timeNoop(pairs, runs = 1).sec
      val set = pairs.select(col("id1"), col("id2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (set, sec)
    }

    // the 128-bit alternative: 4×32-bit bands. H ≤ 3 is the fully
    // guaranteed radius; H ≤ 4 is the threshold that MATCHES the
    // 64-bit H ≤ 2 semantic (independent hashes ⇒ distances ~double
    // with code length) with partial recall at the edge distance only
    // (a distance-4 pair is missed iff its 4 flipped bits hit 4
    // distinct bands, ~4!/4⁴ ≈ 9%)
    def pairs128(maxH: Int) = Dedup.simhashNeighbors128Over(
      docs, wordShingles(col("text"), 3), "doc_id", bandBits = 32,
      maxHamming = maxH, collapseExactOn = Some(fingerprint(col("text"))),
      allowPartialRecall = true)

    val results = Seq(16, 32).map { bb =>
      val (set, sec) = run(pairsAt(bb))
      println(f"bandBits=$bb: ${set.size} pairs, $sec%.1f s")
      bb -> (set, sec)
    }.toMap
    val (p128h3, sec128h3) = run(pairs128(3))
    println(f"128/32 H≤3: ${p128h3.size} pairs, $sec128h3%.1f s")
    val (p128, sec128) = run(pairs128(4))
    println(f"128/32 H≤4: ${p128.size} pairs, $sec128%.1f s")
    val (p16, sec16) = results(16)
    val (p32, sec32) = results(32)
    val missed = p16 -- p32
    val extra = p32 -- p16 // must be empty: both Hamming-verify exactly
    require(extra.isEmpty,
      s"bandBits=32 produced ${extra.size} pairs outside the 16-bit " +
        "truth set — the Hamming verify is broken")
    val recall32 = if (p16.isEmpty) 1.0
      else (p16.size - missed.size).toDouble / p16.size
    // every missed pair must sit at Hamming distance exactly 2 (the
    // pigeonhole edge) — distance histogram via the codes themselves
    val codes = {
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      docs.select(col("doc_id"),
        column(graft.functions.Simhash64Code(
          expression(wordShingles(col("text"), 3)))).as("code"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val missHist = missed.toSeq
      .map { case (a, b) =>
        java.lang.Long.bitCount(codes(a) ^ codes(b))
      }
      .groupBy(identity).view.mapValues(_.size).toMap
    val histJson = missHist.toSeq.sorted
      .map { case (h, c) => s""""$h":$c""" }.mkString("{", ",", "}")
    // --- band-bucket occupancy: the pre-verify candidate-pair count
    // Σ_{band,bits} C(bucket,2), computed analytically from the codes
    // (one scan + one small shuffle per layout) — this is the work the
    // Hamming verify must absorb, and the quantity whose n²/2^bandBits
    // growth the 128/32 layout exists to kill. Band extraction mirrors
    // Dedup's MSB-first shift+mask layout exactly.
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    // count over the SAME population the timed pipelines band: exact
    // dups collapsed to one keeper per fingerprint and empty-shingle
    // docs dropped (simhashNeighbors*Over's collapseExactOn + size>0
    // path) — counting raw docs would book C(bucket,2) growth for
    // duplicate mass the measured Hamming verify never absorbs. The
    // GrowDocs fixture is dup-free, so its recorded numbers are
    // unchanged; the counts stay honest on corpora that aren't.
    val counted = docs
      .filter(size(wordShingles(col("text"), 3)) > 0)
      .withColumn("_fp", fingerprint(col("text")))
      .dropDuplicates("_fp")
    val codes64 = counted.select(
      column(graft.functions.Simhash64Code(
        expression(wordShingles(col("text"), 3)))).as("code"))
    val codes128 = counted.select(
      column(graft.functions.Simhash64Code(
        expression(wordShingles(col("text"), 3)))).as("hi"),
      column(graft.functions.Simhash64CodeSalted(
        expression(wordShingles(col("text"), 3)), "#2")).as("lo"))
    def candCount(bandCols: Seq[org.apache.spark.sql.Column],
        src: org.apache.spark.sql.DataFrame): Long =
      src.select(explode(array(bandCols: _*)).as("bb"))
        .groupBy(col("bb.band"), col("bb.bits")).count()
        .agg(sum(expr("count * (count - 1) DIV 2")).as("c"))
        .collect()(0).getLong(0)
    def bands64(bandBits: Int) = {
      val mask = (1L << bandBits) - 1
      (0 until 64 / bandBits).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("code"), 64 - bandBits * (b + 1))
            .bitwiseAND(lit(mask)).as("bits")))
    }
    val bands128 = {
      val mask = (1L << 32) - 1
      (0 until 4).map { b =>
        val src = if (b < 2) col("hi") else col("lo")
        val off = if (b < 2) b else b - 2
        struct(lit(b).as("band"),
          shiftrightunsigned(src, 64 - 32 * (off + 1))
            .bitwiseAND(lit(mask)).as("bits"))
      }
    }
    val cands16 = candCount(bands64(16), codes64)
    val cands32 = candCount(bands64(32), codes64)
    val cands128 = candCount(bands128, codes128)
    println(s"candidates: 64/16=$cands16 64/32=$cands32 128/32=$cands128")

    // the 128-bit code is a DIFFERENT code space (its own H ≤ 3
    // semantic) — report set overlap vs the 64/16 truth, not "recall"
    val json =
      f"""{"docs":$nDocs,"pairs_16":${p16.size},"pairs_32":${p32.size},""" +
        f""""recall_32_vs_16":$recall32%.4f,"sec_16":$sec16%.1f,""" +
        f""""sec_32":$sec32%.1f,"missed_hamming_hist":$histJson,""" +
        f""""pairs_128_h3":${p128h3.size},"sec_128_h3":$sec128h3%.1f,""" +
        f""""pairs_128_h4":${p128.size},"sec_128_h4":$sec128%.1f,""" +
        f""""overlap_h4_and_16":${(p128 & p16).size},""" +
        f""""only_128_h4":${(p128 -- p16).size},""" +
        f""""only_16":${(p16 -- p128).size},""" +
        f""""cands_16":$cands16,"cands_32":$cands32,""" +
        f""""cands_128_32":$cands128}"""
    BenchProto.writeArtifact(outDir, "band.json", json)
    spark.stop()
  }
}
