package graft

import org.apache.spark.sql.functions._
import graft.ops.CurationOps

/** A/B for the two decontamination paths ([[CurationOps.decontaminate]]
  * vs [[CurationOps.decontaminateBloom]]) — records the STRUCTURAL
  * separation the bloom variant exists for, in the PQ_fetch style
  * (data volume first, walls alongside):
  *
  *  - the broadcast path ships the exact distinct bench-gram SET to the
  *    driver and every executor and joins the full exploded corpus-gram
  *    stream against it;
  *  - the bloom path ships a ~7.3-bits/gram sketch (at 3% fpp) and
  *    drops the corpus-gram stream to |true matches| + fpp·|corpus
  *    grams| behind a codegen'd scan predicate BEFORE any join — the
  *    quantity recorded here as `survivor_grams` vs `corpus_grams`.
  *
  * On a warm local page cache the walls barely separate (both paths
  * are one corpus text pass + small shuffles at these scales); at
  * 100 TB the broadcast path's failure is MEMORY (the exact set must
  * fit everywhere whole) and the shuffle-side stream it cannot thin —
  * which is why the artifact records bytes and row counts, not just
  * seconds. Both paths are verified result-identical in-run.
  *
  * Usage: BloomBench <documentsDir|synth:N> [outDir] [fpp=0.03]
  * [benchMod=76] — bench rows are doc_id % benchMod == 0.
  *
  * FIXTURE MATTERS — contamination DENSITY decides which path wins,
  * and the two corpora here bracket it:
  *  - `synth:N` generates the REALISTIC sparse shape: every doc's
  *    words are doc-unique (`w<id>_<i>` — web-scale text is mostly
  *    unique trigrams) EXCEPT that every 19th family of 4 shares a
  *    family pool; its member 0 is the bench doc, so its 3 siblings
  *    are the planted leakage (~4% of corpus mass) and every other
  *    doc shares nothing. The bloom drops the ~96% clean mass before
  *    any shuffle.
  *  - A [[GrowDocs]] / sf dir is the DEGENERATE dense case: the sf
  *    vocabulary is so small that ~98% of corpus trigrams appear in
  *    any bench set (measured bloom_1000000_m{19,76}: prefilter 1.0×)
  *    — no prefilter can help, and the bloom path's unbroadcast
  *    verify join pays full freight. Recorded as the contrast point,
  *    not hidden: know your contamination density before picking the
  *    path.
  */
object BloomBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/sf20docs")
    val outDir = args.lift(1).getOrElse("/tmp/bloom_bench")
    val fpp = args.lift(2).map(_.toDouble).getOrElse(0.03)
    val benchMod = args.lift(3).map(_.toInt).getOrElse(76)
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    val docs =
      if (dir.startsWith("synth:")) {
        import spark.implicits._
        val n = dir.stripPrefix("synth:").toLong
        val docWords = 120
        val path = s"/tmp/bloom_synth_$n"
        spark.range(n).repartition(BenchProto.cpus).as[Long].map { id =>
          val family = id / 4
          val words =
            if (family % 19 == 0)
              // shared family pool; member gets one unique token so
              // siblings are near- not exact-dups of the bench doc
              Array.tabulate(docWords)(i =>
                if (i == (id % 4).toInt * 7 + 1) s"u${id}x"
                else s"f${family}_$i")
            else Array.tabulate(docWords)(i => s"w${id}_$i")
          (id, words.mkString(" "))
        }.toDF("doc_id", "text")
          .write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      else Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val benchPred = col("doc_id") % benchMod === 0

    // --- structural side: gram populations and sketch/set sizes
    def shinglesOf(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3)
          .as("shingles"))
    val bench = shinglesOf(benchPred)
      .select(explode(col("shingles")).as("gram")).distinct()
    val (benchGrams, exactSetBytes) = {
      val r = bench.agg(count(lit(1)), sum(length(col("gram")))).head
      (r.getLong(0), r.getLong(1))
    }
    val corpus = shinglesOf(!benchPred)
      .select(col("doc_id"), explode(col("shingles")).as("gram"))
    val corpusGrams = corpus.count()
    val bloom = CurationOps.gramBloom(bench, "gram", benchGrams, fpp)
    val bloomBytes = bloom.length.toLong
    val survivors = corpus
      .filter(CurationOps.mightContain(bloom, col("gram"))).count()
    val trueMatches = corpus.join(bench, "gram").count()
    // an all-rejected corpus (no leakage, fp-free sample) divides by
    // zero survivors — report the whole corpus-gram count as the ratio
    // rather than emitting Infinity into the JSON artifact
    val prefilter =
      if (survivors == 0) corpusGrams.toDouble
      else corpusGrams.toDouble / survivors
    println(f"docs=$nDocs bench_grams=$benchGrams (exact set " +
      f"${exactSetBytes / 1e6}%.1f MB, bloom ${bloomBytes / 1e6}%.1f MB) " +
      f"corpus_grams=$corpusGrams survivors=$survivors " +
      f"(true=$trueMatches) prefilter $prefilter%.1fx")

    // --- wall side: warm then timed, noop-sink materialization
    def broadcastPath() = CurationOps.decontaminate(
      docs, "text", "doc_id", benchPred)
    def bloomPath() = CurationOps.decontaminateBloom(
      docs, "text", "doc_id", benchPred, expectedBenchGrams = benchGrams,
      fpp = fpp)
    val secBroadcast = BenchProto.timeNoop(broadcastPath(), runs = 1).sec
    val secBloom = BenchProto.timeNoop(bloomPath(), runs = 1).sec

    // --- the AUTO path: the regime decontaminateAuto's estimator picks
    // at THIS point (same estimator code — benchGramEstimate is
    // shared), timed end-to-end so the decision's one extra bench-side
    // scan is in the number
    val (_, _, estSetBytes) = CurationOps.benchGramEstimate(
      docs.filter(benchPred), "text")
    val autoRegime =
      if (estSetBytes <= CurationOps.BroadcastGramMaxBytes) "broadcast"
      else "bloom"
    def autoPath() = CurationOps.decontaminateAuto(
      docs, "text", "doc_id", benchPred, fpp = fpp)
    val secAuto = BenchProto.timeNoop(autoPath(), runs = 1).sec

    // result identity (the exact-verify contract), not just timings —
    // compared DISTRIBUTED (exceptAll both directions): on the dense
    // GrowDocs fixture nearly every doc is flagged, so collecting both
    // results would hold millions of tuples on the driver at the
    // recorded 1M–4M points
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_shared"), col("contaminated"))
    require(proj(broadcastPath()).exceptAll(proj(bloomPath())).isEmpty &&
      proj(bloomPath()).exceptAll(proj(broadcastPath())).isEmpty,
      "bloom path diverged from the exact broadcast path")

    val json =
      f"""{"metric":"bloom_decontaminate","docs":$nDocs,"fpp":$fpp,""" +
        f""""bench_mod":$benchMod,""" +
        f""""bench_grams":$benchGrams,"exact_set_bytes":$exactSetBytes,""" +
        f""""bloom_bytes":$bloomBytes,"corpus_grams":$corpusGrams,""" +
        f""""survivor_grams":$survivors,"true_match_grams":$trueMatches,""" +
        f""""prefilter_ratio":$prefilter%.1f,""" +
        f""""est_set_bytes":$estSetBytes,"auto_regime":"$autoRegime",""" +
        f""""sec_broadcast":$secBroadcast%.3f,"sec_bloom":$secBloom%.3f,""" +
        f""""sec_auto":$secAuto%.3f}"""
    BenchProto.writeArtifact(outDir,
      s"bloom_${if (dir.startsWith("synth:")) "synth_" else ""}" +
        s"${nDocs}_m$benchMod.json", json)
    spark.stop()
  }
}
