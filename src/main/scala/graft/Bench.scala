package graft

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Timing protocol — built to make a host-contaminated run
  * MACHINE-DETECTABLE from the artifact alone (the r13 driver bench
  * landed in a loaded window and needed quiet-run archaeology to
  * adjudicate; this protocol is the fix):
  *  - Each run materializes the FULL result through the `noop` sink
  *    (`df.write.format("noop")`): every output column of every row is
  *    computed and delivered to the writer, so Catalyst cannot prune the
  *    kernel under test. (Timing `count()` let the optimizer delete
  *    projection-only work — e.g. q31's levenshtein and q47's entire
  *    MinHash computation vanished from the count plan, so those rounds
  *    measured a bare parquet scan.)
  *  - One warm-up pass over every query (JIT + codegen cache +
  *    file-index warm), then 3 timed repeats per query. Default order
  *    is GROUPED (back-to-back repeats, `order:"grouped"` in the
  *    JSON) — comparable with every prior round's artifact.
  *    SPARK_GRAFT_BENCH_ORDER=interleaved switches to pass-major
  *    (q1..qN ×3), which decorrelates a multi-minute host-load window
  *    from any single query's samples but reads each query in a
  *    COLDER per-query state (JIT/file handles/codegen icache shared
  *    across 44 queries between samples): measured on identical code
  *    in one window, interleaved mins sit ~1.25× (median) above
  *    grouped mins, with grouped-vs-prior-round at 0.95 — a protocol
  *    LEVEL, not a regression (BENCH_sf01_{quiet,interleaved}_r14).
  *    Cross-round ratios are only meaningful within one order mode;
  *    `order` is stamped in the JSON so a comparison can refuse
  *    mixed-mode inputs.
  *  - The reported per-query stat is the MIN of the 3 samples: the
  *    queries are deterministic, so host contention only ever ADDS
  *    time — min is the unbiased estimator of the uncontended wall.
  *    Medians and all raw samples are persisted alongside (`medians`,
  *    `samples`) so a spike is distinguishable from a regression
  *    without a re-run.
  *  - Every sample carries the 1-min system load average read from
  *    /proc/loadavg immediately before it starts (`load1`).
  *  - Each timed pass opens with a FIXED-WORK calibration loop (2×10⁸
  *    single-threaded xorshift steps, `calib` in the JSON, plus
  *    `calib_cold` before the Spark session exists): identical work
  *    every round, so calib ratios ACROSS rounds measure the host
  *    window, not the engine — if round N's calib reads 2× round
  *    N−1's, per-query ratios near 2× are the host, machine-decidable
  *    from the two artifacts alone.
  *  - The JSON line is printed to stdout AND written to a file
  *    (SPARK_GRAFT_BENCH_OUT, default `bench_out.json` in the working
  *    directory) so consumers parse a clean artifact instead of
  *    scraping the sbt tail.
  */
object Bench {

  /** Headline set: one per operator family (scan/agg, broadcast join,
    * fact join, banded range join, windows, sessionization, dedup
    * families, vector search, alignment kernel).
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_scan_pushdown", "q08_dim_resolve",
    "q09_order_revenue", "q12_range_join", "q14_argmax_pick",
    "q19_running_sum", "q24_lookahead_max", "q31_lev_ratio",
    "q33_session_window", "q41_token_stats", "q45_dedup_flags",
    "q47_minhash_sigs", "q49_simhash", "q56_knn_cosine", "q58_lsh_ann",
    "q59_ivf_cells", "q60_align_greedy", "q64_align_verse_fuzzy",
    "q68_fuzzy_native", "q73_sliding_window", "q74_asof_join",
    "q75_salted_join", // hot-key-gated: plain AQE join on non-skewed data
    "q83_duration_sanity", "q85_salted_forced", // blanket-salting contrast
    "q86_trim_bylength", "q88_ivf_search",
    "q89_skew_salted", // hot key detected + salted on genuinely skewed data
    // q94 (32-bit SimHash neighbors) is deliberately NOT headline: the
    // form is deprecated as a measured scale-killer (n²/2⁹ candidates,
    // OOM at 500k docs — SCALE_r09.md §4). It stays registered and
    // oracled; the default-visible number is the 64-bit scale form:
    "q113_simhash64_neighbors", // 64-bit/16-bit-band scale form of q94
    "q97_pack_sequences", // per-stratum token-bin packing window
    "q98_decontaminate", // broadcast shingle-overlap decontamination
    "q99_repetition_stats", // in-scan dup-token / top-bigram folds
    "q103_vocab_topk", // exploded token counts, partial agg + TakeOrdered
    "q104_incremental_dedup", // batch-vs-corpus broadcast dedup flags
    "q114_ivf_indexed", // persisted IVF index: build + pruned probe
    "q115_ivf_batch_search", // batch ANN over the persisted index
    "q118_media_indexed_ann", // embed → persisted IVF → batch ANN
    "q120_semantic_dedup", // embedding-cosine dedup via the IVF index
    "q119_curation_capstone", // dedup flags → budget mix → pack → shard
    "q108_winnow_fingerprints", // native rolling-hash winnow kernel
    "q109_winnow_neardup", // fp equi-join with stop-gram df cap
    "q122_ivf_hier_cells", // two-level (coarse-quantizer) assignment
    "q126_ivfpq_search", // IVF-PQ: pruned probe over the (id, code) index
    "q127_ivfpq_refined", // IVF-PQ + candidate-sized exact re-rank
    // the r15/r16 auto-regime + layout queries, in the sweep so a plan
    // regression in the new regimes surfaces in the per-round ratios
    "q133_semantic_dedup_pq", // no-full-vector semantic dedup (ADC top-1)
    "q134_decontaminate_auto", // estimator-picked broadcast-vs-bloom
    "q136_bucketed_revenue", // bucketed write + zero-exchange join/agg
    "q137_dup_components_auto", // q107's body: the one components loop
    "q138_semantic_ingest_pq", // streaming PQ ingest, two-epoch path
    "q139_ivf_migrated", // managed codebook migration + probe
    "q140_semantic_dedup_sdc", // symmetric-distance (SDC) PQ dedup
    "q141_semantic_ingest_pq_sdc", // streaming PQ ingest, sdc probe mode
    "q142_ivf_batch_hier", // hierarchical probe-cell selection
    "q143_rebanded_dedup", // text-index re-banding migration + lookup
    "q144_semantic_dedup_pq_calibrated", // operator-calibrated tau
    "q145_semantic_dedup_pq_hybrid", // SDC pass + band-sized ADC refine
    "q146_semantic_ingest_pq_hybrid", // streaming PQ ingest, hybrid probe
    "q147_span_dedup") // cross-doc repeated-span removal

  def main(args: Array[String]): Unit = {
    val calibCold = BenchProto.calibSec() // before any Spark threads exist
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    // Full materialization: every column of every row reaches the writer.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val qs = SparkEntry.queries
    // SPARK_GRAFT_BENCH_ONLY: comma-separated headline subset — scale
    // sweeps time a few queries against a dir holding only the tables
    // those queries read (e.g. the documents-only sf3 ratio points)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = headline.filter(qs.contains)
      .filter(n => only.forall(_.contains(n)))
    val loadStart = BenchProto.load1()

    // warm pass: codegen + file index + JIT; a query that fails here is
    // excluded from the timed passes and recorded as -1
    val alive = scala.collection.mutable.LinkedHashSet[String]()
    names.foreach { name =>
      try { materialize(qs(name)(spark, sfDir)); alive += name }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    }
    // repeat order: see the scaladoc's protocol note — grouped is the
    // history-comparable default, interleaved the load-window-robust
    // alternative with a measured ~1.25× colder-state level shift
    val order = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER", "grouped")
    val samples = scala.collection.mutable.Map[String,
      scala.collection.mutable.ListBuffer[(Double, Double)]]()
    names.foreach(n => samples(n) =
      scala.collection.mutable.ListBuffer.empty[(Double, Double)])
    val calibs = scala.collection.mutable.ListBuffer[Double]()
    def timeOne(name: String): Unit = {
      val l = BenchProto.load1()
      val t0 = System.nanoTime()
      try {
        materialize(qs(name)(spark, sfDir))
        samples(name) += (((System.nanoTime() - t0) / 1e9, l))
      } catch {
        case e: Throwable => // a mid-pass failure after a clean warm-up
          System.err.println(s"[bench] $name failed mid-pass: " +
            e.getMessage)
          alive -= name
      }
    }
    if (order == "grouped") {
      val grouped = alive.toSeq
      grouped.zipWithIndex.foreach { case (name, i) =>
        // calib thrice across the sweep, not per query (0.4 s each)
        if (i % math.max(1, (grouped.size + 2) / 3) == 0)
          calibs += BenchProto.calibSec()
        (1 to 3).foreach(_ => timeOne(name))
      }
    }
    else
      for (_ <- 1 to 3) {
        calibs += BenchProto.calibSec()
        alive.toSeq.foreach(timeOne)
      }
    val loadEnd = BenchProto.load1()

    val results: Seq[(String, Seq[(Double, Double)])] =
      names.map(n => n -> samples(n).toSeq)
    def stat(ts: Seq[Double], f: Seq[Double] => Double): Double =
      if (ts.isEmpty) -1.0 else f(ts)
    def minOf(ts: Seq[Double]) = stat(ts, _.min)
    def medOf(ts: Seq[Double]) = stat(ts, s => s.sorted.apply(s.size / 2))
    def statJson(f: Seq[Double] => Double) = results.map { case (k, ts) =>
      "\"" + k + f"\":${stat(ts.map(_._1), f)}%.3f" }.mkString("{", ",", "}")
    val qJson = statJson(_.min)
    val mJson = statJson(s => s.sorted.apply(s.size / 2))
    val sJson = results.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(t => f"${t._1}%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val lJson = results.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(t => f"${t._2}%.2f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val cJson = (calibCold +: calibs.toSeq)
      .map(c => f"$c%.3f").mkString("[", ",", "]")
    val total = results.map(r => minOf(r._2.map(_._1))).filter(_ >= 0).sum
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","stat":"min_of_3","order":"$order","queries":$qJson,"medians":$mJson,"samples":$sJson,"load1":$lJson,"calib":$cJson,"load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    // The full self-adjudicating dump (samples + per-sample load1 +
    // calib sentinels) goes to bench_out.json above; stdout's LAST line
    // is a compact rendering of the driver contract (~1 KB), small
    // enough to survive a bounded tail-capture window intact. Printed
    // after spark.stop() so no shutdown logging can trail it.
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qJson,"sf":"$sfDir"}""")
  }
}
