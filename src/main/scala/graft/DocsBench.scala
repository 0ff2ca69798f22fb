package graft


/** Times the REGISTERED documents-family flagships on an arbitrary
  * documents dir (a [[GrowDocs]] corpus) — the driver's gate runs them
  * at sf0.01 (500 docs) and the headline bench at sf0.1 (5k): this is
  * the 200–800× point, exercising the exact `SparkEntry.queries`
  * entries (not bench-only re-compositions) so the recorded walls are
  * the shipped plans':
  *
  *  - q119_curation_capstone — component dedup flags → token-budget
  *    mixture → chunked-prefix-sum packing → derived-then-pinned shard
  *    write, the engine's flagship chain;
  *  - q92_neardup_removal — exact-collapse → banded MinHash → verify →
  *    greedy removal;
  *  - q113_simhash64_neighbors — the banded 64-bit SimHash pair family;
  *  - q104_incremental_dedup — batch-vs-corpus flags, inline path.
  *
  * Protocol: SELF-ADJUDICATING like [[Bench]] (the r15 DOCS_4m
  * artifact carried a host-contaminated single sample that needed
  * prose forensics to re-adjudicate — this closes that): warm (one
  * discarded run) then THREE timed noop-materialized samples per
  * query, each with its /proc/loadavg reading, min/median/samples all
  * persisted, and a fixed-work calib sentinel per query group — a
  * loaded window is machine-detectable from the artifact alone.
  *
  * Usage: DocsBench <documentsDir> [outDir] [names...]
  */
object DocsBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/grown1m")
    val outDir = args.lift(1).getOrElse("/tmp/docs_bench")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("q113_simhash64_neighbors", "q92_neardup_removal",
        "q104_incremental_dedup", "q130_cross_dedup_shuffled",
        "q119_curation_capstone")
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    val nDocs = Tables.documents(spark, dir).count()
    // fail on a mistyped name BEFORE any minutes-long measurement runs,
    // not between them
    names.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown query '$n' — registered: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    // a per-query failure is a RECORDED boundary (e.g. q104's broadcast
    // contract ending where the batch outgrows the driver), not a
    // reason to lose the other measurements. The calib sentinel lives
    // INSIDE each query's own record (r17 ADVICE): the old global
    // calib array skipped warm-failed queries, silently shifting the
    // positional query↔calib attribution the artifact exists to make
    // machine-decidable.
    val timings: Seq[(String, Either[String, BenchProto.Leg])] =
      names.map { name =>
        val q = SparkEntry.queries(name)
        try {
          val leg = BenchProto.timeNoop(q(spark, dir), calib = true)
          println(f"$name: ${leg.sec}%.1f s (min of " +
            leg.samples.map(s => f"$s%.1f").mkString("[", ",", "]") + ")")
          name -> Right(leg)
        } catch {
          case e: Exception =>
            // message may be null (bare NPE) or empty — never let the
            // recorder itself throw and lose the measured queries
            val msg = Option(e.getMessage).filter(_.nonEmpty)
              .flatMap(_.linesIterator.find(_.nonEmpty))
              .getOrElse(e.getClass.getName).take(160)
            println(s"$name FAILED: $msg")
            name -> Left(msg)
        }
      }
    def jsonStr(m: String): String = m.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => " " // control chars (Spark plans embed tabs)
      case c => c.toString
    }
    val json = s"""{"metric":"docs_bench","docs":$nDocs,""" +
      s""""stat":"min_of_3","queries":{""" +
      timings.map {
        case (n, Right(leg)) =>
          val median = leg.samples.sorted.apply(leg.samples.size / 2)
          s""""$n":""" + leg.json(f""""median":$median%.3f""")
        case (n, Left(m)) => s""""$n":{"failed":"${jsonStr(m)}"}"""
      }.mkString(",") + "}}"
    BenchProto.writeArtifact(outDir, s"docs_${nDocs}.json", json)
    spark.stop()
  }
}
