package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.Dedup

/** The chain-graph scale point for the two connected-components loops
  * — the adversary their scaladoc names but (pre-r15) never measured:
  * on template-family corpora (diameter ≤ ~3) both converge in a
  * handful of rounds and the plain loop's single shuffle per round
  * wins; on a LONG-DIAMETER graph the plain loop's O(diameter) rounds
  * are the cost and pointer-doubling's O(log diameter) is the escape.
  * This records rounds × per-round wall for BOTH loops over the SAME
  * banded pair graph of a `GrowDocs mode=chain` corpus, plus a
  * distributed label-parity check.
  *
  * Banding is r=1 (numHashes = bands = 16): chain edges sit at
  * J ≈ 0.326, where the default r=4 banding catches ~4% of edges
  * (the chain would fragment into short segments and the long
  * diameter under test would vanish); at r=1 an edge is missed with
  * P ≈ (1−.326)¹⁶ ≈ 2·10⁻³, so chains arrive near-intact. The exact
  * verify keeps the 0.3 cut: chain edges (0.3258) pass, everything
  * else is J=0 by construction.
  *
  * The pair graph materializes ONCE (localCheckpoint) before either
  * loop runs: the loops' own edge persist covers the within-loop
  * reuse, but re-deriving the banding pipeline per loop would put
  * ~2× the setup cost into whichever loop runs second.
  *
  * The loops run with `spark.sql.autoBroadcastJoinThreshold = -1`
  * (set after the pair graph is built): an edge list within the
  * broadcast budget would take the driver union-find and run no
  * round, and rounds × per-round wall is the shape under test. Each
  * loop's line and the JSON name the regime that ran.
  *
  * Usage: CcBench <documentsDir> [outDir] [maxPlain=200] [maxFast=40]
  */
object CcBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/grown1m_chain")
    val outDir = args.lift(1).getOrElse("/tmp/cc_bench")
    val maxPlain = args.lift(2).map(_.toInt).getOrElse(200)
    val maxFast = args.lift(3).map(_.toInt).getOrElse(40)
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val nDocs = docs.count()
    val tPairs0 = System.nanoTime()
    val pairs = Dedup.minhashBandPairsOver(docs,
      TextFunctions.wordShingles(col("text"), 3), "doc_id",
      numHashes = 16, bands = 16, minJaccard = 0.3)
      .localCheckpoint(true)
    val nPairs = pairs.count()
    val pairsSec = (System.nanoTime() - tPairs0) / 1e9
    println(f"pairs: $nPairs rows in $pairsSec%.1f s")

    // the distributed loops are the comparison: no driver finish
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def regime(rounds: Int): String =
      if (rounds == 0) "driver" else "distributed"
    def timeLoop(tag: String, run: () => org.apache.spark.sql.DataFrame)
    : (org.apache.spark.sql.DataFrame, Int, Double) = {
      val t0 = System.nanoTime()
      val labels = run()
      val n = labels.count() // the loop materializes on return; count pins it
      val sec = (System.nanoTime() - t0) / 1e9
      val rounds = Dedup.lastCcRounds
      val perRound =
        if (rounds == 0) "" else f" (${sec / rounds}%.2f s/round)"
      println(f"$tag: ${regime(rounds)}, $n labels, $rounds rounds, " +
        f"$sec%.1f s$perRound")
      (labels, rounds, sec)
    }
    // fast first: if the plain loop blows its round budget the fast
    // number is already on record
    val (fastL, fastRounds, fastSec) =
      timeLoop("fast", () => Dedup.connectedComponentsFast(pairs, maxFast))
    // the auto loop under its DEFAULT switchAfter — the number a caller
    // who doesn't know the graph shape gets on this adversary
    val (autoL, autoRounds, autoSec) =
      timeLoop("auto", () => Dedup.connectedComponentsAuto(pairs,
        maxIters = maxFast + 4))
    val (plainL, plainRounds, plainSec) =
      timeLoop("plain", () => Dedup.connectedComponents(pairs, maxPlain))

    val mismatches = plainL.as("p")
      .join(fastL.as("f"), Seq("id"), "full")
      .filter(col("p.rep").isNull || col("f.rep").isNull ||
        col("p.rep") =!= col("f.rep")).count()
    val autoMismatches = plainL.as("p")
      .join(autoL.as("a"), Seq("id"), "full")
      .filter(col("p.rep").isNull || col("a.rep").isNull ||
        col("p.rep") =!= col("a.rep")).count()
    val components = plainL.select("rep").distinct().count()

    val json =
      f"""{"metric":"cc_chain","docs":$nDocs,"pairs":$nPairs,""" +
        f""""pairs_sec":$pairsSec%.1f,"components":$components,""" +
        f""""plain":{"regime":"${regime(plainRounds)}",""" +
        f""""rounds":$plainRounds,"sec":$plainSec%.1f},""" +
        f""""fast":{"regime":"${regime(fastRounds)}",""" +
        f""""rounds":$fastRounds,"sec":$fastSec%.1f},""" +
        f""""auto":{"regime":"${regime(autoRounds)}",""" +
        f""""rounds":$autoRounds,"sec":$autoSec%.1f},""" +
        f""""label_mismatches":$mismatches,""" +
        f""""auto_label_mismatches":$autoMismatches}"""
    BenchProto.writeArtifact(outDir, s"cc_${nDocs}.json", json)
    spark.stop()
  }
}
