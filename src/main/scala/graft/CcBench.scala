package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.Dedup

/** The scale point for the connected-components loop: rounds ×
  * per-round wall over the banded pair graph of a `GrowDocs` corpus —
  * `mode=chain` for the long-diameter adversary, where the loop
  * switches from plain propagation to pointer jumping, or a template
  * corpus for the shallow case, where it never jumps. It records every
  * distributed round's (changed, jump, sec) as the loop returns it,
  * the plain/jump round counts, and a label-parity check against the
  * driver union-find. The plain/fast/auto legs of the three loops this
  * one replaced are on record in `CC_1m_*_r15*.json`.
  *
  * Banding is r=1 (numHashes = bands = 16): chain edges sit at
  * J ≈ 0.326, where the default r=4 banding catches ~4% of edges
  * (the chain would fragment into short segments and the long
  * diameter under test would vanish); at r=1 an edge is missed with
  * P ≈ (1−.326)¹⁶ ≈ 2·10⁻³, so chains arrive near-intact. The exact
  * verify keeps the 0.3 cut: chain edges (0.3258) pass, everything
  * else is J=0 by construction.
  *
  * The pair graph materializes ONCE (localCheckpoint) before the loop
  * runs, so neither leg re-derives the banding pipeline. The loop runs
  * with `spark.sql.autoBroadcastJoinThreshold = -1` (set after the
  * pair graph is built): an edge list within the broadcast budget
  * would take the driver union-find and run no round, and rounds ×
  * per-round wall is the shape under test. The parity leg then raises
  * the threshold to 1 GiB so the same operator finishes on the driver.
  *
  * Usage: CcBench <documentsDir> [outDir] [maxIters=40]
  */
object CcBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/grown1m_chain")
    val outDir = args.lift(1).getOrElse("/tmp/cc_bench")
    val maxIters = args.lift(2).map(_.toInt).getOrElse(40)
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

    def timed(threshold: String) = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val t0 = System.nanoTime()
      val (labels, rounds) = Dedup.components(pairs, maxIters)
      val n = labels.count() // the loop materializes on return; count pins it
      (labels, rounds, n, (System.nanoTime() - t0) / 1e9)
    }
    val (labels, rounds, n, sec) = timed("-1")
    val jumps = rounds.count(_.jump)
    println(f"distributed: $n labels, ${rounds.size} rounds " +
      f"(${rounds.size - jumps} plain, $jumps jump), $sec%.1f s")
    rounds.zipWithIndex.foreach { case (r, i) =>
      println(f"  round ${i + 1}: ${if (r.jump) "jump" else "plain"} " +
        f"changed=${r.changed} ${r.sec}%.2f s")
    }
    val (driverL, driverRounds, _, driverSec) = timed((1L << 30).toString)
    val regime = if (driverRounds.isEmpty) "driver" else "distributed"
    println(f"parity leg: $regime, $driverSec%.1f s")

    val mismatches = labels.as("l")
      .join(driverL.as("d"), Seq("id"), "full")
      .filter(col("l.rep").isNull || col("d.rep").isNull ||
        col("l.rep") =!= col("d.rep")).count()
    val components = labels.select("rep").distinct().count()

    val perRound = rounds.map(r =>
      f"""{"changed":${r.changed},"jump":${r.jump},"sec":${r.sec}%.2f}""")
      .mkString("[", ",", "]")
    val json =
      f"""{"metric":"cc","docs":$nDocs,"pairs":$nPairs,""" +
        f""""pairs_sec":$pairsSec%.1f,"components":$components,""" +
        f""""rounds":${rounds.size},"plain_rounds":${rounds.size - jumps},""" +
        f""""jump_rounds":$jumps,"sec":$sec%.1f,"per_round":$perRound,""" +
        f""""parity_regime":"$regime","parity_sec":$driverSec%.1f,""" +
        f""""label_mismatches":$mismatches}"""
    BenchProto.writeArtifact(outDir, s"cc_${nDocs}.json", json)
    spark.stop()
  }
}
