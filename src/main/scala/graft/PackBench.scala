package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.PrefixSum

/** Measures the packing-stage prefix sum on a SKEWED stratum mix — the
  * r10 verdict's top ask made a number: the old
  * `sum(n_tok).over(Window.partitionBy(lang).orderBy(doc_id))` routes
  * a dominant language's entire corpus through ONE window task, while
  * the chunked two-level [[graft.ops.PrefixSum]] bounds every
  * full-width task at chunkSize rows regardless of skew.
  *
  * The stratum labels are synthesized at the target skew (90% one
  * language by default — the real-corpus shape) over the actual
  * documents table, with the real tokenizer counts; both forms run
  * twice (warm + timed, noop sink) in two widths: NARROW (lang,
  * doc_id, n_tok — the q119 capstone's packing input) and WITH-TEXT
  * (text rides through the prefix sum — the q106 payload shape, where
  * the one-task window also single-threads every byte of the dominant
  * stratum). Parity is asserted exactly (anti-join count must be 0).
  *
  * Usage: PackBench <documentsDir> [outDir] [skewPct]
  */
object PackBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/sf20docs")
    val outDir = args.lift(1).getOrElse("/tmp/pack_bench")
    val skewPct = args.lift(2).map(_.toInt).getOrElse(90)
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")

    // synthesized stratum at the target skew over REAL docs + tokens
    val langs = Seq("de", "es", "fr", "he")
    val skewedLang = when(col("doc_id") % 100 < skewPct, lit("en"))
      .otherwise(element_at(typedLit(langs),
        (col("doc_id") % langs.size + 1).cast("int")))
    def base(withText: Boolean) = {
      val cols = Seq(col("doc_id"), skewedLang.as("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok")) ++
        (if (withText) Seq(col("text")) else Nil)
      Tables.documents(spark, dir).select(cols: _*)
    }

    def windowed(withText: Boolean) = {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base(withText).withColumn("prefix",
        sum(col("n_tok")).over(w) - col("n_tok"))
    }
    def chunked(withText: Boolean) =
      PrefixSum.exclusive(base(withText), "lang", "doc_id", "n_tok",
        "prefix")

    val nDocs = Tables.documents(spark, dir).count()
    val mismatch = chunked(false).select("doc_id", "prefix")
      .exceptAll(windowed(false).select("doc_id", "prefix")).count()
    require(mismatch == 0,
      s"chunked prefix sum diverged from the window form on $mismatch " +
        "rows — the decomposition is broken")
    val rows = Seq(false, true).map { withText =>
      val wSec = BenchProto.timeNoop(windowed(withText), runs = 1).sec
      val cSec = BenchProto.timeNoop(chunked(withText), runs = 1).sec
      val tag = if (withText) "with_text" else "narrow"
      println(f"$tag: window $wSec%.1f s, chunked $cSec%.1f s")
      f""""$tag":{"window_sec":$wSec%.1f,"chunked_sec":$cSec%.1f}"""
    }
    val json = s"""{"docs":$nDocs,"skew_pct":$skewPct,""" +
      s""""parity_mismatches":$mismatch,${rows.mkString(",")}}"""
    BenchProto.writeArtifact(outDir, "pack.json", json)
    spark.stop()
  }
}
