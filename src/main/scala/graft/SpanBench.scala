package graft

import org.apache.spark.sql.functions._

/** Times [[graft.ops.CurationOps.spanDedup]] on a synthetic LONG-document
  * corpus — the regime the sf benches never reach (sf0.1 documents are
  * ~10²-token; a crawl corpus carries 10⁴–10⁵-token documents, where the
  * reconstruction stage's per-row expression complexity is the wall).
  * Deterministic: the corpus is pure id arithmetic, no RNG.
  *
  * Shape: `nDocs` documents of `docTokens` tokens each; every document
  * alternates runs of `runLen` BOILERPLATE tokens (shared with doc 0 —
  * all from one global template, so doc 0 owns every boilerplate gram)
  * with runs of `runLen` UNIQUE tokens (salted by doc id). ~50% of every
  * later document is covered, in many islands — the worst case for the
  * island fold and the reconstruction filter at once.
  *
  * Usage: SpanBench [nDocs] [docTokens] [runLen]
  */
object SpanBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toInt).getOrElse(400)
    val docTokens = args.lift(1).map(_.toInt).getOrElse(4000)
    val runLen = args.lift(2).map(_.toInt).getOrElse(20)
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    // token j of doc i: boilerplate runs use the GLOBAL template token
    // ("b<j>"), unique runs salt with the doc id ("u<i>_<j>")
    val docs = spark.range(nDocs.toLong).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(docTokens - 1)),
        j => when((j.cast("int") / runLen) % 2 === 0,
          concat(lit("b"), j.cast("string")))
          .otherwise(concat(lit("u"), col("id").cast("string"),
            lit("_"), j.cast("string")))))
        .as("text"))
      .localCheckpoint() // time the operator, not the synthesis
    val samples = BenchProto.timeNoop(graft.ops.CurationOps
      .spanDedup(docs, "doc_id", "text", k = 5)).samples
    println(f"""{"bench": "span_dedup", "n_docs": $nDocs, """ +
      f""""doc_tokens": $docTokens, "run_len": $runLen, """ +
      f""""samples_sec": [${samples.map(s => f"$s%.3f").mkString(", ")}], """ +
      f""""min_sec": ${samples.min}%.3f}""")
    spark.stop()
  }
}
