package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One ANN candidate as the bounded top-k aggregate carries it: the
  * corpus id, its IVF cell, and the rounded cosine score. Ids and
  * cells travel as longs inside the aggregate; the call site casts
  * narrower integral layouts in and back out (partition-directory
  * inference can make `cell` an int on a reloaded index).
  */
case class TopKHit(id: Long, cell: Long, cos_sim: Double)

/** Size-bounded partial top-k by (cos_sim desc, id asc) — the k>1
  * analog of the `min_by` top-1 fast path in
  * [[graft.ops.Similarity.ivfSearchBatch]].
  *
  * Why an aggregate and not a rank window: `row_number().over(
  * partitionBy(qid))` shuffles EVERY candidate row (batch × nProbe ×
  * cell size) just to sort-and-discard all but k of them, and at
  * corpus-probe sizes that exchange IS the job. This aggregate's
  * buffer is a sorted array capped at `k`, so the PARTIAL (map-side)
  * aggregation reduces each partition to at most k hits per query
  * BEFORE the exchange — the shuffle carries ≤ k × partitions rows
  * per query instead of every candidate. `collect_list` + sort +
  * slice would partial-aggregate too, but its buffer is UNBOUNDED:
  * the exchange bytes stay identical to the window's, only the row
  * count shrinks.
  *
  * Cost model behind the [[TopKByScore.MaxK]] guard: `reduce` is O(1)
  * for a non-qualifying row (one compare against the current worst —
  * the common case once the buffer warms) and O(k) to insert; `merge`
  * is O(k²) but runs once per (query, partition) pair. At k ≤ 100
  * both are trivially memory- and CPU-bounded; past that the window
  * form's single O(n log n) sort wins, so callers route large k there.
  *
  * Ordering contract matches the window path and the DuckDB oracles:
  * ties on the (rounded) score break by ascending id. Scores are
  * assumed non-null/non-NaN: NaN would sort first under Spark's
  * window ordering but last here, so `ivfSearchBatch` drops NaN
  * scores (zero-norm vectors ⇒ cosine 0/0) BEFORE every rank path —
  * the divergence is closed at the source, not assumed away.
  */
class TopKByScore(k: Int)
    extends Aggregator[TopKHit, scala.collection.Seq[TopKHit],
      Seq[TopKHit]] {
  require(k >= 1 && k <= TopKByScore.MaxK,
    s"TopKByScore holds its whole buffer per group: k=$k exceeds " +
      s"MaxK=${TopKByScore.MaxK}; use the rank-window form instead")

  private def beats(a: TopKHit, b: TopKHit): Boolean =
    a.cos_sim > b.cos_sim || (a.cos_sim == b.cos_sim && a.id < b.id)

  // The hot path mutates an ArrayBuffer in place (binary-search insert
  // = one arraycopy, zero allocation): Spark's typed-Aggregator
  // contract keeps the buffer as a live object between update() calls
  // and reassigns it to reduce()'s return value, so returning the same
  // mutated instance is the documented mutable-buffer pattern. The
  // first immutable-Vector cut rebuilt three collections per insert
  // and LOST to the rank window on CPU at gate scale. Buffers arriving
  // from deserialization (merge inputs) may be any Seq — copied into
  // an ArrayBuffer once, then mutated.
  private def owned(buf: scala.collection.Seq[TopKHit])
  : scala.collection.mutable.ArrayBuffer[TopKHit] = buf match {
    case ab: scala.collection.mutable.ArrayBuffer[TopKHit @unchecked] => ab
    case other => scala.collection.mutable.ArrayBuffer.from(other)
  }

  override def zero: scala.collection.Seq[TopKHit] =
    new scala.collection.mutable.ArrayBuffer[TopKHit](k + 1)

  override def reduce(buf: scala.collection.Seq[TopKHit], x: TopKHit)
  : scala.collection.Seq[TopKHit] =
    // O(1) reject once the buffer is full — the common case on a warm
    // buffer; qualifying rows pay one O(log k) search + one arraycopy
    if (buf.size >= k && !beats(x, buf(buf.size - 1))) buf
    else {
      val b = owned(buf)
      var lo = 0
      var hi = b.size
      while (lo < hi) { // first position where x beats the occupant
        val mid = (lo + hi) >>> 1
        if (beats(x, b(mid))) hi = mid else lo = mid + 1
      }
      b.insert(lo, x)
      if (b.size > k) b.remove(b.size - 1)
      b
    }

  override def merge(a: scala.collection.Seq[TopKHit],
      b: scala.collection.Seq[TopKHit]): scala.collection.Seq[TopKHit] =
    b.foldLeft(a)(reduce)

  override def finish(buf: scala.collection.Seq[TopKHit]): Seq[TopKHit] =
    buf.toVector

  override def bufferEncoder: Encoder[scala.collection.Seq[TopKHit]] =
    ExpressionEncoder[scala.collection.Seq[TopKHit]]()
  override def outputEncoder: Encoder[Seq[TopKHit]] =
    ExpressionEncoder[Seq[TopKHit]]()

  // plans print the aggregator by its toString: the bound, not the JVM
  // identity hash, so a plan reads the same in every run
  override def toString: String = s"TopKByScore($k)"
}

object TopKByScore {
  /** Buffer-size guard: above this the window form's single sort beats
    * the O(k) insert / O(k²) merge, and a "top-k" this wide is a
    * different query shape anyway.
    */
  val MaxK = 100

  /** Column form: `df.groupBy("qid").agg(topk(k, id, cell, score))` →
    * an `array<struct<id, cell, cos_sim>>` sorted best-first.
    */
  def topk(k: Int, id: Column, cell: Column, cosSim: Column): Column =
    udaf(new TopKByScore(k), ExpressionEncoder[TopKHit]())
      .apply(id, cell, cosSim)
}
