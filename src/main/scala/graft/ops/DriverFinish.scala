package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The driver-finish rule of the engine's small-input operators: an
  * operator whose WHOLE input fits the session's broadcast budget
  * collects it once and finishes in driver memory instead of paying a
  * Spark job (and its scheduling round trip) per step. Three
  * operators use it: the connected-components loops, IVF k-means, and
  * the PQ dedup probe ([[Pq.semanticDedupFlagsPqSdc]],
  * [[Pq.semanticDedupFlagsPqHybrid]] — the micro-batch and the probed
  * cells' codes, with a further cap on the pairs it scores). At
  * curation sizes the distributed steps move a few kilobytes each, so
  * their cost is per-job driver work, not data.
  *
  * The budget is `spark.sql.autoBroadcastJoinThreshold` — the size the
  * session already trusts to ship to every executor is also the size
  * it trusts to hold on the driver. A negative threshold disables the
  * rule: every operator then runs its distributed plan exactly as
  * before, which is also how specs and benches pin the distributed
  * regime. No separate option exists.
  *
  * The size is OBSERVED, not estimated (Catalyst's estimates size an
  * array column at one element, far too low for embeddings): one
  * bounded collect of at most budget/rowBytes + 1 rows, where the row
  * past the cap means "does not fit". Callers pass a frame that is
  * cached or cheap to rescan, so the probe never recomputes an
  * expensive upstream.
  */
private[graft] object DriverFinish {

  /** `df`'s rows on the driver when `rows × rowBytes` fits the budget;
    * None when it does not (after collecting at most one row past the
    * cap) or when the rule is disabled (no job at all).
    */
  def collectWithin(df: DataFrame, rowBytes: Long): Option[Array[Row]] = {
    val budget =
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (budget < 0) None
    else {
      val maxRows = math.min(budget / rowBytes, Int.MaxValue - 1L).toInt
      Some(df.limit(maxRows + 1).collect()).filter(_.length <= maxRows)
    }
  }
}
