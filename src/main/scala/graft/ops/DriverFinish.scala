package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The driver-finish rule of the engine's iterative loops (connected
  * components, IVF k-means): a loop whose WHOLE input fits the
  * session's broadcast budget collects it once and iterates in driver
  * memory instead of paying a Spark job (and its scheduling round
  * trip) per round. At curation sizes the distributed rounds move a
  * few kilobytes each, so their cost is per-job driver work, not data.
  *
  * The budget is `spark.sql.autoBroadcastJoinThreshold` — the size the
  * session already trusts to ship to every executor is also the size
  * it trusts to hold on the driver. A negative threshold disables the
  * rule: every loop then runs its distributed rounds exactly as
  * before, which is also how specs and benches pin the distributed
  * regime. No separate option exists.
  *
  * The size is OBSERVED, not estimated: one count job over the input
  * (Catalyst's estimates size an array column at one element, far too
  * low for embeddings). Callers pass a frame that is cached or cheap
  * to rescan, so the probe never recomputes an expensive upstream.
  */
private[graft] object DriverFinish {

  /** `df`'s rows on the driver when `rows × rowBytes` fits the budget
    * (one count job, then one collect); None — after the count only —
    * when it does not, or with no count when the rule is disabled.
    */
  def collectWithin(df: DataFrame, rowBytes: Long): Option[Array[Row]] = {
    val budget =
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (budget >= 0 && df.count() <= budget / rowBytes) Some(df.collect())
    else None
  }
}
