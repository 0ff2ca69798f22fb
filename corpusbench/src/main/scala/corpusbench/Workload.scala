package corpusbench

import java.nio.file.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** What a workload knows of its run: the session, the seed, and whether
  * it runs at the smoke size.
  */
final case class Ctx(spark: SparkSession, seed: Long, smoke: Boolean)

/** One timed pass over a workload's inputs: the items it completed (the
  * throughput numerator) and per-layer numbers only the workload knows.
  */
final case class PassResult(items: Long, layer: Map[String, Double] = Map.empty)

/** Outcome of the correctness checks: operations attempted and failed,
  * with a few human-readable reasons for the failures.
  */
final case class CheckResult(attempted: Long, failed: Long,
    reasons: Seq[String] = Nil)

trait Workload {
  /** What one item of `items_per_s` is, for the printed summary. */
  def itemUnit: String
  /** Input sizes, for the artifact and the summary. */
  def sizes: Map[String, Double]

  /** Generate the seeded inputs under `dir` and do any preparation a
    * pass relies on. Called several times with fresh directories; the
    * last call's inputs are the ones the passes use.
    */
  def setup(dir: Path): Unit

  /** One pass of the workload; `trace` records spans (or is disabled). */
  def pass(i: Int, dir: Path, trace: Trace): PassResult

  /** Check the outputs of the last pass. */
  def check(lastPass: Int, dir: Path): CheckResult

  /** Layer numbers measured off the timed path (kernel micro-timings,
    * candidate counts); only called in traced runs.
    */
  def offPathLayers(lastPass: Int, dir: Path): Map[String, Double] = Map.empty
}

object Workload {
  /** Where pass `i` writes its outputs; the run removes it once the
    * next pass has finished.
    */
  def passDir(dir: Path, i: Int): Path = dir.resolve(s"pass-$i")

  /** In a traced run each layer's output is materialized inside its span
    * so that the layer's work is attributed to it; an untraced run keeps
    * Spark's lazy plan. The difference is the tracing overhead.
    */
  def mat[T](trace: Trace, ds: Dataset[T]): Dataset[T] =
    if (trace.enabled) ds.localCheckpoint(true) else ds
}
