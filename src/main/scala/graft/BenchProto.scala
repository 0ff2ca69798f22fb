package graft

import org.apache.spark.sql.SparkSession

/** Shared measurement-protocol primitives for the bench mains — ONE
  * definition of the host-window evidence every artifact carries, so
  * "load1" and "calib" mean the same thing in BENCH_*, DOCS_*,
  * BUCKET_* files and two artifacts' calib ratio is always a pure
  * host-speed ratio (the full protocol rationale is documented on
  * [[Bench]]).
  */
private[graft] object BenchProto {

  /** The one session [[Bench]], [[TimeQ]], [[JobProf]] and [[Explain]]
    * run on, so a query is timed, profiled and planned under the same
    * configuration: `local[SPARK_GRAFT_CPUS]` (default 32) with as many
    * shuffle partitions, AQE on, UTC session time zone, no UI.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** 1-minute load average from /proc/loadavg; -1 if unreadable. */
  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Fixed-work host sentinel: 2×10⁸ xorshift64 steps on one thread,
    * in seconds. The work is identical every call and every round, so
    * the ratio of two calib readings is a pure host-speed ratio —
    * CPU steal, thermal throttle, or a loaded core all inflate it.
    */
  def calibSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    // keep the loop's result observable so JIT cannot delete it
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }
}
