package corpusbench

import scala.io.Source

/** Host evidence carried by every artifact, so a run on a loaded or slow
  * host can be told apart from a regression by reading the artifact.
  */
object Host {

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** 1-minute load average; -1 if unreadable. */
  def load1(): Double = procField("/proc/loadavg", _.split("\\s+")(0).toDouble)

  /** Peak resident set of this process (VmHWM), in MB; -1 if unreadable. */
  def peakRssMb(): Double = procField("/proc/self/status", s =>
    s.linesIterator.find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toDouble / 1024.0)

  private def procField(path: String, f: String => Double): Double =
    try {
      val src = Source.fromFile(path)
      try f(src.mkString) finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Fixed-work calibration: 2×10⁸ xorshift64 steps on one thread, in
    * seconds. The work never changes, so the ratio of two readings is a
    * pure host-speed ratio; steal, throttling or a busy core inflate it.
    */
  def calibSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }
}
