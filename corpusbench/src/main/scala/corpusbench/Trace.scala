package corpusbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer: name, start, end (ns since the trace
  * began) and the span that caused it (-1 at the top).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long)

/** Spark counters attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var shuffleRead, shuffleWrite, spill, cpuNs, gcMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder plus a listener that attributes job, stage
  * and task counters to the span active when the job was submitted. The
  * span id rides a Spark local property, which Spark copies onto every
  * job the calling thread (or a thread it starts) submits.
  *
  * When disabled, `span` only runs its body: the untraced run pays
  * nothing but a branch.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val prop = "corpusbench.span"
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private val counters = mutable.Map.empty[Int, Counters]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Int]
  @volatile private var lastJobEnd = -1

  private def countersOf(span: Int): Counters =
    counters.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(prop))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        Trace.this.synchronized {
          jobSpan(e.jobId) = s
          jobStartMs(e.jobId) = e.time
          countersOf(s).jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Trace.this.synchronized {
        jobSpan.get(e.jobId).foreach { s =>
          countersOf(s).jobIntervals += ((jobStartMs(e.jobId), e.time))
        }
      }
      lastJobEnd = e.jobId
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(countersOf(_).stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
          val c = countersOf(s)
          c.tasks += 1
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
        }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span named `name`, nested under the current one. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { spans.size }
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(prop)
      val start = System.nanoTime() - t0
      stack.push(id)
      synchronized { spans += Span(id, name, parent, start, -1L) }
      sc.setLocalProperty(prop, id.toString)
      try body
      finally {
        sc.setLocalProperty(prop, prev)
        stack.pop()
        synchronized {
          spans(id) = spans(id).copy(endNs = System.nanoTime() - t0)
        }
      }
    }

  /** Wait until the listener bus has delivered every event posted so far:
    * run a marker job and wait for its end event (events arrive in order).
    */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(prop, null)
    sc.parallelize(Seq(1), 1).count()
    val marker = sc.statusTracker.getJobIdsForGroup(null).maxOption
      .getOrElse(lastJobEnd)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (lastJobEnd < marker && System.nanoTime() < deadline)
      Thread.sleep(5)
    sc.removeSparkListener(listener)
  }

  /** Per-span-name summary: occurrence count, median wall seconds, and
    * the Spark counters of each occurrence and its descendant spans,
    * summed over all occurrences.
    */
  def summary(): Map[String, Trace.SpanStats] = synchronized {
    val done = spans.toSeq.filter(_.endNs >= 0)
    val children = done.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    done.groupBy(_.name).map { case (name, ss) =>
      val cs = ss.flatMap(subtree).flatMap(x => counters.get(x.id))
      val walls = ss.map(s => (s.endNs - s.startNs) / 1e9)
      // driver gap: span wall minus the union of its jobs' intervals
      val gaps = ss.map { s =>
        val iv = subtree(s).flatMap(x => counters.get(x.id))
          .flatMap(_.jobIntervals).sortBy(_._1)
        var covered = 0L
        var curS = 0L
        var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) {
            if (curE > curS) covered += curE - curS
            curS = a; curE = b
          } else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        math.max(0.0, (s.endNs - s.startNs) / 1e9 - covered / 1e3)
      }
      name -> Trace.SpanStats(ss.size, Stats.median(walls),
        cs.map(_.jobs).sum, cs.map(_.stages).sum, cs.map(_.tasks).sum,
        cs.map(_.shuffleRead).sum / 1048576.0,
        cs.map(_.shuffleWrite).sum / 1048576.0,
        cs.map(_.spill).sum / 1048576.0, cs.map(_.cpuNs).sum / 1e9,
        cs.map(_.gcMs).sum / 1e3, gaps.sum)
    }
  }

  def spanRecords: Seq[Span] = synchronized { spans.toSeq }
}

object Trace {
  final case class SpanStats(count: Int, medianS: Double, jobs: Long,
      stages: Long, tasks: Long, shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double, execCpuS: Double,
      gcS: Double, driverGapS: Double)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
