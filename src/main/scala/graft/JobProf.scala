package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}
import scala.jdk.CollectionConverters._

/** Scratch: per-Spark-job wall-time profile of a named query (dev
  * helper for the optimization rounds — heavy operators run many jobs;
  * the bench total says nothing about WHICH job is the wall), on
  * [[Bench]]'s session.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("ERROR")
    // job id -> (submission time in ms, start nanos, call site)
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
    // job id -> (submission time in ms, printed line)
    val ended =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // SQL execution id -> action call site (the lambda-wrapped job
    // stage names are useless for attribution; the execution's
    // description is the `collect at Pq.scala:123`-style call site)
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile var lastJobEnd = -1
    @volatile var tBase = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionStart =>
            execDesc.put(e.executionId, e.description)
          case _ =>
        }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val execId = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val site = execId.flatMap(id => Option(execDesc.get(id.toLong)))
          .getOrElse(js.stageInfos.lastOption.map(_.name).getOrElse(""))
        starts.put(js.jobId, (js.time, System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (ms, t0, site) =>
          ended.put(je.jobId, (ms, f"  job ${je.jobId}%4d @${(t0 - tBase) / 1e9}%7.3f ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site"))
        }
        lastJobEnd = je.jobId
      }
    })
    // the listener bus delivers events asynchronously: run a marker job
    // and wait for its end event, which the bus posts after every
    // earlier job's
    def drain(): Unit = {
      val sc = spark.sparkContext
      sc.parallelize(Seq(1), 1).count()
      val marker = sc.statusTracker.getJobIdsForGroup(null).maxOption
        .getOrElse(lastJobEnd)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (lastJobEnd < marker && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    args.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"unknown query: $n")
        case Some(fn) =>
          def run(): Unit = fn(spark, sfDir).write
            .format("noop").mode("overwrite").save()
          run() // warm
          // a job counts when it was SUBMITTED inside the recorded run's
          // window (submission times are in ms: step past the warm
          // run's last millisecond first, and past the window's last
          // before the marker job)
          Thread.sleep(2)
          val from = System.currentTimeMillis()
          tBase = System.nanoTime()
          run()
          val wall = (System.nanoTime() - tBase) / 1e9
          val to = System.currentTimeMillis()
          Thread.sleep(2)
          drain()
          println(f"===== $n: $wall%.2f s =====")
          ended.asScala.toSeq.sortBy(_._1).foreach { case (_, (ms, line)) =>
            if (ms >= from && ms <= to) println(line)
          }
          ended.clear()
      }
    }
    spark.stop()
  }
}
