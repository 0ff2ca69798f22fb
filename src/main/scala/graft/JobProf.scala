package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

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
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // SQL execution id -> action call site (the lambda-wrapped job
    // stage names are useless for attribution; the execution's
    // description is the `collect at Pq.scala:123`-style call site)
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile var record = false
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
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        if (record) Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          lines.add(f"  job ${je.jobId}%4d @${(t0 - tBase) / 1e9}%7.3f ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
        }
      }
    })
    args.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"unknown query: $n")
        case Some(fn) =>
          def run(): Unit = fn(spark, sfDir).write
            .format("noop").mode("overwrite").save()
          run() // warm
          lines.clear(); record = true; tBase = System.nanoTime()
          val t0 = tBase
          run()
          val wall = (System.nanoTime() - t0) / 1e9
          record = false
          // listener events drain asynchronously
          Thread.sleep(500)
          println(f"===== $n: $wall%.2f s =====")
          lines.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
