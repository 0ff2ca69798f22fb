package graft

/** Scratch: time named queries once-warm at a given SF (dev helper),
  * on [[Bench]]'s session.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    // the f interpolator renders %f under the JVM default locale; a
    // comma-decimal locale would emit invalid JSON (same bug class as
    // the codebook stamp) — pin ROOT for the whole process
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"unknown query: $n")
        case Some(fn) =>
          // noop sink: full materialization, no count()-plan pruning
          def run(): Unit = fn(spark, sfDir).write
            .format("noop").mode("overwrite").save()
          run()
          val t0 = System.nanoTime()
          run()
          println(f"$n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
