package graft

/** Plan-audit helper: prints formatted physical plans for named queries
  * (pushdown / join-strategy inspection during development), planned
  * on [[Bench]]'s session.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_scan_pushdown", "q12_range_join", "q08_dim_resolve")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
