package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session, lazy). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

/** Session settings a spec pins for the length of one body. */
object TestConf {
  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at `v`
    * and restores the previous value afterwards. The driver-finish
    * operators (`ops.DriverFinish`: connected components, IVF k-means,
    * the SDC/hybrid PQ dedup flags) read it as their budget; "-1" pins
    * their distributed plans.
    */
  def withBroadcastThreshold[T](v: String)(body: => T): T = {
    val spark = TestSpark.spark
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}

/** Spec temp dirs, recursively deleted when the test JVM exits. */
object TestDirs {
  def tmp(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del))
        f.delete(): Unit
      }
      del(p.toFile)
    }
    p
  }
}
