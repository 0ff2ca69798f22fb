package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement kit every bench main calls — ONE definition of the
  * session, the vector fixtures, the timed leg and the artifact write,
  * and of the host-window evidence every artifact carries, so "load1"
  * and "calib" mean the same thing in BENCH_*, DOCS_*, BUCKET_* files
  * and two artifacts' calib ratio is always a pure host-speed ratio
  * (the full protocol rationale is documented on [[Bench]]).
  */
private[graft] object BenchProto {

  /** `SPARK_GRAFT_CPUS` (default 32): the local master's cores and the
    * shuffle partition count.
    */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The one session every measurement main runs on, so a query is
    * timed, profiled and planned under the same configuration:
    * `local[cpus]` with as many shuffle partitions, AQE on, UTC session
    * time zone, no UI, plus the caller's static confs (those that must
    * be set before the session exists, e.g. `spark.sql.warehouse.dir`).
    * Pins the JVM default locale to ROOT: the f interpolator renders %f
    * under it, and a comma-decimal locale would emit invalid JSON.
    */
  def session(staticConfs: (String, String)*): SparkSession = {
    Locale.setDefault(Locale.ROOT)
    staticConfs.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
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

  /** The boundary-straddling interpolated corpus, rows `start until end`
    * as (`vec_id`, `embedding`): `seeds` Gaussian centroids drawn from
    * `Random(7)`, and row `id` = `(1−t)·c_a + t·c_b + amp(id)·ε`,
    * unit-normalized, with a ≠ b, t and ε from `Random(id·1000003 +
    * saltBase)`. Every vector is a pure function of its id, so reruns
    * measure the same corpus; a query's true neighbors spread along
    * the segment, so a fine codebook cuts its neighborhood across
    * cells.
    */
  def interpolated(spark: SparkSession, start: Long, end: Long, dim: Int,
      seeds: Int = 32, saltBase: Long = 17L,
      amp: Long => Double = _ => 0.05): DataFrame = {
    import spark.implicits._
    val seedRnd = new scala.util.Random(7)
    val cents = Array.fill(seeds)(Array.fill(dim)(seedRnd.nextGaussian()))
    spark.range(start, end).as[Long].mapPartitions(_.map { id =>
      val r = new scala.util.Random(id * 1000003L + saltBase)
      val a = r.nextInt(seeds)
      val b0 = r.nextInt(seeds)
      val b = if (b0 == a) (b0 + 1) % seeds else b0
      val t = r.nextDouble()
      val noise = amp(id)
      val raw = Array.tabulate(dim)(j =>
        (1 - t) * cents(a)(j) + t * cents(b)(j) + noise * r.nextGaussian())
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (id, raw.map(_ / nrm).toSeq)
    }).toDF("vec_id", "embedding")
  }

  /** A random unit vector, a pure function of `seed`; with `noiseOf ≥ 0`
    * a σ-noised near-copy (cos ≈ 0.987 at dim 64) whose noise is seeded
    * by `noiseOf`. Random dim-64 unit vectors are pairwise
    * near-orthogonal, so only planted copies are near-duplicates.
    */
  def unitVec(dim: Int, seed: Long, noiseOf: Long = -1L): Seq[Double] = {
    val r = new scala.util.Random(seed * 1000003L + 17L)
    val raw = Array.fill(dim)(r.nextGaussian())
    if (noiseOf >= 0L) {
      val rn = new scala.util.Random(noiseOf * 999983L + 5L)
      for (j <- 0 until dim) raw(j) += 0.02 * rn.nextGaussian() * 8.0
    }
    val nrm = math.sqrt(raw.map(x => x * x).sum)
    raw.map(_ / nrm).toSeq
  }

  private def num(x: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(Locale.ROOT, x)

  /** One timed leg: wall seconds and the load1 read just before each
    * sample, and the calib sentinel when it was read.
    */
  final case class Leg(samples: Seq[Double], load1: Seq[Double],
      calib: Option[Double]) {
    def sec: Double = samples.min

    /** `{"sec","samples","load1"[,"calib"], extra...}`; `extra` are
      * rendered `"key":value` pairs.
      */
    def json(extra: String*): String = {
      def arr(xs: Seq[Double], digits: Int) =
        xs.map(num(_, digits)).mkString("[", ",", "]")
      (Seq(s""""sec":${num(sec, 3)}""", s""""samples":${arr(samples, 3)}""",
        s""""load1":${arr(load1, 2)}""") ++
        calib.map(c => s""""calib":${num(c, 3)}""") ++ extra)
        .mkString("{", ",", "}")
    }
  }

  /** Materializes `df` through the `noop` sink once (warm), reads the
    * calib sentinel if asked, then times `runs` more noop writes, each
    * after its load1 reading. `df` is re-evaluated per write, so a
    * caller that passes a builder call times a fresh plan every run.
    */
  def timeNoop(df: => DataFrame, runs: Int = 3,
      calib: Boolean = false): Leg = {
    df.write.format("noop").mode("overwrite").save()
    val c = if (calib) Some(calibSec()) else None
    val ss = (1 to runs).map { _ =>
      val l = load1()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, l)
    }
    Leg(ss.map(_._1), ss.map(_._2), c)
  }

  /** (rows, shuffle bytes) of one collect of `df` with AQE off: AQE
    * query stages hide the exchanges from a plain plan collect, so the
    * metered run pins it off and restores the session's value. The
    * bytes are the summed `dataSize` of the executed plan's
    * ShuffleExchangeExecs; the metrics live on THE collected frame's
    * QueryExecution (a writer action runs through its own).
    */
  def meteredShuffle(spark: SparkSession, df: => DataFrame): (Long, Long) = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val metered = df
      val rows = metered.collect().length.toLong
      val bytes = metered.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      (rows, bytes)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** The regular files under `path` whose name ends with `suffix`
    * (none when `path` does not exist): what the mains count and size
    * their on-disk trees by.
    */
  def filesUnder(path: String, suffix: String = ""): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile && f.getName.endsWith(suffix)) Seq(f)
      else Nil
    walk(new java.io.File(path))
  }

  /** Prints the artifact line, then writes it as UTF-8 to
    * `outDir/name`, creating `outDir` first.
    */
  def writeArtifact(outDir: String, name: String, json: String): Unit = {
    println(json)
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    Files.write(dir.resolve(name),
      (json + "\n").getBytes(StandardCharsets.UTF_8)): Unit
  }
}
