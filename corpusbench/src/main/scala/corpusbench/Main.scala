package corpusbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Usage:
  *
  *   Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *        --tmp <dir> [--smoke]
  *
  * Runs the workload's set-up three times (the median is `setup_s`) with
  * untimed warm-up passes after the first, then timed passes until
  * `--seconds` are used, then the correctness checks. With `--trace 1` untraced and traced passes alternate, so the
  * per-layer numbers and the tracing overhead come from one run. Prints
  * one `RESULT {json}` line with every number measured; `run.py` turns
  * it into the benchmark's result line.
  */
object Main {

  val workloads = Seq("tanakh_align", "curation")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "tanakh_align" => new AlignWorkload(ctx)
    case "curation" => new CurationWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val smoke = argv.contains("--smoke")
    val names = args("workload") match {
      case "all" => workloads
      case w => Seq(w)
    }
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val tmp = Paths.get(args("tmp")).toAbsolutePath
    System.setProperty("derby.system.home", tmp.resolve("derby").toString)
    val cores = Host.nproc
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("corpusbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.local.dir", tmp.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        tmp.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(tmp.resolve("checkpoints").toString)
    val calibStart = Host.calibSec()
    val results = names.map(n => runOne(spark, n, seed, seconds, traced, smoke,
      tmp.resolve(n)))
    val calibEnd = Host.calibSec()
    val json = Json.obj(
      "workloads" -> Json.arr(results.map(Json.obj(_: _*))),
      "host" -> Json.obj("nproc" -> Json.num(cores),
        "calib_s_start" -> Json.num(calibStart),
        "calib_s_end" -> Json.num(calibEnd),
        "spark_master" -> Json.str(s"local[$cores]")))
    println("RESULT " + json)
    spark.stop()
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).toArray.map(_.asInstanceOf[Path])
      all.reverse.foreach(Files.deleteIfExists)
    }

  def runOne(spark: SparkSession, name: String, seed: Long, budget: Double,
      traced: Boolean, smoke: Boolean, dir: Path): Seq[(String, String)] = {
    val ctx = Ctx(spark, seed, smoke)
    val w = make(name, ctx)
    val load1 = mutable.ArrayBuffer.empty[Double]
    val off = new Trace(spark.sparkContext, enabled = false)
    val setupWalls = mutable.ArrayBuffer.empty[Double]
    def setup(j: Int): Path = {
      val d = Files.createDirectories(dir.resolve(s"setup-$j"))
      load1 += Host.load1()
      val t0 = System.nanoTime()
      w.setup(d)
      setupWalls += seconds(t0)
      if (j > 0) deleteTree(dir.resolve(s"setup-${j - 1}"))
      d
    }
    // the first set-up runs on a cold JVM; untimed passes over its inputs
    // then let the JIT settle at full size (as long as the timed passes
    // will run, at least one), and the other two set-ups run warm, so
    // the median of the three is a warm one
    val first = setup(0)
    // the high-water mark after a fixed amount of work (the first set-up
    // and the first pass), whatever the number of passes that follow
    var peakRss = 0.0
    val tWarmPass = System.nanoTime()
    if (!smoke) {
      var k = 0
      while (k == 0 || seconds(tWarmPass) < budget) {
        w.pass(0, first, off)
        if (k == 0) peakRss = Host.peakRssMb()
        deleteTree(Workload.passDir(first, 0))
        k += 1
      }
    }
    val warmPass = seconds(tWarmPass)
    val work = if (smoke) first else { setup(1); setup(2) }
    val on = new Trace(spark.sparkContext, enabled = traced)
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val passLayers = mutable.ArrayBuffer.empty[(Boolean, Map[String, Double])]
    var items = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    // timed passes while the next one is expected to end within the
    // budget: at least one, or one of each kind when traced
    val minTimed = if (traced) 2 else 1
    var i = 1
    val start = System.nanoTime()
    var last = 0.0
    var stop = false
    while (!stop) {
      val tracedPass = traced && i % 2 == 0
      // start every pass from a collected heap, so no pass pays for the
      // garbage of the one before
      System.gc()
      load1 += Host.load1()
      val t0 = System.nanoTime()
      try {
        val r = w.pass(i, work, if (tracedPass) on else off)
        last = seconds(t0)
        items = r.items
        if (tracedPass) tracedWalls += last else walls += last
        passLayers += ((tracedPass, r.layer))
        if (smoke && i == 1) peakRss = Host.peakRssMb()
      } catch {
        case e: Exception =>
          failed += math.max(1L, items)
          errors += s"pass $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          stop = true
      }
      if (i > 1) deleteTree(Workload.passDir(work, i - 1))
      stop = stop || (i >= minTimed && seconds(start) + last > budget)
      i += 1
    }
    val window = seconds(start)
    on.drain()
    val lastPass = i - 1
    val tCheck = System.nanoTime()
    val check =
      if (errors.nonEmpty) CheckResult(math.max(1L, items) * i, failed, errors.toSeq)
      else w.check(lastPass, work)
    val checkS = seconds(tCheck)
    if (check.failed > 0)
      check.reasons.foreach(r => System.err.println(s"[check] $name: $r"))
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    metrics("setup_s") = Stats.median(setupWalls.toSeq)
    metrics("items_per_s") = items / Stats.median(walls.toSeq)
    metrics("peak_rss_mb") = peakRss
    // workload-specific rates (untraced passes only)
    val untracedLayers = passLayers.filterNot(_._1).map(_._2)
    Seq("docs_per_s", "vectors_per_s").foreach { k =>
      val xs = untracedLayers.flatMap(_.get(k))
      if (xs.nonEmpty) metrics(k) = Stats.median(xs.toSeq)
    }
    if (traced && errors.isEmpty) {
      metrics("trace.overhead_pct") =
        (Stats.median(tracedWalls.toSeq) / Stats.median(walls.toSeq) - 1) * 100
      on.summary().foreach { case (span, s) =>
        val n = s.count.toDouble
        metrics(s"$span.s") = s.medianS
        metrics(s"$span.jobs") = s.jobs / n
        metrics(s"$span.stages") = s.stages / n
        metrics(s"$span.tasks") = s.tasks / n
        metrics(s"$span.shuffle_read_mb") = s.shuffleReadMb / n
        metrics(s"$span.shuffle_write_mb") = s.shuffleWriteMb / n
        metrics(s"$span.spill_mb") = s.spillMb / n
        metrics(s"$span.exec_cpu_s") = s.execCpuS / n
        metrics(s"$span.gc_s") = s.gcS / n
        metrics(s"$span.driver_gap_s") = s.driverGapS / n
      }
      val tracedLayers = passLayers.filter(_._1).map(_._2)
      tracedLayers.flatMap(_.keys).distinct.foreach { k =>
        metrics(k) = Stats.median(tracedLayers.flatMap(_.get(k)).toSeq)
      }
      metrics ++= w.offPathLayers(lastPass, work)
    }
    deleteTree(dir)
    Seq(
      "workload" -> Json.str(name),
      "item_unit" -> Json.str(w.itemUnit),
      "correct" -> (if (check.failed == 0 && errors.isEmpty) "true" else "false"),
      "attempted" -> Json.num(math.max(1L, check.attempted)),
      "failed" -> Json.num(check.failed),
      "failures" -> Json.arr(check.reasons.map(Json.str)),
      "timed_passes" -> Json.num(walls.size + tracedWalls.size),
      "window_s" -> Json.num(window),
      "warmup_pass_s" -> Json.num(warmPass),
      "check_s" -> Json.num(checkS),
      "pass_walls_s" -> Json.arr(walls.toSeq.map(Json.num)),
      "traced_pass_walls_s" -> Json.arr(tracedWalls.toSeq.map(Json.num)),
      "setup_walls_s" -> Json.arr(setupWalls.toSeq.map(Json.num)),
      "load1" -> Json.arr(load1.toSeq.map(Json.num)),
      "sizes" -> Json.obj(w.sizes.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> Json.arr(on.spanRecords.map(sp => Json.obj(
        "id" -> Json.num(sp.id), "name" -> Json.str(sp.name),
        "parent" -> Json.num(sp.parent), "start_s" -> Json.num(sp.startNs / 1e9),
        "end_s" -> Json.num(sp.endNs / 1e9)))),
      "metrics" -> Json.obj(metrics.toSeq
        .map { case (k, v) => k -> Json.num(v) }: _*))
  }
}

/** Just enough JSON writing for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
