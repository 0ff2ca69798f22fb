package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Locale
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The bench-main kit: its fixtures must keep producing the recorded
  * artifacts' corpora, its artifact line must stay valid JSON whatever
  * the JVM locale, and its session must apply the caller's static confs.
  */
class BenchProtoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (component 0, component 1, last component, dim) of a vector. */
  private def probe(v: Seq[Double]) = (v(0), v(1), v.last, v.size)

  private def interpolatedRow(start: Long, end: Long, id: Long,
      dim: Int, saltBase: Long = 17L,
      amp: Long => Double = _ => 0.05) =
    probe(BenchProto.interpolated(spark, start, end, dim,
      saltBase = saltBase, amp = amp)
      .filter(col("vec_id") === id).head().getSeq[Double](1))

  test("interpolated and unitVec reproduce the recorded fixture rows") {
    // values taken from the per-main generators the kit replaced
    // (AssignBench/PqBench/RecallBench corpus, ProbeBench queries,
    // RecallHierBench codebook, SemDedupBench batch, TopKBench batch,
    // the HybridBench/SemIngestBench/ProbeFinishBench and SdcBench
    // unit vectors)
    assert(interpolatedRow(0L, 4L, 0L, 64) == ((0.17955839143181382,
      0.07774060710006984, -0.07681792637620778, 64)))
    assert(interpolatedRow(12340L, 12350L, 12345L, 64) ==
      ((-0.18034236450741997, 0.1953043059128943, -0.04925910186741903,
        64)))
    assert(interpolatedRow(50000000L, 50000010L, 50000003L, 64) ==
      ((-0.1765555129235646, 0.04116398856355235, -0.09012086210306751,
        64)))
    assert(interpolatedRow(90000000L, 90000010L, 90000005L, 64) ==
      ((-0.08516469717771623, 0.029182388911005563, 0.05930675914299673,
        64)))
    assert(interpolatedRow(1000000L, 1000010L, 1000007L, 64,
      saltBase = 91L,
      amp = id => 0.05 + 0.6 * ((id % 97).toDouble / 96.0)) ==
      ((0.12112462233929253, 0.1322591772040919, -0.032523389176037094,
        64)))
    assert(interpolatedRow(10000000L, 10000005L, 10000002L, 32,
      saltBase = 91L) == ((0.03450406435111353, 0.0016239258818695462,
      0.2405223388181534, 32)))
    assert(probe(BenchProto.unitVec(64, 10L, noiseOf = 19L)) ==
      ((0.021547235924270616, 0.1586653699480105, -0.07041504052236316,
        64)))
    assert(probe(BenchProto.unitVec(64, 42L)) == ((-0.05775189583754472,
      -0.24680946701178608, -0.052042998498592306, 64)))
    assert(probe(BenchProto.unitVec(64, 7777780L)) ==
      ((0.044899588821857614, 0.021603356960179544, 0.0871313322601477,
        64)))
  }

  test("writeArtifact writes one parseable UTF-8 JSON line under a " +
    "comma-decimal default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val leg = BenchProto.Leg(Seq(1.5, 0.25), Seq(0.5, 1.25), Some(0.125))
      val json = s"""{"metric":"t","text":"שָׁלוֹם","leg":""" +
        leg.json(""""kept":3""") + "}"
      // a directory that does not exist yet: the write creates it
      val dir = TestDirs.tmp("bench_artifact").resolve("out")
      BenchProto.writeArtifact(dir.toString, "t.json", json)
      val text = new String(Files.readAllBytes(dir.resolve("t.json")),
        StandardCharsets.UTF_8)
      assert(text.endsWith("\n") && text.count(_ == '\n') == 1)
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(text)
      assert(node.get("text").asText == "שָׁלוֹם")
      val l = node.get("leg")
      assert(l.get("sec").asDouble == 0.25)
      assert(l.get("samples").size == 2 && l.get("samples").get(0)
        .asDouble == 1.5)
      assert(l.get("load1").get(1).asDouble == 1.25)
      assert(l.get("calib").asDouble == 0.125)
      assert(l.get("kept").asInt == 3)
    } finally Locale.setDefault(prev)
  }

  test("session applies the caller's static conf pairs") {
    val orig = spark // materialize the shared session first
    val prevLocale = Locale.getDefault
    val warehouse = TestDirs.tmp("bench_wh").resolve("warehouse").toString
    // a static conf only takes on a NEW session: swap the JVM-global
    // default/active session out and restore it in the finally (suites
    // run sequentially, see FuzzyExprSpec). Do NOT stop s — sessions
    // share the one SparkContext.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = BenchProto.session("spark.sql.warehouse.dir" -> warehouse)
      assert(s ne orig, "builder returned the existing session")
      assert(new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir")).toUri.getPath == warehouse)
      assert(s.conf.get("spark.sql.shuffle.partitions") ==
        BenchProto.cpus.toString)
      assert(Locale.getDefault == Locale.ROOT)
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
      Locale.setDefault(prevLocale)
    }
  }
}
