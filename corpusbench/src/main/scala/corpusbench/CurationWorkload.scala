package corpusbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{fingerprint, tokenSet}
import graft.ops.{Dedup, Pq, Similarity}
import graft.streaming.IdempotentSink

/** The training-data side; no alignment code runs here.
  *
  * Documents: MinHash band pairs pre-collapsed on the content
  * fingerprint (as every engine caller builds them), then
  * connected-component dedup flags, over a corpus with planted chains
  * (8 rounds of label propagation) and families with exact copies.
  *
  * Vectors: the shape the engine's own vector benchmarks measure
  * (`SemIngestBench`, `HybridBench`): dim 64, √n IVF cells trained by
  * 5 k-means rounds on a 10% sample, a PQ codebook with m = 8, k = 256,
  * τ calibrated for both probe modes at cosine 0.95, then `epochs`
  * micro-batches through the hybrid-probe PQ semantic ingest (nProbe 2,
  * band 0.3), each after the first deduplicating against the index the
  * earlier ones grew.
  */
final class CurationWorkload(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  val itemUnit = "records (docs + vectors)"

  private val nDocs = if (ctx.smoke) 1024 else 4000
  private val nVecs = if (ctx.smoke) 1000 else 2000
  private val dim = 64
  private val epochs = 2
  private val numHashes = 32
  private val bands = 16

  def sizes: Map[String, Double] = Map("docs" -> nDocs.toDouble,
    "vectors" -> nVecs.toDouble, "dim" -> dim.toDouble,
    "epochs" -> epochs.toDouble)

  private def docsPath(dir: Path) = dir.resolve("docs").toString
  private def vecPath(dir: Path) = dir.resolve("vectors").toString

  def setup(dir: Path): Unit = {
    val seed = ctx.seed
    spark.range(nDocs).map(id => (id, Gen.Docs.text(seed, id)))
      .toDF("doc_id", "text").repartition(4).write.parquet(docsPath(dir))
    val (d, k) = (dim, epochs)
    spark.range(nVecs).map(id => (id, Gen.Vectors.vec(seed, id, d).toSeq))
      .toDF("vec_id", "vec").withColumn("_arr", col("vec_id") % k)
      .write.partitionBy("_arr").parquet(vecPath(dir))
  }

  def pass(i: Int, dir: Path, trace: Trace): PassResult = {
    val out = Workload.passDir(dir, i)
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(docsPath(dir))
    val pairs = trace.span("ops.minhash_band_pairs") {
      bandPairs(docs, minJaccard = 0.5).localCheckpoint(true)
    }
    trace.span("ops.component_flags") {
      Dedup.componentDedupFlags(docs, "text", "doc_id", pairs)
        .write.parquet(out.resolve("doc_flags").toString)
    }
    pairs.write.parquet(out.resolve("pairs").toString)
    val t1 = System.nanoTime()

    val vecs = spark.read.parquet(vecPath(dir))
    val sample = vecs.filter(col("vec_id") % 10 === 0)
    val cells = math.sqrt(nVecs.toDouble).toInt
    val cents = trace.span("ops.ivf_train") {
      val init = vecs.filter(col("vec_id") % (nVecs / cells) === 0)
        .orderBy("vec_id").limit(cells)
        .select(col("vec_id").as("cid"), col("vec").as("cvec"))
      Similarity.kmeansIterate(sample, "vec_id", "vec", init, "cid", "cvec",
        maxIters = 5, tol = 1e-4).localCheckpoint(true)
    }
    // k = 256 needs more points than the 10% sample holds, so the
    // codebook trains on every vector (HybridBench trains on its corpus)
    val cb = trace.span("ops.pq_train") {
      Pq.train(vecs.drop("_arr"), "vec_id", "vec", m = 8, k = 256,
        sampleN = 20000, iters = 5)
    }
    val (tauAdc, tauSdc) = trace.span("ops.pq_calibrate") {
      Pq.calibrateTauDistBoth(sample, "vec_id", "vec", cb,
        cosThreshold = 0.95, sampleN = 20000)
    }
    val ingest = IdempotentSink.semanticIngestPqByBatch(
      out.resolve("index").toString, out.resolve("vec_flags").toString,
      "vec_id", "vec", cents, "cid", "cvec", cb, tauDist = tauSdc,
      nProbe = 2, probeMode = "hybrid", tauAdc = tauAdc, band = 0.3) _
    trace.span("streaming.semantic_ingest_pq") {
      for (b <- 0 until epochs)
        trace.span(s"streaming.semantic_ingest_pq.epoch$b") {
          ingest(vecs.filter(col("_arr") === b).drop("_arr"), b.toLong)
        }
    }
    val t2 = System.nanoTime()
    val docWall = (t1 - t0) / 1e9
    val vecWall = (t2 - t1) / 1e9
    def parquetFiles(p: Path): Int = Files.walk(p).toArray
      .count(_.toString.endsWith(".parquet"))
    val layer =
      if (!trace.enabled) Map.empty[String, Double]
      else Map("streaming.semantic_ingest_pq.files_written" ->
        (parquetFiles(out.resolve("index")) +
          parquetFiles(out.resolve("vec_flags"))).toDouble)
    PassResult(nDocs.toLong + nVecs, layer ++ Map(
      "docs_per_s" -> nDocs / docWall,
      "vectors_per_s" -> nVecs / vecWall))
  }

  private def bandPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    Dedup.minhashBandPairsOver(docs, tokenSet(col("text")), "doc_id",
      numHashes = numHashes, bands = bands, minJaccard = minJaccard,
      collapseExactOn = Some(fingerprint(col("text"))))

  /** Union-find components of a pair list, on the Spark driver. */
  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private var lastRecall = 0.0

  def check(lastPass: Int, dir: Path): CheckResult = {
    val out = Workload.passDir(dir, lastPass)
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    // documents
    val flags = spark.read.parquet(out.resolve("doc_flags").toString)
      .select("doc_id", "keep").as[(Long, Boolean)].collect()
    val pairs = spark.read.parquet(out.resolve("pairs").toString)
      .select("id1", "id2").as[(Long, Long)].collect().toSeq
    // the verified pairs link exact-copy keepers only; each exact copy
    // joins its keeper's component through the shared fingerprint
    val exactLinks = spark.read.parquet(docsPath(dir))
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().groupBy(_._2).values
      .flatMap { g => val ids = g.map(_._1); ids.map(id => (ids.min, id)) }
    val comp = components(pairs ++ exactLinks)
    val byId = flags.groupBy(_._1)
    var docFailed = 0L
    (0L until nDocs).foreach { id =>
      val fs = byId.getOrElse(id, Array.empty)
      if (fs.length != 1) {
        docFailed += 1
        if (bad.size < 5) bad += s"doc $id flagged ${fs.length} times"
      }
    }
    val keep = flags.toMap
    keep.keys.groupBy(id => comp.getOrElse(id, id)).foreach { case (rep, ids) =>
      val kept = ids.count(keep)
      if (kept != 1) {
        docFailed += ids.size
        if (bad.size < 5) bad += s"component $rep keeps $kept docs"
      }
    }
    // planted truth: every member of a planted group but one is a dup
    val groups = (0L until nDocs).groupBy(Gen.Docs.family).removed(-1L)
    val dupTruth = groups.values.map(_.size - 1).sum
    val dropped = groups.values.map(_.count(id => !keep.getOrElse(id, true))).sum
    lastRecall = dropped.toDouble / math.max(1, dupTruth)
    // vectors: each flagged once over the epochs, and the index holds
    // exactly the kept ones
    val vflags = spark.read.parquet(out.resolve("vec_flags").toString)
      .select("vec_id", "keep").as[(Long, Boolean)].collect()
    val indexed = spark.read.parquet(out.resolve("index/code").toString)
      .select("vec_id").as[Long].collect().toSet
    val vBy = vflags.groupBy(_._1)
    var vecFailed = 0L
    (0L until nVecs).foreach { id =>
      val fs = vBy.getOrElse(id, Array.empty)
      val ok = fs.length == 1 && fs.head._2 == indexed.contains(id)
      if (!ok) {
        vecFailed += 1
        if (bad.size < 5) bad += s"vector $id flagged ${fs.length} times " +
          s"(indexed=${indexed.contains(id)})"
      }
    }
    CheckResult(nDocs.toLong + nVecs, docFailed + vecFailed, bad.toSeq)
  }

  override def offPathLayers(lastPass: Int, dir: Path): Map[String, Double] = {
    val docs = spark.read.parquet(docsPath(dir))
    val candidates = bandPairs(docs, minJaccard = 0.0).count()
    val verified = spark.read.parquet(Workload.passDir(dir, lastPass)
      .resolve("pairs").toString).count()
    Map("ops.minhash_band_pairs.candidates" -> candidates.toDouble,
      "ops.minhash_band_pairs.verify_ratio" ->
        verified.toDouble / math.max(1L, candidates),
      "ops.dedup_recall" -> lastRecall)
  }
}
