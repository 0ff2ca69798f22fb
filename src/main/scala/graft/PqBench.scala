package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}

/** PQ quality/cost study — measures what the q124–q127 gate fixtures
  * cannot (their m=2/k=4 codebook exists for SQL-mirrorability, not
  * quality): at a production-shaped m=8/k=256 codebook over the
  * boundary-straddling interpolated corpus ([[RecallBench]]'s fixture,
  * same determinism), record
  *
  *  - train/encode cost and the on-disk payload ratio (the 64×-class
  *    memory claim, measured as parquet bytes: full-vector corpus vs
  *    (id, code) table);
  *  - recall@10 of brute ADC ranking vs the exact cosine top-10 — the
  *    quantization error alone;
  *  - IVF-PQ probe recall/cost at nProbe ∈ {1,2,4,8} against a √n
  *    kmeansIterate codebook — banding loss × quantization loss, the
  *    operating point; and
  *  - the refined (exact re-rank, refineFactor=4) recall at the same
  *    nProbe points — how much of the ADC error the candidate-sized
  *    re-rank buys back.
  *
  * Usage: PqBench [n] [outDir] — one JSON line, mirrored to
  * outDir/pq.json (PQ_*_r11.json in the repo).
  */
object PqBench {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val outDir = args.lift(1).getOrElse("/tmp/pq_bench")
    val m = args.lift(2).map(_.toInt).getOrElse(8) // bytes/vector knob
    val refineFactor = args.lift(3).map(_.toInt).getOrElse(4)
    // "full" runs the whole quality/cost protocol; "fetch" skips the
    // exact ground truth, brute ADC, and probe sweep (the O(n·queries)
    // stages) so the refine-FETCH A/B is affordable at 4M+ vectors;
    // "fetch-reuse" additionally reuses an existing outDir's corpus and
    // index trees (sound because Pq.train and the ivf codebook path are
    // deterministic functions of the corpus — the stamps re-verify)
    val mode = args.lift(4).getOrElse("full")
    val reuse = mode == "fetch-reuse"
    val dim = 64
    val kSub = 256
    val kTop = 10
    val nQueries = 100
    val kCells = math.sqrt(n.toDouble).toInt
    val spark = BenchProto.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // --- fixture: RecallBench's interpolated corpus ------------------
    if (!reuse) BenchProto.interpolated(spark, 0L, n, dim)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val emb = spark.read.parquet(s"$outDir/corpus")
    val queries = emb.filter(col("vec_id") < nQueries)

    // --- PQ codebook + encoded corpus ---------------------------------
    val t0 = System.nanoTime()
    val cb = Pq.train(emb, "vec_id", "embedding", m, kSub,
      sampleN = 20000, iters = 10)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    if (!reuse) Pq.encode(emb, "embedding", cb)
      .select(col("vec_id"), col("pq_code"))
      .write.mode("overwrite").parquet(s"$outDir/codes")
    val encodeSec = (System.nanoTime() - t1) / 1e9
    lazy val codes = spark.read.parquet(s"$outDir/codes")
    def bytesOf(dir: String): Long =
      BenchProto.filesUnder(dir).map(_.length).sum
    val corpusBytes = bytesOf(s"$outDir/corpus")
    val codesBytes = bytesOf(s"$outDir/codes")

    // --- exact cosine ground truth (brute, Spark-side) ----------------
    def exactTop(): (Map[Long, Set[Long]], Double) = {
      val t = System.nanoTime()
      val q = queries.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      val rows = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.GraftFunctions.cosine_sim(
            col("embedding").cast("array<double>"), col("qvec")), 5)
            .as("cos_sim"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= kTop)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      val sec = (System.nanoTime() - t) / 1e9
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap, sec)
    }
    val full = !mode.startsWith("fetch")
    val (truth, exactSec) =
      if (full) {
        exactTop() // warm
        val r = exactTop()
        require(r._1.size == nQueries && r._1.values.forall(_.size == kTop),
          s"degenerate truth: ${r._1.size} queries")
        r
      } else (Map.empty[Long, Set[Long]], 0.0)

    def recallOf(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, ts) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ts).size.toDouble / kTop
      }.sum / truth.size

    // --- brute ADC: quantization error alone, both metrics ------------
    // l2 carries the reconstruction-norm bias on this unit-norm corpus;
    // ip approximates q·x = cos directly — the honest ranking metric
    def adcTop(metric: String): (Map[Long, Set[Long]], Double) = {
      val t = System.nanoTime()
      val rows = Pq.searchBatch(queries, "vec_id", "embedding",
        codes, "vec_id", cb, k = kTop, metric = metric)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      val sec = (System.nanoTime() - t) / 1e9
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap, sec)
    }
    val (adcSec, adcRecall, adcIpSec, adcIpRecall) =
      if (full) {
        adcTop("l2") // warm
        val (adcGot, s1) = adcTop("l2")
        adcTop("ip") // warm
        val (adcIpGot, s2) = adcTop("ip")
        (s1, recallOf(adcGot), s2, recallOf(adcIpGot))
      } else (0.0, 0.0, 0.0, 0.0)

    // --- IVF-PQ at a √n codebook --------------------------------------
    val stride = math.max(1, n / kCells)
    val init = emb.filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(kCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    if (!reuse) {
      val ivfCb = Similarity.kmeansIterate(
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        init, "cid", "cvec", maxIters = 8, tol = 1e-4)
      ivfCb.write.mode("overwrite").parquet(s"$outDir/ivfcb")
    }
    val ivfCents = Similarity.Centroids(spark.read.parquet(s"$outDir/ivfcb"),
      "cid", "cvec")
    val nCells = ivfCents.cells.size
    val t2 = System.nanoTime()
    if (!reuse) Pq.ivfPqIndexWritePair(emb, "vec_id", "embedding", ivfCents,
      cb, s"$outDir/ivfpq", s"$outDir/ivfvecs")
    val indexSec = (System.nanoTime() - t2) / 1e9
    val indexBytes = bytesOf(s"$outDir/ivfpq")
    val index = spark.read.parquet(s"$outDir/ivfpq")
    val vecTree = spark.read.parquet(s"$outDir/ivfvecs")

    def probeTop(nProbe: Int, refined: Boolean, metric: String)
    : (Map[Long, Set[Long]], Double) = {
      val t = System.nanoTime()
      val df =
        if (refined)
          Pq.ivfPqSearchRefined(queries, "vec_id", "embedding", index,
            vecTree, "vec_id", "embedding", ivfCents, cb,
            k = kTop, nProbe = nProbe, refineFactor = refineFactor,
            metric = metric)
        else
          Pq.ivfPqSearchBatch(queries, "vec_id", "embedding", index,
            "vec_id", ivfCents, cb, k = kTop, nProbe = nProbe,
            metric = metric)
      val rows = df.select(col("qid"), col("vec_id"))
        .as[(Long, Long)].collect()
      val sec = (System.nanoTime() - t) / 1e9
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap, sec)
    }

    // refined runs on l2 candidates — the measured-better ADC ranking;
    // ip stays as the per-probe contrast column
    val probeRows = if (!full) Nil else Seq(1, 2, 4, 8).map { np =>
      probeTop(np, refined = false, "l2") // warm
      val (gotL2, sec) = probeTop(np, refined = false, "l2")
      probeTop(np, refined = false, "ip") // warm
      val (gotIp, _) = probeTop(np, refined = false, "ip")
      probeTop(np, refined = true, "l2") // warm
      val (gotR, secR) = probeTop(np, refined = true, "l2")
      (np, recallOf(gotL2), recallOf(gotIp), sec, recallOf(gotR), secR)
    }

    // --- refine-FETCH A/B: cell-pruned tree fetch vs the unpruned
    // whole-corpus id join (the pre-r12 shape, reconstructed here as
    // the measured contrast). A small query batch isolates the fetch:
    // the pruned scan reads ≤ |batch|·nProbe cells' files (~batch·n/√n
    // rows), the unpruned join reads ALL n rows' vector payload — so
    // pruned fetch wall should grow ~√n across bench sizes while the
    // unpruned contrast tracks n.
    val fetchQueries = emb.filter(col("vec_id") < 10)
    def refinedPruned(): (Map[Long, Set[Long]], Double) = {
      val t = System.nanoTime()
      val rows = Pq.ivfPqSearchRefined(fetchQueries, "vec_id",
        "embedding", index, vecTree, "vec_id", "embedding",
        ivfCents, cb, k = kTop, nProbe = 2,
        refineFactor = refineFactor)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
        (System.nanoTime() - t) / 1e9)
    }
    def refinedUnpruned(): (Map[Long, Set[Long]], Double) = {
      val t = System.nanoTime()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      val cand = Pq.ivfPqSearchBatch(fetchQueries, "vec_id", "embedding",
        index, "vec_id", ivfCents, cb,
        k = kTop * refineFactor, nProbe = 2)
        .select(col("qid"), col("vec_id"))
      val qv = fetchQueries.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qvec"))
      val rows = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("_sv"))
        .join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(qv), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.GraftFunctions.cosine_sim(
            col("_sv"), col("qvec")), 5).as("cos_sim"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= kTop)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
        (System.nanoTime() - t) / 1e9)
    }
    refinedPruned(); refinedUnpruned() // warm
    val (prunedGot, prunedSec) = refinedPruned()
    val (unprunedGot, unprunedSec) = refinedUnpruned()
    require(prunedGot == unprunedGot,
      "pruned and unpruned refine fetch disagree — the cell-pruned " +
        "fetch must be a pure I/O optimization")

    // --- isolated fetch stage: the probe (shared by both paths) is
    // materialized ONCE, then only the re-rank fetch is timed — the
    // stage the cell pruning changed. End-to-end walls at small n are
    // dominated by the shared probe plus per-job driver latency
    // (measured ~parity at 200k–1M); the fetch-only walls are where
    // "reads ≤ |batch|·nProbe cells" vs "reads the corpus's vector
    // payload" separates, and the unpruned column must track n while
    // the pruned one tracks n/cells = √n at the √n codebook sizing.
    val candShared = Pq.ivfPqSearchBatch(fetchQueries, "vec_id",
      "embedding", index, "vec_id", ivfCents, cb,
      k = kTop * refineFactor, nProbe = 2)
      .select(col("qid"), col("vec_id"), col("cell"))
      .localCheckpoint(true)
    val candCellsShared = candShared.select(col("cell").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val qvShared = fetchQueries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qvec"))
    def rerank(src: org.apache.spark.sql.DataFrame)
    : (Map[Long, Set[Long]], Double) = {
      val t = System.nanoTime()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      val rows = src
        .join(broadcast(candShared.select("qid", "vec_id")), Seq("vec_id"))
        .join(broadcast(qvShared), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.GraftFunctions.cosine_sim(
            col("_sv"), col("qvec")), 5).as("cos_sim"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= kTop)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
        (System.nanoTime() - t) / 1e9)
    }
    def prunedSrc = vecTree
      .filter(col("cell").cast("long").isin(candCellsShared: _*))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("_sv"))
    def unprunedSrc = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("_sv"))
    rerank(prunedSrc); rerank(unprunedSrc) // warm
    val (fpGot, fetchPrunedSec) = rerank(prunedSrc)
    val (fuGot, fetchUnprunedSec) = rerank(unprunedSrc)
    require(fpGot == fuGot,
      "isolated fetch contrast disagrees between pruned and unpruned " +
        "sources — the candidate cells do not cover the candidates")
    // the structural term: rows/bytes each fetch READS. Local walls are
    // page-cache-bandwidth-bound and flatten out; the data volume is
    // what scales — pruned reads the candidate cells (|batch|·nProbe
    // cells of ~n/cells rows), unpruned reads the whole vector payload.
    val fetchPrunedRows = prunedSrc.count()
    val fetchPrunedBytes = candCellsShared.map(cid =>
      bytesOf(s"$outDir/ivfvecs/cell=$cid")).sum
    val fetchUnprunedRows = emb.count()
    val fetchUnprunedBytes = corpusBytes

    val rowsJson = probeRows.map { case (np, rl2, rip, sec, rr, secR) =>
      f"""{"nProbe":$np,"adc_l2_recall_at_10":$rl2%.4f,"adc_ip_recall_at_10":$rip%.4f,"batch_sec":$sec%.3f,"refined_recall_at_10":$rr%.4f,"refined_batch_sec":$secR%.3f}"""
    }.mkString("[", ",", "]")
    val fullFields = if (!full) "" else
      f""""exact_batch_sec":$exactSec%.3f,""" +
        f""""brute_adc_sec":$adcSec%.3f,"brute_adc_l2_recall_at_10":$adcRecall%.4f,""" +
        f""""brute_adc_ip_sec":$adcIpSec%.3f,"brute_adc_ip_recall_at_10":$adcIpRecall%.4f,"""
    val json =
      f"""{"n":$n,"dim":$dim,"m":$m,"k_sub":$kSub,"refine_factor":$refineFactor,"cells":$nCells,""" +
        f""""queries":$nQueries,"k":$kTop,"mode":"$mode","train_sec":$trainSec%.1f,""" +
        f""""encode_sec":$encodeSec%.1f,"ivfpq_build_sec":$indexSec%.1f,""" +
        f""""corpus_bytes":$corpusBytes,"codes_bytes":$codesBytes,""" +
        f""""ivfpq_bytes":$indexBytes,""" +
        fullFields +
        f""""refine_fetch":{"queries":10,"n_probe":2,"pruned_sec":$prunedSec%.3f,"unpruned_scan_sec":$unprunedSec%.3f,""" +
        f""""fetch_only_pruned_sec":$fetchPrunedSec%.3f,"fetch_only_unpruned_sec":$fetchUnprunedSec%.3f,""" +
        f""""cand_cells":${candCellsShared.size},""" +
        f""""pruned_rows":$fetchPrunedRows,"pruned_bytes":$fetchPrunedBytes,""" +
        f""""unpruned_rows":$fetchUnprunedRows,"unpruned_bytes":$fetchUnprunedBytes},""" +
        f""""probes":$rowsJson}"""
    BenchProto.writeArtifact(outDir, "pq.json", json)
    spark.stop()
  }
}
