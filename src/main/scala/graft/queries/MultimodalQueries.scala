package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{GrammarPipeline, Multimodal, Similarity}
import graft.ops.Multimodal.MediaRow

/** Multimodal + grammar-pipeline surface over synthesized binary columns
  * (documents text → utf-8 bytes stand in for media payloads). The
  * decode/embed/OCR kernels are deterministic md5-arithmetic stubs,
  * which makes all three queries exactly oracle-checkable in DuckDB:
  * q70 (decode → resize → frame-sample), q71 (embed → ANN), and q72
  * (page fan-out → OCR → NFC/bitmaps/NER). Schemas, partition shapes,
  * and the downstream ANN join are production-real.
  */
object MultimodalQueries {

  private def media(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "utf-8").as("content"))
      .as[MediaRow]
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Decode + resize + frame-sample over binary media columns.
    "q70_media_pipeline" -> ((s, d) => {
      val decoded = Multimodal.decode(media(s, d)).toDF()
      val resized = Multimodal.resizeMeta(decoded, maxSide = 256)
      Multimodal.sampleFrames(resized, everyNth = 30)
        .unionByName(resized.filter(col("n_frames") === 0)
          .withColumn("frame_idx", lit(-1)))
        .orderBy("media_id", "frame_idx")
    }),

    // Binary → embedding → ANN: multimodal content joins the similarity
    // path (top-5 cosine neighbors of media 0 among same-kind items).
    // Brute-force form — the baseline/parity check for q118's indexed
    // path, and the right plan only when the corpus is scanned once.
    "q71_media_embed_ann" -> ((s, d) => {
      val emb = Multimodal.embed(media(s, d))
      Similarity.knnCosine(emb.filter(col("kind") === "image"),
        "media_id", "embedding", queryId = 0L, k = 5)
    }),

    // The production form of q71: embeddings land in a PERSISTED
    // cell-partitioned IVF index once, and the whole query batch probes
    // the RELOADED layout in one job — embed → ivfIndex → ivfSearchBatch,
    // the end-to-end path a real multimodal user runs at 100 TB (q71's
    // brute force re-scans the corpus per query; this reads only the
    // probed cell directories, pruning proven in PlanRegressionSpec).
    // Centroids = the first 4 image vectors; queries = the first 2.
    "q118_media_indexed_ann" -> ((s, d) => {
      val emb = Multimodal.embed(media(s, d))
        .filter(col("kind") === "image")
        .select(col("media_id"), col("embedding"))
      val cents = Similarity.Centroids(emb.filter(col("media_id") < 12),
        "media_id", "embedding")
      val out = QueryTmp.dir("q118", s, d)
      Similarity.ivfIndexWrite(emb, "media_id", "embedding", cents,
        s"$out/ivf")
      Similarity.ivfSearchBatch(
        emb.filter(col("media_id") < 6), "media_id", "embedding",
        s.read.parquet(s"$out/ivf"), "media_id", "embedding",
        cents, k = 5, nProbe = 2)
        .orderBy(col("qid"), col("cos_sim").desc, col("media_id"))
    }),

    // PDF→OCR→NLP pipeline: page fan-out, NFC/bitmaps/NER/validation.
    // Exactly oracled: the OCR stub digests upper(hex(page bytes)) —
    // byte-aligned hex slices match across engines — and every
    // downstream kernel (NFC, diacritic strip, bitmaps, Hebrew-token
    // NER) is pure string arithmetic on the digest text.
    "q72_grammar_pipeline" -> ((s, d) => {
      val pdfs = Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id").as("book"),
          encode(col("text"), "utf-8").as("content"))
      GrammarPipeline.run(pdfs)
        .select(col("book"), col("page_number"), col("text"),
          col("undiacritized"), size(col("nikud")).as("nikud_len"),
          size(col("entities")).as("n_entities"),
          col("validation.proper_normalization"),
          col("validation.hebrew_character_presence"))
        .orderBy("book", "page_number")
    })
  )

  def oracle: Map[String, String] = Map(

    // Mirrors Multimodal.decode/resizeMeta/sampleFrames exactly: the
    // stub hash is the engine-standard first-60-bits-of-md5, the resize
    // scale is IEEE double arithmetic in both engines, and range(0, n,
    // 30) matches sequence(0, n-1, 30).
    "q70_media_pipeline" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
        |      AS kind,
        |    CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h,
        |    CAST(strlen(text) AS INTEGER) AS byte_len
        |  FROM documents),
        |dec AS (
        |  SELECT media_id, kind,
        |    CAST(CASE kind WHEN 'image' THEN 64 + h % 512
        |      WHEN 'audio' THEN 0 ELSE 320 END AS INTEGER) AS width,
        |    CAST(CASE kind WHEN 'image' THEN 64 + (h // 512) % 512
        |      WHEN 'audio' THEN 0 ELSE 240 END AS INTEGER) AS height,
        |    CAST(CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN 0
        |      ELSE 1 + h % 300 END AS INTEGER) AS n_frames,
        |    CAST(CASE WHEN kind = 'audio' THEN
        |        CASE WHEN h % 2 = 0 THEN 16000 ELSE 22050 END
        |      ELSE 0 END AS INTEGER) AS sample_rate,
        |    byte_len
        |  FROM m),
        |rz AS (
        |  SELECT *,
        |    CAST(CEIL(width * scale) AS INTEGER) AS out_width,
        |    CAST(CEIL(height * scale) AS INTEGER) AS out_height
        |  FROM (SELECT *, LEAST(1.0, 256 / GREATEST(width, height, 1))
        |    AS scale FROM dec))
        |SELECT media_id, kind, width, height, n_frames, sample_rate,
        |  byte_len, out_width, out_height, CAST(f AS INTEGER) AS frame_idx
        |FROM (
        |  SELECT rz.* EXCLUDE (scale), unnest(range(0, n_frames, 30)) AS f
        |  FROM rz WHERE n_frames > 0
        |  UNION ALL
        |  SELECT rz.* EXCLUDE (scale), -1 AS f FROM rz WHERE n_frames = 0)
        |ORDER BY media_id, frame_idx""".stripMargin,

    // Mirrors Multimodal.embed + Similarity.knnCosine: vec[i] =
    // ((signed_byte(md5[i]) + 7i) % 128) / 128 is exact in float32 and
    // double alike (power-of-two denominator), so only the dot-product
    // summation order differs — absorbed by ROUND(..., 5) like q56.
    "q71_media_embed_ann" ->
      """WITH img AS (
        |  SELECT doc_id AS media_id, md5(text) AS hx
        |  FROM documents WHERE doc_id % 3 = 0),
        |vx AS (
        |  SELECT media_id, i,
        |    (((CASE WHEN u >= 128 THEN u - 256 ELSE u END) + 7 * i) % 128)
        |      / 128.0 AS x
        |  FROM (
        |    SELECT media_id, gs.i AS i,
        |      CAST('0x' || substring(hx, 2 * gs.i + 1, 2) AS INTEGER) AS u
        |    FROM img, (SELECT unnest(range(0, 16)) AS i) gs)),
        |qx AS (SELECT i, x FROM vx WHERE media_id = 0),
        |nq AS (SELECT sqrt(sum(x * x)) AS n FROM qx),
        |dots AS (
        |  SELECT v.media_id, sum(v.x * q.x) AS dot,
        |    sqrt(sum(v.x * v.x)) AS na
        |  FROM vx v JOIN qx q USING (i) WHERE v.media_id <> 0
        |  GROUP BY v.media_id)
        |SELECT media_id, ROUND(dot / (na * nq.n), 5) AS cos_sim
        |FROM dots, nq ORDER BY cos_sim DESC, media_id LIMIT 5""".stripMargin,

    // q71's md5-embedding CTEs composed with q115's probe structure:
    // assign every image vector to its nearest of the 4 centroid
    // vectors (media_id < 12), pick each query's (media_id < 6) 2
    // nearest cells, rank candidates in those cells by exact cosine —
    // rounded-score window with media_id tie-break, like the Spark
    // side's rank limit.
    "q118_media_indexed_ann" ->
      """WITH img AS (
        |  SELECT doc_id AS media_id, md5(text) AS hx
        |  FROM documents WHERE doc_id % 3 = 0),
        |vx AS (
        |  SELECT media_id, i,
        |    (((CASE WHEN u >= 128 THEN u - 256 ELSE u END) + 7 * i) % 128)
        |      / 128.0 AS x
        |  FROM (
        |    SELECT media_id, gs.i AS i,
        |      CAST('0x' || substring(hx, 2 * gs.i + 1, 2) AS INTEGER) AS u
        |    FROM img, (SELECT unnest(range(0, 16)) AS i) gs)),
        |cx AS (SELECT media_id AS cid, i, x FROM vx WHERE media_id < 12),
        |dists AS (
        |  SELECT v.media_id, c.cid, sum((v.x - c.x) * (v.x - c.x)) AS d
        |  FROM vx v JOIN cx c USING (i) GROUP BY 1, 2),
        |assigned AS (
        |  SELECT media_id, cid AS cell FROM (
        |    SELECT media_id, cid, row_number() OVER (PARTITION BY media_id
        |      ORDER BY d ASC, cid ASC) AS rn
        |    FROM dists) WHERE rn = 1),
        |qids AS (SELECT media_id AS qid FROM img WHERE media_id < 6),
        |probe AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, d.cid, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY d.d ASC, d.cid ASC) AS rn
        |    FROM qids q JOIN dists d ON d.media_id = q.qid)
        |  WHERE rn <= 2),
        |cand AS (
        |  SELECT p.qid, a.media_id, a.cell
        |  FROM assigned a JOIN probe p ON a.cell = p.cid
        |  WHERE a.media_id <> p.qid),
        |qx AS (
        |  SELECT q.qid, vx.i, vx.x FROM vx JOIN qids q
        |  ON vx.media_id = q.qid),
        |nq AS (SELECT qid, sqrt(sum(x * x)) AS n FROM qx GROUP BY qid),
        |dots AS (
        |  SELECT c.qid, a.media_id, sum(a.x * q.x) AS dot,
        |         sqrt(sum(a.x * a.x)) AS na
        |  FROM cand c JOIN vx a ON a.media_id = c.media_id
        |  JOIN qx q ON q.qid = c.qid AND q.i = a.i
        |  GROUP BY c.qid, a.media_id),
        |ranked AS (
        |  SELECT d.qid, d.media_id, c.cell,
        |    ROUND(dot / (na * nq.n), 5) AS cos_sim,
        |    row_number() OVER (PARTITION BY d.qid
        |      ORDER BY ROUND(dot / (na * nq.n), 5) DESC, d.media_id ASC)
        |      AS rn
        |  FROM dots d
        |  JOIN cand c ON c.qid = d.qid AND c.media_id = d.media_id
        |  JOIN nq ON nq.qid = d.qid)
        |SELECT qid, media_id, cell, cos_sim FROM ranked WHERE rn <= 5
        |ORDER BY qid, cos_sim DESC, media_id""".stripMargin,

    // Mirrors GrammarPipeline.run's q72 projection: 1024-byte pages =
    // 2048 hex chars; the OCR text is 'עמוד ' + first 8 of
    // md5(upper(hex(page))), which is NFC-stable, diacritic-free, and
    // yields exactly one Hebrew token (so one NER entity) per page.
    "q72_grammar_pipeline" ->
      """WITH src AS (
        |  SELECT doc_id AS book, upper(hex(encode(text))) AS hx
        |  FROM documents WHERE doc_id < 100),
        |pg AS (
        |  SELECT book, hx,
        |    unnest(range(1, GREATEST(CAST(CEIL(length(hx) / 2048.0)
        |      AS INTEGER), 1) + 1)) AS page_number
        |  FROM src),
        |ocr AS (
        |  SELECT book, CAST(page_number AS INTEGER) AS page_number,
        |    'עמוד ' || substring(
        |      md5(substring(hx, (page_number - 1) * 2048 + 1, 2048)),
        |      1, 8) AS text
        |  FROM pg)
        |SELECT book, page_number, text,
        |  regexp_replace(text, '[\x{05B0}-\x{05C7}]', '', 'g')
        |    AS undiacritized,
        |  CAST(length(text) AS INTEGER) AS nikud_len,
        |  1 AS n_entities,
        |  TRUE AS proper_normalization,
        |  TRUE AS hebrew_character_presence
        |FROM ocr ORDER BY book, page_number""".stripMargin
  )
}
