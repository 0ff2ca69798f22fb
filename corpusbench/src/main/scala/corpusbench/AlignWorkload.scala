package corpusbench

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.align.{AlignerDataset, Aligners}
import graft.functions.{Fuzzy, HebrewNorm}
import graft.io.{AlignmentWriter, BibleReader}
import graft.model._
import graft.ops.DurationSanity

/** `tanakh_align`, the paper's batch job: read the nikkud bible, align
  * every chapter that has a transcript with the windowed aligner,
  * estimate the rest with word density, run the duration-sanity gate and
  * write the per-book alignment JSON. The windowed kernels are cheap, so
  * reading, the cogroup shuffle and the sink dominate.
  */
final class AlignWorkload(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark

  val itemUnit = "chapters"
  private val method = "windowed"
  private val books =
    if (ctx.smoke) Gen.shrink(Gen.tanakh, 8, 8) else Gen.tanakh
  private val corpus = Gen.corpus(ctx.seed, books)
  private val trans: Map[(String, Int), IndexedSeq[TranscribedWord]] =
    corpus.chapters.map { case ((b, c), vs) =>
      (b, c) -> (if (Gen.untranscribed(ctx.seed, b, c)) IndexedSeq.empty
        else Gen.transcript(ctx.seed, b, c, vs))
    }.toMap
  private val audio: Seq[ChapterAudio] = corpus.chapters.map {
    case ((b, c), vs) => Gen.audio(b, c, vs.map(_.size.toLong).sum, trans((b, c)))
  }

  def sizes: Map[String, Double] = Map(
    "books" -> books.size.toDouble,
    "chapters" -> corpus.chapters.size.toDouble,
    "verses" -> corpus.nVerses.toDouble,
    "words" -> corpus.nWords.toDouble,
    "transcript_words" -> trans.values.map(_.size).sum.toDouble,
    "untranscribed_chapters" -> trans.values.count(_.isEmpty).toDouble)

  private def bible(dir: Path) = dir.resolve("bible.json").toString
  private def transPath(dir: Path) = dir.resolve("transcripts").toString
  private def audioPath(dir: Path) = dir.resolve("audio").toString
  private def outPath(dir: Path, i: Int) =
    Workload.passDir(dir, i).resolve("alignment").toString

  def setup(dir: Path): Unit = {
    val c = Gen.corpus(ctx.seed, books)
    Gen.writeBibleJson(c, dir.resolve("bible.json"))
    val t = c.chapters.flatMap { case ((b, ch), vs) =>
      if (Gen.untranscribed(ctx.seed, b, ch)) IndexedSeq.empty
      else Gen.transcript(ctx.seed, b, ch, vs)
    }
    spark.createDataset(t).repartition(4).write.parquet(transPath(dir))
    audio.toDS().coalesce(1).write.parquet(audioPath(dir))
  }

  def pass(i: Int, dir: Path, trace: Trace): PassResult = {
    val verses = trace.span("io.read_verses") {
      Workload.mat(trace, BibleReader.readVerses(spark, bible(dir)))
    }
    val tr = spark.read.parquet(transPath(dir)).as[TranscribedWord]
    val au = spark.read.parquet(audioPath(dir)).as[ChapterAudio]
    val keys = tr.select("book", "chapter").distinct()
    val withAsr = verses.join(keys, Seq("book", "chapter"), "left_semi").as[Verse]
    val noAsr = verses.join(keys, Seq("book", "chapter"), "left_anti").as[Verse]
    val a1 = trace.span(s"align.$method") {
      Workload.mat(trace, AlignerDataset.alignChapters(withAsr, tr, method))
    }
    val a2 = trace.span("align.density") {
      Workload.mat(trace, AlignerDataset.alignEstimated(noAsr, au, "density"))
    }
    val aligned = a1.union(a2)
    // the validate pass and the sink both consume the alignment; the
    // untraced run caches it as the CLI does, the traced run already
    // materialized both halves
    if (!trace.enabled) aligned.cache()
    val flagged = trace.span("ops.duration_sanity") {
      val rollup = aligned.toDF().select(col("book"), col("chapter"),
        col("totalDuration").as("total_duration"),
        col("overallConfidence").as("overall_confidence"),
        size(col("verses")).as("n_verses"))
      DurationSanity.validate(rollup,
        au.toDF().select(col("book"), col("chapter"),
          col("duration").as("audio_duration")),
        Seq("book", "chapter"), "total_duration", "overall_confidence",
        "n_verses", "audio_duration")
        .filter(!col("valid_strict") || !col("valid_lenient"))
        .select("book", "chapter").as[(String, Int)].collect()
    }
    trace.span("io.alignment_write") {
      AlignmentWriter.write(aligned, outPath(dir, i))
    }
    if (!trace.enabled) aligned.unpersist()
    lastFlagged = flagged.toSeq
    val layer =
      if (!trace.enabled) Map.empty[String, Double]
      else {
        val files = Files.walk(Path.of(outPath(dir, i))).toArray
          .map(_.asInstanceOf[Path]).filter(p =>
            Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        Map("io.alignment_write.mb" -> files.map(Files.size(_)).sum / 1048576.0,
          "io.alignment_write.files" -> files.length.toDouble)
      }
    PassResult(corpus.chapters.size.toLong, layer)
  }

  private var lastFlagged: Seq[(String, Int)] = Nil

  /** The written JSON, read back with the sink's own schema. */
  private def readOutput(dir: Path, i: Int) =
    spark.read.schema(AlignmentWriter.toOutputDF(
      spark.emptyDataset[ChapterAlignment]).schema)
      .json(outPath(dir, i))

  private def methodOf(key: (String, Int)): String =
    if (trans(key).isEmpty) "density" else method

  def check(lastPass: Int, dir: Path): CheckResult = {
    val rows = readOutput(dir, lastPass).select(col("book"), col("chapter"),
      col("total_duration"), col("overall_confidence"), col("verse_count"),
      col("metadata.alignment_method").as("method"),
      col("metadata.transcribed_word_count").as("twc"), col("verses"))
      .collect()
    val byKey = rows.groupBy(r => (r.getString(0), r.getInt(1)))
    val bad = scala.collection.mutable.LinkedHashMap.empty[(String, Int), String]
    def fail(k: (String, Int), why: String): Unit =
      if (!bad.contains(k)) bad(k) = why
    lastFlagged.foreach(k => fail(k, "failed the duration-sanity gate"))
    byKey.foreach { case (k, rs) =>
      if (!trans.contains(k)) fail(k, "chapter not in the input")
      else if (rs.length != 1) fail(k, s"written ${rs.length} times")
    }
    val sample = new Random(ctx.seed).shuffle(corpus.chapters.map(_._1))
      .take(12).toSet
    corpus.chapters.foreach { case (k, vs) =>
      byKey.get(k).map(_.head) match {
        case None => fail(k, "chapter missing from the output")
        case Some(r) =>
          val verses = r.getSeq[Row](7)
          val got = verses.map(v => (v.getAs[Int]("verse_num").toInt,
            v.getAs[Int]("word_count").toInt,
            v.getAs[collection.Seq[Row]]("words").size))
          val want = vs.zipWithIndex.map { case (ws, j) => (j + 1, ws.size, ws.size) }
          if (got.sortBy(_._1) != want)
            fail(k, "verses or word counts differ from the input")
          // ASR-matched words (windowed) or every word (density) must
          // not go back in time
          val starts = verses.sortBy(_.getAs[Int]("verse_num"))
            .flatMap(_.getAs[collection.Seq[Row]]("words"))
            .filter(w => methodOf(k) != "windowed" ||
              w.getAs[Double]("confidence") != 0.1)
            .map(w => (w.getAs[Double]("start"), w.getAs[Double]("end")))
          if (starts.exists { case (s, e) => e < s } ||
            starts.map(_._1).sliding(2).exists(p => p.size == 2 && p(1) < p(0)))
            fail(k, "timestamps decrease within the chapter")
          if (sample.contains(k)) {
            val m = methodOf(k)
            val vv = vs.zipWithIndex.map { case (ws, j) =>
              Verse.fromWords(k._1, k._2, j + 1, ws) }
            val dur = audio.find(a => (a.book, a.chapter) == k).get.duration
            val exp = Aligners.assembleChapter(k._1, k._2, m, vv,
              trans(k).sortBy(_.seq), dur)
            if (!sameChapter(exp, r)) fail(k, s"differs from Aligners.assembleChapter ($m)")
          }
      }
    }
    CheckResult(corpus.chapters.size.toLong, bad.size.toLong,
      bad.take(5).map { case ((b, c), why) => s"$b $c: $why" }.toSeq)
  }

  private def sameChapter(e: ChapterAlignment, r: Row): Boolean = {
    val verses = r.getSeq[Row](7).sortBy(_.getAs[Int]("verse_num"))
    e.method == r.getString(5) &&
      e.totalDuration == r.getDouble(2) &&
      e.overallConfidence == r.getDouble(3) &&
      e.verseCount == r.getInt(4) &&
      e.transcribedWordCount == r.getInt(6) &&
      e.verses.size == verses.size &&
      e.verses.zip(verses).forall { case (ev, gv) =>
        val gw = gv.getAs[collection.Seq[Row]]("words")
        ev.verseNum == gv.getAs[Int]("verse_num") &&
          ev.text == gv.getAs[String]("text") &&
          ev.start == gv.getAs[Double]("start") &&
          ev.end == gv.getAs[Double]("end") &&
          ev.confidence == gv.getAs[Double]("confidence") &&
          ev.words.size == gw.size &&
          ev.words.zip(gw).forall { case (w, g) =>
            w.text == g.getAs[String]("text") &&
              w.start == g.getAs[Double]("start") &&
              w.end == g.getAs[Double]("end") &&
              w.confidence == g.getAs[Double]("confidence")
          }
      }
  }

  /** Kernel cost per call on the inputs the aligners give each kernel,
    * and the matched-word ratio of the last pass. `HebrewNorm.normalize`
    * runs on one pointed verse word; `ratio` (greedy) and
    * `bestSimilarity` (windowed) compare one normalized verse word with
    * one normalized transcript word; `partialRatio`, `tokenSortRatio`
    * and `tokenSetRatio` compare a verse's text with its chapter's
    * joined transcript, as `Aligners.alignVerseFuzzy` calls them.
    */
  override def offPathLayers(lastPass: Int, dir: Path): Map[String, Double] = {
    val r = new Random(ctx.seed + 7)
    val keys = corpus.chapters.map(_._1).filter(k => trans(k).nonEmpty)
    val versesOf = corpus.chapters.toMap
    val rawWordPairs: IndexedSeq[(String, String)] = IndexedSeq.fill(400) {
      val k = keys(r.nextInt(keys.size))
      val ws = versesOf(k).flatten
      val t = trans(k)
      (ws(r.nextInt(ws.size)), t(r.nextInt(t.size)).text)
    }
    val wordPairs = rawWordPairs.map { case (a, b) =>
      (HebrewNorm.normalize(a), HebrewNorm.normalize(b)) }
    val versePairs: IndexedSeq[(String, String)] = IndexedSeq.fill(40) {
      val k = keys(r.nextInt(keys.size))
      val vs = versesOf(k)
      (vs(r.nextInt(vs.size)).mkString(" "),
        trans(k).sortBy(_.seq).map(_.text).mkString(" "))
    }
    def nsPerCall(pairs: IndexedSeq[(String, String)])(
        f: (String, String) => Double): Double = {
      var sink = 0.0
      val warm = System.nanoTime() + 300000000L
      while (System.nanoTime() < warm) pairs.foreach(p => sink += f(p._1, p._2))
      val samples = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        var n = 0
        while (System.nanoTime() - t0 < 100000000L) {
          pairs.foreach(p => sink += f(p._1, p._2)); n += pairs.size
        }
        (System.nanoTime() - t0).toDouble / n
      }
      if (sink == -1.0) println("")
      Stats.median(samples)
    }
    val out = readOutput(dir, lastPass)
      .filter(col("metadata.alignment_method") === method)
      .select(explode(col("verses")).as("v"))
      .select(explode(col("v.words")).as("w"))
    // estimated slots carry confidence 0.1; matched words ASR × similarity
    val matched = out.agg(count(lit(1)),
      sum(when(col("w.confidence") =!= 0.1, 1).otherwise(0))).head()
    Map(
      "functions.fuzzy.partial_ratio_ns" -> nsPerCall(versePairs)(Fuzzy.partialRatio),
      "functions.fuzzy.token_sort_ratio_ns" ->
        nsPerCall(versePairs)(Fuzzy.tokenSortRatio),
      "functions.fuzzy.token_set_ratio_ns" ->
        nsPerCall(versePairs)(Fuzzy.tokenSetRatio),
      "functions.fuzzy.ratio_ns" -> nsPerCall(wordPairs)(Fuzzy.ratio),
      "functions.fuzzy.best_similarity_ns" ->
        nsPerCall(wordPairs)(Fuzzy.bestSimilarity),
      "functions.hebrew_norm.normalize_ns" ->
        nsPerCall(rawWordPairs)((a, _) => HebrewNorm.normalize(a).length.toDouble),
      "align.matched_word_ratio" ->
        matched.getLong(1).toDouble / math.max(1L, matched.getLong(0)))
  }
}
