package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.align.AlignerDataset
import graft.io.AlignmentWriter
import graft.model._
import java.nio.file.Files

class AlignerDatasetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixtures() = {
    import spark.implicits._
    val verses = Seq(
      Verse.fromWords("Gen", 1, 1, Seq("בְּרֵאשִׁית", "בָּרָא")),
      Verse.fromWords("Gen", 1, 2, Seq("וְהָאָרֶץ")),
      Verse.fromWords("Rut", 1, 1, Seq("וַיְהִי", "בִּימֵי"))).toDS()
    val trans = Seq(
      TranscribedWord("Gen", 1, 1, "בראשית", 0.0, 1.0, 0.9),
      TranscribedWord("Gen", 1, 2, "ברא", 1.0, 1.8, 0.8),
      TranscribedWord("Gen", 1, 3, "והארץ", 1.8, 2.6, 0.7)).toDS()
    (verses, trans)
  }

  test("alignChapters greedy: per-chapter cogroup, chapters independent") {
    val (verses, trans) = fixtures()
    val out = AlignerDataset.alignChapters(verses, trans, "greedy")
      .collect().sortBy(c => (c.book, c.chapter))
    assert(out.length == 2)
    val gen = out.find(_.book == "Gen").get
    assert(gen.verses.head.words.map(_.start) == Seq(0.0, 1.0))
    assert(gen.totalDuration == 2.6)
    // Rut has no transcription → all estimated slots
    val rut = out.find(_.book == "Rut").get
    assert(rut.verses.head.words.forall(_.confidence == 0.1))
    assert(rut.totalDuration == 0.0)
  }

  test("alignEstimated: duration from audio cogroup") {
    import spark.implicits._
    val (verses, _) = fixtures()
    val audio = Seq(
      ChapterAudio("Gen", 1, "a.mp3", 16000, 10.0, Seq.empty),
      ChapterAudio("Rut", 1, "b.mp3", 16000, 4.0, Seq.empty)).toDS()
    val out = AlignerDataset.alignEstimated(verses, audio, "estimated")
      .collect().sortBy(_.book)
    assert(out.length == 2)
    assert(out(0).totalDuration == 10.0)
    assert(out(0).verses.map(_.end) == Seq(5.0, 10.0))
    assert(out(1).verses.head.end == 4.0)
  }

  test("writer round-trips Hebrew with nikkud intact (encoding property)") {
    import spark.implicits._
    val (verses, trans) = fixtures()
    val aligned = AlignerDataset.alignChapters(verses, trans, "windowed")
    val dir = Files.createTempDirectory("align_out").toString
    AlignmentWriter.write(aligned, dir)
    val back = spark.read.json(s"$dir/book=Gen")
    val firstWord = back
      .selectExpr("verses[0].words[0].text as t").as[String].collect().head
    assert(firstWord == "בְּרֵאשִׁית") // original nikkud preserved
    val verseNum = back.selectExpr("verses[0].verse_num as v")
      .collect().head.getLong(0)
    assert(verseNum == 1L)
  }

  test("writer compat mode emits viewer field names") {
    val (verses, trans) = fixtures()
    val aligned = AlignerDataset.alignChapters(verses, trans, "greedy")
    val df = AlignmentWriter.toOutputDF(aligned, compat = true)
    val verseField = df.schema("verses").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(verseField.fieldNames.contains("verse_number"))
    val wordsField = verseField("words").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(wordsField.fieldNames.contains("word"))
  }

  test("writer: one part file per book directory, rows read back equal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.align.Aligners
    val chapters = for (book <- Seq("Gen", "Exo", "Rut"); c <- 1 to 8)
      yield Aligners.assembleChapter(book, c, "density",
        (1 to 3).map(v => Verse.fromWords(book, c, v,
          Seq("בְּרֵאשִׁית", s"w$c$v"))), Seq.empty, 10.0 + c)
    // every book's chapters spread over four input partitions
    val aligned = chapters.toDS().repartition(4, col("chapter"))
    val dir = TestDirs.tmp("align_books").resolve("out").toString
    AlignmentWriter.write(aligned, dir)
    val bookDirs = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("book="))
    assert(bookDirs.map(_.getFileName.toString).sorted.toSeq ==
      Seq("book=Exo", "book=Gen", "book=Rut"))
    bookDirs.foreach { d =>
      val parts = Files.list(d).toArray.map(_.toString)
        .filter(_.split('/').last.startsWith("part-"))
      assert(parts.length == 1, s"$d holds ${parts.mkString(", ")}")
    }
    val expected = AlignmentWriter.toOutputDF(aligned)
    val back = spark.read.schema(expected.schema).json(dir)
      .select(expected.columns.map(col).toSeq: _*)
    def sorted(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(r => (r.getString(0), r.getInt(1))).toSeq
    assert(sorted(back.collect()) == sorted(expected.collect()))
  }
}
