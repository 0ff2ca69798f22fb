package graft.io

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.ChapterAlignment

/** S6: alignment JSON sink. Output schema follows the root tool
  * (`verse_num` + `words[].text`, hebrew_alignment_tool.py:433-445) with a
  * viewer-compat option (`verse_number` + `words[].word`,
  * standalone_hebrew_tester.html:664,732) — one schema, a rename at the
  * sink, resolving the reference's key drift (SURVEY.md §7.4 risk 4).
  *
  * Timestamps are caller-provided (deterministic outputs — no wall clock,
  * SURVEY.md §7.4 risk 3). The write is partitioned by book, mirroring the
  * reference's per-book directories, one part file per book; Spark's
  * FileOutputCommitter provides the tmp+rename atomicity the reference
  * hand-rolled (S7).
  */
object AlignmentWriter {

  /** Nested output rows; `compat=true` emits the viewer field names. */
  def toOutputDF(ds: Dataset[ChapterAlignment], compat: Boolean = false,
      processingTimestamp: Long = 0L): DataFrame = {
    val verseNumField = if (compat) "verse_number" else "verse_num"
    val wordTextField = if (compat) "word" else "text"
    ds.toDF().select(
      col("book"), col("chapter"),
      col("totalDuration").as("total_duration"),
      col("overallConfidence").as("overall_confidence"),
      col("verseCount").as("verse_count"),
      transform(col("verses"), v => struct(
        v.getField("verseNum").as(verseNumField),
        v.getField("text").as("text"),
        v.getField("start").as("start"),
        v.getField("end").as("end"),
        v.getField("wordCount").as("word_count"),
        v.getField("confidence").as("confidence"),
        transform(v.getField("words"), w => struct(
          w.getField("text").as(wordTextField),
          w.getField("start").as("start"),
          w.getField("end").as("end"),
          w.getField("confidence").as("confidence")
        )).as("words")
      )).as("verses"),
      struct(
        col("method").as("alignment_method"),
        col("transcribedWordCount").as("transcribed_word_count"),
        lit(processingTimestamp).as("processing_timestamp")
      ).as("metadata"))
  }

  /** Write per-book JSON directories (UTF-8 by default in Spark —
    * nikkud survives; the reference's biggest bug class, §7.4 risk 6).
    *
    * Layout: ONE part file per `book=` directory. The rows are
    * hash-clustered by book before the partitioned write, so each book
    * is written by one task; without it every task that holds a chapter
    * of a book opens a file in that book's directory (159 part files
    * for the 39 books of the Tanakh over the aligner's partitions
    * instead of 39). A created file costs far more than its rows: a
    * `.crc` sidecar, a task attempt directory to commit, and on a local
    * file system without Hadoop's native library a forked `chmod`
    * process per file and directory. The clustering is one shuffle of
    * the output rows; the rows written are the same.
    */
  def write(ds: Dataset[ChapterAlignment], path: String,
      compat: Boolean = false, processingTimestamp: Long = 0L): Unit =
    toOutputDF(ds, compat, processingTimestamp)
      .repartition(col("book"))
      .write.mode("overwrite").partitionBy("book").json(path)
}
