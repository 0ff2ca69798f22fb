package graft.align

import org.apache.spark.sql.Dataset
import graft.model._

/** Distributed form of the alignment kernels: per-chapter `cogroup` +
  * kernel call. Scales with the number of chapters (the group key), not
  * corpus size; each group holds one chapter's verses + words — bounded
  * state, no global sort, no spill risk (SURVEY.md §7.3).
  *
  * The shuffle is a single hash partition on (book, chapter) for both
  * sides; Catalyst can't express the cursor-dependent merge, so typed
  * cogroup is the deliberate choice here (SURVEY.md §4 custom piece 2).
  */
object AlignerDataset {

  /** ASR-driven strategies ("greedy", "windowed", "verse_fuzzy"):
    * cogroup verses with transcribed words per chapter. The cursor
    * aligners index and normalize each chapter's transcript once.
    */
  def alignChapters(verses: Dataset[Verse], trans: Dataset[TranscribedWord],
      method: String): Dataset[ChapterAlignment] = {
    val spark = verses.sparkSession
    import spark.implicits._
    verses.groupByKey(v => (v.book, v.chapter))
      .cogroup(trans.groupByKey(t => (t.book, t.chapter))) {
        case ((book, chapter), vs, ts) =>
          val vSorted = vs.toSeq.sortBy(_.verseNum)
          if (vSorted.isEmpty) Iterator.empty
          else Iterator(Aligners.assembleChapter(book, chapter, method,
            vSorted, ts.toSeq.sortBy(_.seq), 0.0))
      }
  }

  /** Estimation strategies ("estimated" uniform, "density"): cogroup
    * verses with chapter audio (duration source); no transcription.
    */
  def alignEstimated(verses: Dataset[Verse], audio: Dataset[ChapterAudio],
      method: String): Dataset[ChapterAlignment] = {
    val spark = verses.sparkSession
    import spark.implicits._
    verses.groupByKey(v => (v.book, v.chapter))
      .cogroup(audio.groupByKey(a => (a.book, a.chapter))) {
        case ((book, chapter), vs, as) =>
          val vSorted = vs.toSeq.sortBy(_.verseNum)
          if (vSorted.isEmpty) Iterator.empty
          else {
            val dur = as.toSeq.headOption.map(_.duration).getOrElse(0.0)
            Iterator(Aligners.assembleChapter(book, chapter, method,
              vSorted, Seq.empty, dur))
          }
      }
  }
}
