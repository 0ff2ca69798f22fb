package graft.align

import scala.collection.mutable.ArrayBuffer
import graft.functions.{Fuzzy, HebrewNorm}
import graft.model._

/** The four alignment strategies (SURVEY.md §2.9) as pure kernels over one
  * chapter's data: `(verses, transcribed|∅, duration) → ChapterAlignment`.
  *
  * Purity matters: the kernels are deterministic functions, so the
  * distributed form is a per-chapter `flatMapGroups` ([[AlignerDataset]])
  * that scales with the number of chapters — state is bounded by one
  * chapter (≤ a few thousand words), never by the corpus. No global
  * order, no driver loop (SURVEY.md §7.4 risk 1).
  */
object Aligners {

  /** 2-dp rounding in the floor-portable form `floor(x·100 + 0.5)/100` —
    * the identical expression the SQL oracles evaluate, so the kernel
    * outputs of the estimated strategies hash-match their DuckDB
    * derivations exactly (q62/q63/q82). Deviates from Python's
    * banker's-round only when the double sits within one ulp of a .005
    * boundary — the reference's timestamps are arbitrary binary doubles,
    * so no golden value is on such a boundary.
    */
  private def round2(x: Double): Double = math.floor(x * 100 + 0.5) / 100

  /** Transcription rollup (A1, hebrew_alignment_tool.py:222-246):
    * overall confidence = mean word confidence, total duration = max end.
    */
  def transcriptionRollup(trans: Seq[TranscribedWord]): (Double, Double) = {
    if (trans.isEmpty) (0.0, 0.0)
    else (trans.map(_.confidence).sum / trans.size,
      trans.map(_.end).max)
  }

  /** The transcript as an indexed sequence and its words' match keys,
    * each normalized once: the cursor aligners index both per verse
    * word and window slot, which on a `List` would re-walk the list.
    */
  private def indexed(trans: Seq[TranscribedWord])
  : (IndexedSeq[TranscribedWord], Array[String]) = {
    val words = trans.toIndexedSeq
    (words, words.iterator.map(t => HebrewNorm.normalize(t.text)).toArray)
  }

  /** Greedy cursor-merge alignment (hebrew_alignment_tool.py:335-397):
    * sequential 1:1, threshold 0.7 on normalized `ratio`, cursor advances
    * only on match; unmatched words get 0.5-s estimated slots at
    * confidence 0.1 appended after the running verse end. Verse start is
    * the first MATCHED word's start (estimated words do not set it —
    * faithful to the reference).
    */
  def alignGreedy(verses: Seq[Verse], trans: Seq[TranscribedWord])
  : Seq[AlignedVerse] = {
    val (words, norm) = indexed(trans)
    var ti = 0
    verses.map { v =>
      val out = new ArrayBuffer[AlignedWord](v.words.size)
      var vStart: Option[Double] = None
      var vEnd: Option[Double] = None
      v.words.foreach { ref =>
        val matched = ti < words.size && {
          val sim = Fuzzy.ratio(HebrewNorm.normalize(ref), norm(ti)) / 100.0
          sim >= 0.7
        }
        if (matched) {
          val t = words(ti)
          out += AlignedWord(ref, t.start, t.end, t.confidence)
          if (vStart.isEmpty) vStart = Some(t.start)
          vEnd = Some(t.end)
          ti += 1
        } else {
          val start = vEnd.getOrElse(0.0)
          out += AlignedWord(ref, start, start + 0.5, 0.1)
          vEnd = Some(start + 0.5)
        }
      }
      AlignedVerse(v.verseNum, v.text, vStart.getOrElse(0.0),
        vEnd.getOrElse(0.0), out.size, 0.0, out.toSeq)
    }
  }

  /** Windowed best-match alignment (fixed_hebrew_aligner.py:485-557):
    * look-ahead window of 5 transcribed words, similarity =
    * max(ratio, partial_ratio), threshold 0.6, matched confidence =
    * ASR confidence × similarity, cursor jumps past the matched index;
    * unmatched words get 0.4-s slots at confidence 0.1. Verse start is
    * the FIRST aligned word's start (matched or estimated).
    */
  def alignWindowed(verses: Seq[Verse], trans: Seq[TranscribedWord])
  : Seq[AlignedVerse] = {
    val (words, norm) = indexed(trans)
    var ti = 0
    verses.map { v =>
      val out = new ArrayBuffer[AlignedWord](v.words.size)
      var vStart: Option[Double] = None
      var vEnd: Option[Double] = None
      v.words.foreach { ref =>
        val normRef = HebrewNorm.normalize(ref)
        var bestSim = 0.0
        var bestIdx = ti
        var bestMatch: Option[TranscribedWord] = None
        val window = math.min(words.size, ti + 5)
        var i = ti
        while (i < window) {
          val sim = Fuzzy.bestSimilarity(normRef, norm(i))
          if (sim > bestSim) {
            bestSim = sim; bestMatch = Some(words(i)); bestIdx = i
          }
          i += 1
        }
        val word = bestMatch match {
          case Some(t) if bestSim >= 0.6 =>
            ti = bestIdx + 1
            AlignedWord(ref, t.start, t.end, t.confidence * bestSim)
          case _ =>
            val start = vEnd.getOrElse(0.0)
            AlignedWord(ref, start, start + 0.4, 0.1)
        }
        out += word
        if (vStart.isEmpty) vStart = Some(word.start)
        vEnd = Some(word.end)
      }
      AlignedVerse(v.verseNum, v.text, vStart.getOrElse(0.0),
        vEnd.getOrElse(0.0), out.size, 0.0, out.toSeq)
    }
  }

  /** Uniform estimated alignment (no ASR;
    * scripts/hebrew_alignment_tool_gpu.py:470-517): duration / n_verses
    * per verse, verse duration / n_words per word, confidence 0.1,
    * 2-dp rounding on every timestamp.
    */
  def alignEstimatedUniform(verses: Seq[Verse], duration: Double)
  : Seq[AlignedVerse] = {
    val n = verses.size
    if (n == 0) return Seq.empty
    val perVerse = duration / n
    verses.zipWithIndex.map { case (v, i) =>
      val start = i * perVerse
      val end = (i + 1) * perVerse
      val words = v.text.split("\\s+").filter(_.nonEmpty)
      val wordDur = if (words.nonEmpty) perVerse / words.length else 0.5
      val aligned = words.zipWithIndex.map { case (w, j) =>
        AlignedWord(w, round2(start + j * wordDur),
          round2(start + (j + 1) * wordDur), 0.1)
      }
      AlignedVerse(v.verseNum, v.text, round2(start), round2(end),
        aligned.length, 0.1, aligned.toSeq)
    }
  }

  /** Word-density estimated alignment
    * (scripts/hebrew_alignment_optimized.py:494-554): verse duration =
    * (word share) × total, floored at 1.0 s, accumulated start times
    * (the floor can push total beyond `duration` — faithful).
    */
  def alignEstimatedDensity(verses: Seq[Verse], duration: Double)
  : Seq[AlignedVerse] = {
    if (verses.isEmpty) return Seq.empty
    val wordLists = verses.map(_.text.split("\\s+").filter(_.nonEmpty))
    val totalWords = wordLists.map(_.length).sum
    var current = 0.0
    verses.zip(wordLists).map { case (v, words) =>
      val raw =
        if (totalWords > 0) words.length.toDouble / totalWords * duration
        else duration / verses.size
      val verseDur = math.max(raw, 1.0)
      val start = current
      val end = current + verseDur
      current = end
      val aligned =
        if (words.isEmpty) Array.empty[AlignedWord]
        else {
          val wordDur = verseDur / words.length
          words.zipWithIndex.map { case (w, j) =>
            AlignedWord(w, round2(start + j * wordDur),
              round2(start + (j + 1) * wordDur), 0.1)
          }
        }
      AlignedVerse(v.verseNum, v.text, round2(start), round2(end),
        aligned.length, 0.1, aligned.toSeq)
    }
  }

  /** Verse-level fuzzy alignment
    * (scripts/hebrew_alignment_optimized.py:556-636): score each verse
    * against the full transcription with
    * max(partial, token_sort, token_set); timing is word-density
    * allocated (no 1.0-s floor); word/verse confidence = match score.
    */
  def alignVerseFuzzy(verses: Seq[Verse], trans: Seq[TranscribedWord])
  : Seq[AlignedVerse] = {
    if (verses.isEmpty || trans.isEmpty) return Seq.empty
    val full = trans.map(_.text).mkString(" ")
    val totalDuration = trans.map(_.end).max
    val wordLists = verses.map(_.text.split("\\s+").filter(_.nonEmpty))
    val totalWords = wordLists.map(_.length).sum
    var current = 0.0
    verses.zip(wordLists).map { case (v, words) =>
      val score = math.max(Fuzzy.partialRatio(v.text, full),
        math.max(Fuzzy.tokenSortRatio(v.text, full),
          Fuzzy.tokenSetRatio(v.text, full))) / 100.0
      val verseDur =
        if (totalWords > 0) words.length.toDouble / totalWords * totalDuration
        else totalDuration / verses.size
      val start = current
      val end = current + verseDur
      current = end
      val aligned =
        if (words.isEmpty) Array.empty[AlignedWord]
        else {
          val wordDur = verseDur / words.length
          words.zipWithIndex.map { case (w, j) =>
            AlignedWord(w, round2(start + j * wordDur),
              round2(start + (j + 1) * wordDur), round2(score))
          }
        }
      AlignedVerse(v.verseNum, v.text, round2(start), round2(end),
        aligned.length, round2(score), aligned.toSeq)
    }
  }

  /** Chapter assembly (hebrew_alignment_tool.py:417-464 output_data):
    * rollup from the transcription for ASR strategies; fixed
    * low-confidence metadata for the estimation strategies.
    */
  def assembleChapter(book: String, chapter: Int, method: String,
      verses: Seq[Verse], trans: Seq[TranscribedWord],
      duration: Double): ChapterAlignment = {
    val aligned = method match {
      case "greedy" => alignGreedy(verses, trans)
      case "windowed" => alignWindowed(verses, trans)
      case "estimated" => alignEstimatedUniform(verses, duration)
      case "density" => alignEstimatedDensity(verses, duration)
      case "verse_fuzzy" => alignVerseFuzzy(verses, trans)
      case other =>
        throw new IllegalArgumentException(s"unknown strategy: $other")
    }
    val (conf, dur) = method match {
      case "greedy" | "windowed" => transcriptionRollup(trans)
      case "verse_fuzzy" =>
        val avg = if (aligned.isEmpty) 0.0
          else aligned.map(_.confidence).sum / aligned.size
        (round2(avg), round2(if (trans.isEmpty) 0.0 else trans.map(_.end).max))
      case _ => (0.1, round2(duration))
    }
    ChapterAlignment(book, chapter, dur, conf, aligned.size, method,
      trans.size, aligned)
  }
}
