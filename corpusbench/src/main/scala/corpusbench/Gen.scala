package corpusbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random
import graft.model.{ChapterAudio, TranscribedWord}

/** Seeded input generators. Every value is a pure function of the seed
  * and the item's key (book, chapter, doc or vector id), so the checks
  * can rebuild any input on the Spark driver without reading the files
  * back.
  */
object Gen {

  /** Hebrew-Bible book order with real chapter counts (929 chapters) and
    * real verse totals (~23k verses).
    */
  val tanakh: Seq[(String, Int, Int)] = Seq(
    ("Gen", 50, 1533), ("Exo", 40, 1213), ("Lev", 27, 859),
    ("Num", 36, 1288), ("Deu", 34, 959), ("Jos", 24, 658),
    ("Jdg", 21, 618), ("1Sa", 31, 810), ("2Sa", 24, 695),
    ("1Ki", 22, 816), ("2Ki", 25, 719), ("Isa", 66, 1292),
    ("Jer", 52, 1364), ("Eze", 48, 1273), ("Hos", 14, 197),
    ("Joe", 4, 73), ("Amo", 9, 146), ("Oba", 1, 21), ("Jon", 4, 48),
    ("Mic", 7, 105), ("Nah", 3, 47), ("Hab", 3, 56), ("Zep", 3, 53),
    ("Hag", 2, 38), ("Zec", 14, 211), ("Mal", 3, 55), ("Psa", 150, 2527),
    ("Pro", 31, 915), ("Job", 42, 1070), ("Son", 8, 117), ("Rut", 4, 85),
    ("Lam", 5, 154), ("Ecc", 12, 222), ("Est", 10, 167), ("Dan", 12, 357),
    ("Ezr", 10, 280), ("Neh", 13, 406), ("1Ch", 29, 942),
    ("2Ch", 36, 822))

  /** Scale a book list down for the smoke mode: the first `nBooks`
    * books, at most `maxChapters` chapters each, verse totals scaled.
    */
  def shrink(books: Seq[(String, Int, Int)], nBooks: Int, maxChapters: Int)
  : Seq[(String, Int, Int)] =
    books.take(nBooks).map { case (b, ch, vs) =>
      val c = math.min(ch, maxChapters)
      (b, c, math.max(c * 5, vs * c / ch))
    }

  private def rng(seed: Long, parts: Any*): Random =
    new Random(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      (h ^ p.hashCode.toLong) * 0xBF58476D1CE4E5B9L))

  private val letters = ('א' to 'ת').toArray
  private val nikkud = ('ְ' to 'ּ').toArray

  /** A Zipf-ranked vocabulary of pointed (nikkud-bearing) word forms. */
  final class Vocab(seed: Long, size: Int = 20000) {
    val words: Array[String] = {
      val r = rng(seed, "vocab")
      val seen = new java.util.HashSet[String]()
      val out = new Array[String](size)
      var i = 0
      while (i < size) {
        val n = 2 + r.nextInt(5)
        val sb = new StringBuilder
        for (_ <- 0 until n) {
          sb.append(letters(r.nextInt(letters.length)))
          if (r.nextDouble() < 0.85) sb.append(nikkud(r.nextInt(nikkud.length)))
        }
        val w = sb.toString
        if (seen.add(w)) { out(i) = w; i += 1 }
      }
      out
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, 0.9))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def draw(r: Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** Verses per chapter of one book: the book's verse total spread over
    * its chapters with seeded ±35% variation, at least 3 per chapter.
    */
  def verseCounts(seed: Long, book: String, chapters: Int, total: Int)
  : Array[Int] = {
    val r = rng(seed, "vc", book)
    val w = Array.fill(chapters)(0.65 + 0.7 * r.nextDouble())
    val s = w.sum
    w.map(x => math.max(3, math.round(x / s * total).toInt))
  }

  /** The verses of one chapter (words only, pointed). */
  def chapterWords(seed: Long, vocab: Vocab, book: String, chapter: Int,
      nVerses: Int): IndexedSeq[IndexedSeq[String]] = {
    val r = rng(seed, "ch", book, chapter)
    IndexedSeq.fill(nVerses) {
      val n = 4 + r.nextInt(9) + r.nextInt(9)
      IndexedSeq.fill(n)(vocab.draw(r))
    }
  }

  /** One generated corpus: the verses of every chapter, in book order. */
  final case class Corpus(books: Seq[(String, Int, Int)],
      chapters: IndexedSeq[((String, Int), IndexedSeq[IndexedSeq[String]])]) {
    def nVerses: Int = chapters.map(_._2.size).sum
    def nWords: Long = chapters.map(_._2.map(_.size.toLong).sum).sum
  }

  def corpus(seed: Long, books: Seq[(String, Int, Int)]): Corpus = {
    val vocab = new Vocab(seed)
    Corpus(books, books.toIndexedSeq.flatMap { case (b, ch, vs) =>
      val counts = verseCounts(seed, b, ch, vs)
      (1 to ch).map(c => (b, c) -> chapterWords(seed, vocab, b, c,
        counts(c - 1)))
    })
  }

  /** The reference's nested bible JSON: `{book: [chapter: [verse: [word]]]}`. */
  def writeBibleJson(c: Corpus, path: Path): Unit = {
    val sb = new StringBuilder
    sb.append('{')
    c.chapters.groupBy(_._1._1).toSeq
      .sortBy { case (b, _) => c.books.indexWhere(_._1 == b) }
      .zipWithIndex.foreach { case ((book, chs), bi) =>
        if (bi > 0) sb.append(',')
        sb.append('"').append(book).append("\":[")
        chs.sortBy(_._1._2).zipWithIndex.foreach { case ((_, vs), ci) =>
          if (ci > 0) sb.append(',')
          sb.append('[')
          vs.zipWithIndex.foreach { case (ws, vi) =>
            if (vi > 0) sb.append(',')
            sb.append(ws.map(w => "\"" + w + "\"").mkString("[", ",", "]"))
          }
          sb.append(']')
        }
        sb.append(']')
      }
    sb.append('}')
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def stripNikkud(w: String): String =
    w.filter(ch => ch < '֑' || ch > 'ׇ')

  /** True when the chapter has no transcript (~5% of chapters). */
  def untranscribed(seed: Long, book: String, chapter: Int): Boolean =
    rng(seed, "missing", book, chapter).nextDouble() < 0.05

  /** A noisy ASR transcript of one chapter: ~8% of words dropped, ~10%
    * with one letter replaced, ~50% with their nikkud lost; increasing
    * word timestamps with short gaps.
    */
  def transcript(seed: Long, book: String, chapter: Int,
      verses: IndexedSeq[IndexedSeq[String]]): IndexedSeq[TranscribedWord] = {
    val r = rng(seed, "asr", book, chapter)
    var t = 0.3 + r.nextDouble()
    var seq = 0
    val out = IndexedSeq.newBuilder[TranscribedWord]
    for (vs <- verses; w <- vs) {
      if (r.nextDouble() >= 0.08) {
        var text = if (r.nextDouble() < 0.5) stripNikkud(w) else w
        if (r.nextDouble() < 0.10) {
          val pos = text.indices.filter(i => letters.contains(text(i)))
          if (pos.nonEmpty) {
            val i = pos(r.nextInt(pos.size))
            text = text.updated(i, letters(r.nextInt(letters.length)))
          }
        }
        val dur = 0.25 + 0.45 * r.nextDouble()
        seq += 1
        out += TranscribedWord(book, chapter, seq, text, t, t + dur,
          0.55 + 0.44 * r.nextDouble())
        t += dur + 0.02 + 0.15 * r.nextDouble()
      }
    }
    out.result()
  }

  /** Audio catalog row: transcript end plus a short tail, or ~0.45 s a
    * word for chapters without a transcript.
    */
  def audio(book: String, chapter: Int, words: Long,
      trans: IndexedSeq[TranscribedWord]): ChapterAudio = {
    val dur = if (trans.nonEmpty) trans.last.end + 1.5 else words * 0.45
    ChapterAudio(book, chapter, s"audio/$book/$chapter.mp3", 16000, dur,
      Seq.empty)
  }

  // ---- curation corpora ----

  /** Near-dup text corpus with planted structure. Documents come in
    * blocks of 16 ids:
    *  - ids 0..7: a chain of 8 sliding windows over one long base text,
    *    each sharing ~67% of its tokens with its neighbour and < 50%
    *    with the one after, so connected components need ~8 rounds;
    *  - ids 8..11: a family of light edits of one base (id 8);
    *  - ids 12..13: exact copies of id 8;
    *  - ids 14..15: unrelated unique documents.
    */
  object Docs {
    val block = 16
    private val vocabSize = 200000
    private def tok(i: Int): String = "w" + Integer.toString(i, 36)
    private def randomTokens(r: Random, n: Int): IndexedSeq[String] =
      IndexedSeq.fill(n)(tok(r.nextInt(vocabSize)))

    def text(seed: Long, id: Long): String = {
      val b = id / block
      val k = (id % block).toInt
      if (k < 8) {
        val base = randomTokens(rng(seed, "chain", b), 40 + 8 * 7)
        base.slice(8 * k, 8 * k + 40).mkString(" ")
      } else if (k < 14) {
        val base = randomTokens(rng(seed, "fam", b), 40)
        if (k == 8 || k >= 12) base.mkString(" ")
        else {
          val r = rng(seed, "edit", id)
          base.map(t => if (r.nextDouble() < 0.06) tok(r.nextInt(vocabSize))
            else t).mkString(" ")
        }
      } else randomTokens(rng(seed, "uniq", id), 40).mkString(" ")
    }

    /** Planted group of a document: the chain, the family, or -1. */
    def family(id: Long): Long = {
      val k = id % block
      if (k < 8) 2 * (id / block) else if (k < 14) 2 * (id / block) + 1
      else -1L
    }
  }

  /** Unit-norm embeddings, the generator of the engine's
    * `SemIngestBench`: every 10th id (≡ 9 mod 10) is a near copy of the
    * id 9 below it (σ = 0.16 noise per raw coordinate, cosine ≈ 0.99 at
    * dim 64); the rest are independent.
    */
  object Vectors {
    def isCopy(id: Long): Boolean = id % 10 == 9
    def vec(seed: Long, id: Long, dim: Int): Array[Double] = {
      val base = if (isCopy(id)) id - 9 else id
      val r = rng(seed, "vec", base)
      val raw = Array.fill(dim)(r.nextGaussian())
      if (isCopy(id)) {
        val rn = rng(seed, "noise", id)
        for (j <- 0 until dim) raw(j) += 0.16 * rn.nextGaussian()
      }
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
  }
}
