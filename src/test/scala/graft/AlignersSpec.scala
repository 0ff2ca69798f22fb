package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.align.Aligners
import graft.model._

class AlignersSpec extends AnyFunSuite {

  private def tw(seq: Int, text: String, start: Double, end: Double,
      conf: Double = 0.9) =
    TranscribedWord("Gen", 1, seq, text, start, end, conf)

  private val verses = Seq(
    Verse.fromWords("Gen", 1, 1, Seq("בְּרֵאשִׁית", "בָּרָא", "אֱלֹהִים")),
    Verse.fromWords("Gen", 1, 2, Seq("וְהָאָרֶץ", "הָיְתָה")))

  test("greedy: exact matches take transcribed timing, cursor advances") {
    val trans = Seq(
      tw(1, "בראשית", 0.0, 1.0), tw(2, "ברא", 1.0, 1.8),
      tw(3, "אלהים", 1.8, 2.5), tw(4, "והארץ", 2.5, 3.4),
      tw(5, "היתה", 3.4, 4.0))
    val out = Aligners.alignGreedy(verses, trans)
    assert(out.size == 2)
    assert(out(0).words.map(_.start) == Seq(0.0, 1.0, 1.8))
    assert(out(0).start == 0.0 && out(0).end == 2.5)
    assert(out(0).words.forall(_.confidence == 0.9))
    // output keeps the ORIGINAL nikkud text, never the normalized form
    assert(out(0).words.map(_.text) == verses(0).words)
    assert(out(1).words.map(_.start) == Seq(2.5, 3.4))
  }

  test("greedy: non-matching words get 0.5s estimated slots, conf 0.1") {
    val trans = Seq(tw(1, "שונהלגמרי", 0.0, 1.0))
    val out = Aligners.alignGreedy(verses.take(1), trans)
    val w = out(0).words
    assert(w.map(_.confidence).forall(_ == 0.1))
    assert(w.map(_.start) == Seq(0.0, 0.5, 1.0))
    assert(w.map(_.end) == Seq(0.5, 1.0, 1.5))
    // verse start falls back to 0.0 when nothing matched (reference quirk)
    assert(out(0).start == 0.0 && out(0).end == 1.5)
  }

  test("greedy: transcription shorter than reference → estimated tail") {
    val trans = Seq(tw(1, "בראשית", 0.0, 1.0))
    val out = Aligners.alignGreedy(verses.take(1), trans)
    val w = out(0).words
    assert(w(0).start == 0.0 && w(0).end == 1.0 && w(0).confidence == 0.9)
    assert(w(1).start == 1.0 && w(1).end == 1.5 && w(1).confidence == 0.1)
    assert(w(2).start == 1.5 && w(2).end == 2.0)
  }

  test("windowed: finds out-of-order match within look-ahead of 5") {
    // transcribed has a noise word first; windowed skips it, greedy can't
    val trans = Seq(
      tw(1, "רעש", 0.0, 0.3), tw(2, "בראשית", 0.3, 1.0),
      tw(3, "ברא", 1.0, 1.8), tw(4, "אלהים", 1.8, 2.5),
      tw(5, "והארץ", 2.5, 3.4), tw(6, "היתה", 3.4, 4.0))
    val out = Aligners.alignWindowed(verses, trans)
    assert(out(0).words(0).start == 0.3)
    // matched confidence = asr_conf * similarity = 0.9 * 1.0
    assert(math.abs(out(0).words(0).confidence - 0.9) < 1e-9)
    assert(out(1).words.map(_.start) == Seq(2.5, 3.4))
  }

  test("windowed: unmatched gets 0.4s slots; verse start from first word") {
    val trans = Seq(tw(1, "אבג", 10.0, 11.0))
    val vs = Seq(Verse.fromWords("Gen", 1, 1, Seq("שונהלגמרי", "אחרלגמרי")))
    val out = Aligners.alignWindowed(vs, trans)
    assert(out(0).words.map(_.end) == Seq(0.4, 0.8))
    assert(out(0).start == 0.0) // windowed sets start from first aligned word
  }

  test("estimated uniform: covers [0, duration], round-2, conf 0.1") {
    val out = Aligners.alignEstimatedUniform(verses, 10.0)
    assert(out.size == 2)
    assert(out(0).start == 0.0 && out(0).end == 5.0)
    assert(out(1).start == 5.0 && out(1).end == 10.0)
    assert(out.flatMap(_.words).forall(_.confidence == 0.1))
    // words partition the verse window
    assert(out(0).words.head.start == out(0).start)
    assert(out(0).words.last.end == out(0).end)
    assert(out(0).words.map(_.text) == verses(0).words)
  }

  test("estimated density: word-share allocation with 1.0s floor") {
    val vs = Seq(
      Verse.fromWords("Gen", 1, 1, Seq.fill(99)("א")),
      Verse.fromWords("Gen", 1, 2, Seq("ב")))
    val out = Aligners.alignEstimatedDensity(vs, 100.0)
    assert(out(0).end == 99.0)
    // second verse would get 1.0 but floor makes it exactly 1.0
    assert(out(1).start == 99.0 && out(1).end == 100.0)
    // floor pushes past duration when shares are tiny — faithful behavior
    val out2 = Aligners.alignEstimatedDensity(vs, 1.0)
    assert(out2(1).end > 1.0)
  }

  test("verse_fuzzy: perfect transcription scores 1.0") {
    val trans = Seq(
      tw(1, verses(0).text, 0.0, 5.0), tw(2, verses(1).text, 5.0, 10.0))
    val out = Aligners.alignVerseFuzzy(verses, trans)
    assert(out(0).confidence == 1.0) // partial_ratio finds the verse
    assert(out.flatMap(_.words).forall(_.confidence == 1.0))
    assert(out(1).end == 10.0)
  }

  test("assembleChapter: rollup and metadata per strategy") {
    val trans = Seq(tw(1, "בראשית", 0.0, 1.0, 0.8), tw(2, "ברא", 1.0, 2.0, 0.6))
    val ch = Aligners.assembleChapter("Gen", 1, "greedy", verses, trans, 0.0)
    assert(ch.overallConfidence == 0.7 && ch.totalDuration == 2.0)
    assert(ch.verseCount == 2 && ch.transcribedWordCount == 2)
    val est = Aligners.assembleChapter("Gen", 1, "estimated", verses,
      Seq.empty, 12.345)
    // 12.345 in binary is ~12.345000000000001 → HALF_EVEN rounds up,
    // matching Python's round(12.345, 2) == 12.35
    assert(est.overallConfidence == 0.1 && est.totalDuration == 12.35)
  }

  test("property: every reference word appears exactly once, in order") {
    val rnd = new scala.util.Random(7)
    val hebrew = "אבגדהוזחטיכלמנסעפצקרשת"
    def randWord() = (1 to (1 + rnd.nextInt(6)))
      .map(_ => hebrew(rnd.nextInt(hebrew.length))).mkString
    (1 to 30).foreach { _ =>
      val vs = (1 to (1 + rnd.nextInt(5))).map(i =>
        Verse.fromWords("Gen", 1, i,
          (1 to (1 + rnd.nextInt(8))).map(_ => randWord())))
      val ts = (1 to rnd.nextInt(20)).map(i =>
        tw(i, randWord(), i * 0.5, i * 0.5 + 0.4))
      for (strategy <- Seq(
          Aligners.alignGreedy(vs, ts), Aligners.alignWindowed(vs, ts))) {
        assert(strategy.map(_.verseNum) == vs.map(_.verseNum))
        assert(strategy.flatMap(_.words.map(_.text)) ==
          vs.flatMap(_.words))
        assert(strategy.flatMap(_.words).forall(w =>
          w.confidence >= 0.0 && w.confidence <= 1.0 && w.end >= w.start))
      }
      val est = Aligners.alignEstimatedUniform(vs, 30.0)
      assert(est.flatMap(_.words.map(_.text)) == vs.flatMap(_.words))
      // verse windows are monotone non-decreasing
      est.sliding(2).foreach {
        case Seq(a, b) => assert(b.start >= a.start)
        case _ =>
      }
    }
  }

  test("assembleChapter: List and Vector transcripts give equal chapters") {
    val rnd = new scala.util.Random(11)
    val letters = "אבגדהוזחטיכלמנסעפצקרשת"
    val marks = "\u05B0\u05B4\u05B7\u05B8\u05BC"
    def pointedWord() = (1 to (1 + rnd.nextInt(6))).map { _ =>
      letters(rnd.nextInt(letters.length)).toString +
        (if (rnd.nextBoolean()) marks(rnd.nextInt(marks.length)) else "")
    }.mkString
    (1 to 40).foreach { _ =>
      val vs = (1 to (1 + rnd.nextInt(6))).map(i =>
        Verse.fromWords("Gen", 1, i,
          (1 to (1 + rnd.nextInt(9))).map(_ => pointedWord())))
      // a noisy transcript: dropped, respelled and inserted words
      var t = 0.0
      val ts = vs.flatMap(_.words).flatMap { w =>
        val drawn = rnd.nextInt(10) match {
          case 0 => Seq.empty
          case 1 => Seq(w.dropRight(1), pointedWord())
          case _ => Seq(w)
        }
        drawn.map { text => t += 0.3 + rnd.nextDouble(); text }
          .map(text => (text, t))
      }.zipWithIndex.map { case ((text, at), i) =>
        tw(i + 1, text, at, at + 0.25, 0.5 + rnd.nextDouble() / 2)
      }
      for (method <- Seq("windowed", "greedy")) {
        val fromList = Aligners.assembleChapter("Gen", 1, method, vs,
          ts.toList, 0.0)
        assert(fromList == Aligners.assembleChapter("Gen", 1, method, vs,
          ts.toVector, 0.0), method)
        assert(fromList.transcribedWordCount == ts.size)
      }
    }
  }

  test("assembleChapter: golden windowed and greedy chapter") {
    val vs = Seq(
      Verse.fromWords("Gen", 1, 1, Seq("בְּרֵאשִׁית", "בָּרָא", "אֱלֹהִים",
        "אֵת", "הַשָּׁמַיִם", "וְאֵת", "הָאָרֶץ")),
      Verse.fromWords("Gen", 1, 2, Seq("וְהָאָרֶץ", "הָיְתָה", "תֹהוּ",
        "וָבֹהוּ", "וְחֹשֶׁךְ", "עַל", "פְּנֵי", "תְהוֹם")))
    val trans = List(
      tw(1, "בראשית", 0.0, 0.6, 0.91), tw(2, "בראא", 0.62, 1.0, 0.8),
      tw(3, "אלוהים", 1.05, 1.6, 0.85), tw(4, "רעש", 1.6, 1.8, 0.5),
      tw(5, "את", 1.8, 2.0, 0.95), tw(6, "הַשָּׁמַיִם", 2.0, 2.7, 0.9),
      tw(7, "הארץ", 2.8, 3.3, 0.7), tw(8, "והארץ", 3.4, 3.9, 0.88),
      tw(9, "היתה", 3.9, 4.3, 0.9), tw(10, "תהו", 4.3, 4.7, 0.6),
      tw(11, "ובהו", 4.7, 5.1, 0.77), tw(12, "וחושך", 5.1, 5.6, 0.83),
      tw(13, "על", 5.6, 5.8, 0.9), tw(14, "פני", 5.8, 6.1, 0.9),
      tw(15, "תהום", 6.1, 6.6, 0.92))
    def words(ch: ChapterAlignment) =
      ch.verses.map(_.words.map(w => (w.start, w.end, w.confidence)))
    // pinned from the aligners before they indexed the transcript
    val windowed = Aligners.assembleChapter("Gen", 1, "windowed", vs,
      trans, 0.0)
    assert(windowed.totalDuration == 6.6)
    assert(windowed.overallConfidence == 0.8206666666666667)
    assert(windowed.transcribedWordCount == 15 && windowed.verseCount == 2)
    assert(windowed.verses.map(v => (v.start, v.end)) ==
      Seq((0.0, 4.3), (4.7, 9.000000000000002)))
    assert(words(windowed) == Seq(
      Seq((0.0, 0.6, 0.91), (0.62, 1.0, 0.8),
        (1.05, 1.6, 0.7727272727272727), (1.8, 2.0, 0.95), (2.0, 2.7, 0.9),
        (3.4, 3.9, 0.5866666666666668), (3.9, 4.3, 0.1)),
      Seq((4.7, 5.1, 0.5133333333333334), (6.1, 6.6, 0.6133333333333334),
        (6.6, 7.0, 0.1), (7.0, 7.4, 0.1), (7.4, 7.800000000000001, 0.1),
        (7.800000000000001, 8.200000000000001, 0.1),
        (8.200000000000001, 8.600000000000001, 0.1),
        (8.600000000000001, 9.000000000000002, 0.1))))
    val greedy = Aligners.assembleChapter("Gen", 1, "greedy", vs, trans,
      0.0)
    assert(greedy.totalDuration == 6.6)
    assert(greedy.overallConfidence == 0.8206666666666667)
    assert(greedy.verses.map(v => (v.start, v.end)) ==
      Seq((0.0, 3.6), (0.0, 4.0)))
    assert(words(greedy) == Seq(
      Seq((0.0, 0.6, 0.91), (0.62, 1.0, 0.8), (1.05, 1.6, 0.85),
        (1.6, 2.1, 0.1), (2.1, 2.6, 0.1), (2.6, 3.1, 0.1), (3.1, 3.6, 0.1)),
      (0 until 8).map(i => (i * 0.5, i * 0.5 + 0.5, 0.1))))
    assert(Seq(windowed, greedy).forall(_.verses.map(_.words.map(_.text)) ==
      vs.map(_.words)))
  }
}
