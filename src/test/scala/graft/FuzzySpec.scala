package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Fuzzy, HebrewNorm}

class FuzzySpec extends AnyFunSuite {

  test("ratio: exact, near, empty") {
    assert(Fuzzy.ratio("abcd", "abcd") == 100.0)
    assert(Fuzzy.ratio("abcd", "abce") == 75.0) // LCS=3, 2*3/8
    assert(Fuzzy.ratio("", "") == 100.0)
    assert(Fuzzy.ratio("a", "") == 0.0)
    assert(Fuzzy.ratio("kitten", "sitting") == 2.0 * 4 / 13 * 100)
  }

  test("partial_ratio finds embedded windows") {
    assert(Fuzzy.partialRatio("bcd", "abcdef") == 100.0)
    assert(Fuzzy.partialRatio("abc", "abc") == 100.0)
    assert(Fuzzy.partialRatio("xyz", "abcdef") == 0.0)
    // partial >= full ratio for substrings of different length
    assert(Fuzzy.partialRatio("abc", "zzabczz") == 100.0)
    assert(Fuzzy.ratio("abc", "zzabczz") < 100.0)
  }

  test("token_sort_ratio ignores token order") {
    assert(Fuzzy.tokenSortRatio("b a", "a b") == 100.0)
    assert(Fuzzy.tokenSortRatio("hello world", "world hello") == 100.0)
  }

  test("token_set_ratio golden value") {
    // inter="b c", t1="b c a", t2="b c d": max is ratio(t1,t2)=2*4/10
    assert(Fuzzy.tokenSetRatio("a b c", "b c d") == 80.0)
    assert(Fuzzy.tokenSetRatio("a b", "b a a") == 100.0)
  }

  test("ratio is symmetric and bounded (seeded samples)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val a = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val r = Fuzzy.ratio(a, b)
      assert(r >= 0.0 && r <= 100.0)
      assert(r == Fuzzy.ratio(b, a))
      assert(Fuzzy.partialRatio(a, b) >= 0.0)
      assert(Fuzzy.tokenSetRatio(a, b) <= 100.0)
    }
  }

  test("bit-parallel LCS equals DP oracle across block boundaries") {
    val rnd = new scala.util.Random(99)
    val alphabets = Seq("ab", "abcd", "אבגדה", "abcdefghij")
    for (alpha <- alphabets; _ <- 1 to 150) {
      val la = rnd.nextInt(200)
      val lb = rnd.nextInt(200)
      val a = (1 to la).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val b = (1 to lb).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      assert(Fuzzy.lcsLength(a, b) == Fuzzy.lcsLengthDp(a, b),
        s"mismatch for a=$a b=$b")
    }
    // exact 64/65/128-length boundaries
    for (n <- Seq(63, 64, 65, 127, 128, 129)) {
      val a = "ab" * ((n + 1) / 2)
      val s = a.substring(0, n)
      assert(Fuzzy.lcsLength(s, s) == n)
      assert(Fuzzy.lcsLength(s, s.reverse) == Fuzzy.lcsLengthDp(s, s.reverse))
    }
  }

  test("partial_ratio scores truncated boundary alignments " +
    "(rapidfuzz semantics)") {
    // ADVICE golden: best interior window of "xxxab" gives 50; the
    // suffix overlap "ab" gives ratio("abcd","ab") = 2·2/(4+2) ≈ 66.7
    assert(Fuzzy.partialRatio("abcd", "xxxab") == 200.0 * 2 / 6)
    // prefix overlap: "cd" at the start of the longer string
    assert(Fuzzy.partialRatio("abcd", "cdxxx") == 200.0 * 2 / 6)
    // boundary windows never beat a perfect interior window
    assert(Fuzzy.partialRatio("ab", "zabz") == 100.0)
    // equal lengths also slide past both ends (no length discontinuity)
    assert(Fuzzy.partialRatio("ab", "ba") == 200.0 * 1 / 3)
  }

  /** partial_ratio by definition: the DP ratio of the shorter string
    * against every interior and truncated boundary window.
    */
  private def naive(a: String, b: String): Double = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (l.isEmpty) 100.0 else 0.0
    val windows =
      (0 to l.length - s.length).map(i => l.substring(i, i + s.length)) ++
        (1 until s.length).flatMap(k =>
          Seq(l.substring(0, k), l.substring(l.length - k)))
    windows.map(w =>
      200.0 * Fuzzy.lcsLengthDp(s, w) / (s.length + w.length)).max
  }

  test("bit-parallel partialRatio equals naive windowed-DP oracle") {
    val rnd = new scala.util.Random(123)
    for (alpha <- Seq("ab", "אבגד", "abcdefgh"); _ <- 1 to 80) {
      val a = (1 to 1 + rnd.nextInt(60))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val b = (1 to 1 + rnd.nextInt(150))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      assert(Fuzzy.partialRatio(a, b) == naive(a, b),
        s"partial mismatch a=$a b=$b")
    }
    // >64-char shorter strings: the multi-word interior path plus
    // boundary windows
    for (_ <- 1 to 20) {
      val a = (1 to 66 + rnd.nextInt(60)).map(_ => "abcd"(rnd.nextInt(4)))
        .mkString
      val b = (1 to 130 + rnd.nextInt(80)).map(_ => "abcd"(rnd.nextInt(4)))
        .mkString
      assert(Fuzzy.partialRatio(a, b) == naive(a, b))
    }
  }

  test("partialRatio equals the oracle at block edges, equal lengths, " +
    "short haystacks, repeated chars and planted copies") {
    val rnd = new scala.util.Random(2024)
    val pointed = "אבגדהוזחטיכלמנסעפצקרשת" + "\u05B0\u05B4\u05B7\u05B8\u05BC" + " "
    val alphabets = Seq(pointed, "abcdefgh ", "a", "aab")
    def draw(alpha: String, len: Int) =
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (n <- Seq(1, 2, 63, 64, 65, 130); alpha <- alphabets) {
      val s = draw(alpha, n)
      // equal length, shorter than 2n, and longer haystacks
      for (m <- Seq(n, n + 1, 2 * n - 1, 2 * n + 5, 3 * n + 7)) {
        val l = draw(alpha, m)
        assert(Fuzzy.partialRatio(s, l) == naive(s, l),
          s"n=$n m=$m s=$s l=$l")
        assert(Fuzzy.partialRatio(l, s) == naive(l, s),
          s"swapped n=$n m=$m s=$s l=$l")
      }
      // a noisy copy of s planted in the haystack: the best window scores
      // far above the rest
      val noisy = s.map(c =>
        if (rnd.nextInt(6) == 0) alpha(rnd.nextInt(alpha.length)) else c)
      for (pre <- Seq(0, n / 3, 2 * n + 1)) {
        val l = draw(alpha, pre) + noisy + draw(alpha, 2 * n - pre % n)
        assert(Fuzzy.partialRatio(s, l) == naive(s, l),
          s"planted n=$n pre=$pre s=$s l=$l")
      }
    }
  }

  // token_set_ratio as three full `ratio` calls — the reference the
  // length-derived intersection scores must reproduce exactly
  private def tokenSetOracle(a: String, b: String): Double = {
    val ta = a.split("\\s+").filter(_.nonEmpty).toSet
    val tb = b.split("\\s+").filter(_.nonEmpty).toSet
    val inter = (ta & tb).toSeq.sorted.mkString(" ")
    val diffA = (ta -- tb).toSeq.sorted.mkString(" ")
    val diffB = (tb -- ta).toSeq.sorted.mkString(" ")
    val t1 = if (diffA.isEmpty) inter
      else if (inter.isEmpty) diffA else s"$inter $diffA"
    val t2 = if (diffB.isEmpty) inter
      else if (inter.isEmpty) diffB else s"$inter $diffB"
    math.max(Fuzzy.ratio(inter, t1),
      math.max(Fuzzy.ratio(inter, t2), Fuzzy.ratio(t1, t2)))
  }

  test("tokenSetRatio equals the three-ratio oracle bit for bit") {
    val fixed = Seq(
      ("a b c", "x y z"), // empty intersection
      ("a b", "a b c"), // empty diffA
      ("a b c", "b c"), // empty diffB
      ("", ""), ("", "a b"), ("  ", "a"), // both / one side empty
      ("a a b b", "b b a"), ("x x x", "x"), // repeated tokens
      ("בְּרֵאשִׁית בָּרָא אֱלֹהִים", "בָּרָא אֱלֹהִים אֵת"), // pointed Hebrew
      ("וַיֹּאמֶר אֱלֹהִים יְהִי אוֹר", "ויאמר אלהים יהי אור"))
    fixed.foreach { case (a, b) =>
      assert(Fuzzy.tokenSetRatio(a, b) == tokenSetOracle(a, b), s"[$a] [$b]")
      assert(Fuzzy.tokenSetRatio(b, a) == tokenSetOracle(b, a), s"[$b] [$a]")
    }
    val words = Seq("a", "bb", "ccc", "אב", "בְּ", "גדול", "x y")
    val rnd = new scala.util.Random(7)
    def phrase() = Seq.fill(rnd.nextInt(7))(words(rnd.nextInt(words.size)))
      .mkString(" ")
    (1 to 500).foreach { _ =>
      val (a, b) = (phrase(), phrase())
      assert(Fuzzy.tokenSetRatio(a, b) == tokenSetOracle(a, b), s"[$a] [$b]")
    }
  }

  test("hebrew normalize strips nikkud, keeps letters") {
    assert(HebrewNorm.normalize("בְּרֵא") ==
      "ברא")
    assert(HebrewNorm.normalize("  אב   גד  ") ==
      "אב גד")
    assert(HebrewNorm.normalize("abc123") == "")
    assert(HebrewNorm.normalize("") == "")
    assert(HebrewNorm.normalize(null) == "")
  }

  test("normalized match is nikkud-insensitive") {
    val w1 = "בְּרֵאשִׁית"
    val w2 = "בראשית"
    assert(Fuzzy.ratio(HebrewNorm.normalize(w1), HebrewNorm.normalize(w2))
      == 100.0)
  }
}
