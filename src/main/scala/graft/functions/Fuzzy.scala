package graft.functions

/** Fuzzy string-similarity kernels (reference X14: fuzz.ratio,
  * partial_ratio, token_sort_ratio, token_set_ratio —
  * hebrew_alignment_tool.py:351, fixed_hebrew_aligner.py:513-515,
  * scripts/hebrew_alignment_optimized.py:577-581).
  *
  * `ratio` is the normalized indel similarity 2·LCS/(|a|+|b|) — the same
  * quantity rapidfuzz's fuzz.ratio computes (Indel distance = |a|+|b|−2·LCS).
  * All kernels return percentages in [0, 100] like the reference, which
  * then divides by 100 against thresholds 0.7 / 0.6.
  *
  * Pure JVM functions: used directly inside the `flatMapGroups` alignment
  * kernels (no per-row UDF overhead there) and exposed as Spark UDFs via
  * [[FuzzyUdfs]] for Column-level use.
  */
object Fuzzy {

  /** Length of the longest common subsequence. Bit-parallel
    * (Allison–Dix): one machine word processes 64 characters of the
    * shorter string per step — ~64× the classic DP on typical word/verse
    * lengths, which makes this the aligner's hot loop affordable at
    * corpus scale. Multi-block with borrow/carry chains for shorter
    * strings beyond 64 chars.
    */
  def lcsLength(a: CharSequence, b: CharSequence): Int = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length
    if (n == 0) return 0
    // tiny problems: the DP beats mask-building overhead (word-vs-word,
    // the greedy aligner's common case); larger: bit-parallel wins ~2.6×
    // at verse length and grows with |s|.
    if (n.toLong * l.length <= 512) lcsLengthDp(s, l)
    else if (n <= 64) {
      val ids = new CharIds(s)
      val masks = needleMasks(s, ids)
      val top = topMask(n)
      var r = 0L
      var p = 0
      while (p < l.length) {
        r = step1(r, masks(ids.id(l.charAt(p))), top)
        p += 1
      }
      java.lang.Long.bitCount(r)
    } else {
      val k = new BlockLcs(s)
      var p = 0
      while (p < l.length) { k.step(k.masks, k.row(l.charAt(p))); p += 1 }
      k.lcs()
    }
  }

  /** One single-word step: R' = x & ~(x − ((R<<1)|1)), x = M|R, cut to
    * the needle's `top` bits.
    */
  private def step1(r: Long, m: Long, top: Long): Long = {
    val x = m | r
    (x & ~(x - ((r << 1) | 1L))) & top
  }

  private def topMask(n: Int): Long =
    if ((n & 63) == 0) -1L else (1L << (n & 63)) - 1

  /** Ids 1..d for the d distinct chars of `s` (0 = not in `s`) in an
    * open-addressed table at most half full, probed linearly.
    */
  private final class CharIds(s: CharSequence) {
    private val slots = {
      var c = 8
      while (c < 2 * s.length) c <<= 1
      c
    }
    private val keys = new Array[Char](slots)
    private val ids = new Array[Int](slots)
    var distinct = 0
    /** The id of each position of `s`. */
    val ofNeedle: Array[Int] = {
      val out = new Array[Int](s.length)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        val h = slot(c)
        if (ids(h) == 0) { distinct += 1; keys(h) = c; ids(h) = distinct }
        out(j) = ids(h)
        j += 1
      }
      out
    }
    private def slot(c: Char): Int = {
      var h = c & (slots - 1)
      while (ids(h) != 0 && keys(h) != c) h = (h + 1) & (slots - 1)
      h
    }
    /** The id of `c`. */
    def id(c: Char): Int = ids(slot(c))
  }

  /** |s| ≤ 64: the mask of the positions of s holding each char id. */
  private def needleMasks(s: CharSequence, ids: CharIds): Array[Long] = {
    val masks = new Array[Long](ids.distinct + 1)
    var j = 0
    while (j < s.length) { masks(ids.ofNeedle(j)) |= 1L << j; j += 1 }
    masks
  }

  /** |s| ≤ 64: `pm(p)` is the mask of the positions of s holding l(p). */
  private def matchMasks(s: CharSequence, l: CharSequence): Array[Long] = {
    val ids = new CharIds(s)
    val masks = needleMasks(s, ids)
    val pm = new Array[Long](l.length)
    var p = 0
    while (p < l.length) { pm(p) = masks(ids.id(l.charAt(p))); p += 1 }
    pm
  }

  /** |s| > 64: `masks` and `rev` hold ⌈|s|/64⌉ words per char id (id 0
    * is the all-zero row) for s and for s reversed, `row(c)` is the row
    * offset of char c, and `r` the recurrence state, reused by every run.
    */
  private final class BlockLcs(s: CharSequence) {
    private val n = s.length
    private val w = (n + 63) >>> 6
    private val top = topMask(n)
    private val ids = new CharIds(s)
    val masks: Array[Long] = rows(j => j)
    lazy val rev: Array[Long] = rows(j => n - 1 - j)
    private def rows(bit: Int => Int): Array[Long] = {
      val out = new Array[Long]((ids.distinct + 1) * w)
      var j = 0
      while (j < n) {
        val q = bit(j)
        out(ids.ofNeedle(j) * w + (q >>> 6)) |= 1L << (q & 63)
        j += 1
      }
      out
    }
    def row(c: Char): Int = ids.id(c) * w
    /** The row offset of each position of `l`. */
    def rowsOf(l: CharSequence): Array[Int] = {
      val out = new Array[Int](l.length)
      var p = 0
      while (p < l.length) { out(p) = row(l.charAt(p)); p += 1 }
      out
    }
    private val r = new Array[Long](w)

    def reset(): Unit = java.util.Arrays.fill(r, 0L)

    /** One step over all words, the shift carry and the subtraction
      * borrow chained from the low word up.
      */
    def step(m: Array[Long], off: Int): Unit = {
      var carry = 1L
      var borrow = 0L
      var b = 0
      while (b < w) {
        val rb = r(b)
        val x = m(off + b) | rb
        val y = (rb << 1) | carry
        carry = rb >>> 63
        val d = x - y - borrow
        borrow = ((~x & y) | (~(x ^ y) & d)) >>> 63
        r(b) = x & ~d
        b += 1
      }
      r(w - 1) &= top
    }

    def lcs(): Int = {
      var c = 0
      var b = 0
      while (b < w) { c += java.lang.Long.bitCount(r(b)); b += 1 }
      c
    }
  }

  /** Reference two-row DP — retained as the property-test oracle for the
    * bit-parallel implementations.
    */
  private[graft] def lcsLengthDp(a: CharSequence, b: CharSequence): Int = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length
    if (n == 0) return 0
    val prev = new Array[Int](n + 1)
    val cur = new Array[Int](n + 1)
    var i = 0
    while (i < l.length) {
      val ci = l.charAt(i)
      var j = 0
      while (j < n) {
        cur(j + 1) =
          if (ci == s.charAt(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, n + 1)
      i += 1
    }
    prev(n)
  }

  /** fuzz.ratio: 100 · 2·LCS/(|a|+|b|); 100 when both empty. */
  def ratio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 100.0
    else 200.0 * lcsLength(a, b) / total
  }

  /** fuzz.partial_ratio: best `ratio` of the shorter string against any
    * alignment window of the longer one — the |s|-length interior
    * windows AND the truncated boundary windows (prefixes/suffixes of
    * the longer string shorter than |s|), matching rapidfuzz's sliding
    * alignment exactly: rapidfuzz scores s sliding from −(|s|−1) to
    * |l|−1 with the window clipped to l's bounds, so e.g.
    * partial_ratio("abcd", "xxxab") = ratio("abcd", "ab") ≈ 66.7, not
    * the 50 the best interior window gives. The reference's 0.6/0.7
    * thresholds were tuned against these semantics. Boundary windows
    * apply at EVERY length combination — equal-length inputs also slide
    * past both ends (partial_ratio("ab","ba") ≈ 66.7, not 50), so there
    * is no discontinuity between |l| = |s| and |l| = |s|+1.
    *
    * One call maps every position of l to the match masks of s once (an
    * open-addressed char table, no boxing), so the window loops only
    * index arrays. Each scored interior window restarts the bit-parallel
    * LCS recurrence: |s| steps of one machine word when |s| ≤ 64, of
    * ⌈|s|/64⌉ words with carry/borrow chains beyond (one reused state
    * array); the scan stops at the first window that holds all of s.
    * The boundary windows cost two sweeps of |s|−1 steps: a prefix sweep
    * of l, read after every step, and a suffix sweep that reads l
    * backwards against the masks of s reversed. Allocation is
    * O(|s| + |l|) per call, none per window.
    * Interior scores are `100·(2·lcs)/(2·|s|)`, boundary scores
    * `200·lcs/(|s|+k)` — the arithmetic of `ratio` on the same windows,
    * so the doubles are the ones a window-by-window `ratio` scan gives.
    */
  def partialRatio(a: String, b: String): Double = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (l.isEmpty) 100.0 else 0.0
    if (s.length <= 64) partialRatio1(s, l) else partialRatioK(s, l)
  }

  private def partialRatio1(s: String, l: String): Double = {
    val n = s.length
    val pm = matchMasks(s, l)
    val top = topMask(n)
    var best = 0
    var i = 0
    while (i <= l.length - n && best < n) {
      var r = 0L
      var p = i
      while (p < i + n) { r = step1(r, pm(p), top); p += 1 }
      best = math.max(best, java.lang.Long.bitCount(r))
      i += 1
    }
    if (best == n) return 100.0
    var out = 100.0 * (2 * best) / (2 * n)
    // boundary windows: after k steps the prefix sweep holds
    // LCS(s, l[0, k)) and the suffix sweep, over the masks of s
    // reversed, LCS(s, l[|l|−k, |l|))
    var pre = 0L
    var suf = 0L
    var k = 1
    while (k < n) {
      pre = step1(pre, pm(k - 1), top)
      suf = step1(suf,
        java.lang.Long.reverse(pm(l.length - k)) >>> (64 - n), top)
      out = math.max(out, 200.0 * java.lang.Long.bitCount(pre) / (n + k))
      out = math.max(out, 200.0 * java.lang.Long.bitCount(suf) / (n + k))
      k += 1
    }
    out
  }

  private def partialRatioK(s: String, l: String): Double = {
    val n = s.length
    val k = new BlockLcs(s)
    val row = k.rowsOf(l)
    var best = 0
    var i = 0
    while (i <= l.length - n && best < n) {
      k.reset()
      var p = i
      while (p < i + n) { k.step(k.masks, row(p)); p += 1 }
      best = math.max(best, k.lcs())
      i += 1
    }
    if (best == n) return 100.0
    var out = 100.0 * (2 * best) / (2 * n)
    k.reset()
    var j = 1
    while (j < n) {
      k.step(k.masks, row(j - 1))
      out = math.max(out, 200.0 * k.lcs() / (n + j))
      j += 1
    }
    k.reset()
    val rev = k.rev
    j = 1
    while (j < n) {
      k.step(rev, row(l.length - j))
      out = math.max(out, 200.0 * k.lcs() / (n + j))
      j += 1
    }
    out
  }

  private def sortedTokens(s: String): Array[String] =
    s.split("\\s+").filter(_.nonEmpty).sorted

  /** fuzz.token_sort_ratio: ratio of the space-joined sorted tokens. */
  def tokenSortRatio(a: String, b: String): Double =
    ratio(sortedTokens(a).mkString(" "), sortedTokens(b).mkString(" "))

  /** fuzz.token_set_ratio: ratio over (intersection, intersection+restA,
    * intersection+restB) combinations, max of the three. `t1` and `t2`
    * each begin with the intersection (or equal it), so its LCS with
    * either is its own length: those two ratios come from lengths, and
    * only `ratio(t1, t2)` runs the LCS kernel. The arithmetic is
    * `ratio`'s on the same integers, so the doubles are the ones three
    * `ratio` calls give.
    */
  def tokenSetRatio(a: String, b: String): Double = {
    val ta = sortedTokens(a).toSet
    val tb = sortedTokens(b).toSet
    val inter = (ta & tb).toSeq.sorted.mkString(" ")
    val diffA = (ta -- tb).toSeq.sorted.mkString(" ")
    val diffB = (tb -- ta).toSeq.sorted.mkString(" ")
    val t1 = if (diffA.isEmpty) inter
      else if (inter.isEmpty) diffA else s"$inter $diffA"
    val t2 = if (diffB.isEmpty) inter
      else if (inter.isEmpty) diffB else s"$inter $diffB"
    def interRatio(t: String): Double = {
      val total = inter.length + t.length
      if (total == 0) 100.0 else 200.0 * inter.length / total
    }
    math.max(interRatio(t1), math.max(interRatio(t2), ratio(t1, t2)))
  }

  /** max(ratio, partial_ratio) — the windowed aligner's similarity
    * (fixed_hebrew_aligner.py:513-515), as a 0–1 fraction.
    */
  def bestSimilarity(a: String, b: String): Double =
    math.max(ratio(a, b), partialRatio(a, b)) / 100.0
}

/** Hebrew text normalization (reference P3,
  * hebrew_alignment_tool.py:398-403): strip nikkud U+0591–U+05C7, keep
  * only Hebrew letters U+05D0–U+05EA and whitespace, squeeze whitespace.
  * Match-key only — never applied to output text (SURVEY.md §7.4 risk 6).
  */
object HebrewNorm {
  def normalize(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val sb = new StringBuilder(text.length)
    var lastSpace = true
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= 'א' && c <= 'ת') {
        sb.append(c); lastSpace = false
      } else if (c >= '֑' && c <= 'ׇ') {
        // nikkud / cantillation: dropped entirely
      } else if (Character.isWhitespace(c)) {
        if (!lastSpace) { sb.append(' '); lastSpace = true }
      }
      // any other char: dropped (matches [^א-ת\s] removal)
      i += 1
    }
    sb.toString.strip
  }
}
