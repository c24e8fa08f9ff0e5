package graft.text

import java.nio.charset.StandardCharsets

/** Pairwise string distances for candidate scoring.
  *
  * - boundedLevenshtein: exact port of the reference's banded DP
  *   (/root/reference/include/adr/score.h:15-57): band limit
  *   `min(len)/2 + 2`, early exit returns the sentinel 255 (kMaxEditDist,
  *   types.h:145-146). Byte-based like the reference.
  * - jaroWinkler: standard Jaro-Winkler similarity (boost threshold 0.7,
  *   prefix ≤ 4, scale 0.1), byte-based; used as the north-star scorer and
  *   checked against DuckDB's jaro_winkler_similarity in the oracle.
  */
object EditDistances {
  final val Overflow = 255

  def boundedLevenshtein(a: String, b: String): Int =
    boundedLevenshteinBytes(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** score.h:15-57. Returns 255 when the running distance exceeds
    * min(len)/2 + 2 (early exit). */
  def boundedLevenshteinBytes(s0: Array[Byte], t0: Array[Byte]): Int = {
    var source = s0
    var target = t0
    if (source.length > target.length) { val tmp = source; source = target; target = tmp }
    val minSize = source.length
    val maxSize = target.length
    val limit = minSize / 2 + 2
    val lev = new Array[Int](minSize + 1)
    var i = 0
    while (i <= minSize) { lev(i) = i; i += 1 }
    var j = 1
    while (j <= maxSize) {
      var previousDiagonal = lev(0)
      lev(0) += 1
      i = 1
      while (i <= minSize) {
        val previousDiagonalSave = lev(i)
        if (source(i - 1) == target(j - 1)) lev(i) = previousDiagonal
        else lev(i) = math.min(math.min(lev(i - 1) + 1, lev(i) + 1), previousDiagonal + 1)
        previousDiagonal = previousDiagonalSave
        i += 1
      }
      if (lev(math.min(minSize, j - 1)) > limit) return Overflow
      j += 1
    }
    lev(minSize)
  }

  /** Plain (unbounded) Levenshtein on bytes — used for oracle parity with
    * DuckDB's `levenshtein`. */
  def levenshtein(a: String, b: String): Int = {
    val s = a.getBytes(StandardCharsets.UTF_8)
    val t = b.getBytes(StandardCharsets.UTF_8)
    if (s.length == 0) return t.length
    if (t.length == 0) return s.length
    val prev = new Array[Int](t.length + 1)
    val curr = new Array[Int](t.length + 1)
    var j = 0
    while (j <= t.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= s.length) {
      curr(0) = i
      j = 1
      while (j <= t.length) {
        val cost = if (s(i - 1) == t(j - 1)) 0 else 1
        curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      System.arraycopy(curr, 0, prev, 0, t.length + 1)
      i += 1
    }
    prev(t.length)
  }

  /** Levenshtein distance over codepoints when it is at most `cap`, else
    * -1: Spark's `levenshtein(a, b, cap)`. Only the cells within `cap`
    * of the diagonal are filled, and a row whose band is all over `cap`
    * ends the walk (every alignment crosses every row). */
  def levenshteinWithin(a: Array[Int], b: Array[Int], cap: Int): Int = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length
    val m = t.length
    if (m - n > cap) return -1
    val over = cap + 1
    var prev = Array.tabulate(n + 1)(i => math.min(i, over))
    var cur = new Array[Int](n + 1)
    var j = 1
    while (j <= m) {
      val lo = math.max(1, j - cap)
      val hi = math.min(n, j + cap)
      cur(lo - 1) = if (lo == 1) math.min(j, over) else over
      var rowMin = cur(lo - 1)
      var i = lo
      while (i <= hi) {
        val sub = prev(i - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1)
        val d = math.min(math.min(cur(i - 1), prev(i)) + 1, sub)
        cur(i) = math.min(d, over)
        if (cur(i) < rowMin) rowMin = cur(i)
        i += 1
      }
      if (hi < n) cur(hi + 1) = over
      if (rowMin > cap) return -1
      val tmp = prev; prev = cur; cur = tmp
      j += 1
    }
    if (prev(n) <= cap) prev(n) else -1
  }

  /** Jaro similarity on bytes. */
  def jaro(a: String, b: String): Double =
    jaroBytes(a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  def jaroBytes(s: Array[Byte], t: Array[Byte]): Double = {
    val l1 = s.length
    val l2 = t.length
    // DuckDB (rapidfuzz-style) convention: any empty side → 0.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val sMatched = new Array[Boolean](l1)
    val tMatched = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!tMatched(j) && s(i) == t(j)) {
          sMatched(i) = true; tMatched(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (sMatched(i)) {
        while (!tMatched(k)) k += 1
        if (s(i) != t(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / l1 + m / l2 + (m - transpositions / 2) / m) / 3.0
  }

  /** Jaro-Winkler similarity: prefix boost (≤4 common leading bytes,
    * scale 0.1) applied when jaro > 0.7 — matches DuckDB 1.x semantics. */
  def jaroWinkler(a: String, b: String): Double =
    jaroBytesWinkler(a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  def jaroBytesWinkler(s: Array[Byte], t: Array[Byte]): Double = {
    val j = jaroBytes(s, t)
    if (j <= 0.7) return j
    var prefix = 0
    val maxPrefix = math.min(4, math.min(s.length, t.length))
    while (prefix < maxPrefix && s(prefix) == t(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }
}
