package graft.text

import java.nio.charset.StandardCharsets

/** The ER scalar accept gate on two canonical match keys, the one
  * definition that the pair walk (er.Pipeline's blocking), the batch
  * scorer (er.Pipeline.scoreKeyed) and the streaming scorer all run:
  *
  *   accept(a, b) = sift4_cp(a, b) ≤ SiftMaxEdits
  *                ∧ lev_cp(a, b) ≤ levMax(min_len)
  *                ∧ every aligned token pair is close (tokensClose)
  *
  * Edit distances count codepoints, so one user typo is one edit on any
  * script (byte distances count a Cyrillic transposition as 4 edits).
  * Jaro-Winkler, as the `jaro_winkler` kernel, reads UTF-8 bytes.
  */
object AcceptGate {
  /** SIFT4 counts a transposition as 1 (the reference scorer's
    * property); budget 2 because canonicalization can amplify one user
    * typo into two key edits (digraph fold: deleting 'f' in "haferring"
    * creates "ae" which folds to "a" — a 2-edit key delta). Precision
    * at 2 edits is recovered by the distance-first hub rule. */
  final val SiftMaxEdits = 2
  /** Allowed Levenshtein edits per character of the shorter key, capped
    * at LevMaxCap (plain Levenshtein counts a transposition as 2). */
  final val LevMaxPerChar = 1.0 / 12.0
  final val LevMaxCap = 2
  /** Per-aligned-token closeness: every aligned token pair must satisfy
    * lev ≤ TokLevMax OR jw ≥ TokJwMin. */
  final val TokLevMax = 2
  final val TokJwMin = 0.92

  /** A key in the forms the gate reads, built once per key and reused
    * for every pair it is in: its codepoints and, on first use, its
    * tokens. */
  final class Key(s: String) {
    val cps: Array[Int] = s.codePoints().toArray
    /** `split(key, " ")`: Java's split with limit -1, as Spark's, keeps
      * empty tokens (a leading, trailing or doubled space). */
    lazy val tokens: Array[Token] = s.split(" ", -1).map(new Token(_))
  }

  final class Token(t: String) {
    val cps: Array[Int] = t.codePoints().toArray
    val bytes: Array[Byte] = t.getBytes(StandardCharsets.UTF_8)
  }

  /** Edits the whole-key Levenshtein may spend on keys whose shorter one
    * has `minLen` codepoints: ⌈minLen/12⌉, clamped to [1, LevMaxCap]. */
  def levMax(minLen: Int): Int =
    math.max(1, math.min(LevMaxCap.toLong, math.ceil(minLen * LevMaxPerChar).toLong).toInt)

  /** Codepoint SIFT4 as the gate runs it: maxOffset 3, banded at
    * min(len)/2 + 2 codepoints, each side cut to Sift4.MaxLen. */
  def sift4(a: Array[Int], b: Array[Int]): Int = {
    def cut(x: Array[Int]) = if (x.length > Sift4.MaxLen) x.take(Sift4.MaxLen) else x
    Sift4.distGeneric(cut(a), cut(b), 3, math.min(a.length, b.length) / 2 + 2)
  }

  /** The token-aligned gate: a whole-string score can stay high when one
    * aligned token is a different word entirely (long shared base +
    * short differing city), so every aligned token pair must be close on
    * its own. Keys with different token counts (a deleted space) pass:
    * the whole-key rules alone decide them. */
  def tokensClose(a: Key, b: Key): Boolean = {
    val ta = a.tokens
    val tb = b.tokens
    ta.length != tb.length || ta.indices.forall { i =>
      EditDistances.levenshteinWithin(ta(i).cps, tb(i).cps, TokLevMax) >= 0 ||
        EditDistances.jaroBytesWinkler(ta(i).bytes, tb(i).bytes) >= TokJwMin
    }
  }

  /** The gate's verdict on (a, b): their SIFT4 distance when the pair is
    * accepted, -1 when it is not. The necessary filters run cheapest
    * first: the codepoint-length difference (a lower bound of the
    * Levenshtein distance), then the Levenshtein distance banded at the
    * pair's own budget, then SIFT4 and the token gate. */
  def verdict(a: Key, b: Key): Int = {
    val budget = levMax(math.min(a.cps.length, b.cps.length))
    if (math.abs(a.cps.length - b.cps.length) > budget ||
        EditDistances.levenshteinWithin(a.cps, b.cps, budget) < 0) -1
    else {
      val sift = sift4(a.cps, b.cps)
      if (sift <= SiftMaxEdits && tokensClose(a, b)) sift else -1
    }
  }
}
