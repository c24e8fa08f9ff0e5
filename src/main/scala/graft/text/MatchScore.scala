package graft.text

import java.nio.charset.StandardCharsets

/** The reference's pair scorer — exact port of get_token_match_score and
  * get_match_score (/root/reference/include/adr/score.h:59-135, 162-269).
  * All arithmetic in Float to match C++ `score_t = float` bit-for-bit;
  * string ops on UTF-8 bytes like the reference's string_view walks.
  *
  * NoMatch sentinel = Float.MaxValue (types.h:148-149).
  */
object MatchScore {
  final val NoMatch: Float = Float.MaxValue

  /** score.h:59-135 over the UTF-8 bytes of an already-normalized dataset
    * token `d` and query token `q`. Asymmetric: the dataset token is
    * prefix-cut to the query length. */
  def tokenMatchScoreBytes(d: Array[Byte], q: Array[Byte]): Float = {
    if (java.util.Arrays.equals(d, q)) return -2.0f - q.length * 0.75f
    val cutLen = math.min(d.length, q.length)
    val cut = if (d.length == cutLen) d else java.util.Arrays.copyOf(d, cutLen)
    val maxDistance = math.min(d.length, q.length) / 2 + 2
    val dist = Sift4.distBytes(cut, q, 3, maxDistance)
    if (dist >= cut.length) return NoMatch
    val overhangPenalty =
      math.min(4.0f, (d.length - math.min(d.length, q.length)).toFloat / 4.0f)
    val relativeCoverage = 6.0f * (dist.toFloat / cut.length.toFloat)
    var commonPrefixBonus = 0.0f
    val end = math.min(cut.length, q.length)
    var i = 0
    var break = false
    while (i < end && !break) {
      if (cut(i) != q(i)) break = true
      else { commonPrefixBonus -= 0.25f; i += 1 }
    }
    val firstLetterMismatchPenalty = if (cut(0) != q(0)) 2.0f else -0.5f
    val secondLetterMismatchPenalty =
      if (cut.length > 1 && q.length > 1) { if (cut(1) != q(1)) 1.0f else -0.25f }
      else -0.25f
    val score = dist + firstLetterMismatchPenalty + secondLetterMismatchPenalty +
      overhangPenalty + relativeCoverage + commonPrefixBonus
    if (score > math.ceil(cut.length.toFloat / 2.0f).toFloat) NoMatch else score
  }

  /** Dataset-side state shared across phrases: the normalize + tokenize +
    * recursive phrase enumeration (the expensive per-name work) runs ONCE
    * per name, then any number of query phrases score against it. */
  final class Prepared private[MatchScore] (
      val normBytes: Array[Byte],
      val nTokens: Int,
      val tokenPenalties: Array[Float],
      val phraseBits: Array[Int],
      val phraseBytes: Array[Array[Byte]])

  /** Small per-thread LRU over prepare(): in the score matrix the same
    * entity name appears as a candidate for MANY queries in a partition —
    * the tokenize + phrase enumeration is pure, so caching is free
    * determinism-wise. 1024 entries ≈ a few hundred KB per task thread. */
  private val prepCache =
    new ThreadLocal[java.util.LinkedHashMap[String, Prepared]] {
      override def initialValue(): java.util.LinkedHashMap[String, Prepared] =
        new java.util.LinkedHashMap[String, Prepared](1024, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, Prepared]): Boolean = size() > 1024
        }
    }

  def prepareCached(normalized: String): Prepared = {
    val cache = prepCache.get()
    var p = cache.get(normalized)
    if (p == null) { p = prepare(normalized); cache.put(normalized, p) }
    p
  }

  def prepare(normalized: String): Prepared = {
    val sTokens = Normalize.tokenizeDataset(normalized)
    val penalties = new Array[Float](sTokens.size)
    var i = 0
    while (i < sTokens.size) {
      val len = sTokens(i).getBytes(StandardCharsets.UTF_8).length
      penalties(i) = math.max(0.75f, math.min(3.0f, len.toFloat / 4.0f))
      i += 1
    }
    val bitsBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bytesBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    if (sTokens.size > 1)
      Phrases.forEachPhrase(sTokens) { (bits, sPhrase) =>
        bitsBuf += bits
        bytesBuf += sPhrase.getBytes(StandardCharsets.UTF_8)
      }
    new Prepared(normalized.getBytes(StandardCharsets.UTF_8), sTokens.size,
      penalties, bitsBuf.toArray, bytesBuf.toArray)
  }

  /** The score.h:162-269 core over prepared dataset state. `sLen` is the
    * byte length of the ORIGINAL (pre-normalization) dataset string — the
    * reference's `s.length()` in the final cutoff. */
  private def scorePrepared(prep: Prepared, sLen: Int, q: Array[Byte]): Float = {
    val fallback = tokenMatchScoreBytes(prep.normBytes, q)
    if (prep.nTokens == 1) return fallback

    var bestScore = NoMatch
    var bestBits = 0
    var pi = 0
    while (pi < prep.phraseBytes.length) {
      val sc = tokenMatchScoreBytes(prep.phraseBytes(pi), q)
      if (bestScore > sc) { bestBits = prep.phraseBits(pi); bestScore = sc }
      pi += 1
    }
    if (bestScore == NoMatch) return NoMatch

    var sum = bestScore
    var nNotMatched = 0
    var idx = 0
    while (idx < prep.nTokens) {
      if ((bestBits & (1 << idx)) == 0) {
        nNotMatched += 1
        sum += prep.tokenPenalties(idx)
      }
      idx += 1
    }
    if (nNotMatched == prep.nTokens) return NoMatch

    val max = math.ceil(math.min(sLen, q.length).toFloat / 2.0f).toFloat
    val score = math.min(fallback, sum)
    if (score >= max) NoMatch else score
  }

  /** score.h:162-269. `s` is the raw dataset name (normalized inside);
    * `pToken` is an already-normalized input phrase. */
  def matchScore(s: String, pToken: String): Float = {
    if (s == null || pToken == null || s.isEmpty || pToken.isEmpty) return NoMatch
    val normalized = Normalize.normalize(s)
    scorePrepared(prepare(normalized), s.getBytes(StandardCharsets.UTF_8).length,
      pToken.getBytes(StandardCharsets.UTF_8))
  }

  /** Pre-normalized single-phrase entry: `normalized` must already be in
    * canonical form (Normalize.normalize is idempotent on its own output —
    * pinned by TextGoldenSpec — so this equals matchScore(normalized, p)
    * without paying normalization again). */
  def matchScorePre(normalized: String, pToken: String): Float = {
    if (normalized == null || pToken == null || normalized.isEmpty || pToken.isEmpty)
      return NoMatch
    scorePrepared(prepare(normalized),
      normalized.getBytes(StandardCharsets.UTF_8).length,
      pToken.getBytes(StandardCharsets.UTF_8))
  }

  /** Pre-normalized multi-phrase entry: one prepare() for the dataset name,
    * scored against every phrase — the per-cell normalize/tokenize/phrase
    * enumeration of the naive formulation collapses to one per name. */
  def matchScoresPre(normalized: String, phrases: Array[String]): Array[Float] = {
    val out = new Array[Float](phrases.length)
    if (normalized == null || normalized.isEmpty) {
      java.util.Arrays.fill(out, NoMatch)
      return out
    }
    val prep = prepareCached(normalized)
    val sLen = prep.normBytes.length
    var i = 0
    while (i < phrases.length) {
      val p = phrases(i)
      out(i) =
        if (p == null || p.isEmpty) NoMatch
        else scorePrepared(prep, sLen, p.getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    out
  }

  /** The fused score-matrix argmin (get_suggestions.cc:494-508): score
    * every phrase against one prepared name, return the index of the best
    * (lowest score; ties → lowest index — the exact ordering of
    * min(struct(score, pidx, bits))), or -1 if every phrase is kNoMatch.
    * `scoreOut(0)` receives the winning score. */
  def bestPhrase(normalized: String, phrases: Array[String],
      scoreOut: Array[Float]): Int = {
    if (normalized == null || normalized.isEmpty) return -1
    val prep = prepareCached(normalized)
    val sLen = prep.normBytes.length
    var best = NoMatch
    var bestIdx = -1
    var i = 0
    while (i < phrases.length) {
      val p = phrases(i)
      if (p != null && p.nonEmpty) {
        val sc = scorePrepared(prep, sLen, p.getBytes(StandardCharsets.UTF_8))
        if (sc < best) { best = sc; bestIdx = i }
      }
      i += 1
    }
    if (bestIdx >= 0) scoreOut(0) = best
    bestIdx
  }
}
