package graft.text

import java.nio.charset.StandardCharsets

/** Byte-level n-gram keys with the exact semantics of the reference
  * (/root/reference/include/adr/ngram.h). All grams are over the UTF-8
  * bytes of the *normalized* string; bytes ≥ 0x80 must be treated as
  * unsigned when packed (ngram.h:33-38; regression
  * /root/reference/test/cyrillic_test.cc:20-25).
  *
  * Packing: bigram → u16 `(b1<<8)|b0`; trigram → u24 `(b2<<16)|(b1<<8)|b0`.
  * Fixed-width Int keys shuffle cheaper than strings at 100 TB scale.
  */
object Ngrams {
  final val Space: Byte = 0x20

  @inline def compressChar(b: Byte): Int = b & 0xFF

  /** ngram.h:40-44 — u16 pack of two UTF-8 bytes. */
  @inline def compressBigram(b0: Byte, b1: Byte): Int =
    compressChar(b0) | (compressChar(b1) << 8)

  def compressBigram(s: String): Int = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(b.length >= 2, "bigram needs >= 2 bytes")
    compressBigram(b(0), b(1))
  }

  /** ngram.h:25-31 — unpack to the original 2 bytes. */
  def decompressBigram(g: Int): Array[Byte] =
    Array[Byte]((g & 0xFF).toByte, ((g >> 8) & 0xFF).toByte)

  @inline def compressTrigram(b0: Byte, b1: Byte, b2: Byte): Int =
    compressChar(b0) | (compressChar(b1) << 8) | (compressChar(b2) << 16)

  /** ngram.h:56-67 — all byte bigrams, skipping any containing a space. */
  def bigrams(normalized: String): Array[Int] = {
    val b = normalized.getBytes(StandardCharsets.UTF_8)
    if (b.length < 2) return Array.emptyIntArray
    val out = new Array[Int](b.length - 1)
    var n = 0
    var i = 0
    while (i < b.length - 1) {
      if (b(i) != Space && b(i + 1) != Space) {
        out(n) = compressBigram(b(i), b(i + 1))
        n += 1
      }
      i += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Trigram *strings* (may split UTF-8 sequences mid-codepoint exactly like
    * the reference's substr — used only for golden tests on ASCII). */
  def trigramStrings(normalized: String): Vector[String] = {
    val b = normalized.getBytes(StandardCharsets.UTF_8)
    if (b.length < 3) return Vector.empty
    (0 until b.length - 2).map { i =>
      new String(b, i, 3, StandardCharsets.UTF_8)
    }.toVector
  }

  /** Blocking keys: distinct trigrams of the normalized string that do not
    * contain a space byte — the web-scale analogue of the reference's
    * inverted bigram index keys (typeahead.cc:317-337 builds; the
    * north_rule asks for trigram blocking). Distinct because a key should
    * link a (key, id) pair once (posting-list dedup, typeahead.cc:331-336).
    */
  def trigramBlockingKeys(normalized: String): Array[Int] = {
    val b = normalized.getBytes(StandardCharsets.UTF_8)
    if (b.length < 3) return Array.emptyIntArray
    val set = new java.util.TreeSet[Integer]()
    var i = 0
    while (i < b.length - 2) {
      if (b(i) != Space && b(i + 1) != Space && b(i + 2) != Space)
        set.add(compressTrigram(b(i), b(i + 1), b(i + 2)))
      i += 1
    }
    val out = new Array[Int](set.size)
    val it = set.iterator()
    var n = 0
    while (it.hasNext) { out(n) = it.next(); n += 1 }
    out
  }

  /** ngram.h:69-81 split_ngrams: bigrams (space-skipping), capped at 128,
    * sorted ascending, duplicates kept. */
  def splitNgrams(normalized: String): Array[Int] = {
    val all = bigrams(normalized)
    val capped = if (all.length > 128) java.util.Arrays.copyOf(all, 128) else all
    java.util.Arrays.sort(capped)
    capped
  }

  /** Reference candidate filter (typeahead.cc:409-423):
    * match_count >= 2 + nq/(4 + nq/10) and cos² = cnt²/(n_b·n_q) ≥ 0.17. */
  @inline def minMatchCount(nQueryGrams: Int): Int =
    2 + nQueryGrams / (4 + nQueryGrams / 10)

  @inline def cosSim(matchCount: Long, nBigramsA: Int, nBigramsB: Int): Float =
    (matchCount * matchCount).toFloat / (nBigramsA.toFloat * nBigramsB.toFloat)
}
