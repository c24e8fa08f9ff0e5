package graft.text

import java.nio.charset.StandardCharsets
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the text kernels against independent references, over
  * seeded scalacheck samples. */
class TextPropertySpec extends AnyFunSuite {

  /** `n` values of `gen`, drawn from fixed seeds so every run checks the
    * same inputs. */
  private def sample[T](gen: Gen[T], n: Int, stream: Long): Seq[T] =
    (0 until n).map(k => gen.apply(Gen.Parameters.default, Seed(stream * 100000L + k)).get)

  private val letters: Gen[Char] = Gen.frequency(
    6 -> Gen.oneOf('a', 'b', 'c', 'e', 'n', 'r', 's', 't'),
    2 -> Gen.oneOf('ä', 'ö', 'ß', 'é', 'и', 'н', 'я', '水'),
    1 -> Gen.oneOf(' ', '-', '1', '2'))

  private val word: Gen[String] = Gen.choose(0, 24).flatMap(Gen.listOfN(_, letters)).map(_.mkString)

  /** A word and a copy with up to four single-character edits, so most
    * pairs stay inside the banded kernel's limit. */
  private val nearPair: Gen[(String, String)] = for {
    a <- word
    edits <- Gen.choose(0, 4)
    positions <- Gen.listOfN(edits, Gen.choose(0, 1000))
    ops <- Gen.listOfN(edits, Gen.choose(0, 2))
    chars <- Gen.listOfN(edits, letters)
  } yield {
    val b = positions.lazyZip(ops).lazyZip(chars).foldLeft(a) { case (s, (p, op, c)) =>
      val i = if (s.isEmpty) 0 else p % s.length
      op match {
        case 0 => s.substring(0, i) + c + s.substring(i)
        case 1 if s.nonEmpty => s.substring(0, i) + s.substring(i + 1)
        case _ if s.nonEmpty => s.substring(0, i) + c + s.substring(i + 1)
        case _ => s + c
      }
    }
    (a, b)
  }

  test("property: boundedLevenshtein equals the full-DP levenshtein unless it " +
      "returns the 255 sentinel") {
    val pairs = sample(nearPair, 3000, 1) ++ sample(Gen.zip(word, word), 3000, 2)
    var inBand = 0
    pairs.foreach { case (a, b) =>
      val bounded = EditDistances.boundedLevenshtein(a, b)
      if (bounded != EditDistances.Overflow) {
        inBand += 1
        assert(bounded == EditDistances.levenshtein(a, b), s"'$a' vs '$b'")
      }
    }
    assert(inBand > pairs.size / 3, s"only $inBand of ${pairs.size} pairs stayed in band")
  }

  test("property: Normalize.normalize is idempotent") {
    val chars: Gen[Char] = Gen.frequency(
      6 -> letters,
      2 -> Gen.oneOf('A', 'Z', 'Ä', 'Ö', 'ẞ', 'İ', 'Σ', 'ς', 'ǅ', 'ﬁ', 'ŉ', 'Å', 'Ω', 'K'),
      2 -> Gen.choose('̀', 'ͯ'), // combining marks
      1 -> Gen.choose('Ͱ', '῿'),
      1 -> Gen.choose(Char.MinValue, Char.MaxValue))
    val texts = sample(Gen.choose(0, 30).flatMap(Gen.listOfN(_, chars)).map(_.mkString), 4000, 3)
    texts.foreach { s =>
      val once = Normalize.normalize(s)
      assert(Normalize.normalize(once) == once,
        s"not idempotent on ${s.map(c => f"U+${c.toInt}%04X").mkString(" ")}")
    }
  }

  test("property: compressBigram and decompressBigram round-trip") {
    for (b0 <- Byte.MinValue to Byte.MaxValue; b1 <- Byte.MinValue to Byte.MaxValue) {
      val g = Ngrams.compressBigram(b0.toByte, b1.toByte)
      assert(g >= 0 && g <= 0xFFFF)
      assert(Ngrams.decompressBigram(g).sameElements(Array(b0.toByte, b1.toByte)))
    }
    (0 to 0xFFFF).foreach { g =>
      val bs = Ngrams.decompressBigram(g)
      assert(Ngrams.compressBigram(bs(0), bs(1)) == g)
    }
    sample(Gen.zip(letters, letters, word).map { case (a, b, w) => s"$a$b$w" }, 2000, 4)
      .foreach { s =>
        val bs = s.getBytes(StandardCharsets.UTF_8)
        assert(Ngrams.decompressBigram(Ngrams.compressBigram(s)).sameElements(bs.take(2)), s)
      }
  }

  /** Jaro-Winkler over UTF-8 bytes, written from the definition with sets
    * of matched positions: each byte of `a` takes the first unmatched
    * equal byte of `b` within max(l1,l2)/2 − 1 (clamped at 0); the
    * half-transpositions are the mismatches between the two matched
    * sequences, integer-divided by 2; an empty side scores 0; the prefix
    * boost (≤ 4 bytes, scale 0.1) applies only when Jaro > 0.7. */
  private def jaroWinklerRef(a: String, b: String): Double = {
    val s = a.getBytes(StandardCharsets.UTF_8)
    val t = b.getBytes(StandardCharsets.UTF_8)
    if (s.isEmpty || t.isEmpty) return 0.0
    val window = math.max(0, math.max(s.length, t.length) / 2 - 1)
    val matched = s.indices.foldLeft(Map.empty[Int, Int]) { (m, i) =>
      val taken = m.values.toSet
      (math.max(0, i - window) to math.min(t.length - 1, i + window))
        .find(j => !taken(j) && s(i) == t(j))
        .fold(m)(j => m + (i -> j))
    }
    val m = matched.size.toDouble
    if (m == 0) return 0.0
    val fromS = matched.keys.toSeq.sorted.map(s(_))
    val fromT = matched.values.toSeq.sorted.map(t(_))
    val halfTranspositions = fromS.zip(fromT).count { case (x, y) => x != y }
    val jaro = (m / s.length + m / t.length + (m - halfTranspositions / 2) / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val prefix = s.zip(t).take(4).takeWhile { case (x, y) => x == y }.length
      jaro + prefix * 0.1 * (1.0 - jaro)
    }
  }

  test("property: jaroWinkler equals a set-based reference of the DuckDB " +
      "convention") {
    // values DuckDB's jaro_winkler_similarity documents
    assert(math.abs(jaroWinklerRef("CRATE", "TRACE") - 0.7333333333) < 1e-9)
    assert(math.abs(jaroWinklerRef("DwAyNE", "DuANE") - 0.84) < 1e-9)
    val pairs = sample(nearPair, 3000, 5) ++ sample(Gen.zip(word, word), 3000, 6)
    var boosted = 0
    pairs.foreach { case (a, b) =>
      val want = jaroWinklerRef(a, b)
      if (want > EditDistances.jaro(a, b)) boosted += 1
      assert(math.abs(EditDistances.jaroWinkler(a, b) - want) <= 1e-12,
        s"'$a' vs '$b': ${EditDistances.jaroWinkler(a, b)} != $want")
    }
    assert(boosted > pairs.size / 10, s"only $boosted pairs got a prefix boost")
  }

  /** A word of 0–20 codepoints drawn from `abc`, one in nine a space. */
  private def wordOver(abc: Seq[String]): Gen[Vector[String]] =
    Gen.choose(0, 20).flatMap(Gen.listOfN(_,
      Gen.frequency(8 -> Gen.oneOf(abc), 1 -> Gen.const(" ")))).map(_.toVector)

  /** A word over `abc` and a copy with 0–3 typos: an insertion, a
    * deletion, a transposition of two neighbours, or (at the last
    * codepoint) a substitution that ends the word. */
  private def typoPair(abc: Seq[String]): Gen[(String, String)] = for {
    a <- wordOver(abc)
    edits <- Gen.choose(0, 3)
    positions <- Gen.listOfN(edits, Gen.choose(0, 1000))
    chars <- Gen.listOfN(edits, Gen.oneOf(abc))
  } yield (a.mkString, positions.zip(chars).foldLeft(a) { case (w, (p, c)) =>
    if (w.isEmpty) Vector(c)
    else {
      val i = p % w.length
      p % 3 match {
        case 0 => w.patch(i, Seq(c), 0)
        case 1 => w.patch(i, Nil, 1)
        case _ if i + 1 < w.length => w.updated(i, w(i + 1)).updated(i + 1, w(i))
        case _ => w.take(i) :+ c
      }
    }
  }.mkString)

  test("property: Sift4.distCodepoints is invariant under an injective " +
      "renaming of codepoints (Cyrillic and CJK onto ASCII)") {
    val script = ('а' to 'я') ++ "水火木金土山川田中日月人口女子大".toSeq
    val scriptWord = wordOver(script.map(_.toString)).map(_.mkString)
    val scriptPair = typoPair(script.map(_.toString))
    val ascii = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toVector
    val pairs = sample(scriptPair, 3000, 7) ++ sample(Gen.zip(scriptWord, scriptWord), 1000, 8)
    for (seed <- 1 to 3) {
      val target = new scala.util.Random(seed).shuffle(ascii)
      val rename = (script :+ ' ').zip(target :+ ' ').toMap
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (a.map(rename), b.map(rename))
        for (maxDistance <- Seq(0, math.min(a.length, b.length) / 2 + 2)) {
          val d = Sift4.distCodepoints(a, b, 3, maxDistance)
          assert(Sift4.distCodepoints(ra, rb, 3, maxDistance) == d,
            s"'$a' vs '$b' (renamed '$ra' vs '$rb'), maxDistance $maxDistance")
        }
      }
    }
    val nonZero = pairs.count { case (a, b) => Sift4.distCodepoints(a, b, 3, 0) > 0 }
    assert(nonZero > pairs.size / 2, s"only $nonZero of ${pairs.size} pairs differ")
  }

  test("property: Sift4.distCodepoints lies within the length bounds, is 0 only " +
      "on equal strings, and the ER band keeps every in-band result") {
    val latin = ('a' to 'z').map(_.toString)
    val cyrillic = ('а' to 'я').map(_.toString)
    // CJK from the BMP and from plane 2 (two UTF-16 units each)
    val cjk = "水火木金土山川田中日月人口女子大𠀀𠀋𠂉𠃌".codePoints().toArray.toSeq
      .map(Character.toString)
    val pairs = Seq(latin, cyrillic, cjk, latin ++ cyrillic ++ cjk).zipWithIndex.flatMap {
      case (abc, k) =>
        val word = wordOver(abc).map(_.mkString)
        sample(typoPair(abc), 3000, 20 + k) ++ sample(Gen.zip(word, word), 1000, 30 + k)
    }
    var inBand = 0
    pairs.foreach { case (a, b) =>
      val (la, lb) = (a.codePointCount(0, a.length), b.codePointCount(0, b.length))
      val d = Sift4.distCodepoints(a, b, 3, 0)
      assert(math.abs(la - lb) <= d && d <= math.max(la, lb), s"'$a' vs '$b': $d")
      assert(Sift4.distCodepoints(a, a, 3, 0) == 0, s"'$a'")
      assert((d == 0) == (a == b), s"'$a' vs '$b': $d")
      val band = math.min(la, lb) / 2 + 2
      if (d <= band) {
        inBand += 1
        assert(Sift4.distCodepoints(a, b, 3, band) == d, s"'$a' vs '$b' under band $band")
      }
    }
    assert(inBand > pairs.size / 3 && inBand < pairs.size,
      s"$inBand of ${pairs.size} pairs inside the band")
  }
}
