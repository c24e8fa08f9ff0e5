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
}
