package graft.er

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.text.{AcceptGate, EditDistances}
import graft.{functions => gf}

/** graft.text.AcceptGate, the one accept gate the pair walk, the batch
  * scorer and the streaming scorer run, against the gate as Spark
  * columns: codepoint SIFT4, Spark's codepoint `levenshtein` bounded at
  * 2 inside the pair's budget, and the per-token gate over
  * `split(·, " ")` with Spark's `levenshtein` and the byte-level
  * `jaro_winkler`. */
class AcceptGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val scripts: Seq[IndexedSeq[String]] = Seq(
    "abcdefghijklmnopqrstuvwxyzéü".map(_.toString),
    "абвгдежзийклмнопрстуфхцчшщыэюя".map(_.toString),
    "東京都港区六本木大阪市北中央".map(_.toString),
    (0 until 12).map(k => new String(Character.toChars(0x20000 + k))))

  /** A seeded key pair: a base of 1–4 tokens (a few with an empty token),
    * and a variant 0–3 edits away. Edits are codepoint substitutions,
    * insertions, deletions and transpositions, and space moves, which
    * change the token alignment while costing two whole-key edits. */
  private def keyPair(rnd: scala.util.Random): (String, String) = {
    val alphabet = scripts(rnd.nextInt(scripts.size))
    def pick = if (rnd.nextInt(10) == 0) scripts(rnd.nextInt(scripts.size))(0)
      else alphabet(rnd.nextInt(alphabet.size))
    val tokens = Seq.fill(1 + rnd.nextInt(4))(Seq.fill(1 + rnd.nextInt(10))(pick).mkString)
    val base = tokens.mkString(if (rnd.nextInt(20) == 0) "  " else " ")
    var v = base.codePoints().toArray.map(c => new String(Character.toChars(c))).toVector
    for (_ <- 0 until Seq(0, 1, 1, 2, 2, 3)(rnd.nextInt(6))) {
      val i = rnd.nextInt(v.size + 1)
      rnd.nextInt(6) match {
        case 0 if i < v.size => v = v.updated(i, pick)
        case 1 => v = v.patch(i, Seq(pick), 0)
        case 2 if v.size > 1 && i < v.size => v = v.patch(i, Nil, 1)
        case 3 if i + 1 < v.size => v = v.patch(i, Seq(v(i + 1), v(i)), 2)
        case 4 => v = v.patch(i, Seq(" "), 0)
        case _ =>
          val sp = v.indexOf(" ")
          if (sp >= 0) v = v.patch(sp, Nil, 1).patch(rnd.nextInt(v.size), Seq(" "), 0)
      }
    }
    if (rnd.nextBoolean()) (base, v.mkString) else (v.mkString, base)
  }

  test("the gate function equals the column gate on 12 000 seeded key pairs") {
    val rnd = new scala.util.Random(20261021L)
    val pairs = Seq.fill(12000)(keyPair(rnd)).toDF("a", "b")
    val ta = split($"a", " ")
    val tb = split($"b", " ")
    val tokOk = when(size(ta) =!= size(tb), lit(true)).otherwise(
      forall(zip_with(ta, tb, (x, y) =>
        levenshtein(x, y) <= 2 || gf.jaro_winkler(x, y) >= 0.92), x => x))
    val minLen = least(length($"a"), length($"b"))
    val levMax = greatest(lit(1), least(lit(2), ceil(minLen * (1.0 / 12.0)))).cast("int")
    val lev = levenshtein($"a", $"b", 2)
    val rows = pairs.select($"a", $"b", gf.sift4_cp($"a", $"b").as("sift"), lev.as("lev"),
        levMax.as("lev_max"), tokOk.as("tok_ok"),
        (gf.sift4_cp($"a", $"b") <= 2 && lev >= 0 && lev <= levMax && tokOk).as("gate"),
        gf.accept_gate($"a", $"b").as("kernel"), levenshtein($"a", $"b").as("lev_full"),
        (size(ta) =!= size(tb)).as("mismatch"))
      .collect()
    assert(rows.length == 12000)

    for (r <- rows) {
      val (a, b) = (r.getString(0), r.getString(1))
      val (ka, kb) = (new AcceptGate.Key(a), new AcceptGate.Key(b))
      val what = s"'$a' vs '$b'"
      assert(EditDistances.levenshteinWithin(ka.cps, kb.cps, 2) == r.getInt(3), what)
      assert(AcceptGate.levMax(math.min(ka.cps.length, kb.cps.length)) == r.getInt(4), what)
      assert(AcceptGate.tokensClose(ka, kb) == r.getBoolean(5), what)
      val v = AcceptGate.verdict(ka, kb)
      assert((v >= 0) == r.getBoolean(6), what)
      if (v >= 0) assert(v == r.getInt(2), what)
      assert(r.getStruct(7).getBoolean(0) == r.getBoolean(5) &&
        r.getStruct(7).getBoolean(1) == r.getBoolean(6), what)
    }

    // the seeded pairs reach every part of the gate and each bound
    def count(p: org.apache.spark.sql.Row => Boolean) = rows.count(p)
    def sift(r: org.apache.spark.sql.Row) = r.getInt(2)
    def levOk(r: org.apache.spark.sql.Row) = r.getInt(3) >= 0 && r.getInt(3) <= r.getInt(4)
    val coverage = Map(
      "accepted" -> count(_.getBoolean(6)),
      "rejected" -> count(!_.getBoolean(6)),
      "equal keys" -> count(r => r.getString(0) == r.getString(1)),
      "one edit beyond lev_max" -> count(r => r.getInt(8) == r.getInt(4) + 1),
      "rejected by lev alone" -> count(r => !levOk(r) && sift(r) <= 2 && r.getBoolean(5)),
      "one edit beyond the SIFT4 budget" -> count(r => sift(r) == AcceptGate.SiftMaxEdits + 1),
      "rejected by SIFT4 alone" -> count(r => sift(r) > 2 && levOk(r) && r.getBoolean(5)),
      "rejected by the token gate alone" -> count(r => !r.getBoolean(5) && levOk(r) && sift(r) <= 2),
      "token-count mismatch" -> count(_.getBoolean(9)),
      "empty token" -> count(r => r.getString(0).split(" ", -1).contains("")),
      "Latin" -> count(_.getString(0).exists(c => c >= 'a' && c <= 'z')),
      "Cyrillic" -> count(_.getString(0).exists(c => c >= 'а' && c <= 'я')),
      "CJK" -> count(_.getString(0).exists(c => c >= '一' && c <= '鿿')),
      "plane 2" -> count(_.getString(0).codePoints().anyMatch(_ >= 0x20000)))
    assert(coverage.forall(_._2 > 0), coverage)
  }
}
