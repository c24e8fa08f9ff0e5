package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, QuaternaryLike, TernaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions over the pure graft.text kernels.
  *
  * Every kernel expression is a `RuntimeReplaceable` ([[KernelCall]]):
  * the optimizer replaces it with Spark's `StaticInvoke` of one
  * [[ExprKernels]] method, so interpreted evaluation (HOF lambdas,
  * `NO_CODEGEN`) and WholeStageCodegen run the same call, and no Java
  * source is written by hand. `ExprKernels` is the one boundary between
  * Catalyst values (`UTF8String`, `ArrayData`, `InternalRow`, a boxed
  * value or null for a nullable result) and graft.text. The expression
  * keeps its name, its input check and its output type. Each has a
  * `graft.functions` facade function of the same name;
  * `graft.GraftExtensions` registers the column-only ones for SQL.
  * [[BlockPairs]], a generator, is the one expression with its own eval.
  */
trait KernelCall extends RuntimeReplaceable {
  override def foldable: Boolean = children.forall(_.foldable)

  /** `ExprKernels.<method>(args)` returning `dataType`; `returnNullable`:
    * the method may return null. With `propagateNull` a NULL argument
    * gives NULL without a call, and a NULL-typed argument, which has no
    * JVM class to find the method by, makes the call a NULL literal. */
  protected def call(method: String, args: Seq[Expression] = children,
      returnNullable: Boolean = false, propagateNull: Boolean = true): Expression =
    if (propagateNull && args.exists(_.dataType == NullType)) Literal(null, dataType)
    else StaticInvoke(ExprKernels.getClass, dataType, method, args,
      propagateNull = propagateNull, returnNullable = returnNullable)
}

/** Manual input-type check (AbstractDataType is private[sql] in Spark 4,
  * so ExpectsInputTypes is unavailable to external packages). */
trait ArgCheck extends Expression {
  protected def argsOk: Boolean
  protected def expected: String
  override def checkInputDataTypes(): TypeCheckResult =
    if (argsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires $expected, got " +
      children.map(_.dataType.simpleString).mkString(", "))
}

trait StringArgs extends ArgCheck {
  protected def argsOk: Boolean =
    children.forall(c => c.dataType.isInstanceOf[StringType] || c.dataType == NullType)
  protected def expected = "string arguments"
}

trait StringArrayArg extends ArgCheck {
  protected def argsOk: Boolean = children.forall(_.dataType match {
    case ArrayType(_: StringType, _) | NullType => true
    case _ => false
  })
  protected def expected = "array<string>"
}

/** binary or string HTML; `ExprKernels` overloads each html method on
  * both, so the call resolves by the child's type. */
trait HtmlArg extends ArgCheck {
  protected def argsOk: Boolean = children.forall(_.dataType match {
    case BinaryType | _: StringType | NullType => true
    case _ => false
  })
  protected def expected = "binary or string input"
}

/** (array<struct<double,double>>, double, double): a point and a ring or
  * polyline. */
trait RingArgs extends ArgCheck {
  protected def argsOk: Boolean = children.map(_.dataType) match {
    case Seq(ArrayType(s: StructType, _), DoubleType, DoubleType) =>
      s.fields.length == 2 && s.fields.forall(_.dataType == DoubleType)
    case _ => false
  }
  protected def expected = "(array<struct<double,double>>, double, double)"
}

/** array<float> or array<double> vectors. A float array is read as float
  * and promoted exactly like a CAST, so primitive parquet arrays need no
  * cast projection; `isFloats` is the kernel's literal flag. */
trait VectorArgs extends ArgCheck {
  protected def argsOk: Boolean = children.forall(_.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  })
  protected def expected = "array<float> or array<double> arguments"
  protected def isFloats(e: Expression): Literal = Literal(e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  })
}

/** utf8proc-equivalent normalize + erase_fillers
  * (reference: include/adr/normalize.h:28-71). String → String. */
case class NormalizeText(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = StringType
  override lazy val replacement: Expression = call("normalizeText")
  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
  override def prettyName: String = "normalize_text"
}

/** Distinct space-free byte trigrams of a normalized string, packed into
  * 24-bit ints (reference: include/adr/ngram.h:46-54) — the blocking keys.
  * String → Array[Int]. */
case class TrigramKeys(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val replacement: Expression = call("trigramKeys")
  override protected def withNewChildInternal(newChild: Expression): TrigramKeys =
    copy(child = newChild)
  override def prettyName: String = "trigram_keys"
}

/** Codepoint-level SIFT4 (maxOffset=3, banded at min(len)/2+2 with
  * lengths in codepoints): one user typo = one edit on any script — the
  * ER accept-gate distance. The reference's scorer (include/adr/sift4.h:
  * 17-119, call site score.h:75-79) works on bytes; `graft.text.Sift4`
  * keeps that variant for `MatchScore`. (String, String) → Int. */
case class Sift4CpDist(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with StringArgs {
  override def dataType: DataType = IntegerType
  override lazy val replacement: Expression = call("sift4Cp")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sift4CpDist =
    copy(left = l, right = r)
  override def prettyName: String = "sift4_cp"
}

/** The ER accept gate (graft.text.AcceptGate) on two match keys:
  * struct<tok_ok, accepted>, the token-aligned gate alone and the whole
  * verdict. (String, String) → struct<boolean, boolean>. */
case class AcceptGateExpr(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with StringArgs {
  override def dataType: DataType = StructType(Seq(
    StructField("tok_ok", BooleanType, nullable = false),
    StructField("accepted", BooleanType, nullable = false)))
  override lazy val replacement: Expression = call("acceptGate")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AcceptGateExpr =
    copy(left = l, right = r)
  override def prettyName: String = "accept_gate"
}

/** Banded Levenshtein with the 255 overflow sentinel
  * (include/adr/score.h:15-57). (String, String) → Int. */
case class BoundedLevenshtein(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with StringArgs {
  override def dataType: DataType = IntegerType
  override lazy val replacement: Expression = call("boundedLevenshtein")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BoundedLevenshtein =
    copy(left = l, right = r)
  override def prettyName: String = "bounded_levenshtein"
}

/** Byte-based Jaro-Winkler similarity, DuckDB-compatible semantics
  * (prefix boost over 0.7). (String, String) → Double. */
case class JaroWinkler(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with StringArgs {
  override def dataType: DataType = DoubleType
  override lazy val replacement: Expression = call("jaroWinkler")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinkler =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler"
}

/** The reference's full phrase-vs-name match score
  * (include/adr/score.h:162-269). Returns NULL where the reference
  * returns kNoMatch. (rawName, normalizedPhrase) → Float. */
case class RefMatchScore(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with StringArgs {
  override def dataType: DataType = FloatType
  override lazy val replacement: Expression = call("refMatchScore", returnNullable = true)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RefMatchScore =
    copy(left = l, right = r)
  override def prettyName: String = "ref_match_score"
}

/** RefMatchScore over an ALREADY-normalized dataset name (skips the
  * internal Normalize.normalize — the caller passes a canonical match key,
  * on which normalize is the identity). (normName, normalizedPhrase) →
  * Float, NULL = kNoMatch. */
case class RefMatchScorePre(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with StringArgs {
  override def dataType: DataType = FloatType
  override lazy val replacement: Expression = call("refMatchScorePre", returnNullable = true)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RefMatchScorePre =
    copy(left = l, right = r)
  override def prettyName: String = "ref_match_score_pre"
}

/** The fused score-matrix argmin: score ONE prepared name against all the
  * query's phrases and return struct(score, pidx, bits) of the winner
  * (ties → lowest pidx — the ordering of min(struct(score, pidx, bits))),
  * NULL when every phrase is kNoMatch. One codegen'd call per
  * (candidate, query) row — no per-cell expression dispatch, no
  * interpreted HOF struct churn. children = (normName, array<string>
  * phrases, array<long> bits). */
case class RefBestPhrase(first: Expression, second: Expression, third: Expression)
    extends KernelCall with TernaryLike[Expression] with ArgCheck {
  override def dataType: DataType = StructType(Seq(
    StructField("score", FloatType, nullable = false),
    StructField("pidx", IntegerType, nullable = false),
    StructField("bits", LongType, nullable = false)))
  protected def argsOk: Boolean = children.map(_.dataType) match {
    case Seq(_: StringType, ArrayType(_: StringType, _), ArrayType(LongType, _)) => true
    case _ => false
  }
  protected def expected = "(string, array<string>, array<bigint>)"
  override lazy val replacement: Expression = call("refBestPhrase", returnNullable = true)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RefBestPhrase =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "ref_best_phrase"
}

/** Double Metaphone phonetic key (commons-codec) — the phonetic blocking
  * key family from BASELINE.json north_star. String → String (may be
  * empty for non-alphabetic input). */
case class DoubleMetaphoneKey(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = StringType
  override lazy val replacement: Expression = call("doubleMetaphone")
  override protected def withNewChildInternal(newChild: Expression): DoubleMetaphoneKey =
    copy(child = newChild)
  override def prettyName: String = "double_metaphone"
}

/** Exact point-in-polygon crossing number (reference J5 refinement,
  * /root/reference/src/area_database.cc:127-148 `tg_geom_within` after the
  * R-tree candidate pass — here the cell join supplies the candidates).
  * ring: array<struct<x:double,y:double>>; returns the number of ring
  * edges that straddle the point's y with their x-intercept to its right
  * (odd = inside). Codegen'd: one static call inside WholeStageCodegen —
  * the HOF formulation is interpreted per row and ~9× slower on the
  * 67M-pair sf0.1 candidate stream. */
case class PointInRing(first: Expression, second: Expression, third: Expression)
    extends KernelCall with TernaryLike[Expression] with RingArgs {
  override def dataType: DataType = IntegerType
  override lazy val replacement: Expression = call("crossingNumber")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PointInRing =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "point_in_ring"
}

/** Exact point-to-polyline squared distance + closest point (reference
  * reverse.cc:99-110, geo::distance_to_polyline: street hits are scored by
  * distance to the SEGMENT POLYLINE, not to a representative point).
  * Returns array<double>[3] = (min squared degree-distance, closest x,
  * closest y); min over segments is strict `<` — the first segment wins
  * ties, matching the unrolled oracle's CASE order. Same codegen-kernel
  * pattern as [[PointInRing]] (HOF lambdas are interpreted per row — far
  * too slow on a cell-join candidate stream). */
case class PolylineDist2(first: Expression, second: Expression, third: Expression)
    extends KernelCall with TernaryLike[Expression] with RingArgs {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // NULL for < 2 points (no segment)
  override lazy val replacement: Expression = call("polylineDist2", returnNullable = true)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PolylineDist2 =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "polyline_dist2"
}

/** The static entries the kernel expressions call through `StaticInvoke`,
  * one per kernel (the html kernels overload on binary and string input).
  * Each takes and returns Catalyst values; the `UTF8String`/`String`
  * conversions and the maps of a kernel's "undefined" result to NULL are
  * written here once, for interpreted and generated code alike. */
object ExprKernels {
  def normalizeText(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.Normalize.canonical(s.toString))

  def matchKey(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.MatchKeys.matchKey(s.toString))

  def trigramKeys(s: UTF8String): ArrayData =
    new GenericArrayData(graft.text.Ngrams.trigramBlockingKeys(s.toString))

  def boundedLevenshtein(l: UTF8String, r: UTF8String): Int =
    graft.text.EditDistances.boundedLevenshteinBytes(l.getBytes, r.getBytes)

  /** kNoMatch → NULL */
  private def scoreOrNull(s: Float): java.lang.Float =
    if (s == graft.text.MatchScore.NoMatch) null else java.lang.Float.valueOf(s)

  def refMatchScore(name: UTF8String, phrase: UTF8String): java.lang.Float =
    scoreOrNull(graft.text.MatchScore.matchScore(name.toString, phrase.toString))

  def refMatchScorePre(normName: UTF8String, phrase: UTF8String): java.lang.Float =
    scoreOrNull(graft.text.MatchScore.matchScorePre(normName.toString, phrase.toString))

  /** Point-to-polyline kernel; per segment the clamped projection, then
    * strict-< min — every double op in the same association as the
    * unrolled oracle SQL, so the hash check is exact. Returns NULL for
    * degenerate polylines (< 2 points: no segment exists) — the
    * expression is public/SQL-reachable, and a sentinel
    * (MaxValue, 0, 0) row would flow downstream as garbage coordinates
    * unnoticed. */
  def polylineDist2(line: ArrayData,
      px: Double, py: Double): ArrayData = {
    val n = line.numElements()
    if (n < 2) return null
    var bestD2 = Double.MaxValue
    var bestX = 0.0d
    var bestY = 0.0d
    var i = 0
    while (i < n - 1) {
      val a = line.getStruct(i, 2)
      val b = line.getStruct(i + 1, 2)
      val ax = a.getDouble(0); val ay = a.getDouble(1)
      val bx = b.getDouble(0); val by = b.getDouble(1)
      val dx = bx - ax; val dy = by - ay
      val len2 = dx * dx + dy * dy
      val t =
        if (len2 == 0.0d) 0.0d // degenerate segment = its endpoint
        else ((px - ax) * dx + (py - ay) * dy) / len2
      val tc = if (t < 0.0d) 0.0d else if (t > 1.0d) 1.0d else t
      val cx = ax + tc * dx; val cy = ay + tc * dy
      val ddx = px - cx; val ddy = py - cy
      val d2 = ddx * ddx + ddy * ddy
      if (d2 < bestD2) { bestD2 = d2; bestX = cx; bestY = cy }
      i += 1
    }
    new GenericArrayData(
      Array[Double](bestD2, bestX, bestY))
  }

  /** Crossing-number kernel; arithmetic order matches the unrolled oracle
    * SQL exactly (same double operations in the same association). */
  def crossingNumber(ring: ArrayData,
      px: Double, py: Double): Int = {
    val n = ring.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      val a = ring.getStruct(i, 2)
      val b = ring.getStruct(if (i + 1 == n) 0 else i + 1, 2)
      val ax = a.getDouble(0); val ay = a.getDouble(1)
      val bx = b.getDouble(0); val by = b.getDouble(1)
      if (((ay > py) != (by > py)) &&
        px < (bx - ax) * (py - ay) / (by - ay) + ax) cnt += 1
      i += 1
    }
    cnt
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** split on a single space keeping ALL empty tokens (leading, interior,
    * trailing) — exactly Spark's `split(str, " ")` (limit -1 /
    * Pattern.split(s, -1)) so the fused shingle kernels tokenize
    * byte-identically to the declarative pipeline they replace. */
  private def splitKeepAll(s: String): Array[String] = {
    var n = 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') n += 1; i += 1 }
    val out = new Array[String](n)
    var start = 0
    var k = 0
    i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') { out(k) = s.substring(start, i); k += 1; start = i + 1 }
      i += 1
    }
    out(k) = s.substring(start)
    out
  }

  /** UTF-8 bytes of every word-3-shingle of `norm` (tokens joined by one
    * space), in document order; null when the doc has < 3 tokens — the
    * same row-drop the declarative `filter(size(tokens) >= 3)` did. */
  private def shingleByteSeqs(norm: String): Array[Array[Byte]] = {
    val toks = splitKeepAll(norm)
    if (toks.length < 3) return null
    val out = new Array[Array[Byte]](toks.length - 2)
    var i = 0
    while (i < out.length) {
      out(i) = (toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    out
  }

  /** unsigned lexicographic byte compare — the digest order whose hex
    * encoding (monotone per byte: '0'-'9' < 'a'-'f') is exactly the
    * string order `min(md5_hex)` aggregated over. */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xFF; val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val c = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      c(2 * i) = hexDigits((d(i) >> 4) & 0xF).toByte
      c(2 * i + 1) = hexDigits(d(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(c)
  }

  /** Fused q21 MinHash signature, oracle hash family: per slot h∈[0,8),
    * min over shingles of md5(shingle || ':' || h) as lowercase hex —
    * byte-identical to the former explode→groupBy(min) pipeline (and to
    * the DuckDB oracle), computed map-side in one pass. Slot mins are
    * compared as raw digests (hex encoding is order-preserving), hex is
    * emitted 8× per doc instead of 8× per shingle. */
  def minhashMd5(norm: UTF8String): GenericArrayData = {
    val shingles = shingleByteSeqs(norm.toString)
    if (shingles == null) return null
    val md = md5Local.get()
    val best = new Array[Array[Byte]](8)
    var si = 0
    while (si < shingles.length) {
      val sb = shingles(si)
      var h = 0
      while (h < 8) {
        md.reset()
        md.update(sb)
        md.update(':'.toByte)
        md.update(('0' + h).toByte)
        val d = md.digest()
        if (best(h) == null || unsignedLess(d, best(h))) best(h) = d
        h += 1
      }
      si += 1
    }
    new GenericArrayData(best.map(hex(_): Any))
  }

  /** Fused MinHash signature, production hash family: per slot h,
    * min over shingles of Spark's xxhash64(shingle, h) — replicated
    * exactly as XXH64.hashInt(h, XXH64.hashUnsafeBytes(bytes, 42)), the
    * two-child seed chain the builtin evaluates. array<long>[8]. */
  def minhashXx(norm: UTF8String): UnsafeArrayData = {
    val shingles = shingleByteSeqs(norm.toString)
    if (shingles == null) return null
    val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    val best = new Array[Long](8)
    java.util.Arrays.fill(best, Long.MaxValue)
    var si = 0
    while (si < shingles.length) {
      val sb = shingles(si)
      val base = XXH64
        .hashUnsafeBytes(sb, off, sb.length, 42L)
      var h = 0
      while (h < 8) {
        val v = XXH64.hashInt(h, base)
        if (v < best(h)) best(h) = v
        h += 1
      }
      si += 1
    }
    UnsafeArrayData.fromPrimitiveArray(best)
  }

  /** Fused q23 shingle-set hash: sorted distinct xxhash64(shingle) longs
    * (seed 42, single-child — identical values to the builtin), the
    * map-side replacement for explode→groupBy(collect_set). */
  def shingleHashes(norm: UTF8String): UnsafeArrayData = {
    val shingles = shingleByteSeqs(norm.toString)
    if (shingles == null) return null
    val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    val hs = new Array[Long](shingles.length)
    var i = 0
    while (i < shingles.length) {
      val sb = shingles(i)
      hs(i) = XXH64
        .hashUnsafeBytes(sb, off, sb.length, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var n = 0
    var j = 0
    while (j < hs.length) {
      if (j == 0 || hs(j) != hs(j - 1)) { hs(n) = hs(j); n += 1 }
      j += 1
    }
    UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(hs, n))
  }

  /** q25 hyperplane weights as +1 bitmasks: bit (i-1) of mask j set ⇔
    * hyperplane j gives dim i weight +1 (else −1) — parity of the first
    * hex digit of md5("j:i"), the same public derivation the DuckDB
    * oracle computes in SQL (ops/Dedup.scala q25 oracle, `w` CTE). */
  private lazy val lshPlusMasks: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(32) { j =>
      var m = 0L
      var i = 1
      while (i <= 64) {
        val h = md.digest(s"$j:$i".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xF) % 2 == 1) m |= 1L << (i - 1)
        i += 1
      }
      m
    }
  }

  /** One-pass 32-bit hyperplane signature → 8 packed 4-bit band values.
    * Coordinates are integer-quantized (floor(x·10⁶) as long) before the
    * dot product, so the sum is exact and association-free — Spark and
    * DuckDB's unordered SUM can never disagree on a near-zero sign. */
  def lshBandVals(v: ArrayData,
      isFloat: Boolean): UnsafeArrayData = {
    val n = v.numElements()
    require(n >= 64, s"lsh_band_vals requires 64-dim embeddings, got $n")
    val q = new Array[Long](64)
    var i = 0
    while (i < 64) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      q(i) = math.floor(x * 1e6).toLong
      i += 1
    }
    val out = new Array[Int](8)
    var j = 0
    while (j < 32) {
      val m = lshPlusMasks(j)
      var dot = 0L
      var k = 0
      while (k < 64) {
        dot += (if ((m & (1L << k)) != 0L) q(k) else -q(k))
        k += 1
      }
      if (dot > 0L) out(j >> 2) |= 1 << (j & 3)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The band counts codepoints, as the distance does (`String.length`
    * would count an astral-plane codepoint twice). */
  def sift4Cp(l: UTF8String, r: UTF8String): Int =
    graft.text.AcceptGate.sift4(l.toString.codePoints.toArray, r.toString.codePoints.toArray)

  def acceptGate(l: UTF8String, r: UTF8String): InternalRow = {
    val a = new graft.text.AcceptGate.Key(l.toString)
    val b = new graft.text.AcceptGate.Key(r.toString)
    new GenericInternalRow(Array[Any](
      graft.text.AcceptGate.tokensClose(a, b), graft.text.AcceptGate.verdict(a, b) >= 0))
  }

  def jaroWinkler(l: UTF8String, r: UTF8String): Double =
    graft.text.EditDistances.jaroBytesWinkler(l.getBytes, r.getBytes)

  def htmlText(html: Array[Byte]): UTF8String =
    UTF8String.fromString(graft.text.Html.extractTextBytes(html))
  def htmlText(html: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.Html.extractText(html.toString))

  def htmlLinks(html: Array[Byte]): ArrayData = utf8Array(graft.text.Html.extractLinksBytes(html))
  def htmlLinks(html: UTF8String): ArrayData = utf8Array(graft.text.Html.extractLinks(html.toString))

  private def utf8Array(ss: Array[String]): ArrayData =
    new GenericArrayData(ss.map(UTF8String.fromString(_): Any))

  /** Fused best-phrase kernel (see RefBestPhrase). */
  def refBestPhrase(name: UTF8String,
      phrases: ArrayData,
      bits: ArrayData):
      InternalRow = {
    val n = phrases.numElements()
    val ps = new Array[String](n)
    var i = 0
    while (i < n) {
      ps(i) = if (phrases.isNullAt(i)) null else phrases.getUTF8String(i).toString
      i += 1
    }
    val scoreOut = new Array[Float](1)
    val idx = graft.text.MatchScore.bestPhrase(name.toString, ps, scoreOut)
    if (idx < 0) null
    else new GenericInternalRow(
      Array[Any](scoreOut(0), idx, bits.getLong(idx)))
  }

  private val metaphone = {
    val m = new org.apache.commons.codec.language.DoubleMetaphone
    m.setMaxCodeLen(6)
    m
  }

  /** "" for input without a code */
  def doubleMetaphone(s: UTF8String): UTF8String = {
    val code = metaphone.doubleMetaphone(s.toString)
    if (code == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(code)
  }

  /** NULL components format as empty ones. */
  def formatAddress(houseNumber: UTF8String, road: UTF8String, postcode: UTF8String,
      city: UTF8String, country: UTF8String, countryCode: UTF8String): UTF8String = {
    def str(u: UTF8String) = if (u == null) "" else u.toString
    UTF8String.fromString(graft.text.Formatter.format(graft.text.Formatter.Address(
      houseNumber = str(houseNumber), road = str(road), postcode = str(postcode),
      city = str(city), country = str(country), countryCode = str(countryCode))))
  }

  /** NULL where the cosine is NaN: length mismatch, zero norm, NaN input.
    * aFloat/bFloat: element type of each side (float arrays read straight
    * from parquet stay primitive UnsafeArrayData — no cast projection, no
    * boxing; values are promoted to double exactly like a CAST). */
  def cosineSim(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val c = cosine(a, aFloat, b, bFloat)
    if (c.isNaN) null else java.lang.Double.valueOf(c)
  }

  private def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return Double.NaN
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) return Double.NaN
    dot / math.sqrt(na * nb)
  }

  /** Codepoint counts per Unicode script range, one fused pass — the
    * script gate for language-ID (CJK and other non-Latin scripts are
    * identified by script dominance, not trigram profiles; the n-gram
    * regime differs there). Slots:
    * 0 latin (ASCII letters + Latin-1/Extended-A letters, × ÷ excluded),
    * 1 cyrillic, 2 greek, 3 arabic, 4 hebrew, 5 devanagari, 6 thai,
    * 7 hangul (syllables + jamo + compat jamo), 8 hiragana, 9 katakana,
    * 10 han (unified + ext A). Surrogate-pair safe. */
  def scriptCounts(u: UTF8String): UnsafeArrayData = {
    val s = u.toString
    val c = new Array[Int](11)
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      val slot =
        if ((cp >= 0x41 && cp <= 0x5A) || (cp >= 0x61 && cp <= 0x7A) ||
          (cp >= 0xC0 && cp <= 0x17F && cp != 0xD7 && cp != 0xF7)) 0
        else if (cp >= 0x400 && cp <= 0x4FF) 1
        else if (cp >= 0x370 && cp <= 0x3FF) 2
        else if (cp >= 0x600 && cp <= 0x6FF) 3
        else if (cp >= 0x590 && cp <= 0x5FF) 4
        else if (cp >= 0x900 && cp <= 0x97F) 5
        else if (cp >= 0xE00 && cp <= 0xE7F) 6
        else if ((cp >= 0xAC00 && cp <= 0xD7A3) || (cp >= 0x1100 && cp <= 0x11FF) ||
          (cp >= 0x3130 && cp <= 0x318F)) 7
        else if (cp >= 0x3040 && cp <= 0x309F) 8
        else if (cp >= 0x30A0 && cp <= 0x30FF) 9
        else if ((cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF)) 10
        else -1
      if (slot >= 0) c(slot) += 1
    }
    UnsafeArrayData.fromPrimitiveArray(c)
  }

  private val AreaNoMatch = 1e9d

  /** Per-token numeric rule of the area fold (reference normalize.h:192-206
    * via the phrase's numeric_tokens_mask): every space-separated token
    * must be majority-digits — 2·digits ≥ codepoints, empty tokens pass —
    * exactly `forall(split(s, " "), t => 2*len(digits(t)) >= len(t))`. */
  def isNumericPhrase(s: String): Boolean = {
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        var d = 0
        var n = 0
        var j = start
        while (j < i) {
          val cp = s.codePointAt(j)
          j += Character.charCount(cp)
          n += 1
          if (cp >= '0' && cp <= '9') d += 1
        }
        if (2 * d < n) return false
        start = i + 1
      }
      i += 1
    }
    true
  }

  /** The fused greedy multi-language area-assembly fold — byte-identical
    * to the interpreted Catalyst HOF it replaces
    * ([[graft.ops.Extras.greedyAreaAssemblyMLHof]]; reference
    * get_suggestions.cc:181-255 + activate_areas :88-104). One generated
    * loop per row instead of a per-(phrase, area, lang) interpreted
    * expression tree: phrases fold IN ORDER; a phrase whose bits overlap
    * the token mask is skipped; otherwise the argmin (strict `<`: first
    * area, then first language, wins ties) over allowed areas accumulates
    * masks, the score minus the pop bonus (pop·2/1e7), and the winning
    * 1-based USER-language-list index into the area's nibble (overwrite).
    * Zip-level areas (level 12) only compete for all-numeric phrases.
    * Null handling: null array elements and null name/level/pop fields
    * make that element NON-MATCHING (an area with a null pop simply does
    * not compete — the HOF spec instead poisons the whole accumulator
    * with null there, a divergence pinned in ExtrasSpec; no data path
    * produces null pops); null `phrases`/`areas`/`langs` or an empty
    * `areas` yield the init accumulator; a null `initMask` reads as 0
    * (the HOF yields an all-null struct — same class of divergence, SQL
    * reachable only). Nibble packing bounds area sets at 16 (the
    * reference's area_set_lang_t is a fixed small array,
    * guess_context.h:43-46) — MORE THAN 16 AREAS FAILS LOUD rather than
    * silently dropping matches past index 15 (the HOF's own mask/nibble
    * shifts are equally undefined there).
    *
    * Field ordinals are resolved by the [[AreaFold]] expression from the
    * actual struct layouts (the phrase struct may carry extra fields, e.g.
    * `is_num` in the suggest pipeline — ignored here, the rule is
    * recomputed from the string exactly like the HOF did). */
  def areaFold(
      phrases: ArrayData, pFields: Int, pS: Int, pBits: Int,
      areas: ArrayData, aFields: Int,
      aNames: Int, aLevel: Int, aPop: Int, levelIsLong: Boolean, popIsInt: Boolean,
      nFields: Int, nName: Int, nLang: Int,
      langs: ArrayData,
      initMask: Long): InternalRow = {
    var tok = initMask
    var amask = 0L
    var dist = 0.0d
    var alang = 0L
    val nP = if (phrases == null) 0 else phrases.numElements()
    val nA = if (areas == null) 0 else areas.numElements()
    val nL = if (langs == null) 0 else langs.numElements()
    if (nA > 16)
      throw new IllegalArgumentException(
        s"area_fold: area set has $nA elements; the nibble-packed " +
          "accumulator (reference area_set_lang_t, guess_context.h:43-46) " +
          "bounds area sets at 16 — pre-rank or split the chain")
    var pi = 0
    while (pi < nP) {
      if (!phrases.isNullAt(pi)) {
        val p = phrases.getStruct(pi, pFields)
        if (!p.isNullAt(pS) && !p.isNullAt(pBits)) {
          val s = p.getUTF8String(pS)
          val bits = p.getLong(pBits)
          // the HOF scored every phrase and discarded gated ones; skipping
          // the scoring under the gate is result-identical, strictly cheaper
          if ((bits & tok) == 0L) {
            val sLen = s.numChars()
            var isNumComputed = false
            var isNum = false
            var bestScore = AreaNoMatch
            var bestIdx = -1 // 0-based area index of the argmin
            var bestLidx = 0 // 1-based user-language index of the winner
            var ai = 0
            while (ai < nA) {
              if (!areas.isNullAt(ai)) {
                val a = areas.getStruct(ai, aFields)
                if (!a.isNullAt(aLevel) && !a.isNullAt(aNames) &&
                  !a.isNullAt(aPop)) {
                  val level =
                    if (levelIsLong) a.getLong(aLevel) else a.getInt(aLevel).toLong
                  var allowed = true
                  if (level == 12L) { // F9 gate: zip areas need numeric phrases
                    if (!isNumComputed) {
                      isNum = isNumericPhrase(s.toString)
                      isNumComputed = true
                    }
                    allowed = isNum
                  }
                  if (allowed) {
                    val names = a.getArray(aNames)
                    val nN = names.numElements()
                    var li = 0
                    while (li < nL) {
                      if (!langs.isNullAt(li)) {
                        val lg = langs.getUTF8String(li)
                        // first name in the area's list with this language
                        var nm: UTF8String = null
                        var ni = 0
                        while (ni < nN && nm == null) {
                          if (!names.isNullAt(ni)) {
                            val nmS = names.getStruct(ni, nFields)
                            if (!nmS.isNullAt(nLang) && !nmS.isNullAt(nName) &&
                              nmS.getUTF8String(nLang).equals(lg))
                              nm = nmS.getUTF8String(nName)
                          }
                          ni += 1
                        }
                        if (nm != null) {
                          val lev = s.levenshteinDistance(nm) // builtin parity
                          if (lev * 2 <= math.min(sLen, nm.numChars())) {
                            val sc = lev.toDouble
                            if (sc < bestScore) { // strict <: first (area, lang) wins
                              bestScore = sc
                              bestIdx = ai
                              bestLidx = li + 1
                            }
                          }
                        }
                      }
                      li += 1
                    }
                  }
                }
              }
              ai += 1
            }
            if (bestIdx >= 0) { // nA <= 16 enforced above, so bestIdx < 16
              val bestArea = areas.getStruct(bestIdx, aFields)
              val pop = // null pop excluded from the argmin above
                if (popIsInt) bestArea.getInt(aPop).toDouble
                else bestArea.getLong(aPop).toDouble
              tok |= bits
              amask |= 1L << bestIdx
              dist = dist + bestScore - pop * 2.0d / 1e7
              val nib = 4 * bestIdx
              alang = (alang & ~(15L << nib)) | (bestLidx.toLong << nib)
            }
          }
        }
      }
      pi += 1
    }
    new GenericInternalRow(
      Array[Any](tok, amask, dist, alang))
  }

  /** Distinct space-free character trigrams in one pass (the string-typed
    * sibling of TrigramKeys; used where the output must be the gram text).
    * O(n) — the `transform(sequence, substr)` formulation is O(n²) on long
    * documents because UTF8String.substring re-scans from the start. */
  def trigramStrings(u: UTF8String): ArrayData = {
    val s = u.toString
    val n = s.length
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= n - 3) {
      if (s.charAt(i) != ' ' && s.charAt(i + 1) != ' ' && s.charAt(i + 2) != ' ')
        seen.add(s.substring(i, i + 3))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Fused q59 winnowing selection — per document, entirely map-side:
    * window fingerprints fp(p) = md5_hex(tokens[p..p+W-1] joined by " ")
    * for every 1-based window start p; then the winnowing selection
    * m(p) = min over q ∈ [p, min(p+K-1, last)] of struct(fp(q), q)
    * (lexicographic — hex compare == unsigned digest compare, pos breaks
    * digest ties); then per distinct selected fp the minimum selected
    * pos. Byte-identical to the declarative
    * explode → min(struct) OVER (doc ROWS 0..K-1) → groupBy(doc, fp)
    * min(pos) pipeline it replaces — but with ZERO exchange: the former
    * shape shuffled every window hash of the corpus by doc_id just to
    * run a per-doc sliding min, which at 100 TB is a full-corpus shuffle
    * for a computation that never leaves the row. Returns null for docs
    * with fewer than W tokens (the declarative filter's row drop); null
    * elements are skipped, not counted. */
  def winnowFps(toks: ArrayData,
      w: Int, k: Int): GenericArrayData = {
    // the windows run over the non-null subsequence
    val total = toks.numElements()
    val tokBytes = new Array[Array[Byte]](total)
    var n = 0
    var i = 0
    while (i < total) {
      if (!toks.isNullAt(i)) {
        tokBytes(n) = toks.getUTF8String(i).getBytes
        n += 1
      }
      i += 1
    }
    if (n < w) return null
    val nw = n - w + 1
    // window digests (16-byte md5 of the UTF-8 window text)
    val md = md5Local.get()
    val digests = new Array[Array[Byte]](nw)
    var p = 0
    while (p < nw) {
      md.reset()
      var j = 0
      while (j < w) {
        if (j > 0) md.update(' '.toByte)
        md.update(tokBytes(p + j))
        j += 1
      }
      digests(p) = md.digest()
      p += 1
    }
    // winnowing selection + per-fp min selected pos in one pass
    val minPos = new java.util.LinkedHashMap[UTF8String, Integer]()
    p = 0
    while (p < nw) {
      var bestQ = p
      var q = p + 1
      val hi = math.min(p + k - 1, nw - 1)
      while (q <= hi) {
        // strictly-less keeps the earliest position on digest ties —
        // exactly min(struct(fp, pos)) over the frame
        if (unsignedLess(digests(q), digests(bestQ))) bestQ = q
        q += 1
      }
      val key = hex(digests(bestQ))
      val pos = bestQ + 1 // 1-based, as the declarative sequence(1, ...)
      val prev = minPos.get(key)
      if (prev == null || pos < prev.intValue())
        minPos.put(key, Integer.valueOf(pos))
      p += 1
    }
    val out = new Array[Any](minPos.size)
    val it = minPos.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(
        e.getKey, e.getValue.intValue())
      i += 1
    }
    new GenericArrayData(out)
  }

  /** gram → bitmask over graft.text.LangProfiles.all (bit i = slot i's
    * language contains the gram; a few grams belong to several languages
    * — "que" fr/pt, "den"/"gen" de/sv — hence a mask, not an index). */
  private lazy val profileMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    graft.text.LangProfiles.all.zipWithIndex.foreach { case ((_, prof), i) =>
      prof.foreach { g =>
        val k = UTF8String.fromString(g)
        val prev = m.get(k)
        m.put(k, Integer.valueOf(
          (if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }

  /** Per-language profile hit counts over a distinct-trigram array — the
    * fused replacement for 16 interpreted `size(filter(tris, isin(prof)))`
    * HOF trees per document (the RefBestPhrase/AreaFold lesson, third
    * instance): ONE hash probe per trigram against the static gram→mask
    * table, counts identical to the per-language filter sizes because the
    * input trigram set is distinct. Slot order = LangProfiles.all. */
  def profileHits(tris: ArrayData)
      : UnsafeArrayData = {
    val c = new Array[Int](graft.text.LangProfiles.all.size)
    val n = tris.numElements()
    var i = 0
    while (i < n) {
      val msk = profileMask.get(tris.getUTF8String(i))
      if (msk != null) {
        var b = msk.intValue()
        while (b != 0) {
          c(Integer.numberOfTrailingZeros(b)) += 1
          b &= b - 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(c)
  }
}

/** Canonical match key: normalize + erase_fillers + synonym/postfix alt
  * expansion to the long form (graft.text.MatchKeys). String → String. */
case class MatchKey(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = StringType
  override lazy val replacement: Expression = call("matchKey")
  override protected def withNewChildInternal(newChild: Expression): MatchKey =
    copy(child = newChild)
  override def prettyName: String = "match_key"
}

/** Fused cosine similarity over two double arrays: one pass computing
  * dot, |a|², |b|² (no intermediate array allocation — the HOF chain
  * zip_with+aggregate costs ~10x more per pair). NULL if either side is
  * null or lengths differ. */
case class CosineSim(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with VectorArgs {
  override def dataType: DataType = DoubleType
  override lazy val replacement: Expression = call("cosineSim",
    Seq(left, isFloats(left), right, isFloats(right)), returnNullable = true)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Distinct space-free character trigram strings — one pass, O(n).
  * String → Array[String]. The blocking-key sibling returning the gram
  * *text* (TrigramKeys returns packed ints). */
case class TrigramStrings(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override lazy val replacement: Expression = call("trigramStrings")
  override protected def withNewChildInternal(newChild: Expression): TrigramStrings =
    copy(child = newChild)
  override def prettyName: String = "trigram_strings"
}

/** Per-script codepoint counts (ExprKernels.scriptCounts): the fused
  * one-pass script gate for language-ID — returns array<int>[11],
  * primitive (UnsafeArrayData), fully codegen'd. */
case class ScriptCounts(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val replacement: Expression = call("scriptCounts")
  override protected def withNewChildInternal(newChild: Expression): ScriptCounts =
    copy(child = newChild)
  override def prettyName: String = "script_counts"
}

/** Fused winnowing fingerprint selection (ExprKernels.winnowFps):
  * token array → array<struct<fp: string, pos: int>> of the selected
  * window fingerprints with their earliest selected 1-based positions;
  * null below W non-null tokens (null elements are skipped). Map-side
  * replacement for the explode → sliding-min window → groupBy selection
  * pipeline of q59. */
case class WinnowFps(child: Expression, w: Int, k: Int)
    extends KernelCall with UnaryLike[Expression] with StringArrayArg {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("fp", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false))), containsNull = false)
  override lazy val replacement: Expression =
    call("winnowFps", Seq(child, Literal(w), Literal(k)), returnNullable = true)
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
  override def prettyName: String = "winnow_fps"
}

/** Per-language profile-trigram hit counts (ExprKernels.profileHits):
  * array<string> (distinct trigrams) → array<int>[#languages], primitive
  * (UnsafeArrayData), fully codegen'd — q28's trigram-profile scoring as
  * one generated pass instead of per-language interpreted filter HOFs. */
case class ProfileHits(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArrayArg {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val replacement: Expression = call("profileHits")
  override protected def withNewChildInternal(newChild: Expression): ProfileHits =
    copy(child = newChild)
  override def prettyName: String = "profile_hits"
}

/** Fused MinHash signature over normalized text (oracle md5-hex family):
  * ExprKernels.minhashMd5 — word-3-shingles, 8 slot mins, one map-side
  * pass; NULL for docs under 3 tokens (the declarative filter's row
  * drop). Replaces an explode(shingles×8)→groupBy(doc,h) exchange with
  * zero shuffle. String → array<string>[8]. */
case class MinhashMd5(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override lazy val replacement: Expression = call("minhashMd5", returnNullable = true)
  override protected def withNewChildInternal(newChild: Expression): MinhashMd5 =
    copy(child = newChild)
  override def prettyName: String = "minhash_md5"
}

/** Fused MinHash signature, production hash family (Spark-chained
  * xxhash64 longs, ExprKernels.minhashXx). String → array<bigint>[8]. */
case class MinhashXx(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override lazy val replacement: Expression = call("minhashXx", returnNullable = true)
  override protected def withNewChildInternal(newChild: Expression): MinhashXx =
    copy(child = newChild)
  override def prettyName: String = "minhash_xx"
}

/** Fused distinct shingle-hash set (sorted xxhash64 longs,
  * ExprKernels.shingleHashes) — the q23/verifyJaccard per-doc set without
  * the explode→collect_set exchange. String → array<bigint>. */
case class ShingleHashes(child: Expression)
    extends KernelCall with UnaryLike[Expression] with StringArgs {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override lazy val replacement: Expression = call("shingleHashes", returnNullable = true)
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes"
}

/** q25 random-hyperplane LSH signature, fused: 32 quantized ±1-weight
  * dot products (md5-parity weights — bit-identical to the DuckDB
  * oracle's independent derivation) packed into 8 4-bit band values in
  * ONE pass over the 64-dim embedding (ExprKernels.lshBandVals). Replaces
  * a 32×64 `aggregate` HOF tree — the dominant scalar cost of the
  * embedding near-dup scan. array<float|double>[64] → array<int>[8]. */
case class LshBandVals(child: Expression)
    extends KernelCall with UnaryLike[Expression] with VectorArgs {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val replacement: Expression = call("lshBandVals", Seq(child, isFloats(child)))
  override protected def withNewChildInternal(newChild: Expression): LshBandVals =
    copy(child = newChild)
  override def prettyName: String = "lsh_band_vals"
}

/** HTML → visible text ([[graft.text.Html]]): one-pass tag strip with
  * script/style/comment skipping, character-reference decode, and
  * whitespace collapse — the ingestion step for the input_hint's
  * `html: binary` page column (the per-url `text` the rest of the
  * pipeline consumes is exactly this extraction). binary|string →
  * string, codegen-friendly like every other text kernel. */
case class HtmlText(child: Expression)
    extends KernelCall with UnaryLike[Expression] with HtmlArg {
  override def dataType: DataType = StringType
  override lazy val replacement: Expression = call("htmlText")
  override protected def withNewChildInternal(newChild: Expression): HtmlText =
    copy(child = newChild)
  override def prettyName: String = "html_text"
}

/** Outlink extraction ([[graft.text.Html.extractLinks]]): `<a href>`
  * values in document order, comment/script/style bodies excluded.
  * binary|string → array<string>. */
case class HtmlLinks(child: Expression)
    extends KernelCall with UnaryLike[Expression] with HtmlArg {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override lazy val replacement: Expression = call("htmlLinks")
  override protected def withNewChildInternal(newChild: Expression): HtmlLinks =
    copy(child = newChild)
  override def prettyName: String = "html_links"
}

/** Per-country address formatting (reference formatter.cc:87-159, X14).
  * children = (house_number, road, postcode, city, country, country_code),
  * all strings. NULL inputs are treated as empty components, so the
  * result is never NULL. */
case class FormatAddress(children: Seq[Expression])
    extends KernelCall with StringArgs {
  require(children.size == 6, "format_address takes 6 arguments")
  override def dataType: DataType = StringType
  override lazy val replacement: Expression = call("formatAddress",
    children.map(c => if (c.dataType == NullType) Literal(null, StringType) else c),
    propagateNull = false)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FormatAddress = copy(children = newChildren)
  override def prettyName: String = "format_address"
}

/** The fused A6 greedy multi-language area-assembly fold (reference
  * get_suggestions.cc:181-255 + activate_areas :88-104) — the codegen
  * replacement for the interpreted `aggregate`/`transform`/`levenshtein`
  * HOF tree (Catalyst HOF lambdas evaluate interpreted per row; this fold
  * sits on the scored-candidate path of the suggest pipeline, where the
  * HOF form was the dominant bench cost). Same retirement pattern as
  * [[RefBestPhrase]]: one static kernel call per row inside
  * WholeStageCodegen, byte-parity-spec'd against the HOF in ExtrasSpec.
  *
  * children = (phrases: array<struct<s: string, bits: bigint, ...>>,
  *             areas: array<struct<names: array<struct<name, lang>>,
  *                                 level: int|bigint, pop: int|bigint>>,
  *             langs: array<string>,
  *             initMask: bigint).
  * Field ordinals are resolved BY NAME from the actual struct layouts, so
  * callers may carry extra phrase fields (`is_num` etc.).
  *
  * Returns struct<tok, amask, dist, alang> — never null: null/empty
  * inputs yield the init accumulator (tok = initMask, rest zero), exactly
  * the HOF wrapper's `when(size(areas)=0 or isnull, init)` guard.
  *
  * NOTE on `alang` index space (per round-4 advice): each matched area's
  * nibble stores the 1-based position in the USER language list `langs`
  * of the winning language — NOT the reference's index into the AREA's
  * own name-language array (get_suggestions.cc activate_areas stores
  * find_lang's area-local index, which downstream C++ uses to subscript
  * area_names_). The repo-wide convention is the user-list index (oracle,
  * specs, and q39/q42 consumers all agree); consumers resolving the
  * winning NAME must do so via `langs(nibble - 1)` against the area's
  * names list, not by subscripting names[nibble - 1]. */
case class AreaFold(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends KernelCall with QuaternaryLike[Expression] {
  override def dataType: DataType = StructType(Seq(
    StructField("tok", LongType, nullable = false),
    StructField("amask", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false),
    StructField("alang", LongType, nullable = false)))
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(p: StructType, _), ArrayType(a: StructType, _),
          ArrayType(_: StringType, _), LongType) =>
        def has(s: StructType, n: String, ok: DataType => Boolean): Boolean =
          s.fields.find(_.name == n).exists(f => ok(f.dataType))
        val pOk = has(p, "s", _.isInstanceOf[StringType]) && has(p, "bits", _ == LongType)
        val aOk = has(a, "level", t => t == IntegerType || t == LongType) &&
          has(a, "pop", t => t == IntegerType || t == LongType) &&
          has(a, "names", {
            case ArrayType(n: StructType, _) =>
              has(n, "name", _.isInstanceOf[StringType]) &&
                has(n, "lang", _.isInstanceOf[StringType])
            case _ => false
          })
        if (!pOk) fail(s"phrases needs struct<s: string, bits: bigint>, got ${p.simpleString}")
        else if (!aOk) fail("areas needs struct<names: array<struct<name, lang>>, " +
          s"level: int|bigint, pop: int|bigint>, got ${a.simpleString}")
        else TypeCheckResult.TypeCheckSuccess
      case other =>
        fail("requires (array<struct>, array<struct>, array<string>, bigint), got " +
          other.productIterator.map(_.asInstanceOf[DataType].simpleString).mkString(", "))
    }
  }

  /** Null arrays reach the kernel as null and a null `initMask` as 0, so
    * the fold never returns NULL; the field layout is resolved by name
    * once, into literal ordinals. */
  override lazy val replacement: Expression = {
    def elem(t: DataType) = t.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    def ordinals(s: StructType, fields: String*) = (s.size +: fields.map(s.fieldIndex)).map(Literal(_))
    val (p, a) = (elem(first.dataType), elem(second.dataType))
    call("areaFold", Seq(first) ++ ordinals(p, "s", "bits") ++
      Seq(second) ++ ordinals(a, "names", "level", "pop") ++
      Seq(Literal(a("level").dataType == LongType), Literal(a("pop").dataType == IntegerType)) ++
      ordinals(elem(a("names").dataType), "name", "lang") ++
      Seq(third, Coalesce(Seq(fourth, Literal(0L)))), propagateNull = false)
  }

  override protected def withNewChildrenInternal(first: Expression, second: Expression,
      third: Expression, fourth: Expression): AreaFold =
    copy(first = first, second = second, third = third, fourth = fourth)
  override def prettyName: String = "area_fold"
}

/** Exactly-once candidate-pair emission for one blocking key
  * (er.Pipeline's blocking): a generator over (key: bigint, members:
  * array<struct<id: bigint, keys: array<bigint>>>). Walks members i < j
  * only and emits (src, dst) = (least(id), greatest(id)) iff
  * min(keys(a) ∩ keys(b)) = key. A pair sits in the block of every key
  * its members share, so exactly one block — the smallest shared key's —
  * emits it: canonical-block ownership, the prefix-filter dedup of Fuzzy
  * Joins Using MapReduce (ICDE 2012).
  *
  * Members that also carry (match_key: string, freq: bigint) get each
  * owned pair verified where it is born: the row adds the accept gate's
  * verdict on (src's key, dst's key) (graft.text.AcceptGate) as
  * `accepted`, the pair's SIFT4 distance as `sift` (null when rejected),
  * and both frequencies as `src_freq`/`dst_freq`.
  *
  * Null members, null ids, null match keys or frequencies and null key
  * elements are skipped. Rows are produced lazily into one reused row
  * (GenerateExec projects each row before pulling the next), so a
  * 256-member block never materializes its 32 640 candidates. */
case class BlockPairs(key: Expression, members: Expression)
    extends Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(key, members)

  /** The members carry match keys and frequencies: the walk verifies. */
  private def verifies: Boolean = members.dataType match {
    case ArrayType(s: StructType, _) => s.length == 4
    case _ => false
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)) ++ (if (!verifies) Nil else Seq(
    StructField("accepted", BooleanType, nullable = false),
    StructField("sift", IntegerType, nullable = true),
    StructField("src_freq", LongType, nullable = false),
    StructField("dst_freq", LongType, nullable = false))))

  override def checkInputDataTypes(): TypeCheckResult =
    (key.dataType, members.dataType) match {
      case (LongType, ArrayType(StructType(Array(
          StructField(_, LongType, _, _), StructField(_, ArrayType(LongType, _), _, _))), _)) |
          (LongType, ArrayType(StructType(Array(
          StructField(_, LongType, _, _), StructField(_, ArrayType(LongType, _), _, _),
          StructField(_, _: StringType, _, _), StructField(_, LongType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (bigint, array<struct<id: bigint, keys: " +
            s"array<bigint>>>) or (bigint, array<struct<id: bigint, keys: " +
            s"array<bigint>, match_key: string, freq: bigint>>), got " +
            s"${key.dataType.simpleString}, ${members.dataType.simpleString}")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val k = key.eval(input)
    val ms = members.eval(input).asInstanceOf[ArrayData]
    if (k == null || ms == null) Iterator.empty
    else BlockPairs.owned(k.asInstanceOf[Long], ms, verifies)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BlockPairs =
    copy(key = newChildren(0), members = newChildren(1))
  override def prettyName: String = "block_pairs"
}

object BlockPairs {
  import graft.text.AcceptGate

  /** min(a ∩ b), Long.MaxValue when disjoint — nested loops: the sets
    * are a string's few ownership keys, too small to be worth sorting */
  private def minShared(a: Array[Long], b: Array[Long]): Long = {
    var best = Long.MaxValue
    var i = 0
    while (i < a.length) {
      val x = a(i)
      if (x < best) {
        var j = 0
        while (j < b.length && b(j) != x) j += 1
        if (j < b.length) best = x
      }
      i += 1
    }
    best
  }

  private def owned(key: Long, ms: ArrayData, verifies: Boolean): Iterator[InternalRow] = {
    val width = if (verifies) 4 else 2
    val ids = Array.newBuilder[Long]
    val keys = Array.newBuilder[Array[Long]]
    val gateKeys = Array.newBuilder[AcceptGate.Key]
    val freqs = Array.newBuilder[Long]
    var m = 0
    while (m < ms.numElements()) {
      if (!ms.isNullAt(m)) {
        val member = ms.getStruct(m, width)
        if (!member.isNullAt(0) &&
            !(verifies && (member.isNullAt(2) || member.isNullAt(3)))) {
          ids += member.getLong(0)
          keys += (if (member.isNullAt(1)) Array.emptyLongArray else {
            val ks = member.getArray(1)
            (0 until ks.numElements()).filterNot(ks.isNullAt).map(ks.getLong).toArray
          })
          if (verifies) {
            gateKeys += new AcceptGate.Key(member.getUTF8String(2).toString)
            freqs += member.getLong(3)
          }
        }
      }
      m += 1
    }
    val id = ids.result()
    val ks = keys.result()
    val gk = gateKeys.result()
    val freq = freqs.result()
    val row = new SpecificInternalRow(
      if (verifies) Seq(LongType, LongType, BooleanType, IntegerType, LongType, LongType)
      else Seq(LongType, LongType))
    new Iterator[InternalRow] {
      private var i = 0
      private var j = 0
      private var ready = false
      /** moves (i, j) to the next owned pair; false when exhausted */
      private def seek(): Boolean = {
        while (i < id.length) {
          j += 1
          if (j >= id.length) { i += 1; j = i }
          else if (id(i) != id(j) && minShared(ks(i), ks(j)) == key) return true
        }
        false
      }
      override def hasNext: Boolean = ready || { ready = seek(); ready }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        ready = false
        val (s, d) = if (id(i) < id(j)) (i, j) else (j, i)
        row.setLong(0, id(s))
        row.setLong(1, id(d))
        if (verifies) {
          val sift = AcceptGate.verdict(gk(s), gk(d))
          row.setBoolean(2, sift >= 0)
          if (sift >= 0) row.setInt(3, sift) else row.setNullAt(3)
          row.setLong(4, freq(s))
          row.setLong(5, freq(d))
        }
        row
      }
    }
  }
}
