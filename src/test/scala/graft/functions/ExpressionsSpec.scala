package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.{functions => gf}

  private val samples = Seq(
    "Landwehrstraße", "Groß-Umstadt An der Pfalz", "Индже войвода",
    "hauptbahnhof darmstadt", "", "a", "ab", "x  y,,z", "STRAẞE 12/3",
    "ж.к. П. Р. Славейков", "bl. 26", null)

  test("expressions match pure functions row-by-row (interpreted + codegen)") {
    import spark.implicits._
    val df = samples.toDF("s")
    val got = df.select(
      $"s",
      gf.normalize_text($"s").as("canon"),
      gf.normalize_raw($"s").as("norm"),
      gf.trigram_keys(gf.normalize_text($"s")).as("tris"),
      gf.bigram_keys(gf.normalize_raw($"s")).as("bis"),
      gf.double_metaphone($"s").as("dm")
    ).collect()
    got.foreach { row =>
      val s = row.getString(0)
      if (s == null) {
        assert(row.isNullAt(1) && row.isNullAt(2))
      } else {
        assert(row.getString(1) == graft.text.Normalize.canonical(s))
        assert(row.getString(2) == graft.text.Normalize.normalize(s))
        assert(row.getSeq[Int](3) ==
          graft.text.Ngrams.trigramBlockingKeys(graft.text.Normalize.canonical(s)).toSeq)
        assert(row.getSeq[Int](4) ==
          graft.text.Ngrams.bigrams(graft.text.Normalize.normalize(s)).distinct.sorted.toSeq)
      }
    }
  }

  test("binary scorers match pure functions") {
    import spark.implicits._
    val pairs = Seq(
      ("darmstadt", "damrstadt"), ("landwehrstrasse", "landwerhstrase"),
      ("abc", "xyz"), ("", ""), ("a", ""), ("индже", "инже"),
      ("hauptbahnhof", "hbf"))
    val df = pairs.toDF("a", "b")
    val got = df.select($"a", $"b",
      gf.sift4($"a", $"b").as("s4"),
      gf.bounded_levenshtein($"a", $"b").as("bl"),
      gf.jaro_winkler($"a", $"b").as("jw")).collect()
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val maxDist = math.min(a.getBytes("UTF-8").length, b.getBytes("UTF-8").length) / 2 + 2
      assert(r.getInt(2) == graft.text.Sift4.dist(a, b, 3, maxDist))
      assert(r.getInt(3) == graft.text.EditDistances.boundedLevenshtein(a, b))
      assert(r.getDouble(4) == graft.text.EditDistances.jaroWinkler(a, b))
    }
  }

  test("ref_match_score: NULL encodes kNoMatch") {
    import spark.implicits._
    val df = Seq(
      ("Darmstadt", "darmstadt"),
      ("Darmstadt,ZOB Zweifalltorweg", "darmstadt"),
      ("Bas-Rhin", "zappendorf")).toDF("name", "phrase")
    val rows = df.select(gf.ref_match_score($"name", $"phrase")).collect()
    assert(!rows(0).isNullAt(0))
    assert(!rows(1).isNullAt(0))
    assert(rows(2).isNullAt(0))
  }

  test("SQL registration works") {
    gf.registerAll(spark)
    val r = spark.sql(
      "SELECT normalize_text('Landwehrstraße') AS n, sift4('abc','acb') AS d").collect()(0)
    assert(r.getString(0) == "landwehrstrasse")
    assert(r.getInt(1) == 1)
  }

  test("property: expression == pure function on random unicode strings") {
    import spark.implicits._
    val gen = Gen.listOfN(60,
      Gen.frequency(
        8 -> Gen.alphaNumChar,
        3 -> Gen.oneOf(' ', ',', '-', '.', '(', ')'),
        2 -> Gen.oneOf('ß', 'ä', 'Ö', 'é', 'и', 'н', '水'))
    ).map(_.mkString)
    val strings = (1 to 60).flatMap(i => gen.sample)
    val df = strings.toDF("s")
    val got = df.select($"s", gf.normalize_text($"s").as("c")).collect()
    got.foreach { r =>
      assert(r.getString(1) == graft.text.Normalize.canonical(r.getString(0)))
    }
  }

  test("trigram_strings matches the built-in formulation and is distinct/space-free") {
    import spark.implicits._
    val docs = samples.filter(_ != null) ++ Seq("ab cd ef gh", "aaaa", "  ")
    val df = docs.toDF("s")
    val got = df.select($"s", gf.trigram_strings($"s").as("t")).collect()
    got.foreach { r =>
      val s = r.getString(0)
      val expected = (0 to s.length - 3)
        .map(i => s.substring(i, i + 3)).filterNot(_.contains(' ')).distinct
      assert(r.getSeq[String](1) == expected, s"input '$s'")
    }
  }

  test("cosine_sim: float arrays equal double arrays, null on mismatch") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0, 2.0, 1.0)),
      (Array(0.5f, -0.25f), Array(0.5, -0.25)),
      (Array(0.0f, 0.0f), Array(1.0, 1.0))
    ).toDF("f", "d")
    val rows = df.select(
      gf.cosine_sim($"f", $"d").as("fd"),
      gf.cosine_sim($"d", $"d").as("dd"),
      gf.cosine_sim(transform($"f", x => x.cast("double")), $"d").as("cast_fd")).collect()
    // float side promoted exactly like CAST: identical to the cast variant
    assert(rows(0).getDouble(0) == rows(0).getDouble(2))
    assert(rows(1).getDouble(0) == 1.0 && rows(1).getDouble(1) == 1.0)
    assert(rows(2).isNullAt(0)) // zero-norm side → NULL
    val mism = Seq((Array(1.0f), Array(1.0, 2.0))).toDF("f", "d")
      .select(gf.cosine_sim($"f", $"d")).collect()
    assert(mism(0).isNullAt(0)) // length mismatch → NULL
  }

  test("point_in_ring: crossing parity on a unit square (in/out/concave)") {
    import spark.implicits._
    // square (0,0)-(2,0)-(2,2)-(0,2); inside (1,1); outside (3,1) and (1,3)
    val ring = Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))
    val df = Seq((1.0, 1.0, true), (3.0, 1.0, false), (1.0, 3.0, false),
      (-0.5, 1.0, false), (0.5, 0.5, true))
      .toDF("x", "y", "expected")
      .withColumn("ring", typedLit(ring.map { case (x, y) => (x, y) })
        .cast("array<struct<x:double,y:double>>"))
    val got = df.withColumn("inside",
      gf.point_in_ring(col("ring"), col("x"), col("y")) % 2 === 1)
    assert(got.filter(col("inside") =!= col("expected")).isEmpty)
  }

  test("polyline_dist2: interior projection, endpoint clamp, first-segment " +
      "tie, degenerate segment") {
    import spark.implicits._
    // L-shaped polyline (0,0)->(4,0)->(4,4)
    val line = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0))
    val df = Seq(
      (2.0, 1.0, 1.0, 2.0, 0.0),   // interior of segment 1: closest (2,0)
      (-1.0, -1.0, 2.0, 0.0, 0.0), // clamp to start vertex (0,0)
      (5.0, 5.0, 2.0, 4.0, 4.0),   // clamp to end vertex (4,4)
      (4.0, 0.0, 0.0, 4.0, 0.0))   // ON the shared vertex: d2=0, both
                                   // segments tie -> FIRST segment's point
      .toDF("px", "py", "d2e", "cxe", "cye")
      .withColumn("line", typedLit(line.map { case (x, y) => (x, y) })
        .cast("array<struct<x:double,y:double>>"))
      .withColumn("r", gf.polyline_dist2(col("line"), col("px"), col("py")))
    val bad = df.filter(col("r").getItem(0) =!= col("d2e") ||
      col("r").getItem(1) =!= col("cxe") || col("r").getItem(2) =!= col("cye"))
    assert(bad.isEmpty, bad.collect().mkString("; "))
    // degenerate single-point segment: distance to that point
    val deg = Seq((3.0, 4.0)).toDF("px", "py")
      .withColumn("line", typedLit(Seq((0.0, 0.0), (0.0, 0.0)))
        .cast("array<struct<x:double,y:double>>"))
      .select(gf.polyline_dist2(col("line"), col("px"), col("py")).getItem(0))
      .collect()(0).getDouble(0)
    assert(deg == 25.0, s"degenerate segment dist2 $deg != 25.0")
    // < 2 points: no segment exists — must be NULL, not a sentinel row
    // of garbage coordinates (the expression is public/SQL-reachable)
    Seq(Seq((1.0, 2.0)), Seq.empty[(Double, Double)]).foreach { pts =>
      val r = Seq((3.0, 4.0)).toDF("px", "py")
        .withColumn("line", typedLit(pts).cast("array<struct<x:double,y:double>>"))
        .select(gf.polyline_dist2(col("line"), col("px"), col("py")))
        .collect()(0)
      assert(r.isNullAt(0), s"polyline with ${pts.size} point(s) must be NULL")
    }
  }

  test("GraftExtensions injects SQL functions") {
    // extensions resolve from the SparkContext static conf at session
    // build, which a shared-context test can't exercise; apply the
    // injection onto the live registry instead (same code path
    // spark-submit --conf spark.sql.extensions=graft.GraftExtensions hits)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions()(ext)
    org.apache.spark.sql.graft.Bridge.applyFunctionExtensions(
      ext, spark.sessionState.functionRegistry)
    val r = spark.sql(
      "SELECT jaro_winkler('darmstadt','damrstadt') AS jw, " +
        "trigram_strings('linden bach') AS t, " +
        "format_address('17','Rue X','31000','Toulouse','France','FR') AS f").collect()(0)
    assert(r.getDouble(0) > 0.9)
    assert(r.getSeq[String](1).head == "lin")
    assert(r.getString(2) == "17 Rue X, 31000 Toulouse, France")
  }

  test("BoundedLevenshteinRewrite: unbounded lev-vs-literal becomes banded form") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    val data = Seq(("abc", "abd"), ("abc", "xyz"), ("a", "ab"), ("same", "same"),
      (null, "x"), ("longerstring", "longerstrnig")).toDF("a", "b")
    for ((pred, tag) <- Seq(
        (levenshtein($"a", $"b") <= 1, "le"),
        (levenshtein($"a", $"b") < 2, "lt"),
        (levenshtein($"a", $"b") > 1, "gt"),
        (levenshtein($"a", $"b") >= 2, "ge"))) {
      val df = data.filter(pred)
      val analyzed = df.queryExecution.analyzed
      val rewritten = graft.plans.BoundedLevenshteinRewrite(analyzed)
      val bounded = rewritten.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case l: Levenshtein if l.threshold.isDefined => l })
      assert(bounded.nonEmpty, s"[$tag] no bounded Levenshtein after rewrite:\n$rewritten")
      val expect = df.collect().map(_.toSeq).toSet
      val got = org.apache.spark.sql.graft.Bridge.ofRows(spark, rewritten)
        .collect().map(_.toSeq).toSet
      assert(got == expect, s"[$tag] rewrite changed results: $got vs $expect")
    }
  }

  test("codegen: expressions run inside WholeStageCodegen") {
    import spark.implicits._
    val df = spark.range(100)
      .select(concat(lit("Straße "), $"id").as("a"), concat($"id", lit(" weg")).as("b"))
      .select(gf.jaro_winkler(gf.normalize_text($"a"), gf.normalize_text($"b")).as("jw"),
        gf.sift4($"a", $"b").as("s4"), gf.trigram_keys($"a").as("t"))
    val hasCodegenStage = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage, df.queryExecution.executedPlan.toString)
    // and it actually executes through the generated code
    assert(df.count() == 100)
  }

  test("codegen: two calls of one scorer in one projection compile (fresh local names)") {
    // non-nullable inputs put both null-safe bodies into one generated
    // method; fixed local names made Janino reject it with a variable
    // redefinition. Fallback off: a failed compile throws instead of
    // silently running interpreted.
    val a = col("a")
    def run(conf: (String, String)*): Array[org.apache.spark.sql.Row] = {
      val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try spark.range(200)
        .select(concat(lit("berlin "), col("id").cast("string")).as("a"),
          array(lit(1.0), col("id").cast("double")).as("v"))
        .select(
          gf.ref_match_score_pre(a, lit("berlin 1")).as("p1"),
          gf.ref_match_score_pre(a, concat(a, lit("x"))).as("p2"),
          gf.ref_match_score(a, lit("berlin 1")).as("s1"),
          gf.ref_match_score(a, concat(lit("b"), a)).as("s2"),
          gf.cosine_sim(col("v"), col("v")).as("c1"),
          gf.cosine_sim(col("v"), array(lit(2.0), lit(1.0))).as("c2"),
          gf.ref_best_phrase(a, array(lit("berlin"), a), array(lit(1L), lit(2L))).as("b1"),
          gf.ref_best_phrase(a, array(a), array(lit(3L))).as("b2"))
        .collect()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val codegen = run("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> "true")
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(codegen.length == 200)
    assert(codegen.toSeq == interpreted.toSeq, "codegen and interpreted results differ")
    assert(codegen.exists(r => !r.isNullAt(0)) && codegen.exists(r => !r.isNullAt(2)))
  }

  test("winnow_fps skips null tokens instead of throwing") {
    import spark.implicits._
    val toks = Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "a", "b")
    val df = Seq(
      (1, toks.patch(3, Seq(null), 0).patch(9, Seq(null, null), 0)),
      (2, toks.take(7) :+ null), // 7 non-null tokens: below W = 8
      (3, Seq[String](null, null))).toDF("id", "t")
    val got = df.select($"id",
      gf.winnow_fps($"t", 8, 4).as("with_nulls"),
      gf.winnow_fps(filter($"t", x => x.isNotNull), 8, 4).as("without"))
      .collect().sortBy(_.getInt(0))
    assert(got.forall(r => r.get(1) == r.get(2)),
      "null elements must be skipped, as if absent")
    assert(!got(0).isNullAt(1) && got(1).isNullAt(1) && got(2).isNullAt(1))
  }

  test("block_pairs: i < j walk emits only the pairs whose smallest shared key is the block key") {
    import spark.implicits._
    // block 5: 1/3 share {5, 9} (owner 5), 2/3 share {5} (owner 5), 1/2
    // share {3, 5} (owner 3); member 4 carries a null key element
    val block = Seq((5L, Seq((2L, Seq(5L, 3L)), (1L, Seq(3L, 5L, 9L)), (3L, Seq(9L, 5L)))))
      .toDF("key", "members")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(gf.block_pairs($"key", $"members")).as[(Long, Long)].collect().toSet
    assert(pairs(block) == Set((1L, 3L), (2L, 3L)))
    val withNull = spark.sql("SELECT 5L AS key, array(named_struct('id', 4L, 'keys', " +
      "array(5L, CAST(NULL AS BIGINT))), named_struct('id', 1L, 'keys', array(3L, 5L))) AS members")
    assert(pairs(withNull) == Set((1L, 4L)))
    assert(pairs(Seq((1L, Seq.empty[(Long, Seq[Long])])).toDF("key", "members")).isEmpty)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, Seq((1L, Seq(1))))).toDF("key", "members")
        .select(gf.block_pairs($"key", $"members")).collect()
    }
    assert(bad.getMessage.contains("block_pairs"))
  }
}
