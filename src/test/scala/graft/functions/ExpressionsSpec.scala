package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

object SparkTestSession {
  private var current: SparkSession = null

  /** The session the specs share. A spec that stops it gets a new one on
    * the next call, and so do the specs after it. */
  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      current = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      current.sparkContext.setLogLevel("WARN")
    }
    current
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
      gf.trigram_keys(gf.normalize_text($"s")).as("tris"),
      gf.double_metaphone($"s").as("dm")
    ).collect()
    got.foreach { row =>
      val s = row.getString(0)
      if (s == null) {
        assert(row.isNullAt(1) && row.isNullAt(2))
      } else {
        assert(row.getString(1) == graft.text.Normalize.canonical(s))
        assert(row.getSeq[Int](2) ==
          graft.text.Ngrams.trigramBlockingKeys(graft.text.Normalize.canonical(s)).toSeq)
      }
    }
  }

  /** `s` with each lowercase ASCII letter moved onto the astral plane
    * (U+1D41A MATHEMATICAL BOLD SMALL A …): the same codepoints, but two
    * UTF-16 units each. */
  private def astral(s: String): String = s.flatMap { c =>
    if (c >= 'a' && c <= 'z') new String(Character.toChars(0x1D41A + (c - 'a')))
    else c.toString
  }

  private val scorerPairs = Seq(
    ("darmstadt", "damrstadt"), ("landwehrstrasse", "landwerhstrase"),
    ("abc", "xyz"), ("", ""), ("a", ""), ("hauptbahnhof", "hbf"),
    ("abcdefghij", "klmnopqrst"))

  test("binary scorers match pure functions") {
    import spark.implicits._
    val df = (scorerPairs :+ ("индже", "инже")).toDF("a", "b")
    val got = df.select($"a", $"b",
      gf.sift4_cp($"a", $"b").as("s4"),
      gf.bounded_levenshtein($"a", $"b").as("bl"),
      gf.jaro_winkler($"a", $"b").as("jw")).collect()
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val cps = (s: String) => s.codePointCount(0, s.length)
      val maxDist = math.min(cps(a), cps(b)) / 2 + 2
      assert(r.getInt(2) == graft.text.Sift4.distCodepoints(a, b, 3, maxDist), s"$a / $b")
      assert(r.getInt(3) == graft.text.EditDistances.boundedLevenshtein(a, b))
      assert(r.getDouble(4) == graft.text.EditDistances.jaroWinkler(a, b))
    }
  }

  test("sift4_cp counts its band in codepoints: astral-plane letters score as ASCII ones") {
    import spark.implicits._
    val pairs = scorerPairs.map { case (a, b) => (a, b, astral(a), astral(b)) }
    val got = pairs.toDF("a", "b", "xa", "xb")
      .select(gf.sift4_cp($"a", $"b"), gf.sift4_cp($"xa", $"xb")).collect()
    got.zip(pairs).foreach { case (r, (a, b, _, _)) =>
      assert(r.getInt(0) == r.getInt(1), s"$a / $b")
    }
    assert(got.last.getInt(1) == 8)
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

  /** Extensions resolve from the SparkContext static conf at session
    * build, which a shared-context test can't exercise; apply the
    * injection onto the live registry instead (same code path
    * spark-submit --conf spark.sql.extensions=graft.GraftExtensions hits). */
  private def injectGraftExtensions(): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions()(ext)
    org.apache.spark.sql.graft.Bridge.applyFunctionExtensions(
      ext, spark.sessionState.functionRegistry)
  }

  test("SQL registration works") {
    injectGraftExtensions()
    val r = spark.sql(
      "SELECT normalize_text('Landwehrstraße') AS n, sift4_cp('abc','acb') AS d").collect()(0)
    assert(r.getString(0) == "landwehrstrasse")
    assert(r.getInt(1) == 1)
  }

  test("GraftExtensions injects SQL functions") {
    injectGraftExtensions()
    val r = spark.sql(
      "SELECT jaro_winkler('darmstadt','damrstadt') AS jw, " +
        "trigram_strings('linden bach') AS t, " +
        "format_address('17','Rue X','31000','Toulouse','France','FR') AS f").collect()(0)
    assert(r.getDouble(0) > 0.9)
    assert(r.getSeq[String](1).head == "lin")
    assert(r.getString(2) == "17 Rue X, 31000 Toulouse, France")
  }

  test("the SQL table registers every column-only facade kernel under its prettyName") {
    import org.apache.spark.sql.Column
    // public methods of the facade whose arguments are all columns
    val facade = graft.functions.`package`.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[Column] && m.getParameterCount > 0 &&
        m.getParameterTypes.forall(_ == classOf[Column]))
      .map(m => m.getName -> m.getParameterCount).toMap
    val table = graft.GraftExtensions.sqlFunctions
    assert(table.map(_._1).distinct.size == table.size, "duplicate SQL name")
    assert(table.map(_._1).toSet == facade.keySet)
    table.foreach { case (name, builder) =>
      val args = Seq.fill(facade(name))(
        org.apache.spark.sql.catalyst.expressions.Literal(null))
      assert(builder(args).prettyName == name)
    }
  }

  /** One select list per `GraftExtensions.sqlFunctions` name, over the
    * `kernel_rows` view (i, s, t, x, y, ring, v, w, v64, html): a new SQL
    * kernel needs a sample here. */
  private val kernelSamples: Map[String, String] = Map(
    "normalize_text" -> "normalize_text(s), normalize_text(NULL)",
    "match_key" -> "match_key(s)",
    "trigram_keys" -> "trigram_keys(normalize_text(s))",
    "trigram_strings" -> "trigram_strings(s)",
    "script_counts" -> "script_counts(s)",
    "profile_hits" -> "profile_hits(trigram_strings(normalize_text(s)))",
    "double_metaphone" -> "double_metaphone(s)",
    "sift4_cp" -> "sift4_cp(s, t)",
    "accept_gate" -> "accept_gate(match_key(s), match_key(t)), accept_gate(s, s)",
    "bounded_levenshtein" -> "bounded_levenshtein(s, t)",
    "jaro_winkler" -> "jaro_winkler(s, t)",
    "ref_match_score" -> "ref_match_score(s, normalize_text(t)), ref_match_score(s, match_key(s))",
    "ref_match_score_pre" -> "ref_match_score_pre(match_key(s), normalize_text(t))",
    "ref_best_phrase" ->
      "ref_best_phrase(match_key(s), array(normalize_text(t), match_key(s)), array(1L, 2L))",
    "cosine_sim" -> "cosine_sim(v, w), cosine_sim(w, w), cosine_sim(v, array(1.0D))",
    "point_in_ring" -> "point_in_ring(ring, x, y)",
    "polyline_dist2" -> "polyline_dist2(ring, x, y), polyline_dist2(slice(ring, 1, 1), x, y)",
    "lsh_band_vals" -> "lsh_band_vals(v64), lsh_band_vals(CAST(v64 AS array<float>))",
    "minhash_md5" -> "minhash_md5(normalize_text(s))",
    "minhash_xx" -> "minhash_xx(normalize_text(s))",
    "shingle_hashes" -> "shingle_hashes(normalize_text(s))",
    "area_fold" -> ("area_fold(array(named_struct('s', normalize_text(s), 'bits', 1L), " +
      "named_struct('s', normalize_text(t), 'bits', 2L), named_struct('s', '12', 'bits', 4L)), " +
      "array(named_struct('names', array(named_struct('name', normalize_text(t), 'lang', 'de'), " +
      "named_struct('name', normalize_text(s), 'lang', 'en')), 'level', 4, 'pop', i * 1000), " +
      "named_struct('names', array(named_struct('name', '12', 'lang', 'en')), 'level', 12, " +
      "'pop', 3L)), array('en', 'de'), IF(i % 3 = 0, NULL, i % 2))"),
    "format_address" -> ("format_address(s, t, NULL, 'Toulouse', s, 'FR'), " +
      "format_address('12', s, '64283', t, 'Deutschland', 'DE')"),
    "html_text" -> "html_text(html), html_text(CAST(html AS binary))",
    "html_links" -> "html_links(html), html_links(CAST(html AS binary))",
    "block_pairs" -> ("block_pairs(i % 2, array(named_struct('id', i, 'keys', array(i % 2, 7L)), " +
      "named_struct('id', 100L, 'keys', array(i % 2)), named_struct('id', 101L, 'keys', array(7L))))"))

  private val kernelStrings = samples ++ Seq("the quick brown fox jumps", "Rue de la Paix 12",
    "12", "Ελληνικά γράμματα και λέξεις", "東京都 港区 六本木")

  /** The `kernel_rows` view, backed by parquet rather than a local
    * relation, so the optimizer cannot evaluate the projections itself. */
  private lazy val kernelRows: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kernel-rows").toString
    kernelStrings.zip(kernelStrings.reverse).zipWithIndex
      .map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("i", "s", "t")
      .selectExpr("i", "s", "t", "CAST(i AS double) * 0.5 AS x", "1.0D AS y",
        "array(named_struct('x', 0.0D, 'y', 0.0D), named_struct('x', 4.0D, 'y', 0.0D), " +
          "named_struct('x', 4.0D, 'y', 4.0D)) AS ring",
        "CAST(array(i, 2.5, -1.0) AS array<float>) AS v",
        "IF(i % 4 = 1, array(0.0D, 0.0D, 0.0D), array(1.0D, CAST(i AS double), 3.0D)) AS w",
        "transform(sequence(1, 64), k -> sin(CAST(i * k AS double))) AS v64",
        "concat('<p>', s, '<script>x</script></p><a href=\"/', t, '\">', s, '</a>') AS html")
      .write.parquet(s"$dir/rows")
    spark.read.parquet(s"$dir/rows").createOrReplaceTempView("kernel_rows")
    "kernel_rows"
  }

  test("every SQL kernel gives the same rows interpreted and generated") {
    injectGraftExtensions()
    assert(kernelSamples.keySet == graft.GraftExtensions.sqlFunctions.map(_._1).toSet)
    def rows(sql: String, conf: (String, String)*): Seq[String] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try spark.sql(sql).collect().map(_.toString).toSeq.sorted
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    kernelSamples.toSeq.sortBy(_._1).foreach { case (name, select) =>
      val sql = s"SELECT i, $select FROM $kernelRows"
      val interpreted = rows(sql, "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")
      val generated = rows(sql, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")
      assert(interpreted.size >= kernelStrings.size, name)
      assert(generated == interpreted, name)
    }
  }

  test("every SQL kernel but block_pairs runs as a static ExprKernels call") {
    import org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    injectGraftExtensions()
    kernelSamples.toSeq.filter(_._1 != "block_pairs").foreach { case (name, select) =>
      val qe = spark.sql(s"SELECT $select FROM $kernelRows").queryExecution
      val named = qe.analyzed.expressions.flatMap(_.collect {
        case e if e.prettyName == name => e })
      assert(named.nonEmpty && named.forall(_.isInstanceOf[RuntimeReplaceable]), name)
      assert(qe.optimizedPlan.expressions.exists(_.exists {
        case s: StaticInvoke => s.staticObject == ExprKernels.getClass
        case _ => false
      }), name)
    }
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
        gf.sift4_cp($"a", $"b").as("s4"), gf.trigram_keys($"a").as("t"))
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
    // members with match keys and frequencies: the same pairs, each with
    // the gate's verdict on (src's key, dst's key) and both frequencies
    val keysOf = Map(1L -> "berlin hauptstrasse", 2L -> "berlin hauptstrase", 3L -> "hamburg")
    // (member 4, without a match key, is skipped)
    val verified = Seq((5L, Seq((2L, Seq(5L, 3L), keysOf(2L), 7L), (1L, Seq(5L, 9L),
        keysOf(1L), 40L), (3L, Seq(9L, 5L), keysOf(3L), 2L), (4L, Seq(5L), null, 1L))))
      .toDF("key", "members")
      .select(gf.block_pairs($"key", $"members"))
      .as[(Long, Long, Boolean, Option[Int], Long, Long)].collect().toSet
    val freqOf = Map(1L -> 40L, 2L -> 7L, 3L -> 2L)
    assert(verified.count(_._3) == 1)
    assert(verified == Set((1L, 2L), (1L, 3L), (2L, 3L)).map { case (a, b) =>
      val v = graft.text.AcceptGate.verdict(
        new graft.text.AcceptGate.Key(keysOf(a)), new graft.text.AcceptGate.Key(keysOf(b)))
      (a, b, v >= 0, Option.when(v >= 0)(v), freqOf(a), freqOf(b))
    })
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, Seq((1L, Seq(1))))).toDF("key", "members")
        .select(gf.block_pairs($"key", $"members")).collect()
    }
    assert(bad.getMessage.contains("block_pairs"))
  }
}
