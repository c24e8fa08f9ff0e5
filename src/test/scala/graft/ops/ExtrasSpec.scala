package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.SparkTestSession

class ExtrasSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("capCells drops Zipf-dense cells whole and keeps sparse ones intact") {
    // a "Tokyo" cell with 300 replicated sites (over Dedup.MaxBlock=256)
    // plus two sparse cells — the dense cell must stop producing
    // candidates entirely, the sparse ones must pass through unchanged
    val dense = (0 until 300).map(i => (i.toLong, 35, 139))
    val sparse = (0 until 40).map(i => (1000L + i, 1, 2)) ++
      Seq((2000L, -3, -4))
    val cells = (dense ++ sparse).toDF("site_id", "cla", "clo")
    val kept = Extras.capCells(cells)
    val byCell = kept.groupBy("cla", "clo").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(!byCell.contains((35, 139)), "dense cell must be dropped whole")
    assert(byCell((1, 2)) == 40L && byCell((-3, -4)) == 1L,
      "sparse cells must survive the cap untouched")
    // exactly at the cap: 256 rows in one cell is still kept
    val atCap = (0 until 256).map(i => (i.toLong, 7, 7)).toDF("site_id", "cla", "clo")
    assert(Extras.capCells(atCap).count() == 256L)
  }

  test("siteCells copies each site into exactly its 9 neighbour cells, " +
      "and every point within one degree of a site probes one of them") {
    val rnd = new scala.util.Random(15)
    // 60 sites over 400 cells: every cell stays under Dedup.MaxBlock
    val sites = (0 until 60).map(i =>
      (i.toLong, rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10)) ++
      Seq((60L, 0.0, 0.0), (61L, -3.0, 2.5))
    val cells = Extras.siteCells(sites.toDF("site_id", "s_lat", "s_lng"), "s_lat", "s_lng")
    val bySite = cells.select("site_id", "cla", "clo").as[(Long, Int, Int)]
      .collect().groupBy(_._1)
    sites.foreach { case (id, lat, lng) =>
      val own = (math.floor(lat).toInt, math.floor(lng).toInt)
      val expected = for (dx <- -1 to 1; dy <- -1 to 1) yield (own._1 + dx, own._2 + dy)
      val got = bySite(id).map(r => (r._2, r._3)).toSeq
      assert(got.sorted == expected.sorted, s"site $id: $got")
    }
    // points strictly within one degree in each coordinate, the cell
    // edges included
    val offsets = Seq((0.999, -0.999), (-0.999, 0.999), (0.0, 0.0)) ++
      (0 until 8).map(_ => (rnd.nextDouble() * 1.998 - 0.999, rnd.nextDouble() * 1.998 - 0.999))
    val points = for ((id, lat, lng) <- sites; ((dlat, dlng), k) <- offsets.zipWithIndex)
      yield (id * 100 + k, id, lat + dlat, lng + dlng)
    val probes = Extras.probeCells(points.toDF("id", "near", "lat", "lng"))
    val found = probes.join(cells, Seq("cla", "clo"))
      .filter(col("near") === col("site_id"))
    assert(found.count() == points.size, "each point must share exactly one cell with its site")
  }

  // ---- AreaFold codegen kernel vs the interpreted-HOF specification ----

  /** Rows spanning every branch of the fold: greedy skip on overlapping
    * bits, bilingual names with lang ties (first lang wins), area-score
    * ties (first area wins), the zip-level numeric gate incl. the
    * per-TOKEN rule ("a1 b2" both majority-digit tokens, "12a34" not),
    * pop-bonus double arithmetic, nibble overwrite on re-match, empty
    * phrase/area lists, and initMask seeding. */
  private def foldCases = {
    def ph(s: String, bits: Long) = (s, bits)
    Seq(
      // (qid, phrases[(s, bits)], areas[(names[(name,lang)], level, pop)], initMask)
      (1L, Seq(ph("berlin", 1L), ph("12", 2L), ph("europe", 5L)),
        Seq((Seq(("berlin", "en"), ("berlinland", "de")), 4, 7654321L),
          (Seq(("europe", "en")), 2, 0L),
          (Seq(("12", "en")), 12, 0L)), 0L),
      (2L, Seq(ph("berlinland", 1L), ph("europe", 2L)), // matches via 2nd lang
        Seq((Seq(("berlin", "en"), ("berlinland", "de")), 4, 1000000L),
          (Seq(("europe", "en")), 2, 0L)), 0L),
      (3L, Seq(ph("xx", 1L), ph("xx", 1L)), // exact lang tie: en must win
        Seq((Seq(("xx", "en"), ("xx", "de")), 4, 0L)), 0L),
      (4L, Seq(ph("aa", 3L)), // area tie: first area must win
        Seq((Seq(("aa", "en")), 4, 100L), (Seq(("aa", "en")), 2, 999L)), 0L),
      (5L, Seq(ph("a1 b2", 1L), ph("12a34", 2L), ph("77", 4L)), // F9 gate
        Seq((Seq(("a1 b2", "en")), 12, 0L), (Seq(("12a34", "en")), 12, 0L),
          (Seq(("77", "en")), 12, 0L)), 0L),
      (6L, Seq(ph("berlin", 1L), ph("berlim", 2L)), // nibble overwrite: re-match
        Seq((Seq(("berlin", "en"), ("berlim", "de")), 4, 5000000L)), 0L),
      (7L, Seq(ph("berlin", 1L)), Seq.empty, 0L), // no areas
      (8L, Seq.empty, // no phrases
        Seq((Seq(("berlin", "en")), 4, 0L)), 0L),
      (9L, Seq(ph("berlin", 1L), ph("europe", 2L)), // initMask pre-blocks phrase 1
        Seq((Seq(("berlin", "en")), 4, 0L), (Seq(("europe", "en")), 2, 0L)), 1L),
      (10L, Seq(ph("zzzzz", 1L)), // nothing matches (reject band)
        Seq((Seq(("berlin", "en")), 4, 0L)), 0L),
      (11L, Seq(ph("brlin", 1L), ph("urope", 2L)), // fuzzy within 2·lev ≤ minlen
        Seq((Seq(("berlin", "en")), 4, 2222222L), (Seq(("europe", "fr")), 2, 1L)), 0L),
      (12L, Seq(ph("", 1L), ph("x", 2L)), // empty phrase: lev("", x) vs gate
        Seq((Seq(("", "en")), 4, 3L), (Seq(("x", "de")), 12, 9L)), 0L))
  }

  private def foldDf = {
    val rows = foldCases
    rows.toDF("qid", "p", "a", "init").selectExpr(
      "qid",
      "transform(p, x -> named_struct('s', x._1, 'bits', x._2)) AS phrases",
      "transform(a, x -> named_struct(" +
        "'names', transform(x._1, n -> named_struct('name', n._1, 'lang', n._2))," +
        "'level', x._2, 'pop', x._3)) AS areas",
      "init")
  }

  test("AreaFold codegen kernel is byte-identical to the interpreted HOF " +
    "specification (greedy order, lang/area ties, F9 gate, nibbles, masks)") {
    val langs = array(lit("en"), lit("de"))
    val df = foldDf
    val hof = Extras.greedyAreaAssemblyMLHof(
      col("phrases"), col("areas"), langs, col("init"))
    val gen = graft.functions.area_fold(
      col("phrases"), col("areas"), langs, col("init"))
    def dump(c: org.apache.spark.sql.Column) = df
      .select(col("qid"), c("tok"), c("amask"), c("dist"), c("alang"))
      .orderBy("qid").collect().map(_.toSeq).toSeq
    val expected = dump(hof)
    // codegen'd AND interpreted eval paths: with whole-stage codegen off
    // the projection is still generated unless the factory is NO_CODEGEN
    val modes = Seq(Map("spark.sql.codegen.wholeStage" -> "true"),
      Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (mode <- modes) {
      val prior = mode.keys.map(k => k -> spark.conf.get(k))
      mode.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(dump(gen) == expected, s"parity ($mode)")
      finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    // sanity on the semantics themselves, not just parity
    val byQid = expected.map(r => r.head -> r.tail).toMap
    // case 1: phrase 1 matches nation (en, nibble 1), phrase 2 matches the
    // zip area (area 3 → amask bit 4, nibble 16²), phrase 3 (bits=5,
    // overlapping phrase 1's bit) is greedily skipped
    assert(byQid(1L) == Seq(3L, 5L, 0.0 + 0.0 - 7654321L * 2.0 / 1e7, 1L + 256L),
      "case 1: phrases 1+2 match areas 1+3, phrase 3 greedily skipped")
    assert(byQid(2L).head == 3L && byQid(2L)(3) == 2L + 16L,
      "case 2: nation matched through the German name (nibble=2)")
    assert(byQid(3L)(3) == 1L, "lang tie must pick the FIRST user language")
    assert(byQid(4L)(1) == 1L, "area tie must pick the FIRST area")
    assert(byQid(7L) == Seq(0L, 0L, 0.0, 0L) && byQid(8L) == Seq(0L, 0L, 0.0, 0L))
    assert(byQid(9L).head == 3L && byQid(9L)(1) == 2L,
      "initMask blocks phrase 1; phrase 2 still matches area 2")
  }

  test("AreaFold fails LOUD on more than 16 areas instead of silently " +
      "dropping matches past the nibble bound") {
    val many = (1 to 17).map(i => (Seq((s"a$i", "en")), 4, 0L))
    val df = Seq((1L, Seq(("a17", 1L)), many, 0L))
      .toDF("qid", "p", "a", "init").selectExpr(
        "qid",
        "transform(p, x -> named_struct('s', x._1, 'bits', x._2)) AS phrases",
        "transform(a, x -> named_struct(" +
          "'names', transform(x._1, n -> named_struct('name', n._1, 'lang', n._2))," +
          "'level', x._2, 'pop', x._3)) AS areas",
        "init")
    val e = intercept[Exception] {
      df.select(graft.functions.area_fold(col("phrases"), col("areas"),
        array(lit("en")), col("init"))).collect()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) Option(t.getMessage).getOrElse("")
      else rootMsg(t.getCause) + Option(t.getMessage).getOrElse("")
    assert(rootMsg(e).contains("bounds area sets at 16") ||
      e.toString.contains("bounds area sets at 16"), e.toString)
  }

  test("AreaFold treats a null-pop area as non-competing (pinned " +
      "divergence: the HOF spec poisons the accumulator with null there)") {
    // area 1 would win the argmin but carries a null pop → must not
    // compete; area 2 (exact match in the second user language) wins
    val df = spark.sql(
      """SELECT array(named_struct('s', 'berlin', 'bits', 1L)) AS phrases,
        |  array(
        |    named_struct('names', array(named_struct('name', 'berlin', 'lang', 'en')),
        |      'level', 4L, 'pop', CAST(NULL AS BIGINT)),
        |    named_struct('names', array(named_struct('name', 'berlim', 'lang', 'de')),
        |      'level', 4L, 'pop', 77L)) AS areas,
        |  array('en', 'de') AS langs, 0L AS init""".stripMargin)
    val r = df.select(graft.functions.area_fold(col("phrases"),
      col("areas"), col("langs"), col("init")).as("r"))
      .select("r.tok", "r.amask", "r.dist", "r.alang").collect().head
    assert(r.getLong(0) == 1L, "phrase must still match through area 2")
    assert(r.getLong(1) == 2L, s"null-pop area must not compete: ${r.getLong(1)}")
    assert(r.getDouble(2) == 1.0 - 77L * 2.0 / 1e7) // lev(berlin,berlim)=1
    assert(r.getLong(3) == (2L << 4), "winner nibble on area 2, lang de")
  }

  test("AreaFold single-language delegate keeps greedyAreaAssembly semantics") {
    val df = Seq((1L, Seq(("berlin", 1L), ("europe", 2L)),
        Seq(("berlin", 4, 100000L), ("europe", 2, 0L))))
      .toDF("qid", "p", "a").selectExpr(
        "qid",
        "transform(p, x -> named_struct('s', x._1, 'bits', x._2)) AS phrases",
        "transform(a, x -> named_struct('names', array(named_struct('name', x._1, " +
          "'lang', 'default')), 'level', x._2, 'pop', x._3)) AS areas")
    val r = df.select(graft.functions.area_fold(col("phrases"), col("areas"),
      array(lit("default")), lit(0L)).as("r")).collect().head.getStruct(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 0.0 + 0.0 - 100000L * 2.0 / 1e7 + 0.0)
  }
}
