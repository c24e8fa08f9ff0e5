package graft.er

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{functions => gf}
import graft.functions.SparkTestSession

/** Goldens for the composed get_suggestions DAG, mirroring the reference's
  * end-to-end fixture expectations (/root/reference/test/cyrillic_test.cc):
  *  - guess_cyrillic_exact_match (:27-43): exact Cyrillic query is among
  *    the candidates / ranks first
  *  - addr_place_block_address (:49-71): "Славейков 26" resolves to
  *    "ж.к. П. Р. Славейков" with house number "бл. 26" via sub-phrase
  *    matching of the numeric token
  *  - extract_and_suggest_cyrillic (:73-89): village "Индже войвода"
  *    is top-1 for its own name
  */
case class AreaName(name: String, lang: String)
case class Area(names: Seq[AreaName], level: Int, pop: Long)
object Area { // single-language convenience (the pre-multilang fixture shape)
  def apply(name: String, level: Int, pop: Long): Area =
    Area(Seq(AreaName(name, "default")), level, pop)
}
case class Ent(entity_id: Long, name: String, kind: String, category: String,
    population: Long, name_lang: String, location: Long,
    areas: Seq[Area], house_numbers: Seq[String])
case class Phrase(s: String, bits: Long, is_num: Boolean)
case class HnQuery(query_id: Long, phrases: Seq[Phrase])
case class HnEnt(entity_id: Long, kind: String, house_numbers: Seq[String])

class SuggestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(queries: Seq[(Long, String)], ents: Seq[Ent],
      userLangs: Seq[String] = Seq("default")) =
    Suggest.suggest(
      queries.toDF("query_id", "text"), ents.toDS().toDF(),
      userLangs = userLangs)
      .orderBy($"query_id", $"rank").collect()

  test("cyrillic exact match is the top candidate (cyrillic_test.cc:27-43)") {
    val ents = Seq(
      Ent(1, "Индже войвода", "place", "village", 300, "default", 1, Nil, Nil),
      Ent(2, "София", "place", "city", 1200000, "default", 2, Nil, Nil),
      Ent(3, "Aschaffenburg", "place", "city", 70000, "default", 3, Nil, Nil))
    val rows = run(Seq((1L, "Индже войвода")), ents)
    assert(rows.nonEmpty, "no suggestions returned")
    assert(rows.head.getAs[String]("name") == "Индже войвода",
      s"top-1 was ${rows.head}")
  }

  test("block address: numeric token matches house number via sub-phrase " +
      "(cyrillic_test.cc:49-71)") {
    val ents = Seq(
      Ent(10, "ж.к. П. Р. Славейков", "street", "", 0, "default", 10, Nil,
        Seq("бл. 26", "бл. 27", "бл. 30")),
      Ent(11, "Славейно", "place", "village", 500, "default", 11, Nil, Nil),
      Ent(12, "Изгрев", "street", "", 0, "default", 12, Nil, Seq("1", "2")))
    val rows = run(Seq((1L, "Славейков 26")), ents)
    assert(rows.nonEmpty, "no suggestions returned")
    val top = rows.head
    assert(top.getAs[String]("name") == "ж.к. П. Р. Славейков", s"top-1 was $top")
    assert(top.getAs[String]("matched_hn") == "бл. 26",
      s"house number not resolved: $top")
  }

  test("end-to-end cyrillic suggest: exact village name wins " +
      "(cyrillic_test.cc:73-89)") {
    val ents = Seq(
      Ent(20, "Индже войвода", "place", "village", 300, "default", 20,
        Seq(Area("бургас", 4, 400000)), Nil),
      Ent(21, "Индже войвода", "street", "", 0, "default", 21, Nil, Seq("3")),
      Ent(22, "Война", "place", "village", 100, "default", 22, Nil, Nil))
    val rows = run(Seq((1L, "Индже войвода")), ents)
    assert(rows.nonEmpty, "no suggestions returned")
    assert(rows.head.getAs[String]("name") == "Индже войвода",
      s"top-1 was ${rows.head}")
  }

  test("synonym alternates: 'Hbf' query finds 'Hauptbahnhof' entity (G4)") {
    val ents = Seq(
      Ent(40, "Darmstadt Hauptbahnhof", "place", "none", 0, "default", 40, Nil, Nil),
      Ent(41, "Darmstadt Nordbahnhof", "place", "none", 0, "default", 41, Nil, Nil),
      Ent(42, "Frankfurt Hauptbahnhof", "place", "none", 0, "default", 42, Nil, Nil))
    val rows = run(Seq((1L, "Darmstadt Hbf")), ents)
    assert(rows.nonEmpty, "no suggestions returned")
    assert(rows.head.getAs[String]("name") == "Darmstadt Hauptbahnhof",
      s"alternate not matched: ${rows.toSeq}")
  }

  test("bilingual area: the query matches through the user's second " +
      "language and the winning lang nibble is recorded (get_suggestions" +
      ".cc:88-104, guess_context.h:43-46)") {
    // entity 50's area is named "пловдивско" in the default language but
    // exactly "пловдив" in German; entity 51's area is "софия" in both.
    // A query mentioning "пловдив" must (a) match 50's area THROUGH the
    // de name (cross-language min) → lang nibble 2, and (b) rank 50 above
    // the identically-named street with the wrong area.
    val ents = Seq(
      Ent(50, "Лилава улица", "street", "", 0, "default", 50,
        Seq(Area(Seq(AreaName("пловдивско", "default"),
          AreaName("пловдив", "de")), 4, 300000)), Nil),
      Ent(51, "Лилава улица", "street", "", 0, "default", 51,
        Seq(Area(Seq(AreaName("софия", "default"),
          AreaName("софия", "de")), 4, 1200000)), Nil))
    val rows = run(Seq((1L, "Лилава улица пловдив")), ents,
      userLangs = Seq("default", "de"))
    assert(rows.nonEmpty, "no suggestions returned")
    val top = rows.head
    assert(top.getAs[Long]("entity_id") == 50L,
      s"cross-language area evidence ignored: ${rows.toSeq}")
    assert(top.getAs[Long]("area_langs") == 2L,
      s"winning language nibble must be 2 (de): $top")
  }

  test("bilingual area tie: equal scores across languages pick the FIRST " +
      "user language (activate_areas' strict `<` update)") {
    val ents = Seq(
      Ent(60, "Лилава улица", "street", "", 0, "default", 60,
        Seq(Area(Seq(AreaName("бургас", "default"),
          AreaName("бургас", "de")), 4, 400000)), Nil))
    val rows = run(Seq((1L, "Лилава улица бургас")), ents,
      userLangs = Seq("default", "de"))
    assert(rows.nonEmpty, "no suggestions returned")
    assert(rows.head.getAs[Long]("area_langs") == 1L,
      s"tie must resolve to the first user language: ${rows.head}")
  }

  test("greedy area evidence lowers the score of the contextual entity") {
    // two identically-named streets; only one lies in "бургас" — the query
    // mentioning the area must rank that one first (A6 evidence)
    val ents = Seq(
      Ent(30, "Лилава улица", "street", "", 0, "default", 30,
        Seq(Area("бургас", 4, 400000)), Nil),
      Ent(31, "Лилава улица", "street", "", 0, "default", 31,
        Seq(Area("софия", 4, 1200000)), Nil))
    val rows = run(Seq((1L, "Лилава улица бургас")), ents)
    assert(rows.nonEmpty, "no suggestions returned")
    assert(rows.head.getAs[Long]("entity_id") == 30L,
      s"area evidence ignored: ${rows.toSeq}")
  }

  test("per-keystroke requests equal the batched call, and the batched " +
      "rows equal the pinned golden of the seeded request set") {
    val ents = SuggestFixture.entities(spark)
    val reqs = SuggestFixture.requests
    def suggest(qs: Seq[(Long, String)]): DataFrame =
      Suggest.suggest(qs.toDF("query_id", "text"), ents,
        userLangs = SuggestFixture.UserLangs)
    val batched = SuggestFixture.render(suggest(reqs))
    val golden = SuggestFixture.golden
    assert(batched.head == golden.head, "column list differs from the golden")
    assert(batched.size == golden.size,
      s"${batched.size - 1} rows, the golden has ${golden.size - 1}")
    batched.zip(golden).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want, s"golden line ${i + 1} differs")
    }
    val byQuery = batched.tail.groupBy(_.takeWhile(_ != '\t').toLong)
    val sample = reqs.filter(_._1 % 22 == 0) :+ reqs.last
    sample.foreach { r =>
      val one = SuggestFixture.render(suggest(Seq(r)))
      assert(one.head == batched.head)
      assert(one.tail == byQuery.getOrElse(r._1, Nil),
        s"request ${r._1} '${r._2}' differs from the batched call")
    }
    // the golden exercises the ranking stages that the fixture is built for
    val cols = golden.tail.map(_.split("\t"))
    assert(cols.count(_(7) != "\\N") > 0, "no house number matched")
    assert(cols.count(_(6) == "true") > 0, "no duplicate marked")
    assert(cols.count(_(8) != "0") > 0, "no area matched")
  }

  /** Phrase windows of a space-separated query, in `suggest`'s order. */
  private def phrasesOf(text: String): Seq[Phrase] = {
    val toks = text.split(" ").toSeq
    for {
      frm <- 1 to toks.size
      len <- 1 to math.min(Suggest.MaxPhraseLen, toks.size - frm + 1)
    } yield {
      val words = toks.slice(frm - 1, frm - 1 + len)
      Phrase(words.mkString(" "), ((1L << len) - 1) << (frm - 1),
        words.forall(w => 2 * w.count(_.isDigit) >= w.length))
    }
  }

  test("house numbers: the in-row match equals the explode/join/groupBy " +
      "matcher (duplicates, empty/null arrays, ties, places, q42 keys)") {
    val q = Seq("12 7", "main 12", "bl 26 26", "hauptstrasse", "12a 7")
      .zipWithIndex.map { case (t, i) => HnQuery(i + 1L, phrasesOf(t)) }.toDS().toDF()
    val ents = Seq(
      HnEnt(1, "street", Seq("12", "12", "7")),
      HnEnt(2, "street", Seq.empty),
      HnEnt(3, "street", null),
      HnEnt(4, "place", Seq("12", "7", "26")),
      HnEnt(5, "street", Seq("7", "12", "bl. 26", "26", null)),
      HnEnt(6, "street", Seq("12b", "12a", "12")),
      HnEnt(7, "street", Seq("26", "26"))).toDS().toDF()
    val scored = q.select("query_id").crossJoin(ents.select("entity_id", "kind"))
    val noScore = lit(null).cast("float")
    val matchers: Seq[(String, Column => Column, (Column, Column) => Column)] = Seq(
      ("suggest", hn => gf.match_key(hn), (k, s) => gf.ref_match_score_pre(k, s)),
      ("q42", identity, (k, s) => when(k === s, lit(-1.0f)).otherwise(noScore)),
      // every cell whose first characters agree ties at -1
      ("ties", identity, (k, s) =>
        when(substring(k, 1, 1) === substring(s, 1, 1), lit(-1.0f)).otherwise(noScore)))
    def key(r: Row) = (r.getLong(0), r.getLong(1))
    val results = matchers.map { case (name, keyFn, scoreFn) =>
      val inRow = scored.join(ents.select("entity_id", "house_numbers"), "entity_id")
        .join(q, "query_id")
        .select(col("query_id"), col("entity_id"),
          Suggest.houseNumberMatch(keyFn, scoreFn).as("h"))
        .collect().map(r => key(r) -> Option(r.getStruct(2))).toMap
      val reference = HouseNumberJoin.matches(scored, ents, q, keyFn, scoreFn)
        .collect().map(r => key(r) -> r.getStruct(2)).toMap
      assert(inRow.size == 35, name)
      inRow.toSeq.sortBy(_._1).foreach { case (k, got) =>
        assert(got == reference.get(k), s"$name: (query, entity) $k")
      }
      name -> inRow
    }.toMap
    def h(m: String, q: Long, e: Long) = results(m)((q, e)).map(r =>
      (r.getFloat(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(results.values.forall(m => m.collect { case ((_, e), v)
      if Set(2L, 3L, 4L)(e) => v }.forall(_.isEmpty)),
      "empty/null arrays and places must never match")
    assert(results.values.forall(_.values.count(_.isDefined) >= 6))
    assert(h("q42", 1, 1) == Some((-1.0f, 0, 1L, "12")))
    assert(h("q42", 1, 5) == Some((-1.0f, 0, 1L, "12")))
    // bits never decides a tie: a row's pidx is unique and fixes its bits
    assert(h("q42", 3, 7) == Some((-1.0f, 3, 2L, "26")), "score tie goes to the lower pidx")
    assert(h("ties", 1, 6) == Some((-1.0f, 0, 1L, "12")), "pidx tie goes to the lower hn")
    assert(h("ties", 2, 1) == Some((-1.0f, 2, 2L, "12")))
  }

  test("repeated requests reuse one entity index: no persist and no " +
      "re-cache warning per request") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ents = SuggestFixture.entities(spark)
    def request(id: Long, text: String): Unit =
      Suggest.suggest(Seq((id, text)).toDF("query_id", "text"), ents).collect()
    val texts = SuggestFixture.texts
    request(0, texts.head)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("suggest-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val cacheLog = LogManager.getLogger(
      "org.apache.spark.sql.execution.CacheManager").asInstanceOf[CoreLogger]
    cacheLog.addAppender(appender)
    try texts.tail.take(4).zipWithIndex.foreach { case (t, i) => request(i + 1L, t) }
    finally { cacheLog.removeAppender(appender); appender.stop() }
    val recached = warnings.toArray.count(_.toString.contains("already cached"))
    assert(recached == 0, s"$recached requests asked to cache cached data")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == persisted, s"${after - persisted} frames persisted by 4 requests")
  }

  /** The analyzed plan with the caller's query rows masked: the topmost
    * projection that names the (query_id, text) columns keeps its
    * exprIds and loses what it projects. Every other node, exprIds
    * included, is compared as is. */
  private def maskedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed.transformDown {
      case p: Project if p.output.map(_.name) == Seq("query_id", "text") &&
          p.projectList.forall(_.isInstanceOf[Alias]) =>
        Project(p.projectList.map(a => Alias(Literal(0), a.name)(exprId = a.exprId)),
          OneRowRelation())
    }

  test("requests over one entity frame share one prepared plan: equal " +
      "analyzed plans, exprIds included, once the query rows are masked") {
    val ents = SuggestFixture.entities(spark)
    val Seq(a, b) = SuggestFixture.texts.take(2).zipWithIndex.map { case (t, i) =>
      Suggest.suggest(Seq((i.toLong, t)).toDF("query_id", "text"), ents)
    }
    assert(a.queryExecution.analyzed.output == b.queryExecution.analyzed.output,
      "the two requests' output columns carry different exprIds")
    assert(maskedPlan(a) == maskedPlan(b), "the second request planned afresh")
    assert(a.queryExecution.analyzed != b.queryExecution.analyzed,
      "masking hid the query rows' difference")
    assert(a.collect().nonEmpty && b.collect().nonEmpty)
    // a drain of ops.Caches releases the postings; the next request
    // persists them again and still binds into the same plan
    graft.ops.Caches.releaseAll()
    val drained = spark.sparkContext.getPersistentRDDs.size
    val c = Suggest.suggest(Seq((0L, SuggestFixture.texts.head)).toDF("query_id", "text"), ents)
    assert(maskedPlan(c) == maskedPlan(a))
    assert(c.collect().toSeq == a.collect().toSeq)
    assert(spark.sparkContext.getPersistentRDDs.size == drained + 1)
  }

  test("a parquet-backed query frame gives the golden rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-suggest").toString
    SuggestFixture.requests.toDF("query_id", "text")
      .union(Seq((-1L, "zz unknown")).toDF("query_id", "text"))
      .write.parquet(s"$dir/q.parquet")
    val queries = spark.read.parquet(s"$dir/q.parquet").filter(col("query_id") > 0)
    val got = SuggestFixture.render(Suggest.suggest(queries, SuggestFixture.entities(spark),
      userLangs = SuggestFixture.UserLangs))
    assert(got == SuggestFixture.golden)
  }

  // Stops the shared session, so it runs last in this spec.
  test("a prepared plan does not outlive its session; a new session " +
      "prepares afresh and gets the golden rows") {
    val old = SparkTestSession.spark
    val oldEnts = SuggestFixture.entities(old)
    Suggest.suggest(Seq((1L, "ber")).toDF("query_id", "text"), oldEnts).collect()
    assert(Suggest.plans.synchronized(Suggest.plans.containsKey(oldEnts)))
    old.stop()
    val fresh = SparkTestSession.spark
    assert(fresh ne old)
    val reqs = SuggestFixture.requests.filter(_._1 % 22 == 0)
    val got = SuggestFixture.render(Suggest.suggest(
      fresh.createDataFrame(reqs).toDF("query_id", "text"),
      SuggestFixture.entities(fresh), userLangs = SuggestFixture.UserLangs))
    val ids = reqs.map(_._1.toString).toSet
    val golden = SuggestFixture.golden
    assert(got == golden.head +: golden.tail.filter(l => ids(l.takeWhile(_ != '\t'))))
    assert(Suggest.plans.synchronized(!Suggest.plans.keySet.toArray.exists(
      _.asInstanceOf[DataFrame].sparkSession.sparkContext.isStopped)),
      "the stopped session is still pinned")
  }
}
