package graft.er

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A seeded typeahead fixture for `Suggest.suggest`: an entity table of
  * `Corpus.entityName` surfaces and a request set of typed prefixes.
  *
  * Even ids are streets whose house numbers cover duplicates, empty and
  * null arrays and non-numeric forms; odd ids are places. Every entity
  * carries its city (the name's last word) as its one area, named in
  * German as well for every fifth id; the places of one city share a
  * `location`, so duplicate marking fires. Texts are `Corpus.corrupt`
  * variants of entity names, streets followed by one of their house
  * numbers, and every text is sent as each of its prefixes whose match key
  * has at least two characters (shorter ones `suggest` drops).
  *
  * The rows `render` prints for `requests` under `UserLangs` are pinned in
  * `src/test/resources/suggest_golden.tsv`. */
object SuggestFixture {
  val TableSeed = 42L
  val Entities = 400
  val Texts = 10
  val UserLangs = Seq("default", "de")
  val GoldenResource = "/suggest_golden.tsv"

  private def houseNumbers(e: Long, h: Long): Seq[String] = (e % 10).toInt match {
    case 0 => Seq("12", "12", "7")
    case 2 => Seq.empty
    case 4 => null
    case 6 => Seq(s"${e % 13 + 1}a", s"bl. ${e % 13 + 1}", (e % 13 + 1).toString)
    case _ => (1 to 1 + DetRandom.int(h >>> 7, 4)).map(k => (k * 7 + e % 13).toString)
  }

  def entityRows: Seq[Ent] = (0L until Entities.toLong).map { e =>
    val name = Corpus.entityName(TableSeed, e)
    val h = DetRandom.hash(TableSeed, 70L, e)
    val city = name.substring(name.lastIndexOf(' ') + 1)
    val areaNames = AreaName(city, "default") +:
      (if (e % 5 == 0) Seq(AreaName(city.toLowerCase + "er", "de")) else Nil)
    val street = e % 2 == 0
    Ent(e, name, if (street) "street" else "place",
      if (street) "" else Seq("city", "town", "village", "locality", "none")(DetRandom.int(h, 5)),
      if (street) 0L else DetRandom.int(DetRandom.mix64(h), 600000).toLong,
      Seq("default", "de", "xx")((e % 3).toInt),
      if (street) e else 100000L + (city.hashCode & 0xffff),
      Seq(Area(areaNames, 8, 100000L)),
      if (street) houseNumbers(e, h) else Nil)
  }

  def entities(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entityRows.toDS().toDF()
  }

  /** Whole texts: a corrupted name, plus one of the street's house
    * numbers (or a number it lacks) after street names. Text k names an
    * entity with id k mod 10, so the texts cover every house-number shape
    * and both kinds. */
  def texts: Seq[String] = {
    val byId = entityRows.map(en => en.entity_id -> en).toMap
    (0 until Texts).map { k =>
      val h = DetRandom.hash(TableSeed, 71L, k.toLong)
      val en = byId(DetRandom.int(h, Entities / 10) * 10L + k % 10)
      val base = Corpus.corrupt(en.name, DetRandom.mix64(h))
      val hns = Option(en.house_numbers).getOrElse(Nil)
      if (en.kind != "street") base
      else if (hns.isEmpty) s"$base ${7 + k}"
      else s"$base ${hns(DetRandom.int(h >>> 9, hns.size))}"
    }
  }

  /** (query_id, text): every answerable prefix of every text, numbered in
    * order from 1. */
  def requests: Seq[(Long, String)] = texts.flatMap(t => (1 to t.length).map(t.substring(0, _))
      .dropWhile(p => graft.text.MatchKeys.matchKey(p).length < 2))
    .zipWithIndex.map { case (t, i) => (i + 1L, t) }

  /** One line per row, columns tab-separated in frame order, nulls as
    * `\N`, rows sorted by (query_id, rank); the first line names the
    * columns. */
  def render(df: DataFrame): Seq[String] =
    df.columns.mkString("\t") +: df.orderBy("query_id", "rank").collect().toSeq.map(cells)

  def cells(r: Row): String =
    r.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("\t")

  def golden: Seq[String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(GoldenResource), "UTF-8")
    try src.getLines().toVector finally src.close()
  }
}
