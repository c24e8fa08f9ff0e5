package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Coverage queries for the remaining SURVEY.md §2 operator families:
  *
  *  - q17: G3 phrase windows + A5 popcount bitmask aggregation
  *    (reference /root/reference/include/adr/normalize.h:136-190; the
  *    reference-exact recursive synonym expansion is graft.text.Phrases,
  *    pinned byte-for-byte by TextGoldenSpec — this query demonstrates the
  *    declarative window-enumeration shape that Catalyst codegens).
  *  - q18: X8/X9/X11 score priors (category prior, clamped log-population
  *    score, language-preference score; get_suggestions.cc:38-55, 427-448).
  *  - q34: J5/J6 spatial cell join + X13 distance + X10 distance tiers
  *    (extract.cc:289-357, reverse.cc:39-132): points and sites binned to
  *    1-degree cells, sites exploded to 3×3 neighbor cells so every point
  *    probes exactly its own cell — the broadcast-free, shuffle-on-cell
  *    spatial join that survives 100 TB (no cross join anywhere).
  *  - q35: A7/A8/A9 area-set operators + D4 hash-consing
  *    (typeahead.cc:26-39, 308-315; guess_context.cc:14-23, 105-133):
  *    containment chains as ArrayType columns, argmin/first-match via
  *    array HOFs, distinct sets interned to dense ids.
  */
object Extras {
  import Tables.load

  /** G3+A5: contiguous token windows of length 1..4 over interned part
    * names, each tagged with its absolute-token bitmask (LSB = token 0,
    * normalize.h:73-75) and its popcount. */
  def q17Phrases(spark: SparkSession, dir: String): DataFrame = {
    val interned = load(spark, dir, "part")
      .select(graft.functions.normalize_text(col("p_name")).as("name"), col("p_partkey"))
      .groupBy(col("name")).agg(min(col("p_partkey")).as("name_id"))
    interned
      .withColumn("t", split(col("name"), " "))
      .select(col("name_id"), col("t"),
        explode(sequence(lit(1), size(col("t")))).as("frm"))
      .select(col("name_id"), col("t"), col("frm"),
        explode(sequence(lit(1), least(lit(4), size(col("t")) - col("frm") + 1))).as("len"))
      .select(col("name_id"), col("frm"), col("len"),
        concat_ws(" ", slice(col("t"), col("frm"), col("len"))).as("phrase"),
        expr("CAST(shiftleft(shiftleft(1, len) - 1, frm - 1) AS BIGINT)").as("token_bits"))
      .withColumn("n_bits", bit_count(col("token_bits")).cast("int"))
  }

  /** X8/X9/X11 priors over documents: category prior (source), clamped
    * log10 population-style score (n_chars as the size signal), language
    * preference by array_position against a preference list. */
  def q18PriorScores(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
    val category = when(col("source").isin("src0", "src1", "src2"), 3.0)
      .when(col("source").isin("src3", "src4"), 2.0)
      .otherwise(-0.5)
    val pop = round(least(lit(5.0),
      greatest(lit(1.2), lit(1.25) * (log10(col("n_chars")) - 1))), 6)
    val langPos = array_position(array(lit("en"), lit("de")), col("lang"))
    val langScore = when(langPos === 1, 0.5).when(langPos === 2, 0.25).otherwise(-0.1)
    d.select(col("doc_id"),
      category.as("category_score"),
      pop.as("pop_score"),
      langScore.as("lang_score"),
      round(category + pop + langScore, 6).as("score"))
  }

  /** Deterministic synthetic coordinates shared by q34/q40/q52. */
  private[ops] def coords(df: DataFrame, key: String, idName: String): DataFrame =
    df.select(col(key).as(idName),
      ((col(key) * 7919) % 1000).cast("double").divide(100.0).minus(5.0).as("lat"),
      ((col(key) * 104729) % 1000).cast("double").divide(100.0).minus(5.0).as("lng"))

  /** Hot-cell cap for the q34/q40 spatial joins (same discipline as every
    * other block-expanding operator here — Dedup.MaxBlock, drop whole,
    * mirrored in the oracle via HAVING): real geo data is Zipf-dense per
    * cell (a Tokyo 1-degree cell at 100× scale is |points|×|sites| in one
    * task), so cells whose replicated-site count exceeds the cap stop
    * producing candidates entirely — the reference analogue is the
    * R-tree's logarithmic candidate bound (reverse.cc:39-52; a production
    * variant would refine over-cap cells one level instead of dropping).
    * The kept-cell list is tiny by construction (≤ 360×180 one-degree
    * cells on the whole planet) so it re-attaches as a broadcast join —
    * no extra shuffle on the data path. Exposed for the dense-cell stress
    * spec. */
  private[graft] def capCells(siteCells: DataFrame): DataFrame = {
    val kept = siteCells.groupBy(col("cla"), col("clo"))
      .agg(count(lit(1)).as("cell_sites"))
      .filter(col("cell_sites") <= Dedup.MaxBlock)
      .select(col("cla"), col("clo"))
    siteCells.join(broadcast(kept), Seq("cla", "clo"))
  }

  /** Each point's own one-degree cell (`cla`, `clo`) from its `lat`/`lng`
    * — the probe side of the cell index. */
  private[ops] def probeCells(points: DataFrame): DataFrame =
    points
      .withColumn("cla", floor(col("lat")).cast("int"))
      .withColumn("clo", floor(col("lng")).cast("int"))

  /** Each site copied into the 3×3 one-degree cells (`cla`, `clo`) around
    * its own, then hot cells dropped ([[capCells]]) — the site side of the
    * cell index: a point within one degree of a site in both coordinates
    * probes one of its cells, so a point needs its own cell only. */
  private[ops] def siteCells(sites: DataFrame, lat: String, lng: String): DataFrame = {
    val offset = explode(array(lit(-1), lit(0), lit(1)))
    capCells(sites
      .withColumn("dx", offset).withColumn("dy", offset)
      .withColumn("cla", (floor(col(lat)) + col("dx")).cast("int"))
      .withColumn("clo", (floor(col(lng)) + col("dy")).cast("int"))
      .drop("dx", "dy"))
  }

  /** Customers as probes (id, lat, lng, cla, clo), shared by q34, q40,
    * q52 and q58. */
  private[ops] def probePoints(spark: SparkSession, dir: String): DataFrame =
    probeCells(coords(load(spark, dir, "customer"), "c_custkey", "id"))

  /** Suppliers as sites (site_id, s_lat, s_lng), shared by q34, q40, q52
    * and q58. */
  private[ops] def supplierSites(spark: SparkSession, dir: String): DataFrame =
    coords(load(spark, dir, "supplier"), "s_suppkey", "site_id")
      .toDF("site_id", "s_lat", "s_lng")

  /** J5/J6 spatial cell join: customers as points, suppliers as sites with
    * deterministic synthetic coordinates; sites replicated into their 3×3
    * neighbor cells, points probe one cell; exact squared-degree-distance
    * range predicate (IEEE-exact — no trig on the filter path) plus
    * haversine (X13) and distance-bias tiers (X10) as score columns. */
  def q34SpatialCellJoin(spark: SparkSession, dir: String): DataFrame = {
    val pts = probePoints(spark, dir)
    val sites = siteCells(supplierSites(spark, dir), "s_lat", "s_lng")
    val dlat = col("lat") - col("s_lat")
    val dlng = col("lng") - col("s_lng")
    val dist2 = dlat * dlat + dlng * dlng
    val hav = lit(6371.0) * lit(2.0) * asin(sqrt(
      pow(sin(radians(dlat) / 2), 2) +
        cos(radians(col("lat"))) * cos(radians(col("s_lat"))) *
          pow(sin(radians(dlng) / 2), 2)))
    pts.join(sites, Seq("cla", "clo")) // cell equi-join: shuffle on cell only
      .filter(dist2 <= 0.25)
      .select(col("id"), col("site_id"),
        round(dist2, 4).as("dist2"),
        round(hav, 2).as("hav_km"),
        when(dist2 < 0.01, 2.5).when(dist2 < 0.09, 2.0).otherwise(1.0).as("tier"))
  }

  /** J5 exact point-in-polygon + S5 ring storage (reference
    * area_database.cc:127-148 `tg_geom_within` after the R-tree candidate
    * pass; rings stored as nested coordinate lists, :41-52): each supplier
    * site owns an irregular quadrilateral ring held as an
    * `array<struct<x,y>>` column (the Parquet nested-list ring layout of
    * S5); candidate pairs come from the same 3×3-cell equi-join as q34
    * (the R-tree analogue — never a cross join), then the EXACT
    * crossing-number test refines them: a point is inside iff an odd
    * number of ring edges straddle its latitude with the edge's
    * x-intercept to its right. The test is the `PointInRing` codegen
    * expression (HOF lambdas are interpreted per row — ~9× slower on the
    * 67M-pair sf0.1 candidate stream). */
  def q40PointInPolygon(spark: SparkSession, dir: String): DataFrame = {
    val pts = probePoints(spark, dir)
    def radius(mult: Int): Column =
      lit(0.05) + ((col("site_id") * mult) % 20).cast("double") / 100.0
    val ring = array( // irregular diamond: 4 vertices, distinct radii
      struct(col("s_lng").as("x"), (col("s_lat") + radius(13)).as("y")),
      struct((col("s_lng") + radius(17)).as("x"), col("s_lat").as("y")),
      struct(col("s_lng").as("x"), (col("s_lat") - radius(19)).as("y")),
      struct((col("s_lng") - radius(23)).as("x"), col("s_lat").as("y")))
    val polys = siteCells( // S5: nested ring column
      supplierSites(spark, dir).withColumn("ring", ring), "s_lat", "s_lng")
    pts.join(polys, Seq("cla", "clo")) // cell candidates (J6 shape)
      .withColumn("n_crossings",
        graft.functions.point_in_ring(col("ring"), col("lng"), col("lat")))
      .filter(col("n_crossings") % 2 === 1) // exact PIP refinement
      .select(col("id"), col("site_id"), col("n_crossings"))
  }

  /** A7/A8/A9 + D4: containment chains (nation ⊂ region) as ArrayType
    * columns hash-consed to dense set ids; country resolution = first
    * array element at the country admin level (A9), top area = argmin by
    * admin level via array_sort (A7); per-set customer rollup (A8-shaped
    * aggregation). */
  def q35AreasetOps(spark: SparkSession, dir: String): DataFrame = {
    val n = load(spark, dir, "nation")
    val r = load(spark, dir, "region")
    val chains = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"),
        array(
          struct(lit(4).as("level"), col("n_name").as("name")),
          struct(lit(2).as("level"), col("r_name").as("name"))).as("areas"))
      // D4 hash-consing: one id per distinct chain (array equality)
      .withColumn("area_set", concat_ws("|", transform(col("areas"), a => a("name"))))
    val sets = chains.groupBy(col("area_set"))
      .agg(min(col("n_nationkey")).as("set_id"), first(col("areas")).as("areas"))
      // A9: first area with a country-level code
      .withColumn("country",
        element_at(filter(col("areas"), a => a("level") === 4), 1)("name"))
      // A7: argmin by admin level (most precise container)
      .withColumn("top_area",
        element_at(array_sort(col("areas")), 1)("name"))
    val c = load(spark, dir, "customer")
    c.join(broadcast(chains.select(col("n_nationkey"), col("area_set"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(sets.select(col("area_set"), col("set_id"), col("country"), col("top_area"))),
        Seq("area_set"))
      .groupBy(col("set_id"), col("area_set"), col("country"), col("top_area"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** X14 address formatting: supplier rows rendered with per-country
    * templates (graft.text.Formatter; reference formatter.cc:87-159). The
    * oracle replicates each template's output shape with plain concat —
    * valid because every component here is non-empty, so the cleanup
    * pipeline (empty-line removal) is the identity; the empty-component
    * paths are pinned by FormatterSpec's reference goldens instead. */
  def q36FormatAddress(spark: SparkSession, dir: String): DataFrame = {
    val s = load(spark, dir, "supplier")
    val n = load(spark, dir, "nation")
    val r = load(spark, dir, "region")
    val code = when(col("s_suppkey") % 4 === 0, "FR")
      .when(col("s_suppkey") % 4 === 1, "US")
      .when(col("s_suppkey") % 4 === 2, "DE")
      .otherwise("XX")
    s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), code.as("code"),
        graft.functions.format_address(
          col("s_suppkey").cast("string"),
          lit("Main Street"),
          (col("s_suppkey") + 10000).cast("string"),
          col("n_name"),
          col("r_name"),
          code).as("formatted"))
  }

  /** J3/F9 house-number matching under the numeric-token gate (reference
    * get_suggestions.cc:134-169; numeric rule normalize.h:192-206: a token
    * is numeric iff at least half its characters are digits). Streets =
    * interned part names; their house numbers = the child table of
    * distinct (street, p_size) pairs; each query carries one candidate
    * house-number phrase (numeric-and-present / numeric-but-absent /
    * gate-blocked non-numeric). The child join CONDITION embeds the gate —
    * non-numeric phrases may never match a house number, exactly the
    * reference's theta-join semantics. */
  def q37HousenumberJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = load(spark, dir, "part")
      .withColumn("name", graft.functions.normalize_text(col("p_name")))
    val interned = p.groupBy(col("name")).agg(min(col("p_partkey")).as("name_id"))
    val children = p
      .join(interned, Seq("name"))
      .select(col("name_id").as("c_name_id"), col("p_size").cast("string").as("hn"))
      .distinct()
    val queries = p.select(col("p_partkey").as("qid"), col("name"),
      when(col("p_partkey") % 4 === 0,
        concat(lit("xxx"), col("p_size").cast("string"))) // gate-blocked
        .when(col("p_partkey") % 4 === 1,
          (col("p_size") + 1000).cast("string")) // numeric, no such HN
        .otherwise(col("p_size").cast("string")).as("hn_phrase"))
    queries
      .join(interned, Seq("name"))
      .withColumn("is_numeric", isNumToken(col("hn_phrase")))
      .join(children, col("name_id") === col("c_name_id") &&
        col("hn") === col("hn_phrase") && col("is_numeric"), "left")
      .select(col("qid"), col("name_id"), col("hn_phrase"),
        col("is_numeric"), col("hn").isNotNull.as("hn_matched"))
  }

  /** The reference's numeric-token rule (normalize.h:192-206): a token is
    * numeric iff at least half its characters are digits. */
  private[graft] def isNumToken(t: Column): Column =
    lit(2) * length(regexp_replace(t, "[^0-9]", "")) >= length(t)

  /** The ORIGINAL interpreted-HOF formulation of the fold, kept as the
    * executable specification the codegen [[graft.functions.AreaFold]]
    * kernel is byte-parity-tested against (ExtrasSpec). Catalyst HOF
    * lambdas evaluate interpreted per row — this form was 13.6 s of the
    * round-4 61 s bench across q38/q39/q42 (the same
    * interpreted-loop-vs-codegen-kernel trade PointInRing and
    * RefBestPhrase already made); never call it on a data path.
    *
    * (An intermediate variant hoisting per-language name resolution out of
    * the fold was measured SLOWER still — q38 1.2→1.9 s, q42 2.6→4.0 s at
    * sf0.1 — because names arrays are 1-2 entries; both interpreted shapes
    * lose to the fused kernel.) */
  private[graft] def greedyAreaAssemblyMLHof(phrases: Column, areas: Column,
      langs: Column, initMask: Column): Column = {
    val init = struct(initMask.cast("long").as("tok"), lit(0L).as("amask"),
      lit(0.0d).as("dist"), lit(0L).as("alang"))
    val NoMatch = 1e9d
    val folded = aggregate(phrases, init, (acc, p) => {
      // F9 per-TOKEN numeric rule (normalize.h:192-206 via the phrase's
      // numeric_tokens_mask): every token must be majority-digits — the
      // whole-string digit ratio would misgate mixed phrases like "a1 b2"
      // (tokens both numeric, joined ratio 4/5 < 1/2 with the space)
      val isNum = forall(split(p("s"), " "), isNumToken)
      val scored = transform(sequence(lit(1), size(areas)), i => {
        val a = element_at(areas, i)
        // best score across the user's languages; areas without a name in
        // a language simply don't compete in it (find_lang < 0 skip)
        val langScored = transform(sequence(lit(1), size(langs)), li => {
          val nm = try_element_at( // empty filter result = lang absent
            filter(a("names"), x => x("lang") === element_at(langs, li)), lit(1))
          val lev = levenshtein(p("s"), nm("name"))
          val ok = nm.isNotNull &&
            (lev * 2 <= least(length(p("s")), length(nm("name"))))
          struct(when(ok, lev.cast("double")).otherwise(lit(NoMatch)).as("score"),
            li.cast("int").as("lidx"))
        })
        val bestLang = array_min(langScored) // (score, lidx): first lang wins ties
        val allowed = a("level") =!= 12 || isNum
        struct(when(allowed, bestLang("score")).otherwise(lit(NoMatch)).as("score"),
          i.cast("int").as("idx"), bestLang("lidx").as("lidx"))
      })
      val best = array_min(scored) // lexicographic (score, idx): first min wins
      val bestArea = element_at(areas, best("idx"))
      val matched = (p("bits").bitwiseAND(acc("tok")) === 0) &&
        best("score") < NoMatch
      // overwrite (not OR) the matched area's language nibble
      val nib = pow(lit(16.0d), best("idx") - 1).cast("long")
      val alangNext = acc("alang")
        .bitwiseAND(bitwise_not(nib * lit(15L)))
        .bitwiseOR(best("lidx").cast("long") * nib)
      when(matched, struct(
        acc("tok").bitwiseOR(p("bits")).as("tok"),
        acc("amask").bitwiseOR(
          pow(lit(2.0d), best("idx") - 1).cast("long")).as("amask"),
        (acc("dist") + best("score") -
          bestArea("pop").cast("double") * 2.0d / 1e7).as("dist"),
        alangNext.as("alang")))
        .otherwise(acc)
    })
    // entities without areas: identity result (the when short-circuits the
    // fold, so element_at never probes the empty array under ANSI mode)
    when(size(areas) === 0 || phrases.isNull || areas.isNull, init)
      .otherwise(folded)
  }

  /** A6 as an oracle-checked query, MULTI-LANGUAGE edition: each customer
    * is a query whose phrase list is [nation-name variant (en-exact /
    * de-exact / 1-char-dropped / garbage), numeric zip candidate, region
    * name] with deliberately OVERLAPPING token bits (1, 2, 5) against its
    * nation⊂region⊂zip area chain — so the region phrase is greedily
    * skipped exactly when the nation phrase matched first, which no
    * order-free per-phrase min can reproduce. The nation area carries TWO
    * names (en = nation name, de = nation name + "land"; user language
    * list [en, de]), so the de-exact phrase variant matches the nation
    * area THROUGH ITS GERMAN NAME — the activate_areas cross-language min
    * (get_suggestions.cc:88-104) — and `matched_area_langs` carries the
    * per-area winning-language nibbles (guess_context.h:43-46). */
  def q38AreaAssembly(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
    val n = load(spark, dir, "nation")
    val r = load(spark, dir, "region")
    val joined = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    val nName = lower(col("n_name"))
    val rName = lower(col("r_name"))
    val deName = concat(nName, lit("land"))
    val p1 = when(col("c_custkey") % 4 === 0, nName)
      .when(col("c_custkey") % 4 === 1, deName)
      .when(col("c_custkey") % 4 === 2,
        substring(nName, lit(1), length(nName) - 1))
      .otherwise(lit("zzz"))
    val phrases = array(
      struct(p1.as("s"), lit(1L).as("bits")),
      struct((col("c_custkey") % 100).cast("string").as("s"), lit(2L).as("bits")),
      struct(rName.as("s"), lit(5L).as("bits")))
    val areas = array(
      struct(array(
          struct(nName.as("name"), lit("en").as("lang")),
          struct(deName.as("name"), lit("de").as("lang"))).as("names"),
        lit(4).as("level"),
        ((col("n_nationkey") * 500000) % 8000000).cast("long").as("pop")),
      struct(array(
          struct(rName.as("name"), lit("en").as("lang"))).as("names"),
        lit(2).as("level"), lit(0L).as("pop")),
      struct(array(
          struct(((col("c_nationkey") * 37) % 100).cast("string").as("name"),
            lit("en").as("lang"))).as("names"),
        lit(12).as("level"), lit(0L).as("pop")))
    val res = graft.functions.area_fold(phrases, areas,
      array(lit("en"), lit("de")), lit(0L))
    // fixed-point 1e-4 units (same rationale as q42's score_fp: the pop
    // bonus k·2/1e7 makes the dist decimal-half-way prone, and Spark's
    // decimal HALF_UP round() diverges from DuckDB's binary round there;
    // floor of the bit-identical double is engine-independent)
    joined.select(col("c_custkey").as("qid"),
      res("tok").as("matched_tokens_mask"),
      res("amask").as("matched_areas_mask"),
      floor(res("dist") * 10000 + 0.5).cast("long").as("areas_dist_fp"),
      res("alang").as("matched_area_langs"))
  }

  val oracles: Map[String, String] = Map(
    "q37_housenumber_join" ->
      """WITH interned AS (
        |  SELECT lower(p_name) AS name, CAST(min(p_partkey) AS BIGINT) AS name_id
        |  FROM part GROUP BY 1),
        |ch AS (
        |  SELECT DISTINCT i.name_id, CAST(p.p_size AS VARCHAR) AS hn
        |  FROM part p JOIN interned i ON lower(p.p_name) = i.name),
        |q AS (
        |  SELECT p_partkey AS qid, lower(p_name) AS name,
        |    CASE WHEN p_partkey % 4 = 0 THEN 'xxx' || CAST(p_size AS VARCHAR)
        |         WHEN p_partkey % 4 = 1 THEN CAST(p_size + 1000 AS VARCHAR)
        |         ELSE CAST(p_size AS VARCHAR) END AS hn_phrase
        |  FROM part),
        |qn AS (
        |  SELECT qid, name, hn_phrase,
        |    2 * len(regexp_replace(hn_phrase, '[^0-9]', '', 'g')) >= len(hn_phrase)
        |      AS is_numeric
        |  FROM q)
        |SELECT qid, i.name_id, qn.hn_phrase, qn.is_numeric,
        |  ch.hn IS NOT NULL AS hn_matched
        |FROM qn JOIN interned i ON qn.name = i.name
        |LEFT JOIN ch ON ch.name_id = i.name_id AND ch.hn = qn.hn_phrase
        |  AND qn.is_numeric""".stripMargin,
    // A6 greedy fold, unrolled to scalar SQL: the query's phrase and area
    // lists are fixed length 3, so each greedy step becomes one CTE with
    // explicit argmin-by-(score, index) and mask updates — an exact mirror
    // of the Spark `aggregate` fold. The bilingual nation area unrolls as
    // a per-language least() with first-language-wins tie-break (l11 etc.)
    // and the matched-language nibbles mirror the overwrite arithmetic.
    "q38_area_assembly" ->
      """WITH base AS (
        |  SELECT c_custkey AS qid,
        |    CASE WHEN c_custkey % 4 = 0 THEN lower(n_name)
        |         WHEN c_custkey % 4 = 1 THEN lower(n_name) || 'land'
        |         WHEN c_custkey % 4 = 2 THEN substr(lower(n_name), 1, CAST(len(n_name) AS INT) - 1)
        |         ELSE 'zzz' END AS p1,
        |    CAST(c_custkey % 100 AS VARCHAR) AS p2,
        |    lower(r_name) AS p3,
        |    lower(n_name) AS a1en, lower(n_name) || 'land' AS a1de,
        |    lower(r_name) AS a2,
        |    CAST((c_nationkey * 37) % 100 AS VARCHAR) AS a3,
        |    CAST((n_nationkey * 500000) % 8000000 AS BIGINT) AS pop1
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |s AS (
        |  SELECT *,
        |    CASE WHEN 2 * levenshtein(p1, a1en) <= least(len(p1), len(a1en))
        |      THEN CAST(levenshtein(p1, a1en) AS DOUBLE) ELSE 1e9 END AS s11a,
        |    CASE WHEN 2 * levenshtein(p1, a1de) <= least(len(p1), len(a1de))
        |      THEN CAST(levenshtein(p1, a1de) AS DOUBLE) ELSE 1e9 END AS s11b,
        |    CASE WHEN 2 * levenshtein(p1, a2) <= least(len(p1), len(a2))
        |      THEN CAST(levenshtein(p1, a2) AS DOUBLE) ELSE 1e9 END AS s12,
        |    1e9 AS s13,
        |    CASE WHEN 2 * levenshtein(p2, a1en) <= least(len(p2), len(a1en))
        |      THEN CAST(levenshtein(p2, a1en) AS DOUBLE) ELSE 1e9 END AS s21a,
        |    CASE WHEN 2 * levenshtein(p2, a1de) <= least(len(p2), len(a1de))
        |      THEN CAST(levenshtein(p2, a1de) AS DOUBLE) ELSE 1e9 END AS s21b,
        |    CASE WHEN 2 * levenshtein(p2, a2) <= least(len(p2), len(a2))
        |      THEN CAST(levenshtein(p2, a2) AS DOUBLE) ELSE 1e9 END AS s22,
        |    CASE WHEN 2 * levenshtein(p2, a3) <= least(len(p2), len(a3))
        |      THEN CAST(levenshtein(p2, a3) AS DOUBLE) ELSE 1e9 END AS s23,
        |    CASE WHEN 2 * levenshtein(p3, a1en) <= least(len(p3), len(a1en))
        |      THEN CAST(levenshtein(p3, a1en) AS DOUBLE) ELSE 1e9 END AS s31a,
        |    CASE WHEN 2 * levenshtein(p3, a1de) <= least(len(p3), len(a1de))
        |      THEN CAST(levenshtein(p3, a1de) AS DOUBLE) ELSE 1e9 END AS s31b,
        |    CASE WHEN 2 * levenshtein(p3, a2) <= least(len(p3), len(a2))
        |      THEN CAST(levenshtein(p3, a2) AS DOUBLE) ELSE 1e9 END AS s32,
        |    1e9 AS s33
        |  FROM base),
        |sl AS (
        |  SELECT *,
        |    least(s11a, s11b) AS s11, CASE WHEN s11a <= s11b THEN 1 ELSE 2 END AS l11,
        |    least(s21a, s21b) AS s21, CASE WHEN s21a <= s21b THEN 1 ELSE 2 END AS l21,
        |    least(s31a, s31b) AS s31, CASE WHEN s31a <= s31b THEN 1 ELSE 2 END AS l31
        |  FROM s),
        |t1 AS (
        |  SELECT *, least(s11, s12, s13) AS m1,
        |    CASE WHEN s11 = least(s11, s12, s13) THEN 1
        |         WHEN s12 = least(s11, s12, s13) THEN 2 ELSE 3 END AS i1,
        |    least(s11, s12, s13) < 1e9 AS ok1
        |  FROM sl),
        |u1 AS (
        |  SELECT *,
        |    CASE WHEN ok1 THEN 1 ELSE 0 END AS tok1,
        |    CASE WHEN ok1 THEN 1 << (i1 - 1) ELSE 0 END AS am1,
        |    CASE WHEN ok1 THEN m1
        |      - (CASE WHEN i1 = 1 THEN pop1 ELSE 0 END) * 2.0 / 10000000.0
        |      ELSE 0.0 END AS d1,
        |    CASE WHEN ok1 THEN (CASE WHEN i1 = 1 THEN l11 ELSE 1 END)
        |      * (CASE i1 WHEN 1 THEN 1 WHEN 2 THEN 16 ELSE 256 END)
        |      ELSE 0 END AS al1
        |  FROM t1),
        |t2 AS (
        |  SELECT *, least(s21, s22, s23) AS m2,
        |    CASE WHEN s21 = least(s21, s22, s23) THEN 1
        |         WHEN s22 = least(s21, s22, s23) THEN 2 ELSE 3 END AS i2,
        |    (2 & tok1) = 0 AND least(s21, s22, s23) < 1e9 AS ok2
        |  FROM u1),
        |u2 AS (
        |  SELECT *,
        |    tok1 + CASE WHEN ok2 THEN 2 ELSE 0 END AS tok2,
        |    am1 | CASE WHEN ok2 THEN 1 << (i2 - 1) ELSE 0 END AS am2,
        |    d1 + CASE WHEN ok2 THEN m2
        |      - (CASE WHEN i2 = 1 THEN pop1 ELSE 0 END) * 2.0 / 10000000.0
        |      ELSE 0.0 END AS d2,
        |    CASE WHEN ok2 THEN al1
        |      - ((al1 // (CASE i2 WHEN 1 THEN 1 WHEN 2 THEN 16 ELSE 256 END)) % 16)
        |        * (CASE i2 WHEN 1 THEN 1 WHEN 2 THEN 16 ELSE 256 END)
        |      + (CASE WHEN i2 = 1 THEN l21 ELSE 1 END)
        |        * (CASE i2 WHEN 1 THEN 1 WHEN 2 THEN 16 ELSE 256 END)
        |      ELSE al1 END AS al2
        |  FROM t2),
        |t3 AS (
        |  SELECT *, least(s31, s32, s33) AS m3,
        |    CASE WHEN s31 = least(s31, s32, s33) THEN 1
        |         WHEN s32 = least(s31, s32, s33) THEN 2 ELSE 3 END AS i3,
        |    (5 & tok2) = 0 AND least(s31, s32, s33) < 1e9 AS ok3
        |  FROM u2),
        |u3 AS (
        |  SELECT *,
        |    tok2 + CASE WHEN ok3 THEN 5 ELSE 0 END AS tok3,
        |    am2 | CASE WHEN ok3 THEN 1 << (i3 - 1) ELSE 0 END AS am3,
        |    d2 + CASE WHEN ok3 THEN m3
        |      - (CASE WHEN i3 = 1 THEN pop1 ELSE 0 END) * 2.0 / 10000000.0
        |      ELSE 0.0 END AS d3,
        |    CASE WHEN ok3 THEN al2
        |      - ((al2 // (CASE i3 WHEN 1 THEN 1 WHEN 2 THEN 16 ELSE 256 END)) % 16)
        |        * (CASE i3 WHEN 1 THEN 1 WHEN 2 THEN 16 ELSE 256 END)
        |      + (CASE WHEN i3 = 1 THEN l31 ELSE 1 END)
        |        * (CASE i3 WHEN 1 THEN 1 WHEN 2 THEN 16 ELSE 256 END)
        |      ELSE al2 END AS al3
        |  FROM t3)
        |SELECT qid, CAST(tok3 AS BIGINT) AS matched_tokens_mask,
        |  CAST(am3 AS BIGINT) AS matched_areas_mask,
        |  CAST(floor(d3 * 10000 + 0.5) AS BIGINT) AS areas_dist_fp,
        |  CAST(al3 AS BIGINT) AS matched_area_langs
        |FROM u3""".stripMargin,
    "q36_format_address" ->
      """SELECT s_suppkey,
        |  CASE s_suppkey % 4 WHEN 0 THEN 'FR' WHEN 1 THEN 'US'
        |       WHEN 2 THEN 'DE' ELSE 'XX' END AS code,
        |  CASE s_suppkey % 4
        |    WHEN 0 THEN s_suppkey || ' Main Street, ' || (s_suppkey + 10000)
        |      || ' ' || n_name || ', ' || r_name
        |    WHEN 1 THEN s_suppkey || ' Main Street, ' || n_name || ', '
        |      || (s_suppkey + 10000) || ', ' || r_name
        |    WHEN 2 THEN 'Main Street ' || s_suppkey || ', ' || (s_suppkey + 10000)
        |      || ' ' || n_name || ', ' || r_name
        |    ELSE s_suppkey || ' Main Street' END AS formatted
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q17_phrases" ->
      """WITH interned AS (
        |  SELECT lower(p_name) AS name, CAST(min(p_partkey) AS BIGINT) AS name_id
        |  FROM part GROUP BY 1),
        |tok AS (SELECT name_id, string_split(name, ' ') AS t FROM interned),
        |w AS (
        |  SELECT name_id, CAST(f.f AS INT) AS frm, CAST(l.l AS INT) AS len,
        |    array_to_string(t[f.f : f.f + l.l - 1], ' ') AS phrase,
        |    CAST(((1 << l.l) - 1) << (f.f - 1) AS BIGINT) AS token_bits
        |  FROM tok,
        |    LATERAL (SELECT unnest(generate_series(1, len(t))) AS f) f,
        |    LATERAL (SELECT unnest(generate_series(1, least(4, len(t) - f.f + 1))) AS l) l)
        |SELECT name_id, frm, len, phrase, token_bits,
        |  CAST(bit_count(token_bits) AS INT) AS n_bits
        |FROM w""".stripMargin,
    "q18_prior_scores" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN source IN ('src0','src1','src2') THEN 3.0
        |         WHEN source IN ('src3','src4') THEN 2.0 ELSE -0.5 END AS DOUBLE) AS category_score,
        |    round(least(5.0, greatest(1.2, 1.25 * (log10(n_chars) - 1))), 6) AS pop_score,
        |    CAST(CASE list_position(['en','de'], lang)
        |         WHEN 1 THEN 0.5 WHEN 2 THEN 0.25 ELSE -0.1 END AS DOUBLE) AS lang_score
        |  FROM documents)
        |SELECT doc_id, category_score, pop_score, lang_score,
        |  round(category_score + pop_score + lang_score, 6) AS score
        |FROM s""".stripMargin,
    "q34_spatial_cell_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lat,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lng
        |  FROM customer),
        |sites AS (
        |  SELECT s_suppkey AS site_id,
        |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lat,
        |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lng
        |  FROM supplier),
        |site_cells AS (
        |  SELECT site_id, lat, lng,
        |    CAST(floor(lat) + dx.dx AS INT) AS cla, CAST(floor(lng) + dy.dy AS INT) AS clo
        |  FROM sites,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dx) dx,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dy) dy),
        |cell_ok AS (
        |  SELECT cla, clo FROM site_cells GROUP BY 1, 2 HAVING count(*) <= 256),
        |site_kept AS (
        |  SELECT s.* FROM site_cells s JOIN cell_ok k
        |    ON s.cla = k.cla AND s.clo = k.clo),
        |pt_cells AS (
        |  SELECT id, lat, lng, CAST(floor(lat) AS INT) AS cla,
        |    CAST(floor(lng) AS INT) AS clo FROM pts),
        |j AS (
        |  SELECT p.id, s.site_id, p.lat - s.lat AS dlat, p.lng - s.lng AS dlng,
        |    p.lat AS plat, s.lat AS slat
        |  FROM pt_cells p JOIN site_kept s ON p.cla = s.cla AND p.clo = s.clo)
        |SELECT id, site_id,
        |  round(dlat * dlat + dlng * dlng, 4) AS dist2,
        |  round(6371.0 * 2.0 * asin(sqrt(
        |    pow(sin(radians(dlat) / 2), 2)
        |      + cos(radians(plat)) * cos(radians(slat)) * pow(sin(radians(dlng) / 2), 2))), 2) AS hav_km,
        |  CAST(CASE WHEN dlat * dlat + dlng * dlng < 0.01 THEN 2.5
        |       WHEN dlat * dlat + dlng * dlng < 0.09 THEN 2.0 ELSE 1.0 END AS DOUBLE) AS tier
        |FROM j WHERE dlat * dlat + dlng * dlng <= 0.25""".stripMargin,
    "q40_point_in_polygon" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lat,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS lng
        |  FROM customer),
        |poly AS (
        |  SELECT s_suppkey AS site_id,
        |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 - 5.0 AS sy,
        |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 - 5.0 AS sx,
        |    0.05 + CAST((s_suppkey * 13) % 20 AS DOUBLE) / 100.0 AS r1,
        |    0.05 + CAST((s_suppkey * 17) % 20 AS DOUBLE) / 100.0 AS r2,
        |    0.05 + CAST((s_suppkey * 19) % 20 AS DOUBLE) / 100.0 AS r3,
        |    0.05 + CAST((s_suppkey * 23) % 20 AS DOUBLE) / 100.0 AS r4
        |  FROM supplier),
        |cells AS (
        |  SELECT *, CAST(floor(sy) + dx.dx AS INT) AS cla,
        |    CAST(floor(sx) + dy.dy AS INT) AS clo
        |  FROM poly,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dx) dx,
        |    LATERAL (SELECT unnest([-1,0,1]) AS dy) dy),
        |cell_ok AS (
        |  SELECT cla, clo FROM cells GROUP BY 1, 2 HAVING count(*) <= 256),
        |cells_kept AS (
        |  SELECT s.* FROM cells s JOIN cell_ok k
        |    ON s.cla = k.cla AND s.clo = k.clo),
        |j AS (
        |  SELECT p.id, s.site_id, p.lat, p.lng,
        |    s.sx, s.sy, s.r1, s.r2, s.r3, s.r4
        |  FROM pts p JOIN cells_kept s
        |    ON CAST(floor(p.lat) AS INT) = s.cla AND CAST(floor(p.lng) AS INT) = s.clo),
        |c AS (
        |  SELECT id, site_id,
        |    CASE WHEN ((sy + r1 > lat) <> (sy > lat))
        |      AND lng < (sx + r2 - sx) * (lat - (sy + r1)) / (sy - (sy + r1)) + sx
        |      THEN 1 ELSE 0 END
        |    + CASE WHEN ((sy > lat) <> (sy - r3 > lat))
        |      AND lng < (sx - (sx + r2)) * (lat - sy) / ((sy - r3) - sy) + (sx + r2)
        |      THEN 1 ELSE 0 END
        |    + CASE WHEN ((sy - r3 > lat) <> (sy > lat))
        |      AND lng < ((sx - r4) - sx) * (lat - (sy - r3)) / (sy - (sy - r3)) + sx
        |      THEN 1 ELSE 0 END
        |    + CASE WHEN ((sy > lat) <> (sy + r1 > lat))
        |      AND lng < (sx - (sx - r4)) * (lat - sy) / ((sy + r1) - sy) + (sx - r4)
        |      THEN 1 ELSE 0 END AS n_crossings
        |  FROM j)
        |SELECT id, CAST(site_id AS BIGINT) AS site_id,
        |  CAST(n_crossings AS INT) AS n_crossings
        |FROM c WHERE n_crossings % 2 = 1""".stripMargin,
    "q35_areaset_ops" ->
      """WITH sets AS (
        |  SELECT n_name || '|' || r_name AS area_set,
        |    CAST(min(n_nationkey) AS BIGINT) AS set_id,
        |    min(n_name) AS country, min(r_name) AS top_area
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1)
        |SELECT s.set_id, s.area_set, s.country, s.top_area, count(*) AS n_customers
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |JOIN sets s ON s.area_set = n.n_name || '|' || r.r_name
        |GROUP BY 1, 2, 3, 4""".stripMargin
  )
}
