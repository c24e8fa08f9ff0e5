package graft.er

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.{functions => gf}

/** The full `get_suggestions` lifecycle (reference §3.1,
  * /root/reference/src/get_suggestions.cc:607-773) composed as ONE batch
  * DataFrame DAG over a query table — stages 4-10 of the reference's
  * per-query flow become shuffle-bounded relational stages over ALL
  * queries at once:
  *
  *  4. candidate generation: query-trigram ⋈ name-trigram index, posting
  *     count + min-match-count + cos² ≥ 0.17 cut, top-6000 per query
  *     (typeahead.cc:372-439, kMaxMatches typeahead.cc:428)
  *  5. string×phrase score matrix with the reference scorer
  *     (get_suggestions.cc:494-508; scorer score.h:162-269 — the
  *     byte-exact `RefMatchScore` kernel expression, NULL = kNoMatch)
  *  6. street/place split from one candidate set, bounded top-10000 per
  *     branch (get_suggestions.cc:510-605, kMaxScoredMatches :27)
  *  7. streets: house-number matching under the numeric-phrase gate
  *     (J3/F9, get_suggestions.cc:134-169) + greedy area assembly (A6,
  *     :181-255 — the `area_fold` kernel) + bonuses (X12)
  *  8. places: category prior (X8), population score (X9), language
  *     preference (X11) + the same area assembly (:331-492)
  * 10. duplicate marking over (query, location) (K5, :703-731) and
  *     final top-n (K3, :733-743)
  *
  * (Stage 9 — distance bias / bbox — needs a caller-supplied coordinate
  * and is covered by q34's tier/range operators.)
  *
  * Scale shape: every join is an equi-join on (gram | query_id |
  * entity_id); hot grams are capped (ops.Dedup.MaxBlock); every per-query
  * stream is bounded by the reference's own caps before the next stage.
  */
object Suggest {

  val MaxCandidates = 6000 // K1 cap, typeahead.cc:428
  val MaxScored = 10000 // K2 cap per branch, get_suggestions.cc:27
  val MaxTokens = 8 // types.h:142
  val MaxPhraseLen = 4

  private def isNumToken(t: Column): Column = // normalize.h:192-206
    lit(2) * length(regexp_replace(t, "[^0-9]", "")) >= length(t)

  private def byteLen(c: Column): Column = octet_length(c)

  /** Entity `areas` column type: MULTI-LANGUAGE names per area
    * (typeahead.h:88-90 area_names_/area_name_lang_ — one name per
    * discovered language; the fold takes the best across the user's
    * language list, get_suggestions.cc:88-104). */
  val AreasType: String =
    "array<struct<names:array<struct<name:string,lang:string>>,level:int,pop:bigint>>"

  /** Driver-facing composed query (rows-only check — the reference scorer
    * at its heart has no SQL analogue, same omission class as q16; the
    * fixture-level goldens live in SuggestSpec): part names become
    * streets with their size values as house numbers, suppliers become
    * places with category/population/language attributes, and queries are
    * "name size" probes sampled from parts. */
  def q39Suggest(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val p = graft.ops.Tables.load(spark, dir, "part")
      .withColumn("nname", gf.normalize_text(col("p_name")))
    val streets = p.groupBy(col("nname"))
      .agg(min(col("p_partkey")).cast("long").as("entity_id"),
        min(col("p_name")).as("name"),
        sort_array(collect_set(col("p_size").cast("string"))).as("house_numbers"),
        lower(min(col("p_brand"))).as("mfgr"))
      .select(col("entity_id"), col("name"), lit("street").as("kind"),
        lit("").as("category"), lit(0L).as("population"),
        lit("default").as("name_lang"), col("entity_id").as("location"),
        array(struct(
          array(struct(col("mfgr").as("name"), lit("default").as("lang"))).as("names"),
          lit(4).as("level"), lit(0L).as("pop"))).as("areas"),
        col("house_numbers"))
    val s = graft.ops.Tables.load(spark, dir, "supplier")
    val places = s.select(
      (col("s_suppkey") + 10000000L).cast("long").as("entity_id"),
      col("s_name").as("name"), lit("place").as("kind"),
      when(col("s_suppkey") % 5 === 0, "city").when(col("s_suppkey") % 5 === 1, "town")
        .when(col("s_suppkey") % 5 === 2, "village")
        .when(col("s_suppkey") % 5 === 3, "locality").otherwise("none").as("category"),
      ((col("s_suppkey") * 1234) % 600000).cast("long").as("population"),
      when(col("s_suppkey") % 3 === 0, "default").when(col("s_suppkey") % 3 === 1, "de")
        .otherwise("xx").as("name_lang"),
      (col("s_suppkey") + 10000000L).cast("long").as("location"),
      array().cast(AreasType).as("areas"),
      array().cast("array<string>").as("house_numbers"))
    val entities = streets.unionByName(places)
    val queries = p.filter(col("p_partkey") % 97 === 0)
      .select(col("p_partkey").cast("long").as("query_id"),
        concat(col("p_name"), lit(" "), col("p_size").cast("string")).as("text"))
    suggest(queries, entities)
  }

  /** queries(query_id: long, text: string)
    * entities(entity_id: long, name: string, kind: 'street'|'place',
    *   category: string, population: long, name_lang: string,
    *   location: long, areas: array<struct<name,level,pop>>,
    *   house_numbers: array<string>)
    * → ranked suggestions per query.
    *
    * The plan is prepared once per entity frame: the first call for a
    * given (entity frame, query schema, `topN`, `userLangs`) builds the
    * stages below over a placeholder query leaf and keeps the ANALYZED
    * plan; every call, that one included, binds its query rows into the
    * copies of that leaf (`bind`). A keystroke then pays for one
    * substitution and the optimizer, not for ~40 eagerly analyzed
    * Dataset operations and the index lookups. The optimized and physical
    * plans are not kept: the optimizer folds the query rows into the plan
    * (`ConvertToLocalRelation`), so they hold for one query frame only. */
  def suggest(queries: DataFrame, entities: DataFrame, topN: Int = 10,
      userLangs: Seq[String] = Seq("default")): DataFrame =
    bind(prepared(entities, queries.schema, topN, userLangs), queries)

  /** Stands in for the caller's query rows while the plan is built.
    * Analysis renames each self-joined reference to it (`newInstance`),
    * so the analyzed plan holds several copies, each with its own
    * exprIds; `bind` replaces them all. It never reaches the optimizer. */
  private[er] case class QueryLeaf(output: Seq[Attribute])
      extends LeafNode with MultiInstanceRelation {
    override def newInstance(): QueryLeaf = copy(output = output.map(_.newInstance()))
  }

  /** Prepared plans per entity frame, keyed within it by (query schema,
    * topN, userLangs): the analyzed plan and the `postings` frame it
    * reads. The entity frame is held weakly, so an entry lives as long as
    * its caller keeps the frame. Contract: a DataFrame's plan is
    * immutable, so a prepared plan stays valid for the life of its entity
    * frame. Each call first drops the entries of sessions whose
    * SparkContext has stopped, as `ops.Tables.load` does, so the memo
    * does not pin them, and persists the postings again when a drain of
    * `ops.Caches` has released them since the last call. */
  private[er] val plans = new java.util.WeakHashMap[DataFrame,
    Map[(StructType, Int, Seq[String]), (LogicalPlan, DataFrame)]]()

  private def prepared(entities: DataFrame, schema: StructType, topN: Int,
      userLangs: Seq[String]): LogicalPlan = plans.synchronized {
    plans.keySet.removeIf(_.sparkSession.sparkContext.isStopped)
    val byKey = plans.getOrDefault(entities, Map.empty)
    val key = (schema, topN, userLangs)
    val (plan, postings) = byKey.getOrElse(key, {
      val leaf = Bridge.ofRows(entities.sparkSession, QueryLeaf(DataTypeUtils.toAttributes(schema)))
      val postings = entityIndex(entities)
      val entry = (build(leaf, entities, postings, topN, userLangs).queryExecution.analyzed, postings)
      plans.put(entities, byKey + (key -> entry))
      entry
    })
    cached(postings)
    plan
  }

  /** The prepared plan over `queries`: each copy of the query leaf
    * becomes a projection of the caller's analyzed rows that re-aliases
    * every column to the copy's exprId, so the plan above it is reused
    * as is. One substitution serves one-row keystrokes and batched calls
    * alike. */
  private def bind(plan: LogicalPlan, queries: DataFrame): DataFrame = {
    val rows = queries.queryExecution.analyzed
    Bridge.ofRows(queries.sparkSession, plan.transformUp {
      case leaf: QueryLeaf => Project(leaf.output.zip(rows.output).map { case (p, c) =>
        Alias(c, p.name)(exprId = p.exprId) }, rows)
    })
  }

  /** Stages 1-10 over `queries`, built once per prepared plan. */
  private def build(queries: DataFrame, entities: DataFrame, postings: DataFrame,
      topN: Int, userLangs: Seq[String]): DataFrame = {

    // ---- stages 1-3: tokenize, phrase windows (G2/G3; alternates are
    // handled by match-key canonicalization in this engine, MatchKeys)
    val phraseArr = {
      val toks = col("tokens")
      flatten(transform(sequence(lit(1), size(toks)), frm =>
        transform(sequence(lit(1), least(lit(MaxPhraseLen), size(toks) - frm + 1)), len => {
          val words = slice(toks, frm, len)
          struct(
            concat_ws(" ", words).as("s"),
            ((pow(lit(2.0d), len) - 1) * pow(lit(2.0d), frm - 1)).cast("long").as("bits"),
            forall(words, isNumToken).as("is_num"))
        })))
    }
    // canonical match keys on BOTH sides replace the reference's
    // query-time alternate enumeration (G4, normalize.h:90-134):
    // hbf↔hauptbahnhof / str↔strasse / digraph spell-outs all collapse to
    // one canonical form before any matching (MatchKeys)
    // Only query-side work runs per call, and none of it is persisted:
    // candidates and the scored rows are each read once, and q, a
    // projection of the caller's query rows, is recomputed at each of
    // its references. The entity side is `postings` (`entityIndex`) and
    // the caller's entity frame.
    val q = queries
      .withColumn("norm", gf.match_key(col("text")))
      .filter(length(col("norm")) >= 2) // F5 min-length gate
      .withColumn("tokens", slice(split(col("norm"), " "), 1, MaxTokens))
      .withColumn("all_mask", (pow(lit(2.0d), size(col("tokens"))) - 1).cast("long"))
      .withColumn("phrases", phraseArr)

    // ---- stage 4: candidate generation (A1/A2/A3/J1/K1)
    // `postings` is the one frame the index persists. Everything else a
    // request needs from the entity table is read from the caller's
    // frame: n_q rides on the exploded query grams, and the name's match
    // key is computed on the candidate rows after the entity join (stage
    // 5), so no other index frame is persisted or broadcast per request.
    val qGrams = q
      .select(col("query_id"), gf.trigram_strings(col("norm")).as("tris"))
      .select(col("query_id"), size(col("tris")).as("n_q"), explode(col("tris")).as("gram"))
    // min-match-count from the QUERY's n-gram count alone — the reference
    // formula (typeahead.cc:409): mmc = 2 + n_q / (4 + n_q / 10)
    val mmc = lit(2) + floor(col("n_q") / (lit(4) + floor(col("n_q") / lit(10))))
    // ONE exchange on query_id serves the (query_id, entity_id) count and
    // the K1 window: hash(query_id) satisfies both clustered
    // distributions, so the count aggregates after the exchange instead
    // of shuffling twice, and the partitioning carries through the
    // broadcast joins of stage 5 to `rankFrom`'s windows.
    val candidates = qGrams
      .join(postings, Seq("gram"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("entity_id"))
      .agg(count(lit(1)).as("shared"), first(col("n_q")).as("n_q"),
        first(col("n_grams")).as("n_grams"))
      .filter(col("shared") >= mmc.cast("long") &&
        (col("shared") * col("shared")).cast("double") >= lit(0.17) * col("n_q") * col("n_grams"))
      .withColumn("cos2",
        (col("shared") * col("shared")).cast("double") / (col("n_q") * col("n_grams")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos2").desc, col("entity_id"))))
      .filter(col("crnk") <= MaxCandidates) // K1
      .select(col("query_id"), col("entity_id"))

    // ---- stage 5: string × phrase score matrix (A4, scorer X6)
    // One row per (query, entity): the whole phrase dimension stays in an
    // array and the matrix row collapses to ONE fused RefBestPhrase call —
    // the name's tokenize/phrase-enumeration runs once per row (cached
    // across rows sharing a name), the per-candidate argmin happens inside
    // the kernel (ordering identical to min(struct(score, pidx, bits))),
    // and there is no phrase-explode shuffle or re-aggregation at all.
    val bestPhrase = candidates
      .join(entities.select(col("entity_id"), col("name")), Seq("entity_id"))
      .join(q.select(col("query_id"), col("phrases")), Seq("query_id"))
      .withColumn("b", gf.ref_best_phrase(gf.match_key(col("name")),
        transform(col("phrases"), p => p("s")),
        transform(col("phrases"), p => p("bits"))))
      .filter(col("b").isNotNull) // candidates where every phrase is kNoMatch
      .select(col("query_id"), col("entity_id"), col("b"))

    rankFrom(bestPhrase, entities, q, topN, userLangs,
      hn => gf.match_key(hn),
      (hnKey, s) => gf.ref_match_score_pre(hnKey, s))
  }

  /** The entity side of candidate generation, which depends on the entity
    * table alone (the import-time index of typeahead.cc:317-337):
    * `postings(gram, entity_id, n_grams)`, one row per trigram of a
    * name's canonical match key, without the grams of more than
    * `ops.Dedup.MaxBlock` names (the hot-gram cap that bounds each
    * query's posting walk). It is persisted only when it is not cached
    * yet (`cached`): Spark's CacheManager matches the plan of a later
    * build over the same entity frame to that copy. A prepared plan
    * builds the index once; each bound call reads the cached copy
    * through the CacheManager. The persist goes through `ops.Caches`: a
    * harness that drains it after each query (Verify, Bench) releases
    * the index with the query's other frames, and a caller that never
    * drains it keeps one index per entity table. */
  private def entityIndex(entities: DataFrame): DataFrame = {
    val nameGrams = entities
      .select(col("entity_id"), gf.trigram_strings(gf.match_key(col("name"))).as("tris"))
      .select(col("entity_id"), size(col("tris")).as("n_grams"),
        explode(col("tris")).as("gram"))
    val keptGrams = nameGrams.groupBy(col("gram"))
      .agg(count(lit(1)).as("gcnt"))
      .filter(col("gcnt") <= graft.ops.Dedup.MaxBlock)
      .select(col("gram"))
    cached(nameGrams.join(keptGrams, Seq("gram")))
  }

  private def cached(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) graft.ops.Caches.persist(df) else df

  /** Stage 7's house-number match (J3 under the F9 numeric gate) of one
    * row carrying `kind`, `house_numbers` and the query's `phrases`: the
    * least non-null `struct(score, pidx, bits, hn)` over the numeric
    * phrases × the house numbers, null for places and when no pair
    * scores. Ties on score go to the lower phrase index, then the lower
    * phrase bits, then the lower house number (struct order, the order
    * of the test-side explode/join/`min` matcher `HouseNumberJoin`).
    * `hnKeyFn` runs once per house number, `hnScoreFn` once per (numeric
    * phrase, house number) cell. */
  private[graft] def houseNumberMatch(hnKeyFn: Column => Column,
      hnScoreFn: (Column, Column) => Column): Column = {
    val numPhrases = filter(
      transform(col("phrases"), (p, pidx) => struct(p("s").as("s"), pidx.as("pidx"),
        p("bits").as("bits"), p("is_num").as("is_num"))),
      p => p("is_num"))
    val hnKeys = transform(col("house_numbers"),
      hn => struct(hn.as("hn"), hnKeyFn(hn).as("key")))
    val cells = flatten(transform(hnKeys, k => transform(numPhrases, p =>
      struct(hnScoreFn(k("key"), p("s")).as("score"), p("pidx").as("pidx"),
        p("bits").as("bits"), k("hn").as("hn")))))
    when(col("kind") === "street", array_min(filter(cells, c => c("score").isNotNull)))
  }

  /** Stages 6-10 — attach attrs / K2 / house numbers / area assembly /
    * bonuses / dup-mark / top-n (get_suggestions.cc:510-743) — over an
    * INJECTABLE per-candidate score: `bestPhrase(query_id, entity_id,
    * b: struct(score float, pidx int, bits long))` and `q(query_id,
    * tokens, all_mask, phrases)` from any scorer. `suggest` feeds the
    * reference scorer (no SQL analogue, rows-only); q42RankSkeleton feeds
    * a DuckDB-expressible score so THIS whole skeleton is hash-checked by
    * the driver. hnKeyFn/hnScoreFn parameterize the house-number matcher
    * the same way. */
  private[graft] def rankFrom(bestPhrase: DataFrame, entities: DataFrame,
      q: DataFrame, topN: Int, userLangs: Seq[String],
      hnKeyFn: Column => Column,
      hnScoreFn: (Column, Column) => Column): DataFrame = {
    // ---- stages 6-7: attach entity attrs, split branches, K2 bound,
    // street house numbers
    // ONE explicit exchange on query_id serves every per-query stage from
    // here down (guide §2.4): hash(query_id) satisfies the clustered
    // distribution of the (query_id, kind) K2 window, the (query_id,
    // location) dup-mark window and the final per-query top-n; without
    // it each window inserts its own exchange. The house-number match
    // runs inside each row (`houseNumberMatch`), so nothing between the
    // windows shuffles. `suggest`'s rows arrive hash-partitioned on
    // query_id from stage 4, so there Spark drops this repartition.
    val withHn = bestPhrase
      .join(entities, Seq("entity_id"))
      .join(q.select(col("query_id"), col("tokens"), col("all_mask"),
        col("phrases")), Seq("query_id"))
      .repartition(col("query_id"))
      .withColumn("srnk", row_number().over(
        Window.partitionBy(col("query_id"), col("kind"))
          .orderBy(col("b.score").asc, col("entity_id"))))
      .filter(col("srnk") <= MaxScored) // K2
      .withColumn("h", houseNumberMatch(hnKeyFn, hnScoreFn))

    // ---- stages 7/8: area assembly (A6) + branch bonuses (X8-X12)
    val maskAfterHn = when(col("h").isNotNull,
      col("b.bits").bitwiseOR(col("h.bits"))).otherwise(col("b.bits"))
    val assembled = withHn
      .withColumn("pre_mask", maskAfterHn)
      .withColumn("ar", gf.area_fold(
        col("phrases"), col("areas"),
        array(userLangs.map(lit): _*), col("pre_mask")))
    val finalMask = col("ar")("tok")
    val unmatchedPenalty = aggregate( // +3·len per uncovered query token
      sequence(lit(1), size(col("tokens"))), lit(0.0d),
      (acc, i) => acc + when(
        finalMask.bitwiseAND(pow(lit(2.0d), i - 1).cast("long")) === 0,
        byteLen(element_at(col("tokens"), i)).cast("double") * 3.0d).otherwise(0.0d))
    val areaBonus = col("ar")("dist") -
      lit(2.0d) * bit_count(col("ar")("amask")).cast("double") // X12 per-area -2
    val hnBonus = when(col("h").isNotNull,
      col("h")("score").cast("double") - 5.0d).otherwise(0.0d) // X12 HN -5
    val fullCover = when(finalMask === col("all_mask"),
      when(col("kind") === "street", -3.0d).otherwise(-2.5d)).otherwise(0.0d)
    val categoryPrior = when(col("kind") =!= "place", 0.0d) // X8
      .when(col("category") === "city", 3.0d)
      .when(col("category") === "town", 2.0d)
      .when(col("category") === "village", 1.0d)
      .when(col("category") === "locality", -2.5d)
      .otherwise(-3.0d)
    val popScore = when(col("kind") === "place", // X9 clamp(pop/200k, 0, 3)
      least(lit(3.0d), greatest(lit(0.0d),
        col("population").cast("double") / 200000.0d))).otherwise(0.0d)
    val langIdx = userLangs.zipWithIndex.foldRight(lit(-1): Column) {
      case ((l, i), els) => when(col("name_lang") === l, lit(i)).otherwise(els)
    }
    val langScore = when(col("kind") =!= "place", 0.0d) // X11
      .when(langIdx === 0, 0.5d).when(langIdx > 0, 0.25d).otherwise(-0.1d)
    val total = col("b")("score").cast("double") + hnBonus + areaBonus +
      fullCover + unmatchedPenalty - categoryPrior - popScore - langScore

    // ---- stage 10: duplicate marking (K5) + final top-n (K3)
    val preRank = assembled.withColumn("score", total)
      .withColumn("matched_hn", col("h")("hn"))
      .select(col("query_id"), col("entity_id"), col("kind"), col("name"),
        col("location"), col("score"), col("matched_hn"),
        col("ar")("alang").as("area_langs")) // matched_area_lang_, guess_context.h:54-57
    preRank
      .withColumn("is_duplicate", row_number().over(
        Window.partitionBy(col("query_id"), col("location"))
          .orderBy(col("score").asc, col("entity_id"))) > 1)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(
          col("is_duplicate").asc, col("score").asc, col("entity_id"))))
      .filter(col("rank") <= topN)
      // score_fp: fixed-point 1e-4 units via floor(x·1e4 + 0.5) — the two
      // engines compute bit-identical DOUBLES here (mirrored expression
      // trees), but their round() modes differ (Spark rounds the decimal
      // rendering HALF_UP, DuckDB rounds the binary value), and this
      // score is SYSTEMATICALLY decimal-half-way prone (the pop bonuses
      // are k/1e7 and k/2e5 — exact 5th-decimal .5s). floor of the same
      // double is deterministic in any engine; same rule as q29/q49.
      .select(col("query_id"), col("rank"), col("entity_id"), col("kind"),
        col("name"),
        floor(col("score") * 10000 + 0.5).cast("long").as("score_fp"),
        col("is_duplicate"), col("matched_hn"), col("area_langs"))
  }

  /** Driver query for the rank skeleton (stages 6-10) with a
    * DuckDB-expressible score injected in place of the reference scorer —
    * the ranking/bonus/dup-mark/top-n arithmetic of
    * get_suggestions.cc:510-743 becomes hash-checked instead of
    * rows-only (q39 keeps the real scorer + goldens).
    *
    * Construction: streets = interned part names with brand-name area
    * chains and size house-numbers; places = suppliers in location groups
    * (same `location` ⇒ K5 duplicate marking fires); queries carry three
    * fixed phrases (first name token / size digits [numeric] / brand);
    * the injected b.score is plain Levenshtein(token1, entity name), the
    * injected house-number scorer is exact-match = -1.
    *
    * The brand area is BILINGUAL (user langs [default, de]): for every
    * third street the default-language name carries a trailing 'x' while
    * the German name is the exact brand — so the area fold matches
    * through the GERMAN name there (lang nibble 2 in `area_langs`) and
    * through the tied default name elsewhere (first-language-wins,
    * nibble 1) — the activate_areas cross-language min and tie rule,
    * hash-checked end to end. */
  def q42RankSkeleton(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val p = graft.ops.Tables.load(spark, dir, "part")
      .withColumn("name", lower(col("p_name"))) // ASCII ⇒ equals normalize
    val streets = p.groupBy(col("name"))
      .agg(min(col("p_partkey")).cast("long").as("entity_id"),
        lower(min(col("p_brand"))).as("mfgr"))
      .select(col("entity_id"), col("name"), lit("street").as("kind"),
        lit("").as("category"), lit(0L).as("population"),
        lit("default").as("name_lang"), col("entity_id").as("location"),
        array(struct(
          array(
            struct(concat(col("mfgr"),
              when(col("entity_id") % 3 === 0, "x").otherwise("")).as("name"),
              lit("default").as("lang")),
            struct(col("mfgr").as("name"), lit("de").as("lang"))).as("names"),
          lit(4).as("level"),
          ((col("entity_id") * 7) % 1000000).as("pop"))).as("areas"),
        array().cast("array<string>").as("house_numbers")) // filled below
    val hnChildren = p.join(streets.select(col("entity_id"), col("name")), Seq("name"))
      .groupBy(col("entity_id"))
      .agg(sort_array(collect_set(col("p_size").cast("string"))).as("hns"))
    val streetsWithHn = streets.drop("house_numbers")
      .join(hnChildren, Seq("entity_id"))
      .withColumnRenamed("hns", "house_numbers")
    val s = graft.ops.Tables.load(spark, dir, "supplier")
    val places = s.select(
      (col("s_suppkey") + 10000000L).cast("long").as("entity_id"),
      lower(col("s_name")).as("name"), lit("place").as("kind"),
      when(col("s_suppkey") % 5 === 0, "city").when(col("s_suppkey") % 5 === 1, "town")
        .when(col("s_suppkey") % 5 === 2, "village")
        .when(col("s_suppkey") % 5 === 3, "locality").otherwise("none").as("category"),
      ((col("s_suppkey") * 1234) % 600000).cast("long").as("population"),
      when(col("s_suppkey") % 3 === 0, "default").when(col("s_suppkey") % 3 === 1, "de")
        .otherwise("xx").as("name_lang"),
      // location GROUPS (suppkey mod 29): co-candidates share a location,
      // so stage-10 duplicate marking actually fires
      (lit(10000000L) + (col("s_suppkey") % 29)).cast("long").as("location"),
      array().cast(AreasType).as("areas"),
      array().cast("array<string>").as("house_numbers"))
    val entities = streetsWithHn.unionByName(places)

    val queries = p.filter(col("p_partkey") % 53 === 0)
      .select(col("p_partkey").cast("long").as("query_id"),
        element_at(split(col("name"), " "), 1).as("tok1"),
        col("p_size").cast("string").as("tok2"),
        lower(col("p_brand")).as("tok3"))
    val q = queries.select(col("query_id"),
      array(col("tok1"), col("tok2"), col("tok3")).as("tokens"),
      lit(7L).as("all_mask"),
      array(
        struct(col("tok1").as("s"), lit(1L).as("bits"), lit(false).as("is_num")),
        struct(col("tok2").as("s"), lit(2L).as("bits"), lit(true).as("is_num")),
        struct(col("tok3").as("s"), lit(4L).as("bits"), lit(false).as("is_num"))).as("phrases"))

    val candS = queries.join(
        streetsWithHn.select(col("entity_id"), col("name"),
          element_at(split(col("name"), " "), 1).as("tok1")),
        Seq("tok1"))
      .select(col("query_id"), col("entity_id"), col("name"))
    val candP = queries.join(
        places.select(col("entity_id"), col("name"),
          ((col("entity_id") - 10000000L) % 29).as("g")),
        (col("query_id") % 29) === col("g"))
      .select(col("query_id"), col("entity_id"), col("name"))
    val bestPhrase = candS.unionByName(candP)
      .join(queries.select(col("query_id"), col("tok1")), Seq("query_id"))
      .select(col("query_id"), col("entity_id"),
        struct(levenshtein(col("tok1"), col("name")).cast("float").as("score"),
          lit(0).as("pidx"), lit(1L).as("bits")).as("b"))

    rankFrom(bestPhrase, entities, q, topN = 10,
      userLangs = Seq("default", "de"),
      hnKeyFn = identity,
      hnScoreFn = (hnKey, ps) =>
        when(hnKey === ps, lit(-1.0f)).otherwise(lit(null).cast("float")))
  }

  /** DuckDB mirror of q42RankSkeleton: the whole stage 6-10 skeleton
    * unrolled — hn argmin, the 3-phrase × 1-area greedy fold (q38-style
    * unroll), X8-X12 bonuses, K5 dup-mark, K3 top-n. */
  val oracles: Map[String, String] = Map(
    "q42_rank_skeleton" ->
      """WITH streets AS (
        |  SELECT lower(p_name) AS name, CAST(min(p_partkey) AS BIGINT) AS entity_id,
        |    lower(min(p_brand)) AS mfgr,
        |    CAST((min(p_partkey) * 7) % 1000000 AS BIGINT) AS apop
        |  FROM part GROUP BY 1),
        |hns AS (
        |  SELECT DISTINCT s.entity_id, CAST(p.p_size AS VARCHAR) AS hn
        |  FROM part p JOIN streets s ON lower(p.p_name) = s.name),
        |places AS (
        |  SELECT CAST(s_suppkey + 10000000 AS BIGINT) AS entity_id,
        |    lower(s_name) AS name,
        |    CASE s_suppkey % 5 WHEN 0 THEN 'city' WHEN 1 THEN 'town'
        |      WHEN 2 THEN 'village' WHEN 3 THEN 'locality' ELSE 'none' END AS category,
        |    CAST((s_suppkey * 1234) % 600000 AS BIGINT) AS population,
        |    CASE s_suppkey % 3 WHEN 0 THEN 'default' WHEN 1 THEN 'de' ELSE 'xx' END AS name_lang,
        |    CAST(10000000 + (s_suppkey % 29) AS BIGINT) AS location
        |  FROM supplier),
        |q AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS query_id,
        |    string_split(lower(p_name), ' ')[1] AS tok1,
        |    CAST(p_size AS VARCHAR) AS tok2,
        |    lower(p_brand) AS tok3
        |  FROM part WHERE p_partkey % 53 = 0),
        |cand AS (
        |  SELECT q.query_id, s.entity_id, 'street' AS kind, s.name,
        |    s.entity_id AS location, s.mfgr, s.apop,
        |    s.mfgr || CASE WHEN s.entity_id % 3 = 0 THEN 'x' ELSE '' END AS a_def,
        |    s.mfgr AS a_de,
        |    '' AS category, CAST(0 AS BIGINT) AS population, 'default' AS name_lang,
        |    CAST(levenshtein(q.tok1, s.name) AS DOUBLE) AS bscore
        |  FROM q JOIN streets s ON string_split(s.name, ' ')[1] = q.tok1
        |  UNION ALL
        |  SELECT q.query_id, p.entity_id, 'place' AS kind, p.name,
        |    p.location, '' AS mfgr, CAST(0 AS BIGINT) AS apop,
        |    '' AS a_def, '' AS a_de,
        |    p.category, p.population, p.name_lang,
        |    CAST(levenshtein(q.tok1, p.name) AS DOUBLE) AS bscore
        |  FROM q JOIN places p ON (p.entity_id - 10000000) % 29 = q.query_id % 29),
        |withhn AS (
        |  SELECT c.*, q.tok1, q.tok2, q.tok3,
        |    (c.kind = 'street' AND h.hn IS NOT NULL) AS hn_ok,
        |    CASE WHEN c.kind = 'street' AND h.hn IS NOT NULL THEN h.hn END AS matched_hn
        |  FROM cand c JOIN q USING (query_id)
        |  LEFT JOIN hns h ON c.kind = 'street' AND h.entity_id = c.entity_id
        |    AND h.hn = q.tok2),
        |-- per-language gated scores for the bilingual brand area: the
        |-- fold's per-area score is the least across [default, de] with
        |-- first-language-wins tie-break (activate_areas' strict `<`)
        |lv AS (
        |  SELECT *,
        |    CASE WHEN 2 * levenshtein(tok2, a_def) <= least(len(tok2), len(a_def))
        |      THEN CAST(levenshtein(tok2, a_def) AS DOUBLE) ELSE 1e9 END AS g2d,
        |    CASE WHEN 2 * levenshtein(tok2, a_de) <= least(len(tok2), len(a_de))
        |      THEN CAST(levenshtein(tok2, a_de) AS DOUBLE) ELSE 1e9 END AS g2e,
        |    CASE WHEN 2 * levenshtein(tok3, a_def) <= least(len(tok3), len(a_def))
        |      THEN CAST(levenshtein(tok3, a_def) AS DOUBLE) ELSE 1e9 END AS g3d,
        |    CASE WHEN 2 * levenshtein(tok3, a_de) <= least(len(tok3), len(a_de))
        |      THEN CAST(levenshtein(tok3, a_de) AS DOUBLE) ELSE 1e9 END AS g3e
        |  FROM withhn),
        |folded AS (
        |  SELECT *,
        |    CAST(CASE WHEN hn_ok THEN 3 ELSE 1 END AS BIGINT) AS pre_mask,
        |    least(g2d, g2e) AS s2, CASE WHEN g2d <= g2e THEN 1 ELSE 2 END AS l2,
        |    least(g3d, g3e) AS s3, CASE WHEN g3d <= g3e THEN 1 ELSE 2 END AS l3,
        |    -- greedy fold, phrases (tok1 b1, tok2 b2, tok3 b4) × 1 area:
        |    -- phrase1 bit always overlaps pre_mask (b.bits = 1) -> skipped;
        |    -- phrase2/3 match iff bit free and some language's gate passes
        |    (kind = 'street' AND (2 & CASE WHEN hn_ok THEN 3 ELSE 1 END) = 0
        |      AND least(g2d, g2e) < 1e9) AS ok2,
        |    (kind = 'street' AND least(g3d, g3e) < 1e9) AS ok3
        |  FROM lv),
        |-- fold steps in the SAME left-to-right IEEE association as the
        |-- Spark aggregate: d2 = (0 + s2) - pop', d3 = (d2 + s3) - pop'
        |fold2 AS (
        |  SELECT *,
        |    CASE WHEN ok2 THEN (0.0 + s2)
        |      - (apop * 2.0) / 10000000.0 ELSE 0.0 END AS d2
        |  FROM folded),
        |scored AS (
        |  SELECT *,
        |    pre_mask
        |      + CASE WHEN ok2 THEN 2 ELSE 0 END
        |      + CASE WHEN ok3 THEN 4 ELSE 0 END AS final_mask,
        |    -- a later phrase re-matching the area OVERWRITES its lang nibble
        |    CAST(CASE WHEN ok3 THEN l3 WHEN ok2 THEN l2 ELSE 0 END AS BIGINT)
        |      AS area_langs,
        |    CASE WHEN ok3 THEN (d2 + s3)
        |      - (apop * 2.0) / 10000000.0 ELSE d2 END AS ar_dist,
        |    CASE WHEN ok2 THEN 1 ELSE 0 END + CASE WHEN ok3 THEN 1 ELSE 0 END
        |      AS n_areas_matched,
        |    -- unmatched-token penalty folded separately (Spark computes it
        |    -- as its own aggregate, then adds ONE value to the total)
        |    0.0 + CASE WHEN ((pre_mask
        |          + CASE WHEN ok2 THEN 2 ELSE 0 END
        |          + CASE WHEN ok3 THEN 4 ELSE 0 END) & 1) = 0
        |        THEN CAST(len(tok1) AS DOUBLE) * 3.0 ELSE 0.0 END
        |      + CASE WHEN ((pre_mask
        |          + CASE WHEN ok2 THEN 2 ELSE 0 END
        |          + CASE WHEN ok3 THEN 4 ELSE 0 END) & 2) = 0
        |        THEN CAST(len(tok2) AS DOUBLE) * 3.0 ELSE 0.0 END
        |      + CASE WHEN ((pre_mask
        |          + CASE WHEN ok2 THEN 2 ELSE 0 END
        |          + CASE WHEN ok3 THEN 4 ELSE 0 END) & 4) = 0
        |        THEN CAST(len(tok3) AS DOUBLE) * 3.0 ELSE 0.0 END AS unmatched
        |  FROM fold2),
        |totals AS (
        |  SELECT query_id, entity_id, kind, name, location, matched_hn,
        |    area_langs,
        |    bscore
        |      + CASE WHEN hn_ok THEN -1.0 - 5.0 ELSE 0.0 END
        |      + (ar_dist - 2.0 * n_areas_matched)
        |      + CASE WHEN final_mask = 7 THEN
        |          CASE WHEN kind = 'street' THEN -3.0 ELSE -2.5 END
        |        ELSE 0.0 END
        |      + unmatched
        |      - CASE WHEN kind <> 'place' THEN 0.0
        |          WHEN category = 'city' THEN 3.0 WHEN category = 'town' THEN 2.0
        |          WHEN category = 'village' THEN 1.0 WHEN category = 'locality' THEN -2.5
        |          ELSE -3.0 END
        |      - CASE WHEN kind = 'place' THEN
        |          least(3.0, greatest(0.0, population / 200000.0)) ELSE 0.0 END
        |      - CASE WHEN kind <> 'place' THEN 0.0
        |          WHEN name_lang = 'default' THEN 0.5
        |          WHEN name_lang = 'de' THEN 0.25 ELSE -0.1 END AS score
        |  FROM scored),
        |marked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, location
        |      ORDER BY score ASC, entity_id ASC) > 1 AS is_duplicate
        |  FROM totals),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY is_duplicate ASC, score ASC, entity_id ASC) AS INT) AS rank
        |  FROM marked)
        |SELECT query_id, rank, entity_id, kind, name,
        |  CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_fp,
        |  is_duplicate, matched_hn, area_langs
        |FROM ranked WHERE rank <= 10""".stripMargin
  )
}
