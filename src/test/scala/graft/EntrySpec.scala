package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class EntrySpec extends AnyFunSuite {
  import EntrySpec._
  lazy val spark = SparkTestSession.spark

  test("entry returns non-empty cluster summary") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("entry's cluster sizes equal the production pipeline's at the same Config") {
    // entry's Config: 300 pages, 60 entities, the default seed
    val sizes = (df: org.apache.spark.sql.DataFrame) => df.collect().map(_.getLong(0)).sorted.toSeq
    val entry = sizes(SparkEntry.entry(spark).select("cluster_size"))
    val dir = "/tmp/graft_test_entry_pipeline"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val out = er.Pipeline.runPipeline(spark,
      er.Pipeline.Config(nPages = 300, nEntities = 60, workDir = dir))
    val pipeline = sizes(out.labels.groupBy("label").count().select("count"))
    er.Pipeline.release(out)
    assert(entry.nonEmpty && entry == pipeline,
      s"entry ${entry.size} clusters, pipeline ${pipeline.size}")
  }

  test("every query name has either an oracle or a documented omission") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // q15/q16/q39 embed Double Metaphone / the reference scorer — no SQL
    // analogue; pinned by ScalaTest goldens (TextGoldenSpec, SuggestSpec)
    assert(noOracle == Set("q15_metaphone", "q16_match_score", "q39_suggest"), noOracle)
    // no orphan oracles
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("the pin file names every query, each with rows") {
    assert(pins.keySet == SparkEntry.queries.keySet && pins.size == 59,
      (pins.keySet -- SparkEntry.queries.keySet, SparkEntry.queries.keySet -- pins.keySet))
    assert(pins.filter(_._2._1 <= 0).isEmpty)
  }

  test("the pins of the benchmark's swept queries equal its expected outputs") {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/data/ops_expected.json"))
    val swept = tree.fieldNames().asScala.toSeq
    assert(swept.size == 8)
    swept.foreach { q =>
      assert(pins(q) == ((tree.get(q).get("rows").asLong, tree.get(q).get("fingerprint").asText)), q)
    }
  }

  test("the fingerprint ignores row and map entry order and float noise") {
    import spark.implicits._
    val a = Seq((1, Map(1 -> "a", 2 -> "b"), 0.1 + 0.2), (2, Map.empty[Int, String], 1.0))
      .toDF("k", "m", "x")
    val b = Seq((2, Map.empty[Int, String], 1.0), (1, Map(2 -> "b", 1 -> "a"), 0.3))
      .toDF("k", "m", "x")
    assert(Verify.fingerprint(a) == Verify.fingerprint(b))
    assert(Verify.fingerprint(a)._1 == 2)
    assert(Verify.fingerprint(a) != Verify.fingerprint(b.limit(1)))
  }

  /** Runs every query under `settings`, checks its output against its pin
    * and its plan against the reviewed sites, and then releases the frames
    * it persisted, as Verify and Bench do (suites run one at a time in the
    * forked test JVM, so the drain releases only this loop's frames).
    * Fails with one line per failing query. Code generation runs without
    * the interpreted fallback, so a query whose generated code fails to
    * compile fails here instead of running interpreted. */
  private def allQueries(settings: (String, String)*): Unit = {
    val dir = "/root/testdata/sf0.001"
    val all = ("spark.sql.codegen.fallback" -> "false") +: settings
    val prior = all.map { case (k, _) => k -> spark.conf.getOption(k) }
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    val failures = try SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val plan = df.queryExecution.executedPlan
        val hofs = lambdas(plan)
        val loops = if (NestedLoopSites.contains(name)) Nil else nestedLoops(plan)
        val got = Verify.fingerprint(df)
        Seq(
          Option.when(hofs.nonEmpty != LambdaSites.contains(name))(
            if (hofs.isEmpty) "stale lambda allowlist entry"
            else s"unreviewed lambdas ${hofs.mkString(", ")}"),
          Option.when(loops.nonEmpty)(s"unreviewed ${loops.mkString(", ")}"),
          Option.when(got != pins(name))(s"(rows, fingerprint) $got, pinned ${pins(name)}")
        ).flatten.map(f => s"$name: $f")
      } catch { case NonFatal(e) => Seq(s"$name: $e") }
      finally ops.Caches.releaseAll()
    } finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("all queries match their pins and plan contract on sf0.001") {
    allQueries()
  }

  test("all queries match their pins at shuffle width 1") {
    allQueries("spark.sql.shuffle.partitions" -> "1")
  }

  test("all queries match their pins at shuffle width 8") {
    allQueries("spark.sql.shuffle.partitions" -> "8")
  }

  test("all queries match their pins with adaptive execution off") {
    allQueries("spark.sql.adaptive.enabled" -> "false")
  }

  test("scorePairs' plan holds only its listed per-pair lambdas") {
    val cfg = er.Pipeline.Config(nPages = 500, nEntities = 100)
    val pages = er.Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val (strings, _) = er.Pipeline.internStrings(er.Pipeline.extractMentions(pages))
    val (pairs, _) = er.Pipeline.candidatePairs(strings, cfg)
    val plan = er.Pipeline.scorePairs(pairs, strings).queryExecution.executedPlan
    try {
      assert(lambdas(plan) == ScorePairsLambdas.keySet)
      assert(nestedLoops(plan).isEmpty)
    } finally Seq(pairs, strings).foreach(_.unpersist())
  }

  test("q02 broadcasts nation only and leaves customer to the size check") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      // the benchmark's checked-in copy of the sf0.001 orders, customer
      // and nation tables
      val df = ops.Relational.q02JoinTopK(spark, "perfbench/data/sf0.001")
      df.collect()
      val broadcast = operators(df.queryExecution.executedPlan).collect {
        case b: BroadcastExchangeExec => b
      }.flatMap(operators).collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
      }.flatten
      assert(broadcast == Seq("nation.parquet"))
    } finally spark.conf.set(key, prior)
  }
}

object EntrySpec {
  /** `(rows, fingerprint)` of every query's output on the sf0.001 tables. */
  lazy val pins: Map[String, (Long, String)] = QueryPins.read()

  /** Queries whose plan holds a Catalyst higher-order function, each with
    * the reason it was reviewed. A lambda (`lambdafunction(...)` in the
    * plan text) always evaluates INTERPRETED per row, so it can hide a
    * q38-class hotspot: the round-4 multi-language area fold cost 13.6 s
    * across three queries before it became the codegen AreaFold kernel.
    * The adjudication rule: a lambda is fine once per small array on an
    * already-reduced frame, NEVER per candidate/scored row; the pair-path
    * kernels (RefBestPhrase, AreaFold, PolylineDist2, sift4/banded-lev,
    * minhash/shingles) are all codegen Expressions. A query that gains a
    * lambda fails the pin passes until it is listed here, a code change
    * that sits next to the lambda it adjudicates; one that loses its
    * lambdas fails until its entry is pruned. */
  val LambdaSites: Map[String, String] = Map(
    "q22_lsh_pairs" -> "per-doc signature zip, reduced frame",
    "q27_ann_ivf" -> "centroid means over k rows per Lloyd pass",
    "q29_quality" -> "stopword filter over one token array per doc",
    "q31_fingerprint" -> "rolling hash over one normalized string per doc",
    "q35_areaset_ops" -> "1-5-element area chains per suggestion row",
    "q39_suggest" -> "post-AreaFold residue on already-reduced per-item arrays",
    "q41_category_match" -> "per-entity tag-rule scan, dim-sized frame",
    "q42_rank_skeleton" -> "post-AreaFold residue, bounded windows",
    "q43_area_disambig" -> "lockstep area-chain advance, per tied pair",
    "q47_url_normalize" -> "per-url param filter, map-side",
    "q50_repetition" -> "5-gram spans over one token array per doc",
    "q51_for_each_name" -> "per-entity tag family explode, dim-sized",
    "q61_curation_pipeline" -> "q29's quality-stage stopword filter, one token array per doc")

  /** The only queries whose plan may hold a `BroadcastNestedLoopJoin` or
    * a `CartesianProduct`; every other join is hash or broadcast-hash. */
  val NestedLoopSites: Map[String, String] = Map(
    "q26_cosine_topk" -> ("the deliberate bounded-build exact cosine-top-k " +
      "baseline (20 query rows broadcast; the scale path is q27)"),
    "q27_ann_ivf" -> ("the IVF centroid-assign steps (vectors × broadcast(k " +
      "centroids), k ≈ √n): a linear n·k scan per Lloyd/probe pass; the " +
      "candidate join itself is a cell-key equi-join, never all-pairs"),
    "q54_bm25" -> ("the corpus-scalar attach (crossJoin(broadcast(1-row " +
      "stats))): N and Σdl ride every row as one broadcast tuple, an O(1) " +
      "build side"))

  /** The lambda sites of `er.Pipeline.scorePairs`' plan, its cached
    * mention, string and pair inputs included: only the blocking inputs'
    * once-per-row arrays. The accept gate, token gate included, is the
    * `accept_gate` kernel, so no lambda runs per scored pair. */
  val ScorePairsLambdas: Map[String, String] = Map(
    "filter" -> "extractMentions' `loc:` line filter, one line array per page",
    "array_sort" -> "candidatePairs' prefix cut, about 20 (cnt, key) structs per string",
    "transform" -> "candidatePairs' phonetic codes, one token array per string")

  /** Every operator of a planned or executed query: through adaptive
    * stages, cached relations and subqueries. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case _ => p.children
  }) ++ p.subqueries).flatMap(operators)

  /** The names of the higher-order functions (the lambda sites) in a plan. */
  def lambdas(p: SparkPlan): Set[String] = operators(p).flatMap(_.expressions.flatMap(
    _.collect { case h: HigherOrderFunction => h.prettyName })).toSet

  def nestedLoops(p: SparkPlan): Seq[String] = operators(p).collect {
    case _: BroadcastNestedLoopJoinExec => "BroadcastNestedLoopJoin"
    case _: CartesianProductExec => "CartesianProduct"
  }
}
