package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** Crawl link-graph operators: outlink extraction from page HTML and
  * link-authority scoring (PageRank) over the resulting doc→doc graph —
  * the quality-weighting signal web-scale training pipelines attach to
  * every page before sampling.
  *
  * The PageRank here is FIXED-POINT INTEGER arithmetic (rank in 1e-12
  * units, floor division everywhere): at equal inputs every engine
  * computes bit-identical ranks regardless of summation order, which is
  * what makes a cross-engine hash check possible at all — the same
  * determinism argument as q29's integer permille score. Production
  * float PageRank differs only in the column type.
  */
object LinkGraph {
  import Tables.load

  /** q48: each document's page carries three real `<a href>` links (one
    * double-quoted with other attributes first, one single-quoted
    * uppercase `<A HREF>`, one unquoted) plus decoy anchors inside a
    * comment and a script body. The outlinks are recovered from the html
    * BYTES alone with the codegen html_links kernel and exploded to
    * (doc_id, pos, href) rows; the oracle recomputes the expected hrefs
    * arithmetically and never parses html — a decoy leak, a missed
    * quote form, or an order bug diverges the hash. */
  def q48LinkExtract(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
    val t = (k: Int) => concat(lit("/docs/"), (col("doc_id") + k).cast("string"))
    val htmlStr = concat(
      lit("<html><body><!-- <a href=\"/decoy/comment\"> -->" +
        "<script>var s = '<a href=\"/decoy/script\">';</script><p>see "),
      lit("<a class=\"x\" href=\""), t(1), lit("\">one</a> "),
      lit("<A HREF='"), t(2), lit("'>two</A> "),
      lit("<a href="), t(3), lit(">three</a></p></body></html>"))
    d.select(col("doc_id"),
        gf.html_links(encode(htmlStr, "UTF-8")).as("links"))
      .select(col("doc_id"), posexplode(col("links")).as(Seq("p", "href")))
      .select(col("doc_id"), (col("p") + 1).as("pos"), col("href"))
  }

  /** q49: 5 power iterations of damping-0.85 PageRank over the
    * deterministic 3-regular doc→doc graph dst = (doc_id + 97k) mod n,
    * k ∈ {1,2,3}. Rank is a BIGINT in 1e-12 units; per-edge contribution
    * is `rank div 3`, the damped update is `base + (85·Σcontrib) div 100`
    * — all floor division, so the result is exact and order-independent
    * in any engine. Plan shape per iteration: edges ⋈ ranks on src →
    * groupBy dst (one shuffle) → left join back to the vertex set. The 5
    * small iterations compose as one lazy DAG; a loop of web-scale depth
    * would partition the edge side by src once and cut the lineage every
    * few iterations, as Components' pointer doubling does.
    *
    * NOTE: construction is EAGER — `d.count()` runs a Spark job at
    * DataFrame-build time because n parameterizes the synthetic edge
    * arithmetic and the per-vertex base rank (plan-only callers like
    * EntrySpec's plan checks pay one tiny scan). Both persists are
    * harness-released via [[Caches]]. */
  def q49PageRank(spark: SparkSession, dir: String): DataFrame = {
    val d = Caches.persist(load(spark, dir, "documents").select(col("doc_id")))
    val n = d.count()
    require(n > 0, s"q49PageRank: empty documents table in $dir")
    val edges = Caches.persist(
      d.select(col("doc_id").as("src"), explode(array(
        (col("doc_id") + 97L) % n, (col("doc_id") + 194L) % n,
        (col("doc_id") + 291L) % n)).as("dst")))
    val base = 15000000000000L / (100L * n) // 0.15 · 1e12 / n, floored
    var ranks = d.select(col("doc_id").as("id"),
      lit(1000000000000L / n).as("r"))
    for (_ <- 1 to 5) {
      val contrib = edges
        .join(ranks.select(col("id").as("src"), col("r")), Seq("src"))
        .select(col("dst"), expr("r div 3").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = d.select(col("doc_id").as("id"))
        .join(contrib.select(col("dst").as("id"), col("s")), Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    val out = ranks.select(col("id").as("doc_id"), col("r").as("rank_fp"))
    out
  }

  val oracles: Map[String, String] = Map(
    "q48_link_extract" ->
      """SELECT doc_id, k.k AS pos,
        |  '/docs/' || CAST(doc_id + k.k AS VARCHAR) AS href
        |FROM documents, (SELECT unnest([1, 2, 3]) AS k) k""".stripMargin,
    // 5 unrolled fixed-point iterations; identical floor-division
    // arithmetic to the Spark loop, so the hash match is exact
    "q49_pagerank" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e AS (SELECT doc_id AS src,
        |        (doc_id + 97 * k.k) % (SELECT n FROM nn) AS dst
        |      FROM documents, (SELECT unnest([1, 2, 3]) AS k) k),
        |r0 AS (SELECT doc_id AS id,
        |         1000000000000 // (SELECT n FROM nn) AS r FROM documents),
        |r1 AS (SELECT d.doc_id AS id,
        |         15000000000000 // (100 * (SELECT n FROM nn)) +
        |         (85 * coalesce(c.s, 0)) // 100 AS r
        |       FROM documents d LEFT JOIN (
        |         SELECT e.dst, sum(r0.r // 3) AS s
        |         FROM e JOIN r0 ON r0.id = e.src GROUP BY e.dst) c
        |       ON c.dst = d.doc_id),
        |r2 AS (SELECT d.doc_id AS id,
        |         15000000000000 // (100 * (SELECT n FROM nn)) +
        |         (85 * coalesce(c.s, 0)) // 100 AS r
        |       FROM documents d LEFT JOIN (
        |         SELECT e.dst, sum(r1.r // 3) AS s
        |         FROM e JOIN r1 ON r1.id = e.src GROUP BY e.dst) c
        |       ON c.dst = d.doc_id),
        |r3 AS (SELECT d.doc_id AS id,
        |         15000000000000 // (100 * (SELECT n FROM nn)) +
        |         (85 * coalesce(c.s, 0)) // 100 AS r
        |       FROM documents d LEFT JOIN (
        |         SELECT e.dst, sum(r2.r // 3) AS s
        |         FROM e JOIN r2 ON r2.id = e.src GROUP BY e.dst) c
        |       ON c.dst = d.doc_id),
        |r4 AS (SELECT d.doc_id AS id,
        |         15000000000000 // (100 * (SELECT n FROM nn)) +
        |         (85 * coalesce(c.s, 0)) // 100 AS r
        |       FROM documents d LEFT JOIN (
        |         SELECT e.dst, sum(r3.r // 3) AS s
        |         FROM e JOIN r3 ON r3.id = e.src GROUP BY e.dst) c
        |       ON c.dst = d.doc_id),
        |r5 AS (SELECT d.doc_id AS id,
        |         15000000000000 // (100 * (SELECT n FROM nn)) +
        |         (85 * coalesce(c.s, 0)) // 100 AS r
        |       FROM documents d LEFT JOIN (
        |         SELECT e.dst, sum(r4.r // 3) AS s
        |         FROM e JOIN r4 ON r4.id = e.src GROUP BY e.dst) c
        |       ON c.dst = d.doc_id)
        |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r5""".stripMargin
  )
}
