package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{functions => gf}

/** BM25 term scoring over the documents corpus — the classic
  * inverted-index relevance statistic (Robertson/Spärck Jones; the
  * textbook k1/b form), useful in a training-data pipeline both as a
  * keyword-retrieval primitive and as a per-document salient-term
  * extractor (the top-k output here).
  *
  * Spark shape and the scale story:
  *  - tokenize map-side (the same normalize_text the rest of the corpus
  *    ops use), then ONE (doc, term) partial-aggregated groupBy — the
  *    stopword skew lands on the map-side combiners, not a hot reducer;
  *  - document frequency and document length are groupBys over that
  *    (already term- resp. doc-unique) frame;
  *  - corpus scalars (N, Σdl) attach as a broadcast single-row cross
  *    join — the canonical scalar-attach, a 1-row
  *    BroadcastNestedLoopJoin (reviewed: EntrySpec.NestedLoopSites);
  *  - the df join back is a shuffle hash join on term; hot terms are
  *    wide but each (doc, term) row joins exactly one df row, so AQE's
  *    skew split handles the distribution — no block expansion anywhere;
  *  - per-doc top-3 terms via WindowGroupLimit (rank ≤ 3 pushes the
  *    limit into the sort).
  */
object Bm25 {
  import Tables.load

  def q54Bm25(spark: SparkSession, dir: String): DataFrame = {
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(gf.normalize_text(col("text")), " ")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    // k1 = 1.2, b = 0.75; every double op in the same association as the
    // oracle SQL (idf is ln-based, so the 6-decimal rounding is far from
    // any decimal half-way boundary)
    val scored = tf.join(dl, Seq("doc_id")).join(dft, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sumdl").cast("double") / col("n"))
      .withColumn("idf", log(lit(1.0) +
        (col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score", col("idf") * (col("tf") * 2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rnk") <= 3)
      // fixed-point 1e-6 units, same rule as q29/q38/q42/q49: Spark's
      // round() rounds the decimal rendering HALF_UP, DuckDB rounds the
      // binary double — ln-based scores make a decimal half-way hit
      // unlikely but not impossible at larger SFs; floor of the
      // bit-identical double is engine-independent (score > 0 always:
      // idf = ln(1 + x) with x > 0)
      .select(col("doc_id"), col("rnk"), col("term"),
        floor(col("score") * 1000000 + 0.5).cast("long").as("score_fp"))
  }

  val oracles: Map[String, String] = Map(
    "q54_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(
        |    regexp_replace(lower(text), '[,;\-/().]', ' ', 'g'),
        |    '  +', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    ln(1.0 + (CAST(st.n AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5))
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
        |          / (CAST(st.sumdl AS DOUBLE) / st.n))) AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term), st),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS INT) AS rnk
        |  FROM sc)
        |SELECT doc_id, rnk, term,
        |  CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS score_fp
        |FROM r WHERE rnk <= 3""".stripMargin
  )
}
