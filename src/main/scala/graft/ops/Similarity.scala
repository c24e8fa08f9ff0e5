package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{functions => gf}

/** Similarity search over the embeddings table: brute-force cosine top-k
  * (the exact baseline) and a coarse-quantizer (IVF-style) bucketed
  * variant (the 100 TB scale path: a fixed partition function prunes the
  * candidate set before the expensive distance computation — bucket-local
  * shuffles instead of a global cross join).
  */
object Similarity {
  import Tables.load

  /** Keep the parquet float arrays primitive (UnsafeArrayData) — CosineSim
    * promotes float→double per element exactly like a CAST, without the
    * boxing `transform` projection. */
  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").as("v"))

  /** Brute-force exact cosine top-10 for query vectors (vec_id < 5).
    * Deliberately a BroadcastNestedLoopJoin with the BOUNDED 5-row query
    * set as the build side — the exact-recall baseline that q25 (LSH) and
    * q27 (IVF) are measured against; cost is one linear scan of the
    * corpus per batch of queries, which is the optimal exact plan. */
  def q26CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(load(spark, dir, "embeddings"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("vq"))
    val c = e.select(col("vec_id"), col("v"))
    q.crossJoin(c).filter(col("qid") =!= col("vec_id"))
      .withColumn("cosine", gf.cosine_sim(col("vq"), col("v")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("vec_id"), round(col("cosine"), 5).as("cosine"), col("rnk"))
  }

  /** IVF with DATA-DEPENDENT centroids (k-means, one Lloyd refinement):
    * random-partition seeds (vec_id % k) → mean centroids → assign →
    * re-mean → final assignment; queries probe their nprobe=2 nearest
    * cells and rank only those cells' members. The k-row centroid table
    * broadcasts; candidate generation is cell-local — the 100 TB path
    * (at scale: estimate centroids from a sample instead of the full
    * pass, k ≈ √n, multi-probe; the plan shape — broadcast assign +
    * cell-equi-join — is unchanged).
    *
    * Cross-engine determinism: centroid means are computed from
    * integer-quantized coordinates (floor(x·10⁶) as long) so the sums are
    * exact and association-free — DuckDB's unordered SUM and Spark's
    * partial aggregates agree bit-for-bit; the only float folds left are
    * row-level fixed-order cosines (same IEEE sequence both engines). */
  private val IvfK = 16
  private val IvfNProbe = 2

  /** Recall expectation on THIS corpus: the synthetic embeddings carry no
    * planted high-cosine structure (max pairwise cosine ≈ 0.5; a query's
    * true top-5 sit at ≈ 0.3, barely above the 1/√64 noise floor), so
    * top-5 membership is nearly independent of coarse-cell assignment and
    * recall@5 at nprobe p is information-theoretically ≈ p/k. IVF's
    * production regime is clustered embedding spaces where neighbors share
    * cells; what IS checkable here — and what SimilaritySpec pins — is
    * that the machinery is lossless (nprobe = k reproduces the exact
    * baseline bit-for-bit) and that recall rises with nprobe. */
  def q27AnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, dir, IvfNProbe)

  def annIvf(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = withNorm(load(spark, dir, "embeddings"))
    // integer-quantized coordinates: exact, order-independent sums
    val quant = e
      .select(col("vec_id"), (col("vec_id") % IvfK).as("b"),
        posexplode(col("v")).as(Seq("i0", "x")))
      .select(col("vec_id"), col("b"), (col("i0") + 1).as("i"),
        floor(col("x").cast("double") * 1e6).as("q"))
    def centroids(assigned: DataFrame, cellCol: String): DataFrame =
      assigned.groupBy(col(cellCol).as("cell"), col("i"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("cnt"))
        .withColumn("cd", (col("s").cast("double") / col("cnt")) / lit(1e6))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("cd")))),
          x => x("cd")).as("c"))
    def nearest(cents: DataFrame, keep: Int): DataFrame =
      e.crossJoin(broadcast(cents))
        .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(gf.cosine_sim(col("v"), col("c")).desc, col("cell"))))
        .filter(col("rn") <= keep)
        .select(col("vec_id"), col("cell"), col("rn"))
    // seed means → assign → refined means (one Lloyd step) → final assign
    val cent0 = centroids(quant, "b")
    val assign0 = nearest(cent0, 1).select(col("vec_id"), col("cell").as("cell0"))
    val cent1 = centroids(quant.join(assign0, Seq("vec_id")), "cell0")
    val asg = nearest(cent1, 1).select(col("vec_id"), col("cell"))
    val probes = nearest(cent1, nprobe)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("cell"))
    val members = e.join(asg, Seq("vec_id"))
    probes.join(members, Seq("cell")) // cell-local candidates only
      .filter(col("qid") =!= col("vec_id"))
      .join(e.select(col("vec_id").as("qid"), col("v").as("vq")), Seq("qid"))
      .withColumn("cosine", gf.cosine_sim(col("vq"), col("v")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cell"), col("vec_id"),
        round(col("cosine"), 5).as("cosine"), col("rnk"))
  }

  val oracles: Map[String, String] = Map(
    "q26_cosine_topk" ->
      """WITH p AS (
        |  SELECT q.vec_id AS qid, c.vec_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cos_raw
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |SELECT qid, vec_id, round(cos_raw, 5) AS cosine, rnk FROM (
        |  SELECT qid, vec_id, cos_raw,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS INT) AS rnk
        |  FROM p) WHERE rnk <= 10""".stripMargin,
    "q27_ann_ivf" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
        |quant AS (
        |  SELECT vec_id, vec_id % 16 AS b, i.i AS i,
        |    CAST(floor(vd[i.i] * 1000000) AS BIGINT) AS q
        |  FROM v, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i),
        |seedsum AS (
        |  SELECT b AS cell, i,
        |    (CAST(sum(q) AS DOUBLE) / count(*)) / 1000000.0 AS cd
        |  FROM quant GROUP BY 1, 2),
        |cent0 AS (SELECT cell, list(cd ORDER BY i) AS c FROM seedsum GROUP BY 1),
        |a0 AS (
        |  SELECT vec_id, cell AS cell0 FROM (
        |    SELECT v.vec_id, c0.cell, row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(v.vd, c0.c) DESC, c0.cell) AS rn
        |    FROM v CROSS JOIN cent0 c0) WHERE rn = 1),
        |sum1 AS (
        |  SELECT a0.cell0 AS cell, q.i,
        |    (CAST(sum(q.q) AS DOUBLE) / count(*)) / 1000000.0 AS cd
        |  FROM quant q JOIN a0 USING (vec_id) GROUP BY 1, 2),
        |cent1 AS (SELECT cell, list(cd ORDER BY i) AS c FROM sum1 GROUP BY 1),
        |nearest1 AS (
        |  SELECT v.vec_id, c1.cell, row_number() OVER (PARTITION BY v.vec_id
        |    ORDER BY list_cosine_similarity(v.vd, c1.c) DESC, c1.cell) AS rn
        |  FROM v CROSS JOIN cent1 c1),
        |asg AS (SELECT vec_id, cell FROM nearest1 WHERE rn = 1),
        |probe AS (
        |  SELECT vec_id AS qid, cell FROM nearest1 WHERE rn <= 2 AND vec_id < 20),
        |cand AS (
        |  SELECT p.qid, a.cell, a.vec_id,
        |    list_cosine_similarity(qv.vd, cv.vd) AS cos_raw
        |  FROM probe p JOIN asg a USING (cell)
        |  JOIN v qv ON qv.vec_id = p.qid
        |  JOIN v cv ON cv.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.qid)
        |SELECT qid, cell, vec_id, round(cos_raw, 5) AS cosine, rnk FROM (
        |  SELECT qid, cell, vec_id, cos_raw,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS INT) AS rnk
        |  FROM cand) WHERE rnk <= 5""".stripMargin
  )
}
