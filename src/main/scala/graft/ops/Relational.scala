package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operators over the TPC-H-ish tables — the scan/filter/
  * aggregate/join/window/top-k surface of SURVEY.md §2 (S, F, A, J, K).
  * Every float aggregate is rounded so the DuckDB oracle hash-matches
  * despite summation-order differences.
  */
object Relational {
  import Tables.load

  /** §2.5 A-family: filtered scan + hash aggregate (pushdown-friendly). */
  def q01Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_revenue"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("n_rows"))
  }

  /** §2.6 J-family: 3-way join + agg + deterministic top-k. Only nation
    * is hinted for broadcast; customer grows with the scale factor, so
    * its join is left to Spark's size-checked strategy. */
  def q02JoinTopK(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val c = load(spark, dir, "customer")
    val n = load(spark, dir, "nation")
    val rev = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
    // global top-k as orderBy+limit → TakeOrderedAndProject (a per-partition
    // partial top-k + tiny driver merge; the windowed row_number form moves
    // ALL rows to a single partition — reference K1/K3 nth_element analogue)
    rev.orderBy(col("revenue").desc, col("n_name")).limit(10)
  }

  /** §2.8 K2: bounded per-group top-k via window row_number. */
  def q03WindowTopK(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    o.withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("rn"))
  }

  /** §2.8 K5 duplicate marking: consecutive same-key rows, best first. */
  def q04DupMark(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    o.withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"), col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .select(col("o_orderkey"), (col("rn") > 1).as("is_duplicate"))
  }

  /** §2.2 F1/F2 blacklist analogue: anti join (customers with no URGENT
    * orders — the priority filter keeps the result non-empty at every sf,
    * so the oracle compare has actual rows to verify), counted per nation. */
  def q05AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val c = load(spark, dir, "customer")
    val n = load(spark, dir, "nation")
    c.join(o.filter(col("o_orderpriority") === "1-URGENT"),
        c("c_custkey") === o("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers_no_orders"))
  }

  /** Streaming-shaped tumbling-window aggregate (batch semantics equal to
    * the Structured Streaming version, see StreamingSpec). */
  def q06EventsWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = load(spark, dir, "events")
    e.groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** JSON extraction from the events props column. */
  def q07Json(spark: SparkSession, dir: String): DataFrame = {
    val e = load(spark, dir, "events")
    e.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("k")), 4).as("avg_k"),
        sum(col("k")).as("sum_k"),
        count(lit(1)).as("n"))
  }

  val oracles: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_revenue,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2""".stripMargin,
    "q02_join_topk" ->
      """WITH rev AS (
        |  SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT n_name, revenue, n_orders FROM rev
        |ORDER BY revenue DESC, n_name LIMIT 10""".stripMargin,
    "q03_window_topk" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q04_dup_mark" ->
      """SELECT o_orderkey, rn > 1 AS is_duplicate FROM (
        |  SELECT o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey, o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)""".stripMargin,
    "q05_anti_join" ->
      """SELECT n_name, count(*) AS n_customers_no_orders
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,
    "q06_events_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start,
        |  event_type, count(*) AS n_events, round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q07_json" ->
      """SELECT event_type,
        |  round(avg(CAST(props->>'$.k' AS BIGINT)), 4) AS avg_k,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin
  )
}
