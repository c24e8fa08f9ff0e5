package graft.er

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Test-only reference for `Suggest.houseNumberMatch`: the house-number
  * matcher as a relational plan. Each street candidate of `scored` joins
  * its query's numeric phrases (posexploded, so `pidx` is the phrase's
  * array index) and its entity's exploded house numbers; every scoring
  * cell is one row, and a `groupBy` keeps the least
  * `struct(score, pidx, bits, hn)` per (query, entity). Candidates without
  * a scoring cell get no row. */
object HouseNumberJoin {
  def matches(scored: DataFrame, entities: DataFrame, q: DataFrame,
      hnKeyFn: Column => Column, hnScoreFn: (Column, Column) => Column): DataFrame = {
    val hns = entities.filter(col("kind") === "street")
      .select(col("entity_id"), explode(col("house_numbers")).as("hn"))
      .withColumn("mk_hn", hnKeyFn(col("hn")))
    val numPhrases = q.select(col("query_id"),
        posexplode(col("phrases")).as(Seq("pidx", "p")))
      .filter(col("p.is_num"))
    scored.filter(col("kind") === "street")
      .select(col("query_id"), col("entity_id"))
      .join(numPhrases, Seq("query_id"))
      .join(hns, Seq("entity_id"))
      .withColumn("hn_score", hnScoreFn(col("mk_hn"), col("p.s")))
      .filter(col("hn_score").isNotNull)
      .groupBy(col("query_id"), col("entity_id"))
      .agg(min(struct(col("hn_score").as("score"), col("pidx"),
        col("p.bits").as("bits"), col("hn"))).as("h"))
  }
}
