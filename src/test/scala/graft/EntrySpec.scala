package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class EntrySpec extends AnyFunSuite {
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

  test("all queries run non-empty on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }
}
