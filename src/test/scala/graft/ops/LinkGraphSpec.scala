package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.SparkTestSession
import graft.text.Html

class LinkGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("extractLinks: quote forms, order, and decoy exclusion") {
    val html = """<html><body><!-- <a href="/c"> -->
      |<script>var s = '<a href="/s">';</script>
      |<a class="x" href="/one">1</a> <A HREF='/two'>2</A>
      |<a href=/three>3</a> <a name="no-href">4</a></body></html>""".stripMargin
    assert(Html.extractLinks(html).toSeq == Seq("/one", "/two", "/three"))
    assert(Html.extractLinks("<a href='/x'").isEmpty,
      "unclosed tag at EOF yields nothing")
  }

  test("q49 fixed-point PageRank: every rank positive, total mass sane") {
    val out = LinkGraph.q49PageRank(spark, "/root/testdata/sf0.001")
    val n = 500L
    val agg = out.agg(min(col("rank_fp")), sum(col("rank_fp")), count(lit(1))).collect()(0)
    assert(agg.getLong(2) == n)
    assert(agg.getLong(0) > 0L)
    // floor-division bleeds < 1e-10 of the 1.0 (=1e12) total mass
    val total = agg.getLong(1)
    assert(total > 999999990000L && total <= 1000000000000L, total.toString)
  }
}
