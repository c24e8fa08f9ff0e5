package graftbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.SparkEntry
import graft.ops.Caches

/** The `graft.ops` layer: a seed-shuffled pass over eight
  * `SparkEntry.queries` on the fixed sf0.001 tables in perfbench/data,
  * the four queries that call the `Components` clustering engines plus
  * one query of every other family. Each query runs twice: once untimed,
  * as warm-up and for its output check, and once in a span of its own,
  * written to the noop sink. */
object OpsSweep {
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q02_join_topk"),
    "textops" -> Seq("q14_pair_scores"),
    "dedup" -> Seq("q22_lsh_pairs"),
    "cluster" -> Seq("q33_components", "q45_incremental_components",
      "q55_dedup_lifecycle", "q61_curation_pipeline"),
    "geo" -> Seq("q37_housenumber_join"))
  val Queries: Seq[String] = Families.flatMap(_._2)
  val ClusterQueries: Seq[String] = Families.toMap.apply("cluster")
  val SpanFields = Seq("wall_s", "busy_s", "jobs", "stages", "shuffle_write_bytes")

  /** Row count and order-insensitive content hash of a query output:
    * the sum of one xxhash64 per row. Floating-point columns are rounded
    * to six decimals first, so the last bits of a sum whose order depends
    * on task timing do not change the hash. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols.toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Expected row count and fingerprint per query, as written by
    * [[OpsExpected]]. */
  def expected(path: String): Map[String, (Long, String)] = {
    val tree = Main.json.readTree(new java.io.File(path))
    Queries.map { q =>
      val e = tree.get(q)
      q -> (e.get("rows").asLong, e.get("fingerprint").asText)
    }.toMap
  }

  def run(spark: SparkSession, probe: Probe, dataDir: String, expectedPath: String,
      seed: Long): Seq[Op] = {
    val want = expected(expectedPath)
    new scala.util.Random(seed).shuffle(Queries).map { q =>
      val query = SparkEntry.queries(q)
      var error: Option[String] = None
      var ms = 0.0
      try {
        val got = try fingerprint(query(spark, dataDir)) finally Caches.releaseAll()
        if (got != want(q)) error = Some(s"$q: rows and fingerprint $got, expected ${want(q)}")
        val t0 = System.nanoTime()
        try probe.span(s"ops.$q")(
          query(spark, dataDir).write.format("noop").mode("overwrite").save())
        finally Caches.releaseAll()
        ms = (System.nanoTime() - t0) / 1e6
      } catch { case NonFatal(e) => error = Some(s"$q: $e") }
      System.err.println(f"[perfbench] ops $q $ms%.1f ms${error.fold("")(e => s", failed: $e")}")
      new Op(ms, 0L, error)
    }
  }

  /** Per-family sums over the timed query spans, the warm pass's wall
    * time and the per-query wall time of the clustering queries. */
  def layers(probe: Probe): Seq[(String, Double)] = {
    val byQuery = Queries.map(q => q -> probe.spansNamed(s"ops.$q").lastOption).toMap
    if (byQuery.values.forall(_.isEmpty)) Nil
    else {
      def fields(spans: Seq[Span]): Seq[Double] = Seq(
        spans.map(_.wallS).sum, spans.map(_.work.busyMs).sum / 1e3,
        spans.map(_.work.jobs).sum.toDouble, spans.map(_.work.stages).sum.toDouble,
        spans.map(_.work.shuffleWriteBytes).sum.toDouble)
      val families = Families.flatMap { case (fam, qs) =>
        SpanFields.zip(fields(qs.flatMap(byQuery(_)))).map { case (f, v) => s"ops.$fam.$f" -> v }
      }
      val clusterWall = ClusterQueries.map(q =>
        s"ops.${q.take(3)}_s" -> byQuery(q).fold(0.0)(_.wallS))
      Seq("ops.sweep_s" -> byQuery.values.flatten.map(_.wallS).sum) ++ families ++ clusterWall
    }
  }
}

/** Writes the expected row counts and fingerprints of the sweep's queries
  * from parquet outputs of `graft.Verify` that passed the DuckDB oracle
  * (tools/check_oracle.py) on the same tables:
  *
  *   graftbench.OpsExpected <verify output dir> <expected json>
  */
object OpsExpected {
  def main(argv: Array[String]): Unit = {
    val Array(verifyDir, out) = argv
    val spark = Main.session(java.nio.file.Files.createTempDirectory("ops-expected").toString)
    val rows = scala.collection.immutable.ListMap(OpsSweep.Queries.map { q =>
      val (n, h) = OpsSweep.fingerprint(spark.read.parquet(s"$verifyDir/$q.parquet"))
      q -> scala.collection.immutable.ListMap("rows" -> n, "fingerprint" -> h)
    }: _*)
    Main.json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), rows)
    spark.stop()
  }
}
