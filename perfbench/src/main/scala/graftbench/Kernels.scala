package graftbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.{functions => gf}
import graft.text._

/** Kernel probes on a workload's own seeded strings.
  *
  * `text`: single-thread ns per call of the `graft.text` kernels.
  * `fn`: wall ns per row of the `graft.functions` expressions with
  * whole-stage codegen on, over a persisted frame written to the noop
  * sink (all executor threads, so this is throughput, not latency). */
object Kernels {
  @volatile private var sink = 0L

  private def nsPerCall(n: Int)(f: Int => Int): Double = {
    var acc = 0L
    var i = 0
    while (i < n) { acc += f(i); i += 1 }
    val reps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var calls = 0L
      while (calls == 0 || System.nanoTime() - t0 < 50000000L) {
        i = 0
        while (i < n) { acc += f(i); i += 1 }
        calls += n
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    sink += acc
    Main.median(reps)
  }

  def text(singles: Array[String], pairs: Array[(String, String)]): Seq[(String, Double)] = {
    val keys = singles.map(MatchKeys.matchKey)
    val (l, r) = pairs.unzip
    Seq(
      "text.normalize_ns" -> nsPerCall(singles.length)(i => Normalize.normalize(singles(i)).length),
      "text.match_key_ns" -> nsPerCall(singles.length)(i => MatchKeys.matchKey(singles(i)).length),
      "text.trigram_keys_ns" -> nsPerCall(keys.length)(i => Ngrams.trigramBlockingKeys(keys(i)).length),
      "text.sift4_ns" -> nsPerCall(l.length)(i =>
        Sift4.dist(l(i), r(i), 3, math.min(l(i).length, r(i).length) / 2 + 2)),
      "text.banded_lev_ns" -> nsPerCall(l.length)(i => EditDistances.boundedLevenshtein(l(i), r(i))),
      "text.jaro_winkler_ns" -> nsPerCall(l.length)(i =>
        (EditDistances.jaroWinkler(l(i), r(i)) * 1000).toInt),
      "text.match_score_ns" -> nsPerCall(l.length)(i => MatchScore.matchScore(l(i), r(i)).toInt))
  }

  val FrameRows = 1 << 18

  def fn(spark: SparkSession, pairs: Array[(String, String)]): Seq[(String, Double)] = {
    import spark.implicits._
    val copies = math.max(1, FrameRows / pairs.length)
    val frame = pairs.toSeq.toDF("a", "b")
      .crossJoin(spark.range(copies).toDF("copy"))
      .select(col("a"), col("b"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = frame.count().toDouble
    val a = col("a")
    val b = col("b")
    def nsPerRow(c: Column): Double = Main.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      frame.select(c.as("out")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / rows
    })
    val out = Seq(
      "fn.normalize_text_ns" -> nsPerRow(gf.normalize_text(a)),
      "fn.match_key_ns" -> nsPerRow(gf.match_key(a)),
      "fn.trigram_keys_ns" -> nsPerRow(gf.trigram_keys(a)),
      "fn.double_metaphone_ns" -> nsPerRow(gf.double_metaphone(a)),
      "fn.sift4_cp_ns" -> nsPerRow(gf.sift4_cp(a, b)),
      "fn.bounded_levenshtein_ns" -> nsPerRow(gf.bounded_levenshtein(a, b)),
      "fn.jaro_winkler_ns" -> nsPerRow(gf.jaro_winkler(a, b)),
      "fn.ref_match_score_ns" -> nsPerRow(gf.ref_match_score(a, b)))
    frame.unpersist(true)
    out
  }
}
