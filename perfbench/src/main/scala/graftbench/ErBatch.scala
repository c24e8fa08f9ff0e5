package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.er.{Corpus, Pipeline}

/** er_batch: the record-linkage job, pages to mention labels, through
  * `Pipeline.runPipeline` without stats actions. One operation is one
  * whole pass over a seeded 50 000-page corpus of 3 000 entities. */
final class ErBatch(args: Main.Args) extends Workload {
  val Pages = 50000L
  val Entities = 3000
  val WarmPages = 500L
  /** Candidate pairs of the corpus at seed 42 (50 000 pages, 3 000 entities). */
  val PairsAtSeed42 = 3314715L
  val MinF1 = 0.99

  private def cfg(pages: Long, dir: String) = Pipeline.Config(
    seed = args.seed, nPages = pages, nEntities = Entities,
    workDir = s"${args.workDir}/$dir", collectStats = false)

  /** The latest untraced pass: its operation index and output, which the
    * F1 check reads. */
  private var last: Option[(Int, Pipeline.PipelineOutput)] = None
  private val pairCounts = scala.collection.mutable.Map.empty[Int, Long]
  private var f1 = Double.NaN
  private var traced: Seq[Seq[(String, Double)]] = Nil
  private var sample: Array[(String, String)] = Array.empty

  def setup(spark: SparkSession): Unit =
    Pipeline.release(Pipeline.runPipeline(spark, cfg(WarmPages, "er-warm")))

  /** Frees the previous pass's persisted output before the next pass. The
    * output stays referenced: after a traced pass the F1 check recomputes
    * it from its lineage (its checkpoints sit in a directory of its own). */
  override def between(spark: SparkSession): Unit =
    last.foreach(l => Pipeline.release(l._2))

  def op(spark: SparkSession, i: Int): Unit = {
    last = None
    val o = Pipeline.runPipeline(spark, cfg(Pages, "er"))
    last = Some((i, o))
    pairCounts(i) = o.stats.candidatePairs
  }

  def tracedOp(spark: SparkSession, probe: Probe, i: Int): Unit = {
    val c = cfg(Pages, "er-traced").copy(collectStats = true)
    val persist = StorageLevel.MEMORY_AND_DISK
    val pages = Corpus.pages(spark, c.nPages, c.nEntities, c.seed).toDF()
    val mentions = probe.span("er.extract") {
      val m = Pipeline.extractMentions(pages).persist(persist); m.count(); m
    }
    val strings = probe.span("er.intern") {
      val s = Pipeline.internStrings(mentions)._1.persist(persist); s.count(); s
    }
    val (pairs, stats) = probe.span("er.blocking")(Pipeline.candidatePairs(strings, c))
    val (accepted, nAccepted) = probe.span("er.scoring") {
      val a = Pipeline.matchEdges(pairs, strings, c).persist(persist); (a, a.count())
    }
    val rounds = probe.span("er.cluster") {
      val (l, m) = Pipeline.forestLabels(strings.select(col("string_id")), accepted, c)
      l.count()
      m.size
    }
    if (sample.isEmpty) sample = probe.span("bench.pair_sample")(pairSample(pairs, strings))
    traced = traced :+ (Layers.ErStages.flatMap(st =>
      Layers.spanFields(s"er.$st", probe.spansNamed(s"er.$st").last)) ++ Seq(
      "er.blocking.keys_kept_ratio" -> stats.keptKeys.toDouble / stats.totalKeys,
      "er.blocking.hot_volume_dropped" -> stats.hotVolumeDropped.toDouble,
      "er.scoring.accept_ratio" -> nAccepted.toDouble / stats.candidatePairs,
      "er.cluster.rounds" -> rounds.toDouble,
      "er.cluster.ckpt_bytes" -> dirBytes(c.workDir).toDouble))
    pairCounts(i) = stats.candidatePairs
    Seq(mentions, strings, pairs, accepted).foreach(_.unpersist(true))
  }

  /** Seeded sample of about 4 000 candidate pairs as match-key pairs. */
  private def pairSample(pairs: DataFrame, strings: DataFrame): Array[(String, String)] = {
    val keys = strings.select(col("string_id"), col("match_key"))
    val share = math.max(1L, pairs.count() / 4000L)
    pairs.filter(pmod(xxhash64(lit(args.seed), col("src"), col("dst")), lit(share)) === 0)
      .join(keys.select(col("string_id").as("src"), col("match_key").as("l")), Seq("src"))
      .join(keys.select(col("string_id").as("dst"), col("match_key").as("r")), Seq("dst"))
      .select(col("src"), col("dst"), col("l"), col("r")).collect()
      .sortBy(r => (r.getLong(0), r.getLong(1)))
      .map(r => (r.getString(2), r.getString(3)))
  }

  private def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }

  def check(spark: SparkSession, ops: Seq[Op]): Unit = {
    val expected =
      if (args.seed == 42L) PairsAtSeed42 else pairCounts.toSeq.minBy(_._1)._2
    for ((i, n) <- pairCounts if n != expected)
      ops(i).error = Some(s"candidate_pairs $n, expected $expected")
    last.foreach { case (i, o) =>
      val truth = Pipeline.withMentionIds(
        Corpus.truth(spark, Pages, Entities, args.seed).toDF())
      f1 = Pipeline.evaluateWeighted(o.pairs, o.strings, o.membership, truth, o.stringLabels).f1
      Pipeline.release(o)
      if (!(f1 >= MinF1)) ops(i).error = Some(s"F1 $f1 < $MinF1")
    }
  }

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val wallS = Main.median(ops.filter(_.ok).map(_.ms)) / 1e3
    val pairs = pairCounts.values.headOption.map(_.toDouble).getOrElse(Double.NaN)
    Seq(
      ("er_wall_s", wallS, "s"),
      ("er_pairs_per_s", pairs / wallS, "1/s"),
      ("er_candidate_pairs", pairs, "count"),
      ("er_f1", f1, "1"))
  }

  def layers(spark: SparkSession, probe: Probe): Seq[(String, Double)] = Layers.medianOf(traced)

  def kernelSample(spark: SparkSession): (Array[String], Array[(String, String)]) = {
    val surfaces = (0L until 4000L).flatMap { i =>
      val page = java.lang.Math.floorMod(graft.er.DetRandom.hash(args.seed, 90L, i), Pages)
      Corpus.makePage(args.seed, Entities, page)._2.map(_.surface)
    }.toArray
    (surfaces, sample)
  }

  override def gaps: Seq[String] = Seq(
    "er.expand: the salted label expand inside Pipeline.runPipeline has no public " +
      "entry point, so the traced pass stops at forestLabels and does not time it")
}
