package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.er.{Corpus, DetRandom, Suggest}
import graft.text.MatchKeys

/** suggest_lookup: adr's forward typeahead as one client in a closed
  * loop. Each operation is one `Suggest.suggest` call over a one-row
  * query frame against an entity table built once per session. Query
  * texts are seeded corruptions of entity names, sent as successive
  * typed prefixes of the same text, one per keystroke. Its traced run
  * also sweeps the `graft.ops` queries. */
final class SuggestLookup(args: Main.Args) extends Workload {
  val Entities = 3000
  val WarmRequests = 2
  val TableSeed = 42L
  /** `suggest` drops queries whose match key is shorter than this. */
  val MinKeyLength = 2

  private var entities: DataFrame = null
  private val sent = mutable.Map.empty[Int, String]
  private val responses = mutable.Map.empty[Int, Seq[Seq[Any]]]

  /** The entity table is the same for every seed, as a typeahead index
    * is: Corpus entity names under `TableSeed`; even ids are streets with
    * house numbers, odd ids are places; each carries its city as its one
    * area. The benchmark seed picks the query texts only, so the table
    * is not a source of run-to-run spread. */
  private def entityTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = (0L until Entities.toLong).map { e =>
      val name = Corpus.entityName(TableSeed, e)
      val h = DetRandom.hash(TableSeed, 70L, e)
      (e, name, if (e % 2 == 0) "street" else "place",
        Seq("city", "town", "village", "locality", "none")(DetRandom.int(h, 5)),
        DetRandom.int(DetRandom.mix64(h), 600000).toLong,
        name.substring(name.lastIndexOf(' ') + 1),
        if (e % 2 == 0) (1 to 1 + DetRandom.int(h >>> 7, 4)).map(k => (k * 7 + e % 13).toString)
        else Seq.empty[String])
    }
    rows.toDF("entity_id", "name", "kind", "category", "population", "city", "house_numbers")
      .select(col("entity_id"), col("name"), col("kind"), col("category"), col("population"),
        lit("default").as("name_lang"), col("entity_id").as("location"),
        array(struct(array(struct(col("city").as("name"), lit("default").as("lang"))).as("names"),
          lit(8).as("level"), lit(100000L).as("pop"))).cast(Suggest.AreasType).as("areas"),
        col("house_numbers"))
  }

  /** Texts from a seeded stream: corrupted entity names, plus a house
    * number for streets. */
  private def texts(stream: Long): Iterator[String] = Iterator.from(0).map { k =>
    val h = DetRandom.hash(args.seed, stream, k.toLong)
    val e = DetRandom.int(h, Entities).toLong
    val base = Corpus.corrupt(Corpus.entityName(TableSeed, e), DetRandom.mix64(h))
    if (e % 2 == 0) s"$base ${(1 + DetRandom.int(h >>> 9, 4)) * 7 + e % 13}" else base
  }

  /** Each text is typed one keystroke at a time, and every keystroke
    * sends the prefix typed so far, starting at the shortest prefix
    * `suggest` answers (a match key of at least two characters). */
  private lazy val requests = texts(71L).flatMap(full => (1 to full.length)
    .map(full.substring(0, _)).dropWhile(p => MatchKeys.matchKey(p).length < MinKeyLength))
  /** Warm-up requests are whole texts from a stream of their own, so every
    * set-up round runs every stage of `suggest` on different texts of the
    * same kind as the measured ones. */
  private lazy val warmups = texts(73L)

  private def request(spark: SparkSession, id: Long, text: String): Seq[Seq[Any]] = {
    import spark.implicits._
    Suggest.suggest(Seq((id, text)).toDF("query_id", "text"), entities)
      .collect().toSeq.map(strip).sortBy(_.head.asInstanceOf[Int])
  }

  /** A response row without its query_id (first column is rank). */
  private def strip(r: Row): Seq[Any] = r.toSeq.tail

  def setup(spark: SparkSession): Unit = {
    entities = entityTable(spark).persist(StorageLevel.MEMORY_AND_DISK)
    entities.count()
    (0 until WarmRequests).foreach(k => request(spark, -1L - k, warmups.next()))
  }

  def op(spark: SparkSession, i: Int): Unit = {
    val text = requests.next()
    sent(i) = text
    responses(i) = request(spark, i.toLong, text)
  }

  override def sweepsOps: Boolean = true

  def tracedOp(spark: SparkSession, probe: Probe, i: Int): Unit =
    probe.span("suggest.request", Seq("text" -> sent(i)))(op(spark, i))

  /** Each response must equal the rows its text gets in one batched call:
    * every window in `suggest` partitions by query_id. */
  def check(spark: SparkSession, ops: Seq[Op]): Unit = {
    import spark.implicits._
    val batch = Suggest.suggest(sent.toSeq.map { case (i, t) => (i.toLong, t) }
      .toDF("query_id", "text"), entities).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q.toInt -> rs.toSeq.map(strip).sortBy(_.head.asInstanceOf[Int]) }
    for ((i, got) <- responses) {
      val want = batch.getOrElse(i, Nil)
      if (got != want) ops(i).error = Some(s"request $i '${sent(i)}': ${got.size} rows differ from " +
        s"the batched call's ${want.size}")
    }
  }

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = Seq(
    ("suggest_p50_ms", Main.median(ops.filter(_.ok).map(_.ms)), "ms"),
    ("suggest_requests", ops.size.toDouble, "count"))

  def layers(spark: SparkSession, probe: Probe): Seq[(String, Double)] = {
    val reqs = probe.spansNamed("suggest.request").map(_.work)
    Seq(
      "suggest.jobs" -> Main.median(reqs.map(_.jobs.toDouble)),
      "suggest.stages" -> Main.median(reqs.map(_.stages.toDouble)),
      "suggest.tasks" -> Main.median(reqs.map(_.tasks.toDouble)),
      "suggest.busy_ms" -> Main.median(reqs.map(_.busyMs.toDouble)))
  }

  def kernelSample(spark: SparkSession): (Array[String], Array[(String, String)]) = {
    val qs = sent.toSeq.sortBy(_._1).map(_._2).toArray
    val names = (0 until 4000).map(k => Corpus.entityName(TableSeed,
      DetRandom.int(DetRandom.hash(args.seed, 72L, k.toLong), Entities).toLong))
    val pairs = names.zipWithIndex.map { case (n, k) =>
      (n, graft.text.MatchKeys.matchKey(qs(k % qs.length)))
    }.toArray
    (qs, pairs)
  }
}
