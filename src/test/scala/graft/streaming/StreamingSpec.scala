package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Unloads the state stores of this spec's stopped queries and stops
    * their maintenance task: a later spec that stops the shared session
    * would otherwise leave that task failing against the gone state-store
    * coordinator for the rest of the run. */
  override def afterAll(): Unit =
    try StateStore.stop() finally super.afterAll()

  private val dir = "/root/testdata/sf0.001"

  /** File streaming sources need a directory — stage the single parquet
    * file into one. */
  private lazy val streamDir: String = {
    val d = new java.io.File("/tmp/graft_stream_in")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"${d.getPath}/events.parquet"))
    d.getPath
  }

  test("streaming tumbling-window agg equals batch q06 result") {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    StreamOps.runToMemory(spark,
      StreamOps.eventsWindowStream(stream), "win_out", OutputMode.Append())
    val streamed = spark.table("win_out")
    // batch q06 keeps TIMESTAMP_NTZ; align types for the comparison
    val batch = graft.ops.Relational.q06EventsWindow(spark, dir)
      .withColumn("win_start", $"win_start".cast("timestamp"))
    // watermark append-mode emits all windows once input is exhausted except
    // those still open; with a bounded file all closed windows must match
    val diff = batch.join(streamed,
      Seq("win_start", "event_type", "n_events", "sum_value"), "left_anti")
    val maxStart = batch.agg(max($"win_start").as("m"))
    // every batch window except the last (possibly-open) ones must appear
    assert(diff.join(maxStart, diff("win_start") < maxStart("m")).isEmpty,
      s"streamed result missing closed windows: ${diff.count()}")
  }

  test("streaming incremental interning equals batch internStrings") {
    // stage a small synthetic page corpus as a file stream
    val pages = graft.er.Corpus.pages(spark, 300, 60, 42L).toDF()
    val mentions = graft.er.Pipeline.extractMentions(pages)
      .select($"mention_id", $"mention_id2", $"match_key")
    val d = new java.io.File("/tmp/graft_stream_mentions")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    mentions.coalesce(1).write.parquet(d.getPath)

    val schema = spark.read.parquet(d.getPath).schema
    val stream = spark.readStream.schema(schema).parquet(d.getPath)
    StreamOps.runToMemory(spark,
      StreamOps.incrementalIntern(spark, stream).toDF(), "intern_out", OutputMode.Append())
    val streamed = spark.table("intern_out")
      .select($"mention_id", $"string_id")

    val (_, membership) = graft.er.Pipeline.internStrings(
      spark.read.parquet(d.getPath))
    val batch = membership.select($"mention_id", $"string_id")
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
    // exactly one is_new_string per distinct key
    val newCount = spark.table("intern_out").filter($"is_new_string").count()
    assert(newCount == batch.select($"string_id").distinct().count())
    // sink-time collision audit: no id claimed by two distinct keys
    assert(StreamOps.internIdCollisions(spark.table("intern_out")).isEmpty)
    // and the loud guard passes on the clean table
    StreamOps.assertNoInternCollisions(spark.table("intern_out"))
  }

  test("intern collision guard FAILS LOUD on cross-key id fusion") {
    // A real xxhash64 collision needs ~2^32 keys to manufacture; the guard
    // watches the SINK TABLE, so inject the fused rows directly — two
    // distinct match keys carrying one string_id, exactly what a hash
    // collision would write — plus healthy rows that must not trip it.
    val fused = Seq(
      (1L, 777L, "main street"), (2L, 777L, "maine street"), // collision
      (3L, 5L, "ok one"), (4L, 5L, "ok one"), (5L, 9L, "ok two"))
      .toDF("mention_id", "string_id", "match_key")
    val e = intercept[IllegalStateException] {
      StreamOps.assertNoInternCollisions(fused)
    }
    assert(e.getMessage.contains("777") &&
      e.getMessage.contains("main street") &&
      e.getMessage.contains("maine street"),
      s"guard must name the fused id and keys: ${e.getMessage}")
    // healthy subset passes
    StreamOps.assertNoInternCollisions(
      fused.filter($"string_id" =!= 777L))
  }

  test("streaming exact dedup equals batch q20 (keeper + copy counts)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val d = new java.io.File("/tmp/graft_stream_docs")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    docs.select($"doc_id", $"text").coalesce(1).write.parquet(d.getPath)
    val schema = spark.read.parquet(d.getPath).schema
    val stream = spark.readStream.schema(schema).parquet(d.getPath)
    StreamOps.runToMemory(spark,
      StreamOps.incrementalExactDedup(spark, stream).toDF(), "dedup_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("dedup_out")
      .groupBy($"text_hash")
      .agg(min($"keeper").as("keeper"), count(lit(1)).as("n_copies"))
    val batch = graft.ops.Dedup.q20ExactDedup(spark, dir)
      .select($"text_hash", $"keeper", $"n_copies")
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
  }

  /** The batch pair set over the SAME blocking keys the stream uses (all
    * trigram keys + per-token phonetic codes, no prefix filter) —
    * incrementalBlocking's contract is exact equality with this below the
    * hot-key cap. */
  private def batchPairsAllKeys(strings: org.apache.spark.sql.DataFrame) = {
    import graft.{functions => gf}
    val keyed = strings.select(
      col("string_id").cast("long").as("string_id"),
      explode(array_union(
        transform(gf.trigram_keys(col("match_key")),
          k => concat(lit("t:"), k.cast("string"))),
        filter(
          transform(array_distinct(transform(split(col("match_key"), " "),
            t => gf.double_metaphone(t))),
            p => concat(lit("p:"), p)),
          p => length(p) >= 5))).as("bkey"))
    keyed.as("a").join(keyed.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.string_id") < col("b.string_id"))
      .select(col("a.string_id").as("src"), col("b.string_id").as("dst"))
      .distinct()
  }

  test("streaming incremental blocking equals batch pair set below the cap") {
    val pages = graft.er.Corpus.pages(spark, 300, 60, 42L).toDF()
    val mentions = graft.er.Pipeline.extractMentions(pages)
    val (strings, _) = graft.er.Pipeline.internStrings(mentions)
    val stringsDf = strings.select($"string_id", $"match_key")

    val d = new java.io.File("/tmp/graft_stream_blocking")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    // several files → several micro-batches: pairs must accrue across
    // batches (new arrivals against state, not just within-batch joins)
    stringsDf.repartition(4).write.parquet(d.getPath)
    val schema = spark.read.parquet(d.getPath).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.getPath)
    StreamOps.runToMemory(spark,
      StreamOps.incrementalBlocking(spark, stream, maxBlock = 10000).toDF(),
      "blk_out", OutputMode.Append())
    val streamed = spark.table("blk_out").select($"src", $"dst").distinct()
    val batch = batchPairsAllKeys(stringsDf)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
    assert(streamed.count() > 0)
  }

  test("property: streaming blocking equals the batch pair set under shuffled arrival " +
      "orders") {
    val pages = graft.er.Corpus.pages(spark, 300, 60, 42L).toDF()
    val mentions = graft.er.Pipeline.extractMentions(pages)
    val (strings, _) = graft.er.Pipeline.internStrings(mentions)
    val rows = strings.select($"string_id", $"match_key").as[(Long, String)].collect().toVector
    val batch = batchPairsAllKeys(rows.toDF("string_id", "match_key"))
      .as[(Long, Long)].collect().toSet
    val streamed = for (seed <- Seq(1L, 2L, 3L)) yield {
      // the strings in one seeded order, cut into four files whose
      // modification times lie a minute apart: the file source takes the
      // oldest first, one file per micro-batch
      val d = new java.io.File(s"/tmp/graft_stream_order_$seed")
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      d.mkdirs()
      val order = new scala.util.Random(seed).shuffle(rows)
      for ((chunk, k) <- order.grouped((order.size + 3) / 4).zipWithIndex) {
        val tmp = new java.io.File(s"${d.getPath}_part_$k")
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        chunk.toDF("string_id", "match_key").coalesce(1).write.parquet(tmp.getPath)
        val file = new java.io.File(d, s"batch_$k.parquet")
        java.nio.file.Files.move(
          tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath, file.toPath)
        file.setLastModified(1700000000000L + 60000L * k)
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      }
      val stream = spark.readStream.schema(spark.read.parquet(d.getPath).schema)
        .option("maxFilesPerTrigger", "1").parquet(d.getPath)
      StreamOps.runToMemory(spark,
        StreamOps.incrementalBlocking(spark, stream, maxBlock = 10000).toDF(),
        s"order_out_$seed", OutputMode.Append())
      spark.table(s"order_out_$seed").select($"src", $"dst").as[(Long, Long)].collect().toSet
    }
    assert(batch.nonEmpty)
    for ((got, seed) <- streamed.zip(1 to 3))
      assert(got == batch, s"order $seed: streamed ${got.size} pairs, batch ${batch.size}")
  }

  test("streaming scored pairs carry the exact batch accept verdicts") {
    val pages = graft.er.Corpus.pages(spark, 300, 60, 42L).toDF()
    val mentions = graft.er.Pipeline.extractMentions(pages)
    val (strings, _) = graft.er.Pipeline.internStrings(mentions)
    val stringsDf = strings.select($"string_id", $"match_key")

    val d = new java.io.File("/tmp/graft_stream_scoring")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    stringsDf.repartition(3).write.parquet(d.getPath)
    val schema = spark.read.parquet(d.getPath).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.getPath)
    StreamOps.runToMemory(spark,
      StreamOps.incrementalScoredPairs(spark, stream, maxBlock = 10000),
      "score_out", OutputMode.Append())
    val streamed = spark.table("score_out")
      .select($"src", $"dst", $"jw", $"lev", $"sift", $"accepted").distinct()
      .localCheckpoint(true) // fresh lineage: batch below re-derives from it

    // batch-score the SAME pair set: scores and verdicts must be
    // bit-identical (shared scoreKeyed kernel, same match keys)
    val batch = graft.er.Pipeline.scorePairs(
        streamed.select($"src", $"dst").distinct(), stringsDf)
      .select($"src", $"dst", $"jw", $"lev", $"sift", $"accepted")
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
    assert(streamed.filter($"accepted").count() > 0)
  }

  test("streaming blocking saturates hot keys at maxBlock and stops emitting") {
    // 12 strings with the same match key, one micro-batch, cap 4:
    // deterministic admission = the 4 smallest ids; C(4,2)=6 pairs per
    // blocking key of that string, then the key is dead
    val hot = (0L until 12L).map(i => (i, "zzz common hot"))
    val d = new java.io.File("/tmp/graft_stream_hotkey")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    hot.toDF("string_id", "match_key").coalesce(1).write.parquet(d.getPath)
    val schema = spark.read.parquet(d.getPath).schema
    val stream = spark.readStream.schema(schema).parquet(d.getPath)
    StreamOps.runToMemory(spark,
      StreamOps.incrementalBlocking(spark, stream, maxBlock = 4).toDF(),
      "hot_out", OutputMode.Append())
    val got = spark.table("hot_out").select($"src", $"dst").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for { a <- 0L until 4L; b <- (a + 1) until 4L } yield (a, b)).toSet
    assert(got == expect, s"got $got")
  }

  test("streaming LSH near-dup pairs equal the batch band pair set") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val d = new java.io.File("/tmp/graft_stream_neardup")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    docs.repartition(3).write.parquet(d.getPath)
    val schema = spark.read.parquet(d.getPath).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.getPath)
    // the exact-Jaccard rescore runs INSIDE the streaming query as a
    // stream-static join (stateless per pair) — the full streaming
    // near-dup path, not just banding
    StreamOps.runToMemory(spark,
      graft.ops.Dedup.verifyJaccard(docs,
        StreamOps.incrementalNearDupPairs(spark, stream, maxBlock = 10000).toDF(),
        0.4),
      "nd_out", OutputMode.Append())
    val streamed = spark.table("nd_out")
      .select($"src", $"dst", $"jaccard").distinct()
    // batch path over the same corpus (band buckets are far below 256
    // here, so cap semantics cannot diverge)
    val batch = graft.ops.Dedup.verifyJaccard(
      docs, graft.ops.Dedup.lshPairsXx(docs), 0.4)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
    assert(streamed.count() > 0)
  }

  test("stateful mapGroupsWithState user counts equal batch groupBy") {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(streamDir)
    StreamOps.runToMemory(spark,
      StreamOps.userCountsStream(spark, stream).toDF(), "uc_out", OutputMode.Update())
    // last update per user = final running count
    val streamed = spark.table("uc_out")
      .groupBy($"user_id").agg(max($"n").as("n"))
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
  }
}
