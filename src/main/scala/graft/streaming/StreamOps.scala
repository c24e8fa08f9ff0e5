package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators: the incremental-ingest extension of the
  * batch engine (the reference itself is batch-import + point queries —
  * SURVEY.md §2.7 notes streaming as an extension; these are the windowed
  * and stateful shapes a production ingest of the pages table needs).
  */
object StreamOps {

  /** Tumbling 5-minute windowed aggregate over a streaming events source —
    * identical semantics to the batch Relational.q06EventsWindow. */
  def eventsWindowStream(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → TIMESTAMP for watermarks
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  final case class UserCount(user_id: Long, n: Long)

  /** Stateful running per-user event count via mapGroupsWithState —
    * the custom-state shape (KeyValueGroupedDataset) for streaming ER
    * (e.g. incremental cluster membership). */
  def userCountsStream(spark: SparkSession, events: DataFrame): Dataset[UserCount] = {
    import spark.implicits._
    events.select(col("user_id").cast("long").as("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          UserCount(user, total)
      }
  }

  final case class InternedMention(mention_id: Long, string_id: Long,
      match_key: String, is_new_string: Boolean)

  /** Streaming incremental string interning — the ingest-side analogue of
    * the batch `er.Pipeline.internStrings` (reference get_or_create_string,
    * typeahead.cc:300-306): a stream of mentions grouped by canonical
    * match key assigns the key's string id on first sight and keeps it
    * stable in GroupState forever after — the get_or_create upsert
    * semantics — emitting (mention_id, string_id, match_key,
    * is_new_string) per arriving mention. The id is the same content hash
    * the batch path uses (Pipeline.stringIdHash = xxhash64(match_key)),
    * so streamed ids equal batch ids.
    *
    * Collision story: state is keyed by match_key, so WITHIN a key the id
    * is stable by construction; the residual risk is two DIFFERENT keys
    * hashing to one id (~3 expected at 10^10 distinct strings). The
    * stream cannot repair that the way the batch path does (the groups
    * never see each other), which is why match_key rides along in the
    * output: run [[internIdCollisions]] over the sink table to detect
    * any cross-key id fusion loudly — same never-silent contract as the
    * batch `assignStringIds` repair+assert. */
  def incrementalIntern(spark: SparkSession, mentions: DataFrame): Dataset[InternedMention] = {
    import spark.implicits._
    mentions.select(col("match_key").cast("string"), col("mention_id").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, InternedMention](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val batch = rows.map(_._2).toVector
          val prior = state.getOption
          val sid = prior.getOrElse(graft.er.Pipeline.stringIdHash(key))
          state.update(sid)
          // is_new_string marks exactly one mention: the minimal one of
          // the micro-batch that first carried the key
          val creator = batch.min
          batch.iterator.map(m =>
            InternedMention(m, sid, key, prior.isEmpty && m == creator))
      }
  }

  /** Sink-time audit for [[incrementalIntern]]: string ids claimed by more
    * than one distinct match key, with those keys sorted (empty = no
    * cross-key hash fusion). Run against the sink table after each ingest
    * window; a non-empty result means those ids must be re-keyed before
    * clustering. One partial-aggregated groupBy on string_id, no
    * self-join: collect_set is bounded (2-3 keys on a genuine 64-bit hash
    * collision; anything larger is corruption and still worth printing). */
  def internIdCollisions(interned: DataFrame): DataFrame =
    interned.groupBy(col("string_id"))
      .agg(sort_array(collect_set(col("match_key"))).as("keys"))
      .filter(size(col("keys")) > 1)

  /** LOUD sink-time guard over [[internIdCollisions]] — the streaming
    * counterpart of the batch `assignStringIds` repair+assert (the stream
    * cannot repair, because colliding keys live in GroupState groups that
    * never see each other, so it must FAIL and hand the re-key to a
    * maintenance window). Call per ingest window, e.g. from foreachBatch
    * after appending the micro-batch to the sink table: the check is
    * skew-free and tiny next to the ingest itself. Throws
    * IllegalStateException naming the fused ids and their keys. */
  def assertNoInternCollisions(interned: DataFrame): Unit = {
    val hits = internIdCollisions(interned).limit(3).collect()
    if (hits.nonEmpty)
      throw new IllegalStateException(
        "cross-key string-id fusion detected (id-hash collision): " +
          hits.map(r => s"id=${r.get(0)} keys=${r.getSeq[String](1).mkString("|")}")
            .mkString("; ") +
          " — re-key these ids before clustering")
  }

  final case class DedupMark(doc_id: Long, text_hash: String, keeper: Long,
      is_duplicate: Boolean)

  /** Streaming exact dedup — the ingest-side analogue of the batch q20
    * (hash-groupBy dedup): documents grouped by content hash; the first
    * micro-batch that carries a hash fixes its keeper (min doc_id of that
    * batch) in GroupState, and every later arrival of the same hash is
    * emitted as a duplicate of that keeper. State shards by hash key —
    * the same partitioning story as the batch groupBy; at web scale the
    * state store is RocksDB-backed and the key space is the distinct
    * corpus, not the stream. */
  def incrementalExactDedup(spark: SparkSession, docs: DataFrame): Dataset[DedupMark] = {
    import spark.implicits._
    docs.select(md5(col("text")).cast("string").as("h"),
        col("doc_id").cast("long").as("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, DedupMark](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val batch = rows.map(_._2).toVector
          val keeper = state.getOption.getOrElse(batch.min)
          state.update(keeper)
          batch.iterator.map(d => DedupMark(d, h, keeper, d != keeper))
      }
  }

  final case class BlockPair(src: Long, dst: Long)

  /** A candidate pair carrying both members' canonical match keys, so
    * scoring can run statelessly on the pair stream itself. */
  final case class KeyedBlockPair(src: Long, dst: Long,
      src_key: String, dst_key: String)

  /** Per-key pair-engine state: members seen so far as (id, payload) —
    * bounded — or saturated (the key went hot and emits nothing
    * further). */
  final case class BlockState(members: Vector[(Long, String)], saturated: Boolean)

  /** Streaming incremental candidate generation — the ingest-side analogue
    * of the batch `er.Pipeline.candidatePairs` (trigram + Double-Metaphone
    * blocking): each interned string's blocking keys (24-bit trigram keys
    * over the match key, reference ngram.h:46-54, plus per-token phonetic
    * codes of length ≥ 3) route to per-key GroupState holding the block's
    * members; a new member emits one pair against every prior member (and
    * the within-batch pairs), so after any prefix of the stream the
    * emitted pair set is exactly the batch pair set (same keys, no
    * prefix filter — see below) of the strings seen so far — no
    * recomputation, no rescan of old pages.
    *
    * Hot-key story (the streaming face of the batch maxBlockSize cap):
    * once a key's block reaches `maxBlock` members the state flips to
    * SATURATED — the member list is dropped (state goes O(1)) and the key
    * emits nothing further, forever. The batch path drops hot blocks
    * WHOLE; a stream cannot retract, so the ≤ maxBlock·(maxBlock−1)/2
    * pairs emitted before saturation stand. Both policies bound work per
    * key by maxBlock²; specs compare against batch on corpora below the
    * cap, where the two are provably identical (StreamingSpec).
    *
    * Pairs may repeat across micro-batches when two strings share several
    * blocking keys. The batch path emits a pair once, from the block of
    * its smallest shared kept key; that rule needs every shared key's
    * kept/hot status, which here lives in other keys' state and changes
    * as keys saturate, so one key's state cannot decide ownership.
    * Downstream scoring is idempotent
    * and the sink dedups by (src, dst) — the same sink-side contract as
    * [[internIdCollisions]]. State shards by blocking key, so hot-key
    * pressure spreads across the state store exactly like the batch
    * path's salted shuffle.
    *
    * The batch path additionally prefix-filters trigram keys to the K
    * globally-rarest per string — a whole-corpus frequency ranking a
    * stream cannot compute online. Streaming therefore blocks on ALL
    * keys: recall is a superset of batch recall, and the extra pair
    * volume stays bounded because every key still saturates at maxBlock
    * (the prefix filter is a batch THROUGHPUT optimization; the cap is
    * the scale safety, and it is preserved).
    *
    * Input columns: string_id (long), match_key (string) — one row per
    * NEW string (the `is_new_string` output of [[incrementalIntern]]),
    * so re-mentions of known strings cost nothing here. */
  def incrementalBlocking(spark: SparkSession, strings: DataFrame,
      maxBlock: Int = 256): Dataset[BlockPair] = {
    import spark.implicits._
    incrementalKeyedBlocking(spark, strings, maxBlock)
      .map(p => BlockPair(p.src, p.dst))
  }

  /** [[incrementalBlocking]] with the members' match keys riding on each
    * emitted pair — the state stores (id, key) so downstream scoring
    * needs NO join against a strings table (which, mid-stream, would be
    * a stale snapshot). State cost per key stays bounded by maxBlock. */
  def incrementalKeyedBlocking(spark: SparkSession, strings: DataFrame,
      maxBlock: Int = 256): Dataset[KeyedBlockPair] = {
    import spark.implicits._
    import graft.{functions => gf}
    val keyed = strings.select(
      explode(array_union(
        transform(gf.trigram_keys(col("match_key")),
          k => concat(lit("t:"), k.cast("string"))),
        filter(
          transform(array_distinct(transform(split(col("match_key"), " "),
            t => gf.double_metaphone(t))),
            p => concat(lit("p:"), p)),
          p => length(p) >= 5))).as("bkey"), // "p:" + code of length >= 3
      col("string_id").cast("long").as("string_id"),
      col("match_key").cast("string").as("match_key"))
    statefulPairs(keyed.as[(String, Long, String)], maxBlock)
  }

  /** Streaming scored candidate pairs: keyed blocking + the SAME scalar
    * accept gate batch scoring uses (er.Pipeline.scoreKeyed — one shared
    * kernel, so streamed and batch verdicts cannot diverge). Stateless
    * past the blocking state: the gate is pure codegen'd column math on
    * (src_key, dst_key), no join, no extra shuffle. Output: (src, dst,
    * jw, lev, sift, accepted) per emitted pair; the global hub rule
    * (matchEdges) stays a maintenance-window concern — it is a top-1 over
    * all of a satellite's pairs, which a stream has not all seen yet. */
  def incrementalScoredPairs(spark: SparkSession, strings: DataFrame,
      maxBlock: Int = 256): DataFrame =
    graft.er.Pipeline.scoreKeyed(
        incrementalKeyedBlocking(spark, strings, maxBlock).toDF())
      .select(col("src"), col("dst"), col("jw"), col("lev"), col("sift"),
        col("accepted"))

  /** The one saturating pair engine over (block key, id, payload) rows:
    * each key's GroupState accumulates members, as (id, payload), up to
    * `maxBlock`; past it the key saturates (the member list is dropped
    * and the key emits nothing further), and every admitted member pairs
    * against all prior members plus earlier same-batch admits, the pair
    * carrying both payloads. Deterministic within a micro-batch (ids
    * sorted before admission). The payload is a member's match key for
    * keyed blocking and empty for near-dup buckets. */
  private def statefulPairs(keyed: Dataset[(String, Long, String)],
      maxBlock: Int): Dataset[KeyedBlockPair] = {
    import keyed.sparkSession.implicits._
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[BlockState, KeyedBlockPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, String)],
            state: GroupState[BlockState]) =>
          val st = state.getOption.getOrElse(BlockState(Vector.empty, saturated = false))
          if (st.saturated) Iterator.empty
          else {
            // deterministic order: pairs and the saturation cut must not
            // depend on iterator order within the micro-batch
            val seen = st.members.iterator.map(_._1).toSet
            val fresh = rows.map(r => (r._2, r._3)).toVector
              .distinctBy(_._1).sortBy(_._1)
              .filterNot(m => seen(m._1))
            val admitted = fresh.take(math.max(0, maxBlock - st.members.size))
            val nowSat = st.members.size + fresh.size > maxBlock
            state.update(
              if (nowSat) BlockState(Vector.empty, saturated = true)
              else BlockState(st.members ++ admitted, saturated = false))
            for {
              (n, i) <- admitted.iterator.zipWithIndex
              o <- st.members.iterator ++ admitted.iterator.take(i)
            } yield
              if (o._1 < n._1) KeyedBlockPair(o._1, n._1, o._2, n._2)
              else KeyedBlockPair(n._1, o._1, n._2, o._2)
          }
      }
  }

  /** Streaming MinHash-LSH near-duplicate candidates — the ingest-side
    * analogue of the batch q22/lshPairsXx: each arriving document's 4
    * band fingerprints (the SAME fused minhash_xx signature + banding
    * kernel batch uses — ops.Dedup.xxSigs/bandExplode) route to per-
    * bucket GroupState; a new document pairs against every prior bucket
    * member. Hot buckets saturate at `maxBlock` exactly like blocking
    * keys in [[incrementalBlocking]] (batch drops hot buckets whole; the
    * stream's pre-saturation pairs stand — both bound work per bucket by
    * maxBlock²). Downstream: the exact-Jaccard rescore
    * (ops.Dedup.verifyJaccard) is stateless per pair and applies to this
    * stream as-is in a maintenance window or foreachBatch. */
  def incrementalNearDupPairs(spark: SparkSession, docs: DataFrame,
      maxBlock: Int = 256): Dataset[BlockPair] = {
    import spark.implicits._
    val keyed = graft.ops.Dedup.bandExplode(graft.ops.Dedup.xxSigs(docs))
      .select(concat_ws("#", col("band").cast("string"), col("band_sig")).as("bkey"),
        col("doc_id").cast("long").as("doc_id"), lit("").as("payload"))
    statefulPairs(keyed.as[(String, Long, String)], maxBlock)
      .map(p => BlockPair(p.src, p.dst))
  }

  /** Run a streaming DataFrame from a parquet-backed file stream to a
    * memory sink synchronously; returns the sink table name. */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      mode: OutputMode): Unit = {
    val q = stream.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
