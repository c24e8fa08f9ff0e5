package graft.er

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import graft.{functions => gf}
import graft.ops.Components.IterationMetrics
import graft.text.AcceptGate

/** The web-scale entity-resolution pipeline (BASELINE.json north_rule):
  * pages → mentions → string interning → blocking → pairwise scoring →
  * transitive clustering.
  *
  * Spark-first reimagination of the reference's matcher:
  * - extraction ↔ OSM name-tag extraction (typeahead.cc:49-77)
  * - string interning ↔ get_or_create_string / D1 (typeahead.cc:300-306):
  *   all blocking + scoring runs over *distinct* canonical strings, so a
  *   Zipf-hot surface form costs one row, not one per occurrence — this is
  *   the single most important 10^12-scale lever (the reference's index is
  *   likewise built over interned strings only)
  * - trigram blocking + count/cosine candidate filter ↔ inverted bigram
  *   index + guess() (typeahead.cc:317-337, 372-439)
  * - pair scoring ↔ get_match_score/sift4 (score.h), here symmetric
  *   Jaro-Winkler + banded Levenshtein on canonical match keys
  * - transitive clustering ↔ duplicate marking + hash-consing
  *   (get_suggestions.cc:703-731, typeahead.cc:308-315), generalized to
  *   connected components over the string-match graph plus
  *   mention→string membership edges
  *
  * Scale design: all shuffles after interning are on fixed-width keys
  * (Int trigrams, Long ids); hot blocking keys are capped with the dropped
  * keys and volume counted in [[BlockingStats]] (the reference's
  * kMaxMatches=6000 analogue, typeahead.cc:428); clustering checkpoints
  * each iteration to parquet for lineage-free resumability, with
  * per-partition metrics when `Config.collectStats`.
  */
object Pipeline {

  final case class Config(
      seed: Long = 42L,
      nPages: Long = 2000L,
      nEntities: Int = 300,
      // blocking
      maxBlockSize: Int = 256,
      // contextual evidence (reference A6 analogue): use co-occurring
      // mention strings on the same page as a tie-breaking signal in hub
      // selection. Off by default (costs one bounded co-occurrence join);
      // needed only for entity spaces denser than the vocabulary-separated
      // default corpus.
      contextEvidence: Boolean = false,
      // clustering
      maxIterations: Int = 20,
      workDir: String = "/tmp/graft_er",
      resume: Boolean = false,
      // true = write the per-partition metrics JSONL of every clustering
      // round (Components.WorkDir.roundMetrics; one scan + collect per
      // round, the north_rule's logged stats). It gates nothing else:
      // BlockingStats ride the action that runs the pair walk either way.
      collectStats: Boolean = true)

  /** Blocking counters (SparkER's blocks and dropped-volume counters),
    * exact on every run: prefix keys in total, kept keys (2 ≤ pfreq ≤
    * maxBlockSize), hot keys dropped (pfreq > maxBlockSize) and their
    * summed member count, and the candidate pairs emitted. */
  final case class BlockingStats(
      totalKeys: Long, keptKeys: Long, hotKeysDropped: Long,
      hotVolumeDropped: Long, candidatePairs: Long)

  // ---------------------------------------------------------------- extract

  /** Tag mixed into the second identity hash — prefixing a distinct
    * literal is equivalent to running xxhash64 under an independent seed. */
  private val Id2Tag = "graft:id2"

  /** 128-bit mention identity from the natural key (url, seq): two
    * independent xxhash64 values. Collision odds for the PAIR at 10^12
    * rows are ~2^-40 — negligible, vs ~2.7% for a single 64-bit hash
    * (which would silently fuse two unrelated mentions). All mention-level
    * joins (membership ↔ truth) key on both columns. */
  def withMentionIds(df: DataFrame): DataFrame = df
    .withColumn("mention_id", xxhash64(col("url"), col("seq")))
    .withColumn("mention_id2", xxhash64(lit(Id2Tag), col("url"), col("seq")))

  /** pages → mentions. Extraction is structural (lines prefixed "loc: ")
    * and built only from deterministic expressions — byte-identical output
    * per url under any partitioning (input_hint invariant). Mention
    * identity is the 128-bit (mention_id, mention_id2) pair — see
    * withMentionIds.
    */
  def extractMentions(pages: DataFrame): DataFrame = {
    withMentionIds(pages
      .select(
        col("url"),
        col("lang"),
        posexplode(
          filter(split(col("text"), "\n"), l => l.startsWith("loc: ")))
          .as(Seq("seq", "line")))
      .select(
        col("url"),
        col("lang"),
        col("seq"),
        expr("substring(line, 6)").as("raw")))
      .withColumn("norm", gf.normalize_text(col("raw")))
      .withColumn("match_key", gf.match_key(col("raw")))
      .filter(length(col("match_key")) >= 2) // F5: min length gate
  }

  // ---------------------------------------------------------------- intern

  /** Pure-Scala mirror of Spark's `xxhash64` over a string (seed 42) —
    * keeps the streaming incremental intern (StreamOps.incrementalIntern)
    * assigning the same ids as the batch expression in assignStringIds. */
  def stringIdHash(key: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(key),
      org.apache.spark.sql.types.StringType, 42L)

  /** Deterministic, collision-FREE Long ids for the interned strings.
    * string_id = xxhash64(match_key), then ONE detect-and-rehash repair
    * round: any id carried by more than one distinct key is reassigned
    * with a tag mixed into the hash and re-checked against the full set;
    * a secondary collision (odds ~1e-9 after ~3 expected primaries at
    * 10^10 keys) aborts the job loudly via assert_true rather than
    * looping further. The result is a pure function of the
    * distinct-key set (partition-invariant) and keeps the clustering loop
    * on 8-byte keys — half the shuffle width of a 128-bit label — while
    * removing the silent-cluster-fusion risk of raw 64-bit hashing.
    * Expected cost beyond the always-needed duplicate check: at 10^10
    * distinct strings ~3 colliding ids → one extra (tiny) round. */
  private def assignStringIds(keys: DataFrame): DataFrame = {
    // Inline detect → repair → verify, with NO extra action (an eager
    // driver-side check would force the whole mentions→groupBy subtree to
    // compute twice per run): colliding ids are found with a window count
    // over the (small, interned) key table, repaired by one deterministic
    // rehash of the colliding keys, and the repaired set is re-verified by
    // a second window count whose failure raises inside the job. Expected
    // collisions at 10^10 distinct strings: ~3 → repair odds of a
    // secondary collision ~1e-9, and even that fails LOUD, never silent.
    val w0 = org.apache.spark.sql.expressions.Window.partitionBy(col("sid0"))
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy(col("sid1"))
    keys
      .withColumn("sid0", xxhash64(col("match_key")))
      .withColumn("n0", count(lit(1)).over(w0))
      .withColumn("sid1", when(col("n0") > 1,
        xxhash64(lit(Id2Tag), col("match_key"), lit(1))).otherwise(col("sid0")))
      .withColumn("n1", count(lit(1)).over(w1))
      .withColumn("string_id", coalesce(
        assert_true(col("n1") === 1,
          lit("string-id hash collision survived the rehash repair — " +
            "refusing to proceed (would silently fuse clusters)")).cast("long"),
        col("sid1")))
      .drop("sid0", "n0", "sid1", "n1")
  }

  /** String interning (reference D1): one row per distinct canonical match
    * key, with a deterministic collision-free Long id (assignStringIds).
    * Returns (strings, membership): strings(string_id, match_key, freq);
    * membership(mention_id, mention_id2, string_id).
    */
  def internStrings(mentions: DataFrame): (DataFrame, DataFrame) = {
    val strings = assignStringIds(
      mentions.groupBy(col("match_key")).agg(count(lit(1)).as("freq")))
      .select(col("string_id"), col("match_key"), col("freq"))
    val membership = mentions
      .select(col("mention_id"), col("mention_id2"), col("match_key"))
      .join(strings.select(col("match_key"), col("string_id")), Seq("match_key"))
      .select(col("mention_id"), col("mention_id2"), col("string_id"))
    (strings, membership)
  }

  // ---------------------------------------------------------------- blocking

  /** Prefix filtering (MF-Join family): pair generation uses only each
    * string's K globally-rarest trigrams — a 1-edit pair disturbs ≤4
    * grams, so the rarest shared grams stay in both prefixes, while
    * Zipf-hot grams stop generating quadratic blocks entirely. */
  final val PrefixKeys = 6

  /** distinct strings → candidate string pairs (src < dst), each pair
    * emitted exactly once.
    *
    * Prefix-filtered blocking (the size/prefix filters of the fuzzy-join
    * literature — PAPERS.md MF-Join; the reference's analogue is the
    * posting-count candidate cut, typeahead.cc:409-423): each string
    * GENERATES pairs only from its [[PrefixKeys]] globally-rarest trigrams.
    * A 1-edit pair disturbs ≤4 of ~20 grams, so both sides keep their
    * rarest shared grams in-prefix and the pair is still generated, while
    * Zipf-hot grams (shared by thousands of strings — zero discriminative
    * signal) stop producing quadratic blocks at all. Residual over-hot
    * prefix blocks are capped at maxBlockSize with the dropped keys and
    * volume counted in the returned [[BlockingStats]] (the reference's
    * kMaxMatches=6000 cap, typeahead.cc:428).
    * Precision is NOT blocking's job here — every candidate pair goes
    * through the scalar accept gate + hub rule (matchEdges; in
    * runPipeline the walk applies the gate itself, see [[pairWalk]]).
    * Double-Metaphone phonetic keys union in as a second key family.
    *
    * Exactly-once ownership (canonical-block dedup: the prefix-filter
    * dedup of Fuzzy Joins Using MapReduce, ICDE 2012, and SparkER's
    * redundancy-free meta-blocking, EDBT 2019). Let K(s) be s's KEPT
    * prefix keys (2 ≤ pfreq ≤ maxBlockSize) and Q(s) its kept phonetic
    * keys. A pair sits in the block of every key its members share, and
    * only one block emits it:
    *  - trigram block k emits (a, b) iff k = min(K(a) ∩ K(b));
    *  - phonetic block p emits (a, b) iff K(a) ∩ K(b) = ∅ and
    *    p = min(Q(a) ∩ Q(b)).
    * Ownership ranges over kept keys only, so a pair whose smallest
    * shared key is hot or a prefix singleton is still emitted by its
    * smallest kept one. Both rules are one rule over a single long key
    * space in which every trigram key orders before every phonetic key:
    * block x emits (a, b) iff x = min(own(a) ∩ own(b)), own = K ∪ Q.
    * Each block member carries its own(s) (≤ PrefixKeys + a few codes)
    * and `gf.block_pairs` applies the test while walking i < j, so the
    * pair set is duplicate-free by construction: no global (src, dst)
    * exchange. The returned pairs are persisted.
    */
  def candidatePairs(strings: DataFrame, cfg: Config): (DataFrame, BlockingStats) = {
    val walk = pairWalk(strings, cfg, verify = false)
    val pairs = walk.rows.persist(StorageLevel.MEMORY_AND_DISK)
    (pairs, walk.finish(pairs.count()))
  }

  /** The blocking pair walk, not yet run: `rows` are its output, and
    * `finish`, called with the walk's row count once an action has run
    * it, reads the blocking stats and releases the walk's caches. */
  private final case class PairWalk(rows: DataFrame, finish: Long => BlockingStats)

  /** The walk [[candidatePairs]] describes. With `verify`, each block
    * member also carries its match key and frequency, and the walk
    * verifies each pair where it is born: `rows` are (src, dst,
    * accepted, sift, src_freq, dst_freq), the accept gate's verdict and
    * the pair's SIFT4 distance (null when rejected) beside every pair it
    * owns (Fuzzy Joins Using MapReduce verifies a candidate in the
    * reducer that generated it); without, `rows` are (src, dst). */
  private def pairWalk(strings: DataFrame, cfg: Config, verify: Boolean): PairWalk = {
    val spark = strings.sparkSession
    import spark.implicits._

    val m = strings
      .select($"string_id", $"match_key", gf.trigram_keys($"match_key").as("tris"))

    val keyed = m.select($"string_id", explode($"tris").as("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val freq = keyed.groupBy($"key").agg(count(lit(1)).as("cnt"))

    // per-string prefix: the K globally-rarest grams with freq ≥ 2
    // (deterministic order). Singleton grams are excluded BEFORE ranking:
    // a freq-1 gram can never generate a pair, yet typo-created grams are
    // exactly the globally-rarest ones — letting them occupy prefix slots
    // crowds out the shared grams that actually recall the pair.
    // top-K selection by hash aggregate instead of a row_number window:
    // the window form sorts the WHOLE keyed-gram table by
    // (string_id, cnt, key); the aggregate form hash-groups and sorts
    // ~20 elements per group — same selected set (array_sort on
    // struct(cnt, key) is the same lexicographic (cnt asc, key asc)
    // order the window used; slice keeps the first PrefixKeys).
    val prefixed = keyed
      .join(freq.filter($"cnt" >= 2), Seq("key"))
      .groupBy($"string_id")
      .agg(slice(array_sort(collect_list(struct($"cnt", $"key"))),
        1, PrefixKeys).as("topk"))
      .select($"string_id", explode($"topk").as("e"))
      .select($"string_id", $"e.key".as("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // prefix-key frequencies. The blocking stats are an observation over
    // them that rides the action that runs the walk, so they cost no job
    // of their own. keptKeys is counted from the kept predicate itself,
    // NOT derived as total - hot: prefix keys whose pfreq is 1 (a gram
    // that survived into only one string's prefix after rank truncation)
    // are dropped by the kept filter too.
    val statsObs = Observation()
    def countWhere(p: Column): Column = coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L))
    val statCols = Seq(count(lit(1)).as("total"),
      countWhere($"cnt" > cfg.maxBlockSize).as("hot"),
      coalesce(sum(when($"cnt" > cfg.maxBlockSize, $"cnt").otherwise(0L)), lit(0L))
        .as("hot_volume"),
      countWhere($"cnt" >= 2 && $"cnt" <= cfg.maxBlockSize).as("kept"))
    val pfreq = prefixed.groupBy($"key").agg(count(lit(1)).as("cnt"))
    val kept = pfreq.observe(statsObs, statCols.head, statCols.tail: _*)
      .filter($"cnt" >= 2 && $"cnt" <= cfg.maxBlockSize)

    // phonetic blocking: per-token Double Metaphone codes (len >= 3);
    // the scorer does the precision work on these coarse keys. A code
    // (≤ 6 ASCII letters/digits, ExprKernels.doubleMetaphone) packs
    // exactly into a long above 2^56, so every phonetic key orders after
    // every 24-bit trigram key
    val phonKeyed = strings
      .select($"string_id",
        explode(array_distinct(transform(
          split($"match_key", " "),
          t => gf.double_metaphone(t)))).as("pkey"))
      .filter(length($"pkey") >= 3)
    val phonKept = phonKeyed.groupBy($"pkey").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 2 && $"cnt" <= cfg.maxBlockSize)
    val phonId = when(octet_length($"pkey") <= 7,
      lit(1L << 56) + conv(hex($"pkey"), 16, 10).cast("long"))
      .otherwise(raise_error(lit("phonetic key longer than 7 bytes")).cast("long"))

    // one ownership set per string: its kept prefix keys K(s) and its
    // kept phonetic keys Q(s), in one key space ordered K before Q. The
    // kept keys are distinct, and a left-semi join pins AQE's broadcast
    // build side to them, whichever stage finishes first
    val own = prefixed
      .join(kept.select($"key"), Seq("key"), "left_semi") // drops singleton + capped keys
      .select($"string_id", $"key".cast("long").as("key"))
      .unionByName(phonKeyed.join(phonKept.select($"pkey"), Seq("pkey"), "left_semi")
        .select($"string_id", phonId.as("key")))
      .groupBy($"string_id")
      .agg(collect_list($"key").as("keys"))
    val (owners, member) =
      if (!verify) (own, struct($"string_id".as("id"), $"keys"))
      else (own.join(strings.select($"string_id", $"match_key", $"freq"), Seq("string_id")),
        struct($"string_id".as("id"), $"keys", $"match_key", $"freq"))

    // AQE sizes stages by their INPUT bytes, so the aggregated block list
    // (~small) gets coalesced to a couple of partitions — and the pair
    // walk below (quadratic in block size) would then run in those few
    // tasks, serializing the whole stage (measured: blocking 47 s at
    // 2 cores → 41 s at 8 cores before this repartition). Explicit
    // round-robin repartition of the cheap aggregated rows restores full
    // parallelism for the expensive pair walk.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // i < j walk per block, bounded by maxBlockSize²/2 per key; a block
    // emits only the pairs whose smallest shared key it is — so a
    // phonetic block skips every pair that shares a kept trigram key
    val rows = owners
      .select(member.as("member"), explode($"keys").as("key"))
      .groupBy($"key")
      .agg(collect_list($"member").as("members"))
      .repartition(sessionParts)
      .select(gf.block_pairs($"key", $"members"))

    PairWalk(rows, nPairs => {
      // Adaptive execution replaces a subtree whose stage came out empty
      // with an empty relation, and an observed node inside it then
      // reports no row. The counts then come from one aggregate over the
      // same frequencies (their input is still cached); only a corpus
      // with no kept prefix key gets here.
      val s = Some(statsObs.get).filter(_.nonEmpty).getOrElse {
        val r = pfreq.agg(statCols.head, statCols.tail: _*).head()
        r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      }
      keyed.unpersist()
      prefixed.unpersist()
      BlockingStats(
        totalKeys = s("total").asInstanceOf[Long],
        keptKeys = s("kept").asInstanceOf[Long],
        hotKeysDropped = s("hot").asInstanceOf[Long],
        hotVolumeDropped = s("hot_volume").asInstanceOf[Long],
        candidatePairs = nPairs)
    })
  }

  // ---------------------------------------------------------------- scoring

  /** candidate string pairs → scored pairs with the scalar accept gate.
    * Scores: Jaro-Winkler + banded Levenshtein + SIFT4 on the canonical
    * match keys (all codegen'd Catalyst expressions — no UDF dispatch).
    * Accept: graft.text.AcceptGate — sift_cp ≤ SiftMaxEdits ∧ lev_cp ≤
    * lev_max ∧ token-aligned gate, all codepoint-level (one typo = one
    * edit on any script); final edge selection adds the frequency-prior
    * hub rule — see matchEdges. */
  def scorePairs(pairs: DataFrame, strings: DataFrame): DataFrame =
    scoreKeyed(withMatchKeys(pairs, strings)).select(col("src"), col("dst"),
      col("jw"), col("lev"), col("sift"), col("min_len"), col("tok_ok"), col("accepted"))

  /** (src, dst) pairs → the same rows plus each side's match key
    * (`src_key`, `dst_key`), the input [[scoreKeyed]] expects. */
  private def withMatchKeys(pairs: DataFrame, strings: DataFrame): DataFrame = {
    val keys = strings.select(col("string_id"), col("match_key"))
    pairs
      .join(keys.withColumnRenamed("string_id", "src").withColumnRenamed("match_key", "src_key"), Seq("src"))
      .join(keys.withColumnRenamed("string_id", "dst").withColumnRenamed("match_key", "dst_key"), Seq("dst"))
  }

  /** The scalar scoring gate alone, over a frame that already carries
    * `src_key`/`dst_key` (stateless, all codegen — no joins, no shuffle):
    * the shared kernel of batch [[scorePairs]] and the streaming
    * scored-edge path (graft.streaming.StreamOps.incrementalScoredPairs),
    * whose `accepted` is the `accept_gate` kernel over the same
    * graft.text.AcceptGate the pair walk runs, so the three CANNOT
    * diverge. Appends jw/lev/sift/min_len/lev_max/tok_ok/accepted to the
    * input columns. */
  def scoreKeyed(withKeys: DataFrame): DataFrame = {
    val spark = withKeys.sparkSession
    import spark.implicits._
    withKeys
      .withColumn("jw", gf.jaro_winkler($"src_key", $"dst_key"))
      // codepoint-level distances, as the gate's (bounded form: -1 when
      // the distance exceeds LevMaxCap)
      .withColumn("lev", levenshtein($"src_key", $"dst_key", AcceptGate.LevMaxCap))
      .withColumn("sift", gf.sift4_cp($"src_key", $"dst_key"))
      .withColumn("min_len", least(length($"src_key"), length($"dst_key")))
      .withColumn("lev_max", greatest(lit(1), least(lit(AcceptGate.LevMaxCap),
        ceil($"min_len" * AcceptGate.LevMaxPerChar))).cast("int"))
      // Scalar accept: the edit-distance gate ONLY. Whole-string JW is
      // deliberately NOT an accept path: on dense entity spaces it passes
      // corrupted variants of *different* entities (jw up to 0.99
      // measured) faster than it recovers true pairs. Precision beyond
      // this gate comes from the frequency-prior hub rule (matchEdges).
      .withColumn("gate", gf.accept_gate($"src_key", $"dst_key"))
      .withColumn("tok_ok", $"gate.tok_ok")
      .withColumn("accepted", $"gate.accepted")
      .drop("gate")
  }

  /** Context caps: distinct strings per page entering co-occurrence (a
    * 1000-mention page is boilerplate), and strongest context neighbors
    * kept per string. */
  final val MaxCtxPerPage = 8
  final val MaxCtxPerString = 64

  /** Bounded page-co-occurrence context (the reference's area evidence A6,
    * recast for ER: co-occurring mentions play the role co-occurring
    * containment areas play in get_suggestions.cc:181-255). Returns
    * (s, c) — string c co-occurs with string s on at least one page.
    * Both sides are capped (strings per page, neighbors per string, kept
    * by co-occurrence count) so the table stays linear in the corpus. */
  def contextPairs(mentions: DataFrame, strings: DataFrame): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val pageStrings = mentions.select($"url", $"match_key")
      .join(strings.select($"match_key", $"string_id"), Seq("match_key"))
      .select($"url", $"string_id").distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"url").orderBy($"string_id")))
      .filter($"rn" <= MaxCtxPerPage)
      .select($"url", $"string_id")
    pageStrings.as("x")
      .join(pageStrings.as("y"),
        $"x.url" === $"y.url" && $"x.string_id" =!= $"y.string_id")
      .groupBy($"x.string_id".as("s"), $"y.string_id".as("c"))
      .agg(count(lit(1)).as("n_pages"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"s").orderBy($"n_pages".desc, $"c".asc)))
      .filter($"rn" <= MaxCtxPerString)
      .select($"s", $"c")
  }

  /** Hub rule: a low-frequency string may only link to a hub at least
    * this many times more frequent (frequency prior, reference X9). */
  final val HubFreqRatio = 2.0

  /** Candidate pairs → accepted match edges: the scalar accept gate
    * ([[scoreKeyed]]), then the frequency-prior hub rule ([[hubEdges]]).
    * runPipeline reaches the same edges without a candidate-pair frame:
    * its pair walk applies the gate itself ([[walkEdges]]). */
  def matchEdges(pairs: DataFrame, strings: DataFrame, cfg: Config,
      mentions: Option[DataFrame] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Cheap-gate PRE-filter before the full scorer: the banded Levenshtein
    // at the cap is a NECESSARY condition of `accepted` (which requires
    // lev ∈ [0, lev_max] with lev_max ≤ LevMaxCap), so filtering lev ≥ 0
    // first drops no accepted edge — it keeps sift4/token-gate/projection
    // work off the vast majority of candidate pairs the distance gate
    // rejects anyway. scorePairs itself stays unfiltered: StreamingSpec
    // compares the streaming gate's verdicts on the rejected pairs too.
    val withKeys = withMatchKeys(pairs, strings)
      .filter(levenshtein($"src_key", $"dst_key", AcceptGate.LevMaxCap) >= 0)
    val freqs = strings.select($"string_id", $"freq")
    hubEdges(scoreKeyed(withKeys).filter($"accepted")
      .join(freqs.withColumnRenamed("string_id", "src").withColumnRenamed("freq", "src_freq"), Seq("src"))
      .join(freqs.withColumnRenamed("string_id", "dst").withColumnRenamed("freq", "dst_freq"), Seq("dst")),
      strings, cfg, mentions)
  }

  /** Accepted pairs (src, dst, sift, src_freq, dst_freq) → match edges
    * via the frequency-prior HUB rule (the reference's population/category
    * priors X8/X9, recast for ER): after interning, an entity's mention
    * mass concentrates on one canonical surface form (case/punctuation/
    * synonym/diacritic variants all collapse to the same match key), while
    * typo variants are low-frequency satellites one edit away. So each
    * low-frequency string links ONLY to its single best higher-frequency
    * hub (top-1 by hub frequency) and never to a sibling satellite:
    * satellite↔satellite edges across entities are exactly the
    * false-positive class on dense entity spaces (two corrupted forms of
    * different entities can land 1 edit apart — no pairwise distance can
    * separate that from a true pair; the frequency prior can).
    * Transitivity through the hub still connects all same-entity
    * satellites. The one edge tail of [[matchEdges]] and [[walkEdges]]. */
  private def hubEdges(accepted: DataFrame, strings: DataFrame, cfg: Config,
      mentions: Option[DataFrame]): DataFrame = {
    val spark = accepted.sparkSession
    import spark.implicits._
    // orient each edge satellite→hub (ties in freq broken by id: no
    // orientation is possible, and the ratio gate drops the edge anyway)
    val oriented = accepted.select(
      when($"src_freq" < $"dst_freq" ||
          ($"src_freq" === $"dst_freq" && $"src" > $"dst"),
        struct($"src".as("low"), $"dst".as("high"),
          $"src_freq".as("low_freq"), $"dst_freq".as("high_freq")))
        .otherwise(
          struct($"dst".as("low"), $"src".as("high"),
            $"dst_freq".as("low_freq"), $"src_freq".as("high_freq"))).as("e"),
      $"sift")
      .select($"e.low", $"e.high", $"e.low_freq", $"e.high_freq", $"sift")
    // top-1 hub per satellite, DISTANCE-first then frequency: with a
    // 2-edit budget a satellite can sit 2 edits from its own canonical and
    // (on dense entity spaces) 1–2 edits from a different entity's — the
    // nearer hub is the right one; frequency only breaks distance ties.
    // Eligible hubs: the frequency-ratio prior, OR any 1-edit neighbor —
    // entities mentioned only a handful of times have no frequency signal
    // (two freq-1 variants of a 2-mention entity), and by vocabulary
    // separation a 1-edit key delta across *different* entities requires
    // two independent typos to collide — the top-1 cap bounds the damage
    // of that rare event to a single satellite's mentions.
    val eligible = oriented
      .filter($"high_freq" >= lit(HubFreqRatio) * $"low_freq" || $"sift" <= 1)
    // Contextual evidence (A6 analogue, optional): when two hubs tie on
    // distance AND frequency — the exact case no pairwise string score can
    // separate — the satellite goes to the hub sharing page-co-occurrence
    // context with it (shared co-occurring strings, e.g. a city mentioned
    // alongside both). Context RANKS, it never creates or vetoes an edge.
    val ranked = (mentions, cfg.contextEvidence) match {
      case (Some(m), true) =>
        val ctx = contextPairs(m, strings)
        val overlap = eligible.select($"low", $"high").distinct()
          .join(ctx.select($"s".as("low"), $"c"), Seq("low"))
          .join(ctx.select($"s".as("high"), $"c"), Seq("high", "c"))
          .groupBy($"low", $"high").agg(count(lit(1)).as("ctx_cnt"))
        eligible
          .join(overlap, Seq("low", "high"), "left")
          .withColumn("ctx_cnt", coalesce($"ctx_cnt", lit(0L)))
      case _ => eligible.withColumn("ctx_cnt", lit(0L))
    }
    ranked
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"low").orderBy(
            $"sift".asc, $"ctx_cnt".desc, $"high_freq".desc, $"high".asc)))
      .filter($"rnk" === 1)
      .select($"low".as("src"), $"high".as("dst"))
  }

  /** strings → the accepted match edges straight from the pair walk,
    * which verifies each pair where it is born ([[pairWalk]] with
    * `verify`): no candidate-pair frame is persisted, re-read or joined
    * back to its match keys. Returns the edges, persisted and
    * materialized; the candidate pairs (src, dst) as lineage only, which
    * recomputes the walk when read; and the blocking stats, whose
    * candidate-pair count is an observation over the walk's rows that
    * rides the edges' one action. The edges equal
    * `matchEdges(candidatePairs(strings, cfg)._1, strings, cfg, mentions)`
    * (ErPipelineSpec). */
  private[er] def walkEdges(strings: DataFrame, cfg: Config,
      mentions: Option[DataFrame]): (DataFrame, DataFrame, BlockingStats) = {
    val spark = strings.sparkSession
    import spark.implicits._
    val walk = pairWalk(strings, cfg, verify = true)
    val walked = Observation()
    val accepted = hubEdges(
        walk.rows.observe(walked, count(lit(1)).as("pairs")).filter($"accepted"),
        strings, cfg, mentions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    accepted.count()
    // a walk stage that came out empty can be pruned with its observed
    // node (see pairWalk); the walk is then counted from its lineage
    val nPairs = walked.get.get("pairs").fold(walk.rows.count())(_.asInstanceOf[Long])
    (accepted, walk.rows.select($"src", $"dst"), walk.finish(nPairs))
  }

  // ---------------------------------------------------------------- clustering

  /** Connected components specialised to the FOREST `matchEdges` emits.
    *
    * Every accepted edge is oriented satellite→hub strictly upward in the
    * (freq, id) total order, and the rnk=1 top-hub cap keeps exactly one
    * out-edge per satellite — so the match graph is a functional forest:
    * acyclic, ≤1 parent per node, and every edge is a tree edge. The
    * edges therefore go straight into the pointer-doubling kernel
    * ([[Components.pointerDoubling]]) as its parent map, with no residual
    * level: a depth-d tree resolves in ceil(log2 d) rounds over one row
    * per satellite (real variant forests: d ≤ 3), and the component label
    * (min member id, equal to a sequential union-find's — ErPipelineSpec)
    * is one window at the end, `min(id) over (partition by root)`.
    *
    * Rounds and window run at [[Components.withLoopWidth]]. Each
    * round checkpoints the parent map to `parents_iter_k` under
    * cfg.workDir (lineage cut, crash resume via cfg.resume, per-partition
    * metrics JSONL when cfg.collectStats) and the loop fails loudly after
    * cfg.maxIterations rounds; the labels go to the one table
    * `<workDir>/labels` that every run overwrites. See
    * [[Components.WorkDir]].
    */
  def forestLabels(
      vertices: DataFrame, // (id)
      edges: DataFrame, // (src, dst) — unique src, acyclic
      cfg: Config): (DataFrame, Vector[IterationMetrics]) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val par0 = edges.select($"src".as("id"), $"dst".as("par"))
    val dir = graft.ops.Components.WorkDir(
      spark, cfg.workDir, cfg.resume, cfg.maxIterations, cfg.collectStats)
    val metrics = graft.ops.Components.withLoopWidth(spark, par0.count()) {
      val (par, metrics) = graft.ops.Components.pointerDoubling(par0, Some(dir))
      // every vertex's root (its own id for a tree root or an isolated
      // vertex) and one min member id per root. A whole tree lands in one
      // task, as it would in a groupBy's join back on the root; a small
      // parent map is broadcast, so the vertices are shuffled once.
      val labels = vertices.select(col(vertices.columns.head).as("id"))
        .join(par, Seq("id"), "left")
        .select($"id", min($"id").over(org.apache.spark.sql.expressions.Window
          .partitionBy(coalesce($"par", $"id"))).as("label"))
      // the read-back cuts the assembly lineage before the corpus-sized
      // membership-expand join reuses the frame
      graft.ops.TableIO.write(labels, dir.labels)
      metrics
    }
    (graft.ops.TableIO.read(spark, dir.labels), metrics)
  }

  // ---------------------------------------------------------------- eval

  final case class EvalResult(
      tp: Long, fp: Long, fn: Long,
      precision: Double, recall: Double, f1: Double,
      labeledPairs: Long)

  /** Mention-level labeled-pair universe: pairs whose interned strings
    * share a kept blocking key (the candidate string pairs expanded through
    * membership) plus same-string mention pairs. Evaluation-only expansion;
    * at production scale this would be sampled. */
  def labeledPairUniverse(stringPairs: DataFrame, membership: DataFrame): DataFrame = {
    val spark = stringPairs.sparkSession
    import spark.implicits._
    // carry the FULL 128-bit identity per side (the file's contract at
    // withMentionIds: mention-level joins key on both columns — a 64-bit
    // universe would fan out on a collision at 10^12 rows and silently
    // inflate tp/fp); pair orientation orders by the (id, id2) struct
    val mem = membership.select(
      struct($"mention_id", $"mention_id2").as("m"), $"string_id")
    val crossString = stringPairs
      .join(mem.withColumnRenamed("string_id", "src").withColumnRenamed("m", "m_src"), Seq("src"))
      .join(mem.withColumnRenamed("string_id", "dst").withColumnRenamed("m", "m_dst"), Seq("dst"))
      .select(least($"m_src", $"m_dst").as("s"), greatest($"m_src", $"m_dst").as("d"))
    val sameString = mem.as("a")
      .join(mem.as("b"), $"a.string_id" === $"b.string_id" && $"a.m" < $"b.m")
      .select($"a.m".as("s"), $"b.m".as("d"))
    crossString.unionByName(sameString)
      .select($"s.mention_id".as("src"), $"s.mention_id2".as("src2"),
        $"d.mention_id".as("dst"), $"d.mention_id2".as("dst2"))
      .dropDuplicates("src", "src2", "dst", "dst2")
  }

  /** Mention-level pairwise metrics computed at STRING granularity with
    * multiplicities — algebraically identical to expanding the universe
    * through membership (labeledPairUniverse + evaluate), because every
    * mention of an interned string carries the same entity (vocabulary
    * separation: canonical names are ≥3 edits apart, corruption ≤1 edit,
    * so no match key straddles entities — violations are counted and
    * must be zero) and the same cluster label (labels are assigned per
    * string). A string pair (s,d) contributes freq_s·freq_d mention
    * pairs; a single string contributes C(freq,2) same-string pairs,
    * always predicted-positive (one string = one label) and always true
    * (one string = one entity). The expanded form materializes
    * O(Σ freq_s·freq_d) rows — quadratic in hot-string frequency; at 2M
    * Zipf pages it starved the driver into executor-heartbeat death.
    * This form is O(|string pairs|). */
  def evaluateWeighted(
      stringPairs: DataFrame, // (src, dst) candidate string pairs
      strings: DataFrame, // (string_id, match_key, freq)
      membership: DataFrame, // (mention_id, string_id)
      truth: DataFrame, // (mention_id, entity_id)
      stringLabels: DataFrame): EvalResult = { // (id, label) over string ids
    val spark = stringPairs.sparkSession
    import spark.implicits._
    // mention-level join on the FULL 128-bit identity pair
    val stringEntity = membership
      .join(truth.select($"mention_id", $"mention_id2", $"entity_id"),
        Seq("mention_id", "mention_id2"))
      .groupBy($"string_id")
      .agg(min($"entity_id").as("entity_id"),
        countDistinct($"entity_id").as("n_entities"),
        count(lit(1)).as("n_mentions"))
    val info = strings.select($"string_id", $"freq")
      .join(stringEntity, Seq("string_id"))
      .join(stringLabels.select($"id".as("string_id"), $"label"), Seq("string_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Coverage guard: the weighted metrics weight each string by its full
    // freq, which is only valid if truth and stringLabels cover EVERY
    // mention/string — assert it instead of silently diverging from the
    // expanded labeledPairUniverse+evaluate when coverage is partial.
    val cov = info.agg(count(lit(1)).as("n_strings"),
      coalesce(sum($"n_mentions"), lit(0L)).as("n_m"),
      coalesce(sum(when($"freq" =!= $"n_mentions", 1L).otherwise(0L)), lit(0L))
        .as("freq_mismatch")).collect()(0)
    val nStrings = strings.count()
    require(cov.getLong(0) == nStrings && cov.getLong(2) == 0L,
      s"evaluateWeighted coverage violated: ${nStrings - cov.getLong(0)} strings " +
        s"dropped by the truth/label joins, ${cov.getLong(2)} strings with " +
        "truth-joined mention count != freq — use the expanded " +
        "labeledPairUniverse + evaluate instead")
    // Decimal(38,0) weight arithmetic: freq·(freq−1) wraps a signed 64-bit
    // Long at freq ≳ 3.04e9 — exactly the Zipf-hot frequencies the
    // weighted form exists for at the 10^12-page design point. Spark
    // (non-ANSI) wraps silently; decimal sums are exact, and the final
    // longValueExact() conversions below fail LOUD if a metric genuinely
    // exceeds Long range instead of going quietly negative.
    val dec = DecimalType(38, 0)
    val sameAgg = info.agg(
      coalesce(sum($"freq".cast(dec) * ($"freq" - 1)), lit(0L).cast(dec))
        .as("same_tp2"),
      coalesce(sum(when($"n_entities" > 1, 1L).otherwise(0L)), lit(0L)).as("mixed"))
      .collect()(0)
    val sameTp = sameAgg.getDecimal(0).divide(java.math.BigDecimal.valueOf(2))
      .longValueExact() // product always even: exact halving
    val mixed = sameAgg.getLong(1)
    require(mixed == 0L,
      s"$mixed interned strings map to multiple entities — the weighted " +
        "evaluation's per-string invariant is violated; use the expanded " +
        "labeledPairUniverse + evaluate instead")
    val cross = stringPairs
      .join(info.select($"string_id".as("src"), $"freq".as("src_f"),
        $"entity_id".as("src_e"), $"label".as("src_l")), Seq("src"))
      .join(info.select($"string_id".as("dst"), $"freq".as("dst_f"),
        $"entity_id".as("dst_e"), $"label".as("dst_l")), Seq("dst"))
      .select(($"src_e" === $"dst_e").as("m"), ($"src_l" === $"dst_l").as("p"),
        ($"src_f".cast(dec) * $"dst_f").as("w")) // decimal: no silent wrap
    val zero = lit(0L).cast(dec)
    val agg = cross.agg(
      coalesce(sum(when($"m" && $"p", $"w").otherwise(zero)), zero).as("tp"),
      coalesce(sum(when(!$"m" && $"p", $"w").otherwise(zero)), zero).as("fp"),
      coalesce(sum(when($"m" && !$"p", $"w").otherwise(zero)), zero).as("fn"),
      coalesce(sum($"w"), zero).as("n")).collect()(0)
    info.unpersist()
    val (tp, fp, fn, n) = (
      agg.getDecimal(0).longValueExact() + sameTp,
      agg.getDecimal(1).longValueExact(),
      agg.getDecimal(2).longValueExact(),
      agg.getDecimal(3).longValueExact() + sameTp)
    val p = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    val r = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    EvalResult(tp, fp, fn, p, r, f1, n)
  }

  /** Pairwise F1 over labeled pairs sharing a blocking key (BASELINE
    * metric). `universe` = mention-level labeled pairs carrying the full
    * 128-bit identity per side (src, src2, dst, dst2), `truth` maps
    * (mention_id, mention_id2) → entity_id, `labels` maps
    * (id, id2) → cluster label. Every join here keys on BOTH identity
    * columns (the withMentionIds contract) so a 64-bit collision cannot
    * fan a pair out and inflate tp/fp. */
  def evaluate(universe: DataFrame, truth: DataFrame, labels: DataFrame): EvalResult = {
    val spark = universe.sparkSession
    import spark.implicits._
    val t = truth.select($"mention_id", $"mention_id2", $"entity_id")
    val l = labels.select($"id".as("mention_id"), $"id2".as("mention_id2"), $"label")
    def as(df: DataFrame, side: String, v: String, out: String): DataFrame =
      df.withColumnRenamed("mention_id", side)
        .withColumnRenamed("mention_id2", s"${side}2")
        .withColumnRenamed(v, out)
    val joined = universe
      .join(as(t, "src", "entity_id", "src_e"), Seq("src", "src2"))
      .join(as(t, "dst", "entity_id", "dst_e"), Seq("dst", "dst2"))
      .join(as(l, "src", "label", "src_l"), Seq("src", "src2"))
      .join(as(l, "dst", "label", "dst_l"), Seq("dst", "dst2"))
      .select(
        ($"src_e" === $"dst_e").as("is_match"),
        ($"src_l" === $"dst_l").as("predicted"))
    val agg = joined.agg(
      coalesce(sum(when($"is_match" && $"predicted", 1L).otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(!$"is_match" && $"predicted", 1L).otherwise(0L)), lit(0L)).as("fp"),
      coalesce(sum(when($"is_match" && !$"predicted", 1L).otherwise(0L)), lit(0L)).as("fn"),
      count(lit(1)).as("n")).collect()(0)
    val (tp, fp, fn, n) = (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val p = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    val r = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    EvalResult(tp, fp, fn, p, r, f1, n)
  }

  // ---------------------------------------------------------------- e2e

  /** One pipeline pass: the blocking stats; the candidate pairs
    * (src, dst), lineage only (reading them recomputes the pair walk);
    * mention membership and labels, persisted; the interned strings and
    * their labels. */
  final case class PipelineOutput(
      stats: BlockingStats,
      pairs: DataFrame, membership: DataFrame, labels: DataFrame,
      strings: DataFrame, stringLabels: DataFrame)

  /** Skew: salt buckets for the membership-expand join (hot string_ids). */
  final val SaltBuckets = 8

  /** The measured pipeline: pages → mentions → intern → block and verify
    * → cluster → mention labels. No evaluation work (truth/universe
    * expansion) — this is the unit ScalingBench/Bench measure. The pair
    * walk verifies each candidate where it is born ([[walkEdges]]), so no
    * frame of candidate-pair cardinality is persisted; the stages run no
    * count-only actions: their work runs inside the accepted edges'
    * count, the clustering rounds and the final labels count, so a stage
    * has no wall time of its own here (perfbench `--trace 1` times the
    * separate-stage API one by one). Only membership and labels stay
    * persisted when it returns. */
  def runPipeline(spark: SparkSession, cfg: Config): PipelineOutput = {
    import spark.implicits._
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    // only the columns later stages read: contextPairs is the one reader
    // of `url`
    val mentions = extractMentions(pages)
      .select((Seq("match_key", "mention_id", "mention_id2") ++
        Option.when(cfg.contextEvidence)("url")).map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val (strings0, membership0) = internStrings(mentions)
    val strings = strings0.persist(StorageLevel.MEMORY_AND_DISK)
    val membership = membership0.persist(StorageLevel.MEMORY_AND_DISK)

    val (accepted, pairs, stats) = walkEdges(strings, cfg,
      if (cfg.contextEvidence) Some(mentions) else None)

    // cluster the *string* graph only (strings are the interned minority;
    // iterating pointer doubling over every mention would shuffle the
    // full corpus per iteration), then expand to mentions with ONE join
    // through the membership table.
    val (stringLabels, _) = forestLabels(strings.select($"string_id"), accepted, cfg)
    // Expand string labels to mentions with an EXPLICITLY SALTED join:
    // membership is Zipf-skewed on string_id (a hot surface form carries
    // millions of mentions on a single key at corpus scale, all hashed to
    // one shuffle partition). Salting the big side and replicating the
    // small side `SaltBuckets`× makes the plan skew-free by construction
    // at any scale (AQE's skew-join split only rescues sort-merge joins
    // after the fact). Salt = hash(mention_id) — deterministic, so the
    // output stays partition-count invariant.
    val g = SaltBuckets
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // The explicit repartition on the join key pins the join width to the
    // session's shuffle partitions: AQE otherwise coalesces this exchange
    // by its INPUT bytes (~64 MB advisory → a handful of tasks) and the
    // corpus-sized join runs nearly serial (measured 1.3× scaling 2→8
    // cores before the pin).
    val saltedMembership = membership
      .withColumn("salt", pmod(xxhash64($"mention_id"), lit(g)).cast("int"))
      .repartition(sessionParts, $"string_id", $"salt")
    val replicatedLabels = stringLabels
      .withColumnRenamed("id", "string_id")
      .select($"string_id", $"label",
        explode(transform(sequence(lit(0), lit(g - 1)), x => x.cast("int"))).as("salt"))
    val labels = saltedMembership
      .join(replicatedLabels, Seq("string_id", "salt"))
      .select($"mention_id".as("id"), $"mention_id2".as("id2"), $"label")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the membership join is the only job that must run here: it
    // materializes the labels for callers
    labels.count()
    mentions.unpersist(); strings.unpersist(); accepted.unpersist()
    PipelineOutput(stats, pairs, membership, labels, strings, stringLabels)
  }

  /** Release a PipelineOutput's persisted frames (membership and labels —
    * the two caches runPipeline leaves alive for the caller; its pairs
    * are lineage only). Repeated-run harnesses (Bench min-of-3,
    * ScalingBench reps) MUST call this on every output they discard: each
    * leaked mention-scale cache evicts blocks the next timed run needs. */
  def release(o: PipelineOutput): Unit = {
    o.membership.unpersist(); o.labels.unpersist()
  }

  /** Full pipeline + pairwise-F1 evaluation against generator truth. */
  def run(spark: SparkSession, cfg: Config): EvalResult = {
    val out = runPipeline(spark, cfg)
    val truth = withMentionIds(
      Corpus.truth(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF())
    val eval = evaluate(labeledPairUniverse(out.pairs, out.membership), truth, out.labels)
    release(out)
    eval
  }
}
