package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** Training-data deduplication operators over `documents`:
  * exact (hash groupBy), MinHash signatures + LSH band pairs, SimHash,
  * n-gram Jaccard near-dup, embedding-cosine near-dup.
  *
  * Oracle-checked entries (qNN) hash with md5 so DuckDB can reproduce
  * the exact values; the PRODUCTION instances of the same shapes
  * (minhashXx / lshPairsXx) key on xxhash64 Longs — fixed-width shuffle
  * keys, no hex strings — and DedupSpec proves both paths emit the same
  * near-dup pair set once the exact-Jaccard verification rescore
  * (verifyJaccard) runs.
  */
object Dedup {
  import Tables.load

  /** Hot-block cap shared by every pair-expanding query here (the
    * reference's kMaxMatches=6000 analogue, typeahead.cc:428; same rule as
    * er.Pipeline.Config.maxBlockSize): buckets larger than this are
    * dropped whole — a deterministic rule a SQL oracle can mirror with a
    * HAVING count(*) — so no block can go quadratic at corpus scale. */
  val MaxBlock = 256

  /** Exact dedup: one group per identical text. */
  def q20ExactDedup(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** MinHash signatures, oracle instance: hash_h(s) = md5(s || ':' || h)
    * hex strings, byte-reproducible in DuckDB. The whole signature —
    * word-3-shingles, 8 slot mins — is ONE fused map-side expression
    * (gf.minhash_md5 / ExprKernels.minhashMd5) posexploded to the
    * (doc_id, h, minhash) contract: no shuffle at all, where the
    * declarative formulation paid an explode(shingles×8)→groupBy
    * exchange over every shingle row. Sub-3-token docs yield a NULL
    * signature and fall out of the posexplode (the old filter's drop). */
  def q21Minhash(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(gf.minhash_md5(gf.normalize_text(col("text"))))
          .as(Seq("h", "minhash")))

  /** MinHash signatures, PRODUCTION instance: Spark-chained xxhash64 —
    * 8-byte Long shuffle/agg keys instead of 32-char hex strings (4×
    * narrower rows through every exchange, no hex encode). Same fused
    * map-side shape as q21; DedupSpec proves the LSH pair set over this
    * signature matches the md5 demo path on the test corpus. */
  def minhashXx(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(gf.minhash_xx(gf.normalize_text(col("text"))))
        .as(Seq("h", "minhash")))

  /** LSH band-pair core over per-doc signature ARRAYS (doc_id, sig
    * array<string>[8]): band signatures (4 bands × 2 slots, order-free
    * min|max fingerprint) come straight off the array map-side, so the
    * only exchange in the whole query is the band-bucket groupBy —
    * the declarative pipeline paid three. */
  /** Band fingerprints off a per-doc signature array — (doc_id, band,
    * band_sig), map-side only. Shared by the batch LSH block expansion
    * below and the streaming near-dup path (StreamOps
    * .incrementalNearDupPairs), so the banding CANNOT diverge. */
  private[graft] def bandExplode(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(3)), b => {
        val lo = element_at(col("sig"), (b * 2 + 1).cast("int"))
        val hi = element_at(col("sig"), (b * 2 + 2).cast("int"))
        concat_ws("|", least(lo, hi), greatest(lo, hi))
      })).as(Seq("band", "band_sig")))

  private def lshCore(sigs: DataFrame): DataFrame = {
    val bands = bandExplode(sigs)
    // block expansion instead of a self-join: the signature subtree (full
    // shingle + hash×8 pipeline) is computed ONCE, buckets become member
    // lists, pairs explode map-side. Buckets above MaxBlock are dropped
    // whole (a web-scale near-dup-heavy corpus makes band buckets hot;
    // without the cap a single hot band_sig is a quadratic task).
    bands.groupBy(col("band"), col("band_sig"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, MaxBlock))
      .select(explode(col("ids")).as("src"), col("ids"))
      .select(col("src"), explode(col("ids")).as("dst"))
      .filter(col("src") < col("dst"))
      .distinct()
  }

  /** LSH band pairs, oracle instance (md5 signatures). */
  def q22LshPairs(spark: SparkSession, dir: String): DataFrame =
    lshCore(load(spark, dir, "documents").select(col("doc_id"),
      gf.minhash_md5(gf.normalize_text(col("text"))).as("sig")))

  /** LSH band pairs, PRODUCTION instance (xxhash64 signatures; the
    * string cast reproduces the former cast-then-compare band
    * fingerprint byte-for-byte). */
  def lshPairsXx(docs: DataFrame): DataFrame = lshCore(xxSigs(docs))

  /** Per-doc production signature frame (doc_id, sig array<string>[8]) —
    * the input both batch [[lshPairsXx]] and streaming near-dup band. */
  private[graft] def xxSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      gf.minhash_xx(gf.normalize_text(col("text"))).cast("array<string>").as("sig"))

  /** Exact-Jaccard verification rescore over candidate pairs — the stage
    * every production LSH deployment runs after banding, because banding
    * alone admits accidental band collisions (hash-family-dependent
    * noise) and its recall curve is probabilistic. Joins each pair to
    * the per-doc distinct 3-shingle sets (64-bit hashed, fixed-width)
    * and keeps pairs at or above the threshold. After this stage the
    * md5 demo path and the xxhash64 production path agree exactly
    * (DedupSpec) — the hash family only moves which sub-threshold noise
    * pairs get rescored away. */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"),
        gf.shingle_hashes(gf.normalize_text(col("text"))).as("shs"))
      .filter(col("shs").isNotNull)
    pairs
      .join(perDoc.select(col("doc_id").as("src"), col("shs").as("shs_a")), Seq("src"))
      .join(perDoc.select(col("doc_id").as("dst"), col("shs").as("shs_b")), Seq("dst"))
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("src"), col("dst"), col("jaccard"))
  }

  /** 32-bit SimHash over the token multiset (md5-hex bit decomposition —
    * reproducible in SQL; production uses xxhash64 bits). */
  def q24Simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(gf.normalize_text(col("text")), " ")).as("token"))
      .withColumn("hx", md5(col("token")))
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("hexdigit",
        expr("CAST(conv(substring(hx, CAST(floor(b / 4) AS INT) + 1, 1), 16, 10) AS INT)"))
      .withColumn("bit", expr("shiftright(hexdigit, CAST(b % 4 AS INT)) % 2"))
      .withColumn("contrib", col("bit") * 2 - 1)
    d.groupBy(col("doc_id"), col("b"))
      .agg(sum(col("contrib")).as("s"))
      .withColumn("bitval", when(col("s") > 0, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(sum(expr("shiftleft(bitval, b)")).as("simhash"))
  }

  /** Word-3-shingle Jaccard near-dup pairs over documents (≥ 0.1).
    * Shingle keys are high-entropy (unlike char trigrams over a small
    * vocabulary), so the shared-key self-join stays near-linear — the
    * scale-safe formulation. */
  def q23NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // One fused pass over documents (gf.shingle_hashes): per-doc distinct
    // shingle sets hashed to 64 bits map-side (same pairs — collision
    // odds ~1e-8 at this cardinality — fixed-width shuffle keys), then
    // block expansion per shingle hash instead of a self-join. The former
    // explode→collect_set exchange is gone; the only shuffles left are
    // the block groupBy and the pair-count groupBy.
    val perDoc = load(spark, dir, "documents")
      .select(col("doc_id"),
        gf.shingle_hashes(gf.normalize_text(col("text"))).as("shs"))
      .filter(col("shs").isNotNull)
      .select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("sh"))
    // hot-shingle cap: boilerplate shingles shared by thousands of docs
    // carry no near-dup signal and would explode quadratically — drop
    // blocks above MaxBlock whole (mirrored in the oracle via HAVING)
    val blocks = perDoc.groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ms"))
      .filter(size(col("ms")).between(2, MaxBlock))
    blocks
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        round(col("shared").cast("double") / (col("n1") + col("n2") - col("shared")), 6))
      .filter(col("jaccard") >= 0.1)
      .select(col("src"), col("dst"), col("jaccard"))
  }

  /** Embedding-cosine near-dup pairs, de-quadratic'd: random-hyperplane
    * LSH, 32 sign bits over the 64-dim embedding space in 8 bands × 4
    * bits; ±1 hyperplane weights derive from md5 parity so the DuckDB
    * oracle reproduces them exactly. Recall at the demo threshold 0.35 is
    * ~0.7 per the sign-agreement formula (1-(1-p^4)^8, p = 1-acos(c)/π);
    * the production near-dup regime (cosine ≥ 0.9) sits at ~0.99.
    *
    * Random-hyperplane
    * LSH buckets (sign of v·w per hyperplane, banded) generate candidate
    * pairs inside capped buckets only; the exact fused-codegen CosineSim
    * rescore keeps just pairs ≥ 0.35. No cross join anywhere — the plan
    * is scan → band explode → hash agg → capped map-side pair explode →
    * scalar rescore. The 32-bit signature is ONE fused codegen call
    * (gf.lsh_band_vals / ExprKernels.lshBandVals: quantized ±1 dot
    * products packed into 8 4-bit band values) — the former 32×64
    * `aggregate` HOF tree was the dominant scalar cost of this scan.
    * Exact top-k over the full space remains q26; the IVF path is q27. */
  def q25EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v")) // primitive float arrays
    // banding, bucketing, pair explode, and pair dedup all run over BARE
    // ids — a 64-dim vector never rides the band exchange (8× replicated)
    // or the pair-distinct exchange. Vectors re-attach by two equi-joins
    // only for the pairs that survive (the verifyJaccard rescore shape);
    // at corpus scale that is the difference between shuffling the
    // embedding table ~9× wide and shuffling narrow longs + 2 joins.
    val bands = e
      .select(col("vec_id"),
        posexplode(gf.lsh_band_vals(col("v"))).as(Seq("band", "band_val")))
    bands.groupBy(col("band"), col("band_val"))
      .agg(collect_list(col("vec_id")).as("ms"))
      .filter(size(col("ms")).between(2, MaxBlock)) // hot-bucket cap, mirrored in oracle
      .select(explode(col("ms")).as("src"), col("ms"))
      .select(col("src"), explode(col("ms")).as("dst"))
      .filter(col("src") < col("dst"))
      .dropDuplicates("src", "dst") // a pair may share several bands
      .join(e.select(col("vec_id").as("src"), col("v").as("va")), Seq("src"))
      .join(e.select(col("vec_id").as("dst"), col("v").as("vb")), Seq("dst"))
      .withColumn("cosine", round(gf.cosine_sim(col("va"), col("vb")), 5))
      .filter(col("cosine") >= 0.35)
      .select(col("src"), col("dst"), col("cosine"))
  }

  /** q55: the END-TO-END near-dup dedup lifecycle a production pipeline
    * actually runs — banded MinHash candidates (q22's exact shape) →
    * exact-Jaccard verification rescore ([[verifyJaccard]], threshold
    * 0.4) → transitive closure over the surviving pairs (pointer
    * doubling, [[Components.connectedComponents]]) → canonical-document pick
    * (component label = min member id = the keeper; everything else is
    * marked duplicate). Output is one row per document, so the result
    * doubles as the pipeline's keep/drop manifest. Every stage is the
    * already-audited scale shape (capped band buckets, pair-local
    * rescore, edge-induced clustering loop); the composition adds no new
    * exchange beyond its parts. */
  def q55DedupLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val verified = verifyJaccard(docs, q22LshPairs(spark, dir), 0.4)
    // verified near-dup components are cliques (every group member passes
    // the pairwise gate), so the first min-neighbor level resolves them in
    // one pointer-doubling round and the residual level is empty
    val labels = Components.connectedComponents(
      docs.select(col("doc_id").as("id")),
      verified.select(col("src"), col("dst")))
    labels.select(col("id").as("doc_id"), col("label").as("keeper"),
      (col("id") =!= col("label")).as("is_duplicate"))
  }

  /** q59 window width (tokens) and winnowing window (selection density
    * ~2/(K+1)): any cross-document duplicate span of at least
    * W + K − 1 = 11 tokens is GUARANTEED to share a selected fingerprint
    * (the K-run of shared windows is a full winnowing window in both
    * docs; its min fingerprint is selected in both — Schleimer/Wilkerson/
    * Aiken 2003, theorem 1). The public corpus-dedup form (Lee et al.
    * 2022) uses a suffix array over the whole corpus — inherently
    * single-machine; winnowed window fingerprints re-express the same
    * substring-granularity detection as capped hash joins. */
  val SubstrW = 8
  val SubstrK = 4

  /** q59: EXACT substring-level dedup — the one production dedup family
    * document-granular MinHash (q21/q22/q55) cannot cover: boilerplate,
    * license headers, and benchmark contamination are duplicated SPANS
    * inside otherwise-distinct documents. Per doc: tokenize, hash every
    * W-token window (md5 — DuckDB-reproducible, same family as q21),
    * winnowing-select the min fingerprint of every K-window run (the
    * sliding `min OVER` — tail-partial windows included, which only adds
    * selections and keeps the guarantee), then pair docs through a
    * CAPPED fingerprint join (planet-scale boilerplate fps are dropped
    * whole, HAVING-mirrored) and merge overlapping/adjacent matched
    * windows into maximal spans per pair (island detection over the
    * running coverage max). Output: per (da < db) pair, the shared
    * selected-fingerprint count, merged span count, and covered tokens
    * in da's coordinate space.
    *
    * Scale: window hashing and selection are per-doc (one exchange on
    * doc_id for the sliding min — at ingest this rides the existing
    * per-doc partitioning); the only pair-expanding join is
    * fingerprint-capped; islands partition by (da, db). Winnowing cuts
    * the fingerprint volume ~(K+1)/2× vs every-window emission. */
  def q59SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedup(load(spark, dir, "documents"))

  def substringDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), split(gf.normalize_text(col("text")), " ").as("t"))
      .filter(size(col("t")) >= SubstrW)
    // winnowing selection as ONE fused map-side kernel (gf.winnow_fps /
    // ExprKernels.winnowFps): window md5s, the K-run sliding min (struct
    // (fp, pos) lexicographic — earliest position on ties) and the per-fp
    // earliest selected position all happen inside the row. The former
    // declarative form exploded every window hash and SHUFFLED it by
    // doc_id just to run the per-doc sliding-min window + groupBy — a
    // full-corpus exchange at scale for a computation that never needs to
    // leave the document (byte-equality with that form is pinned by
    // DedupSpec and the unchanged q59 oracle hash).
    val selPos = toks
      .select(col("doc_id"),
        explode(gf.winnow_fps(col("t"), SubstrW, SubstrK)).as("s"))
      .select(col("doc_id"), col("s.fp").as("fp"), col("s.pos").as("pos"))
    // hot-fingerprint cap: a license header shared by millions of docs
    // must not go quadratic — over-cap fps dropped whole (oracle HAVING)
    val kept = selPos.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs").between(2, MaxBlock)).select(col("fp"))
    val sp = selPos.join(kept, Seq("fp"))
    val pairs = sp.as("a").join(sp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.pos").as("pa"))
    // island detection: a matched window [pa, pa+W-1] extends the current
    // span iff pa ≤ running max of previous (pa + W) (overlap or adjacency)
    val byPair = Window.partitionBy(col("da"), col("db")).orderBy(col("pa"))
    pairs
      .withColumn("prev_end", max(col("pa") + SubstrW).over(
        byPair.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pa") > col("prev_end"), 1)
          .otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(byPair))
      .groupBy(col("da"), col("db"), col("span_id"))
      .agg(count(lit(1)).as("n_fps"),
        (max(col("pa")) + SubstrW - min(col("pa"))).as("span_len"))
      .groupBy(col("da"), col("db"))
      .agg(sum(col("n_fps")).as("n_shared_fp"),
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("dup_tokens"))
  }

  /** q62 eval-side hot-gram cap: a normalized W-gram present in more
    * than this many DISTINCT eval documents is a common phrase /
    * benchmark boilerplate, not a contamination signal — dropped whole
    * before the join (the GPT-3 appendix-C "common n-gram"
    * exclusion rule, Brown et al. 2020; PaLM and Dolma keep the same
    * rule). The oracle mirrors it as a HAVING on the eval-grams CTE. */
  val DecontamHotCap = 16L

  /** q62: test-set DECONTAMINATION — flag training documents that share
    * any normalized W-token n-gram with a held-out evaluation set (the
    * public exact-collision method: GPT-3 appendix C / PaLM / Dolma use
    * 13-grams; W here is [[SubstrW]] = 8 so the synthetic corpus
    * exercises hits). The eval set is the deterministic
    * doc_id % 29 == 0 stratum of `documents`; a real benchmark table
    * slots into [[decontaminate]] unchanged.
    *
    * 100 TB shape: a real eval side is benchmark-sized (MBs at ANY
    * corpus scale), so its distinct-gram set is small enough to
    * broadcast, and the train side is then ONE map pass (tokenize +
    * window-hash) feeding a broadcast-hash join — zero train-side
    * shuffle before the per-doc partial agg, and the join emits only
    * contaminated windows. The join carries no broadcast hint: this
    * query's modular doc_id stratum grows WITH the corpus, so Spark's
    * own size check picks the strategy — a broadcast under
    * `autoBroadcastJoinThreshold` (planned statically, or converted by
    * AQE once the eval-gram stage's real size is known), a shuffle join
    * above it (DedupSpec runs both). No winnowing here: unlike
    * q59's dedup, decontamination must catch EVERY collision (a single
    * leaked eval n-gram matters), so the train stream hashes all
    * windows at stride 1 — linear map CPU, the published method's
    * exact cost. */
  def q62Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val isEval = pmod(col("doc_id"), lit(29L)) === 0
    decontaminate(docs.filter(!isEval), docs.filter(isEval))
  }

  /** Per contaminated train doc: distinct eval grams hit, window hits,
    * earliest hit position, and the widest eval spread of any hit gram
    * (how many eval docs share it — 1 = a single benchmark item leaked,
    * higher = shared eval phrasing). Clean docs emit no row. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame): DataFrame = {
    def grams(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), split(gf.normalize_text(col("text")), " ").as("t"))
      .filter(size(col("t")) >= SubstrW)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (SubstrW - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("t"), col("pos"), lit(SubstrW)))
          .cast("binary")).as("fp"))
    val evalGrams = grams(evalDocs)
      .groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("n_eval_docs"))
      .filter(col("n_eval_docs") <= DecontamHotCap)
    grams(train)
      .join(evalGrams, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("n_contam_grams"),
        count(lit(1)).as("n_windows_hit"),
        min(col("pos")).as("first_pos"),
        max(col("n_eval_docs")).as("max_eval_docs"))
  }

  val oracles: Map[String, String] = Map(
    "q20_exact_dedup" ->
      """SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keeper,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // q62: same tokenization + window-hash CTEs as q59; eval stratum is
    // doc_id % 29 = 0; hot-gram cap HAVING <= 16 distinct eval docs
    "q62_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[,;\-/().]', ' ', 'g'), '  +', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(p.p AS INT) AS pos,
        |    md5(array_to_string(t[p.p : p.p + 7], ' ')) AS fp
        |  FROM (SELECT * FROM toks WHERE len(t) >= 8) toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS p) p),
        |ef AS (
        |  SELECT fp, count(DISTINCT doc_id) AS n_eval_docs
        |  FROM w WHERE doc_id % 29 = 0
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) <= 16)
        |SELECT w.doc_id, count(DISTINCT w.fp) AS n_contam_grams,
        |  count(*) AS n_windows_hit, min(w.pos) AS first_pos,
        |  CAST(max(ef.n_eval_docs) AS BIGINT) AS max_eval_docs
        |FROM w JOIN ef ON w.fp = ef.fp
        |WHERE w.doc_id % 29 <> 0
        |GROUP BY 1""".stripMargin,
    // q59: tokenization is the q54-proven regex mirror of normalize_text
    // on this corpus; winnowing select = sliding min over K=4 window
    // starts (tail partials included, as in the Spark frame); hot-fp cap
    // BETWEEN 2 AND 256; islands via running coverage max
    "q59_substring_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[,;\-/().]', ' ', 'g'), '  +', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(p.p AS INT) AS pos,
        |    md5(array_to_string(t[p.p : p.p + 7], ' ')) AS fp
        |  FROM (SELECT * FROM toks WHERE len(t) >= 8) toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS p) p),
        |sel AS (
        |  SELECT doc_id,
        |    min({'fp': fp, 'pos': pos}) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |  FROM w),
        |sp AS (
        |  SELECT doc_id, m.fp AS fp, min(m.pos) AS pos
        |  FROM sel GROUP BY 1, 2),
        |kept AS (
        |  SELECT fp FROM sp GROUP BY 1 HAVING count(*) BETWEEN 2 AND 256),
        |pr AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa
        |  FROM sp a
        |  JOIN kept k ON a.fp = k.fp
        |  JOIN sp b ON b.fp = a.fp AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT *, max(pa + 8) OVER (PARTITION BY da, db ORDER BY pa
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM pr),
        |flg AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR pa > prev_end
        |    THEN 1 ELSE 0 END AS new_span
        |  FROM isl),
        |sid AS (
        |  SELECT *, sum(new_span) OVER (PARTITION BY da, db
        |    ORDER BY pa) AS span_id
        |  FROM flg),
        |spans AS (
        |  SELECT da, db, span_id, count(*) AS n_fps,
        |    max(pa) + 8 - min(pa) AS span_len
        |  FROM sid GROUP BY 1, 2, 3)
        |SELECT da, db, CAST(sum(n_fps) AS BIGINT) AS n_shared_fp,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(span_len) AS BIGINT) AS dup_tokens
        |FROM spans GROUP BY 1, 2""".stripMargin,
    "q21_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) i
        |  WHERE len(t) >= 3)
        |SELECT doc_id, CAST(h AS INT) AS h,
        |  min(md5(shingle || ':' || h)) AS minhash
        |FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS h) h
        |GROUP BY 1, 2""".stripMargin,
    "q22_lsh_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) i
        |  WHERE len(t) >= 3),
        |sig AS (
        |  SELECT doc_id, CAST(h AS INT) AS h, min(md5(shingle || ':' || h)) AS minhash
        |  FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS h) h
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, h // 2 AS band, min(minhash) || '|' || max(minhash) AS band_sig
        |  FROM sig GROUP BY 1, 2),
        |kept AS (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 256)
        |SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |JOIN kept k ON k.band = a.band AND k.band_sig = a.band_sig""".stripMargin,
    // full lifecycle: q22's banding CTEs + exact-Jaccard verify over
    // distinct shingle sets + recursive transitive closure + keeper pick
    "q55_dedup_lifecycle" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) i
        |  WHERE len(t) >= 3),
        |sig AS (
        |  SELECT doc_id, CAST(h AS INT) AS h, min(md5(shingle || ':' || h)) AS minhash
        |  FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS h) h
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, h // 2 AS band, min(minhash) || '|' || max(minhash) AS band_sig
        |  FROM sig GROUP BY 1, 2),
        |kept AS (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 256),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN kept k ON k.band = a.band AND k.band_sig = a.band_sig),
        |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |n AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT p.src, p.dst, count(*) AS i
        |  FROM pairs p JOIN dsh a ON a.doc_id = p.src
        |  JOIN dsh b ON b.doc_id = p.dst AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT i.src, i.dst
        |  FROM inter i JOIN n na ON na.doc_id = i.src
        |  JOIN n nb ON nb.doc_id = i.dst
        |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.4),
        |undirected AS (
        |  SELECT src AS a, dst AS b FROM verified
        |  UNION ALL SELECT dst AS a, src AS b FROM verified),
        |reach(id, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.b, r.lab FROM reach r JOIN undirected u ON u.a = r.id)
        |SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS keeper,
        |  min(lab) <> id AS is_duplicate
        |FROM reach GROUP BY id""".stripMargin,
    "q24_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS hx
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, CAST(b AS INT) AS b,
        |    ((strpos('0123456789abcdef', substr(hx, CAST(b // 4 AS INT) + 1, 1)) - 1)
        |      >> CAST(b % 4 AS INT)) % 2 AS bit
        |  FROM tok, LATERAL (SELECT unnest(generate_series(0, 31)) AS b) b),
        |sums AS (
        |  SELECT doc_id, b, sum(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
        |FROM sums GROUP BY 1""".stripMargin,
    "q23_ngram_jaccard" -> """WITH sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) i
        |  WHERE len(t) >= 3),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |kept AS (
        |  SELECT shingle FROM sh GROUP BY 1 HAVING count(*) BETWEEN 2 AND 256),
        |p AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN kept k ON k.shingle = a.shingle
        |  GROUP BY 1, 2)
        |SELECT src, dst,
        |  round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 6) AS jaccard
        |FROM p JOIN n n1 ON n1.doc_id = src JOIN n n2 ON n2.doc_id = dst
        |WHERE round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 6) >= 0.1""".stripMargin,
    "q25_embedding_neardup" ->
      """WITH w AS (
        |  SELECT j.j AS j, i.i AS i,
        |    CASE WHEN (strpos('0123456789abcdef',
        |      substr(md5(j.j || ':' || i.i), 1, 1)) - 1) % 2 = 1
        |      THEN 1 ELSE -1 END AS wt
        |  FROM (SELECT unnest(generate_series(0, 31)) AS j) j,
        |       (SELECT unnest(generate_series(1, 64)) AS i) i),
        |v AS (
        |  SELECT vec_id, i.i AS i,
        |    CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS x
        |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i),
        |bits AS (
        |  SELECT vec_id, j, CASE WHEN sum(x * wt) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM v JOIN w USING (i) GROUP BY 1, 2),
        |bands AS (
        |  SELECT vec_id, j // 4 AS band,
        |    CAST(sum(bit << (j % 4)) AS INT) AS band_val
        |  FROM bits GROUP BY 1, 2),
        |kept AS (
        |  SELECT band, band_val FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 256),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
        |  JOIN kept k ON k.band = a.band AND k.band_val = a.band_val)
        |SELECT src, dst,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 5) AS cosine
        |FROM cand JOIN embeddings a ON a.vec_id = src
        |  JOIN embeddings b ON b.vec_id = dst
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 5) >= 0.35""".stripMargin
  )
}
