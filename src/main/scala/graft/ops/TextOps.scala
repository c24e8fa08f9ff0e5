package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** Reference text-operator queries over the `documents`/`part` tables:
  * normalization (X1/X2), tokenization (G2), n-gram generation (G5),
  * inverted-index stats (A1), blocking join + count/cosine candidate
  * filter (A2/A3/J1), pair scoring (X3-X5 family), phonetic keys,
  * language-ID / quality / token-count / fingerprint text analysis.
  *
  * documents.text and part.p_name are pure ASCII in the testdata, so the
  * ICU canonical form equals lower(); full-unicode behavior is pinned by
  * the ScalaTest goldens instead (TextGoldenSpec).
  */
object TextOps {
  import Tables.load

  /** X1/X2: normalization. */
  def q10Normalize(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), gf.normalize_text(col("text")).as("norm"))

  /** G2 + A-family: token stats. */
  def q11Tokens(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(gf.normalize_text(col("text")), " ")).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_total"))

  /** G5 + A1: trigram inverted-index stats. */
  def q12Trigrams(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(gf.trigram_strings(gf.normalize_text(col("text")))).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))

  /** Part names interned (reference D1/D2): one row per distinct
    * normalized name, `name_id` = its smallest p_partkey. Pair generation
    * runs over distinct names only — 2000 parts share 64 names; at 100x
    * scale the pair count stays bounded by name diversity, not row count. */
  private[ops] def partNames(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")
      .select(gf.normalize_text(col("p_name")).as("name"), col("p_partkey"))
      .groupBy(col("name")).agg(min(col("p_partkey")).as("name_id"))

  /** The trigram posting index of a `(id, key)` frame (the import-time
    * index of typeahead.cc:317-337): one `(gram, <id>, n_grams)` row per
    * distinct space-free trigram of `key`, with the key's gram count. A
    * gram held by fewer than `minIds` ids matches nothing; one held by
    * more than `Dedup.MaxBlock` ids (the hot-gram cap, mirrored in the
    * oracles) is a Zipf-hot stopgram with no discriminative signal and a
    * quadratic join block, so it is dropped whole. The one index of
    * Suggest, the name blocking and the subset cache. */
  private[graft] def postings(keyed: DataFrame, minIds: Int): DataFrame = {
    val Array(id, key) = keyed.columns
    val grams = keyed
      .select(col(id), gf.trigram_strings(col(key)).as("tris"))
      .select(col(id), size(col("tris")).as("n_grams"), explode(col("tris")).as("gram"))
    val kept = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("gcnt"))
      .filter(col("gcnt").between(minIds, Dedup.MaxBlock))
      .select(col("gram"))
    grams.join(kept, Seq("gram"))
  }

  /** The reference's min-match-count over `n` grams (typeahead.cc:409),
    * as a long: `2 + n / (4 + n / 10)` in integer division, the Column
    * twin of [[graft.text.Ngrams.minMatchCount]]. */
  private[graft] def minMatchCount(n: Column): Column =
    (lit(2) + floor(n / (lit(4) + floor(n / lit(10))))).cast("long")

  /** The reference's cosine cut (typeahead.cc:423): `shared² ≥ 0.17·n1·n2`. */
  private[graft] def cosineCut(shared: Column, n1: Column, n2: Column): Column =
    (shared * shared).cast("double") >= lit(0.17) * n1 * n2

  /** J1 + A2 + A3 over interned names (`name_id`, `name`): the (src < dst)
    * name pairs sharing trigrams of the [[postings]] index, with their
    * `shared` gram count, filtered by the reference's min-match-count and
    * cosine cut (typeahead.cc:409-423). The blocking of q13 and of the
    * q33/q45 match graph. */
  private[ops] def nameBlockingPairs(names: DataFrame): DataFrame = {
    val index = postings(names.select(col("name_id"), col("name")), minIds = 2)
    index.as("a").join(index.as("b"),
        col("a.gram") === col("b.gram") && col("a.name_id") < col("b.name_id"))
      .groupBy(col("a.name_id").as("src"), col("b.name_id").as("dst"),
        col("a.n_grams").as("n1"), col("b.n_grams").as("n2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minMatchCount(least(col("n1"), col("n2"))) &&
        cosineCut(col("shared"), col("n1"), col("n2")))
      .select(col("src"), col("dst"), col("shared"))
  }

  /** The blocking join over part names ([[nameBlockingPairs]]). */
  def q13BlockingPairs(spark: SparkSession, dir: String): DataFrame =
    nameBlockingPairs(partNames(spark, dir))
      .select(col("src").as("p1"), col("dst").as("p2"), col("shared"))

  /** X-family pair scoring on the blocked pairs (JW + Levenshtein). */
  def q14PairScores(spark: SparkSession, dir: String): DataFrame = {
    val names = partNames(spark, dir).select(col("name_id"), col("name"))
    q13BlockingPairs(spark, dir)
      .join(names.withColumnRenamed("name_id", "p1").withColumnRenamed("name", "name1"), Seq("p1"))
      .join(names.withColumnRenamed("name_id", "p2").withColumnRenamed("name", "name2"), Seq("p2"))
      .select(col("p1"), col("p2"),
        round(gf.jaro_winkler(col("name1"), col("name2")), 6).as("jw"),
        levenshtein(col("name1"), col("name2")).as("lev"))
      .withColumn("accepted", col("jw") >= 0.9)
  }

  /** Double-Metaphone phonetic keys (no SQL oracle — rows-only check). */
  def q15Metaphone(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")
      .select(col("p_partkey"),
        explode(split(gf.normalize_text(col("p_name")), " ")).as("token"))
      .withColumn("dm", gf.double_metaphone(col("token")))
      .filter(length(col("dm")) >= 1)

  /** Reference get_match_score over part names vs a query phrase
    * (no SQL oracle — pinned by ScalaTest goldens). */
  def q16MatchScore(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")
      .select(col("p_partkey"), col("p_name"),
        gf.ref_match_score(col("p_name"), lit("blue")).as("score"))
      .filter(col("score").isNotNull)

  // ------------------------------------------------------------ analysis

  private val enStop = Seq("the", "a", "and", "of", "to", "value", "data")

  /** Char-trigram language profiles — the single definition lives in
    * [[graft.text.LangProfiles]] (shared with the fused profile_hits
    * codegen kernel, whose count-array slot order is LangProfiles.all =
    * latin ++ cyrillic); these aliases keep the q28 oracle generator and
    * TextAnalysisSpec unchanged. */
  private[ops] val latinProfiles: Seq[(String, Seq[String])] =
    graft.text.LangProfiles.latin
  private[ops] val cyrillicProfiles: Seq[(String, Seq[String])] =
    graft.text.LangProfiles.cyrillic

  /** Script-gated language-ID (24 languages): a fused one-pass
    * script_counts expression tallies codepoints per Unicode script; the
    * dominant script either names the language directly (el ar he hi th
    * ko; Han+kana→ja, Han alone→zh — the CJK char-level regime, where
    * word trigrams don't apply) or routes to that script's trigram
    * profiles (12 Latin + 4 Cyrillic languages, deterministic tie order).
    * Everything is scan-shaped and codegen'd — no shuffle, no UDF. */
  def q28LangId(spark: SparkSession, dir: String): DataFrame =
    langIdOn(load(spark, dir, "documents"))

  private val scriptGroups = Seq("latin", "cyrillic", "greek", "arabic",
    "hebrew", "devanagari", "thai", "hangul", "cjk")
  private val scriptDirect = Seq("greek" -> "el", "arabic" -> "ar",
    "hebrew" -> "he", "devanagari" -> "hi", "thai" -> "th", "hangul" -> "ko")

  /** The classifier over any (doc_id, text) frame — unit-testable on
    * multilingual samples (TextAnalysisSpec). */
  private[graft] def langIdOn(docs: DataFrame): DataFrame = {
    // ONE fused codegen pass computes all 16 per-language profile hit
    // counts (gf.profile_hits over the distinct trigram set — hash probe
    // per trigram); the per-language decision columns below are plain
    // reads of that array. This replaces 16 interpreted
    // `size(filter(tris, isin(profile)))` HOF trees per document (352
    // lambdafunction spans in the round-5 plan) with zero lambdas —
    // the RefBestPhrase/AreaFold codegen-kernel rule, third instance.
    // Counts are identical: the trigram set is distinct, so hash-probe
    // membership counting == the per-language filter size.
    // slot i (1-based) of `ph` = LangProfiles.all(i-1); latin occupies
    // slots 1..12, cyrillic 13..16. Each argmax is one named column:
    // inlined into every branch of a `when` chain, a `greatest` chain
    // grows the generated code past janino's 64 KB limit.
    def scAt(i: Int) = element_at(col("sc"), i)
    val d = docs
      .withColumn("ph",
        gf.profile_hits(gf.trigram_strings(gf.normalize_text(col("text")))))
      .withColumn("sc", gf.script_counts(col("text")))
      .withColumn("groups", array((1 to 8).map(scAt) :+ (scAt(9) + scAt(10) + scAt(11)): _*))
      .withColumn("latin", slice(col("ph"), 1, latinProfiles.size))
      .withColumn("cyr", slice(col("ph"), latinProfiles.size + 1, cyrillicProfiles.size))
      .withColumn("m", array_max(col("groups")))
      .withColumn("lb", array_max(col("latin")))
      .withColumn("cb", array_max(col("cyr")))
    // the name of the first slot holding the max (array_position keeps
    // the first-match tie order), `none` when every count is 0
    def firstMax(counts: String, best: String, names: Seq[String], none: String): Column =
      when(col(best) > 0, element_at(typedLit(names),
        array_position(col(counts), col(best)).cast("int"))).otherwise(lit(none))
    val base = d
      .withColumn("script_pred", firstMax("groups", "m", scriptGroups, "none"))
      .withColumn("script_chars",
        when(col("script_pred") === "none", lit(0)).otherwise(col("m")))
    val langPred = scriptDirect.foldLeft(
      when(col("script_pred") === "latin", firstMax("latin", "lb", latinProfiles.map(_._1), "xx"))
        .when(col("script_pred") === "cyrillic",
          firstMax("cyr", "cb", cyrillicProfiles.map(_._1), "xx"))) {
      case (acc, (script, lang)) =>
        acc.when(col("script_pred") === script, lit(lang))
    }.when(col("script_pred") === "cjk",
        when(scAt(9) + scAt(10) > 0, "ja").otherwise("zh"))
      .otherwise(lit("xx"))
    val profHits =
      when(col("script_pred") === "latin", greatest(col("lb"), lit(0)))
        .when(col("script_pred") === "cyrillic", greatest(col("cb"), lit(0)))
        .otherwise(lit(0))
    base.select(col("doc_id"), col("script_pred"),
      langPred.as("lang_pred"), col("script_chars"),
      profHits.as("prof_hits"))
  }

  /** Quality scoring: length/stopword/punct/word-length signals. */
  def q29Quality(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
      .withColumn("norm", gf.normalize_text(col("text")))
      .withColumn("tokens", split(col("norm"), " "))
    val nTok0 = size(col("tokens"))
    val stopHits0 = size(filter(col("tokens"), t => t.isin(enStop.map(x => x: Any): _*)))
    val d2 = d.withColumn("n_tokens_", nTok0).withColumn("stop_hits_", stopHits0)
    val nTok = col("n_tokens_")
    val stopHits = col("stop_hits_")
    d2.select(col("doc_id"),
        length(col("norm")).as("n_chars"),
        nTok.as("n_tokens"),
        round(length(col("norm")).cast("double") / nTok, 6).as("avg_token_span"),
        round(stopHits.cast("double") / nTok, 6).as("stopword_ratio"),
        // integer permille score: exact in any engine (no float rounding
        // knife-edges in the oracle compare)
        (least(lit(500L), nTok.cast("long") * 10) +
          least(lit(500L), expr("CAST(stop_hits_ AS BIGINT) * 2500 div n_tokens_"))).as("quality_pm"))
  }

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  def q30TokenStats(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .withColumn("norm", gf.normalize_text(col("text")))
      .select(col("doc_id"),
        size(split(col("norm"), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("bpe_tokens"))

  /** Document fingerprint: order-sensitive polynomial rolling hash over
    * the normalized bytes (mod 1e9+7). */
  def q31Fingerprint(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .withColumn("norm", gf.normalize_text(col("text")))
      .select(col("doc_id"),
        aggregate(
          transform(sequence(lit(1), length(col("norm"))),
            i => ascii(col("norm").substr(i, lit(1)))),
          lit(0L),
          (acc, c) => (acc * 31 + c) % 1000000007L).as("fp"))

  /** Multimodal columns: binary image payloads with REAL format headers
    * (PNG IHDR / JPEG JFIF+SOF0 / GIF89a screen descriptor), synthesized
    * deterministically per document, then DECODED back from the bytes —
    * format sniffed from the magic, dimensions parsed at the
    * format-specific offsets (big-endian u32 for PNG, marker-scan to
    * SOF0 then big-endian u16 for JPEG, little-endian u16 for GIF). The
    * oracle derives the expected dims independently from the md5 digits,
    * so any wrong decode offset/endianness diverges and fails the gate.
    * (Full raster decode needs image libs absent from this sandbox; the
    * header parse is the real, tested part of the decode path.) */
  def q32MediaMeta(spark: SparkSession, dir: String): DataFrame = {
    // deterministic ground truth for the synthesizer only (the decoder
    // below must recover these from payload BYTES alone)
    val fmtCode = hexVal(1) % 3
    val wTrue = hexVal(2) * 16 + hexVal(3) + 1 // 1..256
    val hTrue = hexVal(4) * 16 + hexVal(5) + 1
    val payloadHex = when(fmtCode === 0, // PNG: sig + IHDR len + "IHDR" + w u32 BE + h u32 BE
        concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
          beHex(wTrue, 4), beHex(hTrue, 4)))
      .when(fmtCode === 1, // JPEG: SOI + APP0/JFIF + SOF0(len 0x11, prec 8, h u16, w u16)
        concat(lit("FFD8" + "FFE000104A46494600010100000100010000" + "FFC0" + "0011" + "08"),
          beHex(hTrue, 2), beHex(wTrue, 2)))
      .otherwise( // GIF89a: sig + w u16 LE + h u16 LE + flags/bg/aspect
        concat(lit("474946383961"), leHex(wTrue, 2), leHex(hTrue, 2), lit("F70000")))
    // ---- the decoder: payload bytes -> (fmt, width, height) ----
    val isPng = substring(payloadDigits, 1, 16) === "89504E470D0A1A0A"
    val isJpeg = substring(payloadDigits, 1, 4) === "FFD8"
    val isGif = substring(payloadDigits, 1, 12) === "474946383961"
    val sof = locate("FFC0", payloadDigits) // JPEG marker scan (APP0 JFIF bytes never contain FFC0)
    withPayload(spark, dir, payloadHex).select(
      col("doc_id"),
      length(col("payload")).as("payload_len"),
      when(isPng, "png").when(isJpeg, "jpeg").when(isGif, "gif")
        .otherwise("unknown").as("fmt"),
      when(isPng, hexAt(lit(33), 8)) // IHDR: bytes 17-20 BE
        .when(isJpeg, hexAt(sof + 14, 4)) // SOF0: marker+len+prec+h, then w u16 BE
        .when(isGif, hexAt(lit(15), 2) * 256 + hexAt(lit(13), 2)) // u16 LE
        .cast("int").as("width"),
      when(isPng, hexAt(lit(41), 8))
        .when(isJpeg, hexAt(sof + 10, 4))
        .when(isGif, hexAt(lit(19), 2) * 256 + hexAt(lit(17), 2))
        .cast("int").as("height"))
  }

  /** q56: audio companion to q32 — a fully-valid WAV (RIFF) header is
    * synthesized per document as BYTES (LE u16/u32 fields: channels,
    * sample rate, byte rate, block align, bits/sample, data size), and
    * the decoder recovers every field plus the derived duration from the
    * payload bytes alone; the oracle reconstructs the same fields
    * arithmetically from the source columns and never parses bytes. Full
    * sample decode / frame-sampling needs audio libs absent from this
    * sandbox; the header parse and the duration algebra (integer floor
    * division — exact in any engine) are the real, tested part of the
    * ingest path. */
  def q56AudioMeta(spark: SparkSession, dir: String): DataFrame = {
    // ground truth for the synthesizer only (division-free: Column `/`
    // on longs is DOUBLE division in Spark)
    val chT = (hexVal(1) % 2 + 1).cast("long") // 1..2
    val rateT = when(hexVal(2) % 4 === 0, 8000L).when(hexVal(2) % 4 === 1, 16000L)
      .when(hexVal(2) % 4 === 2, 44100L).otherwise(48000L)
    val bytesPerSample = (hexVal(3) % 2 + 1).cast("long") // 1 | 2
    val bitsT = bytesPerSample * 8L
    val nSamp = (hexVal(4) * 16 + hexVal(5) + 1).cast("long") // 1..256
    val blockT = chT * bytesPerSample
    val dataT = nSamp * blockT
    val byteRateT = rateT * blockT
    val payloadHex = concat(
      lit("52494646"), leHex(lit(36L) + dataT, 4), lit("57415645"), // RIFF size WAVE
      lit("666D7420"), lit("10000000"), lit("0100"),               // fmt, len 16, PCM
      leHex(chT, 2), leHex(rateT, 4), leHex(byteRateT, 4), leHex(blockT, 2), leHex(bitsT, 2),
      lit("64617461"), leHex(dataT, 4))                            // data chunk
    // ---- the decoder: payload bytes -> fields
    def u16(pos: Int): Column = hexAt(lit(pos), 2) + hexAt(lit(pos + 2), 2) * 256
    def u32(pos: Int): Column = u16(pos) + u16(pos + 4) * 65536
    val isWav = substring(payloadDigits, 1, 8) === "52494646" &&
      substring(payloadDigits, 17, 8) === "57415645"
    withPayload(spark, dir, payloadHex).select(col("doc_id"),
        when(isWav, "wav").otherwise("unknown").as("fmt"),
        when(isWav, u16(45)).as("channels"),
        when(isWav, u32(49)).as("sample_rate"),
        when(isWav, u16(69)).as("bits"),
        when(isWav, u32(81)).as("data_bytes"))
      // integer floor division (exact in any engine); null-propagates on
      // non-wav rows
      .withColumn("duration_ms", expr(
        "data_bytes * 1000 div (sample_rate * channels * (bits div 8))"))
  }

  /** q57: video companion to q32/q56 — a valid MP4 `ftyp` + `moov/mvhd`
    * box pair is synthesized per document as BYTES (u32 BE box sizes,
    * version-0 mvhd with timescale + duration), and brand / timescale /
    * duration units / derived duration_ms / a deterministic
    * frame-sample count are recovered from the payload bytes alone (box
    * scan via marker locate, exactly q32's SOF0 approach). Full frame
    * decode needs codec libs absent from this sandbox; the box parse,
    * the timescale algebra (integer floor division, engine-exact) and
    * the sample-count rule are the real, tested ingest path. */
  def q57VideoMeta(spark: SparkSession, dir: String): DataFrame = {
    // ground truth for the synthesizer only
    val tsT = when(hexVal(1) % 4 === 0, 600L).when(hexVal(1) % 4 === 1, 1000L)
      .when(hexVal(1) % 4 === 2, 90000L).otherwise(24000L)
    val durUnitsT = ((hexVal(2) * 256 + hexVal(3) * 16 + hexVal(4) + 1) *
      lit(37L)).cast("long") // 37..~152k units
    val mvhdHex = concat(
      lit("0000006C" + "6D766864" + "00000000" + "00000000" + "00000000"),
      beHex(tsT, 4), beHex(durUnitsT, 4),
      lit("00010000" + "0100" + "0000" + "0000000000000000" +
        "0001000000000000000000000000000000010000000000000000000000000000" +
        "40000000" + "000000000000000000000000000000000000000000000000" +
        "00000002"))
    val payloadHex = concat(
      lit("00000014" + "66747970" + "69736F6D" + "00000200" + "6D703431"),
      lit("00000074" + "6D6F6F76"), mvhdHex) // moov size 8+108=116=0x74
    // ---- the decoder: payload bytes -> fields
    val isMp4 = substring(payloadDigits, 9, 8) === "66747970"
    val isIsom = substring(payloadDigits, 17, 8) === "69736F6D"
    val mvhd = locate("6D766864", payloadDigits) // box-type scan (q32's marker style)
    val timescale = hexAt(mvhd + 32, 8) // 16 bytes after the type tag
    val durUnits = hexAt(mvhd + 40, 8)
    withPayload(spark, dir, payloadHex).select(col("doc_id"),
        when(isMp4 && isIsom, "mp4/isom").when(isMp4, "mp4")
          .otherwise("unknown").as("fmt"),
        when(isMp4, timescale).as("timescale"),
        when(isMp4, durUnits).as("duration_units"))
      .withColumn("duration_ms",
        expr("duration_units * 1000 div timescale"))
      // frame-sample stub: up to 8 uniformly-spaced probe points, one per
      // started half second — the Spark-side plumbing of a sampler whose
      // actual decode would run behind it
      .withColumn("n_sample_frames",
        expr("least(8, duration_ms div 500 + 1)"))
  }

  // ---- byte-header helpers of q32/q56/q57: the synthesizers read the
  // documents' md5 digits and write hex, the decoders read the payload

  /** Hex digit `i` (1-based) of the document's md5 `h`, as an int. */
  private def hexVal(i: Int): Column =
    expr(s"locate(substring(h, $i, 1), '0123456789abcdef') - 1")

  /** `v` as a `bytes`-byte big-endian hex string. */
  private def beHex(v: Column, bytes: Int): Column = lpad(hex(v), bytes * 2, "0")

  /** `v` as a `bytes`-byte little-endian hex string (values < 2^52, so the
    * double division is exact; the cast truncates). */
  private def leHex(v: Column, bytes: Int): Column =
    concat((0 until bytes).map { i =>
      lpad(hex((v / lit(math.pow(256, i).toLong)).cast("long") % 256L), 2, "0")
    }: _*)

  /** (doc_id, payload): each document's synthesized header bytes. */
  private def withPayload(spark: SparkSession, dir: String, payloadHex: Column): DataFrame =
    load(spark, dir, "documents").withColumn("h", md5(col("text")))
      .select(col("doc_id"), unhex(payloadHex).as("payload"))

  /** The payload as upper-case hex: byte i is hex chars 2i-1..2i. */
  private def payloadDigits: Column = upper(hex(col("payload")))

  /** `nChars` hex digits of the payload from char `pos`, as a long. */
  private def hexAt(pos: Column, nChars: Int): Column =
    conv(substring(payloadDigits, pos, lit(nChars)), 16, 10).cast("long")

  /** HTML ingestion for the input_hint's `html: binary` page column: each
    * document is wrapped in a full synthetic page — head title, a
    * `<script>` whose BODY contains `<`, `&&`, quotes and a fake close
    * tag, a `<style>` block, a comment, NBSP + numeric + named character
    * references, inline-vs-block tags, and a bare `<` in prose — encoded
    * to UTF-8 bytes, and the visible text is then recovered from the
    * BYTES alone by the codegen [[graft.functions.HtmlText]] kernel. The
    * oracle derives the expected text independently from the SOURCE
    * columns (it never parses the html), so any tag-skip / entity /
    * whitespace bug in the extractor diverges and fails the gate. */
  def q46HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
    val did = col("doc_id").cast("string")
    val htmlStr = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><script type=\"text/javascript\">" +
        "if (1 < 2 && q) { s = \"</div>\"; }</script>" +
        "<style>p { color: #fff; }</style></head><body><!-- crawl "), did,
      lit(" --><h1>Doc&nbsp;&#35;"), did,
      lit("</h1><p>"), regexp_replace(col("text"), "a", "&#97;"),
      lit("</p><div>lang: <b>"), col("lang"),
      lit("</b>, 1 < 2 &amp; 3 &gt; 2</div></body></html>"))
    d.select(col("doc_id"), encode(htmlStr, "UTF-8").as("html"))
      .select(col("doc_id"),
        gf.html_text(col("html")).as("extracted"),
        length(col("html")).as("html_bytes"))
  }

  /** Repetition quality filter (the Gopher-family duplicate-n-gram rule,
    * public: Rae et al. 2021 §A1.1): per document, the fraction of word
    * 5-grams that are repeats of an earlier 5-gram in the same document.
    * High-duplication pages (boilerplate, keyword stuffing, scraper loops)
    * are the single biggest quality cut in web-corpus curation. Reported
    * as integer permille — exact in any engine (q29's determinism rule).
    * One map-side pass per doc, no shuffle. */
  def q50Repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(load(spark, dir, "documents"))

  /** The q50 core over any (doc_id, text) frame. The synthetic documents
    * corpus happens to be repetition-free (every dup_pm = 0 — still a
    * hash-checked agreement on n_grams/n_distinct); TextAnalysisSpec
    * drives crafted repetitive pages through the same expressions to pin
    * the non-zero behavior. */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(gf.normalize_text(col("text")), " "))
      // explicit >= 5 guard: Spark's sequence(1, 0) auto-steps DOWN to
      // [1, 0] (slice start 0 then errors) where DuckDB's
      // generate_series(1, 0) is empty — the one sub-5-token divergence
      .withColumn("g5", when(size(col("toks")) >= 5, expr(
        "transform(sequence(1, size(toks) - 4)," +
          " i -> concat_ws(' ', slice(toks, i, 5)))"))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"),
        size(col("g5")).cast("long").as("n_grams"),
        size(array_distinct(col("g5"))).cast("long").as("n_distinct"))
      .withColumn("dup_pm",
        when(col("n_grams") === 0L, 0L)
          .otherwise(expr("(n_grams - n_distinct) * 1000 div n_grams")))

  val oracles: Map[String, String] = Map(
    // expected text reconstructed from the source columns; html rebuilt
    // only to measure its byte length — the oracle never parses it
    // same normalize mirror as q10; integer permille = exact compare
    "q50_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(regexp_replace(lower(text), '[,;\-/().]', ' ', 'g'), '  +', ' ', 'g')),
        |    ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT t.doc_id, array_to_string(t.toks[i.i:i.i+4], ' ') AS g5
        |  FROM t, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(t.toks) - 4, 0))) AS i) i),
        |a AS (
        |  SELECT doc_id, count(*) AS n_grams, count(DISTINCT g5) AS n_distinct
        |  FROM g GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(a.n_grams, 0) AS n_grams,
        |  coalesce(a.n_distinct, 0) AS n_distinct,
        |  CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0
        |       ELSE (a.n_grams - a.n_distinct) * 1000 // a.n_grams END AS dup_pm
        |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id""".stripMargin,
    "q46_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id, source, text, lang,
        |    '<html><head><title>' || source ||
        |    '</title><script type="text/javascript">if (1 < 2 && q) { s = "</div>"; }</script>' ||
        |    '<style>p { color: #fff; }</style></head><body><!-- crawl ' ||
        |    CAST(doc_id AS VARCHAR) || ' --><h1>Doc&nbsp;&#35;' ||
        |    CAST(doc_id AS VARCHAR) || '</h1><p>' ||
        |    regexp_replace(text, 'a', '&#97;', 'g') ||
        |    '</p><div>lang: <b>' || lang ||
        |    '</b>, 1 < 2 &amp; 3 &gt; 2</div></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  source || ' Doc #' || CAST(doc_id AS VARCHAR) || ' ' ||
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |    ' lang: ' || lang || ', 1 < 2 & 3 > 2' AS extracted,
        |  CAST(octet_length(encode(html)) AS INT) AS html_bytes
        |FROM h""".stripMargin,
    "q10_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[,;\-/().]', ' ', 'g'), '  +', ' ', 'g')) AS norm
        |FROM documents""".stripMargin,
    "q11_tokens" ->
      """SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS n_total
        |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY 1""".stripMargin,
    "q12_trigrams" ->
      """SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM (
        |  SELECT DISTINCT d.doc_id, substr(lower(d.text), i.i, 3) AS gram
        |  FROM documents d, LATERAL (SELECT unnest(generate_series(1, len(d.text) - 2)) AS i) i
        |  WHERE len(d.text) >= 3 AND substr(lower(d.text), i.i, 3) NOT LIKE '% %'
        |) GROUP BY 1""".stripMargin,
    "q13_blocking_pairs" -> """WITH interned AS (
        |  SELECT lower(p_name) AS name, CAST(min(p_partkey) AS BIGINT) AS name_id
        |  FROM part GROUP BY 1),
        |g AS (
        |  SELECT DISTINCT t.name_id, substr(t.name, i.i, 3) AS gram
        |  FROM interned t, LATERAL (SELECT unnest(generate_series(1, len(t.name) - 2)) AS i) i
        |  WHERE len(t.name) >= 3 AND substr(t.name, i.i, 3) NOT LIKE '% %'),
        |n AS (SELECT name_id, count(*) AS n_grams FROM g GROUP BY 1),
        |kf AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) BETWEEN 2 AND 256),
        |gk AS (SELECT g.name_id, g.gram FROM g JOIN kf USING (gram)),
        |pairs AS (
        |  SELECT a.name_id AS p1, b.name_id AS p2, count(*) AS shared
        |  FROM gk a JOIN gk b ON a.gram = b.gram AND a.name_id < b.name_id
        |  GROUP BY 1, 2)
        |SELECT p1, p2, shared FROM pairs
        |JOIN n n1 ON n1.name_id = p1 JOIN n n2 ON n2.name_id = p2
        |WHERE shared >= 2 + floor(least(n1.n_grams, n2.n_grams)
        |    / (4 + floor(least(n1.n_grams, n2.n_grams) / 10)))
        |  AND CAST(shared * shared AS DOUBLE) >= 0.17 * n1.n_grams * n2.n_grams""".stripMargin,
    "q14_pair_scores" -> """WITH interned AS (
        |  SELECT lower(p_name) AS name, CAST(min(p_partkey) AS BIGINT) AS name_id
        |  FROM part GROUP BY 1),
        |g AS (
        |  SELECT DISTINCT t.name_id, substr(t.name, i.i, 3) AS gram
        |  FROM interned t, LATERAL (SELECT unnest(generate_series(1, len(t.name) - 2)) AS i) i
        |  WHERE len(t.name) >= 3 AND substr(t.name, i.i, 3) NOT LIKE '% %'),
        |n AS (SELECT name_id, count(*) AS n_grams FROM g GROUP BY 1),
        |kf AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) BETWEEN 2 AND 256),
        |gk AS (SELECT g.name_id, g.gram FROM g JOIN kf USING (gram)),
        |pairs AS (
        |  SELECT a.name_id AS p1, b.name_id AS p2, count(*) AS shared
        |  FROM gk a JOIN gk b ON a.gram = b.gram AND a.name_id < b.name_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT p1, p2 FROM pairs
        |  JOIN n n1 ON n1.name_id = p1 JOIN n n2 ON n2.name_id = p2
        |  WHERE shared >= 2 + floor(least(n1.n_grams, n2.n_grams)
        |      / (4 + floor(least(n1.n_grams, n2.n_grams) / 10)))
        |    AND CAST(shared * shared AS DOUBLE) >= 0.17 * n1.n_grams * n2.n_grams)
        |SELECT p1, p2,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS lev,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.9 AS accepted
        |FROM cand JOIN interned a ON a.name_id = p1 JOIN interned b ON b.name_id = p2""".stripMargin,
    "q28_langid" -> {
      // mirrors langIdOn exactly: per-codepoint script tally (the SQL
      // twin of the fused script_counts kernel, same ranges), trigram
      // profile hits per language, script-gated decision with the same
      // first-match tie orders.
      val allProfs = latinProfiles ++ cyrillicProfiles
      val profSql = allProfs.map { case (lang, prof) =>
        val inList = prof.map(p => s"'$p'").mkString(", ")
        s"    CAST(sum(CASE WHEN gram IN ($inList) THEN 1 ELSE 0 END) AS INT) AS ${lang}_h"
      }.mkString(",\n")
      val hitCols = allProfs.map { case (l, _) => s"${l}_h" }
      val latinCols = latinProfiles.map { case (l, _) => s"${l}_h" }
      val cyrCols = cyrillicProfiles.map { case (l, _) => s"${l}_h" }
      val latinCase = latinProfiles.map { case (l, _) =>
        s"WHEN ${l}_h = lb THEN '$l'"
      }.mkString(" ")
      val cyrCase = cyrillicProfiles.map { case (l, _) =>
        s"WHEN ${l}_h = cb THEN '$l'"
      }.mkString(" ")
      s"""WITH ch AS (
         |  SELECT d.doc_id, unicode(substr(d.text, i.i, 1)) AS cp
         |  FROM documents d, LATERAL (SELECT unnest(generate_series(1, len(d.text))) AS i) i),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
         |      OR (cp BETWEEN 192 AND 383 AND cp <> 215 AND cp <> 247)
         |      THEN 1 ELSE 0 END) AS INT) AS s_latin,
         |    CAST(sum(CASE WHEN cp BETWEEN 1024 AND 1279 THEN 1 ELSE 0 END) AS INT) AS s_cyr,
         |    CAST(sum(CASE WHEN cp BETWEEN 880 AND 1023 THEN 1 ELSE 0 END) AS INT) AS s_greek,
         |    CAST(sum(CASE WHEN cp BETWEEN 1536 AND 1791 THEN 1 ELSE 0 END) AS INT) AS s_arabic,
         |    CAST(sum(CASE WHEN cp BETWEEN 1424 AND 1535 THEN 1 ELSE 0 END) AS INT) AS s_hebrew,
         |    CAST(sum(CASE WHEN cp BETWEEN 2304 AND 2431 THEN 1 ELSE 0 END) AS INT) AS s_deva,
         |    CAST(sum(CASE WHEN cp BETWEEN 3584 AND 3711 THEN 1 ELSE 0 END) AS INT) AS s_thai,
         |    CAST(sum(CASE WHEN (cp BETWEEN 44032 AND 55203) OR (cp BETWEEN 4352 AND 4607)
         |      OR (cp BETWEEN 12592 AND 12687) THEN 1 ELSE 0 END) AS INT) AS s_hangul,
         |    CAST(sum(CASE WHEN cp BETWEEN 12352 AND 12447 THEN 1 ELSE 0 END) AS INT) AS s_hira,
         |    CAST(sum(CASE WHEN cp BETWEEN 12448 AND 12543 THEN 1 ELSE 0 END) AS INT) AS s_kata,
         |    CAST(sum(CASE WHEN (cp BETWEEN 19968 AND 40959) OR (cp BETWEEN 13312 AND 19903)
         |      THEN 1 ELSE 0 END) AS INT) AS s_han
         |  FROM ch GROUP BY 1),
         |g AS (
         |  SELECT DISTINCT d.doc_id, substr(lower(d.text), i.i, 3) AS gram
         |  FROM documents d, LATERAL (SELECT unnest(generate_series(1, len(d.text) - 2)) AS i) i
         |  WHERE len(d.text) >= 3 AND substr(lower(d.text), i.i, 3) NOT LIKE '% %'),
         |h AS (
         |  SELECT doc_id,
         |$profSql
         |  FROM g GROUP BY 1),
         |j AS (
         |  SELECT d0.doc_id,
         |    ${Seq("s_latin", "s_cyr", "s_greek", "s_arabic", "s_hebrew", "s_deva",
                    "s_thai", "s_hangul", "s_hira", "s_kata", "s_han")
                 .map(c => s"coalesce($c, 0) AS $c").mkString(", ")},
         |    ${hitCols.map(c => s"coalesce($c, 0) AS $c").mkString(", ")}
         |  FROM documents d0 LEFT JOIN sc ON sc.doc_id = d0.doc_id
         |    LEFT JOIN h ON h.doc_id = d0.doc_id),
         |k AS (
         |  SELECT *, s_hira + s_kata + s_han AS s_cjk,
         |    greatest(s_latin, s_cyr, s_greek, s_arabic, s_hebrew, s_deva,
         |      s_thai, s_hangul, s_hira + s_kata + s_han) AS m,
         |    greatest(${latinCols.mkString(", ")}) AS lb,
         |    greatest(${cyrCols.mkString(", ")}) AS cb
         |  FROM j),
         |k2 AS (
         |  SELECT *, CASE WHEN m > 0 THEN
         |      CASE WHEN s_latin = m THEN 'latin' WHEN s_cyr = m THEN 'cyrillic'
         |        WHEN s_greek = m THEN 'greek' WHEN s_arabic = m THEN 'arabic'
         |        WHEN s_hebrew = m THEN 'hebrew' WHEN s_deva = m THEN 'devanagari'
         |        WHEN s_thai = m THEN 'thai' WHEN s_hangul = m THEN 'hangul'
         |        ELSE 'cjk' END
         |    ELSE 'none' END AS script_pred
         |  FROM k)
         |SELECT doc_id, script_pred,
         |  CASE script_pred
         |    WHEN 'latin' THEN CASE WHEN lb > 0 THEN (CASE $latinCase END) ELSE 'xx' END
         |    WHEN 'cyrillic' THEN CASE WHEN cb > 0 THEN (CASE $cyrCase END) ELSE 'xx' END
         |    WHEN 'greek' THEN 'el' WHEN 'arabic' THEN 'ar' WHEN 'hebrew' THEN 'he'
         |    WHEN 'devanagari' THEN 'hi' WHEN 'thai' THEN 'th' WHEN 'hangul' THEN 'ko'
         |    WHEN 'cjk' THEN CASE WHEN s_hira + s_kata > 0 THEN 'ja' ELSE 'zh' END
         |    ELSE 'xx' END AS lang_pred,
         |  CASE WHEN script_pred = 'none' THEN 0 ELSE m END AS script_chars,
         |  CASE script_pred WHEN 'latin' THEN lb WHEN 'cyrillic' THEN cb
         |    ELSE 0 END AS prof_hits
         |FROM k2""".stripMargin
    },
    "q29_quality" -> """WITH d AS (
        |  SELECT doc_id, lower(text) AS norm, string_split(lower(text), ' ') AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(len(norm) AS INT) AS n_chars,
        |    CAST(len(tokens) AS INT) AS n_tokens,
        |    round(CAST(len(norm) AS DOUBLE) / len(tokens), 6) AS avg_token_span,
        |    round(CAST(len(list_filter(tokens,
        |      t -> t IN ('the','a','and','of','to','value','data'))) AS DOUBLE)
        |      / len(tokens), 6) AS stopword_ratio,
        |    CAST(len(list_filter(tokens,
        |      t -> t IN ('the','a','and','of','to','value','data'))) AS BIGINT) AS stop_hits
        |  FROM d)
        |SELECT doc_id, n_chars, n_tokens, avg_token_span, stopword_ratio,
        |  least(500, CAST(n_tokens AS BIGINT) * 10)
        |    + least(500, stop_hits * 2500 // n_tokens) AS quality_pm
        |FROM c""".stripMargin,
    "q30_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_tokens
        |FROM documents""".stripMargin,
    "q31_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(lower(text)) + 1),
        |        i -> CAST(ascii(substr(lower(text), CAST(i AS INT), 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents""".stripMargin,
    // q56 oracle: every field reconstructed arithmetically from md5(text)
    // — it never parses bytes, so it cross-checks the RIFF decode
    "q56_audio_meta" ->
      """WITH g AS (SELECT doc_id, md5(text) AS h FROM documents),
        |v AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 2 + 1 AS ch,
        |    CASE (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 4
        |      WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 44100 ELSE 48000 END AS rate,
        |    (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) % 2 + 1 AS bps,
        |    (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) + 1 AS nsamp
        |  FROM g)
        |SELECT doc_id, 'wav' AS fmt,
        |  CAST(ch AS BIGINT) AS channels,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(bps * 8 AS BIGINT) AS bits,
        |  CAST(nsamp * ch * bps AS BIGINT) AS data_bytes,
        |  CAST((nsamp * ch * bps * 1000) // (rate * ch * bps) AS BIGINT)
        |    AS duration_ms
        |FROM v""".stripMargin,
    // q57 oracle: fields reconstructed arithmetically from md5(text) —
    // never parses bytes, so it cross-checks the MP4 box decode
    "q57_video_meta" ->
      """WITH g AS (SELECT doc_id, md5(text) AS h FROM documents),
        |v AS (
        |  SELECT doc_id,
        |    CASE (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 4
        |      WHEN 0 THEN 600 WHEN 1 THEN 1000
        |      WHEN 2 THEN 90000 ELSE 24000 END AS ts,
        |    ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) + 1) * 37 AS du
        |  FROM g)
        |SELECT doc_id, 'mp4/isom' AS fmt,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(du AS BIGINT) AS duration_units,
        |  CAST((du * 1000) // ts AS BIGINT) AS duration_ms,
        |  CAST(least(8, (du * 1000) // ts // 500 + 1) AS BIGINT)
        |    AS n_sample_frames
        |FROM v""".stripMargin,
    "q32_media_meta" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) % 3 AS fmt_code,
        |    (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(md5(text), 3, 1)) AS w,
        |    (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(md5(text), 5, 1)) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE fmt_code WHEN 0 THEN 24 WHEN 1 THEN 29 ELSE 13 END AS INT)
        |    AS payload_len,
        |  CASE fmt_code WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS fmt,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height
        |FROM d""".stripMargin
  )
}
