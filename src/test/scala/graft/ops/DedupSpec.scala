package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

/** Production-hash parity for the MinHash/LSH dedup family: the
  * md5-hex demo path exists only so the DuckDB oracle can reproduce the
  * signatures byte-for-byte; the production path keys every shuffle on
  * xxhash64 Longs. Different hash families give different signatures,
  * so the check is on what matters: the candidate PAIR SET the banding
  * emits at matched parameters (8 slots, 4 bands × 2 rows, MaxBlock cap)
  * over the driver's documents corpus.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("xxhash64 LSH + verification equals the md5 demo path exactly") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables.load(spark, sf, "documents")
      val demoCand = pairSet(Dedup.q22LshPairs(spark, sf))
      val prodCand = pairSet(Dedup.lshPairsXx(docs))
      // banding is probabilistic per hash family: true near-dups land in
      // both, only sub-threshold accidental band collisions may differ
      val inter = (demoCand & prodCand).size.toDouble
      assert(inter / (demoCand | prodCand).size >= 0.6,
        s"$sf: candidate overlap collapsed: md5=$demoCand xx=$prodCand")
      // after the exact-Jaccard rescore both paths agree EXACTLY at the
      // corpus near-dup threshold
      val demo = pairSet(Dedup.verifyJaccard(docs,
        Dedup.q22LshPairs(spark, sf), 0.1))
      val prod = pairSet(Dedup.verifyJaccard(docs,
        Dedup.lshPairsXx(docs), 0.1))
      assert(demo == prod,
        s"$sf: verified md5-only=${demo -- prod}, xx-only=${prod -- demo}")
      assert(demo.nonEmpty, s"$sf: empty verified pair set proves nothing")
    }
  }

  test("fused minhash_md5 signature equals the declarative explode→groupBy pipeline") {
    import org.apache.spark.sql.functions._
    import graft.{functions => gf}
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // the round-2 declarative formulation, kept as the independent
      // witness: shingle explode × 8 slots → groupBy(doc, h) min(md5)
      val legacy = Tables.load(spark, sf, "documents")
        .withColumn("tokens", split(gf.normalize_text(col("text")), " "))
        .filter(size(col("tokens")) >= 3)
        .withColumn("shingle", explode(transform(
          sequence(lit(1), size(col("tokens")) - 2),
          i => concat_ws(" ",
            element_at(col("tokens"), i),
            element_at(col("tokens"), i + 1),
            element_at(col("tokens"), i + 2)))))
        .withColumn("h", explode(sequence(lit(0), lit(7))))
        .groupBy(col("doc_id"), col("h"))
        .agg(min(md5(concat(col("shingle"), lit(":"), col("h")))).as("minhash"))
      val fused = Dedup.q21Minhash(spark, sf)
      assert(fused.exceptAll(legacy).isEmpty && legacy.exceptAll(fused).isEmpty,
        s"$sf: fused/legacy minhash signatures diverge")
      // same witness for the xx production family and the shingle sets
      val legacyXx = Tables.load(spark, sf, "documents")
        .withColumn("tokens", split(gf.normalize_text(col("text")), " "))
        .filter(size(col("tokens")) >= 3)
        .withColumn("shingle", explode(transform(
          sequence(lit(1), size(col("tokens")) - 2),
          i => concat_ws(" ",
            element_at(col("tokens"), i),
            element_at(col("tokens"), i + 1),
            element_at(col("tokens"), i + 2)))))
        .withColumn("h", explode(sequence(lit(0), lit(7))))
        .groupBy(col("doc_id"), col("h"))
        .agg(min(xxhash64(col("shingle"), col("h"))).as("minhash"))
      val fusedXx = Dedup.minhashXx(Tables.load(spark, sf, "documents"))
      assert(fusedXx.exceptAll(legacyXx).isEmpty && legacyXx.exceptAll(fusedXx).isEmpty,
        s"$sf: fused/legacy xxhash64 minhash signatures diverge")
      val legacySets = Tables.load(spark, sf, "documents")
        .withColumn("tokens", split(gf.normalize_text(col("text")), " "))
        .filter(size(col("tokens")) >= 3)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("tokens")) - 2),
          i => concat_ws(" ",
            element_at(col("tokens"), i),
            element_at(col("tokens"), i + 1),
            element_at(col("tokens"), i + 2))))).as("shingle"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(xxhash64(col("shingle")))).as("shs"))
      val fusedSets = Tables.load(spark, sf, "documents")
        .select(col("doc_id"),
          gf.shingle_hashes(gf.normalize_text(col("text"))).as("shs"))
        .filter(col("shs").isNotNull)
      assert(fusedSets.exceptAll(legacySets).isEmpty &&
        legacySets.exceptAll(fusedSets).isEmpty,
        s"$sf: fused/legacy shingle-hash sets diverge")
    }
  }

  test("fused lsh_band_vals equals the declarative HOF signature formula") {
    import org.apache.spark.sql.functions._
    import graft.{functions => gf}
    // the legacy 32×64 aggregate-HOF construction q25 shipped with in
    // round 2, kept here as the independent witness for the fused kernel
    val md = java.security.MessageDigest.getInstance("MD5")
    val hyperplanes: Seq[Seq[Int]] = (0 until 32).map { j =>
      (1 to 64).map { i =>
        val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
        if (((hex(0) >> 4) & 0xF) % 2 == 1) 1 else -1
      }
    }
    val w = typedLit(hyperplanes)
    val bits = transform(sequence(lit(0), lit(31)), j =>
      when(aggregate(sequence(lit(1), lit(64)), lit(0L),
        (acc, i) => acc + floor(element_at(col("v"), i).cast("double") * 1e6) *
          element_at(element_at(w, (j + 1).cast("int")), i.cast("int"))) > 0L, 1).otherwise(0))
    val hofBands = transform(sequence(lit(0), lit(7)), b =>
      aggregate(sequence(lit(0), lit(3)), lit(0),
        (acc, k) => acc + element_at(col("bits"),
          (b * 4 + k + 1).cast("int")) * pow(lit(2.0d), k).cast("int")))
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val mismatches = e
      .withColumn("bits", bits)
      .select(col("vec_id"), hofBands.as("hof"), gf.lsh_band_vals(col("v")).as("fused"))
      .filter(col("hof") =!= col("fused"))
    assert(mismatches.isEmpty, mismatches.limit(3).collect().mkString("; "))
  }

  test("xxhash64 minhash signatures are fixed-width longs, 8 slots per doc") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sig = Dedup.minhashXx(docs)
    assert(sig.schema("minhash").dataType ==
      org.apache.spark.sql.types.LongType)
    val slots = sig.groupBy("doc_id").count().select("count").distinct().collect()
    assert(slots.map(_.getLong(0)).toSet == Set(8L))
  }

  test("q59 substring dedup: a planted shared span of W+K-1 tokens is " +
      "GUARANTEED found; disjoint docs are not paired") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // winnowing guarantee (Schleimer/Wilkerson/Aiken 2003 thm 1): any
    // duplicated span of >= W + K - 1 = 11 tokens shares a selected
    // fingerprint. Plant EXACTLY the threshold-length span inside two
    // otherwise token-disjoint documents; add a third disjoint doc.
    val span = (1 to 11).map(i => s"shared$i").mkString(" ")
    val docA = (1 to 30).map(i => s"alpha$i").mkString(" ") + " " + span +
      " " + (1 to 30).map(i => s"omega$i").mkString(" ")
    val docB = (1 to 25).map(i => s"beta$i").mkString(" ") + " " + span +
      " " + (1 to 25).map(i => s"gamma$i").mkString(" ")
    val docC = (1 to 80).map(i => s"delta$i").mkString(" ")
    val docs = Seq((1L, docA), (2L, docB), (3L, docC))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs)
      .select("da", "db", "dup_tokens").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      s"expected exactly the planted pair, got ${out.mkString(";")}")
    // the merged span must cover at least one full window of the planted
    // text and never exceed the planted 11 tokens plus one window of
    // boundary slack on each side (windows STARTING before the span
    // cannot match — surrounding tokens differ across docs)
    val dup = out.head.getLong(2)
    assert(dup >= Dedup.SubstrW && dup <= 11 + Dedup.SubstrW,
      s"merged span length $dup outside [8, 19]")
  }

  test("q59 substring dedup: overlapping matched windows merge into ONE " +
      "span and a hot fingerprint shared by >MaxBlock docs is dropped whole") {
    import spark.implicits._
    // two docs sharing one LONG span (40 tokens) → many overlapping
    // matched windows, but island detection must merge them into a
    // single maximal span, not report one span per fingerprint
    val long = (1 to 40).map(i => s"dup$i").mkString(" ")
    val a = "xa xb xc xd xe xf xg xh " + long + " ya yb yc yd ye yf yg yh"
    val b = "za zb zc zd ze zf zg zh " + long + " wa wb wc wd we wf wg wh"
    val pair = Dedup.substringDedup(
      Seq((10L, a), (20L, b)).toDF("doc_id", "text")).collect()
    assert(pair.length == 1)
    val r = pair.head
    assert(r.getLong(r.fieldIndex("n_spans")) == 1L,
      s"overlapping windows must merge into one island: $r")
    val covered = r.getLong(r.fieldIndex("dup_tokens"))
    // winnowing may pick its first/last SHARED fingerprint up to K-1
    // window starts inside the run at each end → 2(K-1) = 6 token slack
    assert(covered >= 40 - 2 * (Dedup.SubstrK - 1) &&
      covered <= 40 + Dedup.SubstrW,
      s"island must span ~the planted 40 tokens, got $covered")
    // hot-fp cap: the same boilerplate in 300 > MaxBlock docs → every
    // selected fingerprint is shared by all 300 (token-IDENTICAL docs —
    // a doc-specific prefix would make junction-run winnowing select
    // boundary fps in doc SUBSETS under the cap, which is correct
    // behavior but not what this test pins) and the ENTIRE block is
    // dropped (no quadratic pair blow-up, mirrored by the oracle HAVING)
    val boiler = (1 to 20).map(i => s"lic$i").mkString(" ")
    val many = (1L to 300L).map(i => (i, boiler)).toDF("doc_id", "text")
    assert(Dedup.substringDedup(many).isEmpty,
      "over-cap boilerplate fingerprints must be dropped whole")
  }

  test("winnow_fps kernel is byte-equal to the declarative " +
      "explode→sliding-min→groupBy winnowing it replaced") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    import graft.{functions => gf}
    // corpus with internal repeats (same fp at several window positions —
    // exercises the per-fp min-pos rule), near-threshold lengths (7, 8,
    // 9 tokens), and an LCG-shuffled vocabulary so digest ties in the
    // K-run are possible across positions
    var s = 7L
    def nxt(n: Int): Int = {
      s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      (s % n).toInt
    }
    val docs = (1L to 40L).map { id =>
      val len = 7 + nxt(60)
      val toks = (0 until len).map(_ => s"w${nxt(12)}")
      (id, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val toks = docs
      .select(col("doc_id"), split(gf.normalize_text(col("text")), " ").as("t"))
      .filter(size(col("t")) >= Dedup.SubstrW)
    val kernel = toks
      .select(col("doc_id"),
        explode(gf.winnow_fps(col("t"), Dedup.SubstrW, Dedup.SubstrK)).as("x"))
      .select(col("doc_id"), col("x.fp").as("fp"), col("x.pos").as("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val declarative = toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (Dedup.SubstrW - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("t"), col("pos"), lit(Dedup.SubstrW)))
          .cast("binary")).as("fp"))
      .withColumn("m", min(struct(col("fp"), col("pos")))
        .over(byDoc.rowsBetween(0, Dedup.SubstrK - 1)))
      .groupBy(col("doc_id"), col("m.fp").as("fp"))
      .agg(min(col("m.pos")).as("pos"))
    assert(kernel.exceptAll(declarative).isEmpty &&
      declarative.exceptAll(kernel).isEmpty,
      "winnow_fps diverges from the declarative winnowing selection")
  }

  test("q62 decontamination: a planted shared 8-gram flags the train doc, " +
      "clean docs emit no row, and over-cap common eval grams are excluded") {
    import spark.implicits._
    val leak = (1 to 8).map(i => s"evalq$i").mkString(" ")
    val evalDocs = Seq(
      (97L, "benchq a1 a2 " + leak + " tail1 tail2 tail3 tail4 tail5"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, (1 to 10).map(i => s"pre$i").mkString(" ") + " " + leak + " " +
        (1 to 10).map(i => s"post$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"clean$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, evalDocs).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L),
      s"expected exactly the contaminated doc, got ${out.mkString(";")}")
    val r = out.head
    // the leak occupies train positions 11-18: exactly ONE full window
    assert(r.getLong(r.fieldIndex("n_contam_grams")) == 1L)
    assert(r.getLong(r.fieldIndex("n_windows_hit")) == 1L)
    assert(r.getInt(r.fieldIndex("first_pos")) == 11)
    assert(r.getLong(r.fieldIndex("max_eval_docs")) == 1L)

    // no forced broadcast: with both broadcast thresholds off, Spark plans
    // a shuffle join and returns the same rows
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    try {
      val shuffled = Dedup.decontaminate(train, evalDocs)
      assert(shuffled.collect().toSeq == out.toSeq)
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") &&
        (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")),
        s"expected a shuffle join without broadcast:\n$plan")
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }

    // hot-gram rule: the same gram across 17 > DecontamHotCap eval docs
    // is benchmark boilerplate, not signal — excluded before the join
    val common = (1 to 8).map(i => s"comm$i").mkString(" ")
    def evalN(n: Int) = (1 to n).map(i =>
      (97L * i, s"e${i}a e${i}b " + common)).toDF("doc_id", "text")
    val t2 = Seq((5L, "tr1 tr2 tr3 " + common)).toDF("doc_id", "text")
    assert(Dedup.decontaminate(t2, evalN(17)).isEmpty,
      "a gram in >DecontamHotCap eval docs must be dropped whole")
    val hit = Dedup.decontaminate(t2, evalN(16)).collect()
    assert(hit.length == 1 &&
      hit.head.getLong(hit.head.fieldIndex("max_eval_docs")) == 16L)
  }
}
