package graft.er

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

/** End-to-end pipeline gates from BASELINE.json:
  * - pairwise F1 ≥ 0.99 on labeled pairs sharing a blocking key
  * - partition-count invariance (the sandbox proxy for N-vs-4N identical
  *   output clusters)
  * - resumability from checkpoint
  * plus blocking recall and extraction determinism.
  */
class ErPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  test("pairwise F1 >= 0.99 on labeled same-blocking-key pairs (seed 42)") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 800, nEntities = 150,
      workDir = freshDir("f1_s42"))
    val eval = Pipeline.run(spark, cfg)
    assert(eval.f1 >= 0.99, s"F1 gate failed: $eval")
    assert(eval.precision >= 0.99, s"precision: $eval")
    assert(eval.recall >= 0.99, s"recall: $eval")
  }

  test("pairwise F1 >= 0.99 holds on a different seed") {
    val cfg = Pipeline.Config(seed = 7L, nPages = 800, nEntities = 150,
      workDir = freshDir("f1_s7"))
    val eval = Pipeline.run(spark, cfg)
    assert(eval.f1 >= 0.99, s"F1 gate failed on seed 7: $eval")
  }

  test("weighted string-level evaluation equals the expanded mention-level one") {
    val cfg = Pipeline.Config(seed = 13L, nPages = 600, nEntities = 120,
      workDir = freshDir("weval"))
    val out = Pipeline.runPipeline(spark, cfg)
    val truth = Pipeline.withMentionIds(
      Corpus.truth(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF())
    val expanded = Pipeline.evaluate(
      Pipeline.labeledPairUniverse(out.pairs, out.membership), truth, out.labels)
    val weighted = Pipeline.evaluateWeighted(
      out.pairs, out.strings, out.membership, truth, out.stringLabels)
    assert(weighted.tp == expanded.tp, s"tp: $weighted vs $expanded")
    assert(weighted.fp == expanded.fp, s"fp: $weighted vs $expanded")
    assert(weighted.fn == expanded.fn, s"fn: $weighted vs $expanded")
    assert(weighted.labeledPairs == expanded.labeledPairs,
      s"universe size: $weighted vs $expanded")
  }

  test("forestLabels equals generic cluster labels on real match edges") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 800, nEntities = 150,
      workDir = freshDir("forest_eq"))
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val mentions = Pipeline.extractMentions(pages)
    val (strings, _) = Pipeline.internStrings(mentions)
    val (pairs, _) = Pipeline.candidatePairs(strings, cfg)
    val edges = Pipeline.matchEdges(pairs, strings, cfg).cache()
    val vertices = strings.select($"string_id")
    // forest precondition: one out-edge per satellite, strictly acyclic
    assert(edges.groupBy($"src").count().filter($"count" > 1).isEmpty,
      "matchEdges must emit at most one out-edge per node")
    val (forest, fm) = Pipeline.forestLabels(vertices, edges,
      cfg.copy(workDir = freshDir("forest_eq_f")))
    val unionFind = graft.ops.UnionFind.labels(
      vertices.as[Long].collect(), edges.as[(Long, Long)].collect())
    assert(forest.as[(Long, Long)].collect().toMap == unionFind,
      "forest labels diverge from a sequential union-find")
    assert(fm.nonEmpty && fm.size <= 3,
      s"variant forest should resolve in <=3 pointer-jump rounds, took ${fm.size}")
  }

  test("forestLabels equals a sequential union-find on random forests at 2 and 8 " +
      "partitions") {
    // each forest: 30 isolated vertices, a 17-vertex chain (four rounds)
    // and a random recursive forest whose roots are drawn at random, so
    // most roots are not their tree's minimum — the case the min-per-root
    // step exists for. Every edge endpoint is a vertex. Over 2 048 parent
    // rows, so the loop width rule gives the rounds more than one
    // partition.
    def forest(seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((0L until 30000L).toVector).take(3000)
      val chain = ids.slice(30, 47)
      val rest = ids.drop(47)
      val treeEdges = rest.indices.collect {
        case i if i > 0 && rnd.nextInt(4) != 0 => rest(i) -> rest(rnd.nextInt(i))
      }
      (ids, chain.zip(chain.tail) ++ treeEdges)
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (seed <- 1L to 3L; parts <- Seq("2", "8")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val (ids, edges) = forest(seed)
        assert(edges.size >= 2048, s"seed $seed: ${edges.size} parent rows")
        assert(graft.ops.Components.loopWidth(edges.size.toLong,
          spark.sparkContext.defaultParallelism, parts.toInt) > 1)
        val want = graft.ops.UnionFind.labels(ids, edges)
        val roots = ids.toSet -- edges.map(_._1)
        assert(roots.exists(r => want(r) != r), s"seed $seed: every root is its tree minimum")
        val (got, m) = Pipeline.forestLabels(ids.map(Tuple1(_)).toDF("id"),
          edges.toDF("src", "dst"), Pipeline.Config(workDir = freshDir(s"forest_prop_$seed")))
        assert(got.as[(Long, Long)].collect().toMap == want,
          s"seed $seed at $parts partitions: forest labels diverge from a union-find")
        assert(m.size >= 3, s"seed $seed: the chain must take 3+ rounds, took ${m.size}")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("runPipeline's walk-verified edges equal the separate-stage path, and " +
      "only membership and labels stay persisted") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 800, nEntities = 150,
      workDir = freshDir("walk_pipeline"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Pipeline.runPipeline(spark, cfg)
    val kept = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(kept.size == 2 && out.membership.storageLevel.useMemory &&
      out.labels.storageLevel.useMemory && !out.pairs.storageLevel.isValid,
      s"runPipeline left ${kept.size} persisted frames")
    Pipeline.release(out)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "release must free every frame runPipeline left persisted")

    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val mentions = Pipeline.extractMentions(pages).cache()
    val strings = Pipeline.internStrings(mentions)._1.cache()
    val (pairs, stats) = Pipeline.candidatePairs(strings, cfg)
    assert(out.stats == stats && stats.candidatePairs == pairs.count())
    assert(same(out.pairs, pairs), "the pipeline's pairs differ from candidatePairs'")
    for (ctx <- Seq(false, true)) {
      val c = cfg.copy(contextEvidence = ctx)
      val edges = Pipeline.matchEdges(pairs, strings, c, Some(mentions)).cache()
      val (walked, walkPairs, walkStats) = Pipeline.walkEdges(strings, c, Some(mentions))
      assert(edges.count() > 0 && same(walked, edges), s"context $ctx: edges differ")
      assert(walkStats == stats && same(walkPairs, pairs), s"context $ctx")
      if (!ctx) {
        val (labels, _) = Pipeline.forestLabels(strings.select($"string_id"), edges,
          cfg.copy(workDir = freshDir("walk_separate")))
        assert(same(labels, out.stringLabels), "string labels differ")
      }
      Seq(edges, walked).foreach(_.unpersist())
    }
    Seq(pairs, strings, mentions).foreach(_.unpersist())
  }

  test("extraction is byte-identical per url regardless of partitioning") {
    val pages1 = Corpus.pages(spark, 200, 50, 42L).toDF().repartition(1)
    val pages2 = Corpus.pages(spark, 200, 50, 42L).toDF().repartition(17)
    val m1 = Pipeline.extractMentions(pages1).select($"url", $"seq", $"raw", $"norm")
    val m2 = Pipeline.extractMentions(pages2).select($"url", $"seq", $"raw", $"norm")
    assert(m1.count() == m2.count())
    assert(m1.exceptAll(m2).isEmpty && m2.exceptAll(m1).isEmpty)
  }

  test("identical clusters at different parallelism (N vs 4N proxy)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val o1 = Pipeline.runPipeline(spark, Pipeline.Config(seed = 11L, nPages = 400,
        nEntities = 80, workDir = freshDir("inv2")))
      val l1 = o1.stringLabels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val o2 = Pipeline.runPipeline(spark, Pipeline.Config(seed = 11L, nPages = 400,
        nEntities = 80, workDir = freshDir("inv8")))
      val l2 = o2.stringLabels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(l1.sameElements(l2), "cluster labels differ across parallelism levels")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("clustering resumes from checkpoint to the same fixpoint") {
    val dirFull = freshDir("resume_full")
    val dirPart = freshDir("resume_part")
    val cfgBase = Pipeline.Config(seed = 5L, nPages = 300, nEntities = 60)

    val pages = Corpus.pages(spark, cfgBase.nPages, cfgBase.nEntities, cfgBase.seed).toDF()
    val mentions = Pipeline.extractMentions(pages).cache()
    val (strings, membership) = Pipeline.internStrings(mentions)
    val (pairs, _) = Pipeline.candidatePairs(strings, cfgBase)
    val edges = Pipeline.matchEdges(pairs, strings, cfgBase).cache()
    val vertices = strings.select($"string_id")

    // full run on the corpus edges
    val (labelsFull, mFull) = Pipeline.forestLabels(vertices, edges,
      cfgBase.copy(workDir = dirFull))
    // collected first: the resumed run rewrites the same labels table
    val full = labelsFull.as[(Long, Long)].collect().toMap
    // resume from a CONVERGED checkpoint: the resume-entry probe must
    // certify it without spending a confirm round, and labels must match
    val (labelsResumed, mResumed) = Pipeline.forestLabels(vertices, edges,
      cfgBase.copy(workDir = dirFull, resume = true))
    assert(mResumed.isEmpty,
      "resume from a converged checkpoint must probe, not re-iterate")
    assert(labelsResumed.as[(Long, Long)].collect().toMap == full,
      "resumed labels differ from uninterrupted run")
    assert(mFull.nonEmpty)

    // mid-run interruption needs a forest that CANNOT converge in one
    // pointer-doubling round: a 9-vertex chain (depth 8, three rounds).
    // Hitting the cap unconverged must FAIL LOUD (silently returning
    // intermediate ancestors = split clusters)...
    val chainEdges = (1L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainVerts = (1L to 9L).map(Tuple1(_)).toDF("id")
    intercept[IllegalStateException] {
      Pipeline.forestLabels(chainVerts, chainEdges,
        cfgBase.copy(workDir = dirPart, maxIterations = 1))
    }
    // ...and resume must pick up AT iteration 1 from the complete
    // checkpoint and reach the same fixpoint as an uninterrupted run
    val (chainFull, mChainFull) = Pipeline.forestLabels(chainVerts, chainEdges,
      cfgBase.copy(workDir = freshDir("resume_chain_full")))
    val (chainResumed, mChain) = Pipeline.forestLabels(chainVerts, chainEdges,
      cfgBase.copy(workDir = dirPart, resume = true))
    assert(mChain.head.iteration == 1, "resume must continue at iteration 1")
    assert(chainFull.exceptAll(chainResumed).isEmpty &&
      chainResumed.exceptAll(chainFull).isEmpty,
      "chain resumed labels differ from uninterrupted run")
    assert(chainResumed.select("label").distinct().count() == 1L,
      "the chain is one component: every vertex must carry label 1")

    // round metrics: the parent map keeps one row per satellite, and a
    // run without stats reports no row counts rather than a sentinel
    assert(mChainFull.map(_.pointersAdvanced) == Vector(7L, 6L, 4L))
    assert(mChainFull.forall(m => m.rows.contains(8L) && m.partitions.exists(_ > 0)))
    val (_, mNoStats) = Pipeline.forestLabels(chainVerts, chainEdges,
      cfgBase.copy(workDir = freshDir("resume_chain_nostats"), collectStats = false))
    assert(mNoStats.map(_.pointersAdvanced) == mChainFull.map(_.pointersAdvanced))
    assert(mNoStats.forall(m => m.rows.isEmpty && m.partitions.isEmpty))
  }

  test("context evidence disambiguates an equidistant satellite (A6 analogue)") {
    // Two entities whose canonical keys are 2 edits apart (so no direct
    // edge links them: sift 2 needs the freq-ratio gate, and freqs are
    // equal) and a typo satellite exactly 1 edit from EACH. Distance and
    // frequency are both ties — no pairwise string score can choose. The
    // satellite's page co-mentions entity A's city, so context must send
    // it to A.
    val a = "bergstrasse" // key A
    val b = "burgstrosse" // key B (2 subs from A)
    val mid = "burgstrasse" // 1 edit from A (e->u), 1 from B (a->o)
    val idA = Pipeline.stringIdHash(a)
    val idB = Pipeline.stringIdHash(b)
    // context city is attached to the hub the id-tiebreak would NOT pick,
    // so a context-blind run provably chooses the other hub
    val (ctxName, otherName) =
      if (idA < idB) ("Darmstadt", "Berlin") else ("Berlin", "Darmstadt")
    val ctxHub = if (idA < idB) b else a // larger id = not the id-tiebreak pick
    val hubName = if (ctxHub == a) "Bergstrasse" else "Burgstrosse"
    val otherHubName = if (ctxHub == a) "Burgstrosse" else "Bergstrasse"
    val pages = ((1 to 5).map(i =>
      (s"https://x.example/hub$i", "de", s"loc: $hubName\nloc: $ctxName\n")) ++
      (1 to 5).map(i =>
        (s"https://x.example/other$i", "de", s"loc: $otherHubName\nloc: $otherName\n")) ++
      Seq(("https://x.example/sat", "de", s"loc: Burgstrasse\nloc: $ctxName\n")))
      .toDF("url", "lang", "text")
    val cfg = Pipeline.Config(contextEvidence = true, workDir = freshDir("ctx"))
    val mentions = Pipeline.extractMentions(pages).cache()
    val (strings, _) = Pipeline.internStrings(mentions)
    val (pairs, _) = Pipeline.candidatePairs(strings, cfg)
    val idMid = Pipeline.stringIdHash(mid)
    val idCtxHub = Pipeline.stringIdHash(ctxHub)
    val idOtherHub = Pipeline.stringIdHash(if (ctxHub == a) b else a)

    // context-blind: the satellite goes to the smaller-id hub (pure tie)
    val blind = Pipeline.matchEdges(pairs, strings, cfg.copy(contextEvidence = false))
      .filter($"src" === idMid).collect()
    assert(blind.length == 1 && blind(0).getLong(1) == math.min(idCtxHub, idOtherHub),
      s"context-blind tie-break should pick the smaller id: ${blind.toSeq}")

    // with context: the satellite must go to the hub sharing its city
    val ctxEdges = Pipeline.matchEdges(pairs, strings, cfg, Some(mentions))
      .filter($"src" === idMid).collect()
    assert(ctxEdges.length == 1 && ctxEdges(0).getLong(1) == idCtxHub,
      s"context should route the satellite to the co-occurring hub: ${ctxEdges.toSeq}")
    // and no direct edge may fuse the two entities
    val fused = Pipeline.matchEdges(pairs, strings, cfg, Some(mentions))
      .filter(($"src" === idCtxHub && $"dst" === idOtherHub) ||
        ($"src" === idOtherHub && $"dst" === idCtxHub)).count()
    assert(fused == 0, "entities two edits apart with equal freq must not link")
  }

  test("blocking stats are reported (no silent caps)") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 400, nEntities = 80,
      workDir = freshDir("stats"))
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val mentions = Pipeline.extractMentions(pages)
    val (strings, _) = Pipeline.internStrings(mentions)
    val (pairs, stats) = Pipeline.candidatePairs(strings, cfg)
    assert(stats.candidatePairs == pairs.count())
    assert(stats.totalKeys > 0)
    // keptKeys counts keys that actually generate blocks (2 ≤ pfreq ≤
    // cap); the remainder besides hot keys is prefix-SINGLETON keys —
    // grams globally shared but surviving into only one string's 6-slot
    // prefix after rank truncation. The old `total - hot` identity
    // overcounted exactly those phantom blocks.
    assert(stats.keptKeys > 0)
    assert(stats.keptKeys + stats.hotKeysDropped <= stats.totalKeys)
  }

  test("blocking stats are exact and equal with and without collectStats") {
    val cfg = Pipeline.Config(seed = 42L, nPages = 400, nEntities = 80,
      workDir = freshDir("stats_modes"))
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val strings = Pipeline.internStrings(Pipeline.extractMentions(pages))._1.cache()
    val (p1, off) = Pipeline.candidatePairs(strings, cfg.copy(collectStats = false))
    val (p2, on) = Pipeline.candidatePairs(strings, cfg)
    assert(off == on, s"collectStats changed the blocking stats: $off vs $on")
    assert(off.productIterator.forall(_.asInstanceOf[Long] >= 0L), s"negative stat: $off")
    assert(off == referenceStats(
      strings.select($"string_id", $"match_key").as[(Long, String)].collect().toSeq, cfg),
      "stats differ from a direct aggregate over the prefix-key frequencies")
    Seq(p1, p2, strings).foreach(_.unpersist())
  }

  test("a corpus without candidate pairs gets exact blocking stats") {
    // adaptive execution prunes the stages that come out empty, the
    // observed key frequencies with them, and the stats must still
    // arrive (and not hang). The first two corpora share no trigram and
    // no phonetic code: every stat is zero. The last one has prefix keys,
    // all over the cap, so only its kept-key frame is empty.
    val cfg = Pipeline.Config(workDir = freshDir("stats_empty"))
    for ((corpus, cap) <- Seq(
        Seq((1L, "abcd"), (2L, "wxyz")) -> 256,
        Seq.empty[(Long, String)] -> 256,
        Seq((1L, "qqqxa"), (2L, "qqqxe"), (3L, "qqqxi")) -> 2)) {
      val c = cfg.copy(maxBlockSize = cap)
      val run = scala.concurrent.Future(
        Pipeline.candidatePairs(corpus.toDF("string_id", "match_key"), c))(
        scala.concurrent.ExecutionContext.global)
      val (pairs, stats) = scala.concurrent.Await.result(run,
        scala.concurrent.duration.Duration(120, "s"))
      assert(stats == referenceStats(corpus, c), s"$corpus")
      if (cap == 256) assert(stats == Pipeline.BlockingStats(0L, 0L, 0L, 0L, 0L))
      else assert(stats.hotKeysDropped > 0 && stats.keptKeys == 0L, s"$stats")
      pairs.unpersist()
    }
  }

  test("collectStats adds only the per-round metrics jobs to runPipeline") {
    // Spark jobs started while `body` runs, counted by a listener
    def jobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet(): Unit
      }
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { body; org.apache.spark.TestBus.drain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val cfg = Pipeline.Config(seed = 42L, nPages = 400, nEntities = 80)
    def pipelineJobs(stats: Boolean) = jobs(Pipeline.release(Pipeline.runPipeline(spark,
      cfg.copy(workDir = freshDir(s"jobs_pipeline_$stats"), collectStats = stats))))
    val pipelineDelta = pipelineJobs(true) - pipelineJobs(false)
    // the same edges straight into forestLabels
    val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val strings = Pipeline.internStrings(Pipeline.extractMentions(pages))._1.cache()
    val (pairs, _) = Pipeline.candidatePairs(strings, cfg)
    val edges = Pipeline.matchEdges(pairs, strings, cfg).cache()
    edges.count()
    def forestJobs(stats: Boolean) = jobs(Pipeline.forestLabels(strings.select($"string_id"),
      edges, cfg.copy(workDir = freshDir(s"jobs_forest_$stats"), collectStats = stats)): Unit)
    val forestDelta = forestJobs(true) - forestJobs(false)
    assert(forestDelta > 0, "collectStats must still write the per-round metrics")
    assert(pipelineDelta == forestDelta,
      s"collectStats adds $pipelineDelta jobs to runPipeline, $forestDelta to forestLabels")
    Seq(pairs, edges, strings).foreach(_.unpersist())
  }

  test("a pathological hot block is capped, logged, and does not hurt recall") {
    // 400 DISTINCT strings whose every repeated trigram (and every
    // Double-Metaphone token code) is shared by all 400 — the worst-case
    // Zipf head. Uncapped blocking would emit 400·399/2 = 79 800 pairs
    // from this one block; the cap (maxBlockSize = 256) must drop it
    // whole and say so in the stats, while an ordinary 1-edit pair
    // elsewhere in the corpus still blocks together.
    val uniq = for (a <- 'a' to 't'; b <- 'a' to 't') yield s"$a$b"
    val hot = uniq.take(400).zipWithIndex.map { case (u, i) =>
      (1000L + i, s"${u(0)} ${u(1)} commonhotkey")
    }
    val needle = Seq((1L, "berlin hauptstrasse"), (2L, "berlin hauptstrase"))
    val strings = (hot ++ needle).toDF("string_id", "match_key")
    val cfg = Pipeline.Config(workDir = freshDir("skew"))
    val (pairs, stats) = Pipeline.candidatePairs(strings, cfg)
    assert(stats.hotKeysDropped > 0, "the hot block must be dropped, not silently kept")
    assert(stats.hotVolumeDropped >= 400, "dropped volume must count the hot block's members")
    assert(stats.candidatePairs < 2000,
      s"capped blocking must stay far below the 79 800-pair quadratic blow-up, got ${stats.candidatePairs}")
    assert(pairs.filter(col("src") === 1L && col("dst") === 2L).count() == 1,
      "the near-duplicate pair outside the hot block must still be generated")
  }

  /** Driver-side sequential reference of candidatePairs' pair SET (no
    * ownership rule, no Spark): trigram keys, freq ≥ 2 ranking, top
    * PrefixKeys prefixes, kept blocks (2 ≤ pfreq ≤ cap), kept phonetic
    * blocks, every a < b pair in every kept block. The intermediates are
    * returned so specs can check what a hand-built corpus covers. */
  private case class BlockingRef(
      prefix: Map[Long, Set[Int]], // every string's prefix keys
      kept: Map[Long, Set[Int]], // K(s): kept prefix keys
      hot: Set[Int], // prefix keys over the cap
      phon: Map[Long, Set[String]], // Q(s): kept phonetic keys
      trigramPairs: Set[(Long, Long)],
      phoneticPairs: Set[(Long, Long)]) {
    def pairs: Set[(Long, Long)] = trigramPairs ++ phoneticPairs
  }

  private def blockingRef(strings: Seq[(Long, String)], cfg: Pipeline.Config): BlockingRef = {
    def blockPairs(members: Map[Long, Set[_ <: Any]], keep: Int => Boolean)
        : (Set[(Long, Long)], Map[Any, Int]) = {
      val blocks = members.toSeq.flatMap { case (id, ks) => ks.map(k => (k: Any, id)) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
      val pairs = for {
        (_, ids) <- blocks.toSeq if keep(ids.size)
        i <- ids.indices; j <- i + 1 until ids.size
      } yield (ids(i), ids(j))
      (pairs.toSet, blocks.map { case (k, v) => k -> v.size })
    }
    def isKept(n: Int) = n >= 2 && n <= cfg.maxBlockSize
    val tris = strings.map { case (id, k) =>
      id -> graft.text.Ngrams.trigramBlockingKeys(k).toSeq.distinct }
    val freq = tris.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val prefix = tris.map { case (id, ks) =>
      id -> ks.filter(freq(_) >= 2).sortBy(k => (freq(k), k)).take(Pipeline.PrefixKeys).toSet
    }.toMap
    val (triPairs, pfreq) = blockPairs(prefix, isKept)
    val kept = prefix.map { case (id, ks) => id -> ks.filter(k => isKept(pfreq(k))) }
    val codes = strings.map { case (id, k) =>
      id -> k.split(" ", -1).map(t => graft.functions.ExprKernels.doubleMetaphone(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toString)
        .filter(c => c.codePointCount(0, c.length) >= 3).toSet
    }.toMap
    val (phonPairs, cfreq) = blockPairs(codes, isKept)
    BlockingRef(prefix, kept,
      pfreq.collect { case (k: Int, n) if n > cfg.maxBlockSize => k }.toSet,
      codes.map { case (id, cs) => id -> cs.filter(c => isKept(cfreq(c))) },
      triPairs, phonPairs)
  }

  /** BlockingStats from a direct aggregate over the reference's
    * prefix-key frequencies. */
  private def referenceStats(strings: Seq[(Long, String)],
      cfg: Pipeline.Config): Pipeline.BlockingStats = {
    val ref = blockingRef(strings, cfg)
    val pfreq = ref.prefix.values.toSeq.flatten.groupBy(identity).map(_._2.size)
    val hot = pfreq.filter(_ > cfg.maxBlockSize)
    Pipeline.BlockingStats(
      totalKeys = pfreq.size,
      keptKeys = pfreq.count(n => n >= 2 && n <= cfg.maxBlockSize),
      hotKeysDropped = hot.size,
      hotVolumeDropped = hot.map(_.toLong).sum,
      candidatePairs = ref.pairs.size)
  }

  /** candidatePairs == the reference pair set, with src < dst and no
    * duplicate (src, dst) row. */
  private def assertBlockingMatchesRef(strings: org.apache.spark.sql.DataFrame,
      cfg: Pipeline.Config, tag: String): BlockingRef = {
    val ref = blockingRef(
      strings.select($"string_id", $"match_key").as[(Long, String)].collect().toSeq, cfg)
    val (pairs, stats) = Pipeline.candidatePairs(strings, cfg)
    val expected = ref.pairs.toSeq.toDF("src", "dst")
    assert(pairs.exceptAll(expected).isEmpty, s"[$tag] pairs the reference does not block")
    assert(expected.exceptAll(pairs).isEmpty, s"[$tag] reference pairs missing")
    assert(pairs.filter($"src" >= $"dst").isEmpty, s"[$tag] src < dst violated")
    assert(pairs.groupBy($"src", $"dst").count().filter($"count" > 1).isEmpty,
      s"[$tag] duplicate (src, dst) rows")
    assert(stats.candidatePairs == ref.pairs.size, s"[$tag] candidatePairs stat")
    pairs.unpersist()
    ref
  }

  test("blocking emits the reference pair set exactly once (seeded corpora)") {
    for ((seed, cap) <- Seq((42L, 256), (7L, 256), (42L, 3))) {
      val cfg = Pipeline.Config(seed = seed, nPages = 400, nEntities = 80,
        maxBlockSize = cap, workDir = freshDir("block_ref"))
      val pages = Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
      val strings = Pipeline.internStrings(Pipeline.extractMentions(pages))._1.cache()
      val ref = assertBlockingMatchesRef(strings, cfg, s"seed $seed cap $cap")
      assert(ref.trigramPairs.nonEmpty && (ref.phoneticPairs -- ref.trigramPairs).nonEmpty,
        s"seed $seed: both families must contribute pairs")
      if (cap == 3) assert(ref.hot.nonEmpty, "the small cap must drop hot prefix keys")
      strings.unpersist()
    }
  }

  test("blocking emits the reference pair set exactly once (hand-built ownership cases)") {
    // "aaa" sits in the prefix of six short strings: over the cap of 4,
    // so it is hot — and it is the smallest key aaaxzb/aaaxzc share,
    // while their kept keys aax/axz must still emit the pair
    val hotShare = Seq((10L, "aaaxzb"), (11L, "aaaxzc"))
    val hotFill = Seq((12L, "aaabq"), (13L, "aaadr"), (14L, "aaafs"), (15L, "aaagt"))
    // several kept trigram keys AND a kept phonetic key in common
    val both = Seq((20L, "berlin hauptstrasse"), (21L, "berlin hauptstrase"))
    // the same Double Metaphone code (FLKR), no shared trigram
    val phonOnly = Seq((30L, "philkor"), (31L, "filcor"))
    val strings = (hotShare ++ hotFill ++ both ++ phonOnly).toDF("string_id", "match_key")
    val cfg = Pipeline.Config(maxBlockSize = 4, workDir = freshDir("block_hand"))
    val ref = assertBlockingMatchesRef(strings, cfg, "hand-built")

    // the corpus covers the four ownership cases it claims to
    def shared(a: Long, b: Long) = ref.kept(a) intersect ref.kept(b)
    def sharedPhon(a: Long, b: Long) = ref.phon(a) intersect ref.phon(b)
    val aaa = graft.text.Ngrams.trigramBlockingKeys("aaa").head
    assert(ref.hot.contains(aaa) && shared(10L, 11L).nonEmpty &&
      shared(10L, 11L).forall(_ > aaa),
      "10/11: smallest shared prefix key hot, another shared key kept")
    assert(shared(20L, 21L).size >= 2 && sharedPhon(20L, 21L).nonEmpty,
      "20/21: several kept trigram keys and a kept phonetic key")
    assert(shared(30L, 31L).isEmpty && sharedPhon(30L, 31L).nonEmpty,
      "30/31: phonetic-only pair")
    assert(Set((10L, 11L), (20L, 21L), (30L, 31L)).subsetOf(ref.pairs))
  }

  test("forestLabels keeps its labels in one table that every run overwrites") {
    assume(graft.ops.TableIO.format == "parquet")
    val dir = freshDir("forest_labels_table")
    val cfg = Pipeline.Config(workDir = dir)
    def chain(n: Long) = ((1L to n).map(Tuple1(_)).toDF("id"),
      (1L until n).map(i => (i, i + 1)).toDF("src", "dst"))
    val (v17, e17) = chain(17)
    Pipeline.forestLabels(v17, e17, cfg)
    val (v3, e3) = chain(3)
    val (labels, _) = Pipeline.forestLabels(v3, e3, cfg)
    val want = Set((1L, 1L), (2L, 1L), (3L, 1L))
    def table = spark.read.parquet(s"$dir/labels")
    assert(table.as[(Long, Long)].collect().toSet == want,
      "the labels table must hold exactly the last run's labels")
    assert(labels.as[(Long, Long)].collect().toSet == want)
    val names = new java.io.File(dir).list().toSet
    assert(!names.exists(_.startsWith("labels_iter_")), names)
    // the part files carry the writing job's id: new names, a new write
    def parts = new java.io.File(s"$dir/labels").list().filter(_.startsWith("part-")).toSet
    val written = parts
    val (resumed, m) = Pipeline.forestLabels(v3, e3, cfg.copy(resume = true))
    assert(m.isEmpty, "the 3-chain's checkpoint is converged")
    assert(parts.nonEmpty && (parts & written).isEmpty, "resume must rewrite the labels table")
    assert(resumed.inputFiles.forall(_.contains(s"$dir/labels/")), resumed.inputFiles.toSeq)
    assert(table.as[(Long, Long)].collect().toSet == want)
    assert(!new java.io.File(dir).list().exists(_.startsWith("labels_iter_")))
  }

  test("forestLabels resume skips incomplete iteration directories") {
    // a 17-vertex chain needs four pointer-doubling rounds; capping at
    // two leaves parents_iter_0/1 complete and throws
    val chainEdges = (1L until 17L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainVerts = (1L to 17L).map(Tuple1(_)).toDF("id")
    // the layout below is the parquet committer's; Iceberg commits
    // atomically and has no partial directories to skip
    assume(graft.ops.TableIO.format == "parquet")
    val cfg = Pipeline.Config()
    val (full, _) = Pipeline.forestLabels(chainVerts, chainEdges,
      cfg.copy(workDir = freshDir("forest_resume_full")))
    val dir = freshDir("forest_resume_part")
    intercept[IllegalStateException] {
      Pipeline.forestLabels(chainVerts, chainEdges, cfg.copy(workDir = dir, maxIterations = 2))
    }
    // a killed round 2: part files (a strict subset of round 1's rows)
    // but no _SUCCESS; a killed round 3: only the committer's _temporary
    assert(new java.io.File(s"$dir/parents_iter_1/_SUCCESS").exists())
    val subset = freshDir("forest_resume_subset")
    spark.read.parquet(s"$dir/parents_iter_1").limit(3).coalesce(1).write.parquet(subset)
    val partial = new java.io.File(s"$dir/parents_iter_2")
    new java.io.File(subset).listFiles().filter(_.getName.startsWith("part-"))
      .foreach(f => org.apache.commons.io.FileUtils.copyFileToDirectory(f, partial))
    assert(partial.list().exists(_.startsWith("part-")) &&
      !new java.io.File(partial, "_SUCCESS").exists())
    new java.io.File(s"$dir/parents_iter_3/_temporary/0").mkdirs()

    val (resumed, metrics) = Pipeline.forestLabels(chainVerts, chainEdges,
      cfg.copy(workDir = dir, resume = true))
    assert(metrics.head.iteration == 2, "resume must continue after the last complete round")
    assert(full.exceptAll(resumed).isEmpty && resumed.exceptAll(full).isEmpty,
      "resumed labels differ from the uninterrupted run")
    assert(resumed.select("label").distinct().count() == 1L)
  }
}
