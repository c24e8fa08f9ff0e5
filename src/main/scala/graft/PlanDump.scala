package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan evidence dump: writes `.explain("formatted")` for every
  * SparkEntry query (plus the ER blocking/scoring stages) to a markdown
  * file, so plan quality — pushed filters, pruned read schemas, broadcast
  * choices, whole-stage-codegen spans — is reviewable without rerunning.
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  *
  * Both paths resolve against the working directory (the repository root
  * under sbt). `sfDir` defaults to `perfbench/data/sf0.001`, which holds
  * five of the sf0.001 tables, so the queries over the other tables print
  * FAILED; pass a full sf0.001 directory to dump every plan. `outFile`
  * defaults to `PLANS.md`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "perfbench/data/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plan evidence (`explain formatted`)\n\n")
    sb.append(s"Input: `$sfDir`. Generated by `graft.PlanDump`; regenerate with\n")
    sb.append("`sbt \"runMain graft.PlanDump <sfDir> PLANS.md\"`.\n")
    sb.append("Checkpoints to review per plan: `PushedFilters`, `ReadSchema` (column\n")
    sb.append("pruning), join strategy (broadcast vs shuffle), `WholeStageCodegen` spans.\n\n")
    sb.append("Known/intentional `BroadcastNestedLoopJoin` sites (everything else is\n")
    sb.append("hash/broadcast-hash): **q26** — the deliberate bounded-build exact\n")
    sb.append("cosine-top-k baseline (20 query rows broadcast; the scale path is q27);\n")
    sb.append("**q27** — the IVF centroid-ASSIGN steps (`vectors × broadcast(k\n")
    sb.append("centroids)`, k ≈ √n): a linear n·k scan per Lloyd/probe pass, the\n")
    sb.append("canonical IVF assign shape — the candidate join itself is a cell-key\n")
    sb.append("equi-join, never all-pairs; **q54** — the corpus-scalar attach\n")
    sb.append("(`crossJoin(broadcast(1-row stats))`: N and Σdl ride every row as a\n")
    sb.append("single broadcast tuple — the canonical scalar-attach, O(1) build side).\n")

    // Interpreted-expression audit: Catalyst HOF lambdas
    // (`lambdafunction(...)` in the plan text) always evaluate
    // INTERPRETED per row — they can hide a q38-class hotspot (the
    // round-4 multi-language area fold cost 13.6 s across three queries
    // before it became the codegen AreaFold kernel). Flag them at
    // plan-generation time so the next one is caught here, not in the
    // driver bench. A lambda is fine when it runs once per small array
    // on an already-reduced frame; it is NOT fine per scored row.
    val lambdaSites = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val n = "lambdafunction".r.findAllIn(plan).size
        if (n > 0) lambdaSites += ((name, n))
        (name, s"\n## $name\n\n```\n$plan```\n")
      } catch {
        case e: Throwable => (name, s"\n## $name\n\nFAILED: ${e.getMessage}\n")
      }
    }
    // Reviewed-site allowlist: a flagged query NOT in this map prints as
    // UNREVIEWED — the audit's whole point is that a NEW interpreted span
    // (the next q38-class cost) screams at plan-generation time instead
    // of surfacing in the driver bench. Adding a query here is a code
    // change a reviewer sees next to the lambda it adjudicates.
    val reviewed = Map(
      "q22_lsh_pairs" -> "per-doc signature zip, reduced frame",
      "q27_ann_ivf" -> "centroid means over k rows per Lloyd pass",
      "q29_quality" -> "stopword filter over one token array per doc",
      "q31_fingerprint" -> "rolling hash over one normalized string per doc",
      "q35_areaset_ops" -> "1-5-element area chains per suggestion row",
      "q39_suggest" -> "post-AreaFold residue on already-reduced per-item arrays",
      "q41_category_match" -> "per-entity tag-rule scan, dim-sized frame",
      "q42_rank_skeleton" -> "post-AreaFold residue, bounded windows",
      "q43_area_disambig" -> "lockstep area-chain advance, per tied pair",
      "q47_url_normalize" -> "per-url param filter, map-side",
      "q50_repetition" -> "5-gram spans over one token array per doc",
      "q51_for_each_name" -> "per-entity tag family explode, dim-sized",
      "q61_curation_pipeline" -> "q29's quality-stage stopword filter, one token array per doc")
    sb.append("\nInterpreted-HOF audit (`lambdafunction` occurrences per plan —\n")
    sb.append("each is a per-row interpreted span; the adjudication rule:\n")
    sb.append("fine once per small array on a reduced frame, NEVER per\n")
    sb.append("candidate/scored row — the pair-path kernels (RefBestPhrase,\n")
    sb.append("AreaFold, PolylineDist2, sift4/banded-lev, minhash/shingles)\n")
    sb.append("are all codegen Expressions):\n")
    if (lambdaSites.isEmpty) sb.append("none.\n")
    else lambdaSites.foreach { case (n, c) =>
      reviewed.get(n) match {
        case Some(why) => sb.append(s"- $n: $c — reviewed: $why\n")
        case None => sb.append(s"- $n: $c — **UNREVIEWED — adjudicate " +
          "before shipping: add to PlanDump.reviewed or fuse into a " +
          "codegen Expression**\n")
      }
    }
    val stale = reviewed.keySet -- lambdaSites.map(_._1).toSet
    if (stale.nonEmpty)
      sb.append(s"\nStale allowlist entries (no longer flagged — prune): " +
        stale.toSeq.sorted.mkString(", ") + "\n")
    plans.foreach { case (_, text) => sb.append(text) }

    // ER pipeline stages (the north_rule core)
    val cfg = er.Pipeline.Config(nPages = 500, nEntities = 100,
      workDir = "/tmp/graft_plandump")
    val pages = er.Corpus.pages(spark, cfg.nPages, cfg.nEntities, cfg.seed).toDF()
    val mentions = er.Pipeline.extractMentions(pages)
    val (strings, _) = er.Pipeline.internStrings(mentions)
    val (pairs, _) = er.Pipeline.candidatePairs(strings, cfg)
    val scored = er.Pipeline.scorePairs(pairs, strings)
    sb.append("\n## er_pipeline: scorePairs (blocking join + codegen scorers)\n\n```\n")
      .append(scored.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      .append("```\n")

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
