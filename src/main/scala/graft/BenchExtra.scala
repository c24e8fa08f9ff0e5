package graft

import org.apache.spark.sql.SparkSession

/** Extra benchmarks for the optimization rounds (guide §1.4): times each
  * named query with the NOOP sink — `df.write.format("noop")` computes
  * every column of every row and discards it, so the number isolates the
  * computation from the sink and from count()'s column pruning. The
  * driver-contract harness stays `graft.Bench` (frozen); numbers printed
  * here are cited in OPTIMIZATION_r06.md as isolation evidence only.
  *
  * Usage: runMain graft.BenchExtra <sfDir> <reps> [query ...]
  * Special stage probes (names starting with '@'):
  *   @q33graph — materialize the q33/q45 blocking+JW name graph only
  *     (interned count + edge count), isolating graph construction from
  *     the component loop that follows it.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-benchextra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        name match {
          case "@q33graph" =>
            val (interned, edges) = ops.Components.nameGraph(spark, sfDir)
            interned.count(); edges.count()
          case "@erplan" =>
            // pruning audit: does the matchEdges path evaluate columns the
            // accept gate does not need (jw) per candidate pair?
            val cfgP = er.Pipeline.Config(nPages = 500, nEntities = 100,
              workDir = "/tmp/graft_benchextra_erp")
            val pages = er.Corpus.pages(spark, cfgP.nPages, cfgP.nEntities, cfgP.seed).toDF()
            val mentions = er.Pipeline.extractMentions(pages)
            val (strings, _) = er.Pipeline.internStrings(mentions)
            val (pairs, _) = er.Pipeline.candidatePairs(strings, cfgP)
            val plan = er.Pipeline.matchEdges(pairs, strings, cfgP)
              .queryExecution.executedPlan.toString
            println("[erplan] jaro_winkler=" + "jaro_winkler".r.findAllIn(plan).size +
              " zip_with=" + "zip_with".r.findAllIn(plan).size +
              " sift4=" + "sift4".r.findAllIn(plan).size +
              " levenshtein=" + "levenshtein".r.findAllIn(plan).size)
            plan.split("\n").filter(l => l.contains("Filter") || l.contains("Project"))
              .take(12).foreach(l => println("[erplan] " + l.take(400)))
          case "@er" =>
            // the Bench ER probe body (timed part only): lazy-DAG pipeline
            // run; set GRAFT_STAGE_TIMING=1 for the per-stage split
            val cfg = er.Pipeline.Config(
              nPages = sys.env.getOrElse("SPARK_GRAFT_ER_PAGES", "50000").toLong,
              nEntities = 3000, workDir = "/tmp/graft_benchextra_er",
              collectStats = false)
            val o = er.Pipeline.runPipeline(spark, cfg)
            er.Pipeline.release(o)
          case _ =>
            spark.sparkContext.setJobDescription(s"benchextra: $name")
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        ops.Caches.releaseAll()
        dt
      }
      println(f"[noop] $name min=${times.min}%.3f all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
