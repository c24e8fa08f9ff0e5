package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** Connected components (the union-find / transitive-closure analogue of
  * the reference's duplicate merging, get_suggestions.cc:703-731,
  * generalized per north_rule) on ONE kernel: pointer doubling over a
  * parent map ([[pointerDoubling]]). [[connectedComponents]] feeds it
  * min-neighbor forests level by level for arbitrary edge sets;
  * er.Pipeline.forestLabels feeds it the match forest directly with
  * resumable parquet checkpoints ([[WorkDir]]). Both size their loop
  * by one rule here ([[withLoopWidth]]).
  */
object Components {
  import Tables.load

  /** One pointer-doubling round: the parent pointers it moved and, when
    * stats are collected, the checkpoint's rows and partitions. */
  final case class IterationMetrics(
      iteration: Int, pointersAdvanced: Long, rows: Option[Long], partitions: Option[Int])

  /** Durable checkpoints for [[pointerDoubling]] under `path`: each round
    * writes `parents_iter_k` (a lineage cut, and the resume point after a
    * crash when `resume`), appends per-partition metrics JSONL when
    * `collectStats`, and the loop fails loudly after `maxIterations`
    * rounds. The final labels of a run go to the one table [[labels]],
    * which every run overwrites, written at the rounds' loop width. A
    * fresh run first removes the previous run's `parents_iter_*` and
    * labels table, so a later resume cannot
    * pick up an older run's rounds and a failed run leaves no stale
    * labels behind. The work dir goes through the Hadoop filesystem —
    * java.io.File would silently no-op on hdfs:// and s3a:// paths. */
  private[graft] final case class WorkDir(spark: SparkSession, path: String,
      resume: Boolean, maxIterations: Int, collectStats: Boolean) {
    private val root = new org.apache.hadoop.fs.Path(path)
    private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root): Unit

    def parents(i: Int): String = s"$path/parents_iter_$i"
    def labels: String = WorkDir.labels(path)

    private def rounds: Vector[(Int, org.apache.hadoop.fs.Path)] =
      (try fs.listStatus(root).toVector
       catch { case _: java.io.FileNotFoundException => Vector.empty })
        .flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("parents_iter_"))
            scala.util.Try(n.stripPrefix("parents_iter_").toInt).toOption.map(i => (i, st.getPath))
          else None
        }

    /** The first round to run. On resume: the one after the highest
      * COMPLETE checkpoint — a directory that merely exists is not one (a
      * job killed mid-write leaves a partial task-file subset or only
      * `_temporary`), so completeness is the committer's `_SUCCESS` marker
      * (Iceberg commits atomically: a readable table IS committed).
      * Incomplete leftovers are rewritten by the Overwrite saves. A failed
      * delete of a stale table fails loudly. */
    lazy val start: Int =
      if (resume) {
        def complete(p: org.apache.hadoop.fs.Path): Boolean =
          if (TableIO.format == "iceberg") fs.exists(p)
          else fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
        rounds.collect { case (i, p) if complete(p) => i + 1 }.foldLeft(0)(math.max)
      } else {
        for (p <- rounds.map(_._2) :+ new org.apache.hadoop.fs.Path(labels))
          if (!fs.delete(p, true) && fs.exists(p))
            throw new java.io.IOException(
              s"cannot remove the previous run's table $p")
        0
      }

    /** Writes one round's parent map and returns it re-read. */
    def cut(jumped: DataFrame, iter: Int): DataFrame = {
      TableIO.write(jumped, parents(iter))
      TableIO.read(spark, parents(iter))
    }

    /** A round's metrics; with `collectStats`, also the checkpoint's
      * per-partition rows, appended as JSONL (a scan + collect). */
    def roundMetrics(checked: DataFrame, iter: Int, advanced: Long): IterationMetrics = {
      val perPartition = Option.when(collectStats)(
        checked.groupBy(spark_partition_id().as("partition_id"))
          .agg(count(lit(1)).as("rows")).collect().sortBy(_.getInt(0)))
      perPartition.foreach(pp => Files.writeString(
        Paths.get(s"$path/parent_metrics_iter_$iter.jsonl"),
        pp.map(r => s"""{"iteration":$iter,"partition_id":${r.getInt(0)},""" +
          s""""rows":${r.getLong(1)},"advanced":$advanced}""").mkString("", "\n", "\n")))
      IterationMetrics(iter, advanced,
        perPartition.map(_.map(_.getLong(1)).sum), perPartition.map(_.length))
    }
  }

  private[graft] object WorkDir {
    /** The labels table of the work dir at `path`. */
    def labels(path: String): String = s"$path/labels"
  }

  /** The shuffle width of a pointer-doubling loop over `rows` input rows,
    * from the DATA: a match graph is far below the corpus-sized stages
    * the session width is set for, and every round pays per-task
    * scheduling and checkpoint files at its width (40 s → 16 s at 500k
    * pages going 64 → 16 partitions; 32 near-empty tasks on a 100-row
    * graph cost ~1 s per round). One partition per ~512 rows up to two
    * per core, or ~2M rows each up to the session width. */
  private[graft] def loopWidth(rows: Long, cores: Int, sessionWidth: Int): Int =
    math.max(math.min(2L * cores, rows / 512L + 1L),
      math.min(sessionWidth.toLong, rows / 2000000L + 1L)).toInt

  /** Runs `body` with `spark.sql.shuffle.partitions` set to the
    * [[loopWidth]] of `rows`, and restores the session's width after. */
  private[graft] def withLoopWidth[T](spark: SparkSession, rows: Long)(body: => T): T = {
    def setWidth(w: String): Unit = spark.conf.set("spark.sql.shuffle.partitions", w)
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
    setWidth(loopWidth(rows, spark.sparkContext.defaultParallelism, sessionWidth.toInt).toString)
    try body finally setWidth(sessionWidth)
  }

  /** Pointer doubling to fixpoint: `par0` is a parent map (id, par)
    * holding only NON-ROOT rows of an acyclic forest; each round sets
    * par := par(par), so a depth-d tree resolves in ⌈log₂ d⌉ advancing
    * rounds. Returns (id, par = root of id) with per-round metrics.
    *
    * Convergence: a round that advances nothing, or — after an advancing
    * round — an early-out probe that no parent still has a parent (one
    * cheap job instead of a confirm round). Without a work dir each round
    * is cut with `localCheckpoint`; with one, see [[WorkDir]]. Root-heavy
    * skew (a hub's satellites all carry its key) stays with sort-merge
    * joins so AQE skew-split can divide hot partitions. */
  private[graft] def pointerDoubling(par0: DataFrame, dir: Option[WorkDir])
      : (DataFrame, Vector[IterationMetrics]) = {
    val start = dir.fold(0)(_.start)
    var par = dir.collect { case d if start > 0 =>
      TableIO.read(par0.sparkSession, d.parents(start - 1)) }.getOrElse(par0)
    def settled: Boolean =
      par.join(par.select(col("id").as("par")), Seq("par"), "left_semi").limit(1).isEmpty
    // a resumed checkpoint is probed, not assumed: a resumed-capped run
    // with an unraised maxIterations then fails loudly below
    var converged = start > 0 && settled
    val metrics = Vector.newBuilder[IterationMetrics]
    var iter = start
    while (!converged && dir.forall(iter < _.maxIterations)) {
      // the advanced pointers are counted by an observation that rides
      // the round's cut, whichever cut it is
      val obs = Observation()
      val jumped = par
        .join(par.select(col("id").as("par"), col("par").as("gpar")), Seq("par"), "left")
        .select(col("id"), coalesce(col("gpar"), col("par")).as("par"),
          col("gpar").isNotNull.cast("long").as("advanced"))
        .observe(obs, sum(col("advanced")).as("advanced"))
        .select(col("id"), col("par"))
      par = dir.fold(jumped.localCheckpoint(true))(_.cut(jumped, iter))
      val advanced = obs.get("advanced") match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
      }
      metrics += dir.fold(IterationMetrics(iter, advanced, None, None))(
        _.roundMetrics(par, iter, advanced))
      converged = advanced == 0L || settled
      iter += 1
    }
    // non-root parents would group members under intermediate ancestors:
    // silently split clusters. The checkpoints stay, so a rerun with a
    // higher maxIterations resumes from here.
    for (d <- dir if !converged) throw new IllegalStateException(
      s"pointer doubling not converged after ${d.maxIterations} rounds " +
        s"(workDir=${d.path}; resume with a higher maxIterations)")
    (par, metrics.result())
  }

  /** Connected components of an undirected edge list; label = the min
    * member id, and a vertex without edges labels itself. vertices: (id);
    * edges: (src, dst).
    *
    * Each level points every vertex at its smallest neighbor when that is
    * smaller — an acyclic, strictly decreasing forest whose roots include
    * every component min — and resolves it with [[pointerDoubling]].
    * Edges that cross two trees ("two leaves of one center": {1–3, 2–3}
    * roots both 1 and 2) are contracted into root space and go round
    * again. The larger end of every residual edge gets a parent at the
    * next level, so the root set shrinks strictly and no round cap is
    * needed; verified near-dup graphs (cliques, stars) finish in one level
    * with an empty residual. Only edge-touched vertices enter the loop —
    * on sparse match graphs every shuffle is match-graph-sized, not
    * corpus-sized. ComponentsSpec checks it against a sequential
    * union-find. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .persist() // scoped: released in the finally below, not at harness drain
    // the count sizes the loop and materializes the persisted edges
    val edgeRows = und.count()
    try withLoopWidth(vertices.sparkSession, edgeRows) {
      var residual = und
      var labels = Option.empty[DataFrame] // (id, par): non-root touched vertices
      var more = edgeRows > 0L
      while (more) {
        val (roots, _) = pointerDoubling(residual.groupBy(col("a").as("id"))
          .agg(min(col("b")).as("par")).filter(col("par") < col("id")), None)
        labels = Some(labels.fold(roots)(_
          .join(roots.select(col("id").as("par"), col("par").as("root")), Seq("par"), "left")
          .select(col("id"), coalesce(col("root"), col("par")).as("par"))
          .unionByName(roots)))
        def rootOf(c: String) = roots.select(col("id").as(c), col("par").as(s"r$c"))
        val crossing = residual
          .join(rootOf("a"), Seq("a"), "left").join(rootOf("b"), Seq("b"), "left")
          .select(coalesce(col("ra"), col("a")).as("a"), coalesce(col("rb"), col("b")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
        // probed on its lineage (usually empty), cut only when it loops
        more = !crossing.isEmpty
        if (more) residual = crossing.localCheckpoint(true)
      }
      // the result is built from the kernel's checkpoints only, so it
      // stays valid after the edge frame is released below
      labels.fold(vertices.select(col("id"), col("id").as("label")))(l =>
        vertices.select(col("id"))
          .join(l.withColumnRenamed("par", "touched_label"), Seq("id"), "left")
          .select(col("id"), coalesce(col("touched_label"), col("id")).as("label")))
    } finally und.unpersist()
  }

  /** Incremental cluster maintenance: merge a batch of NEW edges into an
    * existing labeling without re-clustering the full edge history.
    *
    * A component's label is its minimum member id, so a prior labeling is
    * a lossless contraction of the prior edge set: the star
    * {(id, label) | label ≠ id} reproduces exactly the prior components,
    * with depth 1. Clustering (prior star ∪ new edges) therefore yields
    * labels BIT-IDENTICAL to re-clustering (all prior edges ∪ new edges)
    * — but the loop input is one row per previously-clustered vertex
    * instead of the whole edge history, the star resolves in one
    * pointer-doubling round, and only new cross-component bridges reach
    * the residual level (ComponentsSpec proves the bit-equality).
    *
    * This is the micro-batch companion of [[StreamOps.incrementalBlocking]]:
    * ingest streams pairs continuously, and each maintenance window folds
    * the new accepted edges into the persisted labels — the labels table
    * IS the checkpoint.
    *
    * prior: (id, label) with label = min member id (labels from
    * [[connectedComponents]] / er.Pipeline.forestLabels qualify);
    * newEdges: (src, dst). Output: (id, label) covering prior ids ∪ new
    * edge endpoints. */
  def incrementalComponents(prior: DataFrame, newEdges: DataFrame): DataFrame = {
    val star = prior.filter(col("label") =!= col("id"))
      .select(col("id").as("src"), col("label").as("dst"))
    val vertices = prior.select(col("id"))
      .unionByName(newEdges.select(col("src").as("id")))
      .unionByName(newEdges.select(col("dst").as("id")))
      .distinct()
    connectedComponents(vertices, star.unionByName(newEdges.select(col("src"), col("dst"))))
  }

  /** Entity clusters over distinct part names: intern (D2 street-interning
    * analogue) → trigram blocking (A2/A3 filters) → JW ≥ 0.9 edges →
    * connected components; label = min reachable name_id. */
  def q33Components(spark: SparkSession, dir: String): DataFrame = {
    val (interned, edges) = nameGraph(spark, dir)
    connectedComponents(interned.select(col("name_id").as("id")), edges)
      .select(col("id").as("name_id"), col("label"))
  }

  /** The q33 match graph as data: interned part names + JW ≥ 0.9 edges
    * over their trigram blocking ([[TextOps.nameBlockingPairs]]), shared
    * by q33 and the incremental variant q45. */
  private[graft] def nameGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // referenced by the blocking, the name join, AND the vertex set —
    // persisted once instead of recomputing the scan+groupBy per branch;
    // registered with Caches so the harness releases it after the
    // query's sink action (q33 and q45 each build the graph)
    val interned = Caches.persist(TextOps.partNames(spark, dir))
    val kv = interned.select(col("name_id"), col("name"))
    val edges = TextOps.nameBlockingPairs(interned)
      .join(kv.withColumnRenamed("name_id", "src").withColumnRenamed("name", "name_src"), Seq("src"))
      .join(kv.withColumnRenamed("name_id", "dst").withColumnRenamed("name", "name_dst"), Seq("dst"))
      .filter(gf.jaro_winkler(col("name_src"), col("name_dst")) >= 0.9)
      .select(col("src"), col("dst"))
    // the undirected expansion inside connectedComponents references the
    // edge frame twice — persist (harness-released) so blocking+JW runs once
    (interned, Caches.persist(edges))
  }

  /** Incremental maintenance, driver-checked (q45): the SAME match graph
    * as q33 arrives in two ingest windows — edges with even src+dst are
    * the "already clustered" history, odd ones are the maintenance
    * window's new batch. Spark clusters the history, then folds the new
    * batch in with [[incrementalComponents]]; the DuckDB oracle computes
    * components over ALL edges from scratch and never sees the split —
    * a hash match certifies incremental == full re-clustering on real
    * blocking/JW edges (ComponentsSpec proves it on synthetic graphs). */
  def q45IncrementalComponents(spark: SparkSession, dir: String): DataFrame = {
    val (interned, edges) = nameGraph(spark, dir)
    val oldEdges = edges.filter(pmod(col("src") + col("dst"), lit(2)) === 0)
    val newEdges = edges.filter(pmod(col("src") + col("dst"), lit(2)) === 1)
    val prior = connectedComponents(interned.select(col("name_id").as("id")), oldEdges)
    incrementalComponents(prior, newEdges)
      .select(col("id").as("name_id"), col("label"))
  }

  private val componentsSql: String =
      """WITH RECURSIVE interned AS (
        |  SELECT lower(p_name) AS name, CAST(min(p_partkey) AS BIGINT) AS name_id
        |  FROM part GROUP BY 1),
        |g AS (
        |  SELECT DISTINCT t.name_id, substr(t.name, i.i, 3) AS gram
        |  FROM interned t, LATERAL (SELECT unnest(generate_series(1, len(t.name) - 2)) AS i) i
        |  WHERE len(t.name) >= 3 AND substr(t.name, i.i, 3) NOT LIKE '% %'),
        |n AS (SELECT name_id, count(*) AS n FROM g GROUP BY 1),
        |kf AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) BETWEEN 2 AND 256),
        |gk AS (SELECT g.name_id, g.gram FROM g JOIN kf USING (gram)),
        |counted AS (
        |  SELECT a.name_id AS src, b.name_id AS dst, count(*) AS shared
        |  FROM gk a JOIN gk b ON a.gram = b.gram AND a.name_id < b.name_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT src, dst FROM counted
        |  JOIN n n1 ON n1.name_id = src JOIN n n2 ON n2.name_id = dst
        |  WHERE shared >= 2 + floor(least(n1.n, n2.n) / (4 + floor(least(n1.n, n2.n) / 10)))
        |    AND CAST(shared * shared AS DOUBLE) >= 0.17 * n1.n * n2.n),
        |edges AS (
        |  SELECT src, dst FROM cand
        |  JOIN interned sa ON sa.name_id = src JOIN interned sb ON sb.name_id = dst
        |  WHERE jaro_winkler_similarity(sa.name, sb.name) >= 0.9),
        |undirected AS (
        |  SELECT src AS a, dst AS b FROM edges
        |  UNION ALL SELECT dst AS a, src AS b FROM edges),
        |reach(id, lab) AS (
        |  SELECT name_id, name_id FROM interned
        |  UNION
        |  SELECT u.b, r.lab FROM reach r JOIN undirected u ON u.a = r.id)
        |SELECT id AS name_id, CAST(min(lab) AS BIGINT) AS label
        |FROM reach GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q33_components" -> componentsSql,
    // q45's oracle is q33's verbatim: the oracle computes components over
    // the FULL edge set from scratch; only the Spark side splits the
    // edges into history + maintenance window. Identical output = the
    // incremental fold is exact.
    "q45_incremental_components" -> componentsSql
  )
}
