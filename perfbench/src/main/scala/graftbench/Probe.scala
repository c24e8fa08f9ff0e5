package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Spark work attributed to one span: task metrics of the stages its job
  * group ran, plus the Catalyst planning phases of the actions it issued. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var actions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  /** Max task time over median task time (median floored at 1 ms). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }

  def fields: ListMap[String, Any] = ListMap(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "busy_ms" -> busyMs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords, "spill_bytes" -> spillBytes,
    "task_skew" -> taskSkew, "actions" -> actions, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs)
}

/** `compiles` and `compileMs`: whole-JVM count and time of generated-code
  * compiles (Spark's codegen metrics) while the span ran. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, work: Work, compiles: Long, compileMs: Double, notes: Seq[(String, Any)]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Everything the benchmark observes from outside the program.
  *
  * Always on: persisted-block accounting (for the persisted-memory metric
  * and the persisted-frame count) and the codegen-failure log counter.
  * With `traced`: spans, each bound to its own Spark job group, carrying
  * task metrics from the listener and planning phases from the query
  * execution listener. Spans stay in memory and are written once at the
  * end of the run. */
final class Probe(val traced: Boolean) extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groupWork = mutable.Map.empty[String, Work]
  private val blockBytes = mutable.Map.empty[Int, mutable.Map[String, Long]]
  private var persistedBytes = 0L
  private var peakBytes = 0L
  @volatile private var currentGroup: String = null
  private var sc: SparkContext = null
  private var nextSpan = 0
  private val openSpans = mutable.Stack.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  val codegen = new CodegenLog

  /** Registers the probe on a (new) session; called once per session. */
  def attach(spark: SparkSession): Unit = {
    codegen.install()
    sc = spark.sparkContext
    sc.addSparkListener(this)
    if (traced) spark.listenerManager.register(this)
    lock.synchronized { blockBytes.clear(); persistedBytes = 0L; peakBytes = 0L }
  }

  def drain(): Unit = BenchBus.drain(sc)

  /** Bytes of persisted RDD blocks (memory plus disk) right now. */
  def persisted: Long = { drain(); lock.synchronized(persistedBytes) }

  /** Runs `body` and returns its result with the peak of persisted bytes
    * (memory plus disk, all frames) reached while it ran. */
  def persistPeak[T](body: => T): (T, Long) = {
    drain()
    lock.synchronized { peakBytes = persistedBytes }
    val r = body
    drain()
    (r, lock.synchronized(peakBytes))
  }

  /** A traced span: its Spark jobs run in a job group of their own. When
    * the probe is not traced the body runs bare. */
  def span[T](name: String, notes: => Seq[(String, Any)] = Nil)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = openSpans.headOption.getOrElse(-1)
      val group = s"bench-span-$id"
      val prevGroup = currentGroup
      val work = lock.synchronized(groupWork.getOrElseUpdate(group, new Work))
      openSpans.push(id)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      currentGroup = group
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try {
        val r = body
        val t1 = System.nanoTime()
        drain()
        spans += Span(id, name, parent, t0, t1, work,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          (CodeGenerator.compileTime - ct0) / 1e6, notes)
        r
      } finally {
        openSpans.pop()
        currentGroup = prevGroup
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      }
    }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (traced) {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) lock.synchronized(stageGroup(e.stageInfo.stageId) = g)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) lock.synchronized(groupWork.get(g).foreach(_.jobs += 1))
  }

  private def workOfStage(stageId: Int): Option[Work] =
    stageGroup.get(stageId).flatMap(groupWork.get)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced)
    lock.synchronized(workOfStage(e.stageInfo.stageId).foreach(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) lock.synchronized {
    workOfStage(e.stageId).foreach { w =>
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.busyMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id => lock.synchronized {
      val blocks = blockBytes.getOrElseUpdate(id.rddId, mutable.Map.empty)
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      persistedBytes += now - blocks.getOrElse(id.name, 0L)
      if (now > 0) blocks(id.name) = now else blocks.remove(id.name)
      peakBytes = math.max(peakBytes, persistedBytes)
    }}
  }

  // Unpersisting an RDD drops its blocks without a block update per block.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = lock.synchronized {
    blockBytes.remove(e.rddId).foreach(blocks => persistedBytes -= blocks.values.sum)
  }

  private def plan(qe: QueryExecution): Unit = {
    val g = currentGroup
    if (g != null) lock.synchronized(groupWork.get(g).foreach { w =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      w.actions += 1
      w.analysisMs += ms("analysis")
      w.optimizationMs += ms("optimization")
      w.planningMs += ms("planning")
    })
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  /** The trace written at the end of a traced run: `extra` and every span. */
  def trace(extra: ListMap[String, Any]): ListMap[String, Any] = extra + ("spans" ->
    spans.map { s =>
      ListMap[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_s" -> s.wallS,
        "codegen_compiles" -> s.compiles, "codegen_compile_ms" -> s.compileMs,
        "work" -> s.work.fields) ++ s.notes
    }.toSeq)
}

/** Counts failed code generation from Spark's own log lines, matched
  * without regard to case:
  * - CodeGenerator logs "Failed to compile the generated Java code" for
  *   each generated class that does not compile;
  * - WholeStageCodegenExec logs "Whole-stage codegen disabled for plan"
  *   when it falls back to the interpreted plan after such a failure;
  * - a CodeGeneratorWithInterpretedFallback (projections, predicates,
  *   orderings) logs "Expr codegen error and falling back to interpreter
  *   mode" when it falls back to an interpreted expression.
  * The appender listens on the root logger, so the fallback messages are
  * counted whichever subclass logs them. */
final class CodegenLog extends AbstractAppender("graftbench-codegen", null, null,
    true, Property.EMPTY_ARRAY) {
  @volatile var compileFailures = 0L
  @volatile var wholeStageDisabled = 0L
  @volatile var interpretedFallbacks = 0L

  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage.toLowerCase).getOrElse("")
    if (msg.startsWith("failed to compile")) compileFailures += 1
    else if (msg.startsWith("whole-stage codegen disabled")) wholeStageDisabled += 1
    else if (msg.startsWith("expr codegen error and falling back")) interpretedFallbacks += 1
  }

  /** Failed code generations: every failed compile is followed by one
    * fallback message when Spark falls back, so the larger of the two
    * counts is taken and no failure counts twice. */
  def fallbacks: Long = math.max(compileFailures, wholeStageDisabled + interpretedFallbacks)

  def summary: String = s"compile failures $compileFailures, whole-stage fallbacks " +
    s"$wholeStageDisabled, expression fallbacks $interpretedFallbacks"

  /** Adds the appender to the root logger of the current log4j
    * configuration. Spark may replace the configuration when its first
    * session starts, so this is called after each session start; it does
    * nothing when the appender is already there. */
  def install(): Unit = {
    if (!isStarted) start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    if (!root.getAppenders.containsKey(getName)) {
      root.addAppender(this, Level.WARN, null)
      ctx.updateLoggers()
    }
  }
}
