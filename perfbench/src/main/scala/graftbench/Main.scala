package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `error` is set when the operation
  * threw or its output failed a check; such an operation counts as failed
  * and is left out of every timing. */
final class Op(val ms: Double, val persistBytes: Long, var error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** A benchmark workload. The harness owns sessions, timing and failure
  * accounting; a workload only calls into the program. */
trait Workload {
  /** Builds the inputs in a fresh session and warms it up. */
  def setup(spark: SparkSession): Unit
  /** Untimed work between operations (for example releasing the previous
    * operation's persisted output). */
  def between(spark: SparkSession): Unit = ()
  /** One timed operation. Throws when the program fails. */
  def op(spark: SparkSession, i: Int): Unit
  /** The same operation with a span around each layer call. */
  def tracedOp(spark: SparkSession, probe: Probe, i: Int): Unit
  /** Untimed output checks; marks the operations whose output is wrong. */
  def check(spark: SparkSession, ops: Seq[Op]): Unit
  /** Human-readable end-to-end figures under the names the docs use. */
  def report(ops: Seq[Op]): Seq[(String, Double, String)]
  /** Per-layer metrics of the traced operations. */
  def layers(spark: SparkSession, probe: Probe): Seq[(String, Double)]
  /** Seeded single-string and string-pair samples for the kernel probes. */
  def kernelSample(spark: SparkSession): (Array[String], Array[(String, String)])
  /** Notes written into the trace (gaps in what can be traced). */
  def gaps: Seq[String] = Nil
  /** Whether this workload's traced run also sweeps the `graft.ops`
    * queries (see [[OpsSweep]]). */
  def sweepsOps: Boolean = false
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: String, opsData: String)

  val SetupRounds = 3
  /** Operations a traced run measures at the least: one untraced and one
    * traced. An untraced run measures at least one. */
  val MinTracedOps = 2

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** A metric value for JSON: a non-finite double becomes null. */
  def num(v: Double): Any = if (v.isNaN || v.isInfinite) null else v

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val trace = m.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, trace,
      m.getOrElse("work-dir", ".bench_build/work"), m.getOrElse("ops-data", "perfbench/data"))
  }

  def session(workDir: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak persisted MiB over the operations that succeeded. */
  def peakMiB(ops: Seq[Op]): Double =
    ops.filter(_.ok).map(_.persistBytes / 1048576.0).maxOption.getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Runs operations for `seconds`: at least `minOps`, and another only
    * while it can be expected to end in time (the last one's wall time
    * fits in what is left), so the number of operations does not hinge on
    * whether the window closes just before or just after one ends. */
  def loop(spark: SparkSession, probe: Probe, w: Workload, seconds: Double, first: Int,
      minOps: Int)(op: Int => Unit): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size < minOps || System.nanoTime() + (ops.last.ms * 1e6).toLong <= end) {
      w.between(spark)
      var error: Option[String] = None
      var ms = 0.0
      val ((), peak) = probe.persistPeak {
        val t0 = System.nanoTime()
        try op(first + ops.size)
        catch { case NonFatal(e) => error = Some(e.toString) }
        ms = (System.nanoTime() - t0) / 1e6
      }
      ops += new Op(ms, peak, error)
      System.err.println(f"[perfbench] operation ${first + ops.size - 1} $ms%.1f ms, " +
        f"persist peak ${peak / 1048576.0}%.1f MiB${error.fold("")(e => s", failed: $e")}")
    }
    ops.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload: Workload = args.workload match {
      case "er_batch" => new ErBatch(args)
      case "suggest_lookup" => new SuggestLookup(args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val probe = new Probe(args.trace)

    // Set-up is repeated and its median reported, so work moved into
    // set-up shows; every round starts a new session on the same JVM.
    var spark: SparkSession = null
    val setupS = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(args.workDir)
      probe.attach(spark)
      workload.setup(spark)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up round $s%.2f s, persisted ${probe.persisted / 1048576.0}%.1f MiB")
      s
    }

    // A traced run alternates untraced and traced operations, so both
    // see the same mix of inputs (suggest_lookup's prefixes grow through
    // the window) and the overhead compares like with like.
    val run = loop(spark, probe, workload, args.seconds, 0, if (args.trace) MinTracedOps else 1) { i =>
      if (args.trace && i % 2 == 1) probe.span("op")(workload.tracedOp(spark, probe, i))
      else workload.op(spark, i)
    }
    val (traced, ops) =
      if (args.trace) run.zipWithIndex.partition(_._2 % 2 == 1) match {
        case (t, u) => (t.map(_._1), u.map(_._1))
      }
      else (Nil, run)
    val persistedFrames = spark.sparkContext.getPersistentRDDs.size
    // The graft.ops queries run after the workload's own operations, in
    // the traced run of the workload that sweeps them; they count as
    // operations but never enter an end-to-end timing.
    val sweep =
      if (args.trace && workload.sweepsOps) OpsSweep.run(spark, probe,
        s"${args.opsData}/sf0.001", s"${args.opsData}/ops_expected.json", args.seed)
      else Nil
    val all = run ++ sweep
    val tc = System.nanoTime()
    try workload.check(spark, all)
    catch { case NonFatal(e) => all.foreach(o => if (o.ok) o.error = Some(s"check: $e")) }
    System.err.println(f"[perfbench] output checks ${(System.nanoTime() - tc) / 1e9}%.2f s")
    val failed = all.count(!_.ok)
    System.err.println(s"[perfbench] codegen ${probe.codegen.summary}")
    all.filterNot(_.ok).foreach(o => System.err.println(s"[perfbench] failed: ${o.error.get}"))

    val okMs = ops.filter(_.ok).map(_.ms)
    for ((name, v, unit) <- Seq(("setup_s", median(setupS), "s"),
        ("failed_frac", failed.toDouble / all.size, "1"),
        ("persist_peak_mb", peakMiB(ops), "MiB")) ++ workload.report(ops))
      println(s"metric $name ${json.writeValueAsString(num(v))} $unit")

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("latency_ms", median(okMs), "ms"),
        ("setup_s", median(setupS), "s"),
        ("persist_peak_mb", peakMiB(ops), "MiB"))
      else {
        // A traced operation's wall time, less the harness's own sampling
        // spans (named bench.*) inside it.
        val tracedMs = probe.spansNamed("op").map(op => op.wallS - probe.spans
          .filter(s => s.parent == op.id && s.name.startsWith("bench.")).map(_.wallS).sum)
          .map(_ * 1e3)
        val common = Seq(
          "trace_overhead_frac" -> (median(tracedMs) / median(okMs) - 1.0),
          "persisted_frames" -> persistedFrames.toDouble,
          "fn.codegen_fallbacks" -> probe.codegen.fallbacks.toDouble) ++
          planLayers(probe, traced.size) ++ OpsSweep.layers(probe)
        val layerMetrics = workload.layers(spark, probe)
        val (singles, pairs) = workload.kernelSample(spark)
        val kernels = Kernels.text(singles, pairs) ++ Kernels.fn(spark, pairs)
        val got = (common ++ layerMetrics ++ kernels).toMap
        Layers.names.map(n => (n, got.getOrElse(n, 0.0), Layers.unit(n)))
      }

    if (args.trace) {
      val path = java.nio.file.Paths.get(args.workDir, s"trace-${args.workload}-${args.seed}.json")
      json.writeValue(path.toFile, probe.trace(ListMap(
        "workload" -> args.workload, "seed" -> args.seed,
        "codegen_compile_failures" -> probe.codegen.compileFailures,
        "wholestage_codegen_disabled" -> probe.codegen.wholeStageDisabled,
        "expression_interpreted_fallbacks" -> probe.codegen.interpretedFallbacks,
        "gaps" -> workload.gaps)))
      workload.gaps.foreach(g => println(s"gap $g"))
      println(s"trace $path")
    }
    spark.stop()

    println(json.writeValueAsString(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) =>
        n -> ListMap("value" -> num(v), "unit" -> u)
      }: _*))))
  }

  /** Catalyst planning per traced operation, from the planning tracker of
    * every action the traced operations issued, and the generated-code
    * compiles per traced operation. The harness's own sampling (`bench.*`)
    * and the ops sweep (`ops.*`) are left out. */
  def planLayers(probe: Probe, tracedOps: Int): Seq[(String, Double)] = {
    val ws = probe.spans.filterNot(s => s.name.startsWith("bench.") || s.name.startsWith("ops."))
      .map(_.work)
    val ops = probe.spansNamed("op")
    val n = math.max(1, tracedOps).toDouble
    Seq(
      "plan.codegen_compiles" -> ops.map(_.compiles).sum / n,
      "plan.codegen_compile_ms" -> ops.map(_.compileMs).sum / n,
      "plan.analysis_ms" -> ws.map(_.analysisMs).sum / n,
      "plan.optimization_ms" -> ws.map(_.optimizationMs).sum / n,
      "plan.planning_ms" -> ws.map(_.planningMs).sum / n,
      "plan.actions" -> ws.map(_.actions).sum / n)
  }
}
