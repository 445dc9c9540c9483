package perfbench

import graft.operators.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** One benchmark run: one workload, one seed, one JVM.
  *
  * `--trace 0` sets up twice (median = `setup_s`), then runs the
  * workload's closed loop (one client: the next op starts when the last
  * returned) for `--seconds` and reports the end-to-end metrics; the
  * Spark listener is not attached. `--trace 1` sets up once, attaches
  * the listener and reports the per-layer metrics.
  * Every op's output is checked after the timed window; an op that threw
  * or failed its check is counted in `failed` and its time enters no
  * median. Prints `RESULT <json>` as its last line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, dir: String, t0Ms: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("dir"), m("t0-ms").toLong)
  }

  val SetupReps = 2

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** Ops of one run: each op runs in its own span and records the JVM's
    * CPU seconds over it; its times are kept only if it returned and,
    * after the timed window, passed its check. */
  final class Runner(val tr: Trace) {
    final class Op(val kind: String, val span: tr.Span, val cpuS: Double, var ok: Boolean)
    val ops = mutable.ArrayBuffer.empty[Op]
    var attempted = 0
    def failed: Int = attempted - ops.count(_.ok)

    def op[T](kind: String)(body: => T): Option[(T, Op)] = {
      attempted += 1
      try {
        val c0 = processCpuS
        val (r, s) = tr.span(kind)(body)
        val o = new Op(kind, s, processCpuS - c0, true)
        ops += o
        Some((r, o))
      } catch {
        case e: Throwable =>
          var root = e
          while (root.getCause != null && root.getCause != root) root = root.getCause
          System.err.println(s"op $kind failed: $e\n  root cause: $root")
          None
      }
    }
    def seconds(kind: String): Seq[Double] = ops.filter(o => o.ok && o.kind == kind).map(o => tr.seconds(o.span)).toSeq
    def cpuSeconds(kind: String): Seq[Double] = ops.filter(o => o.ok && o.kind == kind).map(_.cpuS).toSeq
    def peakTaskMemMb: Double = {
      tr.drain()
      ops.map(o => tr.counters(o.span).peakMem).maxOption.getOrElse(0L) / 1048576.0
    }
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A metric as reported: name, value, unit, sample count; `json = false`
    * metrics are printed only; `note` is printed after the sample count. */
  final case class Metric(name: String, value: Double, unit: String, n: Int,
                          json: Boolean = true, note: String = "") {
    def show(): Unit = println(f"metric $name = $value%.6g $unit (n=$n)$note")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val runId = f"${a.workload}-s${a.seed}-${System.currentTimeMillis()}%d"
    val tr = new Trace(spark, runId)
    if (a.trace) tr.attach()
    println(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cpus=${a.cpus} heap_mb=${Runtime.getRuntime.maxMemory >> 20}")
    println(f"start_s=${(System.currentTimeMillis() - a.t0Ms) / 1000.0}%.3f (process start to session ready)")
    val runner = new Runner(tr)
    val (e2e, layers, correct) = a.workload match {
      case "sc_sparse" => MwuRun.run(spark, a, runner,
        Gen.SingleCell(a.seed, nObs = 3000, nFeatures = 250))
      case "continuous_tall" => MwuRun.run(spark, a, runner,
        Gen.Continuous(a.seed, nObs = 100000, nFeatures = 8))
      case "index_crud" => IndexRun.run(spark, a, runner,
        Workloads.Corpus(a.seed, n0 = 300, batch = 30, parts = a.cpus))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    runner.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val xs = os.map(o => f"${runner.tr.seconds(o.span)}%.3f" + (if (o.ok) "" else "(failed)"))
      println(s"samples $k: ${xs.mkString(" ")}")
    }
    val shown = if (a.trace) layers else e2e
    shown.foreach(_.show())
    val tracesDir = java.nio.file.Paths.get(a.dir).getParent.resolve("traces")
    java.nio.file.Files.createDirectories(tracesDir)
    tr.write(tracesDir.resolve(s"$runId.jsonl"))
    val json = shown.filter(_.json).map { m =>
      s""""${m.name}":{"value":${jsonNum(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""RESULT {"correct":$correct,"attempted":${runner.attempted},"failed":${runner.failed},"metrics":$json}""")
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"drop table if exists `${t.name}`"))
    spark.stop()
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** The marker workloads: one op is `rankGeneGroupsFromObs` with top 25
  * per group, every output row evaluated. */
object MwuRun {
  import Main._
  import Workloads._

  def run(spark: SparkSession, a: Args, r: Runner, m: Gen.Matrix): (Seq[Metric], Seq[Metric], Boolean) = {
    println(s"input ${Gen.stats(m)}")
    val cfg = Pipeline.Config()
    val outputs = mutable.ArrayBuffer.empty[(Seq[Reference.Marker], r.Op)]
    val frames = mutable.ArrayBuffer.empty[(r.Op, DataFrame)]
    def one(kind: String, in: MwuInputs): Option[Double] =
      r.op(kind)(markersRun(spark, in, cfg)).map { case ((rows, df), o) =>
        outputs += ((rows, o)); frames += ((o, df)); r.tr.seconds(o.span)
      }
    // one set-up: write the inputs to a fresh directory, then the first
    // marker query over them (the time to a first answer); its output is
    // checked with the timed ones. The first set-up also pays class
    // loading, code generation and most JIT compilation, the second is
    // warm; the set-ups are the timed loop's warm-up
    val reps = if (a.trace) 1 else SetupReps
    val setups = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      val (c, o) = Gen.writeMatrix(spark, m, s"${a.dir}/input$rep", a.cpus)
      val in = MwuInputs(m, c, o)
      val first = r.op("setup")(markers(spark, in, cfg)).map { x => outputs += x; x._2 }
      (in, (System.nanoTime() - t0) / 1e9, first)
    }
    val in = setups.last._1

    val layers = mutable.ArrayBuffer.empty[Metric]
    if (!a.trace) {
      val end = System.nanoTime() + (a.seconds * 1e9).toLong
      while (System.nanoTime() < end) one("markers", in)
    } else {
      // the set-up's query was the warm-up; the whole-op counters are
      // those of the traced query of the A/B
      val (untraced, traced) = r.tr.aba(one("markers", in))
      val opCounters = frames.filter(_._1.span.traced).lastOption.toSeq.flatMap { case (o, df) =>
        Workloads.opCounters(r.tr)(o.span, df)
      }
      val (ls, layerSum) = mwuLayers(spark, r.tr, in, s"${a.dir}/layers")
      layers ++= metrics(ls ++ opCounters, "")
      layers += Metric("trace.overhead", mean(traced) / mean(untraced), "1", math.min(traced.size, untraced.size))
      layers += Metric("trace.coverage", layerSum / mean(untraced), "1", untraced.size)
      layers += Metric("peak_task_mem_mb", r.peakTaskMemMb, "MB", r.ops.size)
      layers ++= IndexRun.sideLayers(spark, a, r)
    }

    // ---- check every op's output against the independent reference
    val tc = System.nanoTime()
    val ref = Reference.markers(m, TopN)
    outputs.foreach { case (rows, o) =>
      val d = Reference.diff(rows, ref)
      if (d.nonEmpty) {
        o.ok = false
        System.err.println(s"check failed for ${o.kind} (${d.size} rows):")
        d.take(10).foreach(x => System.err.println("  " + x))
      }
    }
    println(f"check: ${outputs.size} outputs vs reference (${ref.size} rows) in ${(System.nanoTime() - tc) / 1e9}%.2f s")

    // a set-up whose query threw or failed its check enters no median
    val setupS = setups.collect { case (_, s, Some(o)) if o.ok => s }
    val markersS = r.seconds("markers")
    val cpuS = r.cpuSeconds("markers")
    val e2e = Seq(
      Metric("op_s", median(markersS), "s", markersS.size),
      Metric("op_cpu_s", median(cpuS), "s", cpuS.size),
      Metric("setup_s", median(setupS), "s", setupS.size))
    if (!a.trace) Seq(
      Metric("markers_s", median(markersS), "s", markersS.size),
      Metric("cells_per_s", m.nCells / median(markersS), "cells/s", markersS.size),
      Metric("fail_ratio", r.failed.toDouble / math.max(1, r.attempted), "1", r.attempted)
    ).foreach(_.show())
    (e2e, layers.toSeq, r.failed == 0)
  }

  /** Single-sample layer metrics; `op.gc_s` (whole milliseconds, mostly
    * 0) is printed but kept out of the JSON. */
  def metrics(ms: Seq[(String, Double, String)], note: String): Seq[Metric] =
    ms.map { case (n, v, u) => Metric(n, v, u, 1, json = n != "op.gc_s", note = note) }

  /** Marker layer metrics from a small side matrix, for the traced run
    * of the index workload (so every traced run reports every layer). */
  def sideLayers(spark: SparkSession, a: Args, tr: Trace): Seq[Metric] = {
    val m = Gen.SingleCell(a.seed, nObs = 1000, nFeatures = 100)
    val (c, o) = Gen.writeMatrix(spark, m, s"${a.dir}/side_mwu", a.cpus)
    val in = MwuInputs(m, c, o)
    metrics(mwuLayers(spark, tr, in, s"${a.dir}/side_layers")._1 ++
      mwuOpCounters(spark, tr, in, Pipeline.Config()), " [side matrix]")
  }
}
