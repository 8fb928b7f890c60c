package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, computed from the [[Tracer]]'s spans
  * and counters. Every traced run reports every name in [[names]]; a
  * layer the workload does not reach reports 0.
  */
object Layers {
  val FixpointQueries: Seq[String] =
    Seq("g4_kcore", "g7_bfs_hops", "s12_semantic_dedup")
  val RequestTypes: Seq[String] = Seq("forecast_60", "forecast_15",
    "forecast_1440", "history_60", "history_1440", "hourly_with_daily", "invalid")

  val names: Seq[String] = Seq(
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "weather.build_ms", "weather.collect_ms", "weather.input_mb_per_req") ++
    RequestTypes.map(t => s"weather.${t}_p50_ms") ++ Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "driver.outside_jobs_s", "scheduler.wait_s",
    "executor.run_s", "executor.cpu_s", "executor.cpu_ratio", "jvm.gc_s",
    "jvm.heap_live_mb", "jvm.gc_pause_s", "jvm.jit_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
    "openmeteo.http_requests", "openmeteo.http_mb", "openmeteo.calls",
    "openmeteo.fetch_ratio", "openmeteo.scan_s", "standin.busy_s",
    "io.output_mb", "io.output_rows", "io.bytes_per_row", "weather.rollup_s") ++
    FixpointQueries.flatMap(q => Seq(s"$q.wall_s", s"$q.jobs", s"$q.outside_jobs_s")) ++
    Seq("spark.tasks_failed", "spark.stages_retried", "error_rate") ++
    Tracer.Levels.map(l => s"self.${l}_ms") ++
    Seq("traced.setup_s", "traced.op_ms", "traced.cpu_s_per_op", "traced.alloc_mb_per_op",
      "traced.op_p50_ms", "traced.op_p95_ms", "traced.ops_per_s")

  private val MB = 1024.0 * 1024.0

  /** Layer metrics every workload has, as per-operation means. */
  def common(t: Tracer, ops: Int, failed: Int): Map[String, Double] = {
    val cs = t.counters.asScala.collect { case (op, c) if op >= 0 => c }
    def sum(f: OpCounters => Long): Double = cs.map(f).sum.toDouble
    def per(f: OpCounters => Long): Double = sum(f) / ops
    val spans = t.spans.asScala.toSeq.filter(_.op >= 0)
    val opSpans = spans.filter(_.name == "op")
    val jobsByOp = spans.filter(_.name == "spark.job").groupBy(_.op)
    val outside = opSpans.map { o =>
      (o.end - o.start) - Tracer.covered(
        jobsByOp.getOrElse(o.op, Nil).map(j => (j.start, j.end)), o.start, o.end)
    }.sum
    // Planning is charged to the operation whose span holds its start, so
    // queries planned by the output checks are not. Phase times are
    // wall-clock milliseconds, hence the 1-ms slack; the main loop leaves
    // more than that between an operation's end and its check.
    val phase = t.planning.asScala.toSeq.filter { case (lo, _, _) =>
      opSpans.exists(o => lo >= o.start - 1000000L && lo < o.end + 1000000L) }
    def phaseMs(p: String) = phase.map(_._3.getOrElse(p, 0L)).sum.toDouble / ops
    val self = Tracer.selfTimes(spans)
    val runS = per(_.runMs) / 1e3
    val out = sum(_.output)
    val outRows = sum(_.outputRows)
    val base = Map(
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimizer_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "spark.jobs_per_op" -> per(_.jobs),
      "spark.stages_per_op" -> per(_.stages),
      "spark.tasks_per_op" -> per(_.tasks),
      "driver.outside_jobs_s" -> outside / 1e9 / ops,
      "scheduler.wait_s" -> per(_.schedWaitMs) / 1e3,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> per(_.cpuNs) / 1e9,
      "executor.cpu_ratio" -> (if (runS > 0) per(_.cpuNs) / 1e9 / runS else 0.0),
      "jvm.gc_s" -> per(_.gcMs) / 1e3,
      "shuffle.write_mb" -> per(_.shuffleWrite) / MB,
      "shuffle.read_mb" -> per(_.shuffleRead) / MB,
      "shuffle.fetch_wait_s" -> per(_.fetchWaitMs) / 1e3,
      "spill.mb" -> per(_.spill) / MB,
      "io.output_mb" -> out / ops / MB,
      "io.output_rows" -> outRows / ops,
      "io.bytes_per_row" -> (if (outRows > 0) out / outRows else 0.0),
      "spark.tasks_failed" -> sum(_.tasksFailed),
      "spark.stages_retried" -> sum(_.stagesRetried),
      "error_rate" -> failed.toDouble / ops,
      "weather.input_mb_per_req" -> 0.0) ++
      Tracer.Levels.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0L) / 1e6 / ops)
    names.map(n => n -> 0.0).toMap ++ base
  }

  /** Median wall time (ms) of the spans called `name`, per label. */
  def medianByLabel(t: Tracer, name: String): Map[String, Double] =
    t.spans.asScala.toSeq.filter(s => s.name == name && s.op >= 0).groupBy(_.label)
      .map { case (l, ss) => l -> Stats.median(ss.map(s => (s.end - s.start) / 1e6)) }

  def input(t: Tracer): Double =
    t.counters.asScala.collect { case (op, c) if op >= 0 => c.input }.sum.toDouble / MB

  def writeSpans(t: Tracer, f: File): Unit = {
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try {
      pw.println("name\top\tlabel\tstart_ns\tend_ns")
      t.spans.asScala.toSeq.sortBy(_.start).foreach { s =>
        pw.println(s"${s.name}\t${s.op}\t${s.label}\t${s.start}\t${s.end}")
      }
    } finally pw.close()
  }
}
