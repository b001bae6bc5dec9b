package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Turns a run's samples, set-up repetitions and trace into the metrics
  * the benchmark prints. End-to-end metrics come from untraced runs only;
  * per-layer metrics from the traced passes of a traced run. Unless named
  * otherwise, a per-layer metric is the mean per traced op; a metric that
  * does not apply to the workload reads 0. */
object Metrics {
  type Metric = Map[String, Any]

  private def m(value: Double, unit: String): Metric = Map("value" -> value, "unit" -> unit)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile that has at least 10 samples beyond it: the
    * sample with exactly 10 larger ones, and its percentile. Undefined
    * (None) for a run of 10 or fewer ops. */
  def tail(ms: Seq[Double]): Option[(Double, Double)] = {
    val s = ms.sorted
    val n = s.size
    if (n <= 10) None else Some((s(n - 11), 100.0 * (n - 10) / n))
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(0.0)

  /** The geometric mean, over op names (queries, or `cycle`), of each
    * name's median latency: every pinned query weighs the same, however
    * long it runs. With one op name it is the plain median. */
  def p50PerName(samples: Seq[Sample]): Double = {
    val medians = samples.groupBy(_.name).values.map(ss => median(ss.map(_.ms))).toSeq
    math.exp(mean(medians.map(math.log)))
  }

  /** `wallMs`: wall time from the first measured op to the end of the
    * last pass, less the untimed output checks. */
  def endToEnd(samples: Seq[Sample], setups: Seq[SetupRep], wallMs: Double): Map[String, Metric] =
    Map(
      "setup_s" -> m(median(setups.map(_.totalMs)) / 1000, "s"),
      "op_p50_ms" -> m(p50PerName(samples), "ms"),
      "ops_per_s" -> m(samples.count(_.ok) / (wallMs / 1000), "1/s"),
      "peak_rss_mb" -> m(peakRssMb(), "MB"))

  /** Name and unit of every per-layer metric, in print order. */
  val layers: Seq[(String, String)] = Seq(
    "sources.resolve_ms" -> "ms", "sources.scan_relations" -> "count",
    "sources.rest_read_ms" -> "ms", "sources.rest_pages" -> "count",
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "queries.build_share" -> "ratio",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.sink_ms" -> "ms", "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.input_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.tasks_per_stage" -> "ratio",
    "exec.task_wait_ms" -> "ms", "exec.core_busy" -> "ratio",
    "ops.rdds_left" -> "count", "ops.cached_bytes_left" -> "bytes",
    "ops.cached_bytes_peak" -> "bytes",
    "streaming.triggers" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.addbatch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.offset_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.state_rows_max" -> "rows",
    "pipelines.opstojde_ms" -> "ms", "pipelines.cardextoops_ms" -> "ms",
    "pipelines.flattened_rows" -> "rows", "pipelines.dispatched_rows" -> "rows",
    "pipelines.dispatch_yield" -> "ratio",
    "state.bytes_written" -> "bytes", "state.live_bytes" -> "bytes",
    "state.write_amp" -> "ratio", "state.versions_on_disk" -> "count",
    "lake.files_appended" -> "count", "lake.bytes_appended" -> "bytes",
    "lake.read_range_ms" -> "ms", "lake.compact_ms" -> "ms",
    "lake.files_after_compact" -> "count",
    "setup.session_ms" -> "ms", "setup.inputs_ms" -> "ms", "setup.warmup_ms" -> "ms",
    "trace.overhead" -> "ratio")

  def perLayer(ctx: Ctx, samples: Seq[Sample], setups: Seq[SetupRep], trace: Trace,
               probes: Map[String, Seq[Double]]): Map[String, Metric] = {
    val ops = trace.ops.map(_._2).toSeq
    val traced = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    def opMean(f: OpCounters => Double): Double = mean(ops.map(f))
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    // per-op span totals by name
    val spanMs: Map[String, Seq[Double]] = trace.spans.toSeq
      .groupBy(s => (s.name, s.op)).toSeq
      .map { case ((n, _), ss) => n -> ss.map(s => (s.end - s.start) / 1e6).sum }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    def spanMean(n: String): Double = mean(spanMs.getOrElse(n, Seq.empty))
    def spanSum(n: String): Double = spanMs.getOrElse(n, Seq.empty).sum
    def parts(k: String): Seq[Double] = traced.flatMap(_.parts.get(k))
    val streaming = ops.filter(_.triggers > 0)
    def streamMean(f: OpCounters => Double): Double = mean(streaming.map(f))
    val values: Map[String, Double] = Map(
      "sources.resolve_ms" -> median(probes.getOrElse("resolve_ms", Seq.empty)),
      "sources.scan_relations" -> opMean(_.scanRelations),
      "sources.rest_read_ms" -> spanMean("sources.rest_read"),
      "sources.rest_pages" -> mean(parts("rest_pages")),
      "queries.build_ms" -> spanMean("queries.build"),
      "queries.build_jobs" -> opMean(_.buildJobs),
      "queries.build_share" -> ratio(spanSum("queries.build"),
        spanMs.get("queries.build").fold(0.0)(_ => spanSum("op"))),
      "catalyst.analysis_ms" -> opMean(_.analysisMs.toDouble),
      "catalyst.optimization_ms" -> opMean(_.optimizationMs.toDouble),
      "catalyst.planning_ms" -> opMean(_.planningMs.toDouble),
      "exec.sink_ms" -> spanMean("exec.sink"),
      "exec.run_ms" -> opMean(_.runMs.toDouble),
      "exec.cpu_ms" -> opMean(_.cpuNs / 1e6),
      "exec.gc_ms" -> opMean(_.gcMs.toDouble),
      "exec.input_bytes" -> opMean(_.inputBytes.toDouble),
      "exec.shuffle_read_bytes" -> opMean(_.shuffleReadBytes.toDouble),
      "exec.shuffle_write_bytes" -> opMean(_.shuffleWriteBytes.toDouble),
      "exec.spill_bytes" -> opMean(_.spillBytes.toDouble),
      "exec.jobs" -> opMean(_.jobs.toDouble),
      "exec.stages" -> opMean(_.stages.toDouble),
      "exec.tasks" -> opMean(_.tasks.toDouble),
      "exec.tasks_per_stage" -> ratio(ops.map(_.tasks).sum, ops.map(_.stages).sum),
      "exec.task_wait_ms" -> opMean(_.taskWaitMs.toDouble),
      "exec.core_busy" -> ratio(ops.map(_.runMs).sum, traced.map(_.ms).sum * ctx.cores),
      "ops.rdds_left" -> opMean(_.rddsLeft.toDouble),
      "ops.cached_bytes_left" -> opMean(_.cachedBytesLeft.toDouble),
      "ops.cached_bytes_peak" -> opMean(_.cachedBytesPeak.toDouble),
      "streaming.triggers" -> streamMean(_.triggers.toDouble),
      "streaming.trigger_ms_p50" -> median(streaming.flatMap(_.triggerMs.map(_.toDouble))),
      "streaming.addbatch_ms" -> streamMean(_.addBatchMs.toDouble),
      "streaming.query_planning_ms" -> streamMean(_.queryPlanningMs.toDouble),
      "streaming.offset_ms" -> streamMean(_.offsetMs.toDouble),
      "streaming.commit_ms" -> streamMean(_.commitMs.toDouble),
      "streaming.state_rows_max" ->
        (if (streaming.isEmpty) 0.0 else streaming.map(_.stateRowsMax).max.toDouble),
      "pipelines.opstojde_ms" -> spanMean("pipelines.opstojde"),
      "pipelines.cardextoops_ms" -> spanMean("pipelines.cardextoops"),
      "pipelines.flattened_rows" -> mean(parts("flattened")),
      "pipelines.dispatched_rows" -> mean(parts("dispatched")),
      "pipelines.dispatch_yield" -> ratio(parts("dispatched").sum, parts("eligible").sum),
      "state.bytes_written" -> mean(parts("state_bytes_written")),
      "state.live_bytes" -> mean(parts("state_live_bytes")),
      "state.write_amp" -> ratio(parts("state_bytes_written").sum, parts("state_growth").sum),
      "state.versions_on_disk" -> mean(parts("state_versions")),
      "lake.files_appended" -> mean(parts("lake_files_appended")),
      "lake.bytes_appended" -> mean(parts("lake_bytes_appended")),
      "lake.read_range_ms" -> spanMean("lake.read_range"),
      "lake.compact_ms" -> spanMean("lake.compact"),
      "lake.files_after_compact" -> mean(parts("files_after_compact")),
      "setup.session_ms" -> median(setups.map(_.sessionMs)),
      "setup.inputs_ms" -> median(setups.map(_.inputsMs)),
      "setup.warmup_ms" -> median(setups.map(_.warmupMs)),
      "trace.overhead" -> ratio(mean(traced.map(_.ms)), mean(untraced.map(_.ms))))
    layers.map { case (n, unit) => n -> m(values(n), unit) }.toMap
  }

  /** Exact per-op counts of the traced passes, in run order. */
  def perOp(trace: Trace): Seq[Map[String, Any]] = trace.ops.toSeq.map { case (name, c) =>
    Map("query" -> name, "build_jobs" -> c.buildJobs, "rdds_left" -> c.rddsLeft,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "scan_relations" -> c.scanRelations, "cached_bytes_left" -> c.cachedBytesLeft)
  }
}
