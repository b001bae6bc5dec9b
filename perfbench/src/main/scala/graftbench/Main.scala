package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Try

/** One measured op. `slot` is its place in the workload's fixed layout
  * (query index, or cycle of the day), the same in every pass. `run`
  * returns the op's named parts (sub-timings in ms and counters), kept
  * with its sample; `check` runs untimed after it and returns an error
  * when an output is wrong. */
final case class Op(
    name: String,
    slot: Int,
    run: () => Map[String, Double],
    check: () => Option[String] = () => None)

/** One op as it ran, in run order. */
final case class Sample(
    pass: Int, pos: Int, name: String, ms: Double, ok: Boolean, error: String,
    seed: Long, load1: Double, traced: Boolean, parts: Map[String, Double])

/** One set-up repetition: new session, inputs, untimed warm-up pass. */
final case class SetupRep(totalMs: Double, sessionMs: Double, inputsMs: Double, warmupMs: Double)

/** What a workload shares with the runner. */
final class Ctx(val seed: Long, val dataDir: String, val workDir: String,
                val inject: String, val cores: Int) {
  var spark: SparkSession = _
  /** Set while a traced op runs. */
  var trace: Option[Trace] = None
  def span[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def phase(p: String): Unit = trace.foreach(_.setPhase(p))
  /** Errors found by the checks of warm-up passes. */
  val warmupErrors = mutable.ArrayBuffer.empty[String]
}

trait Workload {
  /** Drop what an earlier set-up repetition left on disk. */
  def reset(ctx: Ctx): Unit = ()
  /** Make this repetition's inputs in the current session. */
  def prepare(ctx: Ctx): Unit
  /** The untimed warm-up. `check` is set once per run, on the first
    * repetition: that pass also checks every output. */
  def warmup(ctx: Ctx, check: Boolean): Unit
  /** The ops of measured pass `p`, in run order. Untimed. */
  def pass(ctx: Ctx, p: Int): Seq[Op]
  /** Warm-up passes run after the set-ups, untimed and outside set-up
    * time, before the first measured op. */
  def settlePasses: Int = 1
  /** Untimed probes made before each pass of a traced run (e.g. table
    * resolution). */
  def probe(ctx: Ctx): Map[String, Seq[Double]] = Map.empty
  /** Facts for the result file. */
  def report: Map[String, Any] = Map.empty
}

/** The benchmark's JVM: runs one workload for one seed and writes the
  * result file that perfbench/run.py turns into the benchmark's output.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --work DIR --out FILE [--inject drop-row|replay]
  *   or: --dump-oracle FILE (oracle SQL of every catalog query)
  *   or: --train 1 --data DIR --work DIR (one warm-up of each workload). */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("dump-oracle") match {
      case Some(path) => write(path, CatalogWorkload.oracleSql); return
      case None => ()
    }
    if (opts.contains("train")) { train(opts); return }
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val ctx = new Ctx(seed, opts("data"), opts("work"), opts.getOrElse("inject", ""),
      Runtime.getRuntime.availableProcessors())
    val workload: Workload = name match {
      case "catalog" => new CatalogWorkload
      case "dispatch" => new DispatchWorkload
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (0 until SetupReps).map { r =>
      val t0 =
        if (r == 0) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
        else System.nanoTime()
      if (ctx.spark != null) ctx.spark.stop()
      workload.reset(ctx)
      ctx.spark = session(ctx)
      val t1 = System.nanoTime()
      workload.prepare(ctx)
      val t2 = System.nanoTime()
      workload.warmup(ctx, check = r == 0)
      val t3 = System.nanoTime()
      SetupRep((t3 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
    }

    // More untimed warm-up in the session the run measures, outside set-up
    // time: the JVM keeps compiling Spark's planning and scheduling code
    // for several passes, and that drift would otherwise show in the
    // first measured ops.
    val settle0 = System.nanoTime()
    (0 until workload.settlePasses).foreach(_ => workload.warmup(ctx, check = false))
    val settleMs = (System.nanoTime() - settle0) / 1e6

    val trace = if (traced) Some(new Trace(ctx.spark)) else None
    val probes = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Seq.empty)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var checkNs = 0L
    var p = 0
    // Whole passes until the time is up, so every run measures each slot
    // of a pass equally often. A traced run measures at least two passes
    // and traces an op when its slot plus the pass number is even, so
    // every slot runs once traced and once untraced in two passes, and the
    // tracing overhead is not confused with warm-up drift.
    while (p == 0 || System.nanoTime() < deadline || (traced && p < 2)) {
      if (traced) workload.probe(ctx).foreach { case (k, v) => probes(k) = probes(k) ++ v }
      workload.pass(ctx, p).zipWithIndex.foreach { case (op, pos) =>
        val tracedOp = traced && (op.slot + p) % 2 == 0
        trace.foreach { t => if (tracedOp) { t.attach(); t.beginOp(op.name) } else t.detach() }
        ctx.trace = if (tracedOp) trace else None
        val load1 = loadAvg()
        val t0 = System.nanoTime()
        val res = Try(ctx.span("op")(op.run()))
        val ms = (System.nanoTime() - t0) / 1e6
        if (tracedOp) trace.foreach(_.endOp())
        ctx.trace = None
        val c0 = System.nanoTime()
        val error = res.failed.toOption.map(describe)
          .orElse(Try(op.check()).fold(e => Some(describe(e)), identity))
        checkNs += System.nanoTime() - c0
        samples += Sample(p, pos, op.name, ms, error.isEmpty, error.getOrElse(""),
          seed, load1, tracedOp, res.getOrElse(Map.empty))
      }
      p += 1
    }
    val wallMs = (System.nanoTime() - start - checkNs) / 1e6
    trace.foreach(_.detach())

    val perQuery = samples.groupBy(_.name).map { case (q, ss) =>
      q -> Map("ops" -> ss.size, "failed" -> ss.count(!_.ok)) }
    val metrics =
      if (traced) Metrics.perLayer(ctx, samples.toSeq, setups, trace.get, probes.toMap)
      else Metrics.endToEnd(samples.toSeq, setups, wallMs)
    write(opts("out"), Map(
      "workload" -> name,
      "seed" -> seed,
      "trace" -> traced,
      "cores" -> ctx.cores,
      "attempted" -> samples.size,
      "failed" -> samples.count(!_.ok),
      "per_query" -> perQuery,
      "warmup_errors" -> ctx.warmupErrors.toSeq,
      "metrics" -> metrics,
      "op_tail" -> Metrics.tail(samples.map(_.ms).toSeq)
        .map { case (v, pct) => Map("value_ms" -> v, "percentile" -> pct) },
      "setups" -> setups,
      "settle_ms" -> settleMs,
      "samples" -> samples.toSeq,
      "per_op" -> trace.map(Metrics.perOp).getOrElse(Seq.empty),
      "self_ms" -> trace.map(_.selfTimesMs).getOrElse(Map.empty),
      "spans" -> trace.map(_.spans.toSeq).getOrElse(Seq.empty),
      "workload_report" -> workload.report))
    ctx.spark.stop()
  }

  /** Load the classes the workloads use: one warm-up of each, unmeasured.
    * perfbench/run.py runs this once per build to write the JVM's
    * class-data-sharing archive. */
  def train(opts: Map[String, String]): Unit = {
    val ctx = new Ctx(0L, opts("data"), opts("work"), "", Runtime.getRuntime.availableProcessors())
    ctx.spark = session(ctx)
    Seq(new CatalogWorkload, new DispatchWorkload).foreach { w =>
      w.reset(ctx); w.prepare(ctx); w.warmup(ctx, check = false)
    }
    ctx.spark.stop()
  }

  def session(ctx: Ctx): SparkSession = {
    val tmp = new File(ctx.workDir, "spark-local")
    tmp.mkdirs()
    val s = graft.GraftSession.builder(s"local[${ctx.cores}]", math.max(ctx.cores, 4))
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(ctx.workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  /** The 1-minute load average, recorded beside each sample. */
  def loadAvg(): Double =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  def write(path: String, value: Any): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(path), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(value))
    ()
  }
}
