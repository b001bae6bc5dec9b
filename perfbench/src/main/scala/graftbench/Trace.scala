package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval of the traced run. `parent` is the enclosing span's
  * index in [[Trace.spans]] (-1 for an op's root span). */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

/** Counters the listeners attribute to one op. Every field is a total over
  * the op; the per-layer metrics are means over ops. */
final class OpCounters {
  var buildJobs = 0
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskWaitMs = 0L
  var scanRelations = 0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var cachedBytesPeak = 0L
  var triggers = 0
  val triggerMs = mutable.ArrayBuffer.empty[Long]
  var addBatchMs = 0L
  var queryPlanningMs = 0L
  var offsetMs = 0L
  var commitMs = 0L
  var stateRowsMax = 0L
  var rddsLeft = 0
  var cachedBytesLeft = 0L
}

/** Listener-based tracing for one session. The client thread marks which
  * op and which phase ("build" or "sink") is running through Spark local
  * properties, which jobs started from that thread — and from the
  * streaming threads it spawns — inherit. Listener events arrive on
  * Spark's bus thread; [[endOp]] drains the bus so every event of an op is
  * counted before the next op begins.
  *
  * Spans are kept in memory and written out at the end of the run. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[(String, OpCounters)]
  private val stack = mutable.Stack.empty[Int]
  @volatile private var current: OpCounters = new OpCounters
  private var currentOp = -1
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var rddBytes = 0L
  private var rddBytesAtStart = 0L
  private var persistentAtStart = Set.empty[Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      current.jobs += 1
      if (Option(e.properties).exists(_.getProperty(Trace.PhaseKey) == "build"))
        current.buildJobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      current.stages += 1
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val c = current
      c.tasks += 1
      stageSubmit.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        rddBytes += size - rddBlocks.getOrElse(info.blockId.name, 0L)
        if (size == 0) rddBlocks.remove(info.blockId.name)
        else rddBlocks(info.blockId.name) = size
        current.cachedBytesPeak = math.max(current.cachedBytesPeak, rddBytes - rddBytesAtStart)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val c = current
      c.scanRelations += Trace.scans(qe)
      // Events arrive in posting order and the sink is an op's last query,
      // so the planning phases kept at the end of the op are the sink's.
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      c.analysisMs = ms("analysis")
      c.optimizationMs = ms("optimization")
      c.planningMs = ms("planning")
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val c = current
      val d = Option(p.durationMs).map(m => (k: String) =>
        Option(m.get(k)).map(_.longValue).getOrElse(0L)).getOrElse((_: String) => 0L)
      c.triggers += 1
      c.triggerMs += p.batchDuration
      c.addBatchMs += d("addBatch")
      c.queryPlanningMs += d("queryPlanning")
      c.offsetMs += d("latestOffset") + d("getOffset") + d("getBatch")
      c.commitMs += d("walCommit") + d("commitOffsets")
      c.stateRowsMax = math.max(c.stateRowsMax,
        Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L))
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    BenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Start attributing events to a new op named `name`. */
  def beginOp(name: String): Unit = {
    BenchBus.drain(sc)
    synchronized {
      current = new OpCounters
      currentOp = ops.size
      ops += name -> current
      rddBytesAtStart = rddBytes
    }
    persistentAtStart = sc.getPersistentRDDs.keySet.toSet
  }

  /** Drain the bus and record what the op left behind: RDDs it persisted
    * that are still registered, and the bytes they hold. */
  def endOp(): OpCounters = {
    BenchBus.drain(sc)
    val c = current
    val left = sc.getPersistentRDDs.keySet.toSet -- persistentAtStart
    c.rddsLeft = left.size
    c.cachedBytesLeft = sc.getRDDStorageInfo.filter(i => left.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    setPhase(null)
    // events between ops (the untimed checks) belong to no op
    synchronized { current = new OpCounters }
    c
  }

  /** Mark the client thread's phase ("build", "sink" or null). */
  def setPhase(p: String): Unit = sc.setLocalProperty(Trace.PhaseKey, p)

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val idx = spans.size
    spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), currentOp)
    stack.push(idx)
    try body
    finally {
      stack.pop()
      spans(idx) = spans(idx).copy(end = System.nanoTime())
    }
  }

  /** Self time of every span name: its duration minus its children's. */
  def selfTimesMs: Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => spans(i).end - spans(i).start - child(i)).sum / 1e6
    }
  }
}

object Trace {
  val PhaseKey = "graftbench.phase"

  /** Parquet (file-source) scan relations in the optimized plan of `qe`,
    * subqueries included. */
  def scans(qe: QueryExecution): Int =
    try qe.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => 1
    }.size
    catch { case _: Throwable => 0 }
}
