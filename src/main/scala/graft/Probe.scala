package graft

import graft.queries.Catalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: where one catalog query's time goes. Runs the query once to
  * warm up (JIT, codegen, parquet footers), then the probe run, printing
  * every stage (wall, summed executor run and CPU time, tasks, input and
  * shuffle bytes, the operators it runs) and every job boundary; each
  * eager checkpoint is its own job, so iterative queries read as one block
  * per round. For a streaming replay it then prints the per-trigger phase
  * table StreamProbe captured.
  * Usage: tools/run.sh graft.Probe [sfDir] <queryName> [cpus]; with the
  * query name alone, sfDir is SPARK_GRAFT_SF_DIR.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) =
      if (args.length == 1) (sys.env("SPARK_GRAFT_SF_DIR"), args(0)) else (args(0), args(1))
    val spark = Harness.session(args.lift(2).fold(Harness.cpus)(_.toInt))
    @volatile var t0 = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        println(f"---- job ${js.jobId}%3d @ ${(System.nanoTime() - t0) / 1e9}%7.2f s  (${js.stageInfos.size} stages)")
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        val m = si.taskMetrics
        // rddInfos names the operators the stage runs; the call site in
        // si.name is always the AQE thread-pool frame
        val ops = si.rddInfos.map(_.name).filter(_ != null).distinct.mkString(">")
        println(f"stage ${si.stageId}%4d wall=$wall%6.2fs exec=${m.executorRunTime / 1e3}%7.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%6.2fs " +
          f"tasks=${si.numTasks}%4d in=${m.inputMetrics.bytesRead / 1e6}%7.1fMB " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB  ${ops.take(140)}")
      }
    })
    val build = Catalog.byName(name).build
    Harness.timeNoop(spark, build, sfDir).swap.foreach(e => System.err.println(s"warm-up failed: $e"))
    println("==== probe run ====")
    t0 = System.nanoTime()
    val sec = Harness.timeNoop(spark, build, sfDir).fold(e => sys.error(e), identity)
    println(f"==== total $sec%.2f s ====")
    val sinks = Seq(s"${name}_sink", name.replace("_replay", "_sink"),
      s"${name.stripSuffix("_enrich")}_sink")
    sinks.flatMap(s => graft.streaming.StreamProbe.get(s).map(s -> _))
      .headOption.foreach { case (sink, batches) =>
        println(s"---- $sink: ${batches.length} batches ----")
        val keys = batches.flatMap(_.durationMs.keys).distinct.sorted
        println(("batch" +: "rows" +: keys).mkString("\t"))
        batches.foreach { b =>
          println((b.batchId +: b.inputRows +:
            keys.map(k => b.durationMs.getOrElse(k, 0L))).mkString("\t"))
        }
        keys.foreach { k =>
          println(f"$k%-28s sum=${batches.map(_.durationMs.getOrElse(k, 0L)).sum}%6d ms")
        }
      }
    spark.stop()
  }
}
