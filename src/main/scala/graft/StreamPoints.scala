package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import scala.collection.immutable.ListMap

/** The measurements behind graft.Bench's streaming and state passes: each
  * drives one stream into the noop sink and reports its non-empty
  * micro-batches as a record. */
object StreamPoints {
  /** One non-empty micro-batch; the state fields stay 0 for a stateless
    * stream. */
  final case class Batch(rows: Long, ms: Long, stateRows: Long = 0, stateMem: Long = 0,
                         updated: Long = 0, removed: Long = 0)

  /** Run `df` into the noop sink until `await` returns; the seconds from
    * building the stream to then, and the non-empty batches. */
  private def drain(spark: SparkSession, df: => DataFrame, maxBatches: Int)(
      await: StreamingQuery => Unit): (Double, Seq[StreamingQueryProgress]) = {
    val ckpt = Harness.tempDir("graft-bench-stream")
    // recentProgress keeps only numRecentProgressUpdates batches (default
    // 100): size it so none drop out of the totals
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(100, maxBatches + 16).toString)
    try {
      val t0 = System.nanoTime()
      val q = df.writeStream.format("noop").option("checkpointLocation", ckpt).start()
      try {
        await(q)
        ((System.nanoTime() - t0) / 1e9, q.recentProgress.toSeq.filter(_.numInputRows > 0))
      } finally q.stop()
    } finally Harness.delete(ckpt)
  }

  /** The REST cardex DSv2 source, `pages` published pages drained under
    * admission control (maxPagesPerTrigger). */
  def rest(spark: SparkSession, pages: Int, rowsPerPage: Int, perTrigger: Int): ListMap[String, Any] = {
    val runId = s"bench-${java.util.UUID.randomUUID()}"
    graft.sources.rest.FakeCardexApi.publishPages(runId, pages)
    try {
      // the default ProcessingTime(0) trigger, not AvailableNow: the source
      // honours maxPagesPerTrigger only outside AvailableNow
      val (sec, progress) = drain(spark, spark.readStream
        .format("graft.sources.rest.RestCardexSource")
        .option("pages", pages)
        .option("rowsPerPage", rowsPerPage)
        .option("apiRunId", runId)
        .option("maxPagesPerTrigger", perTrigger)
        .load(), pages / math.max(1, perTrigger))(_.processAllAvailable())
      restRecord(pages, rowsPerPage, sec,
        progress.map(p => Batch(p.numInputRows, p.batchDuration)), Harness.loadavg)
    } finally graft.sources.rest.FakeCardexApi.resetRun(runId)
  }

  /** A windowed aggregation on RocksDB over the rate-micro-batch source:
    * batch b has exactly `keys` rows, value % keys sweeps the key space
    * every batch, and event time advances one window per batch. */
  def state(spark: SparkSession, keys: Int, batches: Int): ListMap[String, Any] = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, window}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (sec, progress) = drain(spark, spark.readStream
        .format("rate-micro-batch")
        .option("rowsPerBatch", keys)
        .option("startTimestamp", 0L)
        .option("advanceMillisPerBatch", 60000)
        .load()
        .withWatermark("timestamp", "2 minutes")
        .groupBy(window(col("timestamp"), "1 minute"), (col("value") % keys).as("k"))
        .agg(count(lit(1)).as("n"), sum("value").as("s")), batches) { q =>
        // the source is unbounded: drive `batches` batches; the 300 s cap
        // keeps a wedged store from hanging the bench
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < batches - 1
               && System.nanoTime() < deadline)
          Thread.sleep(50)
      }
      stateRecord(keys, sec, progress.take(batches).map { p =>
        val op = p.stateOperators.headOption
        Batch(p.numInputRows, p.batchDuration, op.fold(0L)(_.numRowsTotal),
          op.fold(0L)(_.memoryUsedBytes), op.fold(0L)(_.numRowsUpdated),
          op.fold(0L)(_.numRowsRemoved))
      })
    } finally prevProvider.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
  }

  /** Whole-run and steady rows/s; steady leaves out the first batch
    * (state-store and sink start-up, first codegen) and divides by the
    * summed batch durations, so gaps between batches do not count. */
  private[graft] def restRecord(pages: Int, rowsPerPage: Int, sec: Double,
                                batches: Seq[Batch], load: Double): ListMap[String, Any] = {
    val rows = batches.map(_.rows).sum
    val steady = batches.drop(1)
    val steadyRows = steady.map(_.rows).sum
    val steadyMs = steady.map(_.ms).sum
    ListMap("pages" -> pages, "rows_per_page" -> rowsPerPage, "rows" -> rows,
      "batches" -> batches.length, "sec" -> sec, "rows_per_sec" -> rows / math.max(sec, 1e-9),
      "steady_rows" -> steadyRows, "steady_ms" -> steadyMs,
      "steady_rows_per_sec" -> (if (steadyMs <= 0) 0.0 else steadyRows * 1000.0 / steadyMs),
      "load" -> Harness.round2(load), "batch_ms" -> batches.map(_.ms))
  }

  /** `bounded`: the last batch holds at most 4 × keys state rows. Spark
    * evicts on the previous batch's watermark, so a 2-minute watermark
    * over 1-minute windows keeps exactly 4 windows live; one un-evicted
    * window more flips it. */
  private[graft] def stateRecord(keys: Int, sec: Double, batches: Seq[Batch]): ListMap[String, Any] = {
    val rows = batches.map(_.rows).sum
    ListMap("keys" -> keys, "batches" -> batches.length, "rows" -> rows, "sec" -> sec,
      "rows_per_sec" -> rows / math.max(sec, 1e-9), "provider" -> "rocksdb",
      "state_rows" -> batches.map(_.stateRows), "state_mem_bytes" -> batches.map(_.stateMem),
      "state_rows_updated" -> batches.map(_.updated),
      "state_rows_removed" -> batches.map(_.removed),
      "bounded" -> batches.lastOption.exists(_.stateRows <= 4L * keys),
      "batch_ms" -> batches.map(_.ms))
  }
}
