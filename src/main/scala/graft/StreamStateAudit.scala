package graft

import scala.collection.immutable.ListMap

/** Stream-state boundedness audit: the two most
  * expensive catalog queries — the watermarked stream-stream joins
  * `j_stream_confirm_replay` and `j_stream_outer_replay` — carry the
  * at-scale claim "join state is bounded by the watermark". This main
  * MEASURES it: it replays both queries at 1× and at an N× key-shifted
  * replica (same 29-day event-time span, so the same 8-day-epoch
  * micro-batches carry N× the rows), captures each micro-batch's
  * state-store metrics from `StreamingQueryProgress.stateOperators` via
  * graft.streaming.StreamProbe, and emits one JSON line per run plus an
  * atomic artifact (SPARK_GRAFT_BENCH_OUT).
  *
  * What bounded looks like in the numbers: per batch, state rows track
  * the WATERMARK HORIZON — the current batch's rows plus the ≤2-day
  * tail of the previous one that can still match — while cumulative
  * input grows linearly; `removed` is nonzero once the watermark starts
  * moving; and the N× trace is the 1× trace scaled by ~N (state scales
  * with the horizon's density, never with stream length). The unbounded
  * failure mode this refutes is state_rows ≈ cumulative input.
  * StreamStateSpec pins the same invariants in ScalaTest at the smoke SF.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_COPIES (default 10; 0 skips the scaled point),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_OUT (artifact path).
  */
object StreamStateAudit {
  private val Audited = Seq(
    "j_stream_confirm_replay" -> "j_stream_confirm_sink",
    "j_stream_outer_replay" -> "j_stream_outer_sink")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = Harness.session()

    def point(dir: String, label: String): (String, Any) =
      label -> ListMap(Audited.map { case (qname, sink) =>
        System.err.println(s"[streamstate] $label $qname")
        val sec = Harness.timeNoop(spark, SparkEntry.queries(qname), dir)
          .fold(e => sys.error(s"$qname failed: $e"), identity)
        val trace = graft.streaming.StreamProbe.get(sink).getOrElse(Seq.empty)
        qname -> ListMap("sec" -> sec,
          "total_input_rows" -> trace.map(_.inputRows).sum,
          "max_state_rows" -> (trace.map(_.stateRows) :+ 0L).max,
          "last_state_rows" -> trace.lastOption.fold(0L)(_.stateRows),
          "max_state_mem_bytes" -> (trace.map(_.stateMemBytes) :+ 0L).max,
          "removed_total" -> trace.map(_.rowsRemoved).sum,
          "batches" -> trace.map(b => ListMap("batch" -> b.batchId, "input" -> b.inputRows,
            "state_rows" -> b.stateRows, "state_mem_bytes" -> b.stateMemBytes,
            "updated" -> b.rowsUpdated, "removed" -> b.rowsRemoved)))
      }: _*)

    val replicas = new Harness.Replicas(sfDir)
    val points =
      try Seq(point(sfDir, "1x")) ++
        (if (copies <= 0) None else Some(point(replicas(spark, copies), s"${copies}x")))
      finally replicas.close()
    spark.stop()
    val line = Harness.json(
      ListMap("metric" -> "stream_state", "sf_dir" -> sfDir, "copies" -> copies) ++ points)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { o =>
      try Bench.writeAtomic(o, line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[streamstate] artifact write skipped: $e") }
    }
    println(line)
    System.out.flush()
  }
}
