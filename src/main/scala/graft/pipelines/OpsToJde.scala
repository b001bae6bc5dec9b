package graft.pipelines

import graft.functions.{Keys, Num, Quantities, Units}
import graft.lake.LakeWriter
import graft.ops.ActionFlattener
import graft.state.DispatchState
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** §3.3 — the dispatch pipeline (SURVEY.md;
  * /root/reference/backend/dags/dag_bakery_system_to_jde.py:445-487),
  * re-expressed as ONE lazily-built DataFrame job instead of four Airflow
  * tasks passing data through XCom:
  *
  *   nested actions -> flatten (generator) -> P7/P9 guards -> F5 precision
  *   -> F7 identity -> F1/F4 units -> F10 business unit -> K5 payload
  *   -> J5 exactly-once gate -> dispatch + K4 state merge + K1 lake append
  *
  * The only cross-node movement is the state anti-join; everything before
  * it is scan-stage expression work. Dispatch is `foreachPartition` with
  * the per-partition callback standing in for the HTTP POST (K5) —
  * bounded concurrency comes from partition count, as the reference's
  * per-row loop never could.
  */
object OpsToJde {
  case class Result(flattened: Long, eligible: Long, dispatched: Long)

  /** Flattened rows with the guard verdict in `__eligible`, the F5 qty and
    * the F7 id — everything before the in-batch dedup. */
  private[pipelines] def prepare(actions: DataFrame): DataFrame =
    ActionFlattener.flatten(actions)
      // P7: zero/null-quantity guard (dag_bakery_system_to_jde.py:176-179)
      // P9: required-fields guard (jde_helper.py:1310-1312)
      .withColumn("__eligible",
        coalesce(col("qty").cast(Num.Qty), lit(0)) =!= 0 &&
          col("ingredient_name").isNotNull && col("ingredient_name") =!= "" &&
          col("lot").isNotNull && col("lot") =!= "")
      .withColumn("qty", Quantities.preservePrecision(col("qty")))          // F5
      .withColumn("unique_transaction_id",
        Quantities.uniqueTransactionId(
          col("ingredient_name"), col("lot"), col("vessel"), col("qty")))   // F7

  /** @param actions nested action docs (ActionFlattener schema)
    * @param dispatch per-partition payload consumer (the POST boundary) */
  def run(
      spark: SparkSession,
      actions: DataFrame,
      stateDir: String,
      lakeRoot: String,
      batchTs: String,
      dispatch: Iterator[Row] => Unit = _ => ()): Result = {
    // Audit counters ride on the pass that fills `pending` (observed
    // metrics report through its persist): every flattened row, and every
    // row left after the guards and the dedup — one per distinct id, and
    // the id is never null (concat_ws skips nulls).
    val flattenedObs, eligibleObs = Observation()
    val eligible = prepare(actions)
      .observe(flattenedObs, count(lit(1)).as("n"))
      .filter(col("__eligible")).drop("__eligible")
      // overlapping-lookback in-batch dedup (first occurrence wins)
      .dropDuplicates("unique_transaction_id")
      .observe(eligibleObs, count(lit(1)).as("n"))

    val payloads = eligible.select(
      col("unique_transaction_id"),
      Keys.businessUnit(col("ingredient_name")).as("Branch_Plant"),         // F10
      lit("II").as("Document_Type"),
      col("ingredient_name").as("Item_Number"),
      col("qty").as("Quantity"),
      Units.convertUnitToJde(lit("kg")).as("UM"),                           // F1
      col("lot").as("LOTN"),
      date_format(lit(batchTs).cast("timestamp"), "dd/MM/yyyy").as("G_L_Date"), // F14
      lit(batchTs).cast("timestamp").as("dispatched_at"))

    // J5: exactly-once gate against cross-run state
    val pending = DispatchState.pending(payloads, spark, stateDir).persist()
    try {
      val nPending = pending.count()
      pending.foreachPartition(dispatch)                                    // K5
      // K4: mark done; K1: append the audit trail
      DispatchState.upsert(spark, stateDir, pending.select(
        col("unique_transaction_id"), lit("done").as("status"),
        Keys.truncateStatus(concat(lit("dispatched "), col("Item_Number"))).as("detail"), // F17
        col("dispatched_at").as("updated_at")))
      LakeWriter.append(pending, lakeRoot, "jde_dispatch", "dispatched_at")
      // Default 0 for an observation that reports no value.
      def observed(o: Observation) = o.get.getOrElse("n", 0L).asInstanceOf[Long]
      Result(observed(flattenedObs), observed(eligibleObs), nPending)
    } finally pending.unpersist()
  }
}
