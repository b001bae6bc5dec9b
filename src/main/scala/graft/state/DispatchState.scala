package graft.state

import graft.sources.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K4 + J5 — the exactly-once dispatch state (SURVEY.md §2.2/§2.4;
  * /root/reference/backend/jde_helper.py:1006-1023 `INSERT … ON CONFLICT
  * (unique_transaction_id) DO UPDATE`, probe at jde_helper.py:849-867):
  * a keyed status table consulted before dispatch (anti-join) and upserted
  * after (latest wins).
  *
  * No Delta in this environment, so MERGE is realized as the classic
  * Parquet pattern: read current state, union incoming, keep the
  * latest row per key (explicit `updated_at` then status order as the
  * version tiebreak), publish a new immutable version. At scale the state
  * table is key-partitioned and the swap becomes a Delta/Iceberg MERGE —
  * the call sites don't change.
  *
  * Layout: `{dir}/v-<n>/` are immutable full snapshots; `{dir}/CURRENT`
  * is a tiny pointer file naming the live version, written LAST. A crash
  * at any point leaves either the old pointer (new version simply unused)
  * or no pointer (readers fall back to the highest version directory that
  * has a `_SUCCESS` marker) — never a lost table. This replaces the
  * earlier delete-then-rename swap, whose crash window between delete and
  * rename dropped the whole state and re-dispatched every historical
  * record; directory rename is also not atomic on object stores, while a
  * small single-file PUT is. The previous version is retained for one
  * generation as an extra recovery copy.
  *
  * Single-writer semantics (one scheduled pipeline instance), matching
  * the reference's Airflow task model.
  */
object DispatchState {
  private val keyCol = "unique_transaction_id"

  private val Schema = org.apache.spark.sql.types.StructType.fromDDL(
    s"$keyCol STRING, status STRING, detail STRING, updated_at TIMESTAMP")

  /** The current snapshot, empty for a fresh store. Migration path: a
    * state dir written by the earlier delete-and-rename layout holds
    * `{dir}/current/` and no v-* versions. Treating it as empty would
    * re-dispatch ALL history (the exact failure this class prevents), so
    * read the legacy table; the next upsert folds it into v-1 and the
    * pointer takes over. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val hfs = Snapshots.fs(spark)
    val legacy = new Path(s"$dir/current")
    if (hfs.exists(legacy) && Snapshots.currentVersion(hfs, dir).isEmpty)
      Tables.parquet(spark, legacy.toString)
    else Snapshots.read(spark, dir, Schema)
  }

  /** J5: records not yet dispatched (status 'done' absent) — the
    * exactly-once gate. Broadcast the done-set when it is the small side. */
  def pending(records: DataFrame, spark: SparkSession, dir: String): DataFrame = {
    val done = read(spark, dir).filter(col("status") === "done").select(keyCol)
    records.join(done, Seq(keyCol), "left_anti")
  }

  /** K4: upsert new statuses, latest wins per key (updated_at desc, then
    * 'done' beats 'error' for identical timestamps, mirroring the
    * reference's DO UPDATE SET status='done'). Publishes `v-<n+1>` then
    * swings the pointer; old versions beyond the previous one are pruned
    * only after the pointer is durable. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val merged = read(spark, dir)
      .unionByName(updates.select(col(keyCol), col("status"), col("detail"), col("updated_at")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(keyCol)
          .orderBy(col("updated_at").desc, (col("status") === "done").desc)))
      .filter(col("rn") === 1)
      .drop("rn")
    Snapshots.publish(spark, dir, merged)
  }
}
