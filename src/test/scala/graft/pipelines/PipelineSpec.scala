package graft.pipelines

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

/** End-to-end pipeline composition on the test tables: flatten -> guards ->
  * identity -> units/keys -> exactly-once gate -> dispatch + lake + state,
  * and the reconcile -> prune -> lookup -> classify -> payload path. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def nestedActions = {
    val li = Tables.lineitem(spark, sfSmoke).limit(2000)
    val ing = struct(
      col("l_partkey").as("ingredient_id"),
      concat(lit("item"), col("l_partkey")).as("name"),
      col("l_quantity").as("qty"),
      array(struct(concat(lit("B"), col("l_linenumber")).as("batch_number"),
        lit("L1").as("lot"))).as("batches"),
      map(concat(lit("V"), pmod(col("l_suppkey"), lit(3))), col("l_quantity")).as("additions"))
    li.select(col("l_orderkey").as("action_id"), ing.as("ing"))
      .groupBy("action_id").agg(collect_list("ing").as("ingredients"))
  }

  private def guardedBatch = PipelineInputs.guardedBatch(spark)

  test("OpsToJde: exact audit counts on a guarded batch match the count-distinct audit") {
    val stateDir = Files.createTempDirectory("p-state").toString
    val lakeRoot = Files.createTempDirectory("p-lake").toString
    val r = OpsToJde.run(spark, guardedBatch, stateDir, lakeRoot, "2024-03-01 12:00:00")
    assert(r === OpsToJde.Result(flattened = 9, eligible = 4, dispatched = 4))
    // the single-pass aggregate the observations replace, over the same flatten
    val audit = OpsToJde.prepare(guardedBatch).agg(
      count(lit(1)),
      count_distinct(when(col("__eligible"), col("unique_transaction_id")))).first()
    assert((r.flattened, r.eligible) === ((audit.getLong(0), audit.getLong(1))))
    assert(spark.read.parquet(s"$lakeRoot/jde_dispatch").count() === 4)
  }

  test("OpsToJde: an empty or all-ineligible batch dispatches nothing, without hanging") {
    def run(batch: DataFrame) = Await.result(Future(OpsToJde.run(spark, batch,
      Files.createTempDirectory("p-state").toString, Files.createTempDirectory("p-lake").toString,
      "2024-03-01 12:00:00"))(ExecutionContext.global), 2.minutes)
    assert(run(guardedBatch.limit(0)) === OpsToJde.Result(0, 0, 0))
    // the empty-name and zero-qty ingredients only: 2 flattened, none eligible
    assert(run(guardedBatch.filter(col("action_id") === 2).select(col("action_id"),
      slice(col("ingredients"), 2, 2).as("ingredients"))) === OpsToJde.Result(2, 0, 0))
  }

  test("OpsToJde: full run then replay — replay dispatches nothing") {
    val stateDir = Files.createTempDirectory("p-state").toString
    val lakeRoot = Files.createTempDirectory("p-lake").toString

    val r1 = OpsToJde.run(spark, nestedActions, stateDir, lakeRoot, "2024-03-01 12:00:00")
    assert(r1.flattened > 0)
    assert(r1.eligible > 0 && r1.eligible <= r1.flattened)
    assert(r1.dispatched === r1.eligible) // empty state: all eligible dispatch

    // lake got the partitioned audit trail
    val lake = spark.read.parquet(s"$lakeRoot/jde_dispatch")
    assert(lake.count() === r1.dispatched)
    assert(lake.columns.contains("year") && lake.columns.contains("day"))
    val p = lake.select("Branch_Plant", "Document_Type", "UM").distinct().collect()
    assert(p.forall(_.getString(1) === "II"))
    assert(p.forall(_.getString(2) === "KG")) // F1 to_jde("kg")

    // overlapping replay: same actions re-fetched -> state gates everything
    val r2 = OpsToJde.run(spark, nestedActions, stateDir, lakeRoot, "2024-03-01 12:05:00")
    assert(r2.dispatched === 0)
  }

  test("CardexToOps: mismatch pruning, lookup, classification, payload sink") {
    val lakeRoot = Files.createTempDirectory("c-lake").toString
    val cardex = PipelineInputs.cardex(spark, sfSmoke)
    val products = PipelineInputs.products(spark, sfSmoke)

    val classified = CardexToOps.run(spark, cardex, products, lakeRoot, "2024-03-01 12:00:00")
    val statuses = classified.select("dispatch_status").distinct().as[String].collect().toSet
    assert(statuses.subsetOf(Set("Product Not Found", "Partial Match", "Missing in Bakery Ops")))
    // archived products' names that ONLY exist archived -> not found
    assert(classified.filter(col("dispatch_status") === "Product Not Found").count() > 0)
    // payloads landed in the lake with the action shape
    val lake = spark.read.parquet(s"$lakeRoot/ops_dispatch")
    assert(lake.filter(col("actionType") =!= "RECEIVE_DRY_GOOD").count() === 0)
    assert(lake.filter(!col("note").startsWith("JDE_Transaction_Id: ")).count() === 0)
    assert(lake.count() ===
      classified.filter(col("dispatch_status") === "Partial Match" && col("delta_qty") > 0).count())
  }
}
