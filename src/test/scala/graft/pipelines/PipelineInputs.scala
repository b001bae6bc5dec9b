package graft.pipelines

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline inputs shared by the specs that drive OpsToJde and CardexToOps
  * end to end. */
object PipelineInputs {
  // Nested action documents, typed (ActionFlattener's schema).
  final case class BatchRef(batch_number: String, lot: String)
  final case class Ingredient(ingredient_id: Long, name: String, qty: Double,
                              batches: Seq[BatchRef], additions: Map[String, Double])
  final case class Action(action_id: Long, ingredients: Seq[Ingredient])

  /** A local batch that hits every guard: two actions send one transaction,
    * one ingredient repeats a lot under two batch numbers (same id), and an
    * empty name, a zero quantity and an empty lot each make a row
    * ineligible. 9 flattened rows, 4 distinct eligible ids. */
  def guardedBatch(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      Action(1L, Seq(
        Ingredient(10L, "Flour", 2.0, Seq(BatchRef("B1", "L1")), Map("V1" -> 2.0, "V2" -> 2.0)))),
      Action(2L, Seq(
        Ingredient(10L, "Flour", 2.0, Seq(BatchRef("B1", "L1")), Map("V1" -> 2.0)),   // re-sent
        Ingredient(11L, "", 3.0, Seq(BatchRef("B2", "L2")), Map("V1" -> 3.0)),        // empty name
        Ingredient(12L, "Sugar", 0.0, Seq(BatchRef("B3", "L3")), Map("V1" -> 0.0)),   // zero qty
        Ingredient(13L, "Salt", 1.5,
          Seq(BatchRef("B4", ""), BatchRef("B5", "L5")), Map("V1" -> 1.5)),           // one empty lot
        Ingredient(14L, "Yeast", 1.0,
          Seq(BatchRef("B6", "L6"), BatchRef("B7", "L6")), Map("V1" -> 1.0)))))       // same id twice
      .toDF()
  }

  /** Cardex side: order totals per part name, plus two names that exist
    * only in JDE (must classify "Product Not Found"). */
  def cardex(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)), col("l_partkey") === col("p_partkey"))
      .select(col("p_name").as("item_name"), col("l_quantity").as("qty"))
      .unionByName(Seq(("GHOST_A", 5.0), ("GHOST_B", 7.5)).toDF("item_name", "qty"))
  }

  /** Ops side: the part dimension with an archived flag. */
  def products(spark: SparkSession, sf: String): DataFrame =
    Tables.part(spark, sf)
      .select(
        col("p_name").as("productName"),
        col("p_retailprice").as("onHandAmount"),
        (pmod(col("p_partkey"), lit(7)) === 0).as("archived"))
}
