package graft.plans

import graft.SparkSpec
import graft.pipelines.{CardexToOps, OpsToJde, PipelineInputs}
import graft.queries.Catalog
import org.apache.spark.metrics.source.CodegenMetrics

import java.nio.file.Files

/** Pins GraftSession's codegen settings against graft's working set: once
  * a round of catalog queries and both pipelines has run, the same round
  * again compiles no class. The round compiles over 200 distinct classes,
  * more than Spark's default cache of 100, so at the default the LRU evicts
  * each class before its next use. The streaming replay only hits the
  * cache with artifact isolation off, and stage-numbered class names would
  * make a stage planned in another order a new class.
  *
  * The pipelines get local batches, as the dispatch cycle does: a plan with
  * a LIMIT compiles a new class every time, because Spark names each
  * limit's counter from a JVM-wide sequence. */
class CodegenCacheSpec extends SparkSpec {
  private val queries = Seq("dd_conn_components", "sq_scalar_small_qty", "w_stream_update_replay")
  private val batchTs = "2024-03-01 12:00:00"

  /** Janino compiles so far in this JVM, driver and executor threads alike. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One round, as the compiles each step made. Fresh state and lake
    * dirs, so both rounds do the same work. */
  private def round(): Seq[(String, Long)] = {
    def step(name: String)(body: => Any): (String, Long) = {
      val before = compiles
      body
      name -> (compiles - before)
    }
    val lake = Files.createTempDirectory("codegen-lake").toString
    queries.map(q => step(q)(Catalog.byName(q).build(spark, sfSmoke).collect())) ++ Seq(
      step("CardexToOps")(CardexToOps.run(spark, PipelineInputs.cardex(spark, sfSmoke),
        PipelineInputs.products(spark, sfSmoke), lake, batchTs).collect()),
      step("OpsToJde")(OpsToJde.run(spark, PipelineInputs.guardedBatch(spark),
        Files.createTempDirectory("codegen-state").toString, lake, batchTs)))
  }

  test("a repeated round of catalog queries and pipelines compiles no class") {
    round()
    val again = round()
    assert(again.forall(_._2 == 0L), s"second round recompiled: $again")
  }
}
