package graftbench

import graft.queries.Catalog
import graft.sources.Tables

import java.io.File
import scala.util.Random

/** The catalog workload: a pinned list of catalog queries. An op is one
  * `build` plus one `noop` sink write; each measured pass runs every query
  * once, in an order shuffled by the seed and the pass number.
  *
  * The first set-up repetition's warm-up pass writes each query's result
  * as Parquet under `<work>/check/<query>/`; perfbench/run.py compares
  * those with the query's DuckDB oracle SQL. */
final class CatalogWorkload extends Workload {
  import CatalogWorkload.queries

  private def order(ctx: Ctx, p: Int): Seq[String] =
    new Random(ctx.seed * 7919L + p).shuffle(queries)

  override def prepare(ctx: Ctx): Unit = queries.foreach(Catalog.byName)

  override def warmup(ctx: Ctx, check: Boolean): Unit = {
    val checkDir = new File(ctx.workDir, "check")
    order(ctx, -1).foreach { q =>
      try {
        if (!check) noop(ctx, q)
        else {
          val df = Catalog.byName(q).build(ctx.spark, ctx.dataDir)
          val out = new File(checkDir, q).getAbsolutePath
          // The checks' own test: a result with one row dropped must fail.
          if (ctx.inject == "drop-row" && q == queries.min)
            ctx.spark.createDataFrame(
              ctx.spark.sparkContext.parallelize(df.collect().drop(1).toSeq, 1), df.schema)
              .write.parquet(out)
          else df.coalesce(1).write.parquet(out)
        }
      } catch {
        case e: Throwable => ctx.warmupErrors += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
  }

  private def noop(ctx: Ctx, q: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    ctx.phase("build")
    val df = ctx.span("queries.build")(Catalog.byName(q).build(ctx.spark, ctx.dataDir))
    val t1 = System.nanoTime()
    ctx.phase("sink")
    ctx.span("exec.sink")(df.write.format("noop").mode("overwrite").save())
    Map("build_ms" -> (t1 - t0) / 1e6, "sink_ms" -> (System.nanoTime() - t1) / 1e6)
  }

  override def pass(ctx: Ctx, p: Int): Seq[Op] =
    order(ctx, p).map(q => Op(q, queries.indexOf(q), () => noop(ctx, q)))

  /** Time a bare table resolution per table, as a query's build does. */
  override def probe(ctx: Ctx): Map[String, Seq[Double]] =
    Map("resolve_ms" -> Tables.all.map { t =>
      val t0 = System.nanoTime()
      Tables.t(ctx.spark, ctx.dataDir, t)
      (System.nanoTime() - t0) / 1e6
    })

  override def report: Map[String, Any] = Map("queries" -> queries)
}

object CatalogWorkload {
  /** The pinned queries. */
  val queries: Seq[String] = Seq(
    // adhoc: fixed per-op cost (7 table resolutions, Catalyst, short stages)
    "sq_scalar_small_qty",
    // iterative: eager jobs inside build (a fixpoint loop, a stream replay)
    "dd_conn_components", "w_stream_update_replay")

  def oracleSql: Map[String, String] =
    queries.flatMap(q => Catalog.byName(q).oracle.map(q -> _)).toMap
}
