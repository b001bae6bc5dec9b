package graftbench

import graft.lake.LakeWriter
import graft.pipelines.{CardexToOps, OpsToJde}
import graft.sources.Tables
import graft.sources.rest.FakeCardexApi
import graft.state.DispatchState
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

// The nested action documents OpsToJde flattens (ActionFlattener's schema).
final case class BatchRef(batch_number: String, lot: String)
final case class Ingredient(ingredient_id: Long, name: String, qty: Double,
                            batches: Seq[BatchRef], additions: Map[String, Double])
final case class Action(action_id: Long, ingredients: Seq[Ingredient])
// The ops product dimension CardexToOps reconciles against.
final case class Product(productName: String, onHandAmount: Double, archived: Boolean)

/** The reference's DAG cycle, one op per cycle:
  *  1. read the cycle's cardex page through RestCardexSource with the
  *     `r_date` lower bound pushed down, and run CardexToOps against a
  *     seeded product dimension (matching, mismatching and missing names);
  *  2. run OpsToJde on a seeded nested-action batch drawn from lineitem —
  *     a quarter of its orders re-sent from the previous batch, as the
  *     lookback re-fetch does, and some rows ineligible — into one state
  *     dir and lake kept for the whole run;
  *  3. read the day's dispatches back with LakeWriter.readRange;
  *  4. on the last cycle of each day, LakeWriter.compact that day.
  *
  * The checks after each cycle recompute what every step must have done
  * from the generated inputs alone, and hold the exactly-once invariants:
  * each eligible transaction dispatched once, the lake free of duplicates,
  * and the state's done-set equal to everything dispatched so far. */
final class DispatchWorkload extends Workload {
  /** The reference's cap on one action fetch (REST `size` 1,000). */
  val OrdersPerBatch = 1000
  /** Share of orders the lookback re-fetch sends again; arbitrary. */
  val Overlap = 0.25
  /** RestCardexSource's default page size. */
  val CardexRowsPerPage = 1000
  val CyclesPerDay = 3
  val WarmupCycles = 1

  private type Key = (String, String, String, Double)
  private final case class Line(order: Long, part: Long, supp: Long, lineNo: Int, qty: Double)
  private final case class Cycle(c: Int, orders: Seq[Long], actions: Seq[Action],
                                 products: Seq[Product], ts: String, day: String)

  private var rep = 0
  private var lines: Map[Long, Seq[Line]] = Map.empty
  private var orderKeys: IndexedSeq[Long] = IndexedSeq.empty
  private var next = 0
  private var prev: Option[Cycle] = None
  private val dispatched = mutable.Set.empty[Key]
  private val dayRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val dayPayloads = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var liveBytes = 0L

  private def stateDir(ctx: Ctx) = new File(ctx.workDir, "dispatch/state").getAbsolutePath
  private def lakeRoot(ctx: Ctx) = new File(ctx.workDir, "dispatch/lake").getAbsolutePath

  override def reset(ctx: Ctx): Unit = {
    deleteTree(new File(ctx.workDir, "dispatch"))
    next = 0
    prev = None
    dispatched.clear(); dayRows.clear(); dayPayloads.clear()
    liveBytes = 0L
    rep += 1
  }

  override def prepare(ctx: Ctx): Unit = {
    val rows = Tables.lineitem(ctx.spark, ctx.dataDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
      .collect()
    lines = rows.map(r => Line(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      .toSeq.groupBy(_.order)
    orderKeys = lines.keys.toIndexedSeq.sorted
  }

  override def warmup(ctx: Ctx, check: Boolean): Unit =
    (0 until WarmupCycles).foreach { _ =>
      val op = cycleOp(ctx, 0, replay = false)
      val err = scala.util.Try(op.run()).failed.toOption.map(e => e.toString)
        .orElse(op.check())
      err.foreach(e => ctx.warmupErrors += s"warm-up cycle: $e")
    }

  /** Cycles run after the set-ups, before the first measured one. */
  override def settlePasses: Int = 2

  /** A day's worth of consecutive cycles, exactly one of which compacts.
    * Each cycle is made just before it runs, after the previous cycle's
    * checks. */
  override def pass(ctx: Ctx, p: Int): Seq[Op] =
    LazyList.range(0, CyclesPerDay).map { i =>
      // The checks' own test: replay the last batch after dropping the state.
      cycleOp(ctx, i, replay = ctx.inject == "replay" && p == 0 && i == 1)
    }

  private def hash(xs: Long*): Int = MurmurHash3.orderedHash(xs)

  /** An order line as an ingredient. Its content depends only on the seed
    * and the line, so a re-sent order yields the same transactions. The
    * ineligible rates (2% empty names, 4% zero quantities, 2.5% empty lots)
    * are arbitrary: the reference publishes none. */
  private def ingredient(seed: Long, l: Line): Ingredient = {
    val h = hash(seed, l.order, l.part, l.lineNo) & Int.MaxValue
    val name = if (h % 50 == 0) "" else s"${Seq("B_", "P_", "M_", "")(l.part.toInt % 4)}part${l.part % 400}"
    val qty = if ((h / 50) % 25 == 0) 0.0 else l.qty
    val nBatches = 1 + (h >> 8) % 2
    val lot = if ((h >> 10) % 40 == 0) "" else s"L${l.supp % 9}"
    val batches = (1 to nBatches).map(b => BatchRef(s"B${l.lineNo}-$b", lot))
    val nVessels = 1 + (h >> 12) % 2
    val additions = (0 until nVessels).map(v => s"V${((h >> 14) + v) % 6}" -> qty).toMap
    Ingredient(l.part, name, qty, batches, additions)
  }

  private def makeCycle(ctx: Ctx): Cycle = {
    val c = next
    val rng = new Random(ctx.seed * 1000003L + c)
    val carried = prev.map(p => rng.shuffle(p.orders).take((OrdersPerBatch * Overlap).toInt))
      .getOrElse(Seq.empty)
    val fresh = Iterator.continually(orderKeys(rng.nextInt(orderKeys.size)))
      .filterNot(carried.contains).distinct.take(OrdersPerBatch - carried.size).toSeq
    val orders = carried ++ fresh
    val actions = orders.map(o => Action(o, lines(o).map(ingredient(ctx.seed, _))))
    // product dimension for the items of this cycle's cardex page; the
    // mix is arbitrary (the reference publishes none), chosen so that
    // every CardexToOps outcome occurs in each cycle
    val totals = cardexTotals(c)
    val products = totals.toSeq.sortBy(_._1).flatMap { case (item, total) =>
      val t = total.toDouble
      rng.nextInt(20) match {
        case r if r < 7 => Seq(Product(item, t, archived = false))                   // match
        case r if r < 9 =>                                                          // match, split by case
          Seq(Product(item, t - 1.0, archived = false), Product(item.toUpperCase, 1.0, archived = false))
        case r if r < 16 =>                                                         // mismatch
          Seq(Product(item, t + (rng.nextInt(40) - 20 + 0.5) * 0.25, archived = false))
        case r if r < 18 => Seq(Product(item, t, archived = true))                  // missing (archived)
        case _ => Seq.empty                                                         // missing
      }
    } :+ Product(s"ops_only_$c", 5.0, archived = false)
    val day = java.time.LocalDate.of(2024, 3, 1).plusDays(c / CyclesPerDay).toString
    val ts = f"$day ${(c % CyclesPerDay) * 5 / 60}%02d:${(c % CyclesPerDay) * 5 % 60}%02d:00"
    next += 1
    val cycle = Cycle(c, orders, actions, products, ts, day)
    prev = Some(cycle)
    cycle
  }

  /** Exact per-item cardex totals of cycle `c`'s page, fetched straight
    * from the fake API rather than through Spark. */
  private def cardexTotals(c: Int): Map[String, BigDecimal] =
    FakeCardexApi.fetch(c, CardexRowsPerPage, None, None, runId = "perfbench-expect")
      .toSeq.groupBy(_._1.toLowerCase).map { case (k, rs) => k -> rs.map(r => BigDecimal(r._4)).sum }

  private def cycleOp(ctx: Ctx, slot: Int, replay: Boolean): Op = {
    val cyc =
      if (replay) {
        deleteTree(new File(stateDir(ctx)))
        prev.get
      } else makeCycle(ctx)
    val spark = ctx.spark
    import spark.implicits._
    val runId = s"perfbench-${ctx.seed}-$rep-${cyc.c}${if (replay) "-replay" else ""}"
    val state = stateDir(ctx)
    val lake = lakeRoot(ctx)
    val minDate = java.time.LocalDate.ofEpochDay(FakeCardexApi.pageMinDate(cyc.c))
    val compacts = cyc.c % CyclesPerDay == CyclesPerDay - 1
    var classified: DataFrame = null
    var result: OpsToJde.Result = null
    var dayRead = (0L, 0L)
    var cardexRows = 0L
    var filesAfter = -1
    var dayBeforeCompact = 0L

    // expectations, from the generated inputs alone
    val flatRows = cyc.actions.flatMap(_.ingredients).map(i => i.batches.size.toLong * i.additions.size).sum
    val eligibleKeys = (for {
      a <- cyc.actions; i <- a.ingredients; b <- i.batches; (v, q) <- i.additions
      if q != 0.0 && i.name.nonEmpty && b.lot.nonEmpty
    } yield (i.name, b.lot, v, q)).toSet
    val newKeys = eligibleKeys -- dispatched
    val jde = cardexTotals(cyc.c)
    val ops = cyc.products.filterNot(_.archived).groupBy(_.productName.toLowerCase)
      .map { case (k, ps) => k -> ps.map(p => BigDecimal(p.onHandAmount)).sum }
    val notFound = jde.keys.count(k => !ops.contains(k))
    val partial = jde.count { case (k, t) => ops.get(k).exists(o => (t - o).abs > BigDecimal("0.001")) }
    val payloads = jde.count { case (k, t) => ops.get(k).exists(o => (t - o).abs > BigDecimal("0.001") && t > o) }

    val run = () => {
      val before = if (ctx.trace.isDefined) Some(Disk.lakeFiles(lake)) else None
      val cardex = ctx.span("sources.rest_read") {
        val df = spark.read.format("graft.sources.rest.RestCardexSource")
          .option("pages", cyc.c + 1).option("rowsPerPage", CardexRowsPerPage)
          .option("apiRunId", runId).load()
          .filter(col("r_date") >= lit(java.sql.Date.valueOf(minDate)))
          .select(col("item").as("item_name"), col("qty"))
          .cache()
        cardexRows = df.count()
        df
      }
      try classified = ctx.span("pipelines.cardextoops") {
        CardexToOps.run(spark, cardex, cyc.products.toDF(), lake, cyc.ts)
      } finally cardex.unpersist()
      result = ctx.span("pipelines.opstojde") {
        OpsToJde.run(spark, cyc.actions.toDF(), state, lake, cyc.ts)
      }
      val appended = before.map(b => Disk.lakeFiles(lake) -- b.keySet)
      dayRead = ctx.span("lake.read_range") {
        val r = LakeWriter.readRange(spark, lake, "jde_dispatch", cyc.day, cyc.day)
          .agg(count(lit(1)), count_distinct(col("unique_transaction_id"))).first()
        (r.getLong(0), r.getLong(1))
      }
      if (compacts) {
        dayBeforeCompact = dayRead._1
        val d = java.time.LocalDate.parse(cyc.day)
        filesAfter = ctx.span("lake.compact") {
          LakeWriter.compact(spark, lake, "jde_dispatch", d.getYear, d.getMonthValue, d.getDayOfMonth)
        }
      }
      val pages = (0 to cyc.c).map(FakeCardexApi.attempts(runId, _)).sum.toDouble
      val base = Map("rest_pages" -> pages, "flattened" -> result.flattened.toDouble,
        "eligible" -> result.eligible.toDouble, "dispatched" -> result.dispatched.toDouble)
      val disk = appended.map { a =>
        val (n, bytes, versions) = Disk.state(state)
        val grown = bytes - liveBytes
        liveBytes = bytes
        Map("lake_files_appended" -> a.size.toDouble, "lake_bytes_appended" -> a.values.sum.toDouble,
          "state_live_bytes" -> bytes.toDouble, "state_bytes_written" -> (if (n > 0) bytes else 0L).toDouble,
          "state_growth" -> grown.toDouble, "state_versions" -> versions.toDouble)
      }.getOrElse(Map.empty)
      base ++ disk ++ (if (compacts) Map("files_after_compact" -> filesAfter.toDouble) else Map.empty)
    }

    val check = () => {
      val errs = mutable.ArrayBuffer.empty[String]
      def expect(what: String, got: Long, want: Long): Unit =
        if (got != want) errs += s"cycle ${cyc.c} $what: got $got, want $want"
      expect("cardex rows", cardexRows, CardexRowsPerPage)
      val statusCounts = classified.groupBy("dispatch_status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      expect("not-found products", statusCounts.getOrElse("Product Not Found", 0L), notFound)
      expect("partial matches", statusCounts.getOrElse("Partial Match", 0L), partial)
      expect("flattened rows", result.flattened, flatRows)
      expect("eligible transactions", result.eligible, eligibleKeys.size)
      expect("dispatched transactions", result.dispatched, newKeys.size)
      if (!replay) {
        dispatched ++= newKeys
        dayRows(cyc.day) += newKeys.size
        dayPayloads(cyc.day) += payloads
      }
      expect("day's lake rows", dayRead._1, dayRows(cyc.day))
      expect("day's distinct lake transactions", dayRead._2, dayRead._1)
      expect("day's ops payloads", LakeWriter.readRange(spark, lake, "ops_dispatch", cyc.day, cyc.day).count(),
        dayPayloads(cyc.day))
      expect("state done-set", DispatchState.read(spark, state).filter(col("status") === "done").count(),
        dispatched.size)
      if (compacts) {
        if (filesAfter < 1) errs += s"cycle ${cyc.c} compaction left $filesAfter files"
        expect("day's lake rows after compaction",
          LakeWriter.readRange(spark, lake, "jde_dispatch", cyc.day, cyc.day).count(), dayBeforeCompact)
      }
      if (errs.isEmpty) None else Some(errs.mkString("; "))
    }
    // named by its place in the day: op_p50_ms combines each name's
    // median, so the compacting cycle weighs as much as each other one
    Op(s"cycle${cyc.c % CyclesPerDay}", slot, run, check)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  override def report: Map[String, Any] = Map(
    "orders_per_batch" -> OrdersPerBatch, "overlap" -> Overlap,
    "cardex_rows_per_page" -> CardexRowsPerPage, "cycles_per_day" -> CyclesPerDay,
    "warmup_cycles" -> WarmupCycles)
}

/** File-system facts the traced dispatch cycles record. */
object Disk {
  private def fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  /** Every data file under the lake, with its size. */
  def lakeFiles(root: String): Map[String, Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val out = mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) out(f.getPath.toString) = f.getLen
      }
      out.toMap
    }
  }

  /** (live version number, its bytes, versions on disk) of a state dir. */
  def state(dir: String): (Long, Long, Int) = {
    val base = new Path(dir)
    if (!fs.exists(base)) (0L, 0L, 0)
    else {
      val versions = fs.listStatus(base).count(s => s.isDirectory && s.getPath.getName.startsWith("v-"))
      val ptr = new Path(base, "CURRENT")
      val n =
        if (!fs.exists(ptr)) 0L
        else {
          val in = fs.open(ptr)
          try scala.io.Source.fromInputStream(in).mkString.trim.toLong finally in.close()
        }
      val live = new Path(base, s"v-$n")
      val bytes = if (fs.exists(live)) fs.getContentSummary(live).getLength else 0L
      (n, bytes, versions)
    }
  }
}
