package graft

import com.fasterxml.jackson.databind.JsonNode
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{AtomicMoveNotSupportedException, Files, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE, TRUNCATE_EXISTING, WRITE}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Full-catalog evidence harness: times every catalog query against
  * SPARK_GRAFT_SF_DIR through the noop sink, then the optional passes, and
  * prints the complete JSON line followed by a compact (< 1.5 KB) last
  * line, which a consumer keeping only a stdout tail can still parse. The
  * complete line is also written atomically where [[artifactDest]] says.
  *
  * Main pass: SPARK_GRAFT_RUNS samples a query (default 3); `queries`
  * holds medians, `raw` the samples, `load` the loadavg before each;
  * `value` sums the medians and `value_min` the minima, which move least
  * with box load. Optional passes, cheap and contention-sensitive first:
  * streaming (REST source points), state (RocksDB watermark plateau),
  * constrained (spill under a capped memory pool), scaled (the
  * [[headline]] set on a SPARK_GRAFT_SCALE_COPIES× replica, default 10)
  * and scaled-full (the catalog on a SPARK_GRAFT_SCALE_FULL× one,
  * default 5). Each admits only while budget remains
  * (SPARK_GRAFT_BENCH_BUDGET_SEC, default 2520 s, under the ~2700 s hard
  * timeout); what is not admitted is listed in `skipped`.
  */
object Bench {
  /** The scale-curve subset: the scan, join, aggregation, dedup, text,
    * ANN, graph, sketch, streaming-state and pipeline shapes whose scale
    * claims are worth a second data point; the rest of the catalog
    * repeats these plan shapes. */
  val headline: Set[String] = Set(
    "flagship_reconcile", "nested_flatten_actions", "f5_f7_transaction_ids",
    "j5_anti_dispatched", "j_asof_attribution", "w_session_window_native",
    "dd_exact_groups", "dd_minhash_lsh", "dd_lsh_confirm", "dd_simhash",
    "dd_conn_components", "dd_conn_components_alt", "dd_pipeline_keepers",
    "ann_topk_agg", "t_token_quality", "s_pack_sequences", "mm_decode_stats",
    "dd_substring_spans", "emb_kmeans", "emb_avg_pool", "g_pagerank",
    "corpus_pipeline_keepers", "g_triangle_count", "t_bpe_train_merges",
    "a_countmin_heavy", "w_rolling_distinct", "mm_phash_dedup",
    "w_hll_sliding_distinct", "g_bfs_levels", "j_interval_overlap",
    "corpus_pipeline_incremental", "dd_minhash_incremental", "emb_hamming_topk",
    "sq_scalar_small_qty", "k_fifo_costing", "a_bitmap_distinct", "geo_grid_join",
    "t_tfidf_topterms", "dd_entity_resolution", "j_q9_profit_rollup",
    "a_kmv_quantiles", "a_ks_test", "w_ohlc_vwap", "g_sssp_bellman",
    "dd_symspell_neighbors", "w_max_concurrency", "a_survival_hazard",
    // the window form and its bounded-heap twin, to show what the twin buys
    "geo_knn_ranked", "geo_knn_adaptive")

  /** The constrained-memory (spill) subset: the headliners with the
    * largest shuffle working sets; scan-dominated ones would never spill.
    * Also the front of the scaled pass's order. */
  val shuffleHeavy: Seq[String] = Seq(
    "j_q9_profit_rollup",     // 6-table join-order stress, fact-fact SMJ
    "flagship_reconcile",     // full-outer report join
    "j5_anti_dispatched",     // anti-join past any broadcast ceiling
    "dd_exact_groups",        // hash groupBy on content key
    "dd_minhash_lsh",         // band explode + bucket shuffle
    "dd_conn_components",     // iterative min-label shuffles
    "t_tfidf_topterms",       // token explode + vocab-bucketed agg
    "w_rolling_distinct",     // window sort over event stream
    "emb_kmeans",             // packed-row agg over embeddings
    "geo_grid_join")          // grid-cell equi-join, dense cells

  /** State pass size: without eviction 12 × 150k windowed rows would pile
    * up; the watermark holds the store at 4 × keys. */
  val StateKeys = 150000
  val StateBatches = 12
  val ScaleRuns = 2
  val FullRuns = 1
  /** Spark reserves 300 MB below `spark.testing.memory` by default, which
    * leaves nothing under a cap this small; 64 MiB reserved under the
    * 192 MiB default cap leaves a ~77 MiB unified pool, and 8 shuffle
    * partitions push per-task working sets past it. */
  val ConstrainedReservedBytes: Long = 64L << 20
  val ConstrainedPartitions = 8
  private val FullFloorSec = 600.0

  type Query = (SparkSession, String) => DataFrame
  type Record = ListMap[String, Any]

  private[graft] final case class MainRow(name: String, samples: Seq[Double], loads: Seq[Double]) {
    def median: Double = samples.sorted.apply(samples.length / 2)
  }
  private[graft] final case class ScaledRow(name: String, samples: Seq[Double],
                                            loads: Seq[Double], err: Option[String],
                                            attempts: Int)
  /** An optional pass: admitted while `floorSec` of budget remains; its
    * fragment merges into the record's `key` object; None = skipped. */
  private final case class Pass(label: String, floorSec: Double, key: String,
                                on: Boolean = true)(val body: () => Option[Record])

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2520").toDouble
    def elapsedSec: Double = (System.nanoTime() - startNs) / 1e9
    def remainingSec: Double = budgetSec - elapsedSec
    def log(msg: String): Unit = System.err.println(s"[bench] $msg")
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    /** The one budget rule: start `label` only if its estimated cost fits
      * what is left, so the run lands under the budget rather than
      * finding the overshoot mid-query. */
    def admit(label: String, estSec: Double): Boolean =
      remainingSec >= estSec || {
        log(f"budget short (${remainingSec}%.0f s < $estSec%.0f s): skipping $label")
        skipped += label
        false
      }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val pages = sys.env.getOrElse("SPARK_GRAFT_STREAM_PAGES", "512").toInt
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val fullCopies = sys.env.getOrElse("SPARK_GRAFT_SCALE_FULL", "5").toInt
    val cCopies = sys.env.get("SPARK_GRAFT_CONSTRAINED_COPIES").fold(copies)(_.toInt)
    val only = Harness.only
    // a var: the constrained pass replaces the session; closures read the
    // live one
    var spark = Harness.session()
    val replicas = new Harness.Replicas(sfDir)
    // warm-up (codegen compiler, parquet footers, scheduler) so the first
    // query does not absorb one-time costs
    Harness.timeNoop(spark, (s, _) => SparkEntry.entry(s), sfDir)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val results = names.map { case (name, fn) =>
      val sampled = (1 to runs).map { i =>
        log(s"running $name ($i/$runs)")
        val load = Harness.loadavg
        val t0 = System.nanoTime()
        val sec = Harness.timeNoop(spark, fn, sfDir).fold({ e =>
          log(s"$name failed: $e"); (System.nanoTime() - t0) / 1e9 }, identity)
        (sec, load)
      }
      MainRow(name, sampled.map(_._1), sampled.map(_._2))
    }
    val mainMed = results.map(r => r.name -> r.median).toMap
    log(f"main pass done at ${elapsedSec}%.0f s (budget $budgetSec%.0f s)")
    // One run of `name` on a `copies`× replica: main median × copies × 1.5
    // (a_bitmap_distinct measured ×1.57 per copy at 10×). Floor 1 s: even
    // a millisecond query pays scheduling and the noop commit.
    def estSec(name: String, copies: Int): Double =
      math.max(1.0, mainMed.getOrElse(name, 1.0) * copies * 1.5)
    // Runs to pay for up front: a query whose fastest sample is >= 5 s
    // takes one adaptive extra run (min-of-2 absorbs spikes but not
    // sustained load), so one estimated at >= 5 s is charged for it.
    def plannedRuns(name: String, copies: Int, runsN: Int): Int =
      if (runsN > 1 && estSec(name, copies) >= 5.0) runsN + 1 else runsN

    def runSet(dir: String, qs: Seq[(String, Query)], tag: String, copies: Int,
               runsN: Int): Seq[ScaledRow] =
      qs.filter { case (name, _) =>
        admit(s"$tag:$name", estSec(name, copies) * plannedRuns(name, copies, runsN))
      }.map { case (name, fn) =>
        var err = Option.empty[String]
        val loads = Vector.newBuilder[Double]
        var attempts = 0
        def sample(i: Int, n: Int): Option[Double] = {
          log(s"$tag(${copies}x) $name ($i/$n)")
          attempts += 1
          loads += Harness.loadavg
          Harness.timeNoop(spark, fn, dir) match {
            case Right(sec) => Some(sec)
            case Left(e) => log(s"$tag $name failed: $e"); err = Some(e); None
          }
        }
        var samples = (1 to runsN).flatMap(sample(_, runsN))
        if (runsN > 1 && samples.nonEmpty && samples.min >= 5.0)
          samples ++= sample(runsN + 1, runsN + 1)
        ScaledRow(name, samples, loads.result(), err, attempts)
      }

    // A query with no successful run is retried once on the same replica,
    // to tell a transient failure from a reproducible one.
    def scaledPass(copies: Int, qs: Seq[(String, Query)], label: String,
                   runsN: Int, runsRequested: Int): Record = {
      val dir = replicas(spark, copies)
      val first = runSet(dir, qs, label, copies, runsN)
      val failed = first.filter(_.samples.isEmpty).map(_.name).toSet
      val retry = runSet(dir, qs.filter(q => failed(q._1)), s"$label-retry", copies, runsN)
        .map(r => r.name -> r).toMap
      val rows = first.map(r => retry.getOrElse(r.name, r))
      scaledRecord(copies, runsN, runsRequested, rows,
        rescued = rows.filter(r => retry.contains(r.name) && r.samples.nonEmpty).map(_.name))
    }

    // Streaming points fail soft one by one: a later point's failure must
    // not discard the earlier points' numbers.
    def streamingPass(): Record = {
      def point(label: String, pages: Int, rowsPerPage: Int, perTrigger: Int) =
        try Some(StreamPoints.rest(spark, pages, rowsPerPage, perTrigger))
        catch { case e: Throwable =>
          log(s"streaming point $label failed: $e")
          skipped += s"streaming.$label"; None }
      val main = point("stream", pages, 2000, 8)
      val wide = point("wide", math.max(pages / 4, 8), 10000, 8)
      // 640k rows a batch, so per-row work outweighs the ~130 ms fixed
      // per-batch cost that bounds the other two points
      val bulk = point("bulk", math.max(pages, 8), 10000, 64)
      main.getOrElse(ListMap.empty) ++ wide.map("wide" -> _) ++ bulk.map("bulk" -> _)
    }

    def constrainedPass(cCopies: Int): Record = {
      val dir = replicas(spark, cCopies) // generated with the normal session
      // An absolute cap, not a heap fraction: the pool is the same on any
      // box. spark.testing.memory is UnifiedMemoryManager's system memory.
      val memBytes = sys.env.get("SPARK_GRAFT_CONSTRAINED_MEM_BYTES")
        .fold(192L << 20)(_.toLong)
      spark.stop()
      try {
        val cs = Harness.session(conf = Map(
          "spark.sql.shuffle.partitions" -> ConstrainedPartitions.toString,
          "spark.testing.memory" -> memBytes.toString,
          "spark.testing.reservedMemory" -> ConstrainedReservedBytes.toString))
        // everything after creation stays inside this try: a leaked
        // squeezed session would be returned by the rebuild below
        try {
          val spillMem = new java.util.concurrent.atomic.AtomicLong
          val spillDisk = new java.util.concurrent.atomic.AtomicLong
          val tasksEnded = new java.util.concurrent.atomic.AtomicLong
          cs.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
              Option(e.taskMetrics).foreach { m =>
                spillMem.addAndGet(m.memoryBytesSpilled)
                spillDisk.addAndGet(m.diskBytesSpilled)
              }
              tasksEnded.incrementAndGet(); ()
            }
          })
          val qmap = names.toMap
          val rows = shuffleHeavy.filter(qmap.contains).map { name =>
            // spill I/O comes on top of the scaled estimate, hence 2×
            name -> (if (!admit(s"constrained:$name", 2 * estSec(name, cCopies)))
              ListMap("skipped" -> true)
            else {
              log(s"constrained(${cCopies}x) $name")
              val m0 = spillMem.get(); val d0 = spillDisk.get()
              val t0 = System.nanoTime()
              val r = Harness.timeNoop(cs, qmap(name), dir)
              val sec = r.getOrElse((System.nanoTime() - t0) / 1e9)
              // task-end events arrive async: wait until the count stops
              // moving (max 2 s) so the spill lands on this query
              var last = -1L; var spins = 0
              while (last != tasksEnded.get() && spins < 20) {
                last = tasksEnded.get(); Thread.sleep(100); spins += 1
              }
              val err = r.swap.toOption
              err.foreach(e => log(s"WARNING constrained $name FAILED (not a spill): $e"))
              constrainedQuery(sec, spillMem.get() - m0, spillDisk.get() - d0, err)
            })
          }
          constrainedRecord(cCopies, memBytes, spillMem.get(), spillDisk.get(), rows)
        } finally cs.stop()
      } finally spark = Harness.session()
    }

    // A pass-level estimate for the lookahead (per-query admission keeps
    // the conservative estSec): per run max(2.5 s, 1× min × copies × 0.4)
    // matched the committed 10× passes within +12% (full catalog) and −14%
    // (headliners); replicas take ~20 s a copy at sf0.1.
    def estPassSec(qnames: Seq[String], cps: Int, runsN: Int): Double =
      (if (replicas.has(cps)) 0.0 else 20.0 * cps) + qnames.map { n =>
        math.max(2.5, mainMed.getOrElse(n, 1.0) * cps * 0.4) * plannedRuns(n, cps, runsN)
      }.sum

    // Shuffle-heavy first (their scale claims ride on shuffle behaviour),
    // then by descending main median, so a squeeze sheds the cheap tail.
    def scaledHeadline(): Record = {
      val rank = shuffleHeavy.zipWithIndex.toMap
      val ordered = names.filter(q => headline(q._1))
        .sortBy { case (n, _) => (rank.getOrElse(n, Int.MaxValue), -mainMed(n)) }
      val fullFloor =
        if (fullCopies <= 0) 0.0
        else math.max(FullFloorSec, estPassSec(names.map(_._1), fullCopies, FullRuns))
      val est = (r: Int) => estPassSec(ordered.map(_._1), copies, r)
      val runsEff = lookaheadScaleRuns(ScaleRuns, remainingSec, est, fullFloor)
      if (runsEff < ScaleRuns)
        log(f"scaled lookahead: $runsEff of $ScaleRuns runs (est ${est(ScaleRuns)}%.0f s " +
          f"+ scaled-full floor $fullFloor%.0f s > ${remainingSec}%.0f s left)")
      scaledPass(copies, ordered, "scaled", runsEff, ScaleRuns)
    }

    val passes = Seq(
      Pass("streaming", 120, "streaming", on = pages > 0)(() => Some(streamingPass())),
      Pass("streaming.state", 90, "streaming", on = pages > 0)(() =>
        Some(ListMap("state" -> StreamPoints.state(spark, StateKeys, StateBatches)))),
      // a 1× fallback would report zero spill that reads as "no pressure"
      Pass("constrained", 300, "constrained")(() =>
        if (cCopies > 0) Some(constrainedPass(cCopies))
        else { log(s"constrained disabled (copies=$cCopies)"); None }),
      Pass("scaled", 420, "scaled", on = copies > 0)(() => Some(scaledHeadline())),
      Pass("scaled-full", FullFloorSec, "scaled", on = fullCopies > 0)(() =>
        Some(ListMap("full" -> scaledPass(fullCopies, names.sortBy(q => -mainMed(q._1)),
          "scaled-full", FullRuns, FullRuns)))))
    val blocks = passes.filter(_.on).foldLeft(ListMap.empty[String, Record]) { (acc, p) =>
      if (!admit(p.label, p.floorSec)) acc
      else (try p.body() catch { case e: Throwable =>
        log(s"${p.label} pass skipped: $e"); None }) match {
        case None => skipped += p.label; acc
        case Some(f) if f.isEmpty => acc
        case Some(f) => acc.updated(p.key, acc.getOrElse(p.key, ListMap.empty) ++ f)
      }
    }
    replicas.close()

    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).stripSuffix(".")).getOrElse("0")
    val record = mainRecord(results, runs, sf, Harness.cpus, budgetSec, elapsedSec,
      skipped.toSeq) ++ blocks
    val tree = Harness.mapper.valueToTree[JsonNode](record)
    val cErrors = constrainedErrors(tree)
    val degraded = tree.at("/scaled/runs_requested").isNumber
    val benchOut = artifactDest(sys.env.get("SPARK_GRAFT_BENCH_OUT"),
      narrow = only.nonEmpty || results.isEmpty, skippedN = skipped.length, sf = sf,
      degraded = degraded, cpus = Harness.cpus.toString, constrainedErrors = cErrors)
    artifactNotice(benchOut, skipped.length, degraded, cErrors).foreach(System.err.println)
    val line = Harness.json(record)
    benchOut.foreach { out =>
      try writeAtomic(out, line + "\n")
      catch { case e: Throwable => log(s"BENCHFULL write skipped: $e") }
    }
    // stop first so shutdown logging cannot follow the result lines
    spark.stop()
    println(line)
    println(Harness.json(compact(tree, benchOut)))
    System.out.flush()
  }

  private[graft] def mainRecord(rows: Seq[MainRow], runs: Int, sf: String, cpus: Int,
                                budgetSec: Double, elapsedSec: Double,
                                skipped: Seq[String]): Record =
    ListMap("metric" -> "total", "value" -> rows.map(_.median).sum,
      "value_min" -> rows.map(_.samples.min).sum, "unit" -> "sec",
      "queries" -> ListMap(rows.map(r => r.name -> r.median): _*), "runs" -> runs,
      "raw" -> ListMap(rows.map(r => r.name -> r.samples.sorted): _*),
      "load" -> ListMap(rows.map(r => r.name -> r.loads.map(Harness.round2)): _*),
      "sf" -> sf.toDouble, "cpus" -> cpus, "budget_sec" -> budgetSec,
      "elapsed_sec" -> elapsedSec, "skipped" -> skipped)

  /** `queries` holds each query's min (the contention-free estimate: load
    * only ever slows a sample); `failed` the queries with no successful
    * run, `partial` those with some failed runs ([successes, attempts,
    * last error]), `retried` those the retry rescued. */
  private[graft] def scaledRecord(copies: Int, runs: Int, runsRequested: Int,
                                  rows: Seq[ScaledRow], rescued: Seq[String]): Record = {
    val good = rows.filter(_.samples.nonEmpty)
    ListMap("copies" -> copies, "runs" -> runs) ++
      (if (runsRequested != runs) Some("runs_requested" -> runsRequested) else None) ++
      ListMap("value" -> good.map(_.samples.min).sum,
        "queries" -> ListMap(good.map(r => r.name -> r.samples.min): _*),
        "raw" -> ListMap(good.map(r => r.name -> r.samples): _*),
        "load" -> ListMap(good.map(r => r.name -> r.loads.map(Harness.round2)): _*),
        "failed" -> rows.filter(_.samples.isEmpty).map(r =>
          ListMap("name" -> r.name, "err" -> r.err.getOrElse("unknown"))),
        "partial" -> ListMap(good.filter(r => r.samples.length < r.attempts).map(r =>
          r.name -> Seq(r.samples.length, r.attempts, r.err.getOrElse(""))): _*),
        "retried" -> rescued)
  }

  private[graft] def constrainedQuery(sec: Double, spillMem: Long, spillDisk: Long,
                                      err: Option[String]): Record =
    ListMap("sec" -> sec, "spill_mem_bytes" -> spillMem, "spill_disk_bytes" -> spillDisk) ++
      err.map("err" -> _)

  private[graft] def constrainedRecord(copies: Int, memBytes: Long, spillMem: Long,
                                       spillDisk: Long, queries: Seq[(String, Record)]): Record =
    ListMap("copies" -> copies, "memory_bytes" -> memBytes,
      "reserved_bytes" -> ConstrainedReservedBytes,
      "shuffle_partitions" -> ConstrainedPartitions, "spill_mem_bytes" -> spillMem,
      "spill_disk_bytes" -> spillDisk, "queries" -> ListMap(queries: _*))

  private def constrainedErrors(full: JsonNode): Int =
    full.at("/constrained/queries").elements.asScala.count(_.has("err"))

  /** The final stdout line, derived from the complete record: headline
    * totals, the five slowest queries, the streaming, scaled and spill
    * summaries and where the complete record went. */
  private[graft] def compact(full: JsonNode, artifact: Option[String]): Record = {
    def at(p: String): Option[JsonNode] = Some(full.at(p)).filterNot(_.isMissingNode)
    val qs = full.get("queries").properties.asScala.toSeq.map(e => e.getKey -> e.getValue)
    val summary = Seq(
      "main.value" -> at("/value"), "main.value_min" -> at("/value_min"),
      "stream.steady_rps" -> at("/streaming/steady_rows_per_sec"),
      "wide.steady_rps" -> at("/streaming/wide/steady_rows_per_sec"),
      "bulk.steady_rps" -> at("/streaming/bulk/steady_rows_per_sec"),
      "constrained.spill_mem_bytes" -> at("/constrained/spill_mem_bytes"),
      "constrained.spill_disk_bytes" -> at("/constrained/spill_disk_bytes"),
      "constrained.errors" -> at("/constrained").map(_ => constrainedErrors(full)),
      "scaled.n" -> at("/scaled/queries").map(_.size),
      "scaled.value" -> at("/scaled/value"),
      "scaled-full.n" -> at("/scaled/full/queries").map(_.size),
      "scaled-full.value" -> at("/scaled/full/value"))
    ListMap("metric" -> "total", "value" -> full.get("value"),
      "value_min" -> full.get("value_min"), "unit" -> "sec", "sf" -> full.get("sf"),
      "cpus" -> full.get("cpus"), "compact" -> true, "n_queries" -> qs.size,
      "runs" -> full.get("runs"), "budget_sec" -> full.get("budget_sec"),
      "elapsed_sec" -> full.get("elapsed_sec"), "skipped_n" -> full.get("skipped").size,
      "artifact" -> artifact,
      "queries" -> ListMap(qs.sortBy(-_._2.asDouble).take(5): _*),
      "summary" -> ListMap(summary.collect { case (k, Some(v)) => k -> v }: _*))
  }

  /** The stderr notice that says where (or why not) the complete line
    * landed. Keyed on the skip count, not on the destination's name, so a
    * skip-bearing write always announces its real destination; a write
    * over a complete-record path adds a warning. */
  private[graft] def artifactNotice(benchOut: Option[String], skippedN: Int,
                                    degraded: Boolean = false,
                                    constrainedErrors: Int = 0): Option[String] =
    benchOut match {
      case None =>
        Some("[bench] narrow run: BENCHFULL write skipped (set SPARK_GRAFT_BENCH_OUT to force)")
      case Some(out) if skippedN > 0 =>
        val suffix =
          if (out.contains("BENCHFULL_PARTIAL")) ", complete record preserved"
          else if (out.contains("BENCHFULL"))
            " — WARNING: skip-bearing line over a complete-record path"
          else ""
        Some(s"[bench] $skippedN passes skipped: writing $out$suffix")
      case Some(out) if constrainedErrors > 0 =>
        Some(s"[bench] WARNING: $constrainedErrors constrained-pass failures " +
          s"(hard errors, not spills): writing $out, complete record preserved")
      case Some(out) if degraded =>
        Some(s"[bench] zero-skip but lookahead-degraded run: writing $out, " +
          "full-fidelity record preserved")
      case Some(out) if out.contains("BENCHFULL_PARTIAL") =>
        Some(s"[bench] zero-skip run writing to explicit partial path $out")
      case _ => None
    }

  /** How many headline-pass runs to request: under a squeezed budget a
    * full-fidelity headline pass can leave scaled-full, which runs after
    * it, below its floor. One run fewer loses less than a whole pass, so
    * drop runs (never below 1) only when that rescues scaled-full.
    *
    * @param estScaledAtRuns pass-level cost estimate for the headline
    *                        pass at a given run count (replica + runs)
    * @param fullFloorSec    what must remain for scaled-full to admit
    *                        (0 when no scaled-full pass is configured) */
  private[graft] def lookaheadScaleRuns(requested: Int, remainingSec: Double,
                                        estScaledAtRuns: Int => Double,
                                        fullFloorSec: Double): Int =
    if (fullFloorSec <= 0 ||
        estScaledAtRuns(requested) + fullFloorSec <= remainingSec) requested
    else (requested - 1 to 1 by -1)
      .find(r => estScaledAtRuns(r) + fullFloorSec <= remainingSec)
      .getOrElse(requested)

  /** Where the complete line lands. An explicit SPARK_GRAFT_BENCH_OUT
    * always wins. A narrow run (SPARK_GRAFT_ONLY set, or zero queries
    * timed) writes nowhere. Only a zero-skip, full-fidelity, error-free
    * run at sf0.1 on 32 cores claims BENCHFULL.json; a run with skips, a
    * lookahead-degraded headline pass or constrained-pass errors goes to
    * the PARTIAL sibling, and another SF or core count gets an `_sfN` or
    * `_cN` suffix, so no run can shadow the committed record. */
  private[graft] def artifactDest(explicit: Option[String], narrow: Boolean,
                                  skippedN: Int, sf: String = "0.1",
                                  degraded: Boolean = false, cpus: String = "32",
                                  constrainedErrors: Int = 0): Option[String] =
    explicit.orElse {
      val cs = if (cpus == "32") "" else s"_c$cpus"
      if (narrow) None
      else if ((skippedN > 0 || degraded || constrainedErrors > 0) && sf == "0.1")
        Some(s"/root/repo/BENCHFULL_PARTIAL$cs.json")
      else if (skippedN > 0 || degraded || constrainedErrors > 0)
        Some(s"/root/repo/BENCHFULL_PARTIAL_sf$sf$cs.json")
      else if (sf == "0.1") Some(s"/root/repo/BENCHFULL$cs.json")
      else Some(s"/root/repo/BENCHFULL_sf$sf$cs.json")
    }

  /** Atomic artifact write: stage the content in an fsync'd `.tmp`
    * sibling, then rename over the destination, so a run killed at any
    * point leaves the destination absent or holding a previous complete
    * line. Falls back to a plain replace where the filesystem lacks atomic
    * rename; the `.tmp` sibling is removed either way. */
  private[graft] def writeAtomic(out: String, content: String): Unit = {
    val dest = Paths.get(out).toAbsolutePath
    val tmp = dest.resolveSibling(dest.getFileName.toString + ".tmp")
    try {
      val ch = FileChannel.open(tmp, CREATE, TRUNCATE_EXISTING, WRITE)
      try {
        ch.write(ByteBuffer.wrap(content.getBytes(UTF_8)))
        ch.force(true)
      } finally ch.close()
      try Files.move(tmp, dest, ATOMIC_MOVE, REPLACE_EXISTING)
      catch { case _: AtomicMoveNotSupportedException => Files.move(tmp, dest, REPLACE_EXISTING) }
    } finally { Files.deleteIfExists(tmp); () }
  }
}
