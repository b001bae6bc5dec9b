package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

/** Scan-side parallelism repair for CPU-heavy row-local passes.
  *
  * The driver's testdata writes every table as ONE parquet row group, and
  * a row group is the unit of scan splitting — so any stage fed directly
  * by a scan runs at most one real task no matter how many cores the
  * session has (the optimization guide's "one huge unsplittable file"
  * input-skew case, §2.5: *repartition immediately after the read*).
  * That is invisible for cheap projections but serializes the expensive
  * row-local folds (per-shingle md5 minhashes, tokenize passes, nested
  * struct builds) that dominate several dedup/text operators.
  *
  * [[spread]] round-robin-repartitions the frame to a width derived from
  * the frame's own optimizer size estimate — never a constant, never more
  * than the session's parallelism — so the call is scale-adaptive: on a
  * real multi-row-group/multi-file table at cluster scale the scan
  * already yields >= parallelism splits and the width formula saturates
  * at `defaultParallelism`, where the extra exchange is one cheap
  * narrow-payload pass (and can be dropped entirely by the planner's
  * AQE coalescing if the input is genuinely large). At toy scale the
  * width degrades toward 1 so sub-megabyte frames don't pay 32-way
  * scheduling for microseconds of work. Round-robin keeps per-partition
  * row counts even (Spark's sort-before-repartition makes the assignment
  * retry-deterministic); results are partition-independent by the
  * catalog's determinism contract, so the rewrite never changes rows.
  *
  * Round-17 fixes:
  *  - the current-width probe no longer calls `Dataset.rdd` on a plan
  *    that carries an exchange: with AQE enabled, `.rdd` forces
  *    `getFinalPhysicalPlan`, which EXECUTES every upstream shuffle stage
  *    eagerly and discards the result (shuffle reuse does not cross
  *    QueryExecutions) — so `spread(spread(scan))` silently ran the scan
  *    + round-robin exchange an extra time at plan-construction, and
  *    `spread(groupBy(...))` ran the whole aggregation. Exchange-free
  *    plans (the bare-scan case this helper exists for) keep the cheap
  *    `.rdd` probe — planning them materializes no stage. Plans that
  *    already carry a round-robin repartition at least as wide are left
  *    alone; any other exchange-bearing plan is repartitioned outright
  *    (its post-shuffle width is AQE-decided at runtime and unknowable
  *    without executing — and was previously always below the target,
  *    since the eager probe measured the COALESCED width).
  *  - the width is additionally capped so that concurrent spread tasks
  *    cannot out-run execution memory (guide §5: more concurrency =
  *    less memory per task; the round-16 constrained pass turned two
  *    spill-and-finish queries into hard OOMs by running 32 concurrent
  *    CPU-heavy tasks against a ~77 MiB unified pool). The cap mirrors
  *    UnifiedMemoryManager's pool arithmetic from public session confs
  *    and floors each would-be-concurrent task at
  *    `spark.graft.spread.taskMemFloor` (default 16 MiB) of pool share;
  *    on any production-sized heap the cap is far above core count and
  *    never binds.
  */
object Par {
  /** Bytes of (estimated) input one task should carry through a
    * CPU-heavy row-local pass. Deliberately far below the scan-split
    * size: these passes cost orders of magnitude more CPU per byte than
    * a plain scan. Overridable for experiments via
    * `spark.graft.spread.bytesPerTask`. */
  private val DefaultBytesPerTask = 32L * 1024

  /** Minimum unified-pool share a concurrent spread task must be able to
    * claim before width stops growing (see the memory-cap note above). */
  private val DefaultTaskMemFloor = 16L * 1024 * 1024

  private def longConf(ds: Dataset[_], key: String, default: Long): Long =
    ds.sparkSession.conf.getOption(key).map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a long, got '$v'")
      }
    }.getOrElse(default)

  /** Width ceiling from execution memory: unified pool bytes (the
    * UnifiedMemoryManager arithmetic — (systemMemory − reserved) ×
    * spark.memory.fraction, honoring the spark.testing.* overrides the
    * constrained bench pass uses) divided by the per-task floor. */
  private def memWidthCap(ds: Dataset[_]): Long = {
    val conf = ds.sparkSession.conf
    val sysMem = conf.getOption("spark.testing.memory").map(_.trim.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory)
    val reserved = conf.getOption("spark.testing.reservedMemory")
      .map(_.trim.toLong).getOrElse(300L * 1024 * 1024)
    val fraction = conf.getOption("spark.memory.fraction")
      .map(_.trim.toDouble).getOrElse(0.6)
    val pool = math.max(0L, ((sysMem - reserved) * fraction).toLong)
    math.max(1L, pool / longConf(ds, "spark.graft.spread.taskMemFloor",
      DefaultTaskMemFloor))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` sized from a measured
    * quantity, ceil(measured / perPartition) clamped to [1, 32768], and
    * restore the previous value afterwards. For work whose partition count
    * the session default (the core count) gets wrong in both directions:
    * tiny frames pay per-partition fixed cost on every stage, and on a
    * cluster the width should follow the data. Measured, not planned:
    * a lineage-cut input reports the Long.MaxValue size estimate. The
    * session conf is shared, so this is safe only while one query runs on
    * a session at a time, as in every graft harness. */
  def withShufflePartitions[T](spark: SparkSession, measured: Long,
                               perPartition: Long)(body: => T): T = {
    val n = math.min(math.max(1L, (measured + perPartition - 1) / perPartition), 32768L)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val bytesPerTask =
      longConf(ds, "spark.graft.spread.bytesPerTask", DefaultBytesPerTask)
    val bytes = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = spark.sparkContext.defaultParallelism
    val n = bytes./(bytesPerTask)
      .min(BigInt(cap)).min(BigInt(memWidthCap(ds))).max(BigInt(1)).toInt
    if (n <= 1) ds
    else {
      import org.apache.spark.sql.catalyst.plans.logical.Repartition
      val hasExchange = ds.queryExecution.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      if (!hasExchange) {
        // bare scan/narrow plan: .rdd materializes no stage here, and the
        // split count is the honest current width — no-op when the scan
        // already splits at least `n` wide (a real multi-row-group or
        // multi-file table at cluster scale), per the scaladoc contract
        if (ds.rdd.getNumPartitions >= n) ds else ds.repartition(n)
      } else {
        // "already spread" means a round-robin repartition at the TOP of
        // the plan (through narrow row-preserving ops only) — a
        // Repartition buried below an aggregation/join says nothing
        // about the width of THIS frame's output
        import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
        @annotation.tailrec
        def topSpread(p: LogicalPlan): Boolean = p match {
          case r: Repartition => r.shuffle && r.numPartitions >= n
          case pr: Project => topSpread(pr.child)
          case f: Filter => topSpread(f.child)
          case _ => false
        }
        if (topSpread(ds.queryExecution.optimizedPlan)) ds
        else ds.repartition(n)
      }
    }
  }
}
