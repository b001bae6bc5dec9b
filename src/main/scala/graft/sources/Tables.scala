package graft.sources

import com.google.common.cache.{Cache, CacheBuilder}
import com.google.common.collect.MapMaker
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided Parquet tables (TESTDATA.md).
  *
  * These play the roles of the reference's sources (SURVEY.md §2.1):
  *  - `lineitem`/`orders`  — JDE Cardex transaction stream (S2)
  *  - `part`/`supplier`/`customer` — item-master / ops-product dims (S3, S4)
  *  - `events`             — the ADDITION action stream (S5, S6)
  *  - `documents`/`embeddings` — training-data pipeline extensions
  *
  * All reads are plain columnar Parquet scans: Catalyst pushes filters and
  * prunes columns (the reference always did `SELECT *`,
  * /root/reference/backend/main.py:120 — we explicitly do not).
  *
  * Schema registry: a bare `spark.read.parquet` infers the schema with one
  * Spark job per call, even for a single file, and the reference re-read
  * its sources on every request. Every load here goes through [[parquet]],
  * which resolves each path's schema once per session and reads it with
  * `spark.read.schema(cached)` afterwards — no job, only a file status
  * call or listing for the fingerprint below (Dremel's
  * retrospective, VLDB 2020: reuse file metadata across queries instead
  * of re-deriving it per query).
  *  - Key: the session (its conf decides inference, e.g.
  *    `spark.sql.legacy.parquet.nanosAsLong`), the qualified path, and a
  *    fingerprint of what is on disk — a file's length and modification
  *    time, or for a directory (a Spark-written replica) its sorted leaf
  *    files with theirs.
  *  - Staleness: a load whose fingerprint differs from the cached one (a
  *    rewritten file, a regenerated directory) infers again and replaces
  *    the entry. The fingerprint is taken BEFORE inference, so a write
  *    racing the inference leaves an entry that mismatches the next look
  *    and re-infers — never a stale schema.
  *  - Concurrency: sessions sit in a weak-keyed concurrent map (a dropped
  *    session takes its entries with it) and paths in a concurrent cache;
  *    no lock is held while a schema is inferred. Two threads resolving
  *    the same cold path may both infer; both get the same schema.
  *
  * Its callers load immutable inputs: the source tables, their replicas,
  * and the state stores' `v-<n>` snapshots. Append targets (the lake) read
  * directly — every append would change the fingerprint anyway.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Resolved(fingerprint: Seq[(String, Long, Long)], schema: StructType)

  // Per session, bounded: the state stores publish a new `v-<n>` path
  // every cycle, so a long-lived session would otherwise keep one dead
  // entry per published version.
  private val MaxPathsPerSession = 4096L
  private val registry: java.util.concurrent.ConcurrentMap[SparkSession, Cache[String, Resolved]] =
    new MapMaker().weakKeys().makeMap()

  private def fingerprint(fs: FileSystem, path: Path): Seq[(String, Long, Long)] = {
    val st = fs.getFileStatus(path)
    if (!st.isDirectory) Seq((path.toString, st.getLen, st.getModificationTime))
    else {
      val leaves = fs.listFiles(path, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (leaves.hasNext) {
        val f = leaves.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result().sorted
    }
  }

  /** Load the immutable Parquet file or directory at `path`, inferring its
    * schema only on the session's first load of what is on disk now. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(raw)
    val key = qualified.toString
    val onDisk = fingerprint(fs, qualified)
    val schemas = registry.computeIfAbsent(spark,
      _ => CacheBuilder.newBuilder().maximumSize(MaxPathsPerSession).build[String, Resolved]())
    Option(schemas.getIfPresent(key)).filter(_.fingerprint == onDisk) match {
      case Some(r) => spark.read.schema(r.schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.put(key, Resolved(onDisk, df.schema))
        df
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  /** events.ts has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (arrives as long nanoseconds
    * under spark.sql.legacy.parquet.nanosAsLong=true) and parquet
    * TIMESTAMP(MICROS) without a timezone (arrives as TIMESTAMP_NTZ). The
    * reference is schema-on-read everywhere (schema_manager.py:177-223
    * infers; bakery_helper.py:188-197 adapts to incoming columns), so the
    * loader branches on the SCANNED dtype instead of assuming one shape —
    * a drift in the upstream writer must never kill every downstream query.
    *
    * Both branches expose the same canonical pair:
    *  - `ts`    TimestampType (UTC session) — micros precision, identical
    *    to DuckDB's reading of the same file in both encodings;
    *  - `ts_ns` LongType epoch-nanoseconds — kept for consumers that key
    *    or arithmetic on the raw long.
    * Event-time BOUNDS should go through [[eventsSince]], which places the
    * predicate on the raw scanned column so it reaches the parquet scan
    * as a PushedFilter (row-group skipping — the difference between
    * scanning a day and scanning a year at 100 TB). */
  def events(s: SparkSession, d: String): DataFrame =
    decorateEvents(t(s, d, "events"))

  /** events with `ts >= boundNs` applied to the RAW scanned column, before
    * any conversion — pushes down on every physical encoding. `boundNs` is
    * epoch-nanoseconds (micros-aligned for the MICROS encoding). */
  def eventsSince(s: SparkSession, d: String, boundNs: Long): DataFrame = {
    val raw = t(s, d, "events")
    decorateEvents(raw.filter(col("ts") >= rawTsLiteral(raw.schema("ts").dataType, boundNs)))
  }

  private def rawTsLiteral(dt: DataType, boundNs: Long): Column = dt match {
    case LongType => lit(boundNs) // nanos-as-long encoding
    case TimestampNTZType =>
      lit(java.time.LocalDateTime.ofEpochSecond(
        boundNs / 1000000000L, (boundNs % 1000000000L).toInt, java.time.ZoneOffset.UTC))
    case _ => lit(java.time.Instant.ofEpochSecond(
      boundNs / 1000000000L, boundNs % 1000000000L))
  }

  private def decorateEvents(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => // TIMESTAMP(NANOS) read as long: floor-truncate to micros
      raw.withColumn("ts_ns", col("ts"))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType | TimestampType => // native micros timestamp
      // The NTZ->TimestampType cast interprets the wall time in the
      // SESSION zone, so it is the exact identity on epoch micros ONLY
      // under spark.sql.session.timeZone=UTC (which GraftSession and the
      // sbt test JVM both pin). Guarded rather than assumed: an entry
      // point that built its own session in another zone would otherwise
      // silently shift every event timestamp and ts_ns.
      require(raw.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
        "events loader requires spark.sql.session.timeZone=UTC (the " +
          "NTZ->timestamp cast is zone-sensitive); build the session via " +
          "GraftSession")
      raw.withColumn("ts", col("ts").cast(TimestampType)) // NTZ->UTC instant, exact
        .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    case other =>
      throw new IllegalStateException(
        s"events.ts arrived as unsupported dtype $other — expected LongType " +
          "(nanos-as-long), TimestampType, or TimestampNTZType; testdata " +
          "schema drifted further than the loader knows how to adapt")
  }
  /** documents is the one table whose consumers are dominated by
    * CPU-heavy row-local text work (tokenize/shingle/hash folds), and the
    * driver testdata ships it as a single parquet row group — an
    * unsplittable scan that would pin all of that work to ONE task
    * (optimization guide §2.5). Par.spread round-robins it to a
    * size-derived width, and no-ops whenever the scan already splits at
    * least that wide (any real multi-row-group table). */
  def documents(s: SparkSession, d: String): DataFrame =
    graft.ops.Par.spread(t(s, d, "documents"))
  /** Same treatment as [[documents]]: per-vector distance/fold math
    * dominates every consumer, and the single-row-group scan would pin
    * it to one task. */
  def embeddings(s: SparkSession, d: String): DataFrame =
    graft.ops.Par.spread(t(s, d, "embeddings"))
}
