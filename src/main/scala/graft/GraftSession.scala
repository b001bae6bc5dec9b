package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession builder so every entry point (Verify, Bench, tests)
  * runs with identical, scale-aware settings.
  *
  * Design notes (100 TB target, tested on local[32]):
  *  - shuffle partitions default 32 to match local cores; on a real cluster
  *    this is overridden (AQE coalesces anyway).
  *  - AQE on: runtime re-planning (skew-join split, partition coalescing)
  *    is the main lever that survives a 1000x scale-up unchanged.
  *  - ANSI off: the reference's semantics are null-on-error coercion
  *    (pandas `to_numeric(errors="coerce")`, /root/reference/backend/main.py:197);
  *    permissive mode reproduces that and matches DuckDB TRY_CAST oracles.
  *  - Session TZ pinned UTC for date/timestamp parity with the oracle.
  *  - Generated code stays compiled across runs. Spark caches each
  *    Janino-compiled class, keyed by its source and classloader, in an
  *    LRU of `spark.sql.codegen.cache.maxEntries` classes (default 100).
  *    Between two uses of one class graft touches more than 100 others, so
  *    at the default every class was evicted just before it was needed
  *    again and warm runs recompiled it (on 4 cores at sf0.01: 52-76
  *    compiles, 0.7-1.5 s, per perfbench dispatch cycle; 80-100 per
  *    `dd_conn_components` run). Measured distinct working sets: 168
  *    classes for a whole dispatch run (set-ups, cycles and checks), 274
  *    for a catalog run of `sq_scalar_small_qty`, `dd_conn_components` and
  *    `w_stream_update_replay`. 1000 leaves several times that headroom;
  *    classes outside the working set are never compiled, so they never
  *    fill it. The setting is static: `CodeGenerator` reads it once per
  *    JVM, when the object first initialises, so it must be a builder
  *    config, and no code may be generated before the session exists — a
  *    later `conf.set` has no effect.
  *  - Artifact isolation off. With it on (Spark's default), each cloned
  *    session — every streaming query runs in one — gets its own executor
  *    classloader, so every new stream missed the cache and recompiled the
  *    same 19 classes (`w_stream_update_replay`, about 0.15 s a run on the
  *    same box). graft adds no session artifacts (no addArtifact/addJar/
  *    addFile), so isolation guards nothing here. Read once, when a
  *    session is created.
  *  - Whole-stage classes unnumbered (`useIdInClassName` off). AQE numbers
  *    codegen stages in the order it plans them, which varies with stage
  *    completion order; the number is part of the class name, so the same
  *    stage could compile again under a new name. Unnumbered, one source
  *    is one class. Stack traces show `GeneratedIterator` without the
  *    stage number.
  *  `graft.plans.CodegenCacheSpec` pins all three: a repeated round of
  *  catalog queries and pipelines compiles nothing.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // legacy size(NULL) = -1 is KEPT deliberately: flipping it to the
      // modern null-propagating form makes size() nullable, which
      // measured a 6x regression on the shingle-set similarity path
      // (dd_ngram_jaccard 3.5 s -> 22 s at sf0.1 — nullable bounds knock
      // the when/sequence/transform chain off its optimized path).
      // Null-input hygiene is instead handled WHERE nulls can occur:
      // every query whose output derives from size() over nullable text
      // filters `text IS NOT NULL` explicitly (mirrored in its oracle),
      // and the scalar key functions (Text.normalizedKey) are
      // null-in-null-out — so no -1 ever reaches a result.
      .config("spark.sql.legacy.sizeOfNull", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Some testdata generations wrote events.ts as TIMESTAMP(NANOS),
      // which Spark's vectorized reader rejects; this flag reads that
      // encoding as long nanos instead of crashing. Tables.events then
      // branches on the SCANNED dtype (long nanos vs native timestamp) —
      // the flag is harmless for the TIMESTAMP(MICROS) generation, which
      // arrives as TIMESTAMP_NTZ untouched.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Codegen reuse; see the design notes.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Session for local tools and tests. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
