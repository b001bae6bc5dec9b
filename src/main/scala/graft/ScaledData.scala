package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaled-replica generator for the bench's second scale point: writes an
  * N× copy of an SF directory by unioning key-shifted copies of every
  * table, so Bench can record a scale CURVE (sf and N×sf in one run)
  * instead of a single point — the only way "no query grows
  * super-linearly in SF" is measurable rather than asserted.
  *
  * Replication must not change each query's asymptotic shape, only its
  * input size, so copies are made mutually invisible:
  *  - every `*key` / `*_id` column shifts by `copy * 10^8` — foreign keys
  *    shift together, so each copy joins only itself (the same join fan
  *    as the base data, N× the rows);
  *  - `documents.text` gets a per-copy token suffix (applied uniformly
  *    within a copy), so shingle/minhash/fingerprint similarity structure
  *    is preserved inside a copy but ZERO across copies — otherwise every
  *    doc would collide with its N-1 replicas and the near-dup candidate
  *    set would grow quadratically in N, measuring the replication
  *    artifact instead of the operator;
  *  - `embeddings.label` shifts per copy for the same reason (label is
  *    the ANN blocking key).
  * Timestamps are left alone: N× the events in the same time range is
  * exactly what higher SF means for a stream table.
  */
object ScaledData {
  // < Int.MaxValue / 21: int keys stay int; specs reference it so the
  // invariants retune with it
  private[graft] val KeyShift = 100000000L

  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def replicateTable(df: DataFrame, table: String, copies: Int): DataFrame = {
    val withCopy = df.crossJoin(
      df.sparkSession.range(copies).select(col("id").as("__copy")))
    val shifted = df.schema.fields.foldLeft(withCopy) { (acc, f) =>
      val n = f.name
      if (n.endsWith("key") || n.endsWith("_id"))
        acc.withColumn(n, (col(n) + col("__copy") * KeyShift).cast(f.dataType))
      else if (table == "documents" && n == "text")
        // uniform per-copy token suffix: within-copy token equality (and
        // thus shingle/jaccard structure) is untouched; cross-copy is nil.
        // NULL text stays NULL (concat_ws would rewrite it to "", letting
        // rows the base data excludes via `text IS NOT NULL` leak into
        // the scaled timing pass — a semantic drift between scale points)
        acc.withColumn(n, when(col(n).isNull, col(n)).otherwise(concat_ws(" ",
          transform(split(col(n), " "), t => concat(t, lit("~"), col("__copy"))))))
      else if (table == "embeddings" && n == "label")
        acc.withColumn(n, (col(n) + col("__copy") * lit(1000)).cast(f.dataType))
      else if (table == "documents" && n == "source")
        // source is the blocked-Jaccard blocking key (dd_ngram_jaccard):
        // left unshifted, every copy lands in the same blocks and the
        // per-block all-pairs term grows quadratically in N — measuring
        // the replication artifact, not the operator (measured: 4.1x per
        // unit data at 5x before this shift). Suffixing per copy keeps
        // block sizes constant, like the embeddings.label shift.
        acc.withColumn(n, concat(col(n), lit("~"), col("__copy")))
      else acc
    }
    shifted.drop("__copy")
  }

  /** Write the N× replica of `srcDir` into `outDir` (overwrite). */
  def generate(spark: SparkSession, srcDir: String, outDir: String, copies: Int): Unit = {
    // INT key columns wrap at copy*KeyShift > Int.MaxValue (non-ANSI cast),
    // which would silently merge copies and void the mutual-invisibility
    // premise — refuse loudly instead (Bench's fail-soft catch reports it)
    require(copies >= 1 && copies.toLong * KeyShift <= Int.MaxValue,
      s"copies=$copies would overflow INT key columns (max ${Int.MaxValue / KeyShift})")
    tables.foreach { t =>
      replicateTable(Tables.t(spark, srcDir, t), t, copies)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }
}
