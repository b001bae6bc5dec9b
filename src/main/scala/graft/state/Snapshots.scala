package graft.state

import graft.sources.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared crash-safe snapshot layout for the keyed state stores
  * ([[DispatchState]], [[SessionStore]], [[KeyIndex]]): immutable
  * `v-<n>/` full snapshots plus a tiny `CURRENT` pointer file written
  * LAST. A crash at any point leaves either the old pointer (new version
  * simply unused) or no pointer (readers fall back to the highest
  * complete version) — never a lost table. The pointer write is a single
  * create/PUT, atomic on HDFS and object stores alike; the previous
  * version is retained one generation as a recovery copy.
  *
  * Single-writer semantics per store directory (one scheduled pipeline
  * instance), matching the reference's Airflow task model. At scale the
  * same call sites swap to a Delta/Iceberg MERGE without changing shape.
  */
private[state] object Snapshots {
  private val VersionDir = """v-(\d+)""".r

  def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Versions that finished writing (parquet job committed `_SUCCESS`). */
  def completeVersions(hfs: FileSystem, dir: String): Seq[Long] = {
    val base = new Path(dir)
    if (!hfs.exists(base)) Seq.empty
    else
      hfs.listStatus(base).toSeq.collect {
        case st if st.isDirectory =>
          st.getPath.getName match {
            case VersionDir(n) if hfs.exists(new Path(st.getPath, "_SUCCESS")) =>
              Some(n.toLong)
            case _ => None
          }
      }.flatten.sorted
  }

  /** The live version: the pointer if it names a complete version, else
    * the highest complete version on disk (pointer lost/corrupt — the
    * recovery path), else None (fresh store). */
  def currentVersion(hfs: FileSystem, dir: String): Option[Long] = {
    val ptr = new Path(s"$dir/CURRENT")
    val pointed =
      if (!hfs.exists(ptr)) None
      else {
        val in = hfs.open(ptr)
        try {
          scala.io.Source.fromInputStream(in).mkString.trim.toLongOption
            .filter(n => hfs.exists(new Path(s"$dir/v-$n/_SUCCESS")))
        } catch { case _: Exception => None }
        finally in.close()
      }
    pointed.orElse(completeVersions(hfs, dir).lastOption)
  }

  /** Current snapshot, or an empty frame of `schema` for a fresh store. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    currentVersion(fs(spark), dir) match {
      case Some(n) => Tables.parquet(spark, s"$dir/v-$n")
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Write `snapshot` as the next version, swing the pointer, prune all
    * versions older than the predecessor. */
  def publish(spark: SparkSession, dir: String, snapshot: DataFrame): Unit = {
    val hfs = fs(spark)
    val cur = currentVersion(hfs, dir)
    val next = cur.getOrElse(0L) + 1
    snapshot.write.mode(SaveMode.Overwrite).parquet(s"$dir/v-$next")
    val out = hfs.create(new Path(s"$dir/CURRENT"), true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    completeVersions(hfs, dir)
      .filter(v => v != next && cur.forall(v < _))
      .foreach(v => hfs.delete(new Path(s"$dir/v-$v"), true))
  }
}
