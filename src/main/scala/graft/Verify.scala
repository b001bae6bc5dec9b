package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare in tools/check.py.
  * Usage: Verify <sfDir> <outDir>; SPARK_GRAFT_ONLY=a,b dumps just those. */
object Verify {
  /** Dump each selected query's result parquet + the oracle-SQL json into
    * `outDir` — the shared engine behind Verify (driver gate, full
    * catalog at the driver's SF) and ScaleVerify (headline queries
    * against an N× key-shifted replica). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(outDir)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    dump(spark, sfDir, outDir, Harness.only)
    spark.stop()
  }

  /** Every control character must be escaped: a raw tab or CR in the SQL
    * would make the JSON reader in tools/check.py fail and zero the
    * correctness run. */
  private[graft] def writeOracleJson(outDir: String,
                                     sql: Map[String, String] = SparkEntry.oracleSql): Unit = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Harness.json(sql))
    ()
  }
}
