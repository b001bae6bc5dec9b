package graft

/** Correctness AT SCALE, not just timing at scale: generate an N×
  * key-shifted replica of an SF directory (graft.ScaledData — the same
  * replicas the bench times) and dump the headline queries' results +
  * oracle SQL against it, so tools/check.py can run the DuckDB hash
  * compare on the replica. The bench curve proves the plans stay fast as
  * data grows; this proves they stay RIGHT — overflow, skew-path, and
  * estimator-calibration bugs are exactly the class that first appears at
  * larger data (integer packs crossing 2^63, sketch registers
  * saturating, salting paths activating), and the driver's gate never
  * sees them because it hashes only at sf0.01.
  *
  * The oracle SQL is directory-agnostic and both engines read the SAME
  * replica parquet, so every scalar-output catalog query is eligible;
  * the default set is Bench.headline (the scale-curve subset) —
  * SPARK_GRAFT_ONLY overrides, SPARK_GRAFT_SCALE_ALL=1 selects the full
  * catalog.
  *
  * Usage: ScaleVerify <srcSfDir> <replicaDir> <copies> <outDir>
  * then:  python3 tools/check.py <replicaDir> <outDir> --json <artifact>
  * (orchestrated by tools/scaleverify.sh)
  */
object ScaleVerify {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, replicaDir, copies, outDir) = args
    val spark = Harness.session()
    val only = Harness.only.orElse(
      if (sys.env.get("SPARK_GRAFT_SCALE_ALL").contains("1")) None else Some(Bench.headline))
    ScaledData.generate(spark, srcDir, replicaDir, copies.toInt)
    Verify.dump(spark, replicaDir, outDir, only)
    spark.stop()
  }
}
