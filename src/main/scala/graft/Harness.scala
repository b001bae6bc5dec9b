package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared core of graft's mains (Bench, Verify, ScaleVerify,
  * StreamStateAudit, Probe): session set-up, noop-sink timing, N×
  * replicas and JSON output, so each main states only what it measures.
  */
object Harness {
  /** Jackson with Scala collections, Options and case classes. Build
    * records as `ListMap`s to keep their field order. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(value: Any): String = mapper.writeValueAsString(value)

  /** `SPARK_GRAFT_CPUS`, default the machine's processor count. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_ONLY=a,b` narrows a main to those queries; unset = the
    * full catalog. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** `local[cores]` with `cores` shuffle partitions; `conf` is applied
    * last, so it may override either. */
  def session(cores: Int = cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val s = conf.foldLeft(GraftSession.builder(s"local[$cores]", cores)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Build the query and run it through the `noop` sink, which evaluates
    * every output column (a `count()` would let Catalyst prune them) and
    * discards rows executor-side. Right = seconds; Left = the error's
    * class name and the first 300 characters of its message. Catches
    * everything, OOMs included: a constrained-memory run reports an OOM
    * as its result. */
  def timeNoop(spark: SparkSession, build: (SparkSession, String) => DataFrame,
               dir: String): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      build(spark, dir).write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      Left(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
  }

  /** The 1-min system load average, read beside each sample so a slow
    * one can be traced to box load. */
  def loadavg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def round2(x: Double): Double = math.round(x * 100) / 100.0

  def tempDir(prefix: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"$prefix-${java.util.UUID.randomUUID()}").getAbsolutePath

  def delete(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)); ()
  }

  /** N× key-shifted replicas of `srcDir` (graft.ScaledData), each
    * generated once and shared by every pass that needs it; `close`
    * deletes them all. Generation is deterministic, so a reuse proves as
    * much as a regeneration would. */
  final class Replicas(srcDir: String) extends AutoCloseable {
    private val dirs = scala.collection.mutable.Map.empty[Int, String]
    def has(copies: Int): Boolean = dirs.contains(copies)
    def apply(spark: SparkSession, copies: Int): String =
      dirs.getOrElseUpdate(copies, {
        val d = tempDir("graft-scaled")
        System.err.println(s"[harness] generating ${copies}x replica of $srcDir")
        ScaledData.generate(spark, srcDir, d, copies)
        d
      })
    def close(): Unit = dirs.values.foreach(delete)
  }
}
