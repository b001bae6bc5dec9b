package graft.sources

import graft.{ScaledData, SparkSpec}
import graft.queries.Catalog
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType}

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

/** Pins the schema registry behind [[Tables.parquet]]: a repeated load of
  * an unchanged table starts no Spark job, and anything that changes what
  * the schema was inferred from — the bytes on disk, the session's parquet
  * conf — makes the next load infer again. */
class TablesRegistrySpec extends SparkSpec {

  /** Jobs `body` starts on this thread (its own job group). */
  private def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"registry-spec-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      body
      ListenerBusDrain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def withTempDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("tables-registry").toFile
    try body(dir.getAbsolutePath) finally FileUtils.deleteQuietly(dir)
  }

  /** Write `df` as the single parquet FILE `dest` (Spark writes directories). */
  private def writeSingleFile(df: DataFrame, dest: File): Unit = {
    val staging = Files.createTempDirectory("tables-registry-stage").toFile
    try {
      df.coalesce(1).write.mode("overwrite").parquet(s"$staging/out")
      val part = new File(s"$staging/out").listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dest.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally FileUtils.deleteQuietly(staging)
  }

  test("a second load of every Tables loader starts no Spark job") {
    val loaders: Seq[(String, () => Any)] = Seq(
      "lineitem" -> (() => Tables.lineitem(spark, sfSmoke)),
      "orders" -> (() => Tables.orders(spark, sfSmoke)),
      "customer" -> (() => Tables.customer(spark, sfSmoke)),
      "supplier" -> (() => Tables.supplier(spark, sfSmoke)),
      "part" -> (() => Tables.part(spark, sfSmoke)),
      "nation" -> (() => Tables.nation(spark, sfSmoke)),
      "region" -> (() => Tables.region(spark, sfSmoke)),
      "events" -> (() => Tables.events(spark, sfSmoke)),
      "eventsSince" -> (() => Tables.eventsSince(spark, sfSmoke, 1705276800000000000L)),
      "documents" -> (() => Tables.documents(spark, sfSmoke)),
      "embeddings" -> (() => Tables.embeddings(spark, sfSmoke)))
    loaders.foreach { case (_, load) => load() }
    val jobs = loaders.map { case (name, load) => name -> jobsStarted(load()) }
    assert(jobs.forall(_._2 == 0), s"warm loads started jobs: ${jobs.filter(_._2 != 0)}")
  }

  test("a warm build of sq_scalar_small_qty starts no Spark job") {
    val q = Catalog.byName("sq_scalar_small_qty")
    q.build(spark, sfSmoke)
    assert(jobsStarted(q.build(spark, sfSmoke)) === 0)
  }

  test("rewriting a single-file table with a new schema re-resolves it") {
    import spark.implicits._
    withTempDir { dir =>
      val file = new File(s"$dir/t.parquet")
      writeSingleFile(Seq((1L, "a")).toDF("id", "name"), file)
      assert(Tables.t(spark, dir, "t").schema.fieldNames.toSeq === Seq("id", "name"))
      assert(jobsStarted(Tables.t(spark, dir, "t")) === 0)

      writeSingleFile(Seq(("x", 2L, 3L)).toDF("code", "qty", "extra"), file)
      val reread = Tables.t(spark, dir, "t")
      assert(reread.schema.fieldNames.toSeq === Seq("code", "qty", "extra"))
      assert(reread.schema("code").dataType === StringType)
      assert(reread.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ===
        Seq(("x", 2L, 3L)))
    }
  }

  test("regenerating a ScaledData replica into the same directory re-resolves it") {
    withTempDir { dir =>
      ScaledData.generate(spark, sfSmoke, dir, copies = 1)
      val base = Tables.region(spark, dir).count()
      assert(jobsStarted(Tables.region(spark, dir)) === 0)

      ScaledData.generate(spark, sfSmoke, dir, copies = 2)
      assert(jobsStarted(Tables.region(spark, dir)) > 0,
        "a regenerated directory must be inferred again, not served from the registry")
      assert(Tables.region(spark, dir).count() === 2 * base)
    }
  }

  test("a session with a different nanosAsLong setting infers its own schema") {
    withTempDir { dir =>
      // a real parquet TIMESTAMP(NANOS) column, which Spark cannot write
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")
      val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withType(schema).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1705276800123456789L))
      finally writer.close()

      val asLong = spark.newSession()
      asLong.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      assert(Tables.t(asLong, dir, "events").schema("ts").dataType === LongType)

      val strict = spark.newSession()
      strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val err = intercept[Exception](Tables.t(strict, dir, "events").schema)
      assert(err.getMessage.contains("NANOS"),
        s"the strict session must infer for itself and refuse NANOS, got: ${err.getMessage}")
    }
  }

  test("two threads resolving the same cold table get equal schemas") {
    withTempDir { dir =>
      Files.copy(new File(s"$sfSmoke/orders.parquet").toPath, new File(s"$dir/orders.parquet").toPath)
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val start = new CountDownLatch(1)
        val both = Future.sequence(Seq.fill(2)(Future {
          start.await(30, TimeUnit.SECONDS)
          Tables.orders(spark, dir).schema
        }))
        start.countDown()
        val Seq(a, b) = Await.result(both, 2.minutes)
        assert(a === b)
        assert(a === spark.read.parquet(s"$dir/orders.parquet").schema)
      } finally pool.shutdown()
    }
  }
}
