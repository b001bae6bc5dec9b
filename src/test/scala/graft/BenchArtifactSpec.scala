package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The bench artifact's atomic-write contract (round-10 verdict #2): a
  * killed run must never leave the destination holding a partial line —
  * round 10's timed-out driver pass clobbered the committed full-catalog
  * BENCHFULL.json with a main-only fragment. Bench.writeAtomic stages to
  * a `.tmp` sibling and renames, so the destination only ever holds a
  * COMPLETE write. The JVM-kill scenario is simulated at its exact
  * failure point: content staged in `.tmp` but the process dying before
  * the rename — the destination must be untouched.
  */
class BenchArtifactSpec extends AnyFunSuite {

  private def tmpDir(): Path = Files.createTempDirectory("bench-artifact")

  test("writeAtomic creates the destination with the full content") {
    val dest = tmpDir().resolve("BENCHFULL.json")
    Bench.writeAtomic(dest.toString, "{\"value\":1}\n")
    assert(Files.readString(dest) === "{\"value\":1}\n")
    assert(!Files.exists(dest.resolveSibling("BENCHFULL.json.tmp")),
      "staging file must not survive a successful write")
  }

  test("writeAtomic replaces an existing artifact wholesale") {
    val dest = tmpDir().resolve("BENCHFULL.json")
    Files.writeString(dest, "{\"value\":\"old-complete-line\"}\n")
    Bench.writeAtomic(dest.toString, "{\"value\":2}\n")
    assert(Files.readString(dest) === "{\"value\":2}\n")
  }

  test("a run killed between stage and rename leaves the destination untouched") {
    val dir = tmpDir()
    val dest = dir.resolve("BENCHFULL.json")
    val committed = "{\"value\":\"committed-full-catalog-line\"}\n"
    Files.writeString(dest, committed)
    // the kill point: the new line is fully staged in the .tmp sibling
    // (everything writeAtomic does before its rename), then the process
    // dies — no rename ever happens
    Files.writeString(dir.resolve("BENCHFULL.json.tmp"),
      "{\"value\":\"partial")
    assert(Files.readString(dest) === committed,
      "a staged-but-unrenamed write must not alter the committed artifact")
    // and a subsequent successful run replaces both cleanly
    Bench.writeAtomic(dest.toString, "{\"value\":3}\n")
    assert(Files.readString(dest) === "{\"value\":3}\n")
  }

  // Destination routing (round-12 clobber): the committed zero-skip
  // BENCHFULL.json was twice overwritten by a budget-squeezed run whose
  // optional passes were skipped. Only a zero-skip full run may claim
  // the repo-default path; a skip-bearing run diverts to the PARTIAL
  // sibling; a narrow run writes nowhere; an explicit out always wins.
  test("artifactDest routes complete, partial, narrow, and explicit runs") {
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0)
      === Some("/root/repo/BENCHFULL.json"))
    assert(Bench.artifactDest(None, narrow = false, skippedN = 28)
      === Some("/root/repo/BENCHFULL_PARTIAL.json"))
    assert(Bench.artifactDest(None, narrow = true, skippedN = 0) === None)
    assert(Bench.artifactDest(None, narrow = true, skippedN = 3) === None)
    assert(Bench.artifactDest(Some("/tmp/x.json"), narrow = true, skippedN = 9)
      === Some("/tmp/x.json"),
      "an explicit SPARK_GRAFT_BENCH_OUT overrides both guards")
    // a COMPLETE run at a toy SF must not shadow the committed sf0.1
    // record — it gets an sf-suffixed sibling instead
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0, sf = "0.001")
      === Some("/root/repo/BENCHFULL_sf0.001.json"))
    // ... and so must a PARTIAL at a toy SF (round-13 advisory: the
    // un-suffixed partial path let a toy-SF squeeze overwrite an sf0.1
    // partial record — the same shadowing, one artifact over)
    assert(Bench.artifactDest(None, narrow = false, skippedN = 2, sf = "0.001")
      === Some("/root/repo/BENCHFULL_PARTIAL_sf0.001.json"),
      "skip-bearing toy-SF runs get an sf-suffixed PARTIAL sibling")
  }

  test("artifactNotice announces sf-suffixed partials and names the real path") {
    assert(Bench.artifactNotice(None, 0).exists(_.contains("narrow run")))
    // the un-suffixed partial still announces itself, naming its path
    val p = Bench.artifactNotice(Some("/root/repo/BENCHFULL_PARTIAL.json"), 3)
    assert(p.exists(m => m.contains("3 passes skipped")
      && m.contains("/root/repo/BENCHFULL_PARTIAL.json")))
    // round-14 advisory: an SF-SUFFIXED partial used to be written
    // silently while the hardcoded message text named the wrong file —
    // it must announce itself too, with the actual destination
    val ps = Bench.artifactNotice(
      Some("/root/repo/BENCHFULL_PARTIAL_sf0.001.json"), 2)
    assert(ps.exists(_.contains("/root/repo/BENCHFULL_PARTIAL_sf0.001.json")))
    // zero-skip complete records and zero-skip explicit destinations
    // stay quiet
    assert(Bench.artifactNotice(Some("/root/repo/BENCHFULL.json"), 0).isEmpty)
    assert(Bench.artifactNotice(Some("/tmp/custom.json"), 0).isEmpty)
  }

  // Round-15 advisory: the notice used to key on the destination's NAME,
  // so an explicit SPARK_GRAFT_BENCH_OUT aimed at the complete-record
  // path silently took a skip-bearing line, and an explicit path that
  // merely contained "BENCHFULL_PARTIAL" claimed "complete record
  // preserved" with zero skips. The notice now keys on the skip count.
  test("artifactNotice keys on the skip count, not the destination name") {
    // a skip-bearing write to ANY explicit destination announces itself
    val c = Bench.artifactNotice(Some("/tmp/custom.json"), 5)
    assert(c.exists(m => m.contains("5 passes skipped")
      && m.contains("/tmp/custom.json")))
    // ... and over a complete-record path it additionally warns
    val w = Bench.artifactNotice(Some("/root/repo/BENCHFULL.json"), 2)
    assert(w.exists(m => m.contains("2 passes skipped")
      && m.contains("WARNING")))
    // a zero-skip write never uses the "passes skipped" wording, even
    // when the explicit destination contains the partial marker
    val z = Bench.artifactNotice(Some("/tmp/BENCHFULL_PARTIAL_copy.json"), 0)
    assert(z.exists(m => !m.contains("passes skipped")
      && m.contains("/tmp/BENCHFULL_PARTIAL_copy.json")))
    assert(z.exists(_.contains("zero-skip")))
  }

  // Round-15 verdict #6: under the driver's budget the headline pass ran
  // at full fidelity and scaled-full — 238 queries of 5× evidence — was
  // skipped whole. The lookahead drops headline runs (never below 1)
  // exactly when that rescues scaled-full's admission.
  test("lookaheadScaleRuns drops runs only when that rescues scaled-full") {
    // linear cost model: 100 s replica + 300 s per run
    val est = (r: Int) => 100.0 + 300.0 * r
    // plenty of budget: keep the requested fidelity
    assert(Bench.lookaheadScaleRuns(2, 2000.0, est, 600.0) === 2)
    // r15 driver shape: 2 runs + floor overshoot, 1 run + floor fits
    assert(Bench.lookaheadScaleRuns(2, 1200.0, est, 600.0) === 1)
    // even 1 run can't fit both: keep fidelity, let the gate skip full
    assert(Bench.lookaheadScaleRuns(2, 700.0, est, 600.0) === 2)
    // no scaled-full configured: nothing to protect
    assert(Bench.lookaheadScaleRuns(2, 100.0, est, 0.0) === 2)
    // degrades to the LARGEST run count that fits, not straight to 1
    assert(Bench.lookaheadScaleRuns(3, 1600.0, est, 600.0) === 3)
    assert(Bench.lookaheadScaleRuns(3, 1550.0, est, 600.0) === 2)
  }

  // A lookahead-degraded run is zero-skip but NOT full-fidelity: letting
  // it claim BENCHFULL.json would hand the committed quiet record to the
  // first load-contaminated driver run whose budget squeezed the
  // headline pass (the r12 clobber family, zero-skip edition).
  test("a degraded zero-skip run routes to the PARTIAL sibling and announces itself") {
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0,
      degraded = true) === Some("/root/repo/BENCHFULL_PARTIAL.json"))
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0,
      sf = "0.001", degraded = true)
      === Some("/root/repo/BENCHFULL_PARTIAL_sf0.001.json"))
    // undegraded routing unchanged
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0,
      degraded = false) === Some("/root/repo/BENCHFULL.json"))
    val n = Bench.artifactNotice(Some("/root/repo/BENCHFULL_PARTIAL.json"),
      0, degraded = true)
    assert(n.exists(m => m.contains("degraded")
      && m.contains("/root/repo/BENCHFULL_PARTIAL.json")
      && !m.contains("passes skipped")))
    // skip-bearing wording still wins when both apply
    val both = Bench.artifactNotice(Some("/root/repo/BENCHFULL_PARTIAL.json"),
      2, degraded = true)
    assert(both.exists(_.contains("2 passes skipped")))
  }

  // Round-16 verdict #3 (the clobber family, core-count edition): the
  // driver's 8-core scaling run wrote the same path as the committed
  // 32-core record and shadowed it. Any core count other than the
  // driver's main 32 gets a _cN-suffixed sibling, complete and partial
  // alike; 32-core routing is byte-identical to before.
  test("non-32-core runs route to core-suffixed siblings") {
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0, cpus = "8")
      === Some("/root/repo/BENCHFULL_c8.json"))
    assert(Bench.artifactDest(None, narrow = false, skippedN = 3, cpus = "8")
      === Some("/root/repo/BENCHFULL_PARTIAL_c8.json"))
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0,
      sf = "0.001", cpus = "8")
      === Some("/root/repo/BENCHFULL_sf0.001_c8.json"))
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0, cpus = "32")
      === Some("/root/repo/BENCHFULL.json"))
    // an explicit destination still always wins
    assert(Bench.artifactDest(Some("/tmp/x.json"), narrow = false,
      skippedN = 0, cpus = "8") === Some("/tmp/x.json"))
  }

  // Round-16 verdict #2/#4: two constrained-pass OOMs hid inside a
  // zero-skip rc-0 artifact. A run with hard constrained failures must
  // not claim the committed complete record, and the notice says why.
  test("constrained-pass errors divert to the PARTIAL sibling loudly") {
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0,
      constrainedErrors = 2) === Some("/root/repo/BENCHFULL_PARTIAL.json"))
    assert(Bench.artifactDest(None, narrow = false, skippedN = 0,
      constrainedErrors = 0) === Some("/root/repo/BENCHFULL.json"))
    val n = Bench.artifactNotice(Some("/root/repo/BENCHFULL_PARTIAL.json"),
      0, degraded = false, constrainedErrors = 2)
    assert(n.exists(m => m.contains("WARNING")
      && m.contains("2 constrained-pass failures")
      && m.contains("/root/repo/BENCHFULL_PARTIAL.json")))
    // skip-bearing wording still wins when both apply
    val both = Bench.artifactNotice(Some("/root/repo/BENCHFULL_PARTIAL.json"),
      3, degraded = false, constrainedErrors = 2)
    assert(both.exists(_.contains("3 passes skipped")))
  }

  // Records built from fixed samples, without Spark: the artifact's key
  // paths are its contract with every consumer of BENCHFULL*.json.
  import Bench.{MainRow, ScaledRow}
  import StreamPoints.Batch

  /** Every node's path; object keys in `names` read as Q, array
    * elements as []. */
  private def keyPaths(n: JsonNode, names: Set[String], p: String = ""): Set[String] =
    Set(if (p.isEmpty) "/" else p) ++ (
      if (n.isObject) n.properties.asScala.flatMap(e =>
        keyPaths(e.getValue, names, p + "/" + (if (names(e.getKey)) "Q" else e.getKey)))
      else if (n.isArray) n.elements.asScala.flatMap(keyPaths(_, names, p + "[]"))
      else Nil)

  private val Names = Set("qa", "qb", "qc")
  private val Err = "java.lang.OutOfMemoryError: \"quoted\" C:\\tmp\tcol\nline\u0001end"

  private def sampleRecord(nQueries: Int = 3): Bench.Record = {
    val names = if (nQueries == 3) Seq("qa", "qb", "qc")
      else (1 to nQueries).map(i => f"catalog_query_with_a_long_name_$i%03d")
    val main = Bench.mainRecord(names.zipWithIndex.map { case (n, i) =>
      MainRow(n, Seq(3.0 + i, 1.0 + i, 2.0 + i), Seq(1.234, 2.5, 0.1)) },
      runs = 3, sf = "0.01", cpus = 4, budgetSec = 2520, elapsedSec = 61.5,
      skipped = Seq("scaled-retry:qc", Err))
    val stream = StreamPoints.restRecord(16, 2000, 0.8,
      Seq(Batch(16000, 410), Batch(16000, 145)), load = 1.43)
    val wide = StreamPoints.restRecord(8, 10000, 0.2, Seq(Batch(80000, 142)), 1.5)
    val bulk = StreamPoints.restRecord(16, 10000, 0.2, Seq(Batch(160000, 165)), 1.5)
    val state = StreamPoints.stateRecord(150000, 15.3,
      Seq(Batch(150000, 2072, 150000, 280832, 150000, 0),
        Batch(150000, 962, 300000, 11274576, 150000, 150000)))
    val rows = Seq(ScaledRow("qa", Seq(0.5, 0.4), Seq(2.41, 2.4), None, 2),
      ScaledRow("qb", Seq(0.3), Seq(1.0, 1.1), Some(Err), 2),
      ScaledRow("qc", Nil, Seq(1.0, 1.2), Some(Err), 2))
    val scaled = Bench.scaledRecord(10, 1, 2, rows, rescued = Seq("qa"))
    val full = Bench.scaledRecord(5, 1, 1, rows, rescued = Seq("qa"))
    val constrained = Bench.constrainedRecord(10, 192L << 20, 7, 9, Seq(
      "qa" -> Bench.constrainedQuery(0.5, 7, 9, None),
      "qb" -> Bench.constrainedQuery(0.6, 0, 0, Some(Err)),
      "qc" -> ListMap("skipped" -> true)))
    main ++ ListMap(
      "streaming" -> (stream ++ ListMap("wide" -> wide, "bulk" -> bulk, "state" -> state)),
      "scaled" -> (scaled ++ ListMap("full" -> full)),
      "constrained" -> constrained)
  }

  test("the full record keeps every block's key paths") {
    val scaledPaths = Seq("", "/copies", "/runs", "/value", "/queries", "/queries/Q",
      "/raw", "/raw/Q", "/raw/Q[]", "/load", "/load/Q", "/load/Q[]", "/failed",
      "/failed[]", "/failed[]/name", "/failed[]/err", "/partial", "/partial/Q",
      "/partial/Q[]", "/retried", "/retried[]")
    val streamPaths = Seq("/pages", "/rows_per_page", "/rows", "/batches", "/sec",
      "/rows_per_sec", "/steady_rows", "/steady_ms", "/steady_rows_per_sec", "/load",
      "/batch_ms", "/batch_ms[]")
    val expected = Set("/", "/metric", "/value", "/value_min", "/unit", "/queries",
      "/queries/Q", "/runs", "/raw", "/raw/Q", "/raw/Q[]", "/load", "/load/Q",
      "/load/Q[]", "/sf", "/cpus", "/budget_sec", "/elapsed_sec", "/skipped",
      "/skipped[]", "/streaming", "/streaming/wide", "/streaming/bulk",
      "/streaming/state", "/scaled/runs_requested", "/scaled/full",
      "/constrained", "/constrained/copies", "/constrained/memory_bytes",
      "/constrained/reserved_bytes", "/constrained/shuffle_partitions",
      "/constrained/spill_mem_bytes", "/constrained/spill_disk_bytes",
      "/constrained/queries", "/constrained/queries/Q",
      "/constrained/queries/Q/sec", "/constrained/queries/Q/spill_mem_bytes",
      "/constrained/queries/Q/spill_disk_bytes", "/constrained/queries/Q/err",
      "/constrained/queries/Q/skipped") ++
      Seq("/streaming", "/streaming/wide", "/streaming/bulk").flatMap(b =>
        streamPaths.map(b + _)) ++
      Seq("/keys", "/batches", "/rows", "/sec", "/rows_per_sec", "/provider",
        "/state_rows", "/state_rows[]", "/state_mem_bytes", "/state_mem_bytes[]",
        "/state_rows_updated", "/state_rows_updated[]", "/state_rows_removed",
        "/state_rows_removed[]", "/bounded", "/batch_ms", "/batch_ms[]")
        .map("/streaming/state" + _) ++
      Seq("/scaled", "/scaled/full").flatMap(b => scaledPaths.map(b + _))
    val tree = Harness.mapper.readTree(Harness.json(sampleRecord()))
    assert(keyPaths(tree, Names) === expected)
    // the blocks also keep today's values where the samples fix them
    assert(tree.at("/queries/qa").asDouble === 2.0)
    assert(tree.at("/raw/qa").toString === "[1.0,2.0,3.0]")
    assert(tree.at("/load/qa").toString === "[1.23,2.5,0.1]")
    assert(tree.at("/streaming/steady_rows_per_sec").asDouble === 16000 * 1000.0 / 145)
    assert(tree.at("/streaming/state/bounded").asBoolean)
    assert(tree.at("/scaled/value").asDouble === 0.4 + 0.3)
    assert(tree.at("/scaled/partial/qb").toString === Harness.json(Seq(1, 2, Err)))
    assert(tree.at("/scaled/failed/0/name").asText === "qc")
    assert(!tree.at("/scaled/full/runs_requested").isNumber)
  }

  test("error text with quotes, backslashes and control characters round-trips") {
    val tree = Harness.mapper.readTree(Harness.json(sampleRecord()))
    assert(tree.at("/skipped/1").asText === Err)
    assert(tree.at("/scaled/failed/0/err").asText === Err)
    assert(tree.at("/scaled/partial/qb/2").asText === Err)
    assert(tree.at("/constrained/queries/qb/err").asText === Err)
  }

  test("the compact line for the full catalog stays under 1.5 KB and parses") {
    val full = Harness.mapper.valueToTree[JsonNode](sampleRecord(238))
    val line = Harness.json(Bench.compact(full,
      Bench.artifactDest(None, narrow = false, skippedN = 2, sf = "0.01", cpus = "4")))
    assert(line.length <= 1536, s"${line.length} bytes")
    val c = Harness.mapper.readTree(line)
    assert(c.properties.asScala.toSeq.map(_.getKey) === Seq("metric", "value",
      "value_min", "unit", "sf", "cpus", "compact", "n_queries", "runs", "budget_sec",
      "elapsed_sec", "skipped_n", "artifact", "queries", "summary"))
    assert(c.get("n_queries").asInt === 238 && c.get("skipped_n").asInt === 2)
    assert(c.get("queries").size === 5)
    assert(c.get("queries").properties.asScala.toSeq.head.getKey === "catalog_query_with_a_long_name_238")
    assert(c.get("summary").properties.asScala.toSeq.map(_.getKey) === Seq("main.value",
      "main.value_min", "stream.steady_rps", "wide.steady_rps", "bulk.steady_rps",
      "constrained.spill_mem_bytes", "constrained.spill_disk_bytes", "constrained.errors",
      "scaled.n", "scaled.value", "scaled-full.n", "scaled-full.value"))
    assert(c.at("/summary/constrained.errors").asInt === 1)
    assert(c.at("/summary/scaled.n").asInt === 2)
    assert(c.get("value").asDouble === full.get("value").asDouble)
  }

  test("oracle SQL with tabs and carriage returns parses back equal") {
    val dir = tmpDir()
    val sql = Map("q_tab" -> "SELECT\ta,\r\n  b\rFROM t WHERE s = 'x\"y\\z'",
      "q_ctl" -> "SELECT '\u0001\u001f' AS c")
    Verify.writeOracleJson(dir.toString, sql)
    val tree = Harness.mapper.readTree(Files.readString(dir.resolve("oracle_sql.json")))
    assert(tree.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap === sql)
  }
}
