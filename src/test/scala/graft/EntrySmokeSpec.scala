package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: local, UTC, small shuffle width. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, counted once the listener bus
    * has gone quiet. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      while (n.get() != last) { last = n.get(); Thread.sleep(1500) }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Drain an AvailableNow streaming query by SIGNAL and stop it —
    * delegates to the production loop ([[graft.sinks.LandingSink
    * .drainAndStop]], whose scaladoc documents the stateful-AvailableNow
    * quiescence quirk) so the heuristic lives in exactly one place.
    * Exists because transformWithState/TTL'd-state queries never quiesce
    * under Trigger.AvailableNow on this Spark version: before the r16
    * conversion the suite paid NINE await-ceiling stalls ≈ 25 min of a
    * 40-min run, and the sites without a `stop()` after the timed-out
    * await left the query looping for the rest of the suite. */
  def drainAndStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      maxMs: Long = 180000L): Unit =
    assert(graft.sinks.LandingSink.drainAndStop(q, maxMs),
      s"stream did not drain within ${maxMs} ms")
}

class EntrySmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every query has either an oracle or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries must be a deliberate, documented set
    assert(missing.subsetOf(SparkEntry.rowsOnlyQueries),
      s"queries without oracle nor rows-only declaration: $missing")
    // and symmetrically: no orphaned oracle keys (a renamed query leaving
    // its old oracle behind would only fail at driver-gate time)
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracle entries with no query: $orphaned")
  }

  test("s6's oracle literal names the directory the verify gate actually runs at") {
    // the literal-path trap (r17 verdict task 4): DuckDB read_blob needs a
    // literal, so s6's oracle pins a directory STRING while the Spark side
    // lists whatever dir the driver passes. A drift between the literal,
    // the documented verify scale, and the harness's rewrite pattern would
    // VACUATE the oracle silently (both sides green on different file
    // sets). Pin all three couplings:
    import graft.plans.VerifyExports
    val sql = SparkEntry.oracleSql("s6_listing_sum")
    // 1. the SQL carries the exact literal the local-harness rewrite
    //    (tools/verify_local.py) greps for — byte-for-byte
    val literal = s"read_blob('${VerifyExports.VerifyDir}/*.parquet')"
    assert(sql.contains(literal),
      s"s6 oracle no longer contains the verify-dir literal: $literal")
    assert(VerifyExports.VerifyDir == "/root/testdata/sf0.01",
      "VerifyDir moved — update tools/verify_local.py's read_blob rewrite " +
        "pattern and TESTDATA.md coupling together")
    // 2. the literal is the scale TESTDATA.md documents for the t2
    //    correctness gate (the driver's contract doc)
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/TESTDATA.md")), "UTF-8")
    val gateIdx = doc.indexOf("t2 correctness")
    assert(gateIdx >= 0, "TESTDATA.md no longer documents the t2 gate")
    // the sentence wraps across lines — read the 120 chars after the marker
    val gateText = doc.substring(gateIdx, math.min(doc.length, gateIdx + 120))
    assert(gateText.contains(VerifyExports.VerifyDir.split("/").last + ";") ||
        gateText.contains(VerifyExports.VerifyDir.split("/").last + " "),
      s"TESTDATA.md's t2 sentence no longer names ${VerifyExports.VerifyDir}: $gateText")
    // 3. both engines enumerate the same non-empty file universe: Spark's
    //    binaryFile listing at VerifyDir == the literal dir's parquet files
    val sparkSide = SparkEntry.queries("s6_listing_sum")(spark, VerifyExports.VerifyDir)
      .select("file_name", "file_size").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fsSide = Option(new java.io.File(VerifyExports.VerifyDir)
        .listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap
    assert(fsSide.nonEmpty, s"no parquet files at ${VerifyExports.VerifyDir}")
    assert(sparkSide == fsSide,
      s"s6's Spark listing and the oracle literal's file set diverge: " +
        s"spark-only=${sparkSide.keySet -- fsSide.keySet} " +
        s"fs-only=${fsSide.keySet -- sparkSide.keySet}")
  }

  test("no module silently shadows another's query name (Map ++ drops dups)") {
    import graft.queries._
    val modules = Seq(EncodeQueries.queries, AnalyticsQueries.queries,
      StatusQueries.queries, ScalarQueries.queries, EventQueries.queries,
      TextQueries.queries, VectorQueries.queries, ApproxQueries.queries,
      JoinQueries.queries, MultimodalQueries.queries, ExportQueries.queries,
      MlQueries.queries, MaintenanceQueries.queries)
    assert(modules.map(_.size).sum == SparkEntry.queries.size,
      "duplicate query key across modules — one implementation is shadowed")
  }
}
