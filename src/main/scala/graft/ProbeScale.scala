package graft

import org.apache.spark.sql.functions._

/** Blocklist-at-scale probe measurement (r15 verdict stretch task 7).
  *
  * The suppression gate's scale contract says the forget blocklist stays
  * requests-proportional (~1M rows/day of 32-hex fps ≈ 6 GB/year) and is
  * probed as ONE slim anti-join whose cost the corpus pass absorbs. That
  * was argued from plan shape; this main MEASURES it: the same
  * corpus-scale arrivals anti-join runs against (a) no blocklist — the
  * scan+fp floor, (b) the real requests-proportional list (~|corpus|/17
  * rows), and (c) a synthetic 1M-row blocklist persisted to parquet —
  * deliberately past the broadcast threshold, so Spark plans the shuffled
  * probe a years-of-requests list forces. The marginal cost (c − a) is
  * the number BASELINE.md's SCALING section records.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.ProbeScale <sfDir> [nBig]
  * Prints one JSON line: {"floor":s,"small":s,"big":s,"small_rows":n,
  * "big_rows":n,"arrivals":n,"survivors_big":n}.
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf1")
    val nBig = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val spark = LocalSession()

    // arrivals at corpus scale: every doc with its content fingerprint —
    // the probe side the ingest gates and export excludes actually run
    val arrivals = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), graft.ops.Fingerprint.col(col("text")).as("fp"))

    // (b) the real blocklist: requests-proportional (doc_id ≡ 3 mod 17)
    val small = graft.queries.ExportQueries
      .forgetSuppressionFps(spark, sfDir)
    // (c) the years-of-requests shape: 1M distinct 32-hex fps as a real
    // parquet table (the durable-store read path, not an in-memory range)
    val bigPath = "target/probe_blocklist"
    spark.range(nBig)
      .select(md5(concat(lit("synthetic-forget-"), col("id").cast("string")))
        .as("fp"))
      .write.mode("overwrite").parquet(bigPath)
    val big = spark.read.parquet(bigPath)

    def timeMedian(reps: Int)(body: => Unit): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.length / 2)
    }
    // floor: the arrivals pass alone (scan + fingerprint, no probe)
    val floor = timeMedian(5)(arrivals.count())
    val tSmall = timeMedian(5)(
      arrivals.join(small, Seq("fp"), "left_anti").count())
    var survivorsBig = 0L
    val tBig = timeMedian(5) {
      survivorsBig = arrivals.join(big, Seq("fp"), "left_anti").count()
    }
    val (nS, nB, nA) = (small.count(), big.count(), arrivals.count())
    def f3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"floor":${f3(floor)},"small":${f3(tSmall)},"big":${f3(tBig)},""" +
      s""""small_rows":$nS,"big_rows":$nB,"arrivals":$nA,""" +
      s""""survivors_big":$survivorsBig}""")
    spark.stop()
  }
}
