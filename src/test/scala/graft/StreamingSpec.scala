package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{Loudness, MockRunner, Progress}
import graft.streaming.{AlertSink, CheckpointLog, FailureWatermark, JobStream, LocalCheckpointFileManager}
import graft.streaming.JobStream.{JobRequest, StatusEvent}

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private val renameManager = classOf[LocalCheckpointFileManager].getName

  test("dequeueLimit clamps the reference's negative-LIMIT quirk (W1)") {
    assert(JobStream.dequeueLimit(1, 0) == 1)
    assert(JobStream.dequeueLimit(1, 1) == 0)
    assert(JobStream.dequeueLimit(1, 5) == 0) // reference: LIMIT -4 → SQL error
    assert(JobStream.dequeueLimit(8, 3) == 5)
  }

  test("status ranks follow the reference's stage order") {
    val walk = Seq("Not Encoding", "encsrv01 - Waiting",
      "encsrv01 - Copying Source 50%", "encsrv01 - Analysing audio",
      "encsrv01 - Encoding Pass 1", "encsrv01 - Moving File", "Done")
    val ranks = walk.map(JobStream.rank)
    assert(ranks == ranks.sorted, s"ranks not monotone: $ranks")
    assert(JobStream.rank("encsrv01 - Error") > JobStream.rank("Done") - 2)
    assert(JobStream.rank("garbage status") == -1)
  }

  test("latestStatus keyed state refuses regressions (batch mode)") {
    import spark.implicits._
    val t0 = 1756684800000L
    val evs = Seq(
      StatusEvent(1, "Not Encoding", new Timestamp(t0), 0),
      StatusEvent(1, "encsrv01 - Waiting", new Timestamp(t0 + 1000), 0),
      StatusEvent(1, "encsrv01 - Encoding Pass 1", new Timestamp(t0 + 2000), 0),
      StatusEvent(1, "Not Encoding", new Timestamp(t0 + 3000), 0), // regression: dropped
      StatusEvent(2, "Not Encoding", new Timestamp(t0), 0),
      StatusEvent(2, "Done", new Timestamp(t0 + 1000), 0)).toDS()
    val out = JobStream.latestStatus(evs).collect().toMap
    assert(out(1L) == "encsrv01 - Encoding Pass 1")
    assert(out(2L) == "Done")
  }

  test("loudness + progress parsing (F3-F5, F13 scala twins)") {
    val m = Loudness.integratedLufs(
      "[Parsed_ebur128_0]\n  Integrated loudness:\n    I:         -23.5 LUFS\n")
    assert(m.contains(-23.5))
    val f = Loudness.gainFactor(-16, -23.5)
    assert(math.abs(f - math.pow(10, 7.5 / 20)) < 1e-12)
    assert(Loudness.volumeArg(1.0) == "-af volume=1.000000")
    assert(Progress.percents("0\n50 \nabc\n100\n") == Seq(0, 50, 100))
  }

  test("runJob walks the reference's stage sequence and short-circuits on failure") {
    val now = { var t = 0L; () => { t += 1000; 1756684800000L + t } }
    val ok = JobStream.runJob(
      JobRequest(7, "/v/in.mov", "/v/out.mp4", 1, 5.0, Some(-16), 2, apply_mp4box = true),
      MockRunner, 0, now)
    val statuses = ok.map(_.status)
    assert(statuses == Seq("encsrv01 - Copying Source 100%",
      "encsrv01 - Analysing audio", "encsrv01 - Encoding Pass 1",
      "encsrv01 - Encoding Pass 2", "encsrv01 - Moving File", "Done"))
    val bad = JobStream.runJob(
      JobRequest(8, "/v/missing.mov", "/v/out.mp4", 1, 5.0, None, 1, apply_mp4box = false),
      MockRunner, 0, now)
    assert(bad.map(_.status) == Seq("encsrv01 - Error"))
  }

  test("ST3: restart from checkpoint resumes at the committed offset, no re-dispatch") {
    import org.apache.spark.sql.types._
    val src = java.nio.file.Files.createTempDirectory("graft-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val schema = StructType(Seq(StructField("id", LongType), StructField("priority", DoubleType)))
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ids = batch.select("id").collect().map(_.getLong(0))
          seen.synchronized { seen ++= ids }
          ()
        }
        .start()
      TestSpark.drainAndStop(q, 120000)
    }
    java.nio.file.Files.writeString(src.resolve("a.json"),
      (1L to 3L).map(i => s"""{"id":$i,"priority":1.0}""").mkString("\n"))
    runOnce()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L))
    // "crash", new data arrives, restart from the same checkpoint:
    java.nio.file.Files.writeString(src.resolve("b.json"),
      (4L to 5L).map(i => s"""{"id":$i,"priority":1.0}""").mkString("\n"))
    runOnce()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L),
      s"restart re-processed committed offsets: ${seen.sorted}")
  }

  test("ST4: failure watermark backs off within the horizon, crashes past it") {
    // compressed twin of __init__.py:121-133 (1 day → 1000 "ms", 300 s →
    // 300 "ms") on an injected clock that only sleep advances
    var clock = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val wm = new FailureWatermark(horizonMs = 1000L, backoffMs = 300L,
      now = () => clock, sleep = ms => { sleeps += ms; clock += ms })
    val boom = new RuntimeException("poll failed")
    (1 to 4).foreach(_ => wm.onFailure(boom)) // t: 0→300→600→900→1200
    assert(sleeps.toSeq == Seq(300L, 300L, 300L, 300L))
    val e = intercept[RuntimeException](wm.onFailure(boom)) // t=1200 > horizon
    assert(e eq boom, "past the horizon the ORIGINAL failure must surface")
    wm.recordSuccess() // a good poll resets the horizon and retry counter
    assert(wm.retries == 0)
    wm.onFailure(boom) // tolerated again
    assert(wm.retries == 1)
  }

  test("ST4: guard restarts a failing query with backoff, then stops for good") {
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    var clock = 0L
    var attempts = 0
    val wm = new FailureWatermark(horizonMs = 2500L, backoffMs = 1000L,
      now = () => clock, sleep = ms => clock += ms)
    implicit val sq = spark.sqlContext
    intercept[Throwable] {
      wm.guard { () =>
        attempts += 1
        val ms = MemoryStream[Long]
        ms.addData(1L)
        ms.toDS().writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (_: Dataset[Long], _: Long) =>
            throw new RuntimeException("batch failed")
          }
          .start()
      }
    }
    // fails at t=0,1000,2000 (each tolerated, +1000 backoff); the t=3000
    // failure is past the 2500 horizon and rethrows
    assert(attempts == 4, s"expected 3 tolerated retries + 1 crash, got $attempts")
  }

  test("ST4: listener refreshes last-success on every committed batch") {
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    var clock = 0L
    val wm = new FailureWatermark(horizonMs = 1000000L, backoffMs = 1L,
      now = () => clock, sleep = _ => ())
    val listener = wm.listener()
    spark.streams.addListener(listener)
    try {
      clock = 42L
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L)
      val q = ms.toDS().writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (_: Dataset[Long], _: Long) => () }
        .start()
      TestSpark.drainAndStop(q, 120000)
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 30000
      while (wm.lastSuccess != 42L && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(wm.lastSuccess == 42L, "committed batch must refresh last-success")
    } finally spark.streams.removeListener(listener)
  }

  test("error-alert sink captures each Error event exactly once across replays") {
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1756684800000L
    val evs = Seq(
      StatusEvent(1, "encsrv01 - Copying Source 50%", new Timestamp(t0), 0),
      StatusEvent(1, "encsrv01 - Error", new Timestamp(t0 + 1000), 0),
      StatusEvent(2, "Done", new Timestamp(t0 + 2000), 0))
    val table = new AlertSink.AlertTable
    def deliver(): Unit = {
      val ms = MemoryStream[StatusEvent]
      ms.addData(evs: _*)
      val q = AlertSink.start(ms.toDS(), table, Trigger.AvailableNow())
      TestSpark.drainAndStop(q, 120000)
    }
    deliver()
    assert(table.alerts.map(a => (a.job_id, a.status)) ==
      Seq((1L, "encsrv01 - Error")), "only the Error event alerts")
    // a re-delivered batch restarts at the same batchId → same alert keys
    deliver()
    assert(table.alerts.size == 1, "replay must not duplicate alerts")
  }

  test("latestStatus on transformWithState (value state + TTL) matches the legacy twin") {
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = 1756684800000L
      val ms = MemoryStream[StatusEvent]
      ms.addData(
        StatusEvent(1, "Not Encoding", new Timestamp(t0), 0),
        StatusEvent(1, "encsrv01 - Encoding Pass 1", new Timestamp(t0 + 2000), 0),
        StatusEvent(1, "Not Encoding", new Timestamp(t0 + 3000), 0), // regression
        StatusEvent(2, "Not Encoding", new Timestamp(t0), 0),
        StatusEvent(2, "Done", new Timestamp(t0 + 1000), 0))
      val out = scala.collection.mutable.Map[Long, String]()
      val q = JobStream.latestStatusTws(ms.toDS()).writeStream
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[(Long, String)], _: Long) =>
          b.collect().foreach { case (k, v) => out.synchronized { out(k) = v } }
          ()
        }
        .start()
      TestSpark.drainAndStop(q, 120000)
      assert(out(1L) == "encsrv01 - Encoding Pass 1", "regression must be refused")
      assert(out(2L) == "Done")
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("ST1/S12: file-arrival job source dispatches each arrival exactly once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-jobs-ckpt")
    val ledger = new JobStream.ClaimLedger
    val events = scala.collection.mutable.ArrayBuffer[StatusEvent]()
    def mkJobs(ids: Range) = ids.map(i => JobRequest(i.toLong, s"/v/$i.mov",
      s"/v/$i.mp4", 1, priority = 5.0, normalise_level = None, passes = 1,
      apply_mp4box = false))
    def runOnce(): Unit = {
      val q = JobStream.start(JobStream.fileSource(spark, dir.toString),
        MockRunner, ledger, capacity = 10,
        evs => events.synchronized { events ++= evs },
        Trigger.AvailableNow(), Some(ckpt.toString))
      TestSpark.drainAndStop(q, 120000)
    }
    spark.createDataset(mkJobs(1 to 2)).write.mode("append").parquet(dir.toString)
    runOnce()
    // the start went through CheckpointLog: the restart below reads a
    // checkpoint the rename-based manager wrote
    assert(spark.conf.get(CheckpointLog.ManagerKey) == renameManager)
    assert(events.filter(_.status == "Done").map(_.job_id).toSet == Set(1L, 2L))
    // new files arrive; restart from the checkpoint sees ONLY the new ones
    spark.createDataset(mkJobs(3 to 4)).write.mode("append").parquet(dir.toString)
    runOnce()
    assert(ledger.claimed.keySet == Set(1L, 2L, 3L, 4L))
    assert(events.filter(_.status == "Done").map(_.job_id).toSet ==
      Set(1L, 2L, 3L, 4L))
    assert(events.count(e => e.job_id == 1L && e.status == "Done") == 1,
      "restart must not re-dispatch committed arrivals")
  }

  test("checkpoint helper: a local checkpoint selects the rename-based manager; a set value stands") {
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = CheckpointLog.ManagerKey
    val prev = spark.conf.getOption(key)
    def runOnce(): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-helper-ckpt")
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L)
      val q = CheckpointLog.configure(spark,
        ms.toDS().writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (_: Dataset[Long], _: Long) => () },
        Some(ckpt.toString)).start()
      TestSpark.drainAndStop(q, 120000)
      assert(java.nio.file.Files.exists(ckpt.resolve("offsets/0")) &&
        java.nio.file.Files.exists(ckpt.resolve("commits/0")),
        "the batch must be logged and committed in the given checkpoint")
    }
    try {
      spark.conf.unset(key)
      runOnce()
      assert(spark.conf.get(key) == renameManager)
      val userChoice = classOf[FileContextBasedCheckpointFileManager].getName
      spark.conf.set(key, userChoice)
      runOnce()
      assert(spark.conf.get(key) == userChoice, "a value the user set must win")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("local checkpoint manager: atomic, refuses to replace, cancels cleanly, overwrites like FileContext") {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    val dir = java.nio.file.Files.createTempDirectory("graft-local-ckpt")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir.toUri)
    val fm = new LocalCheckpointFileManager(root, conf)
    val fc = new FileContextBasedCheckpointFileManager(root, conf)
    def write(m: CheckpointFileManager, name: String, text: String, overwrite: Boolean): Unit = {
      val before = java.nio.file.Files.exists(dir.resolve(name))
      val out = m.createAtomic(new Path(root, name), overwrite)
      out.write(text.getBytes("UTF-8"))
      assert(java.nio.file.Files.exists(dir.resolve(name)) == before, "nothing changes before close")
      out.close()
    }
    def read(m: CheckpointFileManager, name: String): String = {
      val in = m.open(new Path(root, name))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    write(fm, "0", "v1", overwrite = false)
    assert(read(fm, "0") == "v1" && read(fc, "0") == "v1")
    intercept[FileAlreadyExistsException](write(fm, "0", "v2", overwrite = false))
    assert(read(fc, "0") == "v1", "a refused write must leave the file as it was")
    val out = fm.createAtomic(new Path(root, "1"), overwriteIfPossible = false)
    out.write(1)
    out.cancel()
    // FileContext verifies a file's .crc on read: a replaced file and its
    // .crc must agree
    write(fc, "2", "old", overwrite = false)
    assert(java.nio.file.Files.exists(dir.resolve(".2.crc")))
    write(fm, "2", "new contents", overwrite = true)
    assert(read(fc, "2") == "new contents", "overwriteIfPossible must replace, as FileContext does")
    write(fm, "2", "newer", overwrite = true)
    assert(read(fc, "2") == "newer")
    // of files 1 and 2, no temp file may remain
    val left = java.nio.file.Files.list(dir).toArray.map(_.toString.split('/').last)
      .filter(n => Set("1", "2").contains(n.dropWhile(_ == '.').takeWhile(_ != '.')))
    assert(!left.exists(_.contains(".tmp")), s"left: ${left.mkString(", ")}")
    assert(!left.contains("1"), "a cancelled write must not appear")
  }

  test("one-stage walk at capacity 8: a mixed batch is claimed once, each job's statuses match serial runJob") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def job(id: Long, src: String, level: Option[Int], passes: Int, mp4box: Boolean) =
      JobRequest(id, src, s"/v/$id.mp4", 1, priority = 10.0 - id,
        normalise_level = level, passes = passes, apply_mp4box = mp4box)
    val jobs = Seq(
      job(1, "/v/missing-1.mov", None, 1, mp4box = false), // missing source
      job(2, "/v/2.mov", Some(-16), 1, mp4box = false), // loudness target
      job(3, "/v/3.mov", None, 2, mp4box = false), // 2-pass
      job(4, "/v/4.mov", None, 1, mp4box = true), // MP4Box
      job(5, "/v/5.mov", Some(-23), 2, mp4box = true),
      job(6, "/v/missing-6.mov", Some(-16), 2, mp4box = true),
      job(7, "/v/7.mov", None, 2, mp4box = true),
      job(8, "/v/8.mov", None, 1, mp4box = false))
    val ms = MemoryStream[JobRequest]
    ms.addData(jobs: _*)
    val ledger = new JobStream.ClaimLedger
    val events = scala.collection.mutable.ArrayBuffer[StatusEvent]()
    val q = JobStream.start(ms.toDS(), MockRunner, ledger, capacity = 8,
      evs => events.synchronized { events ++= evs }, Trigger.AvailableNow())
    TestSpark.drainAndStop(q, 120000)
    assert(ledger.claimed == jobs.map(_.id -> 0L).toMap, "every job claimed once, in batch 0")
    for (j <- jobs) {
      val got = events.filter(_.job_id == j.id).map(e => (e.status, e.batch_id))
      val serial = JobStream.runJob(j, MockRunner, 0L).map(e => (e.status, e.batch_id))
      assert(got.toSeq == ("encsrv01 - Waiting", 0L) +: serial, s"job ${j.id}")
    }
  }

  test("capacity refills per trigger: trigger 2 claims exactly the unclaimed remainder") {
    // pins the `queued = 0` contract in JobStream.start: the synchronous
    // foreachBatch finishes a batch's jobs before the next trigger, so free
    // capacity is `capacity` every trigger and the LEDGER (not a
    // queued-count) is what prevents re-claims. A future "fix" that
    // subtracts prior claims from capacity would dispatch nothing here.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[JobRequest]
    val ledger = new JobStream.ClaimLedger
    val events = scala.collection.mutable.ArrayBuffer[StatusEvent]()
    val jobs = (1 to 3).map(i =>
      JobRequest(i.toLong, s"/v/$i.mov", s"/v/$i.mp4", 1, priority = i.toDouble,
        normalise_level = None, passes = 1, apply_mp4box = false))
    val q = JobStream.start(ms.toDS(), MockRunner, ledger, capacity = 2,
      evs => events.synchronized { events ++= evs },
      Trigger.ProcessingTime("0 seconds"))
    try {
      ms.addData(jobs: _*) // trigger 1: 3 waiting jobs, capacity 2
      q.processAllAvailable()
      assert(ledger.claimed.keySet == Set(3L, 2L),
        "trigger 1 claims the two highest-priority jobs")
      ms.addData(jobs(0)) // re-poll surfaces the unclaimed remainder (job 1)
      q.processAllAvailable()
      assert(ledger.claimed.keySet == Set(3L, 2L, 1L),
        "trigger 2 must refill to full capacity and claim the remainder")
      assert(ledger.claimed(1L) > ledger.claimed(3L),
        "the remainder is claimed by a LATER batch")
      val done = events.filter(_.status == "Done").map(_.job_id)
      assert(done.sorted == Seq(1L, 2L, 3L), s"each job runs exactly once: $done")
    } finally q.stop()
  }

  test("streaming pipeline claims top-priority jobs once, dispatches, emits Done") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[JobRequest]
    val ledger = new JobStream.ClaimLedger
    val events = scala.collection.mutable.ArrayBuffer[StatusEvent]()
    val jobs = (1 to 6).map(i =>
      JobRequest(i.toLong, s"/v/$i.mov", s"/v/$i.mp4", 1, priority = i.toDouble,
        normalise_level = None, passes = 1, apply_mp4box = false))
    ms.addData(jobs: _*)
    val q = JobStream.start(ms.toDS(), MockRunner, ledger, capacity = 4,
      evs => events.synchronized { events ++= evs }, Trigger.AvailableNow())
    TestSpark.drainAndStop(q, 120000)
    // capacity 4 → the 4 highest-priority jobs (6,5,4,3) claimed once each
    assert(ledger.claimed.keySet == Set(6L, 5L, 4L, 3L))
    val done = events.filter(_.status == "Done").map(_.job_id).toSet
    assert(done == Set(6L, 5L, 4L, 3L))
    // LATER batches never re-claim; replay of the SAME batch re-grants
    // (Spark retries a failed micro-batch under its original batchId)
    assert(!ledger.tryClaim(6L, 99L), "a later batch must not re-claim")
    assert(ledger.tryClaim(6L, 0L), "same-batch replay must re-grant")
    // re-delivery under a fresh query restarts batch ids at 0 == the
    // claiming batch, so dispatch re-runs idempotently for the SAME jobs
    val events2 = scala.collection.mutable.ArrayBuffer[StatusEvent]()
    val ms2 = MemoryStream[JobRequest]
    ms2.addData(jobs: _*)
    val q2 = JobStream.start(ms2.toDS(), MockRunner, ledger, capacity = 4,
      evs => events2.synchronized { events2 ++= evs }, Trigger.AvailableNow())
    TestSpark.drainAndStop(q2, 120000)
    assert(ledger.claimed.keySet == Set(6L, 5L, 4L, 3L), "ownership changed on replay")
    assert(events2.map(_.job_id).toSet.subsetOf(Set(6L, 5L, 4L, 3L)),
      s"replay dispatched jobs it doesn't own: ${events2.toSeq}")
  }
}
