package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.exec.{CommandRunner, Loudness, Progress}

/** SURVEY.md §2.8 — the scheduler/worker loop as Structured Streaming.
  *
  * Reference shape (encodesrv/__init__.py:97-141): a 60 s poll loop SELECTs
  * the top-priority 'Not Encoding' jobs, claims them by flipping status to
  * '<server> - Waiting' (ST2), hands them to a worker pool (ST5), and every
  * stage of the worker writes a status UPDATE back (ST6). Here the poll
  * loop is a micro-batch trigger, the claim is an idempotent per-batch
  * ledger write, the worker pool is up to 8 Spark tasks over the claimed
  * jobs, one single-stage job inside foreachBatch, and the status writes
  * are an append-only event stream consumed by the latest-per-key view
  * (StatusQueries).
  */
object JobStream {

  case class JobRequest(id: Long, source_file: String, destination_file: String,
      format_id: Int, priority: Double, normalise_level: Option[Int],
      passes: Int, apply_mp4box: Boolean)

  case class StatusEvent(job_id: Long, status: String, ts: Timestamp, batch_id: Long)

  /** The reference's poll loop discovers NEW jobs by re-reading the jobs
    * table (__init__.py:103-105); the cluster analogue is a file-arrival
    * source — each parquet file dropped into `dir` is a batch of incoming
    * job requests, offsets tracked per file by the checkpoint (so a restart
    * never re-dispatches consumed arrivals: the snapshot-diff semantics the
    * claim-by-update gave the reference). */
  def fileSource(spark: SparkSession, dir: String): Dataset[JobRequest] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[JobRequest]].schema)
      .parquet(dir)
      .as[JobRequest]
  }

  /** W1 with the reference's quirk fixed (SURVEY §2.5): the reference
    * computes `LIMIT 1-qsize()` — negative whenever anything is queued,
    * which Postgres rejects and a bare except swallows (__init__.py:103,
    * 119), capping dispatch at 1 job/min. Intended semantics: fill free
    * capacity, clamped at zero. */
  def dequeueLimit(capacity: Int, queued: Int): Int = math.max(0, capacity - queued)

  /** S1 dequeue over a micro-batch snapshot (same plan as
    * EncodeQueries.s1Dequeue, parameterized by capacity). */
  def dequeue(jobs: DataFrame, capacity: Int, queued: Int): DataFrame =
    jobs.filter(col("status") === "Not Encoding")
      .orderBy(col("priority").desc, col("id").asc)
      .limit(dequeueLimit(capacity, queued))

  // ---- status machine (keyed state) ----

  /** Stage order for legality checks (SURVEY §1.1 status machine). */
  private val stageRank: Map[String, Int] = Map(
    "Not Encoding" -> 0, "Waiting" -> 1, "Copying Source" -> 2,
    "Analysing audio" -> 3, "Encoding Pass" -> 4, "Moving File" -> 5,
    "Moving files" -> 5, "Done" -> 6, "Error" -> 7, "Encoded" -> 7)

  private[graft] def rank(status: String): Int = {
    // strip "<server> - " non-greedily: server names may contain hyphens
    // ("enc-01 - Waiting"); phases never contain " - "
    val s = status.replaceFirst("^.*? - ", "")
    stageRank.collectFirst { case (k, r) if s.startsWith(k) => r }.getOrElse(-1)
  }

  /** Done / Error / Encoded — no further transitions are legal. */
  private[graft] def isTerminal(r: Int): Boolean = r >= 6

  case class JobState(status: String, rank: Int, updatedMs: Long)

  /** Latest-legal-status per job: transitions may only move forward (or
    * repeat a stage with fresh progress %); a regression event is dropped —
    * the streaming twin of StatusQueries.stLatestStatus. Error/Done are
    * terminal except the crash-reset (ST3) which re-opens via
    * 'Not Encoding' from rank 7 is still refused here; resets rewrite the
    * snapshot instead (EncodeQueries.s9CrashReset). */
  def latestStatus(events: Dataset[StatusEvent]): Dataset[(Long, String)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.job_id).mapGroupsWithState[JobState, (Long, String)](
      GroupStateTimeout.NoTimeout) {
      case (id, evs, state: GroupState[JobState]) =>
        advanceStatus(id, evs, state.getOption, () => state.remove(), state.update)
    }
  }

  /** One job's status decision — the shared body of [[latestStatus]] and
    * [[LatestStatusProcessor]], so the two state APIs cannot drift: the
    * events sort by (ts, rank) and fold forward-only from the prior
    * state, refusing regressions. A terminal job evicts its state: an
    * unbounded job stream would otherwise grow the state store forever
    * (a late event for an evicted key restarts from scratch, which
    * forward-only absorbs). */
  private def advanceStatus(id: Long, evs: Iterator[StatusEvent],
      prior: Option[JobState], evict: () => Unit,
      keep: JobState => Unit): (Long, String) = {
    val next = evs.toSeq.sortBy(e => (e.ts.getTime, rank(e.status)))
      .foldLeft(prior) { (cur, e) =>
        val r = rank(e.status)
        cur match {
          case Some(s) if r < s.rank => cur // refuse regression
          case _ => Some(JobState(e.status, r, e.ts.getTime))
        }
      }
    next match {
      case Some(s) if isTerminal(s.rank) => evict()
      case Some(s) => keep(s)
      case None => ()
    }
    (id, next.map(_.status).getOrElse("Not Encoding"))
  }

  /** [[latestStatus]] on the modern state API (Spark 4 `transformWithState`
    * — the supported successor of mapGroupsWithState). Same forward-only
    * transition semantics, plus what the hand-rolled eviction cannot
    * express: non-terminal state carries a processing-time TTL, so a job
    * abandoned mid-flight (worker died without emitting Error) stops
    * pinning the state store after `ttl`. Terminal jobs still clear
    * eagerly. Requires the RocksDB state store provider. The
    * mapGroupsWithState form stays for batch use under any state store
    * provider. */
  class LatestStatusProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, StatusEvent, (Long, String)] {
    @transient private var state: ValueState[JobState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[JobState]("latest",
        org.apache.spark.sql.Encoders.product[JobState], TTLConfig(ttl))
    override def handleInputRows(id: Long, evs: Iterator[StatusEvent],
        timers: TimerValues): Iterator[(Long, String)] =
      Iterator.single(advanceStatus(id, evs,
        if (state.exists()) Some(state.get()) else None,
        () => state.clear(), state.update))
  }

  def latestStatusTws(events: Dataset[StatusEvent],
      ttl: java.time.Duration = java.time.Duration.ofDays(7)): Dataset[(Long, String)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.job_id)
      .transformWithState(new LatestStatusProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  // ---- dispatch (foreachBatch body) ----

  /** Claim ledger: idempotence for the side-effecting stage — a claim is
    * keyed (job_id); a re-delivered batch (same batchId) is a no-op, a
    * later batch never re-claims (SURVEY §7 exactly-once). Driver-side
    * state standing in for the claims table a cluster deployment writes. */
  final class ClaimLedger extends Serializable {
    private val claims = scala.collection.mutable.Map[Long, Long]()
    def tryClaim(jobId: Long, batchId: Long): Boolean = synchronized {
      claims.get(jobId) match {
        // replay of the SAME batch re-grants (Spark retries a failed
        // micro-batch under the same batchId; dropping the claim would
        // strand the job claimed-but-never-run); later batches never
        // re-claim
        case Some(b) => b == batchId
        case None => claims(jobId) = batchId; true
      }
    }
    def claimed: Map[Long, Long] = synchronized(claims.toMap)
  }

  /** One job's full stage walk (job.py:117-338 order: copy → analyse →
    * passes → mp4box → move), emitting a status event per transition;
    * failure at any stage short-circuits to Error (per-stage try/except
    * discipline). Runs inside a partition — jobs parallelize across
    * partitions, stages stay sequential within a job (SURVEY §4). */
  def runJob(job: JobRequest, runner: CommandRunner, batchId: Long,
      now: () => Long = () => System.currentTimeMillis()): Seq[StatusEvent] = {
    val srv = "encsrv01"
    val buf = scala.collection.mutable.ArrayBuffer[StatusEvent]()
    def emit(s: String): Unit =
      buf += StatusEvent(job.id, s, new Timestamp(now()), batchId)
    def fail(): Seq[StatusEvent] = { emit(s"$srv - Error"); buf.toSeq }

    val copy = runner.run(Seq("pv", job.source_file))
    if (copy.exitCode != 0) return fail()
    Progress.percents(copy.stdout).lastOption
      .foreach(p => emit(s"$srv - Copying Source $p%"))

    val volume: Option[Seq[String]] = job.normalise_level match {
      case Some(target) =>
        emit(s"$srv - Analysing audio")
        val an = runner.run(Seq("ffmpeg", "-i", job.source_file, "-af", "ebur128", "-f", "null", "-"))
        if (an.exitCode != 0) return fail()
        Loudness.integratedLufs(an.stderr)
          .map(m => Loudness.volumeArgv(Loudness.gainFactor(target.toDouble, m)))
      case None => None
    }

    for (p <- 1 to job.passes) {
      emit(s"$srv - Encoding Pass $p")
      val enc = runner.run(Seq("ffmpeg", "-i", job.source_file, "-pass", p.toString) ++
        volume.getOrElse(Seq.empty) :+ job.destination_file)
      if (enc.exitCode != 0) return fail()
    }

    if (job.apply_mp4box && !runner.ok(Seq("MP4Box", "-inter", "500", job.destination_file)))
      return fail()

    emit(s"$srv - Moving File")
    emit("Done")
    buf.toSeq
  }

  /** The full streaming pipeline: job-request stream → per-trigger claim →
    * task-parallel dispatch → status-event collector. The trigger
    * interval reproduces the reference's 60 s poll (ST1); tests run
    * availableNow. `collect` receives each batch's events (a cluster
    * deployment appends them to the status table instead). */
  def start(requests: Dataset[JobRequest], runner: CommandRunner,
      ledger: ClaimLedger, capacity: Int,
      collect: Seq[StatusEvent] => Unit,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      checkpoint: Option[String] = None): StreamingQuery = {
    val spark = requests.sparkSession
    val writer = requests.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[JobRequest], batchId: Long) =>
        // ST2 claim: top-priority fill of free capacity, idempotent per job.
        // `queued = 0` is deliberate: capacity refills every trigger (this
        // synchronous foreachBatch finishes the previous batch's jobs before
        // the next fires), and the ledger — not a queued-count — prevents
        // re-claims of already-dispatched jobs, so trigger N+1 claims
        // exactly the unclaimed remainder (StreamingSpec pins this). The
        // batch already carries the query's JobRequest encoder: an `.as`
        // here would derive it by reflection again on every trigger.
        val picked = batch
          .orderBy(col("priority").desc, col("id").asc)
          .limit(dequeueLimit(capacity, 0))
          .collect()
          .filter(j => ledger.tryClaim(j.id, batchId))
        val claimEvents = picked.map(j =>
          StatusEvent(j.id, "encsrv01 - Waiting", new Timestamp(System.currentTimeMillis()), batchId))
        // ST5 worker pool: the claimed jobs are driver-local, so they ship
        // straight to up to 8 tasks — one stage, no exchange
        val runEvents = spark.sparkContext
          .parallelize(picked.toIndexedSeq, math.max(1, math.min(picked.length, 8)))
          .mapPartitions(_.flatMap(j => runJob(j, runner, batchId)))
          .collect()
        collect((claimEvents ++ runEvents).toSeq)
        ()
      }
    CheckpointLog.configure(spark, writer, checkpoint).start()
  }
}
