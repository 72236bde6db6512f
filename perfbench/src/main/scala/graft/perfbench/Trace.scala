package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.exec.{CommandRunner, RunResult}

/** Traced-run instrumentation, built only from the benchmark's side of the
  * program's public surface: spans the benchmark opens around each call into
  * a layer, plus Spark's own listener reports. Nothing here is installed in
  * a timed run; a timed run pays one boolean test per span.
  *
  * Spans carry (name, layer, start, end, parent, run id), are held in
  * memory and written out once, at exit. */
final class Trace(val enabled: Boolean, val runId: String) {

  case class Span(id: Int, name: String, layer: String, startNs: Long,
      endNs: Long, parent: Int)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Time `body` as a span of `layer`; a no-op wrapper when disabled. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized(spans += Span(id, name, layer, t0, t1, parent))
      }
    }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Wall seconds per layer, counting a span once and subtracting its
    * child spans (self time). */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  def totalSeconds(name: String): Double =
    allSpans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9

  def writeJsonLines(path: String): Unit = {
    val sb = new StringBuilder
    for (s <- allSpans)
      sb ++= s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}

/** The `exec/` layer's counters: a [[CommandRunner]] wrapper the benchmark
  * passes to the dispatcher. Counters are process-wide because the runner
  * is serialized into tasks; in `local[N]` those tasks run in this JVM. */
final class CountingRunner(inner: CommandRunner) extends CommandRunner {
  def run(cmd: Seq[String], cwd: Option[java.io.File]): RunResult = {
    val t0 = System.nanoTime()
    val r = inner.run(cmd, cwd)
    CountingRunner.commands.incrementAndGet()
    CountingRunner.nanos.addAndGet(System.nanoTime() - t0)
    if (r.exitCode != 0) CountingRunner.failed.incrementAndGet()
    r
  }
}

object CountingRunner {
  val commands = new AtomicLong
  val nanos = new AtomicLong
  val failed = new AtomicLong
  def reset(): Unit = { commands.set(0); nanos.set(0); failed.set(0) }
}

/** Scheduler, executor and exchange figures from [[SparkListener]] events,
  * plus per-module job attribution by call site: the program frames of the
  * call stack Spark records for each job, innermost first (traced runs
  * raise `spark.callstack.depth` so the stack reaches past MLlib). */
final class EngineListener extends SparkListener {
  private case class Job(start: Long, var end: Long, frames: Seq[String], batch: String) {
    /** The innermost frame under `pkg`, or "". */
    def owner(pkg: String): String = frames.find(_.startsWith(pkg)).getOrElse("")
  }
  private val jobs = mutable.Map[Int, Job]()
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (created last) carries the job's call stack
    val stack = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val frames = stack.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq
    val batch = Option(e.properties)
      .flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse("")
    jobs(e.jobId) = Job(e.time, -1L, frames, batch)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    val dur = e.taskInfo.duration
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += dur
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      // Spark's own definition (the UI's "Scheduler Delay")
      schedDelayMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  private def done: Seq[Job] = synchronized(jobs.values.filter(_.end >= 0).toSeq)

  def jobCount: Long = done.size.toLong

  /** Seconds covered by at least one job (the union of job spans). */
  def jobUnionSeconds(fromMs: Long, toMs: Long): Double = {
    val iv = done.map(j => (math.max(j.start, fromMs), math.min(j.end, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }

  /** (jobs, seconds) of jobs whose innermost frame under `pkg` is in
    * `file`: a job belongs to the query module (or sink) nearest to it. */
  def bySite(pkg: String, file: String): (Long, Double) = {
    val js = done.filter(_.owner(pkg).contains(s"($file:"))
    (js.size.toLong, js.map(j => j.end - j.start).sum / 1000.0)
  }

  /** JobStream's per-batch jobs: the first of each batch is the claim
    * (dequeue collect), the rest are the stage walk. */
  def claimWalkSeconds(file: String): (Double, Double) = {
    val js = done.filter(_.owner("graft.").contains(s"($file:")).groupBy(_.batch).values
      .map(_.sortBy(_.start))
    (js.map(_.head).map(j => j.end - j.start).sum / 1000.0,
      js.flatMap(_.tail).map(j => j.end - j.start).sum / 1000.0)
  }

  /** Worst stage's max / median task time, over stages with ≥ 2 tasks. */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Streaming progress reports. `current` holds the reports of the query
  * running now (reset before each drain); `history` keeps every report and
  * every drain's tail (last data batch end → termination) for the traced
  * report. */
final class ProgressListener extends StreamingQueryListener {
  case class P(batchId: Long, rows: Long, triggerMs: Long, addBatchMs: Long,
      stateCommitMs: Long, stateRows: Long, stateMem: Long, endMs: Long)
  private val current = mutable.ArrayBuffer[P]()
  val history = mutable.ArrayBuffer[P]()
  val tailsS = mutable.ArrayBuffer[Double]()
  private var terminated = 0

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    val rec = P(p.batchId, p.numInputRows, d("triggerExecution"),
      d("addBatch"), ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum,
      java.time.Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution"))
    synchronized { current += rec; history += rec }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized {
      val now = System.currentTimeMillis()
      current.filter(_.rows > 0).lastOption.foreach(p => tailsS += math.max(0L, now - p.endMs) / 1000.0)
      terminated += 1
    }

  def reset(): Unit = synchronized { current.clear(); terminated = 0 }

  /** Listener events arrive asynchronously: wait for the termination of
    * the query just stopped, so `all` holds its every report. */
  def awaitTerminated(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(terminated) == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def all: Seq[P] = synchronized(current.toSeq)
  def clearHistory(): Unit = synchronized { history.clear(); tailsS.clear() }
}

