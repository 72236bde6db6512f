package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering: numbers keep every digit Java prints. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** CPU accounting of the machine (/proc/stat) and of this process.
  *
  * The benchmark shares a host: the hypervisor takes ("steals") a varying
  * share of the time the virtual CPUs are ready to run, so the same work
  * takes a varying wall time. [[stolen]] is that share over an interval,
  * taken over the time the CPUs were busy or stolen (idle time excluded). */
object Host {
  /** Machine ticks (user+nice, system, idle+iowait, steal) and this
    * process's CPU time. */
  case class Cpu(ticks: Seq[Long], processNs: Long)

  def cpu(): Cpu = {
    val f = new java.io.File("/proc/stat")
    val m = if (!f.exists()) Seq(0L, 0L, 0L, 0L) else {
      val src = scala.io.Source.fromFile(f)
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Seq(v(0) + v(1), v(2) + v(5) + v(6), v(3) + v(4), if (v.length > 7) v(7) else 0L)
    }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Cpu(m, os.getProcessCpuTime)
  }

  private def delta(a: Cpu, b: Cpu): Seq[Double] =
    a.ticks.zip(b.ticks).map { case (x, y) => (y - x).toDouble }

  /** Stolen share of the busy time between `a` and `b`. */
  def stolen(a: Cpu, b: Cpu): Double = {
    val d = delta(a, b)
    val busy = d(0) + d(1) + d(3)
    if (busy <= 0) 0.0 else d(3) / busy
  }

  def shares(a: Cpu, b: Cpu): Map[String, Double] = {
    val d = delta(a, b)
    val all = math.max(1.0, d.sum)
    Map("user" -> d(0) / all, "system" -> d(1) / all, "idle" -> d(2) / all,
      "steal" -> d(3) / all, "stolen_of_busy" -> stolen(a, b),
      "process_cpu_s" -> (b.processNs - a.processNs) / 1e9)
  }
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cache <dir>`, on `local[<available
  * processors>]`.
  *
  * Order: generate the seeded inputs (untimed) → set up `setupReps` times,
  * each on a fresh session and a fresh copy of the inputs (median =
  * setup_s) → one small warm-up unit → measured units until `--seconds`
  * have passed → output checks. A traced run (`--trace 1`) measures its
  * units under the listeners, then runs the small unit untraced, traced
  * and untraced again (the tracing overhead) and once more on `local[1]`,
  * and reports the per-layer metrics instead of the end-to-end ones.
  *
  * End-to-end times are the measured wall times scaled by the share of busy
  * CPU time the host left to this machine over the same phase
  * ([[Host.stolen]]): on an unshared host they are the wall times. The last
  * stdout line is the result object; the line before it is the run's
  * report (input properties, the per-workload metrics as measured on the
  * wall clock, the stolen shares, check failures). */
object Main {
  case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cache: String, sizes: Gen.Sizes, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("work"), need("cache"), Gen.default,
      Runtime.getRuntime.availableProcessors())
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the ingest round as Bench's stream leg configures it
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Process high-water resident set, MB. */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) Runtime.getRuntime.totalMemory() / 1048576.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], report: Map[String, Any])

  def run(o: Opts): Result = {
    val workDir = new java.io.File(o.work)
    graft.plans.Snapshot.deleteTree(workDir.toPath)
    workDir.mkdirs()
    val progress = new ProgressListener
    val w = Workloads(o.workload, o.work, o.seed, o.sizes, progress)
    val trace = new Trace(o.trace, s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    // job attribution reads call stacks; let them reach past MLlib frames
    if (o.trace) System.setProperty("spark.callstack.depth", "200")

    // inputs (untimed)
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tSession = System.nanoTime()
    var spark = session(o.cores, o.work)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val tGen = System.nanoTime()
    w.generate(spark, Gen.generateBase(spark, o.cache, o.sizes))
    val genS = (System.nanoTime() - tGen) / 1e9

    // set-up, repeated on fresh sessions and fresh copies
    var setupEngine: EngineListener = null
    val cpuS0 = Host.cpu()
    val setups = (1 to w.setupReps).map { rep =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(o.cores, o.work)
      if (o.trace && rep == w.setupReps) {
        setupEngine = new EngineListener
        spark.sparkContext.addSparkListener(setupEngine)
      }
      w.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val cpuS1 = Host.cpu()
    if (setupEngine != null) spark.sparkContext.removeSparkListener(setupEngine)
    spark.streams.addListener(progress)
    val tWarm = System.nanoTime()
    w.warmUp(spark)
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val engine = new EngineListener
    val ckptMark = graft.plans.Snapshot.lastOutcomes.size
    // the exec layer is counted by a wrapper around the dispatcher's runner
    def countCommands(on: Boolean): Unit =
      w.runner = if (on) new CountingRunner(graft.exec.MockRunner) else graft.exec.MockRunner
    if (o.trace) {
      spark.sparkContext.addSparkListener(engine)
      progress.clearHistory()
      CountingRunner.reset()
      countCommands(true)
    }

    // measured units
    val samples = scala.collection.mutable.ArrayBuffer[UnitSample]()
    val cpu0 = Host.cpu()
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    while (samples.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds)
      samples += w.once(spark, trace)
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpu1 = Host.cpu()
    val t1ms = System.currentTimeMillis()
    if (o.trace) { spark.sparkContext.removeSparkListener(engine); countCommands(false) }

    val tCheck = System.nanoTime()
    val failures = w.check(spark)
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val figures = w.layerFigures(spark)
    val inputs = w.props(spark)
    val attempted = if (o.workload == "batch_round") samples.size.toLong
      else samples.map(_.ops).sum
    val failed = math.min(attempted, failures.size.toLong)

    val opsPerS = samples.map(_.ops).sum / samples.map(_.wallS).sum
    val (p50, tail) = w.unitFigures(samples.toSeq)
    val setupS = median(setups)
    val rss = peakRssMb

    val namedMetrics: Seq[(String, Double, String)] = (o.workload match {
      case "dispatch" => Seq(("dispatch.jobs_per_s", opsPerS, "1/s"),
        ("dispatch.round_p50_s", p50, "s"), ("dispatch.round_p75_s", tail, "s"))
      case "ingest" => Seq(("ingest.docs_per_s", opsPerS, "1/s"),
        ("ingest.batch_p50_s", p50, "s"), ("ingest.batch_p75_s", tail, "s"))
      case _ => Seq(("batch.wall_s", p50, "s"), ("batch.slowest_step_s", tail, "s"))
    }) ++ Seq(("setup_s", setupS, "s"), ("failed_frac", failed.toDouble / attempted, "ratio"),
      ("peak_rss_mb", rss, "MB"))

    // end-to-end times on the machine's own clock: the measured wall time
    // less the share the hypervisor stole from the busy CPUs meanwhile
    val keptSetup = 1.0 - Host.stolen(cpuS0, cpuS1)
    val keptWindow = 1.0 - Host.stolen(cpu0, cpu1)
    val metrics =
      if (!o.trace) Seq(("setup_s", setupS * keptSetup, "s"), ("peak_rss_mb", rss, "MB"),
        ("ops_per_s", opsPerS / keptWindow, "1/s"), ("unit_p50_s", p50 * keptWindow, "s"),
        ("unit_tail_s", tail * keptWindow, "s"))
      else {
        val perLayer = Layers.report(o, samples.toSeq, engine, setupEngine,
          progress, trace, figures, windowS, t0ms, t1ms, ckptMark)
        trace.writeJsonLines(s"${o.work}/trace-spans.jsonl")
        // tracing overhead: the small unit untraced, traced, untraced (the
        // traced one against the mean of its neighbours, so drift cancels)
        val before = w.small(spark, new Trace(false, ""))
        val l = new EngineListener
        spark.sparkContext.addSparkListener(l)
        countCommands(true)
        val traced = try w.small(spark, new Trace(true, trace.runId))
          finally { spark.sparkContext.removeSparkListener(l); countCommands(false) }
        val plain = (before + w.small(spark, new Trace(false, ""))) / 2
        // the same small unit on one core: the single-core baseline a
        // parallel speed-up is read against
        spark.stop()
        spark = session(1, o.work)
        spark.streams.addListener(progress)
        w.setup(spark, w.setupReps + 1)
        val small1 = w.small(spark, new Trace(false, ""))
        perLayer ++ Seq(("trace.overhead_frac", traced / plain - 1.0, "ratio"),
          ("engine.local1_s", small1, "s"),
          ("engine.speedup_vs_local1", small1 / plain, "ratio"))
      }
    spark.stop()

    val report = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "inputs" -> inputs,
      "phases_s" -> Map("jvm_start" -> jvmS, "first_session" -> sessionS, "generate" -> genS,
        "setup" -> setups.sum, "warm_up" -> warmS, "measure" -> windowS, "check" -> checkS),
      "cpu_s" -> Map("setup" -> Host.shares(cpuS0, cpuS1), "window" -> Host.shares(cpu0, cpu1)),
      "setup_reps_s" -> setups, "units" -> samples.size,
      "unit_wall_s" -> samples.map(_.wallS).toSeq, "parts" -> samples.map(_.parts.size).sum,
      "named_metrics" -> namedMetrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "check_failures" -> failures.take(20)) ++
      (if (o.trace) Map("span_self_s" -> trace.selfSeconds) else Map.empty)
    Result(failures.isEmpty, attempted, failed, metrics, report)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = run(o)
    println(Json.obj(Seq("report" -> r.report)))
    println(Json.obj(Seq("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> r.metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
  }
}
