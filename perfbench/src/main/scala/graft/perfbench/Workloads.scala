package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.exec.{CommandRunner, MockRunner}
import graft.pipeline.{BatchPipeline, CorpusCompaction, Maintenance, VectorCompaction}
import graft.queries.{MlQueries, TextQueries, VectorQueries}
import graft.sinks.{LandingSink, ShardWriter}
import graft.streaming.{EventStream, JobStream}
import graft.streaming.JobStream.{JobRequest, StatusEvent}

/** One measured unit of work: a drain (dispatch, ingest) or a round
  * (batch_round). `parts` are the per-micro-batch seconds of a drain, or
  * the per-step seconds of a round. */
case class UnitSample(wallS: Double, ops: Long, parts: Seq[Double])

/** What every workload provides to the runner in [[Main]]. */
trait Workload {
  /** Make the seeded inputs under the work dir (not timed). */
  def generate(spark: SparkSession, gen: String): Unit
  /** Session-side set-up: artifact materialization (timed as setup_s). */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Set-ups per run; setup_s is their median. */
  def setupReps: Int = 3
  /** A small unit (the first few arrival files); its wall seconds. */
  def small(spark: SparkSession, trace: Trace): Double
  /** Unmeasured work before the measured units, so the first measured
    * unit is not the JIT's. */
  def warmUp(spark: SparkSession): Unit = small(spark, new Trace(false, ""))
  /** One measured unit. */
  def once(spark: SparkSession, trace: Trace): UnitSample
  /** Output checks of the units run so far; failures. */
  def check(spark: SparkSession): Seq[String]
  /** Input properties, for the run's report (taken after the measured
    * units, against the set-up's probe tables). */
  def props(spark: SparkSession): Map[String, Any]
  /** (unit_p50_s, unit_tail_s): by default the median and the `tailQ`
    * quantile of the micro-batch seconds of every measured drain. */
  def tailQ: Double = 0.75
  def unitFigures(samples: Seq[UnitSample]): (Double, Double) = {
    val parts = samples.flatMap(_.parts)
    (Main.quantile(parts, 0.5), Main.quantile(parts, tailQ))
  }
  /** Per-layer figures only this workload can take (rows, files, bytes). */
  def layerFigures(spark: SparkSession): Map[String, Double] = Map.empty
  /** The external-command runner the dispatcher uses; a traced run swaps
    * in a [[CountingRunner]]. */
  var runner: CommandRunner = MockRunner
}

object Workloads {
  def apply(name: String, work: String, seed: Long, sizes: Gen.Sizes,
      progress: ProgressListener): Workload = name match {
    case "dispatch" => new Dispatch(work, seed, sizes, progress)
    case "ingest" => new Ingest(work, seed, sizes, progress)
    case "batch_round" => new BatchRound(work, seed, sizes)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("dispatch", "ingest", "batch_round")

  /** Per-micro-batch seconds of the data-carrying batches of the query the
    * listener saw last, after it terminated. */
  def dataBatches(progress: ProgressListener): Seq[Double] =
    progress.all.filter(_.rows > 0).map(_.triggerMs / 1000.0)
}

/** EncodeSrv's own job: the claim → stage-walk → status loop over a file
  * source of job requests, one arrival file per round. */
final class Dispatch(work: String, seed: Long, s: Gen.Sizes,
    progress: ProgressListener) extends Workload {
  private var dir = ""
  private var jobs = Seq.empty[JobRequest]
  private var warmDir = ""
  private var inputProps = Map.empty[String, Any]
  private var drains = 0
  // the last drain's outputs, for the checks
  private var lastLedger: JobStream.ClaimLedger = _
  private val lastEvents = mutable.ArrayBuffer[StatusEvent]()

  def generate(spark: SparkSession, gen: String): Unit = {
    val (d, js, p) = Gen.dispatchInputs(spark, gen, work, seed, s)
    dir = d; jobs = js; inputProps = p
    warmDir = s"$work/job-warm"
    new java.io.File(warmDir).mkdirs()
    for (f <- new java.io.File(dir).listFiles().sortBy(_.getName).take(math.min(8, s.jobFiles)))
      java.nio.file.Files.copy(f.toPath, new java.io.File(warmDir, f.getName).toPath)
  }

  // the dispatcher has no artifacts: set-up is the session alone, cheap
  // enough to repeat more often for a steadier median
  def setup(spark: SparkSession, rep: Int): Unit = ()
  override def setupReps: Int = 7

  private def drain(spark: SparkSession, from: String, events: mutable.Buffer[StatusEvent])
      : (JobStream.ClaimLedger, Double) = {
    import spark.implicits._
    drains += 1
    val requests = spark.readStream
      .schema(Encoders.product[JobRequest].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(from).as[JobRequest]
    val ledger = new JobStream.ClaimLedger
    progress.reset()
    val t0 = System.nanoTime()
    val q = JobStream.start(requests, runner, ledger, s.jobsPerFile,
      evs => events.synchronized(events ++= evs), Trigger.AvailableNow(),
      Some(s"$work/ckpt-dispatch-$drains"))
    q.awaitTermination(150000L)
    val wall = (System.nanoTime() - t0) / 1e9
    if (q.isActive) { q.stop(); throw new IllegalStateException("dispatch drain did not finish") }
    q.exception.foreach(e => throw e)
    progress.awaitTerminated()
    (ledger, wall)
  }

  def small(spark: SparkSession, trace: Trace): Double =
    drain(spark, warmDir, mutable.ArrayBuffer())._2

  def once(spark: SparkSession, trace: Trace): UnitSample = {
    lastEvents.clear()
    val (ledger, wall) = trace.span("drain", "streaming")(drain(spark, dir, lastEvents))
    lastLedger = ledger
    UnitSample(wall, jobs.size.toLong, Workloads.dataBatches(progress))
  }

  def check(spark: SparkSession): Seq[String] =
    Checks.dispatch(jobs, lastLedger.claimed, lastEvents.toSeq)

  def props(spark: SparkSession): Map[String, Any] = inputProps
}

/** The LLM ingest front door: capped gates and annotators feeding the
  * exactly-once landing round, one arrival file per micro-batch. */
final class Ingest(work: String, seed: Long, s: Gen.Sizes,
    progress: ProgressListener) extends Workload {
  private val ds = s"$work/ds" // the corpus the artifacts are fitted on
  private val arrDir = s"$work/doc-arrivals"
  private val warmDir = s"$work/doc-warm"
  private var nArrivals = 0L
  private var cap = 1L
  private var inputProps = Map.empty[String, Any]
  private var art: EventStream.IngestArtifacts = _
  private var drains = 0
  private var lastLanding = ""
  private val arrivalCols = Seq("doc_id", "source", "text")

  def generate(spark: SparkSession, gen: String): Unit = {
    val (corpus, arrivals) = Gen.splitDocs(spark, gen, seed, s)
    corpus.write.parquet(s"$ds/documents.parquet")
    // a fixed number of arrivals in seeded order, dealt round-robin to files
    val ranked = arrivals.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("ord")) - 1)
      .filter(col("rk") < s.ingestFiles * s.docsPerFile)
      .withColumn("file", col("rk") % lit(s.ingestFiles))
    Gen.writeOrderedFiles(ranked.select((arrivalCols :+ "file").map(col): _*),
      "file", arrDir, s"$work/stage-docs")
    val arr = spark.read.parquet(arrDir)
    nArrivals = arr.count()
    require(nArrivals == s.ingestFiles * s.docsPerFile, s"only $nArrivals arrivals")
    // the cap binds on the head domains only: 80% of the fourth-largest
    // domain's arrivals
    val counts = arr.groupBy("source").count().collect().map(_.getLong(1)).sorted.reverse
    cap = math.max(1L, (counts.lift(3).getOrElse(counts.last) * 0.8).toLong)
    inputProps = Map("files" -> s.ingestFiles, "cap" -> cap,
      "sources_over_cap" -> counts.count(_ > cap))
    new java.io.File(warmDir).mkdirs()
    for (f <- new java.io.File(arrDir).listFiles().sortBy(_.getName).take(1))
      java.nio.file.Files.copy(f.toPath, new java.io.File(warmDir, f.getName).toPath)
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = s"$work/setup-$rep"
    Gen.copyTree(ds, s"$dir/ds")
    def t[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally System.err.println(f"[perfbench] setup $rep $what ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    t("probe tables")(Gen.writeProbeTables(spark.read.parquet(s"$dir/ds/documents.parquet"),
      s"$dir/fps", s"$dir/bands"))
    art = EventStream.IngestArtifacts(
      corpusFps = spark.read.parquet(s"$dir/fps"),
      corpusBands = spark.read.parquet(s"$dir/bands"),
      model = t("classifier")(MlQueries.fitted(spark, s"$dir/ds")),
      merges = t("bpe")(MlQueries.learnedMerges(spark, s"$dir/ds")),
      bucketWeights = t("dsir")(TextQueries.dsirBucketWeights(spark, s"$dir/ds")))
  }

  private def drain(spark: SparkSession, from: String): Double = {
    drains += 1
    val stream = spark.readStream
      .schema(spark.read.parquet(arrDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(from)
    lastLanding = s"$work/landing-$drains"
    progress.reset()
    val t0 = System.nanoTime()
    val drained = LandingSink.runOnce(
      EventStream.ingestFrontDoorCapped(stream, art, cap),
      lastLanding, s"$work/ckpt-ingest-$drains", maxMs = 150000L)
    val wall = (System.nanoTime() - t0) / 1e9
    require(drained, "ingest round did not drain")
    progress.awaitTerminated()
    wall
  }

  def small(spark: SparkSession, trace: Trace): Double = drain(spark, warmDir)

  def once(spark: SparkSession, trace: Trace): UnitSample = {
    val wall = trace.span("landing_round", "sinks")(drain(spark, arrDir))
    UnitSample(wall, nArrivals, Workloads.dataBatches(progress))
  }

  private def rows(df: DataFrame): Seq[Checks.Landed] = {
    val cols = df.columns.filterNot(c => c == "batch").sorted
    df.select(cols.map(col): _*).collect().toSeq.map { r =>
      Checks.Landed(r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.toSeq)
    }
  }

  def check(spark: SparkSession): Seq[String] = {
    val landed = rows(spark.read.parquet(lastLanding))
    val batch = rows(EventStream.ingestFrontDoor(spark.read.parquet(arrDir), art))
    Checks.ingest(landed, batch, cap)
  }

  override def layerFigures(spark: SparkSession): Map[String, Double] = {
    val files = Option(new java.io.File(lastLanding).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("batch=")).flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .count(_.getName.endsWith(".parquet"))
    val landedRows = spark.read.parquet(lastLanding).count()
    Map("sinks.landed_rows" -> landedRows.toDouble, "sinks.landed_files" -> files.toDouble,
      "streaming.survivor_ratio" -> landedRows.toDouble / math.max(1L, nArrivals))
  }

  def props(spark: SparkSession): Map[String, Any] = inputProps ++
    Gen.docProps(spark.read.parquet(arrDir), art.corpusFps, art.corpusBands) ++
    Map("corpus_rows" -> spark.read.parquet(s"$ds/documents.parquet").count())
}

/** The batch half: corpus and vector compaction with deltas appended back,
  * the composed maintenance pass with every artifact retraining, and the
  * shuffled export. Every round starts from the same materialized state,
  * so rounds are repeatable units. */
final class BatchRound(work: String, seed: Long, s: Gen.Sizes) extends Workload {
  private val pristine = s"$work/bds"
  private val textArr = s"$work/text-arrivals"
  private val vecArr = s"$work/vec-arrivals"
  private var state = "" // the set-up's materialized dataset + probe tables
  private var cents: Seq[(Long, Seq[Double])] = Nil
  private var rounds = 0
  private val failures = mutable.ArrayBuffer[String]()
  private var lastFigures = Map.empty[String, Double]

  def generate(spark: SparkSession, gen: String): Unit = {
    val (corpus, arrivals) = Gen.splitDocs(spark, gen, seed, s)
    val docCols = spark.read.parquet(s"$gen/documents.parquet").columns.map(col)
    corpus.select(docCols: _*).write.parquet(s"$pristine/ds/documents.parquet")
    val ranked = arrivals.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("ord")) - 1)
      .filter(col("rk") < s.batchRounds * s.textPerRound)
      .withColumn("slice", (col("rk") % s.batchRounds).cast("int"))
    ranked.select((docCols :+ col("slice")): _*).write.partitionBy("slice").parquet(textArr)
    // embeddings: the first 64 ids seed the quantizer, so they stay corpus
    val emb = spark.read.parquet(s"$gen/embeddings.parquet")
    val ue = Gen.u(seed, "vsplit", col("vec_id"))
    val isArr = col("vec_id") >= 64 && ue < s.arrivalShare
    emb.filter(!isArr).write.parquet(s"$pristine/ds/embeddings.parquet")
    emb.filter(isArr).withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(Gen.u(seed, "vorder", col("vec_id")))) - 1)
      .filter(col("rk") < s.batchRounds * s.vecPerRound)
      .withColumn("slice", (col("rk") % s.batchRounds).cast("int")).drop("rk")
      .write.partitionBy("slice").parquet(vecArr)
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = s"$work/setup-$rep"
    Gen.copyTree(pristine, dir)
    Gen.writeProbeTables(spark.read.parquet(s"$dir/ds/documents.parquet"),
      s"$dir/fps", s"$dir/bands")
    VectorQueries.corpusCellIndex(spark, s"$dir/ds").write.parquet(s"$dir/index")
    cents = VectorQueries.quantizerRows(spark, s"$dir/ds")
    state = dir
  }

  /** A round without the maintenance pass. */
  def small(spark: SparkSession, trace: Trace): Double =
    round(spark, trace, maintain = false).wallS
  // set-up already ran the query paths once; a warm-up round costs a round
  override def warmUp(spark: SparkSession): Unit = ()

  def once(spark: SparkSession, trace: Trace): UnitSample =
    round(spark, trace, maintain = true)

  private def round(spark: SparkSession, trace: Trace, maintain: Boolean): UnitSample = {
    rounds += 1
    val slice = (rounds - 1) % s.batchRounds
    val rd = s"$work/round-$rounds"
    Gen.copyTree(state, rd)
    val ds = s"$rd/ds"
    val arrivals = spark.read.parquet(textArr).filter(col("slice") === slice).drop("slice")
    val vecs = spark.read.parquet(vecArr).filter(col("slice") === slice).drop("slice")
    val t0 = System.nanoTime()
    val steps = mutable.ArrayBuffer[Double]()
    def step[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try trace.span(name, "pipeline")(body) finally steps += (System.nanoTime() - t) / 1e9
    }
    val textAudit = step("compact") {
      val res = CorpusCompaction.compact(arrivals, spark.read.parquet(s"$ds/documents.parquet"),
        spark.read.parquet(s"$rd/fps"), spark.read.parquet(s"$rd/bands"))
      val a = res.audit.collect()(0).toSeq.map(_.asInstanceOf[Long])
      val appended = res.appended.count()
      res.appended.write.mode("append").parquet(s"$ds/documents.parquet")
      res.newFingerprints.write.mode("append").parquet(s"$rd/fps")
      res.newBands.write.mode("append").parquet(s"$rd/bands")
      res.release()
      Checks.Audit("corpus compaction", a, arrivals.count(), appended)
    }
    val vecAudit = step("vcompact") {
      val res = VectorCompaction.compact(vecs, spark.read.parquet(s"$rd/index"), cents)
      val a = res.audit.collect()(0).toSeq.map(_.asInstanceOf[Long])
      val appended = res.appended.count()
      res.appended.write.mode("append").parquet(s"$rd/index")
      vecs.join(res.appended.select("vec_id"), Seq("vec_id"), "left_semi")
        .select("vec_id", "embedding", "label")
        .write.mode("append").parquet(s"$ds/embeddings.parquet")
      res.release()
      Checks.Audit("vector compaction", a, vecs.count(), appended)
    }
    // thresholds every artifact trips: quantizer (with its index
    // reassignment), BPE tokenizer and classifier all retrain
    val retrained = if (!maintain) Map.empty[String, Boolean] else step("maintain") {
      val o = Maintenance.maintainAll(spark, ds, spark.read.parquet(s"$rd/index"),
        maxHotCells = -1L, fertilityCeilingMicro = -1L,
        agreementFloorMicro = Long.MaxValue)
      o.index.write.parquet(s"$rd/index-reassigned")
      Map("quantizer" -> o.quantizer.retrained, "tokenizer" -> o.tokenizer.retrained,
        "classifier" -> o.classifier.retrained)
    }
    val corpusRows = spark.read.parquet(s"$ds/documents.parquet").count()
    val manifestRows = step("export") {
      trace.span("shard_write", "sinks")(BatchPipeline.exportShuffled(
        spark.read.parquet(s"$ds/documents.parquet"), s"$rd/export"))
      ShardWriter.manifest(spark, s"$rd/export", "shard", "skey")
        .agg(sum("n_rows")).collect()(0).getLong(0)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    failures ++= Checks.batchRound(Seq(textAudit, vecAudit), manifestRows, corpusRows,
      retrained).map(f => s"round $rounds: $f")
    val shardFiles = Option(new java.io.File(s"$rd/export").listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    lastFigures = Map(
      "pipeline.rows_in" -> (textAudit.read + vecAudit.read).toDouble,
      "pipeline.rows_appended" -> (textAudit.appended + vecAudit.appended).toDouble,
      "sinks.shard_files" -> shardFiles.length.toDouble,
      "sinks.shard_bytes" -> shardFiles.map(_.length).sum.toDouble)
    // rounds are independent: drop this round's memos and files
    MlQueries.releaseModels(); MlQueries.releaseBpe()
    TextQueries.releaseCaches(); VectorQueries.releaseCaches()
    VectorQueries.evictTrained(ds)
    graft.plans.Snapshot.deleteTree(new java.io.File(rd).toPath)
    UnitSample(wall, textAudit.read + vecAudit.read, steps.toSeq)
  }

  /** unit_p50_s is the round wall; unit_tail_s its slowest step. */
  override def unitFigures(samples: Seq[UnitSample]): (Double, Double) =
    (Main.median(samples.map(_.wallS)), Main.median(samples.map(_.parts.max)))

  def check(spark: SparkSession): Seq[String] = failures.toSeq

  override def layerFigures(spark: SparkSession): Map[String, Double] = lastFigures

  def props(spark: SparkSession): Map[String, Any] = {
    val slice0 = spark.read.parquet(textArr).filter(col("slice") === 0).drop("slice")
    Gen.docProps(slice0, spark.read.parquet(s"$state/fps"), spark.read.parquet(s"$state/bands"))
      .map { case (k, v) => s"text_$k" -> v } ++
      Map("rounds_available" -> s.batchRounds,
        "vec_rows" -> spark.read.parquet(vecArr).filter(col("slice") === 0).count(),
        "corpus_rows" -> spark.read.parquet(s"$pristine/ds/documents.parquet").count(),
        "index_rows" -> spark.read.parquet(s"$pristine/ds/embeddings.parquet").count())
  }
}
