package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.JobStream.JobRequest

/** Seeded inputs for the three workloads.
  *
  * The table contents come from the deterministic fixture generator
  * ([[graft.GenData.generate]]), so documents keep its dup structure
  * (~0.16% exact, ~4.9% last-word-dropped near dups) and embeddings its
  * isotropic geometry. GenData reads only row counts from its template, so
  * the template here is synthesized at the sizes a workload needs. The seed
  * then chooses everything GenData does not: the corpus/arrival split, the
  * arrival order and file split, the arrival sources, the job sample and
  * the embedding arrivals. Same seed, same sizes: same inputs.
  */
object Gen {

  /** Input sizes. `default` is what the timed runs use; `tiny` is the
    * self-test size. */
  case class Sizes(
      docs: Long, // documents GenData generates (corpus + arrivals)
      embeddings: Long, // embeddings GenData generates (corpus + arrivals)
      orders: Long, // orders, the source of the job table
      arrivalShare: Double, // share of documents held back as arrivals
      ingestFiles: Int, // ingest arrival files = micro-batches per drain
      docsPerFile: Int, // ingest arrivals per file
      domains: Int, // distinct arrival sources
      jobFiles: Int, // dispatch arrival files = rounds per drain
      jobsPerFile: Int, // jobs per file = dispatch capacity
      missingShare: Double, // jobs whose source file is missing
      loudnessShare: Double, // jobs whose format normalises loudness
      batchRounds: Int, // arrival slices for batch rounds
      textPerRound: Int, // text arrivals per batch round
      vecPerRound: Int) // embedding arrivals per batch round

  val default: Sizes = Sizes(docs = 4000, embeddings = 3000, orders = 4000,
    arrivalShare = 0.5, ingestFiles = 12, docsPerFile = 100, domains = 100, jobFiles = 40,
    jobsPerFile = 8, missingShare = 0.05, loudnessShare = 0.5,
    batchRounds = 4, textPerRound = 160, vecPerRound = 120)

  val tiny: Sizes = Sizes(docs = 600, embeddings = 400, orders = 400,
    arrivalShare = 0.5, ingestFiles = 4, docsPerFile = 20, domains = 20, jobFiles = 6,
    jobsPerFile = 4, missingShare = 0.25, loudnessShare = 0.5,
    batchRounds = 4, textPerRound = 30, vecPerRound = 20)

  /** Uniform in [0, 1) from (seed, salt, key). */
  def u(seed: Long, salt: String, key: Column): Column =
    pmod(xxhash64(key, lit(seed), lit(salt)), lit(1000000L)).cast("double") / 1e6

  /** GenData's template: row counts of the scaled tables, and the two
    * fixed dimensions it copies verbatim. */
  private def writeTemplate(spark: SparkSession, dir: String, s: Sizes): Unit = {
    import spark.implicits._
    val counts = Map("customer" -> 50L, "supplier" -> 10L, "part" -> 10L,
      "orders" -> s.orders, "lineitem" -> 10L, "events" -> 10L,
      "documents" -> s.docs, "embeddings" -> s.embeddings)
    for ((t, n) <- counts)
      spark.range(0, n).coalesce(1).write.parquet(s"$dir/$t.parquet")
    Seq((0L, "AFRICA"), (1L, "AMERICA"), (2L, "ASIA"), (3L, "EUROPE"),
      (4L, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$dir/region.parquet")
    (0L until 25L).map(i => (i, s"NATION$i", i % 5)).toDF(
      "n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
  }

  /** Write `df` as one parquet file per value of `fileCol`, into a flat
    * directory in value order: names sort in that order and modification
    * times increase with it, so a file stream source with
    * maxFilesPerTrigger=1 replays exactly one file per micro-batch, in
    * order. One Spark job for the lot. */
  def writeOrderedFiles(df: DataFrame, fileCol: String, outDir: String,
      staging: String): Int = {
    df.repartition(col(fileCol)).write.partitionBy(fileCol).parquet(staging)
    val parts = new File(staging).listFiles().filter(_.getName.startsWith(s"$fileCol="))
      .map(d => d.getName.stripPrefix(s"$fileCol=").toInt -> d).sortBy(_._1)
    new File(outDir).mkdirs()
    val t0 = System.currentTimeMillis() - 10L * 60 * 1000
    for ((i, d) <- parts) {
      val files = d.listFiles().filter(f => f.getName.endsWith(".parquet"))
      require(files.length == 1, s"${d.getName}: expected one file, got ${files.length}")
      val dest = new File(outDir, f"arr-$i%05d.parquet")
      Files.move(files.head.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
      dest.setLastModified(t0 + i * 1000L)
    }
    graft.plans.Snapshot.deleteTree(new File(staging).toPath)
    parts.length
  }

  /** GenData's tables at `sizes`, under `cache`. GenData's output depends
    * on the sizes alone (the seed only splits and orders it), so it is
    * generated once per cache directory and reused by later runs; the
    * caller keys the cache directory by the program's sources. */
  def generateBase(spark: SparkSession, cache: String, s: Sizes): String = {
    val key = Integer.toHexString(s.toString.hashCode)
    val gen = new File(cache, s"gen-$key")
    if (!new File(gen, "_COMPLETE").exists()) {
      val tmp = s"$cache/tmp-${java.util.UUID.randomUUID()}"
      writeTemplate(spark, s"$tmp/template", s)
      graft.GenData.generate(spark, s"$tmp/template", s"$tmp/gen", 1.0)
      new File(s"$tmp/gen/_COMPLETE").createNewFile()
      graft.plans.Snapshot.deleteTree(gen.toPath)
      Files.move(new File(s"$tmp/gen").toPath, gen.toPath, StandardCopyOption.ATOMIC_MOVE)
      graft.plans.Snapshot.deleteTree(new File(tmp).toPath)
    }
    gen.getPath
  }

  // ---- dispatch ----

  /** The dequeue set of `dir` ('Not Encoding' jobs whose format exists)
    * as job requests, in the projection the dispatchers use. */
  def jobRequests(spark: SparkSession, dir: String): DataFrame = {
    val formats = graft.model.EncodeDomain.formatsDF(spark)
    graft.model.EncodeDomain.jobsDF(spark, dir)
      .filter(col("status") === "Not Encoding")
      .join(formats.select(col("id").as("format_id"), col("normalise_level"),
        col("pass"), col("apply_mp4box")), Seq("format_id"))
      .select(col("id"), col("source_file"), col("destination_file"),
        col("format_id"), col("priority").cast("double").as("priority"),
        col("normalise_level"), coalesce(col("pass"), lit(2)).as("passes"),
        col("apply_mp4box"))
  }

  /** The dequeue set (Not Encoding jobs whose format exists) as job
    * requests, sampled by seed with the loudness share fixed, the missing-
    * source share planted, and split into `jobFiles` arrival files of
    * `jobsPerFile` jobs in a seeded arrival order. */
  def dispatchInputs(spark: SparkSession, gen: String, work: String,
      seed: Long, s: Sizes): (String, Seq[JobRequest], Map[String, Any]) = {
    import spark.implicits._
    val dequeue = jobRequests(spark, gen).as[JobRequest].collect().toSeq
    val n = s.jobFiles * s.jobsPerFile
    def order(salt: String)(j: JobRequest): Long =
      scala.util.hashing.MurmurHash3.productHash((seed, salt, j.id)).toLong
    val (loud, quiet) = dequeue.partition(_.normalise_level.isDefined)
    val nLoud = math.round(n * s.loudnessShare).toInt
    require(loud.size >= nLoud && quiet.size >= n - nLoud,
      s"dequeue set too small for $n jobs")
    val sample = loud.sortBy(order("loud")).take(nLoud) ++
      quiet.sortBy(order("quiet")).take(n - nLoud)
    val nMissing = math.round(n * s.missingShare).toInt
    val missing = sample.sortBy(order("missing")).take(nMissing).map(_.id).toSet
    val jobs = sample.map(j =>
      if (missing(j.id)) j.copy(source_file = s"/vids/missing/${j.id}.mov") else j)
      .sortBy(order("arrival"))
    val dir = s"$work/job-arrivals"
    val files = jobs.zipWithIndex.map { case (j, i) => (j, i / s.jobsPerFile) }
      .map { case (j, f) => (j.id, j.source_file, j.destination_file,
        j.format_id, j.priority, j.normalise_level, j.passes, j.apply_mp4box, f) }
      .toDF("id", "source_file", "destination_file", "format_id", "priority",
        "normalise_level", "passes", "apply_mp4box", "file")
    writeOrderedFiles(files, "file", dir, s"$work/stage-jobs")
    val props = Map[String, Any](
      "jobs" -> jobs.size, "files" -> s.jobFiles, "jobs_per_file" -> s.jobsPerFile,
      "missing_source_share" -> nMissing.toDouble / n,
      "loudness_share" -> jobs.count(_.normalise_level.isDefined).toDouble / n,
      "mp4box_share" -> jobs.count(_.apply_mp4box).toDouble / n,
      "two_pass_share" -> jobs.count(_.passes == 2).toDouble / n)
    (dir, jobs, props)
  }

  // ---- documents ----

  /** Seeded corpus/arrival split of GenData's documents. Arrival sources
    * are redrawn over `domains` domains with a power-law head
    * (domain index floor(D·u³)): the first domain carries ~20% of
    * arrivals and the tail is long, so a per-domain cap binds on the head
    * domains only. */
  def splitDocs(spark: SparkSession, gen: String, seed: Long, s: Sizes)
      : (DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$gen/documents.parquet")
    val isArrival = u(seed, "split", col("doc_id")) < s.arrivalShare
    val corpus = docs.filter(!isArrival)
    val arrivals = docs.filter(isArrival)
      .withColumn("source", format_string("dom%03d",
        floor(lit(s.domains.toDouble) * pow(u(seed, "dom", col("doc_id")), 3.0))
          .cast("int")))
      .withColumn("ord", u(seed, "order", col("doc_id")))
    (corpus, arrivals)
  }

  /** Properties of an arrival set against its corpus: exact and near-dup
    * shares (the gates' own definitions), quality-fail share, sources. */
  def docProps(arrivals: DataFrame, corpusFps: DataFrame,
      corpusBands: DataFrame): Map[String, Any] = {
    val n = arrivals.count()
    val withFp = arrivals.withColumn("fp", graft.ops.Fingerprint.col(col("text")))
    val exact = withFp.join(corpusFps.select("fp").distinct(), Seq("fp"), "left_semi").count()
    val pastExact = withFp.join(corpusFps.select("fp"), Seq("fp"), "left_anti").drop("fp")
    val near = pastExact.count() -
      graft.streaming.EventStream.nearDupGateAtIngest(pastExact, corpusBands).count()
    val qualityFail = arrivals.filter(
      graft.queries.TextQueries.gopherKeepCol(col("text")) =!= 1L).count()
    val bySource = arrivals.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(-_._2)
    Map("rows" -> n, "exact_dup_share" -> exact.toDouble / n,
      "near_dup_share" -> near.toDouble / n,
      "quality_fail_share" -> qualityFail.toDouble / n,
      "distinct_sources" -> bySource.length,
      "head_source_share" -> bySource.headOption.map(_._2.toDouble / n).getOrElse(0.0))
  }

  /** Corpus fingerprint and band probe tables, written as parquet (the
    * production shape the gates probe). */
  def writeProbeTables(corpus: DataFrame, fpsDir: String, bandsDir: String): Unit = {
    corpus.select(col("doc_id"), graft.ops.Fingerprint.col(col("text")).as("fp"))
      .write.parquet(fpsDir)
    corpus.select(col("doc_id"),
      posexplode(graft.queries.TextQueries.bandKeysCol(col("text")))
        .as(Seq("band", "bkey")))
      .write.parquet(bandsDir)
  }

  /** Copy a directory tree (inputs are a few MB; a copy gives each set-up
    * repetition and each batch round its own dataset directory, so no
    * per-directory memo carries over). */
  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else if (!p.getFileName.toString.startsWith(".")) Files.copy(p, t)
    } finally walk.close()
  }
}
