package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Maintenance
import graft.queries.{MaintenanceQueries, MlQueries, VectorQueries}

/** The composed maintenance pass: one call measures all three learned
  * artifacts and retrains the tripped ones, its three legs concurrently
  * (quantizer retrain fused with its index redeploy). The monitor row is
  * the oracled x_maintenance_report; these specs pin the composition
  * mechanics the oracle can't see — instance stability on no-trip,
  * all-three refit + index redeploy on a forced trip, the concurrent pass
  * equal to the serial per-artifact calls, one training per artifact on
  * cold memos, the text legs seeing a corpus grown in place, and a failed
  * leg surfacing only after the other legs finished. */
class MaintenanceSpec extends AnyFunSuite {
  import TestSpark._

  /** A fresh dir holding the fixture's documents and embeddings (each a
    * single parquet file), so retrains here never touch `sf`'s memos. */
  private def fixtureCopy(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-maint-$tag")
    d.toFile.deleteOnExit()
    Seq("documents.parquet", "embeddings.parquet").foreach(f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$f"), d.resolve(f)))
    d.toString
  }

  private def cells(index: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    index.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("x_maintenance_report equals the three underlying monitor rows, column for column") {
    val m = MaintenanceQueries.xMaintenanceReport(spark, sf).collect()(0)
    val d = VectorQueries.xDriftReport(spark, sf).collect()(0)
    val t = MlQueries.xTokenizerReport(spark, sf).collect()(0)
    val c = MlQueries.xClassifierReport(spark, sf).collect()(0)
    assert(m.getAs[Long]("n_hot") == d.getAs[Long]("n_hot"))
    assert(m.getAs[Long]("n_dead") == d.getAs[Long]("n_dead"))
    assert(m.getAs[Long]("min_recall_micro") == d.getAs[Long]("min_recall_micro"))
    assert(m.getAs[Long]("fertility_micro") == t.getAs[Long]("fertility_micro"))
    assert(m.getAs[Long]("n_alarm_docs") == t.getAs[Long]("n_alarm_docs"))
    assert(m.getAs[Long]("holdout_agreement_micro") ==
      c.getAs[Long]("holdout_agreement_micro"))
    assert(m.getAs[Long]("n_model_keep") == c.getAs[Long]("n_model_keep"))
  }

  test("maintainAll no-trip: nothing retrains, every artifact and the index keep their instances") {
    val idx = VectorQueries.corpusCellIndex(spark, sf)
    val (q0, t0, c0) = (VectorQueries.quantizerRows(spark, sf),
      MlQueries.learnedMerges(spark, sf), MlQueries.fitted(spark, sf))
    val out = Maintenance.maintainAll(spark, sf, idx)
    assert(!out.anyRetrained, out.toString)
    assert(out.index eq idx, "no-trip must hand the index back untouched")
    assert(VectorQueries.quantizerRows(spark, sf)
        .asInstanceOf[AnyRef] eq q0.asInstanceOf[AnyRef],
      "no-trip must not touch the quantizer memo")
    assert(MlQueries.learnedMerges(spark, sf)
        .asInstanceOf[AnyRef] eq t0.asInstanceOf[AnyRef],
      "no-trip must not touch the tokenizer memo")
    assert(MlQueries.fitted(spark, sf) eq c0,
      "no-trip must not touch the classifier memo")
  }

  test("maintainAll forced trip: all three refit, the index redeploys under the fresh quantizer") {
    val idx = VectorQueries.corpusCellIndex(spark, sf)
    val (q0, t0, c0) = (VectorQueries.quantizerRows(spark, sf),
      MlQueries.learnedMerges(spark, sf), MlQueries.fitted(spark, sf))
    val agreement = MlQueries.xClassifierReport(spark, sf)
      .collect()(0).getAs[Long]("holdout_agreement_micro")
    val out = Maintenance.maintainAll(spark, sf, idx,
      maxHotCells = -1L,           // hot >= 0 > -1: always trips
      fertilityCeilingMicro = 1L,  // fertility >= 1e6 by construction
      agreementFloorMicro = agreement + 1)
    assert(out.quantizer.retrained && out.tokenizer.retrained &&
      out.classifier.retrained, out.toString)
    // every memo is a NEW instance; deterministic trainers reproduce the
    // same VALUES on an unchanged corpus (the per-loop specs' contract)
    val (q1, t1) = (VectorQueries.quantizerRows(spark, sf),
      MlQueries.learnedMerges(spark, sf))
    assert(!(q1.asInstanceOf[AnyRef] eq q0.asInstanceOf[AnyRef]) && q1 == q0)
    assert(!(t1.asInstanceOf[AnyRef] eq t0.asInstanceOf[AnyRef]) && t1 == t0)
    assert(!(MlQueries.fitted(spark, sf) eq c0))
    // the index came back REASSIGNED under the fresh quantizer — the
    // epoch invariant: cells must equal a from-scratch assignment
    assert(!(out.index eq idx), "a quantizer trip must redeploy the index")
    val want = VectorQueries.corpusCellIndex(spark, sf)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.index.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "redeployed index cells diverged from the fresh quantizer")
  }

  test("maintainAll forced trip: the concurrent pass equals the three per-artifact calls run serially") {
    val (conc, serial) = (fixtureCopy("conc"), fixtureCopy("serial"))
    try {
      val agreement = MlQueries.xClassifierReport(spark, sf)
        .collect()(0).getAs[Long]("holdout_agreement_micro")
      val out = Maintenance.maintainAll(spark, conc,
        VectorQueries.corpusCellIndex(spark, conc),
        maxHotCells = -1L, fertilityCeilingMicro = 1L,
        agreementFloorMicro = agreement + 1)
      val (qr, idx) = VectorQueries.maintainIndex(spark, serial,
        VectorQueries.corpusCellIndex(spark, serial), maxHotCells = -1L)
      val tr = MlQueries.retrainTokenizerIfDrifted(spark, serial,
        fertilityCeilingMicro = 1L)
      val cr = MlQueries.retrainClassifierIfDrifted(spark, serial,
        agreementFloorMicro = agreement + 1)
      assert(qr.retrained && tr.retrained && cr.retrained)
      // drift, fertility and agreement numbers, and every retrain flag
      assert(out.quantizer == qr)
      assert(out.tokenizer == tr)
      assert(out.classifier == cr)
      // the retrained artifacts and the reassigned index
      assert(VectorQueries.quantizerRows(spark, conc) ==
        VectorQueries.quantizerRows(spark, serial))
      assert(MlQueries.learnedMerges(spark, conc) ==
        MlQueries.learnedMerges(spark, serial))
      val got = cells(out.index)
      assert(got.nonEmpty && got == cells(idx),
        "the concurrent pass reassigned the index differently")
    } finally Seq(conc, serial).foreach(VectorQueries.evictTrained)
  }

  test("maintainAll on cold memos: a fully tripped pass trains each artifact once, as many jobs as a no-trip pass") {
    val (quiet, tripped) = (fixtureCopy("quiet"), fixtureCopy("tripped"))
    // an unassigned index: building a cell index would train the quantizer
    def index(d: String) = spark.read.parquet(s"$d/embeddings.parquet")
    try {
      var out: Maintenance.MaintenanceOutcome = null
      val quietJobs = jobsOf(Maintenance.maintainAll(spark, quiet, index(quiet)))
      val trippedJobs = jobsOf {
        out = Maintenance.maintainAll(spark, tripped, index(tripped),
          maxHotCells = -1L, fertilityCeilingMicro = -1L,
          agreementFloorMicro = Long.MaxValue)
      }
      assert(out.quantizer.retrained && out.tokenizer.retrained &&
        out.classifier.retrained, out.toString)
      assert(quietJobs > 0 && trippedJobs == quietJobs,
        s"tripped pass ran $trippedJobs jobs, no-trip pass $quietJobs")
      // the kept artifacts are the ones a retrain would produce
      assert(VectorQueries.quantizerRows(spark, tripped) ==
        VectorQueries.quantizerRows(spark, quiet))
      assert(MlQueries.learnedMerges(spark, tripped) ==
        MlQueries.learnedMerges(spark, quiet))
    } finally Seq(quiet, tripped).foreach(VectorQueries.evictTrained(_))
  }

  test("text legs over a corpus grown in place measure and retrain on the grown corpus") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-grown").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/documents.parquet")
    val before = MlQueries.xTokenizerReport(spark, dir).collect()(0)
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val tr = MlQueries.retrainTokenizerIfDrifted(spark, dir, fertilityCeilingMicro = -1L)
    val cr = MlQueries.retrainClassifierIfDrifted(spark, dir,
      agreementFloorMicro = Long.MaxValue)
    assert(tr.retrained && cr.retrained)
    // the reference: a fresh dir holding the grown corpus from the start
    val fresh = fixtureCopy("grown-ref")
    val want = MlQueries.xTokenizerReport(spark, fresh).collect()(0)
    val got = MlQueries.xTokenizerReport(spark, dir).collect()(0)
    assert(before.getAs[Long]("n_docs") < want.getAs[Long]("n_docs"))
    assert(got == want, s"report after the pass $got, on the grown corpus $want")
    assert(MlQueries.learnedMerges(spark, dir) == MlQueries.learnedMerges(spark, fresh),
      "the tokenizer retrained on the corpus as it was")
    assert(MlQueries.t19QualityClassifier(spark, dir).count() ==
      MlQueries.t19QualityClassifier(spark, fresh).count())
    def classified(d: String) = MlQueries.xClassifierReport(spark, d).collect()(0)
    assert(classified(dir).getAs[Long]("n_docs") == classified(fresh).getAs[Long]("n_docs"))
  }

  test("maintainAll: a failed leg reaches the caller only after the other legs finished") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-noemb")
    dir.toFile.deleteOnExit()
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    spark.read.parquet(s"$sf/embeddings.parquet").limit(0)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    val agreement = MlQueries.xClassifierReport(spark, sf)
      .collect()(0).getAs[Long]("holdout_agreement_micro")
    // event times are stamped by the scheduler, so the listener bus's
    // delivery lag does not move them
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add("start" -> e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add("end" -> e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException](Maintenance.maintainAll(
        spark, dir.toString, spark.read.parquet(s"$sf/embeddings.parquet"),
        maxHotCells = -1L, fertilityCeilingMicro = 1L,
        agreementFloorMicro = agreement + 1))
      val thrownAt = System.currentTimeMillis()
      assert(e.getMessage.contains("no centroids"), e.getMessage)
      Thread.sleep(2000) // let the listener bus deliver
      import scala.jdk.CollectionConverters._
      val seen = events.asScala.toSeq
      assert(seen.count(_._1 == "start") > 0 &&
        seen.count(_._1 == "start") == seen.count(_._1 == "end"),
        "a job of the pass was still running when it threw")
      assert(seen.forall(_._2 <= thrownAt), "a job of the pass ran after it threw")
      // both text legs ran to the end: their memos are filled, so
      // reading them starts no job
      val before = events.size
      MlQueries.learnedMerges(spark, dir.toString)
      MlQueries.fitted(spark, dir.toString)
      Thread.sleep(1000)
      assert(events.size == before, "a text leg had not finished when the pass threw")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      VectorQueries.evictTrained(dir.toString)
    }
  }
}
