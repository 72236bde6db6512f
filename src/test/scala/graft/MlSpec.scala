package graft

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vectors, Vector => MlVector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, floor}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.MlQueries

/** Semantic contract for the t19 trained quality classifier — the checks
  * that replace the impossible SQL oracle (L-BFGS coefficients are not
  * cross-engine reproducible, so the driver records rows only).
  */
class MlSpec extends AnyFunSuite {
  import TestSpark._

  test("t19: scores every corpus doc exactly once, both splits present") {
    val out = MlQueries.t19QualityClassifier(spark, sf).collect()
    val corpusN = queries.TextQueries.queries("t1_token_stats")(spark, sf).count()
    assert(out.length.toLong == corpusN,
      s"classifier covered ${out.length} docs, corpus has $corpusN")
    assert(out.map(_.getLong(0)).distinct.length == out.length, "duplicate doc_id")
    val trainN = out.count(_.getLong(3) == 1L)
    assert(trainN > 0 && trainN < out.length,
      s"degenerate split: $trainN of ${out.length} in train")
  }

  test("t19: held-out ranking recovers the rule boundary (AUC well above chance)") {
    val rows = MlQueries.t19QualityClassifier(spark, sf)
      .filter("is_train = 0").collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (rule_keep, score_micro)
    val pos = rows.filter(_._1 == 1L).map(_._2)
    val neg = rows.filter(_._1 == 0L).map(_._2)
    assert(pos.nonEmpty && neg.nonEmpty, s"one-class held-out set (${rows.length} rows)")
    // exact Mann-Whitney AUC: P(score_pos > score_neg) + 0.5 P(tie)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val auc = wins / (pos.length.toDouble * neg.length)
    assert(auc > 0.75, f"held-out AUC $auc%.3f — classifier not learning the rule signal")
  }

  test("t19: train-once memo makes repeat calls deterministic in-JVM") {
    val a = MlQueries.t19QualityClassifier(spark, sf).collect().toSeq
    val b = MlQueries.t19QualityClassifier(spark, sf).collect().toSeq
    assert(a == b, "two calls over the memoized model diverged")
  }

  test("t19: scoring is stateless per row — no join, no aggregation, no shuffle but the output sort") {
    val df = MlQueries.t19QualityClassifier(spark, sf)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), s"scoring must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"scoring must not aggregate:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"scoring shuffled the corpus (coefficients must broadcast, not the data):\n$p")
  }

  test("t19: model state is broadcast-sized (coefficient dim = feature dim)") {
    val m = MlQueries.fitted(spark, sf)
    assert(m.coefficients.size == 1024, s"unexpected dim ${m.coefficients.size}")
    // the memoized model must NOT carry the training summary: it pins the
    // fitting SparkSession into every task closure that captures the model
    // — serializable only while the session's lazily-initialized
    // components (e.g. the Observation manager) are still null, i.e. a
    // time bomb armed by the first observe() call anywhere in the JVM
    assert(!m.hasSummary, "fitted model still carries its training summary")
    // and it must actually java-serialize standalone even with the
    // session's observation manager materialized (the failure mode that
    // killed the streaming scoring twin)
    val obs = org.apache.spark.sql.Observation()
    spark.range(1).observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n")).collect()
    assert(obs.get("n").asInstanceOf[Long] == 1L)
    val out = new java.io.ObjectOutputStream(
      java.io.OutputStream.nullOutputStream())
    out.writeObject(m) // throws NotSerializableException on regression
    out.close()
  }

  test("t19: the exported coefficient table reproduces the shipped scores bit-exactly") {
    // the r16 oracle round-trips score VALUES through the verify export;
    // this is the complementary pin that the t19_model audit artifact IS
    // the model those scores came from: recompute every score from the
    // exported (idx, weight) rows alone — index-ordered dot product +
    // intercept, the BLAS evaluation order — and demand bit identity
    val model = MlQueries.fitted(spark, sf)
    val table = MlQueries.modelExport(spark, model).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(table.size == 1025 && table.contains(-1), s"export shape: ${table.size}")
    val shipped = MlQueries.t19QualityClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val feats = MlQueries.featurized(spark, sf)
      .select("doc_id", "features").collect()
    assert(feats.length == shipped.size)
    feats.foreach { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector]("features")
      var acc = 0.0
      v.foreachActive((i, x) => acc += x * table(i))
      val p = 1.0 / (1.0 + math.exp(-(acc + table(-1))))
      val score = math.floor(p * 1000000.0).toLong
      assert(score == shipped(r.getLong(0)),
        s"doc ${r.getLong(0)}: export-derived $score vs shipped ${shipped(r.getLong(0))}")
    }
  }

  test("tokenizer drift loop: no-trip keeps the trained instance; a forced retrain reproduces it exactly") {
    // baseline identity handle: the memoized merge table
    val before = MlQueries.learnedMerges(spark, sf)
    // report-consistency + no-trip: default thresholds never retrain and
    // the trained state is the SAME instance afterwards
    val row = MlQueries.queries("x_tokenizer_report")(spark, sf).collect()(0)
    val r1 = MlQueries.retrainTokenizerIfDrifted(spark, sf)
    assert(!r1.retrained)
    assert(r1.fertilityMicro == row.getAs[Long]("fertility_micro") &&
      r1.nAlarmDocs == row.getAs[Long]("n_alarm_docs"),
      s"drift report diverged from x_tokenizer_report: $r1 vs $row")
    assert(MlQueries.learnedMerges(spark, sf).asInstanceOf[AnyRef]
      eq before.asInstanceOf[AnyRef], "no-trip must not touch the memo")
    // forced trip (ceiling below the measured fertility): the memo is
    // rebuilt — and because training is the deterministic argmax loop,
    // the retrained table on an unchanged corpus is VALUE-identical,
    // so a spurious trip can never corrupt downstream pricing
    val r2 = MlQueries.retrainTokenizerIfDrifted(spark, sf,
      fertilityCeilingMicro = r1.fertilityMicro - 1)
    assert(r2.retrained)
    val after = MlQueries.learnedMerges(spark, sf)
    assert(!(after.asInstanceOf[AnyRef] eq before.asInstanceOf[AnyRef]),
      "a tripped pass must rebuild the trained state")
    assert(after == before, "retrain on an unchanged corpus must reproduce the merges")
  }

  test("classifier drift loop: no-trip keeps the fitted instance; a tripped refit clears the semantic bar") {
    val before = MlQueries.fitted(spark, sf)
    // report consistency + no-trip (default floor 0 never trips)
    val row = MlQueries.queries("x_classifier_report")(spark, sf).collect()(0)
    val r1 = MlQueries.retrainClassifierIfDrifted(spark, sf)
    assert(!r1.retrained)
    assert(r1.holdoutAgreementMicro ==
      row.getAs[Long]("holdout_agreement_micro"),
      s"drift report diverged from x_classifier_report: $r1 vs $row")
    // the monitor itself must be meaningful: the model generalizes the
    // rules well above coin-flip on the split it never saw
    assert(r1.holdoutAgreementMicro > 700000L, r1.toString)
    assert(MlQueries.fitted(spark, sf) eq before,
      "no-trip must not touch the model memo")
    // forced trip: floor above the measured agreement ⇒ refit — a NEW
    // model instance that still clears the same semantic bar (L-BFGS is
    // not bit-deterministic, so the pin is the bar, not bit identity)
    val r2 = MlQueries.retrainClassifierIfDrifted(spark, sf,
      agreementFloorMicro = r1.holdoutAgreementMicro + 1)
    assert(r2.retrained)
    assert(!(MlQueries.fitted(spark, sf) eq before),
      "a tripped pass must refit the model")
    val again = MlQueries.retrainClassifierIfDrifted(spark, sf)
    assert(again.holdoutAgreementMicro > 700000L,
      s"retrained model lost the rules: $again")
  }

  test("classifier report: an empty holdout reads agreement 0 and never trips a retrain") {
    // corpus where EVERY doc is on the train side (doc_id % 10 < 3):
    // the agreement division must zero-guard (not NULL) and the drift
    // loop must read no-evidence-of-drift, not force-refit every pass
    val dir = java.nio.file.Files.createTempDirectory("graft-ml-empty-holdout").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 < 3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = MlQueries.queries("x_classifier_report")(spark, dir).collect()(0)
    assert(row.getAs[Long]("n_holdout") == 0L)
    assert(row.getAs[Long]("holdout_agreement_micro") == 0L,
      "empty holdout must read a well-defined 0, not NULL")
    val before = MlQueries.fitted(spark, dir)
    val r = MlQueries.retrainClassifierIfDrifted(spark, dir,
      agreementFloorMicro = 900000L)
    assert(!r.retrained, "an empty holdout is not evidence of drift")
    assert(MlQueries.fitted(spark, dir) eq before)
  }

  test("streaming twin: ingest scoring matches batch t19 per doc, schema = input + score_micro") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val model = MlQueries.fitted(spark, sf)
    // stream the raw corpus docs (the batch query tokenizes these same
    // texts the same way, so scores must match EXACTLY per doc_id)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    ms.addData(docs.toSeq: _*)
    val q = graft.streaming.EventStream.scoreQualityAtIngest(
        ms.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("mlgate").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mlgate")
      assert(streamed.columns.toSeq == Seq("doc_id", "text", "score_micro"),
        s"internal columns leaked: ${streamed.columns.mkString(",")}")
      val got = streamed.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val want = MlQueries.t19QualityClassifier(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got.nonEmpty && got.forall { case (id, s) => want.get(id).contains(s) },
        s"stream/batch score divergence: ${got.filterNot { case (id, s) => want.get(id).contains(s) }.take(5)}")
    } finally q.stop()
  }

  // ---- the local fit against MLlib's ----

  /** (features, label) rows over 64 features: feature 0 is 2.0 in every
    * row (zero variance, non-zero mean), feature 1 is in every row with a
    * varying value, 6 draws over features 2–41, 42–63 never occur; about
    * 85% of the labels are 1, fewer where feature 2 is present. */
  private def synthetic(n: Int): Seq[(MlVector, Double)] = {
    val rnd = new scala.util.Random(11)
    (0 until n).map { i =>
      val f = scala.collection.mutable.TreeMap[Int, Double](0 -> 2.0, 1 -> (1 + i % 3).toDouble)
      (0 until 6).foreach(_ => f(2 + rnd.nextInt(40)) = (1 + rnd.nextInt(4)).toDouble)
      val p1 = if (f.contains(2)) 0.5 else 0.9
      (Vectors.sparse(64, f.toSeq), if (rnd.nextDouble() < p1) 1.0 else 0.0)
    }
  }

  private def frame(rows: Seq[(MlVector, Double)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((v, y), i) => (i.toLong, v, y) }
      .toDF("doc_id", "features", "label")
  }

  /** t19's score column, by doc_id. */
  private def scoresOf(m: LogisticRegressionModel, df: DataFrame): Map[Long, Long] =
    m.transform(df).select(col("doc_id"),
        floor(vector_to_array(col("probability")).getItem(1) * 1000000.0).cast("bigint"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def assertSameFit(local: LogisticRegressionModel, mllib: LogisticRegressionModel,
      data: DataFrame, what: String): Unit = {
    val dc = local.coefficients.toArray.zip(mllib.coefficients.toArray)
      .map { case (a, b) => math.abs(a - b) }.max
    assert(dc <= 1e-12, s"$what: coefficients differ by $dc")
    assert(math.abs(local.intercept - mllib.intercept) <= 1e-12,
      s"$what: intercept ${local.intercept} vs ${mllib.intercept}")
    assert(local.numClasses == mllib.numClasses && !local.hasSummary, what)
    def params(m: LogisticRegressionModel) =
      (m.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap,
        m.params.filter(m.isSet).map(_.name).toSet)
    assert(params(local) == params(mllib), s"$what: param maps differ")
    val (a, b) = (scoresOf(local, data), scoresOf(mllib, data))
    assert(a.size == data.count() && a == b,
      s"$what: ${a.count { case (id, s) => !b.get(id).contains(s) }} scores differ")
  }

  test("fitLocal reproduces MLlib's fit: sf0.01 and a synthetic sample, within 1e-12 and equal scores") {
    val dir = graft.plans.VerifyExports.VerifyDir
    val all = MlQueries.featurized(spark, dir)
    val train = all.filter(col("doc_id") % 10 < 3)
    val rows = MlQueries.localSample(train).get
    assert(rows.size > 100, s"sf0.01 training sample has ${rows.size} rows")
    assertSameFit(MlQueries.fitLocal(rows), MlQueries.fitSpark(train), all, "sf0.01")
    val syn = synthetic(600)
    assert(syn.count(_._2 == 1.0) > 400, "labels not skewed")
    val local = MlQueries.fitLocal(syn)
    assertSameFit(local, MlQueries.fitSpark(frame(syn)), frame(syn), "synthetic")
    assert(local.coefficients(0) == 0.0 && local.coefficients(1) != 0.0,
      "a zero-variance feature gets coefficient 0, a varying one does not")
  }

  test("fitLocal on degenerate samples gives MLlib's outcome: one label either way, no varying feature, empty") {
    val base = synthetic(40)
    Seq("all labels 1" -> base.map(r => (r._1, 1.0)),
        "all labels 0" -> base.map(r => (r._1, 0.0)),
        "every feature constant" -> base.zipWithIndex.map { case (_, i) =>
          (Vectors.sparse(64, Seq(0 -> 2.0)), if (i % 4 == 0) 0.0 else 1.0) })
      .foreach { case (what, rows) =>
        val (local, mllib) = (MlQueries.fitLocal(rows), MlQueries.fitSpark(frame(rows)))
        assert(local.coefficients.toArray.forall(_ == 0.0) &&
          local.coefficients == mllib.coefficients, what)
        assert(local.intercept == mllib.intercept ||
          math.abs(local.intercept - mllib.intercept) <= 1e-12,
          s"$what: intercept ${local.intercept} vs ${mllib.intercept}")
        assert(local.numClasses == mllib.numClasses, what)
      }
    assert(MlQueries.fitLocal(base.map(r => (r._1, 0.0))).numClasses == 1)
    assert(MlQueries.fitLocal(base.map(r => (r._1, 1.0))).intercept == Double.PositiveInfinity)
    intercept[IllegalArgumentException](MlQueries.fitSpark(frame(base).limit(0)))
    intercept[IllegalArgumentException](MlQueries.fitLocal(Seq.empty))
    intercept[IllegalArgumentException](MlQueries.fit(frame(base).limit(0)))
  }

  test("fit selects the local fit up to ClassifierLocalRows rows and MLlib's above") {
    val bound = MlQueries.ClassifierLocalRows
    val rows = synthetic(bound + 1)
    val (at, over) = (frame(rows.take(bound)), frame(rows))
    assert(MlQueries.localSample(at).map(_.size).contains(bound))
    assert(MlQueries.localSample(over).isEmpty)
    var (atFit, overFit) = (null: LogisticRegressionModel, null: LogisticRegressionModel)
    val atJobs = jobsOf { atFit = MlQueries.fit(at) }
    val overJobs = jobsOf { overFit = MlQueries.fit(over) }
    assert(atJobs <= 2 && overJobs > 10, s"jobs: $atJobs at the bound, $overJobs above it")
    // each selection is the path it names, called directly
    def same(a: LogisticRegressionModel, b: LogisticRegressionModel) =
      a.coefficients == b.coefficients && a.intercept == b.intercept
    assert(same(atFit, MlQueries.fitLocal(rows.take(bound))))
    assert(same(overFit, MlQueries.fitSpark(over)))
    assertSameFit(MlQueries.fitLocal(rows), overFit, over, s"${bound + 1} rows")
  }

  test("a cold fitted runs at most 2 Spark jobs on the fixture: the L-BFGS iterations run on the driver") {
    MlQueries.featurized(spark, sf).count() // the tokenized corpus is built once per JVM
    MlQueries.releaseModels()
    val jobs = jobsOf(MlQueries.fitted(spark, sf))
    assert(jobs <= 2, s"a cold fit ran $jobs Spark jobs")
  }
}
