package graft.queries

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{DenseMatrix, Matrix, SparseMatrix, Vectors, Vector => MlVector}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based document quality scoring — the trained-classifier stage
  * modern pretraining pipelines (FineWeb-Edu, DCLM) run AFTER the rule
  * filters: heuristics label a seed set, a cheap classifier generalizes
  * the judgment to the whole corpus, and the model's score becomes the
  * retention/mixing signal. The reference has no analogue ([EXT]); the
  * engine side is pure public Spark MLlib.
  *
  * Shape: weak labels come from t16's Gopher rule verdict (shared Column
  * definitions — no second rule implementation to drift), features are a
  * HashingTF bag-of-words over the same checkpointed tokenized corpus
  * every text query reads, and the model is binomial logistic regression
  * trained on a DETERMINISTIC 30% hash split (`doc_id % 10 < 3`) and
  * memoized per input dir — the v4 quantizer's train-once pattern.
  *
  * Plan shape at 100 TB: production trains on exactly this kind of
  * hash-sample (the t9 discipline) because label quality, not corpus
  * size, bounds classifier quality. A driver-sized sample (at most
  * [[ClassifierLocalRows]] rows) is collected once and fitted on the
  * driver by MLlib's own binomial L-BFGS ([[fitLocal]]), so the fit costs
  * one Spark job, not one per iteration; a larger one runs MLlib's
  * distributed L-BFGS ([[fitSpark]]) — one treeAggregate pass over the
  * sampled feature frame per iteration, no shuffle of the corpus
  * itself. Scoring broadcasts the fitted
  * coefficient vector (1024 doubles — model state, the legitimate
  * broadcast) and is stateless per row: no join, no aggregation, no
  * exchange but the presentation sort. Scores are rows-only by design:
  * L-BFGS converges to machine precision, not to bit-identical
  * coefficients across engines, so no SQL oracle can exist — the spec
  * pins the semantic contract (held-out ranking quality, in-JVM
  * determinism, coverage) instead.
  */
object MlQueries {

  /** The fitted classifier per input dir ([[fitted]]). */
  private val models = new graft.plans.TrainOnce[String, LogisticRegressionModel]

  /** Release memoized model state: the hook of specs, and of benchmark
    * rounds that each start from a cold memo. */
  def releaseModels(): Unit = models.clear()

  /** Release memoized BPE state ([[bpeState]]'s merge table + encoded
    * vocabulary — local rows and a local relation, or a pinned
    * localCheckpoint when [[train]] ran its Spark loop): same test-hygiene
    * hook as [[releaseModels]]; without it a garbage training result for a dir
    * (e.g. a fixed bad input) would be cached until process restart. */
  def releaseBpe(): Unit = bpeMemo.clear()

  private val FeatureDim = 1024

  /** The shared featurizer: batch training/scoring and the streaming
    * ingest twin MUST hash into the same space — a second HashingTF
    * with its own dim would silently misalign the model's coefficients. */
  private[graft] def hashingTf: HashingTF =
    new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(FeatureDim)

  private[graft] def featurized(spark: SparkSession, dir: String): DataFrame = {
    val base = TextQueries.tokenizedCorpus(spark, dir)
    val (n, mean, alpha, sym, stops) =
      TextQueries.gopherSignals(col("text"), col("toks"))
    val labeled = base.select(col("doc_id"), col("toks"),
      TextQueries.gopherKeep(n, mean, alpha, sym, stops)
        .cast("double").as("label"))
    hashingTf.transform(labeled)
  }

  /** Drop the training summary from a fitted model before memoizing it.
    * Nothing here reads the summary, and it is a serialization landmine:
    * it pins the fitting SparkSession (plus the predictions frame), so a
    * task closure capturing the model — the streaming scoring twin, any
    * broadcast scorer — serializes the whole session object graph. That
    * "works" only while every lazily-initialized non-serializable session
    * component is still null; the first `Dataset.observe(Observation)`
    * in the JVM materializes the session's observation manager and every
    * later model-capturing task then dies with NotSerializableException.
    * The summary-free model carries exactly the broadcast-sized state the
    * scaladoc promises (coefficients + params). Reflection because
    * HasTrainingSummary's setter is private[ml] (public in bytecode); a
    * reflection failure degrades to the summaried model rather than
    * failing the fit — MlSpec pins hasSummary == false so that
    * degradation cannot land silently. */
  private def stripSummary(m: LogisticRegressionModel): LogisticRegressionModel = {
    try m.getClass.getMethod("trainingSummary_$eq", classOf[Option[_]])
      .invoke(m, None)
    catch { case scala.util.control.NonFatal(_) => }
    m
  }

  /** The largest training sample [[fitted]] fits on the driver
    * ([[fitLocal]]); a larger one is fitted by MLlib ([[fitSpark]]). The
    * sample is held as collected: at worst 16,384 rows × 1,024 non-zeros
    * × 12 B (index + value) ≈ 200 MB of driver heap, and the fit's scaled
    * copy adds 8 B per non-zero. */
  private[graft] val ClassifierLocalRows = 16384

  /** The estimator both fits run: L2 0.01, 20 L-BFGS iterations, every
    * other param at MLlib's default (intercept and standardization on,
    * tol 1e-6). */
  private def estimator: LogisticRegression =
    new LogisticRegression().setMaxIter(20).setRegParam(0.01)

  private[graft] def fitted(spark: SparkSession, dir: String): LogisticRegressionModel =
    models(dir)(fit(featurized(spark, dir).filter(pmod(col("doc_id"), lit(10)) < 3)))

  /** [[fitLocal]] on `train`'s rows when it has at most
    * [[ClassifierLocalRows]] of them, [[fitSpark]] when it has more. */
  private[graft] def fit(train: DataFrame): LogisticRegressionModel =
    localSample(train) match {
      case Some(rows) => fitLocal(rows)
      case None => fitSpark(train)
    }

  /** The (features, label) rows of a training frame when it has at most
    * [[ClassifierLocalRows]] of them, None when it has more. */
  private[graft] def localSample(train: DataFrame): Option[Seq[(MlVector, Double)]] =
    graft.plans.BoundedCollect(train.select("features", "label"), ClassifierLocalRows)
      .map(_.toSeq.map(r => (r.getAs[MlVector](0), r.getDouble(1))))

  /** MLlib's distributed fit, for a sample above [[ClassifierLocalRows]].
    * repartition(1) + cache before fit (r17 verdict task 3): each of
    * L-BFGS's ~16 treeAggregate rounds is a full job, and over a
    * 32-partition input the per-round barrier/scheduling cost — not the
    * gradient math — dominated this tiny-data fit. One cached partition
    * makes each round a single task over in-memory rows. repartition, not
    * coalesce, so featurization still runs parallel on the map side;
    * unpersist in finally — the memo keeps only the model. ONLY sane on
    * driver-adjacent data: a real training set keeps its partitions and
    * eats the barrier cost. */
  private[graft] def fitSpark(train0: DataFrame): LogisticRegressionModel = {
    val train = train0.repartition(1).cache()
    try stripSummary(estimator.fit(train))
    finally train.unpersist(false)
  }

  /** MLlib 4.1's binomial fit of [[estimator]] on local rows: the same
    * optimizer on the same objective, each row's arithmetic in MLlib's
    * order (`Summarizer`, `BinaryLogisticBlockAggregator`,
    * `L2Regularization`, the `ddot`/`daxpy` of Spark's Java BLAS):
    *  - features scaled by 1/σ, σ the unbiased std; a zero-variance
    *    feature scales to 0 and gets coefficient 0;
    *  - virtually centred by the scaled mean μ/σ, since the intercept is
    *    fitted;
    *  - objective: the logistic loss averaged over rows plus ½·λ·Σw² over
    *    the standardized coefficients, the intercept unregularized;
    *  - start: zero coefficients and intercept log(n₁/n₀);
    *  - `breeze.optimize.LBFGS(maxIter 20, m 10, tol 1e-6)`;
    *  - mapped back: coefᵢ = wᵢ/σᵢ, intercept = b − Σ wᵢ·μᵢ/σᵢ.
    * MLlib sums over its repartitioned rows, in blocks; this sums over the
    * collected rows as one block, so in general the two agree to the last
    * bits only (MlSpec pins 1e-12 and equal scores; at sf0.01 and sf0.1
    * they are bit-identical). A one-label sample is not trained, as in
    * MLlib: zero coefficients, intercept +∞ (all 1) or −∞ with numClasses
    * 1 (all 0). An empty sample throws IllegalArgumentException, as
    * MLlib's summarizer does. The model has no training summary and the
    * estimator's params. */
  private[graft] def fitLocal(rows: Seq[(MlVector, Double)]): LogisticRegressionModel = {
    require(rows.nonEmpty, "Nothing has been added to this summarizer.")
    val d = rows.head._1.size
    val n = rows.size.toDouble
    val n1 = rows.count(_._2 == 1.0).toDouble
    val est = estimator
    val (coefs, intercept) =
      if (n1 == 0.0 || n1 == n)
        (new SparseMatrix(1, d, new Array[Int](2), Array.emptyIntArray,
          Array.emptyDoubleArray, true).compressed,
          Vectors.dense(if (n1 > 0.0) Double.PositiveInfinity else Double.NegativeInfinity))
      else {
        val (mean, std) = meanStd(rows.map(_._1), d)
        val invStd = std.map(s => if (s != 0) 1.0 / s else 0.0)
        val scaledMean = Array.tabulate(d)(i => invStd(i) * mean(i))
        // a zero-variance feature keeps its 0.0 entries, which add nothing
        val scaled = rows.map { case (v, y) =>
          val s = v.toSparse
          (s.indices, Array.tabulate(s.indices.length)(k => s.values(k) * invStd(s.indices(k))), y)
        }
        val lambda = est.getRegParam
        val cost = new DiffFunction[BDV[Double]] {
          def calculate(x: BDV[Double]): (Double, BDV[Double]) = {
            val w = x.toArray
            val offset = w(d) - Blas.ddot(d, w, 1, scaledMean, 1)
            val grad = new Array[Double](d + 1)
            var lossSum = 0.0
            var multSum = 0.0
            scaled.foreach { case (idx, vals, y) =>
              var dot = 0.0
              var k = 0
              while (k < idx.length) { dot += vals(k) * w(idx(k)); k += 1 }
              val margin = offset + dot
              lossSum += (if (y > 0) log1pExp(-margin) else log1pExp(-margin) + margin)
              val mult = 1.0 / (1.0 + math.exp(-margin)) - y
              multSum += mult
              k = 0
              while (k < idx.length) { grad(idx(k)) += vals(k) * mult; k += 1 }
            }
            Blas.daxpy(d, -multSum, scaledMean, 1, grad, 1)
            grad(d) += multSum
            var sq = 0.0
            var j = 0
            while (j <= d) {
              grad(j) *= 1.0 / n
              if (j < d) { sq += w(j) * w(j); grad(j) += w(j) * lambda }
              j += 1
            }
            (lossSum / n + 0.5 * sq * lambda, new BDV(grad))
          }
        }
        val init = new Array[Double](d + 1)
        init(d) = math.log(n1 / (n - n1))
        val sol = new LBFGS[BDV[Double]](est.getMaxIter, 10, est.getTol)(BDV.space_Double)
          .minimize(new CachedDiffFunction(cost)(BDV.canCopyDenseVector), new BDV(init))
          .toArray
        sol(d) -= Blas.ddot(d, sol, 1, scaledMean, 1)
        (new DenseMatrix(1, d, Array.tabulate(d)(i => if (std(i) != 0.0) sol(i) / std(i) else 0.0),
          true).compressed, Vectors.dense(sol(d)).compressed)
      }
    val params = ParamMap(est.extractParamMap().toSeq.filter(p => est.isSet(p.param)): _*)
    classOf[LogisticRegressionModel]
      .getConstructor(classOf[String], classOf[Matrix], classOf[MlVector], Integer.TYPE,
        java.lang.Boolean.TYPE)
      .newInstance(est.uid, coefs, intercept, Int.box(if (n1 > 0.0) 2 else 1), Boolean.box(false))
      .copy(params).setParent(est)
  }

  /** Per-feature mean and unbiased std of `vs`, by MLlib's `SummarizerBuffer`
    * arithmetic: a Welford update on each non-zero, unit weights. */
  private def meanStd(vs: Seq[MlVector], d: Int): (Array[Double], Array[Double]) = {
    val (m, m2n, ws) = (new Array[Double](d), new Array[Double](d), new Array[Double](d))
    vs.foreach(_.foreachActive { (i, x) => if (x != 0.0) {
      val diff = x - m(i)
      m(i) += diff / (ws(i) + 1.0)
      m2n(i) += (x - m(i)) * diff
      ws(i) += 1.0
    }})
    val n = vs.size.toDouble
    val denom = n - 1.0
    (Array.tabulate(d)(i => m(i) * (ws(i) / n)),
      Array.tabulate(d)(i => if (denom > 0.0)
        math.sqrt(math.max((m2n(i) + m(i) * m(i) * ws(i) * (n - ws(i)) / n) / denom, 0.0))
        else 0.0))
  }

  /** log(1 + eˣ) without overflow — MLlib's `Utils.log1pExp`. */
  private def log1pExp(x: Double): Double =
    if (x > 0) x + math.log1p(math.exp(-x)) else math.log1p(math.exp(x))

  /** Spark's Java BLAS, whose `ddot`/`daxpy` MLlib's binomial fit calls. */
  private lazy val Blas = dev.ludovic.netlib.blas.JavaBLAS.getInstance

  /** t19 — classifier quality score for EVERY corpus doc: the rule label
    * it was weakly supervised by, the model's keep-probability in
    * micro-units, and the train/held-out split marker (audit surface: a
    * consumer thresholds `score_micro`, a validator reads `is_train` to
    * avoid evaluating on the training split).
    *
    * Oracled since r16 by the t20/x_classifier_report round-trip
    * discipline applied at row level: the score VALUES round-trip through
    * the verify-scale [[graft.plans.VerifyExports]] export, while the doc
    * universe (driven from the tokenized corpus, NOT from the export — a
    * scoring pass that dropped docs surfaces as NULL-score oracle rows),
    * the rule verdicts (shared gopher SQL fragments), and the split
    * arithmetic are recomputed by DuckDB independently. The fitted
    * coefficient vector also exports (`t19_model`, 1024 weights + the
    * idx=-1 intercept) as the audit artifact; MlSpec pins that THOSE
    * numbers reproduce the shipped scores bit-exactly in-JVM. DuckDB does
    * NOT re-run the dot product: margin summation order (Spark BLAS is
    * index-ordered) and libm exp() differ across engines in final ulps,
    * which is the same nonreproducibility that made t19 rows-only before
    * — the round-trip pins everything that CAN be pinned exactly. */
  def t19QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val model = fitted(spark, dir)
    val scored = model.transform(featurized(spark, dir))
      .select(col("doc_id"),
        col("label").cast("bigint").as("rule_keep"),
        floor(vector_to_array(col("probability")).getItem(1) * 1000000.0)
          .cast("bigint").as("score_micro"),
        (pmod(col("doc_id"), lit(10)) < 3).cast("bigint").as("is_train"))
      .orderBy("doc_id")
    graft.plans.VerifyExports.maybeExport(dir, "t19_scores") {
      scored.select(col("doc_id"), col("score_micro"))
    }
    graft.plans.VerifyExports.maybeExport(dir, "t19_model") {
      modelExport(spark, model)
    }
    scored
  }

  /** The fitted model as a table: (idx, weight) for each of the
    * [[FeatureDim]] hashed-feature coefficients plus the intercept at
    * idx = -1 — broadcast-sized model state in auditable form. */
  private[graft] def modelExport(spark: SparkSession,
      model: LogisticRegressionModel): DataFrame = {
    import spark.implicits._
    ((-1, model.intercept) +:
        model.coefficients.toArray.toSeq.zipWithIndex.map(_.swap))
      .toDF("idx", "weight").orderBy("idx")
  }

  /** The score threshold at which a consumer keeps a doc — inlined into
    * BOTH engines' agreement arithmetic. */
  private val ScoreKeepThreshold = 500000L

  /** x_classifier_report — the classifier-health dashboard completing
    * the monitor set (x_corpus_report: text, x_drift_report: vectors,
    * x_tokenizer_report: tokenizer): one row — docs scored, hold-out
    * size, hold-out docs where the thresholded score AGREES with the
    * weak rule label (measured on the split the model never saw — the
    * number that degrades when the corpus drifts from the rules the
    * model generalized), the agreement share in exact micro-units, and
    * the corpus-wide keep count at the threshold.
    *
    * Oracle discipline (the t20/x_front_door round-trip): L-BFGS scores
    * are not cross-engine reproducible, so the score VALUES round-trip
    * through the verify-scale export while everything else — WHICH docs
    * carry them (row count), the rule verdicts (shared gopher SQL
    * fragments), the split arithmetic, and every aggregate — is
    * recomputed by DuckDB independently; this upgrades classifier
    * monitoring from t19's rows-only to a hash-matched row. */
  def xClassifierReport(spark: SparkSession, dir: String): DataFrame = {
    // t19_scores exports inside t19QualityClassifier itself (since r16 —
    // t19's own oracle consumes it, so the export must not depend on
    // WHICH of the two queries a verify pass runs first)
    val scored = t19QualityClassifier(spark, dir)
    val agree =
      (col("score_micro") >= ScoreKeepThreshold) === (col("rule_keep") === 1L)
    scored.agg(
        count(lit(1)).as("n_docs"),
        count(when(col("is_train") === 0L, 1)).as("n_holdout"),
        count(when(col("is_train") === 0L && agree, 1)).as("n_holdout_agree"),
        count(when(col("score_micro") >= ScoreKeepThreshold, 1))
          .as("n_model_keep"))
      .select(col("n_docs"), col("n_holdout"), col("n_holdout_agree"),
        // zero-guard: an empty holdout must read as a well-defined 0, not
        // NULL (Spark) / a division error (DuckDB) — greatest(n,1) in BOTH
        // engines; [[retrainClassifierIfDrifted]] separately treats an
        // empty holdout as no-evidence-of-drift
        expr("CAST((n_holdout_agree * 1000000) DIV greatest(n_holdout, 1)" +
            " AS BIGINT)")
          .as("holdout_agreement_micro"),
        col("n_model_keep"))
  }

  /** What [[retrainClassifierIfDrifted]] measured and did. */
  case class ClassifierDriftReport(holdoutAgreementMicro: Long,
      retrained: Boolean)

  /** The classifier maintenance pass — third leg of the drift-loop
    * pattern (quantizer: [[graft.queries.VectorQueries.retrainIfDrifted]],
    * tokenizer: [[retrainTokenizerIfDrifted]]): re-list the corpus,
    * measure hold-out rule agreement, and below the floor evict the
    * fitted-model memo and refit eagerly on the corpus as it now stands
    * (t19's scores, the front door's scoring artifact at its next
    * redeploy). Train once per pass ([[graft.plans.TrainOnce.refit]]): a
    * model the report itself just fitted on a cold memo survives a trip
    * (which still reads `retrained`); only a model fitted before the pass
    * is refit. The re-list also drops the tokenized-corpus snapshot when
    * the files under `dir` changed ([[graft.plans.Snapshot.dropStale]]),
    * so the report does not measure the corpus as it was. No exact-reproduction
    * pin here — L-BFGS is deterministic only to machine precision — so
    * MlSpec pins the loop mechanics
    * (no-trip instance stability, tripped rebuild) plus the semantic bar
    * the retrained model must clear (held-out AUC), not bit identity. */
  def retrainClassifierIfDrifted(spark: SparkSession, dir: String,
      agreementFloorMicro: Long = 0L): ClassifierDriftReport = {
    graft.plans.Tables.invalidate(s"$dir/documents.parquet")
    graft.plans.Snapshot.dropStale(dir)
    models.refit(_ == dir) {
      val report = xClassifierReport(spark, dir).collect()(0)
      val agreement = report.getAs[Long]("holdout_agreement_micro")
      // an EMPTY holdout is no evidence of drift: agreement reads 0 there
      // (the zero-guarded division), and force-refitting on every pass of a
      // tiny corpus would thrash the model for no signal
      ClassifierDriftReport(agreement, retrained =
        report.getAs[Long]("n_holdout") > 0L && agreement < agreementFloorMicro)
    }(_.retrained)(fitted(spark, dir)) // refit now, not at the next scoring pass
  }

  // ---- t20: BPE merge learning (tokenizer training) ----

  /** Corpus word-frequency table — the ONE corpus-wide pass BPE learning
    * needs. Everything after runs over DISTINCT words weighted by
    * frequency: at 100 TB the corpus is trillions of token occurrences
    * but the distinct-word table is millions of rows, which is why
    * production tokenizer training is corpus-size-independent after this
    * aggregation. */
  private[graft] def wordFreq(spark: SparkSession, dir: String): DataFrame =
    TextQueries.tokenizedCorpus(spark, dir)
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The BPE symbol atomization — ONE shared Column definition for batch
    * training ([[train]]) and the streaming encode twin
    * ([[graft.streaming.EventStream.encodeAtIngest]]), the toksCol
    * discipline: a second inline copy is exactly how the stream's piece
    * counts would silently drift from batch t21 if the atomization ever
    * changed (byte-level, grapheme clusters, a different empty-string
    * guard). split("") can emit a trailing "" depending on regex-engine
    * edge semantics; the filter makes the table exactly the char seq. */
  private[graft] def symsCol(w: Column): Column =
    filter(split(w, ""), s => s =!= lit(""))

  /** Greedy left-to-right application of one merge rule (l, r) -> l+r
    * over a symbol array, as one fold: the tail of the accumulator is
    * replaced when (tail, current) matches the pair. Non-overlapping by
    * construction — "aaaa" under (a,a) becomes [aa, aa], not three
    * overlapping merges — exactly the reference BPE replace semantics. A
    * symbol produced by a merge can never spuriously re-merge as `l`
    * (produced = l+r, and l+r = l would need r = "", which cannot occur). */
  private[graft] def mergeCol(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, cur) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && cur === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(cur))))

  private val BpeCkptEvery = 4

  /** The largest distinct-word table [[train]] runs its merge loop over
    * on the driver. At about 8 symbols a word that is a few MB of local
    * rows; the fixtures and the bench corpus have 31 distinct words. A
    * fixed bound, not a setting: above it the Spark loop runs. */
  private[graft] val BpeLocalWords = 1 << 16

  /** Byte-pair-encoding merge learning (Sennrich et al.'s algorithm):
    * k rounds of [count adjacent symbol pairs weighted by word frequency
    * -> take the argmax (count desc, then (left, right) asc in UTF-8 byte
    * order — fully deterministic) -> apply the merge everywhere, greedy
    * left-to-right and non-overlapping ([[mergeCol]])]. Everything runs
    * over DISTINCT words weighted by frequency.
    *
    * The word table is atomized in Spark ([[symsCol]]) and pinned once.
    * When it has at most [[BpeLocalWords]] rows (one bounded collect
    * tells, exactly), the loop runs over those rows on the driver
    * ([[trainLocal]]): each Spark round is a shuffle job plus a 1-row
    * collect, and on a model-sized table those job launches, not the
    * pair counting, are the loop's cost. The end state then comes back
    * as one local relation. Above the bound [[trainSpark]] runs; it
    * starts from the same pinned table, so the corpus-wide word count
    * is never computed twice. Both loops give the same merges and end
    * states (BpeSpec runs both against an independent reference).
    *
    * Returns BOTH the merge table and the final (word, syms, freq) frame:
    * the loop's end state IS the corpus vocabulary encoded under every
    * learned merge, so the encode query (t21) costs no extra pass. */
  private[graft] def train(words0: DataFrame, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val words = atomized(words0)
    localWords(words) match {
      case Some(rows) =>
        import scala.jdk.CollectionConverters._
        val (merges, end) = trainLocal(rows, k)
        (merges, words.sparkSession.createDataFrame(
          end.map { case (w, syms, f) => Row(w, syms, f) }.asJava, words.schema))
      case None => trainSpark(words, k)
    }
  }

  /** (word, syms, freq): the word table atomized into symbols, pinned. */
  private[graft] def atomized(words0: DataFrame): DataFrame =
    words0.select(col("word"), symsCol(col("word")).as("syms"), col("freq"))
      .localCheckpoint(true)

  /** The rows of an atomized word table when it has at most
    * [[BpeLocalWords]] of them, None when it has more. */
  private[graft] def localWords(words: DataFrame)
      : Option[Seq[(String, Seq[String], Long)]] =
    graft.plans.BoundedCollect(words, BpeLocalWords)
      .map(_.toSeq.map(r => (r.getString(0), r.getSeq[String](1), r.getLong(2))))

  /** The merge loop over local rows: the pair counts are recounted each
    * round (a distinct-word table is small enough that this is the
    * simple exact form), and every rule of the Spark loop is kept: pairs
    * by position, counts summed as longs, ties broken by Spark's own
    * string order (UTF-8 bytes — not `String.compareTo`, which orders
    * surrogate pairs below U+E000–U+FFFF), [[mergeCol]]'s fold. */
  private[graft] def trainLocal(words: Seq[(String, Seq[String], Long)], k: Int)
      : (Seq[(Int, String, String, Long)], Seq[(String, Seq[String], Long)]) = {
    import org.apache.spark.unsafe.types.UTF8String
    val utf8 = Ordering.fromLessThan[String]((a, b) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0)
    val rank = Ordering.Tuple3(Ordering.Long, utf8, utf8)
    var state = words.map { case (w, syms, f) => (w, syms.toVector, f) }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    for (round <- 1 to k if !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((_, syms, f) <- state; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }(rank)
        merges += ((round, l, r, cnt))
        state = state.map { case (w, syms, f) =>
          (w, syms.foldLeft(Vector.empty[String]) { (acc, cur) =>
            if (acc.nonEmpty && acc.last == l && cur == r) acc.init :+ (l + r)
            else acc :+ cur
          }, f)
        }
      }
    }
    (merges.toSeq, state)
  }

  /** The merge loop in Spark, for a word table above [[BpeLocalWords]]:
    * the pair count is a groupBy over the exploded adjacent-pair table;
    * the argmax is a 1-row collect (the merge RULE is model state, the
    * legitimate driver-side scalar); the merge application is a
    * stateless per-row fold. The loop localCheckpoints the symbol table
    * to truncate the k-deep expression lineage (at 100 TB swap in a
    * reliable checkpoint dir — the d9 discipline; the table being cut is
    * distinct-words-sized, not corpus-sized). Prior rounds'
    * localCheckpoint blocks are dereferenced as `words` rebinds, so the
    * ContextCleaner reclaims them on GC; a reliable-dir swap must delete
    * prior rounds' files explicitly (the d9 cleanup discipline).
    *
    * Checkpoint CADENCE (r18 optimization round): the localCheckpoint runs
    * every `BpeCkptEvery`th merge, not every merge. It is lineage
    * hygiene, not semantics: between checkpoints each round's argmax
    * re-applies at most `BpeCkptEvery − 1` pending mergeCol folds on the
    * fly, which on the distinct-words table is array arithmetic, while
    * the eager materialization it replaces was a whole extra Spark job
    * per round. Depth stays bounded at `BpeCkptEvery` folds so codegen
    * never sees an unbounded expression tree. The interleaved cadence
    * 1 vs 4 numbers are in OPTIMIZATION_r18.md §4. `words0` is an
    * [[atomized]] table. */
  private[graft] def trainSpark(words0: DataFrame, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    var pendingFolds = 0
    for (round <- 1 to k if !exhausted) {
      val top = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          zip_with(slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, cnt))
        words = words
          .select(col("word"), mergeCol(col("syms"), l, r).as("syms"), col("freq"))
        pendingFolds += 1
        if (pendingFolds == BpeCkptEvery) {
          words = words.localCheckpoint(true)
          pendingFolds = 0
        }
      }
    }
    // the returned end state must stay cheap to re-scan (t21's vocab join
    // reads it repeatedly): flush any pending folds into one final snapshot
    if (pendingFolds > 0) words = words.localCheckpoint(true)
    (merges.toSeq, words)
  }

  private val BpeRounds = 16

  private val bpeMemo =
    new graft.plans.TrainOnce[String, (Seq[(Int, String, String, Long)], DataFrame)]

  /** The learned merge table for `dir` — the model state a streaming
    * ingest twin ships to the stream side (like t19's fitted model). */
  private[graft] def learnedMerges(spark: SparkSession, dir: String)
      : Seq[(Int, String, String, Long)] = bpeState(spark, dir)._1

  /** Train-once state shared by t20 (the merge table) and t21 (the
    * encoded vocabulary) — one training pass serves both, like t19/v4. */
  private def bpeState(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeMemo(dir)(train(wordFreq(spark, dir), BpeRounds))

  /** What [[retrainTokenizerIfDrifted]] measured and did. */
  case class TokenizerDriftReport(fertilityMicro: Long, nAlarmDocs: Long,
      retrained: Boolean)

  /** The tokenizer maintenance pass [[xTokenizerReport]] exists to feed —
    * the text twin of
    * [[graft.queries.VectorQueries.retrainIfDrifted]]: re-list the
    * corpus, measure corpus fertility and the alarm-doc tail, and when a
    * threshold trips, evict the trained-BPE memo for `dir` and retrain
    * eagerly on the corpus as it now stands (once per pass, by
    * [[graft.plans.TrainOnce.refit]]; the re-list drops a stale
    * tokenized-corpus snapshot first, as in
    * [[retrainClassifierIfDrifted]]), so every later consumer
    * (t20's table, t21's pricing join, the report itself, and the front
    * door's `merges` artifact at its next
    * [[graft.streaming.EventStream.IngestArtifacts]] redeploy) prices
    * with a vocabulary trained on the corpus being priced. Defaults
    * never trip. Retraining is the same deterministic argmax loop as
    * cold training (BpeSpec's reference pin), so on an UNCHANGED corpus
    * a forced retrain reproduces the identical merge table — the
    * idempotence MlSpec pins; the loop converges the quantizer way:
    * measure the retrained state next cycle and hold thresholds, trip
    * only on regression. */
  def retrainTokenizerIfDrifted(spark: SparkSession, dir: String,
      fertilityCeilingMicro: Long = Long.MaxValue,
      maxAlarmDocs: Long = Long.MaxValue): TokenizerDriftReport = {
    graft.plans.Tables.invalidate(s"$dir/documents.parquet")
    graft.plans.Snapshot.dropStale(dir)
    bpeMemo.refit(_ == dir) {
      val r = xTokenizerReport(spark, dir).collect()(0)
      val fert = r.getAs[Long]("fertility_micro")
      val alarms = r.getAs[Long]("n_alarm_docs")
      TokenizerDriftReport(fert, alarms,
        retrained = fert > fertilityCeilingMicro || alarms > maxAlarmDocs)
    }(_.retrained)(bpeState(spark, dir)) // retrain now, not at the next pricing pass
  }

  /** t20 — the learned BPE merge table (rank, left, right, merged symbol,
    * weighted pair count) for the corpus: tokenizer training as a query.
    * Train-once memo like t19/v4 — production learns the vocabulary once
    * and ships it. Rows-only: the algorithm is deterministic (BpeSpec
    * pins EXACT equality with an independent pure-Scala reference
    * implementation, the t15 standard — that spec is the real gate), but
    * k unrolled argmax rounds are not practically expressible as one
    * DuckDB SQL statement. Round-11: the merge table is EXPORTED at the
    * verify scale and the oracle reads it back — a round-trip pin (value
    * equality of the shipped model artifact through an independent
    * parquet read), upgrading the driver gate from rows-only to
    * hash-match on the artifact itself. */
  def t20BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeState(spark, dir)._1
    import spark.implicits._
    val df = merges.map { case (rank, l, r, cnt) => (rank, l, r, l + r, cnt) }
      .toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy("rank")
    graft.plans.VerifyExports.maybeExport(dir, "t20_bpe_merges")(df)
    df
  }

  /** The (word, word_pieces) projection of the trained vocabulary, with
    * its verify-scale export as a side effect — ONE definition for t21's
    * pricing join, the tokenizer report, and the oracle's exported table
    * (maybeExport is write-once per JVM, so repeated callers are free). */
  private def vocabPieces(spark: SparkSession, dir: String): DataFrame = {
    val vocab = bpeState(spark, dir)._2
      .select(col("word"), size(col("syms")).cast("bigint").as("word_pieces"))
    graft.plans.VerifyExports.maybeExport(dir, "t21_bpe_vocab")(vocab)
    vocab
  }

  /** t21 — corpus tokenization under the learned BPE vocabulary: per-doc
    * whitespace-word count, encoded-piece count, and the pieces-per-word
    * fertility in exact integer micro-units (`DIV` — no doubles). This is
    * the production "how many tokens is my corpus" pass every training
    * run prices before a single gradient step.
    *
    * Plan shape at 100 TB: the encoded vocabulary falls out of training
    * at distinct-word scale (t20's loop end state — NO per-document
    * re-encoding pass exists anywhere). Per-doc word counts aggregate
    * BEFORE the vocab join (map-side combinable; the join input is
    * doc-distinct words, not token occurrences), then one doc_id groupBy.
    * The vocab side is millions of rows — broadcast when it fits, else
    * a word-keyed shuffle-hash join; AQE picks at runtime. Oracle
    * (round-11, was rows-only): the vocabulary still derives from the k
    * iterative argmax rounds no single SQL statement can run, but under
    * a FIXED exported vocab the whole scoring tier — tokenize, per-doc
    * word counts, vocab join, exact-integer aggregation — is plain SQL;
    * the (word, word_pieces) table is exported at the verify scale and
    * DuckDB recomputes everything downstream of it independently.
    * BpeSpec still pins the vocab itself against the pure-Scala encoder. */
  def t21BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val vocab = vocabPieces(spark, dir)
    val docWords = TextQueries.tokenizedCorpus(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    docWords.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("word_pieces")).as("n_pieces"))
      .withColumn("fertility_micro",
        expr("CAST((n_pieces * 1000000) DIV n_words AS BIGINT)"))
      .orderBy("doc_id")
  }

  /** [[xTokenizerReport]]'s alarm floor: per-doc fertility in micro-units
    * above which a doc counts as tokenizer-pathological. Set ABOVE the
    * fixture corpus mean (~3.39 pieces/word) so the count flags the worst
    * tail, not the whole corpus; inlined into BOTH engines. */
  private val FertilityAlarm = 3600000L

  /** x_tokenizer_report — the tokenizer-health dashboard next to
    * x_corpus_report (text) and x_drift_report (vectors): one row of the
    * numbers an operator watches when a tokenizer meets a growing corpus —
    * docs priced, corpus word/piece mass, corpus-level fertility
    * (pieces per word in exact micro-units — THE tokenizer-fit metric:
    * fertility creeping up means the corpus drifted from what the
    * vocabulary was trained on), the count of alarm-fertility docs (the
    * actionable tail), and the vocabulary's own shape (size, share of
    * multi-piece words). Everything downstream of the learned vocab is
    * plain arithmetic, so the whole row rides t21's fixed-vocab oracle
    * discipline: DuckDB recomputes per-doc and corpus aggregates from the
    * exported (word, word_pieces) table independently.
    *
    * Scale shape: re-aggregates [[t21BpeEncode]]'s per-doc frame (one
    * distinct-word join + two groupBys, map-side combinable) into 1-row
    * broadcasts crossed with a vocab-side aggregate — nothing beyond what
    * pricing the corpus already costs. */
  def xTokenizerReport(spark: SparkSession, dir: String): DataFrame = {
    val vocab = vocabPieces(spark, dir)
    val enc = t21BpeEncode(spark, dir)
    val docAgg = enc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("n_words"),
      sum(col("n_pieces")).as("n_pieces"),
      count(when(col("fertility_micro") >= FertilityAlarm, 1))
        .as("n_alarm_docs"))
    val vocabAgg = vocab.agg(
      count(lit(1)).as("n_vocab"),
      count(when(col("word_pieces") > 1L, 1)).as("n_multi_piece_vocab"))
    docAgg.crossJoin(vocabAgg)
      .select(col("n_docs"), col("n_words"), col("n_pieces"),
        expr("CAST((n_pieces * 1000000) DIV n_words AS BIGINT)")
          .as("fertility_micro"),
        col("n_alarm_docs"), col("n_vocab"), col("n_multi_piece_vocab"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t19_quality_classifier" -> t19QualityClassifier,
    "t20_bpe_merges" -> t20BpeMerges,
    "t21_bpe_encode" -> t21BpeEncode,
    "x_tokenizer_report" -> xTokenizerReport,
    "x_classifier_report" -> xClassifierReport)

  /** Every ML query is oracle-checked: t20/t21 graduated in round 11 via
    * the [[graft.plans.VerifyExports]] model-state exports, t19 in round
    * 16 via the same discipline at row level (see its scaladoc for what
    * round-trips vs what DuckDB recomputes independently). */
  val rowsOnly: Set[String] = Set.empty

  val oracleSql: Map[String, String] = {
    import graft.plans.VerifyExports.sqlPath
    Map(
      // round-trip pin of the shipped model artifact ("left"/"right" are
      // reserved words in DuckDB — quoted)
      "t20_bpe_merges" ->
        s"""SELECT rank, "left", "right", merged, pair_count
           |FROM ${sqlPath("t20_bpe_merges")} ORDER BY rank""".stripMargin,
      // independent recompute of the scoring tier under the fixed vocab
      "t21_bpe_encode" -> TextQueries.oracle(
        s"""SELECT doc_id, n_words, n_pieces,
           |       CAST((n_pieces * 1000000) // n_words AS BIGINT) AS fertility_micro
           |FROM (
           |  SELECT doc_id,
           |         CAST(SUM(cnt) AS BIGINT) AS n_words,
           |         CAST(SUM(cnt * word_pieces) AS BIGINT) AS n_pieces
           |  FROM (
           |    SELECT doc_id, word, COUNT(*) AS cnt
           |    FROM (SELECT doc_id, unnest(toks) AS word FROM toks)
           |    GROUP BY doc_id, word)
           |  JOIN (SELECT word, word_pieces FROM ${sqlPath("t21_bpe_vocab")})
           |  USING (word)
           |  GROUP BY doc_id)
           |ORDER BY doc_id""".stripMargin),
      // the health row: same fixed-vocab discipline — per-doc and corpus
      // aggregates recomputed independently from the exported vocab
      "x_tokenizer_report" -> TextQueries.oracle(
        s""", pd AS (
           |  SELECT doc_id,
           |         CAST(SUM(cnt) AS BIGINT) AS n_words,
           |         CAST(SUM(cnt * word_pieces) AS BIGINT) AS n_pieces
           |  FROM (
           |    SELECT doc_id, word, COUNT(*) AS cnt
           |    FROM (SELECT doc_id, unnest(toks) AS word FROM toks)
           |    GROUP BY doc_id, word)
           |  JOIN (SELECT word, word_pieces FROM ${sqlPath("t21_bpe_vocab")})
           |  USING (word)
           |  GROUP BY doc_id),
           |vc AS (SELECT word_pieces FROM ${sqlPath("t21_bpe_vocab")})
           |SELECT CAST((SELECT count(*) FROM pd) AS BIGINT) AS n_docs,
           |       CAST((SELECT sum(n_words) FROM pd) AS BIGINT) AS n_words,
           |       CAST((SELECT sum(n_pieces) FROM pd) AS BIGINT) AS n_pieces,
           |       CAST(((SELECT sum(n_pieces) FROM pd) * 1000000)
           |            // (SELECT sum(n_words) FROM pd) AS BIGINT) AS fertility_micro,
           |       CAST((SELECT count(*) FROM pd
           |             WHERE (n_pieces * 1000000) // n_words >= $FertilityAlarm)
           |            AS BIGINT) AS n_alarm_docs,
           |       CAST((SELECT count(*) FROM vc) AS BIGINT) AS n_vocab,
           |       CAST((SELECT count(*) FROM vc WHERE word_pieces > 1)
           |            AS BIGINT) AS n_multi_piece_vocab""".stripMargin),
      // t19 row level: the doc universe comes from the TOKENIZED CORPUS
      // (toks), never from the export — a scoring pass that silently
      // dropped or duplicated docs yields NULL-score or extra oracle rows
      // and fails the hash; rule_keep (shared gopher fragments) and the
      // split marker are recomputed independently; only the score values
      // themselves round-trip (L-BFGS scores are not cross-engine
      // reproducible — the t20 discipline)
      "t19_quality_classifier" -> TextQueries.oracle(
        s""", rules AS (
           |  SELECT doc_id
           |  FROM (${TextQueries.gopherSignalsSqlFor("toks", "corpus")})
           |  WHERE ${TextQueries.gopherKeepSql})
           |SELECT t.doc_id,
           |       CAST(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END
           |            AS BIGINT) AS rule_keep,
           |       s.score_micro,
           |       CAST(CASE WHEN t.doc_id % 10 < 3 THEN 1 ELSE 0 END
           |            AS BIGINT) AS is_train
           |FROM toks t
           |LEFT JOIN ${sqlPath("t19_scores")} s ON t.doc_id = s.doc_id
           |LEFT JOIN rules r ON t.doc_id = r.doc_id
           |ORDER BY t.doc_id""".stripMargin),
      // classifier health: score VALUES round-trip through the export;
      // rule verdicts (shared gopher fragments), split arithmetic, and
      // every aggregate are recomputed independently
      "x_classifier_report" -> TextQueries.oracle(
        s""", rules AS (
           |  SELECT doc_id
           |  FROM (${TextQueries.gopherSignalsSqlFor("toks", "corpus")})
           |  WHERE ${TextQueries.gopherKeepSql}),
           |j AS (
           |  SELECT s.doc_id, s.score_micro,
           |         CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rule_keep,
           |         CASE WHEN s.doc_id % 10 < 3 THEN 1 ELSE 0 END AS is_train
           |  FROM ${sqlPath("t19_scores")} s
           |  LEFT JOIN rules r ON s.doc_id = r.doc_id)
           |SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(CASE WHEN is_train = 0 THEN 1 END) AS BIGINT)
           |         AS n_holdout,
           |       CAST(count(CASE WHEN is_train = 0
           |                        AND ((score_micro >= $ScoreKeepThreshold) = (rule_keep = 1))
           |                  THEN 1 END) AS BIGINT) AS n_holdout_agree,
           |       CAST((count(CASE WHEN is_train = 0
           |                         AND ((score_micro >= $ScoreKeepThreshold) = (rule_keep = 1))
           |                   THEN 1 END) * 1000000)
           |            // greatest(count(CASE WHEN is_train = 0 THEN 1 END), 1)
           |            AS BIGINT) AS holdout_agreement_micro,
           |       CAST(count(CASE WHEN score_micro >= $ScoreKeepThreshold THEN 1 END)
           |            AS BIGINT) AS n_model_keep
           |FROM j""".stripMargin))
  }
}
