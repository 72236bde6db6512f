package graft.pipeline

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{MlQueries, VectorQueries}

/** [EXT] The composed maintenance pass: all three learned artifacts —
  * quantizer, tokenizer, quality classifier — measured and conditionally
  * retrained in ONE entry point. The per-artifact loops
  * ([[graft.queries.VectorQueries.retrainIfDrifted]],
  * [[graft.queries.MlQueries.retrainTokenizerIfDrifted]],
  * [[graft.queries.MlQueries.retrainClassifierIfDrifted]]) each close
  * their own measure→trip→refit cycle; this composes them so a
  * production scheduler runs one call per cycle and cannot get the
  * ordering wrong.
  *
  * Each artifact trains at most once per pass. A leg measures first, and
  * on a cold memo (a restarted service, or a caller that released the
  * memos) that measurement has already trained the artifact on the
  * corpus as it now stands; a tripped threshold then keeps it rather
  * than training it again on the same corpus. Only an artifact trained
  * before the pass is evicted and retrained. Every leg runs this one
  * rule, its memo's [[graft.plans.TrainOnce.refit]]. The text legs also
  * drop the tokenized-corpus snapshot when the files under `dir` changed
  * since it was built, so they never measure or train on the corpus as
  * it was.
  *
  * Concurrency: the three legs run at the same time, each submitting its
  * Spark jobs from its own thread, so one leg's driver-side loop (Lloyd,
  * BPE merges, L-BFGS) overlaps the others' tasks instead of leaving the
  * cores idle. The one real dependency stays inside its leg: the
  * quantizer retrain and its index redeploy are fused via
  * [[graft.queries.VectorQueries.maintainIndex]] — a retrained quantizer
  * probing stale-assigned index rows silently breaks the semantic gate
  * (the epoch invariant VectorSpec pins), so retrain-then-reassign must
  * be atomic from the caller's view. Tokenizer and classifier are
  * mutually independent and independent of the quantizer (text-side vs
  * vector-side artifacts). The state the legs share is safe under this:
  * every memo is a [[graft.plans.TrainOnce]], which trains outside its
  * lock, so no leg waits on another leg's training; `Tables` is a
  * concurrent map; and `Snapshot.checkpointed` builds a shared snapshot
  * (the tokenizer's and classifier's `toks`) once; `Snapshot.dropStale`
  * never drops a build made under the dir's current stamp, so the second
  * text leg's call leaves the first leg's rebuild in place. The pass
  * returns only after EVERY leg has finished, so no job of it is still
  * running when the caller moves on; failures are rethrown in the fixed
  * order quantizer, tokenizer, classifier, and the outcome's fields keep
  * that order, so reports stay reproducible.
  *
  * The monitor row feeding these thresholds is the oracled
  * `x_maintenance_report`
  * ([[graft.queries.MaintenanceQueries.xMaintenanceReport]]). Thresholds
  * default to never-trip (measure-only), the hold-and-compare discipline
  * of the per-artifact loops: pass the previous cycle's measurements to
  * trip only on regression. */
object Maintenance {

  /** What one composed pass measured and did. `index` is the caller's
    * cell index, reassigned under the fresh quantizer iff the quantizer
    * retrained (same instance otherwise). */
  case class MaintenanceOutcome(
      quantizer: VectorQueries.DriftReport,
      index: DataFrame,
      tokenizer: MlQueries.TokenizerDriftReport,
      classifier: MlQueries.ClassifierDriftReport) {
    def anyRetrained: Boolean =
      quantizer.retrained || tokenizer.retrained || classifier.retrained
  }

  def maintainAll(spark: SparkSession, dir: String, index: DataFrame,
      maxHotCells: Long = Long.MaxValue,
      maxDeadCells: Long = Long.MaxValue,
      recallFloorMicro: Long = 0L,
      fertilityCeilingMicro: Long = Long.MaxValue,
      maxAlarmDocs: Long = Long.MaxValue,
      agreementFloorMicro: Long = 0L): MaintenanceOutcome = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    def leg[T](body: => T): Future[T] = Future(blocking(body))
    val quantizer = leg(VectorQueries.maintainIndex(spark, dir, index,
      maxHotCells, maxDeadCells, recallFloorMicro))
    val tokenizer = leg(MlQueries.retrainTokenizerIfDrifted(spark, dir,
      fertilityCeilingMicro, maxAlarmDocs))
    val classifier = leg(MlQueries.retrainClassifierIfDrifted(spark, dir,
      agreementFloorMicro))
    // wait for every leg before looking at any outcome: a failed leg must
    // not return while another leg's jobs still run
    def settled[T](f: Future[T]): Try[T] = Await.ready(f, Duration.Inf).value.get
    val (q, t, c) = (settled(quantizer), settled(tokenizer), settled(classifier))
    val (qr, newIndex) = q.get
    val (tr, cr) = (t.get, c.get)
    MaintenanceOutcome(qr, newIndex, tr, cr)
  }
}
