package graft.plans

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.FutureAction
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution

/** The one collect of a driver-sized fast path: `df`'s rows when it has
  * at most `n` of them, None when it has more.
  *
  * One SQL action and one result job over every partition (plus the
  * stage jobs of any exchange in `df`'s plan). Each partition stops after
  * n + 1 rows, and the driver keeps at most n rows: once the partitions
  * it has heard from hold more than n, it drops what it holds and cancels
  * the job. `limit(n + 1).collect()` also stops early, but its
  * `executeTake` scans one partition first and then a growing share of
  * the rest, one job per step: two jobs whenever the first partition
  * holds fewer than n + 1 rows. */
object BoundedCollect {

  def apply(df: DataFrame, n: Int): Option[Array[Row]] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("boundedCollect")) {
      val rdd = qe.executedPlan.execute()
      val take = n + 1
      // kept by partition, so the rows come back in partition order, as
      // a collect returns them, whichever task finishes first
      val parts = new Array[Array[InternalRow]](rdd.partitions.length)
      var held = 0
      var over = false
      var job: FutureAction[Unit] = null
      // results arrive on the scheduler's thread, one task at a time
      def onPart(i: Int, part: Array[InternalRow]): Unit = parts.synchronized {
        if (!over) {
          parts(i) = part
          held += part.length
          if (held > n) {
            over = true
            java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
            if (job != null) job.cancel()
          }
        }
      }
      val submitted = rdd.sparkContext.submitJob[InternalRow, Array[InternalRow], Unit](
        rdd, (it: Iterator[InternalRow]) => it.take(take).map(_.copy()).toArray,
        rdd.partitions.indices, onPart, ())
      parts.synchronized { job = submitted; if (over) job.cancel() }
      try Await.ready(submitted, Duration.Inf)
      finally if (!submitted.isCompleted) submitted.cancel()
      if (parts.synchronized(over)) None
      else {
        submitted.value.foreach(_.get) // a failed job rethrows here
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        Some(parts.flatMap(_.map(toRow(_).asInstanceOf[Row])))
      }
    }
  }
}
