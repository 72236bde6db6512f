package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.JobStream.StatusEvent

/** The reference emails every job error: a logging SMTPHandler is wired at
  * ERROR level (encodesrv/logs/log.py:14-48), so each `log.error(...)` in
  * the job loop produces one alert mail. The engine's analogue is a
  * foreachBatch consumer of the status-event stream that filters Error
  * events into an alert table — exactly once per (batch, job, status), even
  * when Spark replays a failed micro-batch under its original batchId.
  *
  * The mail transport itself is out of scope (network); the alert TABLE is
  * the seam — a cluster deployment points a mailer (or pager webhook) at it,
  * the same way the reference points SMTPHandler at the log stream.
  */
object AlertSink {

  case class Alert(job_id: Long, status: String, ts: Timestamp, batch_id: Long)

  /** Idempotent alert store: keyed (batch_id, job_id, status) so a replayed
    * micro-batch (same batchId) upserts the same keys — a no-op. Driver-side
    * stand-in for the transactional alert table a cluster sink writes. */
  final class AlertTable extends Serializable {
    private val rows =
      scala.collection.mutable.LinkedHashMap[(Long, Long, String), Alert]()
    def upsert(a: Alert): Unit = synchronized {
      val k = (a.batch_id, a.job_id, a.status)
      if (!rows.contains(k)) rows(k) = a
      ()
    }
    def alerts: Seq[Alert] = synchronized(rows.values.toSeq)
  }

  /** Start the alert consumer. The Error filter runs distributed (codegen'd
    * LIKE on the stream); only matching rows — a trickle by construction —
    * reach the driver-side table. */
  def start(events: Dataset[StatusEvent], table: AlertTable,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = events.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[StatusEvent], batchId: Long) =>
        // the batch already carries the query's StatusEvent encoder: an
        // `.as` here would derive it by reflection again on every trigger
        batch.filter(col("status").like("%Error%"))
          .collect()
          .foreach(e => table.upsert(Alert(e.job_id, e.status, e.ts, batchId)))
        ()
      }
    CheckpointLog.configure(events.sparkSession, writer, checkpoint).start()
  }
}
