package graft.perfbench

import graft.exec.MockRunner
import graft.streaming.JobStream
import graft.streaming.JobStream.{JobRequest, StatusEvent}

/** Output checks. Each returns the list of failures (empty = pass) over
  * plain collected values, so the self-test can plant a corruption and see
  * the check reject it. */
object Checks {

  private def isClaim(e: StatusEvent): Boolean = e.status.endsWith(" - Waiting")

  /** dispatch: every job claimed once and ending in exactly one terminal
    * status; each job's event sequence equals a serial driver-side
    * [[JobStream.runJob]] over [[MockRunner]] with a fixed clock. */
  def dispatch(jobs: Seq[JobRequest], claims: Map[Long, Long],
      events: Seq[StatusEvent]): Seq[String] = {
    val byJob = events.groupBy(_.job_id)
    val ids = jobs.map(_.id).toSet
    val unknown = byJob.keySet -- ids
    val perJob = jobs.flatMap { j =>
      val evs = byJob.getOrElse(j.id, Seq.empty)
      val nClaims = evs.count(isClaim)
      val terminal = evs.count(e => JobStream.isTerminal(JobStream.rank(e.status)))
      val walk = evs.filterNot(isClaim).map(e => (e.status, e.batch_id))
      val expected = claims.get(j.id).map(b =>
        JobStream.runJob(j, MockRunner, b, () => 0L).map(e => (e.status, e.batch_id)))
      Seq(
        if (!claims.contains(j.id) || nClaims != 1)
          Some(s"job ${j.id}: claimed ${if (claims.contains(j.id)) nClaims else 0} times")
        else None,
        if (terminal != 1) Some(s"job ${j.id}: $terminal terminal statuses") else None,
        if (expected.exists(_ != walk))
          Some(s"job ${j.id}: events ${walk.map(_._1).mkString("|")} != serial " +
            expected.get.map(_._1).mkString("|"))
        else None).flatten
    }
    perJob ++ unknown.toSeq.sorted.map(id => s"events for unknown job $id")
  }

  /** A landed or batch-computed ingest row: key columns plus every other
    * column's value, in a fixed column order. */
  case class Landed(docId: Long, source: String, values: Seq[Any])

  /** ingest: landed doc_ids unique; every landed row equals the batch
    * front door's row for that doc (annotation columns included); landed
    * rows per source = min(cap, uncapped survivors of that source). */
  def ingest(landed: Seq[Landed], batch: Seq[Landed], cap: Long): Seq[String] = {
    val dups = landed.groupBy(_.docId).collect { case (id, rs) if rs.size > 1 => id }
    val batchById = batch.map(r => r.docId -> r).toMap
    val mismatched = landed.filterNot(r => batchById.get(r.docId).contains(r))
    val landedBySource = landed.groupBy(_.source).map { case (s, rs) => s -> rs.size.toLong }
    val batchBySource = batch.groupBy(_.source).map { case (s, rs) => s -> rs.size.toLong }
    val capWrong = (landedBySource.keySet ++ batchBySource.keySet).toSeq.sorted.flatMap { s =>
      val want = math.min(cap, batchBySource.getOrElse(s, 0L))
      val got = landedBySource.getOrElse(s, 0L)
      if (want != got) Some(s"source $s: landed $got, expected min(cap $cap, ${batchBySource.getOrElse(s, 0L)})")
      else None
    }
    dups.toSeq.sorted.map(id => s"doc $id landed more than once") ++
      mismatched.take(5).map(r => s"doc ${r.docId}: landed row differs from the batch front door") ++
      capWrong
  }

  /** One compaction audit row: n_arrivals first, n_appended last, kill
    * tiers between; `read` and `appended` are the rows actually read and
    * actually appended. */
  case class Audit(name: String, row: Seq[Long], read: Long, appended: Long)

  /** batch_round: the conservation identity of each compaction audit
    * (arrivals = killed + appended, and both ends equal what was really
    * read and appended); export manifest rows = post-compaction corpus
    * rows; every artifact retrained. */
  def batchRound(audits: Seq[Audit], manifestRows: Long, corpusRows: Long,
      retrained: Map[String, Boolean]): Seq[String] = {
    audits.flatMap { a =>
      val arrivals = a.row.head
      val killed = a.row.drop(1).dropRight(1).sum
      val appended = a.row.last
      Seq(
        if (arrivals != killed + appended)
          Some(s"${a.name}: arrivals $arrivals != killed $killed + appended $appended")
        else None,
        if (arrivals != a.read) Some(s"${a.name}: audit arrivals $arrivals != read ${a.read}") else None,
        if (appended != a.appended)
          Some(s"${a.name}: audit appended $appended != written ${a.appended}")
        else None).flatten
    } ++
      (if (manifestRows != corpusRows)
        Seq(s"export manifest rows $manifestRows != corpus rows $corpusRows") else Nil) ++
      retrained.toSeq.sorted.collect { case (k, false) => s"$k did not retrain" }
  }
}
