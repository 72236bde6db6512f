package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.queries.VectorQueries

/** [EXT] incremental EMBEDDING-index compaction — the vector twin of
  * [[CorpusCompaction]], closing the semantic ingest loop: the streaming
  * semantic gate ([[graft.streaming.EventStream.semanticGateAtIngest]])
  * probes a cell index that is re-read per micro-batch; this folds
  * gate-accepted arrival vectors into that index so a re-arrival (or a
  * near-duplicate) of an accepted vector dies at the gate.
  *
  * Kill tiers (the v8 discipline — an arrival is newer than every index
  * member, so "drop the arrival" is the drop-the-greater-id pair rule;
  * intra-batch, the greater vec_id of a near pair drops):
  *   1. corpus semantic: the gate itself, run on the batch frame
  *      (stream/batch agnostic — ONE definition for both halves);
  *   2. intra-batch semantic: survivors pairing within their assigned
  *      cell above the shared cosine bar keep the lesser vec_id
  *      ([[graft.queries.VectorQueries.withinCellDrops]], v8's drop set).
  *
  * The audit is oracled as is: `x_vcompact_audit`
  * ([[graft.queries.VectorQueries.xVcompactAudit]]) runs this function on
  * a fixed arrival batch and returns its `audit`, which DuckDB recomputes.
  * The audit is one action over the pinned tier frames
  * (`Compaction.audit`, shared with [[CorpusCompaction]]).
  *
  * Scale shape: per-arrival cell assignment is the gate's own pure
  * expression over the memoized (K x dims) quantizer rows, computed once
  * per arrival and kept through both tiers; tier 1 is one
  * anti-join probe of the cell-bucketed index; tier 2 is a batch-sized
  * within-cell self-join. The index is never rescanned — survivors append
  * with their cell and norm precomputed (at 100 TB, a partition-append to
  * the cell-bucketed table). The quantizer itself is NOT retrained here:
  * production re-trains offline on drift and reassigns in one batch pass
  * (the t19/t20 redeploy discipline). */
object VectorCompaction {

  /** `appended` is the survivor DELTA — what an incremental loop appends
    * to its index table (the full union is for consumers that want the
    * post-state as one frame). The [[CorpusCompaction.Compacted]]
    * append-back discipline is enforced the same way: the delta
    * snapshots on first access (`localCheckpoint(true)` cuts the file
    * lineage), so appending it back into the directory `index` was read
    * from cannot invalidate it — the file commit's `refreshByPath` only
    * refreshes plans that still read that dir. Audit-only consumers
    * never touch it and pay nothing. */
  final class Compacted private[pipeline] (indexBase: DataFrame,
      val audit: DataFrame, appendedPlan: DataFrame,
      pinnedBases: Seq[DataFrame]) {
    /** Survivor-row delta (lineage-free snapshot, safe to append back). */
    lazy val appended: DataFrame = appendedPlan.localCheckpoint(true)
    /** Post-state union over the staged delta. */
    lazy val index: DataFrame = indexBase.unionByName(appended)
    /** Drop the survivor pin backing the delta plan — the
      * CorpusCompaction.Compacted.release contract. */
    def release(): Unit = pinnedBases.foreach(_.unpersist(blocking = false))
  }

  def compact(arrivals: DataFrame, index: DataFrame,
      centroids: Seq[(Long, Seq[Double])]): Compacted = {
    import Compaction.pinned

    // tier 1: the semantic gate, batch-side; it keeps the cell and norm it
    // computed for each survivor, which tier 2 and the delta reuse
    val pastCorpus = pinned(graft.streaming.EventStream
      .semanticGateAssigned(arrivals, index, centroids))

    // tier 2: within-cell batch pairs above the bar → lesser id wins
    val survivors = pinned(pastCorpus.join(VectorQueries.withinCellDrops(pastCorpus),
      Seq("vec_id"), "left_anti"))

    // survivors stays pinned on success: the returned delta rides it
    val audit = try Compaction.audit(Seq(arrivals, pastCorpus, survivors),
      Seq("corpus_near", "batch_near"))
    catch { case e: Throwable => survivors.unpersist(blocking = false); throw e }
    finally pastCorpus.unpersist(blocking = false)

    val delta = survivors.select("vec_id", "embedding", "cell", "nrm")
    new Compacted(
      index.select("vec_id", "embedding", "cell", "nrm"),
      audit,
      appendedPlan = delta,
      pinnedBases = Seq(survivors))
  }
}
