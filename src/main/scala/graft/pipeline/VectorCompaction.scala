package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

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
  *
  * Two forms, one set of tiers, as in [[CorpusCompaction]]. A batch whose
  * rows fit `Compaction.LocalRows` runs on the driver ([[compactLocal]]):
  * ONE bounded collect of a tagged union — the arrivals with the cell
  * and norm they are assigned, the ids the semantic gate passes, and the
  * batch's within-cell near pairs — then both tiers as set logic. Every
  * cosine is still computed by Spark, by [[graft.queries.VectorQueries
  * .semNear]]'s one expression. A larger batch runs the cascade in Spark
  * ([[compactSpark]]): pinned tier frames, one audit action
  * (`Compaction.audit`), the delta staged on first access.
  *
  * Scale shape: per-arrival cell assignment is the gate's own pure
  * expression over the memoized (K x dims) quantizer rows; tier 1 is one
  * probe of the cell-bucketed index; tier 2 is a batch-sized within-cell
  * self-join. The index is never rescanned — survivors append with
  * their cell and norm precomputed (at 100 TB, a partition-append to
  * the cell-bucketed table). The quantizer itself is NOT retrained here:
  * production re-trains offline on drift and reassigns in one batch pass
  * (the t19/t20 redeploy discipline). */
object VectorCompaction {

  /** `appended` is the survivor DELTA — what an incremental loop appends
    * to its index table (the full union is for consumers that want the
    * post-state as one frame). The [[CorpusCompaction.Compacted]]
    * append-back discipline holds the same way: the driver form's delta
    * is local rows, and the Spark form's snapshots on first access
    * (`localCheckpoint(true)` cuts the file lineage), so appending it
    * back into the directory `index` was read from cannot invalidate it
    * — the file commit's `refreshByPath` only refreshes plans that still
    * read that dir. Audit-only consumers never touch it and pay
    * nothing. */
  final class Compacted private[pipeline] (indexBase: DataFrame,
      val audit: DataFrame, stage: () => DataFrame,
      pinnedBases: Seq[DataFrame]) {
    /** Survivor-row delta (lineage-free, safe to append back). */
    lazy val appended: DataFrame = stage()
    /** Post-state union over the staged delta. */
    lazy val index: DataFrame = indexBase.unionByName(appended)
    /** Drop the survivor pin backing the Spark form's delta plan — the
      * CorpusCompaction.Compacted.release contract. */
    def release(): Unit = pinnedBases.foreach(_.unpersist(blocking = false))
  }

  private val Kills = Seq("corpus_near", "batch_near")

  /** The index table's columns, which the delta appends. */
  private val IndexCols = Seq("vec_id", "embedding", "cell", "nrm")

  def compact(arrivals: DataFrame, index: DataFrame,
      centroids: Seq[(Long, Seq[Double])]): Compacted =
    localBatch(arrivals, index, centroids) match {
      case Some(rows) => compactLocal(arrivals, index, centroids, rows)
      case None => compactSpark(arrivals, index, centroids)
    }

  /** `arrivals`' (vec_id, embedding) with its cell and norm: [[IndexCols]]. */
  private def assigned(arrivals: DataFrame, centroids: Seq[(Long, Seq[Double])]) =
    VectorQueries.withCellAssigned(arrivals.select("vec_id", "embedding"),
      "embedding", "cell", centroids)
      .withColumn("nrm", VectorQueries.norm(col("embedding")))

  /** The rows [[compactLocal]] runs on, when there are at most
    * `Compaction.LocalRows` of them: a union tagged 0 for each assigned
    * arrival (vec_id, embedding, cell, nrm), 1 for the `vec_id` of each
    * arrival the semantic gate passes, 2 for each within-cell near pair
    * (vec_a < vec_b) of the batch. None when there are more. */
  private[graft] def localBatch(arrivals: DataFrame, index: DataFrame,
      centroids: Seq[(Long, Seq[Double])]): Option[Array[Row]] = {
    val batch = assigned(arrivals, centroids)
    val passed = graft.streaming.EventStream
      .semanticGateAssigned(arrivals, index, centroids).select("vec_id")
    val tagged = Seq(batch, passed, VectorQueries.withinCellPairs(batch)).zipWithIndex
      .map { case (df, i) => df.withColumn("tag", lit(i)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    graft.plans.BoundedCollect(tagged, Compaction.LocalRows)
  }

  /** Both tiers over [[localBatch]]'s rows: an arrival the gate did not
    * pass dies; of a near pair whose two ends passed, the greater id
    * dies (v8's drop set over the gate's survivors). The delta is local
    * rows under the Spark form's schema. */
  private def compactLocal(arrivals: DataFrame, index: DataFrame,
      centroids: Seq[(Long, Seq[Double])], rows: Array[Row]): Compacted = {
    import scala.jdk.CollectionConverters._
    def id(r: Row, f: String): Long = r.getAs[Number](f).longValue
    val byTag = rows.groupBy(_.getAs[Int]("tag")).withDefaultValue(Array.empty)
    val batch = byTag(0).toSeq
    val passed = byTag(1).map(id(_, "vec_id")).toSet
    val pastCorpus = batch.filter(r => passed(id(r, "vec_id")))
    val drops = byTag(2).collect { case r if passed(id(r, "vec_a")) && passed(id(r, "vec_b")) =>
      id(r, "vec_b") }.toSet
    val survivors = pastCorpus.filterNot(r => drops(id(r, "vec_id")))

    val spark = arrivals.sparkSession
    val delta = spark.createDataFrame(
      survivors.map(r => Row(IndexCols.map(r.getAs[Any]): _*)).asJava,
      assigned(arrivals, centroids).schema)
    new Compacted(
      index.select(IndexCols.map(col): _*),
      Compaction.localAudit(spark, Seq(batch, pastCorpus, survivors).map(_.size), Kills),
      () => delta,
      pinnedBases = Nil)
  }

  /** The cascade in Spark, for a batch above `Compaction.LocalRows`: each
    * tier frame pinned, the audit in one action, the delta staged on
    * first access. */
  private[graft] def compactSpark(arrivals: DataFrame, index: DataFrame,
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
    val audit = try Compaction.audit(Seq(arrivals, pastCorpus, survivors), Kills)
    catch { case e: Throwable => survivors.unpersist(blocking = false); throw e }
    finally pastCorpus.unpersist(blocking = false)

    val delta = survivors.select(IndexCols.map(col): _*)
    new Compacted(
      index.select(IndexCols.map(col): _*),
      audit,
      () => delta.localCheckpoint(true),
      pinnedBases = Seq(survivors))
  }
}
