package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] incremental corpus compaction — the batch half of the
  * stream↔batch dedup loop. The ingest gates
  * ([[graft.streaming.EventStream.dedupAgainstCorpus]] /
  * [[graft.streaming.EventStream.nearDupGateAtIngest]]) probe corpus
  * artifacts that are re-read per micro-batch precisely so that "a corpus
  * compaction is picked up live"; this is that compaction. It folds a
  * batch of gate-accepted arrivals into the artifacts the gates probe —
  * fingerprint table, LSH band table, and the corpus rows themselves —
  * closing the loop: once compacted, a re-arrival of an accepted document
  * (or a near-duplicate of one) dies at the gate.
  *
  * Kill tiers, in order (each reuses the SAME shared column definitions
  * as its gate, so batch and stream can never drift):
  *   1. intra-batch exact: one fingerprint-keyed window keeps the min
  *      doc_id per fp (the d1 canonical rule);
  *   2. corpus exact: fp LEFT ANTI against the fingerprint table;
  *   3. corpus near-dup: the band anti-join gate run on the batch frame —
  *      literally [[graft.streaming.EventStream.nearDupGateAtIngest]],
  *      which is stream/batch agnostic;
  *   4. intra-batch near-dup: survivors sharing any band key keep the
  *      lesser doc_id (the v8/d8 pairwise greater-id discipline — pairwise
  *      by design, not component-closed; d9 documents the closure
  *      upgrade).
  *
  * The audit is oracled as is: `x_compact_audit`
  * ([[graft.queries.ExportQueries.xCompactAudit]]) runs this function on
  * a fixed arrival batch and returns its `audit`, which DuckDB recomputes.
  *
  * Two forms, one set of tiers. A batch whose rows and corpus hits fit
  * `Compaction.LocalRows` runs on the driver ([[compactLocal]]): ONE
  * bounded collect of a tagged union — the arrivals with their fp and
  * band keys, the batch fps found in the fp table, the batch (band, bkey)
  * pairs found in the band table — then the four tiers as set logic over
  * those rows. The fps and band keys are computed by Spark, by the same
  * native expressions as the gates. A larger batch runs the cascade in
  * Spark ([[compactSpark]]): pinned tier frames, one audit action
  * (`Compaction.audit`), deltas staged on first access.
  *
  * Scale shape: every step is proportional to the ARRIVAL batch, never
  * the corpus. The driver form probes the fp and band tables with one
  * semi-join each at the batch's own keys. The Spark form computes
  * per-row fingerprints and band keys (zero shuffle), one batch-keyed
  * window, two anti-join probes of bucketed corpus tables and one
  * batch-sized band self-join. The existing corpus is never rescanned
  * or rewritten: survivors and their artifacts APPEND (at 100 TB,
  * partition-appends to the bucketed fp/band tables). */
object CorpusCompaction {

  /** The post-compaction artifacts plus a one-row audit of every kill
    * tier (the conservation identity n_arrivals = killed + appended is
    * checkable from the row alone). `appended`/`newFingerprints`/
    * `newBands` are the survivor DELTAS — what an incremental loop
    * appends to its artifact tables (the full unions are for consumers
    * that want the post-state as one frame).
    *
    * APPEND-BACK DISCIPLINE (r13, found by the front-door soak; since
    * enforced HERE rather than by caller convention): a loop that appends
    * these deltas into the same directories `compact`'s inputs were read
    * from would otherwise need to snapshot each delta BEFORE the first
    * append — Spark's file-commit path refreshes every cached plan that
    * reads the written directory (`refreshByPath`), which would recompute
    * a still-lazy survivor tier against the HALF-APPENDED state (after
    * the fingerprint append lands, a recomputed survivor set sees its own
    * docs in the corpus fp table and goes empty, so the band delta
    * appends nothing and the band gate silently never learns the batch).
    * The API closes that mode by construction. The driver form's deltas
    * are local rows with no file lineage at all. The Spark form's first
    * access to ANY delta snapshots ALL THREE together
    * (`localCheckpoint(true)` cuts the file lineage), so no append the
    * caller can issue afterwards — and no append can precede a delta
    * read — invalidates a sibling delta. Audit-only consumers never touch
    * the deltas and pay nothing. EventStreamSpec's soak pins the loop end
    * to end. */
  final class Compacted private[pipeline] (
      corpusBase: DataFrame, fpsBase: DataFrame, bandsBase: DataFrame,
      val audit: DataFrame,
      stage: () => (DataFrame, DataFrame, DataFrame),
      pinnedBases: Seq[DataFrame]) {
    // one staging point for all three deltas: snapshotting them together
    // is what makes the first append unable to corrupt a later read
    private lazy val staged = stage()
    /** Survivor-row delta (lineage-free, safe to append back). */
    lazy val appended: DataFrame = staged._1
    /** Fingerprint-table delta (lineage-free). */
    lazy val newFingerprints: DataFrame = staged._2
    /** Band-table delta (lineage-free). */
    lazy val newBands: DataFrame = staged._3
    /** Post-state unions, for consumers that want one frame; built over
      * the staged deltas so they too survive an append-back. */
    lazy val corpus: DataFrame = corpusBase.unionByName(appended)
    lazy val fingerprints: DataFrame = fpsBase.unionByName(newFingerprints)
    lazy val bands: DataFrame = bandsBase.unionByName(newBands)
    /** Drop the survivor pin backing the Spark form's delta plans (the
      * driver form pins nothing). Call once the artifacts are
      * materialized (written, or superseded by the next round): an
      * incremental loop that never releases accumulates one pinned batch
      * per round for the session lifetime (r11 advice). Deltas staged
      * later still evaluate correctly — they just recompute their
      * cascade uncached. */
    def release(): Unit = pinnedBases.foreach(_.unpersist(blocking = false))
  }

  private val Kills = Seq("batch_exact", "corpus_exact", "corpus_near", "batch_near")

  def compact(arrivals: DataFrame, corpus: DataFrame,
      corpusFps: DataFrame, corpusBands: DataFrame): Compacted =
    localBatch(arrivals, corpusFps, corpusBands) match {
      case Some(rows) => compactLocal(arrivals, corpus, corpusFps, corpusBands, rows)
      case None => compactSpark(arrivals, corpus, corpusFps, corpusBands)
    }

  /** `arrivals` with the exact gate's fp and the band gate's key array. */
  private def keyed(arrivals: DataFrame): DataFrame = arrivals
    .withColumn("fp", graft.ops.Fingerprint.col(col("text")))
    .withColumn("bk_arr", graft.queries.TextQueries.bandKeysCol(col("text")))

  /** The rows [[compactLocal]] runs on, when there are at most
    * `Compaction.LocalRows` of them: a union tagged 0 for each arrival
    * (its columns as `row`, with `fp` and `bk_arr`), 1 for each batch fp
    * found in `corpusFps`, 2 for each batch (band, bkey) pair found in
    * `corpusBands`. None when there are more. */
  private[graft] def localBatch(arrivals: DataFrame, corpusFps: DataFrame,
      corpusBands: DataFrame): Option[Array[Row]] = {
    val batch = keyed(arrivals)
    val fpHits = batch.select(col("fp"))
      .join(corpusFps.select(col("fp")), Seq("fp"), "left_semi")
    val bandHits = batch
      .select(posexplode(col("bk_arr")).as(Seq("band", "bkey")))
      .filter(col("band") < graft.queries.TextQueries.Bands)
      .join(corpusBands.select(col("band"), col("bkey")), Seq("band", "bkey"), "left_semi")
    val rows = batch.select(struct(arrivals.columns.toIndexedSeq.map(col): _*).as("row"),
      col("fp"), col("bk_arr"))
    val tagged = Seq(rows, fpHits, bandHits).zipWithIndex
      .map { case (df, i) => df.withColumn("tag", lit(i)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    graft.plans.BoundedCollect(tagged, Compaction.LocalRows)
  }

  /** The four tiers over [[localBatch]]'s rows, each as the Spark form
    * decides it:
    *   1. the least doc_id of each fp stays (null fps are one group);
    *   2. an fp found in the fp table dies (a null fp is never found);
    *   3. a doc whose key at band b < `Bands` was found with band b dies
    *      (an empty key array passes);
    *   4. a doc dies when a lesser doc_id among tier 3's survivors shares
    *      one of its (band, bkey) pairs.
    * The deltas are local rows under the Spark form's schemas. */
  private def compactLocal(arrivals: DataFrame, corpus: DataFrame,
      corpusFps: DataFrame, corpusBands: DataFrame, rows: Array[Row]): Compacted = {
    import scala.jdk.CollectionConverters._
    final case class Doc(row: Row, id: Long, fp: String, keys: Seq[(Int, String)])
    val idAt = arrivals.schema.fieldIndex("doc_id")
    val byTag = rows.groupBy(_.getAs[Int]("tag")).withDefaultValue(Array.empty)
    val docs = byTag(0).toSeq.map { r =>
      val row = r.getAs[Row]("row")
      Doc(row, row.getAs[Number](idAt).longValue, r.getAs[String]("fp"),
        r.getAs[Seq[String]]("bk_arr").zipWithIndex.map(_.swap))
    }
    val fpHits = byTag(1).map(_.getAs[String]("fp")).toSet
    val bandHits = byTag(2).map(r => (r.getAs[Int]("band"), r.getAs[String]("bkey"))).toSet

    val firsts = docs.indices.groupBy(i => docs(i).fp).values
      .map(_.minBy(i => docs(i).id)).toSet
    val batchUnique = docs.indices.filter(firsts).map(docs)
    val pastExact = batchUnique.filterNot(d => d.fp != null && fpHits(d.fp))
    val pastNear = pastExact.filterNot(_.keys.exists(bandHits))
    val least = pastNear.flatMap(d => d.keys.map(_ -> d.id))
      .groupMapReduce(_._1)(_._2)(math.min)
    val survivors = pastNear.filterNot(d => d.keys.exists(k => least(k) < d.id))

    val spark = arrivals.sparkSession
    val batch = keyed(arrivals)
    def local(schema: org.apache.spark.sql.types.StructType, rs: Seq[Row]) =
      spark.createDataFrame(rs.asJava, schema)
    val appended = local(arrivals.schema, survivors.map(_.row))
    val newFps = local(batch.select(col("doc_id"), col("fp")).schema,
      survivors.map(d => Row(d.row.get(idAt), d.fp)))
    val newBands = local(batch.select(col("doc_id"),
        posexplode(col("bk_arr")).as(Seq("band", "bkey"))).schema,
      survivors.flatMap(d => d.keys.map { case (b, k) => Row(d.row.get(idAt), b, k) }))
    new Compacted(
      corpus,
      corpusFps.select("doc_id", "fp"),
      corpusBands.select("doc_id", "band", "bkey"),
      Compaction.localAudit(spark,
        Seq(docs, batchUnique, pastExact, pastNear, survivors).map(_.size), Kills),
      () => (appended, newFps, newBands),
      pinnedBases = Nil)
  }

  /** The cascade in Spark, for a batch above `Compaction.LocalRows`: each
    * tier frame pinned, the audit in one action, the deltas staged on
    * first access. */
  private[graft] def compactSpark(arrivals: DataFrame, corpus: DataFrame,
      corpusFps: DataFrame, corpusBands: DataFrame): Compacted = {
    val cols = arrivals.columns

    import Compaction.pinned

    // tier 1: intra-batch exact (min doc_id per fingerprint)
    val enriched = arrivals
      .withColumn("fp", graft.ops.Fingerprint.col(col("text")))
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
    val batchUnique = pinned(enriched
      .withColumn("rn", row_number().over(wFp))
      .filter(col("rn") === 1).drop("rn"))

    // tier 2: corpus exact (the dedupAgainstCorpus probe, fp pre-computed);
    // pinned so the audit and tier 3 share one probe of the fp table
    val pastExact = pinned(batchUnique
      .join(corpusFps.select(col("fp")), Seq("fp"), "left_anti"))

    // tier 3: corpus near-dup — the ingest gate itself, on the batch frame
    val pastNear = pinned(graft.streaming.EventStream
      .nearDupGateAtIngest(pastExact.drop("fp"), corpusBands)
      .withColumn("fp", graft.ops.Fingerprint.col(col("text"))))

    // tier 4: intra-batch near-dup (any shared band key → lesser id wins)
    val bandRows = pastNear
      .select(col("doc_id"),
        posexplode(graft.queries.TextQueries.bandKeysCol(col("text")))
          .as(Seq("band", "bkey")))
    val nearDrops = bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id")).distinct()
    val survivors = pinned(pastNear
      .join(nearDrops, Seq("doc_id"), "left_anti"))

    // appends: work is survivor-sized; the corpus side is untouched
    val newFps = survivors.select(col("doc_id"), col("fp"))
    val newBands = survivors
      .select(col("doc_id"),
        posexplode(graft.queries.TextQueries.bandKeysCol(col("text")))
          .as(Seq("band", "bkey")))
    val appended = survivors.select(cols.map(col): _*)

    // survivors stays pinned on success: the returned deltas ride it; the
    // upstream tier pins have served the audit either way
    val audit = try Compaction.audit(
      Seq(arrivals, batchUnique, pastExact, pastNear, survivors), Kills)
    catch { case e: Throwable => survivors.unpersist(blocking = false); throw e }
    finally Seq(batchUnique, pastExact, pastNear).foreach(_.unpersist(blocking = false))

    new Compacted(
      corpus,
      corpusFps.select("doc_id", "fp"),
      corpusBands.select("doc_id", "band", "bkey"),
      audit,
      () => (appended.localCheckpoint(true), newFps.localCheckpoint(true),
        newBands.localCheckpoint(true)),
      pinnedBases = Seq(survivors))
  }
}
