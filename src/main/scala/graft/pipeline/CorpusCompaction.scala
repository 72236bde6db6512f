package graft.pipeline

import org.apache.spark.sql.DataFrame
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
  * Both compactions count their tiers in one action over the pinned tier
  * frames (`Compaction.audit`).
  *
  * Scale shape: every step is proportional to the ARRIVAL batch, never
  * the corpus — per-row fingerprints and band keys (zero shuffle), one
  * batch-keyed window, two anti-join probes of bucketed corpus tables,
  * one batch-sized band self-join. The existing corpus is never rescanned
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
    * The API closes that mode by construction: the first access to ANY
    * delta snapshots ALL THREE together (`localCheckpoint(true)` cuts the
    * file lineage), so no append the caller can issue afterwards — and no
    * append can precede a delta read — invalidates a sibling delta.
    * Audit-only consumers never touch the deltas and pay nothing.
    * EventStreamSpec's soak pins the loop end to end. */
  final class Compacted private[pipeline] (
      corpusBase: DataFrame, fpsBase: DataFrame, bandsBase: DataFrame,
      val audit: DataFrame,
      appendedPlan: DataFrame, newFpsPlan: DataFrame,
      newBandsPlan: DataFrame,
      pinnedBases: Seq[DataFrame]) {
    // one staging point for all three deltas: snapshotting them together
    // is what makes the first append unable to corrupt a later read
    private lazy val staged: (DataFrame, DataFrame, DataFrame) =
      (appendedPlan.localCheckpoint(true),
        newFpsPlan.localCheckpoint(true),
        newBandsPlan.localCheckpoint(true))
    /** Survivor-row delta (lineage-free snapshot, safe to append back). */
    lazy val appended: DataFrame = staged._1
    /** Fingerprint-table delta (lineage-free snapshot). */
    lazy val newFingerprints: DataFrame = staged._2
    /** Band-table delta (lineage-free snapshot). */
    lazy val newBands: DataFrame = staged._3
    /** Post-state unions, for consumers that want one frame; built over
      * the staged deltas so they too survive an append-back. */
    lazy val corpus: DataFrame = corpusBase.unionByName(appended)
    lazy val fingerprints: DataFrame = fpsBase.unionByName(newFingerprints)
    lazy val bands: DataFrame = bandsBase.unionByName(newBands)
    /** Drop the survivor pin backing the delta plans. Call once the
      * artifacts are materialized (written, or superseded by the next
      * round): an incremental loop that never releases accumulates one
      * pinned batch per round for the session lifetime (r11 advice).
      * Deltas staged later still evaluate correctly — they just recompute
      * their cascade uncached. */
    def release(): Unit = pinnedBases.foreach(_.unpersist(blocking = false))
  }

  def compact(arrivals: DataFrame, corpus: DataFrame,
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
      Seq(arrivals, batchUnique, pastExact, pastNear, survivors),
      Seq("batch_exact", "corpus_exact", "corpus_near", "batch_near"))
    catch { case e: Throwable => survivors.unpersist(blocking = false); throw e }
    finally Seq(batchUnique, pastExact, pastNear).foreach(_.unpersist(blocking = false))

    new Compacted(
      corpus,
      corpusFps.select("doc_id", "fp"),
      corpusBands.select("doc_id", "band", "bkey"),
      audit,
      appended, newFps, newBands,
      pinnedBases = Seq(survivors))
  }
}
