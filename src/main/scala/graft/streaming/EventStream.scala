package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** [EXT] ST7 — event-time streaming analytics (SURVEY §2.8): the watermarked
  * windowed aggregations the reference never had (all its processing was
  * processing-time). Transforms are defined on unbounded DataFrames so the
  * SAME code runs in batch (EventQueries twins) and streaming; specs drive
  * them with MemoryStream.
  *
  * Scale notes: state per (window × type) group only — the watermark bounds
  * state growth by evicting windows older than the allowed lateness, which
  * is what makes a 100 TB/day stream aggregation possible at all.
  */
object EventStream {

  /** Tumbling 1-hour counts/sums with 30-min allowed lateness. Append mode:
    * a window emits once, when the watermark passes its end. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(18,2)").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming SKETCHED uniques — the streaming face of the approx
    * family (ApproxQueries' HLL twin): watermarked tumbling-hour
    * approx_count_distinct over users. The sketch is the point at scale:
    * per-window state is one HLL register set (KBs) instead of the
    * distinct-user set (GBs for a busy hour), so cardinality monitoring
    * runs at any fan-in where an exact distinct would blow the state
    * store. Append mode: a window's estimate finalizes once, when the
    * watermark passes its end — the e1 discipline. */
  def hourlyUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour_start"), col("approx_users"),
        col("n_events"))

  /** Streaming exact dedup — the streaming face of TextQueries.d1: drop
    * any document whose content fingerprint was already seen within the
    * watermark horizon. `dropDuplicatesWithinWatermark`, NOT
    * `dropDuplicates`: the classic operator only evicts dedup state when
    * the event-time column is part of the key, so keying by fingerprint
    * alone would grow state forever — the silent 100 TB/day killer. The
    * within-watermark form keeps one row per distinct fingerprint and
    * evicts it once the watermark passes; a fingerprint recurring past the
    * horizon re-emits (spec-pinned), which is why the standard ingest
    * topology pairs this with a periodic batch compaction (d1) for
    * cross-horizon dups. */
  def dedupByFingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.ops.Fingerprint.col(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming ingest dedup AGAINST THE HISTORICAL CORPUS — the third leg
    * of the ingest-dedup topology: [[dedupByFingerprint]] kills dups
    * WITHIN the stream's watermark horizon, batch d1 compacts the corpus
    * itself, and this stream-static ANTI-JOIN kills arrivals that
    * duplicate a document already IN the corpus. Spark re-plans the static
    * side per micro-batch, so a corpus compaction between batches is
    * picked up without restarting the query.
    *
    * Scale notes: stream-static joins are stateless on the stream side (no
    * state store, no watermark needed for the join itself); the static
    * side is the d1 fingerprint base — doc_id-free, one slim column, so at
    * 100 TB it is a parquet table the join reads per batch (broadcast if
    * it fits, shuffled hash otherwise). The fingerprint definition is the
    * SHARED ops/Fingerprint column, so stream and batch can never drift. */
  def dedupAgainstCorpus(docs: DataFrame, corpusFps: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.ops.Fingerprint.col(col("text")))
      .join(corpusFps.select(col("fp")), Seq("fp"), "left_anti")
      // fp is purely the join key here (unlike dedupByFingerprint, where
      // the fingerprint IS the dedup state): drop it so survivors keep the
      // input schema and the hash choice never leaks downstream
      .drop("fp")

  /** Streaming SUPPRESSION gate — the forget pass's streaming leg: once
    * content is deleted for compliance
    * ([[graft.pipeline.BatchPipeline.applyForget]]), re-arrivals of that
    * content must not be re-admitted. [[dedupAgainstCorpus]] does NOT
    * cover this case: after the corpus itself purges the requested docs
    * and its fingerprint base rebuilds, the forgotten fp is GONE from the
    * corpus probe table and a re-arrival would pass dedup as novel. The
    * suppression list is the durable record of forgotten CONTENT —
    * fingerprints, never the text itself (retaining deleted text to block
    * it would violate the deletion), and fps rather than ids so every
    * exact copy of the requested content dies too, the same by-content
    * semantic as the batch removal set
    * ([[graft.queries.ExportQueries.forgetRemovalSet]]).
    *
    * Same stateless stream-static anti-join shape as the corpus gate:
    * re-planned per micro-batch, so a new forget pass appending to the
    * list takes effect live ([[refreshStaticArtifacts]] for path-backed
    * deployments); one slim broadcast-or-hash probe at any scale. */
  def suppressAtIngest(docs: DataFrame, suppressedFps: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.ops.Fingerprint.col(col("text")))
      .join(suppressedFps.select(col("fp")), Seq("fp"), "left_anti")
      .drop("fp")

  /** Standalone-vector-stream suppression — the vector leg of
    * [[suppressAtIngest]]: in the COMPOSED topology embeddings arrive
    * with their documents and the text gate shields the index, but a
    * deployment ingesting a bare embedding stream (no text column to
    * fingerprint) could re-admit a forgotten vector after the index
    * purge rebuilds without it. The gate probes the bytes-identity
    * blocklist [[graft.queries.VectorQueries.purgeIndexRecording]] emits
    * (digests only — the deleted embedding itself is never retained):
    * an EXACT re-arrival of forgotten content is refused; a NEAR variant
    * is admitted BY DESIGN — blocking it would require keeping the
    * deleted embedding to compare against, the documented
    * deletion-compliance tension ([[graft.queries.VectorQueries
    * .purgeIndex]]).
    *
    * Same zero-state stream-static anti-join shape as the text leg:
    * re-planned per micro-batch so a new purge's blocklist append takes
    * effect live; one slim broadcast-or-hash probe at any scale. */
  def suppressVectorsAtIngest(vecs: DataFrame,
      suppressedVfps: DataFrame): DataFrame = {
    val (f64, f32) =
      graft.queries.VectorQueries.vectorFpCols(col("embedding"))
    vecs
      .withColumn("vfp64", f64).withColumn("vfp32", f32)
      .join(suppressedVfps.select(col("vfp64"), col("vfp32")),
        Seq("vfp64", "vfp32"), "left_anti")
      .drop("vfp64", "vfp32")
  }

  /** Streaming ingest sampling — the streaming face of TextQueries.t9:
    * the same deterministic md5-threshold mix + epoch explode, applied as
    * documents arrive. STATELESS by construction (a pure filter +
    * generate): unlike the dedup/window operators it needs no watermark
    * and no state store, so it runs at ingest line rate and the sampling
    * decision for any document is bit-identical to the batch pass —
    * re-running the batch mix over the ingested corpus reproduces the
    * stream's output exactly (spec-pinned, incl. zero state operators). */
  def sampleMixAtIngest(docs: DataFrame): DataFrame =
    docs
      .filter(graft.queries.TextQueries.mixHash <
        graft.queries.TextQueries.mixThreshold)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), graft.queries.TextQueries.mixEpochs))
          .as("epoch"))

  /** Streaming split assignment — the streaming face of the batch
    * x_train_val_split: every arriving document gets its train/val side
    * stamped from the SAME salted-hash column
    * ([[graft.queries.TextQueries.splitAssignCol]] — one definition, so
    * the assignment is bit-identical engine-wide). STATELESS: a pure
    * per-row expression. The batch op's `leak` tier has no streaming leg
    * BY CONSTRUCTION: an arrival that duplicates any corpus document —
    * val side included — already died at the exact/near-dup gates
    * upstream, so survivors cannot leak held-out content. */
  def assignSplitAtIngest(docs: DataFrame): DataFrame =
    docs.withColumn("split",
      graft.queries.TextQueries.splitAssignCol(col("doc_id")))

  /** Streaming ingest quality gate — the streaming face of
    * TextQueries.t16: the same Gopher rule conjunction applied as
    * documents arrive, BEFORE they cost dedup/index state downstream
    * (production pipelines gate at ingest precisely so junk never enters
    * the corpus store). STATELESS by construction — pure per-row
    * expressions, no watermark, no state store — so it runs at ingest
    * line rate, and the keep decision for any document is identical to
    * the batch pass because both build on the same shared signal
    * definitions ([[graft.queries.TextQueries.gopherKeepCol]] — the
    * mixHash/Fingerprint sharing discipline). Survivors keep the input
    * schema. */
  def filterQualityAtIngest(docs: DataFrame): DataFrame =
    docs.filter(graft.queries.TextQueries.gopherKeepCol(col("text")) === 1L)

  /** Streaming MODEL-quality scoring at ingest — t19's streaming twin and
    * [[filterQualityAtIngest]]'s upgrade: instead of the hard rule
    * verdict, every arriving doc gets the trained classifier's
    * keep-probability in micro-units (`score_micro` appended; downstream
    * thresholds or routes on it without re-scoring). The model trains
    * BATCH-side ([[graft.queries.MlQueries.fitted]] — production
    * retrains offline and redeploys); the stream applies it statelessly:
    * per-row tokenization (the exact gopherKeepCol split), the SAME
    * HashingTF the model was trained with (shared instance — a second
    * featurizer would silently misalign the coefficient space), and the
    * broadcast coefficient vector. No aggregation, no watermark, no
    * state store — line-rate like the other three gates, at any scale
    * where the model state (1024 doubles) broadcasts, i.e. always.
    * NULL text scores as an empty document (coalesce before tokenizing —
    * the encodeAtIngest contract: a scorer annotates, it never drops or
    * crashes on a row; toksCol(NULL) is NULL and HashingTF's transform
    * NPEs on a NULL token array, which would kill the whole query).
    * MlSpec pins exact per-doc score parity with the batch t19 query. */
  def scoreQualityAtIngest(docs: DataFrame,
      model: org.apache.spark.ml.classification.LogisticRegressionModel): DataFrame = {
    val withToks = docs.withColumn("toks",
      graft.queries.TextQueries.toksCol(coalesce(col("text"), lit(""))))
    model.transform(graft.queries.MlQueries.hashingTf.transform(withToks))
      .withColumn("score_micro",
        floor(org.apache.spark.ml.functions.vector_to_array(col("probability"))
          .getItem(1) * 1000000.0).cast("bigint"))
      .drop("toks", "features", "rawPrediction", "probability", "prediction")
  }

  /** Streaming BPE token pricing at ingest — batch t21's stateless twin,
    * completing the ingest family's cost leg: every arriving doc gets
    * its whitespace-word count, its piece count under the LEARNED merge
    * table, and the fertility in exact integer micro-units, appended to
    * the input schema. Merges train BATCH-side ([[graft.queries
    * .MlQueries.learnedMerges]] — production learns the vocabulary once
    * and ships it, like t19's fitted model); the stream applies them
    * per row: chars → the same greedy non-overlapping fold per rule in
    * rank order ([[graft.queries.MlQueries.mergeCol]] — the SHARED
    * column builder, so stream and batch cannot drift), summed across
    * the doc's words. Re-encoding per document is the right shape HERE
    * — arrivals are one doc each, not a corpus, so the distinct-word
    * vocabulary join batch t21 rides has nothing to amortize. No
    * aggregation, no watermark, no state store, no shuffle. Each rule
    * compiles to one nested array fold, so this representation is for
    * vocab-preview-sized merge tables (the fixture's k=16); a
    * production tokenizer's tens of thousands of merges need the apply
    * loop moved to data (mapPartitions over a broadcast rule array),
    * not an expression tree that deep. Wordless and NULL-text docs pass
    * with ZERO counts — an ingest pricer never drops rows (gating is
    * [[filterQualityAtIngest]]'s job), which is the one deliberate
    * divergence from batch t21, whose corpus query emits no row for a
    * doc with no tokens. BpeSpec pins exact per-doc parity with batch
    * t21 on worded docs and the zero-count contract on wordless ones. */
  def encodeAtIngest(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import graft.queries.MlQueries.{mergeCol, symsCol}
    // coalesce BEFORE tokenizing: toksCol(NULL) is NULL, and NULL would
    // propagate size/aggregate into NULL counts instead of zeros
    val words = graft.queries.TextQueries.toksCol(coalesce(col("text"), lit("")))
    def pieces(w: Column): Column =
      size(merges.foldLeft(symsCol(w)) {
        case (syms, (_, l, r, _)) => mergeCol(syms, l, r)
      }).cast("bigint")
    docs
      .withColumn("n_words", size(words).cast("bigint"))
      .withColumn("n_pieces",
        aggregate(transform(words, w => pieces(w)), lit(0L), (a, b) => a + b))
      .withColumn("fertility_micro",
        expr("CAST((n_pieces * 1000000) DIV greatest(n_words, 1) AS BIGINT)"))
  }

  /** Streaming DSIR importance scoring at ingest — batch t26's stateless
    * twin, completing the ingest family's data-SELECTION leg: every
    * arriving doc gets its token count and its exact-BIGINT importance
    * score (Σ per-token bucket weight) appended, so a router can
    * threshold or priority-queue arrivals by target-domain relevance
    * without a batch pass. Weights train BATCH-side
    * ([[graft.queries.TextQueries.dsirBucketWeights]] — the published
    * DSIR construction: tokens hash into a FIXED bucket space, so the
    * weight table is B longs regardless of corpus size; round 10's
    * exact-vocab map was corpus-sized plan state, the seam this
    * closes); the stream applies them per row as one array index per
    * token inside an `aggregate` fold — no aggregation operator, no
    * watermark, no state store, no shuffle. Novel tokens need no OOV
    * leg: they hash into buckets like any corpus token (an untouched
    * bucket carries the add-one weight N_c − N_t by construction).
    * NULL text scores as an empty doc — zero tokens, zero units —
    * never dropped (the encodeAtIngest contract: annotators annotate,
    * gates gate). EventStreamSpec pins exact per-doc parity with batch
    * t26 on corpus docs and the novel/NULL contracts against an
    * independent pure-JVM bucket computation. */
  def scoreImportanceAtIngest(docs: DataFrame,
      bucketWeights: Array[Long]): DataFrame = {
    require(bucketWeights.length == graft.queries.TextQueries.DsirBuckets,
      s"weight table must cover the fixed bucket space: " +
        s"${bucketWeights.length} != ${graft.queries.TextQueries.DsirBuckets}")
    val toks = graft.queries.TextQueries.toksCol(coalesce(col("text"), lit("")))
    val warr = typedLit(bucketWeights)
    docs
      .withColumn("n_tokens", size(toks).cast("bigint"))
      .withColumn("dsir_units",
        aggregate(toks, lit(0L), (acc, t) => acc + element_at(warr,
          (graft.queries.TextQueries.dsirBucketCol(t) + 1L).cast("int"))))
  }

  /** Streaming NEAR-dup ingest gate — the streaming face of the d2→d3
    * MinHash/LSH chain, completing the ingest-dedup topology's fourth
    * leg: [[dedupByFingerprint]] kills exact dups within the horizon,
    * [[dedupAgainstCorpus]] kills exact dups against the corpus, and this
    * kills arrivals that are NEAR-duplicates of corpus documents — any
    * doc sharing at least one LSH band key with the historical band
    * table is dropped before it costs downstream state.
    *
    * Band keys are computed PER ROW ([[graft.queries.TextQueries
    * .bandKeysCol]] — array_min over per-row shingle arrays, spec-pinned
    * to exact parity with the batch explode+groupBy chain), so the
    * stream side needs no aggregation, no watermark, no state store. The
    * "any band collides" disjunction runs as [[graft.queries.TextQueries
    * .Bands]] successive stream-static LEFT ANTI joins, one per band —
    * each is stateless, and a doc must survive all of them to pass.
    * Docs too short to shingle (< 3 tokens) carry no evidence of
    * duplication and pass (quality gating is [[filterQualityAtIngest]]'s
    * job, not this gate's).
    *
    * Scale notes: the static side is the batch chain's band table —
    * (band, bkey) is 4 rows x ~16 bytes per corpus doc, re-read per
    * micro-batch so a corpus re-band is picked up without restart;
    * per-band filters prune it to a quarter before each join. At 100 TB
    * the band table is a bucketed parquet table and each anti-join is a
    * broadcast or shuffled-hash probe — the stream side still never
    * shuffles or keeps state. */
  def nearDupGateAtIngest(docs: DataFrame, corpusBands: DataFrame): DataFrame = {
    val bands = graft.queries.TextQueries.Bands
    val withKeys = docs.withColumn("bk_arr",
      graft.queries.TextQueries.bandKeysCol(col("text")))
    (0 until bands).foldLeft(withKeys) { (df, b) =>
      // try_element_at on the empty (too-short) array yields null (the
      // plain form THROWS under ANSI), and a null key never matches an
      // anti-join's right side: the row passes
      df.withColumn("bk", try_element_at(col("bk_arr"), lit(b + 1)))
        .join(corpusBands.filter(col("band") === b).select(col("bkey").as("bk")),
          Seq("bk"), "left_anti")
        .drop("bk")
    }.drop("bk_arr")
  }

  /** Streaming SEMANTIC near-dup gate — the embedding-modality leg of the
    * ingest-dedup topology (v8's SemDeDup discipline at ingest): an
    * arriving vector dies when any corpus vector in its quantizer cell is
    * within the shared cosine bar. An arrival is by definition newer than
    * every corpus member, so "drop the arrival" is exactly v8's
    * drop-the-greater-id pair rule.
    *
    * The arrival's cell is computed PER ROW by [[graft.queries
    * .VectorQueries.withCellAssigned]] — the one k=1 nearest-centroid
    * rule ([[graft.queries.VectorQueries.nearestCell]]) every batch
    * assignment also runs, so stream and batch assign bit-identically; it
    * is one projection, streaming-legal — so the stream side needs no
    * window, no aggregation, no state store. The kill itself is ONE
    * stream-static LEFT ANTI join whose condition carries both the cell
    * equality and the rounded-cosine bar: stateless, and the static index
    * is re-read per micro-batch so a corpus compaction is picked up live.
    *
    * Scale notes: the static side is [[graft.queries.VectorQueries
    * .corpusCellIndex]] — at 100 TB a bucketed parquet table keyed by
    * cell, so the anti-join prunes to the arrival's cell before any
    * cosine is computed (~N/K candidates per arrival, SemDeDup's published
    * cost model); the quantizer stays bounded model state (<= 2^16 cells
    * by the ivfCellsFor cap), carried in the plan as one literal. */
  def semanticGateAtIngest(vecs: DataFrame, corpusIndex: DataFrame,
      centroids: Seq[(Long, Seq[Double])]): DataFrame =
    semanticGateAssigned(vecs, corpusIndex, centroids, "gate_cell", "gate_nrm")
      .drop("gate_cell", "gate_nrm")

  /** [[semanticGateAtIngest]]'s survivors with the cell and norm the gate
    * computed for each kept as `cellCol` and `nrmCol` (replacing any
    * column of that name): the batch compaction appends both, so no
    * survivor is assigned twice. */
  private[graft] def semanticGateAssigned(vecs: DataFrame, corpusIndex: DataFrame,
      centroids: Seq[(Long, Seq[Double])], cellCol: String = "cell",
      nrmCol: String = "nrm"): DataFrame = {
    import graft.queries.VectorQueries
    val withCell = VectorQueries
      .withCellAssigned(vecs, "embedding", cellCol, centroids)
      .withColumn(nrmCol, VectorQueries.norm(col("embedding")))
    withCell.join(
        corpusIndex.select(col("cell").as("c_cell"),
          col("embedding").as("c_emb"), col("nrm").as("c_nrm")),
        VectorQueries.semNear(col(cellCol), col("embedding"), col(nrmCol),
          col("c_cell"), col("c_emb"), col("c_nrm")),
        "left_anti")
  }

  /** Everything the composed ingest gate needs, assembled batch-side once
    * and redeployed on refresh: the corpus probe tables (exact fingerprint
    * + LSH band — both grown by [[graft.pipeline.CorpusCompaction]]) and
    * the three learned annotator states (classifier, BPE merge table,
    * DSIR bucket weights — each bounded model state). */
  case class IngestArtifacts(
      corpusFps: DataFrame,
      corpusBands: DataFrame,
      model: org.apache.spark.ml.classification.LogisticRegressionModel,
      merges: Seq[(Int, String, String, Long)],
      bucketWeights: Array[Long],
      // the forget pass's durable fingerprint blocklist ([[suppressAtIngest]]);
      // None = no deletions recorded yet, the gate is absent from the plan
      suppressedFps: Option[DataFrame] = None)

  /** Production refresh hook for the stream-static gate artifacts: a
    * PATH-backed static DataFrame caches its file listing at resolution
    * (InMemoryFileIndex), so a running stream-static join keeps probing
    * the old file set even after a compaction fold appends new artifact
    * files to the same directory. Calling this between micro-batches
    * invalidates the listing (`FileIndex.refresh`) on every file relation
    * under the given frames — the REFRESH TABLE analogue for
    * path-defined artifacts; the next micro-batch re-lists and the fold
    * is live without restarting the query. A table-format deployment
    * (catalog parquet + REFRESH TABLE, or Delta/Iceberg whose snapshots
    * refresh per scan) gets the same effect without the hook — this
    * exists so the plain-directory topology the specs and local runs use
    * has the same live-fold semantics. EventStreamSpec's soak pins it:
    * N micro-batches with interleaved [[graft.pipeline.CorpusCompaction]]
    * folds, each picked up by the next batch. */
  def refreshStaticArtifacts(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.refresh()
          case _ => ()
        }
      case _ => ()
    })

  /** The one-call ingest FRONT DOOR: the full stateless ingest topology
    * composed in its production order — gates first (cheapest kill
    * earliest), annotators after (never price a doc that dies):
    *
    *   quality rules → corpus exact dedup → [suppression list, when a
    *     forget pass has recorded one] → corpus near-dup bands
    *     → classifier score → BPE token pricing → DSIR importance
    *
    * Survivors carry the input schema plus the six annotation columns
    * (score_micro, n_words, n_pieces, fertility_micro, n_tokens,
    * dsir_units). Every stage is one of the individually spec-pinned
    * gates above, unchanged — this function adds ORDER, not semantics —
    * so the whole chain stays stateless: no watermark, no state store,
    * line-rate at any scale where the probe tables join and the model
    * state broadcasts. The within-horizon exact dedup
    * ([[dedupByFingerprint]]) is the one stateful leg and composes
    * upstream when arrivals carry an event-time column. */
  def ingestFrontDoor(docs: DataFrame, art: IngestArtifacts): DataFrame =
    annotate(gate(docs, art), art)

  /** The front doors' gate chain: quality → corpus exact dedup →
    * [suppression] → corpus near-dup bands. Survivors keep the input
    * schema. The suppression leg is absent (not a no-op join — absent
    * from the PLAN) until a forget pass records fingerprints. */
  private def gate(docs: DataFrame, art: IngestArtifacts): DataFrame = {
    val deduped = dedupAgainstCorpus(filterQualityAtIngest(docs), art.corpusFps)
    nearDupGateAtIngest(
      art.suppressedFps.fold(deduped)(suppressAtIngest(deduped, _)),
      art.corpusBands)
  }

  /** The front doors' annotator chain: classifier score → BPE token
    * pricing → DSIR importance. */
  private def annotate(docs: DataFrame, art: IngestArtifacts): DataFrame =
    scoreImportanceAtIngest(
      encodeAtIngest(
        scoreQualityAtIngest(docs, art.model), art.merges),
      art.bucketWeights)

  /** [[ingestFrontDoor]] with the per-domain budget gate in its
    * production position: gates → DOMAIN CAP → annotators. The ordering
    * is the whole point of the composition —
    *   - a doc that dies at quality or dedup must NOT consume its
    *     domain's budget (the cap meters ACCEPTED contribution, batch
    *     t29's cap-the-keeps semantics — a spam host cannot starve its
    *     own good documents by flooding junk);
    *   - a doc the cap kills is never priced by the annotators (the
    *     front door's never-price-a-dying-doc rule extended to the
    *     budget tier).
    * The arrival schema is pinned to (doc_id, source, text): the cap is
    * a typed transformWithState leg and its row type carries exactly
    * what the annotators consume. It is the topology's ONE stateful leg
    * — one TTL'd Long per source, first-arrived-first-kept within the
    * horizon ([[DomainCapProcessor]]'s documented online semantics) —
    * everything before and after stays stateless. Requires the RocksDB
    * state store provider (the transformWithState contract). */
  def ingestFrontDoorCapped(docs: DataFrame, art: IngestArtifacts,
      cap: Long,
      ttl: java.time.Duration = java.time.Duration.ofDays(7)): DataFrame = {
    import docs.sparkSession.implicits._
    val capped = gate(docs, art)
      .select(col("doc_id"), col("source"), col("text")).as[CapTextDoc]
      .groupByKey(_.source)
      .transformWithState(
        new DomainCapProcessor[CapTextDoc](cap, ttl, _.doc_id),
        TimeMode.ProcessingTime(), OutputMode.Append())
      .toDF()
    annotate(capped, art)
  }

  /** Streaming FRAME-level media dedup at ingest — the multimodal leg of
    * the ingest-dedup topology, composing directly with the `avi-frames`
    * streaming source: frames tail the landing zone through the
    * connector, each frame's content hash (the SAME md5-of-payload
    * definition as batch m3's frame table) probes the corpus frame table
    * in one stream-static LEFT ANTI join, and only frames the corpus has
    * never seen survive. A re-encoded or re-muxed duplicate video — the
    * case whole-FILE dedup provably misses (m3's planted re-mux mutants)
    * — contributes zero novel frames, because identity lives at the
    * frame-payload level the connector already exposes.
    *
    * Stateless: per-row hash, one anti-join, no watermark, no state
    * store. At 100 TB the corpus frame table is the m3 base — bucketed
    * parquet keyed by frame_md5, re-read per micro-batch so a media
    * compaction is picked up live (the dedupAgainstCorpus discipline). */
  def frameDedupAtIngest(frames: DataFrame,
      corpusFrameMd5: DataFrame): DataFrame =
    frames
      .withColumn("gate_fmd5", md5(col("frame_bytes")))
      .join(corpusFrameMd5.select(col("frame_md5").as("gate_fmd5")),
        Seq("gate_fmd5"), "left_anti")
      .drop("gate_fmd5")

  // ---- streaming per-domain budget gate ----

  case class CapDoc(doc_id: Long, source: String)
  case class CapLedger(n: Long)

  /** Bounded selection of the `room` smallest ids in one stream pass —
    * a max-heap capped at `room` entries: O(n log room) time,
    * O(min(room, batch)) memory — instead of materializing and sorting
    * the whole group (a near-budget hot source could deliver millions of
    * rows in one micro-batch; buffering them is the exact skew mode the
    * cap exists to absorb). The INITIAL capacity is deliberately small
    * (r12 advice): PriorityQueue eagerly allocates its backing array, so
    * seeding it with `room` would allocate a cap-sized array per source
    * per micro-batch even for a handful of rows — and a practically-
    * unlimited cap (>= 2^31) would OOM outright. The queue grows on
    * demand and never exceeds room+1 live entries. Returned ascending. */
  private def smallestBy[T](it: Iterator[T], room: Int, id: T => Long)(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val heap = new java.util.PriorityQueue[T](
      math.min(room, 1024), Ordering.by[T, Long](t => -id(t)))
    it.foreach { d =>
      if (heap.size < room) heap.add(d)
      else if (id(d) < id(heap.peek())) { heap.poll(); heap.add(d) }
    }
    val take = new Array[T](heap.size)
    var i = take.length - 1
    while (i >= 0) { take(i) = heap.poll(); i -= 1 } // ascending
    take
  }

  /** One budget decision against a TTL'd ledger — the shared body of both
    * uses of [[DomainCapProcessor]], so the row type the cap carries
    * (bare [[CapDoc]], or [[CapTextDoc]] inside the composed front door)
    * cannot change its selection or update semantics. NOTE the ledger is
    * updated only when something is taken: an exhausted-but-hot source
    * does not refresh its TTL, which is exactly the aging contract — the
    * horizon runs from the last ACCEPTED contribution. */
  private def capTake[T](cap: Long, state: ValueState[CapLedger],
      it: Iterator[T], id: T => Long)(
      implicit ct: scala.reflect.ClassTag[T]): Iterator[T] = {
    val have = if (state.exists()) state.get().n else 0L
    val room = math.min((cap - have).max(0L), Int.MaxValue.toLong).toInt
    if (room == 0) {
      // exhausted budget on a still-hot source is the gate's steady
      // state: drain without materializing or sorting
      it.foreach(_ => ()); Iterator.empty
    } else {
      val take = smallestBy(it, room, id)
      state.update(CapLedger(have + take.length))
      take.iterator
    }
  }

  /** Streaming per-domain BUDGET gate — the online face of batch t29's
    * anti-domain-dominance cap: once a source has contributed `cap`
    * documents, further arrivals from it die at ingest. Unlike the six
    * stateless gates this one is inherently STATEFUL (a budget is a
    * running count), so it rides transformWithState keyed by source —
    * one Long per domain ever seen, the smallest possible state (a 100 TB
    * crawl has millions of hosts; millions of Longs is nothing).
    *
    * Semantics are FIRST-ARRIVED-FIRST-KEPT (within a micro-batch, id
    * order for determinism) — the only semantics an online budget can
    * have. Batch t29 ranks by hash priority instead: the OFFLINE form,
    * where the whole corpus is visible and an unbiased sample is
    * preferred over arrival order. The documented divergence is the same
    * trade the funnel makes: emitting at ingest costs event-order
    * dependence; a pipeline wanting t29's unbiased cap re-ranks offline
    * at compaction time. EventStreamSpec pins the in-order-feed parity:
    * streaming keeps exactly batch row_number-by-doc_id <= cap.
    *
    * The ledger is a ValueState with a processing-time TTL (r12 verdict
    * task 4 — the latestStatusTws precedent,
    * [[graft.streaming.JobStream.LatestStatusProcessor]]), so a source
    * idle past `ttl` frees its one Long instead of pinning the state
    * store forever. Expiry RESETS the budget: a crawl host silent for a
    * week is a new host as far as dominance control cares (the
    * within-horizon watermark-eviction trade [[dedupByFingerprint]]
    * documents — aging bounds state, and the periodic batch re-rank at
    * compaction time owns cross-horizon fairness). Requires the RocksDB
    * state store provider (the transformWithState contract). */
  class DomainCapProcessor[T](cap: Long, ttl: java.time.Duration,
      id: T => Long)(implicit ct: scala.reflect.ClassTag[T])
      extends StatefulProcessor[String, T, T] {
    @transient private var state: ValueState[CapLedger] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CapLedger]("budget",
        org.apache.spark.sql.Encoders.product[CapLedger], TTLConfig(ttl))
    override def handleInputRows(src: String, it: Iterator[T],
        timers: TimerValues): Iterator[T] =
      capTake(cap, state, it, id)
  }

  /** A capped document WITH its payload — what the budget gate carries
    * when it sits inside the composed front door ([[ingestFrontDoorCapped]]):
    * the annotators downstream need the text, and survivors of a
    * transformWithState leg are exactly its output rows, so the row type
    * must carry every column the rest of the topology consumes. The
    * processor itself is the ONE generic [[DomainCapProcessor]] — ledger
    * wiring and [[capTake]] decision are shared by type parameter, so the
    * bare gate and the composed front door cannot drift. */
  case class CapTextDoc(doc_id: Long, source: String, text: String)

  /** The bare budget gate over (doc_id, source): [[DomainCapProcessor]]
    * keyed by source, first-arrived-first-kept with doc_id breaking ties
    * inside a micro-batch. */
  def domainCapAtIngestTws(docs: Dataset[CapDoc], cap: Long,
      ttl: java.time.Duration = java.time.Duration.ofDays(7)): Dataset[CapDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(
        new DomainCapProcessor[CapDoc](cap, ttl, _.doc_id),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  // ---- streaming conversion funnel ----

  case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long,
      event_id: Long)
  case class FunnelState(tView: Option[Long], tClick: Option[Long],
      tPurchase: Option[Long])
  case class FunnelRow(user_id: Long, t_view: Option[Long],
      t_click: Option[Long], t_purchase: Option[Long], depth: Int)

  /** One event through the strict-window funnel rules — the SAME
    * semantics as batch e14 (EventQueries.e14FunnelSteps, whose window
    * constants this shares): a step timestamp is set once, by the first
    * qualifying event in fold order, and a step qualifies only strictly
    * after the previous step and within its window. Because each field
    * is first-writer-wins, folding a user's events in (ts_us, event_id)
    * order reproduces the batch min-aggregates exactly. */
  private[graft] def funnelStep(s: FunnelState, e: FunnelEvent): FunnelState = {
    import graft.queries.EventQueries.{FunnelClickWindowUs, FunnelPurchaseWindowUs}
    e.event_type match {
      case "view" if s.tView.isEmpty => s.copy(tView = Some(e.ts_us))
      case "click" if s.tClick.isEmpty =>
        s.tView match {
          case Some(v) if e.ts_us > v && e.ts_us <= v + FunnelClickWindowUs =>
            s.copy(tClick = Some(e.ts_us))
          case _ => s
        }
      case "purchase" if s.tPurchase.isEmpty =>
        s.tClick match {
          case Some(c) if e.ts_us > c && e.ts_us <= c + FunnelPurchaseWindowUs =>
            s.copy(tPurchase = Some(e.ts_us))
          case _ => s
        }
      case _ => s
    }
  }

  /** Streaming conversion funnel — batch e14's stateful twin: a per-user
    * state machine over the event stream, emitting the user's current
    * funnel row (step timestamps + reached depth) every time the user
    * appears in a micro-batch. Within a batch a user's events fold in
    * (ts_us, event_id) order; across in-order batches the fold continues
    * from state, so an in-order feed reproduces batch e14 EXACTLY
    * (EventStreamSpec pins parity on the real fixture). Events arriving
    * out of order across batches resolve first-writer-wins — the
    * documented divergence, the price of emitting at ingest instead of
    * after a sort; production buys back event-time ordering with a
    * watermark-delayed emit if it needs it.
    *
    * Scale notes: state is three Option[Long] per user ever seen —
    * production caps the key space with a processing-time TTL via
    * transformWithState (the latestStatusTws precedent); a funnel whose
    * campaign window is a day needs no state older than that. Depth-0
    * rows (no view yet) still emit — an ingest annotator never drops
    * rows; downstream routes on depth. */
  def funnelAtIngest(events: Dataset[FunnelEvent]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelRow](GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[FunnelState]) =>
          val s0 = state.getOption.getOrElse(FunnelState(None, None, None))
          val s = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
            .foldLeft(s0)(funnelStep)
          state.update(s)
          FunnelRow(uid, s.tView, s.tClick, s.tPurchase,
            s.tView.size + s.tClick.size + s.tPurchase.size)
      }
  }

  /** Session windows keyed by user with a 30-min inactivity gap — the
    * native streaming form of EventQueries.e2Sessionize. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(18,2)").as("sum_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("sum_value"))
}
