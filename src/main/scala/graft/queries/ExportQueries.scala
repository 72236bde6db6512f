package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] driver-facing surface for the training-shard export sink: runs
  * the full prepare-and-export pass (pipeline.BatchPipeline
  * .exportCleanCorpus → sinks.ShardWriter) END TO END — write included —
  * and emits a per-language audit summary from the shard manifest, so the
  * driver's correctness run exercises the sink, not just its spec.
  *
  * Rows-only by construction: the manifest depends on the writer's file
  * layout (file names, shard splits), which DuckDB cannot oracle.
  * Correctness is covered in three layers instead: t12's DuckDB oracle
  * pins the exported CONTENT, ShardWriterSpec pins layout/cap/rerun
  * determinism, and this query carries row CONSERVATION in its own output
  * — `rows_conserved` compares the manifest's written rows per language
  * against the per-language count of the write-input frame (counted once
  * off the same materialization the writer consumed — the check targets
  * the WRITER, so a lost or double-written shard flips a visible column,
  * not a hidden invariant, without paying a second clean-corpus chain).
  *
  * Scale shape: the export is ShardWriter's one routing-keyed shuffle; the
  * audit is one groupBy over the (files × languages)-sized manifest plus a
  * doc_id-keyed join that rides the text pipeline's checkpointed bases —
  * nothing here grows faster than the manifest itself at 100 TB. */
object ExportQueries {

  /** Export target, keyed by input dir: the sf0.01 verify pass and the
    * sf0.1 bench must not clobber each other's shards mid-session. */
  private def outDirFor(dir: String): String =
    java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "target", "graft-export",
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString)
      .toString

  def xExportManifest(spark: SparkSession, dir: String): DataFrame = {
    val audit = graft.pipeline.BatchPipeline
      .exportCleanCorpusAudited(spark, dir, outDirFor(dir))
    val manifest = audit.manifest
    val expected = audit.expected
    manifest.groupBy(col("lang"))
      .agg(countDistinct(col("file")).as("n_shards"),
        sum(col("n_rows")).as("written_rows"))
      .join(expected, "lang")
      .select(col("lang"), col("n_shards"), col("written_rows"),
        (col("written_rows") === col("expected_rows")).cast("bigint")
          .as("rows_conserved"))
      .orderBy("lang")
  }

  /** x_export_counts — the SQL-expressible tier of the export audit
    * (round-12 verdict task 3): the per-language survivor counts the shard
    * writer must conserve, computed from the same t12 clean-corpus
    * composition the export consumes (survivor set ⨝ corpus lang, grouped).
    * DuckDB recomputes the whole t12 CTE stack independently
    * ([[TextQueries.t12OracleCtes]] — one definition, two final SELECTs),
    * so the export path's arithmetic is cross-engine hash-pinned;
    * [[xExportManifest]]'s file-layout tier is oracle-bound too since
    * r18 via the ceil(rows/cap) contract (see oracleSql). */
  def xExportCounts(spark: SparkSession, dir: String): DataFrame =
    TextQueries.t12CleanUnordered(spark, dir)
      .join(TextQueries.corpus(spark, dir).select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("expected_rows"))
      .orderBy("lang")

  /** [[xFrontDoor]]'s novelty fixture: one arrival that passes every gate
    * (40 words, stopword-rich, alpha-clean, no corpus 3-shingle overlap)
    * and one that dies at the quality rules. ONE constant, rendered into
    * the Spark frame and the oracle VALUES. */
  private val FrontDoorNovels: Seq[(Long, String)] = Seq(
    (9100001L, "the aardvark and the binturong wander of the steppe to find " +
      "a quiet burrow in the long grass and the caracal is watching on the " +
      "ridge while the dhole and the echidna rest in the shade of the old tree"),
    (9100002L, "!!! ??? $$$ %%% @@@ ###"),
    (9100003L, "a fennec is resting in the dune and the jerboa is digging " +
      "to the root of the saxaul while a lanner is circling on the wind and " +
      "the sand is warm in the sun of the late day so the small fox sleeps"),
    (9100004L, "the orca and the narwhal swim to the edge of the floe and " +
      "a petrel is gliding on the cold air while the krill drift in the deep " +
      "current and the seal waits on the ice for the long night to end"))

  /** The deterministic arrival batch + assembled artifacts shared by
    * [[xFrontDoor]] and [[xFrontDoorAudit]] — one definition, so the
    * audit counts and the survivor rows can never describe different
    * inputs. */
  private def frontDoorInputs(spark: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame,
         graft.streaming.EventStream.IngestArtifacts) = {
    import spark.implicits._
    val d = graft.plans.Tables.table(spark, dir, "documents")
      .select("doc_id", "text")
    val arrivals = d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
      .unionByName(FrontDoorNovels.toDF("doc_id", "text"))
    val art = graft.streaming.EventStream.IngestArtifacts(
      corpusFps = TextQueries.cachedFps(spark, dir),
      corpusBands = TextQueries.corpusBandTable(spark, dir),
      model = MlQueries.fitted(spark, dir),
      merges = MlQueries.learnedMerges(spark, dir),
      bucketWeights = TextQueries.dsirBucketWeights(spark, dir))
    (arrivals, art)
  }

  /** x_front_door — the composed ingest front door as a driver-checked
    * BATCH query (round-12 verdict task 4): a deterministic arrival batch
    * (corpus re-arrivals at %11 → die at corpus exact dedup,
    * drop-first-word near-dups at %13 → die at the LSH band gate, plus
    * [[FrontDoorNovels]]) runs through THE actual streaming composition —
    * [[graft.streaming.EventStream.ingestFrontDoor]], the same function
    * the stream deploys, applied to a batch frame (every stage is a plain
    * DataFrame op, so batch/stream parity is by construction, and
    * EventStreamSpec separately pins the streaming deployment). Survivors
    * carry all six annotations.
    *
    * Oracle discipline per annotation tier: the three GATES (Gopher
    * quality, corpus-fp anti-join, corpus-band anti-join) and the DSIR
    * leg are recomputed fully independently by DuckDB (shared fragment
    * definitions: gopherSignalsSqlFor, bandChainCtes, dsirCorpusCtes);
    * the BPE piece counts ride t21's fixed-vocab discipline over the
    * ARRIVAL vocabulary (exported word→pieces table built by the shared
    * mergeCol fold, per-doc aggregation recomputed in SQL); the
    * classifier score rides t20's round-trip discipline (L-BFGS
    * coefficients are not cross-engine reproducible — the score VALUE
    * round-trips through parquet while WHICH docs carry it is
    * independently recomputed). */
  def xFrontDoor(spark: SparkSession, dir: String): DataFrame = {
    val (arrivals, art) = frontDoorInputs(spark, dir)
    val model = art.model
    val merges = art.merges
    graft.plans.VerifyExports.maybeExport(dir, "x_front_door_vocab") {
      import MlQueries.{mergeCol, symsCol}
      arrivals
        .select(explode(TextQueries.toksCol(coalesce(col("text"), lit(""))))
          .as("word"))
        .distinct()
        .select(col("word"), size(merges.foldLeft(symsCol(col("word"))) {
          case (s, (_, l, r, _)) => mergeCol(s, l, r)
        }).cast("bigint").as("word_pieces"))
    }
    graft.plans.VerifyExports.maybeExport(dir, "x_front_door_scores") {
      graft.streaming.EventStream.scoreQualityAtIngest(arrivals, model)
        .select(col("doc_id"), col("score_micro"))
    }
    graft.streaming.EventStream.ingestFrontDoor(arrivals, art)
      .select("doc_id", "score_micro", "n_words", "n_pieces",
        "fertility_micro", "n_tokens", "dsir_units")
      .orderBy("doc_id")
  }

  /** x_front_door_audit — the front door's per-tier kill accounting (the
    * x_compact_audit discipline applied to the flagship pipeline): one
    * row of counts — arrivals, killed at the quality rules, killed at
    * corpus exact dedup, killed at the near-dup bands, survivors — with
    * the conservation identity n_arrivals = kills + survivors checkable
    * from the row alone.
    *
    * SINGLE PASS (r12 verdict task 1 — the first cut ran four `.count()`
    * actions over progressively longer prefixes of the same chain,
    * re-deriving the arrival union and every upstream gate per tier):
    * each arrival is annotated with its kill tier in ONE scan — the
    * quality verdict is the gate's own per-row column, the exact tier is
    * the fp probe turned from LEFT ANTI into a hit-marking LEFT OUTER,
    * the band tier is the per-band anti-join cascade turned into four
    * hit-marking LEFT OUTERs (distinct-keyed, so annotation cannot
    * duplicate rows) — and the five counts fall out of one conditional
    * aggregate. The `when` cascade encodes the gate ORDER (a doc failing
    * quality AND matching a fingerprint counts in the quality tier,
    * exactly as the composed chain kills it). Probe semantics match the
    * gates bit-for-bit: same Fingerprint column, same bandKeysCol with
    * try_element_at (a too-short doc's null key misses every probe and
    * survives the band tier, as it passes the anti-join gate).
    *
    * Scale shape: one scan of the arrival batch, one broadcast-or-hash
    * probe per tier against the same corpus tables the gates probe, one
    * partial-aggregated count row — arrival-proportional, no tier
    * recompute, no driver-side counts. */
  def xFrontDoorAudit(spark: SparkSession, dir: String): DataFrame = {
    val (arrivals, art) = frontDoorInputs(spark, dir)
    val nBands = TextQueries.Bands
    val fpProbe = art.corpusFps.select(col("fp")).distinct()
      .withColumn("fp_hit", lit(1))
    val annotated0 = arrivals
      .withColumn("q_ok",
        TextQueries.gopherKeepCol(col("text")) === 1L)
      .withColumn("fp", graft.ops.Fingerprint.col(col("text")))
      .join(fpProbe, Seq("fp"), "left")
      .withColumn("bk_arr", TextQueries.bandKeysCol(col("text")))
    val annotated = (0 until nBands).foldLeft(annotated0) { (df, b) =>
      df.join(
        art.corpusBands.filter(col("band") === b)
          .select(col("bkey").as(s"bk$b")).distinct()
          .withColumn(s"bh$b", lit(1)),
        try_element_at(col("bk_arr"), lit(b + 1)) === col(s"bk$b"), "left")
        .drop(s"bk$b")
    }
    val anyBandHit = (0 until nBands)
      .map(b => col(s"bh$b").isNotNull).reduce(_ || _)
    val tier = when(!coalesce(col("q_ok"), lit(false)), "quality")
      .when(col("fp_hit").isNotNull, "exact")
      .when(anyBandHit, "near")
      .otherwise("survivor")
    annotated.select(tier.as("tier"))
      .agg(
        count(lit(1)).as("n_arrivals"),
        count(when(col("tier") === "quality", 1)).as("n_quality"),
        count(when(col("tier") === "exact", 1)).as("n_corpus_exact"),
        count(when(col("tier") === "near", 1)).as("n_corpus_near"),
        count(when(col("tier") === "survivor", 1)).as("n_survivors"))
  }

  /** The intra-batch novelty fixture of [[xCompactAudit]]: an exact pair
    * and a near pair (drop-first-word) unlike anything in the corpus —
    * the two tiers corpus-derived arrivals cannot exercise (anything
    * sharing corpus shingles dies at the corpus tiers first). ONE
    * constant, rendered into the Spark frame and the oracle VALUES. */
  private val CompactNovels: Seq[(Long, String)] = Seq(
    (9000001L, "zyx wvu tsr qpo nml kji hgf edc zyx wvu tsr qpo nml"),
    (9000002L, "wvu tsr qpo nml kji hgf edc zyx wvu tsr qpo nml"),
    (9000003L, "aardvark binturong caracal dhole echidna fossa gerenuk ibex jerboa"),
    (9000004L, "aardvark binturong caracal dhole echidna fossa gerenuk ibex jerboa"))

  /** x_compact — the incremental-compaction pipeline as a driver-checked
    * query: a deterministic arrival batch (corpus re-arrivals at %11,
    * drop-first-word near-dups at %13, plus [[CompactNovels]]) runs
    * through [[graft.pipeline.CorpusCompaction.compact]] itself, against
    * the checkpointed d1 fingerprint base and the corpus band table, and
    * the result is its ONE-ROW AUDIT. Every tier is md5/band arithmetic
    * DuckDB can recompute from the raw parquet (the arrival band chain
    * rides [[TextQueries.bandChainCtes]]), so unlike the export manifest
    * this pipeline surface is fully hash-checked, and the oracle checks
    * the fold production runs — CompactionSpec pins tier semantics, the
    * oracle pins the numbers. */
  def xCompactAudit(spark: SparkSession, dir: String): DataFrame = {
    val (arrivals, d, fps, bands) = xCompactInputs(spark, dir)
    val compacted = graft.pipeline.CorpusCompaction.compact(arrivals, d, fps, bands)
    compacted.release() // the audit is local rows; no delta is read
    compacted.audit
  }

  /** [[xCompactAudit]]'s arrival batch and the corpus, fp table and band
    * table it is compacted against. */
  private[graft] def xCompactInputs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val d = graft.plans.Tables.table(spark, dir, "documents")
      .select("doc_id", "text", "lang")
    val novels = CompactNovels.map { case (i, t) => (i, t, "en") }
      .toDF("doc_id", "text", "lang")
    val arrivals = d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"), col("lang"))
      .unionByName(d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"), col("lang")))
      .unionByName(novels)
    (arrivals, d, TextQueries.cachedFps(spark, dir), TextQueries.corpusBandTable(spark, dir))
  }

  /** Seed + shard count for the export shuffle under the FIXTURE policy
    * ([[graft.model.ExportPolicy.Default]]) — inlined into BOTH the Spark
    * plan and the oracle SQL (the mixHash discipline), so the permutation
    * is reproducible run-to-run and engine-to-engine. Deployments
    * retarget layout through an [[graft.model.ExportPolicy]] argument;
    * every oracled query renders under the default, so the oracle SQL
    * below is generated from these same values. */
  private val ShardSeed = graft.model.ExportPolicy.Default.shardSeed
  private val NShards = graft.model.ExportPolicy.Default.nShards

  /** The seeded shard-assignment arithmetic — factored so a delta row
    * ([[xExportDelta]]) names the SAME shard the full shuffle layout
    * ([[xShuffleShards]]) places the doc in, under WHATEVER policy the
    * caller threads. */
  private def shardKeyCol(docId: org.apache.spark.sql.Column,
      p: graft.model.ExportPolicy) =
    md5(concat(lit(p.shardSeed), docId.cast("string")))
  private def shardOfKeyCol(skey: org.apache.spark.sql.Column,
      p: graft.model.ExportPolicy) =
    conv(substring(skey, 1, 8), 16, 10).cast("bigint") % p.nShards

  /** Attach the seeded layout columns (`skey`, `shard`) to any
    * doc_id-keyed frame — the ONE rendering of the shuffle layout shared
    * by [[xShuffleShards]] (the layout report), the materialized shuffled
    * export, and the delta apply, so a delta row's shard tag can never
    * disagree with where the writer put the doc. */
  private[graft] def sharded(df: DataFrame,
      p: graft.model.ExportPolicy = graft.model.ExportPolicy.Default): DataFrame =
    df.withColumn("skey", shardKeyCol(col("doc_id"), p))
      .withColumn("shard", shardOfKeyCol(col("skey"), p))

  /** The v1 export content (doc_id + redacted training text) — t12's
    * certification, straight off the clean-corpus snapshot. */
  private[graft] def v1CleanForExport(spark: SparkSession, dir: String): DataFrame =
    TextQueries.t12CleanUnordered(spark, dir).select("doc_id", "redacted")

  /** Eligibility ⨝ BOTH policy scores off one signal scan — the single
    * frame the delta query and the apply path both fan out from, so the
    * two can never disagree on a doc's scores. */
  private[graft] def scoredEligible(spark: SparkSession, dir: String,
      p: graft.model.ExportPolicy = graft.model.ExportPolicy.Default): DataFrame =
    TextQueries.certEligible(spark, dir)
      .join(TextQueries.qualitySignals(spark, dir)
        .select(col("doc_id"),
          TextQueries.qualityMicroCol(0.5, 0.3, 0.2).as("q1"),
          TextQueries.qualityMicroCol(p.v2WStop, p.v2WPunct, p.v2WLen).as("q2")),
        "doc_id")

  /** The boundary action over [[scoredEligible]]'s (q1, q2) — ONE
    * definition shared by the oracled [[xExportDelta]] and the apply
    * path in [[graft.pipeline.BatchPipeline.applyExportDelta]]. */
  private[graft] def deltaActionCol(
      p: graft.model.ExportPolicy = graft.model.ExportPolicy.Default)
      : org.apache.spark.sql.Column =
    when(col("q2") >= p.qualityV2FloorMicro &&
        col("q1") < TextQueries.CleanQualityFloor, "add")
      .when(col("q1") >= TextQueries.CleanQualityFloor &&
        col("q2") < p.qualityV2FloorMicro, "tombstone")

  /** The v2 export content: the SAME eligibility set certified by the
    * reweighted score, carrying the same redacted projection — what a
    * from-scratch v2 export would ship, and what [[xExportDelta]]'s adds
    * and tombstones move the v1 export TO. */
  private[graft] def v2CleanForExport(spark: SparkSession, dir: String,
      p: graft.model.ExportPolicy = graft.model.ExportPolicy.Default): DataFrame =
    scoredEligible(spark, dir, p)
      .filter(col("q2") >= p.qualityV2FloorMicro)
      .join(TextQueries.t5RedactPii(spark, dir).select("doc_id", "redacted"), "doc_id")
      .select("doc_id", "redacted")

  /** x_shuffle_shards — the deterministic SHUFFLE-to-shards pass between
    * the clean corpus and the trainer: training order must be a seeded
    * pseudo-random permutation (a source-ordered export bakes curriculum
    * bias into every epoch, and `rand()` could never hash-match an oracle
    * or a resumed job), so each clean document gets a salted md5 sort key,
    * its shard is a slice of that key mod [[NShards]], and its position is
    * the key's rank within the shard. Rides the same t12 composition the
    * export writes, so the layout describes exactly the shipped corpus.
    *
    * Plan shape at 100 TB: ONE hash-partitioned exchange on `shard` plus
    * an in-partition sort — exactly the physical motion writing shuffled
    * shards requires, nothing corpus-squared; the window is per-shard, so
    * parallelism is the shard count you asked for. */
  def xShuffleShards(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = sharded(
      TextQueries.t12CleanUnordered(spark, dir).select(col("doc_id")))
    keyed
      .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id")))
        .cast("bigint"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Seed + holdout percentage for the split — same inlining discipline;
    * the column itself lives in TextQueries so the streaming annotator
    * shares it verbatim. */
  private def SplitSeed = TextQueries.SplitSeed
  private def ValPct = TextQueries.SplitValPct

  /** x_train_val_split — LEAKAGE-SAFE deterministic holdout: every corpus
    * document is assigned train/val by a salted md5 hash (reproducible —
    * the same doc lands on the same side in every run and engine), and
    * then any TRAIN document that shares content with a VAL document is
    * evicted as `leak`: exact (same normalized fingerprint) or near (an
    * LSH-verified Jaccard≥0.5 pair, either direction). A random split
    * without the eviction puts near-copies of held-out documents in the
    * training set, and the eval is contaminated before training starts —
    * this is the train/test-decontamination pass every serious
    * pretraining eval pipeline runs, expressed over the engine's own dup
    * machinery (one fp table + the verified pair set; no new pairwise
    * work anywhere).
    *
    * Plan shape at 100 TB: the assignment is a stateless per-row hash;
    * exact leakage is one fp-keyed join against the val side's
    * fingerprints; near leakage re-uses [[TextQueries.verifiedPairs]] —
    * LSH-candidates-bounded, already checkpointed. Nothing beyond the
    * dup pipeline's own cost. */
  def xTrainValSplit(spark: SparkSession, dir: String): DataFrame = {
    val assign = TextQueries.corpus(spark, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("split0", TextQueries.splitAssignCol(col("doc_id")))
    val fps = TextQueries.cachedFps(spark, dir)
    val valIds = assign.filter(col("split0") === "val").select(col("doc_id"))
    val valFps = fps.join(valIds, "doc_id").select("fp").distinct()
    // includes the val docs themselves (they share their own fp) — the
    // final CASE resolves split0='val' first, so only train docs flip
    val leakExact = fps.join(valFps, "fp").select("doc_id")
    val pairs = TextQueries.verifiedPairs(spark, dir)
    val leakNear = pairs.select(col("doc_a").as("t"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("t"), col("doc_a").as("v")))
      .join(valIds.withColumnRenamed("doc_id", "v"), "v")
      .select(col("t").as("doc_id"))
    val leaks = leakExact.unionByName(leakNear).distinct()
      .withColumn("leak", lit(1L))
    assign.join(leaks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("split0") === "val", lit("val"))
          .when(col("leak").isNotNull, lit("leak"))
          .otherwise(lit("train")).as("split"))
      .orderBy("doc_id")
  }

  /** The v2 export policy: the SAME three quality signals reweighted
    * (length saturation up, stopword ratio down — a filter-v2 rollout
    * recalibration) with a floor raised to match the shifted score
    * distribution. Inlined into BOTH the Spark plan and the oracle. */
  // fixture-policy aliases, kept so the oracle SQL interpolates the SAME
  // values the default-policy Spark plans render under
  private val V2WStop = graft.model.ExportPolicy.Default.v2WStop
  private val V2WPunct = graft.model.ExportPolicy.Default.v2WPunct
  private val V2WLen = graft.model.ExportPolicy.Default.v2WLen
  private[graft] val QualityV2Floor =
    graft.model.ExportPolicy.Default.qualityV2FloorMicro

  /** x_export_delta — the INCREMENTAL export: when the certification
    * policy moves (here a quality reweighting, v1 = 0.5/0.3/0.2 floor
    * 450000 → v2 = 0.3/0.3/0.4 floor 550000), a 100 TB
    * pipeline never re-ships the corpus — it ships the CHANGE SET:
    * `add` rows (newly certified under v2) and `tombstone` rows (losing
    * certification), each tagged with the shard the shuffle layout
    * places that doc in, so the writer knows exactly which shard files
    * change and every other shard is untouched.
    *
    * ONE PASS (the x_front_door_audit discipline): both scores come off
    * the same signal scan ([[TextQueries.qualitySignals]] — one
    * definition, two [[TextQueries.qualityMicroCol]] weightings), joined
    * once against the shared eligibility set
    * ([[TextQueries.certEligible]] — dedup keep set minus
    * decontamination, the composition both policies filter); the action
    * is a two-sided `when` over the two floors. No v1-set/v2-set
    * materialization, no anti-joins: the delta falls out of the
    * boundary comparison row by row. BatchPipelineSpec cross-checks this
    * one-pass form against the literal two-set difference.
    *
    * Scale shape: eligibility is the pipeline's own checkpointed dedup
    * output, the signal scan is one pass over the corpus, the join is
    * doc_id-keyed, and the shard tag is stateless hash arithmetic — the
    * whole delta is corpus-linear with NO new shuffle classes, and the
    * downstream write is delta-proportional instead of corpus-
    * proportional. */
  def xExportDelta(spark: SparkSession, dir: String): DataFrame =
    scoredEligible(spark, dir)
      .select(col("doc_id"), deltaActionCol().as("action"),
        shardOfKeyCol(shardKeyCol(col("doc_id"),
            graft.model.ExportPolicy.Default),
          graft.model.ExportPolicy.Default).as("shard"))
      .filter(col("action").isNotNull)
      .orderBy("doc_id")

  /** The deletion-request fixture: corpus docs with doc_id ≡ 3 (mod 17) —
    * a pure function of the driver tables (the derived-arrivals
    * discipline), so DuckDB rebuilds the identical request set. */
  private[graft] val ForgetMod = 17L
  private[graft] val ForgetRem = 3L

  private[graft] def forgetRequests(spark: SparkSession, dir: String): DataFrame =
    TextQueries.corpus(spark, dir)
      .filter(col("doc_id") % ForgetMod === ForgetRem).select("doc_id")

  /** The forget pass's durable suppression list: the DISTINCT
    * fingerprints of requested content — the artifact
    * [[graft.streaming.EventStream.suppressAtIngest]] probes so forgotten
    * content cannot re-enter through the front door after the corpus
    * purge rebuilds the dedup bases without it. Fingerprints only, never
    * the text (retaining deleted text to block it would violate the
    * deletion).
    *
    * GROWTH DISCIPLINE (r13 verdict stretch 8): the list grows
    * monotonically BY DESIGN — a deletion request has no expiry, so no
    * entry is ever eligible for compaction-by-staleness, and
    * "re-certification" cannot retire an fp either (the request was
    * about the CONTENT; a doc re-entering under a new id is exactly what
    * the list exists to stop). Its scale shape is what makes that
    * acceptable: one 16-byte md5 per distinct requested content —
    * requests-proportional, not corpus-proportional (a year of 1M
    * deletion requests/day is ~6 GB) — probed as one slim
    * broadcast-or-hash anti-join per micro-batch / export apply, and at
    * deployment scale stored as a parquet table BUCKETED by fp so the
    * stream-static probe co-partitions without a shuffle. Exactly TWO
    * compactions are sound, both implemented by the durable store
    * [[graft.sinks.SuppressionStore]]: (1) DEDUPLICATION of the list
    * itself (the `.distinct()` below / dedup-on-append — re-requests of
    * the same content collapse), and (2) removal of entries whose
    * deletion request was EXPLICITLY withdrawn or superseded by a
    * recorded re-certification — a caller-provided set, never a
    * heuristic (content merely re-certifying under the current policy
    * does NOT withdraw the request). SuppressionStoreSpec pins that
    * neither can re-admit still-suppressed content. */
  private[graft] def forgetSuppressionFps(spark: SparkSession, dir: String): DataFrame =
    TextQueries.cachedFps(spark, dir)
      .join(forgetRequests(spark, dir), "doc_id")
      .select("fp").distinct()

  /** Drop from `df` (doc_id-keyed) every doc whose normalized fingerprint
    * is on the suppression list — the TIMELESS form of deletion: by
    * content, independent of which certification policy is current, so
    * policy-move and forget applies converge on the same final export in
    * either order (DeltaExportSpec pins the commutation). */
  private[graft] def excludeForgotten(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame =
    df.join(TextQueries.cachedFps(spark, dir), "doc_id")
      .join(forgetSuppressionFps(spark, dir), Seq("fp"), "left_anti")
      .drop("fp")

  /** The removal set of the forget pass under the named policy: every
    * CERTIFIED doc whose normalized content fingerprint matches ANY
    * requested doc's. Deletion is by CONTENT, not id — removing doc X
    * while its exact copy Y ships in the next export does not honor the
    * request; the fp probe rides the dedup pipeline's own checkpointed
    * fingerprint base, so the match semantic is exactly d1's
    * (normalize-whitespace, lowercase, md5). */
  private[graft] def forgetRemovalSetFor(spark: SparkSession, dir: String,
      policyV2: Boolean,
      p: graft.model.ExportPolicy = graft.model.ExportPolicy.Default): DataFrame = {
    val certified =
      if (policyV2) scoredEligible(spark, dir, p)
        .filter(col("q2") >= p.qualityV2FloorMicro).select("doc_id")
      else TextQueries.t12CleanUnordered(spark, dir).select("doc_id")
    certified
      .join(TextQueries.cachedFps(spark, dir), "doc_id")
      .join(forgetSuppressionFps(spark, dir), "fp").select("doc_id")
  }

  /** [[forgetRemovalSetFor]] under the v1 policy — what [[xForgetAudit]]
    * oracles. */
  private[graft] def forgetRemovalSet(spark: SparkSession, dir: String): DataFrame =
    forgetRemovalSetFor(spark, dir, policyV2 = false)

  /** x_forget_audit — the deletion-compliance (right-to-be-forgotten)
    * accounting: one row — requests received, certified docs removed
    * (by content match, see [[forgetRemovalSet]]), certified docs
    * remaining, and how many export shards the purge rewrites — with the
    * conservation identity n_clean_after = n_clean_before −
    * n_clean_removed checkable from the row alone. The APPLY half is
    * [[graft.pipeline.BatchPipeline.applyForget]], which purges a
    * materialized shuffled export incrementally through the same
    * delta-apply machinery (tombstone-only delta; untouched shards stay
    * byte-identical on disk — DeltaExportSpec).
    *
    * Scale shape: the request set is a scan predicate, the fp probe is
    * one broadcast-or-hash join against the checkpointed fingerprint
    * base, and the audit is three 1-row aggregates crossed as broadcasts
    * (the x_corpus_report discipline) — request-proportional beyond the
    * one clean-corpus pass. */
  def xForgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val removed = sharded(forgetRemovalSet(spark, dir))
    val remAgg = removed.agg(count(lit(1)).as("n_clean_removed"),
      countDistinct(col("shard")).as("n_shards_touched"))
    val reqAgg = forgetRequests(spark, dir).agg(count(lit(1)).as("n_requested"))
    val cleanAgg = TextQueries.t12CleanUnordered(spark, dir)
      .agg(count(lit(1)).as("n_clean_before"))
    reqAgg.crossJoin(cleanAgg).crossJoin(remAgg)
      .select(col("n_requested"), col("n_clean_before"),
        col("n_clean_removed"),
        (col("n_clean_before") - col("n_clean_removed")).as("n_clean_after"),
        col("n_shards_touched"))
  }

  /** The re-certification fixture for [[xSuppressionStore]]: among the
    * deletion requests (doc_id ≡ 3 mod 17), the ones with
    * doc_id ≡ 20 (mod 51 = 3·17) are later explicitly WITHDRAWN (a third
    * of requests), and of those the doc_id ≡ 20 (mod 102 = 6·17) half
    * re-requests after the withdrawal. Nested congruences instead of
    * division keep both engines' derivations identical, and each set is
    * provably a subset of the previous by CRT (20 mod 17 = 3,
    * 20 mod 51 = 20). */
  private[graft] val RecertMod = 51L
  private[graft] val RecertRem = 20L
  private[graft] val LateMod = 102L
  private[graft] val LateRem = 20L

  private[graft] def requestedFpsWhere(spark: SparkSession, dir: String,
      mod: Long, rem: Long): DataFrame =
    TextQueries.cachedFps(spark, dir)
      .filter(col("doc_id") % mod === rem)
      .select("fp").distinct()

  /** Per-dataset AND per-process store root (the [[outDirFor]]
    * discipline: verify and bench datasets must not share durable state
    * mid-session). The pid suffix closes the r15-advice cross-process
    * race: the clean-root rebuild below is serialized only by a JVM-local
    * lock, so two concurrent JVMs over the same fixture dir (forked test
    * runs overlapping a Verify/Bench) could interleave one process's
    * deleteTree with the other's still-lazy read of the previous store
    * files. The store under test is a scratch rebuild — nothing durable
    * is meant to survive the call — so keying by pid costs nothing and
    * removes the shared mutable path outright. */
  private def suppressionRootFor(dir: String): String =
    java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "target", "suppression_store",
      s"${graft.plans.Snapshot.md5Hex(dir)}-${ProcessHandle.current().pid()}")
      .toString

  /** pid-keyed roots must not leak: every JVM that ran the lifecycle
    * would otherwise deposit a scratch store dir under target/ forever
    * (forked suites, Verify, Bench — many JVMs per session). Normal exit
    * deletes this process's roots via a shutdown hook; crashed siblings
    * are swept by the NEXT run's reset phase, which removes any
    * `<md5>-<pid>` dir whose pid is no longer alive (safe by the same
    * pid-exclusivity that motivated the keying). */
  private val ownedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val sweepHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      ownedRoots.forEach(r =>
        graft.plans.Snapshot.deleteTree(java.nio.file.Paths.get(r)))
    }, "graft-suppression-root-sweep"))
  }
  private def registerRoot(root: String): Unit = {
    sweepHook
    ownedRoots.add(root)
    ()
  }
  /** Two sweep conditions, BOTH required (r17 advice revising r16's
    * either-sufficient rule): (1) the embedded pid is dead AND (2) the
    * dir's mtime is past `olderThanMs`. The r16 OR could delete a LIVE
    * sibling's root — directory mtime only refreshes on direct-child
    * changes, so a >6h JVM that built its store early and lazily reads
    * it late looks stale by mtime while its pid is demonstrably alive.
    * The cost of AND is that a crashed JVM whose pid was REUSED by a
    * live process keeps its dir until the recycled pid also dies plus
    * the age window — acceptable for bounded scratch under target/,
    * whereas deleting live data mid-lifecycle is not. Our own pid is
    * always exempt (the shutdown hook owns it). */
  private def sweepDeadSiblings(root: String,
      olderThanMs: Long = 6L * 60 * 60 * 1000): Unit = {
    val p = java.nio.file.Paths.get(root)
    val self = ProcessHandle.current().pid().toString
    val cutoff = System.currentTimeMillis() - olderThanMs
    Option(p.getParent.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName.split("-", 2) match {
        case Array(_, pid) if pid != self && pid.nonEmpty &&
            pid.forall(_.isDigit) && pid.length <= 10 &&
            ProcessHandle.of(pid.toLong).isEmpty &&
            f.lastModified() < cutoff =>
          graft.plans.Snapshot.deleteTree(f.toPath)
        case _ => ()
      }
    }
  }

  /** x_suppression_store — the ORACLED gate over
    * [[graft.sinks.SuppressionStore]]'s whole lifecycle (the r15
    * growth-discipline machinery, previously spec-only): runs the durable
    * store through one full generation story — append the deletion
    * requests' fingerprints (dedup-on-append collapses duplicate-content
    * requests: the corpus's planted exact copies share fps by
    * construction), compact away an explicitly-withdrawn subset
    * (generation flip + old-generation sweep), then append the
    * re-request wave (a withdrawn fp re-requested later must re-enter) —
    * and emits the LIVE BLOCKLIST rows. DuckDB recomputes the survivor
    * set as pure set algebra over the same derived fixtures:
    * (requests \ withdrawn) ∪ re-requested. A store that dropped a row it
    * shouldn't, kept one it shouldn't, duplicated on append, or read a
    * stale generation after the flip produces a different row set — the
    * properties SuppressionStoreSpec pins in isolation, here pinned
    * end-to-end under the driver's own hash gate.
    *
    * The store is rebuilt from an empty root on EVERY call (making the
    * query a pure function of the fixture tables and the reps flat); the
    * rebuild is request-proportional — three slim anti-joins over
    * fingerprint digests, ~|corpus|/17 rows of 16-byte fps — which is
    * exactly the probe-side scale contract the store documents: at 100 TB
    * the list is requests-proportional (never corpus-proportional), so
    * paying it per call here mirrors paying one append per forget pass
    * there. */
  private val suppressionLock = new Object

  /** Per-phase wall times of the LAST [[xSuppressionStore]] lifecycle in
    * this JVM — Bench ships them as `suppression_stages` in
    * bench_out.json (the warm_stages pattern, r15 verdict task 1) so a
    * driver-side elevation of the one overhead-dominated entry is
    * attributable to a PHASE (fs reset, an append's anti-join+write, the
    * compact rewrite, the final read) instead of needing a local repro. */
  @volatile private[graft] var lastSuppressionStages: Seq[(String, Double)] =
    Nil

  def xSuppressionStore(spark: SparkSession, dir: String): DataFrame =
    // The clean-root rebuild makes concurrent callers (parallel test
    // suites; never the sequential Verify/Bench paths) each other's
    // hazard: one caller's deleteTree can race another's still-lazy read
    // of the previous store files. The root is pid-keyed against OTHER
    // processes (suppressionRootFor); the lock serializes THIS process's
    // callers, and the frame hands back EAGERLY materialized
    // (localCheckpoint — a few dozen digest rows), so the result never
    // depends on store files a later rebuild may remove.
    suppressionLock.synchronized {
      import graft.sinks.SuppressionStore
      val stages = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      def phase[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        stages += name -> (System.nanoTime() - t0) / 1e9
        r
      }
      val root = suppressionRootFor(dir)
      registerRoot(root)
      phase("reset") {
        sweepDeadSiblings(root)
        graft.plans.Snapshot.deleteTree(java.nio.file.Paths.get(root))
        // the pid-keyed root is exclusively ours: a surviving file here
        // means deleteTree swallowed a real fs error, which would
        // otherwise surface later as a confusing oracle hash mismatch
        // (r15 advice — fail loudly at the phase that owns it)
        require(!new java.io.File(root).exists(),
          s"suppression store reset left files under $root")
      }
      phase("append_requests") {
        SuppressionStore.append(spark, root, forgetSuppressionFps(spark, dir))
      }
      phase("compact_withdrawn") {
        SuppressionStore.compact(spark, root,
          requestedFpsWhere(spark, dir, RecertMod, RecertRem))
      }
      phase("append_rerequests") {
        SuppressionStore.append(spark, root,
          requestedFpsWhere(spark, dir, LateMod, LateRem))
      }
      val out = phase("read_live") {
        SuppressionStore.read(spark, root).orderBy("fp")
          .localCheckpoint(true)
      }
      lastSuppressionStages = stages.toSeq
      out
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("x_export_manifest" -> xExportManifest,
      "x_export_counts" -> xExportCounts,
      "x_front_door" -> xFrontDoor,
      "x_front_door_audit" -> xFrontDoorAudit,
      "x_compact_audit" -> xCompactAudit,
      "x_shuffle_shards" -> xShuffleShards,
      "x_train_val_split" -> xTrainValSplit,
      "x_export_delta" -> xExportDelta,
      "x_forget_audit" -> xForgetAudit,
      "x_suppression_store" -> xSuppressionStore)

  /** The front door's gate CTE stack (arrivals → quality → exact → band
    * survivors) — ONE definition serving the x_front_door oracle and the
    * x_front_door_audit oracle, so the audited counts and the survivor
    * rows can never describe different gate logic. */
  private lazy val frontDoorGateCtes: String = {
    val novelValues = FrontDoorNovels
      .map { case (i, t) => s"(CAST($i AS BIGINT), '$t')" }
      .mkString(",\n      ")
    s""", ${TextQueries.sigsCte},
       |${TextQueries.bandsCte},
       |arr AS (
       |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
       |  UNION ALL
       |  SELECT doc_id + 6000000, regexp_replace(text, '^\\S+\\s+', '', 'g')
       |  FROM documents WHERE doc_id % 13 = 0
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |      $novelValues) AS nv(doc_id, text)),
       |${TextQueries.bandChainCtes("arr", "A")},
       |aq AS (SELECT doc_id
       |       FROM (${TextQueries.gopherSignalsSqlFor("toksA", "arr")})
       |       WHERE ${TextQueries.gopherKeepSql}),
       |arrfp AS (SELECT doc_id, ${graft.ops.Fingerprint.sql("text")} AS fp FROM arr),
       |cfps AS (SELECT DISTINCT ${graft.ops.Fingerprint.sql("text")} AS fp FROM corpus),
       |ae AS (SELECT q.doc_id FROM aq q
       |       JOIN arrfp f ON q.doc_id = f.doc_id
       |       LEFT JOIN cfps c ON f.fp = c.fp
       |       WHERE c.fp IS NULL),
       |survivors AS (SELECT e.doc_id FROM ae e WHERE NOT EXISTS (
       |         SELECT 1 FROM bandsA a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey
       |         WHERE a.doc_id = e.doc_id))""".stripMargin
  }

  val oracleSql: Map[String, String] = {
    val novelValues = CompactNovels
      .map { case (i, t) => s"(CAST($i AS BIGINT), '$t')" }.mkString(",\n      ")
    Map(
      "x_export_counts" -> TextQueries.oracle(
        s"""${TextQueries.t12OracleCtes}
           |SELECT c.lang, CAST(count(*) AS BIGINT) AS expected_rows
           |FROM keepset k
           |JOIN quality q ON k.doc_id = q.doc_id
           |  AND q.quality_micro >= ${TextQueries.CleanQualityFloor}
           |LEFT JOIN contaminated x ON k.doc_id = x.doc_id
           |JOIN corpus c ON k.doc_id = c.doc_id
           |WHERE x.doc_id IS NULL
           |GROUP BY c.lang
           |ORDER BY c.lang""".stripMargin),
      // the manifest's LAYOUT tier is contract-bound too (r18, retiring
      // the last rows-only row): with one writer task per routing value
      // (salts=1) and a fixed records-per-file cap, minimal contiguous
      // rolling gives n_shards = ceil(rows/cap) exactly; written_rows
      // must equal the independently recomputed survivor count and
      // rows_conserved must read 1. A writer that dropped rows, split
      // files early, or left a stale shard changes a value and the
      // driver's hash goes red.
      "x_export_manifest" -> TextQueries.oracle(
        s"""${TextQueries.t12OracleCtes},
           |expected AS (
           |  SELECT c.lang, CAST(count(*) AS BIGINT) AS expected_rows
           |  FROM keepset k
           |  JOIN quality q ON k.doc_id = q.doc_id
           |    AND q.quality_micro >= ${TextQueries.CleanQualityFloor}
           |  LEFT JOIN contaminated x ON k.doc_id = x.doc_id
           |  JOIN corpus c ON k.doc_id = c.doc_id
           |  WHERE x.doc_id IS NULL
           |  GROUP BY c.lang)
           |SELECT lang,
           |       CAST(ceil(expected_rows /
           |         ${graft.pipeline.BatchPipeline.DefaultShardCap}.0) AS BIGINT)
           |         AS n_shards,
           |       expected_rows AS written_rows,
           |       CAST(1 AS BIGINT) AS rows_conserved
           |FROM expected
           |ORDER BY lang""".stripMargin),
      // the shuffle layout: the SAME t12 CTE stack (cleanset inlines
      // t12's final join), then the salted-key shard+rank arithmetic
      "x_shuffle_shards" -> TextQueries.oracle(
        s"""${TextQueries.t12OracleCtes},
           |cleanset AS (
           |  SELECT k.doc_id FROM keepset k
           |  JOIN quality q ON k.doc_id = q.doc_id
           |    AND q.quality_micro >= ${TextQueries.CleanQualityFloor}
           |  LEFT JOIN contaminated x ON k.doc_id = x.doc_id
           |  WHERE x.doc_id IS NULL),
           |keyed AS (
           |  SELECT doc_id,
           |         md5('$ShardSeed' || CAST(doc_id AS VARCHAR)) AS skey,
           |         CAST(('0x' || substr(md5('$ShardSeed' || CAST(doc_id AS VARCHAR)), 1, 8))
           |              AS BIGINT) % $NShards AS shard
           |  FROM cleanset)
           |SELECT doc_id, shard,
           |       row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos
           |FROM keyed
           |ORDER BY shard, pos""".stripMargin),
      // the policy-move delta: the SAME t12 CTE stack (quality = the v1
      // score it already defines), plus the v2 reweighting rendered by
      // the SAME qualityCteSql fragment, the shared eligibility join,
      // and the boundary CASE — DuckDB recomputes both scores and both
      // floors fully independently
      "x_export_delta" -> TextQueries.oracle(
        s"""${TextQueries.t12OracleCtes},
           |${TextQueries.qualityCteSql("qual2", "q2", V2WStop, V2WPunct, V2WLen)},
           |elig AS (
           |  SELECT k.doc_id FROM keepset k
           |  LEFT JOIN contaminated x ON k.doc_id = x.doc_id
           |  WHERE x.doc_id IS NULL)
           |SELECT e.doc_id,
           |       CASE WHEN q2.q2 >= $QualityV2Floor
           |                 AND q1.quality_micro < ${TextQueries.CleanQualityFloor}
           |            THEN 'add' ELSE 'tombstone' END AS action,
           |       CAST(('0x' || substr(md5('$ShardSeed' || CAST(e.doc_id AS VARCHAR)), 1, 8))
           |            AS BIGINT) % $NShards AS shard
           |FROM elig e
           |JOIN quality q1 ON e.doc_id = q1.doc_id
           |JOIN qual2 q2 ON e.doc_id = q2.doc_id
           |WHERE (q2.q2 >= $QualityV2Floor
           |       AND q1.quality_micro < ${TextQueries.CleanQualityFloor})
           |   OR (q1.quality_micro >= ${TextQueries.CleanQualityFloor}
           |       AND q2.q2 < $QualityV2Floor)
           |ORDER BY e.doc_id""".stripMargin),
      // the forget accounting: request set is a corpus predicate, the
      // removal set is the clean set content-joined via the SAME fps CTE
      // the dedup oracle defines, shards via the inlined seed arithmetic
      "x_forget_audit" -> TextQueries.oracle(
        s"""${TextQueries.t12OracleCtes},
           |cleanset AS (
           |  SELECT k.doc_id FROM keepset k
           |  JOIN quality q ON k.doc_id = q.doc_id
           |    AND q.quality_micro >= ${TextQueries.CleanQualityFloor}
           |  LEFT JOIN contaminated x ON k.doc_id = x.doc_id
           |  WHERE x.doc_id IS NULL),
           |req AS (SELECT doc_id FROM corpus WHERE doc_id % $ForgetMod = $ForgetRem),
           |reqfp AS (SELECT DISTINCT f.fp FROM fps f
           |          JOIN req r ON f.doc_id = r.doc_id),
           |removed AS (SELECT c.doc_id FROM cleanset c
           |            JOIN fps f ON c.doc_id = f.doc_id
           |            JOIN reqfp x ON f.fp = x.fp)
           |SELECT CAST((SELECT count(*) FROM req) AS BIGINT) AS n_requested,
           |       CAST((SELECT count(*) FROM cleanset) AS BIGINT) AS n_clean_before,
           |       CAST((SELECT count(*) FROM removed) AS BIGINT) AS n_clean_removed,
           |       CAST((SELECT count(*) FROM cleanset) - (SELECT count(*) FROM removed)
           |            AS BIGINT) AS n_clean_after,
           |       CAST((SELECT count(DISTINCT
           |                CAST(('0x' || substr(md5('$ShardSeed' || CAST(doc_id AS VARCHAR)), 1, 8))
           |                     AS BIGINT) % $NShards) FROM removed)
           |            AS BIGINT) AS n_shards_touched""".stripMargin),
      // the survivor set of the store lifecycle, as pure set algebra over
      // the same derived fixtures (requests \ withdrawn) ∪ re-requested;
      // anti-join spelled LEFT JOIN ... IS NULL (the codebase's NULL-safe
      // NOT IN idiom)
      "x_suppression_store" -> TextQueries.oracle(
        s""", fps AS (SELECT doc_id, ${graft.ops.Fingerprint.sql("text")} AS fp
           |          FROM corpus),
           |reqfp AS (SELECT DISTINCT fp FROM fps
           |          WHERE doc_id % $ForgetMod = $ForgetRem),
           |recertfp AS (SELECT DISTINCT fp FROM fps
           |             WHERE doc_id % $RecertMod = $RecertRem),
           |latefp AS (SELECT DISTINCT fp FROM fps
           |           WHERE doc_id % $LateMod = $LateRem)
           |SELECT fp FROM (
           |  SELECT r.fp FROM reqfp r
           |  LEFT JOIN recertfp w ON r.fp = w.fp
           |  WHERE w.fp IS NULL
           |  UNION
           |  SELECT fp FROM latefp)
           |ORDER BY fp""".stripMargin),
      // the leakage-safe split: assignment is pure hash arithmetic; the
      // leak set reuses the t12 stack's fps + jpairs CTEs verbatim
      "x_train_val_split" -> TextQueries.oracle(
        s"""${TextQueries.t12OracleCtes},
           |assign AS (
           |  SELECT doc_id, lang,
           |         CASE WHEN CAST(('0x' || substr(md5('$SplitSeed' || CAST(doc_id AS VARCHAR)), 1, 8))
           |                        AS BIGINT) % 100 < $ValPct
           |              THEN 'val' ELSE 'train' END AS split0
           |  FROM corpus),
           |valids AS (SELECT doc_id FROM assign WHERE split0 = 'val'),
           |valfps AS (
           |  SELECT DISTINCT f.fp FROM fps f
           |  JOIN valids v ON f.doc_id = v.doc_id),
           |leaks AS (
           |  SELECT f.doc_id FROM fps f JOIN valfps vf ON f.fp = vf.fp
           |  UNION
           |  SELECT p.t AS doc_id FROM (
           |    SELECT doc_a AS t, doc_b AS v FROM jpairs
           |    UNION ALL
           |    SELECT doc_b AS t, doc_a AS v FROM jpairs) p
           |  JOIN valids v ON p.v = v.doc_id)
           |SELECT a.doc_id, a.lang,
           |       CASE WHEN a.split0 = 'val' THEN 'val'
           |            WHEN l.doc_id IS NOT NULL THEN 'leak'
           |            ELSE 'train' END AS split
           |FROM assign a LEFT JOIN leaks l ON a.doc_id = l.doc_id
           |ORDER BY a.doc_id""".stripMargin),
      "x_front_door" -> {
        import graft.plans.VerifyExports.sqlPath
        val B = TextQueries.DsirBuckets
        TextQueries.oracle(
          s"""$frontDoorGateCtes,
             |${TextQueries.dsirCorpusCtes},
             |aw AS (SELECT doc_id, unnest(toks) AS word FROM toksA),
             |pieces AS (
             |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             |         CAST(SUM(v.word_pieces) AS BIGINT) AS n_pieces
             |  FROM aw a JOIN ${sqlPath("x_front_door_vocab")} v ON a.word = v.word
             |  GROUP BY a.doc_id),
             |atok AS (SELECT doc_id,
             |                CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT)
             |                  % $B AS bucket
             |         FROM aw),
             |adsir AS (
             |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |         CAST(SUM((coalesce(b.c_t, 0) + 1) * (k.n_c + $B)
             |                  - (coalesce(b.c_c, 0) + 1) * (k.n_t + $B))
             |              AS BIGINT) AS dsir_units
             |  FROM atok a CROSS JOIN k LEFT JOIN btf b ON a.bucket = b.bucket
             |  GROUP BY a.doc_id)
             |SELECT s.doc_id, sc.score_micro, p.n_words, p.n_pieces,
             |       CAST((p.n_pieces * 1000000) // greatest(p.n_words, 1)
             |            AS BIGINT) AS fertility_micro,
             |       d.n_tokens, d.dsir_units
             |FROM survivors s
             |JOIN ${sqlPath("x_front_door_scores")} sc ON s.doc_id = sc.doc_id
             |JOIN pieces p ON s.doc_id = p.doc_id
             |JOIN adsir d ON s.doc_id = d.doc_id
             |ORDER BY s.doc_id""".stripMargin)
      },
      "x_front_door_audit" -> TextQueries.oracle(
        s"""$frontDoorGateCtes
           |SELECT CAST((SELECT COUNT(*) FROM arr) AS BIGINT) AS n_arrivals,
           |       CAST((SELECT COUNT(*) FROM arr) - (SELECT COUNT(*) FROM aq)
           |            AS BIGINT) AS n_quality,
           |       CAST((SELECT COUNT(*) FROM aq) - (SELECT COUNT(*) FROM ae)
           |            AS BIGINT) AS n_corpus_exact,
           |       CAST((SELECT COUNT(*) FROM ae) - (SELECT COUNT(*) FROM survivors)
           |            AS BIGINT) AS n_corpus_near,
           |       CAST((SELECT COUNT(*) FROM survivors) AS BIGINT) AS n_survivors""".stripMargin),
      "x_compact_audit" -> TextQueries.oracle(
      s""", ${TextQueries.sigsCte},
        |${TextQueries.bandsCte},
        |fps AS (SELECT doc_id, ${graft.ops.Fingerprint.sql("text")} AS fp FROM corpus),
        |arr AS (
        |  SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000, regexp_replace(text, '^\\S+\\s+', '', 'g')
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      $novelValues) AS nv(doc_id, text)),
        |${TextQueries.bandChainCtes("arr", "A")},
        |arrfp AS (SELECT doc_id, ${graft.ops.Fingerprint.sql("text")} AS fp FROM arr),
        |bu AS (SELECT doc_id, fp FROM (
        |         SELECT doc_id, fp,
        |                row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |         FROM arrfp) WHERE rn = 1),
        |pe AS (SELECT bu.doc_id FROM bu
        |       LEFT JOIN (SELECT DISTINCT fp FROM fps) cf ON bu.fp = cf.fp
        |       WHERE cf.fp IS NULL),
        |pn AS (SELECT pe.doc_id FROM pe WHERE NOT EXISTS (
        |         SELECT 1 FROM bandsA a JOIN bands b
        |           ON a.band = b.band AND a.bkey = b.bkey
        |         WHERE a.doc_id = pe.doc_id)),
        |bn AS (SELECT DISTINCT y.doc_id
        |       FROM bandsA x JOIN bandsA y
        |         ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        |       JOIN pn px ON px.doc_id = x.doc_id
        |       JOIN pn py ON py.doc_id = y.doc_id),
        |sv AS (SELECT doc_id FROM pn
        |       WHERE doc_id NOT IN (SELECT doc_id FROM bn))
        |SELECT CAST((SELECT COUNT(*) FROM arr) AS BIGINT) AS n_arrivals,
        |       CAST((SELECT COUNT(*) FROM arr) - (SELECT COUNT(*) FROM bu)
        |            AS BIGINT) AS n_batch_exact,
        |       CAST((SELECT COUNT(*) FROM bu) - (SELECT COUNT(*) FROM pe)
        |            AS BIGINT) AS n_corpus_exact,
        |       CAST((SELECT COUNT(*) FROM pe) - (SELECT COUNT(*) FROM pn)
        |            AS BIGINT) AS n_corpus_near,
        |       CAST((SELECT COUNT(*) FROM pn) - (SELECT COUNT(*) FROM sv)
        |            AS BIGINT) AS n_batch_near,
        |       CAST((SELECT COUNT(*) FROM sv) AS BIGINT) AS n_appended""".stripMargin))
  }

  /** Empty since r18: the manifest's shard-count tier oracles by the
    * ceil(rows/cap) single-writer-contiguity contract (see oracleSql),
    * and the compaction audit is oracle-checked. */
  val rowsOnly: Set[String] = Set.empty
}
