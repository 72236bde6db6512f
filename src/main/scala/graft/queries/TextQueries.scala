package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] large-scale training-data text pipeline (builder brief): exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard), token
  * statistics, quality scoring, language ID, and document fingerprinting
  * over the driver's `documents` table.
  *
  * Portability backbone: every base hash is md5-hex (identical in Spark and
  * DuckDB), so MinHash minima, LSH band keys and SimHash bits are
  * reproducible in the oracle. MinHash hashes each shingle ONCE and derives
  * its 16 seed values by integer mixing of digest slices — 16 md5 calls per
  * shingle was 69% of the round-3 bench. The corpus is `documents` augmented with
  * deterministic mutants — a drop-first-word near-dup for doc_id%5==0
  * (+1,000,000) and an exact copy for doc_id%7==0 (+2,000,000) — so the
  * dedup queries have planted positives to find.
  *
  * Scale notes (100 TB): everything below is shuffle-by-key — shingle
  * explode then groupBy(doc_id) for signatures (one shuffle), band-key
  * equi-join for candidates (no cross join anywhere), and the exact-Jaccard
  * verify runs only on LSH candidates, never all pairs. SimHash dup pairs
  * join on the full signature value. The only quadratic surface is within a
  * band bucket, which is what banding exists to bound.
  */
object TextQueries {

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** d6 near-dup threshold: with 4 hamming bands over 64 bits, any pair
    * within this distance shares ≥ 1 band (exact as long as it stays
    * < [[Bands]]). */
  val SimhashMaxHamming = 3

  // ---- shared-base checkpointing ----

  /** The shared bases below are CHECKPOINTED to local parquet rather
    * than persist()ed — see [[graft.plans.Snapshot]] (this module's
    * machinery through round 8, factored out in round 9 so the multimodal
    * signature tables ride it too). Round 4's driver bench ran 2.11x of
    * the recorded baseline because the RAM caches did not stay resident
    * under the driver environment's heap pressure — warm paid 34 s and
    * the d-block re-ran lineage anyway (d6 0.3 s -> 4.2 s on an unchanged
    * query); round 8 repeated the lesson for `toks`, the one base left
    * evictable. Keyed by (sfDir, name): one snapshot per input dataset
    * per JVM. */
  private def checkpointed(spark: SparkSession, dir: String, name: String,
      files: Int = 1)(build: => DataFrame): DataFrame =
    graft.plans.Snapshot.checkpointed(spark, dir, name, files)(build)

  /** Bytes on disk under the snapshot root (bench evidence: a nonzero
    * size proves the d/t block reads files, not evictable RAM). Shared
    * with the media signature snapshots since round 9 — the media bases
    * build after the text warm pass, so warm-stage attribution still
    * reflects text bytes only. */
  def checkpointBytes: Long = graft.plans.Snapshot.bytes

  /** Drop the DSIR weight memo, so the next [[dsirBucketWeights]]
    * recounts the corpus as it now stands (a dir grown in place gets fresh
    * weights). The module persists no DataFrame: every shared base is a
    * parquet checkpoint. Idempotent. */
  def releaseCaches(): Unit = dsirModels.clear()

  /** Per-stage attribution of the LAST [[warmShared]] run: (stage,
    * seconds, rows, cumulative checkpoint bytes). Bench emits this into
    * bench_out.json so a driver-side warm spike is attributable without a
    * local rerun. */
  private val warmStageLog =
    scala.collection.mutable.ArrayBuffer[(String, Double, Long, Long)]()
  def lastWarmStages: Seq[(String, Double, Long, Long)] =
    warmStageLog.synchronized(warmStageLog.toSeq)

  /** Materialize the caches shared across the dedup/text queries (tokenized
    * corpus -> distinct shingles -> LSH candidate pairs, plus the SimHash
    * signature base) in one pass. Bench times this as its own entry so each
    * d/t query then reports its MARGINAL cost — round 1 let whichever dedup
    * query ran first absorb the whole shared materialization, which made
    * per-query numbers lie. */
  def warmShared(spark: SparkSession, dir: String): Unit = {
    // per-stage attribution to stderr AND [[lastWarmStages]]: when warm
    // regresses in a driver run, the bench artifact itself should show
    // WHICH base moved (cold-FS re-read vs build regression) without a
    // local rerun. Row count and cumulative checkpoint bytes per stage are
    // the residency evidence the round-4 verdict asked for: files on disk
    // cannot be evicted, so a future d-block spike cannot be a
    // cache-residency regression.
    warmStageLog.synchronized(warmStageLog.clear())
    def t(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime(); val rows = body
      val secs = (System.nanoTime() - t0) / 1e9
      val ckpt = checkpointBytes
      warmStageLog.synchronized(warmStageLog += ((name, secs, rows, ckpt)))
      System.err.println(
        f"[warm] $name%-8s $secs%7.3f s  rows=$rows%-9d ckptBytes=$ckpt%d")
    }
    // stage 0, alone: the tokenized-corpus checkpoint every base build
    // branches off. (Measured alternative: submitting toks concurrently
    // with the builds moved total warm 8.3 -> 8.7 s: the work is
    // CPU-bound, so overlap just stretches the cands critical path with
    // contention.)
    t("toks")(cachedToks(spark, dir).count())
    // the checkpoint builds are independent Spark jobs; run them on
    // separate threads so the scheduler overlaps their stages (round-5
    // verdict: serial warm was 36% of the whole bench). The MinHash chain
    // shingles → sigs → cands runs as THREE attributable stages on one
    // thread (each is the other's input — round 9 timed the whole chain
    // as one 'cands' lump and the 16.2 s driver spike was unattributable
    // to a stage). shared is chained after cands completes, which is the
    // earliest its own work can start anyway. Stage wall-times of the
    // chain/simhash/fps/bigrams OVERLAP (they do not sum to the warm
    // entry); shared's time is attributable.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // dependency shape since the native minhash_sigs (round 12): sigs
    // builds straight from toks, so the old shingles→sigs serialization
    // is gone — sigs→cands runs on its own thread WHILE shingles builds
    // in parallel; shared still needs both (dsh + cands)
    val candsF = Future {
      t("sigs")(cachedSigs(spark, dir).count())
      t("cands")(cachedCands(spark, dir).count())
    }
    val shinglesF = Future(t("shingles")(distinctShingles(spark, dir).count()))
    val rest = Seq(
      Future(t("simhash")(cachedSimhashSig(spark, dir).count())),
      // fps: column-touching count, not count(*) — a bare count over a
      // REUSED parquet snapshot satisfies itself from row-group metadata
      // and never reads a page, so the first real fp read (decompress +
      // string materialization) used to land in d1's rep 1 (r13 verdict
      // task 4: 1.036/0.330/0.382). Counting the fp column forces the
      // page read HERE, where warm's cost is attributable by design.
      Future(t("fps")(cachedFps(spark, dir)
        .agg(count(col("fp"))).collect()(0).getLong(0))),
      Future(t("bigrams")(cachedBigrams(spark, dir).count())))
    val sharedF = candsF.flatMap(_ => shinglesF)
      .map(_ => t("shared")(cachedSharedCounts(spark, dir).count()))
    (candsF +: shinglesF +: rest :+ sharedF).foreach(Await.result(_, Duration.Inf))
  }

  // ---- corpus ----

  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.plans.Tables.table(spark, dir, "documents")
      .select("doc_id", "text", "lang")
    d.unionByName(
        d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text"), col("lang")))
      .unionByName(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"), col("lang")))
  }

  private val corpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s+', ''), lang
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text, lang
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  // ---- tokens & shingles ----

  /** Tokenized corpus (doc_id, text, lang, toks), CHECKPOINTED: six-plus
    * queries (signatures, simhash, token stats, quality, lang-id, top
    * terms, packing, chunking) branch off this exact base. Through round 8
    * it was the ONE shared base left as an evictable RAM persist, and the
    * r8 driver bench showed exactly the re-tokenize-under-pressure
    * signature BASELINE.md's cold-cache note predicted (t5 5.6x, t6 6.4x,
    * t4 2.0x while the q/e blocks stayed normal): files on disk close that
    * failure mode the same way round 5 closed it for the other bases.
    * files=4 keeps the consumers' scan parallelism. (r19 ADVICE fix: the
    * snapshot write has been repartition(files) since r18 — a round-robin
    * exchange of the already-small RESULT — so the old "coalesce never
    * adds an exchange" note no longer described the build.) */
  private def cachedToks(spark: SparkSession, dir: String): DataFrame =
    checkpointed(spark, dir, "toks", files = 4)({
      // r18 optimization round: the fixture parquet scans as ONE split
      // (580 KB at sf0.1), so the tokenize pass — the whole corpus's
      // per-row work — ran single-task. Widen BEFORE the heavy per-row
      // compute when (and only when) the scan is narrower than the
      // session's parallelism: at real scale the input arrives in many
      // splits and the repartition is skipped — shuffling a 100 TB text
      // corpus to "parallelize" it would be the bug, not the fix. The
      // exchange moves the raw rows once (small here by construction:
      // it only fires when the input was a handful of splits).
      val c = corpus(spark, dir)
      val width = spark.sparkContext.defaultParallelism
      val widened =
        if (c.rdd.getNumPartitions < math.min(width, 16)) c.repartition(width)
        else c
      widened.withColumn("toks", toksCol(col("text")))
    })

  /** THE whitespace tokenization, as one shared Column definition: the
    * checkpointed batch base and every streaming ingest twin
    * (quality/score/band/encode) must segment identically — a second
    * inline copy of this expression is exactly how stream and batch
    * would silently drift. Since round 12 it is the native codegen'd
    * expression (graft.functions.TokenizeWords, registered via
    * GraftExtensions): one byte scan emitting buffer slices, bit-identical
    * to the HOF `filter(split(...))` chain (TokenizeWordsSpec pins the
    * equality against it, kept as the test-side `HofForms.toksHofCol`).
    * The HOF `filter` was a CodegenFallback, so every gate/annotator
    * tokenization dropped out of whole-stage codegen. */
  private[graft] def toksCol(text: Column): Column =
    call_function("tokenize_words", text)

  /** The checkpointed tokenized corpus for sibling query modules
    * (ApproxQueries' sketch twins share t6's corpus+tokenization): the
    * snapshot survives releaseCaches() — it is files, not RAM — so
    * consumers outside the warm-bracketed text block still get a stable
    * scan instead of re-tokenizing under whatever GC/page-cache state the
    * process is in (the r9 bench caught exactly that: one process ran the
    * inline-tokenizing sketch 4.7x over its median). */
  private[graft] def tokenizedCorpus(spark: SparkSession, dir: String): DataFrame =
    cachedToks(spark, dir)

  private val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"

  /** (doc_id, shingle): word 3-grams, exploded — one row per shingle
    * POSITION (t18's occurrence counts need position multiplicity; the
    * set-semantic consumers ride [[distinctShingles]]). */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    cachedToks(spark, dir)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 3),
          i => array_join(slice(col("toks"), i + 1, lit(3)), " "))).as("shingle"))

  /** The oracle's toks and shingles CTEs over `docsCte`, names suffixed
    * with `sfx`: the head of the MinHash chain [[bandChainCtes]] builds. */
  private def shinglesCtes(docsCte: String, sfx: String): String =
    s"""toks$sfx AS (SELECT doc_id, $toksSql AS toks FROM $docsCte),
       |shingles$sfx AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(0, len(toks) - 2),
       |                i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
       |  FROM toks$sfx WHERE len(toks) >= 3)""".stripMargin

  private val shinglesCte: String = shinglesCtes("corpus", "")

  /** Shared with MlQueries (t21's oracle recomputes the per-doc encode
    * aggregation over the same corpus/toks CTEs). */
  private[queries] def oracle(body: String): String =
    s"WITH $corpusCte,\n$shinglesCte\n$body"

  /** Normalised-content fingerprint (shared definition: ops/Fingerprint). */
  private def fpCol: org.apache.spark.sql.Column =
    graft.ops.Fingerprint.col(col("text"))
  private val fpSql: String = graft.ops.Fingerprint.sql("text")

  // ---- MinHash signature (shared by d2/d3/d4) ----

  /** One md5 per distinct shingle, not [[NumHashes]]: the digest's 32 hex
    * chars are sliced into four 32-bit values, and the 16 per-seed hashes
    * are multiply-add-mod mixes of those slices (a universal-hash family).
    * Round 3 spent 69% of the whole bench computing 16 md5s per shingle
    * occurrence; this is the standard one-hash-plus-cheap-seed-mix MinHash.
    * The mix constants are produced by [[mixA]]/[[mixB]] and inlined into
    * BOTH the Column plan and the oracle SQL, so the twins cannot drift. */
  private[graft] val MixMod = 4294967296L // 2^32

  private[graft] def mixA(j: Int): Long = (((j + 1) * 2654435761L) % (1L << 30)) | 1L
  private[graft] def mixB(j: Int): Long = ((j + 1) * 1013904223L) % MixMod

  /** (doc_id, v0..v3): the four 32-bit digest slices per shingle. Max
    * product v * mixA < 2^62 — no ANSI overflow. */
  private def slicesFrom(sh: DataFrame): DataFrame = {
    val hx = md5(col("shingle"))
    sh.select(col("doc_id") +: (0 until 4).map(s =>
      conv(substring(hx, 1 + 8 * s, 8), 16, 10).cast("bigint").as(s"v$s")): _*)
  }

  private def mixCol(j: Int): Column =
    (col(s"v${j % 4}") * mixA(j) + mixB(j)) % MixMod

  private[graft] def sigFrom(sh: DataFrame): DataFrame =
    slicesFrom(sh).groupBy(col("doc_id"))
      .agg(min(mixCol(0)).as("h0"),
        (1 until NumHashes).map(j => min(mixCol(j)).as(s"h$j")): _*)

  /** Checkpointed MinHash signature table (doc_id, h0..h15): one row per
    * document — tiny on disk against heavy lineage (the full md5 + 16
    * mix-min aggregation over every distinct shingle). Three consumers
    * ride it (d2's signature dump, the LSH candidate self-join, the
    * streaming gate's band table); before this checkpoint each one
    * re-ran the whole signature aggregation, and the candidate SELF-join
    * carried it on both sides — the r9 driver run priced that chain at
    * 16.2 s in one attributable lump. */
  private def cachedSigs(spark: SparkSession, dir: String): DataFrame =
    // shuffle-free since round 12: minima are set-semantic (duplicate
    // shingles cannot change a minimum), so the native per-doc expression
    // over toks gives the SAME 16 numbers as the slices→mix→min aggregate
    // over distinct shingles (MinhashSigsSpec pins corpus-wide equality
    // against [[sigFrom]]) — and the sigs build no longer waits on the
    // shingle base, un-serializing the warm chain
    checkpointed(spark, dir, "sigs")(
      cachedToks(spark, dir)
        .filter(size(col("toks")) >= 3)
        // two projections on purpose: the minima array computes ONCE per
        // row, then slices to the h0..h15 shape (CollapseProject leaves
        // non-cheap aliases referenced many times un-inlined)
        .select(col("doc_id"),
          call_function("minhash_sigs", col("toks")).as("hs"))
        .select(col("doc_id") +:
          (0 until NumHashes).map(j =>
            element_at(col("hs"), j + 1).as(s"h$j")): _*))

  /** Signatures over the cached DISTINCT shingles: MinHash minima are
    * set-semantic, and the distinct base is already materialized for the
    * candidate join — round 3 ran the tokenize+explode pipeline a second
    * time here. */
  private def sigDF(spark: SparkSession, dir: String): DataFrame =
    cachedSigs(spark, dir)

  /** The full docs→toks→shingles→slices→sigs→bands chain as suffixed
    * CTEs over an arbitrary docs CTE — the generator behind oracles that
    * band a SECOND document set next to the corpus (x_compact_audit bands
    * the arrival batch). The corpus chain's [[shinglesCte]], [[sigsCte]]
    * and [[bandsCte]] are its unsuffixed pieces, so the twin chains
    * cannot drift. */
  private[queries] def bandChainCtes(docsCte: String, sfx: String): String =
    s"${shinglesCtes(docsCte, sfx)},\n${sigsCtes(sfx)},\n${bandsCtes(sfx)}"

  private def sigsCtes(sfx: String): String = {
    val slices = (0 until 4).map(s =>
      s"CAST(('0x' || substr(md5(shingle), ${1 + 8 * s}, 8)) AS BIGINT) AS v$s")
      .mkString(", ")
    val aggs = (0 until NumHashes)
      .map(j => s"min((v${j % 4} * ${mixA(j)} + ${mixB(j)}) % $MixMod) AS h$j")
      .mkString(", ")
    s"""slices$sfx AS (SELECT doc_id, $slices FROM shingles$sfx),
       |sigs$sfx AS (SELECT doc_id, $aggs FROM slices$sfx GROUP BY doc_id)""".stripMargin
  }

  private[queries] val sigsCte: String = sigsCtes("")

  private def bandsCtes(sfx: String): String = {
    val rows = (0 until Bands).map { b =>
      val cat = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bkey FROM sigs$sfx"
    }.mkString("\n  UNION ALL\n  ")
    s"bands$sfx AS (\n  $rows)"
  }

  private[queries] val bandsCte: String = bandsCtes("")

  private def bandsFrom(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(j => col(s"h$j").cast("string"))
      // '|'-separated: h values are bigints now, and "1|23" vs "12|3"
      // must not collide into one band key
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** LSH candidate pairs: equal band key in any band. Takes the
    * SIGNATURE table (doc_id, h0..h15), not shingles: banding is a
    * narrow 4-way explode over one row per doc, so when `sig` is the
    * checkpointed signature table this whole derivation — both sides of
    * the self-join — touches nothing wider than docs×4 rows. */
  private def candsFrom(sig: DataFrame): DataFrame = {
    val bands = bandsFrom(sig)
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private val candCte: String =
    """cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  /** The batch band table (doc_id, band, bkey) over the checkpointed
    * distinct shingles — the static side of the streaming near-dup ingest
    * gate ([[graft.streaming.EventStream.nearDupGateAtIngest]]) and the
    * parity anchor for [[bandKeysCol]]. */
  private[graft] def corpusBandTable(spark: SparkSession, dir: String): DataFrame =
    bandsFrom(cachedSigs(spark, dir))

  /** Per-row MinHash band keys over raw text — the ZERO-SHUFFLE form of
    * the d2→d3 signature/banding chain. The batch chain explodes shingles
    * and aggregates minima per doc (one shuffle); this computes the same
    * 16 minima with `array_min` over per-row arrays, because MinHash
    * state is per-document — there was never a cross-row dependency, only
    * a convenient explode. Built for the streaming ingest gate, where a
    * per-doc aggregation would drag in a state store; also the honest
    * ingest-scale shape: line-rate banding with no shuffle at all.
    * Returns an array of [[Bands]] md5 band keys, position = band index;
    * docs with fewer than 3 tokens have no shingles and get an EMPTY
    * array (no evidence of duplication — the batch chain drops them from
    * the signature base the same way). EventStreamSpec pins exact parity
    * with [[corpusBandTable]] over the whole fixture corpus. */
  private[graft] def bandKeysCol(text: Column): Column =
    // native one-pass expression (graft.functions.BandKeys, registered via
    // GraftExtensions) — bit-identical to the Column chain it replaced
    // (the test-side `HofForms.bandKeysHofCol`, BandKeysSpec) and inside
    // whole-stage codegen; NULL coalesces to '' so a NULL doc gets the
    // EMPTY array (no evidence of duplication), exactly as the Column
    // chain's when/otherwise produced
    call_function("band_keys", coalesce(text, lit("")))

  // ---- queries ----

  /** Checkpointed (doc_id, fp) base shared by d1/d7 (and t4's fp_md5
    * lineage): one corpus scan + md5 per session instead of one per
    * consumer. */
  private[queries] def cachedFps(spark: SparkSession, dir: String): DataFrame =
    // r18 optimization round: build off the toks snapshot (same rows as
    // corpus() by construction — toks adds a column, filters nothing)
    // instead of re-running the 3-scan union + regexp mutant derivation;
    // the fps build stage becomes one narrow snapshot scan + md5. Every
    // consumer (d1/d7/d9, the compaction and forget probes) reads the
    // same (doc_id, fp) rows as before.
    checkpointed(spark, dir, "fps")(
      cachedToks(spark, dir).withColumn("fp", fpCol).select("doc_id", "fp"))

  /** Exact dedup: hash-groupBy on normalised content; emit duplicate groups
    * (canonical = min doc_id). One shuffle keyed by the 128-bit fingerprint
    * — the shape that holds at any scale. */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    cachedFps(spark, dir)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("fp", "keep_id", "n_copies")
      .orderBy("keep_id")

  /** MinHash signatures (16 hashes over word 3-gram shingles, md5-hex min
    * per seed). Explode + one groupBy(doc_id) — no pairwise work. */
  def d2MinhashSig(spark: SparkSession, dir: String): DataFrame =
    sigDF(spark, dir)
      .select(col("doc_id"),
        concat_ws("|",
          (0 until NumHashes).map(j => col(s"h$j").cast("string")): _*).as("signature"))
      .orderBy("doc_id")

  /** Shared checkpointed base for d3/d4: distinct shingles (set semantics;
    * MinHash minima are unaffected) and the candidate pairs derived from
    * them. One materialization per (sfDir, JVM); every consumer — including
    * the verify join that reads the shingle table twice — scans parquet. */
  private[graft] def distinctShingles(spark: SparkSession, dir: String): DataFrame =
    // files=4: the one base with real volume (every distinct 3-gram), and
    // the verify join scans it twice — keep a little read parallelism.
    // Deduplication is per-row array_distinct BEFORE the explode, not a
    // global .distinct() after it: the two are set-identical on (doc_id,
    // shingle) — a shingle repeats only within its own document — but the
    // global distinct shuffled the full exploded occurrence table (the
    // largest shuffle the warm pass had), while this build is completely
    // narrow: zero exchanges at any scale, partition-local off toks.
    checkpointed(spark, dir, "shingles", files = 4)(
      cachedToks(spark, dir)
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(array_distinct(transform(sequence(lit(0), size(col("toks")) - 3),
            i => array_join(slice(col("toks"), i + 1, lit(3)), " ")))).as("shingle")))

  private def cachedCands(spark: SparkSession, dir: String): DataFrame =
    checkpointed(spark, dir, "cands")(candsFrom(cachedSigs(spark, dir)))

  /** LSH near-dup candidate pairs: 4 bands x 4 rows; pairs sharing any band
    * key. Equi-join on (band, bkey) — never a cross join. */
  def d3MinhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    cachedCands(spark, dir).orderBy("doc_a", "doc_b")

  /** Exact n-gram Jaccard, computed ONLY on LSH candidates (the verify step
    * of MinHash dedup): |A∩B| via shingle equi-join restricted to candidate
    * pairs, |A∪B| = |A|+|B|-|A∩B|. Pure arithmetic over
    * [[cachedSharedCounts]]. */
  def d4JaccardVerify(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** Checkpointed shared-shingle counts over the LSH candidates — THE
    * pairwise base of the verify tier: (doc_a, doc_b, shared, na, nb) for
    * every candidate pair with at least one shared shingle. d4's Jaccard,
    * d10's containments, and (via [[verifiedPairs]]) d7/d9/t12's keep-set
    * logic are all per-row arithmetic over these five columns, so the
    * cands⋈shingles⋈shingles chain — the most expensive join in the module
    * — runs ONCE per (dataset, JVM) and lands on disk. The r8 driver bench
    * caught d10 re-deriving this chain live at 7.4x its baseline; this
    * base is that fix, and it is the frame a 100 TB pipeline checkpoints
    * between the candidate pass and its verify/cluster passes.
    *
    * The shingle explode feeds signatures AND this verify join; both ride
    * the checkpointed distinct-shingle table (the standard multi-pass
    * dedup shape). Note on the at-scale variant: with sparse duplicates
    * one would semi-join-prune the shingle table to candidate docs before
    * the pairwise join. This corpus plants dups in ~26% of docs, so
    * pruning buys nothing locally and costs a second candidate
    * computation; swap in the prune when candidate density is low. */
  private def cachedSharedCounts(spark: SparkSession, dir: String): DataFrame =
    checkpointed(spark, dir, "shared") {
      val dsh = distinctShingles(spark, dir)
      val cands = cachedCands(spark, dir)
      val sizes = dsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      cands
        .join(dsh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(dsh.as("sb"), col("doc_b") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
        .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
        .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
          col("na.n").as("na"), col("nb.n").as("nb"))
    }

  /** The LSH-verified Jaccard≥0.5 pair set: one exact IEEE division per
    * row of [[cachedSharedCounts]], so it needs no checkpoint of its own —
    * every consumer (d4, d7, d9, t12, and ExportQueries' leakage-safe
    * split) derives it from the same base. */
  private[queries] def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    cachedSharedCounts(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  /** SimHash signatures (64-bit, md5-derived token hashes): per-bit
    * weighted vote over tokens, then bit-pack. Pure explode + groupBy —
    * one shuffle. The 64-bit signature is emitted as two sign-safe 32-bit
    * halves (`sim_hi`, `sim_lo`): one packed BIGINT would put vote 63 in
    * the two's-complement sign bit, whose shift/xor behavior is the kind
    * of cross-engine edge the oracle discipline avoids; hamming distance
    * composes exactly over the halves. (Round-4 verdict: the old 16-bit
    * signature capped at 65 536 buckets — at 100 TB every bucket holds
    * millions of docs and the within-bucket pairing goes quadratic.) */
  def d5SimhashSig(spark: SparkSession, dir: String): DataFrame =
    cachedSimhashSig(spark, dir)
      .select("doc_id", "sim_hi", "sim_lo").orderBy("doc_id")

  /** Checkpointed signature+band base shared by d5/d6 (and warmed by
    * [[warmShared]]): tiny result, heavy lineage. Carries the four 16-bit
    * band keys (= signature quarters) so the hamming-band join never
    * re-derives them. */
  private def cachedSimhashSig(spark: SparkSession, dir: String): DataFrame =
    checkpointed(spark, dir, "simhash")(simhashSigDF(spark, dir))

  /** Unordered signature base: 64 per-bit votes from the two 32-bit halves
    * of the token md5, packed into 16-bit quarters; sim_lo/sim_hi are
    * quarter-composed, so every packed value stays in [0, 2^32).
    * Shuffle-free (round 12): SimHash is a pure per-doc
    * map, so the native `simhash_sig` expression (functions/SimhashSig)
    * computes it in one projection over the checkpointed toks — the
    * explode → 64-vote aggregate it replaces shuffled the whole tokenized
    * corpus. Token-less docs are filtered first: the aggregate form drops
    * them (no exploded rows), and the row sets must match bit for bit
    * (SimhashSigSpec pins equality against the aggregate form, kept as
    * the test-side `HofForms.simhashSigHofDF`). */
  private def simhashSigDF(spark: SparkSession, dir: String): DataFrame =
    cachedToks(spark, dir)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), call_function("simhash_sig", col("toks")).as("s"))
      .select(col("doc_id"), col("s.sim_hi").as("sim_hi"),
        col("s.sim_lo").as("sim_lo"), col("s.b0").as("b0"),
        col("s.b1").as("b1"), col("s.b2").as("b2"), col("s.b3").as("b3"))

  /** SimHash near-dup pairs: hamming distance ≤ [[SimhashMaxHamming]] over
    * the 64-bit signatures, found via TWO-LEVEL hamming-band candidate
    * tables — each doc emits, for every 16-bit signature quarter b, the
    * quarter value PLUS each of the four 12-bit sub-blocks of the other
    * 48 bits as a compound key (band, quarter, sub, subkey): 16 rows per
    * doc, candidates equi-join on the compound key, and the xor/bit_count
    * verify runs only on candidates.
    *
    * EXACT by double pigeonhole at threshold 3: ≤3 differing bits leave
    * (a) at least one quarter identical, and (b) within that band, ≤3
    * diffs among the complementary 48 bits leave at least one of its four
    * 12-bit sub-blocks identical — so every qualifying pair shares at
    * least one compound key. The refinement is what survives a LOW-ENTROPY
    * signature population (the r14 sf1 scaling run measured the
    * single-level quarter buckets growing near-quadratically: 350k → 32M
    * candidate pairs for 10× docs, d6 19.5×; candidates must share 28
    * ALIGNED bits here, which collapsed that surface back to
    * output-proportional and d6 to ~linear). At a billion docs the
    * compound key space is 16×2^28 — no all-pairs surface exists outside
    * a bucket, and bucket skew is bounded by docs agreeing on 28 bits,
    * not 16. */
  def d6SimhashDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = cachedSimhashSig(spark, dir)
    // 48-bit complement of quarter b, laid out contiguously
    // (sim_lo = q0 + q1·2^16, sim_hi = q2 + q3·2^16)
    def comp(b: Int): Column = b match {
      case 0 => shiftright(col("sim_lo"), 16).bitwiseAND(lit(0xFFFFL)) +
        col("sim_hi") * lit(65536L)
      case 1 => col("sim_lo").bitwiseAND(lit(0xFFFFL)) +
        col("sim_hi") * lit(65536L)
      case 2 => col("sim_lo") +
        shiftright(col("sim_hi"), 16).bitwiseAND(lit(0xFFFFL)) * lit(4294967296L)
      case 3 => col("sim_lo") +
        col("sim_hi").bitwiseAND(lit(0xFFFFL)) * lit(4294967296L)
      case other => throw new IllegalArgumentException(s"band $other")
    }
    val keys = (0 until 4).flatMap { b =>
      (0 until 4).map { s =>
        struct(lit(b * 4 + s).as("band"), col(s"b$b").as("bkey"),
          shiftright(comp(b), 12 * s).bitwiseAND(lit(0xFFFL)).as("skey"))
      }
    }
    val bands = sig.select(col("doc_id"), col("sim_hi"), col("sim_lo"),
        explode(array(keys: _*)).as("bk"))
      .select(col("doc_id"), col("sim_hi"), col("sim_lo"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("bk.skey").as("skey"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.skey") === col("b.skey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo"))) +
          bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi"))))
          .cast("bigint").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .distinct() // a close pair shares several compound keys; emit it once
      .orderBy("doc_a", "doc_b")
  }

  /** d7 — the user-facing dedup operator: the KEEP set after applying both
    * exact dedup (drop all but the min doc_id of each content group) and
    * near dedup (drop the greater id of every LSH-verified Jaccard≥0.5
    * pair). Composes d1 and d4's cached pipeline — the complete
    * "deduplicate my corpus" pass a training-data pipeline runs. */
  def d7DedupKeep(spark: SparkSession, dir: String): DataFrame =
    d7KeepSet(spark, dir).orderBy("doc_id")

  /** d7's keep set WITHOUT the presentation sort. t12 composes this under
    * further joins; Catalyst's EliminateSorts does remove an embedded
    * orderBy there (verified on the executed plan), but composing the
    * unordered form keeps the intent explicit rather than relying on the
    * optimizer to delete a sort that was never meant. */
  private def d7KeepSet(spark: SparkSession, dir: String): DataFrame = {
    // r18 reshape (the d7 clean-read creep, r17 watch item 1): the
    // original form DERIVED the removals (fps ⋈ groupBy-min back-join,
    // then EXCEPT) and so paid two fps scans, the groupBy exchange, the
    // join, and EXCEPT's distinct shuffles on BOTH sides — ~3 shuffle
    // stages to express "first doc of each content group". The keep set
    // is directly expressible instead: row_number over (fp, doc_id) = 1
    // — ONE fps scan and ONE exchange, and the rank filter is
    // WindowGroupLimit-eligible, so each map task forwards only its
    // per-fp minimum before the shuffle (shuffle volume = distinct fps,
    // the same reduction groupBy's partial agg bought, without the
    // join-back). The near-dup removals then subtract via LEFT ANTI
    // (broadcast locally; hash-shuffle at scale) — EXCEPT's extra
    // distinct was pure overhead: fps carries one row per doc_id by
    // construction, so the anti join is set-identical.
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    cachedFps(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id")
      .join(verifiedPairs(spark, dir).select(col("doc_b").as("doc_id")),
        Seq("doc_id"), "left_anti")
  }

  /** The certification-ELIGIBLE set — d7's dedup keep set minus t8's
    * decontamination flags, i.e. t12's composition BEFORE the quality
    * floor. Both export policies (t12's v1 floor and the export-delta's
    * v2 reweighting) filter THIS set by quality, so the delta between
    * them is purely a quality-boundary move — shared here so the two
    * consumers cannot diverge in what "eligible" means. */
  private[graft] def certEligible(spark: SparkSession, dir: String): DataFrame =
    d7KeepSet(spark, dir)
      .join(t8Decontaminate(spark, dir).select("doc_id"), Seq("doc_id"), "left_anti")

  /** d8 — edit-distance verify over LSH candidates: exact Levenshtein on
    * the candidate pairs (the character-level complement of d4's set-based
    * Jaccard — catches reorder-free edits Jaccard underweights). Same
    * restriction discipline: O(len²) work runs ONLY on candidate pairs,
    * and two bounds keep each pair cheap at any document length:
    * (1) a length-delta prefilter (edit distance ≥ |len(a)−len(b)|, so
    * pairs beyond the threshold never reach the DP at all) and (2) the
    * bounded 3-arg `levenshtein(a, b, k)`, whose banded DP early-exits at
    * O(len·k) instead of O(len²) and returns −1 above the threshold —
    * semantically identical output to the unbounded form + filter.
    *
    * Bench note (round-8 probe): d8's ~2.7 s at sf0.1 is NOT the DP — the
    * 2312 banded DPs over ~300-char near-dup texts cost ~0.2 s spread
    * across cores, and repartitioning any input moves nothing. ~1 s is
    * whole-stage codegen compilation of this plan (codegen off: 2.7→1.5 s)
    * and the rest is broadcast/stage overhead — all per-ACTION constants
    * that vanish relative to the DP as the candidate count grows, so this
    * is a fixture-scale artifact, not a 100 TB concern. */
  def d8LevenshteinVerify(spark: SparkSession, dir: String): DataFrame = {
    val maxDist = 40
    // r18 optimization round — three changes, same output (oracle-proven):
    //   1. Text comes off the checkpointed toks snapshot (same rows as
    //      corpus() by construction) instead of re-running the 3-scan
    //      union + regexp mutant derivation on BOTH join sides: the old
    //      plan carried SIX documents.parquet scans per rep.
    //   2. The PAIR side broadcasts explicitly (guide §3.1): the old plan
    //      broadcast the whole corpus-with-text on the second join — at
    //      100 TB that side is corpus-proportional and over any broadcast
    //      cap, while the candidate side is LSH-output-proportional by
    //      construction. Two candidate-proportional broadcasts, the
    //      corpus scanned (never shuffled, never broadcast) twice.
    //   3. The DP is guarded INSIDE one conditional expression: the old
    //      `.filter(between(0, maxDist))` was pushed into the join
    //      condition, where `lev >= 0 AND lev <= 40` ran the banded DP
    //      twice per candidate BEFORE the length prefilter (the optimizer
    //      ordered the pushed conjuncts ahead of it — plan excerpt in
    //      OPTIMIZATION_r18.md). The when() makes length-gate-then-DP one
    //      expression the optimizer cannot split or reorder, and
    //      `>= 0` keeps the exact between(0, maxDist) semantics because
    //      the 3-arg levenshtein returns −1 above its threshold.
    //   4. (r19, VERDICT r18 task 2) the pair-side hints are SIZE-BOUNDED:
    //      an unconditional broadcast() disables Spark's own size check,
    //      and the candidate side — LSH-output-proportional, with full
    //      text attached on the second join — has no a-priori cap; a
    //      pathological LSH band at 100 TB could OOM the driver through
    //      the hint. The contract reads the candidate SNAPSHOT's on-disk
    //      size (plan statistics of the checkpointed parquet — a
    //      driver-side metadata read, no job): at or under
    //      graft.d8.broadcastMaxBytes (default 8 MB — pairs are two
    //      BIGINTs, so even with ~100x expansion from the attached texts
    //      the built relation stays well under broadcast limits) both
    //      joins keep the broadcast; past it they fall back to
    //      SHUFFLE_HASH with the pair side as build — the same join
    //      sides, per-partition hash tables instead of a driver-held
    //      relation, corpus still never sorted or broadcast. D8ShapeSpec
    //      pins that the fallback engages under a forced tiny bound and
    //      returns identical rows.
    val c = cachedToks(spark, dir).select(col("doc_id"), col("text"))
    val cands = cachedCands(spark, dir)
    val candsBytes = cands.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxBytes = BigInt(spark.conf.getOption("graft.d8.broadcastMaxBytes")
      .map(_.toLong).getOrElse(8L << 20))
    def pairSide(df: DataFrame): DataFrame =
      if (candsBytes <= maxBytes) broadcast(df) else df.hint("shuffle_hash")
    val withA = c
      .join(pairSide(cands), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("text").as("text_a"))
    c.join(pairSide(withA), col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        when(abs(length(col("text_a")) - length(col("text"))) <= maxDist,
          levenshtein(col("text_a"), col("text"), maxDist))
          .otherwise(lit(-1)).as("edit_distance"))
      .filter(col("edit_distance") >= 0)
      .orderBy("doc_a", "doc_b")
  }

  /** d10 — CONTAINMENT verify on LSH candidates: |A∩B|/|A| and |A∩B|/|B|
    * in integer micro-units. Symmetric Jaccard under-scores SUBSET
    * duplication — a document quoted whole inside a larger one has a small
    * intersection/union ratio but ∩/|small| ≈ 1 — and containment is the
    * standard production metric for that case (the containment variant of
    * MinHash dedup). Emits every LSH candidate pair that shares at least
    * one shingle (a band collision with zero real overlap has no ∩ row to
    * aggregate and drops out — same semantics in the oracle), with the
    * shared-shingle count and BOTH directed containments; thresholding is
    * the consumer's policy, as in d8. The drop-first-word mutants are
    * exactly contained in their sources (their shingle set loses only the
    * cut-point 3-gram), so contain_b_micro is exactly 1,000,000 on every
    * planted pair — pinned by PropertySpec.
    *
    * Numeric discipline: shared * 1e6 is an exact double (< 2^53), the
    * division one IEEE op, floor-to-BIGINT — the t2/t7 cross-engine rule.
    * Plan shape at 100 TB: per-row arithmetic over [[cachedSharedCounts]]
    * — the pairwise surface is LSH candidates only (never all pairs), and
    * the expensive shingle-join chain is the shared checkpointed base, not
    * a per-query recomputation (the r8 driver bench measured the live
    * re-derivation at 7.4x baseline; this is the fix). */
  def d10ContainmentVerify(spark: SparkSession, dir: String): DataFrame =
    cachedSharedCounts(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        floor(col("shared").cast("double") * 1000000.0 /
          col("na").cast("double")).cast("bigint").as("contain_a_micro"),
        floor(col("shared").cast("double") * 1000000.0 /
          col("nb").cast("double")).cast("bigint").as("contain_b_micro"))
      .orderBy("doc_a", "doc_b")

  /** d9 — dedup CLUSTERING via connected components: the graph-correct
    * generalization of d7's pairwise drop. Pairwise "drop the greater id
    * of every pair" equals component-min only when the dup relation is
    * transitive; on pairs {(a,c),(b,c)} it keeps BOTH a and b even though
    * all three are one duplicate cluster — production dedup (the standard
    * LSH pipeline) therefore runs connected components over the dup-pair
    * graph and keeps one doc per component. Edges here are the verified
    * near-dup pairs (jpairs) plus exact-dup star edges (each doc to its
    * fingerprint group's min), so the components cover both tiers.
    *
    * Algorithm: min-label propagation WITH pointer jumping — labels start
    * as own id; each round every vertex takes the min of its own, its
    * neighbors', and its current label's label (the shortcut step). Plain
    * propagation needs diameter-many rounds, so a chain-shaped cluster
    * (doc → mutant → mutant-of-mutant …) of depth d costs d joins; the
    * shortcut halves the remaining distance to the component min every
    * round, so convergence is O(log d) — 40 rounds covers any graph a
    * 64-bit id space can hold. Each round is two joins + one groupBy, and
    * the label frame is checkpointed so lineage stays flat. If a reliable
    * checkpoint dir is configured (`sc.setCheckpointDir`) the per-round
    * checkpoint goes there — surviving executor loss mid-loop; otherwise
    * it falls back to localCheckpoint, whose blocks live on executors and
    * do NOT survive one dying (fine single-node, a rerun-the-query risk on
    * a cluster — configure a checkpoint dir there). If the cap is somehow
    * hit, the loop degrades to best-effort labels with a stderr warning
    * rather than failing the job: partially-converged labels still
    * under-merge (keep too many docs), never corrupt. Emits (doc_id,
    * component, is_keeper) for every doc in any duplicate relation. */
  def d9DedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val near = verifiedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val fps = cachedFps(spark, dir)
    val keeps = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val exact = fps.join(keeps, "fp")
      .filter(col("doc_id") > col("keep_id"))
      .select(col("keep_id").as("doc_a"), col("doc_id").as("doc_b"))
    val dir1 = near.unionByName(exact)
    minLabelComponents(spark, dir1).labels
      .select(col("doc_id"), col("comp").as("component"),
        (col("doc_id") === col("comp")).cast("bigint").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Result of [[minLabelComponents]]: the converged labels plus the round
    * count (observability for the convergence contract — PropertySpec pins
    * O(log d); queries ignore it). A return value rather than a shared
    * mutable cell: suites running in parallel in one JVM must not clobber
    * each other's counts between a call and its assertion. */
  private[graft] case class CcResult(labels: DataFrame, rounds: Int)

  /** d9's per-round convergence verdict from the fused probe's observed
    * metric: true when some label changed, so the loop runs another
    * round. The metric arrives on the listener bus moments after the
    * eager checkpoint returns; one still missing after `wait` (a lost
    * listener event) reads as CHANGED — one more round, which converged
    * labels render a no-op. It is never recomputed: the probe's lineage
    * reads the previous round's labels, whose files the reliable
    * checkpoint tier has already deleted by then. */
  private[graft] def labelsChanged(metric: scala.concurrent.Future[Row],
      wait: scala.concurrent.duration.Duration): Boolean =
    scala.util.Try(scala.concurrent.Await.result(metric, wait)) match {
      case scala.util.Success(row) => row.getAs[Long]("n_changed") != 0L
      case scala.util.Failure(_) =>
        System.err.println(
          "[graft] d9 observed metric missing; running one more round")
        true
    }

  /** Min-label connected components with pointer jumping (the d9 core,
    * factored so the convergence contract is testable on synthetic graphs
    * the corpus can't produce — e.g. a 200-deep chain). Input: undirected
    * edges as one (doc_a, doc_b) row per edge (either orientation).
    * Output labels: (doc_id, comp) for every vertex, comp = component-min.
    *
    * Checkpoint hygiene: the reliable tier writes each round's label frame
    * as parquet under the configured checkpoint dir (Hadoop FS API, so
    * HDFS/S3 on a cluster — surviving executor loss mid-loop like
    * `df.checkpoint(true)` would) and DELETES the previous round's files
    * once the new round is durable. Spark's own reliable checkpoints are
    * only GC-cleaned under `spark.cleaner.referenceTracking
    * .cleanCheckpoints=true`, so a deep loop would otherwise leave up to
    * `rounds` copies of the label frame on the cluster FS for the job's
    * lifetime (the r8 advice). Only the FINAL round's files remain — the
    * returned labels read them lazily — and they go when the caller's job
    * cleans its checkpoint dir. */
  private[graft] def minLabelComponents(spark: SparkSession, dir1: DataFrame): CcResult = {
    val edges = dir1.unionByName(
      dir1.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val ckptBase = spark.sparkContext.getCheckpointDir.map(d =>
      s"$d/graft-cc-${java.util.UUID.randomUUID()}")
    var prevPath: Option[String] = None
    var ckptSeq = 0
    def ckpt(df: DataFrame): DataFrame = ckptBase match {
      case Some(base) =>
        val path = s"$base/round-$ckptSeq"; ckptSeq += 1
        // the write IS the materialization (same eagerness as
        // checkpoint(true)); it reads the previous round's files, so only
        // after it completes is the previous round safely deletable
        df.write.mode("overwrite").parquet(path)
        prevPath.foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
        prevPath = Some(path)
        spark.read.parquet(path)
      case None => df.localCheckpoint(true)
    }
    var labels = ckpt(edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("comp", col("doc_id")))
    var converged = false
    var rounds = 0
    val maxRounds = 40 // O(log diameter) with shortcutting; 2^40 > any id space
    while (!converged && rounds < maxRounds) {
      val viaNeighbors = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("comp").as("ncomp")),
          "doc_b")
        .groupBy(col("doc_a")).agg(min(col("ncomp")).as("min_n"))
        .withColumnRenamed("doc_a", "doc_id")
      val propagated = labels.as("l").join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("l.comp"), coalesce(col("min_n"), col("l.comp"))).as("comp"),
          col("l.comp").as("prev"))
      // pointer jumping: comp ← label(comp). Labels always point at real
      // vertex ids (mins of vertex ids), so the lookup is total; the left
      // join + coalesce is belt-and-braces, not a semantic branch. Round 1
      // skips the jump: labels are still the identity there, so
      // label(comp) == comp by construction — the join would shuffle the
      // whole label frame to compute a no-op.
      val jumped =
        if (rounds == 0) propagated
        else propagated.as("p")
          .join(labels.select(col("doc_id").as("comp"), col("comp").as("jump")),
            Seq("comp"), "left")
          .select(col("doc_id"),
            least(col("p.comp"), coalesce(col("jump"), col("p.comp"))).as("comp"),
            col("p.prev").as("prev"))
      // r19 optimization round (VERDICT r18 task 7): the convergence probe
      // is FUSED into the checkpoint action via an observed metric — the
      // changed-row count is computed by the same tasks that materialize
      // the round (CollectMetrics sits under the checkpoint/write), so
      // each round is ONE job instead of two (materialize + re-scan), and
      // `prev` no longer needs to ride through the checkpoint at all (the
      // written label frame narrows to (doc_id, comp)). count(when(...))
      // rather than sum(when(...)): count is never null on an empty frame.
      val obs = org.apache.spark.sql.Observation()
      val next = ckpt(jumped
        .observe(obs, count(when(col("comp") =!= col("prev"), true))
          .as("n_changed"))
        .select("doc_id", "comp"))
      converged = !labelsChanged(obs.future,
        scala.concurrent.duration.Duration(10, "s"))
      labels = next
      rounds += 1
    }
    if (!converged)
      // best-effort degrade: under-merged labels keep extra docs (safe for
      // dedup — never drops a unique doc); a hard failure here would turn a
      // data property into a job abort on a multi-hour 100 TB run
      System.err.println(
        s"[graft] d9 label propagation unconverged after $maxRounds rounds; emitting best-effort labels")
    CcResult(labels, rounds)
  }

  /** Token statistics: whitespace tokens + a BPE-ish ≤4-char alnum piece
    * count (greedy regex — same segmentation in both engines). */
  def t1TokenStats(spark: SparkSession, dir: String): DataFrame =
    cachedToks(spark, dir)
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        length(col("text")).as("n_chars"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]{1,4}"), lit(0)))
          .as("n_bpe_pieces"))
      .orderBy("doc_id")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** The t2 signal frame — one cachedToks scan carrying the three quality
    * signals (plus `text` for the length terms). ONE definition shared by
    * the v1 score and the export-delta's v2 reweighting
    * ([[graft.queries.ExportQueries.xExportDelta]]), so the two policies
    * cannot drift in signal semantics. */
  private[graft] def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    cachedToks(spark, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isInCollection(stopwords))))
      .withColumn("n_punct",
        size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))))

  /** The weighted micro-score over [[qualitySignals]]' columns —
    * parameterized weights, same expression tree otherwise, so a
    * reweighted policy is the SAME arithmetic with different literals
    * (v1 = 0.5/0.3/0.2; the export-delta's v2 = its own constants). */
  private[graft] def qualityMicroCol(
      wStop: Double, wPunct: Double, wLen: Double): Column =
    floor(
      (col("n_stop").cast("double") /
        greatest(col("n_tokens").cast("double"), lit(1.0)) * wStop +
        (lit(1.0) - least(col("n_punct").cast("double") /
          greatest(length(col("text")).cast("double"), lit(1.0)), lit(1.0))) * wPunct +
        least(length(col("text")).cast("double"), lit(500.0)) / 500.0 * wLen) *
        lit(1000000.0)).cast("bigint")

  /** Quality score: stopword ratio, punctuation density, length saturation
    * — weighted to [0,1] like production pretraining-data filters. Emitted
    * as integer micro-units via floor: round() interprets the SAME double
    * differently across engines at exact half-boundaries (Spark rounds the
    * exact binary expansion, DuckDB the shortest decimal repr), and the
    * rational inputs here DO land on halves; floor of an identical double
    * is identical everywhere. */
  def t2QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualitySignals(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("n_punct"),
        qualityMicroCol(0.5, 0.3, 0.2).as("quality_micro"))
      .orderBy("doc_id")

  /** Language ID: distinctive-stopword vote with a fixed precedence order —
    * a deterministic n-gram-heuristic classifier. */
  def t3LangId(spark: SparkSession, dir: String): DataFrame = {
    val sets = Seq(
      "en" -> Seq("the", "and", "of", "is"),
      "de" -> Seq("der", "die", "und", "ist"),
      "es" -> Seq("el", "la", "y", "es"),
      "fr" -> Seq("le", "la", "et", "est"))
    val counted = sets.foldLeft(cachedToks(spark, dir)) {
      case (df, (l, ws)) =>
        df.withColumn(s"c_$l", size(filter(col("toks"), t => t.isInCollection(ws))))
    }
    counted.select(col("doc_id"), col("lang").as("labeled_lang"),
        col("c_en"), col("c_de"), col("c_es"), col("c_fr"),
        when(col("c_en") >= greatest(col("c_de"), col("c_es"), col("c_fr")), "en")
          .when(col("c_de") >= greatest(col("c_es"), col("c_fr")), "de")
          .when(col("c_es") >= col("c_fr"), "es")
          .otherwise("fr").as("predicted_lang"))
      .orderBy("doc_id")
  }

  /** Document fingerprints: whole-content md5 + winnowing-style min-shingle
    * hash (= MinHash seed 0) for robust-to-reorder matching. */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = cachedFps(spark, dir).select(col("doc_id"), col("fp").as("fp_md5"))
    // distinct base: min over a set equals min over the bag, and the
    // distinct shingles are already cached for the LSH pipeline
    val winnow = distinctShingles(spark, dir).groupBy(col("doc_id"))
      .agg(min(md5(col("shingle"))).as("fp_winnow"))
    fp.join(winnow, Seq("doc_id"), "left")
      .select("doc_id", "fp_md5", "fp_winnow")
      .orderBy("doc_id")
  }

  // PII patterns shared verbatim by the Column plan and the oracle (RE2-
  // and java.util.regex-compatible subset: no lookarounds, no \b)
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"

  /** t5 — PII redaction (the scrub pass every pretraining pipeline runs
    * before anything else): count and mask emails and URLs. The corpus has
    * no natural PII, so docs with doc_id%11==0 get a deterministic planted
    * contact line (same string built by both engines) — the redactor has
    * real positives to find. Emails are replaced before URLs so the two
    * patterns cannot interact. Pure regexp_replace/extract_all Column
    * expressions — codegen'd, no UDF, embarrassingly parallel at any
    * scale. */
  def t5RedactPii(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"), lit(" contact bob"),
      col("doc_id").cast("string"), lit("@example.com via https://example.com/d/"),
      col("doc_id").cast("string"))
    corpus(spark, dir)
      .withColumn("t", when(col("doc_id") % 11 === 0, planted).otherwise(col("text")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(UrlRe), lit(0))).as("n_urls"),
        regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
          UrlRe, "<URL>").as("redacted"))
      .orderBy("doc_id")
  }

  /** t6 — top corpus terms (length ≥ 4 to skip particles): the classic
    * distributed wordcount with a deterministic (count desc, token asc)
    * top-k. One shuffle on token; the k-row result plans as
    * TakeOrderedAndProject — no global sort at any corpus size. */
  def t6TopTerms(spark: SparkSession, dir: String): DataFrame =
    cachedToks(spark, dir)
      .select(explode(col("toks")).as("token"))
      .filter(length(col("token")) >= 4)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  /** t7 — TF-IDF term weighting (keyword extraction / relevance scoring,
    * the term-importance pass behind quality and topic filters): tf per
    * (doc, token) over tokens of length >= 4 (t6's particle skip), a
    * BM25-style RATIONAL idf `(N - df + 0.5) / (df + 0.5)`, and the
    * per-doc top-3 terms. The idf is deliberately transcendental-free:
    * `ln` routes through each engine's libm (Java intrinsic vs glibc)
    * whose last-ulp results are not contractually identical, while
    * +,-,*,/ are IEEE-exact in both — so the score DOUBLE is bit-identical
    * across engines, and it is emitted in integer micro-units via floor
    * (the t2 discipline: round() interprets boundary doubles differently
    * per engine; floor of an identical double is identical everywhere).
    * Ranking uses the integer (rank-after-round discipline); ties break
    * token-asc. N rides a broadcast 1-row aggregate (the t14 `tot`
    * pattern) so the whole query is ONE action — the previous driver-side
    * count() was an extra corpus pass per call; tf and df are one shuffle
    * each, the top-3 a per-doc window — no all-pairs, no global sort. */
  def t7TfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val base = cachedToks(spark, dir)
    val nd = base.agg(count(lit(1)).cast("double").as("n_docs_total"))
    val tok = base.select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(length(col("token")) >= 4)
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // df as a re-aggregation of tf: tf already holds exactly one row per
    // distinct (doc, token), so df counts tf's rows per token (r19; it
    // used to be `tok.distinct()` then groupBy(token)). This is a
    // readability change, not a plan change: the optimizer prunes tf's
    // unused count on the df side, so that side still plans as a
    // distinct with its own (doc_id, token) exchange — nodes 12–14 of
    // plans/r19/t7_tfidf_terms_after.txt, beside tf's nodes 5–7. The
    // committed _before file equals the _after one: it shows this code,
    // not the old one.
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("token"), col("tf"),
        floor(col("tf").cast("double") *
            (col("n_docs_total") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
            lit(1000000.0))
          .cast("bigint").as("score_micro"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("token").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id", "token", "tf", "score_micro", "rk")
      .orderBy("doc_id", "rk")
  }

  /** Benchmark-slice membership — ONE definition for t8's scrub verdict
    * and t31's magnitude report (a second inline copy is exactly how the
    * two would silently diverge when the rule moves; the oracle twins
    * render the same predicate). */
  private def isBenchDoc(c: Column): Column = c % 97 === 0 && c < 1000000L

  /** The benchmark slice's distinct shingles (broadcast side of both
    * contamination queries) and the training-doc shingle rows. */
  private def benchSplit(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val dsh = distinctShingles(spark, dir)
    (dsh.filter(isBenchDoc(col("doc_id"))).select("shingle").distinct(),
      dsh.filter(!isBenchDoc(col("doc_id"))))
  }

  /** t8 — benchmark decontamination: flag corpus docs sharing >= 3 word
    * 3-gram shingles with a held-out eval set (base doc_id % 97 == 0 —
    * the "benchmark") — the train/test-overlap scrub every production
    * pretraining pipeline runs before training. The benchmark shingle
    * set is tiny (N/97 docs) and BROADCAST; the corpus side is the
    * already-checkpointed distinct-shingle base, so the check is one
    * broadcast equi-join + one groupBy — at 100 TB the eval set stays
    * broadcast-able by construction (eval sets are small) and no
    * all-pairs surface exists. The planted corpus mutants of benchmark
    * docs are guaranteed positives. */
  def t8Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (bsh, train) = benchSplit(spark, dir)
    train
      .join(broadcast(bsh), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .filter(col("n_shared_shingles") >= 3)
      .orderBy("doc_id")
  }

  /** t31 — contamination overlap MAGNITUDE: where t8 emits the binary
    * scrub verdict (≥3 shared shingles → drop), this emits the evidence —
    * for every training doc with ANY benchmark shingle overlap, its
    * distinct-shingle count, the shared count, and the overlap fraction
    * in exact integer micro-units. The report a decontamination review
    * actually reads: thresholds move (n-gram order, 1 vs 3 shared, frac
    * vs count) and the magnitude table re-answers them all without a
    * re-scan. Same plan shape as t8 — broadcast benchmark shingle set,
    * one doc_id aggregation over the shared distinct-shingle base — plus
    * one join back to per-doc totals (doc_id-keyed). */
  def t31ContaminationFraction(spark: SparkSession, dir: String): DataFrame = {
    val (bsh, train) = benchSplit(spark, dir)
    val totals = train.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    train.join(broadcast(bsh), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(totals, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        expr("(n_shared * 1000000) div n_shingles").as("overlap_micro"))
      .orderBy("doc_id")
  }

  /** t11 — repetition scoring (the Gopher-style "repetitious document"
    * filter production pretraining pipelines run alongside t2's quality
    * score): the fraction of a document's word bigrams occupied by its
    * single most frequent bigram, in integer micro-units (the t2 floor
    * discipline). A looping generator or boilerplate page scores high and
    * gets dropped; natural text stays low. Two shuffles, both keyed by
    * doc_id(+bigram) — per-doc state never leaves its partition group, no
    * global structure anywhere, so the plan is flat at any corpus size. */
  def t11Repetition(spark: SparkSession, dir: String): DataFrame =
    cachedBigrams(spark, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        floor(col("top_bigram_n").cast("double") /
            col("n_bigrams").cast("double") * 1000000.0)
          .cast("bigint").as("rep_micro"))
      .orderBy("doc_id")

  /** Checkpointed per-doc bigram counts (doc_id, w1, bigram, n) — the
    * shared base of the bigram tier (t11's repetition signal and t17's
    * LM scoring). Before this base, each consumer re-ran the bigram
    * explode from toks per table reference — t17 ran it THREE times per
    * call (c2, c1, and the scoring join), and an r9 post-Verify bench
    * process caught exactly that at 2.8x (3.2 s) while warm processes
    * sat at 1.1 s: lineage recompute is where cold-cache pressure bites.
    * Collapsing positions to per-doc counts first also shrinks every
    * downstream shuffle: corpus-wide counts become SUM(n) over the
    * snapshot, and the scoring join matches distinct (doc, bigram) rows
    * instead of positions. */
  private def cachedBigrams(spark: SparkSession, dir: String): DataFrame =
    checkpointed(spark, dir, "bigrams", files = 2)(
      cachedToks(spark, dir)
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("toks")) - 2),
            i => struct(
              element_at(col("toks"), i + 1).as("w1"),
              array_join(slice(col("toks"), i + 1, lit(2)), " ").as("bigram"))))
            .as("t"))
        .select(col("doc_id"), col("t.w1").as("w1"), col("t.bigram").as("bigram"))
        .groupBy(col("doc_id"), col("w1"), col("bigram"))
        .agg(count(lit(1)).as("n")))

  /** t9's per-language mixing table, inlined into BOTH the Column plan and
    * the oracle SQL so the twins cannot drift: (lang, keep threshold over
    * the 32-bit hash space, epochs). Thresholds are exact long literals —
    * no double rate multiplication whose rounding could differ by engine.
    * en: keep 1/2 x1, de: keep 3/4 x2, es: keep 1/4 x1, fr: keep 1/4 x2,
    * zh: keep 1/8 x1; unknown languages drop (threshold 0). */
  private val MixWeights: Seq[(String, Long, Int)] = Seq(
    ("en", 1L << 31, 1),
    ("de", 3L << 30, 2),
    ("es", 1L << 30, 1),
    ("fr", 1L << 30, 2),
    ("zh", 1L << 29, 1))

  /** The x_train_val_split assignment — salted md5 slice of the doc_id
    * against [[SplitValPct]] — shared by the batch split
    * ([[graft.queries.ExportQueries.xTrainValSplit]]) and the streaming
    * annotator ([[graft.streaming.EventStream.assignSplitAtIngest]]): one
    * definition, so a document lands on the same side in both by
    * construction (the mixHash discipline). */
  private[graft] val SplitSeed = "split:7|"
  private[graft] val SplitValPct = 10L
  private[graft] def splitAssignCol(docId: Column): Column =
    when(conv(substring(
          md5(concat(lit(SplitSeed), docId.cast("string"))),
          1, 8), 16, 10).cast("bigint") % 100L < SplitValPct,
      lit("val")).otherwise(lit("train"))

  /** The mixing columns, shared by batch t9 and the streaming ingest twin
    * (streaming/EventStream.sampleMixAtIngest) — one definition, so the
    * sampling decision for a document is identical in both by
    * construction (the Fingerprint-sharing discipline). */
  private[graft] def mixHash: Column =
    conv(substring(
        md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
  private def mixCase(f: ((String, Long, Int)) => Long): Column =
    MixWeights.foldLeft(lit(0L): Column) { // unknown language -> 0: drop
      case (acc, w) => when(col("lang") === w._1, f(w)).otherwise(acc)
    }
  private[graft] def mixThreshold: Column = mixCase(_._2)
  private[graft] def mixEpochs: Column = mixCase(_._3.toLong)

  /** t9 — training-mix sampling: the per-slice rate + epoch-repeat pass
    * that turns a raw corpus into a training mixture (downsample the big
    * web crawl, upsample the high-quality slices — the data-mixing step
    * every pretraining run tunes; production keys the table by `source`,
    * the fixture's `lang` column stands in). Membership is decided by a salted md5
    * slice of the doc_id against a per-language threshold — DETERMINISTIC
    * sampling, so the mix is reproducible run-to-run and engine-to-engine
    * (Bernoulli rand() could never hash-match an oracle), and epochs are
    * emitted by exploding a 1..n sequence. Plan shape at 100 TB: a
    * stateless filter + generate — embarrassingly parallel, zero shuffle;
    * the mixing table is query metadata, not data. */
  def t9SampleMix(spark: SparkSession, dir: String): DataFrame = {
    val thr = mixThreshold
    val epochs = mixEpochs
    corpus(spark, dir)
      .filter(mixHash < thr)
      // every row past the filter has epochs >= 1: a (thr>0, epochs=0)
      // table entry must never exist, because Spark's sequence(1, 0) steps
      // DOWNWARD to [1, 0] where DuckDB's range(1, 1) is empty — the one
      // place the twins would diverge
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), epochs)).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Token budget per packed training sequence (t10). */
  private val PackBudget = 512L

  /** t10 — sequence packing: concatenate documents into fixed-token-budget
    * training sequences (the batch-shaping pass between dedup/filter and
    * the trainer; unpacked batches waste the padded tail of every row).
    * Greedy in-order pack per language: running token cumsum, and a doc
    * starts sequence floor((cum - t) / budget) — docs longer than the
    * budget are clamped to it (production splits them; the clamp keeps
    * every sequence's accounting exact). Emits per-sequence shape stats.
    * Plan shape at 100 TB: ONE window + ONE groupBy, both keyed by the
    * pack partition. Packing is inherently sequential WITHIN a partition
    * (each seq_id depends on every predecessor's length), so production
    * keys the window by (lang, shard) to bound partition size — the
    * fixture's 5 languages stand in for those shards; no global sort or
    * single-partition window anywhere. */
  def t10PackSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    cachedToks(spark, dir)
      .select(col("doc_id"), col("lang"),
        least(size(col("toks")).cast("bigint"), lit(PackBudget)).as("t"))
      .withColumn("cum", sum(col("t")).over(w))
      // long/long division is DOUBLE in both engines; values < 2^53 keep
      // it exact, and floor of an identical double is identical everywhere
      .withColumn("seq_id",
        floor((col("cum") - col("t")).cast("double") / PackBudget.toDouble)
          .cast("bigint"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("seq_tokens"))
      .orderBy("lang", "seq_id")
  }

  /** t13's chunk width in tokens (small because fixture docs average ~54
    * tokens; production uses 100–1000). */
  private val ChunkTokens = 25

  /** t13 — chunk-level dedup: duplicate detection at SUB-document
    * granularity (the fine-grained pass code/web pipelines run after
    * doc-level dedup — a page is unique overall but half its chunks are
    * boilerplate shared with thousands of others). Documents are cut into
    * fixed [[ChunkTokens]]-token chunks by array slicing (no explode of
    * token rows), each chunk md5-keyed, and a chunk group is reported when
    * the same content appears more than once — across docs or repeated
    * within one. Exact doc copies (the %7 planted mutants) share every
    * chunk by construction. Fixed-boundary chunking deliberately misses
    * the drop-first-word mutants (boundaries shift by one token) — that is
    * the documented weakness [[t15CdcChunkDedup]]'s content-defined
    * boundaries fix, and the doc-level d-pipeline already catches those. One shuffle on the chunk
    * hash; group state is (hash, counts) — flat at any corpus size. */
  def t13ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    cachedToks(spark, dir)
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), ceil(size(col("toks")).cast("double") / ChunkTokens).cast("int") - 1),
          i => md5(array_join(slice(col("toks"), i * ChunkTokens + 1, lit(ChunkTokens)), " "))))
          .as("chunk_md5"))
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_occurrences") > 1)
      .orderBy("chunk_md5")

  /** CDC boundary density: a token OPENS a new chunk when its md5-slice
    * % CdcMod == 0, so chunks average ~CdcMod tokens. Chunks under
    * CdcMinTokens are dropped: single-token chunks carry no dedup signal
    * and their hashes ("the") would be corpus-wide hot keys — the skew
    * bomb of the chunk_md5 shuffle at scale. */
  private val CdcMod = 8
  private val CdcMinTokens = 3

  /** t15 — CONTENT-DEFINED chunk dedup: the rolling-hash upgrade t13's
    * scaladoc names as the fix for fixed-boundary chunking. Boundaries are
    * a pure function of token CONTENT (md5-slice % CdcMod == 0), not of
    * position — so inserting or deleting a token shifts every position
    * but re-aligns the chunking at the next boundary, and the planted
    * drop-first-word mutants (which t13 provably misses: every fixed
    * boundary shifts by one token) share all their post-first-boundary
    * chunks with their sources. Emits cross-doc duplicate chunks
    * (n_docs > 1): the sub-document duplication surface a quote-heavy or
    * re-templated corpus hides from whole-doc dedup.
    *
    * Plan shape at 100 TB: one shuffle partitions tokens by doc_id for
    * the boundary cumsum window; the (doc_id, chunk_no) grouping rides
    * that same partitioning (no second exchange — doc_id prefixes the
    * key); then one shuffle on chunk_md5 with the min-token filter
    * applied BEFORE it so stopword-sized chunks never become hot keys. */
  def t15CdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = cachedToks(spark, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))
      .withColumn("b",
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("bigint")
          % CdcMod === 0).cast("int"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.withColumn("chunk_no", sum(col("b")).over(w))
      .groupBy(col("doc_id"), col("chunk_no"))
      .agg(count(lit(1)).as("n_toks"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            x => x.getField("token")), " ")).as("chunk_md5"))
      .filter(col("n_toks") >= CdcMinTokens)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk_md5")
  }

  /** t12's quality floor in micro-units: the fixture corpus scores span
    * ~319k–572k with median ~454k, so this keeps roughly the better half —
    * a discriminative threshold, not a no-op. Inlined into the oracle. */
  private[queries] val CleanQualityFloor = 450000L

  /** t12 — the end-to-end "prepare my pretraining corpus" pass: the
    * composition a trainer actually consumes, stacked from the operators
    * above. A document survives iff it is in d7's exact+near dedup KEEP
    * set, NOT flagged by t8's benchmark decontamination, and at or above
    * the t2 quality floor; survivors carry t5's PII-redacted text. Each
    * stage rides its shared checkpointed/cached base (fps, jpairs,
    * shingles, toks), so composing adds doc_id-keyed joins — an anti-join
    * for the scrub, equi-joins for the rest — not recomputation. Plan
    * shape at 100 TB: every join key is doc_id, so the whole pass is one
    * co-partitioned join chain over bases that each exist for their own
    * operator; nothing new shuffles by anything but doc_id. */
  def t12CleanCorpus(spark: SparkSession, dir: String): DataFrame =
    t12CleanUnordered(spark, dir).orderBy("doc_id")

  /** t12's clean frame WITHOUT the presentation sort (the d7KeepSet
    * discipline): a consumer composing further work — the export count
    * audit, the shuffle-shard layout — rides the snapshot scan directly.
    * Under a window the embedded orderBy would NOT be elided (EliminateSorts
    * removes sorts below aggregations and joins, not below windows), so
    * composing the sorted form costs a full extra exchange+sort of the
    * clean corpus (caught by the x_shuffle_shards plan pin). */
  private[graft] def t12CleanUnordered(spark: SparkSession, dir: String): DataFrame =
    // CHECKPOINTED (round 12): three driver entries consume this chain —
    // t12 itself, the shard export, and the export count audit — and each
    // was re-deriving the full join cascade. One snapshot build serves
    // all three as a plain scan, which is also the 100 TB shape: a
    // pipeline WRITES its cleaned corpus once and every consumer reads
    // the materialization, not the lineage.
    checkpointed(spark, dir, "t12clean") {
      d7KeepSet(spark, dir)
        .join(t8Decontaminate(spark, dir).select("doc_id"), Seq("doc_id"), "left_anti")
        .join(t2QualityScore(spark, dir).select(col("doc_id"), col("quality_micro"))
          .filter(col("quality_micro") >= CleanQualityFloor), "doc_id")
        .join(t5RedactPii(spark, dir)
          .select("doc_id", "n_emails", "n_urls", "redacted"), "doc_id")
        .select("doc_id", "quality_micro", "n_emails", "n_urls", "redacted")
    }

  /** t14 — corpus unigram-LM fluency score: how "typical" each document's
    * tokens are under the corpus's own unigram distribution — the cheap
    * statistical cousin of the KenLM perplexity filter pretraining
    * pipelines run (rare-token-dense docs score low, stopword-y prose
    * scores high), plus the hapax count (tokens occurring exactly once
    * corpus-wide — OCR noise and mojibake are hapax-dense).
    *
    * Numeric discipline: LINEAR probability in integer micro-units, not a
    * log — floor(tf * 1e6 / total) is one double product and one IEEE
    * division, identical in both engines, where ln() is a libm call
    * neither engine guarantees to the last ulp (the t2 floor-not-round
    * rule, applied to transcendentals by avoiding them). The product is
    * EXACT only while tf < ~9e9 (tf*1e6 < 2^53) — true at any plausible
    * per-corpus-shard scale, but a 100 TB corpus-wide tf for a hot token
    * exceeds it; past that point cross-engine equality rests on both
    * engines executing the SAME IEEE multiply/divide (which they do), not
    * on the product being exact.
    * Per-token scores are floored to integers FIRST, then summed as
    * BIGINT — integer addition commutes, so partial-aggregation order
    * (Spark's map-side combine vs DuckDB's single pass) cannot move the
    * result. Docs whose token list is empty have no unigram evidence and
    * drop out (explode/unnest agree).
    *
    * Plan shape at 100 TB: the token frequency table is one shuffle on
    * token over the cached tokenized base (the t6 shape); scoring is a
    * second token-keyed join; the scalar total rides a broadcast. Nothing
    * shuffles by anything but token/doc_id. */
  def t14UnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val tok = cachedToks(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val tot = freq.agg(sum(col("tf")).cast("double").as("total"))
    tok.join(freq, "token")
      .crossJoin(broadcast(tot))
      .withColumn("prob_micro",
        floor(col("tf").cast("double") * 1000000.0 / col("total")).cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        floor(sum(col("prob_micro")).cast("double") / count(lit(1)))
          .cast("bigint").as("lm_score_micro"))
      .orderBy("doc_id")
  }

  /** t16's rule constants, inlined into BOTH the Column plan and the
    * oracle SQL. The bounds are the published Gopher quality-filter
    * heuristics (word count, mean word length 3–10 chars, ≥80% of words
    * alphabetic, symbol-to-word ratio, ≥2 distinct common stopwords),
    * with the word-count floor lowered to the fixture's scale (corpus
    * docs average ~54 tokens where Gopher's web pages average hundreds)
    * so the rule stays discriminative instead of dropping everything. */
  private val GopherMinWords = 30L
  private val GopherMaxWords = 10000L
  private val GopherMeanLenLoMicro = 3000000L
  private val GopherMeanLenHiMicro = 10000000L
  private val GopherAlphaFracMicro = 800000L
  private val GopherSymbolRatioMicro = 100000L
  private val GopherMinStopKinds = 2L

  /** t16 — Gopher-style document quality rules: the published heuristic
    * filter set pretraining pipelines run alongside t2's weighted score
    * and t11's repetition signal — word-count bounds, mean word length,
    * alphabetic-word fraction, symbol-to-word ratio (#/ellipsis), and the
    * ≥2-distinct-stopwords English gate. Emits every signal in integer
    * micro-units (the t2 floor discipline: one double product, one IEEE
    * division, floor — identical in both engines) plus the composed
    * `keep` verdict, so a consumer can re-threshold any rule without
    * recomputation. The stopword gate is English-only by construction
    * (as published); language routing is t3/t9's job, not this filter's.
    * The line-shape rules from the paper (bullet/ellipsis line fractions)
    * need multi-line documents, which the fixture corpus does not have —
    * deliberately out of scope rather than trivially-true.
    *
    * Plan shape at 100 TB: stateless per-row expressions over the
    * checkpointed tokenized corpus — no shuffle but the output sort,
    * embarrassingly parallel like t5. */
  def t16GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val (n, mean, alpha, sym, stops) = gopherSignals(col("text"), col("toks"))
    cachedToks(spark, dir)
      .withColumn("n_words", n)
      .withColumn("mean_word_len_micro", mean)
      .withColumn("alpha_frac_micro", alpha)
      .withColumn("symbol_ratio_micro", sym)
      .withColumn("n_stop_kinds", stops)
      .select(col("doc_id"), col("n_words"), col("mean_word_len_micro"),
        col("alpha_frac_micro"), col("symbol_ratio_micro"), col("n_stop_kinds"),
        gopherKeep(col("n_words"), col("mean_word_len_micro"),
          col("alpha_frac_micro"), col("symbol_ratio_micro"),
          col("n_stop_kinds")).as("keep"))
      .orderBy("doc_id")
  }

  /** t17 — corpus bigram-LM fluency score: the bigram upgrade of t14's
    * unigram score and the statistical cousin of the CCNet/KenLM
    * perplexity filter — for every token transition (w1, w2) in a
    * document, how probable is w2 given w1 under the corpus's own bigram
    * counts? Duplicated boilerplate scores high (its transitions dominate
    * the corpus), shuffled or mojibake text scores low (transitions are
    * novel), and `n_novel` (transitions occurring exactly once
    * corpus-wide) is the bigram hapax signal — OCR noise is novel-dense.
    *
    * Numeric discipline (the t14 rule): LINEAR conditional probability
    * c(w1,w2)/c(w1·) in integer micro-units via floor — one IEEE divide
    * and one multiply, identical in both engines, no ln(). Per-position
    * micro scores are floored FIRST, then summed as BIGINT, so partial
    * aggregation order cannot move the result. The conditioning count
    * c(w1·) counts w1 as a transition HEAD (positions 0..n-2), so
    * Σ_w2 P(w2|w1) = 1 exactly — a proper conditional distribution, not
    * the unigram count.
    *
    * Plan shape at 100 TB: one bigram explode off the checkpointed
    * tokenized corpus feeds BOTH count tables (a bigram-keyed and a
    * head-keyed shuffle — the t14/t6 shape) and the scoring joins are
    * bigram/head-keyed equi-joins; nothing shuffles by anything but
    * bigram, head token, or doc_id, and no all-pairs surface exists. */
  def t17BigramLm(spark: SparkSession, dir: String): DataFrame = {
    // tf rides the checkpointed bigram base: corpus counts are SUM(n)
    // re-aggregations of the snapshot, and the scoring join matches
    // distinct (doc, bigram) rows weighted by n — position semantics are
    // recovered exactly by the weights (every position of a bigram has
    // the same cond_micro)
    val tf = cachedBigrams(spark, dir)
    val c2 = tf.groupBy(col("bigram")).agg(sum(col("n")).as("c2"))
    val c1 = tf.groupBy(col("w1")).agg(sum(col("n")).as("c1"))
    tf.join(c2, "bigram")
      .join(c1, "w1")
      .withColumn("cond_micro",
        floor(col("c2").cast("double") * 1000000.0 / col("c1").cast("double"))
          .cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(when(col("c2") === 1, col("n")).otherwise(0L)).as("n_novel"),
        floor(sum(col("n") * col("cond_micro")).cast("double") / sum(col("n")))
          .cast("bigint").as("bigram_lm_micro"))
      .orderBy("doc_id")
  }

  /** t18 — corpus-wide duplicate n-gram fraction (the Gopher/RefinedWeb
    * repetition filter's CROSS-document face): for each document, the
    * fraction of its shingle positions whose 3-gram also appears in at
    * least one OTHER document. t11 measures within-doc repetition; this
    * measures how much of a document is boilerplate the corpus already
    * contains — the signal web pipelines threshold to drop templated
    * pages (headers, navigation, license blocks) that exact and near
    * dedup both miss because no WHOLE document matches.
    *
    * Micro-unit discipline as everywhere: integer position counts, one
    * double multiply + divide + floor for the fraction. Plan shape at
    * 100 TB: the occurrence explode rides the checkpointed toks base, the
    * per-shingle distinct-doc count rides the checkpointed distinct-
    * shingle base (both already materialized for the dedup tier), and the
    * scoring join is shingle-keyed — no pairwise surface at all, which is
    * the point: this catches diffuse duplication that pairwise dedup
    * cannot see without quadratic work. */
  def t18DupNgramFrac(spark: SparkSession, dir: String): DataFrame = {
    val occ = shingles(spark, dir) // one row per shingle POSITION
    val docCount = distinctShingles(spark, dir)
      .groupBy(col("shingle")).agg(count(lit(1)).as("ndocs"))
    // r19 optimization round (VERDICT r18 task 1, guide §2.5/§3.1): at
    // fixture scale the planner's stats used to BROADCAST one side of
    // this join — and the side it picked (the exploded position table)
    // is corpus-proportional, as is docCount (distinct-vocabulary-
    // proportional): NEITHER side of this join is broadcastable by
    // contract at 100 TB, so the scale-safe shape is made explicit
    // rather than left to fixture statistics. SHUFFLE_HASH with docCount
    // as the build side: both sides exchange hash(shingle), each probe
    // partition streams position rows against a per-partition (shingle,
    // ndocs) hash table — no sort (the per-key payload is one row), no
    // driver-side relation. Skew: hot shingles ("the end of"-type
    // 3-grams that appear in ~every doc) concentrate the PROBE side, and
    // because the join feeds from a fresh shuffle, AQE's skew-join
    // splitting applies (it splits an oversized probe partition into
    // mapper-range slices and replicates the build rows to each slice —
    // works even when one key owns the partition; aggregation-side
    // salting is NOT needed here because both aggregations — docCount's
    // and the final per-doc rollup — partial-aggregate map-side, which
    // collapses hot keys before their exchange). The plan change is
    // plans/r19/t18_dup_ngram_frac_{before,after}.txt (broadcast hash
    // join → shuffled hash join, docCount the build side); no timing of
    // it was recorded. The post-join rollup is keyed by doc_id, so the
    // shingle skew never reaches it.
    occ.join(docCount.hint("shuffle_hash"), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        floor(col("n_dup").cast("double") * 1000000.0 /
          col("n_shingles").cast("double")).cast("bigint").as("dup_frac_micro"))
      .orderBy("doc_id")
  }

  /** t22 — the per-(source, lang) mix audit: the provenance-level table a
    * training run reads BEFORE choosing sampling rates (t9 then executes
    * the chosen rates) — document count, token count, character mass, and
    * the distinct-fingerprint count whose gap to n_docs is the per-source
    * exact-duplication signal, plus mean tokens/doc in exact integer
    * micro-units (`DIV`, no doubles). Runs over the RAW documents table
    * (provenance is a raw-corpus property; the planted mutants carry no
    * source), with token counts ridden off the checkpointed toks base and
    * fingerprints off the checkpointed fps base via doc_id equi-joins
    * rather than re-tokenizing or re-hashing — so the raw scan reads only
    * the four provenance columns and prunes `text` entirely.
    *
    * Plan shape at 100 TB: one doc_id-keyed join, then aggregation onto
    * a (source, lang) key space that is SMALL by construction (sources ×
    * languages, thousands at most) — partial aggregation collapses each
    * partition to that key space before the one exchange; the distinct-fp
    * count plans as the standard two-phase distinct aggregate (partial on
    * (source, lang, fp)). The fingerprint is [[graft.ops.Fingerprint]] —
    * the ONE content-identity definition, so "duplicate" here means
    * exactly what d1/t4 and the ingest gates mean. */
  def t22SourceMix(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.plans.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val ntoks = cachedToks(spark, dir)
      .filter(col("doc_id") < 1000000L) // raw ids only: prune the mutants at the scan
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_toks"))
    val fps = cachedFps(spark, dir)
      .filter(col("doc_id") < 1000000L)
    raw.join(ntoks, "doc_id").join(fps, "doc_id")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("tot_chars"),
        countDistinct(col("fp")).as("uniq_fps"))
      .withColumn("mean_doc_tokens_micro",
        expr("CAST((n_tokens * 1000000) DIV n_docs AS BIGINT)"))
      .orderBy("source", "lang")
  }

  /** t23 — Zipf head-mass audit: per-language vocabulary concentration
    * over the tokenized corpus — token mass share of the top-10 and
    * top-100 ranked types plus the type/token ratio, the practical
    * power-law diagnostic a corpus-health dashboard tracks (a crawl slice
    * whose top-10 share collapses is boilerplate-flooded; one whose TTR
    * explodes is mojibake/OCR noise). A log-log regression slope is the
    * textbook Zipf statistic, but ln() is a libm call neither engine
    * guarantees to the last ulp (the t14 rule) — the concentration curve
    * carries the same signal in EXACT integer micro-units: pure BIGINT
    * sums and one `DIV` per share, bit-identical cross-engine.
    *
    * Plan shape at 100 TB: one (lang, token)-keyed count shuffle over the
    * checkpointed toks base (the t6 shape — partial aggregation collapses
    * each partition to its distinct types first), one per-lang rank
    * window over the type table (types ≪ tokens; Spark plans
    * WindowGroupLimit-style pruning is not needed since the aggregate
    * keeps all ranks), and a final aggregate onto the lang key space —
    * languages are dozens, so the last two stages are near-free. */
  def t23ZipfMass(spark: SparkSession, dir: String): DataFrame = {
    val tok = cachedToks(spark, dir)
      .select(col("lang"), explode(col("toks")).as("token"))
    val freq = tok.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("lang")).orderBy(col("tf").desc, col("token"))
    freq.select(col("lang"), col("tf"), row_number().over(w).as("rank"))
      .groupBy(col("lang"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("rank") <= 10, col("tf")).otherwise(0L)).as("top10_tf"),
        sum(when(col("rank") <= 100, col("tf")).otherwise(0L)).as("top100_tf"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        expr("CAST((top10_tf * 1000000) DIV n_tokens AS BIGINT)")
          .as("top10_share_micro"),
        expr("CAST((top100_tf * 1000000) DIV n_tokens AS BIGINT)")
          .as("top100_share_micro"),
        expr("CAST((n_types * 1000000) DIV n_tokens AS BIGINT)").as("ttr_micro"))
      .orderBy("lang")
  }

  /** t24 — deterministic weighted corpus sampling via PRIORITY SAMPLING
    * (Duffield–Lund–Thorup): each document gets priority w/u with weight
    * w = n_chars and u an md5-derived uniform in (0, 1]; the k highest
    * priorities per source are the sample. Character-mass weighting means
    * the sample covers bytes, not documents — the right frame when
    * downstream token budgets are what the mix must hit (t9 samples by
    * rate; this samples a FIXED k per stratum with inclusion probability
    * proportional to size). Determinism: u = (h+1)/2^32 from the salted
    * doc_id hash (the t9 mixHash discipline), priority computed as the
    * EXACT BIGINT product n_chars·2^32 divided by (h+1) — one IEEE
    * division, correctly rounded by both engines, so ranking (and the
    * tie-break by doc_id) is bit-identical cross-engine. The product is
    * exact while n_chars < 2^21 — any per-document character count; a
    * multi-GB blob would be chunked long before this stage.
    *
    * Plan shape at 100 TB: a stateless scan computing (source, priority)
    * plus one per-source top-k window — Spark 4 plans WindowGroupLimit,
    * so only each partition's top k rows survive into the shuffle; the
    * full corpus is never sorted and nothing but the winners moves. This
    * is the one-pass weighted subsample of a petabyte corpus. */
  def t24PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(
        md5(concat(lit("ps:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val pri = graft.plans.Tables.table(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        round((col("n_chars").cast("bigint") * lit(4294967296L)).cast("double") /
          (h + lit(1L)).cast("double"), 6).as("priority"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc, col("doc_id"))
    pri.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= PrioritySampleK)
      .orderBy("source", "rank")
  }

  /** Per-source sample size for t24 (5 of the fixture's 25 docs/source —
    * discriminating at sf0.01; production would size this from the token
    * budget per stratum). Inlined into both the plan and the oracle. */
  private[graft] val PrioritySampleK = 5

  /** t29's per-domain keep cap (15 of the fixture's 25 docs/source —
    * discriminating; production sizes this per crawl snapshot). */
  private[graft] val DomainCap = 15L

  /** t29 — per-domain document cap: the anti-domain-dominance rule every
    * web-scale corpus applies (RefinedWeb/C4-style: no single host may
    * contribute more than K documents) as a deterministic query. Within
    * each source, docs rank by a pure doc_id hash (the t9/t24 md5
    * discipline — reproducible, no RNG state) and only the first
    * [[DomainCap]] keep. Emits the verdict for EVERY doc (kept flag +
    * rank) so downstream composes it as a filter or an audit.
    *
    * Plan shape at 100 TB: one shuffle keyed by source; rank <= K gets
    * WindowGroupLimit pushdown (the t24 pin), so each domain's partition
    * retains K rows before the exchange where the filter form is used.
    * Skewed domains (one host = half the crawl) are exactly why the cap
    * exists; the salting/AQE-skew toolbox applies to the window shuffle
    * (BASELINE.md's SCALING section measures t29 on the skewed fixture). */
  def t29DomainCap(spark: SparkSession, dir: String): DataFrame =
    t29DomainCapWith(spark, dir, DomainCap)

  /** [[t29DomainCap]] under a caller-chosen budget — the batch cap was
    * the one cap constant NOT already threaded as config (the streaming
    * legs take `cap` as a parameter); the oracled query binds the
    * fixture default, so deployments retarget without recompiling and
    * the oracle is untouched. */
  def t29DomainCapWith(spark: SparkSession, dir: String,
      cap: Long): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority"), col("doc_id"))
    val pr = conv(substring(
        md5(concat(lit("cap:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    graft.plans.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), pr.as("priority"))
      .withColumn("cap_rank", row_number().over(w).cast("bigint"))
      .select(col("doc_id"), col("source"), col("cap_rank"),
        (col("cap_rank") <= cap).cast("bigint").as("kept"))
      .orderBy("doc_id")
  }

  /** t30's per-sequence token budget (a short fixture-visible context
    * length; production sets its model's context size). */
  private[graft] val PackSeqTokens = 256L

  /** t30 — sequence-packing plan: the token-budget layout a dataloader
    * runs before a single gradient step — greedy CONTIGUOUS packing of
    * documents (doc_id order) into fixed-size token sequences, allowing
    * straddle: each doc's sequence index and intra-sequence offset are
    * pure integer functions of the running token count before it. All
    * arithmetic is exact BIGINT (window SUM, DIV, %), so the two engines
    * cannot diverge.
    *
    * Packing is WITHIN source groups, not global: a global running sum
    * would serialize the corpus through one window partition — the
    * classic scale killer — while per-source packing parallelizes by
    * domain and matches how shard-local dataloaders actually pack (the
    * ShardWriter manifest discipline: sequences never cross shard
    * boundaries). One shuffle keyed by source; the window is a running
    * sum, no rank, no global sort. */
  def t30SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val toks = cachedToks(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.plans.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(toks, "doc_id")
      .withColumn("prior", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"prior div $PackSeqTokens").as("seq_idx"),
        expr(s"prior % $PackSeqTokens").as("tok_offset"))
      .orderBy("doc_id")
  }

  /** t25 — DSIR-style importance scoring for data selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its
    * tokens are under a TARGET distribution (here: the corpus's English
    * slice — the published recipe's "formal text" stand-in) than under
    * the corpus-wide distribution, both unigram with add-one smoothing.
    * Docs ranking highest are the ones importance resampling keeps.
    *
    * Numeric discipline: the published score is Σ n_w·[ln p_t(w) −
    * ln p_c(w)], but ln() is a libm call neither engine guarantees to
    * the last ulp (the t14 rule), so the score here is the RATIO
    * DIFFERENCE cleared of its doc-independent positive denominators:
    *   Σ n_w · [(c_t(w)+1)·(N_c+V) − (c_c(w)+1)·(N_t+V)]
    * — pure BIGINT products and sums, bit-identical cross-engine, and
    * sign-equivalent to Σ n_w·[p_t(w) − p_c(w)] (the linear-probability
    * discriminant; monotone in each word's evidence like the log form,
    * trading its product structure for exactness). Magnitudes: each term
    * is ≤ n_w·(c+1)·(N+V) ≈ 3e13 at sf0.1 and the per-doc sum stays
    * far under 2^63; a 100 TB corpus would scale the counts down to
    * per-million units (or sum in DECIMAL(38,0)) before this overflows —
    * the structure, one token-keyed join and one doc-keyed aggregate,
    * is unchanged.
    *
    * Plan shape at 100 TB: per-doc term counts aggregate BEFORE the
    * vocabulary join (the t21 discipline — occurrences never cross an
    * exchange), the corpus/target count tables are one token-keyed
    * shuffle each over the cached toks base (the t6/t14 shape), the
    * doc-independent totals ride a broadcast 1-row aggregate, and the
    * final score is a doc_id-keyed aggregate. Nothing shuffles by
    * anything but token/doc_id; no all-pairs surface. */
  def t25DsirScore(spark: SparkSession, dir: String): DataFrame = {
    val tok = cachedToks(spark, dir)
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("token"))
    val docTf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("n_w"))
    val corpusTf = tok.groupBy(col("token")).agg(count(lit(1)).as("c_c"))
    val targetTf = tok.filter(col("lang") === "en")
      .groupBy(col("token")).agg(count(lit(1)).as("c_t"))
    val vocab = corpusTf.join(targetTf, Seq("token"), "left")
      .select(col("token"), col("c_c"),
        coalesce(col("c_t"), lit(0L)).as("c_t"))
    val consts = vocab.agg(sum(col("c_c")).cast("bigint").as("n_c"),
      sum(col("c_t")).cast("bigint").as("n_t"),
      count(lit(1)).as("v"))
    docTf.join(vocab, "token")
      .crossJoin(broadcast(consts))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_w")).cast("bigint").as("n_tokens"),
        sum(col("n_w") * ((col("c_t") + 1L) * (col("n_c") + col("v")) -
            (col("c_c") + 1L) * (col("n_t") + col("v"))))
          .cast("bigint").as("dsir_units"))
      .orderBy("doc_id")
  }

  /** DSIR's fixed bucket-space width (the published construction hashes
    * tokens/n-grams into ~10k buckets precisely so the weight table is
    * size-INDEPENDENT model state — round-10's exact-vocab map was
    * corpus-sized plan state, the one unbounded-driver-state seam the
    * r10 verdict flagged). */
  private[graft] val DsirBuckets = 10000

  /** THE token→bucket map, one shared Column definition for batch t26,
    * the streaming gate, and (via the same md5-prefix idiom) the DuckDB
    * oracle — the toksCol discipline: a second inline copy is how batch
    * and stream would silently drift. The md5 prefix is non-negative
    * (< 2^32), so plain % equals pmod in both engines. */
  private[graft] def dsirBucketCol(token: Column): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("bigint") % DsirBuckets

  /** t26 — bucketed DSIR importance scoring: t25's discriminant computed
    * over the fixed bucket space instead of the exact vocabulary. Same
    * exact-BIGINT algebra with V := B (the bucket count, a CONSTANT —
    * add-one smoothing over buckets), so the score is bit-stable
    * cross-engine and the model state a stream twin ships is B longs
    * regardless of corpus size. Plan shape is t25's: per-doc bucket
    * counts aggregate before the bucket join (occurrences never cross
    * an exchange), the bucket count table is B rows (broadcastable at
    * any corpus scale — THE point of bucketing), totals ride a 1-row
    * broadcast. */
  def t26DsirBucketed(spark: SparkSession, dir: String): DataFrame = {
    val tok = cachedToks(spark, dir)
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("token"))
      .select(col("doc_id"), col("lang"),
        dsirBucketCol(col("token")).as("bucket"))
    val docTf = tok.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n_w"))
    val bucketTf = tok.groupBy(col("bucket")).agg(
      count(lit(1)).as("c_c"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    val consts = bucketTf.agg(sum(col("c_c")).cast("bigint").as("n_c"),
      sum(col("c_t")).cast("bigint").as("n_t"))
    docTf.join(bucketTf, "bucket")
      .crossJoin(broadcast(consts))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_w")).cast("bigint").as("n_tokens"),
        sum(col("n_w") *
            ((col("c_t") + 1L) * (col("n_c") + DsirBuckets) -
             (col("c_c") + 1L) * (col("n_t") + DsirBuckets)))
          .cast("bigint").as("dsir_units"))
      .orderBy("doc_id")
  }

  /** t27's window width: long enough that a shared window is EVIDENCE of
    * copying, not coincidence (the published exact-substring dedup uses
    * 50 tokens on web text; the fixture's short synthetic docs pin 8 —
    * one constant shared with the oracle, same role as the 3-gram pin). */
  private val DupSpanTokens = 8

  /** t27 — duplicate-SPAN coverage: the exact-substring-dedup semantics
    * (find long verbatim runs shared across documents and measure how
    * much of each document they cover) re-expressed with no suffix array
    * and no pairwise surface. Every [[DupSpanTokens]]-token window is
    * hashed with its position; windows appearing in ≥2 distinct docs are
    * shared; a doc's covered positions are the UNION of its shared
    * windows' spans — union, not sum, which is what separates span
    * coverage from t18's position counts: a 20-token verbatim run covers
    * 20 positions here whatever its internal window multiplicity.
    *
    * Plan shape at 100 TB: the window explode is toks-scale (one row per
    * token position, like shingles); "shared" is one hash-keyed two-phase
    * distinct count; the coverage explode multiplies only SHARED window
    * positions by W (candidate-bounded, duplication-proportional), then
    * one doc_id-keyed distinct count. Exact-integer micro-units via DIV. */
  def t27DupSpanCoverage(spark: SparkSession, dir: String): DataFrame = {
    val W = DupSpanTokens
    val toks = cachedToks(spark, dir)
    val wins = toks.filter(size(col("toks")) >= W)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - W),
          i => md5(array_join(slice(col("toks"), i + 1, lit(W)), " "))))
          .as(Seq("pos", "w")))
    val shared = wins.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("w")
    val covered = wins.join(shared, "w")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (W - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).as("n_covered"))
    toks.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("covered_frac_micro",
        expr("CAST((n_covered * 1000000) DIV greatest(n_tokens, 1) AS BIGINT)"))
      .orderBy("doc_id")
  }

  /** t32 — duplicated-span SCRUB: the ACT half of t27's measure (the
    * published exact-substring dedup removes all but one occurrence of
    * every long verbatim cross-document run — boilerplate headers,
    * license blocks, quoted chunks — instead of dropping whole documents
    * the way d7 does). Each shared [[DupSpanTokens]]-token window gets a
    * CANONICAL owner (the min doc_id holding it); in every other doc the
    * window's positions are cut, and the survivors re-join in order as
    * the scrubbed text. The canonical copy keeps its text intact — one
    * occurrence survives corpus-wide, including a window's repeats inside
    * its owner (intra-doc multiplicity is the owner's own business, as in
    * t27's cross-doc "shared" notion).
    *
    * Plan shape at 100 TB: the window chain is t27's (toks-scale explode,
    * one hash-keyed groupBy); the cut set explodes only NON-OWNER shared
    * windows by W (duplication-proportional); reassembly is one
    * doc_id-keyed aggregation of the token table with an in-group sort —
    * every shuffle key is doc_id or the window hash, nothing pairwise. */
  def t32SpanScrub(spark: SparkSession, dir: String): DataFrame = {
    val W = DupSpanTokens
    val toks = cachedToks(spark, dir)
    val wins = toks.filter(size(col("toks")) >= W)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - W),
          i => md5(array_join(slice(col("toks"), i + 1, lit(W)), " "))))
          .as(Seq("pos", "w")))
    val owners = wins.groupBy(col("w"))
      .agg(min(col("doc_id")).as("owner"),
        countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("w", "owner")
    val removedPos = wins.join(owners, "w")
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (W - 1))).as("p"))
      .distinct()
    val tokens = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
    val scrubbed = tokens
      .join(removedPos, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("p"), col("tok")))).as("kt"))
      .select(col("doc_id"),
        size(col("kt")).cast("bigint").as("n_kept"),
        array_join(transform(col("kt"), x => x.getField("tok")), " ")
          .as("scrubbed"))
    toks.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
      .join(scrubbed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
      .orderBy("doc_id")
  }

  /** x_corpus_report — the text pipeline's one-row health dashboard (the
    * [[VectorQueries.xDriftReport]] discipline applied to the corpus
    * side): total docs, clean survivors, exact-dup redundancy, verified
    * near-pairs, mean quality, and total token mass — the numbers an
    * operator watches to decide whether the dedup/quality gates are
    * keeping up as the corpus grows. Every aggregate rides a base that
    * already exists for its own operator (corpus, t12 snapshot, fp table,
    * verified pairs, quality chain, toks), crossed as 1-row broadcasts —
    * nothing corpus-sized moves beyond the bases' own scans, so the
    * report costs a handful of cached-scan aggregations at any scale. */
  def xCorpusReport(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = corpus(spark, dir).agg(count(lit(1)).as("n_docs"))
    val nClean = t12CleanUnordered(spark, dir)
      .agg(count(lit(1)).as("n_clean"))
    val exactDups = cachedFps(spark, dir)
      .agg((count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"))
    val nearPairs = verifiedPairs(spark, dir)
      .agg(count(lit(1)).as("n_near_pairs"))
    val meanQ = t2QualityScore(spark, dir)
      .agg(expr("CAST(sum(quality_micro) DIV count(1) AS BIGINT)")
        .as("mean_quality_micro"))
    val toksTot = cachedToks(spark, dir)
      .agg(sum(size(col("toks"))).cast("bigint").as("n_tokens"))
    nDocs.crossJoin(broadcast(nClean))
      .crossJoin(broadcast(exactDups))
      .crossJoin(broadcast(nearPairs))
      .crossJoin(broadcast(meanQ))
      .crossJoin(broadcast(toksTot))
  }

  /** t28's configured target mixture (micro-share per language, summing
    * to 1,000,000) — the "what the trainer wants" side of the solve; the
    * corpus supplies the "what exists" side. One constant, rendered into
    * both the Column plan and the oracle SQL. */
  private[graft] val MixTargetShares: Seq[(String, Long)] = Seq(
    ("de", 150000L), ("en", 400000L), ("es", 150000L),
    ("fr", 150000L), ("zh", 150000L))

  /** t28 — mixture-rate solver: the closed-form no-upsampling solve a
    * pretraining run prices its mix with — given target language shares
    * and the per-language available token mass, the largest total budget
    * every language can fill is set by the LIMITING language
    * (T = min_l avail_l / share_l), and each language contributes
    * floor(share_l x T) tokens at rate take/avail. t22 audits what
    * exists, this decides what to take, t9 executes the rates — the
    * three-step mix workflow. All arithmetic is exact BIGINT micro-units
    * (DIV), so the two engines cannot diverge; the limiting language
    * solves to rate ~1,000,000 by construction (the fixture pin).
    *
    * Plan shape at 100 TB: one toks-riding per-language aggregation onto
    * a key space of a few hundred languages, a 1-row broadcast min (the
    * t14/t25 tot pattern), and a per-row closed form. At trillion-token
    * mass the x1e6 products need DECIMAL(38,0) headroom — the documented
    * seam; BIGINT holds to ~9e12 tokens. */
  def t28MixSolver(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // LEFT join from the CONFIGURED targets onto the corpus aggregation
    // (r11 advice): a target language with zero corpus presence must
    // participate in the min with available_tokens = 0 — the no-upsampling
    // contract then solves the whole budget to T = 0 — not silently drop
    // out and let the remaining languages overshoot it.
    val targets = MixTargetShares.toDF("lang", "target_share_micro")
    val corpusAvail = cachedToks(spark, dir)
      .filter(col("doc_id") < 1000000L) // raw corpus: a mix decision is provenance-level
      .groupBy(col("lang"))
      .agg(sum(size(col("toks")).cast("bigint")).as("available_tokens"))
    // broadcast the RIGHT side: a left-outer join cannot broadcast its
    // preserved side, so hinting targets would be silently ignored;
    // corpusAvail is the tiny per-language aggregate
    val avail = targets.join(broadcast(corpusAvail), Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("available_tokens"), lit(0L)).as("available_tokens"),
        col("target_share_micro"))
    val budget = avail.agg(
      min(expr("(available_tokens * 1000000) div target_share_micro"))
        .as("t_budget"))
    avail.crossJoin(broadcast(budget))
      .select(col("lang"), col("available_tokens"), col("target_share_micro"),
        expr("(target_share_micro * t_budget) div 1000000").as("take_tokens"))
      .withColumn("rate_micro",
        expr("CAST((take_tokens * 1000000) DIV greatest(available_tokens, 1) AS BIGINT)"))
      .orderBy("lang")
  }

  /** The streaming gate's model state: t26's per-bucket weight
    * w(b) = (c_t+1)·(N_c+B) − (c_c+1)·(N_t+B) as a B-length array —
    * collected once per dataset until [[releaseCaches]] (the t20/t19
    * model-state discipline: bounded driver scalars are legitimate for
    * MODEL state, never for data; B is fixed, so this stays 10k longs at
    * 100 TB).
    * An untouched bucket (c_c = c_t = 0) naturally carries the add-one
    * weight N_c − N_t — the OOV leg needs no special case: novel
    * arrival tokens hash into buckets like any other. */
  private val dsirModels = new graft.plans.TrainOnce[String, Array[Long]]
  private[graft] def dsirBucketWeights(spark: SparkSession, dir: String): Array[Long] =
    dsirModels(dir) {
      val tok = cachedToks(spark, dir)
        .select(col("lang"), explode(col("toks")).as("token"))
        .select(col("lang"), dsirBucketCol(col("token")).as("bucket"))
      val bucketTf = tok.groupBy(col("bucket")).agg(
        count(lit(1)).as("c_c"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
      val Array(nC, nT) = bucketTf
        .agg(sum(col("c_c")), sum(col("c_t")))
        .first() match { case r => Array(r.getLong(0), r.getLong(1)) }
      val weights = Array.fill(DsirBuckets)(nC - nT) // empty-bucket default
      bucketTf.collect().foreach { r =>
        val (b, cC, cT) = (r.getLong(0).toInt, r.getLong(1), r.getLong(2))
        weights(b) = (cT + 1L) * (nC + DsirBuckets) - (cC + 1L) * (nT + DsirBuckets)
      }
      weights
    }

  /** The t16 signal columns over (text, toks) — ONE definition shared by
    * the batch query and the streaming ingest gate
    * (streaming/EventStream.filterQualityAtIngest), so the keep decision
    * for a document is identical in both by construction (the mixHash /
    * Fingerprint sharing discipline). Returns (n_words,
    * mean_word_len_micro, alpha_frac_micro, symbol_ratio_micro,
    * n_stop_kinds). */
  private[graft] def gopherSignals(text: Column, toks: Column)
      : (Column, Column, Column, Column, Column) = {
    val n = size(toks).cast("bigint")
    val nD = greatest(n.cast("double"), lit(1.0))
    def micro(x: Column): Column =
      floor(x.cast("double") * 1000000.0 / nD).cast("bigint")
    (n,
      micro(aggregate(toks, lit(0L), (acc, t) => acc + length(t))),
      micro(size(filter(toks, t => t.rlike("[A-Za-z]")))),
      micro(size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))),
      stopwords.map(w => when(array_contains(toks, w), 1L).otherwise(0L))
        .reduce(_ + _))
  }

  /** The composed keep verdict over the five signals (0/1 bigint). */
  private[graft] def gopherKeep(n: Column, mean: Column, alpha: Column,
      sym: Column, stops: Column): Column =
    (n.between(GopherMinWords, GopherMaxWords) &&
      mean.between(GopherMeanLenLoMicro, GopherMeanLenHiMicro) &&
      alpha >= GopherAlphaFracMicro &&
      sym < GopherSymbolRatioMicro &&
      stops >= GopherMinStopKinds).cast("bigint")

  /** The keep verdict as a self-contained Column over raw text (tokenizes
    * inline) — the streaming ingest gate's entry point. */
  private[graft] def gopherKeepCol(text: Column): Column = {
    val toks = toksCol(text)
    val (n, mean, alpha, sym, stops) = gopherSignals(text, toks)
    gopherKeep(n, mean, alpha, sym, stops)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> d1ExactDedup,
    "d2_minhash_sig" -> d2MinhashSig,
    "d3_minhash_lsh_pairs" -> d3MinhashLshPairs,
    "d4_jaccard_verify" -> d4JaccardVerify,
    "d5_simhash_sig" -> d5SimhashSig,
    "d6_simhash_dup_pairs" -> d6SimhashDupPairs,
    "d7_dedup_keep" -> d7DedupKeep,
    "d8_levenshtein_verify" -> d8LevenshteinVerify,
    "d9_dedup_components" -> d9DedupComponents,
    "d10_containment" -> d10ContainmentVerify,
    "t1_token_stats" -> t1TokenStats,
    "t2_quality_score" -> t2QualityScore,
    "t3_lang_id" -> t3LangId,
    "t4_fingerprint" -> t4Fingerprint,
    "t5_redact_pii" -> t5RedactPii,
    "t6_top_terms" -> t6TopTerms,
    "t7_tfidf_terms" -> t7TfidfTerms,
    "t8_decontaminate" -> t8Decontaminate,
    "t9_sample_mix" -> t9SampleMix,
    "t10_pack_sequences" -> t10PackSequences,
    "t11_repetition" -> t11Repetition,
    "t12_clean_corpus" -> t12CleanCorpus,
    "t13_chunk_dedup" -> t13ChunkDedup,
    "t14_unigram_lm" -> t14UnigramLm,
    "t15_cdc_chunk_dedup" -> t15CdcChunkDedup,
    "t16_gopher_rules" -> t16GopherRules,
    "t17_bigram_lm" -> t17BigramLm,
    "t18_dup_ngram_frac" -> t18DupNgramFrac,
    "t22_source_mix" -> t22SourceMix,
    "t23_zipf_mass" -> t23ZipfMass,
    "t24_priority_sample" -> t24PrioritySample,
    "t25_dsir_score" -> t25DsirScore,
    "t26_dsir_bucketed" -> t26DsirBucketed,
    "t27_dup_span_coverage" -> t27DupSpanCoverage,
    "t28_mix_solver" -> t28MixSolver,
    "t29_domain_cap" -> t29DomainCap,
    "t31_contamination_frac" -> t31ContaminationFraction,
    "t30_sequence_pack" -> t30SequencePack,
    "t32_span_scrub" -> t32SpanScrub,
    "x_corpus_report" -> xCorpusReport)

  private val stopList = stopwords.map(s => s"'$s'").mkString(", ")

  /** DuckDB form of [[gopherSignals]] over any (toks, docs) CTE pair —
    * ONE definition serving the t16 oracle (corpus) and the front-door
    * oracle (arrivals), so the quality-gate arithmetic cannot drift
    * between them. Emits (doc_id, n_words, mean_word_len_micro,
    * alpha_frac_micro, symbol_ratio_micro, n_stop_kinds). */
  private[queries] def gopherSignalsSqlFor(toksRef: String,
      docsRef: String): String =
    s"""
       |  SELECT t.doc_id,
       |         CAST(len(t.toks) AS BIGINT) AS n_words,
       |         CAST(floor(CAST(coalesce(list_aggregate(list_transform(t.toks, x -> length(x)), 'sum'), 0) AS DOUBLE)
       |                    * 1000000.0 / greatest(CAST(len(t.toks) AS DOUBLE), 1.0)) AS BIGINT) AS mean_word_len_micro,
       |         CAST(floor(CAST(len(list_filter(t.toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
       |                    * 1000000.0 / greatest(CAST(len(t.toks) AS DOUBLE), 1.0)) AS BIGINT) AS alpha_frac_micro,
       |         CAST(floor(CAST(len(regexp_extract_all(c.text, '#|\\.\\.\\.')) AS DOUBLE)
       |                    * 1000000.0 / greatest(CAST(len(t.toks) AS DOUBLE), 1.0)) AS BIGINT) AS symbol_ratio_micro,
       |         ${stopwords.map(w => s"CASE WHEN list_contains(t.toks, '$w') THEN 1 ELSE 0 END").mkString("CAST(", " + ", " AS BIGINT)")} AS n_stop_kinds
       |  FROM $toksRef t JOIN $docsRef c ON t.doc_id = c.doc_id""".stripMargin

  /** The corpus-side DSIR bucket statistics (token→bucket hash, per-bucket
    * corpus/target counts, grand totals) — ONE definition serving the t26
    * oracle and the front-door oracle, mirroring [[dsirBucketWeights]]. */
  private[queries] val dsirCorpusCtes: String =
    s"""tokb AS (SELECT t.doc_id, c.lang,
       |           CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
       |             % $DsirBuckets AS bucket
       |           FROM (SELECT doc_id, unnest(toks) AS token FROM toks) t
       |           JOIN corpus c ON t.doc_id = c.doc_id),
       |btf AS (SELECT bucket, count(*) AS c_c,
       |               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
       |        FROM tokb GROUP BY bucket),
       |k AS (SELECT CAST(SUM(c_c) AS BIGINT) AS n_c,
       |             CAST(SUM(c_t) AS BIGINT) AS n_t FROM btf)""".stripMargin

  /** The keep conjunction over [[gopherSignalsSqlFor]]'s column names. */
  private[queries] val gopherKeepSql: String =
    s"""n_words BETWEEN $GopherMinWords AND $GopherMaxWords
       |            AND mean_word_len_micro BETWEEN $GopherMeanLenLoMicro AND $GopherMeanLenHiMicro
       |            AND alpha_frac_micro >= $GopherAlphaFracMicro
       |            AND symbol_ratio_micro < $GopherSymbolRatioMicro
       |            AND n_stop_kinds >= $GopherMinStopKinds""".stripMargin

  // ONE definition of the verify-tier CTE chain (the Spark twin is
  // cachedSharedCounts / verifiedPairs): d4/d7/d9/d10/t12 interpolate
  // these instead of pasting five copies that could drift. The generated
  // bytes are UNCHANGED vs the previous inline copies (hash-checked per
  // oracle during the round-9 refactor). Hoisted to object level in round
  // 12 so the export-counts oracle (ExportQueries) can compose the same
  // t12 stack without a sixth pasted copy.
  private val sharedCte =
    """dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
      |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
      |shared AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS shared
      |  FROM cands c
      |  JOIN dsh sa ON c.doc_a = sa.doc_id
      |  JOIN dsh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle
      |  GROUP BY c.doc_a, c.doc_b)""".stripMargin
  private val jpairsCte =
    """jpairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT s.doc_a, s.doc_b,
      |           round(CAST(s.shared AS DOUBLE) /
      |                 CAST(na.n + nb.n - s.shared AS DOUBLE), 6) AS jaccard
      |    FROM shared s
      |    JOIN sizes na ON s.doc_a = na.doc_id
      |    JOIN sizes nb ON s.doc_b = nb.doc_id)
      |  WHERE jaccard >= 0.5)""".stripMargin

  /** The weighted quality CTE — the SQL rendering of [[qualityMicroCol]]
    * over [[qualitySignals]]' inner select, weights parameterized. ONE
    * definition serving the t12 stack's v1 score and the export-delta
    * oracle's v2 reweighting, mirroring the Spark-side sharing. */
  private[queries] def qualityCteSql(name: String, scoreName: String,
      wStop: Double, wPunct: Double, wLen: Double): String =
    s"""$name AS (
       |  SELECT doc_id,
       |         CAST(floor((CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * $wStop +
       |               (1.0 - least(CAST(n_punct AS DOUBLE) /
       |                            greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0)) * $wPunct +
       |               least(CAST(length(text) AS DOUBLE), 500.0) / 500.0 * $wLen)
       |              * 1000000.0) AS BIGINT) AS $scoreName
       |  FROM (
       |    SELECT c.doc_id, c.text, len(t.toks) AS n_tokens,
       |           len(list_filter(t.toks, x -> x IN ($stopList))) AS n_stop,
       |           len(regexp_extract_all(c.text, '[^A-Za-z0-9\\s]')) AS n_punct
       |    FROM toks t JOIN corpus c ON t.doc_id = c.doc_id))""".stripMargin

  /** The t12 clean-corpus oracle's full CTE stack (everything but the
    * final SELECT), shared verbatim with the export-counts oracle
    * ([[graft.queries.ExportQueries]]): the per-language survivor counts
    * the shard writer must conserve are, by definition, an aggregation of
    * exactly this survivor set — one definition, two final SELECTs. */
  private[queries] lazy val t12OracleCtes: String =
    s""", $sigsCte,
       |$bandsCte,
       |$candCte,
       |$sharedCte,
       |$jpairsCte,
       |fps AS (SELECT doc_id, $fpSql AS fp FROM corpus),
       |keeps AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp),
       |keepset AS (
       |  SELECT doc_id FROM fps
       |  EXCEPT
       |  (SELECT f.doc_id FROM fps f JOIN keeps k ON f.fp = k.fp AND f.doc_id > k.keep_id
       |   UNION
       |   SELECT doc_b FROM jpairs)),
       |bsh AS (SELECT DISTINCT shingle FROM dsh
       |        WHERE doc_id % 97 = 0 AND doc_id < 1000000),
       |contaminated AS (
       |  SELECT s.doc_id FROM dsh s JOIN bsh ON s.shingle = bsh.shingle
       |  WHERE NOT (s.doc_id % 97 = 0 AND s.doc_id < 1000000)
       |  GROUP BY s.doc_id HAVING count(*) >= 3),
       |${qualityCteSql("quality", "quality_micro", 0.5, 0.3, 0.2)},
       |redacted AS (
       |  SELECT doc_id,
       |         len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
       |         len(regexp_extract_all(t, '$UrlRe')) AS n_urls,
       |         regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
       |                        '$UrlRe', '<URL>', 'g') AS redacted
       |  FROM (
       |    SELECT doc_id,
       |           CASE WHEN doc_id % 11 = 0
       |                THEN text || ' contact bob' || doc_id ||
       |                     '@example.com via https://example.com/d/' || doc_id
       |                ELSE text END AS t
       |    FROM corpus))""".stripMargin

  val oracleSql: Map[String, String] = {
    val simhashCte = {
      // 64 per-bit votes from the two 32-bit md5 halves — the generated SQL
      // mirrors simhashSigDF's bit()/quarter() construction exactly
      val bitAggs = (0 until 64).map { b =>
        val src = if (b < 32) s"(hlo >> $b)" else s"(hhi >> ${b - 32})"
        s"SUM(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
      }.mkString(", ")
      def quarter(lo: Int): String =
        (0 until 16).map(j =>
          s"CASE WHEN s${lo + j} > 0 THEN ${1L << j} ELSE 0 END")
          .mkString("CAST(", " + ", " AS BIGINT)")
      s"""tok1 AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         |th AS (SELECT doc_id,
         |              CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS hhi,
         |              CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) AS hlo
         |       FROM tok1),
         |bitsums AS (SELECT doc_id, $bitAggs FROM th GROUP BY doc_id),
         |simhashes AS (SELECT doc_id,
         |                     ${quarter(32)} + ${quarter(48)} * 65536 AS sim_hi,
         |                     ${quarter(0)} + ${quarter(16)} * 65536 AS sim_lo,
         |                     ${quarter(0)} AS b0, ${quarter(16)} AS b1,
         |                     ${quarter(32)} AS b2, ${quarter(48)} AS b3
         |              FROM bitsums),
         |simbands AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id, sim_hi, sim_lo, $b AS band, b$b AS bkey FROM simhashes")
              .mkString("\n  UNION ALL\n  ")})""".stripMargin
    }
    Map(
      "d1_exact_dedup" -> oracle(
        s"""SELECT fp, keep_id, n_copies FROM (
           |  SELECT $fpSql AS fp,
           |         min(doc_id) AS keep_id, count(*) AS n_copies
           |  FROM corpus GROUP BY 1)
           |WHERE n_copies > 1 ORDER BY keep_id""".stripMargin),
      "d2_minhash_sig" -> oracle(
        s""", $sigsCte
           |SELECT doc_id, ${(0 until NumHashes).map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '|' || ")} AS signature
           |FROM sigs ORDER BY doc_id""".stripMargin),
      "d3_minhash_lsh_pairs" -> oracle(
        s""", $sigsCte,
           |$bandsCte,
           |$candCte
           |SELECT doc_a, doc_b FROM cands ORDER BY doc_a, doc_b""".stripMargin),
      "d4_jaccard_verify" -> oracle(
        s""", $sigsCte,
           |$bandsCte,
           |$candCte,
           |$sharedCte
           |SELECT doc_a, doc_b, jaccard FROM (
           |  SELECT s.doc_a, s.doc_b,
           |         round(CAST(s.shared AS DOUBLE) /
           |               CAST(na.n + nb.n - s.shared AS DOUBLE), 6) AS jaccard
           |  FROM shared s
           |  JOIN sizes na ON s.doc_a = na.doc_id
           |  JOIN sizes nb ON s.doc_b = nb.doc_id)
           |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
      "d10_containment" -> oracle(
        s""", $sigsCte,
           |$bandsCte,
           |$candCte,
           |$sharedCte
           |SELECT s.doc_a, s.doc_b, s.shared,
           |       CAST(floor(CAST(s.shared AS DOUBLE) * 1000000.0 /
           |                  CAST(na.n AS DOUBLE)) AS BIGINT) AS contain_a_micro,
           |       CAST(floor(CAST(s.shared AS DOUBLE) * 1000000.0 /
           |                  CAST(nb.n AS DOUBLE)) AS BIGINT) AS contain_b_micro
           |FROM shared s
           |JOIN sizes na ON s.doc_a = na.doc_id
           |JOIN sizes nb ON s.doc_b = nb.doc_id
           |ORDER BY s.doc_a, s.doc_b""".stripMargin),
      "d5_simhash_sig" -> oracle(
        s""", $simhashCte
           |SELECT doc_id, sim_hi, sim_lo FROM simhashes ORDER BY doc_id""".stripMargin),
      "d6_simhash_dup_pairs" -> oracle(
        s""", $simhashCte
           |SELECT DISTINCT doc_a, doc_b, hamming FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         CAST(bit_count(xor(a.sim_lo, b.sim_lo)) +
           |              bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
           |  FROM simbands a JOIN simbands b
           |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
           |WHERE hamming <= $SimhashMaxHamming
           |ORDER BY doc_a, doc_b""".stripMargin),
      "d7_dedup_keep" -> oracle(
        s""", $sigsCte,
           |$bandsCte,
           |$candCte,
           |$sharedCte,
           |$jpairsCte,
           |fps AS (SELECT doc_id, $fpSql AS fp FROM corpus),
           |keeps AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp)
           |SELECT doc_id FROM fps
           |EXCEPT
           |(SELECT f.doc_id FROM fps f JOIN keeps k ON f.fp = k.fp AND f.doc_id > k.keep_id
           | UNION
           | SELECT doc_b FROM jpairs)
           |ORDER BY doc_id""".stripMargin),
      "d8_levenshtein_verify" -> oracle(
        s""", $sigsCte,
           |$bandsCte,
           |$candCte
           |SELECT c.doc_a, c.doc_b,
           |       levenshtein(ca.text, cb.text) AS edit_distance
           |FROM cands c
           |JOIN corpus ca ON c.doc_a = ca.doc_id
           |JOIN corpus cb ON c.doc_b = cb.doc_id
           |WHERE abs(length(ca.text) - length(cb.text)) <= 40
           |  AND levenshtein(ca.text, cb.text) <= 40
           |ORDER BY doc_a, doc_b""".stripMargin),
      "t1_token_stats" -> oracle(
        """SELECT t.doc_id, len(t.toks) AS n_tokens, length(c.text) AS n_chars,
          |       len(regexp_extract_all(c.text, '[A-Za-z0-9]{1,4}')) AS n_bpe_pieces
          |FROM toks t JOIN corpus c ON t.doc_id = c.doc_id
          |ORDER BY t.doc_id""".stripMargin),
      "t2_quality_score" -> oracle(
        s"""SELECT doc_id, n_tokens, n_stop, n_punct,
           |       CAST(floor((CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 0.5 +
           |             (1.0 - least(CAST(n_punct AS DOUBLE) /
           |                          greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0)) * 0.3 +
           |             least(CAST(length(text) AS DOUBLE), 500.0) / 500.0 * 0.2)
           |            * 1000000.0) AS BIGINT) AS quality_micro
           |FROM (
           |  SELECT c.doc_id, c.text, len(t.toks) AS n_tokens,
           |         len(list_filter(t.toks, x -> x IN ($stopList))) AS n_stop,
           |         len(regexp_extract_all(c.text, '[^A-Za-z0-9\\s]')) AS n_punct
           |  FROM toks t JOIN corpus c ON t.doc_id = c.doc_id)
           |ORDER BY doc_id""".stripMargin),
      "t3_lang_id" -> oracle(
        """SELECT doc_id, labeled_lang, c_en, c_de, c_es, c_fr,
          |       CASE WHEN c_en >= greatest(c_de, c_es, c_fr) THEN 'en'
          |            WHEN c_de >= greatest(c_es, c_fr) THEN 'de'
          |            WHEN c_es >= c_fr THEN 'es'
          |            ELSE 'fr' END AS predicted_lang
          |FROM (
          |  SELECT c.doc_id, c.lang AS labeled_lang,
          |         len(list_filter(t.toks, x -> x IN ('the','and','of','is'))) AS c_en,
          |         len(list_filter(t.toks, x -> x IN ('der','die','und','ist'))) AS c_de,
          |         len(list_filter(t.toks, x -> x IN ('el','la','y','es'))) AS c_es,
          |         len(list_filter(t.toks, x -> x IN ('le','la','et','est'))) AS c_fr
          |  FROM toks t JOIN corpus c ON t.doc_id = c.doc_id)
          |ORDER BY doc_id""".stripMargin),
      "t5_redact_pii" -> oracle(
        s"""SELECT doc_id,
           |       len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
           |       len(regexp_extract_all(t, '$UrlRe')) AS n_urls,
           |       regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
           |                      '$UrlRe', '<URL>', 'g') AS redacted
           |FROM (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 11 = 0
           |              THEN text || ' contact bob' || doc_id ||
           |                   '@example.com via https://example.com/d/' || doc_id
           |              ELSE text END AS t
           |  FROM corpus)
           |ORDER BY doc_id""".stripMargin),
      "t6_top_terms" -> oracle(
        """SELECT token, count(*) AS n
          |FROM (SELECT unnest(toks) AS token FROM toks)
          |WHERE length(token) >= 4
          |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin),
      "t14_unigram_lm" -> oracle(
        """, tok AS (SELECT doc_id, unnest(toks) AS token FROM toks),
          |freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
          |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq),
          |scored AS (
          |  SELECT t.doc_id, f.tf,
          |         CAST(floor(CAST(f.tf AS DOUBLE) * 1000000.0 / tot.total)
          |              AS BIGINT) AS prob_micro
          |  FROM tok t JOIN freq f ON t.token = f.token, tot)
          |SELECT doc_id, count(*) AS n_tokens,
          |       CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
          |       CAST(floor(CAST(SUM(prob_micro) AS DOUBLE) / count(*))
          |            AS BIGINT) AS lm_score_micro
          |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "t7_tfidf_terms" -> oracle(
        """, tok4 AS (
          |  SELECT doc_id, t AS token
          |  FROM (SELECT doc_id, unnest(toks) AS t FROM toks)
          |  WHERE length(t) >= 4),
          |tf AS (SELECT doc_id, token, count(*) AS tf
          |       FROM tok4 GROUP BY doc_id, token),
          |dfreq AS (SELECT token, count(*) AS df
          |          FROM (SELECT DISTINCT doc_id, token FROM tok4)
          |          GROUP BY token),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM corpus)
          |SELECT doc_id, token, tf, score_micro, rk FROM (
          |  SELECT doc_id, token, tf, score_micro,
          |         row_number() OVER (PARTITION BY doc_id
          |                            ORDER BY score_micro DESC, token ASC) AS rk
          |  FROM (
          |    SELECT t.doc_id, t.token, t.tf,
          |           CAST(floor(CAST(t.tf AS DOUBLE) * (n.n_docs - d.df + 0.5)
          |                      / (d.df + 0.5) * 1000000.0) AS BIGINT) AS score_micro
          |    FROM tf t JOIN dfreq d ON t.token = d.token, n))
          |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
      "t8_decontaminate" -> oracle(
        """, dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
          |bsh AS (SELECT DISTINCT shingle FROM dsh
          |        WHERE doc_id % 97 = 0 AND doc_id < 1000000)
          |SELECT s.doc_id, count(*) AS n_shared_shingles
          |FROM dsh s JOIN bsh ON s.shingle = bsh.shingle
          |WHERE NOT (s.doc_id % 97 = 0 AND s.doc_id < 1000000)
          |GROUP BY s.doc_id
          |HAVING count(*) >= 3
          |ORDER BY doc_id""".stripMargin),
      "t9_sample_mix" -> oracle {
        def sqlCase(f: ((String, Long, Int)) => Long): String =
          MixWeights.map(w => s"WHEN '${w._1}' THEN ${f(w)}")
            .mkString("CASE lang ", " ", " ELSE 0 END")
        s"""SELECT doc_id, lang, unnest(range(1, ${sqlCase(_._3.toLong)} + 1)) AS epoch
           |FROM corpus
           |WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           |      < ${sqlCase(_._2)}
           |ORDER BY doc_id, epoch""".stripMargin
      },
      "t10_pack_sequences" -> oracle(
        s""", sized AS (
           |  SELECT t.doc_id, c.lang,
           |         least(CAST(len(t.toks) AS BIGINT), $PackBudget) AS t
           |  FROM toks t JOIN corpus c ON t.doc_id = c.doc_id),
           |cum AS (
           |  SELECT doc_id, lang, t,
           |         SUM(t) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
           |  FROM sized)
           |SELECT lang,
           |       CAST(floor(CAST(cum - t AS DOUBLE) / $PackBudget.0) AS BIGINT) AS seq_id,
           |       count(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS seq_tokens
           |FROM cum GROUP BY lang, seq_id
           |ORDER BY lang, seq_id""".stripMargin),
      // not via oracle(): a recursive CTE needs WITH RECURSIVE up front.
      // Closure over the undirected dup graph; component = min reachable id
      // (= the converged min-label), keeper = the component min itself.
      "d9_dedup_components" ->
        s"""WITH RECURSIVE $corpusCte,
           |$shinglesCte, $sigsCte,
           |$bandsCte,
           |$candCte,
           |$sharedCte,
           |$jpairsCte,
           |fps AS (SELECT doc_id, $fpSql AS fp FROM corpus),
           |keeps AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp),
           |exact_edges AS (
           |  SELECT k.keep_id AS doc_a, f.doc_id AS doc_b
           |  FROM fps f JOIN keeps k ON f.fp = k.fp AND f.doc_id > k.keep_id),
           |dir1 AS (SELECT doc_a, doc_b FROM jpairs
           |         UNION ALL SELECT doc_a, doc_b FROM exact_edges),
           |edges AS (SELECT doc_a, doc_b FROM dir1
           |          UNION SELECT doc_b, doc_a FROM dir1),
           |nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM nodes
           |  UNION
           |  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a)
           |SELECT a AS doc_id, min(b) AS component,
           |       CAST(a = min(b) AS BIGINT) AS is_keeper
           |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
      // the full-pipeline composition: the SAME CTE fragments as d7 / t8 /
      // t2 / t5, stacked — one definition per stage, so the composed
      // oracle cannot drift from its components' (the stack itself is
      // [[t12OracleCtes]], shared with ExportQueries' count oracle)
      "t12_clean_corpus" -> oracle(
        s"""$t12OracleCtes
           |SELECT k.doc_id, q.quality_micro, r.n_emails, r.n_urls, r.redacted
           |FROM keepset k
           |JOIN quality q ON k.doc_id = q.doc_id
           |  AND q.quality_micro >= $CleanQualityFloor
           |LEFT JOIN contaminated x ON k.doc_id = x.doc_id
           |JOIN redacted r ON k.doc_id = r.doc_id
           |WHERE x.doc_id IS NULL
           |ORDER BY k.doc_id""".stripMargin),
      "t13_chunk_dedup" -> oracle(
        s""", chunks AS (
           |  SELECT doc_id,
           |         unnest(list_transform(
           |           range(0, CAST(ceil(len(toks) / $ChunkTokens.0) AS BIGINT)),
           |           i -> md5(array_to_string(
           |                  toks[i*$ChunkTokens+1:i*$ChunkTokens+$ChunkTokens], ' '))))
           |           AS chunk_md5
           |  FROM toks WHERE len(toks) >= 1)
           |SELECT chunk_md5, count(*) AS n_occurrences,
           |       count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_doc
           |FROM chunks GROUP BY chunk_md5
           |HAVING count(*) > 1
           |ORDER BY chunk_md5""".stripMargin),
      "t15_cdc_chunk_dedup" -> oracle(
        s""", tokp AS (
           |  SELECT doc_id, unnest(toks) AS token,
           |         unnest(range(len(toks))) AS pos
           |  FROM toks),
           |tb AS (
           |  SELECT doc_id, pos, token,
           |         CASE WHEN CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
           |                   % $CdcMod = 0
           |              THEN 1 ELSE 0 END AS b
           |  FROM tokp),
           |tc AS (
           |  SELECT doc_id, pos, token,
           |         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
           |  FROM tb),
           |cchunks AS (
           |  SELECT doc_id, chunk_no,
           |         md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_md5
           |  FROM tc GROUP BY doc_id, chunk_no
           |  HAVING count(*) >= $CdcMinTokens)
           |SELECT chunk_md5, count(*) AS n_occurrences,
           |       count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_doc
           |FROM cchunks GROUP BY chunk_md5
           |HAVING count(DISTINCT doc_id) > 1
           |ORDER BY chunk_md5""".stripMargin),
      "t16_gopher_rules" -> oracle(
        s"""SELECT doc_id, n_words, mean_word_len_micro, alpha_frac_micro,
           |       symbol_ratio_micro, n_stop_kinds,
           |       CAST($gopherKeepSql AS BIGINT) AS keep
           |FROM (${gopherSignalsSqlFor("toks", "corpus")})
           |ORDER BY doc_id""".stripMargin),
      "t17_bigram_lm" -> oracle(
        """, bg AS (
          |  SELECT doc_id,
          |         unnest(list_transform(range(0, len(toks) - 1),
          |                i -> toks[i+1])) AS w1,
          |         unnest(list_transform(range(0, len(toks) - 1),
          |                i -> array_to_string(toks[i+1:i+2], ' '))) AS bigram
          |  FROM toks WHERE len(toks) >= 2),
          |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
          |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
          |scored AS (
          |  SELECT b.doc_id, c2.c2,
          |         CAST(floor(CAST(c2.c2 AS DOUBLE) * 1000000.0 /
          |                    CAST(c1.c1 AS DOUBLE)) AS BIGINT) AS cond_micro
          |  FROM bg b JOIN c2 ON b.bigram = c2.bigram JOIN c1 ON b.w1 = c1.w1)
          |SELECT doc_id, count(*) AS n_bigrams,
          |       CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          |       CAST(floor(CAST(SUM(cond_micro) AS DOUBLE) / count(*))
          |            AS BIGINT) AS bigram_lm_micro
          |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "t18_dup_ngram_frac" -> oracle(
        """, dsh18 AS (SELECT DISTINCT doc_id, shingle FROM shingles),
          |dc18 AS (SELECT shingle, count(*) AS ndocs FROM dsh18 GROUP BY shingle)
          |SELECT doc_id, n_shingles, n_dup,
          |       CAST(floor(CAST(n_dup AS DOUBLE) * 1000000.0 /
          |                  CAST(n_shingles AS DOUBLE)) AS BIGINT) AS dup_frac_micro
          |FROM (
          |  SELECT s.doc_id, count(*) AS n_shingles,
          |         CAST(SUM(CASE WHEN dc18.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
          |  FROM shingles s JOIN dc18 ON s.shingle = dc18.shingle
          |  GROUP BY s.doc_id)
          |ORDER BY doc_id""".stripMargin),
      "t27_dup_span_coverage" -> oracle(
        s""", wins27 AS (
          |  SELECT doc_id,
          |         unnest(range(0, len(toks) - ${DupSpanTokens - 1})) AS pos,
          |         unnest(list_transform(range(0, len(toks) - ${DupSpanTokens - 1}),
          |                i -> md5(array_to_string(toks[i+1:i+$DupSpanTokens], ' ')))) AS w
          |  FROM toks WHERE len(toks) >= $DupSpanTokens),
          |shared27 AS (
          |  SELECT w FROM (SELECT w, COUNT(DISTINCT doc_id) AS nd
          |                 FROM wins27 GROUP BY w)
          |  WHERE nd >= 2),
          |cov27 AS (
          |  SELECT doc_id, COUNT(DISTINCT p) AS n_covered
          |  FROM (SELECT wi.doc_id, unnest(range(wi.pos, wi.pos + $DupSpanTokens)) AS p
          |        FROM wins27 wi JOIN shared27 s ON wi.w = s.w)
          |  GROUP BY doc_id)
          |SELECT t.doc_id,
          |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
          |       CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
          |       CAST((COALESCE(c.n_covered, 0) * 1000000) //
          |            GREATEST(len(t.toks), 1) AS BIGINT) AS covered_frac_micro
          |FROM toks t LEFT JOIN cov27 c ON t.doc_id = c.doc_id
          |ORDER BY t.doc_id""".stripMargin),
      // t32 shares t27's window construction verbatim (the one-definition
      // discipline at the SQL level: same CTE text, different consumers)
      "t32_span_scrub" -> oracle(
        s""", wins32 AS (
          |  SELECT doc_id,
          |         unnest(range(0, len(toks) - ${DupSpanTokens - 1})) AS pos,
          |         unnest(list_transform(range(0, len(toks) - ${DupSpanTokens - 1}),
          |                i -> md5(array_to_string(toks[i+1:i+$DupSpanTokens], ' ')))) AS w
          |  FROM toks WHERE len(toks) >= $DupSpanTokens),
          |own32 AS (
          |  SELECT w, MIN(doc_id) AS owner FROM wins32 GROUP BY w
          |  HAVING COUNT(DISTINCT doc_id) >= 2),
          |rem32 AS (
          |  SELECT DISTINCT doc_id, p FROM (
          |    SELECT wi.doc_id, unnest(range(wi.pos, wi.pos + $DupSpanTokens)) AS p
          |    FROM wins32 wi JOIN own32 o ON wi.w = o.w
          |    WHERE wi.doc_id <> o.owner)),
          |tok32 AS (
          |  SELECT doc_id, unnest(range(0, len(toks))) AS p, unnest(toks) AS tok
          |  FROM toks),
          |scr32 AS (
          |  SELECT t.doc_id, COUNT(*) AS n_kept,
          |         string_agg(t.tok, ' ' ORDER BY t.p) AS scrubbed
          |  FROM tok32 t
          |  LEFT JOIN rem32 r ON t.doc_id = r.doc_id AND t.p = r.p
          |  WHERE r.doc_id IS NULL
          |  GROUP BY t.doc_id)
          |SELECT t.doc_id,
          |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
          |       CAST(COALESCE(s.n_kept, 0) AS BIGINT) AS n_kept,
          |       CAST(len(t.toks) - COALESCE(s.n_kept, 0) AS BIGINT) AS n_removed,
          |       COALESCE(s.scrubbed, '') AS scrubbed
          |FROM toks t LEFT JOIN scr32 s ON t.doc_id = s.doc_id
          |ORDER BY t.doc_id""".stripMargin),
      // the report recomputes each monitor from the SAME CTE stack its
      // own operator oracles against — scalar subqueries, one row
      "x_corpus_report" -> oracle(
        s"""$t12OracleCtes
           |SELECT
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_docs,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
           |     SELECT k.doc_id FROM keepset k
           |     JOIN quality q ON k.doc_id = q.doc_id
           |       AND q.quality_micro >= $CleanQualityFloor
           |     LEFT JOIN contaminated x ON k.doc_id = x.doc_id
           |     WHERE x.doc_id IS NULL)) AS n_clean,
           |  (SELECT CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) FROM fps)
           |    AS n_exact_dups,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM jpairs) AS n_near_pairs,
           |  (SELECT CAST(SUM(quality_micro) // COUNT(*) AS BIGINT) FROM quality)
           |    AS mean_quality_micro,
           |  (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM toks) AS n_tokens""".stripMargin),
      "t31_contamination_frac" -> oracle(
        s""", dsh31 AS (SELECT DISTINCT doc_id, shingle FROM shingles),
           |bsh31 AS (SELECT DISTINCT shingle FROM dsh31
           |         WHERE doc_id % 97 = 0 AND doc_id < 1000000),
           |train31 AS (SELECT doc_id, shingle FROM dsh31
           |            WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000)),
           |tot31 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
           |          FROM train31 GROUP BY doc_id)
           |SELECT s.doc_id, t.n_shingles, s.n_shared,
           |       (s.n_shared * 1000000) // t.n_shingles AS overlap_micro
           |FROM (SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           |      FROM train31 x JOIN bsh31 b ON x.shingle = b.shingle
           |      GROUP BY x.doc_id) s
           |JOIN tot31 t ON s.doc_id = t.doc_id
           |ORDER BY s.doc_id""".stripMargin),
      "t29_domain_cap" -> oracle(
        s"""SELECT doc_id, source, cap_rank,
           |       CAST(cap_rank <= $DomainCap AS BIGINT) AS kept
           |FROM (
           |  SELECT doc_id, source,
           |         row_number() OVER (PARTITION BY source ORDER BY
           |           CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
           |           doc_id) AS cap_rank
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin),
      "t30_sequence_pack" -> oracle(
        s"""SELECT doc_id, source, n_tokens,
           |       prior // $PackSeqTokens AS seq_idx,
           |       prior % $PackSeqTokens AS tok_offset
           |FROM (
           |  SELECT d.doc_id, d.source, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           |         CAST(COALESCE(SUM(len(t.toks)) OVER (
           |           PARTITION BY d.source ORDER BY d.doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS BIGINT) AS prior
           |  FROM documents d JOIN toks t ON d.doc_id = t.doc_id)
           |ORDER BY doc_id""".stripMargin),
      "t28_mix_solver" -> oracle {
        val targetValues = MixTargetShares
          .map { case (l, v) => s"('$l', CAST($v AS BIGINT))" }
          .mkString(",\n          ")
        s""", targets28 AS (
          |  SELECT * FROM (VALUES
          |          $targetValues) AS tv(lang, target_share_micro)),
          |corpavail28 AS (
          |  SELECT c.lang, CAST(SUM(len(t.toks)) AS BIGINT) AS available_tokens
          |  FROM toks t JOIN corpus c ON t.doc_id = c.doc_id
          |  WHERE t.doc_id < 1000000 GROUP BY c.lang),
          |tg28 AS (SELECT v.lang,
          |                CAST(COALESCE(a.available_tokens, 0) AS BIGINT)
          |                  AS available_tokens,
          |                v.target_share_micro
          |         FROM targets28 v LEFT JOIN corpavail28 a ON v.lang = a.lang),
          |b28 AS (SELECT MIN((available_tokens * 1000000) // target_share_micro)
          |          AS t_budget FROM tg28)
          |SELECT lang, available_tokens, target_share_micro,
          |       (target_share_micro * t_budget) // 1000000 AS take_tokens,
          |       CAST((((target_share_micro * t_budget) // 1000000) * 1000000)
          |            // GREATEST(available_tokens, 1) AS BIGINT) AS rate_micro
          |FROM tg28, b28 ORDER BY lang""".stripMargin
      },
      "t22_source_mix" -> oracle(
        s"""SELECT d.source, d.lang,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens,
           |       CAST(sum(d.n_chars) AS BIGINT) AS tot_chars,
           |       CAST(count(DISTINCT ${graft.ops.Fingerprint.sql("d.text")}) AS BIGINT) AS uniq_fps,
           |       CAST((CAST(sum(len(t.toks)) AS BIGINT) * 1000000)
           |            // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_doc_tokens_micro
           |FROM documents d JOIN toks t ON d.doc_id = t.doc_id
           |GROUP BY d.source, d.lang
           |ORDER BY d.source, d.lang""".stripMargin),
      "t23_zipf_mass" -> oracle(
        """, lt AS (
          |  SELECT c.lang, unnest(t.toks) AS token
          |  FROM toks t JOIN corpus c ON t.doc_id = c.doc_id),
          |freq AS (SELECT lang, token, count(*) AS tf FROM lt GROUP BY lang, token),
          |ranked AS (
          |  SELECT lang, tf,
          |         row_number() OVER (PARTITION BY lang
          |                            ORDER BY tf DESC, token) AS rank
          |  FROM freq)
          |SELECT lang,
          |       CAST(SUM(tf) AS BIGINT) AS n_tokens,
          |       CAST(COUNT(*) AS BIGINT) AS n_types,
          |       CAST((CAST(SUM(CASE WHEN rank <= 10 THEN tf ELSE 0 END) AS BIGINT)
          |             * 1000000) // CAST(SUM(tf) AS BIGINT) AS BIGINT)
          |         AS top10_share_micro,
          |       CAST((CAST(SUM(CASE WHEN rank <= 100 THEN tf ELSE 0 END) AS BIGINT)
          |             * 1000000) // CAST(SUM(tf) AS BIGINT) AS BIGINT)
          |         AS top100_share_micro,
          |       CAST((CAST(COUNT(*) AS BIGINT) * 1000000)
          |            // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS ttr_micro
          |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin),
      "t24_priority_sample" ->
        s"""WITH pri AS (
           |  SELECT source, doc_id, n_chars,
           |         round(CAST(n_chars * 4294967296 AS DOUBLE) /
           |               CAST(CAST(('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 8))
           |                         AS BIGINT) + 1 AS DOUBLE), 6) AS priority
           |  FROM documents)
           |SELECT source, doc_id, n_chars, priority, rank FROM (
           |  SELECT source, doc_id, n_chars, priority,
           |         row_number() OVER (PARTITION BY source
           |                            ORDER BY priority DESC, doc_id) AS rank
           |  FROM pri)
           |WHERE rank <= $PrioritySampleK
           |ORDER BY source, rank""".stripMargin,
      "t25_dsir_score" -> oracle(
        """, tokl AS (SELECT t.doc_id, c.lang, unnest(t.toks) AS token
          |           FROM toks t JOIN corpus c ON t.doc_id = c.doc_id),
          |doctf AS (SELECT doc_id, token, count(*) AS n_w
          |          FROM tokl GROUP BY doc_id, token),
          |ctf AS (SELECT token, count(*) AS c_c FROM tokl GROUP BY token),
          |ttf AS (SELECT token, count(*) AS c_t FROM tokl
          |        WHERE lang = 'en' GROUP BY token),
          |vocab AS (SELECT c.token, c.c_c, COALESCE(t.c_t, 0) AS c_t
          |          FROM ctf c LEFT JOIN ttf t ON c.token = t.token),
          |k AS (SELECT CAST(SUM(c_c) AS BIGINT) AS n_c,
          |             CAST(SUM(c_t) AS BIGINT) AS n_t,
          |             CAST(COUNT(*) AS BIGINT) AS v FROM vocab)
          |SELECT d.doc_id,
          |       CAST(SUM(d.n_w) AS BIGINT) AS n_tokens,
          |       CAST(SUM(d.n_w * ((v2.c_t + 1) * (k.n_c + k.v)
          |                         - (v2.c_c + 1) * (k.n_t + k.v)))
          |            AS BIGINT) AS dsir_units
          |FROM doctf d JOIN vocab v2 ON d.token = v2.token, k
          |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
      "t26_dsir_bucketed" -> oracle(
        s""", $dsirCorpusCtes,
           |doctf AS (SELECT doc_id, bucket, count(*) AS n_w
           |          FROM tokb GROUP BY doc_id, bucket)
           |SELECT d.doc_id,
           |       CAST(SUM(d.n_w) AS BIGINT) AS n_tokens,
           |       CAST(SUM(d.n_w * ((b.c_t + 1) * (k.n_c + $DsirBuckets)
           |                         - (b.c_c + 1) * (k.n_t + $DsirBuckets)))
           |            AS BIGINT) AS dsir_units
           |FROM doctf d JOIN btf b ON d.bucket = b.bucket, k
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
      "t11_repetition" -> oracle(
        """, bigrams AS (
          |  SELECT doc_id,
          |         unnest(list_transform(range(0, len(toks) - 1),
          |                i -> array_to_string(toks[i+1:i+2], ' '))) AS bigram
          |  FROM toks WHERE len(toks) >= 2),
          |bn AS (SELECT doc_id, bigram, count(*) AS n
          |       FROM bigrams GROUP BY doc_id, bigram)
          |SELECT doc_id, n_bigrams, top_bigram_n,
          |       CAST(floor(CAST(top_bigram_n AS DOUBLE) /
          |                  CAST(n_bigrams AS DOUBLE) * 1000000.0) AS BIGINT)
          |         AS rep_micro
          |FROM (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
          |             CAST(MAX(n) AS BIGINT) AS top_bigram_n
          |      FROM bn GROUP BY doc_id)
          |ORDER BY doc_id""".stripMargin),
      "t4_fingerprint" -> oracle(
        s"""SELECT c.doc_id,
           |  ${fpSql.replace("(text", "(c.text")} AS fp_md5,
          |  w.fp_winnow
          |FROM corpus c LEFT JOIN (
          |  SELECT doc_id, min(md5(shingle)) AS fp_winnow
          |  FROM shingles GROUP BY doc_id) w
          |ON c.doc_id = w.doc_id
          |ORDER BY c.doc_id""".stripMargin))
  }
}
