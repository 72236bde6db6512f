package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] similarity search over the `embeddings` table (builder brief):
  * brute-force cosine top-k (v1) as the correctness baseline; ANN probes
  * over sign buckets (v3), a trained IVF quantizer (v4/v6/v13), PQ codes
  * (v7), IVF-PQ with exact rerank (v15), binary sketches (v9) and int8
  * codes (v10); per-label centroids (v2); near-dup pairing, semantic dedup
  * and decontamination (v5/v8/v14); prototype pruning and balanced
  * sampling over the quantizer's cells (v11/v12); and the index monitors
  * and maintenance loop (v16/v17, drift report, compaction audit).
  *
  * One similarity skeleton: [[cosine6]] is the only cosine rule (every
  * scoring, assignment and gate site builds it), [[semNear]] the only
  * near-duplicate test, [[withinCellDrops]] the only within-cell drop set
  * (v8 and the compaction fold), and [[topK]] the only per-query
  * rank-and-cut tail (ties by vid ascending).
  *
  * Numeric discipline: embeddings are float32; every product/sum is
  * computed element-wise in DOUBLE in deterministic list order
  * (higher-order `aggregate` = sequential fold), and cosines are rounded
  * to 6 decimals BEFORE ranking, so a last-ulp libm difference between
  * engines can neither change a value nor reorder a top-k.
  *
  * Scale notes: v1 is O(Q x N) with Q = 3 broadcast query vectors — the
  * honest baseline. Every ANN variant bounds the candidates per probe
  * (a bucket or cell equi-join, a code scan, a sketch prefilter), so at
  * 100 TB the probe replaces any cross join.
  */
object VectorQueries {

  /** Cache registry mirroring [[TextQueries]]' lifecycle contract: Bench
    * (and any long-lived session) calls [[releaseCaches]] after the vector
    * block so the assigned-corpus cache doesn't stay pinned. */
  private val cacheRegistry =
    scala.collection.mutable.ArrayBuffer[DataFrame]()

  private def registered(df: DataFrame): DataFrame =
    cacheRegistry.synchronized {
      val p = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cacheRegistry += p
      p
    }

  /** Unpersist every cache this module created. Idempotent. */
  def releaseCaches(): Unit = cacheRegistry.synchronized {
    cacheRegistry.foreach(_.unpersist(blocking = false))
    cacheRegistry.clear()
  }

  /** Live registered-cache count (spec hook). */
  def activeCacheCount: Int = cacheRegistry.synchronized(cacheRegistry.size)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Tables.table(spark, dir, "embeddings")

  /** Σ a_i*b_i over two float arrays, double-accumulated left-to-right.
    * Uses the native codegen'd expression (graft.functions.FloatDotProduct,
    * registered via GraftExtensions) — bit-identical to the higher-order
    * `aggregate(zip_with(...))` fold it replaced, minus the per-element
    * lambda dispatch and array allocation (VectorSpec pins the equality
    * against that fold, kept as the test-side `HofForms.dotHof`). */
  private[graft] def dot(a: Column, b: Column): Column =
    call_function("float_dot", a, b)

  private[graft] def norm(a: Column): Column = sqrt(dot(a, a))

  /** The engine's one similarity rule: the cosine of `a` and `b` from
    * their precomputed norms, rounded to 6 decimals before anything
    * compares or ranks it (the module's numeric discipline). Every
    * cosine-scoring site — ANN probes, cell assignment in all its forms,
    * the semantic gate and compaction — builds this tree. */
  private[graft] def cosine6(a: Column, na: Column, b: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  /** Semantic near-duplicate test: same quantizer cell and a rounded
    * cosine at or above [[SemDedupCosine]]. As a join condition it plans
    * as a cell equi-join with the cosine as the residual. */
  private[graft] def semNear(cellA: Column, a: Column, na: Column,
      cellB: Column, b: Column, nb: Column): Column =
    cellA === cellB && cosine6(a, na, b, nb) >= SemDedupCosine.toDouble

  /** The greater `vec_id` of every near pair within a cell of `assigned`
    * (vec_id, embedding, cell, nrm): the pairwise drop set of v8 and of
    * [[graft.pipeline.VectorCompaction.compact]]'s intra-batch tier. */
  private[graft] def withinCellDrops(assigned: DataFrame): DataFrame =
    withinCellPairs(assigned).select(col("vec_b").as("vec_id")).distinct()

  /** Every near pair (vec_a < vec_b) within a cell of `assigned`. The id
    * order is tested before the cosine, so each pair is scored once. */
  private[graft] def withinCellPairs(assigned: DataFrame): DataFrame = {
    val a = assigned.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("cell"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("cell").as("cell_b"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b") &&
        semNear(col("cell"), col("ea"), col("na"), col("cell_b"), col("eb"), col("nb")))
      .select("vec_a", "vec_b")
  }

  /** Per-query top-k: rank each `qid`'s rows by `score` (ties by `vid`
    * ascending), keep ranks 1..k as `rk`, project (qid, vid, `cols`, rk)
    * and order by (qid, rk). The rank-then-cut tail every ANN query ends
    * with. */
  private[graft] def topK(scored: DataFrame, score: String, ascending: Boolean,
      k: Int, cols: String*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid"))
      .orderBy(if (ascending) col(score).asc else col(score).desc, col("vid").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(("qid" +: "vid" +: cols :+ "rk").map(col): _*)
      .orderBy("qid", "rk")
  }

  /** One Lloyd mean update: each `keys` group's new centroid is the
    * per-position mean of its members' `vec`, rounded to 6 decimals and
    * reassembled in position order as `cvec`. Keyed by `cell` for the IVF
    * quantizer and by (`s`, `code`) for the PQ codebooks. */
  private def lloydMeans(assigned: DataFrame, vec: String, keys: String*): DataFrame = {
    val k = keys.map(col)
    assigned.select(k :+ posexplode(col(vec)).as(Seq("pos", "v")): _*)
      .groupBy(k :+ col("pos"): _*)
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pcs"))
      .select(k :+ expr("transform(pcs, x -> x.cv)").as("cvec"): _*)
  }

  /** 8-bit sign-bucket of the first 8 dims (the LSH/IVF cell key). */
  private def bucket(a: Column): Column =
    (0 until 8).map(i => when(element_at(a, i + 1) > 0f, 1 << i).otherwise(0))
      .reduce(_ + _).cast("int")

  /** SQL twins on exploded (vec_id, pos, v) rows — DuckDB sums per (q,c)
    * group over 64 elements; double accumulation differences vs the fold
    * are absorbed by the shared round-to-6. */
  private val valsCte: String =
    """vals AS (
      |  SELECT vec_id, label,
      |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
      |         unnest(range(len(embedding))) AS pos
      |  FROM embeddings)""".stripMargin

  private val normsCte: String =
    "norms AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM vals GROUP BY vec_id)"

  private val bucketSql: String =
    (0 until 8).map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
      .mkString("CAST(", " + ", " AS INTEGER)")

  /** v1 — brute-force cosine top-10 for query vectors vec_id < 3: the
    * exhaustive baseline every ANN variant is judged against. The query
    * side is broadcast; the candidate scan streams — no shuffle of the
    * corpus. */
  def v1CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // norms are per-VECTOR, so compute them before the pairing join — the
    // oracle's norms CTE shape; computing them per candidate pair would
    // triple the per-pair array passes at any scale
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("vid"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val scored = c.join(broadcast(q))
      .select(col("qid"), col("vid"),
        cosine6(col("qe"), col("qn"), col("ce"), col("cn")).as("cosine"))
    topK(scored, "cosine", ascending = false, 10, "cosine")
  }

  /** v2 — per-label centroid, emitted as (label, pos, c) rows: posexplode +
    * one groupBy — the distributed mean over any corpus size. */
  def v2LabelCentroid(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid_v"))
      .orderBy("label", "pos")

  /** v3 — bucketed ANN: probe only the query's sign-bucket cell (~N/256 of
    * the corpus) — recall trades for a 256x candidate cut; the equi-join
    * on bucket is the plan that survives at 100 TB. */
  def v3BucketedAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).withColumn("bkt", bucket(col("embedding")))
      .withColumn("nrm", norm(col("embedding"))) // per-vector, pre-join
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bkt"),
        col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("vid"), col("embedding").as("ce"),
      col("bkt"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), Seq("bkt"))
      .select(col("qid"), col("vid"), col("bkt"),
        cosine6(col("qe"), col("qn"), col("ce"), col("cn")).as("cosine"))
    topK(scored, "cosine", ascending = false, 5, "bkt", "cosine")
  }

  /** Embeddings augmented with planted near-dups for v5: vec_id%5==0 gets
    * a mutant (vec_id+1,000,000) whose first component is scaled by 1.01 —
    * computed as a double multiply rounded back to float32, which is the
    * same IEEE operation in both engines. The sign of every component is
    * preserved, so each mutant lands in its source's sign-bucket and the
    * LSH probe can find the planted pair (mirrors the text-corpus mutant
    * scheme in TextQueries.corpus). */
  private def augEmb(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    e.unionByName(
      e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1).cast("double") * 1.01)
              .cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1))
            .as("embedding"),
          col("label")))
  }

  private val augCte: String =
    """aug AS (
      |  SELECT vec_id, embedding, label FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |         [CAST(embedding[1] * 1.01 AS FLOAT)] || embedding[2:],
      |         label
      |  FROM embeddings WHERE vec_id % 5 = 0)""".stripMargin

  /** v5 — embedding near-dup pairs: the vector analogue of MinHash+verify
    * dedup. Candidates come from the sign-bucket equi-join (never all
    * pairs); the exact rounded cosine is the verify step; threshold 0.999
    * keeps planted mutants and excludes every natural pair. At 100 TB the
    * bucket join is the same plan as v3 — candidates per probe are bounded
    * by the bucket population. */
  def v5NearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = augEmb(spark, dir).withColumn("bkt", bucket(col("embedding")))
      .withColumn("nrm", norm(col("embedding"))) // per-vector, pre-join
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("bkt"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("bkt").as("bkt_b"), col("nrm").as("nb"))
    a.join(b, col("bkt") === col("bkt_b") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine6(col("ea"), col("na"), col("eb"), col("nb")).as("cosine"))
      .filter(col("cosine") >= 0.999)
      .orderBy("vec_a", "vec_b")
  }

  /** k-means iteration/seed counts shared by the Spark plan and its oracle
    * twin (the SQL is generated from the same constants). IvfCells is the
    * FIXTURE pin: the v4/v6/v8 queries pass it to the trainer explicitly,
    * and the oracle SQL is generated from the same constant, so the two
    * quantizers cannot drift. A production deployment sizes the quantizer
    * with [[ivfCellsFor]] instead — the pin exists so oracle results stay
    * stable, not because 8 is a magic number. */
  private val IvfCells = 8
  private val LloydIters = 2

  /** Production IVF sizing: K ≈ √N cells — per-query work is centroid
    * scoring (K·dims) plus the probed-cell scan (nprobe·N/K·dims), which
    * balance at K ~ √N, the standard IVF rule — clamped to [1, maxCells].
    * maxCells bounds the quantizer state every assignment carries
    * (65536 cells × 64 dims ≈ 32 MB of doubles): the k>1 probe broadcasts
    * it, and [[nearestCell]] ships it with each task as one plan literal.
    * No caller trains near the cap (every query pins [[IvfCells]]); one
    * that did would want the k=1 centroids broadcast, not inlined. K also
    * picks where the quantizer trains: a √N-sized one fits
    * [[LocalLloydCosines]] (K x N) up to about 2,600 vectors and trains on
    * the driver, and in Spark above. */
  private[graft] def ivfCellsFor(n: Long, maxCells: Int = 1 << 16): Int =
    math.min(maxCells.toLong,
      math.max(1L, math.round(math.sqrt(n.toDouble)))).toInt

  /** Cells each query probes in v6 (v4 is the nprobe=1 special case). */
  private val IvfProbes = 2

  /** Deterministic md5-slice TRAINING sample (round-12 verdict task 5,
    * the t9/mixHash discipline): Lloyd and PQ-codebook training fold over
    * a BOUNDED slice of the corpus instead of every vector — at 100 TB a
    * quantizer trains on ~[[TrainSampleTarget]] vectors, never the full
    * table; only the one-pass final ASSIGNMENT touches every vector.
    *
    * The bound is a fixed COUNT, not a fixed fraction (a fraction of
    * 100 TB is still tens of TB): the md5-slice threshold is computed as
    * floor(target·2^32 / N) in exact BIGINT arithmetic, so the oracle
    * derives the SAME threshold from its own COUNT and samples
    * identically — the trained state stays cross-engine identical at any
    * N. When N <= target the threshold saturates and training is the
    * full corpus, so fixture-scale recall pins are untouched by
    * construction while the sampled branch stays oracle-expressible (and
    * is spec-pinned with an override target in VectorSpec). */
  private[graft] val TrainSampleTarget = 100000L

  /** floor(target·2^32 / n), or None when the corpus already fits the
    * trainer budget. Exact integer arithmetic — the SQL twin computes the
    * identical value from its own count. */
  private[graft] def trainSampleThresholdFor(n: Long,
      target: Long = TrainSampleTarget): Option[Long] =
    if (n <= target) None else Some((target * 4294967296L) / n)

  private[graft] def trainSampleHash: Column =
    conv(substring(
        md5(concat(lit("qtrain:"), col("vec_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")

  /** The sampled training view of `e` (full when n <= target). */
  private def trainSampleOf(e: DataFrame, n: Long,
      target: Long = TrainSampleTarget): DataFrame =
    trainSampleThresholdFor(n, target) match {
      case Some(t) => e.filter(trainSampleHash < t)
      case None => e
    }

  private val trainSampleHashSql: String =
    "CAST(('0x' || substr(md5('qtrain:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"

  /** SQL predicate over `vec_id` rows mirroring [[trainSampleOf]]: full
    * when the corpus fits the budget, else the identical integer-derived
    * md5-slice. `nSql` must count corpus VECTORS (distinct vec_id). */
  private def trainSampleSqlPred(nSql: String): String =
    s"""(($nSql) <= $TrainSampleTarget
       | OR $trainSampleHashSql < ($TrainSampleTarget * 4294967296) // ($nSql))""".stripMargin

  /** v4 — IVF ANN with a real k-means coarse quantizer: [[LloydIters]]
    * Lloyd iterations over cosine similarity, deterministically initialised
    * from fixed seed vectors (vec_id < [[IvfCells]] — reproducible, no RNG),
    * every distance rounded to 6 decimals BEFORE the argmax (cell-asc
    * tie-break) so both engines quantize identically. Each query then probes
    * only its own cell. Plan shape at 100 TB: centroids are tiny (K x dims)
    * local rows. The quantizer trains on the bounded md5-slice sample, in
    * Spark: each Lloyd pass is one per-row [[nearestCell]] projection + one
    * groupBy shuffle over the sample (a corpus within
    * [[LocalLloydCosines]], like the fixtures, trains on the driver after
    * a count and one collect). The probe is a cell equi-join — no cross
    * join, no corpus shuffle. */
  def v4IvfAnn(spark: SparkSession, dir: String): DataFrame =
    ivfAnn(spark, dir, nprobe = 1)

  /** v6 — multi-probe IVF: each query probes its [[IvfProbes]] nearest
    * cells instead of one. The standard scale answer to single-probe
    * recall starvation (the recall spec measures v3's single sign-bucket
    * at 0.20 on the fixture): candidate volume grows linearly with nprobe
    * while the plan shape — broadcast quantizer, cell equi-join — is
    * unchanged, so the recall/cost dial turns without touching the index.
    * Candidate cells are disjoint (a corpus vector lives in exactly one
    * cell), so no dedup surface exists. */
  def v6IvfMultiprobe(spark: SparkSession, dir: String): DataFrame =
    ivfAnn(spark, dir, nprobe = IvfProbes)

  /** Trained-quantizer memo, keyed by input dir: the Lloyd passes produce
    * tiny deterministic state (K x dims doubles), and "train once, probe
    * many" is exactly how an IVF index is used in production — v4 trains,
    * v6's multi-probe (and any later probe) reuses. Driver-side Seq, not
    * an executor cache: it survives releaseCaches() by design and costs
    * K x dims x 8 bytes. Keyed (dir, cells, sampleTarget). */
  private val quantizers =
    new graft.plans.TrainOnce[(String, Int, Long), Seq[(Long, Seq[Double])]]

  /** The one k=1 nearest-centroid rule: the cell of `e` among the local
    * quantizer rows `cents`, as ONE per-row expression — no join, no
    * window, no state, so the Lloyd trainer, every v-block assignment,
    * the cell index, its reassignment, the compaction and the streaming
    * gate all answer "which cell?" through this tree, and batch and
    * stream agree bit for bit.
    *
    * Returns struct(ccos, negcell, cell); read `ccos` and `cell`.
    * `array_max` over the centroids' (ccos, negcell) structs compares
    * field by field, so the winner is the highest [[cosine6]] and, on a
    * tie, the lowest cell (negcell = -cell) — the window rank's (ccos
    * desc, cell asc) order, with Spark's NaN-is-greatest ordering in both.
    * Centroids stay rounded DOUBLES (a cast to float would lose the
    * quantizer's 6-decimal precision), and their norms are folded on the
    * driver left to right, the order float_dot accumulates in, so every
    * ccos equals the one the window path computes. The vector's own norm
    * is bound once per row through a one-element `transform`: a plain
    * `norm(e)` inside the centroid lambda would be re-evaluated for each
    * centroid. A NULL embedding gets cell -1 and a null ccos.
    *
    * The centroids ride in the plan as one literal array, so the cost is
    * K rounded cosines per row and the literal is shipped with each task:
    * a few KB at the fixture's 8 cells. */
  private[graft] def nearestCell(e: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    // an empty quantizer (cells = 0 seeds none) would give every vector
    // cell -1, where the k>1 window rank emits no rows
    require(cents.nonEmpty, "IVF quantizer has no centroids")
    // built from non-null literals, so `cell` stays non-nullable and no
    // isnotnull(cell) filter re-evaluates the rule below a cell join
    val cs = array(cents.map { case (cell, cv) =>
      struct(lit(cell).as("cell"), typedLit(cv).as("cvec"),
        lit(math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x))).as("cn"))
    }: _*)
    val best = transform(when(e.isNotNull, array(norm(e))), n =>
      array_max(transform(cs, c => struct(
        cosine6(e, n, c("cvec"), c("cn")).as("ccos"),
        (-c("cell")).as("negcell"), c("cell").as("cell")))))
    coalesce(element_at(best, 1), struct(lit(null).cast("double").as("ccos"),
      lit(1L).as("negcell"), lit(-1L).as("cell")))
  }

  /** k-nearest-centroid assignment of `src`'s (vec_id, embedding) rows,
    * with the rounded cosine to the assigned centroid as `ccos` (v11's
    * prototypicality IS this value; every other caller projects it away).
    * k=1 is [[nearestCell]], one projection. k=nprobe, the query probe
    * set, ranks the K (vector, centroid) pairs of a broadcast join in a
    * window (ccos desc, cell asc) — the same order, and VectorSpec's
    * reference for the k=1 rule. */
  private[graft] def assignCells(cents: Seq[(Long, Seq[Double])], src: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = src.select(col("vec_id"), col("embedding"))
    if (k == 1)
      vecs.withColumn("m", nearestCell(col("embedding"), cents))
        .select(col("vec_id"), col("embedding"), col("m.cell"), col("m.ccos"))
    else {
      import src.sparkSession.implicits._
      // norms are per-vector / per-centroid — compute them once before the
      // K-way pairing, not once per (vector, cell) pair
      val cn = cents.toDF("cell", "cvec").withColumn("cn", norm(col("cvec")))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cell").asc)
      vecs.withColumn("nrm", norm(col("embedding")))
        .join(broadcast(cn))
        .select(col("vec_id"), col("embedding"), col("cell"),
          cosine6(col("embedding"), col("nrm"), col("cvec"), col("cn")).as("ccos"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("vec_id"), col("embedding"), col("cell"), col("ccos"))
    }
  }

  /** The memoized IVF quantizer's local rows (cell, cvec) — the (K x dims)
    * model state every assignment takes. Lloyd: seeds -> (assign -> mean)
    * x LloydIters; means rounded to 6 so the quantizer state is
    * cross-engine identical after every pass.
    *
    * The corpus is counted first, as the Spark loop always did. One of
    * at most [[localLloydRows]]`(cells)` vectors is then trained on the
    * driver ([[lloydLocal]]): ONE collect of (vec_id, embedding), and no
    * further Spark job. The collected corpus holds the seeds and is the
    * training set, sliced by [[trainSampleOf]] when it has more than
    * `sampleTarget` vectors. A larger corpus — the sampled branch at
    * production scale, or any K x N past the bound — trains in Spark
    * ([[lloydSpark]], given the count), where the corpus never leaves the
    * executors. Both loops assign through [[nearestCell]] and return the
    * same rows. */
  private[graft] def quantizerRows(spark: SparkSession, dir: String,
      cells: Int = IvfCells,
      sampleTarget: Long = TrainSampleTarget): Seq[(Long, Seq[Double])] =
    quantizers((dir, cells, sampleTarget)) {
      trainQuantizer(emb(spark, dir), cells, sampleTarget)
    }

  /** [[lloydLocal]] when `e` has at most [[localLloydRows]]`(cells)`
    * vectors, [[lloydSpark]] when it has more. The path is picked by a
    * count, not by a bounded collect that gives up past the bound: such a
    * probe reads and ships up to bound + 1 vectors per partition only to
    * throw them away, and made a train past the bound 6-10% slower than
    * the Spark loop alone (32,768 and 100,000 vectors at K=8), while the
    * count is the one the Spark loop needs anyway. Below the bound the
    * count costs about 50 ms of a 0.1-0.15 s train (500 and 2,000
    * vectors, against 0.25-0.30 s for the Spark loop;
    * `plans/local_lloyd/train_paths.txt`). */
  private[graft] def trainQuantizer(e: DataFrame, cells: Int,
      sampleTarget: Long = TrainSampleTarget): Seq[(Long, Seq[Double])] = {
    val vecs = e.select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    // the count bounds the collect: both read the same file listing
    if (n <= localLloydRows(cells)) lloydLocal(vecs, vecs.collect(), cells, sampleTarget)
    else lloydSpark(vecs, cells, sampleTarget, Some(n))
  }

  /** The largest Lloyd pass run on the driver, in cosine evaluations
    * (training vectors x cells): 16,384 vectors at the fixture's K=8.
    * Measured at 64 dims on 4 cores (JDK 17, Spark 4.1.2, `local[4]`): a
    * local pass costs about 1.2 µs per evaluation, one thread running the
    * interpreted [[nearestCell]], so a pass at the bound takes about
    * 0.25 s and the whole local train about 0.5 s, against 0.8 s for the
    * Spark loop; at twice the bound the two tie, and at 100,000 vectors
    * the Spark loop takes half the local time. The collected corpus costs
    * about 1.8 KB of driver heap per 64-dim vector (boxed rows plus the
    * local relation), about 30 MB at the bound at K=8, growing linearly
    * with the dims. */
  private[graft] val LocalLloydCosines: Long = 1L << 17

  /** Vectors [[trainQuantizer]] trains on the driver at most for a K-cell
    * quantizer. */
  private[graft] def localLloydRows(cells: Int): Int =
    (LocalLloydCosines / math.max(cells, 1)).toInt

  /** The (cell, cvec) rows of a centroid frame, as local quantizer rows. */
  private def centroidRows(c: DataFrame): Seq[(Long, Seq[Double])] = {
    import c.sparkSession.implicits._
    c.select(col("cell").cast("bigint"), col("cvec"))
      .as[(Long, Seq[Double])].collect().toSeq
  }

  /** The seed centroids: vectors vec_id < `cells`, widened to double. */
  private def seedsOf(e: DataFrame, cells: Int): DataFrame =
    e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))

  /** Lloyd in Spark over the (vec_id, embedding) frame `e`: a count
    * (unless `knownCount` gives it), a seed collect, then per pass one
    * [[nearestCell]] projection and a [[lloydMeans]] shuffle. Each pass's centroids are collected to local
    * rows before the next assignment: without the cut, every assignment
    * embeds the full prior-iteration lineage and the corpus gets
    * re-scored once per downstream action per iteration (the round-2 v4
    * regression). */
  private[graft] def lloydSpark(e: DataFrame, cells: Int,
      sampleTarget: Long = TrainSampleTarget,
      knownCount: Option[Long] = None): Seq[(Long, Seq[Double])] = {
    // train on the bounded deterministic sample (full when the corpus
    // fits the budget); the final corpus assignment (assignCells at the
    // consumers) still covers every vector
    val trainSet = trainSampleOf(e, knownCount.getOrElse(e.count()), sampleTarget)
    (1 to LloydIters).foldLeft(centroidRows(seedsOf(e, cells))) { (c, _) =>
      centroidRows(lloydMeans(assignCells(c, trainSet, 1), "embedding", "cell"))
    }
  }

  /** Lloyd on the driver over `rows`, the collected rows of the
    * (vec_id, embedding) frame `e`. They become one local relation, so
    * the seeds, the md5 slice and each pass's [[assignCells]] are the
    * Spark loop's own expressions, folded by the optimizer
    * (ConvertToLocalRelation) into local rows without a Spark job. Each
    * pass's means are [[localMeans]]. */
  private[graft] def lloydLocal(e: DataFrame, rows: Array[Row], cells: Int,
      sampleTarget: Long = TrainSampleTarget): Seq[(Long, Seq[Double])] = {
    val spark = e.sparkSession
    val corpus = spark.createDataFrame(java.util.Arrays.asList(rows: _*), e.schema)
    val trainSet = trainSampleOf(corpus, rows.length.toLong, sampleTarget)
    val trainRows = if (trainSet eq corpus) rows else trainSet.collect()
    (1 to LloydIters).foldLeft(centroidRows(seedsOf(corpus, cells))) { (c, _) =>
      // a local relation keeps its row order, so the i-th cell is the
      // i-th training row's
      val cellOf = assignCells(c, trainSet, 1).select(col("cell")).collect().map(_.getLong(0))
      localMeans(spark, cellOf, trainRows)
    }
  }

  /** [[lloydMeans]] on the driver: each cell's per-position mean of its
    * members' non-null elements (`rows`' embeddings, member i in cell
    * `cellOf(i)`), summed as doubles in row order and divided by their
    * count, as Spark's `avg` does. A position with no element averages to
    * null, and a cell with no position (every member null or empty) drops
    * out. The 6-decimal rounding is Spark's own `round`, folded over a
    * local relation, so no copy of its half-up rule lives here. Rows come
    * back by cell. */
  private def localMeans(spark: SparkSession, cellOf: Array[Long],
      rows: Array[Row]): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    // per cell: the sums and counts of each position seen so far
    val acc = scala.collection.mutable.TreeMap[Long, (Array[Double], Array[Long])]()
    var i = 0
    while (i < rows.length) {
      if (!rows(i).isNullAt(1)) {
        val v = rows(i).getSeq[Any](1)
        val (s0, n0) = acc.getOrElse(cellOf(i), (Array.emptyDoubleArray, Array.emptyLongArray))
        val (s, n) =
          if (v.length <= s0.length) (s0, n0)
          else (java.util.Arrays.copyOf(s0, v.length), java.util.Arrays.copyOf(n0, v.length))
        if (s ne s0) acc(cellOf(i)) = (s, n)
        var p = 0
        while (p < v.length) {
          val x = v(p)
          if (x != null) { s(p) += x.asInstanceOf[Float].toDouble; n(p) += 1L }
          p += 1
        }
      }
      i += 1
    }
    val means: Seq[(Long, Seq[Option[Double]])] = acc.toSeq.collect {
      case (cell, (s, n)) if s.nonEmpty =>
        cell -> s.indices.map(p => if (n(p) == 0L) None else Some(s(p) / n(p)))
    }
    means.toDF("cell", "mean")
      .select(col("cell"), transform(col("mean"), x => round(x, 6)).as("cvec"))
      .as[(Long, Seq[Double])].collect().toSeq
  }

  /** `df` with `outCol` = the [[nearestCell]] of `embCol`: one projection,
    * no shuffle, no state — streaming-legal, so the ingest gate, the cell
    * index and its reassignment all ride it. */
  private[graft] def withCellAssigned(df: DataFrame, embCol: String,
      outCol: String, cents: Seq[(Long, Seq[Double])]): DataFrame =
    df.withColumn(outCol, nearestCell(col(embCol), cents)("cell"))

  /** Static side of the streaming semantic gate (and any cell probe): the
    * corpus assigned to its quantizer cells with per-vector norms — the
    * same frame v4/v8 build internally, surfaced for stream-static joins.
    * At 100 TB this is a bucketed parquet table keyed by cell, re-read
    * per micro-batch. */
  def corpusCellIndex(spark: SparkSession, dir: String): DataFrame =
    // per-row assignment, NOT the assignCells window: the k=1 rule needs
    // no join and no shuffle, so the index derives in one scan+project
    // (measured at sf0.1: the window form cost a 400k-row sort-shuffle
    // per evaluation; a columnar-cache memo was even slower — per-probe
    // array access dominates). At 100 TB this frame is a bucketed
    // parquet TABLE written once and read per batch.
    withCellAssigned(emb(spark, dir).select(col("vec_id"), col("embedding")),
      "embedding", "cell", quantizerRows(spark, dir))
      .withColumn("nrm", norm(col("embedding")))

  /** The maintenance pass and its consequence in ONE call, so the epoch
    * invariant (VectorSpec: a retrained quantizer probing stale-assigned
    * index rows silently breaks the semantic gate) cannot be violated by
    * a caller who retrains and forgets to redeploy: measure + maybe
    * retrain via [[retrainIfDrifted]], and when it retrained, hand back
    * the index REASSIGNED under the fresh quantizer (the caller
    * republishes it and redeploys the gate with the same
    * [[quantizerRows]] the reassignment used). No drift → the index
    * comes back untouched, same instance. */
  def maintainIndex(spark: SparkSession, dir: String, index: DataFrame,
      maxHotCells: Long = 0L,
      maxDeadCells: Long = Long.MaxValue,
      recallFloorMicro: Long = 0L): (DriftReport, DataFrame) = {
    val report = retrainIfDrifted(spark, dir, maxHotCells, maxDeadCells,
      recallFloorMicro)
    (report,
      if (report.retrained) reassignIndex(index, quantizerRows(spark, dir))
      else index)
  }

  /** Post-retrain REASSIGNMENT of a materialized cell index — the
    * one-batch-pass redeploy [[graft.pipeline.VectorCompaction]]'s
    * scaladoc names: after [[retrainIfDrifted]] replaces the quantizer, a
    * cell-bucketed index TABLE (the soak/production topology, grown by
    * appends) still carries assignments computed under the stale
    * centroids; this recomputes `cell` for every indexed row under the
    * fresh ones — per-row norms and every other column ride along
    * unchanged (norms are quantizer-independent). One scan + project via
    * [[withCellAssigned]], no shuffle; at 100 TB the rewrite lands as the
    * new bucketed table and readers swap over atomically. */
  def reassignIndex(index: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    withCellAssigned(index.drop("cell"), "embedding", "cell", cents)

  /** Deletion-compliance purge of a materialized cell index — the VECTOR
    * leg of the forget pass ([[graft.pipeline.BatchPipeline.applyForget]]
    * purges the text export; this removes the deleted docs' embeddings
    * from the index the semantic gate probes and ANN serves). Without it
    * a deleted vector keeps leaking influence: the gate kills arrivals
    * for being near CONTENT THAT NO LONGER EXISTS, and similarity search
    * can still return the deleted id (VectorSpec pins both effects
    * flipping after the purge). One anti-join filter scan; the quantizer
    * and every other row are untouched — removal moves no centroids, so
    * unlike a retrain there is nothing to reassign, and at 100 TB the
    * rewrite lands as the new bucketed table exactly like
    * [[reassignIndex]]'s redeploy.
    *
    * Re-admission note: text re-arrivals of deleted content die at the
    * front door's suppression gate
    * ([[graft.streaming.EventStream.suppressAtIngest]] — embeddings enter
    * WITH their documents in the composed topology, so the text leg
    * shields the index). A standalone vector stream could only block
    * exact re-arrivals (an embedding-bytes blocklist); SIMILARITY-level
    * suppression would require retaining the deleted embedding to compare
    * against — a fundamental deletion-compliance tension, documented
    * rather than papered over. */
  def purgeIndex(index: DataFrame, removedVecIds: DataFrame): DataFrame =
    index.join(removedVecIds.select("vec_id"), Seq("vec_id"), "left_anti")

  /** Bytes-identity digest pair of an embedding — the ONE definition the
    * purge recorder and the standalone-stream suppression gate
    * ([[graft.streaming.EventStream.suppressVectorsAtIngest]]) share, the
    * suppressAtIngest fp discipline applied to vectors. `xxhash64`/`hash`
    * on an array<float> hash the element COUNT plus each float's bit
    * pattern (codegen'd, no UDF), i.e. exact bytes identity up to Spark's
    * float canonicalization (-0.0 ≡ 0.0, one NaN) — exactly the identity
    * an exact re-arrival of a forgotten vector carries. The pair is a
    * joint 96-bit digest: a forgotten entry colliding with an INNOCENT
    * arrival needs both hashes to match (~|list|·|arrivals|/2^96 — and a
    * false positive only over-suppresses, never re-admits). Digests ONLY
    * ever persist: retaining the deleted embedding itself to block it
    * would violate the deletion (see [[purgeIndex]]'s re-admission note —
    * similarity-level suppression is fundamentally out of reach for the
    * same reason; this blocklist is the implementable exact-identity
    * half). */
  private[graft] def vectorFpCols(e: Column): (Column, Column) =
    (xxhash64(e), hash(e))

  /** [[purgeIndex]] plus the durable record a standalone embedding stream
    * needs: the bytes-identity digests of the REMOVED vectors, computed
    * before the rows go (afterwards the content is unrecoverable — by
    * design). Returns (purged index, blocklist delta); callers append the
    * delta to the suppression table
    * [[graft.streaming.EventStream.suppressVectorsAtIngest]] probes. */
  def purgeIndexRecording(index: DataFrame,
      removedVecIds: DataFrame): (DataFrame, DataFrame) = {
    val (f64, f32) = vectorFpCols(col("embedding"))
    val blocklist = index
      .join(removedVecIds.select("vec_id"), "vec_id")
      .select(f64.as("vfp64"), f32.as("vfp32")).distinct()
    (purgeIndex(index, removedVecIds), blocklist)
  }

  private def ivfAnn(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = emb(spark, dir)
    val cent = quantizerRows(spark, dir, cells = IvfCells) // fixture pin: oracle SQL is generated from the same constant
    // cached: the probe reuses the corpus assignment (and per-vector norm);
    // the tiny query side gets its own k=nprobe assignment
    val assigned = registered(
      assignCells(cent, e, 1).withColumn("nrm", norm(col("embedding"))))
    // probe: exact cosine within the query's nprobe nearest cells only
    val q = assignCells(cent, e.filter(col("vec_id") < 3), nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"),
        norm(col("embedding")).as("qn"))
    val c = assigned
      .select(col("vec_id").as("vid"), col("embedding").as("ce"), col("cell"),
        col("nrm").as("cn"))
    val probed = c.join(broadcast(q), Seq("cell"))
      .select(col("qid"), col("vid"), col("cell"),
        cosine6(col("qe"), col("qn"), col("ce"), col("cn")).as("cosine"))
    topK(probed, "cosine", ascending = false, 5, "cell", "cosine")
  }

  /** v13 — FILTERED ANN (label-constrained IVF probe): the production
    * vector-search feature every metadata-scoped query needs — "nearest
    * neighbors among vectors WHERE label = X". Pre-filter discipline: the
    * label predicate joins into the candidate set BEFORE any cosine is
    * computed (post-filtering a top-k starves recall when the filter is
    * selective — the classic filtered-search failure), over the same
    * multi-probe cell surface as v6.
    *
    * Plan shape at 100 TB: the metadata column would live IN the
    * cell-bucketed index table (here it joins back on vec_id — one
    * equi-join against the corpus-sized label projection); the probe is
    * still cells x filter before distances, so candidate volume only ever
    * shrinks vs v6. */
  def v13FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cent = quantizerRows(spark, dir, cells = IvfCells) // fixture pin: oracle SQL is generated from the same constant
    val labels = e.select(col("vec_id"), col("label"))
    val assigned = assignCells(cent, e, 1)
      .join(labels, "vec_id")
      .withColumn("nrm", norm(col("embedding")))
    val q = assignCells(cent, e.filter(col("vec_id") < 3), IvfProbes)
      .join(labels, "vec_id")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"),
        norm(col("embedding")).as("qn"), col("label").as("qlabel"))
    val c = assigned.select(col("vec_id").as("vid"), col("embedding").as("ce"),
      col("cell").as("c_cell"), col("nrm").as("cn"), col("label").as("clabel"))
    val probed = c.join(broadcast(q),
        col("c_cell") === col("cell") && col("clabel") === col("qlabel"))
      .select(col("qid"), col("vid"), col("cell"), col("clabel").as("label"),
        cosine6(col("qe"), col("qn"), col("ce"), col("cn")).as("cosine"))
    topK(probed, "cosine", ascending = false, 5, "cell", "label", "cosine")
  }

  /** PQ geometry shared by the Spark plan and its oracle twin: 64 dims =
    * [[PqSubspaces]] x [[PqSubDim]], [[PqCodes]] sub-centroids per
    * subspace, seeds = the subvectors of vec_id < PqCodes, one Lloyd
    * refinement (same deterministic-init discipline as v4). */
  private val PqSubspaces = 8
  private val PqSubDim = 8
  private val PqCodes = 16
  private val PqLloydIters = 1

  /** Trained-codebook memo, keyed by input dir (the train-once contract
    * of [[quantizers]]). Rows are (s, code, cvec). */
  private val pqCodebooks =
    new graft.plans.TrainOnce[String, Seq[(Long, Long, Seq[Double])]]

  /** v7 — product-quantization ANN with an ADC (asymmetric distance
    * computation) scan: each vector is encoded as 8 four-bit codes — the
    * 100 TB memory answer (8 BYTES per vector instead of a 256-byte
    * float32 embedding; the corpus the probe touches shrinks 32x and the
    * per-candidate cost becomes 8 table lookups instead of a 64-dim dot).
    *
    * Train: per-subspace k-means ([[PqCodes]] centroids over the 8-dim
    * subvectors; deterministic seed init from vec_id < 16, one Lloyd
    * pass, every distance ROUNDED to 6 decimals before the argmin with
    * code-asc ties — the v4 cross-engine quantizer discipline, applied to
    * squared L2). Encode: one broadcast join + per-(vector, subspace)
    * argmin. Probe: the query's 8 x 16 distance table is broadcast and
    * the approximate distance is one groupBy-sum over the code table —
    * no embedding array is ever touched after encoding.
    *
    * Plan shape at 100 TB: codebook and distance tables are tiny
    * broadcasts (K x dims and Q x 8 x 16); encoding is one pass over the
    * corpus; the ADC scan reads only the 8-byte code rows. Returns
    * squared-L2 top-5 per query (PQ approximates L2, not cosine —
    * VectorSpec measures recall against the exact L2 ground truth). */
  def v7PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val (codes, qtab) = pqCodesAndQtab(spark, dir)
    // ADC: approximate distance = sum of the 8 looked-up table entries
    val probed = codes.join(broadcast(qtab), Seq("s", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("dt")), 6).as("adist"))
      .select(col("qid"), col("vec_id").as("vid"), col("adist"))
    topK(probed, "adist", ascending = true, 5, "adist")
  }

  /** The PQ encode pass shared by v7 and v15: (corpus code table, query
    * distance table). Codebook training stays memoized in
    * [[pqCodebooks]]. */
  private def pqCodesAndQtab(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val e = emb(spark, dir)
    // (vec_id, s, sub, da=||sub||^2): the 8-dim subvectors; norms are
    // per-subvector, computed once before any K-way pairing
    val subs = e.select(col("vec_id"),
        explode(array((0 until PqSubspaces).map(s =>
          struct(lit(s.toLong).as("s"),
            slice(col("embedding"), s * PqSubDim + 1, PqSubDim).as("sub"))): _*))
          .as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sub").as("sub"))
      .withColumn("da", dot(col("sub"), col("sub")))
    // rounded squared L2 against every sub-centroid of the row's subspace;
    // keepAll=false -> argmin (the code assignment), true -> full table
    def scored(cent: DataFrame, src: DataFrame): DataFrame = {
      val cn = cent.withColumn("db", dot(col("cvec"), col("cvec")))
      src.join(broadcast(cn), Seq("s"))
        .select(col("vec_id"), col("s"), col("code"),
          round(col("da") - lit(2.0) * dot(col("sub"), col("cvec")) + col("db"), 6)
            .as("dist"))
    }
    def assign(cent: DataFrame, src: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"), col("s"))
        .orderBy(col("dist").asc, col("code").asc)
      scored(cent, src).withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).select("vec_id", "s", "code")
    }
    def toLocal(c: DataFrame): Seq[(Long, Long, Seq[Double])] =
      c.select(col("s").cast("bigint"), col("code").cast("bigint"), col("cvec"))
        .as[(Long, Long, Seq[Double])].collect().toSeq
    val centRows = pqCodebooks(dir) {
      val seeds = subs.filter(col("vec_id") < PqCodes)
        .select(col("s"), col("vec_id").as("code"),
          expr("transform(sub, x -> CAST(x AS DOUBLE))").as("cvec"))
      // codebooks train on the bounded deterministic sample (the
      // quantizerRows discipline); the encode pass below still codes
      // every vector
      val trainSubs = trainSampleOf(subs, e.count())
      (1 to PqLloydIters).foldLeft(toLocal(seeds)) { (c, _) =>
        toLocal(lloydMeans(assign(c.toDF("s", "code", "cvec"), trainSubs)
          .join(trainSubs, Seq("vec_id", "s")), "sub", "s", "code"))
      }
    }
    val cent = centRows.toDF("s", "code", "cvec")
    // encode: 8 four-bit codes per vector — the only corpus-sized state
    val codes = assign(cent, subs)
    // the query-side distance table: Q x 8 x 16 rows, broadcast
    val qtab = scored(cent, subs.filter(col("vec_id") < 3))
      .select(col("vec_id").as("qid"), col("s"), col("code"), col("dist").as("dt"))
    (codes, qtab)
  }

  /** v15's rerank shortlist: ADC keeps this many candidates per query
    * before the exact pass — the recall/cost dial of a two-stage index.
    * Shared with the oracle. */
  private val IvfPqShortlist = 20

  /** v15 — IVF-PQ with exact rerank: the production-standard two-stage
    * vector index (the FAISS IVFPQ shape) composed from the engine's own
    * parts — v6's multi-probe coarse quantizer bounds the candidate set
    * to the query's [[IvfProbes]] cells, v7's PQ codes rank those
    * candidates by ADC (8 table lookups per candidate, embeddings never
    * touched), and the top [[IvfPqShortlist]] get ONE exact squared-L2
    * rerank over the full float vectors. Every tier rides the memoized
    * model state (coarse quantizer + PQ codebook — train once, probe
    * many).
    *
    * Plan shape at 100 TB: candidates = cells x nprobe (never the
    * corpus); the ADC scan reads 8-byte code rows for candidates only;
    * the exact pass touches shortlist x queries embeddings — thousands of
    * rows whatever the corpus size. This is the index layout that serves
    * interactive retrieval over billions of vectors; v4/v6/v7 are its
    * ablations. */
  def v15IvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cent = quantizerRows(spark, dir, cells = IvfCells) // fixture pin: oracle SQL is generated from the same constant
    val corpCells = assignCells(cent, e, 1)
      .select(col("vec_id").as("vid"), col("cell"))
    val qCells = assignCells(cent, e.filter(col("vec_id") < 3), IvfProbes)
      .select(col("vec_id").as("qid"), col("cell"))
    val cand = corpCells.join(broadcast(qCells), Seq("cell"))
      .select("qid", "vid")
    val (codes, qtab) = pqCodesAndQtab(spark, dir)
    val adc = cand.join(codes.withColumnRenamed("vec_id", "vid"), Seq("vid"))
      .join(broadcast(qtab), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(round(sum(col("dt")), 6).as("adist"))
    // the shortlist's (qid, rk) order is dropped: a sort under a join
    // never reaches the plan
    val short = topK(adc, "adist", ascending = true, IvfPqShortlist)
      .select("qid", "vid")
    val qe = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ce = e.select(col("vec_id").as("vid"), col("embedding").as("ce"))
    val reranked = short.join(broadcast(qe), Seq("qid")).join(ce, Seq("vid"))
      .select(col("qid"), col("vid"),
        // + 0.0 normalizes IEEE negative zero: a self-distance that
        // rounds to -0.0 in one engine and 0.0 in the other would
        // hash-differ while being numerically equal
        (round(dot(col("qe"), col("qe")) - lit(2.0) * dot(col("qe"), col("ce"))
          + dot(col("ce"), col("ce")), 6) + lit(0.0)).as("dist"))
    topK(reranked, "dist", ascending = true, 5, "dist")
  }

  /** Within-cell duplicate threshold for v8 — same rounded-cosine bar as
    * v5, shared with the oracle twin. */
  private[graft] val SemDedupCosine = "0.999"

  /** v8 — SEMANTIC dedup (the SemDeDup shape): cluster the corpus with the
    * SAME trained IVF quantizer as v4/v6, compute exact rounded cosine only
    * WITHIN each cell, and drop every vector that has a near-identical
    * (cosine >= 0.999) neighbor with a smaller vec_id in its cell. This is
    * the embedding-space analogue of the d7 pairwise keep-set — the
    * pairwise (not component-closed) discipline is intentional and matches
    * the published algorithm; d9 documents the closure upgrade.
    *
    * Runs on the augmented corpus (v5's planted float mutants), so the
    * expected drop set is exactly the mutants: a mutant points within
    * 0.001 cosine of its source, lands in the same quantizer cell (signs
    * and direction preserved), and its vec_id (+1,000,000) is the greater
    * of the pair.
    *
    * Plan shape at 100 TB: quantizer is memoized tiny state (train once,
    * probe many); assignment is one per-row projection; the quadratic
    * surface is bounded WITHIN cells — exactly SemDeDup's published cost
    * model, dialed by the cell count (IvfCells here; ~sqrt(N) cells in
    * production so cells stay ~constant-size). The assigned frame is
    * cached so the self-join's two sides share one computation. Emits
    * (vec_id, cell, is_kept) for the whole corpus. */
  def v8SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val cent = quantizerRows(spark, dir, cells = IvfCells) // fixture pin: oracle SQL is generated from the same constant
    val assigned = registered(
      assignCells(cent, augEmb(spark, dir), 1)
        .withColumn("nrm", norm(col("embedding"))))
    assigned.select(col("vec_id"), col("cell"))
      .join(withinCellDrops(assigned).withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dropped").isNull, 1L).otherwise(0L).as("is_kept"))
      .orderBy("vec_id")
  }

  /** Held-out benchmark slice for v14: base vectors below this id stand in
    * for an eval set's embeddings (mutant ids are +1,000,000, so the
    * filter cleanly selects base rows only). Shared with the oracle. */
  private val DecontamBenchIds = 10

  /** v14 — SEMANTIC decontamination: the embedding-space analogue of t8's
    * n-gram benchmark scrub — drop training vectors that are
    * near-duplicates of a HELD-OUT benchmark set (eval-set leakage that
    * paraphrasing hides from n-gram overlap). Same cell-bounded discipline
    * as v8: both sides assign to the shared trained quantizer, and the
    * exact rounded cosine is computed only for (train, benchmark) pairs in
    * the SAME cell. Runs on the augmented corpus so the planted mutants of
    * benchmark-slice vectors are the provably-contaminated rows — mutants
    * of non-benchmark vectors are near-dups but NOT contamination, which
    * is exactly the discrimination this op exists to make.
    *
    * Plan shape at 100 TB: the benchmark side is an eval set — thousands
    * of rows, broadcast; the train side streams through one broadcast
    * join bounded by cell equality. No train-side self-surface at all, so
    * this is strictly cheaper than v8 on the same corpus. */
  def v14SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val cent = quantizerRows(spark, dir, cells = IvfCells) // fixture pin: oracle SQL is generated from the same constant
    val all = augEmb(spark, dir)
    val ta = assignCells(cent, all.filter(col("vec_id") >= DecontamBenchIds), 1)
      .withColumn("nrm", norm(col("embedding")))
    val ba = assignCells(cent, all.filter(col("vec_id") < DecontamBenchIds), 1)
      .withColumn("nrm", norm(col("embedding")))
    val hits = ta
      .select(col("vec_id"), col("embedding").as("te"), col("cell"),
        col("nrm").as("tn"))
      .join(broadcast(ba.select(col("embedding").as("be"),
          col("cell").as("bcell"), col("nrm").as("bn"))),
        semNear(col("cell"), col("te"), col("tn"), col("bcell"), col("be"), col("bn")))
      .select(col("vec_id")).distinct()
    ta.select(col("vec_id"), col("cell"))
      .join(hits.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("hit").isNull, 0L).otherwise(1L).as("contaminated"))
      .orderBy("vec_id")
  }

  /** x_vcompact — the embedding-index compaction pipeline as a
    * driver-checked query (the vector twin of x_compact_audit): a
    * deterministic arrival batch — corpus re-arrivals at %45 (die at the
    * semantic gate), negations at %50==3 (novel directions, pass), and a
    * negation/nudged-negation pair at %100==7 (intra-batch near pair: the
    * lesser id survives) — runs through the production
    * [[graft.pipeline.VectorCompaction.compact]] against the corpus cell
    * index, and the result is compact's own one-row audit. DuckDB
    * recomputes both kill tiers over the shared Lloyd chain, so the
    * oracle checks the fold path the batch pipeline runs, not a copy. */
  def xVcompactAudit(spark: SparkSession, dir: String): DataFrame = {
    val compacted = graft.pipeline.VectorCompaction
      .compact(xVcompactArrivals(spark, dir), corpusCellIndex(spark, dir), quantizerRows(spark, dir))
    compacted.release() // the audit is local rows; the delta is not read
    compacted.audit
  }

  /** [[xVcompactAudit]]'s arrival batch. */
  private[graft] def xVcompactArrivals(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    def neg(c: Column): Column = transform(c, x => -x)
    def nudgedNeg(c: Column): Column = concat(
      array((element_at(c, 1).cast("double") * -1.01).cast("float")),
      transform(slice(c, lit(2), size(c) - 1), x => -x))
    e.filter(col("vec_id") % 45 === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 50 === 3)
        .select((col("vec_id") + 6000000L).as("vec_id"),
          neg(col("embedding")).as("embedding")))
      .unionByName(e.filter(col("vec_id") % 100 === 7)
        .select((col("vec_id") + 7000000L).as("vec_id"),
          neg(col("embedding")).as("embedding")))
      .unionByName(e.filter(col("vec_id") % 100 === 7)
        .select((col("vec_id") + 8000000L).as("vec_id"),
          nudgedNeg(col("embedding")).as("embedding")))
  }

  /** v16's imbalance alert bar: a cell holding more than twice its fair
    * share flags (micro-units; shared with the oracle). */
  private val CellBalanceAlertMicro = 2000000L / IvfCells

  /** v16 — cell-balance monitor: the index-health report an ANN serving
    * layer watches — per-cell population, its micro-share of the corpus,
    * the absolute deviation from the fair share (1e6/K), and an alert
    * flag at 2x fair share. Probe latency under IVF is proportional to
    * the probed cell's size, so a cell drifting hot (corpus drift since
    * the quantizer trained) IS the retrain signal — this query makes
    * drift a number instead of a tail-latency surprise. All arithmetic
    * exact BIGINT micro-units.
    *
    * Plan shape at 100 TB: one assignment pass + a K-row aggregate; the
    * report is quantizer-sized, never corpus-sized. */
  def v16CellBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = quantizerRows(spark, dir)
    val assigned = assignCells(cents, emb(spark, dir), 1)
      .select(col("vec_id"), col("cell"))
    val tot = assigned.agg(count(lit(1)).cast("bigint").as("n_total"))
    val fair = 1000000L / IvfCells
    // LEFT join from the quantizer's cell universe (r11 advice): a DEAD
    // cell — zero assigned vectors, arguably the strongest drift signal a
    // balance monitor can emit — must report n_vecs = 0 with dev_micro =
    // the full fair share, not silently vanish from the output.
    val counts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).cast("bigint").as("n_vecs"))
    cents.map(_._1).toDF("cell").join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("(n_vecs * 1000000) div n_total").as("share_micro"))
      .withColumn("dev_micro", abs(col("share_micro") - lit(fair)))
      .withColumn("hot",
        when(col("share_micro") > CellBalanceAlertMicro, 1L).otherwise(0L))
      .orderBy("cell")
  }

  /** v17 — ANN recall audit: recall@5 of the deployed IVF index against
    * the exhaustive baseline, per query vector, as a QUERY — the index
    * quality monitor every ANN service runs next to v16's cell-balance
    * monitor (quantizer drift shows up here as falling recall before any
    * user complains). Both sides are the engine's own gated queries (v1's
    * exact top-k, v4's single-probe IVF), joined on (qid, vid); recall is
    * exact integer micro-units. VectorSpec's recall pins assert a floor
    * once; this emits the number continuously, per query, for dashboards
    * and alerting.
    *
    * Scale shape: production audits a SAMPLE of queries (the fixture's
    * qid < 3 IS that sample) — both sides are broadcast-query scans over
    * the corpus, the join is sample-sized, and the aggregate is one row
    * per audited query. Nothing here grows with the corpus beyond the two
    * audited top-k passes themselves. */
  def v17RecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = v1CosineTopk(spark, dir).filter(col("rk") <= 5)
      .select(col("qid"), col("vid"))
    val approx = v4IvfAnn(spark, dir).select(col("qid"), col("vid"))
    val hits = exact.join(approx, Seq("qid", "vid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("qid"), col("n_hits"),
        expr("(n_hits * 1000000) div n_exact").as("recall_micro"))
      .orderBy("qid")
  }

  /** One index-maintenance pass's verdict: the measured drift signals and
    * whether they tripped a retrain. `minRecallMicro` is None when the
    * recall audit was disabled (floor 0). */
  case class DriftReport(hotCells: Long, deadCells: Long,
      minRecallMicro: Option[Long], retrained: Boolean)

  /** Drop every trained-model memo for `dir` (coarse quantizer at every
    * (cells, sampleTarget) key, PQ codebooks) so the next consumer
    * retrains over the corpus as it stands (the release hook of specs
    * and benchmarks; [[retrainIfDrifted]] evicts through its memos'
    * refit). */
  private[graft] def evictTrained(dir: String): Unit = {
    quantizers.evict(_._1 == dir)
    pqCodebooks.evict(_ == dir)
  }

  /** The index-maintenance loop v16/v17 exist to feed — measure drift,
    * retrain when a monitor trips:
    *
    *   1. re-list the corpus (a compaction loop APPENDS embedding files;
    *      the memoized reader pins its listing at first read, so a
    *      maintenance pass must observe the corpus as it stands);
    *   2. v16 cell balance → hot-cell and dead-cell counts;
    *   3. v17 recall audit → min per-query recall@5 (only when
    *      `recallFloorMicro` > 0 — the audit costs an exhaustive top-k
    *      pass, so deployments choose whether to pay it per cycle);
    *   4. any monitor past its threshold ⇒ evict the memoized
    *      quantizer + PQ codebooks for `dir` and retrain eagerly (once
    *      per pass, by [[graft.plans.TrainOnce.refit]]: a quantizer that
    *      step 2 just trained on a cold memo is kept, and the quantizers
    *      trained before the pass are dropped), so every later consumer
    *      (v4/v6/v8/v11/v12, [[corpusCellIndex]], the streaming semantic
    *      gate's next deployment) probes the fresh quantizer; a MATERIALIZED index table redeploys its
    *      stale assignments in one batch pass via [[reassignIndex]].
    *
    * Thresholds are exact micro-units like the monitors themselves;
    * defaults trip on ANY hot cell and never on dead cells or recall.
    * Retraining is the same deterministic bounded-sample Lloyd chain as
    * cold training — at 100 TB a maintenance pass costs one assignment
    * scan (v16) plus the ~[[TrainSampleTarget]]-vector retrain, and the
    * report is quantizer-sized. A point-mass arrival heavier than the
    * hot bar stays hot even under a fresh quantizer (that is a data
    * property, not drift) — the loop converges by measuring the
    * RETRAINED state on the next cycle and holding thresholds, not by
    * retraining forever: pass the previous report's counts as the new
    * thresholds to trip only on regression. */
  def retrainIfDrifted(spark: SparkSession, dir: String,
      maxHotCells: Long = 0L,
      maxDeadCells: Long = Long.MaxValue,
      recallFloorMicro: Long = 0L): DriftReport = {
    graft.plans.Tables.invalidate(s"$dir/embeddings.parquet")
    quantizers.refit(_._1 == dir) {
      val bal = v16CellBalance(spark, dir)
        .agg(sum(col("hot")).as("hot"),
          sum(when(col("n_vecs") === 0L, 1L).otherwise(0L)).as("dead"))
        .collect()(0)
      val (hot, dead) = (bal.getLong(0), bal.getLong(1))
      val minRecall =
        if (recallFloorMicro <= 0L) None
        else Some(v17RecallAudit(spark, dir)
          .agg(min(col("recall_micro")).as("mr")).collect()(0).getLong(0))
      DriftReport(hot, dead, minRecall, retrained = hot > maxHotCells ||
        dead > maxDeadCells || minRecall.exists(_ < recallFloorMicro))
    }(_.retrained) {
      pqCodebooks.evict(_ == dir)
      quantizerRows(spark, dir) // retrain now, not at the next probe
    }
  }

  /** x_drift_report — the maintenance pass's monitor summary as ONE
    * oracled row: hot/dead cell counts from v16's balance report and the
    * min per-query recall from v17's audit — exactly the numbers
    * [[retrainIfDrifted]] thresholds against, surfaced as a query so the
    * trigger's inputs are themselves hash-gated (and dashboard-able
    * without re-deriving either monitor). Plan shape: both sides are
    * quantizer-/sample-sized aggregates over the already-scale-shaped
    * monitors, crossed as 1-row broadcasts — nothing corpus-sized moves. */
  def xDriftReport(spark: SparkSession, dir: String): DataFrame =
    v16CellBalance(spark, dir)
      .agg(sum(col("hot")).as("n_hot"),
        sum(when(col("n_vecs") === 0L, 1L).otherwise(0L)).as("n_dead"))
      .crossJoin(broadcast(v17RecallAudit(spark, dir)
        .agg(min(col("recall_micro")).as("min_recall_micro"))))

  /** v9's Hamming radius: at 24/64 bits the prefilter passes ~3% of the
    * corpus (measured at every fixture SF) and keeps recall@5 = 0.6
    * against the exact top-5 — 3x v3's single sign-bucket (0.20) for the
    * same index-free shape. Shared with the generated oracle SQL. */
  private val BinaryHammingBudget = 24

  /** Sign bits of 32 consecutive dims packed into one sign-safe BIGINT
    * (the SimHash two-halves discipline — one packed 64-bit word would
    * put dim 64's bit in the sign). `lo` is the 1-based dim offset. */
  private def bsigHalf(a: Column, lo: Int): Column =
    (0 until 32).map(i =>
      when(element_at(a, lo + i) > 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _).cast("bigint")

  private def bsigHalfSql(lo: Int): String =
    (0 until 32).map(i =>
      s"CASE WHEN embedding[${lo + i}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** Checkpointed sign-sketch base for v9: (vec_id, embedding, blo, bhi,
    * nrm). The 128 per-row CASE branches of the two sketch halves are the
    * query's only non-trivial per-row compute, and the r9 driver run
    * showed v9 at 3.9x its anchor re-deriving them per call per rep —
    * with the base on disk, each call is one plain scan and any residual
    * driver spike is attributable to the snapshot build in rep 1
    * (bench_out rep_times). At 100 TB the sketch columns would live as a
    * separate 16-byte/row index with a survivor join-back to the
    * embeddings; locally the rerank reads the embedding in the same scan,
    * so one table keeps the plan join-free. */
  private def cachedBinSketch(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Snapshot.checkpointed(spark, dir, "bsketch")(
      emb(spark, dir)
        .withColumn("blo", bsigHalf(col("embedding"), 1))
        .withColumn("bhi", bsigHalf(col("embedding"), 33))
        .withColumn("nrm", norm(col("embedding"))))

  /** v9 — binary-quantization ANN (the RaBitQ / binary-sketch rerank
    * shape): every vector is sketched as its 64 sign bits (16 BYTES of
    * index per vector vs the 256-byte float32 embedding), candidates are
    * the vectors within Hamming [[BinaryHammingBudget]] of the query's
    * sketch, and the exact rounded cosine reranks only the survivors.
    * XOR + popcount are integer ops — exact in both engines, no rounding
    * discipline needed until the rerank's cosine (rounded to 6 before
    * ranking, vid-asc ties — the v1 rule).
    *
    * Plan shape at 100 TB: the sketch table is 16 bytes/vector; the
    * prefilter is a broadcast of Q query sketches against a linear
    * corpus scan of codegen'd XOR/popcount — no shuffle, no index build
    * — and the full embedding array is only read for the ~3% of rows
    * that survive. This is the published binary-quantization trade:
    * recall@5 = 0.6 (vs v3's 0.20) for a prefilter that prunes 97%;
    * where v7's PQ needs trained codebooks, the sign sketch is
    * training-free, so it works on day-0 corpora and never drifts. */
  def v9BinaryAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = cachedBinSketch(spark, dir)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("blo").as("qlo"), col("bhi").as("qhi"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("vid"), col("embedding").as("ce"),
      col("blo").as("clo"), col("bhi").as("chi"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q))
      .withColumn("hamming",
        (bit_count(col("qlo").bitwiseXOR(col("clo"))) +
          bit_count(col("qhi").bitwiseXOR(col("chi")))).cast("bigint"))
      .filter(col("hamming") <= BinaryHammingBudget)
      .select(col("qid"), col("vid"), col("hamming"),
        cosine6(col("qe"), col("qn"), col("ce"), col("cn")).as("cosine"))
    topK(scored, "cosine", ascending = false, 5, "hamming", "cosine")
  }

  /** v10 — int8 scalar-quantization ANN (the faiss SQ8 shape): every
    * dimension is quantized to `floor(v * 127 / gmax)` with ONE global
    * max-|v| scale, and candidates rank by the INTEGER dot of the code
    * vectors — approximate max-inner-product search over a 64-byte code
    * row instead of the 256-byte float32 embedding.
    *
    * The symmetric global scale is what makes this the module's only
    * ANN with NO rounding discipline at all: code products are ≤ 127²,
    * 64-term sums ≤ 2^20 — every intermediate is an exactly-representable
    * integer, so Spark's sequential fold and DuckDB's aggregation compute
    * the IDENTICAL value in any order (the reused codegen'd float_dot
    * accumulates integers ≤ 2^53 exactly). gmax itself is a max of
    * identical doubles — identical across engines.
    *
    * Plan shape at 100 TB: gmax is one scalar aggregate riding a
    * broadcast (the t14 `tot` pattern); quantization is stateless per
    * row; the probe is the v1 broadcast-query scan over 64-byte codes.
    * Training-free like v9 and 4x its precision per dimension; measured
    * top-5 overlap with exact cosine: 14/15 (sf0.001) and 15/15 (sf0.1),
    * VectorSpec-pinned. */
  def v10SqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val gmax = e.agg(
      max(array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .as("gmax"))
    val coded = e.crossJoin(broadcast(gmax))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 127.0 / col("gmax")).cast("float"))
          .as("codes"))
    val q = coded.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("codes").as("qc"))
    val c = coded.select(col("vec_id").as("vid"), col("codes").as("cc"))
    val scored = c.join(broadcast(q))
      .select(col("qid"), col("vid"),
        dot(col("qc"), col("cc")).cast("bigint").as("qdot"))
    topK(scored, "qdot", ascending = false, 5, "qdot")
  }

  /** v11's prune fraction as exact integer arithmetic: a cell of n keeps
    * all but ceil(n/4) = (n+3) div 4 vectors — no doubles near the cut. */
  private val ProtoPruneDen = 4

  /** v11 — prototype pruning (the SSL-prototypes data-pruning shape): a
    * vector's PROTOTYPICALITY is its cosine to its own cluster centroid —
    * the most prototypical vectors in each cluster are the most redundant
    * with the cluster's core, and on large corpora the published recipe
    * prunes the easy/prototypical fraction, keeping the diverse tail.
    * Reuses the SAME memoized IVF quantizer as v4/v6/v8 (train once, every
    * consumer probes): assign each corpus vector to its cell, rank within
    * the cell by assigned-centroid cosine (desc, vec_id ties), and mark
    * the top ceil(n_cell/4) pruned.
    *
    * Plan shape at 100 TB: assignment is the one stateless per-row
    * [[nearestCell]] projection over the (K x dims) quantizer, then ONE
    * cell-keyed window carries rank and cell size together — a single
    * shuffle keyed by cell, no pairwise surface at all (this is the whole
    * point vs v8: pruning by centroid distance costs O(N), not O(N²/K)).
    * Cells are ~constant-size at production K ~ sqrt(N), so the window
    * partitions stay bounded. */
  def v11PrototypePrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = quantizerRows(spark, dir, cells = IvfCells) // fixture pin: oracle SQL is generated from the same constant
    val a = assignCells(cent, emb(spark, dir), 1)
      .select(col("vec_id"), col("cell"), col("ccos"))
    val wProto = Window.partitionBy(col("cell"))
      .orderBy(col("ccos").desc, col("vec_id").asc)
    val wCell = Window.partitionBy(col("cell"))
    a.withColumn("proto_rank", row_number().over(wProto).cast("bigint"))
      .withColumn("n_cell", count(lit(1)).over(wCell))
      .select(col("vec_id"), col("cell"), col("ccos"), col("proto_rank"),
        when(col("proto_rank") <=
          expr(s"(n_cell + ${ProtoPruneDen - 1}) div $ProtoPruneDen"), 0L)
          .otherwise(1L).as("is_kept"))
      .orderBy("vec_id")
  }

  /** v12 — cluster-balanced subsampling: flatten the cluster-size
    * distribution by capping every cluster at the MEAN cell size
    * (budget = N div K), choosing each cell's survivors by a deterministic
    * md5-slice order (the t9 sampling discipline — rerun-identical, no
    * RNG). Over-represented clusters (boilerplate-heavy modes in a real
    * corpus) are truncated to the mean; under-represented ones pass
    * whole — the diversity-balancing selection step a pretraining mix
    * applies after semantic dedup.
    *
    * Plan shape at 100 TB: same single cell-keyed window as v11 (the hash
    * is a per-row scalar, the budget is a 1-row broadcast aggregate — the
    * t14/t25 `tot` pattern); no pairwise surface, no skew (the hash order
    * is uniform within every cell). */
  def v12BalancedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = quantizerRows(spark, dir, cells = IvfCells) // fixture pin: oracle SQL is generated from the same constant
    val a = assignCells(cent, emb(spark, dir), 1)
      .select(col("vec_id"), col("cell"))
    val budget = a.agg((count(lit(1)) cast "bigint").as("n"))
      .select(expr(s"n div $IvfCells").as("cell_budget"))
    val h = conv(substring(md5(concat(lit("bal:"), col("vec_id").cast("string"))),
      1, 8), 16, 10).cast("bigint")
    val wSamp = Window.partitionBy(col("cell"))
      .orderBy(col("hv").asc, col("vec_id").asc)
    a.withColumn("hv", h)
      .withColumn("samp_rank", row_number().over(wSamp).cast("bigint"))
      .crossJoin(broadcast(budget))
      .select(col("vec_id"), col("cell"), col("samp_rank"),
        when(col("samp_rank") <= col("cell_budget"), 1L).otherwise(0L)
          .as("is_kept"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v11_prototype_prune" -> v11PrototypePrune,
    "v12_balanced_sample" -> v12BalancedSample,
    "v13_filtered_ann" -> v13FilteredAnn,
    "v14_semantic_decontam" -> v14SemanticDecontam,
    "x_vcompact_audit" -> xVcompactAudit,
    "v15_ivfpq_ann" -> v15IvfPqAnn,
    "v16_cell_balance" -> v16CellBalance,
    "v17_recall_audit" -> v17RecallAudit,
    "x_drift_report" -> xDriftReport,
    "v1_cosine_topk" -> v1CosineTopk,
    "v2_label_centroid" -> v2LabelCentroid,
    "v3_bucketed_ann" -> v3BucketedAnn,
    "v4_ivf_ann" -> v4IvfAnn,
    "v5_near_dup_pairs" -> v5NearDupPairs,
    "v6_ivf_multiprobe" -> v6IvfMultiprobe,
    "v7_pq_ann" -> v7PqAnn,
    "v8_semantic_dedup" -> v8SemanticDedup,
    "v9_binary_ann" -> v9BinaryAnn,
    "v10_sq_ann" -> v10SqAnn)

  /** One k-nearest-cell assignment CTE against cent{i-1} — the SQL twin of
    * [[assignCells]], parameterized by the exploded-values/norms source so
    * the same trained quantizer can assign the base corpus (vals/norms) or
    * the augmented one (avals/anorms — v8). */
  private def ivfAssignCte(i: Int, name: String, k: Int,
      valsName: String = "vals", normsName: String = "norms"): String =
    s"""$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT d.vec_id, d.cell,
       |           row_number() OVER (PARTITION BY d.vec_id
       |                              ORDER BY round(d.dp / (n.nrm * cn.cn), 6) DESC,
       |                                       d.cell ASC) AS rk
       |    FROM (SELECT x.vec_id, c.cell, SUM(x.v * c.cv) AS dp
       |          FROM $valsName x JOIN cent${i - 1} c ON x.pos = c.pos
       |          GROUP BY 1, 2) d
       |    JOIN $normsName n ON d.vec_id = n.vec_id
       |    JOIN cn${i - 1} cn ON d.cell = cn.cell)
       |  WHERE rk <= $k)""".stripMargin

  private def ivfCentCte(i: Int): String =
    s"""cent$i AS (SELECT a.cell, x.pos, round(AVG(x.v), 6) AS cv
       |          FROM vals x JOIN assign$i a ON x.vec_id = a.vec_id
       |          GROUP BY 1, 2),
       |cn$i AS (SELECT cell, sqrt(SUM(cv*cv)) AS cn FROM cent$i GROUP BY cell)""".stripMargin

  /** The Lloyd training chain (cent0 .. cent{LloydIters}) shared by the
    * ivf and semantic-dedup oracles. */
  private def ivfTrainCtes: String = {
    // training assignments fold over the SAMPLED tvals/tnorms (the Spark
    // trainer's trainSampleOf, derived from the same target/count arithmetic); the
    // centroid-update AVG self-restricts to the sample through its join
    // on assign$i's vec_ids. Final corpus/query assignments (assign$fin,
    // qassign) stay over the full vals.
    val lloyd = (1 to LloydIters)
      .map(i => s"${ivfAssignCte(i, s"assign$i", 1, "tvals", "tnorms")},\n${ivfCentCte(i)}")
      .mkString(",\n")
    s"""tvals AS (SELECT * FROM vals
       |          WHERE ${trainSampleSqlPred("SELECT COUNT(DISTINCT vec_id) FROM vals")}),
       |tnorms AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm
       |           FROM tvals GROUP BY vec_id),
       |cent0 AS (SELECT vec_id AS cell, pos, v AS cv FROM vals
       |          WHERE vec_id < $IvfCells),
       |cn0 AS (SELECT cell, sqrt(SUM(cv*cv)) AS cn FROM cent0 GROUP BY cell),
       |$lloyd""".stripMargin
  }

  /** v1's full oracle — hoisted so the recall audit (v17) can compose it
    * as a subquery next to the IVF chain. */
  private def v1Oracle: String =
    s"""WITH $valsCte,
       |$normsCte,
       |dots AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid, SUM(q.v * c.v) AS dp
       |  FROM vals q JOIN vals c ON q.pos = c.pos
       |  WHERE q.vec_id < 3
       |  GROUP BY 1, 2)
       |SELECT qid, vid, cosine, rk FROM (
       |  SELECT qid, vid, cosine,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY cosine DESC, vid ASC) AS rk
       |  FROM (
       |    SELECT d.qid, d.vid,
       |           round(d.dp / (nq.nrm * nc.nrm), 6) AS cosine
       |    FROM dots d
       |    JOIN norms nq ON d.qid = nq.vec_id
       |    JOIN norms nc ON d.vid = nc.vec_id))
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** v4/v6 oracle: the Lloyd CTE chain generated from the SAME IvfCells/LloydIters/IvfProbes
    * constants as the Spark plan — the two quantizers cannot drift. The
    * corpus assignment is always rk=1; the query side probes rk<=nprobe
    * cells (disjoint by construction, so no (qid, vid) dedup is needed). */
  private def ivfOracle(nprobe: Int): String = {
    def assignCte(i: Int, name: String, k: Int): String = ivfAssignCte(i, name, k)
    val fin = LloydIters + 1
    s"""WITH $valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |${assignCte(fin, s"assign$fin", 1)},
       |${assignCte(fin, "qassign", nprobe)},
       |dots AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid, ac.cell, SUM(q.v * c.v) AS dp
       |  FROM vals q
       |  JOIN qassign aq ON q.vec_id = aq.vec_id AND q.vec_id < 3
       |  JOIN assign$fin ac ON ac.cell = aq.cell
       |  JOIN vals c ON c.vec_id = ac.vec_id AND q.pos = c.pos
       |  GROUP BY 1, 2, 3)
       |SELECT qid, vid, cell, cosine, rk FROM (
       |  SELECT qid, vid, cell, cosine,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY cosine DESC, vid ASC) AS rk
       |  FROM (
       |    SELECT d.qid, d.vid, d.cell,
       |           round(d.dp / (nq.nrm * nc.nrm), 6) AS cosine
       |    FROM dots d
       |    JOIN norms nq ON d.qid = nq.vec_id
       |    JOIN norms nc ON d.vid = nc.vec_id))
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  }

  /** The PQ train/encode chain as CTEs (subvals … codes/qtab) — shared by
    * the v7 and v15 oracles. Internal names are p-prefixed (pcent,
    * psubdb, passign) so the chain composes next to the IVF chain's
    * cent/assign names without collision. Assumes `vals` is in scope. */
  private def pqChainCtes: String = {
    def assignCte(i: Int, name: String, filterQ: Boolean, keepAll: Boolean,
        src: String = "subvals"): String = {
      val qf = if (filterQ) s"AND x.vec_id < 3" else ""
      val sel =
        if (keepAll)
          s"""$name AS (
             |  SELECT d.vec_id AS qid, d.s, d.code,
             |         round(da.da - 2*d.dab + db.db, 6) AS dt
             |  FROM (SELECT x.vec_id, x.s, c.code, SUM(x.v * c.cv) AS dab
             |        FROM $src x
             |        JOIN pcent$i c ON x.s = c.s AND x.j = c.j $qf
             |        GROUP BY 1, 2, 3) d
             |  JOIN subda da ON d.vec_id = da.vec_id AND d.s = da.s
             |  JOIN psubdb$i db ON d.s = db.s AND d.code = db.code)""".stripMargin
        else
          s"""$name AS (
             |  SELECT vec_id, s, code FROM (
             |    SELECT d.vec_id, d.s, d.code,
             |           row_number() OVER (PARTITION BY d.vec_id, d.s
             |                              ORDER BY round(da.da - 2*d.dab + db.db, 6) ASC,
             |                                       d.code ASC) AS rk
             |    FROM (SELECT x.vec_id, x.s, c.code, SUM(x.v * c.cv) AS dab
             |          FROM $src x
             |          JOIN pcent$i c ON x.s = c.s AND x.j = c.j $qf
             |          GROUP BY 1, 2, 3) d
             |    JOIN subda da ON d.vec_id = da.vec_id AND d.s = da.s
             |    JOIN psubdb$i db ON d.s = db.s AND d.code = db.code)
             |  WHERE rk = 1)""".stripMargin
      sel
    }
    def dbCte(i: Int): String =
      s"psubdb$i AS (SELECT s, code, SUM(cv*cv) AS db FROM pcent$i GROUP BY 1, 2)"
    def centCte(i: Int): String =
      s"""pcent$i AS (SELECT a.s, a.code, x.j, round(AVG(x.v), 6) AS cv
         |           FROM subvals x
         |           JOIN passign${i - 1} a ON x.vec_id = a.vec_id AND x.s = a.s
         |           GROUP BY 1, 2, 3),
         |${dbCte(i)}""".stripMargin
    // training assignments read the SAMPLED tsubvals (the ivfTrainCtes
    // tvals discipline); the centroid-update AVG self-restricts to the
    // sample through its join on passign's vec_ids. codes/qtab below stay
    // over the full subvals.
    val lloyd = (1 to PqLloydIters)
      .map(i => s"${assignCte(i - 1, s"passign${i - 1}", filterQ = false, keepAll = false, src = "tsubvals")},\n${centCte(i)}")
      .mkString(",\n")
    val fin = PqLloydIters
    s"""subvals AS (SELECT vec_id, pos >> 3 AS s, pos & 7 AS j, v FROM vals),
       |tsubvals AS (SELECT * FROM subvals
       |          WHERE ${trainSampleSqlPred("SELECT COUNT(DISTINCT vec_id) FROM subvals")}),
       |subda AS (SELECT vec_id, s, SUM(v*v) AS da FROM subvals GROUP BY 1, 2),
       |pcent0 AS (SELECT s, vec_id AS code, j, v AS cv FROM subvals
       |          WHERE vec_id < $PqCodes),
       |${dbCte(0)},
       |$lloyd,
       |${assignCte(fin, "codes", filterQ = false, keepAll = false)},
       |${assignCte(fin, "qtab", filterQ = true, keepAll = true)}""".stripMargin
  }

  /** PQ oracle generated from the SAME PqSubspaces/PqSubDim/PqCodes/
    * PqLloydIters constants as the Spark plan. Subspace and in-subspace
    * position come from integer bit ops on `pos` (exact in both engines);
    * every distance is rounded to 6 before its argmin/rank. */
  private def pqOracle: String =
    s"""WITH $valsCte,
       |$pqChainCtes
       |SELECT qid, vid, adist, rk FROM (
       |  SELECT qid, vid, adist,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY adist ASC, vid ASC) AS rk
       |  FROM (SELECT t.qid, c.vec_id AS vid, round(SUM(t.dt), 6) AS adist
       |        FROM codes c JOIN qtab t ON c.s = t.s AND c.code = t.code
       |        GROUP BY 1, 2))
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** v15 oracle: the IVF chain bounds candidates to the query's probed
    * cells, the PQ chain ranks them by ADC, the shortlist reranks by
    * exact squared L2 over the full values — three tiers, one statement,
    * every constant shared with the Spark plan. */
  private def ivfPqOracle: String = {
    val fin = LloydIters + 1
    s"""WITH $valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |${ivfAssignCte(fin, s"assign$fin", 1)},
       |${ivfAssignCte(fin, "qassign", IvfProbes)},
       |$pqChainCtes,
       |cand AS (
       |  SELECT aq.vec_id AS qid, ac.vec_id AS vid
       |  FROM qassign aq JOIN assign$fin ac ON ac.cell = aq.cell
       |  WHERE aq.vec_id < 3),
       |adc AS (
       |  SELECT t.qid, c.vec_id AS vid, round(SUM(t.dt), 6) AS adist
       |  FROM cand x
       |  JOIN codes c ON c.vec_id = x.vid
       |  JOIN qtab t ON t.qid = x.qid AND t.s = c.s AND t.code = c.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT qid, vid FROM (
       |    SELECT qid, vid,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY adist ASC, vid ASC) AS ark
       |    FROM adc) WHERE ark <= $IvfPqShortlist),
       |sq AS (SELECT vec_id, SUM(v*v) AS n2 FROM vals GROUP BY vec_id),
       |exd AS (
       |  SELECT x.qid, x.vid, SUM(q.v * c.v) AS dp
       |  FROM short x
       |  JOIN vals q ON q.vec_id = x.qid
       |  JOIN vals c ON c.vec_id = x.vid AND q.pos = c.pos
       |  GROUP BY 1, 2)
       |SELECT qid, vid, dist, rk FROM (
       |  SELECT e.qid, e.vid,
       |         round(s1.n2 - 2*e.dp + s2.n2, 6) + 0.0 AS dist,
       |         row_number() OVER (PARTITION BY e.qid
       |                            ORDER BY round(s1.n2 - 2*e.dp + s2.n2, 6) ASC,
       |                                     e.vid ASC) AS rk
       |  FROM exd e
       |  JOIN sq s1 ON e.qid = s1.vec_id
       |  JOIN sq s2 ON e.vid = s2.vec_id)
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  }

  /** v8 oracle: the SAME Lloyd chain as the ivf oracle trains on the base
    * corpus, then assigns the augmented corpus via the parameterized
    * assign CTE; within-cell pairs above the shared cosine bar mark their
    * greater vec_id dropped. */
  private def semDedupOracle: String = {
    val fin = LloydIters + 1
    s"""WITH $augCte,
       |$valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |avals AS (
       |  SELECT vec_id,
       |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
       |         unnest(range(len(embedding))) AS pos
       |  FROM aug),
       |anorms AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM avals GROUP BY vec_id),
       |${ivfAssignCte(fin, "aassign", 1, "avals", "anorms")},
       |alists AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
       |  FROM aug),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         list_dot_product(la.ve, lb.ve) AS dp
       |  FROM aassign a
       |  JOIN aassign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN alists la ON la.vec_id = a.vec_id
       |  JOIN alists lb ON lb.vec_id = b.vec_id),
       |dropped AS (
       |  SELECT DISTINCT p.vec_b AS vec_id
       |  FROM pairs p
       |  JOIN anorms na ON p.vec_a = na.vec_id
       |  JOIN anorms nb ON p.vec_b = nb.vec_id
       |  WHERE round(p.dp / (na.nrm * nb.nrm), 6) >= $SemDedupCosine)
       |SELECT a.vec_id, a.cell,
       |       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept
       |FROM aassign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** v11 oracle: the shared Lloyd chain, then a final corpus assignment
    * that KEEPS the rounded assigned-centroid cosine (the standard assign
    * CTE discards it — prototypicality is that value), then one
    * cell-partitioned rank against the exact ceil(n/4) integer cut. */
  private def protoPruneOracle: String = {
    val L = LloydIters
    s"""WITH $valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |ascored AS (
       |  SELECT vec_id, cell, ccos FROM (
       |    SELECT d.vec_id, d.cell, round(d.dp / (n.nrm * cn.cn), 6) AS ccos,
       |           row_number() OVER (PARTITION BY d.vec_id
       |                              ORDER BY round(d.dp / (n.nrm * cn.cn), 6) DESC,
       |                                       d.cell ASC) AS rk
       |    FROM (SELECT x.vec_id, c.cell, SUM(x.v * c.cv) AS dp
       |          FROM vals x JOIN cent$L c ON x.pos = c.pos
       |          GROUP BY 1, 2) d
       |    JOIN norms n ON d.vec_id = n.vec_id
       |    JOIN cn$L cn ON d.cell = cn.cell)
       |  WHERE rk = 1),
       |sized AS (SELECT cell, COUNT(*) AS n_cell FROM ascored GROUP BY cell),
       |ranked AS (
       |  SELECT vec_id, cell, ccos,
       |         row_number() OVER (PARTITION BY cell
       |                            ORDER BY ccos DESC, vec_id ASC) AS proto_rank
       |  FROM ascored)
       |SELECT r.vec_id, r.cell, r.ccos, CAST(r.proto_rank AS BIGINT) AS proto_rank,
       |       CAST(CASE WHEN r.proto_rank <= (s.n_cell + ${ProtoPruneDen - 1}) // $ProtoPruneDen
       |            THEN 0 ELSE 1 END AS BIGINT) AS is_kept
       |FROM ranked r JOIN sized s ON r.cell = s.cell
       |ORDER BY r.vec_id""".stripMargin
  }

  /** v12 oracle: shared Lloyd chain + standard final assignment; the
    * budget is COUNT(*) // cells and the within-cell order is the same
    * md5-slice the Spark plan computes. */
  private def balancedSampleOracle: String = {
    val fin = LloydIters + 1
    s"""WITH $valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |${ivfAssignCte(fin, "fassign", 1)},
       |budget AS (SELECT COUNT(*) // $IvfCells AS cell_budget FROM fassign),
       |ranked AS (
       |  SELECT vec_id, cell,
       |         row_number() OVER (PARTITION BY cell
       |           ORDER BY CAST(('0x' || substr(md5('bal:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) ASC,
       |                    vec_id ASC) AS samp_rank
       |  FROM fassign)
       |SELECT r.vec_id, r.cell, CAST(r.samp_rank AS BIGINT) AS samp_rank,
       |       CAST(CASE WHEN r.samp_rank <= b.cell_budget THEN 1 ELSE 0 END AS BIGINT) AS is_kept
       |FROM ranked r, budget b ORDER BY r.vec_id""".stripMargin
  }

  /** v13 oracle: the shared Lloyd chain + v6's two-probe query assignment,
    * with the label equality joined into the candidate set before any
    * distance (the same pre-filter discipline as the Spark plan). */
  private def filteredAnnOracle: String = {
    val fin = LloydIters + 1
    s"""WITH $valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |${ivfAssignCte(fin, s"assign$fin", 1)},
       |${ivfAssignCte(fin, "qassign", IvfProbes)},
       |labels AS (SELECT vec_id, label FROM embeddings),
       |dots AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid, ac.cell, lc.label,
       |         SUM(q.v * c.v) AS dp
       |  FROM vals q
       |  JOIN qassign aq ON q.vec_id = aq.vec_id AND q.vec_id < 3
       |  JOIN labels lq ON q.vec_id = lq.vec_id
       |  JOIN assign$fin ac ON ac.cell = aq.cell
       |  JOIN labels lc ON ac.vec_id = lc.vec_id AND lc.label = lq.label
       |  JOIN vals c ON c.vec_id = ac.vec_id AND q.pos = c.pos
       |  GROUP BY 1, 2, 3, 4)
       |SELECT qid, vid, cell, label, cosine, rk FROM (
       |  SELECT qid, vid, cell, label, cosine,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY cosine DESC, vid ASC) AS rk
       |  FROM (
       |    SELECT d.qid, d.vid, d.cell, d.label,
       |           round(d.dp / (nq.nrm * nc.nrm), 6) AS cosine
       |    FROM dots d
       |    JOIN norms nq ON d.qid = nq.vec_id
       |    JOIN norms nc ON d.vid = nc.vec_id))
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  }

  /** v14 oracle: the shared Lloyd chain assigns the augmented corpus; the
    * benchmark slice (vec_id < DecontamBenchIds) pairs with same-cell
    * training vectors and the shared cosine bar marks contamination. */
  private def semDecontamOracle: String = {
    val fin = LloydIters + 1
    s"""WITH $augCte,
       |$valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |avals AS (
       |  SELECT vec_id,
       |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
       |         unnest(range(len(embedding))) AS pos
       |  FROM aug),
       |anorms AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM avals GROUP BY vec_id),
       |${ivfAssignCte(fin, "aassign", 1, "avals", "anorms")},
       |pairs AS (
       |  SELECT t.vec_id AS tid, b.vec_id AS bid, SUM(vt.v * vb.v) AS dp
       |  FROM aassign t
       |  JOIN aassign b ON t.cell = b.cell
       |   AND t.vec_id >= $DecontamBenchIds AND b.vec_id < $DecontamBenchIds
       |  JOIN avals vt ON vt.vec_id = t.vec_id
       |  JOIN avals vb ON vb.vec_id = b.vec_id AND vt.pos = vb.pos
       |  GROUP BY 1, 2),
       |hits AS (
       |  SELECT DISTINCT p.tid AS vec_id
       |  FROM pairs p
       |  JOIN anorms nt ON p.tid = nt.vec_id
       |  JOIN anorms nb ON p.bid = nb.vec_id
       |  WHERE round(p.dp / (nt.nrm * nb.nrm), 6) >= $SemDedupCosine)
       |SELECT t.vec_id, t.cell,
       |       CAST(CASE WHEN h.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |         AS contaminated
       |FROM aassign t LEFT JOIN hits h ON t.vec_id = h.vec_id
       |WHERE t.vec_id >= $DecontamBenchIds
       |ORDER BY t.vec_id""".stripMargin
  }

  /** x_vcompact oracle: the shared Lloyd chain assigns base corpus AND
    * the arrival batch (arrivals built by the same SQL transforms as the
    * Spark frame); tier 1 pairs arrivals with same-cell corpus vectors,
    * tier 2 pairs surviving arrivals within cells — both under the shared
    * rounded-cosine bar — and the audit is the four tier counts. */
  private def vcompactOracle: String = {
    val fin = LloydIters + 1
    s"""WITH $valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |${ivfAssignCte(fin, "corpassign", 1)},
       |arrv AS (
       |  SELECT vec_id + 5000000 AS vec_id, embedding
       |  FROM embeddings WHERE vec_id % 45 = 0
       |  UNION ALL
       |  SELECT vec_id + 6000000, list_transform(embedding, x -> CAST(-x AS FLOAT))
       |  FROM embeddings WHERE vec_id % 50 = 3
       |  UNION ALL
       |  SELECT vec_id + 7000000, list_transform(embedding, x -> CAST(-x AS FLOAT))
       |  FROM embeddings WHERE vec_id % 100 = 7
       |  UNION ALL
       |  SELECT vec_id + 8000000,
       |         [CAST(embedding[1] * -1.01 AS FLOAT)] ||
       |         list_transform(embedding[2:], x -> CAST(-x AS FLOAT))
       |  FROM embeddings WHERE vec_id % 100 = 7),
       |avalsV AS (
       |  SELECT vec_id,
       |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
       |         unnest(range(len(embedding))) AS pos
       |  FROM arrv),
       |anormsV AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM avalsV GROUP BY vec_id),
       |${ivfAssignCte(fin, "arrassign", 1, "avalsV", "anormsV")},
       |gpairs AS (
       |  SELECT t.vec_id AS aid, c.vec_id AS cid, SUM(va.v * vc.v) AS dp
       |  FROM arrassign t JOIN corpassign c ON t.cell = c.cell
       |  JOIN avalsV va ON va.vec_id = t.vec_id
       |  JOIN vals vc ON vc.vec_id = c.vec_id AND va.pos = vc.pos
       |  GROUP BY 1, 2),
       |ghits AS (
       |  SELECT DISTINCT p.aid AS vec_id FROM gpairs p
       |  JOIN anormsV na ON p.aid = na.vec_id
       |  JOIN norms nc ON p.cid = nc.vec_id
       |  WHERE round(p.dp / (na.nrm * nc.nrm), 6) >= $SemDedupCosine),
       |past AS (SELECT a.vec_id, a.cell FROM arrassign a
       |         LEFT JOIN ghits h ON a.vec_id = h.vec_id WHERE h.vec_id IS NULL),
       |bpairs AS (
       |  SELECT x.vec_id AS xa, y.vec_id AS xb, SUM(vx.v * vy.v) AS dp
       |  FROM past x JOIN past y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  JOIN avalsV vx ON vx.vec_id = x.vec_id
       |  JOIN avalsV vy ON vy.vec_id = y.vec_id AND vx.pos = vy.pos
       |  GROUP BY 1, 2),
       |bdrops AS (
       |  SELECT DISTINCT p.xb AS vec_id FROM bpairs p
       |  JOIN anormsV nx ON p.xa = nx.vec_id
       |  JOIN anormsV ny ON p.xb = ny.vec_id
       |  WHERE round(p.dp / (nx.nrm * ny.nrm), 6) >= $SemDedupCosine),
       |surv AS (SELECT vec_id FROM past
       |         WHERE vec_id NOT IN (SELECT vec_id FROM bdrops))
       |SELECT CAST((SELECT COUNT(*) FROM arrv) AS BIGINT) AS n_arrivals,
       |       CAST((SELECT COUNT(*) FROM arrv) - (SELECT COUNT(*) FROM past)
       |            AS BIGINT) AS n_corpus_near,
       |       CAST((SELECT COUNT(*) FROM past) - (SELECT COUNT(*) FROM surv)
       |            AS BIGINT) AS n_batch_near,
       |       CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_appended""".stripMargin
  }

  /** v16 oracle: the shared Lloyd chain's final assignment aggregated to
    * the K-row balance report. */
  private def cellBalanceOracle: String = {
    val fin = LloydIters + 1
    val fair = 1000000L / IvfCells
    s"""WITH $valsCte,
       |$normsCte,
       |$ivfTrainCtes,
       |${ivfAssignCte(fin, s"assign$fin", 1)},
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM assign$fin),
       |cells16 AS (SELECT DISTINCT cell FROM cent$LloydIters),
       |counts16 AS (SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
       |             FROM assign$fin a GROUP BY a.cell)
       |SELECT cell, n_vecs, share_micro,
       |       CAST(abs(share_micro - $fair) AS BIGINT) AS dev_micro,
       |       CAST(CASE WHEN share_micro > $CellBalanceAlertMicro
       |            THEN 1 ELSE 0 END AS BIGINT) AS hot
       |FROM (
       |  SELECT c.cell, CAST(COALESCE(k.n_vecs, 0) AS BIGINT) AS n_vecs,
       |         (CAST(COALESCE(k.n_vecs, 0) AS BIGINT) * 1000000)
       |           // t.n_total AS share_micro
       |  FROM cells16 c CROSS JOIN tot t
       |  LEFT JOIN counts16 k ON c.cell = k.cell)
       |ORDER BY cell""".stripMargin
  }

  /** v17's oracle — hoisted so the drift-report oracle composes it. */
  private def recallAuditOracle: String =
    s"""WITH exact5 AS (SELECT qid, vid FROM ($v1Oracle) WHERE rk <= 5),
       |approx5 AS (SELECT qid, vid FROM (${ivfOracle(nprobe = 1)})),
       |hits AS (SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
       |         FROM exact5 e JOIN approx5 a ON e.qid = a.qid AND e.vid = a.vid
       |         GROUP BY e.qid),
       |ex AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
       |       FROM exact5 GROUP BY qid)
       |SELECT ex.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       (CAST(COALESCE(h.n_hits, 0) AS BIGINT) * 1000000)
       |         // ex.n_exact AS recall_micro
       |FROM ex LEFT JOIN hits h ON ex.qid = h.qid
       |ORDER BY ex.qid""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x_vcompact_audit" -> vcompactOracle,
    "v15_ivfpq_ann" -> ivfPqOracle,
    "v16_cell_balance" -> cellBalanceOracle,
    "v17_recall_audit" -> recallAuditOracle,
    "x_drift_report" ->
      s"""WITH bal AS ($cellBalanceOracle),
         |rec AS ($recallAuditOracle)
         |SELECT b.n_hot, b.n_dead, r.min_recall_micro
         |FROM (SELECT CAST(SUM(hot) AS BIGINT) AS n_hot,
         |             CAST(SUM(CASE WHEN n_vecs = 0 THEN 1 ELSE 0 END)
         |               AS BIGINT) AS n_dead FROM bal) b
         |CROSS JOIN (SELECT CAST(MIN(recall_micro) AS BIGINT)
         |              AS min_recall_micro FROM rec) r""".stripMargin,
    "v11_prototype_prune" -> protoPruneOracle,
    "v12_balanced_sample" -> balancedSampleOracle,
    "v13_filtered_ann" -> filteredAnnOracle,
    "v14_semantic_decontam" -> semDecontamOracle,
    "v10_sq_ann" ->
      s"""WITH $valsCte,
         |gmax AS (SELECT MAX(abs(v)) AS g FROM vals),
         |codes AS (
         |  SELECT vec_id, pos, CAST(floor(v * 127.0 / g) AS BIGINT) AS c
         |  FROM vals, gmax)
         |SELECT qid, vid, qdot, rk FROM (
         |  SELECT qid, vid, qdot,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY qdot DESC, vid ASC) AS rk
         |  FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           CAST(SUM(q.c * c.c) AS BIGINT) AS qdot
         |    FROM codes q JOIN codes c ON q.pos = c.pos AND q.vec_id < 3
         |    GROUP BY 1, 2))
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "v9_binary_ann" ->
      s"""WITH $valsCte,
         |$normsCte,
         |bsig AS (SELECT vec_id, ${bsigHalfSql(1)} AS blo,
         |                ${bsigHalfSql(33)} AS bhi
         |         FROM embeddings),
         |cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |         CAST(bit_count(xor(q.blo, c.blo)) +
         |              bit_count(xor(q.bhi, c.bhi)) AS BIGINT) AS hamming
         |  FROM bsig q JOIN bsig c ON q.vec_id < 3
         |  WHERE bit_count(xor(q.blo, c.blo)) +
         |        bit_count(xor(q.bhi, c.bhi)) <= $BinaryHammingBudget),
         |dots AS (
         |  SELECT ca.qid, ca.vid, ca.hamming, SUM(q.v * c.v) AS dp
         |  FROM cand ca
         |  JOIN vals q ON q.vec_id = ca.qid
         |  JOIN vals c ON c.vec_id = ca.vid AND q.pos = c.pos
         |  GROUP BY 1, 2, 3)
         |SELECT qid, vid, hamming, cosine, rk FROM (
         |  SELECT qid, vid, hamming, cosine,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cosine DESC, vid ASC) AS rk
         |  FROM (
         |    SELECT d.qid, d.vid, d.hamming,
         |           round(d.dp / (nq.nrm * nc.nrm), 6) AS cosine
         |    FROM dots d
         |    JOIN norms nq ON d.qid = nq.vec_id
         |    JOIN norms nc ON d.vid = nc.vec_id))
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "v7_pq_ann" -> pqOracle,
    "v8_semantic_dedup" -> semDedupOracle,
    "v1_cosine_topk" -> v1Oracle,
    "v2_label_centroid" ->
      s"""WITH $valsCte
         |SELECT label, pos, round(AVG(v), 6) AS centroid_v
         |FROM vals GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "v4_ivf_ann" -> ivfOracle(nprobe = 1),
    "v6_ivf_multiprobe" -> ivfOracle(nprobe = IvfProbes),
    // the PAIRWISE dot rides list_dot_product over whole double lists,
    // not the exploded pos-join: at sf1 the within-bucket candidate set
    // is tens of millions of pairs, and a 64-way unnest join + 29M-group
    // hash agg is an hour of DuckDB where the list kernel is seconds —
    // same cast-to-double math, same shared round(6) absorbing
    // accumulation-order noise (r14 verdict task 3)
    "v5_near_dup_pairs" ->
      s"""WITH $augCte,
         |alists AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |  FROM aug),
         |anorms AS (SELECT vec_id, sqrt(list_dot_product(ve, ve)) AS nrm, ve
         |           FROM alists),
         |abkts AS (SELECT vec_id, ${bucketSql} AS bkt FROM aug),
         |dots AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_dot_product(na.ve, nb.ve) AS dp,
         |         na.nrm AS nrm_a, nb.nrm AS nrm_b
         |  FROM abkts a
         |  JOIN abkts b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
         |  JOIN anorms na ON na.vec_id = a.vec_id
         |  JOIN anorms nb ON nb.vec_id = b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT vec_a, vec_b, round(dp / (nrm_a * nrm_b), 6) AS cosine
         |  FROM dots)
         |WHERE cosine >= 0.999 ORDER BY vec_a, vec_b""".stripMargin,
    "v3_bucketed_ann" ->
      s"""WITH $valsCte,
         |$normsCte,
         |bkts AS (SELECT vec_id, $bucketSql AS bkt FROM embeddings),
         |dots AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid, bq.bkt, SUM(q.v * c.v) AS dp
         |  FROM vals q
         |  JOIN bkts bq ON q.vec_id = bq.vec_id
         |  JOIN bkts bc ON bq.bkt = bc.bkt
         |  JOIN vals c ON c.vec_id = bc.vec_id AND q.pos = c.pos
         |  WHERE q.vec_id < 3
         |  GROUP BY 1, 2, 3)
         |SELECT qid, vid, bkt, cosine, rk FROM (
         |  SELECT qid, vid, bkt, cosine,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cosine DESC, vid ASC) AS rk
         |  FROM (
         |    SELECT d.qid, d.vid, d.bkt,
         |           round(d.dp / (nq.nrm * nc.nrm), 6) AS cosine
         |    FROM dots d
         |    JOIN norms nq ON d.qid = nq.vec_id
         |    JOIN norms nc ON d.vid = nc.vec_id))
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)
}
