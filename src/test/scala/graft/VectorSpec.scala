package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.VectorQueries

class VectorSpec extends AnyFunSuite {
  import TestSpark._

  test("float_dot equals the higher-order fold bit-for-bit on real embeddings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = e.select(col("vec_id"), col("embedding").as("x"))
    val b = e.select(col("vec_id"), col("embedding").as("y"))
    val both = a.join(b, "vec_id")
      .select(col("vec_id"),
        call_function("float_dot", col("x"), col("y")).as("native"),
        HofForms.dotHof(col("x"), col("y")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      // bit-identical, not approximately equal: same accumulation order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"vec ${r.getLong(0)}")
    }
  }

  test("float_dot mixed float x double equals the HOF fold bit-for-bit (v4's centroid loop)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = e.select(col("vec_id"), col("embedding").as("x"))
    // double side built the way v4 builds centroids: rounded doubles
    val b = e.select(col("vec_id"),
      expr("transform(embedding, v -> round(CAST(v AS DOUBLE), 6))").as("y"))
    val hof = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q),
        lit(0.0), (acc, v) => acc + v)
    val both = a.join(b, "vec_id")
      .select(col("vec_id"),
        call_function("float_dot", col("x"), col("y")).as("native"),
        hof(col("x"), col("y")).as("hof"),
        call_function("float_dot", col("y"), col("y")).as("native_dd"),
        hof(col("y"), col("y")).as("hof_dd"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"fd vec ${r.getLong(0)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(4)), s"dd vec ${r.getLong(0)}")
    }
  }

  test("ANN recall@5 against the exhaustive baseline") {
    // v1 is the exhaustive ground truth; v3/v4 trade recall for the
    // bucketed/IVF candidate cut. Hash-match correctness pins determinism;
    // this pins that the ANN variants actually FIND neighbors. The floors
    // are empirical for the fixture corpus minus slack — a regression that
    // breaks bucketing or the quantizer drops recall to ~1/256 of corpus,
    // far below any floor.
    def top5(name: String): Map[Long, Set[Long]] =
      VectorQueries.queries(name)(spark, sf)
        .filter(col("rk") <= 5).select("qid", "vid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val truth = top5("v1_cosine_topk")
    def recall(name: String): Double = {
      val got = top5(name)
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
        .sum / truth.size
    }
    val r3 = recall("v3_bucketed_ann")
    val r4 = recall("v4_ivf_ann")
    val r6 = recall("v6_ivf_multiprobe")
    info(f"recall@5: v3=$r3%.2f v4=$r4%.2f v6=$r6%.2f")
    // multi-probe candidates are a superset of single-probe candidates,
    // and any global-top-5 member present in a candidate pool always makes
    // that pool's top-5 (at most 4 vectors rank above it anywhere) — so
    // v6's recall can never fall below v4's
    assert(r6 >= r4, s"multi-probe recall $r6 fell below single-probe $r4")
    // measured on the fixture: v3=0.20, v4=0.93. v3's single-probe
    // sign-bucket is recall-starved at 670 vectors / 256 buckets (~3
    // candidates per probe — it cannot even fill a top-5); that is the
    // documented trade, and the floor pins it from degrading further.
    // v4's 8-cell IVF probes ~1/8 of the corpus and should stay high.
    assert(r3 >= 0.15, s"v3 sign-bucket recall@5 collapsed: $r3")
    assert(r4 >= 0.80, s"v4 IVF recall@5 collapsed: $r4")
    // v6's whole point is the recall dial: measured 0.93 on the fixture,
    // pinned at measured-minus-margin so the multi-probe path can never
    // silently degrade to single-probe recall while r6 >= r4 still holds
    assert(r6 >= 0.90, s"v6 multi-probe recall@5 collapsed: $r6")
  }

  test("v9 binary-sketch ANN: self at rank 1, Hamming within budget, recall beats the sign-bucket") {
    val rows = VectorQueries.queries("v9_binary_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(rows.nonEmpty)
    // a vector is Hamming-0 from itself and cosine 1.0 — every query's
    // own row must survive the prefilter and win the rerank
    (0L until 3L).foreach { q =>
      val self = rows.find(r => r._1 == q && r._2 == q)
      assert(self.exists(r => r._3 == 0L && r._5 == 1),
        s"query $q: self not at rank 1 with hamming 0 (got $self)")
    }
    rows.foreach { case (q, v, ham, cos, rk) =>
      assert(ham >= 0L && ham <= 24L, s"($q,$v): hamming $ham outside budget")
      assert(cos >= -1.0 && cos <= 1.0 && rk >= 1 && rk <= 5)
    }
    // the sketch's reason to exist: measured recall@5 = 0.60 on the
    // fixture at every SF vs v3's 0.20 — pin it above the sign-bucket so
    // the 24-bit radius can't silently degrade into v3's starved probe
    val truth = VectorQueries.queries("v1_cosine_topk")(spark, sf)
      .filter(col("rk") <= 5).select("qid", "vid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val got = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val rec = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      .sum / truth.size
    info(f"v9 binary-sketch recall@5 vs exact: $rec%.2f")
    assert(rec >= 0.50, s"v9 binary-sketch recall@5 collapsed: $rec")
  }

  test("v10 int8 SQ: self at rank 1 with the max code dot, near-exact recall") {
    val rows = VectorQueries.queries("v10_sq_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    // integer code dots are bounded by 64 * 127^2, and a vector's dot
    // with itself is its max-norm code row — self must win every query
    rows.foreach { case (q, v, qd, rk) =>
      assert(math.abs(qd) <= 64L * 127 * 127, s"($q,$v): code dot $qd out of range")
      assert(rk >= 1 && rk <= 5)
    }
    (0L until 3L).foreach { q =>
      val top = rows.filter(_._1 == q).minBy(_._4)
      assert(top._2 == q, s"query $q: self not at rank 1 (got ${top._2})")
    }
    // 8-bit precision should be near-exact on this corpus: measured 14/15
    // (here) and 15/15 (sf0.1) overlap with the exact cosine top-5
    val truth = VectorQueries.queries("v1_cosine_topk")(spark, sf)
      .filter(col("rk") <= 5).select("qid", "vid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val got = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val rec = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      .sum / truth.size
    info(f"v10 int8-SQ recall@5 vs exact: $rec%.2f")
    assert(rec >= 0.85, s"v10 SQ recall@5 collapsed: $rec")
  }

  test("v8 semantic dedup drops exactly the planted mutants, keeps every original") {
    // a mutant (vec_id + 1,000,000) points within 0.001 cosine of its
    // source and lands in the same quantizer cell, so SemDeDup must drop
    // it (greater vec_id of the pair) and keep everything else: natural
    // pairs on the fixture never reach cosine 0.999
    val rows = VectorQueries.queries("v8_semantic_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val mutants = base.filter(_ % 5 == 0).map(_ + 1000000L)
    assert(rows.length == base.size + mutants.size, "verdict must cover the whole corpus")
    val dropped = rows.filter(_._3 == 0L).map(_._1).toSet
    assert(dropped == mutants,
      s"missing=${(mutants -- dropped).take(5)} spurious=${(dropped -- mutants).take(5)}")
    // every mutant shares a cell with its source (the SemDeDup premise)
    val cell = rows.map(r => r._1 -> r._2).toMap
    mutants.foreach(m => assert(cell(m) == cell(m - 1000000L),
      s"mutant $m landed outside its source's cell"))
  }

  test("v7 PQ-ADC recall@5 against the exact squared-L2 baseline") {
    import org.apache.spark.sql.expressions.Window
    // PQ approximates L2, not cosine, so its ground truth is the exact
    // squared-L2 top-5 (computed here with the same codegen'd float_dot
    // the engine uses: ||c||^2 - 2<q,c> + ||q||^2)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = e.select(col("vec_id").as("vid"), col("embedding").as("ce"))
      .join(broadcast(q))
      .select(col("qid"), col("vid"),
        (call_function("float_dot", col("ce"), col("ce"))
          - lit(2.0) * call_function("float_dot", col("qe"), col("ce"))
          + call_function("float_dot", col("qe"), col("qe"))).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("vid").asc)
    val truth = exact.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select("qid", "vid").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val rows = VectorQueries.queries("v7_pq_ann")(spark, sf).collect()
    // well-formed: exactly top-5 per query, ranks 1..5
    assert(rows.length == truth.size * 5, s"expected ${truth.size * 5} rows, got ${rows.length}")
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to 5), s"ranks malformed for qid=$qid")
    }
    val got = rows.groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val rec = truth.map { case (k, t) =>
      got.getOrElse(k, Set.empty).intersect(t).size.toDouble / t.size }
      .sum / truth.size
    info(f"v7 PQ-ADC recall@5 vs exact L2: $rec%.2f")
    // measured 0.40 on the fixture — 4-bit codes x 8 subspaces is a
    // deliberately coarse quantizer (the 32x memory cut is the trade).
    // Pinned at measured-minus-margin: the point is that the ADC scan
    // actually ranks by content (a broken code assignment or distance
    // table drops recall to ~5/corpus ≈ 0.007, far below any floor)
    assert(rec >= 0.30, s"v7 PQ recall@5 collapsed: $rec")
  }

  test("float_dot null/edge semantics") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (None, Some(Seq(1.0f))),
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])))
      .toDF("x", "y")
    val got = df.select(call_function("float_dot", col("x"), col("y"))).collect()
    assert(got(0).getDouble(0) == 11.0)
    assert(got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 0.0)
  }

  test("float_dot codegens (interpreted fallback would log CodegenFallback)") {
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(call_function("float_dot", col("embedding"), col("embedding")).as("d"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("float_dot"), p)
    // single-stage project: must be inside WholeStageCodegen (shown as *)
    assert(p.linesIterator.exists(l => l.contains("*") && l.contains("Project")), p)
  }

  test("IVF cell count scales ~sqrt(N) with floor and broadcast cap; trainer honors a non-fixture K") {
    // the production sizing rule: K ~ sqrt(N), never 0, capped so the
    // broadcast quantizer state stays small
    assert(VectorQueries.ivfCellsFor(0) == 1)
    assert(VectorQueries.ivfCellsFor(1) == 1)
    assert(VectorQueries.ivfCellsFor(64) == 8) // the fixture pin's own scale
    assert(VectorQueries.ivfCellsFor(1000000) == 1000)
    assert(VectorQueries.ivfCellsFor(400000000000L) == 65536,
      "a 100 TB-class corpus must hit the broadcast cap, not sqrt(N)")
    assert(VectorQueries.ivfCellsFor(1000000, maxCells = 128) == 128)
    // K is a real parameter, not a constant: training with K=4 yields
    // exactly the 4 seeded cells (fixture queries pin K=8 for the oracle)
    val c4 = VectorQueries.quantizerRows(spark, sf, cells = 4).map(_._1).sorted
    assert(c4 == Seq(0L, 1L, 2L, 3L))
    val c8 = VectorQueries.quantizerRows(spark, sf).map(_._1).distinct.size
    assert(c8 == 8, "default K must remain the fixture pin")
  }

  test("nearestCell equals the window rank 1 at K=8 and K=300, NULL gets -1") {
    // nearestCell is the only k=1 assignment: withCellAssigned and
    // assignCells(.., 1) both build it. At the fixture's K=8 and at a
    // synthetic K=300 it must pick the window path's rank-1 row for every
    // vector — same cell, bit-identical ccos, (ccos desc, cell asc) ties.
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val byRank = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell"), col("ccos"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents8 = VectorQueries.quantizerRows(spark, sf)
    // synthetic centroids from the fixture's own vectors, rounded like
    // quantizer state
    val cents300: Seq[(Long, Seq[Double])] = e.orderBy("vec_id").limit(300)
      .collect().zipWithIndex.map { case (r, i) =>
        i.toLong -> r.getSeq[Float](1).map(f =>
          math.rint(f.toDouble * 1e6) / 1e6).toSeq
      }.toSeq
    Seq(8 -> cents8, 300 -> cents300).foreach { case (k, cents) =>
      assert(cents.size == k)
      val one = rows(VectorQueries.assignCells(cents, e, 1))
      val rank1 = rows(VectorQueries.assignCells(cents, e, 2)
        .withColumn("rk", row_number().over(byRank)).filter(col("rk") === 1))
      assert(one.nonEmpty && one.size == rank1.size, s"K=$k: vectors missed")
      assert(one == rank1, {
        val diff = one.collect { case (v, a) if rank1(v) != a => (v, a, rank1(v)) }
        s"K=$k: nearestCell diverges from window rank 1: ${diff.take(5)}"
      })
      val viaColumn = cells(VectorQueries.withCellAssigned(e, "embedding", "cell", cents))
      assert(viaColumn == one.map { case (v, (c, _)) => v -> c },
        s"K=$k: withCellAssigned diverges from assignCells")
    }
    // a vector that IS centroid 0 lands in cell 0
    assert(cells(VectorQueries.withCellAssigned(e, "embedding", "cell", cents300))
      .values.exists(_ == 0L))

    // null embedding: cell -1 through the production column
    import spark.implicits._
    val withNull = Seq((9999L, null: Array[Float])).toDF("vec_id", "embedding")
    val nullCell = VectorQueries.withCellAssigned(withNull, "embedding", "cell", cents8)
      .select("cell").collect().head.getLong(0)
    assert(nullCell == -1L, s"null embedding: cell $nullCell (want -1)")
  }

  test("quantizer training is bounded: a corpus past the target trains on the md5-slice sample") {
    // threshold arithmetic — the exact integers the oracle recomputes
    assert(VectorQueries.trainSampleThresholdFor(500).isEmpty,
      "a corpus under the budget trains full (fixture recall pins depend on it)")
    assert(VectorQueries.trainSampleThresholdFor(100000).isEmpty)
    assert(VectorQueries.trainSampleThresholdFor(200000)
      .contains(100000L * 4294967296L / 200000L))
    assert(VectorQueries.trainSampleThresholdFor(400000000000L)
      .contains(100000L * 4294967296L / 400000000000L),
      "100 TB-class N still yields a valid positive threshold")
    // the SAMPLED branch end to end, forced at fixture scale with an
    // override target: training must be deterministic, keep the seeded
    // cell ids, and differ from the full-corpus quantizer (proof the
    // sample actually drove the centroid update)
    val sampled = VectorQueries.quantizerRows(spark, sf, sampleTarget = 250L)
    val again = VectorQueries.quantizerRows(spark, sf, sampleTarget = 250L)
    assert(sampled == again, "sampled training must be deterministic")
    assert(sampled.map(_._1).sorted == (0L until 8L).toList)
    assert(sampled.forall(_._2.length == 64))
    val full = VectorQueries.quantizerRows(spark, sf)
    assert(sampled != full,
      "the 250-target sample must actually change the trained state")
    // the slice the trainer saw is the md5 predicate's slice
    val thr = VectorQueries.trainSampleThresholdFor(500, target = 250L).get
    val nSampled = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(VectorQueries.trainSampleHash < thr).count()
    assert(nSampled > 0 && nSampled < 500,
      s"md5 slice should be a proper subset, got $nSampled of 500")
  }

  test("v11 prototype prune: exact ceil(n/4) cut per cell, pruned are the most prototypical") {
    val rows = VectorQueries.v11PrototypePrune(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == n, "one verdict per corpus vector")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.groupBy(_.getLong(1)).foreach { case (cell, cellRows) =>
      val (pruned, kept) = cellRows.partition(_.getLong(4) == 0L)
      assert(pruned.length == (cellRows.length + 3) / 4,
        s"cell $cell: pruned ${pruned.length} of ${cellRows.length}")
      if (kept.nonEmpty && pruned.nonEmpty)
        // the cut is by prototypicality: every pruned cosine >= every kept
        assert(pruned.map(_.getDouble(2)).min >= kept.map(_.getDouble(2)).max,
          s"cell $cell: a kept vector out-prototypes a pruned one")
    }
  }

  test("v12 balanced sample: every cell capped at the mean size, under-mean cells pass whole") {
    val rows = VectorQueries.v12BalancedSample(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == n)
    val budget = n / 8 // N div IvfCells, the plan's broadcast scalar
    rows.groupBy(_.getLong(1)).foreach { case (cell, cellRows) =>
      val kept = cellRows.count(_.getLong(3) == 1L)
      assert(kept == math.min(cellRows.length.toLong, budget),
        s"cell $cell: kept $kept of ${cellRows.length}, budget $budget")
    }
    // deterministic: the md5-slice order makes reruns byte-identical
    val again = VectorQueries.v12BalancedSample(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("v13 filtered ANN: every hit matches the query's label, recall holds vs exact same-label top-5") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qLabel = e.filter(col("vec_id") < 3)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = VectorQueries.v13FilteredAnn(spark, sf).collect()
    assert(got.nonEmpty)
    // the label constraint is exact, rank is contiguous from 1
    got.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.forall(_.getInt(3) == qLabel(qid)),
        s"q$qid: off-label hit in ${rs.mkString(";")}")
      assert(rs.map(_.getInt(5)).sorted.sameElements(1 to rs.length))
    }
    // exact same-label brute force via the independent HOF fold
    val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("qid"),
      col("embedding").as("qe"), col("label").as("ql"))
    val exact = e.select(col("vec_id").as("vid"), col("embedding").as("ce"),
        col("label").as("cl"))
      .join(q, col("cl") === col("ql"))
      .select(col("qid"), col("vid"),
        (HofForms.dotHof(col("qe"), col("ce")) /
          (sqrt(HofForms.dotHof(col("qe"), col("qe"))) *
           sqrt(HofForms.dotHof(col("ce"), col("ce"))))).as("cos"))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) =>
        qid -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .take(5).map(_.getLong(1)).toSet }
    val recalls = got.groupBy(_.getLong(0)).map { case (qid, rs) =>
      rs.map(_.getLong(1)).count(exact(qid)) / 5.0 }
    assert(recalls.sum / recalls.size >= 0.5,
      s"filtered two-probe recall collapsed: $recalls")
  }

  test("v15 IVF-PQ: self at rank 1 with zero distance, rerank recall beats raw ADC") {
    val got = VectorQueries.queries("v15_ivfpq_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.nonEmpty)
    // the query's own vector survives the coarse probe + shortlist and
    // reranks to distance exactly 0 at rank 1
    (0L until 3L).foreach { q =>
      val self = got.find(r => r._1 == q && r._2 == q)
      assert(self.exists(r => r._3 == 0.0 && r._4 == 1), s"q$q self: $self")
    }
    // exact squared-L2 ground truth via the independent HOF fold
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("qid"),
      col("embedding").as("qe"))
    val exact = e.select(col("vec_id").as("vid"), col("embedding").as("ce"))
      .crossJoin(q)
      .select(col("qid"), col("vid"),
        (HofForms.dotHof(col("qe"), col("qe"))
          - lit(2.0) * HofForms.dotHof(col("qe"), col("ce"))
          + HofForms.dotHof(col("ce"), col("ce"))).as("d"))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.sortBy(r => (r.getDouble(2), r.getLong(1)))
        .take(5).map(_.getLong(1)).toSet }
    val v7top = VectorQueries.queries("v7_pq_ann")(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    def recall(m: Map[Long, Set[Long]]): Double =
      (0L until 3L).map(qid => m(qid).count(exact(qid)) / 5.0).sum / 3.0
    val r15 = recall(got.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet })
    val r7 = recall(v7top)
    assert(r15 >= r7,
      s"exact rerank must not lose recall vs raw ADC: v15=$r15 v7=$r7")
    assert(r15 >= 0.5, s"two-stage recall collapsed: $r15")
  }

  test("v14 decontamination flags exactly the benchmark-slice mutants, not other near-dups") {
    val rows = VectorQueries.v14SemanticDecontam(spark, sf).collect()
    val flagged = rows.filter(_.getLong(2) == 1L).map(_.getLong(0)).toSet
    // mutants exist for vec_id % 5 == 0; the benchmark slice is vec_id < 10,
    // so ONLY the mutants of 0 and 5 are eval-set leakage. The mutants of
    // 10, 15, ... are near-dups of TRAINING vectors — real duplication,
    // not contamination — and must pass.
    assert(flagged == Set(1000000L, 1000005L), s"flagged $flagged")
    // the training side never includes the benchmark slice itself
    assert(rows.forall(_.getLong(0) >= 10L))
  }

  test("retrainIfDrifted: no monitor tripped leaves the quantizer untouched") {
    val before = VectorQueries.quantizerRows(spark, sf)
    val r = VectorQueries.retrainIfDrifted(spark, sf,
      maxHotCells = Long.MaxValue, maxDeadCells = Long.MaxValue,
      recallFloorMicro = 0L)
    assert(!r.retrained)
    assert(r.minRecallMicro.isEmpty, "floor 0 must skip the recall audit")
    // the memoized quantizer is the SAME instance — no silent retrain
    assert(VectorQueries.quantizerRows(spark, sf).asInstanceOf[AnyRef]
      eq before.asInstanceOf[AnyRef])
  }

  test("retrainIfDrifted: recall floor trips eviction; deterministic retrain reproduces the quantizer") {
    val before = VectorQueries.quantizerRows(spark, sf)
    // an unsatisfiable floor (recall_micro <= 1000000 by construction)
    // forces the retrain path on the immutable fixture: the monitors must
    // report, the memo must be evicted, and the deterministic Lloyd chain
    // must reproduce the identical centroids in a FRESH memo entry
    val r = VectorQueries.retrainIfDrifted(spark, sf,
      maxHotCells = Long.MaxValue, recallFloorMicro = 1000001L)
    assert(r.retrained)
    assert(r.minRecallMicro.exists(m => m >= 0L && m <= 1000000L), s"$r")
    val after = VectorQueries.quantizerRows(spark, sf)
    assert(after.asInstanceOf[AnyRef] ne before.asInstanceOf[AnyRef],
      "retrain must evict the memo, not serve the old instance")
    assert(after == before,
      "training is deterministic: same corpus => same centroids")
  }

  test("reassignIndex: identity under the same quantizer, equals a fresh build under a new one") {
    import org.apache.spark.sql.functions.col
    val idx = VectorQueries.corpusCellIndex(spark, sf)
    val cents = VectorQueries.quantizerRows(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell"), col("nrm"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    // same quantizer => reassignment is the identity (bit-level: same
    // argmax arithmetic over the same centroids)
    assert(rows(VectorQueries.reassignIndex(idx, cents)) == rows(idx))
    // a RETRAINED quantizer at a different K: reassignment of the stale
    // index equals building the index fresh under the new quantizer —
    // the post-retrain redeploy contract (norms ride along unchanged)
    val fresh = VectorQueries.quantizerRows(spark, sf, cells = 16)
    val re = VectorQueries.reassignIndex(idx, fresh)
    val scratch = VectorQueries.withCellAssigned(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding")),
      "embedding", "cell", fresh)
      .withColumn("nrm", VectorQueries.norm(col("embedding")))
    assert(rows(re) == rows(scratch))
  }

  test("maintenance invariant: a retrained quantizer with a stale index breaks the semantic gate; reassignIndex restores it") {
    // THE production failure mode reassignIndex exists to prevent: the
    // gate assigns arrivals under the DEPLOYED quantizer but probes an
    // index whose cell column was computed under the REPLACED one — an
    // exact duplicate of an indexed vector lands in a different cell,
    // finds no cell-mate, and sails through. Index assignments and the
    // deployed quantizer must come from the same epoch.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    val embDir = s"$dir/embeddings.parquet"
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    base.write.parquet(embDir)
    val stale = VectorQueries.quantizerRows(spark, dir)
    // the index, assigned under the stale quantizer, pinned as a local
    // snapshot (the materialized-table topology)
    val idx = VectorQueries.corpusCellIndex(spark, dir).localCheckpoint(true)
    // grow the corpus with a point mass and let the maintenance pass trip
    val proto = base.filter(col("vec_id") === 42L)
      .select(col("embedding"), col("label"))
    spark.range(200000, 200600).toDF("vec_id").crossJoin(proto)
      .select(col("vec_id"), col("embedding"), col("label"))
      .write.mode("append").parquet(embDir)
    assert(VectorQueries.retrainIfDrifted(spark, dir, maxHotCells = 0L).retrained)
    val fresh = VectorQueries.quantizerRows(spark, dir)
    // find a seed vector whose cell changed across the epochs — the
    // arrivals the mismatch silently lets through
    def cellsUnder(cents: Seq[(Long, Seq[Double])]): Map[Long, Long] =
      VectorQueries.withCellAssigned(
          base.select(col("vec_id"), col("embedding")), "embedding", "cell",
          cents)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (cs, cf) = (cellsUnder(stale), cellsUnder(fresh))
    val moved = cs.keys.filter(k => cs(k) != cf(k)).toSeq.sorted
    assert(moved.nonEmpty,
      "fixture precondition: retraining on the grown corpus must move at " +
        "least one seed vector's assignment")
    val baseAll = base.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val dup = Seq((888888L, baseAll(moved.head))).toDF("vec_id", "embedding")
    import graft.streaming.EventStream.semanticGateAtIngest
    // stale index + fresh quantizer: the exact duplicate slips the gate
    assert(semanticGateAtIngest(dup, idx, fresh).count() == 1L,
      "epoch mismatch should let the duplicate through — if this now " +
        "fails, the gate no longer depends on cell co-location and the " +
        "invariant (and reassignIndex) may be obsolete")
    // reassigned index + fresh quantizer: the duplicate dies again
    assert(semanticGateAtIngest(dup,
      VectorQueries.reassignIndex(idx, fresh), fresh).count() == 0L,
      "after reassignIndex the gate must kill the exact duplicate")
    // maintainIndex is the two steps fused — with no further drift under
    // held thresholds it returns the index untouched (same instance)...
    val h = VectorQueries.v16CellBalance(spark, dir)
      .agg(sum(col("hot"))).collect()(0).getLong(0)
    val (rNo, idxNo) = VectorQueries.maintainIndex(spark, dir, idx,
      maxHotCells = h)
    assert(!rNo.retrained && (idxNo.asInstanceOf[AnyRef] eq
      idx.asInstanceOf[AnyRef]))
    // ...and on a tripped pass the returned index already satisfies the
    // epoch invariant: the gate under it kills the duplicate
    val (rYes, idxYes) = VectorQueries.maintainIndex(spark, dir, idx,
      maxHotCells = 0L, recallFloorMicro = 0L)
    assert(rYes.retrained,
      "the point-mass cell stays hot, so maxHotCells=0 must trip")
    assert(semanticGateAtIngest(dup, idxYes,
      VectorQueries.quantizerRows(spark, dir)).count() == 0L,
      "maintainIndex must hand back a gate-consistent (index, quantizer) pair")
    idx.unpersist(blocking = false)
  }

  test("retrainIfDrifted: corpus growth makes a hot cell, trips retrain, loop reaches a fixed point") {
    import spark.implicits._
    // a corpus dir the test owns: seed with the fixture, train, then
    // APPEND a point mass (the compaction-loop growth shape) so the
    // stale quantizer's cell balance drifts hot
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val embDir = s"$dir/embeddings.parquet"
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    base.write.parquet(embDir)
    val stale = VectorQueries.quantizerRows(spark, dir) // trains on the seed
    val proto = base.filter(col("vec_id") === 42L)
      .select(col("embedding"), col("label"))
    spark.range(100000, 100600).toDF("vec_id").crossJoin(proto)
      .select(col("vec_id"), col("embedding"), col("label"))
      .write.mode("append").parquet(embDir)
    // the maintenance pass re-lists, measures with the STALE quantizer,
    // trips on the mass cell (~55% share >> the 25% hot bar), retrains
    val r1 = VectorQueries.retrainIfDrifted(spark, dir, maxHotCells = 0L)
    assert(r1.retrained && r1.hotCells >= 1L, s"$r1")
    val fresh = VectorQueries.quantizerRows(spark, dir)
    assert(fresh != stale,
      "retraining on the grown corpus must move the centroids")
    // convergence: a point mass is legitimately hot under ANY quantizer
    // (a data property, not drift) — holding the threshold at the
    // retrained state's own count, the next cycle does NOT retrain again
    val h2 = VectorQueries.v16CellBalance(spark, dir)
      .agg(sum(col("hot"))).collect()(0).getLong(0)
    val r2 = VectorQueries.retrainIfDrifted(spark, dir, maxHotCells = h2)
    assert(!r2.retrained && r2.hotCells == h2, s"$r2 vs hot=$h2")
    assert(VectorQueries.quantizerRows(spark, dir).asInstanceOf[AnyRef]
      eq fresh.asInstanceOf[AnyRef])
  }

  test("index purge: a deleted vector stops influencing the semantic gate and leaves ANN results") {
    import spark.implicits._
    val cents = VectorQueries.quantizerRows(spark, sf)
    val idx = VectorQueries.corpusCellIndex(spark, sf)
    // find a corpus vector whose exact re-arrival dies ONLY against
    // itself: the gate kills it on the full index and passes it once the
    // vector is purged — most vectors qualify (corpus near-dups are few)
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().toMap
    def gateKeeps(index: org.apache.spark.sql.DataFrame, v: Seq[Float]): Boolean =
      graft.streaming.EventStream.semanticGateAtIngest(
        Seq((9900001L, v)).toDF("vec_id", "embedding"), index, cents)
        .count() == 1L
    val chosen = Seq(7L, 11L, 23L, 42L, 57L).find { id =>
      !gateKeeps(idx, base(id)) &&
        gateKeeps(VectorQueries.purgeIndex(idx, Seq(id).toDF("vec_id")),
          base(id))
    }.getOrElse(fail(
      "fixture precondition: need a vector whose only near-dup is itself"))
    val purged = VectorQueries.purgeIndex(idx, Seq(chosen).toDF("vec_id"))
    // the deleted id is gone from everything the index serves: the gate
    // (above) and any search over it — here the exact-cosine probe that
    // would have returned the deleted vector as its own nearest neighbor
    assert(purged.filter(col("vec_id") === chosen).isEmpty)
    val q = base(chosen)
    val top = purged
      .select(col("vec_id"),
        round(VectorQueries.dot(col("embedding"), lit(q.toArray)) /
          (col("nrm") * lit(math.sqrt(q.foldLeft(0.0)((a, x) =>
            a + x.toDouble * x.toDouble)))), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(5)
      .collect().map(_.getLong(0))
    assert(!top.contains(chosen),
      "deleted vector still served from the purged index")
    // everything else is untouched: same rows minus exactly the purged id
    assert(purged.count() == idx.count() - 1)
  }

  test("k=1 argmax assignment equals the window path's rank-1 rows") {
    // assignCells takes a per-row argmax at k=1 (zero exchange) and a
    // window rank at k>1 (the v6/v13/v15 probe sets). The window's rank-1
    // row must be the argmax row — same cell, bit-identical ccos — for
    // every vector, both at the seed centroids the Lloyd loop starts from
    // and at the trained quantizer it ends at: any divergence in a single
    // assignment would compound across the Lloyd passes.
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val e = graft.plans.Tables.table(spark, sf, "embeddings")
    val trained = VectorQueries.quantizerRows(spark, sf)
    val seeds = e.filter(col("vec_id") < trained.size)
      .select(col("vec_id").as("cell"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
      .as[(Long, Seq[Double])].collect().toSeq
    val byRank = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("bigint"), col("ccos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    val nVectors = e.count()
    Seq("seed" -> seeds, "trained" -> trained).foreach { case (label, cent) =>
      val argmax = rows(VectorQueries.assignCells(cent, e, 1))
      val rank1 = rows(VectorQueries.assignCells(cent, e, 2)
        .withColumn("rk", row_number().over(byRank)).filter(col("rk") === 1))
      assert(argmax.size == nVectors, s"$label: argmax missed vectors")
      assert(argmax.map(_._1).distinct.size == argmax.size,
        s"$label: argmax emitted a vector twice")
      assert(rank1.size == nVectors, s"$label: window rank 1 missed vectors")
      val diverged = argmax.zip(rank1).filter { case (a, w) => a != w }
      val nDiverged = diverged.size
      assert(nDiverged == 0,
        s"$label: argmax diverged from window rank 1 at ${diverged.take(3)}")
    }
  }

  test("an empty centroid frame is refused, not assigned null cells") {
    // cells = 0 seeds no centroid; the per-row rule would otherwise give
    // every vector cell -1 where the join shapes give no rows
    val e = intercept[IllegalArgumentException](
      VectorQueries.quantizerRows(spark, sf, cells = 0))
    assert(e.getMessage.contains("no centroids"))
  }

  test("topK: ties rank by vid ascending in both score directions") {
    import spark.implicits._
    // tie groups that straddle the k cut in both directions; input rows
    // arrive vid-descending so no natural order can pass for the rule
    val scored = Seq(
      (0L, 9L, 0.9), (0L, 7L, 0.7), (0L, 5L, 0.9), (0L, 3L, 0.9), (0L, 1L, 0.5),
      (1L, 8L, 0.8), (1L, 6L, 0.2), (1L, 4L, 0.2), (1L, 2L, 0.2))
      .toDF("qid", "vid", "score").repartition(3)
    val k = 3
    Seq(false -> Map(0L -> Seq(3L, 5L, 9L), 1L -> Seq(8L, 2L, 4L)),
        true -> Map(0L -> Seq(1L, 7L, 3L), 1L -> Seq(2L, 4L, 6L)))
      .foreach { case (asc, expected) =>
        val rows = VectorQueries.topK(scored, "score", asc, k, "score")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSeq
        assert(rows.map(r => (r._1, r._4)) == rows.map(r => (r._1, r._4)).sorted,
          s"ascending=$asc: not ordered by (qid, rk)")
        rows.groupBy(_._1).foreach { case (qid, rs) =>
          assert(rs.size <= k, s"ascending=$asc qid $qid: more than k rows")
          assert(rs.map(_._4) == (1 to rs.size), s"ascending=$asc qid $qid: rk gaps")
          rs.sliding(2).foreach {
            case Seq(a, b) if a._3 == b._3 =>
              assert(a._2 < b._2, s"ascending=$asc qid $qid: tie not vid-ascending")
            case _ => ()
          }
        }
        assert(rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) } == expected,
          s"ascending=$asc")
      }
  }
}
