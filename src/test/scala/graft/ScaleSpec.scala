package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ScaleTechniques

/** Plan-level proof of the scale toolbox: bucketing kills the join
  * exchange, partitioned layout prunes the scan, salting spreads a hot
  * aggregation key. */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("bucketed tables join with no Exchange on either side") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    ScaleTechniques.writeBucketed(orders, "o_orderkey", 8, "orders_b")
    ScaleTechniques.writeBucketed(lineitem, "l_orderkey", 8, "lineitem_b")
    val joined = ScaleTechniques.bucketedJoin(spark, "lineitem_b", "orders_b",
      "l_orderkey", "o_orderkey")
    val p = planOf(joined)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    // and it still returns the right rows
    assert(joined.count() == lineitem.count())
  }

  test("partitioned layout gives PartitionFilters pruning on the status predicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val jobs = graft.model.EncodeDomain.jobsDF(spark, sf)
    ScaleTechniques.writePartitioned(jobs, "status", dir)
    val scan = spark.read.parquet(dir).filter(col("status") === "Not Encoding")
    val p = planOf(scan)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("status"), s"no partition pruning:\n$p")
    assert(scan.count() == jobs.filter(col("status") === "Not Encoding").count())
  }

  test("AQE splits the skewed join partition (skew=true in the final plan)") {
    // JOIN skew is the one hot-key problem the engine solves at runtime
    // (salting covers AGGREGATION skew — see saltedSumCount's scaladoc):
    // AQE measures the map output, sees one reducer partition far beyond
    // factor x median, and splits it across tasks, duplicating the
    // matching partition of the other side. The production 100 TB answer
    // needs no code at all — this pins that our session settings actually
    // deliver it, with thresholds scaled down to fixture size.
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // fixture-scale skew detection: flag a reducer partition over 64 KB
      // and 2x the median, split toward 16 KB chunks
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      // force a shuffle join: broadcasting the small side would hide skew
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one hot key (0) with 200k rows; 100 cold keys with 10 rows each
      val hot = spark.range(0, 200000).select(lit(0L).as("k"), col("id").as("v"))
      val cold = spark.range(0, 1000)
        .select((col("id") % 100 + 1).as("k"), col("id").as("v"))
      val left = hot.unionByName(cold)
      val right = spark.range(0, 101).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
      // collect() (not count(), which builds its own QueryExecution):
      // the ADAPTIVE final plan exists only on the EXECUTED dataset
      assert(joined.collect().length == 200000 + 1000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(500))
      assert(p.contains("skew=true"), s"no skew split in the final plan:\n$p")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter from a selective dim prunes the fact side before the shuffle") {
    // The fourth runtime lever after bucketing/pruning/skew: on a shuffle
    // join with a SELECTIVE dim filter, Catalyst builds a bloom filter
    // over the filtered dim keys and injects bloom_filter_might_contain
    // at the fact side, so non-matching fact rows die at the scan instead
    // of flowing through the exchange. At 100 TB this is the difference
    // between shuffling the whole fact table and shuffling the ~matching
    // slice; like AQE skew it needs no query code — this pins that the
    // injection actually fires, with the size thresholds (10 GB scan
    // floor in prod) scaled down to fixture size.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // broadcast would hide the shuffle the filter exists to shrink
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_partkey"), col("l_quantity"))
      val part = spark.read.parquet(s"$sf/part.parquet")
        .filter(col("p_size") <= 2) // selective: few keys survive
        .select(col("p_partkey"), col("p_name"))
      val joined = li.join(part, col("l_partkey") === col("p_partkey"))
      // Spark 4 renders the injected filter as might_contain(scalar-subquery)
      // over a bloom_filter_agg of the filtered dim keys
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected on the fact side:\n${p.take(3000)}")
      assert(joined.count() > 0, "the filtered join must still return rows")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("cell index as a bucketed table: the gate probe joins with no shuffle on either side") {
    import graft.queries.VectorQueries
    // the corpusCellIndex scaladoc claims "at 100 TB this frame is a
    // bucketed parquet table written once and read per batch" — write it
    // as one, land an arrival batch bucketed the same way (the micro-batch
    // output shape), and prove the probe plans with NO hash-partitioning
    // Exchange on either side: the corpus-sized index never shuffles again
    val cents = VectorQueries.quantizerRows(spark, sf)
    val idx = VectorQueries.corpusCellIndex(spark, sf).select("vec_id", "cell", "nrm")
    val arrivals = spark.read.parquet(s"$sf/embeddings.parquet")
      .limit(50)
      .select((col("vec_id") + 9500000L).as("vec_id"),
        VectorQueries.nearestCell(col("embedding"), cents)("cell").as("cell"))
    ScaleTechniques.writeBucketed(idx, "cell", 8, "cell_index_b")
    ScaleTechniques.writeBucketed(arrivals, "cell", 8, "cell_arrivals_b")
    try {
      val probe = ScaleTechniques.bucketedJoin(spark,
        "cell_index_b", "cell_arrivals_b", "cell", "cell")
      val p = planOf(probe)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed cell probe still shuffles:\n$p")
      assert(probe.count() > 0, "the probe must still return candidates")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cell_index_b")
      spark.sql("DROP TABLE IF EXISTS cell_arrivals_b")
    }
  }

  test("suppression blocklist as a bucketed table: the anti-join probe plans exchange-free") {
    // SuppressionStore's scaladoc claims the deployment-scale probe
    // co-partitions via bucketBy(fp) "so the anti-join co-partitions with
    // a bucketed arrivals table without a shuffle" — until now argued,
    // not planned (r15 verdict task 4). Write the blocklist (the real
    // forget-request fingerprints) and an arrivals table bucketed on the
    // same key, disable broadcast so the small fixture can't cheat into
    // BroadcastHashJoin, and pin the LEFT ANTI SortMergeJoin with no
    // hash-partitioning Exchange on either side — the plan shape a
    // requests-proportional list too big to broadcast needs at 100 TB.
    import graft.queries.ExportQueries
    val blocklist = ExportQueries.forgetSuppressionFps(spark, sf)
    val arrivals = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), graft.ops.Fingerprint.col(col("text")).as("fp"))
    ScaleTechniques.writeBucketed(blocklist, "fp", 8, "suppression_b")
    ScaleTechniques.writeBucketed(arrivals, "fp", 8, "arrivals_b")
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(bcast)
    spark.conf.set(bcast, "-1")
    try {
      val l = spark.table("arrivals_b")
      val r = spark.table("suppression_b")
      val probe = l.join(r, l("fp") === r("fp"), "left_anti")
      val p = planOf(probe)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed suppression probe still shuffles:\n$p")
      assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
        s"probe must plan as a sort-merge anti-join over the buckets:\n$p")
      // and the survivors are exactly arrivals minus the suppressed
      val suppressed = l.join(r, l("fp") === r("fp"), "left_semi").count()
      assert(suppressed > 0, "fixture must contain suppressed arrivals")
      assert(probe.count() == arrivals.count() - suppressed)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(bcast, v)
        case None => spark.conf.unset(bcast)
      }
      spark.sql("DROP TABLE IF EXISTS suppression_b")
      spark.sql("DROP TABLE IF EXISTS arrivals_b")
    }
  }

  test("range-sorted rank equals the hash-window row_number, key split across partitions") {
    // the hot-key-splitting FULL-ranking alternative (r18: the lever the
    // t29-shaped window needs under source skew, where WindowGroupLimit
    // does not apply and AQE cannot split a window partition). Pin both
    // halves of the claim: (1) exact row_number equivalence on a skewed
    // key distribution incl. a dominant key, (2) the dominant key's rows
    // actually SPAN multiple range partitions — the property the hash
    // window structurally cannot have.
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        pmod(col("doc_id") * 2654435761L, lit(1000)).as("priority"))
      // force a dominant key: fold 60% of sources into one
      .withColumn("source",
        when(pmod(col("doc_id"), lit(10)) < 6, lit("hot")).otherwise(col("source")))
    val windowed = docs.withColumn("rk",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("priority"), col("doc_id"))).cast("long"))
      .select("doc_id", "rk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranked = ScaleTechniques.rangeSortedRank(
      docs, "source", Seq("priority", "doc_id"), "rk", partitions = 8)
    val viaRange = ranked.select("doc_id", "rk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaRange == windowed,
      s"rank mismatch on ${viaRange.count { case (k, v) => windowed.get(k) != Some(v) }} docs")
    // the hot key spans >1 partition in the ranked layout
    val hotParts = ranked.filter(col("source") === "hot")
      .select(spark_partition_id().as("p")).distinct().count()
    assert(hotParts > 1,
      s"hot key landed in $hotParts partition(s) — the split never happened")
  }

  test("salted aggregation equals the direct aggregation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_value"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = ScaleTechniques.saltedSumCount(li, "l_returnflag", "l_quantity", 16)
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(direct.keySet == salted.keySet)
    direct.foreach { case (k, (s, n)) =>
      assert(math.abs(salted(k)._1 - s) < 1e-6 && salted(k)._2 == n, s"key $k")
    }
  }
}
