package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 100 TB toolbox (SURVEY §4, builder brief "optimize for scale"):
  * reusable shapes for the three physical problems a local[n] run never
  * forces but a 1000-executor run always does — repeated co-located joins
  * (bucketing), scan minimization on selective predicates (partitioned
  * layout → partition pruning), and hot-key shuffles (salting). Each has a
  * PlanSpec-style assertion in ScaleSpec proving the plan property, not
  * just the result.
  */
object ScaleTechniques {

  /** Write both fact tables bucketed by the join key: every subsequent
    * equi-join on that key is exchange-free (no shuffle at any scale).
    * `buckets` should match the cluster's target partition count at the
    * expected data volume. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, table: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Bucket-aware join: reads two bucketed tables and joins on their bucket
    * key. With matching bucket counts Spark plans SortMergeJoin with NO
    * Exchange on either side. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String): DataFrame = {
    // qualify through each table's own plan: with leftKey == rightKey (the
    // common bucketed-join case) bare col() would be AMBIGUOUS_REFERENCE
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** Layout for selective time/status predicates: partition directories by
    * the filter column so the scan lists only matching directories
    * (PartitionFilters, zero data IO for pruned partitions). High-cardinality
    * keys don't belong here — this is for the handful of hot predicates
    * (status, date). */
  def writePartitioned(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Salted aggregation for skewed keys: two-phase — first aggregate on
    * (key, salt) spreading a hot key over `salts` reducers, then combine
    * per key. Correct for any associative aggregate; shown for sum/count.
    * The salt must be ROW-derived (round-robin on a per-row id), never
    * value-derived: a hot key whose values are constant would hash every
    * row into one salt bucket and the straggler survives.
    * (AQE's skew-join handling covers JOIN skew; aggregation skew still
    * needs explicit salting.) */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      salts: Int): DataFrame =
    df.withColumn("_salt", pmod(monotonically_increasing_id(), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as("sum_value"), sum(col("_pcnt")).as("n"))

  /** Per-key row_number over a RANGE-SORTED layout — the hot-key-splitting
    * alternative to `row_number().over(Window.partitionBy(key)
    * .orderBy(ord...))` for FULL per-key ranking (every row gets its rank,
    * so WindowGroupLimit's rank<=k pushdown does not apply and AQE cannot
    * help: skew splitting acts on join shuffle reads, never on a window
    * partition — a 47%-hot key is one straggler task, by construction,
    * in the hash-window plan).
    *
    * Range partitioning on (key, ord...) splits the hot key across many
    * partitions at range boundaries; per-key rank is then LOCAL position
    * within the sorted partition plus the count of same-key rows in
    * earlier partitions. Everything stays in codegen'd DataFrame ops (a
    * first cut walked partitions with mapPartitions over df.rdd; the
    * Row-boxing tax made it 2.4x SLOWER than the straggler it removes —
    * measured r18, BASELINE.md SCALING):
    *
    *  - local position = monotonically_increasing_id minus the partition
    *    base (the id is partitionId·2^33 + index, assigned in sorted
    *    order within each partition);
    *  - the per-(partition, key) stats frame — min local id + row count,
    *    O(partitions + distinct keys) rows since a key occupies
    *    contiguous range partitions — aggregates small, gets its
    *    cross-partition prefix offsets from a window over ITSELF (tiny,
    *    never skewed: one row per (partition, key)), and broadcast-joins
    *    back;
    *  - rank = local − first_local_in_partition + 1 + prefix.
    *
    * The two consumers of the sorted layout (stats + main) are identical
    * subplans; in the EXECUTED local plan ReuseExchange did not fuse the
    * two range exchanges (observed r18), so the stateless form pays the
    * range shuffle twice — deliberately accepted over a persist-based
    * form whose cache lifecycle the caller would own. Measured
    * consequence (BASELINE.md SCALING, rank-recovery legs, sf1-skew and
    * 16x amplified): at local[32] the rewrite is SLOWER in wall clock than
    * the hash window (~1.9x at 9M rows / 47%-hot), because a single-task
    * in-memory sort of a few million rows is cheap relative to an extra
    * full-data pass.
    * The rewrite's real claim is the bound, not local wall time: max
    * partition = N/P regardless of skew, where the hash window's hot
    * partition (47% of the data in ONE task) stops fitting executor
    * memory long before 100 TB. Reach for this when the hot key
    * overwhelms a task, not to speed up a skew that still fits.
    * Deterministic when (key, ord...) is a total order (append a unique
    * id to `ord` otherwise). */
  def rangeSortedRank(df: DataFrame, key: String, ord: Seq[String],
      rankCol: String, partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val parts =
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sortCols = (key +: ord).map(col)
    val withLoc = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .select(col("*"), spark_partition_id().as("_pid"),
        monotonically_increasing_id().as("_mid"))
      .withColumn("_loc", col("_mid") - col("_pid").cast("long") * (1L << 33))
    val stats = withLoc.groupBy(col("_pid"), col(key))
      .agg(min(col("_loc")).as("_first"), count(lit(1)).as("_cnt"))
      .withColumn("_before",
        coalesce(sum(col("_cnt")).over(
          Window.partitionBy(col(key)).orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    withLoc.join(broadcast(stats.drop("_cnt")), Seq("_pid", key))
      .withColumn(rankCol,
        col("_loc") - col("_first") + lit(1L) + col("_before"))
      .drop("_pid", "_mid", "_loc", "_first", "_before")
  }
}
