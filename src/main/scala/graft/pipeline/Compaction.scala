package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** What [[CorpusCompaction]] and [[VectorCompaction]] share: the bound
  * under which a compaction runs on the driver, and the one-row audit of
  * a kill cascade in both of its forms.
  *
  * Under [[LocalRows]] a compaction collects its arrival batch and the
  * corpus hits at the batch's own keys in one bounded collect, and runs
  * its kill tiers as set logic over those rows ([[localAudit]]). Above
  * it, the cascade runs in Spark: each tier frame is pinned ([[pinned]])
  * and [[audit]] counts them in one action. */
private[graft] object Compaction {

  /** The most rows a compaction collects to run on the driver: its
    * arrivals plus their corpus hits (a text arrival adds at most one fp
    * hit and one hit per band; a vector arrival one gate pass and its
    * within-cell pairs). A text row holds the arrival's columns, its fp
    * and its band keys (about 200 B beside the text); a vector row its
    * embedding. At 4 KB texts or 1,024-dim embeddings the collected rows
    * take about 70 MB of driver heap, and the deltas built from them as
    * much again. A fixed bound, not a setting: above it the Spark
    * cascade runs. */
  val LocalRows = 1 << 14

  /** Tier frames are arrival-batch-sized: pin each so the audit and the
    * survivor deltas evaluate every tier once; without the pins each
    * union branch re-derives the cascade above it. */
  def pinned(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The one-row audit of a kill cascade, in ONE action. `stages` are the
    * cascade's frames in order — the arrivals, then the frame left after
    * each kill tier, the last being the survivors — and `kills` names the
    * tiers between them. Every stage is tagged with its index and the
    * union counts in one conditional aggregate; `n_<kill>` is the count
    * of the stage before the tier minus the stage after it, so the
    * conservation identity n_arrivals = Σ kills + n_appended holds by
    * construction. The row is collected and handed back as local rows
    * under the aggregate's own schema: the audit is oracled data, and
    * observed metrics can double-count on a stage retry. */
  def audit(stages: Seq[DataFrame], kills: Seq[String]): DataFrame = {
    require(stages.size == kills.size + 1, "one stage after each kill tier")
    val tagged = stages.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("stage")) }
      .reduce(_ union _)
    def n(i: Int): Column = count(when(col("stage") === i, 1))
    val counts = tagged.agg(n(0).as("n_arrivals"),
      kills.indices.map(i => (n(i) - n(i + 1)).as(s"n_${kills(i)}")) :+
        n(kills.size).as("n_appended"): _*)
    stages.head.sparkSession.createDataFrame(
      java.util.Arrays.asList(counts.collect(): _*), counts.schema)
  }

  /** [[audit]]'s row, and its schema, from the sizes of stages the driver
    * computed. */
  def localAudit(spark: SparkSession, sizes: Seq[Int], kills: Seq[String]): DataFrame = {
    require(sizes.size == kills.size + 1, "one stage after each kill tier")
    val counts = sizes.head.toLong +: sizes.sliding(2).map(p => (p(0) - p(1)).toLong).toSeq :+
      sizes.last.toLong
    spark.createDataFrame(java.util.Arrays.asList(Row(counts: _*)),
      StructType(("n_arrivals" +: kills.map(k => s"n_$k") :+ "n_appended")
        .map(StructField(_, LongType, nullable = false))))
  }
}
