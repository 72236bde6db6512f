package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** What [[CorpusCompaction]] and [[VectorCompaction]] share: the tier pin
  * and the one-action audit of a kill cascade. */
private[pipeline] object Compaction {

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
}
