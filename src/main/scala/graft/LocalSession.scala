package graft

import org.apache.spark.sql.SparkSession

/** The one local session the measuring and dumping mains run on (Bench,
  * Verify, DumpPlans): `local[SPARK_GRAFT_CPUS]`
  * (default 4) with as many shuffle partitions, UTC, the graft native
  * expressions and no UI. events.parquet carries TIMESTAMP(NANOS), which
  * Spark's vectorized reader rejects, so it reads as epoch-nanos long
  * (EventQueries docs). GenData and ClusterParity build their own. */
object LocalSession {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
