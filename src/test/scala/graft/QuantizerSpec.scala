package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.VectorQueries

/** The IVF quantizer's two Lloyd loops: on the driver over one collect
  * (`lloydLocal`) and in Spark (`lloydSpark`). Every consumer's
  * oracle hash rests on the quantizer, so the two must return the same
  * rows wherever `trainQuantizer` may pick either. */
class QuantizerSpec extends AnyFunSuite {
  import TestSpark._

  private val sf001 = graft.plans.VerifyExports.VerifyDir // the sf0.01 fixture
  private lazy val e: DataFrame =
    spark.read.parquet(s"$sf001/embeddings.parquet").select("vec_id", "embedding")

  private def byCell(q: Seq[(Long, Seq[Double])]) = q.sortBy(_._1)

  /** The local loop over all of `df`'s rows, whatever the bound. */
  private def local(df: DataFrame, cells: Int, target: Long = VectorQueries.TrainSampleTarget) =
    VectorQueries.lloydLocal(df, df.collect(), cells, target)

  test("the local and Spark Lloyd loops give equal rows at K=4, 8 and 16") {
    Seq(4, 8, 16).foreach { k =>
      val viaSpark = byCell(VectorQueries.lloydSpark(e, k))
      assert(viaSpark.map(_._1) == (0L until k.toLong), s"K=$k")
      assert(byCell(local(e, k)) == viaSpark, s"K=$k: local loop diverges")
      assert(byCell(VectorQueries.trainQuantizer(e, k)) == viaSpark, s"K=$k")
    }
  }

  test("the local and Spark loops agree on the md5-sliced sample and with a null embedding") {
    val withNull = e.union(spark.range(1).select(lit(999999L).cast(e.schema("vec_id").dataType)
      .as("vec_id"), lit(null).cast("array<float>").as("embedding")))
    for ((label, df) <- Seq("fixture" -> e, "null row" -> withNull); target <- Seq(250L, 100000L)) {
      val viaSpark = byCell(VectorQueries.lloydSpark(df, 8, target))
      assert(byCell(local(df, 8, target)) == viaSpark, s"$label, target $target")
      assert(viaSpark.size == 8 && viaSpark.forall(_._2.length == 64))
    }
    // the 250-vector slice, not the corpus, drove the centroid update
    assert(local(e, 8, 250L) != local(e, 8))
  }

  test("a seed cell that loses every member disappears on both paths") {
    import spark.implicits._
    // seed 2 duplicates seed 1, so every tie goes to cell 1 (the lower
    // cell) and cell 2 keeps no member, not even itself
    val df = Seq(
      0L -> Array(1f, 0f, 0f), 1L -> Array(0f, 1f, 0f), 2L -> Array(0f, 1f, 0f),
      3L -> Array(0.9f, 0.1f, 0f), 4L -> Array(0.1f, 0.9f, 0.1f), 5L -> Array(0f, 0.8f, 0.2f)
    ).toDF("vec_id", "embedding")
    val viaSpark = byCell(VectorQueries.lloydSpark(df, 3))
    assert(viaSpark.map(_._1) == Seq(0L, 1L))
    assert(byCell(local(df, 3)) == viaSpark)
  }

  test("null elements and ragged embeddings average as Spark's avg does") {
    // a null element counts for neither the sum nor the count of its
    // position, and a longer member adds positions
    val df = spark.sql("""SELECT * FROM VALUES
      (0L, array(CAST(1 AS FLOAT), 0F, 0F)), (1L, array(0F, 1F, 0F)),
      (2L, array(0.9F, CAST(NULL AS FLOAT), 0.1F)), (3L, array(0.2F, 0.8F, 0.1F, 0.5F)),
      (4L, array(0.7F, 0.2F, CAST(NULL AS FLOAT)))
      AS t(vec_id, embedding)""")
    val viaSpark = byCell(VectorQueries.lloydSpark(df, 2))
    assert(byCell(local(df, 2)) == viaSpark)
    assert(viaSpark.exists(_._2.length == 4))
  }

  test("the quantizer trains on the driver up to its bound and in Spark above it") {
    // 4,096 cells put the bound at 32 vectors: the first 32 fit, 33 do not
    val cells = 4096
    val bound = VectorQueries.localLloydRows(cells)
    assert(bound.toLong * cells == VectorQueries.LocalLloydCosines && bound == 32)
    val at = e.filter(col("vec_id") < bound)
    val over = e.filter(col("vec_id") <= bound)
    val countJobs = jobsOf(at.count())
    var atRows, overRows: Seq[(Long, Seq[Double])] = Nil
    assert(jobsOf { atRows = VectorQueries.trainQuantizer(at, cells) } == countJobs + 1,
      "at the bound: the count, one collect, then no Spark job")
    assert(jobsOf { overRows = VectorQueries.trainQuantizer(over, cells) } > countJobs + 1,
      "above the bound: the count, then the Spark loop")
    assert(byCell(atRows) == byCell(VectorQueries.lloydSpark(at, cells)))
    assert(byCell(overRows) == byCell(local(over, cells)))
    assert(atRows.size == bound && overRows.size == bound + 1)
  }

  test("a cold local train runs the count and one collect") {
    e.schema // resolved outside the job counts
    val countJobs = jobsOf(e.count())
    var q: Seq[(Long, Seq[Double])] = Nil
    assert(jobsOf { q = VectorQueries.trainQuantizer(e, 8) } == countJobs + 1)
    assert(q.size == 8)
  }

  test("cells = 0 throws on both paths") {
    Seq[() => Any](() => VectorQueries.trainQuantizer(e, 0),
        () => VectorQueries.lloydSpark(e, 0)).foreach { train =>
      val ex = intercept[IllegalArgumentException](train())
      assert(ex.getMessage.contains("no centroids"))
    }
  }
}
