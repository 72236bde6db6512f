package graft

import org.apache.spark.sql.functions.{array, col, explode}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.BoundedCollect

class BoundedCollectSpec extends AnyFunSuite {
  import TestSpark._

  test("a bounded collect runs one job over every partition, at and above its bound") {
    // rows from a generator: the optimizer knows no row bound to drop a
    // limit by, as with a parquet scan
    val df = spark.range(0, 50, 1, 8)
      .select(explode(array(col("id") * 2, col("id") * 2 + 1)).as("id"))
      .select(col("id"), (col("id") * 2).as("twice"))
    var at: Option[Array[org.apache.spark.sql.Row]] = None
    var over: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    assert(jobsOf { at = BoundedCollect(df, 100) } == 1)
    // in partition order, as a collect returns them
    assert(at.map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq)
      .contains(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq))
    assert(at.map(_.map(_.getLong(0)).toSeq).contains(0L until 100L))
    // every partition holds fewer rows than the bound: the driver sees
    // the bound passed only once several partitions have answered
    assert(jobsOf { over = BoundedCollect(df, 99) } == 1)
    assert(over.isEmpty)
    assert(BoundedCollect(df.limit(0), 0).map(_.length).contains(0))
    assert(BoundedCollect(df, 0).isEmpty)
  }

  test("a failed bounded collect throws its cause") {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    val df = spark.range(0, 10, 1, 2)
      .select(when(col("id") === 7L, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    val e = intercept[Exception](BoundedCollect(df, 100))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
  }
}
