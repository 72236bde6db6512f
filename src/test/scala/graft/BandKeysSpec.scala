package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

class BandKeysSpec extends AnyFunSuite {
  import TestSpark._

  test("native band_keys equals the Column chain over the whole fixture corpus") {
    val rows = TextQueries.corpus(spark, sf)
      .select(col("doc_id"),
        TextQueries.bandKeysCol(col("text")).as("native"),
        HofForms.bandKeysHofCol(col("text")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: ${r.getSeq[String](1)} != ${r.getSeq[String](2)}")
    }
  }

  test("native band_keys edge semantics match the chain: short, empty, NULL, odd whitespace") {
    import spark.implicits._
    val cases = Seq(
      (1L, "one two"),            // too short to shingle → empty array
      (2L, ""),                   // empty → empty array
      (3L, null),                 // NULL → empty array (the gate contract)
      (4L, "  a   b\t c  d "),    // multi-space + tab separators
      (5L, "\u0001x y z w"),   // LEADING control char: not \s, not space —
                              // Spark trim keeps it glued to token 1
                              // (Java String.trim would strip it)
      (6L, "a b c a b c a b c")   // duplicate shingles can't move a minimum
    ).toDF("id", "text")
    val rows = cases.select(col("id"),
        TextQueries.bandKeysCol(col("text")).as("native"),
        HofForms.bandKeysHofCol(coalesce(col("text"), lit(""))).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"case ${r.getLong(0)}: ${r.getSeq[String](1)} != ${r.getSeq[String](2)}")
    }
    assert(rows.filter(_.getLong(0) <= 3).forall(_.getSeq[String](1).isEmpty))
    assert(rows.filter(_.getLong(0) >= 4).forall(_.getSeq[String](1).length == TextQueries.Bands))
  }

  test("band_keys codegens (interpreted fallback would log CodegenFallback)") {
    val plan = TextQueries.corpus(spark, sf)
      .select(TextQueries.bandKeysCol(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("band_keys"), plan)
    // the banding projects must sit inside WholeStageCodegen (shown as *)
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("Project")
      && l.contains("band_keys")), plan)
  }
}
