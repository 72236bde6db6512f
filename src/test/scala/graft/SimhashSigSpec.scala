package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** The native simhash_sig expression must be BIT-IDENTICAL to the
  * explode → md5 → 64 bit-vote sums → quarter packing chain it replaced:
  * the signature base feeds d5/d6 and their oracles, so any vote or
  * packing divergence is a corpus-wide correctness failure. */
class SimhashSigSpec extends AnyFunSuite {
  import TestSpark._

  test("native signature equals the explode+aggregate chain over the fixture corpus") {
    val cols = Seq("doc_id", "sim_hi", "sim_lo", "b0", "b1", "b2", "b3")
    val hof = HofForms.simhashSigHofDF(spark, sf)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val native = {
      // rebuild the same projection the snapshot build runs (the snapshot
      // itself may hold a prior process's files — the spec must compare
      // the EXPRESSIONS, not a cached artifact)
      val toks = TextQueries.tokenizedCorpus(spark, sf)
      toks.filter(size(col("toks")) > 0)
        .select(col("doc_id"), call_function("simhash_sig", col("toks")).as("s"))
        .select(col("doc_id"), col("s.sim_hi").as("sim_hi"),
          col("s.sim_lo").as("sim_lo"), col("s.b0").as("b0"),
          col("s.b1").as("b1"), col("s.b2").as("b2"), col("s.b3").as("b3"))
        .collect().map(_.toSeq).toSet
    }
    assert(native == hof,
      s"signatures diverge; examples: ${(native -- hof).take(2)} vs ${(hof -- native).take(2)}")
    assert(native.nonEmpty)
  }

  test("tie votes pack as 0 and duplicate tokens vote per occurrence") {
    import spark.implicits._
    // two occurrences of the same token double every vote (never a tie
    // flip vs one occurrence — same sign), while two DIFFERENT tokens can
    // produce zero-sum ties on bits where they disagree: those bits must
    // pack 0 (strict > 0), exactly as the aggregate form's when(>0)
    val df = Seq(
      (1L, Seq("alpha")),
      (2L, Seq("alpha", "alpha")),
      (3L, Seq("alpha", "beta"))).toDF("doc_id", "toks")
    val rows = df.select(col("doc_id"),
        call_function("simhash_sig", col("toks")).as("s"))
      .select(col("doc_id"), col("s.sim_hi"), col("s.sim_lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) == rows(2L),
      "doubling one token's occurrences must not change its signature sign pattern")
    // doc 3's ties: where alpha and beta disagree the vote sums to 0 -> bit 0;
    // so doc3's signature ANDs down from doc1's on disagreement bits
    val (h1, l1) = rows(1L); val (h3, l3) = rows(3L)
    assert((h3 & ~h1) == 0L && (l3 & ~l1) == 0L,
      "a tie bit must pack 0, never 1")
  }

  test("simhash_sig codegens (interpreted fallback would log CodegenFallback)") {
    val plan = TextQueries.tokenizedCorpus(spark, sf)
      .filter(size(col("toks")) > 0)
      .select(call_function("simhash_sig", col("toks")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("simhash_sig"), plan)
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("Project")
      && l.contains("simhash_sig")), plan)
  }
}
