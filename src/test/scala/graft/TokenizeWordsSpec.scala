package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** The native tokenize_words expression must be BIT-IDENTICAL to the HOF
  * chain it replaced (filter(split(trim(text), "\\s+"), _ =!= "")) — the
  * tokenization is upstream of every text oracle, so any divergence is a
  * corpus-wide correctness failure, not a perf nit. */
class TokenizeWordsSpec extends AnyFunSuite {
  import TestSpark._

  test("native tokenizer equals the HOF chain over the whole fixture corpus") {
    import spark.implicits._
    val diff = TextQueries.corpus(spark, sf)
      .select(col("doc_id"),
        TextQueries.toksCol(col("text")).as("nat"),
        HofForms.toksHofCol(col("text")).as("hof"))
      .filter(!(col("nat") <=> col("hof")))
      .as[(Long, Seq[String], Seq[String])].collect()
    assert(diff.isEmpty, s"tokenizers diverge on docs: ${diff.take(3).toSeq}")
  }

  test("adversarial strings: every whitespace class, unicode, empties, NULL") {
    import spark.implicits._
    val cases = Seq(
      "plain words here",
      "  leading and trailing  ",
      "tab\tseparated\twords",
      "mixed \t\r\n all six",
      "", "   ", "\t\n", "one",
      "nbsp\u00A0stays\u00A0glued",  // \s does not match NBSP
      "ideographic\u3000space",      // nor U+3000
      "controlglued",              // trim is spaces-only
      "emoji 😀 and 汉字 中文 tokens",
      "a  b   c    d",
      "ends with spaces   ",
      null.asInstanceOf[String])
    val df = cases.toDF("text")
    val diff = df
      .select(TextQueries.toksCol(col("text")).as("nat"),
        HofForms.toksHofCol(col("text")).as("hof"))
      .filter(!(col("nat") <=> col("hof")))
      .collect()
    assert(diff.isEmpty, s"diverged: ${diff.toSeq}")
    // spot-pin the semantics, not only the equality
    val got = df.select(TextQueries.toksCol(col("text")).as("t")).collect()
      .map(r => Option(r.getSeq[String](0)).map(_.toList))
    assert(got(0).contains(List("plain", "words", "here")))
    assert(got(4).contains(Nil) && got(5).contains(Nil) && got(6).contains(Nil))
    assert(got(8).contains(List("nbsp stays glued")))
    assert(got(10).exists(_.size == 1), "control chars must stay glued in one token")
    assert(got.last.isEmpty, "NULL text must tokenize to NULL") // getSeq -> null
  }

  test("tokenize_words codegens (interpreted fallback would log CodegenFallback)") {
    val plan = TextQueries.corpus(spark, sf)
      .select(TextQueries.toksCol(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("tokenize_words"), plan)
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("Project")
      && l.contains("tokenize_words")), plan)
  }
}
