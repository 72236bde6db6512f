package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TextQueries

/** The Column-chain forms the native expressions in `graft.functions`
  * replaced. No query plan uses them: they are the references the
  * equality specs (VectorSpec, TokenizeWordsSpec, BandKeysSpec,
  * SimhashSigSpec, FuzzSpec) compare the native forms against. */
object HofForms {

  /** Σ a_i*b_i, double-accumulated left-to-right — the `float_dot`
    * reference for [[graft.queries.VectorQueries.dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Whitespace tokenization — the `tokenize_words` reference for
    * [[graft.queries.TextQueries.toksCol]]. */
  def toksHofCol(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Per-row MinHash band keys — the `band_keys` reference for
    * [[graft.queries.TextQueries.bandKeysCol]]; it tokenizes with the
    * native `toksCol` itself. */
  def bandKeysHofCol(text: Column): Column = {
    import TextQueries.{Bands, MixMod, RowsPerBand, mixA, mixB}
    val toks = TextQueries.toksCol(text)
    val sh = array_distinct(transform(sequence(lit(0), size(toks) - 3),
      i => array_join(slice(toks, i + 1, lit(3)), " ")))
    val hx = transform(sh, s => md5(s))
    def hj(j: Int): Column =
      array_min(transform(hx, h =>
        (conv(substring(h, 1 + 8 * (j % 4), 8), 16, 10).cast("bigint")
          * mixA(j) + mixB(j)) % MixMod))
    val keys = array((0 until Bands).map { b =>
      md5(concat_ws("|",
        (b * RowsPerBand until (b + 1) * RowsPerBand)
          .map(j => hj(j).cast("string")): _*))
    }: _*)
    when(size(toks) >= 3, keys).otherwise(array().cast("array<string>"))
  }

  /** The explode → md5 → 64 bit-vote sums → quarter packing chain — the
    * `simhash_sig` reference for d5's signature base, over the same
    * checkpointed tokenized corpus. */
  def simhashSigHofDF(spark: SparkSession, dir: String): DataFrame = {
    val hx = md5(col("token"))
    val hashed = TextQueries.tokenizedCorpus(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .select(col("doc_id"),
        conv(substring(hx, 1, 8), 16, 10).cast("bigint").as("hhi"),
        conv(substring(hx, 9, 8), 16, 10).cast("bigint").as("hlo"))
    def bit(b: Int): Column =
      (if (b < 32) shiftright(col("hlo"), b)
       else shiftright(col("hhi"), b - 32)).bitwiseAND(1)
    val bitSums = hashed.groupBy(col("doc_id"))
      .agg(sum(when(bit(0) === 1, 1).otherwise(-1)).as("s0"),
        (1 until 64).map(b =>
          sum(when(bit(b) === 1, 1).otherwise(-1)).as(s"s$b")): _*)
    // 16-bit quarter starting at vote `lo` — doubles as the band key
    def quarter(lo: Int): Column =
      (0 until 16).map(j =>
        when(col(s"s${lo + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    bitSums.select(col("doc_id"),
      (quarter(32) + quarter(48) * lit(65536L)).as("sim_hi"),
      (quarter(0) + quarter(16) * lit(65536L)).as("sim_lo"),
      quarter(0).as("b0"), quarter(16).as("b1"),
      quarter(32).as("b2"), quarter(48).as("b3"))
  }
}
