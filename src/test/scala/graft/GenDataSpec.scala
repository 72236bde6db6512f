package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sf-scaling fixture generator's own gate: the SCALING measurements
  * (BASELINE.md r14) are only as good as the generator's fidelity claims,
  * so those claims are pinned — determinism (pure (row id, salt)
  * functions: two generations are byte-equal row sets), schema identity
  * with the driver template, and the cross-table key ranges the TPC-H
  * joins rely on. */
class GenDataSpec extends AnyFunSuite {
  import TestSpark._

  private val template = "/root/testdata/sf0.1"

  test("generation is deterministic, schema-identical to the template, and key-closed") {
    val a = java.nio.file.Files.createTempDirectory("graft-gen-a").toString
    val b = java.nio.file.Files.createTempDirectory("graft-gen-b").toString
    GenData.generate(spark, template, a, 0.02)
    GenData.generate(spark, template, b, 0.02)
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables) {
      val da = spark.read.parquet(s"$a/$t.parquet")
      val db = spark.read.parquet(s"$b/$t.parquet")
      // determinism: identical row SETS (file layout may differ)
      assert(da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty,
        s"$t: two generations diverged")
      // schema fidelity: the driver template's exact names and types
      val want = spark.read.parquet(s"$template/$t.parquet").schema
        .map(f => (f.name, f.dataType))
      val got = da.schema.map(f => (f.name, f.dataType))
      assert(got == want, s"$t: schema diverged from template: $got vs $want")
      // count fidelity: base counts are DERIVED from the template (no
      // hardcoded map), so generated = floor(template × mult) exactly —
      // dims are copied verbatim (mult-independent)
      val tmplN = spark.read.parquet(s"$template/$t.parquet").count()
      val wantN =
        if (t == "region" || t == "nation") tmplN else (tmplN * 0.02).toLong
      assert(da.count() == wantN, s"$t: count ${da.count()} != $wantN")
    }
    import org.apache.spark.sql.functions._
    // key closure at this mult: every FK lands inside its dimension
    val nCust = spark.read.parquet(s"$a/customer.parquet").count()
    val nPart = spark.read.parquet(s"$a/part.parquet").count()
    val nSupp = spark.read.parquet(s"$a/supplier.parquet").count()
    val nOrd = spark.read.parquet(s"$a/orders.parquet").count()
    val li = spark.read.parquet(s"$a/lineitem.parquet")
      .agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey"))
      .collect()(0)
    assert(li.getLong(0) < nOrd && li.getLong(1) < nPart &&
      li.getLong(2) < nSupp, s"lineitem FKs escape their dimensions: $li")
    val oc = spark.read.parquet(s"$a/orders.parquet")
      .agg(max("o_custkey")).collect()(0).getLong(0)
    assert(oc < nCust)
    // nationkeys ride the copied 25-row nation table
    assert(spark.read.parquet(s"$a/customer.parquet")
      .agg(max("c_nationkey")).collect()(0).getInt(0) < 25)
  }

  test("dup-chain and embedding marginals land within tolerance of the template's (r15 task 5)") {
    // the SCALING conclusions (BASELINE.md) ride d1/d3/d6 candidate
    // geometry, which rides these marginals; measure BOTH sides with the
    // same metric so a generator drift — or a silent template
    // regeneration — fails here instead of skewing an sf1 sweep. Both
    // sides are pure hash functions of row ids, so the comparison is
    // deterministic: the bands below cover generator-vs-template model
    // mismatch, not run-to-run noise.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val gen = java.nio.file.Files.createTempDirectory("graft-gen-m").toString
    GenData.generate(spark, template, gen, 1.0)

    def docMarginals(df: DataFrame): (Double, Double) = {
      val n = df.count().toDouble
      val exact = (n - df.select("text").distinct().count()) / n
      // near-dup metric: a doc whose text is some OTHER doc's text with
      // its last word dropped (the template's measured trim direction)
      val tails = df
        .select(regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
        .distinct()
      val near = df.join(tails, Seq("text"), "left_semi").count() / n
      (exact, near)
    }
    val tmplDocs = spark.read.parquet(s"$template/documents.parquet")
    val genDocs = spark.read.parquet(s"$gen/documents.parquet")
    val (te, tn) = docMarginals(tmplDocs)
    val (ge, gn) = docMarginals(genDocs)
    assert(te > 0 && tn > 0, s"template has no dup structure? exact=$te near=$tn")
    assert(math.abs(ge - te) <= 0.5 * te + 5e-4,
      s"exact-dup rate drift: generated $ge vs template $te")
    assert(math.abs(gn - tn) <= 0.3 * tn,
      s"near-dup rate drift: generated $gn vs template $tn")

    def centroidNorms(df: DataFrame): Seq[Double] = df
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos").agg(avg(col("col")).as("m"))
      .groupBy("label").agg(sum(col("m") * col("m")).as("s2"))
      .collect().map(r => math.sqrt(r.getAs[Double]("s2"))).toSeq
    val tNorms = centroidNorms(spark.read.parquet(s"$template/embeddings.parquet"))
    val gNorms = centroidNorms(spark.read.parquet(s"$gen/embeddings.parquet"))
    assert(tNorms.size == 10 && gNorms.size == 10,
      s"label cardinality drift: ${tNorms.size} vs ${gNorms.size}")
    val (tMean, gMean) = (tNorms.sum / 10, gNorms.sum / 10)
    assert(math.abs(gMean - tMean) <= 0.3 * tMean,
      s"cluster-tightness drift: centroid-norm mean $gMean vs template $tMean")
    // label balance: no cluster collapses or dominates on either side —
    // the template check also guards the centroid-norm comparison above
    // against a silently regenerated template with degenerate labels
    def balance(df: DataFrame): Double = {
      val sizes = df.groupBy("label").count().collect().map(_.getLong(1))
      sizes.max.toDouble / sizes.min
    }
    assert(balance(spark.read.parquet(s"$template/embeddings.parquet")) < 1.5)
    assert(balance(spark.read.parquet(s"$gen/embeddings.parquet")) < 1.5)
  }

  test("skewedSource variant: hot-domain histogram, everything else identical") {
    // the skewed fixture's contract (r17): skew changes ONLY the
    // documents source column's histogram — a hot domain holding ~half
    // the corpus with a power-law tail — so a uniform-vs-skew
    // measurement difference is attributable to the key distribution
    // and nothing else
    import org.apache.spark.sql.functions._
    val u = java.nio.file.Files.createTempDirectory("graft-gen-u").toString
    val s = java.nio.file.Files.createTempDirectory("graft-gen-s").toString
    GenData.generate(spark, template, u, 0.05)
    GenData.generate(spark, template, s, 0.05, skewedSource = true)
    val du = spark.read.parquet(s"$u/documents.parquet")
    val ds = spark.read.parquet(s"$s/documents.parquet")
    def hotShare(df: org.apache.spark.sql.DataFrame): Double = {
      val r = df.groupBy("source").count()
        .agg(max("count").as("hot"), sum("count").as("tot")).collect()(0)
      r.getLong(0).toDouble / r.getLong(1)
    }
    assert(hotShare(du) < 0.10, "uniform variant must stay uniform")
    assert(hotShare(ds) > 0.40 && hotShare(ds) < 0.55,
      s"skew variant must put ~47% of docs in the hot source, got ${hotShare(ds)}")
    // same source VALUE SPACE (src0..src19), no new domains
    assert(ds.select("source").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(du.select("source").distinct().collect().map(_.getString(0)).toSet))
    // every non-source column is row-for-row identical
    val cols = du.columns.filterNot(_ == "source").map(col)
    assert(du.select(cols: _*).exceptAll(ds.select(cols: _*)).isEmpty &&
      ds.select(cols: _*).exceptAll(du.select(cols: _*)).isEmpty,
      "skew must not touch any column but source")
  }
}
