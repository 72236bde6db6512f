package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor fixture generator for SCALING runs (r13 verdict task 1):
  * reproduces the driver testdata's schemas and distributions at any
  * multiple of the sf0.1 row counts, so the bench can run at sf1 (10×)
  * and the 100-TB plan-shape arguments become measurements.
  *
  * Usage: runMain graft.GenData <templateDir> <outDir> <mult>
  *   e.g. runMain graft.GenData /root/testdata/sf0.1 target/sf1 10
  *
  * Faithfulness contract (MEASURED off the driver fixtures — r16
  * remeasurement, pinned by GenDataSpec's marginals test): every
  * column's marginal distribution and the cross-table key ranges match
  * the template; in particular the DOCUMENT DUP STRUCTURE (0.16% exact
  * dups, ≈4.9% near-dups = a random earlier doc's text with its LAST
  * word dropped — the rates that drive d1/d3/d6 candidate counts) and
  * the EMBEDDING geometry (isotropic unit vectors; the 10 labels carry
  * no geometric signal — per-label centroid norm is the 1/√m noise
  * floor, what shapes IVF cell balance) scale linearly, so a
  * superlinear bench entry at sf1 is the PLAN's doing, not the data's.
  * region/nation are fixed-cardinality dimensions copied from the
  * template verbatim.
  *
  * Known chain caveat: a dup copies its SOURCE doc's base_text, not its
  * final text, so dup CHAINS (A dups B which itself dups C) are not
  * transitively propagated the way the template's sequential-lookback
  * generator propagates them. Per-doc chain probability is the dup rate
  * squared (≈0.0502² ≈ 2.5e-3 of docs), so marginal dup rates — what
  * drives d1/d3/d6 candidate counts — are faithful, but the cluster-SIZE
  * tail (clusters of 3+) is slightly thinner than the template's at
  * large mult. Scale-shape conclusions are unaffected; exact cluster
  * demography at mult ≫ 10 is not claimed.
  *
  * Determinism: every value is a pure function of (row id, column salt)
  * via xxhash64 — fully parallel, no RNG state, identical output for a
  * given (mult) at any parallelism. Generation is expression-only
  * (range → project → one self-join for the document dups), so sf10
  * generates as fast as the cluster can write parquet.
  */
object GenData {

  // the scaled fact/doc tables; base counts come from the TEMPLATE at
  // generation time (one metadata-only count() per table), so a driver
  // fixture change can never silently shift what "mult" means
  private val Scaled = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Deterministic uniform in [0, 1) from (id, salt). */
  private def u(id: Column, salt: String): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast("double") / 1e6
  /** Deterministic uniform long in [0, n) from (id, salt). */
  private def h(id: Column, salt: String, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))
  private def pick(id: Column, salt: String, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*),
      (h(id, salt, vals.size.toLong) + 1).cast("int"))

  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val PartTypes =
    Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Adjectives =
    Seq("hot", "cold", "small", "large", "new", "old", "red", "blue")
  private val Nouns = Seq("ring", "bolt", "screw", "nut", "washer",
    "plate", "rod", "pipe", "wheel", "gear")
  // the documents vocabulary observed in the template (31 words)
  private val DocVocab = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "customer", "the",
    "join", "dup")
  private val Langs = Seq("en", "zh", "es", "fr", "de")
  private val EventTypes = Seq("view", "click", "signup", "purchase", "error")

  def main(args: Array[String]): Unit = {
    val Array(templateDir, outDir, multS) = args.take(3)
    val mult = multS.toDouble
    val skew = args.lift(3).contains("skew")
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, templateDir, outDir, mult, skewedSource = skew)
    spark.stop()
  }

  /** `skewedSource`: emit the documents `source` column Zipf-skewed
    * instead of the template's uniform src0–src19 (r16 verdict stretch
    * task 7 — the skewed-fixture leg the uniform generator cannot
    * exercise): `src_k = floor(20·u⁴)` puts ≈47% of docs in src0 with a
    * power-law tail — the hot-domain shape a real crawl has and the
    * input the AQE-skew/salting evidence in BASELINE.md's SCALING
    * section measures.
    * Everything else — dup structure, lang mix, text marginals, every
    * other table — stays byte-identical to the uniform variant. */
  def generate(spark: SparkSession, templateDir: String, outDir: String,
      mult: Double, skewedSource: Boolean = false): Unit = {
    // base counts READ from the template (parquet footer metadata only —
    // a count() over parquet with no filter never touches row data)
    val baseCounts: Map[String, Long] = Scaled.map(t =>
      t -> spark.read.parquet(s"$templateDir/$t.parquet").count()).toMap
    def n(t: String): Long = (baseCounts(t) * mult).toLong
    def write(name: String, df: DataFrame, files: Int): Unit = {
      df.coalesce(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      System.err.println(s"[gen] $name rows=${n(name)} files=$files")
    }
    // fixed-cardinality dimensions: copy verbatim
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$templateDir/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val nNat = 25L
    def ids(t: String) = spark.range(0, n(t)).toDF("id")

    write("customer", ids("customer").select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(col("id"), "cnat", nNat).cast("int").as("c_nationkey"),
      round(u(col("id"), "cbal") * 10000, 2).as("c_acctbal"),
      pick(col("id"), "cseg", Segments).as("c_mktsegment")),
      math.max(1, (mult / 10).toInt))

    write("supplier", ids("supplier").select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(col("id"), "snat", nNat).cast("int").as("s_nationkey"),
      round(u(col("id"), "sbal") * 10000, 2).as("s_acctbal")), 1)

    write("part", ids("part").select(
      col("id").as("p_partkey"),
      concat(pick(col("id"), "padj", Adjectives), lit(" "),
        pick(col("id"), "pnoun", Nouns)).as("p_name"),
      concat(lit("Brand#"), (h(col("id"), "pbr", 25L) + 1).cast("string"))
        .as("p_brand"),
      pick(col("id"), "ptyp", PartTypes).as("p_type"),
      (h(col("id"), "psz", 50L) + 1).cast("int").as("p_size"),
      round(lit(900.0) + h(col("id"), "ppr", 1000L) / lit(10.0), 1)
        .as("p_retailprice")),
      math.max(1, (mult / 10).toInt))

    val orderDays = 2404L // 1995-01-01 .. 2001-08-01
    write("orders", ids("orders").select(
      col("id").as("o_orderkey"),
      h(col("id"), "ocust", n("customer")).as("o_custkey"),
      pick(col("id"), "ostat", Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(col("id"), "otot") * 499000, 2).as("o_totalprice"),
      to_timestamp(date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        h(col("id"), "odate", orderDays).cast("int")))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(col("id"), "oprio", Priorities).as("o_orderpriority")),
      math.max(1, (mult / 2).toInt))

    val shipDays = 2499L // 1995-01-02 .. 2001-11-04
    write("lineitem", ids("lineitem").select(
      h(col("id"), "lord", n("orders")).as("l_orderkey"),
      h(col("id"), "lpart", n("part")).as("l_partkey"),
      h(col("id"), "lsupp", n("supplier")).as("l_suppkey"),
      (h(col("id"), "lnum", 7L) + 1).cast("int").as("l_linenumber"),
      (h(col("id"), "lqty", 50L) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(col("id"), "lext") * 104100, 2)
        .as("l_extendedprice"),
      (h(col("id"), "ldisc", 11L).cast("double") / 100).as("l_discount"),
      (h(col("id"), "ltax", 9L).cast("double") / 100).as("l_tax"),
      pick(col("id"), "lrf", Seq("N", "R", "A")).as("l_returnflag"),
      pick(col("id"), "lls", Seq("F", "O")).as("l_linestatus"),
      to_timestamp(date_add(lit(java.sql.Date.valueOf("1995-01-02")),
        h(col("id"), "lship", shipDays).cast("int")))
        .cast("timestamp_ntz").as("l_shipdate")),
      math.max(1, mult.toInt))

    // events: increasing timestamps with jitter over a fixed 30-day
    // window (the template's shape: N sorted uniforms ⇒ mean gap =
    // span/N), users scale with events at the template's 66.7:1 ratio,
    // value ~ Exponential(mean 50)
    val spanMicros = 30L * 24 * 3600 * 1000000
    val nEv = n("events")
    val nUsers = math.max(1L, nEv / 67)
    write("events", ids("events").select(
      col("id").as("event_id"),
      timestamp_micros(
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000)
          + ((col("id") + u(col("id"), "ejit")) / nEv.toDouble
            * spanMicros).cast("long")).cast("timestamp_ntz").as("ts"),
      h(col("id"), "euser", nUsers).as("user_id"),
      pick(col("id"), "etyp", EventTypes).as("event_type"),
      round(-lit(50.0) * log(lit(1.0) - u(col("id"), "eval") * 0.999999), 2)
        .as("value"),
      concat(lit("{\"k\": "), h(col("id"), "ek", 100L).cast("string"),
        lit("}")).as("props")),
      math.max(1, (mult / 2).toInt))

    // documents: base text = L words (L ~ U[10,100]) off the 31-word
    // vocabulary; then the template's dup structure — doc i is an exact
    // copy of a random earlier doc with p = 0.0016, a near-dup (LAST
    // word dropped) with p ≈ 0.049, else its own base text. One
    // self-join replaces the template generator's sequential lookback.
    // Both rates and the trim direction are MEASURED off the sf0.1
    // template (r16: n=5000, exact = (n − distinct text)/n = 0.0016;
    // 243 trim-pair docs = 0.0486, all last-word — the r13 profile had
    // doubled the exact rate and guessed first-word); GenDataSpec pins
    // the generated marginals against the template's within tolerance
    // so a regeneration can't silently drift the d1/d3/d6 candidate
    // geometry the SCALING conclusions ride on.
    val nDoc = n("documents")
    val base = ids("documents").select(
      col("id").as("doc_id"),
      array_join(transform(
        sequence(lit(1), (h(col("id"), "dlen", 91L) + 10).cast("int")),
        j => element_at(array(DocVocab.map(lit): _*),
          (pmod(xxhash64(col("id"), j, lit("dw")), lit(31L)) + 1)
            .cast("int"))), " ").as("base_text"))
    val kindU = u(col("doc_id"), "dkind")
    // de-collide near-dup sources: two near-dups of the SAME source trim
    // to the SAME text, which the measured-marginals metric counts as an
    // EXTRA EXACT DUP (~n·rate²/2 ≈ 0.0012 of docs — it was 2/3 of the
    // generated exact rate before r16). The template has zero such
    // collision groups (all its dup-text groups are full base texts), so
    // demote every collided near past the first back to "self". One
    // window over the ~5% near subset, partitions are per-source tiny —
    // scale-free at any mult.
    val nearRk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kind"), col("src_id")).orderBy(col("doc_id"))
    val docs = base.select(
        col("doc_id"), col("base_text"),
        when(col("doc_id") > 0 && kindU < 0.0016, lit("exact"))
          .when(col("doc_id") > 0 && kindU < 0.0502, lit("near"))
          .otherwise(lit("self")).as("kind"),
        when(col("doc_id") > 0,
          h(col("doc_id"), "dsrc", nDoc) % greatest(col("doc_id"), lit(1L)))
          .otherwise(lit(0L)).as("src_id"))
      .withColumn("kind",
        when(col("kind") === "near" &&
            org.apache.spark.sql.functions.row_number().over(nearRk) > 1,
          lit("self")).otherwise(col("kind")))
      .join(base.select(col("doc_id").as("src_id"),
        col("base_text").as("src_text")), Seq("src_id"), "left")
      .select(col("doc_id"),
        when(col("kind") === "exact", col("src_text"))
          .when(col("kind") === "near",
            regexp_replace(col("src_text"), "\\s+\\S+$", ""))
          .otherwise(col("base_text")).as("text"),
        pick(col("doc_id"), "dlang2",
          Seq("en", "en", "en", "en", "en", "en", "en", "en",
            "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr",
            "de", "de", "de")).as("lang"),
        (if (skewedSource)
          concat(lit("src"), floor(lit(20.0) *
            pow(u(col("doc_id"), "dskew"), 4.0)).cast("int").cast("string"))
        else
          concat(lit("src"), (col("doc_id") % 20).cast("string")))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    write("documents", docs.orderBy("doc_id"), math.max(1, (mult / 10).toInt))

    // embeddings: 64-dim isotropic unit vectors, g gaussian via
    // Box-Muller on two uniform hashes. The r13 profile read the
    // template's per-label centroid norm (≈0.0708) as weak cluster
    // signal; the r16 remeasurement shows it IS the 1/√m noise floor of
    // m≈200 unit vectors per label exactly (same-label mean cosine
    // −0.0016 vs cross-label +0.0001 — statistically null), i.e. the
    // template's labels carry NO geometric signal and an additive
    // centroid term (the old a=0.065) was injecting structure the
    // template lacks — inflating generated centroid norms to
    // √(a² + 1/m) ≈ 0.097 and flattering IVF cell balance at sf1.
    // GenDataSpec pins the geometry against the template's measured
    // marginals, so this can't drift back.
    val dim = 64
    def gauss(id: Column, salt: String, j: Column): Column = {
      val u1 = pmod(xxhash64(id, j, lit(salt + "1")), lit(999999L))
        .cast("double") / 1e6 + 1e-7
      val u2 = pmod(xxhash64(id, j, lit(salt + "2")), lit(1000000L))
        .cast("double") / 1e6
      sqrt(-lit(2.0) * log(u1)) * cos(lit(2 * math.Pi) * u2)
    }
    val lab = h(col("id"), "elab", 10L)
    val g = transform(sequence(lit(1), lit(dim)),
      j => gauss(col("id"), "eg", j))
    def nrm(a: Column): Column =
      sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
    write("embeddings", ids("embeddings")
      .select(col("id").as("vec_id"), lab.cast("int").as("label"), g.as("g"))
      .select(col("vec_id"),
        transform(col("g"), gv => (gv / nrm(col("g"))).cast("float"))
          .as("embedding"),
        col("label")), 1)
  }
}
