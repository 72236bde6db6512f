package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** Physical-plan contract (the "would this survive 100 TB" gate): for each
  * headline query, assert the plan property that makes it scale — filters
  * reaching the parquet scan, dimension joins broadcast, top-k as
  * TakeOrderedAndProject (no global sort), rank-1 windows using
  * WindowGroupLimit, column pruning in the read schema. These are
  * regression guards: a refactor that silently degrades a plan fails here,
  * not in a cluster.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("s1_dequeue: top-k plans as TakeOrderedAndProject, filter constant-folds through the derivation") {
    val p = planOf(EncodeQueries.s1Dequeue(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    // the status filter is on a DERIVED column; Catalyst must fold it into
    // a predicate on the underlying key and prune the scan to that column
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint>"),
      s"scan not pruned to the single source column:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("Condition") && l.contains("Not Encoding")),
      s"status equality survived instead of constant-folding:\n$p")
    assert(!p.contains("SortExec"), s"global sort instead of top-k:\n$p")
  }

  test("j1 join: formats dimension is broadcast, no shuffle of the jobs side") {
    val p = planOf(EncodeQueries.j1JobFormatJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"fact side got shuffled for the dim join:\n$p")
  }

  test("q1_agg: partial aggregation before the exchange (map-side combine)") {
    val p = planOf(AnalyticsQueries.q1Agg(spark, sf))
    assert(p.contains("HashAggregate"), p)
    // partial agg appears below the exchange: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("PushedFilters"), p)
  }

  test("q6_forecast: predicates push into the parquet scan, schema pruned") {
    val p = planOf(AnalyticsQueries.q6Forecast(spark, sf))
    assert(p.contains("PushedFilters"), p)
    // only the 4 needed columns are read, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_discount") &&
      !readSchema.contains("l_returnflag"), readSchema)
  }

  test("q4: EXISTS plans as a semi join; q_parts_no_returns as anti join") {
    val semi = planOf(AnalyticsQueries.q4PriorityWaiting(spark, sf))
    assert(semi.contains("LeftSemi"), semi)
    val anti = planOf(AnalyticsQueries.qPartsNoReturns(spark, sf))
    assert(anti.contains("LeftAnti"), anti)
  }

  test("st_latest_status / e3: rank-1 window gets WindowGroupLimit pushdown") {
    val p = planOf(EventQueries.e3LatestPerUser(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("e11: the stack-based unpivot stays inside whole-stage codegen (r11 driver 4x check)") {
    // the r11 driver sustained e11 at 4x a 0.23 s anchor; the executed
    // plan shows no plan-side cause — Generate(stack) IS codegen'd and
    // the only non-codegen operators are e9's pivotfirst aggregates
    // (ImperativeAggregate — inherently interpreted). Pin both facts so
    // a future regression (codegen fallback, extra exchange) fails here.
    val df = EventQueries.queries("e11_unpivot_counts")(spark, sf)
    df.collect()
    val p = planOf(df)
    assert("\\(\\d+\\) Generate \\[codegen id".r.findFirstIn(p).isDefined,
      s"stack unpivot fell out of whole-stage codegen:\n$p")
    // count exchanges in the FINAL adaptive tree only (the detail and
    // Initial Plan sections repeat every node)
    val finalTree = p.split("== Initial Plan ==")(0)
    assert("Exchange \\(\\d+\\)".r.findAllIn(finalTree).size <= 3,
      s"unpivot grew a fourth exchange (count+pivot+sort is the shape):\n$p")
  }

  test("t24 priority sample: top-k window gets WindowGroupLimit, text column pruned") {
    val p = planOf(TextQueries.queries("t24_priority_sample")(spark, sf))
    // rank <= k must prune inside each partition before the shuffle — at
    // corpus scale the full sort this prevents IS the query's cost model
    assert(p.contains("WindowGroupLimit"), p)
    // the sampler reads provenance + weight only, never the payload
    assert(!p.contains("text"), p)
  }

  test("x_front_door: the composed gate chain plans with no cartesian and no per-row subquery") {
    // six stages composed — the failure mode is a gate degenerating into
    // a nested-loop join (e.g. the band anti-join losing its equi-key)
    val df = ExportQueries.queries("x_front_door")(spark, sf)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    df.collect()
    val fin = planOf(df)
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"),
      s"front-door executed plan degenerated:\n$fin")
  }

  test("x_front_door_audit: single pass — arrivals derive once, tiers annotate instead of recompute") {
    // r12 verdict task 1: the first cut ran four .count() actions over
    // progressively longer prefixes of the gate chain, so the arrival
    // union (two `documents` scans + the novel literals) re-derived four
    // times. The single-pass form annotates kill tiers in one plan: the
    // `documents` relation must appear exactly twice (the union's two
    // arms), and the whole audit is ONE aggregate — a third scan or a
    // second agg means a tier went back to recomputing the chain.
    val df = ExportQueries.queries("x_front_door_audit")(spark, sf)
    val p = planOf(df)
    val docScans = "documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 2, s"expected the 2 union-arm documents scans, got $docScans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val row = df.collect().head
    // conservation identity from the row alone
    assert(row.getLong(0) == row.getLong(1) + row.getLong(2) + row.getLong(3) + row.getLong(4),
      row.toString)
  }

  test("x_export_delta: both policy scores ride ONE signal scan, no cartesian") {
    // the one-pass claim: v1 and v2 quality come off the same toks-base
    // scan — a second scan means a score recompute crept back in
    val df = ExportQueries.queries("x_export_delta")(spark, sf)
    val p = planOf(df)
    val toksScans = "graft-ckpt-shared/toks-".r.findAllIn(p).size
    assert(toksScans == 1, s"expected 1 toks-base scan, got $toksScans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_forget_audit / x_tokenizer_report: equi-probes only, 1-row aggregates broadcast") {
    // the health rows cross 1-row aggregates (broadcast by construction);
    // the guard is the PROBE side — the fp match and the vocab join must
    // stay equi-joins, never a per-row nested loop over the corpus
    val pf = planOf(ExportQueries.queries("x_forget_audit")(spark, sf))
    assert(!pf.contains("CartesianProduct"), pf)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(pf).size
    // exactly the two 1-row crossJoins of the audit row; formatted explain
    // prints the AQE initial plan too, so each appears twice — a count
    // beyond 4 means a corpus-sized join lost its key
    assert(nlj <= 4, s"unexpected nested-loop joins ($nlj):\n$pf")
    val pt = planOf(MlQueries.queries("x_tokenizer_report")(spark, sf))
    assert(!pt.contains("CartesianProduct"), pt)
    assert("BroadcastNestedLoopJoin".r.findAllIn(pt).size <= 2, pt)
    assert(pt.contains("partial_count") || pt.contains("HashAggregate"),
      s"corpus aggregates must combine map-side:\n$pt")
  }

  test("t29/t30: domain cap and sequence packing shuffle once by source, no global window") {
    // the scale contract of both ops: work parallelizes BY DOMAIN — a
    // window with no partition key would serialize the corpus through one
    // task (Spark itself warns), which is the failure mode these pins catch
    val p29 = planOf(TextQueries.queries("t29_domain_cap")(spark, sf))
    assert(p29.contains("Window"), p29)
    assert(!p29.contains("CartesianProduct"), p29)
    assert(p29.contains("hashpartitioning(source"),
      s"t29 window not partitioned by source:\n$p29")
    val p30 = planOf(TextQueries.queries("t30_sequence_pack")(spark, sf))
    assert(p30.contains("Window"), p30)
    assert(!p30.contains("CartesianProduct"), p30)
    assert(p30.contains("hashpartitioning(source"),
      s"t30 running sum not partitioned by source:\n$p30")
  }

  test("v1 cosine: query side broadcast, candidate scan not shuffled") {
    val p = planOf(VectorQueries.v1CosineTopk(spark, sf))
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"), p)
  }

  test("v9 binary sketch: query sketches broadcast, no cartesian blowup, rank-limited rerank") {
    val p = planOf(VectorQueries.v9BinaryAnn(spark, sf))
    // the prefilter is the v1 shape: tiny query side broadcast against a
    // linear corpus scan — the corpus itself must not shuffle to pair up
    assert(p.contains("Broadcast"), p)
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"top-5 rerank must rank-limit, not globally sort:\n$p")
    assert(!p.contains("ScalaUDF"), s"sketch must be pure built-in columns:\n$p")
  }

  test("t17 bigram LM: count-table joins are equi-joins, partial aggregation before the exchange") {
    val p = planOf(TextQueries.queries("t17_bigram_lm")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-doc score aggregation must map-side combine (the q1 rule)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("f1_command_compile: pure expressions over a broadcast join (no UDF, no shuffle)") {
    // (AQE wraps this plan pre-execution, hiding codegen ids; every
    // operator here — Project/Generate/BroadcastHashJoin — is a
    // codegen-supporting node and the expressions are all built-ins.)
    val p = planOf(EncodeQueries.f1CommandCompile(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("ScalaUDF"), s"UDF crept into the compile path:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"compile path must not shuffle:\n$p")
  }

  test("d3 LSH: candidate generation is an equi-join, never a cartesian product") {
    val p = planOf(TextQueries.d3MinhashLshPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("v5 near-dup: pairing is a bucket equi-join, never a cartesian product") {
    val p = planOf(VectorQueries.v5NearDupPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t6 top terms: global top-k plans as TakeOrderedAndProject, no global sort") {
    val p = planOf(TextQueries.t6TopTerms(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t5 redaction: pure regexp Column expressions, no UDF") {
    val p = planOf(TextQueries.t5RedactPii(spark, sf))
    assert(!p.contains("ScalaUDF"), s"UDF crept into the redaction path:\n$p")
  }

  test("d6 simhash: hamming-band candidates are an equi-join, never a cartesian product") {
    val p = planOf(TextQueries.d6SimhashDupPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the r14 scale fix: the candidate join must carry the SECOND-level
    // 12-bit sub-block key, not just the quarter — dropping skey from the
    // join stays correct (superset candidates) but silently reverts d6's
    // sf1 read from linear to the 19.5x single-level blowup
    assert(p.contains("skey"),
      s"sub-band key missing from the candidate join:\n$p")
  }

  test("v6 multi-probe: probe is a cell hash join; only the K-way centroid scoring broadcasts") {
    val p = planOf(VectorQueries.v6IvfMultiprobe(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // BroadcastNestedLoopJoin appears ONLY as the deliberate vector x K
    // centroid scoring (K = 8 rows of broadcast quantizer state); the
    // corpus-vs-corpus probe itself must be a hash join on the cell key
    assert(p.contains("BroadcastHashJoin"), s"cell probe not a hash join:\n$p")
  }

  test("v7 PQ-ADC: codebook and distance table broadcast; the code scan never cartesians") {
    val p = planOf(VectorQueries.v7PqAnn(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the ADC probe (codes x query distance table) must be the broadcast
    // hash join on (s, code) — corpus-sized code rows never shuffle for it
    assert(p.contains("BroadcastHashJoin"), s"ADC scan not a broadcast hash join:\n$p")
  }

  test("m1/m2 media near-dup: band equi-join, no cartesian, decode pass reused (not once per side)") {
    for (df <- Seq(MultimodalQueries.m1ImageNearDup(spark, sf),
        MultimodalQueries.m2AudioNearDup(spark, sf))) {
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("ShuffledHashJoin"),
        s"pair join must stay shuffled-hash — a broadcast side re-decodes the corpus:\n$p")
      // the double-decode guard must hold in the EXECUTED plan (AQE makes
      // join/reuse decisions at runtime; the m1 bench bimodality was this
      // flip): both sides must ride one reused band exchange
      df.collect()
      val fin = planOf(df)
      assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
        s"band exchange not reused — corpus decoded once per join side:\n$fin")
    }
  }

  test("t8 decontamination: the held-out shingle set joins broadcast, no corpus shuffle for the probe") {
    val p = planOf(TextQueries.t8Decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"benchmark shingles not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t9 mix sampling: stateless filter+generate — no join, no aggregation, no shuffle but the output sort") {
    val p = planOf(TextQueries.t9SampleMix(spark, sf))
    assert(!p.contains("Join"), s"mix sampling must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"mix sampling must not aggregate:\n$p")
    // the only exchange is the presentation orderBy (range partitioning):
    // any hash shuffle means a join/agg crept into the sampling path
    assert(!p.contains("hashpartitioning"), s"extra shuffle in the sampling path:\n$p")
  }

  test("t10 sequence packing: window and aggregation keyed by the pack partition, never a single global partition") {
    val p = planOf(TextQueries.t10PackSequences(spark, sf))
    assert(!p.contains("SinglePartition"),
      s"packing window collapsed to one partition (unpartitioned Window?):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m3 frame dedup: pair join is a fingerprint equi-join reusing ONE frame exchange") {
    val df = MultimodalQueries.m3VideoSharedFrames(spark, sf)
    val static = planOf(df)
    assert(!static.contains("CartesianProduct"), static)
    assert(!static.contains("BroadcastNestedLoopJoin"), static)
    assert(static.contains("ShuffledHashJoin"),
      s"pair join must stay a shuffled hash join (broadcast of corpus-sized frames cannot scale):\n$static")
    // exchange reuse is an AQE runtime decision: execute THIS df's own
    // QueryExecution (count() would plan a different one), then assert the
    // FINAL adaptive plan sampled the corpus once, not once per join side
    // (the m1/m2 round-7 regression, guarded here for video)
    df.collect()
    val fin = planOf(df)
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      s"frame exchange not reused — corpus sampled once per join side:\n$fin")
  }

  test("v8 semantic dedup: per-row centroid scoring, within-cell pairing never cartesians") {
    val p = planOf(VectorQueries.queries("v8_semantic_dedup")(spark, sf))
    // centroid scoring is the per-row nearestCell projection over the
    // tiny quantizer state: no centroid join at all
    assert(!p.contains("BroadcastNestedLoopJoin"), s"centroid scoring joins:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"no small side broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the assigned frame is cached so the pair join's two sides share one
    // assignment computation instead of re-running the window per side
    assert(p.contains("InMemoryTableScan"),
      s"cell assignment recomputed per join side:\n$p")
    VectorQueries.releaseCaches()
  }

  test("t14 unigram LM: frequency join is an equi-join; aggregation combines map-side") {
    val p = planOf(TextQueries.t14UnigramLm(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row totals scalar may ride a BroadcastNestedLoopJoin (that IS
    // the broadcast-scalar plan); the token->freq join must not
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation below the exchange:\n$p")
  }

  test("s10 upsert: lineitem size aggregation combines map-side before the exchange") {
    val p = planOf(StatusQueries.s10VideoEnable(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation below the exchange:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q7/q9: nation/part dims broadcast; the only non-broadcast join is the fact-fact equi-join") {
    for (name <- Seq("q7_volume_shipping", "q9_product_profit")) {
      val p = planOf(AnalyticsQueries.queries(name)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$name dims not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$name: no partial aggregation below the exchange:\n$p")
    }
  }

  test("q13: the customer-preserving outer join survives planning (zero-order customers are the point)") {
    val p = planOf(AnalyticsQueries.queries("q13_order_distribution")(spark, sf))
    // count(o_orderkey) over the join's null rows must not let Catalyst
    // rewrite the LEFT OUTER to inner — the distribution's 0-bucket rides
    // on preserved unmatched customers
    assert(p.contains("LeftOuter"), s"outer join rewritten away:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q12/q14/q16: executed plans stay partial-agg + pushed-filter + pruned-scan (r11 driver elevations)") {
    // the r11 driver run sustained q12 at 7.4x, q14 at 17x, and q16 at
    // 3.9x their anchors across reps while q13/q15 (already pinned) showed
    // the same pattern — pin the EXECUTED adaptive plans so a real plan
    // change fails here instead of hiding inside a host-pressure band.
    // q12: the narrow-projection fact-fact join — the orders scan must
    // read exactly (o_orderkey, o_orderpriority); the flag is computed
    // before the exchange so the shuffle carries a boolean, not strings
    val q12 = AnalyticsQueries.queries("q12_priority_case")(spark, sf)
    val p12 = planOf(q12)
    assert(p12.contains("ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>"),
      s"q12 orders scan not pruned to two columns:\n$p12")
    assert("HashAggregate".r.findAllIn(p12).size >= 2,
      s"q12: no partial aggregation below the exchange:\n$p12")
    assert(!p12.contains("CartesianProduct"), p12)
    q12.collect()
    val f12 = planOf(q12)
    assert(!f12.contains("BroadcastNestedLoopJoin") && !f12.contains("CartesianProduct"),
      s"q12 executed plan degenerated:\n$f12")

    // q14: the shipdate window must reach the lineitem scan; one fact pass
    val q14 = AnalyticsQueries.queries("q14_promo_share")(spark, sf)
    val p14 = planOf(q14)
    assert(p14.contains("PushedFilters") && p14.contains("l_shipdate"),
      s"q14 shipdate filter not pushed to the scan:\n$p14")
    assert("HashAggregate".r.findAllIn(p14).size >= 2,
      s"q14: no partial aggregation below the exchange:\n$p14")
    assert(!p14.contains("CartesianProduct"), p14)
    q14.collect()
    val f14 = planOf(q14)
    assert(!f14.contains("BroadcastNestedLoopJoin") && !f14.contains("CartesianProduct"),
      s"q14 executed plan degenerated:\n$f14")

    // q16: the brand/size exclusion prunes the part side BEFORE the join
    val q16 = AnalyticsQueries.queries("q16_supplier_count")(spark, sf)
    val p16 = planOf(q16)
    assert(p16.contains("PushedFilters") && p16.contains("p_size"),
      s"q16 part predicate not pushed to the scan:\n$p16")
    assert(!p16.contains("CartesianProduct"), p16)
    q16.collect()
    val f16 = planOf(q16)
    assert(!f16.contains("BroadcastNestedLoopJoin") && !f16.contains("CartesianProduct"),
      s"q16 executed plan degenerated:\n$f16")
  }

  test("q21: decorrelated only-late-supplier is equi-joins + per-order aggregate, never a per-row subquery") {
    val df = AnalyticsQueries.queries("q21_waiting_supplier")(spark, sf)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"supplier dim not broadcast:\n$p")
    // the EXISTS/NOT-EXISTS pair is hand-decorrelated to a per-pair
    // aggregate both consumers share; partial aggregation below the
    // exchange keeps it map-combining
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // the single-fact-pass property (exchange reuse is an AQE runtime
    // decision): the per-pair aggregate feeds stats AND the late-pair
    // probe — the executed plan must reuse its exchange, not re-derive
    // the lineitem join per consumer
    df.collect()
    val fin = planOf(df)
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      s"pair aggregate re-derived per consumer — fact joined twice:\n$fin")
  }

  test("q10: returned-revenue top-20 keeps the customer broadcast and top-k through AQE") {
    // the r9 driver run showed q10 at 7.0x its anchor with no pin in
    // place — an AQE demotion of the customer broadcast (e.g. under
    // driver memory pressure) to sort-merge would shuffle the whole
    // grouped fact side and be indistinguishable from host noise. Pin
    // BOTH the static plan and the executed adaptive plan.
    val df = AnalyticsQueries.queries("q10_returns")(spark, sf)
    val p = planOf(df)
    assert(p.contains("TakeOrderedAndProject"), s"top-20 not TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast:\n$p")
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"),
      s"returnflag filter not pushed to the lineitem scan:\n$p")
    df.collect()
    val fin = planOf(df)
    assert(fin.contains("TakeOrderedAndProject"),
      s"executed plan lost the top-k:\n$fin")
    assert(fin.contains("BroadcastHashJoin") && !fin.contains("SortMergeJoin"),
      s"AQE demoted the customer broadcast — grouped fact side shuffles:\n$fin")
  }

  test("q22: above-average filter rides a broadcast 1-row aggregate; no-urgent-orders is an anti join") {
    val p = planOf(AnalyticsQueries.queries("q22_global_sales")(spark, sf))
    // the 1-row balance aggregate may legitimately plan as a broadcast
    // nested-loop (that IS the broadcast-scalar pattern); the urgent-order
    // exclusion must be a hashed LeftAnti, and nothing may cartesian
    assert(p.contains("LeftAnti"), s"exclusion not an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), s"1-row aggregate not broadcast:\n$p")
  }

  test("q2: correlated MIN decorrelates to an aggregated join, dims broadcast, nothing cartesians") {
    val p = planOf(AnalyticsQueries.queries("q2_min_cost_supplier")(spark, sf))
    // the per-part MIN subquery must rewrite to an aggregate joined back on
    // p_partkey — a correlated re-execution per outer row would be a
    // partkey-cardinality scan storm at scale
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"snowflake dims not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 not rank-limited:\n$p")
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val agg = AnalyticsQueries.queries("q2_min_cost_supplier")(spark, sf)
      .queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }
    assert(agg.isDefined, "MIN subquery not decorrelated to an Aggregate")
  }

  test("q8: both nation role-plays and all dims broadcast; single fact-fact shuffle") {
    val p = planOf(AnalyticsQueries.queries("q8_market_share")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // five dimension joins (part, customer, supplier, n1+region, n2) must
    // ALL broadcast — any one demoted to sort-merge shuffles the fact side
    // that many extra times
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5,
      s"a dimension join lost its broadcast:\n$p")
  }

  test("q11: HAVING's global scalar rides the grouped view's reused exchange — one fact pass") {
    val df = AnalyticsQueries.queries("q11_important_parts")(spark, sf)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), p)
    // per-part partial aggregation must combine map-side; the global-total
    // scalar must not force a second full shuffle of the grouped side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Subquery") || p.contains("BroadcastExchange"),
      s"global total not planned as a scalar subquery/broadcast:\n$p")
    // the scalar side aggregates the GROUP SUMS, so its plan must reuse
    // the grouped exchange instead of scanning the fact a second time —
    // at scale this is the difference between one fact pass and two
    df.collect()
    val fin = planOf(df)
    assert(fin.contains("ReusedExchange"),
      s"scalar subquery re-derived the grouped aggregate — fact scanned twice:\n$fin")
  }

  test("q15: max-over-view is a broadcast 1-row probe; supplier dim broadcast") {
    val p = planOf(AnalyticsQueries.queries("q15_top_supplier")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), s"1-row MAX not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"supplier dim or max probe demoted to sort-merge:\n$p")
  }

  test("q20: both IN levels plan as semi joins, nothing cartesians") {
    val p = planOf(AnalyticsQueries.queries("q20_surplus_suppliers")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // part-IN inside supplier-IN: two LeftSemi levels (Catalyst may fold
    // the part probe into a broadcast semi — either spelling is semi)
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      s"nested IN chain did not decorrelate to two semi joins:\n$p")
  }

  test("t25 DSIR: per-doc term counts aggregate BEFORE the vocab join, totals broadcast") {
    val df = TextQueries.queries("t25_dsir_score")(spark, sf)
    val p = planOf(df)
    // the only legal nested-loop is the broadcast 1-row totals aggregate
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"),
      s"doc-independent totals not broadcast:\n$p")
    // occurrences must never cross the vocab-join exchange: the join reads
    // (doc_id, token, n_w) — the t21 pre-aggregation discipline
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "vocab join missing from the optimized plan")
    assert(joins.forall(_.children.exists(
        _.collectFirst { case a: Aggregate => a }.isDefined)),
      s"no pre-aggregation below a join:\n${df.queryExecution.optimizedPlan.treeString}")
  }

  test("t21 BPE encode: word counts aggregate BEFORE the vocab join, nothing cartesians") {
    // the scale property: the join input is doc-distinct words, not raw
    // token occurrences — joining occurrences would ship corpus-scale
    // rows through the exchange for no reason
    val df = MlQueries.t21BpeEncode(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "vocab join missing from the optimized plan")
    assert(joins.forall(_.children.exists(
        _.collectFirst { case a: Aggregate => a }.isDefined)),
      s"no pre-aggregation below the vocab join:\n${df.queryExecution.optimizedPlan.treeString}")
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("ScalaUDF"), s"encode path must be pure built-ins:\n$p")
  }

  test("t22 source mix: mutant-id filter reaches the toks scan; equi-join only, map-side partials") {
    val p = planOf(TextQueries.queries("t22_source_mix")(spark, sf))
    // the raw-ids restriction must prune the checkpoint scan, not filter
    // post-read (at 100 TB the mutant share is whatever augmentation ran)
    assert(p.contains("LessThan(doc_id,1000000)"),
      s"doc_id bound not pushed to the parquet scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"(source, lang) aggregation must combine map-side:\n$p")
  }

  test("unhinted customer/supplier/part joins broadcast from planner STATS at fixture scale") {
    // round-11: the forced broadcast() hints on the linearly-growing
    // tables were dropped (a hint-forced multi-GB build is the classic
    // 100x OOM); at fixture scale the parquet size stats must still give
    // the planner the broadcast pick — this pin is the hint's replacement
    for (name <- Seq("q3_top_unshipped", "q5_local_supplier",
        "q14_promo_share", "q16_supplier_count", "q18_large_orders",
        "q19_brackets")) {
      val p = planOf(AnalyticsQueries.queries(name)(spark, sf))
      assert(p.contains("BroadcastHashJoin"),
        s"$name: stats no longer pick broadcast for the dim join:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("q5: dims broadcast through AQE, no sort-merge demotion (r10 regime-note pin)") {
    // the r10 driver run put q5 at 4.9x its anchor; the local antagonist
    // repro (BASELINE.md r11 note) attributes that to a contended host
    // window, not a plan change — this executed-plan pin keeps the plan
    // leg of that attribution checkable without a rerun
    val df = AnalyticsQueries.queries("q5_local_supplier")(spark, sf)
    df.collect()
    val fin = planOf(df)
    assert(fin.contains("BroadcastHashJoin"), s"q5 dims not broadcast:\n$fin")
    assert(!fin.contains("SortMergeJoin"),
      s"AQE demoted a q5 dim join to sort-merge:\n$fin")
    assert(!fin.contains("CartesianProduct"), fin)
  }

  test("f3 loudness: one broadcast dim join, pure codegen expressions, no shuffle (r10 regime-note pin)") {
    val p = planOf(ScalarQueries.queries("f3_loudness_gain")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"formats dim not broadcast:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF crept into the loudness math:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"loudness chain must not shuffle (sort excepted):\n$p")
  }

  test("f14 stale failures: rank-1 view gets WindowGroupLimit; one window shuffle only (r10 regime-note pin)") {
    val p = planOf(StatusQueries.queries("f14_stale_failures")(spark, sf))
    // latest-per-job must rank-limit inside partitions before the shuffle
    assert(p.contains("WindowGroupLimit"),
      s"rank-1 filter not pushed into the window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than the one window shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("d4/d10 verify: pure arithmetic over the checkpointed shared-counts base — no join in the plan") {
    // the r8 driver bench caught d10 re-deriving the cands⋈shingles⋈shingles
    // chain live (7.4x baseline). Post-fix, BOTH verify queries must plan
    // as scan + project + sort over the shared parquet checkpoint: a Join
    // node reappearing here IS that regression.
    for (name <- Seq("d4_jaccard_verify", "d10_containment")) {
      val p = planOf(TextQueries.queries(name)(spark, sf))
      assert(!p.contains("Join"), s"$name re-derives the shared base:\n$p")
      assert(p.contains("Scan parquet"), s"$name not reading the checkpoint:\n$p")
    }
  }

  test("v11/v12: per-row quantizer assignment, no pairwise surface, window shuffles only") {
    // the whole point of centroid-distance pruning/sampling vs v8's
    // within-cell pairs: O(N) plans. The quantizer rides in the
    // assignment's projection (nearestCell), so v11 plans with no join at
    // all and v12's only join is its broadcast 1-row budget — never a
    // corpus self-join
    for (name <- Seq("v11_prototype_prune", "v12_balanced_sample")) {
      val p = planOf(graft.queries.VectorQueries.queries(name)(TestSpark.spark, sf))
      if (name == "v11_prototype_prune")
        assert(!p.contains("Join"), s"$name: a join crept into the assignment:\n$p")
      else
        assert(p.contains("BroadcastExchange"), s"$name: budget not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name: a corpus-sized join crept in:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("v16_cell_balance: the k=1 assignment plans with no join and no exchange") {
    // the quantizer is local rows, so assigning every vector its nearest
    // cell needs no join surface at all: one projection over the scan
    val p = planOf(VectorQueries.assignCells(VectorQueries.quantizerRows(spark, sf),
      graft.plans.Tables.table(spark, sf, "embeddings"), 1).select("vec_id", "cell"))
    assert(!p.contains("Join"), s"assignment joins:\n$p")
    assert(!p.contains("Exchange"), s"assignment broadcasts or shuffles:\n$p")
  }

  test("v13/v14: probe/benchmark sides broadcast, no cartesian surface") {
    // v13's label filter and v14's benchmark slice must stay on the small
    // (broadcast) side of their joins — the corpus side streams through.
    // (BroadcastNestedLoopJoin IS expected: the k=nprobe query
    // assignment pairs the queries with the broadcast 8-row quantizer,
    // unconditioned by design.)
    for (name <- Seq("v13_filtered_ann", "v14_semantic_decontam")) {
      val p = planOf(graft.queries.VectorQueries.queries(name)(TestSpark.spark, sf))
      assert(p.contains("BroadcastExchange"),
        s"$name: small side not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$name: unbounded join surface:\n$p")
      // v14's final flagged-set left join is left to AQE on purpose (the
      // hit set's cardinality is derived — the v8 pattern), so only v13
      // pins the no-sort-merge property statically
      if (name == "v13_filtered_ann")
        assert(!p.contains("SortMergeJoin"),
          s"$name: a corpus-sized sort-merge crept in at fixture scale:\n$p")
    }
  }

  test("x_shuffle_shards: one shard-keyed exchange feeds the rank window, no cartesian") {
    // the scale contract: the shuffle layout costs exactly the physical
    // motion shuffled shard-writing needs — ONE hash exchange on `shard`
    // into the per-shard rank window; more windows or an all-pairs
    // surface means the permutation went global
    val p = planOf(ExportQueries.queries("x_shuffle_shards")(spark, sf))
    assert(p.contains("hashpartitioning(shard"),
      s"no shard-keyed exchange:\n$p")
    assert("Window \\(".r.findAllIn(p).size == 1,
      s"expected exactly the rank window:\n$p")
    // two exchanges TOTAL: the shard hash partition + the presentation
    // range sort — a third means a composed base's embedded orderBy got
    // dragged in (the t12CleanUnordered fix)
    assert("Exchange \\(".r.findAllIn(p).size == 2,
      s"expected exactly 2 exchanges (shard hash + output sort):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_train_val_split: leakage eviction is complete and one-sided") {
    // functional pin of the op's whole point: after the split, NO train
    // doc shares a fingerprint with a val doc and NO verified near-dup
    // pair crosses train->val; and eviction is one-sided (every leak doc
    // would have been train — the val side never shrinks)
    val df = ExportQueries.queries("x_train_val_split")(spark, sf)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.valuesIterator.contains("leak"),
      "fixture must plant at least one cross-split duplicate")
    val fps = graft.queries.TextQueries.queries("t4_fingerprint")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val valFps = fps.collect { case (id, fp) if rows(id) == "val" => fp }.toSet
    fps.foreach { case (id, fp) =>
      if (rows(id) == "train")
        assert(!valFps(fp), s"train doc $id shares a fingerprint with val")
    }
    // d4 IS the verified Jaccard>=0.5 pair set
    val pairs = graft.queries.TextQueries.queries("d4_jaccard_verify")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(!(rows(a) == "train" && rows(b) == "val") &&
        !(rows(a) == "val" && rows(b) == "train"),
        s"near-dup pair ($a,$b) crosses the split: ${rows(a)}/${rows(b)}")
    }
  }

  test("t18: the shingle-frequency join is an explicit shuffled-hash join, never a broadcast") {
    // r19 optimization round (VERDICT r18 task 1): BOTH sides of the
    // occ ⋈ docCount join are corpus-proportional (exploded shingle
    // positions / distinct vocabulary) — neither is broadcastable by
    // contract at 100 TB, so the scale-safe shape is pinned explicitly
    // instead of left to fixture statistics, which used to pick a
    // corpus-proportional BroadcastExchange here.
    val p = planOf(TextQueries.queries("t18_dup_ngram_frac")(spark, sf))
    assert(p.contains("ShuffledHashJoin"),
      s"shingle join not the hinted shuffled-hash shape:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a corpus-proportional side got broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"one-row-per-key build side got sorted:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }
}
