package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skewed-fixture SCALING measurement (r16 verdict stretch task 7 — the
  * ProbeScale discipline applied to hot-key skew).
  *
  * Every per-source operator in the repo (t22 source mix, t29 domain
  * cap, t30 sequence pack, the ingest cap) documents "skewed domains are
  * why the cap exists; the salting/AQE-skew toolbox applies" — argued
  * from plan shape, never measured, because the generated fixtures carry
  * the template's UNIFORM src0–src19 mix. This main measures the claim
  * on a [[GenData]] `skewedSource` fixture (≈47% of docs in one hot
  * source, power-law tail — the real-crawl shape):
  *
  *  1. the three per-source-window operators, uniform vs skewed dir
  *     (same row counts, same toks base shape — only the partition-key
  *     histogram differs), 3-rep medians;
  *  2. a forced SortMergeJoin on the skewed source key (broadcast
  *     disabled — the shape a too-big-to-broadcast dimension forces at
  *     100 TB) with AQE skew-join splitting ON vs OFF, thresholds
  *     lowered to fixture scale (the defaults trigger at 256 MB
  *     partitions); reports both times and whether the executed plan
  *     actually shows the skew split, so the "covered by AQE" IOU is a
  *     measured yes/no;
  *  3. the aggregation-skew leg: naive groupBy(source) vs
  *     [[graft.plans.ScaleTechniques.saltedSumCount]] on the hot key —
  *     at fixture scale partial aggregation absorbs sum/count skew (the
  *     expected null result, worth recording), salting matters for
  *     per-key state too big to partial-combine.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.SkewProbe <uniformDir>
  * <skewDir>. Prints ONE JSON line with per-leg seconds and the skew
  * evidence; BASELINE.md's SCALING section records the read.
  */
object SkewProbe {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val uniformDir = args.headOption.getOrElse("target/sf1")
    val skewDir = args.lift(1).getOrElse("target/sf1skew")
    val spark = LocalSession()

    def timeMedian(reps: Int)(body: => Unit): Double =
      median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      })

    // the fixture's skew statistic: token-weighted share of the hottest
    // source (tokens, not docs — the window/window-sum cost driver)
    def hotShare(dir: String): Double = {
      val bySrc = spark.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("w"))
        .agg(max(col("w")).as("hot"), sum(col("w")).as("tot"))
        .collect()(0)
      bySrc.getLong(0).toDouble / bySrc.getLong(1).toDouble
    }

    // leg 1: the per-source-window operators on each dir. The toks/fps
    // bases build per dir (content-stamped snapshots); warm them as
    // their own attributable number, the Bench discipline.
    val opNames = Seq("t22_source_mix", "t29_domain_cap", "t30_sequence_pack")
    def ops(dir: String): (Double, Map[String, Double]) = {
      val warm = timeMedian(1) {
        graft.queries.TextQueries.warmShared(spark, dir)
      }
      val times = opNames.map { n =>
        n -> timeMedian(3) {
          graft.queries.TextQueries.queries(n)(spark, dir).count(); ()
        }
      }.toMap
      graft.queries.TextQueries.releaseCaches()
      (warm, times)
    }

    // leg 2: forced SMJ on the skewed key, AQE skew split on vs off.
    // Fact = the token-exploded corpus keyed by source (~55× doc rows;
    // the hot source's shuffle partition carries ~47% of them — the
    // one-straggler-task shape), dim = one row per source, broadcast
    // DISABLED (the too-big-to-broadcast dimension a 100 TB run faces),
    // output 1:1 with fact. AQE's OptimizeSkewedJoin can only act on the
    // shuffle read feeding the SMJ; thresholds lowered to fixture bytes
    // (defaults trigger at 256 MB partitions). Detection greps the
    // EXECUTED plan for the literal `skew=true` marker — `skew` alone
    // also matches the `skew=false` SMJ annotation. */
    def skewJoin(dir: String, skewOn: Boolean): (Double, Boolean) = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // debugging knobs for the probe itself (never set in the recorded
      // run unless stated next to the number)
      sys.env.get("SPARK_GRAFT_SKEW_FACTOR").foreach(f =>
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", f))
      if (sys.env.contains("SPARK_GRAFT_SKEW_FORCE"))
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      try {
        // the frame is REBUILT inside every rep: repeated collect() on
        // one DataFrame instance resubmits the same RDD DAG and the
        // scheduler skips stages whose shuffle outputs survive — reps
        // 2–3 would measure stage-skip, not the join
        def joined = {
          // token explode (~55× docs) then a 4× fanout: ~11 M fact rows,
          // so the hot source's partition (~5 M rows, ~45 MB of shuffle)
          // costs a visible straggler where the uniform histogram spreads
          // the same rows ~350 k per partition. The round-robin
          // repartition BEFORE the explode matters twice: it spreads the
          // map work (the sf1 table is one parquet row group = one map
          // task), and — the part that took a debug log to learn — skew
          // SPLITTING is by mapper-chunk granularity, so a hot reduce
          // partition fed by a single mapper is atomic and
          // OptimizeSkewedJoin reports it unsplittable (left 0) even
          // though the size test flags it; with 32 mappers each
          // contributes ~1.4 MB chunks and the 45 MB partition splits.
          // A real cluster always has many mappers — the single-mapper
          // shape was the fixture's artifact, not a scale truth.
          val fact = spark.read.parquet(s"$dir/documents.parquet")
            .select(col("source"), col("text"))
            .repartition(32)
            .select(col("source"),
              explode(split(col("text"), " ")).as("token"))
            .withColumn("rep", explode(array((0 until 4).map(lit): _*)))
          val dim = spark.range(0, 20).select(
            concat(lit("src"), col("id").cast("string")).as("source"),
            (col("id") * 37 % 1000).as("payload"))
          fact.join(dim, "source")
            .agg(count(lit(1)).as("n"),
              sum(col("payload") * (length(col("token")) + col("rep"))).as("s"))
        }
        if (sys.env.contains("SPARK_GRAFT_SKEW_LOGDEBUG") && skewOn)
          spark.sparkContext.setLogLevel("DEBUG")
        var sawSkew = false
        val t = timeMedian(3) {
          val df = joined
          df.collect()
          if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG"))
            System.err.println(s"[skewprobe] $dir skewOn=$skewOn plan:\n" +
              df.queryExecution.executedPlan.toString)
          sawSkew = sawSkew ||
            df.queryExecution.executedPlan.toString.contains("skew=true")
        }
        if (sys.env.contains("SPARK_GRAFT_SKEW_LOGDEBUG"))
          spark.sparkContext.setLogLevel("WARN")
        (t, sawSkew)
      } finally {
        Seq("spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.coalescePartitions.enabled",
          // debug knobs (env-gated above) — unset unconditionally so a
          // debug run's settings never leak into the aggregation leg or
          // later session use (r17 advice)
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.forceOptimizeSkewedJoin")
          .foreach(spark.conf.unset)
      }
    }

    // leg 3: aggregation skew — naive vs salted on the hot key
    def aggLeg(dir: String): (Double, Double) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val naive = timeMedian(3) {
        docs.groupBy(col("source"))
          .agg(sum(col("n_chars")).as("sum_value"), count(lit(1)).as("n"))
          .collect(); ()
      }
      val salted = timeMedian(3) {
        graft.plans.ScaleTechniques
          .saltedSumCount(docs, "source", "n_chars", 32).collect(); ()
      }
      (naive, salted)
    }

    // leg 4 (r18, the r17 verdict's "pin AQE's skew recovery on a real
    // engine query" task, resolved honestly): t29's FULL per-source
    // ranking is the one real-query shape the AQE/salting toolbox CANNOT
    // recover — no rank<=k filter for WindowGroupLimit, and skew
    // splitting acts on join shuffle reads, never window partitions — so
    // the measured lever is the range-sorted rank rewrite
    // ([[graft.plans.ScaleTechniques.rangeSortedRank]], equivalence
    // pinned in ScaleSpec): hash-window vs range-rank over the REAL t29
    // input on both key histograms. sum(cap_rank) as the action so
    // column pruning can never drop the window under a count.
    def rankLeg(dir: String): (Double, Double) = {
      val in = graft.queries.TextQueries.t29Input(spark, dir)
      import org.apache.spark.sql.expressions.Window
      val winT = timeMedian(3) {
        in.withColumn("cap_rank",
            row_number().over(Window.partitionBy(col("source"))
              .orderBy(col("priority"), col("doc_id"))).cast("bigint"))
          .agg(sum(col("cap_rank"))).collect(); ()
      }
      val rangeT = timeMedian(3) {
        graft.plans.ScaleTechniques.rangeSortedRank(
            in, "source", Seq("priority", "doc_id"), "cap_rank")
          .agg(sum(col("cap_rank"))).collect(); ()
      }
      (winT, rangeT)
    }

    // the CROSSOVER leg: at sf1 the hot source's window partition sorts
    // in well under a second, so the range-rank's two passes cannot pay —
    // amplify the same skewed universe `amp`x (unique ids, priorities
    // remixed) until the single-task sort is the visible straggler the
    // rewrite exists to remove. The pair of reads (sf1: rewrite loses;
    // amplified: rewrite wins) IS the result — it bounds the crossover
    // instead of asserting "use at scale".
    def ampRankLeg(dir: String, amp: Int): (Double, Double) = {
      val in = graft.queries.TextQueries.t29Input(spark, dir)
        .withColumn("rep", explode(array((0 until amp).map(lit): _*)))
        .select((col("doc_id") * amp + col("rep")).as("doc_id"),
          col("source"),
          (col("priority") * 31 + col("rep") * 1048573L).cast("bigint")
            .as("priority"))
      import org.apache.spark.sql.expressions.Window
      val winT = timeMedian(3) {
        in.withColumn("cap_rank",
            row_number().over(Window.partitionBy(col("source"))
              .orderBy(col("priority"), col("doc_id"))).cast("bigint"))
          .agg(sum(col("cap_rank"))).collect(); ()
      }
      val rangeT = timeMedian(3) {
        graft.plans.ScaleTechniques.rangeSortedRank(
            in, "source", Seq("priority", "doc_id"), "cap_rank")
          .agg(sum(col("cap_rank"))).collect(); ()
      }
      (winT, rangeT)
    }

    val (hotU, hotS) = (hotShare(uniformDir), hotShare(skewDir))
    // discarded first pass: the first window/agg queries in a fresh JVM
    // pay codegen + snapshot-load, which would otherwise all land on
    // whichever dir runs first and confound the uniform-vs-skew read
    ops(uniformDir)
    val (warmU, opsU) = ops(uniformDir)
    val (warmS, opsS) = ops(skewDir)
    val (jOffU, _) = skewJoin(uniformDir, skewOn = false)
    val (jOffS, sawOffS) = skewJoin(skewDir, skewOn = false)
    val (jOnS, sawOnS) = skewJoin(skewDir, skewOn = true)
    val (aggNaive, aggSalted) = aggLeg(skewDir)
    val (rankWinU, rankRangeU) = rankLeg(uniformDir)
    val (rankWinS, rankRangeS) = rankLeg(skewDir)
    val rankAmp = sys.env.getOrElse("SPARK_GRAFT_RANK_AMP", "16").toInt
    val (ampWinS, ampRangeS) = ampRankLeg(skewDir, rankAmp)

    import JsonText.q
    def f3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val opsJson = opNames.map { n =>
      s"${q(n)}:{" + s""""uniform":${f3(opsU(n))},"skew":${f3(opsS(n))}}"""
    }.mkString("{", ",", "}")
    println(
      s"""{"hot_share_uniform":${f3(hotU)},"hot_share_skew":${f3(hotS)},""" +
        s""""warm_uniform":${f3(warmU)},"warm_skew":${f3(warmS)},""" +
        s""""ops":$opsJson,""" +
        s""""smj_uniform_skewjoin_off":${f3(jOffU)},""" +
        s""""smj_skew_skewjoin_off":${f3(jOffS)},""" +
        s""""smj_skew_skewjoin_on":${f3(jOnS)},""" +
        s""""plan_shows_skew_split_on":$sawOnS,"plan_shows_skew_split_off":$sawOffS,""" +
        s""""agg_skew_naive":${f3(aggNaive)},"agg_skew_salted":${f3(aggSalted)},""" +
        s""""rank_window_uniform":${f3(rankWinU)},"rank_range_uniform":${f3(rankRangeU)},""" +
        s""""rank_window_skew":${f3(rankWinS)},"rank_range_skew":${f3(rankRangeS)},""" +
        s""""rank_amp":$rankAmp,""" +
        s""""rank_window_skew_amp":${f3(ampWinS)},"rank_range_skew_amp":${f3(ampRangeS)}}""")
    spark.stop()
  }
}
