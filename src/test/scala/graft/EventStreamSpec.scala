package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class EventStreamSpec extends AnyFunSuite {
  import TestSpark._

  private case class Ev(ts: Timestamp, event_type: String, user_id: Long, value: Double)
  private def t(minutes: Long) = new Timestamp(1756684800000L + minutes * 60000L)

  test("watermarked hourly rollup finalizes a window only after the watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Long, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "user_id", "value")
    val q = EventStream.hourlyRollup(df).writeStream
      .format("memory").queryName("hourly").outputMode("append").start()
    // two events in hour 0, then an event far enough ahead to advance the
    // watermark (90 min lateness) past hour-0's end
    ms.addData((t(5), "view", 1L, 1.0), (t(20), "view", 2L, 2.0))
    q.processAllAvailable()
    assert(spark.table("hourly").count() == 0, "window emitted before watermark")
    ms.addData((t(120), "view", 1L, 5.0))
    q.processAllAvailable()
    val rows = spark.table("hourly").collect()
    assert(rows.length == 1, rows.mkString(";"))
    assert(rows(0).getAs[Long]("n_events") == 2)
    assert(rows(0).getAs[java.math.BigDecimal]("sum_value").doubleValue() == 3.0)
    q.stop()
  }

  test("hourly sketched uniques finalize per watermark and agree with exact at fixture cardinality") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Long, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "user_id", "value")
    val q = EventStream.hourlyUniques(df).writeStream
      .format("memory").queryName("huniq").outputMode("append").start()
    // hour 0: users 1,2,2,3 → 3 uniques over 4 events
    ms.addData((t(5), "view", 1L, 1.0), (t(10), "view", 2L, 1.0),
      (t(20), "click", 2L, 1.0), (t(40), "view", 3L, 1.0))
    q.processAllAvailable()
    assert(spark.table("huniq").count() == 0, "window emitted before watermark")
    ms.addData((t(120), "view", 9L, 1.0)) // advance watermark past hour 0
    q.processAllAvailable()
    val rows = spark.table("huniq").collect()
    assert(rows.length == 1, rows.mkString(";"))
    // HLL++ is exact at this cardinality; a drifting estimate here means
    // the sketch (or the grouping) broke, not that the error bound moved
    assert(rows(0).getAs[Long]("approx_users") == 3L, rows(0).toString)
    assert(rows(0).getAs[Long]("n_events") == 4L)
    q.stop()
  }

  test("streaming dedup drops same-fingerprint docs across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val df = ms.toDF().toDF("ts", "doc_id", "text")
    val q = EventStream.dedupByFingerprint(df).writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    ms.addData((t(0), 1L, "hello world"), (t(1), 2L, "HELLO   world"), (t(2), 3L, "other"))
    q.processAllAvailable()
    // normalization folds case+whitespace: doc 2 is a dup of doc 1
    assert(spark.table("deduped").select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L)))
    ms.addData((t(5), 4L, "hello world"), (t(6), 5L, "fresh"))
    q.processAllAvailable()
    // state persists across batches within the horizon: doc 4 still a dup
    assert(spark.table("deduped").select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L, 5L)))
    // advance the watermark past doc 1's horizon (1 h lateness): its
    // fingerprint state is EVICTED — bounded state is the point of
    // dropDuplicatesWithinWatermark — so a cross-horizon recurrence
    // re-emits (the documented batch-compaction seam)
    ms.addData((t(130), 6L, "watermark mover"))
    q.processAllAvailable()
    ms.addData((t(131), 7L, "hello world"))
    q.processAllAvailable()
    assert(spark.table("deduped").select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L, 5L, 6L, 7L)),
      "cross-horizon duplicate must re-emit after state eviction")
    q.stop()
  }

  /** Runs `body` under the RocksDB state store provider, the
    * transformWithState contract, then restores the session's own. */
  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** Drains everything fed so far through the bare budget gate and appends
    * the kept doc_ids to `out`. transformWithState in processing-time mode
    * never quiesces under a continuous trigger (processAllAvailable would
    * wait forever — the latestStatusTws lesson), so each stage runs an
    * AvailableNow query over ONE shared checkpoint: state carries across
    * the restarts, which doubles as the recovery pin. */
  private def drainCap(docs: org.apache.spark.sql.Dataset[EventStream.CapDoc],
      ckpt: String, ttl: java.time.Duration,
      out: scala.collection.mutable.ArrayBuffer[Long])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = EventStream.domainCapAtIngestTws(docs, cap = 2, ttl = ttl).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventStream.CapDoc], _: Long) =>
          val ids = b.collect().map(_.doc_id)
          out.synchronized { out ++= ids }
          ()
      }
      .start()
    TestSpark.drainAndStop(q, 120000)
    q
  }

  test("streaming domain-budget gate: first-arrived-first-kept across batches, one counter per source") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[(Long, String)]
      val docs = ms.toDF().toDF("doc_id", "source").as[EventStream.CapDoc]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cap-budget").toString
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      // one drain per batch; a week's TTL cannot expire mid-test
      def drain() = drainCap(docs, ckpt, java.time.Duration.ofDays(7), out)
      def kept() = out.synchronized(out.sorted.toSeq)
      // batch 1: srcA over budget within one batch (doc_id order breaks the
      // tie), srcB exactly at budget
      ms.addData((3L, "srcA"), (1L, "srcA"), (2L, "srcA"), (10L, "srcB"), (11L, "srcB"))
      drain()
      assert(kept() == Seq(1L, 2L, 10L, 11L), s"got ${kept()}")
      // batch 2: both sources exhausted -> all die; a NEW source starts fresh
      ms.addData((4L, "srcA"), (12L, "srcB"), (20L, "srcC"))
      val q = drain()
      assert(kept() == Seq(1L, 2L, 10L, 11L, 20L), s"got ${kept()}")
      // in-order-feed parity with the batch arrival-order cap: the stream's
      // keep set equals row_number over (partition by source order by
      // doc_id) <= cap over everything fed — the documented online twin of
      // t29's offline hash-priority cap
      val fed = Seq((3L, "srcA"), (1L, "srcA"), (2L, "srcA"), (10L, "srcB"),
        (11L, "srcB"), (4L, "srcA"), (12L, "srcB"), (20L, "srcC"))
        .toDF("doc_id", "source")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
      val batchTwin = fed
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"rk" <= 2).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(kept() == batchTwin, s"stream ${kept()} != batch twin $batchTwin")
      // state is one Long per source ever seen
      assert(q.lastProgress.stateOperators.nonEmpty &&
        q.lastProgress.stateOperators.head.numRowsTotal == 3,
        "budget state must be exactly one counter per source")
    }
  }

  test("domain cap on transformWithState: within-horizon parity, budget resets after TTL expiry") {
    // r12 verdict task 4: inside the horizon the TTL'd budget binds
    // first-arrived-first-kept, and a source idle past the TTL frees its
    // ledger — budget RESETS, the documented aging semantics.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[(Long, String)]
      val docs = ms.toDF().toDF("doc_id", "source").as[EventStream.CapDoc]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cap-tws").toString
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      // TTL sizing: the within-horizon stage drains two micro-batches
      // under one AvailableNow query, and the ledger must NOT expire
      // between them — a too-tight TTL races micro-batch scheduling on a
      // loaded host (RocksDB init or a GC pause between the batches would
      // expire srcA mid-drain and keep 4L). 10 s dwarfs any plausible
      // intra-drain gap while keeping the expiry stage's sleep bounded.
      val ttl = java.time.Duration.ofSeconds(10)
      def drain(): Unit = drainCap(docs, ckpt, ttl, out)
      def kept() = out.synchronized(out.sorted.toSeq)
      // within the horizon: the budget test's feed (batches 1+2 in
      // one drain — the drain-to-drain gap includes query startup, which
      // must not eat into the deliberately-short test TTL), identical
      // keeps: srcA capped at {1,2} with 4L losing, srcB at budget, srcC
      // fresh
      ms.addData((3L, "srcA"), (1L, "srcA"), (2L, "srcA"), (10L, "srcB"), (11L, "srcB"))
      ms.addData((4L, "srcA"), (20L, "srcC"))
      drain()
      assert(kept() == Seq(1L, 2L, 10L, 11L, 20L),
        s"within the horizon the budget binds; got ${kept()}")
      // idle past the TTL (srcA's ledger last updated in stage 1): the
      // expired ledger reads as absent, so a fresh budget opens — and the
      // cap immediately re-binds within it (3 arrivals, 2 kept)
      Thread.sleep(ttl.toMillis + 500)
      ms.addData((5L, "srcA"), (7L, "srcA"), (6L, "srcA"))
      drain()
      assert(kept() == Seq(1L, 2L, 5L, 6L, 10L, 11L, 20L),
        s"expired source must start a fresh, still-capped budget; got ${kept()}")
    }
  }

  test("stream-static anti-join drops arrivals already in the corpus, keeps zero state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    // the "historical corpus": fingerprints of two known documents,
    // computed through the SAME shared Fingerprint column as the stream
    val corpus = Seq("hello world", "known doc").toDF("text")
      .select(graft.ops.Fingerprint.col(org.apache.spark.sql.functions.col("text")).as("fp"))
    // survivors keep the INPUT schema: fp is the join key, not output —
    // downstream consumers must not see the fingerprint implementation
    assert(EventStream.dedupAgainstCorpus(df, corpus).schema.fieldNames
      .sameElements(df.schema.fieldNames))
    val q = EventStream.dedupAgainstCorpus(df, corpus).writeStream
      .format("memory").queryName("vscorpus").outputMode("append").start()
    // doc 2 normalizes onto a corpus fingerprint (case+whitespace fold);
    // docs 1 and 3 are novel
    ms.addData((1L, "fresh text"), (2L, "HELLO   world"), (3L, "another fresh"))
    q.processAllAvailable()
    assert(spark.table("vscorpus").select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L)))
    // a second batch keeps filtering against the static side — and unlike
    // dropDuplicatesWithinWatermark there is NO horizon: corpus membership
    // never expires
    ms.addData((4L, "known doc"), (5L, "fresh again"))
    q.processAllAvailable()
    assert(spark.table("vscorpus").select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L, 5L)))
    // stateless on the stream side: the anti-join keeps no streaming state
    assert(q.lastProgress.stateOperators.isEmpty,
      "stream-static anti-join must not create streaming state")
    q.stop()
  }

  test("streaming ingest sampling matches the batch mix exactly and keeps zero state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "lang")
    val q = EventStream.sampleMixAtIngest(df).writeStream
      .format("memory").queryName("mixed").outputMode("append").start()
    val docs = (0L until 200L).map(id =>
      (id, Seq("en", "de", "es", "fr", "zh", "xx")((id % 6).toInt)))
    ms.addData(docs: _*)
    q.processAllAvailable()
    val got = spark.table("mixed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // ground truth recomputed locally: salted md5 slice vs the same
    // thresholds, epochs 1..n — the batch t9 definition
    val weights = Map("en" -> (1L << 31, 1), "de" -> (3L << 30, 2),
      "es" -> (1L << 30, 1), "fr" -> (1L << 30, 2), "zh" -> (1L << 29, 1))
    def slice(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8")).take(4)
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val want = (for {
      (id, lang) <- docs
      (thr, epochs) <- weights.get(lang).toSeq
      if slice(id) < thr
      e <- 1 to epochs
    } yield (id, lang, e.toLong)).toSet
    assert(want.nonEmpty, "fixture must sample at least one doc")
    assert(got == want, "stream output must equal the batch mix definition")
    // stateless: no state store operator anywhere in the streaming plan —
    // this is what lets the sampler run at ingest line rate
    assert(q.lastProgress.stateOperators.isEmpty,
      "ingest sampling must not create streaming state")
    q.stop()
  }

  test("streaming split assignment matches the batch hash rule exactly and keeps zero state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Long]
    val df = ms.toDF().toDF("doc_id")
    val q = EventStream.assignSplitAtIngest(df).writeStream
      .format("memory").queryName("splitted").outputMode("append").start()
    ms.addData(0L until 300L: _*)
    q.processAllAvailable()
    val got = spark.table("splitted").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // ground truth recomputed locally: the x_train_val_split assignment
    def side(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:7|$id".getBytes("UTF-8")).take(4)
        .map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 100 < 10) "val" else "train"
    }
    (0L until 300L).foreach(id =>
      assert(got(id) == side(id), s"doc $id: ${got(id)} != ${side(id)}"))
    assert(got.valuesIterator.contains("val") &&
      got.valuesIterator.contains("train"), "both sides must occur")
    assert(q.lastProgress.stateOperators.isEmpty,
      "split assignment must not create streaming state")
    q.stop()
  }

  test("streaming ingest quality gate matches an independent rule recompute, keeps zero state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    // survivors keep the input schema: the gate is a pure filter
    assert(EventStream.filterQualityAtIngest(df).schema == df.schema)
    val q = EventStream.filterQualityAtIngest(df).writeStream
      .format("memory").queryName("qgate").outputMode("append").start()
    val docs = Seq(
      // passes every rule: 40 words, two+ distinct stopwords, clean text
      (1L, Array.fill(4)("the cat sat on a mat and looked around quietly").mkString(" ")),
      (2L, "too short to pass"), // fails the word-count floor
      // fails the stopword gate: 40 words, none from the common set
      (3L, Array.fill(5)("zebra quokka wombat lemur gecko koala panda otter").mkString(" ")),
      // fails the symbol rule: same passing text but ## per word
      (4L, Array.fill(4)("the## cat## sat on a mat and looked around quietly").mkString(" ")))
    ms.addData(docs: _*)
    q.processAllAvailable()
    val got = spark.table("qgate").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // ground truth recomputed in pure Scala — an INDEPENDENT
    // implementation of the published rules, so a drifted column
    // definition cannot hide behind a shared-definition tautology
    def keep(text: String): Boolean = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val n = toks.length.toLong
      def micro(x: Double): Long = math.floor(x * 1e6 / math.max(n, 1L)).toLong
      val mean = micro(toks.map(_.length).sum.toDouble)
      val alpha = micro(toks.count(_.exists(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toDouble)
      val sym = micro("#|\\.\\.\\.".r.findAllIn(text).size.toDouble)
      val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on")
        .count(toks.contains)
      n >= 30L && n <= 10000L && mean >= 3000000L && mean <= 10000000L &&
        alpha >= 800000L && sym < 100000L && stops >= 2
    }
    val want = docs.filter(d => keep(d._2)).map(_._1).toSet
    assert(want == Set(1L), s"fixture docs must exercise both outcomes: $want")
    assert(got == want, "stream keeps must equal the rule recompute")
    assert(q.lastProgress.stateOperators.isEmpty,
      "ingest quality gate must not create streaming state")
    q.stop()
  }

  test("per-row band keys equal the batch signature chain exactly over the fixture corpus") {
    import org.apache.spark.sql.functions._
    import graft.queries.TextQueries
    // the zero-shuffle per-row form must produce the SAME (doc_id, band,
    // bkey) set as the explode+groupBy chain — this is what licenses the
    // streaming gate to claim d3's collision semantics
    val viaChain = TextQueries.corpusBandTable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val perRow = TextQueries.corpus(spark, sf)
      .select(col("doc_id"), posexplode(TextQueries.bandKeysCol(col("text"))))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaChain.nonEmpty)
    assert(perRow == viaChain,
      s"per-row band keys diverge from the batch chain " +
        s"(only-per-row=${(perRow -- viaChain).size}, only-chain=${(viaChain -- perRow).size})")
  }

  test("streaming near-dup ingest gate drops band-colliding arrivals, keeps zero state") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.TextQueries
    implicit val sq = spark.sqlContext
    val corpusBands = TextQueries.corpusBandTable(spark, sf)
    val corpusKeySet = corpusBands.select("band", "bkey").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // arrivals: an exact copy of a corpus doc (all bands collide), its
    // drop-first-word near-dup (the planted-mutant shape), a novel doc,
    // and one too short to shingle (no evidence -> passes)
    val srcText = TextQueries.corpus(spark, sf)
      .filter(col("doc_id") === 0L).select("text").first().getString(0)
    val docs = Seq(
      (1L, srcText),
      (2L, srcText.split("\\s+", 2).last),
      (3L, "quokka wombat lemur gecko koala otter capsicum dirigible forty"),
      (4L, "too short"))
    // ground truth from the SAME per-row keys (parity with the batch
    // chain is pinned above): keep iff no band key hits the corpus set
    val expectKeep = docs.toDF("doc_id", "text")
      .select(col("doc_id"), TextQueries.bandKeysCol(col("text")).as("bks"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter { case (_, ks) =>
        ks.zipWithIndex.forall { case (k, b) => !corpusKeySet((b, k)) } }
      .map(_._1).toSet
    // the fixture must exercise both outcomes, and the exact copy of a
    // corpus document can never pass
    assert(!expectKeep(1L) && expectKeep(3L) && expectKeep(4L), s"got $expectKeep")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    // survivors keep the input schema: band keys are gate internals
    assert(EventStream.nearDupGateAtIngest(df, corpusBands).schema.fieldNames
      .sameElements(df.schema.fieldNames))
    val q = EventStream.nearDupGateAtIngest(df, corpusBands).writeStream
      .format("memory").queryName("ndgate").outputMode("append").start()
    ms.addData(docs: _*)
    q.processAllAvailable()
    val got = spark.table("ndgate").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == expectKeep, s"stream kept $got, expected $expectKeep")
    // stateless: per-row banding + stream-static anti joins keep no state
    assert(q.lastProgress.stateOperators.isEmpty,
      "near-dup ingest gate must not create streaming state")
    q.stop()
  }

  test("DSIR bucket weights train once per dir: a repeat call returns the same instance") {
    import graft.queries.TextQueries
    assert(TextQueries.dsirBucketWeights(spark, sf) eq TextQueries.dsirBucketWeights(spark, sf))
  }

  test("DSIR bucket weights: releaseCaches lets a dir grown in place recount its corpus") {
    import org.apache.spark.sql.functions.col
    import graft.queries.TextQueries
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir-grown").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/documents.parquet")
    val before = TextQueries.dsirBucketWeights(spark, dir)
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    graft.plans.Tables.invalidate(s"$dir/documents.parquet")
    graft.plans.Snapshot.dropStale(dir)
    TextQueries.releaseCaches()
    val after = TextQueries.dsirBucketWeights(spark, dir)
    val kept = after eq before
    assert(!kept, "releaseCaches kept the weights of the corpus as first read")
    // the reference: a fresh dir holding the grown corpus from the start
    val fresh = java.nio.file.Files.createTempDirectory("graft-dsir-fresh").toString
    spark.read.parquet(s"$dir/documents.parquet").write.parquet(s"$fresh/documents.parquet")
    assert(after.sameElements(TextQueries.dsirBucketWeights(spark, fresh)))
    assert(!after.sameElements(before), "the grown corpus must count differently")
  }

  test("streaming DSIR scoring equals batch t26 per doc; novel-token and NULL contracts hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.TextQueries
    implicit val sq = spark.sqlContext
    val weights = TextQueries.dsirBucketWeights(spark, sf)
    // the model is size-independent: exactly B longs, whatever the corpus
    assert(weights.length == TextQueries.DsirBuckets)
    // batch truth over the full fixture corpus (the BUCKETED variant —
    // stream and batch share the bucket space by construction)
    val want = TextQueries.queries("t26_dsir_bucketed")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // stream the same docs (plus a novel-token doc and a NULL-text doc,
    // the two legs batch t26 cannot exercise) through the gate
    val corpusDocs = TextQueries.corpus(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val novel = (9000001L, "quokka wombat dirigible")
    val nullDoc = (9000002L, null: String)
    // independent pure-JVM twin of the token→bucket map (MessageDigest,
    // no Spark expression shared with the implementation under test)
    def bucketOf(token: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(token.getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (v % TextQueries.DsirBuckets).toInt
    }
    val novelUnits = novel._2.split("\\s+").map(t => weights(bucketOf(t))).sum
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val q = EventStream.scoreImportanceAtIngest(df, weights).writeStream
      .format("memory").queryName("dsirgate").outputMode("append").start()
    ms.addData(corpusDocs.toSeq :+ novel :+ nullDoc: _*)
    q.processAllAvailable()
    val got = spark.table("dsirgate").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("dsir_units"))).toMap
    // exact per-doc parity on every corpus doc batch t26 scored
    want.foreach { case (id, exp) =>
      assert(got(id) == exp, s"doc $id: stream ${got(id)} != batch $exp") }
    // novel doc: 3 tokens, each scoring its bucket's weight (no OOV leg —
    // hashing IS the out-of-vocabulary story); NULL text: zero both
    assert(got(novel._1) == ((3L, novelUnits)), got(novel._1).toString)
    assert(got(nullDoc._1) == ((0L, 0L)), got(nullDoc._1).toString)
    // annotator contract: nothing dropped, no streaming state
    assert(got.size == corpusDocs.length + 2)
    assert(q.lastProgress.stateOperators.isEmpty,
      "importance scoring gate must not create streaming state")
    q.stop()
  }

  test("streaming funnel equals batch e14 on the real fixture fed in order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val evs = raw
      .select(col("user_id"), col("event_type"),
        graft.queries.EventQueries.tsUsCol(raw).as("ts_us"), col("event_id"))
      .as[EventStream.FunnelEvent]
      .collect().sortBy(e => (e.ts_us, e.event_id))
    val ms = MemoryStream[EventStream.FunnelEvent]
    val q = EventStream.funnelAtIngest(ms.toDS()).writeStream
      .format("memory").queryName("funnel").outputMode("update").start()
    // three in-order micro-batches, user histories split across them
    val third = evs.length / 3
    Seq(evs.take(third), evs.slice(third, 2 * third), evs.drop(2 * third))
      .foreach { chunk => ms.addData(chunk.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    // funnel state is monotone (fields are first-writer-wins), so each
    // user's final state is their max-depth emission
    val finals = spark.table("funnel").as[EventStream.FunnelRow].collect()
      .groupBy(_.user_id).map { case (_, rows) => rows.maxBy(_.depth) }
    val got = finals.filter(_.depth >= 1)
      .map(r => (r.user_id, r.t_view, r.t_click, r.t_purchase, r.depth)).toSet
    val want = graft.queries.EventQueries.e14FunnelSteps(spark, sf).collect()
      .map(r => (r.getLong(0), Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getInt(4))).toSet
    assert(got == want, "stream/batch funnel parity broken")
    // depth-0 users (annotator contract: no row dropped) must be exactly
    // the users with events but no view
    val viewless = finals.filter(_.depth == 0).map(_.user_id).toSet
    val expectViewless = evs.map(_.user_id).toSet -- want.map(_._1)
    assert(viewless == expectViewless)
  }

  test("session windows split on the 30-min gap per user") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Long, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "user_id", "value")
    val q = EventStream.userSessions(df).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    // user 1: events at 0,10 (one session), then 70 (new session: gap 60>30)
    ms.addData((t(0), "view", 1L, 1.0), (t(10), "view", 1L, 1.0), (t(70), "view", 1L, 1.0))
    q.processAllAvailable()
    ms.addData((t(300), "view", 2L, 1.0)) // advance watermark far past both sessions
    q.processAllAvailable()
    val rows = spark.table("sessions").collect().filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Timestamp]("session_start").getTime)
    assert(rows.length == 2, rows.mkString(";"))
    assert(rows(0).getAs[Long]("n_events") == 2)
    assert(rows(1).getAs[Long]("n_events") == 1)
    q.stop()
  }

  test("streaming semantic gate kills cell-mate near-dups, passes novel vectors, keeps no state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.VectorQueries
    implicit val sq = spark.sqlContext
    val cents = VectorQueries.quantizerRows(spark, sf)
    val corpusIndex = VectorQueries.corpusCellIndex(spark, sf)
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    // arrivals: exact copy + one-ulp-ish mutant (cosine ~1 to a corpus
    // vector → must die), negated vectors (anti-aligned with their source
    // → should pass), all adjudicated by the independent twin below
    val arrivals: Seq[(Long, Seq[Float])] = Seq(
      9000001L -> base(7L),
      9000002L -> base(23L).updated(0, base(23L).head + 1e-4f),
      9000003L -> base(11L).map(x => -x),
      9000004L -> base(42L).map(x => -x))
    // independent pure-JVM twin of the whole gate (no Spark expression
    // shared with the implementation under test): same left-to-right
    // double folds, same HALF_UP round-to-6, same argmax tie-break
    def pdF(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    def pdD(a: Seq[Float], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def nrm(a: Seq[Float]): Double = math.sqrt(pdF(a, a))
    def cellOf(v: Seq[Float]): Long =
      cents.sortBy(_._1).map { case (c, cv) =>
        val cn = math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x))
        (c, r6(pdD(v, cv) / (nrm(v) * cn)))
      }.foldLeft((-1L, -2.0)) { case (acc, (c, s)) =>
        if (s > acc._2) (c, s) else acc }._1
    val corpusByCell = base.toSeq.groupBy { case (_, v) => cellOf(v) }
    val expectKeep = arrivals.filter { case (_, v) =>
      !corpusByCell.getOrElse(cellOf(v), Seq.empty).exists { case (_, w) =>
        r6(pdF(v, w) / (nrm(v) * nrm(w))) >= 0.999 }
    }.map(_._1).toSet
    // the fixture must exercise both outcomes; the exact copy can't pass
    assert(!expectKeep(9000001L) && expectKeep.nonEmpty, s"got $expectKeep")
    val ms = MemoryStream[(Long, Seq[Float])]
    val df = ms.toDF().toDF("vec_id", "embedding")
    // survivors keep the input schema: cell and norm are gate internals
    assert(EventStream.semanticGateAtIngest(df, corpusIndex, cents)
      .schema.fieldNames.sameElements(df.schema.fieldNames))
    val q = EventStream.semanticGateAtIngest(df, corpusIndex, cents)
      .writeStream.format("memory").queryName("semgate")
      .outputMode("append").start()
    ms.addData(arrivals: _*)
    q.processAllAvailable()
    val got = spark.table("semgate").select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == expectKeep, s"stream kept $got, expected $expectKeep")
    // stateless: per-row assignment + one stream-static anti join
    assert(q.lastProgress.stateOperators.isEmpty,
      "semantic ingest gate must not create streaming state")
    q.stop()
  }

  test("ingest front door: gates kill in order, survivors carry all six annotations, zero state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.{MlQueries, TextQueries}
    implicit val sq = spark.sqlContext
    val art = EventStream.IngestArtifacts(
      corpusFps = TextQueries.corpus(spark, sf)
        .select(graft.ops.Fingerprint.col(col("text")).as("fp")),
      corpusBands = TextQueries.corpusBandTable(spark, sf),
      model = MlQueries.fitted(spark, sf),
      merges = MlQueries.learnedMerges(spark, sf),
      bucketWeights = TextQueries.dsirBucketWeights(spark, sf))
    // pick a corpus doc the quality gate KEEPS; its exact copy and its
    // drop-first-word near-dup must die at the dedup tiers, and a
    // the-interleaved rewrite (same vocabulary, every 3-gram changed)
    // must sail through all three gates as genuine novelty
    val kept = TextQueries.corpus(spark, sf)
      .filter(TextQueries.gopherKeepCol(col("text")) === 1L)
      .orderBy("doc_id").limit(1).collect()(0).getString(1)
    val novel = kept.split("\\s+").mkString("the ", " the ", " the")
    val junk = "!!! ??? $$$ %%% @@@ ###" // fails the quality rules
    // preconditions make gate failures diagnosable, not mysterious
    val pre = Seq((1L, novel), (2L, junk)).toDF("doc_id", "text")
      .select(col("doc_id"), TextQueries.gopherKeepCol(col("text")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pre(1L) == 1L && pre(2L) == 0L, s"fixture precondition: $pre")
    val arrivals = Seq(
      (8000001L, junk),                       // dies: quality rules
      (8000002L, kept),                       // dies: corpus exact dedup
      (8000003L, kept.split("\\s+", 2).last), // dies: corpus near-dup bands
      (8000004L, novel))                      // survives, fully annotated
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val q = EventStream.ingestFrontDoor(df, art).writeStream
      .format("memory").queryName("frontdoor").outputMode("append").start()
    ms.addData(arrivals: _*)
    q.processAllAvailable()
    val rows = spark.table("frontdoor").collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(8000004L),
      s"survivors: ${rows.mkString(";")}")
    val r = rows(0)
    for (c <- Seq("score_micro", "n_words", "n_pieces", "fertility_micro",
        "n_tokens", "dsir_units"))
      assert(!r.isNullAt(r.fieldIndex(c)), s"annotation $c is null")
    assert(r.getAs[Long]("n_words") > 0 && r.getAs[Long]("n_tokens") > 0)
    // the whole composed chain keeps zero streaming state
    assert(q.lastProgress.stateOperators.isEmpty,
      "front door must stay stateless end to end")
    q.stop()
  }

  test("suppression gate: forgotten content cannot re-enter after the corpus purge; novel still passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.{ExportQueries, MlQueries, TextQueries}
    implicit val sq = spark.sqlContext
    // the post-purge world: dedup probe tables rebuilt WITHOUT the
    // forgotten docs — the exact state in which plain corpus dedup would
    // re-admit the content, which is why the suppression list exists
    val removedIds = ExportQueries.forgetRemovalSet(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val suppression = ExportQueries.forgetSuppressionFps(spark, sf)
    val purgedFps = TextQueries.corpus(spark, sf)
      .filter(!col("doc_id").isInCollection(removedIds))
      .select(graft.ops.Fingerprint.col(col("text")).as("fp"))
    val purgedBands = TextQueries.corpusBandTable(spark, sf)
      .filter(!col("doc_id").isInCollection(removedIds))
    def art(sup: Option[org.apache.spark.sql.DataFrame]) =
      EventStream.IngestArtifacts(
        corpusFps = purgedFps, corpusBands = purgedBands,
        model = MlQueries.fitted(spark, sf),
        merges = MlQueries.learnedMerges(spark, sf),
        bucketWeights = TextQueries.dsirBucketWeights(spark, sf),
        suppressedFps = sup)
    // pick a forgotten doc that, with NO list, sails through the purged
    // front door (passes quality; its fp and bands are gone) — the
    // precondition that makes the suppression kill attributable
    val candidates = TextQueries.corpus(spark, sf)
      .filter(col("doc_id").isInCollection(removedIds))
      .filter(TextQueries.gopherKeepCol(col("text")) === 1L)
      .orderBy("doc_id").limit(8).collect().map(_.getString(1))
    val text = candidates.find { t =>
      EventStream.ingestFrontDoor(
        Seq((9700001L, t)).toDF("doc_id", "text"), art(None)).count() == 1L
    }.getOrElse(fail("fixture precondition: no removed doc re-admits through the purged door"))
    val novel = text.split("\\s+").mkString("the ", " the ", " the")
    // streaming deployment WITH the list: the re-arrival dies at the
    // suppression gate, genuine novelty still passes, zero state
    val ms = MemoryStream[(Long, String)]
    val q = EventStream.ingestFrontDoor(ms.toDF().toDF("doc_id", "text"),
        art(Some(suppression))).writeStream
      .format("memory").queryName("suppress").outputMode("append").start()
    ms.addData((9700001L, text), (9700002L, novel))
    q.processAllAvailable()
    val got = spark.table("suppress").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(9700002L), s"suppression gate mis-filtered: $got")
    assert(q.lastProgress.stateOperators.isEmpty,
      "suppression must stay stateless")
    q.stop()
    TextQueries.releaseCaches()
  }

  test("vector suppression gate: a purged vector's exact re-arrival is refused, near variants and novelty pass, zero state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    // the purge records the blocklist BEFORE the rows go — afterwards the
    // content is unrecoverable by design (digests only, never the vector)
    val index = spark.read.parquet(s"$sf/embeddings.parquet")
    val (purged, blocklist) = graft.queries.VectorQueries
      .purgeIndexRecording(index, Seq(0L).toDF("vec_id"))
    assert(purged.filter(col("vec_id") === 0L).count() == 0L)
    assert(blocklist.columns.toSeq == Seq("vfp64", "vfp32"),
      "the blocklist must hold digests only — retaining the embedding " +
        "would violate the deletion")
    val forgotten = index.filter(col("vec_id") === 0L)
      .collect()(0).getSeq[Float](1).toArray
    val near = forgotten.clone(); near(0) = near(0) + 1e-3f
    val novel = Array.fill(forgotten.length)(0.5f)
    // standalone embedding stream (no text column to fingerprint): the
    // bytes-identity gate is the only thing standing between a forgotten
    // vector and re-admission once the index purge rebuilt without it.
    // The blocklist lives as a parquet DIR (the production artifact
    // shape), so a LATER purge's append can take effect on the running
    // query — the live-refresh claim in the gate's scaladoc.
    val blockDir = java.nio.file.Files
      .createTempDirectory("graft-vblock").toString
    blocklist.write.mode("overwrite").parquet(blockDir)
    val blockTable = spark.read.parquet(blockDir)
    val ms = MemoryStream[(Long, Array[Float])]
    val q = EventStream.suppressVectorsAtIngest(
        ms.toDF().toDF("vec_id", "embedding"), blockTable)
      .writeStream.format("memory").queryName("vsuppress")
      .outputMode("append").start()
    ms.addData((9800001L, forgotten), (9800002L, near), (9800003L, novel))
    q.processAllAvailable()
    val got = spark.table("vsuppress").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    // the NEAR variant is admitted BY DESIGN: similarity-level
    // suppression would require retaining the deleted embedding to
    // compare against — the documented deletion-compliance tension
    assert(got == Set(9800002L, 9800003L),
      s"vector suppression mis-filtered: $got")
    assert(q.lastProgress.stateOperators.isEmpty,
      "vector suppression must stay stateless")
    // live rollout of a SECOND purge against the running query: vec 1's
    // digests append to the blocklist dir, the stream-static anti-join
    // re-plans per micro-batch, and vec 1's exact re-arrival now dies
    // while fresh novelty still passes
    val v1 = index.filter(col("vec_id") === 1L)
      .collect()(0).getSeq[Float](1).toArray
    val (_, delta2) = graft.queries.VectorQueries
      .purgeIndexRecording(index, Seq(1L).toDF("vec_id"))
    delta2.write.mode("append").parquet(blockDir)
    EventStream.refreshStaticArtifacts(blockTable)
    val novel2 = Array.fill(v1.length)(-0.25f)
    ms.addData((9800004L, v1), (9800005L, novel2))
    q.processAllAvailable()
    val got2 = spark.table("vsuppress").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(got2 == Set(9800002L, 9800003L, 9800005L),
      s"a purge appended mid-stream must take effect live: $got2")
    q.stop()
  }

  test("front-door soak: compaction folds between micro-batches are picked up live, state stays zero") {
    // r12 verdict stretch 7: the individually-pinned pieces in one loop —
    // a RUNNING ingestFrontDoor query over N micro-batches with a
    // CorpusCompaction fold after each, artifacts living as parquet DIRS
    // the production way (compaction appends; refreshStaticArtifacts
    // re-lists). Round r's batch contains round r-1's accepted doc as an
    // exact re-arrival and as a drop-first-word near-dup: both MUST die
    // at the gates — proof the previous fold went live without a query
    // restart — while round r's own novelty survives.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, posexplode}
    import graft.queries.{MlQueries, TextQueries}
    implicit val sq = spark.sqlContext
    // one novel, quality-passing document per round, disjoint vocabularies
    // so no cross-round band collisions exist by construction
    val novels = Seq(
      "the aardwolf and the bontebok walk to the edge of the pan and the " +
        "civet is resting in the reeds while the duiker and the eland " +
        "drink from the pool in the shade of the old acacia by the track",
      "a heron is standing in the marsh and the ibis is wading to the " +
        "bank of the stream while a jacana steps on the lily and the " +
        "kite is turning on the warm wind over the water in the late sun",
      "the marmot and the pika sit on the scree and the raven is calling " +
        "from the crag while the tahr and the urial climb to the ridge " +
        "in the thin air of the high pass under the cold morning light")
    for (n <- novels)
      assert(Seq(n).toDF("text")
        .select(TextQueries.gopherKeepCol(col("text"))).collect()(0).getLong(0) == 1L,
        s"fixture precondition: novel must pass the quality rules: $n")
    // artifact directories, seeded with one corpus doc (the production
    // shape: the stream's static sides read dirs a compactor appends to)
    val base = java.nio.file.Files.createTempDirectory("graft-soak")
    val (corpusDir, fpsDir, bandsDir) =
      (s"$base/corpus", s"$base/fps", s"$base/bands")
    val seed = Seq((1L, "the quick brown fox jumps over the lazy dog and " +
      "the quick brown fox naps in the sun by the door of the barn", "en"))
      .toDF("doc_id", "text", "lang")
    seed.write.parquet(corpusDir)
    seed.select(col("doc_id"), graft.ops.Fingerprint.col(col("text")).as("fp"))
      .write.parquet(fpsDir)
    seed.select(col("doc_id"),
      posexplode(TextQueries.bandKeysCol(col("text"))).as(Seq("band", "bkey")))
      .write.parquet(bandsDir)
    val art = EventStream.IngestArtifacts(
      corpusFps = spark.read.parquet(fpsDir),
      corpusBands = spark.read.parquet(bandsDir),
      model = MlQueries.fitted(spark, sf),
      merges = MlQueries.learnedMerges(spark, sf),
      bucketWeights = TextQueries.dsirBucketWeights(spark, sf))
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val q = EventStream.ingestFrontDoor(df, art).writeStream
      .format("memory").queryName("soak").outputMode("append").start()
    try {
      var expected = Set.empty[Long]
      for (r <- novels.indices) {
        val rb = 9000000L + r * 1000L
        val feed = Seq(rb + 1 -> novels(r)) ++ (if (r == 0) Nil else Seq(
          rb + 2 -> novels(r - 1),                       // exact re-arrival
          rb + 3 -> novels(r - 1).split("\\s+", 2).last)) // near-dup re-arrival
        ms.addData(feed: _*)
        q.processAllAvailable()
        expected += rb + 1
        val got = spark.table("soak").select("doc_id").collect()
          .map(_.getLong(0)).toSet
        assert(got == expected,
          s"round $r: survivors $got != $expected — a re-arrival slipped a " +
            "gate, so the previous fold was NOT live")
        assert(q.lastProgress.stateOperators.isEmpty,
          s"round $r: the soak loop must stay stateless")
        // the compaction fold: append the accepted arrival's artifacts
        // (delta = this round's id range), then re-list the stream's
        // static sides so the NEXT batch probes the grown tables
        val arrivals = Seq((rb + 1, novels(r), "en")).toDF("doc_id", "text", "lang")
        val res = graft.pipeline.CorpusCompaction.compact(arrivals,
          spark.read.parquet(corpusDir), spark.read.parquet(fpsDir),
          spark.read.parquet(bandsDir))
        assert(res.audit.collect()(0).getLong(5) == 1,
          s"round $r: the fold must append exactly the accepted doc")
        // the Compacted append-back discipline is enforced by the API:
        // the first delta access snapshots all three together, so the
        // NATURAL append order below — which with lazy deltas was the
        // silent-loss bug (the fp append's file-commit refreshes cached
        // plans reading fpsDir, recomputing a still-lazy newBands against
        // the half-appended state: empty) — is safe as written. This
        // interleaved append-then-read order IS the regression test.
        res.appended.write.mode("append").parquet(corpusDir)
        res.newFingerprints.write.mode("append").parquet(fpsDir)
        res.newBands.write.mode("append").parquet(bandsDir)
        res.release()
        EventStream.refreshStaticArtifacts(art.corpusFps, art.corpusBands)
      }
    } finally q.stop()
  }

  test("capped front door: gate-dead docs never consume budget, capped docs are never priced, budget binds across batches") {
    // the composed production ingest: gates -> DOMAIN CAP -> annotators
    // (ingestFrontDoorCapped). The ordering is what's under test:
    //   - srcA feeds junk + two novelties with cap=1: the junk dies at
    //     quality WITHOUT consuming the budget (else nothing from srcA
    //     could survive), the smaller-id novelty takes the one slot, the
    //     other dies at the cap unpriced;
    //   - srcB feeds a corpus exact-dup before its novelty: the dedup
    //     death does not consume srcB's budget either;
    //   - a second drain over the same checkpoint: srcA's further novelty
    //     dies (budget spent CROSS-batch), fresh srcC's survives.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.{MlQueries, TextQueries}
    implicit val sq = spark.sqlContext
    val art = EventStream.IngestArtifacts(
      corpusFps = TextQueries.corpus(spark, sf)
        .select(graft.ops.Fingerprint.col(col("text")).as("fp")),
      corpusBands = TextQueries.corpusBandTable(spark, sf),
      model = MlQueries.fitted(spark, sf),
      merges = MlQueries.learnedMerges(spark, sf),
      bucketWeights = TextQueries.dsirBucketWeights(spark, sf))
    val kept = TextQueries.corpus(spark, sf)
      .filter(TextQueries.gopherKeepCol(col("text")) === 1L)
      .orderBy("doc_id").limit(1).collect()(0).getString(1)
    // five distinct novelties: interleave rewrites of the kept doc (every
    // 3-gram changed => no corpus band collision, new fingerprint)
    val novels = Seq("the", "and", "with", "from", "that")
      .map(w => kept.split("\\s+").mkString(s"$w ", s" $w ", s" $w"))
    val junk = "!!! ??? $$$ %%% @@@ ###"
    // precondition: every novelty individually survives all three BATCH
    // gates (the gate functions are stream/batch agnostic)
    val pre = EventStream.nearDupGateAtIngest(
        EventStream.dedupAgainstCorpus(
          EventStream.filterQualityAtIngest(
            novels.zipWithIndex.map { case (t, i) => (i.toLong, t) }
              .toDF("doc_id", "text")),
          art.corpusFps),
        art.corpusBands)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pre == novels.indices.map(_.toLong).toSet,
      s"fixture precondition: every novelty must pass the gates, got $pre")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(Long, String, String)]
      val docs = ms.toDF().toDF("doc_id", "source", "text")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-fd-cap").toString
      val out = scala.collection.mutable.ArrayBuffer[
        (Long, Map[String, Boolean])]()
      val annCols = Seq("score_micro", "n_words", "n_pieces",
        "fertility_micro", "n_tokens", "dsir_units")
      def drain(): Unit = {
        // transformWithState in processing-time mode never quiesces under
        // a continuous trigger — each stage is an AvailableNow query over
        // ONE shared checkpoint (the domainCapAtIngestTws discipline)
        val q = EventStream.ingestFrontDoorCapped(docs, art, cap = 1)
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = b.collect().map(r => (r.getAs[Long]("doc_id"),
              annCols.map(c => c -> !r.isNullAt(r.fieldIndex(c))).toMap))
            out.synchronized { out ++= rows }
            ()
          }
          .start()
        TestSpark.drainAndStop(q)
      }
      // drain 1: srcA junk(1) + novels 2,3 under cap=1; srcB exact-dup(10)
      // then novelty(11)
      ms.addData(
        (8100001L, "srcA", junk),
        (8100002L, "srcA", novels(0)),
        (8100003L, "srcA", novels(1)),
        (8100010L, "srcB", kept),
        (8100011L, "srcB", novels(2)))
      drain()
      assert(out.synchronized(out.map(_._1).sorted.toSeq) ==
        Seq(8100002L, 8100011L),
        s"drain 1 survivors ${out.map(_._1)}: the gate-dead arrivals must " +
          "not consume budget; the cap must bind within srcA")
      // drain 2, same checkpoint: srcA's budget is spent; srcC is fresh
      ms.addData(
        (8100004L, "srcA", novels(3)),
        (8100020L, "srcC", novels(4)))
      drain()
      assert(out.synchronized(out.map(_._1).sorted.toSeq) ==
        Seq(8100002L, 8100011L, 8100020L),
        s"drain 2 survivors ${out.map(_._1)}: srcA's budget must bind " +
          "across batches, fresh srcC must pass")
      // every survivor left the annotators fully priced
      for ((id, anns) <- out.synchronized(out.toSeq); (c, ok) <- anns)
        assert(ok, s"survivor $id annotation $c is null")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("vector soak: semantic-gate index folds between micro-batches are picked up live, state stays zero") {
    // the vector twin of the front-door soak: a RUNNING semanticGateAtIngest
    // query over N micro-batches with a VectorCompaction fold after each,
    // the cell index living as a parquet DIR the fold appends to. Round r
    // re-feeds round r-1's accepted vector as an exact re-arrival (cosine
    // 1.0 to the folded index row — must die at the gate, proving the fold
    // went live without a restart) while round r's own novelty survives.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.VectorQueries
    implicit val sq = spark.sqlContext
    val cents = VectorQueries.quantizerRows(spark, sf)
    val baseAll = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    // JVM twin of the gate's cosine (the semgate-test discipline) for the
    // fixture preconditions below
    def pdF(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      r6(pdF(a, b) / (math.sqrt(pdF(a, a)) * math.sqrt(pdF(b, b))))
    val seedIds = (0L until 50L).toSet
    val novelSrc = Seq(100L, 200L, 300L)
    // preconditions: each novelty is novel vs the seed index AND vs the
    // other novelties (so only the deliberate re-arrivals can die)
    for (n <- novelSrc; s <- seedIds)
      assert(cos(baseAll(n), baseAll(s)) < 0.999, s"novel $n collides seed $s")
    for (Seq(a, b) <- novelSrc.combinations(2))
      assert(cos(baseAll(a), baseAll(b)) < 0.999, s"novels $a/$b collide")
    val indexDir =
      s"${java.nio.file.Files.createTempDirectory("graft-vsoak")}/index"
    VectorQueries.withCellAssigned(
        spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(col("vec_id") < 50).select(col("vec_id"), col("embedding")),
        "embedding", "cell", cents)
      .withColumn("nrm", VectorQueries.norm(col("embedding")))
      .write.parquet(indexDir)
    val idx = spark.read.parquet(indexDir)
    val ms = MemoryStream[(Long, Seq[Float])]
    val df = ms.toDF().toDF("vec_id", "embedding")
    val q = EventStream.semanticGateAtIngest(df, idx, cents)
      .writeStream.format("memory").queryName("vsoak")
      .outputMode("append").start()
    try {
      var expected = Set.empty[Long]
      for (r <- novelSrc.indices) {
        val rb = 9100000L + r * 1000L
        val feed = Seq(rb + 1 -> baseAll(novelSrc(r))) ++ (if (r == 0) Nil
          else Seq(rb + 2 -> baseAll(novelSrc(r - 1)))) // exact re-arrival
        ms.addData(feed: _*)
        q.processAllAvailable()
        expected += rb + 1
        val got = spark.table("vsoak").select("vec_id").collect()
          .map(_.getLong(0)).toSet
        assert(got == expected,
          s"round $r: survivors $got != $expected — a re-arrival slipped " +
            "the gate, so the previous fold was NOT live")
        assert(q.lastProgress.stateOperators.isEmpty,
          s"round $r: the semantic gate must stay stateless")
        // the fold: append the accepted arrival's index delta (the
        // Compacted API stages it on first access — appending back into
        // indexDir cannot invalidate it), then re-list
        val arrivals = Seq((rb + 1, baseAll(novelSrc(r))))
          .toDF("vec_id", "embedding")
        val res = graft.pipeline.VectorCompaction.compact(arrivals,
          spark.read.parquet(indexDir), cents)
        assert(res.audit.collect()(0).getLong(3) == 1,
          s"round $r: the fold must append exactly the accepted vector")
        res.appended.write.mode("append").parquet(indexDir)
        res.release()
        EventStream.refreshStaticArtifacts(idx)
      }
    } finally q.stop()
  }

  test("frame dedup gate over the avi-frames stream: re-muxed dup contributes zero novel frames") {
    import org.apache.spark.sql.functions.{col, md5}
    import graft.multimodal.MultimodalOps
    // corpus: one landed video, its frame table built through the SAME
    // connector the stream uses
    val corpusDir = java.nio.file.Files.createTempDirectory("fcorpus").toFile
    corpusDir.deleteOnExit()
    java.nio.file.Files.write(
      new java.io.File(corpusDir, "c1.avi").toPath, MultimodalOps.renderVideo(1L))
    val corpusFrames = spark.read.format("avi-frames")
      .load(corpusDir.getAbsolutePath)
      .select(md5(col("frame_bytes")).as("frame_md5"))
    // landing zone: a RE-MUXED duplicate of the corpus video (same frame
    // payloads, byte-different container — whole-file dedup would miss
    // it) plus a genuinely novel video
    val landDir = java.nio.file.Files.createTempDirectory("fland").toFile
    landDir.deleteOnExit()
    java.nio.file.Files.write(new java.io.File(landDir, "a-dup.avi").toPath,
      MultimodalOps.renderVideo(1L, altTail = true))
    java.nio.file.Files.write(new java.io.File(landDir, "b-new.avi").toPath,
      MultimodalOps.renderVideo(2L))
    assert(!java.util.Arrays.equals(MultimodalOps.renderVideo(1L),
      MultimodalOps.renderVideo(1L, altTail = true)),
      "fixture precondition: the re-mux must be byte-different")
    val frames = spark.readStream.format("avi-frames")
      .option("grace.ms", "0").load(landDir.getAbsolutePath)
    val q = EventStream.frameDedupAtIngest(frames, corpusFrames)
      .writeStream.format("memory").queryName("framegate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("framegate")
        .select(col("path"), col("frame_no")).collect()
      // every surviving frame comes from the novel video; the re-muxed
      // duplicate's frames all died at the gate
      assert(got.nonEmpty && got.forall(_.getString(0).endsWith("b-new.avi")),
        s"survivors: ${got.mkString(";")}")
      assert(got.length == MultimodalOps.VideoFrames,
        s"novel video's frames must all pass: ${got.length}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "frame dedup gate must not create streaming state")
    } finally q.stop()
  }
}
