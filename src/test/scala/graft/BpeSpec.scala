package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.MlQueries

/** Semantic contract for t20 BPE merge learning — the t15 standard: the
  * Spark implementation must match an INDEPENDENT pure-Scala reference
  * implementation of Sennrich-style BPE exactly (ranks, pairs, counts),
  * because the k unrolled argmax rounds cannot be one DuckDB statement
  * and the driver records rows only.
  */
class BpeSpec extends AnyFunSuite {
  import TestSpark._

  /** The merge table [[MlQueries.train]] learns from `words0`. */
  private def learnMerges(words0: DataFrame, k: Int): Seq[(Int, String, String, Long)] =
    MlQueries.train(words0, k)._1

  /** Symbol atoms are CODE POINTS, matching Spark's split(word, "") —
    * Java regex zero-width matches fall on code-point boundaries, so a
    * supplementary-plane char is ONE symbol; a per-Char (code unit)
    * reference would shear surrogate pairs and diverge on non-BMP text
    * (the non-BMP test below pins this empirically). */
  private def symbols(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  /** Pure-Scala reference BPE: pair counts over distinct words weighted
    * by frequency; argmax tie-broken by (count desc, left, right) under
    * UTF-8 binary ordering (Spark's default string collation); greedy
    * left-to-right non-overlapping merge application. No Spark types —
    * written directly from the published algorithm. */
  private def refBpe(words: Seq[(String, Long)], k: Int): Seq[(Int, String, String, Long)] = {
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var tbl: Seq[(Vector[String], Long)] =
      words.map { case (w, f) => (symbols(w), f) }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    var done = false
    while (round <= k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- tbl; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), cnt) = counts.toSeq.reduceLeft { (a, b) =>
          val ((al, ar), ac) = a; val ((bl, br), bc) = b
          val bWins = bc > ac ||
            (bc == ac && (utf8Lt(bl, al) ||
              (bl == al && utf8Lt(br, ar))))
          if (bWins) b else a
        }
        out += ((round, l, r, cnt))
        tbl = tbl.map { case (syms, f) =>
          val acc = scala.collection.mutable.ArrayBuffer[String]()
          for (s <- syms) {
            if (acc.nonEmpty && acc.last == l && s == r) acc(acc.length - 1) = l + r
            else acc += s
          }
          (acc.toVector, f)
        }
        round += 1
      }
    }
    out.toSeq
  }

  /** The fixture corpus with its planted-mutant augmentation (+1e6 =
    * drop first word for doc_id%5==0, +2e6 = exact copy for
    * doc_id%7==0) — the doc set every batch text query runs over. */
  private lazy val augmentedDocs: Seq[(Long, String)] = {
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    raw ++
      raw.collect { case (id, t) if id % 5 == 0 =>
        (id + 1000000L, t.replaceFirst("^\\S+\\s+", "")) } ++
      raw.collect { case (id, t) if id % 7 == 0 => (id + 2000000L, t) }
  }

  test("hand-computed case: greedy non-overlap, weighted argmax, early exhaustion") {
    // words: aaab x3, ab x2
    //   r1: (a,a)=6 (two overlapping occurrences in aaab), (a,b)=5 -> merge (a,a)
    //       greedy left-to-right: aaab -> [aa, a, b] (NOT three overlapping merges)
    //   r2: (a,b)=5 beats (aa,a)=3 -> aaab -> [aa, ab], ab -> [ab]
    //   r3: (aa,ab)=3 -> [aaab]
    //   r4: no adjacent pairs remain anywhere -> exhausted at 3 merges
    import spark.implicits._
    val words = Seq(("aaab", 3L), ("ab", 2L)).toDF("word", "freq")
    val got = learnMerges(words, 16)
    val want = Seq((1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L))
    assert(got == want, s"got $got")
    // and the independent reference agrees with the hand computation
    assert(refBpe(Seq(("aaab", 3L), ("ab", 2L)), 16) == want)
  }

  test("non-BMP safety: symbol atoms are code points on both sides (surrogate pairs never shear)") {
    import spark.implicits._
    // 𐀀 (U+10000, a surrogate pair in UTF-16) followed by 'a': the only
    // adjacent pair is (𐀀, a) — a code-unit split would instead see the
    // broken pair (\uDC00, a) and a three-symbol word
    val w = "𐀀a"
    val got = learnMerges(Seq((w, 3L)).toDF("word", "freq"), 1)
    assert(got == refBpe(Seq((w, 3L)), 1), s"engine/reference diverged: $got")
    assert(got.head._2 == "𐀀",
      s"left symbol is not the full code point: ${got.head}")
  }

  test("tie-break is lexicographic on (left, right) at equal count") {
    import spark.implicits._
    // (x,y) and (b,a) both have count 4; (b,a) must win lexicographically
    val words = Seq(("xy", 4L), ("ba", 4L)).toDF("word", "freq")
    val first = learnMerges(words, 1)
    assert(first == Seq((1, "b", "a", 4L)), s"got $first")
  }

  test("t20 matches the independent reference EXACTLY on the real corpus") {
    val wf = MlQueries.wordFreq(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = refBpe(wf, 16).map { case (rank, l, r, cnt) => (rank, l, r, l + r, cnt) }
    val got = MlQueries.t20BpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(got == want,
      s"divergence — first mismatch: ${got.zipAll(want, null, null).find(p => p._1 != p._2)}")
  }

  test("merge counts are non-increasing over rounds (each new pair's support is bounded by the merge that created it)") {
    val counts = MlQueries.t20BpeMerges(spark, sf).collect().map(_.getLong(4))
    assert(counts.nonEmpty)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"pair_count increased: ${counts.mkString(",")}")
  }

  test("t21 matches an independent pure-Scala encode over the raw parquet EXACTLY per doc") {
    // reference encoder: apply the reference merges in rank order, one
    // greedy left-to-right pass per rule — the same pass structure the
    // training loop itself runs, recomputed from scratch on raw text
    val wf = MlQueries.wordFreq(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val merges = refBpe(wf, 16)
    val encCache = scala.collection.mutable.Map[String, Long]()
    def encode(w: String): Long = encCache.getOrElseUpdate(w, {
      var syms: Vector[String] = symbols(w)
      for ((_, l, r, _) <- merges) {
        val acc = scala.collection.mutable.ArrayBuffer[String]()
        for (s <- syms) {
          if (acc.nonEmpty && acc.last == l && s == r) acc(acc.length - 1) = l + r
          else acc += s
        }
        syms = acc.toVector
      }
      syms.length.toLong
    })
    val want = augmentedDocs.flatMap { case (id, text) =>
        val ws = text.trim.split("\\s+").filter(_.nonEmpty)
        if (ws.isEmpty) None
        else {
          val np = ws.map(encode).sum
          Some((id, ws.length.toLong, np, np * 1000000L / ws.length))
        }
      }.sortBy(_._1).toSeq
    val got = MlQueries.t21BpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.size == want.size, s"${got.size} docs vs ${want.size}")
    assert(got == want,
      s"first mismatch: ${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("t21 bounds: n_words <= n_pieces <= per-doc code-point total (merges only shrink)") {
    // every word encodes to at least 1 piece (fertility >= 1e6) and at
    // most its code-point count (a merge only ever shrinks a word), so
    // n_pieces is bracketed by n_words and the doc's total word chars
    val ceil = augmentedDocs.map { case (id, text) =>
      id -> text.trim.split("\\s+").filter(_.nonEmpty)
        .map(w => w.codePointCount(0, w.length).toLong).sum
    }.toMap
    val rows = MlQueries.t21BpeEncode(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1)),
      "a word encoded to fewer than 1 piece")
    assert(rows.forall(r => r.getLong(3) >= 1000000L),
      "fertility below 1 piece/word")
    val over = rows.filter(r => r.getLong(2) > ceil(r.getLong(0)))
    assert(over.isEmpty,
      s"merges grew a doc beyond its char total: ${over.take(3).mkString(",")}")
  }

  test("streaming twin: encode at ingest matches batch t21 per doc, zero state operators") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val merges = MlQueries.learnedMerges(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    // -1/-2: wordless and NULL-text arrivals — an ingest pricer must
    // emit them with ZERO counts (batch t21 has no row for them; that
    // asymmetry is the documented contract, not drift)
    ms.addData(docs.toSeq :+ (-1L, "   ") :+ (-2L, null.asInstanceOf[String]): _*)
    val q = graft.streaming.EventStream.encodeAtIngest(
        ms.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpegate").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bpegate")
      assert(streamed.columns.toSeq ==
        Seq("doc_id", "text", "n_words", "n_pieces", "fertility_micro"),
        s"unexpected schema: ${streamed.columns.mkString(",")}")
      val got = streamed.collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = MlQueries.t21BpeEncode(spark, sf).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got.nonEmpty)
      assert(got(-1L) == ((0L, 0L, 0L)) && got(-2L) == ((0L, 0L, 0L)),
        s"wordless/null arrivals must price to zeros: ${got(-1L)}, ${got(-2L)}")
      val bad = (got - (-1L) - (-2L)).filter { case (id, v) => !want.get(id).contains(v) }
      assert(bad.isEmpty, s"stream/batch divergence: ${bad.take(5)}")
      // stateless gate: no state store behind the scan-project pipeline
      assert(q.lastProgress.stateOperators.isEmpty,
        "encode-at-ingest must not create streaming state")
    } finally q.stop()
  }

  /** A skewed synthetic word table: a few thousand distinct words with
    * Zipf-like frequencies over ASCII, BMP and non-BMP symbols, plus two
    * planted words whose pairs tie at the top count where UTF-8 byte
    * order ("｡" U+FF61 first) and `String.compareTo` ("𐀀" U+10000 first,
    * as a surrogate pair) disagree. */
  private lazy val skewedWords: Seq[(String, Long)] = {
    val alphabet = "abcdeéñ中文｡".map(_.toString) ++ Seq("𐀀", "😀", "𝄞")
    val rnd = new scala.util.Random(7)
    val words = Iterator.continually(
        Seq.fill(1 + rnd.nextInt(7))(alphabet(rnd.nextInt(alphabet.size))).mkString)
      .distinct.filterNot(w => w == "｡z" || w == "𐀀z").take(3000).toSeq
    words.zipWithIndex.map { case (w, i) => (w, 1000000L / math.pow(i + 1, 1.1).toLong.max(1L)) } ++
      Seq(("｡z", 50000000L), ("𐀀z", 50000000L))
  }

  private def endRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Seq[String], Long)] =
    df.collect().map(r => (r.getString(0), r.getSeq[String](1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  test("local and Spark merge loops: identical merges and end states on a skewed table, equal to the reference") {
    import spark.implicits._
    val words = MlQueries.atomized(skewedWords.toDF("word", "freq"))
    val rows = MlQueries.localWords(words)
    assert(rows.exists(_.size == skewedWords.size))
    val (localMerges, localEnd) = MlQueries.trainLocal(rows.get, 32)
    val (sparkMerges, sparkEnd) = MlQueries.trainSpark(words, 32)
    assert(localMerges.size == 32)
    // the planted tie: UTF-8 order puts "｡" first, compareTo would not
    assert(localMerges.take(2).map(m => (m._2, m._3, m._4)) ==
      Seq(("｡", "z", 50000000L), ("𐀀", "z", 50000000L)), localMerges.take(2).toString)
    assert(localMerges == sparkMerges,
      s"first mismatch: ${localMerges.zip(sparkMerges).find(p => p._1 != p._2)}")
    assert(localMerges == refBpe(skewedWords, 32))
    assert(localEnd.map { case (w, s, f) => (w, s.toSeq, f) }.sortBy(_._1) == endRows(sparkEnd),
      "the two loops' end states diverged")
  }

  test("train selects the local loop up to BpeLocalWords rows and the Spark loop above") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.{col, concat, lit}
    def table(n: Int) = spark.range(n)
      .select(concat(lit("w"), col("id").cast("string")).as("word"), lit(1L).as("freq"))
    val bound = MlQueries.BpeLocalWords
    val at = MlQueries.atomized(table(bound))
    val over = MlQueries.atomized(table(bound + 1))
    assert(MlQueries.localWords(at).map(_.size).contains(bound))
    assert(MlQueries.localWords(over).isEmpty)
    val (atMerges, atEnd) = MlQueries.train(table(bound), 2)
    val (overMerges, overEnd) = MlQueries.train(table(bound + 1), 2)
    assert(atEnd.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(!overEnd.queryExecution.analyzed.isInstanceOf[LocalRelation])
    // each selection gives what the other loop gives on the same table
    val overRows = over.collect().toSeq.map(r => (r.getString(0), r.getSeq[String](1), r.getLong(2)))
    val (overLocal, overLocalEnd) = MlQueries.trainLocal(overRows, 2)
    assert(overMerges == overLocal)
    assert(endRows(overEnd) == overLocalEnd.sortBy(_._1))
    assert(atMerges == MlQueries.trainSpark(at, 2)._1)
  }

  test("output shape: contiguous ranks from 1, merged == left+right, memoized repeat is identical") {
    val a = MlQueries.t20BpeMerges(spark, sf).collect().toSeq
    assert(a.map(_.getInt(0)) == (1 to a.length))
    assert(a.forall(r => r.getString(3) == r.getString(1) + r.getString(2)))
    val b = MlQueries.t20BpeMerges(spark, sf).collect().toSeq
    assert(a == b)
  }
}
