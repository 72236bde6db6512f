package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CommandCompiler
import graft.streaming.JobStream

/** SURVEY.md §5.3 — property-based invariants. Pure properties run through
  * ScalaCheck; Spark-evaluated properties generate a batch of random rows
  * and assert per-row invariants in one job (one JVM round-trip for the
  * whole sample set).
  */
object PropertySpec {
  case class Fmt(id: Int, video_codec: String, video_bitrate: Int,
      args_video: String, container: String)
}

class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("segments reassembles to the original template (F1 parser)") {
    // templates over the compiler's grammar: literals + {field} refs
    val litGen = Gen.alphaNumStr.suchThat(s => !s.contains('{') && !s.contains('}'))
    val fieldGen = Gen.identifier.suchThat(_.nonEmpty).map(f => s"{$f}")
    val tmplGen = Gen.listOf(Gen.oneOf(litGen, fieldGen)).map(_.mkString)
    check(Prop.forAll(tmplGen) { t =>
      CommandCompiler.segments(t).map {
        case Left(s) => s
        case Right(f) => s"{$f}"
      }.mkString == t
    })
  }

  test("dequeueLimit never negative, fills exactly the free capacity (W1)") {
    check(Prop.forAll(Gen.chooseNum(0, 1000), Gen.chooseNum(0, 1000)) { (cap, queued) =>
      val k = JobStream.dequeueLimit(cap, queued)
      k >= 0 && k <= cap && (queued >= cap || k == cap - queued)
    })
  }

  test("claim ledger: one owning batch per job; only same-batch replay re-grants (ST2)") {
    val seqGen = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 5L)))
    check(Prop.forAll(seqGen) { claims =>
      val ledger = new JobStream.ClaimLedger
      val granted = claims.filter { case (j, b) => ledger.tryClaim(j, b) }
      // every grant for a job carries the SAME batch id (first owner wins;
      // replays of that batch re-grant, later batches never do)
      granted.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1) &&
        ledger.claimed.keySet == claims.map(_._1).toSet &&
        granted.groupBy(_._1).forall { case (j, g) =>
          ledger.claimed(j) == g.head._2
        }
    })
  }

  test("status rank is monotone along every legal walk prefix") {
    val walks = Seq(
      Seq("Not Encoding", "encsrv01 - Waiting", "encsrv01 - Copying Source 12%",
        "encsrv01 - Analysing audio", "encsrv01 - Encoding Pass 1",
        "encsrv01 - Encoding Pass 2", "encsrv01 - Moving File", "Done"),
      Seq("Not Encoding", "encsrv01 - Waiting", "encsrv01 - Error"))
    val prefixGen = for {
      w <- Gen.oneOf(walks)
      n <- Gen.chooseNum(1, w.length)
    } yield w.take(n)
    check(Prop.forAll(prefixGen) { p =>
      val rs = p.map(JobStream.rank)
      rs == rs.sorted
    })
  }

  test("compiler gating invariant over 200 random format rows (Spark batch)") {
    import spark.implicits._
    import PropertySpec.Fmt
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      Fmt(i,
        if (rnd.nextBoolean()) "libx264" else "",
        if (rnd.nextBoolean()) 5000 else 0,
        if (rnd.nextInt(3) == 0) null else if (rnd.nextBoolean()) "-vf x" else "",
        if (rnd.nextBoolean()) "mp4" else "")
    }
    val df = rows.toDF()
    val compiled = df.select(col("id"), CommandCompiler.compile {
      case f @ ("video_codec" | "video_bitrate" | "args_video" | "container") => col(f)
      case other if CommandCompiler.intFields(other) => lit(0)
      case _ => lit(null).cast("string")
    }.as("cmd")).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    rows.foreach { f =>
      val cmd = compiled(f.id)
      assert(cmd.contains("-vcodec") == f.video_codec.nonEmpty, s"$f -> $cmd")
      assert(cmd.contains("-b:v") == (f.video_bitrate != 0), s"$f -> $cmd")
      assert(cmd.contains("-vf x") == (f.args_video != null && f.args_video.nonEmpty), s"$f -> $cmd")
      assert(cmd.contains("-f mp4") == f.container.nonEmpty, s"$f -> $cmd")
      // unconditional slots always present, in order
      assert(cmd.startsWith("ffmpeg"))
      assert(cmd.contains("-threads 0"))
    }
  }

  test("latestStatus equals the pure forward-only fold for random event soups (Spark batch)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val statuses = Seq("Not Encoding", "encsrv01 - Waiting",
      "encsrv01 - Copying Source 50%", "encsrv01 - Encoding Pass 1",
      "encsrv01 - Moving File", "Done", "encsrv01 - Error")
    val evs = (0 until 400).map { i =>
      JobStream.StatusEvent(i % 40, statuses(rnd.nextInt(statuses.length)),
        new java.sql.Timestamp(1756684800000L + i * 1000L), 0)
    }
    val got = JobStream.latestStatus(evs.toDS()).collect().toMap
    val want = evs.groupBy(_.job_id).view.mapValues { es =>
      es.sortBy(e => (e.ts.getTime, JobStream.rank(e.status)))
        .foldLeft(Option.empty[(String, Int)]) { (cur, e) =>
          val r = JobStream.rank(e.status)
          cur match {
            case Some((_, cr)) if r < cr => cur
            case _ => Some((e.status, r))
          }
        }.map(_._1).getOrElse("Not Encoding")
    }.toMap
    assert(got == want)
  }

  test("MinHash signature is set-semantic and matches a local mix recomputation (Spark batch)") {
    import spark.implicits._
    import graft.queries.TextQueries
    // random shingle bag with forced duplicates across 5 docs
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val bag = (0 until 300).map { _ =>
      val d = rnd.nextInt(5).toLong
      val s = Seq.fill(3)(words(rnd.nextInt(words.length))).mkString(" ")
      (d, s)
    }
    val df = bag.toDF("doc_id", "shingle")
    def sigs(in: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
      TextQueries.sigFrom(in).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val viaBag = sigs(df)
    // MinHash minima must ignore duplicate shingles entirely
    assert(viaBag == sigs(df.distinct()))
    // and equal a from-first-principles local recomputation of
    // md5 → 4 hex slices → (v * A_j + B_j) % 2^32 → min per seed
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want: Map[Long, Seq[Any]] = bag.distinct.groupBy(_._1).map {
      case (d, rows) =>
        d -> (0 until TextQueries.NumHashes).map { j =>
          rows.map { case (_, s) =>
            val v = java.lang.Long.parseLong(
              md5hex(s).substring(8 * (j % 4), 8 * (j % 4) + 8), 16)
            (v * TextQueries.mixA(j) + TextQueries.mixB(j)) % TextQueries.MixMod
          }.min: Any
        }
    }
    assert(viaBag == want)
  }

  test("hamming-band join is exact: d6 equals brute-force hamming<=3 over d5 signatures") {
    import graft.queries.TextQueries
    // the pigeonhole claim in d6's scaladoc, checked end-to-end: with 4
    // bands over 64 bits, every pair within hamming 3 shares >=1 band, so
    // the band-join candidates + bit_count verify must equal the O(n^2)
    // scan they replace (on the fixture corpus where n^2 is affordable)
    val sigs = TextQueries.queries("d5_simhash_sig")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def ham(a: (Long, Long, Long), b: (Long, Long, Long)): Int =
      java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
    val want = (for {
      i <- sigs.indices
      j <- (i + 1) until sigs.length
      h = ham(sigs(i), sigs(j)) if h <= TextQueries.SimhashMaxHamming
    } yield {
      val (x, y) =
        if (sigs(i)._1 < sigs(j)._1) (sigs(i), sigs(j)) else (sigs(j), sigs(i))
      (x._1, y._1, h.toLong)
    }).toSet
    val got = TextQueries.queries("d6_simhash_dup_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "fixture corpus must plant at least one near-dup pair")
    assert(got == want)
  }

  test("t29 domain cap honors a non-default budget end-to-end") {
    import graft.queries.TextQueries
    val capped = TextQueries.t29DomainCapWith(spark, sf, cap = 2L).collect()
    val bySource = capped.groupBy(_.getString(1))
    bySource.foreach { case (src, rows) =>
      val kept = rows.count(_.getLong(3) == 1L)
      assert(kept == math.min(2, rows.length),
        s"source $src kept $kept of ${rows.length} under cap 2")
      rows.foreach(r => assert((r.getLong(3) == 1L) == (r.getLong(2) <= 2L),
        s"kept flag diverged from cap_rank under a non-default cap: $r"))
    }
    // the oracled default is the same code path with the fixture constant
    val viaDefault = TextQueries.queries("t29_domain_cap")(spark, sf)
      .collect().map(_.toSeq).toSet
    val viaWith = TextQueries.t29DomainCapWith(spark, sf,
      TextQueries.DomainCap).collect().map(_.toSeq).toSet
    assert(viaDefault == viaWith)
  }

  test("t8 decontamination flags every mutant of a benchmark doc; never a benchmark doc") {
    import graft.queries.TextQueries
    import org.apache.spark.sql.functions.col
    val benchIds = TestSpark.spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 97 == 0).toSet
    assert(benchIds.nonEmpty)
    // a corpus mutant of a benchmark doc shares (nearly) all its shingles
    // with the held-out set — the guaranteed positives the scrub must find
    val planted = benchIds.filter(_ % 5 == 0).map(_ + 1000000L) ++
      benchIds.filter(_ % 7 == 0).map(_ + 2000000L)
    assert(planted.nonEmpty)
    val flagged = TextQueries.queries("t8_decontaminate")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(planted.subsetOf(flagged),
      s"missed planted contamination: ${planted -- flagged}")
    assert(flagged.intersect(benchIds).isEmpty,
      "the held-out set itself must never be flagged")
  }

  test("t10 packing: seq_ids contiguous from 0, every sequence under 2x budget, token mass conserved") {
    import graft.queries.TextQueries
    import org.apache.spark.sql.functions._
    val rows = TextQueries.queries("t10_pack_sequences")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      // a doc starts the sequence its cumsum window lands in and each doc
      // is clamped to the budget, so start positions advance by <= budget:
      // no sequence index is ever skipped...
      assert(rs.map(_._2).sorted.toSeq == (0L until rs.length).toSeq,
        s"seq_id gap for lang $lang")
      rs.foreach { case (_, seqId, nDocs, seqTokens) =>
        assert(nDocs >= 1)
        // ...and a sequence holds docs STARTING in one budget window, each
        // <= budget long, so its token mass is < 2x budget (the straddle
        // bound) — a packer that stopped clamping or mis-assigned blows this
        assert(seqTokens < 2 * 512L, s"oversized seq $seqId in $lang: $seqTokens")
      }
    }
    // conservation: packed token mass equals the clamped per-doc mass —
    // no doc dropped, none counted twice (recomputed off the same corpus)
    val packed = rows.map(_._4).sum
    val direct = TextQueries.queries("t1_token_stats")(spark, sf)
      .select(sum(least(col("n_tokens").cast("bigint"), lit(512L))))
      .collect()(0).getLong(0)
    assert(packed == direct, s"token mass not conserved: $packed vs $direct")
  }

  test("t14 unigram LM: token mass conserved, hapax bounded, scores in range") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t14_unigram_lm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // conservation: the freq-join must neither drop nor duplicate tokens —
    // per-doc n_tokens summed equals t1's independent whitespace count
    val viaT1 = TextQueries.queries("t1_token_stats")(spark, sf)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(rows.map(_._2).sum == viaT1, "token mass not conserved through the freq join")
    rows.foreach { case (id, n, hapax, score) =>
      assert(hapax <= n, s"doc $id: more hapax than tokens")
      // mean of per-token floors of probabilities: in (0, 1e6]
      assert(score >= 0L && score <= 1000000L, s"doc $id: score $score out of range")
    }
    // exact copies (%7 mutants) double their tokens' corpus counts
    // identically, so copy and source must score the same
    val byId = rows.map(r => r._1 -> r._4).toMap
    val copies = rows.map(_._1).filter(id => id >= 2000000L)
    assert(copies.nonEmpty)
    copies.foreach(c => assert(byId(c) == byId(c - 2000000L),
      s"exact copy $c scored differently from its source"))
  }

  test("d10 containment: planted mutants are exactly contained in their sources") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("d10_containment")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // drop-first-word mutant: its shingle SET is a subset of the source's
    // (only the cut-point 3-gram disappears), so shared == |mutant| and the
    // mutant-side containment is exactly 1.0 even where Jaccard is not
    // anchor on ORIGINAL docs (a < 1,000,000): the (source+1e6, source+2e6)
    // mutant-vs-copy pair also differs by 1e6 but points the other way
    val nearPairs = rows.filter { case (a, b, _, _, _) =>
      a < 1000000L && b == a + 1000000L }
    assert(nearPairs.nonEmpty)
    nearPairs.foreach { case (a, b, _, ca, cb) =>
      assert(cb == 1000000L, s"mutant ($a,$b) not fully contained: $cb")
      assert(ca <= 1000000L && ca > 0L, s"source containment out of range: $ca")
    }
    // exact copies: containment 1.0 in BOTH directions
    rows.filter { case (a, b, _, _, _) => a < 1000000L && b == a + 2000000L }
      .foreach { case (a, b, _, ca, cb) =>
        assert(ca == 1000000L && cb == 1000000L, s"exact pair ($a,$b): $ca/$cb")
      }
    // mutant vs exact-copy-of-its-source: the MUTANT side is the contained one
    rows.filter { case (a, b, _, _, _) => a >= 1000000L && b == a + 1000000L }
      .foreach { case (a, b, _, ca, cb) =>
        assert(ca == 1000000L, s"mutant-vs-copy ($a,$b): mutant side not contained: $ca")
      }
    // containment >= jaccard on every pair (|A∩B|/min-side >= |A∩B|/|A∪B|):
    // the structural reason the metric exists
    val jac = TextQueries.queries("d4_jaccard_verify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { case (a, b, _, ca, cb) =>
      jac.get((a, b)).foreach { j =>
        assert(math.max(ca, cb) >= (j * 1e6).toLong - 1,
          s"containment below jaccard on ($a,$b)")
      }
    }
  }

  test("d9 core: pointer jumping converges on a 200-deep chain in O(log d) rounds") {
    import graft.queries.TextQueries
    // a chain 0-1-2-…-200 has diameter 200: plain min-propagation needs 200
    // rounds (the round-7 advisor's failure mode — the old fixed 25-round
    // cap threw on exactly this shape); with the shortcut step the distance
    // to the component min halves per round, so ceil(log2(200))+slack ≈ 10
    val n = 200
    val chain = spark.range(0, n).selectExpr("id as doc_a", "id + 1 as doc_b")
    val res = TextQueries.minLabelComponents(spark, chain)
    val labels = res.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n + 1)
    assert(labels.values.forall(_ == 0L), "chain must collapse to one component (min id 0)")
    assert(res.rounds <= 12,
      s"expected O(log 200) ≈ 9 rounds, took ${res.rounds}")
    // two disjoint chains stay disjoint — no label bleed across components
    val two = spark.range(0, 10).selectExpr("id as doc_a", "id + 1 as doc_b")
      .unionAll(spark.range(100, 110).selectExpr("id as doc_a", "id + 1 as doc_b"))
    val l2 = TextQueries.minLabelComponents(spark, two).labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 10L).forall(l2(_) == 0L) && (100L to 110L).forall(l2(_) == 100L))
  }

  test("d9 reliable checkpoints: prior rounds' files are deleted as the loop advances") {
    import graft.queries.TextQueries
    // with a checkpoint dir configured, each round lands on the (cluster)
    // FS and the PREVIOUS round must be deleted once the new one is
    // durable — Spark's own reliable checkpoints are only GC-cleaned
    // under cleanCheckpoints=true, so a deep loop would otherwise strand
    // O(rounds) copies of the label frame (r8 advice)
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-reliable")
    sc.setCheckpointDir(dir.toString)
    try {
      val chain = spark.range(0, 60).selectExpr("id as doc_a", "id + 1 as doc_b")
      val res = TextQueries.minLabelComponents(spark, chain)
      val labels = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(res.rounds > 2, "fixture must actually loop for the test to mean anything")
      assert(labels.size == 61 && labels.values.forall(_ == 0L),
        "reliable tier must produce the same labels as local checkpoints")
      import scala.jdk.CollectionConverters._
      val roundDirs = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("round-")).toSeq
      assert(roundDirs.size == 1,
        s"only the final round's frame may remain (the result reads it); found: $roundDirs")
    } finally sc.setCheckpointDir(prev.orNull)
  }

  test("d9 convergence: a missing observed metric reads as changed, never as converged") {
    import graft.queries.TextQueries
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.concurrent.{Future, Promise}
    import scala.concurrent.duration.DurationInt
    def metric(n: Long): Future[Row] = Future.successful(new GenericRowWithSchema(
      Array[Any](n), StructType(Seq(StructField("n_changed", LongType)))))
    // the lost listener event: the metric never arrives, so the loop must
    // run one more round rather than recompute from deleted round files
    assert(TextQueries.labelsChanged(Promise[Row]().future, 50.millis))
    assert(TextQueries.labelsChanged(metric(3L), 50.millis))
    assert(!TextQueries.labelsChanged(metric(0L), 50.millis))
  }

  test("d9 components: labels close over every verified pair and equal the component minimum") {
    import graft.queries.TextQueries
    val labels = TextQueries.queries("d9_dedup_components")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val comp = labels.map(l => l._1 -> l._2).toMap
    assert(labels.nonEmpty)
    // every verified near-dup pair ended up in one component — the closure
    // property pairwise d7 lacks and d9 exists to provide
    val pairs = TextQueries.queries("d4_jaccard_verify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    // a component's label is the min of its members; keeper = that min
    labels.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._1).min == c, s"component $c label is not its min member")
      members.foreach { case (id, _, keep) =>
        assert((keep == 1L) == (id == c), s"keeper flag wrong for $id in $c")
      }
    }
  }

  test("t13 chunk dedup finds every chunk of every planted exact copy") {
    import graft.queries.TextQueries
    // an exact doc copy (the %7 mutants, +2,000,000) shares ALL its fixed
    // chunks with its source, so every one of its chunk hashes must appear
    // as a duplicate group spanning >= 2 docs. Chunk hashes recomputed
    // here in pure Scala from the raw documents — not via the operator.
    val got = TextQueries.queries("t13_chunk_dedup")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val sources = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 % 7 == 0)
    assert(sources.nonEmpty)
    for ((id, text) <- sources) {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val chunks = toks.grouped(25).map(c => md5hex(c.mkString(" "))).toSeq
      assert(chunks.nonEmpty)
      for (c <- chunks) {
        assert(got.contains(c), s"chunk of copied doc $id missing from dup groups")
        assert(got(c) >= 2, s"chunk of copied doc $id not spanning both copies")
      }
    }
  }

  test("t15 CDC chunking matches a pure-Scala recompute exactly and realigns where t13 cannot") {
    import graft.queries.TextQueries
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // the operator's CDC definition, recomputed locally: a token OPENS a
    // chunk when its md5-slice % 8 == 0; chunks under 3 tokens dropped
    def cdcChunks(text: String): Seq[String] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val out = scala.collection.mutable.ArrayBuffer[List[String]]()
      var cur = List.empty[String]
      for (t <- toks) {
        val boundary = java.lang.Long.parseLong(md5hex(t).take(8), 16) % 8 == 0
        if (boundary) { if (cur.nonEmpty) out += cur.reverse; cur = Nil }
        cur = t :: cur
      }
      if (cur.nonEmpty) out += cur.reverse
      out.toSeq.filter(_.length >= 3).map(c => md5hex(c.mkString(" ")))
    }
    // full corpus (base + both mutant tiers), chunked locally
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val corpus = base ++
      base.filter(_._1 % 5 == 0).map { case (id, t) =>
        (id + 1000000L, t.replaceFirst("^\\S+\\s+", "")) } ++
      base.filter(_._1 % 7 == 0).map { case (id, t) => (id + 2000000L, t) }
    val chunkDocs = corpus.flatMap { case (id, t) => cdcChunks(t).map(_ -> id) }
    val expected = chunkDocs.groupBy(_._1)
      .map { case (c, xs) => c -> xs.map(_._2) }
      .filter(_._2.distinct.length > 1)
      .map { case (c, ids) =>
        c -> (ids.length.toLong, ids.distinct.length.toLong, ids.min) }
    // EXACT operator equality against the local recompute
    val got = TextQueries.queries("t15_cdc_chunk_dedup")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected,
      s"missing=${(expected.keySet -- got.keySet).take(3)} spurious=${(got.keySet -- expected.keySet).take(3)}")
    // the headline: drop-first-word mutants share post-boundary chunks with
    // their sources — the insertion case fixed-boundary t13 provably misses
    val byDoc = corpus.map { case (id, t) => id -> cdcChunks(t).toSet }.toMap
    val nearPairs = base.map(_._1).filter(_ % 5 == 0)
      .map(id => (id, id + 1000000L))
      .filter { case (s, m) => byDoc(s).nonEmpty && byDoc(m).nonEmpty }
    val sharing = nearPairs.count { case (s, m) => (byDoc(s) & byDoc(m)).nonEmpty }
    assert(nearPairs.nonEmpty && sharing * 10 >= nearPairs.length * 9,
      s"CDC realignment failed: only $sharing/${nearPairs.length} mutant pairs share a chunk")
  }

  test("t7 tf-idf: per-doc top-3 is well-formed and scores never increase with rank") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t7_tfidf_terms")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val byRk = rs.sortBy(_._4)
      assert(byRk.map(_._4).toSeq == (1 to byRk.length), s"rank gap in doc $doc")
      assert(byRk.length <= 3, s"more than 3 terms for doc $doc")
      // monotone on the integer micro-score (the rank key), token-asc ties
      byRk.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
            s"rank order violates (score desc, token asc) in doc $doc")
        case _ =>
      }
    }
  }

  test("t16 Gopher rules: keep is exactly the conjunction of the emitted signals, and discriminates") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t16_gopher_rules")(spark, sf).collect()
    assert(rows.nonEmpty)
    var kept = 0L
    rows.foreach { r =>
      val (n, mean, alpha, sym, stops, keep) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      val expect = n >= 30L && n <= 10000L &&
        mean >= 3000000L && mean <= 10000000L &&
        alpha >= 800000L && sym < 100000L && stops >= 2L
      assert(keep == (if (expect) 1L else 0L),
        s"doc ${r.getLong(0)}: keep=$keep but signals say $expect")
      kept += keep
    }
    // the thresholds must actually split the corpus — a filter that keeps
    // everything (or nothing) is a no-op wearing a published rule's name
    assert(kept > 0 && kept < rows.length,
      s"non-discriminative: kept $kept of ${rows.length}")
  }

  test("t17 bigram LM: transition mass conserved, novel bounded, copies score identically") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t17_bigram_lm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // conservation: every doc with n >= 2 tokens contributes exactly n-1
    // transitions — the count-table joins must neither drop nor duplicate
    val viaT1 = TextQueries.queries("t1_token_stats")(spark, sf)
      .select(sum(greatest(col("n_tokens").cast("bigint") - 1L, lit(0L))))
      .collect()(0).getLong(0)
    assert(rows.map(_._2).sum == viaT1,
      "transition mass not conserved through the bigram count joins")
    rows.foreach { case (id, n, novel, score) =>
      assert(novel <= n, s"doc $id: more novel transitions than transitions")
      // mean of per-transition floors of P(w2|w1): in [0, 1e6]
      assert(score >= 0L && score <= 1000000L, s"doc $id: score $score out of range")
    }
    // exact copies (%7 mutants) contribute identical transitions, so the
    // corpus conditional distribution scores copy and source the same —
    // and their shared transitions occur >= 2 times, so neither has novels
    val byId = rows.map(r => r._1 -> r).toMap
    val copies = rows.map(_._1).filter(_ >= 2000000L)
    assert(copies.nonEmpty)
    copies.foreach { c =>
      val (_, n, novel, score) = byId(c)
      val (_, n0, novel0, score0) = byId(c - 2000000L)
      assert(n == n0 && score == score0,
        s"copy $c diverges from source: ($n,$score) vs ($n0,$score0)")
      assert(novel == 0L && novel0 == 0L,
        s"copy pair $c has novel transitions despite two occurrences")
    }
  }

  test("t18 dup-ngram fraction: bounded, mass-conserved, copies fully duplicated") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t18_dup_ngram_frac")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, dup, frac) =>
      assert(dup >= 0L && dup <= n, s"doc $id: $dup dup of $n positions")
      assert(frac >= 0L && frac <= 1000000L, s"doc $id: frac $frac out of range")
    }
    // shingle-position mass: every doc with n >= 3 tokens has exactly
    // n-2 positions — recomputed independently via t1's token counts
    val viaT1 = TextQueries.queries("t1_token_stats")(spark, sf)
      .select(sum(greatest(col("n_tokens").cast("bigint") - 2L, lit(0L))))
      .collect()(0).getLong(0)
    assert(rows.map(_._2).sum == viaT1,
      "shingle position mass not conserved through the count join")
    // an exact copy (%7 mutant) shares EVERY shingle with its source, so
    // both ends of the pair must be 100% duplicated
    val byId = rows.map(r => r._1 -> r._4).toMap
    val copies = rows.map(_._1).filter(_ >= 2000000L)
    assert(copies.nonEmpty)
    copies.foreach { c =>
      assert(byId(c) == 1000000L && byId(c - 2000000L) == 1000000L,
        s"copy pair $c not fully duplicated: ${byId(c)} / ${byId(c - 2000000L)}")
    }
    // the signal must discriminate: not every doc is boilerplate
    assert(rows.exists(_._4 < 1000000L), "every doc fully duplicated — signal is vacuous")
  }

  test("t27 dup-span coverage: bounded, copies fully covered, span union not a sum") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t27_dup_span_coverage")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, cov, frac) =>
      // the union semantics make coverage a POSITION count: it can never
      // exceed the doc's length, whatever the window multiplicity
      assert(cov >= 0L && cov <= n, s"doc $id: covered $cov of $n tokens")
      assert(frac >= 0L && frac <= 1000000L, s"doc $id: frac $frac")
      if (n < 8) assert(cov == 0L, s"doc $id: too short to window but covered")
    }
    // an exact copy (%7 mutant) shares EVERY window with its source: both
    // ends of the pair are fully covered end to end
    val byId = rows.map(r => r._1 -> (r._2, r._4)).toMap
    val copies = rows.map(_._1).filter(id => id >= 2000000L && byId(id)._1 >= 8L)
    assert(copies.nonEmpty)
    copies.foreach { c =>
      assert(byId(c)._2 == 1000000L && byId(c - 2000000L)._2 == 1000000L,
        s"copy pair $c not fully covered: ${byId(c)} / ${byId(c - 2000000L)}")
    }
    // discrimination: some docs carry no long shared span at all
    assert(rows.exists(_._4 < 1000000L), "every doc fully covered — vacuous")
  }

  test("t32 span scrub: canonical copy untouched, its exact copy scrubbed empty, cuts bounded by t27 coverage") {
    import graft.queries.TextQueries
    val scrub = TextQueries.queries("t32_span_scrub")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val cover = TextQueries.queries("t27_dup_span_coverage")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scrub.nonEmpty)
    scrub.foreach { case (id, (n, kept, removed, text)) =>
      assert(kept + removed == n, s"doc $id: token mass not conserved")
      // the scrub can only cut positions t27 counts as covered — and the
      // canonical occurrence survives, so strictly fewer when it owns any
      assert(removed <= cover(id),
        s"doc $id: removed $removed > covered ${cover(id)}")
      assert((text.isEmpty && kept == 0L) ||
        (text.split("\\s+").length.toLong == kept),
        s"doc $id: scrubbed text does not hold $kept tokens")
    }
    // an exact copy (%7 mutant, id = src + 2000000) shares EVERY window
    // with its lower-id source: the source is canonical everywhere (id
    // order) and keeps all tokens; the copy loses all of them
    val copies = scrub.keys.filter(id =>
      id >= 2000000L && id < 3000000L && scrub(id)._1 >= 8L)
    assert(copies.nonEmpty)
    copies.foreach { c =>
      // the copy's every window also lives in its lower-id source, so the
      // owner is always <= src < c: the copy never keeps a single token
      // (the source itself may duplicate an even-lower base doc — the
      // fixture has exact-dup groups — so only the GREATER side is pinned)
      assert(scrub(c)._3 == scrub(c)._1, s"copy $c not fully scrubbed")
    }
    // discrimination: canonical/unique docs keep text; fully-covered
    // non-owners lose it all — both poles must occur
    assert(scrub.values.exists(v => v._3 == 0L && v._1 > 0L),
      "no doc survived untouched — vacuous")
    assert(scrub.values.exists(_._4.nonEmpty), "all scrubbed empty — vacuous")
  }

  test("t28 mix solver: limiting language saturates, no upsampling, realized shares hit targets") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t28_mix_solver")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 5, rows.mkString(";"))
    // the configured mix is a complete distribution
    assert(rows.map(_._3).sum == 1000000L)
    rows.foreach { case (l, avail, _, take, rate) =>
      // no-upsampling solve: never take more than exists, rate <= 1
      assert(take <= avail, s"$l upsampled: $take > $avail")
      assert(rate >= 0L && rate <= 1000000L, s"$l rate $rate")
    }
    // the limiting language fills (floor slack < one share unit of tokens)
    val maxRate = rows.map(_._5).max
    assert(maxRate >= 999000L, s"no language saturates: $rows")
    // realized shares reproduce the targets within floor slack: each
    // take_l/sum(takes) is within 1% relative of share_l
    val total = rows.map(_._4).sum.toDouble
    rows.foreach { case (l, _, share, take, _) =>
      val realized = take / total * 1000000.0
      assert(math.abs(realized - share) <= share * 0.01 + 1,
        s"$l realized $realized vs target $share")
    }
  }

  test("e13 retention: offset 0 equals cohort size and dominates every later offset") {
    import graft.queries.EventQueries
    val rows = EventQueries.e13RetentionCohorts(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (c, off, n) =>
      assert(off >= 0L, s"cohort $c: negative offset $off")
      assert(n > 0L, s"cohort $c offset $off: zero users")
    }
    // every member is active on its own first day, and any later-day set
    // is a subset of the cohort — so offset 0 is the row max per cohort
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val day0 = rs.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $c has no offset-0 row")
      assert(rs.forall(_._3 <= day0.get._3),
        s"cohort $c: an offset outnumbers the cohort itself")
    }
    // conservation: summing each cohort's offset-0 count recovers the
    // distinct-user population
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(byCohort.values.map(_.find(_._2 == 0L).get._3).sum == users)
  }

  test("e14 funnel: depth matches the null pattern and steps respect order + windows") {
    import graft.queries.EventQueries
    val rows = EventQueries.e14FunnelSteps(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tv, tc, tp, depth) =
        (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getInt(4))
      assert(depth == 1 + tc.size + tp.size, s"depth $depth vs nulls ($tc, $tp)")
      assert(tp.isEmpty || tc.nonEmpty, "purchase step without click step")
      tc.foreach { c =>
        assert(c > tv && c <= tv + 3600L * 1000000L, s"click $c outside view window")
      }
      (tc, tp) match {
        case (Some(c), Some(p)) =>
          assert(p > c && p <= c + 86400L * 1000000L, s"purchase $p outside click window")
        case _ => ()
      }
    }
    // step-1 universe: exactly the users with any view event
    val viewers = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "view")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(rows.length.toLong == viewers)
  }

  test("t23 Zipf mass: shares monotone, bounded, and types never exceed tokens") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t23_zipf_mass")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nTok, nTyp, top10, top100, ttr) =>
      assert(nTyp >= 1L && nTyp <= nTok, s"$lang: $nTyp types of $nTok tokens")
      assert(top10 <= top100, s"$lang: top10 share $top10 > top100 share $top100")
      assert(top100 <= 1000000L && ttr <= 1000000L, s"$lang: share out of range")
      // a natural-language slice concentrates: its 10 hottest types carry
      // more than a uniform distribution's share of the mass
      assert(top10 * nTyp >= 10L * 1000000L - nTyp,
        s"$lang: top-10 mass below the uniform floor — ranking is broken")
    }
  }

  test("t25 DSIR scores discriminate the target slice: en mean positive, every other negative") {
    import graft.queries.TextQueries
    val scores = TextQueries.queries("t25_dsir_score")(spark, sf)
      .join(graft.plans.Tables.table(spark, sf, "documents")
        .select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang").agg(avg(col("dsir_units")).as("mean"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the score's whole purpose: the target (en) slice must rank above
    // EVERY other language's mean, and be the only positive-mean slice —
    // an exactness-green but non-discriminating score would be useless
    val en = scores("en")
    scores.filterNot(_._1 == "en").foreach { case (lang, m) =>
      assert(en > m, s"en mean $en not above $lang mean $m")
      assert(m < 0, s"non-target $lang has positive mean $m")
    }
    assert(en > 0, s"target slice mean not positive: $en")
  }

  test("t24 priority sample equals a local Duffield-Lund-Thorup recomputation") {
    import graft.queries.TextQueries
    val got = TextQueries.queries("t24_priority_sample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.map { case (src, id, nc) =>
      val h = java.lang.Long.parseLong(md5hex(s"ps:$id").substring(0, 8), 16)
      val pri = BigDecimal((nc * 4294967296L).toDouble / (h + 1).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (src, id, pri)
    }.groupBy(_._1).flatMap { case (src, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(TextQueries.PrioritySampleK)
        .zipWithIndex.toSeq
        .map { case ((_, id, pri), i) => (src, id, pri, i + 1L) }
    }.toSet
    assert(got.toSet == want, "sample membership, priorities, or ranks diverge")
  }

  test("t29 domain cap: per-source kept count is min(cap, n_docs), ranks a permutation") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t29_domain_cap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq,
        s"cap_rank not a permutation for $src")
      val kept = rs.count(_._4 == 1L)
      assert(kept == math.min(TextQueries.DomainCap, rs.length.toLong),
        s"$src kept $kept of ${rs.length}")
      // the kept set is exactly the rank <= cap prefix
      rs.foreach { case (id, _, rk, k) =>
        assert((k == 1L) == (rk <= TextQueries.DomainCap), s"doc $id") }
    }
  }

  test("t30 per-doc packing: layout equals a local greedy recompute per source") {
    import graft.queries.TextQueries
    val rows = TextQueries.queries("t30_sequence_pack")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val b = TextQueries.PackSeqTokens
    rows.groupBy(_._2).foreach { case (src, rs) =>
      var prior = 0L
      rs.sortBy(_._1).foreach { case (id, _, n, seqIdx, off) =>
        assert(off >= 0 && off < b, s"doc $id offset $off out of budget")
        assert(seqIdx == prior / b && off == prior % b,
          s"doc $id in $src: got ($seqIdx,$off), want (${prior / b},${prior % b})")
        prior += n
      }
    }
  }
}
