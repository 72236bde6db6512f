package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{TextQueries, VectorQueries}

/** Random-input fuzz over the five native Catalyst expressions. The
  * per-expression specs pin fixture-corpus identity, hand-picked edges,
  * and codegen membership; this suite drives DETERMINISTIC random inputs
  * (seeded, so a failure reproduces) through the nasty corners the
  * fixtures cannot reach — multi-byte UTF-8 at token boundaries,
  * surrogate pairs, lone surrogates, zero-width and control characters,
  * every Java `\s` class mixed freely — and checks each native expression
  * against its Column-chain twin or an independent from-first-principles
  * Scala model (the PropertySpec MinHash discipline). */
class FuzzSpec extends AnyFunSuite {
  import TestSpark._

  /** The fuzz alphabet: ASCII, all six `\s` chars, whitespace look-alikes
    * that `\s` must NOT match (NBSP, U+3000, U+2028, NEL, zero-width),
    * multi-byte (CJK, emoji surrogate pair, combining accent), controls,
    * and a LONE surrogate (exercises the UTF-8 replacement path the same
    * way on both sides — String.getBytes and UTF8String agree on '?'). */
  private val Alphabet: Vector[String] = Vector(
    "a", "b", "Z", "9", ".", "|", "-",
    " ", "\t", "\n", "\u000B", "\f", "\r", // the six \s classes
    "\u00A0", "\u3000", "\u2028", "\u0085", "\u200B", // NBSP, ideographic space, LS, NEL, ZWSP
    "\u6C49", "\u5B57", "\u00E9", "e\u0301", // CJK; precomposed + combining e-acute
    "\uD83D\uDE00", // emoji (surrogate pair)
    "\u0001", // control
    "\uD800") // lone surrogate

  private def randomText(rnd: scala.util.Random): String = {
    val n = rnd.nextInt(60)
    (0 until n).map(_ => Alphabet(rnd.nextInt(Alphabet.length))).mkString
  }

  private def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8"))
    .map("%02x".format(_)).mkString

  test("tokenize_words and band_keys equal their chains on 600 random unicode strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(1302)
    val texts = (0 until 600).map(i => (i.toLong, randomText(rnd)))
    val diff = texts.toDF("id", "text")
      .select(col("id"),
        TextQueries.toksCol(col("text")).as("nt"),
        HofForms.toksHofCol(col("text")).as("ht"),
        TextQueries.bandKeysCol(col("text")).as("nb"),
        HofForms.bandKeysHofCol(col("text")).as("hb"))
      .filter(!(col("nt") <=> col("ht")) || !(col("nb") <=> col("hb")))
      .collect()
    assert(diff.isEmpty,
      s"native/chain diverge on ${diff.length} inputs, e.g. ${diff.take(2).toSeq}")
  }

  test("simhash_sig equals a from-first-principles vote model on random token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(1303)
    // tokens are arbitrary non-null strings here (null-slot semantics are
    // pinned separately in SimhashSigSpec): 1..12 tokens per doc, with
    // duplicates forced so per-occurrence voting is exercised
    val docs = (0 until 200).map { i =>
      val base = Vector.fill(1 + rnd.nextInt(8))(randomText(rnd))
      val withDups = base ++ Vector.fill(rnd.nextInt(4))(
        base(rnd.nextInt(base.length)))
      (i.toLong, withDups)
    }
    val got = docs.toDF("id", "toks")
      .select(col("id"), call_function("simhash_sig", col("toks")).as("s"))
      .select(col("id"), col("s.sim_hi"), col("s.sim_lo"),
        col("s.b0"), col("s.b1"), col("s.b2"), col("s.b3"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    docs.foreach { case (id, toks) =>
      val votes = new Array[Int](64)
      toks.foreach { t =>
        val hx = md5hex(t)
        val hhi = java.lang.Long.parseLong(hx.substring(0, 8), 16)
        val hlo = java.lang.Long.parseLong(hx.substring(8, 16), 16)
        var b = 0
        while (b < 64) {
          val bit = if (b < 32) (hlo >> b) & 1L else (hhi >> (b - 32)) & 1L
          votes(b) += (if (bit == 1L) 1 else -1)
          b += 1
        }
      }
      def quarter(lo: Int): Long =
        (0 until 16).map(j => if (votes(lo + j) > 0) 1L << j else 0L).sum
      val want = (quarter(32) + quarter(48) * 65536L,
        quarter(0) + quarter(16) * 65536L,
        quarter(0), quarter(16), quarter(32), quarter(48))
      assert(got(id) == want, s"doc $id toks=$toks: ${got(id)} != $want")
    }
  }

  test("minhash_sigs equals a from-first-principles shingle model on random token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(1304)
    val docs = (0 until 200).map { i =>
      (i.toLong, Vector.fill(3 + rnd.nextInt(10))(randomText(rnd)))
    }
    val got = docs.toDF("id", "toks")
      .select(col("id"), call_function("minhash_sigs", col("toks")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    docs.foreach { case (id, toks) =>
      // full 3-windows joined by ' ', set-semantic, per-seed mixed minimum
      val shingles = toks.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
      val want = (0 until TextQueries.NumHashes).map { j =>
        shingles.map { s =>
          val v = java.lang.Long.parseLong(
            md5hex(s).substring(8 * (j % 4), 8 * (j % 4) + 8), 16)
          (v * TextQueries.mixA(j) + TextQueries.mixB(j)) % TextQueries.MixMod
        }.min
      }
      assert(got(id) == want, s"doc $id toks=$toks: ${got(id)} != $want")
    }
  }

  test("float_dot equals the HOF fold bit-for-bit on random vectors with specials") {
    import spark.implicits._
    val rnd = new scala.util.Random(1305)
    val specials = Array(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, 0.0f, -0.0f, Float.MinPositiveValue,
      Float.MaxValue, -1e-38f)
    def vec(n: Int): Seq[Float] = (0 until n).map { _ =>
      if (rnd.nextInt(5) == 0) specials(rnd.nextInt(specials.length))
      else (rnd.nextFloat() - 0.5f) * 2e3f
    }
    val rows = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(16)
      (i.toLong, vec(n), vec(n))
    }
    val got = rows.toDF("id", "x", "y")
      .select(col("id"),
        call_function("float_dot", col("x"), col("y")).as("native"),
        HofForms.dotHof(col("x"), col("y")).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }
}
