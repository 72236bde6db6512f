package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** Cache ownership for the text pipeline's shared state. Since round 9
  * there is ONE tier: every shared base — including the tokenized corpus,
  * the last RAM persist standing — is a parquet CHECKPOINT: files on local
  * disk that no GC or eviction can invalidate. (The round-4 driver bench
  * ran 2.11x of baseline because the dedup bases were RAM caches; the
  * round-8 driver bench re-ran the same failure through the still-persisted
  * tokenized corpus — t5 5.6x, t6 6.4x. Files close the mode for good.)
  * The release API remains for callers and future RAM-cached bases; it
  * must stay a safe no-op today. */
class CacheLifecycleSpec extends AnyFunSuite {
  import TestSpark._

  test("text pipeline pins no executor memory: every shared base is an on-disk checkpoint") {
    TextQueries.releaseCaches() // clean slate: other suites share the session
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet

    // t1 branches off the CHECKPOINTED tokenized corpus
    assert(TextQueries.queries("t1_token_stats")(spark, sf).count() > 0)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(added.isEmpty,
      s"t1 persisted RDDs $added: the text pipeline must not hold RAM caches — " +
        "the r8 driver bench showed the tokenized-corpus persist re-tokenizing " +
        "under memory pressure")
    assert(TextQueries.checkpointBytes > 0,
      "the tokenized corpus must be backed by parquet files, not evictable RAM")

    // release stays a safe no-op: the pipeline answers from files after it
    TextQueries.releaseCaches()
    assert(TextQueries.queries("d1_exact_dedup")(spark, sf).count() > 0)
    TextQueries.releaseCaches()
  }

  test("a failed checkpoint build is retryable, not cached for the JVM's lifetime") {
    // round-6 advice: the promise registry used to keep a FAILED promise
    // under its (dir, name) key, so one transient build error (missing
    // input, disk full, job cancel) poisoned every later query touching
    // that base until restart. Reproduce the transient: build against a
    // directory with no documents.parquet, then supply the file and retry.
    val dir = java.nio.file.Files.createTempDirectory("graft-retry").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    intercept[Exception] {
      TextQueries.queries("d3_minhash_lsh_pairs")(spark, path).count()
    }
    // the input appears (operator retried after the upstream was fixed)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$path/documents.parquet"))
    assert(TextQueries.queries("d3_minhash_lsh_pairs")(spark, path).count() > 0,
      "second call after the transient failure must rebuild, not rethrow the stale exception")
    TextQueries.releaseCaches()
  }

  test("shared dedup bases are on-disk checkpoints that survive releaseCaches") {
    assert(TextQueries.queries("d3_minhash_lsh_pairs")(spark, sf).count() >= 0)
    assert(TextQueries.checkpointBytes > 0,
      "LSH candidates must be backed by parquet files, not evictable RAM")
    TextQueries.releaseCaches()
    // the d-block still answers from files after every persist is gone
    assert(TextQueries.queries("d7_dedup_keep")(spark, sf).count() > 0)
    assert(TextQueries.checkpointBytes > 0)
    TextQueries.releaseCaches()
  }

  test("Tables memo pins the first listing; invalidate(path) picks up a rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tblmemo").toFile
    dir.deleteOnExit()
    val p = new java.io.File(dir, "t.parquet").getAbsolutePath
    Seq(1L, 2L).toDF("x").write.mode("overwrite").parquet(p)
    assert(graft.plans.Tables.parquet(spark, p).count() == 2)
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(p)
    // the memo pins the first listing, so a rewrite-in-place FAILS LOUDLY
    // (the listed part files are gone) — a violated immutable-fixture
    // contract is an error, never silently-stale data
    intercept[org.apache.spark.SparkException] {
      graft.plans.Tables.parquet(spark, p).count()
    }
    graft.plans.Tables.invalidate(p)
    assert(graft.plans.Tables.parquet(spark, p).count() == 3,
      "invalidate must force a fresh listing")
  }
}
