package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once parquet snapshots of shared bases, keyed by (input dir,
  * name) — one snapshot per input dataset, REUSED ACROSS PROCESSES.
  *
  * Shared bases are CHECKPOINTED to local parquet rather than persist()ed:
  * round 4's driver bench ran 2.11x of the recorded baseline because RAM
  * caches did not stay resident under the driver environment's heap
  * pressure, and round 8 repeated the lesson for the one base left
  * evictable. A parquet checkpoint costs one deterministic write and makes
  * every downstream read a plain (OS-page-cached) scan that no GC or
  * eviction can invalidate. This is also the honest 100 TB shape:
  * multi-pass dedup pipelines checkpoint the shingle/candidate/signature
  * tables between passes; a 1000-executor job would use HDFS/S3 where this
  * uses target/graft-ckpt-shared.
  *
  * Cross-process reuse (round 12): through round 11 the snapshot root was
  * UUID-fresh per JVM, so every bench/verify process re-paid the full
  * build — warm_media_sigs alone was 24% of the r11 driver bench total.
  * The root is now stable and each snapshot dir embeds a FIXTURE STAMP
  * (md5 over the sorted (relative path, size, mtime) listing of the input
  * dir) plus a logic epoch: a later process whose inputs are byte-for-byte
  * the same files reuses the parquet directly and warm collapses to a
  * staleness check; any change to the input data (or to build semantics,
  * via [[logicEpoch]]) lands on a different path and rebuilds. A marker
  * file written only after the parquet commit gates reuse, so a crashed
  * half-written build is never served. Stale stamps of the same
  * (name, dir) are deleted on rebuild to bound disk growth.
  *
  * Factored out of TextQueries in round 9 so the multimodal signature
  * tables (decode + fingerprint — the m-block's expensive shared pass)
  * ride the same machinery instead of re-deriving per query.
  */
object Snapshot {

  /** Bump when ANY snapshot build's semantics change: the stamp embeds it,
    * so every pre-existing snapshot goes stale at once. (Per-callsite revs
    * would be finer-grained, but a missed bump silently serves stale data
    * — one epoch, bumped on any build change, is the safe contract.) */
  private val logicEpoch = "e18a" // r18: repartition-width builds; fps derives from toks

  /** Escape hatch for dev loops: -Dgraft.snapshot.reuse=false forces
    * every build to run, ignoring and overwriting on-disk snapshots. The
    * driver never sets it. */
  private def reuseEnabled: Boolean =
    sys.props.get("graft.snapshot.reuse").forall(_.toLowerCase != "false")

  /** One registered snapshot: its promise, and the fixture stamp its
    * build or adoption ran under (null until the winner has computed it). */
  private final class Entry {
    val promise = scala.concurrent.Promise[DataFrame]()
    @volatile var stamp: String = null
  }

  private val promises =
    scala.collection.mutable.Map[(String, String), Entry]()

  /** Completed snapshot paths built or adopted by THIS JVM — the byte
    * accounting ([[bytes]]) must reflect the bases in use, not whatever
    * other-SF leftovers share the root. */
  private val livePaths =
    scala.collection.mutable.Map[(String, String), java.nio.file.Path]()

  /** (name, "reused"|"built", seconds) per checkpointed() resolution in
    * this JVM, in order — Bench ships it in bench_out.json so a driver-run
    * warm entry is self-describing: 25 s + "built" is a cold host paying
    * the decode once; 25 s + "reused" would be a real regression. */
  private val outcomes =
    scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
  def lastOutcomes: Seq[(String, String, Double)] =
    outcomes.synchronized(outcomes.toSeq)

  /** Test hook: forget this JVM's promises/paths/outcomes so the next
    * checkpointed() call replays the cross-PROCESS path (disk probe +
    * marker check) inside one test JVM. Leaves disk untouched. */
  private[graft] def resetForTest(): Unit = {
    promises.synchronized(promises.clear())
    livePaths.synchronized(livePaths.clear())
    outcomes.synchronized(outcomes.clear())
  }

  /** Stale same-key stamps and orphaned temp dirs younger than this are
    * left alone (a sibling process may still read/commit them); older
    * ones are garbage. Bench/verify processes live minutes. */
  private val EvictAfterMs = 60L * 60 * 1000

  /** Entries of ANY key older than this are swept once per JVM — bounds
    * root growth from never-recurring keys (test temp-dir fixtures,
    * abandoned datasets) that the same-key stale eviction can never hit. */
  private val ExpireAfterMs = 24L * 60 * 60 * 1000

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "target", "graft-ckpt-shared")
    java.nio.file.Files.createDirectories(p)
    // once per JVM: sweep expired entries and aged orphaned temps. Lock
    // files are exempt: deleting one while a process holds its lock would
    // let a third process lock a fresh inode and break mutual exclusion.
    val now = System.currentTimeMillis()
    Option(p.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith(".lock-"))
      .filter(f => f.lastModified() < now - ExpireAfterMs ||
        (f.getName.startsWith(".tmp-") &&
          f.lastModified() < now - EvictAfterMs))
      .foreach(f => deleteTree(f.toPath))
    p
  }

  /** Collision-proof path component: two distinct input dirs must never
    * share a snapshot path (a 32-bit hashCode collision would let the
    * second `overwrite` silently replace the first dataset's files while
    * its DataFrame still lazily reads them). */
  private[graft] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Content stamp of an input dir: md5 over the sorted (relative path,
    * size, mtime-millis, head/tail probe) listing plus [[logicEpoch]]. A
    * listing digest — not a full content digest — because the fixture
    * tables are parquet the driver regenerates atomically; hashing 100s of
    * MB of bytes per bench run would cost more than the reuse saves. The
    * PROBE (first+last 4 KB of each file, r12 advice) closes the
    * coarse-mtime hole: a fixture regenerated with identical file sizes
    * inside the filesystem's mtime granularity still flips the stamp,
    * because a parquet rewrite perturbs its footer (row-group stats,
    * created_by, offsets) even when the logical data is close — 8 KB per
    * file is metadata-cheap next to the build the stamp guards.
    * `_temporary`/`_SUCCESS` bookkeeping files are skipped (commit-time
    * noise, not data). */
  private def fixtureStamp(dir: String): String = {
    val base = java.nio.file.Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new StringBuilder(logicEpoch)
    def probe(f: java.io.File): String = {
      val buf = new Array[Byte](4096)
      try {
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          md.reset()
          var n = raf.read(buf)
          if (n > 0) md.update(buf, 0, n)
          val tail = math.max(raf.length() - 4096, math.max(n, 0).toLong)
          if (tail < raf.length()) {
            raf.seek(tail)
            n = raf.read(buf)
            if (n > 0) md.update(buf, 0, n)
          }
          md.digest().map(b => f"$b%02x").mkString
        } finally raf.close()
      } catch { case scala.util.control.NonFatal(_) => "unreadable" }
    }
    def walk(f: java.io.File): Unit =
      if (f.getName != "_temporary")
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
            .foreach(walk)
        else if (!f.getName.startsWith("_SUCCESS")) {
          sb.append('|').append(base.relativize(f.toPath).toString)
            .append(':').append(f.length())
            .append(':').append(f.lastModified())
            .append(':').append(probe(f))
        }
    walk(base.toFile)
    md5Hex(sb.toString)
  }

  /** Best-effort recursive delete, errors swallowed — shared by the
    * snapshot sweeps and [[graft.sinks.LandingSink]]'s temp-dir hygiene
    * (one definition so a future fix cannot miss a copy). */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    } catch { case scala.util.control.NonFatal(_) => }

  /** Build-once parquet snapshot of a shared base. The build itself runs
    * distributed; only the resulting table is written, coalesced to
    * `files` output files — these bases are a few MB against heavy
    * lineage, and a 32-file table pays listing/open cost on every
    * downstream scan. Subsequent calls — including self-joins reading the
    * frame twice — scan the files; subsequent PROCESSES over unchanged
    * inputs reuse them without rebuilding.
    *
    * Registration is promise-per-key: the registry lock is held only to
    * install the promise, never during a build, so concurrent callers of
    * the SAME key await one build while builds of DIFFERENT keys — and
    * re-entrant dependency builds like jpairs → cands → shingles —
    * proceed in parallel. That is what lets the warm passes overlap the
    * base builds as independent Spark jobs. */
  def checkpointed(spark: SparkSession, dir: String, name: String,
      files: Int = 1)(build: => DataFrame): DataFrame = {
    val entry = new Entry
    val fresh = entry.promise
    val (winner, promise) = promises.synchronized {
      promises.get((dir, name)) match {
        case Some(prior) => (false, prior.promise)
        case None => promises((dir, name)) = entry; (true, fresh)
      }
    }
    if (winner) {
      val t0 = System.nanoTime()
      try {
        val stamp = fixtureStamp(dir)
        entry.stamp = stamp
        val dirTag = s"$name-${md5Hex(dir)}"
        val path = root.resolve(s"$dirTag-$stamp")
        val marker = path.resolve("_GRAFT_OK")
        val fit = reuseEnabled && java.nio.file.Files.exists(marker)
        if (fit) {
          // refresh the dir's age: the expiry sweep keys on mtime, and a
          // snapshot being reused right now must not be reclaimable by a
          // sibling process's sweep while this one lazily reads it
          path.toFile.setLastModified(System.currentTimeMillis())
        }
        if (!fit) {
          // evict stale stamps of this (name, dir) BEFORE building — but
          // only AGED ones (> EvictAfterMs): an immediately-started sibling
          // process may still be lazily reading the old stamp (its own
          // stamp predates the fixture regeneration), and deleting under
          // it crashes its scans. Aged stamps can have no live reader: a
          // bench/verify process lives minutes, not an hour.
          Option(root.toFile.listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.startsWith(dirTag + "-") &&
              f.getName != path.getFileName.toString &&
              f.lastModified() < System.currentTimeMillis() - EvictAfterMs)
            .foreach(f => deleteTree(f.toPath))
          // build into a process-unique temp dir, then commit under a
          // cross-process FILE LOCK: the build itself (minutes) runs
          // unlocked in parallel across processes; only the adopt-vs-claim
          // decision serializes. The lock closes both review-found races:
          // a marker check + deleteTree interleaving with a sibling's
          // rename (which could delete a just-committed snapshot under
          // its live reader), and two rename losers double-claiming. A
          // crash mid-build leaves only an orphaned .tmp- dir for the
          // sweeper — the final path is never observable half-written.
          val tmp = root.resolve(
            s".tmp-${path.getFileName}-${java.util.UUID.randomUUID()}")
          // repartition, NOT coalesce (r18 optimization round): coalesce
          // back-propagates through the build's narrow chain and fused the
          // ENTIRE build — tokenize, minhash, decode — onto `files` tasks
          // (files=1 ⇒ a single-core build on a 32-core host; measured:
          // the built-mode warm pass ran its per-row compute at width 1-4
          // because the small fixture parquets scan as one split). The
          // round-robin exchange decouples build width from file count:
          // compute runs at the plan's own parallelism, only the
          // already-small RESULT is shuffled into `files` output files.
          // Row-to-file assignment stays deterministic
          // (sortBeforeRepartition, on by default) and no consumer
          // depends on file layout — every oracled query re-sorts.
          build.repartition(files).write.mode("overwrite").parquet(tmp.toString)
          java.nio.file.Files.write(tmp.resolve("_GRAFT_OK"),
            stamp.getBytes("UTF-8"))
          val lockCh = java.nio.channels.FileChannel.open(
            root.resolve(s".lock-$dirTag"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            val lk = lockCh.lock() // blocks until the sibling commits
            try {
              if (reuseEnabled && java.nio.file.Files.exists(marker)) {
                // a sibling committed a complete snapshot while we built:
                // adopt it, discard ours
                deleteTree(tmp)
              } else {
                // claim the path — also the reuse=false OVERWRITE
                // contract: a dev run with reuse disabled must replace
                // whatever is on disk, never silently serve it
                deleteTree(path)
                java.nio.file.Files.move(tmp, path,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              }
            } finally lk.release()
          } finally lockCh.close()
        }
        outcomes.synchronized {
          outcomes += ((name, if (fit) "reused" else "built",
            (System.nanoTime() - t0) / 1e9))
        }
        livePaths.synchronized { livePaths((dir, name)) = path }
        fresh.success(spark.read.parquet(path.toString))
      } catch {
        case e: Throwable =>
          // A failed build must not be cached for the JVM's lifetime: drop
          // the key first (under the lock) so the next caller becomes a
          // fresh winner and retries, THEN fail the promise for everyone
          // already awaiting this attempt. Only this attempt's key: a
          // [[dropStale]] may already have replaced it with a newer one.
          promises.synchronized {
            if (promises.get((dir, name)).exists(_ eq entry)) promises.remove((dir, name))
          }
          fresh.failure(e)
      }
    }
    // blocking{}: callers may await from inside a global-EC future (the
    // warm passes); mark the wait so the pool spawns a compensating thread
    // instead of starving the builds it is waiting on.
    val df = scala.concurrent.blocking {
      scala.concurrent.Await.result(promise.future,
        scala.concurrent.duration.Duration.Inf)
    }
    // adoption keep-alive (r12 advice): the winner refreshed the dir's
    // mtime once, at resolution — a LONG-LIVED JVM (interactive session,
    // notebook) that keeps lazily scanning past EvictAfterMs would
    // otherwise have its parquet evicted underneath by a sibling's
    // rebuild. Every consumer call re-touches the dir, so a snapshot ages
    // toward eviction only while genuinely idle. One metadata write per
    // call — noise next to the scan it precedes.
    livePaths.synchronized(livePaths.get((dir, name))).foreach(p =>
      try p.toFile.setLastModified(System.currentTimeMillis())
      catch { case scala.util.control.NonFatal(_) => })
    df
  }

  /** Forget this JVM's snapshots of `dir` that were built or adopted
    * under a fixture stamp other than the dir's current one, so the next
    * [[checkpointed]] call resolves them again over the files as they now
    * stand. The promise memo is keyed by (dir, name), not by stamp, so
    * without this a dir that grows in place (a compaction appending to
    * its corpus) keeps serving the snapshot of its first read. A
    * maintenance pass calls it after re-listing the dir's tables.
    * Snapshots already on the current stamp are kept, and so is a build
    * whose winner has not computed its stamp yet (it will see the current
    * files), so a concurrent caller never drops a build over the current
    * data. No snapshot of `dir` in this JVM: nothing is stamped. */
  def dropStale(dir: String): Unit =
    if (promises.synchronized(promises.keys.exists(_._1 == dir))) {
      val now = fixtureStamp(dir)
      promises.synchronized {
        val stale = promises.collect {
          case (k, e) if k._1 == dir && e.stamp != null && e.stamp != now => k
        }.toList
        stale.foreach(promises.remove)
        livePaths.synchronized(stale.foreach(livePaths.remove))
      }
    }

  /** Bytes on disk for the snapshots in use by THIS JVM (bench evidence: a
    * nonzero size proves the consumers read files, not evictable RAM). The
    * shared root may also hold other datasets' snapshots from earlier
    * processes — those are not this run's residency evidence and are
    * excluded.
    *
    * Traversal is java.io.File, NOT Files.walk: the warm pass reads this
    * after every stage WHILE sibling stage futures are still committing
    * their writes, and a commit deletes its `_temporary` dir between a
    * walk's listing and its visit — `Files.walk` then throws
    * NoSuchFileException and the crash surfaces as a spurious
    * warm_text_caches bench failure (caught live in an r9 process:
    * bigrams' accounting read raced simhash's commit). `File.listFiles`
    * returns null for a vanished dir and `length()` 0 for a vanished
    * file — inherently race-tolerant. `_temporary` subtrees are skipped
    * outright: in-flight commit garbage is not residency evidence. */
  def bytes: Long = {
    def sz(f: java.io.File): Long =
      if (f.getName == "_temporary") 0L
      else if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
      else f.length()
    livePaths.synchronized(livePaths.values.toSeq).map { p =>
      // walking the live set anyway — refresh its age against sibling
      // eviction sweeps (the checkpointed() keep-alive's second leg)
      try p.toFile.setLastModified(System.currentTimeMillis())
      catch { case scala.util.control.NonFatal(_) => }
      sz(p.toFile)
    }.sum
  }
}
