package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.MockRunner
import graft.streaming.JobStream
import graft.streaming.JobStream.{JobRequest, StatusEvent}

/** The benchmark's self-test, at the smallest input size: every metric
  * BENCHMARK.json names comes out with its unit, and every output check
  * rejects a planted corruption. Run with `sbt test` from `perfbench/`. */
class SelfTestSpec extends AnyFunSuite {

  // ---- output checks against planted corruptions ----

  private val jobs = Seq(
    JobRequest(1L, "/vids/raw/1.mov", "/vids/out/1.mp4", 1, 9.0, None, 2, apply_mp4box = false),
    JobRequest(2L, "/vids/raw/2.mov", "/vids/out/2.mp4", 2, 8.0, Some(-23), 2, apply_mp4box = true),
    JobRequest(3L, "/vids/missing/3.mov", "/vids/out/3.mp4", 3, 7.0, None, 1, apply_mp4box = false))
  private val claims = Map(1L -> 0L, 2L -> 0L, 3L -> 1L)
  private val events: Seq[StatusEvent] = jobs.flatMap { j =>
    StatusEvent(j.id, "encsrv01 - Waiting", new java.sql.Timestamp(0L), claims(j.id)) +:
      JobStream.runJob(j, MockRunner, claims(j.id))
  }

  test("dispatch check: clean outputs pass; a job with no terminal status fails") {
    assert(Checks.dispatch(jobs, claims, events).isEmpty)
    val noTerminal = events.filterNot(e => e.job_id == 2L && e.status == "Done")
    val f = Checks.dispatch(jobs, claims, noTerminal)
    assert(f.exists(_.contains("job 2: 0 terminal statuses")), f)
    val unclaimed = Checks.dispatch(jobs, claims - 3L, events)
    assert(unclaimed.exists(_.contains("job 3: claimed 0 times")), unclaimed)
    val reordered = events.map(e =>
      if (e.job_id == 1L && e.status.contains("Pass 1")) e.copy(status = "encsrv01 - Encoding Pass 3") else e)
    assert(Checks.dispatch(jobs, claims, reordered).exists(_.contains("!= serial")))
  }

  test("ingest check: clean outputs pass; a duplicate landed doc fails") {
    def doc(id: Long, src: String) = Checks.Landed(id, src, Seq(id, src, s"text $id", 1L))
    val batch = Seq(doc(1, "a"), doc(2, "a"), doc(3, "a"), doc(4, "b"))
    val landed = Seq(doc(1, "a"), doc(2, "a"), doc(4, "b"))
    assert(Checks.ingest(landed, batch, cap = 2L).isEmpty)
    val dup = Checks.ingest(landed :+ doc(4, "b"), batch, cap = 2L)
    assert(dup.exists(_.contains("doc 4 landed more than once")), dup)
    val changed = landed.updated(0, Checks.Landed(1, "a", Seq(1L, "a", "text 1", 2L)))
    assert(Checks.ingest(changed, batch, cap = 2L).exists(_.contains("differs")))
    assert(Checks.ingest(landed.drop(1), batch, cap = 2L).exists(_.contains("source a")))
  }

  test("batch check: clean outputs pass; a broken conservation count fails") {
    val audits = Seq(Checks.Audit("corpus", Seq(10L, 1L, 0L, 2L, 0L, 7L), 10L, 7L),
      Checks.Audit("vector", Seq(5L, 0L, 1L, 4L), 5L, 4L))
    val retrained = Map("quantizer" -> true, "tokenizer" -> true, "classifier" -> true)
    assert(Checks.batchRound(audits, 100L, 100L, retrained).isEmpty)
    val broken = audits.updated(0, Checks.Audit("corpus", Seq(10L, 1L, 0L, 2L, 0L, 8L), 10L, 8L))
    val f = Checks.batchRound(broken, 100L, 100L, retrained)
    assert(f.exists(_.contains("corpus: arrivals 10 != killed 3 + appended 8")), f)
    assert(Checks.batchRound(audits, 99L, 100L, retrained).exists(_.contains("manifest")))
    assert(Checks.batchRound(audits, 100L, 100L, retrained.updated("tokenizer", false))
      .exists(_.contains("tokenizer did not retrain")))
  }

  // ---- every named metric, with its unit ----

  /** (name, unit) of a metric list in BENCHMARK.json. */
  private def declared(key: String): Set[(String, String)] = {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    (json \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }.toSet
  }

  private val work = "target/selftest"

  for (w <- Workloads.names; traced <- Seq(false, true))
    test(s"$w ${if (traced) "traced" else "timed"} run at the tiny size: correct, every metric with its unit") {
      // a work dir per test: the program memoizes per dataset path
      val r = Main.run(Main.Opts(w, seed = 7L, seconds = 0.1, trace = traced,
        work = s"$work/$w-$traced", cache = s"$work/cache", sizes = Gen.tiny, cores = 2))
      assert(r.correct, r.report("check_failures"))
      assert(r.failed == 0 && r.attempted >= 1)
      val emitted = r.metrics.map { case (n, _, u) => (n, u) }.toSet
      assert(emitted == declared(if (traced) "per_layer" else "end_to_end"))
      assert(r.metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite })
    }
}
