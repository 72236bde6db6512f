package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-entry host-regime record Bench ships in bench_out.json
  * (round 12; PSI + timestamps round 15): the deltas must be well-formed
  * JSON with sane ranges on a live Linux host, and degrade to zeros
  * rather than throw elsewhere. */
class HostTelemetrySpec extends AnyFunSuite {

  private val keySet = Set("t0", "load1", "sys", "self", "other", "steal",
    "jif_rate", "pgmf",
    "psi_io_some_us", "psi_io_full_us", "psi_mem_some_us", "psi_mem_full_us",
    "psi_cpu_some_us", "psi_cpu_full_us")

  test("sample/deltaJson: valid JSON, fractions in [0,1], self <= sys + epsilon") {
    val a = HostTelemetry.sample()
    // burn a little CPU so the window is non-empty
    var x = 0L; (1 to 20000000).foreach(i => x += i); assert(x > 0)
    Thread.sleep(50)
    val b = HostTelemetry.sample()
    val j = HostTelemetry.deltaJson(a, b)
    val m = "\"(\\w+)\":([0-9.]+)".r.findAllMatchIn(j)
      .map(g => g.group(1) -> g.group(2).toDouble).toMap
    assert(m.keySet == keySet, j)
    assert(m("sys") >= 0.0 && m("sys") <= 1.0, j)
    assert(m("self") >= 0.0 && m("self") <= 1.0, j)
    assert(m("other") >= 0.0, j)
    // self > 0 would be flaky: the burn is 1–2 scheduler ticks, which on
    // a many-core host rounds to 0.000 of the all-CPU jiffy total
    // other = max(sys - self, 0) by construction
    assert(m("other") <= m("sys") + 1e-9, j)
    // t0 is the WINDOW START's wall clock — a real recent epoch ms
    assert(m("t0") >= 1.7e12 && m("t0") <= System.currentTimeMillis().toDouble, j)
    // PSI deltas are non-negative µs (zeros on hosts without CONFIG_PSI)
    Seq("psi_io_some_us", "psi_io_full_us", "psi_mem_some_us",
      "psi_mem_full_us", "psi_cpu_some_us", "psi_cpu_full_us")
      .foreach(k => assert(m(k) >= 0.0, j))
    // steal is a fraction of the jiffy total; jif_rate ≈ 1 on a live
    // healthy host (allow generous slack for tick rounding on a short
    // window — what matters is it is present, positive, and not wildly
    // above 1)
    assert(m("steal") >= 0.0 && m("steal") <= 1.0, j)
    assert(m("jif_rate") > 0.1 && m("jif_rate") < 2.0, j)
  }

  test("statCpus counts /proc/stat's own cpuN lines (not the JDK's " +
      "quota-aware availableProcessors)") {
    val s = HostTelemetry.sample()
    val expected = scala.io.Source.fromFile("/proc/stat").getLines()
      .count(l => l.startsWith("cpu") && l.length > 3 && l.charAt(3).isDigit)
    assert(s.statCpus == expected)
    assert(s.statCpus >= 1) // live Linux host
  }

  test("jif_rate arithmetic pins to the same-document CPU count") {
    // synthetic window: 4 kernel-visible CPUs, 1 s wall, aggregate jiffies
    // advanced exactly 4 CPUs x 100 Hz x 1 s = 400 => rate 1.0 regardless
    // of what availableProcessors() reads in this JVM (the r15-advice
    // quota-container scenario, pinned without needing a cgroup)
    val a = HostTelemetry.Sample(0L, 1000000L, 10000L, 0L, 0L, 0L, 0L, 0.0,
      0L, 0L, 0L, 0L, 0L, 0L, 4)
    val b = a.copy(epochMs = a.epochMs + 1000L, jifTotal = a.jifTotal + 400L)
    assert(HostTelemetry.deltaJson(a, b).contains("\"jif_rate\":1.000"))
    // half the expected advance reads 0.5 — the throttled-guest signature
    val c = a.copy(epochMs = a.epochMs + 1000L, jifTotal = a.jifTotal + 200L)
    assert(HostTelemetry.deltaJson(a, c).contains("\"jif_rate\":0.500"))
    // a document with no cpuN lines cannot attest: degrades to 0
    val z = a.copy(statCpus = 0)
    val z2 = z.copy(epochMs = z.epochMs + 1000L, jifTotal = z.jifTotal + 400L)
    assert(HostTelemetry.deltaJson(z, z2).contains("\"jif_rate\":0.000"))
  }

  test("jif_rate band: steal-adjusted classification, both tails meaningful") {
    import HostTelemetry.jifRateClass
    // r16 verdict task 3. The classified quantity is jifRate*(1-steal):
    // steal is ns-sourced (paravirt steal clock) ON TOP of the
    // tick-complete buckets, so a healthy stolen-from guest reads raw
    // jif_rate ≈ 1 + steal — the r16 driver's four steal windows,
    // VERBATIM, must classify healthy:
    assert(jifRateClass(1.099, 0.107) == "healthy") // x_vcompact_audit
    assert(jifRateClass(1.097, 0.112) == "healthy") // a2_range_pairs
    assert(jifRateClass(1.085, 0.110) == "healthy") // a3_roster
    assert(jifRateClass(1.114, 0.120) == "healthy") // m2_audio_near_dup
    // the r15b paused-guest incident shape: ticks themselves lost time
    assert(jifRateClass(0.07, 0.0) == "stalled")
    assert(jifRateClass(0.89, 0.0) == "stalled") // just under the band
    // plain healthy host, no steal
    assert(jifRateClass(1.0, 0.0) == "healthy")
    assert(jifRateClass(0.9, 0.0) == "healthy") // band edges inclusive
    assert(jifRateClass(1.1, 0.0) == "healthy")
    // over-advance NOT explained by steal: anomalous, not healthy
    assert(jifRateClass(1.2, 0.0) == "overaccounting")
    // heavy steal cannot launder a stall into health: raw 0.95 under 30%
    // steal means the tick buckets only kept 0.665 of wall — stalled
    assert(jifRateClass(0.95, 0.30) == "stalled")
    // degraded /proc reads cannot attest either way
    assert(jifRateClass(0.0, 0.0) == "cannot_attest")
    // and the class ships in the artifact next to the number
    val a = HostTelemetry.sample()
    Thread.sleep(20)
    val j = HostTelemetry.deltaJson(a, HostTelemetry.sample())
    assert(j.contains("\"jif_class\":\""), j)
  }

  test("Window: the typed steal share and class are the ones its JSON prints") {
    // Bench's violation record reads steal and jif_class from the typed
    // window, not from the rendered JSON; the two must agree. 1 s on 4
    // CPUs with 40 stolen of 440 jiffies: steal 0.091, raw rate 1.1,
    // steal-adjusted 1.0 → healthy
    val a = HostTelemetry.Sample(0L, 1000000L, 10000L, 0L, 0L, 0L, 0L, 0.0,
      0L, 0L, 0L, 0L, 0L, 0L, 4)
    val b = a.copy(epochMs = a.epochMs + 1000L, jifTotal = a.jifTotal + 440L,
      jifSteal = 40L)
    val w = HostTelemetry.Window(a, b)
    assert(w.json == HostTelemetry.deltaJson(a, b))
    assert(JsonText.f3(w.steal) == "0.091")
    assert(w.json.contains("\"steal\":0.091,"), w.json)
    assert(w.jifClass == "healthy")
    assert(w.json.contains("\"jif_class\":\"healthy\""), w.json)
    val paused = HostTelemetry.Window(a, b.copy(jifTotal = a.jifTotal + 100L))
    assert(paused.jifClass == "stalled")
    assert(paused.json.contains("\"jif_class\":\"stalled\""), paused.json)
  }

  test("a zero-width window does not divide by zero") {
    val a = HostTelemetry.sample()
    val j = HostTelemetry.deltaJson(a, a)
    assert(j.contains("\"sys\":0.000") && j.contains("\"pgmf\":0"), j)
    assert(j.contains("\"psi_io_some_us\":0"), j)
    // zero-width window cannot attest throttling either way — reads 1.0
    assert(j.contains("\"jif_rate\":1.000"), j)
  }

  test("parsePsiTotals: psi(7) document format") {
    val doc =
      """some avg10=1.23 avg60=0.45 avg300=0.06 total=179850792
        |full avg10=0.00 avg60=0.00 avg300=0.00 total=165596717""".stripMargin
    assert(HostTelemetry.parsePsiTotals(doc) == (179850792L, 165596717L))
  }

  test("parsePsiTotals: missing full line (cpu resource shape) reads 0") {
    val doc = "some avg10=0.00 avg60=0.00 avg300=0.00 total=42\n"
    assert(HostTelemetry.parsePsiTotals(doc) == (42L, 0L))
  }

  test("parsePsiTotals: garbage degrades to zeros, never throws") {
    assert(HostTelemetry.parsePsiTotals("") == (0L, 0L))
    assert(HostTelemetry.parsePsiTotals("some total=notanumber") == (0L, 0L))
    assert(HostTelemetry.parsePsiTotals("something-else entirely") == (0L, 0L))
  }

  test("live host: PSI totals are monotone across samples") {
    val a = HostTelemetry.sample()
    Thread.sleep(20)
    val b = HostTelemetry.sample()
    assert(b.ioSomeUs >= a.ioSomeUs)
    assert(b.memSomeUs >= a.memSomeUs)
    assert(b.epochMs >= a.epochMs)
  }
}
