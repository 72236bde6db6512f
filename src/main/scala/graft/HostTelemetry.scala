package graft

/** Host-regime sampling for the bench artifact (round-12 verdict task 1b;
  * PSI + timestamps round 15, verdict task 1).
  *
  * The r10/r11 driver benches elevated specific entries 4–26x while their
  * plans were pinned and their local anchors flat — the evidence pointed
  * at co-tenant host pressure, but nothing IN the artifact could prove it.
  * This samples the Linux /proc counters before and after every bench
  * entry so each recorded time carries its own regime evidence:
  *
  *  - `load1`   — /proc/loadavg 1-min load at entry start; local[N] on an
  *                otherwise-idle host stays near the bench's own thread
  *                count, so load1 >> N means co-tenants.
  *  - `sys`     — system-WIDE busy fraction over the entry window
  *                (non-idle jiffies / total jiffies across all CPUs,
  *                /proc/stat deltas).
  *  - `self`    — THIS JVM's share of the same total (utime+stime deltas,
  *                /proc/self/stat).
  *  - `other`   — sys − self: CPU burned by everything that is not the
  *                bench. The smoking gun: a 26x q15 with other ≈ 0 is a
  *                real regression; with other ≈ 0.7 it is a contended
  *                host, provable from the artifact alone.
  *  - `pgmf`    — system-wide major page faults over the window
  *                (/proc/vmstat pgmajfault delta): the page-cache-eviction
  *                regime (BASELINE.md's CONTENDED model) shows up here
  *                even when the co-tenant is IO-bound rather than
  *                CPU-bound.
  *  - `t0`      — entry-start wall clock (epoch ms). The r14 driver run
  *                lost ~5 s to ONE contiguous cold-page-cache window that
  *                spanned five entries; without per-entry timestamps the
  *                contiguity had to be reconstructed from execution-order
  *                reasoning. With t0 the window is a literal time range.
  *  - `psi_*_us` — /proc/pressure/{io,memory,cpu} stall-total deltas
  *                (µs), `some` and `full` lines. THE gap the r14
  *                adjudication exposed: buffered-read page-cache misses
  *                are I/O wait, which registers in NEITHER `other` (it is
  *                not CPU) NOR `pgmf` (read() misses are not major
  *                faults) — but PSI io-some counts exactly the µs any
  *                task stalled on I/O. A 24 s rep with
  *                psi_io_some_us ≈ 20e6 and other ≈ 0 is a cold-cache
  *                stall, attributable from the artifact alone;
  *                psi_io_some_us ≈ 0 on the same reading would have been
  *                a real regression. cpu-some (added after the r15 pass-C
  *                window below) counts runnable-but-descheduled µs — the
  *                cgroup-quota / oversubscribed-host signature.
  *  - `steal`   — hypervisor steal share of the jiffy total (/proc/stat
  *                field 8): a KVM/Xen guest whose vCPUs the host gave to
  *                someone else sees its loss HERE, not in `other`.
  *  - `jif_rate` — jiffy-total advance over the window ÷ the advance an
  *                unthrottled host would show (nCPUs × wall-clock ×
  *                USER_HZ). THE tell for the one stall mode every
  *                in-guest counter is blind to: an r15 3-process pass
  *                recorded a window (warm_model_memos 97.3 s vs ~7 s
  *                anchor) with self 0.04, other 0.02, psi_io ≈ 0,
  *                pgmf 0 — the guest's CPUs were "idle" yet wall time
  *                ran 14x: the VM itself was being paused/throttled, so
  *                tick accounting stopped advancing with wall clock.
  *                jif_rate ≈ 1 on a healthy host; << 1 means the host
  *                lost real time and every reading in the window is
  *                suspect regardless of what the other counters say.
  *                STEAL CAVEAT (r16 verdict task 3): the raw ratio runs
  *                ABOVE 1 under hypervisor steal — the r16 driver's
  *                steal windows read jif_rate 1.085–1.114 against steal
  *                0.107–0.120, i.e. jif_rate − 1 ≈ steal share almost
  *                exactly. Cause: the tick-sampled buckets (user/system/
  *                idle/iowait) already account every elapsed tick by
  *                themselves, while the `steal` field is sourced from
  *                the paravirt steal clock (ns-granular, kvm-clock) and
  *                folded into the SAME aggregate line — so a window with
  *                steal sums past nCPUs × wall × HZ by about the stolen
  *                share. The healthy test therefore classifies the
  *                steal-ADJUSTED rate jif_rate × (1 − steal): on the
  *                r16 windows it reads 0.966–0.981 — healthy — while a
  *                genuinely paused guest (the r15b incident) still reads
  *                ≪ 1 because pausing stops the tick buckets themselves.
  *  - `jif_class` — [[jifRateClass]] of the window, in-artifact: the
  *                band interpretation (`stalled` < 0.9 ≤ `healthy` ≤ 1.1
  *                < `overaccounting`, on the steal-adjusted rate;
  *                `cannot_attest` when /proc could not be read) shipped
  *                next to the number so a driver-side reading needs no
  *                after-the-fact doctrine lookup.
  *
  * Every read is wrapped: on a host without /proc (or without PSI —
  * CONFIG_PSI=n, pre-4.20 kernels) the sampler degrades to zeros rather
  * than failing the bench (jif_rate degrades to 0 with the jiffy total,
  * so a missing /proc/stat reads as "cannot attest", not "healthy").
  */
object HostTelemetry {

  final case class Sample(atNanos: Long, epochMs: Long,
      jifTotal: Long, jifBusy: Long, jifSteal: Long,
      selfJif: Long, pgMajFault: Long, load1: Double,
      ioSomeUs: Long, ioFullUs: Long, memSomeUs: Long, memFullUs: Long,
      cpuSomeUs: Long, cpuFullUs: Long, statCpus: Int)

  private def readFile(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8"))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Parse a /proc/pressure/<res> document into (someTotalUs, fullTotalUs).
    * Format per psi(7): one line per class,
    * `some avg10=0.00 avg60=0.00 avg300=0.00 total=179850792` — totals are
    * stall-µs since boot, monotone. A missing line (the `full` line is
    * absent for the `cpu` resource on some kernels) reads as 0. */
  def parsePsiTotals(content: String): (Long, Long) = {
    def total(cls: String): Long =
      content.linesIterator.find(_.startsWith(cls + " ")).flatMap { l =>
        l.split("\\s+").collectFirst {
          case f if f.startsWith("total=") => f.stripPrefix("total=")
        }.flatMap(_.toLongOption)
      }.getOrElse(0L)
    (total("some"), total("full"))
  }

  private def psi(res: String): (Long, Long) =
    readFile(s"/proc/pressure/$res").map(parsePsiTotals).getOrElse((0L, 0L))

  def sample(): Sample = {
    // /proc/stat "cpu  user nice system idle iowait irq softirq steal ..."
    // nCpus counts the per-CPU "cpuN" lines of the SAME document: the
    // aggregate "cpu " line (jif_rate's numerator) sums over every
    // kernel-visible CPU, while availableProcessors() is cgroup/quota
    // aware on JDK 10+ — in a --cpus=4 container on a 64-core host the
    // mixed-source ratio would read ~16 and miscalibrate the "≈1 =
    // healthy" diagnostic (r15 advice).
    val (tot, busy, steal, nCpus) = readFile("/proc/stat").flatMap { s =>
      s.linesIterator.find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).flatMap(x => x.toLongOption)
        val total = f.sum
        val idle = (if (f.length > 3) f(3) else 0L) + (if (f.length > 4) f(4) else 0L)
        val st = if (f.length > 7) f(7) else 0L
        val cpus = s.linesIterator.count(ln =>
          ln.startsWith("cpu") && ln.length > 3 && ln.charAt(3).isDigit)
        (total, total - idle, st, cpus)
      }
    }.getOrElse((0L, 0L, 0L, 0))
    // /proc/self/stat: comm (field 2) may hold spaces/parens — split after
    // the last ')'. utime/stime are fields 14/15 (1-indexed) = indexes
    // 11/12 of the post-comm remainder.
    val selfJ = readFile("/proc/self/stat").flatMap { s =>
      val rest = s.substring(s.lastIndexOf(')') + 1).trim.split("\\s+")
      if (rest.length > 12)
        for (u <- rest(11).toLongOption; st <- rest(12).toLongOption)
          yield u + st
      else None
    }.getOrElse(0L)
    val pgmf = readFile("/proc/vmstat").flatMap(
      _.linesIterator.find(_.startsWith("pgmajfault "))
        .flatMap(_.split("\\s+")(1).toLongOption)).getOrElse(0L)
    val l1 = readFile("/proc/loadavg")
      .flatMap(_.split("\\s+").headOption).flatMap(_.toDoubleOption)
      .getOrElse(0.0)
    val (ioS, ioF) = psi("io")
    val (meS, meF) = psi("memory")
    val (cpS, cpF) = psi("cpu")
    Sample(System.nanoTime(), System.currentTimeMillis(),
      tot, busy, steal, selfJ, pgmf, l1, ioS, ioF, meS, meF, cpS, cpF, nCpus)
  }

  /** Band classification of a window's jiffy-advance rate (r16 verdict
    * task 3: a point test "≈1 healthy" has no meaningful upper tail once
    * steal windows legitimately read 1.05–1.13). The classified quantity
    * is the STEAL-ADJUSTED rate `jifRate × (1 − stealFrac)` — the advance
    * of the tick-sampled buckets alone, which a healthy guest keeps ≈ 1
    * whether or not the hypervisor is stealing (steal is ns-sourced on
    * top; see the scaladoc above). Bands, both tails meaningful:
    *  - `cannot_attest` — jifRate 0: /proc/stat absent or had no cpuN
    *    lines; nothing can be said either way.
    *  - `stalled` — adjusted < 0.9: the guest's own ticks lost real
    *    time (VM paused / hard-throttled, the r15b warm_model_memos
    *    incident); EVERY reading in the window is suspect.
    *  - `healthy` — adjusted in [0.9, 1.1]: tick accounting kept up;
    *    wall-clock elevations in this window need a different cause
    *    (check steal/other/psi).
    *  - `overaccounting` — adjusted > 1.1: ticks advanced faster than
    *    nCPUs × wall even after removing steal — anomalous (clock jump,
    *    CPU hotplug mid-window); the reading is untrustworthy in the
    *    OPPOSITE direction from a stall, so flag rather than fold into
    *    healthy. */
  def jifRateClass(jifRate: Double, stealFrac: Double): String =
    if (jifRate == 0.0) "cannot_attest"
    else {
      val adj = jifRate * (1.0 - stealFrac.max(0.0).min(1.0))
      if (adj < 0.9) "stalled"
      else if (adj > 1.1) "overaccounting"
      else "healthy"
    }

  /** Hypervisor-steal share of a window's jiffy total — the fraction
    * deltaJson renders as `steal`, exposed numerically so callers (the
    * Bench recovery-rep heuristic) can branch on the regime without
    * re-parsing their own artifact JSON. */
  def stealFrac(a: Sample, b: Sample): Double = {
    val tot = (b.jifTotal - a.jifTotal).max(1L).toDouble
    (b.jifSteal - a.jifSteal).max(0L) / tot
  }

  /** The window's jiffy-advance rate: the advance over the window ÷ the
    * advance an unthrottled host would show, nCPUs × wall × USER_HZ
    * (always 100 per procfs ABI regardless of kernel CONFIG_HZ). nCPUs
    * comes from the SAME /proc/stat document as the numerator (the cpuN
    * line count), never availableProcessors(): the aggregate line ticks
    * for every kernel-visible CPU, so a cgroup-quota-aware JDK count
    * would inflate the ratio by visible/quota. A host whose /proc/stat
    * had no cpuN lines degrades to 0 = "cannot attest", matching the
    * missing-/proc path. */
  def jifRate(a: Sample, b: Sample): Double = {
    val wallMs = (b.epochMs - a.epochMs).max(0L)
    val expected = b.statCpus.toDouble * wallMs / 10.0
    if (wallMs == 0) 1.0 // zero-width window: nothing to attest
    else if (b.statCpus == 0) 0.0 // no per-CPU lines: cannot attest
    else (b.jifTotal - a.jifTotal).max(0L) / expected.max(1.0)
  }

  /** One entry's window, kept typed: callers read the regime numerically
    * and render [[deltaJson]] only when writing the artifact. */
  final case class Window(start: Sample, end: Sample) {
    def steal: Double = stealFrac(start, end)
    def jifClass: String = jifRateClass(jifRate(start, end), steal)
    def json: String = deltaJson(start, end)
  }

  /** Compact JSON object for one entry window. Fractions are of the
    * system-wide jiffy total (all CPUs), 3 decimals; PSI deltas are raw
    * stall-µs (the /proc unit); t0 is the window's start, epoch ms. */
  def deltaJson(a: Sample, b: Sample): String = {
    import JsonText.f3
    val tot = (b.jifTotal - a.jifTotal).max(1L).toDouble
    val sys = (b.jifBusy - a.jifBusy).max(0L) / tot
    val self = (b.selfJif - a.selfJif).max(0L) / tot
    val steal = stealFrac(a, b)
    val rate = jifRate(a, b)
    def d(x: Long, y: Long) = (y - x).max(0L)
    s"""{"t0":${a.epochMs},"load1":${f3(a.load1)},"sys":${f3(sys)},"self":${f3(self)},""" +
      s""""other":${f3((sys - self).max(0.0))},"steal":${f3(steal)},"jif_rate":${f3(rate)},""" +
      s""""jif_class":"${jifRateClass(rate, steal)}",""" +
      s""""pgmf":${d(a.pgMajFault, b.pgMajFault)},""" +
      s""""psi_io_some_us":${d(a.ioSomeUs, b.ioSomeUs)},"psi_io_full_us":${d(a.ioFullUs, b.ioFullUs)},""" +
      s""""psi_mem_some_us":${d(a.memSomeUs, b.memSomeUs)},"psi_mem_full_us":${d(a.memFullUs, b.memFullUs)},""" +
      s""""psi_cpu_some_us":${d(a.cpuSomeUs, b.cpuSomeUs)},"psi_cpu_full_us":${d(a.cpuFullUs, b.cpuFullUs)}}"""
  }
}
