package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-family budget gate, tested as the pure function it
  * is (the env-gated wiring in [[Bench.main]] just feeds it): an
  * intentional regression must surface as a violation, in-budget
  * families must not, and unknown families in the budget spec are
  * ignored rather than trip.
  */
class BenchBudgetSpec extends AnyFunSuite {

  test("intentional regression trips its family; others stay quiet") {
    val measured = Map("dedup" -> 90.0, "ann" -> 5.0, "text" -> 0.9)
    val got = Bench.budgetViolations(measured, Bench.DefaultBudgets)
    assert(got.size == 1, got.toString)
    assert(got.head.contains("'dedup'") && got.head.contains("90.00"),
      got.head)
  }

  test("in-budget run has no violations") {
    val measured = Bench.DefaultBudgets.map { case (f, b) => f -> b * 0.6 }
    assert(Bench.budgetViolations(measured, Bench.DefaultBudgets).isEmpty)
  }

  test("budget for a family the run did not measure is ignored") {
    assert(Bench.budgetViolations(Map("ann" -> 1.0),
      Map("ann" -> 2.0, "nosuch" -> 1.0)).isEmpty)
  }

  // ---- the re-run-once noise policy (r10 verdict: on byte-identical
  // binaries the driver produced 6x single-row blips in consecutive
  // rounds — q_sql_top_percent r9, q_bpe_train r10 — so a first-pass
  // family violation alone must not fail the bench)

  test("transient spike: first pass trips, re-run absorbs — no violation") {
    var rerunAsked: Set[String] = Set.empty
    val got = Bench.confirmedViolations(
      Map("dedup" -> 90.0, "ann" -> 5.0), Bench.DefaultBudgets,
      flagged => { rerunAsked = flagged; Map("dedup" -> 42.0) })
    assert(got.isEmpty, got.toString)
    assert(rerunAsked == Set("dedup"))
  }

  test("real regression: the re-run reproduces it — reported with both numbers") {
    val got = Bench.confirmedViolations(
      Map("dedup" -> 90.0, "ann" -> 5.0), Bench.DefaultBudgets,
      _ => Map("dedup" -> 88.5))
    assert(got.size == 1, got.toString)
    // (family, message) so windowVerdict knows WHICH families violated
    assert(got.head._1 == "dedup", got.head)
    assert(got.head._2.contains("90.00") && got.head._2.contains("88.50"),
      got.head)
  }

  test("family the rerun cannot re-measure keeps its first measurement") {
    // graph_build is one-time: rerun returns nothing for it
    val got = Bench.confirmedViolations(
      Map("graph_build" -> 31.0), Bench.DefaultBudgets, _ => Map.empty)
    assert(got.size == 1 && got.head._1 == "graph_build", got.toString)
  }

  test("clean first pass never invokes the rerun") {
    val got = Bench.confirmedViolations(
      Bench.DefaultBudgets.map { case (f, b) => f -> b * 0.6 },
      Bench.DefaultBudgets,
      _ => fail("rerun must not be called on a clean first pass"))
    assert(got.isEmpty)
  }

  // ---- CpuWindow (the per-query window-quality instrument) ----

  test("CpuWindow.delta: percentages from tick deltas, self excluded from ext") {
    val a = CpuWindow.Snap(usr = 100, sys = 50, idle = 800, steal = 0,
      self = 120)
    // window: usr +60, sys +20, idle +100, steal +20 (total 200);
    // self burned 50 of the 80 busy ticks → ext = 30
    val b = CpuWindow.Snap(usr = 160, sys = 70, idle = 900, steal = 20,
      self = 170)
    val got = CpuWindow.delta(Some(a), Some(b)).get
    assert(got.sysPct == 10.0 && got.stealPct == 10.0 && got.extPct == 15.0,
      got)
    // no iowait/wall/psi/cgroup movement → the stall fields stay 0 and
    // the json carries every field the r15 verdict mandated
    assert(got.iowaitPct == 0.0 && got.psiIoPct == 0.0 &&
      got.cgThrottled == 0L, got)
    Seq("sys_pct", "iowait_pct", "psi_cpu_pct", "psi_io_pct",
      "psi_mem_pct", "cg_throttled", "cg_throttle_pct").foreach(k =>
      assert(got.json.contains("\"" + k + "\":"), s"$k missing: ${got.json}"))
  }

  test("CpuWindow.delta: iowait ticks and PSI/throttle stall-of-wall pcts") {
    val a = CpuWindow.Snap(usr = 0, sys = 0, idle = 0, steal = 0, self = 0,
      iowait = 0, wallNs = 0L, psiCpuUs = 0, psiIoUs = 0, psiMemUs = 0,
      cgThrottled = 0, cgThrottledUs = 0)
    // 10 s wall; ticks: usr 60, idle 100, iowait 40 (total 200 → 20%);
    // PSI io some stalled 2 s of the 10 s wall (20%), memory 0.5 s
    // (5%); cgroup throttled twice for 1 s (10%)
    val b = CpuWindow.Snap(usr = 60, sys = 0, idle = 100, steal = 0,
      self = 60, iowait = 40, wallNs = 10L * 1000 * 1000 * 1000,
      psiCpuUs = 3000000, psiIoUs = 2000000, psiMemUs = 500000,
      cgThrottled = 2, cgThrottledUs = 1000000)
    val got = CpuWindow.delta(Some(a), Some(b)).get
    assert(got.iowaitPct == 20.0, got)
    assert(got.psiCpuPct == 30.0 && got.psiIoPct == 20.0 &&
      got.psiMemPct == 5.0, got)
    assert(got.cgThrottled == 2L && got.cgThrottlePct == 10.0, got)
  }

  test("CpuWindow.delta: no wall stamp → stall pcts 0, tick pcts intact") {
    // spec-constructed snaps (wallNs 0) and clock oddities must never
    // divide by a non-positive wall
    val a = CpuWindow.Snap(usr = 0, sys = 0, idle = 0, steal = 0, self = 0,
      psiIoUs = 0)
    val b = CpuWindow.Snap(usr = 50, sys = 0, idle = 50, steal = 0,
      self = 50, psiIoUs = 9999999)
    val got = CpuWindow.delta(Some(a), Some(b)).get
    assert(got.psiIoPct == 0.0 && got.cgThrottlePct == 0.0, got)
  }

  test("CpuWindow.delta: backwards counters clamp at 0, never negative pcts") {
    // vCPU hotplug / counter resets on a virtualized host can step
    // /proc/stat fields backwards; a negative steal_pct would misread
    // downstream — each component clamps independently
    val a = CpuWindow.Snap(usr = 100, sys = 50, idle = 800, steal = 40,
      self = 0)
    val b = CpuWindow.Snap(usr = 160, sys = 40, idle = 900, steal = 20,
      self = 0)
    val got = CpuWindow.delta(Some(a), Some(b)).get
    assert(got.sysPct == 0.0 && got.stealPct == 0.0, got)
    assert(got.extPct >= 0.0)
  }

  test("CpuWindow.delta: missing snapshot or empty window → None") {
    val s = CpuWindow.Snap(1, 1, 1, 0, 0)
    assert(CpuWindow.delta(None, Some(s)).isEmpty)
    assert(CpuWindow.delta(Some(s), None).isEmpty)
    assert(CpuWindow.delta(Some(s), Some(s)).isEmpty) // zero-tick window
  }

  test("CpuWindow.delta: self ticks above window busy clamp ext at 0") {
    // self counts this process's threads; rounding or a snapshot race
    // can put self-delta above the window's busy ticks — ext must clamp
    val a = CpuWindow.Snap(0, 0, 0, 0, 0)
    val b = CpuWindow.Snap(10, 0, 90, 0, self = 50)
    assert(CpuWindow.delta(Some(a), Some(b)).get.extPct == 0.0)
  }

  // ---- windowVerdict: the budget gate's own window adjudication ----
  // (r13 verdict #1b: a confirmed violation in a measurably-bad window
  // must exit 4, not read as a code regression)

  // a clean-window evidence bundle the cases below perturb one signal
  // at a time (spin values are the r13 clean-window driver run's)
  private def cleanEv = Bench.WindowEvidence(
    spinPre = (1157L, 1401L), spinPost = (1152L, 1255L),
    buildSpin = (1160L, 1300L), rerunSpin = Some((1150L, 1280L)),
    cpu = Some(CpuWindow.Pcts(0.9, 0.0, 0.0)),
    rerunCpu = Some(CpuWindow.Pcts(1.0, 0.0, 0.0)),
    violatedFamilies = Set("dedup"), cleanSpin32 = 1400L)

  test("windowVerdict: clean window → None (violation is code-attributable)") {
    assert(Bench.windowVerdict(cleanEv).isEmpty)
  }

  test("windowVerdict: post-spin >1.5x the run's own pre-calibration → bad") {
    val got = Bench.windowVerdict(cleanEv.copy(spinPost = (1160L, 2500L)))
    assert(got.exists(_.contains("degraded mid-run")), got)
  }

  test("windowVerdict: both spins >1.5x the clean reference → bad " +
      "(covers a contended pre-spin)") {
    // pre and post agree with each other (no mid-run degradation) but
    // both sit far above the recorded clean-window calibration
    val got = Bench.windowVerdict(cleanEv.copy(
      spinPre = (2300L, 2400L), spinPost = (2250L, 2350L), cpu = None,
      rerunSpin = None, rerunCpu = None))
    assert(got.exists(_.contains("whole run in a degraded window")), got)
  }

  test("windowVerdict: steal >5% of run CPU ticks → bad") {
    val got = Bench.windowVerdict(cleanEv.copy(
      cpu = Some(CpuWindow.Pcts(2.0, 8.6, 1.0))))
    assert(got.exists(_.contains("steal")), got)
  }

  test("windowVerdict: missing cpu accounting still adjudicates on spin") {
    assert(Bench.windowVerdict(cleanEv.copy(cpu = None, rerunSpin = None,
      rerunCpu = None)).isEmpty)
  }

  // ---- the r15 signals: build-segment spin, re-run window, and the
  // invisible-window class (iowait / PSI / cgroup throttle) that
  // inflated q_dedup_edit_distance 4.8x through a 'clean' r14 verdict

  test("windowVerdict: graph_build violation + bad build spin → bad " +
      "(pre-bad/post-clean window the stabilization loop gave up on)") {
    val got = Bench.windowVerdict(cleanEv.copy(
      buildSpin = (1160L, 2400L),
      violatedFamilies = Set("graph_build")))
    assert(got.exists(_.contains("graph_build ran in a degraded window")),
      got)
  }

  test("windowVerdict: bad build spin does NOT excuse a query family " +
      "whose violation the re-run confirmed in a clean window") {
    // the build-spin signal is scoped to graph_build: dedup's
    // confirmation re-ran at the END of the run under its own clean
    // rerunSpin/rerunCpu — blaming the build-time contention would
    // excuse a real regression
    assert(Bench.windowVerdict(cleanEv.copy(
      buildSpin = (1160L, 2400L))).isEmpty)
  }

  test("windowVerdict: confirmation re-run in a degraded window → bad") {
    val got = Bench.windowVerdict(cleanEv.copy(
      rerunSpin = Some((1150L, 2600L))))
    assert(got.exists(_.contains("confirmation re-run")), got)
  }

  test("windowVerdict: iowait >10% of CPU ticks → bad (wall stretch " +
      "with no sys/steal signature)") {
    val got = Bench.windowVerdict(cleanEv.copy(
      cpu = Some(CpuWindow.Pcts(1.0, 0.0, 0.0, iowaitPct = 14.2))))
    assert(got.exists(_.contains("iowait")), got)
  }

  test("windowVerdict: PSI io-some stall >15% of wall → bad") {
    val got = Bench.windowVerdict(cleanEv.copy(
      cpu = Some(CpuWindow.Pcts(1.0, 0.0, 0.0, psiIoPct = 22.5))))
    assert(got.exists(_.contains("PSI io-some")), got)
  }

  test("windowVerdict: PSI memory-some stall >5% of wall → bad") {
    val got = Bench.windowVerdict(cleanEv.copy(
      rerunCpu = Some(CpuWindow.Pcts(1.0, 0.0, 0.0, psiMemPct = 7.1))))
    assert(got.exists(_.contains("PSI memory-some")), got)
  }

  test("windowVerdict: cgroup throttling >1% of wall → bad; a lone " +
      "throttle event below the time threshold is not evidence") {
    val got = Bench.windowVerdict(cleanEv.copy(
      cpu = Some(CpuWindow.Pcts(1.0, 0.0, 0.0, cgThrottled = 12L,
        cgThrottlePct = 4.4))))
    assert(got.exists(_.contains("cgroup CPU throttled")), got)
    assert(Bench.windowVerdict(cleanEv.copy(
      cpu = Some(CpuWindow.Pcts(1.0, 0.0, 0.0, cgThrottled = 1L,
        cgThrottlePct = 0.2)))).isEmpty)
  }

  test("windowVerdict: PSI cpu-some is recorded but never adjudicated " +
      "(a 32-thread bench on 32 CPUs makes cpu pressure by design)") {
    assert(Bench.windowVerdict(cleanEv.copy(
      cpu = Some(CpuWindow.Pcts(1.0, 0.0, 0.0, psiCpuPct = 55.0)))).isEmpty)
  }

  // ---- the r16 memory-streaming signals: bandwidth contention the
  // register-bound spin cannot see (r15's 176-278 s oscillation on
  // identical code ran with every spin/CPU counter clean)

  // probe values from the r16 clean-window streamMs calibration of this
  // harness
  // (clean band: worst32 145-324 ms, clean reference 350)
  private def cleanStreamEv = cleanEv.copy(
    streamPre = (210L, 280L), streamPost = (215L, 300L),
    buildStream = (205L, 260L), rerunStream = Some((212L, 290L)),
    cleanStream32 = 350L)

  test("windowVerdict: clean stream probes → still None") {
    assert(Bench.windowVerdict(cleanStreamEv).isEmpty)
  }

  test("windowVerdict: stream degraded mid-run (post >1.5x pre) → bad") {
    val got = Bench.windowVerdict(cleanStreamEv.copy(
      streamPost = (230L, 450L)))
    assert(got.exists(_.contains("memory bandwidth degraded mid-run")), got)
  }

  test("windowVerdict: both stream probes >1.5x clean → bad " +
      "(whole run under bandwidth contention)") {
    val got = Bench.windowVerdict(cleanStreamEv.copy(
      streamPre = (400L, 600L), streamPost = (420L, 640L)))
    assert(got.exists(_.contains("whole run under memory-bandwidth")), got)
  }

  test("windowVerdict: graph_build violation + bad build stream → bad; " +
      "scoped to graph_build like the build-spin signal") {
    val got = Bench.windowVerdict(cleanStreamEv.copy(
      buildStream = (230L, 700L),
      violatedFamilies = Set("graph_build")))
    assert(got.exists(_.contains(
      "graph_build ran under memory-bandwidth contention")), got)
    // a query family confirmed by a clean re-run is NOT excused by
    // build-time bandwidth contention
    assert(Bench.windowVerdict(cleanStreamEv.copy(
      buildStream = (230L, 700L))).isEmpty)
  }

  test("windowVerdict: confirmation re-run under bandwidth contention → bad") {
    val got = Bench.windowVerdict(cleanStreamEv.copy(
      rerunStream = Some((230L, 680L))))
    assert(got.exists(_.contains("confirmation re-run under " +
      "memory-bandwidth contention")), got)
  }

  test("windowVerdict: absent stream probes ((0,0)) never arm a signal") {
    // pre-r16 evidence bundles carry the (0,0) defaults — every stream
    // signal must stay quiet and adjudication fall back to spin/cpu
    assert(Bench.windowVerdict(cleanEv).isEmpty)
    assert(Bench.windowVerdict(cleanEv.copy(
      streamPost = (0L, 0L), streamPre = (0L, 0L))).isEmpty)
  }

  // ---- the summary line (r16 verdict item 9): the driver parses the
  // bench's last stdout line, so its top-level keys and their order are
  // a contract

  test("summaryLine: last stdout line keeps its key order, optional " +
      "cpu and probe members included") {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def keys(line: String): Seq[String] =
      mapper.readTree(line).fieldNames().asScala.toSeq
    val medians = Seq("q_sql_a" -> 1.23449, "q_dedup_b" -> 2.0,
      "q_kcore" -> 0.5)
    val probes = Bench.Probes((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L),
      (9L, 10L), (11L, 12L))
    val full = Bench.summaryLine(medians, 4.0, 1, 3,
      Some(CpuWindow.Pcts(1.0, 0.5, 2.0)), Some(probes), "/sf", "f.json")
    val base = Seq("metric", "value", "unit", "queries", "families",
      "n_queries", "n_errors", "runs_per_query")
    assert(keys(full) == base ++ Seq("cpu", "spin_ms", "stream_ms",
      "build_spin_ms", "build_stream_ms", "sf", "full"), full)
    val bare = Bench.summaryLine(medians, 4.0, 1, 3, None, None, "/sf",
      "f.json")
    assert(keys(bare) == base ++ Seq("sf", "full"), bare)
    val t = mapper.readTree(full)
    assert(t.get("value").asDouble == 7.734)
    assert(t.get("queries").fieldNames().asScala.toSeq ==
      Seq("graph_build", "q_dedup_b", "q_kcore", "q_sql_a"))
    assert(t.get("queries").get("q_sql_a").asDouble == 1.234)
    assert(t.get("families").toString ==
      """{"dedup":2.0,"other":0.5,"sql":1.234}""")
    assert(t.get("n_queries").asInt == 3 && t.get("n_errors").asInt == 1)
    assert(t.get("spin_ms").toString == """{"pre":[1,2],"post":[3,4]}""")
    assert(t.get("build_stream_ms").toString == "[11,12]")
  }

  test("CpuWindow.streamMs returns sane fixed-work calibrations") {
    val (one, par) = CpuWindow.streamMs(par = 2)
    assert(one > 0 && par > 0)
    // the parallel leg's slowest thread cannot beat the single-thread
    // pass by 100x in either direction
    assert(par < one * 100 && one < par * 100, s"($one, $par)")
  }

  test("CpuWindow.spinMs returns sane fixed-work calibrations") {
    val (one, par) = CpuWindow.spinMs(par = 4)
    // 2^29 xorshift steps: > 0 always; the parallel leg's slowest
    // thread can't beat physics by 100x in either direction vs single
    assert(one > 0 && par > 0)
    assert(par < one * 100 && one < par * 100, s"($one, $par)")
  }

  test("CpuWindow.snapshot parses this machine's /proc (Linux-only contract)") {
    // CpuWindow's documented contract is non-Linux → None and the bench
    // degrades gracefully; only assert a parse where /proc exists
    assume(sys.props("os.name").toLowerCase.contains("linux"))
    val s = CpuWindow.snapshot()
    // the bench targets this Linux harness; if /proc goes unreadable the
    // bench must still run (delta → None), which the Nones above cover —
    // but on the actual harness a snapshot must succeed and be sane
    assert(s.nonEmpty)
    val snap = s.get
    assert(snap.usr >= 0 && snap.sys >= 0 && snap.idle > 0 && snap.self >= 0)
  }
}
