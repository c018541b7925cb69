package graft

/** Bench contract: run every registered query at SPARK_GRAFT_SF_DIR,
  * print ONE JSON line with per-query seconds. The one-time graph
  * materialization (the reference's bulk-load phase) is timed separately
  * as `graph_build` so per-query numbers measure query execution.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val spinPre = CpuWindow.spinMs()
    // the memory-streaming sibling (r15 verdict #2): the xorshift spin
    // is register-bound and blind to host-level memory-bandwidth
    // contention — r15's slow windows ran with every recorded counter
    // clean and the spin FASTER than in fast windows. The stream probe's
    // wall time is DRAM-bound by construction, so it moves with exactly
    // that invisible resource class.
    val streamPre = CpuWindow.streamMs()
    // snapshot AFTER the pre-spin/pre-stream: the calibrations
    // deliberately burn 32 threads of CPU, and taking the run-level CPU
    // window around them (while the post-probes sit outside) would
    // asymmetrically dilute the sys/steal/ext percentages this row
    // exists to adjudicate
    val runCpu0 = CpuWindow.snapshot()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Generic JVM pre-warm, NOT timed and NOT touching the benchmark
    // data: the first Spark actions in a fresh JVM pay JIT compilation
    // of the whole scheduler/codegen/shuffle stack plus parquet
    // reader/writer init — first-run costs of the RUNTIME, not of the
    // graph build being measured. Exercise each subsystem once on
    // synthetic rows (shuffle agg, window, collect_list+sort_array —
    // the build's own operator mix — and a parquet round-trip).
    {
      val tmp = java.nio.file.Files.createTempDirectory("bench_warm")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("id")
      import org.apache.spark.sql.functions._
      spark.range(1 << 18)
        .select(col("id"), pmod(col("id"), lit(64)).as("k"))
        .withColumn("r", row_number().over(w))
        .groupBy("k")
        .agg(sum("id"), sort_array(collect_list(struct(col("r"), col("id")))))
        .write.mode("overwrite").parquet(tmp.toString)
      spark.read.parquet(tmp.toString).count()
      val p = new org.apache.hadoop.fs.Path(tmp.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    // graph_build is one-time and un-re-runnable, and every cold run's
    // build lands squarely in the drop_caches + sbt-launch contention
    // window (r13 sf1: in-bench 258 s vs standalone cold 48.3 s, with
    // spin pre [1228, 2044] naming the contended start). Before timing
    // it, wait for the fixed-work spin to stabilize — re-spin until the
    // 32-thread leg is within WindowSpinFactor of the clean-window
    // calibration or the retry budget runs out — and record the spin
    // the build actually ran under beside its wall time, so a slow
    // build always carries its own window multiplier.
    val cleanSpin32 = cleanSpin32Ms
    val buildSpin = {
      var s = CpuWindow.spinMs()
      var tries = 0
      while (tries < 4 && s._2 > WindowSpinFactor * cleanSpin32) {
        System.err.println(s"[bench-window] build delayed: 32-thread spin " +
          s"${s._2} ms > ${WindowSpinFactor}x clean $cleanSpin32 ms " +
          s"(try ${tries + 1}/4)")
        Thread.sleep(2000)
        s = CpuWindow.spinMs()
        tries += 1
      }
      s
    }
    // the bandwidth calibration the build actually ran under, recorded
    // beside buildSpin (the stabilization loop stays spin-driven — the
    // stream probe is the more expensive instrument and a miscalibrated
    // clean-stream reference must not cost every run 4x2s of retries)
    val buildStream = CpuWindow.streamMs()

    // warm the graph + stats caches (bulk-load phase), timed once; the 8
    // node-table builds are independent jobs — materialize them
    // concurrently (a real bulk load would submit them the same way)
    val buildCpu0 = CpuWindow.snapshot()
    val buildSec = time {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(graph.TpchGraph.tables(spark, sfDir).values.toSeq)(t =>
          Future(t.count())),
        Duration.Inf)
      queries.SqlQueries.session(spark, sfDir)
    }
    val buildCpu = CpuWindow.delta(buildCpu0, CpuWindow.snapshot())
    // the node tables are materialized and persisted — the staged
    // edge-pair cache behind them is now dead weight; release it so the
    // whole bench run doesn't pin a second O(edges) copy
    graph.TpchGraph.releaseStaging(sfDir)

    // medians over SPARK_GRAFT_BENCH_RUNS runs (default 3): single-run
    // numbers carry 2-8x transient-contention outliers (BASELINE.md's
    // documented noise envelope); the median is the comparable statistic,
    // min/max record the spread
    val runsPer = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // failures are COUNTED, never silent: the old bare catch made a
    // broken query read as a fast row — an r11 mis-launched run (JDK-17
    // add-opens flags missing) "measured" every GraphX row at 0.02 s of
    // time-to-failure and the number almost entered the record. The
    // bench still never aborts mid-run (one broken row must not cost
    // the other 200 measurements), but errors surface on stderr, in
    // bench_full.json, and in the summary line's error count.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // stage→query attribution, opt-in via SPARK_GRAFT_STAGE_MAP=<path>:
    // every stage submitted while a query runs records that query's
    // name, and the map dumps at the end — the tool that turns a
    // stage-numbered scheduler WARN (e.g. "task of very large size" at
    // stage 10244, one per cold run in the r12 session tail, never
    // reproducible standalone) into a query name without re-running
    // anything. Costs one tiny listener callback per stage; the dump is
    // one line per stage.
    val stageMapPath = sys.env.get("SPARK_GRAFT_STAGE_MAP")
    val stageMap =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // the query name rides a job-local property, which Spark SNAPSHOTS
    // into the stage's properties at submission time — reading a mutable
    // var inside the async listener callback instead would mis-attribute
    // stages whenever the bus lags across a query boundary (or a
    // speculative/skipped stage lands late)
    val QueryProp = "graft.bench.query"
    stageMapPath.foreach { _ =>
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageSubmitted(
              s: org.apache.spark.scheduler.SparkListenerStageSubmitted)
              : Unit =
            stageMap.put(s.stageInfo.stageId,
              Option(s.properties)
                .map(_.getProperty(QueryProp, "")).getOrElse(""))
        })
    }
    // per-query CPU-window accounting (/proc/stat + /proc/self/stat
    // deltas over the query's runsPer window): on a shared/virtualized
    // host, single-window medians swing 2-8x on UNTOUCHED code (the
    // r11/r12 drift episodes; an r13 control measured the same build
    // 49 s and 233 s minutes apart under a load-average-22 phantom with
    // zero local processes). sys_pct (kernel churn), steal_pct
    // (hypervisor taking the vCPU) and ext_pct (busy ticks this JVM did
    // not burn) turn "was the window bad?" from a re-run-and-guess
    // question into a number recorded NEXT TO the wall time it explains.
    val cpuWindows = scala.collection.mutable.LinkedHashMap[String, String]()
    buildCpu.foreach(c => cpuWindows += ("graph_build" -> c.json))
    val measured = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.sparkContext.setLocalProperty(QueryProp, name)
      spark.sparkContext.setJobDescription(name)
      val cpu0 = CpuWindow.snapshot()
      val ts = (1 to runsPer).map { _ =>
        time {
          try fn(spark, sfDir).count()
          catch {
            case e: Throwable =>
              errors.getOrElseUpdate(name,
                s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
              System.err.println(s"[bench-error] $name: $e")
          }
        }
      }.sorted
      CpuWindow.delta(cpu0, CpuWindow.snapshot())
        .foreach(c => cpuWindows += (name -> c.json))
      name -> ts
    }
    spark.sparkContext.setJobDescription(null)
    spark.sparkContext.setLocalProperty(QueryProp, null)
    stageMapPath.foreach { path =>
      val w2 = new java.io.PrintWriter(path, "UTF-8")
      try {
        stageMap.forEach { (sid, q) => w2.println(s"$sid\t$q") }
      } finally w2.close()
    }
    val medians = measured.map { case (n, ts) => n -> ts(ts.size / 2) }
    val results = medians :+ ("graph_build" -> buildSec)

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = measured
      .map { case (k, ts) =>
        "\"" + k + "\":{\"min\":" + ts.head + ",\"max\":" + ts.last + "}"
      }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val cpuJson = cpuWindows
      .map { case (k, c) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    // run-level CPU window closes here (before the post-probes, whose
    // 32-thread burns must stay outside it, mirroring the pre-probes)
    val runPcts = CpuWindow.delta(runCpu0, CpuWindow.snapshot())
    val spinPost = CpuWindow.spinMs()
    val streamPost = CpuWindow.streamMs()
    val probes = Probes(spinPre, spinPost, streamPre, streamPost,
      buildSpin, buildStream)
    // run-level percentages live under their OWN key in the full
    // artifact: the first r14 sf1 run appended them as a second "cpu"
    // member, and JSON parsers keep the last duplicate — the whole
    // per-query cpu map silently read as the 3-field run summary
    val runCpuFull = runPcts
      .map(c => s""","cpu_run":${c.json}""").getOrElse("")
    // the full artifact always carries the run-level window fields —
    // the summary line may have to drop them to fit its budget
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs_per_query":$runsPer,"spread":$spread,"errors":$errJson,"cpu":$cpuJson$runCpuFull,${probes.json},"sf":"$sfDir"}"""

    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val w = new java.io.PrintWriter(fullPath, "UTF-8")
    try w.println(fullJson) finally w.close()

    val out = summaryLine(medians, buildSec, errors.size, runsPer, runPcts,
      Some(probes), sfDir, fullPath)
    // the contract line is duplicated to a fixed sibling artifact: a
    // harness that tail-captures a bounded window of stdout (the r12
    // ~2000-char observation) can always recover the identical line
    // from disk. The stdout print stays the primary contract — with
    // build.sbt passing forked output through un-prefixed and
    // suppressing sbt's [success] trailer, it IS the last stdout line.
    val linePath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE", "bench_line.json")
    val wl = new java.io.PrintWriter(linePath, "UTF-8")
    try wl.println(out) finally wl.close()
    println(out)

    // Per-family budget gate, OFF unless SPARK_GRAFT_BENCH_BUDGETS is
    // set ("default" = the recorded DefaultBudgets; or an explicit
    // "dedup=30,ann=10" list). A single query can triple its family
    // (the r7 edit-distance incident) and the regression then only
    // surfaces in the driver's tail — with the gate on, the in-round
    // bench fails loudly instead. Violations print AFTER the summary
    // line so the run's data stays usable, then exit 3.
    sys.env.get("SPARK_GRAFT_BENCH_BUDGETS").foreach { specRaw =>
      val budgets =
        if (specRaw.trim == "default") DefaultBudgets
        else specRaw.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k.trim -> v.trim.toDouble
            case _ => throw new IllegalArgumentException(
              s"SPARK_GRAFT_BENCH_BUDGETS must be 'default' or a " +
                s"'family=seconds,…' list, got: '$specRaw' — an r13 run " +
                "passed '1' and the MatchError silently skipped the gate")
          }
        }.toMap
      // re-run-once noise policy: a violation only FAILS the run when an
      // immediate re-measurement of the flagged families reproduces it.
      // Evidence: on byte-identical binaries the driver produced 6×
      // single-row blips in consecutive rounds (r9 q_sql_top_percent
      // 1.49 s vs 0.21 s local; r10 q_bpe_train 8.81 s vs 1.58 s local)
      // — transient sandbox contention that a sum-compared family budget
      // would false-trip on. graph_build is one-time and cannot re-run;
      // its first measurement stands (its budget already carries ≥3×
      // headroom for exactly that reason).
      // the confirmation re-run is the measurement that actually
      // confirms a violation — sample its own window (CPU deltas over
      // the re-runs + a spin right after) so contention arising DURING
      // the re-run is evidence the verdict sees, not a blind spot
      var rerunSpin: Option[(Long, Long)] = None
      var rerunStream: Option[(Long, Long)] = None
      var rerunCpu: Option[CpuWindow.Pcts] = None
      val violations = confirmedViolations(
        familySums(medians) + ("graph_build" -> buildSec), budgets,
        flagged => {
          System.err.println(s"[bench-budget] re-running " +
            s"${flagged.toSeq.sorted.mkString(",")} once to separate " +
            "regression from transient contention")
          val rerunCpu0 = CpuWindow.snapshot()
          val firstMedians = medians.toMap
          val fresh = measured.map(_._1)
            .filter(n => flagged.contains(family(n)))
            .map { n =>
              // a query that starts FAILING during the re-run must not
              // clear the violation with its (typically fast) time-to-
              // failure — the exact "broken query reads as a fast row"
              // hole the first pass closed. A failed re-run row keeps
              // its first-pass time and is shouted to stderr.
              var failed = false
              val ts = (1 to runsPer).map { _ =>
                time {
                  try SparkEntry.queries(n)(spark, sfDir).count()
                  catch {
                    case e: Throwable =>
                      failed = true
                      System.err.println(s"[bench-error] re-run $n: $e")
                  }
                }
              }.sorted
              n -> (if (failed) firstMedians(n) else ts(ts.size / 2))
            }
            .groupBy { case (n, _) => family(n) }
            .map { case (f, qq) => f -> qq.map(_._2).sum }
          rerunCpu = CpuWindow.delta(rerunCpu0, CpuWindow.snapshot())
          rerunSpin = Some(CpuWindow.spinMs())
          rerunStream = Some(CpuWindow.streamMs())
          fresh
        })
      if (violations.nonEmpty) {
        violations.foreach { case (_, v) =>
          System.err.println(s"[bench-budget] $v")
        }
        rerunSpin.foreach(s => System.err.println(
          s"[bench-budget] re-run window: spin [${s._1},${s._2}] ms, " +
            s"stream ${rerunStream.map(t => s"[${t._1},${t._2}]")
              .getOrElse("n/a")} ms, " +
            s"cpu ${rerunCpu.map(_.json).getOrElse("n/a")}"))
        // the gate consults its own window evidence before blaming the
        // code: a confirmed violation measured in a window whose spin
        // calibration, steal accounting, iowait/PSI stalls or cgroup
        // throttling says the MACHINE was degraded exits with a
        // distinct code (4) so a driver/harness never books a bad
        // window as a code regression — the r12/r13 adjudications did
        // this separation by hand; now the instrument is in the gate
        windowVerdict(WindowEvidence(spinPre, spinPost, buildSpin,
          rerunSpin, runPcts, rerunCpu,
          violations.map(_._1).toSet, cleanSpin32,
          streamPre = streamPre, streamPost = streamPost,
          buildStream = buildStream, rerunStream = rerunStream,
          cleanStream32 = cleanStream32Ms)) match {
          case Some(ev) =>
            System.err.println("[bench-budget] window verdict: BAD — " +
              ev + "; confirmed violation is not code-attributable, " +
              "exiting 4 (bad window), not 3")
            spark.stop()
            sys.exit(4)
          case None =>
            System.err.println("[bench-budget] window verdict: clean " +
              s"(spin pre [${spinPre._1},${spinPre._2}] post " +
              s"[${spinPost._1},${spinPost._2}] vs clean $cleanSpin32 ms; " +
              s"cpu ${runPcts.map(_.json).getOrElse("n/a")}) — violation " +
              "is code-attributable, exiting 3")
            spark.stop()
            sys.exit(3)
        }
      }
    }
    spark.stop()
  }

  private def r3(d: Double): Double = math.round(d * 1000) / 1000.0

  private val famNames = Seq("q_sql", "q_match", "q_path", "q_dml",
    "q_dedup", "q_ann", "q_multimodal", "q_text", "q_pipeline", "q_graphx")

  /** a query's budget family: its `q_<family>_` prefix, else "other" */
  private def family(n: String): String =
    famNames.find(f => n.startsWith(f + "_"))
      .map(_.stripPrefix("q_")).getOrElse("other")

  /** per-family sums of the query medians */
  private def familySums(medians: Seq[(String, Double)])
      : Map[String, Double] =
    medians.groupBy { case (n, _) => family(n) }
      .map { case (f, qq) => f -> qq.map(_._2).sum }

  /** The run's window calibrations, each a (1-thread, 32-thread) wall
    * ms pair: spin and stream probes before and after the run, and the
    * pair the graph build ran under.
    */
  private[graft] final case class Probes(spinPre: (Long, Long),
      spinPost: (Long, Long), streamPre: (Long, Long),
      streamPost: (Long, Long), buildSpin: (Long, Long),
      buildStream: (Long, Long)) {
    private def pair(p: (Long, Long)) = s"[${p._1},${p._2}]"
    def json: String =
      s""""spin_ms":{"pre":${pair(spinPre)},"post":${pair(spinPost)}},""" +
        s""""stream_ms":{"pre":${pair(streamPre)},"post":${pair(streamPost)}},""" +
        s""""build_spin_ms":${pair(buildSpin)},""" +
        s""""build_stream_ms":${pair(buildStream)}"""
  }

  /** The bench's summary line — the driver-parsed last line of stdout,
    * pure so its key order can be pinned. The per-query map is the FULL
    * median map plus graph_build, r3-rounded (r15 verdict #1: the old
    * compact line carried only 4 headline rows, so even a successful
    * parse would have starved the driver's per_query and scaling
    * blocks; bench_full.json keeps full precision plus
    * spread/errors/per-query cpu). `cpu` and the probe members are
    * omitted when absent.
    */
  private[graft] def summaryLine(medians: Seq[(String, Double)],
      buildSec: Double, nErrors: Int, runsPer: Int,
      cpu: Option[CpuWindow.Pcts], probes: Option[Probes], sfDir: String,
      fullPath: String): String = {
    val results = medians :+ ("graph_build" -> buildSec)
    val total = results.map(_._2).sum
    val allQueries = results.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val famSums = familySums(medians).toSeq.sortBy(_._1)
      .map { case (f, v) => "\"" + f + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val cpuFrag = cpu.map(c => s""","cpu":${c.json}""").getOrElse("")
    val probeFrag = probes.map("," + _.json).getOrElse("")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$allQueries,"families":$famSums,"n_queries":${medians.size},"n_errors":$nErrors,"runs_per_query":$runsPer$cpuFrag$probeFrag,"sf":"$sfDir","full":"$fullPath"}"""
  }

  /** Clean-window 32-thread spin calibration (wall ms for 2^29 xorshift
    * steps, slowest of 32 threads) — the r13 clean-window driver run
    * measured pre [1157, 1401] / post [1152, 1255] on this harness.
    * Per-host override: SPARK_GRAFT_CLEAN_SPIN_MS.
    */
  private[graft] def cleanSpin32Ms: Long =
    sys.env.get("SPARK_GRAFT_CLEAN_SPIN_MS").map(_.toLong).getOrElse(1400L)

  /** Clean-window 32-thread memory-stream calibration (wall ms for the
    * slowest of 32 threads each streaming 8 x 128 MiB from the shared
    * DRAM-resident buffer). Calibrated r16 on this harness by repeated
    * [[CpuWindow.streamMs]] calls: six consecutive clean-window probes read
    * worst32 145-324 ms (median ~250) — 350 is the observed clean
    * ceiling, so the 1.5x factor flags a window only above ~525 ms,
    * i.e. when effective bandwidth has genuinely halved. Per-host
    * override: SPARK_GRAFT_CLEAN_STREAM_MS.
    */
  private[graft] def cleanStream32Ms: Long =
    sys.env.get("SPARK_GRAFT_CLEAN_STREAM_MS").map(_.toLong).getOrElse(350L)

  /** a spin beyond this multiple of its reference marks the window bad */
  private[graft] val WindowSpinFactor = 1.5

  /** everything the gate knows about the run's measurement windows,
    * bundled for [[windowVerdict]]: the run-bracketing spin
    * calibrations, the calibration the graph build actually ran under
    * (the 4-try stabilization loop's LAST spin — the queries segment
    * starts right after it), the spin + CPU window taken around the
    * confirmation re-runs (None when the first pass was clean), the
    * run-level CPU window, and which families violated.
    */
  private[graft] final case class WindowEvidence(
      spinPre: (Long, Long), spinPost: (Long, Long),
      buildSpin: (Long, Long),
      rerunSpin: Option[(Long, Long)] = None,
      cpu: Option[CpuWindow.Pcts] = None,
      rerunCpu: Option[CpuWindow.Pcts] = None,
      violatedFamilies: Set[String] = Set.empty,
      cleanSpin32: Long = 1400L,
      // the memory-streaming calibrations (r16): (0,0) = not recorded,
      // which no signal can trip on (every test is strict-greater
      // against a positive reference)
      streamPre: (Long, Long) = (0L, 0L),
      streamPost: (Long, Long) = (0L, 0L),
      buildStream: (Long, Long) = (0L, 0L),
      rerunStream: Option[(Long, Long)] = None,
      cleanStream32: Long = 350L)

  /** iowait beyond this percent of the window's CPU ticks marks it bad */
  private[graft] val IowaitPctBad = 10.0
  /** PSI some-io stall beyond this percent of wall marks the window bad */
  private[graft] val PsiIoPctBad = 15.0
  /** PSI some-memory stall beyond this percent of wall marks it bad */
  private[graft] val PsiMemPctBad = 5.0
  /** cgroup throttled time beyond this percent of wall (with ≥1
    * throttle event) marks the window bad
    */
  private[graft] val CgThrottlePctBad = 1.0

  /** The budget gate's window adjudication, pure and unit-testable: the
    * recorded spin calibrations and CPU/stall percentages decide
    * whether a CONFIRMED budget violation ran in a window that was
    * itself measurably degraded. Some(evidence) → the machine, not the
    * code (bench exits 4); None → clean window, code-attributable
    * (exits 3). Independent signals, any one suffices:
    *
    *  1. the post-spin degrading >1.5x beyond the run's own
    *     pre-calibration (window turned bad mid-run)
    *  2. BOTH run-bracketing calibrations >1.5x the recorded
    *     clean-window reference (the whole run sat in a bad window —
    *     covers a pre-spin that was itself contended)
    *  3. graph_build among the violations AND the build spin — the
    *     calibration the un-re-runnable build actually ran under —
    *     >1.5x clean. Closes the pre-bad/post-clean hole the r14
    *     review named: contention that the 4-try stabilization loop
    *     gave up on and that cleared before the post-spin was invisible
    *     to signals 1-2 even though `build_spin_ms` in the artifact
    *     recorded it. Scoped to graph_build deliberately: a QUERY
    *     family's violation is confirmed by the end-of-run re-run,
    *     whose own window signal 4 covers — a bad build-time spin must
    *     not excuse a cleanly re-confirmed query regression
    *  4. the spin taken right after the confirmation re-runs >1.5x
    *     clean — the re-run is the measurement that CONFIRMS the
    *     violation, and contention arising during it must not read as
    *     a clean-window confirmation
    *  5. from the run-level or re-run CPU window (worst of the two):
    *     hypervisor steal >5% of CPU ticks, iowait >10% of CPU ticks,
    *     PSI some-io stall >15% of wall, PSI some-memory stall >5% of
    *     wall, or ≥1 cgroup throttle event with throttled time >1% of
    *     wall — the r14 invisible-window candidates (wall-clock stretch
    *     with no sys/steal signature). PSI some-cpu is recorded but
    *     never adjudicated: a 32-thread bench on 32 CPUs generates cpu
    *     pressure by design.
    */
  private[graft] def windowVerdict(ev: WindowEvidence): Option[String] = {
    val f = WindowSpinFactor
    val clean = ev.cleanSpin32
    val cpuWindows = Seq(
      ev.cpu.map("run" -> _), ev.rerunCpu.map("re-run" -> _)).flatten
    def cpuSignal(bad: CpuWindow.Pcts => Boolean,
        render: (String, CpuWindow.Pcts) => String): Option[String] =
      cpuWindows.filter { case (_, c) => bad(c) }
        .sortBy { case (_, c) => -c.stealPct }.headOption
        .map { case (tag, c) => render(tag, c) }
    val reasons = Seq(
      Option.when(ev.spinPost._2 > f * ev.spinPre._2)(
        s"32-thread spin degraded mid-run: post ${ev.spinPost._2} ms > " +
          s"${f}x pre ${ev.spinPre._2} ms"),
      Option.when(
        math.min(ev.spinPre._2, ev.spinPost._2) > f * clean)(
        s"whole run in a degraded window: spin pre ${ev.spinPre._2} / " +
          s"post ${ev.spinPost._2} ms both > ${f}x clean $clean ms"),
      Option.when(ev.violatedFamilies.contains("graph_build") &&
          ev.buildSpin._2 > f * clean)(
        s"graph_build ran in a degraded window: build spin " +
          s"${ev.buildSpin._2} ms > ${f}x clean $clean ms (stabilization " +
          "loop gave up and the one-time build cannot re-run)"),
      ev.rerunSpin.filter(_._2 > f * clean).map(s =>
        s"confirmation re-run in a degraded window: re-run spin ${s._2} " +
          s"ms > ${f}x clean $clean ms"),
      // memory-streaming signals (r16): the same four window shapes,
      // adjudicated on the DRAM-bound probe the register-bound spin
      // cannot see (r15's 176-278 s oscillation on identical code ran
      // with every spin/CPU counter clean). Signals only arm when the
      // probe was recorded ((0,0) = absent) and mirror the spin's
      // scoping: the build-stream signal covers only graph_build, and
      // a re-run confirmed under a clean re-run stream stands.
      Option.when(ev.streamPre._2 > 0 &&
          ev.streamPost._2 > f * ev.streamPre._2)(
        s"memory bandwidth degraded mid-run: post stream " +
          s"${ev.streamPost._2} ms > ${f}x pre ${ev.streamPre._2} ms"),
      Option.when(ev.streamPre._2 > 0 && ev.streamPost._2 > 0 &&
          math.min(ev.streamPre._2, ev.streamPost._2) >
            f * ev.cleanStream32)(
        s"whole run under memory-bandwidth contention: stream pre " +
          s"${ev.streamPre._2} / post ${ev.streamPost._2} ms both > " +
          s"${f}x clean ${ev.cleanStream32} ms"),
      Option.when(ev.violatedFamilies.contains("graph_build") &&
          ev.buildStream._2 > f * ev.cleanStream32)(
        s"graph_build ran under memory-bandwidth contention: build " +
          s"stream ${ev.buildStream._2} ms > ${f}x clean " +
          s"${ev.cleanStream32} ms"),
      ev.rerunStream.filter(_._2 > f * ev.cleanStream32).map(s =>
        s"confirmation re-run under memory-bandwidth contention: " +
          s"re-run stream ${s._2} ms > ${f}x clean ${ev.cleanStream32} ms"),
      cpuSignal(_.stealPct > 5.0, (t, c) =>
        s"hypervisor steal ${c.stealPct}% of $t CPU ticks (>5%)"),
      cpuSignal(_.iowaitPct > IowaitPctBad, (t, c) =>
        s"iowait ${c.iowaitPct}% of $t CPU ticks (>$IowaitPctBad%)"),
      cpuSignal(_.psiIoPct > PsiIoPctBad, (t, c) =>
        s"PSI io-some stall ${c.psiIoPct}% of $t wall (>$PsiIoPctBad%)"),
      cpuSignal(_.psiMemPct > PsiMemPctBad, (t, c) =>
        s"PSI memory-some stall ${c.psiMemPct}% of $t wall " +
          s"(>$PsiMemPctBad%)"),
      cpuSignal(c => c.cgThrottled > 0 && c.cgThrottlePct > CgThrottlePctBad,
        (t, c) => s"cgroup CPU throttled ${c.cgThrottled}x for " +
          s"${c.cgThrottlePct}% of $t wall (>$CgThrottlePctBad%)")
    ).flatten
    if (reasons.isEmpty) None else Some(reasons.mkString("; "))
  }

  /** Recorded per-family wall-clock budgets (seconds, family = sum of
    * per-query medians at sf0.1 / local[32]) — the r8 cold-cache run
    * with ~1.5x headroom for machine noise. Re-record when a family
    * legitimately grows (new queries) — the point is that growth is a
    * DECISION, not a surprise.
    *
    * RATCHET RULE (r12, binding by convention): a budget may WIDEN only
    * on (a) two independent slow-window confirmations — the family's
    * observed sum exceeding the budget in two separate full-Bench
    * windows (different JVM sessions), or (b) one driver-run
    * confirmation — and every widening records the observed numbers
    * inline next to the value (precedent: the r11 sql 18→21 note
    * below). A single local window never widens anything: the
    * confirmedViolations re-run absorbs single-row blips, and
    * cross-session medians drift ±40% (PLANS.md's QBench study), so one
    * slow window is evidence of the WINDOW, not the code. TIGHTENING
    * needs one clean window at the lower value. A ratchet that only
    * ever widens has no teeth — every widening should name the rounds
    * that confirmed it.
    */
  val DefaultBudgets: Map[String, Double] = Map(
    // ann tightened 10→9 r14: clean-window cold runs measured 6.9
    // (r13 snapshot) and 7.6 (r14 cold run 1, spin certificate pre
    // [1165,1389] post [1172,1237], steal 0.3) — 9 is ~1.2x the worst
    // observed clean-window sum
    "ann" -> 9.0,
    // dedup/pipeline/graphx re-tightened r11 (observed sums across two
    // valid local windows + r10 driver: dedup 47.9-55.2 / 49.5,
    // pipeline 12.9-13.2 / 11.7, graphx 1.7 / 1.6): the r11 small-dup
    // collapse bypass returned the LSH/simhash/edit rows to ~r8 cost.
    // Headroom is ~1.2x the worst observed WINDOW sum — tighter than
    // the r9 1.4x because confirmedViolations now re-runs a flagged
    // family before failing (covers single-row blips); the remaining
    // margin covers whole-window drift, which the re-run does not
    // pipeline/sql re-widened to 21 after the final r11 snapshot landed
    // in a slow window (pipeline 17.5, sql 16.8 observed vs the 18
    // budgets), then re-tightened to 18 in r12 per the ratchet rule:
    // the next normal window (r12 fresh control, bench total 168 s)
    // measured sql 12.1 / pipeline 13.5 — the r11 snapshot window was
    // the outlier, and 18 still clears even that window's sums
    "dedup" -> 65.0, "dml" -> 4.0, "graphx" -> 2.5,
    // other re-recorded 85→110 r14 for GROWTH, not drift: the family
    // is the unprefixed catch-all and gained rows through r12-r13
    // (fixpoint faces q_kcore_fixpoint/q_topo_sort oracle legs, etc.).
    // Confirming windows, both CLEAN per their own certificates:
    // r13 final snapshot 91.6 (re-run passed, the single-window-blip
    // policy), r14 cold run 1 95.2 first pass / 86.8 CONFIRMED re-run
    // (spin pre [1165,1389] post [1172,1237], sys 1.1, steal 0.3) —
    // 110 is ~1.2x the worst observed clean-window first pass
    "match" -> 4.0, "multimodal" -> 17.0, "other" -> 110.0,
    "path" -> 3.5, "pipeline" -> 18.0, "sql" -> 18.0, "text" -> 2.0,
    // the one-time bulk load, budgeted as its own row (r9): the r8
    // driver run measured 8.97 s and the driver's own gate is 60 s —
    // >=3x headroom over the observed median means environment drift
    // trips THIS gate with ~30 s of margin left, never the driver's
    "graph_build" -> 30.0)

  /** pure check, unit-testable: families over budget, rendered */
  private[graft] def budgetViolations(famSums: Map[String, Double],
      budgets: Map[String, Double]): Seq[String] =
    budgets.toSeq.sortBy(_._1).flatMap { case (f, b) =>
      famSums.get(f).filter(_ > b).map(v =>
        f"family '$f' at $v%.2f s exceeds its $b%.2f s budget")
    }

  /** [[budgetViolations]] with the documented re-run-once noise policy,
    * pure and unit-testable: families over budget on the first pass are
    * re-measured ONCE via `rerun` (given the flagged family names,
    * returns fresh per-family sums for the families it could re-run);
    * only a family whose RE-RUN also exceeds its budget is reported —
    * as (family, message) with both numbers, so the log distinguishes
    * "reproduced" from the absorbed transient and [[windowVerdict]]
    * knows WHICH families violated (graph_build gets its own window
    * signal). A family `rerun` cannot re-measure (e.g. the one-time
    * graph_build) keeps its first measurement. `rerun` is never called
    * when the first pass is clean.
    */
  private[graft] def confirmedViolations(famSums: Map[String, Double],
      budgets: Map[String, Double],
      rerun: Set[String] => Map[String, Double])
      : Seq[(String, String)] = {
    val flagged = budgets.keySet
      .filter(f => famSums.get(f).exists(_ > budgets(f)))
    if (flagged.isEmpty) Seq.empty
    else {
      val fresh = rerun(flagged)
      flagged.toSeq.sorted.flatMap { f =>
        val first = famSums(f)
        val second = fresh.getOrElse(f, first)
        if (second > budgets(f)) Some(f ->
          (f"family '$f' at $first%.2f s (re-run $second%.2f s) exceeds " +
            f"its ${budgets(f)}%.2f s budget"))
        else None
      }
    }
  }
}

/** CPU-window accounting from `/proc/stat` + `/proc/self/stat` deltas —
  * the instrument behind per-query window adjudication. This harness
  * runs on a shared/virtualized host where single-window wall times
  * swing 2-8x on untouched code (the r11/r12 drift episodes; an r13
  * control measured the same sf1 graph build at 49 s and 233 s minutes
  * apart while the box showed load-average 22 with zero local user
  * processes). Percentages of the window's total CPU ticks (or of its
  * wall clock, for the stall counters) turn "was the window bad?" into
  * recorded evidence beside each wall time:
  *
  *  - `sys_pct`: kernel time — syscall/futex churn (the r13 slow-build
  *    windows burned 30-70 MINUTES of kernel CPU in 2-3 minute runs)
  *  - `steal_pct`: the hypervisor scheduling our vCPU elsewhere
  *  - `ext_pct`: busy ticks THIS JVM did not burn (other tenants /
  *    daemons) — busyNonSteal minus /proc/self utime+stime
  *  - `iowait_pct`: CPUs idle WAITING on IO — wall-clock stretch with
  *    no sys/steal signature (one of the r14 invisible-window
  *    candidates: the driver window carried 3-5x row inflation that
  *    sys/steal/ext all read as clean)
  *  - `psi_{cpu,io,mem}_pct`: PSI `some` stall time
  *    (`/proc/pressure/{cpu,io,memory}` total= deltas) as a percent of
  *    the window's WALL time — "some task was stalled on this
  *    resource". psi_cpu is recorded but never adjudicated on: a bench
  *    that saturates all 32 CPUs with 32+ runnable threads generates
  *    cpu-some pressure BY DESIGN; io/mem pressure at run level is the
  *    foreign-interference signal
  *  - `cg_throttled` / `cg_throttle_pct`: cgroup CPU-quota throttling
  *    (`cpu.stat` nr_throttled count and throttled time as a percent
  *    of wall) — a host-imposed quota stretches wall with NO guest-
  *    visible sys/steal/iowait signature at all
  *
  * A row whose wall time doubles while any of these spike is a window
  * verdict with the evidence attached; one that doubles at flat
  * percentages is a code regression. Non-Linux / unreadable /proc →
  * snapshots return None and the bench JSON simply omits "cpu";
  * missing PSI/cgroup files degrade to zero deltas (no evidence, never
  * an error).
  */
private[graft] object CpuWindow {
  /** one window endpoint: /proc/stat tick counters (idle and iowait
    * split), this process's utime+stime, a wall-clock stamp for the
    * stall-time percentages, PSI `some` stall totals (µs), and cgroup
    * CPU throttle counters. New fields default to 0 — absent counters
    * read as zero deltas (graceful degradation, same contract as the
    * Option-valued snapshot itself).
    */
  final case class Snap(usr: Long, sys: Long, idle: Long, steal: Long,
      self: Long, iowait: Long = 0L, wallNs: Long = 0L,
      psiCpuUs: Long = 0L, psiIoUs: Long = 0L, psiMemUs: Long = 0L,
      cgThrottled: Long = 0L, cgThrottledUs: Long = 0L)

  /** PSI `some` stall total in µs for cpu/io/memory — first line is
    * `some avg10=… avg60=… avg300=… total=<µs>`; 0 when unreadable
    */
  private def psiSomeUs(kind: String): Long = try {
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"/proc/pressure/$kind")).get(0)
    line.split("total=")(1).trim.toLong
  } catch { case _: Exception => 0L }

  /** cgroup CPU throttle counters (nr_throttled, throttled µs) for the
    * cgroup THIS process runs in: cgroup-v2 `cpu.stat` (throttled_usec)
    * first, then v1 (`throttled_time` in ns); per-process path from
    * /proc/self/cgroup with a root-cgroup fallback. (0,0) when neither
    * hierarchy is readable.
    */
  private def cgCpuStat(): (Long, Long) = {
    def read(path: String, timeKey: String, div: Long): Option[(Long, Long)] =
      try {
        val m = scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)))
          .asScala
          .map(_.split("\\s+"))
          .collect { case Array(k, v) => k -> v.toLong }.toMap
        m.get("nr_throttled").map(n => (n, m.getOrElse(timeKey, 0L) / div))
      } catch { case _: Exception => None }
    val selfCg = try scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/cgroup"))).asScala.toSeq
      catch { case _: Exception => Seq.empty[String] }
    val v2Path = selfCg.collectFirst {
      case l if l.startsWith("0::") => l.stripPrefix("0::").stripSuffix("/")
    }
    val v1Path = selfCg.collectFirst {
      case l if l.split(":").length == 3 &&
        l.split(":")(1).split(",").contains("cpu") =>
        l.split(":")(2).stripSuffix("/")
    }
    v2Path.flatMap(p =>
        read(s"/sys/fs/cgroup$p/cpu.stat", "throttled_usec", 1L))
      .orElse(read("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1L))
      .orElse(v1Path.flatMap(p =>
        read(s"/sys/fs/cgroup/cpu$p/cpu.stat", "throttled_time", 1000L)))
      .orElse(read("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1000L))
      .getOrElse((0L, 0L))
  }

  def snapshot(): Option[Snap] = try {
    val stat = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat"))
    val cpu = stat.get(0).trim.split("\\s+")
    require(cpu(0) == "cpu")
    val t = cpu.drop(1).map(_.toLong)
    def at(i: Int) = if (t.length > i) t(i) else 0L
    // /proc/self/stat: utime+stime are fields 14/15 (1-indexed), after
    // the parenthesized comm — parse from the last ')'
    val selfLine = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
    val rest = selfLine.substring(selfLine.lastIndexOf(')') + 2).split(" ")
    val selfTicks = rest(11).toLong + rest(12).toLong
    val (cgN, cgUs) = cgCpuStat()
    Some(Snap(at(0) + at(1), at(2) + at(5) + at(6), at(3), at(7),
      selfTicks, iowait = at(4), wallNs = System.nanoTime(),
      psiCpuUs = psiSomeUs("cpu"), psiIoUs = psiSomeUs("io"),
      psiMemUs = psiSomeUs("memory"),
      cgThrottled = cgN, cgThrottledUs = cgUs))
  } catch { case _: Exception => None }

  /** Fixed-work spin calibration: wall milliseconds for 2^29 xorshift64
    * steps on one thread, and for the same loop on `par` concurrent
    * threads (slowest thread's wall). sys/steal/ext percentages miss a
    * whole class of window degradation — the r13 bisection found
    * carried rows uniformly 1.45x slower in a window whose CPU
    * percentages were all flat (host-side throttling/overcommit that
    * the guest's tick accounting never sees). A fixed arithmetic
    * workload is code-independent ground truth: its wall time moves
    * ONLY with the window, so `spin_ms` beside a bench total converts
    * "the whole run looks 1.4x slow" into a measured window multiplier.
    */
  def spinMs(par: Int = 32): (Long, Long) = {
    def one(seed: Long): Long = {
      var x = seed | 1L
      var i = 0L
      val n = 1L << 29
      val t0 = System.nanoTime()
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      val dt = (System.nanoTime() - t0) / 1000000L
      if (x == 42L) Console.err.print("") // defeat dead-code elimination
      dt
    }
    val single = one(0x9E3779B97F4A7C15L)
    class Spinner(seed: Long) extends Thread {
      var ms = 0L
      override def run(): Unit = ms = one(seed)
    }
    val threads = (1 to par).map { k =>
      val t = new Spinner(k.toLong); t.start(); t
    }
    val worst = threads.map { t => t.join(); t.ms }.max
    (single, worst)
  }

  /** Shared read-only buffer for [[streamMs]]: 16M longs = 128 MiB,
    * far beyond any last-level cache, so every pass streams from DRAM.
    * Allocated once per JVM on first use and kept (the probe runs 3-4
    * times per bench; 128 MiB of the 8 GiB bench heap).
    */
  private lazy val streamBuf: Array[Long] = {
    val n = 1 << 24
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = 0x9E3779B97F4A7C15L * i; i += 1 }
    a
  }

  /** Fixed-work memory-STREAMING calibration, the bandwidth-sensitive
    * sibling of [[spinMs]] (r15 verdict #2): wall ms to sum 8
    * sequential passes over the shared 128 MiB buffer on one thread,
    * and the same per-thread work on `par` concurrent threads (slowest
    * thread's wall), each thread starting at its own offset so the
    * threads don't ride one another's cache-line fills. The xorshift
    * spin is register-bound: r15's slow windows (identical code,
    * 176-278 s totals) ran with every CPU counter clean and the spin
    * FASTER than in fast windows — host-level memory-bandwidth
    * contention is the one resource class it cannot see. This probe's
    * traffic (par x 1 GiB) is DRAM-bound by construction, so its wall
    * time moves only with the window's effective memory bandwidth.
    */
  def streamMs(par: Int = 32): (Long, Long) = {
    val buf = streamBuf
    val n = buf.length
    val passes = 8
    def one(off0: Int, cap: Int = Int.MaxValue): Long = {
      var s = 0L
      val t0 = System.nanoTime()
      var p = 0
      while (p < passes) {
        var i = off0
        var cnt = 0
        val lim = math.min(n, cap)
        while (cnt < lim) {
          s += buf(i)
          i += 1
          if (i == n) i = 0
          cnt += 1
        }
        p += 1
      }
      val dt = (System.nanoTime() - t0) / 1000000L
      if (s == 42L) Console.err.print("") // defeat dead-code elimination
      dt
    }
    // untimed JIT warm-up (1/64 of a pass): the first invocation in a
    // JVM otherwise times C2 compilation of the loop, and the PRE probe
    // is always that first invocation — a systematic +50% on exactly
    // the calibration the mid-run-degradation signal compares against
    one(0, cap = n >> 6)
    val single = one(0)
    class Streamer(off: Int) extends Thread {
      var ms = 0L
      override def run(): Unit = ms = one(off)
    }
    val threads = (0 until par).map { k =>
      val t = new Streamer(((n.toLong * k) / par).toInt); t.start(); t
    }
    val worst = threads.map { t => t.join(); t.ms }.max
    (single, worst)
  }

  /** window percentages, renderable as the artifact's JSON fragment.
    * sys/steal/ext/iowait are percents of the window's CPU ticks;
    * psi_* and cg_throttle_pct are stall time as a percent of the
    * window's WALL clock (0 when the snapshots carry no wall stamp);
    * cg_throttled is the raw throttle-event count delta.
    */
  final case class Pcts(sysPct: Double, stealPct: Double, extPct: Double,
      iowaitPct: Double = 0.0, psiCpuPct: Double = 0.0,
      psiIoPct: Double = 0.0, psiMemPct: Double = 0.0,
      cgThrottled: Long = 0L, cgThrottlePct: Double = 0.0) {
    def json: String =
      s"""{"sys_pct":$sysPct,"steal_pct":$stealPct,"ext_pct":$extPct,""" +
        s""""iowait_pct":$iowaitPct,"psi_cpu_pct":$psiCpuPct,""" +
        s""""psi_io_pct":$psiIoPct,"psi_mem_pct":$psiMemPct,""" +
        s""""cg_throttled":$cgThrottled,"cg_throttle_pct":$cgThrottlePct}"""
  }

  /** Percentages for the window between two snapshots, or None if
    * either side is missing or the window is empty. Each component
    * delta clamps at 0: on a virtualized host, vCPU hotplug or counter
    * resets can step /proc/stat fields backwards, and a negative
    * steal_pct/sys_pct would misread downstream (the ext component
    * already clamped for the same reason).
    */
  def delta(a: Option[Snap], b: Option[Snap]): Option[Pcts] = for {
    s0 <- a; s1 <- b
    usr = math.max(0L, s1.usr - s0.usr)
    sysD = math.max(0L, s1.sys - s0.sys)
    idle = math.max(0L, s1.idle - s0.idle)
    iow = math.max(0L, s1.iowait - s0.iowait)
    steal = math.max(0L, s1.steal - s0.steal)
    total = usr + sysD + idle + iow + steal
    if total > 0
  } yield {
    val ext = math.max(0L, usr + sysD - (s1.self - s0.self))
    def pct(x: Long) = math.round(x * 1000.0 / total) / 10.0
    val wallUs = (s1.wallNs - s0.wallNs) / 1000L
    def wallPct(us: Long) =
      if (wallUs <= 0L) 0.0
      else math.round(math.max(0L, us) * 1000.0 / wallUs) / 10.0
    Pcts(pct(sysD), pct(steal), pct(ext), iowaitPct = pct(iow),
      psiCpuPct = wallPct(s1.psiCpuUs - s0.psiCpuUs),
      psiIoPct = wallPct(s1.psiIoUs - s0.psiIoUs),
      psiMemPct = wallPct(s1.psiMemUs - s0.psiMemUs),
      cgThrottled = math.max(0L, s1.cgThrottled - s0.cgThrottled),
      cgThrottlePct = wallPct(s1.cgThrottledUs - s0.cgThrottledUs))
  }
}
