package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.ddl.GraphCatalog
import graft.graph.{GraphProvider, TpchGraph}
import graft.lang.{GraphSession, GraphSql}
import graft.stats.GraphStats
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

/** The benchmark's JVM side: sets a workload up, runs its statements in a
  * closed loop with one client thread, and writes raw timings, spans,
  * listener counters and the results to check as JSON for `run.py`, which
  * checks the outputs and computes the metrics.
  *
  * {{{
  * Main --workload graph_read --statements s.jsonl --data dataDir
  *      --work workDir --seconds 5 --trace 0 --setups 3 --cores 4 --out r.json
  * }}}
  *
  * Every timed operation runs from statement text to full result: the
  * result is written to Spark's `noop` sink, which evaluates every
  * column (a `count()` would let Catalyst prune them). With `--trace 1`
  * the window runs as without tracing and is followed by two more over the
  * same statements: one that records spans around the calls into each
  * layer and the listener counters of each operation, and one untraced
  * again, the baseline for the tracing overhead.
  */
object Main {

  /** One statement of the list `run.py` generates. `verify` marks a timed
    * statement whose full result is dumped after the window for the
    * DuckDB comparison.
    */
  final case class Stmt(section: String, pass: Int, kind: String,
      key: String, text: String, verify: Boolean)

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      t0: Long, t1: Long)

  final case class OpRec(phase: String, index: Int, stmt: Stmt,
      t0: Long, t1: Long, error: Option[String], rows: Long,
      counters: Map[String, Double])

  private def readStatements(file: String): Seq[Stmt] = {
    val mapper = new ObjectMapper()
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      def s(k: String) = Option(n.get(k)).map(_.asText).getOrElse("")
      Stmt(s("section"), Option(n.get("pass")).map(_.asInt).getOrElse(-1),
        s("kind"), s("key"), s("text"),
        Option(n.get("verify")).exists(_.asBoolean))
    }.toVector
    finally src.close()
  }

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val h = new Harness(tMain, opt("workload"),
      readStatements(opt("statements")), opt("data"), opt("work"),
      opt("cores").toInt)
    h.run(opt("seconds").toDouble, opt("trace") == "1", opt("setups").toInt,
      opt("out"))
  }
}

final class Harness(tMain: Long, workload: String, stmts: Seq[Main.Stmt],
    dataDir: String, val workDir: String, cores: Int) {
  import Main._

  var spark: SparkSession = _
  private val probe = new Probe
  private val spans = mutable.ArrayBuffer[Span]()
  private val ops = mutable.ArrayBuffer[OpRec]()
  private val stack = mutable.Stack[Int]()
  private var currentOp = -1

  def now(): Long = System.nanoTime() - tMain

  private def section(name: String) = stmts.filter(_.section == name)
  def setupStatements: Seq[Stmt] = section("setup")
  def checkStatements: Seq[Stmt] = section("check")

  private def open(name: String, parent: Int): Int = spans.synchronized {
    spans += Span(spans.size, parent, currentOp, name, now(), -1L)
    spans.size - 1
  }

  private def close(id: Int): Unit = spans.synchronized {
    spans(id) = spans(id).copy(t1 = now())
  }

  /** Records a span around `f`, nested under the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val id = open(name, stack.headOption.getOrElse(-1))
    stack.push(id)
    try f
    finally {
      stack.pop()
      close(id)
    }
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(probe)
    s.listenerManager.register(probe)
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Block-manager storage in MiB: memory held by cached blocks plus the
    * disk blocks of persisted RDDs.
    */
  private def storageMb(): Double = {
    val sc = spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
    val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
    (mem + disk) / 1048576.0
  }

  /** Storage still held once unreachable state is gone: forced GCs let
    * Spark's context cleaner drop what nothing references any more; poll
    * until two readings agree.
    */
  private def settledStorageMb(): Double = {
    var last = -1.0
    var cur = storageMb()
    var tries = 0
    while (cur != last && tries < 20) {
      System.gc()
      Thread.sleep(150)
      last = cur
      cur = storageMb()
      tries += 1
    }
    cur
  }

  private def heapUsedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def makeWorkload(): Workload = workload match {
    case "graph_read" => new Workload(this, catalog = false)
    case "dml_curate" => new Workload(this, catalog = true)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Materializes the TPC-H graph's node tables, concurrently as a bulk
    * load would, with one span per table.
    */
  def buildGraph(dir: String): GraphProvider = {
    val provider = TpchGraph.provider(spark, dir)
    val tables = TpchGraph.tables(spark, dir)
    val parent = stack.headOption.getOrElse(-1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val builds = tables.toSeq.map { case (name, df) =>
      Future {
        val id = open(s"graph.build.$name", parent)
        try df.count() finally close(id)
      }
    }
    Await.result(Future.sequence(builds), Duration.Inf)
    TpchGraph.releaseStaging(dir)
    provider
  }

  private def runOp(d: Workload, s: Stmt, index: Int, phase: String,
      traced: Boolean): Unit = {
    currentOp = if (traced) ops.size else -1
    var err: Option[String] = None
    var rows = -1L
    val counters = mutable.Map[String, Double]()
    val t0 = now()
    try {
      if (!traced) rows = d.act(s, d.construct(s))
      else span("op") {
        if (GraphSql.isMatchQuery(s.text) && GraphSql.findExistsMatch(s.text).isEmpty) {
          span("lang.parse")(GraphSql.parse(s.text))
          val steps = span("planner.explain")(d.session.explainMatch(s.text))
          counters("planner.steps") = steps.size.toDouble
        }
        drain(); probe.take()
        val df = span("prep.construct")(d.construct(s))
        drain()
        probe.take().foreach { case (k, v) => counters(s"prep.$k") = v }
        rows = span("exec.action")(d.act(s, df))
        drain()
        probe.take().foreach { case (k, v) => counters(s"exec.$k") = v }
        counters("stage.rdds_left") = spark.sparkContext.getPersistentRDDs.size.toDouble
        counters("stage.cached_mb_after") = storageMb()
      }
    } catch {
      case NonFatal(e) => err = Some(e.toString.take(2000))
    }
    ops += OpRec(phase, index, s, t0, now(), err, rows, counters.toMap)
    currentOp = -1
  }

  /** Runs whole passes of the timed statements until `seconds` have
    * elapsed; returns the window's wall time in seconds.
    */
  private def window(d: Workload, phase: String, seconds: Double,
      traced: Boolean): Double = {
    val timed = section("timed")
    val start = now()
    var i = 0
    var stop = false
    while (!stop && i < timed.size) {
      val boundary = i > 0 && timed(i).pass != timed(i - 1).pass
      if (boundary && (now() - start) / 1e9 >= seconds) stop = true
      else {
        runOp(d, timed(i), i, phase, traced)
        i += 1
      }
    }
    (now() - start) / 1e9
  }

  /** Dumps the full result of each statement marked `verify` as parquet. */
  private def verify(d: Workload): Seq[Map[String, Any]] =
    section("timed").filter(_.verify).zipWithIndex.map { case (s, i) =>
      val dir = s"$workDir/checks/r$i"
      val error = try {
        d.construct(s).coalesce(1).write.mode("overwrite").parquet(dir)
        None
      } catch { case NonFatal(e) => Some(e.toString.take(2000)) }
      Map("key" -> s.key, "text" -> s.text, "dir" -> dir, "error" -> error,
        "oracle" -> (if (s.kind == "op") SparkEntry.oracleSql.get(s.text) else None))
    }

  def run(seconds: Double, trace: Boolean, setups: Int, out: String): Unit = {
    val w = makeWorkload()
    val reps = (0 until setups).map { rep =>
      stopSession()
      val t0 = if (rep == 0) 0L else now()
      span("setup") {
        spark = span("setup.session")(newSession())
        // each set-up reads the data under its own path: the engine keys
        // its per-dataset caches by path, so a set-up rebuilds from scratch
        val dir = Paths.get(workDir, s"data$rep")
        if (!Files.exists(dir)) Files.createSymbolicLink(dir, Paths.get(dataDir))
        w.setUp(dir.toString)
      }
      (now() - t0) / 1e9
    }
    w.ready()
    drain(); probe.take()
    // the set-ups leave their stopped sessions' garbage behind; collect it
    // so each window starts from the same heap state
    System.gc()

    val windows = mutable.LinkedHashMap[String, Double]()
    windows("untraced") = window(w, "untraced", seconds, traced = false)
    if (trace) {
      windows("traced") = window(w, "traced", seconds, traced = true)
      windows("rerun") = window(w, "rerun", seconds, traced = false)
    }
    val cachedEnd = settledStorageMb()
    val heapEnd = heapUsedMb()
    val checks = span("checks")(w.finalChecks())
    val results = span("verify")(verify(w))

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"))
    val result = Map(
      "workload" -> workload,
      "env" -> env,
      "setup_reps_s" -> reps,
      "windows_s" -> windows,
      "cached_mb_end" -> cachedEnd,
      "heap_mb_end" -> heapEnd,
      "results" -> results,
      "checks" -> checks,
      "ops" -> ops.map(o => Map(
        "phase" -> o.phase, "index" -> o.index, "pass" -> o.stmt.pass,
        "kind" -> o.stmt.kind, "key" -> o.stmt.key, "t0" -> o.t0,
        "t1" -> o.t1, "error" -> o.error, "rows" -> o.rows,
        "counters" -> o.counters)),
      "spans" -> spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1)))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(out), json.writeValueAsBytes(result))
    stopSession()
  }
}

/** A workload's state and how it runs a statement.
  *
  * graph_read plans MATCH statements on the TPC-H graph with sampled
  * statistics and calls the GraphX operators on the same data; its set-up
  * materializes the graph. dml_curate runs graph DML and MATCH reads on a
  * catalog-backed session and calls the curation operators; its set-up
  * builds the catalog with CREATE NODE TABLE and INSERT statements.
  * Operators (kind `op`) go through `SparkEntry.queries`, everything else
  * through `GraphSession.sql`. A write reports the rows it affected; the
  * final check counts the catalog's edges, which must equal the initial
  * count plus inserted minus deleted rows.
  */
final class Workload(h: Harness, catalog: Boolean) {
  private val queries = SparkEntry.queries
  private var gs: GraphSession = _
  private var dir: String = _
  private var catalogs = 0
  private var initialEdges = -1L

  /** The session whose dialect layers the traced run calls directly. */
  def session: GraphSession = gs

  def setUp(dir: String): Unit = {
    this.dir = dir
    if (catalog) {
      graft.Tables.registerAll(h.spark, dir)
      catalogs += 1
      gs = new GraphSession(h.spark,
        new GraphCatalog(h.spark, s"${h.workDir}/catalog$catalogs"))
    } else {
      val provider = h.buildGraph(dir)
      gs = new GraphSession(h.spark, provider, None, None,
        Some(() => GraphStats.collectSampled(provider)))
      h.span("stats.collect")(gs.stats)
    }
    h.span("setup.statements")(h.setupStatements.foreach(s =>
      h.span(s"setup.statement.${s.key}")(gs.sql(s.text).collect())))
  }

  /** Called once the set-ups are done. */
  def ready(): Unit = if (catalog) initialEdges = edgeCount()

  /** Statement text to DataFrame; may start eager jobs. */
  def construct(s: Main.Stmt): DataFrame =
    if (s.kind == "op") queries(s.text)(h.spark, dir) else gs.sql(s.text)

  /** Forces the full result; returns the rows a write reports, else -1. */
  def act(s: Main.Stmt, df: DataFrame): Long =
    if (s.kind == "write") df.collect().head.getLong(0)
    else { Main.force(df); -1L }

  private def edgeCount(): Long =
    gs.sql(h.checkStatements.head.text).collect().head.getLong(0)

  /** Checks made after the window, for `run.py` to judge. */
  def finalChecks(): Map[String, Any] =
    if (catalog) Map("initial_edges" -> initialEdges, "final_edges" -> edgeCount())
    else Map.empty
}
