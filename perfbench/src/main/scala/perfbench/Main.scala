package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Row, SparkSession}

import graft.engine.{Catalog, SqlEngine, SqlParser}

/** Benchmark process for one run of one workload.
  *
  * Usage: perfbench.Main --workload <stmt_mix|batch_board>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints one `PERFBENCH_RESULT {json}` line with the run's metrics, output
  * checks, sample counts and host canary; `perfbench/run.py` turns it into
  * the benchmark's result line.
  */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = new Run(opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
      Paths.get(opts("work")).toAbsolutePath.toString)
    try {
      workload match {
        case "stmt_mix" => StmtMix.run(run)
        case "batch_board" => BatchBoard.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      println("PERFBENCH_RESULT " + run.toJson(workload))
    } finally run.close()
  }
}

/** State of one benchmark run: the session, the output checks, the
  * metrics, and (traced runs) the Spark listener. */
final class Run(val seed: Long, val seconds: Double, val traced: Boolean, val work: String) {
  val canaryMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer(Run.canary())

  /** Seconds since JVM start at each named phase boundary. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit =
    phases(name) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  phase("canary")

  private val t0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${Main.Cores}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Main.Cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  phase("session")
  /** Session start, seconds: part of every workload's set-up time. */
  val sessionSeconds: Double = (System.nanoTime() - t0) / 1e9

  val probe: Option[SparkProbe] =
    if (traced) { val p = new SparkProbe(spark.sparkContext); spark.sparkContext.addSparkListener(p); Some(p) }
    else None

  // ---- outputs of the run ----
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  var oracle: Option[(String, Map[String, String])] = None

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    checks += ((name, ok, if (ok) "" else detail))
  }

  def newCatalog(dir: String): Catalog =
    if (traced) new TracingCatalog(dir) else new Catalog(dir)

  /** Path `name` under the run's work dir, its parent directory created. */
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Times `reps` set-ups (each from scratch) and records `setup_s` as the
    * session start plus their median; returns the last set-up's result. */
  def setup[T](reps: Int)(body: Int => T): T = {
    var last: Option[T] = None
    val times = (1 to reps).map { r =>
      val t = System.nanoTime()
      last = Some(body(r))
      (System.nanoTime() - t) / 1e9
    }
    phase("setup")
    e2e("setup_s") = (sessionSeconds + Stats.median(times), "s")
    detail("setup_reps_s") = times
    detail("session_start_s") = sessionSeconds
    last.get
  }

  // ---- timed operations ----
  private val opIds = new AtomicLong
  /** (scope, op id, start ms, end ms) of every operation timed while
    * tracing was on. */
  val opIntervals = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()

  /** Runs one timed call into the program under `scope`; returns its
    * result and wall milliseconds. Jobs it submits carry the scope. */
  def op[T](scope: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val id = opIds.incrementAndGet()
    val tracing = Trace.on
    sc.setLocalProperty(SparkProbe.ScopeKey, if (tracing) scope else "-")
    sc.setLocalProperty(SparkProbe.OpKey, id.toString)
    val w0 = System.currentTimeMillis()
    val t = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t) / 1e6)
    } finally {
      if (tracing) opIntervals.add((scope, id, w0, System.currentTimeMillis()))
      sc.setLocalProperty(SparkProbe.ScopeKey, null)
      sc.setLocalProperty(SparkProbe.OpKey, null)
    }
  }

  /** One SQL statement through the engine, fully fetched; returns its
    * outcome (a rejected statement is a failure) and wall milliseconds.
    * Traced: the statement is first parsed by a separate parser call,
    * timed as `parser.parse` before the statement's clock starts, so its
    * wall holds only the engine call (span `shell.execute.<kind>`) and the
    * fetch (span `shell.fetch`); the analysis time is read back from the
    * returned DataFrame's planning tracker. */
  def statement(engine: SqlEngine, kind: String, sql: String): (Try[Array[Row]], Double) = {
    if (Trace.on) {
      val p0 = System.nanoTime()
      SqlParser.parse(sql)
      Trace.add("parser.parse", System.nanoTime() - p0)
    }
    op(kind)(Try {
      if (!Trace.on) engine.execute(sql).collect()
      else {
        val df = Trace.span(s"shell.execute.$kind")(engine.execute(sql))
        val analysis = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        Trace.add("shell.analysis", analysis * 1000000L)
        Trace.span("shell.fetch")(df.collect())
      }
    })
  }

  /** Names of the statement kinds timed with [[statement]]; the shell
    * metrics below are reported for each. */
  val statementKinds: Seq[String] =
    Seq("point", "range", "join", "ins_events", "ins_accounts", "ins_dup")
  val boardGroups: Seq[String] = Seq("relational", "operators", "lifecycle")
  val scopes: Seq[String] = statementKinds ++ boardGroups

  /** Fills every per-layer metric from the spans and the Spark listener.
    * `stmtWallMs` is the summed wall of the traced statements. Metrics of
    * layers the workload does not reach read 0; the workload sets the
    * rest (codegen, JVM, write amplification, ...) itself. */
  def finishLayers(stmtWallMs: Double, stmtCount: Long): Unit = {
    def put(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
    def perStmt(v: Double): Double = if (stmtCount == 0) 0.0 else v / stmtCount
    def mean(name: String): Double = { val c = Trace.count(name); if (c == 0) 0.0 else Trace.totalMs(name) / c }

    // set by the workload where it reaches the layer
    Seq("catalog.write_amp" -> "ratio", "catalog.live_parts" -> "count", "codegen.compiles" -> "count",
      "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "ratio")
      .foreach { case (n, u) => put(n, 0.0, u) }

    // parser + statement shell
    val parseMs = Trace.totalMs("parser.parse")
    val analysisMs = Trace.totalMs("shell.analysis")
    val (execSelf, _) = Trace.prefixTotals("shell.execute.", self = true)
    val (execTotal, _) = Trace.prefixTotals("shell.execute.", self = false)
    // catalog self time counts lock waits but not lock holds (the held
    // body is the statement's own work); calls count method spans only
    val (catSpans, catN) = Trace.prefixTotals("catalog.", self = true)
    val catSelf = catSpans - Trace.selfMs("catalog.lock_hold")
    val catCalls = catN - Trace.count("catalog.lock_wait") - Trace.count("catalog.lock_hold")
    val fetchMs = Trace.totalMs("shell.fetch")
    put("parser.parse_ms", perStmt(parseMs), "ms")
    statementKinds.foreach(k => put(s"shell.execute_ms.$k", mean(s"shell.execute.$k"), "ms"))
    put("shell.analysis_ms", perStmt(analysisMs), "ms")
    // a residual: execute self time already excludes catalog spans and
    // lock waits, and the engine's own parse (estimated by the separate
    // parse) and analysis run inside it
    val shellSelf = execSelf - parseMs - analysisMs
    put("shell.self_ms", perStmt(shellSelf), "ms")
    put("shell.fetch_ms", perStmt(fetchMs), "ms")
    // the blocking path's spans (engine call and fetch, timed apart)
    // against the statements' wall, timed around them
    put("trace.accounted_frac", if (stmtWallMs > 0) (execTotal + fetchMs) / stmtWallMs else 0.0, "ratio")

    // catalog
    put("catalog.calls_per_stmt", perStmt(catCalls.toDouble), "count")
    put("catalog.self_ms", perStmt(catSelf), "ms")
    put("catalog.lock_wait_ms", mean("catalog.lock_wait"), "ms")
    put("catalog.lock_hold_ms", mean("catalog.lock_hold"), "ms")
    put("catalog.commit_ms", mean("catalog.commitStaged"), "ms")
    put("catalog.serial_ms", mean("catalog.reserveSerial"), "ms")
    put("catalog.compactions", Trace.count("catalog.replaceData").toDouble, "count")
    put("catalog.compact_ms", mean("catalog.replaceData"), "ms")
    detail("catalog_calls") = Trace.names.filter(_.startsWith("catalog.")).map(n => n -> Trace.count(n)).toMap

    // Spark, per scope and in total over the traced scopes. A probe
    // scope "g.phase" belongs to scope "g".
    val p = probe.get
    p.drain()
    def root(scope: String): String = scope.takeWhile(_ != '.')
    val aggs = p.scopes.filter(k => scopes.contains(root(k))).map(k => k -> p.agg(k))
    def sumOf(keep: String => Boolean)(f: p.Agg => java.util.concurrent.atomic.LongAdder): Double =
      aggs.collect { case (k, a) if keep(k) => f(a).sum.toDouble }.sum
    def sumL(f: p.Agg => java.util.concurrent.atomic.LongAdder): Double = sumOf(_ => true)(f)
    // the traced window is the union of the traced operations, so
    // untraced stretches between them are not counted
    val ops = opIntervals.asScala.toSeq
    val jobs = p.jobIntervals.asScala.toSeq.filter(j => scopes.contains(root(j._1)))
    val windowMs = SparkProbe.covered(ops.map(o => (o._3, o._4)), Long.MinValue, Long.MaxValue).toDouble
    val taskS = sumL(_.taskMs) / 1e3
    put("spark.jobs", sumL(_.jobs), "count")
    put("spark.stages", sumL(_.stages), "count")
    put("spark.tasks", sumL(_.tasks), "count")
    put("spark.task_s", taskS, "s")
    put("spark.task_cpu_s", sumL(_.cpuNs) / 1e9, "s")
    put("spark.busy_frac", if (windowMs > 0) taskS / (windowMs / 1e3 * Main.Cores) else 0.0, "ratio")
    // jobs run only inside the operations that submit them
    val jobsMs = SparkProbe.covered(jobs.map(j => (j._3, j._4)), Long.MinValue, Long.MaxValue)
    put("spark.driver_gap_s", math.max(0.0, windowMs - jobsMs) / 1e3, "s")
    put("spark.sched_delay_ms", { val n = sumL(_.tasks); if (n == 0) 0.0 else sumL(_.schedMs) / n }, "ms")
    put("spark.shuffle_write_mb", sumL(_.shuffleWrite) / 1048576.0, "MB")
    put("spark.shuffle_read_mb", sumL(_.shuffleRead) / 1048576.0, "MB")
    put("spark.input_mb", sumL(_.input) / 1048576.0, "MB")
    put("spark.output_mb", sumL(_.output) / 1048576.0, "MB")
    put("spark.spill_mb", sumL(_.spill) / 1048576.0, "MB")
    put("spark.failed_tasks", sumL(_.failedTasks), "count")
    val jobsByOp = jobs.groupBy(_._2)
    scopes.foreach { s =>
      put(s"spark.jobs.$s", sumOf(root(_) == s)(_.jobs), "count")
      put(s"spark.task_s.$s", sumOf(root(_) == s)(_.taskMs) / 1e3, "s")
      val gapMs = ops.filter(o => root(o._1) == s).map { case (_, id, lo, hi) =>
        (hi - lo) - SparkProbe.covered(jobsByOp.getOrElse(id, Nil).map(j => (j._3, j._4)), lo, hi)
      }.sum
      put(s"spark.driver_gap_s.$s", gapMs / 1e3, "s")
    }
    // board groups: construction (eager jobs inside SparkEntry.queries)
    // versus the timed write, per traced pass
    boardGroups.foreach { g =>
      val passes = math.max(1L, Trace.count(s"board.passes.$g"))
      put(s"operators.build_s.$g", Trace.totalMs(s"board.build.$g") / 1e3 / passes, "s")
      put(s"operators.run_s.$g", Trace.totalMs(s"board.run.$g") / 1e3 / passes, "s")
      put(s"operators.build_jobs.$g", sumOf(_ == s"$g.build")(_.jobs) / passes, "count")
      put(s"operators.run_jobs.$g", sumOf(_ == s"$g.run")(_.jobs) / passes, "count")
    }
    put("functions.task_s", sumOf(_ == "operators.run")(_.taskMs) / 1e3 /
      math.max(1L, Trace.count("board.passes.operators")), "s")
    // INSERT pipeline: jobs per statement by call site, and task time
    val insertScopes = Set("ins_events", "ins_accounts", "ins_dup")
    val inserts = statementKinds.filter(insertScopes).map(k => Trace.count(s"shell.execute.$k")).sum
    val sites = p.callSites.asScala.toSeq.collect {
      case (k, n) if insertScopes(k.takeWhile(_ != '|')) => k.dropWhile(_ != '|').drop(1) -> n.sum
    }.groupMapReduce(_._1)(_._2)(_ + _)
    def perInsert(v: Double): Double = if (inserts == 0) 0.0 else v / inserts
    put("insert.jobs", perInsert(sites.values.sum.toDouble), "count")
    Seq("collect", "isEmpty", "parquet").foreach { m =>
      put(s"insert.jobs.$m", perInsert(sites.collect { case (k, n) if k.startsWith(m + " at") => n }.sum.toDouble), "count")
    }
    put("insert.jobs.other", perInsert(sites.collect {
      case (k, n) if !Seq("collect", "isEmpty", "parquet").exists(m => k.startsWith(m + " at")) => n
    }.sum.toDouble), "count")
    put("insert.task_s", perInsert(sumOf(k => insertScopes(root(k)))(_.taskMs) / 1e3), "s")
    detail("insert_call_sites") = sites
    detail("spark_scopes") = p.scopes
  }

  def setLayer(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)

  def close(): Unit = {
    try spark.stop() catch { case _: Throwable => }
  }

  def toJson(workload: String): String = {
    phase("end")
    canaryMs += Run.canary()
    if (traced) setLayer("host.canary_ms", canaryMs.min, "ms")
    Run.json.writeValueAsString(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> attempted.get, "failed" -> failed.get,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> detail,
      "canary_ms" -> canaryMs,
      "phases_s" -> phases,
      "cores" -> Main.Cores,
      "oracle" -> oracle.map { case (d, q) => Map("dir" -> d, "queries" -> q) }))
  }
}

object Run {
  /** Writes Scala maps, sequences and options as JSON. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val sink = new AtomicLong
  /** Fixed work on every core at once, median of 3: a 30M-step xorshift
    * (no allocation), then a sort of 2M seeded longs (16 MB per core, more
    * than the caches hold). Its time tracks how much of the host's cores
    * and memory bandwidth the run gets, not the program, so two sets of
    * runs that disagree can be checked for a noisy window. All cores,
    * because a busy host shows as descheduled cores long before one core
    * slows, and a sort, because neighbours that load the memory slow the
    * program more than they slow pure arithmetic. */
  def canary(): Double = Stats.median((1 to 3).map { _ =>
    val t = System.nanoTime()
    val threads = (1 to Main.Cores).map(_ => new Thread(() => {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      val a = Array.fill(2000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
      java.util.Arrays.sort(a)
      sink.addAndGet(x + a(a.length / 2))
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t) / 1e6
  })
}

