package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * A span is a timed call from the benchmark (or the tracing catalog) into
  * one layer's public function. Spans nest per thread, so each span's
  * self time is its duration minus the part its child spans cover. Only
  * per-name totals are kept (count, total nanos, self nanos); nothing is
  * written until the run ends. Tracing is switched on per thread: where
  * `on` is false every entry point is a plain call, which is what the
  * untraced run and the untraced part of a traced run use.
  */
object Trace {
  private val flag = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  /** Whether the calling thread is tracing. */
  def on: Boolean = flag.get
  def on_=(v: Boolean): Unit = flag.set(v)

  final class Stat {
    val count = new LongAdder
    val nanos = new LongAdder
    val selfNanos = new LongAdder
  }
  private val stats = new ConcurrentHashMap[String, Stat]()
  def stat(name: String): Stat = stats.computeIfAbsent(name, _ => new Stat)

  private final class Frame { var childNanos = 0L }
  private val stack = ThreadLocal.withInitial[mutable.Stack[Frame]](() => mutable.Stack.empty[Frame])

  /** Times `body` as span `name` and reports its duration to the parent. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val st = stack.get()
      val f = new Frame
      st.push(f)
      val t0 = System.nanoTime()
      try body
      finally {
        val d = System.nanoTime() - t0
        st.pop()
        if (st.nonEmpty) st.top.childNanos += d
        val s = stat(name)
        s.count.increment(); s.nanos.add(d); s.selfNanos.add(d - f.childNanos)
      }
    }

  /** Adds a measured duration that is not a nested span (lock waits,
    * planner phases read back from Spark). */
  def add(name: String, nanos: Long): Unit =
    if (on) { val s = stat(name); s.count.increment(); s.nanos.add(nanos); s.selfNanos.add(nanos) }

  /** Adds `nanos` to the current span's covered time, so the parent's
    * self time excludes work measured by other means. */
  def cover(nanos: Long): Unit = if (on) { val st = stack.get(); if (st.nonEmpty) st.top.childNanos += nanos }

  def count(name: String): Long = Option(stats.get(name)).map(_.count.sum).getOrElse(0L)
  def totalMs(name: String): Double = Option(stats.get(name)).map(_.nanos.sum / 1e6).getOrElse(0.0)
  def selfMs(name: String): Double = Option(stats.get(name)).map(_.selfNanos.sum / 1e6).getOrElse(0.0)
  def names: Seq[String] = stats.keySet().asScala.toSeq.sorted

  /** Sum of (total ms, count) over every span whose name starts with `prefix`. */
  def prefixTotals(prefix: String, self: Boolean): (Double, Long) = {
    val ss = stats.asScala.collect { case (k, s) if k.startsWith(prefix) => s }
    (ss.map(s => (if (self) s.selfNanos.sum else s.nanos.sum) / 1e6).sum, ss.map(_.count.sum).sum)
  }
}

/** Spark-side counters, attributed to the benchmark's scopes through two
  * local properties the benchmark sets on the submitting thread before
  * each call: `perfbench.scope` (statement type or board group/phase) and
  * `perfbench.op` (one id per timed operation). Every job, stage and task
  * inherits the properties of the thread that submitted it, so the
  * listener can file each task's metrics under the call that caused it.
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  import SparkProbe._

  final class Agg {
    val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
    val failedTasks = new LongAdder
    val taskMs = new LongAdder; val cpuNs = new LongAdder; val schedMs = new LongAdder
    val shuffleWrite = new LongAdder; val shuffleRead = new LongAdder
    val input = new LongAdder; val output = new LongAdder; val spill = new LongAdder
  }
  private val aggs = new ConcurrentHashMap[String, Agg]()
  def agg(scope: String): Agg = aggs.computeIfAbsent(scope, _ => new Agg)
  def scopes: Seq[String] = aggs.keySet().asScala.toSeq.sorted

  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long, Long)]() // scope, op, start ms
  /** Finished job intervals: (scope, op, start ms, end ms). */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long)]()
  /** Jobs per call site (the job's `callSite.short`), keyed "scope|site". */
  val callSites = new ConcurrentHashMap[String, LongAdder]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val props = Option(e.properties)
    val scope = props.flatMap(p => Option(p.getProperty(ScopeKey))).getOrElse("other")
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)
    // the result stage is named after the job's call site ("collect at ...")
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
    jobInfo.put(e.jobId, (scope, op, e.time))
    e.stageIds.foreach(stageScope.put(_, scope))
    agg(scope).jobs.increment()
    callSites.computeIfAbsent(s"$scope|$site", _ => new LongAdder).increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobInfo.remove(e.jobId)).foreach { case (scope, op, t0) =>
      jobIntervals.add((scope, op, t0, e.time))
    }
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageScope.get(e.stageInfo.stageId)).foreach(s => agg(s).stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(Option(stageScope.get(e.stageId)).getOrElse("other"))
    a.tasks.increment()
    if (!e.taskInfo.successful) a.failedTasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs.add(m.executorRunTime)
      a.cpuNs.add(m.executorCpuTime)
      val sched = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      a.schedMs.add(math.max(0L, sched))
      a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      a.input.add(m.inputMetrics.bytesRead)
      a.output.add(m.outputMetrics.bytesWritten)
      a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Waits (bounded) until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while ((ended.get < started.get || sc.statusTracker.getActiveJobIds().nonEmpty) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // task-end events trail the job end on the same bus
  }
}

object SparkProbe {
  val ScopeKey = "perfbench.scope"
  val OpKey = "perfbench.op"

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JVM-wide counters read as deltas over a window. */
object JvmProbe {
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  /** Monotonic count of generated-class compilations (the histogram's
    * count, never its reservoir snapshot). */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final class Window {
    heapPools.foreach(_.resetPeakUsage())
    private val gc0 = gcMs
    private val comp0 = compiles
    def gcSeconds: Double = (gcMs - gc0) / 1e3
    def compileCount: Long = compiles - comp0
    def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.toIndexedSeq.sorted
    val r = (p / 100.0) * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** The highest of p50/p90/p95/p99 that has at least ten samples above it. */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 95.0, 90.0).find(p => n * (1 - p / 100.0) >= 10).getOrElse(50.0)
}
