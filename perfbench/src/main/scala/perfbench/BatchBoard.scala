package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `batch_board`: the DataFrame batch surface, `SparkEntry.queries(name)`
  * written through the noop sink, over a seeded star schema generated at
  * set-up. One cold pass, an untimed warm-up pass that writes the outputs
  * for the DuckDB check, then measured passes in a new seeded order each
  * until the run's time is up. Three fixed query groups:
  * `relational` (compute and shuffle), `operators` (kernels and shuffles)
  * and `lifecycle` (job count and driver work).
  */
object BatchBoard {
  /** The board's groups and, for each, the queries whose times on the
    * repository's recorded sf0.1 board (BENCH_r18.json) lie in the middle
    * half of their group: between its first and third quartile. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q01", "q04", "q09"),
    "operators" -> Seq("t21", "m07"),
    "lifecycle" -> Seq("s17"))

  /** Measured passes per run, at least. */
  val MinPasses = 7

  def run(r: Run): Unit = {
    val spark = r.spark
    val dataDir = r.setup(3) { rep =>
      val d = r.dir(s"batch_board/data$rep")
      BoardData.generate(spark, r.seed, d)
      d
    }
    val known = SparkEntry.queries
    val board: Seq[(String, String)] = Groups.flatMap { case (g, prefixes) =>
      prefixes.map(p => g -> known.keys.find(_.startsWith(p + "_")).getOrElse(sys.error(s"no query $p")))
    }
    val rnd = new Random(r.seed)

    final case class Timing(group: String, name: String, buildMs: Double, runMs: Double)
    val oracleSql = SparkEntry.oracleSql
    var gcNanos = 0L
    val outDir = r.dir("batch_board/out")
    /** One pass over the board in a new seeded order. Timed and traced
      * passes write through the noop sink; the oracle pass instead writes
      * each query that has oracle SQL to parquet for the DuckDB check. */
    def pass(traced: Boolean, oracle: Boolean = false): Seq[Timing] = {
      Trace.on = traced
      if (traced) Groups.foreach(g => Trace.add(s"board.passes.${g._1}", 0L))
      val out = rnd.shuffle(board).map { case (g, name) =>
        if (!oracle) r.attempted.incrementAndGet()
        try {
          val (df, b) = r.op(s"$g.build")(Trace.span(s"board.build.$g")(known(name)(spark, dataDir)))
          val (_, w) = r.op(s"$g.run")(Trace.span(s"board.run.$g")(
            if (oracle) {
              if (oracleSql.contains(name)) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            } else df.write.mode("overwrite").format("noop").save()))
          Timing(g, name, b, w)
        } catch {
          case e: Throwable =>
            if (!oracle) r.failed.incrementAndGet()
            r.check(s"$name runs", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
            Timing(g, name, Double.NaN, Double.NaN)
        }
      }
      Trace.on = false
      // outside the timed calls: checkpointed intermediates are freed
      // only when GC drops their plans, and left to ambient GC they
      // slow whichever queries run next
      val g0 = System.nanoTime()
      System.gc()
      gcNanos += System.nanoTime() - g0
      out
    }

    // the cold pass is never traced: it compiles and caches what the
    // warm passes reuse, so it is reported on its own
    val window = new JvmProbe.Window
    val cold = pass(traced = false)
    val coldCompiles = window.compileCount
    // untimed: the oracle outputs, which is also the warm-up pass, because
    // the first warm passes after the cold one still run measurably slower
    // while the JIT settles
    pass(traced = false, oracle = true)
    r.oracle = Some((outDir, board.map(_._2).filter(oracleSql.contains).map(n => n -> oracleSql(n)).toMap))
    val t0 = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[(Seq[Timing], Boolean)]
    // measured passes for the run's seconds, at least MinPasses: another
    // pass starts only if it is expected to end within the seconds. Passes
    // still get faster for several passes after the warm-up (the JIT
    // settles), so a fixed minimum that fills the seconds on its own
    // gives every run the same warm state, however fast the host is that
    // moment. Traced runs trace every other pass, for the tracing overhead.
    def more: Boolean = {
      val elapsed = (System.nanoTime() - t0) / 1e9
      elapsed + elapsed / warm.size <= r.seconds
    }
    while (warm.size < MinPasses || more) {
      val traced = r.traced && warm.size % 2 == 1
      warm += ((pass(traced), traced))
    }
    r.phase("measure")
    r.detail("data_dir") = dataDir
    r.detail("queries") = board.map(_._2)

    // ---- metrics ----
    def total(ts: Seq[Timing]) = ts.map(t => t.buildMs + t.runMs).sum
    val plain = warm.filter(!_._2).map(_._1).toSeq
    // each query's best measured latency (min over passes, as the board
    // bench takes it): robust to a pass that a noisy moment slowed
    def best(n: String) = plain.flatMap(_.filter(_.name == n)).map(t => t.buildMs + t.runMs).min
    if (!r.traced) {
      val perQuery = board.map { case (_, n) => best(n) }
      r.e2e("rate_per_s") = (board.size / (perQuery.sum / 1e3), "1/s")
      // geometric mean: every query counts, none dominates
      r.e2e("latency_ms") = (math.exp(perQuery.map(math.log).sum / perQuery.size), "ms")
    }
    Groups.foreach { case (g, _) =>
      r.detail(s"${g}_s") = Stats.median(plain.map(p => total(p.filter(_.group == g)) / 1e3))
      r.detail(s"${g}_build_s") = Stats.median(plain.map(p => p.filter(_.group == g).map(_.buildMs).sum / 1e3))
    }
    r.detail("board_cold_s") = total(cold) / 1e3
    r.detail("gc_between_passes_s") = gcNanos / 1e9
    r.detail("warm_pass_s") = plain.map(total(_) / 1e3)
    r.detail("per_query_best_ms") = board.map { case (_, n) => n -> best(n) }.toMap

    if (r.traced) {
      r.finishLayers(0.0, 0L)
      r.setLayer("codegen.compiles", coldCompiles.toDouble, "count")
      r.setLayer("jvm.gc_s", window.gcSeconds, "s")
      r.setLayer("jvm.heap_peak_mb", window.heapPeakMb, "MB")
      val tracedWarm = warm.filter(_._2).map(_._1)
      r.setLayer("trace.overhead_frac", Stats.median(tracedWarm.map(total).toSeq) / Stats.median(plain.map(total)) - 1,
        "ratio")
    }
  }
}

/** Seeded star schema with the column names and types of the test
  * tables described in TESTDATA.md (region, nation, customer, supplier, part, orders,
  * lineitem, events, documents, embeddings) at 1/100 of scale factor 1.
  * Every value is a pure function of (seed, row number), so the same seed
  * writes the same tables. One parquet file per table, at
  * `<dir>/<table>.parquet/`.
  */
object BoardData {
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LineItems = 60000
  val EventRows = 10000
  val Documents = 500
  val Vectors = 200

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash", "merge",
    "batch", "a", "the", "line", "sort", "window", "spark", "order", "data", "column", "join", "small",
    "customer", "query", "big", "stream", "filter", "group", "vector", "index", "shard")

  private def arr(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("array(", ",", ")")

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val s = Math.floorMod(seed, 1000003L)
    // h(k) = a per-column hash of the row number; u(k) uniform in [0, 1)
    def h(k: Int, n: Long) = s"pmod(xxhash64($s, $k, id), $n)"
    def u(k: Int) = s"CAST(pmod(xxhash64($s, $k, id), 1000000007) / 1000000007.0 AS DOUBLE)"
    def dbl(e: String) = s"CAST($e AS DOUBLE)"
    def day(k: Int, from: String, days: Int) =
      s"CAST(date_add(DATE'$from', CAST(${h(k, days)} AS INT)) AS TIMESTAMP_NTZ)"
    // the tables are tiny: write them concurrently, one Spark job each
    val writes = Seq.newBuilder[(String, DataFrame)]
    def table(name: String, n: Long, cols: String*): Unit =
      writes += name -> spark.range(0, n, 1, 1).selectExpr(cols: _*)

    table("region", 5, "CAST(id AS INT) AS r_regionkey",
      s"element_at(${arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))}, CAST(id AS INT) + 1) AS r_name")
    table("nation", 25, "CAST(id AS INT) AS n_nationkey", "concat('NATION_', id) AS n_name",
      "CAST(id % 5 AS INT) AS n_regionkey")
    table("customer", Customers, "id AS c_custkey", "format_string('Customer#%09d', id) AS c_name",
      s"CAST(${h(1, 25)} AS INT) AS c_nationkey", s"round(${u(2)} * 10999.99 - 999.99, 2) AS c_acctbal",
      s"element_at(${arr(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))}, " +
        s"CAST(${h(3, 5)} AS INT) + 1) AS c_mktsegment")
    table("supplier", Suppliers, "id AS s_suppkey", "format_string('Supplier#%09d', id) AS s_name",
      s"CAST(${h(1, 25)} AS INT) AS s_nationkey", s"round(${u(2)} * 10999.99 - 999.99, 2) AS s_acctbal")
    table("part", Parts, "id AS p_partkey",
      s"concat(element_at(${arr(Seq("small", "red", "blue", "hot", "old", "large", "green", "cold"))}, " +
        s"CAST(${h(1, 8)} AS INT) + 1), ' ', element_at(${arr(Seq("ring", "widget", "bolt", "gear", "gizmo",
        "plate", "nut", "spring"))}, CAST(${h(2, 8)} AS INT) + 1)) AS p_name",
      s"concat('Brand#', ${h(3, 25)} + 1) AS p_brand",
      s"element_at(${arr(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"))}, " +
        s"CAST(${h(4, 6)} AS INT) + 1) AS p_type",
      s"CAST(${h(5, 50)} + 1 AS INT) AS p_size", s"${dbl(s"900 + ${h(6, 1000)} / 10.0")} AS p_retailprice")
    table("orders", Orders, "id AS o_orderkey", s"${h(1, Customers)} AS o_custkey",
      s"element_at(array('O', 'F', 'P'), CAST(${h(2, 3)} AS INT) + 1) AS o_orderstatus",
      s"round(1000 + ${u(3)} * 499000, 2) AS o_totalprice", s"${day(4, "1995-01-01", 2404)} AS o_orderdate",
      s"element_at(${arr(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))}, " +
        s"CAST(${h(5, 5)} AS INT) + 1) AS o_orderpriority")
    table("lineitem", LineItems, s"${h(1, Orders)} AS l_orderkey", s"${h(2, Parts)} AS l_partkey",
      s"${h(3, Suppliers)} AS l_suppkey", s"CAST(${h(4, 7)} + 1 AS INT) AS l_linenumber",
      s"CAST(${h(5, 50)} + 1 AS DOUBLE) AS l_quantity",
      s"round(${dbl(s"(${h(5, 50)} + 1) * (900 + ${h(6, 1200)} + ${h(7, 100)} / 100.0)")}, 2) AS l_extendedprice",
      s"${dbl(s"${h(8, 11)} / 100.0")} AS l_discount", s"${dbl(s"${h(9, 9)} / 100.0")} AS l_tax",
      s"element_at(array('A', 'N', 'R'), CAST(${h(10, 3)} AS INT) + 1) AS l_returnflag",
      s"element_at(array('F', 'O'), CAST(${h(11, 2)} AS INT) + 1) AS l_linestatus",
      s"${day(12, "1995-01-02", 2498)} AS l_shipdate")
    table("events", EventRows, "id AS event_id",
      s"CAST(timestamp_micros(1704067200000000 + ${h(1, 2592000000000L)}) AS TIMESTAMP_NTZ) AS ts",
      s"${h(2, 150)} AS user_id",
      s"element_at(array('click', 'signup', 'error', 'view', 'purchase'), CAST(${h(3, 5)} AS INT) + 1) AS event_type",
      s"round(0.01 + ${u(4)} * 490, 2) AS value", s"concat('{\"k\": ', ${h(5, 100)}, '}') AS props")
    // one document in ten repeats its predecessor's words plus one more:
    // the near-duplicates the dedup operators look for
    writes += "documents" -> spark.range(0, Documents, 1, 1)
      .selectExpr("id", s"CASE WHEN id > 0 AND ${h(1, 10)} = 0 THEN id - 1 ELSE id END AS base")
      .selectExpr("id",
        s"concat_ws(' ', transform(sequence(1, CAST(pmod(xxhash64($s, 2, base), 73) + 8 + " +
          s"(CASE WHEN base = id THEN 0 ELSE 1 END) AS INT)), i -> element_at(${arr(vocab)}, " +
          s"CAST(pmod(xxhash64($s, 3, base, i), ${vocab.size}) AS INT) + 1))) AS text",
        s"CASE WHEN ${h(4, 100)} < 44 THEN 'en' ELSE element_at(array('zh', 'de', 'fr', 'es'), " +
          s"CAST(${h(5, 4)} AS INT) + 1) END AS lang",
        "concat('src', id % 20) AS source")
      .selectExpr("id AS doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
    // seeded random unit vectors without clusters, like the test tables:
    // d10's oracle holds only while no two distinct vectors reach its
    // 0.8 cosine
    writes += "embeddings" -> spark.range(0, Vectors, 1, 1)
      .selectExpr("id", s"CAST(${h(1, 10)} AS INT) AS label",
        s"transform(sequence(1, 64), i -> (pmod(xxhash64($s, 2, id, i), 2001) - 1000) / 1000.0) AS raw")
      .selectExpr("id AS vec_id",
        "transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) AS FLOAT)) AS embedding",
        "label")

    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    try writes.result().map { case (name, df) =>
      pool.submit(new Runnable { def run(): Unit = df.write.mode("overwrite").parquet(s"$dir/$name.parquet") })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}
