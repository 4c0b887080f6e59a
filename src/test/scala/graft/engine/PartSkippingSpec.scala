package graft.engine

import graft.{SuiteScratch, TestSession}
import graft.catalog.GraftCatalog
import org.apache.spark.sql.{DataFrame, GraftParquetBridge, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** A read skips, at planning, the parts whose footer statistics rule its
  * filter out. Each task applies that same test to its row groups, so
  * skipping must change no row: engine and plugin reads equal a read of
  * the same parts with Parquet filter pushdown off, for every column type
  * and the values whose statistics are easiest to get wrong. */
class PartSkippingSpec extends AnyFunSuite with SuiteScratch {

  private object AdaptivePlans extends AdaptiveSparkPlanHelper

  private lazy val spark = TestSession.spark

  private val Columns = Seq("b boolean", "s smallint", "i int", "l bigint", "f real", "d double precision",
    "y bytea", "t text")

  /** One part per row list; the last holds only NULLs outside the key. */
  private val Parts = Seq(
    Seq("(1, true, 1, 10, 100, 1.5, 2.5, X'01', 'abc')", "(2, false, 2, 20, 200, 2.5, 3.5, X'02', 'abd')"),
    Seq("(3, true, -32768, -2147483648, -9223372036854775807, CAST('NaN' AS real), CAST('NaN' AS double), " +
      "X'', '')", "(4, false, -5, -50, -500, CAST('-0.0' AS real), CAST('-0.0' AS double), X'ff', 'é日本')"),
    Seq("(5, true, 32767, 2147483647, 9223372036854775807, CAST('Infinity' AS real), " +
      "CAST('-Infinity' AS double), X'7f00', 'zzz')", "(6, false, 0, 0, 0, 0.0, 0.0, X'00', 'Ω')"),
    Seq("(7, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)", "(8, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)"))

  private lazy val (wh, engine) = {
    val wh = scratchDir("graft-skip-wh-")
    val e = new SqlEngine(spark, Catalog.open(wh), SqlContext("skip", "u"), autoCompactAfterParts = 0)
    e.execute("CREATE DATABASE skip")
    e.execute(s"CREATE TABLE k (id int PRIMARY KEY, ${Columns.mkString(", ")})")
    Parts.foreach(rows => e.execute(s"INSERT INTO k VALUES ${rows.mkString(", ")}").collect())
    assert(e.catalog.liveParts("skip", "public", "k").size == Parts.size)
    (wh, e)
  }

  /** The predicates: each column under `=`, `<`, BETWEEN, IN and IS [NOT]
    * NULL, with values inside, between and outside the parts' ranges. */
  private val Predicates: Seq[String] = {
    val values = Map(
      "b" -> Seq("true", "false"),
      "s" -> Seq("-32768", "1", "3", "32767"),
      "i" -> Seq("-2147483648", "10", "15", "2147483647"),
      "l" -> Seq("-9223372036854775807", "100", "150", "9223372036854775807"),
      "f" -> Seq("CAST('NaN' AS real)", "CAST('-0.0' AS real)", "0.0", "2.0", "CAST('Infinity' AS real)"),
      "d" -> Seq("CAST('NaN' AS double)", "CAST('-0.0' AS double)", "0.0", "3.0", "CAST('-Infinity' AS double)"),
      "y" -> Seq("X''", "X'01'", "X'03'", "X'ff'"),
      "t" -> Seq("''", "'abc'", "'abcd'", "'é日本'", "'Ω'"))
    values.toSeq.sortBy(_._1).flatMap { case (c, vs) =>
      vs.flatMap(v => Seq(s"$c = $v", s"$c < $v")) ++
        vs.sliding(2).map { case Seq(lo, hi) => s"$c BETWEEN $lo AND $hi" } ++
        Seq(s"$c IN (${vs.head}, ${vs.last})", s"$c IS NULL", s"$c IS NOT NULL")
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("X'", "", "'")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  test("engine and plugin rows equal a read with filter pushdown off") {
    val e = engine
    val reference = spark.newSession()
    reference.conf.set("spark.sql.parquet.filterPushdown", "false")
    GraftParquetBridge.readParts(reference, e.catalog.livePartPaths("skip", "public", "k"),
      e.catalog.getTable("skip", "public", "k").toStructType).createOrReplaceTempView("k")
    val plugin = spark.newSession()
    plugin.conf.set("spark.sql.catalog.skipwh", classOf[GraftCatalog].getName)
    plugin.conf.set("spark.sql.catalog.skipwh.warehouse", wh)
    Predicates.foreach { p =>
      val want = rows(reference.sql(s"SELECT * FROM k WHERE $p"))
      assert(rows(e.execute(s"SELECT * FROM k WHERE $p")) == want, s"engine: $p")
      assert(rows(plugin.sql(s"SELECT * FROM skipwh.skip.k WHERE $p")) == want, s"plugin: $p")
    }
  }

  test("a filter that one part's statistics admit reads that part only") {
    // an aggregate runs as a Spark job over a FileScan; a point read would
    // read the kept part on the calling thread
    val df = engine.execute("SELECT count(*), min(id) FROM k WHERE i = 2147483647")
    assert(df.collect().toSeq == Seq(Row(1L, 5)))
    val Seq(scan) = AdaptivePlans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scan.metrics("numFiles").value == 1)
  }

  test("a part's footer is held until vacuum reclaims the part") {
    val e = new SqlEngine(spark, Catalog.open(scratchDir("graft-skip-vac-")), SqlContext("vac", "u"),
      autoCompactAfterParts = 0)
    e.execute("CREATE DATABASE vac")
    e.execute("CREATE TABLE v (id int PRIMARY KEY, x int)")
    (1 to 3).foreach(i => e.execute(s"INSERT INTO v VALUES ($i, ${10 * i})"))
    val before = e.catalog.livePartPaths("vac", "public", "v")
    assert(e.execute("SELECT x FROM v WHERE id = 2").collect().toSeq == Seq(Row(20)))
    assert(before.forall(GraftParquetBridge.holdsFooter), "footers read for the filtered read")
    e.compactTable("vac", "public", "v")
    val Seq(after) = e.catalog.livePartPaths("vac", "public", "v")
    assert(e.execute("SELECT x FROM v WHERE id = 3").collect().toSeq == Seq(Row(30)))
    assert(GraftParquetBridge.holdsFooter(after))
    // superseded but not yet reclaimed: a reader planned before may still list them
    assert(before.forall(GraftParquetBridge.holdsFooter))
    e.vacuumTable("vac", "public", "v", retentionMs = 0L)
    assert(!before.exists(GraftParquetBridge.holdsFooter), "footers of reclaimed parts")
    assert(GraftParquetBridge.holdsFooter(after))
    e.execute("DROP TABLE v")
    assert(!GraftParquetBridge.holdsFooter(after), "footer of a dropped table's part")
  }
}
