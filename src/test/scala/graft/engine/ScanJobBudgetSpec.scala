package graft.engine

import graft.{SuiteScratch, TestSession}
import graft.catalog.GraftCatalog
import graft.operators.Similarity
import org.apache.spark.{TaggedWork, Work}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark jobs it takes to plan a read of a version snapshot of
  * 40 parts: past 32 paths `spark.read.parquet` lists them in a
  * distributed job, and schema inference reads a footer in another. Every
  * reader plans through one listing-free file index, so planning runs no
  * job. A point read keeps the one part whose footer statistics can match
  * its filter and reads it on the calling thread: no job. An aggregate,
  * or a read of more bytes than the size cap, runs as Spark jobs. */
class ScanJobBudgetSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  /** Runs `body` and counts the jobs it submits (see [[TaggedWork]]). */
  private def jobs[T](body: => T): (T, Int) = {
    val (r, work) = TaggedWork(spark.sparkContext)(body)
    (r, work.jobs)
  }

  private val Parts = 40

  /** A table of `Parts` one-row parts (row i has id i, v 10 * i), no
    * auto-compaction; serial ids need no existing-key scan, so the set-up
    * runs no job. */
  private lazy val (wh, engine) = {
    val wh = scratchDir("graft-scan-wh-")
    val e = new SqlEngine(spark, Catalog.open(wh), SqlContext("scan", "u"), autoCompactAfterParts = 0)
    e.execute("CREATE DATABASE scan")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, v int)")
    (1 to Parts).foreach(i => e.execute(s"INSERT INTO t (v) VALUES (${10 * i})"))
    assert(e.catalog.liveParts("scan", "public", "t").size == Parts)
    (wh, e)
  }

  /** Builds `df` and its physical plan; returns it and the jobs that took. */
  private def planJobs(df: => DataFrame): (DataFrame, Int) =
    jobs { val d = df; d.queryExecution.executedPlan; d }

  test("readTable, readTableAt and readTableChanges plan 40 parts with 0 jobs") {
    val e = engine
    val (all, n1) = planJobs(e.readTable("scan", "public", "t"))
    assert(n1 == 0, s"readTable jobs: $n1")
    assert(all.count() == Parts)
    val v = e.catalog.currentVersion("scan", "public", "t")
    val (at, n2) = planJobs(e.readTableAt("scan", "public", "t", v - 5))
    assert(n2 == 0, s"readTableAt jobs: $n2")
    assert(at.count() == Parts - 5)
    val (changes, n3) = planJobs(e.readTableChanges("scan", "public", "t", 0L, v))
    assert(n3 == 0, s"readTableChanges jobs: $n3")
    assert(changes.count() == Parts)
  }

  test("spark.table through the plugin plans 40 parts with 0 jobs") {
    val e = engine
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.scanwh", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.scanwh.warehouse", wh)
    val (df, n) = planJobs(s.table("scanwh.scan.t"))
    assert(n == 0, s"jobs: $n")
    assert(df.count() == Parts)
  }

  test("a point read over 40 parts runs no job") {
    // the other 39 parts' footer statistics rule the filter out at
    // planning, and the one left is read on the calling thread
    val (rows, work) = TaggedWork(spark.sparkContext)(
      engine.execute("SELECT id, v FROM t WHERE id = 17").collect().toSeq)
    assert(rows == Seq(Row(17, 170)))
    assert(work == Work(0, 0), s"work: $work")
  }

  test("an aggregate under the same filter scans one part in one task") {
    // an aggregate stays on the job path: AQE's shuffle stage, whose scan
    // part skipping leaves 1 task of 40, and the final aggregate's 1 task
    val (rows, work) = TaggedWork(spark.sparkContext)(
      engine.execute("SELECT count(*), sum(v) FROM t WHERE id = 17").collect().toSeq)
    assert(rows == Seq(Row(1L, 170L)))
    assert(work == Work(2, 2), s"work: $work")
  }

  test("EXPLAIN of a point read names the LocalTableScan it runs") {
    val explained = engine.execute("EXPLAIN SELECT id, v FROM t WHERE id = 17").collect().map(_.getString(0)).mkString
    assert(explained.contains("LocalTableScan") && !explained.contains("FileScan"), explained)
  }

  /** `big`: 60,000 rows of about 210 bytes in 4 parts, some 12 MB of
    * uncompressed row groups, above what a statement reads on the calling
    * thread. */
  private lazy val big = {
    val e = engine
    e.execute("CREATE TABLE big (id int PRIMARY KEY, s text)")
    e.execute("INSERT INTO big SELECT CAST(id AS int), concat('u', id, repeat('x', 200)) FROM range(0, 60000)")
      .collect()
    e
  }

  test("a Project/Filter read above the size cap still runs as a Spark job") {
    val e = big
    val q = "SELECT id, length(s) FROM big WHERE id % 1000 = 7"
    val (rows, work) = TaggedWork(spark.sparkContext)(e.execute(q).collect().toSeq)
    assert(rows.map(_.getInt(0)).sorted == (0 until 60).map(_ * 1000 + 7))
    assert(rows.forall(r => r.getInt(1) == 201 + r.getInt(0).toString.length))
    assert(work.jobs == 1, s"work: $work")
    val explained = e.execute(s"EXPLAIN $q").collect().map(_.getString(0)).mkString
    assert(explained.contains("FileScan") && !explained.contains("LocalTableScan"), explained)
  }

  test("Similarity.readIndex plans a 40-part index with 0 jobs") {
    val path = scratchDir("graft-scan-index-")
    val cells = Similarity.indexParts(path, "cells")
    cells.create()
    val rows = spark.range(Parts).select(col("id"), (col("id") * 2).as("v"), col("id").cast("int").as("cell"))
    cells.stage(dir => rows.coalesce(1).write.mode("append").partitionBy("cell").parquet(dir.toString))(
      cells.commitStaged)
    assert(cells.liveParts.size == Parts)
    val (idx, n) = planJobs(Similarity.readIndex(spark, path, "cells"))
    assert(n == 0, s"jobs: $n")
    assert(idx.columns.toSeq == Seq("id", "v", "cell"))
    assert(idx.where("cell = 7").collect().toSeq == Seq(Row(7L, 14L, 7)))
  }
}
