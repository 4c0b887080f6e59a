package graft.engine

import graft.{SuiteScratch, TestSession}
import org.apache.spark.TaggedWork
import org.scalatest.funsuite.AnyFunSuite

/** Pins the number of Spark jobs a statement runs, executed and fetched,
  * on a tiny warehouse: an extra eager action on the statement path fails
  * here, not only in a benchmark. Reads of small tables run on the calling
  * thread, so only a source above the size cap keeps the distributed
  * INSERT path. */
class InsertJobBudgetSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  /** Runs `body` and counts the jobs it submits (see [[TaggedWork]]). */
  private def jobs[T](body: => T): (T, Int) = {
    val (r, work) = TaggedWork(spark.sparkContext)(body)
    (r, work.jobs)
  }

  /** Executes and fetches one statement; returns its rows and job count. */
  private def run(e: SqlEngine, sql: String): (Seq[org.apache.spark.sql.Row], Int) =
    jobs(e.execute(sql).collect().toSeq)

  private def freshEngine(): SqlEngine = {
    val e = new SqlEngine(spark, new Catalog(scratchDir("graft-wh-")),
      SqlContext("budget", "u"))
    e.execute("CREATE DATABASE budget")
    e.execute("CREATE TABLE events (id serial PRIMARY KEY, account_id int, amount bigint)")
    e.execute("CREATE TABLE accounts (id serial PRIMARY KEY, email text, region int, " +
      "CONSTRAINT accounts_email UNIQUE (email))")
    e
  }

  private def parts(e: SqlEngine, table: String): Int = e.catalog.liveParts("budget", "public", table).size

  test("VALUES into a table with no UNIQUE index runs 0 jobs") {
    val e = freshEngine()
    run(e, "INSERT INTO events (account_id, amount) VALUES (1, 10)")
    val (rows, n) = run(e, "INSERT INTO events (account_id, amount) VALUES (1, 10), (2, 20), (3, 30), (4, 40), (5, 50)")
    assert(rows.map(_.getLong(0)) == Seq(5L))
    assert(n == 0, s"jobs: $n")
    assert(parts(e, "events") == 2)
  }

  test("VALUES into a non-empty table with UNIQUE (email) runs 0 jobs") {
    val e = freshEngine()
    assert(run(e, "INSERT INTO accounts (email, region) VALUES ('a@x', 1)")._2 == 0)
    // the existing-key probe reads the table's small parts on the calling thread
    val (rows, n) = run(e, "INSERT INTO accounts (email, region) VALUES ('b@x', 2), ('c@x', 3)")
    assert(rows.map(_.getLong(0)) == Seq(2L))
    assert(n == 0, s"jobs: $n")
    // a key that exists is found by the same probe, and nothing is written
    val (err, rejected) = jobs(intercept[SqlError](e.execute("INSERT INTO accounts (email, region) VALUES ('a@x', 9)")))
    assert(err.kind == SqlError.UniqueKeyAlreadyExists)
    assert(rejected == 0, s"jobs: $rejected")
    assert(parts(e, "accounts") == 2)
  }

  test("an in-batch duplicate in VALUES is rejected with 0 jobs") {
    val e = freshEngine()
    run(e, "INSERT INTO accounts (email, region) VALUES ('a@x', 1)")
    val (err, n) = jobs(intercept[SqlError](
      e.execute("INSERT INTO accounts (email, region) VALUES ('d@x', 1), ('d@x', 2)")))
    assert(err.kind == SqlError.UniqueKeyAlreadyExists)
    assert(n == 0, s"jobs: $n")
  }

  test("fetching SHOW TABLES, SHOW DATABASES and DESCRIBE runs 0 jobs") {
    val e = freshEngine()
    val (tables, n1) = run(e, "SHOW TABLES")
    assert(tables.map(_.getString(0)) == Seq("accounts", "events"))
    assert(n1 == 0, s"jobs: $n1")
    assert(run(e, "SHOW DATABASES")._2 == 0)
    val (cols, n2) = run(e, "DESCRIBE accounts")
    assert(cols.map(_.getString(0)) == Seq("id", "email", "region"))
    assert(n2 == 0, s"jobs: $n2")
  }

  test("an auto-compaction into one file runs 0 jobs, sorted by key") {
    val e = new SqlEngine(spark, new Catalog(scratchDir("graft-wh-")),
      SqlContext("budget", "u"), autoCompactAfterParts = 3)
    e.execute("CREATE DATABASE budget")
    e.execute("CREATE TABLE t (pk bigint PRIMARY KEY, v int)")
    Seq(40, 30, 20).foreach(k => run(e, s"INSERT INTO t VALUES ($k, $k)"))
    // the existing-key probe, the part and the compaction's small merge
    // all run on the calling thread
    val (_, n) = run(e, "INSERT INTO t VALUES (10, 10)")
    assert(n == 0, s"jobs: $n")
    val Seq(part) = e.catalog.livePartPaths("budget", "public", "t")
    assert(spark.read.parquet(part).collect().map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L, 40L))
  }

  test("INSERT … SELECT from a small table takes the driver-resident path: 0 jobs") {
    val e = freshEngine()
    run(e, "INSERT INTO accounts (email, region) VALUES ('a@x', 1), ('b@x', 2)")
    e.execute("CREATE TABLE staged (k int PRIMARY KEY, email text, region int)")
    run(e, "INSERT INTO staged VALUES (1, 'c@x', 3), (2, 'd@x', 4)")
    // the source's parts are read on the calling thread, so it folds to a
    // LocalRelation like VALUES
    val (rows, n) = run(e, "INSERT INTO accounts (email, region) SELECT email, region FROM staged")
    assert(rows.map(_.getLong(0)) == Seq(2L))
    assert(n == 0, s"jobs: $n")
    val (err, rejected) = jobs(intercept[SqlError](
      e.execute("INSERT INTO accounts (email, region) SELECT email, region FROM staged WHERE k = 1")))
    assert(err.kind == SqlError.UniqueKeyAlreadyExists)
    assert(rejected == 0, s"jobs: $rejected")
  }

  /** A table `staged` above the local read cap: some 12 MB of
    * uncompressed row groups, in the parts a distributed INSERT writes. */
  private def largeStaged(e: SqlEngine): Unit = {
    e.execute("CREATE TABLE staged (k int PRIMARY KEY, email text, region int)")
    e.execute("INSERT INTO staged SELECT CAST(id AS int), concat('u', id, '@', repeat('x', 200)), 3 " +
      "FROM range(0, 60000)").collect()
  }

  test("a compaction whose input is above the cap still runs its one job") {
    val e = freshEngine()
    largeStaged(e)
    assert(parts(e, "staged") > 1)
    val ((before, after), n) = jobs(e.compactTable("budget", "public", "staged"))
    assert(after == 1 && before > 1)
    assert(n == 1, s"jobs: $n")
    val Seq(part) = e.catalog.livePartPaths("budget", "public", "staged")
    val keys = spark.read.parquet(part).select("k").collect().map(_.getInt(0)).toSeq
    assert(keys == (0 until 60000))
  }

  test("INSERT … SELECT from a table keeps the distributed path: 6 jobs") {
    val e = freshEngine()
    run(e, "INSERT INTO accounts (email, region) VALUES ('a@x', 1), ('b@x', 2)")
    // compacted into one part, so the scan is one task
    largeStaged(e)
    e.compactTable("budget", "public", "staged")
    assert(parts(e, "staged") == 1)
    // the fused count/NOT NULL pass, the in-batch groupBy (AQE: shuffle
    // stage + result), the semi-join against the table (AQE: broadcast
    // stage + result) and the write; fetching the count runs none
    val (rows, n) = run(e, "INSERT INTO accounts (email, region) SELECT email, region FROM staged")
    assert(rows.map(_.getLong(0)) == Seq(60000L))
    assert(n == 6, s"jobs: $n")
  }
}
