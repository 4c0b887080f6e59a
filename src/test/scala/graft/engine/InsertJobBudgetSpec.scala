package graft.engine

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the number of Spark jobs a statement runs, executed and fetched,
  * on a tiny warehouse: an extra eager action on the statement path fails
  * here, not only in a benchmark. */
class InsertJobBudgetSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val TagKey = "graft.test.jobBudget"

  /** Runs `body` and counts the jobs it submits: those carrying this
    * thread's tag, which AQE stage jobs inherit from the submitting
    * thread. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty(TagKey) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Executes and fetches one statement; returns its rows and job count. */
  private def run(e: SqlEngine, sql: String): (Seq[org.apache.spark.sql.Row], Int) =
    jobs(e.execute(sql).collect().toSeq)

  private def freshEngine(): SqlEngine = {
    val e = new SqlEngine(spark, new Catalog(Files.createTempDirectory("graft-wh-").toString),
      SqlContext("budget", "u"))
    e.execute("CREATE DATABASE budget")
    e.execute("CREATE TABLE events (id serial PRIMARY KEY, account_id int, amount bigint)")
    e.execute("CREATE TABLE accounts (id serial PRIMARY KEY, email text, region int, " +
      "CONSTRAINT accounts_email UNIQUE (email))")
    e
  }

  private def parts(e: SqlEngine, table: String): Int = e.catalog.liveParts("budget", "public", table).size

  test("VALUES into a table with no UNIQUE index runs 1 job and writes 1 part") {
    val e = freshEngine()
    run(e, "INSERT INTO events (account_id, amount) VALUES (1, 10)")
    val (rows, n) = run(e, "INSERT INTO events (account_id, amount) VALUES (1, 10), (2, 20), (3, 30), (4, 40), (5, 50)")
    assert(rows.map(_.getLong(0)) == Seq(5L))
    assert(n == 1, s"jobs: $n")
    assert(parts(e, "events") == 2)
  }

  test("VALUES into a non-empty table with UNIQUE (email) runs 2 jobs") {
    val e = freshEngine()
    // into the empty table: nothing to scan
    assert(run(e, "INSERT INTO accounts (email, region) VALUES ('a@x', 1)")._2 == 1)
    val (rows, n) = run(e, "INSERT INTO accounts (email, region) VALUES ('b@x', 2), ('c@x', 3)")
    assert(rows.map(_.getLong(0)) == Seq(2L))
    assert(n == 2, s"jobs: $n")
    // a key that exists is found by the same single scan, and nothing is written
    val (err, rejected) = jobs(intercept[SqlError](e.execute("INSERT INTO accounts (email, region) VALUES ('a@x', 9)")))
    assert(err.kind == SqlError.UniqueKeyAlreadyExists)
    assert(rejected == 1, s"jobs: $rejected")
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

  test("an auto-compaction into one file adds one job, no shuffle, and leaves the part sorted by key") {
    val e = new SqlEngine(spark, new Catalog(Files.createTempDirectory("graft-wh-").toString),
      SqlContext("budget", "u"), autoCompactAfterParts = 3)
    e.execute("CREATE DATABASE budget")
    e.execute("CREATE TABLE t (pk bigint PRIMARY KEY, v int)")
    Seq(40, 30, 20).foreach(k => run(e, s"INSERT INTO t VALUES ($k, $k)"))
    // the existing-key scan, the write, and the compaction's rewrite
    val (_, n) = run(e, "INSERT INTO t VALUES (10, 10)")
    assert(n == 3, s"jobs: $n")
    val Seq(part) = e.catalog.livePartPaths("budget", "public", "t")
    assert(spark.read.parquet(part).collect().map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L, 40L))
  }

  test("INSERT … SELECT from a table keeps the distributed path: 6 jobs") {
    val e = freshEngine()
    run(e, "INSERT INTO accounts (email, region) VALUES ('a@x', 1), ('b@x', 2)")
    e.execute("CREATE TABLE staged (k int PRIMARY KEY, email text, region int)")
    run(e, "INSERT INTO staged VALUES (1, 'c@x', 3), (2, 'd@x', 4)")
    // the fused count/NOT NULL pass, the in-batch groupBy (AQE: shuffle
    // stage + result), the semi-join against the table (AQE: broadcast
    // stage + result) and the write; fetching the count runs none
    val (rows, n) = run(e, "INSERT INTO accounts (email, region) SELECT email, region FROM staged")
    assert(rows.map(_.getLong(0)) == Seq(2L))
    assert(n == 6, s"jobs: $n")
  }
}
