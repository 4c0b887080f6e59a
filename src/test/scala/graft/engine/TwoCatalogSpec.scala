package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.{SuiteScratch, TestSession}
import org.apache.spark.sql.{GraftParquetBridge, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Two [[Catalog]] instances on one warehouse — what two processes are:
  * `Catalog.open` is bypassed, so no JVM monitor or table lock is shared.
  * The put-if-absent version file is the only thing between them. */
class TwoCatalogSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  private def engine(c: Catalog): SqlEngine = new SqlEngine(spark, c, SqlContext("db", "u"))

  /** Two instances on a fresh warehouse holding `t (id int PRIMARY KEY, v int)`. */
  private def twoCatalogs(): (Catalog, Catalog) = {
    val wh = scratchDir("graft-two-")
    val (a, b) = (new Catalog(wh), new Catalog(wh))
    engine(a).execute("CREATE DATABASE db")
    engine(a).execute("CREATE TABLE t (id int PRIMARY KEY, v int)")
    (a, b)
  }

  private def rows(c: Catalog): Set[(Int, Int)] =
    engine(new Catalog(c.warehouse)).execute("SELECT id, v FROM t").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSet

  private def dataFiles(c: Catalog): Set[String] = {
    val s = Files.list(Paths.get(c.dataDir("db", "public", "t")))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def stage(c: Catalog, rows: (Int, Int)*): java.nio.file.Path = {
    val staging = c.newStagingDir("db", "public", "t")
    GraftParquetBridge.writePart(spark, staging.toString, c.getTable("db", "public", "t").toStructType,
      rows.iterator.map { case (id, v) => Row(id, v) })
    staging
  }

  test("a commit staged before another instance's commit fails with the conflict error") {
    val (a, b) = twoCatalogs()
    engine(a).execute("INSERT INTO t VALUES (1, 10)")
    // B stages key 2 (its UNIQUE check passed at this version), then A
    // commits key 2 first
    val staging = stage(b, 2 -> 20)
    engine(a).execute("INSERT INTO t VALUES (2, 21)")
    val err = intercept[SqlError](b.commitStaged("db", "public", "t", staging))
    assert(err.kind == SqlError.Conflict, err.getMessage)
    b.discardStaged(staging)
    assert(rows(b) == Set(1 -> 10, 2 -> 21))
    assert(dataFiles(b) == b.liveParts("db", "public", "t").toSet, "the losing commit left its part in data/")
    // B's next statement stages on the new version and commits
    engine(b).execute("INSERT INTO t VALUES (3, 30)")
    assert(rows(a) == Set(1 -> 10, 2 -> 21, 3 -> 30))
  }

  test("a compaction rebases over another instance's INSERT, and fails over its compaction") {
    val (a, b) = twoCatalogs()
    (1 to 3).foreach(i => engine(a).execute(s"INSERT INTO t VALUES ($i, ${i * 10})"))
    // B compacts what it read at version 3 while A appends version 4
    val staging = stage(b, (1 to 3).map(i => i -> i * 10): _*)
    engine(a).execute("INSERT INTO t VALUES (4, 40)")
    b.replaceData("db", "public", "t", staging)
    assert(rows(a) == (1 to 4).map(i => i -> i * 10).toSet)
    assert(b.liveParts("db", "public", "t").size == 2)
    // a compaction staged before another compaction dropped its parts loses
    val late = stage(b, (1 to 4).map(i => i -> i * 10): _*)
    assert(engine(a).compactTable("db", "public", "t") == (2, 1))
    val err = intercept[SqlError](b.replaceData("db", "public", "t", late))
    assert(err.kind == SqlError.Conflict, err.getMessage)
    b.discardStaged(late)
    assert(rows(b) == (1 to 4).map(i => i -> i * 10).toSet)
  }

  test("engines on two instances racing overlapping keys into a UNIQUE table admit no duplicate and lose no row") {
    val (a, b) = twoCatalogs()
    // statement j of a side inserts keys j and j + 100; the sides overlap on 9..16
    val sides = Seq(("a", a, 1 to 16), ("b", b, 9 to 24))
    val pool = Executors.newFixedThreadPool(sides.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CyclicBarrier(sides.size)
    val runs = sides.map { case (name, c, keys) =>
      Future {
        val e = new SqlEngine(spark, c, SqlContext("db", "u"), autoCompactAfterParts = 4)
        start.await(1, TimeUnit.MINUTES)
        val v = name.head.toInt
        keys.map { j =>
          val stmt = Seq(j -> v, (j + 100) -> v)
          try { e.execute(s"INSERT INTO t VALUES ($j, $v), (${j + 100}, $v)"); stmt -> None }
          catch { case err: SqlError => stmt -> Some(err) }
        }
      }
    }
    val outcomes = try Await.result(Future.sequence(runs), 5.minutes).flatten
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }

    val wrong = outcomes.flatMap(_._2).filterNot(e =>
      e.kind == SqlError.Conflict || e.kind == SqlError.UniqueKeyAlreadyExists)
    assert(wrong.isEmpty, s"failures other than conflict or duplicate key: ${wrong.map(_.getMessage)}")
    val accepted = outcomes.collect { case (stmt, None) => stmt }
    assert(accepted.nonEmpty)
    val table = engine(new Catalog(a.warehouse)).execute("SELECT id, v FROM t").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSeq
    val dupes = table.groupBy(_._1).collect { case (id, rs) if rs.size > 1 => id }
    assert(dupes.isEmpty, s"keys admitted twice: ${dupes.toSeq.sorted}")
    // every accepted statement's rows are there, and no failed one's
    assert(table.toSet == accepted.flatten.toSet,
      s"lost: ${accepted.flatten.toSet -- table}, from failed statements: ${table.toSet -- accepted.flatten}")
    info(s"${accepted.size} of ${outcomes.size} statements accepted; failures by kind: " +
      outcomes.flatMap(_._2).groupBy(_.kind).view.mapValues(_.size).toMap)
  }
}
