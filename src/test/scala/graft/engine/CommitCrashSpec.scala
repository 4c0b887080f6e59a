package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

import graft.{SuiteScratch, TestSession}
import org.apache.spark.sql.{GraftParquetBridge, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Kill points of the INSERT, compaction, tail merge and vacuum sequences, each built
  * on disk by hand as the state a crash after that step leaves. A fresh
  * [[Catalog]] over the warehouse must read the old or the new version
  * whole, commit its next INSERT as the version after the newest, and,
  * after `vacuum(0)`, hold no file that no version lists. */
class CommitCrashSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  private val before = (1 to 4).map(i => i -> i * 10).toSet

  private def engine(wh: String): SqlEngine =
    new SqlEngine(spark, new Catalog(wh), SqlContext("db", "u"), autoCompactAfterParts = 0)

  /** A warehouse whose table `t` holds `before`, one INSERT (version) per row. */
  private def warehouse(): (String, SqlEngine) = {
    val wh = scratchDir("graft-crash-")
    val e = engine(wh)
    e.execute("CREATE DATABASE db")
    e.execute("CREATE TABLE t (id int PRIMARY KEY, v int)")
    before.toSeq.sorted.foreach { case (id, v) => e.execute(s"INSERT INTO t VALUES ($id, $v)") }
    assert(e.catalog.currentVersion("db", "public", "t") == 4L)
    // one write-once file per version; no manifest, no graveyard
    assert(list(tableDir(wh).resolve("_versions")).map(_.getFileName.toString) ==
      (1 to 4).map(v => f"$v%020d"))
    assert(list(tableDir(wh)).map(_.getFileName.toString) ==
      Seq("_head", "_serial", "_versions", "data", "descriptor.json"))
    (wh, e)
  }

  private def tableDir(wh: String): Path = Paths.get(wh, "db", "public", "t")

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
  }

  /** Writes `rows` as one Parquet part into `dir`; returns its path. */
  private def writePart(e: SqlEngine, dir: Path, rows: Set[(Int, Int)]): Path = {
    Files.createDirectories(dir)
    GraftParquetBridge.writePart(spark, dir.toString, e.catalog.getTable("db", "public", "t").toStructType,
      rows.iterator.map { case (id, v) => Row(id, v) })
    list(dir).filter(_.toString.endsWith(".parquet")).last
  }

  /** A part moved into `data/` as the commit names it, with no version. */
  private def movedIn(e: SqlEngine, wh: String, prefix: String, rows: Set[(Int, Int)]): String = {
    val name = s"$prefix-${System.currentTimeMillis()}-${UUID.randomUUID()}.parquet"
    val staged = writePart(e, Paths.get(scratchDir("graft-crash-part-")), rows)
    Files.move(staged, tableDir(wh).resolve("data").resolve(name))
    name
  }

  private def rows(e: SqlEngine): Set[(Int, Int)] =
    e.execute("SELECT id, v FROM t").collect().map(r => r.getInt(0) -> r.getInt(1)).toSet

  /** Reopens `wh`: the head reads one of `allowed` whole, the next INSERT
    * is the version after it, and `vacuum(0)` leaves in `data/` only the
    * parts the head lists, and no staging directory or temp file. */
  private def recovers(wh: String, allowed: Set[(Int, Int)]*): Unit = {
    val e = engine(wh)
    val seen = rows(e)
    assert(allowed.contains(seen), s"reopened table reads $seen")
    val head = e.catalog.currentVersion("db", "public", "t")
    e.execute("INSERT INTO t VALUES (99, 990)")
    assert(e.catalog.currentVersion("db", "public", "t") == head + 1)
    assert(Files.exists(tableDir(wh).resolve("_versions").resolve(f"${head + 1}%020d")))
    assert(rows(e) == seen + (99 -> 990))
    e.vacuumTable("db", "public", "t", retentionMs = 0L)
    val data = list(tableDir(wh).resolve("data")).map(_.getFileName.toString).toSet
    assert(data == e.catalog.liveParts("db", "public", "t").toSet, s"unlisted files survive vacuum(0): $data")
    val walk = Files.walk(tableDir(wh))
    val dotted = try walk.iterator().asScala.filter(_.getFileName.toString.startsWith(".")).toSeq
    finally walk.close()
    assert(dotted.isEmpty, s"debris survives vacuum(0): $dotted")
    assert(rows(engine(wh)) == seen + (99 -> 990))
  }

  test("an INSERT killed after writing its staging directory leaves the old version") {
    val (wh, e) = warehouse()
    writePart(e, e.catalog.newStagingDir("db", "public", "t"), Set(5 -> 50))
    recovers(wh, before)
  }

  test("an INSERT killed after moving its part into data/ leaves the old version") {
    val (wh, e) = warehouse()
    val staging = e.catalog.newStagingDir("db", "public", "t")
    writePart(e, staging, Set(5 -> 50))
    val part = movedIn(e, wh, "part", Set(5 -> 50))
    // killed again after writing the version's temp file, before the link
    val live = e.catalog.liveParts("db", "public", "t")
    Files.writeString(tableDir(wh).resolve("_versions").resolve(s".5-${UUID.randomUUID()}"),
      (System.currentTimeMillis() +: live :+ part).mkString("\n"))
    recovers(wh, before)
  }

  test("a compaction killed after moving its part into data/ leaves the old version") {
    val (wh, e) = warehouse()
    writePart(e, e.catalog.newStagingDir("db", "public", "t"), before)
    movedIn(e, wh, "compact", before)
    recovers(wh, before)
  }

  test("an INSERT killed after linking its version, before the head hint, reads the new version") {
    val (wh, e) = warehouse()
    e.execute("INSERT INTO t VALUES (5, 50)")
    val hint = tableDir(wh).resolve("_head")
    assert(Files.readString(hint).trim == "5")
    Files.writeString(hint, "4")
    // and a hint replace killed after writing its temp file
    Files.writeString(tableDir(wh).resolve(s"._head-${UUID.randomUUID()}"), "6")
    recovers(wh, before + (5 -> 50))
    // no hint at all: the probe starts at version 0
    Files.delete(hint)
    assert(engine(wh).catalog.currentVersion("db", "public", "t") == 6L)
  }

  test("a vacuum killed halfway leaves the compacted version whole; the next vacuum finishes") {
    val (wh, e) = warehouse()
    val old = e.catalog.liveParts("db", "public", "t")
    assert(e.compactTable("db", "public", "t") == (4, 1))
    // the killed vacuum deleted half the dead parts
    old.take(2).foreach(p => Files.delete(tableDir(wh).resolve("data").resolve(p)))
    val err = intercept[SqlError](engine(wh).readTableAt("db", "public", "t", 4L).collect())
    assert(err.getMessage.contains("vacuumed"))
    recovers(wh, before)
  }

  /** Rows 1000..1999 in one compacted part (the base), then one INSERT per
    * row of `tail`: the table a tail merge folds the tail of. */
  private val tail = Set(2000 -> 1, 2001 -> 2, 2002 -> 3)

  private def tailed(): (String, SqlEngine, Set[(Int, Int)]) = {
    val wh = scratchDir("graft-crash-tail-")
    val e = engine(wh)
    e.execute("CREATE DATABASE db")
    e.execute("CREATE TABLE t (id int PRIMARY KEY, v int)")
    e.execute("INSERT INTO t SELECT CAST(id AS INT), CAST(id * 3 AS INT) FROM range(1000, 2000)").collect()
    e.compactTable("db", "public", "t")
    e.vacuumTable("db", "public", "t", retentionMs = 0L)
    tail.toSeq.sorted.foreach { case (id, v) => e.execute(s"INSERT INTO t VALUES ($id, $v)") }
    assert(e.catalog.liveParts("db", "public", "t").size == 1 + tail.size)
    (wh, e, (1000 until 2000).map(i => i -> i * 3).toSet ++ tail)
  }

  test("a tail merge killed after opening its staging directory leaves the old version") {
    val (wh, e, rows) = tailed()
    e.catalog.newStagingDir("db", "public", "t")
    recovers(wh, rows)
  }

  test("a tail merge killed after writing its merged part leaves the old version") {
    val (wh, e, rows) = tailed()
    writePart(e, e.catalog.newStagingDir("db", "public", "t"), tail)
    recovers(wh, rows)
  }

  test("a tail merge killed in its subset replace leaves the old version") {
    val (wh, e, rows) = tailed()
    val live = e.catalog.liveParts("db", "public", "t")
    val merged = movedIn(e, wh, "compact", tail)
    // killed after writing the version's temp file, before the link
    val v = e.catalog.currentVersion("db", "public", "t") + 1
    Files.writeString(tableDir(wh).resolve("_versions").resolve(s".$v-${UUID.randomUUID()}"),
      (System.currentTimeMillis() +: live.take(1) :+ merged).mkString("\n"))
    recovers(wh, rows)
  }

  test("a tail merge killed after linking its version, before the head hint, reads the new version") {
    val (wh, e, rows) = tailed()
    val base = e.catalog.liveParts("db", "public", "t").head
    val head = e.catalog.currentVersion("db", "public", "t")
    // a fourth tail part fires the merge
    val merging = new SqlEngine(spark, e.catalog, SqlContext("db", "u"), autoCompactAfterParts = 4)
    merging.execute("INSERT INTO t VALUES (2003, 4)")
    val Seq(kept, merged) = e.catalog.liveParts("db", "public", "t")
    assert(kept == base && merged.startsWith("compact-"))
    assert(e.catalog.currentVersion("db", "public", "t") == head + 2)
    Files.writeString(tableDir(wh).resolve("_head"), (head + 1).toString)
    recovers(wh, rows + (2003 -> 4))
  }
}
