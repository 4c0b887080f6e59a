package graft.engine

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.{SuiteScratch, TestSession}
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's counter files (`_ids`, `_serial/<columnId>`) are replaced
  * by an atomic move, never rewritten in place. */
class CatalogCounterSpec extends AnyFunSuite with SuiteScratch {

  private def freshCatalog(): (Catalog, Path) = {
    val wh = java.nio.file.Paths.get(scratchDir("graft-wh-"))
    val c = new Catalog(wh.toString)
    c.createDatabase("db", ifNotExists = false)
    c.createTable("db", "public",
      SqlParser.parse("CREATE TABLE t (id serial PRIMARY KEY, v text)") match {
        case SqlParser.CreateTable(_, builder, _) => builder
        case other => fail(s"not a CREATE TABLE: $other")
      }, ifNotExists = false)
    (c, wh)
  }

  private def idColumn(c: Catalog): ColumnDescriptor = c.getTable("db", "public", "t").columns.head

  private def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("a temp file left by a crash mid-write is ignored: the counter keeps its committed value") {
    val (c, wh) = freshCatalog()
    val id = idColumn(c)
    assert(c.reserveSerial("db", "public", "t", id, 5) == 1L)
    // a crash between writing the temp file and moving it into place
    // leaves an empty or partial sibling behind, never a truncated counter
    val serialDir = wh.resolve("db/public/t/_serial")
    Files.writeString(serialDir.resolve(s".${id.id}-crashed-empty"), "")
    Files.writeString(serialDir.resolve(s".${id.id}-crashed-partial"), "9")
    Files.writeString(wh.resolve("._ids-crashed"), "")

    val reopened = new Catalog(wh.toString)
    assert(reopened.peekSerial("db", "public", "t", id.id) == 5L)
    assert(reopened.reserveSerial("db", "public", "t", id, 3) == 6L)
    assert(reopened.peekSerial("db", "public", "t", id.id) == 8L)
    // the id allocator still reads its committed value, and the stray
    // file is not a database
    reopened.createDatabase("db2", ifNotExists = false)
    assert(reopened.listDatabases() == Seq("db", "db2"))
    // an INSERT through the engine continues the sequence
    val spark = TestSession.spark
    val e = new SqlEngine(spark, reopened, SqlContext("db", "u"))
    e.execute("INSERT INTO t (v) VALUES ('a'), ('b')")
    assert(e.execute("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(9, 10))
  }

  test("concurrent reservations get disjoint, gap-free ranges and leave no temp files") {
    val (c, wh) = freshCatalog()
    val id = idColumn(c)
    val perThread = 200
    val ranges = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val threads = (0 until 2).map { th =>
      new Thread(() => {
        val rnd = new scala.util.Random(th)
        (0 until perThread).foreach { _ =>
          val n = 1L + rnd.nextInt(5)
          ranges.add((c.reserveSerial("db", "public", "t", id, n), n))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ids = ranges.asScala.toSeq.flatMap { case (start, n) => start until start + n }.sorted
    assert(ranges.size == 2 * perThread)
    assert(ids == (1L to ids.size.toLong), "ranges must tile 1..total with no overlap and no gap")
    assert(c.peekSerial("db", "public", "t", id.id) == ids.size.toLong)
    assert(listing(wh.resolve("db/public/t/_serial")) == Seq(id.id.toString))
    assert(!listing(wh).exists(_.startsWith(".")), s"stray temp files: ${listing(wh)}")
  }
}
