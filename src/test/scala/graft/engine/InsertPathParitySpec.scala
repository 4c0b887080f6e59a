package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The driver-resident INSERT path (a VALUES source) and the distributed
  * one (INSERT … SELECT over a table) must be indistinguishable: each batch
  * goes once as VALUES into one table and once through a staged table into
  * its twin, and after every batch both give the same outcome (count or
  * error), the same rows and ids, and the same serial counters. */
class InsertPathParitySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A parity case: the twin tables' column list and constraints, the
    * INSERT's target columns with the staged (source) type of each, and
    * the batches — each row a list of SQL expressions. The twins are both
    * named `t`, in databases `plocal` and `pdist`, so even the error
    * messages must match. `prepare` runs on both twins before the first
    * batch. */
  private def parity(columnsDdl: String, target: Seq[(String, String)],
      batches: Seq[(Seq[Seq[String]], Either[SqlError.Kind, Long])],
      prepare: (SqlEngine, String) => Unit = (_, _) => ()): SqlEngine = {
    val catalog = new Catalog(Files.createTempDirectory("graft-wh-").toString)
    val Seq(local, dist) = Seq("plocal", "pdist").map { db =>
      val e = new SqlEngine(spark, catalog, SqlContext(db, "u"))
      e.execute(s"CREATE DATABASE $db")
      e.execute(s"CREATE TABLE t ($columnsDdl)")
      prepare(e, db)
      e
    }
    dist.execute("CREATE TABLE staged (k int PRIMARY KEY, batch int, " +
      target.map { case (c, ty) => s"$c $ty" }.mkString(", ") + ")")
    val cols = target.map(_._1).mkString(", ")
    val serials = catalog.getTable("plocal", "public", "t").columns.filter(_.serial)
    def attempt(e: SqlEngine, sql: String): Either[SqlError, Long] =
      try Right(e.execute(sql).collect()(0).getLong(0)) catch { case err: SqlError => Left(err) }
    // values as strings: NaN != NaN under ==, and -0.0 must stay -0.0
    def snapshot(e: SqlEngine): (Seq[Seq[String]], Seq[Long]) = (
      e.execute("SELECT * FROM t").collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")),
      serials.map(c => catalog.peekSerial(e.ctx.database, "public", "t", c.id)))

    var k = 0
    batches.zipWithIndex.foreach { case ((rows, expect), b) =>
      val staged = rows.map { r => k += 1; (Seq(k.toString, b.toString) ++ r).mkString("(", ", ", ")") }
      dist.execute(s"INSERT INTO staged VALUES ${staged.mkString(", ")}")
      val viaValues = attempt(local, s"INSERT INTO t ($cols) VALUES ${rows.map(_.mkString("(", ", ", ")")).mkString(", ")}")
      val viaSelect = attempt(dist, s"INSERT INTO t ($cols) SELECT $cols FROM staged WHERE batch = $b ORDER BY k")
      assert(viaValues == viaSelect, s"batch $b: outcomes differ")
      assert(viaValues.left.map(_.kind) == expect, s"batch $b")
      assert(snapshot(local) == snapshot(dist), s"batch $b: rows or counters differ")
    }
    local
  }

  private def ok(n: Long) = Right(n)
  private def fails(kind: SqlError.Kind) = Left(kind)
  import SqlError.{MismatchColumnType, NotNullableColumn, UniqueKeyAlreadyExists, Unexpected}

  test("UNIQUE NULLS DISTINCT: NULL keys never conflict, in-batch and existing duplicates do") {
    parity("id serial PRIMARY KEY, a text, b int, CONSTRAINT u UNIQUE NULLS DISTINCT (a)",
      Seq("a" -> "text", "b" -> "int"),
      Seq(
        Seq(Seq("'x'", "1"), Seq("NULL", "2"), Seq("NULL", "3")) -> ok(3),
        Seq(Seq("'x'", "4")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("'y'", "5"), Seq("'z'", "6"), Seq("'y'", "7")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("NULL", "8"), Seq("'y'", "9")) -> ok(2)))
  }

  test("UNIQUE NULLS NOT DISTINCT: a second NULL key conflicts in-batch and with existing rows") {
    parity("id serial PRIMARY KEY, a text, b int, CONSTRAINT u UNIQUE NULLS NOT DISTINCT (a)",
      Seq("a" -> "text", "b" -> "int"),
      Seq(
        Seq(Seq("NULL", "1"), Seq("'x'", "2"), Seq("NULL", "3")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("NULL", "4"), Seq("'x'", "5")) -> ok(2),
        Seq(Seq("NULL", "6")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("'w'", "7"), Seq("'x'", "8")) -> fails(UniqueKeyAlreadyExists)))
  }

  test("multi-column UNIQUE keys under both NULL semantics, beside a provided primary key") {
    parity("pk bigint PRIMARY KEY, a int, b text, c int, " +
      "CONSTRAINT u1 UNIQUE NULLS DISTINCT (a, b), CONSTRAINT u2 UNIQUE NULLS NOT DISTINCT (b, c)",
      Seq("pk" -> "bigint", "a" -> "int", "b" -> "text", "c" -> "int"),
      Seq(
        Seq(Seq("1", "1", "'p'", "1"), Seq("2", "1", "'q'", "1"), Seq("3", "2", "'p'", "NULL")) -> ok(3),
        // (a, b) repeats (1, 'p') from the table
        Seq(Seq("4", "1", "'p'", "9")) -> fails(UniqueKeyAlreadyExists),
        // (b, c) = ('p', NULL) repeats under NULLS NOT DISTINCT
        Seq(Seq("5", "7", "'p'", "NULL")) -> fails(UniqueKeyAlreadyExists),
        // NULL in (a, b) is distinct; (b, c) differ
        Seq(Seq("6", "NULL", "'p'", "2"), Seq("7", "NULL", "'p'", "3")) -> ok(2),
        // in-batch duplicate on (a, b) with different (b, c)
        Seq(Seq("8", "5", "'r'", "1"), Seq("9", "5", "'r'", "2")) -> fails(UniqueKeyAlreadyExists),
        // primary key repeats an existing row
        Seq(Seq("1", "40", "'s'", "40")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("10", "5", "'r'", "1")) -> ok(1)))
  }

  test("floating keys compare as SQL does: -0.0 is 0.0 and NaN is NaN") {
    parity("id serial PRIMARY KEY, d double precision, CONSTRAINT u UNIQUE (d)",
      Seq("d" -> "double precision"),
      Seq(
        Seq(Seq("0.0"), Seq("CAST('NaN' AS DOUBLE)")) -> ok(2),
        Seq(Seq("CAST('-0.0' AS DOUBLE)")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("CAST('NaN' AS DOUBLE)")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("1.5"), Seq("CAST('-0.0' AS DOUBLE)"), Seq("2.5")) -> fails(UniqueKeyAlreadyExists),
        Seq(Seq("1.5"), Seq("CAST('-1.5' AS DOUBLE)")) -> ok(2),
        Seq(Seq("CAST('-2.0' AS DOUBLE)"), Seq("CAST('-2.0' AS DOUBLE)")) -> fails(UniqueKeyAlreadyExists)))
  }

  test("NOT NULL violations fail after the serial range is reserved, leaving the same id gap") {
    val e = parity("id serial PRIMARY KEY, a int NOT NULL, b text",
      Seq("a" -> "int", "b" -> "text"),
      Seq(
        Seq(Seq("1", "'x'"), Seq("2", "NULL")) -> ok(2),
        Seq(Seq("3", "'y'"), Seq("NULL", "'z'")) -> fails(NotNullableColumn),
        Seq(Seq("4", "'w'"), Seq("5", "'v'")) -> ok(2)))
    // ids 3 and 4 went to the failed statement
    assert(e.execute("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 5, 6))
  }

  test("bigint into int narrows only value-for-value") {
    parity("id serial PRIMARY KEY, a int, s smallint",
      Seq("a" -> "bigint", "s" -> "int"),
      Seq(
        Seq(Seq("CAST(7 AS BIGINT)", "1")) -> ok(1),
        Seq(Seq("CAST(4294967296 AS BIGINT)", "2")) -> fails(MismatchColumnType),
        Seq(Seq("CAST(8 AS BIGINT)", "70000")) -> fails(MismatchColumnType),
        Seq(Seq("CAST(-2147483648 AS BIGINT)", "-32768"), Seq("NULL", "NULL")) -> ok(2)))
  }

  test("serial overflow fails before anything is written, and the counter holds") {
    val e = parity("id smallserial PRIMARY KEY, v text",
      Seq("v" -> "text"),
      Seq(
        Seq(Seq("'a'")) -> ok(1),
        Seq(Seq("'b'"), Seq("'c'")) -> fails(Unexpected),
        Seq(Seq("'d'")) -> ok(1)),
      prepare = (e, db) => e.catalog.setSerial(db, "public", "t", 1, Short.MaxValue - 2L))
    assert(e.catalog.peekSerial("plocal", "public", "t", 1) == Short.MaxValue.toLong)
  }
}
