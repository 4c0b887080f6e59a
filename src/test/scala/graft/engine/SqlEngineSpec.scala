package graft.engine

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.{SuiteScratch, TestSession}
import graft.GraftSession.withScratch
import org.scalatest.funsuite.AnyFunSuite

/** F1–F3 end-to-end parity with the reference's SQL tests
  * (reference: src/sql/mod.rs:175-426, README.md:20-33). */
class SqlEngineSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  private def freshEngine(db: String = "test1", user: String = "user1"): SqlEngine = {
    val wh = scratchDir("graft-wh-")
    new SqlEngine(spark, new Catalog(wh), SqlContext(db, user))
  }

  test("F1: create/insert/select golden rows (reference src/sql/mod.rs:175-275)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute(
      """CREATE TABLE table1 (
        |    id serial PRIMARY KEY,
        |    count bigint,
        |    price real,
        |    description text
        |);""".stripMargin)
    val inserted = e.execute(
      """INSERT INTO table1
        |(count, price, description)
        |VALUES
        |(4, 15.6, NULL),
        |(3, 7.8, 'NNNNNN'),
        |(8, 3.4, 'a'),
        |(8, 2.9, 'b');
        |""".stripMargin)
    assert(inserted.collect().map(_.getLong(0)).toSeq == Seq(4L))

    val rows = e.execute(
      "select id, count, description from table1 ORDER BY count DESC, id ASC;").collect()
    assert(rows.length == 4)
    assert(rows(0).getInt(0) == 3 && rows(0).getLong(1) == 8 && rows(0).getString(2) == "a")
    assert(rows(1).getInt(0) == 4 && rows(1).getLong(1) == 8 && rows(1).getString(2) == "b")
    assert(rows(2).getInt(0) == 1 && rows(2).getLong(1) == 4 && rows(2).isNullAt(2))
    assert(rows(3).getInt(0) == 2 && rows(3).getLong(1) == 3 && rows(3).getString(2) == "NNNNNN")

    // session functions: expected ('test1','test1','public',0)
    val fns = e.execute(
      "select current_catalog, current_database() as database, current_schema(), inet_client_port()")
    val r = fns.collect()(0)
    assert(fns.columns.toSeq == Seq("current_catalog", "database", "current_schema", "inet_client_port"))
    assert(r.getString(0) == "test1" && r.getString(1) == "test1" && r.getString(2) == "public")
    assert(r.getInt(3) == 0)

    // README.md:32 aggregate query
    val agg = e.execute(
      "SELECT sum(count) AS count, max(price) AS max_price, min(price) AS min_price, " +
        "sum(count*price) AS sales_amount FROM table1 ORDER BY max_price DESC").collect()(0)
    assert(agg.getLong(0) == 23L)
    assert(math.abs(agg.getFloat(1) - 15.6f) < 1e-5)
    assert(math.abs(agg.getFloat(2) - 2.9f) < 1e-5)
  }

  test("F2: UNIQUE NULLS DISTINCT allows two NULLs, rejects dup non-NULL (src/sql/mod.rs:277-368)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute(
      """CREATE TABLE table1 (
        |    id serial PRIMARY KEY,
        |    name text,
        |    description text,
        |    CONSTRAINT unique_name UNIQUE NULLS DISTINCT (name)
        |)""".stripMargin)
    val ins = e.execute(
      "INSERT INTO table1 (name, description) VALUES (NULL, 'row1'), ('name2', 'row2'), (NULL, 'row3')")
    assert(ins.collect()(0).getLong(0) == 3L)
    val rows = e.execute("SELECT id, name, description FROM table1 ORDER BY id ASC").collect()
    assert(rows.map(r => (r.getInt(0), Option(r.getString(1)), r.getString(2))).toSeq == Seq(
      (1, None, "row1"), (2, Some("name2"), "row2"), (3, None, "row3")))
    val err = intercept[SqlError](
      e.execute("INSERT INTO table1 (name, description) VALUES ('name2', 'row4')"))
    assert(err.kind == SqlError.UniqueKeyAlreadyExists)
    assert(err.getMessage.contains("unique_name"))
    // another NULL is still fine after the failure
    assert(e.execute("INSERT INTO table1 (name, description) VALUES (NULL, 'row5')")
      .collect()(0).getLong(0) == 1L)
  }

  test("F3: UNIQUE NULLS NOT DISTINCT rejects second NULL (src/sql/mod.rs:370-426)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute(
      """CREATE TABLE table1 (
        |    id serial PRIMARY KEY,
        |    name text,
        |    description text,
        |    CONSTRAINT unique_name UNIQUE NULLS NOT DISTINCT (name)
        |)""".stripMargin)
    val err = intercept[SqlError](e.execute(
      "INSERT INTO table1 (name, description) VALUES (NULL, 'row1'), ('name2', 'row2'), (NULL, 'row3')"))
    assert(err.kind == SqlError.UniqueKeyAlreadyExists)
    // statement atomicity: nothing was written
    assert(e.execute("SELECT count(*) AS n FROM table1").collect()(0).getLong(0) == 0L)
    // single NULL is fine; a second in a later statement errors too
    e.execute("INSERT INTO table1 (name, description) VALUES (NULL, 'row1')")
    val err2 = intercept[SqlError](
      e.execute("INSERT INTO table1 (name, description) VALUES (NULL, 'rowX')"))
    assert(err2.kind == SqlError.UniqueKeyAlreadyExists)
  }

  test("serial overflow: int16/int32 ceilings error (src/sql/client.rs:278-296)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t16 (id smallserial PRIMARY KEY, v text)")
    e.catalog.setSerial("test1", "public", "t16", 1, Short.MaxValue - 1L)
    assert(e.execute("INSERT INTO t16 (v) VALUES ('a')").collect()(0).getLong(0) == 1L)
    val ids = e.execute("SELECT id FROM t16").collect().map(_.getShort(0))
    assert(ids.toSeq == Seq(Short.MaxValue))
    val err = intercept[SqlError](e.execute("INSERT INTO t16 (v) VALUES ('b')"))
    assert(err.getMessage.contains("overflow"))
  }

  test("insert validation: missing column, not-null, type mismatch, unknown column") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, b text NOT NULL, c real)")
    assert(intercept[SqlError](e.execute("INSERT INTO t (a) VALUES (1)"))
      .kind == SqlError.MissingColumn)
    assert(intercept[SqlError](e.execute("INSERT INTO t (a, b) VALUES (1, NULL)"))
      .kind == SqlError.NotNullableColumn)
    assert(intercept[SqlError](e.execute("INSERT INTO t (a, b, c) VALUES (1, true, 2.0)"))
      .kind == SqlError.MismatchColumnType)
    assert(intercept[SqlError](e.execute("INSERT INTO t (a, b, zzz) VALUES (1, 'x', 2)"))
      .getMessage.contains("no column"))
    assert(intercept[SqlError](e.execute("INSERT INTO t (a, b) VALUES (1, 'x', 2)"))
      .getMessage.contains("target columns"))
    // a valid insert still works afterwards
    assert(e.execute("INSERT INTO t VALUES (1, 'x', 2.5)").collect()(0).getLong(0) == 1L)
    // PK duplicate across statements
    assert(intercept[SqlError](e.execute("INSERT INTO t VALUES (1, 'y', 3.5)"))
      .kind == SqlError.UniqueKeyAlreadyExists)
  }

  test("DDL semantics: IF NOT EXISTS / IF EXISTS / not exists errors / drop removes data") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    assert(intercept[SqlError](e.execute("CREATE DATABASE test1"))
      .kind == SqlError.DatabaseAlreadyExists)
    e.execute("CREATE DATABASE IF NOT EXISTS test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY)")
    assert(intercept[SqlError](e.execute("CREATE TABLE t (a int PRIMARY KEY)"))
      .kind == SqlError.TableAlreadyExists)
    e.execute("CREATE TABLE IF NOT EXISTS t (a int PRIMARY KEY)")
    e.execute("INSERT INTO t VALUES (1), (2)")
    e.execute("DROP TABLE t")
    assert(intercept[SqlError](e.execute("SELECT * FROM t")).kind == SqlError.TableNotExists)
    e.execute("DROP TABLE IF EXISTS t")
    assert(intercept[SqlError](e.execute("DROP TABLE t")).kind == SqlError.TableNotExists)
    // recreate: serial counters and data start fresh
    e.execute("CREATE TABLE t (a serial PRIMARY KEY, b text)")
    e.execute("INSERT INTO t (b) VALUES ('x')")
    val r = e.execute("SELECT a, b FROM t").collect()
    assert(r.length == 1 && r(0).getInt(0) == 1)
  }

  test("qualified table names resolve: schema.table and db.schema.table") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, b text)")
    e.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    assert(e.execute("SELECT a FROM public.t ORDER BY a").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(e.execute("SELECT count(*) AS n FROM test1.public.t").collect()(0).getLong(0) == 2L)
    // alias.column references must pass through untouched
    assert(e.execute("SELECT x.a FROM t x WHERE x.a = 2").collect()(0).getInt(0) == 2)
  }

  test("cross-database qualified names: SELECT and INSERT-source resolve any db (src/sql/descriptor.rs:43-79)") {
    val wh = scratchDir("graft-wh-")
    val cat = new Catalog(wh)
    val e1 = new SqlEngine(spark, cat, SqlContext("db1", "user1"))
    e1.execute("CREATE DATABASE db1")
    e1.execute("CREATE DATABASE db2")
    e1.execute("CREATE TABLE db2.public.remote (k int PRIMARY KEY, v text)")
    e1.execute("INSERT INTO db2.public.remote VALUES (1, 'a'), (2, 'b')")
    // SELECT against another database's table through a db1-connected engine
    val rows = e1.execute("SELECT k, v FROM db2.public.remote ORDER BY k").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
    // joined with a local table
    e1.execute("CREATE TABLE local (k int PRIMARY KEY)")
    e1.execute("INSERT INTO local VALUES (2), (3)")
    assert(e1.execute(
      "SELECT r.v FROM db2.public.remote r JOIN local l ON r.k = l.k").collect()
      .map(_.getString(0)).toSeq == Seq("b"))
    // INSERT whose SELECT source lives in the other database
    e1.execute("CREATE TABLE copied (k int PRIMARY KEY, v text)")
    e1.execute("INSERT INTO copied SELECT k, v FROM db2.public.remote")
    assert(e1.execute("SELECT count(*) AS n FROM copied").collect()(0).getLong(0) == 2L)
    // unknown database still errors
    assert(intercept[SqlError](e1.execute("SELECT * FROM nodb.public.remote"))
      .kind == SqlError.TableNotExists)
    // dropping the remote table also clears its hosting view — a stale
    // view must not keep serving the dropped table's data
    e1.execute("DROP TABLE db2.public.remote")
    assert(intercept[SqlError](e1.execute("SELECT * FROM db2.public.remote"))
      .kind == SqlError.TableNotExists)
  }

  test("INSERT sourced from information_schema registers the views (review regression)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE a_first (x int PRIMARY KEY)")
    e.execute("CREATE TABLE names (id serial PRIMARY KEY, tn text)")
    e.execute("INSERT INTO names (tn) SELECT table_name FROM information_schema.tables")
    val got = e.execute("SELECT tn FROM names ORDER BY tn").collect().map(_.getString(0)).toSeq
    assert(got == Seq("a_first", "names"))
    // and the snapshot is CURRENT per statement, not a stale registration
    e.execute("CREATE TABLE zz_later (x int PRIMARY KEY)")
    e.execute("INSERT INTO names (tn) SELECT table_name FROM information_schema.tables " +
      "WHERE table_name = 'zz_later'")
    assert(e.execute("SELECT count(*) AS n FROM names").collect()(0).getLong(0) == 3L)
  }

  test("cross-db view names are injective: underscore-laden identifiers never collide") {
    val wh = scratchDir("graft-wh-")
    val cat = new Catalog(wh)
    val e = new SqlEngine(spark, cat, SqlContext("main", "u"))
    e.execute("CREATE DATABASE main")
    e.execute("CREATE DATABASE x")
    e.execute("CREATE DATABASE x_public_y")
    // underscore-joined, these two would both name graft_xdb_x_public_y_public_z
    e.execute("CREATE TABLE x.public.y_public_z (v int PRIMARY KEY)")
    e.execute("INSERT INTO x.public.y_public_z VALUES (1)")
    e.execute("CREATE TABLE x_public_y.public.z (v int PRIMARY KEY)")
    e.execute("INSERT INTO x_public_y.public.z VALUES (2)")
    val r = e.execute(
      "SELECT a.v AS va, b.v AS vb FROM x.public.y_public_z a " +
        "CROSS JOIN x_public_y.public.z b").collect()(0)
    assert(r.getInt(0) == 1 && r.getInt(1) == 2, "each reference must serve its own table")
  }

  test("per-statement registration touches only referenced descriptors (src/sql/mod.rs:60-75)") {
    val wh = scratchDir("graft-wh-")
    val cat = new Catalog(wh) {
      @volatile var descriptorReads = 0
      override def getTable(db: String, schema: String, table: String): TableDescriptor = {
        descriptorReads += 1
        super.getTable(db, schema, table)
      }
    }
    val e = new SqlEngine(spark, cat, SqlContext("test1", "user1"))
    e.execute("CREATE DATABASE test1")
    (0 until 50).foreach(i => e.execute(s"CREATE TABLE t_$i (a int PRIMARY KEY, b text)"))
    e.execute("INSERT INTO t_7 VALUES (1, 'x')")
    cat.descriptorReads = 0
    e.execute("SELECT a, b FROM t_7 WHERE a = 1").collect()
    assert(cat.descriptorReads <= 2,
      s"a 1-table query on a 50-table catalog read ${cat.descriptorReads} descriptors")
    cat.descriptorReads = 0
    e.execute("SELECT x.a FROM t_7 x JOIN t_8 y ON x.a = y.a").collect()
    assert(cat.descriptorReads <= 4,
      s"a 2-table query read ${cat.descriptorReads} descriptors")
  }

  test("EXPLAIN and information-schema-ish statements flow through the engine") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, b text)")
    e.execute("INSERT INTO t VALUES (1, 'x')")
    val planText = e.execute("EXPLAIN SELECT a FROM t WHERE a = 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(planText.contains("Physical Plan"))
    assert(e.execute("SELECT * FROM (SELECT a, upper(b) AS ub FROM t) s WHERE ub = 'X'")
      .collect().length == 1)
  }

  test("session functions rewrite at any depth; bare user aliases current_user") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    // nested in a function call / subquery / arithmetic — the reference
    // registers these engine-wide, so they bind at ANY expression depth
    val r = e.execute(
      "SELECT coalesce(current_user, 'x') AS u, upper(current_database()) AS d").collect()(0)
    assert(r.getString(0) == "user1" && r.getString(1) == "TEST1")
    assert(e.execute("SELECT x FROM (SELECT current_user AS x)").collect()(0).getString(0) == "user1")
    assert(e.execute("SELECT inet_client_port() + 1 AS p").collect()(0).getInt(0) == 1)
    // bare `user` token (reference src/sql/postgresql/functions/mod.rs:125)
    val u = e.execute("SELECT user")
    assert(u.columns.toSeq == Seq("user"))
    assert(u.collect()(0).getString(0) == "user1")
    // alias / qualified positions must NOT be rewritten
    assert(e.execute("SELECT 'abc' AS user").collect()(0).getString(0) == "abc")
  }

  test("COPY is a silent no-op (reference src/sql/postgresql/mod.rs:548,564-566)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    assert(e.execute("COPY t FROM 'somewhere.csv'").collect().isEmpty)
  }

  test("comments: ';' inside comments doesn't split; INSERT offsets survive comments") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, b text)")
    assert(e.execute("SELECT 1 AS x; -- trailing; note").collect()(0).getInt(0) == 1)
    assert(e.execute("SELECT /* inline; comment */ 2 AS x").collect()(0).getInt(0) == 2)
    e.execute("INSERT INTO t /* cols follow */ (a, b) /* src */ VALUES (1, 'x')")
    assert(e.execute("SELECT count(*) AS n FROM t").collect()(0).getLong(0) == 1L)
    assert(intercept[SqlError](e.execute("SELECT 1; SELECT 2"))
      .kind == SqlError.MultipleStatements)
    assert(intercept[SqlError](e.execute("-- only a comment"))
      .kind == SqlError.NoStatement)
  }

  test("lossy numeric inserts raise MismatchColumnType instead of truncating") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, f real)")
    // fractional into int: rejected at the type level
    assert(intercept[SqlError](e.execute("INSERT INTO t (a, f) VALUES (1.5, 1.0)"))
      .kind == SqlError.MismatchColumnType)
    // out-of-range bigint into int: rejected by the round-trip value check
    assert(intercept[SqlError](
      e.execute("INSERT INTO t (a, f) VALUES (CAST(4294967296 AS BIGINT), 1.0)"))
      .kind == SqlError.MismatchColumnType)
    // in-range wider source is fine; fractional into real is fine
    assert(e.execute("INSERT INTO t (a, f) VALUES (CAST(7 AS BIGINT), 1.5)")
      .collect()(0).getLong(0) == 1L)
    assert(e.execute("SELECT a FROM t").collect()(0).getInt(0) == 7)
  }

  test("INSERT … SELECT binds source columns by position, as PG does") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE events (id serial PRIMARY KEY, account_id int, seq int, kind int, amount bigint)")
    // CAST(id AS INT) is auto-named `id`, as is the last column
    assert(e.execute("INSERT INTO events (account_id, seq, kind, amount) SELECT CAST(id % 2000 + 1 AS INT), " +
      "CAST(id AS INT), CAST(id % 4 AS INT), id FROM range(0, 20000)").collect()(0).getLong(0) == 20000L)
    val rows = e.execute("SELECT account_id, seq, kind, amount FROM events WHERE seq IN (0, 1999, 19999) " +
      "ORDER BY seq").collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(rows == Seq((1, 0, 0, 0L), (2000, 1999, 3, 1999L), (2000, 19999, 3, 19999L)))
    // the checks bind by position too: a fractional source and an
    // out-of-range one, each named like another column, still raise
    assert(intercept[SqlError](e.execute("INSERT INTO events (account_id, seq, kind, amount) " +
      "SELECT CAST(id AS INT), CAST(id AS INT), 1.5 AS id, id FROM range(0, 3)")).kind == SqlError.MismatchColumnType)
    val narrow = intercept[SqlError](e.execute("INSERT INTO events (account_id, seq, kind, amount) " +
      "SELECT id, id + 4294967296 AS id, CAST(1 AS INT), id FROM range(0, 3)"))
    assert(narrow.kind == SqlError.MismatchColumnType && narrow.getMessage.contains("seq"), narrow.getMessage)
    assert(e.execute("SELECT count(*) FROM events").collect()(0).getLong(0) == 20000L)
  }

  test("information_schema.tables and .columns reflect the catalog (reference src/sql/mod.rs:82)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, b text NULL)")
    val tb = e.execute(
      "SELECT table_name, table_type FROM information_schema.tables " +
        "WHERE table_schema = 'public'").collect()
    assert(tb.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("t", "BASE TABLE")))
    val cols = e.execute(
      "SELECT column_name, is_nullable FROM information_schema.columns " +
        "WHERE table_name = 't' ORDER BY ordinal_position").collect()
    assert(cols.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(cols(0).getString(1) == "NO" && cols(1).getString(1) == "YES")
    // catalog-qualified three-part name resolves too
    assert(e.execute("SELECT count(*) AS n FROM test1.information_schema.tables")
      .collect()(0).getLong(0) == 1L)
  }

  test("PG-isms pass through the query path: ::-cast and || concatenation") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    val r = e.execute("SELECT '42'::INT + 1 AS x, 'a' || 'b' AS y").collect()(0)
    assert(r.getInt(0) == 43 && r.getString(1) == "ab")
  }

  test("CTEs and window functions flow through the engine query path") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, g text)")
    e.execute("INSERT INTO t VALUES (1, 'x'), (5, 'x'), (3, 'y'), (9, 'y')")
    val top = e.execute(
      "WITH ranked AS (SELECT a, g, row_number() OVER (PARTITION BY g ORDER BY a DESC) AS r FROM t) " +
        "SELECT g, a FROM ranked WHERE r = 1 ORDER BY g").collect()
    assert(top.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("x", 5), ("y", 9)))
  }

  test("varchar(n) length is declared, not enforced (reference parity)") {
    // the reference stores max_length in the descriptor but never length-
    // checks values on insert — parity means we accept the overflow too
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (a int PRIMARY KEY, v varchar(2))")
    e.execute("INSERT INTO t VALUES (1, 'long-string-beyond-two')")
    assert(e.execute("SELECT v FROM t").collect()(0).getString(0) == "long-string-beyond-two")
  }

  test("concurrent inserts: serials stay gap-free-per-statement and unique enforcement holds") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, tag int, CONSTRAINT u UNIQUE (tag))")
    // 4 threads x 10 single-row inserts with distinct tags + 4 threads
    // racing on the SAME tag (exactly one may win)
    val okInserts = Future.traverse((0 until 4).toList) { th =>
      Future((0 until 10).foreach(i => e.execute(s"INSERT INTO t (tag) VALUES (${th * 100 + i})")))
    }
    Await.result(okInserts, 120.seconds)
    val racers = Future.traverse((0 until 4).toList) { _ =>
      Future(
        try { e.execute("INSERT INTO t (tag) VALUES (9999)"); 1 }
        catch { case err: SqlError if err.kind == SqlError.UniqueKeyAlreadyExists => 0 })
    }
    val wins = Await.result(racers, 120.seconds).sum
    assert(wins == 1, s"exactly one racer may publish tag 9999, got $wins")
    val rows = e.execute("SELECT id, tag FROM t").collect()
    assert(rows.length == 41)
    assert(rows.map(_.getInt(0)).distinct.length == 41, "serial ids must be unique")
    assert(rows.map(_.getInt(1)).distinct.length == 41, "unique constraint must hold")
  }

  test("compaction clusters primary-key tables into disjoint per-file key ranges") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (pk bigint PRIMARY KEY, v text)")
    // interleaved key ranges across insert batches: every part overlaps
    // every other before compaction
    (0 until 6).foreach { b =>
      val vals = (0 until 40).map(i => s"(${i * 6 + b}, 'v${i * 6 + b}')").mkString(", ")
      e.execute(s"INSERT INTO t (pk, v) VALUES $vals")
    }
    val rowsBefore = e.execute("SELECT pk, v FROM t ORDER BY pk").collect().toSeq
    val (_, bytes) = e.catalog.dataFileStats("test1", "public", "t")
    // size the target so compaction emits SEVERAL files — clustering with
    // one output file would be trivially disjoint
    val (was, now) = e.compactTable("test1", "public", "t", targetFileBytes = bytes / 3)
    assert(now > 1 && now < was, s"need a multi-file clustered compaction, got $was -> $now")
    val ranges = e.catalog.livePartPaths("test1", "public", "t").map { p =>
      val mm = spark.read.parquet(p)
        .agg(org.apache.spark.sql.functions.min("pk"),
          org.apache.spark.sql.functions.max("pk")).collect()(0)
      (mm.getLong(0), mm.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(hiA < loB, s"per-file key ranges must be disjoint, got $ranges")
      case _ =>
    }
    assert(e.execute("SELECT pk, v FROM t ORDER BY pk").collect().toSeq == rowsBefore,
      "clustering must not change table content")
  }

  test("compaction merges per-statement parts, preserves rows, serials keep counting") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, v int)")
    (1 to 12).foreach(i => e.execute(s"INSERT INTO t (v) VALUES ($i)"))
    val (before, _) = e.catalog.dataFileStats("test1", "public", "t")
    assert(before >= 12, s"each INSERT statement appends its own part, got $before")
    val sumBefore = e.execute("SELECT sum(v) AS s, count(*) AS n, max(id) AS m FROM t").collect()(0)
    val (was, now) = e.compactTable("test1", "public", "t")
    assert(was == before && now < before && now >= 1, s"compaction $was -> $now")
    val after = e.execute("SELECT sum(v) AS s, count(*) AS n, max(id) AS m FROM t").collect()(0)
    assert(after == sumBefore, "compaction must not change table content")
    // inserts after compaction continue the serial sequence
    e.execute("INSERT INTO t (v) VALUES (99)")
    assert(e.execute("SELECT max(id) AS m FROM t").collect()(0).getInt(0) == 13)
    // merging in the post-compaction part, then a true no-op on one file
    val (_, n2) = e.compactTable("test1", "public", "t")
    assert(n2 == 1)
    assert(e.compactTable("test1", "public", "t") == ((1, 1)))
    assert(e.execute("SELECT count(*) AS n FROM t").collect()(0).getLong(0) == 13L)
  }

  test("compaction is snapshot-safe: pre-compaction plans keep their files until vacuum") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, v int)")
    (1 to 8).foreach(i => e.execute(s"INSERT INTO t (v) VALUES ($i)"))
    // resolve a plan (and its file listing) BEFORE the compaction
    val planned = e.execute("SELECT sum(v) AS s FROM t")
    e.compactTable("test1", "public", "t")
    // old parts are retained, so the pre-compaction snapshot still reads
    assert(planned.collect()(0).getLong(0) == 36L,
      "a plan resolved before compaction must keep a consistent snapshot")
    // vacuum under the retention grace window reclaims NOTHING — a reader
    // planned just before the compaction keeps collecting
    val grace = e.execute("SELECT sum(v) AS s FROM t")
    assert(e.vacuumTable("test1", "public", "t") == 0,
      "default retention must skip freshly-superseded parts")
    assert(planned.collect()(0).getLong(0) == 36L,
      "compact-then-vacuum must not break a pre-compaction reader inside the grace window")
    assert(grace.collect()(0).getLong(0) == 36L)
    // retention 0 forces immediate reclamation; fresh reads are unaffected
    assert(e.vacuumTable("test1", "public", "t", retentionMs = 0L) >= 8)
    assert(e.vacuumTable("test1", "public", "t", retentionMs = 0L) == 0)
    assert(e.execute("SELECT sum(v) AS s FROM t").collect()(0).getLong(0) == 36L)
  }

  test("vacuum reclaims a crashed INSERT's stale staging directory and keeps a fresh one") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, v int)")
    e.execute("INSERT INTO t (v) VALUES (1)")
    def staged(): java.nio.file.Path = {
      val p = e.catalog.newStagingDir("test1", "public", "t")
      Files.writeString(p.resolve("part-00000.parquet"), "torn")
      p
    }
    val (stale, fresh) = (staged(), staged())
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60L * 60 * 1000))
    assert(e.vacuumTable("test1", "public", "t") == 0)
    assert(!Files.exists(stale), "a staging directory older than the retention window must go")
    assert(Files.exists(fresh.resolve("part-00000.parquet")), "a fresh staging directory may be in flight")
    assert(e.execute("SELECT sum(v) AS s FROM t").collect()(0).getLong(0) == 1L)
  }

  test("compaction racing concurrent INSERTs loses no rows (write-lock serialization)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, v int)")
    e.execute("INSERT INTO t (v) VALUES (0)")
    val inserts = Future.traverse((1 to 20).toList) { i =>
      Future(e.execute(s"INSERT INTO t (v) VALUES ($i)"))
    }
    val compactions = Future((1 to 5).foreach { _ =>
      e.compactTable("test1", "public", "t"); Thread.sleep(20)
    })
    Await.result(inserts, 120.seconds)
    Await.result(compactions, 120.seconds)
    e.compactTable("test1", "public", "t")
    val r = e.execute("SELECT count(*) AS n, count(DISTINCT id) AS ids, sum(v) AS s FROM t").collect()(0)
    assert(r.getLong(0) == 21L && r.getLong(1) == 21L && r.getLong(2) == 210L,
      s"lost rows under compaction/insert race: $r")
  }

  test("INSERT .. SELECT with serial assignment and catalog surface") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE src (k int PRIMARY KEY, v text)")
    e.execute("INSERT INTO src VALUES (10, 'a'), (20, 'b'), (30, 'c')")
    e.execute("CREATE TABLE dst (id serial PRIMARY KEY, k int, v text)")
    val ins = e.execute("INSERT INTO dst (k, v) SELECT k, v FROM src ORDER BY k")
    assert(ins.collect()(0).getLong(0) == 3L)
    val rows = e.execute("SELECT id, k FROM dst ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 10), (2, 20), (3, 30)))

    assert(e.execute("SHOW TABLES").collect().map(_.getString(0)).toSeq == Seq("dst", "src"))
    assert(e.execute("SHOW DATABASES").collect().map(_.getString(0)).toSeq == Seq("test1"))
    val d = e.execute("DESCRIBE dst").collect()
    assert(d.map(_.getString(0)).toSeq == Seq("id", "k", "v"))
  }

  test("keyword-named tables stay queryable (PG non-reserved keywords as identifiers)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    // `first` is a keyword for the resolver's fast path but a non-reserved
    // identifier in PG (the reference's sqlparser-rs accepts it as a table
    // name) — creatable tables must stay queryable
    e.execute("CREATE TABLE first (id int PRIMARY KEY, v text)")
    e.execute("INSERT INTO first VALUES (1, 'a'), (2, 'b')")
    assert(e.execute("SELECT id, v FROM first ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
    // the same token still parses as the FIRST() aggregate in the same statement
    val agg = e.execute("SELECT first(v) AS f FROM (SELECT v FROM first ORDER BY id) s").collect()(0)
    assert(agg.getString(0) == "a")
    // keyword-named table as an INSERT source rides the same resolution path
    e.execute("CREATE TABLE dst2 (id int PRIMARY KEY, v text)")
    e.execute("INSERT INTO dst2 SELECT id, v FROM first")
    assert(e.execute("SELECT count(*) AS n FROM dst2").collect()(0).getLong(0) == 2L)
    // a genuinely missing table still raises the reference's error shape
    val err = intercept[SqlError](e.execute("SELECT * FROM missing_tbl"))
    assert(err.kind == SqlError.TableNotExists)
  }

  test("keyword-named tables never serve a stale snapshot (write/compact/vacuum then read)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE first (id int PRIMARY KEY, v text)")
    e.execute("INSERT INTO first VALUES (1, 'a')")
    // SELECT registers the keyword view via the retry; it must not pin the
    // pre-insert file list for later statements
    assert(e.execute("SELECT count(*) AS n FROM first").collect()(0).getLong(0) == 1L)
    e.execute("INSERT INTO first VALUES (2, 'b')")
    assert(e.execute("SELECT count(*) AS n FROM first").collect()(0).getLong(0) == 2L)
    // dotted-chain resolution registers the same view on the FIRST pass —
    // the bare-name read after it must still see later inserts
    assert(e.execute("SELECT count(*) AS n FROM public.first").collect()(0).getLong(0) == 2L)
    e.execute("INSERT INTO first VALUES (3, 'c')")
    assert(e.execute("SELECT count(*) AS n FROM first").collect()(0).getLong(0) == 3L)
    // compact + immediate vacuum deletes the superseded parts; a lingering
    // view pinned to them would throw file-not-found at execution
    e.compactTable("test1", "public", "first")
    e.vacuumTable("test1", "public", "first", retentionMs = 0L)
    assert(e.execute("SELECT sum(id) AS s FROM first").collect()(0).getLong(0) == 6L)
    e.execute("INSERT INTO first VALUES (4, 'd')")
    assert(e.execute("SELECT sum(id) AS s FROM first").collect()(0).getLong(0) == 10L)
    // no keyword view survives the statements above
    assert(!spark.catalog.tableExists("first"))
    // genuine analysis errors against a keyword table propagate raw, not as
    // a misleading TableNotExists
    intercept[org.apache.spark.sql.AnalysisException] {
      e.execute("SELECT no_such_col FROM first")
    }
  }

  test("partial registration failure drops already-registered keyword views") {
    val wh = scratchDir("graft-wh-")
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("test1", "u"))
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE first (id int PRIMARY KEY)")
    e.execute("CREATE TABLE last (id int PRIMARY KEY)")
    e.execute("INSERT INTO first VALUES (1)")
    e.execute("INSERT INTO last VALUES (7)")
    // corrupt `last`'s descriptor: resolution (an existence check) still
    // sees the table, but registration (a descriptor parse) throws AFTER
    // `first`'s view is already registered — the mid-statement failure
    // path that used to leak the keyword view for the whole session
    val p = java.nio.file.Paths.get(wh, "test1", "public", "last", "descriptor.json")
    val orig = Files.readString(p)
    Files.writeString(p, "{corrupt")
    intercept[Exception] {
      e.execute("SELECT * FROM first JOIN last ON first.id = last.id")
    }
    assert(!spark.catalog.tableExists("first"),
      "keyword view leaked by a mid-statement registration failure")
    // restore the descriptor; both tables read fresh, with later writes
    // visible (a leaked view would have pinned the pre-failure file list)
    Files.writeString(p, orig)
    e.execute("INSERT INTO first VALUES (2)")
    assert(e.execute("SELECT count(*) AS n FROM first").collect()(0).getLong(0) == 2L)
    assert(e.execute("SELECT sum(id) AS s FROM last").collect()(0).getLong(0) == 7L)
  }

  test("catalog resolution is O(statement), not O(catalog): 300 tables, 2 descriptor reads") {
    val wh = scratchDir("graft-wh-")
    val reads = scala.collection.mutable.Map.empty[String, Int]
    val counting = new Catalog(wh) {
      override def getTable(db: String, schema: String, table: String): TableDescriptor = {
        reads.synchronized { reads(table) = reads.getOrElse(table, 0) + 1 }
        super.getTable(db, schema, table)
      }
    }
    val e = new SqlEngine(spark, counting, SqlContext("test1", "u"))
    e.execute("CREATE DATABASE test1")
    (0 until 300).foreach(i => e.execute(f"CREATE TABLE wide_$i%03d (id int PRIMARY KEY, v int)"))
    e.execute("INSERT INTO wide_001 VALUES (1, 10), (2, 20)")
    e.execute("INSERT INTO wide_002 VALUES (1, 100)")
    reads.synchronized(reads.clear())
    val r = e.execute(
      "SELECT a.id AS id, a.v + b.v AS s FROM wide_001 a JOIN wide_002 b ON a.id = b.id").collect()
    assert(r.length == 1 && r(0).getInt(0) == 1 && r(0).getInt(1) == 110)
    val snapshot = reads.synchronized(reads.toMap)
    // the 298 unreferenced descriptors are never opened (guards the
    // round-4 O(statement) win and round-6's unified planRelational)
    assert(snapshot.keySet == Set("wide_001", "wide_002"),
      s"descriptor reads touched unreferenced tables: $snapshot")
    assert(snapshot.values.sum <= 4, s"descriptor read amplification: $snapshot")
  }

  test("keyword sweep: every resolver keyword round-trips as a table name or fails cleanly") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    // the keyword list the text resolver kept (its first pass never
    // probed these as table names), kept verbatim as the sweep's input
    val sqlKeywords: Set[String] = Set(
      "select", "from", "where", "and", "or", "not", "as", "on", "join", "inner", "left",
      "right", "full", "outer", "cross", "group", "by", "order", "having", "limit", "offset",
      "union", "all", "distinct", "case", "when", "then", "else", "end", "with", "in",
      "exists", "between", "like", "ilike", "is", "null", "true", "false", "asc", "desc",
      "nulls", "first", "last", "cast", "over", "partition", "rows", "range", "unbounded",
      "preceding", "following", "current", "row", "values", "insert", "into", "explain",
      "escape", "interval", "using", "semi", "anti")
    val outcomes = scala.collection.mutable.Map.empty[String, String]
    for (kw <- sqlKeywords.toSeq.sorted) {
      outcomes(kw) =
        try {
          e.execute(s"CREATE TABLE $kw (id int PRIMARY KEY, v int)")
          try {
            e.execute(s"INSERT INTO $kw VALUES (1, 10), (2, 20)")
            assert(e.execute(s"SELECT sum(v) AS s FROM $kw").collect()(0).getLong(0) == 30L,
              s"wrong data through keyword table `$kw`")
            // freshness: the retry-registered view must not pin a snapshot
            e.execute(s"INSERT INTO $kw VALUES (3, 70)")
            assert(e.execute(s"SELECT sum(v) AS s FROM $kw").collect()(0).getLong(0) == 100L,
              s"stale read through keyword table `$kw`")
            "roundtrip"
          } catch {
            // creatable but not queryable through Spark: acceptable ONLY as
            // the reference's clean error shape or a parse error (PG also
            // rejects RESERVED words in table position at parse time)
            case err: SqlError => s"sql-error:${err.kind}"
            case _: org.apache.spark.sql.catalyst.parser.ParseException => "spark-parse"
          }
          // our own DDL parser rejected the name — clean engine error,
          // matching sqlparser-rs rejecting reserved words at CREATE
        } catch {
          case err: SqlError => s"create-rejected:${err.kind}"
          case _: org.apache.spark.sql.catalyst.parser.ParseException => "create-spark-parse"
        }
    }
    info(s"keyword sweep outcomes: ${outcomes.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap}")
    // no keyword may leak an unclassified error (raw AnalysisException,
    // internal Spark errors, wrong results, stale reads all fail above)
    val bad = outcomes.collect { case (k, o) if !o.startsWith("roundtrip") &&
      !o.startsWith("sql-error") && !o.startsWith("create-rejected") &&
      !o.startsWith("spark-parse") && !o.startsWith("create-spark-parse") => k -> o }
    assert(bad.isEmpty, s"unclean keyword outcomes: $bad")
    // the non-reserved bulk must actually round-trip — a regression that
    // turns queryable names into errors must fail loudly
    val roundtrips = outcomes.count(_._2 == "roundtrip")
    assert(outcomes("first") == "roundtrip", s"`first` regressed: ${outcomes("first")}")
    assert(roundtrips >= sqlKeywords.size / 2,
      s"only $roundtrips/${sqlKeywords.size} keywords round-trip: $outcomes")
  }

  test("concurrent compact+vacuum cycles lose no graveyard entries and never delete live parts") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, v int)")
    (1 to 6).foreach(i => e.execute(s"INSERT INTO t (v) VALUES ($i)"))
    // one thread inserts+compacts (each compact supersedes parts), one
    // vacuums with the DEFAULT retention (fresh graveyard entries must
    // never be reclaimed), readers run throughout
    val compactor = Future((1 to 8).foreach { i =>
      e.execute(s"INSERT INTO t (v) VALUES (${100 + i})")
      e.compactTable("test1", "public", "t")
    })
    val vacuums = Future((1 to 16).foreach { _ =>
      e.vacuumTable("test1", "public", "t"); Thread.sleep(5)
    })
    val readers = Future((1 to 16).foreach { _ =>
      assert(e.execute("SELECT count(*) AS n FROM t").collect()(0).getLong(0) >= 6L)
      Thread.sleep(5)
    })
    Await.result(compactor, 120.seconds)
    Await.result(vacuums, 120.seconds)
    Await.result(readers, 120.seconds)
    // a final vacuum enrolls any crash leftovers; default retention still
    // reclaims nothing this fresh
    assert(e.vacuumTable("test1", "public", "t") == 0,
      "default retention reclaimed a freshly-superseded part")
    val r = e.execute("SELECT count(*) AS n, sum(v) AS s FROM t").collect()(0)
    assert(r.getLong(0) == 14L && r.getLong(1) == (21L + (101 to 108).sum),
      s"data loss under concurrent compact+vacuum: $r")
    // disk audit: every live part exists; every superseded .parquet still
    // on disk is listed by a retained version file (its supersede time is
    // the publish time of the version that dropped it) or is younger than
    // the retention window (debris vacuum dates by its mtime)
    val tableDir = java.nio.file.Paths.get(e.catalog.warehouse, "test1", "public", "t")
    def list(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val live = e.catalog.liveParts("test1", "public", "t").toSet
    live.foreach(p => assert(Files.exists(tableDir.resolve("data").resolve(p)),
      s"live part $p missing from disk"))
    val dead = list(tableDir.resolve("data")).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet -- live
    val listed = list(tableDir.resolve("_versions"))
      .filter(_.getFileName.toString.forall(_.isDigit))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1)).toSet
    val now = System.currentTimeMillis()
    val unaccounted = dead.filterNot(listed).filter { p =>
      now - Files.getLastModifiedTime(tableDir.resolve("data").resolve(p)).toMillis >=
        SqlEngine.defaultVacuumRetentionMs
    }
    assert(dead.nonEmpty, "the compactions superseded no part")
    assert(unaccounted.isEmpty, s"dead parts no version lists: $unaccounted")
  }

  test("auto-compaction: many small INSERTs self-heal to a bounded file count") {
    val e = new SqlEngine(spark, new Catalog(scratchDir("graft-wh-")),
      SqlContext("test1", "u"), autoCompactAfterParts = 8)
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigserial PRIMARY KEY, v bigint)")
    (1 to 100).foreach(i => e.execute(s"INSERT INTO t (v) VALUES ($i)"))
    val files = e.catalog.dataFileStats("test1", "public", "t")._1
    assert(files <= 8, s"auto-compaction must bound live parts, got $files")
    // content, serial continuity, and ordering all survive the rewrites
    val rows = e.execute("SELECT id, v FROM t ORDER BY id").collect()
    assert(rows.length == 100)
    assert(rows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i + 1 && r.getLong(1) == i + 1 })

    // threshold 0 disables: one part per insert accumulates
    val e2 = new SqlEngine(spark, new Catalog(scratchDir("graft-wh-")),
      SqlContext("test1", "u"), autoCompactAfterParts = 0)
    e2.execute("CREATE DATABASE test1")
    e2.execute("CREATE TABLE t (id bigserial PRIMARY KEY, v bigint)")
    (1 to 10).foreach(i => e2.execute(s"INSERT INTO t (v) VALUES ($i)"))
    assert(e2.catalog.dataFileStats("test1", "public", "t")._1 == 10)

    // a table ALREADY at its compacted target must not rewrite per insert:
    // with a 1-byte target size, the compacted form needs more files than
    // exist, so parts-above-target never reaches the threshold — the old
    // absolute-count trigger would have rewritten the whole table on every
    // insert past the 4th (O(n^2) write amplification at scale)
    val e3 = new SqlEngine(spark, new Catalog(scratchDir("graft-wh-")),
      SqlContext("test1", "u"), autoCompactAfterParts = 4, autoCompactTargetFileBytes = 1L)
    e3.execute("CREATE DATABASE test1")
    e3.execute("CREATE TABLE t (id bigserial PRIMARY KEY, v bigint)")
    (1 to 10).foreach(i => e3.execute(s"INSERT INTO t (v) VALUES ($i)"))
    assert(e3.catalog.dataFileStats("test1", "public", "t")._1 == 10,
      "at-target table must accumulate parts, never rewrite itself per insert")
  }

  test("table functions: pure-SQL entry to the LLM operators matches the DataFrame API") {
    val e = freshEngine("tvf1")
    e.execute("CREATE DATABASE tvf1")
    e.execute("CREATE TABLE corpus (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO corpus (doc_id, text) VALUES " +
      "(1, 'the quick brown fox jumps over the lazy dog'), " +
      "(2, 'the quick brown fox jumps over the lazy dog'), " + // exact clone of 1
      "(3, 'an entirely different document body right here'), " +
      "(4, 'the quick brown fox jumps over the lazy dog today'), " + // near-dup of 1
      "(5, 'short')")

    // pure-SQL exact dedup == the DataFrame operator over the same table
    val viaSql = e.execute("SELECT doc_id FROM graft_dedup_exact(corpus) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val viaApi = graft.operators.Dedup
      .exactDedup(e.execute("SELECT doc_id, text FROM corpus"))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaApi && viaSql == Seq(1L, 3L, 4L, 5L))

    // numeric args bind positionally; the call site composes relationally
    // (aliased, joined back to the base table)
    val pairs = e.execute(
      "SELECT p.id_a, p.id_b FROM graft_minhash_pairs(corpus, 0.35) p " +
        "JOIN corpus c ON c.doc_id = p.id_a ORDER BY p.id_a, p.id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact-clone pair must surface: $pairs")

    // passage stats with an explicit width; clones share every passage
    val ps = e.execute(
      "SELECT doc_id, n_chunks, n_repeated FROM graft_passage_stats(corpus, 4) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ps.length == 5)
    assert(ps(0)._3 == ps(0)._2 && ps(1)._3 == ps(1)._2,
      s"clone docs must have all passages repeated: ${ps.mkString(",")}")
    assert(ps(2)._3 == 0L, "the unique doc has no repeated passages")

    // the TVF re-resolves the table's snapshot per statement
    e.execute("INSERT INTO corpus (doc_id, text) VALUES (6, 'short')")
    val after = e.execute("SELECT doc_id FROM graft_dedup_exact(corpus) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(after == Seq(1L, 3L, 4L, 5L), "doc 6 duplicates doc 5 — 5 stays the representative")

    // a missing inner table keeps the engine's error shape
    val err = intercept[SqlError](e.execute("SELECT * FROM graft_dedup_exact(nope)"))
    assert(err.kind == SqlError.TableNotExists)

    // packing surface reachable from SQL too
    assert(e.execute("SELECT doc_id, shard, pos FROM graft_shard_pack(corpus, 2)").count() == 6L)
    assert(e.execute(
      "SELECT doc_id FROM graft_pack_sequences(corpus, 16) WHERE first_seq = 0").count() >= 1L)

    // model-based quality scoring from SQL: stopword-rich doc 1 must
    // outscore the short opaque doc 5, and n_tokens matches the split
    val scores = e.execute(
      "SELECT doc_id, logit, n_tokens FROM graft_classifier_score(corpus) ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(scores(1L)._2 == 9L && scores(5L)._2 == 1L)
    assert(scores(1L)._1 > scores(5L)._1,
      s"stopword-rich doc must outscore the opaque one: $scores")

    // packed span map from SQL: spans of doc 1 sum to its 9 tokens
    val spanSum = e.execute(
      "SELECT sum(end_tok - begin_tok) AS s FROM graft_pack_spans(corpus, 4) WHERE doc_id = 1")
      .collect().head.getLong(0)
    assert(spanSum == 9L)

    // selection surface: per-source caps from pure SQL
    e.execute("CREATE TABLE sourced (doc_id bigint PRIMARY KEY, source text)")
    e.execute("INSERT INTO sourced VALUES " +
      (1 to 10).map(i => s"($i, 'a')").mkString(", ") + ", (11, 'b')")
    val capped = e.execute(
      "SELECT source, count(*) AS n FROM graft_cap_per_source(sourced, 3) GROUP BY source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped == Map("a" -> 3L, "b" -> 1L))

    // Gopher rule battery from SQL: the 9-word docs clear a minWords=5
    // floor, 'short' does not; result matches the DataFrame API
    val kept = e.execute(
      "SELECT doc_id FROM graft_heuristic_filter(corpus, 5) WHERE f_words ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val keptApi = graft.operators.TextAnalysis
      .heuristicFilter(e.execute("SELECT doc_id, text FROM corpus"), minWords = 5L)
      .filter("f_words").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == keptApi && kept == Seq(1L, 2L, 3L, 4L))

    // deterministic E-S sampling + epoch reshuffle from SQL
    e.execute("CREATE TABLE weights (doc_id bigint PRIMARY KEY, weight bigint)")
    e.execute("INSERT INTO weights VALUES (1, 1), (2, 10), (3, 100), (4, 1000), (5, 1)")
    val viaTvf = e.execute(
      "SELECT doc_id FROM graft_weighted_sample(weights, 3) ORDER BY rk")
      .collect().map(_.getLong(0)).toSeq
    val viaSel = graft.operators.Selection
      .weightedSample(e.execute("SELECT doc_id, weight FROM weights"), 3)
      .orderBy("rk").collect().map(_.getLong(0)).toSeq
    assert(viaTvf == viaSel && viaTvf.size == 3)
    val shuffled = e.execute(
      "SELECT count(DISTINCT pos) AS n, count(DISTINCT shard) AS s FROM graft_epoch_shuffle(sourced, 1, 4)")
      .collect().head
    assert(shuffled.getLong(0) == 11L && shuffled.getLong(1) == 4L)
  }

  test("two-table functions: bm25/decontaminate/admit and stratified split from pure SQL") {
    val e = freshEngine("tvf2")
    e.execute("CREATE DATABASE tvf2")
    e.execute("CREATE TABLE corpus (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO corpus (doc_id, text) VALUES " +
      "(1, 'apple banana apple'), (2, 'apple cherry'), " +
      "(3, 'banana banana banana'), (4, 'cherry date elder')")
    e.execute("CREATE TABLE terms (term_id bigint PRIMARY KEY, query_id int, term text)")
    e.execute("INSERT INTO terms (term_id, query_id, term) VALUES " +
      "(1, 0, 'apple'), (2, 0, 'banana'), (3, 1, 'cherry')")

    // SQL bm25 == the DataFrame operator on the same relations
    val viaSql = e.execute(
      "SELECT query_id, doc_id, score, rk FROM graft_bm25(corpus, terms, 10) ORDER BY query_id, rk")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val viaApi = graft.operators.TextAnalysis.bm25TopK(
      e.execute("SELECT doc_id, text FROM corpus"),
      e.execute("SELECT query_id, term FROM terms"), 10)
      .orderBy("query_id", "rk")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(viaSql == viaApi && viaSql.nonEmpty)

    // decontamination: corpus docs sharing >= 1 3-gram shingle with the
    // benchmark side surface with their overlap counts
    e.execute("CREATE TABLE bench (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO bench (doc_id, text) VALUES (100, 'apple banana apple')")
    val contam = e.execute(
      "SELECT doc_id, bench_id, overlap FROM graft_decontaminate(corpus, bench, 1)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contam == Set((1L, 100L)), s"only the clone doc shares a 3-gram: $contam")

    // incremental admission against a persisted digest index built by SQL
    // over the history table: history clones rejected, new text admitted
    e.execute("CREATE TABLE increment (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO increment (doc_id, text) VALUES " +
      "(10, 'apple cherry'), (11, 'genuinely new content here')")
    e.execute("CREATE TABLE digest_index (digest text PRIMARY KEY)")
    graft.operators.Dedup.digestIndex(e.execute("SELECT doc_id, text FROM corpus"))
      .collect().foreach { r =>
        e.execute(s"INSERT INTO digest_index (digest) VALUES ('${r.getString(0)}')")
      }
    val admitted = e.execute(
      "SELECT doc_id FROM graft_admit(increment, digest_index) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(admitted == Seq(11L), s"history clone 10 must be rejected: $admitted")

    // winnow-level admission straight off the history CORPUS (the index
    // builds inside the TVF): the exact clone shares every fingerprint
    val wAdmitted = e.execute(
      "SELECT doc_id FROM graft_winnow_admit(increment, corpus, 2, 2, 1) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(wAdmitted == Seq(11L), s"winnow clone 10 must be rejected: $wAdmitted")

    // DSIR importance selection from SQL: bench doc 100 is a clone of
    // corpus doc 1, so with bench as the target domain, doc 1 must rank
    // first; TVF result == the DataFrame operator on the same relations
    val dsirSql = e.execute(
      "SELECT doc_id, score, n_tokens, rank FROM graft_dsir_select(corpus, bench, 4) ORDER BY rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    val dsirApi = graft.operators.Selection.dsirSelect(
      e.execute("SELECT doc_id, text FROM corpus"),
      e.execute("SELECT doc_id, text FROM bench"), 4)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    assert(dsirSql == dsirApi && dsirSql.size == 4, s"got $dsirSql vs $dsirApi")
    assert(dsirSql.head._1 == 1L, s"the target clone must rank first: $dsirSql")
    // the un-truncated score relation covers every doc and agrees with
    // the selection's scores
    val dsirAll = e.execute(
      "SELECT doc_id, score FROM graft_dsir_score(corpus, bench) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(dsirAll.size == 4 &&
      dsirSql.forall { case (id, s, _, _) => dsirAll(id) == s },
      s"score relation diverges from selection: $dsirAll")

    // stratified split from SQL: fractions bind positionally and sum to 1
    e.execute("CREATE TABLE sourced (doc_id bigint PRIMARY KEY, source text)")
    e.execute("INSERT INTO sourced VALUES " + (1 to 10).map(i => s"($i, 'a')").mkString(", "))
    val splits = e.execute(
      "SELECT split, count(*) AS n FROM graft_stratified_split(sourced, 0.8, 0.2) GROUP BY split")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(splits == Map(0 -> 8L, 1 -> 2L))

    // boilerplate mining from SQL: the repeated phrase's interior 3-gram
    // clears a 50% df gate
    val boiler = e.execute(
      "SELECT phrase, df FROM graft_boilerplate(corpus, 2, 0.5) ORDER BY phrase")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(boiler.isEmpty || boiler.values.forall(_ >= 2),
      s"sub-threshold phrases leaked through the df gate: $boiler")

    // a two-table function missing its second relation is NOT silently
    // rewritten — it falls through and fails as an unresolved function
    assertThrows[Exception](e.execute("SELECT * FROM graft_bm25(corpus)"))
    // and a missing right table keeps the engine error shape
    val err = intercept[SqlError](e.execute("SELECT * FROM graft_bm25(corpus, nope)"))
    assert(err.kind == SqlError.TableNotExists)

    // frame sampling over a bytea payload column from pure SQL: the frame
    // grid (index + exact byte counts, tail truncation) comes back typed
    e.execute("CREATE TABLE media (doc_id bigint PRIMARY KEY, payload bytea)")
    e.execute("INSERT INTO media (doc_id, payload) VALUES (1, CAST('abcdefghij' AS BINARY))")
    val frames = e.execute(
      "SELECT frame_idx, n_bytes FROM graft_sample_frames(media, 4, 2) ORDER BY frame_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(frames == Seq((0L, 4L), (2L, 2L)), s"frame grid wrong: $frames")

    // two calls of one function with DIFFERENT args in one statement
    // resolve to distinct result views (args encode by value, not hash)
    val two = e.execute(
      "SELECT (SELECT count(*) FROM graft_stratified_split(sourced, 0.8, 0.2) WHERE split = 1) AS a, " +
        "(SELECT count(*) FROM graft_stratified_split(sourced, 0.5, 0.5) WHERE split = 1) AS b")
      .collect().head
    assert(two.getLong(0) == 2L && two.getLong(1) == 5L)
    // TVF result views are statement-scoped: none survive execution
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_tvf_"))
    assert(leaked.isEmpty, s"leaked TVF views: ${leaked.mkString(",")}")
  }

  test("version history cap: trimmed versions fail loudly as expired, head stays stable") {
    val wh = scratchDir("graft-wh-")
    val e = new SqlEngine(spark, new Catalog(wh, maxVersionHistory = 3), SqlContext("test1", "u"))
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigint PRIMARY KEY)")
    (1 to 5).foreach(i => e.execute(s"INSERT INTO t VALUES ($i)"))
    assert(e.catalog.currentVersion("test1", "public", "t") == 5L,
      "trimming must never renumber the head")
    assert(e.readTableAt("test1", "public", "t", 5L).count() == 5L)
    assert(e.readTableAt("test1", "public", "t", 3L).count() == 3L)
    val err = intercept[SqlError](e.readTableAt("test1", "public", "t", 2L))
    assert(err.getMessage.contains("expired"))
    // the change feed across a trimmed base fails the same way
    val err2 = intercept[SqlError](e.readTableChanges("test1", "public", "t", 1L, 5L))
    assert(err2.getMessage.contains("expired"))
    // as-of a time BEFORE the retained history must fail loudly too — the
    // true snapshot existed but was trimmed; silently resolving to the
    // empty version-0 table would serve wrong rows
    val oldest = e.catalog.versionHistory("test1", "public", "t").head._2
    val err3 = intercept[SqlError](
      e.catalog.versionAsOf("test1", "public", "t", oldest - 1))
    assert(err3.getMessage.contains("retained version history"))
    // …while a FULL history resolves pre-creation times to the empty table
    val full = freshEngine("tvh2")
    full.execute("CREATE DATABASE tvh2")
    full.execute("CREATE TABLE u (id bigint PRIMARY KEY)")
    full.execute("INSERT INTO u VALUES (1)")
    assert(full.catalog.versionAsOf("tvh2", "public", "u", 0L) == 0L)
  }

  test("change feed: graft_changes reads exactly the inserted delta; compaction interval raises") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigint PRIMARY KEY, v text)")
    e.execute("INSERT INTO t VALUES (1, 'a')")
    e.execute("INSERT INTO t VALUES (2, 'b'), (3, 'c')")
    // delta (1, 2]: exactly the second insert's rows
    val delta = e.execute("SELECT id FROM graft_changes(t, 1, 2) ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(delta == Seq(2L, 3L))
    // from 0 = everything; single-arg default toV = current head
    assert(e.execute("SELECT count(*) AS n FROM graft_changes(t, 0)")
      .collect()(0).getLong(0) == 3L)
    // incremental consumer loop: the cursor advances with the head
    e.execute("INSERT INTO t VALUES (4, 'd')")
    assert(e.execute("SELECT id FROM graft_changes(t, 2)")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    // version-history listing surface
    val hist = e.execute("SELECT version, n_parts FROM graft_versions(t) ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // an INSERT may stage several parquet parts (one per write task), so
    // part counts only grow monotonically with each publish
    assert(hist.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(hist.map(_._2).toSeq == hist.map(_._2).toSeq.sorted && hist.last._2 >= 3)
    // an interval crossing a compaction publish raises — the consumer
    // restarts from a full snapshot, never a wrong delta
    e.compactTable("test1", "public", "t")
    val err = intercept[SqlError](
      e.execute("SELECT * FROM graft_changes(t, 2, 4)").collect())
    assert(err.getMessage.contains("compaction"))
    // and the feed resumes cleanly from the post-compaction version
    e.execute("INSERT INTO t VALUES (5, 'e')")
    assert(e.execute("SELECT id FROM graft_changes(t, 4)")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("graft_table_compact / graft_table_vacuum: table maintenance from pure SQL") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigint PRIMARY KEY, v text)")
    (1 to 4).foreach(i => e.execute(s"INSERT INTO t VALUES ($i, 'v$i')"))
    val cat = e.catalog
    assert(cat.currentVersion("test1", "public", "t") == 4L)
    // the compact TVF merges the per-INSERT parts and publishes ONE new
    // version; rows and head content untouched
    val rep = e.execute(
      "SELECT files_before, files_after FROM graft_table_compact(t)").collect().head
    assert(rep.getInt(0) >= 4 && rep.getInt(1) < rep.getInt(0), s"compact report: $rep")
    assert(cat.currentVersion("test1", "public", "t") == 5L)
    assert(e.execute("SELECT count(*) AS n FROM t").collect()(0).getLong(0) == 4L)
    // pre-compaction snapshots stay readable until vacuumed
    assert(e.readTableAt("test1", "public", "t", 2L).count() == 2L)
    // the vacuum TVF with retention 0 reclaims the superseded parts;
    // expired snapshots then fail LOUDLY as vacuumed
    val vac = e.execute("SELECT reclaimed FROM graft_table_vacuum(t, 0)").collect().head
    assert(vac.getInt(0) >= 1, s"vacuum report: $vac")
    val gone = intercept[SqlError](e.readTableAt("test1", "public", "t", 2L).count())
    assert(gone.getMessage.contains("vacuumed"))
    // the live head is untouched and still fully queryable
    assert(e.execute("SELECT id FROM t ORDER BY id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 3L, 4L))
    // default-retention vacuum is a safe no-op right after a compact
    e.execute("INSERT INTO t VALUES (5, 'v5')")
    e.execute("SELECT files_before, files_after FROM graft_table_compact(t)").collect()
    assert(e.execute("SELECT reclaimed FROM graft_table_vacuum(t)")
      .collect().head.getInt(0) == 0, "grace window must protect fresh parts")
    assert(e.execute("SELECT count(*) AS n FROM t").collect()(0).getLong(0) == 5L)
  }

  test("version fuzz: seeded INSERT/compact interleavings keep snapshots and deltas consistent") {
    // the versioned-table twin of the operators' compaction fuzz: a
    // FIXED-seed op sequence (multi-row INSERT commits interleaved with
    // table compactions), after EVERY op probing (a) the head, (b) a
    // random historical snapshot via readTableAt, (c) a random version
    // interval via readTableChanges — append-only intervals must replay
    // the exact delta, compaction-crossing intervals must raise (the
    // incremental-read-across-a-rewrite contract).
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigint PRIMARY KEY, v text)")
    val cat = e.catalog
    val rnd = new scala.util.Random(7)
    def idsAt(v: Long): Set[Long] =
      e.readTableAt("test1", "public", "t", v).collect().map(_.getLong(0)).toSet
    var cumulative = Vector[Set[Long]](Set.empty) // index == version
    var compactVersions = Set.empty[Long]
    var nextId = 0L
    (1 to 14).foreach { step =>
      if (rnd.nextInt(4) == 0) {
        val before = cat.currentVersion("test1", "public", "t")
        e.compactTable("test1", "public", "t")
        val after = cat.currentVersion("test1", "public", "t")
        if (after != before) { // single-part tables no-op without a publish
          cumulative :+= cumulative.last
          compactVersions += after
        }
      } else {
        val ids = (nextId until nextId + 1 + rnd.nextInt(3)).toSeq
        nextId = ids.last + 1
        e.execute(s"INSERT INTO t VALUES ${ids.map(i => s"($i, 'x$i')").mkString(", ")}")
        cumulative :+= cumulative.last ++ ids
      }
      val head = cat.currentVersion("test1", "public", "t")
      assert(head == cumulative.size - 1L, s"step $step: version drift")
      assert(idsAt(head) == cumulative.last, s"step $step: head diverged")
      val v = rnd.nextInt(cumulative.size).toLong
      assert(idsAt(v) == cumulative(v.toInt), s"step $step: snapshot $v diverged")
      val from = rnd.nextInt(cumulative.size).toLong
      if (from < head) {
        val crossesCompact = compactVersions.exists(cv => cv > from && cv <= head)
        if (crossesCompact)
          intercept[SqlError](
            e.readTableChanges("test1", "public", "t", from, head).collect())
        else {
          val delta = e.readTableChanges("test1", "public", "t", from, head)
            .collect().map(_.getLong(0)).toSet
          assert(delta == cumulative.last -- cumulative(from.toInt),
            s"step $step: delta ($from, $head] diverged")
        }
      }
    }
    assert(compactVersions.nonEmpty, "seed must exercise at least one compaction publish")
    // closing sweep: EVERY retained version replays its exact prefix
    (0L until cumulative.size.toLong).foreach { v =>
      assert(idsAt(v) == cumulative(v.toInt), s"final sweep: version $v diverged")
    }
    // and vacuum(0) expires superseded snapshots LOUDLY, head intact
    if (e.vacuumTable("test1", "public", "t", retentionMs = 0L) > 0) {
      val firstCompacted = compactVersions.min
      val gone = intercept[SqlError](idsAt(firstCompacted - 1L))
      assert(gone.getMessage.contains("vacuumed"))
    }
    assert(idsAt(cumulative.size - 1L) == cumulative.last, "head must survive vacuum")
  }

  test("time travel: each INSERT/compaction publish is a readable snapshot version") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigint PRIMARY KEY, v text)")
    val cat = e.catalog
    assert(cat.currentVersion("test1", "public", "t") == 0L)
    // version 0 = empty table at creation
    assert(e.readTableAt("test1", "public", "t", 0L).count() == 0L)

    e.execute("INSERT INTO t VALUES (1, 'a')")
    e.execute("INSERT INTO t VALUES (2, 'b'), (3, 'c')")
    e.execute("INSERT INTO t VALUES (4, 'd')")
    assert(cat.currentVersion("test1", "public", "t") == 3L)
    assert(e.readTableAt("test1", "public", "t", 1L).count() == 1L)
    assert(e.readTableAt("test1", "public", "t", 2L).count() == 3L)
    assert(e.readTableAt("test1", "public", "t", 3L).count() == 4L)

    // SQL surface: graft_at_version composes like any relation
    val atV2 = e.execute(
      "SELECT count(*) AS n FROM graft_at_version(t, 2)").collect()(0).getLong(0)
    assert(atV2 == 3L)
    // joins across versions: rows added AFTER v1
    val added = e.execute(
      "SELECT cur.id FROM t cur LEFT ANTI JOIN graft_at_version(t, 1) old ON cur.id = old.id " +
        "ORDER BY cur.id").collect().map(_.getLong(0)).toSeq
    assert(added == Seq(2L, 3L, 4L))

    // graft_at_time resolves the newest version published ≤ millis (the
    // reference's MVCC read rule): future time = head, epoch 0 = empty
    assert(e.execute(
      s"SELECT count(*) AS n FROM graft_at_time(t, ${System.currentTimeMillis() + 60000})")
      .collect()(0).getLong(0) == 4L)
    assert(e.execute("SELECT count(*) AS n FROM graft_at_time(t, 1)")
      .collect()(0).getLong(0) == 0L)

    // a compaction publish is one more version with the same rows; the
    // pre-compaction snapshot stays readable from its superseded files
    e.compactTable("test1", "public", "t")
    assert(cat.currentVersion("test1", "public", "t") == 4L)
    assert(e.readTableAt("test1", "public", "t", 4L).count() == 4L)
    assert(e.readTableAt("test1", "public", "t", 2L).count() == 3L)

    // out-of-range version: the engine's error shape, with the current head
    val err = intercept[SqlError](e.readTableAt("test1", "public", "t", 9L))
    assert(err.getMessage.contains("no version 9"))

    // vacuum with retention 0 reclaims the superseded files — old
    // versions now fail LOUDLY as vacuumed, never silently empty
    assert(e.vacuumTable("test1", "public", "t", retentionMs = 0L) >= 1)
    val gone = intercept[SqlError](e.readTableAt("test1", "public", "t", 2L).count())
    assert(gone.getMessage.contains("vacuumed"))
    // the live head is untouched
    assert(e.execute("SELECT count(*) AS n FROM t").collect()(0).getLong(0) == 4L)
    assert(e.readTableAt("test1", "public", "t", 4L).count() == 4L)
  }

  test("TVF composition: nesting, string arguments, and the round-9 text operators") {
    val e = freshEngine("tvf3")
    e.execute("CREATE DATABASE tvf3")
    e.execute("CREATE TABLE corpus (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO corpus (doc_id, text) VALUES " +
      "(1, 'the quick brown fox and the lazy dog'), " +
      "(2, 'the quick brown fox and the lazy dog'), " + // exact clone
      "(3, 'der hund und die katze sind nicht da'), " +
      "(4, 'we don''t want this don''t pattern here')")

    // ONE level of nesting: lang-ID (which preserves doc_id/text) feeding
    // exact dedup — the filter-then-enrich-then-dedup composition a SQL
    // user writes first; equals the DataFrame-API composition
    val nested = e.execute(
      "SELECT doc_id FROM graft_dedup_exact(graft_lang_id(corpus)) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val api = graft.operators.Dedup.exactDedup(
      graft.operators.TextAnalysis.langId(e.execute("SELECT doc_id, text FROM corpus")))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(nested == api && nested == Seq(1L, 3L, 4L))

    // nesting composes with the enriched columns too: predicted language
    // survives through an outer heuristic filter's input? (the outer
    // operator sees the inner's SCHEMA exactly as the DataFrame API does)
    val langs = e.execute(
      "SELECT doc_id, pred FROM graft_lang_id(corpus) ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en" && langs(3L) == "de")

    // a snapshot function nests as the INNER relation: dedup the table as
    // of an earlier version (doc 2's clone is already present at v1)
    val atV1 = e.execute(
      "SELECT doc_id FROM graft_dedup_exact(graft_at_version(corpus, 1)) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(atV1 == Seq(1L, 3L, 4L))

    // string arguments: redaction from pure SQL, PG ''-escape included —
    // the pattern arrives as DATA (matches the DataFrame API exactly)
    val red = e.execute(
      "SELECT doc_id, n_matches, redacted FROM graft_redact(corpus, 'don''t', '[x]') " +
        "WHERE doc_id = 4").collect()(0)
    val redApi = graft.operators.TextAnalysis
      .redact(e.execute("SELECT doc_id, text FROM corpus"), "don't", "[x]")
      .filter("doc_id = 4").collect()(0)
    assert(red.getLong(1) == 2L && red.getLong(1) == redApi.getLong(1))
    assert(red.getString(2) == redApi.getString(2) && red.getString(2).contains("[x]"))

    // string args on a function not declared to take them fall through to
    // Spark's unresolved-function error — never a silent rewrite
    assertThrows[Exception](e.execute("SELECT * FROM graft_dedup_exact(corpus, 'x')"))

    // the round-8 gaps: tfidf / repetition / lm_score now have SQL entry
    val tfidf = e.execute(
      "SELECT doc_id, token, tfidf FROM graft_tfidf(corpus, 2) ORDER BY doc_id, token")
      .collect()
    val tfidfApi = graft.operators.TextAnalysis
      .tfidfTerms(e.execute("SELECT doc_id, text FROM corpus"), 2)
      .orderBy("doc_id", "token").collect()
    assert(tfidf.map(_.toString).toSeq == tfidfApi.map(_.toString).toSeq && tfidf.nonEmpty)
    val rep = e.execute(
      "SELECT doc_id, dup_ratio, keep FROM graft_repetition(corpus) ORDER BY doc_id")
    assert(rep.count() == 4L)
    assert(e.execute("SELECT doc_id, nll, n_bigrams FROM graft_lm_score(corpus)").count() == 4L)
  }

  test("view functions: embedding-typed operators reachable from SQL via a registered view") {
    val e = freshEngine("tvf4")
    e.execute("CREATE DATABASE tvf4")
    import spark.implicits._
    // an embedding relation can NEVER live in a managed table (8 scalar
    // reference types only) — the escape hatch is a session temp view
    val base = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.05f)), (3L, Array(0.05f, 0.9f)))
    val emb = (base ++ base.map { case (id, v) => (id + 100L, v) }) // identical clones
      .toDF("vec_id", "embedding")
    emb.createOrReplaceTempView("emb_view")
    try {
      // SemDeDup from SQL == the DataFrame pipeline with the same
      // deterministic quantizer; identical clones (larger id) must prune
      val viaSql = e.execute(
        "SELECT vec_id FROM graft_semdedup('emb_view', 0.95, 2) ORDER BY vec_id")
        .collect().map(_.getLong(0)).toSeq
      val viaApi = graft.operators.Dedup.semDedup(
        graft.operators.Similarity.assignCells(emb,
          graft.operators.Similarity.trainQuantizer(emb, 2)), 0.95)
        .orderBy("vec_id").collect().map(r => r.getLong(r.fieldIndex("vec_id"))).toSeq
      assert(viaSql == viaApi)
      assert(viaSql.toSet.intersect(Set(100L, 101L, 102L, 103L)).isEmpty,
        s"identical clones must prune: $viaSql")

      // deterministic Lloyd from SQL == lloydAssign with the s06 seed rule
      // (first k vectors by vec_id)
      val kSql = e.execute(
        "SELECT vec_id, cluster FROM graft_kmeans('emb_view', 2, 2) ORDER BY vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val seeds = base.take(2).map(_._2.map(_.toDouble)).toArray
      val kApi = graft.operators.Similarity.lloydAssign(emb, seeds, 2)
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(kSql == kApi && kSql.size == 8)

      // seeded (sha-fold) quantizer from SQL == the DataFrame pipeline —
      // the fully deterministic gate spelling (s10/m06)
      val scSql = e.execute(
        "SELECT vec_id, cell FROM graft_seeded_cells('emb_view', 2) ORDER BY vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val scApi = graft.operators.Similarity.seededCells(emb, 2)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(r.fieldIndex("cell")))).toSeq
      assert(scSql == scApi && scSql.size == 8)
      val sdSql = e.execute(
        "SELECT vec_id FROM graft_semdedup_seeded('emb_view', 0.95, 2) ORDER BY vec_id")
        .collect().map(_.getLong(0)).toSeq
      val sdApi = graft.operators.Dedup.semDedup(
        graft.operators.Similarity.seededCells(emb, 2), 0.95)
        .orderBy("vec_id").collect().map(r => r.getLong(r.fieldIndex("vec_id"))).toSeq
      assert(sdSql == sdApi)
      assert(sdSql.toSet.intersect(Set(100L, 101L, 102L, 103L)).isEmpty,
        s"identical clones must prune under the seeded quantizer: $sdSql")

      // a missing view surfaces Spark's named resolution error, not a
      // silent rewrite
      assertThrows[Exception](e.execute("SELECT * FROM graft_semdedup('nope_view', 0.9)"))
    } finally spark.catalog.dropTempView("emb_view")
  }

  test("round-9 TVFs: scrub/vocab/embedding from tables, two-view embed admit") {
    val e = freshEngine("tvf5")
    e.execute("CREATE DATABASE tvf5")
    e.execute("CREATE TABLE corpus (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO corpus VALUES " +
      "(1, 'a b c d e f g h x y'), (2, 'a b c d p q r s'), (3, 'fresh words only here')")
    // passage scrub: doc 2's first 8 tokens? width defaults to 8 — use 4
    val scrub = e.execute(
      "SELECT doc_id, n_removed, text_clean FROM graft_passage_scrub(corpus, 4) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(scrub(1) == ((2L, 1L, "p q r s")), s"got ${scrub.toSeq}")
    val apiScrub = graft.operators.Dedup.passageScrub(
      e.execute("SELECT doc_id, text FROM corpus"), 4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(scrub.toSeq == apiScrub.toSeq)
    // vocabulary head composes with WHERE from plain SQL
    val voc = e.execute(
      "SELECT rank, token, tf FROM graft_vocabulary(corpus, 5) WHERE tf > 1 ORDER BY rank")
      .collect()
    assert(voc.nonEmpty && voc.forall(_.getLong(2) > 1))
    // hashed embedding long form from SQL == the DataFrame API
    val hSql = e.execute(
      "SELECT doc_id, bucket, weight FROM graft_hashed_embedding(corpus, 8) ORDER BY doc_id, bucket")
      .collect().map(_.toString).toSeq
    val hApi = graft.operators.Similarity.hashedEmbedding(
      e.execute("SELECT doc_id, text FROM corpus"), 8)
      .orderBy("doc_id", "bucket").collect().map(_.toString).toSeq
    assert(hSql == hApi && hSql.nonEmpty)
    // contamination fraction (two managed relations)
    e.execute("CREATE TABLE bench (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO bench VALUES (90, 'a b c d')")
    val cf = e.execute(
      "SELECT doc_id, hit_frac, keep FROM graft_contamination_frac(corpus, bench, 0.2) " +
        "ORDER BY doc_id").collect().map(r => (r.getLong(0), r.getInt(2)))
    // doc 1 shares abc+bcd = 2/8 ≥ 0.2 → flagged; doc 3 clean
    assert(cf.length == 3 && cf(0)._2 == 0 && cf(2)._2 == 1)
    // two-VIEW escape hatch: embedding admit from SQL == the DataFrame API
    import spark.implicits._
    val hist = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val inc = Seq((20L, Array(1.0f, 0.01f)), (21L, Array(0.5f, -0.5f)))
      .toDF("vec_id", "embedding")
    hist.createOrReplaceTempView("hist_view")
    inc.createOrReplaceTempView("inc_view")
    try {
      val aSql = e.execute(
        "SELECT vec_id, cell FROM graft_embed_admit('inc_view', 'hist_view', 0.9, 2) ORDER BY vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      // 20 is a near-clone of history 10 (cos≈1) → rejected; 21 is novel
      assert(aSql.map(_._1) == Seq(21L), s"got $aSql")
      val seeds = Array(Array(1.0, 0.0), Array(0.0, 1.0))
      val aApi = graft.operators.Similarity.incrementalEmbedAdmit(
        inc, graft.operators.Similarity.cellIndex(hist, seeds), seeds, 0.9)
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(aSql == aApi)
    } finally {
      spark.catalog.dropTempView("hist_view")
      spark.catalog.dropTempView("inc_view")
    }
  }

  test("round-10 TVFs: span stats, pattern audit (default + custom), z-order, text semdedup") {
    val e = freshEngine("tvf6")
    e.execute("CREATE DATABASE tvf6")
    e.execute("CREATE TABLE corpus (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO corpus VALUES " +
      "(1, 'a b c d e f g h'), (2, 'a b c d x y z w'), (3, 'call 555-123-4567 or mail a@b.co')")
    def api = e.execute("SELECT doc_id, text FROM corpus")

    // d12 span stats from SQL == the DataFrame API
    val spSql = e.execute(
      "SELECT doc_id, n_spans, n_dup, dup_frac, keep FROM graft_span_stats(corpus, 4) " +
        "ORDER BY doc_id").collect().map(_.toString).toSeq
    val spApi = graft.operators.Dedup.spanStats(api, 4)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(spSql == spApi && spSql.size == 3)

    // t15 pattern audit: DEFAULT battery (no string args)...
    val paSql = e.execute(
      "SELECT doc_id, emails, phones, has_pii FROM graft_pattern_audit(corpus) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(paSql(2) == ((3L, 1L, 1L, 1)) && paSql(0)._4 == 0, s"got ${paSql.toSeq}")
    // ...and a CUSTOM ('name', 'regex') battery, quote-escape included
    val cuSql = e.execute(
      "SELECT doc_id, digits, has_pii FROM graft_pattern_audit(corpus, 'digits', '[0-9]+') " +
        "ORDER BY doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cuApi = graft.operators.TextAnalysis.patternAudit(api, Seq("digits" -> "[0-9]+"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cuSql.toSeq == cuApi.toSeq && cuSql(2)._2 == 3L)

    // p18 z-order layout from SQL (string column-name args + numeric
    // rowsPerFile) == the DataFrame API
    e.execute("CREATE TABLE pts (id bigint PRIMARY KEY, a bigint, b bigint)")
    e.execute("INSERT INTO pts VALUES " +
      (0 until 40).map(i => s"($i, ${i % 7}, ${i * 3 % 11})").mkString(", "))
    val zSql = e.execute(
      "SELECT id, a, b, zval, file_id FROM graft_zorder(pts, 'id', 'a', 'b', 8) " +
        "ORDER BY id").collect().map(_.toString).toSeq
    val zApi = graft.operators.Packing.zorderFiles(
      e.execute("SELECT id, a, b FROM pts"), "id", "a", "b", rowsPerFile = 8L)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(zSql == zApi && zSql.size == 40)

    // 128-bit wide-band simhash pairs from SQL == the DataFrame API
    val shSql = e.execute(
      "SELECT id_a, id_b, hamming FROM graft_simhash128_pairs(corpus) ORDER BY id_a, id_b")
      .collect().map(_.toString).toSeq
    val shApi = graft.operators.Dedup.simhashPairs128(api)
      .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
    assert(shSql == shApi)

    // s10 capstone behind one SQL call: clone of doc 1 must prune, and
    // the result matches the same composition through the DataFrame API
    e.execute("INSERT INTO corpus VALUES (101, 'a b c d e f g h')")
    val tsSql = e.execute(
      "SELECT doc_id, cell FROM graft_text_semdedup(corpus) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(tsSql.map(_._1).contains(1L) && !tsSql.map(_._1).contains(101L),
      s"identical clone must prune to the min id: $tsSql")
    val vecs = graft.operators.Similarity.hashedEmbeddingVec(api, 16)
    // same cell sizing as the TVF: sqrt(n) floored at 8, capped by the
    // distinct-vector count (k-means k > distinct points is invalid)
    val cells = math.max(8, math.sqrt(vecs.count().toDouble).toInt.min(1024))
      .min(math.max(1L, vecs.select("embedding").distinct().count()).toInt)
    val tsApi = graft.operators.Dedup.semDedup(
      graft.operators.Similarity.assignCells(vecs,
        graft.operators.Similarity.trainQuantizer(vecs, cells)), 0.95)
      .select(org.apache.spark.sql.functions.col("vec_id").as("doc_id"),
        org.apache.spark.sql.functions.col("cell"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(tsSql == tsApi)

    // perceptual media near-dup over a bytea payload table: permuted
    // bytes pair at sim 1.0 from pure SQL
    e.execute("CREATE TABLE assets (doc_id bigint PRIMARY KEY, format text, payload bytea)")
    e.execute("INSERT INTO assets VALUES " +
      "(1, 'png', CAST('hello world abc' AS BINARY)), " +
      "(2, 'png', CAST('cba dlrow olleh' AS BINARY)), " +
      "(3, 'png', CAST('0123 456789 !!! ### 0123456789' AS BINARY))")
    val mnSql = e.execute(
      "SELECT id_a, id_b, sim FROM graft_media_neardup(assets) ORDER BY id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(mnSql == Seq((1L, 2L, 1.0)), s"got $mnSql")

    // BPE: merge training and train-then-encode from pure SQL
    val bpSql = e.execute(
      "SELECT rank, a, b, freq FROM graft_bpe_merges(corpus, 3) ORDER BY rank")
      .collect().map(_.toString).toSeq
    val bpApi = graft.operators.TextAnalysis.bpeMerges(api, 3)
      .orderBy("rank").collect().map(_.toString).toSeq
    assert(bpSql == bpApi && bpSql.size == 3)
    val beSql = e.execute(
      "SELECT doc_id, n_words, n_tokens, fertility FROM graft_bpe_encode(corpus, 3) " +
        "ORDER BY doc_id").collect().map(_.toString).toSeq
    val beTable = graft.operators.TextAnalysis.bpeMerges(api, 3)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val beApi = graft.operators.TextAnalysis.bpeEncode(api, beTable)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(beSql == beApi && beSql.size == 4)
    // corpus diversity from SQL: one row per order, monotone gram counts
    val divSql = e.execute(
      "SELECT n, total_ngrams, distinct_ngrams FROM graft_corpus_diversity(corpus, 2) ORDER BY n")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(divSql.map(_._1) == Seq(1, 2) && divSql(0)._2 > divSql(1)._2,
      s"n-gram totals must fall with order: $divSql")

    // token STREAM: per-doc token counts must agree with the encode
    // stats, and the two-relation spelling (persisted merge table over a
    // different corpus) must equal the API path
    val tokCounts = e.execute(
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM graft_bpe_tokens(corpus, 3) " +
        "GROUP BY doc_id ORDER BY doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val encStats = e.execute(
      "SELECT doc_id, n_tokens FROM graft_bpe_encode(corpus, 3) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tokCounts == encStats, s"token stream counts diverge from encode: $tokCounts vs $encStats")

    // production-depth spelling: the capped-census driver trainer must
    // agree with the distributed trainer at the same k, and accept a
    // vocabCap arg; merges past exhaustion return the fixed point
    val btSql = e.execute(
      "SELECT rank, a, b, freq FROM graft_bpe_train(corpus, 3) ORDER BY rank")
      .collect().map(_.toString).toSeq
    assert(btSql == bpApi, s"got $btSql vs $bpApi")
    val btDeep = e.execute(
      "SELECT rank, a, b, freq FROM graft_bpe_train(corpus, 500, 65536) ORDER BY rank")
      .collect().map(_.toString).toSeq
    assert(btDeep.take(3) == bpApi && btDeep.size < 500)

    // two-relation form: a merge table TRAINED on corpus A encodes a
    // DIFFERENT corpus B — the portable-tokenizer path. Nested spelling
    // (train inline) and a persisted merge table must both bind, and a
    // numeric second arg must still dispatch to the train-then-encode form.
    e.execute("CREATE TABLE corpus_b (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO corpus_b VALUES (1, 'aaab aab'), (2, 'xyz aaab')")
    val be2Sql = e.execute(
      "SELECT doc_id, n_words, n_tokens, fertility FROM " +
        "graft_bpe_encode(corpus_b, graft_bpe_merges(corpus, 3)) ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    val apiB = e.execute("SELECT doc_id, text FROM corpus_b")
    val be2Api = graft.operators.TextAnalysis.bpeEncode(apiB, beTable)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(be2Sql == be2Api && be2Sql.size == 2, s"got $be2Sql vs $be2Api")
    e.execute("CREATE TABLE merges_b (rank bigint PRIMARY KEY, a text, b text)")
    beTable.zipWithIndex.foreach { case ((a, b), i) =>
      e.execute(s"INSERT INTO merges_b VALUES (${i + 1}, '$a', '$b')")
    }
    val be3Sql = e.execute(
      "SELECT doc_id, n_words, n_tokens, fertility FROM " +
        "graft_bpe_encode(corpus_b, merges_b) ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    assert(be3Sql == be2Api, s"persisted merge table must bind: $be3Sql")
    // portable-tokenizer flow at production depth: a driver-trained merge
    // table nests into the two-relation encode
    val be4Sql = e.execute(
      "SELECT doc_id, n_words, n_tokens, fertility FROM " +
        "graft_bpe_encode(corpus_b, graft_bpe_train(corpus, 3)) ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    assert(be4Sql == be2Api, s"nested graft_bpe_train must bind: $be4Sql")

    // k-NN label propagation through the two-view escape hatch
    import spark.implicits._
    val lab = Seq((10L, Array(1.0f, 0.0f), 7), (11L, Array(0.0f, 1.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val unl = Seq((1L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    lab.createOrReplaceTempView("lab_view")
    unl.createOrReplaceTempView("unl_view")
    try {
      val kSql = e.execute(
        "SELECT query_id, pred_label, votes FROM graft_knn_label('lab_view', 'unl_view', 1)")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(kSql == Seq((1L, 7, 1L)), s"got $kSql")
    } finally {
      spark.catalog.dropTempView("lab_view")
      spark.catalog.dropTempView("unl_view")
    }

    // product-quantization ANN through the same two-view seam
    val pqBase = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val pqQ = Seq((10L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    pqBase.createOrReplaceTempView("pq_base_view")
    pqQ.createOrReplaceTempView("pq_q_view")
    try {
      val pSql = e.execute(
        "SELECT query_id, vec_id, rank FROM graft_pq_topk('pq_base_view', 'pq_q_view', 2, 1, 2) " +
          "ORDER BY rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val pApi = graft.operators.Similarity.pqTopK(pqBase,
        pqQ.select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("embedding").as("q_emb")),
        graft.operators.Similarity.pqTrain(pqBase, m = 1, k = 2), 2)
        .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
      assert(pSql == pApi && pSql.size == 2, s"got $pSql vs $pApi")
      // IVF-ADC through the same seam: (k, nprobe, cells, m, ksub)
      val iSql = e.execute(
        "SELECT query_id, vec_id, rank FROM graft_ivfpq_topk('pq_base_view', 'pq_q_view', 2, 2, 2, 1, 2) " +
          "ORDER BY rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val (ikm, ipq) = graft.operators.Similarity.ivfPqTrain(pqBase, cells = 2, m = 1, k = 2)
      val iApi = graft.operators.Similarity.ivfPqTopK(pqBase,
        pqQ.select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("embedding").as("q_emb")),
        ikm, ipq, 2, nprobe = 2)
        .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
      assert(iSql == iApi && iSql.nonEmpty, s"got $iSql vs $iApi")
      // two-stage rerank through the same seam: (k, shortlist, m, ksub,
      // excludeSelf) — 0 shortlist means the 4k default; the trailing 0
      // exercises the excludeSelf=false spelling
      val rSql = e.execute(
        "SELECT query_id, vec_id, rank FROM graft_pq_rerank('pq_base_view', 'pq_q_view', 2, 3, 1, 2, 0) " +
          "ORDER BY rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val rApi = graft.operators.Similarity.pqTopKReranked(pqBase,
        pqQ.select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("embedding").as("q_emb")),
        graft.operators.Similarity.pqTrain(pqBase, m = 1, k = 2), 2,
        shortlist = 3, excludeSelf = false)
        .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
      assert(rSql == rApi && rSql.size == 2, s"got $rSql vs $rApi")
    } finally {
      spark.catalog.dropTempView("pq_base_view")
      spark.catalog.dropTempView("pq_q_view")
    }

    // winnowed-fingerprint pairs from SQL == the DataFrame API
    val wSql = e.execute(
      "SELECT id_a, id_b, shared FROM graft_winnow_pairs(corpus, 2, 2, 1, 64) " +
        "ORDER BY id_a, id_b").collect().map(_.toString).toSeq
    val wApi = graft.operators.Dedup.winnowedPairs(api, 2, 2, 1, 64)
      .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
    assert(wSql == wApi, s"got $wSql vs $wApi")

    // the string-arg spelling selects the deployment hash
    val wXx = e.execute(
      "SELECT id_a, id_b, shared FROM graft_winnow_pairs(corpus, 'xxhash64', 2, 2, 1, 64) " +
        "ORDER BY id_a, id_b").collect().map(_.toString).toSeq
    val wXxApi = graft.operators.Dedup.winnowedPairs(api, 2, 2, 1, 64, "xxhash64")
      .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
    assert(wXx == wXxApi, s"got $wXx vs $wXxApi")
  }

  test("persisted-artifact TVFs: ivfpq build+query and winnow index+admit flows") {
    import spark.implicits._
    val e = freshEngine("arts")
    e.execute("CREATE DATABASE arts")
    // --- IVF-ADC: build persists, a SEPARATE statement queries the files
    val base = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val q = Seq((10L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    base.createOrReplaceTempView("art_base_view")
    q.createOrReplaceTempView("art_q_view")
    try withScratch("graft-art-idx-") { case Seq(path) =>
      val rep = e.execute("SELECT n_vectors, cells FROM graft_ivfpq_build(" +
        s"'art_base_view', '$path', 2, 1, 2)").collect()
      assert(rep.length == 1 && rep.head.getLong(0) == 4L, s"build report: ${rep.toSeq}")
      val viaSql = e.execute("SELECT query_id, vec_id, rank FROM graft_ivfpq_query(" +
        s"'$path', 'art_q_view', 2, 2) ORDER BY rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val (km, pq) = graft.operators.Similarity.ivfPqTrain(base, cells = 2, m = 1, k = 2)
      val api = graft.operators.Similarity.ivfPqTopK(base,
        q.select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("embedding").as("q_emb")),
        km, pq, 2, nprobe = 2)
        .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
      assert(viaSql == api && viaSql.size == 2, s"got $viaSql vs $api")
      // MAINTENANCE: append an increment encoded with the STORED model
      // (no retraining); an exact clone of the query vector shares the
      // best ADC code with base vec 1 (tie → smaller id first), so the
      // next query from the same artifacts must read (1, then 20)
      Seq((20L, Array(1.0f, 0.05f)), (21L, Array(0.05f, 1.0f)))
        .toDF("vec_id", "embedding").createOrReplaceTempView("art_inc_view")
      val arep = e.execute(
        s"SELECT n_appended, n_total FROM graft_ivfpq_append('art_inc_view', '$path')")
        .collect()
      assert(arep.length == 1 && arep.head.getLong(0) == 2L && arep.head.getLong(1) == 6L,
        s"append report: ${arep.toSeq}")
      val after = e.execute("SELECT query_id, vec_id, rank FROM graft_ivfpq_query(" +
        s"'$path', 'art_q_view', 2, 2) ORDER BY rank")
        .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
      assert(after == Seq((1L, 1), (20L, 2)),
        s"appended clone must tie the best code and follow vec 1: $after")
      spark.catalog.dropTempView("art_inc_view")
    } finally {
      spark.catalog.dropTempView("art_base_view")
      spark.catalog.dropTempView("art_q_view")
    }
    // --- embed admission artifacts: build persists cells + centroids,
    // a separate statement admits with no history rescan; result equals
    // the library's in-call flow on the same relations
    val ehist = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    // 10 clones history vec 1 (reject), 11 is novel, 12/13 are an
    // in-increment clone pair (min id 12 admitted)
    val einc = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(-1.0f, 0.2f)),
      (12L, Array(-0.6f, -0.8f)), (13L, Array(-0.6f, -0.8f)))
      .toDF("vec_id", "embedding")
    ehist.createOrReplaceTempView("eh_view")
    einc.createOrReplaceTempView("ei_view")
    try withScratch("graft-art-embed-") { case Seq(epath) =>
      val erep = e.execute(
        s"SELECT n_vectors, cells FROM graft_embed_build('eh_view', '$epath', 3)").collect()
      assert(erep.head.getLong(0) == 3L && erep.head.getInt(1) == 3, s"${erep.toSeq}")
      val eAdm = e.execute(
        s"SELECT vec_id FROM graft_embed_admit_index('$epath', 'ei_view', 0.9) ORDER BY vec_id")
        .collect().map(_.getLong(0)).toSeq
      val seeds = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(0.7, 0.7))
      val eApi = graft.operators.Similarity.incrementalEmbedAdmit(
        einc, graft.operators.Similarity.cellIndex(ehist, seeds), seeds, 0.9)
        .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
      assert(eAdm == eApi && eAdm == Seq(11L, 12L),
        s"artifact admission: $eAdm vs library $eApi")
      // the INGEST LOOP: admit-append writes batch-1 admissions back, so
      // a later batch's clone of ADMITTED vec 11 must reject (without
      // the write-back, cell 1 holds only (0,1) and the clone would
      // admit at cos 0.196) while a genuinely novel vector still admits
      val eApp = e.execute(
        s"SELECT vec_id FROM graft_embed_admit_append('$epath', 'ei_view', 0.9)")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(eApp == Seq(11L, 12L), s"admit-append admissions: $eApp")
      Seq((20L, Array(-1.0f, 0.2f)), (21L, Array(0.8f, -0.6f)))
        .toDF("vec_id", "embedding").createOrReplaceTempView("ei2_view")
      val eAdm2 = e.execute(
        s"SELECT vec_id FROM graft_embed_admit_index('$epath', 'ei2_view', 0.9) ORDER BY vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(eAdm2 == Seq(21L),
        s"clone of an appended admission must reject through the write-back: $eAdm2")
    } finally {
      spark.catalog.dropTempView("eh_view")
      spark.catalog.dropTempView("ei_view")
      spark.catalog.dropTempView("ei2_view")
    }

    // --- winnow: the index materializes into a managed table once; the
    // admit probe dispatches on the (doc_id, fp) shape and rebuilds nothing
    e.execute("CREATE TABLE whist (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO whist VALUES (1, 'alpha beta gamma delta'), " +
      "(2, 'epsilon zeta eta theta')")
    e.execute("CREATE TABLE winc (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO winc VALUES (10, 'alpha beta gamma delta'), " +
      "(11, 'totally novel content here')")
    e.execute("CREATE TABLE widx (doc_id bigint, fp bigint, PRIMARY KEY (doc_id, fp))")
    e.execute("INSERT INTO widx SELECT doc_id, fp FROM graft_winnow_index(whist, 2, 2, 64)")
    // the artifact equals the library's index relation
    val idxSql = e.execute("SELECT doc_id, fp FROM widx ORDER BY doc_id, fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val idxApi = graft.operators.Dedup.winnowedIndex(
      Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
        .toDF("doc_id", "text"), 2, 2, 64)
      .select("doc_id", "fp") // the index relation leads with the fp join key
      .orderBy("doc_id", "fp").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(idxSql == idxApi && idxSql.nonEmpty, s"got $idxSql vs $idxApi")
    // probe against the PREBUILT table: clone rejected, novel admitted
    val admitted = e.execute(
      "SELECT doc_id FROM graft_winnow_admit(winc, widx, 2, 2, 1) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(admitted == Seq(11L), s"clone 10 must be rejected via the artifact: $admitted")
    // the history-corpus spelling (second relation carries text) still works
    val admitted2 = e.execute(
      "SELECT doc_id FROM graft_winnow_admit(winc, whist, 2, 2, 1) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(admitted2 == Seq(11L), s"in-call index spelling regressed: $admitted2")
    // a corpus that HAPPENS to carry an fp column must not be silently
    // probed as the index — ambiguous shape fails loudly
    e.execute("CREATE TABLE whist_fp (doc_id bigint PRIMARY KEY, text text, fp bigint)")
    e.execute("INSERT INTO whist_fp VALUES (1, 'alpha beta gamma delta', 42)")
    val amb = intercept[SqlError](
      e.execute("SELECT doc_id FROM graft_winnow_admit(winc, whist_fp, 2, 2, 1)"))
    assert(amb.getMessage.contains("BOTH fp and text"), amb.getMessage)

    // --- the winnow INGEST LOOP composes from existing statements (the
    // s21 semantics with no dedicated operator): admitted batch-1 docs'
    // fingerprints INSERT back into the index table, so batch 2's clone
    // of a batch-1 ADMISSION rejects with no rebuild
    e.execute("CREATE TABLE winc1_adm (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO winc1_adm SELECT w.doc_id, w.text FROM winc w " +
      "JOIN graft_winnow_admit(winc, widx, 2, 2, 1) a ON w.doc_id = a.doc_id")
    e.execute("INSERT INTO widx SELECT doc_id, fp FROM graft_winnow_index(winc1_adm, 2, 2, 64)")
    e.execute("CREATE TABLE winc2 (doc_id bigint PRIMARY KEY, text text)")
    // 20 clones ADMITTED doc 11 (rejectable only through the write-back);
    // 21 is novel
    e.execute("INSERT INTO winc2 VALUES (20, 'totally novel content here'), " +
      "(21, 'unrelated fresh words appear')")
    val admitted3 = e.execute(
      "SELECT doc_id FROM graft_winnow_admit(winc2, widx, 2, 2, 1) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(admitted3 == Seq(21L),
      s"clone of an ingested batch-1 admission must reject: $admitted3")
  }

  test("graft_bpe_ids two-relation spelling: foreign tokens map to the UNK id = |vocab|") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE traind (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO traind VALUES (1, 'ab ab b')")
    e.execute("CREATE TABLE ford (doc_id bigint PRIMARY KEY, text text)")
    e.execute("INSERT INTO ford VALUES (1, 'ab z¤')")
    // k=1 on 'ab ab b': the only pair (a,b) freq 2 -> merge "ab";
    // vocab = [a=0, b=1, ab=2], |vocab| = 3 = UNK. Foreign 'ab' -> id 2;
    // 'z¤' -> tokens 'z' and '¤', BOTH outside the training alphabet -> 3
    val rows = e.execute(
      "SELECT word_idx, tok_idx, token_id FROM graft_bpe_ids(ford, traind, 1) " +
        "ORDER BY word_idx, tok_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 1L, 2L), (2L, 1L, 3L), (2L, 2L, 3L)), s"got $rows")
    // the one-table spelling still trains on its own input (dual-map
    // dispatch on the second argument's shape)
    val own = e.execute(
      "SELECT token_id FROM graft_bpe_ids(traind, 1) ORDER BY word_idx, tok_idx")
      .collect().map(_.getLong(0)).toSeq
    assert(own == Seq(2L, 2L, 1L), s"one-table dispatch regressed: $own")
    // the packed tape under the same frozen tokenizer: ids [2, 3, 3]
    // concatenated and cut at budget=2 — UNK tokens keep tape positions
    val packed = e.execute(
      "SELECT seq, seq_pos, token_id FROM graft_pack_ids(ford, traind, 2, 1) " +
        "ORDER BY seq, seq_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(packed == Seq((0L, 0L, 2L), (0L, 1L, 3L), (1L, 0L, 3L)),
      s"frozen-tokenizer packed tape: $packed")
  }

  test("resumable change feed: a consumer crosses a compaction with no loss and no dupes") {
    val e = freshEngine()
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigint PRIMARY KEY, v bigint)")
    e.execute("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)") // v1
    e.execute("INSERT INTO t VALUES (4, 40), (5, 50), (6, 60)") // v2

    // consumer processes (0, 2] via the fast path and records its keys
    val consumedRows = e.readTableChangesResumable("test1", "public", "t",
      0L, 2L, spark.sql("SELECT CAST(NULL AS BIGINT) AS id").limit(0), Seq("id"))
    // (an empty consumed set: the fast path never evaluates it)
    assert(consumedRows.count() == 6L)
    val consumed = e.readTable("test1", "public", "t").select("id").filter("id <= 6")

    // auto-compaction (here: explicit) publishes v3 as a REWRITE, then
    // more data arrives as v4
    e.compactTable("test1", "public", "t")
    e.execute("INSERT INTO t VALUES (7, 70), (8, 80), (9, 90)") // v4

    // the raw incremental read across the rewrite raises by design...
    val err = intercept[SqlError](
      e.readTableChanges("test1", "public", "t", 2L, 4L).count())
    assert(err.getMessage.contains("compaction"))

    // ...and the resumable read recovers: snapshot at v4 minus consumed
    val resumed = e.readTableChangesResumable("test1", "public", "t",
      2L, 4L, consumed, Seq("id"))
    assert(resumed.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L, 9L))

    // exactly-once overall: consumed ∪ resumed == the full table, disjoint
    val all = consumed.select("id")
      .unionByName(resumed.select("id")).collect().map(_.getLong(0)).toSeq
    assert(all.sorted == (1L to 9L).toSeq && all.distinct.size == all.size)

    // an expired/vacuumed interval recovers through the SAME path (the
    // consumer's key set is re-derived from ITS OWN store — the pinned
    // pre-compaction plan would reference reclaimed files)
    e.vacuumTable("test1", "public", "t", retentionMs = 0L)
    val consumedLive = e.readTable("test1", "public", "t").select("id").filter("id <= 6")
    val afterVacuum = e.readTableChangesResumable("test1", "public", "t",
      2L, 4L, consumedLive, Seq("id"))
    assert(afterVacuum.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L, 9L))
  }

  test("resumable change feed: capped-history EXPIRY routes to the same snapshot fallback") {
    // the OTHER incremental-read failure cause: no compaction anywhere —
    // the consumer's fromV simply aged out of the capped version history.
    // Both causes raise SqlError.Unexpected and both must recover through
    // snapshot ⊖ consumed (the fallback is cause-agnostic by design).
    val wh = scratchDir("graft-wh-")
    val e = new SqlEngine(spark, new Catalog(wh, maxVersionHistory = 3),
      SqlContext("test1", "user1"))
    e.execute("CREATE DATABASE test1")
    e.execute("CREATE TABLE t (id bigint PRIMARY KEY)")
    (1 to 5).foreach(i => e.execute(s"INSERT INTO t VALUES ($i)")) // v1..v5; retained: v3..v5

    // the raw incremental read from the expired fromV fails LOUDLY with
    // the expiry cause (append-only history — no compaction in sight)
    val err = intercept[SqlError](
      e.readTableChanges("test1", "public", "t", 1L, 5L).count())
    assert(err.getMessage.contains("expired"), s"got: ${err.getMessage}")

    // consumer had processed (0, 1] = {1}; the resumable read recovers
    // exactly the unseen rows — no loss, no dupes
    val consumed = spark.sql("SELECT CAST(1 AS BIGINT) AS id")
    val resumed = e.readTableChangesResumable("test1", "public", "t",
      1L, 5L, consumed, Seq("id"))
    assert(resumed.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L))
  }

  test("round-9b TVFs: chunk windows, source diagnostics, edit pairs from pure SQL") {
    val e = freshEngine("tvf6")
    e.execute("CREATE DATABASE tvf6")
    e.execute("CREATE TABLE corpus (doc_id bigint PRIMARY KEY, text text, source text)")
    e.execute("INSERT INTO corpus VALUES " +
      "(1, 'the quick brown fox jumps over the lazy dog today', 'web'), " +
      "(2, 'the quick brown fox jumps over the lazy dog tonight', 'books'), " +
      "(3, 'completely different content with no overlap at all', 'web')")
    // chunk windows from SQL == the DataFrame API, including the hash
    val cw = e.execute(
      "SELECT doc_id, chunk_idx, start_tok, n_toks, chunk_hash " +
        "FROM graft_chunk_windows(corpus, 4, 2) ORDER BY doc_id, chunk_idx")
      .collect().map(_.toString).toSeq
    val cwApi = graft.operators.Packing.chunkWindows(
      e.execute("SELECT doc_id, text FROM corpus"), 4, 2)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toString).toSeq
    assert(cw == cwApi && cw.nonEmpty)
    // docs 1/2 are near-dups straddling web/books; doc 3 is clean
    val rep = e.execute(
      "SELECT source, n_docs, n_dup FROM graft_dup_report(corpus, 0.4) ORDER BY source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rep == Seq(("books", 1L, 1L), ("web", 2L, 1L)), s"got $rep")
    val xs = e.execute(
      "SELECT source_a, source_b, n_pairs FROM graft_cross_source(corpus, 0.4) " +
        "ORDER BY source_a").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(xs == Seq(("books", "web", 1L)), s"got $xs")
    // edit verify: one small char-level edit between docs 1 and 2
    val ep = e.execute(
      "SELECT id_a, id_b, lev FROM graft_edit_pairs(corpus, 0.8, 0.2, 128) ORDER BY id_a")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ep.map(p => (p._1, p._2)) == Seq((1L, 2L)) &&
      ep.head._3 >= 1L && ep.head._3 <= 10L, s"got $ep")
  }

  test("round-9c TVFs: corpus card, mixture weights, diverse top-k from pure SQL") {
    val e = freshEngine("tvf7")
    e.execute("CREATE DATABASE tvf7")
    e.execute("CREATE TABLE docs (doc_id bigint PRIMARY KEY, text text, source text, lang text)")
    e.execute("INSERT INTO docs VALUES " +
      "(1, 'one two three', 'web', 'en'), " +
      "(2, 'four five six seven', 'web', 'en'), " +
      "(3, 'acht neun', 'web', 'de'), " +
      "(4, 'zehn', 'books', 'de')")
    val card = e.execute(
      "SELECT source, lang, n_docs, n_tokens, mean_tokens, var_tokens " +
        "FROM graft_corpus_card(docs) ORDER BY source, lang")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(card == Seq(
      ("books", "de", 1L, 1L, 1.0, 0.0),
      ("web", "de", 1L, 2L, 2.0, 0.0),
      ("web", "en", 2L, 7L, 3.5, 0.5)), s"got $card")
    val mix = e.execute(
      "SELECT lang, n_tokens, target_tokens FROM graft_mixture_weights(docs, 1.0, 1000) " +
        "ORDER BY lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // alpha=1: proportional split of 1000 tokens over 7 en / 3 de
    assert(mix == Seq(("de", 3L, 300L), ("en", 7L, 700L)), s"got $mix")
    // diverse top-3 over (id, cell, score) spelled as a plain projection
    e.execute("CREATE TABLE scored (id bigint PRIMARY KEY, cell bigint, score double precision)")
    e.execute("INSERT INTO scored VALUES (1, 0, 0.9), (2, 0, 0.8), (3, 1, 0.1), (4, 1, 0.05)")
    val top = e.execute(
      "SELECT id, pick_rank FROM graft_diverse_topk(scored, 3) ORDER BY pick_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // round-robin: both cells' rank-1 first (by score), then cell 0's rank-2
    assert(top == Seq((1L, 1L), (3L, 2L), (2L, 3L)), s"got $top")
  }
}
