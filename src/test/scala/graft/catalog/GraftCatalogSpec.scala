package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.{SuiteScratch, TestSession}
import graft.engine.{Catalog, SqlContext, SqlEngine, SqlError}

/** The DSv2 plugin resolves engine tables through plain `spark.sql` with
  * no temp views, across databases, keeping writes on the engine's INSERT
  * pipeline. */
class GraftCatalogSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  private lazy val wh = scratchDir("graft-v2-wh-")
  private lazy val engine: SqlEngine = {
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("db1", "u"))
    e.execute("CREATE DATABASE db1")
    e.execute("CREATE DATABASE db2")
    e.execute("CREATE TABLE t1 (id serial PRIMARY KEY, v text, n bigint)")
    e.execute("INSERT INTO t1 (v, n) VALUES ('a', 10), ('b', 20), ('c', 30)")
    e.execute("CREATE TABLE db2.public.t2 (k int PRIMARY KEY, w text)")
    e.execute("INSERT INTO db2.public.t2 VALUES (1, 'x'), (2, 'y')")
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    e
  }

  test("plain spark.sql resolves graft.db.table and graft.db.schema.table") {
    engine
    val r = spark.sql("SELECT id, v FROM graft.db1.t1 ORDER BY id").collect()
    assert(r.map(x => (x.getInt(0), x.getString(1))).toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(spark.sql("SELECT count(*) AS n FROM graft.db1.public.t1").collect()(0).getLong(0) == 3L)
    // cross-database join in ONE statement, no engine session involved
    val j = spark.sql(
      "SELECT t1.v, t2.w FROM graft.db1.t1 t1 JOIN graft.db2.public.t2 t2 ON t1.id = t2.k " +
        "ORDER BY t1.id").collect()
    assert(j.map(x => (x.getString(0), x.getString(1))).toSeq == Seq(("a", "x"), ("b", "y")))
  }

  test("filter pushdown reaches the parquet scan through the plugin") {
    engine
    val plan = spark.sql("SELECT v FROM graft.db1.t1 WHERE n > 15")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(n,15)"),
      s"the n > 15 predicate must reach the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("id:"),
      "column pruning must drop unreferenced columns")
  }

  test("nonexistent schema raises Spark's namespace error, not an engine exception") {
    engine
    val err = intercept[Exception](spark.sql("SHOW TABLES IN graft.db1.nosuch").collect())
    assert(err.isInstanceOf[org.apache.spark.sql.AnalysisException],
      s"expected AnalysisException, got ${err.getClass}: ${err.getMessage}")
  }

  test("catalog-qualified 4-part names pass through the ENGINE untouched") {
    // the engine's resolver must not rewrite the `db1.public.t1` tail out
    // of `graft.db1.public.t1` — the whole chain belongs to the plugin
    val r = engine.execute("SELECT count(*) AS n FROM graft.db1.public.t1").collect()(0)
    assert(r.getLong(0) == 3L)
  }

  test("SHOW NAMESPACES / SHOW TABLES surface the engine catalog") {
    engine
    val dbs = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
    assert(dbs == Set("db1", "db2"))
    val ts = spark.sql("SHOW TABLES IN graft.db1").collect().map(_.getString(1)).toSet
    assert(ts == Set("t1"))
  }

  test("DDL through the plugin lands in the engine catalog; writes are rejected") {
    engine
    spark.sql("CREATE NAMESPACE graft.db3")
    spark.sql("CREATE TABLE graft.db3.made (a INT, b STRING) TBLPROPERTIES('primary_key'='a')")
    // visible to the statement engine (same catalog files)
    val e3 = new SqlEngine(spark, new Catalog(wh), SqlContext("db3", "u"))
    assert(e3.execute("DESCRIBE made").collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    e3.execute("INSERT INTO made VALUES (1, 'z')")
    assert(spark.sql("SELECT b FROM graft.db3.made").collect()(0).getString(0) == "z")
    // a PK-less CREATE is rejected (descriptor parity: primary index mandatory)
    assert(intercept[SqlError](
      spark.sql("CREATE TABLE graft.db3.nopk (a INT)")).getMessage.contains("primary index"))
    // plugin tables do NOT accept writes — the INSERT pipeline owns them
    val err = intercept[Exception](spark.sql("INSERT INTO graft.db3.made VALUES (2, 'w')"))
    assert(err.getMessage.toLowerCase.contains("support"))
    spark.sql("DROP TABLE graft.db3.made")
    assert(spark.sql("SHOW TABLES IN graft.db3").collect().isEmpty)
  }

  test("unsupported mutations throw the DSv2 contract types, not engine errors") {
    engine
    // through spark.sql: Spark's ALTER TABLE path must see the contract's
    // UnsupportedOperationException (it surfaces it directly), never an
    // engine SqlError
    val alter = intercept[Exception](
      spark.sql("ALTER TABLE graft.db1.t1 SET TBLPROPERTIES('x'='y')"))
    assert(rootCause(alter).isInstanceOf[UnsupportedOperationException],
      s"ALTER TABLE: expected UnsupportedOperationException, got ${rootCause(alter).getClass}")
    val rename = intercept[Exception](
      spark.sql("ALTER TABLE graft.db1.t1 RENAME TO graft.db1.t1_renamed"))
    assert(rootCause(rename).isInstanceOf[UnsupportedOperationException],
      s"RENAME: expected UnsupportedOperationException, got ${rootCause(rename).getClass}")
    val alterNs = intercept[Exception](
      spark.sql("ALTER NAMESPACE graft.db1 SET PROPERTIES('x'='y')"))
    assert(rootCause(alterNs).isInstanceOf[UnsupportedOperationException],
      s"ALTER NAMESPACE: expected UnsupportedOperationException, got ${rootCause(alterNs).getClass}")
    // the table is untouched
    assert(spark.sql("SELECT count(*) AS n FROM graft.db1.t1").collect()(0).getLong(0) == 3L)
  }

  private def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && c.getCause != c &&
      !c.isInstanceOf[UnsupportedOperationException]) c = c.getCause
    c
  }

  test("empty tables scan as zero rows with the descriptor schema") {
    engine
    spark.sql("CREATE TABLE graft.db2.empty_t (a BIGINT, s STRING) TBLPROPERTIES('primary_key'='a')")
    val df = spark.sql("SELECT * FROM graft.db2.public.empty_t")
    assert(df.columns.toSeq == Seq("a", "s"))
    assert(df.count() == 0)
  }
}
