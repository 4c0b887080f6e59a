package graft.engine

import graft.{SuiteScratch, TestSession}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Engines that share one SparkSession must not share names: each
  * resolves its own database's tables and binds its own session values,
  * and a user's temp views keep their meaning. */
class EngineIsolationSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  private def warehouse(): Catalog = {
    val cat = new Catalog(scratchDir("graft-iso-"))
    cat.createDatabase("db1", ifNotExists = false)
    cat.createDatabase("db2", ifNotExists = false)
    cat
  }

  test("a table one engine read stays invisible to an engine on another database") {
    val cat = warehouse()
    val e1 = new SqlEngine(spark, cat, SqlContext("db1", "u"))
    val e2 = new SqlEngine(spark, cat, SqlContext("db2", "u"))
    e1.execute("CREATE TABLE t (v int PRIMARY KEY)")
    e1.execute("INSERT INTO t VALUES (1)")
    assert(e1.execute("SELECT v FROM t").collect().map(_.getInt(0)).toSeq == Seq(1))
    val err = intercept[SqlError](e2.execute("SELECT v FROM t").collect())
    assert(err.kind == SqlError.TableNotExists)
  }

  test("each engine keeps its own session values") {
    val cat = warehouse()
    val e1 = new SqlEngine(spark, cat, SqlContext("db1", "alice", 5432))
    def session(e: SqlEngine): (String, String, Int) = {
      val r = e.execute("SELECT current_database(), current_user, inet_client_port()").collect()(0)
      (r.getString(0), r.getString(1), r.getInt(2))
    }
    assert(session(e1) == (("db1", "alice", 5432)))
    val e2 = new SqlEngine(spark, cat, SqlContext("db2", "bob", 6543))
    assert(session(e2) == (("db2", "bob", 6543)))
    assert(session(e1) == (("db1", "alice", 5432)), "building a second engine rebound the first")
  }

  test("a user temp view named like a managed table keeps its meaning") {
    val cat = warehouse()
    val e = new SqlEngine(spark, cat, SqlContext("db1", "u"))
    e.execute("CREATE TABLE t (v int PRIMARY KEY)")
    e.execute("INSERT INTO t VALUES (7)")
    spark.sql("SELECT 42 AS v").createOrReplaceTempView("t")
    try {
      def viaView = spark.table("t").collect().map(_.getInt(0)).toSeq
      assert(viaView == Seq(42))
      assert(e.execute("SELECT v FROM t").collect().map(_.getInt(0)).toSeq == Seq(7),
        "the engine must read its managed table")
      assert(viaView == Seq(42), "an engine query replaced the user's temp view")
    } finally spark.catalog.dropTempView("t")
  }
}
