package graft.functions

import graft.{SuiteScratch, TestSession}
import graft.engine.{Catalog, SqlContext, SqlEngine}
import graft.operators.{Dedup, Multimodal, Similarity}
import org.scalatest.funsuite.AnyFunSuite

/** graft's kernels are Columns, not session functions: running the
  * operators and an engine INSERT leaves a session's function registry
  * and catalog as they were, and engine SQL cannot call a kernel by name
  * whether or not an operator has run. */
class KernelSessionSpec extends AnyFunSuite with SuiteScratch {

  // a fresh session state: its registry holds only Spark's built-ins,
  // whatever other suites did on the shared context
  private lazy val spark = TestSession.spark.newSession()

  test("operators and an engine INSERT leave the function registry and catalog unchanged") {
    import spark.implicits._
    val engine = new SqlEngine(spark,
      new Catalog(scratchDir("graft-kernels-")), SqlContext("k", "u"))
    engine.execute("CREATE DATABASE k")
    engine.execute("CREATE TABLE src (id serial PRIMARY KEY, v int)")
    engine.execute("INSERT INTO src (v) VALUES (10), (20), (30)")
    engine.execute("CREATE TABLE dst (id serial PRIMARY KEY, v int)")

    def functions = spark.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    def kernelCall: Either[(Class[_], String), Long] =
      try Right(engine.execute("SELECT simhash64(array('a'))").collect()(0).getLong(0))
      catch { case e: Exception => Left((e.getClass, e.getMessage)) }
    val (functions0, tables0, call0) = (functions, tables, kernelCall)
    assert(call0.isLeft, s"engine SQL resolved a graft kernel by name: $call0")

    val text = "the quick brown fox jumps over the lazy dog"
    val corpus = Seq((1L, text), (2L, text), (3L, "an unrelated line of other words")).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(corpus).count() == 1)
    val base = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val queries = Seq((9L, Array(1.0f, 0.1f))).toDF("query_id", "q_emb")
    assert(Similarity.bruteForceTopK(base, queries, 1).count() == 1)
    val media = Seq(
      (1L, "png", "hello world abc".getBytes("UTF-8")),
      (2L, "png", "cba dlrow olleh".getBytes("UTF-8"))).toDF("doc_id", "format", "payload")
    assert(Multimodal.mediaNearDupPairs(media, 0.99, maxCandidatePairs = 100L).count() == 1)
    engine.execute("INSERT INTO dst (v) SELECT v FROM src").collect()
    assert(engine.execute("SELECT id, v FROM dst ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 10), (2, 20), (3, 30)))

    assert(functions == functions0,
      s"functions registered: ${functions -- functions0}, dropped: ${functions0 -- functions}")
    assert(tables == tables0, s"catalog tables changed: $tables0 -> $tables")
    assert(kernelCall == call0, "engine SQL reached a kernel differently after the operators ran")
  }
}
