package graft.catalog

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.{SuiteScratch, TestSession}
import graft.engine.{Catalog, SqlContext, SqlEngine}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 plugin and the statement engines on one warehouse share one
  * [[Catalog]] ([[Catalog.open]]), so DDL from either side allocates ids
  * and takes write locks under the same monitors. */
class SharedCatalogSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  test("Catalog.open hands every caller on one warehouse the same instance") {
    val wh = scratchDir("graft-open-")
    assert(Catalog.open(wh) eq Catalog.open(s"$wh/../${java.nio.file.Paths.get(wh).getFileName}"))
    assert(!(Catalog.open(wh) eq Catalog.open(scratchDir("graft-open-"))))
  }

  test("plugin CREATE TABLE interleaved with engine CREATE TABLE and INSERT never reuses an id") {
    val wh = scratchDir("graft-shared-wh-")
    // the plugin as Spark sets it up for `spark.sql.catalog.shared`; its
    // createTable is what a CREATE TABLE shared.… runs, without the SQL
    // front end, so the two sides allocate ids at a rate that would race
    val plugin = new GraftCatalog
    plugin.initialize("shared", new CaseInsensitiveStringMap(Map("warehouse" -> wh).asJava))
    plugin.createNamespace(Array("mix"), Map.empty[String, String].asJava)
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))

    val (threads, perThread) = (4, 40)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CyclicBarrier(threads)
    val enginesLeft = new AtomicInteger(threads / 2)
    // odd threads run `perThread` CREATE TABLE + INSERT pairs through an
    // engine; even threads create tables through the plugin until the
    // engines are done
    val work = (0 until threads).map { t =>
      Future {
        val engine = new SqlEngine(spark, Catalog.open(wh), SqlContext("mix", "u"))
        start.await(1, TimeUnit.MINUTES)
        if (t % 2 == 0) {
          var i = 0
          while (enginesLeft.get > 0) {
            plugin.createTable(Identifier.of(Array("mix"), s"p${t}_$i"), schema, Array.empty,
              Map("primary_key" -> "a").asJava)
            i += 1
          }
        } else try (0 until perThread).foreach { i =>
          engine.execute(s"CREATE TABLE e${t}_$i (id serial PRIMARY KEY, v int)")
          engine.execute(s"INSERT INTO e${t}_$i (v) VALUES ($t), ($i), (${t * 100 + i})")
        } finally enginesLeft.decrementAndGet()
      }
    }
    try Await.result(Future.sequence(work), 2.minutes)
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }

    val catalog = Catalog.open(wh)
    val tables = catalog.listTables("mix", "public")
    assert(tables.count(_.startsWith("e")) == threads / 2 * perThread)
    assert(tables.count(_.startsWith("p")) > 0)
    val ids = tables.map(catalog.getTable("mix", "public", _).id)
    val reused = ids.groupBy(identity).collect { case (id, n) if n.size > 1 => id }
    assert(reused.isEmpty, s"descriptor ids given to more than one table: ${reused.toSeq.sorted}")
    val reader = new SqlEngine(spark, catalog, SqlContext("mix", "u"))
    tables.filter(_.startsWith("e")).foreach { t =>
      val Array(th, i) = t.drop(1).split("_").map(_.toInt)
      val vs = reader.readTable("mix", "public", t).collect().map(_.getInt(1)).sorted.toSeq
      assert(vs == Seq(th, i, th * 100 + i).sorted, s"table $t holds $vs")
    }
  }
}
