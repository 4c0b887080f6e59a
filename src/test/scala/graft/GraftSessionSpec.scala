package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftParquetBridge, Row}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession.withScratch

/** The one session factory and the one scratch-directory helper. */
class GraftSessionSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  test("the shared test session runs the bench config on local[4]") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("a suite's own newSession conf leaves the shared session at 4 partitions") {
    val own = spark.newSession()
    own.conf.set("spark.sql.shuffle.partitions", "7")
    assert(own.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("withScratch removes its directories when the body throws") {
    var dirs = Seq.empty[String]
    val e = intercept[IllegalStateException] {
      withScratch("graft-scratch-a-", "graft-scratch-b-") { ds =>
        dirs = ds
        val nested = Files.createDirectories(Paths.get(ds.head, "x", "y"))
        Files.writeString(nested.resolve("part-0"), "data")
        Files.writeString(Paths.get(ds(1), "part-1"), "data")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(dirs.size == 2 && dirs.distinct.size == 2)
    dirs.foreach(d => assert(!Files.exists(Paths.get(d)), s"$d survived"))
  }

  test("a part read inside withScratch holds no footer after it returns") {
    val schema = StructType(Seq(StructField("id", IntegerType)))
    val part = withScratch("graft-footer-") { case Seq(dir) =>
      GraftParquetBridge.writePart(spark, dir, schema, Iterator(Row(1)))
      val s = Files.list(Paths.get(dir))
      val part = try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.head
      finally s.close()
      assert(GraftParquetBridge.footerSchema(spark, part).fieldNames.toSeq == Seq("id"))
      assert(GraftParquetBridge.holdsFooter(part))
      part
    }
    assert(!Files.exists(Paths.get(part)))
    assert(!GraftParquetBridge.holdsFooter(part), s"the footer of deleted $part is still held")
  }
}
