package graft

import java.nio.file.{Files, Paths}

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
}
