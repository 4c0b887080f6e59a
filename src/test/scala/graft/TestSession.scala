package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The session every spec runs on: [[GraftSession]] on 4 cores. All
  * suites share one JVM and `getOrCreate` hands every later builder the
  * first session, so this is the only session the suites get; a suite
  * that needs another SQL conf sets it on its own `newSession()`. */
object TestSession {
  lazy val spark: SparkSession = GraftSession(4)
}

/** A suite's scratch space: every directory a suite asks for lives under
  * one temp root, created on first use and deleted, with everything under
  * it, after the suite's last test. A run of the suites leaves nothing in
  * `java.io.tmpdir`. */
trait SuiteScratch extends BeforeAndAfterAll { this: Suite =>
  private var root: Option[Path] = None

  /** A fresh directory under the suite's scratch root. */
  protected def scratchDir(prefix: String): String = synchronized {
    val r = root.getOrElse {
      val p = Files.createTempDirectory("graft-spec-")
      root = Some(p)
      p
    }
    Files.createTempDirectory(r, prefix).toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll() finally synchronized { root.foreach(GraftSession.deleteRecursively) }
}
