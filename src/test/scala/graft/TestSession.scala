package graft

import org.apache.spark.sql.SparkSession

/** The session every spec runs on: [[GraftSession]] on 4 cores. All
  * suites share one JVM and `getOrCreate` hands every later builder the
  * first session, so this is the only session the suites get; a suite
  * that needs another SQL conf sets it on its own `newSession()`. */
object TestSession {
  lazy val spark: SparkSession = GraftSession(4)
}
