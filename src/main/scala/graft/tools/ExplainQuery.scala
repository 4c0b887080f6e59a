package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Prints the formatted physical plan of named `SparkEntry.queries`
  * entries — the manual side of the plan audit (`PlanQualitySpec` locks
  * the known-critical properties; this is for reading NEW queries' plans
  * before deciding what to lock).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ExplainQuery d08_incremental_dedup ..."`
  * (no names = every query, in name order). Runs on `SPARK_GRAFT_CPUS`
  * cores (default 8); the core count sets the shuffle partitions, so
  * compare plans at one core count.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.forMain(defaultCores = 8)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"===== $name =====")
      println(graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
