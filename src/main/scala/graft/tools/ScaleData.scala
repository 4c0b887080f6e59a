package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scales the TESTDATA star schema up by an integer factor, preserving
  * referential integrity: fact/dimension keys of copy `c` are shifted by
  * `c * (maxKey + 1)` consistently across tables (orders.o_custkey moves
  * with customer.c_custkey, lineitem's orderkey/partkey/suppkey move with
  * their parents), so every join/aggregate query sees the same structure
  * at N× the rows. region/nation stay fixed (as TPC-H scales them).
  *
  * Purpose: local empirical validation of the 100 TB design claims — run
  * `graft.Bench` against the scaled dir and check shuffle sizes, plan
  * shapes, and per-query scaling slope (see SCALE_NOTES.md). This is NOT
  * driver test data and produces no oracle inputs.
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <dstDir> <factor>
  */
object ScaleData {

  /** Key columns shifted per copy, keyed by the table that OWNS the key
    * (its unit = max(ownKey)+1); each entry lists (table, column) sites
    * that must shift together. */
  private val keyFamilies: Seq[(String, String, Seq[(String, String)])] = Seq(
    ("customer", "c_custkey", Seq("customer" -> "c_custkey", "orders" -> "o_custkey")),
    ("supplier", "s_suppkey", Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey")),
    ("part", "p_partkey", Seq("part" -> "p_partkey", "lineitem" -> "l_partkey")),
    ("orders", "o_orderkey", Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")),
    ("events", "event_id", Seq("events" -> "event_id")),
    ("events", "user_id", Seq("events" -> "user_id")),
    ("documents", "doc_id", Seq("documents" -> "doc_id")),
    ("embeddings", "vec_id", Seq("embeddings" -> "vec_id")))

  private val fixed = Set("region", "nation")

  def scale(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def load(name: String): DataFrame = graft.Tables.load(spark, src, name)

    // one tiny max() aggregate per owning key — the unit every copy shifts by
    val units: Map[(String, String), Long] = keyFamilies.map { case (owner, key, _) =>
      (owner, key) -> (load(owner).agg(max(col(key))).head().getLong(0) + 1L)
    }.toMap
    val shiftsByTable: Map[String, Seq[(String, Long)]] = keyFamilies
      .flatMap { case (owner, key, sites) =>
        sites.map { case (t, c) => t -> (c -> units((owner, key))) }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    graft.Tables.names.foreach { name =>
      val base = load(name)
      val out =
        if (fixed(name) || factor == 1) base
        else {
          val shifts = shiftsByTable.getOrElse(name, Seq.empty)
          val copies = (0 until factor).map { c =>
            shifts.foldLeft(base) { case (df, (column, unit)) =>
              df.withColumn(column, col(column) + lit(c * unit))
            }
          }
          copies.reduce(_ unionByName _)
        }
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val spark = graft.GraftSession.forMain(defaultCores = 8)
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dst, factorS.toInt)
    spark.stop()
  }
}
