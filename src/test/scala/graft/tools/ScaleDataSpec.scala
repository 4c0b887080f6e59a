package graft.tools

import graft.{SuiteScratch, Tables, TestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ScaleData must multiply row counts while preserving the join
  * structure — every scaled fact key must still resolve to its parent,
  * or the scale benchmarks measure a different query than sf0.1 does. */
class ScaleDataSpec extends AnyFunSuite with SuiteScratch {

  private val src = "/root/testdata/sf0.001"

  private lazy val spark = TestSession.spark

  private lazy val dst = {
    val d = scratchDir("scale-spec")
    ScaleData.scale(spark, src, d, 3)
    d
  }

  test("3x scale: fact/dim tables triple, region/nation stay fixed") {
    for (name <- Tables.names) {
      val base = Tables.load(spark, src, name).count()
      val scaled = Tables.load(spark, dst, name).count()
      val want = if (Set("region", "nation")(name)) base else base * 3
      assert(scaled == want, s"$name: $base -> $scaled, want $want")
    }
  }

  test("referential integrity: no orphaned keys after scaling") {
    def orphans(fact: String, fk: String, dim: String, pk: String): Long =
      Tables.load(spark, dst, fact).select(col(fk).as("k"))
        .join(Tables.load(spark, dst, dim).select(col(pk).as("k")), Seq("k"), "left_anti")
        .count()
    assert(orphans("orders", "o_custkey", "customer", "c_custkey") == 0L)
    assert(orphans("lineitem", "l_orderkey", "orders", "o_orderkey") == 0L)
    assert(orphans("lineitem", "l_partkey", "part", "p_partkey") == 0L)
    assert(orphans("lineitem", "l_suppkey", "supplier", "s_suppkey") == 0L)
    assert(orphans("customer", "c_nationkey", "nation", "n_nationkey") == 0L)
  }

  test("scaled ids stay unique (copies don't collide)") {
    for ((table, key) <- Seq("orders" -> "o_orderkey", "customer" -> "c_custkey",
        "documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val t = Tables.load(spark, dst, table)
      assert(t.select(key).distinct().count() == t.count(), s"$table.$key collides")
    }
  }

  test("join aggregate structure is preserved: per-copy results replicate the base") {
    // revenue per (returnflag, linestatus) must scale exactly 3x — the
    // lineitem->orders join resolves within each copy, never across
    def rev(dir: String) =
      Tables.load(spark, dir, "lineitem")
        .join(Tables.load(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    val base = rev(src)
    val scaled = rev(dst)
    assert(scaled.keySet == base.keySet)
    base.foreach { case (k, n) => assert(scaled(k) == n * 3, s"$k: ${scaled(k)} != 3*$n") }
  }
}
