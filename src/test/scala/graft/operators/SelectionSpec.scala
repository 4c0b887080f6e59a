package graft.operators

import graft.TestSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the corpus-selection operators (Selection): budget
  * maximality, curriculum permutation/monotonicity, per-source caps —
  * each bucketed two-level shape pinned against its naive single-window
  * reference on inline corpora. */
class SelectionSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  import spark.implicits._

  // tie-heavy: 7 distinct qualities, token counts 1..13
  private def scored(n: Int) =
    (0 until n).map(i => (i.toLong, (i % 7).toDouble / 7.0, 1L + i % 13))
      .toDF("doc_id", "quality", "n_tokens")

  test("selectTokenBudget: kept set is within budget and maximal") {
    val df = scored(400)
    val budget = 900L
    val kept = Selection.selectTokenBudget(df, budget).collect()
    assert(kept.map(_.getAs[Long]("n_tokens")).sum <= budget)
    assert(kept.nonEmpty && kept.length < 400, "budget should select a strict subset")
    // maximality: the next doc in (quality desc, doc_id) order cannot fit
    val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
    val next = df.orderBy(col("quality").desc, col("doc_id")).collect()
      .find(r => !keptIds(r.getAs[Long]("doc_id")))
    next.foreach { r =>
      assert(kept.map(_.getAs[Long]("n_tokens")).sum + r.getAs[Long]("n_tokens") > budget,
        "a fitting doc was left out — selection not maximal")
    }
    // every kept doc has quality ≥ every dropped doc's, up to the boundary
    // bucket where the budget cut lands (ties share a cum order by doc_id)
    val maxCum = kept.map(_.getAs[Long]("cum_end")).max
    assert(maxCum <= budget)
  }

  test("selectTokenBudget: bucketed prefix sum equals the naive global window") {
    val df = scored(300)
    val bucketed = Selection.selectTokenBudget(df, 700L, buckets = 64)
    val w = Window.orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("cum_end", sum("n_tokens").over(w))
      .filter(col("cum_end") <= 700L)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_end"))
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    // and the degenerate single-bucket spelling
    val one = Selection.selectTokenBudget(df, 700L, buckets = 1)
    assert(bucketed.exceptAll(one).isEmpty && one.exceptAll(bucketed).isEmpty)
  }

  test("selectTokenBudget: constant quality (every row one bucket) stays correct") {
    val df = (0 until 200).map(i => (i.toLong, 0.5, 3L)).toDF("doc_id", "quality", "n_tokens")
    val kept = Selection.selectTokenBudget(df, 60L).collect()
    // ties order by doc_id: exactly docs 0..19 fit (20 × 3 = 60)
    assert(kept.map(_.getAs[Long]("doc_id")).sorted.toSeq == (0L until 20L))
  }

  test("selectTokenBudget: budget beyond the corpus keeps everything; empty corpus is empty") {
    val df = scored(50)
    assert(Selection.selectTokenBudget(df, 1000000L).count() == 50)
    assert(Selection.selectTokenBudget(scored(0), 100L).count() == 0)
  }

  test("curriculumOrder: pos is a dense global permutation, stage-monotone") {
    val df = scored(350)
    val r = Selection.curriculumOrder(df, stages = 4).orderBy("pos").collect()
    assert(r.length == 350)
    assert(r.map(_.getAs[Long]("pos")).toSeq == (1L to 350L))
    val stagesInPosOrder = r.map(_.getAs[Long]("stage"))
    assert(stagesInPosOrder.zip(stagesInPosOrder.tail).forall { case (a, b) => a <= b },
      "curriculum must never step back to an earlier stage")
    // high quality = early stage: stage 0 holds the top-quality docs
    val q = df.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val byStage = r.groupBy(_.getAs[Long]("stage"))
      .map { case (st, rows) => st -> rows.map(x => q(x.getAs[Long]("doc_id"))).min }
    assert(byStage.toSeq.sortBy(_._1).map(_._2).reverse.sorted.sameElements(
      byStage.toSeq.sortBy(_._1).map(_._2).reverse),
      "later stages must hold lower-quality docs")
  }

  test("curriculumOrder: bucketed equals the naive global row_number") {
    val df = scored(300)
    val bucketed = Selection.curriculumOrder(df, stages = 4, buckets = 32)
    val naive = Selection.curriculumOrder(df, stages = 4, buckets = 1)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
  }

  test("capPerSource: every source at most cap, small sources intact, deterministic") {
    val df = ((0 until 300).map(i => (i.toLong, s"src${i % 3}")) ++ // 100 docs each
      (300 until 305).map(i => (i.toLong, "tiny")))                 // 5 docs
      .toDF("doc_id", "source")
    val a = Selection.capPerSource(df, cap = 40)
    val b = Selection.capPerSource(df, cap = 40)
    assert(a.exceptAll(b).isEmpty, "cap selection must be reproducible")
    val per = a.groupBy("source").agg(count(lit(1)).as("n"), max("rk").as("m")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("m"))).toMap
    assert(per("src0")._1 == 40 && per("src1")._1 == 40 && per("src2")._1 == 40)
    assert(per("tiny") == ((5L, 5L)), "sources under the cap keep every doc")
  }

  test("capPerSource: bucketed equals the naive per-source window") {
    val df = (0 until 400).map(i => (i.toLong, s"s${i % 5}")).toDF("doc_id", "source")
    val bucketed = Selection.capPerSource(df, cap = 30, buckets = 16)
    val naive = Selection.capPerSource(df, cap = 30, buckets = 1)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
  }

  test("stratifiedSplit: exact per-source counts, deterministic, partitioning") {
    // uneven sources: 100 / 37 / 3 docs
    val df = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 137).map(i => (i.toLong, "mid")) ++
      (137 until 140).map(i => (i.toLong, "tiny"))).toDF("doc_id", "source")
    val r = Selection.stratifiedSplit(df, Seq(0.8, 0.1, 0.1))
    assert(r.count() == 140, "split must be a partition — every doc exactly once")
    val per = r.groupBy("source", "split").agg(count(lit(1)).as("n")).collect()
      .map(x => (x.getString(0), x.getInt(1)) -> x.getAs[Long]("n")).toMap
    // exact boundaries: floor(0.8n), floor(0.9n)-floor(0.8n), n-floor(0.9n)
    assert(per(("big", 0)) == 80 && per(("big", 1)) == 10 && per(("big", 2)) == 10)
    assert(per(("mid", 0)) == 29 && per(("mid", 1)) == 4 && per(("mid", 2)) == 4)
    // tiny source: floor(.8*3)=2 train, floor(.9*3)=2 → 0 val, 1 test
    assert(per(("tiny", 0)) == 2 && per.get(("tiny", 1)).isEmpty && per(("tiny", 2)) == 1)
    // reproducible
    val again = Selection.stratifiedSplit(df, Seq(0.8, 0.1, 0.1))
    assert(r.exceptAll(again).isEmpty && again.exceptAll(r).isEmpty)
  }

  test("stratifiedSplit: bucketed equals the naive per-source window; stability under growth") {
    val df = (0 until 300).map(i => (i.toLong, s"s${i % 4}")).toDF("doc_id", "source")
    val bucketed = Selection.stratifiedSplit(df, Seq(0.9, 0.1), buckets = 16)
    val naive = Selection.stratifiedSplit(df, Seq(0.9, 0.1), buckets = 1)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    // hash-order stability: a doc's RANK within its source never depends on
    // docs of other sources — adding a new source leaves old splits intact
    val grown = df.union(Seq((1000L, "s9"), (1001L, "s9")).toDF("doc_id", "source"))
    val before = Selection.stratifiedSplit(df, Seq(0.9, 0.1))
      .select("doc_id", "source", "rk", "split")
    val after = Selection.stratifiedSplit(grown, Seq(0.9, 0.1))
      .filter(col("source") =!= "s9").select("doc_id", "source", "rk", "split")
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty)
  }

  test("stratifiedSplit: rejects bad fractions") {
    val df = Seq((1L, "a")).toDF("doc_id", "source")
    intercept[IllegalArgumentException](Selection.stratifiedSplit(df, Seq(0.5, 0.4)))
    intercept[IllegalArgumentException](Selection.stratifiedSplit(df, Seq.empty))
    intercept[IllegalArgumentException](Selection.stratifiedSplit(df, Seq(1.5, -0.5)))
  }

  test("weightedSample: E-S top-k equals the naive global ranking, reproducible") {
    val df = (0 until 400).map(i => (i.toLong, 1L + i % 13)).toDF("doc_id", "weight")
    val a = Selection.weightedSample(df, 50)
    assert(a.exceptAll(Selection.weightedSample(df, 50)).isEmpty, "must be reproducible")
    assert(a.count() == 50)
    val got = a.orderBy("rk").collect().map(r => (r.getLong(0), r.getLong(2)))
    // naive reference: same key formula, global sort on the driver
    val naive = df.collect().map { r =>
      val id = r.getLong(0); val w = r.getLong(1)
      val u = (java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16) + 1L) / 4294967296.0
      (id, math.log(u) / w)
    }.sortBy { case (id, k) => (-k, id) }.take(50).zipWithIndex
      .map { case ((id, _), i) => (id, i + 1L) }
    assert(got.toSeq == naive.toSeq)
    assert(got.map(_._1).sorted.toSeq == got.map(_._1).distinct.sorted.toSeq,
      "sampling is WITHOUT replacement")
  }

  test("weightedSample: heavier documents are sampled preferentially; k >= n keeps all") {
    // two weight classes, 200 docs each: weight 1 vs weight 50
    val df = (0 until 400).map(i => (i.toLong, if (i < 200) 1L else 50L))
      .toDF("doc_id", "weight")
    val picked = Selection.weightedSample(df, 60).collect().map(_.getLong(0))
    val heavy = picked.count(_ >= 200)
    assert(heavy > 45, s"weight-50 class should dominate the sample, got $heavy/60")
    assert(Selection.weightedSample(df, 1000).count() == 400)
    assert(Selection.weightedSample(df.limit(0), 10).count() == 0)
  }

  test("epochShuffle: dense permutation, balanced striped shards, epoch independence") {
    val df = (0 until 333).map(i => Tuple1(i.toLong)).toDF("doc_id")
    val r = Selection.epochShuffle(df, epoch = 1, shards = 8).collect()
    assert(r.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to 333L), "pos must be a dense permutation")
    val byShard = r.groupBy(_.getAs[Int]("shard")).view.mapValues(_.length).toMap
    assert(byShard.keySet == (0 until 8).toSet)
    assert(byShard.values.max - byShard.values.min <= 1, s"shards unbalanced: $byShard")
    // shard_pos dense within each shard
    r.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("shard_pos")).sorted.toSeq == (1L to rows.length.toLong))
    }
    // a different epoch is a genuinely different permutation of the same ids
    val e2 = Selection.epochShuffle(df, epoch = 2, shards = 8)
      .select("doc_id", "pos").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val e1 = r.map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("pos")).toMap
    assert(e1.keySet == e2.keySet)
    assert(e1.count { case (id, p) => e2(id) == p } < 10,
      "epochs 1 and 2 produced near-identical permutations")
    // same epoch reproduces itself
    val again = Selection.epochShuffle(df, epoch = 1, shards = 8)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("pos")).toMap
    assert(again == e1)
  }

  test("epochShuffle: bucketed equals the naive global row_number") {
    val df = (0 until 250).map(i => Tuple1(i.toLong)).toDF("doc_id")
    val bucketed = Selection.epochShuffle(df, epoch = 3, shards = 4, buckets = 32)
    val naive = Selection.epochShuffle(df, epoch = 3, shards = 4, buckets = 1)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
  }
}
