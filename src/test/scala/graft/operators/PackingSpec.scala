package graft.operators

import graft.TestSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the training-batch assembly operators (Packing) and
  * passage-level dedup, on inline corpora with known structure — the
  * oracle rows ride the driver's testdata; these pin behavior to data
  * that never changes. */
class PackingSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  import spark.implicits._

  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, Seq.fill(3 + i % 7)(s"w$i").mkString(" ")))
      .toDF("doc_id", "text")

  test("packSequences: offsets form one contiguous gap-free token stream") {
    val packed = Packing.packSequences(corpus(500), budget = 16, buckets = 8)
      .orderBy("doc_id").collect()
    assert(packed.length == 500)
    var expectedStart = 0L
    packed.foreach { r =>
      assert(r.getAs[Long]("start_offset") == expectedStart,
        s"gap at doc ${r.getAs[Long]("doc_id")}")
      val n = r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("first_seq") == expectedStart / 16)
      assert(r.getAs[Long]("last_seq") == (expectedStart + n - 1) / 16)
      expectedStart += n
    }
  }

  test("packSequences: bucketed two-level prefix sum equals the single-window reference") {
    val df = corpus(300)
    val manyBuckets = Packing.packSequences(df, budget = 32, buckets = 64)
    val oneBucket = Packing.packSequences(df, budget = 32, buckets = 1)
    assert(manyBuckets.exceptAll(oneBucket).isEmpty && oneBucket.exceptAll(manyBuckets).isEmpty)
    // and against the naive global window directly
    val toks = df.select(col("doc_id"),
      size(split(lower(col("text")), "\\s+")).cast("bigint").as("n_tokens"))
    val naive = toks.withColumn("start_offset",
      coalesce(sum("n_tokens").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        expr("start_offset div 32").as("first_seq"),
        expr("(start_offset + n_tokens - 1) div 32").as("last_seq"))
    assert(manyBuckets.exceptAll(naive).isEmpty && naive.exceptAll(manyBuckets).isEmpty)
  }

  test("packSequences: sparse and non-zero-based ids stay correct") {
    val df = (0 until 100).map(i => (1000000L + i * 997L, "a b c")).toDF("doc_id", "text")
    val packed = Packing.packSequences(df, budget = 7, buckets = 16).orderBy("doc_id").collect()
    packed.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("start_offset") == 3L * i)
    }
  }

  test("packSequences: empty corpus packs to an empty result") {
    assert(Packing.packSequences(corpus(0)).count() == 0)
  }

  test("shardPack: positions are dense per shard and deterministic across runs") {
    val df = corpus(400)
    val a = Packing.shardPack(df, numShards = 8)
    val b = Packing.shardPack(df, numShards = 8)
    assert(a.exceptAll(b).isEmpty, "shard layout must be reproducible")
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"),
        countDistinct("pos").as("d"))
      .collect()
    assert(perShard.map(_.getAs[Long]("n")).sum == 400)
    perShard.foreach { r =>
      assert(r.getAs[Long]("lo") == 1L && r.getAs[Long]("hi") == r.getAs[Long]("n") &&
        r.getAs[Long]("d") == r.getAs[Long]("n"),
        s"positions not dense in shard ${r.getAs[Long]("shard")}")
    }
    // md5 spreads: no shard holds more than half the corpus
    assert(perShard.map(_.getAs[Long]("n")).max < 200)
  }

  test("shardPack: bucketed two-level prefix sum equals the single-window reference") {
    val df = corpus(400)
    val bucketed = Packing.shardPack(df, numShards = 8, buckets = 64)
    // buckets=1 degenerates to one bucket per shard — the naive
    // single-window-per-shard shape, as the semantic reference
    val naive = Packing.shardPack(df, numShards = 8, buckets = 1)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty,
      "bucketed rank must equal the per-shard global rank")
  }

  test("temperatureMix: low-resource languages sample at a higher rate") {
    val df = ((0 until 800).map(i => (i.toLong, "x", "en")) ++
      (800 until 900).map(i => (i.toLong, "x", "sw")))
      .toDF("doc_id", "text", "lang")
    val kept = Packing.temperatureMix(df, alpha = 0.5, targetFrac = 0.5)
      .groupBy("lang").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rateEn = kept.getOrElse("en", 0L).toDouble / 800
    val rateSw = kept.getOrElse("sw", 0L).toDouble / 100
    assert(rateSw > rateEn, s"temperature must upsample the tail: sw=$rateSw en=$rateEn")
    // alpha=1 is natural sampling: rates equalize (within hash-gate noise)
    val nat = Packing.temperatureMix(df, alpha = 1.0, targetFrac = 0.5)
      .groupBy("lang").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nEn = nat.getOrElse("en", 0L).toDouble / 800
    val nSw = nat.getOrElse("sw", 0L).toDouble / 100
    assert(math.abs(nEn - nSw) < 0.15, s"alpha=1 should be ~uniform rates: en=$nEn sw=$nSw")
  }

  test("passageStats: planted shared passage is counted, unique docs stay zero") {
    val shared = (1 to 8).map(i => s"p$i").mkString(" ") // exactly one 8-token passage
    val docs = Seq(
      (1L, shared + " " + (1 to 8).map(i => s"a$i").mkString(" ")), // shared + unique
      (2L, shared + " tail words only"), // shared + partial chunk (ignored)
      (3L, (1 to 16).map(i => s"u$i").mkString(" ")) // fully unique, 2 chunks
    ).toDF("doc_id", "text")
    val r = Dedup.passageStats(docs, width = 8).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 2L, 0L)))
  }

  test("packedSpans: spans tile every sequence contiguously and sum to each doc's tokens") {
    val budget = 16
    val docs = corpus(300)
    val spans = Packing.packedSpans(docs, budget = budget, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // per doc: span lengths sum to the doc's token count
    val byDoc = spans.groupBy(_._2).view.mapValues(_.map(s => s._4 - s._3).sum).toMap
    val toks = Packing.packSequences(docs, budget = budget, buckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc == toks, "per-doc span lengths must sum to n_tokens")
    // per sequence: spans are non-overlapping, start at 0, chain begin==prev end,
    // and every sequence but the last fills the full budget
    val maxSeq = spans.map(_._1).max
    spans.groupBy(_._1).foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"seq $seq does not start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"gap/overlap in seq $seq")
        case _ =>
      }
      if (seq != maxSeq)
        assert(sorted.last._4 == budget, s"interior seq $seq not fully packed")
      assert(sorted.last._4 <= budget)
    }
  }

  test("passageStats: a doc repeating its own passage is not 'shared'") {
    val p = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq((1L, p + " " + p)).toDF("doc_id", "text") // same passage twice, one doc
    val r = Dedup.passageStats(docs, width = 8).collect()
    assert(r.head.getLong(1) == 2L && r.head.getLong(2) == 0L)
  }

  test("mixtureWeightsCapped: water-filling matches an in-test reference; caps bind") {
    // groups with wildly uneven sizes so several rounds of redistribution
    // happen: tiny groups cap, the freed budget flows to the big ones
    def mkCorpus(sizes: Map[String, Int]) =
      sizes.toSeq.flatMap { case (lang, n) =>
        (0 until n).map(i => (s"$lang-$i", lang, "tok " * 9 + "tok")) // 10 tokens/doc
      }.zipWithIndex.map { case ((_, lang, text), i) => (i.toLong, lang, text) }
        .toDF("doc_id", "lang", "text")
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def reference(sizes: Map[String, Long], alpha: Double, budget: Double,
        maxEpochs: Double, iters: Int): Map[String, (Long, Int)] = {
      val n = sizes.view.mapValues(_.toDouble).toMap
      val w = n.view.mapValues(math.pow(_, alpha)).toMap
      val cap = n.view.mapValues(_ * maxEpochs).toMap
      var capped = sizes.keySet.map(_ -> false).toMap
      def alloc(g: String): Double = {
        val fixed = capped.collect { case (k, true) => cap(k) }.sum
        val wsum = capped.collect { case (k, false) => w(k) }.sum
        if (capped(g) || wsum <= 0) cap(g) else (budget - fixed) * w(g) / wsum
      }
      (1 to iters).foreach { _ =>
        capped = capped.map { case (g, c) => g -> (c || round6(alloc(g)) > cap(g)) }
      }
      sizes.keySet.map { g =>
        g -> (math.floor(math.min(round6(alloc(g)), cap(g))).toLong,
          if (capped(g)) 1 else 0)
      }.toMap
    }
    for (sizes <- Seq(
        Map("aa" -> 3, "bb" -> 40, "cc" -> 5),
        Map("aa" -> 1, "bb" -> 1, "cc" -> 50, "dd" -> 10),
        Map("aa" -> 20, "bb" -> 20))) {
      val budget = 700L
      val got = Packing.mixtureWeightsCapped(mkCorpus(sizes), 0.5, budget, 2.0, 6)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(3), r.getInt(5)), r.getLong(2))).toMap
      val want = reference(sizes.map { case (k, v) => k -> v.toLong * 10 },
        0.5, budget.toDouble, 2.0, 6)
      sizes.keys.foreach { g =>
        assert(got(g)._2 == sizes(g).toLong * 10, s"$g token total")
        assert(got(g)._1 == want(g), s"$g: got ${got(g)._1}, want ${want(g)} in $sizes")
      }
      // the allocation never exceeds any cap and never exceeds the budget
      val totTarget = got.values.map(_._1._1).sum
      assert(totTarget <= budget + sizes.size, s"budget overrun: $totTarget")
      got.foreach { case (g, ((t, _), n)) => assert(t <= (n * 2.0).toLong, s"$g cap") }
    }
  }

  test("RangeBucket kernel: bucket = count of bounds <= v, monotone, null-safe") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bounds = Array(-5L, 0L, 7L, 100L)
    def bucket(v: Long): Long =
      graft.functions.RangeBucket(Literal(v), bounds).eval(null).asInstanceOf[Long]
    assert(bucket(Long.MinValue) == 0 && bucket(-6) == 0)
    assert(bucket(-5) == 1 && bucket(-1) == 1)
    assert(bucket(0) == 2 && bucket(6) == 2)
    assert(bucket(7) == 3 && bucket(99) == 3)
    assert(bucket(100) == 4 && bucket(Long.MaxValue) == 4)
    // empty bounds → single bucket 0
    assert(graft.functions.RangeBucket(Literal(42L), Array.empty[Long])
      .eval(null).asInstanceOf[Long] == 0)
    // codegen path: expression evaluates identically inside a projection
    val viaPlan = spark.range(-10, 110).toDF("v")
      .withColumn("b", graft.functions.rangeBucket(col("v"), bounds)).collect()
    viaPlan.foreach(r => assert(r.getLong(1) == bucket(r.getLong(0))))
  }

  test("zorderFiles: quantile buckets match the single-window rank under heavy skew") {
    // one dimension CONSTANT (the skew shape Morton amplifies: zval
    // varies only in b's interleaved bits) plus a clustered hot range —
    // uniform min/max slicing would pile most rows into one bucket; the
    // quantile cut must still produce exactly the (zval, id) global rank
    val rows = ((0 until 400).map(i => (i.toLong, 7L, (i % 13).toLong)) ++
      (400 until 600).map(i => (i.toLong, 7L, 40000L + i))).toDF("id", "x", "y")
    val got = Packing.zorderFiles(rows, "id", "x", "y", rowsPerFile = 64L, buckets = 16)
    val ref = rows
      .withColumn("zval", Packing.zvalue(col("x").cast("long"), col("y").cast("long")))
      .withColumn("rk", row_number().over(Window.orderBy(col("zval"), col("id"))) - 1)
      .select(col("id"), col("x").cast("long").as("a"), col("y").cast("long").as("b"),
        col("zval"), expr("rk div 64").as("file_id"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    // bucket populations are balanced enough that no window partition
    // holds more than the hot-distinct-zval floor + a quantile slice
    val stats = Packing.zorderFileStats(got).collect()
    assert(stats.map(_.getAs[Long]("n_rows")).sum == 600L)
  }
}
