package graft.operators

import graft.GraftSession.withScratch
import graft.{SparkEntry, SuiteScratch, Tables, TestSession}
import graft.functions.{cosineSim, mergePair, minhashSig, rollingFingerprint, shingleHashes,
  shinglePairs, simhash128, simhash64}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness properties of the pipeline operators on sf0.001. */
class OperatorsSpec extends AnyFunSuite with SuiteScratch {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = TestSession.spark

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("d01 exact dedup keeps one doc per distinct text") {
    val docs = Tables.load(spark, dir, "documents")
    assert(q("d01_dedup_exact").count() == docs.select("text").distinct().count())
  }

  test("incremental dedup: index rejects history clones, increment keeps first occurrence") {
    import spark.implicits._
    val hist = Seq((1L, "aaa"), (2L, "bbb"), (3L, "ccc")).toDF("doc_id", "text")
    val inc = Seq((10L, "ddd"), (11L, "bbb"), (12L, "ddd"), (13L, "eee")).toDF("doc_id", "text")
    val idx = Dedup.digestIndex(hist)
    val admitted = Dedup.incrementalAdmit(inc, idx)
    // 11 is a history clone (index reject); 12 repeats 10 within the
    // increment (first-occurrence reject)
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L, 13L))
    // replaying the same increment against the appended index admits
    // nothing, and a later batch's clone of an ADMITTED doc is rejected
    val idx2 = Dedup.updatedIndex(idx, admitted)
    assert(Dedup.incrementalAdmit(inc, idx2).isEmpty)
    val third = Seq((20L, "ddd"), (21L, "fff")).toDF("doc_id", "text")
    assert(Dedup.incrementalAdmit(third, idx2)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(21L))
    // append keeps the index duplicate-free without a re-distinct
    assert(idx2.count() == idx2.distinct().count())
  }

  test("incremental dedup index persists through the engine's managed tables") {
    import spark.implicits._
    import graft.engine.{Catalog, SqlContext, SqlEngine}
    // the production shape: the digest index is a managed table the
    // engine appends per increment; PRIMARY KEY on digest makes the
    // engine itself enforce that an admission bug (re-admitting a known
    // digest) cannot corrupt the index
    val wh = scratchDir("graft-dix-")
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("dix", "u"))
    e.execute("CREATE DATABASE dix")
    e.execute("CREATE TABLE digest_index (digest text PRIMARY KEY)")
    val hist = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    Dedup.digestIndex(hist).createOrReplaceGlobalTempView("dix_seed")
    e.execute("INSERT INTO digest_index SELECT digest FROM global_temp.dix_seed")
    def index = e.execute("SELECT digest FROM digest_index")
    val inc = Seq((10L, "bbb"), (11L, "ccc"), (12L, "ccc")).toDF("doc_id", "text")
    val admitted = Dedup.incrementalAdmit(inc, index)
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L))
    admitted.createOrReplaceGlobalTempView("dix_adm")
    e.execute("INSERT INTO digest_index SELECT digest FROM global_temp.dix_adm")
    // replaying the increment against the PERSISTED index admits nothing
    assert(Dedup.incrementalAdmit(inc, index).isEmpty)
    assert(index.count() == 3)
  }

  test("minhash candidates cover every high-jaccard pair found exactly") {
    val exact = q("d04_dedup_ngram").filter(col("jaccard") >= 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = q("d02_dedup_minhash")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(mh), s"missed: ${exact -- mh}")
  }

  test("simhash gate: every true near-dup pair passes both verdicts") {
    val rows = q("d03_dedup_simhash").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) == 1, s"sketch_near_ok failed for (${r.getLong(0)}, ${r.getLong(1)})")
      assert(r.getInt(3) == 1, s"band_complete_ok failed for (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("embedding gate: LSH top-8 is exactly the planted clone pairs at cosine 1") {
    val rows = q("d05_dedup_embedding").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 8L).map(i => (i, i + 1000000L)))
    rows.foreach(r => assert(r.getDouble(2) == 1.0))
  }

  test("minhashPairs planted-pair recall/precision (corpus-independent)") {
    // an inline corpus with KNOWN Jaccard structure — the d02 oracle gate
    // rides the driver's testdata, so a testdata regeneration could flip
    // it without a code bug; this spec pins the finder's behavior to a
    // corpus that never changes. The sketch pipeline is fully
    // deterministic (fixed seeds), so set equality is exact, not
    // statistical.
    import spark.implicits._
    def toks(doc: Int): IndexedSeq[String] = (0 until 40).map(t => s"w${doc}_$t")
    val docs = Seq(
      // planted pairs: exact dup / one-token edit (3-gram jaccard ≈0.85)
      // / two-token edit (≈0.73) — all well above the 0.35 threshold
      (100L, toks(0).mkString(" ")),
      (101L, toks(0).mkString(" ")),
      (102L, toks(1).mkString(" ")),
      (103L, toks(1).updated(20, "edited").mkString(" ")),
      (104L, toks(2).mkString(" ")),
      (105L, toks(2).updated(10, "first").updated(30, "second").mkString(" ")),
      // distant pair: ~6 of 38 shingles shared (jaccard ≈0.09, far below)
      (106L, (toks(3).take(8) ++ toks(4).drop(8)).mkString(" ")),
      (107L, (toks(3).take(8) ++ toks(5).drop(8)).mkString(" "))
    ) ++ (0 until 8).map(i => (200L + i, toks(10 + i).mkString(" ")))
    val corpus = docs.toDF("doc_id", "text")
    val found = Dedup.minhashPairs(corpus, 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == Set((100L, 101L), (102L, 103L), (104L, 105L)),
      s"recall+precision must be exact on the planted corpus, got $found")
  }

  test("sketch-level banding is exact and duplicate-free on a clone-heavy corpus") {
    // the LSH finders band DISTINCT signatures and reconstitute doc pairs
    // by expansion joins (the scale-point shape: many exact clones per
    // original). Pin (a) simhashPairs == the brute-force Hamming<=3 pair
    // set, (b) no (id_a, id_b) leaves any finder twice — uniqueness now
    // comes from a first-match-band filter plus a cross/intra union, not
    // a distinct()
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 50).map(i => s"w$i")
    val originals = (0 until 12).map { i =>
      (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // 12 originals x 4 exact clones each + 2 one-token edits
    val docs = originals.zipWithIndex.flatMap { case (text, i) =>
      (0 until 4).map(c => (i * 10L + c, text))
    } ++ Seq((900L, originals(0).replace("w", "x")),
      (901L, originals(1).split(" ").updated(5, "edited").mkString(" ")))
    val corpus = docs.toDF("doc_id", "text")

    val found = Dedup.simhashPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(found.size == found.distinct.size, "simhashPairs emitted a duplicate pair")

    // brute force: all C(n,2) sketch pairs within Hamming 3
    val sk = Dedup.shingled(corpus)
      .withColumn("sim", simhash64(col("toks")))
      .select(col("doc_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, sa) <- sk; (ib, sb) <- sk if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(found.toSet == expected,
      s"sketch-level banding must equal brute force: missing=${expected -- found.toSet} extra=${found.toSet -- expected}")

    // the 128-bit wide-band variant must ALSO equal ITS brute force
    // (4x32-bit bands, hamming summed over both lanes)
    val found128 = Dedup.simhashPairs128(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(found128.size == found128.distinct.size,
      "simhashPairs128 emitted a duplicate pair")
    val sk2 = Dedup.shingled(corpus)
      .withColumn("s2", simhash128(col("toks")))
      .select(col("doc_id"), col("s2").getItem(0), col("s2").getItem(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected128 = (for {
      (ia, ha, la) <- sk2; (ib, hb, lb) <- sk2 if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb) <= 3
    } yield (ia, ib)).toSet
    assert(found128.toSet == expected128,
      s"128-bit banding must equal brute force: missing=${expected128 -- found128.toSet} " +
        s"extra=${found128.toSet -- expected128}")

    val mh = Dedup.minhashPairs(corpus, 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(mh.size == mh.distinct.size, "minhashPairs emitted a duplicate pair")
    // every exact-clone pair estimates jaccard 1.0 >= threshold
    val clonePairs = (for {
      i <- 0 until 12; a <- 0 until 4; b <- a + 1 until 4
    } yield (i * 10L + a, i * 10L + b)).toSet
    assert(clonePairs.subsetOf(mh.toSet), "minhashPairs missed an exact-clone pair")
  }

  test("simhash128 kernel: lo lane == simhash64, decorrelated hi, bands cover the sketch") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence with other words entirely"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "")).toDF("doc_id", "text")
    val all = docs.withColumn("toks", split(lower(col("text")), "\\s+"))
      .select(col("doc_id"), simhash128(col("toks")).as("s2"), simhash64(col("toks")).as("s1"))
      .collect().map(r => (r.getLong(0), (r.getSeq[Long](1)(0), r.getSeq[Long](1)(1)), r.getLong(2)))
    all.foreach { case (id, (hi, lo), s1) =>
      // lo lane is the SAME per-bit vote as simhash64 (one shared base
      // hash), so the 128-bit kernel is pinned to the tested 64-bit one
      assert(lo == s1, s"doc $id: lo lane must equal simhash64")
    }
    // identical texts -> identical sketches; different text -> decorrelated
    val m = all.map(t => t._1 -> t._2).toMap
    assert(m(1L) == m(3L), "identical texts must sketch identically")
    assert(m(1L) != m(2L), "different texts must sketch differently")
    assert(m(1L)._1 != m(1L)._2, "hi lane must be decorrelated from lo")

    // pigeonhole: ANY [hi, lo] pair within Hamming 3 shares >= 1 of the
    // 4 32-bit bands — exercised over 2000 random flip trials (0-3 bits)
    val rnd = new scala.util.Random(42)
    def bandsOf(hi: Long, lo: Long): Seq[Long] =
      Seq(lo & 0xffffffffL, (lo >>> 32) & 0xffffffffL,
        hi & 0xffffffffL, (hi >>> 32) & 0xffffffffL)
    (0 until 2000).foreach { _ =>
      val hi = rnd.nextLong(); val lo = rnd.nextLong()
      var (hi2, lo2) = (hi, lo)
      val nFlips = rnd.nextInt(4)
      (0 until nFlips).foreach { _ =>
        val b = rnd.nextInt(128)
        if (b < 64) lo2 ^= (1L << b) else hi2 ^= (1L << (b - 64))
      }
      val shared = bandsOf(hi, lo).zip(bandsOf(hi2, lo2)).exists { case (x, y) => x == y }
      assert(shared, s"hamming<=3 pair must share a 32-bit band: $hi/$lo vs $hi2/$lo2")
    }
  }

  test("knnLabel: planted clusters vote correctly, ties break to the smallest label") {
    import spark.implicits._
    val labeled = Seq(
      (10L, Array(1.0f, 0.0f), 2), (11L, Array(0.99f, 0.01f), 2),
      (12L, Array(0.98f, 0.02f), 2),
      (13L, Array(0.0f, 1.0f), 1), (14L, Array(0.01f, 0.99f), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Array(1.0f, 0.05f)), (2L, Array(0.05f, 1.0f)))
      .toDF("query_id", "q_emb")
    val r = Similarity.knnLabel(labeled, queries, 3).orderBy("query_id").collect()
    assert(r(0).getInt(1) == 2 && r(0).getLong(2) == 3L, s"got ${r.toSeq}") // all-3 +x vote
    assert(r(1).getInt(1) == 1 && r(1).getLong(2) == 2L, s"got ${r.toSeq}") // 2-of-3 +y vote
    assert(r(1).getDouble(3) > 0.99, "winning label's best cosine must be the near-identical one")
    // k=4 for the +y query: 2 votes label 1 vs 2 votes label 2 — the
    // deterministic tie order keeps the SMALLEST label
    val t = Similarity.knnLabel(labeled, queries.filter(col("query_id") === 2L), 4).collect()
    assert(t(0).getInt(1) == 1 && t(0).getLong(2) == 2L, s"got ${t.toSeq}")
  }

  test("mediaNearDupPairs: byte-permuted payloads pair at sim 1.0; exact digest is blind to them") {
    import spark.implicits._
    val m = Seq(
      (1L, "png", "hello world abc".getBytes("UTF-8")),
      (2L, "png", "cba dlrow olleh".getBytes("UTF-8")), // same byte multiset, different bytes
      (3L, "png", "0123 456789 !!! ### 0123456789".getBytes("UTF-8")) // digit/punct nibbles
    ).toDF("doc_id", "format", "payload")
    val pairs = Multimodal.mediaNearDupPairs(m, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.contains((1L, 2L, 1.0)), s"permuted pair must be found at 1.0: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"the digit/punct payload must not pair with the letter payloads: $pairs")
    // the exact-digest operator treats all three as distinct (the blind spot)
    assert(Multimodal.mediaDedup(m).count() == 3)
    // the keep/drop deliverable: the permuted copy prunes to the min id,
    // the genuinely different asset survives
    val kept = Multimodal.mediaSemDedup(m, 0.99)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L), s"got $kept")
  }

  test("mediaNearDupPairs circuit breaker trips on a clustered feature space") {
    import spark.implicits._
    // 40 DISTINCT feature vectors all dominated by one histogram bin
    // ('a' = high nibble 6; '0' = nibble 3 adds a small varying second
    // component): every vector points nearly one direction, so the reps
    // land in the same LSH buckets — the documented quadratic
    // degeneration the breaker must refuse
    val clustered = (0 until 40).map(i =>
      (i.toLong, "png", (("a" * 400) + ("0" * i)).getBytes("UTF-8")))
      .toDF("doc_id", "format", "payload")
    val e = intercept[IllegalStateException] {
      Multimodal.mediaNearDupPairs(clustered, 0.99, maxCandidatePairs = 100L)
    }
    assert(e.getMessage.contains("graft_media_semdedup"),
      s"breaker must point at the linear keep/drop operator: ${e.getMessage}")
    // the same corpus passes untripped through the keep/drop deliverable
    assert(Multimodal.mediaSemDedup(clustered, 0.999).count() >= 1)
    // a benign corpus with an explicit cap still runs to completion
    val small = Seq(
      (1L, "png", "hello world abc".getBytes("UTF-8")),
      (2L, "png", "cba dlrow olleh".getBytes("UTF-8"))
    ).toDF("doc_id", "format", "payload")
    assert(Multimodal.mediaNearDupPairs(small, 0.99, maxCandidatePairs = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("merge_pair kernel: greedy left-to-right, equal-symbol runs merge non-overlapping") {
    import spark.implicits._
    val r = Seq(Seq("x", "x", "x"), Seq("a", "x", "x", "b"), Seq("x"), Seq("x", "x", "x", "x"))
      .toDF("syms").select(mergePair(col("syms"), "x", "x").as("m"))
      .collect().map(_.getSeq[String](0))
    assert(r(0) == Seq("xx", "x"))   // run of 3: first two merge, third survives
    assert(r(1) == Seq("a", "xx", "b"))
    assert(r(2) == Seq("x"))
    assert(r(3) == Seq("xx", "xx"))  // run of 4: two disjoint merges
    // a merged token never re-matches as the LEFT side in the same round
    val r2 = Seq(Seq("x", "x", "x")).toDF("syms")
      .select(mergePair(col("syms"), "xx", "x").as("m")).collect().map(_.getSeq[String](0))
    assert(r2(0) == Seq("x", "x", "x")) // no literal "xx" symbol present
  }

  test("CorpusStats head-sample ratio separates unique from clone-heavy corpora") {
    import spark.implicits._
    val unique = (0 until 400).map(i => (i.toLong, s"unique text number $i with words")).toDF("doc_id", "text")
    val cloned = (0 until 400).map(i => (i.toLong, s"clone text number ${i % 20}")).toDF("doc_id", "text")
    val ru = CorpusStats.headDistinctRatio(unique)
    val rc = CorpusStats.headDistinctRatio(cloned)
    assert(ru > CorpusStats.cloneHeavyBelow, s"unique corpus must rate per-doc, got $ru")
    assert(rc < CorpusStats.cloneHeavyBelow, s"20/400 clone corpus must rate clone-heavy, got $rc")
    // a sample smaller than the corpus stays within HLL error of the truth
    val rs = CorpusStats.headDistinctRatio(cloned, sample = 100)
    assert(rs < CorpusStats.cloneHeavyBelow, s"sampled estimate must still classify, got $rs")
    assert(CorpusStats.headDistinctRatio(unique.limit(0)) == 1.0, "empty corpus defaults to 1.0")
  }

  test("adaptive plan modes are result-equivalent (per-doc vs sketch/content-addressed)") {
    // every adaptive operator picks between two plan SHAPES by the
    // corpus's distinct ratio (CorpusStats); the choice must never change
    // the ANSWER. Force both modes via the explicit distinctRatio knob on
    // a corpus holding clones, near-edits, and uniques, and require
    // identical result sets.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"w$i")
    val originals = (0 until 10).map { _ =>
      (0 until 25).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val docs = originals.zipWithIndex.flatMap { case (text, i) =>
      (0 until 3).map(c => (i * 10L + c, text)) // 3 exact clones each
    } ++ Seq(
      (900L, originals(0).split(" ").updated(3, "edited").mkString(" ")),
      (901L, (0 until 25).map(i => s"u$i").mkString(" ")))
    val corpus = docs.toDF("doc_id", "text")
    val perDoc = Some(1.0) // >= threshold → per-doc shape
    val sketch = Some(0.0) // < threshold → sketch / content-addressed

    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet

    assert(rows(Dedup.minhashPairs(corpus, 0.35, perDoc)) ==
      rows(Dedup.minhashPairs(corpus, 0.35, sketch)), "minhashPairs modes disagree")
    assert(rows(Dedup.simhashPairs(corpus, 3, perDoc)) ==
      rows(Dedup.simhashPairs(corpus, 3, sketch)), "simhashPairs modes disagree")
    assert(rows(Dedup.simhashPairs128(corpus, 3, perDoc)) ==
      rows(Dedup.simhashPairs128(corpus, 3, sketch)), "simhashPairs128 modes disagree")
    assert(rows(TextAnalysis.repetitionStats(corpus, distinctRatio = perDoc)) ==
      rows(TextAnalysis.repetitionStats(corpus, distinctRatio = sketch)),
      "repetitionStats modes disagree")
    assert(rows(TextAnalysis.lmScore(corpus, perDoc)) ==
      rows(TextAnalysis.lmScore(corpus, sketch)), "lmScore modes disagree")

    val vecs = ((0 until 6).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    } ++ (0 until 3).map { i =>
      (100L + i, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    }).flatMap { case (id, v) =>
      if (id < 3) Seq((id, v), (id + 1000L, v.map(_ * 2f))) else Seq((id, v))
    }.toDF("vec_id", "embedding")
    assert(rows(Dedup.embeddingPairs(vecs, 5, perDoc)) ==
      rows(Dedup.embeddingPairs(vecs, 5, sketch)), "embeddingPairs modes disagree")
  }

  test("repetitionStats and contamination match a Scala reference model on a random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = (0 until 30).map(i => s"w$i")
    // lengths 1..40 include the no-bigram edge (n = 1)
    val docs: Seq[(Long, String)] = (0 until 100).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")

    // --- repetition: exact per-doc model ---
    val got = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4))).toMap
    docs.foreach { case (id, text) =>
      val tk = text.split("\\s+").toSeq
      val dup = 1.0 - tk.distinct.size.toDouble / tk.size
      val bgs = tk.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val top = if (bgs.isEmpty) 0.0
        else bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size
      val (n, dupR, topR, keep) = got(id)
      assert(n == tk.size)
      assert(math.abs(dupR - dup) < 1e-4, s"doc $id dup_ratio")
      assert(math.abs(topR - top) < 1e-4, s"doc $id top_bigram_frac")
      assert(keep == (if (dup > 0.65 || top >= 0.1) 0 else 1), s"doc $id keep")
    }

    // --- contamination: distinct 3-gram intersection model ---
    def shingleSet(text: String): Set[Seq[String]] = {
      val tk = text.toLowerCase.split("\\s+").toSeq
      if (tk.size < 3) Set(tk) else tk.sliding(3).toSet
    }
    val bench = docs.take(10).map { case (id, t) => (id + 1000L, t) }
    val gotC = Curation.contamination(df, bench.toDF("doc_id", "text"), 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expC = (for {
      (ti, tt) <- docs
      (bi, bt) <- bench
      ov = (shingleSet(tt) intersect shingleSet(bt)).size
      if ov >= 2
    } yield (ti, bi) -> ov.toLong).toMap
    assert(gotC == expC, s"contamination mismatch: extra=${gotC.keySet -- expC.keySet} missing=${expC.keySet -- gotC.keySet}")
  }

  test("brute-force ANN returns a full descending top-5 per query") {
    val rows = q("s01_ann_bruteforce").collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 8)
    byQuery.values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.sameElements(1 to 5))
      val sims = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  // raw approximate top-k shapes (the driver-visible s02/s03 queries emit
  // planted-clone verdicts instead, so the oracle can hash-check them)
  private def annBase = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
  private def annQueries = annBase.filter(col("vec_id") < 8)
    .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  test("LSH ANN raw top-k never beats the exact top-1 and ranks contiguously") {
    val exactTop = Similarity.bruteForceTopK(annBase, annQueries, 1)
      .collect().map(r => r.getLong(r.fieldIndex("query_id")) -> r.getDouble(r.fieldIndex("raw_cos"))).toMap
    val rows = Similarity.lshTopK(annBase, annQueries, 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("raw_cos")) <= exactTop(r.getLong(r.fieldIndex("query_id"))) + 1e-9)
    }
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val ranks = g.map(r => r.getInt(r.fieldIndex("rank"))).sorted
      assert(ranks.sameElements(1 to ranks.length)) // contiguous from 1
    }
  }

  test("PQ ANN: bit-identical retrain, planted clone top-1, recall vs exact euclidean") {
    val model = Similarity.pqTrain(annBase)
    val model2 = Similarity.pqTrain(annBase)
    assert(model.m == model2.m && model.k == model2.k && model.sub == model2.sub)
    assert(model.cents.sameElements(model2.cents), "retrain must be bit-identical")
    val verdict = q("s14_pq_ann").collect()
    assert(verdict.length == 8 && verdict.forall(_.getInt(1) == 1),
      "planted clone must rank first under ADC")
    // ADC approximates EUCLIDEAN distance — measure recall@5 against the
    // exact squared-euclidean top-5 (not the cosine rank s01 uses)
    val all = annBase.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val qs = all.filter(_._1 < 8)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val exact = qs.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid).map { case (id, v) => (id, d2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
    }.toMap
    val pq = Similarity.pqTopK(annBase, annQueries, model, 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = qs.map { case (qid, _) =>
      (pq(qid) intersect exact(qid)).size.toDouble / 5.0
    }.sum / qs.length
    // measured 0.525 at the m=16/k=64 defaults on this corpus (uniform
    // random vectors — PQ's hardest regime; random baseline ≈ 0.008);
    // the bar leaves margin for driver testdata regeneration
    assert(recall >= 0.35, s"mean recall@5 vs exact euclidean = $recall")
  }

  test("PQ ANN excludeSelf=false: an id-sharing vector in an independent base still ranks") {
    import spark.implicits._
    // base and queries use INDEPENDENT id spaces that collide on id 1;
    // with excludeSelf=false base vector 1 (the true nearest) must rank
    val pqBase = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0f, 0.05f))).toDF("query_id", "q_emb")
    val model = Similarity.pqTrain(pqBase, m = 1, k = 3)
    val withSelf = Similarity.pqTopK(pqBase, q, model, 1, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(withSelf.toSeq == Seq((1L, 1L)),
      s"id-sharing nearest neighbor must rank when excludeSelf=false: ${withSelf.toSeq}")
    val without = Similarity.pqTopK(pqBase, q, model, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(without.toSeq.nonEmpty && without.head._2 != 1L,
      "default corpus-ANN mode excludes the self id")
  }

  test("PQ recall envelope on planted-structure corpora at 64 and 256 dims") {
    // The s14 sweep documents recall on UNIFORM RANDOM vectors — PQ's
    // hardest regime. This gate pins the QUALITY ENVELOPE in the regime
    // PQ actually serves: each query has 10 TRUE near neighbors (noise
    // 0.02) planted against a 16-cluster background (spread 0.3), at
    // realistic dimensionality — retrieval separated by cell structure,
    // not intra-cluster fine ranking (which sits BELOW quantization
    // resolution by construction: measured recall@10 ≈ 0.2–0.3 when the
    // exact top-10 are same-cluster members at noise scale 0.05 — the
    // honest limit of any code-width index, resolved in deployment by
    // the s16 exact re-rank over a shortlist that spans the cluster).
    // Deterministic seed so the floors never move with partition layout.
    import spark.implicits._
    def plantedCorpus(dim: Int): Seq[(Long, Array[Float])] = {
      val rnd = new scala.util.Random(7)
      val centers = Array.fill(16, dim)((rnd.nextDouble() * 2 - 1).toFloat)
      val bg = (0 until 2000).map { i =>
        val c = centers(i % 16)
        (i.toLong, c.map(x => x + (rnd.nextGaussian() * 0.3).toFloat))
      }
      val planted = (0 until 8).flatMap { q =>
        val qv = bg(q)._2
        (0 until 10).map(j =>
          ((2000 + q * 10 + j).toLong, qv.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)))
      }
      bg ++ planted
    }
    def recallAt(dim: Int, m: Int, k: Int): (Double, Double) = {
      val data = plantedCorpus(dim)
      val base = data.toDF("vec_id", "embedding")
      val queries = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val model = Similarity.pqTrain(base, m = m, k = k)
      // exact EUCLIDEAN top-10 (ADC's metric), self excluded — by
      // construction each query's exact set is its 10 planted neighbors
      val all = data.map { case (id, v) => id -> v.map(_.toDouble) }
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val exact = all.filter(_._1 < 8).map { case (qid, qv) =>
        qid -> all.filter(_._1 != qid).map { case (id, v) => (id, d2(qv, v)) }
          .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      }.toMap
      val adc = Similarity.pqTopK(base, queries, model, 10).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rr = Similarity.pqTopKReranked(base, queries, model, 10, shortlist = 50)
        .collect().groupBy(r => r.getLong(r.fieldIndex("query_id")))
        .view.mapValues(_.map(r => r.getLong(r.fieldIndex("vec_id"))).toSet).toMap
      val rAdc = exact.keys.toSeq.map(q => (adc(q) intersect exact(q)).size / 10.0).sum / 8
      val rRr = exact.keys.toSeq.map(q => (rr(q) intersect exact(q)).size / 10.0).sum / 8
      (rAdc, rRr)
    }
    val (adc64, rr64) = recallAt(64, 16, 64)
    val (adc256, rr256) = recallAt(256, 32, 64)
    info(f"recall@10 planted-neighbor: 64d ADC=$adc64%.3f rerank=$rr64%.3f; 256d ADC=$adc256%.3f rerank=$rr256%.3f")
    assert(adc64 >= 0.70, s"64-dim ADC recall@10 = $adc64")
    assert(rr64 >= adc64 - 1e-9 && rr64 >= 0.90, s"64-dim reranked recall@10 = $rr64")
    assert(adc256 >= 0.70, s"256-dim ADC recall@10 = $adc256")
    assert(rr256 >= adc256 - 1e-9 && rr256 >= 0.90, s"256-dim reranked recall@10 = $rr256")
    // the full IVF-ADC ladder at 64 dims: planted neighbors sit at noise
    // 0.02 around the query, so cell routing must keep them reachable
    // within nprobe=4 of the 16 coarse cells
    val data64 = plantedCorpus(64)
    val base64 = data64.toDF("vec_id", "embedding")
    val q64 = base64.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val (km, pq) = Similarity.ivfPqTrain(base64, cells = 16, m = 16, k = 64)
    val expectedIvf = (0 until 8).map(q =>
      q.toLong -> (0 until 10).map(j => 2000L + q * 10 + j).toSet).toMap
    val ivf = Similarity.ivfPqTopK(base64, q64, km, pq, 10, nprobe = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rIvf = expectedIvf.keys.toSeq
      .map(q => (ivf.getOrElse(q, Set.empty[Long]) intersect expectedIvf(q)).size / 10.0).sum / 8
    info(f"recall@10 planted-neighbor: 64d IVF-ADC (nprobe 4/16) = $rIvf%.3f")
    assert(rIvf >= 0.70, s"64-dim IVF-ADC recall@10 = $rIvf")
  }

  test("concurrent PQ plan-building on one session binds each model's own centroids") {
    // regression for the fixed-name registry race: two threads building
    // pqTopK plans with DIFFERENT models used to interleave
    // register/analyze and bind the wrong model's centroids; direct
    // expression construction makes each plan close over its own model
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // model A lives on axis 0, model B on axis 1 — a cross-bound plan
    // returns the wrong nearest id deterministically
    val baseA = Seq((1L, Array(10.0f, 0.0f)), (2L, Array(0.0f, 10.0f)), (3L, Array(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val baseB = Seq((1L, Array(0.0f, 10.0f)), (2L, Array(10.0f, 0.0f)), (3L, Array(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((9L, Array(10.0f, 0.0f))).toDF("query_id", "q_emb")
    val mA = Similarity.pqTrain(baseA, m = 1, k = 3)
    val mB = Similarity.pqTrain(baseB, m = 1, k = 3)
    val pool = Executors.newFixedThreadPool(2)
    try {
      (0 until 20).foreach { _ =>
        val start = new CountDownLatch(1)
        val fa = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = { start.await()
            Similarity.pqTopK(baseA, q, mA, 1, excludeSelf = false).head().getLong(1) }
        })
        val fb = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = { start.await()
            Similarity.pqTopK(baseB, q, mB, 1, excludeSelf = false).head().getLong(1) }
        })
        start.countDown()
        assert(fa.get(120, TimeUnit.SECONDS) == 1L, "model A's nearest is vec 1")
        assert(fb.get(120, TimeUnit.SECONDS) == 2L, "model B's nearest is vec 2")
      }
    } finally pool.shutdown()
  }

  test("IVF-ADC: planted clone top-1, candidates confined to probed cells") {
    val verdict = q("s15_ivfpq_ann").collect()
    assert(verdict.length == 8 && verdict.forall(_.getInt(1) == 1),
      "planted clone must rank first under IVF-ADC")
    // every returned candidate must come from a cell the query probed —
    // the pruning contract (nprobe=1: only the query's own nearest cell)
    val (km, pq) = Similarity.ivfPqTrain(annBase, cells = 4, m = 16, k = 16)
    val got = Similarity.ivfPqTopK(annBase, annQueries, km, pq, 5, nprobe = 1)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val cellOf = Similarity.assignCells(annBase, km)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    got.foreach { case (qid, ids) =>
      val probed = cellOf(qid) // the query vector's own cell is its nearest
      ids.foreach(id => assert(cellOf(id) == probed,
        s"candidate $id of query $qid escaped the probed cell"))
    }
  }

  test("persisted IVF-ADC artifacts: query path equals inline path, no retraining") {
    withScratch("graft-ivfpq-art-") { case Seq(path) =>
      val report = Similarity.writeIvfPqIndex(annBase, path, cells = 4, m = 16, kps = 16)
        .head()
      assert(report.getLong(0) == annBase.count(), "every vector must be encoded")
      val q = annQueries
      val persisted = Similarity.ivfPqQueryIndex(q, path, 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val (km, pq) = Similarity.ivfPqTrain(annBase, cells = 4, m = 16, k = 16)
      val inline = Similarity.ivfPqTopK(annBase, q, km, pq, 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(persisted == inline,
        s"persisted path diverged from inline: ${persisted.diff(inline)} / ${inline.diff(persisted)}")
    }
  }

  test("dedup clusters are closed under the pair graph") {
    val pairs = q("d02_dedup_minhash").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = q("d06_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // every rep is the smallest id of its component and not itself a member
    clusters.foreach { case (member, rep) =>
      assert(rep < member)
      assert(!clusters.contains(rep))
    }
    // every paired doc appears in exactly one component
    pairs.foreach { case (a, b) =>
      val ra = clusters.getOrElse(a, a)
      val rb = clusters.getOrElse(b, b)
      assert(ra == rb, s"pair ($a,$b) split across components $ra/$rb")
    }
  }

  test("IVF ANN raw top-1 agrees with brute force on most queries") {
    val exact = q("s01_ann_bruteforce").filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val model = Similarity.trainQuantizer(annBase)
    val ivf = Similarity.ivfTopK(annBase, annQueries, model, 1)
      .collect().map(r => r.getLong(r.fieldIndex("query_id")) -> r.getLong(r.fieldIndex("vec_id"))).toMap
    assert(ivf.size == 8)
    val agree = exact.count { case (qid, vid) => ivf.get(qid).contains(vid) }
    // probing 4/16 cells of random data: expect decent but not perfect recall
    assert(agree >= 4, s"IVF top-1 recall too low: $agree/8")
  }

  test("s02/s03 planted-clone verdicts are all-green constants") {
    Seq("s02_ann_lsh" -> "lsh", "s03_ann_ivf" -> "ivf").foreach { case (name, p) =>
      val rows = q(name).collect()
      assert(rows.map(_.getLong(0)).toSeq == (0L until 8L), s"$name query ids")
      rows.foreach { r =>
        assert(r.getInt(r.fieldIndex(s"${p}_top1_ok")) == 1, s"$name clone not top-1")
        assert(r.getDouble(r.fieldIndex(s"${p}_top1_cos")) == 1.0, s"$name clone cosine")
      }
    }
  }

  test("text quality/token features are internally consistent") {
    val rows = q("t02_text_quality").collect()
    rows.foreach { r =>
      assert(r.getLong(1) > 0) // n_chars
      assert(r.getLong(2) > 0) // n_tokens
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1) // stop_ratio
    }
    q("t03_text_tokens").collect().foreach { r =>
      assert(r.getLong(2) >= r.getLong(1)) // n_bpe >= n_ws
    }
  }

  test("sketch expressions are deterministic and discriminative") {
    def words(ws: String*) = array(ws.map(lit): _*)
    val fox = lit("the quick brown fox jumps over the lazy dog")
    val r = spark.range(1).select(
      rollingFingerprint(fox, 16).as("a"),
      rollingFingerprint(fox, 16).as("b"),
      rollingFingerprint(lit("a completely different document body here"), 16).as("c"),
      minhashSig(words("x y z", "y z w"), 8).as("s1"),
      minhashSig(words("x y z", "y z w"), 8).as("s2"),
      simhash64(words("alpha", "beta", "gamma")).as("h1"),
      simhash64(words("alpha", "beta", "delta")).as("h2"),
      size(shingleHashes(words("a", "b", "c", "d"), 3)).as("nsh")).head()
    assert(r.getLong(0) == r.getLong(1) && r.getLong(0) != r.getLong(2))
    assert(r.getSeq[Long](3) == r.getSeq[Long](4))
    assert(r.getLong(5) != r.getLong(6))
    assert(r.getInt(7) == 2)
  }

  test("multimodal meta and features agree on payload size") {
    val meta = q("m01_mm_meta").select("doc_id", "n_bytes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q("m02_mm_features").collect().foreach { r =>
      val histSum = (5 until 21).map(r.getLong).sum // h0..h15 scalar bins
      assert(r.getLong(2) == meta(r.getLong(0))) // n_bytes matches
      assert(histSum == r.getLong(2)) // histogram covers every byte
    }
  }

  test("approximate sketches land within tolerance of exact answers") {
    val li = Tables.load(spark, dir, "lineitem")
    val exact = li.agg(
      countDistinct(col("l_partkey")), countDistinct(col("l_suppkey")),
      expr("percentile(l_extendedprice, 0.5)")).head()
    val r = q("q27_approx").head()
    // exact columns agree with the direct computation…
    assert(r.getLong(0) == exact.getLong(0) && r.getLong(1) == exact.getLong(1))
    assert(math.abs(r.getDouble(2) - exact.getDouble(2)) < 1e-3)
    // …and the query's own bounded-error verdicts all hold (1 = ok)
    assert(r.getInt(3) == 1 && r.getInt(4) == 1 && r.getInt(5) == 1)
  }

  test("connected components converge past any fixed round budget (diameter-8 chain)") {
    import spark.implicits._
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
    val pairs = (chain :+ (100L, 101L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a 9-node chain needs 8 propagation rounds — a fixed 5-round loop
    // would silently mislabel the tail
    assert((2L to 9L).forall(cc(_) == 1L))
    assert(cc(101L) == 100L)
    assert(!cc.contains(1L) && !cc.contains(100L)) // reps are not members
  }

  test("incrementalNearAdmit matches a local reference model on the real corpus split") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val base = docs.filter(col("doc_id") % 5 === 0)
    val inc = base
      .unionByName(hist.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val admitted = Dedup
      .incrementalNearAdmit(inc, Dedup.bandRows(Dedup.simSketch(hist)))
      .collect().map(_.getLong(0)).toSet

    // reference model over the OPERATOR's own sketches (SimHash values
    // are engine-specific; the semantics under test are the band probe,
    // the Hamming gate, and the cluster-rep rule)
    def bands(s: Long) = (0 until 4).map(b => (b, (s >>> (b * 16)) & 0xffffL))
    val hsk = Dedup.simSketch(hist).collect().map(_.getLong(1))
    val isk = Dedup.simSketch(inc).collect().map(r => (r.getLong(0), r.getLong(1)))
    val histBuckets: Map[(Int, Long), Seq[Long]] =
      hsk.flatMap(s => bands(s).map(_ -> s)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSeq).toMap
    val rejected = isk.filter { case (_, s) =>
      bands(s).exists(bb => histBuckets.getOrElse(bb, Nil)
        .exists(h => java.lang.Long.bitCount(h ^ s) <= 3))
    }.map(_._1).toSet
    val surv = isk.filterNot(d => rejected(d._1))
    // union-find over distinct surviving sketches sharing a band bucket
    // within Hamming 3
    val sketches = surv.map(_._2).distinct
    val parent = scala.collection.mutable.Map(sketches.map(s => s -> s): _*)
    def find(s: Long): Long = if (parent(s) == s) s else { val r = find(parent(s)); parent(s) = r; r }
    for {
      i <- sketches.indices; j <- (i + 1) until sketches.length
      a = sketches(i); b = sketches(j)
      if bands(a).map(_._2).zip(bands(b).map(_._2)).exists { case (x, y) => x == y } &&
        java.lang.Long.bitCount(a ^ b) <= 3
    } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val expected = surv.groupBy(d => find(d._2)).values.map(_.map(_._1).min).toSet
    assert(admitted == expected,
      s"admitted=${admitted.size} expected=${expected.size}; " +
        s"extra=${(admitted -- expected).take(5)} missing=${(expected -- admitted).take(5)}")
    assert(admitted.nonEmpty && rejected.nonEmpty, "split must exercise both outcomes")
  }

  test("connected components: 1000-node path converges in O(log n) rounds") {
    import spark.implicits._
    // the adversarial shape for label propagation: one maximal-diameter
    // chain. Plain propagation moves the min label one hop per round
    // (999 rounds > maxRounds → silent partial clusters); pointer
    // jumping must close it in ~log2(999) ≈ 10 rounds plus slack.
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.ccWithRounds(pairs, maxRounds = 50)
    val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 999 && (1L to 999L).forall(cc(_) == 0L),
      "every chain node must label to the representative 0")
    assert(rounds <= 12, s"path-halving lost its O(log n) convergence: $rounds rounds")
  }

  test("minhash estimates stay within [threshold, 1]") {
    val est = Dedup.minhashPairs(spark, dir, 0.35).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val v = r.getDouble(2)
      assert(v >= 0.35 && v <= 1.0)
    }
  }

  test("as-of join: click is at-or-before the purchase, and is the latest one") {
    val e = Tables.load(spark, dir, "events")
    val rows = q("q43_asof_join").collect()
    assert(rows.nonEmpty)
    def ldt(r: org.apache.spark.sql.Row, i: Int) = r.getAs[java.time.LocalDateTime](i)
    rows.filter(!_.isNullAt(4)).foreach { r =>
      assert(!ldt(r, 4).isAfter(ldt(r, 2))) // click_ts <= ts
    }
    // cross-check one purchase against a direct computation
    val sample = rows.filter(!_.isNullAt(4)).head
    val expected = e.filter(col("event_type") === "click" &&
        col("user_id") === sample.getLong(1) && col("ts") <= lit(ldt(sample, 2)))
      .agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)
    assert(ldt(sample, 4) == expected)
  }

  test("ANN recall gate passes for every query at sf0.001") {
    val rows = q("s04_ann_recall").collect()
    assert(rows.length == 8)
    rows.foreach(r => assert(r.getInt(1) == 1 && r.getInt(2) == 1))
  }

  test("m03 resize preserves the 224 box and frame plan invariants") {
    q("m03_mm_resize").collect().foreach { r =>
      val (w, h, rw, rh) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(math.max(rw, rh) <= 224 && math.min(rw, rh) >= 1)
      assert((w >= h) == (rw >= rh)) // orientation preserved
      val (frames, sampled, stride) = (r.getLong(5), r.getLong(6), r.getLong(7))
      assert(sampled <= 8 && sampled >= 1 && stride >= 1)
      assert(stride * sampled <= frames || frames < 8)
    }
  }

  test("p02 stratified sample respects per-language quotas") {
    val rows = q("p02_stratified_sample").collect()
    assert(rows.nonEmpty)
    val quota = Map("en" -> 500L, "de" -> 300L, "es" -> 200L).withDefaultValue(100L)
    rows.foreach(r => assert(r.getLong(2) < quota(r.getString(1))))
    // deterministic: a second run returns the identical sample
    assert(q("p02_stratified_sample").collect().map(_.getLong(0)).toSeq ==
      rows.map(_.getLong(0)).toSeq)
  }

  test("t06 redaction removes every digit and counts matches") {
    q("t06_text_redact").collect().foreach { r =>
      assert(!r.getString(2).exists(_.isDigit))
      assert((r.getLong(1) > 0) == r.getString(2).contains("<NUM>"))
    }
  }

  test("semDedup prunes higher-id near-dups within a cell only") {
    import spark.implicits._
    // cell 0: v2 is near v1 (cos .9987), v3 orthogonal, v4 a clone of v1;
    // v5 clones v1 too but sits in ANOTHER cell — pruning is cell-scoped
    val assigned = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.05f), 0),
      (3L, Array(0.0f, 1.0f), 0),
      (4L, Array(1.0f, 0.0f), 0),
      (5L, Array(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "cell")
    val kept = Dedup.semDedup(assigned, 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
    // at a tau above the planted similarity, only exact clones prune
    val keptHi = Dedup.semDedup(assigned, 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptHi == Set(1L, 2L, 3L, 5L))
  }

  test("d10 semdedup gate: kept set is exactly the original ids") {
    val ids = q("d10_semdedup").collect().map(_.getLong(0)).toSeq
    val want = Tables.load(spark, dir, "embeddings")
      .select("vec_id").orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids == want)
  }

  test("classifier score matches an independent md5 reference model") {
    import spark.implicits._
    def bucket(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => "%02x".format(b & 0xff)).mkString, 16) % 4096
    }
    val wts: Map[Long, Double] = TextAnalysis.seedLexicon
      .groupBy { case (t, _) => bucket(t) }
      .map { case (b, ts) => b -> ts.map(_._2).sum }
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog"),
      (2L, "click here to buy free stuff http www click"),
      (3L, "Some Mixed CASE text with der und die")).toDF("doc_id", "text")
    val got = TextAnalysis.classifierScore(docs, TextAnalysis.seedWeights(spark), 4096)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    docs.collect().foreach { r =>
      val toks = r.getString(1).toLowerCase.split("\\s+")
      val exp = toks.map(t => wts.getOrElse(bucket(t), 0.0)).sum / toks.length
      val (logit, n) = got(r.getLong(0))
      assert(n == toks.length)
      assert(math.abs(logit - exp) < 5.01e-5, s"doc ${r.getLong(0)}: $logit vs $exp")
    }
    // the lexicon separates: a stopword-rich doc outscores a spam doc
    assert(got(1L)._1 > got(2L)._1)
  }

  test("bm25TopK matches the hand-computed formula, sums multi-term queries, cuts at k") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana apple"),   // dl 3, tf(apple)=2
      (2L, "apple cherry"),         // dl 2, tf(apple)=1
      (3L, "banana banana banana"), // dl 3
      (4L, "cherry date elder")     // dl 3
    ).toDF("doc_id", "text")
    val qt = Seq((0, "apple"), (0, "banana"), (1, "cherry")).toDF("query_id", "term")
    val got = TextAnalysis.bm25TopK(corpus, qt, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    // reference scorer: N=4, avgdl=11/4, Lucene idf, k1=1.2, b=0.75,
    // per-term weight rounded to the decimal(18,6) grid before summing
    def w(tf: Long, df: Long, dl: Long): BigDecimal = {
      val idf = math.log(1.0 + (4.0 - df + 0.5) / (df + 0.5))
      val raw = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (11.0 / 4.0))))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val d1 = (w(2, 2, 3) + w(1, 2, 3)).toDouble // doc 1: apple + banana
    assert(got((0, 1L))._1 == d1, s"${got((0, 1L))._1} vs $d1")
    assert(got((0, 2L))._1 == w(1, 2, 2).toDouble)
    assert(got((0, 3L))._1 == w(3, 2, 3).toDouble)
    assert(got((1, 4L))._1 == w(1, 2, 3).toDouble)
    // doc 4 has no query-0 terms, doc 3 none of query 1
    assert(!got.contains((0, 4L)) && !got.contains((1, 3L)))
    // ranks: query 0 ordered by score desc
    val q0 = got.collect { case ((0, d), (s, rk)) => (rk, d, s) }.toSeq.sortBy(_._1)
    assert(q0.map(_._3).reverse.sorted.sameElements(q0.map(_._3).reverse))
    // k cutoff
    assert(TextAnalysis.bm25TopK(corpus, qt, 1).groupBy("query_id").count()
      .collect().forall(_.getLong(1) == 1L))
  }

  test("lloydAssign: hand-checked 2D Lloyd, ties to smallest cluster, empty-cluster fallback") {
    import spark.implicits._
    // two obvious groups around (0,0) and (10,10); seeds start badly
    // inside ONE group — after the update both centroids separate
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(11.0f, 10.0f)), (5L, Array(10.0f, 11.0f))
    ).toDF("vec_id", "embedding")
    val seeds = Array(Array(0.0, 0.0), Array(2.0, 2.0))
    // iteration 1: cluster 0 = {0,1,2} (near origin), cluster 1 = {3,4,5}
    // (2,2 is nearer the far group? no — dist((10,10),(0,0))=200 vs
    // (10,10),(2,2)=128 → far group to cluster 1; (1,0): d0=1 < d1=5)
    val it1 = Similarity.lloydAssign(pts, seeds, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(it1 == Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1))
    // after the update, centroids are the group means — assignment stable
    val it2 = Similarity.lloydAssign(pts, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(it2 == it1)
    // exact tie → smallest cluster index
    val tie = Seq((9L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val t = Similarity.lloydAssign(tie, Array(Array(0.0, 0.0), Array(2.0, 2.0)), 1).collect()
    assert(t.head.getInt(1) == 0)
    // a cluster that loses every member keeps its previous centroid (no
    // NaN/neg index): seed 1 so remote nobody joins it
    val far = Similarity.lloydAssign(pts, Array(Array(5.0, 5.0), Array(1e9, 1e9)), 2)
      .collect().map(_.getInt(1)).toSet
    assert(far == Set(0))
  }

  test("sampleFrames: byte-exact slices, reassembly round-trip, stride sampling, empty payload") {
    import spark.implicits._
    val payload = (0 until 100).map(_.toByte).toArray
    val media = Seq((1L, "wav", payload), (2L, "wav", Array.empty[Byte]))
      .toDF("doc_id", "format", "payload")
    // stride 1: frames partition the payload; concatenation reproduces it
    val all = Multimodal.sampleFrames(media, frameSize = 32, stride = 1)
      .filter(col("doc_id") === 1L).orderBy("frame_idx").collect()
    assert(all.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(all.map(_.getLong(2)).toSeq == Seq(32L, 32L, 32L, 4L), "tail frame must truncate")
    assert(all.flatMap(_.getAs[Array[Byte]]("frame")).toSeq == payload.toSeq,
      "stride-1 frames must reassemble the payload byte-for-byte")
    // stride 4 keeps exactly the j % 4 == 0 frames with identical content
    val sampled = Multimodal.sampleFrames(media, 8, 4)
      .filter(col("doc_id") === 1L).orderBy("frame_idx").collect()
    assert(sampled.map(_.getLong(1)).toSeq == Seq(0L, 4L, 8L, 12L))
    assert(sampled.forall(r =>
      r.getAs[Array[Byte]]("frame").toSeq ==
        payload.slice(r.getLong(1).toInt * 8, r.getLong(1).toInt * 8 + 8).toSeq))
    // empty payload emits no frames
    assert(Multimodal.sampleFrames(media, 32, 1).filter(col("doc_id") === 2L).count() == 0)
  }

  test("boilerplatePhrases: planted footer mined exactly; hash/string pairing consistent") {
    import spark.implicits._
    // 20 distinct bodies; half carry the same 4-word footer
    val corpus = (0 until 20).map { i =>
      val body = s"alpha$i beta$i gamma$i delta$i epsilon$i"
      (i.toLong, if (i % 2 == 0) s"$body click here to subscribe" else body)
    }.toDF("doc_id", "text")
    val got = TextAnalysis.boilerplatePhrases(corpus, n = 3, minDfRatio = 0.3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // interior 3-grams of the footer appear in all 10 footer docs; the
    // boundary 3-grams (epsilonX click here) differ per doc (df = 1)
    assert(got == Map("click here to" -> 10L, "here to subscribe" -> 10L), s"got $got")
    // shingle_pairs hashes agree with shingle_hashes on the same input
    val toks = split(lower(col("text")), "\\s+")
    val both = corpus.select(shinglePairs(toks, 3).as("p"), shingleHashes(toks, 3).as("h"))
      .collect()
    both.foreach { r =>
      val ph = r.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0))
      val hh = r.getSeq[Long](1)
      assert(ph == hh, "shingle_pairs must emit the same distinct hash stream as shingle_hashes")
    }
    // short doc: one whole-text shingle
    val short = Seq((1L, "tiny doc")).toDF("doc_id", "text")
    val sp = TextAnalysis.boilerplatePhrases(short, n = 5, minDfRatio = 0.5).collect()
    assert(sp.map(_.getString(0)).toSeq == Seq("tiny doc"))
  }

  test("embeddingHygiene: norms exact, planted outlier and zero vector flagged") {
    import spark.implicits._
    // 10 unit-ish vectors + one 100x outlier + one zero vector
    val base = (0 until 10).map(i => (i.toLong, Array(3.0f, 4.0f))) :+
      (100L, Array(300.0f, 400.0f)) :+ (101L, Array(0.0f, 0.0f))
    val df = base.toDF("vec_id", "embedding")
    val got = Similarity.embeddingHygiene(df)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(0L)._1 == 5.0 && got(100L)._1 == 500.0 && got(101L)._1 == 0.0)
    assert(got(100L)._2 == 1, "100x-scaled vector must flag as outlier")
    assert(got(101L)._3 == 1, "zero vector must flag as degenerate")
    assert((0 until 10).forall(i => got(i.toLong)._3 == 0), "healthy vectors unflagged")
    // s07's driver binding carries the planted defects end-to-end
    val s07 = q("s07_embedding_hygiene").collect()
    val flags = s07.map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(flags(1000000L)._1 == 1, "planted 100x clone must be an outlier")
    assert(flags(1000002L)._2 == 1, "planted zero vector must be degenerate")
  }

  test("bestRepresentatives: per-cluster quality argmax, ties to smallest id, reps compete") {
    import spark.implicits._
    // two components: {1,2,3} chained, {10,11}; singleton 99 (no pairs)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val scored = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9), // argmax quality tie -> min id 2
      (10L, 0.1), (11L, 0.8),          // plain argmax
      (99L, 1.0)
    ).toDF("doc_id", "quality")
    val got = Dedup.bestRepresentatives(pairs, scored)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(1L -> ((2L, 0.9)), 10L -> ((11L, 0.8))), s"got $got")
    // the cluster REP itself must compete: rep 1 wins when it scores best
    val scored2 = Seq((1L, 0.99), (2L, 0.5), (3L, 0.5), (10L, 0.1), (11L, 0.8))
      .toDF("doc_id", "quality")
    val got2 = Dedup.bestRepresentatives(pairs, scored2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(1L) == 1L)
  }

  test("heuristicFilter: each Gopher rule fires on its planted violation, defaults pass clean prose") {
    import spark.implicits._
    val clean = ("the quick brown fox jumps over and over to the riverbank " * 6).trim // 66 words, stopwords the/and/to/of? the,and,to present
    val docs = Seq(
      (1L, clean),                                        // passes every rule
      (2L, "too short to keep"),                          // f_words (4 < 50)
      (3L, ("## ### #### " * 30).trim + " " + clean),     // symbol-heavy → f_symbol + f_alpha
      (4L, ("zz " * 80).trim),                            // mean len 2 < 3 → f_mean_len; no stopwords → f_stop
      (5L, ("internationalization " * 60).trim))          // mean len 21 > 10 → f_mean_len
      .toDF("doc_id", "text")
    val r = TextAnalysis.heuristicFilter(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("keep"), "clean doc must pass all rules")
    assert(!r(2L).getAs[Boolean]("f_words") && !r(2L).getAs[Boolean]("keep"))
    assert(!r(3L).getAs[Boolean]("f_symbol"), "hash-mark symbols must trip the symbol ratio")
    assert(!r(3L).getAs[Boolean]("f_alpha"), "letterless words must trip the alpha ratio")
    assert(!r(4L).getAs[Boolean]("f_mean_len") && !r(4L).getAs[Boolean]("f_stop"))
    assert(!r(5L).getAs[Boolean]("f_mean_len"))
    // ellipsis runs count 1 symbol per '...' (length-delta div 3)
    val dots = TextAnalysis.heuristicFilter(
      Seq((9L, "a b c... d... e f g h")).toDF("doc_id", "text")).head()
    assert(dots.getAs[Long]("n_symbols") == 2L)
  }

  test("passageScrub: keep-first across and within docs, tail survives, all-removed doc is empty") {
    import spark.implicits._
    // width-4 chunks: P = "a b c d", Q = "e f g h", R = "p q r s"
    val docs = Seq(
      (1L, "a b c d e f g h x y"),     // P, Q, tail "x y" — first occurrences, all kept
      (2L, "a b c d p q r s z"),       // P repeated from doc 1 → dropped; R + tail kept
      (3L, "p q r s p q r s"),         // R repeated from doc 2 AND again in-doc → both dropped
      (4L, "a b c d"),                 // exactly one repeated chunk, no tail → ''
      (5L, "w x")                      // shorter than a chunk: no chunks, tail only
    ).toDF("doc_id", "text")
    val out = Dedup.passageScrub(docs, width = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_removed", "text_clean")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 2L, 0L, "a b c d e f g h x y")))
    assert(out(1) == ((2L, 2L, 1L, "p q r s z")))
    assert(out(2) == ((3L, 2L, 2L, "")))
    assert(out(3) == ((4L, 1L, 1L, "")))
    assert(out(4) == ((5L, 0L, 0L, "w x")))
    // idempotence: scrubbing the scrubbed corpus removes nothing
    val again = Dedup.passageScrub(
      Dedup.passageScrub(docs, width = 4)
        .select(col("doc_id"), col("text_clean").as("text")), width = 4)
    assert(again.agg(sum("n_removed")).collect()(0).getLong(0) == 0L)
  }

  test("contaminationScore: hand-computed fractions, short-text whole-doc shingle, tau verdict") {
    import spark.implicits._
    val bench = Seq((1L, "a b c d")).toDF("doc_id", "text") // shingles: abc, bcd
    val train = Seq(
      (10L, "a b c x y"),   // shingles abc,bcx,cxy → 1/3 hit
      (11L, "a b c d"),     // abc,bcd → 2/2 hit → keep = 0
      (12L, "p q r s"),     // 0/2
      (13L, "a b")          // short text: whole-doc shingle "a b" ∉ bench → 0/1
    ).toDF("doc_id", "text")
    val out = Curation.contaminationScore(train, bench, tau = 0.5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(out(0) == ((10L, 3L, 1L, 0.3333, 1)))
    assert(out(1) == ((11L, 2L, 2L, 1.0, 0)))
    assert(out(2) == ((12L, 2L, 0L, 0.0, 1)))
    assert(out(3) == ((13L, 1L, 0L, 0.0, 1)))
  }

  test("vocabulary: tf/df census, tie-inclusive cutoff, content-ordered rank, coverage curve") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "b c d a")).toDF("doc_id", "text")
    // tf: a=3 b=2 c=2 d=1; topN=2 cutoff = 2 → winners {a,b,c} (tie kept),
    // rank on (tf desc, token) → a,b survive the rank<=2 cut
    val out = TextAnalysis.vocabulary(docs, topN = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq((1, "a", 3L, 2L, 0.375), (2, "b", 2L, 2L, 0.625)))
  }

  test("hashedEmbedding: unit norms, clones map identically, dense form composes with cosine") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // clone — must embed identically
      (3L, "zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val vecs = Similarity.hashedEmbeddingVec(docs, dim = 16)
    val m = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(m.values.forall(_.length == 16))
    assert(m(1) == m(2), "clone docs must produce identical embeddings")
    m.values.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 0.01, s"expected ~unit norm, got $n")
    }
    // the dense form feeds the vector kernels directly: clone cosine = 1,
    // distinct-text cosine < 1
    val cos = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        cosineSim(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(cos((1L, 2L)) - 1.0) < 1e-9)
    assert(cos((1L, 3L)) < 0.99 && cos((2L, 3L)) < 0.99)
  }

  test("incrementalEmbedAdmit: index rejects in-cell near-dup, CC keeps min id, cross-cell admits") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val hist = Seq((10L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val inc = Seq(
      (20L, Seq(0.9f, 0.1f)),   // cell 0, cos≈0.998 to hist 10 → rejected
      (21L, Seq(0.1f, 0.95f)),  // cell 1, novel → admitted
      (22L, Seq(0.1f, 0.9f)),   // cell 1, cos≈0.999 to 21 → CC drops (21 < 22)
      (23L, Seq(-1.0f, 0.1f))   // cell 1 by distance, negative cosine → admitted
    ).toDF("vec_id", "embedding")
    val admitted = Similarity.incrementalEmbedAdmit(
      inc, Similarity.cellIndex(hist, cents), cents, 0.9)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(admitted.keySet == Set(21L, 23L))
    assert(admitted(21L) == 1 && admitted(23L) == 1)
    // replaying the increment against the UPDATED index admits nothing
    val idx2 = Similarity.cellIndex(hist, cents).unionByName(
      inc.join(Seq(21L, 23L).toDF("vec_id"), Seq("vec_id"), "left_semi")
        .transform(d => Similarity.cellIndex(d, cents)))
    assert(Similarity.incrementalEmbedAdmit(inc, idx2, cents, 0.9).isEmpty)
  }

  test("mediaDedup: content-addressed across formats, min id kept, copy counted") {
    import spark.implicits._
    val media = Seq(
      (5L, "png", "samebytes"), (2L, "jpeg", "samebytes"), // dup payload, formats differ
      (3L, "wav", "other")
    ).toDF("doc_id", "format", "text")
      .select(col("doc_id"), col("format"), col("text").cast("binary").as("payload"))
    val out = Multimodal.mediaDedup(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 2L, 3L -> 1L))
  }

  test("pplTiers: tiers are ordered by nll, near-thirds sized, boundaries inclusive") {
    val out = q("t14_ppl_tiers").collect()
      .map(r => (r.getDouble(r.fieldIndex("nll")), r.getInt(r.fieldIndex("tier"))))
    val byTier = out.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byTier.keySet == Set(0, 1, 2), s"expected 3 tiers, got ${byTier.keySet}")
    // total order: every tier-0 nll <= every tier-1 nll <= every tier-2 nll
    assert(byTier(0).max <= byTier(1).min && byTier(1).max <= byTier(2).min)
    // quantile thirds: no tier may deviate from n/3 by more than the
    // largest tie group (equal nll values land in one tier together)
    val n = out.length
    val maxTie = out.groupBy(_._1).values.map(_.size).max
    byTier.values.foreach(t =>
      assert(math.abs(t.size - n / 3.0) <= maxTie + 1,
        s"tier size ${t.size} vs n/3=${n / 3.0} (maxTie=$maxTie)"))
  }

  test("bpeTrainDriver: equals the distributed trainer; vocabCap bounds the census") {
    val docs = Tables.load(spark, dir, "documents")
    // uncapped (cap >> 31-word vocabulary): identical table at k=16
    val dist = TextAnalysis.bpeMerges(docs, merges = 16).orderBy(col("rank"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(TextAnalysis.bpeTrainDriver(docs, merges = 16) == dist)
    // past the corpus's trainable depth the table is the k-independent
    // fixed point: requesting 128 and 256 merges trains identical tables
    val deep = TextAnalysis.bpeTrainDriver(docs, merges = 128)
    assert(deep == TextAnalysis.bpeTrainDriver(docs, merges = 256))
    assert(deep.size < 128, s"expected exhaustion under 128, got ${deep.size}")
    assert(deep.take(16) == dist)
    // cap=1 trains only on the single most frequent word: every merge's
    // symbols must come from its characters
    val topWord = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "").groupBy(col("w")).count()
      .orderBy(col("count").desc, col("w")).limit(1)
      .collect().head.getString(0)
    val capped = TextAnalysis.bpeTrainDriver(docs, merges = 8, vocabCap = 1)
    assert(capped.nonEmpty && capped.size <= topWord.length - 1)
    capped.foreach { case (_, a, b, _) =>
      assert(topWord.contains(a + b), s"merge $a+$b not a substring of '$topWord'")
    }
  }

  test("dsirSelect: target-matching docs outrank, smoothing handles unseen buckets, rank deterministic") {
    import spark.implicits._
    // target speaks {alpha, beta}; doc 1 is pure target language, doc 2
    // mixed, doc 3 pure off-target — scores must order 1 > 2 > 3
    val corpus = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "alpha gamma delta beta"),
      (3L, "gamma delta gamma delta")).toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta alpha alpha beta")).toDF("doc_id", "text")
    val out = Selection.dsirSelect(corpus, target, k = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), s"rank order wrong: ${out.toSeq}")
    assert(out.map(_._4).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._2 > out(1)._2 && out(1)._2 > out(2)._2)
    // absolute sign is smoothing-dependent (the +1/B prior dominates
    // tiny counts) — only the relative order is the operator's contract;
    // n_tokens counted per doc
    assert(out.map(_._3).toSeq == Seq(4L, 4L, 4L))
    // k truncates deterministically on the rounded-score/doc_id order
    val top1 = Selection.dsirSelect(corpus, target, k = 1).collect()
    assert(top1.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("bpeTrainDriver: code-point symbols and UTF-8 tie order on non-BMP text") {
    import spark.implicits._
    // U+1F600 (supplementary: UTF-16 lead 0xD83D, UTF-8 0xF0...) vs
    // U+E000 (UTF-16 0xE000, UTF-8 0xEE...): Java string order puts the
    // emoji FIRST, UTF-8/code-point order (Spark, DuckDB) puts U+E000
    // first — a pair-frequency TIE between the two must resolve the
    // Spark way, and the emoji must stay ONE symbol (not two surrogates)
    val emoji = new String(Character.toChars(0x1F600))
    val pua = new String(Character.toChars(0xE000))
    val c = Seq(
      (1L, s"$pua$pua $emoji$emoji"),
      (2L, s"$emoji$emoji $pua$pua")).toDF("doc_id", "text")
    val dist = TextAnalysis.bpeMerges(c, merges = 2).orderBy(col("rank"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val drv = TextAnalysis.bpeTrainDriver(c, merges = 2)
    assert(drv == dist, s"driver $drv vs distributed $dist")
    assert(dist.head._2 == pua && dist.head._3 == pua,
      s"the tie must resolve to U+E000 under UTF-8 order: $dist")
    assert(dist.exists(m => m._2 == emoji && m._3 == emoji),
      s"the emoji must merge as one code point per symbol: $dist")
  }

  test("bpeVocab: alphabet leads, merges follow in rank order, duplicate strings keep-first, ids dense") {
    import spark.implicits._
    val c = Seq((1L, "ab c abc")).toDF("doc_id", "text")
    // merges 2 and 3 both produce "abc" — the later duplicate must keep
    // the first id and not burn an id slot
    val table = Seq(("a", "b"), ("ab", "c"), ("a", "bc"))
    val v = TextAnalysis.bpeVocab(c, table)
      .orderBy("token_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v == Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "ab"), (4L, "abc")), s"got $v")
    // id stream: every token resolves; ids match the vocab
    val ids = TextAnalysis.bpeTokenIds(c, table)
      .orderBy("word_idx", "tok_idx").collect().map(_.getLong(3)).toSeq
    val toks = TextAnalysis.bpeTokens(c, table)
      .orderBy("word_idx", "tok_idx").collect().map(_.getString(3)).toSeq
    val lookup = v.map(_.swap).toMap
    assert(ids == toks.map(lookup), s"ids $ids vs tokens $toks")
  }

  /** Live part file names per cell directory of index part set `sub`
    * under `path`, as the index reader resolves them. */
  private def indexCellFiles(path: String, sub: String): Map[String, Set[String]] =
    Similarity.readIndex(spark, path, sub).inputFiles.toSeq
      .map(f => new org.apache.hadoop.fs.Path(f))
      .groupBy(_.getParent.getName).view.mapValues(_.map(_.getName).toSet).toMap

  test("appendIvfPqIndex: append(B) to index(A) equals encoding A∪B under A's model") {
    import spark.implicits._
    // well-separated clusters as defense in depth: build and append now
    // share ONE assignment path (assignCells routes both through the
    // codegen'd nearest_centroid kernel since r13), so parity holds by
    // construction — separation keeps the gate meaningful even if the
    // paths ever diverge again
    def vec(axis: Int, scale: Float) = Array.tabulate(8)(d => if (d == axis) scale else 0.01f)
    val a = (0 until 24).map(i => (i.toLong, vec(i % 4, 1.0f + (i / 4) * 0.1f)))
      .toDF("vec_id", "embedding")
    val b = (100 until 112).map(i => (i.toLong, vec(i % 4, 0.9f + (i % 3) * 0.05f)))
      .toDF("vec_id", "embedding")
    withScratch("graft-append-eq-") { case Seq(path) =>
      Similarity.writeIvfPqIndex(a, path, cells = 4, m = 2, kps = 4)
      val rep = Similarity.appendIvfPqIndex(b, path).collect().head
      assert(rep.getLong(0) == 12L && rep.getLong(1) == 36L, s"report: $rep")
      // the on-disk codes must equal the one-shot encoding of A∪B under
      // the model trained on A alone — append is pure maintenance, no
      // retraining side effects
      val (km, pq) = Similarity.ivfPqTrain(a, cells = 4, m = 2, k = 4)
      val want = Similarity.ivfPqIndex(a.unionByName(b), km, pq)
        .collect().map(r => (r.getLong(1), r.getInt(0), r.getSeq[Int](2).toSeq)).toSet
      val got = Similarity.readIndex(spark, path, "codes")
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
          r.getSeq[Int](r.fieldIndex("codes")).toSeq)).toSet
      assert(got == want, s"appended codes diverge from the one-shot encoding")
      // and the deployment query path reads the union
      val q = Seq((200L, vec(2, 1.0f))).toDF("vec_id", "embedding")
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val ids = Similarity.ivfPqQueryIndex(q, path, k = 36, nprobe = 4)
        .collect().map(_.getLong(1)).toSet
      assert(ids.exists(_ >= 100L), "appended vectors must be retrievable")
      // compaction rewrites the appended codes/ to one file per cell:
      // identical code SET, identical retrieval, fewer files
      val rep2 = Similarity.compactIvfPqIndex(spark, path).collect().head
      assert(rep2.getLong(0) == 36L && rep2.getLong(1) > rep2.getLong(2),
        s"compact report: $rep2")
      // the compacted version serves the same codes
      val gotC = Similarity.readIndex(spark, path, "codes")
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
          r.getSeq[Int](r.fieldIndex("codes")).toSeq)).toSet
      assert(gotC == want, "compaction changed the stored codes")
      val idsC = Similarity.ivfPqQueryIndex(q, path, k = 36, nprobe = 4)
        .collect().map(_.getLong(1)).toSet
      assert(idsC == ids, "compaction changed retrieval")
    }
  }

  test("s18 SQL index flow equals the library inline path on the gate corpus") {
    // moved OUT of the benched board row (r13 VERDICT task #5): the row
    // retrained a second model inline solely to manufacture this
    // verdict's comparison operand — pure verification construction with
    // no deployment counterpart. The equality is training determinism
    // (independently trained models coincide), gated here once instead
    // of per bench iteration.
    val b = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = b.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val clones = q.select((col("query_id") + 1000000L).as("vec_id"),
      col("q_emb").as("embedding"))
    val corpus = b.unionByName(clones).localCheckpoint()
    corpus.createOrReplaceTempView("graft_s18spec_corpus")
    q.select(col("query_id").as("vec_id"), col("q_emb").as("embedding"))
      .createOrReplaceTempView("graft_s18spec_queries")
    try withScratch("graft-s18spec-wh-", "graft_s18spec_idx_") { case Seq(wh, path) =>
      val e = new graft.engine.SqlEngine(spark, new graft.engine.Catalog(wh),
        graft.engine.SqlContext("s18s", "u"))
      e.execute("CREATE DATABASE s18s")
      e.execute(s"SELECT n_vectors FROM graft_ivfpq_build(" +
        s"'graft_s18spec_corpus', '$path', 16, 16, 64)").collect()
      val viaSql = e.execute(s"SELECT query_id, vec_id, rank FROM graft_ivfpq_query(" +
          s"'$path', 'graft_s18spec_queries', 5, 4)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val (km, pq) = Similarity.ivfPqTrain(corpus, 16, 16, 64)
      val inline = Similarity.ivfPqTopK(corpus, q, km, pq, 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaSql.nonEmpty && viaSql == inline,
        s"SQL path diverges from library inline: sql-only ${viaSql -- inline}, " +
          s"inline-only ${inline -- viaSql}")
    } finally {
      spark.catalog.dropTempView("graft_s18spec_corpus")
      spark.catalog.dropTempView("graft_s18spec_queries")
    }
  }

  test("writeEmbedIndex: seeds follow the diversity-preserving sha-fold key") {
    import spark.implicits._
    // a history whose LOWEST ids are a homogeneous templated batch — the
    // clustered-ingest shape an ordered-prefix seed degenerates on
    val homog = (0 until 8).map(i => (i.toLong, Array(1.0f, 0.0f)))
    val diverse = Seq((8L, Array(0.0f, 1.0f)), (9L, Array(-1.0f, 0.0f)),
      (10L, Array(0.0f, -1.0f)), (11L, Array(0.7f, 0.7f)))
    val hist = (homog ++ diverse).toDF("vec_id", "embedding")
    withScratch("graft-embed-seed-") { case Seq(path) =>
      Similarity.writeEmbedIndex(hist, path, k = 4)
      // the documented key, computed independently here: top-4 history
      // rows by (sha-256 8-hex-digit fold of the vec_id string, vec_id)
      val expected = hist
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"),
          conv(substring(sha2(col("vec_id").cast("string"), 256), 1, 8), 16, 10)
            .cast("long").as("h"))
        .orderBy(col("h"), col("vec_id")).limit(4)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      val stored = spark.read.parquet(s"$path/centroids")
        .orderBy(col("cell"))
        .collect().map(r => r.getSeq[Double](1).toSeq).toSeq
      assert(stored == expected.map(_._2).toSeq,
        s"stored centroids ${stored} != sha-fold top-4 ${expected.toSeq}")
      // the construction must be non-vacuous: the hash order picks a
      // DIFFERENT seed set than the pre-r14 first-k-by-vec_id prefix
      // (which here would be 4 identical vectors — a collapsed index)
      assert(expected.map(_._1).toSet != Set(0L, 1L, 2L, 3L),
        "hash key degenerated to the ordered prefix; pick different test ids")
      // and the admission flow still probes correctly: a clone of a
      // history vector is rejected, a novel vector admits
      val inc = Seq((100L, Array(0.0f, 1.0f)), (101L, Array(-0.7f, -0.7f)))
        .toDF("vec_id", "embedding")
      val adm = Similarity.embedAdmitFromIndex(inc, path, 0.9)
        .collect().map(_.getLong(0)).toSet
      assert(adm == Set(101L), s"admitted $adm; clone 100 must be rejected")
    }
  }

  test("seededCells: sha-fold seed order, nearest-seed assignment, sizing caps") {
    import spark.implicits._
    val v = (0 until 20)
      .map(i => (i.toLong, Array(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.seededCells(v) // cells=0 -> max(8, min(√20, 1024)) = 8
    val rows = assigned.collect()
    assert(rows.length == 20, "every vector must be assigned")
    assert(rows.map(_.getInt(rows.head.fieldIndex("cell"))).forall(c => c >= 0 && c < 8))
    // the documented key, computed independently (the writeEmbedIndex
    // spec's construction): top-8 by (sha-256 8-hex fold, vec_id)
    val seeds = v.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"),
        conv(substring(sha2(col("vec_id").cast("string"), 256), 1, 8), 16, 10)
          .cast("long").as("h"))
      .orderBy(col("h"), col("vec_id")).limit(8)
      .collect().map(_.getSeq[Double](1).toArray)
    val byId = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    v.collect().foreach { r =>
      val e = r.getSeq[Float](1).map(_.toDouble).toArray
      val want = seeds.zipWithIndex.minBy { case (s, i) =>
        (math.sqrt(s.zip(e).map { case (a, b) => (a - b) * (a - b) }.sum), i)
      }._2
      assert(byId(r.getLong(0)) == want, s"vec ${r.getLong(0)} cell mismatch")
    }
    // explicit cells param respected and capped at n
    assert(Similarity.seededCells(v, 5).select(col("cell")).distinct().count() <= 5)
    val tiny = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.seededCells(tiny).collect().map(_.getInt(2)).toSeq == Seq(0))
  }

  test("index maintenance lock: a held _lock fails the second maintainer loudly; artifact survives") {
    import spark.implicits._
    def vec(axis: Int): Array[Float] = Array.tabulate(4)(d => if (d == axis) 1.0f else 0.0f)
    val hist = (0 until 12).map(i => (i.toLong, vec(i % 4))).toDF("vec_id", "embedding")
    withScratch("graft-lock-") { case Seq(path) =>
      Similarity.writeEmbedIndex(hist, path, k = 4)
      val lock = java.nio.file.Paths.get(path, "_lock")
      java.nio.file.Files.createFile(lock) // a concurrent maintainer holds it
      val inc = Seq((100L, Array(0.7f, 0.7f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      val ex = intercept[IllegalStateException] {
        Similarity.embedAdmitAppend(inc, path, 0.9)
      }
      assert(ex.getMessage.contains("_lock"), s"undiagnosable message: ${ex.getMessage}")
      // the guarded call must not have touched the artifact: read paths work
      assert(Similarity.embedAdmitFromIndex(inc, path, 0.9)
        .collect().map(_.getLong(0)).toSet == Set(100L))
      java.nio.file.Files.delete(lock)
      // after release the append succeeds AND releases its own lock
      val adm = Similarity.embedAdmitAppend(inc, path, 0.9)
        .collect().map(_.getLong(0)).toSet
      assert(adm == Set(100L), s"admitted $adm")
      assert(!java.nio.file.Files.exists(lock), "lock leaked after a successful append")
      // r14 ADVICE: a DOUBLE-typed increment must not make cells/
      // mixed-schema parquet — the write-back casts to the stored float
      val incD = Seq((200L, Array(-0.7d, -0.7d, 0.0d, 0.0d))).toDF("vec_id", "embedding")
      assert(Similarity.embedAdmitAppend(incD, path, 0.9)
        .collect().map(_.getLong(0)).toSet == Set(200L))
      val elem = Similarity.readIndex(spark, path, "cells").schema("embedding").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      assert(elem == org.apache.spark.sql.types.FloatType,
        s"cells went mixed-schema: element type $elem")
      // and the maintained artifact still answers: 200's clone is rejected
      val probe = Seq((300L, Array(-0.7f, -0.7f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      assert(Similarity.embedAdmitFromIndex(probe, path, 0.9).count() == 0)
    }
  }

  test("compactEmbedIndex: appended cells collapse to one file each; admissions unchanged") {
    import spark.implicits._
    def vec(axis: Int, s: Float): Array[Float] =
      Array.tabulate(4)(d => if (d == axis) s else 0.0f)
    val hist = (0 until 12).map(i => (i.toLong, vec(i % 4, 1.0f))).toDF("vec_id", "embedding")
    withScratch("graft-compact-", "graft-compact-wh-") { case Seq(path, wh) =>
      def cellFiles(): Map[String, Int] =
        indexCellFiles(path, "cells").view.mapValues(_.size).toMap
      Similarity.writeEmbedIndex(hist, path, k = 4)
      // three append batches of genuinely novel, mutually orthogonal
      // directions (negative axes: cosine −1 to history, 0 to each
      // other) — each lands a file in its touched cell
      (0 until 3).foreach { b =>
        val inc = Seq((100L + b, vec(b, -1.0f))).toDF("vec_id", "embedding")
        assert(Similarity.embedAdmitAppend(inc, path, 0.9).count() == 1)
      }
      assert(cellFiles().values.exists(_ > 1), "appends should fragment a cell")
      // a read-only probe's verdicts, captured before compaction
      val probe = (0 until 12).map(i => (500L + i, vec(i % 4, 1.0f)))
        .toDF("vec_id", "embedding")
        .unionByName(Seq((600L, Array(0.0f, 0.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding"))
      val before = Similarity.embedAdmitFromIndex(probe, path, 0.9)
        .collect().map(_.getLong(0)).toSet
      // compact through the SQL surface (covers the pathFunctions TVF)
      val e = new graft.engine.SqlEngine(spark, new graft.engine.Catalog(wh),
        graft.engine.SqlContext("cdb", "u"))
      e.execute("CREATE DATABASE cdb")
      val rep = e.execute(
        s"SELECT n_vectors, files_before, files_after FROM graft_embed_compact('$path')")
        .collect().head
      assert(rep.getLong(1) > rep.getLong(2), s"report: $rep")
      assert(rep.getLong(0) == 15L, s"vector count changed: $rep") // 12 hist + 3 admitted
      val filesAfter = cellFiles()
      assert(filesAfter.values.forall(_ == 1), s"cells still fragmented: $filesAfter")
      // identical admissions from the compacted artifact
      val after = Similarity.embedAdmitFromIndex(probe, path, 0.9)
        .collect().map(_.getLong(0)).toSet
      assert(after == before, s"compaction changed admissions: $before vs $after")
      // the maintenance lock guards compaction too
      java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "_lock"))
      intercept[IllegalStateException] { Similarity.compactEmbedIndex(spark, path) }
    }
  }

  test("maintenance lock stamps holder pid/ts/op; a blocked maintainer sees the stamp") {
    withScratch("graft-lockstamp-") { case Seq(path) =>
      val lockFile = java.nio.file.Paths.get(path, "_lock")
      Similarity.withMaintenanceLock(spark, path, "spec-op") {
        val content = new String(java.nio.file.Files.readAllBytes(lockFile),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(content.contains(s"pid=${ProcessHandle.current().pid()}"), content)
        assert(content.contains("ts="), content)
        assert(content.contains("op=spec-op"), content)
      }
      assert(!java.nio.file.Files.exists(lockFile), "lock must release")
      // a held lock's stamp is surfaced in the blocked maintainer's error
      java.nio.file.Files.write(lockFile,
        "pid=12345 ts=2026-08-16T00:00:00Z op=other-op".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      val e = intercept[IllegalStateException] {
        Similarity.withMaintenanceLock(spark, path, "spec-op-2") { fail("must not run") }
      }
      assert(e.getMessage.contains("pid=12345") && e.getMessage.contains("op=other-op"),
        e.getMessage)
    }
  }

  test("stale-lock recovery: unlock TVF removes a crashed maintainer's lock; appends resume") {
    import spark.implicits._
    def vec(axis: Int, s: Float): Array[Float] =
      Array.tabulate(4)(d => if (d == axis) s else 0.0f)
    withScratch("graft-unlock-", "graft-unlock-wh-") { case Seq(path, wh) =>
      val hist = (0 until 8).map(i => (i.toLong, vec(i % 4, 1.0f))).toDF("vec_id", "embedding")
      Similarity.writeEmbedIndex(hist, path, k = 4)
      // a maintainer killed between acquire and the finally-release: the
      // stamped lock survives the process
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "_lock"),
        "pid=99999 ts=2026-08-16T00:00:00Z op=embed-admit-append".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      val inc = Seq((100L, vec(0, -1.0f))).toDF("vec_id", "embedding")
      intercept[IllegalStateException] { Similarity.embedAdmitAppend(inc, path, 0.9) }
      // the recovery TVF: reports the holder stamp and removes the lock
      val e = new graft.engine.SqlEngine(spark, new graft.engine.Catalog(wh),
        graft.engine.SqlContext("unl", "u"))
      e.execute("CREATE DATABASE unl")
      val rep = e.execute(
        s"SELECT unlocked, holder FROM graft_maintenance_unlock('$path')").collect().head
      assert(rep.getBoolean(0), s"unlock must report success: $rep")
      assert(rep.getString(1).contains("pid=99999") && rep.getString(1).contains("op=embed-admit-append"),
        s"holder stamp must be surfaced for the audit trail: $rep")
      // maintenance resumes: the locked append now succeeds
      assert(Similarity.embedAdmitAppend(inc, path, 0.9).count() == 1)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_lock")),
        "the resumed append must release its own lock")
      // idempotent on an unlocked path: (false, "") and no side effects
      val rep2 = e.execute(
        s"SELECT unlocked, holder FROM graft_maintenance_unlock('$path')").collect().head
      assert(!rep2.getBoolean(0) && rep2.getString(1).isEmpty, s"no-op unlock: $rep2")
    }
  }

  test("index readers keep their snapshot across compactions until vacuum") {
    import spark.implicits._
    def vec(axis: Int, s: Float): Array[Float] =
      Array.tabulate(4)(d => if (d == axis) s else 0.0f)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"))).toSet
    withScratch("graft-snap-") { case Seq(path2) =>
      val hist = (0 until 12).map(i => (i.toLong, vec(i % 4, 1.0f))).toDF("vec_id", "embedding")
      Similarity.writeEmbedIndex(hist, path2, k = 4)
      (0 until 2).foreach { b => // fragment two cells
        val inc = Seq((100L + b, vec(b, -1.0f))).toDF("vec_id", "embedding")
        assert(Similarity.embedAdmitAppend(inc, path2, 0.9).count() == 1)
      }
      // a reader planned BEFORE any compaction
      val snap = Similarity.readIndex(spark, path2, "cells")
      val want = rows(snap)
      Similarity.compactEmbedIndex(spark, path2).collect()
      // compaction is SELECTIVE — an unfragmented index no-ops — so
      // fragment a cell again before the second cycle
      assert(Similarity.embedAdmitAppend(
        Seq((200L, Array(0.5f, -0.5f, 0.5f, -0.5f))).toDF("vec_id", "embedding"),
        path2, 0.9).count() == 1)
      Similarity.compactEmbedIndex(spark, path2).collect()
      // two compactions later the old snapshot still answers: the parts
      // it planned are superseded but inside the vacuum window
      assert(rows(snap) == want)
      val fresh = rows(Similarity.readIndex(spark, path2, "cells"))
      assert(fresh.map(_._1) == want.map(_._1) + 200L)
      // once vacuum reclaims superseded parts, the stale plan fails loudly
      Similarity.indexParts(path2, "cells").vacuum(0L)
      val vacuumed = intercept[Exception] { snap.collect() }
      assert(vacuumed.getMessage != null, s"expected a read failure: $vacuumed")
      assert(rows(Similarity.readIndex(spark, path2, "cells")) == fresh)
      // a REBUILD over the compacted path serves only the rebuilt rows
      Similarity.writeEmbedIndex(hist, path2, k = 4)
      assert(Similarity.readIndex(spark, path2, "cells").select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet == (0L until 12L).toSet)
    }
  }

  test("index crash debris is invisible to readers and vacuum reclaims it") {
    import spark.implicits._
    def vec(axis: Int, s: Float): Array[Float] =
      Array.tabulate(4)(d => if (d == axis) s else 0.0f)
    withScratch("graft-debris-") { case Seq(path) =>
      val hist = (0 until 8).map(i => (i.toLong, vec(i % 4, 1.0f))).toDF("vec_id", "embedding")
      Similarity.writeEmbedIndex(hist, path, k = 4)
      val cells = Similarity.indexParts(path, "cells")
      // a crashed append: a staging directory holding a torn part
      val staging = cells.dir.resolve(".staging-crashed").resolve("cell=0")
      java.nio.file.Files.createDirectories(staging)
      java.nio.file.Files.write(staging.resolve("part-torn.parquet"), Array[Byte](1, 2, 3))
      // a crash between moving a part into data/ and publishing it
      val orphan = cells.dataDir.resolve("cell=0").resolve("part-orphan.parquet")
      java.nio.file.Files.createDirectories(orphan.getParent)
      java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
      // readers resolve the live version: neither torn file is read
      assert(Similarity.readIndex(spark, path, "cells").count() == 8L)
      val probe = Seq((500L, vec(0, 1.0f))).toDF("vec_id", "embedding")
      assert(Similarity.embedAdmitFromIndex(probe, path, 0.9).count() == 0)
      // nor does a real append/compaction cycle pick them up
      assert(Similarity.embedAdmitAppend(
        Seq((100L, vec(0, -1.0f))).toDF("vec_id", "embedding"), path, 0.9).count() == 1)
      val rep = Similarity.compactEmbedIndex(spark, path).collect().head
      assert(rep.getLong(0) == 9L, s"compaction must keep all rows: $rep")
      // the compaction's own vacuum keeps fresh debris (retention window);
      // a vacuum past it reclaims both
      assert(java.nio.file.Files.exists(orphan))
      cells.vacuum(0L)
      assert(!java.nio.file.Files.exists(orphan), "an unlisted part must be reclaimed")
      assert(!java.nio.file.Files.exists(staging.getParent), "crash staging must be reclaimed")
      assert(Similarity.readIndex(spark, path, "cells").count() == 9L)
    }
  }

  test("selective compaction: single-file cells kept, no-op publishes none") {
    import spark.implicits._
    def vec(axis: Int, s: Float): Array[Float] =
      Array.tabulate(4)(d => if (d == axis) s else 0.0f)
    withScratch("graft-selcomp-") { case Seq(path) =>
      // per-cell part NAMES: kept cells must keep their exact part names
      // (a Spark rewrite mints new ones)
      def cellFileNames(): Map[String, Set[String]] = indexCellFiles(path, "cells")
      val hist = (0 until 12).map(i => (i.toLong, vec(i % 4, 1.0f))).toDF("vec_id", "embedding")
      Similarity.writeEmbedIndex(hist, path, k = 4)
      // normalize to a known one-file-per-cell layout (the fresh build's
      // per-cell file count depends on input partitioning)
      Similarity.compactEmbedIndex(spark, path).collect()
      val baseline = cellFileNames()
      assert(baseline.values.forall(_.size == 1), s"baseline not minimal: $baseline")
      // fragment exactly ONE cell
      assert(Similarity.embedAdmitAppend(
        Seq((100L, vec(0, -1.0f))).toDF("vec_id", "embedding"), path, 0.9).count() == 1)
      val fragged = cellFileNames()
      val touched = fragged.collect { case (c, fs) if fs.size > 1 => c }.toSet
      assert(touched.size == 1, s"append should fragment one cell: $fragged")
      val nCells = baseline.size.toLong // occupied cells, one file each
      val rep = Similarity.compactEmbedIndex(spark, path).collect().head
      assert(rep.getLong(0) == 13L && rep.getLong(1) == nCells + 1 &&
        rep.getLong(2) == nCells, s"selective report: $rep (cells=$nCells)")
      val after = cellFileNames()
      // untouched single-file cells: same part names (kept, not rewritten)
      fragged.filter(_._2.size == 1).foreach { case (c, names) =>
        assert(after(c) == names, s"kept cell $c rewritten: ${after(c)} vs $names")
      }
      // the fragmented cell collapsed to one freshly-written file
      val t = touched.head
      assert(after(t).size == 1 && !fragged(t).contains(after(t).head),
        s"touched cell $t not rewritten: ${after(t)} vs ${fragged(t)}")
      // NO-OP on the now-minimal layout: same report counts, no publish
      val versionBefore = Similarity.indexParts(path, "cells").currentVersion
      val rep2 = Similarity.compactEmbedIndex(spark, path).collect().head
      assert(rep2.getLong(0) == 13L && rep2.getLong(1) == nCells &&
        rep2.getLong(2) == nCells, s"no-op report: $rep2")
      assert(Similarity.indexParts(path, "cells").currentVersion == versionBefore,
        "no-op compaction must not publish a version")
      assert(cellFileNames() == after, "no-op compaction must not touch files")
    }
  }

  test("compaction fuzz: seeded append/compact sequences preserve the stored vector set") {
    import spark.implicits._
    // a FIXED-seed op fuzz over the admission lifecycle: interleaved
    // admit-appends (random vectors — admission may reject any of
    // them, so the expected set accumulates what the operator RETURNS)
    // and selective compactions (fragmented, minimal, or no-op,
    // depending on where the appends landed). Invariant after EVERY
    // op: the live version snapshot holds exactly history ∪
    // admitted-so-far — no loss, no duplication, across any
    // append/compact interleaving the sequence produces.
    val rnd = new scala.util.Random(42)
    def vec(axis: Int, s: Float): Array[Float] =
      Array.tabulate(4)(d => if (d == axis) s else 0.0f)
    withScratch("graft-fuzz-") { case Seq(path) =>
      val hist = (0 until 12).map(i => (i.toLong, vec(i % 4, 1.0f))).toDF("vec_id", "embedding")
      Similarity.writeEmbedIndex(hist, path, k = 4)
      var expected: Set[Long] = (0L until 12L).toSet
      var nextId = 1000L
      var compacts = 0
      def stored(): Set[Long] =
        Similarity.readIndex(spark, path, "cells")
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      (1 to 12).foreach { step =>
        if (rnd.nextBoolean()) {
          val batch = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val v = Array.fill(4)((rnd.nextDouble() * 2 - 1).toFloat)
            val id = nextId; nextId += 1; (id, v)
          }
          val admitted = Similarity.embedAdmitAppend(
            batch.toDF("vec_id", "embedding"), path, 0.9)
            .collect().map(_.getLong(0)).toSet
          assert(admitted.subsetOf(batch.map(_._1).toSet))
          expected ++= admitted
        } else {
          val rep = Similarity.compactEmbedIndex(spark, path).collect().head
          compacts += 1
          assert(rep.getLong(0) == expected.size.toLong,
            s"step $step compact count ${rep.getLong(0)} != ${expected.size}")
        }
        assert(stored() == expected, s"step $step: stored set diverged")
      }
      // close with a real compact + a no-op compact: still intact, and
      // the minimal layout reports before == after
      Similarity.compactEmbedIndex(spark, path).collect()
      val rep = Similarity.compactEmbedIndex(spark, path).collect().head
      assert(rep.getLong(1) == rep.getLong(2), s"final no-op report: $rep")
      assert(stored() == expected, "final stored set diverged")
      assert(compacts > 0, "seed must exercise at least one mid-sequence compact")
    }
  }

  test("appendIvfPqIndex honors the maintenance lock") {
    import spark.implicits._
    def vec(axis: Int, scale: Float) = Array.tabulate(8)(d => if (d == axis) scale else 0.01f)
    val a = (0 until 24).map(i => (i.toLong, vec(i % 4, 1.0f + (i / 4) * 0.1f)))
      .toDF("vec_id", "embedding")
    withScratch("graft-lock-pq-") { case Seq(path) =>
      Similarity.writeIvfPqIndex(a, path, cells = 4, m = 2, kps = 4)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "_lock"))
      val b = Seq((100L, vec(1, 0.95f))).toDF("vec_id", "embedding")
      intercept[IllegalStateException] { Similarity.appendIvfPqIndex(b, path) }
      // untouched: the footer count is still the build's
      assert(Similarity.readIndex(spark, path, "codes").count() == 24L)
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
