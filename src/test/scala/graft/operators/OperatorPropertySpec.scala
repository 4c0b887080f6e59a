package graft.operators

import graft.TestSession
import graft.GraftSession.withScratch
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial property sweeps for the round-8 operators: each case
  * checks the distributed plan against an independent in-test reference
  * implementation (not the plan's own code path), on randomized inputs
  * that include the shapes most likely to break — skewed sources, tie-
  * heavy scores, degenerate clusters, fractional boundaries. Case counts
  * are kept minutes-fast by default; GRAFT_FULL_SWEEP=1 widens the draw
  * (see ExactQuantileSpec.sweepCases). */
class OperatorPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  import spark.implicits._

  private def cases(n: Int, full: Int): Int = ExactQuantileSpec.sweepCases(n, full)

  test("stratifiedSplit sweep: partition property + exact floor boundaries vs naive") {
    val genCorpus: Gen[List[(Long, String)]] = for {
      nSources <- Gen.choose(1, 6)
      sizes <- Gen.listOfN(nSources, Gen.oneOf(1, 2, 3, 9, 10, 40, 120))
    } yield sizes.zipWithIndex.flatMap { case (sz, s) =>
      // doc ids deliberately interleave across sources and leave gaps
      (0 until sz).map(i => ((i * nSources + s) * 7L, s"src$s"))
    }
    val genFracs: Gen[List[Double]] = for {
      k <- Gen.choose(2, 4)
      cuts <- Gen.listOfN(k - 1, Gen.choose(1, 99).map(_ / 100.0))
      if cuts.distinct.size == cuts.size
    } yield {
      val sorted = (0.0 +: cuts.sorted :+ 1.0)
      sorted.zip(sorted.tail).map { case (a, b) => b - a }
    }
    val prop = Prop.forAll(genCorpus, genFracs, Gen.oneOf(1, 4, 16)) { (rows, fracs, buckets) =>
      val df = rows.toDF("doc_id", "source")
      val got = Selection.stratifiedSplit(df, fracs, buckets).collect()
      // partition: every doc exactly once
      val ids = got.map(_.getLong(0)).toSeq
      val okPartition = ids.sorted == rows.map(_._1).sorted && ids.distinct.size == ids.size
      // exact per-(source, split) counts from the floor boundaries
      val cum = fracs.scanLeft(0.0)(_ + _).tail
      val bySource = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val want = bySource.flatMap { case (src, n) =>
        val bounds = cum.init.map(c => math.floor(c * n).toLong) :+ n
        val startEnd = (0L +: bounds).zip(bounds)
        startEnd.zipWithIndex.collect {
          case ((a, b), k) if b > a => (src, k) -> (b - a)
        }
      }
      val gotCounts = got.groupBy(r => (r.getString(1), r.getInt(3)))
        .view.mapValues(_.length.toLong).toMap
      // naive single-bucket spelling agrees row-for-row
      val naive = Selection.stratifiedSplit(df, fracs, buckets = 1)
      val sameAsNaive = got.map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).sortBy(_._1)
        .sameElements(naive.collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).sortBy(_._1))
      okPartition && gotCounts == want && sameAsNaive
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(10, 30)), prop)
    assert(res.passed, s"stratifiedSplit sweep: $res")
  }

  test("bm25 sweep: scores and ranks match an independent scorer") {
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox")
    val genCorpus: Gen[List[(Long, String)]] = for {
      nDocs <- Gen.choose(2, 12)
      docs <- Gen.listOfN(nDocs,
        Gen.choose(1, 8).flatMap(len => Gen.listOfN(len, Gen.oneOf(vocab))))
    } yield docs.zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val genQueries: Gen[List[(Int, String)]] = for {
      nq <- Gen.choose(1, 3)
      qs <- Gen.listOfN(nq, Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))))
    } yield qs.zipWithIndex.flatMap { case (terms, q) => terms.distinct.map(t => (q, t)) }
    val prop = Prop.forAll(genCorpus, genQueries, Gen.choose(1, 5)) { (docsRows, qtRows, k) =>
      val got = TextAnalysis
        .bm25TopK(docsRows.toDF("doc_id", "text"), qtRows.toDF("query_id", "term"), k)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> ((r.getDouble(2), r.getInt(3)))).toMap
      // independent reference scorer (BigDecimal per-term rounding like the
      // decimal(18,6) cast, sum exact, tie order (score desc, doc_id))
      val toks = docsRows.map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }.toMap
      val nDocs = docsRows.size.toDouble
      val avgdl = toks.values.map(_.size).sum.toDouble / nDocs
      def weight(tf: Int, df: Int, dl: Int): BigDecimal = {
        val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
        val raw = idf * (tf.toDouble * 2.2) /
          (tf.toDouble + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl)))
        BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      val df = toks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
      val want = qtRows.groupBy(_._1).flatMap { case (q, terms) =>
        val scored = toks.toSeq.flatMap { case (id, tk) =>
          val s = terms.map(_._2).distinct.flatMap { t =>
            val tf = tk.count(_ == t)
            if (tf == 0) None else Some(weight(tf, df(t), tk.size))
          }
          if (s.isEmpty) None else Some(id -> s.sum)
        }
        scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
          .map { case ((id, s), rk) => (q, id) -> ((s.toDouble, rk + 1)) }
      }
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(10, 30)), prop)
    assert(res.passed, s"bm25 sweep: $res")
  }

  test("lloydAssign sweep: matches a reference Lloyd with decimal-exact means") {
    val genPoints: Gen[List[Array[Float]]] = for {
      dim <- Gen.choose(2, 4)
      n <- Gen.choose(3, 25)
      pts <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-8, 8).map(_.toFloat)))
    } yield pts.map(_.toArray)
    val prop = Prop.forAll(genPoints, Gen.choose(1, 4), Gen.choose(1, 3)) { (pts, k0, iters) =>
      val k = math.min(k0, pts.size)
      val df = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("vec_id", "embedding")
      val seeds = pts.take(k).map(_.map(_.toDouble)).toArray
      val got = Similarity.lloydAssign(df, seeds, iters)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // reference: same argmin/tie/empty-cluster/mean rules, plain Scala
      def assign(cents: Array[Array[Double]]): Map[Long, Int] =
        pts.zipWithIndex.map { case (p, i) =>
          val dists = cents.map(c =>
            p.zip(c).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum)
          i.toLong -> dists.zipWithIndex.minBy { case (d, j) => (d, j) }._2
        }.toMap
      var cents = seeds
      var a = assign(cents)
      for (_ <- 2 to iters) {
        val next = cents.map(_.clone())
        a.groupBy(_._2).foreach { case (c, members) =>
          val ms = members.keys.toSeq.map(id => pts(id.toInt))
          next(c) = next(c).indices.map { d =>
            val sum = ms.map(p => BigDecimal(p(d).toDouble).setScale(12, BigDecimal.RoundingMode.HALF_UP))
              .foldLeft(BigDecimal(0))(_ + _)
            sum.toDouble / ms.size.toDouble
          }.toArray
        }
        cents = next
        a = assign(cents)
      }
      got == a
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(8, 25)), prop)
    assert(res.passed, s"lloyd sweep: $res")
  }

  test("weightedSample sweep: non-positive weights are excluded, never promoted") {
    // ln(u)/w with w < 0 flips the key's sign — before the guard, a single
    // negative-weight row would rank FIRST in every sample. The property:
    // sampling a corpus with mixed-sign weights is exactly sampling its
    // positive-weight subset (same rows, same ranks), and no non-positive
    // row ever appears.
    val genRows: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 500L),
        Gen.oneOf(Gen.choose(1L, 99L), Gen.oneOf(-50L, -1L, 0L))))
    } yield rows.groupBy(_._1).map { case (id, ws) => (id, ws.head._2) }.toList
    val prop = Prop.forAll(genRows, Gen.choose(1, 10)) { (rows, k) =>
      val mixed = Selection.weightedSample(rows.toDF("doc_id", "weight"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
      val positive = Selection
        .weightedSample(rows.filter(_._2 > 0).toDF("doc_id", "weight"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
      val nPos = rows.count(_._2 > 0)
      mixed.sameElements(positive) &&
        mixed.forall(_._2 > 0) &&
        mixed.length == math.min(k, nPos) &&
        mixed.map(_._3).toSeq == (1L to mixed.length.toLong)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(10, 30)), prop)
    assert(res.passed, s"weightedSample sweep: $res")
  }

  test("passageScrub sweep: matches a naive keep-first model on clone-heavy corpora") {
    // tiny vocab + short widths force heavy chunk duplication, in-doc
    // repeats, all-removed docs, and sub-width tails
    val genDoc: Gen[String] = for {
      n <- Gen.choose(1, 14)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield toks.mkString(" ")
    val genCorpus: Gen[List[(Long, String)]] = for {
      nDocs <- Gen.choose(1, 12)
      docs <- Gen.listOfN(nDocs, genDoc)
    } yield docs.zipWithIndex.map { case (t, i) => (i * 3L, t) } // gapped ids
    val prop = Prop.forAll(genCorpus, Gen.oneOf(2, 3)) { (rows, w) =>
      val got = Dedup.passageScrub(rows.toDF("doc_id", "text"), w)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      // naive model: chunk strings in (doc_id, idx) order, first
      // occurrence of each content kept, doc rebuilt from kept windows +
      // tail
      val seen = scala.collection.mutable.Set[String]()
      val expected = rows.sortBy(_._1).map { case (id, text) =>
        val toks = text.toLowerCase.split("\\s+").toSeq
        val nFull = toks.length / w
        val chunks = (0 until nFull).map(i => toks.slice(i * w, i * w + w).mkString(" "))
        val keep = chunks.map(c => if (seen.contains(c)) false else { seen += c; true })
        val kept = (0 until nFull).filter(keep).flatMap(i => toks.slice(i * w, i * w + w)) ++
          toks.drop(nFull * w)
        id -> ((nFull.toLong, keep.count(!_).toLong, kept.mkString(" ")))
      }.toMap
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(20, 80)), prop)
    assert(res.passed, res.status.toString)
  }

  test("vocabulary sweep: matches a naive census with tie-inclusive cutoff") {
    val genCorpus: Gen[List[(Long, String)]] = for {
      nDocs <- Gen.choose(1, 10)
      docs <- Gen.listOfN(nDocs,
        Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w", "v"))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
    val prop = Prop.forAll(genCorpus, Gen.oneOf(1, 2, 3, 5)) { (rows, topN) =>
      val got = TextAnalysis.vocabulary(rows.toDF("doc_id", "text"), topN)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      val toks = rows.flatMap { case (id, t) => t.toLowerCase.split("\\s+").map(id -> _) }
      val tf = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val df = toks.distinct.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val total = toks.size.toDouble
      val cut = tf.values.toSeq.sorted.reverse.take(topN).lastOption.getOrElse(Long.MaxValue)
      val ranked = tf.filter(_._2 >= cut).toSeq
        .sortBy { case (t, f) => (-f, t) }.take(topN)
      var cum = 0L
      val expected = ranked.zipWithIndex.map { case ((t, f), i) =>
        cum += f
        (i + 1, t, f, df(t),
          BigDecimal(cum / total).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      got.toSeq == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(20, 80)), prop)
    assert(res.passed, res.status.toString)
  }

  test("bestRepresentativesByContent sweep: identical to the doc-level pipeline on clone-heavy corpora") {
    // the content-collapse argument (jaccard is a property of the text;
    // clones never change connectivity; labels are rep ids) is proved by
    // construction in the scaladoc — this sweep checks it holds on
    // randomized corpora with heavy cloning, singleton groups, isolated
    // multi-member groups, and tie-heavy qualities
    val genCorpus: Gen[List[(Long, String, Double)]] = for {
      nBase <- Gen.choose(2, 8)
      bases <- Gen.listOfN(nBase,
        Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))))
      clones <- Gen.listOfN(nBase, Gen.choose(0, 4))
    } yield {
      val texts = bases.zip(clones).flatMap { case (t, c) => List.fill(1 + c)(t.mkString(" ")) }
      texts.zipWithIndex.map { case (t, i) => (i * 3L, t, (i % 3).toDouble / 3) }
    }
    // dfCap 3 drives clone-family shingles HOT (family size > 3), so the
    // live-rep gate on the csize>=2 clause is exercised — an all-hot
    // clone family must vanish from BOTH pipelines, not just the
    // doc-level one
    val prop = Prop.forAll(genCorpus, Gen.oneOf(0.3, 0.5, 0.9),
      Gen.oneOf(3, 10000)) { (rows, tau, dfCap) =>
      val docs = rows.toDF("doc_id", "text", "quality")
      // doc-level reference: the original pipeline over the full doc pair
      // graph at the SAME df cap
      val docPairs = Dedup.exactJaccardPairs(
        Dedup.postingIndex(docs, dfCap = dfCap), tau).select(col("id_a"), col("id_b"))
      val ref = Dedup.bestRepresentatives(docPairs, docs.select(col("doc_id"), col("quality")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.bestRepresentativesByContent(docs, tau, dfCap = dfCap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      got == ref
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(15, 60)), prop)
    assert(res.passed, res.status.toString)
  }

  test("boilerplatePhrases sweep: matches naive distinct-ngram df counting") {
    val vocab = Vector("aa", "bb", "cc", "dd")
    val genCorpus: Gen[List[(Long, String)]] = for {
      nDocs <- Gen.choose(2, 15)
      docs <- Gen.listOfN(nDocs,
        Gen.choose(1, 7).flatMap(len => Gen.listOfN(len, Gen.oneOf(vocab))))
    } yield docs.zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val prop = Prop.forAll(genCorpus, Gen.choose(2, 3), Gen.oneOf(0.2, 0.4, 0.6)) { (rows, n, ratio) =>
      val got = TextAnalysis.boilerplatePhrases(rows.toDF("doc_id", "text"), n, ratio)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = rows
        .flatMap { case (_, t) =>
          val tk = t.toLowerCase.split("\\s+").toSeq
          val grams = if (tk.size < n) Seq(tk) else tk.sliding(n).toSeq
          grams.map(_.mkString(" ")).distinct
        }
        .groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= math.ceil(ratio * rows.size)).toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(10, 30)), prop)
    assert(res.passed, s"boilerplate sweep: $res")
  }

  /** In-test Levenshtein DP — the independent reference for d16. */
  private def levRef(a: String, b: String): Int = {
    val (n, m) = (a.length, b.length)
    var prev = Array.tabulate(m + 1)(identity)
    for (i <- 1 to n) {
      val cur = new Array[Int](m + 1); cur(0) = i
      for (j <- 1 to m)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(m)
  }

  test("editNearDupPairs sweep: bounded verify matches DP levenshtein on every candidate") {
    // corpora of near-clone families: a base sentence plus char-level
    // mutations (substitute/insert/delete) — exactly the shapes the edit
    // verify must separate at the 0.8 similarity floor
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val genCorpus: Gen[List[(Long, String)]] = for {
      nBase <- Gen.choose(2, 5)
      bases <- Gen.listOfN(nBase, Gen.choose(6, 14).flatMap(Gen.listOfN(_, word)))
      muts <- Gen.listOfN(nBase, Gen.choose(0, 3))
      seeds <- Gen.listOfN(nBase, Gen.choose(0, 1000))
      // identical-empty pairs: lev 0 over max_len 0 — the 0/0 edge the
      // explicit max_len > 0 predicate must drop (Scala-side NaN >= 0.8
      // is false; Spark-side NaN orders ABOVE 0.8 without the guard)
      empties <- Gen.choose(0, 2)
    } yield {
      val texts = bases.lazyZip(muts).lazyZip(seeds).flatMap { (ws, m, seed) =>
        val base = ws.mkString(" ")
        base :: (1 to m).toList.map { k =>
          val r = new scala.util.Random(seed + k)
          val i = r.nextInt(base.length)
          r.nextInt(3) match { // one random char edit per clone
            case 0 => base.updated(i, ('a' + r.nextInt(26)).toChar)
            case 1 => base.substring(0, i) + ('a' + r.nextInt(26)).toChar + base.substring(i)
            case _ => base.substring(0, i) + base.substring(math.min(i + 1, base.length))
          }
        }
      } ++ List.fill(empties)("")
      texts.zipWithIndex.map { case (t, i) => (i * 2L, t) }
    }
    val prop = Prop.forAll(genCorpus, Gen.oneOf(8, 128)) { (rows, maxLev) =>
      val docs = rows.toDF("doc_id", "text")
      // candidates: every co-occurring-shingle pair (df cap off) — the
      // pair generator is property-tested elsewhere; this sweep isolates
      // the NEW verify stage against the in-test DP
      val cands = Dedup.jaccardPairGraph(Dedup.postingIndex(docs, dfCap = 10000))
      val got = Dedup.editNearDupPairs(docs, cands, simFloor = 0.8, maxLev = maxLev)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val byId = rows.toMap
      val want = cands.collect().map(r => (r.getLong(0), r.getLong(1))).flatMap {
        case (a, b) =>
          val lev = levRef(byId(a), byId(b))
          val maxLen = math.max(byId(a).length, byId(b).length).toDouble
          if (lev <= maxLev && 1.0 - lev / maxLen >= 0.8) Some((a, b, lev.toLong)) else None
      }.toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(15, 60)), prop)
    assert(res.passed, res.status.toString)
  }

  test("editNearDupFromContent sweep: content-collapsed output equals the doc-level pipeline") {
    // clone-heavy corpora — the shape that made the doc-level verify
    // quadratic: base sentences, char-edit variants, AND identical clones
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val genCorpus: Gen[List[(Long, String)]] = for {
      nBase <- Gen.choose(2, 4)
      bases <- Gen.listOfN(nBase, Gen.choose(6, 12).flatMap(Gen.listOfN(_, word)))
      clones <- Gen.listOfN(nBase, Gen.choose(0, 4))
      edits <- Gen.listOfN(nBase, Gen.choose(0, 2))
      seeds <- Gen.listOfN(nBase, Gen.choose(0, 1000))
      // up to TWO empty docs: an identical-empty PAIR hits the 0/0
      // edit-similarity edge (max_len = 0), which both pipelines must
      // drop via the explicit max_len > 0 predicate
      empties <- Gen.choose(0, 2)
    } yield {
      val texts = bases.lazyZip(clones).lazyZip(edits).toList.zip(seeds).flatMap {
        case ((ws, c, m), seed) =>
          val base = ws.mkString(" ")
          val r = new scala.util.Random(seed)
          val mutated = (1 to m).toList.map { _ =>
            val i = r.nextInt(base.length)
            base.updated(i, ('a' + r.nextInt(26)).toChar)
          }
          List.fill(c + 1)(base) ++ mutated
      } ++ List.fill(empties)("")
      texts.zipWithIndex.map { case (t, i) => (i * 2L, t) }
    }
    // dfCap 3 drives clone-family shingles HOT (family size > 3), so the
    // live-rep gate and the hot-exclusion of intra pairs are exercised
    val prop = Prop.forAll(genCorpus, Gen.oneOf(3, 50)) { (rows, dfCap) =>
      val docs = rows.toDF("doc_id", "text")
      val want = Dedup.editNearDupPairs(docs,
        Dedup.exactJaccardPairs(Dedup.postingIndex(docs, dfCap), 0.2))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val grp = Dedup.contentGroups(docs)
      val got = Dedup.editNearDupFromContent(docs, grp,
        Dedup.contentRepPairGraph(grp, dfCap).filter(col("jaccard") >= 0.2),
        Dedup.liveContentReps(grp, dfCap))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(10, 40)), prop)
    assert(res.passed, res.status.toString)
  }

  test("dupReport + crossSourceOverlap sweep: match naive recomputation on random pair graphs") {
    val genFixture: Gen[(List[(Long, String)], List[(Long, Long, Double)])] = for {
      n <- Gen.choose(4, 30)
      srcs <- Gen.listOfN(n, Gen.choose(0, 4).map(k => s"s$k"))
      nPairs <- Gen.choose(0, 40)
      pairIdx <- Gen.listOfN(nPairs, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
      sims <- Gen.listOfN(nPairs, Gen.choose(40, 100).map(_ / 100.0))
    } yield {
      val docs = srcs.zipWithIndex.map { case (s, i) => (i * 3L, s) }
      val pairs = pairIdx.zip(sims).collect {
        case ((i, j), v) if i != j =>
          (math.min(i, j) * 3L, math.max(i, j) * 3L, v)
      }.distinct
      (docs, pairs)
    }
    val prop = Prop.forAll(genFixture) { case (docs, pairs) =>
      val docsDf = docs.toDF("doc_id", "source")
      val pairsDf = pairs.toDF("id_a", "id_b", "jaccard")
      val srcOf = docs.toMap

      val gotReport = Dedup.dupReport(docsDf, pairsDf.select(col("id_a"), col("id_b")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val dupIds = pairs.flatMap(p => List(p._1, p._2)).toSet
      val wantReport = docs.groupBy(_._2).map { case (s, ds) =>
        (s, ds.size.toLong, ds.count(d => dupIds(d._1)).toLong)
      }.toSet
      val okReport = gotReport == wantReport

      val gotX = Dedup.crossSourceOverlap(docsDf, pairsDf)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val wantX = pairs
        .filter(p => srcOf(p._1) != srcOf(p._2))
        .groupBy { p =>
          val (a, b) = (srcOf(p._1), srcOf(p._2))
          (if (a < b) a else b, if (a < b) b else a)
        }
        .map { case ((a, b), ps) => (a, b) -> (ps.size.toLong, ps.map(_._3).sum / ps.size) }
      val okX = gotX.length == wantX.size && gotX.forall { case (a, b, n, avg) =>
        wantX.get((a, b)).exists { case (wn, wavg) => wn == n && math.abs(wavg - avg) < 1e-4 }
      }
      okReport && okX
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(20, 80)), prop)
    assert(res.passed, res.status.toString)
  }

  test("chunkWindows sweep: spans, coverage, overlap, and content hashes vs in-test reference") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "e")
    val genText: Gen[String] = for {
      n <- Gen.choose(1, 200)
      ws <- Gen.listOfN(n, word)
      lead <- Gen.oneOf("", " ", "\n\t")
      sep <- Gen.listOfN(n, Gen.oneOf(" ", "  ", "\t", " \n "))
    } yield lead + ws.zip(sep).map { case (w, s) => w + s }.mkString.trim
    val prop = Prop.forAll(Gen.listOf(genText), Gen.oneOf((4, 4), (8, 3), (64, 32))) {
      case (texts, (w, s)) =>
        val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        val docs = rows.toDF("doc_id", "text")
        val out = Packing.chunkWindows(docs, window = w, stride = s)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5hex(x: String): String =
          md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val want = rows.flatMap { case (id, t) =>
          val toks = java.util.regex.Pattern.compile("\\s+").split(t, -1).toSeq
          val n = toks.length
          (0L until n.toLong by s.toLong).map { start =>
            val chunk = toks.slice(start.toInt, start.toInt + w)
            (id, start / s, start, math.min(w.toLong, n - start), md5hex(chunk.mkString("\u001f")))
          }
        }.toSet
        out.toSet == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(15, 60)), prop)
    assert(res.passed, res.status.toString)
  }

  test("containmentPairs sweep: asymmetric coverage matches naive shingle-set recomputation") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    // corpora built to CONTAIN: long docs plus excerpts sliced out of them
    val genCorpus: Gen[List[(Long, String)]] = for {
      nBase <- Gen.choose(1, 4)
      bases <- Gen.listOfN(nBase, Gen.choose(8, 20).flatMap(Gen.listOfN(_, word)))
      cuts <- Gen.listOfN(nBase, Gen.choose(0, 2))
    } yield {
      val texts = bases.zip(cuts).flatMap { case (ws, c) =>
        ws.mkString(" ") :: (1 to c).toList.map(k =>
          ws.slice(k, k + 5 + k).mkString(" ")) // excerpts of the base
      }
      texts.zipWithIndex.map { case (t, i) => (i * 2L, t) }
    }
    def shingles(t: String): Set[String] = {
      val tk = t.toLowerCase.split("\\s+").toSeq
      if (tk.length < 3) Set(tk.mkString("\u001f"))
      else tk.sliding(3).map(_.mkString("\u001f")).toSet
    }
    val prop = Prop.forAll(genCorpus, Gen.oneOf(0.5, 0.8, 1.0)) { (rows, floor) =>
      val docs = rows.toDF("doc_id", "text")
      val got = Dedup.containmentPairs(Dedup.postingIndex(docs, dfCap = 10000), floor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      val byId = rows.map { case (id, t) => id -> shingles(t) }.toMap
      val want = (for {
        (a, sa) <- byId; (b, sb) <- byId if a < b
        co = (sa & sb).size if co > 0
        cont = math.rint(co.toDouble / math.min(sa.size, sb.size) * 10000) / 10000
        if cont >= floor
        jac = math.rint(co.toDouble / (sa.size + sb.size - co) * 10000) / 10000
      } yield (a, b, cont, jac)).toSet
      // rint vs HALF_UP can differ at exact .00005 ties; compare with tolerance
      got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)) &&
        got.toList.sortBy(t => (t._1, t._2)).zip(want.toList.sortBy(t => (t._1, t._2)))
          .forall { case (g, w) => math.abs(g._3 - w._3) < 2e-4 && math.abs(g._4 - w._4) < 2e-4 }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(15, 60)), prop)
    assert(res.passed, res.status.toString)
  }

  test("diverseTopK sweep: round-robin pick matches the in-test reference on ragged, tie-heavy cells") {
    val genItems: Gen[List[(Long, Long, Double)]] = for {
      nCells <- Gen.choose(1, 6)
      sizes <- Gen.listOfN(nCells, Gen.choose(0, 12))
      scores <- Gen.listOfN(sizes.sum, Gen.choose(0, 5).map(_ / 5.0)) // tie-heavy
    } yield {
      val cells = sizes.zipWithIndex.flatMap { case (sz, c) => List.fill(sz)(c.toLong) }
      cells.zip(scores).zipWithIndex.map { case ((c, sc), i) => (i * 3L, c, sc) }
    }
    val prop = Prop.forAll(genItems, Gen.choose(1, 20)) { (rows, n) =>
      val got = Selection.diverseTopK(rows.toDF("id", "cell", "score"), n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      // reference: rank within cell, then order by (cell_rank, score desc, id)
      val ranked = rows.groupBy(_._2).toList.flatMap { case (_, items) =>
        items.sortBy(it => (-it._3, it._1)).zipWithIndex
          .map { case ((id, c, sc), i) => (id, c, sc, i + 1L) }
      }
      val want = ranked.sortBy(it => (it._4, -it._3, it._1)).take(n)
        .zipWithIndex.map { case ((id, c, sc, cr), i) => (id, c, sc, cr, i + 1L) }
      got.toList == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(20, 80)), prop)
    assert(res.passed, res.status.toString)
  }

  test("corpusCard sweep: moments match exact BigInt recomputation on skewed groups") {
    val word = Gen.oneOf("a", "bb", "ccc", "dddd")
    val genDocs: Gen[List[(Long, String, String, String)]] = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        src <- Gen.oneOf("web", "books", "code")
        lang <- Gen.oneOf("en", "de")
        k <- Gen.choose(1, 30)
        ws <- Gen.listOfN(k, word)
      } yield (src, lang, ws.mkString(" ")))
    } yield rows.zipWithIndex.map { case ((s, l, t), i) => (i * 2L, t, s, l) }
    val prop = Prop.forAll(genDocs) { rows =>
      val got = Curation.corpusCard(rows.toDF("doc_id", "text", "source", "lang"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
            r.getDouble(7), r.getDouble(8))).toMap
      rows.groupBy(r => (r._3, r._4)).forall { case (key, ds) =>
        val toks = ds.map(_._2.trim.split(" +").length.toLong)
        val n = toks.size.toLong
        val s1 = toks.map(BigInt(_)).sum
        val s2 = toks.map(t => BigInt(t) * t).sum
        val mean = (s1.toDouble / n * 10000).round / 10000.0
        val varT = if (n > 1) (((n * s2 - s1 * s1).toDouble / (n * (n - 1))) * 10000).round / 10000.0 else 0.0
        val (gn, gs1, gchars, gmin, gmax, gmean, gvar) = got(key)
        gn == n && gs1 == s1.toLong &&
          gchars == ds.map(_._2.length.toLong).sum &&
          gmin == toks.min && gmax == toks.max &&
          math.abs(gmean - mean) < 2e-4 && math.abs(gvar - varT) < 2e-4
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(20, 60)), prop)
    assert(res.passed, res.status.toString)
  }

  test("mixtureWeights sweep: weights sum to ~1, budget conserved, epochs consistent") {
    val genDocs: Gen[List[(Long, String, String)]] = for {
      nLangs <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nLangs, Gen.choose(1, 25))
      kss <- Gen.listOfN(nLangs, Gen.choose(1, 40))
    } yield sizes.zipWithIndex.flatMap { case (sz, l) =>
      (0 until sz).map(i => ((l * 100 + i).toLong,
        List.fill(kss(l))("w").mkString(" "), s"lang$l"))
    }
    val prop = Prop.forAll(genDocs, Gen.oneOf(0.3, 0.5, 1.0)) { (rows, alpha) =>
      val out = Packing.mixtureWeights(
        rows.toDF("doc_id", "text", "lang"), alpha, 50000L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4), r.getDouble(5)))
      val byLang = rows.groupBy(_._3)
      val nTok = byLang.map { case (l, ds) => l -> ds.map(_._2.split(" +").length.toLong).sum }
      val wsum = nTok.values.map(n => math.pow(n.toDouble, alpha)).sum
      out.length == byLang.size &&
        math.abs(out.map(_._4).sum - 1.0) < 1e-3 &&          // weights normalize
        out.map(_._5).sum <= 50000L &&                       // floor never overshoots
        out.forall { case (l, nd, nt, w, tgt, ep) =>
          nd == byLang(l).size && nt == nTok(l) &&
            math.abs(w - math.pow(nt.toDouble, alpha) / wsum) < 2e-6 &&
            tgt == math.floor(w * 50000.0).toLong &&
            math.abs(ep - math.floor(tgt.toDouble / nt * 10000 + 0.5) / 10000) < 2e-4
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(20, 60)), prop)
    assert(res.passed, res.status.toString)
  }

  test("bpeMerges sweep: merge table matches an in-test reference BPE") {
    // tiny-alphabet corpora so pair-frequency TIES and run-merges
    // ("aaa" with pair (a,a)) actually happen; the reference replays
    // the frequency-weighted census, the (freq DESC, a, b) argmax, and
    // the greedy left-to-right merge
    def bpeRef(corpus: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
      val words = corpus.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var cur: Seq[(List[String], Long)] =
        words.toSeq.map { case (w, f) => (w.map(_.toString).toList, f) }
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var r = 1
      var done = false
      while (r <= k && !done) {
        val counts = cur.flatMap { case (ss, f) =>
          ss.zip(ss.drop(1)).map(p => p -> f)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        if (counts.isEmpty) done = true
        else {
          val ((a, b), f) = counts.toSeq
            .sortBy { case ((a, b), f) => (-f, a, b) }.head
          out += ((r, a, b, f))
          cur = cur.map { case (ss, fr) =>
            val m = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < ss.length) {
              if (i + 1 < ss.length && ss(i) == a && ss(i + 1) == b) {
                m += (a + b); i += 2
              } else { m += ss(i); i += 1 }
            }
            (m.toList, fr)
          }
          r += 1
        }
      }
      out.result()
    }
    val word = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val genCorpus: Gen[List[String]] = for {
      nDocs <- Gen.choose(1, 10)
      docs <- Gen.listOfN(nDocs, Gen.choose(1, 8).flatMap(Gen.listOfN(_, word)))
    } yield docs.map(_.mkString(" "))
    def applyRef(word: String, table: Seq[(String, String)]): Int =
      table.foldLeft(word.map(_.toString).toList) { case (ss, (a, b)) =>
        val m = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < ss.length) {
          if (i + 1 < ss.length && ss(i) == a && ss(i + 1) == b) { m += (a + b); i += 2 }
          else { m += ss(i); i += 1 }
        }
        m.toList
      }.length
    val prop = Prop.forAll(genCorpus, Gen.choose(1, 5)) { (texts, k) =>
      val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = TextAnalysis.bpeMerges(corpus, k)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
        .sortBy(_._1)
      val table = got.map(t => (t._2, t._3))
      val enc = TextAnalysis.bpeEncode(corpus, table)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val encWant = texts.zipWithIndex.map { case (t, i) =>
        val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        i.toLong -> ((ws.length.toLong, ws.map(w => applyRef(w, table).toLong).sum))
      }.toMap
      // the capped-census driver trainer must produce the identical
      // table (uncapped here: vocabCap >> vocabulary), including PAST
      // exhaustion — merges=500 exhausts on these tiny corpora, so it
      // checks the early-stop matches the sequential reference's
      val drv = TextAnalysis.bpeTrainDriver(corpus, k)
      val drvDeep = TextAnalysis.bpeTrainDriver(corpus, 500)
      // BINDING cap: training must see only the top-2 (freq DESC, word)
      // census words — replay the same cut in the reference
      val words = texts.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (w, f) => (-f, w) }.take(2)
      val cappedTexts = words.flatMap { case (w, f) => Seq.fill(f)(w) }
      val drvCapped = TextAnalysis.bpeTrainDriver(corpus, k, vocabCap = 2)
      got == bpeRef(texts, k) && enc == encWant &&
        drv == bpeRef(texts, k) && drvDeep == bpeRef(texts, 500) &&
        drvCapped == bpeRef(cappedTexts.toList, k)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(10, 40)), prop)
    assert(res.passed, res.status.toString)
  }

  test("winnowing sweep: fingerprints, df-capped pairs, and admission match an in-test reference") {
    // clone-heavy corpora WITH INSERTIONS so the position-robustness
    // property actually engages; small k/w/dfCap so the short-doc
    // branch, window minima, and the df cap all exercise
    def sha32(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(g.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    def fpsOf(text: String, k: Int, w: Int): Set[Long] = {
      // split limit -1: Spark's split keeps trailing empties
      val tk = text.toLowerCase.split("\\s+", -1).toSeq
      val joint = 31.toChar.toString // concat_ws(char(31), ...) gram join byte
      val hs =
        if (tk.length < k) Seq(sha32(tk.mkString(joint)))
        else tk.sliding(k).map(g => sha32(g.mkString(joint))).toSeq
      val sel =
        if (hs.length <= w) Seq(hs.min)
        else hs.sliding(w).map(_.min).toSeq
      sel.toSet
    }
    val word = Gen.oneOf("aa", "b", "cc", "dd", "e")
    val genDoc = Gen.choose(1, 9).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val genCorpus: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(2, 8)
      docs <- Gen.listOfN(n, genDoc)
      ins <- Gen.oneOf("zz", "e")
    } yield {
      // clones of doc 0: one exact, one with a mid-insertion
      val base = docs.head.split(" ").toList
      val shifted = (base.take(base.length / 2) ++ List(ins) ++
        base.drop(base.length / 2)).mkString(" ")
      (docs :+ docs.head :+ shifted).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    }
    val prop = Prop.forAll(genCorpus, Gen.choose(2, 4), Gen.choose(2, 4),
        Gen.choose(1, 3), Gen.choose(1, 6)) { (corpusDocs, k, w, minShared, dfCap) =>
      val corpus = corpusDocs.toDF("doc_id", "text")
      val ref = corpusDocs.map { case (id, t) => id -> fpsOf(t, k, w) }.toMap
      val dfm = ref.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val kept = ref.view.mapValues(_.filter(fp => dfm(fp) <= dfCap)).toMap
      val wantPairs = (for {
        (a, fa) <- kept.toSeq; (b, fb) <- kept.toSeq if a < b
        shared = (fa & fb).size if shared >= minShared
      } yield (a, b, shared.toLong)).toSet
      val gotPairs = Dedup.winnowedPairs(corpus, k, w, minShared, dfCap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // admission: history = even ids, incoming = odd ids; the incoming
      // side probes UNCAPPED against the df-capped history index
      val hist = corpus.filter(col("doc_id") % 2 === 0)
      val inc = corpus.filter(col("doc_id") % 2 === 1)
      val histKept = {
        val h = ref.filter(_._1 % 2 == 0)
        val d = h.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
        h.view.mapValues(_.filter(fp => d(fp) <= dfCap)).toMap
      }
      val wantAdmit = corpusDocs.collect {
        case (id, t) if id % 2 == 1 &&
          !histKept.values.exists(hf => (fpsOf(t, k, w) & hf).size >= minShared) => id
      }.toSet
      val gotAdmit = Dedup.winnowAdmit(inc,
        Dedup.winnowedIndex(hist, k, w, dfCap), k, w, minShared)
        .collect().map(_.getLong(0)).toSet
      gotPairs == wantPairs && gotAdmit == wantAdmit
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(8, 30)), prop)
    assert(res.passed, res.status.toString)
  }

  test("dsir sweep: scores and top-k match an in-test reference model") {
    // tiny vocab + few buckets so hash COLLISIONS actually happen; the
    // reference independently replays the sha-256 bucket recipe, the
    // smoothed log-ratio, the per-doc mean, the stableRound grid, and
    // the (score DESC, doc_id) truncation
    val buckets = 8
    def bucketOf(token: String): Int = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(token.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % buckets).toInt
    }
    def round4(v: Double): Double =
      BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(corpus: Seq[(Long, String)], target: Seq[(Long, String)],
        k: Int): Seq[(Long, Double, Long, Long)] = {
      def toks(docs: Seq[(Long, String)]) = docs.flatMap { case (id, t) =>
        t.toLowerCase.split("\\s+").filter(_.nonEmpty).map(w => (id, bucketOf(w)))
      }
      val tokC = toks(corpus)
      val tokT = toks(target)
      val cr = tokC.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val ct = tokT.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val rt = tokC.size.toLong
      val tt = tokT.size.toLong
      def lr(b: Int): Double =
        math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tt + buckets)) -
          math.log((cr(b) + 1).toDouble / (rt + buckets))
      tokC.groupBy(_._1).toSeq
        .map { case (id, ts) =>
          (id, round4(ts.map(t => lr(t._2)).sum / ts.size), ts.size.toLong)
        }
        .sortBy { case (id, s, _) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s, n), i) => (id, s, n, (i + 1).toLong) }
    }
    val word = Gen.oneOf("aa", "ab", "b", "ccc", "cab", "x")
    def genDocs(ids: Range): Gen[List[(Long, String)]] = for {
      n <- Gen.choose(1, ids.length)
      docs <- Gen.listOfN(n, Gen.choose(1, 6).flatMap(Gen.listOfN(_, word)))
    } yield docs.zipWithIndex.map { case (ws, i) => (ids(i).toLong, ws.mkString(" ")) }
    val prop = Prop.forAll(genDocs(0 until 10), genDocs(100 until 104),
        Gen.choose(1, 8)) { (corpusDocs, targetDocs, k) =>
      val corpus = corpusDocs.toDF("doc_id", "text")
      val target = targetDocs.toDF("doc_id", "text")
      val got = Selection.dsirSelect(corpus, target, k, buckets)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._4)
      got == ref(corpusDocs, targetDocs, k)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(15, 50)), prop)
    assert(res.passed, res.status.toString)
  }

  test("knnLabel sweep: vote matches in-test brute force on tie-heavy embeddings") {
    // component values off a coarse grid so cosine TIES and equal-vote
    // groups actually happen; the reference replays the kernel's exact
    // sequential double accumulation, the (cos DESC, vec_id) rank order,
    // and the (votes DESC, label ASC) argmax
    def cosRef(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val genVec: Gen[Seq[Double]] =
      Gen.listOfN(4, Gen.oneOf(0.0, 0.5, 1.0)).map(_.toSeq)
        .retryUntil(v => v.exists(_ != 0.0))
    val genFixture: Gen[(List[(Long, Seq[Double], Int)], List[(Long, Seq[Double])], Int)] = for {
      nLab <- Gen.choose(3, 25)
      labs <- Gen.listOfN(nLab, Gen.zip(genVec, Gen.choose(0, 3)))
      nQ <- Gen.choose(1, 6)
      qs <- Gen.listOfN(nQ, genVec)
      k <- Gen.choose(1, 7)
    } yield (
      labs.zipWithIndex.map { case ((v, l), i) => (i * 2L, v, l) },
      qs.zipWithIndex.map { case (v, i) => (1000L + i, v) }, k)
    val prop = Prop.forAll(genFixture) { case (labs, qs, k) =>
      val labeled = labs.toDF("vec_id", "embedding", "label")
      val queries = qs.toDF("query_id", "q_emb")
      val got = Similarity.knnLabel(labeled, queries, k)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
      val want = qs.map { case (qid, q) =>
        val topk = labs.map { case (id, v, l) => (id, l, cosRef(q, v)) }
          .sortBy { case (id, _, c) => (-c, id) }.take(k)
        val byLabel = topk.groupBy(_._2).view
          .mapValues(_.size.toLong).toMap
        val (lab, votes) = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
        qid -> ((lab, votes))
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(15, 50)), prop)
    assert(res.passed, res.status.toString)
  }

  test("knnLabel: a labeled vector sharing an id with a query still votes") {
    // labeled and query relations have independent id spaces — the old
    // candidate stage reused bruteForceTopK's vec_id =!= query_id
    // self-join exclusion, silently dropping exactly this vector
    val labeled = List(
      (1L, Seq(1.0, 0.0), 7), // same id as the query — must still vote
      (2L, Seq(0.9, 0.1), 7),
      (3L, Seq(0.0, 1.0), 3)).toDF("vec_id", "embedding", "label")
    val queries = List((1L, Seq(1.0, 0.0))).toDF("query_id", "q_emb")
    val got = Similarity.knnLabel(labeled, queries, k = 2).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getInt(1) == 7 && r.getLong(2) == 2L,
      s"both nearest label-7 vectors must vote (got $r)")
  }

  test("winnowing sweep: selection matches reference; shared runs >= w+k-1 collide") {
    // in-test reference replays the whole chain (sha-prefix k-gram
    // hashes, sliding window minima) independently, and the paper's
    // guarantee is checked structurally: two docs sharing a planted
    // token run of length >= w + k - 1 must share a fingerprint
    val k = 4; val w = 4
    def hashRef(gram: String): Long = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(gram.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    def fpsRef(text: String): Set[Long] = {
      val tk = text.toLowerCase.split("\\s+").toSeq
      val gs = if (tk.length < k) Seq(tk.mkString("\u001f"))
               else tk.sliding(k).map(_.mkString("\u001f")).toSeq
      val hs = gs.map(hashRef)
      if (hs.length <= w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val genDoc: Gen[String] = for {
      n <- Gen.choose(1, 40)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
    } yield ws.mkString(" ")
    val genFixture: Gen[(List[String], String)] = for {
      nDocs <- Gen.choose(2, 10)
      docs <- Gen.listOfN(nDocs, genDoc)
      runLen <- Gen.choose(w + k - 1, 2 * (w + k))
      run <- Gen.listOfN(runLen, Gen.oneOf(words)).map(_.mkString(" "))
    } yield (docs, run)
    val prop = Prop.forAll(genFixture) { case (docs, run) =>
      // plant the run inside the first two docs at different offsets
      val planted = docs.zipWithIndex.map {
        case (d, 0) => s"$d $run"
        case (d, 1) => s"$run $d"
        case (d, _) => d
      }
      val df = planted.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.winnowedFingerprints(df, k, w).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val okRef = planted.indices.forall(i => got(i.toLong) == fpsRef(planted(i)))
      val okGuarantee = (got(0L) intersect got(1L)).nonEmpty
      okRef && okGuarantee
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(12, 40)), prop)
    assert(res.passed, res.status.toString)
  }

  test("quantizedCells + semDedup sweep: degenerate feature spaces keep/drop vs reference") {
    // the documented LSH failure modes as generator shapes — constant
    // vectors, one-hot axes, two clustered directions — plus id spaces
    // entirely ABOVE the quantizer's old absolute vec_id < 4096 sample
    // filter (which returned an empty training sample and made
    // KMeans.fit throw). The reference replays semDedup's keep rule over
    // the SAME cell assignment quantizedCells produced, so the check is
    // quantizer-agnostic: clone groups collapse to their min id, a gid
    // drops iff a smaller gid in its cell clears tau.
    def cosRef(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val dim = 6
    def vecOf(shape: Int, i: Int): Seq[Double] = shape match {
      case 0 => Seq.fill(dim)(0.5) // constant: every vector identical
      case 1 => Seq.tabulate(dim)(d => if (d == i % dim) 1.0 else 0.0) // one-hot axes
      case _ =>
        // two clustered directions (cos 0.5 apart), tiny per-doc jitter in
        // a dedicated coordinate: same-cluster cosines ≈ 1, cross ≈ 0.5 —
        // both far from tau, so float-vs-double rounding can't flip keeps
        val base =
          if (i % 2 == 0) Seq(1.0, 1.0, 0.0, 0.0, 0.0, 0.0)
          else Seq(1.0, 0.0, 1.0, 0.0, 0.0, 0.0)
        base.updated(4 + i % 2, 0.001 * (i % 5))
    }
    val genFixture: Gen[(List[(Long, Seq[Double])], Long, Boolean)] = for {
      shape <- Gen.oneOf(0, 1, 2)
      n <- Gen.choose(8, 60)
      offset <- Gen.oneOf(0L, 5000L, 1000000L) // 5000/1e6: all ids above the sample filter
      nClones <- Gen.choose(0, 8)
      seeded <- Gen.oneOf(true, false) // r15: the sha-fold seeded quantizer shares the sweep
    } yield {
      val base = (0 until n).map(i => (offset + i.toLong, vecOf(shape, i)))
      val clones = (0 until math.min(nClones, n))
        .map(i => (offset + n + i.toLong, vecOf(shape, i)))
      ((base ++ clones).toList, offset, seeded)
    }
    val tau = 0.95
    val prop = Prop.forAll(genFixture) { case (rows, _, seeded) =>
      val v = rows.toDF("vec_id", "embedding")
      val assigned = (if (seeded) Similarity.seededCells(v)
        else Similarity.quantizedCells(v)).localCheckpoint()
      val asn = assigned.select("vec_id", "embedding", "cell").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
      // total assignment: every row lands in exactly one cell
      val okAssigned = asn.length == rows.length &&
        asn.map(_._1).distinct.length == rows.length
      val kept = Dedup.semDedup(assigned, tau)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // reference keep set over the produced assignment
      val gids = asn.groupBy(_._2.toList).map { case (_, g) => g.minBy(_._1) }.toSeq
      val want = gids.filter { case (id, emb, cell) =>
        !gids.exists { case (id2, emb2, cell2) =>
          cell2 == cell && id2 < id && cosRef(emb2, emb) > tau
        }
      }.map(_._1).toSet
      val okLinear = kept.size <= gids.size && kept.nonEmpty
      okAssigned && okLinear && kept == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(12, 40)), prop)
    assert(res.passed, res.status.toString)
  }

  test("bpeMerges batched rounds equal a strictly sequential reference") {
    // the round-12 batch selection (symbol-disjoint prefix + dominance
    // bound + merged-string collision probe) claims sequential
    // equivalence — this sweep pits it against a pure-Scala sequential
    // BPE over adversarial corpora: a 2-letter alphabet forces
    // interlocking top pairs, frequency ties, runs (greedy
    // non-overlapping merge order), and merged-string collisions
    def mergeOnce(syms: Array[String], a: String, b: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
    def refBpe(corpus: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
      var cur: Seq[(Array[String], Long)] = corpus
        .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) =>
          (w.toCharArray.map(_.toString), g.size.toLong) }.toSeq
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var r = 1
      var done = false
      while (r <= k && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        cur.foreach { case (syms, f) =>
          var i = 0
          while (i + 1 < syms.length) { // overlaps included
            val key = (syms(i), syms(i + 1))
            counts(key) = counts.getOrElse(key, 0L) + f
            i += 1
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), f) = counts.minBy { case ((a, b), f) => (-f, a, b) }
          out += ((r, a, b, f))
          cur = cur.map { case (syms, fr) => (mergeOnce(syms, a, b), fr) }
          r += 1
        }
      }
      out.result()
    }
    val genCorpus: Gen[List[String]] = for {
      nWords <- Gen.choose(3, 30)
      words <- Gen.listOfN(nWords, for {
        len <- Gen.choose(1, 6)
        cs <- Gen.listOfN(len, Gen.oneOf("a", "b"))
      } yield cs.mkString)
      reps <- Gen.listOfN(nWords, Gen.choose(1, 5))
    } yield words.zip(reps).flatMap { case (w, n) => Seq.fill(n)(w) }
    val prop = Prop.forAll(genCorpus, Gen.oneOf(1, 3, 8, 12)) { (words, k) =>
      val docs = words.grouped(4).zipWithIndex
        .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      val got = TextAnalysis.bpeMerges(docs, k).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val want = refBpe(words, k)
      if (got != want)
        println(s"MISMATCH words=$words k=$k\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(15, 60)), prop)
    assert(res.passed, res.status.toString)
  }

  test("embed admission lifecycle sweep: build/admit-append/admit match an in-test reference chain") {
    // randomized small-int 2-D vectors (cosines land on a coarse value
    // grid well away from tau=0.9, so float-vs-double rounding can't
    // flip a verdict), WITH planted duplicate vectors to exercise the
    // identical-embedding grouping, chained over two batches so the
    // write-back is on the verified path. The reference independently
    // replays the sha-fold seed selection, argmin assignment (ties to
    // the smallest cell), cell-scoped cosine rejection, and min-id
    // connected components.
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def assignR(v: Array[Double], cents: Seq[Array[Double]]): Int = {
      var best = 0; var bestD = Double.PositiveInfinity
      cents.zipWithIndex.foreach { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = i }
      }
      best
    }
    def seedKey(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(id.toString.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    // reference admission of one batch against an assigned history
    def admitR(inc: Seq[(Long, Array[Double])], hist: Seq[(Int, Array[Double])],
        cents: Seq[Array[Double]], tau: Double): Seq[(Long, Int, Array[Double])] = {
      val assigned = inc.map { case (id, v) => (id, assignR(v, cents), v) }
      val groups = assigned.groupBy(t => (t._2, t._3.toSeq))
        .map { case ((cell, _), rows) => (rows.map(_._1).min, cell, rows.head._3) }.toSeq
      val rejected = groups.filter { case (_, cell, v) =>
        hist.exists { case (hc, hv) => hc == cell && cosR(v, hv) > tau } }.map(_._1).toSet
      val surv = groups.filterNot(g => rejected(g._1))
      // connected components by label propagation to fixpoint
      var lab = surv.map(g => g._1 -> g._1).toMap
      var changed = true
      while (changed) {
        changed = false
        for (a <- surv; b <- surv
             if a._1 < b._1 && a._2 == b._2 && cosR(a._3, b._3) > tau) {
          val m = math.min(lab(a._1), lab(b._1))
          if (lab(a._1) != m) { lab += a._1 -> m; changed = true }
          if (lab(b._1) != m) { lab += b._1 -> m; changed = true }
        }
      }
      surv.filter(g => lab(g._1) == g._1).map(g => (g._1, g._2, g._3))
    }
    // no suchThat (its sample-retry can yield None): the zero vector
    // remaps deterministically, keeping cosine always defined
    val genVec: Gen[Array[Float]] = Gen.listOfN(2, Gen.choose(0, 3))
      .map(l => if (l.forall(_ == 0)) Array(1f, 0f)
        else l.map(_.toFloat).toArray)
    def genBatch(base: Long, n: Int, pool: Seq[Array[Float]]): Gen[List[(Long, Array[Float])]] =
      Gen.listOfN(n, Gen.frequency(
        3 -> genVec,
        // planted duplicates: clone a pool vector (same embedding, new id)
        (if (pool.nonEmpty) 2 else 0) -> Gen.oneOf(pool)))
        .map(_.zipWithIndex.map { case (v, i) => (base + i, v) })
    val prop = Prop.forAll(
      Gen.choose(3, 8), Gen.choose(1, 6), Gen.choose(1, 6), Gen.choose(2, 4)) {
      (nHist0, nInc10, nInc20, k0) =>
        // clamp: ScalaCheck shrinking ignores Gen.choose bounds
        val (nHist, nInc1, nInc2, k) =
          (math.max(1, nHist0), math.max(1, nInc10), math.max(1, nInc20), math.max(1, k0))
        val hist = Gen.listOfN(nHist, genVec).sample.get
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }
        val inc1 = genBatch(100L, nInc1, hist.map(_._2)).sample.get
        val inc2 = genBatch(200L, nInc2, (hist ++ inc1).map(_._2)).sample.get
        val tau = 0.9
        withScratch("graft-sweep-embed-") { case Seq(path) =>
          Similarity.writeEmbedIndex(hist.toDF("vec_id", "embedding"), path, k)
          val got1 = Similarity.embedAdmitAppend(inc1.toDF("vec_id", "embedding"), path, tau)
            .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          val got2 = Similarity.embedAdmitFromIndex(inc2.toDF("vec_id", "embedding"), path, tau)
            .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          // reference chain
          val seeds = hist.sortBy(h => (seedKey(h._1), h._1)).take(k)
            .map(_._2.map(_.toDouble))
          val histA = hist.map { case (_, v) =>
            val vd = v.map(_.toDouble); (assignR(vd, seeds), vd) }
          val adm1 = admitR(inc1.map(t => (t._1, t._2.map(_.toDouble))), histA, seeds, tau)
          val hist2 = histA ++ adm1.map(a => (a._2, a._3))
          val adm2 = admitR(inc2.map(t => (t._1, t._2.map(_.toDouble))), hist2, seeds, tau)
          val want1 = adm1.map(a => (a._1, a._2)).toSet
          val want2 = adm2.map(a => (a._1, a._2)).toSet
          if (got1 != want1 || got2 != want2)
            println(s"MISMATCH hist=${hist.map(_._2.toSeq)} inc1=${inc1.map(_._2.toSeq)} " +
              s"inc2=${inc2.map(_._2.toSeq)} k=$k\n got1=$got1 want1=$want1\n got2=$got2 want2=$want2")
          got1 == want1 && got2 == want2
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(8, 25)), prop)
    assert(res.passed, res.status.toString)
  }

  test("foreign-corpus UNK id sweep: bpeTokenIdsAgainst matches an in-test reference encoder") {
    // train on an {a,b}-alphabet corpus, encode a foreign {a,b,z} corpus:
    // the reference independently folds each foreign word through the
    // learned merges (greedy left-to-right per round) and resolves ids
    // against the induced vocabulary with UNK = |vocab|
    def foldWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms: List[String] = word.map(_.toString).toList
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = syms
        while (rest.nonEmpty) rest match {
          case x :: y :: t if x == a && y == b => out += (a + b); rest = t
          case x :: t => out += x; rest = t
          case Nil => ()
        }
        syms = out.toList
      }
      syms
    }
    val genDoc: Gen[String] = for {
      n <- Gen.choose(1, 5)
      ws <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 5)
        cs <- Gen.listOfN(len, Gen.oneOf("a", "b"))
      } yield cs.mkString)
    } yield ws.mkString(" ")
    val genForeignDoc: Gen[String] = for {
      n <- Gen.choose(1, 4)
      ws <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 5)
        cs <- Gen.listOfN(len, Gen.oneOf("a", "b", "z"))
      } yield cs.mkString)
    } yield ws.mkString(" ")
    val prop = Prop.forAll(
      Gen.listOfN(3, genDoc), Gen.listOfN(2, genForeignDoc), Gen.choose(1, 3)) {
      (train, foreign, k0) =>
        val k = math.max(1, k0) // shrink guards (see the embed sweep)
        if (train.isEmpty || foreign.isEmpty) true
        else {
          val trainDf = train.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("doc_id", "text")
          val foreignDf = foreign.zipWithIndex.map { case (t, i) => (100L + i, t) }
            .toDF("doc_id", "text")
          val table = TextAnalysis.bpeTrainDriver(trainDf, k).map(t => (t._2, t._3))
          val rows = TextAnalysis.bpeTokenIdsAgainst(foreignDf, trainDf, table)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
          // reference vocabulary: sorted train alphabet, then merge outputs
          // in rank order, dedup keep-first, dense ids
          val alphabet = train.flatMap(_.split("\\s+")).filter(_.nonEmpty)
            .flatMap(_.map(_.toString)).distinct.sorted
          val vocabSeq = (alphabet ++ table.map { case (a, b) => a + b }).distinct
          val vocab = vocabSeq.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
          val unk = vocabSeq.size.toLong
          val want = foreign.zipWithIndex.flatMap { case (text, di) =>
            text.split("\\s+", -1).zipWithIndex.filter(_._1.nonEmpty).flatMap { case (w, wi) =>
              foldWord(w, table).zipWithIndex.map { case (tok, ti) =>
                (100L + di, wi + 1L, ti + 1L, vocab.getOrElse(tok, unk)) }
            }
          }.toSet
          if (rows != want)
            println(s"MISMATCH train=$train foreign=$foreign k=$k table=$table\n " +
              s"got=$rows\n want=$want")
          rows == want
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases(12, 40)), prop)
    assert(res.passed, res.status.toString)
  }
}
