package graft.plans

import graft.GraftSession.withScratch
import graft.{SparkEntry, Tables, TestSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Locks in the physical-plan properties the 100 TB design depends on.
  * These are regression tests for the optimizer contract: if a code change
  * stops a filter reaching parquet or turns a broadcast into a shuffle,
  * correctness tests stay green but the plan is no longer the one we'd
  * run at scale — this suite fails instead. */
class PlanQualitySpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = TestSession.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode)

  test("q01 pushes the shipdate filter into the parquet scan and prunes columns") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
    assert(p.contains("HashAggregate"))
  }

  test("q03 broadcasts the filtered customer dimension") {
    val p = plan("q03_top_orders")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter not pushed to scan")
    assert(p.contains("TakeOrderedAndProject"), "top-k not lowered")
  }

  test("q11 top-k runs without any shuffle") {
    val p = plan("q11_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange"), "global top-k should not exchange")
  }

  test("q05/q06 plan as semi/anti joins, not set operations") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("rank-only window filters get the WindowGroupLimit pushdown") {
    // a rank<=k predicate over a rank-only window prunes per partition
    // BEFORE the full sort; q09 itself also computes lag in the same
    // window, which correctly disables the pushdown there — assert both.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val rankOnly = Tables.load(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    assert(rankOnly.queryExecution.explainString(FormattedMode).contains("WindowGroupLimit"))
    val q09 = plan("q09_window_rank")
    assert(q09.split("\\(\\d+\\) Window\\b").length == 2,
      "row_number and lag should share ONE Window node (one sort pass)")
  }

  test("dedup scans read only the columns they need") {
    val p = plan("d01_dedup_exact")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("as-of join plans as a window, not a join") {
    // the union-marker encoding must not contain ANY join operator — the
    // whole point is replacing the range join (quadratic worst case) with
    // one partition-sorted window pass
    val p = plan("q43_asof_join")
    assert(!p.contains("Join"), "as-of encoding regressed to a join")
    assert(p.split("\\(\\d+\\) Window\\b").length == 2,
      "both as-of columns should ride ONE Window node (one sort pass)")
  }

  test("adaptive modes pick materially different plans (per-doc skips the collapse)") {
    // result equivalence is pinned in OperatorsSpec; this guards the
    // PLAN side — if a refactor quietly unified the two shapes, the
    // per-doc mode would re-grow the collapse machinery (extra
    // exchanges) that costs ~2x on mostly-unique corpora
    import spark.implicits._
    val corpus = (0 until 60).map(i => (i.toLong, s"text $i one two three four five"))
      .toDF("doc_id", "text")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val lmPer = exchanges(graft.operators.TextAnalysis.lmScore(corpus, Some(1.0)))
    val lmCa = exchanges(graft.operators.TextAnalysis.lmScore(corpus, Some(0.0)))
    assert(lmPer < lmCa, s"per-doc lmScore must plan fewer exchanges ($lmPer vs $lmCa)")
    val mhPer = exchanges(graft.operators.Dedup.minhashPairs(corpus, 0.35, Some(1.0)))
    val mhCa = exchanges(graft.operators.Dedup.minhashPairs(corpus, 0.35, Some(0.0)))
    assert(mhPer < mhCa, s"per-doc minhashPairs must plan fewer exchanges ($mhPer vs $mhCa)")
  }

  test("s13 knn label: query side broadcasts; shuffle exchanges carry scalars, never vectors") {
    // the labeled base must stay partition-parallel with only the bounded
    // query set broadcast, and the rank/vote exchanges must move
    // (query_id, vec_id, raw_cos, label) scalars — a vector riding a hash
    // exchange means the cosine kernel moved past the join
    val p = plan("s13_knn_label")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the rank/vote exchanges")
    shuffles.foreach { s =>
      assert(!s.contains("embedding#") && !s.contains("q_emb#") && !s.contains("b_emb#"),
        s"a vector crossed a shuffle exchange:\n$s")
    }
  }

  test("t17 bpe encode: join-free narrow encode — only the aggregate/sort exchanges") {
    // the encode must fold each word through the merges WHERE THE TEXT
    // LIVES (no vocabulary join, no word strings on a shuffle): the only
    // exchanges are the map-side-combined per-doc aggregate and the
    // display sort
    val p = plan("t17_bpe_encode")
    assert(!p.contains("Join"), "encode must not join a vocabulary relation:\n" + p.take(1500))
    val exchanges = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchanges.length <= 2, s"expected agg + sort exchanges only:\n$p")
    exchanges.foreach(s => assert(!s.contains("word#"),
      s"word strings crossed an exchange:\n$s"))
  }

  test("t18 deep bpe encode: the merge table is constructor data — same narrow plan as t17") {
    // production depth changes TRAINING (driver-side over the capped
    // census), not the encode plan: the ~89-entry merge table closes
    // over the codegen'd MergeAll fold, so the deep encode must keep
    // t17's shape — no vocabulary join, no word strings on a shuffle,
    // only the per-doc aggregate + display-sort exchanges
    val p = plan("t18_bpe_deep")
    assert(!p.contains("Join"), "deep encode must not join a merge relation:\n" + p.take(1500))
    val exchanges = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchanges.length <= 2, s"expected agg + sort exchanges only:\n$p")
    exchanges.foreach(s => assert(!s.contains("word#"),
      s"word strings crossed an exchange:\n$s"))
  }

  test("p22 dsir: bucket models broadcast; tokens and text never cross a shuffle") {
    // the ≤256-row count models (and their 1-row totals) must reach the
    // scoring join as broadcasts, and every shuffle exchange must carry
    // (doc_id, bucket, counts) scalars — a token or text column on an
    // exchange means the sha-256 projection moved past its scan stage
    val p = plan("p22_dsir_select")
    assert(p.contains("BroadcastExchange"), "bucket model must broadcast")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the model/per-doc aggregate exchanges")
    shuffles.foreach(s =>
      assert(!s.contains("token#") && !s.contains("text#"),
        s"token/text crossed a shuffle exchange:\n$s"))
  }

  test("t19 bpe tokens: join-free double-explode — the display sort is the only exchange") {
    // the token stream must be produced entirely in place (two narrow
    // posexplodes around the codegen'd fold); the one exchange is the
    // gate's ORDER BY — a vocabulary join or a windowed global position
    // would put word/token strings on a hash exchange
    val p = plan("t19_bpe_tokens")
    assert(!p.contains("Join"), "tokenize must not join a vocabulary relation:\n" + p.take(1500))
    val exchanges = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchanges.length <= 1, s"expected only the display-sort exchange:\n$p")
  }

  test("m06 media near-dup: payload bytes never cross an exchange") {
    // decode projects the payload away inside the partition-wise codec
    // pass; everything downstream (feature grouping, banding, verify,
    // fan-back) moves 16-double vectors or id/sim scalars — raw media
    // bytes on a shuffle would sink the operator at real asset sizes
    val p = plan("m06_mm_neardup")
    val exchanges = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchanges.nonEmpty, "expected exchanges in the near-dup plan")
    exchanges.foreach(s =>
      assert(!s.contains("payload#"), s"payload bytes crossed an exchange:\n$s"))
  }

  test("s14 pq ann: codes scan narrow, query tables broadcast, no vector on a shuffle") {
    // the whole point of PQ is that the candidate stage moves m ints +
    // scalars per vector: the float embedding must be projected away at
    // the encode scan, the query's ADC table must ride the broadcast,
    // and no embedding may cross a shuffle exchange
    val p = plan("s14_pq_ann")
    assert(p.contains("BroadcastExchange"), "query-table side must broadcast")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the rank-window exchange")
    shuffles.foreach { s =>
      assert(!s.contains("embedding#") && !s.contains("q_emb#"),
        s"a float vector crossed a shuffle exchange:\n$s")
    }
  }

  test("s16 pq rerank: shortlist ids broadcast back to the scan; no vector on a shuffle") {
    // the exact re-rank must fetch float vectors by BROADCASTING the
    // bounded (query x shortlist) id set against the base scan — an
    // embedding on a shuffle exchange means the corpus was re-shipped
    // to be shortlisted
    val p = plan("s16_pq_rerank")
    assert(p.contains("BroadcastExchange"), "shortlist/query sides must broadcast")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the rank-window exchanges")
    shuffles.foreach { s =>
      assert(!s.contains("embedding#") && !s.contains("q_emb#") && !s.contains("b_emb#"),
        s"a float vector crossed a shuffle exchange:\n$s")
    }
  }

  test("s15 ivf-adc: cell-pruned codes, probe tables broadcast, no vector on a shuffle") {
    // codes build through broadcast centroid joins; probes broadcast
    // (query_id, cell, table); the only shuffle is the rank window and
    // it moves scalars
    val p = plan("s15_ivfpq_ann")
    assert(p.contains("BroadcastExchange"), "probe/centroid sides must broadcast")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the rank-window exchange")
    shuffles.foreach { s =>
      assert(!s.contains("embedding#") && !s.contains("q_emb#"),
        s"a float vector crossed a shuffle exchange:\n$s")
    }
  }

  test("p20 semantic decontam: bench vectors broadcast; exchanges carry bucket scalars") {
    // the corpus side must stay a linear embed-where-the-text-lives
    // pass: the benchmark's dense vectors broadcast, the only shuffles
    // are the hash-bucket aggregates (doc_id, bucket, weight scalars) —
    // document text on an exchange means the embed moved past the scan
    val p = plan("p20_semantic_decontam")
    assert(p.contains("BroadcastExchange"), "benchmark side must broadcast")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the hash-bucket aggregate exchanges")
    shuffles.foreach { s =>
      assert(!s.contains("text#"), s"document text crossed a shuffle exchange:\n$s")
      assert(!s.contains("d_emb#") && !s.contains("b_emb#"),
        s"a dense vector crossed a shuffle exchange:\n$s")
    }
  }

  test("d19 winnow pairs: exchanges carry 8-byte fingerprints, never text or token arrays") {
    // the k-gram hash consumes the token array at the scan; everything
    // downstream (df cap, posting self-join, pair counts) moves
    // (doc_id, fp) scalars
    val p = plan("d19_winnow_pairs")
    val exchanges = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchanges.nonEmpty, "expected the posting/pair exchanges")
    exchanges.foreach { s =>
      assert(!s.contains("text#"), s"document text crossed an exchange:\n$s")
      assert(!s.contains("tk#") && !s.contains("hs#"),
        s"a token/hash array crossed an exchange:\n$s")
    }
  }

  test("p24 packed tape: one id-only shuffle of the stream; the offset join reuses its partitioning") {
    // the materialized tape's floor is ONE scalar shuffle of the token
    // stream (the per-doc index window); the per-doc offset join must
    // land on that same doc_id partitioning+sort — a second exchange or
    // sort of the stream side means the corpus-sized relation moved
    // twice. No token string or document text may cross any exchange.
    // locked on the OPERATOR's own plan (the board row adds a global
    // orderBy for the oracle's presentation, whose rangepartitioning is
    // the inherent cost of any totally-ordered output)
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val table = graft.operators.TextAnalysis.bpeTrainDriver(docs, merges = 8)
      .map(t => (t._2, t._3))
    val p = graft.operators.Packing.packTokenIds(docs, table)
      .queryExecution.explainString(FormattedMode)
    // string payloads are checked on SHUFFLES only: the one legitimate
    // broadcast carries the bounded vocabulary (token -> token_id,
    // alphabet + k merges rows), which is model metadata, not corpus
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the window + offsets shuffles")
    shuffles.foreach { s =>
      assert(!s.contains("text#"), s"document text crossed a shuffle:\n$s")
      assert(!s.contains("token#"), s"a token string crossed a shuffle:\n$s")
      assert(!s.contains("word#"), s"a word string crossed a shuffle:\n$s")
    }
    // the stream side (the shuffle carrying token_id) moves exactly
    // once: the window's hashpartitioning(doc_id); the offset join must
    // not re-exchange it
    val streamShuffles = shuffles.filter(_.contains("token_id#"))
    assert(streamShuffles.length == 1,
      s"the token stream crossed ${streamShuffles.length} shuffles (want 1):\n" +
        streamShuffles.mkString("\n\n"))
  }

  test("p25 frozen-tokenizer tape: the two-relation path keeps the single id-only shuffle") {
    // packTokenIdsAgainst (the deployment spelling: tape packs corpus B
    // under a tokenizer trained on corpus A) must inherit p24's plan
    // shape exactly — the foreign stream's UNK LEFT join is against the
    // broadcast vocabulary LocalRelation, so the only shuffle of the
    // corpus-sized relation is still the per-doc index window's
    // hashpartitioning(doc_id), reused by the offset join
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val foreign = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"), lit(" q¤x")).as("text"))
    val table = graft.operators.TextAnalysis.bpeTrainDriver(docs, merges = 8)
      .map(t => (t._2, t._3))
    val p = graft.operators.Packing.packTokenIdsAgainst(foreign, docs, table)
      .queryExecution.explainString(FormattedMode)
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the window + offsets shuffles")
    shuffles.foreach { s =>
      assert(!s.contains("text#"), s"document text crossed a shuffle:\n$s")
      assert(!s.contains("token#"), s"a token string crossed a shuffle:\n$s")
      assert(!s.contains("word#"), s"a word string crossed a shuffle:\n$s")
    }
    val streamShuffles = shuffles.filter(_.contains("token_id#"))
    assert(streamShuffles.length == 1,
      s"the token stream crossed ${streamShuffles.length} shuffles (want 1):\n" +
        streamShuffles.mkString("\n\n"))
  }

  test("p21 corpus diff: the full-outer join shuffles digests, never text") {
    // both snapshots must reduce to (doc_id, sha2) at the scan — document
    // text on the diff's exchange re-ships the corpus to compare it
    val p = plan("p21_corpus_diff")
    val exchanges = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchanges.nonEmpty, "expected the diff-join exchanges")
    exchanges.foreach(s => assert(!s.contains("text#"),
      s"document text crossed an exchange:\n$s"))
  }

  test("m07 media near-dup pairs: payload bytes never cross an exchange") {
    // the PAIR operator shares m06's invariant: decode projects payload
    // away per partition; banding, verify, and clone fan-back move
    // vectors/scalars only. Locked on the OPERATOR's own plan — the m07
    // query localCheckpoints the pair output for its three verdicts, so
    // plan("m07_...") would explain only post-checkpoint aggregates and
    // the assertion would be vacuous
    import spark.implicits._
    val media = (0 until 40)
      .map(i => (i.toLong, "png", s"payload bytes $i ${i % 5}".getBytes("UTF-8")))
      .toDF("doc_id", "format", "payload")
    val p = graft.operators.Multimodal.mediaNearDupPairs(media, 0.99)
      .queryExecution.explainString(FormattedMode)
    val exchanges = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchanges.nonEmpty, "expected exchanges in the pair plan")
    exchanges.foreach(s =>
      assert(!s.contains("payload#"), s"payload bytes crossed an exchange:\n$s"))
  }

  test("d18 simhash128: exchanges carry the [hi, lo] sketch and band keys, never text") {
    // the wide-band path exists for the 10^11-distinct-sketch tail — its
    // exchanges must stay 2x8-byte sketch + band scalars; text or the
    // token array on the wire would undo the whole point
    import spark.implicits._
    val corpus = (0 until 60).map(i => (i.toLong, s"text ${i % 9} one two three four"))
      .toDF("doc_id", "text")
    val p = graft.operators.Dedup.simhashPairs128(corpus, 3, Some(0.0))
      .queryExecution.explainString(FormattedMode)
    val exchangeSections = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchangeSections.nonEmpty, "expected exchanges in the banding plan")
    exchangeSections.foreach { s =>
      assert(!s.contains("text#"), s"document text crossed an exchange:\n$s")
      assert(!s.contains("toks#"), s"the token array crossed an exchange:\n$s")
    }
  }

  test("d08 incremental admit: exchanges carry digests, never document text") {
    // the whole design is that shuffles move (digest, doc_id) rows — if a
    // refactor hashes AFTER an exchange, text rides the wire and the
    // operator stops scaling with document size
    val p = plan("d08_incremental_dedup")
    val exchangeSections = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchangeSections.nonEmpty, "expected at least one exchange in the admit plan")
    exchangeSections.foreach { s =>
      assert(!s.contains("text#"), s"document text crossed an exchange:\n$s")
      // digests cross as unhexed 32-byte binary (`dg`), never 64-char hex
      assert(!s.contains("digest#"), s"hex-string digest crossed an exchange:\n$s")
    }
    assert(p.contains("LeftAnti"), "index check must plan as an anti-join")
    // the digest index joins as a MATERIALIZED artifact (the persisted-
    // index stand-in): history digests are computed once, not re-derived
    // inside each planted-trap union branch (the optimizer clones the
    // index subtree per branch when it's live lineage)
    assert(p.contains("Scan ExistingRDD"), "index must join as a materialized artifact")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 3,
      "expected exactly the 3 increment branches to scan documents")
  }

  test("q26 grouped quantiles: histogram passes only — never the percentile buffer") {
    // groupedQuantiles orchestrates its passes eagerly, so the q26
    // DataFrame's own plan shows only the final local relation; the
    // contract lives in the plans it EXECUTES. Capture them all and lock:
    // no `percentile` aggregate anywhere (its per-group value buffer is
    // the 100 TB OOM this operator replaces), histogram aggregates keyed
    // by state id (level-synchronized across groups, not serialized
    // per group), and range states broadcast onto the kv projection.
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q26_percentile")(spark, dir).collect()
      // listener delivery is async: wait until the capture set settles
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(150)
        val n = plans.synchronized(plans.length)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    val all = plans.synchronized(plans.toVector)
    assert(all.nonEmpty, "no executed plans captured")
    assert(!all.exists(_.contains("percentile(")),
      "grouped path regressed to the buffering percentile aggregate")
    assert(all.exists(p => "HashAggregate\\(keys=\\[sid#".r.findFirstIn(p).isDefined),
      "level-synchronized histogram (keyed by state id) missing")
    assert(all.exists(p => p.contains("slo") && p.contains("BroadcastHashJoin")),
      "per-group range states must broadcast onto the kv projection")
  }

  test("d13 passage scrub: decision exchanges carry hashes only; text crosses once, in the rebuild") {
    // the keep-first decision pipeline (occurrence agg, first-occurrence
    // agg, removal agg) must move 8-byte chunk hashes and (doc_id, idx)
    // ints; the ONLY exchange allowed to carry the token array / text is
    // the final rebuild join, whose payload IS the operator's output
    val p = plan("d13_passage_scrub")
    val sections = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(sections.nonEmpty, "expected exchanges in the scrub plan")
    val hashSections = sections.filter(_.contains("ph#"))
    assert(hashSections.nonEmpty, "expected chunk-hash-keyed decision exchanges")
    hashSections.foreach(s => assert(!s.contains("text#") && !s.contains("toks#"),
      s"text crossed a decision exchange:\n$s"))
    val textSections = sections.filter(s => s.contains("text#") || s.contains("toks#"))
    assert(textSections.length <= 1,
      s"text may cross the wire at most once (rebuild join), found ${textSections.length}")
    // singletons are pruned before the removal join: the first-occurrence
    // aggregate must keep a count filter (cnt > 1) above it
    assert(p.contains("(cnt"), "duplicated-hash (cnt > 1) pruning filter missing")
  }

  test("p14 contamination fraction: benchmark broadcasts; corpus is one scan, no text exchange") {
    val p = plan("p14_contamination_frac")
    assert(p.contains("BroadcastExchange"),
      "benchmark shingle set must broadcast — a shuffled join scans the corpus twice at scale")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    shuffles.foreach(s => assert(!s.contains("text#") && !s.contains("toks#"),
      s"corpus text crossed a shuffle:\n$s"))
    assert("Scan parquet .*documents".r.findAllIn(p).size <= 2,
      "corpus+benchmark should scan documents at most twice (one pass each side)")
  }

  test("t13 vocabulary: census exchanges carry hashes; token strings shuffle only for winners") {
    val p = plan("t13_vocabulary")
    // tf/df aggregate on 64-bit hashes: an exchange carrying token text
    // outside the (broadcast-filtered) winner recovery means the census
    // shuffles strings at corpus scale
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.count(_.contains("token#")) <= 1,
      "token strings may shuffle only in the winner-recovery aggregate")
    assert(p.contains("BroadcastExchange"), "winner set and cutoff must broadcast")
    assert(p.contains("LeftSemi"), "winner recovery must prune map-side via a semi-join")
  }

  test("s08 hashed embedding: tokens collapse to (doc, bucket, sign) before any exchange") {
    val p = plan("s08_hashed_embedding")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty)
    shuffles.foreach(s =>
      assert(!s.contains("token#") && !s.contains("text#") && !s.contains("hex#"),
        s"token/text crossed an exchange — the sha-256 projection must collapse first:\n$s"))
  }

  test("s09 embedding admit: centroid literal assignment, anti-join rejection, one assignment pass") {
    val p = plan("s09_incremental_ann")
    // assignment must be the codegen'd projection kernel over a literal
    // centroid array — a centroid JOIN would shuffle the increment per
    // centroid at scale
    assert(p.contains("nearest_centroid"), "cell assignment must use the projection kernel")
    assert(p.contains("LeftAnti"), "index rejection must plan as an anti-join")
    assert(p.contains("Scan ExistingRDD"),
      "the increment must assign cells once (checkpointed), not per consumer")
    // d09 discipline: the probe and pair joins must consume the DISTINCT-
    // embedding aggregate (keys [cell, embedding]), so clone groups
    // collapse before any join — a per-doc probe re-grows quadratically
    // on clone-heavy increments
    assert("Keys \\[2\\]: \\[cell#\\d+, embedding#\\d+\\]".r.findFirstIn(p).isDefined,
      "distinct-embedding group aggregate missing below the probe join")
  }

  test("t14 ppl tiers: assignment is a projection against literal bounds — no ntile window") {
    // the naive spelling (ntile over a global orderBy) serializes the
    // corpus through one partition; tiers must come from ExactQuantile
    // bounds + a CASE projection
    val p = plan("t14_ppl_tiers")
    assert(!p.contains("ntile") && !p.contains("Window"),
      "tier assignment regressed to a global window")
  }

  test("d09 near-dup admit: exchanges carry sketches and band keys, never text") {
    // same contract as the d08 lock, for the near-dup index: text stays
    // inside its scan stage; every exchange moves (band, bucket, sim,
    // id) rows, so the probe cost is independent of document size
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val admitted = graft.operators.Dedup.incrementalNearAdmit(
      inc, graft.operators.Dedup.bandRows(graft.operators.Dedup.simSketch(hist)))
    val p = admitted.queryExecution.explainString(FormattedMode)
    val exchangeSections = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) (Exchange|BroadcastExchange)".r.findFirstIn(s.trim).isDefined)
    assert(exchangeSections.nonEmpty, "expected exchanges in the admit plan")
    exchangeSections.foreach(s =>
      assert(!s.contains("text#"), s"document text crossed an exchange:\n$s"))
    // the index probe must join DISTINCT sketch rows on both sides —
    // history clones and increment clone groups collapse BEFORE the
    // (band, bucket) join, so its output scales with distinct sketches
    // per bucket, not corpus rows. Every (band, bucket) exchange
    // therefore carries only (band, bucket, sim): a doc_id crossing one
    // means a per-doc relation leaked back into the probe.
    val probeExchanges = exchangeSections.filter(_.contains("band#"))
    assert(probeExchanges.nonEmpty, "expected band-row-carrying probe exchanges")
    probeExchanges.foreach(s =>
      assert(!s.contains("doc_id#"), s"per-doc rows crossed the probe exchange:\n$s"))
    assert("Keys \\[1\\]: \\[sim#\\d+L\\]".r.findFirstIn(p).isDefined,
      "distinct-sketch aggregate missing below the probe join")
    assert(p.contains("LeftAnti"), "history rejection must plan as an anti-join")
    assert(p.contains("Scan ExistingRDD"),
      "the increment must sketch once (checkpointed), not per consumer")
  }

  test("q27 computes exact NDVs without an Expand blow-up") {
    val p = plan("q27_approx")
    assert(!p.contains("Expand"),
      "count(DISTINCT x, y) planning via Expand replicates every row per distinct column")
  }

  test("t05 pushes the doc filter into the tf branch only — idf stays corpus-wide") {
    val p = plan("t05_tfidf_terms")
    // exactly one of the two document scans carries the doc_id<50 pushdown
    // (the tf side); the df/idf side must keep reading the full corpus
    assert(p.split("LessThan\\(doc_id,50\\)").length == 2,
      "expected the doc filter pushed into exactly one scan")
    assert(p.split("ReadSchema: struct<doc_id:bigint,text:string>").length >= 3,
      "expected a second, unfiltered corpus scan for idf")
  }

  test("decontamination broadcasts the benchmark side — the corpus never shuffles") {
    val p = plan("p03_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join defeats the linear-scan design")
  }

  test("p04 packing: two-level prefix sum — corpus window is bucket-partitioned") {
    val p = plan("p04_sequence_packing")
    // the per-doc running sum must ride a window PARTITIONED by bucket; a
    // regression to the naive global cumsum shows an unpartitioned
    // windowspecdefinition over doc_id and a SinglePartition exchange of
    // the whole corpus
    assert("windowspecdefinition\\(bucket#\\d+L, doc_id#\\d+L ASC".r.findFirstIn(p).isDefined,
      "per-doc cumsum window lost its bucket partitioning")
    assert(!"windowspecdefinition\\(doc_id#\\d+L ASC".r.findFirstIn(p).isDefined,
      "global unpartitioned window over the corpus")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast back")
  }

  test("p05 mixing: rate table broadcasts — the corpus never hash-shuffles") {
    val p = plan("p05_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join defeats the linear-scan design")
    // only the two lang-count aggregates may exchange on lang (a third
    // means the join degraded to a shuffle join)
    assert("hashpartitioning\\(lang#".r.findAllIn(p).size == 2,
      "unexpected lang exchange beyond the count aggregates")
  }

  test("p06 sharding: two-level prefix sum — no corpus window partitioned by shard alone") {
    val p = plan("p06_shard_pack")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      "shard layout needs only doc_id — scan reads more")
    // rank window must be (shard, bucket)-partitioned: a shard-only
    // partition spec over (h, doc_id) is the single-task-per-shard
    // spill-sort this operator exists to avoid
    assert("windowspecdefinition\\(shard#\\d+L, bucket#\\d+L, h#\\d+L ASC".r.findFirstIn(p).isDefined,
      "rank window lost its (shard, bucket) partitioning")
    assert("windowspecdefinition\\(shard#\\d+L, h#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "corpus window partitioned by shard alone — one task per shard at scale")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast back")
  }

  test("p07 token budget: corpus window is bucket-partitioned, over-budget buckets pre-pruned") {
    val p = plan("p07_token_budget")
    // the per-row running sum must ride a window PARTITIONED by the
    // quality bucket; a regression to the naive global cumsum shows an
    // unpartitioned windowspecdefinition ordered by quality over the corpus
    assert("windowspecdefinition\\(qb#\\d+L, quality#\\d+ DESC".r.findFirstIn(p).isDefined,
      "running-total window lost its quality-bucket partitioning")
    assert("windowspecdefinition\\(quality#\\d+ DESC".r.findFirstIn(p).isEmpty,
      "global unpartitioned window over the corpus")
    // the early-exit offset filter must prune buckets BEFORE the window
    // (Catalyst collapses the offset alias onto the window expression)
    assert("(offset#\\d+L|coalesce\\(_we0#\\d+L, 0\\)) <= 12000".r.findFirstIn(p).isDefined,
      "over-budget buckets are not pruned before ranking")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast back")
  }

  test("p08 curriculum: rank window is (stage, bucket)-partitioned") {
    val p = plan("p08_curriculum")
    assert("windowspecdefinition\\(stage#\\d+L, bucket#\\d+L, h#\\d+L ASC".r.findFirstIn(p).isDefined,
      "rank window lost its (stage, bucket) partitioning")
    assert("windowspecdefinition\\(stage#\\d+L, h#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "corpus window partitioned by stage alone — one task per stage at scale")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast back")
  }

  test("p09 source cap: rank window is (source, bucket)-partitioned, over-cap buckets pre-pruned") {
    val p = plan("p09_source_cap")
    assert("windowspecdefinition\\(source#\\d+, bucket#\\d+L, h#\\d+L ASC".r.findFirstIn(p).isDefined,
      "rank window lost its (source, bucket) partitioning")
    assert("windowspecdefinition\\(source#\\d+, h#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "corpus window partitioned by source alone — a mega-source becomes one task")
    assert("(offset#\\d+L|coalesce\\(_we0#\\d+L, 0\\)) < 15".r.findFirstIn(p).isDefined,
      "over-cap buckets are not pruned before ranking")
  }

  test("p11 stratified split: rank window is (source, bucket)-partitioned") {
    val p = plan("p11_stratified_split")
    assert("windowspecdefinition\\(source#\\d+, bucket#\\d+L, h#\\d+L ASC".r.findFirstIn(p).isDefined,
      "rank window lost its (source, bucket) partitioning")
    assert("windowspecdefinition\\(source#\\d+, h#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "corpus window partitioned by source alone — a mega-source becomes one task")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "split layout needs only (doc_id, source) — scan reads more")
  }

  test("t10 bm25: corpus tokens broadcast-filtered before aggregation; rank pushes WindowGroupLimit") {
    val p = plan("t10_bm25")
    // the query-term filter must be a broadcast join BELOW the tf
    // aggregation — a regression here shuffles the whole corpus token
    // stream instead of just the query-term hits
    assert(p.contains("BroadcastHashJoin"), "query-term filter lost its broadcast")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k no longer prunes per-partition before the per-query sort")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan reads columns BM25 never uses")
  }

  test("s06 kmeans: assignment is a join-free codegen'd projection over the pinned base") {
    val p = plan("s06_kmeans")
    assert(p.contains("nearest_centroid"), "codegen'd assignment kernel missing")
    assert(!p.contains("Join"), "k-means assignment must not join — centroids ride as a literal")
    // iterated Lloyd pins (vec_id, embedding) once: every pass (and the
    // final assignment seen here) scans the checkpointed artifact, not
    // the re-derived upstream lineage
    assert(p.contains("Scan ExistingRDD"),
      "iterated base must be a materialized artifact, not live lineage")
    assert("Output \\[2\\]: \\[vec_id#\\d+L, embedding#\\d+\\]".r.findFirstIn(p).isDefined,
      "pinned artifact must carry exactly (vec_id, embedding)")
  }

  test("m04 frame sampling: generate-only plan — no shuffle, no UDF object row") {
    val p = plan("m04_mm_frames")
    assert(p.contains("Generate") && p.contains("sequence(0"),
      "frame grid must come from sequence+explode")
    assert(!p.contains("Exchange hashpartitioning"),
      "frame sampling must stay where the payload row lives — no shuffle")
    assert(!p.contains("DeserializeToObject"),
      "frame slicing regressed to a typed/UDF path — substring is codegen'd")
  }

  test("t11 boilerplate: df exchange carries hashes only; winner recovery broadcasts") {
    val p = plan("t11_boilerplate")
    assert(p.contains("shingle_pairs"), "one-pass hash+text kernel missing")
    // the df aggregation exchange must be keyed on the 64-bit hash, never
    // the phrase string
    assert("hashpartitioning\\(h#\\d+L".r.findFirstIn(p).isDefined,
      "df aggregation no longer keyed on the shingle hash")
    assert("hashpartitioning\\(t#\\d+,".r.findFirstIn(p).isEmpty &&
      "hashpartitioning\\(phrase#\\d+".r.findFirstIn(p).isEmpty,
      "an exchange carries phrase text — only hashes may key the df shuffle")
    assert(p.contains("BroadcastHashJoin"), "winner set must broadcast into the recovery join")
  }

  test("s07 hygiene: stats broadcast back; vectors never shuffle") {
    val p = plan("s07_embedding_hygiene")
    assert(p.contains("l2_norm"), "codegen'd norm kernel missing")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "1-row stats must broadcast back over the norms")
    assert("hashpartitioning\\(embedding#".r.findFirstIn(p).isEmpty,
      "an exchange carries embedding vectors")
  }

  test("d07 passage dedup: shuffles carry 8-byte hashes, shared set broadcasts") {
    val p = plan("d07_passage_dedup")
    assert(p.contains("chunk_hashes"), "one-pass passage hashing kernel missing")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      "shared-passage filter should broadcast into a semi join")
    assert("hashpartitioning\\((toks|chunks)#".r.findFirstIn(p).isEmpty,
      "an exchange carries token/passage arrays — only hashes may shuffle")
  }

  test("d10 semdedup: pair stage joins on the cell key; drop list anti-joins on ids") {
    val p = plan("d10_semdedup")
    // the within-cell pairwise stage must be an EQUI-join on cell (each
    // vector crosses the wire once per side) — an all-pairs regression
    // shows up as a cartesian, a per-pair vector fetch as extra
    // embedding-carrying exchanges after the pair filter
    assert(!p.contains("CartesianProduct"), "semdedup pair stage went all-pairs")
    assert("keys \\[1\\]: \\[cell#\\d+\\]".r.findFirstIn(p).isDefined,
      "pair join is not keyed on cell alone")
    assert(p.contains("LeftAnti"), "prune must plan as an anti-join")
    assert(p.contains("LeftSemi"), "kept-id filter must plan as a semi-join")
    // d09/s09 discipline: the pair join consumes the DISTINCT-embedding
    // aggregate, so exact-duplicate groups collapse before the all-pairs
    // stage — a per-doc pair join re-grows quadratically on clones
    assert("Keys \\[2\\]: \\[cell#\\d+, embedding#\\d+\\]".r.findFirstIn(p).isDefined,
      "distinct-embedding group aggregate missing below the pair join")
  }

  test("p15 chunking: pure narrow plan — only the output-order range exchange, hash computed before it") {
    val p = plan("p15_chunk_windows")
    assert(p.contains("Generate"), "start-offset fan-out must be a Generate, not a join")
    assert(!p.contains("hashpartitioning"), "chunking must not hash-shuffle")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.length == 1 && shuffles.head.contains("rangepartitioning"),
      "expected exactly the output-order range exchange")
    // word-boundary match: the exchange legitimately carries n_toks#
    assert(!shuffles.head.contains("text#") &&
      "[\\[, ]toks#".r.findFirstIn(shuffles.head).isEmpty,
      "chunk text/tokens crossed the exchange — only the hash may travel")
  }

  test("d14/d15 source diagnostics: cached pair graph, broadcast dup set, no text on any exchange") {
    val p14 = plan("d14_dup_report")
    assert(p14.contains("Scan ExistingRDD"), "pair graph must come from the cached artifact")
    assert(p14.contains("BroadcastHashJoin LeftOuter"),
      "dup-id membership must broadcast onto the docs scan, not shuffle it")
    val p15x = plan("d15_cross_source")
    assert(p15x.contains("Scan ExistingRDD"), "pair graph must come from the cached artifact")
    Seq(p14, p15x).foreach(_.split("\n\n")
      .filter(s => "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
      .foreach(s => assert(!s.contains("text#"),
        s"text crossed an exchange in the source diagnostics:\n$s")))
  }

  test("d16 edit near-dup: cached candidates, bounded levenshtein, no shingle rebuild") {
    val p = plan("d16_edit_neardup")
    assert(p.contains("Scan ExistingRDD"), "candidates must come from the cached pair graph")
    assert(p.contains("levenshtein") && p.contains("Some(128)"),
      "verify must use the threshold-bounded levenshtein (early exit)")
    assert(!p.contains("Generate"),
      "edit verify must not re-run the shingle stage — candidates are the cached artifact")
  }

  test("p16 corpus card: one partial+final aggregate pair, no text on the exchange") {
    val p = plan("p16_corpus_card")
    assert(p.contains("HashAggregate"), "corpus card must be a hash aggregate")
    assert("Keys \\[2\\]: \\[source".r.findFirstIn(p).isDefined ||
      p.contains("partial_count"), "map-side partial aggregation missing")
    p.split("\n\n").filter(s => "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
      .foreach(s => assert(!s.contains("text#"),
        s"document text crossed the aggregate exchange:\n$s"))
  }

  test("s11 diverse top-k: cell window carries 3 scalars, global top-n is TakeOrdered, no vectors past the scan projection") {
    val p = plan("s11_diverse_topk")
    assert(p.contains("TakeOrderedAndProject"), "global top-n must not be a full sort")
    assert(p.contains("Window"), "in-cell rank window missing")
    p.split("\n\n").filter(s => "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
      .foreach(s => assert(!s.contains("embedding#"),
        s"embedding vectors crossed an exchange — norm must be consumed scan-side:\n$s"))
  }

  test("p17 mixture weights: corpus-sized data stops at the hash aggregate; totals broadcast") {
    val p = plan("p17_mixture_weights")
    assert(p.contains("HashAggregate"), "per-lang aggregate missing")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "1-row totals must broadcast onto the counts relation")
    p.split("\n\n").filter(s => "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
      .foreach(s => assert(!s.contains("text#"),
        s"document text crossed an exchange in the mixture plan:\n$s"))
  }

  test("p19 capped mixture: corpus scans once into the group aggregate; rounds run off the checkpoint") {
    val p = plan("p19_mixture_capped")
    // the water-filling rounds must iterate over the CHECKPOINTED
    // group-count relation, never re-scanning the corpus — exactly one
    // parquet scan (the per-lang aggregate's input) in the whole plan
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length <= 1,
      "water-filling re-scanned the corpus:\n" + p.take(2000))
    assert(p.contains("Scan ExistingRDD"), "group relation must be a checkpointed artifact")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "1-row round aggregates must broadcast onto the group relation")
    p.split("\n\n").filter(s => "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
      .foreach(s => assert(!s.contains("text#"),
        s"document text crossed an exchange in the capped-mixture plan:\n$s"))
  }

  test("d17 containment: pure filter+project over the cached coverage artifact") {
    val p = plan("d17_containment")
    assert(p.contains("Scan ExistingRDD"), "coverage graph must come from the cached artifact")
    assert(!p.contains("Generate"), "containment must not rebuild the shingle index")
    assert(!p.contains("levenshtein"), "containment is pure pair arithmetic")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.forall(_.contains("rangepartitioning")),
      "only the output-order exchange may remain — the pair work is in the artifact")
  }

  test("d11 best-rep: consumes cached rep-level artifacts; membership joins carry digests, not text") {
    val p = plan("d11_best_rep")
    // the pair/CC machinery must run over the session-cached CONTENT-
    // collapsed artifacts (rep-level), not rebuild a doc-level graph
    assert(p.contains("Scan ExistingRDD"),
      "content groups / rep pair graph must come from the cached artifacts")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    shuffles.foreach(s => assert(!s.contains("text#"),
      s"text crossed an exchange — membership fan-out must ride the digest:\n$s"))
  }

  test("t09 classifier: weights broadcast; tokens partial-aggregate before the doc exchange") {
    val p = plan("t09_classifier_score")
    assert(p.contains("BroadcastHashJoin"), "weight table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "token-side shuffle join defeats the linear-scan design")
    // exactly one corpus scan (ReadSchema appears once per scan's detail)
    assert(p.split("ReadSchema: struct<doc_id:bigint,text:string>").length == 2,
      "corpus must scan exactly once")
    // the only corpus exchange is the per-doc aggregate: partial_sum
    // before Exchange means tokens never cross the wire
    assert("partial_sum".r.findFirstIn(p).isDefined || p.contains("HashAggregate"),
      "per-doc aggregation missing")
    assert("hashpartitioning\\(doc_id#\\d+L".r.findFirstIn(p).isDefined,
      "doc-keyed exchange missing — aggregation not distributed by doc")
  }

  test("p10 spans: explode is a Generate riding p04's bucket-partitioned packing") {
    val p = plan("p10_pack_spans")
    assert(p.contains("Generate") && p.contains("explode(sequence(first_seq"),
      "span unroll must be a Generate over the sequence range")
    assert("windowspecdefinition\\(bucket#\\d+L, doc_id#\\d+L ASC".r.findFirstIn(p).isDefined,
      "per-doc cumsum window lost its bucket partitioning")
    assert("windowspecdefinition\\(doc_id#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "global unpartitioned window over the corpus")
  }

  test("p12 weighted sample: top-k lowers to TakeOrderedAndProject — no global sort") {
    val p = plan("p12_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "E-S top-k must plan as per-partition heaps, not a full sort")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      "sample key derives from doc_id + weight only — scan reads more")
    // the only Sort allowed is the k-row post-limit window / final ORDER BY
    assert(!p.contains("SortMergeJoin"), "no join belongs in this plan")
  }

  test("p13 epoch shuffle: rank window is bucket-partitioned; offsets broadcast") {
    val p = plan("p13_epoch_shuffle")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      "epoch shuffle needs only doc_id — scan reads more")
    assert("windowspecdefinition\\(bucket#\\d+L, h#\\d+L ASC".r.findFirstIn(p).isDefined,
      "rank window lost its bucket partitioning")
    assert("windowspecdefinition\\(h#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "global unpartitioned window over the corpus")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast back")
  }

  test("t12 heuristic filters: single-pass projection — no exchange at all") {
    val p = graft.operators.TextAnalysis
      .heuristicFilter(Tables.load(spark, dir, "documents"))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"),
      "rule battery must stay a shuffle-free map over the scan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "rule battery needs only (doc_id, text) — scan reads more")
  }

  test("t04 fingerprint gate: no shuffle exchange carries raw document text") {
    // the collision self-join hash-partitions the corpus on fp; its
    // payload must be (doc_id, fp, sha2 digest) — raw text riding that
    // exchange is the digests-only rule violation this locks out
    val p = plan("t04_text_fingerprint")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the fp-keyed self-join exchanges")
    shuffles.foreach(s => assert(!s.contains("text#"),
      s"raw text crossed a shuffle exchange:\n$s"))
  }

  test("d21 winnow admit: probe exchanges carry (fp, id) scalars, never text") {
    // the admission probe joins incoming fingerprints to the persisted
    // index on the 8-byte fp key — document text riding any exchange
    // would re-ship the corpus at 100 TB
    val p = plan("d21_winnow_admit")
    val shuffles = p.split("\n\n").filter(s =>
      "^\\(\\d+\\) Exchange".r.findFirstIn(s.trim).isDefined)
    assert(shuffles.nonEmpty, "expected the fp probe exchanges")
    shuffles.foreach(s => assert(!s.contains("text#"),
      s"document text crossed a probe exchange:\n$s"))
  }

  test("s17 persisted ANN index: query scan reads codes, never float vectors") {
    // the deployment contract of the persisted index: answering a query
    // touches the corpus at CODE width (partitioned-by-cell parquet of
    // (cell, vec_id, codes)) — an embedding column in the index scan
    // would mean the 32x storage/scan win silently regressed
    val b = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = b.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val km = graft.operators.Similarity.trainQuantizer(b, 4)
    val pq = graft.operators.Similarity.pqTrain(b, m = 16, k = 16)
    withScratch("graft_s17_plan_") { case Seq(path) =>
      graft.operators.Similarity.ivfPqIndex(b, km, pq)
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      val p = graft.operators.Similarity
        .ivfPqTopKFromIndex(spark.read.parquet(path), q, km, pq, 5)
        .queryExecution.explainString(FormattedMode)
      val indexScans = p.split("\n\n").filter(s =>
        s.contains("Scan parquet") && s.contains("graft_s17_plan_"))
      assert(indexScans.nonEmpty, "expected the persisted index scan")
      indexScans.foreach(s => assert(!s.contains("embedding"),
        s"the index scan reads float vectors:\n$s"))
      assert(p.contains("BroadcastExchange"), "probe side must broadcast")
    }
  }

  test("s18 persisted ANN query path: probed cells are a STATIC partition filter; no vectors in the codes scan") {
    // the deployment read contract of graft_ivfpq_query: the probe set is
    // resolved to a bounded cell list BEFORE the scan plans, so the codes
    // read prunes to nprobe/cells of the partitioned files statically —
    // not via a runtime join — and touches the corpus at code width only
    val b = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = b.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    withScratch("graft_s18_plan_") { case Seq(path) =>
      graft.operators.Similarity.writeIvfPqIndex(b, path, cells = 4, m = 16, kps = 16)
      val p = graft.operators.Similarity.ivfPqQueryIndex(q, path, 5, nprobe = 2)
        .queryExecution.explainString(FormattedMode)
      val codeScans = p.split("\n\n").filter(s =>
        s.contains("Scan parquet") && s.contains("graft_s18_plan_") && s.contains("codes"))
      assert(codeScans.nonEmpty, s"expected the persisted codes scan:\n$p")
      codeScans.foreach { s =>
        assert(!s.contains("embedding"), s"the codes scan reads float vectors:\n$s")
        assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(s).isDefined,
          s"probed cells did not become a static partition filter:\n$s")
      }
      assert(p.contains("BroadcastExchange"), "probe side must broadcast")
    }
  }

  test("s19 embed-admission artifact: the probe scans ONLY the increment's cells via a static partition filter") {
    // the deployment contract of graft_embed_admit_index: the increment's
    // distinct cells resolve BEFORE the index scan plans, so the stored
    // cells/ read prunes statically to those partitions — the history
    // corpus is a parquet artifact scanned at nprobe-like width, never a
    // full rescan
    import spark.implicits._
    val hist = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(0.0f, -1.0f)),
      (5L, Array(0.9f, 0.1f)), (6L, Array(0.1f, 0.9f)),
      (7L, Array(-0.9f, -0.1f)), (8L, Array(-0.1f, -0.9f)))
      .toDF("vec_id", "embedding")
    withScratch("graft_s19_plan_") { case Seq(path) =>
      graft.operators.Similarity.writeEmbedIndex(hist, path, k = 4)
      // the increment occupies a SINGLE direction — its cell set is a
      // strict subset, so pruning is observable in the plan
      val inc = Seq((100L, Array(0.95f, 0.05f)), (101L, Array(0.97f, 0.03f)))
        .toDF("vec_id", "embedding")
      val p = graft.operators.Similarity.embedAdmitFromIndex(inc, path, 0.9)
        .queryExecution.explainString(FormattedMode)
      val cellScans = p.split("\n\n").filter(s =>
        s.contains("Scan parquet") && s.contains("graft_s19_plan_"))
      assert(cellScans.nonEmpty, s"expected the stored cells scan:\n$p")
      cellScans.foreach(s =>
        assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(s).isDefined,
          s"the increment's cells did not become a static partition filter:\n$s"))
    }
  }

  test("s20 ann lifecycle: append leaves the model artifacts byte-identical and the query scan pruned at code width") {
    // the maintenance contract of graft_ivfpq_append: the stored
    // centroid/PQ model files are READ-ONLY to an append (no retraining
    // side effects — appended vectors quantize under the original
    // model), and the post-append query plan keeps the s18 contract
    // (static cell pruning, no float vectors in the codes scan)
    import spark.implicits._
    def vec(axis: Int, s: Float) = Array.tabulate(8)(d => if (d == axis) s else 0.01f)
    val a = (0 until 24).map(i => (i.toLong, vec(i % 4, 1.0f + (i / 4) * 0.1f)))
      .toDF("vec_id", "embedding")
    val b = (100 until 108).map(i => (i.toLong, vec(i % 4, 0.95f)))
      .toDF("vec_id", "embedding")
    withScratch("graft_s20_plan_") { case Seq(path) =>
      graft.operators.Similarity.writeIvfPqIndex(a, path, cells = 4, m = 2, kps = 4)
      def modelBytes(): Map[String, Seq[Byte]] = {
        import scala.jdk.CollectionConverters._
        Seq("centroids", "pq").flatMap { d =>
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path, d))
          val files = try walk.iterator().asScala.toSeq.filter(java.nio.file.Files.isRegularFile(_))
          finally walk.close()
          files.map(f => f.toString ->
            java.nio.file.Files.readAllBytes(f).toSeq)
        }.toMap
      }
      val before = modelBytes()
      graft.operators.Similarity.appendIvfPqIndex(b, path)
      assert(modelBytes() == before,
        "append mutated the stored centroid/PQ model artifacts")
      val q = Seq((200L, vec(2, 1.0f))).toDF("vec_id", "embedding")
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val p = graft.operators.Similarity.ivfPqQueryIndex(q, path, 5, nprobe = 2)
        .queryExecution.explainString(FormattedMode)
      val codeScans = p.split("\n\n").filter(s =>
        s.contains("Scan parquet") && s.contains("graft_s20_plan_") && s.contains("codes"))
      assert(codeScans.nonEmpty, s"expected the codes scan:\n$p")
      codeScans.foreach { s =>
        assert(!s.contains("embedding"), s"the codes scan reads float vectors:\n$s")
        assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(s).isDefined,
          s"probed cells are not a static partition filter after append:\n$s")
      }
    }
  }

  test("d22 winnow admit over a prebuilt index table: the probe plan never rescans history") {
    // the artifact contract: once the fingerprint index is materialized
    // (INSERT .. SELECT FROM graft_winnow_index), an admission probe reads
    // the (doc_id, fp) table and fingerprints ONLY the increment — a scan
    // of the history table in the probe plan means the rebuild cost
    // silently came back (the round-12 watch item)
    import graft.engine.{Catalog, SqlContext, SqlEngine}
    withScratch("graft-d22-plan-wh-") { case Seq(wh) =>
      val e = new SqlEngine(spark, new Catalog(wh), SqlContext("d22p", "u"))
      e.execute("CREATE DATABASE d22p")
      e.execute("CREATE TABLE hist (doc_id bigint PRIMARY KEY, text text)")
      e.execute("INSERT INTO hist VALUES (1, 'alpha beta gamma delta')")
      e.execute("CREATE TABLE inc (doc_id bigint PRIMARY KEY, text text)")
      e.execute("INSERT INTO inc VALUES (10, 'alpha beta gamma delta'), (11, 'new stuff entirely')")
      e.execute("CREATE TABLE widx (doc_id bigint, fp bigint, PRIMARY KEY (doc_id, fp))")
      e.execute("INSERT INTO widx SELECT doc_id, fp FROM graft_winnow_index(hist, 2, 2, 64)")
      val p = e.execute("SELECT doc_id FROM graft_winnow_admit(inc, widx, 2, 2, 1)")
        .queryExecution.explainString(FormattedMode)
      val scans = p.split("\n\n").filter(_.contains("Scan parquet"))
      assert(scans.exists(_.contains("/widx")), s"expected the index-table scan:\n$p")
      assert(!scans.exists(_.contains("/hist")),
        s"the probe plan rescans the history corpus:\n$p")
      // text enters the plan exactly through the increment scan
      val textScans = scans.filter(_.contains("text"))
      assert(textScans.nonEmpty && textScans.forall(_.contains("/inc")),
        s"text must come only from the increment scan:\n${textScans.mkString("\n\n")}")
    }
  }

  test("r18 kernelized paths: no interpreted lambda (CodegenFallback HOF) in any hot plan") {
    // The r17/r18 kernels (CodePoints, GramHashes, WindowMins, BandBits,
    // SliceXxBands, AdjacentPairs, NgramJoin, BigramStructs, CountIn,
    // CountPresent, CountAlphaTokens, L2SqDist, VecSub, VecDiv, VecScale,
    // DenseFromMap, AgreeCount) exist to keep Generate/Project stages
    // inside whole-stage codegen: a higher-order-function spelling is
    // CodegenFallback and exiles its operator to the interpreted eval
    // path (the r17 t20 JIT-stall class). This lock turns red if anyone
    // reintroduces a lambda spelling on these plans. Two Spark-INTERNAL
    // lambda forms are exempt because they are not ours to remove:
    // float-key normalization on array grouping/join keys
    // (knownfloatingpointnormalized) and array_sort's default
    // comparator. `tools/ExplainQuery <name>` prints the full plans this
    // lock reads.
    val internal = Seq("knownfloatingpointnormalized", "array_sort")
    val names = Seq(
      "d19_winnow_pairs", "d20_winnow_xxhash", "d21_winnow_admit",
      "d22_winnow_index_sql", "t17_bpe_encode", "t19_bpe_tokens",
      "t20_bpe_ids", "t23_bpe_ids_unk", "d02_dedup_minhash",
      "d03_dedup_simhash", "s02_ann_lsh", "t01_text_langid",
      "t02_text_quality", "t07_text_repetition", "t08_text_lm_score",
      "t12_heuristic_filters", "t14_ppl_tiers", "t22_corpus_diversity")
    names.foreach { n =>
      val bad = plan(n).split("\n").filter(l =>
        l.contains("lambdafunction") && !internal.exists(l.contains))
      assert(bad.isEmpty,
        s"$n: interpreted lambda expression in the physical plan:\n${bad.mkString("\n")}")
    }
  }
}
