package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-batch ASSEMBLY operators — the step after curation/dedup where
  * a corpus becomes model input: sequence packing, shard assignment, and
  * temperature-balanced mixing. (The reference stops at SQL results; these
  * extend the LLM-pipeline surface the same way Dedup/TextAnalysis do.)
  *
  * All three are deterministic functions of the data — no rand(), no
  * runtime state — so a resumed or re-run 100 TB job reproduces the exact
  * same batches, and the DuckDB oracle replays every rule bit-for-bit.
  */
object Packing {

  import OracleRound.{stableRound, stableRoundSql}

  /** Concat-and-chunk SEQUENCE PACKING (the GPT-style pretraining layout):
    * documents are concatenated in doc_id order into one virtual token
    * stream that is cut into fixed `budget`-token training sequences; each
    * doc lands at `start_offset` and spans sequences `first_seq..last_seq`.
    *
    * The global running token total is a distributed TWO-LEVEL PREFIX SUM —
    * the naive `Window.orderBy(doc_id)` is a single-partition sort of the
    * whole corpus, the textbook driver-chokepoint at 100 TB:
    *   1. docs bucket by doc_id range (deterministic value buckets from one
    *      min/max stats row — with the insert pipeline's contiguous serial
    *      ids the buckets are uniform by construction);
    *   2. one scan-only partial aggregate computes per-bucket token totals
    *      (`buckets` rows), whose exclusive running sum — the only global
    *      ordered window — runs over that ≤`buckets`-row relation;
    *   3. the per-doc running sum is a window PARTITIONED by bucket (fully
    *      parallel) plus the broadcast bucket offset.
    * Shuffled bytes: (doc_id, n_tokens, bucket) = 24 B/row once, plus the
    * `buckets`-row side relation. Skew note: ids far sparser than the
    * bucket width degrade bucket balance, never correctness.
    */
  def packSequences(corpus: DataFrame, budget: Int = 128,
      buckets: Int = 1024): DataFrame =
    packCounts(
      corpus.select(
        col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("bigint").as("n_tokens")),
      budget, buckets)

  /** [[packSequences]] over a CALLER-SUPPLIED (doc_id, n_tokens)
    * relation — the composition point for REAL tokenizer counts
    * ([[TextAnalysis.bpeEncode]]'s n_tokens) instead of the whitespace
    * proxy. Same two-level prefix-sum shape. */
  def packCounts(toks: DataFrame, budget: Int = 128,
      buckets: Int = 1024): DataFrame = {
    // one 1-row stats action sizes the value buckets (same discipline as
    // CorpusStats: O(1) driver data, never the corpus)
    val r = toks.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, width) =
      if (r.isNullAt(0)) (0L, 1L)
      else (r.getLong(0), math.max(1L, (r.getLong(1) - r.getLong(0)) / buckets + 1))
    // integer division, not `/`: double division truncates ids past 2^53
    val b = toks.withColumn("bucket", expr(s"(doc_id - $lo) div $width"))
    // per-bucket totals: scan-only partial aggregate, `buckets` rows out
    val totals = b.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btotal"))
    // the ONLY globally-ordered window — over ≤`buckets` rows
    val exclusive = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("offset", coalesce(sum(col("btotal")).over(exclusive), lit(0L)))
      .select(col("bucket"), col("offset"))
    // per-doc running sum: window partitioned by bucket — parallel
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("local_end", sum(col("n_tokens")).over(inBucket))
      .join(broadcast(offsets), "bucket")
      .withColumn("start_offset", col("offset") + col("local_end") - col("n_tokens"))
      .select(
        col("doc_id"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div $budget").as("first_seq"),
        expr(s"(start_offset + n_tokens - 1) div $budget").as("last_seq"))
  }

  /** Per-sequence DOCUMENT SPAN MAP for packed batches — the
    * attention-mask sidecar cross-doc masking and per-doc loss weighting
    * need: for every training sequence, which docs occupy it and at what
    * `[begin_tok, end_tok)` in-sequence offsets. Derived from
    * [[packSequences]] by exploding each doc over its covered sequence
    * range; output rows = Σ sequences-per-doc ≈ corpus_tokens/budget +
    * n_docs — LINEAR, and the explode is a Generate inside the same
    * stage (no new shuffle beyond packSequences' own). */
  def packedSpans(corpus: DataFrame, budget: Int = 128,
      buckets: Int = 1024): DataFrame =
    packSequences(corpus, budget, buckets)
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .select(
        col("seq_id"), col("doc_id"),
        greatest(lit(0L), col("start_offset") - col("seq_id") * budget).as("begin_tok"),
        (least(lit(budget.toLong) * (col("seq_id") + 1),
          col("start_offset") + col("n_tokens")) - col("seq_id") * budget).as("end_tok"))

  /** The MATERIALIZED packed training tape — [[packCounts]]' layout
    * joined onto the real token-id stream: every token of the corpus
    * lands at its absolute position on the concatenated tape (docs in
    * doc_id order, the packCounts convention), emitted LONG FORM as
    * (seq, seq_pos, doc_id, token_id) — the rows a training loader
    * groups into fixed-`budget` input sequences; this is the artifact a
    * run actually reads, one step past t20's per-doc stream. Document
    * boundaries are recoverable from doc_id ([[packedSpans]] is the
    * mask sidecar); no separator tokens are inserted — the
    * concatenated-tape convention.
    *
    * Scale shape: ONE scalar shuffle is the floor for any global
    * layout, and this plan pays exactly one — the per-doc token index
    * is a window over the id stream (partitioned by doc_id; the wire
    * carries doc_id + two indices + token_id, never a token string or
    * text), and the per-doc offset join lands on the SAME doc_id
    * hash-partitioning-and-sort the window produced, so the stream is
    * not exchanged again (plan-locked). The offsets relation is one row
    * per document. Wall is output volume — the tape IS the corpus's
    * tokens, the t19/t20 profile. */
  def packTokenIds(corpus: DataFrame, mergeTable: Seq[(String, String)],
      budget: Int = 128, alphabet: Option[Seq[String]] = None): DataFrame = {
    require(budget > 0, "need budget > 0")
    // ONE tokenize pass (guide §1.2/§6: corpus passes are the 100 TB
    // cost): the id stream is pinned by a LAZY localCheckpoint and BOTH
    // the per-doc counts (layout side) and the indexed stream read that
    // one materialization — r17's spelling re-derived the counts through
    // a second full bpeEncode pass, and bpeVocab's alphabet pass made a
    // third (now census-supplied, see [[TextAnalysis.BpeTokenizer]]).
    // The count of id-stream rows per doc IS bpeEncode's n_tokens (the
    // p24 oracle derives its own counts the same way), so values are
    // unchanged. The packCounts stats row materializes the checkpoint as
    // its own first job; 4 longs/row, far narrower than re-reading text.
    val tokens = TextAnalysis.bpeTokenIds(corpus, mergeTable, alphabet)
      .localCheckpoint(false)
    val counts = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    val offsets = packCounts(counts, budget)
      .select(col("doc_id"), col("start_offset"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("word_idx"), col("tok_idx"))
    tokens
      .withColumn("tix", row_number().over(w).cast("bigint") - 1)
      .join(offsets, Seq("doc_id"))
      .select(
        expr(s"(start_offset + tix) div $budget").as("seq"),
        expr(s"(start_offset + tix) % $budget").as("seq_pos"),
        col("doc_id"), col("token_id"))
  }

  /** [[packTokenIds]] under a FROZEN tokenizer — the deployment
    * spelling: the id space (and UNK) comes from `vocabCorpus` +
    * `mergeTable` ([[TextAnalysis.bpeTokenIdsAgainst]]), while the tape
    * layout packs `corpus`'s own token counts. Out-of-alphabet tokens
    * keep their tape positions (UNK id = |vocab| — the stream stays
    * total, so seq/seq_pos never shift against the count-based
    * layout). Same single-scalar-shuffle plan shape as the one-corpus
    * spelling. */
  def packTokenIdsAgainst(corpus: DataFrame, vocabCorpus: DataFrame,
      mergeTable: Seq[(String, String)], budget: Int = 128,
      alphabet: Option[Seq[String]] = None): DataFrame = {
    require(budget > 0, "need budget > 0")
    // same single-tokenize-pass shape as [[packTokenIds]]; the UNK
    // resolution keeps the stream TOTAL (every word token surfaces, OOV
    // as the UNK id), so per-doc stream counts still equal bpeEncode's
    // n_tokens and the layout cannot shift
    val tokens = TextAnalysis.bpeTokenIdsAgainst(corpus, vocabCorpus, mergeTable, alphabet)
      .localCheckpoint(false)
    val counts = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    val offsets = packCounts(counts, budget)
      .select(col("doc_id"), col("start_offset"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("word_idx"), col("tok_idx"))
    tokens
      .withColumn("tix", row_number().over(w).cast("bigint") - 1)
      .join(offsets, Seq("doc_id"))
      .select(
        expr(s"(start_offset + tix) div $budget").as("seq"),
        expr(s"(start_offset + tix) % $budget").as("seq_pos"),
        col("doc_id"), col("token_id"))
  }

  /** Deterministic TRAINING-SHARD layout: shard by content-independent
    * id hash, order within shard by the same hash — a reproducible global
    * shuffle (every data-parallel trainer must see the same shard in the
    * same order on every resume; rand() cannot provide that, md5 can).
    *
    * Position assignment is the same TWO-LEVEL PREFIX SUM as
    * [[packSequences]] — a `Window.partitionBy(shard)` row_number puts a
    * shard's ENTIRE slice of the corpus into one task (12.5 TB of
    * spill-sort per task at 100 TB / 8 shards):
    *   1. rows sub-bucket by fixed `h`-range (h is a uniform 32-bit hash,
    *      so equal ranges are equal buckets by construction — no stats
    *      pass needed, unlike packSequences' arbitrary doc_id space);
    *   2. a scan-only aggregate counts each (shard, bucket); the
    *      exclusive running count per shard windows over that
    *      ≤`numShards`×`buckets`-row relation only;
    *   3. ranks come from a window PARTITIONED by (shard, bucket) — fully
    *      parallel — plus the broadcast bucket offset.
    * Bucket ranges tile the hash space in order, so bucket-major +
    * in-bucket (h, doc_id) rank IS the global within-shard (h, doc_id)
    * rank. Shuffled bytes: (doc_id, h, shard, bucket) = 32 B/row once,
    * plus the counts side relation (≲ world_size×1024 rows — a few MB
    * broadcast even at trainer world sizes in the hundreds). */
  def shardPack(corpus: DataFrame, numShards: Int = 8, buckets: Int = 1024): DataFrame = {
    val width = math.max(1L, (1L << 32) / buckets)
    val g = corpus.select(col("doc_id")).withColumn(
      "h", StableHash.id32(col("doc_id")))
      .withColumn("shard", (col("h") % numShards).cast("bigint"))
      .withColumn("bucket", expr(s"h div $width"))
    // per-(shard,bucket) counts: scan-only partial aggregate
    val counts = g.groupBy(col("shard"), col("bucket")).agg(count(lit(1)).as("cnt"))
    // exclusive running count — the only per-shard ordered window, over
    // the tiny counts relation
    val exclusive = Window.partitionBy(col("shard")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("cnt")).over(exclusive), lit(0L)))
      .select(col("shard"), col("bucket"), col("offset"))
    val inBucket = Window.partitionBy(col("shard"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    g.join(broadcast(offsets), Seq("shard", "bucket"))
      .withColumn("pos", (col("offset") + row_number().over(inBucket)).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** TEMPERATURE-BALANCED language mixing (the multilingual-pretraining
    * standard): sampling weights ∝ count^alpha flatten the language
    * distribution (alpha 1 = natural, 0 = uniform), realized as a
    * deterministic per-language md5-bucket gate — same reproducibility
    * contract as [[shardPack]]. The per-language rate table is a
    * `#languages`-row aggregate that BROADCASTS back onto the corpus scan:
    * the 100 TB side is one linear pass, no shuffle. */
  def temperatureMix(corpus: DataFrame, alpha: Double = 0.5,
      targetFrac: Double = 0.5): DataFrame = {
    val counts = corpus.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("n"))
    val totals = counts.agg(
      sum(col("n")).as("tot"), sum(pow(col("n"), lit(alpha))).as("wsum"))
    val rates = counts.crossJoin(broadcast(totals))
      .withColumn("rate",
        least(lit(1.0),
          lit(targetFrac) * col("tot") * pow(col("n"), lit(alpha)) /
            (col("wsum") * col("n"))))
      // decimal-stable before the integer threshold so Spark and DuckDB
      // floor the same value (see OracleRound)
      .withColumn("thr", floor(stableRound(col("rate"), 6) * 1000).cast("bigint"))
      .select(col("lang"), col("thr"))
    corpus
      .withColumn("bucket",
        (StableHash.id32(col("doc_id")) % 1000).cast("bigint"))
      .join(broadcast(rates), "lang")
      .filter(col("bucket") < col("thr"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Overlapping CONTEXT-WINDOW CHUNKING (the RAG/long-context layout):
    * each doc's token stream is cut into `window`-token chunks every
    * `stride` tokens; a chunk carries its span (`start_tok`, `n_toks`)
    * and a content hash for downstream chunk-level dedup/retrieval —
    * never the chunk text itself.
    *
    * Scale shape: a pure NARROW plan — tokenize, one Generate for the
    * start offsets, and per-row slice+hash all fuse into the scan stage;
    * no shuffle, no UDF, and the only thing wider than the input row is
    * the ≤ window/stride chunk fan-out. The final window may be shorter
    * than `window` (its `n_toks` says so); every token is covered by
    * ≥1 chunk and consecutive chunks overlap by `window - stride`. */
  def chunkWindows(corpus: DataFrame, window: Int = 64, stride: Int = 32): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    corpus
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("bigint"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr(s"sequence(0L, greatest(n - 1, 0L), ${stride}L)")).as("start_tok"))
      .select(
        col("doc_id"),
        expr(s"start_tok div $stride").as("chunk_idx"),
        col("start_tok"),
        least(lit(window.toLong), col("n") - col("start_tok")).as("n_toks"),
        md5(concat_ws("\u001f",
          expr(s"slice(toks, CAST(start_tok + 1 AS INT), $window)"))).as("chunk_hash"))
  }

  /** MIXTURE-WEIGHT report — the per-language sampling plan a temperature-
    * balanced run trains from: token-count shares raised to `alpha`
    * (α < 1 upweights low-resource languages), normalized to weights,
    * then a token budget split by weight with the implied epoch count
    * (epochs > 1 = that language repeats). [[temperatureMix]] is the
    * doc-level realization of such a plan; this is the plan itself —
    * counts come from data, weights from arithmetic, so the report is
    * deterministic and oracle-replayable.
    *
    * Scale shape: one hash aggregate (map-side partials, fixed-width
    * rows), then pure arithmetic over the ≤|langs|-row counts relation
    * joined to a broadcast 1-row total — nothing after the aggregate
    * touches corpus-sized data. */
  def mixtureWeights(corpus: DataFrame, alpha: Double = 0.5,
      budgetTokens: Long = 100000L): DataFrame = {
    require(alpha > 0 && budgetTokens > 0, "need alpha > 0 and a positive budget")
    val counts = corpus
      .withColumn("n_toks", size(split(trim(col("text")), " +")).cast("bigint"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = counts.agg(
      sum(pow(col("n_tokens").cast("double"), lit(alpha))).as("wsum"))
    counts.crossJoin(broadcast(tot))
      .withColumn("weight",
        stableRound(pow(col("n_tokens").cast("double"), lit(alpha)) / col("wsum"), 6))
      .withColumn("target_tokens",
        floor(col("weight") * lit(budgetTokens.toDouble)).cast("bigint"))
      .withColumn("epochs",
        stableRound(col("target_tokens").cast("double") / col("n_tokens"), 4))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("weight"), col("target_tokens"), col("epochs"))
  }

  /** CAPPED mixture weights — [[mixtureWeights]] under the max-epoch
    * constraint every production recipe carries (a low-resource language
    * must not repeat more than `maxEpochs` times no matter what the
    * temperature says), solved by WATER-FILLING: allocate the budget
    * ∝ n^α among uncapped groups, pin any group whose allocation exceeds
    * `maxEpochs · n_tokens` at its cap, redistribute the remainder among
    * the others, repeat to convergence (caps only grow, so ≤ #groups
    * rounds; `iters` is a fixed bound over it so the Spark plan and the
    * DuckDB oracle run the IDENTICAL chain — converged rounds are
    * idempotent). The cap comparison goes through the decimal-stable
    * 6-digit grid on both engines, the [[temperatureMix]] threshold
    * discipline.
    *
    * Output per group: (lang, n_docs, n_tokens, target_tokens, epochs,
    * capped). Scale shape: ONE corpus-sized hash aggregate (the p17
    * plan); the water-filling iterates over the group-count relation,
    * which is checkpointed once and re-aggregated per round — O(groups)
    * rows per step, the corpus is never rescanned. */
  def mixtureWeightsCapped(corpus: DataFrame, alpha: Double = 0.5,
      budgetTokens: Long = 100000L, maxEpochs: Double = 2.0,
      iters: Int = 8): DataFrame = {
    require(alpha > 0 && budgetTokens > 0 && maxEpochs > 0 && iters > 0,
      "need positive alpha, budget, maxEpochs, iters")
    val base = corpus
      .withColumn("n_toks", size(split(trim(col("text")), " +")).cast("bigint"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("n", col("n_tokens").cast("double"))
      .withColumn("w", pow(col("n"), lit(alpha)))
      .withColumn("cap_tokens", col("n") * lit(maxEpochs))
      .localCheckpoint() // group-count rows; cuts the corpus out of the loop lineage
    val cols = Seq("lang", "n_docs", "n_tokens", "n", "w", "cap_tokens").map(col)
    def share(fixed: Column, wsum: Column): Column =
      when(col("capped") || wsum <= 0, col("cap_tokens"))
        .otherwise((lit(budgetTokens.toDouble) - fixed) * col("w") / wsum)
    var cur = base.withColumn("capped", lit(false))
    (1 to iters).foreach { _ =>
      val agg = cur.agg(
        sum(when(col("capped"), col("cap_tokens")).otherwise(lit(0.0))).as("fixed"),
        sum(when(col("capped"), lit(0.0)).otherwise(col("w"))).as("wsum"))
      cur = cur.select(cols :+ col("capped"): _*)
        .crossJoin(broadcast(agg))
        .withColumn("capped",
          col("capped") ||
            stableRound(share(col("fixed"), col("wsum")), 6) > col("cap_tokens"))
        .select(cols :+ col("capped"): _*)
    }
    val agg = cur.agg(
      sum(when(col("capped"), col("cap_tokens")).otherwise(lit(0.0))).as("fixed"),
      sum(when(col("capped"), lit(0.0)).otherwise(col("w"))).as("wsum"))
    cur.crossJoin(broadcast(agg))
      .withColumn("alloc", share(col("fixed"), col("wsum")))
      .withColumn("target_tokens",
        floor(least(stableRound(col("alloc"), 6), col("cap_tokens"))).cast("bigint"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("target_tokens"),
        stableRound(col("target_tokens").cast("double") / col("n"), 4).as("epochs"),
        col("capped").cast("int").as("capped"))
  }

  /** The [[mixtureWeightsCapped]] chain spelled as DuckDB CTEs — the
    * oracle replays the identical fixed-round water-filling. */
  private[operators] def cappedMixSql(alpha: Double, budgetTokens: Long,
      maxEpochs: Double, iters: Int): String = {
    val b = s"${budgetTokens.toDouble}"
    def aggOver(i: String): String =
      s"(SELECT coalesce(sum(CASE WHEN i.capped THEN b.cap ELSE 0 END), 0) AS fixed, " +
        s"coalesce(sum(CASE WHEN i.capped THEN 0 ELSE b.w END), 0) AS wsum " +
        s"FROM b JOIN $i i USING (lang)) a"
    def shareSql: String =
      s"CASE WHEN i.capped OR a.wsum <= 0 THEN b.cap " +
        s"ELSE ($b - a.fixed) * b.w / a.wsum END"
    val steps = (1 to iters).map { k =>
      s"i$k AS (SELECT b.lang, (i.capped OR " +
        OracleRound.stableRoundSql(shareSql, 6) +
        s" > b.cap) AS capped FROM b JOIN i${k - 1} i USING (lang), ${aggOver(s"i${k - 1}")})"
    }.mkString(", ")
    "c AS (SELECT lang, count(*) AS n_docs, " +
      "CAST(sum(len(string_split_regex(trim(text), ' +'))) AS BIGINT) AS n_tokens " +
      "FROM documents GROUP BY 1), " +
      "b AS (SELECT lang, n_docs, n_tokens, CAST(n_tokens AS DOUBLE) AS n, " +
      s"pow(CAST(n_tokens AS DOUBLE), $alpha) AS w, " +
      s"CAST(n_tokens AS DOUBLE) * $maxEpochs AS cap FROM c), " +
      "i0 AS (SELECT lang, FALSE AS capped FROM b), " +
      steps + ", " +
      s"fin AS (SELECT b.lang, b.n_docs, b.n_tokens, b.n, b.cap, i.capped, $shareSql AS alloc " +
      s"FROM b JOIN i$iters i USING (lang), ${aggOver(s"i$iters")})"
  }

  /** Morton bit-spread of a 16-bit value into the even bit positions of a
    * 32-bit lane — the classic mask-doubling construction, spelled with
    * codegen'd BUILT-IN bitwise columns so the identical arithmetic
    * replays in DuckDB (see [[zorderSpreadSql]]). */
  private def spread16(x: Column): Column = {
    val s1 = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(16711935L))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(252645135L))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(858993459L))
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(1431655765L))
  }

  /** Z-VALUE of two dims (low 16 bits each, interleaved a-even/b-odd). */
  def zvalue(a: Column, b: Column): Column =
    spread16(a.bitwiseAND(lit(65535L)))
      .bitwiseOR(shiftleft(spread16(b.bitwiseAND(lit(65535L))), 1))

  /** The same Morton spread as SQL text (for the DuckDB oracle). */
  private[operators] def zorderSpreadSql(x: String): String = {
    val s1 = s"((($x) | (($x) << 8)) & 16711935)"
    val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
    val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
    s"(($s3 | ($s3 << 1)) & 1431655765)"
  }

  private[operators] def zvalueSql(a: String, b: String): String =
    s"(${zorderSpreadSql(s"($a) & 65535")} | (${zorderSpreadSql(s"($b) & 65535")} << 1))"

  /** Z-ORDER FILE LAYOUT — multi-dimensional clustering for scan pruning:
    * rows sort by the Morton interleave of two dimensions and cut into
    * `rowsPerFile` files, so each file's (min, max) envelope is tight in
    * BOTH dims at once and a predicate on EITHER dim skips most files —
    * the property a single-dim sort gives only its leading column. This
    * is the layout step behind every "Z-ORDER BY" table optimizer; the
    * engine's PK-clustered compaction (SqlEngine) is the 1-D special
    * case. Returns per-row `(id, a, b, zval, file_id)` — write it
    * `partitionBy(file_id)` to realize the layout; [[zorderFileStats]]
    * derives the min/max skipping index.
    *
    * The global rank is the [[packSequences]] TWO-LEVEL PREFIX SUM, not a
    * single-partition window: zval-range buckets, per-bucket counts, an
    * exclusive running count over the ≤`buckets`-row relation, and a
    * bucket-partitioned (zval, id) rank plus the broadcast offset.
    * Shuffled bytes: (id, a, b, zval, bucket) scalars — 40 B/row once.
    *
    * Bucket boundaries come from SAMPLED ZVAL QUANTILES (one bounded
    * O(buckets)-row driver action, computed distributed by the
    * Greenwald–Khanna sketch), not uniform min/max slicing: Morton
    * interleaving AMPLIFIES dimension skew (clustered or constant dims
    * collapse huge row masses into narrow zval ranges), and a uniform
    * slice would serialize those rows through one window partition.
    * Quantile cuts keep bucket populations ~equal for any zval
    * distribution; the irreducible floor is a single hot DISTINCT zval
    * (equal keys must share a bucket for the rank to stay
    * deterministic), i.e. duplicate (a, b) coordinate pairs — pre-dedup
    * those upstream if a corpus has them in bulk. Per-row bucket lookup
    * is the codegen'd binary-search [[graft.functions.RangeBucket]],
    * O(log buckets). Rows with a NULL dimension have no Morton position
    * and are dropped (null zval → null bucket → no offset row);
    * `coalesce` upstream to give them one. */
  def zorderFiles(rows: DataFrame, idCol: String, aCol: String, bCol: String,
      rowsPerFile: Long = 1024L, buckets: Int = 1024): DataFrame = {
    require(rowsPerFile > 0, "need rowsPerFile > 0")
    // materialized ONCE (4 scalars/row): the quantile sketch, the bucket
    // census, and the final rank all read this checkpoint — without it
    // the zval projection recomputes for each of the three passes
    val z = rows.select(col(idCol).as("id"),
        col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .withColumn("zval", zvalue(col("a"), col("b")))
      .localCheckpoint()
    val cuts = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds =
      if (cuts.isEmpty) Array.empty[Long]
      else z.stat.approxQuantile("zval", cuts, 0.01).map(_.toLong).distinct.sorted
    // the expression closes over THIS run's boundary array, so two
    // concurrent layouts on one session cannot cross-wire
    val bk = z.withColumn("bucket", graft.functions.rangeBucket(col("zval"), bounds))
    val totals = bk.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val exclusive = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("offset", coalesce(sum(col("cnt")).over(exclusive), lit(0L)))
      .select(col("bucket"), col("offset"))
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("zval"), col("id"))
    bk.join(broadcast(offsets), Seq("bucket"))
      .withColumn("rk", col("offset") + row_number().over(inBucket) - 1)
      .select(col("id"), col("a"), col("b"), col("zval"),
        expr(s"rk div $rowsPerFile").as("file_id"))
  }

  /** The file-skipping index a [[zorderFiles]] layout yields: per file
    * the row count and BOTH dims' (min, max) envelope — exactly what a
    * reader consults to prune files against a predicate on either dim. */
  def zorderFileStats(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"))

  // ---------- testdata bindings (the driver contract) ----------

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  val queries: Seq[NamedQuery] = Seq(

    // the p04 layout under REAL tokenizer counts: documents are packed
    // by their BPE post-merge token counts (k=8 trained table) instead
    // of the whitespace proxy — the composition a production packing
    // run uses; the oracle nests the full encode chain under the same
    // prefix-sum replay.
    NamedQuery(
      "p23_pack_bpe",
      Some(
        "WITH tk AS (SELECT doc_id, n_tokens FROM (" +
          graft.operators.TextAnalysis.bpeEncodeSql(8) + ")), " +
          "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens " +
          "AS BIGINT) AS start_offset FROM tk) " +
          "SELECT doc_id, n_tokens, start_offset, " +
          "start_offset // 128 AS first_seq, " +
          "(start_offset + n_tokens - 1) // 128 AS last_seq " +
          "FROM c ORDER BY doc_id"),
      (s, dir) => {
        val table = graft.operators.TextAnalysis
          .bpeTrainDriver(docs(s, dir), merges = 8).map(t => (t._2, t._3))
        packCounts(
          graft.operators.TextAnalysis.bpeEncode(docs(s, dir), table)
            .select(col("doc_id"), col("n_tokens")))
          .orderBy(col("doc_id"))
      }),

    // the packed tape MATERIALIZED: p23's layout joined onto the real
    // id stream (t20) — (seq, seq_pos, doc_id, token_id) per corpus
    // token, the rows a training loader consumes. Full value oracle:
    // the shared t20 id-stream CTEs + per-doc token index + the
    // prefix-sum offset replay + the seq/seq_pos arithmetic.
    NamedQuery(
      "p24_pack_ids",
      Some(
        "WITH " + graft.operators.TextAnalysis.bpeIdStreamCtes(8) + ", " +
          "tix AS (SELECT doc_id, token_id, CAST(row_number() OVER " +
          "(PARTITION BY doc_id ORDER BY word_idx, tok_idx) - 1 AS BIGINT) AS tix FROM ids), " +
          "tk AS (SELECT doc_id, count(*) AS n FROM ids GROUP BY doc_id), " +
          "c AS (SELECT doc_id, CAST(sum(n) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n " +
          "AS BIGINT) AS start_offset FROM tk) " +
          "SELECT CAST((start_offset + tix) // 128 AS BIGINT) AS seq, " +
          "CAST((start_offset + tix) % 128 AS BIGINT) AS seq_pos, doc_id, token_id " +
          "FROM tix JOIN c USING (doc_id) ORDER BY seq, seq_pos"),
      (s, dir) => {
        val tok = graft.operators.TextAnalysis
          .bpeTrainTokenizer(docs(s, dir), merges = 8)
        packTokenIds(docs(s, dir).select(col("doc_id"), col("text")),
          tok.merges, alphabet = tok.alphabet)
          .orderBy(col("seq"), col("seq_pos"))
      }),

    // the packed tape under a FROZEN tokenizer — the DEPLOYMENT
    // spelling: the tokenizer (merge table + id space + UNK) trains on
    // `documents`, while the tape packs t23's foreign corpus (the
    // held-out %10 slice with a planted out-of-alphabet word). UNK
    // tokens keep their tape positions, so seq/seq_pos never shift
    // against the count-based layout. Full value oracle: the shared
    // foreign-corpus UNK id-stream CTEs (t23's chain) composed with
    // p24's per-doc token index + prefix-sum offset replay.
    NamedQuery(
      "p25_pack_ids_frozen",
      Some(
        "WITH " + graft.operators.TextAnalysis.bpeUnkIdStreamCtes(8) + ", " +
          "tix AS (SELECT doc_id, token_id, CAST(row_number() OVER " +
          "(PARTITION BY doc_id ORDER BY word_idx, tok_idx) - 1 AS BIGINT) AS tix FROM ids), " +
          "tk AS (SELECT doc_id, count(*) AS n FROM ids GROUP BY doc_id), " +
          "c AS (SELECT doc_id, CAST(sum(n) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n " +
          "AS BIGINT) AS start_offset FROM tk) " +
          "SELECT CAST((start_offset + tix) // 128 AS BIGINT) AS seq, " +
          "CAST((start_offset + tix) % 128 AS BIGINT) AS seq_pos, doc_id, token_id " +
          "FROM tix JOIN c USING (doc_id) ORDER BY seq, seq_pos"),
      (s, dir) => {
        val d = docs(s, dir)
        val tok = graft.operators.TextAnalysis
          .bpeTrainTokenizer(d, merges = 8)
        val foreign = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" q¤x")).as("text"))
        packTokenIdsAgainst(foreign, d, tok.merges, alphabet = tok.alphabet)
          .orderBy(col("seq"), col("seq_pos"))
      }),

    NamedQuery(
      "p04_sequence_packing",
      Some(
        "WITH tk AS (SELECT doc_id, CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) " +
          "AS n_tokens FROM documents), " +
          "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens " +
          "AS BIGINT) AS start_offset FROM tk) " +
          "SELECT doc_id, n_tokens, start_offset, " +
          "start_offset // 128 AS first_seq, " +
          "(start_offset + n_tokens - 1) // 128 AS last_seq " +
          "FROM c ORDER BY doc_id"),
      (s, dir) =>
        packSequences(docs(s, dir).select(col("doc_id"), col("text")))
          .orderBy(col("doc_id"))),

    NamedQuery(
      "p05_temperature_mix",
      Some(
        "WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang), " +
          "t AS (SELECT sum(n) AS tot, sum(pow(n, 0.5)) AS wsum FROM c), " +
          "r AS (SELECT lang, least(1.0, 0.5 * tot * pow(n, 0.5) / (wsum * n)) AS rate FROM c, t), " +
          "th AS (SELECT lang, CAST(floor(" + stableRoundSql("rate", 6) + " * 1000) AS BIGINT) AS thr FROM r), " +
          "g AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
          "AS BIGINT) % 1000 AS bucket FROM documents) " +
          "SELECT g.doc_id, g.lang, CAST(g.bucket AS BIGINT) AS bucket " +
          "FROM g JOIN th ON g.lang = th.lang WHERE g.bucket < th.thr ORDER BY doc_id"),
      (s, dir) => temperatureMix(docs(s, dir)).orderBy(col("doc_id"))),

    NamedQuery(
      "p06_shard_pack",
      Some(
        "WITH g AS (SELECT doc_id, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
          "AS BIGINT) AS h FROM documents) " +
          "SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard, " +
          "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos " +
          "FROM g ORDER BY doc_id"),
      (s, dir) => shardPack(docs(s, dir)).orderBy(col("doc_id"))),

    // span map over the p04 packing: the oracle replays the running-sum
    // layout, then unrolls each doc's sequence range with range() and
    // recomputes both clip bounds — every (seq, doc, begin, end) row
    // hash-checks.
    NamedQuery(
      "p10_pack_spans",
      Some(
        "WITH tk AS (SELECT doc_id, CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) " +
          "AS n_tokens FROM documents), " +
          "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens " +
          "AS BIGINT) AS start_offset FROM tk), " +
          "x AS (SELECT doc_id, n_tokens, start_offset, " +
          "unnest(range(start_offset // 128, (start_offset + n_tokens - 1) // 128 + 1)) AS seq_id FROM c) " +
          "SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id, " +
          "CAST(greatest(0, start_offset - seq_id * 128) AS BIGINT) AS begin_tok, " +
          "CAST(least(128 * (seq_id + 1), start_offset + n_tokens) - seq_id * 128 AS BIGINT) AS end_tok " +
          "FROM x ORDER BY seq_id, doc_id"),
      (s, dir) =>
        packedSpans(docs(s, dir).select(col("doc_id"), col("text")))
          .orderBy(col("seq_id"), col("doc_id")))
,
    // overlapping context-window chunks (W=64, stride=32). The oracle
    // replays tokenization, the start grid (DuckDB range() exclusive stop
    // == Spark sequence() inclusive stop-1), the clamped slice, and the
    // unit-separator md5 — a hash match proves span arithmetic AND the
    // chunk content hash byte-for-byte.
    NamedQuery(
      "p15_chunk_windows",
      Some(
        "WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents), " +
          "x AS (SELECT doc_id, tk, len(tk) AS n, " +
          "unnest(range(0, greatest(len(tk), 1), 32)) AS start_tok FROM tk) " +
          "SELECT doc_id, CAST(start_tok // 32 AS BIGINT) AS chunk_idx, " +
          "CAST(start_tok AS BIGINT) AS start_tok, " +
          "CAST(least(64, n - start_tok) AS BIGINT) AS n_toks, " +
          "md5(array_to_string(tk[start_tok + 1 : start_tok + 64], chr(31))) AS chunk_hash " +
          "FROM x ORDER BY doc_id, chunk_idx"),
      (s, dir) =>
        chunkWindows(docs(s, dir).select(col("doc_id"), col("text")))
          .orderBy(col("doc_id"), col("chunk_idx")))
,
    // per-language mixture plan at alpha=0.5, budget=100k tokens. The
    // oracle replays the exact-integer counts, the pow/normalize on
    // identical doubles (the p05 precedent), the floor off the ROUNDED
    // weight, and the epoch ratio.
    NamedQuery(
      "p17_mixture_weights",
      Some(
        "WITH t AS (SELECT lang, count(*) AS n_docs, " +
          "CAST(sum(len(string_split_regex(trim(text), ' +'))) AS BIGINT) AS n_tokens " +
          "FROM documents GROUP BY lang), " +
          "w AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS wsum FROM t), " +
          "r AS (SELECT lang, n_docs, n_tokens, " +
          stableRoundSql("pow(CAST(n_tokens AS DOUBLE), 0.5) / wsum", 6) +
          " AS weight FROM t, w) " +
          "SELECT lang, n_docs, n_tokens, weight, " +
          "CAST(floor(weight * CAST(100000 AS DOUBLE)) AS BIGINT) AS target_tokens, " +
          stableRoundSql(
            "CAST(floor(weight * CAST(100000 AS DOUBLE)) AS DOUBLE) / n_tokens", 4) +
          " AS epochs FROM r ORDER BY lang"),
      (s, dir) =>
        mixtureWeights(docs(s, dir).select(col("text"), col("lang")))
          .orderBy(col("lang")))
,
    // z-order layout of orders on (custkey, order day): per-file row
    // counts and both min/max envelopes — the skipping index itself is
    // the checked output. FULL oracle: DuckDB replays the Morton spread
    // (same mask arithmetic), the global (zval, id) rank, and the
    // rowsPerFile cut bit-for-bit.
    NamedQuery(
      "p18_zorder_layout",
      Some(
        "WITH z0 AS (SELECT o_orderkey AS id, o_custkey AS a, " +
          "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS b FROM orders), " +
          s"zz AS (SELECT id, a, b, ${zvalueSql("a", "b")} AS zval FROM z0), " +
          "rk AS (SELECT id, a, b, zval, " +
          "row_number() OVER (ORDER BY zval, id) - 1 AS rk FROM zz) " +
          "SELECT CAST(rk // 1024 AS BIGINT) AS file_id, count(*) AS n_rows, " +
          "min(a) AS min_a, max(a) AS max_a, min(b) AS min_b, max(b) AS max_b " +
          "FROM rk GROUP BY 1 ORDER BY file_id"),
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
              .cast("long").as("o_day"))
        zorderFileStats(
          zorderFiles(orders, "o_orderkey", "o_custkey", "o_day", rowsPerFile = 1024L))
          .orderBy(col("file_id"))
      }),

    // capped mixture: budget 50000 at alpha 0.5 over this corpus drives
    // every low-resource language PAST 2.0 epochs (they pin at the cap)
    // while en stays under — both water-filling branches are live. The
    // DuckDB oracle replays the identical fixed-6-round chain CTE by CTE.
    NamedQuery(
      "p19_mixture_capped",
      Some(
        s"WITH ${cappedMixSql(0.5, 50000L, 2.0, 6)} " +
          "SELECT lang, n_docs, n_tokens, target_tokens, " +
          OracleRound.stableRoundSql("CAST(target_tokens AS DOUBLE) / n", 4) +
          " AS epochs, CAST(capped AS INT) AS capped FROM " +
          "(SELECT lang, n_docs, n_tokens, n, capped, " +
          "CAST(floor(least(" + OracleRound.stableRoundSql("alloc", 6) +
          ", cap)) AS BIGINT) AS target_tokens FROM fin) t ORDER BY lang"),
      (s, dir) =>
        mixtureWeightsCapped(docs(s, dir), alpha = 0.5, budgetTokens = 50000L,
          maxEpochs = 2.0, iters = 6)
          .orderBy(col("lang")))
  )
}
