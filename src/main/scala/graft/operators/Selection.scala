package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus SELECTION / ORDERING operators — the curation decisions between
  * dedup (what's a copy) and assembly (Packing — how batches are laid
  * out): which documents make the training set at all, in what global
  * order, and with which per-origin caps.
  *
  *   - [[selectTokenBudget]] — data-constrained selection: keep the
  *     highest-quality documents until a global token budget is exhausted
  *     (the "train on the best N tokens" step of every budgeted run).
  *   - [[curriculumOrder]]   — deterministic curriculum schedule: a global
  *     training position that walks quality stages easy→hard, shuffled
  *     within each stage.
  *   - [[capPerSource]]      — per-origin document caps (the C4-style
  *     domain cap): at most `cap` docs from any one source, chosen by a
  *     stable hash so the cut is reproducible.
  *
  * All three are deterministic functions of the data (md5 gates, never
  * rand()) — a resumed 100 TB job reproduces the same selection, and the
  * DuckDB oracle replays every rule bit-for-bit. Global ordinals and
  * running totals use the same TWO-LEVEL PREFIX SUM as
  * [[Packing.packSequences]]: the only globally-ordered windows run over
  * per-bucket count/total relations (≤ a few thousand rows), never the
  * corpus; per-row ranks come from windows PARTITIONED by bucket — fully
  * parallel. Shuffled bytes are fixed-width (id, hash, bucket, count)
  * rows; document text never leaves its scan stage.
  */
object Selection {

  /** The operator family's stable 32-bit id hash — shared definition so
    * selection and packing layouts agree by construction. */
  private def idHash(id: Column): Column = StableHash.id32(id)

  /** Keeps the top-quality prefix of the corpus whose running token total
    * stays within `budget` — ordering by (quality DESC, doc_id), a doc is
    * kept iff its cumulative end offset ≤ budget (whole documents only).
    * Input columns: `doc_id`, `quality: double`, `n_tokens: bigint`.
    * Returns (doc_id, quality, n_tokens, cum_end).
    *
    * Scale shape: quality-range buckets from one O(1) min/max stats row
    * (monotone in quality, so bucket-major order IS quality order; ties
    * share a bucket — they degrade balance, never correctness). Per-bucket
    * token totals are a scan-only aggregate; the exclusive running total —
    * the only globally-ordered window — runs over that ≤`buckets`-row
    * relation. Buckets whose exclusive offset already exceeds the budget
    * are dropped BEFORE the per-row window, so only ~budget's worth of
    * corpus is ever ranked: selecting 1% of 100 TB windows 1 TB, not
    * 100 TB.
    */
  def selectTokenBudget(scored: DataFrame, budget: Long, buckets: Int = 1024): DataFrame = {
    // one 1-row stats action sizes the quality buckets (same O(1)-driver
    // discipline as packSequences)
    val r = scored.agg(min(col("quality")), max(col("quality"))).head()
    val (hi, width) =
      if (r.isNullAt(1)) (0.0, 1.0)
      else {
        val lo = r.getDouble(0)
        (r.getDouble(1), math.max((r.getDouble(1) - lo) / buckets, java.lang.Double.MIN_NORMAL))
      }
    val b = scored.withColumn("qb",
      least(lit(buckets - 1L),
        greatest(lit(0L), floor((lit(hi) - col("quality")) / lit(width)).cast("bigint"))))
    val totals = b.groupBy(col("qb")).agg(sum(col("n_tokens")).as("btotal"))
    // the ONLY globally-ordered window — over ≤`buckets` rows
    val exclusive = Window.orderBy(col("qb")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("offset", coalesce(sum(col("btotal")).over(exclusive), lit(0L)))
      // early exit: a bucket starting past the budget cannot contribute
      // (cum_end ≥ offset for every row in it) — the inner join below then
      // prunes those corpus rows before the per-row window
      .filter(col("offset") <= budget)
      .select(col("qb"), col("offset"))
    val inBucket = Window.partitionBy(col("qb"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(offsets), "qb")
      .withColumn("cum_end", col("offset") + sum(col("n_tokens")).over(inBucket))
      .filter(col("cum_end") <= budget)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_end"))
  }

  /** Deterministic CURRICULUM schedule: a dense global training position
    * 1..N that visits quality stages in order (stage 0 = highest quality
    * first) and walks a reproducible md5 shuffle within each stage.
    * Input columns: `doc_id`, `quality: double` in [0,1] (clamped).
    * Returns (doc_id, stage, pos).
    *
    * Stages are fixed value thresholds (`stage = floor((1-quality) *
    * stages)`, clamped) — not quantiles, so assignment is a pure per-row
    * function with no global pass. The global position is stage-major +
    * hash-bucket-major: per-(stage, bucket) counts aggregate scan-side,
    * their exclusive running count (the only ordered window, ≤
    * stages×`buckets` rows) broadcasts back, and in-bucket ranks ride a
    * window partitioned by (stage, bucket).
    */
  def curriculumOrder(scored: DataFrame, stages: Int = 4, buckets: Int = 1024): DataFrame = {
    val width = math.max(1L, (1L << 32) / buckets)
    val g = scored.select(
      col("doc_id"),
      least(lit(stages - 1L),
        greatest(lit(0L), floor((lit(1.0) - col("quality")) * stages).cast("bigint"))).as("stage"))
      .withColumn("h", idHash(col("doc_id")))
      .withColumn("bucket", expr(s"h div $width"))
    val counts = g.groupBy(col("stage"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val exclusive = Window.orderBy(col("stage"), col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("cnt")).over(exclusive), lit(0L)))
      .select(col("stage"), col("bucket"), col("offset"))
    val inBucket = Window.partitionBy(col("stage"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    g.join(broadcast(offsets), Seq("stage", "bucket"))
      .withColumn("pos", (col("offset") + row_number().over(inBucket)).cast("bigint"))
      .select(col("doc_id"), col("stage"), col("pos"))
  }

  /** Per-origin document cap (the C4/RefinedWeb-style domain cap): keeps
    * at most `cap` documents from each `source`, selected by the stable
    * (md5(doc_id), doc_id) order so the cut is content-independent and
    * reproducible. Input columns: `doc_id`, `source`. Returns
    * (doc_id, source, rk) with rk ∈ 1..cap.
    *
    * Scale shape: a plain `Window.partitionBy(source)` row_number puts a
    * mega-source's entire slice into one task (a single viral domain can
    * be TBs); instead ranks ride the two-level prefix sum within each
    * source. The offsets relation is pre-filtered to buckets whose
    * exclusive count is still below `cap` — ≤ #sources × O(cap/bucket
    * width) rows regardless of corpus size — and the inner join prunes
    * every corpus row of the already-over-cap buckets before the ranking
    * window runs. No broadcast hint: source cardinality at web scale can
    * make even the filtered side large, so Spark/AQE picks broadcast vs
    * shuffle join from actual sizes.
    */
  def capPerSource(corpus: DataFrame, cap: Int, buckets: Int = 64): DataFrame = {
    val width = math.max(1L, (1L << 32) / buckets)
    val g = corpus.select(col("doc_id"), col("source"))
      .withColumn("h", idHash(col("doc_id")))
      .withColumn("bucket", expr(s"h div $width"))
    val counts = g.groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("cnt"))
    // per-source exclusive running count — ordered window over the counts
    // relation only (≤ #sources × `buckets` rows, never corpus rows)
    val exclusive = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("cnt")).over(exclusive), lit(0L)))
      // rank = offset + in-bucket row_number > cap for every row when
      // offset ≥ cap — drop those buckets before ranking
      .filter(col("offset") < cap)
      .select(col("source"), col("bucket"), col("offset"))
    val inBucket = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    g.join(offsets, Seq("source", "bucket"))
      .withColumn("rk", (col("offset") + row_number().over(inBucket)).cast("bigint"))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** Deterministic STRATIFIED train/val/test split: every `source` is cut
    * into the same `fractions` (so no origin is over-represented in any
    * split), with EXACT per-source counts — split k takes ranks in
    * (floor(cum_{k-1}·n), floor(cum_k·n)] of the stable (md5(doc_id),
    * doc_id) order within the source. Input columns: `doc_id`, `source`.
    * Returns (doc_id, source, rk, split) with split ∈ 0..fractions.size-1.
    *
    * Deterministic by construction (hash order, never rand()): re-running
    * on the same corpus reproduces the identical split, and adding a
    * document moves only ranks at/after its hash position within its own
    * source. Scale shape: same two-level prefix sum as [[capPerSource]] —
    * per-(source, bucket) counts aggregate scan-side, the per-source
    * exclusive running count and total ride windows over the counts
    * relation (≤ #sources × `buckets` rows), and per-row ranks come from
    * windows partitioned by (source, bucket), so a mega-source never
    * serializes into one task. No broadcast hint on the offsets join:
    * source cardinality at web scale can make it large — AQE decides.
    */
  def stratifiedSplit(corpus: DataFrame, fractions: Seq[Double], buckets: Int = 64): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_ > 0.0) &&
      math.abs(fractions.sum - 1.0) < 1e-9, "fractions must be positive and sum to 1")
    val cum = fractions.scanLeft(0.0)(_ + _).tail // cumulative; last == 1.0
    val width = math.max(1L, (1L << 32) / buckets)
    val g = corpus.select(col("doc_id"), col("source"))
      .withColumn("h", idHash(col("doc_id")))
      .withColumn("bucket", expr(s"h div $width"))
    val counts = g.groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val exclusive = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("cnt")).over(exclusive), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("bucket"), col("offset"), col("n"))
    val inBucket = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    // split = first k whose boundary floor(cum_k·n) the rank fits under;
    // the last boundary is exactly n (cum == 1.0), so every rank lands.
    // Both engines compute the identical double product before floor.
    val ranked = g.join(offsets, Seq("source", "bucket"))
      .withColumn("rk", (col("offset") + row_number().over(inBucket)).cast("bigint"))
    val split = cum.init.zipWithIndex.foldRight(lit(cum.length - 1): Column) {
      case ((c, i), rest) =>
        when(col("rk") <= floor(lit(c) * col("n")).cast("bigint"), lit(i)).otherwise(rest)
    }
    ranked.select(col("doc_id"), col("source"), col("rk"), split.cast("int").as("split"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006): the
    * top-k documents by key `ln(u)/w`, where `u ∈ (0,1]` derives from the
    * stable md5 hash — so the "random" draw is a pure function of doc_id
    * and the sample is reproducible run-over-run (and replayable by the
    * DuckDB oracle). Sequential weighted sampling WITHOUT replacement per
    * Efraimidis–Spirakis: the first draw is exactly probability-
    * proportional-to-weight; later draws follow the E-S without-
    * replacement scheme (not strict PPS inclusion). Input columns:
    * `doc_id`, `weight: bigint/double`. Rows with `weight <= 0` (or NULL)
    * are EXCLUDED before keying — `ln(u)/w` with w < 0 flips the key's
    * sign and would silently rank a negative-weight doc first, so
    * non-positive weights are treated as "never sample" rather than
    * corrupting the order. Returns (doc_id, weight, rk), rk 1..k.
    *
    * Scale shape: the key is a scan-side projection and the top-k plans as
    * TakeOrderedAndProject — per-partition heaps of k rows, one k-row
    * merge; no global sort, no corpus shuffle. Keys are continuous doubles,
    * so cross-engine rank agreement holds unless two keys collide within
    * ~1 ulp (probability ~0; ties still break by doc_id on both sides). */
  def weightedSample(weighted: DataFrame, k: Int): DataFrame = {
    val u = (idHash(col("doc_id")) + lit(1L)).cast("double") / lit(4294967296.0)
    val keyed = weighted.filter(col("weight") > 0)
      .select(col("doc_id"), col("weight"), (log(u) / col("weight")).as("es_key"))
    val top = keyed.orderBy(col("es_key").desc, col("doc_id")).limit(k)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("es_key").desc, col("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("weight"), col("rk"))
  }

  /** Deterministic per-EPOCH reshuffle + shard assignment — the "new
    * permutation every epoch" a trainer consumes: global position = rank
    * of md5(epoch:doc_id), shards striped round-robin off that position so
    * every shard gets |N/shards| ± 1 documents in shuffled order. Distinct
    * epochs produce independent permutations from the same corpus; the
    * same epoch always reproduces its own. Input column: `doc_id`.
    * Returns (doc_id, pos, shard, shard_pos), all 1-based except shard.
    *
    * Scale shape: the same two-level prefix sum as [[curriculumOrder]] —
    * per-hash-bucket counts aggregate scan-side, the exclusive running
    * count (the only globally-ordered window) runs over the ≤`buckets`-row
    * counts relation, per-row ranks ride a window PARTITIONED by bucket,
    * and shard/shard_pos are integer arithmetic off the rank. Pure
    * fixed-width rows on every exchange. */
  def epochShuffle(corpus: DataFrame, epoch: Int, shards: Int, buckets: Int = 1024): DataFrame = {
    require(shards > 0, "shards must be positive")
    val width = math.max(1L, (1L << 32) / buckets)
    val g = corpus.select(col("doc_id"))
      .withColumn("h", StableHash.str32(
        concat(lit("e"), lit(epoch), lit(":"), col("doc_id").cast("string"))))
      .withColumn("bucket", expr(s"h div $width"))
    val counts = g.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val exclusive = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("cnt")).over(exclusive), lit(0L)))
      .select(col("bucket"), col("offset"))
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    g.join(broadcast(offsets), "bucket")
      .withColumn("pos", (col("offset") + row_number().over(inBucket)).cast("bigint"))
      .select(col("doc_id"), col("pos"),
        expr(s"(pos - 1) % $shards").cast("int").as("shard"),
        (expr(s"(pos - 1) div $shards") + lit(1L)).cast("bigint").as("shard_pos"))
  }

  /** DIVERSITY-AWARE top-n selection: round-robin across cells — every
    * cell's rank-1 item is considered before any cell's rank-2, so the
    * pick covers all clusters before deepening into any (the scalable
    * stand-in for greedy MMR, whose sequential select can't distribute;
    * cells come from any partitioner — k-means, LSH, labels, sources).
    * Input columns: `id`, `cell`, `score`; returns the n picked rows
    * with their in-cell rank and global pick order. Total order
    * `(cell_rank, score DESC, id)` makes the pick deterministic and
    * oracle-replayable.
    *
    * Scale shape: one window partitioned BY CELL (the exchange carries
    * three scalars per row, never payloads), then the global top-n plans
    * as TakeOrderedAndProject — per-partition heaps of n, one n-row
    * merge, no global sort; the final pick_rank window sees only the n
    * survivors. */
  def diverseTopK(items: DataFrame, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val wCell = Window.partitionBy(col("cell")).orderBy(col("score").desc, col("id"))
    val top = items.select(col("id"), col("cell"), col("score"))
      .withColumn("cell_rank", row_number().over(wCell).cast("bigint"))
      .orderBy(col("cell_rank"), col("score").desc, col("id"))
      .limit(n)
    top.withColumn("pick_rank",
      row_number().over(
        Window.orderBy(col("cell_rank"), col("score").desc, col("id"))).cast("bigint"))
  }

  /** The shared token→bucket projection of the DSIR pair: sha-256 prefix
    * buckets (the [[Similarity.hashedEmbedding]] recipe — both engines
    * ship bit-identical sha-256, so the whole model is oracle-checkable;
    * swap to xxhash64 in a Spark-only production pipeline). Tokens are
    * consumed AT the scan — only (doc_id, bucket) ints survive. */
  private def tokenBuckets(docs: DataFrame, buckets: Int): DataFrame = docs
    .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("token"))
    .filter(col("token") =!= "")
    .select(col("doc_id"),
      (conv(substring(sha2(col("token"), 256), 1, 8), 16, 10).cast("long") % buckets)
        .cast("int").as("bucket"))

  /** DSIR-style importance scoring (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every corpus document by how
    * much more likely its tokens are under a TARGET-domain hashed
    * unigram model than under the corpus's own model — the standard
    * cheap proxy for "looks like the domain I want more of". Each side
    * is a `buckets`-cell count model with Laplace smoothing; a doc's
    * score is the mean per-token log-likelihood ratio
    * ln(p_target(b)/p_corpus(b)) (mean, not sum, so long docs aren't
    * favored), rounded to the 4-decimal oracle grid BEFORE any ranking
    * so tie order is engine-independent. Returns (doc_id, score,
    * n_tokens).
    *
    * Scale shape: two corpus-linear passes (model build, scoring) plus
    * one target pass — the models are ≤`buckets`-row relations that
    * BROADCAST to the scoring join, so no token or text ever crosses a
    * shuffle; the per-doc aggregate map-side combines to one
    * (doc_id, 2 numbers) row. At 100 TB the target sample is typically
    * tiny (a curated domain set) and the corpus passes are the floor
    * any selector pays. */
  def dsirScores(corpus: DataFrame, target: DataFrame, buckets: Int = 256): DataFrame = {
    require(buckets > 0, "need buckets > 0")
    val tokC = tokenBuckets(corpus, buckets)
    val tokT = tokenBuckets(target, buckets)
    val rModel = tokC.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    val tModel = tokT.groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    // both totals coalesce to 0 (the oracle's spelling): an EMPTY corpus
    // otherwise yields a NULL rt and NULL model rows — harmless today
    // (no score rows exist either) but asymmetric with the DuckDB replay
    val rTot = rModel.agg(coalesce(sum(col("cr")), lit(0L)).as("rt"))
    val tTot = tModel.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
    // ≤ buckets rows: corpus-side counts LEFT JOIN target counts (a
    // bucket the target never emits smooths to ct=0), one log-ratio per
    // bucket computed from identical integer counts on both engines
    val model = rModel.join(tModel, Seq("bucket"), "left")
      .crossJoin(broadcast(rTot)).crossJoin(broadcast(tTot))
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("tt") + buckets).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("rt") + buckets).cast("double"))).as("lr"))
    tokC.join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(avg(col("lr")).as("raw"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"),
        OracleRound.stableRound(col("raw"), 4).as("score"), col("n_tokens"))
  }

  /** [[dsirScores]] + deterministic top-k: the documents whose token
    * distribution best matches the target domain, ranked by
    * (score DESC, doc_id). Returns (doc_id, score, n_tokens, rank).
    * The global rank window runs over the k-row selection, never the
    * corpus (TakeOrdered merges per-partition top-k). */
  def dsirSelect(corpus: DataFrame, target: DataFrame, k: Int,
      buckets: Int = 256): DataFrame = {
    require(k > 0, "need k > 0")
    dsirScores(corpus, target, buckets)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("bigint"))
  }

  // ---------- testdata bindings (the driver contract) ----------

  /** Deterministic quality proxy over the documents table: 13 distinct
    * values — deliberately tie-heavy to exercise the tie ordering and
    * shared-bucket paths (both engines compute the identical double from
    * the same integer inputs). */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      ((col("n_chars") % 13).cast("double") / lit(13.0)).as("quality"),
      (lit(1L) + expr("n_chars div 6")).cast("bigint").as("n_tokens"))

  private val scoredSql =
    "SELECT doc_id, CAST(n_chars % 13 AS DOUBLE)/13 AS quality, " +
      "CAST(1 + n_chars // 6 AS BIGINT) AS n_tokens FROM documents"

  val queries: Seq[NamedQuery] = Seq(

    NamedQuery(
      "p07_token_budget",
      Some(
        s"WITH s AS ($scoredSql), " +
          "c AS (SELECT doc_id, quality, n_tokens, CAST(sum(n_tokens) OVER " +
          "(ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
          "AS BIGINT) AS cum_end FROM s) " +
          "SELECT doc_id, " + OracleRound.stableRoundSql("quality", 4) + " AS quality, " +
          "n_tokens, cum_end FROM c WHERE cum_end <= 12000 ORDER BY doc_id"),
      (s, dir) =>
        selectTokenBudget(scoredDocs(s, dir), budget = 12000L)
          .select(col("doc_id"), OracleRound.stableRound(col("quality"), 4).as("quality"),
            col("n_tokens"), col("cum_end"))
          .orderBy(col("doc_id"))),

    NamedQuery(
      "p08_curriculum",
      Some(
        s"WITH s AS ($scoredSql), " +
          "g AS (SELECT doc_id, CAST(greatest(0, least(3, floor((1.0 - quality) * 4))) AS BIGINT) AS stage, " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM s) " +
          "SELECT doc_id, stage, CAST(row_number() OVER (ORDER BY stage, h, doc_id) AS BIGINT) AS pos " +
          "FROM g ORDER BY doc_id"),
      (s, dir) =>
        curriculumOrder(scoredDocs(s, dir), stages = 4)
          .orderBy(col("doc_id"))),

    NamedQuery(
      "p09_source_cap",
      Some(
        "WITH g AS (SELECT doc_id, source, " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM documents), " +
          "r AS (SELECT doc_id, source, CAST(row_number() OVER " +
          "(PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rk FROM g) " +
          "SELECT doc_id, source, rk FROM r WHERE rk <= 15 ORDER BY doc_id"),
      (s, dir) =>
        capPerSource(Tables.load(s, dir, "documents"), cap = 15)
          .orderBy(col("doc_id"))),

    NamedQuery(
      "p11_stratified_split",
      Some(
        "WITH g AS (SELECT doc_id, source, " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM documents), " +
          "r AS (SELECT doc_id, source, CAST(row_number() OVER " +
          "(PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rk, " +
          "count(*) OVER (PARTITION BY source) AS n FROM g) " +
          "SELECT doc_id, source, rk, CAST(CASE WHEN rk <= floor(0.8 * n) THEN 0 " +
          "WHEN rk <= floor(0.9 * n) THEN 1 ELSE 2 END AS INT) AS split " +
          "FROM r ORDER BY doc_id"),
      (s, dir) =>
        stratifiedSplit(Tables.load(s, dir, "documents"), Seq(0.8, 0.1, 0.1))
          .orderBy(col("doc_id")))
  ,

    NamedQuery(
      "p12_weighted_sample",
      Some(
        s"WITH s AS ($scoredSql), " +
          "keyed AS (SELECT doc_id, n_tokens AS weight, " +
          "ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1) / 4294967296.0) / n_tokens AS es_key FROM s), " +
          "r AS (SELECT doc_id, weight, CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS BIGINT) AS rk FROM keyed) " +
          "SELECT doc_id, weight, rk FROM r WHERE rk <= 40 ORDER BY doc_id"),
      (s, dir) =>
        weightedSample(
          scoredDocs(s, dir).select(col("doc_id"), col("n_tokens").as("weight")), k = 40)
          .orderBy(col("doc_id"))),

    NamedQuery(
      "p13_epoch_shuffle",
      Some(
        "WITH g AS (SELECT doc_id, " +
          "CAST(('0x' || substr(md5('e2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM documents), " +
          "r AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos FROM g) " +
          "SELECT doc_id, pos, CAST((pos - 1) % 8 AS INT) AS shard, " +
          "CAST((pos - 1) // 8 + 1 AS BIGINT) AS shard_pos FROM r ORDER BY doc_id"),
      (s, dir) =>
        epochShuffle(Tables.load(s, dir, "documents"), epoch = 2, shards = 8)
          .orderBy(col("doc_id")))
,
    // diversity-aware top-100 over the embeddings table: cell = the
    // stored label, score = the L2 norm (the s07-proven bit-exact
    // spelling on both engines), so ranking happens on identical raw
    // doubles and the full pick is hash-checkable.
    NamedQuery(
      "s11_diverse_topk",
      Some(
        "WITH nv AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS cell, " +
          "sqrt(list_sum(list_transform(embedding, " +
          "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS score FROM embeddings), " +
          "r AS (SELECT id, cell, score, CAST(row_number() OVER " +
          "(PARTITION BY cell ORDER BY score DESC, id) AS BIGINT) AS cell_rank FROM nv), " +
          "p AS (SELECT id, cell, score, cell_rank, CAST(row_number() OVER " +
          "(ORDER BY cell_rank, score DESC, id) AS BIGINT) AS pick_rank FROM r) " +
          "SELECT id, cell, " + OracleRound.stableRoundSql("score", 4) + " AS score, " +
          "cell_rank, pick_rank FROM p WHERE pick_rank <= 100 ORDER BY pick_rank"),
      (s, dir) => {
        diverseTopK(
          Tables.load(s, dir, "embeddings").select(
            col("vec_id").as("id"), col("label").cast("bigint").as("cell"),
            graft.functions.l2Norm(col("embedding")).as("score")), 100)
          .select(col("id"), col("cell"),
            OracleRound.stableRound(col("score"), 4).as("score"),
            col("cell_rank"), col("pick_rank"))
          .orderBy(col("pick_rank"))
      }),

    // DSIR importance selection: target domain = the English documents,
    // raw pool = the whole corpus; FULL value oracle — DuckDB replays
    // the sha-256 bucket models, the smoothed log-likelihood-ratio, the
    // per-doc mean, and the (rounded score DESC, doc_id) top-100.
    NamedQuery(
      "p22_dsir_select",
      Some {
        def toks(src: String) =
          "SELECT doc_id, CAST(list_reduce(list_transform(range(1, 9), " +
            "i -> strpos('0123456789abcdef', sha256(token)[i]) - 1), " +
            "(a, c) -> a * 16 + c) % 256 AS INT) AS bucket FROM " +
            "(SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token " +
            s"FROM $src) WHERE token <> ''"
        s"WITH tokc AS (${toks("documents")}), " +
          s"tokt AS (${toks("(SELECT * FROM documents WHERE lang = 'en')")}), " +
          "rm AS (SELECT bucket, count(*) AS cr FROM tokc GROUP BY 1), " +
          "tm AS (SELECT bucket, count(*) AS ct FROM tokt GROUP BY 1), " +
          "tot AS (SELECT coalesce((SELECT sum(cr) FROM rm), 0) AS rt, " +
          "coalesce((SELECT sum(ct) FROM tm), 0) AS tt), " +
          "model AS (SELECT bucket, " +
          "ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE)) - " +
          "ln(CAST(cr + 1 AS DOUBLE) / CAST(rt + 256 AS DOUBLE)) AS lr " +
          "FROM rm LEFT JOIN tm USING (bucket), tot), " +
          "sc AS (SELECT doc_id, avg(lr) AS raw, CAST(count(*) AS BIGINT) AS n_tokens " +
          "FROM tokc JOIN model USING (bucket) GROUP BY doc_id), " +
          "r AS (SELECT doc_id, " + OracleRound.stableRoundSql("raw", 4) +
          " AS score, n_tokens FROM sc), " +
          "rk AS (SELECT doc_id, score, n_tokens, CAST(row_number() OVER " +
          "(ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM r) " +
          "SELECT doc_id, score, n_tokens, rank FROM rk WHERE rank <= 100 ORDER BY rank"
      },
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        dsirSelect(
          docs.select(col("doc_id"), col("text")),
          docs.filter(col("lang") === "en").select(col("doc_id"), col("text")),
          k = 100)
          .orderBy(col("rank"))
      })
  )
}
