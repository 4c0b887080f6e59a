package graft.operators

import graft.Tables
import graft.functions.{adjacentPairs, bigramStructs, codePoints, countAlphaTokens, countIn,
  countPresent, mergeAll, ngramJoin, rollingFingerprint, shinglePairs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators: language ID (stopword-hit heuristic), quality
  * scoring, token counting, TF-IDF keyword extraction, and rolling-hash
  * document fingerprinting.
  *
  * DataFrame-first API: every operator takes a corpus with
  * `(doc_id: long, text: string)` and returns a plan — the `queries`
  * entries only bind them to the driver's testdata. All are single-pass
  * projections (no shuffle except the aggregations) built from codegen'd
  * built-ins plus the custom fingerprint expression.
  */
object TextAnalysis {

  import OracleRound.{stableRound, stableRoundSql}

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ich", "ein", "zu", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "pour", "dans"))

  // stop words are constructor DATA (a word with a quote must never
  // become SQL text); the CountIn kernel replaces the ArrayFilter HOF
  // spelling (CodegenFallback — interpreted per token) with one codegen
  // call, value parity pinned in KernelParitySpec
  private def hitCount(lang: String): Column =
    countIn(col("toks"), stopwords(lang))

  /** Language prediction per document: stopword hit counts per candidate
    * language, highest wins (deterministic priority tie-break), zero hits
    * → "und". Adds a `pred` column. */
  def langId(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("s_en", hitCount("en"))
      .withColumn("s_de", hitCount("de"))
      .withColumn("s_es", hitCount("es"))
      .withColumn("s_fr", hitCount("fr"))
      .withColumn("best", greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr")))
      .withColumn("pred",
        when(col("best") === 0, "und")
          .when(col("s_en") === col("best"), "en")
          .when(col("s_de") === col("best"), "de")
          .when(col("s_es") === col("best"), "es")
          .otherwise("fr"))

  /** Quality features + composite score per document (single pass). */
  def qualityFeatures(corpus: DataFrame): DataFrame = {
    corpus
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens_i", size(col("toks")))
      .withColumn("n_stop",
        countIn(col("toks"), stopwords("en")))
      .select(
        col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"),
        col("n_tokens_i").cast("bigint").as("n_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("bigint").as("n_digits"),
        stableRound(col("n_stop").cast("double") / col("n_tokens_i"), 4).as("stop_ratio"),
        stableRound(length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens_i"), 4)
          .as("avg_token_len"),
        stableRound(
          least(col("n_tokens_i") / 50.0, lit(1.0)) * 0.5 +
            col("n_stop").cast("double") / col("n_tokens_i") * 0.5, 4).as("quality"))
  }

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-alnum marks). Stays a
    * single-pass shuffle-free projection: content-addressing
    * ([[perDistinctText]]) trades a text shuffle for the dedup, which
    * benches NEGATIVE for an op this cheap per byte. */
  def tokenCounts(corpus: DataFrame): DataFrame =
    corpus.select(
      col("doc_id"),
      size(split(trim(col("text")), " +")).cast("bigint").as("n_ws"),
      expr("regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')").cast("bigint").as("n_bpe"),
      length(col("text")).cast("bigint").as("n_chars"))

  /** Gopher-style heuristic quality rule battery (Rae et al. 2021 §A1.1,
    * the published web-corpus filter set): per-document metrics, one named
    * boolean flag per rule, and the composite `keep` decision. Rules:
    *
    *   - `f_words`    — word count within [minWords, maxWords]
    *   - `f_mean_len` — mean word length within [minMeanLen, maxMeanLen]
    *   - `f_symbol`   — symbol-to-word ratio ('#' chars + '...' runs)
    *                    below maxSymbolRatio
    *   - `f_alpha`    — ≥ minAlphaRatio of words contain a letter
    *   - `f_stop`     — at least minStopHits DISTINCT stop words present
    *
    * Thresholds default to the published Gopher values; the stop list is a
    * parameter because it is corpus/language-specific (built with the
    * Column API, so stop words containing quotes — "don't" — are plain
    * data, never SQL text). Whitespace runs (space/tab/CR/LF) are
    * normalized to a single space and the text trimmed BEFORE
    * tokenization, so newlines, tabs, and double spaces neither inflate
    * n_words nor distort mean word length — the Gopher semantics hold on
    * real corpora, not just single-space-separated text. Single
    * shuffle-free projection pass — every metric derives from one `split`
    * plus length/replace arithmetic, so the 100 TB shape is a pure map
    * over the scan with no exchange, and the DuckDB oracle replays the
    * same normalization and each rule bit-for-bit (integer counts and
    * exact IEEE divisions only; no transcendentals). */
  def heuristicFilter(corpus: DataFrame,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.8,
      stopWords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minStopHits: Int = 2): DataFrame = {
    corpus
      // explicit class, not \s: Java \s includes \x0B where RE2 (the
      // oracle's engine) does not — both engines agree on this set
      .withColumn("nt", trim(regexp_replace(col("text"), "[ \\t\\r\\n]+", " ")))
      .withColumn("toks", split(col("nt"), " "))
      .withColumn("n_words", size(col("toks")).cast("bigint"))
      .withColumn("mean_len_raw",
        (length(col("nt")) - (col("n_words") - lit(1L))).cast("double") / col("n_words"))
      .withColumn("n_symbols",
        (length(col("nt")) - length(replace(col("nt"), lit("#"), lit("")))).cast("bigint") +
          expr("CAST((length(nt) - length(replace(nt, '...', ''))) AS BIGINT) div 3"))
      .withColumn("n_alpha",
        countAlphaTokens(col("toks")).cast("bigint"))
      .withColumn("stop_hits",
        countPresent(col("toks"), stopWords).cast("bigint"))
      .withColumn("f_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("f_mean_len",
        col("mean_len_raw") >= minMeanLen && col("mean_len_raw") <= maxMeanLen)
      .withColumn("f_symbol",
        col("n_symbols").cast("double") / col("n_words") < maxSymbolRatio)
      .withColumn("f_alpha",
        col("n_alpha").cast("double") / col("n_words") >= minAlphaRatio)
      .withColumn("f_stop", col("stop_hits") >= minStopHits)
      .withColumn("keep",
        col("f_words") && col("f_mean_len") && col("f_symbol") && col("f_alpha") && col("f_stop"))
      .select(col("doc_id"), col("n_words"),
        stableRound(col("mean_len_raw"), 4).as("mean_word_len"),
        col("n_symbols"), col("n_alpha"), col("stop_hits"),
        col("f_words"), col("f_mean_len"), col("f_symbol"), col("f_alpha"), col("f_stop"),
        col("keep"))
  }

  /** Top-k terms per document by tf · ln(N/df): two partial-aggregated
    * groupBys + a df join + a per-doc window — the classic sparse
    * feature-extraction op. */
  def tfidfTerms(corpus: DataFrame, k: Int): DataFrame = {
    val toks = corpus.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = corpus.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    tf.join(df, "token").crossJoin(n)
      .withColumn("tfidf",
        stableRound(col("tf") * log(col("n").cast("double") / col("df")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("token"), col("tfidf"))
  }

  /** BM25 ranked retrieval — top-k documents per query over the corpus,
    * scored with the Okapi BM25 (Lucene's +1 idf variant, always ≥ 0):
    *
    *   w(t, D) = ln(1 + (N − df + ½)/(df + ½)) · tf·(k1+1) /
    *             (tf + k1·(1 − b + b·dl/avgdl))
    *
    * `queryTerms` is `(query_id, term)` — multi-term queries sum their
    * per-term weights. Returns (query_id, doc_id, score, rk), rk ∈ 1..k
    * by (score DESC, doc_id).
    *
    * Scale shape: the corpus token stream is filtered by a BROADCAST semi
    * join on the (tiny) query-term set BEFORE any aggregation, so the tf
    * shuffle carries only query-term hits — the 100 TB corpus itself never
    * shuffles, and df/avgdl/N stats are scan-side aggregates (df of the
    * matched terms equals corpus-wide df because the filter is on term).
    * Per-term weights are cast to DECIMAL(18,6) before the per-doc sum:
    * decimal addition is exact, so the score — and the tie order under it
    * — is independent of Spark's partial-aggregation order (and replays
    * bit-for-bit in the DuckDB oracle). The rank filter is rank-only, so
    * WindowGroupLimit prunes each query's candidates map-side before the
    * final per-query sort. */
  def bm25TopK(corpus: DataFrame, queryTerms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // dedup ONCE up front: a repeated (query_id, term) input row (easy via
    // the SQL surface, where terms is any user table) must not count the
    // term's weight twice in that query's scores
    val qt = queryTerms.select(col("query_id"), col("term")).distinct()
    val toked = corpus.select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("bigint"))
    val stats = toked.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val toks = toked.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
    val hits = toks.join(broadcast(qt.select(col("term")).distinct()), "term")
    // dl is constant per doc — grouping by it adds no groups and saves a
    // dl-lookup join back to the corpus
    val tf = hits.groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val weighted = tf.join(broadcast(df), "term").crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl").cast("double") / col("n").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        (col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
          .cast("decimal(18,6)"))
    val perQuery = weighted.join(broadcast(qt), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score_d"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_d").desc, col("doc_id"))
    perQuery
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"),
        col("score_d").cast("double").as("score"), col("rk"))
  }

  /** BOILERPLATE phrase mining — the corpus-level analysis behind
    * RefinedWeb/C4-style boilerplate filters: find every word `n`-gram
    * that appears in at least `minDfRatio` of all documents (cookie
    * banners, "subscribe" footers, license headers), with its document
    * frequency. Returns (phrase, df), phrase space-joined.
    *
    * Scale shape — two passes over one `shingle_pairs` kernel:
    *   1. df per 64-bit shingle hash: the exchange carries (hash, count)
    *      rows only, never phrase text; map-side partial aggregation
    *      collapses each partition to its distinct hashes.
    *   2. winner-text recovery: winners are BOUNDED by construction —
    *      Σ df ≤ total shingle occurrences S, so |winners| ≤ S/(ratio·N)
    *      = avg shingles-per-doc / ratio, corpus-size-independent — and
    *      broadcast; the join prunes map-side, so phrase strings shuffle
    *      only for winner hashes (≤ |winners| rows per map task after
    *      partial min aggregation).
    * Computing both hash and text in ONE kernel guarantees the recovery
    * pairing is exact; df on hashes equals df on phrases modulo 64-bit
    * collisions. */
  def boilerplatePhrases(corpus: DataFrame, n: Int = 3, minDfRatio: Double = 0.05): DataFrame = {
    val pairs = corpus.select(col("doc_id"),
      // U+001F is the kernel's token separator: normalize it to a token
      // boundary up front so no token can contain it — phrase recovery and
      // the hash stream stay unambiguous
      explode(shinglePairs(
        split(lower(translate(col("text"), "\u001f", " ")), "\\s+"), n)).as("p"))
    val dfh = pairs.select(col("p.h").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ndocs = corpus.agg(count(lit(1)).as("n_docs"))
    val winners = dfh.crossJoin(broadcast(ndocs))
      .filter(col("df") >= ceil(lit(minDfRatio) * col("n_docs")))
      .select(col("h"), col("df"))
    pairs.select(col("p.h").as("h"), col("p.t").as("t"))
      .join(broadcast(winners), "h")
      .groupBy(col("h"), col("df"))
      .agg(min(col("t")).as("t"))
      .select(translate(col("t"), "\u001f", " ").as("phrase"), col("df"))
  }

  /** Corpus VOCABULARY head — the token-level census a tokenizer-training
    * / coverage-analysis pass starts from: the `topN` most frequent
    * tokens with term frequency, document frequency, rank, and the
    * cumulative fraction of ALL corpus token occurrences the head covers
    * so far (the "how much does a k-entry vocab cover" curve).
    *
    * Scale shape — the t11 winner-recovery discipline at token level:
    * tf/df aggregate on 64-bit `xxhash64` keys (map-side combined; df
    * from a pre-distinct (hash, doc_id) projection, never a
    * distinct-aggregate exchange); the winner set is cut at the topN-th
    * largest tf and recovered to strings through a broadcast-filtered
    * semi-join, so token text shuffles only for winners. Under tf TIES
    * at the boundary the winner set takes every tied hash and the final
    * rank orders on (tf desc, token) AFTER recovery — hash order never
    * decides who makes the cut, keeping the result content-deterministic
    * (and oracle-replayable). The rank/coverage window runs over ≤
    * topN + ties rows — bounded, single partition by design. */
  /** BPE MERGE TRAINING — the tokenizer-training step of a data
    * pipeline: learn the top-`merges` byte-pair-encoding merges from the
    * corpus. Words (lowercased, whitespace-split) collapse to a DISTINCT
    * (word → corpus frequency) relation in ONE corpus-sized pass — the
    * standard trick that makes BPE training frequency-weighted without
    * ever iterating the corpus — then each round counts adjacent symbol
    * pairs over that bounded-vocabulary relation (frequencies weighted,
    * overlaps included), picks the argmax under the deterministic
    * (freq DESC, a ASC, b ASC) order, and applies the merge greedily
    * left-to-right via the codegen'd [[graft.functions.MergePair]]
    * kernel (a freshly merged symbol never re-matches as the left side:
    * a||b is strictly longer than a).
    *
    * Returns the merge table (rank, a, b, freq). The per-round argmax is
    * a 1-row driver action and the pair values bind into the next
    * round's plan through a builder closure (the PartitionOffsetId
    * convention — symbols are data, never SQL text), so `merges` bounded
    * driver rows total, the seed-collect discipline.
    *
    * At 100 TB the only corpus-sized work is the word count. The rounds
    * are INCREMENTAL (the standard delta formulation): a running
    * (a, b, freq) pair-count relation is built once from the census, and
    * each round's merge recounts ONLY the words that actually contain
    * the merged pair — their pre-merge pairs enter with weight -freq,
    * their post-merge pairs with +freq, and the delta folds into the
    * running relation. A round's shuffle is therefore ∝ words containing
    * the merged pair (falling with merge rank), not the full vocabulary;
    * the only full-vocabulary work per round is the narrow, exchange-free
    * [[graft.functions.MergePair]] rewrite that keeps the checkpointed
    * symbol relation current. */
  def bpeMerges(corpus: DataFrame, merges: Int = 8): DataFrame = {
    require(merges > 0, "need merges > 0")
    val s = corpus.sparkSession
    val words = bpeWordCensus(corpus).localCheckpoint() // the ONLY corpus-sized pass

    // adjacent symbol pairs of `c`, each carrying `w` — the codegen'd
    // AdjacentPairs kernel (empty below 2 symbols), value-identical to
    // the CASE/transform/struct SQL spelling it replaces (the HOF
    // spelling was CodegenFallback — the r17 t20 interpreted-Generate
    // class; parity pinned in KernelParitySpec)
    def weightedPairs(c: Column, w: Column): Column = adjacentPairs(c, w.cast("bigint"))

    def pairCountsOf(df: DataFrame, pairs: Column): DataFrame = df
      .select(explode(pairs).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("p.w")).as("freq"))

    var cur = words
    // LAZY checkpoints throughout the loop: each round's argmax collect
    // is then the ONLY job — it materializes the previous round's vocab
    // rewrite, the delta recount, and the new counts in one shot (the
    // eager spelling paid three scheduled jobs per round, a fixed floor
    // that dominated small-k training); the checkpoint still truncates
    // lineage so analysis stays O(1) per round
    var pairCounts =
      pairCountsOf(words, weightedPairs(col("syms"), col("freq"))).localCheckpoint(false)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      // BATCHED rounds: the per-round fixed floor (argmax job + vocab
      // rewrite + checkpoint + driver scheduling) dominates small-k
      // training, so each outer iteration claims the longest PREFIX of
      // the current top-T pairs that is provably sequential-equivalent,
      // and applies the whole batch in one MergeAll pass. A prefix
      // p_1..p_m (freq DESC, a, b order) equals the sequential picks iff
      //   (1) symbol-disjoint: no p_j shares a symbol with an earlier
      //       batch member or its merged string — so no earlier merge
      //       changes p_j's own count or overlaps its occurrences;
      //   (2) dominance: freq(p_j) strictly exceeds every count a prior
      //       member's merge can CREATE — a created pair (x, a_i·b_i)
      //       inherits at most the count of (x, a_i), and (a_i·b_i, y)
      //       at most (b_i, y), so the ceiling U_i is the max freq among
      //       collected pairs adjacent to p_i, floored by the T-th
      //       largest freq (anything uncollected is ≤ that); chained
      //       creation stays under max U_i by induction;
      //   (3) no merged string a_i·b_i already EXISTS as a symbol —
      //       otherwise the merge would INCREMENT existing pairs
      //       involving it past the U_i bound (checked with one bounded
      //       job per batch; the first member is exempt — it is the true
      //       argmax no matter what).
      val topT = 32
      val top = pairCounts
        .filter(col("freq") > 0)
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(topT).collect()
        .map(t => (t.getString(0), t.getString(1), t.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val fT = if (top.length == topT) top.last._3 else 0L
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var maxU = Long.MinValue
        var usedSyms = Set.empty[String]
        var mergedStrs = Set.empty[String]
        var stop = false
        var idx = 0
        val remaining = merges - r + 1
        while (!stop && idx < top.length && batch.length < remaining) {
          val (a, b, f) = top(idx)
          val m = a + b
          val disjoint =
            !usedSyms.contains(a) && !usedSyms.contains(b) &&
              !mergedStrs.contains(a) && !mergedStrs.contains(b) &&
              !usedSyms.contains(m) && !mergedStrs.contains(m)
          if (batch.isEmpty || (disjoint && f > maxU)) {
            batch += ((a, b, f))
            val adj = top.collect { case (x, y, g) if y == a || x == b => g }
            maxU = math.max(maxU, math.max(fT, if (adj.isEmpty) fT else adj.max))
            usedSyms ++= Set(a, b)
            mergedStrs += m
            idx += 1
          } else stop = true
        }
        if (batch.length > 1) {
          // condition (3): bounded probe (≤ batch-size distinct symbols)
          val ss = batch.map(t => t._1 + t._2).toSeq
          val present = pairCounts.select(col("a").as("s"))
            .union(pairCounts.select(col("b").as("s")))
            .filter(col("s").isin(ss: _*)).distinct()
            .collect().map(_.getString(0)).toSet
          val cut = batch.indexWhere(t => present.contains(t._1 + t._2))
          if (cut >= 0) batch.remove(math.max(cut, 1), batch.length - math.max(cut, 1))
        }
        if (sys.props.contains("graft.bpe.debug"))
          println(s"[bpe] round r=$r batch=${batch.length} " +
            batch.map(t => t._1 + "+" + t._2).mkString(","))
        batch.zipWithIndex.foreach { case ((a, b, f), i) => out += ((r + i, a, b, f)) }
        // the final batch needs no application — nothing reads it
        if (r + batch.length - 1 < merges) {
          // the expression closes over this batch, so concurrent
          // trainers cannot see each other's merges
          val applied = mergeAll(col("syms"), batch.map(t => (t._1, t._2)).toSeq)
          val staged = cur
            .withColumn("merged", applied)
            .localCheckpoint(false) // narrow full-vocab rewrite, no exchange
          // words the batch touched: old pairs out (-freq), new pairs in
          // (+freq) — everything else's counts are already right
          val affected = staged.filter(col("merged") =!= col("syms"))
          val delta = pairCountsOf(affected,
            concat(weightedPairs(col("syms"), -col("freq")),
              weightedPairs(col("merged"), col("freq"))))
          pairCounts = pairCounts.unionByName(delta)
            .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("freq"))
            .filter(col("freq") > 0)
            .localCheckpoint(false)
          cur = staged.select(col("freq"), col("merged").as("syms"))
        }
        r += batch.length
      }
    }
    import s.implicits._
    out.result().toDF("rank", "a", "b", "freq")
  }

  /** The shared (word → corpus frequency, symbol array) census both BPE
    * operators start from. A literal 0x1F byte (the oracle fold's join byte)
    * in document text is normalized to a space BEFORE word-splitting —
    * mirrored in the oracle's census CTE — so the DuckDB list_reduce
    * replay can never confuse a data byte for its accumulator joint. */
  private def bpeWordCensus(corpus: DataFrame): DataFrame = bpeWordFreqs(corpus)
    .withColumn("syms", codePoints(col("word")))
    .select(col("freq"), col("syms"))

  /** PRODUCTION-DEPTH BPE training: the capped-census driver-side
    * trainer. [[bpeMerges]] runs every round as Spark jobs — the right
    * shape when the vocabulary relation is too large to hold, but each
    * round pays a fixed scheduling floor (~0.1 s at any SF), so a real
    * tokenizer depth (k in the thousands) costs hours of pure driver/job
    * overhead over a vocabulary that is usually tiny. This trainer is
    * the standard production spelling instead: ONE corpus-sized pass
    * builds the word census, the top-`vocabCap` words by
    * (freq DESC, word) collect as a bounded artifact (≤ vocabCap rows —
    * the same bounded-collect discipline as the merge table itself), and
    * the merge rounds run in memory over that census in microseconds per
    * round. Training on a frequency-capped census is how practical BPE
    * trainers work (tail words contribute ~nothing to pair counts); with
    * `vocabCap` ≥ the corpus vocabulary the result is EXACTLY
    * [[bpeMerges]] — the sequential (freq DESC, a, b) argmax and greedy
    * left-to-right fold, property-swept equal in OperatorPropertySpec.
    *
    * Returns (rank, a, b, freq) tuples; stops early when pairs exhaust
    * (every census word a single token), so `merges` past the corpus's
    * trainable depth returns the full table. */
  def bpeTrainDriver(corpus: DataFrame, merges: Int,
      vocabCap: Int = 65536): Seq[(Int, String, String, Long)] = {
    require(merges > 0, "need merges > 0")
    require(vocabCap > 0, "need vocabCap > 0")
    trainFromCensus(collectCensus(corpus, vocabCap), merges)
  }

  /** The driver-held TOKENIZER ARTIFACT: merge table plus — when the
    * census collect was NOT cap-truncated, i.e. the census provably holds
    * every distinct corpus word — the training ALPHABET derived from that
    * same collect. Threading the alphabet into [[bpeVocab]] (via
    * [[bpeTokenIds]] / Packing's tape builders) deletes the vocab's own
    * alphabet corpus pass + collect job (guide §1.2 "don't compute things
    * you throw away": the census already saw every character). When the
    * cap binds, `alphabet` is None and [[bpeVocab]] falls back to its own
    * distributed pass — capped semantics unchanged. */
  final case class BpeTokenizer(merges: Seq[(String, String)], alphabet: Option[Seq[String]])

  /** [[bpeTrainDriver]] + the census-derived alphabet in ONE census
    * collect — the entry point for every vocab-consuming composition
    * (t20/t23 id streams, p24/p25 tapes). */
  def bpeTrainTokenizer(corpus: DataFrame, merges: Int,
      vocabCap: Int = 65536): BpeTokenizer = {
    require(merges > 0, "need merges > 0")
    require(vocabCap > 0, "need vocabCap > 0")
    val census = collectCensus(corpus, vocabCap)
    val table = trainFromCensus(census, merges).map(t => (t._2, t._3))
    // length == vocabCap cannot distinguish "exactly cap words" from
    // truncation — treat as truncated (the always-correct fallback)
    val alphabet =
      if (census.length >= vocabCap) None
      else Some(census.iterator.flatMap(c => codePointsOf(c._1))
        .toSet.toSeq.sortWith(utf8Less))
    BpeTokenizer(table, alphabet)
  }

  /** The bounded (word, freq) census collect both driver trainers share:
    * top `vocabCap` words by (freq DESC, word). */
  private def collectCensus(corpus: DataFrame, vocabCap: Int): Array[(String, Long)] =
    bpeWordFreqs(corpus)
      .orderBy(col("freq").desc, col("word"))
      .limit(vocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  private def trainFromCensus(census: Array[(String, Long)],
      merges: Int): Seq[(Int, String, String, Long)] = {
    val words: Array[scala.collection.mutable.ArrayBuffer[String]] =
      census.map { case (w, _) =>
        scala.collection.mutable.ArrayBuffer.from(codePointsOf(w))
      }
    val freqs: Array[Long] = census.map(_._2)
    val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def addPairs(ss: scala.collection.mutable.ArrayBuffer[String], f: Long): Unit = {
      var i = 0
      while (i < ss.length - 1) {
        val k = (ss(i), ss(i + 1))
        pairCounts.update(k, pairCounts.getOrElse(k, 0L) + f)
        i += 1
      }
    }
    words.indices.foreach(i => addPairs(words(i), freqs(i)))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      pairCounts.filterInPlace((_, f) => f > 0L)
      if (pairCounts.isEmpty) done = true
      else {
        // argmax under the sequential trainer's (freq DESC, a ASC, b ASC);
        // string comparisons are UTF-8 BINARY (utf8Less) — Spark's orderBy
        // and DuckDB's ORDER BY compare code points, and Java's UTF-16
        // `<` diverges from both on supplementary-vs-[U+E000,U+FFFF] ties
        var bk: (String, String) = null
        var bf = 0L
        pairCounts.foreach { case (k, f) =>
          if (bk == null || f > bf || (f == bf &&
              (utf8Less(k._1, bk._1) ||
                (k._1 == bk._1 && utf8Less(k._2, bk._2))))) {
            bk = k; bf = f
          }
        }
        val (a, b) = bk
        val ab = a + b
        out += ((r, a, b, bf))
        // delta recount: only words containing the adjacent pair change
        words.indices.foreach { i =>
          val ss = words(i)
          var j = 0
          var hit = false
          while (!hit && j < ss.length - 1) {
            if (ss(j) == a && ss(j + 1) == b) hit = true else j += 1
          }
          if (hit) {
            addPairs(ss, -freqs(i))
            // greedy left-to-right, the merged token never re-matching as
            // the left side within the round (|ab| > |a|) — the MergePair
            // fold's semantics
            var iR = 0
            var iW = 0
            while (iR < ss.length) {
              if (iR + 1 < ss.length && ss(iR) == a && ss(iR + 1) == b) {
                ss(iW) = ab; iR += 2
              } else { ss(iW) = ss(iR); iR += 1 }
              iW += 1
            }
            ss.takeInPlace(iW)
            addPairs(ss, freqs(i))
          }
        }
        r += 1
      }
    }
    out.result()
  }

  /** One string per Unicode CODE POINT — the symbol unit Spark's
    * substring/length use; splitting by UTF-16 code unit would turn
    * supplementary characters (emoji) into lone-surrogate symbols the
    * distributed trainer and the oracle never produce. */
  private def codePointsOf(w: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** UTF-8 binary string order — what Spark's UTF8String comparisons and
    * DuckDB's default collation both implement (equivalent to code-point
    * order). */
  private def utf8Less(a: String, b: String): Boolean = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val d = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    ab.length < bb.length
  }

  /** [[bpeTrainDriver]]'s merge table as a relation (rank, a, b, freq) —
    * the schema [[bpeMerges]] produces. */
  def bpeMergesDriver(corpus: DataFrame, merges: Int,
      vocabCap: Int = 65536): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    bpeTrainDriver(corpus, merges, vocabCap).toDF("rank", "a", "b", "freq")
  }

  /** CORPUS-LEVEL DIVERSITY report — the dashboard row a data curator
    * reads before and after every dedup/selection pass: for each n-gram
    * order 1..`maxN`, the total and distinct gram counts, the
    * distinct ratio (the self-repetition complement — falling ratio =
    * the corpus is eating its own tail), the Shannon entropy of the
    * gram distribution (nats, computed as ln(T) − Σc·ln(c)/T so one
    * aggregate pass suffices — no broadcast-back of the total), and the
    * entropy normalized by its ln(distinct) maximum.
    *
    * Scale shape: one corpus-linear explode + hash aggregate per order
    * (map-side combined), then a second aggregate over the census —
    * distributed end to end, no driver collect; output is `maxN` rows. */
  def corpusDiversity(corpus: DataFrame, maxN: Int = 3): DataFrame = {
    require(maxN >= 1, "need maxN >= 1")
    // array_remove ≡ filter(x -> x <> '') here (split yields no nulls)
    // and stays inside whole-stage codegen where the filter HOF fell back
    val toks = corpus.select(
      array_remove(split(lower(col("text")), "\\s+"), "").as("tk"))
    val perN = (1 to maxN).map { n =>
      val grams =
        if (n == 1) toks.select(explode(col("tk")).as("g"))
        else toks.select(explode(ngramJoin(col("tk"), n)).as("g"))
      grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("slc"))
        .select(lit(n).as("n"), col("total_ngrams"), col("distinct_ngrams"), col("slc"))
    }
    perN.reduce(_.unionByName(_))
      .select(col("n"), col("total_ngrams"), col("distinct_ngrams"),
        stableRound(col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double"), 4).as("distinct_ratio"),
        stableRound(log(col("total_ngrams").cast("double")) -
          col("slc") / col("total_ngrams").cast("double"), 4).as("entropy"),
        stableRound(
          when(col("distinct_ngrams") > 1,
            (log(col("total_ngrams").cast("double")) -
              col("slc") / col("total_ngrams").cast("double")) /
              log(col("distinct_ngrams").cast("double")))
            .otherwise(lit(0.0)), 4).as("norm_entropy"))
      .orderBy(col("n"))
  }

  /** [[corpusDiversity]]'s oracle: the same census-and-entropy algebra
    * per order, ln(T) − Σc·ln(c)/T replayed verbatim. */
  private[operators] def corpusDiversitySql(maxN: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += "tk AS (SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk FROM documents)"
    (1 to maxN).foreach { n =>
      val grams =
        if (n == 1) "unnest(tk)"
        else s"unnest(CASE WHEN len(tk) < $n THEN CAST([] AS VARCHAR[]) " +
          s"ELSE list_transform(range(1, len(tk) - ${n - 2}), " +
          s"i -> array_to_string(tk[i:i+${n - 1}], ' ')) END)"
      parts += s"g$n AS (SELECT $grams AS g FROM tk)"
      parts += s"c$n AS (SELECT g, count(*) AS c FROM g$n GROUP BY g)"
      parts += s"a$n AS (SELECT $n AS n, CAST(sum(c) AS BIGINT) AS total_ngrams, " +
        s"CAST(count(*) AS BIGINT) AS distinct_ngrams, " +
        s"sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slc FROM c$n)"
    }
    val union = (1 to maxN).map(n => s"SELECT * FROM a$n").mkString(" UNION ALL ")
    s"WITH ${parts.result().mkString(", ")} " +
      "SELECT n, total_ngrams, distinct_ngrams, " +
      stableRoundSql("CAST(distinct_ngrams AS DOUBLE) / total_ngrams", 4) + " AS distinct_ratio, " +
      stableRoundSql("ln(CAST(total_ngrams AS DOUBLE)) - slc / total_ngrams", 4) + " AS entropy, " +
      stableRoundSql(
        "CASE WHEN distinct_ngrams > 1 THEN (ln(CAST(total_ngrams AS DOUBLE)) - slc / total_ngrams) / ln(CAST(distinct_ngrams AS DOUBLE)) ELSE 0.0 END",
        4) + " AS norm_entropy " +
      s"FROM ($union) ORDER BY n"
  }

  /** THE word-splitting rule every BPE entry point shares — lowercase,
    * 0x1F-to-space normalization (the oracle fold's join byte must never
    * occur inside a token), whitespace split. One definition so census,
    * encode, token stream, and vocabulary can never diverge. */
  private def bpeSplitCol: Column =
    split(translate(lower(col("text")), "\u001f", " "), "\\s+")

  /** The (word → corpus frequency) relation both BPE trainers start
    * from — the ONLY corpus-sized pass of tokenizer training. */
  private def bpeWordFreqs(corpus: DataFrame): DataFrame = corpus
    .select(explode(bpeSplitCol).as("word"))
    .filter(col("word") =!= "")
    .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** BPE ENCODE — apply a learned merge table (rank order, greedy
    * left-to-right per round — the [[graft.functions.MergeAll]] kernel)
    * and report per-document tokenizer stats: word count, post-merge
    * token count, and FERTILITY (tokens per word — the standard
    * tokenizer-quality measure; 1.0 = every word one token).
    *
    * Scale shape: a PURE NARROW pass — words explode where the text
    * lives, each word's symbol array folds through the k merges inside
    * codegen, and the per-doc aggregate map-side-combines to one
    * (doc_id, 2 longs) row per partition before the only exchange. The
    * merge table is constructor data (k entries, driver-held — the
    * bounded artifact [[bpeMerges]] produces). */
  def bpeEncode(corpus: DataFrame, mergeTable: Seq[(String, String)]): DataFrame = {
    // the expression closes over THIS merge table, so two concurrent
    // encodes on one session cannot bind each other's tables
    val applied = mergeAll(codePoints(col("word")), mergeTable)
    corpus
      .select(col("doc_id"),
        // the same 0x1F-to-space normalization as the census (the two
        // sides must split words identically for the merge table to bind)
        explode(bpeSplitCol).as("word"))
      .filter(col("word") =!= "")
      .withColumn("n_toks", size(applied).cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("fertility",
        stableRound(col("n_tokens").cast("double") / col("n_words"), 4))
  }

  /** BPE TOKENIZE — the token-STREAM spelling of [[bpeEncode]]: the
    * actual post-merge tokens in document order, as (doc_id, word_idx,
    * tok_idx, token) with 1-based indices — what sequence packing and
    * vocabulary-id mapping consume ([[bpeEncode]] reports only the
    * per-doc stats). `word_idx` enumerates the raw whitespace split
    * BEFORE the empty-word filter so both engines agree on leading-
    * whitespace documents.
    *
    * Scale shape: the same PURE NARROW pass as the encode — words
    * explode where the text lives, the codegen'd MergeAll fold emits
    * each word's token array in place, and the second posexplode is
    * narrow too: NO shuffle anywhere (ordering is the composite
    * (doc_id, word_idx, tok_idx) key, not a window). */
  def bpeTokens(corpus: DataFrame, mergeTable: Seq[(String, String)]): DataFrame = {
    // closes over THIS merge table — see bpeEncode
    val applied = mergeAll(codePoints(col("word")), mergeTable)
    corpus
      .select(col("doc_id"),
        posexplode(bpeSplitCol)
          .as(Seq("wp", "word")))
      .withColumn("word_idx", (col("wp") + 1).cast("bigint"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), col("word_idx"),
        posexplode(applied).as(Seq("tp", "token")))
      .select(col("doc_id"), col("word_idx"),
        (col("tp") + 1).cast("bigint").as("tok_idx"), col("token"))
  }

  /** [[bpeTokens]]' oracle: replay the k-round chain, key each word's
    * final symbol array by word, and re-enumerate both levels with the
    * same 1-based indices. */
  private[operators] def bpeTokensSql(merges: Int): String =
    s"WITH ${bpeChainSql(merges)}, " +
      "dw AS (SELECT doc_id, u.i AS word_idx, u.w AS word FROM " +
      "(SELECT doc_id, unnest(list_transform(range(1, len(l)+1), i -> {'i': i, 'w': l[i]})) AS u FROM " +
      "(SELECT doc_id, string_split_regex(replace(lower(text), chr(31), ' '), '\\s+') AS l FROM documents))), " +
      s"enc AS (SELECT word, syms FROM s$merges), " +
      "outp AS (SELECT doc_id, word_idx, t.i AS tok_idx, t.tok AS token FROM " +
      "(SELECT doc_id, word_idx, unnest(list_transform(range(1, len(syms)+1), i -> {'i': i, 'tok': syms[i]})) AS t " +
      "FROM (SELECT * FROM dw WHERE word <> '') JOIN enc USING (word))) " +
      "SELECT doc_id, CAST(word_idx AS BIGINT) AS word_idx, " +
      "CAST(tok_idx AS BIGINT) AS tok_idx, token FROM outp " +
      "ORDER BY doc_id, word_idx, tok_idx"

  /** The BPE VOCABULARY a (corpus, merge table) pair induces — the
    * GPT-2-style id space: the corpus's base character alphabet
    * (sorted, binary order) takes ids 0..|A|-1, merge outputs take the
    * following ids in rank order; a merge whose string already exists
    * keeps its first id (dedup keep-first), so ids stay dense. The
    * alphabet collect is bounded (distinct characters). */
  def bpeVocab(corpus: DataFrame, mergeTable: Seq[(String, String)],
      alphabet: Option[Seq[String]] = None): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    // the caller-supplied census alphabet (see [[BpeTokenizer]]) skips
    // this corpus pass entirely; the fallback is one pass whose
    // distinct's map-side partial aggregation collapses to
    // ~alphabet-size rows before the only (tiny) exchange
    val alpha: Seq[String] = alphabet.getOrElse {
      corpus
        .select(explode(bpeSplitCol).as("word"))
        .filter(col("word") =!= "")
        .select(explode(codePoints(col("word"))).as("c"))
        .distinct().orderBy(col("c")).collect().map(_.getString(0)).toSeq
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    alpha.foreach(seen += _)
    mergeTable.foreach { case (a, b) => seen += (a + b) }
    seen.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("token_id", "token")
  }

  /** [[bpeTokens]] mapped through [[bpeVocab]] — the id STREAM a
    * training run consumes: (doc_id, word_idx, tok_idx, token_id).
    * The vocabulary (alphabet + k merges — bounded model metadata)
    * broadcasts to the stream join; every stream token is in-vocab by
    * construction when corpus and vocab share the alphabet (tokens are
    * single corpus characters or merge outputs). Tokenizing a FOREIGN
    * corpus against this vocab drops unknown-alphabet tokens at the
    * join — map them to an explicit UNK id upstream if needed. */
  def bpeTokenIds(corpus: DataFrame, mergeTable: Seq[(String, String)],
      alphabet: Option[Seq[String]] = None): DataFrame =
    bpeTokens(corpus, mergeTable)
      .join(broadcast(bpeVocab(corpus, mergeTable, alphabet)), Seq("token"))
      .select(col("doc_id"), col("word_idx"), col("tok_idx"), col("token_id"))

  /** FOREIGN-corpus id stream: tokenize `corpus` under a tokenizer
    * trained on `vocabCorpus` (its merge table AND its id space) and map
    * every out-of-vocabulary token — any token containing a character
    * absent from the TRAINING alphabet — to the explicit UNK id
    * = |vocab| (the first id past the dense vocabulary, the standard
    * special-token slot). [[bpeTokenIds]]'s inner join silently DROPS
    * such tokens, which corrupts positional structure (tok_idx gaps)
    * exactly when encoding the corpora a deployed tokenizer actually
    * meets; this spelling keeps the stream total and the loss explicit.
    *
    * Scale shape identical to [[bpeTokenIds]]: the narrow double-explode
    * plus a broadcast LEFT join against the bounded vocabulary (a
    * LocalRelation — alphabet + k merges); the UNK id is one literal. */
  def bpeTokenIdsAgainst(corpus: DataFrame, vocabCorpus: DataFrame,
      mergeTable: Seq[(String, String)],
      alphabet: Option[Seq[String]] = None): DataFrame = {
    val vocab = bpeVocab(vocabCorpus, mergeTable, alphabet)
    val unkId = vocab.count() // LocalRelation — a driver-side size read
    bpeTokens(corpus, mergeTable)
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("word_idx"), col("tok_idx"),
        coalesce(col("token_id"), lit(unkId)).as("token_id"))
  }

  /** The CTE chain producing the id-stream relation `ids(doc_id,
    * word_idx, tok_idx, token_id)` over `documents` — shared by
    * [[bpeTokenIdsSql]] (t20) and Packing's packed-tape oracle (p24),
    * so the two gates can never drift. */
  private[operators] def bpeIdStreamCtes(merges: Int): String = {
    val mergeUnion = (1 to merges)
      .map(r => s"SELECT $r AS rank, ab FROM m$r").mkString(" UNION ALL ")
    s"${bpeChainSql(merges)}, " +
      "alpha AS (SELECT DISTINCT c AS token FROM (SELECT unnest(syms) AS c FROM s0)), " +
      "entries AS (SELECT token, 0 AS grp, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS pos FROM alpha " +
      s"UNION ALL SELECT ab AS token, 1 AS grp, CAST(rank AS BIGINT) AS pos FROM ($mergeUnion)), " +
      "firsted AS (SELECT token, grp, pos, row_number() OVER (PARTITION BY token ORDER BY grp, pos) AS dup FROM entries), " +
      "vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY grp, pos) - 1 AS BIGINT) AS token_id FROM firsted WHERE dup = 1), " +
      "dw AS (SELECT doc_id, u.i AS word_idx, u.w AS word FROM " +
      "(SELECT doc_id, unnest(list_transform(range(1, len(l)+1), i -> {'i': i, 'w': l[i]})) AS u FROM " +
      "(SELECT doc_id, string_split_regex(replace(lower(text), chr(31), ' '), '\\s+') AS l FROM documents))), " +
      s"enc AS (SELECT word, syms FROM s$merges), " +
      "outp AS (SELECT doc_id, word_idx, t.i AS tok_idx, t.tok AS token FROM " +
      "(SELECT doc_id, word_idx, unnest(list_transform(range(1, len(syms)+1), i -> {'i': i, 'tok': syms[i]})) AS t " +
      "FROM (SELECT * FROM dw WHERE word <> '') JOIN enc USING (word))), " +
      "ids AS (SELECT doc_id, CAST(word_idx AS BIGINT) AS word_idx, " +
      "CAST(tok_idx AS BIGINT) AS tok_idx, token_id FROM outp JOIN vocab USING (token))"
  }

  /** [[bpeTokenIds]]' oracle: the t19 token-stream chain joined to a
    * vocabulary CTE that replays the (alphabet-sorted, then merges by
    * rank, dedup keep-first, dense ids) assignment. */
  private[operators] def bpeTokenIdsSql(merges: Int): String =
    s"WITH ${bpeIdStreamCtes(merges)} " +
      "SELECT doc_id, word_idx, tok_idx, token_id FROM ids " +
      "ORDER BY doc_id, word_idx, tok_idx"

  /** The CTE chain producing the FOREIGN-corpus id-stream relation
    * `ids(doc_id, word_idx, tok_idx, token_id)` under a FROZEN
    * tokenizer: the t20 chain trains on `documents` (censuses, merge
    * picks, vocabulary), while a SECOND rewrite sequence
    * (fb0..fb`merges`) folds the FOREIGN corpus's distinct words
    * through the SAME per-round picks; the id join is LEFT and
    * out-of-vocabulary tokens resolve to |vocab| (the UNK id). The
    * foreign corpus is the held-out %10 slice with a planted word
    * carrying a character outside the training alphabet. Shared by
    * [[bpeTokenIdsUnkSql]] (t23) and Packing's frozen-tokenizer
    * packed-tape oracle (p25), so the two gates can never drift. */
  private[operators] def bpeUnkIdStreamCtes(merges: Int): String = {
    def fold(m: String): String =
      "string_split(list_reduce(syms, (acc, x) -> " +
        s"CASE WHEN x = $m.b AND (acc = $m.a OR suffix(acc, chr(31) || $m.a)) " +
        s"THEN left(acc, length(acc) - length($m.a)) || $m.ab " +
        "ELSE acc || chr(31) || x END), chr(31))"
    val mergeUnion = (1 to merges)
      .map(r => s"SELECT $r AS rank, ab FROM m$r").mkString(" UNION ALL ")
    val foreignStages = (1 to merges).map { r =>
      s"fb$r AS (SELECT fb${r - 1}.word AS word, ${fold(s"m$r")} AS syms " +
        s"FROM fb${r - 1}, m$r)"
    }.mkString(", ")
    s"${bpeChainSql(merges)}, " +
      "alpha AS (SELECT DISTINCT c AS token FROM (SELECT unnest(syms) AS c FROM s0)), " +
      "entries AS (SELECT token, 0 AS grp, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS pos FROM alpha " +
      s"UNION ALL SELECT ab AS token, 1 AS grp, CAST(rank AS BIGINT) AS pos FROM ($mergeUnion)), " +
      "firsted AS (SELECT token, grp, pos, row_number() OVER (PARTITION BY token ORDER BY grp, pos) AS dup FROM entries), " +
      "vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY grp, pos) - 1 AS BIGINT) AS token_id FROM firsted WHERE dup = 1), " +
      "unk AS (SELECT CAST(count(*) AS BIGINT) AS uid FROM vocab), " +
      "fsrc AS (SELECT doc_id + 3000000 AS doc_id, text || ' q¤x' AS text FROM documents WHERE doc_id % 10 = 0), " +
      "fdw AS (SELECT doc_id, u.i AS word_idx, u.w AS word FROM " +
      "(SELECT doc_id, unnest(list_transform(range(1, len(l)+1), i -> {'i': i, 'w': l[i]})) AS u FROM " +
      "(SELECT doc_id, string_split_regex(replace(lower(text), chr(31), ' '), '\\s+') AS l FROM fsrc))), " +
      "fb0 AS (SELECT word, list_transform(range(1, length(word)+1), i -> word[i]) AS syms " +
      "FROM (SELECT DISTINCT word FROM fdw WHERE word <> '')), " +
      s"$foreignStages, " +
      s"fenc AS (SELECT word, syms FROM fb$merges), " +
      "outp AS (SELECT doc_id, word_idx, t.i AS tok_idx, t.tok AS token FROM " +
      "(SELECT doc_id, word_idx, unnest(list_transform(range(1, len(syms)+1), i -> {'i': i, 'tok': syms[i]})) AS t " +
      "FROM (SELECT * FROM fdw WHERE word <> '') JOIN fenc USING (word))), " +
      "ids AS (SELECT doc_id, CAST(word_idx AS BIGINT) AS word_idx, " +
      "CAST(tok_idx AS BIGINT) AS tok_idx, coalesce(token_id, uid) AS token_id " +
      "FROM outp LEFT JOIN vocab USING (token) CROSS JOIN unk)"
  }

  /** [[bpeTokenIdsAgainst]]'s oracle (t23): the shared foreign-corpus
    * UNK id-stream chain, emitted in stream order. */
  private[operators] def bpeTokenIdsUnkSql(merges: Int): String =
    s"WITH ${bpeUnkIdStreamCtes(merges)} " +
      "SELECT doc_id, word_idx, tok_idx, token_id FROM ids " +
      "ORDER BY doc_id, word_idx, tok_idx"

  /** The identical `merges`-round chain spelled as DuckDB CTEs: the
    * oracle replays the word census, the pair count, the argmax tie
    * order, and the greedy fold (list_reduce over a \x1f-joined
    * accumulator — safe because a||b can never equal a, so a merged
    * token never re-matches as the left side). */
  private def bpeChainSql(merges: Int): String = {
    def fold(m: String): String =
      "string_split(list_reduce(syms, (acc, x) -> " +
        s"CASE WHEN x = $m.b AND (acc = $m.a OR suffix(acc, chr(31) || $m.a)) " +
        s"THEN left(acc, length(acc) - length($m.a)) || $m.ab " +
        "ELSE acc || chr(31) || x END), chr(31))"
    val parts = Seq.newBuilder[String]
    // replace(.., chr(31), ' ') mirrors the Spark census: a literal 0x1F
    // byte in document text must never reach the fold's joined accumulator
    parts += "w AS (SELECT word, count(*) AS freq FROM " +
      "(SELECT unnest(string_split_regex(replace(lower(text), chr(31), ' '), '\\s+')) AS word FROM documents) " +
      "WHERE word <> '' GROUP BY 1)"
    parts += "s0 AS (SELECT word, freq, " +
      "list_transform(range(1, length(word)+1), i -> word[i]) AS syms FROM w)"
    (1 to merges).foreach { r =>
      val prev = s"s${r - 1}"
      parts += s"p$r AS (SELECT p.a AS a, p.b AS b, sum(freq) AS freq FROM " +
        "(SELECT freq, unnest(list_transform(range(1, len(syms)), " +
        s"i -> {'a': syms[i], 'b': syms[i+1]})) AS p FROM $prev) GROUP BY 1, 2)"
      parts += s"m$r AS (SELECT a, b, a || b AS ab, freq FROM p$r " +
        "ORDER BY freq DESC, a, b LIMIT 1)"
      parts += s"s$r AS (SELECT $prev.word AS word, $prev.freq AS freq, " +
        s"${fold(s"m$r")} AS syms FROM $prev, m$r)"
    }
    parts.result().mkString(", ")
  }

  private[operators] def bpeMergesSql(merges: Int): String = {
    val union = (1 to merges)
      .map(r => s"SELECT $r AS rank, a, b, CAST(freq AS BIGINT) AS freq FROM m$r")
      .mkString(" UNION ALL ")
    s"WITH ${bpeChainSql(merges)} SELECT * FROM ($union) ORDER BY rank"
  }

  /** [[bpeChainSql]]'s DEEP-DEPTH variant — the [[bpeTrainDriver]]
    * oracle. Two changes make a multi-hundred-round chain replayable:
    * every stage is MATERIALIZED (DuckDB may otherwise inline a
    * twice-referenced CTE, re-opening the base scan per reference — a
    * 768-CTE chain exhausts file handles), and each rewrite stage LEFT
    * JOINs its merge pick so the chain survives EXHAUSTION: once p_r is
    * empty (every census word a single token) m_r is empty, the NULL
    * guard passes syms through unchanged, and deeper stages replay the
    * fixed point instead of collapsing to an empty cross join. The
    * census CTE carries [[bpeTrainDriver]]'s (freq DESC, word) cap. */
  private def bpeDeepChainSql(merges: Int, vocabCap: Int): String = {
    def fold(m: String): String =
      "string_split(list_reduce(syms, (acc, x) -> " +
        s"CASE WHEN x = $m.b AND (acc = $m.a OR suffix(acc, chr(31) || $m.a)) " +
        s"THEN left(acc, length(acc) - length($m.a)) || $m.ab " +
        "ELSE acc || chr(31) || x END), chr(31))"
    val parts = Seq.newBuilder[String]
    // the cap binds TRAINING only (which words feed the pair counts,
    // the `capped` flag below); every census word — capped or not —
    // rides the rewrite stages, because the Spark side's bpeEncode
    // applies the learned table to the WHOLE corpus
    parts += "w AS MATERIALIZED (SELECT word, freq, " +
      s"(row_number() OVER (ORDER BY freq DESC, word)) <= $vocabCap AS capped " +
      "FROM (SELECT word, count(*) AS freq FROM " +
      "(SELECT unnest(string_split_regex(replace(lower(text), chr(31), ' '), '\\s+')) AS word FROM documents) " +
      "WHERE word <> '' GROUP BY 1))"
    parts += "s0 AS MATERIALIZED (SELECT word, freq, capped, " +
      "list_transform(range(1, length(word)+1), i -> word[i]) AS syms FROM w)"
    (1 to merges).foreach { r =>
      val prev = s"s${r - 1}"
      parts += s"p$r AS (SELECT p.a AS a, p.b AS b, sum(freq) AS freq FROM " +
        "(SELECT freq, unnest(list_transform(range(1, len(syms)), " +
        s"i -> {'a': syms[i], 'b': syms[i+1]})) AS p FROM $prev WHERE capped) GROUP BY 1, 2)"
      parts += s"m$r AS MATERIALIZED (SELECT a, b, a || b AS ab, freq FROM p$r " +
        "ORDER BY freq DESC, a, b LIMIT 1)"
      parts += s"s$r AS MATERIALIZED (SELECT $prev.word AS word, $prev.freq AS freq, " +
        s"$prev.capped AS capped, " +
        s"CASE WHEN m$r.a IS NULL THEN syms ELSE ${fold(s"m$r")} END AS syms " +
        s"FROM $prev LEFT JOIN m$r ON TRUE)"
    }
    parts.result().mkString(", ")
  }

  /** [[bpeTrainDriver]]+[[bpeEncode]]'s deep-depth oracle: replay the
    * capped-census chain to `merges` rounds (surviving exhaustion), then
    * aggregate per-doc token counts off the final stage. */
  private[operators] def bpeEncodeDeepSql(merges: Int, vocabCap: Int): String =
    s"WITH ${bpeDeepChainSql(merges, vocabCap)}, " +
      s"enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_toks FROM s$merges), " +
      "dw AS (SELECT doc_id, unnest(string_split_regex(replace(lower(text), chr(31), ' '), '\\s+')) AS word " +
      "FROM documents) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(n_toks) AS BIGINT) AS n_tokens, " +
      stableRoundSql("CAST(sum(n_toks) AS DOUBLE) / count(*)", 4) + " AS fertility " +
      "FROM (SELECT * FROM dw WHERE word <> '') JOIN enc USING (word) " +
      "GROUP BY doc_id ORDER BY doc_id"

  /** [[bpeEncode]]'s oracle: run the same chain, read each word's
    * post-merge token count off the final stage, aggregate per doc. */
  private[operators] def bpeEncodeSql(merges: Int): String =
    s"WITH ${bpeChainSql(merges)}, " +
      s"enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_toks FROM s$merges), " +
      "dw AS (SELECT doc_id, unnest(string_split_regex(replace(lower(text), chr(31), ' '), '\\s+')) AS word " +
      "FROM documents) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(n_toks) AS BIGINT) AS n_tokens, " +
      stableRoundSql("CAST(sum(n_toks) AS DOUBLE) / count(*)", 4) + " AS fertility " +
      "FROM (SELECT * FROM dw WHERE word <> '') JOIN enc USING (word) " +
      "GROUP BY doc_id ORDER BY doc_id"

  def vocabulary(corpus: DataFrame, topN: Int = 30): DataFrame = {
    val tok = corpus.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("token"))
      .withColumn("h", xxhash64(col("token")))
    val tf = tok.groupBy(col("h")).agg(count(lit(1)).as("tf"))
    val dfh = tok.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val totals = tf.agg(sum(col("tf")).cast("double").as("total_tf"))
    val cutoff = tf.orderBy(col("tf").desc).limit(topN).agg(min(col("tf")).as("cut"))
    val winners = tf.join(dfh, "h").crossJoin(broadcast(cutoff))
      .filter(col("tf") >= col("cut"))
    val rec = tok.select(col("h"), col("token"))
      .join(broadcast(winners.select(col("h"))), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(min(col("token")).as("token"))
    val ranked = winners.join(rec, "h")
      .withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("token"))))
      .filter(col("rank") <= topN)
    ranked.crossJoin(broadcast(totals))
      .withColumn("cover_frac",
        sum(col("tf")).over(Window.orderBy(col("rank"))).cast("double") / col("total_tf"))
      .select(col("rank"), col("token"), col("tf"), col("df"),
        OracleRound.stableRound(col("cover_frac"), 4).as("cover_frac"))
      .orderBy(col("rank"))
  }

  /** Pattern redaction — the scrubbing/normalization step of a training
    * pipeline: replaces every match of `pattern` with `replacement` and
    * reports the match count per doc. Single-pass projection. The
    * pattern rides as a Column literal, never interpolated SQL text, so
    * patterns containing quotes are plain data. */
  def redact(corpus: DataFrame, pattern: String, replacement: String): DataFrame =
    corpus.select(
      col("doc_id"),
      regexp_count(col("text"), lit(pattern)).cast("bigint").as("n_matches"),
      regexp_replace(col("text"), pattern, replacement).as("redacted"))

  /** Default PII pattern battery — the detection side of the scrubbing
    * pipeline [[redact]] closes: emails, NANP-style phone numbers,
    * dotted-quad IPv4 addresses, SSN-shaped ids. RE2-safe syntax (no
    * backreferences/lookaround), so the same patterns evaluate
    * identically under Spark's java.util.regex and DuckDB's RE2. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "emails" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phones" -> "\\b\\d{3}-\\d{3}-\\d{4}\\b",
    "ipv4s" -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b",
    "ssns" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b")

  /** PII / pattern AUDIT — per-document match counts for a named pattern
    * battery plus a `has_pii` verdict: the measurement pass a pipeline
    * runs BEFORE deciding what to [[redact]] (you audit a 100 TB corpus
    * first; rewriting it is the expensive step you only take where the
    * audit says so). Patterns ride as Column literals (quote-safe data,
    * never interpolated SQL). Single-pass projection — one codegen'd
    * regexp_count per pattern over the scan, no shuffle, no UDF. */
  def patternAudit(corpus: DataFrame,
      patterns: Seq[(String, String)] = piiPatterns): DataFrame = {
    val counts = patterns.map { case (name, p) =>
      regexp_count(col("text"), lit(p)).cast("bigint").as(name)
    }
    val audited = corpus.select(col("doc_id") +: counts: _*)
    audited.withColumn("has_pii",
      patterns.map(p => col(p._1) > 0L).reduce(_ || _).cast("int"))
  }

  /** ADAPTIVELY CONTENT-ADDRESSED per-document computation (see
    * CorpusStats): on a clone-heavy corpus, `f` sees one (doc_id, text)
    * row per DISTINCT text (doc_id = the text's 64-bit digest) and its
    * per-row outputs fan back to every document sharing the text — the
    * tokenize/regex work shrinks by the clone factor. On a mostly-unique
    * corpus the collapse would remove nothing, so `f` runs over the
    * documents directly, shuffle-free. xxhash64 keys the fan-out: a
    * 64-bit collision mis-scores one document pair (p ≈ n²/2⁶⁵ — ~3%
    * chance of ONE affected pair per 1e9 docs), acceptable for quality
    * metrics; exact dedup (d01) stays on sha2-256.
    *
    * Shuffle shape in the clone-heavy branch: groupBy FIRST (partial agg
    * collapses clones map-side, so the digest exchange carries roughly
    * the per-partition-distinct texts), THEN an explicit-N repartition of
    * the distinct texts. The head-sample estimator measures LOCAL
    * duplication by construction — it sees clones only when they
    * co-reside in the sampled head partitions — so whenever this branch
    * is taken, map-side combine is known to collapse, and the two
    * exchanges together carry ~2·ratio·|corpus| bytes vs a single full
    * text shuffle. The second repartition must be explicit-N: AQE
    * coalesces the collapsed digest exchange by its (few) bytes and
    * would otherwise run the whole per-token stage in `f` in one task. */
  private def perDistinctText(corpus: DataFrame, distinctRatio: Option[Double])(
      f: DataFrame => DataFrame): DataFrame = {
    val cloneHeavy =
      distinctRatio.getOrElse(CorpusStats.headDistinctRatio(corpus)) <
        CorpusStats.cloneHeavyBelow
    if (!cloneHeavy) f(corpus)
    else {
      val keyed = corpus.select(col("doc_id"), xxhash64(col("text")).as("dig"))
      val n = corpus.sparkSession.sessionState.conf.numShufflePartitions
      val reps = corpus.select(xxhash64(col("text")).as("doc_id"), col("text"))
        .groupBy(col("doc_id")).agg(first(col("text")).as("text"))
        .repartition(n, col("doc_id"))
      val scored = f(reps).withColumnRenamed("doc_id", "dig")
      keyed.join(scored, "dig").drop("dig")
    }
  }

  /** Gopher-style REPETITION filter — the within-document quality rule of
    * a pretraining pipeline: per doc, the duplicate-token ratio
    * (1 − distinct/total) and the most-frequent-bigram share of all
    * bigrams; `keep` flags docs under both repetition ceilings. Two
    * partial-aggregated groupBys keyed on (doc, bigram) then doc — no
    * corpus-wide state, scales linearly; duplicate texts are measured
    * once ([[perDistinctText]]). */
  def repetitionStats(corpus: DataFrame,
      maxDupRatio: Double = 0.65, maxTopBigram: Double = 0.1,
      distinctRatio: Option[Double] = None): DataFrame =
    perDistinctText(corpus, distinctRatio)(repetitionStats0(_, maxDupRatio, maxTopBigram))

  private def repetitionStats0(corpus: DataFrame,
      maxDupRatio: Double, maxTopBigram: Double): DataFrame = {
    val t = corpus
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("n", size(col("toks")))
    val base = t.select(
      col("doc_id"), col("n"),
      (lit(1.0) - expr("size(array_distinct(toks))").cast("double") / col("n")).as("dup_r"))
    val top = t.filter(col("n") >= 2)
      .select(col("doc_id"),
        explode(ngramJoin(col("toks"), 2))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("top_bg"))
    base.join(top, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n").cast("bigint").as("n_tokens"),
        stableRound(col("dup_r"), 4).as("dup_ratio"),
        stableRound(coalesce(col("top_bg"), lit(0.0)), 4).as("top_bigram_frac"),
        (!(col("dup_r") > maxDupRatio || coalesce(col("top_bg"), lit(0.0)) >= maxTopBigram))
          .cast("int").as("keep"))
  }

  /** CCNet-style statistical language-model score: the average negative
    * log conditional probability of each document's word bigrams under
    * the corpus's OWN bigram model (c(w1 w2)/c(w1·)) — the perplexity
    * filter of a pretraining pipeline, here with the corpus as its own
    * reference model so the operator is self-contained. High `nll` =
    * improbable word sequences (gibberish/boilerplate candidates). Model
    * building and scoring are two partial-aggregated groupBys + two
    * key-joins — no corpus-wide state on any single node. Docs with
    * fewer than 2 tokens carry no bigram evidence and are omitted. */
  def lmScore(corpus: DataFrame, distinctRatio: Option[Double] = None): DataFrame = {
    // ADAPTIVELY CONTENT-ADDRESSED (see perDistinctText): on a
    // clone-heavy corpus, tokenize and score each DISTINCT text once and
    // fan the score back to documents by digest. Identical texts produce
    // identical bigram multisets, so the model just weights each distinct
    // text by its multiplicity (c(w1), c(bg) are unchanged) and every
    // clone inherits its representative's nll verbatim — the whole
    // tokenize/explode/model pipeline shrinks by the clone factor. On a
    // mostly-unique corpus the collapse removes nothing, so the model
    // folds over the documents directly (mult = 1) with no text shuffle
    // and no fan-back join.
    val cloneHeavy =
      distinctRatio.getOrElse(CorpusStats.headDistinctRatio(corpus)) <
        CorpusStats.cloneHeavyBelow
    if (!cloneHeavy) {
      // per-doc shape: score the RAW bigram instance stream. The three
      // model consumers each get a column-pruned scan+explode (Catalyst
      // pushes .bg/.w1 INTO the explode for the model branches), and the
      // per-doc score is a plain instance average. Folding the stream
      // onto a reduced (doc, bigram, k) relation first benched +70% here:
      // mostly-unique corpora repeat few bigrams within a doc, so the
      // reduction removes almost nothing and its aggregate + exchange are
      // pure overhead.
      val t = corpus
        .withColumn("toks", split(lower(col("text")), "\\s+"))
        .withColumn("n", size(col("toks")))
      val bgS = t.filter(col("n") >= 2)
        .select(col("doc_id"),
          explode(bigramStructs(col("toks")))
            .as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
      val c1 = bgS.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val cb = bgS.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      bgS.join(cb, "bg").join(c1, "w1")
        .groupBy(col("doc_id"))
        .agg(
          stableRound(avg(-log(col("cb").cast("double") / col("c1"))), 4).as("nll"),
          count(lit(1)).as("n_bigrams"))
    }
    else {
      val keyed = corpus.select(col("doc_id"), xxhash64(col("text")).as("dig"))
      // groupBy first (map-side collapse), then explicit-N repartition of
      // the distinct texts — see perDistinctText for the shuffle-byte
      // rationale tied to the head-sample estimator
      val nPart = corpus.sparkSession.sessionState.conf.numShufflePartitions
      val groups = corpus.select(xxhash64(col("text")).as("dig"), col("text"))
        .groupBy(col("dig"))
        .agg(first(col("text")).as("text"), count(lit(1)).as("mult"))
        .repartition(nPart, col("dig"))
      keyed.join(lmScoreCore(groups), "dig")
        .select(col("doc_id"), col("nll"), col("n_bigrams"))
    }
  }

  /** The CLONE-HEAVY bigram-model fold over `(dig, text, mult)` scoring
    * units — one row per DISTINCT text, weighted by clone multiplicity;
    * returns (dig, nll, n_bigrams), one row per unit with ≥ 2 tokens.
    * Counts and scores are identical to scoring the expanded documents.
    *
    * The input is pre-partitioned by dig (the caller's content-address
    * shuffle), so the reduced-relation agg plans WITHOUT its own
    * exchange; the explicit repartition(bg) after it is the plan's
    * shared materialization point — without an exchange between the agg
    * and its three consumers the whole tokenize/explode/agg subtree is
    * recomputed per consumer (measured 1.6x). */
  private def lmScoreCore(groups: DataFrame): DataFrame = {
    val nPart = groups.sparkSession.sessionState.conf.numShufflePartitions
    val t = groups
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("n", size(col("toks")))
    val bg = t.filter(col("n") >= 2)
      .select(col("dig"), col("mult"),
        explode(bigramStructs(col("toks")))
          .as("p"))
      .select(col("dig"), col("mult"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    // reduce to per-(text, bigram) multiplicities FIRST: the
    // unigram/bigram models fold from the reduced relation (weighted by
    // the clone multiplicity), and the model joins carry distinct
    // (text, bigram) rows instead of the raw instance stream — per-doc
    // instance averages become k-weighted sums, same numbers. (This
    // reduction pays ONLY here, where scoring units are distinct texts
    // of a clone-heavy corpus; on the per-doc path it benched +70% and
    // is not used.) mult rides as an AGGREGATE (functionally dependent
    // on dig), not a grouping key, keeping the exchange keys pure
    // attributes.
    val dbg = bg.groupBy(col("dig"), col("w1"), col("bg"))
      .agg(count(lit(1)).as("k"), max(col("mult")).as("mult"))
      .repartition(nPart, col("bg"))
    val weight = col("k") * col("mult")
    val c1 = dbg.groupBy(col("w1")).agg(sum(weight).as("c1"))
    val cb = dbg.groupBy(col("bg")).agg(sum(weight).as("cb"))
    dbg.join(cb, "bg").join(c1, "w1")
      .groupBy(col("dig"))
      .agg(
        stableRound(
          sum(col("k") * -log(col("cb").cast("double") / col("c1"))) / sum(col("k")), 4)
          .as("nll"),
        sum(col("k")).as("n_bigrams"))
  }

  /** CCNet-style PERPLEXITY TIERING — the head/middle/tail split a
    * perplexity-filtered pipeline buckets its corpus into: per-doc LM
    * score ([[lmScore]]), corpus-wide tier boundaries at the given
    * quantiles, and a tier label per doc (0 = best/lowest nll).
    *
    * Scale shape: boundaries come from [[ExactQuantile.quantiles]] — the
    * bounded-refinement exact percentile, NOT a global sort/ntile window
    * (the naive spelling serializes the corpus through one partition);
    * assignment is then a pure projection against two literal bounds.
    * Boundaries are rounded to the nll display grid (4dp) with the
    * 8dp→4dp HALF_UP ladder stableRound uses, which is cross-engine
    * stable here: for third-quantiles of a 4dp grid the interpolated
    * value sits ≥ 5/(3·10⁵) from every rounding tie, far beyond any ulp
    * divergence between engines' interpolation spellings. */
  def pplTiers(corpus: DataFrame, qs: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
      distinctRatio: Option[Double] = None): DataFrame = {
    require(qs.nonEmpty && qs == qs.sorted, "quantiles must be ascending")
    // pin the LM scores once: the quantile refinement and the final
    // projection otherwise EACH re-run the whole bigram model (the
    // lloydAssign lesson — measured 5.4 s vs 1.1 s at sf0.1)
    val lm = lmScore(corpus, distinctRatio).localCheckpoint()
    val bounds = ExactQuantile.quantiles(lm, "nll", qs).map(b =>
      BigDecimal(b).setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val tier = bounds.zipWithIndex.foldRight(lit(bounds.length): Column) {
      case ((b, i), acc) => when(col("nll") <= b, lit(i)).otherwise(acc)
    }
    lm.select(col("doc_id"), col("nll"), col("n_bigrams"), tier.cast("int").as("tier"))
  }

  /** Winnowing-style rolling-hash fingerprint (custom codegen'd
    * expression); docs sharing a fingerprint are byte-near-identical
    * candidates. */
  def fingerprints(corpus: DataFrame, window: Int = 16): DataFrame = {
    corpus.select(col("doc_id"), rollingFingerprint(col("text"), window).as("fingerprint"))
  }

  /** MODEL-BASED quality scoring — the hashed-linear-classifier stage
    * (fastText-style) web-scale pipelines run after the heuristic gates
    * (the GPT-3 / CCNet quality-filter pattern): tokens FEATURE-HASH into
    * `dim` buckets, the model IS a `(bucket, w)` table, and a document's
    * logit is the mean bucket weight over its tokens. The weights input
    * is the pluggable-model seam — any trained linear model lowered to
    * (bucket, weight) rows scores through the identical plan;
    * [[seedWeights]] supplies a lexicon-derived default.
    *
    * Scale shape: the model broadcasts (a real fastText bucket table is
    * ~2M rows ≈ 30 MB — broadcast-sized by construction) onto the
    * exploded token stream, so the corpus side is one linear scan;
    * map-side partial aggregation collapses the per-token rows back to
    * one (doc_id, sum, count) row per doc per partition BEFORE the
    * exchange — tokens never shuffle. Oracle-parity note: with INTEGRAL
    * weights the dot product is exact integer arithmetic in double
    * (summation-order-proof); the single division happens once per doc. */
  def classifierScore(corpus: DataFrame, weights: DataFrame, dim: Int = 4096): DataFrame =
    corpus
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .withColumn("bucket",
        StableHash.str32(col("tok")) % dim)
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(
        stableRound(sum(coalesce(col("w"), lit(0.0))) / count(lit(1)), 4).as("logit"),
        count(lit(1)).cast("bigint").as("n_tokens"))

  /** Natural-language-indicator lexicon: stopwords of every supported
    * language score +1, boilerplate/spam markers score −1. Integral on
    * purpose — see [[classifierScore]]'s parity note. */
  private[operators] val seedLexicon: Seq[(String, Double)] =
    stopwords.values.flatten.toSeq.distinct.sorted.map(_ -> 1.0) ++
      Seq("click", "subscribe", "buy", "free", "winner", "http", "www",
        "===", "___", "null").map(_ -> -1.0)

  /** [[seedLexicon]] lowered to the `(bucket, w)` model shape: terms
    * hash into the same `dim` buckets as the scorer's tokens; colliding
    * terms SUM (it is a linear model). */
  def seedWeights(s: SparkSession, dim: Int = 4096): DataFrame = {
    import s.implicits._
    seedLexicon.toDF("term", "w")
      .withColumn("bucket",
        StableHash.str32(col("term")) % dim)
      .groupBy(col("bucket")).agg(sum(col("w")).as("w"))
  }

  // ---------- testdata bindings (the driver contract) ----------

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  val queries: Seq[NamedQuery] = Seq(

    // language-ID heuristic vs the ground-truth lang column: confusion
    // counts per (true, predicted). Pure SQL (stopword hit counts), so
    // DuckDB replicates it exactly.
    NamedQuery(
      "t01_text_langid",
      Some {
        def hits(lang: String): String = {
          val arr = stopwords(lang).map(w => s"'$w'").mkString(", ")
          s"len(list_filter(string_split_regex(lower(text), '\\s+'), t -> list_contains([$arr], t)))"
        }
        val best = "greatest(s_en, s_de, s_es, s_fr)"
        "WITH s AS (SELECT lang, " +
          s"${hits("en")} AS s_en, ${hits("de")} AS s_de, " +
          s"${hits("es")} AS s_es, ${hits("fr")} AS s_fr FROM documents), " +
          s"p AS (SELECT lang, CASE WHEN $best = 0 THEN 'und' " +
          s"WHEN s_en = $best THEN 'en' WHEN s_de = $best THEN 'de' " +
          s"WHEN s_es = $best THEN 'es' ELSE 'fr' END AS pred FROM s) " +
          "SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred ORDER BY lang, pred"
      },
      (s, dir) =>
        langId(docs(s, dir))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred"))),

    // quality features + composite score; oracle replicates each feature
    // in DuckDB (same single-space tokenization, same regex, lambdas).
    NamedQuery(
      "t02_text_quality",
      Some {
        val stops = stopwords("en").map(w => s"'$w'").mkString(", ")
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
          "CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits, " +
          "CAST(round(CAST(CAST(len(list_filter(string_split(text, ' '), t -> list_contains([" + stops + "], t))) AS DOUBLE) / len(string_split(text, ' ')) AS DECIMAL(28,8)), 4) AS DOUBLE) AS stop_ratio, " +
          "CAST(round(CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS DECIMAL(28,8)), 4) AS DOUBLE) AS avg_token_len, " +
          "CAST(round(CAST(least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.5 + CAST(len(list_filter(string_split(text, ' '), t -> list_contains([" + stops + "], t))) AS DOUBLE) / len(string_split(text, ' ')) * 0.5 AS DECIMAL(28,8)), 4) AS DOUBLE) AS quality " +
          "FROM documents ORDER BY doc_id"
      },
      (s, dir) => qualityFeatures(docs(s, dir)).orderBy(col("doc_id"))),

    NamedQuery(
      "t03_text_tokens",
      Some(
        "SELECT doc_id, CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_ws, " +
          "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe, " +
          "CAST(length(text) AS BIGINT) AS n_chars FROM documents ORDER BY doc_id"),
      (s, dir) => tokenCounts(docs(s, dir)).orderBy(col("doc_id"))),

    // TF-IDF keyword extraction, scoped to doc_id < 50 to keep the
    // verified output bounded (the filter pushes through the window and
    // into the tf branch; df is still computed over the full corpus).
    NamedQuery(
      "t05_tfidf_terms",
      Some(
        "WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents), " +
          "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token), " +
          "idf AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
          "n AS (SELECT count(*) AS n FROM documents), " +
          "scored AS (SELECT doc_id, token, " +
          stableRoundSql("tf * ln(CAST(n AS DOUBLE) / df)", 4) + " AS tfidf " +
          "FROM tf JOIN idf USING (token) CROSS JOIN n) " +
          "SELECT doc_id, token, tfidf FROM (SELECT doc_id, token, tfidf, " +
          "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rk " +
          "FROM scored WHERE doc_id < 50) WHERE rk <= 3 ORDER BY doc_id, tfidf DESC, token"),
      (s, dir) =>
        // the doc_id filter pushes through the window into the tf branch;
        // it CANNOT reach the df branch (no doc_id column there), so idf
        // stays corpus-wide
        tfidfTerms(docs(s, dir), 3)
          .filter(col("doc_id") < 50)
          .orderBy(col("doc_id"), col("tfidf").desc, col("token"))),

    // Fingerprint gate (driver-visible): three self-consistency verdicts
    // a constant DuckDB oracle hash-checks.
    //   clone_match_ok — every planted clone row (doc_id+1e6, same text)
    //     reproduces its original's fingerprint: determinism across rows
    //     and partitions, not just referential transparency in one plan;
    //   suffix_stable_ok — ≥75% of docs keep their fingerprint after a
    //     20-char suffix append (winnowing's core property: a local edit
    //     moves the fingerprint only when it displaces the minimizing
    //     window; measured 0.81/0.83/0.82 at sf0.001/0.01/0.1 with
    //     ~300-char docs);
    //   collision_bounded_ok — fingerprint collisions among DISTINCT
    //     texts stay under 0.2% of all pairs (measured 5.4e-4/7.3e-4/
    //     4.4e-4): the false-positive bound that makes the fingerprint
    //     usable as a near-dup candidate key.
    NamedQuery(
      "t04_text_fingerprint",
      Some(
        "SELECT count(*) AS n_docs, CAST(1 AS INT) AS clone_match_ok, " +
          "CAST(1 AS INT) AS suffix_stable_ok, CAST(1 AS INT) AS collision_bounded_ok " +
          "FROM documents"),
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val fp = fingerprints(d).withColumnRenamed("fingerprint", "fp")
        val cloneFp = fingerprints(
          d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
          .select((col("doc_id") - 1000000L).as("doc_id"),
            col("fingerprint").as("fp_clone"))
        val sufFp = d.select(col("doc_id"),
          rollingFingerprint(concat(col("text"), lit(" appended tail marker")), 16).as("fp_suf"))
        val joined = fp.join(cloneFp, "doc_id").join(sufFp, "doc_id")
        // digests-only shuffle rule: the fp-keyed self-join exchange
        // carries (doc_id, fp, 32-byte sha2 digest) — never raw text;
        // digest inequality is collision-safe for the distinct-text test
        val textFp = d.select(col("doc_id"), sha2(col("text"), 256).as("td"))
          .join(fp.select(col("doc_id"), col("fp")), "doc_id")
        val collisions = textFp.as("a")
          .join(textFp.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
              col("a.td") =!= col("b.td"))
          .agg(count(lit(1)).as("n_coll"))
        joined.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("fp") === col("fp_clone"), 0L).otherwise(1L)).as("clone_miss"),
          sum(when(col("fp") === col("fp_suf"), 1L).otherwise(0L)).as("suf_stable"))
          .crossJoin(collisions)
          .select(
            col("n_docs"),
            (col("clone_miss") === 0).cast("int").as("clone_match_ok"),
            (col("suf_stable") >= col("n_docs") * 0.75).cast("int").as("suffix_stable_ok"),
            (col("n_coll") <= col("n_docs") * (col("n_docs") - 1) / 2 * 0.002)
              .cast("int").as("collision_bounded_ok"))
      }),

    // redaction: digit runs → <NUM> (the normalization/scrubbing pass);
    // the oracle replays the same regex and hash-checks the full
    // redacted text plus per-doc match counts.
    NamedQuery(
      "t06_text_redact",
      Some(
        "SELECT doc_id, CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_matches, " +
          "regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted " +
          "FROM documents ORDER BY doc_id"),
      (s, dir) => redact(docs(s, dir), "[0-9]+", "<NUM>").orderBy(col("doc_id"))),

    // repetition filter: the oracle replays duplicate-token ratio, top
    // bigram share, and the keep rule per doc (both engines compare the
    // UNROUNDED ratios — int-derived doubles, so the branch is bit-stable)
    NamedQuery(
      "t07_text_repetition",
      Some(
        "WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents), " +
          "b AS (SELECT doc_id, len(tk) AS n, " +
          "1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dup_r FROM t), " +
          "bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), " +
          "i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t WHERE len(tk) >= 2), " +
          "c AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2), " +
          "topf AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bg FROM c GROUP BY doc_id) " +
          "SELECT b.doc_id, CAST(n AS BIGINT) AS n_tokens, " +
          stableRoundSql("dup_r", 4) + " AS dup_ratio, " +
          stableRoundSql("coalesce(top_bg, 0.0)", 4) + " AS top_bigram_frac, " +
          "CAST(CASE WHEN dup_r > 0.65 OR coalesce(top_bg, 0.0) >= 0.1 THEN 0 ELSE 1 END AS INT) AS keep " +
          "FROM b LEFT JOIN topf USING (doc_id) ORDER BY doc_id"),
      (s, dir) => repetitionStats(docs(s, dir),
        distinctRatio = Some(Dedup.docRatio(s, dir))).orderBy(col("doc_id"))),

    // bigram-LM scoring: the oracle rebuilds the same corpus-global bigram
    // model and per-doc average NLL (integer count ratios through ln —
    // summation-order noise is absorbed by the stabilized rounding, the
    // q31/t05 precedent)
    NamedQuery(
      "t08_text_lm_score",
      Some(
        "WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents), " +
          "bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), " +
          "i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t WHERE len(tk) >= 2), " +
          "pre AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgs), " +
          "c1 AS (SELECT w1, count(*) AS c1 FROM pre GROUP BY w1), " +
          "cb AS (SELECT bg, count(*) AS cb FROM pre GROUP BY bg) " +
          "SELECT doc_id, " +
          stableRoundSql("avg(-ln(CAST(cb AS DOUBLE) / c1))", 4) + " AS nll, " +
          "count(*) AS n_bigrams " +
          "FROM pre JOIN cb USING (bg) JOIN c1 USING (w1) " +
          "GROUP BY doc_id ORDER BY doc_id"),
      (s, dir) => lmScore(docs(s, dir), Some(Dedup.docRatio(s, dir))).orderBy(col("doc_id"))),

    // perplexity tiers over the t08 scores: DuckDB replays the LM, the
    // third-quantile boundaries (quantile_cont — same (n-1)·q ordinal
    // rule as ExactQuantile), the boundary rounding ladder, and the tier
    // comparisons.
    NamedQuery(
      "t14_ppl_tiers",
      Some(
        "WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents), " +
          "bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), " +
          "i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t WHERE len(tk) >= 2), " +
          "pre AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgs), " +
          "c1 AS (SELECT w1, count(*) AS c1 FROM pre GROUP BY w1), " +
          "cb AS (SELECT bg, count(*) AS cb FROM pre GROUP BY bg), " +
          "lm AS (SELECT doc_id, " +
          stableRoundSql("avg(-ln(CAST(cb AS DOUBLE) / c1))", 4) + " AS nll, " +
          "count(*) AS n_bigrams FROM pre JOIN cb USING (bg) JOIN c1 USING (w1) GROUP BY doc_id), " +
          "b AS (SELECT " +
          stableRoundSql("quantile_cont(nll, CAST(1 AS DOUBLE)/3)", 4) + " AS b1, " +
          stableRoundSql("quantile_cont(nll, CAST(2 AS DOUBLE)/3)", 4) + " AS b2 FROM lm) " +
          "SELECT doc_id, nll, n_bigrams, " +
          "CAST(CASE WHEN nll <= b1 THEN 0 WHEN nll <= b2 THEN 1 ELSE 2 END AS INT) AS tier " +
          "FROM lm, b ORDER BY doc_id"),
      (s, dir) =>
        pplTiers(docs(s, dir), distinctRatio = Some(Dedup.docRatio(s, dir)))
          .orderBy(col("doc_id"))),

    // hashed-linear-classifier scoring: the oracle rebuilds the SAME
    // bucket model from the shared lexicon (one Scala value emits both
    // sides) and replays feature hashing + mean-weight logit per doc.
    // Integral weights make the per-doc sum exact in both engines
    // regardless of summation order; the one division is rounded
    // stabilized (q31/t05 precedent).
    NamedQuery(
      "t09_classifier_score",
      Some {
        val lex = seedLexicon.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
        def bkt(e: String) = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT) % 4096"
        s"WITH lex(term, w) AS (VALUES $lex), " +
          s"wt AS (SELECT ${bkt("term")} AS bucket, CAST(sum(w) AS DOUBLE) AS w " +
          "FROM lex GROUP BY 1), " +
          s"tk AS (SELECT doc_id, ${bkt("tok")} AS bucket FROM " +
          "(SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents)) " +
          "SELECT doc_id, " +
          stableRoundSql("sum(coalesce(w, 0.0)) / count(*)", 4) + " AS logit, " +
          "count(*) AS n_tokens " +
          "FROM tk LEFT JOIN wt USING (bucket) GROUP BY doc_id ORDER BY doc_id"
      },
      (s, dir) =>
        classifierScore(docs(s, dir), seedWeights(s), 4096).orderBy(col("doc_id"))),

    // BM25 retrieval: two 2-term queries built from the sample corpus's 4
    // most frequent tokens (docs 0..19 — a deterministic, regeneration-
    // proof derivation both engines replay), top-10 docs each. The DuckDB
    // oracle recomputes the full scoring chain — df, avgdl, idf, the
    // decimal-exact per-doc sum — bit-for-bit.
    NamedQuery(
      "t10_bm25",
      Some(
        "WITH tk AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents), " +
          "tt AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tk), " +
          "qt AS (SELECT term, CAST(rk % 2 AS INT) AS query_id FROM (" +
          "SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rk " +
          "FROM tt WHERE doc_id < 20 GROUP BY term) WHERE rk <= 4), " +
          "tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM tt " +
          "JOIN (SELECT DISTINCT term FROM qt) USING (term) GROUP BY doc_id, term, dl), " +
          "dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
          "st AS (SELECT count(*) AS n, sum(len(tk)) AS sdl FROM tk), " +
          "wt AS (SELECT doc_id, term, CAST(" +
          "ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) * (CAST(tf AS DOUBLE) * 2.2) / " +
          "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / " +
          "(CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))) AS DECIMAL(18,6)) AS w " +
          "FROM tf JOIN dfr USING (term) CROSS JOIN st), " +
          "sc AS (SELECT query_id, doc_id, sum(w) AS score_d FROM wt " +
          "JOIN qt USING (term) GROUP BY query_id, doc_id), " +
          "rk AS (SELECT query_id, doc_id, score_d, CAST(row_number() OVER " +
          "(PARTITION BY query_id ORDER BY score_d DESC, doc_id) AS INT) AS rk FROM sc) " +
          "SELECT query_id, doc_id, CAST(score_d AS DOUBLE) AS score, rk " +
          "FROM rk WHERE rk <= 10 ORDER BY query_id, rk"),
      (s, dir) => {
        val d = docs(s, dir)
        val sample = d.filter(col("doc_id") < 20)
          .select(explode(split(lower(col("text")), "\\s+")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("c"))
        val qt = sample
          .withColumn("rk", row_number().over(Window.orderBy(col("c").desc, col("term"))))
          .filter(col("rk") <= 4)
          .select(col("term"), (col("rk") % 2).cast("int").as("query_id"))
        bm25TopK(d, qt, 10).orderBy(col("query_id"), col("rk"))
      }),

    // boilerplate mining with a PLANTED footer: every 5th doc gets a fixed
    // 5-word boilerplate suffix, so the ratio gate must surface exactly
    // that phrase's interior 3-grams (df = the planted count) and nothing
    // else — boundary 3-grams crossing into each doc's own text have df
    // ≈ 1 and near-dup clusters sit far below the 10% threshold at every
    // SF. The oracle rebuilds df from string 3-grams directly.
    NamedQuery(
      "t11_boilerplate",
      Some(
        "WITH d AS (SELECT doc_id, text || CASE WHEN doc_id % 5 = 0 " +
          "THEN ' subscribe to our newsletter today' ELSE '' END AS text FROM documents), " +
          "tk AS (SELECT doc_id, string_split_regex(lower(replace(text, chr(31), ' ')), '\\s+') AS tk FROM d), " +
          "sh AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
          "ELSE list_distinct(list_transform(range(1, len(tk)-1), " +
          "i -> array_to_string(tk[i:i+2], ' '))) END) AS phrase FROM tk), " +
          "dfr AS (SELECT phrase, count(*) AS df FROM sh GROUP BY phrase), " +
          "nd AS (SELECT count(*) AS n_docs FROM d) " +
          "SELECT phrase, df FROM dfr, nd WHERE df >= ceil(0.1 * n_docs) ORDER BY phrase"),
      (s, dir) => {
        val aug = docs(s, dir).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0, lit(" subscribe to our newsletter today"))
              .otherwise(lit(""))).as("text"))
        boilerplatePhrases(aug, n = 3, minDfRatio = 0.1).orderBy(col("phrase"))
      }),

    // vocabulary head with coverage curve: top-30 tokens by tf with df
    // and cumulative corpus-coverage fraction. The oracle recomputes the
    // census from strings — tie handling at the cutoff (take all tied,
    // rank on token text) makes the head content-deterministic.
    NamedQuery(
      "t13_vocabulary",
      Some(
        "WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents), " +
          "agg AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM tok GROUP BY token), " +
          "tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total_tf FROM agg), " +
          "cut AS (SELECT min(tf) AS c FROM (SELECT tf FROM agg ORDER BY tf DESC LIMIT 30)), " +
          "win AS (SELECT token, tf, df FROM agg, cut WHERE tf >= c), " +
          "rk AS (SELECT token, tf, df, row_number() OVER (ORDER BY tf DESC, token) AS rank FROM win) " +
          "SELECT CAST(rank AS INT) AS rank, token, CAST(tf AS BIGINT) AS tf, " +
          "CAST(df AS BIGINT) AS df, " +
          OracleRound.stableRoundSql(
            "CAST(sum(tf) OVER (ORDER BY rank) AS DOUBLE) / total_tf", 4) + " AS cover_frac " +
          "FROM rk, tot WHERE rank <= 30 ORDER BY rank"),
      (s, dir) => vocabulary(docs(s, dir), topN = 30)),

    // Gopher rule battery over the documents table. Thresholds/stop list
    // are tuned to the synthetic corpus vocabulary so every flag actually
    // discriminates (word counts span ~10..110; the en stop list would
    // make f_stop constant-false); the published defaults stay on the
    // operator. Every rule is integer counting + one exact IEEE division,
    // so the oracle replays bit-for-bit including the boolean flags.
    NamedQuery(
      "t12_heuristic_filters",
      Some {
        val stops = "'the', 'a', 'value', 'table', 'key'"
        "WITH t0 AS (SELECT doc_id, trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS nt " +
          "FROM documents), " +
          "t AS (SELECT doc_id, nt, string_split(nt, ' ') AS toks FROM t0), " +
          "m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, " +
          "CAST(length(nt) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mlr, " +
          "CAST(length(nt) - length(replace(nt, '#', '')) AS BIGINT) + " +
          "(length(nt) - length(replace(nt, '...', ''))) // 3 AS n_symbols, " +
          "CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha, " +
          s"CAST(len(list_filter([$stops], w -> list_contains(toks, w))) AS BIGINT) AS stop_hits FROM t), " +
          "f AS (SELECT *, n_words >= 30 AND n_words <= 100000 AS f_words, " +
          "mlr >= 3.0 AND mlr <= 10.0 AS f_mean_len, " +
          "CAST(n_symbols AS DOUBLE) / n_words < 0.1 AS f_symbol, " +
          "CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS f_alpha, " +
          "stop_hits >= 2 AS f_stop FROM m) " +
          "SELECT doc_id, n_words, " + stableRoundSql("mlr", 4) + " AS mean_word_len, " +
          "n_symbols, n_alpha, stop_hits, f_words, f_mean_len, f_symbol, f_alpha, f_stop, " +
          "(f_words AND f_mean_len AND f_symbol AND f_alpha AND f_stop) AS keep " +
          "FROM f ORDER BY doc_id"
      },
      (s, dir) =>
        heuristicFilter(docs(s, dir), minWords = 30L,
          stopWords = Seq("the", "a", "value", "table", "key"))
          .orderBy(col("doc_id"))),

    // PII audit over the corpus salted with PLANTED PII (doc_id+1e6:
    // two emails, a phone, an IPv4, an SSN appended to three real texts)
    // — the clean synthetic corpus must count zero everywhere and every
    // planted doc must count exactly the planted battery. FULL oracle:
    // both engines evaluate the same RE2-safe patterns (Spark
    // regexp_count vs DuckDB len(regexp_extract_all)), so every count
    // and the has_pii verdict hash-match bit-for-bit.
    NamedQuery(
      "t15_pii_audit",
      Some {
        val salt = " reach alice@example.com and bob@corp.io, " +
          "call 555-123-4567, server 10.0.0.1, ssn 123-45-6789"
        "WITH c AS (SELECT doc_id, text FROM documents " +
          s"UNION ALL SELECT doc_id + 1000000, text || '$salt' " +
          "FROM documents WHERE doc_id < 3) " +
          "SELECT doc_id, " +
          "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS emails, " +
          "CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS BIGINT) AS phones, " +
          "CAST(len(regexp_extract_all(text, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS ipv4s, " +
          "CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS ssns, " +
          "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0 " +
          "OR len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) > 0 " +
          "OR len(regexp_extract_all(text, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) > 0 " +
          "OR len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) > 0 AS INT) AS has_pii " +
          "FROM c ORDER BY doc_id"
      },
      (s, dir) => {
        val salt = " reach alice@example.com and bob@corp.io, " +
          "call 555-123-4567, server 10.0.0.1, ssn 123-45-6789"
        val base = docs(s, dir).select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") < 3)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(salt)).as("text"))
        patternAudit(base.unionByName(planted)).orderBy(col("doc_id"))
      }),

    // BPE merge training: 8 frequency-weighted merge rounds over the
    // distinct-word census. The DuckDB oracle replays the identical
    // chain — census, pair counts, (freq DESC, a, b) argmax, and the
    // greedy left-to-right fold — so a hash match proves every round's
    // pick AND the merge application agree symbol-for-symbol.
    NamedQuery(
      "t16_bpe_merges",
      Some(bpeMergesSql(8)),
      (s, dir) => bpeMerges(docs(s, dir), merges = 8).orderBy(col("rank"))),

    // BPE encode + fertility under the 8 learned merges: the oracle runs
    // the identical training chain, reads each distinct word's
    // post-merge token count, and aggregates per document — so the gate
    // proves training AND application agree end-to-end.
    NamedQuery(
      "t17_bpe_encode",
      Some(bpeEncodeSql(8)),
      (s, dir) => {
        val table = bpeMerges(docs(s, dir), merges = 8)
          .orderBy(col("rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        bpeEncode(docs(s, dir), table).orderBy(col("doc_id"))
      }),

    // corpus-level diversity dashboard: distinct-n ratios + gram-
    // distribution entropy per order — full value oracle.
    NamedQuery(
      "t22_corpus_diversity",
      Some(corpusDiversitySql(3)),
      (s, dir) => corpusDiversity(docs(s, dir), maxN = 3)),

    // token-STREAM gate: the actual post-merge tokens in document order
    // under the k=8 table (driver-trained — proven equal to the
    // distributed trainer), full value oracle over every (doc_id,
    // word_idx, tok_idx, token) row.
    NamedQuery(
      "t19_bpe_tokens",
      Some(bpeTokensSql(8)),
      (s, dir) => {
        val table = bpeTrainDriver(docs(s, dir), merges = 8).map(t => (t._2, t._3))
        bpeTokens(docs(s, dir), table)
          .orderBy(col("doc_id"), col("word_idx"), col("tok_idx"))
      }),

    // id-STREAM capstone: tokens mapped through the induced vocabulary
    // (alphabet + merges, GPT-2-style dense ids) — the artifact a
    // training run actually consumes; full value oracle.
    NamedQuery(
      "t20_bpe_ids",
      Some(bpeTokenIdsSql(8)),
      (s, dir) => {
        val tok = bpeTrainTokenizer(docs(s, dir), merges = 8)
        bpeTokenIds(docs(s, dir), tok.merges, tok.alphabet)
          .orderBy(col("doc_id"), col("word_idx"), col("tok_idx"))
      }),

    // FOREIGN-corpus id stream with an explicit UNK: tokenizer trained
    // on `documents` (merges + id space), encode corpus = the held-out
    // %10 slice salted with a planted word carrying a character OUTSIDE
    // the training alphabet ('¤') — its token must surface as id
    // = |vocab| (the UNK slot) while in-vocab neighbors keep their
    // dense ids and tok_idx stays gap-free. Full value oracle: DuckDB
    // replays the training chain on documents AND a second rewrite
    // sequence folding the foreign words through the same merge picks,
    // then the LEFT-join UNK resolution.
    NamedQuery(
      "t23_bpe_ids_unk",
      Some(bpeTokenIdsUnkSql(8)),
      (s, dir) => {
        val d = docs(s, dir)
        val tok = bpeTrainTokenizer(d, merges = 8)
        val foreign = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" q¤x")).as("text"))
        bpeTokenIdsAgainst(foreign, d, tok.merges, tok.alphabet)
          .orderBy(col("doc_id"), col("word_idx"), col("tok_idx"))
      }),

    // CAPPED-census gate: vocabCap=16 BINDS on the 31-word vocabulary,
    // so this row proves the capped semantics end-to-end — training
    // reads only the top-16 (freq DESC, word) census words, while the
    // encode applies the learned table to EVERY word (the oracle's
    // `capped` flag splits exactly the same way).
    NamedQuery(
      "t21_bpe_capped",
      Some(bpeEncodeDeepSql(8, 16)),
      (s, dir) => {
        val table = bpeTrainDriver(docs(s, dir), merges = 8, vocabCap = 16)
          .map(t => (t._2, t._3))
        bpeEncode(docs(s, dir), table).orderBy(col("doc_id"))
      }),

    // PRODUCTION-DEPTH tokenizer gate: train far past the corpus's
    // trainable depth (the 31-word synthetic vocabulary exhausts at 89
    // merges; k=128 > that, so this IS the k≥128 fixed point — any
    // deeper k trains the identical table) with the capped-census
    // driver trainer, then gate per-doc encode fertility against the
    // DuckDB replay of the full 128-round chain. Proves deep training +
    // exhaustion semantics + encode agree end-to-end at a depth the
    // per-round distributed trainer can't affordably reach.
    NamedQuery(
      "t18_bpe_deep",
      Some(bpeEncodeDeepSql(128, 65536)),
      (s, dir) => {
        val table = bpeTrainDriver(docs(s, dir), merges = 128)
          .map(t => (t._2, t._3))
        bpeEncode(docs(s, dir), table).orderBy(col("doc_id"))
      })
  )
}
