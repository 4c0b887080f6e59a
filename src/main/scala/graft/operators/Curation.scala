package graft.operators

import graft.Tables
import graft.functions.{cosineSim, countIn}
import org.apache.spark.sql.functions._

/** Capstone: the full training-data curation pass composed as ONE lazy
  * DataFrame plan — the pipeline a 100 TB pretraining corpus actually
  * runs:
  *
  *   1. quality gate: length / stopword-ratio heuristics;
  *   2. exact dedup: keep the smallest doc_id per content digest;
  *   3. near-dup removal: exact-Jaccard pair graph → connected components
  *      (Dedup.connectedComponents) → drop every non-representative
  *      member, keeping the smallest doc_id of each component;
  *   4. emit the surviving doc_ids with their quality score.
  *
  * Everything stays declarative, so Catalyst fuses the quality projection
  * into the scan. The anti-joins that realize "drop duplicates/members"
  * are broadcast-able when the drop lists are small (the common case: dup
  * rate ≪ corpus) and degrade gracefully to shuffle joins when not.
  *
  * Every stage is SQL-expressible, so the DuckDB oracle replays the whole
  * pipeline — components included, via a recursive CTE.
  */
object Curation {

  // Spark side consumes the Seq through the Column API (stop words are
  // data, never SQL text); the SQL string feeds only the DuckDB oracle
  private val stopList = Seq("the", "a", "of", "to", "in", "is")
  private val stops = stopList.map(w => s"'$w'").mkString(",")

  /** The full curation pass over any `(doc_id, text)` corpus — quality
    * gate → exact dedup → connected-component near-dup removal — as one
    * DataFrame-first operator returning the surviving `(doc_id, quality)`
    * rows. `nearDupPairs` accepts any pair source (exact-Jaccard here,
    * Dedup.minhashPairs at extreme scale). */
  def curate(corpus: org.apache.spark.sql.DataFrame,
      nearDupPairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = corpus
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("quality",
        least(col("n_tokens") / 50.0, lit(1.0)) * 0.5 +
          countIn(col("toks"), stopList).cast("double") / col("n_tokens") * 0.5)
      .filter(col("n_tokens") >= 5 && col("quality") >= 0.2)
    val exactKeep = scored
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val drops = Dedup.connectedComponents(nearDupPairs.select(col("id_a"), col("id_b")))
      .select(col("doc_id"))
    scored.join(exactKeep, "doc_id", "left_semi")
      .join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), OracleRound.stableRound(col("quality"), 4).as("quality"))
  }

  /** Benchmark DECONTAMINATION — the train/test-overlap scrub every LLM
    * training pipeline runs before a corpus ships: flag each training doc
    * sharing ≥ `minOverlap` distinct word 3-gram shingles with any
    * benchmark doc. The benchmark side is benchmark-sized (thousands of
    * docs), so it broadcasts and the 100 TB train side stays a linear
    * scan + map-side join — no shuffle of the corpus. Shingles ride the
    * same one-pass `shingle_hashes` kernel as the dedup family (8-byte
    * hashes, never strings). Returns (doc_id, bench_id, overlap). */
  def contamination(corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame, minOverlap: Int): org.apache.spark.sql.DataFrame = {
    val tr = Dedup.shingled(corpus).select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val be = Dedup.shingled(benchmark)
      .select(col("doc_id").as("bench_id"), explode(col("shingles")).as("shingle"))
    // shingle_hashes emits DISTINCT hashes per doc, so the pair count IS
    // the intersection size
    tr.join(broadcast(be), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Fractional CONTAMINATION score — the report-card sibling of
    * [[contamination]] (which flags pairs over a hard overlap count):
    * per train doc, the fraction of its DISTINCT word 3-gram shingles
    * that appear anywhere in the benchmark suite, plus a `keep` verdict
    * at threshold `tau`. Pipelines page a fraction (how contaminated),
    * not just a flag — partial-overlap docs get trimmed or down-weighted
    * rather than dropped.
    *
    * Scale shape: the benchmark's UNION shingle set is benchmark-sized
    * (≤ millions of 8-byte hashes) and broadcasts; the corpus side is
    * ONE linear pass — shingle, explode, map-side broadcast join, and a
    * per-doc count re-aggregation keyed on doc_id. No corpus shuffle
    * carries strings; `keep` thresholds the raw integer-ratio double
    * (identical in both engines), never the rounded display value. */
  def contaminationScore(corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame, tau: Double = 0.2): org.apache.spark.sql.DataFrame = {
    val be = Dedup.shingled(benchmark)
      .select(explode(col("shingles")).as("shingle")).distinct()
      .withColumn("hit", lit(1))
    // shingle_hashes emits DISTINCT hashes per doc, so size(shingles) is
    // the denominator and the hit count the intersection size
    val tr = Dedup.shingled(corpus)
      .select(col("doc_id"), size(col("shingles")).cast("bigint").as("n_shingles"),
        explode(col("shingles")).as("shingle"))
    val scored = tr.join(broadcast(be), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"), count(col("hit")).as("n_hit"))
    val frac = col("n_hit").cast("double") / col("n_shingles")
    scored.select(col("doc_id"), col("n_shingles"), col("n_hit"),
      OracleRound.stableRound(frac, 4).as("hit_frac"),
      (!(frac >= tau)).cast("int").as("keep"))
  }

  /** SEMANTIC decontamination — the embedding-level sibling of
    * [[contamination]]: n-gram overlap catches VERBATIM leakage, this
    * catches PARAPHRASED benchmark leakage — flag every (train, bench)
    * pair whose hashed-embedding cosine clears `tau`. No external
    * encoder: both sides embed through the s08 feature-hash bridge, so
    * the DuckDB oracle replays every value (the s08-proven chain plus
    * list_cosine_similarity — both engines accumulate the dot product
    * sequentially in double, bit-identical before the display rounding).
    *
    * Scale shape: the benchmark is the bounded side — its dense vectors
    * broadcast; the corpus embeds where its text lives (the hash-bucket
    * aggregate shuffles (doc_id, bucket, weight) scalars, never text);
    * cosine runs in the codegen'd kernel at the broadcast join and both
    * embeddings are consumed there, so the pair relation carries
    * scalars. Zero-norm docs (no tokens → NaN cosine) are excluded on
    * BOTH sides explicitly — BOTH engines order NaN above every number
    * in comparisons, so an unguarded `cos >= tau` would silently admit
    * the degenerate rows everywhere. */
  def semanticContamination(corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame, dim: Int = 16,
      tau: Double = 0.95): org.apache.spark.sql.DataFrame = {
    val cv = Similarity.hashedEmbeddingVec(corpus, dim)
      .select(col("vec_id").as("doc_id"), col("embedding").as("d_emb"))
    val bv = Similarity.hashedEmbeddingVec(benchmark, dim)
      .select(col("vec_id").as("bench_id"), col("embedding").as("b_emb"))
    cv.crossJoin(broadcast(bv))
      .withColumn("raw", cosineSim(col("d_emb"), col("b_emb")))
      .filter(!isnan(col("raw")) && col("raw") >= tau)
      .select(col("doc_id"), col("bench_id"),
        OracleRound.stableRound(col("raw"), 4).as("sim"))
  }

  /** CORPUS DIFF — the dataset-version drift report a release pipeline
    * runs between two corpus snapshots: per doc_id, `added` (new side
    * only), `removed` (old side only), `changed` (both, content
    * differs), `unchanged`. Scale shape: both sides reduce to
    * (doc_id, 32-byte sha2 digest) AT THE SCAN, so the full-outer join
    * shuffles digests, never text — at 100 TB the diff is a
    * metadata-sized exchange. */
  def corpusDiff(oldCorpus: org.apache.spark.sql.DataFrame,
      newCorpus: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // presence is its own flag — a NULL digest must mean "NULL text",
    // never "absent row", or a doc with NULL text on one side would
    // misreport as added/removed; content compares null-safely (<=>)
    // so NULL-vs-NULL text is "unchanged", matching the oracle's
    // IS NOT DISTINCT FROM
    val o = oldCorpus.select(col("doc_id"),
      sha2(col("text"), 256).as("o_digest"), lit(1).as("in_old"))
    val n = newCorpus.select(col("doc_id"),
      sha2(col("text"), 256).as("n_digest"), lit(1).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("o_digest") <=> col("n_digest"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** CORPUS CARD — the per-(source, lang) summary every dataset release
    * ships: doc count, token and char totals, token-length extremes, and
    * mean/variance of doc length. Variance uses the explicit
    * `(n·Σx² − (Σx)²) / (n·(n−1))` form with the sums carried in
    * DECIMAL(38,0): integer token counts make both sums EXACT (so
    * aggregation order — Spark partial merges vs DuckDB's scan order —
    * cannot perturb them), and 38 digits holds Σx² at 10¹¹ docs ×
    * 10⁴-token means with room to spare.
    *
    * Scale shape: one hash aggregate with map-side partials; the
    * exchange carries per-group (count, 3 sums, min, max) — never text.
    * Tokenization matches t03 (`split(trim(text), " +")`). */
  def corpusCard(corpus: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    // cast BEFORE multiplying (the oracle's HUGEINT order): a BIGINT
    // square overflows long past ~3e9 tokens/doc; DECIMAL(19,0)² is an
    // exact DECIMAL(38,0) product
    val dec19 = DecimalType(19, 0)
    val agg = corpus
      .withColumn("n_toks", size(split(trim(col("text")), " +")).cast("bigint"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast(dec)).as("s1"),
        sum((col("n_toks").cast(dec19) * col("n_toks").cast(dec19)).cast(dec)).as("s2"),
        sum(length(col("text")).cast("bigint")).as("n_chars"),
        min(col("n_toks")).as("min_tokens"),
        max(col("n_toks")).as("max_tokens"))
    agg.select(
      col("source"), col("lang"), col("n_docs"),
      col("s1").cast("bigint").as("n_tokens"),
      col("n_chars"), col("min_tokens"), col("max_tokens"),
      OracleRound.stableRound(
        col("s1").cast("double") / col("n_docs"), 4).as("mean_tokens"),
      OracleRound.stableRound(
        when(col("n_docs") > 1,
          (col("n_docs").cast(dec) * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n_docs") * (col("n_docs") - lit(1L))).cast("double"))
          .otherwise(lit(0.0)), 4).as("var_tokens"))
  }

  val queries: Seq[NamedQuery] = Seq(

    // decontamination against a planted "benchmark" (doc_id < 25 — the
    // corpus's near-dup structure guarantees cross-boundary overlap at
    // every SF); the DuckDB oracle rebuilds both shingle sets from 3-gram
    // strings and hash-checks every (train, bench, overlap) row.
    NamedQuery(
      "p03_decontaminate",
      Some(
        "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents), " +
          "sh AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, chr(31))] " +
          "ELSE list_distinct(list_transform(range(1, len(tk)-1), " +
          "i -> tk[i] || chr(31) || tk[i+1] || chr(31) || tk[i+2])) END) AS shingle FROM toks), " +
          "tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 25), " +
          "be AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 25) " +
          "SELECT tr.doc_id, be.bench_id, count(*) AS overlap FROM tr JOIN be USING (shingle) " +
          "GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY doc_id, bench_id"),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        contamination(docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25), 3)
          .orderBy(col("doc_id"), col("bench_id"))
      }),

    // SEMANTIC decontamination over the same planted benchmark split:
    // every (train, bench) pair whose hashed-embedding cosine clears
    // 0.95 — the corpus's planted exact/near clones guarantee
    // cross-boundary hits at every SF. FULL data-bearing oracle: DuckDB
    // rebuilds both sides' 16-dim hashed embeddings through the
    // s08-proven sha-256 chain, densifies (ordered list aggregate over
    // a bucket grid), and replays list_cosine_similarity — sequential
    // double accumulation on both engines, bit-identical pre-rounding.
    // The isnan guard is load-bearing: DuckDB orders NaN ABOVE every
    // number, so a zero-norm doc would otherwise flag there only.
    NamedQuery(
      "p20_semantic_decontam",
      Some(
        "WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents), " +
          "b AS (SELECT doc_id, CAST(list_reduce(list_transform(range(1, 9), " +
          "i -> strpos('0123456789abcdef', sha256(token)[i]) - 1), (a, c) -> a * 16 + c) % 16 AS INT) AS bucket, " +
          "CASE WHEN (strpos('0123456789abcdef', sha256(token)[9]) - 1) % 2 = 1 THEN -1 ELSE 1 END AS sign FROM tok), " +
          "sp AS (SELECT doc_id, bucket, CAST(sum(sign) AS DOUBLE) AS w FROM b GROUP BY doc_id, bucket), " +
          "nm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM sp GROUP BY doc_id), " +
          "wgt AS (SELECT doc_id, bucket, " +
          OracleRound.stableRoundSql("CASE WHEN nrm > 0 THEN w / nrm ELSE 0.0 END", 4) +
          " AS weight FROM sp JOIN nm USING (doc_id)), " +
          "grid AS (SELECT d.doc_id, r.i AS bucket FROM (SELECT DISTINCT doc_id FROM wgt) d, range(0, 16) r(i)), " +
          "dense AS (SELECT g.doc_id, g.bucket, coalesce(w.weight, 0.0) AS weight " +
          "FROM grid g LEFT JOIN wgt w USING (doc_id, bucket)), " +
          "vecs AS (SELECT doc_id, list(weight ORDER BY bucket) AS v FROM dense GROUP BY doc_id), " +
          "pr AS (SELECT t.doc_id AS doc_id, e.doc_id AS bench_id, " +
          "list_cosine_similarity(t.v, e.v) AS raw FROM vecs t, vecs e " +
          "WHERE t.doc_id >= 25 AND e.doc_id < 25) " +
          "SELECT doc_id, bench_id, " + OracleRound.stableRoundSql("raw", 4) + " AS sim " +
          "FROM pr WHERE NOT isnan(raw) AND raw >= 0.95 ORDER BY doc_id, bench_id"),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        semanticContamination(
          docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25), 16, 0.95)
          .orderBy(col("doc_id"), col("bench_id"))
      }),

    // corpus-version diff over a deterministic synthetic "next release":
    // docs 0..24 dropped, every %7==0 survivor edited (' v2' appended),
    // ten re-keyed (+1e6) docs added. The DuckDB oracle rebuilds both
    // snapshots from strings and compares text directly — a hash match
    // also certifies the digest-only Spark diff saw every edit.
    NamedQuery(
      "p21_corpus_diff",
      Some(
        "WITH o AS (SELECT doc_id, text FROM documents), " +
          "n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text " +
          "FROM documents WHERE doc_id >= 25 " +
          "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10) " +
          "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
          "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' " +
          "WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged' ELSE 'changed' END AS status " +
          "FROM o FULL JOIN n ON o.doc_id = n.doc_id ORDER BY doc_id"),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        val next = docs.filter(col("doc_id") >= 25)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        corpusDiff(docs, next).orderBy(col("doc_id"))
      }),

    // fractional contamination report over the same planted benchmark
    // split: per train doc, the fraction of its distinct 3-gram shingles
    // present anywhere in the benchmark union set, thresholded at 0.2.
    // The DuckDB oracle rebuilds both shingle sets from strings and
    // replays count, fraction, and verdict.
    NamedQuery(
      "p14_contamination_frac",
      Some(
        "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents), " +
          "sh AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, chr(31))] " +
          "ELSE list_distinct(list_transform(range(1, len(tk)-1), " +
          "i -> tk[i] || chr(31) || tk[i+1] || chr(31) || tk[i+2])) END) AS shingle FROM toks), " +
          "be AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 25), " +
          "tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 25), " +
          "sc AS (SELECT tr.doc_id, count(*) AS n_shingles, count(be.shingle) AS n_hit " +
          "FROM tr LEFT JOIN be ON tr.shingle = be.shingle GROUP BY tr.doc_id) " +
          "SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, " +
          "CAST(n_hit AS BIGINT) AS n_hit, " +
          OracleRound.stableRoundSql("CAST(n_hit AS DOUBLE) / n_shingles", 4) + " AS hit_frac, " +
          "CAST(CASE WHEN CAST(n_hit AS DOUBLE) / n_shingles >= 0.2 THEN 0 ELSE 1 END AS INT) AS keep " +
          "FROM sc ORDER BY doc_id"),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        contaminationScore(docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25))
          .orderBy(col("doc_id"))
      }),

    NamedQuery(
      "p01_pipeline_curation",
      Some(
        s"WITH RECURSIVE ${Dedup.ngramPairsSql(0.5)}, " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
          "UNION ALL SELECT id_b, id_a FROM pairs), " +
          "reach(id, lab) AS (SELECT DISTINCT src, src FROM edges " +
          "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst), " +
          "drops AS (SELECT id FROM reach GROUP BY id HAVING min(lab) <> id), " +
          "tk AS (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS tk FROM documents), " +
          s"q AS (SELECT doc_id, text, len(tk) AS n_tokens, " +
          s"least(len(tk) / 50.0, 1.0) * 0.5 + " +
          s"len(list_filter(tk, t -> list_contains([$stops], t))) / len(tk) * 0.5 AS quality FROM tk), " +
          "scored AS (SELECT * FROM q WHERE n_tokens >= 5 AND quality >= 0.2), " +
          "keep AS (SELECT min(doc_id) AS doc_id FROM scored GROUP BY text) " +
          "SELECT doc_id, " + OracleRound.stableRoundSql("quality", 4) + " AS quality " +
          "FROM scored WHERE doc_id IN (SELECT doc_id FROM keep) " +
          "AND doc_id NOT IN (SELECT id FROM drops) ORDER BY doc_id"),
      (s, dir) => {
        curate(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
          Dedup.exactJaccardPairs(s, dir, 0.5))
          .orderBy(col("doc_id"))
      }),

    // reproducible stratified sampling / dataset mixing: every doc gets a
    // stable pseudo-random bucket from md5(doc_id) — NOT rand() — so the
    // sample is identical across runs, engines, and cluster layouts (the
    // property a 100 TB training-mix pipeline needs for resumable /
    // auditable subsampling). Per-language quotas realize a target mix;
    // the DuckDB oracle replays the same hash gate bit-for-bit.
    NamedQuery(
      "p02_stratified_sample",
      Some(
        "WITH g AS (SELECT doc_id, lang, " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket " +
          "FROM documents) " +
          "SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket FROM g " +
          "WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 300 " +
          "WHEN 'es' THEN 200 ELSE 100 END ORDER BY doc_id"),
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .withColumn("bucket",
            (StableHash.id32(col("doc_id")) % 1000).as("bucket"))
          .filter(col("bucket") <
            when(col("lang") === "en", 500)
              .when(col("lang") === "de", 300)
              .when(col("lang") === "es", 200)
              .otherwise(100))
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy(col("doc_id")))
,
    // corpus card per (source, lang). DuckDB carries the sums in HUGEINT
    // (exact int128) mirroring Spark's DECIMAL(38,0) — both exact, so the
    // variance numerator agrees bit-for-bit before the double division.
    NamedQuery(
      "p16_corpus_card",
      Some(
        "WITH t AS (SELECT source, lang, " +
          "CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_toks, " +
          "CAST(length(text) AS BIGINT) AS nc FROM documents), " +
          "g AS (SELECT source, lang, count(*) AS n_docs, " +
          "sum(CAST(n_toks AS HUGEINT)) AS s1, " +
          "sum(CAST(n_toks AS HUGEINT) * n_toks) AS s2, " +
          "CAST(sum(nc) AS BIGINT) AS n_chars, " +
          "min(n_toks) AS min_tokens, max(n_toks) AS max_tokens " +
          "FROM t GROUP BY source, lang) " +
          "SELECT source, lang, n_docs, CAST(s1 AS BIGINT) AS n_tokens, " +
          "n_chars, min_tokens, max_tokens, " +
          OracleRound.stableRoundSql("CAST(s1 AS DOUBLE) / n_docs", 4) + " AS mean_tokens, " +
          "CASE WHEN n_docs > 1 THEN " +
          OracleRound.stableRoundSql(
            "CAST(n_docs * s2 - s1 * s1 AS DOUBLE) / (n_docs * (n_docs - 1))", 4) +
          " ELSE 0.0 END AS var_tokens " +
          "FROM g ORDER BY source, lang"),
      (s, dir) =>
        corpusCard(Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"), col("lang")))
          .orderBy(col("source"), col("lang")))
  )
}
