package graft.operators

import java.nio.file.Files

import graft.GraftSession.withScratch
import graft.Tables
import graft.engine.{Catalog, PartSet}
import graft.functions.{bandBits, cosineSim, denseFromMap, hyperplaneSig, l2Norm, l2SqDist,
  nearestCentroid, pqAdc, pqDistTable, pqEncode, vecScale, vecSub}
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{DataFrame, GraftParquetBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search.
  *
  * DataFrame-first API: `base` is `(vec_id: long, embedding:
  * array<float|double>)`, `queries` is `(query_id, q_emb)`; the `queries`
  * entries below bind them to the driver's testdata (query set =
  * vec_id < 8).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the full base table, ranked per query. This is the exact
  * answer and the yardstick for any ANN index; at 100 TB the base side
  * stays partition-parallel and only the query set is broadcast.
  *
  * Scale paths: hyperplane-LSH bucketing (candidates from an equi-join on
  * (band, bucket) — the full cross product never materializes) and IVF
  * (learned coarse quantizer, nprobe-cell probe, exact re-rank; see
  * [[writeIvfPqIndex]] for the cell-partitioned on-disk version).
  *
  * Every driver-visible query is oracle-gated: s01 is bit-exact vs
  * DuckDB's list_cosine_similarity; s02/s03 emit per-index planted-clone
  * verdicts (constant oracle); s04 asserts a recall@10 floor; s05 asserts
  * both indexes rank a planted clone first. The raw approximate top-k
  * shapes live in OperatorsSpec.
  */
object Similarity {

  import OracleRound.stableRound

  private def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("raw_cos").desc, col("vec_id"))
    cand
      // codegen'd kernel: sequential double accumulation, bit-identical
      // to the aggregate(zip_with(...)) spelling and to DuckDB's
      // list_cosine_similarity, minus the per-element lambda interpretation
      .withColumn("raw_cos", cosineSim(col("q_emb"), col("b_emb")))
      // cosine is consumed here: project the embeddings away so the
      // per-query window exchange carries 3 scalars per candidate, not
      // two vectors. A zero-norm side yields NaN cosine, and Spark
      // sorts NaN ABOVE every double — unguarded, one degenerate
      // vector would rank #1 for every query it reaches; drop it (the
      // s07 hygiene operator is where degenerate vectors get reported)
      .filter(!isnan(col("raw_cos")))
      .select(col("query_id"), col("vec_id"), col("raw_cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact cosine top-k per query: broadcast the query side, rank per
    * query. Columns: query_id, vec_id, raw_cos, rank. */
  def bruteForceTopK(base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    rankTopK(
      base.select(col("vec_id"), col("embedding").as("b_emb"))
        .join(broadcast(queries), col("vec_id") =!= col("query_id")), k)
  }

  /** LSH-bucketed top-k: 32-bit hyperplane signature split into 8 bands
    * of 4 bits; candidates are (band, bucket) collisions, re-ranked
    * exactly. */
  def lshTopK(base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def banded(df: DataFrame, id: String, emb: String): DataFrame =
      df.withColumn("sig", hyperplaneSig(col(emb), 32))
        .select(col(id), col(emb), col("sig"),
          posexplode(bandBits(col("sig"), 8, 4))
            .as(Seq("band", "bucket")))
    val bb = banded(base.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
    val qb = banded(queries, "query_id", "q_emb")
    // keep a (query, vector) candidate only in its LOWEST agreeing band
    // (both sigs are in hand — nibble j of b.sig ^ q.sig is zero iff band
    // j agrees): unique by construction, which deletes the distinct()
    // that re-shuffled both embedding columns per candidate
    val firstMatch = (0 until 8).map { bnd =>
      val earlierDiffer = (0 until bnd)
        .map(j => s"(shiftright(b.sig, ${j * 4}) & 15) != (shiftright(q.sig, ${j * 4}) & 15)")
      (s"b.band = $bnd" +: earlierDiffer).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val cand = bb.as("b")
      .join(qb.as("q"),
        col("b.band") === col("q.band") && col("b.bucket") === col("q.bucket") &&
          col("b.vec_id") =!= col("q.query_id"))
      .filter(expr(firstMatch))
      .select(col("q.query_id"), col("b.vec_id"), col("q.q_emb"), col("b.embedding").as("b_emb"))
    rankTopK(cand, k)
  }

  /** The quantizer's bounded training sample: the 4096 SMALLEST vec_ids,
    * by rank — not an absolute `vec_id < 4096` filter, which returns an
    * EMPTY sample for corpora whose ids all exceed 4096 (arbitrary bigint
    * PKs are legal in managed tables fed to the SemDeDup TVFs) and made
    * KMeans.fit throw. For id spaces dense from 0 (every driver corpus)
    * the two definitions pick the identical set. Shared by
    * [[trainQuantizer]] and [[quantizedCells]]'s safe-sizing cap so the
    * cap is computed over the SAME rows the model trains on.
    *
    * The sort key is (xxhash64(vec_id), vec_id) — a DIVERSITY-PRESERVING
    * pseudo-random 4096-sample that is still fully deterministic (fixed
    * hash seed, id tiebreak): a corpus whose lowest ids are homogeneous
    * (e.g. a templated ingest batch first) would train a degenerate
    * quantizer under a smallest-id sample and collapse quantizedCells to
    * ONE cell (quadratic semDedup) — hashing the id decorrelates sample
    * membership from ingest order, killing that cliff class entirely.
    * The s04/s05 recall floors are pinned against this sample. */
  private[operators] def quantizerSample(base: DataFrame): DataFrame =
    base.sort(xxhash64(col("vec_id")), col("vec_id")).limit(4096)

  /** Trains the IVF coarse quantizer DRIVER-SIDE over the bounded
    * deterministic sample (standard IVF practice: the quantizer trains
    * on a bounded sample; ours caps at 4096 vectors — model-metadata
    * scale, the same class as the pqTrain sample it already collects).
    * Seeds are STRIDED through the hash-ordered sample (xxhash order is
    * diversity order — an ordered-prefix seed would inherit the
    * writeEmbedIndex clustered-ingest degeneracy), then 5 Lloyd rounds;
    * empty clusters keep their previous center (the pqTrain
    * convention). Fully deterministic and executor-count-independent by
    * construction.
    *
    * Why not `KMeans.fit`: on a 4096-row single-partition sample the
    * distributed fit is pure JOB-SCHEDULING latency (~15 tiny jobs,
    * measured 1.5 s warm — paid per artifact-build statement in
    * s17/s18/s20), while the same arithmetic is ~20 ms on the driver.
    * The returned KMeansModel (via GraftKMeansBridge) is a plain center
    * carrier — every consumer reads only `clusterCenters`. */
  def trainQuantizer(base: DataFrame, k: Int = 16): KMeansModel = {
    require(k > 0, "need k > 0")
    // hash order IS the sample's diversity order — keep it for seeding
    val sample: Array[Array[Double]] = quantizerSample(base)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "trainQuantizer needs a non-empty corpus")
    val dim = sample.head.length
    var cent: Array[Array[Double]] =
      Array.tabulate(k)(j => sample(((j.toLong * sample.length) / k).toInt).clone())
    var it = 0
    while (it < 5) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var d = 0.0
          var i = 0
          while (i < dim) { val diff = v(i) - cent(c)(i); d += diff * diff; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cent = Array.tabulate(k)(c =>
        if (counts(c) == 0L) cent(c) else sums(c).map(_ / counts(c)))
      it += 1
    }
    val model = org.apache.spark.ml.clustering.GraftKMeansBridge.fromCenters(cent)
    // the degenerate-sample cliff (quantizerSample's KNOWN TRADE) is
    // graceful but silent — surface a runtime signal when the trained
    // model collapsed. Detection is DRIVER-SIDE over the k centroid
    // vectors (model metadata): a homogeneous sample collapses the
    // centroids onto one point, so < 2 distinct centers ⟺ < 2 effective
    // cells. (summary.clusterSizes would re-run the sample plan as a
    // Spark job inside every quantizer consumer — measured +0.3-0.5 s
    // per SemDeDup-family query.)
    val distinctCenters = model.clusterCenters.map(_.toArray.toSeq).distinct.length
    if (distinctCenters < 2)
      org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity").warn(
        s"trained quantizer collapsed to $distinctCenters distinct center(s) " +
          s"over the $k-cell sample — the sample is homogeneous; downstream " +
          "cell-bucketed operators will degrade toward single-cell " +
          "(quadratic) behavior. Consider a diversity-preserving sample.")
    model
  }

  /** Nearest-centroid CELL assignment over `(vec_id, embedding)` — the
    * coarse-quantization step IVF probing and SemDeDup pruning share:
    * adds a `cell` column (a per-row map, no shuffle). Assignment runs
    * through the codegen'd [[graft.functions.NearestCentroid]] kernel
    * (direct argmin of the squared distance, ties to the smallest
    * index) — the SAME kernel Lloyd k-means, the incremental admit
    * probes, and [[appendIvfPqIndex]] use, and the same direct-argmin
    * the DuckDB oracles replay with list_distance. Routing through
    * MLlib's `transform` would compute distance by the norm trick
    * (‖a‖²+‖b‖²−2ab), which rounds differently in ulps and can flip
    * near-equidistant assignments against every other consumer. */
  def assignCells(base: DataFrame, model: KMeansModel): DataFrame = {
    val cents = model.clusterCenters.map(_.toArray.toSeq).toSeq // k×dim metadata
    // the kernel reads float arrays natively (its `floats` flag) — no
    // per-row widened copy
    base.select(col("vec_id"), col("embedding"),
      nearestCentroid(col("embedding"), typedLit(cents)).as("cell"))
  }

  /** IVF top-k: assign base vectors to their nearest centroid (the
    * "inverted file"), probe the nprobe nearest cells per query, exact
    * re-rank of those cells only — the canonical billion-vector plan
    * shape (equi-join on a coarse key, then re-rank). */
  def ivfTopK(base: DataFrame, queries: DataFrame, model: KMeansModel,
      k: Int, nprobe: Int = 4): DataFrame = {
    val assigned = assignCells(base, model)
    // centroid table is model metadata (16 rows) — broadcast by size
    val centroids = centroidTable(base.sparkSession, model)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("dist", l2SqDist(col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    // candidates = base vectors in probed cells (at scale: the base table
    // is PARTITIONED BY cell on disk, so a probe reads nprobe/k of it —
    // the writeIvfPqIndex layout)
    rankTopK(
      probes.join(assigned, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("q_emb"), col("embedding").as("b_emb")), k)
  }

  /** A trained product quantizer: `m` subspaces of `sub` dims, `k`
    * centroids each, flattened to one double[] (layout
    * [(s·k + c)·sub + i]) — the bounded artifact [[pqTrain]] produces
    * and the codegen'd kernels ([[graft.functions.PqEncode]] et al.)
    * bind as constructor data. */
  final case class PqModel(m: Int, k: Int, sub: Int, cents: Array[Double])

  /** PRODUCT-QUANTIZATION training (Jégou/Douze/Schmid, TPAMI 2011 —
    * the standard public method): per-subspace Lloyd k-means over the
    * deterministic [[quantizerSample]], seeds = the first `k` sample
    * subvectors in vec_id order, ties to the smallest index — fully
    * deterministic, so recall gates never move with partition layout.
    * The sample collect is bounded (≤4096 × dim doubles, the quantizer
    * convention); everything corpus-sized stays distributed in
    * [[pqTopK]].
    *
    * Defaults (m=16 four-dim subspaces × 64 centroids) were swept on
    * the synthetic corpus — uniform random vectors, PQ's hardest
    * regime: recall@5 vs exact euclidean 0.20 at the literature's
    * m=8/k=16, 0.525 at m=16/k=64, 0.775 at m=32/k=64. More, smaller
    * subspaces beat more centroids here because the bounded sample
    * can't populate 256 centroids per subspace. */
  def pqTrain(base: DataFrame, m: Int = 16, k: Int = 64, iters: Int = 5): PqModel = {
    require(m > 0 && k > 0 && iters >= 0, "need m > 0, k > 0, iters >= 0")
    val sample: Array[Array[Double]] = quantizerSample(base)
      .orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>").as("e"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTrain needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m")
    val sub = dim / m
    val cents = new Array[Double](m * k * sub)
    var s = 0
    while (s < m) {
      // duplicate seeds (sample smaller than k) are harmless: assignment
      // ties go to the smallest index, so the duplicates go unused
      var cent: Array[Array[Double]] =
        Array.tabulate(k)(c => sample(c % sample.length).slice(s * sub, (s + 1) * sub))
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Long](k)
        sample.foreach { v =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var d = 0.0
            var i = 0
            while (i < sub) {
              val diff = v(s * sub + i) - cent(c)(i); d += diff * diff; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += v(s * sub + i); i += 1 }
        }
        cent = Array.tabulate(k)(c =>
          if (counts(c) == 0L) cent(c) else sums(c).map(_ / counts(c)))
        it += 1
      }
      var c = 0
      while (c < k) {
        var i = 0
        while (i < sub) { cents((s * k + c) * sub + i) = cent(c)(i); i += 1 }
        c += 1
      }
      s += 1
    }
    PqModel(m, k, sub, cents)
  }

  /** PQ top-k — the compressed exhaustive scan that makes 10⁹+-vector
    * ANN affordable: base vectors encode to m small codes in a pure
    * narrow projection (the float vector is projected away AT THE SCAN,
    * so the candidate stage moves m ints per vector instead of dim
    * floats — a 64-dim float corpus shrinks 32× on the wire); each
    * query precomputes its m×k ADC distance table once and broadcasts
    * (query_id, table); a candidate's approximate distance is m table
    * lookups inside codegen. Rank window carries 3 scalars per
    * candidate (the s01 convention).
    *
    * `excludeSelf` (default true — the corpus-ANN convention, where
    * queries are corpus members and vec_id = query_id is a self-pair):
    * pass FALSE when base and queries are INDEPENDENT relations whose
    * id spaces coincidentally overlap, or an id-sharing true neighbor
    * is silently dropped (the knnLabel lesson). At deployment scale,
    * compose with the IVF cell layout: encode within probed cells
    * only. */
  def pqTopK(base: DataFrame, queries: DataFrame, model: PqModel, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val codes = base.select(col("vec_id"), pqEncode(col("embedding"), model.cents, model.m, model.k, model.sub).as("codes"))
    val qt = queries.select(col("query_id"), pqDistTable(col("q_emb"), model.cents, model.m, model.k, model.sub).as("qtab"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    (if (excludeSelf) codes.join(broadcast(qt), col("vec_id") =!= col("query_id"))
     else codes.crossJoin(broadcast(qt)))
      .withColumn("dist", pqAdc(col("codes"), col("qtab"), model.k))
      .select(col("query_id"), col("vec_id"), col("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The coarse-centroid relation of a trained k-means model — model
    * metadata (k rows), always broadcast. */
  private def centroidTable(s: SparkSession, model: KMeansModel): DataFrame =
    s.createDataFrame(
      model.clusterCenters.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")

  /** The RESIDUAL relation an IVF-ADC product quantizer trains on:
    * each vector minus its assigned coarse centroid (residuals center
    * near zero — training PQ on raw vectors and encoding residuals
    * would put every centroid in the wrong place). */
  private def residuals(base: DataFrame, km: KMeansModel): DataFrame =
    assignCells(base, km)
      .join(broadcast(centroidTable(base.sparkSession, km)), Seq("cell"))
      .select(col("vec_id"),
        vecSub(col("embedding"), col("centroid")).as("embedding"))

  /** IVF-ADC top-k (Jégou/Douze/Schmid TPAMI 2011, the IVFADC system —
    * the canonical billion-vector index): a coarse quantizer routes each
    * vector to a cell (the inverted file), a product quantizer encodes
    * its RESIDUAL from the cell centroid to m codes, and a query probes
    * its `nprobe` nearest cells carrying one ADC table per probed cell
    * (computed on the query's residual from THAT cell's centroid).
    * Candidate cost: m table lookups over only the probed cells'
    * members — both the memory lever (codes, not vectors) and the
    * compute lever (cell pruning) at once.
    *
    * Scale shape: the code relation is built by a narrow projection
    * through two broadcasts (centroids = model metadata); at deployment
    * scale it is PARTITIONED BY cell on disk ([[writeIvfPqIndex]]), so
    * a probe reads nprobe/k of the corpus. The probe side broadcasts
    * (query_id, cell, table) — bounded queries × nprobe rows; no float
    * vector ever crosses a shuffle. */
  /** The PERSISTED IVF-ADC index relation (cell, vec_id, codes) — the
    * deployment artifact: the corpus is encoded ONCE (coarse cell +
    * residual PQ codes in one narrow projection through two broadcasts)
    * and written `partitionBy("cell")`, so every later query reads
    * nprobe/k of the code files and never touches a float vector.
    * Storage is m bytes-ish per vector instead of dim floats — the
    * billion-vector index fits where the raw corpus cannot. Query it
    * with [[ivfPqTopKFromIndex]]; [[ivfPqTopK]] is the inline
    * (re-encode per call) composition of the two. */
  def ivfPqIndex(base: DataFrame, km: KMeansModel, pq: PqModel): DataFrame = {
    val centroids = centroidTable(base.sparkSession, km)
    assignCells(base, km)
      .join(broadcast(centroids), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        vecSub(col("embedding"), col("centroid")).as("resid"))
      .select(col("cell"), col("vec_id"), pqEncode(col("resid"), pq.cents, pq.m, pq.k, pq.sub).as("codes"))
  }

  def ivfPqTopK(base: DataFrame, queries: DataFrame, km: KMeansModel, pq: PqModel,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame =
    ivfPqTopKFromIndex(ivfPqIndex(base, km, pq), queries, km, pq, k, nprobe, excludeSelf)

  /** IVF-ADC top-k over a prebuilt (cell, vec_id, codes) index — in
    * memory or read back from a cell-partitioned parquet layout, where
    * the broadcast probe join becomes a partition filter on the scan. */
  def ivfPqTopKFromIndex(codes: DataFrame, queries: DataFrame, km: KMeansModel,
      pq: PqModel, k: Int, nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val centroids = centroidTable(codes.sparkSession, km)
    adcTopK(codes, queries, centroids, pq, probeCellsOf(queries, centroids, nprobe),
      k, excludeSelf)
  }

  /** (query_id, cell) probe relation: each query's `nprobe` nearest
    * coarse cells by exact centroid distance. cdist is consumed before
    * the probe-rank window, so its exchange carries (query_id, cell,
    * cdist) scalars — no query vector crosses a shuffle. */
  private def probeCellsOf(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cell"))
    queries.crossJoin(broadcast(centroids))
      .withColumn("cdist", l2SqDist(col("q_emb"), col("centroid")))
      .select(col("query_id"), col("cell"), col("cdist"))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("cell"))
  }

  /** The ADC scoring tail shared by every IVF-ADC entry point: the query
    * vector rejoins its probed cells by broadcast only to compute the
    * per-cell residual distance tables; the codes relation is scanned at
    * code width and ranked per query. */
  private def adcTopK(codes: DataFrame, queries: DataFrame, centroids: DataFrame,
      pq: PqModel, probeCells: DataFrame, k: Int, excludeSelf: Boolean): DataFrame = {
    val probes = probeCells
      .join(broadcast(queries), Seq("query_id"))
      .join(broadcast(centroids), Seq("cell"))
      .select(col("query_id"), col("cell"),
        vecSub(col("q_emb"), col("centroid")).as("qres"))
      .select(col("query_id"), col("cell"), pqDistTable(col("qres"), pq.cents, pq.m, pq.k, pq.sub).as("qtab"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    codes.join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .withColumn("dist", pqAdc(col("codes"), col("qtab"), pq.k))
      .select(col("query_id"), col("vec_id"), col("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Writes the COMPLETE IVF-ADC deployment artifact set under `path` —
    * everything a later session needs to answer queries with no
    * retraining and no base-corpus access:
    *   - `codes/`      (vec_id, codes) parquet, PARTITIONED BY cell
    *   - `centroids/`  (cell, centroid) — coarse-quantizer metadata
    *   - `pq/`         one row (m, k, sub, cents) — the product quantizer
    * The corpus is scanned once to train (bounded deterministic sample)
    * and once to encode; both model artifacts are k×dim-scale metadata.
    * Returns a one-row build report (n_vectors, cells, m,
    * k_per_subspace) — the write itself is EAGER. Query the artifacts
    * with [[ivfPqQueryIndex]] (or SQL `graft_ivfpq_query`). */
  def writeIvfPqIndex(base: DataFrame, path: String, cells: Int = 16,
      m: Int = 16, kps: Int = 64): DataFrame = {
    val s = base.sparkSession
    val (km, pq) = ivfPqTrain(base, cells, m, kps) // trains off-path, unlocked
    // the REBUILD is index maintenance too: unlocked, a compaction racing
    // it would publish its rewrite of pre-rebuild cells into the rebuilt set
    withMaintenanceLock(s, path, "ivfpq-build") {
      rebuild(indexParts(path, "codes"), ivfPqIndex(base, km, pq))
      centroidTable(s, km)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      s.createDataFrame(Seq((pq.m, pq.k, pq.sub, pq.cents.toSeq)))
        .toDF("m", "k", "sub", "cents")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
      val n = readIndex(s, path, "codes").count() // parquet-footer count
      s.createDataFrame(Seq((n, cells, m, kps)))
        .toDF("n_vectors", "cells", "m", "k_per_subspace")
    }
  }

  /** Loads the artifact set [[writeIvfPqIndex]] persisted:
    * (codes relation, centroid relation, product quantizer). */
  def readIvfPqArtifacts(s: SparkSession, path: String): (DataFrame, DataFrame, PqModel) = {
    val r = s.read.parquet(s"$path/pq").head()
    val pq = PqModel(r.getAs[Int]("m"), r.getAs[Int]("k"), r.getAs[Int]("sub"),
      r.getSeq[Double](r.fieldIndex("cents")).toArray)
    (readIndex(s, path, "codes"), s.read.parquet(s"$path/centroids"), pq)
  }

  /** Appends an increment to a PERSISTED IVF-ADC index with NO
    * retraining and no base-corpus access — the index-MAINTENANCE leg of
    * the deployment flow ([[writeIvfPqIndex]] builds once,
    * [[ivfPqQueryIndex]] answers, this keeps the artifact current as the
    * corpus grows). The stored centroid table (k×dim model metadata —
    * the sanctioned bounded collect) binds as a LITERAL into one narrow
    * codegen'd projection: nearest-centroid assignment (ties to the
    * smallest cell, the build-side parity) → residual vs the assigned
    * centroid (broadcast join, embeddings never shuffle) → PQ codes,
    * appended to the cell-partitioned code files.
    *
    * Admission is the CALLER's concern — compose with
    * [[incrementalEmbedAdmit]]/`graft_embed_admit` upstream so clones
    * (and duplicate vec_ids WITHIN the increment) never reach the index;
    * this appends what it is given. Model DRIFT is the documented trade:
    * appended vectors quantize against the ORIGINAL centroids/PQ (the
    * standard IVF maintenance posture); rebuild when the increment's
    * distribution departs enough that recall decays. Returns a one-row
    * report (n_appended, n_total): n_appended counts the ENCODED
    * increment itself (pinned before the write, so the number is exact
    * for THIS call even if another writer appends concurrently);
    * n_total is the post-write parquet-footer count and assumes the
    * SINGLE-WRITER maintenance posture (concurrent appenders race the
    * footer read — serialize index maintenance, as any file-based index
    * requires). */
  /** LOUD single-writer guard for file-based index maintenance (r14
    * VERDICT task 5): create-exclusive `$path/_lock` held for the
    * maintenance call's duration — a second concurrent maintainer fails
    * IMMEDIATELY with a diagnosable error instead of silently racing
    * the footer read / partition layout into corruption. The index is a
    * local [[PartSet]], and the lock is created through java.nio
    * (`Files.createFile`, atomic create-new; Hadoop's local file system
    * forks `chmod` on every create without native IO). Once
    * acquired, the lock is stamped with holder pid + timestamp + the
    * operation name (r15 VERDICT task 7), so the held-error's "inspect
    * the artifact" step has something to inspect — the stamp is
    * surfaced in the error a blocked maintainer throws. The lock always
    * releases in finally; a crash mid-hold leaves the file behind
    * deliberately — stale-lock cleanup is an operator decision, not
    * something to time out silently. */
  private[graft] def withMaintenanceLock[T](s: SparkSession, path: String,
      op: String)(body: => T): T = {
    val lock = maintenanceLockFile(path)
    Files.createDirectories(lock.getParent)
    // ONLY an already-exists outcome means "held": a genuine IO failure
    // (permissions, unreachable filesystem) must surface as itself, not
    // as a phantom concurrent maintainer whose error tells the operator
    // to delete a lock that doesn't exist (r15 ADVICE)
    val acquired =
      try { Files.createFile(lock); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!acquired) {
      val holder = lockHolder(lock) // best-effort: the stamp is diagnostics, never a gate
      throw new IllegalStateException(
        s"index maintenance lock already held: $lock exists" +
          (if (holder.nonEmpty) s" (holder: $holder)" else "") +
          " — a concurrent build/append/admit/compact is running (or crashed " +
          "mid-write; inspect the artifact and delete the lock to recover). " +
          "Concurrent maintainers race the footer read and the partition " +
          "layout; serialize them.")
    }
    // stamp AFTER the atomic acquisition (a write into the file we own).
    // Failure to stamp never fails the maintenance call. The
    // stamp runs INSIDE the release-protected region: any exception it
    // throws (not just IOException) must still release the lock, or a
    // stamping hiccup leaves a permanent phantom 'concurrent maintainer'
    try {
      try Files.writeString(lock, s"pid=${ProcessHandle.current().pid()} ts=${java.time.Instant.now()} op=$op\n")
      catch { case _: java.io.IOException => () }
      body
    } finally Files.deleteIfExists(lock)
  }

  private def maintenanceLockFile(path: String): java.nio.file.Path = java.nio.file.Paths.get(path, "_lock")

  /** The lock's holder stamp, or "" when it cannot be read. */
  private def lockHolder(lock: java.nio.file.Path): String =
    try Files.readString(lock).trim catch { case _: java.io.IOException => "" }

  /** STALE-LOCK RECOVERY (r16 VERDICT task 5): a maintainer killed
    * between acquiring `$path/_lock` and its finally-release leaves the
    * lock behind permanently — diagnosable via the pid/ts/op stamp, but
    * previously recoverable only by hand-deleting warehouse files. This
    * is the sanctioned recovery spelling (SQL:
    * `graft_maintenance_unlock('path')`): it reads the holder stamp,
    * deletes the lock, and returns a one-row (unlocked, holder) report
    * so the takeover is an EXPLICIT, audited operator decision — never
    * a silent timeout (a pid-liveness/age heuristic can seize a lock
    * from a live slow maintainer; this cannot, because a human decided).
    * Calling it with no lock present reports (false, "") and changes
    * nothing. The caller owns verifying the stamped pid is dead before
    * unlocking — the stamp in the report is exactly what to check. */
  def maintenanceUnlock(spark: SparkSession, path: String): DataFrame = {
    val lock = maintenanceLockFile(path)
    val holder = lockHolder(lock) // best-effort, as in withMaintenanceLock's blocked path
    val unlocked = try Files.deleteIfExists(lock)
      catch { case _: java.io.IOException => false }
    spark.createDataFrame(Seq((unlocked, holder))).toDF("unlocked", "holder")
  }

  def appendIvfPqIndex(increment: DataFrame, path: String): DataFrame =
    withMaintenanceLock(increment.sparkSession, path, "ivfpq-append") {
      appendIvfPqIndexUnlocked(increment, path)
    }

  private def appendIvfPqIndexUnlocked(increment: DataFrame, path: String): DataFrame = {
    val s = increment.sparkSession
    val (_, cents, pq) = readIvfPqArtifacts(s, path)
    val centroids = cents.localCheckpoint() // k×dim metadata; two consumers
    val centArr = centroids.orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq // ordered so index == cell id
    // pin the encoded increment: the write and the report read the SAME
    // rows (a lazy plan would re-encode per consumer, and a before/after
    // footer diff would mis-report under a concurrent or partial append)
    val encoded = increment
      .withColumn("cell",
        nearestCentroid(col("embedding"), typedLit(centArr)))
      .join(broadcast(centroids), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        vecSub(col("embedding"), col("centroid")).as("resid"))
      .select(col("cell"), col("vec_id"), pqEncode(col("resid"), pq.cents, pq.m, pq.k, pq.sub).as("codes"))
      .localCheckpoint(false) // lazy: the count below materializes it
    val nAppended = encoded.count()
    val codes = indexParts(path, "codes")
    stageCells(codes, encoded)(codes.commitStaged)
    val after = readIndex(s, path, "codes").count()
    s.createDataFrame(Seq((nAppended, after))).toDF("n_appended", "n_total")
  }

  /** Answers queries from a PERSISTED index path — the deployment read
    * path: NO training, NO base-corpus scan. Probe cells are ranked
    * against the stored centroid table, collapsed to a bounded
    * distinct-cell set (≤ the model's cell count — model-metadata scale,
    * the same bounded-collect class as centroid tables), and applied as
    * a STATIC `IN` filter on the codes read, so partition pruning keeps
    * the scan to the probed cells' files (nprobe/cells of the index).
    * NOTE: resolving the probe set runs an eager bounded job at
    * construction time — this is a deployment query call, not a lazy
    * plan builder. */
  def ivfPqQueryIndex(queries: DataFrame, path: String, k: Int, nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val s = queries.sparkSession
    val (codes, cents, pq) = readIvfPqArtifacts(s, path)
    val centroids = cents.localCheckpoint() // k×dim metadata; three consumers
    val probes = probeCellsOf(queries, centroids, nprobe)
      // bounded |queries|×nprobe; feeds filter + scoring. Lazy: the
      // cell-set collect below materializes it
      .localCheckpoint(false)
    val cellSet = probes.select(col("cell")).distinct().collect()
      .map(r => r.get(0)) // ≤ cells values — bounded by model metadata
    adcTopK(codes.filter(col("cell").isin(cellSet.toIndexedSeq: _*)),
      queries, centroids, pq, probes, k, excludeSelf)
  }

  /** TWO-STAGE PQ retrieval — the production ANN shape: an ADC
    * shortlist of `shortlist` candidates per query (compressed codes
    * only), then an EXACT cosine re-rank of the shortlist alone. The
    * corpus is touched at code width; exact float vectors are fetched
    * for shortlist rows only, by broadcasting the bounded
    * (query × shortlist) id set against the base scan — so re-rank
    * accuracy costs |queries|·shortlist exact distances, not a corpus
    * pass. Returns the s01 shape (query_id, vec_id, raw_cos, rank). */
  def pqTopKReranked(base: DataFrame, queries: DataFrame, model: PqModel, k: Int,
      shortlist: Int = 0, excludeSelf: Boolean = true): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl must be >= k=$k")
    val shortIds = pqTopK(base, queries, model, sl, excludeSelf)
      .select(col("query_id"), col("vec_id"))
    val cands = base.select(col("vec_id"), col("embedding").as("b_emb"))
      .join(broadcast(shortIds), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("q_emb"), col("b_emb"))
    rankTopK(cands, k)
  }

  /** Trains a full IVF-ADC index: the coarse quantizer plus the product
    * quantizer over its residuals — the pair [[ivfPqTopK]] consumes. */
  def ivfPqTrain(base: DataFrame, cells: Int = 16, m: Int = 16,
      k: Int = 64): (KMeansModel, PqModel) = {
    val km = trainQuantizer(base, cells)
    (km, pqTrain(residuals(base, km), m, k))
  }

  /** Distributed LLOYD k-means over `(vec_id, embedding)` with explicit
    * seed centroids and a fixed iteration count — the user-facing
    * clustering operator (the trained-quantizer path above serves IVF;
    * this one is fully deterministic and oracle-replayable).
    *
    * Each iteration: (1) ASSIGN — a pure projection through the
    * codegen'd [[graft.functions.NearestCentroid]] kernel (argmin squared
    * euclidean, ties to the smallest cluster id; no join, no shuffle of
    * the base table); (2) UPDATE — per-(cluster, dim) component means via
    * a scan-side aggregate whose shuffle carries k·dim rows of
    * (cluster, pos, decimal sum, count). Sums accumulate in
    * DECIMAL(27,12), so they are EXACT and independent of partition
    * order; the component mean is one double division of the decimal sum
    * — the DuckDB oracle reproduces every centroid bit-for-bit, so the
    * round-2 assignment hashes identically. The only driver-side action
    * is the bounded k·dim centroid collect per iteration (8×64 = 512
    * rows here — same O(1)-collect discipline as ExactQuantile).
    * Clusters that lose every member keep their previous centroid.
    * Returns (vec_id, cluster) after `iters` assignment passes. */
  def lloydAssign(base: DataFrame, seeds: Array[Array[Double]], iters: Int): DataFrame = {
    require(seeds.nonEmpty && iters >= 1, "need seeds and at least one iteration")
    // iterated runs re-evaluate the base projection once per iteration
    // (component aggregate + next assignment both consume it): pin
    // (vec_id, embedding) ONCE so every pass scans a materialized
    // columnar artifact instead of re-running the upstream lineage
    // (casts, unions, transforms). Single-pass calls keep the lazy plan —
    // there is nothing to re-evaluate, so a checkpoint would only add a
    // materialization.
    val pts =
      if (iters > 1) base.select(col("vec_id"), col("embedding")).localCheckpoint()
      else base.select(col("vec_id"), col("embedding"))
    def assign(cents: Array[Array[Double]]): DataFrame =
      pts.withColumn("cluster",
        nearestCentroid(col("embedding"), typedLit(cents.map(_.toSeq).toSeq)))
    var centroids = seeds
    var assigned = assign(centroids)
    var it = 1
    while (it < iters) {
      val comps = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v").cast("double").cast("decimal(27,12)")).as("sd"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = centroids.map(_.clone())
      comps.foreach { r =>
        // BigDecimal→double then double division: the same two operations
        // DuckDB's CAST(sum AS DOUBLE)/CAST(count AS DOUBLE) performs
        next(r.getInt(0))(r.getInt(1)) =
          r.getDecimal(2).doubleValue() / r.getLong(3).toDouble
      }
      centroids = next
      assigned = assign(centroids)
      it += 1
    }
    assigned.select(col("vec_id"), col("cluster"))
  }

  /** Embedding HYGIENE — the vector-column QA gate an embedding pipeline
    * runs before indexing/training: per-vector L2 norm (codegen'd
    * kernel), a DEGENERATE flag (zero or NaN norm — untrainable,
    * unindexable vectors), and an OUTLIER flag for norms more than
    * `sigmas` standard deviations from the corpus mean (broken encoders
    * emit systematically over/under-scaled vectors). Returns (vec_id,
    * norm, is_outlier, degenerate).
    *
    * Scale shape: norms are one projection over the scan; the corpus
    * mean/std come from ONE aggregate whose sums accumulate in decimal
    * (exact, partition-order-independent — the 1-row stats then broadcast
    * back), so the whole operator is two linear passes with no shuffle of
    * vectors and a bit-exact DuckDB replay. */
  def embeddingHygiene(base: DataFrame, sigmas: Double = 3.0): DataFrame = {
    val nv = base.select(col("vec_id"), l2Norm(col("embedding")).as("norm"))
    // corpus stats over FINITE norms only: a NaN norm would cast to NULL
    // decimal (silently biasing the mean low while still counted in n)
    // and an infinite one breaks the decimal cast outright — degenerate
    // vectors are flagged, not averaged
    val finite = !isnan(col("norm")) && col("norm") =!= Double.PositiveInfinity
    val stats = nv.filter(finite).agg(
      count(lit(1)).as("n"),
      sum(col("norm").cast("decimal(27,12)")).as("s1"),
      sum((col("norm") * col("norm")).cast("decimal(38,12)")).as("s2"))
    val mean = col("s1").cast("double") / col("n").cast("double")
    val variance = col("s2").cast("double") / col("n").cast("double") - mean * mean
    nv.crossJoin(broadcast(stats))
      .withColumn("mean", mean)
      .withColumn("std", sqrt(greatest(variance, lit(0.0))))
      .select(col("vec_id"), col("norm"),
        (abs(col("norm") - col("mean")) > lit(sigmas) * col("std")).cast("int").as("is_outlier"),
        (col("norm") === 0.0 || isnan(col("norm")) ||
          col("norm") === Double.PositiveInfinity).cast("int").as("degenerate"))
  }

  /** Incremental EMBEDDING near-dup admission against a persisted
    * cell-partitioned vector index — the d08/d09 growing-corpus pattern
    * for the embedding family: each increment batch is admitted WITHOUT
    * re-embedding or re-scanning the historical corpus beyond its own
    * cells. A vector is rejected when any INDEXED vector in its coarse
    * cell sits above cosine `tau`; within the increment, survivors
    * cluster by connected components over within-cell τ-pairs and each
    * cluster admits its min-vec_id representative (the d03+d06+p01
    * batch-deterministic convention). Returns admitted (vec_id, cell) —
    * append to the index with the increment's embeddings.
    *
    * Scale shape: cell assignment is a pure projection through the
    * codegen'd [[graft.functions.NearestCentroid]] kernel (centroids are
    * a k·dim literal — no join); both the history probe and the
    * in-increment pair stage run over DISTINCT embeddings (the d09
    * distinct-sketch discipline — rejection and pairing are properties
    * of the VECTOR, not the doc, and identical embeddings always
    * co-assign, so clone groups collapse to one row carrying their min
    * vec_id BEFORE any join; a clone-heavy increment pays for its
    * distinct vectors, not its rows). The probe joins ON THE CELL KEY,
    * so each distinct embedding crosses the wire once per side (the
    * documented [[Dedup.semDedup]] exemption — under the
    * cell-partitioned index layout of [[writeEmbedIndex]], the index side
    * co-locates and only the increment's cells are even read).
    * Cell-locality is the IVF approximation this family accepts: a
    * τ-pair split across two cells is missed exactly as an IVF probe
    * with nprobe=1 would miss it — identical clones always co-assign. */
  def incrementalEmbedAdmit(increment: DataFrame, index: DataFrame,
      centroids: Array[Array[Double]], tau: Double): DataFrame = {
    // one assignment pass feeds the probe, the survivor set, and the
    // in-increment clustering
    val inc = increment.select(col("vec_id"), col("embedding"))
      .withColumn("cell",
        nearestCentroid(col("embedding"), typedLit(centroids.map(_.toSeq).toSeq)))
      .localCheckpoint()
    admitAssigned(inc, index, tau)
  }

  /** The admission core over an ALREADY-ASSIGNED (and pinned) increment
    * — shared by [[incrementalEmbedAdmit]] and [[embedAdmitFromIndex]]
    * so each computes the cell assignment exactly once.
    *
    * `pinSurvivors` (the WRITE-BACK path, [[embedAdmitAppend]] only):
    * lazily checkpoints the survivor relation, because that caller runs
    * TWO actions over it — the CC label jobs and then the write-back —
    * and checkpoint reuse is the only cross-JOB sharing Spark offers
    * (ReuseExchange dedupes within one plan); unpinned, the write-back
    * job re-runs the whole history-probe join. The plain probe paths
    * keep it unpinned: their single consumer shares subtrees via
    * ReuseExchange, and a checkpoint would hide the group aggregate
    * from the s09 plan lock. */
  private def admitAssigned(inc: DataFrame, index: DataFrame,
      tau: Double, pinSurvivors: Boolean = false): DataFrame = {
    // clone groups collapse here: one row per distinct embedding, keyed
    // by its min vec_id (the group's admission candidate). NOT pinned:
    // a checkpoint here hides the group aggregate from the s09 plan
    // lock, and ReuseExchange already shares the subtree across the
    // consumers (pinning measured <0.15 s on the lifecycle rows)
    val grp = inc.groupBy(col("cell"), col("embedding"))
      .agg(min(col("vec_id")).as("gid"))
    val rejected = grp
      .join(index.select(col("cell"), col("embedding").as("h_emb")).distinct(), Seq("cell"))
      .filter(cosineSim(col("embedding"), col("h_emb")) > tau)
      .select(col("gid")).distinct()
    val surv0 = grp.join(rejected, Seq("gid"), "left_anti")
    val surv = if (pinSurvivors) surv0.localCheckpoint(false) else surv0
    val a = surv.select(col("cell"), col("gid").as("id_a"), col("embedding").as("a_emb"))
    val b = surv.select(col("cell"), col("gid").as("id_b"), col("embedding").as("b_emb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b") && cosineSim(col("a_emb"), col("b_emb")) > tau)
      .select(col("id_a"), col("id_b"))
    val nonReps = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("gid"))
    surv.join(nonReps, Seq("gid"), "left_anti")
      .select(col("gid").as("vec_id"), col("cell"))
  }

  /** Writes the embedding-admission deployment artifact set under
    * `path` — the [[writeIvfPqIndex]] pattern for the ADMISSION family:
    * `cells/` (vec_id, embedding) parquet PARTITIONED BY cell and
    * `centroids/` (cell, centroid) model metadata.
    *
    * Seeds are the first `k` history vectors in DIVERSITY-PRESERVING
    * order (bounded k·dim collect): sort key = (sha-256 prefix of the
    * vec_id string folded to a long, vec_id). An ORDERED-prefix seed
    * (first-k-by-vec_id, the pre-r14 convention) degenerates on
    * clustered ingests — a templated batch occupying the lowest ids
    * seeds homogeneous cells and admission collapses toward single-cell
    * quadratic probes, the same cliff class [[quantizerSample]]'s
    * hashed key kills. sha-256 rather than xxhash64 HERE because this
    * artifact's admission flow is full-value oracle-gated (s19): DuckDB
    * replays the identical seed selection bit-for-bit (the s08-verified
    * hash-fold recipe), which xxhash64 cannot offer. Returns a one-row
    * (n_vectors, cells) report; the write is eager. Admit later
    * increments with [[embedAdmitFromIndex]]
    * (SQL: `graft_embed_admit_index`) — no history rescan, no index
    * rebuild. */
  def writeEmbedIndex(hist: DataFrame, path: String, k: Int = 8): DataFrame = {
    val s = hist.sparkSession
    val seeds = hist
      .orderBy(
        conv(substring(sha2(col("vec_id").cast("string"), 256), 1, 8), 16, 10)
          .cast("long").asc,
        col("vec_id"))
      .limit(k)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "writeEmbedIndex: empty history relation")
    // the REBUILD is index maintenance too (see writeIvfPqIndex)
    withMaintenanceLock(s, path, "embed-build") {
      rebuild(indexParts(path, "cells"), cellIndex(hist, seeds))
      s.createDataFrame(seeds.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    }
    // LAZY report: the index WRITES above are eager (the artifact
    // exists when this returns); the (n_vectors, cells) report is a
    // plan over the build's version snapshot, so a caller that discards
    // the report (e06's stream setup) never schedules its count job,
    // while report consumers (s19/s21 statement 1) pay it on collect. The
    // snapshot keeps answering across later compactions until vacuum
    // reclaims its parts
    readIndex(s, path, "cells")
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("cells", lit(seeds.length))
  }

  /** [[incrementalEmbedAdmit]] against a PERSISTED artifact path: loads
    * the stored centroids (model metadata), resolves the increment's
    * distinct cells (bounded ≤ the model's cell count — an eager
    * bounded job, the deployment-call convention of
    * [[ivfPqQueryIndex]]), and probes ONLY those cells' files via a
    * static partition filter. The history corpus is never rescanned. */
  def embedAdmitFromIndex(increment: DataFrame, path: String,
      tau: Double = 0.9): DataFrame = {
    val s = increment.sparkSession
    val seeds = s.read.parquet(s"$path/centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray)
    // assign cells ONCE and pin: the pinned increment feeds both the
    // bounded distinct-cell collect (the static partition filter) and
    // the admit probe — one increment scan per call, not two. LAZY
    // checkpoint: the distinct-cell collect is the next action and
    // materializes it — one scheduled job instead of two
    val inc = cellIndex(increment, seeds).localCheckpoint(false)
    val incCells = inc.select(col("cell")).distinct().collect().map(_.get(0))
    val idx = readIndex(s, path, "cells")
      .filter(col("cell").isin(incCells.toIndexedSeq: _*))
    admitAssigned(inc, idx, tau)
  }

  /** [[embedAdmitFromIndex]] + WRITE-BACK — the full ingest loop of the
    * admission family: admit the increment against the stored artifact,
    * then APPEND the admitted vectors' (vec_id, embedding) rows to the
    * cell-partitioned index files, so the NEXT batch's clones of this
    * batch's admissions are rejected without any rebuild. Centroids are
    * read-only (cells never retrain — the [[appendIvfPqIndex]]
    * maintenance posture, including its single-writer assumption:
    * concurrent admit-appends race both the probe and the footer
    * layout; serialize index maintenance). Returns the admitted
    * (vec_id, cell) rows. */
  def embedAdmitAppend(increment: DataFrame, path: String,
      tau: Double = 0.9): DataFrame =
    withMaintenanceLock(increment.sparkSession, path, "embed-admit-append") {
      val s = increment.sparkSession
      val cells = indexParts(path, "cells")
      val stored = readIndex(s, path, "cells")
      val seeds = s.read.parquet(s"$path/centroids").orderBy(col("cell"))
        .collect().map(_.getSeq[Double](1).toArray)
      // one assignment pass pinned for the cell filter, the admit probe,
      // AND the write-back (the embedAdmitFromIndex discipline); lazy —
      // the distinct-cell collect materializes it
      val inc = cellIndex(increment, seeds).localCheckpoint(false)
      val incCells = inc.select(col("cell")).distinct().collect().map(_.get(0))
      val idx = stored.filter(col("cell").isin(incCells.toIndexedSeq: _*))
      // lazy: the write-back below materializes the admit DAG once and
      // the caller reads the checkpoint — the eager spelling executed
      // the whole DAG a first time just to pin it
      val admitted = admitAssigned(inc, idx, tau, pinSurvivors = true)
        .localCheckpoint(false)
      // write back the admitted representatives WITH their embeddings,
      // CAST to the stored cells' element type (r14 ADVICE: an
      // array<double> increment appended verbatim to array<float> cells
      // makes the directory mixed-schema parquet, and later probes bind
      // whichever file's schema they open first): a semi-join against
      // the pinned increment (only the increment shuffles; the admitted
      // id set is a subset of it)
      val storedEmbType = stored.schema("embedding").dataType
      stageCells(cells,
        inc.join(admitted.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("embedding").cast(storedEmbType).as("embedding"),
            col("cell")))(cells.commitStaged)
      admitted
    }

  // ---------- persisted index part sets ----------
  // `codes/` (IVF-ADC) and `cells/` (admission) under an index path are
  // [[PartSet]]s of `partitionBy("cell")` parts (`data/cell=<n>/…`), the
  // commit format managed tables use: a build stages the whole set and
  // replaces it, an append stages and commits, a compaction replaces only
  // the fragmented cells' parts. Writers hold the maintenance lock; readers
  // resolve a version snapshot and never list the directory.

  private[graft] def indexParts(path: String, sub: String): PartSet =
    new PartSet(java.nio.file.Paths.get(path, sub), s"index $path/$sub")

  /** Stages a `partitionBy("cell")` write of `cells` into `set` and
    * publishes it with `commit`. */
  private def stageCells[T](set: PartSet, cells: DataFrame)(commit: java.nio.file.Path => T): T =
    set.stage(dir => cells.write.mode("append").partitionBy("cell").parquet(dir.toString))(commit)

  /** A build: `cells` replaces every live part, and parts superseded
    * longer than the vacuum window ago are reclaimed. */
  private def rebuild(set: PartSet, cells: DataFrame): Unit = {
    stageCells(set, cells)(set.replace(_, set.liveParts))
    set.vacuum(Catalog.defaultVacuumRetentionMs)
  }

  /** The live rows of index part set `sub` (`codes` or `cells`) under
    * `path`, with `cell` as a partition column. The version snapshot is
    * resolved now: the relation keeps answering across later appends and
    * compactions until a vacuum reclaims its parts. */
  private[graft] def readIndex(s: SparkSession, path: String, sub: String): DataFrame = {
    val set = indexParts(path, sub)
    readParts(s, set, set.liveParts)
  }

  private def readParts(s: SparkSession, set: PartSet, parts: Seq[String]): DataFrame = {
    val files = set.absolute(parts)
    require(files.nonEmpty, s"no Parquet parts to read under ${set.dataDir}")
    GraftParquetBridge.readParts(s, files, GraftParquetBridge.footerSchema(s, files.head),
      Some(set.dataDir.toString))
  }

  /** COMPACTION for the admission index — the maintenance op the append
    * loop eventually needs: every [[embedAdmitAppend]] batch lands one
    * parquet file per touched cell, so a long-running ingest pays
    * footer enumeration linear in the append COUNT on every probe and
    * report (AppendScale measured the 100×-files base leg at 1.48× for
    * identical data volume). Compacts the cell data to ONE file per
    * cell — data identical, layout minimal, SELECTIVE (see
    * [[compactCells]]) — under the same create-exclusive `_lock` as the
    * appenders. Returns a one-row (n_vectors, files_before, files_after)
    * report. */
  def compactEmbedIndex(spark: SparkSession, path: String): DataFrame =
    compactCells(spark, path, "cells", "n_vectors")

  /** [[compactEmbedIndex]]'s twin for the IVF-ADC index:
    * [[appendIvfPqIndex]] fragments `codes/` one file per append per
    * cell exactly the same way — rewrite to one file per cell under the
    * shared maintenance lock. Centroid/PQ artifacts are single-file
    * model metadata and never fragment. */
  def compactIvfPqIndex(spark: SparkSession, path: String): DataFrame =
    compactCells(spark, path, "codes", "n_codes")

  /** SELECTIVE compaction: the per-cell census comes from the live version,
    * with no listing. Only cells holding more than one part are rewritten
    * through Spark (decode → one task per cell → re-encode) into staging,
    * and [[PartSet.replace]] swaps exactly those cells' parts for the
    * rewrite; single-file cells keep their parts listed, so at a
    * steady ingest cadence the rewrite is fragmentation-linear (the cells
    * the appends touched since the last compact), not corpus-linear. When
    * NO cell is fragmented the call is a NO-OP: nothing is written or
    * published, just the (count, files, files) report.
    *
    * Readers keep the table contract: a relation planned before the swap
    * reads its own version snapshot, and the replaced parts stay on disk
    * until a vacuum finds them superseded for longer than
    * [[Catalog.defaultVacuumRetentionMs]]. That vacuum runs after every
    * compaction that publishes, so index disk stays bounded. */
  private def compactCells(spark: SparkSession, path: String, sub: String,
      countCol: String): DataFrame =
    withMaintenanceLock(spark, path, s"compact-$sub") {
      val set = indexParts(path, sub)
      val before = set.liveParts
      // a part is "cell=<n>/<file>": its directory is its cell
      val frag = before.groupBy(p => p.take(p.indexOf('/'))).values
        .filter(_.size > 1).flatten.toSeq
      if (frag.nonEmpty) {
        // repartition ON the partition column routes each cell's rows to
        // one task, whose partitionBy write emits exactly one file per cell
        stageCells(set, readParts(spark, set, frag).repartition(col("cell")))(
          set.replace(_, frag))
        set.vacuum(Catalog.defaultVacuumRetentionMs)
      }
      val n = readIndex(spark, path, sub).count() // parquet-footer count
      spark.createDataFrame(Seq((n, before.size.toLong, set.liveParts.size.toLong)))
        .toDF(countCol, "files_before", "files_after")
    }

  /** Cell assignment of a base relation under explicit centroids — builds
    * the persisted index side [[incrementalEmbedAdmit]] probes. */
  def cellIndex(base: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    base.select(col("vec_id"), col("embedding"))
      .withColumn("cell",
        nearestCentroid(col("embedding"), typedLit(centroids.map(_.toSeq).toSeq)))
  }

  /** Feature-HASHED document embedding — the text→vector bridge that
    * makes the embedding family (k-means, SemDeDup, ANN, hygiene) run on
    * a TEXT-ONLY corpus with no external encoder: each token hashes to a
    * signed bucket (sha-256 → 32-bit value; bucket = value mod `dim`,
    * sign from the next hex nibble's parity — the classic
    * feature-hashing construction), per-doc bucket sums L2-normalize to
    * a unit vector. Returns LONG FORM (doc_id, bucket, weight) — the
    * oracle-comparable spelling; [[hashedEmbeddingVec]] densifies it for
    * composition.
    *
    * Scale shape: one linear pass — tokens never leave their scan stage
    * (the sha-256 projection collapses each to (doc_id, bucket, ±1)
    * before the exchange), the per-(doc, bucket) aggregate map-side
    * combines to ≤ `dim` rows per doc, and the norm join is doc_id-keyed
    * scalars. sha-256 (not xxhash64) is deliberate: both engines ship
    * bit-identical implementations, so the whole embedding — not a proxy
    * — is oracle-checkable; swap to `xxhash64` when porting to a
    * production pipeline where only Spark evaluates it. */
  def hashedEmbedding(corpus: DataFrame, dim: Int = 16): DataFrame = {
    val tok = corpus.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("token"))
      .withColumn("hex", sha2(col("token"), 256))
      .select(col("doc_id"),
        (conv(substring(col("hex"), 1, 8), 16, 10).cast("long") % dim).cast("int").as("bucket"),
        when(conv(substring(col("hex"), 9, 1), 16, 10).cast("long") % 2 === 1, lit(-1))
          .otherwise(lit(1)).as("sign"))
    val sparse = tok.groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).cast("double").as("w"))
    val norm = sparse.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    sparse.join(norm, "doc_id")
      .select(col("doc_id"), col("bucket"),
        stableRound(when(col("nrm") > 0, col("w") / col("nrm")).otherwise(lit(0.0)), 4)
          .as("weight"))
  }

  /** Dense `(vec_id, embedding: array<double>)` spelling of
    * [[hashedEmbedding]] (zero buckets filled in), directly consumable
    * by [[lloydAssign]] / [[semDedup]] / [[bruteForceTopK]] — the
    * composition surface for text-only corpora. Same plan shape plus one
    * per-doc map build; no extra exchange. */
  def hashedEmbeddingVec(corpus: DataFrame, dim: Int = 16): DataFrame =
    hashedEmbedding(corpus, dim)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("weight")))).as("m"))
      .select(col("doc_id").as("vec_id"),
        denseFromMap(col("m"), dim).as("embedding"))

  /** HARD-NEGATIVE mining for contrastive/embedding training: for each
    * labeled query vector, the top-k most-cosine-similar base vectors
    * carrying a DIFFERENT label — the "looks similar, means different"
    * set that contrastive losses (InfoNCE, triplet) need explicitly and
    * random negatives almost never supply. `base` is `(vec_id,
    * embedding, label)`, `queries` is `(query_id, q_emb, q_label)`.
    * Returns (query_id, vec_id, raw_cos, rank).
    *
    * Scale shape: identical to [[bruteForceTopK]] — the query set
    * broadcasts, the label-mismatch predicate rides the same broadcast
    * join (no second pass), embeddings are consumed at the cosine kernel
    * and never reach the per-query ranking exchange. For a billion-vector
    * base, swap the broadcast candidate stage for [[ivfTopK]]'s
    * cell-probed candidates and keep the same label filter + re-rank —
    * the mining semantics are unchanged. */
  def hardNegatives(base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    rankTopK(
      base.select(col("vec_id"), col("label"), col("embedding").as("b_emb"))
        .join(broadcast(queries),
          col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
        .select(col("query_id"), col("vec_id"), col("q_emb"), col("b_emb")), k)
  }

  /** k-NN LABEL PROPAGATION — the classifier-bootstrapping step a
    * curation pipeline runs when it has a small labeled seed set and a
    * large unlabeled corpus (label quality tiers, topic buckets, safety
    * flags): each query vector takes the MAJORITY LABEL of its k nearest
    * labeled vectors by exact cosine, ties broken deterministically by
    * (votes DESC, label ASC). Output `(query_id, pred_label, votes,
    * top_sim)` where top_sim is the winning label's best cosine.
    *
    * The exact brute-force rank is the verified baseline (the s01
    * convention); at billions of vectors swap the candidate stage for
    * [[ivfTopK]]'s cell-probed candidates and keep the identical vote —
    * same rule, approximate recall. Scale shape: the query side
    * broadcasts (it is the bounded seed/batch side), the rank window
    * carries 3 scalars per candidate, the vote is a per-(query, label)
    * aggregate with map-side partials; vectors never cross an exchange. */
  def knnLabel(labeled: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    // a null label can't vote (and a null inside the argmax struct would
    // make the comparison order undefined) — the seed set is labels only
    val lab = labeled.filter(col("label").isNotNull)
    // labeled and query sets are DISTINCT relations with independent id
    // spaces — no self-join exclusion here (bruteForceTopK's
    // vec_id =!= query_id guard would silently drop a labeled vector that
    // happens to share an id with a query, skewing that query's vote)
    val topk = rankTopK(
      lab.select(col("vec_id"), col("embedding").as("b_emb"))
        .crossJoin(broadcast(queries)), k)
    topk.join(lab.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), max(col("raw_cos")).as("best"))
      // per-query argmax carried through one struct max: votes first,
      // then -label (so equal-vote ties go to the SMALLEST label), best
      // cosine rides as payload
      .groupBy(col("query_id"))
      .agg(max(struct(col("votes"), (-col("label")).as("neg_label"), col("best"))).as("w"))
      .select(col("query_id"),
        (-col("w.neg_label")).cast("int").as("pred_label"),
        col("w.votes").as("votes"),
        stableRound(col("w.best"), 4).as("top_sim"))
  }

  /** Cell assignment over a trained coarse quantizer with SAFE sizing
    * for arbitrary caller corpora: k = `cells` when given, else the
    * √n-scaled SemDeDup rule, always capped by the DISTINCT vector
    * count (Spark ML k-means|| returns fewer centers than k on tiny
    * inputs and the block aggregator overruns) — and when fewer than 2
    * distinct vectors exist (k-means needs k ≥ 2) everything lands in
    * one cell, which is exactly the right quantizer for that corpus.
    *
    * The cap (and the k<2 fallback) is computed over [[quantizerSample]]
    * — the SAME rows the model trains on — because a sample less diverse
    * than the whole corpus would otherwise reintroduce the exact
    * fewer-centers-than-k overrun the cap exists to prevent. */
  def quantizedCells(v: DataFrame, cells: Int = 0): DataFrame = {
    val distinctInSample =
      quantizerSample(v).select(col("embedding")).distinct().count()
    val k0 =
      if (cells > 0) cells.toLong
      else math.max(8L, math.sqrt(v.count().toDouble).toLong.min(1024L))
    val k = math.min(k0, distinctInSample)
    if (k < 2L) v.select(col("vec_id"), col("embedding"), lit(0).as("cell"))
    else assignCells(v, trainQuantizer(v, k.toInt))
  }

  /** [[quantizedCells]] with a DETERMINISTIC seeded quantizer instead of
    * trained k-means: centroids are the first k corpus vectors in
    * [[writeEmbedIndex]]'s sha-fold DIVERSITY order (sort key = first 8
    * hex digits of sha-256(vec_id) folded to a long, vec_id tiebreak),
    * assignment is the parity-verified `nearest_centroid` argmin. Same
    * √n sizing rule as quantizedCells (no distinct-count cap — duplicate
    * seed vectors just leave their higher cell empty at the smallest-
    * index tie-break; k-means' fewer-centers-than-k overrun doesn't
    * apply to fixed seeds).
    *
    * Why this exists alongside the trained quantizer: every step — seed
    * sort, argmin, tie order — replays bit-for-bit in a DuckDB oracle
    * (the s19 recipe), so SemDeDup flows built on it are FULL-VALUE
    * oracle-gated (s10/m06) instead of constant-verdict gated. The
    * trade is Lloyd's distortion refinement; cells remain data-drawn
    * Voronoi regions (seeds sit where density sits — density-adaptive
    * in expectation, unlike hyperplane LSH's direction-blind cuts, the
    * degeneracy class the trained shape was introduced against). Seed
    * collect is bounded k·dim model metadata. */
  def seededCells(v: DataFrame, cells: Int = 0): DataFrame = {
    val n = v.count()
    require(n > 0, "seededCells: empty relation")
    val k0 =
      if (cells > 0) cells.toLong
      else math.max(8L, math.sqrt(n.toDouble).toLong.min(1024L))
    val k = math.min(k0, n)
    val seeds = v
      .orderBy(
        conv(substring(sha2(col("vec_id").cast("string"), 256), 1, 8), 16, 10)
          .cast("long").asc,
        col("vec_id"))
      .limit(k.toInt)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    cellIndex(v, seeds).select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** Per-query overlap with the exact top-k: (query_id, hits). */
  def recallHits(exact: DataFrame, approx: DataFrame): DataFrame =
    approx.select(col("query_id"), col("vec_id"))
      .join(exact.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))

  // ---------- testdata bindings (the driver contract) ----------

  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  private def queriesOf(b: DataFrame): DataFrame =
    b.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** The trained quantizer IS the IVF index — session-memoized per corpus
    * and shared by every probe (s02–s05) and by SemDeDup (d10). */
  private[operators] def cachedModel(s: SparkSession, dir: String): KMeansModel =
    graft.SessionCache.getOrBuild[KMeansModel](s, ("ivf-model", dir))(
      trainQuantizer(base(s, dir)))

  /** The trained product quantizer IS the PQ index — session-memoized
    * per corpus, the cachedModel convention. */
  private[operators] def cachedPqModel(s: SparkSession, dir: String): PqModel =
    graft.SessionCache.getOrBuild[PqModel](s, ("pq-model", dir))(
      pqTrain(base(s, dir)))

  /** IVF-ADC's residual product quantizer: trained on (vector − its
    * coarse centroid) under the session's IVF model. */
  private[operators] def cachedIvfPqModel(s: SparkSession, dir: String): PqModel =
    graft.SessionCache.getOrBuild[PqModel](s, ("ivfpq-model", dir))(
      pqTrain(residuals(base(s, dir), cachedModel(s, dir))))

  /** Base corpus plus an IDENTICAL clone (vec_id+1e6) of every query
    * vector — the deterministic fixture behind the s02/s03/s05 gates: an
    * identical vector has an identical hyperplane signature (every LSH
    * band collides) and an identical coarse-cell assignment (the probe's
    * nearest cell IS the clone's cell), and its exact cosine ≈1.0 beats
    * every random pair (max ≈0.51). */
  private def withClones(b: DataFrame, q: DataFrame): DataFrame =
    b.unionByName(
      q.select((col("query_id") + 1000000L).as("vec_id"), col("q_emb").as("embedding")))

  /** (query_id, <name>_ok, <name>_cos) from an index's planted-clone top-1:
    * ok = the clone ranked first, cos = its re-ranked cosine (exactly 1.0
    * for an identical vector after the stabilized rounding) — both
    * constants a DuckDB oracle can hash-check. */
  private def plantedVerdict(topk: DataFrame, name: String): DataFrame =
    topk.filter(col("rank") === 1)
      .select(col("query_id"),
        (col("vec_id") === col("query_id") + 1000000L).cast("int").as(s"${name}_top1_ok"),
        stableRound(col("raw_cos"), 4).as(s"${name}_top1_cos"))
      .orderBy(col("query_id"))

  private def plantedOracle(name: String): String =
    s"SELECT vec_id AS query_id, CAST(1 AS INT) AS ${name}_top1_ok, " +
      s"CAST(1.0 AS DOUBLE) AS ${name}_top1_cos " +
      "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"

  private def present(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("vec_id"),
      stableRound(col("raw_cos"), 4).as("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))

  val queries: Seq[NamedQuery] = Seq(

    // brute-force exact top-5 per query. The DuckDB oracle recomputes it
    // with list_cosine_similarity — both sides accumulate the 64-dim dot
    // product sequentially in double, so the values agree bit-for-bit
    // before the stabilized rounding.
    NamedQuery(
      "s01_ann_bruteforce",
      Some(
        "SELECT query_id, vec_id, cos_sim, rank FROM (" +
          "SELECT q.vec_id AS query_id, b.vec_id AS vec_id, " +
          "CAST(round(CAST(list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS DECIMAL(28,8)), 4) AS DOUBLE) AS cos_sim, " +
          "CAST(row_number() OVER (PARTITION BY q.vec_id " +
          "ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id) AS INT) AS rank " +
          "FROM embeddings q JOIN embeddings b ON b.vec_id != q.vec_id WHERE q.vec_id < 8) t " +
          "WHERE rank <= 5 ORDER BY query_id, rank"),
      (s, dir) => {
        val b = base(s, dir)
        present(bruteForceTopK(b, queriesOf(b), 5))
      }),

    // per-index planted-clone verdicts: the raw approximate top-k is not
    // DuckDB-recomputable (no hyperplane/k-means in SQL), so the
    // driver-visible output is the DETERMINISTIC quality verdict instead —
    // clone every query vector into the base and require the index to rank
    // it first at cosine 1.0. Banding, cell probing, candidate generation,
    // and re-ranking all sit on the verified path; the raw top-k shape is
    // pinned by OperatorsSpec.
    NamedQuery(
      "s03_ann_ivf",
      Some(plantedOracle("ivf")),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        plantedVerdict(ivfTopK(withClones(b, q), q, cachedModel(s, dir), 1), "ivf")
      }),

    NamedQuery(
      "s02_ann_lsh",
      Some(plantedOracle("lsh")),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        plantedVerdict(lshTopK(withClones(b, q), q, 1), "lsh")
      }),

    // recall@10 of the two ANN variants vs the exact answer, computed
    // in-plan. The hash-checked output asserts a 30% per-query recall
    // floor — the regression gate that keeps the approximate indexes
    // honest. (The synthetic embeddings are pure random vectors with no
    // planted neighbor structure, the hardest case for LSH/IVF; measured
    // recall@10 is 0.3-0.9 across sf0.001/0.01/0.1, so 30% is the floor
    // that holds at every scale.)
    NamedQuery(
      "s04_ann_recall",
      Some(
        "SELECT vec_id AS query_id, CAST(1 AS INT) AS lsh_recall_ok, " +
          "CAST(1 AS INT) AS ivf_recall_ok " +
          "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"),
      (s, dir) => {
        val k = 10
        val b = base(s, dir)
        val q = queriesOf(b)
        val exact = bruteForceTopK(b, q, k)
        val lsh = recallHits(exact, lshTopK(b, q, k)).withColumnRenamed("hits", "lsh_hits")
        val ivf = recallHits(exact, ivfTopK(b, q, cachedModel(s, dir), k))
          .withColumnRenamed("hits", "ivf_hits")
        exact.select(col("query_id")).distinct()
          .join(lsh, Seq("query_id"), "left")
          .join(ivf, Seq("query_id"), "left")
          .select(
            col("query_id"),
            (coalesce(col("lsh_hits"), lit(0L)) >= k * 0.3).cast("int").as("lsh_recall_ok"),
            (coalesce(col("ivf_hits"), lit(0L)) >= k * 0.3).cast("int").as("ivf_recall_ok"))
          .orderBy(col("query_id"))
      }),

    // planted-clone gate for BOTH approximate indexes: insert an identical
    // clone (vec_id+1e6, same embedding) of each query vector and require
    // each index to rank it first. Deterministic end-to-end — an identical
    // vector has an identical 32-bit hyperplane signature (every LSH band
    // collides) and an identical coarse-cell assignment (the probe's
    // nearest cell IS the clone's cell), and its exact cosine ≈1.0 beats
    // every random pair (max ≈0.51) — so a constant DuckDB oracle
    // hash-checks that banding, cell probing, candidate generation, and
    // re-ranking all function, complementing s04's statistical floor.
    NamedQuery(
      "s05_ann_planted",
      Some(
        "SELECT vec_id AS query_id, CAST(1 AS INT) AS lsh_top1_ok, " +
          "CAST(1 AS INT) AS ivf_top1_ok " +
          "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        val aug = withClones(b, q)
        def top1Ok(df: DataFrame, name: String): DataFrame =
          df.filter(col("rank") === 1)
            .select(col("query_id"),
              (col("vec_id") === col("query_id") + 1000000L).cast("int").as(name))
        top1Ok(lshTopK(aug, q, 1), "lsh_top1_ok")
          .join(top1Ok(ivfTopK(aug, q, cachedModel(s, dir), 1), "ivf_top1_ok"), Seq("query_id"))
          .orderBy(col("query_id"))
      }),

    // deterministic Lloyd k-means (k=8 seeds = the 8 lowest vec_ids, 2
    // iterations) — a FULL-oracle clustering query: DuckDB replays seed
    // assignment, the decimal-exact centroid update, and the round-2
    // argmin bit-for-bit, so (vec_id, cluster) hash-matches.
    NamedQuery(
      "s06_kmeans",
      Some(
        "WITH ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e " +
          "FROM embeddings), " +
          "seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, " +
          "e AS c FROM ed WHERE vec_id < 8), " +
          "a1 AS (SELECT ed.vec_id, s.cluster, list_distance(ed.e, s.c) AS d " +
          "FROM ed CROSS JOIN seeds s), " +
          "r1 AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster, " +
          "row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn FROM a1) WHERE rn = 1), " +
          "px AS (SELECT unnest(range(0, (SELECT max(len(e)) FROM ed))) AS pos), " +
          "comps AS (SELECT r1.cluster, pos, " +
          "CAST(sum(CAST(ed.e[pos + 1] AS DECIMAL(27,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS comp " +
          "FROM r1 JOIN ed USING (vec_id) CROSS JOIN px GROUP BY r1.cluster, pos), " +
          // a cluster that loses every member keeps its SEED centroid —
          // mirrors lloydAssign's keep-previous rule, which with iters=2
          // means the seed vector
          "up AS (SELECT cluster, list(comp ORDER BY pos) AS c FROM comps GROUP BY cluster), " +
          "cents AS (SELECT s.cluster, coalesce(up.c, s.c) AS c " +
          "FROM seeds s LEFT JOIN up USING (cluster)), " +
          "a2 AS (SELECT ed.vec_id, cents.cluster, list_distance(ed.e, cents.c) AS d " +
          "FROM ed CROSS JOIN cents) " +
          "SELECT vec_id, cluster FROM (SELECT vec_id, cluster, " +
          "row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn FROM a2) " +
          "WHERE rn = 1 ORDER BY vec_id"),
      (s, dir) => {
        val b = base(s, dir)
        // seed collection is operator SETUP (like cachedModel): k vectors,
        // ordered by vec_id so seed index is reproducible
        val seeds = b.filter(col("vec_id") < 8).orderBy(col("vec_id"))
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        lloydAssign(b, seeds, iters = 2).orderBy(col("vec_id"))
      }),

    // vector-column QA: per-vector norms plus corpus-stat outlier flags,
    // with two PLANTED defects — a zero vector and a 100x-scaled clone —
    // that must come back flagged. Full oracle: DuckDB replays the norm,
    // the decimal-exact mean/std, and both flags bit-for-bit.
    NamedQuery(
      "s07_embedding_hygiene",
      Some(
        "WITH base AS (SELECT vec_id, embedding FROM embeddings " +
          "UNION ALL SELECT 1000000 + vec_id, " +
          "list_transform(embedding, x -> x * CAST(100 AS FLOAT)) " +
          "FROM embeddings WHERE vec_id = 0 " +
          "UNION ALL SELECT 1000001 + vec_id, " +
          "list_transform(embedding, x -> x * CAST(0 AS FLOAT)) " +
          "FROM embeddings WHERE vec_id = 1), " +
          "nv AS (SELECT vec_id, sqrt(list_sum(list_transform(embedding, " +
          "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm FROM base), " +
          "st AS (SELECT count(*) AS n, " +
          "CAST(sum(CAST(norm AS DECIMAL(27,12))) AS DOUBLE) AS s1, " +
          "CAST(sum(CAST(norm * norm AS DECIMAL(38,12))) AS DOUBLE) AS s2 " +
          "FROM nv WHERE isfinite(norm)), " +
          "m AS (SELECT s1 / n AS mean, " +
          "sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS std FROM st) " +
          "SELECT vec_id, " + OracleRound.stableRoundSql("norm", 4) + " AS norm, " +
          "CAST(abs(norm - mean) > 3 * std AS INT) AS is_outlier, " +
          "CAST(norm = 0 OR NOT isfinite(norm) AS INT) AS degenerate " +
          "FROM nv, m ORDER BY vec_id"),
      (s, dir) => {
        val b = base(s, dir)
        val scaled = b.filter(col("vec_id") === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            vecScale(col("embedding"), 100.0f).as("embedding"))
        val zeroed = b.filter(col("vec_id") === 1)
          .select((col("vec_id") + 1000001L).as("vec_id"),
            vecScale(col("embedding"), 0.0f).as("embedding"))
        embeddingHygiene(b.unionByName(scaled).unionByName(zeroed))
          .select(col("vec_id"), OracleRound.stableRound(col("norm"), 4).as("norm"),
            col("is_outlier"), col("degenerate"))
          .orderBy(col("vec_id"))
      }),

    // feature-hashed text embedding over the documents corpus — a FULL
    // oracle: DuckDB recomputes every signed bucket sum and the
    // normalization from sha-256 (bit-identical in both engines), so the
    // entire embedding is value-checked, not proxied.
    NamedQuery(
      "s08_hashed_embedding",
      Some(
        "WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents), " +
          "b AS (SELECT doc_id, CAST(list_reduce(list_transform(range(1, 9), " +
          "i -> strpos('0123456789abcdef', sha256(token)[i]) - 1), (a, c) -> a * 16 + c) % 16 AS INT) AS bucket, " +
          "CASE WHEN (strpos('0123456789abcdef', sha256(token)[9]) - 1) % 2 = 1 THEN -1 ELSE 1 END AS sign FROM tok), " +
          "sp AS (SELECT doc_id, bucket, CAST(sum(sign) AS DOUBLE) AS w FROM b GROUP BY doc_id, bucket), " +
          "nm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM sp GROUP BY doc_id) " +
          "SELECT doc_id, bucket, " +
          OracleRound.stableRoundSql("CASE WHEN nrm > 0 THEN w / nrm ELSE 0.0 END", 4) +
          " AS weight FROM sp JOIN nm USING (doc_id) ORDER BY doc_id, bucket"),
      (s, dir) =>
        hashedEmbedding(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
          .orderBy(col("doc_id"), col("bucket"))),

    // incremental embedding admission against a persisted cell index,
    // salted with planted traps: an identical clone of a HISTORY vector
    // (+1e6 — same cell by determinism, cosine 1.0 → index must reject)
    // and an in-increment clone pair (+2e6 — CC keeps the min id). FULL
    // oracle: DuckDB replays centroid assignment (list_distance argmin,
    // ties to smallest cell — the s06-verified parity), the cell-scoped
    // cosine rejection, and the recursive-CTE connected components.
    NamedQuery(
      "s09_incremental_ann",
      Some(
        "WITH RECURSIVE ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
          "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, e AS c FROM ed WHERE vec_id < 8), " +
          "hist AS (SELECT vec_id, e FROM ed WHERE vec_id >= 8 AND vec_id < 400), " +
          "inc AS (SELECT vec_id, e FROM ed WHERE vec_id >= 400 " +
          "UNION ALL SELECT 1000000 + vec_id, e FROM ed WHERE vec_id = 100 " +
          "UNION ALL SELECT 2000000 + vec_id, e FROM ed WHERE vec_id = 450), " +
          "ah AS (SELECT vec_id, cell, e FROM (SELECT h.vec_id, c.cell, h.e, " +
          "row_number() OVER (PARTITION BY h.vec_id ORDER BY list_distance(h.e, c.c), c.cell) AS rn " +
          "FROM hist h CROSS JOIN cents c) WHERE rn = 1), " +
          "ai AS (SELECT vec_id, cell, e FROM (SELECT i.vec_id, c.cell, i.e, " +
          "row_number() OVER (PARTITION BY i.vec_id ORDER BY list_distance(i.e, c.c), c.cell) AS rn " +
          "FROM inc i CROSS JOIN cents c) WHERE rn = 1), " +
          "rej AS (SELECT DISTINCT ai.vec_id FROM ai JOIN ah ON ai.cell = ah.cell " +
          "AND list_cosine_similarity(ai.e, ah.e) > 0.9), " +
          "surv AS (SELECT * FROM ai WHERE vec_id NOT IN (SELECT vec_id FROM rej)), " +
          "prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM surv a JOIN surv b " +
          "ON a.cell = b.cell AND a.vec_id < b.vec_id AND list_cosine_similarity(a.e, b.e) > 0.9), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs), " +
          "reach(id, lab) AS (SELECT DISTINCT src, src FROM edges " +
          "UNION SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON r.id = e2.dst), " +
          "drops AS (SELECT id FROM reach GROUP BY id HAVING min(lab) <> id) " +
          "SELECT vec_id, cell FROM surv WHERE vec_id NOT IN (SELECT id FROM drops) ORDER BY vec_id"),
      (s, dir) => {
        val b = base(s, dir)
        // seed collection is operator SETUP (bounded k·dim, the s06
        // convention): k = 8 coarse cells
        val seeds = b.filter(col("vec_id") < 8).orderBy(col("vec_id"))
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val hist = b.filter(col("vec_id") >= 8 && col("vec_id") < 400)
        val histClone = b.filter(col("vec_id") === 100)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        val incClone = b.filter(col("vec_id") === 450)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
        val inc = b.filter(col("vec_id") >= 400)
          .unionByName(histClone).unionByName(incClone)
        incrementalEmbedAdmit(inc, cellIndex(hist, seeds), seeds, 0.9)
          .orderBy(col("vec_id"))
      }),

    // hard-negative mining over the labeled embeddings — a FULL oracle:
    // DuckDB recomputes cosine + the label-mismatch filter + the per-query
    // ranking bit-for-bit (the s01 parity with one extra predicate).
    NamedQuery(
      "s12_hard_negatives",
      Some(
        "SELECT query_id, vec_id, cos_sim, rank FROM (" +
          "SELECT q.vec_id AS query_id, b.vec_id AS vec_id, " +
          "CAST(round(CAST(list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS DECIMAL(28,8)), 4) AS DOUBLE) AS cos_sim, " +
          "CAST(row_number() OVER (PARTITION BY q.vec_id " +
          "ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id) AS INT) AS rank " +
          "FROM embeddings q JOIN embeddings b " +
          "ON b.vec_id != q.vec_id AND b.label != q.label WHERE q.vec_id < 8) t " +
          "WHERE rank <= 5 ORDER BY query_id, rank"),
      (s, dir) => {
        val lb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"))
        val q = lb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            col("label").as("q_label"))
        present(hardNegatives(lb, q, 5))
      }),

    // CAPSTONE composition — text-only SemDeDup with NO external encoder:
    // hashedEmbeddingVec → seeded quantizer → cell-scoped semantic
    // prune, over the documents corpus salted with an identical clone of
    // every doc (+1e6). Upgraded to a FULL VALUE oracle (r14 VERDICT
    // task 4): the sha-fold seeded quantizer makes every cell
    // deterministic, so DuckDB replays the s08 embedding recipe, the
    // seed sort, the list_distance argmin, and the in-cell prune —
    // every kept (vec_id, cell) value-checked, which subsumes the old
    // constant verdicts (a surviving clone or a missed identical pair
    // reds the hash by construction). Identical texts hash to identical
    // unit vectors, co-assign under ANY quantizer, pair at cosine 1.0,
    // and prune to the min id.
    NamedQuery(
      "s10_text_semdedup",
      Some(textSemDedupOracleSql),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        val clones = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        // pin the embedding once (seed sort, cell assignment, and BOTH
        // pair-join sides consume it) — unpinned, the whole hash-embed
        // pipeline re-ran per consumer (measured 7.8 s → 2.9 s at sf0.1).
        // The zero-vector guard keeps NaN cosines out of the prune (a
        // doc whose signed bucket sums all cancel has no direction; both
        // engines would otherwise compare NaN > tau — see the verify
        // skill's NaN note)
        // array_remove ≡ exists(x -> x != 0D) on these finite, non-null
        // embeddings, and stays codegen'd where the exists HOF fell back
        val vecs = hashedEmbeddingVec(docs.unionByName(clones), dim = 16)
          .filter(size(array_remove(col("embedding"), lit(0.0))) > 0)
          .localCheckpoint()
        Dedup.semDedup(seededCells(vecs), tau = 0.999)
          .select(col("vec_id"), col("cell"))
          .orderBy(col("vec_id"))
      }),

    // k-NN label propagation: vec_id < 50 are the "unlabeled" queries,
    // the rest the labeled seed set; exact top-5 cosine vote with the
    // deterministic (votes DESC, label ASC) tie order. The DuckDB oracle
    // replays the whole chain — rank, vote, argmax, winning-label best
    // cosine — off list_cosine_similarity (bit-identical accumulation
    // order, the s01 precedent).
    NamedQuery(
      "s13_knn_label",
      Some(
        "WITH nn AS (SELECT * FROM (" +
          "SELECT q.vec_id AS query_id, b.vec_id AS vid, b.label, " +
          "list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos, " +
          "row_number() OVER (PARTITION BY q.vec_id " +
          "ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id) AS rank " +
          "FROM embeddings q JOIN embeddings b ON b.vec_id >= 50 WHERE q.vec_id < 50) t " +
          "WHERE rank <= 5), " +
          "v AS (SELECT query_id, label, count(*) AS votes, max(cos) AS best " +
          "FROM nn GROUP BY 1, 2), " +
          "r AS (SELECT query_id, label, votes, best, row_number() OVER " +
          "(PARTITION BY query_id ORDER BY votes DESC, label) AS rk FROM v) " +
          "SELECT query_id, CAST(label AS INT) AS pred_label, votes, " +
          OracleRound.stableRoundSql("best", 4) +
          " AS top_sim FROM r WHERE rk = 1 ORDER BY query_id"),
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"))
        knnLabel(
          e.filter(col("vec_id") >= 50),
          e.filter(col("vec_id") < 50)
            .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")), 5)
          .orderBy(col("query_id"))
      }),

    // product-quantization ANN under the planted-clone gate (the
    // s02/s03/s05 convention): an identical clone encodes to the
    // argmin codes of the query itself, so its ADC distance is the
    // MINIMUM any code combination can reach — it must rank first.
    NamedQuery(
      "s14_pq_ann",
      Some(
        "SELECT vec_id AS query_id, CAST(1 AS INT) AS pq_top1_ok " +
          "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        val topk = pqTopK(withClones(b, q), q, cachedPqModel(s, dir), 5)
        topk.filter(col("rank") === 1)
          .select(col("query_id"),
            (col("vec_id") === col("query_id") + 1000000L).cast("int").as("pq_top1_ok"))
          .orderBy(col("query_id"))
      }),

    // IVF-ADC under the same planted-clone gate: an identical clone
    // assigns to the probe's nearest cell and its residual encodes to
    // the argmin codes of the query's own residual — the minimum ADC
    // value that cell's table can produce.
    NamedQuery(
      "s15_ivfpq_ann",
      Some(
        "SELECT vec_id AS query_id, CAST(1 AS INT) AS ivfpq_top1_ok " +
          "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        val topk = ivfPqTopK(withClones(b, q), q,
          cachedModel(s, dir), cachedIvfPqModel(s, dir), 5)
        topk.filter(col("rank") === 1)
          .select(col("query_id"),
            (col("vec_id") === col("query_id") + 1000000L).cast("int").as("ivfpq_top1_ok"))
          .orderBy(col("query_id"))
      }),

    // two-stage retrieval: ADC shortlist → exact cosine re-rank. The
    // planted clone must rank first AT COSINE EXACTLY 1.0 — a stronger
    // verdict than the code-space gates (s14/s15 prove the shortlist;
    // this proves the exact re-rank runs real float math on it).
    NamedQuery(
      "s16_pq_rerank",
      Some(plantedOracle("pqr")),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        plantedVerdict(
          pqTopKReranked(withClones(b, q), q, cachedPqModel(s, dir), 5, 20), "pqr")
      }),

    // the PERSISTED index path: encode once via ivfPqIndex, land the
    // codes PARTITIONED BY CELL, and answer queries from the files —
    // verdicts gate both the planted clone through the persisted path
    // and full top-5 equality with the inline (re-encode per call)
    // path, so the parquet round-trip of the code arrays is
    // value-exact.
    NamedQuery(
      "s17_ann_index_persisted",
      Some(
        "SELECT vec_id AS query_id, CAST(1 AS INT) AS persisted_top1_ok, " +
          "CAST(1 AS INT) AS same_as_inline_ok " +
          "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        val corpus = withClones(b, q)
        val km = cachedModel(s, dir)
        val pq = cachedIvfPqModel(s, dir)
        withScratch("graft_s17_index_") { case Seq(path) =>
          ivfPqIndex(corpus, km, pq)
            .write.mode("overwrite").partitionBy("cell").parquet(path)
          val persisted = ivfPqTopKFromIndex(s.read.parquet(path), q, km, pq, 5)
            .localCheckpoint() // two verdicts read it; frees the files below
          val inline = ivfPqTopK(corpus, q, km, pq, 5)
          val v1 = persisted.filter(col("rank") === 1)
            .select(col("query_id"),
              (col("vec_id") === col("query_id") + 1000000L).cast("int")
                .as("persisted_top1_ok"))
          // symmetric-difference check over (query_id, vec_id, rank): any
          // row not present in BOTH paths counts once, not twice
          val tagged = persisted.select(col("query_id"), col("vec_id"), col("rank"))
            .unionByName(inline.select(col("query_id"), col("vec_id"), col("rank")))
            .groupBy(col("query_id"), col("vec_id"), col("rank"))
            .agg(count(lit(1)).as("c"))
          val mismatch = tagged.filter(col("c") =!= 2)
            .groupBy(col("query_id")).agg(count(lit(1)).as("nd"))
          v1.join(mismatch, Seq("query_id"), "left")
            .select(col("query_id"), col("persisted_top1_ok"),
              col("nd").isNull.cast("int").as("same_as_inline_ok"))
            .orderBy(col("query_id"))
            .localCheckpoint()
        }
      }),

    // the persisted index path FROM PURE SQL — the deployment spelling
    // the view-pair TVFs (retrain in-call) leave open: one statement
    // builds + persists the artifact set (graft_ivfpq_build), a SEPARATE
    // statement answers queries from the stored codes/centroids/PQ with
    // no retraining (graft_ivfpq_query). Verdict: the planted clone
    // ranks first through the SQL path. The SQL-equals-library-inline
    // equality verdict moved to a SPEC (OperatorsSpec "s18 SQL index
    // flow equals the library inline path") — it retrained inline solely
    // to manufacture its comparison operand, ~half the row's wall, pure
    // verification construction with no deployment counterpart.
    NamedQuery(
      "s18_ann_index_sql",
      Some(
        "SELECT vec_id AS query_id, CAST(1 AS INT) AS sql_top1_ok " +
          "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        // localCheckpoint breaks the self-union lineage (clone side derives
        // from the base side, so both union children share attribute ids —
        // Spark's Union constraint rewrite throws `key not found` when that
        // plan is re-analyzed through a temp view); bounded: the embeddings
        // relation at gate scale
        val corpus = withClones(b, q).localCheckpoint()
        corpus.createOrReplaceTempView("graft_s18_corpus")
        q.select(col("query_id").as("vec_id"), col("q_emb").as("embedding"))
          .createOrReplaceTempView("graft_s18_queries")
        withScratch("graft-s18-wh-", "graft_s18_index_") { case Seq(wh, path) =>
          val e = Parity.engine(s, wh, "s18db")
          // statement 1: train + encode + persist (eager artifact write)
          e.execute(s"SELECT n_vectors FROM graft_ivfpq_build(" +
            s"'graft_s18_corpus', '$path', 16, 16, 64)").collect()
          // statement 2: answer from the stored artifacts only
          e.execute(
            s"SELECT query_id, vec_id, rank FROM graft_ivfpq_query(" +
              s"'$path', 'graft_s18_queries', 5, 4) ORDER BY query_id, rank")
            .filter(col("rank") === 1)
            .select(col("query_id"),
              (col("vec_id") === col("query_id") + 1000000L).cast("int")
                .as("sql_top1_ok"))
            .orderBy(col("query_id"))
            .localCheckpoint()
        }
      }),

    // the ADMISSION family's persisted-artifact flow from pure SQL — the
    // d22 discipline for embeddings: statement 1 persists the cell index
    // + centroid artifacts ONCE (graft_embed_build; seeds follow
    // writeEmbedIndex's sha-fold diversity key), statement 2 admits an
    // increment against the STORED artifact only
    // (graft_embed_admit_index) — the probe reads the increment's cells'
    // files via a static partition filter and never rescans history
    // (plan-locked in PlanQualitySpec). Traps mirror s09: an identical
    // clone of a HISTORY vector (+1e6 — co-assigns, cosine 1.0 → the
    // stored index must reject it) and an in-increment clone pair
    // (+2e6 — connected components keep the min id). FULL value oracle:
    // DuckDB replays the sha-fold seed selection (the s08-verified hash
    // recipe), the centroid assignment (list_distance argmin, ties to
    // the smallest cell), the cell-scoped cosine rejection, and the
    // recursive-CTE connected components — every admitted (vec_id,
    // cell) value-checked.
    NamedQuery(
      "s19_embed_index_sql",
      Some(embedIndexOracleSql),
      (s, dir) => {
        val b = base(s, dir)
        val hist = b.filter(col("vec_id") < 400)
        val histClone = b.filter(col("vec_id") === 100)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        val incClone = b.filter(col("vec_id") === 450)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
        // localCheckpoint: the self-union re-analyzed through a temp view
        // hits Spark's Union constraint rewrite (the s18 hazard); bounded
        // — the increment slice at gate scale
        val inc = b.filter(col("vec_id") >= 400)
          .unionByName(histClone).unionByName(incClone)
          .localCheckpoint()
        hist.createOrReplaceTempView("graft_s19_hist")
        inc.createOrReplaceTempView("graft_s19_inc")
        withScratch("graft-s19-wh-", "graft_s19_index_") { case Seq(wh, path) =>
          val e = Parity.engine(s, wh, "s19db")
          // statement 1: build + persist the admission artifact (eager)
          e.execute(s"SELECT n_vectors FROM graft_embed_build(" +
            s"'graft_s19_hist', '$path', 8)").collect()
          // statement 2: admit from the stored artifact only
          e.execute(s"SELECT vec_id, cell FROM graft_embed_admit_index(" +
            s"'$path', 'graft_s19_inc', 0.9) ORDER BY vec_id")
            .localCheckpoint() // frees the artifact files below
        }
      }),

    // the ANN index LIFECYCLE from pure SQL — build → APPEND → COMPACT →
    // query, the maintenance loop a deployment runs daily: statement 1
    // trains + persists (graft_ivfpq_build), statement 2 appends an
    // increment encoded under the STORED model with no retraining
    // (graft_ivfpq_append — byte-equal to a one-shot encoding, the
    // OperatorsSpec gate), statement 3 compacts the fragmented codes to
    // one file per cell (graft_ivfpq_compact — r15 VERDICT task 3: the
    // compaction operators' oracle gate), statement 4 answers from the
    // maintained artifact (graft_ivfpq_query). The increment is an
    // identical clone (+1e6) of every query vector, so rank 1 for each
    // query MUST be a vector that entered through the APPEND statement
    // AND survived the compaction rewrite — retrieval proves the
    // appended codes landed in the right cells under the original
    // centroids and that the compacted part set serves them. The
    // append report is checked against the build report (n_appended = 8
    // clones, n_total = n_vectors + 8); the compact report must keep
    // every code (n_codes = n_total) and land one file per non-empty
    // cell (files_after ≤ 8, strictly fewer than the fragmented
    // layout). Constant-verdict oracle (the s18 convention:
    // IVF-PQ internals are not DuckDB-replayable; the traps make the
    // verdicts deterministic).
    NamedQuery(
      "s20_ann_lifecycle_sql",
      Some(
        "SELECT vec_id AS query_id, CAST(1 AS INT) AS appended_top1_ok, " +
          "CAST(1 AS INT) AS append_report_ok, CAST(1 AS INT) AS compact_ok " +
          "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"),
      (s, dir) => {
        val b = base(s, dir)
        val q = queriesOf(b)
        b.createOrReplaceTempView("graft_s20_base")
        // the increment: identical clones of the queries — appended, not
        // built-in (localCheckpoint: derived from the same base lineage
        // the queries view uses; pinning keeps the view re-analysis away
        // from shared-attribute rewrites)
        q.select((col("query_id") + 1000000L).as("vec_id"),
            col("q_emb").as("embedding"))
          .localCheckpoint()
          .createOrReplaceTempView("graft_s20_inc")
        q.select(col("query_id").as("vec_id"), col("q_emb").as("embedding"))
          .createOrReplaceTempView("graft_s20_queries")
        withScratch("graft-s20-wh-", "graft_s20_index_") { case Seq(wh, path) =>
          val e = Parity.engine(s, wh, "s20db")
          // (8, 8, 32): the smallest model that keeps the planted-clone
          // gate deterministic (32^8 code combinations — an accidental
          // full-code tie is ~0 at gate scale) — the lifecycle row gates
          // the build→append→query STATEMENTS, not model quality, and
          // s17/s18 already gate the (16, 16, 64) shape (r14 VERDICT
          // task 8: the in-row train was ~half the row's wall)
          val nBase = e.execute(s"SELECT n_vectors FROM graft_ivfpq_build(" +
            s"'graft_s20_base', '$path', 8, 8, 32)").collect().head.getLong(0)
          val rep = e.execute(s"SELECT n_appended, n_total FROM graft_ivfpq_append(" +
            s"'graft_s20_inc', '$path')").collect().head
          val reportOk = rep.getLong(0) == 8L && rep.getLong(1) == nBase + 8L
          // statement 3: compact the appended codes (one file per cell);
          // the query below then answers from the COMPACTED parts —
          // a lost or duplicated code fails appended_top1_ok/compact_ok
          val crep = e.execute(s"SELECT n_codes, files_before, files_after " +
            s"FROM graft_ivfpq_compact('$path')").collect().head
          // every code kept; ≤ one file per NON-EMPTY cell (≤ 8), and
          // strictly fewer files than the fragmented layout
          val compactOk = crep.getLong(0) == nBase + 8L &&
            crep.getLong(2) <= 8L && crep.getLong(2) < crep.getLong(1)
          e.execute(s"SELECT query_id, vec_id, rank FROM graft_ivfpq_query(" +
              s"'$path', 'graft_s20_queries', 5, 4) ORDER BY query_id, rank")
            .filter(col("rank") === 1)
            .select(col("query_id"),
              (col("vec_id") === col("query_id") + 1000000L).cast("int")
                .as("appended_top1_ok"),
              lit(if (reportOk) 1 else 0).as("append_report_ok"),
              lit(if (compactOk) 1 else 0).as("compact_ok"))
            .orderBy(col("query_id"))
            .localCheckpoint() // frees the artifact files below
        }
      }),

    // the admission family's FULL INGEST LOOP from pure SQL — build →
    // admit-and-write-back → COMPACT → admit: batch 1 admits against
    // the built index and graft_embed_admit_append APPENDS its
    // admissions to the stored cells, graft_embed_compact rewrites the
    // fragmented cells' parts, and batch 2 then probes
    // history ∪ batch-1 admissions from the COMPACTED artifact with no
    // rebuild. Traps: batch 2 carries a clone of a BATCH-1
    // ADMISSION (+3e6 of 350 — rejectable ONLY through the write-back;
    // a lost append admits it and fails the hash) and a clone of an
    // ORIGINAL history vector (+4e6 of 100 — the pre-append index must
    // survive the append). FULL value oracle: the s19 replay chained
    // over both batches (seed selection, two assignment passes, two
    // cell-scoped rejections, two recursive-CTE CC blocks).
    NamedQuery(
      "s21_embed_lifecycle_sql",
      Some(embedLifecycleOracleSql),
      (s, dir) => {
        val b = base(s, dir)
        val hist = b.filter(col("vec_id") < 300)
        val inc1 = b.filter(col("vec_id") >= 300 && col("vec_id") < 400)
          .unionByName(b.filter(col("vec_id") === 100)
            .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
          .unionByName(b.filter(col("vec_id") === 350)
            .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
          .localCheckpoint() // self-union through a temp view (s18 hazard)
        val inc2 = b.filter(col("vec_id") >= 400)
          .unionByName(b.filter(col("vec_id") === 350)
            .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding")))
          .unionByName(b.filter(col("vec_id") === 100)
            .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding")))
          .localCheckpoint()
        hist.createOrReplaceTempView("graft_s21_hist")
        inc1.createOrReplaceTempView("graft_s21_inc1")
        inc2.createOrReplaceTempView("graft_s21_inc2")
        withScratch("graft-s21-wh-", "graft_s21_index_") { case Seq(wh, path) =>
          val e = Parity.engine(s, wh, "s21db")
          e.execute(s"SELECT n_vectors FROM graft_embed_build(" +
            s"'graft_s21_hist', '$path', 8)").collect()
          // statement 2: admit batch 1 AND append its admissions (the
          // write-back runs eagerly inside the statement)
          e.execute(s"SELECT vec_id FROM graft_embed_admit_append(" +
            s"'$path', 'graft_s21_inc1', 0.9)")
          // statement 3: COMPACT the fragmented cells (r15 VERDICT task
          // 3 — the embed compaction's oracle gate): batch 2 below
          // probes the COMPACTED parts, so a compaction that loses
          // or duplicates a history OR batch-1-admitted vector changes
          // batch 2's admissions and fails the full-value hash
          e.execute(s"SELECT n_vectors FROM graft_embed_compact('$path')")
          // statement 4: batch 2 probes history ∪ batch-1 admissions
          e.execute(s"SELECT vec_id, cell FROM graft_embed_admit_index(" +
            s"'$path', 'graft_s21_inc2', 0.9) ORDER BY vec_id")
            .localCheckpoint() // frees the artifact files below
        }
      })
  )

  /** The DuckDB replay of [[writeEmbedIndex]]/[[seededCells]]' sha-fold
    * seed key: first 8 hex digits of sha-256 of the id's decimal string,
    * folded big-endian to a long — shared by the s19/s21 oracles and
    * the seeded-quantizer gates (s10, m06). */
  private[operators] def shaFoldSql(idCol: String): String =
    "list_reduce(list_transform(range(1, 9), " +
      s"i -> strpos('0123456789abcdef', sha256(CAST($idCol AS VARCHAR))[i]) - 1), " +
      "(a, c) -> a * 16 + c)"

  /** s10's DuckDB oracle: the s08 hashed-embedding replay densified to
    * 16-dim unit vectors (originals + the +1e6 clones, zero vectors
    * filtered on both sides), [[seededCells]]' sha-fold seed selection
    * at the √n sizing rule, the list_distance argmin assignment, and
    * the cell-scoped SemDeDup domination prune at tau = 0.999 — kept
    * (vec_id, cell), full values. */
  private lazy val textSemDedupOracleSql: String = {
    val dense = (0 until 16)
      .map(b => s"coalesce(max(CASE WHEN bucket = $b THEN weight END), 0.0)")
      .mkString("[", ", ", "]")
    "WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents), " +
      "b AS (SELECT doc_id, CAST(list_reduce(list_transform(range(1, 9), " +
      "i -> strpos('0123456789abcdef', sha256(token)[i]) - 1), (a, c) -> a * 16 + c) % 16 AS INT) AS bucket, " +
      "CASE WHEN (strpos('0123456789abcdef', sha256(token)[9]) - 1) % 2 = 1 THEN -1 ELSE 1 END AS sign FROM tok), " +
      "sp AS (SELECT doc_id, bucket, CAST(sum(sign) AS DOUBLE) AS w FROM b GROUP BY doc_id, bucket), " +
      "nm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM sp GROUP BY doc_id), " +
      "wt AS (SELECT doc_id, bucket, " +
      OracleRound.stableRoundSql("CASE WHEN nrm > 0 THEN w / nrm ELSE 0.0 END", 4) +
      " AS weight FROM sp JOIN nm USING (doc_id)), " +
      s"dv AS (SELECT doc_id, $dense AS e FROM wt GROUP BY doc_id), " +
      "v AS (SELECT vec_id, e FROM (SELECT doc_id AS vec_id, e FROM dv " +
      "UNION ALL SELECT doc_id + 1000000, e FROM dv) " +
      "WHERE len(list_filter(e, x -> x <> 0)) > 0), " +
      "kk AS (SELECT GREATEST(8, LEAST(CAST(FLOOR(SQRT(CAST(count(*) AS DOUBLE))) AS BIGINT), 1024)) AS k FROM v), " +
      s"sk AS (SELECT vec_id, e, ${shaFoldSql("vec_id")} AS hk FROM v), " +
      "cents AS (SELECT cell, c FROM (SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) - 1 AS INT) AS cell, " +
      "e AS c FROM sk) WHERE cell < (SELECT k FROM kk)), " +
      "asg AS (SELECT vec_id, cell, e FROM (SELECT s.vec_id, c.cell, s.e, " +
      "row_number() OVER (PARTITION BY s.vec_id ORDER BY list_distance(s.e, c.c), c.cell) AS rn " +
      "FROM sk s CROSS JOIN cents c) WHERE rn = 1), " +
      "grp AS (SELECT cell, e, min(vec_id) AS gid FROM asg GROUP BY cell, e), " +
      "drp AS (SELECT DISTINCT b2.gid FROM grp a JOIN grp b2 ON a.cell = b2.cell AND a.gid < b2.gid " +
      "AND list_cosine_similarity(a.e, b2.e) > 0.999) " +
      "SELECT vec_id, cell FROM asg WHERE vec_id IN (SELECT gid FROM grp) " +
      "AND vec_id NOT IN (SELECT gid FROM drp) ORDER BY vec_id"
  }

  /** s21's DuckDB oracle: the s19 replay CHAINED over two batches —
    * batch 1 admits against the built index and its admissions become
    * history (the write-back), batch 2 admits against history ∪ batch-1
    * admissions. Two recursive connected-components blocks, one per
    * batch. */
  private lazy val embedLifecycleOracleSql: String =
    embedLifecycleCtes(histLt = 300L, b1Lt = 400L, b2Lt = None,
      clHist = 100L, clB1 = 350L) +
      " SELECT vec_id, cell FROM adm2 ORDER BY vec_id"

  /** e06's DuckDB oracle — the same two-batch chain, emitting BOTH
    * batches' admissions tagged by batch: the streaming ingest loop
    * spools per micro-batch, so the gate checks batch 1's admissions
    * AND that batch 2's verdicts saw batch 1's write-back. */
  private[graft] lazy val embedStreamOracleSql: String =
    embedLifecycleCtes(histLt = 150L, b1Lt = 300L, b2Lt = Some(500L),
      clHist = 100L, clB1 = 200L) +
      " SELECT batch, vec_id, cell FROM (" +
      "SELECT CAST(1 AS INT) AS batch, vec_id, cell FROM adm1 " +
      "UNION ALL SELECT CAST(2 AS INT), vec_id, cell FROM adm2) " +
      "ORDER BY batch, vec_id"

  /** The two-batch admission replay, parameterized over the fixture
    * slices: hist = vec_id < `histLt`, batch 1 = [histLt, b1Lt) plus a
    * history clone (+1e6 of `clHist`) and an in-batch clone pair (+2e6
    * of `clB1`), batch 2 = [b1Lt, b2Lt) plus a clone of batch 1's
    * `clB1` admission (+3e6 — rejectable only via the write-back) and a
    * second history clone (+4e6 of `clHist`). s21 scales batch 2 with
    * the corpus (b2Lt = None); e06 bounds every slice so the streaming
    * gate's wall is fixture-sized at any SF (scale coverage of the
    * probe path is s19/s21's job). */
  private def embedLifecycleCtes(histLt: Long, b1Lt: Long, b2Lt: Option[Long],
      clHist: Long, clB1: Long): String = {
    // one admission block: assign -> cell-scoped cosine rejection vs
    // `histRel`(vec_id, cell, e) -> in-batch CC -> admitted reps
    def admitBlock(n: Int, incRel: String, histRel: String): String =
      s"ai$n AS (SELECT vec_id, cell, e FROM (SELECT i.vec_id, c.cell, i.e, " +
        s"row_number() OVER (PARTITION BY i.vec_id ORDER BY list_distance(i.e, c.c), c.cell) AS rn " +
        s"FROM $incRel i CROSS JOIN cents c) WHERE rn = 1), " +
        s"rej$n AS (SELECT DISTINCT ai$n.vec_id FROM ai$n JOIN $histRel h$n ON ai$n.cell = h$n.cell " +
        s"AND list_cosine_similarity(ai$n.e, h$n.e) > 0.9), " +
        s"surv$n AS (SELECT * FROM ai$n WHERE vec_id NOT IN (SELECT vec_id FROM rej$n)), " +
        s"prs$n AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM surv$n a JOIN surv$n b " +
        s"ON a.cell = b.cell AND a.vec_id < b.vec_id AND list_cosine_similarity(a.e, b.e) > 0.9), " +
        s"edges$n AS (SELECT id_a AS src, id_b AS dst FROM prs$n UNION ALL SELECT id_b, id_a FROM prs$n), " +
        s"reach$n(id, lab) AS (SELECT DISTINCT src, src FROM edges$n " +
        s"UNION SELECT e$n.src, r.lab FROM edges$n e$n JOIN reach$n r ON r.id = e$n.dst), " +
        s"drops$n AS (SELECT id FROM reach$n GROUP BY id HAVING min(lab) <> id), " +
        s"adm$n AS (SELECT vec_id, cell, e FROM surv$n WHERE vec_id NOT IN (SELECT id FROM drops$n))"
    val b2Upper = b2Lt.map(u => s" AND vec_id < $u").getOrElse("")
    "WITH RECURSIVE ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      s"hist AS (SELECT vec_id, e FROM ed WHERE vec_id < $histLt), " +
      "sk AS (SELECT vec_id, e, list_reduce(list_transform(range(1, 9), " +
      "i -> strpos('0123456789abcdef', sha256(CAST(vec_id AS VARCHAR))[i]) - 1), " +
      "(a, c) -> a * 16 + c) AS hk FROM hist), " +
      "cents AS (SELECT cell, c FROM (SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) - 1 AS INT) AS cell, " +
      "e AS c FROM sk) WHERE cell < 8), " +
      "ah AS (SELECT vec_id, cell, e FROM (SELECT h0.vec_id, c.cell, h0.e, " +
      "row_number() OVER (PARTITION BY h0.vec_id ORDER BY list_distance(h0.e, c.c), c.cell) AS rn " +
      "FROM hist h0 CROSS JOIN cents c) WHERE rn = 1), " +
      s"inc1 AS (SELECT vec_id, e FROM ed WHERE vec_id >= $histLt AND vec_id < $b1Lt " +
      s"UNION ALL SELECT 1000000 + vec_id, e FROM ed WHERE vec_id = $clHist " +
      s"UNION ALL SELECT 2000000 + vec_id, e FROM ed WHERE vec_id = $clB1), " +
      admitBlock(1, "inc1", "ah") + ", " +
      "hist2 AS (SELECT vec_id, cell, e FROM ah UNION ALL SELECT vec_id, cell, e FROM adm1), " +
      s"inc2 AS (SELECT vec_id, e FROM ed WHERE vec_id >= $b1Lt$b2Upper " +
      s"UNION ALL SELECT 3000000 + vec_id, e FROM ed WHERE vec_id = $clB1 " +
      s"UNION ALL SELECT 4000000 + vec_id, e FROM ed WHERE vec_id = $clHist), " +
      admitBlock(2, "inc2", "hist2")
  }

  /** s19's DuckDB oracle: replay writeEmbedIndex's sha-fold seed
    * selection, the centroid assignment over history and increment, the
    * cell-scoped cosine rejection, and the in-increment connected
    * components — the s09 chain with the seed CTE swapped in. */
  private lazy val embedIndexOracleSql: String =
    "WITH RECURSIVE ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "hist AS (SELECT vec_id, e FROM ed WHERE vec_id < 400), " +
      // writeEmbedIndex's seed key: first 8 hex digits of
      // sha256(vec_id::VARCHAR) folded big-endian to a long, vec_id tiebreak
      "sk AS (SELECT vec_id, e, list_reduce(list_transform(range(1, 9), " +
      "i -> strpos('0123456789abcdef', sha256(CAST(vec_id AS VARCHAR))[i]) - 1), " +
      "(a, c) -> a * 16 + c) AS hk FROM hist), " +
      "cents AS (SELECT cell, c FROM (SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) - 1 AS INT) AS cell, " +
      "e AS c FROM sk) WHERE cell < 8), " +
      "inc AS (SELECT vec_id, e FROM ed WHERE vec_id >= 400 " +
      "UNION ALL SELECT 1000000 + vec_id, e FROM ed WHERE vec_id = 100 " +
      "UNION ALL SELECT 2000000 + vec_id, e FROM ed WHERE vec_id = 450), " +
      "ah AS (SELECT vec_id, cell, e FROM (SELECT h2.vec_id, c.cell, h2.e, " +
      "row_number() OVER (PARTITION BY h2.vec_id ORDER BY list_distance(h2.e, c.c), c.cell) AS rn " +
      "FROM hist h2 CROSS JOIN cents c) WHERE rn = 1), " +
      "ai AS (SELECT vec_id, cell, e FROM (SELECT i.vec_id, c.cell, i.e, " +
      "row_number() OVER (PARTITION BY i.vec_id ORDER BY list_distance(i.e, c.c), c.cell) AS rn " +
      "FROM inc i CROSS JOIN cents c) WHERE rn = 1), " +
      "rej AS (SELECT DISTINCT ai.vec_id FROM ai JOIN ah ON ai.cell = ah.cell " +
      "AND list_cosine_similarity(ai.e, ah.e) > 0.9), " +
      "surv AS (SELECT * FROM ai WHERE vec_id NOT IN (SELECT vec_id FROM rej)), " +
      "prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM surv a JOIN surv b " +
      "ON a.cell = b.cell AND a.vec_id < b.vec_id AND list_cosine_similarity(a.e, b.e) > 0.9), " +
      "edges AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs), " +
      "reach(id, lab) AS (SELECT DISTINCT src, src FROM edges " +
      "UNION SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON r.id = e2.dst), " +
      "drops AS (SELECT id FROM reach GROUP BY id HAVING min(lab) <> id) " +
      "SELECT vec_id, cell FROM surv WHERE vec_id NOT IN (SELECT id FROM drops) ORDER BY vec_id"
}
