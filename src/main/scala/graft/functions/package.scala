package graft

import org.apache.spark.sql.{Column, GraftColumnBridge => B}

/** The one way a graft kernel becomes a Column: a typed constructor per
  * Catalyst expression, built through [[org.apache.spark.sql.GraftColumnBridge]].
  * Nothing goes into a session's function registry, so the kernels have
  * no SQL name: user SQL cannot call them, and what it can call does not
  * depend on which operators have run. Model state (centroids, word
  * lists, merge tables, serial offsets) rides as constructor data, so
  * each Column closes over its own values. Analysis yields the case
  * class itself, the same tree the SQL names used to resolve to.
  */
package object functions {
  private def e(c: Column) = B.expression(c)

  // sketches and shingles over token arrays
  def minhashSig(shingles: Column, k: Int): Column = B.column(MinHashSig(e(shingles), k))
  def shingleHashes(tokens: Column, n: Int): Column = B.column(ShingleHashes(e(tokens), n))
  def shinglePairs(tokens: Column, n: Int): Column = B.column(ShinglePairs(e(tokens), n))
  def chunkHashes(tokens: Column, w: Int): Column = B.column(ChunkHashes(e(tokens), w))
  def spanHashes(tokens: Column, w: Int): Column = B.column(SpanHashes(e(tokens), w))
  def simhash64(tokens: Column): Column = B.column(SimHash64(e(tokens)))
  def simhash128(tokens: Column): Column = B.column(SimHash128(e(tokens)))
  def rollingFingerprint(text: Column, w: Int): Column = B.column(RollingFingerprint(e(text), w))
  def dropChunks(tokens: Column, removed: Column, w: Int): Column =
    B.column(DropChunks(e(tokens), e(removed), w))
  def gramHashes(tokens: Column, k: Int, useSha: Boolean): Column =
    B.column(GramHashes(e(tokens), k, useSha))
  def windowMins(hashes: Column, w: Int): Column = B.column(WindowMins(e(hashes), w))

  // LSH banding
  def hyperplaneSig(vec: Column, bits: Int): Column = B.column(HyperplaneSig(e(vec), bits))
  def bandBits(sig: Column, bands: Int, width: Int): Column =
    B.column(BandBits(e(sig), bands, width))
  def sliceXxBands(sig: Column, groups: Int, width: Int): Column =
    B.column(SliceXxBands(e(sig), groups, width))
  def agreeCount(a: Column, b: Column): Column = B.column(AgreeCount(e(a), e(b)))

  // text census and BPE
  def codePoints(word: Column): Column = B.column(CodePoints(e(word)))
  def mergePair(syms: Column, a: String, b: String): Column = B.column(MergePair(e(syms), a, b))
  def mergeAll(syms: Column, pairs: Seq[(String, String)]): Column =
    B.column(MergeAll(e(syms), pairs))
  def adjacentPairs(syms: Column, w: Column): Column = B.column(AdjacentPairs(e(syms), e(w)))
  def ngramJoin(tokens: Column, n: Int): Column = B.column(NgramJoin(e(tokens), n))
  def bigramStructs(tokens: Column): Column = B.column(BigramStructs(e(tokens)))
  def countIn(tokens: Column, words: Seq[String]): Column = B.column(CountIn(e(tokens), words))
  def countPresent(tokens: Column, words: Seq[String]): Column =
    B.column(CountPresent(e(tokens), words))
  def countAlphaTokens(tokens: Column): Column = B.column(CountAlphaTokens(e(tokens)))

  // vector algebra
  def cosineSim(a: Column, b: Column): Column = B.column(CosineSim(e(a), e(b)))
  def nearestCentroid(vec: Column, cents: Column): Column =
    B.column(NearestCentroid(e(vec), e(cents)))
  def l2Norm(vec: Column): Column = B.column(L2Norm(e(vec)))
  def l2SqDist(a: Column, b: Column): Column = B.column(L2SqDist(e(a), e(b)))
  def vecSub(a: Column, b: Column): Column = B.column(VecSub(e(a), e(b)))
  def vecDiv(vec: Column, s: Column): Column = B.column(VecDiv(e(vec), e(s)))
  def vecScale(vec: Column, factor: Float): Column = B.column(VecScale(e(vec), factor))
  def denseFromMap(m: Column, dim: Int): Column = B.column(DenseFromMap(e(m), dim))

  // product quantization (centroids flattened as in [[PqOps]])
  def pqEncode(vec: Column, cents: Array[Double], m: Int, k: Int, sub: Int): Column =
    B.column(PqEncode(e(vec), cents, m, k, sub))
  def pqDistTable(vec: Column, cents: Array[Double], m: Int, k: Int, sub: Int): Column =
    B.column(PqDistTable(e(vec), cents, m, k, sub))
  def pqAdc(codes: Column, table: Column, k: Int): Column = B.column(PqAdc(e(codes), e(table), k))

  // serial ids and range buckets
  def partitionOffsetId(offsets: Array[Long]): Column = B.column(PartitionOffsetId(offsets))
  def rangeBucket(v: Column, bounds: Array[Long]): Column = B.column(RangeBucket(e(v), bounds))
}
