package graft.operators

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataFrame-first operator API on CALLER-SUPPLIED data — no testdata
  * binding anywhere. This is the "a user of the reference could switch"
  * contract: every operator accepts any frame with the documented columns. */
class LibraryApiSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  import scala.jdk.CollectionConverters._
  private def corpus(): org.apache.spark.sql.DataFrame = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val docs = Seq(
      (1L, base),
      (2L, base),                                   // exact dup of 1
      (3L, base + " tonight"),                      // near dup of 1
      (4L, "completely different text about winter storms in the north atlantic region today"),
      (5L, "short doc"),
      (6L, base + " tonight"),                      // exact dup of 3
      (7L, "der hund und die katze sind nicht ein gutes team mit dem vogel"))
    spark.createDataFrame(
      docs.map { case (i, t) => org.apache.spark.sql.Row(i, t) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
  }

  test("dedup family runs on a caller-supplied corpus") {
    val c = corpus()
    // exact dedup keeps the smallest id per distinct text: drops 2 and 6
    val kept = Dedup.exactDedup(c).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 7L))
    // exact jaccard finds the duplicate/near-dup group around doc 1
    val pairs = Dedup.exactJaccardPairs(Dedup.postingIndex(c), 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((3L, 6L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
    // components collapse 1,2,3,6 under representative 1
    val cc = Dedup.connectedComponents(
      Dedup.exactJaccardPairs(Dedup.postingIndex(c), 0.4).select(col("id_a"), col("id_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(2L -> 1L, 3L -> 1L, 6L -> 1L))
    // curation keeps one representative of the dup group and doc 4
    val curated = Curation.curate(c,
      Dedup.exactJaccardPairs(Dedup.postingIndex(c), 0.4)).collect().map(_.getLong(0)).toSet
    assert(curated.contains(1L) && !curated.contains(2L) &&
      !curated.contains(3L) && !curated.contains(6L))
  }

  test("text analysis runs on a caller-supplied corpus") {
    val c = corpus()
    val preds = TextAnalysis.langId(c).select("doc_id", "pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en" && preds(7L) == "de")
    val q = TextAnalysis.qualityFeatures(c).filter(col("doc_id") === 5L).head()
    assert(q.getLong(2) == 2L) // n_tokens of "short doc"
    val tfidf = TextAnalysis.tfidfTerms(c, 2)
    assert(tfidf.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 2))
  }

  test("contamination and repetition stats run on caller-supplied corpora") {
    val c = corpus()
    // benchmark = doc 1's text: docs 2 (exact) and 3/6 (near) overlap it
    val bench = c.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val hits = Curation.contamination(c, bench, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((1L, 101L)) && hits.contains((2L, 101L)) && hits.contains((3L, 101L)))
    assert(!hits.exists(_._1 == 4L), "unrelated doc must not be flagged")

    val rep = spark.createDataFrame(Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "every token in this rather long example sentence stays fully distinct because " +
        "no word ever appears twice across the whole carefully constructed document body")))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(rep).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getInt(4) == 0, "pure repetition must be dropped")
    assert(rows(1L).getDouble(2) > 0.8 && rows(1L).getDouble(3) == 1.0)
    assert(rows(2L).getInt(4) == 1, "distinct-token doc must be kept")
    assert(rows(2L).getDouble(2) == 0.0)
  }

  test("lmScore ranks improbable word sequences above common ones") {
    // corpus where "the cat sat" repeats; doc 9 pairs the COMMON word
    // 'the' with words it never precedes elsewhere — rare continuations of
    // a frequent context are exactly what the NLL must penalize. (Fully
    // unique bigrams after hapax words score 0 under a self-trained model:
    // c(w1 w2) = c(w1) = 1 is "perfectly predicted".)
    val docs = (1L to 8L).map(i => (i, "the cat sat on the mat")) :+
      (9L, "the zyx the qpo the nml")
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val scores = TextAnalysis.lmScore(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.size == 9)
    assert((1L to 8L).map(scores).distinct.size == 1, "identical docs score identically")
    assert(scores(9L) > scores(1L), "rare continuations of a common word must score higher")
    // c1(the)=19 (16 from docs 1-8, 3 from doc 9): doc 1's scored bigrams
    // are (the,cat)+(the,mat) at -ln(8/19) each over 5 bigrams; doc 9's
    // are 3 × -ln(1/19) over 5
    assert(math.abs(scores(1L) - 2 * math.log(19.0 / 8) / 5) < 1e-3)
    assert(math.abs(scores(9L) - 3 * math.log(19.0) / 5) < 1e-3)
  }

  test("similarity runs on caller-supplied vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),  // nearest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)))
    val base = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val queries = base.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val top = Similarity.bruteForceTopK(base, queries, 1).head()
    assert(top.getAs[Long]("vec_id") == 1L) // the near-parallel vector wins
  }

  test("round-10 additions run on caller-supplied data") {
    import spark.implicits._
    val c = corpus()
    // 128-bit wide-band simhash: the exact dup pairs surface at hamming 0
    val p128 = Dedup.simhashPairs128(c)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p128.contains((1L, 2L)) && p128.contains((3L, 6L)))
    // capped mixture over a (doc_id, lang, text) frame
    val langs = c.withColumn("lang",
      org.apache.spark.sql.functions.when(col("doc_id") === 7L, "de").otherwise("en"))
    val mix = Packing.mixtureWeightsCapped(langs, 0.5, 100L, 2.0)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(mix.keySet == Set("en", "de") && mix.values.forall(_ >= 0))
    // z-order layout over any (id, a, b) frame
    val pts = (0 until 50).map(i => (i.toLong, (i % 5).toLong, (i % 11).toLong))
      .toDF("pid", "x", "y")
    val z = Packing.zorderFiles(pts, "pid", "x", "y", rowsPerFile = 16L)
    assert(z.count() == 50 && Packing.zorderFileStats(z).count() >= 3)
    // knn label propagation over caller vectors
    val lab = Seq((10L, Array(1.0f, 0.0f), 1), (11L, Array(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val q = Seq((5L, Array(0.95f, 0.05f))).toDF("query_id", "q_emb")
    assert(Similarity.knnLabel(lab, q, 1).head().getInt(1) == 1)
    // perceptual media dedup over any (doc_id, format, payload) frame
    val media = Seq((1L, "png", "abc def".getBytes), (2L, "png", "fed cba".getBytes))
      .toDF("doc_id", "format", "payload")
    assert(Multimodal.mediaSemDedup(media, 0.99).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("round-12 additions run on caller-supplied data") {
    import spark.implicits._
    val c = corpus()
    // winnowing with the deployment hash, index/pairs split: exact dup
    // pairs share every fingerprint under ANY hash
    val fk = Dedup.winnowedIndex(c, 2, 2, 64, "xxhash64")
    val pairs = Dedup.winnowedPairsFrom(fk, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((3L, 6L)), s"got $pairs")
    // two-stage PQ retrieval (ADC shortlist -> exact re-rank) over
    // caller vectors with an independent query id space
    val base = (0 until 32).map { i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i % 8) 1.0f + i / 8 else 0.1f))
    }.toDF("vec_id", "embedding")
    val q = Seq((100L, Array.tabulate(8)(d => if (d == 5) 1.6f else 0.1f)))
      .toDF("query_id", "q_emb")
    val model = Similarity.pqTrain(base, m = 2, k = 8)
    val top = Similarity.pqTopKReranked(base, q, model, 1, shortlist = 8,
      excludeSelf = false).collect()
    assert(top.length == 1 && top.head.getLong(1) % 8 == 5,
      s"re-ranked top-1 must sit on the query's axis: ${top.toSeq}")
    // bpe encode with a caller-trained merge table
    val enc = TextAnalysis.bpeEncode(c, Seq(("d", "u"), ("du", "p"))).collect()
    assert(enc.nonEmpty && enc.forall(_.getLong(2) > 0))
  }

  test("round-13 additions run on caller-supplied data") {
    val c = corpus()
    // production-depth BPE: the capped-census driver trainer encodes the
    // same corpus it trained on; fertility is 1.0 once every census word
    // is a single token (trainable depth reached)
    val table = TextAnalysis.bpeTrainDriver(c, merges = 500)
    assert(table.nonEmpty && table.size < 500, "expected exhaustion")
    val enc = TextAnalysis.bpeEncode(c, table.map(t => (t._2, t._3))).collect()
    assert(enc.forall(r => r.getLong(1) == r.getLong(2)),
      s"at full depth every word is one token: ${enc.toSeq}")
    // DSIR selection toward a caller-supplied target domain: the doc the
    // target sample was drawn from must lead the ranking
    val sel = Selection.dsirSelect(c, c.filter(col("doc_id") === 4L), k = 7)
      .collect().map(_.getLong(0)).toSeq
    assert(sel.length == 7 && sel.head == 4L, s"the target doc itself must lead: $sel")
    // corpus diversity: totals fall with order; clone-heavy corpus keeps
    // distinct_ratio well under 1 at order 1
    val div = TextAnalysis.corpusDiversity(c, maxN = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(div.map(_._1).toSeq == Seq(1, 2, 3))
    assert(div(0)._2 > div(1)._2 && div(1)._2 > div(2)._2)
    assert(div(0)._4 < 1.0, s"clones must depress the distinct ratio: ${div.toSeq}")
    // packing by caller-supplied real token counts
    val packed = Packing.packCounts(
      TextAnalysis.bpeEncode(c, Seq(("t", "h"))).select(col("doc_id"), col("n_tokens")),
      budget = 16)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(packed.size == 7 && packed.values.forall { case (f, l) => f <= l })
  }
}
