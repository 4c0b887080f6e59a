package graft.functions

import graft.TestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 codegen kernels to the CodegenFallback SQL spellings
  * they replaced (guide §4: no higher-order functions in hot Generate
  * paths — the interpreted ExplodeBase.eval path measured 3-20x slower
  * with 45-100 s JIT stalls on the full board; OPTIMIZATION_r17.md
  * "t20 stall"). Each case evaluates BOTH spellings on adversarial
  * inputs (emoji = supplementary code points, combining marks,
  * shorter-than-k texts, tie-heavy hash runs) and requires equality —
  * so the kernels can never drift from what the DuckDB oracles replay. */
class KernelParitySpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  import spark.implicits._

  test("code_points equals the transform(sequence, substring) spelling") {
    // every BPE call site filters word <> '' first, so parity is pinned
    // on non-empty words; the kernel's [] on "" is strictly saner than
    // the old spelling's sequence(1,0) descent and is asserted below
    val words = Seq(
      "hello", "a", "naïve", "emoji😀mid", "😀",
      "x" * 40, "ünïcode", "é́combining")
    val rows = words.toDF("word").select(
      codePoints(col("word")).as("k"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("s"),
      col("word")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"code_points mismatch on '${r.getString(2)}'")
    }
    val empty = Seq("").toDF("word")
      .select(codePoints(col("word")).as("k")).head()
    assert(empty.getSeq[String](0).isEmpty, "code_points('') must be empty")
  }

  test("band_bits equals the transform(sequence, shiftright & mask) spelling") {
    // adversarial longs: negative (arithmetic vs logical shift), 0, -1,
    // extremes — the mask must make the two shifts indistinguishable
    val sigs = Seq(0L, -1L, 1L, Long.MaxValue, Long.MinValue,
      0x123456789abcdef0L, -42L, 0xdeadbeefL)
    import java.lang.{Long => JLong}
    for ((bands, width) <- Seq((4, 16), (5, 12), (8, 4))) {
      val mask = (1L << width) - 1
      val rows = sigs.toDF("sig").select(
        bandBits(col("sig"), bands, width).as("k"),
        expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b*$width) & $mask)")
          .as("s"),
        col("sig")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"band_bits mismatch (bands=$bands width=$width) on ${JLong.toHexString(r.getLong(2))}")
      }
    }
  }

  test("slice_xx_bands replays xxhash64(slice(sig, b*w+1, w)) bit-for-bit") {
    val sig = (1 to 64).map(i => i * 0x9e3779b97f4a7c15L + i).toArray
    val rows = Seq(Tuple1(sig)).toDF("sig").select(
      sliceXxBands(col("sig"), 16, 4).as("k"),
      expr("transform(sequence(0, 15), b -> xxhash64(slice(sig, b*4+1, 4)))").as("s"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("adjacent_pairs equals the CASE/transform struct spelling for ±weights") {
    val data = Seq(
      (Seq("a", "b", "c"), 7L), (Seq("x"), 3L), (Seq[String](), 1L),
      (Seq("😀", "b", "😀", "b"), -5L), (Seq("dup", "dup"), 2L))
    val rows = data.toDF("syms", "freq").select(
      adjacentPairs(col("syms"), col("freq").cast("bigint")).as("k"),
      expr("CASE WHEN size(syms) < 2 THEN array() " +
        "ELSE transform(sequence(1, size(syms) - 1), " +
        "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b, " +
        "CAST(freq AS BIGINT) AS w)) END").as("s")).collect()
    rows.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1)))
  }

  test("ngram_join / bigram_structs equal the transform spellings") {
    val toksData = Seq(
      Seq("one", "two", "three", "four"), Seq("a", "b"), Seq("solo"),
      Seq[String](), Seq("😀", "x", "😀"))
    for (n <- Seq(2, 3)) {
      val rows = toksData.toDF("tk").select(
        ngramJoin(col("tk"), n).as("k"),
        expr(s"CASE WHEN size(tk) < $n THEN array() " +
          s"ELSE transform(sequence(1, size(tk) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(tk, i, $n))) END").as("s")).collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"ngram_join mismatch n=$n"))
    }
    val rows2 = toksData.toDF("toks").filter(size(col("toks")) >= 2).select(
      bigramStructs(col("toks")).as("k"),
      expr("transform(sequence(0, size(toks) - 2), " +
        "i -> struct(toks[i] AS w1, concat(toks[i], ' ', toks[i + 1]) AS bg))").as("s"))
      .collect()
    rows2.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1)))
  }

  test("agree_count / l2_sq_dist / vec_sub / vec_div / l2_norm / dense_from_map equal their HOF spellings") {
    // agree_count over long signatures
    val sigPairs = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L)),
      (Seq(5L, 5L), Seq(5L, 5L)), (Seq(0L), Seq(1L)))
    sigPairs.toDF("a", "b").select(
      agreeCount(col("a"), col("b")).as("k"),
      expr("aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
        .as("s")).collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // vector kernels over float AND double arrays (the kernels read float
    // natively; the HOF spelling casts) — values must be bit-identical
    val vecs = Seq(
      (Seq(1.5, -2.25, 3.0), Seq(0.5, 2.0, -1.0)),
      (Seq(0.0, 0.0, 0.0), Seq(0.1, 0.2, 0.3)),
      (Seq(1e-300, -1e300, 42.0), Seq(42.0, 1e-300, -7.5)))
    for (floatLeft <- Seq(false, true)) {
      val df0 = vecs.toDF("a", "b")
      val df = if (floatLeft) df0.withColumn("a", col("a").cast("array<float>")) else df0
      df.select(
        l2SqDist(col("a"), col("b")).as("kd"),
        expr("aggregate(zip_with(a, b, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (acc, v) -> acc + v)").as("sd"),
        vecSub(col("a"), col("b")).as("kv"),
        expr("zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) - y)").as("sv"),
        l2Norm(col("a")).as("kn"),
        sqrt(expr("aggregate(a, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")).as("sn"))
        .collect().foreach { r =>
          assert(JDouble(r.getDouble(0)) == JDouble(r.getDouble(1)), s"l2_sq_dist floatLeft=$floatLeft")
          assert(r.getSeq[Double](2) == r.getSeq[Double](3), s"vec_sub floatLeft=$floatLeft")
          assert(JDouble(r.getDouble(4)) == JDouble(r.getDouble(5)), s"l2_norm floatLeft=$floatLeft")
        }
    }
    vecs.toDF("a", "b").withColumn("nrm", lit(3.7)).select(
      vecDiv(col("a"), col("nrm")).as("k"),
      expr("transform(a, x -> x / nrm)").as("s")).collect()
      .foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
    // dense_from_map: absent buckets 0.0, present buckets verbatim
    val maps = Seq(
      (Seq((0, 1.5), (3, -2.0)), 4), (Seq[(Int, Double)](), 3), (Seq((2, 7.0)), 3))
    maps.map(_._1).toDF("entries").select(
      map_from_entries(col("entries")).as("m"))
      .select(
        denseFromMap(col("m"), 4).as("k"),
        expr("transform(sequence(0, 3), i -> coalesce(element_at(m, i), 0D))").as("s"))
      .collect().foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
  }

  test("vec_scale preserves element type and equals the transform(x * CAST(s AS FLOAT)) lambda") {
    val fv = Seq(Seq(1.5f, -2.25f, 0.0f, 3.4e38f), Seq[Float]())
    for (s <- Seq(2.0f, 100.0f, 0.0f)) {
      fv.toDF("v").select(
        vecScale(col("v"), s).as("k"),
        expr(s"transform(v, x -> x * CAST($s AS FLOAT))").as("sq")).collect()
        .foreach(r => assert(r.getSeq[Float](0) == r.getSeq[Float](1), s"float s=$s"))
      val dv = Seq(Seq(1.5, -2.25, 1e300))
      dv.toDF("v").select(
        vecScale(col("v"), s).as("k"),
        expr(s"transform(v, x -> x * CAST($s AS FLOAT))").as("sq")).collect()
        .foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1), s"double s=$s"))
    }
  }

  test("count_in / count_present / count_alpha_tokens equal the filter HOF spellings") {
    val stops = Seq("the", "and", "of")
    val toksData = Seq(
      Seq("the", "quick", "and", "the", "fox"), Seq("none", "here"),
      Seq[String](), Seq("öf", "of", "AND", "and"), Seq("123", "a1", "Ω", "zZ"))
    val df = toksData.toDF("toks")
    df.select(
      countIn(col("toks"), stops).as("k"),
      size(filter(col("toks"),
        t => array_contains(array(stops.map(lit): _*), t))).as("s"),
      countPresent(col("toks"), stops).as("kp"),
      size(filter(array(stops.map(lit): _*),
        w => array_contains(col("toks"), w))).as("sp"),
      countAlphaTokens(col("toks")).as("ka"),
      expr("size(filter(toks, t -> t rlike '[a-zA-Z]'))").as("sa")).collect()
      .foreach { r =>
        assert(r.getInt(0) == r.getInt(1), "count_in")
        assert(r.getInt(2) == r.getInt(3), "count_present")
        assert(r.getInt(4) == r.getInt(5), "count_alpha_tokens")
      }
  }

  private def JDouble(d: Double): java.lang.Double = java.lang.Double.valueOf(d)

  test("gram_hashes/window_mins equal the CASE/transform SQL spellings for both hash variants") {
    val texts = Seq(
      "one two three four five six seven",
      "a b", "single", "dup dup dup dup dup dup",
      "t1 t2 t3 t4", "x y z w v u t s r q p o n m")
    val df = texts.toDF("text")
      .select(split(lower(col("text")), "\\s+").as("tk"))
    for ((useSha, h) <- Seq(
        (true, (g: String) => s"CAST(conv(substring(sha2($g, 256), 1, 8), 16, 10) AS BIGINT)"),
        (false, (g: String) => s"xxhash64($g)"));
        k <- Seq(2, 4); w <- Seq(2, 4)) {
      val rows = df
        .withColumn("hs", expr(
          s"CASE WHEN size(tk) < $k THEN array(${h(s"concat_ws(char(31), tk)")}) " +
            s"ELSE transform(sequence(1, size(tk) - ${k - 1}), i -> " +
            s"${h(s"concat_ws(char(31), slice(tk, i, $k))")}) END"))
        .select(
          windowMins(gramHashes(col("tk"), k, useSha), w).as("kk"),
          expr(
            s"CASE WHEN size(hs) <= $w THEN array(array_min(hs)) " +
              s"ELSE transform(sequence(1, size(hs) - ${w - 1}), j -> array_min(slice(hs, j, $w))) END")
            .as("ss"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"kernel/SQL winnow mismatch (useSha=$useSha k=$k w=$w): " +
            s"${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
      }
    }
  }
}
