package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.GraftSession.withScratch
import graft.operators.Similarity

/** Increment-scaling measurement for the index APPEND paths (r14
  * VERDICT task 6): the s20/s21 100× points scaled the BASE corpus and
  * left the append increments small, so the claim "append is linear in
  * |increment| and never re-touches the base codes" had no empirical
  * point. Three experiments per path over the sf embeddings relation:
  *
  *   A  base 1×, increment 1×      — the reference wall
  *   B  base 1×, increment `f`×    — slope vs A proves |increment|
  *                                   scaling (linear at worst;
  *                                   sublinear while parallel headroom
  *                                   absorbs the factor)
  *   C  base `f`×, increment 1×    — wall vs A proves the append never
  *                                   rescans the base (only parquet
  *                                   FOOTER metadata grows: the
  *                                   n_total report count)
  *
  * appendIvfPqIndex increments are key-shifted clones (encode is a
  * per-row projection — content-blind). embedAdmitAppend increments
  * are dimension-ROTATED per copy (a cloned increment would collapse at
  * the operator's content-address step and measure dedup, not append;
  * rotations give genuinely distinct directions). Copies of the same
  * rotation class are identical vectors — they exercise the clone-
  * collapse path at scale, which is the honest production mix. The
  * embedding dimension is READ from the data (size of one embedding),
  * never assumed — the driver regenerates testdata (r15 ADVICE).
  *
  * FRAGMENTATION mode (r15 VERDICT task 5): `frag [nAppends]` runs the
  * compaction experiment instead — nAppends small appends fragment the
  * cell dirs one file per touched cell per batch, and probes/queries
  * then pay footer enumeration linear in the append COUNT (the r14
  * 1.48× base-footer finding). Measures probe wall fragmented vs
  * compacted at IDENTICAL data (the fresh point is a pre-append
  * reference at smaller data, context only).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.AppendScale [f]
  *        SPARK_GRAFT_SF_DIR=... runMain graft.tools.AppendScale frag [nAppends]
  * (default f = 100, nAppends = 60). Prints one markdown table; temp
  * dirs reclaimed.
  */
object AppendScale {

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  // left-rotate the embedding by c positions (mod the DATA's dim):
  // genuinely distinct directions per rotation class, oracle-free
  private def rotate(df: DataFrame, dim: Int, c: Int, keyBase: Long): DataFrame = {
    val r = c % dim
    val emb =
      if (r == 0) col("embedding")
      else expr(s"concat(slice(embedding, ${r + 1}, ${dim - r}), slice(embedding, 1, $r))")
    df.select((col("vec_id") + keyBase).as("vec_id"), emb.as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain(defaultCores = 32)
    spark.sparkContext.setLogLevel("ERROR")

    val base = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val n = base.count()
    // dimension from the DATA, not an assumption (r15 ADVICE: a
    // regenerated testdata width would make hard-coded slices silently
    // emit wrong-length vectors and invalidate the admit measurement)
    val dim = base.select(size(col("embedding"))).head().getInt(0)

    if (args.headOption.contains("frag")) {
      fragmentation(spark, base, n, dim,
        args.lift(1).map(_.toInt).getOrElse(60))
      spark.stop()
      return
    }
    val f = args.headOption.map(_.toInt).getOrElse(100)

    // key-shifted clones (for the PQ encode path, which is content-blind)
    def cloned(copies: Int, keyBase: Long): DataFrame =
      (0 until copies).map { c =>
        base.select((col("vec_id") + keyBase + c * 10000000L).as("vec_id"),
          col("embedding"))
      }.reduce(_.unionByName(_)).localCheckpoint()

    // dimension-rotated copies (for the admit path: distinct directions)
    def rotated(copies: Int, keyBase: Long): DataFrame =
      (0 until copies).map { c =>
        rotate(base, dim, c, keyBase + c * 10000000L)
      }.reduce(_.unionByName(_)).localCheckpoint()

    // ---- appendIvfPqIndex (the s20 maintenance path) ----
    def pqLeg(baseRel: DataFrame, inc: DataFrame): Double =
      withScratch("graft-appscale-pq-") { case Seq(path) =>
        Similarity.writeIvfPqIndex(baseRel, path, cells = 16, m = 16, kps = 64)
        timed { Similarity.appendIvfPqIndex(inc, path).collect() }
      }
    val pqA = pqLeg(base, cloned(1, 100000000L))
    val pqB = pqLeg(base, cloned(f, 100000000L))
    val bigBase = cloned(f, 0L)
    val pqC = pqLeg(bigBase, cloned(1, 2000000000L))

    // ---- embedAdmitAppend (the s21 ingest-loop path) ----
    // cells sized to the LARGE increment (the √n discipline): a fixed
    // tiny k would make the in-cell pair stage quadratic in |increment|
    // per cell — that is quantizer sizing, not append cost
    val k = math.max(8, math.sqrt((n * f).toDouble).toInt.min(1024))
    def admitLeg(inc: DataFrame): Double =
      withScratch("graft-appscale-adm-") { case Seq(path) =>
        Similarity.writeEmbedIndex(base, path, k = k)
        timed { Similarity.embedAdmitAppend(inc, path, tau = 0.9).count() }
      }
    val admA = admitLeg(rotated(1, 100000000L))
    val admB = admitLeg(rotated(f, 100000000L))

    println(s"| path | A: base 1x, inc 1x | B: base 1x, inc ${f}x | C: base ${f}x, inc 1x | inc slope (B/A vs ${f}x) | base slope (C/A vs 1x) |")
    println("|---|---|---|---|---|---|")
    println(f"| appendIvfPqIndex | $pqA%.2f s | $pqB%.2f s | $pqC%.2f s | ${pqB / pqA}%.2fx | ${pqC / pqA}%.2fx |")
    println(f"| embedAdmitAppend (k=$k) | $admA%.2f s | $admB%.2f s | — | ${admB / admA}%.2fx | — |")
    spark.stop()
  }

  /** Probe wall fresh → after `nAppends` fragmenting appends →
    * after compaction. frag and compacted hold IDENTICAL data — the
    * gap is pure file-count (footer enumeration + per-file open). */
  private def fragmentation(spark: SparkSession, base: DataFrame, n: Long,
      dim: Int, nAppends: Int): Unit = {
    val mod = nAppends * 10 // each append ≈ 0.1% of base; total ≈ +10%
    // ---- embed admission index ----
    val k = math.max(8, math.sqrt(n.toDouble).toInt.min(1024))
    val probe = rotate(base.filter(pmod(col("vec_id"), lit(53)) === 0),
      dim, dim / 2, 7000000000L).localCheckpoint()
    val (admFresh, admFrag, admComp, admFilesBefore, admFilesAfter, admitted,
        admCompFull, admCompSel, admCompNoop, admSelBefore, admSelAfter) =
      withScratch("graft-frag-adm-") { case Seq(path) =>
        Similarity.writeEmbedIndex(base, path, k = k)
        val fresh = timed { Similarity.embedAdmitFromIndex(probe, path, 0.9).count() }
        var nAdm = 0L
        (1 to nAppends).foreach { i =>
          // rotation cycles 1..dim-1, never 0: rotation 0 would be a
          // pure key-shifted clone of indexed base rows, rejected whole
          // — a zero-file append silently under-fragmenting the run
          // once nAppends >= dim. The admitted total is REPORTED so a
          // partially-rejected run is visible, not a silent cap.
          val inc = rotate(base.filter(pmod(col("vec_id"), lit(mod)) === i),
            dim, (i - 1) % (dim - 1) + 1, 100000000L * (i + 1))
          nAdm += Similarity.embedAdmitAppend(inc, path, 0.9).count()
        }
        val frag = timed { Similarity.embedAdmitFromIndex(probe, path, 0.9).count() }
        var rep: org.apache.spark.sql.Row = null
        val tCompFull = timed { rep = Similarity.compactEmbedIndex(spark, path).collect().head }
        val comp = timed { Similarity.embedAdmitFromIndex(probe, path, 0.9).count() }
        // SELECTIVE leg (r16 VERDICT task 2's "Done" evidence): one more
        // small append fragments only its touched cells; the next
        // compact must rewrite THOSE cells and byte-carry the rest —
        // wall scales with the fragmented-cell volume, not the index
        val incX = rotate(base.filter(pmod(col("vec_id"), lit(mod)) === (nAppends + 1) % mod),
          dim, nAppends % (dim - 1) + 1, 100000000L * (nAppends + 2))
        Similarity.embedAdmitAppend(incX, path, 0.9).count()
        var repSel: org.apache.spark.sql.Row = null
        val tCompSel = timed { repSel = Similarity.compactEmbedIndex(spark, path).collect().head }
        // and the NO-OP leg: an unfragmented index costs a listing
        val tCompNoop = timed { Similarity.compactEmbedIndex(spark, path).collect() }
        (fresh, frag, comp, rep.getLong(1), rep.getLong(2), nAdm,
          tCompFull, tCompSel, tCompNoop, repSel.getLong(1), repSel.getLong(2))
      }

    // ---- IVF-PQ index ----
    val q = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .localCheckpoint()
    val (pqFresh, pqFrag, pqComp, pqFilesBefore, pqFilesAfter) =
      withScratch("graft-frag-pq-") { case Seq(path2) =>
        Similarity.writeIvfPqIndex(base, path2, cells = 16, m = 16, kps = 64)
        val fresh = timed { Similarity.ivfPqQueryIndex(q, path2, 10, 4).count() }
        (1 to nAppends).foreach { i =>
          val inc = base.filter(pmod(col("vec_id"), lit(mod)) === i)
            .select((col("vec_id") + 100000000L * (i + 1)).as("vec_id"),
              col("embedding"))
          Similarity.appendIvfPqIndex(inc, path2).collect()
        }
        val frag = timed { Similarity.ivfPqQueryIndex(q, path2, 10, 4).count() }
        val rep = Similarity.compactIvfPqIndex(spark, path2).collect().head
        val comp = timed { Similarity.ivfPqQueryIndex(q, path2, 10, 4).count() }
        (fresh, frag, comp, rep.getLong(1), rep.getLong(2))
      }

    println(s"| probe | fresh (pre-append) | fragmented ($nAppends appends) | compacted | files frag->comp | frag/comp slope |")
    println("|---|---|---|---|---|---|")
    println(f"| embedAdmitFromIndex (k=$k, $admitted admitted) | $admFresh%.2f s | $admFrag%.2f s | $admComp%.2f s | $admFilesBefore -> $admFilesAfter | ${admFrag / admComp}%.2fx |")
    println(f"| ivfPqQueryIndex | $pqFresh%.2f s | $pqFrag%.2f s | $pqComp%.2f s | $pqFilesBefore -> $pqFilesAfter | ${pqFrag / pqComp}%.2fx |")
    println()
    println(s"| compact wall (embed) | full ($nAppends-append frag) | selective (1 append) | no-op | selective files |")
    println("|---|---|---|---|---|")
    println(f"| compactEmbedIndex | $admCompFull%.2f s | $admCompSel%.2f s | $admCompNoop%.2f s | $admSelBefore -> $admSelAfter |")
  }
}
