package graft

import java.util.Locale

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"queries":{...},"canary":[min,max],
  * "sf":...} — every value is SECONDS; the host-noise normalization
  * scale is derivable as max(1.0, canary_min / 0.066) (quiet-host
  * floor, measured round 7), making rounds comparable across
  * host-noise windows (normalized = raw / scale).
  *
  * Each query executes its FULL plan through the noop sink (count() would
  * let Catalyst prune projections and skip work a consumer would pay for).
  * A warmup query first absorbs session/JIT/codegen startup so per-query
  * numbers measure the plan, not the JVM.
  */
object Bench {

  /** JSON-safe seconds: Locale.ROOT always yields a '.' decimal point — a
    * ','-decimal JVM locale (de, fr, ...) would emit invalid JSON and
    * zero out the round's bench signal. */
  private[graft] def fmtSeconds(v: Double): String =
    if (v < 0) "-1" else "%.3f".formatLocal(Locale.ROOT, v)

  /** COMPACT per-query seconds: the whole JSON line must fit the
    * harness's ~2000-char output tail WITH the trailing sbt status line
    * — the round-13 line (152 queries × fixed 3-decimals) overflowed it
    * and the driver recorded `parsed: null`. Two decimals under 1 s
    * (two significant digits; ONE under 0.1 s — those rows are
    * plan-overhead noise), trailing zeros stripped; WHOLE SECONDS at
    * ≥1 s (the r16 "bench-tail headroom" lever, spent in r17 to fund
    * the time-travel board row): a ≥1 s row's displayed value is
    * half-second-rounded, so round-over-round board comparisons of
    * those rows carry up to ±0.5 s grid error on top of host noise —
    * one more reason regression ADJUDICATION must use the
    * full-precision SPARK_GRAFT_BENCH_ONLY subset line, never this
    * board grid (round-14 ADVICE; the standing CLAUDE.md A/B rule). */
  private[graft] def fmtShort(v: Double): String = {
    if (v < 0) return "-1"
    val s =
      if (v < 1) "%.2f".formatLocal(Locale.ROOT, v)
      else "%.0f".formatLocal(Locale.ROOT, v)
    if (s.contains('.')) {
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    } else s
  }

  /** Display key per query: the prefix before the first '_' with the
    * numeric suffix's leading zeros stripped (q01_pricing → "q1",
    * d02_minhash → "d2" — zero-padding cost ~60 chars of the tail
    * budget across the 157-row board), falling back to the FULL name
    * whenever two queries would share a display key — a silent
    * collision would drop a timing from the board. */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    def short(k: String): String = {
      val p = k.takeWhile(_ != '_')
      val (alpha, num) = p.span(!_.isDigit)
      if (num.nonEmpty && num.forall(_.isDigit)) {
        val trimmed = num.dropWhile(_ == '0')
        alpha + (if (trimmed.isEmpty) "0" else trimmed)
      } else p
    }
    val collisions = names.groupBy(short).collect { case (p, ns) if ns.size > 1 => p }.toSet
    names.map(k => k -> (if (collisions(short(k))) k else short(k))).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain(defaultCores = 4)
    // ERROR, not WARN: per-query Spark WARNs (e.g. WindowExec's
    // single-partition warning) flood the harness's bounded output tail
    // around the one JSON line that matters.
    spark.sparkContext.setLogLevel("ERROR")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warmup: touch every table + exercise codegen/shuffle machinery once
    try {
      Tables.registerAll(spark, sfDir)
      spark.sql("SELECT count(*) FROM lineitem").collect()
      SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => }

    // min over iterations, INTERLEAVED across the whole query list
    // (round 1 of all queries, then round 2, ...): back-to-back repeats
    // let one host-interference window poison a contiguous block of the
    // board, which min-of-N-adjacent demonstrably fails to suppress
    // (r05 q32–q36, r06 q19–q24). Spreading a query's N samples minutes
    // apart makes the per-query min robust to any noise window shorter
    // than a full round.
    // 4 interleaved rounds ≈ 7 min wall on the full board at sf0.1: long
    // enough that every query's min usually sees a quiet window when the
    // host interferes in minutes-long bursts (observed pattern:
    // whole-board +40-100% for several minutes, then quiet), while
    // staying near the 3-round runtime the per-round harness has always
    // tolerated
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "4").toInt
    // optional comma-separated name/prefix filter for local iteration
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q27,d02); unset = the full board
    // empty/blank (scale_check.sh passes "" for the full board) = unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // fixed CPU-bound probe, one sample per iteration round: its spread
    // calibrates HOST interference for readers of the JSON line (two
    // rounds of this board were polluted by minutes-long whole-board
    // noise bursts; the canary makes inflation visible and normalizable
    // instead of indistinguishable from regression). The work is
    // constant by construction — 200M-long sum over 32 fixed splits,
    // no data, no shuffle — so any spread is the machine, not the code.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32).agg(org.apache.spark.sql.functions.sum("id")).head()
      (System.nanoTime() - t0) / 1e9
    }
    val canary = scala.collection.mutable.ArrayBuffer.empty[Double]

    val best = scala.collection.mutable.Map.empty[String, Double]
    for (_ <- 1 to iters) { canary += canaryOnce(); for (name <- names) {
      val t = runOnce(name)
      val prev = best.get(name)
      best(name) =
        if (t < 0 || prev.contains(-1.0)) -1.0
        else math.min(t, prev.getOrElse(Double.MaxValue))
      // OUTSIDE the timed region: several operators localCheckpoint
      // intermediate artifacts whose blocks are reclaimed only when GC
      // collects the dropped plan references (ContextCleaner is
      // weak-reference driven). Left to ambient GC, iterated runs
      // accumulate dead checkpoint blocks and the storage pressure
      // bleeds into LATER queries' numbers — measured up to +60% on the
      // text queries, which run last. A GC nudge per run keeps each
      // query's sample independent of the board's run order.
      System.gc()
    } }
    val results = names.map(n => n -> best(n))

    // The harness keeps only the tail of this process's output, so the JSON
    // line must stay well under 2000 chars: short keys and the fmtShort
    // two-significant-digit per-query tier (BenchSpec pins the budget).
    // SUBSET runs (SPARK_GRAFT_BENCH_ONLY) are the A/B regression-
    // adjudication harness and trivially fit the tail — they get FULL
    // per-query precision; fmtShort's ~5% grid at tier bottoms is the
    // same order as the regressions being adjudicated (r14 ADVICE).
    val fmtQ: Double => String = if (only.isDefined) fmtSeconds else fmtShort
    val key = shortKeys(names)
    val qs = results
      .map { case (k, v) => "\"" + key(k) + "\":" + fmtQ(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val canarySorted = canary.sorted
    // Canary-NORMALIZED reporting: two review rounds were polluted by
    // minutes-long host-interference bursts that inflated every query
    // uniformly (r08: canary floor 1.39x over r07, 19 phantom
    // "regressions" needing manual adjudication). The canary is fixed
    // CPU-bound work, so canary_min / CANARY_REF measures THIS run's host
    // speed vs the quiet-host reference floor; value_norm (= value /
    // scale) and per-query raw / scale are round-over-round comparable.
    // Raw values stay primary — normalization is a lens, not a rewrite.
    // The normalization scale is NOT emitted (tail budget): readers
    // compute scale = max(1.0, canary_min / 0.066) — 0.066 is the
    // quiet-host floor measured round 7 (VERDICT r08). The clamp to
    // >= 1.0 stays part of the documented recipe: normalization exists
    // to discount host SLOWDOWN bursts; a canary min under the floor (a
    // faster host) must never inflate value_norm above raw (VERDICT r09
    // "what's wrong" #2).
    // compact POSITIONAL array [min, max] (r15 VERDICT task 2 trimmed
    // the scale slot: it is fully DERIVABLE as max(1.0, min / 0.066) —
    // the ref floor is the documented constant (this comment +
    // SCALE_NOTES) and the slowdown-only clamp is structural, so
    // emitting it spent ~5 tail chars on redundancy). min reads host
    // speed vs the quiet floor; max reads burst windows crossing the
    // run (the r15 regressor-adjudication signature).
    val canaryJson =
      if (canarySorted.isEmpty) "null"
      else s"[${fmtQ(canarySorted.head)},${fmtQ(canarySorted.last)}]"
    // value_norm was dropped from the line for the tail budget: it is
    // exactly value / canary.scale (the r9+ normalization lens), and
    // readers that want it divide — same information, 25 fewer chars
    // sf as the directory basename — the path prefix is constant context
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // "unit":"sec" dropped from the wrapper (r15 VERDICT task 2): every
    // value in the line has always been seconds — documented here and
    // in SCALE_NOTES — and the 13 chars buy another board row of tail
    // headroom. "metric" stays: it is the grep key the harness (and
    // tools/ab_regressors.sh) locate the line with.
    val line = s"""{"metric":"total","value":${fmtQ(total)},"queries":$qs,"canary":$canaryJson,"sf":"$sfName"}"""
    // tail budget: the harness keeps ~2000 output chars and sbt appends
    // its own ~80-char status line after ours — warn a future round
    // BEFORE the driver records another unparseable bench
    if (line.length > 1850)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars — " +
        "the harness tail cuts ~1920; compact fmtShort tiers or the board overflows again")
    println(line)
    spark.stop()
  }
}
