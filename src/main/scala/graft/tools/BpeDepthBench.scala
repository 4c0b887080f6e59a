package graft.tools

/** Depth-axis bench for BPE merge training (feeds SCALE_NOTES): times
  * [[graft.operators.TextAnalysis.bpeMerges]] at increasing merge depth
  * k over the documents corpus and prints the MARGINAL per-round cost
  * between depth points. With the incremental pair-delta recount a
  * round's shuffle touches only the words containing the merged pair —
  * merge frequency falls with rank, so the marginal cost per round must
  * fall as k grows (a full-recount implementation would hold it flat).
  *
  * Usage: runMain graft.tools.BpeDepthBench [sfDir]
  */
object BpeDepthBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.GraftSession.forMain(defaultCores = 16)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.load(spark, sfDir, "documents")
    docs.count() // warm the scan
    graft.operators.TextAnalysis.bpeMerges(docs, 2) // absorb codegen startup
    // the driver-side capped-census trainer's depth axis: one census
    // pass + in-memory rounds, so deep k costs the census, not k jobs
    graft.operators.TextAnalysis.bpeTrainDriver(docs, 2) // warm its census path
    val driver = Seq(8, 64, 128, 256).map { k =>
      val t0 = System.nanoTime()
      val rows = graft.operators.TextAnalysis.bpeTrainDriver(docs, k).size
      s""""k$k":{"sec":${graft.Bench.fmtSeconds((System.nanoTime() - t0) / 1e9)},"rows":$rows}"""
    }.mkString(",")
    // distributed trainer: k=128/256 exhaust at the corpus's trainable
    // depth, so their cost is the exhaustion-depth round count
    val ks = Seq(8, 16, 32, 64, 128, 256)
    var deepest: Array[(Int, Long)] = Array.empty
    val times = ks.map { k =>
      System.gc() // reclaim the previous run's checkpoint blocks
      val t0 = System.nanoTime()
      val m = graft.operators.TextAnalysis.bpeMerges(docs, k)
      val rows = m.count()
      val t = (System.nanoTime() - t0) / 1e9
      // keep the deepest run's table (outside the timed region) so the
      // frequency curve below needs no retrain
      if (k == ks.last)
        deepest = m.orderBy(org.apache.spark.sql.functions.col("rank"))
          .collect().map(r => (r.getInt(0), r.getLong(3)))
      k -> ((t, rows))
    }
    val totals = times
      .map { case (k, (t, rows)) =>
        s""""k$k":{"sec":${graft.Bench.fmtSeconds(t)},"rows":$rows}"""
      }.mkString(",")
    // the delta shuffle's volume is ∝ words containing the merged pair;
    // the merge FREQUENCY curve is its direct proxy — print it at a few
    // ranks so the falling data-dependent cost is visible even when the
    // per-round scheduling floor dominates wall time at small SF
    val freqCurve = Seq(1, 8, 16, 32, 64)
      .flatMap(r => deepest.find(_._1 == r))
      .map { case (r, f) => s""""rank$r":$f""" }.mkString(",")
    val marginal = times.map { case (k, (t, _)) => k -> t }
      .sliding(2).collect { case Seq((k0, t0), (k1, t1)) =>
        s""""r${k0 + 1}_$k1":${graft.Bench.fmtSeconds((t1 - t0) / (k1 - k0))}"""
      }.mkString(",")
    println(s"""{"metric":"bpe_depth","totals":{$totals},"driver_trainer":{$driver},"marginal_sec_per_round":{$marginal},"merge_freq":{$freqCurve},"sf":"$sfDir"}""")
    spark.stop()
  }
}
