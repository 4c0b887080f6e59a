package graft.streaming

import graft.{SuiteScratch, Tables, TestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming results must agree with their batch equivalents on the same
  * data — the file source replays the events table in one trigger, so the
  * incremental plans are checked against the batch plans exactly.
  */
class EventStreamsSpec extends AnyFunSuite with SuiteScratch {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = TestSession.spark

  test("windowed counts match the batch daily rollup") {
    val q = EventStreams.windowedCounts(EventStreams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_counts")
      .select(col("window.start").as("day"), col("event_type"), col("n"), col("total"))
    val batch = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(
      batch.select(col("day").cast("timestamp"), col("event_type"), col("n"), col("total"))).isEmpty)
  }

  test("e01 gate: doubled-source dedup ingest rolls up to the single-counted batch") {
    // every event arrives twice (readEventsDoubled); a no-op dedup would
    // double every n/total below
    val out = EventStreams.queries.find(_.name == "e01_stream_dedup_ingest").get
      .run(spark, dir).collect().map(_.toString).toSeq
    val batch = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("day"), col("event_type"))
      .collect().map(_.toString).toSeq
    assert(out == batch && out.nonEmpty)
  }

  test("stateful dedup keeps every distinct event_id") {
    val q = EventStreams.dedup(EventStreams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("dedup_events").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val expected = Tables.load(spark, dir, "events").select("event_id").distinct().count()
    assert(spark.table("dedup_events").count() == expected)
  }

  test("document ingest dedup keeps one row per distinct content") {
    val q = EventStreams.dedupDocuments(EventStreams.readDocuments(spark, dir))
      .writeStream.format("memory").queryName("docs_dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val expected = Tables.load(spark, dir, "documents").select("text").distinct().count()
    assert(spark.table("docs_dedup").count() == expected)
  }

  test("near-dup ingest dedup matches the batch single-band admission rule") {
    val q = EventStreams.nearDedupDocuments(EventStreams.readDocuments(spark, dir))
      .writeStream.format("memory").queryName("docs_near_dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val admitted = spark.table("docs_near_dedup").select("doc_id").collect()
      .map(_.getLong(0)).toSet

    // batch replay of the same rule: per band-0 bucket, admit in doc_id
    // order unless within Hamming 3 of an already-admitted sketch
    val sketched = Tables.load(spark, dir, "documents")
      .withColumn("sim", graft.functions.simhash64(split(lower(col("text")), "\\s+")))
      .select(col("doc_id"), col("sim"), expr("sim & 65535").as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = sketched.groupBy(_._3).values.flatMap { group =>
      var kept = List.empty[Long]
      group.sortBy(_._1).flatMap { case (id, sim, _) =>
        if (kept.exists(s => java.lang.Long.bitCount(s ^ sim) <= 3)) None
        else { kept = sim :: kept; Some(id) }
      }
    }.toSet
    assert(admitted == expected)
    // near-dup admission is strictly at-most the exact-content dedup count
    val exactCount = Tables.load(spark, dir, "documents").select("text").distinct().count()
    assert(admitted.size <= exactCount)
  }

  test("near-dup ingest state is bounded: cap evicts oldest, TTL drops idle buckets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.Hashing
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // local replica of the simhash kernel, used only to FIND colliding
    // inputs; the assertions below flow through the real streaming op
    def simhashLocal(text: String): Long = {
      val votes = new Array[Int](64)
      text.toLowerCase.split("\\s+").foreach { t =>
        val h = Hashing.mix64(Hashing.fnv1a64(t.getBytes("UTF-8")))
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    val textA = "alpha beta gamma delta epsilon zeta"
    val simA = simhashLocal(textA)
    // same band-0 bucket as A but far in Hamming distance → admitted, and
    // with cap=1 its admission evicts A's sketch
    // every token varies with i — shared tokens would freeze most sketch
    // bits via the majority vote and could make A's bucket unreachable
    val textB = (1 to 1000000).iterator.map(i => s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e")
      .find { t =>
        val s = simhashLocal(t)
        (s & 65535L) == (simA & 65535L) && java.lang.Long.bitCount(s ^ simA) > 3
      }.get

    def run(cap: Int, name: String): Set[Long] = {
      val input = MemoryStream[(Long, String)]
      val docs = input.toDF().toDF("doc_id", "text")
      val q = EventStreams.nearDedupDocuments(docs, maxSketchesPerBucket = cap, stateTtl = None)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        input.addData((1L, textA)); q.processAllAvailable()
        input.addData((2L, textB)); q.processAllAvailable()
        input.addData((3L, textA)); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // cap 2 holds both sketches: the re-sent textA is near A's sketch → suppressed
    assert(run(cap = 2, "neardup_cap2") == Set(1L, 2L))
    // cap 1: admitting B evicted A's sketch, so the re-sent textA re-admits —
    // the eviction the assertion is really about
    assert(run(cap = 1, "neardup_cap1") == Set(1L, 2L, 3L))

    // TTL: an idle bucket's state drops after the horizon, so the same
    // text re-admits once a later batch processes the timeout. A pending
    // processing-time timeout makes the engine run a batch every trigger,
    // so this query needs a real trigger interval and result polling —
    // processAllAvailable never settles under continuous batches.
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.nearDedupDocuments(
      input.toDF().toDF("doc_id", "text"), stateTtl = Some("1 milliseconds"))
      .writeStream.format("memory").queryName("neardup_ttl").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def waitForCount(n: Long): Boolean = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("neardup_ttl").count() < n && System.nanoTime() < deadline)
        Thread.sleep(50)
      spark.table("neardup_ttl").count() >= n
    }
    try {
      input.addData((1L, textA)); assert(waitForCount(1))
      Thread.sleep(500) // > TTL: bucket A's deadline passes
      // a batch for a DIFFERENT bucket processes bucket A's timeout
      input.addData((2L, "unrelated content entirely different tokens"))
      assert(waitForCount(2))
      input.addData((3L, textA))
      assert(waitForCount(3), "bucket state must drop after the TTL horizon")
    } finally q.stop()
  }

  test("stream-static join enriches events with the customer dimension") {
    val q = EventStreams.enriched(
      EventStreams.readEvents(spark, dir), Tables.load(spark, dir, "customer"))
      .writeStream.format("memory").queryName("enriched").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enriched")
    val batch = Tables.load(spark, dir, "events")
      .join(Tables.load(spark, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")),
        Seq("user_id"), "left")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty)
  }

  test("streaming ingest lands in the engine through the full INSERT pipeline") {
    import graft.engine.{Catalog, SqlContext, SqlEngine}
    val wh = scratchDir("graft-stream-wh-")
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("ing", "u"))
    e.execute("CREATE DATABASE ing")
    e.execute("CREATE TABLE landed (id bigserial PRIMARY KEY, doc_id bigint, digest text)")
    val stream = EventStreams.dedupDocuments(EventStreams.readDocuments(spark, dir))
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    val q = EventStreams.ingestInto(stream.select(col("doc_id"), col("digest")), e, "landed").start()
    try q.processAllAvailable() finally q.stop()
    val expected = Tables.load(spark, dir, "documents").select("text").distinct().count()
    val landed = e.execute("SELECT count(*) AS n, count(DISTINCT id) AS ids FROM landed").collect()(0)
    assert(landed.getLong(0) == expected, "every deduped doc must land exactly once")
    assert(landed.getLong(1) == expected, "serial ids assigned per-batch stay unique")
  }

  test("deduped ingest: dedup state is the index TABLE, surviving a query restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.engine.{Catalog, SqlContext, SqlEngine}
    val wh = scratchDir("graft-ddix-wh-")
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("ddx", "u"))
    e.execute("CREATE DATABASE ddx")
    e.execute("CREATE TABLE docs (doc_id bigint PRIMARY KEY, text text)")
    e.execute("CREATE TABLE dix (digest text PRIMARY KEY, query_id text, batch_id bigint)")

    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestDeduped(
      in1.toDF().toDF("doc_id", "text"), e, "docs", "dix").start()
    try {
      in1.addData((1L, "aaa"), (2L, "bbb"))
      q1.processAllAvailable()
      // cross-batch duplicate within the SAME query
      in1.addData((3L, "bbb"), (4L, "ccc"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(e.execute("SELECT doc_id FROM docs ORDER BY doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))

    // a brand-new query (fresh MemoryStream = fresh checkpoint state)
    // still rejects duplicates of PREVIOUSLY ingested docs — the dedup
    // authority is the table, not streaming state
    val in2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.ingestDeduped(
      in2.toDF().toDF("doc_id", "text"), e, "docs", "dix").start()
    try {
      in2.addData((5L, "aaa"), (6L, "ddd"), (7L, "ddd"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(e.execute("SELECT doc_id FROM docs ORDER BY doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 6L))
    assert(e.execute("SELECT count(*) AS n FROM dix").collect()(0).getLong(0) == 4L)
  }

  test("deduped ingest replays are exactly-once across every crash window") {
    import spark.implicits._
    import graft.engine.{Catalog, SqlContext, SqlEngine}
    val wh = scratchDir("graft-ddcrash-wh-")
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("ddc", "u"))
    e.execute("CREATE DATABASE ddc")
    e.execute("CREATE TABLE docs (doc_id bigint PRIMARY KEY, text text)")
    e.execute("CREATE TABLE dix (digest text PRIMARY KEY, query_id text, batch_id bigint)")

    def docIds = e.execute("SELECT doc_id FROM docs ORDER BY doc_id").collect()
      .map(_.getLong(0)).toSeq
    def idxCount = e.execute("SELECT count(*) AS n FROM dix").collect()(0).getLong(0)

    // batch 0 lands normally ("bbb" enters history)
    val b0 = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    EventStreams.ingestBatchDeduped(b0, e, "docs", "dix", "q", 0L)
    assert(docIds == Seq(1L, 2L) && idxCount == 2L)

    // CRASH WINDOW 1 — between the two INSERTs: emulate by applying only
    // the index half of batch 1, exactly as the protocol writes it
    val b1 = Seq((3L, "bbb"), (4L, "ccc"), (5L, "ddd")).toDF("doc_id", "text")
    graft.operators.Dedup
      .incrementalAdmit(b1, e.execute("SELECT digest FROM dix"))
      .select(col("digest"), lit("q").as("query_id"), lit(1L).as("batch_id"))
      .createOrReplaceGlobalTempView("crash_idx_half")
    e.execute("INSERT INTO dix (digest, query_id, batch_id) SELECT * FROM global_temp.crash_idx_half")
    assert(idxCount == 4L && docIds == Seq(1L, 2L), "crashed: index landed, docs did not")

    // the replay must land the admitted docs (4, 5), skip the index
    // insert, and still reject the historical duplicate (3 = "bbb")
    EventStreams.ingestBatchDeduped(b1, e, "docs", "dix", "q", 1L)
    assert(docIds == Seq(1L, 2L, 4L, 5L), "replay after index-only crash lost or duplicated docs")
    assert(idxCount == 4L, "replay re-inserted index rows")

    // CRASH WINDOW 2 — after both INSERTs, before the checkpoint commit:
    // a second identical replay must be a complete no-op, not a failure
    EventStreams.ingestBatchDeduped(b1, e, "docs", "dix", "q", 1L)
    assert(docIds == Seq(1L, 2L, 4L, 5L) && idxCount == 4L,
      "fully-applied replay must be a no-op")

    // and the next batch proceeds normally against the repaired state
    val b2 = Seq((6L, "ddd"), (7L, "eee")).toDF("doc_id", "text")
    EventStreams.ingestBatchDeduped(b2, e, "docs", "dix", "q", 2L)
    assert(docIds == Seq(1L, 2L, 4L, 5L, 7L) && idxCount == 5L)
  }

  test("deduped ingest RESTARTS from its checkpoint: committed batches never reprocess, new data still dedups against history") {
    // the recovery-replay contract (mirrors the reference's restart e2e,
    // /root/reference/src/tablet/mod.rs:140-179): a query stopped after
    // committing its checkpoint, restarted on the SAME checkpoint, must
    // (a) not re-ingest committed files (no dup), (b) ingest exactly the
    // files that arrived while it was down (no loss), and (c) keep
    // rejecting duplicates of pre-restart content — the streaming query
    // id is checkpoint-stable, so the provenance protocol keys match.
    import spark.implicits._
    import graft.engine.{Catalog, SqlContext, SqlEngine}
    val srcDir = scratchDir("graft-ckpt-src-")
    val ckpt = scratchDir("graft-ckpt-")
    val wh = scratchDir("graft-ckpt-wh-")
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("ckx", "u"))
    e.execute("CREATE DATABASE ckx")
    e.execute("CREATE TABLE docs (doc_id bigint PRIMARY KEY, text text)")
    e.execute("CREATE TABLE dix (digest text PRIMARY KEY, query_id text, batch_id bigint)")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def start() = EventStreams.ingestDeduped(
        spark.readStream.schema(schema).parquet(srcDir), e, "docs", "dix")
      .option("checkpointLocation", ckpt).start()
    def docIds = e.execute("SELECT doc_id FROM docs ORDER BY doc_id").collect()
      .map(_.getLong(0)).toSeq

    // phase 1: two docs land and the query stops CLEANLY (checkpoint committed)
    Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = start()
    val qid1 = try { q1.processAllAvailable(); q1.id } finally q1.stop()
    assert(docIds == Seq(1L, 2L))

    // downtime: a file arrives with one duplicate of PRE-restart content
    Seq((3L, "bbb"), (4L, "ccc")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)

    // phase 2: restart on the SAME checkpoint
    val q2 = start()
    try {
      assert(q2.id == qid1, "restart from the checkpoint must keep the query id")
      q2.processAllAvailable()
    } finally q2.stop()
    assert(docIds == Seq(1L, 2L, 4L),
      "restart must skip committed files (no re-ingest of 1/2), land the new file, " +
        "and reject the cross-restart duplicate (3 = 'bbb')")

    // phase 3: an idle restart is a complete no-op
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(docIds == Seq(1L, 2L, 4L), "idle restart must change nothing")
    assert(e.execute("SELECT count(*) AS n FROM dix").collect()(0).getLong(0) == 3L,
      "index must hold exactly one digest per distinct admitted content")
  }

  test("near-dedup ingest: band index is the durable state, exactly-once under replay") {
    import spark.implicits._
    import graft.engine.{Catalog, SqlContext, SqlEngine}
    val wh = scratchDir("graft-ndcrash-wh-")
    val e = new SqlEngine(spark, new Catalog(wh), SqlContext("ndc", "u"))
    e.execute("CREATE DATABASE ndc")
    e.execute("CREATE TABLE docs (doc_id bigint PRIMARY KEY, text text)")
    e.execute("CREATE TABLE bix (id bigserial PRIMARY KEY, band bigint, bucket bigint, " +
      "sim bigint, doc_id bigint, query_id text, batch_id bigint)")

    def docIds = e.execute("SELECT doc_id FROM docs ORDER BY doc_id").collect()
      .map(_.getLong(0)).toSeq
    def idxCount = e.execute("SELECT count(*) AS n FROM bix").collect()(0).getLong(0)

    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "one two three four five six seven"
    val tC = "entirely different tokens over here now"
    // batch 0: A admitted, its exact clone rejected IN-batch (same
    // sketch → one group → min id keeps 1)
    EventStreams.ingestBatchNearDeduped(
      Seq((1L, tA), (2L, tA)).toDF("doc_id", "text"), e, "docs", "bix", "q", 0L)
    assert(docIds == Seq(1L) && idxCount == 4L, "one admitted doc = 4 band rows")

    // batch 1: clone of A rejected AGAINST THE TABLE (durable state), B admitted
    EventStreams.ingestBatchNearDeduped(
      Seq((3L, tA), (4L, tB)).toDF("doc_id", "text"), e, "docs", "bix", "q", 1L)
    assert(docIds == Seq(1L, 4L) && idxCount == 8L)

    // crash window: apply only the index half of batch 2, then replay —
    // docs must land, index must not double, the historical clone stays out
    val b2 = Seq((5L, tB), (6L, tC)).toDF("doc_id", "text")
    graft.operators.Dedup.docBandRows(
      graft.operators.Dedup.incrementalNearAdmit(
        b2, e.execute("SELECT band, bucket, sim FROM bix")))
      .select(col("band"), col("bucket"), col("sim"), col("doc_id"),
        lit("q").as("query_id"), lit(2L).as("batch_id"))
      .createOrReplaceGlobalTempView("nd_crash_half")
    e.execute("INSERT INTO bix (band, bucket, sim, doc_id, query_id, batch_id) " +
      "SELECT * FROM global_temp.nd_crash_half")
    assert(idxCount == 12L && docIds == Seq(1L, 4L))
    EventStreams.ingestBatchNearDeduped(b2, e, "docs", "bix", "q", 2L)
    assert(docIds == Seq(1L, 4L, 6L), "replay must land only the fresh doc")
    assert(idxCount == 12L, "replay re-inserted band rows")
    // full replay: complete no-op
    EventStreams.ingestBatchNearDeduped(b2, e, "docs", "bix", "q", 2L)
    assert(docIds == Seq(1L, 4L, 6L) && idxCount == 12L)

    // a NEW query (fresh checkpoint, different query id) still rejects
    // against the same table — the state is the table, not the checkpoint
    EventStreams.ingestBatchNearDeduped(
      Seq((7L, tC), (8L, tA)).toDF("doc_id", "text"), e, "docs", "bix", "q2", 0L)
    assert(docIds == Seq(1L, 4L, 6L), "cross-query near-dups must stay out")
  }

  test("stream-stream purchase attribution matches the batch interval join") {
    val q = EventStreams.purchaseAttribution(EventStreams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("attribution").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val batch = ev.filter(col("event_type") === "purchase")
      .join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") <= col("ts") &&
          col("click_ts") >= col("ts") - expr("INTERVAL 1 HOUR"))
    assert(spark.table("attribution").count() == batch.count())
    assert(batch.count() > 0)
  }

  test("sessionizeClosing emits idle sessions once the watermark passes the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    def ts(plusMin: Long) = java.sql.Timestamp.from(t0.plusSeconds(plusMin * 60))
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStreams.sessionizeClosing(events)
      .writeStream.format("memory").queryName("closing_sessions").outputMode("append").start()
    try {
      // user 1: two events 10 min apart — one open session
      input.addData((1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("closing_sessions").isEmpty)
      // user 2 far in the future advances the watermark past user 1's gap
      input.addData((3L, ts(600), 2L, "click", 1.0))
      q.processAllAvailable()
      // the timeout fires on the NEXT batch after the watermark advances
      input.addData((4L, ts(610), 2L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("closing_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(rows == Set((1L, 2L)), s"user 1's idle session must close, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("late in-watermark events extend a session instead of rewinding it (review regression)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.time.Instant.parse("2026-02-01T12:00:00Z")
    def ts(plusMin: Long) = java.sql.Timestamp.from(t0.plusSeconds(plusMin * 60))
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStreams.sessionizeClosing(
      input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("late_sessions").outputMode("append").start()
    try {
      input.addData((1L, ts(0), 1L, "c", 1.0), (2L, ts(20), 1L, "c", 1.0))
      q.processAllAvailable()
      // late-but-in-watermark event BEFORE the session start (lateness 1h)
      input.addData((3L, ts(-10), 1L, "c", 1.0))
      q.processAllAvailable()
      // advance the watermark far past the gap, then a batch to fire it
      input.addData((4L, ts(600), 2L, "c", 1.0)); q.processAllAvailable()
      input.addData((5L, ts(610), 2L, "c", 1.0)); q.processAllAvailable()
      val rows = spark.table("late_sessions")
        .select("user_id", "start_us", "end_us", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.length == 1, s"one merged session expected, got ${rows.mkString(",")}")
      val (u, start, end, n) = rows(0)
      assert(u == 1L && n == 3L)
      assert(start == ts(-10).getTime * 1000 && end == ts(20).getTime * 1000,
        s"session must span the late event to the true end, got [$start, $end]")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization matches the batch definition") {
    val q = EventStreams.sessionize(
      EventStreams.typedEvents(EventStreams.readEvents(spark, dir)))
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // one trigger: every session except each user's final (still open in
    // state) is emitted
    val batch = graft.SparkEntry.queries("q29_sessionize")(spark, dir)
    val totalSessions = batch.agg(sum(col("n_sessions"))).head().getLong(0)
    val nUsers = batch.count()
    assert(spark.table("sessions").count() == totalSessions - nUsers)
    // session event counts must cover all non-open events
    val emittedEvents = spark.table("sessions").agg(sum(col("n_events"))).head().getLong(0)
    assert(emittedEvents > 0 && emittedEvents < Tables.load(spark, dir, "events").count())
  }

  test("trending phrases: per-window top-k, bounded sketch with eviction error, window closure") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val winUs = 60L * 1000 * 1000 // 1-minute windows
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().select(
      expr("timestamp_micros(_1)").as("ts"), col("_2").as("text"))
    val q = EventStreams
      .trendingPhrases(docs, n = 2, windowUs = winUs, capacity = 2, k = 5, latenessUs = 0L)
      .writeStream.format("memory").queryName("trending").outputMode("append").start()
    try {
      // window 1 (ts < 60s): fill the 2-slot sketch exactly
      input.addData((1000L, "alpha beta"), (2000L, "alpha beta"), (3000L, "alpha beta"),
        (4000L, "gamma delta"), (5000L, "gamma delta"))
      q.processAllAvailable()
      // a third distinct phrase must evict the min counter (gamma delta, 2)
      // and inherit its count as max_error
      input.addData((6000L, "epsilon zeta"))
      q.processAllAvailable()
      // nothing emits while the window is open
      assert(spark.table("trending").isEmpty)
      // window 2 data advances the watermark past window 1's end…
      input.addData((winUs + 1000L, "hot phrase"))
      q.processAllAvailable()
      // …and the NEXT batch fires window 1's timeout
      input.addData((winUs + 2000L, "hot phrase"))
      q.processAllAvailable()
      val w1 = spark.table("trending").filter(col("window_start_us") === 0L)
        .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(w1 == Map("alpha beta" -> ((3L, 0L)), "epsilon zeta" -> ((3L, 2L))),
        s"window-1 sketch wrong: $w1")
      // heavy-hitter superset guarantee held: the true top phrase is present
      // with an exact count; the evicted slot reports its overestimate bound
      // close window 2 the same way
      input.addData((10 * winUs, "x y"))
      q.processAllAvailable()
      input.addData((10 * winUs + 1000L, "x y"))
      q.processAllAvailable()
      val w2 = spark.table("trending").filter(col("window_start_us") === winUs)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(w2 == Map("hot phrase" -> 2L), s"window-2 counts wrong: $w2")
    } finally q.stop()
  }
}
