package graft.streaming

import graft.GraftSession.{deleteRecursively, withScratch}
import graft.functions.{shinglePairs, simhash64}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table.
  *
  * The reference has no streaming layer (SURVEY §2.B: absent), so this is a
  * north-star extension: the same event analytics queries as the batch
  * path, expressed as incremental plans — file-source → watermark →
  * windowed aggregation / stateful dedup / custom session state. On a real
  * cluster the file source is swapped for Kafka by changing `readStream`
  * options only; every transform below is source-agnostic.
  */
object EventStreams {

  /** micros since epoch keeps the state classes encoder-friendly */
  final case class Event(event_id: Long, ts_us: Long, user_id: Long, event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, start_us: Long, end_us: Long, n_events: Long)
  final case class OpenSession(start_us: Long, last_us: Long, n: Long)

  val gapUs: Long = 30L * 60 * 1000 * 1000 // 30 min session gap

  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over the events parquet. `ts` is normalized the
    * same way as the batch reader in [[graft.Tables]]: generations of the
    * testdata have stored it as TIMESTAMP(NANOS) (which surfaces as a raw
    * long under `nanosAsLong`) or TIMESTAMP(MICROS) (a native timestamp),
    * so the physical type is probed per file, not assumed. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    readEventsFrom(spark, stageEvents(spark, dir, "", Seq("events.parquet")))

  /** The events stream with every event DUPLICATED — the staged source
    * dir holds the same file under two names, so the stream replays each
    * event twice. This is the ingest-replay fixture behind the e01 gate:
    * a no-op dedup doubles every downstream count. */
  def readEventsDoubled(spark: SparkSession, dir: String): DataFrame =
    readEventsFrom(spark,
      stageEvents(spark, dir, "2x-", Seq("events_a.parquet", "events_b.parquet")))

  /** The file stream source wants a directory: stage a symlinked dir
    * holding the events file under `names` (testdata itself is
    * read-only). The source may be a single parquet FILE (the driver
    * testdata) or a multi-file parquet DIRECTORY (ScaleData output) —
    * a directory's part files are flattened into the staged dir, since
    * the stream source lists leaf files, not nested dirs. */
  private def stageEvents(spark: SparkSession, dir: String, tag: String,
      names: Seq[String], file: String = "events.parquet"): String = {
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = java.nio.file.Paths.get(s"$dir/$file")
    // the staged dir is keyed on the SOURCE GENERATION (file-vs-dir +
    // mtime): the driver regenerates testdata in place, and a stale
    // staged dir would otherwise keep symlinks to replaced part files
    // (dangling) or mix a whole-dir link with flattened part links
    val attrs = java.nio.file.Files.readAttributes(
      src, classOf[java.nio.file.attribute.BasicFileAttributes])
    val gen = s"${if (attrs.isDirectory) "d" else "f"}${attrs.lastModifiedTime.toMillis}"
    val sanitized = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val staged = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft-events-$tag$gen-$sanitized")
    // reap SUPERSEDED generations of the same source so repeated driver
    // regenerations don't accumulate one symlink dir per generation
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val siblings = java.nio.file.Files.list(tmpRoot)
    try siblings.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        val prefix = s"graft-events-$tag"
        val suffix = s"-$sanitized"
        // the middle must be exactly a generation token — an untagged
        // (tag="") prefix would otherwise also match this source's
        // OTHER tags (the 2x- doubled staging) and reap them live
        n.startsWith(prefix) && n.endsWith(suffix) &&
          n != staged.getFileName.toString &&
          n.length > prefix.length + suffix.length &&
          n.substring(prefix.length, n.length - suffix.length).matches("[df]\\d+")
      }
      .foreach(deleteRecursively)
    finally siblings.close()
    java.nio.file.Files.createDirectories(staged)
    // check-then-create races with a concurrent suite staging the same
    // generation — losing the race is fine, the link content is
    // identical. NOFOLLOW is load-bearing: plain exists() follows the
    // link and returns false for a DANGLING one, which would make the
    // create throw, the catch swallow it, and the parquet read fail far
    // from the cause — a dangling link is replaced instead.
    def linkQuietly(link: java.nio.file.Path, target: java.nio.file.Path): Unit =
      try {
        if (java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          !java.nio.file.Files.exists(link))
          java.nio.file.Files.delete(link) // dangling: target was replaced
        if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          java.nio.file.Files.createSymbolicLink(link, target)
      } catch { case _: java.nio.file.FileAlreadyExistsException => () }
    names.foreach { n =>
      if (attrs.isDirectory) {
        val listing = java.nio.file.Files.list(src) // a Stream: must close
        val parts =
          try listing.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.getFileName.toString)
          finally listing.close()
        parts.zipWithIndex.foreach { case (p, i) =>
          linkQuietly(staged.resolve(s"${n.stripSuffix(".parquet")}_p$i.parquet"), p)
        }
      } else linkQuietly(staged.resolve(n), src)
    }
    staged.toString
  }

  private def readEventsFrom(spark: SparkSession, staged: String): DataFrame = {
    val physical = spark.read.parquet(staged).schema
    if (physical("ts").dataType == LongType)
      spark.readStream
        .schema(rawSchema)
        .parquet(staged)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      // cast pins the stream-side event-time type to TIMESTAMP regardless
      // of the session's NTZ inference, matching the long-nanos branch
      spark.readStream
        .schema(physical)
        .parquet(staged)
        .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Tumbling-window counts per event type with a 1-hour watermark for
    * late data; incremental equivalent of the batch q28 daily rollup. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))

  /** Exactly-once-style event dedup on event_id; the watermark bounds the
    * dedup state to the lateness horizon. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates(Seq("event_id", "ts"))

  /** Gap-based sessionization with explicit state: one OpenSession per
    * user; a >30 min gap closes and EMITS the session. The open session
    * stays in state for the next trigger — identical semantics to the
    * batch q29 sessionizer, made incremental. */
  def sessionize(events: Dataset[Event]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, incoming: Iterator[Event], state: GroupState[OpenSession]) =>
          val sorted = incoming.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var open = state.getOption
          val closed = Seq.newBuilder[SessionSummary]
          sorted.foreach { e =>
            open match {
              case Some(o) if e.ts_us - o.last_us <= gapUs =>
                // max/min guards: a late-but-in-watermark event from an
                // earlier batch must extend the session, never rewind its
                // end (rewinding inverts the interval and splits wrongly)
                open = Some(o.copy(start_us = math.min(o.start_us, e.ts_us),
                  last_us = math.max(o.last_us, e.ts_us), n = o.n + 1))
              case Some(o) =>
                closed += SessionSummary(userId, o.start_us, o.last_us, o.n)
                open = Some(OpenSession(e.ts_us, e.ts_us, 1))
              case None =>
                open = Some(OpenSession(e.ts_us, e.ts_us, 1))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Sessionization that also CLOSES idle sessions: same gap rule as
    * [[sessionize]], plus an event-time timeout at `last_event + gap` so a
    * user's final session is emitted once the watermark passes it —
    * without this, every user's last session sits in state forever (the
    * operational leak of the NoTimeout variant, kept for exact batch
    * parity in one trigger). Event-time based, so firing is deterministic
    * against the data, not the wall clock, and the engine only runs
    * batches when data arrives (no busy trigger loop). */
  /** carries the WATERMARKED ts column through the typed projection —
    * event-time timeout requires it to survive into the stateful op */
  final case class WatermarkedEvent(
      event_id: Long, ts: java.sql.Timestamp, ts_us: Long, user_id: Long)

  def sessionizeClosing(events: DataFrame, lateness: String = "1 hour"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val typed = events
      .withWatermark("ts", lateness)
      .select(col("event_id"), col("ts"), expr("unix_micros(ts)").as("ts_us"), col("user_id"))
      .as[WatermarkedEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, incoming: Iterator[WatermarkedEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val o = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, o.start_us, o.last_us, o.n))
          } else {
            val sorted = incoming.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { e =>
              open match {
                case Some(o) if e.ts_us - o.last_us <= gapUs =>
                  // late events extend, never rewind (see sessionize)
                  open = Some(o.copy(start_us = math.min(o.start_us, e.ts_us),
                    last_us = math.max(o.last_us, e.ts_us), n = o.n + 1))
                case Some(o) =>
                  closed += SessionSummary(userId, o.start_us, o.last_us, o.n)
                  open = Some(OpenSession(e.ts_us, e.ts_us, 1))
                case None =>
                  open = Some(OpenSession(e.ts_us, e.ts_us, 1))
              }
            }
            open.foreach { o =>
              state.update(o)
              // close when the WATERMARK (not the clock) passes the gap
              state.setTimeoutTimestamp((o.last_us + gapUs) / 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** Document ingest stream with exact dedup-on-arrival: drop any document
    * whose content digest was already seen. At ingest scale the dedup
    * state is 32 bytes per distinct document — the streaming counterpart
    * of the batch d01 operator, deduplicating the corpus BEFORE it ever
    * lands in storage. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // same generation-keyed staging as the events stream: the source may
    // be a single file (driver testdata) or a multi-part parquet DIR
    // (ScaleData output), whose part files must be flattened for the
    // file stream source
    val staged = stageEvents(spark, dir, "docs-", Seq("documents.parquet"),
      file = "documents.parquet")
    spark.readStream.schema(schema).parquet(staged)
  }

  def dedupDocuments(docs: DataFrame): DataFrame =
    docs.withColumn("digest", sha2(col("text"), 256))
      .dropDuplicates(Seq("digest"))
      .drop("digest")

  final case class SketchedDoc(doc_id: Long, sim: Long, bucket: Long)
  final case class BucketState(sketches: List[Long])

  /** NEAR-dup dedup on ingest: drop any arriving document within Hamming
    * distance 3 (64-bit SimHash) of one already admitted to its LSH
    * bucket. State is the admitted sketch list per 16-bit band-0 bucket —
    * 8 bytes per kept doc, sharded across buckets. Single-band bucketing
    * bounds state and shuffle at the cost of recall (the full pigeonhole
    * guarantee needs all 4 bands and a cross-band vote — that's the batch
    * d03 operator; on ingest, one band already catches sketch-identical
    * and most low-Hamming arrivals). Deterministic: within a micro-batch,
    * docs are admitted in doc_id order.
    *
    * State is BOUNDED two ways — an ingest pipeline runs forever, so
    * unbounded sketch lists are an OOM, not a feature:
    *   - `maxSketchesPerBucket` caps each bucket's list, evicting the
    *     oldest admissions first (a doc near an evicted sketch re-admits —
    *     the standard sliding-recall tradeoff of streaming dedup);
    *   - `stateTtl` drops buckets idle past the horizon via
    *     processing-time timeout, so cold buckets don't pin memory.
    *     Opt-in (None default) because a pending processing-time timeout
    *     makes the microbatch engine run a batch EVERY trigger; pair it
    *     with an explicit trigger interval (e.g.
    *     `Trigger.ProcessingTime("1 minute")`), never the default
    *     as-fast-as-possible trigger, which would busy-loop empty
    *     batches. */
  def nearDedupDocuments(docs: DataFrame, maxSketchesPerBucket: Int = 4096,
      stateTtl: Option[String] = None): Dataset[SketchedDoc] = {
    import docs.sparkSession.implicits._
    val sketched = docs
      .withColumn("sim", simhash64(split(lower(col("text")), "\\s+")))
      .select(col("doc_id"), col("sim"), expr("sim & 65535").as("bucket"))
      .as[SketchedDoc]
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    sketched
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, SketchedDoc](OutputMode.Append, timeout) {
        (_: Long, incoming: Iterator[SketchedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var kept = state.getOption.map(_.sketches).getOrElse(Nil)
            val admitted = Seq.newBuilder[SketchedDoc]
            incoming.toSeq.sortBy(_.doc_id).foreach { d =>
              val near = kept.exists(s => java.lang.Long.bitCount(s ^ d.sim) <= 3)
              if (!near) {
                admitted += d
                // newest at the head ⇒ take() evicts oldest-admitted first
                kept = (d.sim :: kept).take(maxSketchesPerBucket)
              }
            }
            state.update(BucketState(kept))
            stateTtl.foreach(state.setTimeoutDuration)
            admitted.result().iterator
          }
      }
  }

  /** STREAM-STREAM join with event-time bounds: attribute each purchase
    * to any click by the same user in the preceding hour. Both sides are
    * watermarked and the join carries an explicit time-range condition,
    * so Spark can expire join state — the two requirements that make a
    * stream-stream join runnable indefinitely (unbounded state
    * otherwise). */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(
      clicks,
      purchases("user_id") === clicks("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("event_id"), purchases("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_ts"), col("click_value"))
  }

  /** Streaming INGESTION INTO THE ENGINE: lands every micro-batch in a
    * managed table through the full INSERT pipeline (validation, serial
    * assignment, unique enforcement, staged atomic append) via
    * foreachBatch — the standard exactly-once-per-batch sink pattern for
    * a store with its own transactional append. Compose with
    * [[dedupDocuments]] / [[nearDedupDocuments]] upstream for
    * dedup-before-storage. */
  /** Non-identifier characters mapped away so any legal table name (or a
    * qualified `db.schema.t`) yields a legal temp-view identifier. */
  private def viewIdent(s: String): String = s.replaceAll("[^a-zA-Z0-9_]", "_")

  /** The streaming QUERY id (stable across restarts from the same
    * checkpoint — unlike the run id), read from the execution thread's
    * local property; micro-batch provenance keys on it. A missing
    * property fails LOUDLY: falling back to a shared constant would
    * collapse distinct callers onto one provenance key, so caller B's
    * marker probe could see caller A's batch-0 rows and silently skip
    * indexing its own digests — admitting B's future duplicates forever. */
  private def activeQueryId(batch: DataFrame): String =
    Option(batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException(
        "sql.streaming.queryId is not set on this thread — ingest provenance " +
          "requires a streaming query context (or pass an explicit queryId)"))

  def ingestInto(stream: DataFrame, engine: graft.engine.SqlEngine,
      table: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // foreachBatch runs on a cloned session; a GLOBAL temp view is the
      // cross-session handoff the engine's own session can resolve. The
      // name carries query+batch identity so concurrent queries (or
      // concurrent batches of distinct queries) into the same table never
      // race on createOrReplaceGlobalTempView.
      val view = s"graft_ingest_${viewIdent(table)}_${viewIdent(activeQueryId(batch))}_$batchId"
      batch.createOrReplaceGlobalTempView(view)
      try {
        // target columns by name, so serial/defaulted columns prefill
        val cols = batch.columns.mkString(", ")
        engine.execute(s"INSERT INTO $table ($cols) SELECT * FROM global_temp.$view")
      } finally {
        try { batch.sparkSession.catalog.dropGlobalTempView(view); () }
        catch { case _: Throwable => () }
      }
      ()
    }

  /** Streaming ingestion with RESTART-DURABLE exact dedup: every
    * micro-batch is admitted against the ENGINE-MANAGED digest-index
    * table via [[graft.operators.Dedup.incrementalAdmit]], then the
    * admitted documents and their digests land through the INSERT
    * pipeline. Contrast with [[dedupDocuments]], whose dropDuplicates
    * state is bound to the streaming checkpoint: here the dedup state IS
    * a table — it survives checkpoint loss/query restarts and is shared
    * with batch increments (the d08 operator) pointed at the same index.
    *
    * `indexTable` must declare
    * `(digest text PRIMARY KEY, query_id text, batch_id bigint)` — the
    * provenance columns make a crash-retried micro-batch EXACTLY-ONCE
    * (see [[ingestBatchDeduped]]); batch d08 increments appended to the
    * same index leave them NULL and participate as plain history. */
  def ingestDeduped(docs: DataFrame, engine: graft.engine.SqlEngine,
      docsTable: String, indexTable: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatchDeduped(batch, engine, docsTable, indexTable,
        activeQueryId(batch), batchId)
    }

  /** One micro-batch of [[ingestDeduped]], IDEMPOTENT under replay.
    *
    * Structured Streaming re-runs a batch (same id, same data) whenever a
    * crash precedes the checkpoint commit; the two INSERTs here are each
    * atomic but not jointly, so the replay may arrive with neither, only
    * the index, or both statements applied. The protocol makes every case
    * converge to exactly-once:
    *
    *   1. ADMISSION is computed against the index MINUS this batch's own
    *      rows (keyed `(query_id, batch_id)`), so a replay reproduces its
    *      original decision instead of seeing its own crashed-attempt
    *      digests and silently rejecting the docs — the loss window this
    *      protocol exists to close.
    *   2. The INDEX insert is skipped when any `(query_id, batch_id)` row
    *      exists: the statement is atomic, so one marker row means all of
    *      them landed.
    *   3. The DOCS insert is skipped when any admitted doc_id is already
    *      present — same atomicity argument; the probe is one PK-prunable
    *      point lookup and only ever runs on the replay path (the marker
    *      check gates it).
    *
    * Probes are `LIMIT 1` point lookups, not scans of the corpus. */
  private[streaming] def ingestBatchDeduped(batch: DataFrame, engine: graft.engine.SqlEngine,
      docsTable: String, indexTable: String, queryId: String, batchId: Long): Unit =
    ingestBatchWithIndex(batch, engine, docsTable, indexTable, queryId, batchId,
      viewTag = "dd", historyCols = Seq("digest"),
      admit = graft.operators.Dedup.incrementalAdmit,
      indexRows = _.select(col("digest")),
      // digest is the index PK: key-clustered compaction makes this a
      // row-group-prunable point probe, not an index scan
      probeLead = r => s"digest = '${r.getString(0)}'")

  /** ONE exactly-once micro-batch protocol shared by the exact-dedup and
    * near-dup ingest paths (they differ only in the admission operator,
    * the index row shape, and the marker-probe leading predicate — the
    * crash-window reasoning must live in exactly one place).
    *
    * The marker probe anchors on THIS batch's first index row (plus the
    * provenance columns), so the replay check reads one selective lookup,
    * not a provenance scan of a multi-billion-row index: the index INSERT
    * is atomic, so that one row's presence-with-provenance decides for the
    * whole batch. A batch that admits nothing writes nothing and returns —
    * replay-stable by construction. */
  private def ingestBatchWithIndex(batch: DataFrame, engine: graft.engine.SqlEngine,
      docsTable: String, indexTable: String, queryId: String, batchId: Long,
      viewTag: String, historyCols: Seq[String],
      admit: (DataFrame, DataFrame) => DataFrame,
      indexRows: DataFrame => DataFrame,
      probeLead: org.apache.spark.sql.Row => String): Unit = {
    val qid = queryId.replace("'", "''")
    // history = everything this batch did NOT write (NULL-provenance rows
    // from batch increments included)
    val index = engine.execute(
      s"SELECT ${historyCols.mkString(", ")} FROM $indexTable " +
        s"WHERE query_id IS DISTINCT FROM '$qid' OR batch_id IS DISTINCT FROM $batchId")
    // materialized: both INSERTs below evaluate this plan, and the second
    // runs AFTER the index insert — localCheckpoint pins the admission
    // decision instead of leaning on the engine's planning-time version
    // snapshot to keep the evaluations equal
    val admitted = admit(batch, index).localCheckpoint()
    val idx = indexRows(admitted)
    val firstIdx = idx.head(1).headOption
    if (firstIdx.isEmpty) return // nothing admitted: nothing to write or probe
    val rows = batch.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val suffix = s"${viewIdent(qid)}_$batchId"
    val docsView = s"graft_ingest_${viewTag}_${viewIdent(docsTable)}_$suffix"
    val idxView = s"graft_ingest_${viewTag}_${viewIdent(indexTable)}_$suffix"
    rows.createOrReplaceGlobalTempView(docsView)
    idx.withColumn("query_id", lit(queryId)).withColumn("batch_id", lit(batchId))
      .createOrReplaceGlobalTempView(idxView)
    try {
      val indexDone = !engine.execute(
        s"SELECT 1 AS x FROM $indexTable WHERE ${probeLead(firstIdx.get)} " +
          s"AND query_id = '$qid' AND batch_id = $batchId LIMIT 1").isEmpty
      val docsDone = indexDone && admitted.select(col("doc_id")).head(1).headOption.exists { r =>
        !engine.execute(
          s"SELECT 1 AS x FROM $docsTable WHERE doc_id = ${r.getLong(0)} LIMIT 1").isEmpty
      }
      val idxCols = idx.columns ++ Seq("query_id", "batch_id")
      if (!indexDone)
        engine.execute(s"INSERT INTO $indexTable (${idxCols.mkString(", ")}) " +
          s"SELECT * FROM global_temp.$idxView")
      if (!docsDone)
        engine.execute(s"INSERT INTO $docsTable (${batch.columns.mkString(", ")}) " +
          s"SELECT * FROM global_temp.$docsView")
      ()
    } finally {
      val cat = batch.sparkSession.catalog
      try { cat.dropGlobalTempView(docsView); () } catch { case _: Throwable => () }
      try { cat.dropGlobalTempView(idxView); () } catch { case _: Throwable => () }
    }
  }

  /** Streaming ingestion with RESTART-DURABLE NEAR-dup admission: the
    * [[ingestDeduped]] pattern with the exact digest index replaced by
    * the SimHash BAND index ([[graft.operators.Dedup.incrementalNearAdmit]]) —
    * an arriving doc within Hamming 3 of ANY previously admitted doc is
    * dropped, across restarts and checkpoint loss, with full 4-band
    * recall (the in-memory [[nearDedupDocuments]] trades recall for
    * bounded state by probing one band; here the state is the table, so
    * nothing is evicted and every band probes).
    *
    * `bandTable` must declare `(id bigserial PRIMARY KEY, band bigint,
    * bucket bigint, sim bigint, doc_id bigint, query_id text,
    * batch_id bigint)` (every managed table carries a primary index —
    * reference parity — and band rows have no natural single-column
    * key); batch-side index appends (`Dedup.docBandRows`) leave the
    * provenance NULL. Exactly-once under crash replay by the same
    * three-step protocol as [[ingestBatchDeduped]]. */
  def ingestNearDeduped(docs: DataFrame, engine: graft.engine.SqlEngine,
      docsTable: String, bandTable: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatchNearDeduped(batch, engine, docsTable, bandTable,
        activeQueryId(batch), batchId)
    }

  /** One micro-batch of [[ingestNearDeduped]], idempotent under replay —
    * see [[ingestBatchDeduped]] for the protocol argument; the only
    * differences are the index unit (4 band rows per admitted doc) and
    * the admission operator. */
  private[streaming] def ingestBatchNearDeduped(batch: DataFrame, engine: graft.engine.SqlEngine,
      docsTable: String, bandTable: String, queryId: String, batchId: Long): Unit =
    ingestBatchWithIndex(batch, engine, docsTable, bandTable, queryId, batchId,
      viewTag = "nd", historyCols = Seq("band", "bucket", "sim"),
      admit = (inc, idx) => graft.operators.Dedup.incrementalNearAdmit(inc, idx),
      indexRows = a => graft.operators.Dedup.docBandRows(a)
        .select(col("band"), col("bucket"), col("sim"), col("doc_id")),
      // the band table's PK is a synthetic serial, so the probe leads on
      // (band, bucket) — selective, though not PK-prunable like the digest
      probeLead = r => s"band = ${r.getLong(0)} AND bucket = ${r.getLong(1)}")

  /** Stream-static join: enrich the event stream with a static per-user
    * dimension (here the customer table keyed by custkey = user_id). The
    * static side is re-resolved per micro-batch, so a dimension refresh is
    * picked up without restarting the query; Spark broadcasts it when
    * small — the canonical streaming-enrichment plan. */
  def enriched(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(
      userDim.select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")),
      Seq("user_id"), "left")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))

  final case class PhraseCount(
      window_start_us: Long, phrase: String, count: Long, max_error: Long)
  /** Space-saving counter table for one window: phrase → (count, error).
    * Bounded at `capacity` entries regardless of stream volume. */
  final case class PhraseSketch(entries: Map[String, (Long, Long)])

  /** STREAMING heavy hitters — trending phrase detection over a document
    * stream, the incremental sibling of `TextAnalysis.boilerplatePhrases`:
    * per tumbling event-time window, the top-k word `n`-grams by DOCUMENT
    * frequency (the shingle kernel dedups n-grams per doc, same as the
    * batch miner — a phrase repeated inside one doc counts once). Input
    * columns: `ts: timestamp`, `text: string`.
    *
    * Exact per-window counting needs state proportional to DISTINCT
    * n-grams per window — unbounded on a real stream. This keeps ONE
    * bounded SPACE-SAVING sketch per open window instead
    * (flatMapGroupsWithState keyed by window start): `capacity` counters;
    * an unseen phrase arriving at a full sketch evicts the minimum
    * counter and inherits its count as `max_error` (Metwally et al.'s
    * guarantees: reported count overestimates by ≤ max_error, and any
    * phrase with true doc-frequency > N/capacity (N = window hit count) is IN the sketch). Results emit
    * once per window, when the event-time watermark passes window end +
    * `latenessUs` and the timeout fires; the sketch is then dropped, so
    * state is (open windows) × capacity — bounded forever. Shingle
    * hashing rides the same codegen'd `shingle_pairs` kernel as the batch
    * miner; counts are arrival-order-dependent once eviction starts (the
    * documented approximation), exact below capacity. */
  def trendingPhrases(docs: DataFrame, n: Int, windowUs: Long, capacity: Int,
      k: Int, latenessUs: Long = 10L * 60 * 1000 * 1000): Dataset[PhraseCount] = {
    require(n > 0 && windowUs > 0 && capacity > 0 && k > 0)
    import docs.sparkSession.implicits._
    // the WATERMARKED ts column must survive into the stateful op (see
    // sessionizeClosing) — event-time timeout requires it
    val hits = docs
      .withWatermark("ts", s"$latenessUs microseconds")
      .select(
        col("ts"),
        expr(s"unix_micros(window(ts, '$windowUs microseconds').start)").as("window_start_us"),
        explode(shinglePairs(
          split(lower(translate(col("text"), "\u001f", " ")), "\\s+"), n)).as("p"))
      .select(col("ts"), col("window_start_us"),
        translate(col("p.t"), "\u001f", " ").as("phrase"))
      .as[(java.sql.Timestamp, Long, String)]
    hits
      .groupByKey(_._2)
      .flatMapGroupsWithState[PhraseSketch, PhraseCount](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (windowStart: Long, incoming: Iterator[(java.sql.Timestamp, Long, String)],
            state: GroupState[PhraseSketch]) =>
          if (state.hasTimedOut) {
            // window closed: emit its top-k and drop the sketch
            val entries = state.get.entries.toSeq
            state.remove()
            entries.sortBy { case (p, (c, _)) => (-c, p) }.take(k).iterator
              .map { case (p, (c, e)) => PhraseCount(windowStart, p, c, e) }
          } else {
            val m = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
            state.getOption.foreach(s => m ++= s.entries)
            incoming.foreach { case (_, _, phrase) =>
              m.get(phrase) match {
                case Some((c, e)) => m.update(phrase, (c + 1, e))
                case None if m.size < capacity => m.update(phrase, (1L, 0L))
                case None =>
                  // evict the min counter; the newcomer inherits its count
                  // as the overestimate bound
                  val (minP, (minC, _)) = m.minBy { case (p, (c, _)) => (c, p) }
                  m.remove(minP)
                  m.update(phrase, (minC + 1, minC))
              }
            }
            state.update(PhraseSketch(m.toMap))
            // fire once the watermark passes window END: the watermark
            // already lags max event time by latenessUs, so adding the
            // lateness here again would double result latency and hold
            // each sketch an extra lateness period. The max() guards the
            // engine's timeout>watermark requirement when the watermark
            // lands exactly on the window end mid-batch.
            state.setTimeoutTimestamp(
              math.max((windowStart + windowUs) / 1000, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Adapter: typed event stream from the raw frame. */
  def typedEvents(events: DataFrame): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.select(
      col("event_id"),
      expr("unix_micros(ts)").as("ts_us"),
      col("user_id"), col("event_type"), col("value")).as[Event]
  }

  // ---------- testdata binding (the driver contract) ----------

  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs `body` on a CLONED session (`newSession()`: separate SQLConf
    * and temp views, shared SparkContext and cache) with
    * spark.sql.shuffle.partitions pinned: stateful streaming operators
    * capture the setting at query START as their state-partition count,
    * and the bounded gate replays don't need the session's scan-width
    * parallelism — 32 state partitions × a handful of micro-batches is
    * pure task-scheduling overhead at testdata scale (measured
    * ~0.3-0.5 s per gate). Deployment streams ([[ingestInto]] et al.)
    * keep the session setting. The clone makes the pin invisible to any
    * query planned concurrently on the caller's session — nothing is
    * mutated and restored, so there is no window to leak through; the
    * body must build its stream (and any static join side) from the
    * session it is handed. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: SparkSession => T): T = {
    val pinned = s.newSession()
    pinned.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(pinned)
  }

  /** Polls until the engine has sat idle on a stable batch id: event-time
    * timeout emission happens in a NO-DATA micro-batch the engine
    * schedules after the watermark advances, and `processAllAvailable`
    * does not await it. THROWS when the spin budget exhausts without
    * reaching stability — an incomplete spool would otherwise fail much
    * later as an opaque oracle hash mismatch far from the cause. */
  private def awaitTimeoutDrain(
      q: org.apache.spark.sql.streaming.StreamingQuery, name: String): Unit = {
    var last = -1L
    var stable = 0
    var spins = 0
    while (stable < 3 && spins < 600) {
      val b = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val idle = !q.status.isTriggerActive && !q.status.isDataAvailable
      if (b == last && idle) stable += 1 else { stable = 0; last = b }
      Thread.sleep(50)
      spins += 1
    }
    if (stable < 3)
      throw new IllegalStateException(
        s"$name: streaming drain gave up after $spins polls (~30 s) without a " +
          "stable idle batch id — the no-data timeout batch never fired, so the " +
          "spool is incomplete; inspect the query's lastProgress/state store")
  }

  /** The streaming family's CORRECTNESS row: a REAL Structured Streaming
    * run — file source → watermarked [[dedup]] → foreachBatch parquet
    * spool, drained to completion — over a source where every event
    * appears TWICE ([[readEventsDoubled]]). The daily rollup of the
    * ingested result must equal the batch rollup of the events table
    * counted ONCE, so a no-op dedup doubles every count and the oracle
    * hash misses. The DuckDB oracle replays the batch-equivalent
    * semantics (the q28 rollup shape).
    *
    * The sink is a PARQUET spool, not a memory sink: a memory sink
    * materializes the whole deduped stream as driver-heap rows (the
    * "no driver collects in query paths" violation, and a driver OOM at
    * any real SF) — foreachBatch-to-files is also the deployment-true
    * shape ([[ingestInto]] writes micro-batches to managed tables the
    * same way). Only the bounded (day, event_type) rollup is
    * checkpointed; the spool is deleted before returning so repeated
    * bench runs don't accumulate. */
  val queries: Seq[graft.operators.NamedQuery] = Seq(
    graft.operators.NamedQuery(
      "e01_stream_dedup_ingest",
      Some(
        "SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n, " +
          "round(sum(value),2) AS total FROM events " +
          "GROUP BY 1, 2 ORDER BY day, event_type"),
      (s, dir) => {
        withScratch(s"graft_e01_spool_${sinkSeq.incrementAndGet()}_") { case Seq(spool) =>
          withStatePartitions(s, 8) { sp =>
            // dropDuplicates emits rows on ARRIVAL; the automatic no-data
            // micro-batch after the watermark advances only EVICTS state
            // and contributes no output — for the bounded replay it is a
            // full batch of pure machinery (the e04 trim, r16: 2.35 s ->
            // 1.79 s there). Long-running deployments keep the default.
            sp.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
            val q = dedup(readEventsDoubled(sp, dir))
              .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
                batch.write.mode("append").parquet(spool)
              }.start()
            try q.processAllAvailable() finally q.stop()
          }
          // localCheckpoint is EAGER: the rollup is materialized before
          // the finally block reclaims the spool it read from
          s.read.parquet(spool)
            .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
            .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
            .orderBy(col("day"), col("event_type"))
            .localCheckpoint()
        }
      }),

    /* STREAMING SESSIONIZATION gate — the deployment-critical stateful
     * path: file source → [[sessionizeClosing]] (flatMapGroupsWithState,
     * event-time timeout) → parquet spool. The DuckDB oracle replays the
     * batch-equivalent gap sessionization (the q29 window shape) and
     * BOTH sides keep only sessions the final watermark has CLOSED
     * (end + gap strictly inside max(ts) − lateness, with 1 s of slack
     * for the ms-floor of the timeout clock): gap-closed sessions are
     * emitted by the next event; idle sessions by the event-time
     * timeout; sessions past the cut sit in state awaiting more data —
     * exactly the deployment semantics, so the filter is the oracle's
     * honest horizon, not a fudge. */
    graft.operators.NamedQuery(
      "e02_stream_sessionize",
      Some(
        "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events), " +
          "wm AS (SELECT max(ts_us) - 3600000000 AS wm_us FROM e), " +
          "b AS (SELECT user_id, event_id, ts_us, CASE WHEN " +
          "lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL OR " +
          "ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000 " +
          "THEN 1 ELSE 0 END AS brk FROM e), " +
          "s AS (SELECT user_id, ts_us, sum(brk) OVER (PARTITION BY user_id " +
          "ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM b), " +
          "g AS (SELECT user_id, sid, min(ts_us) AS start_us, max(ts_us) AS end_us, " +
          "count(*) AS n_events FROM s GROUP BY 1, 2) " +
          "SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events " +
          "FROM g, wm WHERE end_us + 1800000000 + 1000000 <= wm_us " +
          "ORDER BY user_id, start_us"),
      (s, dir) => {
        withScratch(s"graft_e02_spool_${sinkSeq.incrementAndGet()}_") { case Seq(spool) =>
          withStatePartitions(s, 8) { sp =>
            val q = sessionizeClosing(readEvents(sp, dir)).toDF()
              .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
                batch.write.mode("append").parquet(spool)
              }.start()
            try {
              q.processAllAvailable()
              // event-time timeouts fire in a no-data micro-batch —
              // poll to a stable idle batch id (throws on give-up)
              awaitTimeoutDrain(q, "e02_stream_sessionize")
            } finally q.stop()
          }
          // 1-row bounded aggregate: the oracle's watermark horizon (the
          // batch reader may surface ts as TIMESTAMP_NTZ — session TZ is
          // UTC, so the cast is value-preserving)
          val maxUs = graft.Tables.load(s, dir, "events")
            .agg(max(expr("unix_micros(CAST(ts AS TIMESTAMP))"))).head().getLong(0)
          s.read.parquet(spool)
            .filter(col("end_us") + gapUs + 1000000L <= maxUs - 3600000000L)
            .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
            .orderBy(col("user_id"), col("start_us"))
            .localCheckpoint()
        }
      }),

    /* STREAM-STATIC ENRICH gate: the events stream left-joins the
     * customer dimension (the standard dimension-enrichment shape — the
     * static side is re-read per micro-batch, never shuffled against the
     * stream) and rolls up per segment. The aggregate has no watermark,
     * so the stream runs in COMPLETE mode and each micro-batch
     * overwrites the bounded (≤ segments+1 rows) spool — the oracle
     * replays the batch join+rollup. */
    graft.operators.NamedQuery(
      "e03_stream_enrich",
      Some(
        "SELECT c.c_mktsegment AS segment, count(*) AS n, " +
          "round(sum(e.value), 2) AS total " +
          "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey " +
          "GROUP BY 1 ORDER BY segment NULLS FIRST"),
      (s, dir) => {
        withScratch(s"graft_e03_spool_${sinkSeq.incrementAndGet()}_") { case Seq(spool) =>
          withStatePartitions(s, 8) { sp =>
            val q = enriched(readEvents(sp, dir), graft.Tables.load(sp, dir, "customer"))
              .writeStream.outputMode("complete")
              .foreachBatch { (batch: DataFrame, _: Long) =>
                batch.write.mode("overwrite").parquet(spool)
              }.start()
            try q.processAllAvailable() finally q.stop()
          }
          s.read.parquet(spool)
            .select(col("segment"), col("n"), col("total"))
            .orderBy(col("segment").asc_nulls_first)
            .localCheckpoint()
        }
      }),

    /* STREAM-STREAM JOIN gate: purchase←click attribution (each
     * purchase joins every click by the same user inside the preceding
     * hour; both sides watermarked, the time-range condition bounds the
     * join state). INNER stream-stream joins emit matches as both sides
     * arrive — no timeout machinery needed — and the oracle replays the
     * identical interval self-join in batch SQL. Timestamps compare as
     * unix micros (value-stable across parquet timestamp encodings). */
    graft.operators.NamedQuery(
      "e04_stream_attribution",
      Some(
        "SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us, " +
          "p.value AS purchase_value, epoch_us(c.ts) AS click_us, " +
          "c.value AS click_value " +
          "FROM events p JOIN events c ON p.event_type = 'purchase' " +
          "AND c.event_type = 'click' AND p.user_id = c.user_id " +
          "AND epoch_us(c.ts) <= epoch_us(p.ts) " +
          "AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000 " +
          "ORDER BY p.event_id, click_us"),
      (s, dir) => {
        withScratch(s"graft_e04_spool_${sinkSeq.incrementAndGet()}_") { case Seq(spool) =>
          withStatePartitions(s, 8) { sp =>
            // INNER stream-stream joins emit on arrival; the engine's
            // automatic no-data micro-batch after the watermark advances
            // only EVICTS state and contributes no output rows — for the
            // bounded replay it is a second full batch of pure machinery
            // (profiled: 2.35 s -> 1.79 s with it off, identical 371-row
            // spool). Long-running deployments keep the default (state
            // eviction is how the join state stays watermark-bounded).
            sp.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
            val q = purchaseAttribution(readEvents(sp, dir))
              .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
                batch.write.mode("append").parquet(spool)
              }.start()
            try q.processAllAvailable() finally q.stop()
          }
          s.read.parquet(spool)
            .select(col("event_id"), col("user_id"),
              expr("unix_micros(CAST(purchase_ts AS TIMESTAMP))").as("purchase_us"),
              col("purchase_value"),
              expr("unix_micros(CAST(click_ts AS TIMESTAMP))").as("click_us"),
              col("click_value"))
            .orderBy(col("event_id"), col("click_us"))
            .localCheckpoint()
        }
      }),

    /* STREAMING HEAVY-HITTERS gate: [[trendingPhrases]] (space-saving
     * sketch per open window, event-time timeout emission) over the
     * document stream with DETERMINISTIC event time (doc_id minutes from
     * epoch — replayed identically by the oracle). Capacity 4096 exceeds
     * the distinct bigrams of any window, so the sketch is EXACT
     * (max_error = 0) and the DuckDB oracle replays the whole pipeline:
     * per-doc-distinct bigrams (the t11 shingle semantics), per-window
     * doc-frequency, top-5 under the (count DESC, phrase) tie order.
     * Both sides keep only windows the final watermark has closed
     * (window end + 1 s slack inside max(ts) - 10 min lateness). */
    graft.operators.NamedQuery(
      "e05_stream_trending",
      Some(
        "WITH d AS (SELECT doc_id, text, doc_id * 60000000 + 3600000000 AS ts_us FROM documents), " +
          "mx AS (SELECT max(ts_us) AS max_us FROM d), " +
          "tk AS (SELECT doc_id, (ts_us // 3600000000) * 3600000000 AS window_start_us, " +
          "string_split_regex(lower(replace(text, chr(31), ' ')), '\\s+') AS tk FROM d), " +
          "sh AS (SELECT window_start_us, doc_id, unnest(CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')] " +
          "ELSE list_distinct(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))) END) AS phrase FROM tk), " +
          "dfr AS (SELECT window_start_us, phrase, count(*) AS cnt FROM sh GROUP BY 1, 2), " +
          "rk AS (SELECT window_start_us, phrase, cnt, row_number() OVER " +
          "(PARTITION BY window_start_us ORDER BY cnt DESC, phrase) AS r FROM dfr) " +
          "SELECT window_start_us, phrase, cnt AS \"count\", CAST(0 AS BIGINT) AS max_error " +
          "FROM rk, mx WHERE r <= 5 AND window_start_us + 3600000000 + 1000000 <= max_us - 600000000 " +
          "ORDER BY window_start_us, phrase"),
      (s, dir) => {
        withScratch(s"graft_e05_spool_${sinkSeq.incrementAndGet()}_") { case Seq(spool) =>
          withStatePartitions(s, 8) { sp =>
            // +1 window of epoch offset: a row whose event time equals
            // the INITIAL watermark (epoch 0) is filtered by the stateful
            // operator's late-row predicate before batch 0 ever runs —
            // measured as doc 0 silently missing from its window's counts
            val timed = readDocuments(sp, dir)
              .select(expr("timestamp_micros(doc_id * 60000000 + 3600000000)").as("ts"),
                col("text"))
            val q = trendingPhrases(timed, 2, windowUs = 3600000000L,
                capacity = 4096, k = 5).toDF()
              .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
                batch.write.mode("append").parquet(spool)
              }.start()
            try {
              q.processAllAvailable()
              // emission is timeout-driven (the e02 drain discipline)
              awaitTimeoutDrain(q, "e05_stream_trending")
            } finally q.stop()
          }
          val maxUs = graft.Tables.load(s, dir, "documents")
            .agg(max(col("doc_id"))).head().getLong(0) * 60000000L + 3600000000L
          s.read.parquet(spool)
            .filter(col("window_start_us") + 3600000000L + 1000000L <= maxUs - 600000000L)
            .select(col("window_start_us"), col("phrase"), col("count"), col("max_error"))
            .orderBy(col("window_start_us"), col("phrase"))
            .localCheckpoint()
        }
      }),

    /* STREAMING EMBED-ADMISSION gate (r14 VERDICT task 7) — the s21
     * ingest loop as an actual stream: build the persisted admission
     * artifact once, then a file-source stream of embedding batches
     * drives foreachBatch(embedAdmitAppend) — each micro-batch admits
     * against the stored index AND writes its admissions back, so the
     * NEXT batch's clones of this batch's admissions are rejected with
     * no rebuild. Two deterministic micro-batches (the second source
     * file lands only after the first fully drains): batch 2 carries a
     * clone of a BATCH-1 ADMISSION (+3e6 of 350 — rejectable ONLY via
     * the write-back; a lost append admits it and fails the hash) and a
     * clone of an ORIGINAL history vector (+4e6 of 100). FULL value
     * oracle: the s21 two-batch replay, emitting BOTH batches'
     * admissions tagged by micro-batch. */
    graft.operators.NamedQuery(
      "e06_stream_embed_admit",
      Some(graft.operators.Similarity.embedStreamOracleSql),
      (s, dir) => {
        import graft.operators.Similarity
        // BOUNDED slices (unlike s21's corpus-scaled batch 2): the
        // streaming gate proves the loop composition; its wall stays
        // fixture-sized at any SF, and scale coverage of the admission
        // probe is s19/s21's job. ONE parquet scan: every fixture
        // relation below (history, both batches, all four clones)
        // derives from this pinned ≤500-row slice — the previous
        // spelling re-scanned the embeddings table once per union
        // branch, ~8 scheduled scan jobs of pure fixture setup (r15
        // VERDICT task 8)
        val b = graft.Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < 500)
          .localCheckpoint(false) // lazy: batch1's write materializes it
        def clone(of: Long, shift: Long) = b.filter(col("vec_id") === of)
          .select((col("vec_id") + shift).as("vec_id"), col("embedding"))
        val batch1 = b.filter(col("vec_id") >= 150 && col("vec_id") < 300)
          .unionByName(clone(100L, 1000000L)).unionByName(clone(200L, 2000000L))
        val batch2 = b.filter(col("vec_id") >= 300)
          .unionByName(clone(200L, 3000000L)).unionByName(clone(100L, 4000000L))
        val tag = sinkSeq.incrementAndGet()
        withScratch(s"graft_e06_src_${tag}_", s"graft_e06_spool_${tag}_",
            s"graft_e06_index_${tag}_") { case Seq(srcDir, spool, idx) =>
          // stage probe (perf attribution only, off unless exported)
          val probe = sys.env.contains("GRAFT_E06_PROBE")
          var t0 = System.nanoTime()
          def mark(stage: String): Unit = if (probe) {
            val t1 = System.nanoTime()
            System.err.println(f"[e06] $stage ${(t1 - t0) / 1e9}%.2f s")
            t0 = t1
          }
          // one part file per source batch → one micro-batch per drain
          batch1.coalesce(1).write.mode("append").parquet(srcDir)
          mark("fixture batch1")
          // the build and both admit micro-batches run under 8 shuffle
          // partitions (the e01 pin): their relations are fixture-sized,
          // and 32-partition stages were pure scheduling latency
          withStatePartitions(s, 8) { sp =>
            // history from the SAME pinned slice (no second table scan),
            // REBOUND to the pinned session — a DataFrame keeps its
            // creating session, so filtering `b` directly would run the
            // build under s's 32 partitions and silently escape the pin
            // this comment block promises; the rdd handoff reuses the
            // checkpoint blocks. The build report is lazy and unread —
            // no count job
            val histP = sp.createDataFrame(
              b.filter(col("vec_id") < 150).rdd, b.schema)
            Similarity.writeEmbedIndex(histP, idx, k = 8)
            mark("index build")
            val q = sp.readStream.schema(b.schema).parquet(srcDir)
              .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
                // file-source batch: the driver-side file listing decides
                // emptiness without a job (isEmpty scheduled one limit-1
                // job per micro-batch); the isEmpty fallback covers a
                // non-file batch plan. NOTE (r16 ADVICE): inputFiles-
                // nonEmpty is a FILES-PRESENT proxy, not rows-present —
                // a batch of zero-row files would run a full admit cycle
                // here where isEmpty alone skipped it. Correct for this
                // fixture (both batches always carry rows); keep the
                // isEmpty check too if copying this pattern to a source
                // that can deliver empty files
                if (batch.inputFiles.nonEmpty || !batch.isEmpty)
                  Similarity.embedAdmitAppend(batch, idx, 0.9)
                    .withColumn("batch_id", lit(batchId))
                    .write.mode("append").parquet(spool)
              }.start()
            try {
              q.processAllAvailable() // batch 1 admits + writes back
              mark("drain 1")
              batch2.coalesce(1).write.mode("append").parquet(srcDir)
              mark("fixture batch2")
              q.processAllAvailable() // batch 2 probes history ∪ batch-1
              mark("drain 2")
            } finally q.stop()
          }
          // dense micro-batch tag → 1-based batch number (robust to any
          // empty interleaved micro-batch); the spool is bounded
          // (admitted rows only), so the global window is model-sized
          s.read.parquet(spool)
            .withColumn("batch", dense_rank().over(
              org.apache.spark.sql.expressions.Window.orderBy(col("batch_id"))))
            .select(col("batch"), col("vec_id"), col("cell"))
            .orderBy(col("batch"), col("vec_id"))
            .localCheckpoint() // frees the temp dirs below
        }
      })
  )
}
