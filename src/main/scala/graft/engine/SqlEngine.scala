package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Connection metadata (reference: SqlContext at src/sql/context.rs —
  * database/user from the PG connection, port 0 when unconnected). */
final case class SqlContext(database: String, user: String, port: Int = 0)

object SqlEngine {
  /** Plain SQL keywords the bare-identifier scan's FIRST pass never probes
    * as table names — not a validator, purely a per-token catalog-stat
    * saver. PG treats most of these as non-reserved identifiers, so a
    * resolution miss retries once WITH keyword probing (see
    * [[SqlEngine.planRelational]]) — a table named `first` stays
    * queryable. */
  private[engine] val sqlKeywords: Set[String] = Set(
    "select", "from", "where", "and", "or", "not", "as", "on", "join", "inner", "left",
    "right", "full", "outer", "cross", "group", "by", "order", "having", "limit", "offset",
    "union", "all", "distinct", "case", "when", "then", "else", "end", "with", "in",
    "exists", "between", "like", "ilike", "is", "null", "true", "false", "asc", "desc",
    "nulls", "first", "last", "cast", "over", "partition", "rows", "range", "unbounded",
    "preceding", "following", "current", "row", "values", "insert", "into", "explain",
    "escape", "interval", "using", "semi", "anti")

  /** Default [[SqlEngine.vacuumTable]] grace window — the catalog's
    * snapshot-safe default ([[Catalog.defaultVacuumRetentionMs]]). */
  val defaultVacuumRetentionMs: Long = Catalog.defaultVacuumRetentionMs

  /** INSERT-commit auto-compaction threshold: once a table accumulates
    * this many live parquet parts, the committing INSERT compacts it in
    * place (the reference compacts once accumulated log messages pass a
    * threshold — /root/reference/src/tablet/service.rs:393-399 — rather
    * than waiting for an operator). ≤0 disables. */
  val defaultAutoCompactAfterParts: Int = 64

  /** The per-row loop of an INSERT candidate: the row count and, per
    * `checkIdx` position, the number of NULLs (NOT NULL violations). Runs
    * over each partition's InternalRows on the distributed path and over
    * the collected Rows on the driver-resident one. */
  private[engine] def rowStats[R](it: Iterator[R], checkIdx: Array[Int],
      isNull: (R, Int) => Boolean): (Long, Array[Long]) = {
    var c = 0L
    val nulls = new Array[Long](checkIdx.length)
    while (it.hasNext) {
      val row = it.next()
      var j = 0
      while (j < checkIdx.length) {
        if (isNull(row, checkIdx(j))) nulls(j) += 1L
        j += 1
      }
      c += 1L
    }
    (c, nulls)
  }

  /** A unique-key tuple compared as Spark's grouping and join keys are:
    * floating values normalized (-0.0 is 0.0, every NaN is one NaN — as
    * bits, since `==` never equates NaNs), binary by content. */
  private[engine] def keyOf(r: Row, idx: Seq[Int]): Seq[Any] = idx.map { i =>
    r.get(i) match {
      case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case v => v
    }
  }

  /** A serial id as the column's external value type. */
  private[engine] def serialValue(kind: ColumnTypeKind, id: Long): Any = kind match {
    case ColumnTypeKind.Int16Kind => id.toShort
    case ColumnTypeKind.Int32Kind => id.toInt
    case _ => id
  }
}

/** The PG-semantics statement engine: `execute(sql)` returns a DataFrame.
  *
  * Architecture mirrors the reference's decision (SURVEY §7): a thin
  * statement-level shell — our own handling for CREATE DATABASE / CREATE
  * TABLE / DROP TABLE / INSERT and session functions — with every
  * relational query falling through to Spark SQL (as the reference falls
  * through to DataFusion: src/sql/postgresql/mod.rs:269, src/sql/mod.rs:136).
  *
  * Tables are parquet-backed managed tables; a query resolves each table at
  * planning time to the parquet files then present, which is the observable
  * equivalent of the reference's snapshot reads (SURVEY §1.5).
  */
final class SqlEngine(val spark: SparkSession, val catalog: Catalog, val ctx: SqlContext,
    val autoCompactAfterParts: Int = SqlEngine.defaultAutoCompactAfterParts,
    val autoCompactTargetFileBytes: Long = 128L << 20) {
  import SqlParser._

  registerSessionFunctions()

  def execute(sql: String): DataFrame = SqlParser.parse(sql) match {
    case CreateDatabase(name, ine) =>
      catalog.createDatabase(name, ine); spark.emptyDataFrame
    case CreateTable(name, builder, ine) =>
      val (db, schema, _) = resolve(name)
      catalog.createTable(db, schema, builder, ine)
      spark.emptyDataFrame
    case DropTable(name, ie) =>
      val (db, schema, table) = resolve(name)
      catalog.dropTable(db, schema, table, ie)
      spark.catalog.dropTempView(table)
      spark.catalog.dropTempView(xdbView(db, schema, table))
      spark.emptyDataFrame
    case ins: Insert => insert(ins)
    case CopyNoOp() =>
      // parity: the reference silently ignores COPY
      // (src/sql/postgresql/mod.rs:548,564-566)
      spark.emptyDataFrame
    case ShowDatabases() =>
      toDf(catalog.listDatabases().map(Row(_)), StructType(Seq(StructField("name", StringType, false))))
    case ShowTables() =>
      toDf(catalog.listTables(ctx.database, "public").map(Row(_)),
        StructType(Seq(StructField("name", StringType, false))))
    case Describe(name) =>
      val (db, schema, table) = resolve(name)
      val d = catalog.getTable(db, schema, table)
      toDf(
        d.columns.map(c => Row(c.name, c.typeKind.name, c.nullable, c.serial)),
        StructType(Seq(
          StructField("column", StringType, false), StructField("type", StringType, false),
          StructField("nullable", BooleanType, false), StructField("serial", BooleanType, false))))
    case Query(q) => query(q)
  }

  /** A LocalRelation: fetching it runs no Spark job. */
  private def toDf(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** reference: name.resolve(default_catalog, "public") (src/sql/traits.rs:80-83). */
  private def resolve(name: Seq[String]): (String, String, String) = name match {
    case Seq(t) => (ctx.database, "public", t)
    case Seq(s, t) => (ctx.database, s, t)
    case Seq(d, s, t) => (d, s, t)
    case _ => throw SqlError.invalid(s"table name ${name.mkString(".")}")
  }

  /** Scans the table's MANIFEST snapshot: the file list is resolved here,
    * at planning time, so the plan stays consistent even if a compaction
    * republishes the table before the query runs (SURVEY §1.5). */
  def readTable(db: String, schema: String, table: String): DataFrame = {
    val d = catalog.getTable(db, schema, table)
    val paths = catalog.livePartPaths(db, schema, table)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], d.toStructType)
    else spark.read.schema(d.toStructType).parquet(paths: _*)
  }

  /** TIME TRAVEL: the table as of snapshot `version` (0 = empty at
    * creation; each INSERT commit / compaction publish is one version).
    * The observable analogue of the reference's MVCC snapshot reads at a
    * fixed timestamp (src/kv.rs:331-431; version chains read newest ≤ ts,
    * src/tablet/memory.rs:73-81). Readable until [[vacuumTable]] reclaims
    * the snapshot's superseded files. */
  def readTableAt(db: String, schema: String, table: String, version: Long): DataFrame = {
    val d = catalog.getTable(db, schema, table)
    val paths = catalog.partPathsAt(db, schema, table, version)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], d.toStructType)
    else spark.read.schema(d.toStructType).parquet(paths: _*)
  }

  /** CHANGE FEED: the rows INSERTed in the version interval (`fromV`,
    * `toV`] — an incremental consumer (e.g. [[graft.operators.Dedup]]'s
    * incremental admit, or a downstream sync) reads exactly the delta,
    * never re-scanning history. Append-only intervals only: an interval
    * crossing a compaction publish raises, and the consumer restarts from
    * a full snapshot (same contract as a table format's incremental
    * read across a rewrite). */
  def readTableChanges(db: String, schema: String, table: String,
      fromV: Long, toV: Long): DataFrame = {
    val d = catalog.getTable(db, schema, table)
    val paths = catalog.partPathsAddedBetween(db, schema, table, fromV, toV)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], d.toStructType)
    else spark.read.schema(d.toStructType).parquet(paths: _*)
  }

  /** Change-feed consumption that SURVIVES compaction — the documented
    * recovery path of [[readTableChanges]] as code. Fast path: the
    * append-only file delta of (`fromV`, `toV`]. When that interval is
    * not a file delta (a compaction publish crossed it, or its versions
    * expired from the capped history / were vacuumed), falls back to the
    * full snapshot at `toV` anti-joined on `keyCols` against `consumed`
    * — the consumer's own record (digest index, PK log, ...) of rows
    * already processed. Both paths deliver "rows at `toV` the consumer
    * has not seen": no loss, no dupes, no bespoke restart logic. The
    * fallback is correct for ANY incremental-read failure, which is why
    * the catch is by error kind, not by failure cause: snapshot ⊖
    * consumed is the unseen set by definition. Scale shape: the anti-
    * join shuffles `keyCols` only (the d08 admit discipline — keep keys
    * as digests/ids, never text). */
  def readTableChangesResumable(db: String, schema: String, table: String,
      fromV: Long, toV: Long, consumed: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    try readTableChanges(db, schema, table, fromV, toV)
    catch {
      case e: SqlError if e.kind == SqlError.Unexpected =>
        readTableAt(db, schema, table, toV)
          .join(consumed.select(keyCols.map(col): _*), keyCols, "left_anti")
    }
  }

  // ---------- query path ----------

  /** Registers ONLY the statement's referenced tables as temp views (the
    * reference's per-statement descriptor fetch: visit_relations at
    * src/sql/traits.rs:68-78 feeding src/sql/mod.rs:60-75 — it never
    * touches descriptors the statement doesn't name), rewrites PG session
    * functions, and hands the text to Spark SQL. Driver-side work is
    * O(statement), not O(catalog): a 1000-table catalog costs a query
    * exactly what its own tables cost. */
  private def query(sql: String): DataFrame =
    planRelational(sql, rewriteSessionFunctions)

  private def isResolutionFailure(e: org.apache.spark.sql.AnalysisException): Boolean =
    e.getCondition != null && Seq("TABLE_OR_VIEW_NOT_FOUND", "CATALOG_NOT_FOUND",
      "SCHEMA_NOT_FOUND", "REQUIRES_SINGLE_PART_NAMESPACE").exists(e.getCondition.startsWith)

  /** The ONE resolve-register-run path for relational text (queries and
    * INSERT sources): resolve referenced tables, register their snapshot
    * views, hand the rewritten text to Spark SQL.
    *
    * The first pass never probes keyword tokens as table names (a
    * per-token catalog-stat saver); PG's sqlparser accepts NON-RESERVED
    * keywords as identifiers (/root/reference/src/sql/postgresql/mod.rs:119-121
    * delegates to PostgreSqlDialect), so `CREATE TABLE first ...` is legal
    * and `SELECT * FROM first` must resolve. On a resolution miss we retry
    * ONCE probing keyword tokens too — the retry costs only the error
    * path, never the hot path. Spark's resolution failures map to the
    * reference's error shape: a qualified name whose database/schema
    * doesn't exist in OUR catalog passes through unrewritten and surfaces
    * as Spark's catalog/namespace error — same user-visible condition as a
    * missing table. */
  private def planRelational(sql: String, rewrite: String => String): DataFrame = {
    def register(probeKeywords: Boolean): (String, Seq[TableRef]) = {
      val (rewritten, refs, infoSchema) = resolveTables(sql, probeKeywords)
      // on a PARTIAL registration failure, keyword views registered before
      // the failing one must not linger: a later statement's first pass
      // would resolve against their pinned-at-registration snapshot (the
      // same staleness the post-run drop in `run` prevents)
      val registered = Seq.newBuilder[TableRef]
      try {
        refs.filterNot(_.tvf).foreach { r =>
          readTable(r.db, r.schema, r.table).createOrReplaceTempView(r.view)
          registered += r
        }
        // inside the guard: an information_schema failure after keyword
        // views registered must not leak them either
        if (infoSchema) registerInformationSchema()
      } catch {
        case e: Throwable =>
          (registered.result().filter(r => SqlEngine.sqlKeywords(r.view)) ++ refs.filter(_.tvf))
            .foreach(r => try spark.catalog.dropTempView(r.view) catch { case _: Throwable => })
          throw e
      }
      (rewritten, refs)
    }
    // keyword-named temp views must NOT outlive the statement: a LATER
    // statement's first pass (which never probes keywords) would resolve
    // Spark-side against the lingering view — whose file list was pinned at
    // registration — without ever reaching our resolver. That serves stale
    // rows after an INSERT and dangling paths after compact+vacuum.
    // Dropping them forces every statement referencing a keyword-named
    // table back through a fresh registration (via the retry, or via the
    // dotted-chain path that resolves `public.first` on the first pass).
    // Non-keyword views are refreshed per statement by
    // createOrReplaceTempView, so persisting is harmless for them.
    // spark.sql analyzes eagerly — the returned DataFrame's plan already
    // holds the resolved file scan, so dropping the view right after is
    // safe even if the caller executes later.
    def run(rewritten: String, refs: Seq[TableRef]): DataFrame =
      try spark.sql(rewrite(rewritten))
      finally refs.filter(r => SqlEngine.sqlKeywords(r.view) || r.tvf)
        .foreach(r => spark.catalog.dropTempView(r.view))
    try {
      val (rewritten, refs) = register(probeKeywords = false)
      run(rewritten, refs)
    } catch {
      case e: org.apache.spark.sql.AnalysisException if isResolutionFailure(e) =>
        // retry ONCE probing keyword tokens as table names. Registration is
        // a separate step so a registration failure (e.g. a name Spark's
        // view parser rejects) maps back to the ORIGINAL resolution miss in
        // the reference's error shape, while a genuine analysis error in
        // the query itself (column typo, GROUP BY mismatch) propagates raw
        // — exactly as it does for non-keyword tables.
        val (rewritten, refs) =
          try register(probeKeywords = true)
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              throw SqlError(SqlError.TableNotExists, e.getMessage)
          }
        try run(rewritten, refs)
        catch {
          case e2: org.apache.spark.sql.AnalysisException if isResolutionFailure(e2) =>
            throw SqlError(SqlError.TableNotExists, e2.getMessage)
        }
    }
  }

  /** The `information_schema` relations the engine exposes (the reference
    * enables DataFusion's information_schema, src/sql/mod.rs:82). Backed by
    * temp views refreshed per query from the catalog. */
  private val infoSchemaTables = Set("tables", "columns")

  private def registerInformationSchema(): Unit = {
    val db = ctx.database
    val tableRows = Seq.newBuilder[Row]
    val columnRows = Seq.newBuilder[Row]
    if (catalog.databaseExists(db)) {
      for (schema <- catalog.listSchemas(db); t <- catalog.listTables(db, schema)) {
        tableRows += Row(db, schema, t, "BASE TABLE")
        catalog.getTable(db, schema, t).columns.zipWithIndex.foreach { case (c, i) =>
          columnRows += Row(db, schema, t, c.name, i + 1, null,
            if (c.nullable) "YES" else "NO", c.typeKind.name)
        }
      }
    }
    toDf(tableRows.result(), StructType(Seq(
      StructField("table_catalog", StringType, false),
      StructField("table_schema", StringType, false),
      StructField("table_name", StringType, false),
      StructField("table_type", StringType, false))))
      .createOrReplaceTempView("graft_information_schema_tables")
    toDf(columnRows.result(), StructType(Seq(
      StructField("table_catalog", StringType, false),
      StructField("table_schema", StringType, false),
      StructField("table_name", StringType, false),
      StructField("column_name", StringType, false),
      StructField("ordinal_position", IntegerType, false),
      StructField("column_default", StringType, true),
      StructField("is_nullable", StringType, false),
      StructField("data_type", StringType, false))))
      .createOrReplaceTempView("graft_information_schema_columns")
  }

  /** SQL-TEXT entry to the LLM-data operator suite: `SELECT * FROM
    * graft_dedup_exact(docs)` runs [[graft.operators.Dedup.exactDedup]]
    * over the managed table `docs` — composable with every relational
    * construct (joins, CTEs, aliases) since the call site resolves to a
    * plain relation. The reference's only user surface is SQL text
    * (/root/reference/src/sql/mod.rs:48-156); without these the d/s/t/p
    * operators would be unreachable from a SQL prompt. Trailing NUMERIC
    * literal arguments map positionally onto the operator's tuning
    * parameters; omitted ones take the operator's own defaults. */
  private val tableFunctions: Map[String, (DataFrame, Seq[Double]) => DataFrame] = {
    import graft.operators.{Dedup, Packing, Selection, TextAnalysis}
    Map(
      // NOTE: no graft_semdedup/graft_kmeans here — managed tables carry
      // only the reference's 8 scalar types (no arrays), so an
      // embedding-typed relation can never arrive via THIS seam; they
      // enter through [[viewFunctions]] (a registered temp view named by
      // a string argument) instead.
      "graft_tfidf" -> ((t, a) =>
        TextAnalysis.tfidfTerms(t, a.headOption.map(_.toInt).getOrElse(3))),
      "graft_repetition" -> ((t, a) =>
        TextAnalysis.repetitionStats(t, a.headOption.getOrElse(0.65),
          a.lift(1).getOrElse(0.1))),
      "graft_lm_score" -> ((t, _) => TextAnalysis.lmScore(t)),
      "graft_classifier_score" -> ((t, a) => {
        val dim = a.headOption.map(_.toInt).getOrElse(4096)
        TextAnalysis.classifierScore(t,
          TextAnalysis.seedWeights(t.sparkSession, dim), dim)
      }),
      "graft_pack_spans" -> ((t, a) =>
        Packing.packedSpans(t, a.headOption.map(_.toInt).getOrElse(128))),
      "graft_dedup_exact" -> ((t, _) => Dedup.exactDedup(t)),
      "graft_minhash_pairs" -> ((t, a) =>
        Dedup.minhashPairs(t, a.headOption.getOrElse(0.35))),
      "graft_simhash_pairs" -> ((t, a) =>
        Dedup.simhashPairs(t, a.headOption.map(_.toInt).getOrElse(3))),
      "graft_simhash128_pairs" -> ((t, a) =>
        Dedup.simhashPairs128(t, a.headOption.map(_.toInt).getOrElse(3))),
      "graft_jaccard_pairs" -> ((t, a) =>
        Dedup.exactJaccardPairs(Dedup.postingIndex(t), a.headOption.getOrElse(0.5))),
      "graft_passage_stats" -> ((t, a) =>
        Dedup.passageStats(t, a.headOption.map(_.toInt).getOrElse(8))),
      "graft_lang_id" -> ((t, _) => TextAnalysis.langId(t)),
      "graft_quality" -> ((t, _) => TextAnalysis.qualityFeatures(t)),
      "graft_token_counts" -> ((t, _) => TextAnalysis.tokenCounts(t)),
      "graft_fingerprints" -> ((t, a) =>
        TextAnalysis.fingerprints(t, a.headOption.map(_.toInt).getOrElse(16))),
      "graft_pack_sequences" -> ((t, a) =>
        Packing.packSequences(t, a.headOption.map(_.toInt).getOrElse(128))),
      "graft_shard_pack" -> ((t, a) =>
        Packing.shardPack(t, a.headOption.map(_.toInt).getOrElse(8))),
      "graft_temperature_mix" -> ((t, a) =>
        Packing.temperatureMix(t, a.headOption.getOrElse(0.5),
          a.lift(1).getOrElse(0.5))),
      "graft_token_budget" -> ((t, a) =>
        Selection.selectTokenBudget(t, a.headOption.map(_.toLong).getOrElse(1000000L))),
      "graft_curriculum" -> ((t, a) =>
        Selection.curriculumOrder(t, a.headOption.map(_.toInt).getOrElse(4))),
      "graft_cap_per_source" -> ((t, a) =>
        Selection.capPerSource(t, a.headOption.map(_.toInt).getOrElse(1000))),
      "graft_stratified_split" -> ((t, a) =>
        Selection.stratifiedSplit(t, if (a.nonEmpty) a else Seq(0.8, 0.1, 0.1))),
      "graft_boilerplate" -> ((t, a) =>
        TextAnalysis.boilerplatePhrases(t, a.headOption.map(_.toInt).getOrElse(3),
          a.lift(1).getOrElse(0.05))),
      "graft_heuristic_filter" -> ((t, a) =>
        TextAnalysis.heuristicFilter(t,
          minWords = a.headOption.map(_.toLong).getOrElse(50L),
          maxWords = a.lift(1).map(_.toLong).getOrElse(100000L),
          minStopHits = a.lift(2).map(_.toInt).getOrElse(2))),
      "graft_weighted_sample" -> ((t, a) =>
        Selection.weightedSample(t, a.headOption.map(_.toInt).getOrElse(1000))),
      "graft_epoch_shuffle" -> ((t, a) =>
        Selection.epochShuffle(t, a.headOption.map(_.toInt).getOrElse(0),
          a.lift(1).map(_.toInt).getOrElse(8))),
      "graft_passage_scrub" -> ((t, a) =>
        Dedup.passageScrub(t, a.headOption.map(_.toInt).getOrElse(8))),
      "graft_vocabulary" -> ((t, a) =>
        TextAnalysis.vocabulary(t, a.headOption.map(_.toInt).getOrElse(30))),
      // per-order distinct ratios + gram-distribution entropy — the
      // before/after dashboard of every dedup/selection pass
      "graft_corpus_diversity" -> ((t, a) =>
        TextAnalysis.corpusDiversity(t, a.headOption.map(_.toInt).getOrElse(3))),
      "graft_bpe_merges" -> ((t, a) =>
        TextAnalysis.bpeMerges(t, a.headOption.map(_.toInt).getOrElse(8))),
      // production-depth spelling: capped-census driver-side trainer —
      // graft_bpe_train(relation, merges [, vocabCap]); rounds run in
      // memory over the bounded census, so real tokenizer depths are a
      // single corpus pass rather than k scheduled jobs
      "graft_bpe_train" -> ((t, a) =>
        TextAnalysis.bpeMergesDriver(t, a.headOption.map(_.toInt).getOrElse(256),
          a.lift(1).map(_.toInt).getOrElse(65536))),
      // train-then-encode convenience: k merges learned from the relation
      // itself, then per-doc tokenizer stats under them
      "graft_bpe_encode" -> ((t, a) => {
        val k = a.headOption.map(_.toInt).getOrElse(8)
        val table = TextAnalysis.bpeMerges(t, k).orderBy(col("rank"))
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        TextAnalysis.bpeEncode(t, table)
      }),
      // train-then-tokenize: the token STREAM (doc_id, word_idx, tok_idx,
      // token) under k merges learned from the relation itself (driver
      // trainer — production depths are a single census pass)
      "graft_bpe_tokens" -> ((t, a) => {
        val k = a.headOption.map(_.toInt).getOrElse(8)
        TextAnalysis.bpeTokens(t,
          TextAnalysis.bpeTrainDriver(t, k).map(m => (m._2, m._3)))
      }),
      // the id-stream capstone: tokens mapped through the induced
      // vocabulary (alphabet + merges, dense GPT-2-style ids)
      "graft_bpe_ids" -> ((t, a) => {
        val k = a.headOption.map(_.toInt).getOrElse(8)
        val tok = TextAnalysis.bpeTrainTokenizer(t, k)
        TextAnalysis.bpeTokenIds(t, tok.merges, tok.alphabet)
      }),
      // the vocabulary artifact itself: (token_id, token)
      "graft_bpe_vocab" -> ((t, a) => {
        val k = a.headOption.map(_.toInt).getOrElse(8)
        val tok = TextAnalysis.bpeTrainTokenizer(t, k)
        TextAnalysis.bpeVocab(t, tok.merges, tok.alphabet)
      }),
      // the MATERIALIZED packed tape: train k merges, tokenize to ids,
      // pack onto budget-token sequences — (seq, seq_pos, doc_id,
      // token_id), the loader-facing artifact; args (budget, merges)
      "graft_pack_ids" -> ((t, a) => {
        val tok = TextAnalysis.bpeTrainTokenizer(t,
          a.lift(1).map(_.toInt).getOrElse(8))
        graft.operators.Packing.packTokenIds(t, tok.merges,
          a.headOption.map(_.toInt).getOrElse(128), tok.alphabet)
      }),
      "graft_hashed_embedding" -> ((t, a) =>
        graft.operators.Similarity.hashedEmbedding(t,
          a.headOption.map(_.toInt).getOrElse(16))),
      // media tables carry payloads as bytea — the one reference type the
      // multimodal family needs (frame content returns as bytea too)
      "graft_sample_frames" -> ((t, a) =>
        graft.operators.Multimodal.sampleFrames(t,
          a.headOption.map(_.toInt).getOrElse(4096), a.lift(1).map(_.toInt).getOrElse(1))),
      "graft_media_dedup" -> ((t, _) => graft.operators.Multimodal.mediaDedup(t)),
      // pair-list output is quadratic on clustered feature spaces — the
      // operator's candidate-pair circuit breaker refuses past the cap
      // (optional 2nd arg) with a pointer to graft_media_semdedup, the
      // keep/drop deliverable for large corpora
      "graft_media_neardup" -> ((t, a) =>
        graft.operators.Multimodal.mediaNearDupPairs(t, a.headOption.getOrElse(0.99),
          maxCandidatePairs = a.lift(1).map(_.toLong).getOrElse(10000000L))),
      "graft_media_semdedup" -> ((t, a) =>
        graft.operators.Multimodal.mediaSemDedup(t, a.headOption.getOrElse(0.99),
          a.lift(1).map(_.toInt).getOrElse(0))),
      "graft_ppl_tiers" -> ((t, _) => TextAnalysis.pplTiers(t)),
      "graft_chunk_windows" -> ((t, a) =>
        Packing.chunkWindows(t, a.headOption.map(_.toInt).getOrElse(64),
          a.lift(1).map(_.toInt).getOrElse(32))),
      // source diagnostics build their pair graph from the relation
      // itself (doc_id, text, source all present on documents-shaped
      // tables); arg 1 is the Jaccard floor
      "graft_dup_report" -> ((t, a) =>
        Dedup.dupReport(t, Dedup.exactJaccardPairs(
          Dedup.postingIndex(t), a.headOption.getOrElse(0.4)))),
      "graft_cross_source" -> ((t, a) =>
        Dedup.crossSourceOverlap(t, Dedup.exactJaccardPairs(
          Dedup.postingIndex(t), a.headOption.getOrElse(0.4)))),
      // args: (simFloor, candidate jaccard floor, maxLev)
      "graft_edit_pairs" -> ((t, a) =>
        Dedup.editNearDupPairs(t,
          Dedup.exactJaccardPairs(Dedup.postingIndex(t), a.lift(1).getOrElse(0.2)),
          simFloor = a.headOption.getOrElse(0.8),
          maxLev = a.lift(2).map(_.toInt).getOrElse(128))),
      "graft_corpus_card" -> ((t, _) => graft.operators.Curation.corpusCard(t)),
      "graft_mixture_weights" -> ((t, a) =>
        Packing.mixtureWeights(t, a.headOption.getOrElse(0.5),
          a.lift(1).map(_.toLong).getOrElse(100000L))),
      "graft_mixture_capped" -> ((t, a) =>
        Packing.mixtureWeightsCapped(t, a.headOption.getOrElse(0.5),
          a.lift(1).map(_.toLong).getOrElse(100000L),
          a.lift(2).getOrElse(2.0))),
      // over any (id, cell, score) relation — cells from labels, sources,
      // or a quantizer registered upstream
      "graft_diverse_topk" -> ((t, a) =>
        Selection.diverseTopK(t, a.headOption.map(_.toInt).getOrElse(100))),
      "graft_containment" -> ((t, a) =>
        Dedup.containmentPairs(Dedup.postingIndex(t),
          a.headOption.getOrElse(0.8))),
      // winnowed-fingerprint near-dup pairs; args (k, w, minShared, dfCap)
      "graft_winnow_pairs" -> ((t, a) =>
        Dedup.winnowedPairs(t,
          a.headOption.map(_.toInt).getOrElse(4),
          a.lift(1).map(_.toInt).getOrElse(4),
          a.lift(2).map(_.toInt).getOrElse(2),
          a.lift(3).map(_.toInt).getOrElse(64))),
      // the df-capped winnow fingerprint INDEX itself (doc_id, fp) — the
      // persistable admission artifact: materialize it once (INSERT INTO
      // idx SELECT * FROM graft_winnow_index(history, ...)) and every
      // later graft_winnow_admit(inc, idx, ...) call probes the stored
      // scalars with NO history rescan. args (k, w, dfCap) — note: no
      // minShared (that is an admission-time knob, not an index property)
      "graft_winnow_index" -> ((t, a) =>
        Dedup.winnowedIndex(t,
          a.headOption.map(_.toInt).getOrElse(4),
          a.lift(1).map(_.toInt).getOrElse(4),
          a.lift(2).map(_.toInt).getOrElse(64))),
      "graft_span_stats" -> ((t, a) =>
        Dedup.spanStats(t, a.headOption.map(_.toInt).getOrElse(8),
          a.lift(1).getOrElse(0.3))),
      // default PII battery; the ('name', 'regex') pair spelling lives in
      // stringTableFunctions under the same name
      "graft_pattern_audit" -> ((t, _) => TextAnalysis.patternAudit(t)),
      // the s10 capstone behind one call: hash-embed -> sqrt(n)-scaled
      // quantizer -> cell-scoped semantic prune; args (dim, tau, cells).
      // Returns the KEPT (doc_id, cell) rows — scalar columns only, so
      // the result composes with every relational construct. The real-
      // encoder path keeps the graft_semdedup('view') escape hatch.
      "graft_text_semdedup" -> ((t, a) => {
        import graft.operators.Similarity
        val dim = a.headOption.map(_.toInt).getOrElse(16)
        val tau = a.lift(1).getOrElse(0.95)
        val vecs = Similarity.hashedEmbeddingVec(t, dim).localCheckpoint()
        Dedup.semDedup(
          Similarity.quantizedCells(vecs, a.lift(2).map(_.toInt).getOrElse(0)), tau)
          .select(col("vec_id").as("doc_id"), col("cell"))
      }))
  }

  /** Two-relation operator entry points: `fn(left_table, right_table[,
    * num ...])`. These are the operators whose semantics NEED a second
    * relation — a query/benchmark/index side — and were previously
    * DataFrame-API-only: BM25 retrieval (corpus, query terms),
    * decontamination (corpus, benchmark), incremental dedup admission
    * (increment, persisted digest index). */
  private val twoTableFunctions: Map[String, (DataFrame, DataFrame, Seq[Double]) => DataFrame] = {
    import graft.operators.{Curation, Dedup, TextAnalysis}
    Map(
      "graft_bm25" -> ((corpus, terms, a) =>
        TextAnalysis.bm25TopK(corpus, terms, a.headOption.map(_.toInt).getOrElse(10))),
      "graft_decontaminate" -> ((corpus, bench, a) =>
        Curation.contamination(corpus, bench, a.headOption.map(_.toInt).getOrElse(3))),
      "graft_admit" -> ((inc, idx, _) => Dedup.incrementalAdmit(inc, idx)),
      // winnow-level admission; args (k, w, minShared, dfCap). The second
      // relation dispatches on SHAPE: a (doc_id, fp) relation — the
      // graft_winnow_index artifact, typically a managed table — is
      // probed AS the index (no rebuild job in the probe plan); anything
      // else is the HISTORY corpus and the df-capped index builds in-call
      // (the round-12 spelling, kept for one-shot use)
      "graft_winnow_admit" -> ((inc, second, a) => {
        // shape dispatch must be unambiguous: an fp column NEXT TO a
        // text column means the caller passed a corpus that happens to
        // carry fingerprints — probing those longs as the index would
        // silently admit clones (and silently ignore dfCap)
        val cols = second.columns.toSet
        if (cols.contains("fp") && cols.contains("text"))
          throw SqlError.invalid(
            "graft_winnow_admit: the second relation carries BOTH fp and text — " +
              "pass either the (doc_id, fp) index artifact (graft_winnow_index) " +
              "or the raw history corpus, not a corpus with a leftover fp column")
        val idx =
          if (cols.contains("fp")) second
          else Dedup.winnowedIndex(second,
            a.headOption.map(_.toInt).getOrElse(4),
            a.lift(1).map(_.toInt).getOrElse(4),
            a.lift(3).map(_.toInt).getOrElse(64))
        Dedup.winnowAdmit(inc, idx,
          a.headOption.map(_.toInt).getOrElse(4),
          a.lift(1).map(_.toInt).getOrElse(4),
          a.lift(2).map(_.toInt).getOrElse(2))
      }),
      "graft_contamination_frac" -> ((corpus, bench, a) =>
        Curation.contaminationScore(corpus, bench, a.headOption.getOrElse(0.2))),
      // DSIR importance selection: the corpus docs whose hashed-unigram
      // distribution best matches the target relation; args (k, buckets)
      "graft_dsir_select" -> ((corpus, target, a) =>
        graft.operators.Selection.dsirSelect(corpus, target,
          a.headOption.map(_.toInt).getOrElse(100),
          a.lift(1).map(_.toInt).getOrElse(256))),
      // the un-truncated sibling: every corpus doc's importance score —
      // feed a threshold, a weighted sampler, or a mixture solver; args
      // (buckets)
      "graft_dsir_score" -> ((corpus, target, a) =>
        graft.operators.Selection.dsirScores(corpus, target,
          a.headOption.map(_.toInt).getOrElse(256))),
      // embedding-level decontamination (hashed-embedding cosine >= tau);
      // args: (dim, tau)
      "graft_semantic_decontam" -> ((corpus, bench, a) =>
        Curation.semanticContamination(corpus, bench,
          a.headOption.map(_.toInt).getOrElse(16), a.lift(1).getOrElse(0.95))),
      // dataset-version drift: per doc_id added/removed/changed/unchanged
      "graft_corpus_diff" -> ((oldC, newC, _) => Curation.corpusDiff(oldC, newC)),
      // apply a LEARNED merge table (rank, a, b) to a DIFFERENT corpus —
      // tokenizer trained on A encodes B. The one-table spelling (in
      // tableFunctions) retrains on its own input; this one makes the
      // trained artifact portable from pure SQL. The merge relation is a
      // bounded k-row artifact, so the ordered collect is the sanctioned
      // seed-collect shape.
      "graft_bpe_encode" -> ((corpus, merges, _) => {
        // the collect is sanctioned ONLY because merge tables are k-row
        // artifacts — bound it so a corpus-sized relation fails loudly
        // instead of OOMing the driver
        val cap = 65536
        val rows = merges.orderBy(col("rank")).limit(cap + 1).collect()
        if (rows.length > cap)
          throw SqlError.invalid(
            s"graft_bpe_encode merge relation exceeds $cap rows — " +
              "pass the trained (rank, a, b) merge table, not a corpus")
        TextAnalysis.bpeEncode(corpus,
          rows.map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq)
      }),
      // the token-stream sibling: a trained (rank, a, b) merge table
      // tokenizes a DIFFERENT corpus (same bounded-artifact collect
      // discipline and cap as graft_bpe_encode)
      "graft_bpe_tokens" -> ((corpus, merges, _) => {
        val cap = 65536
        val rows = merges.orderBy(col("rank")).limit(cap + 1).collect()
        if (rows.length > cap)
          throw SqlError.invalid(
            s"graft_bpe_tokens merge relation exceeds $cap rows — " +
              "pass the trained (rank, a, b) merge table, not a corpus")
        TextAnalysis.bpeTokens(corpus,
          rows.map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq)
      }),
      // FOREIGN-corpus id stream: graft_bpe_ids(corpusB, trainCorpusA
      // [, k]) — train k merges on A (capped-census driver trainer),
      // induce A's vocabulary, tokenize B, and map out-of-vocabulary
      // tokens (characters outside A's alphabet) to the explicit UNK id
      // = |vocab|. The one-table spelling (tableFunctions) trains on its
      // own input, where every token is in-vocab by construction; this
      // one is the deployment shape — a FROZEN tokenizer meeting new
      // data keeps the stream total instead of silently dropping tokens.
      "graft_bpe_ids" -> ((corpus, trainCorpus, a) => {
        val k = a.headOption.map(_.toInt).getOrElse(8)
        val tok = TextAnalysis.bpeTrainTokenizer(trainCorpus, k)
        TextAnalysis.bpeTokenIdsAgainst(corpus, trainCorpus, tok.merges, tok.alphabet)
      }),
      // the packed tape under a FROZEN tokenizer:
      // graft_pack_ids(corpusB, trainCorpusA[, budget[, merges]]) —
      // ids (and UNK = |vocab|) from A, tape layout from B's own counts
      "graft_pack_ids" -> ((corpus, trainCorpus, a) => {
        val budget = a.headOption.map(_.toInt).getOrElse(128)
        val k = a.lift(1).map(_.toInt).getOrElse(8)
        val tok = TextAnalysis.bpeTrainTokenizer(trainCorpus, k)
        graft.operators.Packing.packTokenIdsAgainst(corpus, trainCorpus,
          tok.merges, budget, tok.alphabet)
      }))
  }

  /** Operators whose tuning parameters are STRINGS, entered as trailing
    * quoted literals: `fn(table, 'str'[, 'str' ...][, num ...])`. The
    * tokenizer unescapes `''` per PG rules, so patterns containing
    * quotes arrive as plain data. */
  private val stringTableFunctions: Map[String, (DataFrame, Seq[String], Seq[Double]) => DataFrame] =
    Map(
      "graft_redact" -> ((t, ss, _) =>
        graft.operators.TextAnalysis.redact(t, ss.head, ss.lift(1).getOrElse("[redacted]"))),
      // winnowed near-dup pairs with an explicit gram hash: 'sha2'
      // (oracle-replayable) or 'xxhash64' (the 100 TB default); numeric
      // args as in the plain spelling (k, w, minShared, dfCap)
      "graft_winnow_pairs" -> ((t, ss, a) =>
        graft.operators.Dedup.winnowedPairs(t,
          a.headOption.map(_.toInt).getOrElse(4),
          a.lift(1).map(_.toInt).getOrElse(4),
          a.lift(2).map(_.toInt).getOrElse(2),
          a.lift(3).map(_.toInt).getOrElse(64),
          ss.headOption.getOrElse("sha2"))),
      // custom battery as ('name', 'regex') pairs; no strings → the
      // default-battery entry in tableFunctions handles the call
      "graft_pattern_audit" -> ((t, ss, _) => {
        require(ss.nonEmpty && ss.length % 2 == 0,
          "graft_pattern_audit takes ('name', 'regex') string pairs")
        graft.operators.TextAnalysis.patternAudit(t,
          ss.grouped(2).map(p => p(0) -> p(1)).toSeq)
      }),
      // z-order layout needs COLUMN NAMES (id, dim a, dim b) — the one
      // operator whose tuning is identifiers, not values
      "graft_zorder" -> ((t, ss, a) => {
        require(ss.length == 3,
          "graft_zorder(t, 'id', 'a', 'b'[, rowsPerFile[, buckets]])")
        graft.operators.Packing.zorderFiles(t, ss(0), ss(1), ss(2),
          a.headOption.map(_.toLong).getOrElse(1024L),
          a.lift(1).map(_.toInt).getOrElse(1024))
      }))

  /** Registered-relation ESCAPE HATCH: operators whose input needs an
    * embedding ARRAY column, which managed tables (restricted to the
    * reference's 8 scalar types — descriptor parity) can never host.
    * `fn('view_name'[, num ...])` resolves a SESSION TEMP VIEW by name,
    * so a user registers an embedding-typed DataFrame once and reaches
    * SemDeDup / k-means from pure SQL with the exact semantics of the
    * DataFrame API. Seed/quantizer setup mirrors the s06/d10 bindings
    * (deterministic, bounded k-row driver collect). */
  private val viewFunctions: Map[String, (DataFrame, Seq[Double]) => DataFrame] = {
    import graft.operators.{Dedup, Similarity}
    Map(
      "graft_semdedup" -> ((rel, a) => {
        val tau = a.headOption.getOrElse(0.8)
        val cells = a.lift(1).map(_.toInt).getOrElse(16)
        Dedup.semDedup(
          Similarity.assignCells(rel, Similarity.trainQuantizer(rel, cells)), tau)
      }),
      "graft_kmeans" -> ((rel, a) => {
        val k = a.headOption.map(_.toInt).getOrElse(8)
        val iters = a.lift(1).map(_.toInt).getOrElse(2)
        val seeds = rel.orderBy(col("vec_id")).limit(k)
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        Similarity.lloydAssign(rel, seeds, iters)
      }),
      // the s10/m06 gate quantizer from SQL: sha-fold seeded cells
      // (deterministic, oracle-replayable — see Similarity.seededCells)
      "graft_seeded_cells" -> ((rel, a) =>
        Similarity.seededCells(rel, a.headOption.map(_.toInt).getOrElse(0))),
      // seeded SemDeDup: the fully deterministic keep/drop spelling
      "graft_semdedup_seeded" -> ((rel, a) => {
        val tau = a.headOption.getOrElse(0.8)
        val cells = a.lift(1).map(_.toInt).getOrElse(0)
        Dedup.semDedup(Similarity.seededCells(rel, cells), tau)
      }))
  }

  /** TWO-view escape hatch — embedding-typed operators that need a second
    * relation: `graft_embed_admit('inc_view', 'hist_view'[, tau[, k]])`
    * admits the increment view against the history view's cell index.
    * Centroids derive from the first k history vectors (bounded k·dim
    * collect, the s06/s09 convention), so the call is deterministic. */
  private val viewPairFunctions: Map[String, (DataFrame, DataFrame, Seq[Double]) => DataFrame] =
    Map(
      // k-NN label propagation: both views are (vec_id, embedding[, label])
      // — the labeled side needs `label`, the query side is renamed here
      "graft_knn_label" -> ((labeled, queries, a) =>
        graft.operators.Similarity.knnLabel(labeled,
          queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          a.headOption.map(_.toInt).getOrElse(5))),
      // product-quantization ANN: both views are (vec_id, embedding);
      // the quantizer trains on the base view (bounded deterministic
      // sample), codes scan narrow, ADC tables broadcast with the
      // queries. args: (k, m, k_per_subspace, excludeSelf) —
      // excludeSelf defaults 1 (the corpus-ANN convention: vec_id =
      // query_id is a self-pair); pass 0 when the two views use
      // INDEPENDENT id spaces, or an id-sharing true neighbor is
      // silently dropped
      "graft_pq_topk" -> ((pqBase, pqQueries, a) => {
        import graft.operators.Similarity
        Similarity.pqTopK(pqBase,
          pqQueries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          Similarity.pqTrain(pqBase,
            a.lift(1).map(_.toInt).getOrElse(16), a.lift(2).map(_.toInt).getOrElse(64)),
          a.headOption.map(_.toInt).getOrElse(10),
          excludeSelf = a.lift(3).forall(_ != 0.0))
      }),
      // two-stage PQ: ADC shortlist -> exact cosine re-rank of the
      // shortlist only. args: (k, shortlist, m, k_per_subspace,
      // excludeSelf) — see graft_pq_topk for the excludeSelf contract
      "graft_pq_rerank" -> ((pqBase, pqQueries, a) => {
        import graft.operators.Similarity
        Similarity.pqTopKReranked(pqBase,
          pqQueries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          Similarity.pqTrain(pqBase,
            a.lift(2).map(_.toInt).getOrElse(16), a.lift(3).map(_.toInt).getOrElse(64)),
          a.headOption.map(_.toInt).getOrElse(10),
          a.lift(1).map(_.toInt).getOrElse(0),
          excludeSelf = a.lift(4).forall(_ != 0.0))
      }),
      // IVF-ADC: coarse cells + PQ over residuals, probed per query.
      // args: (k, nprobe, cells, m, k_per_subspace, excludeSelf) — see
      // graft_pq_topk for the excludeSelf contract
      "graft_ivfpq_topk" -> ((pqBase, pqQueries, a) => {
        import graft.operators.Similarity
        val (km, pq) = Similarity.ivfPqTrain(pqBase,
          a.lift(2).map(_.toInt).getOrElse(16),
          a.lift(3).map(_.toInt).getOrElse(16),
          a.lift(4).map(_.toInt).getOrElse(64))
        Similarity.ivfPqTopK(pqBase,
          pqQueries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          km, pq,
          a.headOption.map(_.toInt).getOrElse(10),
          a.lift(1).map(_.toInt).getOrElse(4),
          excludeSelf = a.lift(5).forall(_ != 0.0))
      }),
      "graft_embed_admit" -> ((inc, hist, a) => {
        val tau = a.headOption.getOrElse(0.9)
        val k = a.lift(1).map(_.toInt).getOrElse(8)
        val seeds = hist.orderBy(col("vec_id")).limit(k)
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        graft.operators.Similarity.incrementalEmbedAdmit(
          inc, graft.operators.Similarity.cellIndex(hist, seeds), seeds, tau)
      }))

  /** PERSISTED-ARTIFACT deployment spellings: both leading args are
    * STRING literals — one names a session temp view (the embedding-typed
    * escape hatch, viewFunctions' convention), the other a filesystem
    * path holding the index artifact set. These close the deployment gap
    * the view-pair ANN TVFs leave open (those retrain in-call):
    * `graft_ivfpq_build` trains + encodes + persists ONCE, and every
    * later `graft_ivfpq_query` — any session, any statement — answers
    * from the stored codes/centroid/PQ artifacts with no training and no
    * base-corpus access. */
  private val stringPairFunctions: Map[String, (String, String, Seq[Double]) => DataFrame] =
    Map(
      // graft_ivfpq_build('base_view', 'path'[, cells[, m[, k_per_subspace]]])
      // -> one-row build report (n_vectors, cells, m, k_per_subspace);
      // the artifact write is EAGER (an index build is a statement-level
      // side effect, like INSERT)
      "graft_ivfpq_build" -> ((viewName, path, a) =>
        graft.operators.Similarity.writeIvfPqIndex(spark.table(viewName), path,
          a.headOption.map(_.toInt).getOrElse(16),
          a.lift(1).map(_.toInt).getOrElse(16),
          a.lift(2).map(_.toInt).getOrElse(64))),
      // graft_ivfpq_query('path', 'queries_view'[, k[, nprobe[, excludeSelf]]])
      // -> (query_id, vec_id, dist, rank); probed cells become a STATIC
      // partition filter on the codes scan (plan-locked). excludeSelf
      // defaults 1 — the corpus-ANN convention (see graft_pq_topk)
      "graft_ivfpq_query" -> ((path, queriesView, a) =>
        graft.operators.Similarity.ivfPqQueryIndex(
          spark.table(queriesView)
            .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          path,
          a.headOption.map(_.toInt).getOrElse(10),
          a.lift(1).map(_.toInt).getOrElse(4),
          excludeSelf = a.lift(2).forall(_ != 0.0))),
      // graft_ivfpq_append('increment_view', 'path') -> (n_appended,
      // n_total): index MAINTENANCE — encode the increment with the
      // STORED centroids/PQ (no retraining) and append to the
      // cell-partitioned code files; admission composes upstream
      // (graft_embed_admit)
      "graft_ivfpq_append" -> ((viewName, path, _) =>
        graft.operators.Similarity.appendIvfPqIndex(spark.table(viewName), path)),
      // the admission family's artifact flow (the view-pair
      // graft_embed_admit rebuilds the cell index from the history view
      // per call — these persist it once):
      // graft_embed_build('hist_view', 'path'[, k]) -> (n_vectors, cells)
      "graft_embed_build" -> ((viewName, path, a) =>
        graft.operators.Similarity.writeEmbedIndex(spark.table(viewName), path,
          a.headOption.map(_.toInt).getOrElse(8))),
      // graft_embed_admit_index('path', 'inc_view'[, tau]) — probes only
      // the increment's cells' files, never the history corpus
      "graft_embed_admit_index" -> ((path, incView, a) =>
        graft.operators.Similarity.embedAdmitFromIndex(spark.table(incView), path,
          a.headOption.getOrElse(0.9))),
      // graft_embed_admit_append('path', 'inc_view'[, tau]) — the full
      // ingest loop: admit AND write the admitted vectors back into the
      // stored cell index, so the next batch's clones of these
      // admissions reject with no rebuild (single-writer maintenance,
      // the graft_ivfpq_append posture)
      "graft_embed_admit_append" -> ((path, incView, a) =>
        graft.operators.Similarity.embedAdmitAppend(spark.table(incView), path,
          a.headOption.getOrElse(0.9))))

  /** Single-PATH maintenance functions — the one string literal is a
    * filesystem path to a persisted artifact set, not a relation:
    * `graft_embed_compact('path')` compacts the admission index's
    * `cells/` to one file per cell (each admit-append batch lands one
    * file per touched cell; probes and reports pay footer enumeration
    * linear in the append count — the AppendScale 100×-files leg).
    * Compaction is SELECTIVE (r17): only fragmented cells are
    * rewritten, single-file cells byte-carry into the new generation,
    * and an unfragmented index no-ops — steady-cadence maintenance
    * cost follows the fragmented-cell volume, not the corpus. One
    * prior generation is retained: maintenance cadence must exceed
    * query lifetime (compactCellDir's retention contract). */
  private val pathFunctions: Map[String, (String, Seq[Double]) => DataFrame] =
    Map(
      "graft_embed_compact" -> ((path, _) =>
        graft.operators.Similarity.compactEmbedIndex(spark, path)),
      // the codes-side twin: graft_ivfpq_append fragments codes/ the
      // same one-file-per-append-per-cell way
      "graft_ivfpq_compact" -> ((path, _) =>
        graft.operators.Similarity.compactIvfPqIndex(spark, path)),
      // stale-lock recovery: a crashed maintainer's stamped `_lock` is
      // removed by an EXPLICIT operator decision — returns (unlocked,
      // holder) so the takeover is audited, never a silent timeout
      "graft_maintenance_unlock" -> ((path, _) =>
        graft.operators.Similarity.maintenanceUnlock(spark, path)))

  /** Table functions over the table IDENTITY rather than its current
    * snapshot — the time-travel reads: `graft_at_version(t, v)` is the
    * table as of snapshot v; `graft_at_time(t, millis)` resolves the
    * newest version published ≤ millis (the reference's MVCC read rule,
    * src/tablet/memory.rs:73-81). */
  private val snapshotFunctions: Map[String, ((String, String, String), Seq[Double]) => DataFrame] =
    Map(
      "graft_at_version" -> { case ((db, schema, table), a) =>
        readTableAt(db, schema, table,
          a.headOption.map(_.toLong).getOrElse(catalog.currentVersion(db, schema, table)))
      },
      "graft_at_time" -> { case ((db, schema, table), a) =>
        val millis = a.headOption.map(_.toLong).getOrElse(System.currentTimeMillis())
        readTableAt(db, schema, table, catalog.versionAsOf(db, schema, table, millis))
      },
      "graft_changes" -> { case ((db, schema, table), a) =>
        val from = a.headOption.map(_.toLong).getOrElse(0L)
        val to = a.lift(1).map(_.toLong)
          .getOrElse(catalog.currentVersion(db, schema, table))
        readTableChanges(db, schema, table, from, to)
      },
      "graft_versions" -> { case ((db, schema, table), _) =>
        import spark.implicits._
        catalog.versionHistory(db, schema, table)
          .toDF("version", "publish_millis", "n_parts")
      },
      // TABLE maintenance from pure SQL — the managed-table twins of the
      // index TVFs (graft_ivfpq_compact/graft_embed_compact): the side
      // effect runs EAGERLY at statement resolution, the statement-level
      // convention of every maintenance TVF (graft_ivfpq_build's doc).
      // graft_table_compact(t[, target_file_bytes]) merges the one-file-
      // per-INSERT parts into ~target-size files (PK-clustered when a
      // primary key exists — see compactTable) and publishes one new
      // version; returns (files_before, files_after).
      "graft_table_compact" -> { case ((db, schema, table), a) =>
        import spark.implicits._
        val (before, after) = compactTable(db, schema, table,
          a.headOption.map(_.toLong).getOrElse(128L << 20))
        Seq((before, after)).toDF("files_before", "files_after")
      },
      // graft_table_vacuum(t[, retention_ms]) reclaims parts superseded
      // longer than the retention window (default keeps in-flight
      // readers safe; 0 forces immediate reclamation) — returns the
      // reclaimed-file count. Expired snapshots then fail LOUDLY as
      // vacuumed (never silently empty).
      "graft_table_vacuum" -> { case ((db, schema, table), a) =>
        import spark.implicits._
        val n = vacuumTable(db, schema, table,
          a.headOption.map(_.toLong).getOrElse(SqlEngine.defaultVacuumRetentionMs))
        Seq(n).toDF("reclaimed")
      })

  /** One referenced table resolved to the temp view that hosts it. */
  private[engine] final case class TableRef(db: String, schema: String, table: String,
      view: String, tvf: Boolean = false)

  /** View name hosting a cross-database reference (`db.schema.t` with
    * `db != ctx.database`). Part LENGTHS are encoded so the name is
    * injective — identifiers may contain '_', and a plain underscore join
    * would let two distinct (db, schema, table) triples collide on one
    * view and silently serve each other's data. */
  private def xdbView(db: String, schema: String, table: String): String =
    s"graft_xdb_${db.length}_${schema.length}_${db}_${schema}_$table"

  /** Resolves the statement's table references — the reference collects
    * them from the AST (`visit_relations`, src/sql/traits.rs:68-78) and
    * fetches descriptors for JUST those (src/sql/mod.rs:60-75); we walk the
    * token stream. PG queries may qualify tables (`public.t`,
    * `db.public.t`); Spark temp views are single-part, so dotted runs that
    * resolve in OUR catalog (or to `information_schema.*`) collapse to
    * their hosting view name — same-database names to the bare table,
    * cross-database names to a db-prefixed view — and anything that
    * doesn't resolve (e.g. alias.column) passes through. Bare identifiers
    * that name a table of the connected database are collected for
    * registration (last sorted schema wins, matching the previous
    * register-all ordering). Returns (rewritten SQL, referenced tables,
    * information_schema referenced?). */
  private[engine] def resolveTables(
      sql: String, probeKeywords: Boolean = false): (String, Seq[TableRef], Boolean) = {
    val spans = SqlParser.tokenizeWithSpans(sql)
    def word(i: Int): Option[String] = spans.lift(i).map(_.tok).collect { case Word(w) => w }
    def dot(i: Int): Boolean = spans.lift(i).map(_.tok).contains(Sym("."))
    val refs = scala.collection.mutable.LinkedHashMap.empty[String, TableRef]
    var infoSchema = false
    lazy val schemas: Seq[String] =
      if (catalog.databaseExists(ctx.database)) catalog.listSchemas(ctx.database) else Seq.empty
    def addRef(db: String, schema: String, table: String, view: String): Unit =
      refs.getOrElseUpdate(view, TableRef(db, schema, table, view))
    // per-statement memo: repeated identifiers cost one catalog probe
    val hostingSchema = scala.collection.mutable.HashMap.empty[String, Option[String]]
    def hostOf(name: String): Option[String] =
      hostingSchema.getOrElseUpdate(name, {
        // last sorted schema wins, matching the previous register-all order
        val hosting = schemas.filter(s => catalog.tableExists(ctx.database, s, name))
        if (hosting.isEmpty) None else Some(hosting.max)
      })
    // `fn(input[, input][, 'str' ...][, num ...])` at position i
    // (spans(i)=fn, spans(i+1)="(") becomes a temp view holding the
    // operator plan; returns (view, splice end, next token index). An
    // INPUT is a dotted table chain resolved against the snapshot, or —
    // one level of composition, recursing through this same splice — a
    // nested TVF call (`graft_dedup_exact(graft_heuristic_filter(t))`),
    // except for snapshot functions, whose semantics bind to the table
    // IDENTITY and need a real table. View functions instead take a
    // quoted SESSION TEMP VIEW name (the embedding-typed escape hatch).
    // A shape mismatch returns None and the call passes through to
    // Spark, which reports the unresolved function — never a silent
    // rewrite.
    def spliceTableFunction(i: Int, fn: String): Option[(String, Int, Int)] = {
      def strTok(ix: Int): Option[String] =
        spans.lift(ix).map(_.tok).collect { case Str(s) => s }
      def isTvf(w: String): Boolean =
        tableFunctions.contains(w) || stringTableFunctions.contains(w) ||
          snapshotFunctions.contains(w) || twoTableFunctions.contains(w) ||
          viewFunctions.contains(w) || viewPairFunctions.contains(w) ||
          stringPairFunctions.contains(w) || pathFunctions.contains(w)
      var j = i + 2
      // Tbl = dotted chain; Nested = inner TVF's result view; ViewName =
      // user temp view named by a string literal (viewFunctions only)
      sealed trait In
      final case class Tbl(parts: Vector[String]) extends In
      final case class Nested(view: String) extends In
      final case class ViewName(name: String) extends In
      def parseInput(): Option[In] = word(j) match {
        case Some(w) if isTvf(w) && spans.lift(j + 1).exists(_.tok == Sym("(")) =>
          if (snapshotFunctions.contains(fn)) None
          else spliceTableFunction(j, w).map { case (v, _, nextI) => j = nextI; Nested(v) }
        case Some(w) =>
          val parts = Vector.newBuilder[String]
          parts += w; j += 1
          while (dot(j) && word(j + 1).isDefined) { parts += word(j + 1).get; j += 2 }
          Some(Tbl(parts.result()))
        case None => None
      }
      val first: In =
        if (viewFunctions.contains(fn) || viewPairFunctions.contains(fn) ||
          stringPairFunctions.contains(fn) || pathFunctions.contains(fn)) strTok(j) match {
          case Some(v) => j += 1; ViewName(v)
          case None => return None
        } else parseInput() match {
          case Some(in) => in
          case None => return None
        }
      // two-relation functions take a second input before any literal args.
      // A name in BOTH maps (graft_bpe_encode: train-then-encode vs
      // apply-a-learned-table) dispatches on the second argument's SHAPE —
      // a relation selects the two-table form, a numeric literal falls
      // back to the one-table form's trailing args.
      var second: Option[In] = None
      if (twoTableFunctions.contains(fn)) {
        if (spans.lift(j).exists(_.tok == Sym(","))) {
          val beforeSecond = j
          j += 1
          second = parseInput()
          if (second.isEmpty) {
            if (!tableFunctions.contains(fn)) return None
            j = beforeSecond
          }
        } else if (!tableFunctions.contains(fn)) return None
      } else if (viewPairFunctions.contains(fn) || stringPairFunctions.contains(fn)) {
        if (spans.lift(j).exists(_.tok == Sym(",")) && strTok(j + 1).isDefined) {
          second = Some(ViewName(strTok(j + 1).get)); j += 2
        } else return None
      }
      val args = Vector.newBuilder[Double]
      val strArgs = Vector.newBuilder[String]
      var bad = false
      while (!bad && spans.lift(j).exists(_.tok == Sym(","))) {
        spans.lift(j + 1).map(_.tok) match {
          case Some(Num(v)) => args += v.toDouble; j += 2
          case Some(Str(s)) => strArgs += s; j += 2
          case _ => bad = true
        }
      }
      if (bad || !spans.lift(j).exists(_.tok == Sym(")"))) return None
      val as = args.result()
      val ss = strArgs.result()
      // string args belong ONLY to functions declared to take them; a
      // name in BOTH maps dispatches on whether strings were given
      // (graft_pattern_audit: default battery vs custom pairs); a
      // string-only function with no strings has no default to fall to
      // (there is no default redaction pattern)
      if (stringTableFunctions.contains(fn)) {
        if (ss.isEmpty && !tableFunctions.contains(fn)) return None
      } else if (ss.nonEmpty) return None
      def locate(p: Vector[String]): (String, String, String) = p match {
        case Seq(t) => (ctx.database, hostOf(t).getOrElse("public"), t)
        case p => resolve(p)
      }
      // injective name: EVERY variable-length part is length-prefixed
      // (identifiers may contain '_' and digits, so un-prefixed parts make
      // distinct (table1, table2) pairs collide on one view name — and the
      // second createOrReplaceTempView would silently serve the wrong rows)
      def enc(p: (String, String, String)): String =
        s"${p._1.length}_${p._2.length}_${p._3.length}_${p._1}_${p._2}_${p._3}"
      // args encode by VALUE (IEEE-754 bit pattern in hex, count-prefixed;
      // strings by SHA-256 of their UTF-8 bytes — fixed-length, identifier-
      // safe, collisions negligible): a 32-bit hashCode over an unbounded
      // arg space has collisions, and a collision here silently serves one
      // call's rows to the other
      def encStr(s: String): String =
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"$b%02x").mkString
      def encIn(in: In): String = in match {
        case Tbl(p) => enc(locate(p))
        case Nested(v) => s"n${v.length}_$v"
        case ViewName(v) if v.matches("[A-Za-z0-9_]+") => s"v${v.length}_$v"
        // stringPairFunctions take filesystem PATHS — '/', '.', '-' would
        // otherwise land in the generated temp-view name and break it
        case ViewName(v) => s"h${encStr(v)}"
      }
      def relOf(in: In): DataFrame = in match {
        case Tbl(p) => val (d, s2, t) = locate(p); readTable(d, s2, t)
        // user view / inner TVF view: resolved eagerly here, while it is
        // guaranteed registered (the statement-scoped drop runs later)
        case Nested(v) => spark.table(v)
        case ViewName(v) => spark.table(v)
      }
      val view = s"graft_tvf_${fn}_${encIn(first)}_" +
        second.map(p => s"${encIn(p)}_").getOrElse("") +
        s"a${as.length}_" +
        as.map(v => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(v)))
          .mkString("_") +
        (if (ss.isEmpty) "" else s"_s${ss.length}_" + ss.map(encStr).mkString("_"))
      val result = (first, second) match {
        // raw strings, NOT resolved as relations — the function body
        // interprets which is the view and which the artifact path
        case (ViewName(a1), Some(ViewName(a2))) if stringPairFunctions.contains(fn) =>
          stringPairFunctions(fn)(a1, a2, as)
        case (_, Some(s2)) if viewPairFunctions.contains(fn) =>
          viewPairFunctions(fn)(relOf(first), relOf(s2), as)
        case (_, Some(s2)) => twoTableFunctions(fn)(relOf(first), relOf(s2), as)
        case (Tbl(p), None) if snapshotFunctions.contains(fn) =>
          snapshotFunctions(fn)(locate(p), as)
        case (ViewName(a1), None) if pathFunctions.contains(fn) =>
          pathFunctions(fn)(a1, as)
        case (ViewName(_), None) => viewFunctions(fn)(relOf(first), as)
        case (in, None) if stringTableFunctions.contains(fn) && ss.nonEmpty =>
          stringTableFunctions(fn)(relOf(in), ss, as)
        case (in, None) => tableFunctions(fn)(relOf(in), as)
      }
      result.createOrReplaceTempView(view)
      refs.getOrElseUpdate(view, first match {
        case Tbl(p) =>
          val (d, s2, t) = locate(p)
          TableRef(d, s2, t, view, tvf = true)
        // nested/view inputs have no backing managed table; the ref only
        // drives the statement-scoped view drop
        case _ => TableRef(ctx.database, "public", view, view, tvf = true)
      })
      Some((view, spans(j).end, j + 1))
    }
    val out = new StringBuilder
    var copied = 0
    var i = 0
    while (i < spans.length) {
      // a word preceded by '.' is the TAIL of a longer dotted chain (e.g.
      // `spark_catalog.db.schema.t`): never rewrite mid-chain — mangling
      // `b.c` out of `a.b.c.d` corrupts the outer reference
      val prevIsDot = i > 0 && spans(i - 1).tok == Sym(".")
      (word(i), dot(i + 1), word(i + 2)) match {
        case (Some(a), true, Some(b)) if !prevIsDot =>
          val threePart = dot(i + 3) && word(i + 4).isDefined
          lazy val c = word(i + 4).get
          val resolved: Option[(String, Int)] =
            if (threePart && a == ctx.database && b == "information_schema" &&
              infoSchemaTables(c)) {
              infoSchema = true
              Some(("graft_information_schema_" + c, spans(i + 4).end))
            } else if (a == "information_schema" && infoSchemaTables(b)) {
              infoSchema = true
              Some(("graft_information_schema_" + b, spans(i + 2).end))
            } else if (threePart && catalog.databaseExists(a) && catalog.tableExists(a, b, c)) {
              val view = if (a == ctx.database) c else xdbView(a, b, c)
              addRef(a, b, c, view)
              Some((view, spans(i + 4).end))
            } else if (catalog.databaseExists(ctx.database) && catalog.tableExists(ctx.database, a, b)) {
              addRef(ctx.database, a, b, b)
              Some((b, spans(i + 2).end))
            } else None
          resolved match {
            case Some((view, endPos)) =>
              out.append(sql.substring(copied, spans(i).start)).append(view)
              copied = endPos
              i += (if (threePart && endPos == spans(i + 4).end) 5 else 3)
            case None => i += 1
          }
        case (Some(a), _, _) =>
          // bare identifier: a table reference candidate unless it sits in
          // a qualified position (x.a — skipped via prevIsDot), is a
          // function call, or is a plain SQL keyword. A call whose name is
          // an LLM-operator table function rewrites to its result view.
          val nextParen = spans.lift(i + 1).exists(_.tok == Sym("("))
          val tvf =
            if (!prevIsDot && nextParen &&
              (tableFunctions.contains(a) || snapshotFunctions.contains(a) ||
                twoTableFunctions.contains(a) || stringTableFunctions.contains(a) ||
                viewFunctions.contains(a) || viewPairFunctions.contains(a) ||
                stringPairFunctions.contains(a) || pathFunctions.contains(a)))
              spliceTableFunction(i, a)
            else None
          tvf match {
            case Some((view, endPos, nextI)) =>
              out.append(sql.substring(copied, spans(i).start)).append(view)
              copied = endPos
              i = nextI
            case None =>
              if (!prevIsDot && !nextParen && (probeKeywords || !SqlEngine.sqlKeywords(a)))
                hostOf(a).foreach(schema => addRef(ctx.database, schema, a, a))
              i += 1
          }
        case _ => i += 1
      }
    }
    out.append(sql.substring(copied))
    (out.toString, refs.values.toSeq, infoSchema)
  }

  // ---------- maintenance ----------

  /** Compacts a table's accumulated small parquet parts (one per INSERT
    * statement) into ≈128 MB files — the small-files maintenance every
    * parquet store needs at scale, and the analogue of the reference's
    * memtable→file compaction (src/tablet/service.rs:242-294). Runs under
    * the table write lock, so it serializes with INSERTs; the publish is
    * an atomic manifest replace — readers that planned against the old
    * manifest keep their snapshot (old parts stay on disk until
    * [[vacuumTable]]). Row content, schema, and serial counters are
    * untouched. Returns (filesBefore, filesAfter).
    *
    * Tables with a PRIMARY KEY are CLUSTERED on it while compacting
    * (range-partition + sort within parts): the reference's tables are
    * key-ordered by construction (tablet files hold sorted key ranges, so
    * its compaction preserves key order for free), and the parquet
    * equivalent is disjoint per-file key ranges with ordered row groups —
    * point/range predicates on the key then prune at row-group level via
    * parquet min/max stats, the 100 TB analogue of the reference's
    * primary-index seek. Costs one range shuffle instead of coalesce's
    * shuffle-free merge; key-less tables keep the coalesce path. */
  def compactTable(db: String, schema: String, table: String, targetFileBytes: Long = 128L << 20): (Int, Int) =
    catalog.withTableWriteLock(db, schema, table) {
      val (nFiles, bytes) = catalog.dataFileStats(db, schema, table)
      val target = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      if (nFiles <= 1 || target >= nFiles) (nFiles, nFiles)
      else {
      val staging = catalog.newStagingDir(db, schema, table)
      try {
        val desc = catalog.getTable(db, schema, table)
        val data = readTable(db, schema, table)
        val pk: Seq[org.apache.spark.sql.Column] = desc.indices.find(_.isPrimary)
          .map(_.columnIds.map(id => col(desc.column(id).name))).getOrElse(Seq.empty)
        // merging down needs no shuffle, nor does clustering into ONE file:
        // a single sorted partition is already the range-partitioned form
        val compacted =
          if (pk.isEmpty) data.coalesce(target)
          else if (target == 1) data.coalesce(1).sortWithinPartitions(pk: _*)
          else data.repartitionByRange(target, pk: _*).sortWithinPartitions(pk: _*)
        compacted.write.mode("overwrite").parquet(staging.toString)
        catalog.replaceData(db, schema, table, staging)
        (nFiles, catalog.dataFileStats(db, schema, table)._1)
      } catch {
        case e: Throwable =>
          try catalog.discardStaged(staging) catch { case _: Throwable => }
          throw e
      }
      }
    }

  /** Reclaims parts superseded by compaction once they have been dead for
    * `retentionMs`. The default grace window keeps a part on disk long
    * enough for queries planned against the pre-compaction manifest to
    * drain — compact-then-vacuum in quick succession cannot break an
    * in-flight reader. Pass 0 to force immediate reclamation (tests,
    * decommissioning). */
  def vacuumTable(db: String, schema: String, table: String,
      retentionMs: Long = SqlEngine.defaultVacuumRetentionMs): Int =
    catalog.withTableWriteLock(db, schema, table) {
      catalog.vacuum(db, schema, table, retentionMs)
    }

  // ---------- session functions (reference A7) ----------
  // current_catalog / current_database / current_schema / current_user /
  // current_role / inet_client_port, values bound to the connection context
  // (reference: src/sql/postgresql/functions/mod.rs:31-193). Spark's parser
  // special-cases some of these names, so the engine rewrites them to
  // graft_-prefixed session UDFs and re-aliases to the PG column name.

  private def registerSessionFunctions(): Unit = {
    val db = ctx.database
    val user = ctx.user
    val port = ctx.port
    spark.udf.register("graft_current_catalog", () => db)
    spark.udf.register("graft_current_database", () => db)
    spark.udf.register("graft_current_schema", () => "public")
    spark.udf.register("graft_current_user", () => user)
    spark.udf.register("graft_inet_client_port", () => port)
  }

  private val sessionFns: Map[String, String] = Map(
    "current_catalog" -> "graft_current_catalog",
    "current_database" -> "graft_current_database",
    "current_schema" -> "graft_current_schema",
    "current_user" -> "graft_current_user",
    "current_role" -> "graft_current_user",
    "session_user" -> "graft_current_user",
    // bare `user` aliases current_user (reference:
    // src/sql/postgresql/functions/mod.rs:125)
    "user" -> "graft_current_user",
    "inet_client_port" -> "graft_inet_client_port")

  /** Splices replacements into the ORIGINAL text — string escapes,
    * comments, and whitespace pass through untouched. Session-function
    * tokens are replaced at ANY expression depth (Spark has same-named
    * builtins bound to the OS/Spark user, so missing one here silently
    * returns a WRONG value, not an error); tokens preceded by `AS` or `.`
    * are alias/qualified positions, not function references, and pass
    * through. The PG-visible column alias is added only at depth 0 in a
    * bare select-list position. */
  private[engine] def rewriteSessionFunctions(sql: String): String = {
    val spans = SqlParser.tokenizeWithSpans(sql)
    val out = new StringBuilder
    var copied = 0
    var depth = 0
    var i = 0
    while (i < spans.length) {
      val prev = if (i == 0) None else Some(spans(i - 1).tok)
      spans(i).tok match {
        case Word(w) if sessionFns.contains(w) &&
          !prev.contains(Word("as")) && !prev.contains(Sym(".")) =>
          out.append(sql.substring(copied, spans(i).start))
          // swallow optional ()
          var j = i + 1
          var endPos = spans(i).end
          if (spans.lift(j).map(_.tok).contains(Sym("(")) &&
            spans.lift(j + 1).map(_.tok).contains(Sym(")"))) {
            endPos = spans(j + 1).end
            j += 2
          }
          // alias to the PG-visible name when in a bare select-list position
          val aliased = depth == 0 && (spans.lift(j).map(_.tok) match {
            case None | Some(Sym(",")) | Some(Word("from")) => true
            case _ => false
          })
          out.append(sessionFns(w)).append("()")
          if (aliased) out.append(" as `").append(w).append("`")
          copied = endPos
          i = j
        case Sym("(") => depth += 1; i += 1
        case Sym(")") => depth = math.max(0, depth - 1); i += 1
        case _ => i += 1
      }
    }
    out.append(sql.substring(copied))
    out.toString
  }

  // ---------- insert path ----------
  // Parity with InsertExec + prefill (reference: src/sql/plan/insert.rs:55-247,
  // src/sql/client.rs:247-313): validate target columns, fill NULLs for
  // missing nullable columns, assign serial values from the table counter,
  // enforce unique indexes, append atomically, return a 1-row `count`.
  //
  // Where the checks run follows the shape of the optimized candidate
  // (`source.select(preCols)`); no option picks it:
  //  - a LocalRelation — VALUES, and Project/Filter/Limit over it, which
  //    Spark folds — already holds its rows on the driver. Counting, the
  //    NOT NULL and narrowing checks and in-batch uniqueness run there with
  //    no job, and the rows are written as one part: 1 job. A UNIQUE index
  //    not covered by fresh serials adds, on a non-empty table, one
  //    filtered scan for the candidate keys: 2 jobs.
  //  - any other plan (INSERT … SELECT over tables) stays distributed: a
  //    persisted candidate, one fused count/NOT NULL pass, a groupBy and a
  //    semi-join per UNIQUE index, and a parallel write.
  // Both share the serial reservation, the error order, and the locked
  // check/stage/commit/auto-compaction window ([[publish]]).

  private def insert(ins: Insert): DataFrame = {
    val (db, schema, table) = resolve(ins.table)
    val desc = catalog.getTable(db, schema, table)

    // source: VALUES/SELECT planned by Spark SQL through the SAME
    // resolve-register-run path as queries — non-public schemas,
    // cross-database, information_schema, and keyword-named sources all
    // behave identically here (a VALUES source registers nothing).
    val source = planRelational(ins.restSql, identity)

    val provided: Seq[String] = ins.columns.getOrElse(desc.columns.map(_.name))
    if (provided.distinct.length != provided.length)
      throw SqlError.invalid(s"duplicate target columns in INSERT into $table")
    provided.foreach { c =>
      if (desc.findColumn(c).isEmpty) throw SqlError.invalid(s"table $table has no column $c")
    }
    if (source.columns.length != provided.length)
      throw SqlError.invalid(
        s"INSERT into $table has ${source.columns.length} expressions but ${provided.length} target columns")

    // type validation (reference validate_column: src/sql/client.rs:247-264)
    val byTarget: Map[String, (String, DataType)] =
      provided.zip(source.schema.fields).map { case (tgt, f) => tgt -> (f.name, f.dataType) }.toMap
    byTarget.foreach { case (tgt, (_, srcType)) =>
      val col = desc.findColumn(tgt).get
      if (!typeCompatible(srcType, col.typeKind))
        throw SqlError.mismatchColumnType(table, col.name, col.typeKind.name, srcType.simpleString)
    }

    // integral narrowing guard: a wider source must round-trip through the
    // target type value-for-value — out-of-range values raise (the
    // reference's MismatchColumnType) instead of wrapping under non-ANSI
    // cast. Only when a narrowing column exists: one aggregate pass, or,
    // over a driver-resident source, a projection Spark folds (no job).
    val narrowing = provided.filter { tgt =>
      val c = desc.findColumn(tgt).get
      val (_, srcType) = byTarget(tgt)
      (intWidth(c.typeKind), intSrcWidth(srcType)) match {
        case (Some(tw), Some(sw)) => sw > tw
        case _ => false
      }
    }
    if (narrowing.nonEmpty) {
      val lossy = narrowing.map { tgt =>
        val c = desc.findColumn(tgt).get
        val (srcName, srcType) = byTarget(tgt)
        val sc = source.col(s"`$srcName`")
        // try_cast: out-of-range becomes NULL (instead of an ANSI cast
        // error mid-check), which then fails the null-safe round-trip
        when(sc.try_cast(c.typeKind.sparkType).cast(srcType) <=> sc, 0L).otherwise(1L)
      }
      val failed: Seq[Boolean] =
        if (isDriverResident(source)) {
          val rows = source.select(lossy: _*).collect()
          lossy.indices.map(i => rows.exists(_.getLong(i) > 0))
        } else {
          val r = source.agg(sum(lossy.head), lossy.tail.map(sum): _*).head()
          lossy.indices.map(i => !r.isNullAt(i) && r.getLong(i) > 0)
        }
      narrowing.zip(failed).find(_._2).foreach { case (tgt, _) =>
        val c = desc.findColumn(tgt).get
        throw SqlError.mismatchColumnType(table, c.name, c.typeKind.name, byTarget(tgt)._2.simpleString)
      }
    }

    val missingSerials = desc.columns.filter(c => c.serial && !provided.contains(c.name))
    // columns present in the candidate before serial assignment, in
    // descriptor order minus missing serials
    val preCols: Seq[org.apache.spark.sql.Column] = desc.columns.flatMap { c =>
      if (provided.contains(c.name)) {
        val (srcName, _) = byTarget(c.name)
        Some(source.col(s"`$srcName`").cast(c.typeKind.sparkType).as(c.name))
      } else if (c.serial) None
      else if (c.nullable) Some(lit(null).cast(c.typeKind.sparkType).as(c.name))
      else throw SqlError.missingColumn(c.name)
    }
    val pre = source.select(preCols: _*)
    val notNullable = desc.columns.filter(c => !c.nullable && provided.contains(c.name))
    val w = InsertWork(db, schema, table, desc, missingSerials, notNullable,
      notNullable.map(c => pre.columns.indexOf(c.name)).toArray)
    // the distributed path persists a FRESH candidate: the shape probe has
    // already optimized `pre`, and a plan optimized before persist() would
    // neither fill nor read the cache
    val n = if (isDriverResident(pre)) insertLocal(w, pre)
      else insertDistributed(w, source.select(preCols: _*))
    toDf(Seq(Row(n)), StructType(Seq(StructField("count", LongType, false))))
  }

  /** What both insert paths need besides the candidate itself. `checkIdx`
    * holds the candidate positions of the NOT NULL columns the statement
    * provides. */
  private final case class InsertWork(db: String, schema: String, table: String,
      desc: TableDescriptor, missingSerials: Seq[ColumnDescriptor],
      notNullable: Seq[ColumnDescriptor], checkIdx: Array[Int]) {
    def freshSerialIds: Set[Int] = missingSerials.map(_.id).toSet
  }

  /** Does the optimized plan hold its rows on the driver? Spark folds
    * VALUES, and Project/Filter/Limit over it, into one LocalRelation;
    * collecting it runs no job. */
  private def isDriverResident(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Serial reservation, shared by both paths: contiguous ids from the
    * table counter (reference increments per row; we reserve the whole
    * range — same observable ids, one counter write), overflow-checked.
    * The counters advance BEFORE the NOT NULL validation can fail — id
    * gaps on failed inserts, same as the reference. Returns each missing
    * serial column's first id. */
  private def reserveSerials(w: InsertWork, n: Long): Map[Int, Long] =
    w.missingSerials.map(c => c.id -> catalog.reserveSerial(w.db, w.schema, w.table, c, n)).toMap

  /** NOT NULL validation on the provided data, from the violation counts
    * of [[SqlEngine.rowStats]]. */
  private def requireNotNull(w: InsertWork, nullCounts: Array[Long]): Unit =
    w.notNullable.zipWithIndex.foreach { case (c, j) =>
      if (nullCounts(j) > 0) throw SqlError.notNullableColumn(w.table, c.name)
    }

  /** The driver-resident path: every check runs over the collected rows,
    * and the only jobs are the write and, when needed, one existing-keys
    * scan. */
  private def insertLocal(w: InsertWork, pre: DataFrame): Long = {
    val rows = pre.collect() // a LocalRelation: no job
    val (n, nullCounts) = SqlEngine.rowStats[Row](rows.iterator, w.checkIdx, _.isNullAt(_))
    val starts = reserveSerials(w, n)
    requireNotNull(w, nullCounts)

    val fields = w.desc.columns.map { c =>
      if (starts.contains(c.id)) StructField(c.name, c.typeKind.sparkType, nullable = false)
      else pre.schema(c.name)
    }
    val srcIdx = w.desc.columns.map(c => if (starts.contains(c.id)) -1 else pre.columns.indexOf(c.name))
    val out: Array[Row] = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(w.desc.columns.zip(srcIdx).map {
        case (c, -1) => SqlEngine.serialValue(c.typeKind, starts(c.id) + i)
        case (_, j) => r.get(j)
      })
    }
    val cand = spark.createDataFrame(out.toSeq.asJava, StructType(fields))

    publish(w, cand.coalesce(1)) {
      if (n > 0) {
        lazy val tableEmpty = catalog.tableIsEmpty(w.db, w.schema, w.table)
        enforceUnique(w,
          inBatchDup = (keys, nullsDistinct) => {
            val idx = keys.map(cand.columns.indexOf(_))
            val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
            out.exists { r =>
              val k = SqlEngine.keyOf(r, idx)
              !(nullsDistinct && k.contains(null)) && !seen.add(k)
            }
          },
          existingConflict = (keys, nullsDistinct) =>
            !tableEmpty && existingKeyHit(w, out, cand.columns, keys, nullsDistinct))
      }
    }
    n
  }

  /** One job: scan the table for the candidate keys — `isin` per column
    * (an equality disjunction for floating columns, where SQL equality
    * folds -0.0/0.0 and NaN but a value set would not) — and match the few
    * rows that come back exactly on the driver. Not `limit(1)`/`isEmpty`:
    * `executeTake` scales up and runs several jobs on a miss, and a miss
    * is the common case. */
  private def existingKeyHit(w: InsertWork, out: Array[Row], columns: Array[String],
      keys: Seq[String], nullsDistinct: Boolean): Boolean = {
    val idx = keys.map(columns.indexOf(_))
    val cands = out.filter(r => !nullsDistinct || idx.forall(!r.isNullAt(_)))
    if (cands.isEmpty) return false
    val existing = readTable(w.db, w.schema, w.table)
    val member = keys.zip(idx).map { case (k, i) =>
      val c = existing(k)
      val values = cands.iterator.map(_.get(i)).filter(_ != null).toSeq.distinct
      val in = w.desc.findColumn(k).get.typeKind match {
        case _ if values.isEmpty => lit(false)
        case ColumnTypeKind.Float32Kind | ColumnTypeKind.Float64Kind =>
          values.map(v => c === lit(v)).reduce(_ || _)
        case _ => c.isin(values: _*)
      }
      if (!nullsDistinct && cands.exists(_.isNullAt(i))) in || c.isNull else in
    }
    val wanted = cands.iterator.map(SqlEngine.keyOf(_, idx)).toSet
    existing.filter(member.reduce(_ && _)).select(keys.map(existing(_)): _*).collect()
      .exists(h => wanted.contains(SqlEngine.keyOf(h, keys.indices)))
  }

  /** The distributed path (INSERT … SELECT over tables). */
  private def insertDistributed(w: InsertWork, pre: DataFrame): Long = {
    pre.persist()
    try {
      // ONE fused pass over the cached candidate yields the row count
      // (serial reservation size + each partition's global row offset)
      // AND the NOT NULL violation counts — a separate aggregate for the
      // null check would re-scan the whole candidate. The pass iterates
      // InternalRows straight off the cached plan — Dataset.rdd would
      // bolt a deserialize-to-external-Row pass onto every partition
      // just to discard the rows, doubling the insert's read work;
      // partition layout is identical (Dataset.rdd IS toRdd plus that
      // conversion), so the offsets line up with the serial projection
      // below.
      val checkIdx = w.checkIdx
      val stats: Array[(Long, Array[Long])] = pre.queryExecution.toRdd.mapPartitions({ it =>
        Iterator.single(SqlEngine.rowStats[org.apache.spark.sql.catalyst.InternalRow](
          it, checkIdx, _.isNullAt(_)))
      }, preservesPartitioning = true).collect()
      val partCounts = stats.map(_._1)
      val n = partCounts.sum
      val nullCounts = checkIdx.indices.map(j => stats.iterator.map(_._2(j)).sum).toArray

      val starts = reserveSerials(w, n)
      val cand: DataFrame = if (starts.isEmpty) pre else {
        // id values are produced by a codegen'd stateful expression
        // INSIDE a projection — the insert never leaves Tungsten (no RDD
        // round-trip, no external Rows)
        val offsets = partCounts.scanLeft(0L)(_ + _)
        // each invocation registers UNIQUELY-named temp functions (and
        // drops them once the plan is analyzed): a shared name would
        // cross-wire offsets between CONCURRENT inserts into the same
        // table
        val reg = spark.sessionState.functionRegistry
        val token = java.util.UUID.randomUUID().toString.replace("-", "")
        val registered = Seq.newBuilder[String]
        val outCols: Seq[org.apache.spark.sql.Column] = w.desc.columns.map { c =>
          starts.get(c.id) match {
            case Some(start) =>
              val fname = s"graft_serial_${c.id}_$token"
              reg.createOrReplaceTempFunction(fname,
                _ => graft.functions.PartitionOffsetId(offsets.map(_ + start)), "built-in")
              registered += fname
              expr(s"$fname()").cast(c.typeKind.sparkType).as(c.name)
            case None => col(c.name)
          }
        }
        // Dataset construction analyzes the plan, so the resolved
        // expression instances are already bound — safe to unregister
        val out = pre.select(outCols: _*)
        registered.result().foreach(f =>
          reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(f)))
        out
      }
      requireNotNull(w, nullCounts)

      publish(w, cand) {
        if (n > 0) {
          // fast path: a freshly-created/truncated table has nothing to
          // conflict with — skip the existing-rows join entirely (the
          // bulk-load case)
          lazy val tableEmpty = catalog.tableIsEmpty(w.db, w.schema, w.table)
          lazy val existing = readTable(w.db, w.schema, w.table)
          enforceUnique(w,
            // Spark's groupBy treats NULLs as equal, which is exactly
            // NULLS NOT DISTINCT; for NULLS DISTINCT drop rows with any
            // NULL key first (each NULL is unique by definition)
            inBatchDup = (keys, nullsDistinct) =>
              !(if (nullsDistinct) cand.filter(keys.map(col(_).isNotNull).reduce(_ && _)) else cand)
                .groupBy(keys.map(col): _*).count().filter(col("count") > 1).isEmpty,
            existingConflict = (keys, nullsDistinct) => !tableEmpty && {
              val cond = keys.map { k =>
                if (nullsDistinct) cand(k) === existing(k) else cand(k) <=> existing(k)
              }.reduce(_ && _)
              !cand.join(existing, cond, "left_semi").isEmpty
            })
        }
      }
      n
    } finally pre.unpersist()
  }

  /** The write window both insert paths share. Unique enforcement
    * (`check`) and the staged append run under the table write lock: the
    * check and the publish must be atomic with respect to other inserts
    * into the same table (statement atomicity; the reference gets the
    * same from its transactional commit + atomic Increment,
    * src/sql/client.rs:276-306). */
  private def publish(w: InsertWork, cand: DataFrame)(check: => Unit): Unit =
    catalog.withTableWriteLock(w.db, w.schema, w.table) {
      check

      // atomic append: stage then move
      val staging = catalog.newStagingDir(w.db, w.schema, w.table)
      try {
        cand.write.mode("overwrite").parquet(staging.toString)
        catalog.commitStaged(w.db, w.schema, w.table, staging)
      } catch {
        case e: Throwable =>
          try catalog.discardStaged(staging) catch { case _: Throwable => }
          throw e
      }

      // opportunistic compaction at commit (reference: the tablet
      // compacts once accumulated log messages pass a threshold,
      // src/tablet/service.rs:393-399): a many-small-INSERT workload
      // self-heals instead of accumulating one part per statement
      // until someone calls compactTable. Runs on the committing
      // thread inside the SAME write window (the table monitor is
      // reentrant), so it serializes with concurrent inserts exactly
      // like the insert itself; readers keep their planned snapshots
      // (compaction republishes the manifest, old parts stay until
      // vacuum). Amortized cost: every ~Nth INSERT pays one rewrite.
      //
      // The trigger counts parts ABOVE the table's compacted target
      // (ceil(bytes / 128MB)), not absolute parts: a table whose
      // compacted form already holds >= threshold files would otherwise
      // re-trigger on EVERY insert once it passes ~threshold*128MB —
      // each one a full-table rewrite, O(n^2) write amplification.
      if (autoCompactAfterParts > 0) {
        val (nFiles, bytes) = catalog.dataFileStats(w.db, w.schema, w.table)
        val compactedTarget =
          math.max(1, math.ceil(bytes.toDouble / autoCompactTargetFileBytes).toInt)
        if (nFiles - compactedTarget >= autoCompactAfterParts)
          compactTable(w.db, w.schema, w.table, autoCompactTargetFileBytes)
      }
    }

  /** Integer targets take only INTEGRAL sources (a fractional source would
    * silently truncate under non-ANSI cast; the reference raises
    * MismatchColumnType instead — src/sql/client.rs:247-264). Width
    * narrowing (e.g. bigint source into int) is allowed at the type level
    * but guarded by the round-trip value check in [[insert]]. */
  private def typeCompatible(src: DataType, tgt: ColumnTypeKind): Boolean = {
    import ColumnTypeKind._
    if (src == NullType) return true
    val integral = src match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    val numeric = integral || (src match {
      case _: FloatType | _: DoubleType | _: DecimalType => true
      case _ => false
    })
    tgt match {
      case BooleanKind => src == BooleanType
      case Int16Kind | Int32Kind | Int64Kind => integral
      case Float32Kind | Float64Kind => numeric
      case BytesKind => src == BinaryType
      case StringKind => src == StringType || src.isInstanceOf[VarcharType] || src.isInstanceOf[CharType]
    }
  }

  /** Conservative byte width of an integral source/target for the
    * narrowing guard; sources wider than the target get a value check. */
  private def intWidth(t: ColumnTypeKind): Option[Int] = t match {
    case ColumnTypeKind.Int16Kind => Some(2)
    case ColumnTypeKind.Int32Kind => Some(4)
    case ColumnTypeKind.Int64Kind => Some(8)
    case _ => None
  }
  private def intSrcWidth(t: DataType): Option[Int] = t match {
    case _: ByteType => Some(1)
    case _: ShortType => Some(2)
    case _: IntegerType => Some(4)
    case _: LongType => Some(8)
    case d: DecimalType if d.scale == 0 =>
      Some(if (d.precision <= 4) 2 else if (d.precision <= 9) 4 else if (d.precision <= 18) 8 else 16)
    case _ => None
  }

  /** Unique-index enforcement (SURVEY §7: within the batch + against
    * existing rows; NULLS NOT DISTINCT treats NULL keys as equal, realizing
    * the reference's key-encoding semantics at src/sql/row.rs:97-106). The
    * two checks come from the insert path: driver-side over driver-resident
    * rows, shuffle/semi-join plans otherwise. Each index is checked in
    * descriptor order, within the batch first, so both paths report the
    * same index.
    */
  private def enforceUnique(w: InsertWork,
      inBatchDup: (Seq[String], Boolean) => Boolean,
      existingConflict: (Seq[String], Boolean) => Boolean): Unit =
    w.desc.indices.filter(_.isUnique).foreach { idx =>
      // fresh serial values are distinct within the batch AND greater than
      // every previously-issued value, so an index keyed on them alone
      // cannot conflict — no check needed
      if (!idx.columnIds.forall(w.freshSerialIds.contains)) {
        val keys = idx.columnIds.map(w.desc.column(_).name)
        val nullsDistinct = idx.kind != IndexKind.UniqueNullsNotDistinct
        if (inBatchDup(keys, nullsDistinct) || existingConflict(keys, nullsDistinct))
          throw SqlError.uniqueKeyAlreadyExists(w.table, idx.name)
      }
    }
}
