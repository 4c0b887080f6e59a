package graft.engine

import java.nio.file.{Path, Paths}
import java.util.Locale
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftColumnBridge, GraftParquetBridge,
  GraftPlanBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.AliasIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute,
  UnresolvedFunction, UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, BoundReference, Expression,
  InterpretedOrdering, Literal, NamedExpression, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias,
  UnresolvedWith}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Connection metadata (reference: SqlContext at src/sql/context.rs —
  * database/user from the PG connection, port 0 when unconnected). */
final case class SqlContext(database: String, user: String, port: Int = 0)

object SqlEngine {
  /** Default [[SqlEngine.vacuumTable]] grace window — the catalog's
    * snapshot-safe default ([[Catalog.defaultVacuumRetentionMs]]). */
  val defaultVacuumRetentionMs: Long = Catalog.defaultVacuumRetentionMs

  /** INSERT-commit auto-compaction threshold: once a table accumulates
    * this many live parquet parts, the committing INSERT compacts it in
    * place (the reference compacts once accumulated log messages pass a
    * threshold — /root/reference/src/tablet/service.rs:393-399 — rather
    * than waiting for an operator). ≤0 disables. */
  val defaultAutoCompactAfterParts: Int = 64

  /** Auto-compaction merges only the tail, every part but the base (the
    * table's largest parts), while the tail's uncompressed row-group bytes
    * stay within this share of the base's; past it, the whole table is
    * rewritten and becomes the new base. */
  private val TailFraction = 0.25

  /** Parts a compaction into `bytes / targetFileBytes` files writes. */
  private def compactedTarget(bytes: Long, targetFileBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

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
  * equivalent of the reference's snapshot reads (SURVEY §1.5). Queries and
  * INSERT sources are resolved on Spark's parse tree (see [[plan]]): the
  * engine registers no temp views or functions in the SparkSession, and the
  * session values come from this engine's [[SqlContext]], so engines that
  * share a session stay isolated.
  */
final class SqlEngine(val spark: SparkSession, val catalog: Catalog, val ctx: SqlContext,
    val autoCompactAfterParts: Int = SqlEngine.defaultAutoCompactAfterParts,
    val autoCompactTargetFileBytes: Long = 128L << 20) {
  import SqlParser._

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
    case Query(q) => plan(q)
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

  /** Scans the table's current version: the file list is resolved here,
    * at planning time, so the plan stays consistent even if a compaction
    * republishes the table before the query runs (SURVEY §1.5). The
    * relation is a plain file scan, run as Spark jobs; only a statement
    * planned through `GraftPlanBridge` reads a small part list on the
    * calling thread instead. */
  def readTable(db: String, schema: String, table: String): DataFrame =
    scanParts(db, schema, table)(catalog.livePartPaths(db, schema, table))

  /** The table's rows in the given part files, under the descriptor's
    * schema; no parts is an empty relation of that schema. `paths` is read
    * after the descriptor, so a missing table raises TableNotExists. */
  private def scanParts(db: String, schema: String, table: String)(
      paths: => Seq[String]): DataFrame = {
    val st = catalog.getTable(db, schema, table).toStructType
    GraftParquetBridge.readParts(spark, paths, st)
  }

  /** TIME TRAVEL: the table as of snapshot `version` (0 = empty at
    * creation; each INSERT commit / compaction publish is one version).
    * The observable analogue of the reference's MVCC snapshot reads at a
    * fixed timestamp (src/kv.rs:331-431; version chains read newest ≤ ts,
    * src/tablet/memory.rs:73-81). Readable until [[vacuumTable]] reclaims
    * the snapshot's superseded files. */
  def readTableAt(db: String, schema: String, table: String, version: Long): DataFrame =
    scanParts(db, schema, table)(catalog.partPathsAt(db, schema, table, version))

  /** CHANGE FEED: the rows INSERTed in the version interval (`fromV`,
    * `toV`] — an incremental consumer (e.g. [[graft.operators.Dedup]]'s
    * incremental admit, or a downstream sync) reads exactly the delta,
    * never re-scanning history. Append-only intervals only: an interval
    * crossing a compaction publish raises, and the consumer restarts from
    * a full snapshot (same contract as a table format's incremental
    * read across a rewrite). */
  def readTableChanges(db: String, schema: String, table: String,
      fromV: Long, toV: Long): DataFrame =
    scanParts(db, schema, table)(catalog.partPathsAddedBetween(db, schema, table, fromV, toV))

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

  /** Plans relational text — a query, or an INSERT's source — as
    * `spark.sql` does (Spark's parser, then the `QueryExecution` that
    * `Dataset.ofRows` builds, so commands and eager analysis behave the
    * same), with one [[Binder]] pass over the parse tree in between; the
    * code generated for the statement's filters reads their literals as
    * parameters, so one statement shape compiles once (`GraftPlanBridge`).
    * The reference binds on its AST the same way: it collects the
    * relations a statement names (`visit_relations`,
    * src/sql/traits.rs:68-78) and fetches only their descriptors
    * (src/sql/mod.rs:60-75), so a query costs what its own tables cost,
    * not the catalog. Nothing is registered in the shared SparkSession:
    * engines on one session never see each other's tables or session
    * values. Spark's resolution failures map to the reference's
    * TableNotExists; other analysis errors (a column typo, a GROUP BY
    * mismatch) propagate raw. */
  private def plan(sql: String): DataFrame =
    try GraftPlanBridge.sql(spark, sql)(bind)
    catch {
      case e: AnalysisException if isResolutionFailure(e) =>
        throw SqlError(SqlError.TableNotExists, e.getMessage)
    }

  /** One [[Binder]] pass over an unresolved parse tree, as [[plan]] runs it. */
  private[engine] def bind(parsed: LogicalPlan): LogicalPlan = new Binder().bind(parsed, Set.empty)

  private def isResolutionFailure(e: AnalysisException): Boolean =
    e.getCondition != null && Seq("TABLE_OR_VIEW_NOT_FOUND", "CATALOG_NOT_FOUND",
      "SCHEMA_NOT_FOUND", "REQUIRES_SINGLE_PART_NAMESPACE").exists(e.getCondition.startsWith)

  private def lower(s: String): String = s.toLowerCase(Locale.ROOT)

  /** One statement's resolution pass over Spark's unresolved parse tree,
    * subquery plans included. It replaces
    *  - a relation that names a managed table with the table's snapshot
    *    scan. A bare name resolves in the connected database (the last
    *    sorted schema holding it wins); `schema.t` and `db.schema.t` as
    *    written. A CTE name stays unresolved inside its WITH, and names
    *    the catalog does not hold (user temp views, 4-part `graft.*`
    *    plugin names, missing tables) are left for Spark;
    *  - `information_schema.{tables,columns}` with the catalog's rows;
    *  - a `graft_*` table function with its operator's plan;
    *  - a PG session function with its value from this engine's
    *    [[SqlContext]]; a bare select-list item keeps the PG column name.
    * Per statement each distinct name is probed once (one `tableExists`
    * per schema it could live in) and each table is read at one
    * snapshot, so a self-join reads one snapshot. */
  private final class Binder {
    private val located = mutable.HashMap.empty[Seq[String], Option[(String, String, String)]]
    private val scans = mutable.HashMap.empty[(String, String, String), LogicalPlan]
    private lazy val schemas: Seq[String] =
      try catalog.listSchemas(ctx.database)
      catch { case e: SqlError if e.kind == SqlError.DatabaseNotExists => Seq.empty }

    def bind(plan: LogicalPlan, ctes: Set[String]): LogicalPlan = plan match {
      case w: UnresolvedWith =>
        val names = w.cteRelations.map(r => lower(r._1))
        w.copy(child = bind(w.child, ctes ++ names),
          cteRelations = w.cteRelations.zipWithIndex.map { case ((n, q, d), i) =>
            // a definition sees the ones before it (WITH RECURSIVE: and itself)
            val seen = names.take(if (w.allowRecursion) i + 1 else i)
            (n, bind(q, ctes ++ seen).asInstanceOf[SubqueryAlias], d)
          })
      case u: UnresolvedRelation => relation(u.multipartIdentifier.map(lower), ctes).getOrElse(u)
      case f: UnresolvedTableValuedFunction if isTableFunction(f.name) =>
        val fn = lower(f.name.head)
        SubqueryAlias(fn, tableFunction(fn, f.functionArgs).queryExecution.analyzed)
      case e: ExplainCommand => e.copy(logicalPlan = bind(e.logicalPlan, ctes))
      case p =>
        (p.mapChildren(bind(_, ctes)) match {
          case q: Project => q.copy(projectList = q.projectList.map(selectItem))
          case a: Aggregate => a.copy(aggregateExpressions = a.aggregateExpressions.map(selectItem))
          case q => q
        }).transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(bind(s.plan, ctes))
          case SessionCall(n) => Literal(sessionValues(n))
        }
    }

    private def selectItem(e: NamedExpression): NamedExpression = e match {
      case SessionCall(n) => Alias(Literal(sessionValues(n)), n)()
      case UnresolvedAlias(SessionCall(n), _) => Alias(Literal(sessionValues(n)), n)()
      case e => e
    }

    private def relation(name: Seq[String], ctes: Set[String]): Option[LogicalPlan] = name match {
      case Seq(t) if ctes(t) => None
      case Seq("information_schema", n) => informationSchema(n)
      case Seq(d, "information_schema", n) if d == ctx.database => informationSchema(n)
      case _ => locate(name).map(scan)
    }

    private def locate(name: Seq[String]): Option[(String, String, String)] =
      located.getOrElseUpdate(name, name match {
        case Seq(t) =>
          schemas.filter(catalog.tableExists(ctx.database, _, t)).lastOption.map((ctx.database, _, t))
        case Seq(_, _) | Seq(_, _, _) =>
          val (d, s, t) = resolve(name)
          if (catalog.tableExists(d, s, t)) Some((d, s, t)) else None
        case _ => None
      })

    private def scan(loc: (String, String, String)): LogicalPlan = scans.getOrElseUpdate(loc, {
      val (d, s, t) = loc
      SubqueryAlias(AliasIdentifier(t, Seq(d, s)), readTable(d, s, t).queryExecution.analyzed)
    })

    /** A table function's table argument. Unlike a relation, a bare name
      * the catalog does not hold means `public.t`, so reading it raises
      * TableNotExists. */
    def argTable(name: Seq[String]): (String, String, String) = name.map(lower) match {
      case n @ Seq(t) => locate(n).getOrElse((ctx.database, "public", t))
      case n => resolve(n)
    }

    def tableFunction(fn: String, args: Seq[Expression]): DataFrame = {
      val a = new TvfArgs(fn, args, this)
      val df = tableFunctions(fn)(a)
      a.requireAllRead()
      df
    }
  }

  /** A PG session function in the parse tree, by its lower-cased name: a
    * bare word (`current_user`, `user`) or a call with no arguments. A
    * qualified name (`t.user`) is a column. */
  private object SessionCall {
    def unapply(e: Expression): Option[String] = (e match {
      case UnresolvedAttribute(Seq(n)) => Some(n)
      case f: UnresolvedFunction if f.nameParts.length == 1 && f.arguments.isEmpty =>
        Some(f.nameParts.head)
      case _ => None
    }).map(lower).filter(sessionValues.contains)
  }

  /** The `information_schema` relations the engine exposes (the reference
    * enables DataFusion's information_schema, src/sql/mod.rs:82), read
    * from the catalog when a statement names them. */
  private def informationSchema(name: String): Option[LogicalPlan] = {
    val db = ctx.database
    def tables = for {
      s <- if (catalog.databaseExists(db)) catalog.listSchemas(db) else Seq.empty
      t <- catalog.listTables(db, s)
    } yield (s, t)
    def str(n: String) = StructField(n, StringType, nullable = false)
    val key = Seq("table_catalog", "table_schema", "table_name").map(str)
    val df = name match {
      case "tables" =>
        Some(toDf(tables.map { case (s, t) => Row(db, s, t, "BASE TABLE") },
          StructType(key :+ str("table_type"))))
      case "columns" =>
        Some(toDf(tables.flatMap { case (s, t) =>
          catalog.getTable(db, s, t).columns.zipWithIndex.map { case (c, i) =>
            Row(db, s, t, c.name, i + 1, null, if (c.nullable) "YES" else "NO", c.typeKind.name)
          }
        }, StructType(key ++ Seq(str("column_name"),
          StructField("ordinal_position", IntegerType, nullable = false),
          StructField("column_default", StringType, nullable = true),
          str("is_nullable"), str("data_type")))))
      case _ => None
    }
    df.map(d => SubqueryAlias(AliasIdentifier(name, Seq("information_schema")),
      d.queryExecution.analyzed))
  }

  private def isTableFunction(name: Seq[String]): Boolean =
    name.length == 1 && tableFunctions.contains(lower(name.head))

  /** A `graft_*` call's arguments as the parse tree holds them. A
    * relation is an identifier (a managed table) or a nested `graft_*`
    * call; a `'string'` literal is a view name, a path or a pattern; a
    * number literal is a number. Each kind is indexed on its own, in call
    * order, and a binding reads the shape it takes; a name with two
    * shapes picks one from the counts. A relation or string the binding
    * never reads, or an argument of any other kind, raises: a call never
    * silently drops what it was given. Omitted numbers take the
    * operator's defaults. */
  private final class TvfArgs(fn: String, args: Seq[Expression], binder: Binder) {
    private val rels = args.filter {
      case _: UnresolvedAttribute => true
      case f: UnresolvedFunction => isTableFunction(f.nameParts)
      case _ => false
    }
    private val strs = args.collect { case Literal(s: UTF8String, _: StringType) => s.toString }
    private val nums = args.collect {
      case Literal(d: Decimal, _) => d.toDouble
      case Literal(n: Number, _: NumericType) => n.doubleValue
    }
    if (rels.size + strs.size + nums.size < args.size)
      throw SqlError.invalid(s"$fn takes relations, 'string' literals and numbers")
    private val relDfs = mutable.HashMap.empty[Int, DataFrame]
    private var relsRead = 0
    private var strsRead = 0

    def relCount: Int = rels.size
    def rel(i: Int): DataFrame = relDfs.getOrElseUpdate(i, relArg(i) match {
      case UnresolvedAttribute(name) => val (d, s, t) = binder.argTable(name); readTable(d, s, t)
      case f: UnresolvedFunction => binder.tableFunction(lower(f.nameParts.head), f.arguments)
    })
    /** The table itself, for the functions bound to its identity rather
      * than its current snapshot. */
    def table(i: Int): (String, String, String) = relArg(i) match {
      case UnresolvedAttribute(name) => binder.argTable(name)
      case _ => throw SqlError.invalid(s"$fn takes a table name as argument ${i + 1}")
    }
    private def relArg(i: Int): Expression = {
      relsRead = relsRead max (i + 1)
      rels.lift(i).getOrElse(throw SqlError.invalid(s"$fn takes ${i + 1} relation(s)"))
    }
    def str(i: Int): String = strOr(i, throw SqlError.invalid(s"$fn takes ${i + 1} 'string' argument(s)"))
    def strOr(i: Int, default: => String): String = {
      strsRead = strsRead max (i + 1)
      strs.lift(i).getOrElse(default)
    }
    def strings: Seq[String] = { strsRead = strs.size; strs }
    /** A session temp view named by a string: the escape hatch for
      * embedding-typed inputs, which managed tables cannot hold. */
    def view(i: Int): DataFrame = spark.table(str(i))
    def num(i: Int, default: Double): Double = nums.lift(i).getOrElse(default)
    def int(i: Int, default: Int): Int = nums.lift(i).fold(default)(_.toInt)
    def long(i: Int, default: => Long): Long = nums.lift(i).fold(default)(_.toLong)
    def numbers: Seq[Double] = nums
    def requireAllRead(): Unit =
      if (relsRead < rels.size || strsRead < strs.size)
        throw SqlError.invalid(s"$fn: unexpected argument")
  }

  /** SQL-TEXT entry to the LLM-data operator suite: `SELECT * FROM
    * graft_dedup_exact(docs)` runs [[graft.operators.Dedup.exactDedup]]
    * over the managed table `docs` — composable with every relational
    * construct (joins, CTEs, aliases, nesting) since the call resolves to
    * a plain relation. The reference's only user surface is SQL text
    * (reference src/sql/mod.rs:48-156); without these the d/s/t/p
    * operators would be unreachable from a SQL prompt. Each binding reads
    * its arguments through [[TvfArgs]]. */
  private val tableFunctions: Map[String, TvfArgs => DataFrame] = {
    import graft.operators.{Curation, Dedup, Multimodal, Packing, Selection, Similarity, TextAnalysis}
    /** A trained (rank, a, b) merge table's pairs. The collect is
      * sanctioned only because merge tables are k-row artifacts; the cap
      * makes a corpus-sized relation fail loudly instead of OOMing the
      * driver. */
    def merges(fn: String, rel: DataFrame): Seq[(String, String)] = {
      val cap = 65536
      val rows = rel.orderBy(col("rank")).limit(cap + 1).collect()
      if (rows.length > cap)
        throw SqlError.invalid(s"$fn merge relation exceeds $cap rows — " +
          "pass the trained (rank, a, b) merge table, not a corpus")
      rows.map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    }
    /** The first k vectors of an embedding relation: the bounded,
      * deterministic seed collect of the s06/s09 convention. */
    def seeds(rel: DataFrame, k: Int): Array[Array[Double]] =
      rel.orderBy(col("vec_id")).limit(k).select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
    def asQueries(rel: DataFrame): DataFrame =
      rel.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    import spark.implicits._
    Map[String, TvfArgs => DataFrame](
      // ---- one relation, numeric tuning (managed tables carry only the
      // reference's 8 scalar types, so embedding-typed operators enter
      // through views below)
      "graft_tfidf" -> (a => TextAnalysis.tfidfTerms(a.rel(0), a.int(0, 3))),
      "graft_repetition" -> (a =>
        TextAnalysis.repetitionStats(a.rel(0), a.num(0, 0.65), a.num(1, 0.1))),
      "graft_lm_score" -> (a => TextAnalysis.lmScore(a.rel(0))),
      "graft_classifier_score" -> { a =>
        val t = a.rel(0)
        val dim = a.int(0, 4096)
        TextAnalysis.classifierScore(t, TextAnalysis.seedWeights(t.sparkSession, dim), dim)
      },
      "graft_pack_spans" -> (a => Packing.packedSpans(a.rel(0), a.int(0, 128))),
      "graft_dedup_exact" -> (a => Dedup.exactDedup(a.rel(0))),
      "graft_minhash_pairs" -> (a => Dedup.minhashPairs(a.rel(0), a.num(0, 0.35))),
      "graft_simhash_pairs" -> (a => Dedup.simhashPairs(a.rel(0), a.int(0, 3))),
      "graft_simhash128_pairs" -> (a => Dedup.simhashPairs128(a.rel(0), a.int(0, 3))),
      "graft_jaccard_pairs" -> (a =>
        Dedup.exactJaccardPairs(Dedup.postingIndex(a.rel(0)), a.num(0, 0.5))),
      "graft_passage_stats" -> (a => Dedup.passageStats(a.rel(0), a.int(0, 8))),
      "graft_lang_id" -> (a => TextAnalysis.langId(a.rel(0))),
      "graft_quality" -> (a => TextAnalysis.qualityFeatures(a.rel(0))),
      "graft_token_counts" -> (a => TextAnalysis.tokenCounts(a.rel(0))),
      "graft_fingerprints" -> (a => TextAnalysis.fingerprints(a.rel(0), a.int(0, 16))),
      "graft_pack_sequences" -> (a => Packing.packSequences(a.rel(0), a.int(0, 128))),
      "graft_shard_pack" -> (a => Packing.shardPack(a.rel(0), a.int(0, 8))),
      "graft_temperature_mix" -> (a =>
        Packing.temperatureMix(a.rel(0), a.num(0, 0.5), a.num(1, 0.5))),
      "graft_token_budget" -> (a => Selection.selectTokenBudget(a.rel(0), a.long(0, 1000000L))),
      "graft_curriculum" -> (a => Selection.curriculumOrder(a.rel(0), a.int(0, 4))),
      "graft_cap_per_source" -> (a => Selection.capPerSource(a.rel(0), a.int(0, 1000))),
      "graft_stratified_split" -> (a => Selection.stratifiedSplit(a.rel(0),
        if (a.numbers.nonEmpty) a.numbers else Seq(0.8, 0.1, 0.1))),
      "graft_boilerplate" -> (a =>
        TextAnalysis.boilerplatePhrases(a.rel(0), a.int(0, 3), a.num(1, 0.05))),
      "graft_heuristic_filter" -> (a => TextAnalysis.heuristicFilter(a.rel(0),
        minWords = a.long(0, 50L), maxWords = a.long(1, 100000L), minStopHits = a.int(2, 2))),
      "graft_weighted_sample" -> (a => Selection.weightedSample(a.rel(0), a.int(0, 1000))),
      "graft_epoch_shuffle" -> (a => Selection.epochShuffle(a.rel(0), a.int(0, 0), a.int(1, 8))),
      "graft_passage_scrub" -> (a => Dedup.passageScrub(a.rel(0), a.int(0, 8))),
      "graft_vocabulary" -> (a => TextAnalysis.vocabulary(a.rel(0), a.int(0, 30))),
      // per-order distinct ratios + gram-distribution entropy — the
      // before/after dashboard of every dedup/selection pass
      "graft_corpus_diversity" -> (a => TextAnalysis.corpusDiversity(a.rel(0), a.int(0, 3))),
      "graft_bpe_merges" -> (a => TextAnalysis.bpeMerges(a.rel(0), a.int(0, 8))),
      // production-depth spelling: capped-census driver-side trainer —
      // graft_bpe_train(relation, merges [, vocabCap]); rounds run in
      // memory over the bounded census, so real tokenizer depths are a
      // single corpus pass rather than k scheduled jobs
      "graft_bpe_train" -> (a =>
        TextAnalysis.bpeMergesDriver(a.rel(0), a.int(0, 256), a.int(1, 65536))),
      // graft_bpe_encode(corpus[, k]) trains k merges on the corpus
      // itself, then reports per-doc tokenizer stats under them;
      // graft_bpe_encode(corpus, merges) applies a LEARNED (rank, a, b)
      // merge table to a different corpus — a tokenizer trained on A
      // encodes B, from pure SQL
      "graft_bpe_encode" -> { a =>
        val t = a.rel(0)
        if (a.relCount > 1) TextAnalysis.bpeEncode(t, merges("graft_bpe_encode", a.rel(1)))
        else TextAnalysis.bpeEncode(t, TextAnalysis.bpeMerges(t, a.int(0, 8)).orderBy(col("rank"))
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq)
      },
      // the token STREAM (doc_id, word_idx, tok_idx, token): under k
      // merges learned from the relation itself (driver trainer), or
      // under a trained merge table given as the second relation
      "graft_bpe_tokens" -> { a =>
        val t = a.rel(0)
        TextAnalysis.bpeTokens(t,
          if (a.relCount > 1) merges("graft_bpe_tokens", a.rel(1))
          else TextAnalysis.bpeTrainDriver(t, a.int(0, 8)).map(m => (m._2, m._3)))
      },
      // the id stream: tokens mapped through the induced vocabulary
      // (alphabet + merges, dense GPT-2-style ids). graft_bpe_ids(corpus
      // [, k]) trains on its own input, where every token is in-vocab;
      // graft_bpe_ids(corpusB, trainCorpusA[, k]) is the deployment shape
      // — a FROZEN tokenizer trained on A meets new data, and tokens
      // outside A's alphabet map to the explicit UNK id = |vocab|
      "graft_bpe_ids" -> { a =>
        val t = a.rel(0)
        if (a.relCount > 1) {
          val train = a.rel(1)
          val tok = TextAnalysis.bpeTrainTokenizer(train, a.int(0, 8))
          TextAnalysis.bpeTokenIdsAgainst(t, train, tok.merges, tok.alphabet)
        } else {
          val tok = TextAnalysis.bpeTrainTokenizer(t, a.int(0, 8))
          TextAnalysis.bpeTokenIds(t, tok.merges, tok.alphabet)
        }
      },
      // the vocabulary artifact itself: (token_id, token)
      "graft_bpe_vocab" -> { a =>
        val t = a.rel(0)
        val tok = TextAnalysis.bpeTrainTokenizer(t, a.int(0, 8))
        TextAnalysis.bpeVocab(t, tok.merges, tok.alphabet)
      },
      // the MATERIALIZED packed tape (seq, seq_pos, doc_id, token_id), the
      // loader-facing artifact; args (budget, merges). With a second
      // relation the ids (and UNK = |vocab|) come from a tokenizer
      // trained on it, the tape layout from the first relation's counts
      "graft_pack_ids" -> { a =>
        val t = a.rel(0)
        val train = if (a.relCount > 1) a.rel(1) else t
        val tok = TextAnalysis.bpeTrainTokenizer(train, a.int(1, 8))
        if (a.relCount > 1)
          Packing.packTokenIdsAgainst(t, train, tok.merges, a.int(0, 128), tok.alphabet)
        else Packing.packTokenIds(t, tok.merges, a.int(0, 128), tok.alphabet)
      },
      "graft_hashed_embedding" -> (a => Similarity.hashedEmbedding(a.rel(0), a.int(0, 16))),
      // media tables carry payloads as bytea — the one reference type the
      // multimodal family needs (frame content returns as bytea too)
      "graft_sample_frames" -> (a =>
        Multimodal.sampleFrames(a.rel(0), a.int(0, 4096), a.int(1, 1))),
      "graft_media_dedup" -> (a => Multimodal.mediaDedup(a.rel(0))),
      // pair-list output is quadratic on clustered feature spaces — the
      // operator's candidate-pair circuit breaker refuses past the cap
      // (optional 2nd arg) with a pointer to graft_media_semdedup, the
      // keep/drop deliverable for large corpora
      "graft_media_neardup" -> (a => Multimodal.mediaNearDupPairs(a.rel(0), a.num(0, 0.99),
        maxCandidatePairs = a.long(1, 10000000L))),
      "graft_media_semdedup" -> (a =>
        Multimodal.mediaSemDedup(a.rel(0), a.num(0, 0.99), a.int(1, 0))),
      "graft_ppl_tiers" -> (a => TextAnalysis.pplTiers(a.rel(0))),
      "graft_chunk_windows" -> (a => Packing.chunkWindows(a.rel(0), a.int(0, 64), a.int(1, 32))),
      // source diagnostics build their pair graph from the relation
      // itself (doc_id, text, source all present on documents-shaped
      // tables); arg 1 is the Jaccard floor
      "graft_dup_report" -> { a =>
        val t = a.rel(0)
        Dedup.dupReport(t, Dedup.exactJaccardPairs(Dedup.postingIndex(t), a.num(0, 0.4)))
      },
      "graft_cross_source" -> { a =>
        val t = a.rel(0)
        Dedup.crossSourceOverlap(t, Dedup.exactJaccardPairs(Dedup.postingIndex(t), a.num(0, 0.4)))
      },
      // args: (simFloor, candidate jaccard floor, maxLev)
      "graft_edit_pairs" -> { a =>
        val t = a.rel(0)
        Dedup.editNearDupPairs(t, Dedup.exactJaccardPairs(Dedup.postingIndex(t), a.num(1, 0.2)),
          simFloor = a.num(0, 0.8), maxLev = a.int(2, 128))
      },
      "graft_corpus_card" -> (a => Curation.corpusCard(a.rel(0))),
      "graft_mixture_weights" -> (a =>
        Packing.mixtureWeights(a.rel(0), a.num(0, 0.5), a.long(1, 100000L))),
      "graft_mixture_capped" -> (a => Packing.mixtureWeightsCapped(a.rel(0), a.num(0, 0.5),
        a.long(1, 100000L), a.num(2, 2.0))),
      // over any (id, cell, score) relation — cells from labels, sources,
      // or a quantizer registered upstream
      "graft_diverse_topk" -> (a => Selection.diverseTopK(a.rel(0), a.int(0, 100))),
      "graft_containment" -> (a =>
        Dedup.containmentPairs(Dedup.postingIndex(a.rel(0)), a.num(0, 0.8))),
      // winnowed-fingerprint near-dup pairs; args (k, w, minShared, dfCap)
      // and an optional gram hash: 'sha2' (oracle-replayable, the
      // default) or 'xxhash64' (the 100 TB default)
      "graft_winnow_pairs" -> (a => Dedup.winnowedPairs(a.rel(0),
        a.int(0, 4), a.int(1, 4), a.int(2, 2), a.int(3, 64), a.strOr(0, "sha2"))),
      // the df-capped winnow fingerprint INDEX itself (doc_id, fp) — the
      // persistable admission artifact: materialize it once (INSERT INTO
      // idx SELECT * FROM graft_winnow_index(history, ...)) and every
      // later graft_winnow_admit(inc, idx, ...) call probes the stored
      // scalars with NO history rescan. args (k, w, dfCap) — note: no
      // minShared (that is an admission-time knob, not an index property)
      "graft_winnow_index" -> (a =>
        Dedup.winnowedIndex(a.rel(0), a.int(0, 4), a.int(1, 4), a.int(2, 64))),
      "graft_span_stats" -> (a => Dedup.spanStats(a.rel(0), a.int(0, 8), a.num(1, 0.3))),
      // the default PII battery, or a custom one as ('name', 'regex') pairs
      "graft_pattern_audit" -> { a =>
        val t = a.rel(0)
        val ss = a.strings
        if (ss.isEmpty) TextAnalysis.patternAudit(t)
        else {
          require(ss.length % 2 == 0, "graft_pattern_audit takes ('name', 'regex') string pairs")
          TextAnalysis.patternAudit(t, ss.grouped(2).map(p => p(0) -> p(1)).toSeq)
        }
      },
      // the s10 capstone behind one call: hash-embed -> sqrt(n)-scaled
      // quantizer -> cell-scoped semantic prune; args (dim, tau, cells).
      // Returns the KEPT (doc_id, cell) rows — scalar columns only, so
      // the result composes with every relational construct. The real-
      // encoder path keeps the graft_semdedup('view') escape hatch.
      "graft_text_semdedup" -> { a =>
        val vecs = Similarity.hashedEmbeddingVec(a.rel(0), a.int(0, 16)).localCheckpoint()
        Dedup.semDedup(Similarity.quantizedCells(vecs, a.int(2, 0)), a.num(1, 0.95))
          .select(col("vec_id").as("doc_id"), col("cell"))
      },
      // ---- string tuning: the pattern arrives as data ('' unescaped)
      "graft_redact" -> (a => TextAnalysis.redact(a.rel(0), a.str(0), a.strOr(1, "[redacted]"))),
      // z-order layout needs COLUMN NAMES (id, dim a, dim b) — the one
      // operator whose tuning is identifiers, not values
      "graft_zorder" -> { a =>
        val t = a.rel(0)
        require(a.strings.length == 3, "graft_zorder(t, 'id', 'a', 'b'[, rowsPerFile[, buckets]])")
        Packing.zorderFiles(t, a.str(0), a.str(1), a.str(2), a.long(0, 1024L), a.int(1, 1024))
      },
      // ---- two relations: the operators whose semantics NEED a query,
      // benchmark, index or target side
      "graft_bm25" -> (a => TextAnalysis.bm25TopK(a.rel(0), a.rel(1), a.int(0, 10))),
      "graft_decontaminate" -> (a => Curation.contamination(a.rel(0), a.rel(1), a.int(0, 3))),
      "graft_admit" -> (a => Dedup.incrementalAdmit(a.rel(0), a.rel(1))),
      // winnow-level admission; args (k, w, minShared, dfCap). The second
      // relation dispatches on SHAPE: a (doc_id, fp) relation — the
      // graft_winnow_index artifact, typically a managed table — is
      // probed AS the index (no rebuild job in the probe plan); anything
      // else is the HISTORY corpus and the df-capped index builds in-call
      "graft_winnow_admit" -> { a =>
        val (inc, second) = (a.rel(0), a.rel(1))
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
          else Dedup.winnowedIndex(second, a.int(0, 4), a.int(1, 4), a.int(3, 64))
        Dedup.winnowAdmit(inc, idx, a.int(0, 4), a.int(1, 4), a.int(2, 2))
      },
      "graft_contamination_frac" -> (a =>
        Curation.contaminationScore(a.rel(0), a.rel(1), a.num(0, 0.2))),
      // DSIR importance selection: the corpus docs whose hashed-unigram
      // distribution best matches the target relation; args (k, buckets)
      "graft_dsir_select" -> (a =>
        Selection.dsirSelect(a.rel(0), a.rel(1), a.int(0, 100), a.int(1, 256))),
      // the un-truncated sibling: every corpus doc's importance score —
      // feed a threshold, a weighted sampler, or a mixture solver; args
      // (buckets)
      "graft_dsir_score" -> (a => Selection.dsirScores(a.rel(0), a.rel(1), a.int(0, 256))),
      // embedding-level decontamination (hashed-embedding cosine >= tau);
      // args: (dim, tau)
      "graft_semantic_decontam" -> (a => Curation.semanticContamination(a.rel(0), a.rel(1),
        a.int(0, 16), a.num(1, 0.95))),
      // dataset-version drift: per doc_id added/removed/changed/unchanged
      "graft_corpus_diff" -> (a => Curation.corpusDiff(a.rel(0), a.rel(1))),
      // ---- a session temp view named by a string: operators whose input
      // needs an embedding ARRAY column, which managed tables (restricted
      // to the reference's 8 scalar types) can never host. A user
      // registers an embedding-typed DataFrame once and reaches SemDeDup /
      // k-means from pure SQL with the DataFrame API's exact semantics.
      "graft_semdedup" -> { a =>
        val rel = a.view(0)
        Dedup.semDedup(
          Similarity.assignCells(rel, Similarity.trainQuantizer(rel, a.int(1, 16))), a.num(0, 0.8))
      },
      "graft_kmeans" -> { a =>
        val rel = a.view(0)
        Similarity.lloydAssign(rel, seeds(rel, a.int(0, 8)), a.int(1, 2))
      },
      // the s10/m06 gate quantizer from SQL: sha-fold seeded cells
      // (deterministic, oracle-replayable — see Similarity.seededCells)
      "graft_seeded_cells" -> (a => Similarity.seededCells(a.view(0), a.int(0, 0))),
      // seeded SemDeDup: the fully deterministic keep/drop spelling
      "graft_semdedup_seeded" -> (a =>
        Dedup.semDedup(Similarity.seededCells(a.view(0), a.int(1, 0)), a.num(0, 0.8))),
      // k-NN label propagation: both views are (vec_id, embedding[, label])
      // — the labeled side needs `label`, the query side is renamed here
      "graft_knn_label" -> (a =>
        Similarity.knnLabel(a.view(0), asQueries(a.view(1)), a.int(0, 5))),
      // product-quantization ANN: both views are (vec_id, embedding);
      // the quantizer trains on the base view (bounded deterministic
      // sample), codes scan narrow, ADC tables broadcast with the
      // queries. args: (k, m, k_per_subspace, excludeSelf) —
      // excludeSelf defaults 1 (the corpus-ANN convention: vec_id =
      // query_id is a self-pair); pass 0 when the two views use
      // INDEPENDENT id spaces, or an id-sharing true neighbor is
      // silently dropped
      "graft_pq_topk" -> { a =>
        val base = a.view(0)
        Similarity.pqTopK(base, asQueries(a.view(1)),
          Similarity.pqTrain(base, a.int(1, 16), a.int(2, 64)), a.int(0, 10),
          excludeSelf = a.num(3, 1.0) != 0.0)
      },
      // two-stage PQ: ADC shortlist -> exact cosine re-rank of the
      // shortlist only. args: (k, shortlist, m, k_per_subspace,
      // excludeSelf) — see graft_pq_topk for the excludeSelf contract
      "graft_pq_rerank" -> { a =>
        val base = a.view(0)
        Similarity.pqTopKReranked(base, asQueries(a.view(1)),
          Similarity.pqTrain(base, a.int(2, 16), a.int(3, 64)), a.int(0, 10), a.int(1, 0),
          excludeSelf = a.num(4, 1.0) != 0.0)
      },
      // IVF-ADC: coarse cells + PQ over residuals, probed per query.
      // args: (k, nprobe, cells, m, k_per_subspace, excludeSelf) — see
      // graft_pq_topk for the excludeSelf contract
      "graft_ivfpq_topk" -> { a =>
        val base = a.view(0)
        val (km, pq) = Similarity.ivfPqTrain(base, a.int(2, 16), a.int(3, 16), a.int(4, 64))
        Similarity.ivfPqTopK(base, asQueries(a.view(1)), km, pq, a.int(0, 10), a.int(1, 4),
          excludeSelf = a.num(5, 1.0) != 0.0)
      },
      // graft_embed_admit('inc_view', 'hist_view'[, tau[, k]]) admits the
      // increment against the history view's cell index; centroids are
      // the first k history vectors, so the call is deterministic
      "graft_embed_admit" -> { a =>
        val (inc, hist) = (a.view(0), a.view(1))
        val s = seeds(hist, a.int(1, 8))
        Similarity.incrementalEmbedAdmit(inc, Similarity.cellIndex(hist, s), s, a.num(0, 0.9))
      },
      // ---- PERSISTED artifacts: one string names a session view, the
      // other a filesystem path holding the index artifact set. These
      // close the deployment gap the view-pair ANN functions leave open
      // (those retrain in-call): graft_ivfpq_build trains + encodes +
      // persists ONCE, and every later graft_ivfpq_query — any session,
      // any statement — answers from the stored artifacts with no
      // training and no base-corpus access.
      // graft_ivfpq_build('base_view', 'path'[, cells[, m[, k_per_subspace]]])
      // -> one-row build report; the artifact write is EAGER (an index
      // build is a statement-level side effect, like INSERT)
      "graft_ivfpq_build" -> (a => Similarity.writeIvfPqIndex(a.view(0), a.str(1),
        a.int(0, 16), a.int(1, 16), a.int(2, 64))),
      // graft_ivfpq_query('path', 'queries_view'[, k[, nprobe[, excludeSelf]]])
      // -> (query_id, vec_id, dist, rank); probed cells become a STATIC
      // partition filter on the codes scan (plan-locked)
      "graft_ivfpq_query" -> (a => Similarity.ivfPqQueryIndex(asQueries(a.view(1)), a.str(0),
        a.int(0, 10), a.int(1, 4), excludeSelf = a.num(2, 1.0) != 0.0)),
      // graft_ivfpq_append('increment_view', 'path') -> (n_appended,
      // n_total): encode the increment with the STORED centroids/PQ (no
      // retraining) and append to the cell-partitioned code files
      "graft_ivfpq_append" -> (a => Similarity.appendIvfPqIndex(a.view(0), a.str(1))),
      // the admission family's artifact flow (graft_embed_admit rebuilds
      // the cell index per call — these persist it once):
      // graft_embed_build('hist_view', 'path'[, k]) -> (n_vectors, cells)
      "graft_embed_build" -> (a => Similarity.writeEmbedIndex(a.view(0), a.str(1), a.int(0, 8))),
      // graft_embed_admit_index('path', 'inc_view'[, tau]) — probes only
      // the increment's cells' files, never the history corpus
      "graft_embed_admit_index" -> (a =>
        Similarity.embedAdmitFromIndex(a.view(1), a.str(0), a.num(0, 0.9))),
      // graft_embed_admit_append('path', 'inc_view'[, tau]) — admit AND
      // write the admitted vectors back into the stored cell index, so
      // the next batch's clones reject with no rebuild (single-writer
      // maintenance, the graft_ivfpq_append posture)
      "graft_embed_admit_append" -> (a =>
        Similarity.embedAdmitAppend(a.view(1), a.str(0), a.num(0, 0.9))),
      // ---- one path: maintenance of a persisted artifact set.
      // graft_embed_compact('path') compacts the admission index's cells/
      // to one file per cell (each admit-append lands one file per
      // touched cell). Compaction is SELECTIVE: only fragmented cells are
      // rewritten, single-file cells keep their parts, and an
      // unfragmented index no-ops. Replaced parts stay readable until a
      // vacuum outlives the catalog's retention window
      "graft_embed_compact" -> (a => Similarity.compactEmbedIndex(spark, a.str(0))),
      // the codes-side twin: graft_ivfpq_append fragments codes/ the same way
      "graft_ivfpq_compact" -> (a => Similarity.compactIvfPqIndex(spark, a.str(0))),
      // stale-lock recovery: a crashed maintainer's stamped `_lock` is
      // removed by an EXPLICIT operator decision — returns (unlocked,
      // holder) so the takeover is audited, never a silent timeout
      "graft_maintenance_unlock" -> (a => Similarity.maintenanceUnlock(spark, a.str(0))),
      // ---- the table IDENTITY rather than its current snapshot: the
      // time-travel reads. graft_at_version(t, v) is the table as of
      // snapshot v; graft_at_time(t, millis) the newest version published
      // <= millis (the reference's MVCC read rule,
      // src/tablet/memory.rs:73-81)
      "graft_at_version" -> { a =>
        val (d, s, t) = a.table(0)
        readTableAt(d, s, t, a.long(0, catalog.currentVersion(d, s, t)))
      },
      "graft_at_time" -> { a =>
        val (d, s, t) = a.table(0)
        readTableAt(d, s, t, catalog.versionAsOf(d, s, t, a.long(0, System.currentTimeMillis())))
      },
      "graft_changes" -> { a =>
        val (d, s, t) = a.table(0)
        readTableChanges(d, s, t, a.long(0, 0L), a.long(1, catalog.currentVersion(d, s, t)))
      },
      "graft_versions" -> { a =>
        val (d, s, t) = a.table(0)
        catalog.versionHistory(d, s, t).toDF("version", "publish_millis", "n_parts")
      },
      // TABLE maintenance from pure SQL — the managed-table twins of the
      // index functions: the side effect runs EAGERLY at statement
      // resolution. graft_table_compact(t[, target_file_bytes]) merges
      // the one-file-per-INSERT parts into ~target-size files
      // (PK-clustered, see compactTable) and publishes one new version;
      // returns (files_before, files_after)
      "graft_table_compact" -> { a =>
        val (d, s, t) = a.table(0)
        Seq(compactTable(d, s, t, a.long(0, 128L << 20))).toDF("files_before", "files_after")
      },
      // graft_table_vacuum(t[, retention_ms]) reclaims parts superseded
      // longer than the retention window (0 forces immediate
      // reclamation); returns the reclaimed-file count. Expired snapshots
      // then fail LOUDLY as vacuumed (never silently empty)
      "graft_table_vacuum" -> { a =>
        val (d, s, t) = a.table(0)
        Seq(vacuumTable(d, s, t, a.long(0, SqlEngine.defaultVacuumRetentionMs))).toDF("reclaimed")
      })
  }

  // ---------- maintenance ----------

  /** Compacts a table's accumulated small parquet parts (one per INSERT
    * statement) into ≈128 MB files — the small-files maintenance every
    * parquet store needs at scale, and the analogue of the reference's
    * memtable→file compaction (src/tablet/service.rs:242-294). Runs under
    * the table write lock, so it serializes with INSERTs; it rewrites its
    * staging's base version and publishes one new version — readers that
    * planned against an older one keep their snapshot (old parts stay on
    * disk until [[vacuumTable]]). Row content, schema, and serial counters
    * are untouched. Returns (filesBefore, filesAfter). See [[merge]] for
    * how the parts are written. */
  def compactTable(db: String, schema: String, table: String, targetFileBytes: Long = 128L << 20): (Int, Int) =
    catalog.withTableWriteLock(db, schema, table) {
      val (nFiles, bytes) = catalog.dataFileStats(db, schema, table)
      val target = SqlEngine.compactedTarget(bytes, targetFileBytes)
      if (nFiles <= 1 || target >= nFiles) (nFiles, nFiles)
      else {
        staged(db, schema, table) { staging =>
          merge(db, schema, table, catalog.partPathsAt(db, schema, table, PartSet.baseOf(staging)), target,
            staging)
          catalog.replaceData(db, schema, table, staging)
        }
        (nFiles, catalog.dataFileStats(db, schema, table)._1)
      }
    }

  /** The auto-compaction of [[publish]], tiered as an LSM tree merges
    * beside its writer (O'Neil et al., Acta Informatica 1996): the base is
    * the `target` largest parts of the staging's base version, by
    * uncompressed row-group bytes, and every other part is the tail. The
    * tail is merged into one part that replaces it (`Catalog.replaceParts`),
    * so a compaction rewrites the rows added since the last full rewrite,
    * not the table. Once the tail holds more than [[SqlEngine.TailFraction]]
    * of the base's bytes, the whole table is rewritten into `target` parts
    * instead. The caller holds the table write lock. */
  private def compactTail(db: String, schema: String, table: String, target: Int): Unit =
    staged(db, schema, table) { staging =>
      val names = catalog.partsAt(db, schema, table, PartSet.baseOf(staging))
      val dir = Paths.get(catalog.dataDir(db, schema, table))
      val paths = names.map(dir.resolve(_).toString)
      val bytes = GraftParquetBridge.rowGroupBytes(spark, paths)
      val base = names.indices.sortBy(-bytes(_)).take(target).toSet
      val tail = names.indices.filterNot(base)
      if (tail.map(bytes).sum > SqlEngine.TailFraction * base.toSeq.map(bytes).sum) {
        merge(db, schema, table, paths, target, staging)
        catalog.replaceData(db, schema, table, staging)
      } else {
        merge(db, schema, table, tail.map(paths), 1, staging)
        catalog.replaceParts(db, schema, table, staging, tail.map(names))
      }
    }

  /** Writes the rows of the parts `paths` into `staging` as `count` parts.
    * Tables with a PRIMARY KEY are CLUSTERED on it (ascending, NULLs
    * first): the reference's tables are key-ordered by construction
    * (tablet files hold sorted key ranges, so its compaction preserves key
    * order for free), and the parquet equivalent is disjoint per-file key
    * ranges with ordered row groups — point/range predicates on the key
    * then skip whole parts at planning (their footer statistics,
    * `GraftParquetBridge.fileIndex`) and row groups within the parts they
    * read, the 100 TB analogue of the reference's primary-index seek.
    * Key-less tables keep list order.
    *
    * One output part whose inputs fit the bridge's local read cap (8 MB of
    * uncompressed row groups) is read, sorted with Catalyst's ordering and
    * written on the calling thread: no job, no forked process. A 20,000-row
    * table plus 16 small parts took 176 ms as a one-task Spark job and
    * 53 ms here; its 16 small parts alone, 151 and 33 ms (`local[4]` on a
    * 4-core host, medians of 15). Anything larger is one Spark job:
    * `coalesce(1)` and a sort within it, or a range shuffle into several
    * sorted parts. */
  private def merge(db: String, schema: String, table: String, paths: Seq[String], count: Int,
      staging: Path): Unit = {
    val desc = catalog.getTable(db, schema, table)
    val st = desc.toStructType
    val pk = desc.indices.find(_.isPrimary).toSeq.flatMap(_.columnIds.map(id => st.fieldIndex(desc.column(id).name)))
    (if (count == 1) GraftParquetBridge.localRows(spark, paths, st) else None) match {
      case Some(rows) =>
        val order = new InterpretedOrdering(
          pk.map(i => SortOrder(BoundReference(i, st(i).dataType, nullable = true), Ascending)))
        // the schema a scan of the parts hands a writer job (engine columns are flat)
        GraftParquetBridge.writeRows(spark, staging.toString, StructType(st.map(_.copy(nullable = true))),
          (if (pk.isEmpty) rows else rows.sorted(order)).iterator)
      case None =>
        val data = GraftParquetBridge.readParts(spark, paths, st)
        val keys = pk.map(i => col(st(i).name))
        val clustered =
          if (keys.isEmpty) data.coalesce(count)
          else if (count == 1) data.coalesce(1).sortWithinPartitions(keys: _*)
          else data.repartitionByRange(count, keys: _*).sortWithinPartitions(keys: _*)
        clustered.write.mode("overwrite").parquet(staging.toString)
    }
  }

  /** Runs `body` on a fresh staging directory of the table; a failure
    * discards the directory and rethrows. */
  private def staged[T](db: String, schema: String, table: String)(body: Path => T): T = {
    val staging = catalog.newStagingDir(db, schema, table)
    try body(staging)
    catch {
      case e: Throwable =>
        try catalog.discardStaged(staging) catch { case _: Throwable => }
        throw e
    }
  }

  /** Reclaims parts superseded by compaction once they have been dead for
    * `retentionMs`. The default grace window keeps a part on disk long
    * enough for queries planned against the pre-compaction version to
    * drain — compact-then-vacuum in quick succession cannot break an
    * in-flight reader. Pass 0 to force immediate reclamation (tests,
    * decommissioning). */
  def vacuumTable(db: String, schema: String, table: String,
      retentionMs: Long = SqlEngine.defaultVacuumRetentionMs): Int =
    catalog.withTableWriteLock(db, schema, table) {
      catalog.vacuum(db, schema, table, retentionMs)
    }

  // ---------- session functions (reference A7) ----------

  /** PG session functions and their values, bound to this engine's
    * connection (reference: src/sql/postgresql/functions/mod.rs:31-193;
    * bare `user` aliases current_user at :125). Spark has same-named
    * builtins bound to the OS/Spark user, so the [[Binder]] replaces each
    * call, at any expression depth, with a literal. */
  private val sessionValues: Map[String, Any] = Map(
    "current_catalog" -> ctx.database, "current_database" -> ctx.database,
    "current_schema" -> "public",
    "current_user" -> ctx.user, "current_role" -> ctx.user, "session_user" -> ctx.user,
    "user" -> ctx.user,
    "inet_client_port" -> ctx.port)

  // ---------- insert path ----------
  // Parity with InsertExec + prefill (reference: src/sql/plan/insert.rs:55-247,
  // src/sql/client.rs:247-313): validate target columns, fill NULLs for
  // missing nullable columns, assign serial values from the table counter,
  // enforce unique indexes, append atomically, return a 1-row `count`.
  //
  // Where the checks run follows the shape of the optimized candidate
  // (`source.select(preCols)`); no option picks it:
  //  - a LocalRelation — VALUES, and Project/Filter/Limit over it, which
  //    Spark folds, or over a table small enough that the planner reads it
  //    on the calling thread (`GraftPlanBridge`) — already holds its rows
  //    on the driver. Counting, the NOT NULL and narrowing checks and
  //    in-batch uniqueness run there, and the rows are written as one part
  //    on the calling thread through Spark's Parquet write support and
  //    java.nio ([[GraftParquetBridge]]): 0 jobs and no forked process. A
  //    one-task write job would cost ~100 ms of driver-bound scheduling and
  //    output committing for a few rows, and the version file is the
  //    commit anyway. A UNIQUE index not
  //    covered by fresh serials adds, on a non-empty table, one filtered
  //    read of the candidate keys: no job while the parts it keeps are
  //    small, else 1.
  //  - any other plan (INSERT … SELECT over tables above that size, or
  //    with a sort, join or aggregate) stays distributed: a persisted
  //    candidate, one fused count/NOT NULL pass, a groupBy and a semi-join
  //    per UNIQUE index, and Spark's parallel write.
  // Both share the serial reservation, the error order, and the locked
  // check/stage/commit/auto-compaction window ([[publish]]), whose tiered
  // merge of a small table also runs on the calling thread.

  private def insert(ins: Insert): DataFrame = {
    val (db, schema, table) = resolve(ins.table)
    val desc = catalog.getTable(db, schema, table)

    // source: VALUES/SELECT planned through the SAME path as queries —
    // non-public schemas, cross-database, information_schema, table
    // functions and session functions behave identically here
    val source = plan(ins.restSql)

    val provided: Seq[String] = ins.columns.getOrElse(desc.columns.map(_.name))
    if (provided.distinct.length != provided.length)
      throw SqlError.invalid(s"duplicate target columns in INSERT into $table")
    provided.foreach { c =>
      if (desc.findColumn(c).isEmpty) throw SqlError.invalid(s"table $table has no column $c")
    }
    if (source.columns.length != provided.length)
      throw SqlError.invalid(
        s"INSERT into $table has ${source.columns.length} expressions but ${provided.length} target columns")

    // type validation (reference validate_column: src/sql/client.rs:247-264);
    // source columns bind by position, as in PG, so two of one name do not
    // collide
    val byTarget: Map[String, (Column, DataType)] = provided.zip(
      source.queryExecution.analyzed.output.map(a => GraftColumnBridge.column(a) -> a.dataType)).toMap
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
        val (sc, srcType) = byTarget(tgt)
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
        Some(byTarget(c.name)._1.cast(c.typeKind.sparkType).as(c.name))
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
    * the part is written on this thread, and the only job is, when needed
    * and the table is large, one existing-keys scan. */
  private def insertLocal(w: InsertWork, pre: DataFrame): Long = {
    val rows = pre.collect() // a LocalRelation: no job
    val (n, nullCounts) = SqlEngine.rowStats[Row](rows.iterator, w.checkIdx, _.isNullAt(_))
    val starts = reserveSerials(w, n)
    requireNotNull(w, nullCounts)

    val outSchema = StructType(w.desc.columns.map { c =>
      if (starts.contains(c.id)) StructField(c.name, c.typeKind.sparkType, nullable = false)
      else pre.schema(c.name)
    })
    val srcIdx = w.desc.columns.map(c => if (starts.contains(c.id)) -1 else pre.columns.indexOf(c.name))
    val out: Array[Row] = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(w.desc.columns.zip(srcIdx).map {
        case (c, -1) => SqlEngine.serialValue(c.typeKind, starts(c.id) + i)
        case (_, j) => r.get(j)
      })
    }

    publish(w, dir => GraftParquetBridge.writePart(spark, dir, outSchema, out.iterator)) {
      if (n > 0) {
        lazy val tableEmpty = catalog.tableIsEmpty(w.db, w.schema, w.table)
        enforceUnique(w,
          inBatchDup = (keys, nullsDistinct) => {
            val idx = keys.map(outSchema.fieldNames.indexOf(_))
            val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
            out.exists { r =>
              val k = SqlEngine.keyOf(r, idx)
              !(nullsDistinct && k.contains(null)) && !seen.add(k)
            }
          },
          existingConflict = (keys, nullsDistinct) =>
            !tableEmpty && existingKeyHit(w, out, outSchema.fieldNames, keys, nullsDistinct))
      }
    }
    n
  }

  /** Reads the table for the candidate keys — `isin` per column (an
    * equality disjunction for floating columns, where SQL equality folds
    * -0.0/0.0 and NaN but a value set would not) — and matches the few
    * rows that come back exactly on the driver. The probe is planned like
    * an engine statement (`GraftPlanBridge.frame`): footer statistics skip
    * parts, and when the parts left are small they are read on the calling
    * thread, with no job; otherwise it is one `collect` job. Not
    * `limit(1)`/`isEmpty`: `executeTake` scales up and runs several jobs on
    * a miss, and a miss is the common case. */
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
    val probe = existing.filter(member.reduce(_ && _)).select(keys.map(existing(_)): _*)
    GraftPlanBridge.frame(spark, probe.queryExecution.analyzed).collect()
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
        pre.select(w.desc.columns.map { c =>
          starts.get(c.id) match {
            case Some(start) => graft.functions.partitionOffsetId(offsets.map(_ + start))
              .cast(c.typeKind.sparkType).as(c.name)
            case None => col(c.name)
          }
        }: _*)
      }
      requireNotNull(w, nullCounts)

      publish(w, dir => cand.write.mode("overwrite").parquet(dir)) {
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
    * src/sql/client.rs:276-306). `write` puts the candidate's parts into
    * the staging directory it is given: Spark's parallel writer on the
    * distributed path, one part written on this thread on the
    * driver-resident one. Either way the version file `commitStaged`
    * links is the commit. The staging opens before `check`, so the check
    * reads a snapshot no older than the commit's base; a commit another
    * instance makes in between fails this one with [[SqlError.conflict]]. */
  private def publish(w: InsertWork, write: String => Unit)(check: => Unit): Unit =
    catalog.withTableWriteLock(w.db, w.schema, w.table) {
      // atomic append: stage then link a version
      staged(w.db, w.schema, w.table) { staging =>
        check
        write(staging.toString)
        catalog.commitStaged(w.db, w.schema, w.table, staging)
      }

      // opportunistic compaction at commit (reference: the tablet
      // compacts once accumulated log messages pass a threshold,
      // src/tablet/service.rs:393-399): a many-small-INSERT workload
      // self-heals instead of accumulating one part per statement
      // until someone calls compactTable. Runs on the committing
      // thread inside the SAME write window (the table monitor is
      // reentrant), so it serializes with concurrent inserts exactly
      // like the insert itself; readers keep their planned snapshots
      // (compaction publishes a new version, old parts stay until
      // vacuum). Every ~Nth INSERT pays one tiered merge
      // ([[compactTail]]): the parts added since the last full rewrite,
      // read, sorted and written on this thread while they are small, so
      // the commit window runs no job. One that loses to another instance
      // is left to a later INSERT.
      //
      // The trigger counts parts ABOVE the table's compacted target
      // (ceil(bytes / 128MB)), not absolute parts: a table whose
      // compacted form already holds >= threshold files would otherwise
      // re-trigger on EVERY insert once it passes ~threshold*128MB.
      if (autoCompactAfterParts > 0) {
        val (nFiles, bytes) = catalog.dataFileStats(w.db, w.schema, w.table)
        val target = SqlEngine.compactedTarget(bytes, autoCompactTargetFileBytes)
        if (nFiles - target >= autoCompactAfterParts)
          try compactTail(w.db, w.schema, w.table, target)
          catch { case e: SqlError if e.kind == SqlError.Conflict => }
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
