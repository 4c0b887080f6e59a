package graft.catalog

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{GraftParquetBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.engine.{Catalog => EngineCatalog, ColumnTypeKind, SqlError, TableDescriptor, TableDescriptorBuilder}

/** DataSource V2 `TableCatalog` over the engine's warehouse — SURVEY
  * §1.4's idiomatic upgrade: register
  * `spark.sql.catalog.graft = graft.catalog.GraftCatalog` (+
  * `spark.sql.catalog.graft.warehouse = <dir>`) and plain `spark.sql`
  * resolves `graft.<db>.<table>` / `graft.<db>.<schema>.<table>` with no
  * temp views, across ALL databases at once, on the engine's own
  * `Catalog.open(warehouse)`. Reads are Spark's `ParquetScanBuilder` over
  * the live version's `GraftParquetBridge.fileIndex` and the descriptor's
  * schema, the plugin analogue of the reference's `TableProvider` handing
  * DataFusion an Arrow-typed scan (src/sql/plan/table.rs:160-266).
  *
  * The plugin surface is READ + DDL only: `GraftTable` deliberately does
  * not implement `SupportsWrite`, because a plain parquet append would
  * bypass the engine's INSERT pipeline (serial assignment, constraint
  * enforcement, staged atomic commit) — writes go through
  * `SqlEngine.execute("INSERT ...")`, exactly as the reference funnels
  * every write through its transactional `InsertExec`.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var engineCatalog: EngineCatalog = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null, s"spark.sql.catalog.$name.warehouse must be set")
    engineCatalog = EngineCatalog.open(wh)
  }

  override def name(): String = catalogName

  /** `graft.db.t` → (db, public, t); `graft.db.schema.t` → (db, schema, t)
    * — the reference's `name.resolve(default_catalog, "public")` rule
    * (src/sql/traits.rs:80-83). */
  private def resolve(ident: Identifier): (String, String, String) = ident.namespace() match {
    case Array(db) => (db, "public", ident.name())
    case Array(db, schema) => (db, schema, ident.name())
    case _ => throw new NoSuchTableException(ident)
  }

  // ---------- tables ----------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val (db, schema) = namespace match {
      case Array(d) => (d, "public")
      case Array(d, s) => (d, s)
      case _ => throw new NoSuchNamespaceException(namespace)
    }
    // check the full namespace here: leaking the engine's SqlError from
    // listTables would break the TableCatalog contract (Spark expects
    // NoSuchNamespaceException → a proper SCHEMA_NOT_FOUND error)
    if (!namespaceExists(Array(db, schema))) throw new NoSuchNamespaceException(namespace)
    engineCatalog.listTables(db, schema).map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    val (db, schema, table) = resolve(ident)
    engineCatalog.databaseExists(db) && engineCatalog.tableExists(db, schema, table)
  }

  override def loadTable(ident: Identifier): Table = {
    val (db, schema, table) = resolve(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val desc = engineCatalog.getTable(db, schema, table)
    // scan the MANIFEST snapshot, not the directory — after a compaction
    // the directory holds vacuum-pending parts a listing would double-read
    val spark = SparkSession.active
    new GraftTable(s"$catalogName.$db.$schema.$table", desc, spark,
      GraftParquetBridge.fileIndex(spark, engineCatalog.livePartPaths(db, schema, table), None))
  }

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val (db, dbSchema, table) = resolve(ident)
    if (partitions.nonEmpty)
      throw SqlError.unsupported("partitioned tables through the graft catalog")
    val b = new TableDescriptorBuilder(table)
    schema.fields.foreach { f =>
      b.addColumn(f.name, kindOf(f.dataType), None)
      b.setNullable(f.nullable)
    }
    // primary key from table property (mandatory, as in the engine's DDL —
    // the reference requires a primary index, src/sql/shared.rs:156-158)
    val pk = Option(properties.get("primary_key")).getOrElse(
      throw SqlError.invalid(s"table $table defines no primary index " +
        "(set TBLPROPERTIES('primary_key'='col[,col]'))"))
    b.addPrimaryIndex(None, pk.split(",").map(_.trim).toSeq)
    engineCatalog.createTable(db, dbSchema, b, ifNotExists = false)
    loadTable(ident)
  }

  private def kindOf(t: DataType): ColumnTypeKind = t match {
    case BooleanType => ColumnTypeKind.BooleanKind
    case ShortType => ColumnTypeKind.Int16Kind
    case IntegerType => ColumnTypeKind.Int32Kind
    case LongType => ColumnTypeKind.Int64Kind
    case FloatType => ColumnTypeKind.Float32Kind
    case DoubleType => ColumnTypeKind.Float64Kind
    case BinaryType => ColumnTypeKind.BytesKind
    case StringType => ColumnTypeKind.StringKind
    case other => throw SqlError.unsupported(s"data type ${other.simpleString}")
  }

  // Unsupported mutations throw the JDK type the TableCatalog /
  // SupportsNamespaces contract specifies — Spark code paths catch
  // UnsupportedOperationException and translate it to the proper SQL error
  // condition; a raw engine SqlError would leak through them (same reason
  // listTables translates to NoSuchNamespaceException above).
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"$catalogName catalog does not support ALTER TABLE")

  override def dropTable(ident: Identifier): Boolean = {
    val (db, schema, table) = resolve(ident)
    if (!tableExists(ident)) return false
    engineCatalog.dropTable(db, schema, table, ifExists = true)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName catalog does not support RENAME TABLE")

  // ---------- namespaces ----------

  override def listNamespaces(): Array[Array[String]] =
    engineCatalog.listDatabases().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = namespace match {
    case Array() => listNamespaces()
    case Array(db) if engineCatalog.databaseExists(db) =>
      engineCatalog.listSchemas(db).map(s => Array(db, s)).toArray
    case Array(db, s) if engineCatalog.databaseExists(db) &&
      engineCatalog.listSchemas(db).contains(s) => Array.empty
    case _ => throw new NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = namespace match {
    case Array(db) => engineCatalog.databaseExists(db)
    case Array(db, s) => engineCatalog.databaseExists(db) && engineCatalog.listSchemas(db).contains(s)
    case _ => false
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Map.of()
  }

  /** CREATE NAMESPACE graft.db — the engine's CREATE DATABASE (implicit
    * `public` schema); two-level creation is rejected like the reference
    * rejects CREATE SCHEMA (src/sql/mod.rs:108-128). */
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    namespace match {
      case Array(db) => engineCatalog.createDatabase(db, ifNotExists = false)
      case _ => throw SqlError.unsupported("CREATE SCHEMA ..")
    }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName catalog does not support ALTER NAMESPACE")

  /** No DROP DATABASE in the reference — parity. */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw SqlError.unsupported("DROP DATABASE ..")
}

/** Read-only V2 table: schema from the engine descriptor, scans from
  * Spark's V2 parquet scan builder over the snapshot's file index. No
  * `SupportsWrite` — see [[GraftCatalog]]. */
private[catalog] final class GraftTable(
    fullName: String, desc: TableDescriptor, spark: SparkSession, index: PartitioningAwareFileIndex)
  extends Table with SupportsRead {
  override def name(): String = fullName
  override def schema(): StructType = desc.toStructType
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def properties(): util.Map[String, String] =
    Map("primary_key" -> desc.primaryIndex.columnIds.map(desc.column(_).name).mkString(",")).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // nullable, as Spark's own file tables pass their schema
    val nullable = StructType(desc.toStructType.map(_.copy(nullable = true)))
    ParquetScanBuilder(spark, index, nullable, nullable, options)
  }
}
