package perfbench

import java.nio.file.Path

import graft.engine.{Catalog, ColumnDescriptor, TableDescriptor, TableDescriptorBuilder}

/** The engine's file-backed catalog with every public method wrapped in a
  * `catalog.<method>` span. Used only by traced runs; the untraced run
  * hands the engine a plain [[Catalog]].
  *
  * `withTableWriteLock` is not a span: its body is the whole INSERT check
  * and write, which belongs to the statement, not the catalog. The time
  * spent waiting for the monitor is recorded as `catalog.lock_wait` (and
  * counted as catalog time in the caller's span), the time it is held as
  * `catalog.lock_hold`.
  */
final class TracingCatalog(warehouse: String) extends Catalog(warehouse) {
  import Trace.span

  override def createDatabase(name: String, ifNotExists: Boolean): Unit =
    span("catalog.createDatabase")(super.createDatabase(name, ifNotExists))
  override def databaseExists(name: String): Boolean =
    span("catalog.databaseExists")(super.databaseExists(name))
  override def listDatabases(): Seq[String] = span("catalog.listDatabases")(super.listDatabases())
  override def listSchemas(db: String): Seq[String] = span("catalog.listSchemas")(super.listSchemas(db))
  override def createTable(db: String, schema: String, builder: TableDescriptorBuilder,
      ifNotExists: Boolean): Option[TableDescriptor] =
    span("catalog.createTable")(super.createTable(db, schema, builder, ifNotExists))
  override def tableExists(db: String, schema: String, table: String): Boolean =
    span("catalog.tableExists")(super.tableExists(db, schema, table))
  override def getTable(db: String, schema: String, table: String): TableDescriptor =
    span("catalog.getTable")(super.getTable(db, schema, table))
  override def listTables(db: String, schema: String): Seq[String] =
    span("catalog.listTables")(super.listTables(db, schema))
  override def dropTable(db: String, schema: String, table: String, ifExists: Boolean): Unit =
    span("catalog.dropTable")(super.dropTable(db, schema, table, ifExists))
  override def dataDir(db: String, schema: String, table: String): String =
    span("catalog.dataDir")(super.dataDir(db, schema, table))
  override def liveParts(db: String, schema: String, table: String): Seq[String] =
    span("catalog.liveParts")(super.liveParts(db, schema, table))
  override def livePartPaths(db: String, schema: String, table: String): Seq[String] =
    span("catalog.livePartPaths")(super.livePartPaths(db, schema, table))
  override def currentVersion(db: String, schema: String, table: String): Long =
    span("catalog.currentVersion")(super.currentVersion(db, schema, table))
  override def partsAt(db: String, schema: String, table: String, version: Long): Seq[String] =
    span("catalog.partsAt")(super.partsAt(db, schema, table, version))
  override def partPathsAt(db: String, schema: String, table: String, version: Long): Seq[String] =
    span("catalog.partPathsAt")(super.partPathsAt(db, schema, table, version))
  override def versionAsOf(db: String, schema: String, table: String, millis: Long): Long =
    span("catalog.versionAsOf")(super.versionAsOf(db, schema, table, millis))
  override def versionHistory(db: String, schema: String, table: String): Seq[(Long, Long, Int)] =
    span("catalog.versionHistory")(super.versionHistory(db, schema, table))
  override def partsAddedBetween(db: String, schema: String, table: String,
      fromV: Long, toV: Long): Seq[String] =
    span("catalog.partsAddedBetween")(super.partsAddedBetween(db, schema, table, fromV, toV))
  override def partPathsAddedBetween(db: String, schema: String, table: String,
      fromV: Long, toV: Long): Seq[String] =
    span("catalog.partPathsAddedBetween")(super.partPathsAddedBetween(db, schema, table, fromV, toV))
  override def tableIsEmpty(db: String, schema: String, table: String): Boolean =
    span("catalog.tableIsEmpty")(super.tableIsEmpty(db, schema, table))
  override def peekSerial(db: String, schema: String, table: String, columnId: Int): Long =
    span("catalog.peekSerial")(super.peekSerial(db, schema, table, columnId))
  override def reserveSerial(db: String, schema: String, table: String,
      column: ColumnDescriptor, n: Long): Long =
    span("catalog.reserveSerial")(super.reserveSerial(db, schema, table, column, n))
  override def setSerial(db: String, schema: String, table: String, columnId: Int, value: Long): Unit =
    span("catalog.setSerial")(super.setSerial(db, schema, table, columnId, value))
  override def commitStaged(db: String, schema: String, table: String, stagingDir: Path): Long =
    span("catalog.commitStaged")(super.commitStaged(db, schema, table, stagingDir))
  override def discardStaged(stagingDir: Path): Unit =
    span("catalog.discardStaged")(super.discardStaged(stagingDir))
  override def dataFileStats(db: String, schema: String, table: String): (Int, Long) =
    span("catalog.dataFileStats")(super.dataFileStats(db, schema, table))
  override def replaceData(db: String, schema: String, table: String, stagingDir: Path): Unit =
    span("catalog.replaceData")(super.replaceData(db, schema, table, stagingDir))
  override def vacuum(db: String, schema: String, table: String, retentionMs: Long): Int =
    span("catalog.vacuum")(super.vacuum(db, schema, table, retentionMs))
  override def newStagingDir(db: String, schema: String, table: String): Path =
    span("catalog.newStagingDir")(super.newStagingDir(db, schema, table))

  // the monitor is reentrant (an INSERT's auto-compaction re-enters it);
  // only the outermost acquisition is a wait/hold sample
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  override def withTableWriteLock[T](db: String, schema: String, table: String)(body: => T): T = {
    val t0 = System.nanoTime()
    super.withTableWriteLock(db, schema, table) {
      val outer = depth.get == 0
      depth.set(depth.get + 1)
      val t1 = System.nanoTime()
      if (outer) { Trace.add("catalog.lock_wait", t1 - t0); Trace.cover(t1 - t0) }
      try body
      finally {
        depth.set(depth.get - 1)
        if (outer) Trace.add("catalog.lock_hold", System.nanoTime() - t1)
      }
    }
  }
}
