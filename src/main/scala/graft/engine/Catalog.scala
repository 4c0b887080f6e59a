package graft.engine

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession.deleteRecursively

/** File-backed catalog over a warehouse directory.
  *
  * Layout: `<wh>/<db>/<schema>/<table>/` holding `descriptor.json`, a
  * `data/` dir of parquet parts, and `_serial/<columnId>` counter files.
  * Mirrors the semantics of the reference's
  * catalog-in-KV `_databases` meta-table (reference: src/sql/client.rs:98-195,
  * 445-564): three-level namespace, implicit `public` schema per database,
  * create/drop/list with IF [NOT] EXISTS tolerance, and a global id
  * allocator standing in for the KV `Increment`-driven serial id column.
  *
  * A table's data is a [[PartSet]], one version file per commit. In one
  * JVM, mutations synchronize on this object and per-table write locks.
  * Two instances on one warehouse (two processes) never overwrite each
  * other's commit: the later of two on one version fails with
  * [[SqlError.conflict]]. The `_ids` and `_serial/<columnId>` counters have
  * no such guard; [[Catalog.open]] keeps one instance per warehouse.
  */
object Catalog {
  /** Default [[Catalog.vacuum]] grace window: parts superseded more
    * recently than this stay on disk for in-flight readers. Lives HERE so
    * a direct caller of the catalog API gets the snapshot-safe behavior by
    * default — immediate reclamation (0) must be an explicit opt-in. */
  val defaultVacuumRetentionMs: Long = 10L * 60 * 1000

  /** Cap on retained version files per table: the commit of version `v`
    * deletes version `v − cap` (4096 outlives any vacuum retention window
    * by orders of magnitude). Versions older than the cap fail loudly as
    * expired when time-traveled to. */
  val maxVersionHistory: Int = 4096

  private val opened = new java.util.concurrent.ConcurrentHashMap[String, Catalog]()

  /** The catalog of `warehouse` (created if missing), one per real path for
    * the life of the JVM: every mutation synchronizes on the instance, so
    * two on one warehouse would allocate ids under different monitors. */
  def open(warehouse: String): Catalog = {
    val root = Files.createDirectories(Paths.get(warehouse)).toRealPath().toString
    opened.computeIfAbsent(root, new Catalog(_))
  }
}

class Catalog(val warehouse: String,
    maxVersionHistory: Int = Catalog.maxVersionHistory) {
  private val root: Path = Paths.get(warehouse)
  Files.createDirectories(root)

  private def idsFile = root.resolve("_ids")

  /** Global id allocator (reference: `_databases.id` serial column). */
  private def nextId(): Long = synchronized {
    val next = readCounter(idsFile) + 1
    writeCounter(idsFile, next)
    next
  }

  // Counter files (`_ids`, `_serial/<columnId>`) are replaced, never
  // rewritten in place ([[PartSet.replaceFile]]). A
  // crash mid-write leaves only a stray temp file — the counter keeps its
  // last committed value instead of reading back empty (which would fail
  // every later INSERT) or losing its value (which would reissue keys).
  private def readCounter(f: Path): Long =
    if (Files.exists(f)) Files.readString(f).trim.toLong else 0L

  private def writeCounter(f: Path, value: Long): Unit = PartSet.replaceFile(f, value.toString)

  private def dbPath(db: String): Path = root.resolve(db)
  private def schemaPath(db: String, schema: String): Path = dbPath(db).resolve(schema)
  private def tablePath(db: String, schema: String, table: String): Path =
    schemaPath(db, schema).resolve(table)

  // ---------- databases ----------

  /** Creates the database plus its implicit `public` schema
    * (reference: src/sql/client.rs:118-166). */
  def createDatabase(name: String, ifNotExists: Boolean): Unit = synchronized {
    val p = dbPath(name)
    if (Files.exists(p)) {
      if (ifNotExists) return
      throw SqlError.databaseAlreadyExists(name)
    }
    nextId() // database id
    nextId() // public schema id
    Files.createDirectories(p.resolve("public"))
  }

  def databaseExists(name: String): Boolean = Files.isDirectory(dbPath(name))

  def listDatabases(): Seq[String] =
    if (!Files.isDirectory(root)) Seq.empty
    else PartSet.list(root)
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filterNot(_.startsWith("_")).sorted

  def listSchemas(db: String): Seq[String] = {
    requireDatabase(db)
    PartSet.list(dbPath(db))
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
  }

  private def requireDatabase(db: String): Unit =
    if (!databaseExists(db)) throw SqlError.databaseNotExists(db)
  private def requireSchema(db: String, schema: String): Unit = {
    requireDatabase(db)
    if (!Files.isDirectory(schemaPath(db, schema))) throw SqlError.schemaNotExists(schema)
  }

  // ---------- tables ----------

  def createTable(
      db: String, schema: String,
      builder: TableDescriptorBuilder, ifNotExists: Boolean): Option[TableDescriptor] = synchronized {
    requireSchema(db, schema)
    val descriptor = builder.build(nextId())
    val p = tablePath(db, schema, descriptor.name)
    if (Files.exists(p)) {
      if (ifNotExists) return None
      throw SqlError.tableAlreadyExists(descriptor.name)
    }
    parts(db, schema, descriptor.name).create()
    Files.createDirectories(p.resolve("_serial"))
    Files.writeString(p.resolve("descriptor.json"), DescriptorJson.write(descriptor))
    Some(descriptor)
  }

  def tableExists(db: String, schema: String, table: String): Boolean =
    Files.exists(tablePath(db, schema, table).resolve("descriptor.json"))

  def getTable(db: String, schema: String, table: String): TableDescriptor = synchronized {
    requireSchema(db, schema)
    val f = tablePath(db, schema, table).resolve("descriptor.json")
    if (!Files.exists(f)) throw SqlError.tableNotExists(table)
    DescriptorJson.read(Files.readString(f))
  }

  def listTables(db: String, schema: String): Seq[String] = {
    requireSchema(db, schema)
    PartSet.list(schemaPath(db, schema))
      .filter(p => Files.exists(p.resolve("descriptor.json")))
      .map(_.getFileName.toString).sorted
  }

  /** Drops descriptor + all data (reference: src/sql/plan/drop_table.rs:35-123). */
  def dropTable(db: String, schema: String, table: String, ifExists: Boolean): Unit = synchronized {
    requireSchema(db, schema)
    val p = tablePath(db, schema, table)
    if (!Files.exists(p.resolve("descriptor.json"))) {
      if (ifExists) return
      throw SqlError.tableNotExists(table)
    }
    deleteRecursively(p)
  }

  // ---------- data (one PartSet per table) ----------
  // A table's data is a [[PartSet]] under its directory: `_versions/`,
  // `data/` and `.staging-*`. Each method below is
  // the set's method of the same name under this catalog's monitor; part
  // names are relative to `data/`, the `*Paths` forms absolute.

  private def parts(db: String, schema: String, table: String): PartSet =
    new PartSet(tablePath(db, schema, table), s"table $table", maxVersionHistory)

  def dataDir(db: String, schema: String, table: String): String =
    parts(db, schema, table).dataDir.toString
  def liveParts(db: String, schema: String, table: String): Seq[String] =
    synchronized { parts(db, schema, table).liveParts }
  def livePartPaths(db: String, schema: String, table: String): Seq[String] =
    synchronized { val set = parts(db, schema, table); set.absolute(set.liveParts) }
  def tableIsEmpty(db: String, schema: String, table: String): Boolean =
    synchronized { parts(db, schema, table).liveParts.isEmpty }

  // time travel and the change feed
  def currentVersion(db: String, schema: String, table: String): Long =
    synchronized { parts(db, schema, table).currentVersion }
  def partsAt(db: String, schema: String, table: String, version: Long): Seq[String] =
    synchronized { parts(db, schema, table).partsAt(version) }
  def partPathsAt(db: String, schema: String, table: String, version: Long): Seq[String] =
    synchronized { val set = parts(db, schema, table); set.absolute(set.partsAt(version)) }
  def versionAsOf(db: String, schema: String, table: String, millis: Long): Long =
    synchronized { parts(db, schema, table).versionAsOf(millis) }
  /** (version, publishMillis, partCount) — behind `graft_versions`. */
  def versionHistory(db: String, schema: String, table: String): Seq[(Long, Long, Int)] =
    synchronized { parts(db, schema, table).versionHistory }
  def partsAddedBetween(db: String, schema: String, table: String,
      fromV: Long, toV: Long): Seq[String] =
    synchronized { parts(db, schema, table).partsAddedBetween(fromV, toV) }
  def partPathsAddedBetween(db: String, schema: String, table: String,
      fromV: Long, toV: Long): Seq[String] = synchronized {
    val set = parts(db, schema, table)
    set.absolute(set.partsAddedBetween(fromV, toV))
  }

  // ---------- serial counters ----------
  // reference: counter at key 't'+table_id+'c'+column_id bumped via KV
  // Increment during insert prefill (src/sql/client.rs:266-313). Counter is
  // advanced BEFORE the data write — ids may have gaps on failed inserts,
  // same as the reference.

  private def serialFile(db: String, schema: String, table: String, columnId: Int): Path =
    tablePath(db, schema, table).resolve("_serial").resolve(columnId.toString)

  def peekSerial(db: String, schema: String, table: String, columnId: Int): Long =
    synchronized { readCounter(serialFile(db, schema, table, columnId)) }

  /** Reserves `n` values; returns the first reserved value (last+1).
    * Overflow-checked against the column type's ceiling
    * (reference: src/sql/client.rs:278-296). */
  def reserveSerial(
      db: String, schema: String, table: String,
      column: ColumnDescriptor, n: Long): Long = synchronized {
    if (!column.typeKind.serialCapable)
      throw SqlError.unexpected(
        s"column ${column.name} has type ${column.typeKind.name}, is not a serial column type")
    val f = serialFile(db, schema, table, column.id)
    val cur = readCounter(f)
    val last = cur + n
    if (last > column.typeKind.serialMax)
      throw SqlError.unexpected(s"column ${column.name} overflow")
    writeCounter(f, last)
    cur + 1
  }

  /** Test hook: force the counter (e.g. near the type ceiling). */
  def setSerial(db: String, schema: String, table: String, columnId: Int, value: Long): Unit =
    synchronized { writeCounter(serialFile(db, schema, table, columnId), value) }

  // ---------- staging and publish ----------

  def newStagingDir(db: String, schema: String, table: String): Path =
    synchronized { parts(db, schema, table).newStagingDir() }
  /** An INSERT's commit: appends the staged parts. */
  def commitStaged(db: String, schema: String, table: String, stagingDir: Path): Long =
    synchronized { parts(db, schema, table).commitStaged(stagingDir) }
  /** Abandons a staged write without publishing anything. */
  def discardStaged(stagingDir: Path): Unit = synchronized { deleteRecursively(stagingDir) }
  /** (count, bytes) of the live parts — compaction planning. */
  def dataFileStats(db: String, schema: String, table: String): (Int, Long) =
    synchronized { parts(db, schema, table).stats }
  /** A compaction's publish: the staged parts replace the parts of the
    * staging's base version, which the compaction read. Caller must hold
    * the table write lock. */
  def replaceData(db: String, schema: String, table: String, stagingDir: Path): Unit =
    synchronized {
      val set = parts(db, schema, table)
      set.replace(stagingDir, set.partsAt(PartSet.baseOf(stagingDir)))
    }
  /** A tail merge's publish: the staged parts replace the parts named
    * `drop` (relative to `data/`), which the merge read, in the newest
    * version. Caller must hold the table write lock. */
  def replaceParts(db: String, schema: String, table: String, stagingDir: Path, drop: Seq[String]): Unit =
    synchronized { parts(db, schema, table).replace(stagingDir, drop) }
  /** Reclaims parts superseded, and staging directories left, at least
    * `retentionMs` ago; returns the number of data files removed. */
  def vacuum(db: String, schema: String, table: String,
      retentionMs: Long = Catalog.defaultVacuumRetentionMs): Int =
    synchronized { parts(db, schema, table).vacuum(retentionMs) }

  // Per-table write monitors: an INSERT's uniqueness check and its staged
  // commit must be atomic WITH RESPECT TO EACH OTHER — two concurrent
  // inserts could otherwise both pass the check and both publish
  // (check-then-write race). The reference gets this from its
  // transactional commit; in one JVM this lock gives it, across instances
  // the put-if-absent version file.
  // Catalog methods stay individually synchronized; this lock spans the
  // whole check+write window and is striped per table so unrelated
  // tables never serialize.
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Object]()

  def withTableWriteLock[T](db: String, schema: String, table: String)(body: => T): T = {
    val lock = tableLocks.computeIfAbsent((db, schema, table), _ => new Object)
    lock.synchronized(body)
  }
}
