package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

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
  * Single-driver engine: all mutations synchronize on this object, which is
  * faithful to the reference's per-statement transactional writes at the
  * observable level (its own tests are single-node, single-client).
  */
object Catalog {
  /** Default [[Catalog.vacuum]] grace window: parts superseded more
    * recently than this stay on disk for in-flight readers. Lives HERE so
    * a direct caller of the catalog API gets the snapshot-safe behavior by
    * default — immediate reclamation (0) must be an explicit opt-in. */
  val defaultVacuumRetentionMs: Long = 10L * 60 * 1000

  /** Cap on retained `_versions` entries per table: bounds the metadata
    * rewrite cost of high-frequency INSERT workloads (the entries are a
    * few hundred bytes each; 4096 outlives any vacuum retention window by
    * orders of magnitude). Versions older than the cap fail loudly as
    * expired when time-traveled to. */
  val maxVersionHistory: Int = 4096
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
  // rewritten in place: the value goes to a dot-prefixed sibling temp file
  // which is then ATOMIC_MOVEd over the counter, as [[writeManifest]] does.
  // A crash mid-write leaves only a stray temp file — the counter keeps its
  // last committed value instead of reading back empty (which would fail
  // every later INSERT) or losing its value (which would reissue keys).
  private def readCounter(f: Path): Long =
    if (Files.exists(f)) Files.readString(f).trim.toLong else 0L

  private def writeCounter(f: Path, value: Long): Unit = {
    val tmp = f.resolveSibling(s".${f.getFileName}-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, value.toString)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `Files.list` streams hold a directory fd until closed; every listing
    * goes through this helper so a long-lived engine can't leak fds. */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

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
    else listDir(root)
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filterNot(_.startsWith("_")).sorted

  def listSchemas(db: String): Seq[String] = {
    requireDatabase(db)
    listDir(dbPath(db))
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
    Files.createDirectories(p.resolve("data"))
    Files.createDirectories(p.resolve("_serial"))
    Files.writeString(p.resolve("manifest"), "")
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
    listDir(schemaPath(db, schema))
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

  def dataDir(db: String, schema: String, table: String): String =
    tablePath(db, schema, table).resolve("data").toString

  // ---------- data snapshots (manifest) ----------
  // The table's LIVE file set is the `manifest` file (one part filename
  // per line), not the data directory listing: a reader resolves the
  // manifest at planning time and keeps a consistent snapshot even if a
  // compaction republishes the table mid-query (SURVEY §1.5 — the
  // observable analogue of the reference's snapshot reads; same reason
  // Iceberg/Delta list files through metadata, never the directory).
  // Manifest updates are write-temp + ATOMIC_MOVE, so readers see the old
  // or the new file set, never a mix.

  private def manifestFile(db: String, schema: String, table: String): Path =
    tablePath(db, schema, table).resolve("manifest")

  /** Live part filenames (relative to data/), manifest order. */
  def liveParts(db: String, schema: String, table: String): Seq[String] = synchronized {
    val f = manifestFile(db, schema, table)
    if (Files.exists(f)) Files.readString(f).split("\n").toSeq.filter(_.nonEmpty)
    else {
      // pre-manifest table (or foreign warehouse): the directory IS the
      // truth; adopt it
      val dir = tablePath(db, schema, table).resolve("data")
      if (!Files.isDirectory(dir)) Seq.empty
      else listDir(dir).map(_.getFileName.toString).filter(_.endsWith(".parquet")).sorted
    }
  }

  /** Absolute paths of the live parts — what a scan should read. */
  def livePartPaths(db: String, schema: String, table: String): Seq[String] = synchronized {
    val dir = tablePath(db, schema, table).resolve("data")
    liveParts(db, schema, table).map(p => dir.resolve(p).toString)
  }

  private def writeManifest(db: String, schema: String, table: String, parts: Seq[String]): Unit = {
    val f = manifestFile(db, schema, table)
    val tmp = f.resolveSibling(s".manifest-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, parts.mkString("\n"))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // every manifest publish is a retained SNAPSHOT VERSION (time travel)
    appendVersion(db, schema, table, parts)
  }

  // ---------- version history (time travel) ----------
  // Every manifest publish (INSERT commit, compaction swap) appends one
  // line "<version>\t<millis>\t<comma-joined parts>" to `_versions`;
  // version 0 is the empty table at creation. This is the observable
  // analogue of the reference's MVCC version chains: a read "as of"
  // resolves the newest version ≤ the requested point (reference: reads
  // return the newest version ≤ ts, src/tablet/memory.rs:73-81; planning
  // reads run at Snapshot semantics, src/sql/mod.rs:65). Old versions
  // stay readable until [[vacuum]] reclaims their superseded files — the
  // same retention contract as a table format's snapshot expiry. Ordinals
  // are EXPLICIT in the file so the history can be capped
  // ([[Catalog.maxVersionHistory]]) without renumbering: a trimmed or
  // vacuumed version fails loudly, never silently serves the wrong rows.

  private final case class VersionEntry(version: Long, millis: Long, parts: Seq[String])

  private def versionsFile(db: String, schema: String, table: String): Path =
    tablePath(db, schema, table).resolve("_versions")

  private def readVersions(db: String, schema: String, table: String): Seq[VersionEntry] = {
    val f = versionsFile(db, schema, table)
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
      line.split("\t", 3) match {
        case Array(v, ts, parts) =>
          for (vn <- v.toLongOption; t <- ts.toLongOption)
            yield VersionEntry(vn, t, parts.split(",").toSeq.filter(_.nonEmpty))
        case _ => None
      }
    }
  }

  private def writeVersions(db: String, schema: String, table: String,
      entries: Seq[VersionEntry]): Unit = {
    val f = versionsFile(db, schema, table)
    val tmp = f.resolveSibling(s".versions-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp,
      entries.map(e => s"${e.version}\t${e.millis}\t${e.parts.mkString(",")}").mkString("\n"))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def appendVersion(db: String, schema: String, table: String, parts: Seq[String]): Unit = {
    val entries = readVersions(db, schema, table)
    val next = entries.lastOption.map(_.version).getOrElse(0L) + 1L
    writeVersions(db, schema, table,
      (entries :+ VersionEntry(next, System.currentTimeMillis(), parts))
        .takeRight(maxVersionHistory))
  }

  /** Latest snapshot version (0 = empty table, no publishes yet). */
  def currentVersion(db: String, schema: String, table: String): Long = synchronized {
    readVersions(db, schema, table).lastOption.map(_.version).getOrElse(0L)
  }

  /** Part filenames of snapshot `version` (0 = the empty creation
    * snapshot). Throws if the version never existed, aged out of the
    * capped history, or its files were reclaimed by [[vacuum]]. */
  def partsAt(db: String, schema: String, table: String, version: Long): Seq[String] = synchronized {
    if (version == 0L) return Seq.empty
    val versions = readVersions(db, schema, table)
    val head = versions.lastOption.map(_.version).getOrElse(0L)
    if (version < 0L || version > head)
      throw SqlError.unexpected(
        s"table $table has no version $version (current: $head)")
    val entry = versions.find(_.version == version).getOrElse(
      throw SqlError.unexpected(
        s"version $version of table $table has expired from the version history"))
    val dir = tablePath(db, schema, table).resolve("data")
    val gone = entry.parts.filterNot(p => Files.exists(dir.resolve(p)))
    if (gone.nonEmpty)
      throw SqlError.unexpected(
        s"version $version of table $table has been vacuumed (missing: ${gone.head})")
    entry.parts
  }

  /** Absolute paths of snapshot `version`'s parts. */
  def partPathsAt(db: String, schema: String, table: String, version: Long): Seq[String] =
    synchronized {
      val dir = tablePath(db, schema, table).resolve("data")
      partsAt(db, schema, table, version).map(p => dir.resolve(p).toString)
    }

  /** Newest version whose publish time ≤ `millis` (the reference's
    * "newest version ≤ ts" MVCC read rule, src/tablet/memory.rs:73-81);
    * 0 when `millis` predates every publish of a COMPLETE history. When
    * the capped history has been trimmed, a `millis` older than the
    * oldest RETAINED publish must fail loudly like any expired-version
    * read — the true as-of snapshot existed but was dropped; silently
    * resolving it to the empty version-0 table would serve wrong rows. */
  def versionAsOf(db: String, schema: String, table: String, millis: Long): Long = synchronized {
    val versions = readVersions(db, schema, table)
    versions.filter(_.millis <= millis).lastOption.map(_.version).getOrElse {
      if (versions.headOption.exists(_.version > 1L))
        throw SqlError.unexpected(
          s"as-of time $millis predates table $table's retained version history " +
            s"(oldest retained: version ${versions.head.version})")
      0L
    }
  }

  /** Version history as (version, publishMillis, partCount) — the
    * metadata listing behind the `graft_versions` SQL surface. */
  def versionHistory(db: String, schema: String, table: String): Seq[(Long, Long, Int)] =
    synchronized {
      readVersions(db, schema, table).map(e => (e.version, e.millis, e.parts.size))
    }

  /** Part filenames ADDED in the version interval (`fromV`, `toV`] — the
    * CHANGE FEED of an append-only interval: INSERT commits strictly
    * append to the manifest, so the interval's row delta IS the file
    * delta. A compaction publish rewrites the file set instead; row-level
    * changes across it are not derivable from files, so that interval
    * raises (the consumer restarts from a full snapshot — the same
    * contract as a table format's incremental read across a rewrite). */
  def partsAddedBetween(db: String, schema: String, table: String,
      fromV: Long, toV: Long): Seq[String] = synchronized {
    val versions = readVersions(db, schema, table)
    val head = versions.lastOption.map(_.version).getOrElse(0L)
    if (fromV < 0L || toV > head || fromV > toV)
      throw SqlError.unexpected(
        s"invalid version interval ($fromV, $toV] for table $table (current: $head)")
    def entryAt(v: Long): VersionEntry = versions.find(_.version == v).getOrElse(
      throw SqlError.unexpected(
        s"version $v of table $table has expired from the version history"))
    var prev = if (fromV == 0L) Seq.empty[String] else entryAt(fromV).parts
    val added = Seq.newBuilder[String]
    ((fromV + 1) to toV).foreach { v =>
      val cur = entryAt(v).parts
      if (!cur.startsWith(prev))
        throw SqlError.unexpected(
          s"version interval ($fromV, $toV] of table $table contains a compaction publish; " +
            "row changes are not a file delta across a rewrite — restart from a full snapshot")
      added ++= cur.drop(prev.size)
      prev = cur
    }
    val dir = tablePath(db, schema, table).resolve("data")
    val parts = added.result()
    parts.find(p => !Files.exists(dir.resolve(p))).foreach { gone =>
      throw SqlError.unexpected(
        s"changes ($fromV, $toV] of table $table have been vacuumed (missing: $gone)")
    }
    parts
  }

  /** Absolute paths of [[partsAddedBetween]]. */
  def partPathsAddedBetween(db: String, schema: String, table: String,
      fromV: Long, toV: Long): Seq[String] = synchronized {
    val dir = tablePath(db, schema, table).resolve("data")
    partsAddedBetween(db, schema, table, fromV, toV).map(p => dir.resolve(p).toString)
  }

  /** O(1) metadata check: does the table hold any data files? */
  def tableIsEmpty(db: String, schema: String, table: String): Boolean = synchronized {
    liveParts(db, schema, table).isEmpty
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

  // ---------- staging (statement-atomic append) ----------

  /** Moves every parquet part file from `stagingDir` into the table's data
    * dir under fresh unique names and APPENDS them to the manifest — the
    * visible "commit" of an INSERT (observable parity with the reference's
    * transactional commit: src/sql/client.rs:67-80). A reader only sees
    * the new rows once the manifest move lands. */
  def commitStaged(db: String, schema: String, table: String, stagingDir: Path): Long = synchronized {
    val dataDirPath = tablePath(db, schema, table).resolve("data")
    // snapshot the live set BEFORE moving: the pre-manifest fallback lists
    // the directory, which would double-count the parts just moved in
    val prior = liveParts(db, schema, table)
    var moved = 0L
    val names = Seq.newBuilder[String]
    val parts = listDir(stagingDir)
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    parts.foreach { part =>
      val name = s"part-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}.parquet"
      Files.move(part, dataDirPath.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      names += name
      moved += 1
    }
    writeManifest(db, schema, table, prior ++ names.result())
    deleteRecursively(stagingDir)
    moved
  }

  /** Abandons a staged write without publishing anything. */
  def discardStaged(stagingDir: Path): Unit = synchronized { deleteRecursively(stagingDir) }

  /** Number + total bytes of the table's LIVE data files (compaction
    * planning) — vacuum-pending garbage is not counted. */
  def dataFileStats(db: String, schema: String, table: String): (Int, Long) = synchronized {
    val dir = tablePath(db, schema, table).resolve("data")
    val parts = liveParts(db, schema, table).map(dir.resolve).filter(Files.exists(_))
    (parts.size, parts.map(Files.size).sum)
  }

  /** REPLACES the table's live file set with the staged parts — the
    * publish step of compaction (the reference's memtable→file compaction
    * swap, src/tablet/service.rs:242-294). Caller must hold the table
    * write lock. The previous parts are NOT deleted: a reader that
    * resolved the old manifest keeps a consistent snapshot; the superseded
    * parts are recorded in the graveyard with their supersede TIME, and
    * reclaiming them is [[vacuum]]'s job once they age past its retention
    * window. */
  def replaceData(db: String, schema: String, table: String, stagingDir: Path): Unit = synchronized {
    val dataDirPath = tablePath(db, schema, table).resolve("data")
    val prior = liveParts(db, schema, table)
    val names = Seq.newBuilder[String]
    listDir(stagingDir)
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      .foreach { part =>
        val name = s"compact-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}.parquet"
        Files.move(part, dataDirPath.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        names += name
      }
    val fresh = names.result()
    writeManifest(db, schema, table, fresh)
    val now = System.currentTimeMillis()
    writeGraveyard(db, schema, table,
      readGraveyard(db, schema, table) ++
        prior.filterNot(fresh.toSet).map(_ -> now))
    deleteRecursively(stagingDir)
  }

  // ---------- graveyard (vacuum retention) ----------
  // `_dead` records WHEN each part was superseded ("<millis>\t<name>" per
  // line) — a part's file mtime is its WRITE time (possibly long before
  // the compaction that killed it), so age-based retention must track the
  // supersede event itself, exactly like a table format's snapshot-expiry
  // metadata.

  private def graveyardFile(db: String, schema: String, table: String): Path =
    tablePath(db, schema, table).resolve("_dead")

  private def readGraveyard(db: String, schema: String, table: String): Seq[(String, Long)] = {
    val f = graveyardFile(db, schema, table)
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
      line.split("\t", 2) match {
        case Array(ts, name) => ts.toLongOption.map(name -> _)
        case _ => None
      }
    }
  }

  private def writeGraveyard(db: String, schema: String, table: String, entries: Seq[(String, Long)]): Unit = {
    val f = graveyardFile(db, schema, table)
    val tmp = f.resolveSibling(s".dead-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, entries.map { case (n, t) => s"$t\t$n" }.mkString("\n"))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Deletes data files no longer referenced by the manifest (parts
    * superseded by a compaction) — but ONLY those dead for at least
    * `retentionMs`: a reader that planned against the pre-compaction
    * manifest keeps its files for the grace window, so compact-then-vacuum
    * cannot break an in-flight query (the same age-based retention every
    * table format's expire/vacuum applies). Unreferenced parts with no
    * graveyard record (crash leftovers from a pre-graveyard failure) are
    * enrolled now and reclaimed once THEY age out. Staging directories
    * (`.staging-*`) last modified at least `retentionMs` ago are deleted
    * too: an INSERT or compaction that crashed between staging and commit
    * leaves one behind, while an in-flight one is seconds old (and one
    * under the engine's table write lock cannot overlap [[vacuum]] at
    * all). Returns the number of data files removed. */
  def vacuum(db: String, schema: String, table: String,
      retentionMs: Long = Catalog.defaultVacuumRetentionMs): Int = synchronized {
    val now = System.currentTimeMillis()
    val tableDir = tablePath(db, schema, table)
    if (Files.isDirectory(tableDir))
      listDir(tableDir)
        .filter(p => p.getFileName.toString.startsWith(".staging-") &&
          now - Files.getLastModifiedTime(p).toMillis >= retentionMs)
        .foreach(deleteRecursively)
    val dir = tableDir.resolve("data")
    if (!Files.isDirectory(dir)) return 0
    val live = liveParts(db, schema, table).toSet
    val recorded = readGraveyard(db, schema, table).toMap
    val dead = listDir(dir)
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !live(n))
    val deadAt = dead.map(n => n -> recorded.getOrElse(n, now))
    val (expired, retained) = deadAt.partition { case (_, t) => now - t >= retentionMs }
    expired.foreach { case (n, _) => Files.deleteIfExists(dir.resolve(n)) }
    writeGraveyard(db, schema, table, retained)
    // time-travel history entries are NOT pruned here: [[partsAt]] detects
    // a reclaimed part by its absence and reports "vacuumed" — rewriting
    // the entry would turn a reclaimed snapshot into a silently-empty one
    expired.size
  }

  // Per-table write monitors: an INSERT's uniqueness check and its staged
  // commit must be atomic WITH RESPECT TO EACH OTHER — two concurrent
  // inserts could otherwise both pass the check and both publish
  // (check-then-write race). The reference gets this from its
  // transactional commit; a single-driver engine gets it from a lock.
  // Catalog methods stay individually synchronized; this lock spans the
  // whole check+write window and is striped per table so unrelated
  // tables never serialize.
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Object]()

  def withTableWriteLock[T](db: String, schema: String, table: String)(body: => T): T = {
    val lock = tableLocks.computeIfAbsent((db, schema, table), _ => new Object)
    lock.synchronized(body)
  }

  def newStagingDir(db: String, schema: String, table: String): Path = synchronized {
    val p = tablePath(db, schema, table).resolve(s".staging-${java.util.UUID.randomUUID()}")
    Files.createDirectories(p)
    p
  }
}
