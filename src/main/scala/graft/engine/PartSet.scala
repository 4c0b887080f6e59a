package graft.engine

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.GraftSession.deleteRecursively
import org.apache.spark.sql.GraftParquetBridge

/** A manifest-listed set of parquet parts under one directory — the one
  * commit format of the warehouse. Managed tables (through [[Catalog]])
  * and the persisted ANN/admission indexes (`codes/`, `cells/` under an
  * index path) are both part sets. Layout under `dir`:
  *   - `manifest`: the LIVE part names, one per line, relative to `data/`;
  *   - `_versions`: one line per publish (time travel);
  *   - `_dead`: when each superseded part was superseded (vacuum retention);
  *   - `data/`: the part files — flat for tables, `cell=<n>/…` for a
  *     `partitionBy("cell")` write;
  *   - `.staging-*`: writes not yet committed.
  *
  * A reader resolves the manifest at planning time and keeps a consistent
  * snapshot even if a later publish replaces parts mid-query (SURVEY §1.5 —
  * the observable analogue of the reference's snapshot reads; same reason
  * Iceberg/Delta list files through metadata, never the directory). Every
  * metadata file is replaced by write-temp + ATOMIC_MOVE, so readers see
  * the old or the new file set, never a mix. Writers must be serialized by
  * the caller (the catalog's monitors, the index maintenance lock).
  *
  * `label` names the set in error messages ("table t").
  */
final class PartSet(val dir: Path, label: String,
    maxVersionHistory: Int = Catalog.maxVersionHistory) {
  import PartSet.replaceFile

  val dataDir: Path = dir.resolve("data")
  private def manifestFile = dir.resolve("manifest")
  private def versionsFile = dir.resolve("_versions")
  private def graveyardFile = dir.resolve("_dead")

  /** An empty set: `data/` and an empty manifest. */
  def create(): Unit = {
    Files.createDirectories(dataDir)
    Files.writeString(manifestFile, "")
  }

  /** Live part names (relative to `data/`), manifest order; a set that was
    * never published is empty. */
  def liveParts: Seq[String] =
    if (Files.exists(manifestFile)) lines(manifestFile) else Seq.empty

  def absolute(parts: Seq[String]): Seq[String] = parts.map(p => dataDir.resolve(p).toString)

  private def lines(f: Path): Seq[String] =
    Files.readString(f).split("\n").toSeq.filter(_.nonEmpty)

  private def publish(parts: Seq[String]): Unit = {
    replaceFile(manifestFile, parts.mkString("\n"))
    // every manifest publish is a retained SNAPSHOT VERSION (time travel)
    val entries = readVersions()
    val next = entries.lastOption.map(_.version).getOrElse(0L) + 1L
    writeVersions((entries :+ VersionEntry(next, System.currentTimeMillis(), parts))
      .takeRight(maxVersionHistory))
  }

  // ---------- version history (time travel) ----------
  // Every manifest publish (INSERT commit, compaction swap) appends one
  // line "<version>\t<millis>\t<comma-joined parts>" to `_versions`;
  // version 0 is the empty set at creation. This is the observable
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

  private def readVersions(): Seq[VersionEntry] =
    if (!Files.exists(versionsFile)) Seq.empty
    else lines(versionsFile).flatMap { line =>
      line.split("\t", 3) match {
        case Array(v, ts, parts) =>
          for (vn <- v.toLongOption; t <- ts.toLongOption)
            yield VersionEntry(vn, t, parts.split(",").toSeq.filter(_.nonEmpty))
        case _ => None
      }
    }

  private def writeVersions(entries: Seq[VersionEntry]): Unit =
    replaceFile(versionsFile,
      entries.map(e => s"${e.version}\t${e.millis}\t${e.parts.mkString(",")}").mkString("\n"))

  /** Latest snapshot version (0 = empty, no publishes yet). */
  def currentVersion: Long = readVersions().lastOption.map(_.version).getOrElse(0L)

  /** Part names of snapshot `version` (0 = the empty creation snapshot).
    * Throws if the version never existed, aged out of the capped history,
    * or its files were reclaimed by [[vacuum]]. */
  def partsAt(version: Long): Seq[String] = {
    if (version == 0L) return Seq.empty
    val versions = readVersions()
    val head = versions.lastOption.map(_.version).getOrElse(0L)
    if (version < 0L || version > head)
      throw SqlError.unexpected(s"$label has no version $version (current: $head)")
    val entry = versions.find(_.version == version).getOrElse(
      throw SqlError.unexpected(
        s"version $version of $label has expired from the version history"))
    entry.parts.find(p => !Files.exists(dataDir.resolve(p))).foreach { gone =>
      throw SqlError.unexpected(s"version $version of $label has been vacuumed (missing: $gone)")
    }
    entry.parts
  }

  /** Newest version whose publish time ≤ `millis` (the reference's
    * "newest version ≤ ts" MVCC read rule, src/tablet/memory.rs:73-81);
    * 0 when `millis` predates every publish of a COMPLETE history. When
    * the capped history has been trimmed, a `millis` older than the
    * oldest RETAINED publish must fail loudly like any expired-version
    * read — the true as-of snapshot existed but was dropped; silently
    * resolving it to the empty version-0 set would serve wrong rows. */
  def versionAsOf(millis: Long): Long = {
    val versions = readVersions()
    versions.filter(_.millis <= millis).lastOption.map(_.version).getOrElse {
      if (versions.headOption.exists(_.version > 1L))
        throw SqlError.unexpected(
          s"as-of time $millis predates $label's retained version history " +
            s"(oldest retained: version ${versions.head.version})")
      0L
    }
  }

  /** Version history as (version, publishMillis, partCount). */
  def versionHistory: Seq[(Long, Long, Int)] =
    readVersions().map(e => (e.version, e.millis, e.parts.size))

  /** Part names ADDED in the version interval (`fromV`, `toV`] — the
    * CHANGE FEED of an append-only interval: commits strictly append to
    * the manifest, so the interval's row delta IS the file delta. A
    * replace publish rewrites the file set instead; row-level changes
    * across it are not derivable from files, so that interval raises (the
    * consumer restarts from a full snapshot — the same contract as a table
    * format's incremental read across a rewrite). */
  def partsAddedBetween(fromV: Long, toV: Long): Seq[String] = {
    val versions = readVersions()
    val head = versions.lastOption.map(_.version).getOrElse(0L)
    if (fromV < 0L || toV > head || fromV > toV)
      throw SqlError.unexpected(
        s"invalid version interval ($fromV, $toV] for $label (current: $head)")
    def entryAt(v: Long): VersionEntry = versions.find(_.version == v).getOrElse(
      throw SqlError.unexpected(s"version $v of $label has expired from the version history"))
    var prev = if (fromV == 0L) Seq.empty[String] else entryAt(fromV).parts
    val added = Seq.newBuilder[String]
    ((fromV + 1) to toV).foreach { v =>
      val cur = entryAt(v).parts
      if (!cur.startsWith(prev))
        throw SqlError.unexpected(
          s"version interval ($fromV, $toV] of $label contains a compaction publish; " +
            "row changes are not a file delta across a rewrite — restart from a full snapshot")
      added ++= cur.drop(prev.size)
      prev = cur
    }
    val parts = added.result()
    parts.find(p => !Files.exists(dataDir.resolve(p))).foreach { gone =>
      throw SqlError.unexpected(
        s"changes ($fromV, $toV] of $label have been vacuumed (missing: $gone)")
    }
    parts
  }

  /** Number + total bytes of the LIVE parts — vacuum-pending garbage is
    * not counted. */
  def stats: (Int, Long) = {
    val parts = liveParts.map(dataDir.resolve).filter(Files.exists(_))
    (parts.size, parts.map(Files.size).sum)
  }

  // ---------- staging and publish ----------

  def newStagingDir(): Path = {
    val p = dir.resolve(s".staging-${java.util.UUID.randomUUID()}")
    Files.createDirectories(p)
    p
  }

  /** Moves every parquet part under `staging` into `data/` under a fresh
    * unique name that keeps its directory relative to `staging` (the
    * `cell=<n>/` of a partitioned write); returns the new part names. */
  private def moveIn(staging: Path, prefix: String): Seq[String] =
    parquetUnder(staging).map { rel =>
      val name = rel.take(rel.lastIndexOf('/') + 1) +
        s"$prefix-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}.parquet"
      val target = dataDir.resolve(name)
      Files.createDirectories(target.getParent)
      Files.move(staging.resolve(rel), target, StandardCopyOption.ATOMIC_MOVE)
      name
    }

  /** Every `.parquet` file under `root` (a writer's checksum and marker
    * files excluded), relative to `root`, sorted. */
  private def parquetUnder(root: Path): Seq[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  /** APPENDS the staged parts to the manifest — the visible commit of an
    * INSERT or an index append (observable parity with the reference's
    * transactional commit: src/sql/client.rs:67-80). A reader only sees
    * the new rows once the manifest move lands. Lists only `staging`,
    * never `data/`. Returns the number of parts committed. */
  def commitStaged(staging: Path): Long = {
    val prior = liveParts
    val fresh = moveIn(staging, "part")
    publish(prior ++ fresh)
    deleteRecursively(staging)
    fresh.size
  }

  /** Publishes `live − drop ++ staged` — the swap of a compaction or a
    * rebuild (the reference's memtable→file compaction swap,
    * src/tablet/service.rs:242-294). The dropped parts are NOT deleted: a
    * reader that resolved the old manifest keeps a consistent snapshot;
    * they are recorded in the graveyard with their supersede TIME, and
    * reclaiming them is [[vacuum]]'s job once they age past its retention
    * window. */
  def replace(staging: Path, drop: Seq[String]): Unit = {
    val prior = liveParts
    val fresh = moveIn(staging, "compact")
    val gone = drop.toSet
    publish(prior.filterNot(gone) ++ fresh)
    val now = System.currentTimeMillis()
    writeGraveyard(readGraveyard() ++ prior.filter(gone).map(_ -> now))
    deleteRecursively(staging)
  }

  /** Runs `write` into a fresh staging directory and publishes it with
    * `commit`; a failure of either discards the staging directory. */
  def stage[T](write: Path => Unit)(commit: Path => T): T = {
    val staging = newStagingDir()
    try { write(staging); commit(staging) }
    catch {
      case e: Throwable =>
        try deleteRecursively(staging) catch { case _: Throwable => }
        throw e
    }
  }

  // ---------- graveyard (vacuum retention) ----------
  // `_dead` records WHEN each part was superseded ("<millis>\t<name>" per
  // line) — a part's file mtime is its WRITE time (possibly long before
  // the compaction that killed it), so age-based retention must track the
  // supersede event itself, exactly like a table format's snapshot-expiry
  // metadata.

  private def readGraveyard(): Seq[(String, Long)] =
    if (!Files.exists(graveyardFile)) Seq.empty
    else lines(graveyardFile).flatMap { line =>
      line.split("\t", 2) match {
        case Array(ts, name) => ts.toLongOption.map(name -> _)
        case _ => None
      }
    }

  private def writeGraveyard(entries: Seq[(String, Long)]): Unit =
    replaceFile(graveyardFile, entries.map { case (n, t) => s"$t\t$n" }.mkString("\n"))

  /** Deletes parts no longer referenced by the manifest (parts superseded
    * by a replace) — but ONLY those dead for at least `retentionMs`: a
    * reader that planned against an older manifest keeps its files for the
    * grace window, so replace-then-vacuum cannot break an in-flight query
    * (the same age-based retention every table format's expire/vacuum
    * applies). Unreferenced parts with no graveyard record (a commit that
    * crashed between moving its parts and publishing) are enrolled now and
    * reclaimed once THEY age out. Staging directories (`.staging-*`) last
    * modified at least `retentionMs` ago are deleted too: a write that
    * crashed between staging and commit leaves one behind, while an
    * in-flight one is seconds old (and one under the writer's lock cannot
    * overlap [[vacuum]] at all). Returns the number of parts removed. */
  def vacuum(retentionMs: Long): Int = {
    val now = System.currentTimeMillis()
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith(".staging-") &&
          now - Files.getLastModifiedTime(p).toMillis >= retentionMs)
        .foreach(deleteRecursively)
      finally s.close()
    }
    if (!Files.isDirectory(dataDir)) return 0
    val live = liveParts.toSet
    val recorded = readGraveyard().toMap
    val deadAt = parquetUnder(dataDir).filterNot(live).map(n => n -> recorded.getOrElse(n, now))
    val (expired, retained) = deadAt.partition { case (_, t) => now - t >= retentionMs }
    expired.foreach { case (n, _) =>
      Files.deleteIfExists(dataDir.resolve(n))
      GraftParquetBridge.forgetFooters(dataDir.resolve(n).toString)
    }
    writeGraveyard(retained)
    // time-travel history entries are NOT pruned here: [[partsAt]] detects
    // a reclaimed part by its absence and reports "vacuumed" — rewriting
    // the entry would turn a reclaimed snapshot into a silently-empty one
    expired.size
  }
}

object PartSet {
  /** Replaces `f` with `content` atomically: a dot-prefixed sibling temp
    * file ATOMIC_MOVEd over it. A crash mid-write leaves only a stray temp
    * file; `f` keeps its last committed content. */
  private[engine] def replaceFile(f: Path, content: String): Unit = {
    val tmp = f.resolveSibling(s".${f.getFileName}-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
