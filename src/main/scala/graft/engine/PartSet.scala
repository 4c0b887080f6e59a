package graft.engine

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import graft.GraftSession.deleteRecursively

/** A set of parquet parts under one directory, one write-once file per
  * version — the one commit format of the warehouse, for managed tables
  * ([[Catalog]]) and the persisted indexes (`codes/`, `cells/`). Under `dir`:
  *   - `_versions/<v>` (20-digit zero-padded): version `v`'s publish millis,
  *     then its live part names relative to `data/`, one per line. Never
  *     rewritten; committing `v` deletes `v − maxVersionHistory`. Version
  *     0, the empty set, has no file;
  *   - `_head`: a hint replaced after each commit; it may lag the newest
  *     version, never lead it;
  *   - `data/`: the parts — flat for tables, `cell=<n>/…` for indexes;
  *   - `.staging-<base>-<uuid>`: a write opened at version `base`.
  *
  * A reader reads the hint, probes `v+1`, `v+2`, … until one is absent and
  * reads that version's file, listing no directory; it keeps its snapshot
  * across later publishes (SURVEY §1.5; the reference recovers a tablet
  * by replaying its manifest log, src/tablet/loader.rs). A commit
  * hard-links a dot-temp file to the version's name, and link(2) fails
  * when the name exists: of two writers on one version, in one process or
  * two, one fails with [[SqlError.conflict]] instead of overwriting the
  * other (Delta Lake's put-if-absent log, Armbrust et al., VLDB 2020). A
  * crash leaves the old or the new version whole; [[vacuum]] reclaims
  * parts no version lists. `label` names the set in errors ("table t").
  */
final class PartSet(val dir: Path, label: String,
    maxVersionHistory: Int = Catalog.maxVersionHistory) {
  import PartSet.Version

  val dataDir: Path = dir.resolve("data")
  private val versionsDir = dir.resolve("_versions")
  private def versionFile(v: Long): Path = versionsDir.resolve(f"$v%020d")
  private def headHint: Path = dir.resolve("_head")

  /** An empty set: version 0. */
  def create(): Unit = Files.createDirectories(dataDir)

  def absolute(parts: Seq[String]): Seq[String] = parts.map(p => dataDir.resolve(p).toString)

  // ---------- versions (time travel) ----------
  // Every publish (INSERT commit, compaction swap) is one version: the
  // analogue of the reference's MVCC version chains, where a read "as of"
  // resolves the newest version ≤ the requested point
  // (src/tablet/memory.rs:73-81; src/sql/mod.rs:65). A version stays
  // readable until [[vacuum]] reclaims its superseded files or it ages out
  // of the newest `maxVersionHistory`; then it fails loudly, never serves
  // the wrong rows.

  private def read(v: Long): Option[Version] =
    if (v == 0L) Some(Version(0L, Seq.empty))
    else try {
      val lines = Files.readString(versionFile(v)).split("\n")
      Some(Version(lines.head.toLong, lines.toSeq.tail.filter(_.nonEmpty)))
    } catch { case _: NoSuchFileException => None }

  private def oldestRetained(head: Long): Long = math.max(1L, head - maxVersionHistory + 1)

  /** Version `v` when `head` is the newest; throws if it aged out. */
  private def entry(v: Long, head: Long): Version =
    (if (v > 0L && v < oldestRetained(head)) None else read(v)).getOrElse(
      throw SqlError.unexpected(s"version $v of $label has expired from the version history"))

  /** Latest snapshot version (0 = empty, no publishes yet). */
  def currentVersion: Long = {
    var v = try Files.readString(headHint).trim.toLong catch { case _: NoSuchFileException => 0L }
    while (Files.exists(versionFile(v + 1))) v += 1
    v
  }

  /** Live part names (relative to `data/`) of the newest version. */
  def liveParts: Seq[String] = { val head = currentVersion; entry(head, head).parts }

  /** Part names of snapshot `version` (0 = the empty creation snapshot).
    * Throws if the version never existed, aged out of the capped history,
    * or its files were reclaimed by [[vacuum]]. */
  def partsAt(version: Long): Seq[String] = {
    if (version == 0L) return Seq.empty
    val head = currentVersion
    if (version < 0L || version > head)
      throw SqlError.unexpected(s"$label has no version $version (current: $head)")
    present(entry(version, head).parts, s"version $version of $label has")
  }

  /** `parts`, or an error that `what` been vacuumed if one is gone. */
  private def present(parts: Seq[String], what: String): Seq[String] = {
    parts.find(p => !Files.exists(dataDir.resolve(p))).foreach { gone =>
      throw SqlError.unexpected(s"$what been vacuumed (missing: $gone)")
    }
    parts
  }

  /** Newest version whose publish time ≤ `millis` (the reference's MVCC
    * read rule, src/tablet/memory.rs:73-81); 0 when `millis` predates a
    * COMPLETE history. Older than the oldest RETAINED publish of a trimmed
    * history it fails loudly: the empty version 0 would be wrong rows.
    * Publish times never decrease, so this bisects the versions. */
  def versionAsOf(millis: Long): Long = {
    val head = currentVersion
    val lo = oldestRetained(head)
    if (head == 0L || entry(lo, head).millis > millis) {
      if (lo == 1L) return 0L
      throw SqlError.unexpected(s"as-of time $millis predates $label's retained version " +
        s"history (oldest retained: version $lo)")
    }
    newestBy(millis, lo, head)
  }

  /** Newest version in [`lo`, `head`] published at or before `millis`,
    * given that `lo` was: publish times never decrease, so it bisects. A
    * version another writer's commit trimmed meanwhile counts as older. */
  private def newestBy(millis: Long, lo: Long, head: Long): Long = {
    var (l, h) = (lo, head)
    while (l < h) {
      val mid = (l + h + 1) / 2
      if (publishedAt(mid) <= millis) l = mid else h = mid - 1
    }
    l
  }

  private def publishedAt(v: Long): Long = read(v).fold(Long.MinValue)(_.millis)

  /** The retained versions, oldest first. */
  private def history(head: Long): Seq[(Long, Version)] =
    (oldestRetained(head) to head).flatMap(v => read(v).map(v -> _))

  /** Version history as (version, publishMillis, partCount). */
  def versionHistory: Seq[(Long, Long, Int)] =
    history(currentVersion).map { case (v, e) => (v, e.millis, e.parts.size) }

  /** Part names ADDED in the version interval (`fromV`, `toV`] — the
    * CHANGE FEED: commits append to the live list, so an append-only
    * interval's row delta IS its file delta. An interval across a replace
    * raises, and the consumer restarts from a full snapshot (a table
    * format's incremental read across a rewrite). */
  def partsAddedBetween(fromV: Long, toV: Long): Seq[String] = {
    val head = currentVersion
    if (fromV < 0L || toV > head || fromV > toV)
      throw SqlError.unexpected(
        s"invalid version interval ($fromV, $toV] for $label (current: $head)")
    var prev = entry(fromV, head).parts
    val added = Seq.newBuilder[String]
    ((fromV + 1) to toV).foreach { v =>
      val cur = entry(v, head).parts
      if (!cur.startsWith(prev))
        throw SqlError.unexpected(
          s"version interval ($fromV, $toV] of $label contains a compaction publish; " +
            "row changes are not a file delta across a rewrite — restart from a full snapshot")
      added ++= cur.drop(prev.size)
      prev = cur
    }
    present(added.result(), s"changes ($fromV, $toV] of $label have")
  }

  /** Number + total bytes of the LIVE parts — vacuum-pending garbage is
    * not counted. */
  def stats: (Int, Long) = {
    val parts = liveParts.map(dataDir.resolve).filter(Files.exists(_))
    (parts.size, parts.map(Files.size).sum)
  }

  // ---------- staging and publish ----------

  /** A fresh staging directory; its name records the newest version now,
    * the base its commit builds on. */
  def newStagingDir(): Path =
    Files.createDirectories(dir.resolve(s".staging-$currentVersion-${UUID.randomUUID()}"))

  /** Moves every parquet part under `staging` into `data/` under a fresh
    * unique name that keeps its directory relative to `staging` (the
    * `cell=<n>/` of a partitioned write); returns the new part names. */
  private def moveIn(staging: Path, prefix: String): Seq[String] =
    parquetUnder(staging).map { rel =>
      val name = rel.take(rel.lastIndexOf('/') + 1) +
        s"$prefix-${System.currentTimeMillis()}-${UUID.randomUUID()}.parquet"
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

  private def conflict(v: Long): SqlError =
    SqlError.conflict(s"version $v of $label was committed by another writer")

  /** Creates version `v` listing `parts` put-if-absent. When another
    * writer created it first, deletes the `fresh` parts just moved in and
    * raises [[SqlError.conflict]]. Publish times never decrease, so
    * [[versionAsOf]] can bisect. */
  private def publish(v: Long, prior: Version, parts: Seq[String], fresh: Seq[String]): Unit = {
    Files.createDirectories(versionsDir)
    val tmp = versionsDir.resolve(s".$v-${UUID.randomUUID()}")
    Files.writeString(tmp, (math.max(System.currentTimeMillis(), prior.millis) +: parts).mkString("\n"))
    try Files.createLink(versionFile(v), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        fresh.foreach(p => Files.deleteIfExists(dataDir.resolve(p)))
        throw conflict(v)
    } finally Files.delete(tmp)
    Files.deleteIfExists(versionFile(v - maxVersionHistory))
    PartSet.replaceFile(headHint, v.toString)
  }

  /** APPENDS the staged parts to the staging's base version as version
    * base+1 — the commit of an INSERT or an index append (the reference's
    * transactional commit, src/sql/client.rs:67-80). If another writer
    * committed since the base, raises [[SqlError.conflict]] and publishes
    * nothing, so a UNIQUE check run at the base still holds. Lists only
    * `staging`, never `data/`. Returns the number of parts committed. */
  def commitStaged(staging: Path): Long = {
    val base = PartSet.baseOf(staging)
    if (Files.exists(versionFile(base + 1))) throw conflict(base + 1)
    val prior = entry(base, base)
    val fresh = moveIn(staging, "part")
    publish(base + 1, prior, prior.parts ++ fresh, fresh)
    deleteRecursively(staging)
    fresh.size
  }

  /** Publishes `live − drop ++ staged` over the newest version — the swap
    * of a compaction or a rebuild (the reference's memtable→file swap,
    * src/tablet/service.rs:242-294). It rebases over commits made since
    * the staging opened while every dropped part is still live, else
    * raises [[SqlError.conflict]]. Dropped parts stay on disk for readers
    * of older versions until [[vacuum]] reclaims them. */
  def replace(staging: Path, drop: Seq[String]): Unit = {
    val head = currentVersion
    val prior = entry(head, head)
    val gone = drop.toSet
    if (!gone.subsetOf(prior.parts.toSet)) throw conflict(head)
    val fresh = moveIn(staging, "compact")
    publish(head + 1, prior, prior.parts.filterNot(gone) ++ fresh, fresh)
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

  // ---------- vacuum ----------

  /** Deletes the parts the newest version does not list that have been
    * dead for at least `retentionMs`, so a reader of an older version keeps
    * its files for the grace window (a table format's age-based expiry). A
    * part is dead since the publish of the first retained version without
    * it; one no retained version lists (crash debris, a losing writer's
    * part) since the oldest retained publish, and not before its mtime
    * passes the window either. Publish times never decrease, so this reads
    * only the newest version published by `now − retentionMs` and the ones
    * after it: a part none of them lists died by then. Staging directories,
    * dot-temps and aged-out version files last modified `retentionMs` ago
    * go too. Writes no metadata; returns the number of parts removed. */
  def vacuum(retentionMs: Long): Int = {
    val now = System.currentTimeMillis()
    // another process may rename its temp or delete its losing parts meanwhile
    def old(p: Path) = try now - Files.getLastModifiedTime(p).toMillis >= retentionMs
      catch { case _: NoSuchFileException => false }
    val head = currentVersion
    val lo = oldestRetained(head)
    (PartSet.list(dir) ++ PartSet.list(versionsDir)).filter { p =>
      val name = p.getFileName.toString
      name.startsWith(".") || name.toLongOption.exists(_ < lo)
    }.filter(old).foreach(deleteRecursively)
    if (!Files.isDirectory(dataDir)) return 0
    val cutoff = now - retentionMs
    // no retained version is that old: every part died inside the window
    if (publishedAt(lo) > cutoff) return 0
    val listed = (newestBy(cutoff, lo, head) to head).flatMap(read).flatMap(_.parts).toSet
    val expired = parquetUnder(dataDir).filterNot(listed).filter(n => old(dataDir.resolve(n)))
    // also drops the held footers; a read of a reclaimed version reports "vacuumed"
    expired.foreach(n => deleteRecursively(dataDir.resolve(n)))
    expired.size
  }
}

object PartSet {
  private final case class Version(millis: Long, parts: Seq[String])

  /** Replaces `f` with `content` atomically: a dot-prefixed sibling temp
    * file ATOMIC_MOVEd over it. A crash mid-write leaves only a stray temp
    * file; `f` keeps its last committed content. For hints and counters;
    * a part list is never replaced. */
  private[engine] def replaceFile(f: Path, content: String): Unit = {
    val tmp = f.resolveSibling(s".${f.getFileName}-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The version a [[PartSet.newStagingDir]] directory was opened at. */
  def baseOf(staging: Path): Long =
    staging.getFileName.toString.stripPrefix(".staging-").takeWhile(_ != '-').toLong

  /** The entries of `p` (none when it is not a directory), with the
    * listing's directory fd closed. */
  private[engine] def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else { val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close() }
}
