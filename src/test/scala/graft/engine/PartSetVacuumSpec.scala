package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.util.Random

import graft.SuiteScratch
import org.scalatest.funsuite.AnyFunSuite

/** `PartSet.vacuum` reads only the versions published inside its retention
  * window. It must reclaim exactly the parts the rule over the whole
  * retained history reclaims: a part is dead since the publish of the first
  * retained version without it, a part no retained version lists since the
  * oldest retained publish, and no part goes before its mtime passes the
  * window. */
class PartSetVacuumSpec extends AnyFunSuite with SuiteScratch {

  /** The rule over every retained version (publish millis, parts), oldest
    * first: the parts in `files` it reclaims at `now`. */
  private def fullHistoryRule(versions: Seq[(Long, Set[String])], files: Set[String], now: Long,
      retentionMs: Long, mtime: String => Long): Set[String] = {
    val deadSince = versions.zip(versions.drop(1)).flatMap { case ((_, a), (millis, b)) =>
      (a -- b).map(_ -> millis)
    }.toMap
    val unlistedSince = versions.head._1
    (files -- versions.last._2).filter { n =>
      now - deadSince.getOrElse(n, unlistedSince) >= retentionMs && now - mtime(n) >= retentionMs
    }
  }

  test("vacuum over the retention window reclaims what the full-history rule reclaims") {
    val set = new PartSet(Paths.get(scratchDir("graft-vacuum-window-")), "set t", maxVersionHistory = 12)
    set.create()
    val rnd = new Random(11)
    def write(name: String)(dir: Path): Unit = Files.writeString(dir.resolve(s"$name.parquet"), name)
    // 30 versions, 40 ms apart, so a retention window can end between two
    // publishes; the first 18 age out of the 12 retained
    (1 to 30).foreach { i =>
      val live = set.liveParts
      if (live.size > 2 && rnd.nextInt(3) == 0)
        set.stage(write(s"c$i"))(staging => set.replace(staging, rnd.shuffle(live).take(1 + rnd.nextInt(live.size))))
      else set.stage(dir => (0 to rnd.nextInt(2)).foreach(j => write(s"p$i-$j")(dir)))(set.commitStaged)
      Thread.sleep(40)
    }
    // crash debris no version lists: one long untouched, one just written
    val now0 = System.currentTimeMillis()
    write("debris-old")(set.dataDir)
    Files.setLastModifiedTime(set.dataDir.resolve("debris-old.parquet"), FileTime.fromMillis(now0 - 3600000L))
    write("debris-new")(set.dataDir)

    val history = set.versionHistory
    assert(history.size == 12)
    val versions = history.map { case (v, millis, _) => millis -> set.partsAt(v).toSet }
    def onDisk: Set[String] = PartSet.list(set.dataDir).map(_.getFileName.toString).toSet
    val files = onDisk
    val mtimes = files.map(n => n -> Files.getLastModifiedTime(set.dataDir.resolve(n)).toMillis).toMap
    assert(files.size > versions.last._2.size + 2, "parts dead at the head")

    // windows ending before the oldest retained publish, halfway between
    // retained publishes, and now (a 0 retention); widest first, since
    // each vacuum deletes
    val publishes = versions.map(_._1)
    val ends = (publishes.head - 1000) +: publishes.zip(publishes.drop(1)).collect {
      case (a, b) if b - a >= 30 => (a + b) / 2
    }
    var reclaimed = Set.empty[String]
    val counts = (ends.map(Some(_)) :+ None).map { end =>
      val now = System.currentTimeMillis()
      val retention = end.fold(0L)(now - _)
      val want = fullHistoryRule(versions, files, now, retention, mtimes) -- reclaimed
      val n = set.vacuum(retention)
      val gone = files -- onDisk -- reclaimed
      assert(gone == want, s"window ending at $end")
      assert(n == want.size)
      reclaimed ++= gone
      n
    }
    assert(counts.head == 0, "a window ending before the retained history reclaims nothing")
    assert(counts.count(_ > 0) >= 3, s"reclaimed per window: $counts")
    assert(reclaimed.contains("debris-old.parquet") && reclaimed.contains("debris-new.parquet"))
    assert(onDisk == versions.last._2)
    assert(set.liveParts.toSet == versions.last._2)
  }
}
