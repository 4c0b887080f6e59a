package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No source file may hold a raw control byte (0x00–0x08, 0x0B, 0x0C,
  * 0x0E–0x1F): grep and ripgrep treat such a file as binary and silently
  * leave it out of every text search. Spell the character as a unicode
  * escape instead. Runs from the repository root, where sbt forks tests. */
class SourceHygieneSpec extends AnyFunSuite {

  private def isControl(b: Int): Boolean =
    (b >= 0x00 && b <= 0x08) || b == 0x0b || b == 0x0c || (b >= 0x0e && b <= 0x1f)

  private def files(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally walk.close()
  }

  test("no raw control bytes under src/ or perfbench/src/") {
    val roots = Seq(Paths.get("src"), Paths.get("perfbench", "src"))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val offenders = roots.flatMap(files).flatMap { f =>
      val bytes = Files.readAllBytes(f)
      bytes.indices.find(i => isControl(bytes(i) & 0xff))
        .map(i => f"$f at byte $i (0x${bytes(i) & 0xff}%02x)")
    }
    assert(offenders.isEmpty, offenders.mkString("raw control bytes in: ", "; ", ""))
  }
}
