package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules no compiler checks. Runs from the repository root, where
  * sbt forks tests. */
class SourceHygieneSpec extends AnyFunSuite {

  private def isControl(b: Int): Boolean =
    (b >= 0x00 && b <= 0x08) || b == 0x0b || b == 0x0c || (b >= 0x0e && b <= 0x1f)

  private def files(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally walk.close()
  }

  private def mainSources(under: String*): Seq[(Path, String)] =
    files(Paths.get("src", "main", "scala").resolve(Paths.get("", under: _*)))
      .filter(_.toString.endsWith(".scala")).map(f => f -> Files.readString(f))

  /** No raw control byte (0x00–0x08, 0x0B, 0x0C, 0x0E–0x1F): grep and
    * ripgrep treat such a file as binary and silently leave it out of
    * every text search. Spell the character as a unicode escape instead. */
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

  /** Two `Catalog`s on one warehouse allocate ids and take write locks
    * under different monitors; `Catalog.open` keeps one per warehouse. */
  test("src/main constructs a Catalog only inside Catalog.open") {
    val construct = """new\s+(Engine)?Catalog\s*\(""".r
    val offenders = mainSources().flatMap { case (f, text) =>
      val outsideOpen =
        if (f.getFileName.toString != "Catalog.scala") text
        else """(?s)  def open\(.*?\n  \}\n""".r.replaceFirstIn(text, "")
      construct.findFirstIn(outsideOpen).map(_ => f.toString)
    }
    assert(offenders.isEmpty, offenders.mkString("Catalog constructed outside Catalog.open in: ", ", ", ""))
  }

  /** A part list becomes a relation only through `GraftParquetBridge`:
    * `spark.read.parquet` over a list of paths lists them in a Spark job
    * once it passes 32. */
  test("graft.engine and graft.catalog read no files through spark.read") {
    val offenders = mainSources("graft", "engine").concat(mainSources("graft", "catalog")).collect {
      case (f, text) if """(?m)^(?!import ).*\.read\s*\.""".r.findFirstIn(text).nonEmpty => f.toString
    }
    assert(offenders.isEmpty, offenders.mkString("spark.read in: ", ", ", ""))
  }

  /** The `src/main` sources other than `file` that match `code`. */
  private def outside(file: String, code: String): Seq[String] =
    mainSources().collect {
      case (f, text) if f.getFileName.toString != file && code.r.findFirstIn(text).nonEmpty => f.toString
    }

  /** An engine statement's plan carries no literal in its generated code
    * because `GraftPlanBridge` builds its `QueryExecution`; a DataFrame
    * built another way in `src/main` would get around that. */
  test("src/main builds a QueryExecution only in GraftPlanBridge") {
    val offenders = outside("GraftPlanBridge.scala", """Dataset\.ofRows\s*\(|new\s+QueryExecution\s*\(""")
    assert(offenders.isEmpty, offenders.mkString("Dataset.ofRows or new QueryExecution in: ", ", ", ""))
  }

  /** Part skipping holds each footer it reads until the part is
    * reclaimed; a footer read elsewhere is read twice. */
  test("src/main reads Parquet footers only in GraftParquetBridge") {
    val offenders = outside("GraftParquetBridge.scala", """readFooter|ParquetFileReader|ParquetFooterReader""")
    assert(offenders.isEmpty, offenders.mkString("Parquet footer read in: ", ", ", ""))
  }

  /** A statement reads a small part list on the calling thread through one
    * reader, sized against the footers the bridge holds; rows read on the
    * driver anywhere else would get around the size cap. */
  test("src/main reads Parquet rows on the driver only in GraftParquetBridge") {
    val offenders = outside("GraftParquetBridge.scala",
      """ParquetRecordReader|ParquetReadSupport|ParquetReader\b|buildReader""")
    assert(offenders.isEmpty, offenders.mkString("Parquet row reader in: ", ", ", ""))
  }

  /** The commit protocol — parts moved into `data/`, version files linked
    * put-if-absent, hints replaced by an atomic move — lives in one module. */
  test("src/main moves and links files only in PartSet") {
    val offenders = outside("PartSet.scala", """Files\.(move|createLink)\s*\(""")
    assert(offenders.isEmpty, offenders.mkString("Files.move or Files.createLink in: ", ", ", ""))
  }

  /** Without native IO, Hadoop's local file system forks `chmod` on every
    * create (twice for a Parquet part, with its `.crc`): a driver-side
    * Parquet file is written through java.nio (`LocalOutputFile`) in one
    * module, and nothing creates a file through a Hadoop `FileSystem`. */
  test("src/main writes driver-side Parquet files only through LocalOutputFile") {
    val writers = outside("GraftParquetBridge.scala",
      """LocalOutputFile|ParquetWriter\b|ParquetFileWriter|ParquetOutputFormat|OutputWriterFactory""")
    assert(writers.isEmpty, writers.mkString("Parquet writer outside GraftParquetBridge in: ", ", ", ""))
    val bridge = mainSources().collect { case (f, text) if f.getFileName.toString == "GraftParquetBridge.scala" => text }
    assert(bridge.size == 1 && bridge.forall(_.contains("new LocalOutputFile(")))
    assert(bridge.forall(t => """HadoopOutputFile|OutputWriterFactory|\.newInstance\s*\(""".r.findFirstIn(t).isEmpty),
      "GraftParquetBridge writes a part through Hadoop's output path")
    val creates = mainSources().collect {
      case (f, text) if """getFileSystem|FileSystem\.get""".r.findFirstIn(text).nonEmpty &&
          """\.(create|createNewFile|append)\s*\(""".r.findFirstIn(text).nonEmpty => f.toString
    }
    assert(creates.isEmpty, creates.mkString("Hadoop FileSystem create in: ", ", ", ""))
  }
}
