package graft.engine

import scala.jdk.CollectionConverters._

import graft.{SuiteScratch, TestSession}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftParquetBridge, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A driver-resident INSERT writes its part on the driver
  * ([[GraftParquetBridge]]) instead of through a one-task Spark write job.
  * The part must be the one Spark's writer gives for the same rows and
  * schema: the same Parquet footer schema, key-value metadata (Spark row
  * metadata and version), created-by, and codec and encodings per column,
  * and the same rows read back. */
class DriverWriteParitySpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Every column kind; NOT NULL on one column, a serial primary key. */
  private val ddl = "id serial PRIMARY KEY, b boolean, i16 smallint, i32 int, i64 bigint NOT NULL, " +
    "f32 real, f64 double precision, bin bytea, s text"

  private def engine(tables: String*): SqlEngine = {
    val e = new SqlEngine(spark, new Catalog(scratchDir("graft-wh-")), SqlContext("w", "u"))
    e.execute("CREATE DATABASE w")
    tables.foreach(t => e.execute(s"CREATE TABLE $t ($ddl)"))
    e
  }

  /** `columns`: each column chunk's path, codec and encodings. */
  private case class Footer(schema: String, rowMetadata: String, codecs: Set[String], rows: Long,
      keyValue: Map[String, String], createdBy: String, columns: Seq[(String, String, Set[String])])

  private def footer(part: String): Footer = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(part), conf))
    try {
      val f = reader.getFooter
      val blocks = f.getBlocks.asScala
      val chunks = blocks.flatMap(_.getColumns.asScala).toSeq
      Footer(f.getFileMetaData.getSchema.toString,
        f.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey),
        chunks.map(_.getCodec.name).toSet,
        blocks.map(_.getRowCount).sum,
        f.getFileMetaData.getKeyValueMetaData.asScala.toMap,
        f.getFileMetaData.getCreatedBy,
        chunks.map(c => (c.getPath.toDotString, c.getCodec.name, c.getEncodings.asScala.map(_.name).toSet)))
    } finally reader.close()
  }

  private def onlyPart(e: SqlEngine, table: String): String = {
    val Seq(p) = e.catalog.livePartPaths("w", "public", table)
    p
  }

  /** Rows as strings, by id: NaN != NaN under ==, -0.0 must stay -0.0,
    * and byte arrays compare by content. */
  private def render(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")).sortBy(_.takeWhile(_ != '|').toInt)

  private def read(e: SqlEngine, table: String): Seq[String] =
    render(e.readTable("w", "public", table).collect().toSeq)

  /** Spark's writer, as the driver-resident path used it: one partition
    * of the rows, written into a staging directory and committed. */
  private def commitSparkWritten(e: SqlEngine, table: String, schema: StructType, rows: Seq[Row]): Unit = {
    val staging = e.catalog.newStagingDir("w", "public", table)
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(staging.toString)
    e.catalog.commitStaged("w", "public", table, staging)
  }

  test("a part written on the driver has Spark's footer, metadata and codec, and reads back equal") {
    val e = engine("driver", "spark")
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("b", BooleanType), StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("i64", LongType, nullable = false), StructField("f32", FloatType),
      StructField("f64", DoubleType), StructField("bin", BinaryType), StructField("s", StringType)))
    val rows = Seq(
      Row(1, true, 1.toShort, 1, 1L, 1.5f, 2.5, Array[Byte](1, 2), "a"),
      Row(2, false, Short.MinValue, Int.MinValue, Long.MinValue, Float.NaN, Double.NaN, Array.emptyByteArray, ""),
      Row(3, true, Short.MaxValue, Int.MaxValue, Long.MaxValue, -0.0f, -0.0, Array[Byte](-1, 0, 127), "héllo 世界 🙂"),
      Row(4, false, 0.toShort, 0, 0L, Float.PositiveInfinity, Double.NegativeInfinity, Array[Byte](0), "semi;colon"),
      Row(5, null, null, null, -5L, Float.NegativeInfinity, Double.PositiveInfinity, null, null),
      Row(6, null, null, null, 6L, null, null, null, null))

    val staging = e.catalog.newStagingDir("w", "public", "driver")
    GraftParquetBridge.writePart(spark, staging.toString, schema, rows.iterator)
    e.catalog.commitStaged("w", "public", "driver", staging)
    commitSparkWritten(e, "spark", schema, rows)

    val (driver, viaSpark) = (footer(onlyPart(e, "driver")), footer(onlyPart(e, "spark")))
    assert(driver == viaSpark)
    assert(driver.rowMetadata == schema.json)
    assert(driver.codecs == Set(spark.conf.get("spark.sql.parquet.compression.codec").toUpperCase))
    assert(driver.rows == rows.size)
    assert(read(e, "driver") == read(e, "spark"))
    assert(read(e, "driver") == render(rows))
  }

  test("a VALUES INSERT of every column kind writes the part Spark's writer gives for its rows") {
    val e = engine("t", "twin")
    val n = e.execute(
      """INSERT INTO t (b, i16, i32, i64, f32, f64, bin, s) VALUES
        |(true, 1, 1, 1, 1.5, 2.5, X'0102', 'a'),
        |(false, -32768, -2147483648, -9223372036854775808, CAST('NaN' AS REAL), CAST('NaN' AS DOUBLE), X'', ''),
        |(true, 32767, 2147483647, 9223372036854775807, CAST('-0.0' AS REAL), CAST('-0.0' AS DOUBLE), X'FF007F', 'héllo 世界 🙂'),
        |(false, 0, 0, 0, CAST('Infinity' AS REAL), CAST('-Infinity' AS DOUBLE), X'00', 'semi;colon'),
        |(NULL, NULL, NULL, -5, CAST('-Infinity' AS REAL), CAST('Infinity' AS DOUBLE), NULL, NULL),
        |(NULL, NULL, NULL, 6, NULL, NULL, NULL, NULL)""".stripMargin).collect()(0).getLong(0)
    assert(n == 6)
    val part = footer(onlyPart(e, "t"))
    assert(part.rows == 6)

    // the rows it wrote, through Spark's writer, under the schema it declared
    val rows = e.readTable("w", "public", "t").collect().toSeq.sortBy(_.getInt(0))
    commitSparkWritten(e, "twin", DataType.fromJson(part.rowMetadata).asInstanceOf[StructType], rows)
    assert(part == footer(onlyPart(e, "twin")))
    assert(read(e, "t") == read(e, "twin"))
    assert(read(e, "t") == Seq(
      "1|true|1|1|1|1.5|2.5|[1,2]|a",
      "2|false|-32768|-2147483648|-9223372036854775808|NaN|NaN|[]|",
      "3|true|32767|2147483647|9223372036854775807|-0.0|-0.0|[-1,0,127]|héllo 世界 🙂",
      "4|false|0|0|0|Infinity|-Infinity|[0]|semi;colon",
      "5|null|null|null|-5|-Infinity|Infinity|null|null",
      "6|null|null|null|6|null|null|null|null"))
  }

  test("a driver-resident INSERT of 0 rows publishes one empty part and one version, as before") {
    val e = engine("t")
    e.execute("INSERT INTO t (i64) VALUES (1)")
    val (parts0, v0) = (e.catalog.liveParts("w", "public", "t"), e.catalog.currentVersion("w", "public", "t"))
    val serial0 = e.catalog.peekSerial("w", "public", "t", 1)
    val n = e.execute("INSERT INTO t (i64, s) SELECT x, s FROM (VALUES (CAST(1 AS BIGINT), 'a')) AS v(x, s) " +
      "WHERE x > 5").collect()(0).getLong(0)
    assert(n == 0)
    val parts1 = e.catalog.liveParts("w", "public", "t")
    assert(parts1.take(parts0.size) == parts0 && parts1.size == parts0.size + 1)
    assert(e.catalog.currentVersion("w", "public", "t") == v0 + 1)
    assert(e.catalog.peekSerial("w", "public", "t", 1) == serial0)
    val empty = e.catalog.livePartPaths("w", "public", "t").last
    val written = footer(empty)
    assert(written.rows == 0)
    val schema = DataType.fromJson(written.rowMetadata).asInstanceOf[StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "b", "i16", "i32", "i64", "f32", "f64", "bin", "s"))
    e.execute(s"CREATE TABLE twin ($ddl)")
    commitSparkWritten(e, "twin", schema, Seq.empty)
    assert(written == footer(onlyPart(e, "twin")))
    assert(read(e, "t") == Seq("1|null|null|null|1|null|null|null|null"))
  }

  test("writePart over every column kind matches df.write.parquet and leaves one file") {
    val schema = StructType(Seq(
      StructField("i", IntegerType, nullable = false), StructField("l", LongType), StructField("d", DoubleType),
      StructField("dec", DecimalType(20, 3)), StructField("s", StringType), StructField("y", BinaryType),
      StructField("b", BooleanType), StructField("dt", DateType), StructField("ts", TimestampType)))
    val rows = Seq(
      Row(1, 10L, 2.5, BigDecimal("12345678901234567.125").bigDecimal, "abc", Array[Byte](1, 2), true,
        java.sql.Date.valueOf("2024-02-29"), java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")),
      Row(2, Long.MinValue, Double.NaN, BigDecimal("-0.001").bigDecimal, "", Array.emptyByteArray, false,
        java.sql.Date.valueOf("1900-01-01"), java.sql.Timestamp.valueOf("1900-01-01 00:00:00")),
      Row(3, Long.MaxValue, -0.0, BigDecimal("0.000").bigDecimal, "é日本 🙂", Array[Byte](-1, 0, 127), true,
        java.sql.Date.valueOf("9999-12-31"), java.sql.Timestamp.valueOf("2262-04-11 23:47:16.854775")),
      Row(4, null, null, null, null, null, null, null, null))
    val (driverDir, sparkDir) = (scratchDir("graft-writer-"), scratchDir("graft-writer-") + "/out")
    GraftParquetBridge.writePart(spark, driverDir, schema, rows.iterator)
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(sparkDir)

    def parts(dir: String): Seq[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.toString).toSeq finally s.close()
    }
    val Seq(part) = parts(driverDir) // no .crc, no marker
    val Seq(viaSpark) = parts(sparkDir).filter(p => p.endsWith(".parquet") && !p.split('/').last.startsWith("."))
    val written = footer(part)
    assert(written == footer(viaSpark))
    assert(written.rows == rows.size && written.columns.size == schema.size)
    assert(written.keyValue.contains("org.apache.spark.version"))
    assert(render(spark.read.parquet(part).collect().toSeq) == render(spark.read.parquet(viaSpark).collect().toSeq))
    assert(render(spark.read.parquet(part).collect().toSeq) == render(rows))
  }
}
