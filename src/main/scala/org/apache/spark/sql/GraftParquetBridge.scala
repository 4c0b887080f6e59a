package org.apache.spark.sql

import java.nio.file.Paths
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{Footer, ParquetInputFormat, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetFooterReader,
  ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetUtils, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Writes rows that are already on the driver as one Parquet part, on the
  * calling thread, with the writer `df.write.parquet` runs in its task:
  * Spark's `ParquetWriteSupport` over the job conf that
  * `ParquetFileFormat.prepareWrite` fills in, so the part carries the same
  * footer schema, Spark row metadata, created-by, codec and encodings. The
  * file is written through java.nio (Parquet's `LocalOutputFile`), not
  * Hadoop's `LocalFileSystem`: without native IO, Hadoop forks `chmod` on
  * every local create, once for the part and once for its `.crc`. For a
  * 1-row part, a one-task write job took 101 ms, the task's writer on the
  * calling thread 13.7 ms and this writer 3.1 ms (`local[4]` on a 4-core
  * host; medians of 100 after 20 warm-up writes, of 30 for the job). The
  * caller commits the part (the version file its `PartSet` links). The
  * read side is the only code that turns a version's part list into a
  * relation ([[readParts]], or [[fileIndex]] under the plugin's scan),
  * over a schema the caller supplies: the file list comes from the version
  * file and is never listed again. It is also the only code that reads
  * Parquet rows on the driver ([[localRows]]): a small part list an engine
  * statement keeps, or a compaction merges, is read on the calling thread
  * by the reader a task opens, without the job (about 40 of a 50 ms point
  * read, `local[3]` on a 4-core host). Lives in the spark.sql package only
  * to reach the classic session's state.
  */
object GraftParquetBridge {

  /** Writes `rows` (external values matching `schema`) as one part file
    * under the existing directory `dir`. Zero rows still write one part
    * that holds the schema, as Spark's writer does for an empty write. */
  def writePart(spark: SparkSession, dir: String, schema: StructType, rows: Iterator[Row]): Unit = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    writeRows(spark, dir, schema, rows.map(r => toCatalyst(r).asInstanceOf[InternalRow]))
  }

  /** [[writePart]] for rows already in Catalyst's internal form. */
  def writeRows(spark: SparkSession, dir: String, schema: StructType, rows: Iterator[InternalRow]): Unit = {
    val session = classic.ClassicConversions.castToImpl(spark)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val conf = job.getConfiguration
    // the settings ParquetOutputFormat.getRecordWriter reads from the same conf
    val codec = ParquetOutputFormat.getCompression(conf)
    val file = Paths.get(dir, s"part-00000-${UUID.randomUUID()}-c000${codec.getExtension}.parquet")
    val writer = new PartWriter(new LocalOutputFile(file)).withConf(conf).withCompressionCodec(codec)
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .withValidation(ParquetOutputFormat.getValidation(conf))
      .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
      .build()
    try rows.foreach(writer.write) finally writer.close()
  }

  /** A Parquet writer of Spark rows: Spark's write support, configured by
    * the conf passed to `withConf`. */
  private final class PartWriter(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, PartWriter](file) {
    override protected def self(): PartWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** The Parquet `files` as one relation of `dataSchema` (made nullable,
    * as `spark.read` does) plus the partition columns of their `k=v/`
    * directories below `partitionRoot`; no files is an empty relation. */
  def readParts(spark: SparkSession, files: Seq[String], dataSchema: StructType,
      partitionRoot: Option[String] = None): DataFrame = {
    val session = classic.ClassicConversions.castToImpl(spark)
    session.baseRelationToDataFrame(relation(session, files, dataSchema, partitionRoot))
  }

  private def relation(session: classic.SparkSession, files: Seq[String], dataSchema: StructType,
      partitionRoot: Option[String]): HadoopFsRelation = {
    val index = fileIndex(session, files, partitionRoot)
    HadoopFsRelation(index, index.partitionSchema, dataSchema.asNullable, None, new ParquetFileFormat,
      Map.empty)(session)
  }

  /** Every row of the local parts `files`, under `dataSchema` made
    * nullable, in list order, read on the calling thread as [[localRows]]
    * reads a statement's parts; None above [[LocalReadCap]]. */
  def localRows(spark: SparkSession, files: Seq[String], dataSchema: StructType): Option[Seq[InternalRow]] = {
    val session = classic.ClassicConversions.castToImpl(spark)
    localRows(session, relation(session, files, dataSchema, None), Nil)
  }

  /** Uncompressed row-group bytes of each local part in `files`, from its
    * held footer: the measure [[LocalReadCap]] caps. */
  def rowGroupBytes(spark: SparkSession, files: Seq[String]): Seq[Long] = {
    val hadoopConf = classic.ClassicConversions.castToImpl(spark).sessionState.newHadoopConf()
    val fs = FileSystem.getLocal(hadoopConf)
    files.map(f => bytesOf(footer(fs.getFileStatus(new Path(f)), hadoopConf)))
  }

  private def bytesOf(meta: ParquetMetadata): Long = meta.getBlocks.asScala.map(_.getTotalByteSize).sum

  /** An index of exactly the local `files`, handed their statuses so it
    * lists nothing: `spark.read.parquet` lists a file list in a Spark job
    * once it passes 32 paths. Listing for a scan drops each part whose
    * footer statistics rule out every row group under the scan's data
    * filters ([[mayMatch]]): each task already applies that exact test to
    * its row groups, so the rows do not change, but a part it rules out
    * never becomes a task. */
  def fileIndex(spark: SparkSession, files: Seq[String], partitionRoot: Option[String]): InMemoryFileIndex = {
    val session = classic.ClassicConversions.castToImpl(spark)
    val fs = FileSystem.getLocal(session.sessionState.newHadoopConf())
    val statuses = files.map(f => fs.getFileStatus(new Path(f)))
    val options = partitionRoot.map(r => "basePath" -> fs.makeQualified(new Path(r)).toString).toMap
    new PartIndex(session, statuses, options)
  }

  /** The index [[fileIndex]] builds. */
  private final class PartIndex(session: classic.SparkSession, statuses: Seq[FileStatus],
      options: Map[String, String]) extends InMemoryFileIndex(session, statuses.map(_.getPath), options, None,
      new FileStatusCache {
        private val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
        override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }) {
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val dirs = super.listFiles(partitionFilters, dataFilters)
      val conf = session.sessionState.conf
      val filters = pushed(conf, dataFilters)
      if (filters.isEmpty) dirs
      else {
        val hadoopConf = session.sessionState.newHadoopConf()
        dirs.map(d => d.copy(files = d.files.filter { f =>
          val meta = footer(f.fileStatus, hadoopConf)
          predicate(meta, filters, conf).forall(mayMatch(meta, _))
        }))
      }
    }
  }

  /** The data filters a scan hands its Parquet reader: none with pushdown off. */
  private def pushed(conf: SQLConf, dataFilters: Seq[Expression]): Seq[sources.Filter] =
    if (!conf.parquetFilterPushDown) Nil
    else dataFilters.flatMap(DataSourceStrategy.translateFilter(_, supportNestedPredicatePushdown = true))

  /** Uncompressed row-group bytes, summed over the parts a statement keeps,
    * up to which [[localRows]] reads them on the calling thread. */
  private val LocalReadCap = 8L << 20

  /** Whether `relation` is a part list of [[readParts]] without partition
    * columns, which [[localRows]] can read. */
  private[sql] def isPartList(relation: sources.BaseRelation): Boolean = relation match {
    case fs: HadoopFsRelation => fs.location.isInstanceOf[PartIndex] && fs.partitionSchema.isEmpty
    case _ => false
  }

  /** The rows a scan of `relation` (see [[isPartList]]) under `dataFilters`
    * would hand up, read on the calling thread; None when the parts kept at
    * listing hold more than [[LocalReadCap]] uncompressed row-group bytes,
    * or the vectorized reader cannot read the schema. The parts are the ones
    * listing keeps, read in list order, each by the reader a task opens
    * (`VectorizedParquetRecordReader`, row groups skipped under the same
    * pushed predicate), over the session's Hadoop conf: nothing is
    * broadcast and no job runs. The rows are not filtered beyond what
    * row-group skipping drops, so the plan's Filter still decides them. */
  private[sql] def localRows(session: classic.SparkSession, relation: HadoopFsRelation,
      dataFilters: Seq[Expression]): Option[Seq[InternalRow]] = {
    val conf = session.sessionState.conf
    val schema = relation.dataSchema
    if (!ParquetUtils.isBatchReadSupportedForSchema(conf, schema)) return None
    val hadoopConf = session.sessionState.newHadoopConf()
    val kept = mutable.ArrayBuffer.empty[(FileStatus, ParquetMetadata)]
    var bytes = 0L
    val parts = relation.location.listFiles(Nil, dataFilters).iterator.flatMap(_.files).map(_.fileStatus)
    while (bytes <= LocalReadCap && parts.hasNext) {
      val status = parts.next()
      val meta = footer(status, hadoopConf)
      bytes += bytesOf(meta)
      kept += status -> meta
    }
    if (bytes > LocalReadCap) return None
    // what ParquetFileFormat sets up for its tasks' readers
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, conf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, conf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, conf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, conf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, conf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      conf.parquetReaderRespectUnknownTypeAnnotation)
    val filters = pushed(conf, dataFilters)
    Some(kept.toSeq.flatMap { case (status, meta) => readPart(status, meta, filters, conf, hadoopConf) })
  }

  /** The rows of one part, read as [[localRows]] describes. */
  private def readPart(status: FileStatus, meta: ParquetMetadata, filters: Seq[sources.Filter], conf: SQLConf,
      hadoopConf: Configuration): Seq[InternalRow] = {
    val file = meta.getFileMetaData
    val datetimeRebase = rebaseSpec(meta, conf)
    val int96Rebase = DataSourceUtils.int96RebaseSpec(file.getKeyValueMetaData.get,
      conf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString)
    val convertTz =
      if (conf.isParquetINT96TimestampConversion && !file.getCreatedBy.startsWith("parquet-mr"))
        DateTimeUtils.getZoneId(conf.sessionLocalTimeZone)
      else null
    hadoopConf.unset(ParquetInputFormat.FILTER_PREDICATE)
    predicate(meta, filters, conf).foreach(ParquetInputFormat.setFilterPredicate(hadoopConf, _))
    val reader = new VectorizedParquetRecordReader(convertTz, datetimeRebase.mode.toString,
      datetimeRebase.timeZone, int96Rebase.mode.toString, int96Rebase.timeZone, false,
      conf.parquetVectorizedReaderBatchSize)
    try {
      reader.initialize(new FileSplit(status.getPath, 0, status.getLen, Array.empty[String]),
        new TaskAttemptContextImpl(hadoopConf, new TaskAttemptID()), None, None, Some(meta))
      reader.initBatch(new StructType(), InternalRow.empty)
      val rows = mutable.ArrayBuffer.empty[InternalRow]
      while (reader.nextKeyValue()) rows += reader.getCurrentValue.asInstanceOf[InternalRow].copy()
      rows.toSeq
    } finally reader.close()
  }

  /** Footers read for part skipping and [[footerSchema]], by part path,
    * with the length and modification time they were read at. A part's entry lives until
    * [[forgetFooters]] reclaims its path. */
  private val footers = new ConcurrentHashMap[String, (Long, Long, ParquetMetadata)]

  private def footer(status: FileStatus, hadoopConf: Configuration): ParquetMetadata = {
    val key = status.getPath.toUri.getPath
    val cached = footers.get(key)
    if (cached != null && cached._1 == status.getLen && cached._2 == status.getModificationTime) cached._3
    else {
      val read = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, hadoopConf),
        ParquetMetadataConverter.NO_FILTER)
      footers.put(key, (status.getLen, status.getModificationTime, read))
      read
    }
  }

  /** The Parquet predicate a task's reader builds for the part from
    * `filters`: the session's pushdown settings, the part's own schema and
    * datetime rebase mode. */
  private def predicate(meta: ParquetMetadata, filters: Seq[sources.Filter], conf: SQLConf): Option[FilterPredicate] = {
    val parquet = new ParquetFilters(meta.getFileMetaData.getSchema, conf.parquetFilterPushDownDate,
      conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
      conf.parquetFilterPushDownStringPredicate, conf.parquetFilterPushDownInFilterThreshold,
      conf.caseSensitiveAnalysis, rebaseSpec(meta, conf))
    filters.flatMap(parquet.createFilter).reduceOption(FilterApi.and)
  }

  private def rebaseSpec(meta: ParquetMetadata, conf: SQLConf) =
    DataSourceUtils.datetimeRebaseSpec(meta.getFileMetaData.getKeyValueMetaData.get,
      conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString)

  /** Whether a row group of the part may pass `predicate`, judged as a
    * task's Parquet reader judges it at the statistics level, through
    * `RowGroupFilter.filterRowGroups`. */
  private def mayMatch(meta: ParquetMetadata, predicate: FilterPredicate): Boolean =
    !RowGroupFilter.filterRowGroups(FilterCompat.get(predicate), meta.getBlocks,
      meta.getFileMetaData.getSchema).isEmpty

  /** Drops the footers held for the part `path`, or for every part under
    * it when it is a directory: its caller has deleted them. */
  def forgetFooters(path: String): Unit = {
    val p = new Path(path).toUri.getPath
    footers.keySet.removeIf(k => k == p || k.startsWith(p + "/"))
  }

  /** Whether a footer is held for the part `path`. */
  def holdsFooter(path: String): Boolean = footers.containsKey(new Path(path).toUri.getPath)

  /** The local part `file`'s footer schema, from its held footer or read
    * on the calling thread (Spark's schema inference reads it in a
    * one-task job). */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val state = classic.ClassicConversions.castToImpl(spark).sessionState
    val hadoopConf = state.newHadoopConf()
    val status = FileSystem.getLocal(hadoopConf).getFileStatus(new Path(file))
    ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, footer(status, hadoopConf)),
      new ParquetToSparkSchemaConverter(state.conf))
  }
}
