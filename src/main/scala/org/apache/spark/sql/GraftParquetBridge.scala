package org.apache.spark.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Writes rows that are already on the driver as one Parquet part, on the
  * calling thread, through the writer `df.write.parquet` runs in its task:
  * `ParquetFileFormat.prepareWrite` over the session's Hadoop conf, then
  * one `OutputWriter`. The part therefore carries the same footer schema,
  * Spark row metadata and compression codec, without the scheduled job
  * and the output committer: for a 1-row part, 151 ms through a one-task
  * write job against 11.5 ms here (`local[4]` on a 4-core host, medians
  * of 100 after 20 warm-up writes). The caller commits the part (the
  * version file its `PartSet` links). The read side is the only code that turns a
  * version's part list into a relation ([[readParts]], or [[fileIndex]]
  * under the plugin's scan), over a schema the caller supplies: the file
  * list comes from the version file and is never listed again. Lives in the
  * spark.sql package only to reach the classic session's state.
  */
object GraftParquetBridge {

  /** Writes `rows` (external values matching `schema`) as one part file
    * under the existing directory `dir`. Zero rows still write one part
    * that holds the schema, as Spark's writer does for an empty write. */
  def writePart(spark: SparkSession, dir: String, schema: StructType, rows: Iterator[Row]): Unit = {
    val session = classic.ClassicConversions.castToImpl(spark)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
    val context = new TaskAttemptContextImpl(job.getConfiguration, attempt)
    val path = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(context)}").toString
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = factory.newInstance(path, schema, context)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }

  /** The Parquet `files` as one relation of `dataSchema` (made nullable,
    * as `spark.read` does) plus the partition columns of their `k=v/`
    * directories below `partitionRoot`; no files is an empty relation. */
  def readParts(spark: SparkSession, files: Seq[String], dataSchema: StructType,
      partitionRoot: Option[String] = None): DataFrame = {
    val session = classic.ClassicConversions.castToImpl(spark)
    val index = fileIndex(spark, files, partitionRoot)
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(session))
  }

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
    val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = partitionRoot.map(r => "basePath" -> fs.makeQualified(new Path(r)).toString).toMap
    new InMemoryFileIndex(session, statuses.map(_.getPath), options, None, listed) {
      override def listFiles(partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
        val dirs = super.listFiles(partitionFilters, dataFilters)
        val conf = session.sessionState.conf
        val filters =
          if (!conf.parquetFilterPushDown) Nil
          else dataFilters.flatMap(DataSourceStrategy.translateFilter(_, supportNestedPredicatePushdown = true))
        if (filters.isEmpty) dirs
        else {
          val hadoopConf = session.sessionState.newHadoopConf()
          dirs.map(d => d.copy(files = d.files.filter(f => mayMatch(f.fileStatus, filters, conf, hadoopConf))))
        }
      }
    }
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

  /** Whether a row group of the part may hold a row passing `filters`,
    * judged as a task's Parquet reader judges it at the statistics level:
    * the same predicate `ParquetFileFormat` builds (the session's pushdown
    * settings, the part's own schema and datetime rebase mode), through
    * `RowGroupFilter.filterRowGroups`. */
  private def mayMatch(status: FileStatus, filters: Seq[sources.Filter], conf: SQLConf,
      hadoopConf: Configuration): Boolean = {
    val meta = footer(status, hadoopConf)
    val file = meta.getFileMetaData
    val rebase = DataSourceUtils.datetimeRebaseSpec(file.getKeyValueMetaData.get,
      conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString)
    val parquet = new ParquetFilters(file.getSchema, conf.parquetFilterPushDownDate,
      conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
      conf.parquetFilterPushDownStringPredicate, conf.parquetFilterPushDownInFilterThreshold,
      conf.caseSensitiveAnalysis, rebase)
    filters.flatMap(parquet.createFilter).reduceOption(FilterApi.and).forall(p =>
      !RowGroupFilter.filterRowGroups(FilterCompat.get(p), meta.getBlocks, file.getSchema).isEmpty)
  }

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
