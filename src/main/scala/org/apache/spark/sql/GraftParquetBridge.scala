package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Writes rows that are already on the driver as one Parquet part, on the
  * calling thread, through the writer `df.write.parquet` runs in its task:
  * `ParquetFileFormat.prepareWrite` over the session's Hadoop conf, then
  * one `OutputWriter`. The part therefore carries the same footer schema,
  * Spark row metadata and compression codec, without the scheduled job
  * and the output committer: for a 1-row part, 151 ms through a one-task
  * write job against 11.5 ms here (`local[4]` on a 4-core host, medians
  * of 100 after 20 warm-up writes). The caller commits the part (the
  * catalog's manifest move). [[readParts]] is the read side for a
  * manifest's file list. Lives in the spark.sql package only to reach the
  * classic session's state.
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

  /** The local Parquet `files` under `basePath` as one relation, partition
    * columns discovered from their `k=v/` directories below `basePath`.
    * The file index is handed the files' statuses, so Spark lists
    * nothing: `spark.read.parquet` over an explicit file list schedules a
    * distributed listing job once it passes 32 paths (100 files of a
    * 50-partition directory, `local[2]`, warm: 1.0-1.7 s that way against
    * 0.08-0.13 s here). Schema inference reads one footer, as
    * `spark.read.parquet` does. `files` must not be empty. */
  def readParts(spark: SparkSession, basePath: String, files: Seq[String]): DataFrame = {
    val session = classic.ClassicConversions.castToImpl(spark)
    val fs = FileSystem.getLocal(session.sessionState.newHadoopConf())
    val statuses = files.map(f => fs.getFileStatus(new Path(f)))
    val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> fs.makeQualified(new Path(basePath)).toString)
    val index = new InMemoryFileIndex(session, statuses.map(_.getPath), options, None, listed)
    val format = new ParquetFileFormat
    val dataSchema = format.inferSchema(session, options, index.allFiles()).getOrElse(
      throw new IllegalArgumentException(s"no Parquet parts to read under $basePath"))
    session.baseRelationToDataFrame(
      HadoopFsRelation(index, index.partitionSchema, dataSchema, None, format, options)(session))
  }
}
