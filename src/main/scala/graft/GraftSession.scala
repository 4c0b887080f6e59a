package graft

import java.nio.file.{Files, LinkOption, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftParquetBridge, SparkSession}

/** The one place a graft SparkSession is built, and the one scratch-
  * directory helper. Every main and every spec gets its session here, so
  * they all run the config the bench measures (the reference likewise
  * builds its query session once, in `PostgreSqlExecutor::new`,
  * src/sql/mod.rs:77-91). A caller that needs another SQL conf sets it on
  * its own `newSession()`; the static settings below hold for the JVM.
  */
object GraftSession {

  /** `local[cores]` with one shuffle partition per core, UTC, no UI, and
    * a generated-class cache that holds the whole board: the default 100
    * entries cycle when 80+ queries are interleaved, and every iteration
    * then pays full Janino recompilation (~+0.2-0.4 s per query). Call it
    * once per JVM: a later call returns the same session (its master and
    * static confs fixed) and resets that session's runtime confs. */
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.codegen.cache.maxEntries", 5000L)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", false)
    .getOrCreate()

  /** The session of a main: `SPARK_GRAFT_CPUS` cores, else `defaultCores`. */
  def forMain(defaultCores: Int): SparkSession =
    apply(sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.toInt))

  /** Creates one temp directory per prefix, runs `body` on their paths
    * (in prefix order), and deletes them recursively afterwards, also
    * when `body` throws. A DataFrame that outlives the call must be
    * materialized first (`localCheckpoint()`), or its next action reads
    * deleted files. */
  def withScratch[T](prefixes: String*)(body: Seq[String] => T): T = {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      prefixes.foreach(p => dirs += Files.createTempDirectory(p))
      body(dirs.map(_.toString).toSeq)
    } finally dirs.foreach(deleteRecursively)
  }

  /** Deletes `p` and everything under it, and drops the Parquet footers
    * held for the parts it held; symlinks are removed, never followed. A
    * missing `p` is a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      all.foreach(Files.deleteIfExists(_))
      GraftParquetBridge.forgetFooters(p.toString)
    }
}
