package graft.engine

import scala.jdk.CollectionConverters._

import graft.{SuiteScratch, TestSession}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

/** Auto-compaction is tiered: a commit that fires it merges only the tail
  * (every part but the base, the table's largest part) into one part, and
  * rewrites the whole table only once the tail passes a fixed share of the
  * base. The rows, the snapshots and the change feed must behave as they
  * do across a full rewrite. */
class TieredCompactionSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  /** A table `t` whose one compacted part (the base) holds `rows` rows. */
  private def withBase(threshold: Int, rows: Int): SqlEngine = {
    val e = new SqlEngine(spark, new Catalog(scratchDir("graft-tier-")), SqlContext("db", "u"),
      autoCompactAfterParts = threshold)
    e.execute("CREATE DATABASE db")
    e.execute("CREATE TABLE t (id serial PRIMARY KEY, v bigint)")
    e.execute(s"INSERT INTO t (v) SELECT id + 1 FROM range(0, $rows)").collect()
    e.compactTable("db", "public", "t")
    e.vacuumTable("db", "public", "t", retentionMs = 0L)
    assert(live(e).size == 1)
    e
  }

  private def live(e: SqlEngine): Seq[String] = e.catalog.liveParts("db", "public", "t")

  private def rowCount(e: SqlEngine, part: String): Long = {
    val file = new Path(e.catalog.dataDir("db", "public", "t"), part)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally reader.close()
  }

  test("400 one-row INSERTs over a 20,000-row base keep the base part") {
    val e = withBase(threshold = 16, rows = 20000)
    val Seq(base) = live(e)
    var (tailMerges, fullRewrites, tieredRows, fullRuleRows) = (0, 0, 0L, 0L)
    (1 to 400).foreach { i =>
      val before = live(e).toSet
      e.execute(s"INSERT INTO t (v) VALUES (${20000 + i})")
      val after = live(e)
      if (!before.subsetOf(after.toSet)) {
        // a compaction published: what it wrote, against a rewrite of the table
        tieredRows += after.filter(_.startsWith("compact-")).filterNot(before).map(rowCount(e, _)).sum
        fullRuleRows += 20000 + i
        if (after.contains(base)) tailMerges += 1 else fullRewrites += 1
        assert(after.size == 2 && after.head == base, s"insert $i: $after")
      }
    }
    info(s"$tailMerges tail merges, $fullRewrites full rewrites; rows written by compaction per row " +
      s"inserted: ${tieredRows / 400.0} (a full rewrite per compaction: ${fullRuleRows / 400.0})")
    // the first merge at 16 tail parts, then one per 15 INSERTs (the merged
    // tail is one of the 16); 400 rows stay well within the share of the
    // base that forces a rewrite
    assert(tailMerges == (400 - 16) / 15 + 1 && fullRewrites == 0)
    assert(tieredRows * 10 < fullRuleRows)
    val rows = e.execute("SELECT id, v FROM t ORDER BY id").collect()
    assert(rows.length == 20400)
    assert(rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i + 1 && r.getLong(1) == i + 1 })
    assert(e.catalog.peekSerial("db", "public", "t", 1) == 20400L)
    // the merged tail is sorted by key and disjoint from the base
    val tail = e.catalog.livePartPaths("db", "public", "t")(1)
    val ids = spark.read.parquet(tail).collect().map(_.getInt(0)).toSeq
    assert(ids == ids.sorted && ids.head > 20000)

    // a tail past the share of the base: the next compaction rewrites the table
    e.execute("INSERT INTO t (v) SELECT id FROM range(0, 8000)").collect()
    val fired = (1 to 16).iterator.map { i => e.execute(s"INSERT INTO t (v) VALUES ($i)"); live(e) }
      .find(!_.contains(base))
    val Some(Seq(rewritten)) = fired
    assert(rowCount(e, rewritten) == e.execute("SELECT count(*) FROM t").collect().head.getLong(0))
  }

  test("a tail merge is a compaction publish: snapshots, vacuum, change feed") {
    val e = withBase(threshold = 4, rows = 1000)
    val Seq(base) = live(e)
    (1 to 3).foreach(i => e.execute(s"INSERT INTO t (v) VALUES (${1000 + i})"))
    val (v3, tailParts) = (e.catalog.currentVersion("db", "public", "t"), live(e).tail)
    val planned = e.execute("SELECT count(*), sum(v) FROM t")
    e.execute("INSERT INTO t (v) VALUES (1004)") // the fourth tail part fires the merge
    val merged = live(e)
    assert(merged.size == 2 && merged.head == base && merged.last.startsWith("compact-"))
    assert(planned.collect().head.getLong(0) == 1003L)
    assert(e.readTableAt("db", "public", "t", v3).count() == 1003L)

    // the change feed across the merge raises; the resumable read recovers
    val err = intercept[SqlError](e.readTableChanges("db", "public", "t", v3, v3 + 2).count())
    assert(err.getMessage.contains("compaction"))
    val consumed = e.readTableAt("db", "public", "t", v3).select("id")
    val resumed = e.readTableChangesResumable("db", "public", "t", v3, v3 + 2, consumed, Seq("id"))
    assert(resumed.collect().map(_.getLong(1)).toSeq == Seq(1004L))

    // the merged parts stay for the retention window, then go
    assert(e.vacuumTable("db", "public", "t") == 0)
    assert(planned.collect().head.getLong(1) == (1 to 1003).map(_.toLong).sum)
    assert(e.vacuumTable("db", "public", "t", retentionMs = 0L) == tailParts.size + 1)
    assert(e.execute("SELECT count(*) FROM t").collect().head.getLong(0) == 1004L)
  }
}
