package graft.engine

import graft.{SuiteScratch, TestSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** An engine read compiles once per statement shape: the literals of its
  * filters reach the generated code as parameters, so a second statement
  * that differs only in its literals compiles no class. The literals keep
  * their meaning (the rows equal `spark.sql`'s over the same data) and
  * their text (EXPLAIN prints them as before). */
class CodegenReuseSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  /** Runs `body` and counts the classes the JVM compiled meanwhile. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** accounts(id, region) with 200 rows over 4 parts, and events(id,
    * account_id, seq, amount) with 400. */
  private lazy val engine = {
    val e = new SqlEngine(spark, Catalog.open(scratchDir("graft-codegen-wh-")), SqlContext("cg", "u"),
      autoCompactAfterParts = 0)
    e.execute("CREATE DATABASE cg")
    e.execute("CREATE TABLE accounts (id bigint PRIMARY KEY, region int)")
    e.execute("CREATE TABLE events (id bigint PRIMARY KEY, account_id bigint, seq int, amount bigint)")
    (0 until 4).foreach { p =>
      e.execute("INSERT INTO accounts SELECT id, CAST(id % 7 AS int) AS region FROM range(" + (p * 50) + ", " +
        ((p + 1) * 50) + ")").collect()
      e.execute("INSERT INTO events SELECT id, id % 200 AS account_id, CAST(id AS int) AS seq, id * 3 AS amount " +
        "FROM range(" + (p * 100) +
        ", " + ((p + 1) * 100) + ")").collect()
    }
    e
  }

  /** The compiles of `second` after `first`, which differs only in literals. */
  private def secondCompiles(first: String, second: String): (Seq[Row], Long) = {
    engine.execute(first).collect()
    compiles(engine.execute(second).collect().toSeq)
  }

  test("two point reads of one shape: the second compiles nothing") {
    val (rows, n) = secondCompiles("SELECT id, region FROM accounts WHERE id = 17",
      "SELECT id, region FROM accounts WHERE id = 118")
    assert(rows == Seq(Row(118L, 118 % 7)))
    assert(n == 0, s"compiles: $n")
  }

  test("two range aggregates with different bounds: the second compiles nothing") {
    val (rows, n) = secondCompiles("SELECT count(*), sum(amount) FROM events WHERE seq BETWEEN 10 AND 29",
      "SELECT count(*), sum(amount) FROM events WHERE seq BETWEEN 150 AND 249")
    assert(rows == Seq(Row(100L, (150L to 249L).map(_ * 3).sum)))
    assert(n == 0, s"compiles: $n")
  }

  test("a join with a filtered side: the second compiles nothing") {
    val q = "SELECT a.region, count(*) AS n FROM events e JOIN accounts a ON e.account_id = a.id " +
      "WHERE e.seq BETWEEN %d AND %d GROUP BY a.region ORDER BY a.region"
    val (rows, n) = secondCompiles(q.format(0, 49), q.format(300, 369))
    val want = (300L to 369L).groupBy(s => ((s % 200) % 7).toInt).toSeq.sortBy(_._1)
      .map { case (g, ss) => Row(g, ss.size.toLong) }
    assert(rows == want)
    assert(n == 0, s"compiles: $n")
  }

  /** A session holding the view `lits` over a Parquet file of every
    * primitive column type the bound literals cover, NULLs in each, and an
    * engine on it: a name the catalog does not hold is left to Spark. */
  private lazy val (litSession, litEngine) = {
    val s = spark.newSession()
    val dir = scratchDir("graft-codegen-lits-")
    s.sql("""SELECT * FROM VALUES
      (CAST(-32768 AS smallint), -2147483648, -9223372036854775807L, true, CAST('NaN' AS double),
        DATE '1969-12-31', TIMESTAMP '1969-12-31 23:59:59.999999'),
      (CAST(-1 AS smallint), -1, -1L, false, CAST('-0.0' AS double), DATE '1970-01-01', TIMESTAMP '1970-01-01 00:00:00'),
      (CAST(0 AS smallint), 0, 0L, true, 0.0D, DATE '2024-02-29', TIMESTAMP '2024-02-29 12:30:00'),
      (CAST(7 AS smallint), 7, 9000000000L, false, CAST('Infinity' AS double), DATE '2024-03-01',
        TIMESTAMP '2024-03-01 00:00:00.000001'),
      (CAST(32767 AS smallint), 2147483647, 9223372036854775807L, true, CAST('-Infinity' AS double),
        DATE '9999-12-31', TIMESTAMP '9999-12-31 23:59:59'),
      (NULL, NULL, NULL, NULL, NULL, NULL, NULL)
      AS lits(s, i, l, b, d, dt, ts)""").coalesce(1).write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).createOrReplaceTempView("lits")
    (s, new SqlEngine(s, Catalog.open(scratchDir("graft-codegen-lits-wh-")), SqlContext("lits", "u")))
  }

  test("bound literals keep their values: engine rows equal spark.sql rows") {
    val predicates = Seq(
      "s = -32768", "s < 0", "s IN (-1, 32767)", "s IS NULL",
      "i = -2147483648", "i > -5", "i BETWEEN -2147483648 AND -1", "i IN (-2147483648, 7)", "i IS NOT NULL",
      "l = -9223372036854775807", "l < -1", "l >= 9000000000", "l IN (0, 9223372036854775807)",
      "b = true", "b <> false", "b IN (false)", "b IS NULL",
      "d = CAST('NaN' AS double)", "d >= CAST('NaN' AS double)", "d < CAST('NaN' AS double)",
      "d = CAST('-0.0' AS double)", "d = 0.0D", "d <= -0.0D", "d < CAST('Infinity' AS double)",
      "d = CAST('-Infinity' AS double)", "d > CAST('-Infinity' AS double)",
      "d IN (CAST('NaN' AS double), CAST('-0.0' AS double))", "d IS NULL",
      "dt = DATE '2024-02-29'", "dt < DATE '1970-01-01'", "dt BETWEEN DATE '1970-01-01' AND DATE '2024-03-01'",
      "dt IN (DATE '9999-12-31', DATE '1969-12-31')",
      "ts = TIMESTAMP '2024-02-29 12:30:00'", "ts < TIMESTAMP '1970-01-01 00:00:00'",
      "ts >= TIMESTAMP '2024-03-01 00:00:00.000001'", "ts IS NOT NULL")
    val s = litSession
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    predicates.foreach { p =>
      val q = s"SELECT * FROM lits WHERE $p"
      assert(rows(litEngine.execute(q)) == rows(s.sql(q)), q)
    }
  }

  test("EXPLAIN prints a bound literal as the literal") {
    val q = "SELECT i, d FROM lits WHERE i = -2147483648 AND d < CAST('Infinity' AS double)"
    val mask = (t: String) => t.replaceAll("#\\d+", "#")
    val explained = litEngine.execute(s"EXPLAIN $q").collect().map(_.getString(0)).mkString
    val executed = litEngine.execute(q).queryExecution.executedPlan.treeString
    assert(executed.contains("(i#") && executed.contains(" = -2147483648)"), executed)
    assert(executed.contains("< Infinity)"), executed)
    assert(mask(explained).contains(mask(executed).trim), s"$explained\n---\n$executed")
  }
}
