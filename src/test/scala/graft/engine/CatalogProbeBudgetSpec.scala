package graft.engine

import graft.{SuiteScratch, TestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the catalog existence probes a query makes: one per distinct
  * relation name, none per column. */
class CatalogProbeBudgetSpec extends AnyFunSuite with SuiteScratch {

  private lazy val spark = TestSession.spark

  test("a query probes each relation name once and no column name") {
    val probes = scala.collection.mutable.Map.empty[String, Int]
    def bump(k: String): Unit = probes.synchronized { probes(k) = probes.getOrElse(k, 0) + 1 }
    val cat = new Catalog(scratchDir("graft-probe-")) {
      override def tableExists(db: String, schema: String, table: String): Boolean = {
        bump("tableExists"); super.tableExists(db, schema, table)
      }
      override def databaseExists(name: String): Boolean = {
        bump("databaseExists"); super.databaseExists(name)
      }
    }
    val e = new SqlEngine(spark, cat, SqlContext("bank", "u"))
    e.execute("CREATE DATABASE bank")
    e.execute("CREATE TABLE accounts (id int PRIMARY KEY, email text UNIQUE, region text, " +
      "balance double precision)")
    e.execute("CREATE TABLE events (id serial PRIMARY KEY, account_id int, amount bigint)")
    e.execute("INSERT INTO accounts VALUES (5, 'a@x', 'eu', 10.0), (6, 'b@x', 'us', 0.0)")
    e.execute("INSERT INTO events (account_id, amount) VALUES (5, 3), (5, 4)")
    def probesOf(sql: String): (Int, Int) = {
      probes.synchronized(probes.clear())
      e.execute(sql).collect()
      probes.synchronized((probes.getOrElse("tableExists", 0), probes.getOrElse("databaseExists", 0)))
    }
    val point = probesOf("SELECT id, email, region, balance FROM accounts WHERE id = 5")
    assert(point._1 == 1, s"the point read made ${point._1} tableExists probes")
    // databaseExists comes from the schema listing and the descriptor
    // read, never from a column: one selected column costs the same
    val narrow = probesOf("SELECT id FROM accounts WHERE id = 5")
    assert(point == narrow, s"4 columns probed $point, 1 column $narrow")
    val (join, _) = probesOf("SELECT a.region, sum(ev.amount) AS s FROM accounts a " +
      "JOIN events ev ON a.id = ev.account_id WHERE a.balance > 0 GROUP BY a.region")
    assert(join == 2, s"a two-table join made $join tableExists probes")
    val (self, _) = probesOf(
      "SELECT x.id FROM accounts x JOIN accounts y ON x.region = y.region WHERE x.id < y.id")
    assert(self == 1, s"a self-join made $self tableExists probes")
  }
}
