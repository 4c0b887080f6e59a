package graft.operators

import graft.GraftSession.withScratch
import graft.Tables
import graft.engine.{Catalog, SqlContext, SqlEngine}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY §2.A operators (the reference's own code) driven end-to-end
  * through the driver's oracle gate: catalog DDL (A3-A6), the insert
  * pipeline incl. serial/constraints (A2), table scan (A1), and session
  * UDFs (A7). Each query stands up a throwaway warehouse, pushes testdata
  * through the PG statement engine, and reads it back — the DuckDB oracle
  * sees only the equivalent relational result. The result is
  * checkpointed before the warehouse is deleted.
  */
object Parity {

  /** A statement engine connected to a new database `db` in warehouse
    * `wh` — the throwaway engine of every row that drives SQL statements. */
  private[operators] def engine(s: SparkSession, wh: String, db: String): SqlEngine = {
    val e = new SqlEngine(s, Catalog.open(wh), SqlContext(db, "user1"))
    e.execute(s"CREATE DATABASE $db")
    e
  }

  /** Runs `body` on a throwaway engine (database `db`) and materializes
    * its result before the warehouse is deleted. */
  private def scratchEngine(s: SparkSession, db: String)(body: SqlEngine => DataFrame): DataFrame =
    withScratch("graft-parity-wh-") { case Seq(wh) => body(engine(s, wh, db)).localCheckpoint() }

  val queries: Seq[NamedQuery] = Seq(
    // A1+A2+A3+A4: create table, INSERT .. SELECT from parquet, scan back.
    // The oracle is the identity query on the source — a hash match proves
    // the engine's insert+scan round-trip is lossless.
    NamedQuery(
      "a01_engine_roundtrip",
      Some(
        "SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_quantity AS quantity, " +
          "l_returnflag AS returnflag FROM lineitem " +
          "ORDER BY orderkey, linenumber, quantity, returnflag"),
      (s, dir) => {
        Tables.registerAll(s, dir)
        scratchEngine(s, "g1") { e =>
          // the synthetic lineitem has duplicate (orderkey, linenumber) pairs,
          // so the row identity is a bigserial surrogate key
          e.execute(
            "CREATE TABLE li (id bigserial PRIMARY KEY, orderkey bigint, linenumber int, " +
              "quantity double precision, returnflag text)")
          e.execute(
            "INSERT INTO li (orderkey, linenumber, quantity, returnflag) " +
              "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem")
          e.execute(
            "SELECT orderkey, linenumber, quantity, returnflag FROM li " +
              "ORDER BY orderkey, linenumber, quantity, returnflag")
        }
      }),

    // A2 serial prefill: ids 1..n assigned in input order over a sorted
    // select — the oracle reproduces them with row_number().
    NamedQuery(
      "a02_engine_serial",
      Some(
        "SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS INT) AS id, n_name AS name " +
          "FROM nation ORDER BY id"),
      (s, dir) => {
        Tables.registerAll(s, dir)
        scratchEngine(s, "g2") { e =>
          e.execute("CREATE TABLE nations (id serial PRIMARY KEY, name text)")
          e.execute("INSERT INTO nations (name) SELECT n_name FROM nation ORDER BY n_nationkey")
          e.execute("SELECT id, name FROM nations ORDER BY id")
        }
      }),

    // A1 time travel oracle-gated (r16 VERDICT task 3 — the last
    // spec-only surface): three INSERT commits publish versions 1..3 of
    // a managed table; the row replays EVERY snapshot through
    // graft_at_version, the (1,2] delta through graft_changes, the
    // head through graft_at_time at a fixed future instant (the MVCC
    // newest-≤-ts rule, reference src/tablet/memory.rs:73-81), and the
    // version ledger's deterministic column through graft_versions — all
    // against a DuckDB reconstruction of the same lineage from the
    // nation slices the inserts drew. A snapshot read that leaks a
    // later version's rows, loses one, or mis-bounds the change feed
    // hash-mismatches. Versions are engine-deterministic: CREATE=v0,
    // each INSERT commit +1 (SqlEngineSpec pins the numbering).
    NamedQuery(
      "a09_time_travel",
      Some(
        "SELECT 1 AS ver, CAST(n_nationkey AS BIGINT) AS nationkey, n_name AS name " +
          "FROM nation WHERE n_nationkey < 8 " +
          "UNION ALL SELECT 2, CAST(n_nationkey AS BIGINT), n_name FROM nation WHERE n_nationkey < 16 " +
          "UNION ALL SELECT 3, CAST(n_nationkey AS BIGINT), n_name FROM nation " +
          "UNION ALL SELECT 4, CAST(n_nationkey AS BIGINT), n_name FROM nation WHERE n_nationkey >= 8 AND n_nationkey < 16 " +
          "UNION ALL SELECT 5, CAST(n_nationkey AS BIGINT), n_name FROM nation " +
          "UNION ALL SELECT 6, CAST(v AS BIGINT), 'v' FROM (VALUES (1),(2),(3)) AS t(v) " +
          "ORDER BY ver, nationkey"),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        Tables.registerAll(s, dir)
        scratchEngine(s, "g4") { e =>
          e.execute("CREATE TABLE nv (nationkey bigint PRIMARY KEY, name text)")
          e.execute("INSERT INTO nv (nationkey, name) " +
            "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 8") // v1
          e.execute("INSERT INTO nv (nationkey, name) SELECT n_nationkey, n_name " +
            "FROM nation WHERE n_nationkey >= 8 AND n_nationkey < 16") // v2
          e.execute("INSERT INTO nv (nationkey, name) " +
            "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 16") // v3
          def tagged(ver: Int, sql: String): DataFrame =
            e.execute(sql).select(lit(ver).as("ver"), col("nationkey"), col("name"))
          // snapshots v1..v3, the (1,3] change feed, and the at-time head
          // (2100-01-01 UTC: newest version published ≤ then = v3)
          tagged(1, "SELECT nationkey, name FROM graft_at_version(nv, 1)")
            .unionByName(tagged(2, "SELECT nationkey, name FROM graft_at_version(nv, 2)"))
            .unionByName(tagged(3, "SELECT nationkey, name FROM graft_at_version(nv, 3)"))
            .unionByName(tagged(4, "SELECT nationkey, name FROM graft_changes(nv, 1, 2)"))
            .unionByName(tagged(5, "SELECT nationkey, name FROM graft_at_time(nv, 4102444800000)"))
            // graft_versions' deterministic projection: the version
            // numbers (1..3 — one per INSERT commit); publish_millis and
            // n_parts are wall-clock/layout metadata, not replayable
            .unionByName(tagged(6,
              "SELECT version AS nationkey, 'v' AS name FROM graft_versions(nv)"))
            .orderBy(col("ver"), col("nationkey"))
        }
      }),

    // A7 session UDFs bound to connection context, including the aliases
    // current_role/session_user/bare `user` and nested-expression use
    // (reference: src/sql/postgresql/functions/mod.rs:31-193, alias list
    // at mod.rs:125).
    NamedQuery(
      "a07_session_udfs",
      Some(
        "SELECT 'g3' AS current_catalog, 'g3' AS database, 'public' AS current_schema, " +
          "0 AS inet_client_port, 'user1' AS current_user, 'user1' AS current_role, " +
          "'user1' AS \"user\", 'USER1' AS shouted_user"),
      (s, dir) => {
        scratchEngine(s, "g3") { e =>
          e.execute(
            "SELECT current_catalog, current_database() AS database, current_schema(), " +
              "inet_client_port(), current_user, current_role, user, " +
              "upper(session_user) AS shouted_user")
        }
      })
  )
}
