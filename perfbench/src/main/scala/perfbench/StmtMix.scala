package perfbench

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.Row

import graft.engine.{SqlContext, SqlEngine, SqlError}

/** `stmt_mix`: a closed loop of short transactions from two clients.
  *
  * Each client owns a [[SqlEngine]]; both share one [[graft.engine.Catalog]]
  * and one SparkSession. The preload is a serial-PK `accounts` table with a
  * UNIQUE email and a serial-PK `events` table, both generated from the
  * seed. The traffic follows TPC-C (standard specification 5.11): its five
  * transaction types in the shares of clause 5.2.3, each mapped to the
  * statements it issues. `accounts` stands for CUSTOMER when read and for
  * the unique-keyed ORDER header when a row is inserted; `events` holds
  * the ORDER-LINE and HISTORY rows. The engine has no UPDATE or DELETE, so
  * the transactions' updates and deletes are left out.
  *
  *  - New-Order: point read of the customer by PK, a one-row header insert
  *    with a fresh key into `accounts`, and 5-15 order lines (clause
  *    2.4.1.3) into `events`. 1% of New-Orders roll back (clause 2.4.1.4):
  *    their header reuses an existing key, the engine must reject it, and
  *    no lines follow.
  *  - Payment: point read of the customer by PK and a one-row HISTORY
  *    insert into `events`.
  *  - Order-Status: point read of the customer and a range aggregate over
  *    order lines.
  *  - Delivery: a range aggregate over order lines.
  *  - Stock-Level: an aggregate of recent order lines joined with
  *    `accounts`.
  */
object StmtMix {
  val Accounts = 2000
  val Events = 20000
  val Clients = 2
  val RangeRows = 1000
  val JoinRows = 500
  /** INSERT-commit auto-compaction threshold for the clients' engines. The
    * engine default (64 parts) would fire about once a minute at this
    * statement rate; 16 makes commit-time compaction fire several times
    * within one run, beside the reads. */
  val AutoCompactAfterParts = 16
  /** Rounds of every transaction type each client runs before the clock
    * starts. Statements still got faster through the first seconds after
    * two rounds (the JIT settling), so a slow moment of the host also
    * left more of the run's samples unsettled. */
  val WarmupRounds = 4
  /** Parts of the measured time whose point-read medians `latency_ms`
    * takes the lowest of. */
  val Quarters = 4

  /** Transaction types and their counts in one deck of 25: the smallest
    * deck that meets clause 5.2.3's minimum mix (Payment at least 43%,
    * Order-Status, Delivery and Stock-Level at least 4% each, New-Order
    * the rest). Each client deals its transactions from decks shuffled by
    * its seeded stream, so every run has the same mix and the seed
    * changes only the order and the statements' parameters. */
  val Mix: Seq[(String, Int)] = Seq(
    "new_order" -> 11, "payment" -> 11, "order_status" -> 1, "delivery" -> 1, "stock_level" -> 1)
  /** Percent of New-Orders that roll back (clause 2.4.1.4). */
  val RollbackPct = 1
  val Reads = Set("point", "range", "join")

  final case class Account(i: Long, region: Int, balance: Long)

  def run(r: Run): Unit = {
    val s = Math.floorMod(r.seed, 1000003L)
    def email(i: Long) = s"user$i.$s@example.org"
    def balance(i: Long): Long = Math.floorMod(i * 7919L + s * 104729L, 100000L)
    def region(i: Long): Int = (i % 16).toInt
    def evAccount(j: Long): Long = Math.floorMod(j * 31L + s, Accounts.toLong) + 1
    def evAmount(j: Long): Long = Math.floorMod(j * 131L + s * 17L, 1000L) + 1

    val catalog = r.setup(3) { rep =>
      val cat = r.newCatalog(r.dir(s"stmt_mix/wh$rep"))
      val e = new SqlEngine(r.spark, cat, SqlContext("bench", "client0"))
      e.execute("CREATE DATABASE bench")
      e.execute("CREATE TABLE accounts (id serial PRIMARY KEY, email text, region int, " +
        "balance bigint, CONSTRAINT accounts_email UNIQUE (email))")
      e.execute("CREATE TABLE events (id serial PRIMARY KEY, account_id int, seq int, kind int, amount bigint)")
      e.execute("INSERT INTO accounts (email, region, balance) " +
        s"SELECT concat('user', id, '.$s@example.org'), CAST(id % 16 AS INT), " +
        s"pmod(id * 7919 + ${s * 104729L}, 100000) FROM range(0, $Accounts)").collect()
      e.execute("INSERT INTO events (account_id, seq, kind, amount) " +
        s"SELECT CAST(pmod(id * 31 + $s, $Accounts) + 1 AS INT), CAST(id AS INT), CAST(id % 4 AS INT), " +
        s"pmod(id * 131 + ${s * 17L}, 1000) + 1 FROM range(0, $Events)").collect()
      cat
    }
    val engines = (0 until Clients).map(c =>
      new SqlEngine(r.spark, catalog, SqlContext("bench", s"client$c"), autoCompactAfterParts = AutoCompactAfterParts))

    // the model: the preloaded accounts as the engine numbered them
    val byId: Map[Long, Account] = engines.head.execute("SELECT id, email, region, balance FROM accounts")
      .collect().map { row =>
        val i = row.getString(1).stripPrefix("user").takeWhile(_ != '.').toLong
        row.getInt(0).toLong -> Account(i, row.getInt(2), row.getLong(3))
      }.toMap
    r.check("preload accounts match the generator",
      byId.size == Accounts && byId.values.map(_.i).toSet == (0L until Accounts).toSet &&
        byId.values.forall(a => a.balance == balance(a.i) && a.region == region(a.i)) &&
        (1L to Accounts).forall(byId.contains),
      s"${byId.size} accounts read back")

    // the clock starts once both clients have warmed up
    @volatile var t0 = Long.MaxValue
    @volatile var deadline = Long.MaxValue
    val start = new java.util.concurrent.CyclicBarrier(Clients, () => {
      t0 = System.nanoTime(); deadline = t0 + (r.seconds * 1e9).toLong
    })
    /** `at`: System.nanoTime() when the statement or transaction ended. */
    final case class Sample(kind: String, ms: Double, traced: Boolean, at: Long = System.nanoTime())
    // statements and transactions completed on the clock, per client
    val stmts = Array.fill(Clients)(mutable.ArrayBuffer.empty[Sample])
    val txns = Array.fill(Clients)(mutable.ArrayBuffer.empty[Sample])
    val ackedEvents = new java.util.concurrent.atomic.AtomicLong
    val ackedAccounts = new java.util.concurrent.atomic.AtomicLong
    val insertedBytes = new java.util.concurrent.atomic.AtomicLong
    val mismatches = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val deck = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }
    // transaction types with an untraced sample on the clock, and
    // statement kinds with a traced one
    val sampled = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val tracedKinds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    final class Failed extends Exception

    def client(c: Int): Unit = {
      val rnd = new Random(r.seed * 1000003L + c)
      val e = engines(c)
      var fresh = 0
      /** One statement; returns its wall ms. `check` names what is wrong
        * with the outcome, if anything: a wrong outcome counts as failed
        * and ends the transaction. */
      def stmt(kind: String, sql: String)(check: Try[Array[Row]] => String): Double = {
        val traced = Trace.on
        r.attempted.incrementAndGet()
        val (res, ms) = r.statement(e, kind, sql)
        val err = try check(res) catch { case x: Throwable => s"${x.getClass.getSimpleName}: ${x.getMessage}" }
        if (err.nonEmpty) { r.failed.incrementAndGet(); mismatches.add(s"$kind: $err"); throw new Failed }
        if (System.nanoTime() >= t0) { stmts(c) += Sample(kind, ms, traced); if (traced) tracedKinds.add(kind) }
        ms
      }
      def customer(): Double = {
        val id = 1L + rnd.nextInt(Accounts)
        stmt("point", s"SELECT id, email, region, balance FROM accounts WHERE id = $id") { res =>
          val rows = res.get
          val a = byId(id)
          if (rows.length != 1 || rows(0).getString(1) != email(a.i) || rows(0).getInt(2) != a.region ||
            rows(0).getLong(3) != a.balance) s"id $id -> ${rows.mkString(",")}" else ""
        }
      }
      def rangeAgg(): Double = {
        val lo = rnd.nextInt(Events - RangeRows)
        val hi = lo + RangeRows - 1
        stmt("range", s"SELECT count(*), sum(amount) FROM events WHERE seq BETWEEN $lo AND $hi") { res =>
          val rows = res.get
          val want = (lo.toLong to hi).map(evAmount).sum
          if (rows.length != 1 || rows(0).getLong(0) != RangeRows || rows(0).getLong(1) != want)
            s"seq $lo..$hi -> ${rows.mkString(",")}, want $want" else ""
        }
      }
      def joinAgg(): Double = {
        val lo = rnd.nextInt(Events - JoinRows)
        val hi = lo + JoinRows - 1
        stmt("join", "SELECT a.region, count(*) AS n, sum(e.amount) AS amt FROM events e JOIN accounts a " +
          s"ON e.account_id = a.id WHERE e.seq BETWEEN $lo AND $hi GROUP BY a.region ORDER BY a.region") { res =>
          val want = (lo.toLong to hi).groupBy(j => byId(evAccount(j)).region).toSeq.sortBy(_._1)
            .map { case (g, js) => (g, js.size.toLong, js.map(evAmount).sum) }
          val got = res.get.toSeq.map(x => (x.getInt(0), x.getLong(1), x.getLong(2)))
          if (got != want) s"seq $lo..$hi -> $got" else ""
        }
      }
      def lines(n: Int): Double = {
        val traced = Trace.on
        val values = Seq.fill(n)(s"(${1 + rnd.nextInt(Accounts)}, -1, ${rnd.nextInt(4)}, ${1 + rnd.nextInt(1000)})")
        stmt("ins_events", s"INSERT INTO events (account_id, seq, kind, amount) VALUES ${values.mkString(", ")}") { res =>
          val rows = res.get
          if (rows.length == 1 && rows(0).getLong(0) == n) {
            ackedEvents.addAndGet(n); if (traced) insertedBytes.addAndGet(24L * n); ""
          } else s"count ${rows.mkString(",")} for $n rows"
        }
      }
      def header(): Double = {
        val traced = Trace.on
        fresh += 1
        val em = s"new.$c.$fresh.$s@example.org"
        stmt("ins_accounts",
          s"INSERT INTO accounts (email, region, balance) VALUES ('$em', ${rnd.nextInt(16)}, ${rnd.nextInt(100000)})") { res =>
          val rows = res.get
          if (rows.length == 1 && rows(0).getLong(0) == 1) {
            ackedAccounts.incrementAndGet(); if (traced) insertedBytes.addAndGet(16L + em.length); ""
          } else s"count ${rows.mkString(",")}"
        }
      }
      def duplicate(): Double = {
        val i = rnd.nextInt(Accounts).toLong
        stmt("ins_dup", s"INSERT INTO accounts (email, region, balance) VALUES ('${email(i)}', 0, 0)") {
          case Failure(err: SqlError) if err.kind == SqlError.UniqueKeyAlreadyExists => ""
          case Failure(err) => throw err
          case Success(_) => s"duplicate ${email(i)} accepted"
        }
      }
      def txn(t: String): Unit = {
        val traced = Trace.on
        try {
          val ms = t match {
            case "new_order" =>
              customer() + (if (rnd.nextInt(100) < RollbackPct) duplicate() else header() + lines(5 + rnd.nextInt(11)))
            case "payment" => customer() + lines(1)
            case "order_status" => customer() + rangeAgg()
            case "delivery" => rangeAgg()
            case "stock_level" => joinAgg()
          }
          if (System.nanoTime() >= t0) { txns(c) += Sample(t, ms, traced); if (!traced) sampled.add(t) }
        } catch { case _: Failed => () }
      }
      // warm-up before the clock starts: every statement kind, so
      // first-use compilation is not sampled; the rejected insert also
      // makes sure every run checks a rejection
      for (_ <- 1 to WarmupRounds; t <- Seq("order_status", "stock_level", "payment", "new_order")) txn(t)
      try duplicate() catch { case _: Failed => () }
      start.await()
      val types = Iterator.continually(rnd.shuffle(deck)).flatten
      // untraced runs go on past the deadline until every transaction
      // type has a sample, so the mix-weighted rate below has every term.
      // Traced runs trace every other transaction, so the traced and the
      // untraced ones (for the tracing overhead) share the same moments.
      var n = 0
      while (System.nanoTime() < deadline || (!r.traced && sampled.size < Mix.size)) {
        Trace.on = r.traced && n % 2 == 1
        txn(types.next())
        n += 1
      }
      // traced runs: then one traced statement of every kind the clock
      // left without one, the rare join and rolled-back header included
      Trace.on = r.traced && c == 0
      if (r.traced && c == 0) Seq("point" -> (() => customer()), "range" -> (() => rangeAgg()),
        "join" -> (() => joinAgg()), "ins_events" -> (() => lines(1)), "ins_accounts" -> (() => header()),
        "ins_dup" -> (() => duplicate())).foreach { case (k, f) =>
        if (!tracedKinds.contains(k)) try f() catch { case _: Failed => () }
      }
      Trace.on = false
    }

    val threads = (0 until Clients).map(c => new Thread(() => client(c), s"client$c"))
    threads.foreach(_.start())
    var jvm: Option[JvmProbe.Window] = None
    if (r.traced) {
      while (t0 == Long.MaxValue) Thread.sleep(5)
      jvm = Some(new JvmProbe.Window)
    }
    threads.foreach(_.join())
    r.phase("measure")
    val all = stmts.toSeq.flatten
    val allTxns = txns.toSeq.flatten

    // ---- end-to-end ----
    val reads = all.filter(x => Reads(x.kind) && !x.traced).map(_.ms)
    val writes = all.filter(x => !Reads(x.kind) && !x.traced).map(_.ms)
    // closed loop: transactions per second = clients / mean transaction
    // latency, with the mean taken over the deck's exact mix (each type's
    // mean latency weighted by its share of the deck), so neither the
    // partial last deck nor the overrun past the deadline moves it
    def rate(xs: Seq[Sample]) = {
      val byType = xs.groupBy(_.kind)
      val meanMs = Mix.map { case (t, n) =>
        n.toDouble / deck.size * byType.get(t).map(v => v.map(_.ms).sum / v.size).getOrElse(Double.NaN)
      }.sum
      Clients / (meanMs / 1e3)
    }
    val untracedTxns = allTxns.filter(!_.traced)
    if (!r.traced) {
      r.e2e("rate_per_s") = (rate(untracedTxns), "1/s")
      // the lowest of the median point-read latencies of the run's four
      // quarters (the overrun past the deadline counts to the last): like
      // the board's best pass, robust to a slow stretch of the host
      val points = all.filter(x => x.kind == "point" && !x.traced)
      val quarter = (deadline - t0) / Quarters
      val byQuarter = points.groupBy(x => math.min(Quarters - 1, (x.at - t0) / quarter)).toSeq.sortBy(_._1).map(_._2)
      r.e2e("latency_ms") = (byQuarter.map(q => Stats.median(q.map(_.ms))).min, "ms")
      r.detail("point_p50_ms") = Stats.median(points.map(_.ms))
      r.detail("point_p50_ms_by_quarter") = byQuarter.map(q => (Stats.median(q.map(_.ms)), q.size))
    }
    val tailR = Stats.tailPercentile(reads.size)
    val tailW = Stats.tailPercentile(writes.size)
    if (!r.traced) r.detail("txn_per_s") = rate(untracedTxns)
    r.detail("read_p50_ms") = Stats.median(reads)
    r.detail(s"read_p${tailR.toInt}_ms") = Stats.percentile(reads, tailR)
    r.detail("read_samples") = reads.size
    r.detail("write_p50_ms") = Stats.median(writes)
    r.detail(s"write_p${tailW.toInt}_ms") = Stats.percentile(writes, tailW)
    r.detail("write_samples") = writes.size
    r.detail("per_kind_p50_ms") = all.groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.ms)) }
    r.detail("per_kind_count") = all.groupBy(_.kind).map { case (k, xs) => k -> xs.size }
    r.detail("per_txn_p50_ms") = allTxns.groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.ms)) }
    r.detail("per_txn_count") = allTxns.groupBy(_.kind).map { case (k, xs) => k -> xs.size }

    // ---- output checks ----
    val e = engines.head
    def one(sql: String) = e.execute(sql).collect()(0)
    val acc = one("SELECT count(*), count(DISTINCT id), count(DISTINCT email) FROM accounts")
    val ev = one("SELECT count(*), count(DISTINCT id) FROM events")
    r.check("every read matched the model and every expected rejection happened",
      mismatches.isEmpty, mismatches.toArray.take(5).mkString("; "))
    r.check("accounts rows = preload + acknowledged inserts, ids and emails distinct",
      acc.getLong(0) == Accounts + ackedAccounts.get && acc.getLong(1) == acc.getLong(0) &&
        acc.getLong(2) == acc.getLong(0), s"$acc vs ${Accounts + ackedAccounts.get}")
    r.check("events rows = preload + acknowledged inserts, ids distinct",
      ev.getLong(0) == Events + ackedEvents.get && ev.getLong(1) == ev.getLong(0),
      s"$ev vs ${Events + ackedEvents.get}")
    r.phase("checks")
    r.detail("acked_inserts") = Map("events" -> ackedEvents.get, "accounts" -> ackedAccounts.get)

    // ---- per-layer ----
    if (r.traced) {
      val traced = all.filter(_.traced)
      r.finishLayers(traced.map(_.ms).sum, traced.size)
      val w = jvm.get
      r.setLayer("jvm.gc_s", w.gcSeconds, "s")
      r.setLayer("jvm.heap_peak_mb", w.heapPeakMb, "MB")
      r.setLayer("codegen.compiles", w.compileCount.toDouble, "count")
      val out = r.layer("spark.output_mb")._1 * 1048576.0
      r.setLayer("catalog.write_amp", if (insertedBytes.get > 0) out / insertedBytes.get else 0.0, "ratio")
      r.setLayer("catalog.live_parts", catalog.dataFileStats("bench", "public", "events")._1.toDouble, "count")
      // traced against untraced statement latency: each kind's median,
      // weighted by the kind's statement count
      val byKind = all.groupBy(_.kind).values.flatMap { xs =>
        val (t, u) = xs.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None else Some((xs.size, Stats.median(t.map(_.ms)), Stats.median(u.map(_.ms))))
      }
      r.setLayer("trace.overhead_frac", byKind.map(k => k._1 * k._2).sum / byKind.map(k => k._1 * k._3).sum - 1,
        "ratio")
    }
  }
}
