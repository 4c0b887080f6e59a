package graft.engine

import graft.{SuiteScratch, TestSession}
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties for the descriptor model, PG type mapping, and
  * tokenizer (SURVEY §5: property tests for the type mapping and
  * constraint surface). Run through scalacheck's own runner and asserted
  * under ScalaTest. */
class PropertySpec extends AnyFunSuite with SuiteScratch {

  private def check(p: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: $res")
  }

  // --- generators -------------------------------------------------------

  private val typeSynonyms: Map[String, ColumnTypeKind] = {
    import ColumnTypeKind._
    Map(
      "boolean" -> BooleanKind, "bool" -> BooleanKind,
      "smallint" -> Int16Kind, "int2" -> Int16Kind,
      "int" -> Int32Kind, "int4" -> Int32Kind, "integer" -> Int32Kind,
      "bigint" -> Int64Kind, "int8" -> Int64Kind,
      "real" -> Float32Kind, "float4" -> Float32Kind,
      "double precision" -> Float64Kind, "float8" -> Float64Kind,
      "text" -> StringKind, "varchar" -> StringKind, "bytea" -> BytesKind,
      "smallserial" -> Int16Kind, "serial2" -> Int16Kind,
      "serial" -> Int32Kind, "serial4" -> Int32Kind,
      "bigserial" -> Int64Kind, "serial8" -> Int64Kind)
  }
  private val serialNames =
    Set("smallserial", "serial2", "serial", "serial4", "bigserial", "serial8")

  private val genIdent: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.oneOf(Gen.alphaLowerChar, Gen.numChar))
  } yield (h :: t).mkString

  private def randomizeCase(s: String): Gen[String] =
    Gen.listOfN(s.length, Gen.oneOf(true, false)).map { flips =>
      s.zip(flips).map { case (c, up) => if (up) c.toUpper else c }.mkString
    }

  /** An engine connected to a fresh warehouse's `db1`, on the shared local session. */
  private def engineIn(prefix: String): (SparkSession, SqlEngine) = {
    val spark = TestSession.spark
    val eng = new SqlEngine(
      spark, new Catalog(scratchDir(prefix)),
      SqlContext("db1", "u"))
    eng.execute("CREATE DATABASE db1")
    (spark, eng)
  }

  // --- properties -------------------------------------------------------

  test("PG type mapping holds under arbitrary keyword casing") {
    val p = Prop.forAll(
      Gen.oneOf(typeSynonyms.keys.toSeq).flatMap(t => randomizeCase(t).map(rc => (t, rc))),
      genIdent) { case ((typeName, cased), colName) =>
      val ddl = s"CREATE TABLE t ($colName $cased, k int, PRIMARY KEY (k))"
      SqlParser.parse(ddl) match {
        case SqlParser.CreateTable(_, b, _) =>
          val d = b.build(1L)
          val c = d.findColumn(colName).get
          c.typeKind == typeSynonyms(typeName) &&
            c.serial == serialNames.contains(typeName) &&
            (!c.serial || !c.nullable)
        case _ => false
      }
    }
    check(p, "type mapping")
  }

  test("descriptor JSON round-trips for arbitrary schemas") {
    val genColumn = for {
      name <- genIdent
      tn <- Gen.oneOf(typeSynonyms.keys.toSeq)
      notNull <- Gen.oneOf(true, false)
      varcharLen <- Gen.choose(1, 255)
    } yield (name, tn, notNull, varcharLen)

    val p = Prop.forAll(Gen.listOfN(6, genColumn), Gen.choose(1, 5)) { (colsRaw, nUnique) =>
      val cols = colsRaw.distinctBy(_._1)
      cols.size >= 2 ==> {
        val b = new TableDescriptorBuilder("t")
        cols.foreach { case (name, tn, notNull, len) =>
          val kind = typeSynonyms(tn)
          val maxLen = if (tn == "varchar") Some(len) else None
          b.addColumn(name, kind, maxLen)
          if (notNull) b.setNullable(false)
          b.setSerial(serialNames.contains(tn))
        }
        b.addPrimaryIndex(None, Seq(cols.head._1))
        cols.tail.take(nUnique).zipWithIndex.foreach { case ((name, _, _, _), i) =>
          b.addUniqueIndex(Some(s"u$i"), Seq(name), nullsDistinct = i % 2 == 0)
        }
        val d = b.build(7L)
        val back = DescriptorJson.read(DescriptorJson.write(d))
        back == d &&
          d.primaryIndex.storingColumnIds == d.columns.map(_.id).filterNot(d.primaryIndex.columnIds.contains)
      }
    }
    check(p, "descriptor json")
  }

  test("tokenizer is stable under re-rendering (session-function rewrite)") {
    // session functions are bound on the parse tree: a statement naming
    // none keeps its tree, a bound tree holds no session call, so binding
    // it again changes nothing, and the text still classifies as a query
    val (spark, eng) = engineIn("p-session")
    val sessionNames = Set("current_catalog", "current_database", "current_schema",
      "current_user", "current_role", "session_user", "user", "inet_client_port")
    val genItem: Gen[String] = Gen.oneOf(
      genIdent, genIdent.map(c => s"t.$c"), Gen.const("t.user"),
      Gen.choose(0, 99999).map(_.toString), Gen.const("'it''s'"),
      genIdent.map(c => s"upper($c)"),
      Gen.oneOf("user", "current_user", "session_user", "current_role", "current_catalog",
        "current_database()", "current_schema()", "inet_client_port()").flatMap(randomizeCase))
    val genSql: Gen[String] = for {
      items <- Gen.listOfN(3, genItem); cond <- genItem; src <- genIdent
      list = items.mkString(", ")
      sql <- Gen.oneOf(
        s"SELECT $list",
        s"SELECT $list FROM $src t",
        s"SELECT $list FROM $src t WHERE $cond = ${items.head}",
        s"SELECT ${items.head} AS x FROM (SELECT $list FROM $src t) t",
        s"SELECT ${items.head} FROM $src t WHERE EXISTS (SELECT ${items(1)} FROM $src t WHERE $cond IS NULL)")
    } yield sql
    def sessionCalls(plan: LogicalPlan): Int =
      plan.collectWithSubqueries { case p => p.expressions }.flatten.map(_.collect {
        case UnresolvedAttribute(Seq(n)) if sessionNames(n.toLowerCase) => n
        case f: UnresolvedFunction if f.nameParts.length == 1 && f.arguments.isEmpty &&
          sessionNames(f.nameParts.head.toLowerCase) => f.nameParts.head
      }.size).sum
    val p = Prop.forAll(genSql) { sql =>
      val parsed = GraftPlanBridge.parse(spark, sql)
      val once = eng.bind(parsed)
      val twice = eng.bind(once)
      SqlParser.parse(sql).isInstanceOf[SqlParser.Query] &&
        (sessionCalls(parsed) > 0 || once == parsed) &&
        sessionCalls(once) == 0 && twice == once
    }
    check(p, "session-function binding stability")
  }

  test("statement splitting is comment-blind: interleaved comments never change the token stream") {
    val genStmtTok: Gen[String] = Gen.oneOf(
      genIdent, Gen.choose(0, 9999).map(_.toString),
      Gen.const("'a; ''b'''"), Gen.oneOf("select", "from", "where", ",", "(", ")", "="))
    val genComment: Gen[String] = Gen.oneOf(
      Gen.const(""), Gen.const("-- note; with semicolon\n"),
      Gen.const("/* block; ; comment */"))
    val p = Prop.forAll(Gen.listOfN(8, Gen.zip(genStmtTok, genComment))) { pairs =>
      val plain = pairs.map(_._1).mkString(" ")
      val commented = pairs.map { case (t, c) => s"$t $c" }.mkString(" ") + " -- trailing; junk"
      SqlParser.tokenize(SqlParser.singleStatement(commented)) ==
        SqlParser.tokenize(SqlParser.singleStatement(plain))
    }
    check(p, "comment-blind splitting")
  }

  test("resolveTables is byte-identity on statements referencing no catalog table") {
    // the parse-tree resolver replaces only relations the catalog holds;
    // with none named it must return the parse tree as it was, whatever
    // the spacing, comments, casing, dotted column chains, CTEs shadowing
    // a managed table, or names in other schemas and databases
    val (spark, eng) = engineIn("p-resolve")
    eng.execute("CREATE TABLE ztable99x (a int PRIMARY KEY)") // 9 chars — never generated
    val managed = "SELECT a FROM ztable99x"
    assert(eng.bind(GraftPlanBridge.parse(spark, managed)) != GraftPlanBridge.parse(spark, managed),
      "the resolver binds a managed table")
    val genName: Gen[String] = Gen.oneOf(
      genIdent, genIdent.map(t => s"public.$t"), Gen.zip(genIdent, genIdent).map { case (s, t) => s"$s.$t" },
      Gen.const("nosuch.ztable99x"), Gen.const("db2.public.ztable99x"))
    val genCol: Gen[String] = Gen.oneOf(genIdent,
      Gen.zip(genIdent, genIdent).map { case (a, b) => s"$a.$b" },
      Gen.zip(genIdent, genIdent, genIdent).map { case (a, b, c) => s"$a.$b.$c" })
    val genSpace: Gen[String] = Gen.oneOf(" ", "  ", "\n", " -- cmt\n", " /* c */ ")
    val genSql: Gen[String] = for {
      n1 <- genName; n2 <- genName; c1 <- genCol; c2 <- genCol; a1 <- genIdent; a2 <- genIdent
      sql <- Gen.oneOf(
        s"SELECT $c1 , $c2 FROM $n1 $a1",
        s"SELECT $a1.$c1 FROM $n1 $a1 JOIN $n2 $a2 ON $a1.$c1 = $a2.$c2",
        s"WITH ztable99x AS ( SELECT $c1 FROM $n1 ) SELECT * FROM ztable99x WHERE $c2 > 5",
        s"SELECT * FROM $n1 WHERE $c1 IN ( SELECT $c2 FROM $n2 )",
        s"SELECT count(*) FROM ( SELECT $c1 FROM $n1 ) $a1 GROUP BY $c2")
      cased <- randomizeCase(sql)
      words = cased.split(' ').toList
      spaces <- Gen.listOfN(words.size - 1, genSpace)
    } yield words.head + words.tail.zip(spaces).map { case (w, sp) => sp + w }.mkString
    val p = Prop.forAll(genSql) { sql =>
      scala.util.Try(GraftPlanBridge.parse(spark, sql)).toOption.isDefined ==> {
        val parsed = GraftPlanBridge.parse(spark, sql)
        (eng.bind(parsed) == parsed) :| sql
      }
    }
    check(p, "resolveTables identity")
  }

  test("queries naming no managed table plan exactly as spark.sql plans them") {
    // the engine's parse-tree pass must leave every other name to Spark:
    // on such a statement engine.execute and spark.sql return the same
    // schema and rows, or both fail with the same exception class
    val spark = TestSession.spark
    val eng = new SqlEngine(
      spark, new Catalog(scratchDir("p-plan")),
      SqlContext("db1", "u"))
    eng.execute("CREATE DATABASE db1")
    eng.execute("CREATE TABLE ztable99x (a int PRIMARY KEY)") // never generated
    spark.sql("SELECT * FROM VALUES (1, 'p', 2.5), (2, 'q', NULL), (4, 'p', 0.5) AS t(a, b, c)")
      .createOrReplaceTempView("pview")
    val genCol = Gen.oneOf("a", "b", "c", "nosuchcol")
    val genLit = Gen.oneOf(Gen.choose(-50, 50).map(_.toString),
      Gen.oneOf("'x'", "'it''s'", "NULL", "1.5", "true"))
    val genExpr: Gen[String] = Gen.oneOf(genCol, genLit,
      for { x <- genCol; op <- Gen.oneOf("+", "*", "-", "||", "=", "<"); y <- Gen.oneOf(genCol, genLit) }
        yield s"$x $op $y",
      genCol.map(c => s"upper(cast($c AS string))"), genCol.map(c => s"coalesce($c, 0)"))
    val genSource = Gen.oneOf("pview", "(SELECT * FROM pview WHERE a > 1) s",
      "(VALUES (1, 'p', 2.5), (2, 'q', NULL), (3, 'p', 0.5)) AS v(a, b, c)")
    val genSql: Gen[String] = for {
      e1 <- genExpr; e2 <- genExpr; src <- genSource
      sql <- Gen.oneOf(
        s"SELECT $e1 AS x, $e2 AS y FROM $src",
        s"SELECT $e1, $e2 FROM $src ORDER BY 1",
        s"SELECT b, count(*) AS n, sum(a) AS s FROM $src GROUP BY b HAVING count(*) > 0",
        s"WITH w AS (SELECT * FROM $src) SELECT $e1 AS x FROM w WHERE $e2",
        s"SELECT $e1 AS x FROM $src WHERE a IN (SELECT a FROM pview WHERE $e2)",
        s"SELECT ($e1) AS x, EXISTS (SELECT 1 FROM $src) AS e",
        s"SELECT $e1 FROM FROM $src",
        s"EXPLAIN SELECT $e1 FROM $src")
    } yield sql
    def outcome(run: String => org.apache.spark.sql.DataFrame, sql: String) =
      // EXPLAIN text carries expression ids, which differ per analysis
      scala.util.Try { val df = run(sql)
        (df.schema, df.collect().map(_.toString.replaceAll("#\\d+", "#")).sorted.toSeq) }
        .toEither.left.map(_.getClass)
    val p = Prop.forAll(genSql) { sql =>
      SqlParser.parse(sql).isInstanceOf[SqlParser.Query] ==> {
        val viaEngine = outcome(eng.execute, sql)
        val viaSpark = outcome(spark.sql, sql)
        (viaEngine == viaSpark) :| s"$sql: engine $viaEngine, spark.sql $viaSpark"
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, s"plan-level identity: $res")
  }

  test("narrowing guard: bigint into int raises exactly when the value can't round-trip") {
    val spark = TestSession.spark
    val eng = new SqlEngine(
      spark, new Catalog(scratchDir("p-narrow")),
      SqlContext("db1", "u"))
    eng.execute("CREATE DATABASE db1")
    eng.execute("CREATE TABLE t (id bigserial PRIMARY KEY, v int)")
    val interesting = Seq(0L, 1L, -1L, Int.MaxValue.toLong, Int.MinValue.toLong,
      Int.MaxValue + 1L, Int.MinValue - 1L, Long.MaxValue, Long.MinValue)
    val p = Prop.forAll(Gen.oneOf(Gen.oneOf(interesting), Gen.choose(Long.MinValue, Long.MaxValue))) { v =>
      val fits = v >= Int.MinValue && v <= Int.MaxValue
      try {
        eng.execute(s"INSERT INTO t (v) VALUES (CAST($v AS BIGINT))")
        fits
      } catch {
        case e: SqlError => !fits && e.kind == SqlError.MismatchColumnType
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, s"narrowing guard: $res")
  }

  test("serial counter arithmetic never exceeds the type ceiling") {
    val wh = scratchDir("p-serial")
    val cat = new Catalog(wh)
    cat.createDatabase("d", ifNotExists = false)
    val b = new TableDescriptorBuilder("t")
    b.addColumn("id", ColumnTypeKind.Int16Kind, None).setSerial(true)
    b.addPrimaryIndex(None, Seq("id"))
    cat.createTable("d", "public", b, ifNotExists = false)
    val col16 = cat.getTable("d", "public", "t").findColumn("id").get
    val p = Prop.forAll(Gen.choose(0L, Short.MaxValue + 10L), Gen.choose(1L, 64L)) { (start, n) =>
      cat.setSerial("d", "public", "t", col16.id, start)
      val wouldOverflow = start + n > Short.MaxValue
      try {
        val first = cat.reserveSerial("d", "public", "t", col16, n)
        !wouldOverflow && first == start + 1 &&
          cat.peekSerial("d", "public", "t", col16.id) == start + n
      } catch {
        case e: SqlError => wouldOverflow && e.getMessage.contains("overflow")
      }
    }
    check(p, "serial ceiling")
  }
}
