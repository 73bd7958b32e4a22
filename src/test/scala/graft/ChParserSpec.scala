package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.parser.{ChParser, ChStatement}
import graft.types.BqlType

/** Statement-parser unit tests mirroring the reference grammar's command
  * set (crates/lang/src/bql.pest:8-23) and its parse tests
  * (crates/lang/src/parse.rs).
  */
class ChParserSpec extends AnyFunSuite {
  import ChStatement._

  private def p(sql: String): ChStatement =
    ChParser.parse(sql).fold(e => fail(s"parse failed: $e"), identity)

  test("create database forms") {
    assert(p("CREATE DATABASE db1") === CreateDatabase("db1", ifNotExists = false))
    assert(p("create database if not exists db1") === CreateDatabase("db1", ifNotExists = true))
  }

  test("create table with types, constraints and attributes") {
    val ct = p("CREATE TABLE IF NOT EXISTS db1.t (a UInt64, b Nullable(String), " +
      "c Decimal(9, 2) NOT NULL, d Date PRIMARY KEY) ENGINE=BaseStorage " +
      "PARTITION BY toYYYYMM(d) SETTINGS x=1, y=2").asInstanceOf[CreateTable]
    assert(ct.db === Some("db1") && ct.name === "t" && ct.ifNotExists)
    assert(ct.cols.map(_.name) === Seq("a", "b", "c", "d"))
    assert(ct.cols(0).tpe === BqlType.UInt64)
    assert(ct.cols(1).tpe === BqlType.Nullable(BqlType.Str))
    assert(ct.cols(2).tpe === BqlType.Decimal(9, 2) && ct.cols(2).notNull)
    assert(ct.cols(3).primaryKey)
    assert(ct.engine === Some("BaseStorage"))
    assert(ct.partitionBy === Some("toYYYYMM(d)"))
    assert(ct.settings === Map("x" -> "1", "y" -> "2"))
  }

  test("drop / truncate / use / optimize") {
    assert(p("DROP TABLE IF EXISTS db.t") === DropTable(Some("db"), "t", ifExists = true))
    assert(p("DROP DATABASE d") === DropDatabase("d", ifExists = false))
    assert(p("TRUNCATE TABLE t") === TruncateTable(None, "t"))
    assert(p("USE mydb") === UseDb("mydb"))
    assert(p("OPTIMIZE TABLE t") === OptimizeTable(None, "t"))
  }

  test("show statements") {
    assert(p("SHOW DATABASES") === ShowDatabases)
    assert(p("SHOW TABLES") === ShowTables(None))
    assert(p("SHOW TABLES FROM db2") === ShowTables(Some("db2")))
    assert(p("SHOW CREATE TABLE db.t") === ShowCreateTable(Some("db"), "t"))
    assert(p("DESC t") === DescTable(None, "t"))
    assert(p("DESCRIBE TABLE db.t") === DescTable(Some("db"), "t"))
  }

  test("insert values: literals, negatives, NULL, strings with escapes") {
    val iv = p("INSERT INTO t VALUES (1, 'a''b', NULL), (-2, 'x', 3.5)")
      .asInstanceOf[InsertValues]
    assert(iv.rows === Seq(
      Seq(Some("1"), Some("'a''b'"), None),
      Seq(Some("-2"), Some("'x'"), Some("3.5"))))
  }

  test("insert with column list and insert-select") {
    val iv = p("INSERT INTO t (a, b) VALUES (1, 2)").asInstanceOf[InsertValues]
    assert(iv.cols === Some(Seq("a", "b")))
    val is = p("INSERT INTO t SELECT x FROM s WHERE x > 3").asInstanceOf[InsertSelect]
    assert(is.selectSql.trim === "SELECT x FROM s WHERE x > 3")
  }

  test("insert format csv captures inline payload") {
    val f = p("INSERT INTO t FORMAT CSV\n1,a\n2,b").asInstanceOf[InsertFormat]
    assert(f.format === "CSV")
    assert(f.inlinePayload.trim === "1,a\n2,b")
  }

  test("insert FORMAT VALUES is VALUES-clause sugar (bql.pest:86-91)") {
    val iv = p("INSERT INTO t FORMAT VALUES (1, 'a'), (2, NULL)")
      .asInstanceOf[InsertValues]
    assert(iv.rows === Seq(
      Seq(Some("1"), Some("'a'")),
      Seq(Some("2"), None)))
    val withCols = p("INSERT INTO t (a, b) FORMAT Values (3, 'z')")
      .asInstanceOf[InsertValues]
    assert(withCols.cols === Some(Seq("a", "b")))
  }

  test("select and explain pass through untouched") {
    assert(p("SELECT a FROM t -- c") === Select("SELECT a FROM t -- c"))
    assert(p("WITH x AS (SELECT 1) SELECT * FROM x").isInstanceOf[Select])
    val e = p("EXPLAIN SELECT sum(a) FROM t").asInstanceOf[Explain]
    assert(e.selectSql.trim === "SELECT sum(a) FROM t")
  }

  test("parse errors are reported, not swallowed") {
    assert(ChParser.parse("FROB TABLE t").isLeft)
    assert(ChParser.parse("CREATE TABLE t (a NotAType)").isLeft)
    assert(ChParser.parse("INSERT INTO t VALUES (1,)").isLeft)
  }

  test("script splitter matches the reference runner's blank-line rule") {
    val stmts = ChParser.splitScript(
      "DROP TABLE IF EXISTS t\n\nCREATE TABLE t(a UInt64)\n\n:6\nselect 1")
    assert(stmts === Seq("DROP TABLE IF EXISTS t", "CREATE TABLE t(a UInt64)"))
  }

  test("string-literal escapes decode to CH control characters") {
    // ADVICE r2: 'a\nb' must round-trip as a-newline-b, not "anb"
    val iv = p("INSERT INTO t VALUES ('a\\nb'), ('t\\tab'), ('back\\\\slash'), ('q\\'uote'), ('un\\known')")
      .asInstanceOf[InsertValues]
    val vals = iv.rows.map(_.head.get)
    assert(vals(0) === "'a\nb'")
    assert(vals(1) === "'t\tab'")
    assert(vals(2) === "'back\\slash'")
    assert(vals(3) === "'q''uote'") // re-quoted for the literal codec
    assert(vals(4) === "'unknown'") // unknown escape: char verbatim
  }

  test("SETTINGS admits signed values and rejects dangling '='") {
    val ct = p("CREATE TABLE t(a Int32) SETTINGS x=-1, y=+2, z=3")
      .asInstanceOf[CreateTable]
    assert(ct.settings === Map("x" -> "-1", "y" -> "2", "z" -> "3"))
    assert(ChParser.parse("CREATE TABLE t(a Int32) SETTINGS x=").isLeft)
  }

  test("splitStatements treats INSERT ... FORMAT payload as opaque") {
    // ADVICE r2: a ';' inside CSV payload must not split the statement
    val r = ChParser.splitStatements(
      "CREATE TABLE t(a Int32, b String); INSERT INTO t FORMAT CSV\n1,a;b\n2,c;d")
    assert(r === Right(Seq(
      "CREATE TABLE t(a Int32, b String)",
      "INSERT INTO t FORMAT CSV\n1,a;b\n2,c;d")))
    // FORMAT as a column name inside parens does not trigger opaque mode
    val r2 = ChParser.splitStatements(
      "INSERT INTO t (format, x) VALUES (1, 2); SELECT 1")
    assert(r2 === Right(Seq("INSERT INTO t (format, x) VALUES (1, 2)", "SELECT 1")))
  }

  test("tableFnCalls skips string literals and comments") {
    assert(ChParser.tableFnCalls("SELECT count(*) FROM numbers(5)", "numbers")
      .map(_._3) === Seq(Seq("5")))
    assert(ChParser.tableFnCalls("SELECT 'numbers(5)' AS s", "numbers") === Nil)
    assert(ChParser.tableFnCalls(
      "SELECT 1 -- remote('u','t')\n", "remote") === Nil)
    assert(ChParser.tableFnCalls(
      "SELECT 1 /* remote('u','t') */", "remote") === Nil)
    val calls = ChParser.tableFnCalls(
      "SELECT * FROM remote('jdbc:x', 'tab', 'user', 'pw')", "remote")
    assert(calls.map(_._3) === Seq(Seq("jdbc:x", "tab", "user", "pw")))
    // non-literal args are left for Spark to reject
    assert(ChParser.tableFnCalls("SELECT numbers(x)", "numbers") === Nil)
  }

  test("splitLimitBy finds the top-level CH LIMIT BY clause") {
    val p = ChParser.splitLimitBy(
      "SELECT a, b FROM t ORDER BY b DESC, a LIMIT 2 BY a LIMIT 7").get
    assert(p.core === "SELECT a, b FROM t")
    assert(p.orderBy === Some("b DESC, a"))
    assert((p.offset, p.n) === (0L, 2L))
    assert(p.by === "a")
    assert(p.outer === Some("7"))

    // two-arg (offset) form; no ORDER BY; no outer LIMIT; multi-expr BY
    val q = ChParser.splitLimitBy(
      "SELECT a, b, c FROM t LIMIT 1, 3 BY a, c").get
    assert(q.core === "SELECT a, b, c FROM t")
    assert(q.orderBy === None)
    assert((q.offset, q.n) === (1L, 3L))
    assert(q.by === "a, c")
    assert(q.outer === None)
  }

  test("splitLimitBy ignores nested/ambiguous and plain LIMIT") {
    // plain LIMIT is not LIMIT BY
    assert(ChParser.splitLimitBy("SELECT a FROM t LIMIT 5") === None)
    // a LIMIT BY inside a subquery is not top-level
    assert(ChParser.splitLimitBy(
      "SELECT * FROM (SELECT a FROM t LIMIT 2 BY a) u") === None)
    // set operations leave the clause scope ambiguous -> untouched
    assert(ChParser.splitLimitBy(
      "SELECT a FROM t UNION ALL SELECT a FROM u LIMIT 2 BY a") === None)
    // string literals cannot fake a clause
    assert(ChParser.splitLimitBy("SELECT ' LIMIT 2 BY a' AS s FROM t") === None)
  }

  test("splitLimitTies finds the top-level LIMIT n WITH TIES clause") {
    val p = ChParser.splitLimitTies(
      "SELECT a, b FROM t ORDER BY b DESC, a LIMIT 3 WITH TIES").get
    assert(p.core === "SELECT a, b FROM t")
    assert(p.orderBy === "b DESC, a")
    assert(p.n === 3L)
    // trailing ';' tolerated
    assert(ChParser.splitLimitTies(
      "SELECT a FROM t ORDER BY a LIMIT 1 WITH TIES;").isDefined)
  }

  test("splitLimitTies rejects no-ORDER-BY, nested, unionish, trailing") {
    // CH itself rejects WITH TIES without ORDER BY
    assert(ChParser.splitLimitTies("SELECT a FROM t LIMIT 3 WITH TIES") === None)
    // plain LIMIT is not the clause
    assert(ChParser.splitLimitTies("SELECT a FROM t ORDER BY a LIMIT 3") === None)
    // inside a subquery is not top-level
    assert(ChParser.splitLimitTies(
      "SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 3 WITH TIES) u") === None)
    // set operations leave the scope ambiguous
    assert(ChParser.splitLimitTies(
      "SELECT a FROM t UNION ALL SELECT a FROM u ORDER BY a LIMIT 3 WITH TIES")
      === None)
    // anything after TIES but ';' -> not ours
    assert(ChParser.splitLimitTies(
      "SELECT a FROM t ORDER BY a LIMIT 3 WITH TIES OFFSET 2") === None)
  }

  test("splitIntoOutfile finds the export tail, path and format") {
    val p = ChParser.splitIntoOutfile(
      "SELECT a FROM t ORDER BY a INTO OUTFILE '/tmp/x.csv'").get
    assert(p.core === "SELECT a FROM t ORDER BY a")
    assert(p.path === "/tmp/x.csv")
    assert(p.format === None)
    val q = ChParser.splitIntoOutfile(
      "SELECT a FROM t INTO OUTFILE '/tmp/x.json' FORMAT JSONEachRow;").get
    assert((q.path, q.format) === ("/tmp/x.json", Some("JSONEachRow")))
    // not ours: no clause, unquoted path, trailing junk, nested
    assert(ChParser.splitIntoOutfile("SELECT a FROM t") === None)
    assert(ChParser.splitIntoOutfile(
      "SELECT a FROM t INTO OUTFILE x") === None)
    assert(ChParser.splitIntoOutfile(
      "SELECT a FROM t INTO OUTFILE '/tmp/x' LIMIT 3") === None)
    assert(ChParser.splitIntoOutfile(
      "SELECT ' INTO OUTFILE /tmp/x ' AS s FROM t") === None)
  }

  test("splitWithFill parses the ORDER BY fill modifier and its scope") {
    val p = ChParser.splitWithFill(
      "SELECT k, n FROM t ORDER BY k WITH FILL FROM 0 TO 10 STEP 2").get
    assert(p.core === "SELECT k, n FROM t")
    assert((p.col, p.from, p.to, p.step) === ("k", Some(0L), Some(10L), 2L))
    // bounds optional (data min/max); negative FROM; ASC tolerated
    val q = ChParser.splitWithFill(
      "SELECT k FROM t ORDER BY k ASC WITH FILL FROM -3").get
    assert((q.col, q.from, q.to, q.step) === ("k", Some(-3L), None, 1L))
    // not ours: plain ORDER BY, DESC, non-identifier key, junk after
    assert(ChParser.splitWithFill("SELECT k FROM t ORDER BY k") === None)
    assert(ChParser.splitWithFill(
      "SELECT k FROM t ORDER BY k DESC WITH FILL") === None)
    assert(ChParser.splitWithFill(
      "SELECT k FROM t ORDER BY k WITH FILL STEP 0") === None)
    assert(ChParser.splitWithFill(
      "SELECT k FROM t ORDER BY k WITH FILL LIMIT 3") === None)
  }

  test("CREATE MATERIALIZED VIEW parses engine/partition/populate/select") {
    val Right(mv: ChStatement.CreateMaterializedView) = ChParser.parse(
      "CREATE MATERIALIZED VIEW mv1 ENGINE=BaseStorage PARTITION BY toYear(d) " +
        "POPULATE AS SELECT d, v FROM src WHERE v > 0"): @unchecked
    assert(mv.name === "mv1")
    assert(mv.engine === Some("BaseStorage"))
    assert(mv.partitionBy === Some("toYear(d)"))
    assert(mv.populate === true)
    assert(mv.selectSql === "SELECT d, v FROM src WHERE v > 0")
    val Right(mv2: ChStatement.CreateMaterializedView) = ChParser.parse(
      "CREATE MATERIALIZED VIEW IF NOT EXISTS db2.mv2 AS SELECT a FROM t"): @unchecked
    assert((mv2.db, mv2.name, mv2.ifNotExists, mv2.populate) ===
      (Some("db2"), "mv2", true, false))
    assert(ChParser.parse("CREATE MATERIALIZED VIEW mv3 AS ").isLeft)
  }

  test("firstFromTable finds the top-level source reference span") {
    val sql = "SELECT a, b FROM src WHERE a > 1"
    val Some((t, from, to)) = ChParser.firstFromTable(sql): @unchecked
    assert(t === "src")
    assert(sql.substring(0, from) + "X " + sql.substring(to) ===
      "SELECT a, b FROM X WHERE a > 1")
    assert(ChParser.firstFromTable("SELECT x FROM db1.t1 JOIN u ON 1=1")
      .map(_._1) === Some("db1.t1"))
    // subquery source is not a table reference
    assert(ChParser.firstFromTable("SELECT x FROM (SELECT 1) q") === None)
    // a FROM inside a subquery is not top-level
    assert(ChParser.firstFromTable(
      "SELECT (SELECT max(y) FROM u), x FROM src").map(_._1) === Some("src"))
  }

  test("splitPrewhere folds into WHERE forms") {
    val p = ChParser.splitPrewhere(
      "SELECT a FROM t PREWHERE x > 1 WHERE y = 2 GROUP BY a").get
    assert(p.pre === "SELECT a FROM t ")
    assert((p.pw, p.whereExpr) === ("x > 1", Some("y = 2")))
    assert(p.tail === "GROUP BY a")
    val q = ChParser.splitPrewhere(
      "SELECT a FROM t PREWHERE x > 1 ORDER BY a").get
    assert((q.pw, q.whereExpr, q.tail) === ("x > 1", None, "ORDER BY a"))
    val r = ChParser.splitPrewhere("SELECT a FROM t PREWHERE x > 1").get
    assert((r.pw, r.whereExpr, r.tail) === ("x > 1", None, ""))
    assert(ChParser.splitPrewhere("SELECT a FROM t WHERE x > 1") === None)
    assert(ChParser.splitPrewhere(
      "SELECT * FROM (SELECT a FROM t PREWHERE x > 1) u") === None)
    assert(ChParser.splitPrewhere(
      "SELECT ' PREWHERE x ' AS s FROM t") === None)
  }

  test("scanner scope: a top-level set operation leaves PREWHERE, " +
    "ARRAY JOIN, SAMPLE and FINAL unmatched") {
    val pw = "SELECT a FROM t PREWHERE x > 1"
    val aj = "SELECT a, e FROM t ARRAY JOIN arr AS e"
    val sm = "SELECT a FROM t SAMPLE 0.5"
    val fn = "SELECT a FROM t FINAL"
    assert(ChParser.splitPrewhere(pw).isDefined)
    assert(ChParser.splitArrayJoin(aj).isDefined)
    assert(ChParser.splitSample(sm).isDefined)
    assert(ChParser.splitFinal(fn).isDefined)
    for (op <- Seq("UNION ALL", "INTERSECT", "EXCEPT")) {
      val tail = s" $op SELECT a FROM u"
      assert(ChParser.splitPrewhere(pw + tail) === None, op)
      assert(ChParser.splitArrayJoin(aj + tail) === None, op)
      assert(ChParser.splitSample(sm + tail) === None, op)
      assert(ChParser.splitFinal(fn + tail) === None, op)
    }
  }

  test("scanner scope: a clause inside a subquery is not top-level") {
    def sub(s: String) = s"SELECT * FROM ($s) q"
    assert(ChParser.splitPrewhere(sub("SELECT a FROM t PREWHERE x > 1")) === None)
    assert(ChParser.splitArrayJoin(
      sub("SELECT a, e FROM t ARRAY JOIN arr AS e")) === None)
    assert(ChParser.splitSample(sub("SELECT a FROM t SAMPLE 0.5")) === None)
    assert(ChParser.splitFinal(sub("SELECT a FROM t FINAL")) === None)
    assert(ChParser.firstFromTable("SELECT (SELECT max(y) FROM u) AS m") === None)
  }

  test("scanner scope: a keyword inside a string literal or a comment " +
    "never matches") {
    for (wrap <- Seq((s: String) => s" '$s' AS s", (s: String) => s" /* $s */",
        (s: String) => s" -- $s")) {
      assert(ChParser.splitPrewhere("SELECT a FROM t" + wrap("PREWHERE x > 1")) === None)
      assert(ChParser.splitArrayJoin(
        "SELECT a FROM t" + wrap("ARRAY JOIN arr AS e")) === None)
      assert(ChParser.splitSample("SELECT a" + wrap("FROM t SAMPLE 0.5")) === None)
      assert(ChParser.splitFinal("SELECT a" + wrap("FROM t FINAL")) === None)
      assert(ChParser.firstFromTable("SELECT 1" + wrap("FROM t")) === None)
    }
  }

  test("scanners stop at the end of truncated text instead of throwing") {
    assert(ChParser.splitPrewhere("SELECT a FROM t PREWHERE") === None)
  }

  test("a string literal never stands in for punctuation: a trailing " +
    "SETTINGS whose value is ';' is dropped") {
    assert(ChParser.rewriteQueryTails(
      "SELECT a FROM t SETTINGS format_csv_delimiter = ';'") === "SELECT a FROM t")
  }

  test("rewriteDistinctOn and inTableRefs") {
    assert(ChParser.rewriteDistinctOn(
      "SELECT DISTINCT ON (a, b) a, b, c FROM t ORDER BY c") ===
      Some("SELECT a, b, c FROM t ORDER BY c LIMIT 1 BY a, b"))
    // outer LIMIT stays outer
    assert(ChParser.rewriteDistinctOn(
      "SELECT DISTINCT ON (a) a, c FROM t ORDER BY c LIMIT 5") ===
      Some("SELECT a, c FROM t ORDER BY c LIMIT 1 BY a LIMIT 5"))
    assert(ChParser.rewriteDistinctOn("SELECT DISTINCT a FROM t") === None)
    assert(ChParser.rewriteDistinctOn("SELECT a FROM t") === None)

    val hits = ChParser.inTableRefs(
      "SELECT a FROM t WHERE x GLOBAL IN s1 AND y NOT IN s2")
    assert(hits.map(_._1) === Seq("s1", "s2"))
    // parenthesized lists/subqueries and qualified names are untouched
    assert(ChParser.inTableRefs("SELECT a FROM t WHERE x IN (1, 2)") === Nil)
    assert(ChParser.inTableRefs(
      "SELECT a FROM t WHERE x IN (SELECT y FROM u)") === Nil)
    assert(ChParser.inTableRefs("SELECT a FROM t WHERE x IN db.s") === Nil)
    assert(ChParser.inTableRefs("SELECT ' IN s ' AS v FROM t") === Nil)
  }

  test("splitWithTotals finds GROUP BY ... WITH TOTALS, keeps the tail") {
    val p = ChParser.splitWithTotals(
      "SELECT k, count(*) FROM t GROUP BY k WITH TOTALS ORDER BY k").get
    assert(p.pre === "SELECT k, count(*) FROM t ")
    assert(p.groupExprs === "k")
    assert(p.tail === " ORDER BY k")

    // multi-expr keys and a HAVING tail
    val q = ChParser.splitWithTotals(
      "SELECT a, b FROM t GROUP BY a, b % 2 WITH TOTALS HAVING count(*) > 1").get
    assert(q.groupExprs === "a, b % 2")
    assert(q.tail === " HAVING count(*) > 1")

    // no modifier / subquery-only modifier / set op -> untouched
    assert(ChParser.splitWithTotals("SELECT k FROM t GROUP BY k") === None)
    assert(ChParser.splitWithTotals(
      "SELECT * FROM (SELECT k FROM t GROUP BY k WITH TOTALS) u") === None)
    assert(ChParser.splitWithTotals(
      "SELECT k FROM t GROUP BY k WITH TOTALS UNION ALL SELECT 1") === None)
  }

  test("CH-canonical MergeTree DDL: ORDER BY is the sorting key, " +
    "table-level PRIMARY KEY wins over it, CODEC/COMMENT are dropped, " +
    "tuple() means no key, PARTITION BY stops cleanly before ORDER BY") {
    import ChStatement._
    def ct(s: String): CreateTable =
      ChParser.parse(s).toOption.get.asInstanceOf[CreateTable]
    val a = ct("CREATE TABLE t(k Int64, v String CODEC(ZSTD(3)) " +
      "COMMENT 'x') ENGINE=MergeTree ORDER BY k")
    assert(a.cols.map(c => (c.name, c.primaryKey)) ===
      Seq(("k", true), ("v", false)))
    val b = ct("CREATE TABLE t(k Int64, d Date) ENGINE=MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k SETTINGS index_granularity=8192")
    assert(b.partitionBy === Some("toYYYYMM(d)") &&
      b.cols.head.primaryKey && b.settings("index_granularity") === "8192")
    val c = ct("CREATE TABLE t(k Int64, v Int64) ENGINE=MergeTree " +
      "PRIMARY KEY k ORDER BY (k, v)")
    assert(c.cols.map(x => (x.name, x.primaryKey)) ===
      Seq(("k", true), ("v", false)))
    val d = ct("CREATE TABLE t(k Int64) ENGINE=MergeTree ORDER BY tuple()")
    assert(d.cols.forall(!_.primaryKey))
    // an expression sorting key is rejected loudly, not silently dropped
    assert(ChParser.parse("CREATE TABLE t(k Int64) ENGINE=MergeTree " +
      "ORDER BY cityHash64(k)").isLeft)
    // an undeclared key column is rejected
    assert(ChParser.parse("CREATE TABLE t(k Int64) ENGINE=MergeTree " +
      "ORDER BY nope").isLeft)
  }
}
