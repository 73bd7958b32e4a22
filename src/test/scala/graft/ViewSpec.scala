package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** ClickHouse plain (non-materialized) views: `CREATE [OR REPLACE] VIEW v
  * AS SELECT …` stores the QUERY, not data — every read substitutes the
  * stored SELECT against the CURRENT table state (CH docs,
  * sql-reference/statements/create/view). A read substitutes the view's
  * rewritten SELECT into the statement's plan, and `_graft_meta` replay
  * gives restart durability like tables and MVs.
  */
class ViewSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("CREATE VIEW stores the query: reads reflect inserts made AFTER " +
    "view creation (CH read-time substitution, not a snapshot)") {
    g.sql("DROP TABLE IF EXISTS vw_src")
    g.sql("DROP VIEW IF EXISTS vw_v1")
    g.sql("CREATE TABLE vw_src(k Int64, v Int64)")
    g.sql("INSERT INTO vw_src VALUES (1, 10), (2, 20)")
    g.sql("CREATE VIEW vw_v1 AS SELECT k, v * 2 AS dv FROM vw_src")
    assert(g.sql("SELECT CAST(sum(dv) AS BIGINT) AS s FROM vw_v1")
      .collect()(0).getLong(0) === 60L)
    g.sql("INSERT INTO vw_src VALUES (3, 30)")
    assert(g.sql("SELECT CAST(sum(dv) AS BIGINT) AS s FROM vw_v1")
      .collect()(0).getLong(0) === 120L)
    g.sql("DROP VIEW vw_v1")
    g.sql("DROP TABLE vw_src")
  }

  test("views compose: a view over a view resolves, and both refresh") {
    g.sql("DROP TABLE IF EXISTS vw_src2")
    g.sql("CREATE TABLE vw_src2(k Int64, tag String)")
    g.sql("INSERT INTO vw_src2 VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    g.sql("CREATE VIEW vw_base AS SELECT k, tag FROM vw_src2 WHERE tag = 'a'")
    g.sql("CREATE VIEW vw_top AS SELECT count(*) AS n FROM vw_base")
    assert(g.sql("SELECT n FROM vw_top").collect()(0).getLong(0) === 2L)
    g.sql("INSERT INTO vw_src2 VALUES (4, 'a')")
    assert(g.sql("SELECT n FROM vw_top").collect()(0).getLong(0) === 3L)
    g.sql("DROP VIEW vw_top")
    g.sql("DROP VIEW vw_base")
    g.sql("DROP TABLE vw_src2")
  }

  test("CH dialect works inside a view body (function packs registered " +
    "at boot)") {
    g.sql("DROP TABLE IF EXISTS vw_src3")
    g.sql("CREATE TABLE vw_src3(d Date, x Int64)")
    g.sql("INSERT INTO vw_src3 VALUES ('2021-03-05', 7), ('2022-01-01', 9)")
    g.sql("CREATE VIEW vw_years AS SELECT toYear(d) AS yr, x FROM vw_src3")
    val rows = g.sql("SELECT CAST(yr AS INT) AS yr FROM vw_years ORDER BY yr")
      .collect().map(_.getInt(0)).toSeq
    assert(rows === Seq(2021, 2022))
    g.sql("DROP VIEW vw_years")
    g.sql("DROP TABLE vw_src3")
  }

  test("OR REPLACE swaps the definition; IF NOT EXISTS is a no-op on an " +
    "existing view; plain re-create errors") {
    g.sql("DROP TABLE IF EXISTS vw_src4")
    g.sql("CREATE TABLE vw_src4(k Int64)")
    g.sql("INSERT INTO vw_src4 VALUES (1), (2), (3)")
    g.sql("CREATE VIEW vw_r AS SELECT k FROM vw_src4 WHERE k > 1")
    assert(g.sql("SELECT count(*) AS n FROM vw_r").collect()(0).getLong(0) === 2L)
    intercept[Exception] {
      g.sql("CREATE VIEW vw_r AS SELECT k FROM vw_src4")
    }
    g.sql("CREATE VIEW IF NOT EXISTS vw_r AS SELECT k FROM vw_src4") // no-op
    assert(g.sql("SELECT count(*) AS n FROM vw_r").collect()(0).getLong(0) === 2L)
    g.sql("CREATE OR REPLACE VIEW vw_r AS SELECT k FROM vw_src4")
    assert(g.sql("SELECT count(*) AS n FROM vw_r").collect()(0).getLong(0) === 3L)
    g.sql("DROP VIEW vw_r")
    g.sql("DROP TABLE vw_src4")
  }

  test("kind checks: DROP VIEW on a table errors, TRUNCATE on a view " +
    "errors, CREATE VIEW over an existing table name errors, DROP TABLE " +
    "on a view works (CH accepts it)") {
    g.sql("DROP TABLE IF EXISTS vw_src5")
    g.sql("CREATE TABLE vw_src5(k Int64)")
    intercept[Exception] { g.sql("DROP VIEW vw_src5") }
    intercept[Exception] {
      g.sql("CREATE VIEW vw_src5 AS SELECT 1 AS one")
    }
    g.sql("CREATE VIEW vw_k AS SELECT k FROM vw_src5")
    intercept[Exception] { g.sql("TRUNCATE TABLE vw_k") }
    g.sql("DROP TABLE vw_k") // CH-compatible spelling
    intercept[Exception] { g.sql("DROP VIEW vw_k") }
    g.sql("DROP VIEW IF EXISTS vw_k") // tolerated
    g.sql("DROP TABLE vw_src5")
  }

  test("a view over a missing table fails at CREATE time (CH validates " +
    "eagerly), and a view body must be a SELECT") {
    intercept[Exception] {
      g.sql("CREATE VIEW vw_bad AS SELECT k FROM vw_no_such_table")
    }
    intercept[Exception] {
      g.sql("CREATE VIEW vw_bad AS INSERT INTO x VALUES (1)")
    }
  }

  test("DESC and SHOW CREATE TABLE work on a view") {
    g.sql("DROP TABLE IF EXISTS vw_src6")
    g.sql("CREATE TABLE vw_src6(k Int64, s String)")
    g.sql("CREATE VIEW vw_d AS SELECT k, upper(s) AS us FROM vw_src6")
    val desc = g.sql("DESC TABLE vw_d").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.map(_._1) === Seq("k", "us"))
    val script = g.sql("SHOW CREATE TABLE vw_d").collect()(0).getString(0)
    assert(script.toLowerCase.startsWith("create view vw_d"))
    g.sql("DROP VIEW vw_d")
    g.sql("DROP TABLE vw_src6")
  }

  test("DESC db.v describes that database's view, not the current " +
    "database's view of the same name") {
    g.sql("DROP DATABASE IF EXISTS vw_da; DROP DATABASE IF EXISTS vw_db2")
    g.sql("CREATE DATABASE vw_da; CREATE DATABASE vw_db2")
    g.sql("CREATE TABLE vw_da.t(k Int64)")
    g.sql("CREATE TABLE vw_db2.t(k Int64, s String)")
    g.sql("CREATE VIEW vw_da.v AS SELECT k FROM vw_da.t")
    g.sql("CREATE VIEW vw_db2.v AS SELECT k, s AS label FROM vw_db2.t")
    val h = new GraftSession(spark.newSession())
    h.sql("USE vw_da")
    def names(sql: String) = h.sql(sql).collect().map(_.getString(0)).toSeq
    assert(names("DESC vw_db2.v") === Seq("k", "label"))
    assert(names("DESC v") === Seq("k"))
    g.sql("DROP DATABASE vw_da; DROP DATABASE vw_db2")
  }

  test("EXISTS TABLE answers 1 for a view, qualified and bare") {
    g.sql("DROP DATABASE IF EXISTS vw_ex")
    g.sql("CREATE DATABASE vw_ex")
    g.sql("CREATE TABLE vw_ex.t(k Int64)")
    g.sql("CREATE VIEW vw_ex.v AS SELECT k FROM vw_ex.t")
    val h = new GraftSession(spark.newSession())
    h.sql("USE vw_ex")
    def exists(name: String) = h.sql(s"EXISTS TABLE $name").collect()(0).getInt(0)
    assert(exists("vw_ex.v") === 1)
    assert(exists("v") === 1)
    assert(exists("vw_ex.no_such_view") === 0)
    g.sql("DROP DATABASE vw_ex")
  }

  test("views survive a restart: a new GraftSession on the same " +
    "warehouse replays the view (nested too) from _graft_meta") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS vw_src7")
    g.sql("CREATE TABLE vw_src7(k Int64)")
    g.sql("INSERT INTO vw_src7 VALUES (5), (6)")
    g.sql("CREATE OR REPLACE VIEW vw_p1 AS SELECT k + 1 AS k1 FROM vw_src7")
    g.sql("CREATE OR REPLACE VIEW vw_p2 AS SELECT CAST(sum(k1) AS BIGINT) AS s FROM vw_p1")
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(g2.restoreErrors.filter(e => e._2.startsWith("vw_p")).isEmpty)
    assert(g2.sql("SELECT s FROM vw_p2").collect()(0).getLong(0) === 13L)
    g2.sql("DROP VIEW vw_p2")
    g2.sql("DROP VIEW vw_p1")
    g2.sql("DROP TABLE vw_src7")
  }

  test("a view whose source vanished surfaces in system.restore_errors " +
    "instead of killing boot") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS vw_src8")
    g.sql("CREATE TABLE vw_src8(k Int64)")
    g.sql("CREATE OR REPLACE VIEW vw_orphan AS SELECT k FROM vw_src8")
    // CH allows dropping a table out from under a view; the view then
    // breaks at read and, here, at restart replay
    g.sql("DROP TABLE vw_src8")
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(g2.restoreErrors.exists(e => e._2 == "vw_orphan" && e._3 == "view"))
    val n = g2.sql("SELECT count(*) AS n FROM system.restore_errors " +
      "WHERE `table` = 'vw_orphan'").collect()(0).getLong(0)
    assert(n >= 1L)
    // clean up the stale meta so later suites boot clean
    g2.sql("DROP VIEW IF EXISTS vw_orphan")
  }

  test("a stale view (source dropped) does not poison statements that " +
    "merely MENTION its name; reads of it fail loudly (r18 hunt)") {
    g.sql("DROP VIEW IF EXISTS vw_stale; DROP TABLE IF EXISTS vw_src9")
    g.sql("CREATE TABLE vw_src9(a Int64)")
    g.sql("CREATE VIEW vw_stale AS SELECT a FROM vw_src9")
    g.sql("DROP TABLE vw_src9") // the view's source vanishes
    // this statement mentions vw_stale, so the per-statement view refresh
    // re-analyzes its stored SELECT — which must not kill the DROP itself
    // (it used to throw TABLE_OR_VIEW_NOT_FOUND for vw_src9 here)
    g.sql("DROP VIEW vw_stale")
    // a read of a stale-but-registered view errors loudly instead of
    // serving a stale definition
    g.sql("CREATE TABLE vw_src9(a Int64)")
    g.sql("INSERT INTO vw_src9 VALUES (1)")
    g.sql("CREATE VIEW vw_stale AS SELECT a FROM vw_src9")
    g.sql("DROP TABLE vw_src9")
    intercept[Exception] { g.sql("SELECT a FROM vw_stale").collect() }
    g.sql("DROP VIEW vw_stale")
  }

  test("system.tables lists each database's views with engine View, as " +
    "ClickHouse does, beside its tables") {
    g.sql("DROP DATABASE IF EXISTS vw_sys")
    g.sql("CREATE DATABASE vw_sys")
    g.sql("CREATE TABLE vw_sys.t(k Int64)")
    g.sql("CREATE VIEW vw_sys.v AS SELECT k FROM vw_sys.t")
    val rows = g.sql("SELECT name, engine FROM system.tables " +
      "WHERE database = 'vw_sys' ORDER BY name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows === Seq(("t", "BaseStorage"), ("v", "View")))
    g.sql("DROP DATABASE vw_sys")
    assert(g.sql("SELECT name FROM system.tables WHERE database = 'vw_sys'")
      .collect().isEmpty)
  }
}
