package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** `DETACH TABLE` / `ATTACH TABLE` (the catalog forgets, data and the
  * replay script survive; detached state persists across restarts until
  * ATTACH) and `EXCHANGE TABLES a AND b` (CH's blue/green swap,
  * composed from three data-in-place renames).
  */
class DetachAttachSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("DETACH hides the table from the catalog AND from restart " +
    "restore; ATTACH brings it back with its data and partitions") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS da_t")
    g.sql("CREATE TABLE da_t(k Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYear(d)")
    g.sql("INSERT INTO da_t VALUES (1, '2021-01-01'), (2, '2022-02-02')")
    g.sql("DETACH TABLE da_t")
    intercept[Exception] { g.sql("SELECT count(*) AS n FROM da_t") }
    // a RESTART must not resurrect a detached table (CH keeps it
    // detached until an explicit ATTACH)
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(!g2.spark.catalog.tableExists("default.da_t"))
    g2.sql("ATTACH TABLE da_t")
    assert(g2.sql("SELECT CAST(sum(k) AS BIGINT) AS s FROM da_t")
      .collect()(0).getLong(0) === 3L)
    // partition pruning still in place after re-attach
    assert(g2.sql("SELECT CAST(sum(k) AS BIGINT) AS s FROM da_t " +
      "WHERE toYear(d) = 2022").collect()(0).getLong(0) === 2L)
    intercept[Exception] { g2.sql("ATTACH TABLE da_t") } // already attached
    g2.sql("DROP TABLE da_t")
  }

  test("EXCHANGE TABLES swaps names, data, scripts and DESC schemas") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS xc_a")
    g.sql("DROP TABLE IF EXISTS xc_b")
    g.sql("CREATE TABLE xc_a(k Int64)")
    g.sql("CREATE TABLE xc_b(k Int64, extra String)")
    g.sql("INSERT INTO xc_a VALUES (1)")
    g.sql("INSERT INTO xc_b VALUES (100, 'x')")
    g.sql("EXCHANGE TABLES xc_a AND xc_b")
    assert(g.sql("SELECT CAST(sum(k) AS BIGINT) AS s FROM xc_a")
      .collect()(0).getLong(0) === 100L)
    assert(g.sql("SELECT CAST(sum(k) AS BIGINT) AS s FROM xc_b")
      .collect()(0).getLong(0) === 1L)
    assert(g.sql("DESC TABLE xc_a").collect().map(_.getString(0)).toSeq ===
      Seq("k", "extra"))
    // scripts followed the swap: replay after a restart keeps the
    // exchanged shapes
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(g2.sql("SHOW CREATE TABLE xc_b").collect()(0).getString(0)
      .contains("xc_b"))
    g2.sql("DROP TABLE xc_a")
    g2.sql("DROP TABLE xc_b")
  }

  test("DETACH of a missing table and ATTACH without a detached script " +
    "both error loudly") {
    intercept[Exception] { g.sql("DETACH TABLE no_such_da") }
    intercept[Exception] { g.sql("ATTACH TABLE no_such_da") }
  }
}
