package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** ClickHouse table TTL: `CREATE TABLE … TTL expr`, `ALTER TABLE t
  * MODIFY TTL expr`, `ALTER TABLE t REMOVE TTL`. Expiry is MERGE-time
  * (CH's model): SELECTs still see expired rows until OPTIMIZE runs the
  * merge, which expires them as a mutation — only files containing an
  * expired row are rewritten, so a mostly-current 100 TB table pays for
  * its expired fraction, not a full pass.
  */
class TtlSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("TTL expires past-deadline rows at OPTIMIZE, not before; future " +
    "and NULL deadlines survive (non-TRUE keeps the row, like CH)") {
    g.sql("DROP TABLE IF EXISTS ttl_t")
    g.sql("CREATE TABLE ttl_t(k Int64, d Nullable(Date)) " +
      "TTL d + INTERVAL 1 YEAR")
    g.sql("INSERT INTO ttl_t VALUES (1, '2000-01-01'), (2, '2049-01-01'), " +
      "(3, NULL)")
    // CH returns expired rows until a merge happens
    assert(g.sql("SELECT count(*) AS n FROM ttl_t").collect()(0)
      .getLong(0) === 3L)
    g.sql("OPTIMIZE TABLE ttl_t")
    val kept = g.sql("SELECT k FROM ttl_t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq
    assert(kept === Seq(2L, 3L))
    g.sql("DROP TABLE ttl_t")
  }

  test("MODIFY TTL replaces the expiry; REMOVE TTL stops expiring; an " +
    "unresolvable TTL expression errors at ALTER time") {
    g.sql("DROP TABLE IF EXISTS ttl_m")
    g.sql("CREATE TABLE ttl_m(k Int64, d Date)")
    g.sql("INSERT INTO ttl_m VALUES (1, '2000-01-01'), (2, '2020-01-01')")
    g.sql("OPTIMIZE TABLE ttl_m") // no TTL: nothing expires
    assert(g.sql("SELECT count(*) AS n FROM ttl_m").collect()(0)
      .getLong(0) === 2L)
    intercept[Exception] {
      g.sql("ALTER TABLE ttl_m MODIFY TTL no_such_col + INTERVAL 1 DAY")
    }
    g.sql("ALTER TABLE ttl_m MODIFY TTL d + INTERVAL 100 YEAR")
    g.sql("OPTIMIZE TABLE ttl_m")
    assert(g.sql("SELECT count(*) AS n FROM ttl_m").collect()(0)
      .getLong(0) === 2L)
    g.sql("ALTER TABLE ttl_m MODIFY TTL d + INTERVAL 1 YEAR")
    g.sql("ALTER TABLE ttl_m REMOVE TTL")
    g.sql("OPTIMIZE TABLE ttl_m")
    assert(g.sql("SELECT count(*) AS n FROM ttl_m").collect()(0)
      .getLong(0) === 2L)
    g.sql("ALTER TABLE ttl_m MODIFY TTL d + INTERVAL 1 YEAR")
    // the re-recorded script quotes the multi-token TTL value so the
    // normalized SETTINGS form re-parses for restart replay
    val script = g.sql("SHOW CREATE TABLE ttl_m").collect()(0).getString(0)
    assert(script.contains("ttl='d + INTERVAL 1 YEAR'"))
    assert(graft.parser.ChParser.parse(script).isRight)
    g.sql("OPTIMIZE TABLE ttl_m")
    assert(g.sql("SELECT count(*) AS n FROM ttl_m").collect()(0)
      .getLong(0) === 0L)
    g.sql("DROP TABLE ttl_m")
  }

  test("TTL survives restart replay (normalized SETTINGS ttl='…' form) " +
    "and partitioned tables expire per-file") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS ttl_r")
    g.sql("CREATE TABLE ttl_r(k Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYear(d) TTL d + INTERVAL 1 YEAR")
    g.sql("INSERT INTO ttl_r VALUES (1, '2000-03-03'), (2, '2049-04-04')")
    val script = g.sql("SHOW CREATE TABLE ttl_r").collect()(0).getString(0)
    assert(script.toLowerCase.contains("ttl d + interval 1 year"))
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    g2.sql("OPTIMIZE TABLE ttl_r")
    val kept = g2.sql("SELECT k FROM ttl_r").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(2L))
    g2.sql("DROP TABLE ttl_r")
  }
}
