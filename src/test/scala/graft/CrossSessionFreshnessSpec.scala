package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** Each wire connection runs its own `spark.newSession()`, whose relation
  * cache pins a table's file listing once the connection has read it. A
  * connection must still see every part another connection publishes
  * afterwards: plain tables, partitioned tables (a new partition and an
  * existing one) and materialized-view targets fed by those inserts.
  */
class CrossSessionFreshnessSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("a session that has read a table sees rows another session " +
    "direct-writes into it later: plain, partitioned and MV target") {
    val w = new GraftSession(spark.newSession(), skipRestore = true)
    val r = new GraftSession(spark.newSession(), skipRestore = true)
    w.sql("CREATE DATABASE IF NOT EXISTS xfresh")
    w.sql("DROP TABLE IF EXISTS xfresh.mv_tgt")
    w.sql("DROP VIEW IF EXISTS xfresh.mv")
    Seq("plain", "part", "mv_tgt").foreach(t =>
      w.sql(s"DROP TABLE IF EXISTS xfresh.$t"))
    w.sql("CREATE TABLE xfresh.plain(k Int64) ENGINE = MergeTree ORDER BY k")
    w.sql("CREATE TABLE xfresh.part(k Int64, d Date) ENGINE = MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k")
    w.sql("CREATE TABLE xfresh.mv_tgt(k Int64, n UInt64) " +
      "ENGINE = SummingMergeTree ORDER BY k")
    w.sql("CREATE MATERIALIZED VIEW xfresh.mv TO xfresh.mv_tgt AS " +
      "SELECT k, count() AS n FROM xfresh.part GROUP BY k")
    def count(t: String): Long =
      r.sql(s"SELECT count() AS c FROM xfresh.$t").collect()(0).getLong(0)
    // the reader resolves (and caches) all three before any write
    assert(Seq("plain", "part", "mv_tgt").map(count) === Seq(0L, 0L, 0L))

    w.sql("INSERT INTO xfresh.plain VALUES (1), (2)")
    w.sql("INSERT INTO xfresh.part VALUES (1, '2021-01-05'), (2, '2021-02-06')")
    assert(count("plain") === 2L)
    assert(count("part") === 2L)
    assert(count("mv_tgt") === 2L)

    // wire-block writes: an existing partition and a new one
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("d", DateType)))
    w.insertBlock(Some("xfresh"), "part", Seq(
      Row(3L, java.sql.Date.valueOf("2021-01-07")),
      Row(4L, java.sql.Date.valueOf("2021-03-08"))), schema)
    w.insertBlock(Some("xfresh"), "plain", Seq(Row(5L)),
      StructType(Seq(StructField("k", LongType))))
    assert(count("plain") === 3L)
    assert(count("part") === 4L)
    assert(count("mv_tgt") === 4L)
    assert(r.sql("SELECT count() AS c FROM xfresh.part WHERE " +
      "toYYYYMM(d) = 202103").collect()(0).getLong(0) === 1L)

    w.sql("DROP VIEW xfresh.mv")
    Seq("plain", "part", "mv_tgt").foreach(t => w.sql(s"DROP TABLE xfresh.$t"))
  }
}
