package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession
import graft.types.BqlType

/** ClickHouse type coverage beyond the reference's core set: Enum8/16
  * (stored as names), Map(K,V), Tuple (named and positional), IPv4/IPv6.
  * DDL round-trip (DESC shows the declared CH type), data round-trip
  * through INSERT, and restart replay.
  */
class ChTypesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("type parser round-trips the new families, nested") {
    def rt(s: String): String = BqlType.parse(s).toOption.get.chName
    assert(rt("Enum8('a' = 1, 'b' = 2)") === "Enum8('a' = 1, 'b' = 2)")
    assert(rt("Map(String, Decimal(10, 2))") === "Map(String, Decimal(10, 2))")
    assert(rt("Map(String, Nullable(Int64))") === "Map(String, Nullable(Int64))")
    assert(rt("Tuple(Int64, String)") === "Tuple(Int64, String)")
    assert(rt("Tuple(a Int64, b Nullable(String))") ===
      "Tuple(a Int64, b Nullable(String))")
    assert(rt("Array(Map(String, Int64))") === "Array(Map(String, Int64))")
    assert(rt("IPv4") === "IPv4" && rt("IPv6") === "IPv6")
    assert(BqlType.parse("Enum8('a' = )").isLeft)
    assert(BqlType.parse("Map(String)").isLeft)
  }

  test("Enum columns create, insert by name, group and DESC-round-trip") {
    g.sql("DROP TABLE IF EXISTS ty_enum")
    g.sql("CREATE TABLE ty_enum(k Int64, st Enum8('new' = 1, 'done' = 2))")
    g.sql("INSERT INTO ty_enum VALUES (1, 'new'), (2, 'done'), (3, 'new')")
    assert(g.sql("DESC TABLE ty_enum").collect()
      .find(_.getString(0) == "st").get.getString(1) ===
      "Enum8('new' = 1, 'done' = 2)")
    val grouped = g.sql("SELECT st, count(*) AS n FROM ty_enum " +
      "GROUP BY st ORDER BY st").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(grouped === Seq(("done", 1L), ("new", 2L)))
    g.sql("DROP TABLE ty_enum")
  }

  test("Map and Tuple columns flow through INSERT SELECT, element " +
    "access works, schema survives restart") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS ty_rich")
    g.sql("CREATE TABLE ty_rich(k Int64, m Map(String, Int64), " +
      "t Tuple(x Int64, y String), ip IPv4)")
    g.sql("INSERT INTO ty_rich SELECT 1 AS k, map('a', 10, 'b', 20) AS m, " +
      "named_struct('x', 7, 'y', 'hi') AS t, '10.0.0.1' AS ip")
    val r = g.sql("SELECT m['a'] AS ma, t.x AS tx, t.y AS ty, ip " +
      "FROM ty_rich").collect()(0)
    assert(r.getLong(0) === 10L && r.getLong(1) === 7L &&
      r.getString(2) === "hi" && r.getString(3) === "10.0.0.1")
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    val desc = g2.sql("DESC TABLE ty_rich").collect()
      .map(x => (x.getString(0), x.getString(1))).toMap
    assert(desc("m") === "Map(String, Int64)")
    assert(desc("t") === "Tuple(x Int64, y String)")
    assert(desc("ip") === "IPv4")
    g2.sql("DROP TABLE ty_rich")
  }

  test("INSERT VALUES takes complex literals — [arrays], map(), " +
    "named_struct(), function calls — via the SELECT route") {
    g.sql("DROP TABLE IF EXISTS ty_vals")
    g.sql("CREATE TABLE ty_vals(k Int64, a Array(Int64), " +
      "m Map(String, Int64), d Date)")
    g.sql("INSERT INTO ty_vals VALUES " +
      "(1, [10, 20], map('x', 1), toDate('2021-05-05')), " +
      "(2, [], map(), '2022-06-06')")
    val r = g.sql("SELECT k, size(a) AS na, m['x'] AS mx, " +
      "CAST(toYear(d) AS INT) AS yr FROM ty_vals ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        if (x.isNullAt(2)) -1L else x.getLong(2), x.getInt(3))).toSeq
    assert(r === Seq((1L, 2, 1L, 2021), (2L, 0, -1L, 2022)))
    g.sql("DROP TABLE ty_vals")
  }

  test("positional Tuple fields read as _1/_2 (CH's 1-based accessors)") {
    g.sql("DROP TABLE IF EXISTS ty_pos")
    g.sql("CREATE TABLE ty_pos(t Tuple(Int64, String))")
    g.sql("INSERT INTO ty_pos SELECT named_struct('_1', 5, '_2', 'p') AS t")
    val r = g.sql("SELECT t.`_1` AS a, t.`_2` AS b FROM ty_pos").collect()(0)
    assert(r.getLong(0) === 5L && r.getString(1) === "p")
    g.sql("DROP TABLE ty_pos")
  }
}
