package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** CH temporary tables: session-scoped, database-less, shadowing catalog
  * names (read before any view or table of the name, CH's rule), full
  * INSERT surface
  * (VALUES with literal coercion, column lists with DEFAULTs, SELECT),
  * TRUNCATE/DESC/SHOW CREATE/EXISTS, and per-session isolation.
  */
class TempTableSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("create / insert (VALUES + column list + SELECT) / select / " +
    "truncate / drop") {
    g.sql("DROP TABLE IF EXISTS tt_base")
    g.sql("CREATE TEMPORARY TABLE tt1(k Int64, d Date, " +
      "s String DEFAULT 'dflt')")
    g.sql("INSERT INTO tt1 VALUES (1, '2024-01-05', 'a'), (2, 19000, 'b')")
    g.sql("INSERT INTO tt1 (k, d) VALUES (3, '2024-03-01')")
    g.sql("CREATE TABLE tt_base(k Int64)")
    g.sql("INSERT INTO tt_base VALUES (10)")
    g.sql("INSERT INTO tt1 SELECT k, DATE'2020-06-06', 'sel' FROM tt_base")
    val rows = g.sql("SELECT k, CAST(d AS STRING) AS d, s FROM tt1 " +
      "ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows === Seq((1L, "2024-01-05", "a"),
      (2L, "2022-01-08", "b"), // epoch-day literal coercion
      (3L, "2024-03-01", "dflt"), // declared DEFAULT fills the gap
      (10L, "2020-06-06", "sel")))
    val desc = g.sql("DESC tt1").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("d") === "Date")
    assert(g.sql("EXISTS TABLE tt1").collect()(0).getInt(0) === 1)
    assert(g.sql("SHOW CREATE TABLE tt1").collect()(0).getString(0)
      .toUpperCase.contains("TEMPORARY"))
    g.sql("TRUNCATE TABLE tt1")
    assert(g.sql("SELECT count() AS n FROM tt1").collect()(0)
      .getLong(0) === 0L)
    g.sql("DROP TABLE tt1")
    intercept[Exception] { g.sql("SELECT count() FROM tt1").collect() }
    g.sql("DROP TABLE tt_base")
  }

  test("a temporary table SHADOWS a catalog table of the same name " +
    "(CH's resolution rule) and dropping it un-shadows") {
    g.sql("DROP TABLE IF EXISTS tt_sh")
    g.sql("CREATE TABLE tt_sh(v Int64)")
    g.sql("INSERT INTO tt_sh VALUES (100)")
    g.sql("CREATE TEMPORARY TABLE tt_sh(v Int64)")
    g.sql("INSERT INTO tt_sh VALUES (7)")
    assert(g.sql("SELECT v FROM tt_sh").collect().map(_.getLong(0)).toSeq
      === Seq(7L), "the temp table must win resolution")
    g.sql("DROP TABLE tt_sh") // drops the TEMP one first (CH's rule)
    assert(g.sql("SELECT v FROM tt_sh").collect().map(_.getLong(0)).toSeq
      === Seq(100L))
    g.sql("DROP TABLE tt_sh")
  }

  test("HTTP-session isolation: a temp table in one session is invisible " +
    "to another (separate SparkSessions)") {
    val g1 = new GraftSession(spark.newSession())
    val g2 = new GraftSession(spark.newSession())
    g1.sql("CREATE TEMPORARY TABLE tt_iso(x Int64)")
    g1.sql("INSERT INTO tt_iso VALUES (1)")
    assert(g1.sql("SELECT count() AS n FROM tt_iso").collect()(0)
      .getLong(0) === 1L)
    intercept[Exception] { g2.sql("SELECT count() FROM tt_iso").collect() }
  }

  test("a client-streamed wire INSERT lands in the connection's temporary " +
    "table, whose header advertises the declared columns") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val server = new graft.server.ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("CREATE TEMPORARY TABLE tt_wire(a Int32, s String)")
      val schema = StructType(Seq(
        StructField("a", IntegerType), StructField("s", StringType)))
      client.insertStream("INSERT INTO tt_wire FORMAT Native", schema,
        Seq(Seq(Row(1, "x"), Row(2, "y"))))
      val got = client.rows("SELECT a, s FROM tt_wire ORDER BY a")
      assert(got(0).values === Vector(1, 2))
      assert(got(1).values === Vector("x", "y"))
    } finally {
      client.close()
      server.stop()
    }
  }
}
