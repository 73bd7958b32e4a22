package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession
import graft.server.{ChHttpServer, ChWireServer, MysqlWireServer}

/** Zero-job metadata reads: `SELECT count() FROM t` over a parquet table
  * is answered from part footers (`graft.plans.TrivialCount`) as a
  * `LocalTableScan`, and a result already on the driver reaches every
  * wire without a Spark job (`graft.server.ResultRows`). The count always
  * equals a scan's `sum(1)` and `system.parts`' footer rows; anything the
  * rule must not answer keeps its scan.
  */
class TrivialCountSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = {
    val g = new GraftSession(spark)
    g.sql("CREATE DATABASE IF NOT EXISTS tcs")
    g
  }

  private def fresh(table: String, ddl: String): Unit = {
    g.sql(s"DROP TABLE IF EXISTS tcs.$table")
    g.sql(s"CREATE TABLE tcs.$table$ddl")
  }

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  private def long(s: GraftSession, sql: String): Long =
    s.sql(sql).collect()(0).getLong(0)

  /** count() of tcs.`table` through `s`: answered from footers, and equal
    * to a scan's sum(1) and to system.parts' rows. */
  private def assertCount(table: String, expected: Long,
                          s: GraftSession = g): Unit = {
    val df = s.sql(s"SELECT count() FROM tcs.$table")
    assert(folded(df), df.queryExecution.executedPlan.toString)
    val counted = df.collect()(0).getLong(0)
    val scanned = long(s, s"SELECT CAST(ifNull(sum(1), 0) AS BIGINT) FROM tcs.$table")
    val listed = long(s, "SELECT CAST(ifNull(sum(rows), 0) AS BIGINT) FROM " +
      s"system.parts WHERE database = 'tcs' AND `table` = '$table'")
    assert((counted, scanned, listed) === ((expected, expected, expected)))
  }

  private def loc(table: String): java.nio.file.Path =
    java.nio.file.Paths.get(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some("tcs")))
      .location.getPath)

  private def dataFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(dir)
    try w.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.toVector
    finally w.close()
  }

  test("count() is the footer sum on plain and partitioned tables, also " +
    "after an insert adds a partition") {
    fresh("plain", "(k Int64, v Nullable(Int64)) ENGINE = MergeTree ORDER BY k")
    fresh("part", "(k Int64, d Date) ENGINE = MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k")
    g.sql("INSERT INTO tcs.plain VALUES (1, 10), (2, NULL), (3, 30)")
    g.sql("INSERT INTO tcs.part VALUES (1, '2021-01-05'), (2, '2021-02-06')")
    assertCount("plain", 3)
    assertCount("part", 2)
    g.sql("INSERT INTO tcs.plain SELECT number, number FROM numbers(500)")
    g.sql("INSERT INTO tcs.part VALUES (3, '2021-03-07'), (4, '2021-01-09')")
    g.insertBlock(Some("tcs"), "part",
      Seq(Row(5L, java.sql.Date.valueOf("2022-07-01"))),
      StructType(Seq(StructField("k", LongType), StructField("d", DateType))))
    assertCount("plain", 503)
    assertCount("part", 5)
  }

  test("a session that has counted a table sees another session's insert") {
    val w = new GraftSession(spark.newSession())
    val r = new GraftSession(spark.newSession())
    fresh("xs_plain", "(k Int64) ENGINE = MergeTree ORDER BY k")
    fresh("xs_part", "(k Int64, d Date) ENGINE = MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k")
    assertCount("xs_plain", 0, r)
    assertCount("xs_part", 0, r)
    w.sql("INSERT INTO tcs.xs_plain VALUES (1), (2)")
    w.sql("INSERT INTO tcs.xs_part VALUES (1, '2021-01-05'), (2, '2021-02-06')")
    assertCount("xs_plain", 2, r)
    assertCount("xs_part", 2, r)
    w.sql("INSERT INTO tcs.xs_part VALUES (3, '2021-05-05')")
    assertCount("xs_part", 3, r)
  }

  test("count() follows OPTIMIZE FINAL, ALTER DELETE, DETACH/ATTACH " +
    "PARTITION and TRUNCATE") {
    fresh("ops", "(k Int64, d Date) ENGINE = MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k")
    (1 to 4).foreach { i =>
      g.sql(s"INSERT INTO tcs.ops VALUES ($i, '2021-01-0$i'), " +
        s"(${i + 10}, '2021-02-0$i')")
    }
    assertCount("ops", 8)
    g.sql("OPTIMIZE TABLE tcs.ops FINAL")
    assertCount("ops", 8)
    g.sql("ALTER TABLE tcs.ops DELETE WHERE k > 12")
    assertCount("ops", 6)
    g.sql("ALTER TABLE tcs.ops DETACH PARTITION '202102'")
    assertCount("ops", 4)
    g.sql("ALTER TABLE tcs.ops ATTACH PARTITION '202102'")
    assertCount("ops", 6)
    g.sql("TRUNCATE TABLE tcs.ops")
    assertCount("ops", 0)
  }

  test("an empty table and an ENGINE=Null table count 0 from metadata") {
    fresh("empty", "(k Int64) ENGINE = MergeTree ORDER BY k")
    assertCount("empty", 0)
    fresh("nul", "(k Int64) ENGINE = Null")
    g.sql("INSERT INTO tcs.nul VALUES (1), (2)")
    assertCount("nul", 0)
  }

  test("a hidden in-flight file is not counted") {
    fresh("hid", "(k Int64, d Date) ENGINE = MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k")
    g.sql("INSERT INTO tcs.hid VALUES (1, '2021-01-05'), (2, '2021-01-06')")
    val part = dataFiles(loc("hid")).head
    // a writer's half-published copies: Spark's listing skips '.' and '_'
    java.nio.file.Files.copy(part, part.resolveSibling(".inflight.parquet"))
    java.nio.file.Files.copy(part, part.resolveSibling("_inflight.parquet"))
    assertCount("hid", 2)
    g.sql("INSERT INTO tcs.hid VALUES (3, '2021-01-07')")
    assertCount("hid", 3)
  }

  test("count() and SELECT 1 run no Spark job in-process and over the " +
    "native wire, HTTP and MySQL; count() keeps its wire type") {
    fresh("wire", "(k Int64) ENGINE = MergeTree ORDER BY k")
    g.sql("INSERT INTO tcs.wire SELECT number FROM numbers(1000)")
    val sc = spark.sparkContext
    val count = "SELECT count() FROM tcs.wire"
    val one = "SELECT 1 AS tcs_one"
    // a statement that scans does show up under its text
    assert(ListenerDrain.jobsDescribed(sc, "tcs.wire WHERE") {
      assert(long(g, "SELECT count() FROM tcs.wire WHERE k >= 10") === 990L)
    } >= 1)

    assert(ListenerDrain.jobsDescribed(sc, count) {
      assert(long(g, count) === 1000L)
    } === 0)
    assert(ListenerDrain.jobsDescribed(sc, one) {
      assert(g.sql(one).collect()(0).getInt(0) === 1)
    } === 0)

    val native = new ChWireServer(spark).start()
    try {
      val c = new WireTestClient(native.boundPort)
      c.hello()
      // the folded count ships as the scanned one does (Spark's count
      // type, LongType, goes out as Int64)
      val scanned = c.rows("SELECT count() FROM tcs.wire WHERE k >= 0").head
      assert(scanned.values === Vector(1000L))
      assert(ListenerDrain.jobsDescribed(sc, count) {
        val col = c.rows(count).head
        assert(col.values === Vector(1000L))
        assert(col.chType === scanned.chType && col.chType === "Int64")
      } === 0)
      assert(ListenerDrain.jobsDescribed(sc, one) {
        assert(c.scalar(one).toString === "1")
      } === 0)
      c.close()
    } finally native.stop()

    val http = new ChHttpServer(spark).start()
    try {
      val client = HttpClient.newHttpClient()
      def post(sql: String): String = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${http.boundPort}/"))
        .POST(BodyPublishers.ofString(sql)).build(), BodyHandlers.ofString()).body()
      assert(ListenerDrain.jobsDescribed(sc, count) {
        assert(post(count) === "1000\n")
      } === 0)
      assert(ListenerDrain.jobsDescribed(sc, one) {
        assert(post(one) === "1\n")
      } === 0)
    } finally http.stop()

    val mysql = new MysqlWireServer(spark).start()
    try {
      val c = new MysqlTestClient(mysql.boundPort)
      assert(ListenerDrain.jobsDescribed(sc, count) {
        assert(c.query(count)._2 === Seq(Seq("1000")))
      } === 0)
      assert(ListenerDrain.jobsDescribed(sc, one) {
        assert(c.query(one)._2 === Seq(Seq("1")))
      } === 0)
      c.close()
    } finally mysql.stop()
  }

  test("FINAL, WHERE, count(nullable) and count(DISTINCT) keep their scan " +
    "and their answers, while the bare count() folds") {
    fresh("rep", "(k Int64, v Nullable(Int64)) ENGINE = ReplacingMergeTree " +
      "ORDER BY k")
    g.sql("INSERT INTO tcs.rep VALUES (1, 10), (2, NULL), (3, 10)")
    g.sql("INSERT INTO tcs.rep VALUES (1, 11), (4, NULL)")
    assertCount("rep", 5)
    Seq(
      "SELECT count() FROM tcs.rep FINAL" -> 4L,
      "SELECT count() FROM tcs.rep WHERE k > 1" -> 3L,
      "SELECT count(v) FROM tcs.rep" -> 3L,
      "SELECT count(DISTINCT v) FROM tcs.rep" -> 2L
    ).foreach { case (sql, n) =>
      val df = g.sql(sql)
      assert(!folded(df), sql)
      assert(df.queryExecution.executedPlan.toString.contains("FileScan"), sql)
      assert(df.collect()(0).getLong(0) === n, sql)
    }
  }

  test("a part with a corrupt footer fails the count as the scan does; " +
    "without it the count folds again") {
    fresh("bad", "(k Int64, d Date) ENGINE = MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k")
    g.sql("INSERT INTO tcs.bad VALUES (1, '2021-01-05'), (2, '2021-01-06')")
    val part = dataFiles(loc("bad")).head
    val junk = part.resolveSibling("part-99999-corrupt.parquet")
    java.nio.file.Files.write(junk, "not a parquet file at all".getBytes)
    val scanErr = intercept[Exception] {
      g.sql("SELECT CAST(sum(1) AS BIGINT) FROM tcs.bad").collect()
    }
    val countDf = g.sql("SELECT count() FROM tcs.bad")
    assert(!folded(countDf))
    val countErr = intercept[Exception](countDf.collect())
    assert(countErr.getClass === scanErr.getClass)
    // removed behind the engine's back: refresh the listing as a writer does
    java.nio.file.Files.delete(junk)
    spark.catalog.refreshTable("tcs.bad")
    assertCount("bad", 2)
  }

  test("EXPLAIN of a trivial count shows a LocalTableScan, no file scan") {
    fresh("expl", "(k Int64) ENGINE = MergeTree ORDER BY k")
    g.sql("INSERT INTO tcs.expl VALUES (1), (2)")
    val plan = g.sql("EXPLAIN SELECT count() FROM tcs.expl").collect()
      .map(_.getString(0)).mkString("\n")
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Scan parquet"), plan)
  }
}
