package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession
import graft.server.{ChNativeClient, ChWireServer}

/** One resolver between CH text and Spark: views, CH temporary tables,
  * dictionary calls, `system.*` tables, ASOF JOIN output,
  * `file()`/`remote()` reads and a materialized view's inserted block are
  * substituted into the statement's parsed plan, so no statement
  * registers anything on the session, and two statements running at once
  * on one handle each read only their own relations.
  */
class PlanResolverSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val systemTables = Seq("tables", "columns", "restore_errors", "parts",
    "detached_parts", "databases", "processes", "query_log", "dictionaries",
    "functions")

  private def temps(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("every kind of splice reads without a temp view, and SHOW TABLES " +
    "lists only the database's tables and views") {
    val s = spark.newSession()
    val g = new GraftSession(s)
    val root = java.nio.file.Files.createTempDirectory("graft_resolver")
    java.nio.file.Files.writeString(root.resolve("f.csv"), "1,x\n2,y\n")
    s.conf.set("spark.graft.fileRoot", root.toString)
    val server = new ChWireServer(spark).start()
    try {
      g.sql("DROP DATABASE IF EXISTS rsv")
      g.sql("CREATE DATABASE rsv")
      g.sql("USE rsv")
      g.sql("CREATE TABLE src(k Int64, t DateTime, v Int64)")
      g.sql("CREATE TABLE px(k Int64, pt DateTime, price Float64)")
      g.sql("CREATE TABLE tot(k Int64, sv Int64) ENGINE = MergeTree ORDER BY k")
      g.sql("CREATE MATERIALIZED VIEW mv TO tot AS SELECT k, v AS sv FROM src")
      g.sql("CREATE VIEW big AS SELECT k, v FROM src WHERE v > 10")
      g.sql("INSERT INTO src VALUES (1, '2024-01-01 10:00:00', 5), " +
        "(2, '2024-01-01 11:00:00', 50)")
      g.sql("INSERT INTO px VALUES (1, '2024-01-01 09:00:00', 1.5), " +
        "(2, '2024-01-01 09:00:00', 2.5)")
      assert(g.sql("SELECT sum(sv) AS s FROM tot").collect()(0).getLong(0) === 55L)
      assert(g.sql("SELECT k FROM big").collect().map(_.getLong(0)).toSeq === Seq(2L))
      systemTables.foreach(t => g.sql(s"SELECT * FROM system.$t").collect())
      val asof = g.sql("SELECT s.k, p.price FROM src s ASOF JOIN px p " +
        "ON s.k = p.k AND s.t >= p.pt ORDER BY s.k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(asof === Seq((1L, 1.5), (2L, 2.5)))
      assert(g.sql("SELECT count() AS n FROM file('f.csv', 'CSV')")
        .collect()(0).getLong(0) === 2L)
      val url = s"ch://127.0.0.1:${server.boundPort}"
      assert(g.sql(s"SELECT sum(v) AS s FROM remote('$url', 'rsv.src')")
        .collect()(0).getLong(0) === 55L)
      g.sql("CREATE TEMPORARY TABLE rsv_tt(k Int64)")
      g.sql("INSERT INTO rsv_tt VALUES (2)")
      g.sql("CREATE DICTIONARY rsv_d(k Int64, v Int64) PRIMARY KEY k " +
        "SOURCE(CLICKHOUSE(TABLE 'src'))")
      assert(g.sql("SELECT dictGet('rsv_d', 'v', k) AS v FROM rsv_tt")
        .collect()(0).getLong(0) === 50L)

      assert(temps(s).isEmpty)
      assert(s.catalog.listFunctions().collect()
        .filter(_.name.startsWith("__graft_dict_")).isEmpty)
      assert(g.sql("SHOW TABLES").collect().map(_.getString(0)).toSet ===
        Set("src", "px", "tot", "mv", "big"))
      assert(!g.sql("SHOW TABLES FROM default").collect().map(_.getString(0))
        .contains("rsv_tt"))
      g.sql("DROP DATABASE rsv")
    } finally {
      ChNativeClient.clearPool()
      server.stop()
    }
  }

  test("a mutation's WHERE subquery reads a view like a SELECT does") {
    val g = new GraftSession(spark.newSession())
    g.sql("DROP DATABASE IF EXISTS rsm")
    g.sql("CREATE DATABASE rsm")
    g.sql("USE rsm")
    g.sql("CREATE TABLE t(k Int64) ENGINE = MergeTree ORDER BY k")
    g.sql("INSERT INTO t VALUES (1), (2), (3)")
    g.sql("CREATE VIEW odd AS SELECT k FROM t WHERE k % 2 = 1")
    g.sql("ALTER TABLE t DELETE WHERE k IN (SELECT k FROM odd)")
    assert(g.sql("SELECT k FROM t").collect().map(_.getLong(0)).toSeq === Seq(2L))
    g.sql("DROP DATABASE rsm")
  }

  test("two threads on one handle: MV-fed inserts into one source and ASOF " +
    "JOINs with different literals each see only their own rows") {
    val s = spark.newSession()
    val g = new GraftSession(s)
    g.sql("DROP DATABASE IF EXISTS rsc")
    g.sql("CREATE DATABASE rsc")
    g.sql("USE rsc")
    g.sql("CREATE TABLE src(tag Int64, n Int64)")
    g.sql("CREATE TABLE tot(tag Int64, n Int64) ENGINE = MergeTree ORDER BY tag")
    g.sql("CREATE MATERIALIZED VIEW mv TO tot AS SELECT tag, n FROM src")
    g.sql("CREATE TABLE l(k Int64, t DateTime)")
    g.sql("CREATE TABLE r(k Int64, rt DateTime, p Int64)")
    g.sql("INSERT INTO l VALUES (1, '2024-01-01 10:00:00'), (2, '2024-01-01 10:00:00')")
    g.sql("INSERT INTO r VALUES (1, '2024-01-01 09:00:00', 100), " +
      "(2, '2024-01-01 09:00:00', 200)")
    val rounds = 6
    def worker(tag: Long): Seq[(Long, Long)] = (1 to rounds).map { i =>
      g.sql(s"INSERT INTO src VALUES ($tag, $i)")
      val rows = g.sql(s"SELECT l.k, r.p FROM l ASOF JOIN r ON l.k = r.k " +
        s"AND l.t >= r.rt WHERE l.k = $tag").collect()
      assert(rows.length === 1)
      (rows(0).getLong(0), rows(0).getLong(1))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq(1L, 2L).map(tag => pool.submit(() => worker(tag)))
      assert(futures(0).get() === Seq.fill(rounds)((1L, 100L)))
      assert(futures(1).get() === Seq.fill(rounds)((2L, 200L)))
    } finally pool.shutdown()
    // every block reached the MV target once, and only its own rows
    val landed = g.sql("SELECT tag, n FROM tot ORDER BY tag, n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(landed === (for (tag <- 1L to 2L; n <- 1L to rounds) yield (tag, n)))
    g.sql("DROP DATABASE rsc")
  }
}
