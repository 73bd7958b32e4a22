package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.GraftRestart
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession
import graft.server.ChWireServer

/** One engine state per Spark catalog: `_graft_meta` is replayed once,
  * when the first handle on a catalog is built; every handle on that
  * catalog (each wire connection's `newSession()`) then shares its views,
  * dictionaries and restore errors, keyed by (database, name). Each test
  * runs on a catalog of its own over a private warehouse.
  */
class EngineStateSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def metaFile(s: org.apache.spark.sql.SparkSession, db: String,
                       name: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(
      s.conf.get("spark.sql.warehouse.dir")).getPath)
      .resolve("_graft_meta").resolve(db).resolve(s"$name.sql")

  test("restore runs once per catalog: a later handle replays no script " +
    "and runs no Spark job; a restart replays the scripts") {
    val s = GraftRestart.isolated(spark)
    val g = new GraftSession(s)
    g.sql("CREATE TABLE es_src(k Int64)")
    // scripts that reach the meta root after the catalog was restored: a
    // table the catalog does not know, and an MV whose replay fails
    Seq("es_late" -> "CREATE TABLE es_late(k Int64)",
      "es_poison" -> ("CREATE MATERIALIZED VIEW es_poison AS " +
        "SELECT * FROM es_no_such_table")).foreach { case (n, sql) =>
      java.nio.file.Files.writeString(metaFile(s, "default", n), sql)
    }
    val jobs = ListenerDrain.jobsDuring(s.sparkContext) {
      val warm = Seq(new GraftSession(s), new GraftSession(s.newSession()))
      assert(warm.forall(_.restoreErrors.isEmpty))
    }
    assert(jobs === 0, "a warm handle must run no Spark job")
    assert(!s.catalog.tableExists("es_late"), "a warm handle replayed a script")

    val r = GraftRestart.restart(s)
    assert(!(r.sharedState eq s.sharedState))
    val g2 = new GraftSession(r)
    assert(r.catalog.tableExists("es_late") && r.catalog.tableExists("es_src"))
    assert(g2.restoreErrors.map(_._2) === Seq("es_poison"))
    // the restart's errors are its catalog's, not the first one's
    assert(new GraftSession(s).restoreErrors.isEmpty)
  }

  private def withServer(body: (() => WireTestClient) => Unit): Unit = {
    val server = new ChWireServer(GraftRestart.isolated(spark)).start()
    val clients = scala.collection.mutable.ArrayBuffer.empty[WireTestClient]
    try body { () =>
      val c = new WireTestClient(server.boundPort)
      clients += c
      c.hello()
      c
    } finally {
      clients.foreach(_.close())
      server.stop()
    }
  }

  /** A database holding `t`, a view `v` over it and a dictionary `d`
    * whose key 1 maps to `tag`. */
  private def declare(c: WireTestClient, db: String, rows: Int, tag: String): Unit = {
    c.query(s"CREATE DATABASE IF NOT EXISTS $db")
    c.query(s"USE $db")
    c.query("CREATE TABLE t(k Int64)")
    c.query("INSERT INTO t VALUES " + (1 to rows).map(i => s"($i)").mkString(", "))
    c.query("CREATE TABLE dim(id Int64, nm String)")
    c.query(s"INSERT INTO dim VALUES (1, '$tag')")
    c.query("CREATE VIEW IF NOT EXISTS v AS SELECT count() AS n FROM t")
    c.query("CREATE DICTIONARY IF NOT EXISTS d (id Int64, nm String) " +
      "PRIMARY KEY id SOURCE(CLICKHOUSE(TABLE 'dim'))")
  }

  private def read(c: WireTestClient, db: String): (String, String) = {
    c.query(s"USE $db")
    (c.scalar("SELECT n FROM v").toString,
      c.scalar("SELECT dictGet('d', 'nm', 1) AS nm").toString)
  }

  test("over the wire, a view and a dictionary declared on one connection " +
    "read correctly on another") {
    withServer { connect =>
      declare(connect(), "es_wa", 3, "alpha")
      val b = connect()
      assert(read(b, "es_wa") === (("3", "alpha")))
      val listed = b.rows("SELECT name, engine FROM system.tables " +
        "WHERE database = 'es_wa' AND name = 'v'")
      assert(listed.map(_.values.head.toString) === Vector("v", "View"))
    }
  }

  test("over the wire, same-named views and dictionaries in two databases " +
    "stay apart, and DROP DATABASE removes its own and no others") {
    withServer { connect =>
      val a = connect()
      declare(a, "es_w1", 2, "one")
      declare(a, "es_w2", 5, "two")
      val b = connect()
      assert(read(b, "es_w1") === (("2", "one")))
      assert(read(b, "es_w2") === (("5", "two")))
      a.query("DROP DATABASE es_w1")
      assert(read(b, "es_w2") === (("5", "two")))
      val views = b.rows("SELECT database FROM system.tables " +
        "WHERE engine = 'View' AND database LIKE 'es_w%'")
      assert(views.head.values.map(_.toString) === Vector("es_w2"))
      // nothing of the dropped database's survives: its view and its
      // dictionary are declared anew, not taken as already existing
      declare(a, "es_w1", 7, "seven")
      assert(read(connect(), "es_w1") === (("7", "seven")))
      assert(read(b, "es_w2") === (("5", "two")))
    }
  }
}
