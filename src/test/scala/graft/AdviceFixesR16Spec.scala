package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** Round-17 fixes for the ADVICE r16 findings:
  *   1. CivilPredicateUnwrap must not derive ranges from non-deterministic
  *      operands (the derived conjunct re-evaluates them independently).
  *   2. ProjectionRoute must not route COUNT(NULL) onto count-star partials.
  *   3. RENAME TABLE must carry a projection's hidden table — name, storage
  *      location, and replay script — or a restart loses the projection.
  *      (Generalized: graft tables are EXTERNAL, so RENAME alone leaves the
  *      data at the old path while restart replay mounts the new one.)
  *   4. A malformed spark.graft.useProjections value must not blow up the
  *      optimizer for every query in the session.
  */
class AdviceFixesR16Spec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val g = {
    val s = spark.newSession()
    Tables.registerAll(s, "/root/testdata/sf0.001")
    new GraftSession(s)
  }

  private def routed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("__proj_")

  test("civil unwrap bails on non-deterministic operands") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // rand()*0 is always 0, so the predicate MEANS toYear(l_shipdate)=1996
    // — but the expression is non-deterministic and a derived range would
    // re-draw the random value, dropping rows. No range may be derived.
    val nd = g.sql("SELECT count(*) AS n FROM lineitem WHERE " +
      "toYear(date_add(l_shipdate, CAST(rand()*0 AS INT))) = 1996")
    val scans = nd.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // Spark's own isnotnull inference is fine; a derived RANGE is not
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThan}
    assert(!scans.exists(_.dataFilters.exists(_.exists {
        case _: GreaterThanOrEqual | _: LessThan => true
        case _ => false
      })),
      s"no pushable range must be derived from a rand()-bearing predicate:" +
        s" ${scans.flatMap(_.dataFilters)}")
    val want = g.sql(
      "SELECT count(*) AS n FROM lineitem WHERE toYear(l_shipdate) = 1996")
    assert(nd.collect().toSeq === want.collect().toSeq)
    // the deterministic twin still unwraps (guard is not over-broad)
    val det = g.sql("SELECT count(*) AS n FROM lineitem WHERE " +
      "toYear(date_add(l_shipdate, 0)) = 1996")
    val detScans = det.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s }
    assert(detScans.exists(_.dataFilters.nonEmpty),
      "deterministic civil predicates must still derive ranges")
  }

  test("COUNT(NULL) never routes to a projection's count-star partials") {
    g.sql("DROP TABLE IF EXISTS afx_cn")
    g.sql("CREATE TABLE afx_cn(k Int64, cat String, v Int64, " +
      "PROJECTION by_cat (SELECT cat, sum(v) AS sv, count() AS c GROUP BY cat))")
    g.sql("INSERT INTO afx_cn VALUES (1,'a',10),(2,'b',20),(3,'a',30)")
    // count(*) routes and equals the raw-row count
    val star = g.sql("SELECT cat, count(*) AS c FROM afx_cn GROUP BY cat")
    assert(routed(star), star.queryExecution.optimizedPlan.toString)
    assert(star.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      .toSeq === Seq(("a", 2L), ("b", 1L)))
    // count(NULL) is 0 per group — routing it onto count-star partials
    // would return the group row count
    val nul = g.sql("SELECT cat, count(NULL) AS c FROM afx_cn GROUP BY cat")
    assert(nul.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      .toSeq === Seq(("a", 0L), ("b", 0L)))
    g.sql("DROP TABLE afx_cn")
  }

  test("a malformed spark.graft.useProjections value neither throws nor " +
    "disables routing") {
    g.sql("DROP TABLE IF EXISTS afx_conf")
    g.sql("CREATE TABLE afx_conf(cat String, v Int64, " +
      "PROJECTION p (SELECT cat, sum(v) AS sv GROUP BY cat))")
    g.sql("INSERT INTO afx_conf VALUES ('a', 5), ('a', 7)")
    g.spark.conf.set("spark.graft.useProjections", "yes please")
    try {
      val df = g.sql("SELECT cat, sum(v) AS sv FROM afx_conf GROUP BY cat")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("a", 12L)))
      assert(routed(df), "only an explicit 'false' disables routing")
    } finally g.spark.conf.set("spark.graft.useProjections", "true")
    g.sql("DROP TABLE afx_conf")
  }

  test("RENAME TABLE moves the storage to the new default path so restart " +
    "replay finds the data") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS afx_rb; DROP TABLE IF EXISTS afx_ra")
    g.sql("CREATE TABLE afx_ra(k Int64, v Float64)")
    g.sql("INSERT INTO afx_ra VALUES (1, 1.5), (2, 2.5)")
    g.sql("RENAME TABLE afx_ra TO afx_rb")
    // live catalog must already point at the NEW default path (external
    // tables keep their location on a bare Spark rename)
    val loc = g.spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("afx_rb", Some("default")))
      .location.getPath
    assert(loc.endsWith("/afx_rb"), loc)
    assert(g.sql("SELECT count(*) AS n FROM afx_rb").head().getLong(0) === 2L)
    // restart: a fresh catalog replays the scripts over the files
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(!g2.restoreErrors.exists(_._2.startsWith("afx_")),
      s"restore must be clean, got: ${g2.restoreErrors}")
    assert(g2.sql("SELECT count(*) AS n FROM afx_rb").head().getLong(0) === 2L,
      "renamed table lost its rows across a restart")
    g2.sql("DROP TABLE afx_rb")
  }

  test("RENAME TABLE on a PARTITIONED table: partition entries follow the " +
    "moved storage (RECOVER) and survive a restart with pruning intact") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS afx_pb; DROP TABLE IF EXISTS afx_pa")
    g.sql("CREATE TABLE afx_pa(k Int64, d Date) PARTITION BY toYear(d)")
    g.sql("INSERT INTO afx_pa VALUES (1, '2020-02-02'), (2, '2021-03-03'), " +
      "(3, '2021-04-04')")
    g.sql("RENAME TABLE afx_pa TO afx_pb")
    // partitions re-derived from the moved tree: both years queryable,
    // and a year filter prunes to one directory
    assert(g.sql("SELECT count(*) AS n FROM afx_pb").head().getLong(0) === 3L)
    val pruned = g.sql("SELECT count(*) AS n FROM afx_pb WHERE toYear(d) = 2021")
    assert(pruned.head().getLong(0) === 2L)
    // restart: replay + RECOVER PARTITIONS must find the moved dirs
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(!g2.restoreErrors.exists(_._2.startsWith("afx_p")),
      s"restore must be clean, got: ${g2.restoreErrors}")
    assert(g2.sql("SELECT count(*) AS n FROM afx_pb").head().getLong(0) === 3L)
    assert(g2.sql("SELECT count(*) AS n FROM afx_pb WHERE toYear(d) = 2020")
      .head().getLong(0) === 1L)
    g2.sql("DROP TABLE afx_pb")
  }

  test("RENAME TABLE carries projections across a restart: hidden table, " +
    "partials, replay script and routing all follow the new name") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS afx_pq; DROP TABLE IF EXISTS afx_pp")
    g.sql("CREATE TABLE afx_pp(k Int64, cat String, v Int64)")
    g.sql("ALTER TABLE afx_pp ADD PROJECTION by_cat " +
      "(SELECT cat, sum(v) AS sv, count() AS c GROUP BY cat)")
    g.sql("INSERT INTO afx_pp VALUES (1,'a',10),(2,'b',20),(3,'a',30)")

    g.sql("RENAME TABLE afx_pp TO afx_pq")
    // the hidden table followed the rename
    assert(g.spark.catalog.tableExists("default.__proj_afx_pq_by_cat"),
      "hidden projection table must be renamed with its parent")
    assert(!g.spark.catalog.tableExists("default.__proj_afx_pp_by_cat"))
    val q = "SELECT cat, sum(v) AS sv, count() AS c FROM afx_pq GROUP BY cat"
    val df = g.sql(q)
    assert(routed(df), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
      Seq(("a", 40L, 2L), ("b", 20L, 1L)))

    // restart
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(!g2.restoreErrors.exists(_._2.contains("afx_")),
      s"restore must be clean, got: ${g2.restoreErrors}")
    val df2 = g2.sql(q)
    assert(routed(df2),
      "projection must still route after rename + restart:\n" +
        df2.queryExecution.optimizedPlan.toString)
    assert(df2.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
      Seq(("a", 40L, 2L), ("b", 20L, 1L)),
      "projection partials lost or stale after rename + restart")
    // the insert fan-out is live again under the new name
    g2.sql("INSERT INTO afx_pq VALUES (4,'b',5)")
    val df3 = g2.sql(q)
    assert(routed(df3))
    assert(df3.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
      Seq(("a", 40L, 2L), ("b", 25L, 2L)))
    g2.sql("DROP TABLE afx_pq")
  }
}
