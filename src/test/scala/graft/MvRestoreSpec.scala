package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** Restart-restore of UDF-bearing persisted objects (VERDICT r13 #1).
  *
  * The r13 defect: `GraftSession` boot registered only the ClickHouse
  * scalar pack, so a persisted materialized view whose SELECT calls a
  * graft UDF (`vec_dot`, the l35 index encoder) failed to restore after a
  * restart — "Cannot resolve routine vec_dot" — and, because restore is
  * fault-isolated, the MV and its insert-trigger subscription silently
  * vanished. These tests pin the fix (GraftFunctions.registerAll at boot,
  * BEFORE restoreCatalog) and the new `system.restore_errors` surface for
  * entries that genuinely cannot come back. Each boots a catalog of its
  * own over a private warehouse and restarts through [[GraftRestart]].
  */
class MvRestoreSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def metaPath(g: GraftSession, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(
      g.spark.conf.get("spark.sql.warehouse.dir")).getPath)
      .resolve("_graft_meta").resolve("default").resolve(s"$name.sql")

  test("a persisted MV whose SELECT uses vec_dot survives a restart, and " +
    "its ingest subscription keeps firing") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS mvr_idx; DROP TABLE IF EXISTS mvr_src")
    g.sql("CREATE TABLE mvr_src(id Int64, v Array(Float32))")
    g.sql("CREATE MATERIALIZED VIEW mvr_idx AS " +
      "SELECT id, vec_dot(v, v) AS n2 FROM mvr_src")
    g.sql("INSERT INTO mvr_src SELECT CAST(1 AS BIGINT) AS id, " +
      "CAST(array(3.0, 4.0) AS ARRAY<FLOAT>) AS v")
    assert(g.spark.table("mvr_idx").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq === Seq((1L, 25.0)))

    // A process restart: a fresh catalog over the same warehouse knows
    // neither table (warehouse files survive) and its function registry
    // holds no graft UDF — exactly the state a fresh JVM boots into.
    val s2 = GraftRestart.restart(g.spark)
    assert(!s2.catalog.tableExists("mvr_idx"))
    assert(!s2.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")))

    val g2 = new GraftSession(s2)
    assert(!g2.restoreErrors.exists(_._2.startsWith("mvr_")),
      s"restore must be clean, got: ${g2.restoreErrors}")
    assert(s2.catalog.tableExists("mvr_idx"), "MV did not restore")
    // pre-restart contents survived (reattach, never re-backfill)
    assert(s2.table("mvr_idx").count() === 1L)
    // the insert-trigger subscription is live again: new source rows
    // propagate through the UDF-bearing SELECT
    g2.sql("INSERT INTO mvr_src SELECT CAST(2 AS BIGINT) AS id, " +
      "CAST(array(6.0, 8.0) AS ARRAY<FLOAT>) AS v")
    assert(s2.table("mvr_idx").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSet === Set((1L, 25.0), (2L, 100.0)))
    g2.sql("DROP TABLE mvr_idx; DROP TABLE mvr_src")
  }

  test("an unrestorable entry is surfaced in system.restore_errors, not " +
    "silently dropped") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS mvr_poison")
    // Poison a meta script directly: a create whose DDL cannot replay
    // (its source table does not exist).
    val meta = metaPath(g, "mvr_poison")
    java.nio.file.Files.createDirectories(meta.getParent)
    java.nio.file.Files.writeString(meta,
      "CREATE MATERIALIZED VIEW mvr_poison AS " +
        "SELECT * FROM no_such_table_xyz")
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(g2.restoreErrors.exists { case (db, t, kind, _) =>
      db == "default" && t == "mvr_poison" && kind == "materialized view" },
      s"poisoned entry missing from restoreErrors: ${g2.restoreErrors}")
    val rows = g2.sql("SELECT database, table, kind, error " +
      "FROM system.restore_errors").collect()
    assert(rows.exists(r => r.getString(1) == "mvr_poison" &&
      r.getString(3) != null && r.getString(3).nonEmpty),
      s"system.restore_errors missing the poisoned entry: ${rows.toSeq}")
  }

  test("two restarted catalogs, one booted with a poisoned script and one " +
    "clean, keep their restore_errors APART — one's query must not " +
    "clobber the other's pending result") {
    val g0 = new GraftSession(GraftRestart.isolated(spark))
    val meta = metaPath(g0, "mvr_iso")
    java.nio.file.Files.createDirectories(meta.getParent)
    java.nio.file.Files.writeString(meta,
      "CREATE MATERIALIZED VIEW mvr_iso AS SELECT * FROM no_such_iso_tbl")
    // boots WITH the poison present
    val gErr = new GraftSession(GraftRestart.restart(g0.spark))
    java.nio.file.Files.delete(meta)
    // boots clean
    val gClean = new GraftSession(GraftRestart.restart(g0.spark))
    // build gErr's lazy result FIRST, then let gClean run the same
    // query — with shared state, gClean's empty rows would replace
    // gErr's before the collect below reads them
    val pending = gErr.sql(
      "SELECT `table` FROM system.restore_errors WHERE `table` = 'mvr_iso'")
    val cleanRows = gClean.sql(
      "SELECT `table` FROM system.restore_errors WHERE `table` = 'mvr_iso'")
      .collect()
    assert(cleanRows.isEmpty,
      s"clean session must have no mvr_iso error, got ${cleanRows.toSeq}")
    assert(pending.collect().map(_.getString(0)).toSeq === Seq("mvr_iso"),
      "the erroring session's pending result was clobbered by a sibling")
  }
}
