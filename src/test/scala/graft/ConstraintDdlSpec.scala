package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** ALTER TABLE ... ADD/DROP CONSTRAINT (r19): CH's constraint lifecycle —
  * ADD guards FUTURE inserts only (existing rows are not re-validated),
  * DROP stops enforcing immediately, and user constraints survive the
  * normalized replay script (the r19 fix: any normalizing ALTER used to
  * silently drop CONSTRAINT clauses from the script, losing enforcement
  * after a restart).
  */
class ConstraintDdlSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("ADD CONSTRAINT guards future inserts; DROP stops; duplicate and " +
    "missing names follow the IF [NOT] EXISTS contract") {
    g.sql("DROP TABLE IF EXISTS cds_t")
    g.sql("CREATE TABLE cds_t(a Int64, b Int64)")
    g.sql("INSERT INTO cds_t VALUES (1, 10)")
    g.sql("ALTER TABLE cds_t ADD CONSTRAINT pos CHECK a > 0")
    val e1 = intercept[Exception] {
      g.sql("INSERT INTO cds_t VALUES (-5, 1)")
    }
    assert(e1.getMessage != null)
    assert(spark.table("cds_t").count() === 1L,
      "violating insert must not land")
    g.sql("INSERT INTO cds_t VALUES (2, 20)")
    assert(spark.table("cds_t").count() === 2L)
    // duplicate name errors; IF NOT EXISTS tolerates
    intercept[Exception] {
      g.sql("ALTER TABLE cds_t ADD CONSTRAINT pos CHECK a > 1")
    }
    g.sql("ALTER TABLE cds_t ADD CONSTRAINT IF NOT EXISTS pos CHECK a > 1")
    // a > 0 (the ORIGINAL) still governs: a = 1 passes
    g.sql("INSERT INTO cds_t VALUES (1, 30)")
    // an unresolvable guard is rejected at ALTER time, not at insert
    intercept[Exception] {
      g.sql("ALTER TABLE cds_t ADD CONSTRAINT bad CHECK no_such_col > 0")
    }
    // missing name errors on DROP; IF EXISTS tolerates
    intercept[Exception] {
      g.sql("ALTER TABLE cds_t DROP CONSTRAINT nope")
    }
    g.sql("ALTER TABLE cds_t DROP CONSTRAINT IF EXISTS nope")
    g.sql("ALTER TABLE cds_t DROP CONSTRAINT pos")
    g.sql("INSERT INTO cds_t VALUES (-7, 1)")
    assert(spark.table("cds_t").count() === 4L,
      "after DROP CONSTRAINT the guard must stop")
    g.sql("DROP TABLE cds_t")
  }

  test("user constraints survive normalizing ALTERs and a restart " +
    "(the replay script re-emits CONSTRAINT clauses)") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS cds_r")
    g.sql("CREATE TABLE cds_r(a Int64, CONSTRAINT pos CHECK a > 0)")
    // ADD COLUMN rewrites the normalized replay script — the r19 bug
    // dropped CONSTRAINT clauses here
    g.sql("ALTER TABLE cds_r ADD COLUMN c Int64")
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(!g2.restoreErrors.exists(_._2 == "cds_r"),
      s"restore must be clean: ${g2.restoreErrors}")
    intercept[Exception] {
      g2.sql("INSERT INTO cds_r VALUES (-1, 2)")
    }
    g2.sql("INSERT INTO cds_r VALUES (3, 4)")
    assert(g2.spark.table("cds_r").count() === 1L)
    // an ALTER-added constraint survives the same cycle
    g2.sql("ALTER TABLE cds_r ADD CONSTRAINT c_pos CHECK c >= 0")
    g2.sql("ALTER TABLE cds_r ADD COLUMN d Int64")
    val g3 = new GraftSession(GraftRestart.restart(g2.spark))
    intercept[Exception] {
      g3.sql("INSERT INTO cds_r VALUES (5, -1, 0)")
    }
    g3.sql("INSERT INTO cds_r VALUES (5, 1, 0)")
    assert(g3.spark.table("cds_r").count() === 2L)
    g3.sql("DROP TABLE cds_r")
  }

  test("ADD CONSTRAINT invalidates the wire direct-write recipe: the next " +
    "block takes the guarded path") {
    g.sql("DROP TABLE IF EXISTS cds_w")
    g.sql("CREATE TABLE cds_w(a Int64)")
    val schema = StructType(Seq(StructField("a", LongType)))
    g.insertBlock(Some("default"), "cds_w", Seq(Row(5L)), schema) // direct
    g.sql("ALTER TABLE cds_w ADD CONSTRAINT pos CHECK a > 0")
    intercept[Exception] {
      g.insertBlock(Some("default"), "cds_w", Seq(Row(-5L)), schema)
    }
    assert(spark.table("cds_w").count() === 1L)
    g.insertBlock(Some("default"), "cds_w", Seq(Row(7L)), schema)
    assert(spark.table("cds_w").count() === 2L)
    g.sql("DROP TABLE cds_w")
  }
}
