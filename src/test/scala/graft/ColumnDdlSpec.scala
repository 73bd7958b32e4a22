package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** ClickHouse column DDL beyond ADD COLUMN: DROP COLUMN (metadata-now,
  * physical at the next OPTIMIZE — CH's merge-time drop model), RENAME
  * COLUMN and MODIFY COLUMN (both honest staged data rewrites, because
  * parquet resolves columns by name — one crash-safe linear pass instead
  * of a forever name-mapping tax on the 100 TB read path).
  */
class ColumnDdlSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("DROP COLUMN removes the column from scans, DESC and the replayed " +
    "script; data in remaining columns is untouched") {
    g.sql("DROP TABLE IF EXISTS cd_drop")
    g.sql("CREATE TABLE cd_drop(k Int64, junk String, v Float64)")
    g.sql("INSERT INTO cd_drop VALUES (1, 'x', 1.5), (2, 'y', 2.5)")
    g.sql("ALTER TABLE cd_drop DROP COLUMN junk")
    val desc = g.sql("DESC TABLE cd_drop").collect().map(_.getString(0)).toSeq
    assert(desc === Seq("k", "v"))
    assert(g.sql("SELECT CAST(sum(v) AS DOUBLE) AS s FROM cd_drop")
      .collect()(0).getDouble(0) === 4.0)
    val script = g.sql("SHOW CREATE TABLE cd_drop").collect()(0).getString(0)
    assert(!script.contains("junk"))
    intercept[Exception] { g.sql("SELECT junk FROM cd_drop") }
    g.sql("ALTER TABLE cd_drop DROP COLUMN IF EXISTS junk") // tolerated
    intercept[Exception] { g.sql("ALTER TABLE cd_drop DROP COLUMN junk") }
    g.sql("DROP TABLE cd_drop")
  }

  test("DROP COLUMN is metadata-scale (files untouched); OPTIMIZE then " +
    "physically drops the bytes") {
    g.sql("DROP TABLE IF EXISTS cd_phys")
    g.sql("CREATE TABLE cd_phys(k Int64, fat String)")
    g.sql("INSERT INTO cd_phys SELECT number AS k, " +
      "repeat('x', 100) AS fat FROM numbers(5000)")
    val loc = java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("cd_phys", Some("default"))
      ).location.toString).getPath)
    def bytes: Long = {
      val w = java.nio.file.Files.walk(loc)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator.asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size(_)).sum
      } finally w.close()
    }
    val before = bytes
    g.sql("ALTER TABLE cd_phys DROP COLUMN fat")
    assert(bytes === before) // metadata-only: no file rewritten
    g.sql("OPTIMIZE TABLE cd_phys")
    assert(bytes < before) // merge reclaimed the dropped column's bytes
    assert(g.sql("SELECT count(*) AS n FROM cd_phys").collect()(0)
      .getLong(0) === 5000L)
    g.sql("DROP TABLE cd_phys")
  }

  test("RENAME COLUMN rewrites data once and follows through DESC, " +
    "declared types, defaults and readback; partitioned layout survives") {
    g.sql("DROP TABLE IF EXISTS cd_ren")
    g.sql("CREATE TABLE cd_ren(k Int64, old_name UInt32, d Date) " +
      "ENGINE=BaseStorage PARTITION BY toYear(d)")
    g.sql("INSERT INTO cd_ren VALUES (1, 10, '2021-02-02'), " +
      "(2, 20, '2022-03-03')")
    g.sql("ALTER TABLE cd_ren RENAME COLUMN old_name TO new_name")
    val desc = g.sql("DESC TABLE cd_ren").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.map(_._1) === Seq("k", "new_name", "d"))
    assert(desc.find(_._1 == "new_name").get._2 === "UInt32")
    assert(g.sql("SELECT CAST(sum(new_name) AS BIGINT) AS s FROM cd_ren")
      .collect()(0).getLong(0) === 30L)
    // partition pruning still works on the rewritten layout
    assert(g.sql("SELECT CAST(sum(new_name) AS BIGINT) AS s FROM cd_ren " +
      "WHERE toYear(d) = 2021").collect()(0).getLong(0) === 10L)
    intercept[Exception] {
      g.sql("ALTER TABLE cd_ren RENAME COLUMN new_name TO k")
    }
    g.sql("DROP TABLE cd_ren")
  }

  test("MODIFY COLUMN converts the type by CAST through a staged " +
    "rewrite; DESC and INSERT coercion follow the new declared type") {
    g.sql("DROP TABLE IF EXISTS cd_mod")
    g.sql("CREATE TABLE cd_mod(k Int64, v String)")
    g.sql("INSERT INTO cd_mod VALUES (1, '10'), (2, '20')")
    g.sql("ALTER TABLE cd_mod MODIFY COLUMN v Int64")
    assert(g.sql("DESC TABLE cd_mod").collect()
      .find(_.getString(0) == "v").get.getString(1) === "Int64")
    assert(g.sql("SELECT CAST(sum(v) AS BIGINT) AS s FROM cd_mod")
      .collect()(0).getLong(0) === 30L)
    g.sql("INSERT INTO cd_mod VALUES (3, 12)")
    assert(g.sql("SELECT CAST(sum(v) AS BIGINT) AS s FROM cd_mod")
      .collect()(0).getLong(0) === 42L)
    g.sql("DROP TABLE cd_mod")
  }

  test("sorting-key and partition-key columns are protected from all " +
    "three ops, and a restart replays the post-DDL schema") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("DROP TABLE IF EXISTS cd_guard")
    g.sql("CREATE TABLE cd_guard(k Int64 PRIMARY KEY, v Int64, d Date) " +
      "ENGINE=BaseStorage PARTITION BY toYear(d)")
    g.sql("INSERT INTO cd_guard VALUES (1, 5, '2021-05-05')")
    intercept[Exception] { g.sql("ALTER TABLE cd_guard DROP COLUMN k") }
    intercept[Exception] { g.sql("ALTER TABLE cd_guard RENAME COLUMN d TO dd") }
    intercept[Exception] { g.sql("ALTER TABLE cd_guard MODIFY COLUMN k UInt64") }
    g.sql("ALTER TABLE cd_guard RENAME COLUMN v TO w")
    g.sql("ALTER TABLE cd_guard MODIFY COLUMN w Float64")
    // a restarted catalog sees the altered schema (replay script was
    // re-recorded after each op)
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    val desc = g2.sql("DESC TABLE cd_guard").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.map(_._1) === Seq("k", "w", "d"))
    assert(desc.find(_._1 == "w").get._2 === "Float64")
    assert(g2.sql("SELECT CAST(w AS DOUBLE) AS w FROM cd_guard")
      .collect()(0).getDouble(0) === 5.0)
    g2.sql("DROP TABLE cd_guard")
  }
}
