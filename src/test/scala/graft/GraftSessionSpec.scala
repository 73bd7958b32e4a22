package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** End-to-end DDL/INSERT/management round-trips, ported from the
  * reference's wire-level integration suite
  * (crates/tests_integ/tests/sanity_checks.rs:74-560 and the
  * sql_test_scripts runner) onto the library API — no wire protocol, same
  * statements and expected results.
  */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession.spark

  lazy val g = new GraftSession(spark)

  /** Filesystem location of a table in the default database. */
  private def tableLoc(table: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some("default"))
      ).location.toString).getPath)

  test("t1 smoke: basic_checks.sql slice (create/insert/select sum = 6)") {
    // crates/tests_integ/sql_test_scripts/basic_checks.sql:1-7
    g.sql("DROP TABLE IF EXISTS test_tab")
    g.sql("CREATE TABLE test_tab(a UInt64)")
    g.sql("INSERT INTO test_tab VALUES (1), (2), (3)")
    val sum = g.sql("select sum(a) from test_tab").collect()(0).getDecimal(0)
    assert(sum.longValueExact === 6L)
  }

  test("script runner executes blank-line-separated statements") {
    val df = g.script(
      """DROP TABLE IF EXISTS script_tab
        |
        |CREATE TABLE script_tab(a UInt64)
        |
        |INSERT INTO script_tab VALUES (1), (2), (3)
        |
        |select sum(a) from script_tab""".stripMargin)
    assert(df.collect()(0).getDecimal(0).longValueExact === 6L)
  }

  test("create database / use / show databases / drop database") {
    g.sql("DROP DATABASE IF EXISTS graft_db2")
    g.sql("CREATE DATABASE graft_db2")
    val dbs = g.sql("SHOW DATABASES").collect().map(_.getString(0))
    assert(dbs.contains("graft_db2"))
    g.sql("USE graft_db2")
    g.sql("CREATE TABLE t_in_db2(x Int32)")
    g.sql("INSERT INTO t_in_db2 VALUES (7)")
    assert(g.sql("SELECT x FROM t_in_db2").collect()(0).getInt(0) === 7)
    val tabs = g.sql("SHOW TABLES").collect().map(_.getString(0))
    assert(tabs.contains("t_in_db2"))
    g.sql("USE default")
    g.sql("DROP DATABASE graft_db2")
    assert(!g.sql("SHOW DATABASES").collect().map(_.getString(0)).contains("graft_db2"))
  }

  test("create database if not exists is idempotent; bare create throws") {
    g.sql("CREATE DATABASE IF NOT EXISTS graft_db3")
    g.sql("CREATE DATABASE IF NOT EXISTS graft_db3")
    intercept[Exception] { g.sql("CREATE DATABASE graft_db3") }
    g.sql("DROP DATABASE graft_db3")
  }

  test("DESC wraps CH types; SHOW CREATE TABLE replays the script (sanity_checks.rs:562)") {
    g.sql("DROP TABLE IF EXISTS desc_tab")
    val script = "CREATE TABLE desc_tab(a UInt64, b Nullable(String), " +
      "c Decimal(9, 2), d Date, e FixedString(3))"
    g.sql(script)
    val desc = g.sql("DESC desc_tab").collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("a") === "UInt64")
    assert(desc("b") === "Nullable(String)")
    assert(desc("c") === "Decimal(9, 2)")
    assert(desc("d") === "Date")
    assert(desc("e") === "FixedString(3)")
    val shown = g.sql("SHOW CREATE TABLE desc_tab").collect()(0).getString(0)
    assert(shown === script)
  }

  test("insert/select round-trips per type (sanity_checks.rs:196-443)") {
    g.sql("DROP TABLE IF EXISTS typed_tab")
    g.sql("CREATE TABLE typed_tab(i8 Int8, u16 UInt16, f64 Float64, " +
      "dec Decimal(9, 2), d Date, dt DateTime, s String, ns Nullable(Int32))")
    g.sql("INSERT INTO typed_tab VALUES " +
      "(-128, 65535, 1.5, 12.34, '2021-01-05', '2021-01-05 10:30:00', 'hi', NULL), " +
      "(127, 0, -2.25, -0.01, 18628, 1609843800, 'yo', 42)")
    val rows = g.sql("SELECT * FROM typed_tab ORDER BY i8").collect()
    assert(rows.length === 2)
    val r0 = rows(0)
    assert(r0.getByte(0) === -128)
    assert(r0.getInt(1) === 65535)
    assert(r0.getDouble(2) === 1.5)
    assert(r0.getDecimal(3).toPlainString === "12.34")
    assert(r0.getDate(4).toString === "2021-01-05")
    assert(r0.getString(6) === "hi")
    assert(r0.isNullAt(7))
    val r1 = rows(1)
    // epoch-day 18628 = 2021-01-01; epoch-second 1609843800 = 2021-01-05 10:50 UTC
    assert(r1.getDate(4).toString === "2021-01-01")
    assert(r1.getTimestamp(5).toInstant.getEpochSecond === 1609843800L)
    assert(r1.getInt(7) === 42)
  }

  test("truncate keeps schema, drops rows (sanity_checks.rs:494)") {
    g.sql("DROP TABLE IF EXISTS trunc_tab")
    g.sql("CREATE TABLE trunc_tab(a Int32)")
    g.sql("INSERT INTO trunc_tab VALUES (1), (2)")
    assert(g.sql("SELECT count(*) AS n FROM trunc_tab").collect()(0).getLong(0) === 2L)
    g.sql("TRUNCATE TABLE trunc_tab")
    assert(g.sql("SELECT count(*) AS n FROM trunc_tab").collect()(0).getLong(0) === 0L)
    g.sql("INSERT INTO trunc_tab VALUES (3)")
    assert(g.sql("SELECT a FROM trunc_tab").collect()(0).getInt(0) === 3)
  }

  test("insert with explicit column list fills the rest with NULL") {
    g.sql("DROP TABLE IF EXISTS partial_tab")
    g.sql("CREATE TABLE partial_tab(a Int32, b Nullable(String), c Nullable(Int64))")
    g.sql("INSERT INTO partial_tab (a) VALUES (5)")
    val r = g.sql("SELECT * FROM partial_tab").collect()(0)
    assert(r.getInt(0) === 5 && r.isNullAt(1) && r.isNullAt(2))
  }

  test("INSERT INTO ... SELECT (mgmt.rs:772-800)") {
    g.sql("DROP TABLE IF EXISTS sel_src")
    g.sql("DROP TABLE IF EXISTS sel_dst")
    g.sql("CREATE TABLE sel_src(a Int64)")
    g.sql("CREATE TABLE sel_dst(a Int64)")
    g.sql("INSERT INTO sel_src VALUES (10), (20), (30)")
    g.sql("INSERT INTO sel_dst SELECT a FROM sel_src WHERE a > 10")
    assert(g.sql("SELECT sum(a) AS s FROM sel_dst").collect()(0).getLong(0) === 50L)
  }

  test("INSERT INTO ... FORMAT CSV with inline and payload data") {
    g.sql("DROP TABLE IF EXISTS csv_tab")
    g.sql("CREATE TABLE csv_tab(a Int32, b String)")
    g.sql("INSERT INTO csv_tab FORMAT CSV\n1,x\n2,y")
    g.sql("INSERT INTO csv_tab FORMAT CSV", "3,z")
    val rows = g.sql("SELECT a, b FROM csv_tab ORDER BY a").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "x"), (2, "y"), (3, "z")))
  }

  test("INSERT INTO ... FORMAT TSV and JSONEachRow: tab-separated rows " +
    "land positionally; json keys map BY NAME in any order, unknown keys " +
    "are skipped, absent keys become NULL (CH input formats)") {
    g.sql("DROP TABLE IF EXISTS fmt_tab")
    g.sql("CREATE TABLE fmt_tab(a Int32, b String, c Nullable(Int64))")
    g.sql("INSERT INTO fmt_tab FORMAT TSV\n1\tx\t100")
    g.sql("INSERT INTO fmt_tab FORMAT TabSeparated", "2\ty\t200")
    g.sql("INSERT INTO fmt_tab FORMAT JSONEachRow\n" +
      """{"c": 300, "a": 3, "b": "z", "ignored": true}""" + "\n" +
      """{"b": "w", "a": 4}""")
    val rows = g.sql("SELECT a, b, c FROM fmt_tab ORDER BY a").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq ===
      Seq((1, "x", 100L), (2, "y", 200L), (3, "z", 300L), (4, "w", -1L)))
    intercept[Exception] {
      g.sql("INSERT INTO fmt_tab FORMAT Parquet", "xx")
    }
    g.sql("DROP TABLE fmt_tab")
  }

  test("CREATE TABLE t2 AS t1 clones STRUCTURE (engine, partitioning) " +
    "with no data — CH's bare-name AS form, distinct from CTAS") {
    g.sql("DROP TABLE IF EXISTS clone_src")
    g.sql("DROP TABLE IF EXISTS clone_dst")
    g.sql("CREATE TABLE clone_src(k Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYear(d)")
    g.sql("INSERT INTO clone_src VALUES (1, '2021-01-01')")
    g.sql("CREATE TABLE clone_dst AS clone_src")
    assert(g.sql("SELECT count(*) AS n FROM clone_dst").collect()(0)
      .getLong(0) === 0L) // structure only, never data
    assert(g.sql("DESC TABLE clone_dst").collect().map(_.getString(0))
      .toSeq === Seq("k", "d"))
    val script = g.sql("SHOW CREATE TABLE clone_dst").collect()(0).getString(0)
    assert(script.contains("clone_dst") && script.contains("PARTITION BY"))
    g.sql("INSERT INTO clone_dst VALUES (9, '2022-05-05')") // partitioned write works
    assert(g.sql("SELECT count(*) AS n FROM clone_dst WHERE toYear(d) " +
      "= 2022").collect()(0).getLong(0) === 1L)
    intercept[Exception] { g.sql("CREATE TABLE clone_bad AS no_such_src") }
    g.sql("DROP TABLE clone_dst")
    g.sql("DROP TABLE clone_src")
  }

  test("system.query_log records finished statements with durations") {
    g.sql("SELECT 42 AS marker_qlog").collect()
    g.sql("SELECT 1 AS one").collect() // retires the marker SELECT
    val hits = g.sql("SELECT query, duration FROM system.query_log " +
      "WHERE query LIKE '%marker_qlog%' AND query NOT LIKE '%query_log%'")
      .collect()
    assert(hits.nonEmpty && hits.forall(_.getDouble(1) >= 0.0))
  }

  test("PARTITION BY expr writes partitioned layout and queries correctly " +
    "(write.rs:26-67, sanity_checks.rs:1294-1343)") {
    g.sql("DROP TABLE IF EXISTS part_tab")
    g.sql("CREATE TABLE part_tab(id Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYYYYMM(d)")
    g.sql("INSERT INTO part_tab VALUES (1, '2021-01-05'), (2, '2021-01-20'), " +
      "(3, '2021-02-03'), (4, '2022-07-01')")
    // partition dirs exist per distinct toYYYYMM value
    val loc = tableLoc("part_tab").toFile
    val dirs = loc.listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("__ptk=202101", "__ptk=202102", "__ptk=202207"))
    // SELECT * preserves declared columns only at the front; full content ok
    val rows = g.sql("SELECT id, d FROM part_tab ORDER BY id").collect()
    assert(rows.length === 4)
    assert(rows(0).getDate(1).toString === "2021-01-05")
    // filtering on the partition key prunes directories
    val pruned = g.spark.sql("SELECT id FROM part_tab WHERE __ptk = '202101'")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("filters on the partition SOURCE column prune partitions " +
    "(PartitionPruneDerivation; reference rewrite parse.rs:539-893)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    g.sql("DROP TABLE IF EXISTS prune_tab")
    g.sql("CREATE TABLE prune_tab(id Int64, d Date) PARTITION BY toYYYYMM(d)")
    g.sql("INSERT INTO prune_tab VALUES (1, '2021-01-05'), (2, '2021-02-20'), " +
      "(3, '2021-03-03'), (4, '2022-07-01')")

    def scanOf(sql: String) = {
      val df = g.sql(sql)
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      (df, scans.head)
    }

    // equality on d → exactly one partition directory read
    val (dfEq, scanEq) = scanOf("SELECT id FROM prune_tab WHERE d = '2021-02-20'")
    assert(dfEq.collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(scanEq.partitionFilters.nonEmpty, "derived __ptk filter missing")
    assert(scanEq.relation.location.listFiles(
      scanEq.partitionFilters, scanEq.dataFilters).length === 1)

    // range on d (monotone toYYYYMM) → only matching months read
    val (dfRange, scanRange) = scanOf(
      "SELECT id FROM prune_tab WHERE d >= '2021-02-01' AND d < '2021-04-01'")
    assert(dfRange.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    assert(scanRange.partitionFilters.nonEmpty)
    assert(scanRange.relation.location.listFiles(
      scanRange.partitionFilters, scanRange.dataFilters).length === 2)
  }

  test("non-monotonic partition exprs derive equality pruning only (safety)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    g.sql("DROP TABLE IF EXISTS mod_tab")
    // id % 3 is NOT monotone: range filters must not derive __ptk bounds
    g.sql("CREATE TABLE mod_tab(id Int64, d Date) PARTITION BY id % 3")
    g.sql("INSERT INTO mod_tab VALUES (1, '2021-01-01'), (2, '2021-01-02'), " +
      "(3, '2021-01-03'), (4, '2021-01-04'), (5, '2021-01-05'), (6, '2021-01-06')")

    def filesRead(sql: String): Int = {
      val scan = g.sql(sql).queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head
      scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
    }

    // equality derives __ptk = f(v): one partition read, correct rows
    val eq = g.sql("SELECT id FROM mod_tab WHERE id = 4")
    assert(eq.collect().map(_.getLong(0)).toSeq === Seq(4L))
    assert(filesRead("SELECT id FROM mod_tab WHERE id = 4") === 1)

    // range must NOT prune (f non-monotone) — and must stay correct
    val range = g.sql("SELECT id FROM mod_tab WHERE id >= 4")
    assert(range.collect().map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L, 6L))
    assert(filesRead("SELECT id FROM mod_tab WHERE id >= 4") === 3,
      "range filter over a non-monotone ptk expr must scan all partitions")

    // IN derives bucket membership: ids 1 and 4 share __ptk=1 → one dir
    assert(filesRead("SELECT id FROM mod_tab WHERE id IN (1, 4)") === 1)
    val in = g.sql("SELECT id FROM mod_tab WHERE id IN (1, 4)")
    assert(in.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 4L))
  }

  test("OPTIMIZE TABLE runs (stub parity, mgmt.rs:923-941)") {
    g.sql("DROP TABLE IF EXISTS opt_tab")
    g.sql("CREATE TABLE opt_tab(a Int32)")
    g.sql("INSERT INTO opt_tab VALUES (1)")
    g.sql("OPTIMIZE TABLE opt_tab")
    assert(g.sql("SELECT count(*) AS n FROM opt_tab").collect()(0).getLong(0) === 1L)
  }

  test("OPTIMIZE TABLE compacts small files per partition, data identical " +
    "(exceeds the reference's flush stub, mgmt.rs:923-941)") {
    def parquetFiles(table: String): Map[String, Int] = {
      val loc = tableLoc(table).toFile
      loc.listFiles.filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles.count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    g.sql("DROP TABLE IF EXISTS opt_frag")
    g.sql("CREATE TABLE opt_frag(id Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYear(d)")
    // 4 INSERT statements x 2 years -> 4 files in each partition dir
    (1 to 4).foreach(i => g.sql(
      s"INSERT INTO opt_frag VALUES ($i, '2021-03-0$i'), (${i + 10}, '2022-07-0$i')"))
    val before = parquetFiles("opt_frag")
    assert(before === Map("__ptk=2021" -> 4, "__ptk=2022" -> 4))
    val rowsBefore = g.sql("SELECT id, d FROM opt_frag ORDER BY id")
      .collect().map(_.toString).toSeq

    g.sql("OPTIMIZE TABLE opt_frag")
    // each dir collapses to its target file count (1 at this size)
    assert(parquetFiles("opt_frag") === Map("__ptk=2021" -> 1, "__ptk=2022" -> 1))
    val rowsAfter = g.sql("SELECT id, d FROM opt_frag ORDER BY id")
      .collect().map(_.toString).toSeq
    assert(rowsAfter === rowsBefore)

    // idempotent: a second OPTIMIZE finds nothing fragmented and rewrites
    // nothing (same single file per dir)
    g.sql("OPTIMIZE TABLE opt_frag")
    assert(parquetFiles("opt_frag") === Map("__ptk=2021" -> 1, "__ptk=2022" -> 1))
    g.sql("DROP TABLE opt_frag")
  }

  test("partitioned INSERT hash-distributes by the partition key (r19-opt) " +
    "and lands identical rows with the distribution on or off") {
    // INSERT ... SELECT from a table: the Spark write job the
    // distribution applies to (VALUES rows take the direct part writer)
    g.sql("DROP TABLE IF EXISTS ins_dist; DROP TABLE IF EXISTS ins_dist_src")
    g.sql("CREATE TABLE ins_dist_src(id Int64, d Date)")
    g.sql("INSERT INTO ins_dist_src VALUES (1, '2020-01-01'), (2, '2021-02-02'), " +
      "(3, '2020-03-03'), (4, '2021-04-04'), (5, '2020-05-05')")
    g.sql("CREATE TABLE ins_dist(id Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYear(d)")
    g.sql("INSERT INTO ins_dist SELECT id, d FROM ins_dist_src WHERE id <= 3")
    spark.conf.set("graft.insert.distribute", "off")
    try g.sql("INSERT INTO ins_dist SELECT id, d FROM ins_dist_src WHERE id > 3")
    finally spark.conf.unset("graft.insert.distribute")
    assert(g.sql("SELECT CAST(sum(id) AS BIGINT) AS s, count(*) AS n, " +
        "CAST(count(DISTINCT year(d)) AS BIGINT) AS y FROM ins_dist")
      .collect()(0).toSeq === Seq(15L, 5L, 2L))
    g.sql("DROP TABLE ins_dist; DROP TABLE ins_dist_src")
  }

  test("OPTIMIZE TABLE compacts unpartitioned tables too") {
    g.sql("DROP TABLE IF EXISTS opt_flat")
    g.sql("CREATE TABLE opt_flat(a Int64)")
    (1 to 3).foreach(i => g.sql(s"INSERT INTO opt_flat VALUES ($i), (${i * 10})"))
    val loc = tableLoc("opt_flat").toFile
    def nFiles = loc.listFiles.count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 3) // one-plus file per INSERT statement
    g.sql("OPTIMIZE TABLE opt_flat")
    assert(nFiles === 1)
    assert(g.sql("SELECT CAST(sum(a) AS BIGINT) AS s FROM opt_flat")
      .collect()(0).getLong(0) === 66L)
    g.sql("DROP TABLE opt_flat")
  }

  test("OPTIMIZE TABLE compacts the null partition (Hive default dir) " +
    "via the null-safe file-count join, preserving its rows") {
    g.sql("DROP TABLE IF EXISTS opt_null")
    g.sql("CREATE TABLE opt_null(id Int64, d Nullable(Date)) " +
      "ENGINE=BaseStorage PARTITION BY toYear(d)")
    // fragment BOTH a real partition and the null partition
    (1 to 4).foreach(i => g.sql(
      s"INSERT INTO opt_null VALUES ($i, '2021-03-0$i'), (${i + 10}, NULL)"))
    val nullDir = tableLoc("opt_null").resolve("__ptk=__HIVE_DEFAULT_PARTITION__")
    def nullFiles = {
      val s = java.nio.file.Files.list(nullDir)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = g.sql("SELECT id FROM opt_null ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(before.size === 8 && before.count(_ > 10) === 4)
    assert(nullFiles >= 4) // one-plus file per INSERT statement
    g.sql("OPTIMIZE TABLE opt_null")
    val after = g.sql("SELECT id FROM opt_null ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(after === before,
      "null-partition rows must survive OPTIMIZE byte-identical")
    assert(nullFiles === 1L,
      "the Hive default dir must compact like any other partition")
    g.sql("DROP TABLE opt_null")
  }

  private def listParquet(d: java.nio.file.Path): Vector[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector
    } finally s.close()
  }

  test("OPTIMIZE intent replay: a committed write finishes its retirement") {
    g.sql("DROP TABLE IF EXISTS opt_crash")
    g.sql("CREATE TABLE opt_crash(a Int64)")
    g.sql("INSERT INTO opt_crash VALUES (1), (2), (3)")
    val loc = tableLoc("opt_crash")
    // simulate a predecessor that published its intent over ALL current
    // data files, committed its compacted output (same rows ⇒ the
    // row-count witness matches), then crashed before deleting the
    // originals — the window a post-commit retire marker cannot cover
    // (ADVICE r6)
    val originals = listParquet(loc)
    val tmp = java.nio.file.Files.createTempDirectory("graft_opt_commit")
    spark.table("default.opt_crash").repartition(1)
      .write.mode("overwrite").parquet(tmp.toString)
    // the crashed job's output carries its tag prefix — that's what makes
    // it attributable on replay
    val compacted = loc.resolve("opt-test1-part-00000-compacted.parquet")
    java.nio.file.Files.copy(listParquet(tmp).head, compacted)
    spark.catalog.refreshTable("default.opt_crash")
    assert(g.sql("SELECT count(*) AS n FROM opt_crash").collect()(0).getLong(0) > 3L,
      "the simulated crash window should show duplicate rows")
    val intentLines = ("opt-test1" +: "3" +: originals.map(p => loc.relativize(p).toString))
    java.nio.file.Files.write(loc.resolve("_graft_intent"),
      { import scala.jdk.CollectionConverters._; intentLines.asJava })
    g.sql("OPTIMIZE TABLE opt_crash")
    assert(g.sql("SELECT count(*) AS n FROM opt_crash").collect()(0).getLong(0) === 3L,
      "the intent replay must retire the originals and end the duplicate window")
    assert(!java.nio.file.Files.exists(loc.resolve("_graft_intent")))
    assert(originals.forall(p => !java.nio.file.Files.exists(p)),
      "every original retires")
    assert(java.nio.file.Files.exists(compacted),
      "the committed compacted file survives")
    g.sql("DROP TABLE opt_crash")
  }

  test("OPTIMIZE intent replay: an uncommitted write rolls back, originals intact") {
    g.sql("DROP TABLE IF EXISTS opt_crash2")
    g.sql("CREATE TABLE opt_crash2(a Int64)")
    g.sql("INSERT INTO opt_crash2 VALUES (1), (2), (3)")
    val loc = tableLoc("opt_crash2")
    val originals = listParquet(loc)
    // simulate a crash MID-JOB-COMMIT: only PART of the compacted output
    // was published (one row of three — always fewer than the intent
    // expects), so the witness counts short and the replay must delete
    // the partial file, never the originals
    val tmp = java.nio.file.Files.createTempDirectory("graft_opt_partial")
    spark.sql("SELECT CAST(7 AS BIGINT) AS a").repartition(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val partial = loc.resolve("opt-test2-part-partial-compacted.parquet")
    java.nio.file.Files.copy(listParquet(tmp).head, partial)
    val intentLines = ("opt-test2" +: "3" +: originals.map(p => loc.relativize(p).toString))
    java.nio.file.Files.write(loc.resolve("_graft_intent"),
      { import scala.jdk.CollectionConverters._; intentLines.asJava })
    spark.catalog.refreshTable("default.opt_crash2")
    // a 1-byte target makes the post-replay compaction itself a no-op, so
    // the assertions observe the ROLLBACK alone
    spark.conf.set("graft.optimize.targetFileBytes", "1")
    try g.sql("OPTIMIZE TABLE opt_crash2")
    finally spark.conf.unset("graft.optimize.targetFileBytes")
    assert(!java.nio.file.Files.exists(partial),
      "the witness shortfall must roll the partial output back")
    assert(originals.forall(java.nio.file.Files.exists(_)),
      "originals must survive a rollback")
    assert(g.sql("SELECT count(*) AS n FROM opt_crash2").collect()(0).getLong(0) === 3L)
    assert(!java.nio.file.Files.exists(loc.resolve("_graft_intent")))
    g.sql("DROP TABLE opt_crash2")
  }

  test("OPTIMIZE intent replay never deletes a foreign INSERT's files " +
    "(output attribution, ADVICE r7 high)") {
    g.sql("DROP TABLE IF EXISTS opt_crash3")
    g.sql("CREATE TABLE opt_crash3(a Int64)")
    g.sql("INSERT INTO opt_crash3 VALUES (1), (2), (3)")
    val loc = tableLoc("opt_crash3")
    val originals = listParquet(loc)
    // a predecessor crashed after publishing its intent but before its
    // write committed (no tag-attributed output exists at all) …
    val intentLines = ("opt-test3" +: "3" +:
      originals.map(p => loc.relativize(p).toString))
    java.nio.file.Files.write(loc.resolve("_graft_intent"),
      { import scala.jdk.CollectionConverters._; intentLines.asJava })
    // … and then a foreign INSERT commits BEFORE the replay runs. Under a
    // files-minus-originals attribution this commit would be mistaken for
    // the crashed job's output and deleted by the rollback.
    g.sql("INSERT INTO opt_crash3 VALUES (9)")
    val foreign = listParquet(loc).filterNot(originals.contains)
    assert(foreign.nonEmpty)
    spark.conf.set("graft.optimize.targetFileBytes", "1")
    try g.sql("OPTIMIZE TABLE opt_crash3")
    finally spark.conf.unset("graft.optimize.targetFileBytes")
    assert(foreign.forall(java.nio.file.Files.exists(_)),
      "a foreign INSERT's committed files must survive the replay rollback")
    assert(originals.forall(java.nio.file.Files.exists(_)),
      "originals must survive a rollback")
    assert(!java.nio.file.Files.exists(loc.resolve("_graft_intent")))
    assert(g.sql("SELECT count(*) AS n FROM opt_crash3").collect()(0).getLong(0) === 4L,
      "all four committed rows must survive")
    g.sql("DROP TABLE opt_crash3")
  }

  test("OPTIMIZE write failure rolls back inline and withdraws the intent " +
    "(ADVICE r7 medium)") {
    g.sql("DROP TABLE IF EXISTS opt_fail")
    g.sql("CREATE TABLE opt_fail(a Int64)")
    (1 to 3).foreach(i => g.sql(s"INSERT INTO opt_fail VALUES ($i)"))
    val loc = tableLoc("opt_fail")
    val before = listParquet(loc)
    spark.conf.set("graft.optimize.failpoint", "write")
    try {
      intercept[RuntimeException](g.sql("OPTIMIZE TABLE opt_fail"))
    } finally spark.conf.unset("graft.optimize.failpoint")
    assert(!java.nio.file.Files.exists(loc.resolve("_graft_intent")),
      "a non-crash failure must withdraw the intent — a lingering intent " +
        "only ever means a process crash")
    assert(listParquet(loc).toSet === before.toSet,
      "the failed job must leave the table's file set untouched")
    // with the intent gone, normal operation resumes safely
    g.sql("INSERT INTO opt_fail VALUES (4)")
    g.sql("OPTIMIZE TABLE opt_fail")
    assert(g.sql("SELECT CAST(sum(a) AS BIGINT) AS s FROM opt_fail")
      .collect()(0).getLong(0) === 10L)
    g.sql("DROP TABLE opt_fail")
  }

  test("OPTIMIZE failure after commit rolls FORWARD on the next run, " +
    "foreign inserts intact") {
    g.sql("DROP TABLE IF EXISTS opt_fwd")
    g.sql("CREATE TABLE opt_fwd(a Int64)")
    (1 to 3).foreach(i => g.sql(s"INSERT INTO opt_fwd VALUES ($i)"))
    val loc = tableLoc("opt_fwd")
    val originals = listParquet(loc)
    // die between the publish moves and the retirement: the job is
    // committed, the intent remains, readers see bounded duplicates
    spark.conf.set("graft.optimize.failpoint", "retire")
    try {
      intercept[RuntimeException](g.sql("OPTIMIZE TABLE opt_fwd"))
    } finally spark.conf.unset("graft.optimize.failpoint")
    assert(java.nio.file.Files.exists(loc.resolve("_graft_intent")),
      "a post-commit failure must leave the intent for roll-forward")
    // a foreign INSERT lands before the replay
    g.sql("INSERT INTO opt_fwd VALUES (4)")
    g.sql("OPTIMIZE TABLE opt_fwd")
    assert(!java.nio.file.Files.exists(loc.resolve("_graft_intent")))
    assert(originals.forall(p => !java.nio.file.Files.exists(p)),
      "the replay must finish the crashed job's retirement")
    assert(g.sql("SELECT CAST(sum(a) AS BIGINT) AS s FROM opt_fwd")
      .collect()(0).getLong(0) === 10L,
      "compacted rows once and the foreign insert intact")
    g.sql("DROP TABLE opt_fwd")
  }

  test("EXPLAIN returns a formatted plan (bql.pest:10)") {
    g.sql("DROP TABLE IF EXISTS exp_tab")
    g.sql("CREATE TABLE exp_tab(a Int32)")
    val plan = g.sql("EXPLAIN SELECT sum(a) FROM exp_tab").collect()
      .map(_.getString(0)).mkString("\n")
    assert(plan.contains("HashAggregate"))
  }

  test("FixedString pads to declared length (mgmt.rs:1258-1263)") {
    g.sql("DROP TABLE IF EXISTS fs_tab")
    g.sql("CREATE TABLE fs_tab(f FixedString(4))")
    g.sql("INSERT INTO fs_tab VALUES ('ab')")
    val b = g.sql("SELECT f FROM fs_tab").collect()(0).getAs[Array[Byte]](0)
    assert(b.length === 4)
    assert(b.toSeq === Seq('a'.toByte, 'b'.toByte, 0.toByte, 0.toByte))
  }

  test("bucketed tables join without a shuffle (SETTINGS buckets + PRIMARY KEY)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    g.sql("DROP TABLE IF EXISTS bk_orders")
    g.sql("DROP TABLE IF EXISTS bk_cust")
    g.sql("CREATE TABLE bk_orders(ok Int64 PRIMARY KEY, ck Int64) SETTINGS buckets=4")
    g.sql("CREATE TABLE bk_cust(ok Int64 PRIMARY KEY, name String) SETTINGS buckets=4")
    g.sql("INSERT INTO bk_orders VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    g.sql("INSERT INTO bk_cust VALUES (1, 'a'), (2, 'b'), (3, 'c'), (5, 'e')")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = g.sql(
        "SELECT a.ok, a.ck, b.name FROM bk_orders a JOIN bk_cust b ON a.ok = b.ok")
      assert(joined.collect().length === 3)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeLike => s
      }
      assert(shuffles.isEmpty,
        s"bucketed join should be shuffle-free, found: $shuffles")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("DEFAULT column constraint fills omitted columns") {
    g.sql("DROP TABLE IF EXISTS dflt_tab")
    g.sql("CREATE TABLE dflt_tab(a Int32, b Int32 DEFAULT 7, c String DEFAULT 'zz')")
    g.sql("INSERT INTO dflt_tab (a) VALUES (1)")
    val r = g.sql("SELECT a, b, c FROM dflt_tab").collect()(0)
    assert((r.getInt(0), r.getInt(1), r.getString(2)) === ((1, 7, "zz")))
  }

  test("UUID and LowCardinality columns round-trip") {
    g.sql("DROP TABLE IF EXISTS uuid_tab")
    g.sql("CREATE TABLE uuid_tab(u UUID, lc LowCardinality(String))")
    g.sql("INSERT INTO uuid_tab VALUES ('61f0c404-5cb3-11e7-907b-a6006ad3dba0', 'x')")
    val r = g.sql("SELECT u, lc FROM uuid_tab").collect()(0)
    assert(r.getString(0) === "61f0c404-5cb3-11e7-907b-a6006ad3dba0")
    assert(r.getString(1) === "x")
    val desc = g.sql("DESC uuid_tab").collect().map(r2 => (r2.getString(0), r2.getString(1))).toMap
    assert(desc("u") === "UUID" && desc("lc") === "LowCardinality(String)")
  }

  test("multi-statement cmd_list with ';' separators (bql.pest:8)") {
    val df = g.sql("DROP TABLE IF EXISTS ml_t; CREATE TABLE ml_t(a Int32); " +
      "INSERT INTO ml_t VALUES (2), (3); SELECT CAST(sum(a) AS BIGINT) AS s FROM ml_t")
    assert(df.collect()(0).getLong(0) === 5L)
    // ';' inside a string literal must not split
    g.sql("DROP TABLE IF EXISTS ml_s; CREATE TABLE ml_s(v String); " +
      "INSERT INTO ml_s VALUES ('a;b')")
    assert(g.sql("SELECT v FROM ml_s").collect()(0).getString(0) === "a;b")
  }

  test("system database exists at boot (mgmt.rs:233-267)") {
    assert(g.sql("SHOW DATABASES").collect().map(_.getString(0)).contains("system"))
  }

  test("numbers(N) table function maps to range with CH column name") {
    val r = g.sql("SELECT CAST(sum(number) AS BIGINT) AS s, count(*) AS n FROM numbers(10)")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((45L, 10L)))
  }

  test("catalog persists across process restarts (sled-store analog, sys.rs:624-642)") {
    g.sql("DROP TABLE IF EXISTS persist_tab")
    g.sql("CREATE TABLE persist_tab(a UInt64, d Date) " +
      "ENGINE=BaseStorage PARTITION BY toYear(d)")
    g.sql("INSERT INTO persist_tab VALUES (1, '2021-01-05'), (2, '2022-07-01')")
    // Simulate a restart: the in-memory catalog forgets the table, the
    // warehouse files survive (external location, purge = false).
    spark.sharedState.externalCatalog.dropTable(
      spark.catalog.currentDatabase, "persist_tab",
      ignoreIfNotExists = false, purge = false)
    assert(!spark.catalog.tableExists("persist_tab"))

    val g2 = new GraftSession(spark) // fresh session boots -> replay meta
    assert(spark.catalog.tableExists("persist_tab"))
    val show = g2.sql("SHOW CREATE TABLE persist_tab").collect()(0).getString(0)
    assert(show.toUpperCase.contains("PARTITION BY"))
    val desc = g2.sql("DESC persist_tab").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.contains(("a", "UInt64")))
    assert(g2.sql("SELECT CAST(sum(a) AS BIGINT) AS s FROM persist_tab")
      .collect()(0).getLong(0) === 3L)
    // writes keep working against the restored table
    g2.sql("INSERT INTO persist_tab VALUES (4, '2023-03-03')")
    assert(g2.sql("SELECT CAST(sum(a) AS BIGINT) AS s FROM persist_tab")
      .collect()(0).getLong(0) === 7L)
    g2.sql("DROP TABLE persist_tab")
  }

  test("partition pruning still fires on a restored table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    g.sql("DROP TABLE IF EXISTS persist_prune")
    g.sql("CREATE TABLE persist_prune(id Int64, d Date) PARTITION BY toYYYYMM(d)")
    g.sql("INSERT INTO persist_prune VALUES (1, '2021-01-05'), " +
      "(2, '2021-02-20'), (3, '2021-03-09')")
    spark.sharedState.externalCatalog.dropTable(
      spark.catalog.currentDatabase, "persist_prune",
      ignoreIfNotExists = false, purge = false)
    val g2 = new GraftSession(spark) // restore replays ptk expr + partitions
    def filesRead(sql: String): Int = {
      val scan = g2.sql(sql).queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head
      scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
    }
    // the prune derivation reads graft.ptk.expr from the replayed catalog
    // entry: a filter on the SOURCE column must still cut to one directory
    assert(filesRead("SELECT id FROM persist_prune WHERE d = '2021-02-20'") === 1)
    assert(g2.sql("SELECT id FROM persist_prune WHERE d = '2021-02-20'")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    g2.sql("DROP TABLE persist_prune")
  }

  test("bucketed tables restore with their layout intact") {
    g.sql("DROP TABLE IF EXISTS persist_bkt")
    g.sql("CREATE TABLE persist_bkt(k Int64 PRIMARY KEY, v String) " +
      "ENGINE=BaseStorage SETTINGS buckets=4")
    g.sql("INSERT INTO persist_bkt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sharedState.externalCatalog.dropTable(
      spark.catalog.currentDatabase, "persist_bkt",
      ignoreIfNotExists = false, purge = false)
    val g2 = new GraftSession(spark)
    assert(spark.catalog.tableExists("persist_bkt"))
    // the CLUSTERED BY layout survived the replay (bucketSpec in catalog)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("persist_bkt",
        Some(spark.catalog.currentDatabase)))
    assert(meta.bucketSpec.exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("k")))
    assert(g2.sql("SELECT CAST(sum(k) AS BIGINT) AS s FROM persist_bkt")
      .collect()(0).getLong(0) === 6L)
    g2.sql("DROP TABLE persist_bkt")
  }

  test("DROP TABLE removes data files; TRUNCATE keeps meta, drops data") {
    g.sql("DROP TABLE IF EXISTS lifecycle_tab")
    g.sql("CREATE TABLE lifecycle_tab(a Int32)")
    g.sql("INSERT INTO lifecycle_tab VALUES (1), (2)")
    g.sql("TRUNCATE TABLE lifecycle_tab")
    assert(g.sql("SELECT count(*) AS n FROM lifecycle_tab")
      .collect()(0).getLong(0) === 0L)
    // meta survived the truncate: DESC still reports CH types
    assert(g.sql("DESC lifecycle_tab").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      .contains(("a", "Int32")))
    g.sql("INSERT INTO lifecycle_tab VALUES (7)")
    assert(g.sql("SELECT CAST(sum(a) AS BIGINT) AS s FROM lifecycle_tab")
      .collect()(0).getLong(0) === 7L)
    g.sql("DROP TABLE lifecycle_tab")
    // dropped: nothing to restore on a fresh boot
    val g3 = new GraftSession(spark)
    assert(!spark.catalog.tableExists("lifecycle_tab"))
  }

  test("UInt64 full range: 2^64-1 round-trips exactly through Decimal(20,0)") {
    g.sql("DROP TABLE IF EXISTS u64_tab")
    g.sql("CREATE TABLE u64_tab(u UInt64)")
    g.sql("INSERT INTO u64_tab VALUES (18446744073709551615), (1)")
    // DESC reports the declared CH type, not the Spark widening
    assert(g.sql("DESC u64_tab").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("u", "UInt64")))
    val rows = g.sql("SELECT CAST(u AS STRING) AS s FROM u64_tab ORDER BY u")
      .collect().map(_.getString(0)).toSeq
    assert(rows === Seq("1", "18446744073709551615"))
    // sum widens to Decimal(30,0) (Spark adds 10 digits of headroom), so
    // aggregating max-range values does NOT overflow
    val sum = g.sql("SELECT CAST(sum(u) AS STRING) AS s FROM u64_tab")
      .collect()(0).getString(0)
    assert(sum === "18446744073709551616")
    g.sql("DROP TABLE u64_tab")
  }

  test("numbers()/remote() inside string literals and comments survive untouched") {
    // ADVICE r2: the r2 regex rewrite fired inside literals; the tokenizer
    // rewrite must not.
    val lit = g.sql("SELECT 'numbers(5)' AS s").collect()(0).getString(0)
    assert(lit === "numbers(5)")
    val c = g.sql("SELECT 1 AS one -- remote('jdbc:nowhere', 'x')").collect()(0)
    assert(c.getInt(0) === 1)
  }

  test("toDecimal32/64 rewrite (reference TODO, tpch smoke :417)") {
    val r = g.sql("SELECT toDecimal32(1.555, 2) AS a, toDecimal64('12.3', 1) AS b")
      .collect()(0)
    assert(r.getDecimal(0).toPlainString === "1.56")
    assert(r.getDecimal(1).toPlainString === "12.3")
  }

  test("cast round-trips through engine tables (sanity_checks.rs:623-800)") {
    g.sql("DROP TABLE IF EXISTS cast_tab")
    g.sql("CREATE TABLE cast_tab(i Int32, f Float64, s String, d Decimal(9, 2))")
    g.sql("INSERT INTO cast_tab VALUES (42, 3.9, '7', 1.25)")
    val r = g.sql("SELECT CAST(i AS STRING) AS a, CAST(f AS INT) AS b, " +
      "CAST(s AS INT) AS c, CAST(d AS DOUBLE) AS e FROM cast_tab").collect()(0)
    assert(r.getString(0) === "42")
    assert(r.getInt(1) === 3) // Spark double→int truncates like the reference
    assert(r.getInt(2) === 7)
    assert(r.getDouble(3) === 1.25)
  }

  test("remote() federated read/write over JDBC (read.rs:151-228, mgmt.rs:744-770)") {
    // an embedded Derby DB plays the remote server (zero-egress env)
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby")
    val url = s"jdbc:derby:$dbDir/remotedb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE RTAB (K INT, V VARCHAR(20))")
    st.execute("INSERT INTO RTAB VALUES (1, 'one'), (2, 'two'), (3, 'three')")
    st.close(); conn.close()

    // federated read: remote() in table position
    val rows = g.sql(
      s"SELECT k, v FROM remote('$url', 'RTAB') WHERE k >= 2 ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq === Seq((2, "two"), (3, "three")))

    // federated write: INSERT INTO FUNCTION remote(...) VALUES / SELECT
    g.sql(s"INSERT INTO FUNCTION remote('$url', 'RTAB') VALUES (4, 'four')")
    g.sql("DROP TABLE IF EXISTS rsrc")
    g.sql("CREATE TABLE rsrc(k Int32, v String)")
    g.sql("INSERT INTO rsrc VALUES (5, 'five')")
    g.sql(s"INSERT INTO FUNCTION remote('$url', 'RTAB') SELECT k, v FROM rsrc")
    val n = g.sql(s"SELECT count(*) AS n FROM remote('$url', 'RTAB')")
      .collect()(0).getLong(0)
    assert(n === 5L)
  }

  test("decimal literals rescale to declared scale (mgmt.rs:1229-1251)") {
    g.sql("DROP TABLE IF EXISTS dec_tab")
    g.sql("CREATE TABLE dec_tab(d Decimal(9, 3))")
    g.sql("INSERT INTO dec_tab VALUES (1.5), (2), (-0.125)")
    val vals = g.sql("SELECT d FROM dec_tab ORDER BY d").collect()
      .map(_.getDecimal(0).toPlainString)
    assert(vals.toSeq === Seq("-0.125", "1.500", "2.000"))
  }

  test("LIMIT BY: per-group row cap with offset form and outer LIMIT") {
    import SparkTestSession.spark.implicits._
    Seq((1L, "a", 30.0), (2L, "a", 20.0), (3L, "a", 10.0),
        (4L, "b", 25.0), (5L, "b", 15.0), (6L, "c", 5.0))
      .toDF("id", "k", "v").createOrReplaceTempView("lb_t")
    // top-2 per k by v DESC: a->(1,2), b->(4,5), c->(6); global order v DESC
    val r = g.sql("SELECT id, k, v FROM lb_t ORDER BY v DESC, id LIMIT 2 BY k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(r.toSeq === Seq((1L, "a"), (4L, "b"), (2L, "a"), (5L, "b"), (6L, "c")))
    // offset form skips the first row per group; outer LIMIT applies last
    val o = g.sql("SELECT id, k, v FROM lb_t ORDER BY v DESC, id " +
        "LIMIT 1, 1 BY k LIMIT 2")
      .collect().map(_.getLong(0))
    assert(o.toSeq === Seq(2L, 5L))
    // a window plan, not a driver loop: the rewrite must show row_number
    val plan = g.sql("SELECT id, k, v FROM lb_t LIMIT 1 BY k")
      .queryExecution.analyzed.toString
    assert(plan.contains("row_number"), plan)
  }

  test("WITH TOTALS: per-group rows plus grand total in one pass") {
    import SparkTestSession.spark.implicits._
    Seq(("a", 1L), ("a", 2L), ("b", 4L))
      .toDF("k", "v").createOrReplaceTempView("wt_t")
    val rows = g.sql("SELECT k, CAST(sum(v) AS BIGINT) AS s FROM wt_t " +
        "GROUP BY k WITH TOTALS ORDER BY k NULLS FIRST")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
    assert(rows.toSeq === Seq((None, 7L), (Some("a"), 3L), (Some("b"), 4L)))
    // one aggregation over an Expand, not a self-union of two scans
    val exec = g.sql("SELECT k, sum(v) FROM wt_t GROUP BY k WITH TOTALS")
      .queryExecution.executedPlan.toString
    assert(exec.contains("Expand"), exec)
    assert(!exec.contains("Union"), exec)
  }

  test("WITH FILL: grid join fills gaps, TO exclusive, data-derived bounds") {
    val g = new graft.exec.GraftSession(spark)
    import spark.implicits._
    Seq((2L, 10L), (5L, 20L), (6L, 30L))
      .toDF("k", "n").createOrReplaceTempView("wf_t")
    // explicit bounds: [0, 8) — gaps carry NULL n (documented ANSI
    // divergence from CH's type defaults)
    val filled = g.sql("SELECT k, n FROM wf_t ORDER BY k " +
        "WITH FILL FROM 0 TO 8 STEP 1")
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(filled.map(_._1).toSeq === (0L to 7L))
    assert(filled.filter(_._2.isDefined).map(_._1).toSeq === Seq(2L, 5L, 6L))
    // bounds from the data when FROM/TO are absent (min..max inclusive)
    val auto = g.sql("SELECT k, n FROM wf_t ORDER BY k WITH FILL")
      .collect().map(_.getLong(0))
    assert(auto.toSeq === (2L to 6L))
    // STEP strides the grid
    val stepped = g.sql("SELECT k, n FROM wf_t ORDER BY k " +
        "WITH FILL FROM 0 TO 7 STEP 3").collect().map(_.getLong(0))
    assert(stepped.toSeq === Seq(0L, 3L, 6L))
  }

  test("CTAS: schema from SELECT, IF NOT EXISTS skips insert, TRUNCATE keeps schema") {
    val g = new graft.exec.GraftSession(spark)
    import spark.implicits._
    Seq((1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5))
      .toDF("id", "k", "v").createOrReplaceTempView("ctas_src")
    g.sql("DROP TABLE IF EXISTS ctas_t")
    g.sql("CREATE TABLE ctas_t AS SELECT k, CAST(sum(v) AS DOUBLE) AS s " +
      "FROM ctas_src GROUP BY k")
    assert(g.sql("SELECT k, s FROM ctas_t ORDER BY k")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("a", 5.0), ("b", 2.5)))
    // derived CH types visible through DESC
    val desc = g.sql("DESC ctas_t").collect().map(r => (r.getString(0), r.getString(1)))
    assert(desc.toMap.get("s").exists(_.contains("Float64")))
    // IF NOT EXISTS on an existing table: no duplicate insert
    g.sql("CREATE TABLE IF NOT EXISTS ctas_t AS SELECT k, CAST(sum(v) AS DOUBLE) AS s " +
      "FROM ctas_src GROUP BY k")
    assert(g.sql("SELECT count(*) AS n FROM ctas_t").head().getLong(0) === 2L)
    // TRUNCATE replays the script schema-only: empty table, columns intact
    g.sql("TRUNCATE TABLE ctas_t")
    assert(g.sql("SELECT count(*) AS n FROM ctas_t").head().getLong(0) === 0L)
    assert(g.sql("SELECT k, s FROM ctas_t").columns.toSeq === Seq("k", "s"))
    g.sql("DROP TABLE ctas_t")
  }

  test("MATERIALIZED VIEW: insert-triggered, per-block, POPULATE, chain") {
    val g = new graft.exec.GraftSession(spark)
    g.sql("DROP TABLE IF EXISTS mv_out; DROP TABLE IF EXISTS mv_agg; " +
      "DROP TABLE IF EXISTS mv_chain; DROP TABLE IF EXISTS mv_src")
    g.sql("CREATE TABLE mv_src(k Int32, v Float64)")
    g.sql("INSERT INTO mv_src VALUES (1, 1.5), (2, 2.5)")

    // map-only view: no backfill without POPULATE; inserts flow through
    g.sql("CREATE MATERIALIZED VIEW mv_out AS " +
      "SELECT k, CAST(v * 10 AS DOUBLE) AS v10 FROM mv_src WHERE k > 1")
    assert(g.sql("SELECT count(*) AS n FROM mv_out").head().getLong(0) === 0L)
    g.sql("INSERT INTO mv_src VALUES (3, 3.5), (1, 9.0)")
    assert(g.sql("SELECT k, v10 FROM mv_out ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ===
      Seq((3, 35.0)))

    // POPULATE backfills the existing rows AND keeps receiving inserts
    g.sql("CREATE MATERIALIZED VIEW mv_agg POPULATE AS " +
      "SELECT k, count(*) AS n FROM mv_src GROUP BY k")
    val afterPop = g.sql("SELECT CAST(sum(n) AS BIGINT) AS s FROM mv_agg")
      .head().getLong(0)
    assert(afterPop === 4L) // 4 source rows so far
    // CH's per-block aggregation contract: a new block aggregates ALONE,
    // so duplicate (k) rows accumulate instead of merging
    g.sql("INSERT INTO mv_src VALUES (3, 0.5), (3, 0.25)")
    val k3rows = g.sql("SELECT n FROM mv_agg WHERE k = 3").collect().map(_.getLong(0))
    assert(k3rows.sorted.toSeq === Seq(1L, 2L)) // populate block + new block
    assert(g.sql("SELECT CAST(sum(n) AS BIGINT) AS s FROM mv_agg WHERE k = 3")
      .head().getLong(0) === 3L) // sums reconcile, CH-style

    // chained views: mv_out feeds mv_chain
    g.sql("CREATE MATERIALIZED VIEW mv_chain AS " +
      "SELECT CAST(v10 * 2 AS DOUBLE) AS v20 FROM mv_out")
    g.sql("INSERT INTO mv_src VALUES (7, 1.0)")
    assert(g.sql("SELECT v20 FROM mv_chain").collect().map(_.getDouble(0)).toSeq ===
      Seq(20.0))

    // TRUNCATE keeps the view definition, drops data, stays subscribed
    g.sql("TRUNCATE TABLE mv_out")
    assert(g.sql("SELECT count(*) AS n FROM mv_out").head().getLong(0) === 0L)
    g.sql("INSERT INTO mv_src VALUES (8, 2.0)")
    assert(g.sql("SELECT k FROM mv_out").collect().map(_.getInt(0)).toSeq ===
      Seq(8))

    // DROP detaches: no further propagation, and the source still inserts
    g.sql("DROP TABLE mv_chain; DROP TABLE mv_agg; DROP TABLE mv_out")
    g.sql("INSERT INTO mv_src VALUES (9, 1.0)")
    assert(g.sql("SELECT count(*) AS n FROM mv_src").head().getLong(0) === 9L)
    g.sql("DROP TABLE mv_src")
  }

  test("system.tables and system.columns reflect the live catalog") {
    val g = new graft.exec.GraftSession(spark)
    g.sql("DROP TABLE IF EXISTS sysv_tab")
    g.sql("CREATE TABLE sysv_tab(a UInt64, b Nullable(String)) ENGINE=BaseStorage")
    val t = g.sql("SELECT database, name, engine FROM system.tables " +
        "WHERE name = 'sysv_tab'").collect()
    assert(t.length === 1)
    assert((t(0).getString(0), t(0).getString(2)) === ("default", "BaseStorage"))
    val cols = g.sql("SELECT name, type, CAST(position AS INT) AS p " +
        "FROM system.columns WHERE table = 'sysv_tab' ORDER BY position")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(cols.toSeq === Seq(("a", "UInt64", 1), ("b", "Nullable(String)", 2)))
    // the view is refreshed per query: a drop disappears immediately
    g.sql("DROP TABLE sysv_tab")
    assert(g.sql("SELECT count(*) AS n FROM system.tables " +
      "WHERE name = 'sysv_tab'").head().getLong(0) === 0L)
    // joins against real tables work (the introspection is plain SQL)
    assert(g.sql("SELECT count(*) AS n FROM system.columns c " +
      "JOIN system.tables t ON c.table = t.name AND c.database = t.database")
      .head().getLong(0) >= 0L)
  }

  test("RENAME TABLE and ALTER TABLE ADD COLUMN") {
    val g = new graft.exec.GraftSession(spark)
    g.sql("DROP TABLE IF EXISTS ren_b; DROP TABLE IF EXISTS ren_a; " +
      "DROP TABLE IF EXISTS ren_mv")
    g.sql("CREATE TABLE ren_a(k Int32, v Float64)")
    g.sql("INSERT INTO ren_a VALUES (1, 1.5), (2, 2.5)")
    g.sql("CREATE MATERIALIZED VIEW ren_mv AS SELECT k FROM ren_a WHERE v > 2")

    // rename keeps data, replay script, and MV subscriptions
    g.sql("RENAME TABLE ren_a TO ren_b")
    assert(g.sql("SELECT count(*) AS n FROM ren_b").head().getLong(0) === 2L)
    intercept[Exception] { g.sql("SELECT * FROM ren_a") }
    val shown = g.sql("SHOW CREATE TABLE ren_b").head().getString(0)
    assert(shown.contains("CREATE TABLE ren_b"))
    g.sql("INSERT INTO ren_b VALUES (3, 9.0)")
    assert(g.sql("SELECT k FROM ren_mv").collect().map(_.getInt(0)).toSeq ===
      Seq(3))

    // ADD COLUMN: old rows read NULL, new rows carry the value, DESC and
    // system.columns see the declared CH type
    g.sql("ALTER TABLE ren_b ADD COLUMN tag Nullable(String)")
    g.sql("INSERT INTO ren_b VALUES (4, 0.5, 'x')")
    val rows = g.sql("SELECT k, tag FROM ren_b ORDER BY k")
      .collect().map(r => (r.getInt(0), Option(r.getString(1))))
    assert(rows.toSeq === Seq((1, None), (2, None), (3, None), (4, Some("x"))))
    assert(g.sql("DESC ren_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
      .get("tag") === Some("Nullable(String)"))
    // idempotent form
    g.sql("ALTER TABLE ren_b ADD COLUMN IF NOT EXISTS tag Nullable(String)")
    intercept[Exception] { g.sql("ALTER TABLE ren_b ADD COLUMN tag String") }
    g.sql("DROP TABLE ren_mv; DROP TABLE ren_b")
  }

  test("EXISTS TABLE and SHOW COLUMNS") {
    val g = new graft.exec.GraftSession(spark)
    g.sql("DROP TABLE IF EXISTS ex_tab")
    assert(g.sql("EXISTS TABLE ex_tab").head().getInt(0) === 0)
    g.sql("CREATE TABLE ex_tab(a Int32, b Nullable(String))")
    assert(g.sql("EXISTS ex_tab").head().getInt(0) === 1)
    val cols = g.sql("SHOW COLUMNS FROM ex_tab").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(cols.toSeq === Seq(("a", "Int32"), ("b", "Nullable(String)")))
    g.sql("DROP TABLE ex_tab")
  }

  test("INTO OUTFILE: single-file export, formats, refuses overwrite") {
    val g = new graft.exec.GraftSession(spark)
    import spark.implicits._
    Seq(("a", 1L), ("b", 2L), ("a", 3L))
      .toDF("k", "v").createOrReplaceTempView("of_t")
    val dir = java.nio.file.Files.createTempDirectory("graft_of")

    val csv = dir.resolve("out.csv")
    val summary = g.sql("SELECT k, CAST(sum(v) AS BIGINT) AS s FROM of_t " +
      s"GROUP BY k ORDER BY k INTO OUTFILE '$csv'").head()
    assert(summary.getString(0) === csv.toString)
    assert(summary.getLong(1) === 2L)
    assert(java.nio.file.Files.isRegularFile(csv))
    assert(java.nio.file.Files.readString(csv).trim.split("\n").toSeq ===
      Seq("a,4", "b,2"))

    // header form and JSON lines
    val csvN = dir.resolve("named.csv")
    g.sql(s"SELECT k FROM of_t GROUP BY k ORDER BY k " +
      s"INTO OUTFILE '$csvN' FORMAT CSVWithNames")
    assert(java.nio.file.Files.readString(csvN).trim.split("\n").head === "k")
    val js = dir.resolve("out.jsonl")
    g.sql(s"SELECT k FROM of_t WHERE k = 'b' INTO OUTFILE '$js' FORMAT JSONEachRow")
    assert(java.nio.file.Files.readString(js).trim === """{"k":"b"}""")

    // CH refuses to overwrite an existing outfile
    val e = intercept[IllegalArgumentException] {
      g.sql(s"SELECT k FROM of_t INTO OUTFILE '$csv'")
    }
    assert(e.getMessage.contains("refuses to overwrite"))
  }

  test("normalized replay script keeps PRIMARY KEY, NOT NULL, and bucket layout") {
    g.sql("DROP TABLE IF EXISTS norm_b; DROP TABLE IF EXISTS norm_a")
    g.sql("CREATE TABLE norm_a(k Int64 PRIMARY KEY, v String NOT NULL, " +
      "w Nullable(String)) SETTINGS buckets=4")
    // RENAME records the NORMALIZED script — it must carry the markers
    g.sql("RENAME TABLE norm_a TO norm_b")
    val shown = g.sql("SHOW CREATE TABLE norm_b").head().getString(0)
    assert(shown.contains("PRIMARY KEY"), shown)
    assert(shown.contains("NOT NULL"), shown)
    assert(shown.contains("buckets=4"), shown)
    // TRUNCATE replays that script: the CLUSTERED/SORTED bucketed layout
    // must survive, and the markers must be stable across a second
    // normalization round-trip (Spark's catalog relaxes file-source
    // nullability, so NOT NULL rides in the graft.notnull prop)
    g.sql("TRUNCATE TABLE norm_b")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("norm_b", Some("default")))
    assert(meta.bucketSpec.exists(_.bucketColumnNames == Seq("k")),
      meta.bucketSpec.toString)
    val shown2 = g.sql("SHOW CREATE TABLE norm_b").head().getString(0)
    assert(shown2.contains("PRIMARY KEY"), shown2)
    assert(shown2.contains("NOT NULL"), shown2)
    assert(shown2.contains("buckets=4"), shown2)
    g.sql("DROP TABLE norm_b")
  }

  test("WITH FILL keeps the select-list column order when the key is not first") {
    import spark.implicits._
    Seq((10L, 2L), (30L, 5L)).toDF("n", "k").createOrReplaceTempView("wf_ord")
    val df = g.sql("SELECT n, k FROM wf_ord ORDER BY k WITH FILL FROM 2 TO 6 STEP 1")
    assert(df.columns.toSeq === Seq("n", "k"))
    val rows = df.collect().map(r => (Option(r.get(0)), r.getLong(1)))
    assert(rows.map(_._2).toSeq === Seq(2L, 3L, 4L, 5L))
    assert(rows.collect { case (Some(n), kk) => (n, kk) }.toSeq ===
      Seq((10L, 2L), (30L, 5L)))
  }

  test("MV propagation pins the inserted block (self-referencing INSERT..SELECT)") {
    g.sql("DROP TABLE IF EXISTS selfmv_v; DROP TABLE IF EXISTS selfmv_t")
    g.sql("CREATE TABLE selfmv_t(k Int32)")
    g.sql("INSERT INTO selfmv_t VALUES (1), (2)")
    g.sql("CREATE MATERIALIZED VIEW selfmv_v AS SELECT k FROM selfmv_t")
    g.sql("INSERT INTO selfmv_t SELECT k + 10 FROM selfmv_t")
    // the view must receive exactly the block that landed ({11, 12}); a
    // post-commit lineage re-run would rescan the just-appended rows and
    // deliver {11, 12, 21, 22}
    assert(g.sql("SELECT k FROM selfmv_v ORDER BY k")
      .collect().map(_.getInt(0)).toSeq === Seq(11, 12))
    assert(g.sql("SELECT count(*) AS n FROM selfmv_t").head().getLong(0) === 4L)
    g.sql("DROP TABLE selfmv_v; DROP TABLE selfmv_t")
  }

  test("MV rescan fast path delivers the identical block (deterministic source)") {
    // r20: a deterministic file-backed INSERT..SELECT skips the
    // localCheckpoint pin and re-executes the block plan for the MV pass —
    // the view must land exactly the base rows, identical to rescan=off
    g.sql("DROP TABLE IF EXISTS rsc_v; DROP TABLE IF EXISTS rsc_t; " +
      "DROP TABLE IF EXISTS rsc_src")
    g.sql("CREATE TABLE rsc_src(k Int32)")
    g.sql("INSERT INTO rsc_src VALUES (1), (2), (3), (4)")
    g.sql("CREATE TABLE rsc_t(k Int32)")
    g.sql("CREATE MATERIALIZED VIEW rsc_v AS SELECT k FROM rsc_t")
    g.sql("INSERT INTO rsc_t SELECT k * 10 FROM rsc_src WHERE k % 2 = 0")
    assert(g.sql("SELECT k FROM rsc_v ORDER BY k")
      .collect().map(_.getInt(0)).toSeq === Seq(20, 40))
    // rescan=off (unconditional pin) lands the same rows
    spark.conf.set("graft.mv.rescan", "off")
    try g.sql("INSERT INTO rsc_t SELECT k * 100 FROM rsc_src WHERE k = 1")
    finally spark.conf.unset("graft.mv.rescan")
    assert(g.sql("SELECT k FROM rsc_v ORDER BY k")
      .collect().map(_.getInt(0)).toSeq === Seq(20, 40, 100))
    g.sql("DROP TABLE rsc_v; DROP TABLE rsc_t; DROP TABLE rsc_src")
  }

  test("MV propagation pins a block read from a table its own views write " +
    "into, partitioned or not") {
    // rsf_feed (a TO-form view into the block's SOURCE) runs before
    // rsf_z: re-running the block's plan for rsf_z would rescan the
    // source with rsf_feed's rows in it. A partitioned source's
    // CatalogFileIndex lists partitions afresh at every planning, so its
    // listing is never pinned; a plain source's listing is refreshed in
    // place by the append into it.
    Seq("PARTITION BY toYYYYMM(d) ORDER BY k", "ORDER BY k").foreach { layout =>
      g.sql("DROP VIEW IF EXISTS rsf_feed; DROP TABLE IF EXISTS rsf_z; " +
        "DROP TABLE IF EXISTS rsf_t; DROP TABLE IF EXISTS rsf_src")
      g.sql(s"CREATE TABLE rsf_src(k Int64, d Date) ENGINE = MergeTree $layout")
      g.sql("INSERT INTO rsf_src VALUES (1, '2021-01-05'), (2, '2021-02-06')")
      g.sql("CREATE TABLE rsf_t(k Int64, d Date) ENGINE = MergeTree ORDER BY k")
      g.sql("CREATE MATERIALIZED VIEW rsf_feed TO rsf_src AS " +
        "SELECT k + 100 AS k, d + 60 AS d FROM rsf_t")
      g.sql("CREATE MATERIALIZED VIEW rsf_z AS SELECT k FROM rsf_t")
      g.sql("INSERT INTO rsf_t SELECT k, d FROM rsf_src")
      assert(g.sql("SELECT k FROM rsf_t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L), layout)
      assert(g.sql("SELECT k FROM rsf_z ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L),
        s"$layout: the view must see exactly the block that landed")
      assert(g.sql("SELECT k FROM rsf_src ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 101L, 102L), layout)
    }
    g.sql("DROP VIEW rsf_feed; DROP TABLE rsf_z; DROP TABLE rsf_t; " +
      "DROP TABLE rsf_src")
  }

  test("MV propagation still pins a nondeterministic block") {
    // a rand()-derived block must reach the view as the EXACT rows that
    // landed — a plan re-run would draw fresh values and diverge
    g.sql("DROP TABLE IF EXISTS nd_v; DROP TABLE IF EXISTS nd_t; " +
      "DROP TABLE IF EXISTS nd_src")
    g.sql("CREATE TABLE nd_src(k Int64)")
    g.sql("INSERT INTO nd_src SELECT id FROM range(1000)")
    g.sql("CREATE TABLE nd_t(k Int64, v Float64)")
    g.sql("CREATE MATERIALIZED VIEW nd_v AS SELECT k, v FROM nd_t")
    g.sql("INSERT INTO nd_t SELECT k, rand() AS v FROM nd_src")
    val base = g.sql("SELECT k, v FROM nd_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mv = g.sql("SELECT k, v FROM nd_v ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mv === base)
    g.sql("DROP TABLE nd_v; DROP TABLE nd_t; DROP TABLE nd_src")
  }
}
