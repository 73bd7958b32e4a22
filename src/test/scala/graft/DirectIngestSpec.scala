package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** The direct part writer for driver-resident rows: a wire block (or an
  * INSERT VALUES payload) is checked, split by partition key and encoded
  * to one sorted parquet part per partition directory on the calling
  * thread — no Spark job for the base write — whatever the table's
  * partitioning, CHECKs, engine or MV subscriptions; subscribed views are
  * fed from the same rows; a failed publish leaves nothing behind; DDL
  * invalidates the cached recipe. Also pins the Spark-job path bucketed
  * tables and `INSERT ... SELECT` still take: concurrent flushes land
  * exactly once, and a failed append leaves nothing behind.
  */
class DirectIngestSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  private def tableDir(table: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some("dis19")))
        .location.toString))

  /** Every regular file under the table's directory. */
  private def allFiles(table: String): Vector[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(tableDir(table))) return Vector.empty
    val files = java.nio.file.Files.walk(tableDir(table))
    try files.iterator.asScala.filter(p =>
      java.nio.file.Files.isRegularFile(p)).toVector
    finally files.close()
  }

  /** The data files a scan lists (hidden in-flight files excluded). */
  private def parquetParts(table: String): Vector[java.nio.file.Path] =
    allFiles(table).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }

  /** Columns carrying a bloom filter in any part, and whether every part
    * is sorted by its `k` column.
    */
  private def bloomAndSorted(table: String): (Set[String], Boolean) = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val parquets = parquetParts(table)
    var blooms = Set.empty[String]
    parquets.foreach { p =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p.toString), conf))
      try r.getFooter.getBlocks.asScala.foreach { b =>
        blooms ++= b.getColumns.asScala.collect {
          case c if c.getBloomFilterOffset >= 0 => c.getPath.toDotString
        }
      } finally r.close()
    }
    // sortedness: within every file the sort key column is nondecreasing
    val sorted = parquets.forall { p =>
      val ks = spark.read.parquet(p.toString).select("k")
        .collect().map(_.getLong(0))
      ks.sameElements(ks.sorted)
    }
    (blooms, sorted)
  }

  private def jobsDuring(body: => Unit): Int =
    org.apache.spark.ListenerDrain.jobsDuring(spark.sparkContext)(body)

  test("a wire block lands as ONE sorted part file with the declared " +
    "bloom filter, and reads back exactly") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.di_t")
    g.sql("CREATE TABLE dis19.di_t(k Int64, s String, " +
      "INDEX s_bf s TYPE bloom_filter(0.01) GRANULARITY 8) " +
      "ENGINE = MergeTree ORDER BY k")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    // unsorted, high-cardinality strings (dictionary-only chunks omit the
    // bloom — the BloomIndexSpec discipline)
    val n = 30000
    val rows = (0 until n).map(i =>
      Row(((i * 2654435761L) % n).abs, s"v${i}_${i * 31}"))
    val before = spark.table("dis19.di_t").inputFiles.length
    g.insertBlock(Some("dis19"), "di_t", rows, schema)
    val files = spark.table("dis19.di_t").inputFiles
    assert(files.length === before + 1, "one flush must land one part file")
    assert(files.exists(_.contains("part-graft-")),
      s"expected a direct-written part, got ${files.mkString(",")}")
    assert(spark.table("dis19.di_t").count() === n.toLong)
    // exact content round-trip
    val back = spark.table("dis19.di_t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(x => (x._1, x._2))
    val want = rows.map(r => (r.getLong(0), r.getString(1)))
      .sortBy(x => (x._1, x._2))
    assert(back.toSeq === want.toSeq)
    val (blooms, sorted) = bloomAndSorted("di_t")
    assert(blooms.contains("s"), s"no bloom filter in direct part: $blooms")
    assert(sorted, "direct part must be sorted by the sorting key")
    g.sql("DROP TABLE dis19.di_t")
  }

  test("a declared CHECK keeps the full INSERT semantics: violating wire " +
    "blocks are rejected, nothing lands") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.di_chk")
    g.sql("CREATE TABLE dis19.di_chk(a Int64, CONSTRAINT pos CHECK a > 0)")
    val schema = StructType(Seq(StructField("a", LongType)))
    g.insertBlock(Some("dis19"), "di_chk", Seq(Row(5L)), schema)
    val e = intercept[Exception] {
      g.insertBlock(Some("dis19"), "di_chk", Seq(Row(-5L)), schema)
    }
    assert(e.getMessage != null)
    assert(spark.table("dis19.di_chk").count() === 1L,
      "violating block must not land")
    g.sql("DROP TABLE dis19.di_chk")
  }

  test("DDL invalidates the cached verdict: an MV created after a direct " +
    "write starts receiving fanout; a RENAME repoints the landing spot") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.di_mv")
    g.sql("DROP TABLE IF EXISTS dis19.di_c")
    g.sql("DROP TABLE IF EXISTS dis19.di_c2")
    g.sql("CREATE TABLE dis19.di_c(a Int64)")
    val schema = StructType(Seq(StructField("a", LongType)))
    g.insertBlock(Some("dis19"), "di_c", Seq(Row(1L)), schema) // direct, caches verdict
    // MV subscription created AFTER the verdict was cached: the next
    // block must take the fanout path, not the frozen direct recipe
    g.sql("CREATE MATERIALIZED VIEW dis19.di_mv AS " +
      "SELECT a * 10 AS b FROM dis19.di_c")
    g.insertBlock(Some("dis19"), "di_c", Seq(Row(7L)), schema)
    assert(spark.table("dis19.di_mv").collect().map(_.getLong(0)).toSet
      === Set(70L), "post-DDL block must fan out to the new MV")
    g.sql("DROP TABLE dis19.di_mv")
    // RENAME moves storage; a stale cached location would strand blocks
    g.sql("RENAME TABLE dis19.di_c TO dis19.di_c2")
    g.insertBlock(Some("dis19"), "di_c2", Seq(Row(9L)), schema)
    assert(spark.table("dis19.di_c2").collect().map(_.getLong(0)).toSet
      === Set(1L, 7L, 9L))
    g.sql("DROP TABLE dis19.di_c2")
  }

  test("concurrent bucketed-table flushes land exactly once") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.gc_mv")
    g.sql("DROP TABLE IF EXISTS dis19.gc_t")
    // a bucketed table keeps the appendToTable (Spark write job) path
    g.sql("CREATE TABLE dis19.gc_t(w Int64 PRIMARY KEY, v Int64) " +
      "SETTINGS buckets=4")
    g.sql("CREATE MATERIALIZED VIEW dis19.gc_mv AS " +
      "SELECT sum(v) AS sv FROM dis19.gc_t")
    val schema = StructType(Seq(
      StructField("w", LongType), StructField("v", LongType)))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (1 to 16).map { w =>
      val th = new Thread(() => {
        try g.insertBlock(Some("dis19"), "gc_t",
          (1 to 50).map(v => Row(w.toLong, v.toLong)), schema)
        catch { case e: Throwable => errs.add(e) }
      })
      th.start(); th
    }
    ths.foreach(_.join())
    assert(errs.isEmpty, s"concurrent flushes failed: ${errs.peek()}")
    assert(parquetParts("gc_t").forall(!_.getFileName.toString
      .startsWith("part-graft-")), "a bucketed table must not take the direct path")
    assert(spark.table("dis19.gc_t").count() === 800L)
    // every (w, v) pair exactly once
    assert(spark.sql("SELECT count(*) FROM (SELECT w, v FROM dis19.gc_t " +
      "GROUP BY w, v HAVING count(*) > 1)").collect()(0).getLong(0) === 0L)
    // MV saw every row exactly once too (sum over all fanout blocks)
    assert(spark.sql("SELECT CAST(sum(sv) AS BIGINT) FROM dis19.gc_mv")
      .collect()(0).getLong(0) === 16L * 1275L)
    g.sql("DROP TABLE dis19.gc_mv"); g.sql("DROP TABLE dis19.gc_t")
  }

  test("direct path: 16 concurrent flushes into a partitioned table with " +
    "an MV land once, one sorted part per partition per flush") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.dp_mv")
    g.sql("DROP TABLE IF EXISTS dis19.dp_t")
    g.sql("CREATE TABLE dis19.dp_t(k Int64, d Date, w Int64, v Int64, s String, " +
      "INDEX s_bf s TYPE bloom_filter(0.01) GRANULARITY 8) " +
      "ENGINE = MergeTree PARTITION BY toYYYYMM(d) ORDER BY k")
    g.sql("CREATE MATERIALIZED VIEW dis19.dp_mv AS " +
      "SELECT sum(v) AS sv, count() AS n FROM dis19.dp_t")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("d", DateType), StructField("w", LongType),
      StructField("v", LongType), StructField("s", StringType)))
    val months = Seq("2021-01-05", "2021-02-06").map(java.sql.Date.valueOf)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (1 to 16).map { w =>
      val th = new Thread(() => {
        try g.insertBlock(Some("dis19"), "dp_t", (1 to 200).map { v =>
          // unsorted keys, unique high-cardinality strings
          Row(((v * 7919L + w * 104729L) % 100003L), months(v % 2), w.toLong,
            v.toLong, s"s${w}_${v}_${v * 31 + w}")
        }, schema)
        catch { case e: Throwable => errs.add(e) }
      })
      th.start(); th
    }
    ths.foreach(_.join())
    assert(errs.isEmpty, s"concurrent flushes failed: ${errs.peek()}")
    assert(spark.table("dis19.dp_t").count() === 3200L)
    assert(spark.sql("SELECT count(*) FROM (SELECT w, v FROM dis19.dp_t " +
      "GROUP BY w, v HAVING count(*) > 1)").collect()(0).getLong(0) === 0L)
    assert(spark.sql("SELECT CAST(sum(sv) AS BIGINT), CAST(sum(n) AS BIGINT) " +
      "FROM dis19.dp_mv").collect()(0).toSeq === Seq(16L * 20100L, 3200L))
    // one part per partition directory per flush, each written directly
    val parts = parquetParts("dp_t")
    assert(parts.groupBy(_.getParent.getFileName.toString).map {
      case (dir, ps) => dir -> ps.size } === Map("__ptk=202101" -> 16,
      "__ptk=202102" -> 16))
    assert(parts.forall(_.getFileName.toString.startsWith("part-graft-")))
    val (blooms, sorted) = bloomAndSorted("dp_t")
    assert(blooms.contains("s"), s"no bloom filter in direct parts: $blooms")
    assert(sorted, "direct parts must be sorted by the sorting key")
    // partition pruning sees the registered partitions
    assert(g.sql("SELECT count() AS c FROM dis19.dp_t WHERE " +
      "toYYYYMM(d) = 202102").collect()(0).get(0).toString === "1600")
    g.sql("DROP TABLE dis19.dp_mv"); g.sql("DROP TABLE dis19.dp_t")
  }

  test("the base write of a partitioned, CHECKed insert runs no Spark job") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.dj_t")
    g.sql("CREATE TABLE dis19.dj_t(k Int64, d Date, CONSTRAINT pos CHECK k > 0) " +
      "ENGINE = MergeTree PARTITION BY toYYYYMM(d) ORDER BY k")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("d", DateType)))
    val rows = (1 to 100).map(i => Row(i.toLong,
      java.sql.Date.valueOf(f"2021-${i % 12 + 1}%02d-01")))
    // a warm-up write builds the cached recipe (its catalog reads may
    // analyze, never run a job; it is left out of the count anyway)
    g.insertBlock(Some("dis19"), "dj_t", rows.take(1), schema)
    assert(jobsDuring(g.insertBlock(Some("dis19"), "dj_t", rows, schema)) === 0)
    assert(jobsDuring(g.sql("INSERT INTO dis19.dj_t VALUES (7, '2022-05-05'), " +
      "(8, '2022-06-06')")) === 0)
    assert(spark.table("dis19.dj_t").count() === 103L)
    g.sql("DROP TABLE dis19.dj_t")
  }

  test("a direct write that fails mid-publish leaves the table and its " +
    "MV target exactly as before, with no stray file") {
    // a session of its own: the failpoint conf must not reach other
    // suites' inserts on the shared session
    val s2 = spark.newSession()
    val g2 = new GraftSession(s2, skipRestore = true)
    g2.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g2.sql("DROP TABLE IF EXISTS dis19.fp_mv")
    g2.sql("DROP TABLE IF EXISTS dis19.fp_t")
    g2.sql("CREATE TABLE dis19.fp_t(k Int64, d Date) " +
      "ENGINE = MergeTree PARTITION BY toYYYYMM(d) ORDER BY k")
    g2.sql("CREATE MATERIALIZED VIEW dis19.fp_mv AS SELECT k FROM dis19.fp_t")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("d", DateType)))
    def day(s: String) = java.sql.Date.valueOf(s)
    g2.insertBlock(Some("dis19"), "fp_t",
      Seq(Row(1L, day("2021-01-01")), Row(2L, day("2021-02-01"))), schema)
    def state() = (
      g2.sql("SELECT k FROM dis19.fp_t ORDER BY k").collect().map(_.getLong(0)).toSeq,
      g2.sql("SELECT k FROM dis19.fp_mv ORDER BY k").collect().map(_.getLong(0)).toSeq,
      allFiles("fp_t").map(_.toString).toSet, allFiles("fp_mv").map(_.toString).toSet,
      s2.sessionState.catalog.listPartitions(org.apache.spark.sql.catalyst
        .TableIdentifier("fp_t", Some("dis19"))).map(_.spec).toSet)
    val before = state()
    assert(before._1 === Seq(1L, 2L) && before._2 === Seq(1L, 2L))
    // three partitions (two existing, one new): the failpoint fires after
    // the first part is renamed into view
    s2.conf.set("graft.optimize.failpoint", "publish")
    try {
      val e = intercept[Exception] {
        g2.insertBlock(Some("dis19"), "fp_t", Seq(Row(3L, day("2021-01-02")),
          Row(4L, day("2021-02-02")), Row(5L, day("2021-03-03"))), schema)
      }
      assert(e.getMessage.contains("publish"))
      intercept[Exception] {
        g2.sql("INSERT INTO dis19.fp_t VALUES (6, '2021-01-03'), (7, '2021-04-04')")
      }
    } finally s2.conf.unset("graft.optimize.failpoint")
    assert(state() === before)
    // the table still takes writes afterwards
    g2.insertBlock(Some("dis19"), "fp_t", Seq(Row(8L, day("2021-03-03"))), schema)
    assert(g2.sql("SELECT k FROM dis19.fp_mv ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 8L))
    g2.sql("DROP TABLE dis19.fp_mv"); g2.sql("DROP TABLE dis19.fp_t")
  }

  test("a job-path append that fails after its write job leaves the " +
    "table, its MV target, its files and its partitions exactly as before") {
    // a session of its own: the failpoint conf must not reach other
    // suites' inserts on the shared session
    val s2 = spark.newSession()
    val g2 = new GraftSession(s2, skipRestore = true)
    g2.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g2.sql("DROP TABLE IF EXISTS dis19.fa_mv")
    g2.sql("DROP TABLE IF EXISTS dis19.fa_t")
    g2.sql("CREATE TABLE dis19.fa_t(k Int64) " +
      "ENGINE = MergeTree PARTITION BY k % 3 ORDER BY k")
    g2.sql("CREATE MATERIALIZED VIEW dis19.fa_mv AS SELECT k FROM dis19.fa_t")
    g2.sql("INSERT INTO dis19.fa_t VALUES (3), (4)")
    def state() = (
      g2.sql("SELECT k FROM dis19.fa_t ORDER BY k").collect().map(_.getLong(0)).toSeq,
      g2.sql("SELECT k FROM dis19.fa_mv ORDER BY k").collect().map(_.getLong(0)).toSeq,
      allFiles("fa_t").map(_.toString).toSet, allFiles("fa_mv").map(_.toString).toSet,
      java.nio.file.Files.list(tableDir("fa_t")).toArray.map(_.toString).toSet,
      s2.sessionState.catalog.listPartitions(org.apache.spark.sql.catalyst
        .TableIdentifier("fa_t", Some("dis19"))).map(_.spec).toSet)
    val before = state()
    assert(before._1 === Seq(3L, 4L) && before._2 === Seq(3L, 4L))
    // INSERT ... SELECT takes the write job; its rows reach the two
    // existing partitions and a new one before the failpoint fires
    s2.conf.set("graft.optimize.failpoint", "append")
    try {
      val e = intercept[Exception] {
        g2.sql("INSERT INTO dis19.fa_t SELECT number + 5 FROM numbers(3)")
      }
      assert(e.getMessage.contains("append"))
    } finally s2.conf.unset("graft.optimize.failpoint")
    assert(state() === before)
    // the table still takes writes afterwards, new partition included
    g2.sql("INSERT INTO dis19.fa_t SELECT number + 5 FROM numbers(3)")
    assert(g2.sql("SELECT k FROM dis19.fa_mv ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(3L, 4L, 5L, 6L, 7L))
    assert(g2.sql("SELECT count() FROM dis19.fa_t WHERE k % 3 = 2")
      .collect().head.get(0).toString === "1")
    g2.sql("DROP TABLE dis19.fa_mv"); g2.sql("DROP TABLE dis19.fa_t")
  }

  test("a composite multi-character ORDER BY sorts direct and " +
    "INSERT ... SELECT parts by the whole key") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.ck_t")
    // `o` is a one-letter column spelled inside both key names: a key
    // list split into characters would sort by it alone
    g.sql("CREATE TABLE dis19.ck_t(o_custkey Int64, o_orderkey Int64, o Int64) " +
      "ENGINE = MergeTree PARTITION BY o_custkey % 2 ORDER BY (o_custkey, o_orderkey)")
    val schema = StructType(Seq(StructField("o_custkey", LongType),
      StructField("o_orderkey", LongType), StructField("o", LongType)))
    g.insertBlock(Some("dis19"), "ck_t", (1 to 300).map { i =>
      Row((i * 7L) % 10L, (i * 7919L) % 1000L, (i * 31L) % 17L)
    }, schema)
    g.sql("INSERT INTO dis19.ck_t SELECT (number * 3) % 10, " +
      "(number * 104729) % 1000, (number * 13) % 17 FROM numbers(300)")
    assert(spark.table("dis19.ck_t").count() === 600L)
    val (direct, job) = parquetParts("ck_t")
      .partition(_.getFileName.toString.startsWith("part-graft-"))
    assert(direct.map(_.getParent.getFileName.toString).sorted ===
      Seq("__ptk=0", "__ptk=1"))
    assert(job.nonEmpty, "INSERT ... SELECT must take the write-job path")
    (direct ++ job).foreach { p =>
      val keys = spark.read.parquet(p.toString).select("o_custkey", "o_orderkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(keys === keys.sorted, s"$p is not sorted by (o_custkey, o_orderkey)")
    }
    g.sql("DROP TABLE dis19.ck_t")
  }

  test("partitioned and Null-engine tables land as direct parts") {
    g.sql("CREATE DATABASE IF NOT EXISTS dis19")
    g.sql("DROP TABLE IF EXISTS dis19.di_p")
    g.sql("CREATE TABLE dis19.di_p(d Date, v Int64) " +
      "ENGINE = MergeTree PARTITION BY toYYYYMM(d) ORDER BY v")
    val schema = StructType(Seq(
      StructField("d", DateType), StructField("v", LongType)))
    g.insertBlock(Some("dis19"), "di_p", Seq(
      Row(java.sql.Date.valueOf("2021-01-05"), 1L),
      Row(java.sql.Date.valueOf("2021-02-06"), 2L)), schema)
    assert(spark.table("dis19.di_p").count() === 2L)
    val parts = parquetParts("di_p")
    assert(parts.map(_.getParent.getFileName.toString).sorted ===
      Seq("__ptk=202101", "__ptk=202102"))
    assert(parts.forall(_.getFileName.toString.startsWith("part-graft-")))
    // partition pruning still works (the __ptk machinery ran)
    assert(g.sql("SELECT count() AS c FROM dis19.di_p " +
      "WHERE toYYYYMM(d) = 202101").collect()(0).get(0).toString === "1")
    g.sql("DROP TABLE dis19.di_p")

    g.sql("DROP TABLE IF EXISTS dis19.di_nmv")
    g.sql("DROP TABLE IF EXISTS dis19.di_n")
    g.sql("CREATE TABLE dis19.di_n(a Int64) ENGINE = Null")
    g.sql("CREATE MATERIALIZED VIEW dis19.di_nmv AS SELECT a * 2 AS b FROM dis19.di_n")
    g.insertBlock(Some("dis19"), "di_n",
      Seq(Row(1L), Row(2L)), StructType(Seq(StructField("a", LongType))))
    assert(spark.table("dis19.di_n").count() === 0L,
      "Null engine must land nothing")
    assert(allFiles("di_n").forall(!_.getFileName.toString.endsWith(".parquet")))
    assert(spark.table("dis19.di_nmv").collect().map(_.getLong(0)).toSet ===
      Set(2L, 4L), "a Null table still feeds its views")
    g.sql("DROP TABLE dis19.di_nmv"); g.sql("DROP TABLE dis19.di_n")
  }
}
