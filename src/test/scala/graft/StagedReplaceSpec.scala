package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{GraftRestart, SparkSession}

import graft.exec.GraftSession

/** The one crash-safe part rewrite every OPTIMIZE form, mutation and
  * column rewrite goes through: failpoints on the callers that had none,
  * the per-directory layout, the job count of a compaction, and
  * the catalog restore settling a rewrite that crashed after its publish.
  * Each test runs in a catalog of its own, so its failpoint conf reaches
  * no other suite's statements.
  */
class StagedReplaceSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def session(): (SparkSession, GraftSession) = {
    val s = GraftRestart.isolated(spark)
    (s, new GraftSession(s))
  }

  private def tableDir(s: SparkSession, table: String): java.nio.file.Path =
    java.nio.file.Paths.get(s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some("default")))
      .location.getPath)

  /** Visible part files by partition directory. */
  private def parts(dir: java.nio.file.Path): Map[String, Seq[java.nio.file.Path]] = {
    val w = java.nio.file.Files.walk(dir)
    try w.iterator.asScala.filter { p =>
      val rel = dir.relativize(p).iterator.asScala.map(_.toString).toSeq
      java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !rel.exists(c => (c.startsWith("_") || c.startsWith(".")) && !c.contains("="))
    }.toSeq.groupBy(p => dir.relativize(p.getParent).toString)
    finally w.close()
  }

  private def intent(dir: java.nio.file.Path): Boolean =
    java.nio.file.Files.exists(dir.resolve("_graft_intent"))

  private def failingAt(s: SparkSession, site: String)(body: => Unit): Unit = {
    s.conf.set("graft.optimize.failpoint", site)
    try intercept[RuntimeException](body): Unit
    finally s.conf.unset("graft.optimize.failpoint")
  }

  private def rows(g: GraftSession, sql: String): Seq[String] =
    g.sql(sql).collect().map(_.toString).toSeq

  /** A partitioned ReplacingMergeTree with two versions of key 1 in 2021
    * and three part files in each of two partitions. */
  private def replacing(g: GraftSession): Unit = {
    g.sql("CREATE TABLE rp(k Int64 PRIMARY KEY, d Date, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver) PARTITION BY toYear(d)")
    g.sql("INSERT INTO rp VALUES (1, '2021-01-01', 1), (2, '2022-01-01', 1)")
    g.sql("INSERT INTO rp VALUES (1, '2021-02-01', 2), (3, '2022-02-01', 1)")
    g.sql("INSERT INTO rp VALUES (4, '2021-03-01', 1), (2, '2022-03-01', 5)")
  }
  private val mergedRp =
    Seq("[1,2021-02-01,2]", "[2,2022-03-01,5]", "[3,2022-02-01,1]", "[4,2021-03-01,1]")

  /** A partitioned plain table holding each row of 2021 twice, over four
    * part files in each of two partitions. */
  private def duplicated(g: GraftSession): Unit = {
    g.sql("CREATE TABLE dd(k Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYear(d)")
    (1 to 2).foreach(_ => g.sql(
      "INSERT INTO dd VALUES (1, '2021-01-01'), (2, '2022-01-01')"))
    (1 to 2).foreach(_ => g.sql(
      "INSERT INTO dd VALUES (3, '2021-02-01'), (4, '2022-02-01')"))
  }
  private val distinctDd =
    Seq("[1,2021-01-01]", "[2,2022-01-01]", "[3,2021-02-01]", "[4,2022-02-01]")

  test("OPTIMIZE FINAL on a partitioned ReplacingMergeTree failing at " +
    "write leaves the file set untouched and withdraws the intent") {
    val (s, g) = session()
    replacing(g)
    val dir = tableDir(s, "rp")
    val before = parts(dir)
    failingAt(s, "write")(g.sql("OPTIMIZE TABLE rp FINAL"))
    assert(!intent(dir))
    assert(parts(dir) === before)
    assert(rows(g, "SELECT count() FROM rp") === Seq("[6]"))
  }

  test("OPTIMIZE FINAL on a partitioned ReplacingMergeTree failing at " +
    "retire rolls forward at the next OPTIMIZE to the exact merged rows") {
    val (s, g) = session()
    replacing(g)
    val dir = tableDir(s, "rp")
    val originals = parts(dir).values.flatten.toSeq
    failingAt(s, "retire")(g.sql("OPTIMIZE TABLE rp FINAL"))
    assert(intent(dir))
    g.sql("OPTIMIZE TABLE rp FINAL")
    assert(!intent(dir))
    assert(originals.forall(p => !java.nio.file.Files.exists(p)))
    assert(rows(g, "SELECT k, d, ver FROM rp ORDER BY k") === mergedRp)
  }

  test("OPTIMIZE DEDUPLICATE failing at write leaves the file set " +
    "untouched and withdraws the intent") {
    val (s, g) = session()
    duplicated(g)
    val dir = tableDir(s, "dd")
    val before = parts(dir)
    failingAt(s, "write")(g.sql("OPTIMIZE TABLE dd DEDUPLICATE"))
    assert(!intent(dir))
    assert(parts(dir) === before)
    assert(rows(g, "SELECT count() FROM dd") === Seq("[8]"))
  }

  test("OPTIMIZE DEDUPLICATE failing at retire rolls forward at the next " +
    "OPTIMIZE to the exact distinct rows") {
    val (s, g) = session()
    duplicated(g)
    val dir = tableDir(s, "dd")
    val originals = parts(dir).values.flatten.toSeq
    failingAt(s, "retire")(g.sql("OPTIMIZE TABLE dd DEDUPLICATE"))
    assert(intent(dir))
    g.sql("OPTIMIZE TABLE dd DEDUPLICATE")
    assert(!intent(dir))
    assert(originals.forall(p => !java.nio.file.Files.exists(p)))
    assert(rows(g, "SELECT k, d FROM dd ORDER BY k") === distinctDd)
  }

  test("a partitioned OPTIMIZE FINAL writes ceil(bytes / target) files " +
    "into each partition directory") {
    val (s, g) = session()
    g.sql("CREATE TABLE rpl(k Int64 PRIMARY KEY, d Date, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver) PARTITION BY toYear(d)")
    // distinct keys: the merge keeps all 1200 rows, 600 per partition
    (0 until 3).foreach(i => g.sql("INSERT INTO rpl SELECT id AS k, " +
      "if(id % 2 = 0, DATE '2021-05-05', DATE '2022-05-05') AS d, " +
      s"CAST(1 AS BIGINT) AS ver FROM range(${i * 400}, ${i * 400 + 400})"))
    val dir = tableDir(s, "rpl")
    val target = 2000L
    val expected = parts(dir).map { case (d, fs) =>
      d -> math.ceil(fs.map(java.nio.file.Files.size(_)).sum.toDouble / target).toInt
    }
    assert(expected.size === 2 && expected.values.forall(_ >= 2), expected)
    s.conf.set("graft.optimize.targetFileBytes", target.toString)
    try g.sql("OPTIMIZE TABLE rpl FINAL")
    finally s.conf.unset("graft.optimize.targetFileBytes")
    assert(parts(dir).map { case (d, fs) => d -> fs.size } === expected)
    assert(rows(g, "SELECT count(), count(DISTINCT k) FROM rpl") ===
      Seq("[1200,1200]"))
  }

  test("a compaction OPTIMIZE of two fragmented partitions runs two " +
    "Spark jobs") {
    // the witness is the retired files' footer total; a count() of the
    // bare scan would fold to the same footer sum (TrivialCount), so this
    // pins the job count rather than telling the two witnesses apart
    val (s, g) = session()
    g.sql("CREATE TABLE cj(k Int64, d Date) ENGINE=MergeTree " +
      "PARTITION BY toYear(d) ORDER BY k")
    (1 to 4).foreach(i => g.sql(
      s"INSERT INTO cj VALUES ($i, '2021-03-0$i'), (${i + 10}, '2022-07-0$i')"))
    val dir = tableDir(s, "cj")
    assert(parts(dir).values.map(_.size).toSeq === Seq(4, 4))
    val jobs = ListenerDrain.jobsDuring(s.sparkContext)(
      g.sql("OPTIMIZE TABLE cj FINAL"))
    assert(parts(dir).values.map(_.size).toSeq === Seq(1, 1))
    assert(jobs === 2)
  }

  test("the catalog restore settles a rewrite that failed after its " +
    "publish: exact rows and no intent, with no OPTIMIZE run") {
    val (s, g) = session()
    g.sql("CREATE TABLE rs(k Int64, d Date) ENGINE=BaseStorage " +
      "PARTITION BY toYear(d)")
    (1 to 4).foreach(i => g.sql(
      s"INSERT INTO rs VALUES ($i, '2021-03-0$i'), (${i + 10}, '2022-07-0$i')"))
    val dir = tableDir(s, "rs")
    failingAt(s, "retire")(g.sql("OPTIMIZE TABLE rs"))
    assert(intent(dir))
    assert(rows(g, "SELECT count() FROM rs") === Seq("[16]"),
      "between publish and retirement both copies are visible")
    val s2 = GraftRestart.restart(s)
    val g2 = new GraftSession(s2)
    assert(!intent(dir))
    assert(rows(g2, "SELECT count() FROM rs") === Seq("[8]"))
    assert(rows(g2, "SELECT CAST(sum(k) AS BIGINT) FROM rs") === Seq("[60]"))
    assert(g2.restoreErrors.isEmpty)
  }
  test("a bucketed table's mutation, column rewrite and MATERIALIZE INDEX " +
    "publish bucket files that a bucketed join still reads") {
    val (s, g) = session()
    g.sql("CREATE TABLE bk_orders(ok Int64 PRIMARY KEY, ck Int64, " +
      "tag String) SETTINGS buckets=4")
    g.sql("CREATE TABLE bk_cust(ok Int64 PRIMARY KEY, name String) SETTINGS buckets=4")
    g.sql("INSERT INTO bk_orders SELECT number AS ok, number * 10 AS ck, " +
      "'t' AS tag FROM numbers(1000)")
    g.sql("INSERT INTO bk_cust SELECT number AS ok, 'c' AS name FROM numbers(1000)")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def joined(): Seq[String] = rows(g, "SELECT count() AS n, " +
      "CAST(sum(a.ck) AS BIGINT) AS s FROM bk_orders a JOIN bk_cust b ON a.ok = b.ok")
    def bucketIds(): Set[Option[Int]] = parts(tableDir(s, "bk_orders")).values.flatten
      .map(p => org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(p.getFileName.toString)).toSet
    g.sql("ALTER TABLE bk_orders DELETE WHERE ok = 2")
    assert(joined() === Seq("[999,4994980]"))
    g.sql("ALTER TABLE bk_orders RENAME COLUMN tag TO label")
    g.sql("ALTER TABLE bk_orders ADD INDEX lb label TYPE bloom_filter GRANULARITY 1")
    g.sql("ALTER TABLE bk_orders MATERIALIZE INDEX lb")
    assert(joined() === Seq("[999,4994980]"))
    assert(bucketIds() === (0 until 4).map(Some(_)).toSet)
  }
}
