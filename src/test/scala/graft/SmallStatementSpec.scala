package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** Small-statement routing: a SELECT whose inputs add up to at most the
  * broadcast threshold plans as ONE Spark job (AQE off, one shuffle
  * partition), per statement and per thread, never through the session
  * conf; a larger input plans as the session says (AQE).
  */
class SmallStatementSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"
  private val Bound = "spark.sql.autoBroadcastJoinThreshold"

  private lazy val g = {
    val g = new GraftSession(spark)
    g.sql("CREATE DATABASE IF NOT EXISTS sss3")
    g.sql("DROP TABLE IF EXISTS sss3.small_t")
    g.sql("DROP TABLE IF EXISTS sss3.big_t")
    // partitioned, read without a partition filter: the unpruned catalog
    // index carries no size of its own
    g.sql("CREATE TABLE sss3.small_t(k Int64, v Int64) ENGINE = MergeTree " +
      "PARTITION BY k % 2 ORDER BY k")
    g.sql("INSERT INTO sss3.small_t VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    g.sql("CREATE TABLE sss3.big_t(k Int64, v Int64) ENGINE = MergeTree ORDER BY k")
    g.sql("INSERT INTO sss3.big_t SELECT number, (number * 7919) % 100003 FROM numbers(20000)")
    g
  }

  private def bytesOf(table: String): Long = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some("sss3")))
      .location.getPath)
    val w = java.nio.file.Files.walk(dir)
    try w.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith(".")
    }.map(java.nio.file.Files.size(_)).sum
    finally w.close()
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  /** The one-job shape: no AQE anywhere, every exchange one partition. */
  private def small(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan
    p.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty &&
      shuffles(p).nonEmpty && shuffles(p).forall(_.numPartitions == 1)
  }

  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  private def confs(s: org.apache.spark.sql.SparkSession) =
    (s.conf.get(Aqe), s.conf.get(Parts))

  private val GroupOrder =
    "SELECT k % 3 AS b, count() AS n, sum(v) AS s FROM sss3.small_t " +
      "GROUP BY b ORDER BY b"

  test("a small GROUP BY ... ORDER BY runs as exactly one job") {
    g // the fixture's own writes run jobs: set it up first
    val before = confs(spark)
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val jobs = org.apache.spark.ListenerDrain.jobsDuring(spark.sparkContext) {
      val df = g.sql(GroupOrder)
      assert(small(df), df.queryExecution.executedPlan.toString)
      rows = df.collect().toSeq
    }
    assert(jobs === 1)
    assert(rows.map(_.mkString(",")) === Seq("0,1,30", "1,2,50", "2,1,20"))
    assert(confs(spark) === before)
  }

  test("an MV-subscribed INSERT VALUES runs one job, the view's SELECT") {
    g.sql("DROP TABLE IF EXISTS sss3.mv_v")
    g.sql("DROP TABLE IF EXISTS sss3.mv_sum")
    g.sql("DROP TABLE IF EXISTS sss3.mv_src")
    g.sql("CREATE TABLE sss3.mv_src(k Int64, v Int64) ENGINE = MergeTree ORDER BY k")
    g.sql("CREATE TABLE sss3.mv_sum(b Int64, n UInt64, s Int64) " +
      "ENGINE = SummingMergeTree ORDER BY b")
    g.sql("CREATE MATERIALIZED VIEW sss3.mv_v TO sss3.mv_sum AS SELECT " +
      "k % 3 AS b, count() AS n, sum(v) AS s FROM sss3.mv_src GROUP BY b")
    val before = confs(spark)
    val jobs = org.apache.spark.ListenerDrain.jobsDuring(spark.sparkContext) {
      g.sql("INSERT INTO sss3.mv_src VALUES (1, 1), (2, 2), (4, 4), (5, 5)")
    }
    assert(jobs === 1)
    assert(g.sql("SELECT b, n, s FROM sss3.mv_sum ORDER BY b").collect()
      .map(_.mkString(",")).toSeq === Seq("1,2,5", "2,2,7"))
    assert(confs(spark) === before)
  }

  test("an input above the bound still plans with AQE, and EXPLAIN shows " +
    "the plan that runs") {
    g // set up the fixture on the shared session first
    val s2 = spark.newSession()
    val g2 = new GraftSession(s2)
    val bound = bytesOf("small_t") + 1
    assert(bound < bytesOf("big_t"))
    s2.conf.set(Bound, bound.toString)
    try {
      val before = confs(s2)
      val big = g2.sql("SELECT k % 3 AS b, count() AS n FROM sss3.big_t " +
        "GROUP BY b ORDER BY b")
      assert(adaptive(big), big.queryExecution.executedPlan.toString)
      assert(big.collect().map(_.get(1).toString.toLong).sum === 20000L)
      assert(small(g2.sql(GroupOrder)))
      val explained = (sql: String) =>
        g2.sql(s"EXPLAIN $sql").collect().map(_.getString(0)).mkString("\n")
      assert(explained(GroupOrder).contains("Exchange") &&
        !explained(GroupOrder).contains("AdaptiveSparkPlan"))
      assert(explained("SELECT k % 3 AS b, count() AS n FROM sss3.big_t " +
        "GROUP BY b ORDER BY b").contains("AdaptiveSparkPlan"))
      assert(confs(s2) === before)
    } finally s2.conf.unset(Bound)
  }

  test("a small and a large statement on two threads of one session each " +
    "keep their own plan shape") {
    g
    val s2 = spark.newSession()
    s2.conf.set(Bound, (bytesOf("small_t") + 1).toString)
    try {
      val before = confs(s2)
      val rounds = 12
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      // one GraftSession per thread (as per wire connection), one
      // SparkSession under both
      def run(sql: String, shape: DataFrame => Boolean): Seq[Boolean] = {
        val gt = new GraftSession(s2)
        (1 to rounds).map { _ =>
          barrier.await()
          shape(gt.sql(sql))
        }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val a = pool.submit(() => run(GroupOrder, small))
        val b = pool.submit(() => run("SELECT k % 3 AS b, count() AS n " +
          "FROM sss3.big_t GROUP BY b ORDER BY b", adaptive))
        assert(a.get().forall(identity), "a small statement lost its one-job plan")
        assert(b.get().forall(identity), "a large statement lost AQE")
      } finally pool.shutdown()
      assert(confs(s2) === before)
    } finally s2.conf.unset(Bound)
  }
}
