package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, HoistedLiteral, OnePartitionExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession
import graft.server.ChWireServer

/** One-stage, compile-free small statements: a statement planned as one
  * job (`SmallStatementExecution`) passes a one-partition exchange
  * through when its input already is one partition, reads its filter
  * literals from generated-class references (one compiled class serves
  * every value), and comes back over a wire in that one job.
  */
class OneStageSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val Bound = "spark.sql.autoBroadcastJoinThreshold"

  private lazy val g = {
    val g = new GraftSession(spark)
    g.sql("CREATE DATABASE IF NOT EXISTS oss")
    Seq("one", "many", "parts").foreach(t => g.sql(s"DROP TABLE IF EXISTS oss.$t"))
    g.sql("CREATE TABLE oss.one(k Int64, v Int64) ENGINE = MergeTree ORDER BY k")
    g.sql("INSERT INTO oss.one VALUES (1, 10), (2, 20), (3, 30), (4, 40), (5, 50)")
    g.sql("CREATE TABLE oss.many(k Int64, v Int64) ENGINE = MergeTree ORDER BY k")
    (0 until 4).foreach { i =>
      g.sql(s"INSERT INTO oss.many VALUES (${3 * i}, $i), (${3 * i + 1}, ${10 * i}), " +
        s"(${3 * i + 2}, ${100 * i})")
    }
    g.sql("CREATE TABLE oss.parts(k Int64, v Nullable(Int64)) ENGINE = MergeTree " +
      "PARTITION BY k ORDER BY k")
    g.sql("INSERT INTO oss.parts VALUES (1, 10), (2, NULL), (3, 30)")
    g
  }

  /** The same engine with the small-statement bound off: every statement
    * plans with AQE, exchanges and inline literals, as a large one does. */
  private lazy val aqe = {
    val s = spark.newSession()
    s.conf.set(Bound, "0")
    new GraftSession(s)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.mkString(","))

  private def scanPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail("no file scan")).inputRDDs().head.getNumPartitions

  private def groupOrder(t: String) =
    s"SELECT k % 3 AS b, count() AS n, sum(v) AS s FROM oss.$t GROUP BY b ORDER BY b"

  test("a one-file GROUP BY ... ORDER BY runs one stage and one task, with " +
    "the AQE path's rows") {
    val sql = groupOrder("one")
    val df = g.sql(sql)
    assert(scanPartitions(df) === 1)
    var got = Seq.empty[String]
    val (stages, tasks) = ListenerDrain.stagesDuring(spark.sparkContext) {
      got = rows(df)
    }
    assert((stages, tasks) === ((1, 1)), df.queryExecution.executedPlan.toString)
    assert(got === Seq("0,1,30", "1,2,50", "2,2,70"))
    assert(got === rows(aqe.sql(sql)))
  }

  test("preparing a one-job plan registers no shuffle and runs nothing") {
    val df = g.sql(groupOrder("one"))
    var shuffles = -1
    val (stages, _) = ListenerDrain.stagesDuring(spark.sparkContext) {
      shuffles = ListenerDrain.shufflesDuring(spark.sparkContext)(df.queryExecution.executedPlan)
    }
    assert((shuffles, stages) === ((0, 0)))
    assert(df.queryExecution.executedPlan.collect { case o: OnePartitionExec => o }.size === 2)
  }

  test("a multi-file GROUP BY ... ORDER BY keeps its exchange: two stages") {
    assume(spark.sparkContext.defaultParallelism > 1, "one core packs every file into one task")
    val sql = groupOrder("many")
    val df = g.sql(sql)
    val files = scanPartitions(df)
    assert(files > 1)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 2, plan.toString)
    var got = Seq.empty[String]
    val (stages, tasks) = ListenerDrain.stagesDuring(spark.sparkContext) {
      got = rows(df)
    }
    assert((stages, tasks) === ((2, files + 1)), plan.toString)
    assert(got === rows(aqe.sql(sql)))
    assert(got === Seq("0,4,6", "1,4,60", "2,4,600"))
  }

  test("a global aggregate over an input with every partition pruned still " +
    "returns its one row") {
    val sql = "SELECT count() AS n, sum(v) AS s FROM oss.parts WHERE k = 99"
    val df = g.sql(sql)
    assert(scanPartitions(df) === 0, df.queryExecution.executedPlan.toString)
    assert(df.queryExecution.executedPlan.collect { case o: OnePartitionExec => o }.nonEmpty)
    val got = df.collect().toSeq
    assert(got.size === 1)
    assert(got.head.getLong(0) === 0L && got.head.isNullAt(1))
    assert(rows(g.sql("SELECT k, count() AS n FROM oss.parts WHERE k = 99 GROUP BY k")).isEmpty)
    assert(rows(g.sql(sql)) === rows(aqe.sql(sql)))
  }

  test("an exchange that a reused exchange reads stays a shuffle both " +
    "readers share") {
    val sql = "WITH t AS (SELECT k % 3 AS b, count() AS n FROM oss.one GROUP BY b) " +
      "SELECT x.b, x.n, y.n AS m FROM t x JOIN t y ON x.b = y.b ORDER BY x.b"
    val df = g.sql(sql)
    val plan = df.queryExecution.executedPlan
    val reused = plan.collectWithSubqueries { case r: ReusedExchangeExec => r.child }
    assert(reused.nonEmpty, plan.toString)
    val shared = plan.collect { case e: ShuffleExchangeExec if reused.exists(_ eq e) => e }
    val passed = plan.collect { case o: OnePartitionExec => o.child }
    assert(shared.nonEmpty && !shared.exists(e => passed.exists(_ eq e)), plan.toString)
    assert(passed.nonEmpty, plan.toString)
    assert(rows(df) === Seq("0,1,1", "1,2,2", "2,2,2"))
    assert(rows(df) === rows(aqe.sql(sql)))
  }

  // ---- literal-stable generated code --------------------------------------

  /** 40 rows over one parquet file, a column of every hoisted type, each
    * NULL on every tenth row; read by the session `typedSession`. */
  private lazy val typedSession = {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("oss-typed").resolve("t").toString
    def col(expr: String, t: String) = s"CAST(IF(id % 10 = 9, NULL, $expr) AS $t)"
    s.range(40).selectExpr("id",
      col("id % 2 = 0", "BOOLEAN") + " AS b",
      col("id - 20", "TINYINT") + " AS i8",
      col("id * 100 - 2000", "SMALLINT") + " AS i16",
      col("id * 1000", "INT") + " AS i32",
      col("id * 100000000000", "BIGINT") + " AS i64",
      col("id * 0.5", "FLOAT") + " AS f32",
      col("id * 0.25", "DOUBLE") + " AS f64",
      col("date_add(DATE'2021-01-01', CAST(id AS INT))", "DATE") + " AS d",
      col("timestamp_seconds(1600000000 + id * 3600)", "TIMESTAMP") + " AS ts",
      col("timestamp_seconds(1600000000 + id * 3600)", "TIMESTAMP_NTZ") + " AS ntz")
      .coalesce(1).write.parquet(dir)
    s.read.parquet(dir).createOrReplaceTempView("oss_typed")
    s
  }

  private def small(sql: String): DataFrame = GraftSqlBridge.planSmall(typedSession.sql(sql))

  private def hoisted(df: DataFrame): Seq[DataType] =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f.condition }
      .flatMap(_.collect { case h: HoistedLiteral => h.dataType })

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The stamp of row `i` (the session time zone is UTC). */
  private def stamp(i: Int): String =
    java.time.LocalDateTime.ofEpochSecond(1600000000L + i * 3600L, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** (column, its type, the literal of that type row `i` holds) */
  private val typed: Seq[(String, DataType, Int => String)] = Seq(
    ("b", BooleanType, i => if (i % 2 == 0) "true" else "false"),
    ("i8", ByteType, i => s"${i - 15}Y"),
    ("i16", ShortType, i => s"${i * 100 - 2000}S"),
    ("i32", IntegerType, i => s"${i * 1000}"),
    ("i64", LongType, i => s"${i * 100000000000L}L"),
    ("f32", FloatType, i => s"${i * 0.5}F"),
    ("f64", DoubleType, i => s"${i * 0.25}D"),
    ("d", DateType, i => s"DATE'${java.time.LocalDate.of(2021, 1, 1).plusDays(i)}'"),
    ("ts", TimestampType, i => s"TIMESTAMP'${stamp(i)}'"),
    ("ntz", TimestampNTZType, i => s"TIMESTAMP_NTZ'${stamp(i)}'"))

  test("a filter with five values of each hoisted type compiles nothing " +
    "after the first, and each value returns its own rows, NULLs included") {
    typed.foreach { case (c, t, lit) =>
      val templates = Seq[String => String](
        v => s"SELECT id FROM oss_typed WHERE $c > $v",
        // a NULL never equals the literal: NULL rows come back here
        v => s"SELECT id FROM oss_typed WHERE NOT ($c <=> $v) ORDER BY id")
      templates.foreach { template =>
        // another thread's compile (a concurrent suite) spoils an attempt:
        // retry with values this template has not seen
        def attempt(a: Int): (Seq[String], Seq[Seq[String]], Long) = {
          val sqls = (0 until 5).map(i => template(lit(a * 5 + i + 1)))
          val first = small(sqls.head)
          assert(hoisted(first).contains(t), s"$c: ${first.queryExecution.executedPlan}")
          val head = rows(first)
          val before = compiles
          val rest = sqls.tail.map(sql => rows(small(sql)))
          val run = (sqls, head +: rest, compiles - before)
          if (run._3 == 0 || a == 2) run else attempt(a + 1)
        }
        val (sqls, results, newCompiles) = attempt(0)
        assert(newCompiles === 0, s"$c: ${sqls.head}")
        sqls.zip(results).foreach { case (sql, got) =>
          assert(got.sorted === rows(typedSession.sql(sql)).sorted, sql)
        }
        if (t != BooleanType) assert(results.distinct.size > 1, s"$c: ${sqls.head}")
      }
    }
    assert(rows(small("SELECT id FROM oss_typed WHERE NOT (i32 <=> 5000) ORDER BY id"))
      .count(id => id.toInt % 10 == 9) === 4)
  }

  test("a CH filter over a date range compiles once for five ranges") {
    val days = (0 until 5).map(i => java.time.LocalDate.of(2024, 3, 1).plusDays(7 * i))
    g.sql("DROP TABLE IF EXISTS oss.days")
    g.sql("CREATE TABLE oss.days(d Date, v Int64) ENGINE = MergeTree ORDER BY d")
    g.sql("INSERT INTO oss.days SELECT addDays(toDate('2024-02-20'), number % 60), " +
      "number FROM numbers(600)")
    def sql(d: java.time.LocalDate) =
      s"SELECT d, count() AS n, sum(v) AS s FROM oss.days WHERE d >= toDate('$d') " +
        s"AND d < toDate('${d.plusDays(7)}') GROUP BY d ORDER BY d"
    val first = rows(g.sql(sql(days.head)))
    val before = compiles
    val rest = days.tail.map(d => rows(g.sql(sql(d))))
    val newCompiles = compiles - before
    (days.zip(first +: rest)).foreach { case (d, got) =>
      assert(got === rows(aqe.sql(sql(d))), sql(d))
      assert(got.map(_.split(",")(0)) === (0 until 7).map(i => d.plusDays(i).toString))
    }
    assert(newCompiles === 0)
  }

  test("two threads run one template with different literals at once, each " +
    "with its own answer") {
    def expected(v: Long): Seq[String] =
      (0L until 40L).filter(id => id % 10 != 9 && id * 100000000000L > v).map(_.toString)
    small("SELECT id FROM oss_typed WHERE i64 > 0L ORDER BY id").collect()
    val rounds = 12
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def run(thread: Int): Seq[(Long, Seq[String])] = (1 to rounds).map { r =>
      val v = (r * 3L + thread) * 99999999999L
      barrier.await()
      v -> rows(small(s"SELECT id FROM oss_typed WHERE i64 > ${v}L ORDER BY id"))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 2).map(t => pool.submit(() => run(t)))
      futures.flatMap(_.get()).foreach { case (v, got) => assert(got === expected(v), v) }
    } finally pool.shutdown()
  }

  test("EXPLAIN prints a hoisted filter's condition as the literal") {
    val sql = "SELECT k, v FROM oss.one WHERE v > 15 AND k <= 4"
    assert(hoisted(g.sql(sql)).contains(LongType))
    def conditions(s: GraftSession): Seq[String] =
      s.sql(s"EXPLAIN $sql").collect().map(_.getString(0)).toSeq
        .filter(l => l.startsWith("Condition") || l.contains("PushedFilters"))
        .map(_.replaceAll("#\\d+", "#"))
    val now = conditions(g)
    assert(now.exists(_.startsWith("Condition")), now)
    assert(now.exists(_.contains("15")), now)
    assert(now === conditions(aqe))
  }

  test("a one-job result comes back over the native wire in one job, in " +
    "order") {
    val sql = "SELECT number AS oss_n FROM numbers(1000)"
    val native = new ChWireServer(spark).start()
    try {
      val c = new WireTestClient(native.boundPort)
      c.hello()
      var got = Vector.empty[Any]
      assert(ListenerDrain.jobsDescribed(spark.sparkContext, sql) {
        got = c.query(sql).toVector.flatMap(_.columns.head.values)
      } === 1)
      assert(got.map(_.toString.toLong) === (0L until 1000L))
      c.close()
    } finally native.stop()
  }
}
