package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ClickHouseFunctions, UuidBytes}

/** Golden-vector tests for the ClickHouse function pack, ported from the
  * reference's crates/datafusion_tests/tests/clickhouse.rs:15-166 and
  * crates/tests_integ/tests/sanity_checks.rs:981-1262 (FIXTURES.md §4).
  */
class ChFunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val ready = { ClickHouseFunctions.register(spark); true }

  private def sql1(q: String): Any = { ready; spark.sql(q).head().get(0) }

  test("toDate golden vectors (clickhouse.rs:15-80)") {
    assert(sql1("SELECT toDate('1987-01-01')") === Date.valueOf("1987-01-01"))
    assert(sql1("SELECT toDate('2021-01-01')") === Date.valueOf("2021-01-01"))
    // int input = days since epoch; negative clamps to epoch
    assert(sql1("SELECT toDate(6209)") === Date.valueOf("1987-01-01"))
    assert(sql1("SELECT toDate(18628)") === Date.valueOf("2021-01-01"))
    assert(sql1("SELECT toDate(-1)") === Date.valueOf("1970-01-01"))
    assert(sql1("SELECT toDate(0)") === Date.valueOf("1970-01-01"))
    // timestamp input truncates
    assert(sql1("SELECT toDate(TIMESTAMP '2021-01-01 15:59:05')") ===
      Date.valueOf("2021-01-01"))
    // null propagation
    assert(sql1("SELECT toDate(CAST(NULL AS STRING))") === null)
  }

  test("toDateTime golden vectors (clickhouse.rs:150-166)") {
    assert(sql1("SELECT CAST(toDateTime('2021-01-01') AS LONG)") === 1609459200L)
    assert(sql1("SELECT CAST(toDateTime('1987-01-01') AS LONG)") === 536457600L)
    // int input = epoch seconds; negative clamps to 0
    assert(sql1("SELECT CAST(toDateTime(536474361) AS LONG)") === 536474361L)
    assert(sql1("SELECT CAST(toDateTime(-1) AS LONG)") === 0L)
    // date input
    assert(sql1("SELECT CAST(toDateTime(DATE '2021-01-01') AS LONG)") === 1609459200L)
    assert(sql1("SELECT toDateTime(CAST(NULL AS STRING))") === null)
  }

  test("date part extraction (sanity_checks.rs:981-1203)") {
    val ts = "TIMESTAMP '2021-03-15 12:34:56'"
    assert(sql1(s"SELECT toYear($ts)") === 2021)
    assert(sql1(s"SELECT toYYYY($ts)") === 2021)
    assert(sql1(s"SELECT toQuarter($ts)") === 1)
    assert(sql1(s"SELECT toMonth($ts)") === 3)
    assert(sql1(s"SELECT toDayOfYear($ts)") === 74)
    assert(sql1(s"SELECT toDayOfMonth($ts)") === 15)
    assert(sql1(s"SELECT toHour($ts)") === 12)
    assert(sql1(s"SELECT toMinute($ts)") === 34)
    assert(sql1(s"SELECT toSecond($ts)") === 56)
  }

  test("toDayOfWeek is Monday=1..Sunday=7 (CH convention)") {
    assert(sql1("SELECT toDayOfWeek(DATE '2021-03-15')") === 1) // Monday
    assert(sql1("SELECT toDayOfWeek(DATE '2021-03-17')") === 3) // Wednesday
    assert(sql1("SELECT toDayOfWeek(DATE '2021-03-21')") === 7) // Sunday
  }

  test("function names are case-insensitive like the reference planner") {
    assert(sql1("SELECT TOYEAR(DATE '2021-01-01')") === 2021)
    assert(sql1("SELECT todayofweek(DATE '2021-03-15')") === 1)
  }

  test("endsWith") {
    assert(sql1("SELECT endsWith('hello', 'lo')") === true)
    assert(sql1("SELECT endsWith('hello', 'he')") === false)
  }

  test("UUID parse/format round trip (clickhouse.rs:84-130)") {
    val u = "612f3c40-5d3b-217e-707b-6a546a3d7b29"
    // the reference asserts the raw bytes equal b"a/<@];!~p{jTj={)"
    val expected = "a/<@];!~p{jTj={)".getBytes("US-ASCII")
    val got = sql1(s"SELECT toUUID('$u')").asInstanceOf[Array[Byte]]
    assert(got.sameElements(expected))
    assert(sql1(s"SELECT UUIDNumToString(toUUID('$u'))") === u)
    assert(sql1(s"SELECT UUIDNumToString(UUIDStringToNum('$u'))") === u)
  }

  test("toUUIDOrNull / toUUIDOrZero error handling") {
    assert(sql1("SELECT toUUIDOrNull('err')") === null)
    val zero = sql1("SELECT toUUIDOrZero('err')").asInstanceOf[Array[Byte]]
    assert(zero.length === 16 && zero.forall(_ == 0))
    val ex = intercept[Exception] { sql1("SELECT toUUID('err')") }
    assert(ex.getMessage != null)
  }

  test("UUID expressions are codegen'd, not CodegenFallback (VERDICT r7 #3)") {
    ready
    import spark.implicits._
    // a column (not a literal — ConstantFolding would eval interpreted)
    // through parse + format; the generated code must call the static
    // helpers, not the fallback's interpreted `.eval(row)` bridge that
    // de-optimizes the surrounding whole-stage pipeline
    // repartition(1) keeps ConvertToLocalRelation from folding the whole
    // Project at optimize time; AQE off so the finalized physical plan
    // (and its WholeStageCodegen subtrees) exists before execution
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Seq("612f3c40-5d3b-217e-707b-6a546a3d7b29", "not-a-uuid")
        .toDF("s").repartition(1)
        .selectExpr("UUIDNumToString(toUUIDOrNull(s)) AS r")
      val code = org.apache.spark.sql.execution.debug
        .codegenString(df.queryExecution.executedPlan)
      assert(code.contains("UuidBytes.parseOrNull"),
        "UuidParse should generate a static helper call")
      assert(code.contains("UuidBytes.formatUtf8"),
        "UuidFormat should generate a static helper call")
      // set-compare: the repartition shuffle does not preserve row order
      assert(df.collect().map(_.getString(0)).toSet ===
        Set("612f3c40-5d3b-217e-707b-6a546a3d7b29", null))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("generateUUIDv4 produces a valid v4 UUID") {
    val s = sql1("SELECT UUIDNumToString(generateUUIDv4())").toString
    assert(s.matches("[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(UuidBytes.parse(s).isDefined)
  }

  test("array / string / arithmetic pack #2 semantics") {
    // splitByChar keeps empties (CH contract): 'AxA' -> ['', 'x', '']
    assert(sql1("SELECT size(splitByChar('A', 'AxA'))") === 3)
    assert(sql1("SELECT has(splitByChar('A', 'AxA'), '')") === true)
    assert(sql1("SELECT indexOf(splitByChar('A', 'AxA'), 'x')") === 2L)
    assert(sql1("SELECT indexOf(splitByChar('A', 'AxA'), 'z')") === 0L)
    assert(sql1("SELECT arrayStringConcat(splitByChar('A', 'AxA'), '|')") === "|x|")
    assert(sql1("SELECT empty('')") === true)
    assert(sql1("SELECT empty(array())") === true)
    assert(sql1("SELECT notEmpty('x')") === true)
    assert(sql1("SELECT toString(42)") === "42")
    assert(sql1("SELECT ifNull(CAST(NULL AS STRING), 'd')") === "d")
    // divide is Float64 like CH; intDiv truncates; modulo is integral
    assert(sql1("SELECT divide(1, 4)") === 0.25)
    assert(sql1("SELECT intDiv(7, 2)") === 3L)
    assert(sql1("SELECT modulo(7, 3)") === 1)
    assert(sql1("SELECT bitXor(5, 9)") === 12)
    assert(sql1("SELECT bitNot(0)") === -1)
    // arrayJoin is a real generator: 1 row in, n out
    assert(spark.sql("SELECT arrayJoin(array(1, 2, 3)) AS x")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
  }

  test("addDays/addWeeks/addMonths/addYears on a Date take a BIGINT " +
    "count, as numbers(N) yields") {
    val r = new graft.exec.GraftSession(spark).sql(
      "SELECT max(addDays(toDate('2020-01-01'), number % 700)) AS d, " +
        "max(addWeeks(toDate('2020-01-01'), number)) AS w, " +
        "max(addMonths(toDate('2021-01-31'), number % 2)) AS m, " +
        "max(addYears(toDate('2020-02-29'), number % 3)) AS y " +
        "FROM numbers(1000)").head()
    assert((0 to 3).map(r.getDate(_).toString) ===
      Seq("2021-11-30", "2039-02-23", "2021-02-28", "2022-02-28"))
  }

  test("datetime pack #2: CH polymorphism and arithmetic") {
    ready
    // addDays on a Date stays DATE; addHours on a Date widens to
    // DateTime — CH's own contract
    val t = spark.sql(
      "SELECT addDays(DATE'2024-01-30', 3) AS d, addHours(DATE'2024-01-30', 5) AS h")
    assert(t.schema("d").dataType.typeName === "date")
    assert(t.schema("h").dataType.typeName === "timestamp")
    val r = t.head()
    assert(r.getDate(0).toString === "2024-02-02")
    assert(r.getTimestamp(1).toString.startsWith("2024-01-30 05:00:00"))
    // month arithmetic clamps like CH (Mar 31 - 1 month = Feb 29 in 2024)
    assert(sql1("SELECT CAST(subtractMonths(DATE'2024-03-31', 1) AS STRING)")
      === "2024-02-29")
    assert(sql1("SELECT CAST(toMonday(DATE'2024-01-31') AS STRING)") === "2024-01-29")
    assert(sql1("SELECT dateDiff(day, TIMESTAMP'2024-01-01 00:00:00', " +
      "TIMESTAMP'2024-01-03 23:00:00')") === 2L)
    assert(sql1("SELECT toUnixTimestamp(TIMESTAMP'1970-01-01 00:01:01.9')") === 61L)
  }
}
