package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.exec.GraftSession
import graft.functions.GraftUdafs

/** Non-parquet source coverage (SURVEY.md §2.2: the reference bundles CSV /
  * JSON / Avro readers in its DataFusion fork — file_format/{csv,json,avro}.rs —
  * though its own server only ever reads its part store) plus the UDF/UDAF
  * surface (§2.8). Avro has no spark-avro connector in /opt/spark/jars, so
  * c03 runs on the from-scratch container codec + DSV2 reader in
  * `graft.sources.{AvroFiles,AvroSource}`.
  *
  * The CSV/JSON entries round-trip engine data through the format on local
  * disk and aggregate the read-back — the oracle reads the same files with
  * DuckDB's readers, so the scan itself is what's being verified. DuckDB
  * has no offline avro reader, so c03's oracle aggregates the ORIGINAL
  * parquet table instead: the avro write+read must reproduce every value
  * bit-for-bit for the hashes to match, which checks the codec end-to-end.
  */
object SourceQueries {
  private val exportRoot = "/root/repo/target/export"

  /** Per-SF export subtree: two sequential Verify runs at different SFs
    * must not overwrite each other's fixtures before DuckDB reads them
    * (the oracle SQL carries the matching basename via the `__SFBASE__`
    * token Verify substitutes at dump time).
    */
  def exportDir(dir: String): String =
    s"$exportRoot/${new java.io.File(dir).getName}"

  // Export fixtures once per dir (the files do not depend on the session):
  // the round-2 bench timed these file WRITES inside the query closure, so
  // c01/c02's numbers measured export + warm-up, not the scan under test
  // (VERDICT r2 defect #3).
  // A key SET, not a Boolean map: the earlier
  // `ConcurrentHashMap[String, Boolean].putIfAbsent(...) == null` guard
  // unboxed the null to false, so the comparison was always false and the
  // export block was dead code — c01/c02 only kept passing because stale
  // round-2 files lingered in target/export (a clean checkout would fail).
  private val exported = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Write the CSV/JSON round-trip fixtures if this dir's haven't been
    * yet. Bench calls this before its timing loop; the query entries call
    * it too so Verify stays self-contained.
    */
  def ensureExports(s: SparkSession, dir: String): Unit = {
    if (exported.add(dir)) {
      val root = exportDir(dir)
      Tables(s, dir, "nation").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$root/nation_csv")
      Tables(s, dir, "supplier").coalesce(1).write.mode("overwrite")
        .json(s"$root/supplier_json")
      // avro fixture: customer exercises long/string/int/double through
      // the container codec (deflate) — read back by c03's DSV2 scan
      graft.sources.AvroFiles.write(
        Tables(s, dir, "customer"), s"$root/customer_avro")
      Tables(s, dir, "part").coalesce(1).write.mode("overwrite")
        .orc(s"$root/part_orc")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CSV scan (file_format/csv.rs) — schema-explicit read, header on.
    "c01_csv_scan" -> { (s, dir) =>
      val out = s"${exportDir(dir)}/nation_csv"
      ensureExports(s, dir)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          max(col("n_name")).as("max_name"))
        .orderBy(col("n_regionkey"))
    },

    // JSON scan (file_format/json.rs) — line-delimited JSON round-trip.
    "c02_json_scan" -> { (s, dir) =>
      val out = s"${exportDir(dir)}/supplier_json"
      ensureExports(s, dir)
      s.read
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .json(out)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal").cast("decimal(12,2)")), 2).cast("double").as("total_bal"))
        .orderBy(col("s_nationkey"))
    },

    // Avro scan (file_format/avro.rs) — container-codec round-trip through
    // the from-scratch DSV2 reader; sum over a double goes through the
    // same explicit decimal rescale as c02 so both engines agree exactly.
    "c03_avro_scan" -> { (s, dir) =>
      ensureExports(s, dir)
      s.read.format("graftavro").load(s"${exportDir(dir)}/customer_avro")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          max(col("c_name")).as("max_name"),
          round(sum(col("c_acctbal").cast("decimal(12,2)")), 2).cast("double").as("total_bal"))
        .orderBy(col("c_nationkey"))
    },

    // ORC scan — beyond the reference (its DataFusion fork bundles no ORC
    // reader); Spark ships one natively so the engine inherits it, with
    // the same pushdown/pruning as parquet. DuckDB cannot read ORC
    // offline either, so like c03 the oracle aggregates the ORIGINAL
    // parquet table: the ORC write+read must be value-exact to hash-match.
    "c04_orc_scan" -> { (s, dir) =>
      ensureExports(s, dir)
      s.read.orc(s"${exportDir(dir)}/part_orc")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          max(col("p_size")).as("max_size"),
          round(sum(col("p_retailprice").cast("decimal(12,2)")), 2).cast("double").as("total_price"))
        .orderBy(col("p_brand"))
    },

    // CH table function file('rel/path', 'Format'[, 'structure']) under
    // the confined data root (VERDICT r16 task #5): the root is pointed
    // at the per-SF export dir, the structure arg exercises the CH-DDL
    // schema path, and DuckDB reads the same files — the scan is what's
    // verified.
    "c05_file_fn" -> { (s, dir) =>
      ensureExports(s, dir)
      s.conf.set("spark.graft.fileRoot", exportDir(dir))
      val g = new GraftSession(s)
      g.sql("SELECT n_regionkey, count(*) AS n, max(n_name) AS max_name " +
        "FROM file('nation_csv', 'CSVWithNames', " +
        "'n_nationkey Int32, n_name String, n_regionkey Int32') " +
        "GROUP BY n_regionkey ORDER BY n_regionkey")
    },

    // CH table function merge('db', '^pattern') (VERDICT r16 task #5):
    // UNION ALL over the catalog tables matching the regexp at QUERY
    // time, with the virtual _table column labeling each row's source.
    // Three slices of orders land in three tables; the pattern matches
    // two of them, and the DuckDB oracle restates the union explicitly.
    "c06_merge_fn" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val g = new GraftSession(s)
      g.sql("DROP TABLE IF EXISTS c06p_a; DROP TABLE IF EXISTS c06p_b; " +
        "DROP TABLE IF EXISTS c06q_c")
      g.sql("CREATE TABLE c06p_a(k Int64, p Decimal(12,2))")
      g.sql("CREATE TABLE c06p_b(k Int64, p Decimal(12,2))")
      g.sql("CREATE TABLE c06q_c(k Int64, p Decimal(12,2))")
      g.sql("INSERT INTO c06p_a SELECT o_orderkey, " +
        "CAST(o_totalprice AS DECIMAL(12,2)) FROM orders WHERE o_orderkey % 3 = 0")
      g.sql("INSERT INTO c06p_b SELECT o_orderkey, " +
        "CAST(o_totalprice AS DECIMAL(12,2)) FROM orders WHERE o_orderkey % 3 = 1")
      g.sql("INSERT INTO c06q_c SELECT o_orderkey, " +
        "CAST(o_totalprice AS DECIMAL(12,2)) FROM orders WHERE o_orderkey % 3 = 2")
      g.sql("SELECT _table, count(*) AS n, " +
        "CAST(round(sum(p), 2) AS DOUBLE) AS sp " +
        "FROM merge('default', '^c06p_') GROUP BY _table ORDER BY _table")
    },

    // generateRandom('structure'[, seed]) (c07, VERDICT r17 task #6):
    // seed-deterministic synthetic rows. Value streams differ across
    // engines (DuckDB cannot reproduce the generator), so the f05
    // bounded-check discipline gates what IS cross-engine-stable: row
    // count, type bounds (floats in [0,1), string lengths within
    // max_string_length, dates in the CH Date range, arrays within
    // max_array_length), hash spread, and same-seed determinism across
    // two independent splices.
    "c07_generate_random" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val g = new GraftSession(s)
      g.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(DISTINCT a) >= 495 AS INT) AS a_spread,
          |  CAST(min(CAST(f >= 0.0 AND f < 1.0 AS INT)) AS INT) AS f_unit,
          |  CAST(min(CAST(length(s) BETWEEN 1 AND 16 AS INT)) AS INT) AS s_len,
          |  CAST(min(CAST(d BETWEEN DATE '1970-01-01'
          |    AND DATE '2149-06-06' AS INT)) AS INT) AS d_range,
          |  CAST(min(CAST(size(arr) BETWEEN 0 AND 4 AS INT)) AS INT) AS arr_len,
          |  CAST(min(CAST((SELECT sum(CAST(xxhash64(a2) AS DECIMAL(38,0))) FROM (SELECT a AS a2 FROM
          |    generateRandom('a Int64, f Float64, s String, d Date, arr Array(Int32)', 42, 16, 4)
          |    LIMIT 500) x) =
          |    (SELECT sum(CAST(xxhash64(a3) AS DECIMAL(38,0))) FROM (SELECT a AS a3 FROM
          |    generateRandom('a Int64, f Float64, s String, d Date, arr Array(Int32)', 42, 16, 4)
          |    LIMIT 500) y) AS INT)) AS INT) AS deterministic
          |FROM (SELECT * FROM
          |  generateRandom('a Int64, f Float64, s String, d Date, arr Array(Int32)', 42, 16, 4)
          |  LIMIT 500)""".stripMargin)
    },

    // Scalar UDF + typed Aggregator UDAF (§2.8) in one aggregation.
    "u01_udf_udaf" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      GraftUdafs.register(s)
      s.sql(
        """SELECT graft_decade(o_totalprice / 10000.0) AS bucket,
          |  count(*) AS n,
          |  CAST(graft_sumsq(CAST(o_orderkey % 100 AS DOUBLE)) AS BIGINT) AS sumsq
          |FROM orders
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    }
  )

  val oracles: Map[String, String] = Map(
    "c01_csv_scan" ->
      s"""SELECT n_regionkey, count(*) AS n, max(n_name) AS max_name
         |FROM read_csv('$exportRoot/__SFBASE__/nation_csv/*.csv', header=true)
         |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "c02_json_scan" ->
      s"""SELECT s_nationkey, count(*) AS n,
         |  CAST(ROUND(sum(CAST(s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_bal
         |FROM read_json('$exportRoot/__SFBASE__/supplier_json/*.json',
         |  columns = {s_suppkey: 'BIGINT', s_name: 'VARCHAR',
         |             s_nationkey: 'INT', s_acctbal: 'DOUBLE'})
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // No offline avro reader in DuckDB: the oracle aggregates the original
    // parquet `customer` table the avro fixture was written from, so a
    // hash match proves the write+read round-trip preserved every value.
    "c03_avro_scan" ->
      """SELECT c_nationkey, count(*) AS n, max(c_name) AS max_name,
        |  CAST(ROUND(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_bal
        |FROM customer
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "c04_orc_scan" ->
      """SELECT p_brand, count(*) AS n, max(p_size) AS max_size,
        |  CAST(ROUND(sum(CAST(p_retailprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price
        |FROM part
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "c05_file_fn" ->
      s"""SELECT n_regionkey, count(*) AS n, max(n_name) AS max_name
         |FROM read_csv('$exportRoot/__SFBASE__/nation_csv/*.csv', header=true)
         |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "c06_merge_fn" ->
      """SELECT t AS _table, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sp
        |FROM (
        |  SELECT 'c06p_a' AS t, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'c06p_b' AS t, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
        |) u GROUP BY 1 ORDER BY 1""".stripMargin,

    // c07: every gated property evaluates to the same constant row on
    // both engines (the generator's value stream is engine-local, the
    // bounds/determinism contract is not)
    "c07_generate_random" ->
      """SELECT CAST(500 AS BIGINT) AS n, 1 AS a_spread, 1 AS f_unit,
        |  1 AS s_len, 1 AS d_range, 1 AS arr_len, 1 AS deterministic""".stripMargin,

    "u01_udf_udaf" ->
      """SELECT CAST(floor((o_totalprice / 10000.0) / 10.0) AS INT) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_orderkey % 100 AS DOUBLE) * CAST(o_orderkey % 100 AS DOUBLE)) AS BIGINT) AS sumsq
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
