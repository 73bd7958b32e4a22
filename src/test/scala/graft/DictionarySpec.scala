package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{GraftRestart, GraftSqlBridge}

import graft.exec.GraftSession

/** ClickHouse external dictionaries: CREATE DICTIONARY over a dimension
  * table, served through dictGet / dictGetOrDefault / dictHas as a
  * BROADCAST hash behind a per-dictionary lookup function — CH's
  * in-memory-hash-on-every-node execution model, so a dictGet never
  * shuffles. Snapshot at CREATE; refreshed only by SYSTEM RELOAD
  * DICTIONARY (LIFETIME accepted and ignored, documented).
  */
class DictionarySpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  private def mkDim(on: GraftSession = g): Unit = {
    on.sql("DROP DICTIONARY IF EXISTS dx")
    on.sql("DROP TABLE IF EXISTS dx_dim")
    on.sql("CREATE TABLE dx_dim(k Int64, nm String, w Int64)")
    on.sql("INSERT INTO dx_dim VALUES (1, 'one', 10), (2, 'two', 20), " +
      "(3, 'three', 30)")
    on.sql("CREATE DICTIONARY dx(k Int64, nm String DEFAULT 'none', w Int64) " +
      "PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'dx_dim')) LAYOUT(HASHED()) " +
      "LIFETIME(MIN 0 MAX 300)")
  }

  test("dictGet resolves attributes by key inside arbitrary expressions; " +
    "a missing key takes the declared DEFAULT (or the CH type zero)") {
    mkDim()
    val r = g.sql("SELECT dictGet('dx', 'nm', number + 1) AS nm, " +
      "dictGet('dx', 'w', number + 1) AS w FROM numbers(4) " +
      "ORDER BY number").collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq
    // keys 1..4: 4 is missing → DEFAULT 'none' for nm, type-zero 0 for w
    assert(r === Seq(("one", 10L), ("two", 20L), ("three", 30L), ("none", 0L)))
  }

  test("dictHas and dictGetOrDefault; nested dictGet keys compose") {
    mkDim()
    val r = g.sql("SELECT CAST(sum(CASE WHEN dictHas('dx', number) " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS hits, " +
      "dictGetOrDefault('dx', 'nm', 99, 'fallback') AS fb FROM numbers(10) " +
      "GROUP BY 2").collect()(0)
    assert(r.getLong(0) === 3L && r.getString(1) === "fallback")
    // a dictGet key computed from another dictGet (w of key 1 is 10;
    // dict has no key 10 → 'none')
    val nested = g.sql("SELECT dictGet('dx', 'nm', " +
      "dictGet('dx', 'w', 1) div 10) AS nm").collect()(0).getString(0)
    assert(nested === "one")
  }

  test("the dictionary is a SNAPSHOT: source changes appear only after " +
    "SYSTEM RELOAD DICTIONARY") {
    mkDim()
    g.sql("INSERT INTO dx_dim VALUES (4, 'four', 40)")
    assert(g.sql("SELECT dictGet('dx', 'nm', 4) AS nm").collect()(0)
      .getString(0) === "none") // stale until reload (CH LIFETIME model)
    g.sql("SYSTEM RELOAD DICTIONARY dx")
    assert(g.sql("SELECT dictGet('dx', 'nm', 4) AS nm").collect()(0)
      .getString(0) === "four")
  }

  test("lifecycle: duplicate create errors, IF NOT EXISTS tolerated, " +
    "unknown attribute errors, DROP removes, restart replays") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    mkDim(g)
    intercept[Exception] {
      g.sql("CREATE DICTIONARY dx(k Int64, nm String) PRIMARY KEY k " +
        "SOURCE(CLICKHOUSE(TABLE 'dx_dim'))")
    }
    g.sql("CREATE DICTIONARY IF NOT EXISTS dx(k Int64, nm String) " +
      "PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'dx_dim'))") // no-op
    intercept[Exception] {
      g.sql("SELECT dictGet('dx', 'nope', 1) AS x").collect()
    }
    // restart: a fresh catalog reloads the dictionary from its replayed
    // script (source table restores first)
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(g2.sql("SELECT dictGet('dx', 'nm', 2) AS nm").collect()(0)
      .getString(0) === "two")
    g2.sql("DROP DICTIONARY dx")
    intercept[Exception] { g2.sql("DROP DICTIONARY dx") }
    g2.sql("DROP DICTIONARY IF EXISTS dx")
    g2.sql("DROP TABLE dx_dim")
  }

  test("a dictionary named 'db.name' is that database's: two same-named " +
    "dictionaries in one statement, an unaliased call named as Spark " +
    "names the call, and a GROUP BY on a dictGet") {
    val g = new GraftSession(spark.newSession())
    for ((db, v) <- Seq("dxq1" -> "a", "dxq2" -> "b")) {
      g.sql(s"DROP DATABASE IF EXISTS $db")
      g.sql(s"CREATE DATABASE $db")
      g.sql(s"CREATE TABLE $db.src(k Int64, v String)")
      g.sql(s"INSERT INTO $db.src VALUES (1, '$v'), (2, '$v$v')")
      g.sql(s"CREATE DICTIONARY $db.dq(k Int64, v String) PRIMARY KEY k " +
        "SOURCE(CLICKHOUSE(TABLE 'src'))")
    }
    val df = g.sql("SELECT dictGet('dxq1.dq', 'v', 1) AS a, " +
      "dictGet('dxq2.dq', 'v', 1) AS b, dictGet('dxq2.dq', 'v', 2)")
    assert(df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq === Seq(("a", "b", "bb")))
    assert(df.columns.last === "dictGet(dxq2.dq, v, 2)")
    val grouped = g.sql("SELECT dictGet('dxq2.dq', 'v', k) AS v, count() AS n " +
      "FROM dxq1.src GROUP BY dictGet('dxq2.dq', 'v', k) ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(grouped === Seq(("b", 1L), ("bb", 1L)))
    g.sql("DROP DATABASE dxq1")
    g.sql("DROP DATABASE dxq2")
  }

  test("both arms read a dictionary's source in the dictionary's own " +
    "database, whatever the reader's current one, and bind the key to the " +
    "reader's columns") {
    val g = new GraftSession(spark.newSession())
    for ((db, v) <- Seq("dxo1" -> "one", "dxo2" -> "uno")) {
      g.sql(s"DROP DATABASE IF EXISTS $db")
      g.sql(s"CREATE DATABASE $db")
      g.sql(s"CREATE TABLE $db.src(k Int64, v String)")
      g.sql(s"INSERT INTO $db.src VALUES (1, '$v'), (2, 'two')")
    }
    g.sql("USE dxo1")
    g.sql("CREATE DICTIONARY dxo_b(k Int64, v String) PRIMARY KEY k " +
      "SOURCE(CLICKHOUSE(TABLE 'src'))")
    g.spark.conf.set("graft.dict.maxRows", "0")
    g.sql("CREATE DICTIONARY dxo_j(k Int64, v String) PRIMARY KEY k " +
      "SOURCE(CLICKHOUSE(TABLE 'src'))")
    g.spark.conf.unset("graft.dict.maxRows")
    g.sql("USE dxo2")
    // the reading query's key column is named like the source's key
    val r = g.sql("SELECT dictGet('dxo_b', 'v', k) AS b, " +
      "dictGet('dxo_j', 'v', k) AS j, dictHas('dxo_j', k) AS h " +
      "FROM (SELECT explode(array(1, 5)) AS k) ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(r === Seq(("one", "one", true), ("", "", false)))
    g.sql("USE default")
    g.sql("DROP DATABASE dxo1")
    g.sql("DROP DATABASE dxo2")
  }

  test("SHOW DICTIONARIES and system.dictionaries list the registry") {
    mkDim()
    val shown = g.sql("SHOW DICTIONARIES").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(shown.contains(("dx", "dx_dim", "k")))
    val sys = g.sql("SELECT name FROM system.dictionaries WHERE name = 'dx'")
      .collect()
    assert(sys.length === 1)
    g.sql("DROP DICTIONARY dx")
    g.sql("DROP TABLE dx_dim")
  }

  test("dictGet enriches a STRUCTURED STREAM exactly like batch: the " +
    "broadcast-hash lookup is stateless map-side work, so the streaming " +
    "plan needs no extra state or shuffle") {
    mkDim()
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft-dict-stream")
    spark.range(0, 100).selectExpr("id AS k", "(id % 5) AS dk")
      .write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    // the lookup `dictGet('dx', 'nm', dk)` resolves to
    val nm = GraftSqlBridge.column(g.dictLookup("dictGet",
      Seq(lit("dx"), lit("nm"), col("dk")).map(GraftSqlBridge.catalystExpression(spark, _)))
      .get).as("nm")
    val enriched = spark.readStream.schema(schema).parquet(dir.toString)
      .select(col("k"), nm)
    val q = enriched.writeStream.format("memory").queryName("dict_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streaming = spark.table("dict_stream")
      .groupBy("nm").count().orderBy("nm").collect()
      .map(r => (Option(r.getString(0)).getOrElse("∅"), r.getLong(1))).toSeq
    val batch = spark.read.parquet(dir.toString).select(nm)
      .groupBy("nm").count().orderBy("nm").collect()
      .map(r => (Option(r.getString(0)).getOrElse("∅"), r.getLong(1))).toSeq
    assert(streaming === batch)
    // dk ∈ {0..4}; dict has keys 1..3 → 60 hits across three names,
    // 40 misses reading the declared DEFAULT
    assert(streaming === Seq(("none", 40L), ("one", 20L), ("three", 20L), ("two", 20L)))
    g.sql("DROP DICTIONARY dx")
    g.sql("DROP TABLE dx_dim")
  }

  test("a fact-sized source degrades to the JOIN arm (CH direct-layout " +
    "semantics) instead of erroring: dictGet/dictHas answer through a " +
    "correlated equi-join, missing keys still take the default") {
    g.sql("DROP DICTIONARY IF EXISTS dbig")
    g.sql("DROP TABLE IF EXISTS dbig_src")
    g.sql("CREATE TABLE dbig_src AS SELECT number AS k, " +
      "CAST(number AS STRING) AS v, " +
      "IF(number = 7, CAST(NULL AS BIGINT), number * 10) AS w " +
      "FROM numbers(1000)")
    spark.conf.set("graft.dict.maxRows", "100")
    try {
      g.sql("CREATE DICTIONARY dbig(k Int64, v String, w Nullable(Int64)) " +
        "PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'dbig_src'))")
      val df = g.sql("SELECT x, dictGet('dbig', 'v', x) AS v, " +
        "dictGet('dbig', 'w', x) AS w, dictHas('dbig', x) AS h " +
        "FROM (SELECT explode(array(3, 7, 5000)) AS x) ORDER BY x")
      // the join arm IS a join: the plan must contain one against the
      // source (the broadcast-UDF arm has none)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("join"),
        "oversized dictionary must serve via the join arm")
      val rows = df.collect()
      assert(rows(0).getString(1) === "3" && rows(0).getLong(2) === 30L &&
        rows(0).getBoolean(3))
      // present key, stored NULL attribute -> NULL (not the default)
      assert(rows(1).getString(1) === "7" && rows(1).isNullAt(2) &&
        rows(1).getBoolean(3))
      // missing key -> type-zero / declared default
      assert(rows(2).getString(1) === "" && rows(2).getLong(2) === 0L &&
        !rows(2).getBoolean(3))
      g.sql("DROP DICTIONARY dbig")
    } finally spark.conf.unset("graft.dict.maxRows")
    g.sql("DROP TABLE dbig_src")
  }
}
