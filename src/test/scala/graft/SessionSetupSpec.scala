package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession

/** What a `GraftSession` handle installs on its SparkSession, and how
  * often: the function packs once per SparkSession, the optimizer rules
  * from one ordered list, and no temp view for `system.parts`, whose
  * relation lists only the tables a query pins.
  */
class SessionSetupSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("function packs register once per SparkSession: a second handle " +
    "leaves the registered builders untouched; newSession() gets the packs") {
    val s = spark.newSession()
    new GraftSession(s)
    val reg = s.sessionState.functionRegistry
    val id = FunctionIdentifier("toYYYYMM")
    val packBuilder = reg.lookupFunctionBuilder(id).get
    // a sentinel in the pack's place: re-registration would overwrite it
    val sentinel: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression = packBuilder(_)
    reg.createOrReplaceTempFunction("toYYYYMM", sentinel, "built-in")
    new GraftSession(s)
    assert(reg.lookupFunctionBuilder(id).get eq sentinel)
    val fresh = s.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(id))
    new GraftSession(fresh)
    assert(fresh.sessionState.functionRegistry.functionExists(id))
  }

  test("every entry point plans with the one ordered rule list") {
    def ruleClasses(s: org.apache.spark.sql.SparkSession) =
      s.experimental.extraOptimizations.map(_.getClass)
    val listed = graft.plans.GraftRules.ordered.map(_(spark).getClass)
    new GraftSession(spark)
    assert(ruleClasses(spark) === listed)
    val handle = spark.newSession()
    new GraftSession(handle)
    new GraftSession(handle)
    assert(ruleClasses(handle) === listed)
  }

  test("system.parts is one relation per session; pinned and unpinned " +
    "predicates read the same rows") {
    val s = spark.newSession()
    val g = new GraftSession(s)
    g.sql("CREATE DATABASE IF NOT EXISTS sps")
    Seq("a", "b").foreach { t =>
      g.sql(s"DROP TABLE IF EXISTS sps.$t")
      g.sql(s"CREATE TABLE sps.$t(k Int64, d Date) ENGINE = MergeTree " +
        "PARTITION BY toYYYYMM(d) ORDER BY k")
    }
    g.sql("INSERT INTO sps.a VALUES (1, '2021-01-05'), (2, '2021-02-06')")
    g.sql("INSERT INTO sps.b VALUES (3, '2021-01-05')")
    def rows(where: String): Seq[(String, String, Long)] =
      g.sql("SELECT `table`, partition, rows FROM system.parts WHERE " +
        s"$where ORDER BY `table`, partition").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val all = Seq(("a", "202101", 1L), ("a", "202102", 1L), ("b", "202101", 1L))
    assert(rows("database = 'sps'") === all)
    assert(rows("database = 'sps' AND `table` IN ('a', 'b', 'zz')") === all)
    assert(rows("database = 'sps' AND `table` = 'a' AND partition = '202102'") ===
      Seq(("a", "202102", 1L)))
    assert(rows("database IN ('sps') AND `table` LIKE 'b%'") === all.drop(2))
    assert(rows("database = 'sps' AND `table` = 'a' AND `table` = 'b'") === Nil)
    // each read splices a relation of its own into its plan: nothing is
    // registered on the session
    g.sql("SELECT count() FROM system.parts").collect()
    assert(!s.sessionState.catalog.listTables("sps").exists(t =>
        t.database.isEmpty && t.table.startsWith("__graft_system")),
      "system.parts registered a temp view")

    // DROP TABLE and DROP DATABASE take their footer memo entries along
    def memoized(t: String) =
      GraftSession.memoizedRoots.exists(_.endsWith(s"/sps.db/$t"))
    assert(memoized("a") && memoized("b"))
    g.sql("DROP TABLE sps.a")
    assert(!memoized("a") && memoized("b"))
    g.sql("DROP DATABASE sps")
    assert(!memoized("b"))
  }
}
