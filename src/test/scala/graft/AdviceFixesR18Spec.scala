package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession
import graft.server.{ChProto, ChWireServer}

/** Pins the five ADVICE r18 fixes: Nested-rewrite scoping, registry
  * reseeding after a persistent-metastore restart, Nullable(Enum) wire
  * nulls, desync-path INSERT durability, generateRandom nested arrays.
  */
class AdviceFixesR18Spec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("a table alias matching some table's Nested family name is NOT " +
    "rewritten into the literal member column") {
    g.sql("CREATE DATABASE IF NOT EXISTS adv18")
    g.sql("DROP TABLE IF EXISTS adv18.a18_nst")
    g.sql("DROP TABLE IF EXISTS adv18.a18_plain")
    g.sql("CREATE TABLE adv18.a18_nst(id Int64, " +
      "tag Nested(name String, w Int64))")
    g.sql("CREATE TABLE adv18.a18_plain(name String)")
    g.sql("INSERT INTO adv18.a18_plain VALUES ('x')")
    // before the fix: family `tag` (declared by a18_nst, UNRELATED to
    // this statement) made `tag.name` backquote into a literal column
    // that a18_plain doesn't have -> analysis failure
    val r = g.sql(
      "SELECT tag.name AS nm FROM adv18.a18_plain AS tag").collect()
    assert(r.map(_.getString(0)).toSeq === Seq("x"))
    // bare alias and subquery alias shapes
    val r2 = g.sql(
      "SELECT tag.name AS nm FROM adv18.a18_plain tag").collect()
    assert(r2.map(_.getString(0)).toSeq === Seq("x"))
    val r3 = g.sql(
      "SELECT tag.name AS nm FROM (SELECT 'y' AS name) tag").collect()
    assert(r3.map(_.getString(0)).toSeq === Seq("y"))
    // the real nested ref still rewrites when its table IS the source
    g.sql("INSERT INTO adv18.a18_nst VALUES (1, ['a','b'], [10,20])")
    val r4 = g.sql("SELECT tag.name AS nm FROM adv18.a18_nst").collect()
    assert(r4(0).getSeq[String](0) === Seq("a", "b"))
    g.sql("DROP TABLE adv18.a18_nst"); g.sql("DROP TABLE adv18.a18_plain")
  }

  test("Nested registry reseeds from the graft.nested prop when a " +
    "persistent catalog skips restore replay") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    g.sql("CREATE DATABASE IF NOT EXISTS adv18")
    g.sql("DROP TABLE IF EXISTS adv18.a18_seed")
    g.sql("CREATE TABLE adv18.a18_seed(id Int64, n Nested(a String))")
    g.sql("INSERT INTO adv18.a18_seed VALUES (1, ['p','q'])")
    // simulate a JVM restart over a persistent metastore: the restarted
    // catalog still KNOWS the table (so restore replay is skipped —
    // CREATE never runs), but its engine state starts empty
    val s2 = GraftRestart.restart(g.spark)
    val (old, ext) = (g.spark.sharedState.externalCatalog,
      s2.sharedState.externalCatalog)
    ext.createDatabase(old.getDatabase("adv18"), ignoreIfExists = true)
    ext.createTable(old.getTable("adv18", "a18_seed"), ignoreIfExists = false)
    val g2 = new GraftSession(s2)
    val r = g2.sql(
      "SELECT n.a AS a FROM adv18.a18_seed WHERE id = 1").collect()
    assert(r(0).getSeq[String](0) === Seq("p", "q"))
    g2.sql("DROP TABLE adv18.a18_seed")
  }

  test("Nullable(Enum) wire nulls decode even when the base default 0 " +
    "is not a declared entry (real CH fills null slots with 0 bytes)") {
    val bos = new java.io.ByteArrayOutputStream()
    ChProto.writeStr(bos, "") // temp table name
    ChProto.writeVarint(bos, 0L) // block-info terminator
    ChProto.writeVarint(bos, 1L) // nCols
    ChProto.writeVarint(bos, 2L) // nRows
    ChProto.writeStr(bos, "e")
    ChProto.writeStr(bos, "Nullable(Enum8('a' = 1, 'b' = 2))")
    bos.write(0); bos.write(1) // null map: row0 present, row1 NULL
    bos.write(1); bos.write(0) // codes: 'a', then the base default 0
    val block = ChProto.readDataBlock(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(block.columns(0).values === Vector("a", null))
  }

  test("blocks fully received before a mid-stream desync still land " +
    "(buffering must not weaken apply-on-arrival durability)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    val witness = new WireTestClient(server.boundPort)
    try {
      client.hello(); witness.hello()
      client.query("DROP TABLE IF EXISTS a18_desync_tab")
      client.query("CREATE TABLE a18_desync_tab(a Int32)")
      val schema = StructType(Seq(StructField("a", IntegerType)))
      assert(client.insertStreamGarbage(
        "INSERT INTO a18_desync_tab FORMAT Native", schema,
        Seq(Seq(Row(1), Row(2)))),
        "expected a clean EOF on the misframed stream")
      // the well-formed block sent BEFORE the garbage flushed on sever
      assert(witness.scalar(
        "SELECT count(*) AS n FROM a18_desync_tab") === 2L)
      witness.query("DROP TABLE a18_desync_tab")
    } finally {
      client.close(); witness.close()
      server.stop()
    }
  }

  test("generateRandom Array(Array(T)) varies inner arrays per outer " +
    "element and stays seed-deterministic") {
    val q = "SELECT a FROM generateRandom('a Array(Array(UInt8))', 7) " +
      "LIMIT 50"
    val r = g.sql(q).collect().map(_.getSeq[scala.collection.Seq[Any]](0))
    // the shadowed-lambda bug made every inner array of a row identical
    // (only lengths varied); some row must hold two DISTINCT non-empty
    // inner arrays of the same length
    val varied = r.exists { outer =>
      val byLen = outer.filter(_.nonEmpty).groupBy(_.length)
      byLen.values.exists(g => g.distinct.size >= 2)
    }
    assert(varied, s"inner arrays never vary: ${r.take(5).mkString("; ")}")
    val r2 = g.sql(q).collect().map(_.getSeq[scala.collection.Seq[Any]](0))
    assert(r.toSeq === r2.toSeq, "same seed must reproduce exactly")
  }
}
