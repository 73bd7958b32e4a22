package graft

import org.scalatest.funsuite.AnyFunSuite

/** l35 index lifecycle (VERDICT r11 task #7): the IVF-PQ index is a
  * materialized view of the live embedding table — INSERT triggers the
  * d11 subscription, which runs the map-only encoder over the block and
  * appends to the index. Pins: (1) serving AFTER ingest returns the new
  * vectors; (2) the encode is frozen-quantizer (a delta copy gets the
  * identical cell + codes as its source vector — add(), never retrain);
  * (3) the index covers exactly the live table; (4) the serving plan
  * stays training-subtree-free (no Window, no Cartesian).
  */
class IndexIngestSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private lazy val served = {
    queries.LlmQueries.queries("l35_ann_index_ingest")(spark, sf)
      .collect().toSeq.map(_.getLong(0))
  }

  test("serving after ingest returns ingested vectors (vec_id >= 100000 " +
    "in the top-5)") {
    assert(served.nonEmpty)
    assert(served.exists(_ >= 100000L),
      s"no ingested vector in the served result: $served")
  }

  test("delta rows carry the IDENTICAL cell and PQ codes as their source " +
    "vectors — the frozen-quantizer add() contract") {
    served // runs the entry, leaving the tables in the session
    val idx = spark.table("graft_emb_index")
      .collect().map { r =>
        def n(i: Int) = r.get(i).asInstanceOf[Number].longValue
        n(0) -> (n(1), n(2), n(3), n(4), n(5))
      }.toMap
    val deltas = idx.keys.filter(_ >= 100000L).toSeq
    assert(deltas.nonEmpty, "no delta rows reached the index")
    deltas.foreach { d =>
      assert(idx(d) === idx(d - 100000L),
        s"delta $d encoded differently from its source ${d - 100000L}")
    }
  }

  test("the index covers exactly the live table") {
    served
    val live = spark.table("graft_emb_live").count()
    val idx = spark.table("graft_emb_index").count()
    val orig = spark.table("embeddings").count()
    assert(idx === live)
    assert(live > orig, "the delta insert must have landed")
  }

  test("the serving plan is training-subtree-free: no Window, no " +
    "CartesianProduct") {
    served
    val plan = spark.sql(queries.LlmQueries.ivfPqServedSparkSql(
      index = "graft_emb_index", corpus = "graft_emb_live"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Window ("), s"training/window subtree leaked:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  // ---- freshness under TRUNCATE (VERDICT r12 task #6) -----------------
  // The reference's part store drops data on TRUNCATE (mgmt.rs:856-905);
  // an MV-maintained index must never serve vectors whose live rows are
  // gone. The protection is structural: serving exact-reranks through an
  // INNER join to the live table, so index rows orphaned by a source
  // TRUNCATE can never reach the result — no tombstone bookkeeping
  // needed, at any scale.

  test("TRUNCATE of the live table: orphaned index rows serve ZERO " +
    "stale vectors") {
    served // builds live + index + quantizer views in the session
    val g = new exec.GraftSession(spark)
    g.sql("TRUNCATE TABLE graft_emb_live")
    assert(spark.table("graft_emb_live").count() === 0L)
    // CH MV semantics: source TRUNCATE does not cascade to the view —
    // the index still holds the orphaned codes...
    assert(spark.table("graft_emb_index").count() > 0L)
    // ...but serving returns nothing: every candidate dies at the
    // live-table rerank join.
    val stale = spark.sql(queries.LlmQueries.ivfPqServedSparkSql(
      index = "graft_emb_index", corpus = "graft_emb_live")).collect()
    assert(stale.isEmpty,
      s"stale vectors served from a truncated corpus: ${stale.mkString(",")}")
  }

  test("TRUNCATE of the index MV keeps the subscription: re-ingest " +
    "repopulates and serves exactly the fresh subset") {
    val g = new exec.GraftSession(spark)
    g.sql("TRUNCATE TABLE graft_emb_index")
    assert(spark.table("graft_emb_index").count() === 0L)
    // the d11 subscription must survive the MV's schema-only truncate
    g.sql("INSERT INTO graft_emb_live SELECT vec_id, embedding " +
      "FROM embeddings WHERE vec_id % 2 = 0")
    val live = spark.table("graft_emb_live").count()
    val idx = spark.table("graft_emb_index").count()
    assert(live > 0L && idx === live,
      s"subscription lost after TRUNCATE: live=$live idx=$idx")
    val res = spark.sql(queries.LlmQueries.ivfPqServedSparkSql(
      index = "graft_emb_index", corpus = "graft_emb_live"))
      .collect().map(_.getLong(0))
    assert(res.nonEmpty)
    assert(res.forall(_ % 2 == 0),
      s"served a vector outside the re-ingested subset: ${res.mkString(",")}")
  }

  // ---- restart-restore (VERDICT r13 #1) --------------------------------
  // The persisted index MV must come back after a process restart: its
  // SELECT uses vec_dot (registered at GraftSession boot since r14) and
  // reads ONLY warehouse tables (the quantizer stores are CTAS'd tables,
  // not temp views, since r14) — and the restored MV's d11 subscription
  // must keep maintaining the index on post-restart ingest.

  test("the index MV restores after a restart and its subscription keeps " +
    "firing") {
    // builds live + index + quantizer tables in a catalog of its own
    val s = org.apache.spark.sql.GraftRestart.isolated(spark)
    queries.LlmQueries.queries("l35_ann_index_ingest")(s, sf).collect()
    val before = s.table("graft_emb_index").count()
    assert(before > 0L)
    // A fresh JVM: a new catalog knows no l35 object and its
    // temp-function registry holds no vec_dot.
    val spark2 = org.apache.spark.sql.GraftRestart.restart(s)
    assert(!spark2.catalog.tableExists("graft_emb_index"))
    Tables.registerAll(spark2, sf)

    val g2 = new exec.GraftSession(spark2)
    assert(!g2.restoreErrors.exists(_._2.startsWith("graft_emb")) &&
           !g2.restoreErrors.exists(_._2.startsWith("graft_ivf")) &&
           !g2.restoreErrors.exists(_._2.startsWith("graft_pq")),
      s"l35 objects failed to restore: ${g2.restoreErrors}")
    assert(spark2.catalog.tableExists("graft_emb_index"), "index MV lost")
    assert(spark2.table("graft_emb_index").count() === before,
      "index contents did not survive the restart")
    // the subscription is live again: post-restart ingest maintains the
    // index (the exact freshness contract the in-session tests pin)
    g2.sql("INSERT INTO graft_emb_live SELECT vec_id + 500000, embedding " +
      "FROM embeddings WHERE vec_id = 42")
    assert(spark2.table("graft_emb_index")
        .where("vec_id = 500042").count() === 1L,
      "post-restart ingest did not reach the restored index MV")
  }
}
