package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** AggregateFunction(f, T) + -State/-Merge (VERDICT r16 task #4): the CH
  * pre-aggregation pattern where a target table stores aggregate STATES,
  * a `CREATE MATERIALIZED VIEW … TO target` writes fState partials per
  * inserted block, FINAL/OPTIMIZE merge states per key, and fMerge reads
  * final values. These tests pin the type round-trip (DESC + replay), the
  * state algebra across insert waves, the FINAL state->state merge, and
  * restart replay of the whole arrangement (d29 is the oracle entry).
  */
class AggStateSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  private def mkTables(gs: GraftSession): Unit = {
    gs.sql("DROP TABLE IF EXISTS ags_mv; DROP TABLE IF EXISTS ags_t; " +
      "DROP TABLE IF EXISTS ags_raw")
    gs.sql("CREATE TABLE ags_raw(k Int64, v Float64, et String)")
    gs.sql("CREATE TABLE ags_t(k Int64 PRIMARY KEY, " +
      "s AggregateFunction(sum, Decimal(18,6)), " +
      "c AggregateFunction(count), " +
      "mn AggregateFunction(min, Float64), " +
      "a AggregateFunction(avg, Decimal(18,6)), " +
      "u AggregateFunction(uniqExact, String)) ENGINE=AggregatingMergeTree")
    gs.sql("CREATE MATERIALIZED VIEW ags_mv TO ags_t AS " +
      "SELECT k, sumState(CAST(v AS DECIMAL(18,6))) AS s, countState() AS c, " +
      "minState(v) AS mn, avgState(CAST(v AS DECIMAL(18,6))) AS a, " +
      "uniqExactState(et) AS u FROM ags_raw GROUP BY k")
  }

  private def mergeRows(gs: GraftSession): Seq[(Long, Double, Long, Double, Double, Long)] =
    gs.sql("SELECT k, CAST(round(sumMerge(s), 3) AS DOUBLE) AS sv, " +
      "countMerge(c) AS n, CAST(minMerge(mn) AS DOUBLE) AS mv, " +
      "CAST(round(CAST(avgMerge(a) AS DECIMAL(18,6)), 4) AS DOUBLE) AS av, " +
      "uniqExactMerge(u) AS ud FROM ags_t GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq

  private def directRows(gs: GraftSession): Seq[(Long, Double, Long, Double, Double, Long)] =
    gs.sql("SELECT k, CAST(round(sum(CAST(v AS DECIMAL(18,6))), 3) AS DOUBLE)" +
      " AS sv, count(*) AS n, CAST(min(v) AS DOUBLE) AS mv, " +
      "CAST(round(CAST(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) " +
      "/ count(*) AS DECIMAL(18,6)), 4) AS DOUBLE) AS av, " +
      "count(DISTINCT et) AS ud FROM ags_raw GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq

  test("declared AggregateFunction types round-trip DESC and the replay " +
    "script; unsupported functions are rejected") {
    mkTables(g)
    val desc = g.sql("DESC ags_t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("s") === "AggregateFunction(sum, Decimal(18, 6))" ||
      desc("s") === "AggregateFunction(sum, Decimal(18,6))", desc("s"))
    assert(desc("c").startsWith("AggregateFunction(count"), desc("c"))
    assert(desc("u") === "AggregateFunction(uniqExact, String)", desc("u"))
    val script = g.sql("SHOW CREATE TABLE ags_t").head().getString(0)
    assert(script.contains("AggregateFunction(sum, Decimal(18, 6))") ||
      script.contains("AggregateFunction(sum, Decimal(18,6))"), script)
    val e = intercept[Exception] {
      g.sql("CREATE TABLE ags_bad(x AggregateFunction(median, Int64))") }
    assert(e.getMessage.contains("unsupported function"), e.getMessage)
  }

  test("-State partials accumulate across insert waves, -Merge equals the " +
    "direct aggregate, and FINAL/OPTIMIZE merge state->state exactly") {
    mkTables(g)
    g.sql("INSERT INTO ags_raw VALUES " +
      "(1, 1.25, 'a'), (1, 2.5, 'b'), (2, 10.0, 'a')")
    g.sql("INSERT INTO ags_raw VALUES " +
      "(1, 4.0, 'a'), (2, 0.5, 'c'), (3, 7.75, 'd')")
    // two blocks -> (up to) two state rows per key before any merge
    assert(g.spark.table("ags_t").count() === 5L) // k=1,2 twice + k=3 once
    assert(mergeRows(g) === directRows(g))
    // FINAL merges states on read (state -> state), fMerge on top agrees
    val fin = g.sql("SELECT k, CAST(round(sumMerge(s), 3) AS DOUBLE) AS sv," +
      " countMerge(c) AS n FROM ags_t FINAL GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(fin === directRows(g).map(t => (t._1, t._2, t._3)))
    // OPTIMIZE FINAL rewrites storage to one state row per key
    g.sql("OPTIMIZE TABLE ags_t FINAL")
    assert(g.spark.table("ags_t").count() === 3L)
    assert(mergeRows(g) === directRows(g))
    // states keep accumulating after the physical merge
    g.sql("INSERT INTO ags_raw VALUES (3, 0.25, 'd'), (4, 9.0, 'e')")
    assert(mergeRows(g) === directRows(g))
  }

  test("the TO-form view, its subscription, and the state table survive a " +
    "restart; DROP of the view detaches the subscription") {
    val g = new GraftSession(GraftRestart.isolated(spark))
    mkTables(g)
    g.sql("INSERT INTO ags_raw VALUES (1, 1.0, 'a'), (2, 2.0, 'b')")
    val before = mergeRows(g)
    assert(before === directRows(g))

    // restart: a fresh catalog replays the tables, and the views
    // re-register from their replay scripts
    val g2 = new GraftSession(GraftRestart.restart(g.spark))
    assert(!g2.restoreErrors.exists(_._2.startsWith("ags_")),
      s"restore must be clean, got: ${g2.restoreErrors}")
    assert(mergeRows(g2) === before, "states lost across restart")
    // the subscription is live again: a new block lands as fresh states
    g2.sql("INSERT INTO ags_raw VALUES (1, 5.0, 'z')")
    assert(mergeRows(g2) === directRows(g2))
    // reads THROUGH the view see the target's contents (CH contract)
    assert(g2.sql("SELECT count(*) AS n FROM ags_mv").head().getLong(0) ===
      g2.spark.table("ags_t").count())

    // DROP TABLE on the view (CH's drop form) detaches the subscription
    g2.sql("DROP TABLE ags_mv")
    val rowsBefore = g2.spark.table("ags_t").count()
    g2.sql("INSERT INTO ags_raw VALUES (9, 1.0, 'q')")
    assert(g2.spark.table("ags_t").count() === rowsBefore,
      "a dropped TO-view must stop feeding its target")
    g2.sql("DROP TABLE ags_t; DROP TABLE ags_raw")
  }

  test("uniqState/uniqMerge: bounded HLL-sketch states through the MV TO " +
    "flow — merged partials equal the direct sketch over raw rows " +
    "EXACTLY, and OPTIMIZE FINAL unions sketches losslessly") {
    g.sql("DROP TABLE IF EXISTS agu_mv; DROP TABLE IF EXISTS agu_t; " +
      "DROP TABLE IF EXISTS agu_raw")
    g.sql("CREATE TABLE agu_raw(k Int64, et String)")
    g.sql("CREATE TABLE agu_t(k Int64 PRIMARY KEY, " +
      "u AggregateFunction(uniq, String)) ENGINE=AggregatingMergeTree")
    g.sql("CREATE MATERIALIZED VIEW agu_mv TO agu_t AS " +
      "SELECT k, uniqState(et) AS u FROM agu_raw GROUP BY k")
    // two waves, overlapping value domains (the union must dedup)
    g.sql("INSERT INTO agu_raw SELECT id % 4 AS k, " +
      "CAST(id % 100 AS STRING) AS et FROM range(3000)")
    g.sql("INSERT INTO agu_raw SELECT id % 4 AS k, " +
      "CAST(id % 130 AS STRING) AS et FROM range(3000)")
    assert(g.spark.table("agu_t").count() === 8L) // 4 keys x 2 blocks
    def merged: Seq[(Long, Long)] =
      g.sql("SELECT k, uniqMerge(u) AS u FROM agu_t GROUP BY k ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the sketch build is deterministic: merge-of-partials == the direct
    // sketch over the raw rows, value-for-value
    val direct = g.sql("SELECT k, hll_sketch_estimate(hll_sketch_agg(et)) " +
      "AS u FROM agu_raw GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(merged === direct)
    // small domains estimate exactly: per key k, id ≡ k (mod 4) makes
    // id%100 take the 25 residues ≡ k (mod 4) and id%130 the 65 residues
    // ≡ k (mod 2) — the former a subset of the latter, so 65 distinct
    assert(merged.map(_._2).forall(u => u == 65L),
      s"HLL estimate off on a 65-value domain: $merged")
    // physical merge: one state row per key; estimates unchanged
    g.sql("OPTIMIZE TABLE agu_t FINAL")
    assert(g.spark.table("agu_t").count() === 4L)
    assert(merged === direct)
    g.sql("DROP TABLE agu_mv; DROP TABLE agu_t; DROP TABLE agu_raw")
  }

  test("TO rejects POPULATE and a missing target; ENGINE+TO is a parse " +
    "error") {
    g.sql("DROP TABLE IF EXISTS ags_p_raw; DROP TABLE IF EXISTS ags_p_t")
    g.sql("CREATE TABLE ags_p_raw(k Int64)")
    g.sql("CREATE TABLE ags_p_t(k Int64 PRIMARY KEY, " +
      "c AggregateFunction(count)) ENGINE=AggregatingMergeTree")
    val e1 = intercept[Exception] {
      g.sql("CREATE MATERIALIZED VIEW ags_p_mv TO ags_p_t POPULATE AS " +
        "SELECT k, countState() AS c FROM ags_p_raw GROUP BY k") }
    assert(e1.getMessage.toLowerCase.contains("populate"), e1.getMessage)
    val e2 = intercept[Exception] {
      g.sql("CREATE MATERIALIZED VIEW ags_p_mv TO no_such_table AS " +
        "SELECT k, countState() AS c FROM ags_p_raw GROUP BY k") }
    assert(e2.getMessage.contains("no table"), e2.getMessage)
    val e3 = intercept[Exception] {
      g.sql("CREATE MATERIALIZED VIEW ags_p_mv TO ags_p_t ENGINE=Log AS " +
        "SELECT k, countState() AS c FROM ags_p_raw GROUP BY k") }
    assert(e3.getMessage.contains("mutually exclusive"), e3.getMessage)
    // a target cannot be its own source, and a second TO-view on the
    // same target must not silently steal the first's subscription
    val e4 = intercept[Exception] {
      g.sql("CREATE MATERIALIZED VIEW ags_p_mv TO ags_p_t AS " +
        "SELECT k, countState() AS c FROM ags_p_t GROUP BY k") }
    assert(e4.getMessage.contains("own source"), e4.getMessage)
    g.sql("CREATE MATERIALIZED VIEW ags_p_mv TO ags_p_t AS " +
      "SELECT k, countState() AS c FROM ags_p_raw GROUP BY k")
    val e5 = intercept[Exception] {
      g.sql("CREATE MATERIALIZED VIEW ags_p_mv2 TO ags_p_t AS " +
        "SELECT k, countState() AS c FROM ags_p_raw GROUP BY k") }
    assert(e5.getMessage.contains("already the target"), e5.getMessage)
    g.sql("DROP TABLE ags_p_mv")
    g.sql("DROP TABLE ags_p_t; DROP TABLE ags_p_raw")
  }

  // ---- quantileTDigestState / -Merge (VERDICT r17 task #5) -------------

  test("TDigest state is hard-bounded and pairwise merge is commutative") {
    import graft.functions.TDigest
    val vals = (1 to 20000).map(i => ((i * 2654435761L) % 100003).toDouble)
    val state = vals.grouped(TDigest.PendingCap).foldLeft(
      Seq.empty[(Double, Double)]) { (acc, chunk) =>
      TDigest.compact(acc ++ chunk.map(v => (v, 1.0)))
    }
    assert(state.length <= 2 * TDigest.Delta,
      s"state grew to ${state.length} centroids")
    assert(state.map(_._2).sum === 20000.0)
    // commutativity: compaction sorts first, so merge(a, b) == merge(b, a)
    val (a, b) = state.splitAt(state.length / 2)
    assert(TDigest.compact(a ++ b) === TDigest.compact(b ++ a))
  }

  test("merged partial states answer within the exact ±1%-rank bounds") {
    import graft.functions.TDigest
    val vals = (1 to 50000).map(i => ((i * 1103515245L + 12345) % 99991).toDouble)
    // 8 partitions build partial states independently; merge folds them
    val partials = vals.grouped(vals.size / 8 + 1).map(chunk =>
      chunk.grouped(TDigest.PendingCap).foldLeft(Seq.empty[(Double, Double)]) {
        (acc, c) => TDigest.compact(acc ++ c.map(v => (v, 1.0)))
      }).toSeq
    val merged = partials.foldLeft(Seq.empty[(Double, Double)])(
      (acc, s) => TDigest.compact(acc ++ s))
    assert(merged.length <= 2 * TDigest.Delta)
    val sorted = vals.sorted
    def exact(p: Double): Double = sorted(((sorted.size - 1) * p).toInt)
    Seq(0.1, 0.5, 0.9, 0.99).foreach { p =>
      val approx = TDigest.quantile(merged, p)
      val lo = exact(math.max(0.0, p - 0.01))
      val hi = exact(math.min(1.0, p + 0.01))
      assert(approx >= lo && approx <= hi,
        s"q$p: $approx outside exact rank bounds [$lo, $hi]")
    }
  }

  test("quantileTDigest states survive the MV -> OPTIMIZE FINAL -> Merge " +
    "lifecycle in SQL (type round-trips through DESC/replay)") {
    g.sql("DROP TABLE IF EXISTS ags_q_mv; DROP TABLE IF EXISTS ags_q_t; " +
      "DROP TABLE IF EXISTS ags_q_raw")
    g.sql("CREATE TABLE ags_q_raw(k Int64, v Float64)")
    g.sql("CREATE TABLE ags_q_t(k Int64 PRIMARY KEY, " +
      "q AggregateFunction(quantileTDigest, Float64)) " +
      "ENGINE=AggregatingMergeTree")
    g.sql("CREATE MATERIALIZED VIEW ags_q_mv TO ags_q_t AS " +
      "SELECT k, quantileTDigestState(v) AS q FROM ags_q_raw GROUP BY k")
    val desc = g.sql("DESC ags_q_t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.contains(("q", "AggregateFunction(quantileTDigest, Float64)")))
    // two waves of 0..999 per key -> exact median 499.5-ish; digest must
    // land within the ±1% rank bounds (489..510 for uniform 0..999)
    g.sql("INSERT INTO ags_q_raw SELECT id % 2 AS k, " +
      "CAST(id % 1000 AS DOUBLE) AS v FROM range(4000) WHERE id % 4 < 2")
    g.sql("INSERT INTO ags_q_raw SELECT id % 2 AS k, " +
      "CAST(id % 1000 AS DOUBLE) AS v FROM range(4000) WHERE id % 4 >= 2")
    // pre-FINAL: two partial-state rows per key
    assert(g.sql("SELECT count() AS n FROM ags_q_t")
      .collect()(0).getLong(0) === 4L)
    g.sql("OPTIMIZE TABLE ags_q_t FINAL")
    assert(g.sql("SELECT count() AS n FROM ags_q_t")
      .collect()(0).getLong(0) === 2L)
    val r = g.sql("SELECT k, quantileTDigestMerge(0.5)(q) AS med " +
      "FROM ags_q_t GROUP BY k ORDER BY k").collect()
    r.foreach { row =>
      val med = row.getDouble(1)
      assert(med >= 479.0 && med <= 520.0, s"k=${row.getLong(0)} med=$med")
    }
    // plural form: one fold, every quantile out, same rank bounds
    val rs = g.sql("SELECT k, quantilesTDigestMerge(0.1, 0.5, 0.9)(q) AS qs " +
      "FROM ags_q_t GROUP BY k ORDER BY k").collect()
    rs.foreach { row =>
      val qs = row.getSeq[Double](1)
      assert(qs.length === 3)
      assert(qs(0) >= 79 && qs(0) <= 120, s"q10=$qs")
      assert(qs(1) >= 479 && qs(1) <= 520, s"q50=$qs")
      assert(qs(2) >= 879 && qs(2) <= 920, s"q90=$qs")
      assert(qs(0) <= qs(1) && qs(1) <= qs(2))
    }
    g.sql("DROP TABLE ags_q_mv; DROP TABLE ags_q_t; DROP TABLE ags_q_raw")
  }

  test("d32 states (argMax/argMin/avgWeighted/sumIf/countIf/topK): type " +
    "round-trip, merge == direct across waves, FINAL re-merge invariant") {
    g.sql("DROP TABLE IF EXISTS ags32_mv; DROP TABLE IF EXISTS ags32_t; " +
      "DROP TABLE IF EXISTS ags32_raw")
    g.sql("CREATE TABLE ags32_raw(k Int64, v Float64, et String, w Int64)")
    g.sql("CREATE TABLE ags32_t(k Int64 PRIMARY KEY, " +
      "am AggregateFunction(argMax, String, Float64), " +
      "an AggregateFunction(argMin, String, Float64), " +
      "aw AggregateFunction(avgWeighted, Decimal(18,6), Int64), " +
      "si AggregateFunction(sumIf, Int64, UInt8), " +
      "ci AggregateFunction(countIf, UInt8), " +
      "tk AggregateFunction(topK(2), String)) ENGINE=AggregatingMergeTree")
    g.sql("CREATE MATERIALIZED VIEW ags32_mv TO ags32_t AS " +
      "SELECT k, argMaxState(et, v) AS am, argMinState(et, v) AS an, " +
      "avgWeightedState(CAST(v AS DECIMAL(18,6)), w) AS aw, " +
      "sumIfState(w, v > 10) AS si, countIfState(v > 10) AS ci, " +
      "topKState(2)(et) AS tk FROM ags32_raw GROUP BY k")
    // declared multi-param / parametric types survive DESC verbatim
    val desc = g.sql("DESC ags32_t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.contains(("am", "AggregateFunction(argMax, String, Float64)")))
    assert(desc.contains(
      ("aw", "AggregateFunction(avgWeighted, Decimal(18, 6), Int64)")) ||
      desc.contains(
        ("aw", "AggregateFunction(avgWeighted, Decimal(18,6), Int64)")))
    assert(desc.contains(("tk", "AggregateFunction(topK(2), String)")))
    // wave 1 includes a TIE on the max v of k=1 (a vs c at v=20): the
    // state's (o, a) lexicographic order must break it to the max arg
    g.sql("INSERT INTO ags32_raw VALUES " +
      "(1, 20.0, 'a', 2), (1, 20.0, 'c', 3), (1, 5.0, 'b', 1), " +
      "(2, 7.0, 'x', 4), (2, 11.0, 'y', 5)")
    g.sql("INSERT INTO ags32_raw VALUES " +
      "(1, 15.0, 'b', 2), (1, 3.0, 'a', 6), " +
      "(2, 11.0, 'x', 1), (2, 2.0, 'z', 7)")
    def readMerged(): Seq[(Long, String, String, Double, Long, Long, String)] =
      g.sql("SELECT k, argMaxMerge(am) AS amx, argMinMerge(an) AS amn, " +
        "CAST(round(CAST(avgWeightedMerge(aw) AS DECIMAL(18,6)), 4) " +
        "AS DOUBLE) AS awv, " +
        "CAST(coalesce(sumIfMerge(si), 0) AS BIGINT) AS siv, " +
        "countIfMerge(ci) AS civ, concat_ws(',', topKMerge(2)(tk)) AS tkv " +
        "FROM ags32_t GROUP BY k ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3), r.getLong(4), r.getLong(5), r.getString(6))).toSeq
    val direct =
      g.sql("SELECT r.k, mx.amx, mn.amn, " +
        "CAST(round(CAST(CAST(sum(CAST(r.v AS DECIMAL(18,6)) * r.w) " +
        "AS DOUBLE) / CAST(sum(r.w) AS DOUBLE) AS DECIMAL(18,6)), 4) " +
        "AS DOUBLE) AS awv, " +
        "CAST(coalesce(sum(r.w) FILTER (WHERE r.v > 10), 0) AS BIGINT) " +
        "AS siv, count(*) FILTER (WHERE r.v > 10) AS civ, tk.tkv " +
        "FROM ags32_raw r " +
        "JOIN (SELECT k, max_by(et, struct(v, et)) AS amx " +
        "  FROM ags32_raw GROUP BY k) mx ON r.k = mx.k " +
        "JOIN (SELECT k, min_by(et, struct(v, et)) AS amn " +
        "  FROM ags32_raw GROUP BY k) mn ON r.k = mn.k " +
        "JOIN (SELECT k, concat_ws(',', transform(slice(sort_array(" +
        "    collect_list(struct(-c AS nc, et AS e))), 1, 2), x -> x.e)) " +
        "  AS tkv FROM (SELECT k, et, count(*) AS c FROM ags32_raw " +
        "  GROUP BY k, et) GROUP BY k) tk ON r.k = tk.k " +
        "GROUP BY r.k, mx.amx, mn.amn, tk.tkv ORDER BY r.k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3), r.getLong(4), r.getLong(5), r.getString(6))).toSeq
    val pre = readMerged()
    assert(pre === direct, "merge over partial states must equal direct")
    // tie pinned: k=1 argMax is 'c' (max v 20.0, tie -> max arg)
    assert(pre.head._2 === "c")
    // two waves -> two partial rows per key; FINAL folds to one
    assert(g.sql("SELECT count() AS n FROM ags32_t")
      .collect()(0).getLong(0) === 4L)
    g.sql("OPTIMIZE TABLE ags32_t FINAL")
    assert(g.sql("SELECT count() AS n FROM ags32_t")
      .collect()(0).getLong(0) === 2L)
    assert(readMerged() === direct, "FINAL state->state re-merge must be " +
      "value-preserving")
    g.sql("DROP TABLE ags32_mv; DROP TABLE ags32_t; DROP TABLE ags32_raw")
  }
}
