package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.exec.GraftSession

/** ReplacingMergeTree + `FROM t FINAL` + `OPTIMIZE TABLE t FINAL` — the
  * canonical ClickHouse merge-dedup family. FINAL returns the merged view
  * (one row per sorting key, max version winning); OPTIMIZE ... FINAL is
  * the merge itself, physically rewriting the table. Both are
  * partition-scoped like a real MergeTree: duplicates are resolved only
  * WITHIN a partition. Divergence pinned here: ties (and the no-version
  * form) resolve by full-row max — deterministic where CH depends on
  * physical merge order.
  */
class ReplacingSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = new GraftSession(spark)

  test("FROM t FINAL dedups by PK with the MAX version winning; the base " +
    "table keeps every version") {
    g.sql("DROP TABLE IF EXISTS rep_t")
    g.sql("CREATE TABLE rep_t(k Int64 PRIMARY KEY, v String, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver)")
    g.sql("INSERT INTO rep_t VALUES (1, 'old', 1), (2, 'only', 1)")
    g.sql("INSERT INTO rep_t VALUES (1, 'new', 2), (1, 'mid', 1)")
    assert(g.sql("SELECT count(*) AS n FROM rep_t").collect()(0).getLong(0) === 4L)
    val fin = g.sql("SELECT k, v, ver FROM rep_t FINAL ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(fin === Seq((1L, "new", 2L), (2L, "only", 1L)))
  }

  test("FINAL composes with WHERE and aggregates downstream of the merge") {
    val n = g.sql(
      "SELECT count(*) AS n FROM rep_t FINAL WHERE v <> 'only'")
      .collect()(0).getLong(0)
    assert(n === 1L)
  }

  test("the no-version form dedups deterministically (full-row max) — " +
    "the documented divergence from CH's physical-order pick") {
    g.sql("DROP TABLE IF EXISTS rep_nv")
    g.sql("CREATE TABLE rep_nv(k Int64 PRIMARY KEY, v String) " +
      "ENGINE=ReplacingMergeTree")
    g.sql("INSERT INTO rep_nv VALUES (1, 'a'), (1, 'z'), (1, 'm')")
    val v = g.sql("SELECT v FROM rep_nv FINAL").collect().map(_.getString(0))
    assert(v.toSeq === Seq("z"))
    g.sql("DROP TABLE rep_nv")
  }

  test("partition scope is faithful: duplicates in DIFFERENT partitions " +
    "are NOT merged (MergeTree merges never cross partitions)") {
    g.sql("DROP TABLE IF EXISTS rep_part")
    g.sql("CREATE TABLE rep_part(k Int64 PRIMARY KEY, d Date, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver) PARTITION BY toYear(d)")
    g.sql("INSERT INTO rep_part VALUES (1, '2021-01-01', 1), " +
      "(1, '2022-01-01', 2), (1, '2021-06-01', 3)")
    val rows = g.sql("SELECT k, d, ver FROM rep_part FINAL ORDER BY ver")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // 2021 partition: ver 1 and 3 merge -> 3 survives; 2022: ver 2 alone
    assert(rows === Seq((1L, 2L), (1L, 3L)))
    g.sql("DROP TABLE rep_part")
  }

  test("FINAL on a non-merging table errors loudly — falling through as " +
    "a Spark alias would return un-merged rows silently (ADVICE r15 #1; " +
    "ClickHouse rejects it too)") {
    g.sql("DROP TABLE IF EXISTS rep_plain")
    g.sql("CREATE TABLE rep_plain(k Int64 PRIMARY KEY)")
    g.sql("INSERT INTO rep_plain VALUES (7), (7)")
    val e = intercept[IllegalArgumentException] {
      g.sql("SELECT count(*) AS n FROM rep_plain final")
    }
    assert(e.getMessage.contains("FINAL"))
    // so is FINAL on a JOIN side (splitFinal only serves the FROM table)
    g.sql("DROP TABLE IF EXISTS rep_j")
    g.sql("CREATE TABLE rep_j(k Int64, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver) ORDER BY k")
    val e2 = intercept[IllegalArgumentException] {
      g.sql("SELECT count(*) AS n FROM rep_plain p JOIN rep_j FINAL " +
        "ON p.k = rep_j.k")
    }
    assert(e2.getMessage.contains("JOIN-side"))
    g.sql("DROP TABLE rep_plain")
    g.sql("DROP TABLE rep_j")
  }

  test("OPTIMIZE TABLE t FINAL is the physical merge: the base table " +
    "itself shrinks to the deduplicated rows") {
    g.sql("DROP TABLE IF EXISTS rep_opt")
    g.sql("CREATE TABLE rep_opt(k Int64 PRIMARY KEY, v String, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver)")
    g.sql("INSERT INTO rep_opt VALUES (1, 'old', 1), (2, 'only', 1)")
    g.sql("INSERT INTO rep_opt VALUES (1, 'new', 2)")
    g.sql("OPTIMIZE TABLE rep_opt FINAL")
    val rows = g.sql("SELECT k, v, ver FROM rep_opt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, "new", 2L), (2L, "only", 1L)))
    // idempotent: a second merge changes nothing
    g.sql("OPTIMIZE TABLE rep_opt FINAL")
    assert(g.sql("SELECT count(*) AS n FROM rep_opt").collect()(0).getLong(0) === 2L)
    g.sql("DROP TABLE rep_opt")
  }

  test("OPTIMIZE FINAL respects partitions: cross-partition duplicates " +
    "survive the merge") {
    g.sql("DROP TABLE IF EXISTS rep_optp")
    g.sql("CREATE TABLE rep_optp(k Int64 PRIMARY KEY, d Date, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver) PARTITION BY toYear(d)")
    g.sql("INSERT INTO rep_optp VALUES (1, '2021-01-01', 1), " +
      "(1, '2022-01-01', 2), (1, '2021-06-01', 3)")
    g.sql("OPTIMIZE TABLE rep_optp FINAL")
    val vers = g.sql("SELECT ver FROM rep_optp ORDER BY ver")
      .collect().map(_.getLong(0)).toSeq
    assert(vers === Seq(2L, 3L))
    g.sql("DROP TABLE rep_optp")
  }

  test("the engine declaration survives a restart: a fresh session still " +
    "honors FINAL (engine + version args round-trip through the meta " +
    "script)") {
    // rep_t as the first test left it, in a catalog of its own
    g.sql("DROP TABLE IF EXISTS rep_t")
    val gi = new GraftSession(GraftRestart.isolated(spark))
    gi.sql("CREATE TABLE rep_t(k Int64 PRIMARY KEY, v String, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver)")
    gi.sql("INSERT INTO rep_t VALUES (1, 'old', 1), (2, 'only', 1)")
    gi.sql("INSERT INTO rep_t VALUES (1, 'new', 2), (1, 'mid', 1)")
    val sc = gi.sql("SHOW CREATE TABLE rep_t").collect()(0).getString(0)
    assert(sc.contains("ReplacingMergeTree"), sc)
    val g2 = new GraftSession(GraftRestart.restart(gi.spark))
    val fin = g2.sql("SELECT k, v FROM rep_t FINAL ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fin === Seq((1L, "new"), (2L, "only")))
    g2.sql("DROP TABLE rep_t")
  }

  test("SummingMergeTree FINAL sums the numeric non-key columns and " +
    "keeps declared types; non-numeric columns take their min") {
    g.sql("DROP TABLE IF EXISTS sum_t")
    g.sql("CREATE TABLE sum_t(k Int64 PRIMARY KEY, n Int32, amt Float64, " +
      "tag String) ENGINE=SummingMergeTree")
    g.sql("INSERT INTO sum_t VALUES (1, 2, 1.5, 'b'), (1, 3, 2.5, 'a'), " +
      "(2, 7, 0.25, 'z')")
    val rows = g.sql("SELECT k, n, amt, tag FROM sum_t FINAL ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getString(3))).toSeq
    assert(rows === Seq((1L, 5, 4.0, "a"), (2L, 7, 0.25, "z")))
    g.sql("DROP TABLE sum_t")
  }

  test("SummingMergeTree(cols) restricts the summed set; a key whose " +
    "every summed column totals zero is DELETED (CH's all-zero rule)") {
    g.sql("DROP TABLE IF EXISTS sum_r")
    g.sql("CREATE TABLE sum_r(k Int64 PRIMARY KEY, a Int64, b Int64) " +
      "ENGINE=SummingMergeTree(a)")
    g.sql("INSERT INTO sum_r VALUES (1, 5, 100), (1, -5, 200), (2, 3, 300)")
    val rows = g.sql("SELECT k, a, b FROM sum_r FINAL ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // k=1: a sums to 0 -> row deleted; k=2 survives with b untouched (min)
    assert(rows === Seq((2L, 3L, 300L)))
    g.sql("DROP TABLE sum_r")
  }

  test("OPTIMIZE FINAL on a SummingMergeTree physically collapses to the " +
    "summed rows, applying the all-zero delete") {
    g.sql("DROP TABLE IF EXISTS sum_o")
    g.sql("CREATE TABLE sum_o(k Int64 PRIMARY KEY, a Int64) " +
      "ENGINE=SummingMergeTree")
    g.sql("INSERT INTO sum_o VALUES (1, 5), (1, -5), (2, 3), (2, 4)")
    g.sql("OPTIMIZE TABLE sum_o FINAL")
    val rows = g.sql("SELECT k, a FROM sum_o ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((2L, 7L)))
    g.sql("DROP TABLE sum_o")
  }

  test("CollapsingMergeTree FINAL annihilates balanced +1/-1 pairs; an " +
    "unbalanced key keeps one row of the majority sign") {
    g.sql("DROP TABLE IF EXISTS col_t")
    g.sql("CREATE TABLE col_t(k Int64 PRIMARY KEY, sign Int8, views Int64) " +
      "ENGINE=CollapsingMergeTree(sign)")
    // k=1: state then cancel+new state (classic CH update flow) -> 1 row
    // k=2: state+cancel balanced -> gone; k=3: cancel-majority -> -1 row
    g.sql("INSERT INTO col_t VALUES (1, 1, 10), (1, -1, 10), (1, 1, 25), " +
      "(2, 1, 7), (2, -1, 7), (3, -1, 99)")
    val fin = g.sql("SELECT k, sign, views FROM col_t FINAL ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getByte(1), r.getLong(2))).toSeq
    assert(fin === Seq((1L, 1.toByte, 25L), (3L, (-1).toByte, 99L)))
    // the base table keeps all six physical rows
    assert(g.sql("SELECT count(*) AS n FROM col_t").collect()(0)
      .getLong(0) === 6L)
    g.sql("DROP TABLE col_t")
  }

  test("VersionedCollapsingMergeTree cancels only within a version and " +
    "preserves leftover multiplicity") {
    g.sql("DROP TABLE IF EXISTS vcol_t")
    g.sql("CREATE TABLE vcol_t(k Int64 PRIMARY KEY, sign Int8, " +
      "ver Int64, amt Int64) ENGINE=VersionedCollapsingMergeTree(sign, ver)")
    // k=1 ver=1: balanced pair -> gone; k=1 ver=2: lone state survives.
    // k=2 ver=1: three states, one cancel -> TWO copies survive.
    g.sql("INSERT INTO vcol_t VALUES (1, 1, 1, 5), (1, -1, 1, 5), " +
      "(1, 1, 2, 8), (2, 1, 1, 3), (2, 1, 1, 3), (2, 1, 1, 3), (2, -1, 1, 3)")
    val fin = g.sql("SELECT k, sign, ver, amt FROM vcol_t FINAL " +
      "ORDER BY k, ver").collect()
      .map(r => (r.getLong(0), r.getByte(1), r.getLong(2), r.getLong(3))).toSeq
    assert(fin === Seq((1L, 1.toByte, 2L, 8L), (2L, 1.toByte, 1L, 3L),
      (2L, 1.toByte, 1L, 3L)))
    g.sql("DROP TABLE vcol_t")
  }

  test("OPTIMIZE FINAL physically collapses a CollapsingMergeTree; a " +
    "sign-less CREATE is rejected at DDL time") {
    g.sql("DROP TABLE IF EXISTS col_o")
    g.sql("CREATE TABLE col_o(k Int64 PRIMARY KEY, sign Int8, v Int64) " +
      "ENGINE=CollapsingMergeTree(sign)")
    g.sql("INSERT INTO col_o VALUES (1, 1, 4), (1, -1, 4), (2, 1, 6)")
    g.sql("OPTIMIZE TABLE col_o FINAL")
    val rows = g.sql("SELECT k, v FROM col_o ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((2L, 6L)))
    g.sql("DROP TABLE col_o")
    val e = intercept[IllegalArgumentException] {
      g.sql("CREATE TABLE col_bad(k Int64 PRIMARY KEY, v Int64) " +
        "ENGINE=CollapsingMergeTree")
    }
    assert(e.getMessage.contains("sign"))
    val e2 = intercept[IllegalArgumentException] {
      g.sql("CREATE TABLE col_bad(k Int64 PRIMARY KEY, s Int8, v Int64) " +
        "ENGINE=VersionedCollapsingMergeTree(s, nope)")
    }
    assert(e2.getMessage.contains("version"))
  }

  test("AggregatingMergeTree FINAL merges SimpleAggregateFunction columns " +
    "with their declared function (sum/max/min/bit_or); plain columns " +
    "keep a deterministic representative; OPTIMIZE FINAL materializes it") {
    g.sql("DROP TABLE IF EXISTS agg_t")
    g.sql("CREATE TABLE agg_t(k Int64 PRIMARY KEY, " +
      "s SimpleAggregateFunction(sum, Int64), " +
      "hi SimpleAggregateFunction(max, Float64), " +
      "lo SimpleAggregateFunction(min, Int64), " +
      "bits SimpleAggregateFunction(groupBitOr, Int64), " +
      "tag String) ENGINE=AggregatingMergeTree")
    g.sql("INSERT INTO agg_t VALUES (1, 10, 1.5, 7, 1, 'a'), " +
      "(1, 20, 2.5, 3, 4, 'b'), (2, 5, 9.0, 9, 8, 'c')")
    // DESC round-trips the declared SimpleAggregateFunction type
    val descT = g.sql("DESC TABLE agg_t").collect()
      .find(_.getString(0) == "s").get.getString(1)
    assert(descT === "SimpleAggregateFunction(sum, Int64)")
    def state(fin: String): Seq[(Long, Long, Double, Long, Long, String)] =
      g.sql(s"SELECT k, s, hi, lo, bits, tag FROM agg_t $fin ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4), r.getString(5))).toSeq
    val expected = Seq((1L, 30L, 2.5, 3L, 5L, "a"), (2L, 5L, 9.0, 9L, 8L, "c"))
    assert(state("FINAL") === expected)
    assert(g.sql("SELECT count(*) AS n FROM agg_t").collect()(0)
      .getLong(0) === 3L) // base table still unmerged
    g.sql("OPTIMIZE TABLE agg_t FINAL")
    assert(state("") === expected) // physically merged now
    g.sql("DROP TABLE agg_t")
  }

  test("the CH-canonical DDL spelling works end-to-end: ENGINE=" +
    "ReplacingMergeTree(ver) ORDER BY key + CODEC + table-level clauses " +
    "drive the merge exactly like the PRIMARY KEY column syntax") {
    g.sql("DROP TABLE IF EXISTS rep_ch")
    g.sql("CREATE TABLE rep_ch(k Int64, ver Int64 CODEC(ZSTD(3)), " +
      "v String COMMENT 'payload') ENGINE=ReplacingMergeTree(ver) " +
      "ORDER BY k SETTINGS index_granularity=8192")
    g.sql("INSERT INTO rep_ch VALUES (1, 1, 'old'), (1, 2, 'new'), " +
      "(2, 7, 'only')")
    val rows = g.sql("SELECT k, v FROM rep_ch FINAL ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "new"), (2L, "only")))
    // ORDER BY tuple() = no sorting key: FINAL has nothing to merge on
    g.sql("DROP TABLE IF EXISTS rep_nokey")
    g.sql("CREATE TABLE rep_nokey(k Int64) ENGINE=MergeTree ORDER BY tuple()")
    g.sql("INSERT INTO rep_nokey VALUES (1), (1)")
    assert(g.sql("SELECT count(*) AS n FROM rep_nokey").collect()(0)
      .getLong(0) === 2L)
    g.sql("DROP TABLE rep_nokey")
    g.sql("DROP TABLE rep_ch")
  }

  test("FINAL SAMPLE is refused loudly, never silently composed") {
    g.sql("DROP TABLE IF EXISTS rep_fs")
    g.sql("CREATE TABLE rep_fs(k Int64 PRIMARY KEY, ver Int64) " +
      "ENGINE=ReplacingMergeTree(ver)")
    g.sql("INSERT INTO rep_fs VALUES (1, 1)")
    try assertThrows[Exception] {
      g.sql("SELECT count(*) AS n FROM rep_fs FINAL SAMPLE 0.5").collect()
    } finally g.sql("DROP TABLE rep_fs")
  }
}
