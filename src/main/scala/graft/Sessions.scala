package graft

import org.apache.spark.sql.SparkSession

/** Single place that builds a correctly-configured local SparkSession.
  *
  * Every setting here is load-bearing for the oracle gate or for scale
  * posture:
  *   - UTC session timezone: timestamp literals must resolve identically to
  *     the DuckDB oracle's naive TIMESTAMP literals regardless of host TZ.
  *   - nanosAsLong: events.parquet carries timestamp[ns], which Spark's
  *     vectorized reader otherwise rejects (see [[Tables.events]]).
  *   - shuffle.partitions sized to the local core count (not the 200
  *     default); on a real cluster this would be set per-job or left to AQE.
  *   - AQE on: runtime coalescing + skew-join handling is part of the
  *     100 TB design (SURVEY §4.1 — the reference's static repartition rule
  *     is strictly weaker). A CH SELECT whose input adds up to at most
  *     `spark.sql.autoBroadcastJoinThreshold` is planned per statement
  *     without AQE and with one shuffle partition, so it runs as one job
  *     (`SmallStatementExecution`, via `GraftSession`); the session conf
  *     itself never changes.
  */
object Sessions {
  def build(appName: String,
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      .config("spark.ui.enabled", "false")
      // Commit protocol (guide §6 small-files / §1.2 fixed costs): v1
      // renames every task file twice (task dir → job dir → table) and the
      // job-commit pass is a serial driver-side listing+rename; v2 renames
      // once at task commit and job commit is O(1). Each insert statement
      // pays this fixed cost, and a DDL-heavy workload (MV propagation,
      // OPTIMIZE staging) pays it per write. _SUCCESS markers are pure
      // overhead for managed engine tables (the engine's own intent files
      // carry crash-safety where it matters — stagedReplace).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Fixed-zone civil-field collapse (year/month/day over timestamps as
    // pure integer arithmetic) — registered here so EVERY entry point
    // (bench anchors, verify, servers, tests) plans through it.
    if (!s.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.CivilFieldRewrite]))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.CivilFieldRewrite(s)
    // Monotone civil-predicate unwrap (toYear(d)=1995 → d range) — must
    // follow CivilFieldRewrite so it sees the EpochCivilField form.
    if (!s.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.CivilPredicateUnwrap]))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.CivilPredicateUnwrap(s)
    if (!s.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.ProjectionRoute]))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.ProjectionRoute(s)
    s
  }
}
