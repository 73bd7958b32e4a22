package graft.plans

import java.time.Instant

import org.apache.spark.sql.catalyst.expressions.{Cast, DayOfMonth, Expression, Hour, Minute, Month, Quarter, Second, Year}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

import graft.functions.EpochCivilField

/** Collapse `year/month/dayofmonth/quarter(cast(<ts> AS date))` — the shape
  * `date_part('year', ts)` / `toYear(ts)` / `EXTRACT(YEAR FROM ts)` all
  * analyze to — into [[graft.functions.EpochCivilField]] when the cast's
  * zone has NO daylight rules (UTC, any fixed offset, or a TimestampNTZ
  * input where the zone is irrelevant). Region zones with DST keep Spark's
  * `java.time` path: only a zone whose offset is one constant makes the
  * micros→civil-days conversion pure integer arithmetic.
  *
  * This is the engine-level analog of what ClickHouse's date LUT buys its
  * `toYear` (the BASELINE.md group-by row, docs/benchmarks.md:7-9, is
  * exactly this extraction over 1.47B rows): measured ~3-4× on that anchor.
  * Listed in [[GraftRules]], so every entry point (bench, verify, wire
  * servers) plans through it.
  */
case class CivilFieldRewrite(sparkIgnored: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {

  /** The zone's single fixed offset in seconds, or None if it has DST
    * transitions (or the cast's zone never got resolved — leave those to
    * Spark). Offsets are validated by getZoneId; `isFixedOffset` is the
    * java.time rules oracle, not a name whitelist.
    */
  private def fixedOffsetSeconds(tzId: Option[String]): Option[Long] =
    tzId.flatMap { tz =>
      try {
        val rules = DateTimeUtils.getZoneId(tz).getRules
        if (rules.isFixedOffset)
          Some(rules.getOffset(Instant.EPOCH).getTotalSeconds.toLong)
        else None
      } catch { case _: Exception => None }
    }

  /** Matches `cast(<timestamp> AS date)` whose conversion is a fixed
    * offset; yields (timestamp child, offset seconds).
    */
  private object FixedZoneTsToDate {
    def unapply(e: Expression): Option[(Expression, Long)] = e match {
      case c @ Cast(ts, DateType, _, _) =>
        ts.dataType match {
          case TimestampType =>
            fixedOffsetSeconds(c.timeZoneId).map(off => (ts, off))
          // NTZ→date ignores the zone entirely: local micros, offset 0
          case TimestampNTZType => Some((ts, 0L))
          case _ => None
        }
      case _ => None
    }
  }

  /** Matches a raw timestamp child whose zone (taken from the OUTER
    * time-of-day expression) is fixed; NTZ ignores the zone entirely.
    */
  private def fixedTs(ts: Expression,
                      tzId: Option[String]): Option[(Expression, Long)] =
    ts.dataType match {
      case TimestampType => fixedOffsetSeconds(tzId).map(off => (ts, off))
      case TimestampNTZType => Some((ts, 0L))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Year(FixedZoneTsToDate(ts, off)) => EpochCivilField(ts, "year", off)
      case Month(FixedZoneTsToDate(ts, off)) => EpochCivilField(ts, "month", off)
      case DayOfMonth(FixedZoneTsToDate(ts, off)) => EpochCivilField(ts, "day", off)
      case Quarter(FixedZoneTsToDate(ts, off)) => EpochCivilField(ts, "quarter", off)
      // Time-of-day fields take the zone directly (no date cast involved):
      // modular arithmetic once the offset is one constant.
      case h @ Hour(ts, _) =>
        fixedTs(ts, h.timeZoneId)
          .map { case (t, off) => EpochCivilField(t, "hour", off) }.getOrElse(h)
      case m @ Minute(ts, _) =>
        fixedTs(ts, m.timeZoneId)
          .map { case (t, off) => EpochCivilField(t, "minute", off) }.getOrElse(m)
      case s @ Second(ts, _) =>
        fixedTs(ts, s.timeZoneId)
          .map { case (t, off) => EpochCivilField(t, "second", off) }.getOrElse(s)
    }
}
