package graft.sources

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.ResolvedTable
import org.apache.spark.sql.catalyst.plans.logical.{AnalyzeTable, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand

import graft.storage.GraftTable

/** Session extensions for graft:
  *
  *  - routes SQL `ANALYZE TABLE` on a graft catalog table through
  *    [[GraftTable.analyze]] — the reference hooks ANALYZE via its FDW
  *    `AnalyzeForeignTable` callback (`cstore_fdw.c:2061-2082`); Spark
  *    has no DSv2 ANALYZE contract, so a resolution rule substitutes
  *    the command;
  *  - rewrites aligned `date_trunc`/`trunc`/`year` EQUALITY predicates
  *    into range predicates ([[GraftTruncRangeRule]]) so the monthly/
  *    yearly rollup filter reaches zone maps and row-group stats.
  *
  * Installed by every engine session (`graft.Tables.session`, or
  * `spark.sql.extensions=graft.sources.GraftExtensions`).
  *
  * {{{
  *   spark.sql.extensions = graft.sources.GraftExtensions
  *   ANALYZE TABLE graft.db.t COMPUTE STATISTICS          -- full column stats
  *   ANALYZE TABLE graft.db.t COMPUTE STATISTICS NOSCAN   -- row count + size only
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => GraftAnalyzeRule)
    ext.injectOptimizerRule(_ => GraftTruncRangeRule)
  }
}

/** Optimizer rule: rewrite `date_trunc`/`trunc`/`year` COMPARISONS
  * against aligned literals (=, >=, >, <, <=, either operand order)
  * into RANGE predicates on the raw column, so they reach the data
  * source as translatable filters — zone maps, parquet row-group
  * stats, and partition pruning all see `d >= lo AND d < hi` (or the
  * one-sided bound) where the original `trunc(d, 'month') = lit` is an
  * untranslatable black box that forces a full scan. The monthly/
  * yearly rollup filter is among the most common analytics predicates;
  * at 100 TB the difference is reading one month's files vs all of
  * them. (The reference benefits from the same transform implicitly:
  * PostgreSQL's planner cannot use cstore skip lists through a
  * function either — this rule is the Spark-first fix at the layer
  * Spark provides for it, `injectOptimizerRule`.)
  *
  * Soundness: the rewrite fires ONLY when the literal is exactly
  * ALIGNED to the truncation unit — then `trunc(d) = L ⟺ L ≤ d <
  * L+unit` holds as a full three-valued-logic expression equivalence
  * (null d ⟹ null on both sides), so the rule is safe in any Filter
  * condition, under Not, and with nested boolean structure. An
  * unaligned literal (always-false predicate for non-null input) is
  * left untouched — still correct, just unoptimized. Runs in the
  * user-provided optimizer batch, i.e. after constant folding, so
  * literal-valued right-hand sides have already folded. */
object GraftTruncRangeRule extends Rule[LogicalPlan] {
  import java.time.LocalDate
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.Filter
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transform {
        // equality: trunc(c) = L  ⟺  L ≤ c < L+unit
        case e @ EqualTo(l, r) =>
          bounds(l, r).orElse(bounds(r, l)).map { case (c, lo, hi, dt) =>
            range(c, lo, hi, dt)
          }.getOrElse(e)
        // inequalities: trunc is MONOTONE in its input and an aligned
        // literal is the INFIMUM of its unit, so for aligned L:
        //   trunc(c) >= L ⟺ c >= L        trunc(c) <  L ⟺ c <  L
        //   trunc(c) <= L ⟺ c <  L+unit   trunc(c) >  L ⟺ c >= L+unit
        // (the flipped literal-on-left forms mirror). Alignment + the
        // unit upper bound reuse the equality machinery, including the
        // DST-day guard — conservative for the lower-bound-only forms,
        // but uniformly sound.
        case e @ GreaterThanOrEqual(l, r) =>
          bounds(l, r).map { case (c, lo, _, dt) =>
            GreaterThanOrEqual(c, Literal(lo, dt)): Expression
          }.orElse(bounds(r, l).map { case (c, _, hi, dt) =>
            LessThan(c, Literal(hi, dt)): Expression // L >= trunc(c)
          }).getOrElse(e)
        case e @ GreaterThan(l, r) =>
          bounds(l, r).map { case (c, _, hi, dt) =>
            GreaterThanOrEqual(c, Literal(hi, dt)): Expression
          }.orElse(bounds(r, l).map { case (c, lo, _, dt) =>
            LessThan(c, Literal(lo, dt)): Expression // L > trunc(c)
          }).getOrElse(e)
        case e @ LessThan(l, r) =>
          bounds(l, r).map { case (c, lo, _, dt) =>
            LessThan(c, Literal(lo, dt)): Expression
          }.orElse(bounds(r, l).map { case (c, _, hi, dt) =>
            GreaterThanOrEqual(c, Literal(hi, dt)): Expression // L < trunc(c)
          }).getOrElse(e)
        case e @ LessThanOrEqual(l, r) =>
          bounds(l, r).map { case (c, _, hi, dt) =>
            LessThan(c, Literal(hi, dt)): Expression
          }.orElse(bounds(r, l).map { case (c, lo, _, dt) =>
            GreaterThanOrEqual(c, Literal(lo, dt)): Expression // L <= trunc(c)
          }).getOrElse(e)
      }
      if (rewritten.fastEquals(cond)) f else f.copy(condition = rewritten)
  }

  private def range(col: Expression, lo: Any, hi: Any,
      dt: DataType): Expression =
    And(GreaterThanOrEqual(col, Literal(lo, dt)),
      LessThan(col, Literal(hi, dt)))

  /** Epoch days as Int, or None when the bound falls outside the
    * DateType domain (a silent wrap would return WRONG rows — refuse
    * the rewrite instead; the original predicate stays correct). */
  private def daysInt(d: LocalDate): Option[Int] =
    try Some(Math.toIntExact(d.toEpochDay))
    catch { case _: ArithmeticException => None }

  /** The (column, aligned lower, exclusive upper, type) quadruple a
    * trunc/year comparison against an aligned literal rewrites
    * through, or None (unaligned / unsupported / out of domain —
    * the original predicate stays untouched and correct). */
  private def bounds(fn: Expression, lit: Expression)
      : Option[(Expression, Any, Any, DataType)] = (fn, lit) match {
    // trunc(dateCol, fmt) vs DATE 'aligned'
    case (TruncDate(date, Literal(fmt: UTF8String, StringType)),
        Literal(days: Int, DateType)) if date.deterministic =>
      dateUpper(fmt.toString.toLowerCase(java.util.Locale.ROOT),
        LocalDate.ofEpochDay(days.toLong))
        .flatMap(daysInt)
        .map(hi => (date, days, hi, DateType))
    // year(dateCol) vs n — the year range keeps LocalDate.of in its
    // legal domain and the epoch-day bounds inside Int (a year beyond
    // it is a legitimate always-false predicate; leave it alone)
    case (Year(date), Literal(y: Int, IntegerType))
        if date.deterministic && date.dataType == DateType &&
          y > -290000 && y < 290000 =>
      Some((date,
        LocalDate.of(y, 1, 1).toEpochDay.toInt,
        LocalDate.of(y + 1, 1, 1).toEpochDay.toInt, DateType))
    // date_trunc(fmt, tsCol) vs TIMESTAMP 'aligned' (session/expr zone)
    case (TruncTimestamp(Literal(fmt: UTF8String, StringType), ts, tzId),
        Literal(micros: Long, TimestampType)) if ts.deterministic =>
      tsUpper(fmt.toString.toLowerCase(java.util.Locale.ROOT), micros,
        tzId.getOrElse("UTC"))
        .map(hi => (ts, micros, hi, TimestampType))
    // CAST(tsCol AS DATE) vs DATE 'd' — the other spelling of the
    // daily-rollup predicate (`to_date(ts)` analyzes to this same Cast
    // — ParseToDate is RuntimeReplaceable — so both spellings land
    // here). The cast takes the instant's LOCAL DATE in the cast's
    // zone; local date is MONOTONE in the instant (offset transitions
    // are < 24h), so the instants casting to d are exactly
    // [startOfDay(d), startOfDay(d+1)) and every comparison shape
    // rewrites through the same bounds — EXACTLY, with no DST-day
    // exclusion: unlike trunc('day'), which re-truncates at each row's
    // own offset, the cast is a pure floor in a monotone mapping, and
    // Java's atStartOfDay(zone) yields the first valid instant of a
    // gap day (spring-forward), i.e. the true infimum. Every date
    // literal is "aligned" at day grain — no alignment guard needed. */
    case (Cast(ts, DateType, tzId, _), Literal(days: Int, DateType))
        if ts.deterministic && ts.dataType == TimestampType &&
          tzId.isDefined => // no resolved zone ⇒ refuse (cannot occur
                            // post-analysis; ResolveTimeZone fills it)
      castDayBounds(days, tzId.get)
        .map { case (lo, hi) => (ts, lo, hi, TimestampType) }
    case _ => None
  }

  /** [startOfDay(d), startOfDay(d+1)) in micros for the zone, or None
    * when the zone fails to parse or the bounds overflow the
    * TimestampType domain (refuse the rewrite; the original predicate
    * stays correct). */
  private def castDayBounds(days: Int, zone: String): Option[(Long, Long)] = {
    import java.time.{Instant, ZoneId}
    import java.time.temporal.ChronoUnit
    try {
      val zid = ZoneId.of(zone)
      val d = LocalDate.ofEpochDay(days.toLong)
      val lo = ChronoUnit.MICROS.between(Instant.EPOCH,
        d.atStartOfDay(zid).toInstant)
      val hi = ChronoUnit.MICROS.between(Instant.EPOCH,
        d.plusDays(1).atStartOfDay(zid).toInstant)
      Some((lo, hi))
    } catch { case _: Exception => None }
  }

  /** Exclusive upper bound for an ALIGNED date literal, or None when
    * the unit is unsupported or the literal is not on a unit boundary. */
  private def dateUpper(fmt: String, d: LocalDate): Option[LocalDate] =
    fmt match {
      case "year" | "yyyy" | "yy" if d.getDayOfYear == 1 =>
        Some(d.plusYears(1))
      case "quarter" if d.getDayOfMonth == 1 && (d.getMonthValue - 1) % 3 == 0 =>
        Some(d.plusMonths(3))
      case "month" | "mon" | "mm" if d.getDayOfMonth == 1 =>
        Some(d.plusMonths(1))
      case "week" if d.getDayOfWeek == java.time.DayOfWeek.MONDAY =>
        Some(d.plusDays(7))
      case _ => None
    }

  /** Exclusive upper bound (micros) for an ALIGNED timestamp literal in
    * the expression's zone, or None. */
  private def tsUpper(fmt: String, micros: Long, zone: String): Option[Long] = {
    import java.time.{Instant, ZoneId}
    import java.time.temporal.ChronoUnit
    val zid =
      try ZoneId.of(zone)
      catch { case _: Exception => return None }
    val inst = Instant.EPOCH.plus(micros, ChronoUnit.MICROS)
    val zdt = inst.atZone(zid)
    val subDay = zdt.getHour == 0 && zdt.getMinute == 0 &&
      zdt.getSecond == 0 && zdt.getNano == 0
    val upper = fmt match {
      case "year" | "yyyy" | "yy" if subDay && zdt.getDayOfYear == 1 =>
        Some(zdt.plusYears(1))
      case "quarter" if subDay && zdt.getDayOfMonth == 1 &&
          (zdt.getMonthValue - 1) % 3 == 0 =>
        Some(zdt.plusMonths(3))
      case "month" | "mon" | "mm" if subDay && zdt.getDayOfMonth == 1 =>
        Some(zdt.plusMonths(1))
      case "week" if subDay &&
          zdt.getDayOfWeek == java.time.DayOfWeek.MONDAY =>
        Some(zdt.plusDays(7))
      // DAY is the one unit Spark truncates at each ROW's own offset
      // (ZonedDateTime.truncatedTo(DAYS)), so on a DST fall-back day —
      // two local midnights — rows after the transition truncate to the
      // SECOND midnight, not the literal: only rewrite when no offset
      // transition falls inside the day (UTC and fixed-offset zones
      // always qualify; week+ units use date-based truncation with the
      // earlier offset and need no guard)
      case "day" | "dd" if subDay && {
        val next = zid.getRules.nextTransition(inst)
        next == null ||
          !next.getInstant.isBefore(zdt.plusDays(1).toInstant)
      } => Some(zdt.plusDays(1))
      case "hour" if zdt.getMinute == 0 && zdt.getSecond == 0 &&
          zdt.getNano == 0 =>
        Some(zdt.plusHours(1))
      case "minute" if zdt.getSecond == 0 && zdt.getNano == 0 =>
        Some(zdt.plusMinutes(1))
      case _ => None
    }
    upper.map(u => ChronoUnit.MICROS.between(Instant.EPOCH, u.toInstant))
  }
}

object GraftAnalyzeRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case AnalyzeTable(r: ResolvedTable, partitionSpec, noScan)
        if r.table.isInstanceOf[GraftSparkTable] =>
      require(partitionSpec.isEmpty, "graft tables are not partitioned")
      GraftAnalyzeCommand(r.table.asInstanceOf[GraftSparkTable].tableLocation, noScan)
  }
}

/** Runs ANALYZE on the graft table: distributed min/max/ndv/null
  * collection committed to `_graft_stats.json`, which the scan's
  * statistics hook then serves to Catalyst. */
case class GraftAnalyzeCommand(location: String, noScan: Boolean)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftTable.open(session, location).analyze(noScan = noScan)
    Seq.empty
  }
}
