package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Makes time predicates on a DERIVED timestamp column reach the parquet
  * scan. [[graft.Tables.events]] surfaces the raw TIMESTAMP(NANOS)-as-long
  * column as `timestamp_micros(raw div 1000)`; a comparison against that
  * derivation is opaque to datasource pushdown, so without this rule a
  * time-windowed query (q63/q66 shape — every Grafana panel) reads EVERY
  * row group of a 100 TB table and filters rows post-scan. The fix is the
  * classic derived-predicate trick:
  *
  *  - `unix_micros(timestamp_micros(x))` simplifies to `x` (exact
  *    identity), so timespan arithmetic over the derived column folds
  *    back onto the raw long;
  *  - every top-level conjunct comparing `timestamp_micros(a div n)`
  *    with a timestamp literal k gains a CONJOINED bound on the raw
  *    attribute `a` — widened by (n-1) so it is implied by the original
  *    predicate regardless of truncation direction (`div` truncates
  *    toward zero, which is monotone, so the widened bound is always
  *    sound). The original predicate stays for exactness; the added
  *    plain-attribute bound is what the scan can push into row-group
  *    statistics pruning.
  *
  * Conjuncts only: a bound derived from a predicate under OR/NOT would
  * not be implied. Idempotent (bounds already present are not re-added),
  * so it is safe in a fixed-point batch. Installed by
  * [[graft.GraftExtensions]] (cluster path) and by
  * [[graft.Graft.prepare]] (library path). */
object NanosTimePushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** timestamp_micros(a div n) over a plain long attribute. */
  private object DerivedTs {
    def unapply(e: Expression): Option[(Attribute, Long)] = e match {
      case MicrosToTimestamp(d: IntegralDivide) => (d.left, d.right) match {
        case (a: Attribute, Literal(n: Long, LongType)) if n > 0 => Some((a, n))
        case _ => None
      }
      case _ => None
    }
  }

  private def lower(a: Attribute, n: Long, k: Long): Seq[Expression] =
    try Seq(GreaterThanOrEqual(a,
      Literal(Math.subtractExact(Math.multiplyExact(k, n), n - 1), LongType)))
    catch { case _: ArithmeticException => Nil } // overflow: skip, original filter still exact
  private def upper(a: Attribute, n: Long, k: Long): Seq[Expression] =
    try Seq(LessThanOrEqual(a,
      Literal(Math.addExact(Math.multiplyExact(k, n), n - 1), LongType)))
    catch { case _: ArithmeticException => Nil }

  /** Bound on the raw column implied by one conjunct (empty when none). */
  private def implied(p: Expression): Seq[Expression] = p match {
    case GreaterThanOrEqual(DerivedTs(a, n), Literal(k: Long, TimestampType)) => lower(a, n, k)
    case GreaterThan(DerivedTs(a, n), Literal(k: Long, TimestampType)) => lower(a, n, k)
    case LessThanOrEqual(DerivedTs(a, n), Literal(k: Long, TimestampType)) => upper(a, n, k)
    case LessThan(DerivedTs(a, n), Literal(k: Long, TimestampType)) => upper(a, n, k)
    case EqualTo(DerivedTs(a, n), Literal(k: Long, TimestampType)) =>
      lower(a, n, k) ++ upper(a, n, k)
    // literal-on-the-left flips the direction
    case GreaterThanOrEqual(Literal(k: Long, TimestampType), DerivedTs(a, n)) => upper(a, n, k)
    case GreaterThan(Literal(k: Long, TimestampType), DerivedTs(a, n)) => upper(a, n, k)
    case LessThanOrEqual(Literal(k: Long, TimestampType), DerivedTs(a, n)) => lower(a, n, k)
    case LessThan(Literal(k: Long, TimestampType), DerivedTs(a, n)) => lower(a, n, k)
    case EqualTo(Literal(k: Long, TimestampType), DerivedTs(a, n)) =>
      lower(a, n, k) ++ upper(a, n, k)
    case _ => Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val simplified = plan.transformAllExpressions {
      case UnixMicros(MicrosToTimestamp(x)) => x
    }
    simplified.transform {
      case f @ Filter(cond, child) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val extras = conjuncts.flatMap(implied)
          .filterNot(e => conjuncts.exists(_.semanticEquals(e)))
        if (extras.isEmpty) f
        else Filter((conjuncts ++ extras).reduce(And), child)
    }
  }
}
