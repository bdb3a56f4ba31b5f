package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Optimizer rule: derive raw-column bounds from time predicates on a
  * CONVERTED timestamp, so they reach the parquet scan.
  *
  * The `events` table stores TIMESTAMP(NANOS), which `Tables.load`
  * reads as a raw nanosecond long and converts with
  * `timestamp_micros(ts div 1000)`. A filter on the converted column —
  * the natural thing every query writes — cannot push past the
  * conversion expression, so the scan reads the full archive (the
  * PLANS.md pushdown barrier). Catalyst can't know the conversion is
  * monotone; this rule encodes that domain fact: for any predicate
  * `timestamp_micros(x div 1000) ⋈ TIMESTAMP_LITERAL` it conjoins an
  * IMPLIED bound on `x` itself (widened by 999 ns so it is sound for
  * both floor and truncating division, i.e. also for pre-epoch
  * values). The original predicate is kept — results are bit-identical
  * — but the new raw-long conjunct is scan-translatable and lands in
  * `PushedFilters`, turning a full-archive scan into row-group-pruned
  * reads at 100 TB.
  *
  * Installed by [[graft.GraftExtensions]] (`injectOptimizerRule`): it
  * runs in the operator-optimization fixed point, where predicate
  * pushdown substitutes the Project alias, so the conversion
  * expression sits inline in a Filter directly above the relation —
  * exactly where physical planning collects scan filters. Idempotent
  * (skips conjuncts already present), as a fixed-point rule must be.
  */
object PushTimestampConversionBounds extends Rule[LogicalPlan]
    with PredicateHelper {

  /** Matches `cast(ntz AS timestamp)` under a UTC session zone → ntz.
    *
    * This is the NEW physical layout after the corpus regenerated
    * `events.ts` as `timestamp_ntz[us]`: `Tables.load` casts it to the
    * instant contract, and a filter on the casted column is again a
    * pushdown barrier. In UTC the cast is an exact order-preserving
    * bijection on the underlying micros, so a TimestampType literal
    * bound maps 1:1 to a TimestampNTZType literal bound on the stored
    * attribute — which IS scan-translatable. Restricted to UTC (the
    * engine's only session zone): a DST zone's local→instant map is
    * not monotone through spring-forward gaps. */
  private def asNtzCast(e: Expression): Option[Expression] = e match {
    case c @ Cast(child, TimestampType, _, _)
        if child.dataType == TimestampNTZType && child.deterministic &&
          c.timeZoneId.exists(z =>
            java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC) =>
      Some(child)
    case _ => None
  }

  /** Exact NTZ bounds implied by a comparison of the casted value
    * against micros literal `t` (UTC: same micros value, new type). */
  private def derivedNtz(cmp: Expression): Seq[Expression] = {
    def lit(t: Long) = Literal(t, TimestampNTZType)
    cmp match {
      case GreaterThanOrEqual(c, Literal(t: Long, TimestampType)) =>
        asNtzCast(c).map(ntz => GreaterThanOrEqual(ntz, lit(t))).toSeq
      case GreaterThan(c, Literal(t: Long, TimestampType)) =>
        asNtzCast(c).map(ntz => GreaterThan(ntz, lit(t))).toSeq
      case LessThanOrEqual(c, Literal(t: Long, TimestampType)) =>
        asNtzCast(c).map(ntz => LessThanOrEqual(ntz, lit(t))).toSeq
      case LessThan(c, Literal(t: Long, TimestampType)) =>
        asNtzCast(c).map(ntz => LessThan(ntz, lit(t))).toSeq
      case EqualTo(c, Literal(t: Long, TimestampType)) =>
        asNtzCast(c).map(ntz => EqualTo(ntz, lit(t))).toSeq
      case LessThanOrEqual(l @ Literal(_: Long, TimestampType), c)
          if !c.isInstanceOf[Literal] => derivedNtz(GreaterThanOrEqual(c, l))
      case LessThan(l @ Literal(_: Long, TimestampType), c)
          if !c.isInstanceOf[Literal] => derivedNtz(GreaterThan(c, l))
      case GreaterThanOrEqual(l @ Literal(_: Long, TimestampType), c)
          if !c.isInstanceOf[Literal] => derivedNtz(LessThanOrEqual(c, l))
      case GreaterThan(l @ Literal(_: Long, TimestampType), c)
          if !c.isInstanceOf[Literal] => derivedNtz(LessThan(c, l))
      case EqualTo(l @ Literal(_: Long, TimestampType), c)
          if !c.isInstanceOf[Literal] => derivedNtz(EqualTo(c, l))
      case _ => Nil
    }
  }

  /** Matches `timestamp_micros(raw div 1000)` → raw. */
  private def asConv(e: Expression): Option[Expression] = e match {
    case m: MicrosToTimestamp => m.child match {
      case d: IntegralDivide if d.left.dataType == LongType &&
          d.left.deterministic =>
        d.right match {
          case Literal(v: Long, _) if v == 1000L => Some(d.left)
          case Literal(v: Int, _) if v == 1000 => Some(d.left)
          case _ => None
        }
      case _ => None
    }
    case _ => None
  }

  private def safe(t: Long): Boolean =
    // Long.MinValue first: math.abs(Long.MinValue) is negative and
    // would sneak past the magnitude check into an overflowing t*1000
    t != Long.MinValue && math.abs(t) < (Long.MaxValue - 1000L) / 1000L

  /** Sound (floor- AND truncation-division) raw bounds implied by a
    * comparison of the converted value against micros literal `t`. */
  private def derived(cmp: Expression): Seq[Expression] = cmp match {
    case GreaterThanOrEqual(c, Literal(t: Long, TimestampType)) if safe(t) =>
      asConv(c).map(raw =>
        GreaterThanOrEqual(raw, Literal(t * 1000L - 999L))).toSeq
    case GreaterThan(c, Literal(t: Long, TimestampType)) if safe(t) =>
      asConv(c).map(raw =>
        GreaterThanOrEqual(raw, Literal(t * 1000L + 1L))).toSeq
    case LessThanOrEqual(c, Literal(t: Long, TimestampType)) if safe(t) =>
      asConv(c).map(raw =>
        LessThanOrEqual(raw, Literal(t * 1000L + 999L))).toSeq
    case LessThan(c, Literal(t: Long, TimestampType)) if safe(t) =>
      asConv(c).map(raw =>
        LessThanOrEqual(raw, Literal(t * 1000L - 1L))).toSeq
    case EqualTo(c, Literal(t: Long, TimestampType)) if safe(t) =>
      asConv(c).toSeq.flatMap(raw => Seq(
        GreaterThanOrEqual(raw, Literal(t * 1000L - 999L)),
        LessThanOrEqual(raw, Literal(t * 1000L + 999L))))
    // literal-on-the-left orientations; the non-literal guard on the
    // other side prevents literal⋈literal predicates from bouncing
    // between the mirrored cases forever
    case LessThanOrEqual(l @ Literal(_: Long, TimestampType), c)
        if !c.isInstanceOf[Literal] =>
      derived(GreaterThanOrEqual(c, l))
    case LessThan(l @ Literal(_: Long, TimestampType), c)
        if !c.isInstanceOf[Literal] =>
      derived(GreaterThan(c, l))
    case GreaterThanOrEqual(l @ Literal(_: Long, TimestampType), c)
        if !c.isInstanceOf[Literal] =>
      derived(LessThanOrEqual(c, l))
    case GreaterThan(l @ Literal(_: Long, TimestampType), c)
        if !c.isInstanceOf[Literal] =>
      derived(LessThan(c, l))
    case EqualTo(l @ Literal(_: Long, TimestampType), c)
        if !c.isInstanceOf[Literal] =>
      derived(EqualTo(c, l))
    case _ => Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val existing = splitConjunctivePredicates(cond)
      val extra = existing.flatMap(p => derived(p) ++ derivedNtz(p))
        .filterNot(n => existing.exists(_.semanticEquals(n)))
        .distinct
      if (extra.isEmpty) f
      else Filter(And(cond, extra.reduce(And)), child)
  }
}
