package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Optimizer rule: rewrites an inner join whose ONLY predicate is a band
  * condition — `point ≥/> lo AND point ≤/< hi` with `point` from one side
  * and both bounds from the other — into the binned equi-join shape.
  *
  * Spark's sole native plan for a non-equi join is a nested loop (every
  * row × every range; broadcast or cartesian). The rewrite gives the join
  * an equi key: each range row is exploded to the bin ids its [lo, hi]
  * span covers (`sequence(floor(lo/w), floor(hi/w))`), each point row
  * maps to its single bin (`floor(point/w)`), the join runs on bin
  * equality — shuffle-parallel, linear in matches — and the original band
  * predicate stays as the residual filter, so results are identical
  * row-for-row. Binning via any monotonic bucketer is sound: lo ≤ point ≤
  * hi implies bin(lo) ≤ bin(point) ≤ bin(hi), so every matching pair
  * meets in exactly one bucket (the point's), and no dedup is needed.
  * Null points/bounds produce a null or empty bin key and drop out of the
  * inner join exactly as they fail the original band predicate.
  *
  * This is the [[graft.operators.ScaleOps.rangeBinJoin]] operator as a
  * `Rule[LogicalPlan]`, so a user writing the declarative
  * `fact.join(ranges, v.between(lo, hi))` gets the scale path without
  * restructuring the query: `GraftBridge.withRule(df,
  * RangeBinJoinRule(binWidth))`. `binWidth` is in value units — a
  * data-dependent tuning choice the engine cannot infer, so the caller
  * names it for its own plan. The rewritten join carries an equi
  * conjunct, so the rule never re-fires on its own output.
  */
case class RangeBinJoinRule(binWidth: Double) extends Rule[LogicalPlan] {
  require(binWidth > 0 && !binWidth.isInfinite,
    s"RangeBinJoinRule: bin width must be positive and finite, got $binWidth")

  /** point expr, bounds (both on the opposite side), point-side flag. */
  private case class Band(point: Expression, lo: Expression, hi: Expression, pointOnLeft: Boolean)

  /** Which child the expression's references live entirely on, if one. */
  private def side(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] =
    if (e.references.isEmpty) None
    else if (e.references.subsetOf(left.outputSet)) Some(true)
    else if (e.references.subsetOf(right.outputSet)) Some(false)
    else None

  /** Both readings of one comparison conjunct as
    * (point, bound, pointOnLeft, isLowerBound). */
  private def readings(c: Expression, left: LogicalPlan, right: LogicalPlan)
      : Seq[(Expression, Expression, Boolean, Boolean)] = {
    val (a, b, firstIsLowerIfPoint) = c match {
      case GreaterThanOrEqual(x, y) => (x, y, true) // x >= y: point x → lower bound y
      case GreaterThan(x, y)        => (x, y, true)
      case LessThanOrEqual(x, y)    => (x, y, false) // x <= y: point x → upper bound y
      case LessThan(x, y)           => (x, y, false)
      case _ => return Nil
    }
    val numeric = Seq(a, b).forall(e =>
      e.deterministic && e.dataType.isInstanceOf[NumericType])
    (side(a, left, right), side(b, left, right)) match {
      case (Some(sa), Some(sb)) if sa != sb && numeric =>
        Seq((a, b, sa, firstIsLowerIfPoint), (b, a, sb, !firstIsLowerIfPoint))
      case _ => Nil
    }
  }

  /** Match `lower AND upper` over a shared point expression. */
  private def matchBand(cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[Band] =
    cond match {
      case And(c1, c2) =>
        (for {
          (p1, b1, s1, low1) <- readings(c1, left, right)
          (p2, b2, s2, low2) <- readings(c2, left, right)
          if s1 == s2 && low1 != low2 && p1.semanticEquals(p2)
        } yield {
          if (low1) Band(p1, lo = b1, hi = b2, pointOnLeft = s1)
          else Band(p1, lo = b2, hi = b1, pointOnLeft = s1)
        }).headOption
      case _ => None
    }

  private def binOf(e: Expression): Expression =
    Floor(Divide(Cast(e, DoubleType), Literal(binWidth, DoubleType)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) if cond.deterministic =>
      matchBand(cond, left, right) match {
        case Some(band) =>
          val pointChild = if (band.pointOnLeft) left else right
          val rangeChild = if (band.pointOnLeft) right else left
          val binAlias = Alias(binOf(band.point), "_graft_bin")()
          val pointPlan = Project(pointChild.output :+ binAlias, pointChild)
          val genAttr = AttributeReference("_graft_bin_r", LongType, nullable = false)()
          val genPlan = Generate(
            // Sequence is TimeZoneAware; post-analysis rules must fill the
            // zone themselves or the plan flips back to unresolved.
            Explode(Sequence(binOf(band.lo), binOf(band.hi), None,
              Some(conf.sessionLocalTimeZone))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(genAttr), child = rangeChild)
          val newCond = And(EqualTo(binAlias.toAttribute, genAttr), cond)
          val newJoin =
            if (band.pointOnLeft) Join(pointPlan, genPlan, Inner, Some(newCond), hint)
            else Join(genPlan, pointPlan, Inner, Some(newCond), hint)
          Project(j.output, newJoin)
        case None => j
      }
  }
}
