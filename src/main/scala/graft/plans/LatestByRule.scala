package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrites the declarative latest-row-per-key idiom —
  *
  * {{{
  *   row_number() OVER (PARTITION BY k ORDER BY ts DESC, tie DESC) AS rn
  *     → WHERE rn = 1
  * }}}
  *
  * — into a hash aggregate `max_by(struct(<payload>), struct(ts, tie))`
  * grouped by k: QuestDB's `LATEST ON ts PARTITION BY k`, the plan
  * [[graft.queries.Relational.b1LatestOn]] hand-writes. The window form
  * range-shuffles EVERY row to its key's partition and SORTS each key
  * group in full before discarding all but one row per key; the aggregate
  * form folds rows into a single running argmax per key map-side, so the
  * shuffle carries one pre-aggregated row per (input partition, key) and
  * nothing is ever sorted — the difference between O(n log n) per key and
  * O(n) total, and at 100 TB between a spilling sort and a streaming
  * partial aggregate. All-ASC order specs rewrite to `min_by` (earliest
  * row per key) the same way.
  *
  * Row parity with the window plan, including edges:
  *   - Tie-breaks: the struct ordering compares lexicographically, which
  *     equals the multi-key ORDER BY when every key has the SAME
  *     direction (the guard below); mixed directions don't match.
  *   - Nulls: the guard admits only the DEFAULT null ordering (DESC +
  *     NULLS LAST, ASC + NULLS FIRST). Struct comparison ranks a null
  *     field below any value, so max_by makes nulls lose (= NULLS LAST)
  *     and min_by makes them win (= NULLS FIRST) — and because the
  *     ordering argument is the (never-null) struct rather than the bare
  *     column, max_by's ignore-null-ordering rule never drops a row: an
  *     all-null-ts key still yields one row, exactly like rn = 1.
  *   - Incomplete orderings: if (ts, ties) doesn't totally order a key's
  *     rows, rn = 1 is nondeterministic between the tied rows and the
  *     argmax picks one of the same tied set — no new nondeterminism.
  *
  * Applied per plan like [[AsofJoinRule]] (`GraftBridge.withRule`), not
  * for soundness (the rewrite is row-identical) but for plan stability:
  * a rule injected into a session would silently replace Window plans in
  * every later query, so a query opts in for its own plan only. Matched
  * shape is conservative: a Filter
  * of exactly `rn = 1` (or `rn <= 1`) over a single-expression
  * row_number Window partitioned and ordered on bare attributes, through
  * the WindowGroupLimit Spark's own InferWindowGroupLimit may already
  * have inserted below it (subsumed: a partial argmax beats a partial
  * top-1 sort-filter). Anything else is left untouched.
  */
object LatestByRule extends Rule[LogicalPlan] {

  private def isRnOne(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case _ => false
  }

  /** Strip the WindowGroupLimit the main optimizer batch inserts between
    * the Window and its child (the rule runs on the optimized plan). */
  private def stripLimit(p: LogicalPlan): LogicalPlan = p match {
    case WindowGroupLimit(_, _, _, _, child) => child
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(fc,
        Window(Seq(al @ Alias(WindowExpression(RowNumber(), _), _)),
          partSpec, orderSpec, wchild, _))
        if isRnOne(fc, al.toAttribute) =>
      rewrite(f, al, partSpec, orderSpec, stripLimit(wchild)).getOrElse(f)
  }

  private def rewrite(
      f: Filter, rnAlias: Alias,
      partSpec: Seq[Expression], orderSpec: Seq[SortOrder],
      child: LogicalPlan): Option[LogicalPlan] = {
    // partition keys: bare child attributes (empty = global latest row)
    val partKeys: Seq[Attribute] = partSpec.map {
      case a: Attribute if child.outputSet.contains(a) => a
      case _ => return None
    }
    // order keys: bare child attributes, uniform direction, default nulls
    if (orderSpec.isEmpty) return None
    val orderKeys: Seq[Attribute] = orderSpec.map {
      case SortOrder(a: Attribute, _, _, _)
          if child.outputSet.contains(a) => a
      case _ => return None
    }
    val descending = orderSpec.head.direction == Descending
    val defaultOk = orderSpec.forall { so =>
      so.direction == orderSpec.head.direction &&
        so.nullOrdering == so.direction.defaultNullOrdering
    }
    if (!defaultOk) return None

    val partIds = partKeys.map(_.exprId).toSet
    val payload: Seq[Attribute] =
      child.output.filterNot(a => partIds.contains(a.exprId))
    if (payload.isEmpty) return None

    def namedStruct(as: Seq[Attribute]) =
      CreateNamedStruct(as.flatMap(a => Seq(Literal(a.name), a)))
    val ordering = namedStruct(orderKeys) // never null: see scaladoc
    val argmax =
      if (descending) MaxBy(namedStruct(payload), ordering)
      else MinBy(namedStruct(payload), ordering)
    val latest = Alias(argmax.toAggregateExpression(), "_graft_latest")()
    val agg = Aggregate(partKeys, partKeys :+ latest, child)

    val pIdx = payload.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    val outList: Seq[NamedExpression] = f.output.map { a =>
      if (a.exprId == rnAlias.exprId) {
        Alias(Literal(1), a.name)(exprId = a.exprId) // rn = 1 by selection
      } else if (partIds.contains(a.exprId)) {
        a
      } else pIdx.get(a.exprId) match {
        case Some(i) =>
          Alias(GetStructField(latest.toAttribute, i, Some(a.name)),
            a.name)(exprId = a.exprId)
        case None => return None
      }
    }
    Some(Project(outList, agg))
  }
}
