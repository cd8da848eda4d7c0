package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Last
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan,
  Project, Union, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StructField, StructType}

/** Optimizer rule: rewrites the declarative as-of join idiom —
  *
  * {{{
  *   left JOIN right ON l.k = r.k AND r.ts <= l.ts          -- or <
  *     → row_number() OVER (PARTITION BY <left id> ORDER BY r.ts DESC) rn
  *     → WHERE rn = 1
  * }}}
  *
  * — into [[graft.operators.ScaleOps.asofJoin]]'s union + single-window
  * plan. The declarative form materializes EVERY (left row × earlier right
  * row) pair before the window throws all but one away: with r right rows
  * per key at or before a left row, that join is O(L·r) rows — quadratic
  * per key — and on skewed history tables it is the classic 100 TB
  * OOM/spill shape. The rewrite unions both sides tagged with a kind bit,
  * sorts each key group once by (ts, kind, tie), and carries the latest
  * right payload forward with `last(_, ignoreNulls)` over an unbounded-
  * preceding row frame: ONE shuffle on the join key, output linear in
  * input, no pair blow-up. Results are row-identical to the original plan
  * (equal-ts visibility decided by the kind bit: inclusive `<=` sorts
  * right rows before left at equal ts, strict `<` after; secondary window
  * sort keys become reversed tie-break orderings).
  *
  * Soundness contract (why the rule is never injected into a session):
  * `rn = 1` picks one row per WINDOW PARTITION, which equals "one row per
  * left row" only when the window's partition key uniquely identifies left
  * rows — the universal as-of idiom (partition by the left table's primary
  * key), but a property the optimizer cannot verify from the plan. The
  * caller asserts it by applying the rule to its own plan,
  * `GraftBridge.withRule(df, AsofJoinRule)`; no other plan is touched.
  *
  * Matched shape (conservative by construction, like
  * [[RangeBinJoinRule]]): Filter(rn = 1) over a single-expression
  * row_number Window whose child is an Inner or LeftOuter Join (optionally
  * through a WindowGroupLimit — Spark's own top-1 pre-filter, subsumed by
  * the rewrite — and/or an attributes-only Project). The join condition
  * must split into cross-side attribute equi-conjuncts plus exactly ONE
  * cross-side timestamp inequality; the window must partition on left-side
  * attributes and order by the inequality's right timestamp DESC first.
  * Left rows with no qualifying right row keep LeftOuter semantics (null
  * payload) or are filtered for Inner. Right rows with null key/ts are
  * pre-filtered, mirroring the join conditions' null rejection; null-ts
  * left rows sort nulls-first, see no payload, and so match the original
  * plan's no-match behavior in both join modes.
  */
object AsofJoinRule extends Rule[LogicalPlan] {

  /** The decomposed join condition. */
  private case class Keys(
      leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
      leftTs: Attribute, rightTs: Attribute, strict: Boolean)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  private def isRnOne(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case _ => false
  }

  /** Split the join condition into equi pairs + one ts inequality, all
    * cross-side bare attributes. */
  private def matchCond(
      cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[Keys] = {
    val lOut = left.outputSet
    val rOut = right.outputSet
    var equis = List.empty[(Attribute, Attribute)]
    var ts: Option[(Attribute, Attribute, Boolean)] = None // (lTs, rTs, strict)
    def cross(a: Attribute, b: Attribute): Option[(Attribute, Attribute)] =
      if (lOut.contains(a) && rOut.contains(b)) Some((a, b))
      else if (lOut.contains(b) && rOut.contains(a)) Some((b, a))
      else None
    conjuncts(cond).foreach {
      case EqualTo(a: Attribute, b: Attribute) =>
        cross(a, b) match {
          case Some(p) => equis ::= p
          case None => return None
        }
      // normalize to (right ts) ≤/< (left ts)
      case c @ (LessThanOrEqual(_, _) | LessThan(_, _) |
                GreaterThanOrEqual(_, _) | GreaterThan(_, _)) =>
        if (ts.isDefined) return None // one inequality only
        val (smaller, larger, strict) = c match {
          case LessThanOrEqual(x, y)    => (x, y, false)
          case LessThan(x, y)           => (x, y, true)
          case GreaterThanOrEqual(x, y) => (y, x, false)
          case GreaterThan(x, y)        => (y, x, true)
        }
        (smaller, larger) match {
          case (r: Attribute, l: Attribute)
              if rOut.contains(r) && lOut.contains(l) =>
            ts = Some((l, r, strict))
          case _ => return None
        }
      case _ => return None
    }
    ts.map { case (l, r, strict) =>
      Keys(equis.map(_._1).reverse, equis.map(_._2).reverse, l, r, strict)
    }
  }

  /** Unwrap the window child down to the join: an optional
    * WindowGroupLimit (Spark's top-k pre-filter — semantics-preserving,
    * subsumed by the rewrite) and an optional attributes-only Project. */
  private def unwrap(p: LogicalPlan): Option[(Seq[Attribute], Join)] = p match {
    case j: Join => Some((j.output, j))
    case WindowGroupLimit(_, _, _, _, child) => unwrap(child)
    case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) =>
      unwrap(child).map { case (_, j) => (list.map(_.asInstanceOf[Attribute]), j) }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(fc,
        Window(Seq(al @ Alias(WindowExpression(RowNumber(), _), _)),
          partSpec, orderSpec, wchild, _))
        if isRnOne(fc, al.toAttribute) =>
      rewrite(f, al, partSpec, orderSpec, wchild).getOrElse(f)
  }

  private def rewrite(
      f: Filter, rnAlias: Alias,
      partSpec: Seq[Expression], orderSpec: Seq[SortOrder],
      wchild: LogicalPlan): Option[LogicalPlan] = {
    val (visible, join) = unwrap(wchild) match {
      case Some(x) => x
      case None => return None
    }
    if (join.joinType != Inner && join.joinType != LeftOuter) return None
    val cond = join.condition.getOrElse(return None)
    if (!cond.deterministic) return None
    val (left, right) = (join.left, join.right)
    if (left.outputSet.intersect(right.outputSet).nonEmpty) return None
    val keys = matchCond(cond, left, right).getOrElse(return None)
    // the contract: partition on left-side attributes (the left row id)
    if (partSpec.isEmpty ||
        !partSpec.forall {
          case a: Attribute => left.outputSet.contains(a)
          case _ => false
        }) return None
    // order head must be the inequality's right ts, DESC; the tail must be
    // right-side attributes — they become reversed tie-breaks
    orderSpec.headOption match {
      case Some(SortOrder(a: Attribute, Descending, _, _))
          if a.semanticEquals(keys.rightTs) => ()
      case _ => return None
    }
    val ties: Seq[SortOrder] = orderSpec.tail.map {
      case so @ SortOrder(a: Attribute, _, _, _)
          if right.outputSet.contains(a) => so
      case _ => return None
    }

    // ---- build the union + window plan ----
    // left columns to carry: everything visible downstream, plus the join
    // keys and ts the window machinery needs (pruned again by the final
    // Project if the query never selects them)
    val needLeft = (visible.filter(left.outputSet.contains) ++
      keys.leftKeys :+ keys.leftTs).map(a => a.exprId -> a).toMap
    val leftCols: Seq[Attribute] = left.output.filter(a => needLeft.contains(a.exprId))
    val payload: Seq[Attribute] = right.output.filter(visible.contains)
    val pType = StructType(payload.map(a => StructField(a.name, a.dataType)))

    val kindL = Alias(Literal(1), "_graft_kind")()
    val tiesNullL = ties.zipWithIndex.map { case (so, i) =>
      Alias(Literal(null, so.child.dataType), s"_graft_tie_$i")() }
    val pNullL = Alias(Literal(null, pType), "_graft_p")()
    val lProj = Project(leftCols ++ (kindL +: tiesNullL :+ pNullL), left)

    // right rows with null join key or ts can never match in the original
    // join; drop them so they cannot pollute the running `last`
    val rNotNull = (keys.rightTs +: keys.rightKeys)
      .map(IsNotNull(_): Expression).reduce(And)
    val rFiltered = Filter(rNotNull, right)
    val k2r = keys.leftKeys.map(_.exprId).zip(keys.rightKeys).toMap
    val rCols: Seq[NamedExpression] = leftCols.map { a =>
      if (a.exprId == keys.leftTs.exprId) Alias(keys.rightTs, a.name)()
      else k2r.get(a.exprId) match {
        case Some(rk) => Alias(rk, a.name)()
        case None => Alias(Literal(null, a.dataType), a.name)()
      }
    }
    val kindR = Alias(Literal(if (keys.strict) 2 else 0), "_graft_kind")()
    val tiesR = ties.zipWithIndex.map { case (so, i) =>
      Alias(so.child, s"_graft_tie_$i")() }
    val pR = Alias(CreateNamedStruct(
      payload.flatMap(a => Seq(Literal(a.name), a))), "_graft_p")()
    val rProj = Project(rCols ++ (kindR +: tiesR :+ pR), rFiltered)

    val union = Union(lProj, rProj)
    val uOut = union.output
    val uKind = uOut(leftCols.size)
    val uTies = uOut.slice(leftCols.size + 1, leftCols.size + 1 + ties.size)
    val uP = uOut.last
    val uByExpr = leftCols.map(_.exprId).zip(uOut).toMap
    val uParts: Seq[Expression] = keys.leftKeys.map(k => uByExpr(k.exprId))
    val uTs = uByExpr(keys.leftTs.exprId)

    // original: right rows ranked by (ts DESC, ties...), rn=1 = the pick.
    // here: ascending scan carrying `last` forward — the pick must sort
    // LAST among its equal-ts peers, so every tie direction reverses.
    val tieOrders = ties.zip(uTies).map { case (so, attr) =>
      SortOrder(attr,
        if (so.direction == Ascending) Descending else Ascending,
        if (so.nullOrdering == NullsFirst) NullsLast else NullsFirst,
        Seq.empty)
    }
    val ordering =
      SortOrder(uTs, Ascending, NullsFirst, Seq.empty) +:
      SortOrder(uKind, Ascending, NullsFirst, Seq.empty) +: tieOrders
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
    val lastAlias = Alias(
      WindowExpression(Last(uP, ignoreNulls = true).toAggregateExpression(),
        WindowSpecDefinition(uParts, ordering, frame)), "_graft_asof")()
    val win = Window(Seq(lastAlias), uParts, ordering, union)

    val isLeftRow = EqualTo(uKind, Literal(1))
    val keepCond =
      if (join.joinType == Inner) And(isLeftRow, IsNotNull(lastAlias.toAttribute))
      else isLeftRow
    val filt = Filter(keepCond, win)

    val pIdx = payload.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    val outList: Seq[NamedExpression] = f.output.map { a =>
      if (a.exprId == rnAlias.exprId) {
        // rn = 1 on every surviving row of the original plan
        Alias(Literal(1), a.name)(exprId = a.exprId)
      } else pIdx.get(a.exprId) match {
        case Some(i) =>
          Alias(GetStructField(lastAlias.toAttribute, i, Some(a.name)),
            a.name)(exprId = a.exprId)
        case None =>
          if (!needLeft.contains(a.exprId)) return None // not reconstructible
          a
      }
    }
    Some(Project(outList, filt))
  }
}
