package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, Inner, InnerLike, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.rules.Rule

/** Transitive key-predicate propagation across equi-joins — the
  * optimization Spark's `InferFiltersFromConstraints` misses for
  * DECORRELATED LATERAL subqueries (and any join whose inner side hides
  * the key behind aggregates / domain joins).
  *
  * The shape that motivates it (reference: correlated scalar subqueries
  * plan as a correlated-join in the reference's
  * `TransformCorrelatedScalarAggregationToJoin`, which keeps the outer
  * predicate adjacent; SURVEY §2.8 lateral):
  *
  *   SELECT ... FROM orders o, LATERAL (SELECT agg FROM lineitem
  *     WHERE l_orderkey = o.o_orderkey) t WHERE o.o_orderkey <= 2000
  *
  * Spark decorrelates to `Filter(o<=2000, orders) JOIN_nullsafe
  * (domain-agg(orders) LEFT-OUTER agg-by-key(lineitem))` — and
  * aggregates the ENTIRE fact table although only the filtered keys can
  * survive the outer join (measured: 48.9 CPU-s at sf1 for a 2000-key
  * answer). Constraint inference stops at the null-safe equality and
  * never descends through the domain join.
  *
  * Soundness: for a join conjunct `lk = rk` (or `lk <=> rk`) and a
  * deterministic, subquery-free predicate P referencing ONLY lk on one
  * side, every row of the OTHER side that can contribute to the join
  * output has a key equal to some surviving lk — so P(rk) holds for it
  * (null-safe case included: a null rk only matches a null lk, which
  * itself passed P). Filtering the other side by P(rk) therefore never
  * changes the join result, no matter what that side computes, and the
  * filter commutes down through projections, filters, group-by-key
  * aggregates, and the key side of nested Inner/LeftOuter/LeftSemi
  * equi-joins (dangling rows of a left-outer's right side die at the
  * equality anyway once the left side is filtered).
  *
  * At 100 TB this is the difference between aggregating a fact table
  * and aggregating the slice a selective dimension predicate selects —
  * the same reasoning dynamic partition pruning applies to scans,
  * carried to the operator level.
  *
  * Injected into every session by Engine.session's extension, so it runs
  * in the operator-optimization batches, before and after filter
  * inference: an inserted filter is pushed down, merged and simplified
  * like any other, reaches FileSourceStrategy at physical planning and
  * becomes a PushedFilter on V1 parquet scans.
  * `spark.sql.optimizer.excludedRules` switches it off.
  * Re-application is a fixpoint: predicates already present on the
  * target (semantic check) are never added twice.
  */
object KeyPredicatePropagation extends Rule[LogicalPlan] with PredicateHelper {

  private def isPropagatable(p: Expression, key: Attribute): Boolean =
    p.deterministic && p.references == AttributeSet(Seq(key)) &&
      !p.exists(_.isInstanceOf[PlanExpression[_]])

  /** Deterministic key-only filter conjuncts visible in `plan` (walking
    * down only through nodes that preserve the key attribute AND cannot
    * null-extend it). A filter P(key) found below the null-supplying
    * side of an outer join does NOT hold on that join's output: the
    * null-extended rows bypassed it, so under a null-safe top conjunct
    * (`<=>`, where null keys DO match) propagating P would drop
    * null-key rows from the other side that should have matched the
    * null-extended ones. We therefore descend only through join sides
    * whose key values reach the output unchanged: any Inner child, and
    * the left (row-preserving) side of LeftOuter / LeftSemi / LeftAnti
    * / Existence joins. RightOuter mirrors; FullOuter extends both. */
  private def keyPreds(plan: LogicalPlan, key: Attribute): Seq[Expression] = plan match {
    case Filter(cond, child) =>
      splitConjunctivePredicates(cond).filter(isPropagatable(_, key)) ++ keyPreds(child, key)
    case p: Project if p.child.outputSet.contains(key) => keyPreds(p.child, key)
    case a: Aggregate if a.child.outputSet.contains(key) => keyPreds(a.child, key)
    case j: Join =>
      val safe: Seq[LogicalPlan] = j.joinType match {
        case _: InnerLike                          => j.children // Inner + Cross
        case LeftOuter | LeftSemi | LeftAnti       => Seq(j.left)
        case RightOuter                            => Seq(j.right)
        case _: ExistenceJoin                      => Seq(j.left)
        case _                                     => Seq.empty // FullOuter
      }
      safe.filter(_.outputSet.contains(key)).flatMap(keyPreds(_, key))
    case _ => Seq.empty
  }

  /** Push `preds` (already rewritten onto `key`) as deep as the known-
    * safe shapes allow; anywhere else, a Filter at that point is still
    * sound (see soundness note). */
  private def pushOnto(plan: LogicalPlan, key: Attribute, preds: Seq[Expression]): LogicalPlan =
    plan match {
      case p: Project if p.child.outputSet.contains(key) =>
        p.copy(child = pushOnto(p.child, key, preds))
      case f: Filter if f.child.outputSet.contains(key) =>
        f.copy(child = pushOnto(f.child, key, preds))
      case a: Aggregate
          if a.groupingExpressions.exists(_.semanticEquals(key)) &&
            a.child.outputSet.contains(key) =>
        a.copy(child = pushOnto(a.child, key, preds))
      case j @ Join(l, r, Inner | LeftOuter | LeftSemi, cond, _)
          if l.outputSet.contains(key) =>
        // key lives on the left: filter it there, and carry across any
        // equality conjunct onto the right child's twin attribute
        val newLeft = pushOnto(l, key, preds)
        val twin = cond.toSeq.flatMap(splitConjunctivePredicates).collectFirst {
          case EqualTo(a: Attribute, b: Attribute)
              if a.semanticEquals(key) && r.outputSet.contains(b) => b
          case EqualTo(b: Attribute, a: Attribute)
              if a.semanticEquals(key) && r.outputSet.contains(b) => b
          case EqualNullSafe(a: Attribute, b: Attribute)
              if a.semanticEquals(key) && r.outputSet.contains(b) => b
          case EqualNullSafe(b: Attribute, a: Attribute)
              if a.semanticEquals(key) && r.outputSet.contains(b) => b
        }
        val newRight = twin match {
          case Some(rk) =>
            val fresh = preds.map(_.transform { case a: Attribute if a.semanticEquals(key) => rk })
              .filterNot(p => keyPreds(r, rk).exists(_.semanticEquals(p)))
            if (fresh.isEmpty) r else pushOnto(r, rk, fresh)
          case None => r
        }
        j.copy(left = newLeft, right = newRight)
      case other if other.outputSet.contains(key) =>
        Filter(preds.reduce(And), other)
      case other => other // key not visible: nothing safe to do
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _) =>
      var newLeft = left
      var newRight = right
      splitConjunctivePredicates(cond).foreach {
        case eq @ (_: EqualTo | _: EqualNullSafe) =>
          (eq.children(0), eq.children(1)) match {
            case (x: Attribute, y: Attribute) =>
              val (lk, rk) =
                if (left.outputSet.contains(x) && right.outputSet.contains(y)) (x, y)
                else if (left.outputSet.contains(y) && right.outputSet.contains(x)) (y, x)
                else (null, null)
              if (lk != null) {
                val l2r = keyPreds(newLeft, lk)
                  .map(_.transform { case a: Attribute if a.semanticEquals(lk) => rk })
                  .filterNot(p => keyPreds(newRight, rk).exists(_.semanticEquals(p)))
                if (l2r.nonEmpty) newRight = pushOnto(newRight, rk, l2r)
                val r2l = keyPreds(newRight, rk)
                  .map(_.transform { case a: Attribute if a.semanticEquals(rk) => lk })
                  .filterNot(p => keyPreds(newLeft, lk).exists(_.semanticEquals(p)))
                if (r2l.nonEmpty) newLeft = pushOnto(newLeft, lk, r2l)
              }
            case _ =>
          }
        case _ =>
      }
      if (newLeft.eq(left) && newRight.eq(right)) j
      else j.copy(left = newLeft, right = newRight)
  }
}
