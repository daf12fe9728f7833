package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Rewrites order-independent whole-partition window aggregates —
  * `min/max/sum/count/avg(x) OVER (PARTITION BY k)` — into a group-by
  * aggregate joined back onto the input:
  *
  *   Window [min(x) over (k)]            Project [child.*, m AS min]
  *     +- child                    =>      +- Join Inner (k <=> gk)
  *                                            :- child
  *                                            +- Aggregate k, [gk, min(x) AS m]
  *                                                  +- child'   (fresh exprIds)
  *
  * Why: a window partition is ONE task — AQE cannot split it — so one
  * hot key (every empty page's signature in a dedup, the dominant
  * language of a corpus) serializes its whole group on a single core
  * no matter the cluster. The aggregate side is map-side combinable
  * (a hot key ships one partial row per task) and the join back is an
  * ordinary AQE-splittable equi-join. This is exactly the rewrite this
  * repo applied by hand to its dedup surfaces (Dedup.findDuplicates,
  * dedup_exact/rank, the r9 generate host cap); the rule performs it
  * for ANY query through the session, the way a user would actually
  * phrase the computation. The child is evaluated twice (both passes
  * fully parallel) — at scale, two splittable scans beat one
  * unsplittable group every time the group is data-sized; opt out
  * through Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteWindowAggToJoin`.
  *
  * Safety conditions (all required):
  *  - the Window node has NO orderSpec — the analyzer then fixes the
  *    frame at (UnboundedPreceding, UnboundedFollowing), so the value
  *    is a pure whole-partition aggregate with no frame dependence;
  *  - every window function is a Complete, non-distinct, non-filtered
  *    Min/Max/Sum/Count/Average — order-independent, so group-by
  *    aggregation is value-identical (row_number/rank/first/lag and
  *    collect_* are order- or row-identity-dependent: never touched);
  *  - the child subtree and every matched expression are
  *    deterministic and subquery-free (the rewrite evaluates the child
  *    twice — a rand() column or a one-row-at-a-time side effect would
  *    diverge between the two evaluations);
  *  - the plan is batch (streaming windows can't re-scan their input).
  *
  * Join-key semantics match window-partition semantics: keys compare
  * null-safe (`<=>` — a NULL partition key is a group, as it is for
  * the window), and Spark's NormalizeFloatingNumbers normalizes
  * NaN/-0.0 on BOTH join keys and window partition keys, so float
  * keys group identically on either path. An empty PARTITION BY
  * becomes a Cross join against the aggregate's single global row
  * (the one-row broadcast pattern) — the degenerate case where the
  * window would have put the ENTIRE dataset in one task.
  *
  * The duplicated aggregate-side subtree is re-instanced with fresh
  * exprIds throughout (every AttributeReference and Alias definition,
  * applied bottom-up so leaf relation outputs and interior aliases
  * stay consistent) — two join branches must not share attribute ids.
  */
object RewriteWindowAggToJoin extends Rule[LogicalPlan] {

  /** Order-independent aggregates a group-by reproduces exactly. */
  private def rewritable(ae: AggregateExpression): Boolean =
    ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty &&
      ae.deterministic && (ae.aggregateFunction match {
        case _: Min | _: Max | _: Sum | _: Count | _: Average => true
        case _ => false
      })

  private def wholePartitionFrame(spec: WindowSpecDefinition): Boolean =
    spec.orderSpec.isEmpty && (spec.frameSpecification match {
      case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) =>
        true
      case _ => false
    })

  private[plans] def hasSubquery(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[SubqueryExpression])))

  private[plans] def deterministicTree(plan: LogicalPlan): Boolean =
    !plan.exists(_.expressions.exists(!_.deterministic))

  /** Plan shapes whose ROW SET is not stable across two evaluations —
    * LIMIT without a total order picks an arbitrary subset, SAMPLE
    * draws per-evaluation, Deduplicate keeps an arbitrary row per key
    * (the key set is stable but non-key columns are not). Duplicating
    * such a child would aggregate a DIFFERENT subset than the probe
    * side joins back onto — deterministic EXPRESSIONS are not enough. */
  private[plans] def unstableRowSet(plan: LogicalPlan): Boolean =
    plan.exists {
      case _: GlobalLimit | _: LocalLimit | _: Sample | _: Offset |
          _: Deduplicate | _: DeduplicateWithinWatermark => true
      // order-sensitive aggregates are FLAGGED deterministic but their
      // value depends on row arrival order: first/last (what Spark's
      // own ReplaceDeduplicateWithAggregate lowers dropDuplicates to),
      // collect_*, and any typed-imperative sketch — two evaluations
      // may produce different values for the same group
      case a: Aggregate => a.aggregateExpressions.exists(_.exists {
        case AggregateExpression(f, _, _, _, _) =>
          f.isInstanceOf[First] || f.isInstanceOf[Last] ||
            f.isInstanceOf[Collect[_]] ||
            f.isInstanceOf[TypedImperativeAggregate[_]]
        case _ => false
      })
      // a Window INSIDE the duplicated child: order-dependent window
      // functions (row_number/rank/lead/lag/first_value over a
      // tie-prone orderSpec — flagged deterministic, arrival-order-
      // dependent in fact) can assign ties differently between the
      // aggregate-side copy and the probe side, so the joined-back
      // value could disagree with the rows it's attached to. Only a
      // whole-partition window of the SAME order-independent
      // aggregates this rule itself rewrites is safe to duplicate.
      case w: Window =>
        w.orderSpec.nonEmpty || w.windowExpressions.exists(_.exists {
          case WindowExpression(ae: AggregateExpression, _) =>
            !rewritable(ae)
          case _: WindowExpression => true
          case _ => false
        })
      case _ => false
    }

  /** A structurally identical copy of `plan` with every attribute id
    * re-instanced (consistently: each old id maps to one new id), plus
    * the old→new id map for rebasing expressions onto the copy. */
  private[plans] def freshen(plan: LogicalPlan)
      : (LogicalPlan, mutable.Map[ExprId, ExprId]) = {
    val ids = mutable.HashMap.empty[ExprId, ExprId]
    def nid(e: ExprId): ExprId =
      ids.getOrElseUpdate(e, NamedExpression.newExprId)
    val fresh = plan.transformUp {
      case node => node.transformExpressionsUp {
        case a: AttributeReference => a.withExprId(nid(a.exprId))
        case al: Alias =>
          Alias(al.child, al.name)(nid(al.exprId), al.qualifier,
            al.explicitMetadata, al.nonInheritableMetadataKeys)
      }
    }
    (fresh, ids)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case w @ Window(windowExprs, partitionSpec, Nil, child, _)
          if windowExprs.nonEmpty && !w.isStreaming &&
            // no subqueries anywhere the rewrite would duplicate: a
            // duplicated SubqueryExpression carries its inner plan's
            // exprIds into both join branches
            partitionSpec.forall(e => e.deterministic &&
              !e.exists(_.isInstanceOf[SubqueryExpression])) &&
            windowExprs.forall {
              case a @ Alias(WindowExpression(ae: AggregateExpression,
                  spec), _) =>
                rewritable(ae) && wholePartitionFrame(spec) &&
                  // analyzer invariant (one Window node per spec) made
                  // explicit: every expression's keys ARE the node's
                  spec.partitionSpec == partitionSpec &&
                  !a.exists(_.isInstanceOf[SubqueryExpression])
              case _ => false
            } && deterministicTree(child) && !hasSubquery(child) &&
            !unstableRowSet(child) &&
            // every referenced attribute must come from the child —
            // an outer reference (correlated subquery being optimized)
            // has no image in the freshened copy, so bail, don't crash
            (partitionSpec ++ windowExprs)
              .forall(_.references.subsetOf(child.outputSet)) =>
        val (aggChild, ids) = freshen(child)
        def rebase(e: Expression): Expression = e.transform {
          case a: AttributeReference => a.withExprId(ids(a.exprId))
        }
        // right side: group keys aliased to fresh output ids + the
        // aggregates themselves, all over the re-instanced child
        val keyAliases = partitionSpec.zipWithIndex.map { case (k, i) =>
          Alias(rebase(k), s"_gk$i")()
        }
        val aggAliases = windowExprs.map {
          case a @ Alias(WindowExpression(ae: AggregateExpression, _), _) =>
            a -> Alias(rebase(ae), a.name)()
        }
        val agg = Aggregate(keyAliases.map(_.child),
          keyAliases ++ aggAliases.map(_._2), aggChild)
        val cond = partitionSpec.zip(keyAliases)
          .map { case (l, r) => EqualNullSafe(l, r.toAttribute) }
          .reduceOption[Expression](And)
        // an empty PARTITION BY joins every row to the single global
        // aggregate row — Cross, so CheckCartesianProducts stays quiet
        // about the deliberate one-row join
        val join = Join(child, agg,
          if (cond.isEmpty) Cross else Inner, cond, JoinHint.NONE)
        // reproduce the Window node's exact output: child.* then each
        // window column under its ORIGINAL exprId
        val out = child.output ++ aggAliases.map { case (orig, right) =>
          Alias(right.toAttribute, orig.name)(orig.exprId, orig.qualifier)
        }
        Project(out, join)
    }
}
