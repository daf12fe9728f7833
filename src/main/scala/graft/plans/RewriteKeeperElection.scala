package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Min, MinBy}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Rewrites keeper election — `row_number() OVER (PARTITION BY k
  * ORDER BY o) = 1` and its all-ties-keep twin `rank() = 1`, the
  * recurring dedup/best-per-group idioms — into aggregate shapes that
  * stay parallel when a partition key is hot.
  * A window partition is ONE task (AQE cannot split it), so a hot key
  * — every empty page's signature in a dedup — serializes its whole
  * group on a single core no matter the cluster. This is the manual
  * rewrite this repo applied to dedup_rank/dedup_merge/corpus_clean;
  * the rule performs it for any query phrased the natural way.
  *
  * Two matched shapes:
  *
  * FILTERED keeper (keep only the best row per group):
  *
  *   Filter rn = 1                      Project [child.* (from keeper
  *     +- Window [rn := row_number()              struct), rn := 1]
  *          over (k ORDER BY o)]   =>     +- Aggregate k,
  *        +- child                             [min_by(struct(child.*),
  *                                               ordKey(o, child.*))]
  *                                             +- child
  *
  *   ONE map-side-combinable aggregate — no window, no join, and the
  *   child is evaluated once (so child determinism is not required).
  *   min_by's ordering key is the orderSpec mapped onto an
  *   ascending-comparable struct, extended with the FULL row as a
  *   final tiebreak: ordering ties are then only possible between
  *   bit-identical rows, where min_by's pick is value-identical —
  *   the rewrite is deterministic even where row_number's tie
  *   assignment was arbitrary. Spark's own InferWindowGroupLimit
  *   rescue for this shape still leaves the final top-1 reduction of
  *   a hot key in one task; the aggregate form never builds the
  *   group anywhere.
  *
  * LABELED keeper (keep all rows, mark the best — the dedup
  * merge-back shape `when(rn = 1, keep).otherwise(dup)`):
  *
  *   Project [..., rn = 1, ...]         Project [..., ordKey = m, ...]
  *     +- Window [rn := row_number()      +- Join Inner (k <=> gk)
  *          over (k ORDER BY o)]   =>          :- child
  *        +- child                             +- Aggregate k, [gk,
  *                                                  min(ordKey') AS m]
  *                                                  +- child' (fresh ids)
  *
  *   The aggregate side is map-side combinable (a hot key ships one
  *   partial row per task) and the join back is AQE-splittable. The
  *   child is evaluated twice, so the duplication guards of
  *   [[RewriteWindowAggToJoin]] all apply (deterministic, subquery-
  *   free, stable row set — including no order-dependent child
  *   Window).
  *
  * RANK()=1 (both shapes): rank assigns 1 to EVERY row tying the
  * minimal orderSpec key, so the ordKey drops the full-row tiebreak
  * (ties must compare equal) and the filtered form must use the
  * min+join machinery too (the winner count per group is
  * data-dependent — a single-row min_by can't carry it), inheriting
  * the duplication guards. Unlike row_number, the rank rewrite is
  * EXACT: rank()=1 is deterministic under ties, and `ordKey =
  * min(ordKey)` is its literal definition.
  *
  * Value identity: with the full-row tiebreak the ordering key is a
  * total order over VALUE-DISTINCT rows (distinct under Spark's SQL
  * ordering — which identifies -0.0 with 0.0 and all NaN bit
  * patterns), so exactly one such row class per partition satisfies
  * `ordKey = min(ordKey)` and the rewrite picks a deterministic
  * refinement of row_number's arbitrary-on-ties choice — an outcome
  * the original query could itself produce. The one divergence is
  * value-identical duplicate rows in one partition (bit-identical
  * rows, or rows identical up to floating-point normalization like a
  * -0.0/0.0 pair): row_number splits them 1/2/... arbitrarily; the
  * labeled rewrite marks every copy a keeper (the filtered rewrite
  * keeps one copy — the copies are SQL-indistinguishable, so its
  * output is value-identical either way). For keeper election that
  * all-copies-keep reading is the min-struct semantic this repo's
  * dedup surfaces state deliberately; where byte-level row_number
  * parity on duplicate rows matters, exclude the rule through Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteKeeperElection`.
  *
  * The orderSpec is mapped to an ascending NULLS FIRST struct leg by
  * leg: ASC legs pass through (with a null flag for NULLS LAST);
  * DESC legs reverse via an exact order-reversing map — bitwise NOT
  * for integral types (total on the two's-complement range, unlike
  * negation at Long.MinValue), numeric negation with an explicit NaN
  * flag for float/double (NaN is greatest, so it must sort FIRST
  * under DESC), negation for decimals (their range is symmetric) —
  * plus a null flag honoring the leg's null ordering. A DESC leg of
  * any other type (strings, dates) has no cheap reversal: bail. All
  * legs and tiebreak columns must be orderable types.
  */
object RewriteKeeperElection extends Rule[LogicalPlan]
    with PredicateHelper {

  import RewriteWindowAggToJoin.{deterministicTree, freshen, hasSubquery,
    unstableRowSet}

  /** `e` pins `rn` to exactly 1. rn is 1-based with minimum value 1
    * for all three accepted rank functions (row_number and dense_rank
    * are dense; rank() is not, but rank >= 1 always holds), so <= 1,
    * < 2, = 1 are the same predicate for every one of them. */
  private def pinsToOne(e: Expression, rn: Attribute): Boolean = e match {
    case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
    case EqualNullSafe(a: Attribute, IntegerLiteral(1)) =>
      a.semanticEquals(rn)
    case EqualNullSafe(IntegerLiteral(1), a: Attribute) =>
      a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) =>
      a.semanticEquals(rn)
    case LessThan(a: Attribute, IntegerLiteral(2)) => a.semanticEquals(rn)
    case GreaterThanOrEqual(IntegerLiteral(1), a: Attribute) =>
      a.semanticEquals(rn)
    case GreaterThan(IntegerLiteral(2), a: Attribute) => a.semanticEquals(rn)
    case _ => false
  }

  /** The orderSpec (for row_number: + full-row tiebreak) as ONE
    * ascending-comparable struct, or None when a leg can't be mapped
    * exactly. Without the tiebreak the struct ranks rows exactly like
    * `rank()` does — order-key ties compare equal — which is the key
    * the rank()=1 shapes need. */
  private def ordKeyFor(orderSpec: Seq[SortOrder],
      child: LogicalPlan, tiebreak: Boolean): Option[Expression] = {
    val flag0 = Literal(0)
    val flag1 = Literal(1)
    def legs(so: SortOrder): Option[Seq[Expression]] = {
      val e = so.child
      def nullFlag(nullsFirst: Boolean): Expression =
        If(IsNull(e), if (nullsFirst) flag0 else flag1,
          if (nullsFirst) flag1 else flag0)
      (so.direction, e.dataType) match {
        case (Ascending, _) if so.nullOrdering == NullsFirst =>
          Some(Seq(e)) // native struct-field ordering
        case (Ascending, _) =>
          Some(Seq(nullFlag(nullsFirst = false), e))
        case (Descending, ByteType | ShortType | IntegerType | LongType) =>
          Some(Seq(nullFlag(so.nullOrdering == NullsFirst), BitwiseNot(e)))
        case (Descending, FloatType) =>
          // DESC: NaN is greatest → must come FIRST; -x alone would
          // send it last (-NaN is NaN, which sorts greatest ascending)
          Some(Seq(nullFlag(so.nullOrdering == NullsFirst),
            If(IsNaN(e), flag0, flag1),
            If(IsNaN(e), Literal(0.0f), UnaryMinus(e))))
        case (Descending, DoubleType) =>
          Some(Seq(nullFlag(so.nullOrdering == NullsFirst),
            If(IsNaN(e), flag0, flag1),
            If(IsNaN(e), Literal(0.0d), UnaryMinus(e))))
        case (Descending, _: DecimalType) =>
          Some(Seq(nullFlag(so.nullOrdering == NullsFirst), UnaryMinus(e)))
        case _ => None // no exact order reversal for this type
      }
    }
    val mapped = orderSpec.map(legs)
    if (mapped.exists(_.isEmpty)) None
    // full-row tiebreak: ordering ties now require value-identical rows
    else Some(CreateStruct(mapped.flatten.flatten ++
      (if (tiebreak) child.output else Nil)))
  }

  /** A matched keeper-election window: the ranking alias, the
    * comparable ordKey, and whether the function was rank() (all
    * order-ties keep — the ordKey then carries NO row tiebreak and
    * the rewrite is EXACT, no divergence class at all). */
  private final case class Keeper(rnAlias: Alias, ordKey: Expression,
      isRank: Boolean)

  /** Single row_number()/rank() window expression over a
    * deterministic, subquery-free, orderable spec — the common
    * eligibility of every shape. */
  private def eligible(w: Window): Option[Keeper] = w match {
    case Window(Seq(a @ Alias(WindowExpression(fn, _), _)),
        partitionSpec, orderSpec, child, _)
        if (fn.isInstanceOf[RowNumber] || fn.isInstanceOf[Rank] ||
          fn.isInstanceOf[DenseRank]) &&
          !w.isStreaming && orderSpec.nonEmpty &&
          (partitionSpec ++ orderSpec).forall(e => e.deterministic &&
            !e.exists(_.isInstanceOf[SubqueryExpression])) &&
          (partitionSpec ++ orderSpec)
            .forall(_.references.subsetOf(child.outputSet)) &&
          child.output.nonEmpty &&
          child.output.forall(o => RowOrdering.isOrderable(o.dataType)) =>
      // rank()=1 and dense_rank()=1 name the SAME row class: every
      // row whose orderSpec key equals the partition minimum
      val isRank = fn.isInstanceOf[Rank] || fn.isInstanceOf[DenseRank]
      ordKeyFor(orderSpec, child, tiebreak = !isRank)
        .map(Keeper(a, _, isRank))
    case _ => None
  }

  /** True iff `rn` is referenced anywhere in `e` OUTSIDE a pin
    * comparison — a plain `exists` would descend into the pin node's
    * children and always find the rn reference inside it. */
  private def rnEscapes(e: Expression, rn: Attribute): Boolean = e match {
    case p if pinsToOne(p, rn) => false
    case a: Attribute => a.semanticEquals(rn)
    case other => other.children.exists(rnEscapes(_, rn))
  }

  /** min(ordKey) per partition key computed on a FRESH copy of child
    * and joined back null-safely — the shared machinery of the labeled
    * shape and the rank()=1 filtered shape. Returns the join and the
    * group-min attribute. */
  private def minJoinBack(partitionSpec: Seq[Expression],
      ordKey: Expression, child: LogicalPlan): (Join, Attribute) = {
    val (aggChild, ids) = freshen(child)
    def rebase(e: Expression): Expression = e.transform {
      case a: AttributeReference => a.withExprId(ids(a.exprId))
    }
    val keyAliases = partitionSpec.zipWithIndex.map { case (k, i) =>
      Alias(rebase(k), s"_gk$i")()
    }
    val kmin = Alias(Min(rebase(ordKey)).toAggregateExpression(),
      "_kmin")()
    val agg = Aggregate(keyAliases.map(_.child),
      keyAliases :+ kmin, aggChild)
    val joinCond = partitionSpec.zip(keyAliases)
      .map { case (l, r) => EqualNullSafe(l, r.toAttribute) }
      .reduceOption[Expression](And)
    (Join(child, agg,
      if (joinCond.isEmpty) Cross else Inner, joinCond, JoinHint.NONE),
      kmin.toAttribute)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      // ---- FILTERED keeper --------------------------------------- //
      // row_number: ONE min_by aggregate, no join (grouped only: an
      // empty PARTITION BY aggregate would emit one null row on empty
      // input where the window emits none). rank: all order-ties
      // keep, so the winner count per group is data-dependent — the
      // min(ordKey) join-back form serves it (empty partitionSpec is
      // safe there: the cross join against an empty child is empty),
      // at the price of the duplication guards.
      case Filter(cond, w @ Window(_, partitionSpec, _, child, _))
          if eligible(w).exists { k =>
            val rn = k.rnAlias.toAttribute
            val conjuncts = splitConjunctivePredicates(cond)
            conjuncts.exists(pinsToOne(_, rn)) &&
              conjuncts.filterNot(pinsToOne(_, rn))
                .forall(c => !c.references.contains(rn) &&
                  c.deterministic &&
                  !c.exists(_.isInstanceOf[SubqueryExpression])) &&
              (if (k.isRank)
                deterministicTree(child) && !hasSubquery(child) &&
                  !unstableRowSet(child)
              else partitionSpec.nonEmpty)
          } =>
        val Keeper(rnAlias, ordKey, isRank) = eligible(w).get
        val rest = splitConjunctivePredicates(cond)
          .filterNot(pinsToOne(_, rnAlias.toAttribute))
        val rnOut = Alias(Literal(1), rnAlias.name)(rnAlias.exprId,
          rnAlias.qualifier)
        val base: LogicalPlan = if (!isRank) {
          val keeper = Alias(
            MinBy(CreateStruct(child.output), ordKey)
              .toAggregateExpression(), "_keeper")()
          val agg = Aggregate(partitionSpec, Seq(keeper), child)
          // re-expose child.* from the keeper struct under the
          // ORIGINAL exprIds; rn is constantly 1 on survivors
          val out = child.output.zipWithIndex.map { case (attr, i) =>
            Alias(GetStructField(keeper.toAttribute, i, Some(attr.name)),
              attr.name)(attr.exprId, attr.qualifier)
          } :+ rnOut
          Project(out, agg)
        } else {
          val (join, kmin) = minJoinBack(partitionSpec, ordKey, child)
          val out: Seq[NamedExpression] = child.output :+ rnOut
          Project(out, Filter(EqualTo(ordKey, kmin), join))
        }
        rest.reduceOption(And).map(Filter(_, base)).getOrElse(base)

      // ---- LABELED keeper: min(ordKey) + join back ----------------- //
      case Project(projList, w @ Window(_, partitionSpec, _, child, _))
          if eligible(w).isDefined && {
            val rn = eligible(w).get.rnAlias.toAttribute
            // every rn reference sits inside a pin comparison, and the
            // projections stay safe to re-express over a join
            projList.forall { ne =>
              ne.deterministic &&
                !ne.exists(_.isInstanceOf[SubqueryExpression]) &&
                !rnEscapes(ne, rn)
            } &&
            // duplication guards — the aggregate side re-evaluates child
            deterministicTree(child) && !hasSubquery(child) &&
            !unstableRowSet(child)
          } =>
        val Keeper(rnAlias, ordKey, _) = eligible(w).get
        val rn = rnAlias.toAttribute
        val (join, kmin) = minJoinBack(partitionSpec, ordKey, child)
        // keeper test: this row's compare chain IS the group min
        // (ordKey is a struct — never null — so EqualTo is total here;
        // for rank() the chain is the bare orderSpec key, so ALL
        // order-ties test true — exactly rank()=1)
        val isKeeper = EqualTo(ordKey, kmin)
        val newProj = projList.map(_.transform {
          case e if pinsToOne(e, rn) => isKeeper
        }.asInstanceOf[NamedExpression])
        Project(newProj, join)
    }
}
