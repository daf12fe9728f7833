package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** The engine's `SparkSessionExtensions` hook (SURVEY §7.3): what a
  * deployment passes to its session builder's `withExtensions(...)`
  * (as `graft.GraftSession` does) or names in
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Registers:
  *  - `bounded_sorted_list(expr, k)` as a SQL function, so the O(k)
  *    top-k aggregate ([[BoundedSortedList]]) is reachable from
  *    `spark.sql` queries, not only the Scala API;
  *  - `asof_join(...)` / `range_join(...)` as TABLE functions
  *    (r14): the skew-safe point-in-time join and the grid range
  *    join, invokable from a SQL FROM clause over catalog tables or
  *    temp views — SQL-first users get [[graft.ops.AsofJoin]] /
  *    [[graft.ops.RangeJoin]]'s plans instead of a window straggler
  *    or a BroadcastNestedLoop theta join;
  *  - [[RewriteBoundedTopK]], an optimizer rule rewriting the naive
  *    `slice(array_sort(collect_list(x)), 1, k)` phrasing — the shape
  *    users actually write — into the same aggregate, turning an
  *    unbounded-state plan into a bounded-state one without a code
  *    change on the caller's side;
  *  - [[RewriteWindowAggToJoin]], an optimizer rule rewriting
  *    order-independent whole-partition window aggregates
  *    (`min/max/sum/count/avg(x) OVER (PARTITION BY k)`) into a
  *    map-side-combinable group-by joined back — the skew-safe shape
  *    this repo's dedup surfaces use by hand, applied by the engine
  *    to any query (opt out:
  *    `spark.graft.rewrite.windowAggToJoin=false`);
  *  - [[RewriteKeeperElection]], an optimizer rule rewriting keeper
  *    election — `row_number() OVER (PARTITION BY k ORDER BY o) = 1`,
  *    filtered (keep best per group → one min_by aggregate) or
  *    labeled (mark best per group → min(struct) + join back) — into
  *    hot-key-safe aggregate shapes (opt out:
  *    `spark.graft.rewrite.keeperElection=false`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.boundedSortedListFunction)
    ext.injectTableFunction(GraftExtensions.asofJoinTableFunction)
    ext.injectTableFunction(GraftExtensions.rangeJoinTableFunction)
    ext.injectTableFunction(GraftExtensions.bm25TableFunction)
    ext.injectTableFunction(GraftExtensions.decontaminateHitsTableFunction)
    ext.injectTableFunction(GraftExtensions.classifyTableFunction)
    ext.injectOptimizerRule(_ => RewriteBoundedTopK)
    ext.injectOptimizerRule(_ => RewriteWindowAggToJoin)
    ext.injectOptimizerRule(_ => RewriteKeeperElection)
  }
}

object GraftExtensions {
  /** `bounded_sorted_list(expr, k)` — k must be a positive int literal
    * (it sizes the aggregation buffer, so it cannot be data-dependent).
    * The analyzer wraps the returned AggregateFunction in a Complete
    * AggregateExpression like any registered aggregate. */
  val boundedSortedListFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bounded_sorted_list"),
    new ExpressionInfo(classOf[BoundedSortedList].getName,
      "bounded_sorted_list"),
    (args: Seq[Expression]) => args match {
      case Seq(c, Literal(k: Int, IntegerType)) if k > 0 =>
        BoundedSortedList(c, k)
      case _ => throw new IllegalArgumentException(
        "usage: bounded_sorted_list(expr, k) with k a positive INT literal")
    })

  private def strLit(e: Expression, usage: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
      s.toString
    case _ => throw new IllegalArgumentException(usage)
  }

  /** SQL surface for the skew-safe as-of join (r13 verdict Next #6):
    * `asof_join('left', 'right', 'k1,k2', 'left_ts', 'right_ts')` in a
    * FROM clause — table names resolve through the session catalog
    * (temp views included), so SQL-first users get
    * [[graft.ops.AsofJoin]]'s two-phase carry without touching the
    * Scala API. The builder runs at analysis time and returns the
    * operator's analyzed plan. */
  val asofJoinTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("asof_join"),
    new ExpressionInfo("graft.ops.AsofJoin", "asof_join"),
    (args: Seq[Expression]) => {
      val usage = "usage: asof_join('left_table', 'right_table', " +
        "'key1[,key2...]', 'left_ts', 'right_ts') with string literals"
      if (args.length != 5) throw new IllegalArgumentException(usage)
      val Seq(l, r, keys, lts, rts) = args.map(strLit(_, usage))
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.AsofJoin(spark.table(l), spark.table(r),
          keys.split(",").map(_.trim).toSeq, lts, rts)
        .queryExecution.analyzed
    })

  /** SQL surface for the grid range join:
    * `range_join('intervals', 'points', 'lo', 'hi', 'v')` — every
    * (interval × point) pair with v in [lo, hi), planned as
    * [[graft.ops.RangeJoin]]'s cell equi-join. The self-deriving grid
    * runs its one bounded aggregate at analysis time. */
  val rangeJoinTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("range_join"),
    new ExpressionInfo("graft.ops.RangeJoin", "range_join"),
    (args: Seq[Expression]) => {
      val usage = "usage: range_join('intervals_table', 'points_table', " +
        "'lo', 'hi', 'v') with string literals"
      if (args.length != 5) throw new IllegalArgumentException(usage)
      val Seq(i, p, lo, hi, v) = args.map(strLit(_, usage))
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.RangeJoin.join(spark.table(i), spark.table(p), lo, hi, v)
        .queryExecution.analyzed
    })

  /** `bm25('docs', 'queries'[, k])` — per-query BM25 top-k
    * ([[graft.ops.Bm25.rank]]) from a SQL FROM clause: docs table
    * needs (doc_id, text), queries table (query_id, text); k defaults
    * to 10 and must be a positive int literal (it sizes the bounded
    * top-k aggregation buffer). */
  val bm25TableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("bm25"),
    new ExpressionInfo("graft.ops.Bm25", "bm25"),
    (args: Seq[Expression]) => {
      val usage = "usage: bm25('docs_table', 'queries_table'[, k]) " +
        "with string literals and a positive INT literal k"
      val k = args match {
        case Seq(_, _) => 10
        case Seq(_, _, Literal(k: Int, IntegerType)) if k > 0 => k
        case _ => throw new IllegalArgumentException(usage)
      }
      val Seq(d, q) = args.take(2).map(strLit(_, usage))
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.Bm25.rank(spark.table(d), spark.table(q), k)
        .queryExecution.analyzed
    })

  /** `decontaminate_hits('corpus', 'bench'[, 'norm'])` — the
    * census-picked contamination gate
    * ([[graft.QueriesPipeline.contaminationHits]]) from SQL: every
    * corpus doc (doc_id, text) sharing a word 8-gram with the bench
    * table's text, optionally with normalized matching
    * (decontaminate_norm's lowercase + punctuation fold on BOTH
    * sides). The one-aggregate regime census runs at analysis time —
    * the range_join TVF precedent. */
  val decontaminateHitsTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("decontaminate_hits"),
    new ExpressionInfo("graft.QueriesPipeline", "decontaminate_hits"),
    (args: Seq[Expression]) => {
      val usage = "usage: decontaminate_hits('corpus_table', " +
        "'bench_table'[, 'norm'|'raw']) with string literals"
      if (args.length < 2 || args.length > 3)
        throw new IllegalArgumentException(usage)
      val norm = args.length == 3 && (strLit(args(2), usage) match {
        case "norm" => true
        case "raw" => false
        case _ => throw new IllegalArgumentException(usage)
      })
      val Seq(c, b) = args.take(2).map(strLit(_, usage))
      val spark = org.apache.spark.sql.SparkSession.active
      val corpus = spark.table(c)
      val bench = spark.table(b)
      val benchGrams = graft.QueriesPipeline.wordGrams8(
          bench.select(
            org.apache.spark.sql.functions.monotonically_increasing_id()
              .as("doc_id"),
            org.apache.spark.sql.functions.col("text")), norm)
        .select("g").distinct()
      // not persisted: nothing here outlives the query to unpersist it,
      // so the census and the join each compute the (small) gram set
      graft.QueriesPipeline.contaminationHits(
          graft.QueriesPipeline.wordGrams8(corpus, norm), benchGrams)
        .queryExecution.analyzed
    })

  /** `classify('docs')` — the trained quality classifier
    * ([[graft.QueriesPipeline.centroidScore]]) from SQL: train the
    * Rocchio centroid model on the table's (doc_id, text) in one
    * featurize pass and emit (doc_id, score, pred, y) for every
    * document. Training is PART of the returned plan (class sums and
    * the 65-row model are aggregates the engine broadcasts), so no
    * action runs at analysis time. */
  val classifyTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("classify"),
    new ExpressionInfo("graft.QueriesPipeline", "classify"),
    (args: Seq[Expression]) => {
      val usage = "usage: classify('docs_table') with a string literal"
      if (args.length != 1) throw new IllegalArgumentException(usage)
      val d = strLit(args.head, usage)
      val spark = org.apache.spark.sql.SparkSession.active
      val feat = graft.QueriesPipeline.centroidFeatures(spark.table(d))
      graft.QueriesPipeline.centroidScore(feat,
          graft.QueriesPipeline.centroidModel(feat))
        .queryExecution.analyzed
    })

  /** Imperative registration of the SQL operator surface into a
    * session built WITHOUT extensions (Verify/Bench default) —
    * idempotent; product sessions get these via
    * [[GraftExtensions.apply]]. */
  def ensureTableFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.graftbridge.ColumnBridge
      .registerTableFunction(spark, asofJoinTableFunction)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .registerTableFunction(spark, rangeJoinTableFunction)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .registerTableFunction(spark, bm25TableFunction)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .registerTableFunction(spark, decontaminateHitsTableFunction)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .registerTableFunction(spark, classifyTableFunction)
  }
}

/** `slice(array_sort(collect_list(x)), 1, k)` holds every row of the
  * group in the collect_list buffer before sorting and truncating; the
  * same value is the k smallest elements of the group, computable with
  * O(k) state per task ([[BoundedSortedList]]). This rule does that
  * substitution inside Aggregate nodes when the array_sort comparator
  * is the default (a custom comparator changes which k elements
  * survive, so those are left alone), the slice starts at 1, and the
  * length is a positive int literal.
  *
  * Runs in the operator-optimization batch (fixed point), so a
  * `.agg(collect_list).select(slice(array_sort(...)))` phrasing matches
  * too once CollapseProject folds the projection into the Aggregate. */
object RewriteBoundedTopK extends Rule[LogicalPlan] {

  /** True iff `f` is array_sort's default comparator bound to `f`'s own
    * lambda arguments (ArraySort.defaultComparator post-analysis):
    * null-last, then ascending by <. Matching by semanticEquals against
    * a template built from the SAME argument instances survives
    * exprId/cosmetic differences. */
  private def isDefaultComparator(f: LambdaFunction): Boolean =
    f.arguments match {
      case Seq(l, r) =>
        val ascending =
          If(LessThan(l, r), Literal(-1),
            If(GreaterThan(l, r), Literal(1), Literal(0)))
        // collect_list emits no nulls, so by the time this rule sees the
        // plan, constant folding has usually stripped the null branches
        // down to the bare ascending compare — accept both forms
        val full =
          If(And(IsNull(l), IsNull(r)), Literal(0),
            If(IsNull(l), Literal(1),
              If(IsNull(r), Literal(-1), ascending)))
        f.function.semanticEquals(ascending) || f.function.semanticEquals(full)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate => agg.transformExpressions {
      case Slice(
          ArraySort(
            ae @ AggregateExpression(CollectList(child, _, _), _, false, _, _),
            cmp: LambdaFunction, _),
          Literal(1, IntegerType), Literal(k: Int, IntegerType))
          if k > 0 && isDefaultComparator(cmp) =>
        ae.copy(aggregateFunction = BoundedSortedList(child, k))
    }
  }
}
