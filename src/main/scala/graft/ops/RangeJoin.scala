package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range) join as a public operator — probe points against
  * variable-width [lo, hi) intervals, the join family Spark itself
  * plans as BroadcastNestedLoop/Cartesian (SURVEY §2.3: the reference
  * has no theta/range joins at all). The scalable shape is the 1-D
  * spatial-grid decomposition: quantize the value axis into G-sized
  * cells, EXPAND each interval to every cell it overlaps (explode —
  * ceil(width/G)+1 rows), equi-join points to cells, and re-check the
  * exact interval predicate after. One hash-shuffle join instead of an
  * unprunable |points|×|intervals| loop; the answer is invariant to G
  * (the re-check guarantees it), G only shapes the plan.
  *
  * GRID HAZARD (measured, SCALE_r12/r13 probe series): a G much
  * LARGER than the interval widths packs many non-overlapping
  * intervals and points into each cell — the equi-join then emits
  * candidate pairs quadratically within cells and the re-check
  * discards most of them, CPU burn INVISIBLE to shuffle-based
  * superlinearity detection (66×/decade in wall seconds at fixed G
  * while shuffle stayed linear). A G much SMALLER than an interval's
  * width explodes that interval to width/G build rows instead. The
  * default derives G from the data ([[grid]]) so neither misfit is a
  * caller obligation.
  *
  * All arithmetic is exact 64-bit integer; callers with
  * double-valued axes quantize first (the fixed-point discipline). */
object RangeJoin {

  /** Grid size from the interval-width distribution:
    * max(ceil(p50 width / 4), ceil(maxWidth/64), 1).
    *
    * Why QUARTER-median (r15; the r12–r14 formula was the p99 width):
    * the within-cell candidate count is |probe|·|intervals|·(avgW+G)/D
    * — the irreducible match mass plus a waste term LINEAR IN G — so
    * when many intervals overlap densely, any G at the width scale
    * multiplies the exact-predicate re-checks several-fold (measured
    * on the bench fixture: G=p99=3700 evaluated ~3× the candidates of
    * G=p50/4=475 and put the whole join on ~27 grid cells — fewer
    * cells than cores). G = p50/4 bounds the waste at ~25% of the true
    * match mass for near-uniform widths while build amplification
    * stays ≤ ~5 cells per typical interval; the ceil(maxWidth/64)
    * floor still bounds ANY interval's explosion at ≤ 65 cells, so one
    * pathological band cannot blow up the build side. The answer is
    * invariant to G (exact re-check; RangeJoinAutoSpec pins parity
    * against fixed grids on both sides of the derivation).
    *
    * One bounded aggregate (approx_percentile sketch state, never a
    * sort). Widths are cast to long inside the aggregate (so
    * int/short-typed axes work — approx_percentile/max return the
    * INPUT type) and inverted intervals (hi <= lo) are excluded,
    * matching [[join]]'s filter: a malformed negative width must not
    * drag the median down. */
  def grid(intervals: DataFrame, lo: String, hi: String): Long = {
    val r = intervals
      .where(col(hi) > col(lo))
      .select((col(hi).cast("long") - col(lo).cast("long")).as("_rj_w"))
      .agg(expr("approx_percentile(_rj_w, 0.5, 10000)").as("p50"),
        max(col("_rj_w")).as("mx"), count(lit(1)).as("n"))
      .head()
    if (r.getLong(2) == 0L) 1L
    else math.max(1L,
      math.max((r.getLong(0) + 3L) / 4L, (r.getLong(1) + 63L) / 64L))
  }

  /** Every (interval row × point row) pair with `points(v)` in
    * `[intervals(lo), intervals(hi))` — all columns of both inputs
    * pass through (they must not collide). Empty and inverted
    * intervals (hi <= lo) match nothing, filtered BEFORE the cell
    * explode: sequence() auto-steps downward on inverted bounds, so
    * one malformed interval would otherwise explode to (lo-hi)/G
    * descending cells. `gridSize = None` derives G from the data. */
  def join(intervals: DataFrame, points: DataFrame,
      lo: String, hi: String, v: String,
      gridSize: Option[Long] = None): DataFrame = {
    val overlap = intervals.columns.toSet.intersect(points.columns.toSet)
    require(overlap.isEmpty,
      s"RangeJoin inputs share column names: ${overlap.mkString(", ")}")
    val g = gridSize.getOrElse(grid(intervals, lo, hi))
    require(g > 0, s"grid must be positive, got $g")
    val cell = "_rj_cell"
    require(!intervals.columns.contains(cell) &&
      !points.columns.contains(cell), s"column $cell is reserved")
    val cells = intervals.where(col(hi) > col(lo)).withColumn(cell,
      explode(sequence(expr(s"$lo div $g"), expr(s"($hi - 1) div $g"))))
    // r16: pin the join's reducer width with an explicit
    // REPARTITION_BY_NUM on the cell key. The equi-join's cost is the
    // within-cell candidate EXPANSION + exact re-check, not its input
    // bytes — AQE's byte-based coalescing sees a KB-scale exchange and
    // ran the whole join in ONE task at sf0.1 (a single 1.83 CPU-s /
    // 1.83 s stage = the entire query wall; OPTIMIZATION_r16.md item
    // 23). The explicit count replaces the coalescible
    // ENSURE_REQUIREMENTS exchange (no extra shuffle) and is what
    // pre-AQE Spark would plan:
    // max(defaultParallelism, spark.sql.shuffle.partitions), both
    // cluster-tuned — not a local[32] constant. The answer is
    // partitioning-invariant (hash equi-join + exact re-check;
    // RangeJoinAutoSpec unchanged).
    val ses = points.sparkSession
    val n = math.max(ses.sparkContext.defaultParallelism,
      ses.sessionState.conf.numShufflePartitions)
    points.withColumn(cell, expr(s"$v div $g"))
      .repartition(n, col(cell))
      .join(cells, cell)
      .filter(col(v) >= col(lo) && col(v) < col(hi))
      .drop(cell)
  }
}
