package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-group running sum — the two-phase prefix scan that
  * replaces `Window.partitionBy(group).orderBy(ord)` wherever a group
  * can dominate the data. A group-partitioned window puts each group's
  * ENTIRE row set in one task (AQE cannot split a window partition), so
  * a corpus that is 50% one language computes half its running sum on
  * one core no matter the cluster — the straggler pathology excised
  * from Generate and Dedup in round 9, here excised from the last
  * remaining data-sized window (pack_chunks' per-language token scan).
  *
  * Classic two-phase parallel scan (Blelloch, "Prefix Sums and Their
  * Applications", CMU-CS-90-190), expressed as DataFrame algebra:
  *
  *  1. Range-partition the rows by (group, ord) into P partitions —
  *     the hot group spans ~P consecutive partitions in proportion to
  *     its mass (RangePartitioner samples with weight). A row's range
  *     partition id becomes a column; ids are assigned in key-sort
  *     order, so for any one group, pid order IS ord order.
  *  2. Partition-local scan: a window keyed by (pid, group) — at most
  *     one partition's slice of one group per task, so parallelism is
  *     the PARTITION count, never the group count.
  *  3. Per-(pid, group) subtotals — ≤ P rows per group, a sketch-sized
  *     frame — get exclusive prefix offsets over pid within group (a
  *     window, but over ≤ P rows per group by construction) and
  *     broadcast back onto the local scan: cum = local + offset.
  *
  * Cost: two narrow shuffles of (group, ord, value) instead of the
  * window's one — the price of splitting the hot group — plus a
  * broadcast of ≤ P×G subtotal rows. Result is bit-identical to the
  * group-partitioned window whenever `ord` is unique within its group
  * (the same condition the window itself needs to be deterministic).
  * `group` may be null: the subtotal join is null-safe, matching the
  * window's null-as-a-group semantics.
  *
  * Caller contract: the GROUP cardinality must be broadcastable
  * (G ≪ rows — languages, sources, shards). That is exactly the
  * regime where the group window is a straggler; a near-distinct
  * group key (per-doc windows) is already fine-grained and needs no
  * replacement — and would blow the subtotal broadcast here. */
object PrefixSum {

  /** Append `out` = running sum of `value` over rows ordered by `ord`
    * within each `group`, computed with partition-count parallelism.
    * All other columns pass through unchanged. */
  def groupedRunningSum(df: DataFrame, group: Column, ord: Column,
      value: Column, out: String): DataFrame =
    scan(df, group, ord, value, out, isSum = true)

  /** Append `out` = running MAX of `value` (any orderable type,
    * including structs — nulls skipped, as the window skips them)
    * over rows ordered by `ord` within each `group` — the same
    * two-phase Blelloch scan with (max, greatest) in place of
    * (sum, +). This is the carry shape for AS-OF joins: the r12
    * verdict's watch-item #4 is the per-user window putting one hot
    * user's whole history in one task; here the range partitioner
    * splits that user across partitions in proportion to its mass.
    *
    * Unlike the sum variant, the offset join is NOT forced broadcast:
    * an as-of group key (user_id) has data-sized cardinality, so the
    * subtotal frame is ~|groups| rows — small next to the base (one
    * row per (partition, group) slice) but not driver-sized. It joins
    * hash-spread on (pid, group); AQE broadcasts it when it fits. */
  def groupedRunningMax(df: DataFrame, group: Column, ord: Column,
      value: Column, out: String): DataFrame =
    scan(df, group, ord, value, out, isSum = false)

  private def scan(df: DataFrame, group: Column, ord: Column,
      value: Column, out: String, isSum: Boolean): DataFrame = {
    val s = df.sparkSession
    // range width follows the session's shuffle sizing, not just core
    // count: at real scale shuffle.partitions is tuned so a partition
    // fits executor memory, and the scan's parallelism cap is P.
    // The conf value may be non-numeric ("auto" under some AQE
    // setups) — fall back to defaultParallelism, don't throw.
    val maxParts = math.max(
      s.sparkContext.defaultParallelism,
      scala.util.Try(
        s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
        .getOrElse(s.sparkContext.defaultParallelism)).max(2)
    // Scale-adaptive width (r16, guide §2 — same finding as spread():
    // a range stage of `maxParts` CONCURRENT near-empty tasks burns
    // ~10× its real CPU in intra-JVM contention; asof_join's two scan
    // stages cost 8.1+3.1 CPU-s at parts=32 vs 0.94+0.20 at 8, wall
    // 2.38→1.20; OPTIMIZATION_r16.md item 17). One range partition per
    // 512 KB of input (optimizer stats of the incoming frame), clamped
    // to [max(2, maxParts/4), maxParts]: the FLOOR keeps a
    // mis-estimated big input within 4× of the session's tuned width
    // (range partitions cap the scan's parallelism, so an
    // underestimate at real scale must not collapse it), the CAP
    // preserves the documented contract that partitions fit executor
    // memory at scale. Result is parts-invariant by construction (the
    // r16 parts sweep 32/16/8/4 was row-identical on asof_join,
    // curriculum_order and pack_chunks).
    val parts = Width.fromStats(df, 512L << 10, math.max(2, maxParts / 4),
      maxParts)
    // working-column names must not clobber caller columns: salt the
    // fixed prefix until it collides with nothing (incl. `out`)
    val taken = df.columns.toSet + out
    val p = Iterator.from(0).map(i => if (i == 0) "_ps" else s"_ps$i")
      .dropWhile(pre => taken.exists(_.startsWith(pre))).next()
    // The ranged frame feeds BOTH phases. It must materialize exactly
    // once: RangePartitioner's sample seed folds in the RDD id, so two
    // independent materializations of the same logical plan can pick
    // DIFFERENT boundaries — rows then sit in one pid for the subtotal
    // pass and another for the local scan, double- or under-counting
    // the offsets (observed: a constant drift from one boundary on).
    // A lazy localCheckpoint pins one shared RDD for both consumers
    // (lazy, so Bench's timed action still pays the materialization —
    // nothing escapes the measurement); the checkpointed columns are
    // only (passthrough, group, ord, value, pid).
    val base = df
      .withColumn(s"${p}g", group).withColumn(s"${p}o", ord)
      .withColumn(s"${p}v", value)
      .repartitionByRange(parts, col(s"${p}g"), col(s"${p}o"))
      .withColumn(s"${p}pid", spark_partition_id())
      .localCheckpoint(false)
    // phase 2 input: one subtotal row per (pid, group) slice
    def combine(c: Column): Column = if (isSum) sum(c) else max(c)
    val prevW = Window.partitionBy(col(s"${p}g")).orderBy(col(s"${p}pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val subtotals = base.groupBy(col(s"${p}pid"), col(s"${p}g"))
      .agg(combine(col(s"${p}v")).as(s"${p}sub"))
    val offsets0 = subtotals
      .withColumn(s"${p}off",
        if (isSum) coalesce(combine(col(s"${p}sub")).over(prevW), lit(0L))
        // max identity is null: a null offset means "no prior slice"
        // and greatest() below skips it, exactly like the window
        // skips null values
        else combine(col(s"${p}sub")).over(prevW))
      .select(col(s"${p}pid").as(s"${p}jpid"), col(s"${p}g").as(s"${p}jg"),
        col(s"${p}off"))
    // sum groups are broadcastable by contract (languages, sources);
    // max groups (as-of user ids) are data-sized — hash-join those
    // and let AQE broadcast when the census fits
    val offsets = if (isSum) broadcast(offsets0) else offsets0
    // phase 2: partition-local scan + offset join (null-safe on the
    // group key — null is a group, as it is for the window)
    base
      .withColumn(s"${p}local",
        combine(col(s"${p}v")).over(
          Window.partitionBy(col(s"${p}pid"), col(s"${p}g"))
            .orderBy(col(s"${p}o"))))
      .join(offsets,
        col(s"${p}pid") === col(s"${p}jpid") &&
          (col(s"${p}g") <=> col(s"${p}jg")))
      .withColumn(out,
        if (isSum) col(s"${p}local") + col(s"${p}off")
        else greatest(col(s"${p}local"), col(s"${p}off")))
      .drop(s"${p}g", s"${p}o", s"${p}v", s"${p}pid", s"${p}local",
        s"${p}jpid", s"${p}jg", s"${p}off")
  }
}
