package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The width decisions, in one place.
  *
  * [[fromStats]]: task width that follows data mass, not core count:
  * one task per `taskBytes` of the frame's optimizer-estimated size,
  * clamped to [lo, hi]. `Queries.spread` and `PrefixSum` call it, each
  * with its own bytes-per-task constant and clamp (OPTIMIZATION_r16.md
  * items 15 and 17). The estimate comes from the optimizer stats of the
  * frame, so the call plans but does not run it; an unavailable
  * estimate counts as unbounded and lands on `hi`.
  *
  * [[fromSlots]]: the bucket count of a fresh crawl db. */
object Width {

  def fromStats(df: DataFrame, taskBytes: Long, lo: Int, hi: Int): Int =
    clamp(scala.util.Try(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .getOrElse(BigInt(Long.MaxValue)), taskBytes, lo, hi)

  /** ceil(bytes / taskBytes), capped at `hi`, then floored at `lo`
    * (so `lo` wins if the two cross). */
  def clamp(bytes: BigInt, taskBytes: Long, lo: Int, hi: Int): Int =
    ((bytes + taskBytes - 1) / taskBytes)
      .min(BigInt(hi)).max(BigInt(lo)).toInt

  /** One bucket per task slot of the session, capped at `cap`, at least
    * 1: the bucket count `tables.GenTable.open` gives a FRESH crawl db
    * when no count was asked for. Every url join over a bucketed db
    * runs one task per bucket and AQE cannot coalesce a bucketed side,
    * so buckets beyond the slots only add per-task cost (32 buckets of
    * ~4 KB each under `local[4]`); a session with at least `cap` slots
    * still gets `cap`. An existing root keeps the count it was written
    * with, whatever the session. */
  def fromSlots(spark: SparkSession, cap: Int): Int =
    spark.sparkContext.defaultParallelism.min(cap).max(1)
}
