package graft.ops

import org.apache.spark.sql.DataFrame

/** Task width that follows data mass, not core count: one task per
  * `taskBytes` of the frame's optimizer-estimated size, clamped to
  * [lo, hi]. `Queries.spread` and `PrefixSum` call it, each with its own
  * bytes-per-task constant and clamp (OPTIMIZATION_r16.md items 15 and
  * 17). The estimate comes from the optimizer stats of the frame, so
  * the call plans but does not run it; an unavailable estimate counts
  * as unbounded and lands on `hi`. */
object Width {

  def fromStats(df: DataFrame, taskBytes: Long, lo: Int, hi: Int): Int =
    clamp(scala.util.Try(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .getOrElse(BigInt(Long.MaxValue)), taskBytes, lo, hi)

  /** ceil(bytes / taskBytes), capped at `hi`, then floored at `lo`
    * (so `lo` wins if the two cross). */
  def clamp(bytes: BigInt, taskBytes: Long, lo: Int, hi: Int): Int =
    ((bytes + taskBytes - 1) / taskBytes)
      .min(BigInt(hi)).max(BigInt(lo)).toInt
}
