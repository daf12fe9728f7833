package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Width: the one bytes-per-task width rule behind `Queries.spread`
  * (64 KB per task, clamped to [2, cores]) and `PrefixSum`'s range
  * width (512 KB per task, clamped to [max(2, maxParts/4), maxParts]).
  * Pinned at the clamp edges with each caller's constants. */
class WidthSpec extends AnyFunSuite with graft.SparkSuite {

  private val spreadTask = 64L << 10
  private val prefixTask = 512L << 10

  test("spread rule: ceil(bytes / 64 KB) clamped to [2, cores]") {
    def w(bytes: BigInt, cores: Int) = Width.clamp(bytes, spreadTask, 2, cores)
    assert(w(0, 4) == 2)
    assert(w(1, 4) == 2)
    assert(w(spreadTask * 2, 4) == 2)
    assert(w(spreadTask * 2 + 1, 4) == 3)
    assert(w(spreadTask * 3, 4) == 3)
    assert(w(spreadTask * 3 + 1, 4) == 4)
    assert(w(spreadTask * 1000, 4) == 4)
    assert(w(spreadTask * 31 + 1, 32) == 32)
    assert(w(BigInt(Long.MaxValue), 32) == 32)
    // the floor wins when cores < 2
    assert(w(spreadTask * 1000, 1) == 2)
  }

  test("PrefixSum rule: ceil(bytes / 512 KB) clamped to " +
    "[max(2, maxParts/4), maxParts]") {
    def w(bytes: BigInt, maxParts: Int) =
      Width.clamp(bytes, prefixTask, math.max(2, maxParts / 4), maxParts)
    assert(w(0, 32) == 8)
    assert(w(prefixTask * 8, 32) == 8)
    assert(w(prefixTask * 8 + 1, 32) == 9)
    assert(w(prefixTask * 32, 32) == 32)
    assert(w(prefixTask * 32 + 1, 32) == 32)
    assert(w(BigInt(Long.MaxValue), 32) == 32)
    assert(w(0, 4) == 2)
    assert(w(prefixTask * 3, 4) == 3)
    assert(w(prefixTask * 5, 4) == 4)
  }

  test("fromStats reads the optimizer's size estimate") {
    // a Range estimates 8 bytes per row: 100000 rows = 800000 bytes
    val df = spark.range(100000).toDF("id")
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes == 800000)
    assert(Width.fromStats(df, spreadTask, 2, 32) == 13)
    assert(Width.fromStats(df, prefixTask, 8, 32) == 8)
  }
}
