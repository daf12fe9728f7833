package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared operator query: a Spark build plus (when SQL-expressible)
  * an equivalent DuckDB oracle over the same parquet tables.
  *
  * Oracle-safety rules used throughout (the driver hash-compares values
  * after sorting columns by name):
  *   - Money/float SUMs are integer-ized per row (`round(x*10^s)` → long)
  *     before aggregation so the result is order-independent and
  *     bit-identical across engines ("fixed-point sum" pattern).
  *   - MIN/MAX/exact-percentile on doubles are order-independent already.
  *   - Every top-k has a total tiebreak order on a unique key.
  *   - Aggregate/computed columns are aliased identically on both sides.
  *   - Cross-engine hashing uses md5 (the only hash both engines share).
  *   - EVERY integer aggregate in the oracle's FINAL SELECT is wrapped
  *     in CAST(... AS BIGINT): DuckDB widens SUM(BIGINT) to HUGEINT,
  *     which serializes as a float ("1435.0") and fails the driver's
  *     hash compare on numerically equal values (the round-7 board's
  *     only two reds). tools/check.py is type-strict on the int/float
  *     divide precisely to catch this locally.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {

  def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Engage all cores for a CPU-dense map phase when the SOURCE
    * under-partitions. A small table is often one parquet row-group =
    * ONE Spark task (a row-group cannot split below its byte range),
    * so shingling/hashing/codec map work serializes on a single core
    * no matter the cluster — measured: flac_stats spent its entire
    * 2.8 s on one of 32 threads. The guard makes this a strict no-op
    * whenever the scan already splits at least half the cores wide —
    * at real scale file counts dwarf parallelism and NO payload
    * shuffle is added; at toy/hot-table scale the one-time key-hashed
    * shuffle (bytes = the small table itself) buys full-width CPU.
    * The numbered form is deliberate: AQE coalesces a column-only
    * repartition of a tiny table straight back to one task.
    *
    * Wrap SCAN-ROOTED frames only (every caller wraps a bare t()):
    * the guard reads the physical split count via `.rdd`, which for a
    * scan is one cheap planning pass, but for a frame containing a
    * shuffle would materialize the upstream AQE stages eagerly at
    * build time. */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val sess = df.sparkSession
    val cores = sess.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= cores) df
    else {
      // Scale-adaptive width (r16; guide §2 "derive partitioning from
      // input size, not a constant"): one task per 64 KB of scan input,
      // clamped to [2, cores]. A KB-scale table at full core width
      // schedules `cores` near-empty tasks whose CONCURRENCY is the
      // cost: measured on local[32], the same 32-task stage burns
      // 0.4-0.5 executor-CPU-s when ≤4 run at once but 6.5 CPU-s when
      // all 32 run together (~15× pure intra-JVM contention, bpe_encode
      // subquery stage; OPTIMIZATION_r16.md item 15) — so width follows
      // data mass, and the [2, cores] clamp keeps production semantics:
      // any input past cores×64 KB (trivially true at real scale) still
      // spreads to every core, and the guard above already no-ops when
      // the scan splits wide naturally. Byte size comes from the
      // optimizer stats of the scan-rooted frame (same cost class as
      // the .rdd guard above).
      val width = graft.ops.Width.fromStats(df, 64L << 10, 2, cores)
      df.repartition(width, key)
    }
  }

  /** Fixed-point: round(c * 10^scale) as long — order-independent sum unit. */
  def fx(c: Column, scale: Int): Column =
    round(c * math.pow(10, scale), 0).cast("long")

  /** Order-independent double-valued sum of a money-like column. */
  def fxSum(c: Column, scale: Int): Column =
    sum(fx(c, scale)).cast("double") / math.pow(10, scale)

  /** DuckDB side of fxSum. */
  def sqlFxSum(expr: String, scale: Int): String =
    s"CAST(SUM(CAST(ROUND(($expr)*1e$scale) AS BIGINT)) AS DOUBLE)/1e$scale"

  /** Cross-engine deterministic 60-bit hash — single implementation in
    * functions.Hashing (two copies could silently drift). */
  def md5Long(c: Column): Column = graft.functions.Hashing.md5Long(c)

  /** DuckDB side of md5Long. */
  def sqlMd5Long(expr: String): String =
    s"CAST('0x' || substr(md5($expr),1,15) AS BIGINT)"

  /** All declared queries, in registration order.
    *
    * LAZY on purpose: each QueriesX object's initializer calls back
    * into helpers here (t/spread/fx), so an entry point that touches a
    * QueriesX object FIRST (e.g. Main's `bpe` verb calling
    * QueriesPipeline.bpeLoop directly) starts this object's init from
    * inside that one's — an eager `all` would then read the
    * mid-initialization object's still-null `all` member (observed as
    * an opaque NPE in ListBuffer.addAll). Deferring the concatenation
    * to first access breaks the cycle for every entry order. */
  lazy val all: Seq[Q] =
    QueriesCore.all ++ QueriesGraph.all ++ QueriesCrawl.all ++
      QueriesText.all ++ QueriesEmbed.all ++ QueriesStream.all ++
      QueriesUpdateDb.all ++ QueriesNet.all ++ QueriesSinks.all ++
      QueriesFilters.all ++ QueriesPipeline.all ++ QueriesPlugins.all

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
