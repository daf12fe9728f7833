package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Bucketed

/** Frozen benchmark gram store for REPEATED decontamination — the
  * [[DedupStore]] discipline applied to the benchmark side of the
  * `decontaminate` gate.
  *
  * A training pipeline decontaminates EVERY crawl increment against
  * the same eval suites. The in-plan gate (`QueriesPipeline
  * .contaminationHits`) recomputes the benchmark's distinct 8-grams
  * per run and — past broadcast range — reshuffles them per run too:
  * exactly the cost a frozen side must not pay. This store
  * materializes the grams ONCE, bucketed on the gram text, so each
  * increment's probe join reads the store in place and only
  * increment-derived rows move (DecontaminateStoreSpec asserts the
  * Exchange inventory). Re-install at benchmark-publish cadence.
  *
  * The bucket count is recorded in a `buckets` sidecar at install, so
  * consumers open by directory alone — and [[isStore]] lets the CLI's
  * `-decontaminate <dir>` accept either a raw benchmark parquet dir
  * (in-plan gate) or a store dir (this path) without a second flag. */
object GramStore {

  private def tag(dir: String): String =
    "graft_gramstore_" + dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(40) +
      "_" + Integer.toHexString(dir.hashCode)

  /** Materialize the benchmark's distinct word 8-grams, bucketed on
    * `g`. One synthetic doc_id per bench row (wordGrams8 windows per
    * doc — a shared id would interleave two docs' tokens). With
    * `normalize`, grams are built from lowercased, punctuation-folded
    * tokens (QueriesPipeline.normText) and the choice is recorded in a
    * `norm` sidecar so [[hits]] callers normalize the INCREMENT side
    * identically — a store and a probe normalizing differently would
    * silently never match. */
  def install(benchDocs: DataFrame, dir: String, buckets: Int,
      normalize: Boolean = false): Unit = {
    require(benchDocs.columns.contains("text"),
      s"gram store input needs a `text` column, has " +
        benchDocs.columns.mkString(", "))
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val grams = graft.QueriesPipeline.wordGrams8(
        benchDocs.select(monotonically_increasing_id().as("doc_id"),
          col("text")), normalize)
      .select("g").distinct()
    Bucketed.install(grams, tag(dir), s"$dir/grams", buckets, key = "g")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "buckets"), buckets.toString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "norm"), if (normalize) "1" else "0")
  }

  /** True iff `dir` holds a store written by [[install]]. */
  def isStore(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "grams")) &&
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "buckets"))

  /** Whether `dir` was installed with normalized matching. Stores from
    * before the sidecar existed match raw (the only behavior they ever
    * had). */
  def normalized(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(dir, "norm")
    java.nio.file.Files.exists(p) &&
      java.nio.file.Files.readString(p).trim == "1"
  }

  /** Re-open a store (re-registers the bucketed layout in a fresh
    * session's catalog; bucket count comes from the sidecar). A stale
    * registration from an earlier install of the SAME directory with a
    * DIFFERENT bucket count is dropped and re-registered — trusting it
    * would serve a wrong CLUSTERED BY spec and mis-prune bucketed
    * reads (the sidecar, written atomically with the data, is the
    * source of truth). */
  def open(spark: SparkSession, dir: String): DataFrame = {
    val buckets = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "buckets")).trim.toInt
    val t = tag(dir)
    val registeredBuckets =
      if (!spark.catalog.tableExists(t)) None
      else spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
        .bucketSpec.map(_.numBuckets)
    if (!registeredBuckets.contains(buckets)) {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      Bucketed.register(spark, t, s"$dir/grams", buckets,
        spark.read.parquet(s"$dir/grams").schema, key = "g")
    }
    spark.table(t)
  }

  /** (doc_id, n_shared_grams) for every increment doc sharing ≥1 gram
    * with the frozen store — row-identical to `contaminationHits` over
    * the same benchmark, but the store side never moves: the
    * increment's grams shuffle into the store's bucketing (or
    * broadcast, if AQE sizes the increment under the threshold) and
    * the store's table scan satisfies the join's distribution in
    * place. */
  def hits(increment: DataFrame, storeGrams: DataFrame,
      normalize: Boolean = false): DataFrame =
    graft.QueriesPipeline.wordGrams8(
        increment.select(col("doc_id"), col("text")), normalize)
      .join(storeGrams, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"))
}
