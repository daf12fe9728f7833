package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schemas.{CrawlRow, CrawlStatus}

/** The user-facing CrawlDb read path (CrawlDbReader.java:160-1020):
  * -stats, -dump (csv/json), -topN, -url point lookup — as operators
  * over the real table. The oracle-checked query twins are
  * `crawldb_stats`, `csv_dump`, `q2_top_customers`, `point_lookup`. */
object CrawlDbReader {

  private def statusNameCol = {
    // byte → name without a UDF: chained CASE over the known statuses
    CrawlStatus.names.foldLeft(lit("unknown")) { case (acc, (b, n)) =>
      when(col("datum.status") === b.toInt, lit(n)).otherwise(acc)
    }
  }

  /** -stats: per-status counts + score min/max/avg + median
    * (CrawlDbReader.java:371-509). Production path uses bounded-state
    * aggregates only — on a real crawldb the score column is
    * continuous, so the exact value histogram (one array entry per
    * distinct value) would approach row count for the dominant status
    * and blow the aggregation buffer. The median comes from the same
    * sketch family the reference merges here (`CrawlDbReader.java:
    * 481-507`: per-part MergingDigest(100) of the score column):
    * graft.functions.TDigest, O(δ) state per group per partial.
    * The oracle-checked exact form lives in `crawldb_stats`. */
  /** The reference's default db.stats.score.quantiles list
    * (CrawlDbReader.java:706). */
  val DefaultQuantiles: Seq[Double] = Seq(
    0.01, 0.05, 0.1, 0.2, 0.25, 0.3, 0.4, 0.5,
    0.6, 0.7, 0.75, 0.8, 0.9, 0.95, 0.99)

  def stats(db: Dataset[CrawlRow],
      quantiles: Seq[Double] = DefaultQuantiles): DataFrame = {
    // all requested quantiles read out of ONE digest per status group
    // (identical agg expressions deduplicate in planning) — the
    // reference's db.stats.score.quantiles list (default .01...99,
    // CrawlDbReader.java:706-731) costs one sketch either way
    val digest = graft.functions.TDigest.quantileAgg(
      col("score"), quantiles)
    val qCols = quantiles.zipWithIndex.map { case (q, i) =>
      val pct = math.rint(q * 100).toInt
      round(element_at(digest, i + 1), 4).as(s"p${pct}_score")
    }
    val aggCols = Seq(
      count(lit(1)).as("cnt"),
      min(col("score")).as("min_score"),
      max(col("score")).as("max_score"),
      avg(col("score")).as("avg_score")) ++ qCols
    db.toDF()
      .select(statusNameCol.as("status"),
        col("datum.score").cast("double").as("score"))
      .groupBy("status")
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** -stats -sort: per-(status, host) url counts — the reference's
    * db.reader.stats.sort breakdown (CrawlDbReader.java:412-419: the
    * stat mapper emits one "status <code> <host>" counter per record
    * when the sort flag is set; the reducer sums). Unparseable urls
    * are skipped, as the mapper's MalformedURLException catch drops
    * the record. One map-side-combinable aggregate: at 10^9 rows a
    * host census per status is still ≤ |hosts|×|statuses| partials. */
  def statsByHost(db: Dataset[CrawlRow]): DataFrame =
    db.toDF()
      .select(statusNameCol.as("status"),
        graft.functions.Urls.host(col("url")).as("host"))
      .filter(col("host").isNotNull && col("host") =!= "")
      .groupBy("status", "host")
      .agg(count(lit(1)).as("cnt"))

  /** -dump csv lines (quoted url, status name, score, fetch time). */
  def csvLines(db: Dataset[CrawlRow]): DataFrame =
    db.toDF().select(concat(
      lit("\""), col("url"), lit("\","),
      statusNameCol, lit(","),
      col("datum.score").cast("decimal(12,4)"), lit(","),
      col("datum.fetchTime")).as("line"))

  def dumpCsv(db: Dataset[CrawlRow], outDir: String): Unit =
    csvLines(db).write.mode(SaveMode.Overwrite).text(outDir)

  /** -dump json lines. */
  def dumpJson(db: Dataset[CrawlRow], outDir: String): Unit =
    db.toDF()
      .select(to_json(struct(col("url"),
        statusNameCol.as("status"),
        col("datum.score").as("score"),
        col("datum.fetchTime").as("fetchTime"),
        col("datum.retries").as("retries"),
        col("datum.signature").as("signature"))).as("value"))
      .write.mode(SaveMode.Overwrite).text(outDir)

  /** -topN by score: orderBy + limit plans TakeOrderedAndProject, so
    * no global sort is materialized; total order via url. */
  def topN(db: Dataset[CrawlRow], n: Int): DataFrame =
    db.toDF().select(col("url"), col("datum.score").as("score"))
      .orderBy(desc("score"), asc("url")).limit(n)

  /** -topHosts: the k most-crawled hosts by page count, through the
    * Misra–Gries two-pass (functions/FreqSketch.scala): sketch
    * candidates with capacity-bounded per-task state, then recount
    * just the candidates exactly under a broadcast join. At 10^7+
    * distinct hosts this replaces the full host-census shuffle a plain
    * groupBy ships (per-task partial rows ∝ distinct hosts) with one
    * ~capacity-entry summary per task. Exact whenever the k-th host's
    * true count exceeds n/(capacity+1) — MGSpec's survivor bound —
    * which any real crawl's Zipf-shaped host distribution satisfies at
    * capacity ≫ k; the oracle-checked twin is `heavy_hitters`. */
  def topHosts(db: Dataset[CrawlRow], k: Int,
      capacity: Int = 4096): DataFrame = {
    val hosts = db.toDF()
      .select(graft.functions.Urls.host(col("url")).as("host"))
    val cand = hosts
      .agg(graft.functions.FreqSketch.mgTopK(col("host"), capacity)
        .as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.key").as("host"))
    hosts.join(broadcast(cand), "host")
      .groupBy("host").agg(count(lit(1)).as("n_pages"))
      .orderBy(desc("n_pages"), asc("host")).limit(k)
  }

  /** -url point lookup (MapFile.getEntry parity,
    * CrawlDbReader.java:821-832: the reference opens ONE map file and
    * seeks — it never scans the db). Over the bucketed layout the
    * equality filter on the bucketing column prunes the scan to 1
    * bucket of N, but ONLY while the bucketed scan is in force:
    * Spark's DisableUnnecessaryBucketedScan rule turns bucketed
    * reading off for plans with no join/agg on the bucket key
    * (SPARK-32859 considers output partitioning, not pruning), which
    * would silently re-inflate the lookup to a full-table scan.
    *
    * The conf is pinned off in a PRIVATE cloned session, never on the
    * caller's: SQL confs are session-global, so a set/restore around
    * the action would race every concurrently planning thread of a
    * shared session (REST handlers vs jobs) and two interleaved
    * lookups could restore each other's save into a permanent flip.
    * The dataset's resolved plan crosses into the clone via a
    * one-shot global temp view (analyzed plans are session-portable;
    * the clone re-plans it under ITS conf). PlanShapeSpec asserts
    * `SelectedBucketsCount: 1 out of N` stays in the plan. */
  def url(db: Dataset[CrawlRow], u: String): Option[CrawlRow] = {
    val spark = db.sparkSession
    val clone = spark.newSession()
    clone.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val view = "graft_lookup_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    db.createOrReplaceGlobalTempView(view)
    try clone.table(s"global_temp.$view")
      .as[CrawlRow](org.apache.spark.sql.Encoders.product[CrawlRow])
      .filter(col("url") === u).limit(1).collect().headOption
    finally spark.catalog.dropGlobalTempView(view)
  }
}
