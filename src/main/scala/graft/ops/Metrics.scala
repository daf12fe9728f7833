package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.schemas._

/** Per-job crawl metrics — the observability surface a 100 TB operator
  * dashboards. Mirrors the reference's Hadoop-counter taxonomy
  * (src/java/org/apache/nutch/metrics/NutchMetrics.java: snake_case
  * `_total` counters in per-job groups, Prometheus naming) as ROWS of
  * an append-only metrics table instead of task counters: (round, job,
  * name, value), one table per crawl root.
  *
  * Design for scale: every counter set is ONE aggregation over a
  * dataset the round already materialized to parquet — conditional
  * sums in a single groupBy().agg() pass, unpivoted to rows. Output
  * per job is O(#counters) rows, so the append and the later readback
  * are trivially small; nothing here adds a shuffle over row-scale
  * data. Wall-clock per job arrives from the conductor as a
  * `wall_ms` gauge (the LatencyTracker `_sum_ms` analog; per-URL
  * protocol latency is intentionally not persisted per row — the
  * pacer owns in-flight timing).
  */
object Metrics {

  final case class MetricRow(round: Int, job: String, name: String,
      value: Long)

  /** One aggregation pass → counter rows. `pairs` are (name, condition
    * or value expression); each becomes `sum(expr)` in a single agg. */
  private def unpivot(df: DataFrame, round: Int, job: String,
      pairs: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val agg = df.groupBy().agg(
      pairs.head._2.as(pairs.head._1),
      pairs.tail.map { case (n, c) => c.as(n) }: _*)
    val stackExpr = pairs.map { case (n, _) => s"'$n', coalesce(`$n`, 0L)" }
      .mkString(s"stack(${pairs.size}, ", ", ", ")")
    agg.select(expr(stackExpr).as(Seq("name", "value")))
      .select(lit(round).as("round"), lit(job).as("job"),
        col("name"), col("value").cast("long"))
  }

  private def cnt(cond: org.apache.spark.sql.Column) =
    sum(when(cond, 1L).otherwise(0L))

  /** LatencyTracker analog (metrics/LatencyTracker.java suffixes):
    * count/sum plus t-digest percentiles over the `_rs_` response
    * times the protocol pass records when storeResponseTime is on —
    * the reference's own sketch family at its compression
    * (Fetcher.java:507-525 merges MergingDigest(100) latency digests
    * across fetcher threads); graft.functions.TDigest is the
    * first-party equivalent, O(δ) state per partial. The three
    * read-outs share ONE digest: identical aggregate expressions
    * deduplicate in planning, so this is a single sketch pass, not
    * three. Rows without `_rs_` (the flag off, robots-denied,
    * drained) contribute nothing; all-absent yields count 0 and
    * zeroed gauges. */
  private def latencyPairs(md: org.apache.spark.sql.Column)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    val rs = md.getItem(Fetch.ResponseTimeKey).cast("long")
    val digest = graft.functions.TDigest.quantileAgg(
      rs, Seq(0.5, 0.95, 0.99))
    def pct(i: Int) =
      coalesce(element_at(digest, i).cast("long"), lit(0L))
    Seq(
      "fetch_latency_count_total" -> cnt(rs.isNotNull),
      "fetch_latency_sum_ms" -> sum(coalesce(rs, lit(0L))),
      "fetch_latency_p50_ms" -> pct(1),
      "fetch_latency_p95_ms" -> pct(2),
      "fetch_latency_p99_ms" -> pct(3))
  }

  /** nutch_fetcher group (NutchMetrics.java GROUP_FETCHER): outcome
    * counters from the fetch segment's own markers — success, failures,
    * robots denials (incl. the crawl-delay refusal), watchdog drains,
    * redirects — plus bytes_downloaded_total from the content rows. */
  def fetcher(round: Int, fetch: Dataset[CrawlRow],
      content: Dataset[ContentRow]): DataFrame = {
    val d = fetch.toDF()
    val st = col("datum.status")
    val md = col("datum.metadata")
    val robots = md.getItem(Fetch.RobotsDeniedKey)
    val drain = md.getItem("_drain_")
    val counters = unpivot(d, round, "fetcher", Seq(
      "fetched_total" -> cnt(st === CrawlStatus.FETCH_SUCCESS),
      "failed_fetches_total" ->
        cnt(st === CrawlStatus.FETCH_GONE && robots.isNull),
      "not_fetched_total" -> cnt(st === CrawlStatus.FETCH_RETRY),
      "robots_denied_total" -> cnt(robots === "true"),
      "robots_denied_maxcrawldelay_total" -> cnt(robots === "crawl-delay"),
      "hit_by_timelimit_total" -> cnt(drain === "timelimit"),
      "hit_by_throughput_threshold_total" -> cnt(drain === "throughput"),
      "redirects_total" -> cnt(st === CrawlStatus.FETCH_REDIR_PERM ||
        st === CrawlStatus.FETCH_REDIR_TEMP)) ++ latencyPairs(md) ++
      (("errors_total" -> cnt(md.getItem(Errors.MetadataKey).isNotNull)) +:
        Errors.categories.map(c =>
          s"errors_${c}_total" -> cnt(md.getItem(Errors.MetadataKey) === c))))
    val bytes = unpivot(content.toDF(), round, "fetcher", Seq(
      "bytes_downloaded_total" ->
        sum(coalesce(octet_length(col("bytes")).cast("long"), lit(0L)))))
    counters.union(bytes)
  }

  /** nutch_generator group: records_generated_total. */
  def generator(round: Int, generate: Dataset[GenerateEntry]): DataFrame =
    unpivot(generate.toDF(), round, "generator",
      Seq("records_generated_total" -> count(lit(1))))

  /** nutch_parser group: successful parses, detected outlinks, the
    * LINKED discoveries handed to updatedb (added_links_total), and
    * PARSE_FAILED transients (emitted when Parse.Config.deleteFailed
    * is on; otherwise failures simply produce no parse row). */
  def parser(round: Int, parseData: Dataset[ParseDataRow],
      crawlParse: Dataset[CrawlRow]): DataFrame = {
    val parsed = unpivot(parseData.toDF(), round, "parser", Seq(
      "parsed_total" -> count(lit(1)),
      "outlinks_detected_total" ->
        sum(coalesce(size(col("outlinks")).cast("long"), lit(0L)))))
    val links = unpivot(crawlParse.toDF(), round, "parser", Seq(
      "added_links_total" ->
        cnt(col("datum.status") === CrawlStatus.LINKED),
      "errors_parsing_total" ->
        cnt(col("datum.status") === CrawlStatus.PARSE_FAILED)))
    parsed.union(links)
  }

  /** nutch_crawldb group: total size plus one `db_<status>_total` per
    * CrawlDb status — the readdb -stats shape as counter rows. */
  def crawldb(round: Int, db: Dataset[CrawlRow]): DataFrame = {
    val statuses = Seq(
      "unfetched" -> CrawlStatus.DB_UNFETCHED,
      "fetched" -> CrawlStatus.DB_FETCHED,
      "gone" -> CrawlStatus.DB_GONE,
      "redir_temp" -> CrawlStatus.DB_REDIR_TEMP,
      "redir_perm" -> CrawlStatus.DB_REDIR_PERM,
      "notmodified" -> CrawlStatus.DB_NOTMODIFIED,
      "duplicate" -> CrawlStatus.DB_DUPLICATE,
      "orphan" -> CrawlStatus.DB_ORPHAN)
    unpivot(db.toDF(), round, "crawldb",
      ("db_size_total" -> count(lit(1))) +:
        statuses.map { case (n, b) =>
          s"db_${n}_total" -> cnt(col("datum.status") === b)
        })
  }

  /** ErrorTracker analog (metrics/ErrorTracker.java:285-340 categorize
    * ladder): map a throwable to the reference's error taxonomy —
    * timeout before the general IOException, specific network types,
    * URL errors before IOException (MalformedURLException extends it),
    * remaining IO as network, then protocol/parsing by class name,
    * OTHER as the floor. The category rides fetch metadata (`_error_`)
    * and lands as `errors_<cat>_total` counters. */
  object Errors {
    val MetadataKey = "_error_"

    def categorize(t: Throwable): String = {
      if (t == null) return "other"
      val cn = t.getClass.getName
      if (t.isInstanceOf[java.net.SocketTimeoutException] ||
          cn.contains("TimeoutException") || cn.contains("Timeout"))
        "timeout"
      else if (t.isInstanceOf[java.net.SocketException] ||
          t.isInstanceOf[java.net.UnknownHostException] ||
          cn.contains("ConnectException") ||
          cn.contains("NoRouteToHostException") ||
          cn.contains("ConnectionRefusedException"))
        "network"
      else if (t.isInstanceOf[java.net.MalformedURLException] ||
          cn.contains("URISyntaxException") ||
          t.isInstanceOf[IllegalArgumentException])
        "url"
      else if (t.isInstanceOf[java.io.IOException]) "network"
      else if (cn.contains("ProtocolException")) "protocol"
      else if (cn.contains("ParseException") || cn.contains("SAXException"))
        "parsing"
      else "other"
    }

    val categories: Seq[String] =
      Seq("network", "timeout", "url", "protocol", "parsing", "other")
  }

  /** The rows of several counter frames, run as ONE query (the frames'
    * aggregates union into one job) and collected: O(#counters) rows. */
  def collect(frames: Seq[DataFrame]): Seq[MetricRow] = {
    val spark = frames.head.sparkSession
    import spark.implicits._
    frames.reduce(_ union _).as[MetricRow].collect().toSeq
  }

  /** Append-only metrics table under `<root>/metrics`. */
  final class Table(spark: SparkSession, val dir: String) {
    /** One parquet file per call: the rows are driver-side and few, so
      * a caller gathers a step's counters and gauges and appends them
      * once instead of paying a write job per metric. */
    def append(rows: Seq[MetricRow]): Unit = {
      import spark.implicits._
      rows.toDS().coalesce(1).write.mode("append").parquet(dir)
    }
    def read(): DataFrame = {
      if (!new java.io.File(dir).exists())
        return spark.emptyDataFrame
          .select(lit(0).as("round"), lit("").as("job"),
            lit("").as("name"), lit(0L).as("value"))
          .limit(0)
      spark.read.parquet(dir)
    }
    /** The `readdb -stats` shape: counters summed across rounds per
      * (job, name) — counters are additive, gauges sum too (wall_ms
      * across rounds = total wall). */
    def summary(): DataFrame =
      read().groupBy("job", "name")
        .agg(sum("value").as("value"))
        .orderBy("job", "name")
  }

  /** Time a stage: its result and its wall-clock milliseconds. */
  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1000000L)
  }
}
