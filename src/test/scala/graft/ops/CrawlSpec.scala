package graft.ops

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.net.RegexUrlFilter
import graft.plugins.Extensions
import graft.schemas.{CrawlStatus => S}
import graft.tables.CrawlDbStore

/** Drives the whole lifecycle through the bin/crawl conductor. */
class CrawlSpec extends AnyFunSuite with SparkSuite {

  private val A = "http://site-a.example.com"
  private val B = "http://site-b.example.com"

  private val site = Map(
    s"$A/" -> (Fetch.Code.Success,
      s"""<html><title>A</title><body><a href="/p1">p1</a>
         |<a href="$B/">b</a></body></html>""".stripMargin, "text/html"),
    s"$A/p1" -> (Fetch.Code.Success,
      "<html><title>Same</title><body>same text</body></html>", "text/html"),
    s"$B/" -> (Fetch.Code.Success,
      "<html><title>Same</title><body>same text</body></html>", "text/html"))

  test("multi-round crawl via the conductor") {
    val root = Files.createTempDirectory("crawl-driver").toString
    val registry = Extensions.Registry(
      urlFilters = Seq(RegexUrlFilter.parse(Iterator("+."))))
    val summary = Crawl.run(spark, root, Seq(s"$A/"),
      Fetch.MockProtocol(site), registry,
      Crawl.Config(rounds = 2,
        pacer = graft.net.Pacer.Config(serverDelayMs = 0)))

    assert(summary.rounds.map(_.round) == Seq(1, 2))
    assert(summary.rounds.head.generated == 1) // just the seed
    assert(summary.rounds(1).generated == 2) // p1 + B discovered
    assert(summary.hosts == 2)
    assert(summary.indexed >= 2)

    val db = CrawlDbStore.open(spark, s"$root/crawldb").read().collect()
      .map(r => r.url -> r.datum).toMap
    assert(db(s"$A/").status == S.DB_FETCHED)
    assert(db(s"$A/p1").status == S.DB_FETCHED ||
      db(s"$A/p1").status == S.DB_DUPLICATE)
    // p1 and B/ share content: dedup marked exactly one of them
    val dupCount = Seq(db(s"$A/p1").status, db(s"$B/").status)
      .count(_ == S.DB_DUPLICATE)
    assert(dupCount == 1, s"expected one duplicate, got $db")

    // per-job metrics rows per round (the NutchMetrics table analog)
    val m = new Metrics.Table(spark, s"$root/metrics").read().collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(m((1, "generator", "records_generated_total")) == 1)
    assert(m((2, "generator", "records_generated_total")) == 2)
    assert(m((1, "fetcher", "fetched_total")) == 1)
    assert(m((2, "fetcher", "fetched_total")) == 2)
    assert(m((1, "fetcher", "robots_denied_total")) == 0)
    assert(m((1, "parser", "outlinks_detected_total")) == 2) // p1 + B
    assert(m((1, "parser", "added_links_total")) == 2)
    assert(m((2, "parser", "added_links_total")) == 0) // leaf pages
    assert(m((1, "fetcher", "bytes_downloaded_total")) > 0)
    assert(m((2, "crawldb", "db_size_total")) == 3)
    assert(m((2, "crawldb", "db_duplicate_total")) == 1)
    assert(m((2, "indexer", "indexed_total")) == summary.indexed)
    // every job stamped its wall clock
    for (job <- Seq("generator", "fetcher", "parser", "crawldb"))
      assert(m((1, job, "wall_ms")) >= 0, job)
    // summary sums counters across rounds
    val s2 = new Metrics.Table(spark, s"$root/metrics").summary().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(s2(("fetcher", "fetched_total")) == 3)
  }

  test("conductor with hostdb overrides + generate.update.crawldb") {
    val root = Files.createTempDirectory("crawl-hostdb").toString
    val registry = Extensions.Registry(
      urlFilters = Seq(RegexUrlFilter.parse(Iterator("+."))))
    val summary = Crawl.run(spark, root, Seq(s"$A/"),
      Fetch.MockProtocol(site), registry,
      Crawl.Config(rounds = 2, updateCrawlDbOnGenerate = true,
        pacer = graft.net.Pacer.Config(serverDelayMs = 0),
        maxCountExpr = Some("1 + fetched"),
        fetchDelayExpr = Some("500 * (1 + unfetched)")))
    assert(summary.rounds.map(_.generated) == Seq(1, 2))

    // the hostdb table materialized (host-bucketed since r10: open
    // through the layout detector) and carries the census
    val hosts = graft.tables.HostDbStore.open(spark, s"$root/hostdb")
      .read().collect().map(h => h.host -> h).toMap
    assert(hosts.keySet ==
      Set("site-a.example.com", "site-b.example.com"))
    // A/ fetched; A/p1 may have been re-marked db_duplicate by dedup
    assert(hosts("site-a.example.com").fetched >= 1)

    // _ngt_ markers were stamped at generate and stripped by updatedb
    val db = CrawlDbStore.open(spark, s"$root/crawldb").read().collect()
    assert(db.nonEmpty)
    assert(db.forall(!_.datum.metadata.contains(
      graft.schemas.CrawlDatum.GenerateTimeKey)), db.mkString("\n"))
  }

  test("conductor with sitemap rounds and a cleaned index sink") {
    val root = Files.createTempDirectory("crawl-sm").toString
    val siteWithSitemap = site ++ Map(
      s"$A/robots.txt" -> ((Fetch.Code.Success,
        s"User-agent: *\nDisallow:\nSitemap: $A/sitemap.xml", "text/plain")),
      s"$A/sitemap.xml" -> ((Fetch.Code.Success,
        s"<urlset><url><loc>$A/from-sitemap</loc>" +
          "<priority>0.8</priority></url></urlset>", "application/xml")),
      s"$A/from-sitemap" -> ((Fetch.Code.Success,
        "<html><title>SM</title><body>sitemap found me</body></html>",
        "text/html")))
    val registry = Extensions.Registry(
      urlFilters = Seq(RegexUrlFilter.parse(Iterator("+."))))
    val summary = Crawl.run(spark, root, Seq(s"$A/"),
      Fetch.MockProtocol(siteWithSitemap), registry,
      Crawl.Config(rounds = 3, sitemaps = true,
        pacer = graft.net.Pacer.Config(serverDelayMs = 0),
        indexSinkDir = Some(s"$root/sink")))

    // the sitemap-declared url entered the db and was fetched in a
    // later round
    val db = CrawlDbStore.open(spark, s"$root/crawldb").read().collect()
      .map(r => r.url -> r.datum).toMap
    assert(db.contains(s"$A/from-sitemap"), db.keys)
    assert(db(s"$A/from-sitemap").status == S.DB_FETCHED ||
      db(s"$A/from-sitemap").status == S.DB_DUPLICATE)

    // the index sink materialized and contains no gone/duplicate urls
    import spark.implicits._
    val sinkLines = spark.read.text(s"$root/sink").as[String].collect()
    assert(sinkLines.nonEmpty && summary.indexed == sinkLines.length.toLong)
    val dupUrls = db.collect {
      case (u, d) if d.status == S.DB_DUPLICATE || d.status == S.DB_GONE => u
    }.toSet
    assert(sinkLines.forall(l => !dupUrls.exists(u => l.contains("\"" + u + "\""))))
  }

  test("a round appends its metrics once; RoundStats are its counters") {
    import spark.implicits._
    val registry = Extensions.Registry(
      urlFilters = Seq(RegexUrlFilter.parse(Iterator("+."))))
    def parquetFiles(dir: String): Int = {
      val p = java.nio.file.Paths.get(dir)
      if (!Files.exists(p)) 0
      else {
        val s = Files.list(p)
        try s.filter(_.toString.endsWith(".parquet")).count().toInt
        finally s.close()
      }
    }
    // the (job, name) set every round writes: four counter groups and
    // one wall_ms gauge per job
    val expected = (Seq("records_generated_total", "wall_ms")
      .map("generator" -> _) ++
      (Seq("fetched_total", "failed_fetches_total", "not_fetched_total",
        "robots_denied_total", "robots_denied_maxcrawldelay_total",
        "hit_by_timelimit_total", "hit_by_throughput_threshold_total",
        "redirects_total", "fetch_latency_count_total",
        "fetch_latency_sum_ms", "fetch_latency_p50_ms",
        "fetch_latency_p95_ms", "fetch_latency_p99_ms", "errors_total") ++
        Metrics.Errors.categories.map(c => s"errors_${c}_total") ++
        Seq("bytes_downloaded_total", "wall_ms")).map("fetcher" -> _) ++
      Seq("parsed_total", "outlinks_detected_total", "added_links_total",
        "errors_parsing_total", "wall_ms").map("parser" -> _) ++
      (Seq("size", "unfetched", "fetched", "gone", "redir_temp",
        "redir_perm", "notmodified", "duplicate", "orphan")
        .map(n => s"db_${n}_total") :+ "wall_ms").map("crawldb" -> _))
    assert(expected.distinct.size == 39)

    def crawl(metrics: Boolean): (String, Seq[Crawl.RoundStats]) = {
      val root = Files.createTempDirectory("crawl-metrics").toString
      val cfg = Crawl.Config(rounds = 2, metrics = metrics,
        pacer = graft.net.Pacer.Config(serverDelayMs = 0))
      val stores = Crawl.openStores(spark, root, cfg)
      Crawl.inject(spark, stores, Seq(s"$A/"), registry, cfg)
      val stats = (1 to 2).map { r =>
        val before = parquetFiles(s"$root/metrics")
        val (seg, st) = Crawl.round(spark, root, stores, r,
          Fetch.MockProtocol(site), registry, cfg)
        // the counters' own definitions, counted directly
        assert(st == Crawl.RoundStats(r, seg.generate.count(),
          seg.fetch.filter(_.datum.status == S.FETCH_SUCCESS).count(),
          stores.crawldb.read().count()))
        if (metrics) {
          assert(parquetFiles(s"$root/metrics") == before + 1)
          val rows = new Metrics.Table(spark, s"$root/metrics").read()
            .as[Metrics.MetricRow].collect().filter(_.round == r)
          assert(rows.map(m => m.job -> m.name).sorted.toSeq ==
            expected.sorted)
          def counter(job: String, name: String) =
            rows.find(m => m.job == job && m.name == name).get.value
          assert(st == Crawl.RoundStats(r,
            counter("generator", "records_generated_total"),
            counter("fetcher", "fetched_total"),
            counter("crawldb", "db_size_total")))
        }
        st
      }
      (root, stats)
    }
    val (root, stats) = crawl(metrics = true)
    assert(stats.map(_.generated) == Seq(1, 2))
    // metrics off: the same stats, and nothing written
    val (offRoot, offStats) = crawl(metrics = false)
    assert(offStats == stats)
    assert(!Files.exists(java.nio.file.Paths.get(offRoot, "metrics")))
    assert(parquetFiles(s"$root/metrics") == 2)
  }
}
