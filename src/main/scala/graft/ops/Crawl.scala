package graft.ops

import org.apache.spark.sql.SparkSession

import graft.crawl.{FetchSchedule, UpdateDb}
import graft.plugins.Extensions
import graft.tables.{CrawlDbStore, HostDbStore, LinkDbStore, Segment}

/** The crawl conductor — the `bin/crawl` driver re-expressed as a
  * library call (src/bin/crawl:285-406 lifecycle: inject once, then per
  * round generate → fetch → parse → updatedb → invertlinks → dedup,
  * with hostdb refresh and an index pass at the end).
  *
  * Clock-free: round r runs at `startTime + r·roundMillis`, so every
  * run is reproducible. All state lives in the copy-on-write tables
  * under `root`. */
object Crawl {

  final case class Config(
      rounds: Int = 1,
      topN: Long = Long.MaxValue,
      maxPerHost: Int = Int.MaxValue,
      startTime: Long = 1700000000000L,
      roundMillis: Long = 3600 * 1000L,
      agent: String = "graft",
      dedup: Boolean = true,
      index: Boolean = true,
      // generate.update.crawldb: stamp _ngt_ so overlapping generates
      // skip in-flight urls (Generator.java:707-757)
      updateCrawlDbOnGenerate: Boolean = false,
      // generate.max.count.expr / generate.fetch.delay.expr over the
      // per-round hostdb (Generator.java:369-392,506-545)
      maxCountExpr: Option[String] = None,
      fetchDelayExpr: Option[String] = None,
      // politeness pacing + watchdog (FetchItemQueue / Fetcher limits)
      pacer: graft.net.Pacer.Config = graft.net.Pacer.Config(),
      // per-round sitemap processing (bin/crawl --sitemaps-from-hostdb)
      sitemaps: Boolean = false,
      // materialize the index into a JSON-lines sink and fold
      // gone/duplicate deletes in afterwards (IndexingJob + CleaningJob)
      indexSinkDir: Option[String] = None,
      // per-job counter rows appended to <root>/metrics each round
      // (the NutchMetrics/LatencyTracker observability surface)
      metrics: Boolean = true,
      // bucket count of a FRESH root, as the crawl verb's `-buckets`
      // asks it: None (not asked) sizes it by the session
      // (tables.GenTable.open), Some(n ≥ 1) gives it n. An existing
      // root keeps the count it was written with. Every url-keyed join
      // reads the bucketed db side Exchange-free (the co-located-join
      // layout for a CrawlDb that outweighs its per-round segments by
      // orders of magnitude; CrawlRoundSpec shows the count changes no
      // result).
      buckets: Option[Int] = None,
      // record per-URL protocol elapsed ms (_rs_) so the metrics table
      // carries real fetch_latency_* percentiles (http.store.responsetime)
      storeResponseTime: Boolean = false) {
    require(buckets.forall(_ >= 1),
      s"buckets must be at least 1, got ${buckets.get}")
  }

  final case class RoundStats(round: Int, generated: Long, fetched: Long,
      dbSize: Long)

  final case class Summary(rounds: Seq[RoundStats], indexed: Long,
      hosts: Long)

  /** The conductor's per-run table handles — shared by the batch loop
    * below and the Structured-Streaming micro-batch twin
    * ([[graft.streaming.StreamingCrawl]]), so both drive the SAME
    * stores through the SAME round body. */
  final case class Stores(
      crawldb: CrawlDbStore,
      linkdb: LinkDbStore,
      hostdb: HostDbStore,
      metrics: Option[Metrics.Table])

  /** Open the three dbs under `root`. The asked count only sizes a
    * fresh crawldb; a fresh linkdb or hostdb takes the crawldb's count,
    * so the indexing cogroup's two db sides stay co-bucketed (the
    * hostdb buckets on HOST, its merge key). */
  def openStores(spark: SparkSession, root: String, cfg: Config): Stores = {
    val crawldb = CrawlDbStore.open(spark, s"$root/crawldb", cfg.buckets)
    val n = Some(crawldb.buckets)
    Stores(crawldb, LinkDbStore.open(spark, s"$root/linkdb", n),
      HostDbStore.open(spark, s"$root/hostdb", n),
      if (cfg.metrics) Some(new Metrics.Table(spark, s"$root/metrics"))
      else None)
  }

  /** Inject the seed list (idempotent NUTCH-1405 merge). */
  def inject(spark: SparkSession, stores: Stores, seeds: Seq[String],
      registry: Extensions.Registry, cfg: Config): Unit = {
    import spark.implicits._
    stores.crawldb.install(
      Inject(stores.crawldb.read(), spark.createDataset(seeds),
        Inject.Config(), registry.filterChain, cfg.startTime),
      "inject")
  }

  /** ONE conductor round (generate → fetch → parse → updatedb →
    * invertlinks → dedup → hostdb/sitemaps) against `stores`, writing
    * the segment under `<root>/segments/r<r>`. The batch loop and the
    * streaming twin both call exactly this.
    *
    * The round's metrics — four counter groups (generator, fetcher,
    * parser, crawldb) and one `wall_ms` gauge per job — run as one
    * query after the last install and land in `<root>/metrics` as ONE
    * append; `RoundStats` reads its numbers off the same counters. A
    * round that throws therefore leaves no metric rows. With
    * `cfg.metrics` off the counters are still computed, not written. */
  def round(spark: SparkSession, root: String, stores: Stores, r: Int,
      protocol: Fetch.Protocol, registry: Extensions.Registry,
      cfg: Config): (Segment, RoundStats) = {
    import spark.implicits._
    val crawldb = stores.crawldb
    val linkdb = stores.linkdb
    val hostdbTable = stores.hostdb
    val schedule: FetchSchedule = registry.schedule
    val filter = registry.filterChain
    val useHostDb = cfg.maxCountExpr.isDefined || cfg.fetchDelayExpr.isDefined
    val now = cfg.startTime + r * cfg.roundMillis
    val seg = new Segment(spark, s"$root/segments/r$r")
    val (_, genMs) = Metrics.timed {
      seg.writeGenerate(Generate(crawldb.read(),
        Generate.Config(topN = cfg.topN, maxPerHost = cfg.maxPerHost,
          curTime = now, segnum = r, maxCountExpr = cfg.maxCountExpr,
          fetchDelayExpr = cfg.fetchDelayExpr), schedule,
        hostDb = if (useHostDb) Some(hostdbTable.read()) else None))
    }
    if (cfg.updateCrawlDbOnGenerate)
      crawldb.install(
        Generate.markGenerated(crawldb.read(), seg.generate, now),
        s"generate-mark-r$r")

    // fetch ONCE, stream-to-parquet: the protocol pass writes a staged
    // file and crawl_fetch/content are DERIVED from it — no executor
    // block-cache holding payloads (the 100 TB shape)
    val (_, fetchMs) = Metrics.timed {
      Fetch.toSegment(seg.generate, protocol, now, seg, cfg.agent,
        pacer = cfg.pacer, storeResponseTime = cfg.storeResponseTime)
    }

    val (_, parseMs) = Metrics.timed {
      val parsed = Parse(seg.fetch, seg.content, Parse.Config(), filter,
        registry.normalize(_, Extensions.Scope.Outlink))
      seg.writeParseData(parsed.parseData)
      seg.writeParseText(parsed.parseText)
      seg.writeCrawlParse(parsed.crawlParse)
    }

    val (_, updMs) = Metrics.timed {
      crawldb.install(
        UpdateDb(crawldb.read().union(seg.fetch).union(seg.crawlParse),
          now, schedule, registry.scoring),
        s"updatedb-r$r")
    }
    linkdb.install(
      InvertLinks(seg.parseData, linkdb.read(), InvertLinks.Config()),
      s"invertlinks-r$r")
    val (_, dedupMs) = Metrics.timed {
      if (cfg.dedup)
        crawldb.install(Dedup(crawldb.read()), s"dedup-r$r")
    }
    // refresh the hostdb census for the next round's generator
    if (useHostDb || cfg.sitemaps)
      hostdbTable.install(
        UpdateHostDb(crawldb.read(), hostdbTable.read(), now),
        s"hostdb-r$r")
    // per-round sitemap processing: discover per-host sitemaps via
    // robots + protocol, merge declared URLs into the crawldb
    // (SitemapProcessor; bin/crawl sitemap stage)
    if (cfg.sitemaps)
      crawldb.install(
        Sitemap.merge(crawldb.read(),
          Sitemap.discover(hostdbTable.read().map(_.host), protocol,
            now, cfg.agent, Sitemap.Config()),
          Sitemap.Config()),
        s"sitemap-r$r")

    // the crawldb group is the post-updatedb/dedup db census, and its
    // wall_ms covers the round's update + dedup
    val counters = Metrics.collect(Seq(
      Metrics.generator(r, seg.generate),
      Metrics.fetcher(r, seg.fetch, seg.content),
      Metrics.parser(r, seg.parseData, seg.crawlParse),
      Metrics.crawldb(r, crawldb.read())))
    val walls = Seq("generator" -> genMs, "fetcher" -> fetchMs,
      "parser" -> parseMs, "crawldb" -> (updMs + dedupMs))
      .map { case (job, ms) => Metrics.MetricRow(r, job, "wall_ms", ms) }
    stores.metrics.foreach(_.append(counters ++ walls))
    def counter(job: String, name: String): Long =
      counters.find(m => m.job == job && m.name == name).get.value
    (seg, RoundStats(r, counter("generator", "records_generated_total"),
      counter("fetcher", "fetched_total"),
      counter("crawldb", "db_size_total")))
  }

  /** The post-rounds pass: hostdb census (when not maintained
    * per-round) and the index build over every segment. */
  def finish(spark: SparkSession, stores: Stores, segments: Seq[Segment],
      stats: Seq[RoundStats], cfg: Config): Summary = {
    import spark.implicits._
    val useHostDb = cfg.maxCountExpr.isDefined || cfg.fetchDelayExpr.isDefined
    val hostdb =
      if (useHostDb || cfg.sitemaps) stores.hostdb.read()
      else UpdateHostDb(stores.crawldb.read(),
        spark.emptyDataset[UpdateHostDb.HostRow],
        cfg.startTime + cfg.rounds * cfg.roundMillis)

    val indexed =
      if (cfg.index && segments.nonEmpty) {
        val fetchAll = segments.map(_.fetch).reduce(_ union _)
        val pdAll = segments.map(_.parseData).reduce(_ union _)
        val ptAll = segments.map(_.parseText).reduce(_ union _)
        val docs = Index(stores.crawldb.read(), fetchAll, pdAll, ptAll,
          stores.linkdb.read(), Index.Config())
        cfg.indexSinkDir match {
          case Some(sink) =>
            new IndexWriters.JsonLinesWriter().write(docs, sink)
            // CleaningJob: fold gone/duplicate deletes into the sink
            CleaningJob.cleanJsonSink(spark, sink,
              CleaningJob.deletes(stores.crawldb.read()))
            spark.read.text(sink).count()
          case None => docs.count()
        }
      } else 0L
    stores.metrics.foreach(_.append(Seq(
      Metrics.MetricRow(cfg.rounds, "indexer", "indexed_total", indexed))))

    Summary(stats, indexed, hostdb.count())
  }

  def run(spark: SparkSession, root: String, seeds: Seq[String],
      protocol: Fetch.Protocol, registry: Extensions.Registry,
      cfg: Config): Summary = {
    val stores = openStores(spark, root, cfg)
    inject(spark, stores, seeds, registry, cfg)
    var segments = Vector.empty[Segment]
    val stats = (1 to cfg.rounds).map { r =>
      val (seg, st) = round(spark, root, stores, r, protocol, registry, cfg)
      segments :+= seg
      st
    }
    finish(spark, stores, segments, stats, cfg)
  }
}
