package graft.ops

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.crawl.{DefaultFetchSchedule, ScheduleConfig, UpdateDb}
import graft.net.RegexUrlFilter
import graft.schemas.{CrawlRow, CrawlStatus => S}
import graft.tables.{CrawlDbStore, LinkDbStore, Segment}

/** End-to-end mini crawl over the table layer (SURVEY §7.2 slice):
  * inject → generate → fetch (mock protocol) → parse → updatedb →
  * invertlinks → index, two rounds, with row-level asserts on every
  * stage. The mock site has an external link, duplicate content, a gone
  * page, and a permanent redirect — the cases the reference's
  * fetch-test-site fixture exercises (FIXTURES §A4). */
class CrawlRoundSpec extends AnyFunSuite with SparkSuite {

  private val A = "http://site-a.example.com"
  private val B = "http://site-b.example.com"

  private val site = Map(
    s"$A/" -> (Fetch.Code.Success,
      s"""<html><title>A home</title><body>Welcome to site A.
         |<a href="/page1">one</a> <a href="/page2">two</a>
         |<a href="$B/">other site</a></body></html>""".stripMargin,
      "text/html"),
    s"$A/page1" -> (Fetch.Code.Success,
      "<html><title>P</title><body>shared body text</body></html>",
      "text/html"),
    s"$A/page2" -> (Fetch.Code.Success, // same visible text as page1
      "<html><title>P</title><body>shared body text</body></html>",
      "text/html"),
    s"$B/" -> (Fetch.Code.Success,
      s"""<html><title>B home</title><body>Site B.
         |<a href="/gone">dead</a> <a href="/redir">moved</a></body></html>""".stripMargin,
      "text/html"),
    s"$B/gone" -> (Fetch.Code.Gone, "", ""),
    s"$B/redir" -> (Fetch.Code.MovedPerm, "", ""))

  private val protocol = Fetch.MockProtocol(site,
    redirects = Map(s"$B/redir" -> s"$B/moved-here"))

  private val acceptAll = RegexUrlFilter.parse(Iterator("+."))
  private val schedCfg = ScheduleConfig()
  private val schedule = DefaultFetchSchedule(schedCfg)
  private val t0 = 1700000000000L

  test("two full crawl rounds over the table layer") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-crawl").toString
    val crawldb = CrawlDbStore.open(spark, s"$root/crawldb")
    val linkdb = LinkDbStore.open(spark, s"$root/linkdb")

    // ---- inject ----
    val seeds = spark.createDataset(Seq(
      "# seed list",
      s"$A/\tnutch.score=2.0",
      s"$B/"))
    val db0 = Inject(crawldb.read(), seeds, Inject.Config(), acceptAll, t0)
    crawldb.install(db0, "r0")
    val injected = crawldb.read().collect().map(r => r.url -> r.datum).toMap
    assert(injected.keySet == Set(s"$A/", s"$B/"))
    assert(injected(s"$A/").status == S.DB_UNFETCHED)
    assert(injected(s"$A/").score == 2.0f) // nutch.score honored
    assert(injected(s"$B/").score == 1.0f) // db.score.injected default

    // ---- round 1: generate / fetch / parse / updatedb ----
    val seg1 = new Segment(spark, s"$root/segments/r1")
    val fl1 = Generate(crawldb.read(),
      Generate.Config(curTime = t0, segnum = 1), schedule)
    seg1.writeGenerate(fl1)
    assert(seg1.generate.count() == 2) // both seeds due

    val now1 = t0 + 1000
    val fr1 = Fetch(seg1.generate, protocol, now1,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    seg1.writeFetch(fr1.fetch); seg1.writeContent(fr1.content); fr1.release()
    assert(seg1.fetch.collect()
      .forall(_.datum.status == S.FETCH_SUCCESS))

    val p1 = Parse(seg1.fetch, seg1.content, Parse.Config(), acceptAll)
    seg1.writeParseData(p1.parseData); seg1.writeParseText(p1.parseText)
    seg1.writeCrawlParse(p1.crawlParse)
    val pd1 = seg1.parseData.collect()
    val outlinksA = pd1.find(_.url == s"$A/").get.outlinks
    assert(outlinksA.map(_.toUrl).toSet ==
      Set(s"$A/page1", s"$A/page2", s"$B/")) // relative hrefs resolved
    assert(seg1.parseText.collect().find(_.url == s"$A/").get
      .text.contains("Welcome to site A."))

    val db1 = UpdateDb(
      crawldb.read().union(seg1.fetch).union(seg1.crawlParse),
      now1, schedule)
    crawldb.install(db1, "r1")
    val after1 = crawldb.read().collect().map(r => r.url -> r.datum).toMap
    assert(after1(s"$A/").status == S.DB_FETCHED)
    assert(after1(s"$A/").signature.isDefined)
    assert(after1(s"$A/page1").status == S.DB_UNFETCHED) // discovered
    assert(after1(s"$B/gone").status == S.DB_UNFETCHED)
    // B root got A's outlink cash on top of its injected score (OPIC)
    assert(after1(s"$B/").score > 1.0f)

    // ---- linkdb: only the external A→B link survives the invert ----
    val ldb1 = InvertLinks(seg1.parseData, linkdb.read(),
      InvertLinks.Config())
    linkdb.install(ldb1, "r1")
    val inlinks = linkdb.read().collect().map(r => r.url -> r.inlinks).toMap
    assert(inlinks.keySet == Set(s"$B/")) // internal links ignored
    assert(inlinks(s"$B/").map(_.fromUrl) == Seq(s"$A/"))
    assert(inlinks(s"$B/").head.anchor == "other site")

    // ---- round 2 ----
    val fl2 = Generate(crawldb.read(),
      Generate.Config(curTime = now1 + 1000, segnum = 2), schedule)
    val due2 = fl2.collect().map(_.url).toSet
    // roots are scheduled a month out; only the discovered pages are due
    assert(due2 == Set(s"$A/page1", s"$A/page2", s"$B/gone", s"$B/redir"))

    val seg2 = new Segment(spark, s"$root/segments/r2")
    seg2.writeGenerate(fl2)
    val now2 = now1 + 2000
    val fr2 = Fetch(seg2.generate, protocol, now2,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    seg2.writeFetch(fr2.fetch); seg2.writeContent(fr2.content); fr2.release()
    val f2 = seg2.fetch.collect().map(r => r.url -> r.datum).toMap
    assert(f2(s"$B/gone").status == S.FETCH_GONE)
    assert(f2(s"$B/redir").status == S.FETCH_REDIR_PERM)
    assert(f2(s"$B/redir").metadata.get("_repr_").contains(s"$B/moved-here"))

    val p2 = Parse(seg2.fetch, seg2.content, Parse.Config(), acceptAll)
    seg2.writeParseData(p2.parseData); seg2.writeParseText(p2.parseText)
    seg2.writeCrawlParse(p2.crawlParse)

    val db2 = UpdateDb(
      crawldb.read().union(seg2.fetch).union(seg2.crawlParse),
      now2, schedule)
    crawldb.install(db2, "r2")
    val after2 = crawldb.read().collect().map(r => r.url -> r.datum).toMap
    assert(after2(s"$B/gone").status == S.DB_GONE)
    assert(after2(s"$B/redir").status == S.DB_REDIR_PERM)
    assert(after2(s"$B/redir").signature.isEmpty) // NUTCH-1422
    // the redirect target was emitted as LINKED and is now discovered
    assert(after2(s"$B/moved-here").status == S.DB_UNFETCHED)
    // duplicate content: page1/page2 share the parse-text signature
    assert(after2(s"$A/page1").signature.isDefined)
    assert(after2(s"$A/page1").signature == after2(s"$A/page2").signature)
    // copy-on-write: the previous generation survives the swap
    val live = Files.readString(
      java.nio.file.Paths.get(root, "crawldb", "GENERATION")).trim.toLong
    assert(Files.exists(java.nio.file.Paths.get(root, "crawldb",
      s"g${live - 1}")))

    // ---- index ----
    val docs = Index(crawldb.read(),
      seg1.fetch.union(seg2.fetch),
      p1.parseData.union(p2.parseData),
      p1.parseText.union(p2.parseText),
      linkdb.read(), Index.Config(deleteGone = true))
      .collect().map(d => d.url -> d).toMap
    assert(docs(s"$A/").action == "add")
    assert(docs(s"$A/").title == "A home")
    assert(docs(s"$B/").anchors == Seq("other site"))
    assert(docs(s"$B/gone").action == "delete")
    assert(!docs.contains(s"$B/redir") || docs(s"$B/redir").action == "delete")

    // index-jexl-filter: the JEXL doc gate over the assembled documents
    val jdocs = Index(crawldb.read(),
      seg1.fetch.union(seg2.fetch),
      p1.parseData.union(p2.parseData),
      p1.parseText.union(p2.parseText),
      linkdb.read(), Index.Config(deleteGone = true,
        jexlFilter = Some("action == 'add' && host == 'site-a.example.com'")))
      .collect().map(_.url).toSet
    assert(jdocs == docs.collect { case (u, d)
      if d.action == "add" && d.host == "site-a.example.com" => u }.toSet)
    assert(jdocs.contains(s"$A/"))
  }

  test("Fetch.toSegment (stream-to-parquet) matches the cached path") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tosegment").toString
    val fl = Seq(
      graft.schemas.GenerateEntry(1, 1f, s"$A/",
        graft.schemas.CrawlDatum(S.DB_UNFETCHED, t0, 0, 2592000, 1f, None,
          0L, Map.empty)),
      graft.schemas.GenerateEntry(1, 1f, s"$B/gone",
        graft.schemas.CrawlDatum(S.DB_UNFETCHED, t0, 0, 2592000, 1f, None,
          0L, Map.empty)),
      graft.schemas.GenerateEntry(1, 1f, s"$B/redir",
        graft.schemas.CrawlDatum(S.DB_UNFETCHED, t0, 0, 2592000, 1f, None,
          0L, Map.empty))).toDS()

    // cached path
    val fr = Fetch(fl, protocol, t0,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    val cachedFetch = fr.fetch.collect().map(r => r.url -> r.datum.status)
      .sortBy(_._1).toSeq
    val cachedContent = fr.content.collect().map(_.url).sorted.toSeq
    fr.release()

    // streamed path: one write, tables derived from the staged file
    val seg = new Segment(spark, s"$root/seg")
    Fetch.toSegment(fl, protocol, t0, seg,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    assert(seg.fetch.collect().map(r => r.url -> r.datum.status)
      .sortBy(_._1).toSeq == cachedFetch)
    assert(seg.content.collect().map(_.url).sorted.toSeq == cachedContent)
    // payload bytes survive the staging round-trip
    val body = seg.content.collect().find(_.url == s"$A/").get
    assert(new String(body.bytes, "UTF-8").contains("Welcome to site A."))
    // the staging file is cleaned up after derivation
    assert(!Files.exists(java.nio.file.Paths.get(s"${seg.dir}/fetch_staged")))
  }

  test("robots.txt denies are honored before the protocol is hit") {
    import spark.implicits._
    val robotsSite = site ++ Map(
      s"$A/robots.txt" -> (Fetch.Code.Success,
        "User-agent: *\nDisallow: /page1\n", "text/plain"))
    val proto = Fetch.MockProtocol(robotsSite)
    val fl = Seq(
      graft.schemas.GenerateEntry(1, 1f, s"$A/page1",
        graft.schemas.CrawlDatum(S.DB_UNFETCHED, t0, 0, 2592000, 1f, None,
          0L, Map.empty)),
      graft.schemas.GenerateEntry(1, 1f, s"$A/page2",
        graft.schemas.CrawlDatum(S.DB_UNFETCHED, t0, 0, 2592000, 1f, None,
          0L, Map.empty))).toDS()
    val graft.ops.Fetch.Result(f, c, rel) = Fetch(fl, proto, t0,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    val statuses = f.collect().map(r => r.url -> r.datum).toMap
    assert(statuses(s"$A/page1").status == S.FETCH_GONE)
    assert(statuses(s"$A/page1").metadata.contains(Fetch.RobotsDeniedKey))
    assert(statuses(s"$A/page2").status == S.FETCH_SUCCESS)
    assert(c.collect().map(_.url).toSeq == Seq(s"$A/page2"))
  }

  test("adaptive schedule grows the interval on unchanged content") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-adaptive").toString
    val crawldb = CrawlDbStore.open(spark, s"$root/crawldb")
    val adaptive = graft.crawl.AdaptiveFetchSchedule(schedCfg)
    val url = s"$A/page1"

    val db0 = Inject(crawldb.read(),
      spark.createDataset(Seq(url)), Inject.Config(), acceptAll, t0)
    crawldb.install(db0, "r0")

    def round(now: Long): Unit = {
      val seg = new Segment(spark,
        s"$root/segments/${now}")
      seg.writeGenerate(Generate(crawldb.read(),
        Generate.Config(curTime = now), adaptive))
      val fr = Fetch(seg.generate, protocol, now,
        pacer = graft.net.Pacer.Config(serverDelayMs = 0))
      seg.writeFetch(fr.fetch); seg.writeContent(fr.content); fr.release()
      val p = Parse(seg.fetch, seg.content, Parse.Config(), acceptAll)
      seg.writeCrawlParse(p.crawlParse)
      crawldb.install(UpdateDb(
        crawldb.read().union(seg.fetch).union(seg.crawlParse),
        now, adaptive), s"r$now")
    }

    round(t0)
    val d1 = crawldb.read().collect().head.datum
    assert(d1.status == S.DB_FETCHED)
    val firstInterval = d1.fetchInterval

    // refetch when due: identical content → notmodified by signature
    // (NUTCH-1341) → adaptive interval grows by inc_rate
    round(d1.fetchTime)
    val d2 = crawldb.read().collect().head.datum
    assert(d2.status == S.DB_NOTMODIFIED)
    assert(d2.signature == d1.signature)
    assert(d2.fetchInterval > firstInterval,
      s"interval ${d2.fetchInterval} did not grow from $firstInterval")
  }

  // a two-host site for the layout A/Bs; its cross-host links survive
  // db.ignore.internal.links, so both layouts also carry a NON-EMPTY
  // linkdb
  private object Bk {
    val A = "http://bk-a.example.com"
    val B = "http://bk-b.example.com"
    val site = Map(
      s"$A/" -> (Fetch.Code.Success,
        """<html><title>A</title><body><a href="/p1">p1</a>
          |<a href="/p2">p2</a></body></html>""".stripMargin, "text/html"),
      s"$A/p1" -> (Fetch.Code.Success,
        "<html><title>P1</title><body>one</body></html>", "text/html"),
      s"$A/p2" -> (Fetch.Code.Success,
        "<html><title>P2</title><body>two</body></html>", "text/html"),
      s"$B/" -> (Fetch.Code.Success,
        s"""<html><title>B</title><body><a href="$A/p1">ap1</a>
           |<a href="$A/p2">ap2</a></body></html>""".stripMargin,
        "text/html"))
    val seeds = Seq(s"$A/", s"$B/")
    val registry = graft.plugins.Extensions.Registry(
      urlFilters = Seq(RegexUrlFilter.parse(Iterator("+."))))
    def config(buckets: Option[Int]) = Crawl.Config(
      rounds = 2, buckets = buckets,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    /** A 2-round crawl on a fresh root. */
    def crawl(buckets: Option[Int]): (String, Crawl.Summary) = {
      val root = Files.createTempDirectory("crawl-ab").toString
      (root, Crawl.run(spark, root, seeds, Fetch.MockProtocol(site),
        registry, config(buckets)))
    }
  }

  /** The bucket counts of the three stores `openStores` hands out for
    * `root`. */
  private def storeBuckets(root: String, cfg: Crawl.Config): Seq[Int] = {
    val s = Crawl.openStores(spark, root, cfg)
    Seq(s.crawldb.buckets, s.linkdb.buckets, s.hostdb.buckets)
  }

  test("bucket count changes no result; a fresh root's count follows " +
    "the session, an existing root keeps its own") {
    import org.apache.spark.sql.functions.col
    // what a crawl leaves behind, layout-free: sorted db and linkdb
    // rows and every counter (wall_ms is a clock, not a result)
    def outcome(run: (String, Crawl.Summary)) = {
      val (root, sum) = run
      val sp = spark; import sp.implicits._
      (sum,
        CrawlDbStore.open(spark, s"$root/crawldb").read().collect()
          .map(r => r.url -> r.datum).sortBy(_._1).toSeq,
        LinkDbStore.open(spark, s"$root/linkdb").read().collect()
          .map(r => r.url -> r.inlinks.sortBy(i => (i.fromUrl, i.anchor)))
          .sortBy(_._1).toSeq,
        new Metrics.Table(spark, s"$root/metrics").read()
          .where(col("name") =!= "wall_ms").as[Metrics.MetricRow]
          .collect().sortBy(m => (m.round, m.job, m.name)).toSeq)
    }
    val layouts = Seq(Some(1), Some(4), Some(8), Some(32), None)
    val runs = layouts.map(b => b -> Bk.crawl(b)).toMap
    val one = outcome(runs(Some(1)))
    assert(one._3.nonEmpty && one._4.nonEmpty)
    for (b <- layouts.tail)
      assert(outcome(runs(b)) == one, s"buckets $b")

    // the rule: one bucket per slot on a fresh root, shared by all
    // three stores; an explicit count wins; an existing root keeps its
    // count whatever is asked; a count below 1 is rejected
    assert(spark.sparkContext.defaultParallelism == 4)
    def fresh() = Files.createTempDirectory("crawl-rule").toString
    assert(storeBuckets(fresh(), Bk.config(None)) == Seq(4, 4, 4))
    assert(storeBuckets(fresh(), Crawl.Config()) == Seq(4, 4, 4))
    assert(storeBuckets(fresh(), Bk.config(Some(32))) == Seq(32, 32, 32))
    for (b <- Seq(0, -3))
      intercept[IllegalArgumentException](Bk.config(Some(b)))
    assert(storeBuckets(runs(None)._1, Bk.config(None)) == Seq(4, 4, 4))
    assert(storeBuckets(runs(Some(32))._1, Bk.config(None)) ==
      Seq(32, 32, 32))
    for (b <- Seq(None, Some(4), Some(32)))
      assert(storeBuckets(runs(Some(8))._1, Bk.config(b)) == Seq(8, 8, 8),
        s"$b")

    // the session-sized root still reads both db sides of the indexing
    // join in place: every Exchange in its plan moves a segment side
    val root4 = runs(None)._1
    val stores = Crawl.openStores(spark, root4, Bk.config(None))
    val segs = (1 to 2).map(r => new Segment(spark, s"$root4/segments/r$r"))
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val priorBj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val plan = Index(stores.crawldb.read(), segs.map(_.fetch).reduce(_ union _),
        segs.map(_.parseData).reduce(_ union _),
        segs.map(_.parseText).reduce(_ union _), stores.linkdb.read(),
        Index.Config()).queryExecution.executedPlan
      def dbScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
            q => q.toString.contains(s"$root4/crawldb") ||
              q.toString.contains(s"$root4/linkdb")) => s
      }
      assert(dbScans(plan).size == 2, plan)
      assert(dbScans(plan).forall(_.bucketedScan), plan)
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
      assert(exchanges.nonEmpty, plan)
      assert(exchanges.forall(e => dbScans(e).isEmpty), plan)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBj)
    }
  }

  test("bucketed CrawlDb layout: conductor A/B identical, join Exchange-free") {
    import org.apache.spark.sql.functions.col
    import Bk.{registry, seeds}
    val (oneRoot, oneSum) = Bk.crawl(Some(1))
    val (bRoot, bSum) = Bk.crawl(Some(8))

    // byte-identical rounds and final db between the two layouts
    assert(bSum == oneSum)
    def dump(store: CrawlDbStore) =
      store.read().collect().map(r => r.url -> r.datum).toMap
    val oneDb = dump(CrawlDbStore.open(spark, s"$oneRoot/crawldb"))
    val bDb = dump(CrawlDbStore.open(spark, s"$bRoot/crawldb"))
    assert(bDb == oneDb)

    // the LinkDb is bucketed alongside the CrawlDb (r10): byte-identical
    // content between the layouts, and the 8-bucket run really wrote
    // the generation-pointer layout with the crawldb's count
    def dumpLinks(store: LinkDbStore) =
      store.read().collect()
        .map(r => r.url -> r.inlinks.sortBy(i => (i.fromUrl, i.anchor)))
        .toMap
    val oneLinks = dumpLinks(LinkDbStore.open(spark, s"$oneRoot/linkdb"))
    val bLinkStore = LinkDbStore.open(spark, s"$bRoot/linkdb")
    assert(Files.exists(
      java.nio.file.Paths.get(bRoot, "linkdb", "GENERATION")))
    assert(bLinkStore.buckets == 8)
    assert(dumpLinks(bLinkStore) == oneLinks)
    assert(oneLinks.nonEmpty)

    // a root written before every db had the generation layout (the
    // plain `<db>/current` parquet, written here by hand from round 1
    // of a one-round crawl) resumes: its current is imported as
    // generation 1 and round 2 continues on it; final db byte-identical
    // to both straight 2-round runs
    val cfg1 = Crawl.Config(rounds = 1,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    val r1Root = Files.createTempDirectory("crawl-r1").toString
    Crawl.run(spark, r1Root, seeds, Fetch.MockProtocol(Bk.site),
      registry, cfg1)
    val migRoot = Files.createTempDirectory("crawl-mig").toString
    CrawlDbStore.open(spark, s"$r1Root/crawldb").read()
      .write.parquet(s"$migRoot/crawldb/current")
    LinkDbStore.open(spark, s"$r1Root/linkdb").read()
      .write.parquet(s"$migRoot/linkdb/current")
    Crawl.run(spark, migRoot, seeds, Fetch.MockProtocol(Bk.site),
      registry, cfg1.copy(buckets = Some(8),
        startTime = cfg1.startTime + cfg1.roundMillis)) // round 2's clock
    for (db <- Seq("crawldb", "linkdb")) {
      assert(!Files.exists(java.nio.file.Paths.get(migRoot, db, "current")))
      assert(Files.exists(java.nio.file.Paths.get(migRoot, db, "GENERATION")))
    }
    val migDb = dump(CrawlDbStore.open(spark, s"$migRoot/crawldb"))
    assert(migDb == oneDb)

    // the db side of a url join over the bucketed current generation
    // plans with NO Exchange under the bucketed scan (the segment side
    // — tiny per round — is the only shuffle)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val db = CrawlDbStore.open(spark, s"$bRoot/crawldb").read().toDF()
      val seg = new graft.tables.Segment(spark, s"$bRoot/segments/r1")
        .fetch.toDF().select(col("url"), col("datum").as("fetchDatum"))
      val joined = db.join(seg, "url")
      joined.collect()
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("Bucketed: true"), plan)
      assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
      // every Exchange in the plan repartitions the SEGMENT side
      // (fetchDatum columns) into the db's 8-bucket layout; the db
      // side (datum) reads in place — no Exchange carries it
      val exchanges = plan.split("\n\n").filter(s =>
        s.contains(") Exchange"))
      assert(exchanges.nonEmpty, plan)
      assert(exchanges.forall(_.contains("fetchDatum")), plan)
      assert(exchanges.forall(_.contains("hashpartitioning(url")), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
