package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.net.Pacer
import graft.ops._
import graft.plugins.Extensions
import graft.tables.{CrawlDbTable, Segment}

/** The `bin/nutch` verb dispatcher (src/bin/nutch:243-327) as a thin CLI
  * over the library ops. Every verb is one library call on the parquet
  * table layer; state lives under the dirs the caller names.
  *
  * ```
  * graft.Main inject    <crawldb> <seedFile> [-filters <confDir>]
  * graft.Main generate  <crawldb> <segment> [-topN N] [-maxPerHost N] [-now MS]
  * graft.Main fetch     <segment> -site <siteJson> [-now MS]
  *                      [-delay MS] [-storeResponseTime]
  * graft.Main parse     <segment>
  * graft.Main updatedb  <crawldb> <segment> [-now MS]
  * graft.Main invertlinks <linkdb> <segment>
  * graft.Main dedup     <crawldb>
  * graft.Main updatehostdb <crawldb> <hostdb> [-now MS]
  *                        [-numericFields f1,f2 [-percentiles 50,75]]
  * graft.Main readdb    <crawldb> -stats [-quantiles .25,.5,...]
  *                      | -dump <out> | -topN <N> | -topHosts <N>
  *                      | -url <u>
  * graft.Main index     <crawldb> <linkdb> <segment> <outDir>
  * graft.Main clean     <crawldb> <sinkDir>
  * graft.Main crawl     <root> <seedFile> -site <siteJson> [-rounds N] [-topN N]
  * graft.Main corpus    <sfDir> <outDir> [-shards N] [-neardup]
  *                      [-exactsubstr] [-temperature]
  *                      [-ccnet head[,middle[,tail]]]
  *                      [-dsir lang:keep_bp]
  *                      [-decontaminate <benchDirOrGramStore> [-norm]]
  *                      [-classify] [-pii]
  *                      [-softdedup] [-split] [-curriculum] [-epochs]
  * graft.Main gramstore <benchParquetDir> <storeDir> [-buckets N] [-norm]
  * graft.Main bpe       <sfDir> <outDir> [-merges K] [-encode <docsDir>]
  * graft.Main search    <sfDir> <queriesParquetOrString> [-k N] [-o out]
  * graft.Main classify  <sfDir> [-model out] [-o out]
  * graft.Main parsetext  <file> [-type ct] [-extractor boilerpipe] [-limit N]
  * ```
  *
  * The wire protocol for `fetch`/`crawl` is a site snapshot (JSON lines:
  * url, code, body, contentType) served through MockProtocol — the
  * sandbox has no network; a live deployment plugs a real Protocol into
  * the same seam. */
object Main {

  private def opt(args: Seq[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Seq(`name`, v) => v }
  private def optL(args: Seq[String], name: String, dflt: Long): Long =
    opt(args, name).map(_.toLong).getOrElse(dflt)

  /** Positional args only: drop every `-flag` AND its value, so
    * `mergesegs out s1 s2 -now 123` doesn't read "123" as a segment. */
  private def positional(args: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var skip = false
    args.foreach { a =>
      if (skip) skip = false
      else if (a.startsWith("-")) skip = true
      else out += a
    }
    out.result()
  }

  /** The PRODUCT session every CLI verb (and the REST server the
    * `server` verb starts) runs on. Like every graft session it runs
    * the GraftExtensions optimizer rules: they are proven
    * answer-preserving (the whole oracle board passes under them) and
    * they rewrite naturally-phrased hot-key window shapes — keeper
    * election, whole-partition aggregates, naive top-k — into the
    * skew-safe aggregates this repo writes by hand. A rule is switched
    * off on a live session through Spark's
    * `spark.sql.optimizer.excludedRules` (see [[GraftSession]]). */
  private[graft] def session(): SparkSession =
    GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"),
      appName = Some("graft"), ui = true)

  /** Build the URL filter chain from a conf dir (`-filters <dir>`, the
    * bin/nutch conf/ analog): each engine activates when its rule file
    * exists — validator-urlfilter.txt (presence enables the syntax
    * validator), prefix-urlfilter.txt, suffix-urlfilter.txt,
    * domain-urlfilter.txt, domaindenylist-urlfilter.txt,
    * automaton-urlfilter.txt, fast-urlfilter.txt, regex-urlfilter.txt —
    * chained in that order, first reject wins. Without `-filters` the
    * chain is accept-all, as before. */
  private def registry(args: Seq[String]): Extensions.Registry = {
    import scala.jdk.CollectionConverters._
    import graft.net._
    val filters = opt(args, "-filters") match {
      case None => Seq[UrlFilter](RegexUrlFilter.parse(Iterator("+.")))
      case Some(dir) =>
        def lines(f: String): Option[Iterator[String]] = {
          val p = java.nio.file.Paths.get(dir, f)
          if (java.nio.file.Files.exists(p))
            Some(java.nio.file.Files.readAllLines(p).iterator().asScala)
          else None
        }
        val fs = Seq[Option[UrlFilter]](
          lines("validator-urlfilter.txt").map(_ => ValidatorUrlFilter),
          lines("prefix-urlfilter.txt").map(PrefixUrlFilter.parse),
          lines("suffix-urlfilter.txt").map(SuffixUrlFilter.parse),
          lines("domain-urlfilter.txt").map(l => DomainUrlFilter.parse(l)),
          lines("domaindenylist-urlfilter.txt")
            .map(l => DomainUrlFilter.parse(l, deny = true)),
          lines("automaton-urlfilter.txt").map(AutomatonUrlFilter.parse),
          lines("fast-urlfilter.txt").map(FastUrlFilter.parse),
          lines("regex-urlfilter.txt").map(l => RegexUrlFilter.parse(l))
        ).flatten
        if (fs.isEmpty) Seq[UrlFilter](RegexUrlFilter.parse(Iterator("+.")))
        else fs
    }
    Extensions.Registry(urlFilters = filters)
  }

  /** α = 1/2 temperature keep rates from a per-language token census
    * (`lang`, `tok`): keep_bp per language toward p_l ∝ √tok_l, sized
    * by the binding constraint (the scarcest-relative-to-target
    * language keeps everything; nothing ever upsamples). Factored from
    * the corpus verb so the fixed-point edge cases are testable on
    * synthetic censuses — the regime where a real corpus would need
    * 10^8+ tokens to reach.
    *
    * rate_bp floors at 1 bp: a language whose sqrt-weight share
    * quantizes to 0 bp (tok < ~(sw/10000)^2 — a <10k-token language in
    * a 10^12-token corpus) would otherwise get keep_bp = 0 and be
    * silently DELETED — the exact low-resource languages temperature
    * sampling (Conneau & Lample NeurIPS'19 §3.1) exists to preserve.
    * The clamp only engages below the fixed-point resolution, where
    * the target share is unrepresentable anyway; keep-everything is
    * the faithful reading. Contains one driver-side one-row read (the
    * budget) — CLI verb, bounded. */
  private[graft] def temperatureKeepRates(
      byLang: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val w = byLang.withColumn("w", floor(sqrt(col("tok"))).cast("long"))
    val rates = w
      .crossJoin(broadcast(w.agg(sum(col("w")).as("sw"))))
      .withColumn("rate_bp", expr("greatest(w * 10000 div sw, 1)"))
    // the largest mix total no language can't supply. An EMPTY census
    // (every kept doc has null lang — they're exempt from the
    // rebalance) yields a null min: return the empty rate table, so
    // the caller's keep-all left-join default applies to everything
    val budgetRow = rates.agg(min(expr("tok * 10000 div rate_bp"))).head()
    if (budgetRow.isNullAt(0))
      return rates.select(col("lang"), lit(10000L).as("keep_bp"))
    val budget = budgetRow.getLong(0)
    // keep_bp floors at 1 bp too: in an extreme binding regime (the
    // budget tiny relative to a dominant language's tok) the integer
    // division can quantize even the dominant language's keep rate to
    // zero — no non-empty language is ever deleted outright; 1 bp is
    // the coin's resolution floor, stated rather than silent.
    rates.select(col("lang"),
      greatest(lit(1L), least(lit(10000L),
        expr(s"(($budget * rate_bp) div 10000) * 10000" +
          " div greatest(tok, 1)"))).as("keep_bp"))
  }

  /** Load a MockProtocol site snapshot from a JSON-lines file.
    * Only `url` is required; code/body/contentType default. */
  def loadSite(spark: SparkSession, path: String): Fetch.MockProtocol = {
    import spark.implicits._
    var df = spark.read.json(path)
    require(df.columns.contains("url"), s"site file $path needs a url field")
    if (!df.columns.contains("code")) df = df.selectExpr("*", "1 as code")
    if (!df.columns.contains("body")) df = df.selectExpr("*", "'' as body")
    if (!df.columns.contains("contentType"))
      df = df.selectExpr("*", "'text/html' as contentType")
    val rows = df
      .selectExpr("url", "cast(coalesce(code, 1) as int) as code",
        "coalesce(body, '') as body",
        "coalesce(contentType, 'text/html') as ct")
      .as[(String, Int, String, String)].collect()
    Fetch.MockProtocol(rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap)
  }

  def run(spark: SparkSession, args: Array[String]): Int = {
    import spark.implicits._
    val now0 = optL(args.toSeq, "-now", System.currentTimeMillis())
    lazy val reg = registry(args.toSeq)
    args.toList match {
      case "inject" :: crawldb :: seeds :: _ =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        t.install(Inject(t.read(), spark.read.textFile(seeds),
          Inject.Config(), reg.filterChain, now0), "inject")
        println(s"inject: db=${t.read().count()}")
        0
      case "generate" :: crawldb :: segdir :: rest =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        val seg = new Segment(spark, segdir)
        seg.writeGenerate(Generate(t.read(), Generate.Config(
          topN = optL(rest, "-topN", Long.MaxValue),
          maxPerHost = optL(rest, "-maxPerHost", Int.MaxValue).toInt,
          curTime = now0), reg.schedule))
        println(s"generate: ${seg.generate.count()} entries")
        0
      case "fetch" :: segdir :: rest =>
        opt(rest, "-site") match {
          case None => System.err.println("fetch: -site required"); 2
          case Some(sf) =>
            val site = loadSite(spark, sf)
            val seg = new Segment(spark, segdir)
            Fetch.toSegment(seg.generate, site, now0, seg,
              pacer = Pacer.Config(
                serverDelayMs = optL(rest, "-delay", 0)),
              // http.store.responsetime (nutch-default.xml:425) —
              // default-off here, see Fetch.ResponseTimeKey rationale
              storeResponseTime = rest.contains("-storeResponseTime"))
            println(s"fetch: ${seg.fetch.count()} rows")
            0
        }
      case "parse" :: segdir :: _ =>
        val seg = new Segment(spark, segdir)
        val p = Parse(seg.fetch, seg.content, Parse.Config(),
          reg.filterChain)
        seg.writeParseData(p.parseData)
        seg.writeParseText(p.parseText)
        seg.writeCrawlParse(p.crawlParse)
        println(s"parse: ${seg.parseData.count()} pages")
        0
      case "updatedb" :: crawldb :: segdir :: _ =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        val seg = new Segment(spark, segdir)
        t.install(graft.crawl.UpdateDb(
          t.read().union(seg.fetch).union(seg.crawlParse), now0,
          reg.schedule, reg.scoring), "updatedb")
        println(s"updatedb: db=${t.read().count()}")
        0
      case "invertlinks" :: linkdb :: segdir :: _ =>
        val l = graft.tables.LinkDbStore.open(spark, linkdb)
        val seg = new Segment(spark, segdir)
        l.install(InvertLinks(seg.parseData, l.read(),
          InvertLinks.Config()), "invertlinks")
        println(s"invertlinks: ${l.read().count()} urls")
        0
      case "dedup" :: crawldb :: _ =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        t.install(Dedup(t.read()), "dedup")
        println("dedup: done")
        0
      case "updatehostdb" :: crawldb :: hostdb :: hostdbRest =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        val h = graft.tables.HostDbStore.open(spark, hostdb)
        h.install(UpdateHostDb(t.read(), h.read(), now0), "updatehostdb")
        // hostdb.numeric.fields analog (nutch-default.xml:2957-2979):
        // t-digest percentile rows beside the hostdb, not in it
        opt(hostdbRest, "-numericFields").foreach { fs =>
          val pcts = opt(hostdbRest, "-percentiles")
            .map(_.split(",").map(_.trim.toInt).toSeq)
            .getOrElse(Seq(50, 75, 95, 99))
          UpdateHostDb.numericStats(t.read(),
              fs.split(",").map(_.trim).toSeq, pcts)
            .write.mode("overwrite").parquet(s"$hostdb/numeric-stats")
        }
        println(s"updatehostdb: ${h.read().count()} hosts")
        0
      case "readdb" :: crawldb :: rest =>
        val db = graft.tables.CrawlDbStore.open(spark, crawldb).read()
        rest match {
          case "-stats" :: statsOpts =>
            // db.stats.score.quantiles analog (CrawlDbReader.java:706)
            val qs = opt(statsOpts, "-quantiles")
              .map(_.split(",").map(_.trim.toDouble).toSeq.sorted)
              .getOrElse(CrawlDbReader.DefaultQuantiles)
            CrawlDbReader.stats(db, qs).orderBy("status").collect()
              .foreach(r => println(r.mkString("\t")))
            // -sort (db.reader.stats.sort): append the per-host
            // breakdown, one "status <name> <host> <cnt>" line per
            // (status, host) pair (CrawlDbReader.java:412-419)
            if (statsOpts.contains("-sort"))
              CrawlDbReader.statsByHost(db).orderBy("status", "host")
                .collect().foreach(r => println(
                  s"status\t${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}"))
            0
          case "-dump" :: out :: dumpOpts =>
            // dump filters (CrawlDbReader.java:892-955): -regex on url,
            // -status name, -retry min, -expr JEXL, -sample fraction
            import org.apache.spark.sql.functions.col
            var d = db.toDF()
            opt(dumpOpts, "-regex").foreach(re =>
              d = d.filter(col("url").rlike(re)))
            opt(dumpOpts, "-status").foreach { st =>
              val byte = graft.schemas.CrawlStatus.names
                .find(_._2 == st).map(_._1.toInt)
                .getOrElse(sys.error(s"unknown status $st"))
              d = d.filter(col("datum.status") === byte)
            }
            opt(dumpOpts, "-retry").foreach(n =>
              d = d.filter(col("datum.retries") >= n.toInt))
            opt(dumpOpts, "-expr").foreach { e =>
              // JEXL identifiers (score, retries, fetchTime, interval)
              // resolve against flattened datum fields
              val flat = d.withColumn("score", col("datum.score"))
                .withColumn("retries", col("datum.retries"))
                .withColumn("fetchTime", col("datum.fetchTime"))
                .withColumn("fetchInterval", col("datum.fetchInterval"))
              d = flat.filter(org.apache.spark.sql.functions.expr(
                graft.net.Jexl.toSqlExpr(e)))
                .drop("score", "retries", "fetchTime", "fetchInterval")
            }
            opt(dumpOpts, "-sample").foreach(f =>
              d = d.sample(f.toDouble, seed = 42L))
            import spark.implicits._
            CrawlDbReader.dumpCsv(
              d.as[graft.schemas.CrawlRow], out)
            println(s"dumped to $out"); 0
          case "-topN" :: n :: _ =>
            CrawlDbReader.topN(db, n.toInt).collect()
              .foreach(r => println(r.mkString("\t")))
            0
          case "-topHosts" :: n :: _ =>
            CrawlDbReader.topHosts(db, n.toInt).collect()
              .foreach(r => println(r.mkString("\t")))
            0
          case "-url" :: u :: _ =>
            CrawlDbReader.url(db, u) match {
              case Some(r) => println(s"${r.url}\t${r.datum.statusName}\t" +
                s"${r.datum.score}\t${r.datum.fetchTime}"); 0
              case None => println(s"$u not found"); 1
            }
          case rest0 =>
            val msg =
              """readdb <crawldb> -stats [-quantiles .25,.5,...] [-sort]
                |       | -dump <out> [-regex RE] [-status name] [-retry N]
                |                     [-expr JEXL] [-sample F]
                |       | -topN <N> | -topHosts <N> | -url <u>
                |-topHosts ranks hosts by url count through a Misra-Gries
                |  summary (capacity 2048) + an exact broadcast recount:
                |  counts printed are EXACT whenever the db has <= 2048
                |  distinct hosts (no eviction ever happens below
                |  capacity); above it, every host holding more than
                |  total/2049 of the urls is still guaranteed a candidate
                |  slot and its printed recount stays exact - only a tail
                |  host hiding under that bound can be missed.""".stripMargin
            if (rest0.headOption.contains("-help")) { println(msg); 0 }
            else { System.err.println(msg); 2 }
        }
      case "index" :: crawldb :: linkdb :: segdir :: out :: _ =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        val l = graft.tables.LinkDbStore.open(spark, linkdb)
        val seg = new Segment(spark, segdir)
        val docs = Index(t.read(), seg.fetch, seg.parseData, seg.parseText,
          l.read(), Index.Config())
        new IndexWriters.JsonLinesWriter().write(docs, out)
        println(s"index: wrote ${spark.read.text(out).count()} docs to $out")
        0
      case "clean" :: crawldb :: sink :: _ =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        val n = CleaningJob.cleanJsonSink(spark, sink,
          CleaningJob.deletes(t.read()))
        println(s"clean: removed $n docs")
        0
      case "sitemap" :: crawldb :: hostdb :: rest =>
        opt(rest, "-site") match {
          case None => System.err.println("sitemap: -site required"); 2
          case Some(sf) =>
            val t = graft.tables.CrawlDbStore.open(spark, crawldb)
            val h = graft.tables.HostDbStore.open(spark, hostdb)
            val hosts = h.read().map(_.host)
            val found = Sitemap.discover(hosts, loadSite(spark, sf), now0,
              "graft", Sitemap.Config())
            t.install(Sitemap.merge(t.read(), found, Sitemap.Config()),
              "sitemap")
            println(s"sitemap: db=${t.read().count()}")
            0
        }
      case "crawl" :: root :: seeds :: rest =>
        opt(rest, "-site") match {
          case None => System.err.println("crawl: -site required"); 2
          case Some(sf) =>
            val site = loadSite(spark, sf)
            val seedList = spark.read.textFile(seeds).collect().toSeq
            val nRounds = optL(rest, "-rounds", 1).toInt
            val cfg = Crawl.Config(
              rounds = nRounds,
              topN = optL(rest, "-topN", Long.MaxValue),
              startTime = now0,
              pacer = Pacer.Config(serverDelayMs = optL(rest, "-delay", 0)),
              // bucketed is the default, sized by the session on a
              // fresh root; `-buckets 0` opts out to the plain layout,
              // `-buckets N` sizes the layout
              buckets = opt(rest, "-buckets").map(_.toInt),
              storeResponseTime = rest.contains("-responsetime"))
            val summary =
              if (rest.contains("-stream") && nRounds >= 1 &&
                  (1 to nRounds).forall(
                    graft.streaming.StreamingCrawl.roundDone(root, _))) {
                // every requested round already installed by a prior
                // -stream invocation of this root — nothing to run,
                // just rebuild the summary (db sizes per round are
                // only known to the invocation that ran them: -1)
                graft.streaming.StreamingCrawl.finish(spark, root,
                  1 to nRounds, cfg)
              } else if (rest.contains("-stream") && nRounds >= 1) {
                // continuous mode: a rate source ticks the rounds
                // through the Structured-Streaming micro-batch loop
                // (byte-equal to the batch loop — StreamingCrawlSpec);
                // stop once round nRounds has installed. No persistent
                // streaming checkpoint here: rate offsets restart at 0
                // each invocation (a resumed offset past nRounds would
                // filter every tick and hang), and cross-invocation
                // exactly-once comes from the per-round done markers —
                // already-installed rounds are skipped, not re-run.
                import spark.implicits._
                val done = new java.util.concurrent.CountDownLatch(1)
                val dbSizes =
                  new java.util.concurrent.ConcurrentHashMap[Int, Long]()
                // one store handle for the per-round census — opening
                // per round would re-run the migration check each time
                val statStores = Crawl.openStores(spark, root, cfg)
                val ticks = spark.readStream.format("rate")
                  .option("rowsPerSecond", 10).load()
                  .select((org.apache.spark.sql.functions.col("value") + 1)
                    .cast("int").as("r"))
                  .filter(org.apache.spark.sql.functions.col("r") <= nRounds)
                  .as[Int]
                val q = graft.streaming.StreamingCrawl.start(
                  spark, root, seedList, ticks, site, reg, cfg,
                  onRound = r => {
                    dbSizes.put(r, statStores.crawldb.read().count())
                    if (r >= nRounds) done.countDown()
                  })
                try {
                  // a micro-batch failure terminates the query without
                  // ever reaching round nRounds — watch liveness so the
                  // CLI fails like the batch path instead of hanging
                  while (!done.await(1, java.util.concurrent.TimeUnit.SECONDS)
                    && q.isActive) ()
                  q.exception.foreach(throw _)
                } finally q.stop()
                import scala.jdk.CollectionConverters._
                graft.streaming.StreamingCrawl.finish(spark, root,
                  1 to nRounds, cfg, dbSizes.asScala.toMap)
              } else Crawl.run(spark, root, seedList, site, reg, cfg)
            summary.rounds.foreach(r => println(
              s"round ${r.round}: generated=${r.generated} " +
                s"fetched=${r.fetched} db=${r.dbSize}"))
            println(s"indexed=${summary.indexed} hosts=${summary.hosts}")
            0
        }
      case "domainstats" :: crawldb :: rest =>
        // DomainStatistics: url counts by host / PSL-registered domain /
        // suffix / tld (util/DomainStatistics.java modes). Job-shaped:
        // -out <dir> streams via df.write (one row per key — unbounded
        // on a real crawl, never collected); stdout only shows -limit N.
        import org.apache.spark.sql.functions.{col, concat_ws, count, desc, lit}
        val mode = opt(rest, "-mode").getOrElse("domain")
        val keyColOpt = mode match {
          case "host" => Some(graft.functions.Urls.host(col("url")))
          case "domain" => Some(graft.functions.Urls.registeredDomain(col("url")))
          case "suffix" => Some(graft.functions.Urls.domainSuffix(col("url")))
          case "tld" => Some(graft.functions.Urls.tld(col("url")))
          case _ => None
        }
        keyColOpt match {
          case None =>
            System.err.println(s"domainstats: unknown -mode $mode " +
              "(host|domain|suffix|tld)")
            2
          case Some(keyCol) =>
            val db = graft.tables.CrawlDbStore.open(spark, crawldb).read().toDF()
            val stats = db.groupBy(keyCol.as(mode))
              .agg(count(lit(1)).as("n_urls"))
              .orderBy(desc("n_urls"), col(mode))
            opt(rest, "-out") match {
              case Some(out) =>
                stats.select(concat_ws("\t", col(mode), col("n_urls")))
                  .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                  .text(out)
                println(s"domainstats: wrote $out")
              case None =>
                stats.limit(optL(rest, "-limit", 20).toInt).collect()
                  .foreach(r => println(s"${r.get(0)}\t${r.getLong(1)}"))
            }
            0
        }
      case "protocolstats" :: crawldb :: _ =>
        // ProtocolStatusStatistics analog over the crawldb statuses
        CrawlDbReader.stats(graft.tables.CrawlDbStore.open(spark, crawldb).read())
          .orderBy("status").collect()
          .foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}"))
        0
      case "freegen" :: urlfile :: segdir :: rest =>
        // FreeGenerator: fetchlist straight from a url file, no crawldb
        import graft.schemas.{CrawlDatum, GenerateEntry}
        val now1 = now0
        // strict local: a lazy val's LazyRef (+ Main$) is not
        // serializable and must not ride into the executor closure
        val reg1 = reg
        val fl = spark.read.textFile(urlfile)
          .flatMap(l => reg1.normalizeAndFilter(l.trim,
            Extensions.Scope.Default))
          .map(u => GenerateEntry(1, 1.0f, u,
            CrawlDatum.unfetched(now1, 2592000, 1.0f)))
        new Segment(spark, segdir).writeGenerate(fl)
        println(s"freegen: ${spark.read.parquet(s"$segdir/crawl_generate")
          .count()} entries")
        0
      // DMOZ RDF dump -> seed list (tools/DmozParser.java): streamed
      // StAX parse with the adult gate, topic prefixes, 1/N sampling
      case "dmozparser" :: rdfFile :: rest =>
        val cfg = DmozParser.Config(
          subsetDenom = optL(rest, "-subset", 1).toInt,
          includeAdult = rest.contains("-includeAdult"),
          topicPrefixes = opt(rest, "-topic").toSeq,
          hashSkew = optL(rest, "-skew", 0).toInt)
        val in = new java.io.FileInputStream(rdfFile)
        try {
          val urls = DmozParser.parse(in, cfg)
          opt(rest, "-out") match {
            case Some(out) =>
              val w = java.nio.file.Files.newBufferedWriter(
                java.nio.file.Paths.get(out))
              try {
                var n = 0L
                urls.foreach { u => w.write(u); w.write("\n"); n += 1 }
                println(s"dmozparser: wrote $n urls to $out")
              } finally w.close()
            case None => urls.foreach(println)
          }
          0
        } finally in.close()
      // bulk host-resolution check over a url file
      // (tools/ResolveUrls.java counters: total/resolved/errored) —
      // distributed over the distinct hosts through the Resolver seam
      case "resolveurls" :: urlfile :: rest =>
        import org.apache.spark.sql.functions.col
        val resolver: UpdateHostDb.Resolver = opt(rest, "-mockfail")
          .map(f => UpdateHostDb.MockResolver(f.split(",").toSet))
          .getOrElse(UpdateHostDb.DnsResolver)
        import spark.implicits._
        import org.apache.spark.sql.functions.trim
        val hosts = spark.read.textFile(urlfile)
          .select(graft.functions.Urls.host(trim(col("value"))).as("host"))
          .where(col("host") =!= "").distinct().as[String]
        val resolved = hosts.mapPartitions(_.map(h => (h, resolver.resolve(h))))
          .toDF("host", "ok").cache()
        try {
          val total = resolved.count()
          val good = resolved.where(col("ok")).count()
          resolved.orderBy("host")
            .limit(optL(rest, "-limit", 20).toInt).collect()
            .foreach(r => println(
              s"${r.getString(0)}\t${if (r.getBoolean(1)) "ok" else "FAILED"}"))
          println(s"resolveurls: hosts=$total resolved=$good " +
            s"errored=${total - good}")
          0
        } finally { resolved.unpersist(); () }
      case "readlinkdb" :: linkdb :: rest =>
        // LinkDbReader: -url point lookup stays driver-side (one row);
        // the full-db dump is a job (-dump <out>, LinkDbReader.java -dump
        // shape) — stdout only ever shows -limit N rows.
        import org.apache.spark.sql.functions.col
        val l = graft.tables.LinkDbStore.open(spark, linkdb).read()
        rest match {
          case "-url" :: u :: _ =>
            l.filter(col("url") === u).limit(1).collect().headOption match {
              case Some(row) =>
                row.inlinks.foreach(i =>
                  println(s"${i.fromUrl}\t${i.anchor}"))
                0
              case None => println(s"$u not found"); 1
            }
          case "-dump" :: out :: _ =>
            l.toDF().selectExpr(
                "concat_ws('\t', url, cast(size(inlinks) as string)) as line")
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(out)
            println(s"readlinkdb: wrote $out")
            0
          case _ =>
            l.orderBy(col("url")).limit(optL(rest, "-limit", 20).toInt)
              .collect()
              .foreach(r => println(s"${r.url}\t${r.inlinks.length} inlinks"))
            0
        }
      case "readseg" :: segdir :: rest =>
        val seg = new Segment(spark, segdir)
        val part = opt(rest, "-part").getOrElse("fetch")
        val df = part match {
          case "generate" => seg.generate.toDF()
          case "fetch" => seg.fetch.toDF()
          case "parse" => seg.parseData.toDF()
          case "text" => seg.parseText.toDF()
          case other =>
            System.err.println(s"readseg: unknown part $other"); return 2
        }
        df.show(opt(rest, "-n").map(_.toInt).getOrElse(20), false)
        0
      case "warc" :: segdir :: out :: _ =>
        val seg = new Segment(spark, segdir)
        WarcExporter.writeLocal(
          WarcExporter.records(seg.fetch, seg.content), out)
        println(s"warc: exported to $out")
        0
      case "dump" :: segdir :: out :: rest =>
        val seg = new Segment(spark, segdir)
        val mimes = opt(rest, "-mimetype")
          .map(_.split(",").toSet).getOrElse(Set.empty[String])
        val n = FileDumper.dump(seg.content, out, mimes).count()
        println(s"dump: $n files under $out")
        0
      case "commoncrawldump" :: segdir :: out :: _ =>
        val seg = new Segment(spark, segdir)
        CommonCrawlDumper.write(seg.fetch, seg.content, out)
        println(s"commoncrawldump: wrote $out")
        0
      case "mergedb" :: out :: dbs if dbs.nonEmpty =>
        // CrawlDbMerger: latest fetchTime wins per url (CrawlDbMerger.java).
        // The datum-digest tiebreak makes the order TOTAL (latestWins
        // contract): equal fetchTimes pick the same winner every run.
        import org.apache.spark.sql.functions.{col, desc, md5, to_json, struct}
        val merged = graft.operators.Relational.latestWins(
          positional(dbs)
            .map(d => graft.tables.CrawlDbStore.open(spark, d).read().toDF())
            .reduce(_ union _),
          Seq("url"),
          Seq(desc("datum.fetchTime"), md5(to_json(struct(col("datum"))))))
        graft.tables.CrawlDbStore.open(spark, out)
          .install(merged.as[graft.schemas.CrawlRow], "mergedb")
        println(s"mergedb: ${graft.tables.CrawlDbStore.open(spark, out).read().count()} urls")
        0
      case "mergesegs" :: out :: segs if segs.nonEmpty =>
        SegmentMergerOp(spark,
          positional(segs).map(new Segment(spark, _)),
          new Segment(spark, out))
        println(s"mergesegs: wrote $out")
        0
      case "mergelinkdb" :: out :: dbs if dbs.nonEmpty =>
        val merged = InvertLinks.merge(
          positional(dbs).map(d => graft.tables.LinkDbStore.open(spark, d).read()),
          InvertLinks.Config())
        graft.tables.LinkDbStore.open(spark, out).install(merged, "mergelinkdb")
        println(s"mergelinkdb: ${graft.tables.LinkDbStore.open(spark, out).read().count()} urls")
        0
      case "readhostdb" :: hostdb :: rest =>
        val h = graft.tables.HostDbStore.open(spark, hostdb).read()
        (opt(rest, "-dump"), opt(rest, "-percentiles")) match {
          case (Some(out), _) =>
            h.toDF().selectExpr(
                "concat_ws('\t', host, cast(fetched as string), " +
                  "cast(unfetched as string)) as line")
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(out)
            println(s"readhostdb: wrote $out"); 0
          case (None, Some(ps)) =>
            // cross-host distribution of the hostdb's own counters —
            // ONE t-digest per counter (the readdb -stats score-
            // quantile path, on the reader side): "p95 of hosts have
            // ≤ N unfetched" is the capacity-planning read a 10^7-host
            // db is asked for, and the sketch answers it in one
            // O(δ)-state pass instead of a per-counter sort
            import org.apache.spark.sql.functions._
            val pcts = ps.split(",").map(_.trim.toInt).toSeq
            val counters = Seq("unfetched", "fetched", "gone",
              "redirTemp", "redirPerm", "notModified", "dnsFailures",
              "connectionFailures", "score")
            val fv = array(counters.map(c => struct(lit(c).as("field"),
              col(c).cast("double").as("v"))): _*)
            val digest = graft.functions.TDigest.quantileAgg(
              col("v"), pcts.map(_ / 100.0))
            val aggs = Seq(count(lit(1)).as("hosts"),
              min(col("v")).as("min"), max(col("v")).as("max")) ++
              pcts.zipWithIndex.map { case (p, i) =>
                element_at(digest, i + 1).as(s"pct$p") }
            h.toDF().select(explode(fv).as("fv"))
              .select(col("fv.field").as("field"), col("fv.v").as("v"))
              .groupBy("field").agg(aggs.head, aggs.tail: _*)
              .orderBy("field").collect()
              .foreach(r => println(r.mkString("\t")))
            0
          case (None, None) =>
            h.orderBy("host").limit(optL(rest, "-limit", 20).toInt)
              .collect()
              .foreach(r => println(s"${r.host}\t${r.fetched}\t${r.unfetched}"))
            0
        }
      // per-job counter readback (the NutchMetrics observability
      // surface the conductor appends under <root>/metrics): summed
      // across rounds, or -round N for one round's raw rows
      case "corpus" :: sfDir :: outDir :: rest =>
        // The training-data pipeline as ONE runnable export: the same
        // oracle-checked stage builders the queries use (quality gate,
        // exact/line/span dedup, rarity outlier cut, optional MinHash
        // near-dup drop), composed per doc, then written as a sharded
        // corpus tree + per-shard manifest + per-(lang, source) data
        // card + a drop-reason metrics table. At 100 TB this is the
        // corpus build job; every stage is a hash join/agg against
        // pre-aggregated sides — nothing all-pairs, nothing collected.
        import org.apache.spark.sql.functions._
        val shards = optL(rest, "-shards", 8).toInt
        val docs = Tables(spark, sfDir, "documents")
        def q(name: String) = Queries.byName(name).build(spark, sfDir)
        // every frame the verb pins is freed on every exit: a gate
        // that fails its flag check throws after the first pins exist
        val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        def pin(df: DataFrame): DataFrame = { pins += df; df }
        try {
          var labeled = docs
            .join(q("quality_gopher").select(col("doc_id"),
              col("gopher_verdict")), "doc_id")
            .join(q("dedup_exact").select(col("doc_id"),
              col("dedup_status")), "doc_id")
            .join(q("line_dedup").select(col("doc_id"),
              col("n_dropped")), "doc_id")
            // left: span_dedup has no row for docs shorter than one
            // 15-word window - trivially zero duplicated spans
            .join(q("span_dedup").select(col("doc_id"),
              col("dup_bp")), Seq("doc_id"), "left")
            .withColumn("dup_bp", coalesce(col("dup_bp"), lit(0L)))
            .join(q("rarity_score").select(col("doc_id"),
              col("rarity_per_token_bp")), "doc_id")
            .withColumn("drop_reason",
              when(col("gopher_verdict") =!= "keep", "quality")
                .when(col("dedup_status") =!= "keep", "exact_dup")
                .when(col("n_dropped") =!= 0, "line_dup")
                .when(col("dup_bp") >= 2000L, "span_dup")
                .when(col("rarity_per_token_bp") >= 400000L, "outlier")
                .otherwise("keep"))
          if (rest.contains("-neardup")) {
            // near-dup policy: of each verified MinHash pair (a < b),
            // the higher doc_id drops — chains keep their lowest member
            val drops = q("minhash_lsh")
              .select(col("b_id").as("doc_id")).distinct()
              .withColumn("near_drop", lit(1))
            labeled = labeled.join(drops, Seq("doc_id"), "left")
              .withColumn("drop_reason",
                when(col("drop_reason") === "keep" && col("near_drop") === 1,
                  "near_dup").otherwise(col("drop_reason")))
              .drop("near_drop")
          }
          labeled = pin(labeled.cache())
          var kept = labeled.where(col("drop_reason") === "keep")
            .select(col("doc_id"), col("text"), col("lang"), col("source"))
          var spansRemoved = 0L
          var substrEmptied = 0L
          if (rest.contains("-exactsubstr")) {
            // ExactSubstr span REMOVAL (Lee et al. ACL 2022) on the kept
            // corpus: cross-document duplicated 15-word runs are cut from
            // the text itself (all occurrences), not just counted — the
            // doc-level dedup stages above can't touch a boilerplate
            // paragraph embedded in otherwise-unique documents
            val cleaned = graft.ops.ExactSubstr
              .clean(kept.select(col("doc_id"), col("text")))
              .select(col("doc_id"), col("clean_text"), col("n_removed"))
            // cached: the two metric aggregates below AND the corpus
            // build consume this frame — uncached, the whole removal
            // pipeline (window hashing + coverage + text rebuild, the
            // heaviest stage of the job) would execute three times
            val rewritten = pin(kept.join(cleaned, "doc_id")
              .select(col("doc_id"), col("clean_text").as("text"),
                col("lang"), col("source"), col("n_removed"))
              .cache())
            spansRemoved = rewritten.agg(coalesce(sum("n_removed"), lit(0L)))
              .head().getLong(0)
            // a doc whose text was ENTIRELY duplicated spans is an empty
            // string now — an empty training document is not a document;
            // drop it under its own reason (conservation still holds)
            substrEmptied = rewritten.where(length(col("text")) === 0).count()
            kept = rewritten.where(length(col("text")) > 0).drop("n_removed")
          }
          var mixtureDropped = 0L
          if (rest.contains("-temperature")) {
            // α = 1/2 temperature rebalance (the mixture_temperature
            // query's rates, applied): downsample over-represented
            // languages so kept token shares match p_l ∝ √tok_l, sized
            // by the binding constraint — the scarcest-relative-to-
            // target language keeps EVERYTHING (rate 10000 bp, no
            // upsampling ever), everything else downsamples toward its
            // target share via the deterministic md5 coin (sample_cap's
            // discipline: content-keyed, stable across runs and
            // partitionings, integer-exact)
            val byLang = kept
              // null-lang docs take no part in the rebalance (kept
              // whole by the left join below) — excluded here so a
              // null group can't bind the budget it never consumes
              .where(col("lang").isNotNull)
              .select(col("lang"),
                size(split(col("text"), " ")).cast("long").as("nt"))
              .groupBy("lang").agg(sum("nt").as("tok"))
            val keepRates = temperatureKeepRates(byLang)
            val before = kept.count()
            // LEFT join + keep-all default: an inner join would silently
            // DROP docs with NULL lang (null equi-join keys never match,
            // even though byLang's groupBy produced a null-lang rate
            // row), misattributing them to dropped_mixture. Null-lang
            // docs take no part in language rebalancing — keep them.
            kept = kept.join(broadcast(keepRates), Seq("lang"), "left")
              .where(Queries.md5Long(col("doc_id").cast("string")) % 10000L
                < coalesce(col("keep_bp"), lit(10000L)))
              .drop("keep_bp")
            mixtureDropped = before - kept.count()
          }
          var dsirDropped = 0L
          opt(rest, "-dsir").foreach { spec =>
            // DSIR selection gate (dsir_select applied): keep only the
            // top keep_bp basis-points share of the kept pool by hashed
            // n-gram importance weight toward the target language.
            // The cutoff weight comes from the WEIGHT HISTOGRAM — the
            // ccnet_buckets discipline: the running count runs over the
            // bounded per-weight census (weights are integers in
            // half-bit units), never a per-doc global window. Ties at
            // the cutoff weight all keep, so the kept count can exceed
            // the target by the tie class — documented, deterministic.
            val parts = spec.split(":", 2)
            require(parts.length == 2 && parts(1).matches("[0-9]+"),
              s"-dsir wants lang:keep_bp, got $spec")
            val (targetLang, keepBp) = (parts(0), parts(1).toLong)
            require(keepBp >= 1 && keepBp <= 10000,
              s"-dsir keep_bp out of (0, 10000]: $keepBp")
            // truncate the gate lineage before this stage references it
            // repeatedly (weights + cutoff + count + build): with
            // -exactsubstr ahead of it, the accumulated plan TEXT alone
            // (AQE renders it per executed stage) OOM'd the driver on a
            // 500-doc corpus — caching doesn't shrink a plan, a
            // checkpoint does
            kept = kept.localCheckpoint()
            val before = kept.count()
            val target = (before * keepBp + 9999L) / 10000L
            // cached: the weight pipeline (corpus-wide token explode +
            // two count shuffles, the heaviest stage of this gate) is
            // consumed by the cutoff aggregate, the dropped count, AND
            // the corpus build below — uncached it would execute three
            // times (the -exactsubstr discipline)
            val w = pin(QueriesPipeline.dsirWeights(
              kept.select(col("doc_id"), col("lang"), col("text")), targetLang)
              .select(col("doc_id"), col("dsir_w"))
              .cache())
            // histogram cumsum over DESCENDING weight: the weight
            // histogram is doc-cardinality in the worst case (every doc
            // a distinct weight), so this must not be a no-partition
            // window (single task) — the two-phase PrefixSum runs it at
            // partition parallelism. Descending = ascending over the
            // negated weight (weights are sums of bounded half-bit
            // terms, nowhere near Long.MinValue).
            val cutoff = graft.ops.PrefixSum.groupedRunningSum(
                w.groupBy("dsir_w").count(),
                lit(1), -col("dsir_w"), col("count"), "cum")
              .where(col("cum") >= target)
              .agg(max(col("dsir_w")).as("cutoff"))
            kept = kept.join(w, "doc_id")
              .crossJoin(broadcast(cutoff))
              .where(col("dsir_w") >= coalesce(col("cutoff"), lit(Long.MinValue)))
              .drop("dsir_w", "cutoff")
            dsirDropped = before - kept.count()
          }
          var ccnetDropped = 0L
          opt(rest, "-ccnet").foreach { keepList =>
            // CCNet bucket gate (ccnet_buckets applied): keep only the
            // named per-language LM-score terciles — `-ccnet head` is
            // the paper's training corpus, `-ccnet head,middle` the
            // permissive cut. Docs too short to score (no bigrams)
            // count as tail: unscoreable = lowest confidence.
            val want = keepList.split(",").map(_.trim)
              .filter(_.nonEmpty).toSet
            require(want.nonEmpty && want.subsetOf(
              Set("head", "middle", "tail")),
              s"-ccnet wants head|middle|tail, got $keepList")
            val asg = QueriesPipeline.ccnetBucketAssign(
                kept.select(col("doc_id"), col("lang"), col("text")))
              .select(col("doc_id"), col("bucket"))
            val before = kept.count()
            // null-lang docs are EXEMPT (kept), same as the -temperature
            // gate: they have no language tercile to fall in — without
            // the exemption the assign's lang-keyed joins would silently
            // classify every null-lang doc as tail regardless of fluency
            kept = kept.join(asg, Seq("doc_id"), "left")
              .where(col("lang").isNull ||
                coalesce(col("bucket"), lit("tail")).isin(want.toSeq: _*))
              .drop("bucket")
            ccnetDropped = before - kept.count()
          }
          var contamDropped = 0L
          opt(rest, "-decontaminate").foreach { benchDir =>
            // Benchmark decontamination gate (the decontaminate query's
            // relation, applied): drop any kept doc sharing a word
            // 8-gram with the benchmark corpus at <benchDir>. Two
            // accepted layouts, auto-detected:
            //  - a GramStore dir (`gramstore` verb): the frozen bucketed
            //    gram table reads in place — the repeated-increment
            //    shape (only increment-derived rows ever shuffle);
            //  - a raw parquet dir with a `text` column: grams computed
            //    in-plan, join regime census-chosen (contaminationHits —
            //    eval suites broadcast, 10M+-gram corpora shuffle-join).
            // one synthetic doc_id PER BENCH ROW: wordGrams8 windows by
            // (doc_id, pos), so a shared id would interleave two docs'
            // tokens at equal positions and scramble the grams
            // -norm: lowercase + punctuation-fold both sides before
            // gram matching (decontaminate_norm's transform) — a
            // GramStore dir overrides the flag with its own `norm`
            // sidecar, because probing a store with a DIFFERENT
            // normalization than it was installed with never matches
            val rawNorm = rest.contains("-norm")
            val hitsFull =
              if (graft.ops.GramStore.isStore(benchDir)) {
                val storeNorm = graft.ops.GramStore.normalized(benchDir)
                if (rawNorm && !storeNorm)
                  System.err.println(s"corpus: -norm ignored — gram store " +
                    s"$benchDir was installed raw (re-run `gramstore -norm`)")
                graft.ops.GramStore.hits(
                  kept.select(col("doc_id"), col("text")),
                  graft.ops.GramStore.open(spark, benchDir), storeNorm)
              } else {
                val benchDocs = spark.read.parquet(benchDir)
                require(benchDocs.columns.contains("text"),
                  s"-decontaminate $benchDir needs a `text` column, has " +
                    benchDocs.columns.mkString(", "))
                // persisted for the census and the join; every later
                // pass over `kept` reads it too, so it is freed with the
                // verb's other caches
                val bench = pin(QueriesPipeline.wordGrams8(
                    benchDocs
                      .select(monotonically_increasing_id().as("doc_id"),
                        col("text")), rawNorm)
                  .select(col("g")).distinct().persist())
                QueriesPipeline.contaminationHits(
                  QueriesPipeline.wordGrams8(
                    kept.select(col("doc_id"), col("text")), rawNorm), bench)
              }
            val hits = hitsFull.select(col("doc_id")).distinct()
            val before = kept.count()
            kept = kept.join(hits, Seq("doc_id"), "left_anti")
            contamDropped = before - kept.count()
          }
          var classifyDropped = 0L
          if (rest.contains("-classify")) {
            // Trained quality-classifier gate (the centroid_* queries,
            // applied — the FineWeb/RefinedWeb discipline: TRAIN the
            // quality filter on the corpus, then RUN it in the export
            // path): one featurize pass over the kept docs trains the
            // Rocchio centroid model (65 rows, broadcast), and every
            // document the model scores negative drops under its own
            // reason. The distilled label is the Gopher-style
            // minimum-length gate re-derived from hashed bag-of-words
            // alone — deterministic, integer-exact, no RNG.
            val feat = QueriesPipeline.centroidFeatures(
              kept.select(col("doc_id"), col("text"))).localCheckpoint()
            val neg = QueriesPipeline.centroidScore(feat,
                QueriesPipeline.centroidModel(feat))
              .where(col("pred") === -1L).select("doc_id")
            val before = kept.count()
            kept = kept.join(neg, Seq("doc_id"), "left_anti")
            classifyDropped = before - kept.count()
          }
          var piiRedacted = 0L
          if (rest.contains("-pii")) {
            // PII scrub (pii_scrub's transform, applied): redact emails /
            // IPv4s / phone-shaped numbers in the EXPORTED text to typed
            // placeholders. Map-only (no shuffle); runs before the
            // curriculum/split assigners so the exported text and every
            // assignment computed from it stay self-consistent (the
            // recompute-from-export spec discipline).
            // The gauge counts placeholders on the redaction OUTPUT
            // (minus any already present), not raw pattern hits on the
            // source: nested matches (IP-shaped host inside an email)
            // are one redaction, not two.
            val counted = pin(kept
              .withColumn("_pii_red", QueriesPipeline.piiRedact(col("text")))
              .withColumn("_pii_n",
                // clamped at 0 per row: a redacted span that itself
                // contained a literal placeholder token (e.g. an <IP>
                // inside an email local-part) consumes more placeholders
                // than it adds, and a negative row must not deflate the
                // aggregate gauge
                greatest(lit(0L),
                  QueriesPipeline.piiPlaceholders(col("_pii_red")) -
                    QueriesPipeline.piiPlaceholders(col("text"))))
              .withColumn("text", col("_pii_red")).drop("_pii_red")
              .cache()) // consumed by the count aggregate AND the build
            piiRedacted = counted.agg(coalesce(sum("_pii_n"), lit(0L)))
              .head().getLong(0)
            kept = counted.drop("_pii_n")
          }
          var corpus = kept
            .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
            .withColumn("shard",
              Queries.md5Long(col("doc_id").cast("string")) % shards)
            .select(col("shard"), col("doc_id"), col("text"), col("lang"),
              col("source"), col("n_tokens"))
          if (rest.contains("-curriculum") || rest.contains("-split") ||
              rest.contains("-softdedup")) {
            // the assigners below reference the corpus frame SEVERAL
            // times (token explode + join back; star edges + label
            // init), and by here its lineage carries every gate the
            // flags enabled (quality joins + exactsubstr rewrite + dsir
            // weights + ccnet assign ...). Duplicating that subplan per
            // reference blows the DRIVER heap in the optimizer long
            // before any executor works — observed as a 500-doc OOM
            // with -exactsubstr -dsir -split together. One eager
            // checkpoint makes the assigners read a leaf.
            corpus = corpus.localCheckpoint()
          }
          if (rest.contains("-softdedup")) {
            // soft_dedup applied to the EXPORTED text: every doc gains
            // its sampling weight_bp (10^8 div mean line commonness) —
            // a REWEIGHT column, not a gate; the training loader reads
            // it to downsample common content without losing any doc.
            // Post-gate like the other assigners, on the post-scrub
            // text, so recompute-from-export reproduces the column.
            val w = QueriesPipeline.softDedupWeights(
                corpus.select(col("doc_id"), col("text")))
              .select(col("doc_id"), col("weight_bp"))
            corpus = corpus.join(w, "doc_id")
          }
          if (rest.contains("-curriculum")) {
            // curriculum_order applied to the EXPORTED corpus: difficulty
            // quartile + within-(bucket, source) interleave rank columns;
            // training order = (bucket, intra, source) lexicographic.
            // Post-gate on purpose — an order computed over docs the
            // gates drop would leave rank holes.
            val asg = QueriesPipeline.curriculumAssign(
                corpus.select(col("doc_id"), col("text"), col("source")))
              .select(col("doc_id"), col("bucket"), col("intra"))
            corpus = corpus.join(asg, "doc_id")
          }
          if (rest.contains("-split")) {
            // leakage-safe train/val/test assignment (leakage_split
            // applied to the EXPORTED text): docs sharing any 15-word
            // window land in the same split — the coin is thrown once
            // per connected-component root, so boilerplate chains can't
            // straddle train and eval. Runs on the post-gate corpus: a
            // split computed before dedup would waste its edges on docs
            // the gates drop anyway.
            val asg = QueriesPipeline.leakageSplitAssign(
                corpus.select(col("doc_id"), col("text")))
              .select(col("doc_id"), col("split"))
            corpus = corpus.join(asg, "doc_id")
          }
          corpus = pin(corpus.cache())
          corpus.write.partitionBy("shard").mode("overwrite")
            .parquet(s"$outDir/corpus")
          corpus.groupBy("shard")
            .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
              min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
          corpus.groupBy("lang", "source")
            .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/datacard")
          if (rest.contains("-epochs")) {
            // epoch_mix applied to the exported corpus: the per-source
            // repeat-allocation plan (Muennighoff-style 4-epoch cap over
            // sqrt-temperature targets) written beside the datacard —
            // the planner table a data-constrained training run reads
            QueriesPipeline.epochMixOf(
                corpus.select(col("source"), col("text")))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/epochs")
          }
          val reasons = labeled.groupBy("drop_reason").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          // every gauge is a driver-side value: gather them, append once
          val gauges = Seq.newBuilder[(String, Long)]
          gauges += "docs_in" -> reasons.values.sum
          reasons.foreach { case (reason, n) =>
            gauges += (
              if (reason == "keep") "docs_kept" -> (n - substrEmptied -
                mixtureDropped - ccnetDropped - dsirDropped - contamDropped -
                classifyDropped)
              else s"dropped_$reason" -> n)
          }
          if (rest.contains("-exactsubstr")) {
            gauges += "exactsubstr_tokens_removed" -> spansRemoved
            gauges += "dropped_exactsubstr_empty" -> substrEmptied
          }
          if (rest.contains("-temperature"))
            gauges += "dropped_mixture" -> mixtureDropped
          if (rest.contains("-ccnet")) gauges += "dropped_ccnet" -> ccnetDropped
          if (rest.contains("-dsir")) gauges += "dropped_dsir" -> dsirDropped
          if (opt(rest, "-decontaminate").isDefined)
            gauges += "dropped_contaminated" -> contamDropped
          if (rest.contains("-classify"))
            gauges += "dropped_classify" -> classifyDropped
          // a TRANSFORM gauge, not a drop reason: how many PII spans were
          // redacted in the exported text (docs are all kept)
          if (rest.contains("-pii")) gauges += "pii_redacted" -> piiRedacted
          if (rest.contains("-split"))
            corpus.groupBy("split").count().collect().foreach(r =>
              gauges += s"split_${r.getString(0)}" -> r.getLong(1))
          new Metrics.Table(spark, s"$outDir/metrics").append(
            gauges.result().map { case (name, v) =>
              Metrics.MetricRow(0, "corpus", name, v)
            })
          println(s"corpus: ${reasons.getOrElse("keep", 0L)} docs kept of " +
            s"${reasons.values.sum} into $shards shards " +
            reasons.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString("(", " ", ")"))
          0
        } finally pins.foreach(_.unpersist())
      case "gramstore" :: benchDir :: storeDir :: rest =>
        // Freeze a benchmark corpus's distinct word 8-grams as a
        // bucketed store (graft.ops.GramStore) — `corpus -decontaminate
        // <storeDir>` then probes it in place on every increment
        // instead of recomputing/reshuffling the benchmark side per
        // run. Re-run at benchmark-publish cadence.
        val buckets = opt(rest, "-buckets").map(_.toInt).getOrElse(16)
        val norm = rest.contains("-norm")
        graft.ops.GramStore.install(
          spark.read.parquet(benchDir), storeDir, buckets, norm)
        val n = graft.ops.GramStore.open(spark, storeDir).count()
        println(s"gramstore: $n distinct " +
          (if (norm) "normalized " else "") +
          s"8-grams into $buckets buckets at $storeDir")
        0
      case "bpe" :: sfDir :: outDir :: rest =>
        // Train the BPE merge table on the corpus and report it plus
        // the per-language fertility audit — ONE bpeLoop run feeds
        // both outputs (the two queries would train twice).
        // `-merges K` sets the training depth (default: the board's
        // BPE_K); rounds run on the vocab-bounded table, so depth
        // scales training time, not corpus passes.
        import org.apache.spark.sql.functions._
        val docs = Tables(spark, sfDir, "documents")
        val depth = opt(rest, "-merges").map(_.toInt)
          .getOrElse(QueriesPipeline.BPE_K)
        val (merges, fin) = QueriesPipeline.bpeLoop(
          QueriesPipeline.bpeVocab(docs), depth)
        val mergesDf = merges.reduce(_ unionByName _).cache()
        mergesDf.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/merges")
        val fert = QueriesPipeline.bpeFertilityFrom(docs, fin).cache()
        fert.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/fertility")
        mergesDf.orderBy("rank").collect().foreach { r =>
          println(s"merge\t${r.getAs[Int]("rank")}\t" +
            s"${r.getAs[String]("lft")}\t${r.getAs[String]("rgt")}\t" +
            s"${r.getAs[Long]("pair_count")}")
        }
        fert.orderBy("lang").collect().foreach { r =>
          println(s"fertility\t${r.getAs[String]("lang")}\t" +
            s"${r.getAs[Long]("n_words")}\t${r.getAs[Long]("n_tokens")}\t" +
            s"${r.getAs[Long]("fertility_bp")}")
        }
        // `-encode <parquetDocsDir>`: tokenize an EXTERNAL corpus with
        // the just-trained frozen merges (bpeEncode — the runtime
        // half) and write per-doc (doc_id, n_words, n_tokens)
        opt(rest, "-encode").foreach { encDir =>
          val enc = spark.read.parquet(encDir)
          require(enc.columns.contains("doc_id") &&
            enc.columns.contains("text"),
            s"-encode $encDir needs doc_id + text columns, has " +
              enc.columns.mkString(", "))
          val frozen = mergesDf.orderBy("rank").collect()
            .map(r => (r.getAs[String]("lft"), r.getAs[String]("rgt")))
            .toSeq
          val perWord = QueriesPipeline.bpeEncode(
              QueriesPipeline.bpeVocab(enc), frozen)
            .groupBy("w").agg(count(lit(1)).as("toks"))
          enc.select(col("doc_id"), explode(split(col("text"), " "))
              .as("w"))
            .join(perWord, "w")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_words"),
              sum(col("toks")).as("n_tokens"))
            .write.mode("overwrite").parquet(s"$outDir/encoded")
        }
        mergesDf.unpersist(); fert.unpersist()
        0
      case "classify" :: sfDir :: rest =>
        // Trained quality classifier (QueriesPipeline.centroid* —
        // Rocchio nearest-centroid over hashed bag-of-words, label =
        // the Gopher-style minimum-length gate): train on the corpus
        // in ONE featurize pass, score every document against the
        // 65-row broadcast model, print the summary. -model/-o write
        // the model / scored frame as parquet.
        import org.apache.spark.sql.functions._
        val docs = Queries.spread(Tables(spark, sfDir, "documents"),
          col("doc_id"))
        val feat = QueriesPipeline.centroidFeatures(docs).localCheckpoint()
        val model = QueriesPipeline.centroidModel(feat)
        val scored = QueriesPipeline.centroidScore(feat, model)
        opt(rest, "-model").foreach(m =>
          model.coalesce(1).write.mode("overwrite").parquet(m))
        opt(rest, "-o").foreach(o =>
          scored.write.mode("overwrite").parquet(o))
        val s = scored.groupBy().agg(
          count(lit(1)).as("n"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("ok"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos"),
          sum(when(col("pred") === 1L, 1L).otherwise(0L)).as("predpos"))
          .collect()(0)
        val n = s.getAs[Long]("n")
        println(s"classify: n=$n acc_bp=${10000 * s.getAs[Long]("ok") / n} " +
          s"pos=${s.getAs[Long]("pos")} pred_pos=${s.getAs[Long]("predpos")}")
        0
      case "search" :: sfDir :: queriesArg :: rest =>
        // BM25 ranked retrieval over the corpus (graft.ops.Bm25 — the
        // search the reference ships out to Solr/ES, native): rank
        // every document for N queries in ONE corpus pass, per-query
        // top-k via the O(k) bounded aggregate. <queries> is either a
        // parquet dir with (query_id, text) or a literal query string.
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val k = opt(rest, "-k").map(_.toInt).getOrElse(10)
        val docs = Tables(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        val queries =
          if (java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(queriesArg))) {
            val q = spark.read.parquet(queriesArg)
            require(q.columns.contains("query_id") &&
              q.columns.contains("text"),
              s"search queries at $queriesArg need query_id + text " +
                s"columns, has ${q.columns.mkString(", ")}")
            q.select(col("query_id"), col("text"))
          } else Seq((0L, queriesArg)).toDF("query_id", "text")
        val ranked = graft.ops.Bm25.rank(docs, queries, k)
        opt(rest, "-o").foreach(o =>
          ranked.coalesce(1).write.mode("overwrite").parquet(o))
        ranked.orderBy("query_id", "rank").collect().foreach { r =>
          println(s"hit\t${r.getAs[Long]("query_id")}\t" +
            s"${r.getAs[Int]("rank")}\t${r.getAs[Long]("doc_id")}\t" +
            s"${r.getAs[Long]("score_bp")}\t${r.getAs[Long]("n_matched")}")
        }
        0
      case "metrics" :: dir :: rest =>
        import org.apache.spark.sql.functions.col
        val t = new graft.ops.Metrics.Table(spark, dir)
        val rows = opt(rest, "-round") match {
          case Some(r) => t.read().where(col("round") === r.toInt)
            .orderBy("job", "name")
            .select(col("job"), col("name"), col("value"))
          case None => t.summary()
        }
        rows.collect().foreach(r =>
          println(s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}"))
        0
      case "webgraph" :: wgdir :: segdir :: _ =>
        WebGraphOp.build(spark, new Segment(spark, segdir).parseData, wgdir)
        println(s"webgraph: ${spark.read.parquet(s"$wgdir/nodes").count()} " +
          "nodes")
        0
      case "linkrank" :: wgdir :: rest =>
        WebGraphOp.linkrank(spark, wgdir,
          optL(rest, "-iterations", 10).toInt)
        println("linkrank: done")
        0
      case "scoreupdater" :: crawldb :: wgdir :: _ =>
        val t = graft.tables.CrawlDbStore.open(spark, crawldb)
        t.install(WebGraphOp.scoreUpdater(t.read(), spark, wgdir),
          "scoreupdater")
        println(s"scoreupdater: db=${t.read().count()}")
        0
      case "nodedumper" :: wgdir :: rest =>
        WebGraphOp.nodeDumper(spark, wgdir,
            opt(rest, "-by").getOrElse("score"),
            optL(rest, "-topn", 20).toInt)
          .collect()
          .foreach(r => println(r.mkString("\t")))
        0
      case "filterchecker" :: rest =>
        // URLFilterChecker: one url per non-flag arg, "+url" accepted,
        // "-url" rejected by the -filters chain
        positional(rest).foreach { u =>
          val ok = reg.filterChain.accepts(u)
          println(s"${if (ok) "+" else "-"}$u")
        }
        0
      case "normalizerchecker" :: rest =>
        val scope = opt(rest, "-scope")
          .flatMap(s => Extensions.Scope.All.find(_.equalsIgnoreCase(s)))
          .getOrElse(Extensions.Scope.Default)
        positional(rest)
          .foreach(u => println(reg.normalize(u, scope).getOrElse("")))
        0
      case "parsetext" :: path :: rest =>
        // document-extraction checker: route ONE local file through the
        // parse gate (sniffed type unless -type overrides) and print
        // status + title + extracted text — the file-based counterpart
        // of parsechecker, handy for the PDF/RTF/office/EPUB family
        val bytes =
          try java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
          catch { case _: Exception =>
            System.err.println(s"parsetext: cannot read $path")
            return 1
          }
        val ct = opt(rest, "-type")
          .getOrElse(graft.operators.Multimodal.sniffDeep(bytes) match {
            case "application/x-ole-storage" => "application/msword"
            case t => t
          })
        val (st, title, text, links) = Parse.parsePage(s"file:$path", bytes,
          ct, Parse.Config(extractor =
            opt(rest, "-extractor").getOrElse("none")))
        println(s"contentType: $ct")
        println(s"status: ${if (st == 1) "success" else "failed"}")
        if (title.nonEmpty) println(s"title: $title")
        if (links.nonEmpty) println(s"outlinks: ${links.size}")
        val limit = optL(rest, "-limit", 2000).toInt
        println(text.take(limit))
        if (st == 1) 0 else 1
      case "parsechecker" :: rest =>
        // ParserChecker: fetch ONE url through the protocol seam, run
        // the real parse, print status/title/outlinks/text head
        (opt(rest, "-site"), opt(rest, "-url")) match {
          case (Some(sf), Some(u)) =>
            val proto = loadSite(spark, sf)
            val (code, body, ct) = proto.site.getOrElse(u, (14, "", ""))
            if (code != 1) { println(s"fetch failed: code $code"); 1 }
            else {
              val fetchDs = Seq(graft.schemas.CrawlRow(u,
                graft.schemas.CrawlDatum(
                  graft.schemas.CrawlStatus.FETCH_SUCCESS, now0, 0,
                  2592000, 1f, None, 0L, Map.empty))).toDS()
              val contentDs = Seq(graft.schemas.ContentRow(u, u,
                body.getBytes("UTF-8"), ct, Map.empty)).toDS()
              // strict local: a lazy val's LazyRef (+ Main$) must not
              // ride into the executor closure (the freegen rule)
              val reg1 = reg
              val p = Parse(fetchDs, contentDs, Parse.Config(),
                reg1.filterChain,
                reg1.normalize(_, Extensions.Scope.Outlink))
              p.parseData.collect().foreach { d =>
                println(s"status: ${d.parseStatus}")
                println(s"title: ${d.title}")
                d.outlinks.foreach(o =>
                  println(s"outlink: ${o.toUrl}\t${o.anchor}"))
              }
              p.parseText.collect().foreach(t =>
                println(s"text: ${t.text.take(200)}"))
              0
            }
          case _ =>
            System.err.println("parsechecker: -site and -url required"); 2
        }
      case "indexchecker" :: rest =>
        // IndexingFiltersChecker: one url through fetch→parse→index,
        // print the document's fields
        (opt(rest, "-site"), opt(rest, "-url")) match {
          case (Some(sf), Some(u)) =>
            val proto = loadSite(spark, sf)
            val (code, body, ct) = proto.site.getOrElse(u, (14, "", ""))
            if (code != 1) { println(s"fetch failed: code $code"); 1 }
            else {
              val datum = graft.schemas.CrawlDatum(
                graft.schemas.CrawlStatus.DB_FETCHED, now0, 0,
                2592000, 1f, Some("sig"), 0L, Map.empty)
              val db = Seq(graft.schemas.CrawlRow(u, datum)).toDS()
              val fetchDs = Seq(graft.schemas.CrawlRow(u,
                datum.copy(status =
                  graft.schemas.CrawlStatus.FETCH_SUCCESS))).toDS()
              val contentDs = Seq(graft.schemas.ContentRow(u, u,
                body.getBytes("UTF-8"), ct, Map.empty)).toDS()
              // strict local: a lazy val's LazyRef (+ Main$) must not
              // ride into the executor closure (the freegen rule)
              val reg1 = reg
              val p = Parse(fetchDs, contentDs, Parse.Config(),
                reg1.filterChain,
                reg1.normalize(_, Extensions.Scope.Outlink))
              val docs = Index(db, fetchDs, p.parseData, p.parseText,
                spark.emptyDataset[graft.tables.LinkRow], Index.Config())
              docs.collect().foreach { d =>
                println(s"url: ${d.url}")
                println(s"action: ${d.action}")
                println(s"title: ${d.title}")
                println(s"host: ${d.host}")
                println(s"digest: ${d.digest}")
                println(s"boost: ${d.boost}")
                d.anchors.foreach(a => println(s"anchor: $a"))
                println(s"content: ${d.content.take(200)}")
              }
              0
            }
          case _ =>
            System.err.println("indexchecker: -site and -url required"); 2
        }
      case "robotsparser" :: robotsFile :: agent :: urls =>
        val rules = graft.net.Robots.parse(
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(robotsFile)), "UTF-8"), agent)
        urls.foreach { u =>
          val path = java.net.URI.create(u).getPath match {
            case null | "" => "/"
            case p => p
          }
          println(s"${if (rules.isAllowed(path)) "allowed" else "forbidden"}" +
            s"\t$u")
        }
        0
      case "showproperties" :: _ =>
        spark.conf.getAll.toSeq.sortBy(_._1)
          .foreach { case (k, v) => println(s"$k=$v") }
        0
      case "startserver" :: rest =>
        val srv = graft.service.RestServer.start(spark,
          optL(rest, "-port", 8081).toInt)
        println(s"graft REST server on port ${srv.port}")
        Thread.currentThread().join() // serve until killed
        0
      case other =>
        System.err.println(
          s"""unknown verb: ${other.headOption.getOrElse("")}
             |verbs: inject generate freegen fetch parse updatedb
             |       invertlinks dedup updatehostdb readdb readlinkdb
             |       readseg readhostdb index clean sitemap crawl warc
             |       dump commoncrawldump domainstats protocolstats
             |       mergedb mergesegs mergelinkdb webgraph linkrank
             |       scoreupdater nodedumper filterchecker
             |       normalizerchecker parsechecker indexchecker
             |       robotsparser showproperties startserver""".stripMargin)
        2
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val rc = try run(spark, args) finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
