package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke of the bin/nutch-style verb dispatcher: a full
  * inject → generate → fetch → parse → updatedb → invertlinks → dedup →
  * updatehostdb → index → clean lifecycle through `Main.run`, plus the
  * readdb read paths. */
class MainCliSpec extends AnyFunSuite with SparkSuite {

  private val A = "http://cli-a.example.com"

  test("verb lifecycle end-to-end") {
    val root = Files.createTempDirectory("cli").toString
    val crawldb = s"$root/crawldb"
    val linkdb = s"$root/linkdb"
    val hostdb = s"$root/hostdb"
    val seg = s"$root/segments/r1"
    val t0 = 1700000000000L

    Files.writeString(Paths.get(root, "seeds.txt"), s"$A/\n")
    Files.writeString(Paths.get(root, "site.json"),
      Seq(
        s"""{"url": "$A/", "code": 1, "body": "<html><title>A</title><body><a href=\\"/p1\\">one</a></body></html>", "contentType": "text/html"}""",
        s"""{"url": "$A/p1", "code": 1, "body": "<html><title>P1</title><body>page one</body></html>", "contentType": "text/html"}"""
      ).mkString("\n"))

    def v(args: String*): Int = Main.run(spark, args.toArray)

    assert(v("inject", crawldb, s"$root/seeds.txt", "-now", t0.toString) == 0)
    assert(v("generate", crawldb, seg, "-topN", "10",
      "-now", (t0 + 1000).toString) == 0)
    assert(v("fetch", seg, "-site", s"$root/site.json",
      "-now", (t0 + 1000).toString, "-storeResponseTime") == 0)
    assert(v("parse", seg) == 0)
    assert(v("updatedb", crawldb, seg, "-now", (t0 + 2000).toString) == 0)
    assert(v("invertlinks", linkdb, seg) == 0)
    assert(v("dedup", crawldb) == 0)
    assert(v("updatehostdb", crawldb, hostdb,
      "-now", (t0 + 3000).toString) == 0)
    // numeric-field percentile sidecar (hostdb.numeric.fields analog):
    // fetch stored _rs_ response times, so stats rows must exist
    assert(v("updatehostdb", crawldb, hostdb,
      "-now", (t0 + 3500).toString, "-numericFields", "_rs_",
      "-percentiles", "50,95") == 0)
    val nstats = spark.read.parquet(s"$hostdb/numeric-stats")
    assert(nstats.columns.toSeq ==
      Seq("host", "field", "cnt", "min", "max", "avg", "pct50", "pct95"))
    assert(nstats.count() > 0)

    // read paths
    assert(v("readdb", crawldb, "-stats") == 0)
    assert(v("readdb", crawldb, "-topN", "5") == 0)
    assert(v("readdb", crawldb, "-topHosts", "3") == 0)
    // the MG two-pass equals the exact host census on this db
    locally {
      import org.apache.spark.sql.functions.{col, count, lit}
      val db = graft.tables.CrawlDbStore.open(spark, crawldb).read()
      val got = graft.ops.CrawlDbReader.topHosts(db, 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val exact = db.toDF()
        .select(graft.functions.Urls.host(col("url")).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("host")).limit(3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exact, s"$got vs $exact")
    }
    // -help documents the MG sketch's exact-regime guarantee
    locally {
      val out = new java.io.ByteArrayOutputStream()
      val rc = Console.withOut(new java.io.PrintStream(out)) {
        v("readdb", crawldb, "-help")
      }
      val help = out.toString
      assert(rc == 0, help)
      assert(help.contains("Misra-Gries") &&
        help.contains("EXACT whenever") && help.contains("2048"), help)
    }
    // readhostdb -percentiles: cross-host t-digest over the hostdb's
    // own counters — one row per counter, pct columns as asked
    locally {
      val out = new java.io.ByteArrayOutputStream()
      val rc = Console.withOut(new java.io.PrintStream(out)) {
        v("readhostdb", hostdb, "-percentiles", "50,95")
      }
      val lines = out.toString.trim.split("\n").filter(_.nonEmpty)
      assert(rc == 0, out.toString)
      // 9 counters × one row each; fetched row: min/max/percentiles
      // are all >= 0 and max >= pct95 >= pct50 >= min
      assert(lines.length == 9, lines.mkString("|"))
      val fetched = lines.find(_.startsWith("fetched")).get.split("\t")
      val Seq(mn, mx, p50, p95) =
        Seq(2, 3, 4, 5).map(i => fetched(i).toDouble)
      assert(mn <= p50 && p50 <= p95 && p95 <= mx, fetched.toSeq)
    }
    assert(v("readdb", crawldb, "-url", s"$A/") == 0)
    assert(v("readdb", crawldb, "-url", "http://nowhere.example/") == 1)
    assert(v("readdb", crawldb, "-dump", s"$root/dump") == 0)
    assert(Files.list(Paths.get(root, "dump")).count() > 0)
    // dump filters: status + regex + JEXL (p1 was discovered but not
    // yet fetched in this single round)
    assert(v("readdb", crawldb, "-dump", s"$root/dump2",
      "-status", "db_unfetched", "-regex", "p1$") == 0)
    val d2 = spark.read.text(s"$root/dump2").count()
    assert(d2 == 1, s"expected only $A/p1, got $d2 lines")
    assert(v("readdb", crawldb, "-dump", s"$root/dump3",
      "-expr", "score > 100000") == 0)
    assert(spark.read.text(s"$root/dump3").count() == 0)

    // readers over linkdb/segments. The site is single-host and
    // db.ignore.internal.links defaults true, so the linkdb is empty
    // and the point lookup correctly misses.
    assert(v("readlinkdb", linkdb) == 0)
    assert(v("readlinkdb", linkdb, "-url", s"$A/p1") == 1)
    // -dump is job-shaped: writes through df.write, no driver collect
    assert(v("readlinkdb", linkdb, "-dump", s"$root/linkdump") == 0)
    assert(Files.exists(Paths.get(root, "linkdump")))
    assert(v("readseg", seg, "-part", "generate") == 0)
    assert(v("readseg", seg, "-part", "nope") == 2)

    // freegen: fetchlist straight from a url file
    Files.writeString(Paths.get(root, "free.txt"),
      s"$A/free1\n$A/free2\nnot a url\n")
    assert(v("freegen", s"$root/free.txt", s"$root/segments/free") == 0)
    assert(spark.read.parquet(s"$root/segments/free/crawl_generate")
      .count() == 2)

    // export verbs over the segment
    assert(v("warc", seg, s"$root/warc") == 0)
    assert(Files.list(Paths.get(root, "warc")).count() > 0)
    assert(v("dump", seg, s"$root/files", "-mimetype", "text/html") == 0)
    assert(v("commoncrawldump", seg, s"$root/cc") == 0)
    assert(spark.read.text(s"$root/cc").count() >= 1)

    // stats verbs (domainstats goes through the PSL engine)
    assert(v("domainstats", crawldb, "-mode", "domain") == 0)
    assert(v("domainstats", crawldb, "-mode", "suffix") == 0)
    assert(v("domainstats", crawldb, "-mode", "tld") == 0)
    assert(v("domainstats", crawldb, "-mode", "bogus") == 2)
    // -out is job-shaped: one tab-separated line per key via df.write
    assert(v("domainstats", crawldb, "-mode", "host",
      "-out", s"$root/domstats") == 0)
    assert(spark.read.text(s"$root/domstats").count() >= 1)
    assert(v("protocolstats", crawldb) == 0)

    // index + clean
    assert(v("index", crawldb, linkdb, seg, s"$root/sink") == 0)
    val indexed = spark.read.text(s"$root/sink").count()
    assert(indexed >= 1)
    assert(v("clean", crawldb, s"$root/sink") == 0)

    // state sanity: the fetched seed is db_fetched, p1 discovered
    val db = graft.tables.CrawlDbStore.open(spark, crawldb).read().collect()
    assert(db.map(_.url).toSet.contains(s"$A/p1"))

    // unknown verb
    assert(v("frobnicate") == 2)
  }

  test("inject honors a -filters conf dir (domain allow + denylist)") {
    val root = Files.createTempDirectory("cli-filters").toString
    Files.writeString(Paths.get(root, "seeds.txt"),
      "http://keep.example.com/\nhttp://drop.example.org/\n" +
        "http://denied.example.com/\n")
    val conf = Files.createDirectory(Paths.get(root, "conf"))
    // allow example.com, then denylist the one bad host
    Files.writeString(conf.resolve("domain-urlfilter.txt"),
      "# allow\nexample.com\n")
    Files.writeString(conf.resolve("domaindenylist-urlfilter.txt"),
      "denied.example.com\n")
    assert(Main.run(spark, Array("inject", s"$root/crawldb",
      s"$root/seeds.txt", "-filters", conf.toString,
      "-now", "1700000000000")) == 0)
    val urls = graft.tables.CrawlDbStore.open(spark, s"$root/crawldb")
      .read().collect().map(_.url).toSet
    assert(urls == Set("http://keep.example.com/"))
  }

  test("conductor verb runs multi-round") {
    val root = Files.createTempDirectory("cli-crawl").toString
    Files.writeString(Paths.get(root, "seeds.txt"), s"$A/\n")
    Files.writeString(Paths.get(root, "site.json"),
      Seq(
        s"""{"url": "$A/", "code": 1, "body": "<html><title>A</title><body><a href=\\"/p1\\">one</a></body></html>", "contentType": "text/html"}""",
        s"""{"url": "$A/p1", "code": 1, "body": "<html><title>P1</title><body>page one</body></html>", "contentType": "text/html"}"""
      ).mkString("\n"))
    assert(Main.run(spark, Array("crawl", s"$root/crawl", s"$root/seeds.txt",
      "-site", s"$root/site.json", "-rounds", "2",
      "-now", "1700000000000")) == 0)
    val store = graft.tables.CrawlDbStore.open(spark, s"$root/crawl/crawldb")
    val db = store.read().collect()
    assert(db.length == 2) // seed + discovered p1
    // no -buckets: the fresh root got one bucket per slot of the
    // local[4] session
    assert(store.buckets == 4)
    // -buckets takes a positive integer: anything else exits 2 before
    // the crawl starts, and leaves no root behind
    for (bad <- Seq("0", "-3", "x")) {
      val err = new java.io.ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new java.io.PrintStream(err, true))
      val rc = try Main.run(spark, Array("crawl", s"$root/bad",
        s"$root/seeds.txt", "-site", s"$root/site.json", "-buckets", bad))
      finally System.setErr(stderr)
      assert(rc == 2, s"-buckets $bad")
      assert(err.toString.linesIterator.contains(
        s"crawl: -buckets must be a positive integer, got $bad"), err)
      assert(!Files.exists(Paths.get(root, "bad")))
    }
    // the conductor appended per-job counters; the metrics verb reads
    // them back (summed across rounds, and raw per round)
    assert(Main.run(spark,
      Array("metrics", s"$root/crawl/metrics")) == 0)
    assert(Main.run(spark,
      Array("metrics", s"$root/crawl/metrics", "-round", "1")) == 0)
    val m = new graft.ops.Metrics.Table(spark, s"$root/crawl/metrics")
      .summary().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("fetcher", "fetched_total")) == 2) // seed r1, p1 r2
    assert(m(("generator", "records_generated_total")) == 2)
  }

  test("crawl -stream drives the rounds through the streaming loop " +
    "and matches the batch verb's db") {
    val root = Files.createTempDirectory("cli-crawl-stream").toString
    Files.writeString(Paths.get(root, "seeds.txt"), s"$A/\n")
    Files.writeString(Paths.get(root, "site.json"),
      Seq(
        s"""{"url": "$A/", "code": 1, "body": "<html><title>A</title><body><a href=\\"/p1\\">one</a></body></html>", "contentType": "text/html"}""",
        s"""{"url": "$A/p1", "code": 1, "body": "<html><title>P1</title><body>page one</body></html>", "contentType": "text/html"}"""
      ).mkString("\n"))
    for (mode <- Seq(Seq("-stream"), Seq.empty)) {
      val dir = s"$root/${if (mode.nonEmpty) "stream" else "batch"}"
      assert(Main.run(spark, Array("crawl", dir, s"$root/seeds.txt",
        "-site", s"$root/site.json", "-rounds", "2",
        "-now", "1700000000000") ++ mode) == 0)
    }
    def dump(dir: String) = graft.tables.CrawlDbStore.open(spark,
      s"$dir/crawldb").read().collect().map(r => r.url -> r.datum).toMap
    val s = dump(s"$root/stream")
    assert(s.nonEmpty && s == dump(s"$root/batch"))
  }

  test("single-step verbs auto-open the bucketed layout — no silent " +
    "empty reads, no split-brain plain installs") {
    val root = Files.createTempDirectory("cli-auto-layout").toString
    Files.writeString(Paths.get(root, "seeds.txt"), s"$A/\n")
    Files.writeString(Paths.get(root, "site.json"),
      s"""{"url": "$A/", "code": 1, "body": "<html><title>A</title><body>x</body></html>", "contentType": "text/html"}""")
    // a default (bucketed) conductor run creates the layout
    assert(Main.run(spark, Array("crawl", s"$root/c", s"$root/seeds.txt",
      "-site", s"$root/site.json", "-rounds", "1",
      "-now", "1700000000000")) == 0)
    val dbDir = s"$root/c/crawldb"
    assert(Files.exists(Paths.get(dbDir, "GENERATION")))
    // readdb against the conductor's root sees its data
    assert(Main.run(spark, Array("readdb", dbDir, "-stats")) == 0)
    // inject MERGES into the conductor's db rather than writing a
    // second layout beside it
    Files.writeString(Paths.get(root, "seeds2.txt"),
      "http://late-seed.example.com/\n")
    assert(Main.run(spark, Array("inject", dbDir, s"$root/seeds2.txt",
      "-now", "1700000001000")) == 0)
    assert(!Files.exists(Paths.get(dbDir, "current")),
      "split-brain: inject wrote a plain current beside GENERATION")
    val urls = graft.tables.CrawlDbStore.open(spark, dbDir)
      .read().collect().map(_.url).toSet
    assert(urls.contains("http://late-seed.example.com/"))
    assert(urls.contains(s"$A/"))
  }

  test("a root in the old plain <db>/current layout is imported once " +
    "as generation 1, whichever verb opens it") {
    import spark.implicits._
    import graft.schemas.{CrawlDatum, CrawlRow}
    import graft.tables.{CrawlDbStore, HostDbStore, Inlink, LinkDbStore,
      LinkRow}
    import graft.ops.UpdateHostDb.HostRow
    val root = Files.createTempDirectory("cli-plain-root").toString
    Files.writeString(Paths.get(root, "seeds.txt"), s"$A/\n")
    Files.writeString(Paths.get(root, "site.json"),
      s"""{"url": "$A/", "code": 1, "body": "<html><title>A</title><body>x</body></html>", "contentType": "text/html"}""")
    val crawl = s"$root/crawl"
    val crawlRows = Seq(
      CrawlRow(s"$A/", CrawlDatum.unfetched(1700000000000L, 3600)),
      CrawlRow(s"$A/old", CrawlDatum.unfetched(1600000000000L, 3600)
        .copy(score = 2.5f, signature = Some("sig"))))
    val linkRows = Seq(LinkRow(s"$A/old",
      Seq(Inlink("http://from.example.com/", "anchor"))))
    val hostRows = Seq(HostRow("cli-a.example.com", 1, 2L, 0, 0, 0, 0, 0,
      0, 1.5, 1000L))
    // what a crawl root written before the one layout holds: the live
    // `current` generation and the previous one at `old`
    for (gen <- Seq("current", "old")) {
      crawlRows.toDS().write.parquet(s"$crawl/crawldb/$gen")
      linkRows.toDS().write.parquet(s"$crawl/linkdb/$gen")
      hostRows.toDS().write.parquet(s"$crawl/hostdb/$gen")
    }
    def generation(db: String) =
      Files.readString(Paths.get(crawl, db, "GENERATION")).trim.toInt
    def sortedCrawl(ds: org.apache.spark.sql.Dataset[CrawlRow]) =
      ds.collect().sortBy(_.url).toSeq

    // a read-only verb imports the crawldb (its first open writes)
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Array("readdb", s"$crawl/crawldb", "-stats"))
    }
    assert(rc == 0, out.toString)
    assert(out.toString.linesIterator.exists(_.matches("db_unfetched\\t2\\b.*")),
      out.toString)
    assert(generation("crawldb") == 1)
    assert(sortedCrawl(spark.read.parquet(s"$crawl/crawldb/g1")
      .as[CrawlRow]) == crawlRows)
    // a writing verb opens the imported root: no second import
    Files.writeString(Paths.get(root, "seeds2.txt"),
      "http://late-seed.example.com/\n")
    assert(Main.run(spark, Array("inject", s"$crawl/crawldb",
      s"$root/seeds2.txt", "-now", "1700000001000")) == 0)
    assert(generation("crawldb") == 2)
    assert(CrawlDbStore.open(spark, s"$crawl/crawldb").read().collect()
      .map(_.url).toSet == crawlRows.map(_.url).toSet +
        "http://late-seed.example.com/")
    // the conductor imports the linkdb and hostdb the same way
    assert(Main.run(spark, Array("crawl", crawl, s"$root/seeds.txt",
      "-site", s"$root/site.json", "-now", "1700000002000")) == 0)
    assert(generation("hostdb") == 1) // the CLI crawl keeps no hostdb
    assert(HostDbStore.open(spark, s"$crawl/hostdb").read().collect()
      .toSeq == hostRows)
    assert(generation("linkdb") == 2) // g1 import + the round's install
    assert(spark.read.parquet(s"$crawl/linkdb/g1").as[LinkRow].collect()
      .toSeq == linkRows)
    assert(LinkDbStore.open(spark, s"$crawl/linkdb").read().collect()
      .map(_.url).toSet.contains(s"$A/old"))
    for (db <- Seq("crawldb", "linkdb", "hostdb"); gen <- Seq("current", "old"))
      assert(!Files.exists(Paths.get(crawl, db, gen)), s"$db/$gen")
  }

  test("merge verbs, webgraph family, checkers, readhostdb, showproperties") {
    val root = Files.createTempDirectory("cli-verbs2").toString
    val B = "http://cli-b.example.org"
    val t0 = 1700000000000L
    def v(args: String*): Int = Main.run(spark, args.toArray)

    // two-host site with cross-host links for a real link graph
    Files.writeString(Paths.get(root, "site.json"),
      Seq(
        s"""{"url": "$A/", "code": 1, "body": "<html><title>A</title><body><a href=\\"$B/\\">to b</a></body></html>", "contentType": "text/html"}""",
        s"""{"url": "$B/", "code": 1, "body": "<html><title>B</title><body><a href=\\"$A/\\">to a</a><a href=\\"$A/x\\">ax</a></body></html>", "contentType": "text/html"}"""
      ).mkString("\n"))
    Files.writeString(Paths.get(root, "seedsA.txt"), s"$A/\n")
    Files.writeString(Paths.get(root, "seedsB.txt"), s"$B/\n")

    // two independent crawldbs + segments (one host each)
    for ((tag, seeds) <- Seq("a" -> "seedsA.txt", "b" -> "seedsB.txt")) {
      assert(v("inject", s"$root/db_$tag", s"$root/$seeds",
        "-now", t0.toString) == 0)
      assert(v("generate", s"$root/db_$tag", s"$root/seg_$tag",
        "-now", (t0 + 1000).toString) == 0)
      assert(v("fetch", s"$root/seg_$tag", "-site", s"$root/site.json",
        "-now", (t0 + 1000).toString) == 0)
      assert(v("parse", s"$root/seg_$tag") == 0)
      assert(v("invertlinks", s"$root/ldb_$tag", s"$root/seg_$tag") == 0)
      assert(v("updatedb", s"$root/db_$tag", s"$root/seg_$tag",
        "-now", (t0 + 2000).toString) == 0)
    }

    // mergedb: union of the two one-host dbs
    assert(v("mergedb", s"$root/db_m", s"$root/db_a", s"$root/db_b") == 0)
    val mergedUrls = graft.tables.CrawlDbStore.open(spark, s"$root/db_m")
      .read().collect().map(_.url).toSet
    assert(mergedUrls.contains(s"$A/") && mergedUrls.contains(s"$B/"))

    // mergesegs: latest-wins union of the two segments
    assert(v("mergesegs", s"$root/seg_m", s"$root/seg_a",
      s"$root/seg_b") == 0)
    assert(spark.read.parquet(s"$root/seg_m/crawl_fetch").count() >= 2)

    // mergelinkdb: both cross-host inlink sets survive
    assert(v("mergelinkdb", s"$root/ldb_m", s"$root/ldb_a",
      s"$root/ldb_b") == 0)
    val l = graft.tables.LinkDbStore.open(spark, s"$root/ldb_m")
      .read().collect().map(r => r.url -> r.inlinks.map(_.fromUrl)).toMap
    assert(l(s"$B/").contains(s"$A/"))
    assert(l(s"$A/").contains(s"$B/"))

    // webgraph → linkrank → nodedumper → scoreupdater over merged seg
    assert(v("webgraph", s"$root/wg", s"$root/seg_m") == 0)
    val nodes = spark.read.parquet(s"$root/wg/nodes")
    assert(nodes.count() >= 3) // A/, B/, A/x
    assert(v("linkrank", s"$root/wg", "-iterations", "3") == 0)
    val scored = spark.read.parquet(s"$root/wg/nodes")
      .collect().map(r => r.getAs[String]("url") ->
        r.getAs[Double]("score")).toMap
    // every node got a damped score; linked-to nodes beat the floor
    assert(scored.values.forall(_ >= 0.15))
    assert(scored(s"$A/") > 0.15)
    assert(v("nodedumper", s"$root/wg", "-by", "inlinks", "-topn", "2") == 0)
    assert(v("scoreupdater", s"$root/db_m", s"$root/wg") == 0)
    val dbScores = graft.tables.CrawlDbStore.open(spark, s"$root/db_m")
      .read().collect().map(r => r.url -> r.datum.score).toMap
    assert(math.abs(dbScores(s"$A/") - scored(s"$A/")) < 1e-5)

    // readhostdb
    assert(v("updatehostdb", s"$root/db_m", s"$root/hostdb",
      "-now", (t0 + 3000).toString) == 0)
    assert(v("readhostdb", s"$root/hostdb", "-limit", "5") == 0)
    assert(v("readhostdb", s"$root/hostdb", "-dump", s"$root/hdump") == 0)
    assert(spark.read.text(s"$root/hdump").count() >= 2)

    // checkers
    val conf = Files.createDirectory(Paths.get(root, "conf"))
    Files.writeString(conf.resolve("regex-urlfilter.txt"),
      "-\\.(gif|jpg)$\n+.\n")
    assert(v("filterchecker", "-filters", conf.toString,
      s"$A/page.html", s"$A/pic.gif") == 0)
    assert(v("normalizerchecker", "-scope", "default",
      s"$A/a/../b.html") == 0)
    assert(v("parsechecker", "-site", s"$root/site.json",
      "-url", s"$B/") == 0)
    assert(v("parsechecker", "-site", s"$root/site.json",
      "-url", s"$B/missing") == 1)
    assert(v("indexchecker", "-site", s"$root/site.json",
      "-url", s"$A/") == 0)

    // robotsparser over a rule file
    Files.writeString(Paths.get(root, "robots.txt"),
      "User-agent: *\nDisallow: /private\n")
    assert(v("robotsparser", s"$root/robots.txt", "graft",
      s"$A/public.html", s"$A/private/x.html") == 0)

    assert(v("showproperties") == 0)
  }

  test("readdb -stats -sort prints the exact per-(status, host) census " +
    "on a planted multi-host db (db.reader.stats.sort parity)") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import spark.implicits._
    val root = Files.createTempDirectory("cli-sort").toString
    val dbDir = s"$root/db"
    // 3 hosts × 2 statuses with uneven counts, plus one unparseable
    // url the reference's MalformedURLException catch would drop
    val rows = (for {
      (host, n) <- Seq("a.example.com" -> 5, "b.example.com" -> 3,
        "c.example.org" -> 1)
      i <- 0 until n
      status <- Seq[Byte](1, 2).take(if (i % 2 == 0) 2 else 1)
    } yield graft.schemas.CrawlRow(s"http://$host/p$i-$status",
      graft.schemas.CrawlDatum.unfetched(1L, 60).withStatus(status))) :+
      graft.schemas.CrawlRow("not a url",
        graft.schemas.CrawlDatum.unfetched(1L, 60))
    graft.tables.CrawlDbStore.open(spark, dbDir)
      .install(rows.toDS(), "plant")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Array("readdb", dbDir, "-stats", "-sort"))
    }
    assert(rc == 0, out.toString)
    val got = out.toString.linesIterator
      .filter(_.startsWith("status\t")).map { l =>
        val Array(_, st, h, c) = l.split("\t"); (st, h) -> c.toLong
      }.toMap
    // the exact census, computed independently of the CLI path
    val exact = graft.tables.CrawlDbStore.open(spark, dbDir).read().toDF()
      .filter(col("url").startsWith("http"))
      .select(
        graft.functions.Urls.host(col("url")).as("host"),
        col("datum.status").as("st"))
      .groupBy("host", "st").agg(count(lit(1)).as("n"))
      .collect().map(r => (graft.schemas.CrawlStatus.name(
        r.getAs[Byte]("st")), r.getString(0)) -> r.getLong(2)).toMap
    assert(got == exact, s"$got vs $exact")
    assert(got.keySet.map(_._2) ==
      Set("a.example.com", "b.example.com", "c.example.org"))
    // without -sort no per-host lines appear
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Main.run(spark, Array("readdb", dbDir, "-stats"))
    }
    assert(!out2.toString.linesIterator.exists(_.startsWith("status\t")))
  }

  test("dmozparser streams RDF to a seed list with the reference gates") {
    val root = Files.createTempDirectory("cli-dmoz").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val rdf = """<?xml version="1.0" encoding="UTF-8"?>
      |<RDF xmlns:r="http://www.w3.org/TR/RDF/" xmlns:d="http://purl.org/dc/elements/1.0/">
      |<Topic r:id="Top/Computers/Internet"><link r:resource="http://a.example.com/"/></Topic>
      |<ExternalPage about="http://a.example.com/"><d:Title>A</d:Title></ExternalPage>
      |<ExternalPage about="http://b.example.com/"><d:Title>B</d:Title></ExternalPage>
      |<Topic r:id="Top/Adult/Stuff"/>
      |<ExternalPage about="http://x.example.com/"><d:Title>X</d:Title></ExternalPage>
      |<Topic r:id="Top/Sports/Soccer"/>
      |<ExternalPage about="http://c.example.com/"><d:Title>C</d:Title></ExternalPage>
      |</RDF>""".stripMargin
    Files.writeString(Paths.get(root, "content.rdf"), rdf)

    // default: adult section dropped, everything else kept
    assert(v("dmozparser", s"$root/content.rdf",
      "-out", s"$root/seeds.txt") == 0)
    val seeds = Files.readAllLines(Paths.get(root, "seeds.txt"))
    assert(seeds.toArray.toSeq == Seq("http://a.example.com/",
      "http://b.example.com/", "http://c.example.com/"))

    // adult opt-in restores x; topic prefix narrows to Sports
    assert(v("dmozparser", s"$root/content.rdf", "-includeAdult",
      "-out", s"$root/seeds2.txt") == 0)
    assert(Files.readAllLines(Paths.get(root, "seeds2.txt")).size == 4)
    assert(v("dmozparser", s"$root/content.rdf", "-topic", "Top/Sports",
      "-out", s"$root/seeds3.txt") == 0)
    assert(Files.readAllLines(Paths.get(root, "seeds3.txt")).toArray.toSeq ==
      Seq("http://c.example.com/"))

    // 1/N sampling is deterministic and a strict subset
    assert(v("dmozparser", s"$root/content.rdf", "-subset", "2",
      "-out", s"$root/seeds4.txt") == 0)
    val sub = Files.readAllLines(Paths.get(root, "seeds4.txt"))
    assert(sub.size < 3 && sub.stream().allMatch(seeds.contains(_)))

    // the seed list feeds inject like any other
    assert(v("inject", s"$root/crawldb", s"$root/seeds.txt",
      "-now", "1700000000000") == 0)
    assert(graft.tables.CrawlDbStore.open(spark, s"$root/crawldb")
      .read().count() == 3)
  }

  test("resolveurls checks hosts through the Resolver seam") {
    val root = Files.createTempDirectory("cli-resolve").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    Files.writeString(Paths.get(root, "urls.txt"),
      Seq("http://localhost/a", "http://localhost/b",
        "http://bad.example.invalid/x").mkString("\n"))
    // MockResolver path: planted failure counted, dup host deduped
    assert(v("resolveurls", s"$root/urls.txt",
      "-mockfail", "bad.example.invalid") == 0)
    // DnsResolver path: localhost resolves without network egress
    Files.writeString(Paths.get(root, "urls2.txt"), "http://localhost/\n")
    assert(v("resolveurls", s"$root/urls2.txt") == 0)
  }

  test("parsetext verb routes local documents through the gate") {
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val dir = java.nio.file.Files.createTempDirectory("cli-parsetext")
    val pdf = dir.resolve("t.pdf")
    java.nio.file.Files.write(pdf,
      graft.ops.PdfParse.build(Seq(Seq("checker text here"))))
    assert(v("parsetext", pdf.toString) == 0)
    // the reference's encrypted sample decrypts through the same verb
    assert(v("parsetext",
      "/root/reference/src/plugin/parse-tika/sample/encrypted.pdf") == 0)
    assert(v("parsetext",
      "/root/reference/src/plugin/parse-tika/sample/word97.doc") == 0)
    assert(v("parsetext", dir.resolve("missing.bin").toString) == 1)
  }

  test("corpus verb: sharded export + manifest + datacard + drop metrics") {
    import org.apache.spark.sql.functions.{col, sum}
    val root = Files.createTempDirectory("cli-corpus").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("corpus", sf, s"$root/out", "-shards", "4", "-neardup") == 0)
    val docsIn = Tables(spark, sf, "documents").count()
    val corpus = spark.read.parquet(s"$root/out/corpus")
    val kept = corpus.count()
    assert(kept > 0 && kept < docsIn) // the gates really drop something
    // shard column materialized as the partition dir, values in range
    assert(corpus.select("shard").distinct().collect()
      .map(_.get(0).toString.toLong).forall(s => s >= 0 && s < 4))
    // manifest totals == corpus totals
    val manifest = spark.read.parquet(s"$root/out/manifest")
    assert(manifest.agg(sum("n_docs")).head().getLong(0) == kept)
    // datacard covers every kept (lang, source) with matching doc sum
    val card = spark.read.parquet(s"$root/out/datacard")
    assert(card.agg(sum("n_docs")).head().getLong(0) == kept)
    assert(card.select("lang", "source").distinct().count() == card.count())
    // metrics: docs_in == kept + every dropped_* counter
    val m = new graft.ops.Metrics.Table(spark, s"$root/out/metrics").read()
    def g(name: String): Long = m.where(col("name") === name)
      .select("value").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    assert(g("docs_in") == docsIn)
    val droppedTotal = m.where(col("name").startsWith("dropped_"))
      .agg(sum("value")).head().getLong(0)
    assert(g("docs_kept") == kept && kept + droppedTotal == docsIn)
    // deterministic: a re-run writes the identical corpus
    assert(v("corpus", sf, s"$root/out2", "-shards", "4", "-neardup") == 0)
    val again = spark.read.parquet(s"$root/out2/corpus")
    assert(again.count() == kept)
    assert(corpus.select("doc_id", "shard").except(
      again.select("doc_id", "shard")).isEmpty)
  }

  test("corpus -temperature rebalances kept languages toward the " +
    "sqrt mix: conservation holds, only downsampling, the binding " +
    "language keeps ~everything, L1 distance to target shrinks") {
    import org.apache.spark.sql.functions.{col, sum}
    val root = Files.createTempDirectory("cli-corpus-temp").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("corpus", sf, s"$root/plain", "-shards", "4") == 0)
    assert(v("corpus", sf, s"$root/temp", "-shards", "4",
      "-temperature") == 0)

    def langTokens(out: String): Map[String, Long] =
      spark.read.parquet(s"$out/datacard").groupBy("lang")
        .agg(sum("n_tokens").as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = langTokens(s"$root/plain")
    val temp = langTokens(s"$root/temp")
    // downsample only, never upsample
    assert(temp.forall { case (l, t) => t <= plain(l) })
    // conservation: docs_in == docs_kept + every dropped_* counter
    val m = new graft.ops.Metrics.Table(spark, s"$root/temp/metrics").read()
    def g(n: String): Long = m.where(col("name") === n)
      .select("value").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    val dropped = m.where(col("name").startsWith("dropped_"))
      .agg(sum("value")).head().getLong(0)
    assert(g("docs_in") == g("docs_kept") + dropped)
    assert(g("dropped_mixture") > 0) // the rebalance really engaged
    // the binding language (smallest tok relative to its sqrt target)
    // keeps ~everything; integer floors may shave a whisker
    def weights(tok: Map[String, Long]) = {
      val w = tok.view.mapValues(t => math.sqrt(t.toDouble).floor.toLong)
      val sw = w.values.sum
      w.mapValues(_ * 10000 / sw).toMap
    }
    val rate = weights(plain)
    val binding = plain.keys.minBy(l => plain(l) * 10000 / rate(l))
    assert(temp(binding) >= plain(binding) * 99 / 100,
      s"$binding ${temp(binding)} vs ${plain(binding)}")
    // kept shares moved toward the sqrt-target mix (L1 in bp shrinks)
    def l1(tok: Map[String, Long]): Long = {
      val tot = tok.values.sum
      rate.map { case (l, r) =>
        math.abs(tok.getOrElse(l, 0L) * 10000 / tot - r) }.sum
    }
    assert(l1(temp) < l1(plain), s"${l1(temp)} !< ${l1(plain)}")
  }

  test("temperature keep rates never quantize a tiny language to zero " +
    "(the sub-1bp regime a real test corpus can't reach)") {
    val sp = spark; import sp.implicits._
    // a 10^12-token dominant language pushes a 10^4-token language's
    // sqrt-weight share below 1 bp: w_xx = 100, sw ≈ 10^6+100, so
    // w*10000 div sw == 0 — unclamped, keep_bp would be 0 and EVERY
    // xx doc would be dropped by the md5 coin (< 0 never holds).
    val byLang = Seq(("en", 1000000000000L), ("xx", 10000L))
      .toDF("lang", "tok")
    val rates = Main.temperatureKeepRates(byLang).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the tiny language is the binding constraint at its clamped 1 bp
    // target: it keeps everything; nothing exceeds 10000
    assert(rates("xx") == 10000L, rates)
    assert(rates.values.forall(bp => bp >= 1L && bp <= 10000L), rates)
    // and the dominant language really downsamples toward the mix
    assert(rates("en") < 10000L, rates)
    // sanity on an ordinary census: every language keeps at least 1 bp
    // and the scarcest-relative-to-target keeps everything
    val byLang2 = Seq(("en", 900000L), ("de", 90000L), ("rw", 900L))
      .toDF("lang", "tok")
    val r2 = Main.temperatureKeepRates(byLang2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2.values.forall(bp => bp >= 1L && bp <= 10000L), r2)
    // ~everything: integer floors may shave a whisker (same contract
    // as the CLI-level binding-language test)
    assert(r2("rw") >= 9900L, r2)
    // EMPTY census (every kept doc null-lang, all exempt): returns the
    // empty rate table instead of NPE-ing on a null min — the caller's
    // keep-all left-join default then applies to everything
    val empty = Seq.empty[(String, Long)].toDF("lang", "tok")
    assert(Main.temperatureKeepRates(empty).count() == 0)
  }

  test("corpus -ccnet keeps only the named LM-score terciles: " +
    "conservation holds, head is a strict subset, all-three drops nothing") {
    import org.apache.spark.sql.functions.{col, sum}
    val root = Files.createTempDirectory("cli-corpus-ccnet").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("corpus", sf, s"$root/plain", "-shards", "2") == 0)
    assert(v("corpus", sf, s"$root/head", "-shards", "2",
      "-ccnet", "head") == 0)
    assert(v("corpus", sf, s"$root/all3", "-shards", "2",
      "-ccnet", "head,middle,tail") == 0)
    def docs(out: String): Set[Long] =
      spark.read.parquet(s"$out/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val plain = docs(s"$root/plain")
    val head = docs(s"$root/head")
    // head is a strict per-language tercile cut of the gated corpus
    assert(head.nonEmpty && head.subsetOf(plain) && head.size < plain.size)
    // keeping every tercile (unscoreable docs default to tail) drops
    // nothing relative to the plain export
    assert(docs(s"$root/all3") == plain)
    // conservation: docs_in == docs_kept + every dropped_* counter,
    // and the ccnet gate's own counter carries the difference
    val m = new graft.ops.Metrics.Table(spark, s"$root/head/metrics").read()
    def g(n: String): Long = m.where(col("name") === n)
      .select("value").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    val dropped = m.where(col("name").startsWith("dropped_"))
      .agg(sum("value")).head().getLong(0)
    assert(g("docs_in") == g("docs_kept") + dropped)
    assert(g("dropped_ccnet") == plain.size - head.size)
    // bad bucket name refuses
    assert(scala.util.Try(
      v("corpus", sf, s"$root/bad", "-ccnet", "nope")).isFailure)
  }

  test("corpus -exactsubstr cuts a cross-document boilerplate paragraph " +
    "from the kept text (all occurrences) and reports the token count") {
    import org.apache.spark.sql.functions.{col, sum}
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("cli-corpus-substr").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    // a corpus dir with ONLY a planted documents table: two docs share
    // a 20-word paragraph embedded in otherwise-distinct text. The
    // construction must PASS every doc-level gate: a small reused
    // vocab keeps the rarity score low, seeded-random orders keep
    // gopher's within-doc repetition low and line/span signatures
    // distinct, and the paragraph lands at offsets 30 and 25 so no
    // 10-word line chunk aligns identically across the two carriers.
    val vocab = (1 to 20).map(i => s"w$i")
    val rnd = new scala.util.Random(42)
    def rand(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val para = rand(20).mkString(" ")
    val Seq(a, b, c, d, e) =
      Seq(rand(30), rand(30), rand(25), rand(35), rand(70))
        .map(_.mkString(" "))
    // unique guard tokens isolate the paragraph: without them a filler
    // token adjacent to the paragraph can coincide across the two
    // carriers (1/|vocab| per side), lengthening the true duplicated
    // run beyond the paragraph — correct removal semantics, but not
    // the fixed 20-token expectation this test pins
    val docs = Seq(
      (1L, s"$a x1 $para x2 $b", "en", "web"),
      (2L, s"$c y1 $para y2 $d", "en", "web"),
      (3L, e, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
    docs.write.parquet(s"$root/sf/documents.parquet")
    assert(v("corpus", s"$root/sf", s"$root/out", "-shards", "2",
      "-exactsubstr") == 0)
    val out = spark.read.parquet(s"$root/out/corpus").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[String]("text"), r.getAs[Long]("n_tokens")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L),
      s"a gate dropped a planted doc: ${out.keySet}")
    // the shared paragraph is cut from BOTH carriers — exactly its 20
    // tokens, nothing else (the 15-word windows straddling paragraph
    // and guard/filler are unique per doc)
    assert(out(1L)._1 == s"$a x1 x2 $b", out(1L))
    assert(out(2L)._1 == s"$c y1 y2 $d", out(2L))
    assert(out(3L)._1 == e)
    assert(out(1L)._2 == 62 && out(2L)._2 == 62 && out(3L)._2 == 70)
    // metric records exactly the 2 x 20 removed tokens
    val m = new graft.ops.Metrics.Table(spark, s"$root/out/metrics").read()
    val removed = m.where(col("name") === "exactsubstr_tokens_removed")
      .agg(sum("value")).head().getLong(0)
    assert(removed == 40L, removed)
  }

  test("corpus -dsir keeps exactly the top-weight share of the pool " +
    "(ties widen), conservation holds") {
    import org.apache.spark.sql.functions.{col, sum, min => smin, max => smax}
    val root = Files.createTempDirectory("cli-corpus-dsir").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("corpus", sf, s"$root/plain", "-shards", "4") == 0)
    assert(v("corpus", sf, s"$root/sel", "-shards", "4",
      "-dsir", "en:5000") == 0)
    val plain = spark.read.parquet(s"$root/plain/corpus")
    val sel = spark.read.parquet(s"$root/sel/corpus")
    val (nPlain, nSel) = (plain.count(), sel.count())
    val target = (nPlain * 5000 + 9999) / 10000
    assert(nSel >= target && nSel < nPlain, s"$nSel vs target $target")
    // the kept set is EXACTLY the top-weight docs of the pool: the
    // lowest kept weight >= the highest dropped weight
    val w = QueriesPipeline.dsirWeights(
      plain.select(col("doc_id"), col("lang"), col("text")), "en")
    val keptW = w.join(sel.select("doc_id"), "doc_id")
    val dropW = w.join(plain.select("doc_id")
      .except(sel.select("doc_id")), "doc_id")
    val lowKept = keptW.agg(smin("dsir_w")).head().getLong(0)
    val highDrop = dropW.agg(smax("dsir_w")).head().getLong(0)
    assert(lowKept >= highDrop, s"$lowKept !>= $highDrop")
    // conservation: docs_in == docs_kept + every dropped_* counter
    val m = new graft.ops.Metrics.Table(spark, s"$root/sel/metrics").read()
    def g(n: String): Long = m.where(col("name") === n)
      .select("value").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    val dropped = m.where(col("name").startsWith("dropped_"))
      .agg(sum("value")).head().getLong(0)
    assert(g("docs_in") == g("docs_kept") + dropped)
    assert(g("dropped_dsir") == nPlain - nSel)
  }

  test("corpus -split: every exported doc gets a deterministic " +
    "leakage-safe split and the split metrics conserve") {
    import org.apache.spark.sql.functions.{col, sum}
    val root = Files.createTempDirectory("cli-corpus-split").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("corpus", sf, s"$root/out", "-shards", "4", "-split") == 0)
    val corpus = spark.read.parquet(s"$root/out/corpus")
    val n = corpus.count()
    assert(n > 0)
    val splits = corpus.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.size >= 2,
      splits)
    // deterministic and leakage-safe: recomputing the assignment on
    // the exported text reproduces the exported column exactly (docs
    // sharing any 15-word window share a cluster root, hence a split)
    val again = QueriesPipeline.leakageSplitAssign(
        corpus.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("split").as("split2"))
    assert(corpus.select("doc_id", "split").join(again, "doc_id")
      .where(col("split") =!= col("split2")).isEmpty)
    // metrics: per-split gauges sum to the corpus size
    val m = new graft.ops.Metrics.Table(spark, s"$root/out/metrics").read()
    val splitSum = m.where(col("name").startsWith("split_"))
      .agg(sum("value")).head().getLong(0)
    assert(splitSum == n, s"$splitSum != $n")
  }

  test("corpus -decontaminate drops every benchmark-overlapping doc " +
    "and -pii redacts the exported text; metrics conserve") {
    import org.apache.spark.sql.functions.{col, concat, lit, lpad, sum}
    val root = Files.createTempDirectory("cli-corpus-decon").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    // a private sfDir: the sf0.001 documents with ONE SHARED 3-token
    // PII prefix on EVERY doc (word salad has none naturally — the
    // pii_scrub planting pattern). The prefix must be corpus-COMMON
    // vocabulary: doc-unique (or small-modulus-class) PII tokens are
    // rare by construction and trip the rarity OUTLIER gate on every
    // planted doc (observed: 347/500 outlier drops at cnt≈100, whose
    // n_total/cnt≈285 dwarfs the ≥40-per-token threshold); a prefix
    // on all docs, by contrast, preserves the fixture's duplicate
    // structure exactly (twins stay exact twins), and a 3-token
    // shared HEAD can't create a shared 10-word line or 15-word span
    // between non-twin word-salad docs.
    val src = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    src.withColumn("text",
        concat(lit("user@x.example.org 10.9.0.9 555-0042 "), col("text")))
      .write.mode("overwrite").parquet(s"$root/sf/documents.parquet")
    // pass 1 (no flags): learn which docs the baseline gates keep, and
    // take two kept docs' texts as the "benchmark" eval corpus
    assert(v("corpus", s"$root/sf", s"$root/base", "-shards", "4") == 0)
    val baseKept = spark.read.parquet(s"$root/base/corpus").cache()
    // bench docs need at least one 8-gram to be findable
    val bench = baseKept
      .where(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(col("text"), " ")) >= 8)
      .orderBy("doc_id").limit(2).select("text")
    bench.write.mode("overwrite").parquet(s"$root/bench")
    val nBase = baseKept.count()
    assert(nBase > 0)
    // pass 2: the gated export
    assert(v("corpus", s"$root/sf", s"$root/out", "-shards", "4",
      "-decontaminate", s"$root/bench", "-pii") == 0)
    val corpus = spark.read.parquet(s"$root/out/corpus").cache()
    // every bench-overlapping doc is gone: recomputing the overlap
    // relation on the export finds NOTHING (8-gram semi-join against
    // the bench grams — the decontaminate query's own unit)
    val benchGrams = QueriesPipeline.wordGrams8(
      spark.read.parquet(s"$root/bench")
        .select(org.apache.spark.sql.functions
          .monotonically_increasing_id().as("doc_id"), col("text")))
      .select("g")
    assert(QueriesPipeline.wordGrams8(
        corpus.select(col("doc_id"), col("text")))
      .join(benchGrams, "g").isEmpty)
    // the two bench docs themselves (at least) dropped
    val m = new graft.ops.Metrics.Table(spark, s"$root/out/metrics").read()
    def g(n: String): Long = m.where(col("name") === n)
      .select("value").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    assert(g("dropped_contaminated") >= 2,
      s"dropped_contaminated=${g("dropped_contaminated")}")
    assert(corpus.count() == nBase - g("dropped_contaminated"))
    // PII: the exported text carries placeholders, never a raw hit —
    // and every kept doc had exactly its 3 planted spans redacted
    assert(corpus.agg(sum(QueriesPipeline.piiCount(col("text"))))
      .head().getLong(0) == 0)
    assert(corpus.where(col("text").contains("<EMAIL>")).count()
      == corpus.count())
    assert(g("pii_redacted") == 3 * corpus.count(),
      s"pii_redacted=${g("pii_redacted")} kept=${corpus.count()}")
    // conservation: docs_in == docs_kept + every dropped_* counter
    val dropped = m.where(col("name").startsWith("dropped_"))
      .agg(sum("value")).head().getLong(0)
    assert(g("docs_in") == g("docs_kept") + dropped)
    // r14: freeze the same benchmark as a bucketed GramStore and run
    // the gated export against the STORE dir — -decontaminate
    // auto-detects the layout and the export must be byte-identical
    assert(v("gramstore", s"$root/bench", s"$root/store",
      "-buckets", "4") == 0)
    assert(graft.ops.GramStore.isStore(s"$root/store"))
    assert(v("corpus", s"$root/sf", s"$root/out2", "-shards", "4",
      "-decontaminate", s"$root/store", "-pii") == 0)
    val corpus2 = spark.read.parquet(s"$root/out2/corpus")
    assert(corpus2.count() == corpus.count())
    assert(corpus.select("doc_id", "text")
      .exceptAll(corpus2.select("doc_id", "text")).isEmpty)
    val m2 = new graft.ops.Metrics.Table(spark, s"$root/out2/metrics").read()
    val g2 = m2.where(col("name") === "dropped_contaminated")
      .select("value").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    assert(g2 == g("dropped_contaminated"), s"store=$g2 inplan=" +
      g("dropped_contaminated"))
    baseKept.unpersist(); corpus.unpersist()
  }

  test("corpus -classify trains the centroid gate on the kept pool and " +
    "drops exactly the model-negative docs; metrics conserve") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("cli-corpus-classify").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    // pass 1: baseline gates only — the pool the classifier trains on
    assert(v("corpus", sf, s"$root/base", "-shards", "4") == 0)
    val pool = spark.read.parquet(s"$root/base/corpus").cache()
    // pass 2: with the trained gate
    assert(v("corpus", sf, s"$root/out", "-shards", "4",
      "-classify") == 0)
    val out = spark.read.parquet(s"$root/out/corpus").cache()
    // recompute the gate from scratch on the pool: train on pool,
    // score pool, keep pred = +1 — must equal the export's doc set
    val feat = QueriesPipeline.centroidFeatures(
      pool.select(col("doc_id"), col("text")))
    val wantKept = QueriesPipeline.centroidScore(feat,
        QueriesPipeline.centroidModel(feat))
      .where(col("pred") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == wantKept,
      s"export/${got.size} != recompute/${wantKept.size}; " +
        s"diff=${(got -- wantKept) ++ (wantKept -- got)}")
    // the gate actually fired (the synthetic corpus has short docs)
    assert(got.size < pool.count(), "classifier gate dropped nothing")
    // metrics: dropped_classify == pool - export, docs_kept == export
    val m = new graft.ops.Metrics.Table(spark, s"$root/out/metrics")
      .read().where(col("job") === "corpus")
      .select("name", "value").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("dropped_classify") == pool.count() - got.size, m)
    assert(m("docs_kept") == got.size, m)
    pool.unpersist(); out.unpersist()
  }

  test("corpus -softdedup: every exported doc carries a sampling " +
    "weight, nothing drops, and the column recomputes from the export") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("cli-corpus-soft").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("corpus", sf, s"$root/base", "-shards", "4") == 0)
    val nBase = spark.read.parquet(s"$root/base/corpus").count()
    assert(v("corpus", sf, s"$root/out", "-shards", "4",
      "-softdedup") == 0)
    val corpus = spark.read.parquet(s"$root/out/corpus")
    // a reweight, never a gate: same doc set as the unflagged export
    assert(corpus.count() == nBase)
    assert(corpus.where(col("weight_bp") < 1 || col("weight_bp") > 10000)
      .isEmpty)
    val again = QueriesPipeline.softDedupWeights(
        corpus.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("weight_bp").as("w2"))
    assert(corpus.select("doc_id", "weight_bp").join(again, "doc_id")
      .where(col("weight_bp") =!= col("w2")).isEmpty)
  }

  test("corpus -curriculum and -epochs: training order columns and the " +
    "epoch plan, both consistent with their oracle-checked assigners") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("cli-corpus-curr").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("corpus", sf, s"$root/out", "-shards", "4",
      "-curriculum", "-epochs") == 0)
    val corpus = spark.read.parquet(s"$root/out/corpus")
    val n = corpus.count()
    assert(n > 0)
    // curriculum columns: buckets in 0..3; intra is a dense 1..k rank
    // within (bucket, source); re-running the assigner on the exported
    // text reproduces the columns exactly
    assert(corpus.select("bucket").distinct().collect()
      .map(_.getInt(0)).forall(b => b >= 0 && b <= 3))
    val again = QueriesPipeline.curriculumAssign(
        corpus.select(col("doc_id"), col("text"), col("source")))
      .select(col("doc_id"), col("bucket").as("b2"), col("intra").as("i2"))
    assert(corpus.select("doc_id", "bucket", "intra").join(again, "doc_id")
      .where(col("bucket") =!= col("b2") || col("intra") =!= col("i2"))
      .isEmpty)
    import spark.implicits._
    val perGroup = corpus.groupBy("bucket", "source")
      .agg(org.apache.spark.sql.functions.max("intra").as("mx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql
          .functions.lit(1)).as("c"))
      .where(col("mx") =!= col("c"))
    assert(perGroup.isEmpty) // rank is dense per group
    // epochs plan: matches epochMixOf on the exported corpus
    val epochs = spark.read.parquet(s"$root/out/epochs")
    val want = QueriesPipeline.epochMixOf(
      corpus.select(col("source"), col("text")))
    assert(epochs.except(want).isEmpty && want.except(epochs).isEmpty)
  }

  /** The `corpus` job's gauges under `out`, by name. */
  private def corpusGauges(out: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    new graft.ops.Metrics.Table(spark, s"$out/metrics").read()
      .where(col("job") === "corpus").select("name", "value").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("corpus summary line reports the exported count and every gate's " +
    "drops, equal to the gauges") {
    import org.apache.spark.sql.functions.{col, size, split}
    val root = Files.createTempDirectory("cli-corpus-summary").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    // the benchmark: two docs the label gates keep, so the
    // decontamination gate drops at least those two after the label
    // stage has counted them as kept
    assert(v("corpus", sf, s"$root/base", "-shards", "2") == 0)
    spark.read.parquet(s"$root/base/corpus")
      .where(size(split(col("text"), " ")) >= 8)
      .orderBy("doc_id").limit(2).select("text")
      .write.parquet(s"$root/bench")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out)) {
      v("corpus", sf, s"$root/out", "-shards", "2",
        "-decontaminate", s"$root/bench")
    }
    assert(rc == 0, out.toString)
    val g = corpusGauges(s"$root/out")
    assert(g("dropped_contaminated") >= 2, g)
    val line = """corpus: (\d+) docs kept of (\d+) into 2 shards \((.*)\)""".r
      .findFirstMatchIn(out.toString)
      .getOrElse(fail(s"no summary line in: $out"))
    assert(line.group(1).toLong == g("docs_kept"), line.matched)
    assert(line.group(2).toLong == g("docs_in"), line.matched)
    val printed = line.group(3).split(" ").map { kv =>
      val Array(k, n) = kv.split("=", 2); k -> n.toLong }.toMap
    assert(printed == g.collect {
      case (k, n) if k.startsWith("dropped_") => k.stripPrefix("dropped_") -> n
      case ("docs_kept", n) => "keep" -> n
    }, line.matched)
  }

  test("corpus reports docs_kept = 0 and writes an empty export when the " +
    "label gates reject every doc") {
    import org.apache.spark.sql.functions.{col, length}
    import scala.jdk.CollectionConverters._
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("cli-corpus-none").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    // one repeated token: every doc's top 2-gram is 100% of its
    // bigrams, over Gopher's 20% limit
    (1 to 6).map(i => (i.toLong, Seq.fill(40 + i)("x").mkString(" "),
        "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$root/sf/documents.parquet")
    assert(v("corpus", s"$root/sf", s"$root/out", "-shards", "2") == 0)
    val g = corpusGauges(s"$root/out")
    assert(g.get("docs_kept").contains(0L), g)
    assert(g("docs_in") == 6L && g("dropped_quality") == 6L, g)
    val files = Files.walk(Paths.get(s"$root/out/corpus"))
    try assert(!files.iterator().asScala.exists(_.toString.endsWith(".parquet")))
    finally files.close()
    assert(spark.read.parquet(s"$root/out/manifest").isEmpty)
  }

  test("corpus with every gate and assigner at once: the ledger conserves, " +
    "each gate reports once, the export matches docs_kept, no cache left") {
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    spark.catalog.clearCache()
    val root = Files.createTempDirectory("cli-corpus-all").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents")
    docs.where(col("doc_id") % 25 === 0).select("text")
      .write.parquet(s"$root/bench")
    assert(v("corpus", sf, s"$root/out", "-shards", "4", "-neardup",
      "-exactsubstr", "-temperature", "-dsir", "en:5000",
      "-ccnet", "head,middle", "-decontaminate", s"$root/bench",
      "-classify", "-pii", "-softdedup", "-curriculum", "-split",
      "-epochs") == 0)
    val m = new graft.ops.Metrics.Table(spark, s"$root/out/metrics").read()
      .where(col("job") === "corpus")
    val names = m.select("name").collect().map(_.getString(0)).toSeq
    assert(names.distinct.size == names.size, names)
    val g = corpusGauges(s"$root/out")
    val perGate = Seq("dropped_exactsubstr_empty", "dropped_mixture",
      "dropped_dsir", "dropped_ccnet", "dropped_contaminated",
      "dropped_classify", "exactsubstr_tokens_removed", "pii_redacted")
    assert(perGate.forall(g.contains), g)
    assert(g("docs_in") == docs.count())
    val dropped = g.collect { case (k, n) if k.startsWith("dropped_") => n }.sum
    assert(g("docs_in") == g("docs_kept") + dropped, g)
    val corpus = spark.read.parquet(s"$root/out/corpus")
    assert(corpus.count() == g("docs_kept"))
    assert(spark.read.parquet(s"$root/out/manifest").agg(sum("n_docs"))
      .head().getLong(0) == g("docs_kept"))
    assert(g.collect { case (k, n) if k.startsWith("split_") => n }.sum ==
      g("docs_kept"), g)
    assert(Seq("weight_bp", "bucket", "intra", "split")
      .forall(corpus.columns.contains), corpus.columns.toSeq)
    assert(ColumnBridge.cacheIsEmpty(spark))
  }

  test("bpe verb: one training run writes the merge table and the " +
    "fertility audit, matching the oracle-checked queries") {
    val root = Files.createTempDirectory("cli-bpe").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    assert(v("bpe", sf, s"$root/out") == 0)
    val merges = spark.read.parquet(s"$root/out/merges")
    val wantMerges = Queries.byName("bpe_train").build(spark, sf)
    assert(merges.count() == 6)
    assert(merges.except(wantMerges).isEmpty &&
      wantMerges.except(merges).isEmpty)
    val fert = spark.read.parquet(s"$root/out/fertility")
    val wantFert = Queries.byName("bpe_fertility").build(spark, sf)
    assert(fert.except(wantFert).isEmpty && wantFert.except(fert).isEmpty)
    // r14: -encode tokenizes an external corpus with the frozen
    // merges — encoding the TRAINING docs must reproduce the fertility
    // audit's token arithmetic (sum over docs == sum over languages)
    assert(v("bpe", sf, s"$root/out2", "-encode",
      s"$sf/documents.parquet") == 0)
    val enc = spark.read.parquet(s"$root/out2/encoded")
    import org.apache.spark.sql.functions.{col, sum}
    assert(enc.count() ==
      spark.read.parquet(s"$sf/documents.parquet").count())
    val encTokens = enc.agg(sum("n_tokens")).head().getLong(0)
    val fertTokens = spark.read.parquet(s"$root/out2/fertility")
      .agg(sum("n_tokens")).head().getLong(0)
    assert(encTokens == fertTokens, s"$encTokens != $fertTokens")
  }

  test("search verb: BM25 retrieval over the corpus — parquet query " +
    "table and literal query string both match graft.ops.Bm25.rank") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("cli-search").toString
    def v(args: String*): Int = Main.run(spark, args.toArray)
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    // two deterministic query terms from the corpus itself
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("w")).limit(12)
      .orderBy(asc("cnt"), desc("w")).limit(2)
      .collect().map(_.getString(0)).sorted
    val queries = Seq((0L, words(0)), (1L, words.mkString(" ")))
      .toDF("query_id", "text")
    queries.write.mode("overwrite").parquet(s"$root/queries")
    assert(v("search", sf, s"$root/queries", "-k", "3",
      "-o", s"$root/hits") == 0)
    val got = spark.read.parquet(s"$root/hits")
    val want = graft.ops.Bm25.rank(docs, queries, 3)
    assert(got.count() > 0)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // literal string = one-query table with query_id 0
    assert(v("search", sf, words(0), "-k", "3",
      "-o", s"$root/hits2") == 0)
    val got2 = spark.read.parquet(s"$root/hits2")
    val want2 = graft.ops.Bm25.rank(docs,
      Seq((0L, words(0))).toDF("query_id", "text"), 3)
    assert(got2.except(want2).isEmpty && want2.except(got2).isEmpty)
  }

  test("classify verb: trains + scores the corpus, writes model and " +
    "scored frame, matches the centroid_score query") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("cli-classify").toString
    val sf = "/root/testdata/sf0.001"
    assert(Main.run(spark, Array("classify", sf,
      "-model", s"$root/model", "-o", s"$root/scored")) == 0)
    val model = spark.read.parquet(s"$root/model")
    assert(model.count() == QueriesPipeline.CentF + 1)
    assert(model.columns.sorted.toSeq == Seq("f", "mu_neg", "mu_pos"))
    val got = spark.read.parquet(s"$root/scored")
    val want = Queries.byName("centroid_score").build(spark, sf)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // the verb's model is the trainer's model
    val wantModel = QueriesPipeline.centroidModel(
      QueriesPipeline.centroidFeatures(
        Tables(spark, sf, "documents")))
    assert(model.except(wantModel).isEmpty &&
      wantModel.except(model).isEmpty)
  }
}
