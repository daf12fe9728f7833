package graft.net

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.ops.Fetch
import graft.schemas.{CrawlDatum, CrawlStatus => S, GenerateEntry}

/** The real-socket HTTP adapter driven by the REAL fetch operator over a
  * localhost server serving the reference's own fetch-test-site fixtures
  * byte-for-byte (src/testresources/fetch-test-site; the reference's
  * TestFetcher.java:86-178 fetches these six pages and asserts all are
  * handled). Plus direct protocol-level checks for status mapping,
  * redirect reporting, content-limit truncation, If-Modified-Since and
  * connection-refused — the OkHttpResponse.java behaviors. */
class FetchHttpSpec extends AnyFunSuite with SparkSuite {

  private val fixtureDir = "/root/reference/src/testresources/fetch-test-site"

  private def withServer(f: (HttpServer, String) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // static fixture files at /<name>, incl. /robots.txt
    server.createContext("/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/") match {
        case "" => "index.html"
        case n => n
      }
      val path = Paths.get(fixtureDir, name)
      if (Files.exists(path) && !name.contains("..")) {
        val bytes = Files.readAllBytes(path)
        val ct = if (name.endsWith(".html")) "text/html" else "text/plain"
        ex.getResponseHeaders.add("Content-Type", ct)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.createContext("/redir-perm", (ex: HttpExchange) => {
      ex.getResponseHeaders.add("Location", "/index.html")
      ex.sendResponseHeaders(301, -1); ex.close()
    })
    server.createContext("/redir-temp", (ex: HttpExchange) => {
      ex.getResponseHeaders.add("Location", "/pagea.html")
      ex.sendResponseHeaders(302, -1); ex.close()
    })
    server.createContext("/error", (ex: HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.createContext("/big", (ex: HttpExchange) => {
      val body = Array.fill[Byte](100000)('x')
      ex.getResponseHeaders.add("Content-Type", "application/octet-stream")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/conditional", (ex: HttpExchange) => {
      if (ex.getRequestHeaders.containsKey("If-Modified-Since"))
        ex.sendResponseHeaders(304, -1)
      else {
        val b = "fresh".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
      }
      ex.close()
    })
    server.start()
    try f(server, s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private val t0 = 1700000000000L
  private def datum = CrawlDatum.unfetched(t0, 2592000)

  test("full fetch operator crawls the reference fixture site over real HTTP") {
    assume(Files.exists(Paths.get(fixtureDir)))
    withServer { (_, base) =>
      import spark.implicits._
      val pages = Seq("index.html", "pagea.html", "pageb.html",
        "dup_of_pagea.html", "nested_spider_trap.html", "exception.html")
      val fl = pages.map(p =>
        GenerateEntry(1, 1f, s"$base/$p", datum)).toDS()
      val Fetch.Result(f, c, rel) = Fetch(fl, new HttpProtocol(),
        t0, pacer = Pacer.Config(serverDelayMs = 0))
      val statuses = f.collect().map(r => r.url -> r.datum.status).toMap
      assert(statuses.size == pages.size)
      assert(statuses.values.forall(_ == S.FETCH_SUCCESS))
      // every fixture page carries the reference's marker text
      // (TestFetcher.java:158-162 checks the same string)
      val bodies = c.collect().map(r => r.url -> new String(r.bytes, "UTF-8"))
      assert(bodies.length == pages.size)
      assert(bodies.forall(_._2.contains("Nutch fetcher test page")))
      // content-type header propagated into the datum metadata
      val metas = f.collect().map(r => r.url -> r.datum.metadata).toMap
      assert(metas(s"$base/index.html")
        .get(CrawlDatum.ContentTypeKey).contains("text/html"))
      rel()
    }
  }

  test("status mapping: 404 gone, 500 retry, 304 not-modified") {
    withServer { (_, base) =>
      val p = new HttpProtocol()
      assert(p.fetch(s"$base/nope.html", datum).code == Fetch.Code.Gone)
      assert(p.fetch(s"$base/error", datum).code == Fetch.Code.Retry)
      // no If-Modified-Since without a modified time
      assert(p.fetch(s"$base/conditional", datum).code == Fetch.Code.Success)
      val withMod = datum.copy(modifiedTime = t0)
      assert(p.fetch(s"$base/conditional", withMod).code ==
        Fetch.Code.NotModified)
    }
  }

  test("redirects are reported, not followed; Location resolved absolute") {
    withServer { (_, base) =>
      val p = new HttpProtocol()
      val perm = p.fetch(s"$base/redir-perm", datum)
      assert(perm.code == Fetch.Code.MovedPerm)
      assert(perm.movedTo.contains(s"$base/index.html"))
      val temp = p.fetch(s"$base/redir-temp", datum)
      assert(temp.code == Fetch.Code.MovedTemp)
      assert(temp.movedTo.contains(s"$base/pagea.html"))
    }
  }

  test("content-limit truncation cuts the body at maxContent") {
    withServer { (_, base) =>
      val p = new HttpProtocol(maxContent = 1000)
      val out = p.fetch(s"$base/big", datum)
      assert(out.code == Fetch.Code.Success)
      assert(out.bytes.length == 1000)
      val full = new HttpProtocol()
      assert(full.fetch(s"$base/big", datum).bytes.length == 100000)
    }
  }

  test("full crawl round over real HTTP: inject -> generate -> fetch -> parse -> updatedb") {
    assume(Files.exists(Paths.get(fixtureDir)))
    withServer { (_, base) =>
      import graft.ops.{Fetch, Generate, Inject, Parse}
      import graft.crawl.{DefaultFetchSchedule, ScheduleConfig, UpdateDb}
      import graft.tables.{CrawlDbStore, Segment}
      import spark.implicits._
      val root = Files.createTempDirectory("graft-http-round").toString
      val crawldb = CrawlDbStore.open(spark, s"$root/crawldb")
      val acceptAll = RegexUrlFilter.parse(Iterator("+."))
      val schedule = DefaultFetchSchedule(ScheduleConfig())

      val db0 = Inject(crawldb.read(),
        spark.createDataset(Seq(s"$base/index.html")),
        Inject.Config(), acceptAll, t0)
      crawldb.install(db0, "r0")

      val seg = new Segment(spark, s"$root/segments/1")
      seg.writeGenerate(Generate(crawldb.read(),
        Generate.Config(curTime = t0), schedule))
      val fr = Fetch(seg.generate, new HttpProtocol(), t0,
        pacer = Pacer.Config(serverDelayMs = 0))
      seg.writeFetch(fr.fetch); seg.writeContent(fr.content); fr.release()
      val p = Parse(seg.fetch, seg.content, Parse.Config(), acceptAll)
      seg.writeParseData(p.parseData); seg.writeParseText(p.parseText)
      seg.writeCrawlParse(p.crawlParse)
      crawldb.install(UpdateDb(
        crawldb.read().union(seg.fetch).union(seg.crawlParse),
        t0, schedule), "r1")

      val db = crawldb.read().collect().map(r => r.url -> r.datum).toMap
      // the seed is fetched, and index.html's three outlinks
      // (TestFetcher's fixture pages) are discovered as unfetched
      assert(db(s"$base/index.html").status ==
        graft.schemas.CrawlStatus.DB_FETCHED)
      for (page <- Seq("pagea.html", "pageb.html", "dup_of_pagea.html"))
        assert(db.get(s"$base/$page").map(_.status)
          .contains(graft.schemas.CrawlStatus.DB_UNFETCHED),
          s"missing discovered outlink $page")
    }
  }

  test("connection refused maps to retry (transient)") {
    // bind+close to get a port that is definitely not listening
    val ss = new java.net.ServerSocket(0)
    val port = ss.getLocalPort
    ss.close()
    val p = new HttpProtocol(connectTimeoutMs = 2000)
    assert(p.fetch(s"http://127.0.0.1:$port/x", datum).code ==
      Fetch.Code.Retry)
  }
}
