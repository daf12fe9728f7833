package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** CLASS-job fixture: a Spark job of interruptible in-task sleeps
  * (~12 s/task at local[4]) whose only early exit is a job-group
  * cancel arriving through /job/{id}/stop. */
class SlowSparkJob extends RestServer.JobRunner {
  def run(spark: org.apache.spark.sql.SparkSession,
      args: Map[String, String]): String = {
    spark.range(100).repartition(4).foreach(_ => Thread.sleep(500))
    "ran to completion"
  }
}

/** CLASS-job fixture: driver-side sleep — no Spark job for stop's
  * cancelJobGroup to reach, so only /abort's thread interrupt ends it. */
class DriverSleepJob extends RestServer.JobRunner {
  def run(spark: org.apache.spark.sql.SparkSession,
      args: Map[String, String]): String = {
    Thread.sleep(60000)
    "slept"
  }
}

/** CLASS-job fixture for the between-phases stop race: phase 1 is a
  * real Spark job; the runner then parks driver-side on `proceed`
  * (the gap between two Spark jobs where a plain cancelJobGroup has
  * nothing to cancel); phase 2 is a second Spark job in the same
  * group. A stop arriving in the gap must prevent phase 2 from
  * running — cancelJobGroupAndFutureJobs fails it at submit. */
object TwoPhaseJob {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val proceed = new java.util.concurrent.CountDownLatch(1)
  @volatile var phase2Ran = false
}
class TwoPhaseJob extends RestServer.JobRunner {
  def run(spark: org.apache.spark.sql.SparkSession,
      args: Map[String, String]): String = {
    spark.range(10).count() // phase 1
    TwoPhaseJob.entered.countDown()
    TwoPhaseJob.proceed.await(30, java.util.concurrent.TimeUnit.SECONDS)
    spark.range(10).count() // phase 2 — must die if stopped in the gap
    TwoPhaseJob.phase2Ran = true
    "both phases ran"
  }
}

/** §3.3 REST surface: /admin, async /job/create + /job/{id}, /db/crawldb
  * stats and point lookup — driven over real HTTP. */
class RestServerSpec extends AnyFunSuite with SparkSuite {

  private lazy val client = HttpClient.newHttpClient()

  private def get(url: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(url: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def awaitJob(base: String, id: String): String = {
    val deadline = System.currentTimeMillis() + 60000
    var state = "RUNNING"
    while (state == "RUNNING" && System.currentTimeMillis() < deadline) {
      val (_, body) = get(s"$base/job/$id")
      state = "\"state\":\"([A-Z]+)\"".r.findFirstMatchIn(body).get.group(1)
      if (state == "RUNNING") Thread.sleep(100)
    }
    state
  }

  test("admin, job lifecycle, db read endpoints") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"

      val (c0, admin) = get(s"$base/admin")
      assert(c0 == 200 && admin.contains("\"product\":\"graft\""))

      // inject via seedList, async
      val root = Files.createTempDirectory("rest").toString
      val (c1, created) = post(s"$base/job/create?type=inject" +
        s"&crawldb=$root/crawldb&seedList=http://r.example.com/" +
        s"&now=1700000000000")
      assert(c1 == 200, created)
      val id = "\"id\":(\\d+)".r.findFirstMatchIn(created).get.group(1)
      assert(awaitJob(base, id) == "FINISHED")

      // job listing shows it
      val (_, list) = get(s"$base/job")
      assert(list.contains(s""""id":$id"""))

      // db stats + point lookup
      val (c2, stats) = get(s"$base/db/crawldb?crawldb=$root/crawldb")
      assert(c2 == 200 && stats.contains("db_unfetched"), stats)
      val (c3, row) = get(s"$base/db/crawldb?crawldb=$root/crawldb" +
        "&url=http%3A%2F%2Fr.example.com%2F")
      assert(c3 == 200 && row.contains("\"status\":\"db_unfetched\""), row)
      val (c4, _) = get(s"$base/db/crawldb?crawldb=$root/crawldb&url=nope")
      assert(c4 == 404)

      // bad requests
      assert(post(s"$base/job/create")._1 == 400)
      assert(get(s"$base/job/99999")._1 == 404)
      // failed job surfaces FAILED state, not a hang
      val (_, bad) = post(s"$base/job/create?type=nosuch&crawldb=$root/x")
      val badId = "\"id\":(\\d+)".r.findFirstMatchIn(bad).get.group(1)
      assert(awaitJob(base, badId) == "FAILED")
    } finally srv.stop()
  }

  test("a stopped server leaves no live non-daemon thread behind") {
    import scala.jdk.CollectionConverters._
    def liveNonDaemon(): Set[Thread] = Thread.getAllStackTraces.keySet
      .asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    val before = liveNonDaemon()
    for (_ <- 1 to 3) {
      val srv = RestServer.start(spark, port = 0)
      try assert(get(s"http://localhost:${srv.port}/admin")._1 == 200)
      finally srv.stop()
    }
    // shut-down pool threads exit asynchronously: wait for them
    def leaked = liveNonDaemon() -- before
    val deadline = System.nanoTime() + 10000000000L
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, leaked.map(_.getName).mkString(", "))
  }

  test("full job-type surface: fetch, parse, index, readdb (openapi JobType)") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      val root = Files.createTempDirectory("rest-jobs").toString
      val A = "http://rest-a.example.com"
      Files.writeString(java.nio.file.Paths.get(root, "site.json"),
        s"""{"url": "$A/", "code": 1, "body": "<html><title>RA</title><body><a href=\\"/p\\">p</a></body></html>", "contentType": "text/html"}""")

      def job(q: String): String = {
        val (c, body) = post(s"$base/job/create?$q")
        assert(c == 200, body)
        val id = "\"id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
        assert(awaitJob(base, id) == "FINISHED", s"$q -> $body")
        get(s"$base/job/$id")._2
      }

      job(s"type=inject&crawldb=$root/db&seedList=$A/&now=1700000000000")
      job(s"type=generate&crawldb=$root/db&segment=$root/seg" +
        "&now=1700000001000")
      val f = job(s"type=fetch&segment=$root/seg" +
        s"&siteFile=$root/site.json&now=1700000001000")
      assert(f.contains("fetched=1"), f)
      val p = job(s"type=parse&segment=$root/seg")
      assert(p.contains("parsed=1"), p)
      job(s"type=updatedb&crawldb=$root/db&segment=$root/seg" +
        "&now=1700000002000")
      val il = job(s"type=invertlinks&linkdb=$root/ldb&segment=$root/seg")
      assert(il.contains("linkdb="), il)
      val dd = job(s"type=dedup&crawldb=$root/db")
      assert(dd.contains("dedup:"), dd)
      val hd = job(s"type=updatehostdb&crawldb=$root/db&hostdb=$root/hdb" +
        "&now=1700000002000")
      assert(hd.contains("hosts=1"), hd)
      val ix = job(s"type=index&crawldb=$root/db&linkdb=$root/ldb" +
        s"&segment=$root/seg&out=$root/sink")
      assert(ix.contains("indexed="), ix)
      val rd = job(s"type=readdb&crawldb=$root/db")
      assert(rd.contains("db_fetched"), rd)

      // parity: the CLI verbs on the same inputs and `now` values build
      // the same crawldb as the REST jobs
      val cli = Files.createTempDirectory("rest-jobs-cli").toString
      Files.writeString(Paths.get(cli, "seeds.txt"), s"$A/\n")
      Console.withOut(new java.io.PrintStream(
          new java.io.ByteArrayOutputStream())) {
        Seq(
          Seq("inject", s"$cli/db", s"$cli/seeds.txt", "-now", "1700000000000"),
          Seq("generate", s"$cli/db", s"$cli/seg", "-now", "1700000001000"),
          Seq("fetch", s"$cli/seg", "-site", s"$root/site.json",
            "-now", "1700000001000"),
          Seq("parse", s"$cli/seg"),
          Seq("updatedb", s"$cli/db", s"$cli/seg", "-now", "1700000002000"),
          Seq("invertlinks", s"$cli/ldb", s"$cli/seg"),
          Seq("dedup", s"$cli/db"),
          Seq("updatehostdb", s"$cli/db", s"$cli/hdb", "-now", "1700000002000")
        ).foreach(v => assert(graft.Main.run(spark, v.toArray) == 0, v))
      }
      def dbRows(dir: String): Seq[String] =
        graft.tables.CrawlDbStore.open(spark, dir).read().collect()
          .map(_.toString).toSeq.sorted
      assert(dbRows(s"$root/db").nonEmpty)
      assert(dbRows(s"$root/db") == dbRows(s"$cli/db"))

      // DbQuery type=topN / type=dump stream line data (the openapi
      // octet-stream half of the enum; stats/url are the JSON half)
      val (ct, top) = get(s"$base/db/crawldb?crawldb=$root/db&type=topN&n=5")
      assert(ct == 200 && top.contains("http"), top)
      val (cdu, du) = get(s"$base/db/crawldb?crawldb=$root/db&type=dump")
      assert(cdu == 200 && du.contains(A) && du.contains("db_fetched"), du)
      // the FIRST line is a data line: listParts must skip Hadoop's
      // hidden .part-*.crc checksum twins (they sort first and would
      // stream binary CRC bytes before the data)
      assert(du.substring(0, du.indexOf('\n')).contains(A), du.take(120))
      assert(get(s"$base/db/crawldb?crawldb=$root/db&type=nope")._1 == 400)

      // /db/fetchdb: FetchNodeDbInfo rows from the fetched+parsed
      // segment — url, status, outlink count, children
      val (cf, fdb) = get(s"$base/db/fetchdb?segment=$root/seg")
      assert(cf == 200 && fdb.contains(s""""url":"$A/""""), fdb)
      assert(fdb.contains(""""numOfOutlinks":1"""), fdb)
      assert(fdb.contains(s""""childUrl":"$A/p""""), fdb)
      // from/to page inclusively over the url-ordered rows
      assert(get(s"$base/db/fetchdb?segment=$root/seg&from=1")._2 == "[]")
      assert(get(s"$base/db/fetchdb?segment=$root/seg&from=0&to=0")._2
        == fdb)
      assert(get(s"$base/db/fetchdb")._1 == 400)

      // /services/commoncrawldump: POST dumps the segment, GET lists
      // the recorded paths for the crawlId
      val (cd, dump) = post(s"$base/services/commoncrawldump?crawlId=c1" +
        s"&segment=$root/seg&outDir=$root/ccdump")
      assert(cd == 200 && dump.contains("\"dumpPaths\":[") &&
        dump.contains("part-"), dump)
      assert(!dump.contains(".crc"), dump) // no checksum twins reported
      val (cg, listed) = get(s"$base/services/commoncrawldump/c1")
      assert(cg == 200 && listed == dump)
      assert(get(s"$base/services/commoncrawldump/nope")._1 == 404)
      assert(post(s"$base/services/commoncrawldump?crawlId=c2")._1 == 400)
      // the dump really is the CommonCrawl-shaped record of the fetch
      val text = spark.read.text(s"$root/ccdump").collect()
        .map(_.getString(0)).mkString
      assert(text.contains("com.example.rest-a"), text.take(200))
    } finally srv.stop()
  }

  private def awaitTerminal(base: String, id: String): String = {
    val deadline = System.currentTimeMillis() + 60000
    var state = "RUNNING"
    while (Seq("RUNNING", "STOPPING", "KILLING").contains(state) &&
        System.currentTimeMillis() < deadline) {
      val (_, body) = get(s"$base/job/$id")
      state = "\"state\":\"([A-Z]+)\"".r.findFirstMatchIn(body).get.group(1)
      if (Seq("RUNNING", "STOPPING", "KILLING").contains(state))
        Thread.sleep(100)
    }
    state
  }

  test("/job/{id}/stop cancels a long-running Spark job via its job " +
    "group — terminal state STOPPED, well before natural completion") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      val (c, body) = post(s"$base/job/create?type=class" +
        "&jobClassName=graft.service.SlowSparkJob")
      assert(c == 200, body)
      val id = "\"id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      Thread.sleep(1500) // let the Spark stage actually start
      val t0 = System.currentTimeMillis()
      val (cs, stopped) = get(s"$base/job/$id/stop")
      assert(cs == 200 && stopped == "true", stopped)
      val state = awaitTerminal(base, id)
      assert(state == "STOPPED", state)
      // the unstopped job would run ~12 s per task; the cancel cut it
      assert(System.currentTimeMillis() - t0 < 15000)
      // stopping a finished job reports false, 404 for unknown ids
      assert(get(s"$base/job/$id/stop")._2 == "false")
      assert(get(s"$base/job/99999/stop")._1 == 404)
    } finally srv.stop()
  }

  test("/db/fetchdb's default page is bounded at 1000 rows — never an " +
    "unbounded driver collect; explicit inclusive ranges still honored") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      val root = Files.createTempDirectory("rest-fetchdb").toString
      // a fetched segment of 1205 urls with no parse side (left join)
      import spark.implicits._
      val seg = new graft.tables.Segment(spark, s"$root/bigseg")
      seg.writeFetch((0 until 1205).map(i =>
        graft.schemas.CrawlRow(f"http://p.example.com/$i%04d",
          graft.schemas.CrawlDatum.unfetched(1L, 60).withStatus(33)))
        .toDS())
      seg.writeParseData(Seq.empty[graft.schemas.ParseDataRow].toDS())
      def urlCount(body: String): Int =
        "\\{\"url\":".r.findAllIn(body).length
      // default page: first 1000, not all 1205
      val (c1, dflt) = get(s"$base/db/fetchdb?segment=$root/bigseg")
      assert(c1 == 200 && urlCount(dflt) == 1000, urlCount(dflt))
      assert(dflt.contains("/0000") && !dflt.contains("/1001"), dflt.take(80))
      // to=0 (the old "everything" sentinel) is the same bounded page
      assert(urlCount(get(
        s"$base/db/fetchdb?segment=$root/bigseg&from=0&to=0")._2) == 1000)
      // explicit inclusive range honored; tail page via from alone
      assert(urlCount(get(
        s"$base/db/fetchdb?segment=$root/bigseg&from=3&to=7")._2) == 5)
      assert(urlCount(get(
        s"$base/db/fetchdb?segment=$root/bigseg&from=1200")._2) == 5)
    } finally srv.stop()
  }

  test("a stop in the driver-side gap BETWEEN two Spark jobs still " +
    "terminates the job — phase 2 never runs (future-jobs cancel)") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      val (c, body) = post(s"$base/job/create?type=class" +
        "&jobClassName=graft.service.TwoPhaseJob")
      assert(c == 200, body)
      val id = "\"id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      // wait until phase 1 completed and the runner parked in the gap
      assert(TwoPhaseJob.entered.await(30,
        java.util.concurrent.TimeUnit.SECONDS))
      // stop lands while NO Spark job is active: a plain
      // cancelJobGroup would be a no-op here and phase 2 would run
      val (cs, stopped) = get(s"$base/job/$id/stop")
      assert(cs == 200 && stopped == "true", stopped)
      TwoPhaseJob.proceed.countDown()
      assert(awaitTerminal(base, id) == "STOPPED")
      assert(!TwoPhaseJob.phase2Ran, "phase 2 ran after stop")
    } finally srv.stop()
  }

  test("/job/{id}/abort interrupts even driver-side work (KILLED); " +
    "/admin/stop refuses with live jobs unless forced") {
    val srv = RestServer.start(spark, port = 0)
    val base = s"http://localhost:${srv.port}"
    try {
      val (c, body) = post(s"$base/job/create?type=class" +
        "&jobClassName=graft.service.DriverSleepJob")
      assert(c == 200, body)
      val id = "\"id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      Thread.sleep(300)
      // a live job blocks an unforced admin stop
      assert(get(s"$base/admin/stop")._2 == "false")
      // abort: driver-side sleep has no Spark job to cancel — only
      // the thread interrupt can end it early
      val (ca, aborted) = get(s"$base/job/$id/abort")
      assert(ca == 200 && aborted == "true", aborted)
      assert(awaitTerminal(base, id) == "KILLED")
      assert(get(s"$base/job/$id/abort")._2 == "false")
      // no live jobs now: admin stop proceeds and the server dies
      assert(get(s"$base/admin/stop")._2 == "true")
      val gone = try { get(s"$base/admin"); false }
        catch { case _: Exception => true }
      assert(gone)
    } finally try srv.stop() catch { case _: Exception => () }
  }

  private def put(url: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def delete(url: String): Int =
    client.send(HttpRequest.newBuilder(URI.create(url)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()

  test("config CRUD endpoints") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      // list has the seeded default
      assert(get(s"$base/config")._2.contains("\"default\""))
      // default carries the agent name, also readable as a single prop
      val (c1, props) = get(s"$base/config/default")
      assert(c1 == 200 && props.contains("\"http.agent.name\":\"graft\""))
      assert(get(s"$base/config/default/http.agent.name") == ((200, "graft")))
      // create + read back
      val (c2, id) = post(s"$base/config/create?configId=mine&a.b=1")
      assert(c2 == 200 && id == "mine")
      assert(get(s"$base/config/mine")._2.contains("\"a.b\":\"1\""))
      // property update
      assert(put(s"$base/config/mine/a.b", "42")._1 == 200)
      assert(get(s"$base/config/mine/a.b") == ((200, "42")))
      // delete
      assert(delete(s"$base/config/mine") == 204)
      assert(get(s"$base/config/mine")._1 == 404)
      // errors
      assert(get(s"$base/config/nosuch")._1 == 404)
      assert(get(s"$base/config/default/nosuch.prop")._1 == 404)
      assert(post(s"$base/config/create")._1 == 400)
    } finally srv.stop()
  }

  test("seed list create + listing writes a real seed file") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      val (c1, path) = post(s"$base/seed/create?name=s1" +
        "&urls=http://a.example.com/,http://b.example.com/")
      assert(c1 == 200, path)
      val lines = Files.readAllLines(Paths.get(path, "seeds.txt"))
      assert(lines.size == 2 && lines.get(0) == "http://a.example.com/")
      val (c2, listing) = get(s"$base/seed")
      assert(c2 == 200 && listing.contains("\"s1\"") &&
        listing.contains("http://b.example.com/"), listing)
      assert(post(s"$base/seed/create?name=x")._1 == 400)
    } finally srv.stop()
  }

  test("reader endpoints page deterministically with offset/limit") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      val root = Files.createTempDirectory("rest-reader").toString

      // a parquet "sequence file" of 10 rows
      import spark.implicits._
      (0 until 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .write.parquet(s"$root/seq")
      assert(get(s"$base/reader/sequence/read?path=$root/seq&count=true")
        == ((200, "10")))
      val (c1, page) = get(
        s"$base/reader/sequence/read?path=$root/seq&start=2&end=5")
      assert(c1 == 200, page)
      val ks = "\"k\":(\\d+)".r.findAllMatchIn(page).map(_.group(1)).toSeq
      assert(ks == Seq("2", "3", "4"), page)

      // node read over a crawldb written through an inject job
      val (_, created) = post(s"$base/job/create?type=inject" +
        s"&crawldb=$root/crawldb&seedList=http://n1.example.com/," +
        "http://n2.example.com/&now=1700000000000")
      val id = "\"id\":(\\d+)".r.findFirstMatchIn(created).get.group(1)
      assert(awaitJob(base, id) == "FINISHED")
      assert(get(s"$base/reader/node/read?path=$root/crawldb&count=true")
        == ((200, "2")))
      val (c3, nodes) = get(
        s"$base/reader/node/read?path=$root/crawldb&nrows=1")
      assert(c3 == 200 && nodes.contains("http://n1.example.com/") &&
        !nodes.contains("http://n2.example.com/"), nodes)

      // link schema + read (empty linkdb pages to an empty array)
      assert(get(s"$base/reader/link")._2.contains("\"fromUrl\""))
      assert(get(s"$base/reader/node")._2.contains("\"status\""))
      assert(get(s"$base/reader/link/read?path=$root/linkdb")._2 == "[]")
      // errors
      assert(get(s"$base/reader/sequence/read?path=$root/nope")._1 == 500)
      assert(get(s"$base/reader/sequence/read")._1 == 400)
    } finally srv.stop()
  }

  test("/metrics reads back a crawl root's counter table") {
    val srv = RestServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${srv.port}"
      val dir = Files.createTempDirectory("rest-metrics").toString + "/m"
      val t = new graft.ops.Metrics.Table(spark, dir)
      t.append(Seq(graft.ops.Metrics.MetricRow(1, "fetcher",
        "fetched_total", 7)))
      t.append(Seq(graft.ops.Metrics.MetricRow(2, "fetcher",
        "fetched_total", 5)))

      assert(get(s"$base/metrics")._1 == 400)
      val (c1, summed) = get(s"$base/metrics?dir=$dir")
      assert(c1 == 200 && summed.contains(
        """{"job":"fetcher","name":"fetched_total","value":12}"""), summed)
      val (c2, r1) = get(s"$base/metrics?dir=$dir&round=1")
      assert(c2 == 200 && r1.contains("\"value\":7") &&
        !r1.contains("\"value\":5"), r1)
    } finally srv.stop()
  }
}
