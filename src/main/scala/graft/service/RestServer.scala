package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.ops._
import graft.tables.Segment

/** §3.3 — the REST service surface (reference openapi.yaml:70-801:
  * /admin, /config CRUD, /job create/list/get, /db/crawldb, /seed
  * list/create, /reader paged sequence/link/node reads) over the
  * library ops, on the JDK's built-in HTTP server — zero extra
  * dependencies.
  *
  * A job type is a CLI verb: INJECT, GENERATE, FETCH, PARSE, UPDATEDB,
  * INVERTLINKS, DEDUP, UPDATEHOSTDB, INDEX and READDB each run the
  * `graft.Main` verb of that name (READDB as `readdb -stats`) with the
  * CLI's defaults, and the job's message is what the verb prints; CLASS
  * runs a [[JobRunner]]. Jobs run async on a small pool with
  * RUNNING/FINISHED/FAILED states, like the reference's JobManager;
  * arguments arrive as query parameters (the reference takes JSON
  * bodies — same information, no JSON parser needed). One process ==
  * one SparkSession, so job concurrency is Spark's scheduler concern,
  * not ours. */
object RestServer {

  final case class Job(id: Long, jobType: String, args: Map[String, String]) {
    @volatile var state: String = "RUNNING"
    @volatile var message: String = ""

    /** Atomic state transition — stop/abort racing the runner's own
      * completion write must never strand a job in a non-terminal
      * state (a stop arriving AFTER the runner wrote FINISHED used to
      * overwrite it with STOPPING, which nothing would ever clear). */
    def transition(from: Set[String], to: String): Boolean =
      synchronized { if (from(state)) { state = to; true } else false }
  }

  /** CLASS-job seam (openapi.yaml JobType CLASS + jobClassName — the
    * reference runs any NutchTool by class name): implementations need
    * a no-arg constructor; `run` returns the job message. Long-running
    * implementations should structure work as Spark jobs:
    * /job/{id}/stop cancels the job group INCLUDING future submissions
    * (cancelJobGroupAndFutureJobs), so a stop landing between two
    * phases still fails the next phase at submit. */
  trait JobRunner {
    def run(spark: SparkSession, args: Map[String, String]): String
  }

  final class Server private[service] (spark: SparkSession, http: HttpServer) {
    private val jobs = new ConcurrentHashMap[Long, Job]()
    private val nextId = new AtomicLong(1)
    private val pool = Executors.newFixedThreadPool(2)
    // the HttpServer's request threads: owned here so stop() ends them
    private val requests = Executors.newFixedThreadPool(4)
    http.setExecutor(requests)
    // runner thread per live job: abort interrupts it on top of the
    // job-group cancel (stop is the graceful half — cancel only)
    private val jobThreads = new ConcurrentHashMap[Long, Thread]()
    // /services/commoncrawldump results per crawlId (ServiceInfo)
    private val dumpPaths =
      new ConcurrentHashMap[String, Seq[String]]()

    // per-INSTANCE token in the Spark job-group name: stop/abort use
    // cancelJobGroupAndFutureJobs, which marks the group name cancelled
    // in the SparkContext for its lifetime — a later server on the
    // same context (ids restart at 1) must not inherit a poisoned name
    private val groupToken =
      java.lang.Long.toHexString(System.nanoTime())
    private def groupId(id: Long): String = s"rest-job-$groupToken-$id"

    /** Sorted part files of a job output dir — the directory stream is
      * CLOSED (Files.list leaks an fd per call otherwise; a
      * long-running server serving dumps would exhaust its limit).
      * Matched on the file NAME starting with "part-": a substring
      * match would also catch Hadoop's hidden checksum twins
      * (.part-*.crc), which sort first — a dump response would then
      * stream binary CRC bytes before the first data line. */
    private def listParts(dir: String): Seq[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(_.toString).sorted.toSeq
      finally s.close()
    }

    // /config store (openapi.yaml:129-288): id → mutable property map,
    // pre-seeded with "default" like the reference's ConfManager
    private val configs =
      new ConcurrentHashMap[String, ConcurrentHashMap[String, String]]()
    locally {
      val dflt = new ConcurrentHashMap[String, String]()
      dflt.put("http.agent.name", "graft")
      dflt.put("http.robots.agents", "graft,*")
      configs.put("default", dflt)
    }
    // /seed store (openapi.yaml:535-589): name → (dir path, urls)
    private val seedLists =
      new ConcurrentHashMap[String, (String, Seq[String])]()

    def port: Int = http.getAddress.getPort
    def stop(): Unit = {
      http.stop(0); requests.shutdownNow(); pool.shutdownNow()
    }

    private def q(ex: HttpExchange): Map[String, String] = {
      val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      raw.split('&').filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    }

    private def reply(ex: HttpExchange, code: Int, json: String): Unit = {
      val b = json.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }

    private def replyText(ex: HttpExchange, code: Int, text: String): Unit = {
      val b = text.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/plain")
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }

    private def replyEmpty(ex: HttpExchange, code: Int): Unit = {
      ex.sendResponseHeaders(code, -1)
      ex.close()
    }

    private def body(ex: HttpExchange): String =
      new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

    private def jobJson(j: Job): String =
      s"""{"id":${j.id},"type":${graft.Json.str(j.jobType)},"state":${graft.Json.str(j.state)},""" +
        s""""msg":${graft.Json.str(j.message)}}"""

    /** Write a comma-separated seed list as `seeds.txt` in a fresh temp
      * dir, one url per line, blanks dropped: the dir and the urls. */
    private def writeSeeds(name: String,
        csv: String): (java.nio.file.Path, Seq[String]) = {
      val urls = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val dir = java.nio.file.Files.createTempDirectory(s"graft-seed-$name-")
      java.nio.file.Files.writeString(dir.resolve("seeds.txt"),
        urls.mkString("", "\n", "\n"))
      (dir, urls)
    }

    private def runJob(j: Job): Unit = j.jobType match {
      case "CLASS" =>
        // openapi JobType CLASS + jobClassName: run any JobRunner by
        // fully qualified class name (the reference's run-a-NutchTool
        // escape hatch). The type check comes BEFORE instantiation —
        // newInstance on an arbitrary classpath name would run its
        // static init and constructor as a network-reachable gadget.
        val cls = Class.forName(j.args("jobClassName"), false,
          getClass.getClassLoader)
        require(classOf[JobRunner].isAssignableFrom(cls),
          s"${j.args("jobClassName")} is not a JobRunner")
        j.message = cls.getDeclaredConstructor().newInstance()
          .asInstanceOf[JobRunner].run(spark, j.args)
      case _ => j.message = runVerb(j)
    }

    /** Every other job type names a `graft.Main` verb: the job runs
      * `Main.run` on the verb's argv, and its message is what the verb
      * prints. A non-zero exit fails the job. */
    private def runVerb(j: Job): String = {
      val a = j.args
      val now = a.get("now").toSeq.flatMap(Seq("-now", _))
      // a seedList is injected through a seed file, removed afterwards
      val seedDir = if (j.jobType == "INJECT" && !a.contains("seedFile"))
        Some(writeSeeds(s"job${j.id}", a("seedList"))._1) else None
      try {
        val argv: Seq[String] = j.jobType match {
          case "INJECT" => Seq("inject", a("crawldb"), a.getOrElse("seedFile",
            seedDir.get.resolve("seeds.txt").toString)) ++ now
          case "GENERATE" => Seq("generate", a("crawldb"), a("segment")) ++
            a.get("topN").toSeq.flatMap(Seq("-topN", _)) ++ now
          case "FETCH" =>
            Seq("fetch", a("segment"), "-site", a("siteFile")) ++ now
          case "PARSE" => Seq("parse", a("segment"))
          case "UPDATEDB" =>
            Seq("updatedb", a("crawldb"), a("segment")) ++ now
          case "INVERTLINKS" => Seq("invertlinks", a("linkdb"), a("segment"))
          case "DEDUP" => Seq("dedup", a("crawldb"))
          case "UPDATEHOSTDB" =>
            Seq("updatehostdb", a("crawldb"), a("hostdb")) ++ now
          case "INDEX" =>
            Seq("index", a("crawldb"), a("linkdb"), a("segment"), a("out"))
          case "READDB" => Seq("readdb", a("crawldb"), "-stats")
          case other => throw new IllegalArgumentException(s"job type $other")
        }
        val out = new java.io.ByteArrayOutputStream()
        val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
          graft.Main.run(spark, argv.toArray)
        }
        val text = out.toString(StandardCharsets.UTF_8).trim
        if (rc != 0)
          throw new IllegalStateException(s"${argv.head} exited $rc: $text")
        text
      } finally seedDir.foreach { d =>
        java.nio.file.Files.deleteIfExists(d.resolve("seeds.txt"))
        java.nio.file.Files.delete(d)
      }
    }

    private[service] def install(): Unit = {
      http.createContext("/admin", (ex: HttpExchange) => {
        val sub = ex.getRequestURI.getPath.stripPrefix("/admin")
          .split("/").filter(_.nonEmpty).toList
        sub match {
          case Nil => reply(ex, 200,
            s"""{"product":"graft","startDate":0,"configuration":["default"]}""")
          case List("stop") =>
            // openapi.yaml:91 — graceful shutdown; with live jobs and
            // no force=true the server refuses (boolean body either way)
            val live = {
              import scala.jdk.CollectionConverters._
              jobs.values.asScala.filter(j =>
                j.state == "RUNNING" || j.state == "STOPPING" ||
                  j.state == "KILLING")
            }
            val force = q(ex).get("force").contains("true")
            if (live.nonEmpty && !force) reply(ex, 200, "false")
            else {
              live.foreach { j =>
                if (j.transition(Set("RUNNING", "STOPPING"), "KILLING")) {
                  spark.sparkContext.cancelJobGroupAndFutureJobs(groupId(j.id))
                  j.synchronized {
                    Option(jobThreads.get(j.id)).foreach(_.interrupt())
                  }
                }
              }
              reply(ex, 200, "true")
              // stop from a fresh thread: HttpServer.stop waits for
              // in-flight handlers, so stopping from THIS handler
              // thread would wait on itself
              new Thread(() => stop(), "rest-admin-stop").start()
            }
          case _ => reply(ex, 404, """{"error":"bad admin request"}""")
        }
      })
      http.createContext("/job/create", (ex: HttpExchange) => {
        val params = q(ex)
        params.get("type") match {
          case None => reply(ex, 400, """{"error":"type required"}""")
          case Some(t) =>
            val j = Job(nextId.getAndIncrement(), t.toUpperCase, params)
            jobs.put(j.id, j)
            pool.submit(new Runnable {
              def run(): Unit = {
                // a stop/abort that arrived while this job was still
                // QUEUED must win: its cancelJobGroup fired before any
                // job group existed, so without this check the job
                // would run its entire workload before terminating
                if (j.transition(Set("STOPPING"), "STOPPED") ||
                    j.transition(Set("KILLING"), "KILLED")) return
                jobThreads.put(j.id, Thread.currentThread())
                // every Spark job this REST job launches lands in one
                // job group, so /job/{id}/stop|abort can cancel them
                // all with one cancelJobGroup (the SURVEY §3.3 mapping
                // of the reference's job .stopJob/.killJob)
                spark.sparkContext.setJobGroup(groupId(j.id),
                  s"REST ${j.jobType} #${j.id}", interruptOnCancel = true)
                try {
                  runJob(j)
                  // a stop/abort that raced a successful completion
                  // still terminates: whatever state the control
                  // routes set, the job ends in ITS terminal form
                  if (!j.transition(Set("RUNNING"), "FINISHED")) {
                    j.transition(Set("STOPPING"), "STOPPED")
                    j.transition(Set("KILLING"), "KILLED")
                  }
                } catch { case e: Throwable =>
                  // a cancel arriving through stop/abort is the
                  // REQUESTED outcome, not a failure
                  if (!j.transition(Set("STOPPING"), "STOPPED") &&
                      !j.transition(Set("KILLING"), "KILLED") &&
                      j.transition(Set("RUNNING"), "FAILED"))
                    j.message = String.valueOf(e.getMessage)
                } finally {
                  spark.sparkContext.clearJobGroup()
                  // under the job's monitor, pairing with abort's
                  // interrupt: either abort sees the mapping and its
                  // interrupt lands while this thread still owns THIS
                  // job (cleared below before the thread can dequeue
                  // another), or the mapping is gone and abort skips —
                  // a stale interrupt can never hit the next job
                  j.synchronized {
                    jobThreads.remove(j.id)
                    Thread.interrupted() // clear a late abort interrupt
                  }
                }
              }
            })
            reply(ex, 200, jobJson(j))
        }
      })
      http.createContext("/job", (ex: HttpExchange) => {
        // /job (list), /job/{id}, /job/{id}/stop, /job/{id}/abort
        val segs = ex.getRequestURI.getPath.stripPrefix("/job")
          .split("/").filter(_.nonEmpty).toList
        def withJob(idStr: String)(f: Job => Unit): Unit =
          idStr.toLongOption.flatMap(id => Option(jobs.get(id))) match {
            case Some(j) => f(j)
            case None => reply(ex, 404, """{"error":"no such job"}""")
          }
        segs match {
          case Nil =>
            reply(ex, 200, jobs.values.toArray.map {
              case j: Job => jobJson(j)
            }.mkString("[", ",", "]"))
          case List(id) => withJob(id)(j => reply(ex, 200, jobJson(j)))
          case List(id, "stop") => withJob(id) { j =>
            // graceful: cancel the job group — running Spark jobs end
            // at their next task boundary, the runner thread sees the
            // cancellation and records STOPPED (openapi.yaml:349
            // returns a bare boolean: was a stop initiated). The
            // transition is atomic vs the runner's completion write.
            val live = j.transition(Set("RUNNING"), "STOPPING")
            if (live) spark.sparkContext.cancelJobGroupAndFutureJobs(groupId(j.id))
            reply(ex, 200, String.valueOf(live))
          }
          case List(id, "abort") => withJob(id) { j =>
            // forceful: cancel AND interrupt the runner thread, so
            // driver-side work between Spark jobs dies too
            // (openapi.yaml:379 — "kills the job immediately")
            val live = j.transition(Set("RUNNING", "STOPPING"), "KILLING")
            if (live) {
              spark.sparkContext.cancelJobGroupAndFutureJobs(groupId(j.id))
              j.synchronized {
                Option(jobThreads.get(j.id)).foreach(_.interrupt())
              }
            }
            reply(ex, 200, String.valueOf(live))
          }
          case _ => reply(ex, 404, """{"error":"bad job request"}""")
        }
      })
      // ---- /config CRUD (openapi.yaml:129-288) -------------------- //
      http.createContext("/config", (ex: HttpExchange) => {
        val segs = ex.getRequestURI.getPath.stripPrefix("/config")
          .split("/").filter(_.nonEmpty).toList
        (ex.getRequestMethod, segs) match {
          case ("GET", Nil) =>
            reply(ex, 200, configs.keySet().toArray.map {
              case k: String => graft.Json.str(k)
            }.sorted.mkString("[", ",", "]"))
          case ("POST", List("create")) =>
            val p = q(ex)
            p.get("configId") match {
              case None => reply(ex, 400, """{"error":"configId required"}""")
              case Some(id) =>
                val m = new ConcurrentHashMap[String, String]()
                (p - "configId").foreach { case (k, v) => m.put(k, v) }
                configs.put(id, m)
                replyText(ex, 200, id)
            }
          case ("GET", List(id)) => Option(configs.get(id)) match {
            case Some(m) =>
              reply(ex, 200, m.entrySet().toArray.map {
                case e: java.util.Map.Entry[_, _] =>
                  s"${graft.Json.str(e.getKey.toString)}:${graft.Json.str(e.getValue.toString)}"
              }.sorted.mkString("{", ",", "}"))
            case None => reply(ex, 404, """{"error":"no such config"}""")
          }
          case ("DELETE", List(id)) =>
            if (configs.remove(id) != null) replyEmpty(ex, 204)
            else reply(ex, 404, """{"error":"no such config"}""")
          case ("GET", List(id, prop)) =>
            Option(configs.get(id)).flatMap(m => Option(m.get(prop))) match {
              case Some(v) => replyText(ex, 200, v)
              case None => reply(ex, 404, """{"error":"no such property"}""")
            }
          case ("PUT", List(id, prop)) => Option(configs.get(id)) match {
            case Some(m) => m.put(prop, body(ex)); replyText(ex, 200, "")
            case None => reply(ex, 404, """{"error":"no such config"}""")
          }
          case _ => reply(ex, 404, """{"error":"bad config request"}""")
        }
      })

      // ---- /seed (openapi.yaml:535-589) --------------------------- //
      http.createContext("/seed", (ex: HttpExchange) => {
        val segs = ex.getRequestURI.getPath.stripPrefix("/seed")
          .split("/").filter(_.nonEmpty).toList
        (ex.getRequestMethod, segs) match {
          case ("POST", List("create")) =>
            val p = q(ex)
            (p.get("name"), p.get("urls")) match {
              case (Some(name), _) if !name.matches("[A-Za-z0-9._-]{1,64}") =>
                // a path separator in the name must be a 400, not an
                // unanswered exchange from createTempDirectory throwing
                reply(ex, 400, """{"error":"invalid seed list name"}""")
              case (Some(name), Some(urls)) =>
                try {
                  val (dir, list) = writeSeeds(name, urls)
                  seedLists.put(name, (dir.toString, list))
                  replyText(ex, 200, dir.toString)
                } catch {
                  case e: Exception => reply(ex, 500,
                    s"""{"error":${graft.Json.str(String.valueOf(e.getMessage))}}""")
                }
              case _ =>
                reply(ex, 400, """{"error":"name and urls required"}""")
            }
          case ("GET", Nil) =>
            reply(ex, 200, seedLists.entrySet().toArray.map {
              case e: java.util.Map.Entry[_, _] =>
                val (path, urls) = e.getValue.asInstanceOf[(String, Seq[String])]
                s"${graft.Json.str(e.getKey.toString)}:{" +
                  s""""name":${graft.Json.str(e.getKey.toString)},""" +
                  s""""seedFilePath":${graft.Json.str(path)},""" +
                  s""""urls":${urls.map(graft.Json.str).mkString("[", ",", "]")}}"""
            }.sorted.mkString("{", ",", "}"))
          case _ => reply(ex, 404, """{"error":"bad seed request"}""")
        }
      })

      // ---- /reader paged table reads (openapi.yaml:590-773) ------- //
      // nrows/start/end page through a DETERMINISTIC ordering with
      // plan-side offset+limit — the driver only ever holds one page
      // (capped at 1000 rows); count=true returns text/plain like the
      // reference.
      def readerPage(ex: HttpExchange,
          df: org.apache.spark.sql.DataFrame): Unit = {
        val p = q(ex)
        if (p.get("count").contains("true")) replyText(ex, 200, df.count().toString)
        else {
          val start = p.get("start").map(_.toInt).getOrElse(0)
          val lim = math.max(0, Seq(
            p.get("end").map(_.toInt - start),
            p.get("nrows").map(_.toInt), Some(1000)).flatten.min)
          val rows = df.offset(start).limit(lim).toJSON.collect()
          reply(ex, 200, rows.mkString("[", ",", "]"))
        }
      }
      def withPath(ex: HttpExchange)(f: String => Unit): Unit =
        q(ex).get("path") match {
          case Some(path) => try f(path) catch {
            case e: Exception =>
              reply(ex, 500, s"""{"error":${graft.Json.str(
                String.valueOf(e.getMessage))}}""")
          }
          case None => reply(ex, 400, """{"error":"path required"}""")
        }
      import org.apache.spark.sql.functions.{col, explode}
      http.createContext("/reader/sequence/read", (ex: HttpExchange) =>
        withPath(ex) { path =>
          val df = spark.read.parquet(path)
          readerPage(ex, df.orderBy(df.columns.map(col).toSeq: _*))
        })
      http.createContext("/reader/link", (ex: HttpExchange) =>
        reply(ex, 200,
          """{"url":"string","fromUrl":"string","anchor":"string"}"""))
      http.createContext("/reader/link/read", (ex: HttpExchange) =>
        withPath(ex) { path =>
          readerPage(ex, graft.tables.LinkDbStore.open(spark, path).read().toDF()
            .select(col("url"), explode(col("inlinks")).as("il"))
            .select(col("url"), col("il.fromUrl").as("fromUrl"),
              col("il.anchor").as("anchor"))
            .orderBy("url", "fromUrl"))
        })
      http.createContext("/reader/node", (ex: HttpExchange) =>
        reply(ex, 200,
          """{"url":"string","status":"string","score":"number","fetchTime":"number"}"""))
      http.createContext("/reader/node/read", (ex: HttpExchange) =>
        withPath(ex) { path =>
          readerPage(ex, graft.tables.CrawlDbStore.open(spark, path).read().toDF()
            .select(col("url"),
              col("datum.status").cast("int").as("status"),
              col("datum.score").as("score"),
              col("datum.fetchTime").as("fetchTime"))
            .orderBy("url"))
        })

      // per-job counters from a crawl root's metrics table (the
      // NutchMetrics observability surface): summed across rounds, or
      // one round's raw rows with ?round=N
      http.createContext("/metrics", (ex: HttpExchange) => {
        val params = q(ex)
        params.get("dir") match {
          case None => reply(ex, 400, """{"error":"dir required"}""")
          case Some(dir) =>
            try {
              val t = new graft.ops.Metrics.Table(spark, dir)
              val rows = params.get("round") match {
                case Some(r) => t.read()
                  .where(col("round") === r.toInt)
                  .orderBy("job", "name")
                  .select(col("job"), col("name"), col("value"))
                case None => t.summary()
              }
              val body = rows.collect().map(r =>
                s"""{"job":${graft.Json.str(r.getString(0))},"name":${
                  graft.Json.str(r.getString(1))},"value":${r.getLong(2)}}""")
              reply(ex, 200, body.mkString("[", ",", "]"))
            } catch {
              case _: NumberFormatException =>
                reply(ex, 400, """{"error":"round must be an integer"}""")
              case e: Exception =>
                reply(ex, 500, s"""{"error":${graft.Json.str(
                  String.valueOf(e.getMessage))}}""")
            }
        }
      })

      // /db/fetchdb (openapi.yaml:487): FetchNodeDbInfo rows — url,
      // HTTP-ish status, outlink count, children — served from a
      // fetched+parsed segment (the reference reads its in-memory
      // FetchNodeDb populated by the running fetcher; the segment is
      // that information durably). from/to are INCLUSIVE indexes over
      // the url-ordered rows; an omitted/non-positive `to` serves the
      // first 1000 rows from `from` — NOT everything: the handler
      // collects the page to the driver, so an unbounded default on a
      // real segment would be a driver OOM route. Explicit ranges are
      // honored as given (they are bounded by construction).
      http.createContext("/db/fetchdb", (ex: HttpExchange) => {
        val params = q(ex)
        params.get("segment") match {
          case None => reply(ex, 400, """{"error":"segment required"}""")
          case Some(dir) =>
            try {
              val seg = new Segment(spark, dir)
              val fetch = seg.fetch.toDF()
                .select(col("url"),
                  col("datum.status").cast("int").as("status"))
              val parsed = seg.parseData.toDF()
                .select(col("url"), col("outlinks"))
              val from = params.get("from").map(_.toInt).getOrElse(0)
              val to = params.get("to").map(_.toInt)
                .filter(_ > 0).getOrElse(from + 999)
              val page = fetch.join(parsed, Seq("url"), "left")
                .orderBy("url").offset(from)
              val limited = page.limit(math.max(0, to - from + 1))
              val rows = limited.collect().map { r =>
                val links: scala.collection.Seq[org.apache.spark.sql.Row] =
                  if (r.isNullAt(r.fieldIndex("outlinks"))) Seq.empty
                  else r.getSeq[org.apache.spark.sql.Row](
                    r.fieldIndex("outlinks"))
                s"""{"url":${graft.Json.str(r.getAs[String]("url"))},""" +
                  s""""status":${r.getAs[Int]("status")},""" +
                  s""""numOfOutlinks":${links.size},""" +
                  s""""children":${links.map(l =>
                    s"""{"childUrl":${graft.Json.str(l.getString(0))},""" +
                      s""""anchorText":${graft.Json.str(l.getString(1))}}""")
                    .mkString("[", ",", "]")}}"""
              }
              reply(ex, 200, rows.mkString("[", ",", "]"))
            } catch {
              case e: Exception => reply(ex, 500,
                s"""{"error":${graft.Json.str(String.valueOf(e.getMessage))}}""")
            }
        }
      })

      // /services/commoncrawldump (openapi.yaml:774-801): POST runs a
      // CommonCrawl dump of a segment and records its output paths per
      // crawlId; GET /{crawlId} lists them (ServiceInfo.dumpPaths)
      http.createContext("/services/commoncrawldump", (ex: HttpExchange) => {
        val segs = ex.getRequestURI.getPath
          .stripPrefix("/services/commoncrawldump")
          .split("/").filter(_.nonEmpty).toList
        def serviceInfo(paths: Seq[String]): String =
          s"""{"dumpPaths":${paths.map(graft.Json.str)
            .mkString("[", ",", "]")}}"""
        (ex.getRequestMethod, segs) match {
          case ("POST", Nil) =>
            val params = q(ex)
            (params.get("crawlId"), params.get("segment")) match {
              case (Some(crawlId), Some(dir)) =>
                try {
                  val out = params.getOrElse("outDir",
                    java.nio.file.Files.createTempDirectory(
                      s"graft-ccdump-").toString + "/dump")
                  val seg = new Segment(spark, dir)
                  CommonCrawlDumper.write(seg.fetch, seg.content, out)
                  val parts = listParts(out)
                  dumpPaths.put(crawlId, parts)
                  reply(ex, 200, serviceInfo(parts))
                } catch {
                  case e: Exception => reply(ex, 500,
                    s"""{"error":${graft.Json.str(
                      String.valueOf(e.getMessage))}}""")
                }
              case _ =>
                reply(ex, 400, """{"error":"crawlId and segment required"}""")
            }
          case ("GET", List(crawlId)) => Option(dumpPaths.get(crawlId)) match {
            case Some(paths) => reply(ex, 200, serviceInfo(paths))
            case None => reply(ex, 404, """{"error":"no such crawlId"}""")
          }
          case _ => reply(ex, 404, """{"error":"bad service request"}""")
        }
      })

      http.createContext("/db/crawldb", (ex: HttpExchange) => {
        val params = q(ex)
        params.get("crawldb") match {
          case None => reply(ex, 400, """{"error":"crawldb required"}""")
          case Some(dir) =>
            val db = graft.tables.CrawlDbStore.open(spark, dir).read()
            // DbQuery.type (openapi.yaml:440-486): stats | dump | topN
            // | url. stats/url return JSON; dump/topN stream lines
            // (the reference's octet-stream: it runs the dump job then
            // streams the result file — same here, the dump job writes
            // distributed and only the response streams bytes).
            (params.get("type"), params.get("url")) match {
              case (Some("dump"), _) =>
                // the dump job runs (and may fail) BEFORE any headers
                // go out; once the 200 is sent, a mid-stream failure
                // can only terminate the exchange — replying 500 after
                // sendResponseHeaders would be a second header write
                var headersSent = false
                try {
                  val out = java.nio.file.Files
                    .createTempDirectory("graft-rest-dump-")
                    .resolve("dump").toString
                  CrawlDbReader.dumpCsv(db, out)
                  val parts = listParts(out)
                  ex.getResponseHeaders.set("Content-Type",
                    "application/octet-stream")
                  ex.sendResponseHeaders(200, 0) // chunked
                  headersSent = true
                  val os = ex.getResponseBody
                  parts.foreach { p =>
                    java.nio.file.Files.copy(
                      java.nio.file.Paths.get(p), os)
                  }
                  os.close(); ex.close()
                } catch {
                  case e: Exception =>
                    if (!headersSent) reply(ex, 500,
                      s"""{"error":${graft.Json.str(
                        String.valueOf(e.getMessage))}}""")
                    else ex.close()
                }
              case (Some("topN"), _) =>
                val n = params.get("n").map(_.toInt).getOrElse(10)
                val lines = CrawlDbReader.topN(db, n).collect()
                  .map(_.mkString("\t"))
                ex.getResponseHeaders.set("Content-Type",
                  "application/octet-stream")
                val b = lines.mkString("", "\n", "\n")
                  .getBytes(StandardCharsets.UTF_8)
                ex.sendResponseHeaders(200, b.length)
                ex.getResponseBody.write(b)
                ex.close()
              case (t, Some(u)) if t.forall(_ == "url") =>
                CrawlDbReader.url(db, u) match {
                  case Some(r) => reply(ex, 200,
                    s"""{"url":${graft.Json.str(r.url)},"status":${graft.Json.str(
                      r.datum.statusName)},"score":${r.datum.score},""" +
                      s""""fetchTime":${r.datum.fetchTime}}""")
                  case None => reply(ex, 404, """{"error":"not found"}""")
                }
              case (t, None) if t.forall(_ == "stats") =>
                val rows = CrawlDbReader.stats(db).orderBy("status")
                  .collect().map(r =>
                    s"""{"status":${graft.Json.str(r.getString(0))},"cnt":${
                      r.getLong(1)}}""")
                reply(ex, 200, rows.mkString("[", ",", "]"))
              case _ =>
                reply(ex, 400, """{"error":"bad db query type"}""")
            }
        }
      })
    }
  }

  /** Start on `port` (0 = ephemeral). */
  def start(spark: SparkSession, port: Int = 8081): Server = {
    val http = HttpServer.create(new InetSocketAddress(port), 0)
    val s = new Server(spark, http)
    s.install()
    http.start()
    s
  }
}
