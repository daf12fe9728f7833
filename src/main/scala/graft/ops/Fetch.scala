package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Urls
import graft.net.{Pacer, Robots}
import graft.schemas._

/** §2.4 — the Fetch operator (Fetcher.java:68-103 model).
  *
  * The reference's fetcher is a per-task thread pool pulling from
  * per-host queues (politeness). The Spark translation: repartition the
  * fetchlist BY HOST, then one mapPartitions pass runs a politeness
  * Pacer over the partition's host queues — all URLs of a host land in
  * one partition, the pacer serializes each host (crawl-delay aware)
  * while interleaving ACROSS the partition's hosts
  * (FetchItemQueues.java:81-86), and a time-limit/throughput watchdog
  * drains leftovers as FETCH_RETRY (Fetcher.java:277-281,338-360)
  * instead of hanging the stage on a slow host.
  *
  * The wire protocol is the pluggable seam (§2.9 extension point
  * `Protocol`): `MockProtocol` serves a broadcastable in-memory site
  * for tests, and [[graft.net.HttpProtocol]] is the real-socket
  * adapter (JDK HttpClient, content-limit truncation, status mapping
  * — FetchHttpSpec drives it against localhost fixtures). */
object Fetch {

  /** Protocol status codes (ProtocolStatus.java majors). */
  object Code {
    val Success = 1
    val Gone = 2 // 404/410
    val Retry = 3 // transient failure
    val MovedPerm = 4
    val MovedTemp = 5
    val NotModified = 6

    /** ProtocolStatus.java:103-120 codeToName — the string the END
      * publish event carries (FetcherThread.java:438 status.getName). */
    def name(code: Int): String = code match {
      case Success => "success"
      case Gone => "gone"
      case Retry => "retry"
      case MovedPerm => "moved"
      case MovedTemp => "temp_moved"
      case NotModified => "notmodified"
      case _ => "exception"
    }
  }

  final case class ProtocolOutput(code: Int, bytes: Array[Byte],
      contentType: String, movedTo: Option[String],
      // ErrorTracker taxonomy (Metrics.Errors.categorize) when the
      // protocol call failed on an exception rather than a status code
      errorCategory: Option[String] = None)

  /** §2.9 extension point: scheme/impl-specific page retrieval. */
  trait Protocol extends Serializable {
    def fetch(url: String, datum: CrawlDatum): ProtocolOutput
  }

  /** In-memory site: url → (code, body, contentType[, redirect]).
    * Unknown URLs are Gone. */
  final case class MockProtocol(
      site: Map[String, (Int, String, String)],
      redirects: Map[String, String] = Map.empty) extends Protocol {
    def fetch(url: String, datum: CrawlDatum): ProtocolOutput =
      site.get(url) match {
        case Some((code, body, ct)) =>
          ProtocolOutput(code, body.getBytes("UTF-8"), ct, redirects.get(url))
        case None => ProtocolOutput(Code.Gone, Array.empty, "", None)
      }
  }

  /** Map a protocol status onto the fetch-status byte the updatedb state
    * machine consumes (Fetcher output semantics,
    * FetcherThread.java status switch). */
  def toFetchStatus(code: Int): Byte = code match {
    case Code.Success => CrawlStatus.FETCH_SUCCESS
    case Code.Gone => CrawlStatus.FETCH_GONE
    case Code.Retry => CrawlStatus.FETCH_RETRY
    case Code.MovedPerm => CrawlStatus.FETCH_REDIR_PERM
    case Code.MovedTemp => CrawlStatus.FETCH_REDIR_TEMP
    case Code.NotModified => CrawlStatus.FETCH_NOTMODIFIED
    case _ => CrawlStatus.FETCH_RETRY
  }

  val RobotsDeniedKey = "_robots_denied_"

  /** Per-URL protocol elapsed ms (HttpBase.java:61 RESPONSE_TIME
    * `_rs_`, stored when http.store.responsetime). OFF by default here
    * — wall-clock metadata would break the byte-identical A/B
    * guarantees the specs hold (toSegment ≡ cached path, bucketed ≡
    * plain conductor); a deployment turns it on for the
    * fetch_latency_* metrics ([[Metrics]]). */
  val ResponseTimeKey = "_rs_"

  /** The fetch outputs plus a handle to release the shared one-pass
    * cache. `fetch`/`content` derive from ONE cached protocol pass;
    * call `release()` after both are consumed or the blocks live until
    * the session dies (a leak across rounds of a long crawl). */
  final case class Result(fetch: Dataset[CrawlRow],
      content: Dataset[ContentRow], release: () => Unit)

  /** Fetch a generated segment: (crawl_fetch, content).
    *
    * Robots handling (FetcherThread's crawler-commons check): each
    * partition fetches a host's /robots.txt once (hosts are co-located
    * by the repartition), caches the parsed rules, and denied URLs
    * become FETCH_GONE with a marker — they never hit the protocol.
    *
    * Pacing: allowed URLs run through [[graft.net.Pacer]] — per-host
    * crawl-delay (`_variableFetchDelay_` metadata > robots crawl-delay
    * > cfg.serverDelayMs), round-robin across the partition's hosts,
    * time-limit/throughput drain as FETCH_RETRY, hosts whose robots
    * crawl-delay exceeds fetcher.max.crawl.delay dropped as denied.
    * `clockFactory` injects the clock (tests: VirtualClock, no sleeps).
    *
    * The partition's fetchlist is materialized for queueing — its size
    * is bounded by the Generator's topN/per-host caps, and it carries
    * only url+datum (content never passes through the pacer). */
  def apply(fetchlist: Dataset[GenerateEntry], protocol: Protocol,
      now: Long, agent: String = "graft",
      honorRobots: Boolean = true,
      pacer: Pacer.Config = Pacer.Config(),
      clockFactory: () => Pacer.Clock = () => Pacer.SystemClock,
      publisher: Option[graft.plugins.Publishers.Factory] = None,
      storeResponseTime: Boolean = false): Result = {
    val spark: SparkSession = fetchlist.sparkSession
    import spark.implicits._
    val fetched = protocolPass(fetchlist, protocol, now, agent,
      honorRobots, pacer, clockFactory, publisher, storeResponseTime)
      .cache() // one pass feeds both
    Result(
      fetched.flatMap(_._1),
      fetched.filter(_._1.head.datum.status == CrawlStatus.FETCH_SUCCESS)
        .map(_._2),
      () => { fetched.unpersist(); () })
  }

  /** The 100 TB shape (stream-to-parquet): run the protocol pass ONCE,
    * write it straight to a staged parquet under the segment, then
    * DERIVE crawl_fetch and content from the written file — no executor
    * block-cache holding payloads until a release() call. The fetch-row
    * derivation reads only the `rows` column (parquet column pruning:
    * payload bytes are never deserialized for it); the content
    * derivation rewrites success payloads only, the same bytes
    * writeContent moves on the cached path. The staging file is deleted
    * after both tables land. */
  def toSegment(fetchlist: Dataset[GenerateEntry], protocol: Protocol,
      now: Long, seg: graft.tables.Segment, agent: String = "graft",
      honorRobots: Boolean = true,
      pacer: Pacer.Config = Pacer.Config(),
      clockFactory: () => Pacer.Clock = () => Pacer.SystemClock,
      publisher: Option[graft.plugins.Publishers.Factory] = None,
      storeResponseTime: Boolean = false): Unit = {
    val spark: SparkSession = fetchlist.sparkSession
    import spark.implicits._
    val stagingDir = s"${seg.dir}/fetch_staged"
    val staged = protocolPass(fetchlist, protocol, now, agent, honorRobots,
      pacer, clockFactory, publisher, storeResponseTime)
      .toDF("rows", "content")
    staged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stagingDir)
    try {
      // read back with the schema it was written with: no inference job
      val st = spark.read.schema(staged.schema).parquet(stagingDir)
      seg.writeFetch(st.select(explode(col("rows")).as("r"))
        .select(col("r.url"), col("r.datum")).as[CrawlRow])
      seg.writeContent(st
        .filter(col("rows").getItem(0)("datum")("status") ===
          CrawlStatus.FETCH_SUCCESS.toInt)
        .select(col("content.url"), col("content.base"), col("content.bytes"),
          col("content.contentType"), col("content.meta"))
        .as[ContentRow])
    } finally
      // staged payloads must not outlive the derivation — a failed write
      // would otherwise leak the round's page bytes on disk
      graft.tables.Install.deleteRecursively(
        java.nio.file.Paths.get(stagingDir))
  }

  /** One streamed protocol pass: per partition, robots + pacing +
    * fetch, emitting (crawl rows, content) per URL. NOT cached — the
    * caller decides whether to cache (apply) or write-then-derive
    * (toSegment). */
  private def protocolPass(fetchlist: Dataset[GenerateEntry],
      protocol: Protocol, now: Long, agent: String,
      honorRobots: Boolean,
      pacer: Pacer.Config,
      clockFactory: () => Pacer.Clock,
      publisherFactory: Option[graft.plugins.Publishers.Factory] = None,
      storeResponseTime: Boolean = false)
      : Dataset[(List[CrawlRow], ContentRow)] = {
    val spark: SparkSession = fetchlist.sparkSession
    import spark.implicits._
    val byHost = fetchlist.toDF()
      .withColumn("host", Urls.host(col("url")))
      .repartition(col("host"))
      .sortWithinPartitions(col("host"), col("url"))
      .drop("host")
      .as[GenerateEntry]
    val bc = spark.sparkContext
      .broadcast((protocol, agent, honorRobots, publisherFactory,
        storeResponseTime))
    byHost.mapPartitions { it =>
      val (proto, agent0, honor, pubF, storeRs) = bc.value
      // one publisher per partition = one broker channel per task
      // (FetcherThread's one-channel-per-thread shape); closed when the
      // partition's lazy iterator drains
      val pub = pubF.map(_())
      val robotsCache = scala.collection.mutable.Map.empty[String, Robots.RobotRules]
      def rulesFor(url: String): Robots.RobotRules =
        graft.net.UrlParts.host(url).fold(Robots.AllowAll) { h =>
          robotsCache.getOrElseUpdate(h, {
            val scheme = url.takeWhile(_ != ':')
            val out = proto.fetch(s"$scheme://$h/robots.txt",
              CrawlDatum.unfetched(0L, 0))
            if (out.code == Code.Success)
              Robots.parse(new String(out.bytes, "UTF-8"), agent0)
            else Robots.AllowAll
          })
        }
      def emptyContent(e: GenerateEntry) =
        ContentRow(e.url, e.url, Array.empty[Byte], "", Map.empty)
      // Pass 1 over the (small: url+datum) fetchlist partition: robots
      // verdicts + per-host queues. Content bytes do NOT exist yet —
      // they are produced lazily below, one page at a time, so the
      // task never holds the partition's payloads in memory.
      val denied = scala.collection.mutable.ArrayBuffer.empty[GenerateEntry]
      val queue = scala.collection.mutable.ArrayBuffer.empty[Pacer.Item[GenerateEntry]]
      it.foreach { e =>
        val path = e.url.replaceFirst("^[a-z]+://[^/]+", "") match {
          case "" => "/"
          case p => p
        }
        val rules = if (honor) rulesFor(e.url) else Robots.AllowAll
        if (honor && !rules.isAllowed(path)) denied += e
        else {
          queue += Pacer.Item(
            graft.net.UrlParts.host(e.url).getOrElse(""), e,
            e.datum.metadata.get(Generate.VariableFetchDelayKey)
              .flatMap(s => scala.util.Try(s.toLong).toOption),
            rules.crawlDelayMs)
        }
      }
      val deniedIt = denied.iterator.map { e =>
        val datum = e.datum.copy(status = CrawlStatus.FETCH_GONE,
          fetchTime = now,
          metadata = e.datum.metadata + (RobotsDeniedKey -> "true"))
        (CrawlRow(e.url, datum) :: Nil, emptyContent(e))
      }
      // Pass 2: the pacer's LAZY iterator — each next() sleeps, fetches
      // ONE page, and streams its rows+content straight downstream
      val pacedIt = Pacer.pacedMap(queue, pacer, clockFactory()) { (e, t) =>
        // the delay override is consumed by the queue, not carried on
        // (FetchItemQueue.addFetchItem removes it)
        val meta0 = e.datum.metadata - Generate.VariableFetchDelayKey
        // publisher START/END bracket the protocol call
        // (FetcherThread.java:354,438); robots-denied and watchdog-
        // drained items never reach the protocol, so they raise neither
        pub.foreach(_.publish(graft.plugins.Publishers.FetchEvent(
          graft.plugins.Publishers.EventType.Start, e.url, t, Map.empty)))
        val t0 = System.nanoTime()
        val out = proto.fetch(e.url, e.datum)
        val elapsedMs = (System.nanoTime() - t0) / 1000000L
        pub.foreach(_.publish(graft.plugins.Publishers.FetchEvent(
          graft.plugins.Publishers.EventType.End, e.url, t,
          Map("status" -> Code.name(out.code)))))
        val status = toFetchStatus(out.code)
        val metaErr = out.errorCategory
          .fold(meta0)(c => meta0 + (Metrics.Errors.MetadataKey -> c))
        val metaRs =
          if (storeRs) metaErr + (ResponseTimeKey -> elapsedMs.toString)
          else metaErr
        val meta1 =
          if (out.contentType.nonEmpty)
            metaRs + (CrawlDatum.ContentTypeKey -> out.contentType)
          else metaRs
        // representative URL under the redirect (URLUtil.chooseRepr via
        // FetcherThread.handleRedirect): src may stay representative
        val meta = out.movedTo.fold(meta1)(m =>
          meta1 + (CrawlDatum.ReprUrlKey -> Urls.chooseRepr(e.url, m,
            temp = toFetchStatus(out.code) == CrawlStatus.FETCH_REDIR_TEMP)))
        val datum = e.datum.copy(status = status, fetchTime = now,
          metadata = meta)
        // redirect targets are emitted as LINKED datums so updatedb
        // discovers them (FetcherThread.java:526-531 createRedirDatum)
        val redirLinked = out.movedTo
          .filter(_ => status == CrawlStatus.FETCH_REDIR_PERM ||
            status == CrawlStatus.FETCH_REDIR_TEMP)
          .flatMap(Urls.normalize)
          .map(target => CrawlRow(target,
            CrawlDatum(CrawlStatus.LINKED, 0L, 0, e.datum.fetchInterval,
              e.datum.score, None, 0L, Map.empty)))
        (CrawlRow(e.url, datum) :: redirLinked.toList,
          ContentRow(e.url, out.movedTo.getOrElse(e.url), out.bytes,
            out.contentType, Map.empty))
      } { (e, reason) =>
        val (status, marker) = reason match {
          case Pacer.ExcessCrawlDelay =>
            (CrawlStatus.FETCH_GONE, RobotsDeniedKey -> "crawl-delay")
          case Pacer.TimeLimit =>
            (CrawlStatus.FETCH_RETRY, "_drain_" -> "timelimit")
          case Pacer.LowThroughput =>
            (CrawlStatus.FETCH_RETRY, "_drain_" -> "throughput")
        }
        val datum = e.datum.copy(status = status, fetchTime = now,
          metadata = e.datum.metadata - Generate.VariableFetchDelayKey + marker)
        (CrawlRow(e.url, datum) :: Nil, emptyContent(e))
      }
      val outIt = deniedIt ++ pacedIt
      pub.fold(outIt)(p => graft.plugins.Publishers.closing(outIt, p))
    }
  }
}
