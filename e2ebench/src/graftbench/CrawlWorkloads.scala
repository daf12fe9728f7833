package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.{Crawl, WebGraphOp}
import graft.plugins.Extensions
import graft.tables.Segment

/** One workload: it builds its inputs (set-up), runs the timed
  * region, checks the outputs, and cleans up. */
trait Workload {
  def name: String
  /** Items the timed region processes, the unit of `items_per_s`. */
  def itemsLabel: String
  def setup(): Unit
  /** The timed region; returns the items it processed. */
  def run(tr: Tracer): Long
  /** Output check of the timed region: one message per failure. */
  def check(): Seq[String]
  def cleanup(): Unit
  /** Per-layer metrics this workload adds for a traced pass. */
  def layers(t: PassTrace): Map[String, Double] = Map.empty
  /** The label each job of a traced pass is charged to (default: its
    * span), by job id. */
  def labels(t: PassTrace): Map[Int, String] = t.jobs.map(j => j.id -> j.span).toMap
}

/** `crawl`: a fresh BFS crawl of a seeded site, then the index pass
  * and link analysis (WebGraph build, LinkRank, ScoreUpdater). */
final class CrawlWorkload(spark: SparkSession, work: Path, seed: Long,
    hosts: Int, pages: Int, rounds: Int, linkrankIterations: Int)
    extends Workload {
  def name = "crawl"
  def itemsLabel = "pages fetched"
  val site = Site(seed, hosts, pages)
  private val registry = Extensions.Registry(
    urlFilters = Seq(graft.net.RegexUrlFilter.parse(Iterator("+."))))
  private val config = Crawl.Config(rounds = rounds,
    pacer = graft.net.Pacer.Config(serverDelayMs = 0))
  private lazy val reference = Reference.crawl(site, site.topPages, rounds)

  private var root: Path = _
  private var stores: Crawl.Stores = _
  private var stats: Seq[Crawl.RoundStats] = Nil
  private var segments: Seq[Segment] = Nil
  private var summary: Crawl.Summary = _
  private var roundBytes = 0L

  def setup(): Unit = {
    root = work.resolve(name)
    Files.createDirectories(root)
    stores = Crawl.openStores(spark, root.toString, config)
  }

  def run(tr: Tracer): Long = {
    tr.span("ops.inject")(Crawl.inject(spark, stores, site.topPages, registry, config))
    // on a traced pass also the bytes each round leaves under the crawl
    // root (files new or changed since it started), measured outside
    // the round's span
    roundBytes = 0L
    val out = (1 to rounds).map { r =>
      val before = if (tr.active) Dirs.snapshot(root) else Map.empty[String, (Long, Long)]
      val res = tr.span("ops.round")(
        Crawl.round(spark, root.toString, stores, r, site, registry, config))
      if (tr.active) roundBytes += Dirs.written(before, Dirs.snapshot(root))
      res
    }
    segments = out.map(_._1)
    stats = out.map(_._2)
    summary = tr.span("ops.finish")(
      Crawl.finish(spark, stores, segments, stats, config))
    val dir = s"$root/webgraph"
    tr.span("webgraph.build")(WebGraphOp.build(spark,
      segments.map(_.parseData).reduce(_ union _), dir))
    tr.span("webgraph.linkrank")(
      WebGraphOp.linkrank(spark, dir, linkrankIterations))
    tr.span("webgraph.scoreupdater")(stores.crawldb.install(
      WebGraphOp.scoreUpdater(stores.crawldb.read(), spark, dir),
      "scoreupdater"))
    stats.map(_.fetched).sum
  }

  def check(): Seq[String] = {
    val nodes = spark.read.parquet(s"$root/webgraph/nodes")
    Checks.crawl(reference, stats, summary.indexed, nodes.count(),
      nodes.where(col("score").isNull).count(), stores.crawldb.read().count())
  }

  def cleanup(): Unit = {
    spark.catalog.clearCache()
    if (root != null) Dirs.delete(root)
  }

  /** Conductor step timings from the `wall_ms` gauges it appends to
    * `<root>/metrics`, the table layer's bytes, and the spans. */
  override def layers(t: PassTrace): Map[String, Double] = {
    val m = new graft.ops.Metrics.Table(spark, s"$root/metrics").read()
      .groupBy("job", "name").sum("value").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def wall(job: String) = m.getOrElse((job, "wall_ms"), 0L) / 1000.0
    val steps = Seq("ops.generate_s" -> wall("generator"),
      "ops.fetch_s" -> wall("fetcher"), "ops.parse_s" -> wall("parser"),
      "crawl.updatedb_s" -> wall("crawldb"))
    def spanS(n: String) = t.spans.filter(_.name == n).map(_.seconds).sum
    val content = m.getOrElse(("fetcher", "bytes_downloaded_total"), 0L)
    steps.toMap ++ Map(
      "ops.inject_s" -> spanS("ops.inject"),
      "ops.round_other_s" -> math.max(0.0, spanS("ops.round") - steps.map(_._2).sum),
      "ops.finish_s" -> spanS("ops.finish"),
      "tables.bytes_written_mb" -> roundBytes / 1e6 / rounds,
      "tables.write_amp" -> (if (content > 0) roundBytes.toDouble / content else 0.0),
      "webgraph.build_s" -> spanS("webgraph.build"),
      "webgraph.linkrank_s" -> spanS("webgraph.linkrank"),
      "webgraph.scoreupdater_s" -> spanS("webgraph.scoreupdater"))
  }
}

/** The conductor checks, on plain values. */
object Checks {
  private def expectEq(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  /** A fresh crawl against the plain-Scala BFS of its site. */
  def crawl(ref: Reference.Crawl, stats: Seq[Crawl.RoundStats], indexed: Long,
      nodes: Long, unscored: Long, dbAfter: Long): Seq[String] =
    expectEq("generated per round", stats.map(_.generated), ref.generated) ++
      expectEq("fetched per round", stats.map(_.fetched), ref.fetched) ++
      expectEq("crawldb size per round", stats.map(_.dbSize), ref.dbSize) ++
      expectEq("indexed", indexed, ref.indexed) ++
      expectEq("linkrank nodes", nodes, ref.linkNodes) ++
      expectEq("unscored linkrank nodes", unscored, 0L) ++
      expectEq("crawldb size after scoreupdater", dbAfter, ref.dbSize.last)
}

/** Small filesystem helpers. */
object Dirs {
  import scala.jdk.CollectionConverters._

  /** path → (size, mtime) of every regular file under `dir`. */
  def snapshot(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap
      finally s.close()
    }

  /** Bytes of files in `after` that are new or changed since `before`. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  /** True when a parquet directory holds at least one data file. */
  def hasParquet(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(dir)
    Files.exists(p) && {
      val s = Files.walk(p)
      try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists)
      finally s.close()
    }
}
