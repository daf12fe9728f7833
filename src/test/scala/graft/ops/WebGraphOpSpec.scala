package graft.ops

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.schemas.{Outlink, ParseDataRow}

/** WebGraphOp beyond the CLI smoke: incremental build over an existing
  * graph, edge dedup, degree derivation, LinkRank's values against a
  * plain-Scala reference, scoreUpdater's keep-score semantics for urls
  * with no node. */
class WebGraphOpSpec extends AnyFunSuite with SparkSuite {

  private def pd(rows: (String, Seq[(String, String)])*) = {
    import spark.implicits._
    rows.map { case (u, links) =>
      ParseDataRow(u, s"title $u", links.map(l => Outlink(l._1, l._2)),
        1, Map.empty)
    }.toDS()
  }

  test("build is incremental: a second segment extends the graph") {
    val dir = Files.createTempDirectory("wg-inc").toString
    WebGraphOp.build(spark, pd(
      "http://a.com/" -> Seq("http://b.com/" -> "to b")), dir)
    assert(spark.read.parquet(s"$dir/outlinks").count() == 1)

    WebGraphOp.build(spark, pd(
      "http://b.com/" -> Seq("http://a.com/" -> "to a"),
      // duplicate of the first segment's edge: must not double
      "http://a.com/" -> Seq("http://b.com/" -> "to b again")), dir)
    val edges = spark.read.parquet(s"$dir/outlinks").collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")))
    assert(edges.length == 2, edges.mkString(","))
    assert(edges.toSet ==
      Set("http://a.com/" -> "http://b.com/",
        "http://b.com/" -> "http://a.com/"))

    val nodes = spark.read.parquet(s"$dir/nodes").collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[Long]("num_inlinks"), r.getAs[Long]("num_outlinks"))).toMap
    assert(nodes("http://a.com/") == ((1L, 1L)))
    assert(nodes("http://b.com/") == ((1L, 1L)))
  }

  test("self-loops are dropped at build") {
    val dir = Files.createTempDirectory("wg-self").toString
    WebGraphOp.build(spark, pd(
      "http://a.com/" -> Seq("http://a.com/" -> "self",
        "http://b.com/" -> "ok")), dir)
    assert(spark.read.parquet(s"$dir/outlinks").count() == 1)
  }

  test("linkrank matches a plain-Scala LinkRank with one contribution " +
    "per source host, across the 5th-iteration checkpoint") {
    val links = Seq(
      "http://a.com/1" -> Seq("http://c.com/", "http://b.com/",
        "http://a.com/2"),
      // a second a.com page linking c.com: only a.com/1 (the lowest
      // src of the host) contributes to it
      "http://a.com/2" -> Seq("http://c.com/", "http://d.com/"),
      "http://b.com/" -> Seq("http://a.com/1", "http://c.com/",
        "http://d.com/"),
      "http://c.com/" -> Seq("http://a.com/1"),
      "http://d.com/" -> Seq("http://b.com/", "http://a.com/2"),
      "http://e.com/" -> Seq("http://c.com/"))
    val dir = Files.createTempDirectory("wg-rank").toString
    WebGraphOp.build(spark,
      pd(links.map { case (u, ls) => u -> ls.map(_ -> "x") }: _*), dir)
    WebGraphOp.linkrank(spark, dir, iterations = 6)
    val got = spark.read.parquet(s"$dir/nodes").collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Double]("score")).toMap

    // reference: LinkRank.java's damped update on 1e-9 fixed-point
    // contributions; out-degree over the full graph, inbound edges
    // deduped to the lowest src per (source host, target)
    def host(u: String) = new java.net.URI(u).getHost
    def round6(d: Double) = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val edges = links.flatMap { case (s, ds) => ds.map(s -> _) }
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val kept = edges.groupBy { case (s, d) => (host(s), d) }
      .values.map(_.minBy(_._1)).toSeq
    val urls = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
    var score = urls.map(_ -> 1.0).toMap
    for (_ <- 1 to 6) {
      val sumFx = kept.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) =>
          BigDecimal(score(s) / outDeg(s) * 1e9)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.sum
      }
      score = urls.map(u =>
        u -> (0.15 + 0.85 * (sumFx.getOrElse(u, 0L).toDouble / 1e9))).toMap
    }
    assert(got.keySet == urls.toSet)
    assert(got.map { case (u, v) => u -> round6(v) } ==
      score.map { case (u, v) => u -> round6(v) })
    // the host rule bites: without it c.com would take a.com/2's share
    assert(kept.size == edges.size - 1)
  }

  test("scoreUpdater keeps the datum score for urls without a node") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wg-score").toString
    WebGraphOp.build(spark, pd(
      "http://a.com/" -> Seq("http://b.com/" -> "x")), dir)
    WebGraphOp.linkrank(spark, dir, iterations = 2)
    val db = Seq(
      graft.schemas.CrawlRow("http://b.com/",
        graft.schemas.CrawlDatum(graft.schemas.CrawlStatus.DB_FETCHED,
          1L, 0, 2592000, 9.5f, None, 0L, Map.empty)),
      graft.schemas.CrawlRow("http://nowhere.com/",
        graft.schemas.CrawlDatum(graft.schemas.CrawlStatus.DB_UNFETCHED,
          1L, 0, 2592000, 7.25f, None, 0L, Map.empty))).toDS()
    val out = WebGraphOp.scoreUpdater(db, spark, dir).collect()
      .map(r => r.url -> r.datum.score).toMap
    val nodeScore = spark.read.parquet(s"$dir/nodes")
      .filter(org.apache.spark.sql.functions.col("url") === "http://b.com/")
      .collect().head.getAs[Double]("score")
    assert(math.abs(out("http://b.com/") - nodeScore) < 1e-5)
    assert(out("http://nowhere.com/") == 7.25f) // no node → score kept
    // everything else about the datum survives the struct rebuild
    val kept = WebGraphOp.scoreUpdater(db, spark, dir).collect()
      .find(_.url == "http://nowhere.com/").get.datum
    assert(kept.fetchInterval == 2592000 && kept.fetchTime == 1L)
  }
}
