package graftbench

import graft.ops.Fetch
import graft.schemas.CrawlDatum

/** A seeded synthetic web site served as a [[graft.ops.Fetch.Protocol]].
  *
  * Every page is a pure function of its URL and the seed, so the
  * protocol carries no site map: it is a handful of integers, cheap to
  * broadcast, and any URL can be rebuilt anywhere. Host `i` holds pages
  * `0 until pagesPerHost`; page 0 is the root `http://h<i>.example.com/`
  * and page `j > 0` is `/p<j>`. Links form a per-host tree of the given
  * fan-out (page `j` links to `j*fanout + 1 .. j*fanout + fanout`), plus
  * one seeded cross-host link per page. The seed also plants:
  *  - gone pages (about 1 in `goneEvery`), served as Gone;
  *  - dead links to `/x<j>`, which the site does not have (Gone);
  *  - mirror pages (about 1 in `dupEvery`) whose whole body is one of
  *    `dupClasses` shared texts with no links, so the dedup step must
  *    keep one page per class.
  * Roots are never gone or mirrors. An `*Every` of 0 plants none. */
final case class Site(seed: Long, hosts: Int, pagesPerHost: Int,
    fanout: Int = 6, goneEvery: Int = 25, dupEvery: Int = 20,
    dupClasses: Int = 8, deadEvery: Int = 10, crossLinks: Boolean = true)
    extends Fetch.Protocol {

  import Site._

  def hostName(i: Int): String = s"h$i.example.com"

  def url(i: Int, j: Int): String =
    if (j == 0) s"http://${hostName(i)}/" else s"http://${hostName(i)}/p$j"

  def deadUrl(i: Int, j: Int): String = s"http://${hostName(i)}/x$j"

  def roots: Seq[String] = (0 until hosts).map(url(_, 0))

  /** Every root and its tree children: the seed list of a crawl whose
    * first round already fetches pages of every kind. */
  def topPages: Seq[String] =
    for (i <- 0 until hosts; j <- 0 to fanout if j < pagesPerHost) yield url(i, j)

  def allUrls: Iterator[String] =
    Iterator.range(0, hosts).flatMap(i =>
      Iterator.range(0, pagesPerHost).map(url(i, _)))

  private def h(i: Int, j: Int, salt: Int): Long =
    mix(seed * 0x9E3779B97F4A7C15L + i.toLong * 1000003L + j * 31L + salt)

  private def bucket(i: Int, j: Int, salt: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(h(i, j, salt), n.toLong).toInt

  private def planted(i: Int, j: Int, salt: Int, every: Int): Boolean =
    every > 0 && bucket(i, j, salt, every) == 0

  def isGone(i: Int, j: Int): Boolean = j > 0 && planted(i, j, 1, goneEvery)

  /** The shared-text class of a mirror page, or -1 for a normal page. */
  def dupClass(i: Int, j: Int): Int =
    if (j > 0 && !isGone(i, j) && planted(i, j, 2, dupEvery))
      bucket(i, j, 3, dupClasses)
    else -1

  /** (host, page) of a URL this site serves, or None (dead links,
    * robots.txt and foreign URLs). */
  def locate(u: String): Option[(Int, Int)] = {
    val pre = "http://h"
    if (!u.startsWith(pre)) return None
    val dot = u.indexOf(".example.com/", pre.length)
    if (dot < 0) return None
    val i = u.substring(pre.length, dot).toIntOption.getOrElse(-1)
    val path = u.substring(dot + ".example.com".length)
    val j =
      if (path == "/") 0
      else if (path.startsWith("/p")) path.substring(2).toIntOption.getOrElse(-1)
      else -1
    if (i < 0 || i >= hosts || j < 1 && path != "/" || j >= pagesPerHost) None
    else Some((i, j))
  }

  def outlinks(i: Int, j: Int): Seq[String] =
    if (isGone(i, j) || dupClass(i, j) >= 0) Nil
    else {
      val kids = (1 to fanout).map(j * fanout + _).filter(_ < pagesPerHost)
        .map(url(i, _))
      val other = (i + 1 + bucket(i, j, 4, math.max(1, hosts - 1))) % hosts
      val cross =
        if (crossLinks) Seq(url(other, bucket(i, j, 5, pagesPerHost))) else Nil
      val dead =
        if (planted(i, j, 6, deadEvery)) Seq(deadUrl(i, j))
        else Nil
      kids ++ cross ++ dead
    }.distinct.filter(_ != url(i, j))

  def body(i: Int, j: Int): String = {
    val c = dupClass(i, j)
    if (c >= 0)
      s"<html><head><title>mirror $c</title></head><body><p>" +
        words(c.toLong * 7919L + 17L, 48) + "</p></body></html>"
    else {
      val links = outlinks(i, j).zipWithIndex
        .map { case (l, k) => s"""<a href="$l">link $k</a>""" }.mkString(" ")
      s"<html><head><title>page $i $j</title></head><body><p>host $i page $j " +
        words(h(i, j, 7), 40) + s"</p><p>$links</p></body></html>"
    }
  }

  def fetch(u: String, datum: CrawlDatum): Fetch.ProtocolOutput =
    locate(u) match {
      case Some((i, j)) if !isGone(i, j) =>
        Fetch.ProtocolOutput(Fetch.Code.Success, body(i, j).getBytes("UTF-8"),
          "text/html", None)
      case _ => Fetch.ProtocolOutput(Fetch.Code.Gone, Array.empty, "", None)
    }
}

object Site {
  /** SplitMix64 finalizer: the one hash every generator here uses. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val Vocab: Array[String] = ("alpha bravo charlie delta echo foxtrot golf " +
    "hotel india juliet kilo lima mike november oscar papa quebec romeo " +
    "sierra tango uniform victor whiskey xray yankee zulu amber basil cedar " +
    "dune ember fern grove heath iris jade kelp lotus moss nectar olive pine " +
    "quartz reed sage thyme umber vale willow yarrow zest").split(" ")

  /** `n` seeded words from [[Vocab]]. */
  def words(seed: Long, n: Int): String = {
    val sb = new StringBuilder
    var s = seed
    var k = 0
    while (k < n) {
      s = mix(s)
      if (k > 0) sb.append(' ')
      sb.append(Vocab(java.lang.Long.remainderUnsigned(s, Vocab.length).toInt))
      k += 1
    }
    sb.toString
  }
}

/** Plain-Scala BFS over a [[Site]]: what the conductor must produce
  * with no topN, no politeness and accept-all filters. Round r
  * generates every URL first seen in round r-1 (the seeds in round 1),
  * fetches the ones that are not gone, and adds their outlinks. */
object Reference {

  final case class Crawl(generated: Seq[Long], fetched: Seq[Long],
      dbSize: Seq[Long], indexed: Long, linkNodes: Long)

  def crawl(site: Site, seeds: Seq[String], rounds: Int): Crawl = {
    val known = scala.collection.mutable.LinkedHashSet.empty[String] ++= seeds
    var frontier = seeds.distinct
    val gen, fet, db = Seq.newBuilder[Long]
    val fetchedPages = Seq.newBuilder[(Int, Int)]
    for (_ <- 1 to rounds) {
      gen += frontier.size
      val ok = frontier.flatMap(site.locate).filterNot { case (i, j) =>
        site.isGone(i, j) }
      fet += ok.size
      fetchedPages ++= ok
      val next = Seq.newBuilder[String]
      for ((i, j) <- ok; l <- site.outlinks(i, j) if known.add(l)) next += l
      frontier = next.result()
      db += known.size
    }
    val pages = fetchedPages.result()
    Crawl(gen.result(), fet.result(), db.result(),
      pages.size - duplicates(site, pages), linkNodes(site, pages))
  }

  /** Pages the dedup step must mark: all but one per mirror class. */
  def duplicates(site: Site, fetched: Seq[(Int, Int)]): Long =
    fetched.map { case (i, j) => site.dupClass(i, j) }.filter(_ >= 0)
      .groupBy(identity).values.map(_.size - 1L).sum

  /** Distinct URLs on either end of a link out of a fetched page. */
  def linkNodes(site: Site, fetched: Seq[(Int, Int)]): Long = {
    val nodes = scala.collection.mutable.HashSet.empty[String]
    for ((i, j) <- fetched) {
      val ls = site.outlinks(i, j)
      if (ls.nonEmpty) { nodes += site.url(i, j); nodes ++= ls }
    }
    nodes.size.toLong
  }
}
