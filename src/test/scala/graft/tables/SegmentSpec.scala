package graft.tables

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.schemas._

/** Segment parts are read with their encoders' schemas, not an
  * inferred one: every part must read back row for row what was
  * written, and opening a part must run no Spark job. */
class SegmentSpec extends AnyFunSuite with SparkSuite {

  private val fetched = CrawlDatum(CrawlStatus.FETCH_SUCCESS, 5L, 1, 30,
    1.5f, Some("sig"), 7L, Map("Content-Type" -> "text/html", "k" -> ""))
  private val unfetched = CrawlDatum.unfetched(0L, 30)

  test("every part round-trips through its declared schema") {
    import spark.implicits._
    val seg = new Segment(spark,
      Files.createTempDirectory("segment").toString)

    val gen = Seq(GenerateEntry(1, 2.0f, "http://a/", fetched),
      GenerateEntry(1, 0f, "http://b/", unfetched))
    seg.writeGenerate(gen.toDS())
    assert(seg.generate.collect().sortBy(_.url).toSeq == gen)

    val rows = Seq(CrawlRow("http://a/", fetched),
      CrawlRow("http://b/", unfetched))
    seg.writeFetch(rows.toDS())
    assert(seg.fetch.collect().sortBy(_.url).toSeq == rows)
    seg.writeCrawlParse(rows.reverse.toDS())
    assert(seg.crawlParse.collect().sortBy(_.url).toSeq == rows)

    // arrays compare by reference in a case class: compare their bytes
    val content = Seq(
      ContentRow("http://a/", "http://a/x", Array[Byte](1, 0, -1),
        "text/html", Map("h" -> "v")),
      ContentRow("http://b/", "http://b/", Array.emptyByteArray, "",
        Map.empty))
    def flat(c: ContentRow) =
      (c.url, c.base, c.bytes.toSeq, c.contentType, c.meta)
    seg.writeContent(content.toDS())
    assert(seg.content.collect().sortBy(_.url).map(flat).toSeq ==
      content.map(flat))

    val pd = Seq(
      ParseDataRow("http://a/", "A", Seq(Outlink("http://b/", "b"),
        Outlink("http://c/", "")), ParseStatusCodes.Success, Map("m" -> "1")),
      ParseDataRow("http://b/", null, Seq.empty, ParseStatusCodes.Failed,
        Map.empty))
    seg.writeParseData(pd.toDS())
    assert(seg.parseData.collect().sortBy(_.url).toSeq == pd)

    val pt = Seq(ParseTextRow("http://a/", "text"),
      ParseTextRow("http://b/", null))
    seg.writeParseText(pt.toDS())
    assert(seg.parseText.collect().sortBy(_.url).toSeq == pt)

    // opening the six parts plans them without a job: the only job of
    // the group below is the marker that follows them
    val sc = spark.sparkContext
    sc.setJobGroup("segment-open", "open the parts")
    try {
      Seq(seg.generate, seg.fetch, seg.content, seg.crawlParse,
        seg.parseData, seg.parseText).foreach(_.queryExecution.analyzed)
      sc.parallelize(Seq(1), 1).count() // the marker: one job
    } finally sc.clearJobGroup()
    // job events reach the status store asynchronously, in order
    val deadline = System.nanoTime() + 10000000000L
    def jobs = sc.statusTracker.getJobIdsForGroup("segment-open")
    while (jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(jobs.length == 1, s"jobs ${jobs.mkString(", ")}")
  }
}
