package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.schemas.{CrawlDatum, CrawlRow, CrawlStatus => S}
import graft.tables.{CrawlDbStore, Segment}

/** Fault injection for the write paths: a task that fails on its FIRST
  * attempt (and succeeds on retry) must leave no partial or duplicate
  * visible state behind any of the three write disciplines —
  * Fetch.toSegment's stage-then-derive, the copy-on-write table
  * installs, and the partitioned log (whose
  * documented contract is at-least-once for a concurrent tailer but
  * exactly-once for the sealed batch, because a retry rewrites its
  * deterministic segment files in place). A task that fails EVERY
  * attempt must leave the previous generation untouched and readable.
  *
  * Runs in its own SparkSession with `local[4, 2]` (2 task attempts) —
  * the shared suite session's local[4] would fail the whole job on the
  * first planted throw, which is exactly what this spec must outlive. */
class FaultInjectionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // local[4, 2]: 2 task attempts, so planted failures retry
    spark = graft.GraftSession("local[4, 2]", "4", Some(getClass.getSimpleName))
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    try {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    } finally super.afterAll()
  }

  import FaultInjectionSpec.{alwaysFail, flakyOnFirstAttempt}

  test("Fetch.toSegment: a first-attempt protocol failure yields " +
    "exactly-once fetch rows and content, and no leaked staging dir") {
    val sp = spark; import sp.implicits._
    val urls = (0 until 40).map(i => s"http://fault.example.com/p$i")
    val site = urls.map(u => u -> (Fetch.Code.Success,
      s"<html><title>t</title><body>body of $u</body></html>",
      "text/html")).toMap
    val inner = Fetch.MockProtocol(site)
    val flaky = new Fetch.Protocol {
      def fetch(url: String, datum: CrawlDatum): Fetch.ProtocolOutput =
        flakyOnFirstAttempt(inner.fetch(url, datum))
    }
    val fl = spark.createDataset(urls.map(u =>
      graft.schemas.GenerateEntry(1, 1.0f, u,
        CrawlDatum.unfetched(0L, 3600))))
    val segRoot = Files.createTempDirectory("fault-seg").toString
    val seg = new Segment(spark, s"$segRoot/r1")
    Fetch.toSegment(fl, flaky, 1000L, seg,
      pacer = graft.net.Pacer.Config(serverDelayMs = 0))
    val fetched = seg.fetch.collect()
    assert(fetched.length == urls.length) // every url exactly once
    assert(fetched.map(_.url).distinct.length == urls.length)
    assert(fetched.forall(_.datum.status == S.FETCH_SUCCESS))
    val content = seg.content.collect()
    assert(content.length == urls.length)
    assert(content.map(_.url).distinct.length == urls.length)
    assert(!Files.exists(Paths.get(s"$segRoot/r1/fetch_staged")),
      "staging dir must not outlive the derivation")
  }

  private def rows(n: Int): Seq[CrawlRow] = (0 until n).map(i =>
    CrawlRow(s"http://cow.example.com/p$i",
      CrawlDatum.unfetched(1000L + i, 3600)))

  test("copy-on-write install survives a first-attempt task failure") {
    val sp = spark; import sp.implicits._
    val flakyDs = spark.createDataset(rows(100))
      .map(r => flakyOnFirstAttempt(r))

    val bDir = Files.createTempDirectory("fault-bucketed").toString
    val bucketed = CrawlDbStore.open(spark, s"$bDir/db", Some(4))
    bucketed.install(spark.createDataset(rows(10)), "g1") // prior generation
    bucketed.install(flakyDs, "g2")
    val gotB = bucketed.read().collect()
    assert(gotB.length == 100 && gotB.map(_.url).distinct.length == 100)
  }

  test("a failing install leaves the previous generation readable") {
    val sp = spark; import sp.implicits._
    val bDir = Files.createTempDirectory("fault-perm-b").toString
    val bucketed = CrawlDbStore.open(spark, s"$bDir/db", Some(4))
    bucketed.install(spark.createDataset(rows(25)), "g1")
    intercept[Exception] {
      bucketed.install(spark.createDataset(rows(100)).map(alwaysFail _),
        "g2")
    }
    assert(bucketed.read().collect().map(_.url).toSet ==
      rows(25).map(_.url).toSet) // GENERATION pointer never advanced
  }

  test("partitioned log: a first-attempt failure rewrites its segment " +
    "deterministically — sealed batch is exactly-once, offsets dense") {
    val sp = spark; import sp.implicits._
    val docs = (0 until 60).map(i => Index.Doc(
      s"http://log.example.com/p$i", "add", s"t$i", "log.example.com",
      s"content $i", s"d$i", 1.0f, Seq.empty))
    val flaky = spark.createDataset(docs).map(d => flakyOnFirstAttempt(d))
    val dir = Files.createTempDirectory("fault-log").toString
    new IndexWriters.PartitionedLogWriter(partitions = 4)
      .write(flaky, dir)
    val recs = IndexWriters.PartitionedLogReader.read(spark, dir).collect()
    assert(recs.length == docs.length) // exactly-once after seal
    assert(recs.map(r => r.getString(2)).distinct.length == docs.length)
    // per-partition offsets dense from 0 (a retry rewrote, not appended)
    val byPart = recs.map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    byPart.foreach { case (p, offs) =>
      assert(offs == (0L until offs.length).toSeq, s"partition $p: $offs")
    }
  }
}

/** Serializable fault planting — companion members so closures capture
  * NO reference to the (non-serializable) scalatest suite. */
object FaultInjectionSpec extends Serializable {
  /** Throws on attempt 0 of whatever task evaluates the marked row. */
  def flakyOnFirstAttempt[T](v: T): T = {
    if (TaskContext.get() != null && TaskContext.get().attemptNumber() == 0)
      throw new RuntimeException("planted first-attempt failure")
    v
  }
  def alwaysFail(r: CrawlRow): CrawlRow =
    throw new RuntimeException("planted permanent failure")
}
