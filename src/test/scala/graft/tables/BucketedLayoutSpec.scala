package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.schemas.{CrawlDatum, CrawlRow, CrawlStatus, ParseDataRow,
  ParseTextRow}

/** r10 layout hardening: bucket-count resolution is never guessed
  * (per-generation sidecar → legacy dir file → DATA-VALIDATED
  * derivation from bucket file names → loud error; raw max-file-id+1
  * undercounts when the top bucket is empty, so a candidate count is
  * only registered when every row's `pmod(hash(key), N)` matches its
  * file's bucket id), the sidecar write is crash-atomic by the
  * write-before-pointer discipline, and the LinkDb gets the same
  * bucketed layout — proven by the indexing cogroup planning with NO
  * Exchange on EITHER db-sized side. */
class BucketedLayoutSpec extends AnyFunSuite with SparkSuite {

  private def crawlRows(n: Int): Seq[CrawlRow] = (0 until n).map { i =>
    val d = CrawlDatum.unfetched(1000L + i, 3600)
    CrawlRow(s"http://h${i % 7}.example.com/p$i",
      d.copy(status = CrawlStatus.DB_FETCHED, score = i.toFloat,
        signature = Some(f"sig$i%04d")))
  }

  private def linkRows(n: Int): Seq[LinkRow] = (0 until n).map(i =>
    LinkRow(s"http://h${i % 7}.example.com/p$i",
      Seq(Inlink(s"http://from.example.com/$i", s"anchor $i"))))

  private def wipeCatalog(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(n => spark.sql(s"DROP TABLE `$n`"))

  test("a crash between sidecar/data write and pointer move leaves the " +
    "prior generation readable with ITS OWN count (per-gen sidecar wins " +
    "over the torn dir-scoped file)") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("layout-crash").toString
    val db = CrawlDbStore.open(spark, root, Some(4))
    db.install(spark.createDataset(crawlRows(40)), "g1")
    assert(Files.readString(Paths.get(root, "g1", "_BUCKETS")).trim == "4")
    assert(!Files.exists(Paths.get(root, "BUCKETS"))) // sidecars only

    // simulate the crash window of an install that was CHANGING the
    // count to 8: g2's data + sidecar and the dir-scoped BUCKETS are
    // written, but the process dies before the GENERATION pointer moves
    Bucketed.install(spark.createDataset(crawlRows(99)).toDF(),
      "layout_crash_torn_g2", s"$root/g2", 8)
    Files.writeString(Paths.get(root, "g2", "_BUCKETS"), "8")
    Files.writeString(Paths.get(root, "BUCKETS"), "8") // torn dir state
    spark.sql("DROP TABLE IF EXISTS layout_crash_torn_g2")

    wipeCatalog("graft_crawldb_") // fresh JVM: catalog gone, disk stays
    val reopened = CrawlDbStore.open(spark, root)
    assert(reopened.buckets == 4,
      "live generation g1 must re-register with the count IT was " +
        "written with, not the torn dir-scoped hint")
    assert(reopened.read().count() == 40) // g1, not the torn g2
    // and the registered layout really is 4 buckets
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_crawldb_"))
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED `${tbl.head}`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Num Buckets").contains("4"), desc)
    wipeCatalog("graft_crawldb_")
  }

  test("a pre-sidecar root whose TOP BUCKET IS EMPTY still resolves the " +
    "true count: the file-name lower bound undercounts, and the " +
    "data-placement validation sweep corrects it") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val root = Files.createTempDirectory("layout-empty-top").toString
    // keep only rows that hash OUT of bucket 7 of 8, so bucketBy writes
    // no _00007 file and max-id+1 derivation reads 7 — the silent
    // wrong-count corruption the validation exists to prevent
    val all = crawlRows(400)
    val keep = spark.createDataset(all)
      .where(pmod(hash(col("url")), lit(8)) =!= 7)
    val kept = keep.count()
    assert(kept < 400 && kept > 300, s"planted skew broke: $kept")
    val db = CrawlDbStore.open(spark, root, Some(8))
    db.install(keep, "g1")
    assert(!Files.list(Paths.get(root, "g1")).toArray.map(_.toString)
      .exists(_.contains("_00007")), "top bucket unexpectedly non-empty")
    Files.delete(Paths.get(root, "g1", "_BUCKETS"))
    wipeCatalog("graft_crawldb_")
    val reopened = CrawlDbStore.open(spark, root)
    assert(reopened.buckets == 8,
      "derivation must validate against the data's hash placement, " +
        "never register the max-file-id+1 undercount")
    assert(reopened.read().count() == kept)
    wipeCatalog("graft_crawldb_")
  }

  test("a pre-sidecar root (no _BUCKETS, no BUCKETS) derives the count " +
    "from the bucket-id file names; a root with no derivable count " +
    "fails loudly; a garbage sidecar names the file") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("layout-derive").toString
    val db = CrawlDbStore.open(spark, root, Some(8))
    db.install(spark.createDataset(crawlRows(200)), "g1")
    // age the root back to the pre-r10 layout: no sidecars at all
    Files.delete(Paths.get(root, "g1", "_BUCKETS"))
    wipeCatalog("graft_crawldb_")
    val reopened = CrawlDbStore.open(spark, root)
    assert(reopened.buckets == 8)
    assert(reopened.read().count() == 200)
    wipeCatalog("graft_crawldb_")

    // garbage sidecar → an error that names the file and the fix
    Files.writeString(Paths.get(root, "g1", "_BUCKETS"), "not-a-number")
    val ex = intercept[IllegalStateException] {
      CrawlDbStore.open(spark, root)
    }
    assert(ex.getMessage.contains("_BUCKETS") &&
      ex.getMessage.contains("not-a-number"), ex.getMessage)

    // a generation with NO parquet files and no sidecars → loud error,
    // never a guessed constant
    val root2 = Files.createTempDirectory("layout-underivable").toString
    Files.writeString(Paths.get(root2, "GENERATION"), "1")
    Files.createDirectories(Paths.get(root2, "g1"))
    val ex2 = intercept[IllegalStateException] {
      CrawlDbStore.open(spark, root2)
    }
    assert(ex2.getMessage.contains("no bucket count derivable"),
      ex2.getMessage)
  }

  test("re-opening a db after a catalog wipe runs no schema-inference " +
    "job") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("layout-reopen").toString
    CrawlDbStore.open(spark, root, Some(4))
      .install(spark.createDataset(crawlRows(40)), "g1")
    wipeCatalog("graft_crawldb_") // fresh JVM: catalog gone, disk stays
    // open + plan re-register the generation without a job: the only
    // job of the group below is the marker that follows them
    val sc = spark.sparkContext
    sc.setJobGroup("db-reopen", "re-open the db")
    try {
      CrawlDbStore.open(spark, root).read().queryExecution.analyzed
      sc.parallelize(Seq(1), 1).count() // the marker: one job
    } finally sc.clearJobGroup()
    // job events reach the status store asynchronously, in order
    val deadline = System.nanoTime() + 10000000000L
    def jobs = sc.statusTracker.getJobIdsForGroup("db-reopen")
    while (jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(jobs.length == 1, s"jobs ${jobs.mkString(", ")}")
    assert(CrawlDbStore.open(spark, root).read().collect().sortBy(_.url)
      .toSeq == crawlRows(40).sortBy(_.url))
    wipeCatalog("graft_crawldb_")
  }

  test("an existing root keeps its on-disk count even when opened with " +
    "a different requested count (no silent re-layout)") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("layout-keep").toString
    val db8 = CrawlDbStore.open(spark, root, Some(8))
    db8.install(spark.createDataset(crawlRows(50)), "g1")
    // a later run configured with a different default must not re-layout
    val db32 = CrawlDbStore.open(spark, root, Some(32))
    assert(db32.buckets == 8)
    db32.install(spark.createDataset(crawlRows(60)), "g2")
    assert(Files.readString(Paths.get(root, "g2", "_BUCKETS")).trim == "8")
    assert(db32.read().count() == 60)
    wipeCatalog("graft_crawldb_")
  }

  test("bucketed LinkDb resumes across a catalog wipe and " +
    "LinkDbStore.open detects the layout") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("layout-linkdb").toString
    val ldb = LinkDbStore.open(spark, root, Some(4))
    ldb.install(spark.createDataset(linkRows(60)), "g1")
    wipeCatalog("graft_linkdb_")
    val reopened = LinkDbStore.open(spark, root)
    assert(reopened.buckets == 4)
    assert(reopened.read().collect().map(_.url).sorted.toSeq ==
      linkRows(60).map(_.url).sorted)
    wipeCatalog("graft_linkdb_")
    // and a fresh dir opens in the same layout, one bucket per slot of
    // the local[4] session
    val freshRoot = Files.createTempDirectory("layout-linkdb-fresh").toString
    val fresh = LinkDbStore.open(spark, freshRoot)
    assert(fresh.buckets == 4)
    fresh.install(spark.createDataset(linkRows(5)), "g1")
    assert(Files.readString(Paths.get(freshRoot, "GENERATION")).trim == "1")
    assert(Files.readString(Paths.get(freshRoot, "g1", "_BUCKETS")).trim ==
      "4")
    wipeCatalog("graft_linkdb_")
  }

  test("bucketed HostDb (keyed on host): resumes across a catalog wipe, " +
    "and the per-round census merge reads the stored side Exchange-free") {
    val sp = spark; import sp.implicits._
    import graft.ops.UpdateHostDb
    val root = Files.createTempDirectory("layout-hostdb").toString
    val hdb = HostDbStore.open(spark, root, Some(4))
    val rows = (0 until 40).map(i => UpdateHostDb.HostRow(
      s"h$i.example.com", i, 2L * i, 0, 0, 0, 0, 0, 0, i * 1.5, 1000L))
    hdb.install(spark.createDataset(rows), "g1")
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_hostdb_"))
      .foreach(n => spark.sql(s"DROP TABLE `$n`"))
    val reopened = HostDbStore.open(spark, root)
    assert(reopened.buckets == 4)
    assert(reopened.read().collect().map(_.host).sorted.toSeq ==
      rows.map(_.host).sorted)

    val db = spark.createDataset((0 until 200).map { i =>
      val d = CrawlDatum.unfetched(1000L + i, 3600)
      CrawlRow(s"http://h${i % 40}.example.com/p$i",
        d.copy(status = CrawlStatus.DB_FETCHED))
    })
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val merged = UpdateHostDb(db, reopened.read(), 2000L)
      assert(merged.count() == 40)
      val p = merged.queryExecution.explainString(FormattedMode)
      assert(p.contains("Bucketed: true"), p)
      // the stored hostdb's carried counters (dnsFailures et al) never
      // ride an Exchange; only the fresh census aggregate shuffles
      val exchanges = p.split("\n\n").filter(_.contains(") Exchange"))
      assert(exchanges.nonEmpty, p)
      assert(exchanges.forall(!_.contains("dnsFailures")), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_hostdb_"))
        .foreach(n => spark.sql(s"DROP TABLE `$n`"))
    }
  }

  test("indexing cogroup over co-bucketed CrawlDb + LinkDb plans ZERO " +
    "Exchange on both db-sized sides; only the per-round segment side " +
    "shuffles") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("layout-index").toString
    val n = 200
    val cdb = CrawlDbStore.open(spark, s"$root/crawldb", Some(8))
    cdb.install(spark.createDataset(crawlRows(n)), "g1")
    val ldb = LinkDbStore.open(spark, s"$root/linkdb", Some(8))
    ldb.install(spark.createDataset(linkRows(n)), "g1")
    val urls = crawlRows(n).map(_.url)
    val fetch = spark.createDataset(urls.map(u => CrawlRow(u,
      CrawlDatum.unfetched(0L, 3600)
        .copy(status = CrawlStatus.FETCH_SUCCESS))))
    val pd = spark.createDataset(urls.map(u =>
      ParseDataRow(u, s"title $u", Seq.empty, 1, Map.empty)))
    val pt = spark.createDataset(urls.map(u => ParseTextRow(u, s"text $u")))

    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val docs = graft.ops.Index(cdb.read(), fetch, pd, pt, ldb.read(),
        graft.ops.Index.Config())
      assert(docs.count() == n)
      val plan = docs.queryExecution.explainString(FormattedMode)
      // both db scans carry the bucket layout
      assert(plan.split("Bucketed: true").length - 1 == 2, plan)
      // every Exchange in the plan moves a SEGMENT-side relation
      // (fetch_status / title / text columns) into the dbs' 8-bucket
      // layout; no Exchange carries db columns (score/signature or
      // inlinks/anchors)
      val exchanges = plan.split("\n\n").filter(_.contains(") Exchange"))
      assert(exchanges.nonEmpty, plan)
      assert(exchanges.forall(e => !e.contains("signature") &&
        !e.contains("anchors") && !e.contains("inlinks")), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      wipeCatalog("graft_crawldb_")
      wipeCatalog("graft_linkdb_")
    }
  }
}
