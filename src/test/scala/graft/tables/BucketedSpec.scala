package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The bucketed-layout claim, proven on the physical plan: a url-keyed
  * join between two tables bucketed the same way plans WITHOUT an
  * Exchange on either side, while the identical join over plain parquet
  * shuffles both. This is the co-located-join story the 100 TB CrawlDb
  * relies on (SURVEY §4 partitioning; Bucketed scaladoc). */
class BucketedSpec extends AnyFunSuite with SparkSuite {

  private def rows(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (s"http://h${i % 17}.com/p$i", i.toLong, i * 1.5f))
      .toDF("url", "fetchTime", "score")
  }

  test("same-bucket-count url join plans zero Exchange; plain parquet shuffles") {
    val root = Files.createTempDirectory("graft-bucketed").toString
    val a = rows(500)
    val b = rows(300).withColumnRenamed("score", "score2")
      .withColumnRenamed("fetchTime", "ft2")
    // the test tables are tiny: park auto-broadcast so the plan shows
    // the SortMergeJoin shape the layouts produce at real scale
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      Bucketed.install(a, "b_crawldb", s"$root/crawldb", buckets = 8)
      Bucketed.install(b, "b_fetch", s"$root/fetch", buckets = 8)
      val bucketed = Bucketed.read(spark, "b_crawldb")
        .join(Bucketed.read(spark, "b_fetch"), "url")
      bucketed.collect() // AQE finalizes
      val bp = bucketed.queryExecution.explainString(FormattedMode)
      assert(!bp.contains("Exchange"), bp)
      assert(bp.contains("SortMergeJoin"), bp)
      assert(bp.contains("Bucketed: true"), bp)

      // A/B: identical data as plain parquet — both sides shuffle
      a.write.mode("overwrite").parquet(s"$root/plain_a")
      b.write.mode("overwrite").parquet(s"$root/plain_b")
      val plain = spark.read.parquet(s"$root/plain_a")
        .join(spark.read.parquet(s"$root/plain_b"), "url")
      plain.collect()
      val pp = plain.queryExecution.explainString(FormattedMode)
      assert(pp.contains("Exchange"), pp)

      // correctness parity between the two layouts
      assert(bucketed.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.sql("DROP TABLE IF EXISTS b_crawldb")
      spark.sql("DROP TABLE IF EXISTS b_fetch")
    }
  }

  test("bucketed install is generation-swappable (drop + recreate)") {
    val root = Files.createTempDirectory("graft-bucketed2").toString
    Bucketed.install(rows(100), "b_gen", s"$root/g1", buckets = 4)
    assert(Bucketed.read(spark, "b_gen").count() == 100)
    // next generation: same name, new path — the copy-on-write pattern
    Bucketed.install(rows(150), "b_gen", s"$root/g2", buckets = 4)
    assert(Bucketed.read(spark, "b_gen").count() == 150)
    spark.sql("DROP TABLE IF EXISTS b_gen")
  }

  test("bucketed crawldb resumes after a catalog wipe (new JVM)") {
    import spark.implicits._
    import graft.schemas.{CrawlDatum, CrawlRow}
    val root = Files.createTempDirectory("graft-bucketed3").toString
    val t = CrawlDbStore.open(spark, root, Some(4))
    val data = (1 to 60).map(i =>
      CrawlRow(s"http://h${i % 7}.com/p$i", CrawlDatum.unfetched(i.toLong, 30)))
    t.install(data.toDS(), "n1")
    assert(t.read().count() == 60)

    // simulate a fresh JVM: the GENERATION pointer survives on disk but
    // saveAsTable's catalog entry does not — drop it
    val tbl = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_crawldb_"))
    assert(tbl.nonEmpty)
    tbl.foreach(n => spark.sql(s"DROP TABLE `$n`"))

    val t2 = CrawlDbStore.open(spark, root)
    val resumed = t2.read()
    assert(resumed.collect().map(_.url).sorted.toSeq ==
      data.map(_.url).sorted)
    // the re-registered table still carries the bucket layout
    val n2 = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_crawldb_"))
    assert(n2.nonEmpty)
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED `${n2.head}`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Num Buckets").contains("4"), desc)
    assert(desc.get("Bucket Columns").exists(_.contains("url")), desc)
    n2.foreach(n => spark.sql(s"DROP TABLE `$n`"))
  }
}
