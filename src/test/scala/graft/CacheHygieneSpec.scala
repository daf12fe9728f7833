package graft

import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** Cache discipline for the iterative graph queries (VERDICT r10 #6):
  * linkrank caches its loop-invariant edge table and hits_scores
  * caches edges + nodes. The Q surfaces rely on Bench/Verify clearing
  * the block cache per query; a LIBRARY caller composing these must
  * instead get the finalEager hook, which materializes the small
  * result and unpersists every loop cache before returning. These
  * tests compose both and assert the session's CacheManager is left
  * EMPTY — a leaked |E|-sized cached block per call would accumulate
  * in any long-running service. */
class CacheHygieneSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("composing linkrank + hits with finalEager leaks zero cached plans") {
    spark.catalog.clearCache()
    assert(ColumnBridge.cacheIsEmpty(spark))
    val lr = QueriesGraph.buildLinkrank(spark, dir, finalEager = true)
    val hits = QueriesGraph.buildHits(
      Queries.t(spark, dir, "lineitem").selectExpr(
        "l_orderkey % 500 as src", "l_partkey % 500 + 500 as dst"),
      finalEager = true)
    // both results remain fully consumable after the unpersists...
    assert(lr.count() > 0 && hits.count() > 0)
    val joined = lr.join(hits, "url")
    assert(joined.count() > 0)
    // ...and no cached plan survives the composition
    assert(ColumnBridge.cacheIsEmpty(spark),
      "composed iterative queries leaked cached blocks")
  }

  test("the lazy Q surfaces do cache (what Bench/Verify must clear)") {
    spark.catalog.clearCache()
    val lr = Queries.byName("linkrank").build(spark, dir)
    assert(lr.count() > 0)
    // the lazy surface left its loop cache in place — the documented
    // contract that Bench/Verify clear per query; prove the clear works
    assert(!ColumnBridge.cacheIsEmpty(spark))
    spark.catalog.clearCache()
    assert(ColumnBridge.cacheIsEmpty(spark))
    // hits_scores pins its loop-invariant frames with EAGER
    // localCheckpoint since r16 (measured: the columnar cache build
    // cost ~10 CPU-s — OPTIMIZATION_r16.md item 21): its loop state
    // lives in RDD storage blocks, freed by the ContextCleaner once the
    // frames are GC'd (exactly like the per-half-step loop checkpoints
    // since r13) or eagerly by the finalEager hook — NOT in the
    // CacheManager.
    val hits = Queries.byName("hits_scores").build(spark, dir)
    assert(hits.count() > 0)
    assert(ColumnBridge.cacheIsEmpty(spark),
      "hits_scores' checkpoint pin must not register cached plans")
  }

  test("the decontamination gate's bench-gram cache has an owner: equal " +
    "plans never re-cache it and nothing stays cached") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.spark.sql.functions.col
    spark.catalog.clearCache()
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender(
        "graft-cache-capture", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Asked to cache already cached data")) msgs.add(m)
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    val priorLevel = rootCfg.getLevel
    rootCfg.addAppender(appender, Level.WARN, null)
    if (priorLevel.isMoreSpecificThan(Level.WARN)) rootCfg.setLevel(Level.WARN)
    ctx.updateLoggers()
    var selfCheck = 0
    val root = java.nio.file.Files.createTempDirectory("decon-cache").toString
    try {
      // self-check: a frame persisted twice MUST be captured, or the
      // zero-assertion below would pass vacuously
      val probe = spark.range(3).toDF("x")
      probe.persist(); probe.persist(); probe.unpersist()
      selfCheck = msgs.size
      msgs.clear()

      // the library call twice over equal plans (DecontaminateNormSpec's
      // shape): the caller passes no cache, so none is left behind
      val docs = Queries.t(spark, dir, "documents").select("doc_id", "text")
      def hits(): Long = QueriesPipeline.contaminationHits(
          QueriesPipeline.wordGrams8(docs),
          QueriesPipeline.wordGrams8(docs.where(col("doc_id") % 25 === 0))
            .select("g").distinct())
        .count()
      assert(hits() > 0)
      assert(hits() == hits())
      assert(ColumnBridge.cacheIsEmpty(spark))

      // the corpus verb persists its bench grams and frees them with its
      // other caches: two equal runs, nothing cached after either
      docs.where(col("doc_id") % 25 === 0).select("text")
        .write.parquet(s"$root/bench")
      for (out <- Seq("a", "b")) {
        assert(Main.run(spark, Array("corpus", dir, s"$root/$out",
          "-decontaminate", s"$root/bench")) == 0)
        assert(ColumnBridge.cacheIsEmpty(spark), s"after run $out")
      }
    } finally {
      rootCfg.removeAppender("graft-cache-capture")
      rootCfg.setLevel(priorLevel)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(selfCheck > 0, "capture self-check failed")
    assert(msgs.isEmpty, msgs.toArray.mkString("\n"))
  }

  test("corpus -neardup run twice leaves the CacheManager empty") {
    spark.catalog.clearCache()
    val root = java.nio.file.Files.createTempDirectory("neardup-cache").toString
    for (out <- Seq("a", "b")) {
      assert(Main.run(spark, Array("corpus", dir, s"$root/$out",
        "-neardup")) == 0)
      assert(ColumnBridge.cacheIsEmpty(spark), s"after run $out")
    }
  }
}
