package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.scalatest.funsuite.AnyFunSuite

/** Hint hygiene over the whole board (r13 verdict What's-wrong #3):
  * a `broadcast()` hint Spark cannot honor (e.g. on either side of a
  * full-outer join) is silently dropped with a HintErrorLogger WARN —
  * the plan still runs, so nothing else catches the dead hint. The
  * board holds the same discipline for these as for unpartitioned
  * windows (zero tolerated): physically plan EVERY registered query
  * and assert the hint-error log stays silent. */
class HintHygieneSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("planning every board query emits zero HintErrorLogger warnings") {
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender(
        "graft-hint-capture", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.contains("HintErrorLogger"))
          msgs.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    val priorLevel = rootCfg.getLevel
    rootCfg.addAppender(appender, Level.WARN, null)
    // hint warnings fire at WARN; the suite may be running quieter
    if (priorLevel.isMoreSpecificThan(Level.WARN))
      rootCfg.setLevel(Level.WARN)
    ctx.updateLoggers()
    var selfCheck = 0
    try {
      // self-check first: a deliberately-dead hint (broadcast on a
      // full-outer join) MUST be captured, or the zero-assertion
      // below would pass vacuously on a broken capture path
      import org.apache.spark.sql.functions.{broadcast, col, lit}
      val a = spark.range(4).select(col("id"), lit(1).as("x"))
      val b = spark.range(4).select(col("id"), lit(2).as("y"))
      a.join(broadcast(b), Seq("id"), "full_outer")
        .queryExecution.executedPlan
      selfCheck = msgs.size
      msgs.clear()
      Queries.all.foreach { q =>
        // executedPlan forces physical planning (JoinSelection is
        // where an unhonorable join hint is reported) without
        // running a single job for most queries
        val df = q.build(spark, dir)
        df.queryExecution.executedPlan
        // the Q contract: the caller clears what a build pinned
        spark.catalog.clearCache()
      }
    } finally {
      rootCfg.removeAppender("graft-hint-capture")
      rootCfg.setLevel(priorLevel)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(selfCheck > 0,
      "capture self-check failed: a planted dead hint produced no " +
        "HintErrorLogger event — the zero-assertion would be vacuous")
    val hints = msgs.toArray(Array.empty[String])
    assert(hints.isEmpty,
      s"dead hints on the board:\n${hints.mkString("\n")}")
  }
}
