package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. The CLI and REST server
  * (`Main.session`), `Bench`, `Verify`, `ScaleProbe` and `PlanDump`
  * differ only in the arguments: where the master and the shuffle width
  * come from. Every one of them runs the same optimizer: GraftExtensions
  * is always installed, so the oracle checks, the bench times and the
  * plan dump shows what the CLI and REST run. To switch a rule off on a
  * live session, name it in Spark's own
  * `spark.sql.optimizer.excludedRules` (`graft.plans.RewriteBoundedTopK`,
  * `graft.plans.RewriteWindowAggToJoin`,
  * `graft.plans.RewriteKeeperElection`).
  *
  * `ui = true` leaves the Spark UI at Spark's default (the product
  * session's choice); every other entry point turns it off. The session
  * time zone is UTC everywhere: the oracle board is checked under UTC,
  * so a bench or plan dump under another zone would measure a different
  * computation. */
object GraftSession {

  def apply(master: String, shufflePartitions: String,
      appName: Option[String] = None, ui: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // 159 distinct query shapes thrash Spark's default 100-entry
      // codegen class cache: an evicted generated class re-earns JIT
      // from zero on its next use, so a query's interleaved bench reps
      // each load a FRESH class (measured in Bench: ~5× executor CPU
      // on explode-heavy queries, ~25% whole-board wall; a bigger
      // ReservedCodeCacheSize alone does not help, because the JIT
      // state dies with the class). Static conf, so set at build.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    if (!ui) b.config("spark.ui.enabled", "false")
    appName.foreach(b.appName)
    b.withExtensions(new graft.plans.GraftExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
