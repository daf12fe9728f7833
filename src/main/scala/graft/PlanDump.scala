package graft
import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: write `.explain("formatted")` of
  * every registered query to `<outDir>/<name>_<suffix>.txt` so plan
  * claims (Exchange counts, join strategies, PushedFilters/ReadSchema)
  * are checkable against committed artifacts without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *
  * The session mirrors Bench's (same GraftSession master and shuffle
  * width) so the captured plan is the one the bench actually executes.
  * NOTE: queries with eager segments (localCheckpoint loops) execute
  * those segments during construction — the dump costs roughly one
  * bench rep; the captured plan for such queries describes the FINAL
  * frame over its materialized inputs, which is exactly what the timed
  * noop sink consumes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus, extensions = false)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"[plan] $name -> ${name}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plan] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
