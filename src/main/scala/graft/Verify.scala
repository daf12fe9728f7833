package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_EXTENSIONS=1: run the whole board under
    // GraftExtensions (incl. the window-agg-to-join rewrite) — the
    // dogfood proof that the optimizer rules are answer-preserving on
    // every oracle-checked query, not only on their own spec
    val spark = GraftSession(s"local[$cpus]", cpus,
      extensions = sys.env.get("SPARK_GRAFT_EXTENSIONS").contains("1"))
    new java.io.File(outDir).mkdirs()
    // per-query stdout record (r15, verdict Next #4): two of the last
    // three driver-side CORRECTNESS artifacts arrived as empty {}
    // while the queries themselves were green — the driver keeps
    // stdout tails, so Verify itself now prints one line per query
    // (rows written or the failure) plus a final VERIFY_SUMMARY JSON
    // line. A blanked round artifact can then be reconstructed (or at
    // least disbelieved) from the run's own transcript.
    val rows = scala.collection.mutable.TreeMap.empty[String, Long]
    val failed = scala.collection.mutable.TreeMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // footer-metadata count of what was just written — the number
        // the driver's oracle compare will read
        val n = spark.read.parquet(s"$outDir/$name").count()
        rows(name) = n
        println(s"[verify] $name rows=$n")
      } catch { case e: Throwable =>
        failed(name) = String.valueOf(e.getMessage).replace('\n', ' ')
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        println(s"[verify] $name FAILED")
      }
      spark.catalog.clearCache() // drop intra-query .cache() blocks
    }
    println("VERIFY_SUMMARY " +
      s"""{"sf_dir":${Json.str(sfDir)},"n_ok":${rows.size},""" +
      s""""n_failed":${failed.size},""" +
      s""""failed":${failed.keys.map(Json.str).mkString("[", ",", "]")},""" +
      s""""rows":${rows.map { case (k, v) => s"${Json.str(k)}:$v" }
        .mkString("{", ",", "}")}}""")
    // JSON string escape (graft.Json): backslash, quote, and ALL control
    // chars — a tab or CR in builder-authored SQL would otherwise make
    // the driver's json.load fail and silently zero the round.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
