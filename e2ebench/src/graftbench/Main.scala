package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark harness: one pass of one workload in a fresh JVM.
  *
  * The JVM creates the session, builds the pass's inputs (set-up),
  * runs the timed region, checks the outputs and deletes them. The
  * pass is cold, as every `graft.Main` verb runs in a new JVM; a run
  * that wants more samples starts more JVMs. With `--trace 1` the pass
  * runs with the tracer attached and its per-layer metrics are
  * reported instead of the end-to-end ones.
  *
  * Writes one JSON file (`--out`) with the metrics, the pass and the
  * run's environment record. */
object Main {

  /** `startMs` is the epoch time the timed region began (0 if the
    * set-up failed). */
  final case class Pass(startMs: Long, setupS: Double, wallS: Double, cpuS: Double,
      items: Long, errors: Seq[String], layers: Map[String, Double], detail: String) {
    def ok: Boolean = errors.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val repo = Paths.get(a.getOrElse("repo", ".")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStart = Jvm.startMs()
    val env0 = Env.sample()
    val (spark, createS) = Env.timed(Session.create(cores, work))
    try {
      val wl: Workload = workload match {
        case "crawl" => new CrawlWorkload(spark, work, seed, hosts = 40, pages = 60,
          rounds = 1, linkrankIterations = 2)
        case "corpus" => new CorpusWorkload(spark, work, repo, seed, docs = 5000,
          evals = 200)
        case other => sys.error(s"unknown workload $other")
      }
      val p = runPass(spark, wl, new Tracer(spark), trace)
      System.err.println(f"[e2ebench] ${wl.name}" + (if (trace) " traced" else "") +
        f" setup ${p.setupS}%.2f s wall ${p.wallS}%.2f s cpu ${p.cpuS}%.2f s " +
        (if (p.ok) "ok" else "FAILED: " + p.errors.mkString("; ")))
      val env1 = Env.sample()
      val report = Report(wl, p, trace, jvmStart, createS, env0, env1,
        Env.calibrate(), cores)
      Files.write(Paths.get(a("out")), report.getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def runPass(spark: SparkSession, wl: Workload, tr: Tracer,
      traced: Boolean): Pass = {
    var errors = Seq.empty[String]
    def guard[A](what: String)(body: => A): Option[A] =
      try Some(body)
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          errors :+= s"$what threw ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    val (_, setupS) = Env.timed(guard("setup")(wl.setup()))
    var startMs = 0L
    var wallS, cpuS = 0.0
    var items = 0L
    var layers = Map.empty[String, Double]
    var detail = ""
    if (errors.isEmpty) {
      startMs = System.currentTimeMillis()
      val cpu0 = Jvm.cpuNs()
      val t0 = System.nanoTime()
      if (traced) {
        guard("pass")(tr.traced(wl.run(tr))).foreach { case (it, t) =>
          items = it
          wallS = (t.endMs - t.startMs) / 1000.0
          guard("layers") {
            layers = Layers.of(wl, t) ++ wl.layers(t)
            detail = Layers.detail(wl, t)
          }
        }
      } else {
        guard("pass")(wl.run(tr)).foreach(items = _)
        wallS = (System.nanoTime() - t0) / 1e9
      }
      cpuS = (Jvm.cpuNs() - cpu0) / 1e9
      if (errors.isEmpty) guard("check")(wl.check()).foreach(errors ++= _)
    }
    guard("cleanup")(wl.cleanup())
    Pass(startMs, setupS, wallS, cpuS, items, errors, layers, detail)
  }
}

/** The Spark session, configured as the CLI's `graft.Main` configures
  * its own (shuffle partitions, codegen cache, optimizer extensions),
  * with every scratch directory inside the work directory. */
object Session {
  def create(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the first job pays scheduler and executor start-up: session cost
    s.range(1).count()
    s
  }
}
