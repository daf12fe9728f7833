package graft

/** Driver-run benchmark: times every registered query at the given SF,
  * prints one JSON line. Per-query failures are REPORTED (name → error in
  * an "errors" map, timing −1), never swallowed — a broken query must not
  * look fast. The block-manager cache is cleared between queries so
  * intra-query .cache() calls (minhash/simhash/ivf) can't leak memory
  * into later measurements.
  *
  * Each query runs REPS times (default 3, `SPARK_GRAFT_BENCH_REPS`) in
  * one JVM, INTERLEAVED round-robin across the board so one bursty
  * noise window can't own all of a query's reps (comment at the loop);
  * the headline number per query is the MEDIAN and the "min"
  * map carries the per-query best. A contended container inflates wall
  * clock uniformly — the median de-noises the individual spike, the min
  * approximates the uncontended cost, and the before/after system load
  * averages let a reader judge whether the run was clean.
  *
  * == Container-spread normalization (r13 verdict #1) ==
  * Same-code wall clock was measured to differ ~24% NEAR-UNIFORMLY
  * between container sessions even at load ~1 (CPU frequency scaling /
  * steal — invisible to load averages), so raw wall diffs below that
  * spread are noise. Two spread-invariant signals ship in every
  * artifact:
  *  - `cpu_sec`: per-query executor task CPU (min over reps, summed
  *    from stage TaskMetrics.executorCpuTime). Scheduling contention
  *    inflates wall but not CPU; compare THIS round-over-round.
  *  - `calib_sec_before` / `calib_sec_after`: min-of-3 wall of a fixed
  *    CPU-bound calibration workload (64M short-string md5 + sum, zero
  *    shuffle) run before and after the board in the same JVM. Its
  *    round-over-round ratio measures what CPU time can't (frequency):
  *    divide a wall diff by the calib ratio before reading it as a
  *    plan change; before≠after flags mid-run environment drift. */
object Bench {
  private def jstr(s: String): String = Json.str(s)

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Best-effort cgroup CPU quota in cores (v2 cpu.max, then v1
    * cfs_quota/period) — null when unlimited/absent. Lets a reader of
    * a contended artifact see how much CPU the container was actually
    * ENTITLED to, not just how loaded the host looked (r15 verdict
    * hygiene item #2). */
  private def cgroupQuotaCores: Option[Double] = try {
    val v2 = java.nio.file.Paths.get("/sys/fs/cgroup/cpu.max")
    if (java.nio.file.Files.exists(v2)) {
      val parts = java.nio.file.Files.readString(v2).trim.split("\\s+")
      if (parts(0) == "max") None
      else Some(parts(0).toDouble / parts(1).toDouble)
    } else {
      val q = java.nio.file.Files.readString(java.nio.file.Paths
        .get("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")).trim.toLong
      val p = java.nio.file.Files.readString(java.nio.file.Paths
        .get("/sys/fs/cgroup/cpu/cpu.cfs_period_us")).trim.toLong
      if (q <= 0 || p <= 0) None else Some(q.toDouble / p.toDouble)
    }
  } catch { case _: Exception => None }

  /** (busy, total) jiffies across all host CPUs from /proc/stat —
    * sampled before and after the board, their delta ratio is the
    * whole-run host CPU utilization: a contended run self-describes
    * with the fraction of machine CPU that was busy while it ran
    * (load averages lag and saturate; this does not). */
  private def procStatJiffies: Option[(Long, Long)] = try {
    val line = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).get
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val idle = f(3) + (if (f.length > 4) f(4) else 0L) // idle + iowait
    Some((f.sum - idle, f.sum))
  } catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession(s"local[$cpus]", cpus)
    val loadBefore = loadAvg
    val statBefore = procStatJiffies
    // untimed warmup: JVM/codegen/parquet-footer costs land here, not in
    // whichever query happens to run first
    try {
      Tables.names.foreach(t =>
        Tables(spark, sfDir, t).limit(1).count())
      // warm the noop-sink WRITE path and the SHUFFLE subsystem too
      // (commit protocol, exchange codegen, shuffle file managers):
      // rep 1 of the alphabetically-first query otherwise pays them
      spark.range(100000).selectExpr("md5(cast(id as string)) as h",
          "id % 97 as k")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // local iteration: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    // fixed calibration workload (header): CPU-bound, shuffle-free,
    // deterministic — its wall clock moves ONLY with the container's
    // effective CPU speed, so its round-over-round ratio rescales the
    // board's wall numbers. min-of-3 (same de-noising as the queries).
    def calibrate(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 64000000L, 1L, cpus.toInt)
        .selectExpr("md5(cast(id as string)) as h")
        .selectExpr("sum(length(h)) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val calibBefore = calibrate()
    // Reps are INTERLEAVED round-robin (rep 1 of every query, then
    // rep 2, ...), not run back-to-back per query: container noise is
    // bursty on the tens-of-seconds scale, so back-to-back reps of one
    // query all land in the same noise window and min-of-reps can't
    // strip it — measured on this box as ~11-15% median per-query
    // same-code spread between two full runs. Round-robin places a
    // query's reps ~minutes apart, so its min samples independent
    // windows. Codegen/plan caches are JVM-wide and survive the
    // interleave; the block-manager cache is still cleared after every
    // execution so intra-query .cache() calls can't leak across.
    val benched = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val errs0 = scala.collection.mutable.Map.empty[String, String]
    val wall = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val cpu = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val shuf = scala.collection.mutable.Map.empty[String, Double]
    for (_ <- 1 to reps; (name, fn) <- benched
        if !errs0.contains(name)) {
      meter.reset()
      val t0 = System.nanoTime()
      // noop sink, not .count(): count() lets Catalyst prune every
      // output column and eliminate left joins whose right side is a
      // provably-unique aggregate, so join-shaped queries (index_docs,
      // score_updater, doc_fingerprint) would bench as bare scans.
      // The noop sink consumes all columns of every row — the full
      // plan executes, nothing written.
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        errs0(name) = e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage).replace('\n', ' ').take(160)
      }
      spark.catalog.clearCache()
      val dt = (System.nanoTime() - t0) / 1e9
      // flush the async listener bus so the meter has this query's
      // stages before we read it (outside the timed window)
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      if (!errs0.contains(name)) {
        wall(name) = wall(name) :+ dt
        cpu(name) = cpu(name) :+ meter.cpuSec
        shuf(name) = meter.mb
      }
    }
    val results = benched.map { case (name, _) =>
      if (errs0.contains(name))
        BenchRow(name, -1.0, -1.0, -1.0, -1.0, Some(errs0(name)),
          wall(name))
      else {
        val times = wall(name)
        val sorted = times.sorted
        // min over reps: strips first-rep codegen/page-cache residue
        // AND (via the interleave) per-window container noise
        BenchRow(name, sorted(sorted.length / 2), sorted.head,
          cpu(name).min, shuf(name), None, times)
      }
    }
    val calibAfter = calibrate()
    val loadAfter = loadAvg
    // whole-run host CPU utilization + container CPU entitlement —
    // additive self-description fields (r15 verdict hygiene #2); the
    // timing methodology and every pre-existing field are unchanged
    val hostBusyFrac: Option[Double] = for {
      (b0, t0) <- statBefore; (b1, t1) <- procStatJiffies
      if t1 > t0
    } yield (b1 - b0).toDouble / (t1 - t0)
    val envFields =
      s""""cgroup_cpu_quota_cores":${
        cgroupQuotaCores.fold("null")(_.toString)},""" +
      s""""host_cpu_busy_frac":${
        hostBusyFrac.fold("null")(v =>
          (math.round(v * 1000) / 1000.0).toString)}"""
    // Self-labeling for contended runs: r12's committed headline was a
    // load-19 artifact silently diffed against an idle detail (~19%
    // apart, same code). Threshold: half the benched core count — on a
    // 32-core container a pre-existing load average above cpus/2 means
    // this JVM shared the machine with real work for most of the run,
    // so the wall-clock totals overstate the engine's cost. The flag
    // does not change any number; it tells a reader which artifact is
    // trustworthy for round-over-round comparison. BOTH ends of the
    // run are tested: a run that starts idle but gains a noisy
    // neighbor mid-run (loadAfter high) is just as polluted as one
    // that starts loaded.
    val contendedThreshold = cpus.toInt / 2.0
    val contended = math.max(loadBefore, loadAfter) > contendedThreshold
    // one id stamped into BOTH artifacts of this invocation (the
    // parsed summary line and the detail file): a reader diffing a
    // headline against a detail can check they describe the SAME run
    // — r11's artifacts came from different runs (one contended, one
    // idle) and read as phantom 7x regressions
    val runId = s"bench-${System.currentTimeMillis()}"
    def r3r(v: Double) = math.round(v * 1000) / 1000.0
    val qs = results.map(r => jstr(r.name) + ":" + r.median)
      .mkString("{", ",", "}")
    val mins = results.map(r => jstr(r.name) + ":" + r.min)
      .mkString("{", ",", "}")
    val cpus_ = results.map(r => jstr(r.name) + ":" + r3r(r.cpuSec))
      .mkString("{", ",", "}")
    val shufs = results.map(r =>
      jstr(r.name) + ":" + (math.round(r.shuffleMb * 100) / 100.0))
      .mkString("{", ",", "}")
    val errs = results.collect { case r if r.err.isDefined =>
      jstr(r.name) + ":" + jstr(r.err.get) }
      .mkString("{", ",", "}")
    // per-rep raw times: a contended first rep (driver load, cold page
    // cache) is visible instead of silently folded into the median
    val repsMap = results.map(r =>
      jstr(r.name) + ":" + r.reps.map(r3r).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val total = results.filter(_.median >= 0).map(_.median).sum
    val totalMin = results.filter(_.min >= 0).map(_.min).sum
    val totalCpu = results.filter(_.cpuSec >= 0).map(_.cpuSec).sum
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","run_id":"$runId","reps":$reps,"total_min":$totalMin,"total_cpu":${r3r(totalCpu)},"calib_sec_before":${r3r(calibBefore)},"calib_sec_after":${r3r(calibAfter)},"queries":$qs,"min":$mins,"cpu_sec":$cpus_,"shuffle_mb":$shufs,"rep_sec":$repsMap,"errors":$errs,"load_avg_before":$loadBefore,"load_avg_after":$loadAfter,$envFields,"contended":$contended,"contended_threshold":$contendedThreshold,"sf":"$sfDir"}"""
    println(fullLine)
    // the driver's artifact keeps only the tail of stdout, so the full
    // per-query map above survives for ~35 of 130+ queries — ALSO write
    // it as its own file so round-over-round regression diffs can cover
    // the whole board (SPARK_GRAFT_BENCH_DETAIL overrides the path;
    // empty disables)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    if (detailPath.nonEmpty)
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(detailPath), fullLine + "\n")
        // ALSO keep a core-count-keyed copy: the driver benches the
        // same board at two core counts and the second run used to
        // overwrite the first's full per-query map (r15 verdict #2 —
        // the 32-core driver detail was lost to the 8-core re-run);
        // with the _c<cpus> sibling both run_ids survive per round
        if (detailPath == "BENCH_DETAIL.json")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"BENCH_DETAIL_c$cpus.json"),
            fullLine + "\n")
      } catch { case e: Exception =>
        System.err.println(s"[bench] detail write failed: $e") }
    // The driver records only the last ~2000 chars of output and
    // json-parses what it finds there; with 100+ queries the full line
    // above (printed first, for humans and logs) cannot fit that
    // window — every BENCH_r*.json so far has parsed:null. So the LAST
    // line is a compact summary guaranteed to fit: headline totals,
    // the full error map, and the slowest queries only.
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    val slowest = results.filter(_.median >= 0).sortBy(-_.median).take(12)
      .map(r => jstr(r.name) + ":" + r3(r.median))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","run_id":"$runId","reps":$reps,"total_min":${r3(totalMin)},"total_cpu":${r3(totalCpu)},"calib_sec_before":${r3(calibBefore)},"calib_sec_after":${r3(calibAfter)},"n_queries":${results.size},"queries":$slowest,"queries_note":"12 slowest of ${results.size}; full per-query map shares this run_id in BENCH_DETAIL","errors":$errs,"load_avg_before":$loadBefore,"load_avg_after":$loadAfter,$envFields,"contended":$contended,"contended_threshold":$contendedThreshold,"sf":"$sfDir"}""")
    if (results.exists(_.err.isDefined)) {
      results.foreach(r =>
        r.err.foreach(m => System.err.println(s"[bench] ${r.name} FAILED: $m")))
      sys.exit(1)
    }
    spark.stop()
  }

  /** One benched query: wall median/min over reps, executor-CPU min
    * (the spread-invariant number — header), last-rep shuffle volume. */
  private final case class BenchRow(name: String, median: Double,
    min: Double, cpuSec: Double, shuffleMb: Double,
    err: Option[String], reps: Vector[Double])
}
