package graftbench

/** Per-layer metrics of one traced pass, from its [[PassTrace]]. */
object Layers {

  /** Labels whose jobs get their own `<label>.jobs`, `.tasks`,
    * `.executor_cpu_s` and `.shuffle_mb`. */
  val SpanLabels: Seq[String] = Seq("ops.inject", "ops.round", "ops.finish",
    "webgraph.build", "webgraph.linkrank", "webgraph.scoreupdater",
    "corpus.label", "corpus.exactsubstr", "corpus.gates", "corpus.assign",
    "corpus.write")

  val Generic: Seq[String] = Seq("driver.self_s", "spark.jobs", "spark.stages",
    "spark.tasks", "catalyst.plan_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.task_skew", "spark.single_task_stages", "jvm.jit_s", "jvm.gc_s")

  val Workload: Seq[String] = Seq("ops.inject_s", "ops.generate_s",
    "ops.fetch_s", "ops.parse_s", "crawl.updatedb_s", "ops.round_other_s",
    "ops.finish_s", "tables.bytes_written_mb", "tables.write_amp",
    "webgraph.build_s", "webgraph.linkrank_s", "webgraph.scoreupdater_s",
    "corpus.label_s", "corpus.exactsubstr_s", "corpus.gates_s",
    "corpus.assign_s", "corpus.write_s")

  val PerSpan: Seq[String] =
    for (l <- SpanLabels; m <- Seq("jobs", "tasks", "executor_cpu_s", "shuffle_mb"))
      yield s"$l.$m"

  val names: Seq[String] = Generic ++ Workload ++ PerSpan

  /** A stage's skew counts only when its slowest task took this long;
    * shorter stages cannot hold up a pass. */
  val SkewFloorMs = 50L

  private final case class Agg(jobs: Int, tasks: Long, cpuS: Double, shuffleMb: Double)

  /** Jobs (with the stages each one ran) grouped by a key. */
  private def aggregate(t: PassTrace, key: JobRec => String): Map[String, Agg] = {
    val owner = t.jobs.sortBy(_.id).flatMap(j => j.stageIds.map(_ -> j))
      .groupBy(_._1).map { case (s, js) => s -> js.head._2.id }
    t.jobs.groupBy(key).map { case (k, js) =>
      val ids = js.map(_.id).toSet
      val st = t.stages.values.filter(s => owner.get(s.id).exists(ids))
      k -> Agg(js.size, st.map(_.tasks.toLong).sum, st.map(_.cpuNs).sum / 1e9,
        st.map(s => s.shuffleWrite + s.shuffleRead).sum / 1e6)
    }
  }

  def of(wl: Workload, t: PassTrace): Map[String, Double] = {
    val st = t.stages.values.toSeq
    val skewed = st.filter(s => s.tasks >= 2 && s.maxTaskMs >= SkewFloorMs)
    val generic = Map(
      "driver.self_s" -> Tracer.idleSeconds(t.startMs, t.endMs, t.jobs),
      "spark.jobs" -> t.jobs.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "catalyst.plan_s" -> t.planMs / 1000.0,
      "spark.executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> st.map(_.spill).sum / 1e6,
      "spark.task_skew" -> (if (skewed.isEmpty) 1.0 else skewed.map(s =>
        s.maxTaskMs.toDouble / math.max(1L, s.medianTaskMs)).max),
      "spark.single_task_stages" -> st.count(_.tasks == 1).toDouble,
      "jvm.jit_s" -> t.jitMs / 1000.0,
      "jvm.gc_s" -> t.gcMs / 1000.0)
    val lab = wl.labels(t)
    val perSpan = aggregate(t, j => lab(j.id)).toSeq.flatMap { case (l, a) =>
      Seq(s"$l.jobs" -> a.jobs.toDouble, s"$l.tasks" -> a.tasks.toDouble,
        s"$l.executor_cpu_s" -> a.cpuS, s"$l.shuffle_mb" -> a.shuffleMb)
    }
    generic ++ perSpan
  }

  /** Source file of each job's call site. Jobs that adaptive execution
    * submits from its own threads have no program frame; they take the
    * file of the job before them. */
  def siteFiles(t: PassTrace): Map[Int, String] = {
    var last = "unknown"
    t.jobs.sortBy(_.startMs).map { j =>
      val f = Tracer.siteFile(j.site)
      if (f.endsWith(".scala")) last = f
      j.id -> last
    }.toMap
  }

  /** Jobs by label and by the source file of their call site. */
  def detail(wl: Workload, t: PassTrace): String = {
    val lab = wl.labels(t)
    val file = siteFiles(t)
    val byLabel = t.jobs.groupBy(j => lab(j.id))
    Json.obj(byLabel.toSeq.sortBy(_._1).map { case (l, js) =>
      val sub = t.copy(jobs = js)
      l -> Json.obj(aggregate(sub, j => file(j.id)).toSeq
        .sortBy(-_._2.cpuS).map { case (f, a) =>
          f -> Json.obj(Seq("jobs" -> Json.num(a.jobs), "tasks" -> Json.num(a.tasks),
            "executor_cpu_s" -> Json.num(a.cpuS), "shuffle_mb" -> Json.num(a.shuffleMb)))
        })
    })
  }
}

/** The harness's JSON file. */
object Report {

  def apply(wl: Workload, p: Main.Pass, trace: Boolean, jvmStartMs: Long,
      createS: Double, env0: EnvSample, env1: EnvSample, calibS: Double,
      cores: Int): String = {
    // JVM start to the start of the timed region: session creation and
    // the pass's own input set-up
    val setupS = (p.startMs - jvmStartMs) / 1000.0
    val envFields = Seq(
      "steal_s" -> Json.num(env1.stealS - env0.stealS),
      "run_s" -> Json.num((env1.atMs - env0.atMs) / 1000.0),
      "load_avg_start" -> Json.num(env0.load1),
      "load_avg_end" -> Json.num(env1.load1),
      "calib_s" -> Json.num(calibS),
      "cores" -> Json.num(cores),
      "host_cpus" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1048576L),
      "jvm_flags" -> Json.arr(Jvm.flags().map(Json.str)),
      "jvm_jit_s" -> Json.num(Jvm.jitMs() / 1000.0),
      "jvm_gc_s" -> Json.num(Jvm.gcMs() / 1000.0),
      "session_create_s" -> Json.num(createS))
    // a pass whose check failed still ran its timed region; one whose
    // set-up or timed region threw has no figures
    val metrics: Seq[(String, Double)] =
      if (p.startMs == 0 || p.wallS <= 0) Nil
      else if (!trace) Seq(
        "setup_s" -> setupS,
        "cold_s" -> p.wallS,
        "wall_s" -> (setupS + p.wallS),
        "items_per_s" -> p.items / p.wallS,
        "cpu_s" -> p.cpuS)
      else Layers.names.map(n => n -> p.layers.getOrElse(n, 0.0)) ++ Seq(
        "session.create_s" -> createS,
        "env.steal_s" -> (env1.stealS - env0.stealS),
        "env.load_avg" -> (env0.load1 + env1.load1) / 2,
        "env.calib_s" -> calibS)
    Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "correct" -> p.ok.toString,
      "errors" -> Json.arr(p.errors.map(Json.str)),
      "items" -> Json.num(p.items),
      "items_label" -> Json.str(wl.itemsLabel),
      "timed_s" -> Json.num(p.wallS),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(envFields)) ++
      (if (p.detail.nonEmpty) Seq("jobs_by_label_and_file" -> p.detail) else Nil))
  }
}

/** Just enough JSON writing for the report. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
