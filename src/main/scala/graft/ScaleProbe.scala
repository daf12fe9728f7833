package graft

import org.apache.spark.sql.SparkSession

/** Scale-growth probe: runs the heaviest registered queries with the
  * tables inflated ×N IN-PLAN (`Inflate`: explode + key remap, scan
  * stays base-sized) at N = 1, 10, 100, plus a full crawl-conductor
  * round over a mock site whose host count scales ×N, and records wall
  * seconds and shuffle-write MB per (query, N).
  *
  * The point: convert "this plan would survive a 100× scale-up" from a
  * plan-shape judgment into a measured fact. A query whose shuffle
  * bytes grow ≤ ~linearly in N has no hidden cross-join / replicated
  * broadcast / quadratic candidate structure; superlinear growth (past
  * a noise floor) fails the probe with exit 1.
  *
  * Output: one JSON file (default `SCALE_r9.json`) with per-query
  * series and per-transition growth verdicts, plus a human summary on
  * stdout.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — ×100 reaches sf1-scale
  * fact tables), SPARK_GRAFT_SCALE_FACTORS (default "1,10,100"),
  * SPARK_GRAFT_SCALE_QUERIES (subset filter), SPARK_GRAFT_CPUS.
  */
object ScaleProbe {

  /** The heaviest / most shuffle-shaped queries on the board: every
    * join family (state machine, 5-way cogroup index, dedup merge),
    * the iterative graph loop, the window/streaming twins, and the
    * candidate-generating dedup ladder. */
  val defaultQueries: Seq[String] = Seq(
    "updatedb_state_machine", "webgraph_build", "linkrank",
    "opic_distribute", "score_updater", "node_degrees", "index_docs",
    "dedup_merge", "minhash_lsh", "ngram_jaccard", "pipeline_compose",
    "sessionize", "sliding_rate", "incremental_dedup",
    "host_cap_skewsafe", "webgraph_dedup", "dedup_clusters",
    "tdigest_values", "exact_substr_dedup",
    // late-r10 additions: span removal against increment-internal dups,
    // bigram-LM scoring (Zipfian head-word join), C4 url canonical
    // dedup, the Bloom-prefiltered exact probe, and the MG sketch
    // (whose map-side state is capacity-bounded, so its aggregation
    // shuffle should stay ~FLAT as rows and distinct keys grow ×N —
    // at ×100 the sketch leaves its exact regime, which the probe
    // doesn't mind: it measures growth, not answers)
    "incremental_substr", "lm_bigram_score", "url_dedup",
    "bloom_dedup", "heavy_hitters", "hits_scores",
    // r11: the two-phase prefix scan replacing the last data-sized
    // group-partitioned window (pack_chunks) — probe that the scan's
    // two narrow shuffles grow ~linearly and never re-concentrate —
    // and the Lloyd training loop (broadcast centroids: per-iteration
    // shuffle must track n, never n×K)
    "pack_chunks", "kmeans_train",
    // the tercile gate: doc-sized work is joins; the only window runs
    // over the per-(lang, score) histogram, bounded by the bp grid
    "ccnet_buckets",
    // r12: the windowed as-of carry (per-user state), the star-edge
    // leakage split (edges linear in postings), DSIR (two narrow count
    // shuffles + a ≤ B-row broadcast), and BPE training (corpus-sized
    // work = ONE word count; rounds run on the vocab table, which
    // grows sublinearly in corpus size). range_join is deliberately
    // NOT in the inflate series: inflating both sides ×N in the same
    // value domain multiplies band count AND matches-per-band, so the
    // TRUE OUTPUT grows ×N² (5.9G joined rows at ×100) — a property of
    // the question, not the algorithm; the custom range_join_kn series
    // below scales at constant selectivity instead (width ∝ 1/N keeps
    // matches-per-band fixed ⇒ output ∝ N) to measure the grid
    // decomposition itself.
    "asof_join", "leakage_split", "dsir_select", "bpe_train",
    // curriculum_order: histogram quartiles + PrefixSum interleave
    // ranks — the two skew disciplines composed; both must stay linear
    "curriculum_order",
    // r13: soft dedup — line-hash document frequency + join back; the
    // line_dedup shuffle family, must stay linear like its siblings
    "soft_dedup",
    // r14: ranked retrieval (one token explode, three combinable
    // counts, broadcast dims, TakeOrdered) and the tokenizer's
    // frozen-replay half (vocab-bounded passes — the corpus enters
    // only through the word count)
    "bm25_search", "bpe_encode",
    // r15: the tokenizer's decode half (vocab-sized token-frame
    // groupBy + one corpus-keyed reassembly join), the trained
    // centroid classifier (one featurize pass + 65-row broadcast
    // model — scoring shuffle must track the feature frame, ∝ n),
    // and the KN bigram LM (three combinable count aggs off one
    // bigram-type frame + two Zipf-keyed scoring joins)
    "bpe_decode", "centroid_score", "kn_bigram_ppl")
  // semantic_dedup is deliberately NOT probed: continuous-similarity
  // dedup at τ=0.9 has an irreducible LSH random-collision floor
  // (p₂ > 0 for any family ⇒ candidates grow ~p₂·n²/cells; measured
  // here: 1.74 → 3133 MB shuffle for ×10 → ×100 on uniform-random
  // inflated embeddings — the probe's worst case, since inflation
  // grows cluster sizes, not cluster count). Exact-content dedup
  // (minhash_lsh, ngram_jaccard) probes linear because its md5 band
  // keys have ~zero random-collision mass. See QueriesEmbed
  // .semanticDedup's scale note for the operator's actual knob
  // (cluster count ∝ n, the paper's own regime).

  /** `joins` is the AQE-FINAL join inventory of the measured plan
    * (e.g. "bhj=2,smj=1") — captured from the executed plan, not the
    * static one, because the broadcast-vs-SMJ choice is made at
    * runtime and is exactly what changes between scale decades. */
  final case class Point(n: Int, sec: Double, shuffleMb: Double,
      err: Option[String], joins: String = "", cpuSec: Double = -1.0)

  /** Growth verdict for one query series: for each consecutive factor
    * pair, shuffle must grow ≤ slack×linear once past the noise floor.
    * Pairs whose executed plans have DIFFERENT join inventories are a
    * plan TRANSITION (AQE flipping broadcast→SMJ as a side outgrows
    * the threshold): the smaller point's shuffle is broadcast-
    * suppressed, so the ratio measures the flip, not the growth law —
    * those pairs go to [[transitions]] for the next same-shape pair to
    * settle, instead of failing the probe at the tight bound.
    *
    * A series with NO same-shape pair must not escape the verdict
    * entirely (the growth being probed can itself CAUSE the flip, by
    * outgrowing the broadcast threshold): its transition pairs are
    * judged at `flipAllowance ×` the linear slack. A genuine one-time
    * flip adds a bounded newly-shuffled side and stays inside the
    * allowance at probe scales; quadratic candidate growth (×100 per
    * decade) blows far past it. Exceeding even the loose bound fails
    * loudly — re-probe with the join strategy pinned to separate flip
    * from growth.
    *
    * A failing series is NOT rescued analytically: three points cannot
    * distinguish a noisy midpoint (AQE sizing a borderline broadcast
    * differently between runs shrinks one denominator) from late-onset
    * quadratic growth hiding under a fixed-overhead floor — any
    * envelope or trend test that forgives the first also forgives the
    * second. The probe instead RE-MEASURES a failing query's whole
    * series once (main loop): a noisy plan choice rarely repeats, a
    * growth law always does; passing on the retry is recorded in the
    * JSON `retried` list, never silent, and failing twice fails the
    * probe. */
  def superlinear(pts: Seq[Point], slack: Double = 1.6,
      floorMb: Double = 5.0, flipAllowance: Double = 3.0): Seq[String] = {
    val pairs = validPairs(pts)
    val same = pairs.filter { case (a, b) => a.joins == b.joins }
    val tight = same.collect {
      case (a, b) if b.shuffleMb > floorMb && a.shuffleMb > 0 &&
          b.shuffleMb / a.shuffleMb > slack * (b.n.toDouble / a.n) =>
        pairMsg(a, b, "")
    }
    val loose = if (same.nonEmpty) Seq.empty else pairs.collect {
      case (a, b) if b.shuffleMb > floorMb && a.shuffleMb > 0 &&
          b.shuffleMb / a.shuffleMb >
            flipAllowance * slack * (b.n.toDouble / a.n) =>
        pairMsg(a, b, " [all pairs are plan transitions; exceeded even " +
          s"the ${flipAllowance}x flip allowance]")
    }
    tight ++ loose
  }

  private def validPairs(pts: Seq[Point]): Seq[(Point, Point)] =
    pts.sliding(2).collect {
      case Seq(a, b) if a.err.isEmpty && b.err.isEmpty => (a, b)
    }.toSeq

  private def pairMsg(a: Point, b: Point, tag: String): String =
    f"${a.n}->${b.n}: shuffle ${a.shuffleMb}%.1f->${b.shuffleMb}%.1f MB " +
      f"(${b.shuffleMb / a.shuffleMb}%.1fx for ${b.n.toDouble / a.n}%.1fx data)$tag"

  /** Consecutive pairs whose executed join shapes differ — reported as
    * informational plan transitions (see [[superlinear]]). */
  def transitions(pts: Seq[Point]): Seq[String] =
    pts.sliding(2).collect {
      case Seq(a, b)
          if a.err.isEmpty && b.err.isEmpty && a.joins != b.joins =>
        f"${a.n}->${b.n}: plan shape ${a.joins} -> ${b.joins} " +
          f"(shuffle ${a.shuffleMb}%.1f->${b.shuffleMb}%.1f MB; ratio " +
          "reflects the flip, not the growth law)"
    }.toSeq

  /** Join inventory of an executed-plan string. */
  def joinShape(plan: String): String = {
    def c(tok: String) = tok.r.findAllIn(plan).length
    s"bhj=${c("BroadcastHashJoin")},smj=${c("SortMergeJoin")}," +
      s"shj=${c("ShuffledHashJoin")},bnl=${c("BroadcastNestedLoopJoin")}"
  }

  // ---- mock site for the conductor probe: hosts scale with N ----

  /** 4N hosts × 6 pages: a root linking 4 children + one cross-host
    * link, a gone page, distinct body text per page (no dedup
    * collapse). The host count is what scales — at 100 TB you crawl
    * more hosts, not deeper pages-per-host. */
  def site(n: Int): (Map[String, (Int, String, String)], Seq[String]) = {
    val hosts = (0 until 4 * n).map(i => s"http://h$i.probe.example.com")
    val pages = hosts.zipWithIndex.flatMap { case (h, i) =>
      val next = hosts((i + 1) % hosts.length)
      val kids = (1 to 4).map(k => s"""<a href="/p$k">k$k</a>""").mkString(" ")
      Seq(
        s"$h/" -> (ops.Fetch.Code.Success,
          s"""<html><title>home $i</title><body>root of host $i. $kids
             |<a href="$next/">peer</a> <a href="/dead">x</a></body></html>"""
            .stripMargin, "text/html"),
        s"$h/dead" -> (ops.Fetch.Code.Gone, "", "")) ++
        (1 to 4).map(k => s"$h/p$k" -> (ops.Fetch.Code.Success,
          s"<html><title>p$k of $i</title><body>unique body $i $k " +
            s"${"w" + (i * 31 + k)}</body></html>", "text/html"))
    }.toMap
    (pages, hosts.map(_ + "/"))
  }

  def conductorRound(spark: SparkSession, n: Int): Unit = {
    val (pages, seeds) = site(n)
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-scaleprobe-$n").toString
    try {
      ops.Crawl.run(spark, root, seeds,
        ops.Fetch.MockProtocol(pages),
        plugins.Extensions.Registry(
          urlFilters = Seq(net.RegexUrlFilter.parse(Iterator("+.")))),
        ops.Crawl.Config(rounds = 2, dedup = true, index = true,
          pacer = graft.net.Pacer.Config(serverDelayMs = 0)))
    } finally {
      tables.Install.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  private def jstr(s: String): String = Json.str(s)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    // parsed ONCE (trimmed) — the custom-series filter below derives
    // from this same list, so a "a, b" spec can't pass one filter and
    // fail the other on whitespace
    val explicitNames = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // set-but-empty (e.g. an unset shell var interpolated to "") must
    // fail loudly — an empty series list would write a PASS artifact
    // that measured nothing
    require(explicitNames.forall(_.nonEmpty),
      "SPARK_GRAFT_SCALE_QUERIES is set but names no series")
    val names = explicitNames.getOrElse(defaultQueries)
    val out = args.headOption.getOrElse("SCALE_r9.json")
    // spark.driver.memory is NOT set: in local mode the driver JVM
    // already exists, so the conf would be a silent no-op; the heap
    // comes from build.sbt's forked-JVM -Xmx
    val spark = GraftSession(s"local[$cpus]", cpus, extensions = false)
    // SPARK_GRAFT_SCALE_PIN_SMJ=1 disables broadcast joins for the
    // whole probe (explicit broadcast() hints still honored): the
    // documented remedy when a decade pair is a plan transition —
    // one join shape across every decade separates the flip cost from
    // the growth law the probe exists to measure.
    if (sys.env.get("SPARK_GRAFT_SCALE_PIN_SMJ").contains("1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    // AQE-final plan capture over EVERY execution in the measured body,
    // not just the last: an iterative query materializes per-iteration
    // frontiers (localCheckpoint) as separate executions, and a
    // broadcast→SMJ flip INSIDE the loop is exactly what changes
    // between scale decades — r11 found hits on a scaled graph reading
    // 27×/decade under a last-plan-only capture because the final
    // join's shape was identical while the ten checkpointed half-steps
    // had flipped. The shuffle meter always counted every execution;
    // the join inventory now matches its scope, so such flips surface
    // as plan TRANSITIONS instead of as false superlinear verdicts.
    val bodyPlans = new scala.collection.mutable.ArrayBuffer[String]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit =
          bodyPlans.synchronized { bodyPlans += qe.executedPlan.toString }
        def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    // warmup (untimed): parquet footers + codegen
    try Tables.names.foreach(t => Tables(spark, sfDir, t).limit(1).count())
    catch { case _: Throwable => () }

    def measure(body: => Unit)
        : (Double, Double, Double, Option[String]) = {
      // leak detector: the meter is reset right after every reading,
      // so anything visible here arrived BETWEEN measurements — late
      // stage completions that would otherwise be silently attributed
      // to the next query
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      val leak = meter.mb
      if (leak > 0.5)
        System.err.println(f"[scale] WARNING: $leak%.2f MB of shuffle " +
          "arrived between measurements (late stages from the previous " +
          "query) — excluded from the next reading")
      meter.reset()
      bodyPlans.synchronized { bodyPlans.clear() }
      val t0 = System.nanoTime()
      val err =
        try { body; None }
        catch { case e: Throwable =>
          Some(e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).replace('\n', ' ').take(160))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      val mb = meter.mb
      // executor task CPU: the spread-invariant cost (Bench header) —
      // wall on a shared container is noisy, CPU is not
      val cpu = meter.cpuSec
      meter.reset() // so the next leak check sees only late arrivals
      (dt, mb, cpu, err)
    }

    def measureBuilt(name: String)(
        mk: Int => org.apache.spark.sql.DataFrame): Seq[Point] =
      factors.map { n =>
        spark.conf.set("spark.graft.inflate", n.toString)
        val (sec, mb, cpu, err) = measure(
          mk(n).write.format("noop").mode("overwrite").save())
        val joins = if (err.isEmpty)
          joinShape(bodyPlans.synchronized(bodyPlans.mkString("\n")))
        else ""
        System.err.println(f"[scale] $name%-24s n=$n%-4d ${sec}%8.2f s " +
          f"${mb}%10.2f MB shuffle [$joins] ${err.getOrElse("")}")
        Point(n, sec, mb, err, joins, cpu)
      }
    def measureQuery(name: String): Seq[Point] =
      measureBuilt(name)(_ => SparkEntry.queries(name)(spark, sfDir))
    var retried = List.empty[(String, String)]
    // re-measure ONCE on a growth finding: a noisy AQE plan choice
    // (borderline broadcast sized differently run-to-run) rarely
    // repeats; a genuine growth law always does. Never silent — the
    // retry is recorded either way, and only a CLEAN second series
    // replaces the first.
    def withRetry(name: String, run: () => Seq[Point]): Seq[Point] = {
      val first = run()
      if (superlinear(first).isEmpty) first
      else {
        System.err.println(s"[scale] $name over bound — re-measuring " +
          "the series once (AQE plan-choice noise vs growth law)")
        val second = run()
        if (superlinear(second).isEmpty) {
          retried ::= name -> ("passed on re-measure; first run: " +
            superlinear(first).mkString("; "))
          second
        } else {
          retried ::= name -> "failed twice"
          first
        }
      }
    }
    // custom (non-registry) series honor the same SPARK_GRAFT_SCALE_QUERIES
    // filter when it is set, so a deep run can pick exactly its series;
    // with the filter unset every custom runs (the full-board default)
    val wantCustom: String => Boolean =
      explicitNames.map(ns => ns.toSet: String => Boolean)
        .getOrElse(_ => true)
    val customs: Seq[(String, () => Seq[Point])] = Seq(
      // hits on a graph whose NODE count scales with the data: the
      // board's hits_scores pins a fixed 1000-node graph, so its
      // standard probe measures exchange reuse, not the operator's
      // growth law (its shuffle SHRINKS with N there). Here |V| and
      // |E| both grow ∝ N and each half-step's E⋈V + keyed sum must
      // grow ~linearly.
      "hits_scaled_graph" -> { () =>
        withRetry("hits_scaled_graph", () => measureBuilt("hits_scaled_graph") { n =>
          val m = 500L * n
          QueriesGraph.buildHits(Tables(spark, sfDir, "lineitem")
            .selectExpr(s"l_orderkey % $m as src",
              s"l_partkey % $m + $m as dst"))
        })
      },
      // range_join at CONSTANT SELECTIVITY: band count and probe count
      // grow ∝ N while band widths shrink ∝ 1/N, holding expected
      // matches-per-band fixed ⇒ true output ∝ N. The grid cell size
      // TRACKS the shrinking width (G ∝ 1/N, always ≥ the max width):
      // a fixed G over 1/N-width bands packs ~N× more bands per cell
      // and the within-cell candidate product goes quadratic — the
      // spatial-grid discipline is that cell size follows object size,
      // measured here (a fixed-G first cut clocked 66×/decade at ×100;
      // width-matched G restores the linear law).
      "range_join_kn" -> { () =>
        withRetry("range_join_kn", () => measureBuilt("range_join_kn") { n =>
          import org.apache.spark.sql.functions._
          val bands = Tables(spark, sfDir, "part").select(
            col("p_partkey").as("band_id"),
            ((col("p_partkey") * 9973) % 100000).as("lo"),
            ((col("p_partkey") * 9973) % 100000 +
              greatest(lit(1L),
                expr(s"(100 + (p_partkey % 13) * 300) div $n"))).as("hi"))
          val probe = Tables(spark, sfDir, "orders").select(
            col("o_orderkey"), (col("o_orderkey") % 100000).as("v"))
          QueriesCore.rangeJoinOn(bands, probe, math.max(4L, 4096L / n))
        })
      },
      // the same constant-selectivity series with NO caller-supplied
      // grid: rangeJoinAuto derives G from the width distribution per
      // decade (r12 verdict Next #5). If the derivation tracks the
      // shrinking widths the series stays linear like the hand-tuned
      // one above; a bad derivation reproduces the 66×/decade
      // within-cell quadratic this instrument measured at fixed G.
      "range_join_auto_kn" -> { () =>
        withRetry("range_join_auto_kn",
          () => measureBuilt("range_join_auto_kn") { n =>
          import org.apache.spark.sql.functions._
          val bands = Tables(spark, sfDir, "part").select(
            col("p_partkey").as("band_id"),
            ((col("p_partkey") * 9973) % 100000).as("lo"),
            ((col("p_partkey") * 9973) % 100000 +
              greatest(lit(1L),
                expr(s"(100 + (p_partkey % 13) * 300) div $n"))).as("hi"))
          val probe = Tables(spark, sfDir, "orders").select(
            col("o_orderkey"), (col("o_orderkey") % 100000).as("v"))
          QueriesCore.rangeJoinAuto(bands, probe)
        })
      },
      // semantic_dedup's candidate stage at its DOCUMENTED scale knob:
      // cluster count ∝ n (SemDeDup's own regime — the operator is
      // excluded from the standard ladder because fixed cluster count
      // is provably ~quadratic via the LSH random-collision floor;
      // SemDedupScaleSpec pins both regimes at ×4). Assignment is the
      // hash-spread synthetic (cell, ccos) over the REAL inflated
      // embedding column — the candidate stage reads only
      // (cell, band bits, ccos order), so this isolates its growth
      // law from quantizer quality.
      "semantic_candidates_kn" -> { () =>
        spark.conf.set("spark.graft.inflate", "1")
        val targetCluster = 250L
        val baseRows = Tables(spark, sfDir, "embeddings").count()
        withRetry("semantic_candidates_kn",
          () => measureBuilt("semantic_candidates_kn") { n =>
            import org.apache.spark.sql.functions._
            val k = math.max(2L, baseRows * n / targetCluster)
            val asg = Tables(spark, sfDir, "embeddings")
              .select(col("vec_id"),
                graft.functions.Similarity.quantized(col("embedding")).as("qv"))
              .withColumn("nsq", graft.functions.Similarity.normSqQ(col("qv")))
              .withColumn("cell", pmod(col("vec_id") * 2654435761L, lit(k)))
              .withColumn("ccos", (col("vec_id") % 1000) / 1000.0)
            QueriesEmbed.semanticCandidates(asg)
          })
      },
      // the frozen GramStore at depth (r15 verdict Next #6):
      // GramStore.hits over ×1/×10/×100 increments against a FIXED
      // multi-million-gram store. GramStoreSpec pins the zero-
      // store-side-Exchange inventory at fixture scale; this measures
      // the law — shuffle must grow with the INCREMENT only, the
      // store's 1.7M-gram scan staying a constant in-place bucketed
      // read (the DedupStore incremental precedent, SCALE_r13_deep).
      // Run with SPARK_GRAFT_SCALE_PIN_SMJ=1: an AQE-broadcast tiny
      // increment at ×1 would make the decade ratio measure a plan
      // flip, not the growth law. The store is synthetic (350k docs ×
      // 12 hash words ≈ 1.7M distinct 8-grams — HELM-suite scale),
      // installed once OUTSIDE the measured windows.
      "gramstore_increment_kn" -> { () =>
        import org.apache.spark.sql.functions._
        val storeDir = java.nio.file.Files
          .createTempDirectory("graft-scale-gramstore").toString
        spark.conf.set("spark.graft.inflate", "1")
        val bench = spark.range(350000L).select(
          concat_ws(" ", (0 until 12).map(j =>
            concat(lit(s"g${j}_"),
              pmod(col("id") * (2654435761L + j), lit(1000000L)))): _*)
            .as("text"))
        graft.ops.GramStore.install(bench, storeDir, buckets = 32)
        val store = graft.ops.GramStore.open(spark, storeDir)
        val pts = withRetry("gramstore_increment_kn",
          () => measureBuilt("gramstore_increment_kn") { _ =>
            graft.ops.GramStore.hits(
              Tables(spark, sfDir, "documents")
                .select(col("doc_id"), col("text")),
              store)
          })
        tables.Install.deleteRecursively(
          java.nio.file.Paths.get(storeDir))
        pts
      },
      // the corpus EXPORT verb end-to-end — the actual 100 TB job:
      // quality gates + exact/line/span dedup + near-dup drop +
      // ExactSubstr span removal + temperature rebalance + ccnet
      // tercile gate + sharded write + manifest/datacard/metrics, as
      // ONE composition over ×N-inflated documents. The per-stage
      // queries all probe individually; this measures their
      // composition (shared scans, the caches, the real parquet
      // write). Dozens of executions — like conductor_round, no
      // single join inventory, so transitions don't apply.
      "corpus_export" -> { () =>
        factors.map { n =>
          spark.conf.set("spark.graft.inflate", n.toString)
          val root = java.nio.file.Files
            .createTempDirectory(s"graft-scale-corpus-$n").toString
          val (sec, mb, cpu, err) = measure {
            val rc = Main.run(spark, Array("corpus", sfDir, s"$root/out",
              "-neardup", "-exactsubstr", "-temperature",
              "-ccnet", "head,middle"))
            require(rc == 0, s"corpus export rc=$rc")
          }
          tables.Install.deleteRecursively(java.nio.file.Paths.get(root))
          System.err.println(f"[scale] corpus_export           n=$n%-4d " +
            f"${sec}%8.2f s ${mb}%10.2f MB shuffle ${err.getOrElse("")}")
          Point(n, sec, mb, err, "", cpu)
        }
      },
      // the FULL export surface as one composition: the r11 flag set
      // PLUS dsir selection, the leakage-safe split (fixpoint loop),
      // curriculum order columns, the epoch plan, and (r13) the
      // decontamination gate + PII scrub — kept as a SEPARATE series
      // so corpus_export stays round-comparable. The benchmark corpus
      // for -decontaminate is two base documents' texts, FIXED across
      // inflation factors (an eval suite does not grow with the
      // training pool — the broadcast gram set must stay constant
      // while the corpus side scales).
      "corpus_export_full" -> { () =>
        import org.apache.spark.sql.functions.{col, size, split}
        val benchDir = java.nio.file.Files
          .createTempDirectory("graft-scale-bench").toString
        spark.conf.set("spark.graft.inflate", "1")
        Tables(spark, sfDir, "documents")
          .where(size(split(col("text"), " ")) >= 8)
          .orderBy("doc_id").limit(2).select("text")
          .write.mode("overwrite").parquet(s"$benchDir/bench")
        val pts = factors.map { n =>
          spark.conf.set("spark.graft.inflate", n.toString)
          val root = java.nio.file.Files
            .createTempDirectory(s"graft-scale-corpusf-$n").toString
          val (sec, mb, cpu, err) = measure {
            val rc = Main.run(spark, Array("corpus", sfDir, s"$root/out",
              "-neardup", "-exactsubstr", "-temperature",
              "-ccnet", "head,middle", "-dsir", "en:8000",
              "-decontaminate", s"$benchDir/bench", "-pii",
              "-split", "-curriculum", "-epochs"))
            require(rc == 0, s"corpus export rc=$rc")
          }
          tables.Install.deleteRecursively(java.nio.file.Paths.get(root))
          System.err.println(f"[scale] corpus_export_full      n=$n%-4d " +
            f"${sec}%8.2f s ${mb}%10.2f MB shuffle ${err.getOrElse("")}")
          Point(n, sec, mb, err, "", cpu)
        }
        tables.Install.deleteRecursively(java.nio.file.Paths.get(benchDir))
        pts
      },
      "conductor_round" -> { () =>
        spark.conf.set("spark.graft.inflate", "1") // conductor scales via seeds
        factors.map { n =>
          val (sec, mb, cpu, err) = measure(conductorRound(spark, n))
          System.err.println(f"[scale] conductor_round          n=$n%-4d " +
            f"${sec}%8.2f s ${mb}%10.2f MB shuffle ${err.getOrElse("")}")
          // a conductor round is dozens of executions, not one plan — no
          // single join inventory to compare, so transitions don't apply
          Point(n, sec, mb, err, "", cpu)
        }
      })
    // names that are custom series, not registry queries, run only in
    // the customs pass (a registry lookup would record 3-4 error rows
    // before the custom result overrode them in the map); a name that
    // resolves to NEITHER is a typo and must fail loudly — silently
    // dropping it would let a deep re-probe "pass" without measuring
    // the series it was launched for
    val customNames = customs.map(_._1).toSet
    val unknown = names.filterNot(n =>
      SparkEntry.queries.contains(n) || customNames.contains(n))
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SCALE_QUERIES names not in registry or customs: " +
        unknown.mkString(", "))
    val series = (names.filter(SparkEntry.queries.contains).map { name =>
      name -> withRetry(name, () => measureQuery(name))
    } ++ customs.collect {
      case (name, run) if wantCustom(name) => name -> run()
    }).toMap

    val bad = series.toSeq.sortBy(_._1).flatMap { case (q, pts) =>
      superlinear(pts).map(v => q -> v) ++
        pts.filter(_.err.isDefined).map(p => q -> s"n=${p.n} ERROR ${p.err.get}")
    }
    val trans = series.toSeq.sortBy(_._1).flatMap { case (q, pts) =>
      transitions(pts).map(v => q -> v)
    }
    def r2(v: Double) = math.round(v * 100) / 100.0
    val json = new StringBuilder
    json ++= "{\n  \"sf\": " + jstr(sfDir) + ",\n  \"cpus\": " + cpus +
      ",\n  \"factors\": " +
      factors.mkString("[", ",", "]") + ",\n  \"queries\": {\n"
    json ++= series.toSeq.sortBy(_._1).map { case (q, pts) =>
      "    " + jstr(q) + ": {" +
        "\"sec\": " + pts.map(p => r2(p.sec)).mkString("[", ",", "]") +
        ", \"cpu_sec\": " +
        pts.map(p => r2(p.cpuSec)).mkString("[", ",", "]") +
        ", \"shuffle_mb\": " +
        pts.map(p => r2(p.shuffleMb)).mkString("[", ",", "]") +
        ", \"joins\": " +
        pts.map(p => jstr(p.joins)).mkString("[", ",", "]") +
        ", \"errors\": " +
        pts.map(p => p.err.map(jstr).getOrElse("null"))
          .mkString("[", ",", "]") + "}"
    }.mkString(",\n")
    json ++= "\n  },\n  \"superlinear\": " +
      bad.map { case (q, v) => jstr(s"$q $v") }.mkString("[", ",", "]") +
      ",\n  \"plan_transitions\": " +
      trans.map { case (q, v) => jstr(s"$q $v") }.mkString("[", ",", "]") +
      ",\n  \"retried\": " +
      retried.reverse.map { case (q, v) => jstr(s"$q: $v") }
        .mkString("[", ",", "]") +
      ",\n  \"verdict\": " +
      jstr(if (bad.isEmpty) "PASS: shuffle growth <= ~linear for every probed query"
      else s"FAIL: ${bad.size} superlinear/error findings") + "\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.toString.getBytes("UTF-8"))
    println(json.toString)
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
