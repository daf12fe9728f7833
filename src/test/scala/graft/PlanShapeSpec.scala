package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions over the sf0.001 data: the properties
  * that keep these plans viable at 100 TB — filter pushdown into the
  * parquet scan, column pruning, broadcast joins for dims, no
  * accidental cartesian products, whole-stage codegen presence. */
class PlanShapeSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String, execute: Boolean = false): String = {
    val df = Queries.byName(name).build(spark, dir)
    if (execute) df.collect() // AQE finalizes (and codegen-wraps) on run
    // (count() would execute a DIFFERENT QueryExecution)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("point_lookup pushes the IN-list into the parquet scan") {
    val p = plan("point_lookup")
    assert(p.contains("PushedFilters: [In(o_orderkey"), p)
  }

  test("readdb -url against a bucketed CrawlDb scans 1 bucket of N " +
    "(MapFile getEntry parity: the lookup opens one partition, not " +
    "the table)") {
    import spark.implicits._
    import graft.schemas.{CrawlDatum, CrawlRow}
    val root = java.nio.file.Files
      .createTempDirectory("plan-bucket-prune").toString
    val db = graft.tables.CrawlDbStore.open(spark, root, Some(8))
    val rows = (0 until 400).map(i =>
      CrawlRow(s"http://h${i % 11}.example.com/p$i",
        CrawlDatum.unfetched(i.toLong, 3600)))
    db.install(spark.createDataset(rows), "g1")
    val target = rows(123).url
    // the REAL lookup API returns the row (and pins autoBucketedScan
    // off for its action — without that, DisableUnnecessaryBucketedScan
    // re-inflates this filter-only plan to a full-table scan)
    assert(graft.ops.CrawlDbReader.url(db.read(), target)
      .map(_.url).contains(target))
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val lookup = db.read().filter(
        org.apache.spark.sql.functions.col("url") === target)
      assert(lookup.collect().map(_.url).toSeq == Seq(target))
      val p = lookup.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("SelectedBucketsCount: 1 out of 8"), p)
    } finally spark.conf.set(key, prior)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_crawldb_"))
      .foreach(n => spark.sql(s"DROP TABLE `$n`"))
  }

  test("q1 pushes the date filter and prunes columns") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // only the 7 referenced columns reach the scan, not all 16
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_returnflag"), readSchema)
  }

  test("dim joins broadcast the small side") {
    val p = plan("q2_top_customers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("geoip range join broadcasts the ranges, not the facts") {
    val p = plan("geoip_enrich")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 25-row ranges side
  }

  test("decontaminate regimes: the census picks the broadcast hint, " +
    "the forced-shuffle variant carries NO hint (r14: a 10M+-gram " +
    "benchmark must never be force-broadcast)") {
    // the Q contract: the caller clears what a build pinned
    def optimized(name: String): String = {
      val df = Queries.byName(name).build(spark, dir)
      try df.queryExecution.optimizedPlan.toString
      finally spark.catalog.clearCache()
    }
    // small bench set (census <= limit): the gram join is hinted
    // broadcast — map-side, no corpus shuffle
    val small = optimized("decontaminate")
    assert(small.contains("strategy=broadcast"), small)
    // forced big regime (census limit 0): no hint anywhere — the
    // planner sizes the join at runtime (AQE may still broadcast a
    // TINY side, which is correct; what must not happen is a hint
    // that would OVERRIDE size checks on an unbounded gram set)
    val big = optimized("decontaminate_shuffle")
    assert(!big.contains("strategy=broadcast"), big)
  }

  test("bm25_search: term/df/stats sides broadcast, top-10 is " +
    "TakeOrdered, no global sort materializes") {
    val p = plan("bm25_search", execute = true)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the only sort allowed is inside TakeOrderedAndProject's heap:
    // a standalone Sort node would be a corpus-wide global sort
    assert(!p.linesIterator.exists(l =>
      l.trim.matches("""\(\d+\) Sort.*""")), p)
  }

  test("no cartesian products outside the brute-force baseline") {
    for (q <- Seq("minhash_lsh", "ngram_jaccard", "simhash", "embed_neardup",
        "updatedb_state_machine", "linkrank")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      spark.catalog.clearCache()
    }
  }

  // FormattedMode marks whole-stage-codegen operators with a '*' prefix

  test("scans and aggregates run inside whole-stage codegen") {
    val p = plan("crawldb_stats", execute = true)
    assert(p.contains("* HashAggregate"), p)
    assert(p.contains("* ColumnarToRow"), p)
  }

  test("eligibility filter runs in codegen (derived column — not pushable)") {
    val p = plan("generate_eligibility", execute = true)
    assert(p.contains("* Filter"), p)
  }

  test("crawldb_stats quantiles use no rank window at all") {
    val p = plan("crawldb_stats")
    assert(!p.contains("Window"), p) // two-phase histogram, plain aggs
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("segment_quota ranks per bucket — no single-partition exchange") {
    val p = plan("segment_quota")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("generate_hostdb broadcasts the hostdb side") {
    val p = plan("generate_hostdb")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("r3 queries plan clean: no cartesian, no single-partition exchange") {
    for (q <- Seq("charset_decode", "lang_id_ngram", "sitemap_parse")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("Exchange SinglePartition"), s"$q: $p")
      spark.catalog.clearCache()
    }
  }

  test("StaticInvoke functions run inside codegen stages, not as UDFs") {
    for (q <- Seq("url_parts", "charset_decode", "lang_id_ngram")) {
      val p = plan(q)
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$q: $p")
    }
  }

  test("nodedump_topk plans TakeOrderedAndProject, never a global sort") {
    val p = plan("nodedump_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("url_filter_domain is a pure map: no shuffle at all") {
    val p = plan("url_filter_domain")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("ScalaUDF"), p) // InSet membership stays codegen'd
  }

  test("r4 queries plan clean: no cartesian, no single-partition exchange") {
    for (q <- Seq("arc_roundtrip", "dedup_stream_batch", "dedup_clusters")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("Exchange SinglePartition"), s"$q: $p")
      spark.catalog.clearCache()
    }
  }

  test("DomainUrlFilter column and scalar engines agree on tricky URLs") {
    import spark.implicits._
    import graft.net.{AutomatonUrlFilter, DomainUrlFilter}
    val urls = Seq(
      "http://WWW.Yahoo.Com/", // case
      "http://www.yahoo.com:8080/x", // port
      "HTTP://www.foobar.net/", // uppercase scheme
      "http://user@www.foobar.be/", // userinfo
      "http://mail.yahoo.com/",
      "http://www.adobe.com/",
      "not a url")
    for (deny <- Seq(false, true)) {
      val f = new DomainUrlFilter(
        Set("net", "apache.org", "be", "www.yahoo.com"), deny)
      val colResults = urls.toDF("url")
        .select(f.toColumn(org.apache.spark.sql.functions.col("url")))
        .as[Boolean].collect()
      urls.zip(colResults).foreach { case (u, c) =>
        assert(f.accepts(u) == c, s"deny=$deny url=$u")
      }
    }
    // automaton full-match column path: \z anchor, not $ (a trailing
    // newline must fail the match exactly like Pattern.matches does)
    val af = AutomatonUrlFilter.parse(Iterator("+http://ok.example.com/"))
    val in = Seq("http://ok.example.com/", "http://ok.example.com/\n")
    val colRes = in.toDF("url")
      .select(af.toColumn(org.apache.spark.sql.functions.col("url")))
      .as[Boolean].collect()
    assert(colRes.toSeq == in.map(af.accepts))
    assert(colRes.toSeq == Seq(true, false))
  }

  test("Generate multi-segment spill has no single-partition exchange") {
    import spark.implicits._
    val db = (1 to 100).map { i =>
      graft.schemas.CrawlRow(s"http://h${i % 7}.com/p$i",
        graft.schemas.CrawlDatum(graft.schemas.CrawlStatus.DB_UNFETCHED,
          1L, 0, 2592000, i.toFloat, None, 0L, Map.empty))
    }.toDS()
    val fl = graft.ops.Generate(db,
      graft.ops.Generate.Config(topN = 40, maxNumSegments = 2,
        curTime = 10L, numSelectors = 4),
      graft.crawl.DefaultFetchSchedule(graft.crawl.ScheduleConfig()))
    val p = fl.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("r7 queries plan clean: no cartesian, no single-partition exchange") {
    for (q <- Seq("line_dedup", "winnow_fingerprint", "audio_meta",
        "video_frames", "sliding_rate", "span_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("Exchange SinglePartition"), s"$q: $p")
      spark.catalog.clearCache()
    }
    // tfidf's corpus count is a single-row global agg (broadcast after):
    // the one SinglePartition exchange carries one row, so only the
    // cartesian check applies
    val p = plan("tfidf_topterms")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("winnow/tfidf windows all partition by doc_id (bounded state)") {
    for (q <- Seq("tfidf_topterms", "winnow_fingerprint")) {
      val p = plan(q)
      // every Window operator line must carry a partition spec on doc_id
      p.linesIterator.filter(_.trim.startsWith("Window ")).foreach { l =>
        assert(l.contains("doc_id"), s"$q window without doc_id: $l")
      }
    }
  }

  test("pack_chunks running sum is the two-phase scan — no data-sized " +
    "window keyed on lang alone") {
    val p = plan("pack_chunks")
    // the two-phase prefix scan engaged: the data-sized window keys on
    // (_pspid, group) — partition-count parallelism — while the only
    // group-keyed window orders subtotals by _pspid (≤ P rows/group)
    assert(p.contains("_pspid"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    p.linesIterator.filter(_.trim.startsWith("Window ")).foreach { l =>
      assert(l.contains("_pspid"),
        s"window neither pid-keyed nor pid-ordered: $l")
    }
  }

  test("dedup query surfaces are window-free (min-agg + join, the " +
    "Dedup.findDuplicates shape — a hot signature can't become one task)") {
    for (q <- Seq("dedup_exact", "dedup_rank", "dedup_stream_batch",
        "dedup_merge", "corpus_clean")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q plans a window:\n$p")
      assert(!p.contains("Exchange SinglePartition"), p)
    }
  }

  test("asof_join is the union-scan shape: ZERO joins in the plan (a " +
    "range join would be quadratic per user), range-split carry") {
    val p = plan("asof_join", execute = true)
    // r13: the carry is the two-phase scan — windows key on
    // (range-partition id, user), never on the user alone, so a hot
    // user's history spans tasks; the only join is the (pid, user)
    // offset join (hash-spread, AQE-broadcastable), never a range
    // join on the events themselves
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p) // the partition-local running max
    // the window is keyed by (range-partition id, user) — the _pspid
    // working column proves the carry runs on the range-SPLIT frame,
    // never on the raw user partition (the range exchange itself sits
    // behind the scan's checkpoint leaf, invisible to explain; the
    // task-balance proof lives in AsofSkewSpec)
    assert(p.contains("_pspid"), p)
  }

  test("leakage_split builds star edges (hash-keyed joins), never " +
    "all-pairs-per-window, and throws one coin per cluster") {
    val p = plan("leakage_split", execute = true)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNested"),
      p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // leakage-safety property on the data: the planted shared
    // paragraph (doc_id % 11 == 3) chains its docs into ONE cluster,
    // so all of them carry one split; and globally a cluster never
    // straddles splits
    val rows = Queries.byName("leakage_split").build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val planted = rows.filter(_._1 % 11 == 3)
    assert(planted.nonEmpty)
    assert(planted.map(_._2).distinct.length == 1, "para docs split apart")
    assert(planted.map(_._3).distinct.length == 1)
    val violations = rows.groupBy(_._2)
      .filter(_._2.map(_._3).distinct.length > 1)
    assert(violations.isEmpty, violations.keys.take(3).toSeq)
  }

  test("range_join runs as a grid-cell equi-join — no nested loop, no " +
    "cartesian (Spark's native plan for a theta join)") {
    val p = plan("range_join", execute = true)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("Join"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("sample_cap broadcasts the per-source rate table") {
    val p = plan("sample_cap", execute = true)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("incremental_dedup joins stay hash-keyed: no cartesian, no single-partition funnel") {
    val p = plan("incremental_dedup", execute = true)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("media decode queries are pure maps: no shuffle at all") {
    // pixel/audio decode is per-row work; any Exchange here would mean
    // the plan ships payloads across the cluster for no reason
    for (q <- Seq("pixel_stats", "audio_stats", "jpeg_stats",
        "webp_stats", "tiff_stats")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: $p")
      spark.catalog.clearCache()
    }
  }

  test("heavy codec roundtrips shuffle ONLY the bare key, pre-decode") {
    // flac_stats/pdf_text spread their CPU-dense key-derived synth
    // across cores with a numbered repartition (one tiny row-group =
    // one task otherwise). The contract: exactly one Exchange, BELOW
    // the decode projection, carrying nothing but the key column —
    // payload never ships
    for (q <- Seq("flac_stats", "pdf_text")) {
      val p = plan(q)
      // formatted mode lists each node twice (tree + detail): count
      // tree entries only
      val exchanges = raw"Exchange \(\d+\)".r.findAllIn(
        p.replace("BroadcastExchange", "")).length
      assert(exchanges == 1, s"$q: expected exactly 1 shuffle\n$p")
      val exLine = p.linesIterator
        .find(l => l.contains("Arguments: hashpartitioning")).getOrElse("")
      assert(exLine.contains("doc_id") && !exLine.contains("text") &&
        !exLine.contains("bytes"), s"$q exchange not key-only: $exLine")
      spark.catalog.clearCache()
    }
  }

  test("every condition-less (BNL-shaped) join builds on a provably " +
    "1-row frame (the broadcast scalar totals of curriculum_order / " +
    "dsir_select / kn_bigram_ppl — a BNL against anything non-singleton " +
    "is a scale-killer)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    var seen = 0
    for (name <- Seq("curriculum_order", "dsir_select", "kn_bigram_ppl")) {
      val df = Queries.byName(name).build(spark, dir)
      // a query's eager/lazy checkpoints hide their subtree's joins
      // behind a LogicalRDD leaf (curriculum_order's score crossJoins
      // live below its diff pin) — the assertion covers every
      // condition-less join still visible in the final frame
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.isEmpty => j
      }
      joins.foreach { j =>
        // Catalyst's own cardinality bound: an Aggregate with no
        // grouping keys has maxRows = Some(1), and it survives
        // projections/hints — so this is a proof, not a heuristic
        assert(j.left.maxRows.contains(1L) || j.right.maxRows.contains(1L),
          s"$name: condition-less join without a provably-1-row side:\n$j")
      }
      seen += joins.size
      spark.catalog.clearCache()
    }
    assert(seen > 0,
      "expected at least one visible condition-less join across the set")
  }
}
