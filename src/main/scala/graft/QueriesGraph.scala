package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Queries.{t, fxSum, sqlFxSum}
import graft.operators.Relational
import graft.ops.WebGraphOp

/** Batch 2 — link/graph operators (SURVEY §2.10, §2.5 A6-A10, §2.3 J5/J6).
  *
  * The synthetic link graph is lineitem viewed as an edge list
  * src = l_orderkey → dst = l_partkey (FIXTURES.md role mapping).
  */
object QueriesGraph {

  /** A9/U2 LinkDb invert + merge: per target collect a bounded, sorted
    * inlink list (LinkDb.java:104-172, LinkDbMerger.java:92-117; cap =
    * linkdb.max.inlinks analog, here 5). */
  val linkdbInvert = Q(
    "linkdb_invert",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li
        .select(col("l_partkey").as("dst"), col("l_orderkey").as("src"))
        .distinct()
      Relational
        .boundedMemberList(edges, "dst", col("src"), 5)
        .withColumnRenamed("members", "inlinks")
        .withColumnRenamed("n_total", "n_inlinks")
    },
    Some("""
      WITH e AS (SELECT DISTINCT l_partkey AS dst, l_orderkey AS src FROM lineitem),
      r AS (SELECT dst, src,
              row_number() OVER (PARTITION BY dst ORDER BY src) AS rn,
              CAST(count(*) OVER (PARTITION BY dst) AS BIGINT) AS n
            FROM e)
      SELECT dst,
        string_agg(CAST(src AS VARCHAR), ',' ORDER BY CAST(src AS VARCHAR)) AS inlinks,
        MAX(n) AS n_inlinks
      FROM r WHERE rn <= 5 GROUP BY dst"""))

  /** A6 WebGraph node degrees: per URL numInlinks/numOutlinks from the
    * edge list (WebGraph.java:484-510). Full-outer of the two degree aggs. */
  val nodeDegrees = Q(
    "node_degrees",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li
        .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      val outDeg = edges.groupBy(col("src").as("url"))
        .agg(count(lit(1)).as("out_deg"))
      val inDeg = edges.groupBy(col("dst").as("url"))
        .agg(count(lit(1)).as("in_deg"))
      outDeg.join(inDeg, Seq("url"), "full_outer")
        .select(col("url"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
    },
    Some("""
      WITH e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
      o AS (SELECT src AS url, COUNT(*) AS out_deg FROM e GROUP BY src),
      i AS (SELECT dst AS url, COUNT(*) AS in_deg FROM e GROUP BY dst)
      SELECT COALESCE(o.url, i.url) AS url,
        COALESCE(o.out_deg, 0) AS out_deg,
        COALESCE(i.in_deg, 0) AS in_deg
      FROM o FULL OUTER JOIN i ON o.url = i.url"""))

  /** T3 NodeDumper: top-k webgraph nodes by a chosen metric — here
    * inlink count desc, url asc tiebreak (NodeDumper.java:84-170
    * -inlinks/-topn mode). orderBy + limit plans as
    * TakeOrderedAndProject: each partition keeps k candidates, the
    * driver merges k·P rows — no global sort materialization at any
    * graph size. */
  val nodedumpTopk = Q(
    "nodedump_topk",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li
        .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      val inDeg = edges.groupBy(col("dst").as("url"))
        .agg(count(lit(1)).as("in_deg"))
      inDeg.orderBy(desc("in_deg"), asc("url")).limit(25)
    },
    Some("""
      WITH e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
                 FROM lineitem)
      SELECT dst AS url, COUNT(*) AS in_deg
      FROM e GROUP BY dst
      ORDER BY in_deg DESC, url LIMIT 25"""))

  /** G1 WebGraph build: explode edges, keep only the latest-timestamp edge
    * per (src,dst) (WebGraph.java:363-429 latest-wins + dedup-by-target). */
  val webgraphBuild = Q(
    "webgraph_build",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(
        col("l_orderkey").as("src"), col("l_partkey").as("dst"),
        to_date(col("l_shipdate")).as("ship_date"),
        col("l_linenumber").as("line"), col("l_quantity").as("qty"))
      Relational
        .latestWins(edges, Seq("src", "dst"),
          Seq(desc("ship_date"), desc("line")))
        .select(col("src"), col("dst"),
          date_format(col("ship_date"), "yyyy-MM-dd").as("ship_date"),
          col("qty"))
    },
    Some("""
      SELECT src, dst, strftime(ship_date, '%Y-%m-%d') AS ship_date, qty FROM (
        SELECT l_orderkey AS src, l_partkey AS dst,
               CAST(l_shipdate AS DATE) AS ship_date,
               l_quantity AS qty,
               row_number() OVER (PARTITION BY l_orderkey, l_partkey
                 ORDER BY CAST(l_shipdate AS DATE) DESC, l_linenumber DESC) AS rn
        FROM lineitem)
      WHERE rn = 1"""))

  /** A7 — LinkRank's node/edge counting pass (LinkRank.java runCounter):
    * the loop normalizer needs |V|; emit |V| and |E| of the webgraph. */
  val webgraphCounts = Q(
    "webgraph_counts",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li
        .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      val nodes = edges.select(col("src").as("url"))
        .union(edges.select(col("dst").as("url"))).distinct()
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
    },
    Some("""
      WITH e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
                 FROM lineitem),
      n AS (SELECT src AS url FROM e UNION SELECT dst AS url FROM e)
      SELECT (SELECT COUNT(*) FROM n) AS n_nodes,
             (SELECT COUNT(*) FROM e) AS n_edges"""))

  /** Number of LinkRank iterations — the reference default
    * (conf/nutch-default.xml link.analyze.num.iterations = 10). The
    * oracle unrolls the same 10 CTE steps; the Spark loop checkpoints
    * every 5th iteration. */
  private val LINKRANK_ITERS = 10

  /** G2 LinkRank: damped PageRank-style loop, score' = 0.15 + 0.85·Σ
    * contribs (LinkRank.java:302-345, 603-605), with the reference's A8
    * one-contribution-per-source-domain dedup (LinkRank.java:585-597).
    * The edge table and the loop are the `linkrank` verb's own
    * ([[graft.ops.WebGraphOp.linkrankEdges]],
    * [[graft.ops.WebGraphOp.linkrankLoop]]), so the oracle checks the
    * loop users run. Graph: lineitem edges modded to ~500 nodes;
    * domain = src % 50. */
  /** The linkrank plan. `finalEager` materializes the final node table
    * (localCheckpoint) so the edge cache can be released before
    * returning — for library callers that compose queries without
    * clearing the block cache (CacheHygieneSpec). The Q surface stays
    * lazy: an in-JVM A/B (sf0.1, local[32], 3 reps; STATUS.md §2.10)
    * measured the final eager checkpoint at +1.5-2 s, a full
    * materialize-then-rescan of the result. */
  private[graft] def buildLinkrank(s: SparkSession, dir: String,
      finalEager: Boolean): DataFrame = {
    val li = t(s, dir, "lineitem")
    val rawEdges = li.select(
      (col("l_orderkey") % 500).as("src"),
      (col("l_partkey") % 500 + 500).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val edges = WebGraphOp.linkrankEdges(rawEdges, col("src") % 50).cache()
    val nodes0 = rawEdges.select(col("src").as("url"))
      .union(rawEdges.select(col("dst").as("url")))
      .distinct()
      .withColumn("score", lit(1.0))
    val plan = WebGraphOp.linkrankLoop(edges, nodes0, LINKRANK_ITERS)
      .select(col("url"), round(col("score"), 6).as("score"))
    if (finalEager) {
      // materialize the small final node table, then release the edge
      // cache — callers that never clear the block cache (a conductor
      // composing queries) would otherwise leak it (VERDICT r2 #5)
      val result = plan.localCheckpoint()
      edges.unpersist()
      result
    } else plan
  }

  val linkrank = Q(
    "linkrank",
    // buildLinkrank caches the loop-invariant edge table: it feeds all
    // 10 iterations — uncached, every post-checkpoint iteration's lineage
    // re-embeds the scan+distinct+window subtree (measured 7.0 s warm
    // vs 4.0 s cached at sf0.1). The Q surface's only drivers (Bench/
    // Verify) clear the block cache per query; paths that compose
    // queries without clearing use finalEager=true, which unpersists.
    (s, dir) => buildLinkrank(s, dir, finalEager = false),
    Some {
      val base = """
      WITH e0 AS (SELECT DISTINCT (l_orderkey % 500) AS src,
                        (l_partkey % 500 + 500) AS dst
                 FROM lineitem WHERE (l_orderkey % 500) <> (l_partkey % 500 + 500)),
      e AS (SELECT src, dst FROM
              (SELECT *, row_number() OVER (PARTITION BY src % 50, dst
                         ORDER BY src) AS rn FROM e0)
            WHERE rn = 1),
      n0 AS (SELECT url, CAST(1.0 AS DOUBLE) AS score FROM
             (SELECT src AS url FROM e0 UNION SELECT dst AS url FROM e0)),
      od AS (SELECT src, COUNT(*) AS out_deg FROM e0 GROUP BY src)"""
      val iters = (1 to LINKRANK_ITERS).map { i =>
        val prev = if (i == 1) "n0" else s"n${i - 1}"
        s""",
      c$i AS (SELECT e.dst, SUM(CAST(ROUND(n.score / od.out_deg * 1e9) AS BIGINT)) AS sum_fx
              FROM e JOIN $prev n ON e.src = n.url JOIN od ON e.src = od.src
              GROUP BY e.dst),
      n$i AS (SELECT n0.url,
                0.15 + 0.85 * (CAST(COALESCE(c$i.sum_fx, 0) AS DOUBLE) / 1e9) AS score
              FROM n0 LEFT JOIN c$i ON n0.url = c$i.dst)"""
      }.mkString
      base + iters +
        s"\n      SELECT url, ROUND(score, 6) AS score FROM n$LINKRANK_ITERS"
    })

  /** HITS iterations — one more than Kleinberg's illustration needs,
    * few enough that the unrolled oracle CTE stays readable. */
  private val HITS_ITERS = 5

  /** Hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) — the OTHER classic link
    * analysis, complementing LinkRank/OPIC: auth(v) = Σ hub of
    * in-neighbors, hub(u) = Σ auth of out-neighbors, max-normalized
    * each half-step. INTEGER-EXACT throughout: scores live at 1e6
    * fixed point and each normalization is `raw * 1e6 div max(raw)` —
    * integer sums and integer division only, so all 5 iterations
    * hash-match DuckDB with no float anywhere (stricter than
    * linkrank's per-iteration re-quantization, which still mixes
    * doubles between steps).
    *
    * Shape per half-step: one |E|⋈|V| shuffle join + a key-grouped
    * sum (map-side combinable) + a broadcast one-row max — the same
    * scale posture as linkrank; no windows, no per-node state beyond
    * a long. The lineitem graph is bipartite (src 0..499, dst
    * 500..999), the textbook HITS setting (hubs one side,
    * authorities the other). */
  /** The HITS loop over an arbitrary (src, dst) edge frame — factored
    * so composing callers (and scale probes) can run it on their own
    * graphs. `finalEager = true` materializes the small result and
    * releases BOTH loop caches before returning (the buildLinkrank
    * unpersist hook: callers that never clear the block cache — a
    * conductor composing queries — would otherwise leak |E|+|V|
    * cached blocks per call); the Q surface stays lazy because
    * Bench/Verify clear the block cache per query. */
  private[graft] def buildHits(edges: DataFrame, iters: Int = HITS_ITERS,
      finalEager: Boolean = false): DataFrame = {
    // loop-invariant tables, cached like linkrank's edge cache: each
    // of the 10 half-step materializations would otherwise re-run
    // the scan+distinct shuffle (measured 8.4 s → ~3 s at sf0.1)
    // r16: pinned with EAGER localCheckpoint, not .cache() — the
    // columnar cache's compression build + 20 columnar re-reads cost
    // ~10 executor-CPU-s at sf0.1 (~11 of the query's ~16 CPU-s sat in
    // the e/nodes builds; the paired A/B gave CPU 12.1 → 1.9 s, 6.4×,
    // wall flat, row-identical; OPTIMIZATION_r16.md item 21). Raw
    // checkpoint blocks trade ~2-4× more pinned bytes for that CPU —
    // the same measured call as ccnet_buckets' r16 pin.
    val e = edges.distinct().localCheckpoint()
    val nodes = e.select(col("src").as("url"))
      .union(e.select(col("dst").as("url"))).distinct().localCheckpoint()
    // r16: the loop carries scores KEYED BY THE JOIN SIDE (src → h,
    // dst → a) instead of a full per-node frame. The old per-half-step
    // `nodes ⟕ sums ⨯ broadcast(max)` shape paid a |V|⋈|V| shuffle
    // join plus a BroadcastNestedLoopJoin per half-step for rows the
    // next join immediately discarded: ar covers every dst of e by
    // construction (each dst has an inbound edge and hub covers every
    // src), and hr covers every src, so the nodes frame is only needed
    // ONCE — at the end, where src-only/dst-only nodes take the same
    // coalesce(·, 0) the old left join produced each step. The 1-row
    // max now rides into the next projection as a LITERAL — it is
    // collected on the driver exactly as the old BroadcastExchange
    // collected it, minus the BNL crossJoin (same integer arithmetic,
    // amax/hmax interpolated as BIGINT casts).
    // Each half-step still materializes (localCheckpoint): its sum
    // frame is read twice (the max and the next join), and left lazy
    // the lineage would double per half-step.
    var hub = nodes.withColumn("h", lit(1000000L))
      .select(col("url").as("src"), col("h"))
    var ar: DataFrame = null
    var hr: DataFrame = null
    var amax = 1L
    var hmax = 1L
    // previous iteration's ar/hr checkpoints die once this
    // iteration's are materialized — free them instead of waiting
    // for GC
    var deadAr: Option[org.apache.spark.sql.DataFrame] = None
    var deadHr: Option[org.apache.spark.sql.DataFrame] = None
    def maxOf(df: DataFrame, c: String): Long = {
      val r = df.agg(max(col(c))).head()
      if (r.isNullAt(0)) 1L else r.getLong(0) // empty graph: value unused
    }
    for (itn <- 1 to iters) {
      val arK = e.join(hub, Seq("src"))
        .groupBy("dst").agg(sum(col("h")).as("ar"))
        .localCheckpoint()
      // ar_k materialized from hub_{k-1} (over hr_{k-1}): the
      // PREVIOUS iteration's pair is now dead
      deadAr.foreach(
        org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint)
      deadHr.foreach(
        org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint)
      deadAr = Some(arK)
      ar = arK
      amax = maxOf(ar, "ar")
      val auth = ar.select(col("dst"),
        expr(s"ar * 1000000 div CAST($amax AS BIGINT)").as("a"))
      val hrK = e.join(auth, Seq("dst"))
        .groupBy("src").agg(sum(col("a")).as("hr"))
        .localCheckpoint()
      deadHr = Some(hrK)
      hr = hrK
      hmax = maxOf(hr, "hr")
      hub = hr.select(col("src"),
        expr(s"hr * 1000000 div CAST($hmax AS BIGINT)").as("h"))
    }
    val plan = nodes
      .join(hr, nodes("url") === hr("src"), "left")
      .join(ar, nodes("url") === ar("dst"), "left")
      .select(col("url"),
        expr(s"coalesce(hr, 0) * 1000000 div CAST($hmax AS BIGINT)")
          .as("hub_fx"),
        expr(s"coalesce(ar, 0) * 1000000 div CAST($amax AS BIGINT)")
          .as("auth_fx"))
    if (finalEager) {
      val result = plan.localCheckpoint()
      org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint(e)
      org.apache.spark.sql.graftbridge.ColumnBridge
        .freeLocalCheckpoint(nodes)
      result
    } else plan
  }

  val hitsScores = Q(
    "hits_scores",
    (s, dir) => buildHits(t(s, dir, "lineitem").select(
      (col("l_orderkey") % 500).as("src"),
      (col("l_partkey") % 500 + 500).as("dst"))),
    Some {
      val base = """
      WITH e AS (SELECT DISTINCT (l_orderkey % 500) AS src,
                        (l_partkey % 500 + 500) AS dst FROM lineitem),
      n AS (SELECT src AS url FROM e UNION SELECT dst AS url FROM e),
      h0 AS (SELECT url, CAST(1000000 AS BIGINT) AS h FROM n)"""
      // every CTE is referenced exactly ONCE (the max comes from a
      // whole-frame window, not a second scalar-subquery scan):
      // DuckDB inlines CTE references, so a twice-referenced step
      // would re-expand its whole upstream chain — 2^10 copies of the
      // edge scan by iteration 5, the same blowup the Spark side's
      // per-half-step localCheckpoint exists to prevent
      val iters = (1 to HITS_ITERS).map { i =>
        s""",
      ar$i AS (SELECT dst, CAST(SUM(h) AS BIGINT) AS ar
               FROM e JOIN h${i - 1} ON e.src = h${i - 1}.url GROUP BY 1),
      a$i AS (SELECT url, CAST(COALESCE(ar, 0) * 1000000
                 // MAX(ar) OVER () AS BIGINT) AS a
              FROM n LEFT JOIN ar$i ON url = dst),
      hr$i AS (SELECT src, CAST(SUM(a) AS BIGINT) AS hr
               FROM e JOIN a$i ON e.dst = a$i.url GROUP BY 1),
      h$i AS (SELECT url, CAST(COALESCE(hr, 0) * 1000000
                 // MAX(hr) OVER () AS BIGINT) AS h
              FROM n LEFT JOIN hr$i ON url = src)"""
      }.mkString
      base + iters + s"""
      SELECT h$HITS_ITERS.url, h AS hub_fx, a AS auth_fx
      FROM h$HITS_ITERS JOIN a$HITS_ITERS ON h$HITS_ITERS.url = a$HITS_ITERS.url"""
    })

  /** J6/G3 ScoreUpdater: push node scores back into the crawldb; clear
    * score when the node is absent (ScoreUpdater.java:60-130). */
  val scoreUpdater = Q(
    "score_updater",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val nodeScore = li
        .select(col("l_orderkey").as("url"), col("l_partkey"))
        .distinct()
        .groupBy("url")
        .agg(count(lit(1)).cast("double").as("node_score"))
      o.select(col("o_orderkey").as("url"), col("o_orderstatus").as("status"))
        .join(nodeScore, Seq("url"), "left")
        .select(col("url"), col("status"),
          coalesce(col("node_score"), lit(0.0)).as("score"))
    },
    Some("""
      WITH ns AS (SELECT l_orderkey AS url,
                         CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS node_score
                  FROM lineitem GROUP BY l_orderkey)
      SELECT o.o_orderkey AS url, o.o_orderstatus AS status,
             COALESCE(ns.node_score, 0.0) AS score
      FROM orders o LEFT JOIN ns ON o.o_orderkey = ns.url"""))

  /** A10 OPIC distribute-score-to-outlinks: parent score split evenly over
    * its outlinks with an internal/external factor
    * (OPICScoringFilter.java:99-173). Pure row math — no float sums. */
  val opicDistribute = Q(
    "opic_distribute",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val wc = Window.partitionBy(col("l_orderkey"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .withColumn("n_outlinks", count(lit(1)).over(wc))
        .select(
          col("l_orderkey").as("src"),
          col("l_partkey").as("dst"),
          col("l_linenumber").as("line"),
          // floor of an exact-integer-scaled share: engine-exact (round()
          // at a half-boundary is not)
          floor(round(col("o_totalprice") * 100, 0).cast("long") *
            when(col("l_partkey") % 2 === 0, lit(10L)).otherwise(lit(5L)) /
            col("n_outlinks")).cast("long").as("outlink_score_milli"))
    },
    Some("""
      SELECT l_orderkey AS src, l_partkey AS dst, l_linenumber AS line,
             CAST(FLOOR(CAST(ROUND(o_totalprice*1e2) AS BIGINT) *
               (CASE WHEN l_partkey % 2 = 0 THEN 10 ELSE 5 END)
               / n_outlinks) AS BIGINT) AS outlink_score_milli
      FROM (SELECT l.*, o.o_totalprice,
              CAST(count(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_outlinks
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)"""))

  val all: Seq[Q] = Seq(
    linkdbInvert, nodeDegrees, nodedumpTopk, webgraphBuild, webgraphCounts,
    linkrank, scoreUpdater, opicDistribute, hitsScores)
}
