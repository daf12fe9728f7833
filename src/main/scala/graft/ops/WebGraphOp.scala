package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Urls
import graft.schemas.{CrawlRow, ParseDataRow}

/** G1–G4 over REAL segment tables — the WebGraph job family as library
  * ops on a webgraphdb directory (reference: WebGraph.java:99-103 dir
  * layout, LinkRank.java:302-345 loop, ScoreUpdater.java join,
  * NodeDumper.java top-k). The oracle-checked algebra of these loops
  * lives in QueriesGraph (webgraph_* queries); this file wires the same
  * shapes to segment parse_data and the crawldb for the CLI verbs
  * `webgraph`, `linkrank`, `scoreupdater`, `nodedumper`. The LinkRank
  * loop itself lives here only: the oracle's `linkrank` query runs
  * [[linkrankEdges]] and [[linkrankLoop]] on its own graph.
  *
  * Layout under <webgraphdb>/: `outlinks` (src, dst, anchor — one row
  * per deduped edge) and `nodes` (url, num_inlinks, num_outlinks,
  * score). Loop-carried state is only the node table; every pass is
  * join + aggregate on keys — no driver-side graph.
  */
object WebGraphOp {

  /** The two tables' fixed schemas, given to every read so Spark does
    * not run a job to infer them from the files. */
  private val OutlinksSchema = StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType),
    StructField("anchor", StringType)))
  private val NodesSchema = StructType(Seq(
    StructField("url", StringType), StructField("num_inlinks", LongType),
    StructField("num_outlinks", LongType), StructField("score", DoubleType)))

  private def readOutlinks(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(OutlinksSchema).parquet(s"$dir/outlinks")
  private def readNodes(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(NodesSchema).parquet(s"$dir/nodes")

  /** Build/extend the webgraph from segment parse outputs: explode
    * outlinks, drop self-loops, dedup (src, dst) pairs (WebGraph.java
    * OutlinkDb latest-wins), union with the existing graph when
    * present, then derive the node table with in/out degrees. */
  def build(spark: SparkSession, parseData: Dataset[ParseDataRow],
      dir: String): Unit = {
    import spark.implicits._
    val fresh = parseData.toDF()
      .select(col("url").as("src"),
        explode(col("outlinks")).as("o"))
      .select(col("src"), col("o.toUrl").as("dst"),
        col("o.anchor").as("anchor"))
      .filter(col("src") =!= col("dst"))
    val prior =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/outlinks")))
        readOutlinks(spark, dir)
      else fresh.limit(0)
    // one row per (src, dst); deterministic keeper by anchor
    val edges = graft.operators.Relational.latestWins(
      prior.unionByName(fresh), Seq("src", "dst"), Seq(desc("anchor")))
    // two-generation write: outlinks_next → swap, so the read of the
    // prior generation above never races its own overwrite
    edges.write.mode(SaveMode.Overwrite).parquet(s"$dir/outlinks_next")
    swap(dir, "outlinks")
    val e = readOutlinks(spark, dir)
    val outDeg = e.groupBy(col("src").as("url"))
      .agg(count(lit(1)).as("num_outlinks"))
    val inDeg = e.groupBy(col("dst").as("url"))
      .agg(count(lit(1)).as("num_inlinks"))
    val nodes = outDeg.join(inDeg, Seq("url"), "full_outer")
      .select(col("url"),
        coalesce(col("num_inlinks"), lit(0L)).as("num_inlinks"),
        coalesce(col("num_outlinks"), lit(0L)).as("num_outlinks"),
        lit(1.0).as("score"))
    nodes.write.mode(SaveMode.Overwrite).parquet(s"$dir/nodes_next")
    swap(dir, "nodes")
  }

  private def swap(dir: String, part: String): Unit = {
    val p = java.nio.file.Paths.get(dir, part)
    val next = java.nio.file.Paths.get(dir, s"${part}_next")
    if (java.nio.file.Files.exists(p))
      graft.tables.Install.deleteRecursively(p)
    java.nio.file.Files.move(next, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** LinkRank over the built graph (LinkRank.java:302-345):
    * [[linkrankEdges]] then [[linkrankLoop]] on real urls, one
    * contribution per source host. Writes scores back into
    * <dir>/nodes. */
  def linkrank(spark: SparkSession, dir: String, iterations: Int = 10)
      : Unit = {
    val edges = linkrankEdges(
      readOutlinks(spark, dir).select(col("src"), col("dst")),
      Urls.host(col("src")))
    val nodes0 = readNodes(spark, dir)
      .select(col("url"), col("num_inlinks"), col("num_outlinks"))
    val nodes = linkrankLoop(edges,
      nodes0.withColumn("score", lit(1.0)).select(col("url"), col("score")),
      iterations)
    nodes0.join(nodes, "url")
      .select(col("url"), col("num_inlinks"), col("num_outlinks"),
        round(col("score"), 6).as("score"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/nodes_next")
    swap(dir, "nodes")
  }

  /** LinkRank's edge table over a (src, dst) edge frame `e0`, with the
    * reference's A8 duplicate elimination (LinkRank.java:585-597): a
    * target accepts at most ONE contribution per source `domain`, so
    * edges are deduped per (domain, dst) with a deterministic keeper
    * (lowest src). Each kept edge carries its source's out_deg, which
    * comes from the FULL graph (Node.numOutlinks): only the inbound
    * contributions are domain-deduped. The out-degree join is
    * loop-invariant, so it is done here once rather than per
    * iteration. (No broadcast hints: at real scale BOTH sides are
    * |V|/|E|-sized — shuffle joins are the right shape.) */
  private[graft] def linkrankEdges(e0: DataFrame, domain: Column)
      : DataFrame = {
    val wDom = Window.partitionBy(domain.as("dom"), col("dst"))
      .orderBy(asc("src"))
    val outDeg = e0.groupBy("src").agg(count(lit(1)).as("out_deg"))
    e0.withColumn("rn", row_number().over(wDom))
      .filter(col("rn") === 1).drop("rn")
      .join(outDeg, "src")
  }

  /** The LinkRank iterations over [[linkrankEdges]]' table and the
    * initial (url, score) node frame: score' = 0.15 + 0.85·Σ(score /
    * out_deg) (LinkRank.java:302-345, 603-605), every node keeping
    * 0.15 when nothing links to it. Contributions are fixed-point
    * quantized (1e-9) before each aggregation, so every iteration is
    * order-independent and engine-exact. Returns the unrounded
    * (url, score) frame after `iterations` steps.
    *
    * r16 NEGATIVE RESULT (kept as the QueriesGraph.buildHits contrast):
    * rewriting this loop onto src-keyed score frames (the buildHits r16
    * shape — per-iteration left join against the src set instead of the
    * initial nodes, one final node join) measured WORSE in the paired
    * in-JVM A/B (cpu 2.5 → 32 s raw, still 2.5 → 6.8 s after pinning the
    * src set as a checkpoint leaf; wall ~equal; OPTIMIZATION_r16.md
    * item 2). This loop is LAZY between its 5-iteration checkpoints, and
    * Spark reuses the one initial-nodes exchange across all five nested
    * references — the src-keyed frame defeated that reuse (its subtree
    * is rewritten per nesting level by self-join deduplication, so
    * nothing canonicalizes equal), turning a shared shuffle into
    * per-level recompute. buildHits wins from the same idea only because
    * its half-steps are EAGER checkpoints — there is no cross-level plan
    * sharing to lose. */
  private[graft] def linkrankLoop(edges: DataFrame, nodes0: DataFrame,
      iterations: Int): DataFrame = {
    var nodes = nodes0
    var deadNodes: Option[DataFrame] = None
    // localCheckpoint every 5th iteration: truncates lineage so the
    // loop survives the reference's 10-iteration config without plan
    // blowup (SURVEY §2.10) while short runs stay a single job.
    for (it <- 1 to iterations) {
      val contribs = edges
        .join(nodes, edges("src") === nodes("url"))
        .select(col("dst"),
          round(col("score") / col("out_deg") * 1e9, 0).cast("long")
            .as("c_fx"))
        .groupBy("dst").agg(sum(col("c_fx")).as("sum_fx"))
      nodes = nodes0.select(col("url"))
        .join(contribs, nodes0("url") === contribs("dst"), "left")
        .select(col("url"),
          (lit(0.15) + lit(0.85) *
            (coalesce(col("sum_fx"), lit(0L)).cast("double") / 1e9))
            .as("score"))
      // not on the last iteration — the final plan is consumed exactly
      // once anyway. The previous 5th-iteration checkpoint is dead once
      // the new one exists.
      if (it % 5 == 0 && it < iterations) {
        val c = nodes.localCheckpoint()
        deadNodes.foreach(
          org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint)
        deadNodes = Some(c)
        nodes = c
      }
    }
    nodes
  }

  /** ScoreUpdater (ScoreUpdater.java): left-join node scores into the
    * crawldb datum; urls without a node keep their score (the
    * reference's clear-vs-keep flag defaults to keep). */
  def scoreUpdater(crawldb: Dataset[CrawlRow], spark: SparkSession,
      dir: String): Dataset[CrawlRow] = {
    import spark.implicits._
    val scores = readNodes(spark, dir)
      .select(col("url"), col("score").as("__ns"))
    crawldb.toDF()
      .join(scores, Seq("url"), "left")
      .select(col("url"), struct(
        col("datum.status").as("status"),
        col("datum.fetchTime").as("fetchTime"),
        col("datum.retries").as("retries"),
        col("datum.fetchInterval").as("fetchInterval"),
        coalesce(col("__ns").cast("float"), col("datum.score")).as("score"),
        col("datum.signature").as("signature"),
        col("datum.modifiedTime").as("modifiedTime"),
        col("datum.metadata").as("metadata")).as("datum"))
      .as[CrawlRow]
  }

  /** NodeDumper top-k (NodeDumper.java): by score | inlinks | outlinks,
    * descending, url tiebreak — plans TakeOrderedAndProject, never a
    * global sort. */
  def nodeDumper(spark: SparkSession, dir: String, by: String, k: Int)
      : DataFrame = {
    val nodes = readNodes(spark, dir)
    val key = by match {
      case "score" => col("score")
      case "inlinks" => col("num_inlinks")
      case "outlinks" => col("num_outlinks")
      case other => sys.error(s"nodedumper: unknown -by $other")
    }
    nodes.orderBy(key.desc, col("url")).limit(k)
  }
}
