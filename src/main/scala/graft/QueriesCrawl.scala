package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Queries.{t, fxSum, sqlFxSum}
import graft.operators.Relational

/** Batch 3 — crawl-db lifecycle operators (SURVEY §2.3 J3/J7/J8, §2.5 A2,
  * §2.2 F6/F8, §2.7 U1/U3, §2.8 X1/X2). */
object QueriesCrawl {

  /** A2/J8 HostDb aggregate: per host per-status counts, score min/max/avg,
    * exact quantile, and the mode of a string field with deterministic
    * tiebreak (UpdateHostDbReducer.java:176-349). Host = nation of the
    * ordering customer. */
  val hostdbAgg = Q(
    "hostdb_agg",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val base = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("c_nationkey").as("host"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
      val agg0 = base.groupBy("host").agg(
        count(lit(1)).as("n_urls"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_fetched"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_unfetched"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_pending"),
        min(col("o_totalprice")).as("min_score"),
        max(col("o_totalprice")).as("max_score"),
        (fxSum(col("o_totalprice"), 2) / count(lit(1))).as("avg_score"))
      // exact median from the two-phase value histogram — no per-host
      // rank window (Relational.histQuantileCont)
      val med = Relational
        .valueHistogram(base.select(col("host"), col("o_totalprice")),
          Seq("host"), col("o_totalprice"))
        .select(col("host"),
          round(Relational.histQuantileCont(col("hist"), 0.5), 4)
            .as("p50_score"))
      val agg = agg0.join(med, Seq("host"))
      // mode(o_orderpriority) with (count desc, value asc) tiebreak
      val prioCnt = base.groupBy(col("host"), col("o_orderpriority"))
        .agg(count(lit(1)).as("pc"))
      val topPrio = Relational
        .latestWins(prioCnt, Seq("host"), Seq(desc("pc"), asc("o_orderpriority")))
        .select(col("host"), col("o_orderpriority").as("top_priority"))
      agg.join(topPrio, Seq("host"))
    },
    Some(s"""
      WITH base AS (
        SELECT c_nationkey AS host, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders JOIN customer ON o_custkey = c_custkey),
      agg AS (
        SELECT host,
          COUNT(*) AS n_urls,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fetched,
          COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_unfetched,
          COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
          MIN(o_totalprice) AS min_score,
          MAX(o_totalprice) AS max_score,
          (${sqlFxSum("o_totalprice", 2)}) / COUNT(*) AS avg_score,
          ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_score
        FROM base GROUP BY host),
      pc AS (SELECT host, o_orderpriority, COUNT(*) AS pc
             FROM base GROUP BY host, o_orderpriority),
      tp AS (SELECT host, o_orderpriority AS top_priority FROM
             (SELECT *, row_number() OVER (PARTITION BY host
                ORDER BY pc DESC, o_orderpriority) AS rn FROM pc)
             WHERE rn = 1)
      SELECT agg.*, tp.top_priority FROM agg JOIN tp USING (host)"""))

  /** U1 CrawlDb merge: union N dbs, keep per key the row with max
    * fetchTime, merge per-db counters as metadata
    * (CrawlDbMerger.java:65-130). Two synthetic dbs = orders split by
    * orderkey parity, keyed by customer. */
  val crawldbMerge = Q(
    "crawldb_merge",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val dbA = o.filter(col("o_orderkey") % 2 === 0).withColumn("db", lit("a"))
      val dbB = o.filter(col("o_orderkey") % 2 === 1).withColumn("db", lit("b"))
      val unioned = dbA.union(dbB)
      val latest = Relational
        .latestWins(unioned, Seq("o_custkey"),
          Seq(desc("o_orderdate"), desc("o_orderkey")))
        .select(col("o_custkey").as("url"),
          col("o_orderkey").as("latest_key"),
          col("db").as("winning_db"))
      val meta = unioned.groupBy(col("o_custkey").as("url"))
        .agg(count(when(col("db") === "a", 1)).as("n_a"),
             count(when(col("db") === "b", 1)).as("n_b"))
      latest.join(meta, Seq("url"))
    },
    Some("""
      WITH u AS (SELECT *, CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS db
                 FROM orders),
      latest AS (
        SELECT o_custkey AS url, o_orderkey AS latest_key, db AS winning_db
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM u)
        WHERE rn = 1),
      meta AS (
        SELECT o_custkey AS url,
          COUNT(*) FILTER (WHERE db = 'a') AS n_a,
          COUNT(*) FILTER (WHERE db = 'b') AS n_b
        FROM u GROUP BY o_custkey)
      SELECT latest.url, latest.latest_key, latest.winning_db, meta.n_a, meta.n_b
      FROM latest JOIN meta USING (url)"""))

  /** J7/U3 Segment merge: union N tagged segments, latest segment wins per
    * (key, part) (SegmentMerger.java:419-530). Segments = events split by
    * event_id mod 3; part = event_type. */
  val segmentMerge = Q(
    "segment_merge",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val tagged = ev.withColumn("segment", col("event_id") % 3)
      Relational
        .latestWins(tagged, Seq("user_id", "event_type"),
          Seq(desc("segment"), desc("ts"), desc("event_id")))
        .select(col("user_id"), col("event_type"), col("segment"),
          col("event_id").as("kept_event"), col("value").as("kept_value"))
    },
    Some("""
      SELECT user_id, event_type, segment, event_id AS kept_event,
             value AS kept_value
      FROM (SELECT *, event_id % 3 AS segment,
              row_number() OVER (PARTITION BY user_id, event_type
                ORDER BY event_id % 3 DESC, ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1"""))

  /** J3+F8 Indexing cogroup: multi-way left join building the document,
    * then the eligibility/delete decision tree
    * (IndexerMapReduce.java:309-413, NutchIndexAction ADD/DELETE). */
  val indexDocs = Q(
    "index_docs",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val li = t(s, dir, "lineitem")
      val linkAgg = li.groupBy(col("l_orderkey").as("url"))
        .agg(count(lit(1)).as("n_inlinks"),
             fxSum(col("l_extendedprice"), 2).as("link_score"))
      o.select(col("o_orderkey").as("url"), col("o_custkey"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("title"),
          col("o_totalprice").as("score"))
        .join(broadcast(c), col("o_custkey") === c("c_custkey"), "left")
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .join(linkAgg, Seq("url"), "left")
        .select(col("url"), col("title"), col("n_name").as("host"),
          col("score"),
          coalesce(col("n_inlinks"), lit(0L)).as("n_inlinks"),
          coalesce(col("link_score"), lit(0.0)).as("link_score"),
          when(col("n_inlinks").isNull, lit("delete_gone"))
            .when(col("status") === "P", lit("skip_notmodified"))
            .otherwise(lit("add")).as("action"))
    },
    Some("""
      WITH la AS (SELECT l_orderkey AS url, COUNT(*) AS n_inlinks,
                    CAST(SUM(CAST(ROUND(l_extendedprice*1e2) AS BIGINT)) AS DOUBLE)/1e2 AS link_score
                  FROM lineitem GROUP BY l_orderkey)
      SELECT o.o_orderkey AS url, o.o_orderpriority AS title,
             n.n_name AS host, o.o_totalprice AS score,
             COALESCE(la.n_inlinks, 0) AS n_inlinks,
             COALESCE(la.link_score, 0.0) AS link_score,
             CASE WHEN la.n_inlinks IS NULL THEN 'delete_gone'
                  WHEN o.o_orderstatus = 'P' THEN 'skip_notmodified'
                  ELSE 'add' END AS action
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN la ON o.o_orderkey = la.url"""))

  /** index-jexl-filter (JexlIndexingFilter.java:53-102): the JEXL
    * document gate applied AFTER the indexing cogroup assembles the doc
    * — the same `Index.Config.jexlFilter` path, demonstrated over the
    * index_docs fixture so the predicate sees joined fields (host from
    * the customer⋈nation side, link_score from the linkdb side) plus
    * the action decision. Exercises the `=~` list-membership translation
    * the reference evaluates via JexlContext collections. */
  val indexJexl = Q(
    "index_jexl",
    (s, dir) => {
      val jexl = "action == 'add' && " +
        "(host =~ ('CHINA','INDIA') || link_score > 200000.0)"
      indexDocs.build(s, dir)
        .filter(expr(graft.net.Jexl.toSqlExpr(jexl)))
    },
    Some(s"""
      WITH docs AS (${indexDocs.oracle.get})
      SELECT * FROM docs
      WHERE action = 'add'
        AND (host IN ('CHINA','INDIA') OR link_score > 200000.0)"""))

  /** F6 JEXL expression predicate (CrawlDatum.java:573-625,
    * JexlUtil.java; Generator.java:306-311): the REAL JEXL source string
    * goes through net.Jexl.toSqlExpr (`==`→`=`, `&&`→AND …) and lands in
    * Catalyst as a codegen, pushdown-eligible expression. */
  val jexlFilter = Q(
    "jexl_filter",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val jexl = "score > 150000.0 && status == 'O' && retries < 3"
      o.select(col("o_orderkey").as("url"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("score"),
          (col("o_orderkey") % 4).as("retries"))
        .filter(expr(graft.net.Jexl.toSqlExpr(jexl)))
    },
    Some("""
      SELECT o_orderkey AS url, o_orderstatus AS status,
             o_totalprice AS score, o_orderkey % 4 AS retries
      FROM orders
      WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
        AND o_orderkey % 4 < 3"""))

  /** X1 URL parts: host / domain (public-suffix aware) / tld / page from
    * synthesized URLs (util/URLUtil.java). The domain/suffix come from
    * the full vendored-PSL engine (functions/Psl.scala) via a codegen'd
    * StaticInvoke; the synthesized suffixes cover the PSL rule classes —
    * plain gTLD, 2- and 3-label suffixes, a numeric-label suffix, a
    * wildcard (`*.ck` ⇒ the whole host is registrable), and a
    * non-suffix (`nn` ⇒ host returned whole). The oracle states the
    * expected PSL answer per class. */
  val urlParts = Q(
    "url_parts",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val sfx = element_at(
        array(lit(".com"), lit(".co.uk"), lit(".plc.co.im"),
          lit(".2000.hu"), lit(".ck"), lit(".nn")),
        (col("c_custkey") % 6 + 1).cast("int"))
      val url = concat(lit("https://www."),
        regexp_replace(lower(col("c_name")), "[^a-z0-9]", ""),
        sfx, lit("/page/"), col("c_custkey"), lit("?q=1#frag"))
      c.select(col("c_custkey").as("id"), url.as("url"))
        .select(col("id"), col("url"),
          graft.functions.Urls.host(col("url")).as("host"),
          graft.functions.Urls.registeredDomain(col("url")).as("domain"),
          graft.functions.Urls.domainSuffix(col("url")).as("suffix"),
          graft.functions.Urls.tld(col("url")).as("tld"),
          graft.functions.Urls.page(col("url")).as("page"))
    },
    Some("""
      WITH u AS (
        SELECT c_custkey AS id, c_custkey % 6 AS cls,
          'https://www.' || regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g')
            || (['.com', '.co.uk', '.plc.co.im',
                 '.2000.hu', '.ck', '.nn'][(c_custkey % 6 + 1)::INT])
            || '/page/' || c_custkey || '?q=1#frag' AS url
        FROM customer),
      h AS (SELECT *, regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
            FROM u)
      SELECT id, url, host,
        CASE cls
          WHEN 0 THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
          WHEN 1 THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
          WHEN 2 THEN regexp_extract(host, '([^.]+\.plc\.co\.im)$', 1)
          WHEN 3 THEN regexp_extract(host, '([^.]+\.2000\.hu)$', 1)
          WHEN 4 THEN host
          ELSE host END AS domain,
        CASE cls
          WHEN 0 THEN 'com'
          WHEN 1 THEN 'co.uk'
          WHEN 2 THEN 'plc.co.im'
          WHEN 3 THEN '2000.hu'
          WHEN 4 THEN regexp_extract(host, '([^.]+\.ck)$', 1)
          ELSE NULL END AS suffix,
        regexp_extract(url, '\.([a-z]+)([/?#]|$)', 1) AS tld,
        regexp_replace(url, '[?#].*$', '') AS page
      FROM h"""))

  /** F1/X2 URL normalization (column-expression subset of
    * BasicURLNormalizer.java:57-350: lowercase scheme+host, strip default
    * port, drop fragment, drop trailing '?', collapse '/./'). The full
    * rule-chain normalizer lives in functions.Urls.normalize (UDF) and is
    * spec-tested; this query checks the codegen path cross-engine. */
  val urlNormalize = Q(
    "url_normalize",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val messy = concat(lit("HTTP://WWW."),
        regexp_replace(upper(col("c_name")), "[^A-Z0-9]", ""),
        lit(".COM:80/a/./b/page"), col("c_custkey"),
        when(col("c_custkey") % 2 === 0, lit("?")).otherwise(lit("#sec")))
      c.select(col("c_custkey").as("id"), messy.as("url"))
        .select(col("id"), col("url"),
          graft.functions.Urls.normalizeCol(col("url")).as("normalized"))
    },
    Some("""
      WITH u AS (
        SELECT c_custkey AS id,
          'HTTP://WWW.' || regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g')
            || '.COM:80/a/./b/page' || c_custkey
            || (CASE WHEN c_custkey % 2 = 0 THEN '?' ELSE '#sec' END) AS url
        FROM customer),
      p AS (SELECT id, url,
              lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
              lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
              regexp_replace(url, '^[A-Za-z]+://[^/?#]*', '') AS rest
            FROM u),
      q AS (SELECT id, url, scheme,
              regexp_replace(hostport, ':80$', '') AS h,
              regexp_replace(regexp_replace(regexp_replace(rest, '#.*$', ''),
                '\?$', ''), '/\./', '/', 'g') AS r
            FROM p)
      SELECT id, url, scheme || '://' || h || r AS normalized FROM q"""))

  /** J8 (full) — HostDb update: this round's per-host aggregates
    * FULL-OUTER-joined onto the previous hostdb; failure counters
    * accumulate, score refreshes when new data exists, hosts with
    * neither fetches nor history drop out
    * (UpdateHostDbReducer.java:176-349: checkFailures/numRecords merge;
    * DNS resolution is a fetch-side concern, modeled as the carried
    * failure counter). */
  val hostdbUpdate = Q(
    "hostdb_update",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val cur = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy((col("c_nationkey") % 30).as("host"))
        .agg(count(lit(1)).as("n_urls"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_fetched"),
          count(when(col("o_orderkey") % 97 === 0, 1)).as("conn_failures"),
          fxSum(col("o_totalprice"), 2).as("sum_score"))
      val prev = n.select((col("n_nationkey") + 15).as("host"),
        (col("n_nationkey") % 3).cast("long").as("prev_dns_failures"),
        (col("n_nationkey") * 100).cast("double").as("prev_score"))
      // no broadcast hint: Spark cannot broadcast either side of a
      // full-outer join (every unmatched row of BOTH sides must
      // surface), so a hint here is a no-op that only emits a
      // HintErrorLogger WARN; both sides are host-keyed aggregates,
      // the shuffle is already minimal
      cur.join(prev, Seq("host"), "full_outer")
        .select(col("host"),
          coalesce(col("n_urls"), lit(0L)).as("n_urls"),
          coalesce(col("n_fetched"), lit(0L)).as("n_fetched"),
          (coalesce(col("prev_dns_failures"), lit(0L)) +
            coalesce(col("conn_failures"), lit(0L))).as("failures"),
          coalesce(col("sum_score"), col("prev_score"), lit(0.0)).as("score"),
          when(col("prev_score").isNotNull && col("n_urls").isNotNull,
            lit("updated"))
            .when(col("prev_score").isNotNull, lit("carried"))
            .otherwise(lit("new")).as("origin"))
    },
    Some(s"""
      WITH cur AS (
        SELECT c_nationkey % 30 AS host,
          COUNT(*) AS n_urls,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fetched,
          COUNT(*) FILTER (WHERE o_orderkey % 97 = 0) AS conn_failures,
          ${sqlFxSum("o_totalprice", 2)} AS sum_score
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1),
      prev AS (
        SELECT n_nationkey + 15 AS host,
          CAST(n_nationkey % 3 AS BIGINT) AS prev_dns_failures,
          CAST(n_nationkey * 100 AS DOUBLE) AS prev_score
        FROM nation)
      SELECT COALESCE(cur.host, prev.host) AS host,
        COALESCE(n_urls, 0) AS n_urls,
        COALESCE(n_fetched, 0) AS n_fetched,
        COALESCE(prev_dns_failures, 0) + COALESCE(conn_failures, 0) AS failures,
        COALESCE(sum_score, prev_score, 0.0) AS score,
        CASE WHEN prev_score IS NOT NULL AND n_urls IS NOT NULL THEN 'updated'
             WHEN prev_score IS NOT NULL THEN 'carried'
             ELSE 'new' END AS origin
      FROM cur FULL OUTER JOIN prev ON cur.host = prev.host"""))

  /** URL-canonicalization dedup — the C4 pipeline's FIRST dedup stage
    * (dedup by normalized URL before any content hashing): three messy
    * variants per page — mixed-case scheme/host + default port +
    * fragment, dot-segments + empty query, and the clean form — must
    * collapse to ONE canonical url, keeping the lowest variant id.
    * Exercises the real normalizer column ([[graft.functions.Urls]])
    * as the dedup key, not a toy lowercase.
    *
    * Scale shape: the group-by key is the 60-bit hash of the
    * normalized url (8-byte shuffle width, never the string), keeper =
    * min(vid) per group — map-side combinable — joined back hash-keyed
    * for the per-variant verdict. Linear, no windows. */
  val urlDedup = Q(
    "url_dedup",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val h = regexp_replace(upper(col("c_name")), "[^A-Z0-9]", "")
      val variants = c.select(col("c_custkey").as("k"),
          explode(array(
            struct(lit(0L).as("v"), concat(lit("http://www."), h,
              lit(".com/a/b/page"), col("c_custkey")).as("url")),
            struct(lit(1L).as("v"), concat(lit("HTTP://WWW."), h,
              lit(".COM:80/a/b/page"), col("c_custkey"), lit("#frag"))
              .as("url")),
            struct(lit(2L).as("v"), concat(lit("http://www."), h,
              lit(".com/a/./b/page"), col("c_custkey"), lit("?"))
              .as("url")))).as("x"))
        .select((col("k") * 3 + col("x.v")).as("vid"), col("x.url").as("url"))
        // r16: the normalize regex chain + md5 is the query's cost and
        // ran TWICE (keepers agg + join probe both consumed the frame)
        // on ONE task (the customer scan is a single row-group and the
        // explode's output is KB-scale, so AQE never splits it —
        // per-row CPU invisible to byte heuristics, the flac_stats
        // finding). Widen the tiny (vid, url) rows BEFORE the regex
        // (explicit COUNT, as a column-only repartition would coalesce
        // back to 1) and pin the normalized frame so the chain runs
        // once (the ccnet 2-consumer pin; rows stored are
        // output-shaped). Measured: 2× 1-task 0.86 CPU-s stages →
        // wide; bench-subset wall below (OPTIMIZATION_r16.md item 24).
        // Row-identical by construction: repartition + pin change no
        // expression.
        .repartition(s.sparkContext.defaultParallelism, col("vid"))
        .withColumn("normalized",
          graft.functions.Urls.normalizeCol(col("url")))
        .withColumn("nh", Queries.md5Long(col("normalized")))
        .localCheckpoint(false)
      val keepers = variants.groupBy("nh")
        .agg(min(col("vid")).as("keeper_vid"),
          count(lit(1)).as("n_variants"))
      variants.join(keepers, "nh")
        .select(col("vid"), col("normalized"), col("keeper_vid"),
          col("n_variants"),
          when(col("vid") === col("keeper_vid"), lit("keep"))
            .otherwise(lit("dup")).as("verdict"))
    },
    Some("""
      WITH u AS (
        SELECT c_custkey * 3 + v.v AS vid,
          CASE v.v
            WHEN 0 THEN 'http://www.' || h || '.com/a/b/page' || c_custkey
            WHEN 1 THEN 'HTTP://WWW.' || h || '.COM:80/a/b/page'
              || c_custkey || '#frag'
            ELSE 'http://www.' || h || '.com/a/./b/page' || c_custkey || '?'
          END AS url
        FROM (SELECT c_custkey,
                regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g') AS h
              FROM customer)
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS v) v),
      p AS (SELECT vid, url,
              lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
              lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
                AS hostport,
              regexp_replace(url, '^[A-Za-z]+://[^/?#]*', '') AS rest
            FROM u),
      n AS (SELECT vid,
              scheme || '://' || regexp_replace(hostport, ':80$', '')
                || regexp_replace(regexp_replace(regexp_replace(rest,
                     '#.*$', ''), '\?$', ''), '/\./', '/', 'g')
                AS normalized
            FROM p),
      g AS (SELECT normalized, MIN(vid) AS keeper_vid,
              COUNT(*) AS n_variants
            FROM n GROUP BY 1)
      SELECT vid, n.normalized, CAST(keeper_vid AS BIGINT) AS keeper_vid,
        CAST(n_variants AS BIGINT) AS n_variants,
        CASE WHEN vid = keeper_vid THEN 'keep' ELSE 'dup' END AS verdict
      FROM n JOIN g ON n.normalized = g.normalized"""))

  val all: Seq[Q] = Seq(
    hostdbAgg, crawldbMerge, segmentMerge, indexDocs, indexJexl, jexlFilter,
    urlParts, urlNormalize, hostdbUpdate, urlDedup)
}
