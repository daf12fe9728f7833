package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Queries.{t, spread}

/** Batch 5 — training-data-pipeline operators beyond the reference's own
  * surface: repetition-based quality rules (Gopher-style), PII scrubbing,
  * benchmark decontamination, and token-budget sampling. All run over the
  * `documents` table; signals that the synthetic corpus lacks (PII
  * strings) are PLANTED identically on both engines so every oracle
  * checks real work (the embed_neardup pattern).
  *
  * Scale notes are per query; none uses an unpartitioned window, a
  * driver collect, or an unbounded per-group state.
  */
object QueriesPipeline {

  /** The 30-word planted cross-document paragraph shared by span_dedup,
    * exact_substr_dedup, and incremental_substr (prepended to
    * doc_id % 11 == 3 carriers) — ONE copy on purpose: the queries'
    * planted positives and their DuckDB oracles must stay
    * byte-identical, or the planted collisions silently stop firing
    * and the tests go vacuously green. */
  private val SharedPara = "shared press release paragraph syndicated " +
    "verbatim across partner outlets today with identical wording and " +
    "no attribution beyond the original newswire byline copy desk " +
    "issued by the communications office this week"
  require(SharedPara.split(" ").length == 30)

  /** DuckDB word-k-gram builder (1-based list indexing, k fixed) — the
    * oracle twin of the plan-side posexplode+lead gram construction. */
  private def sqlWordGrams(wordsExpr: String, k: Int): String = {
    val parts = (0 until k).map(j => s"$wordsExpr[i + $j]").mkString(", ")
    s"""CASE WHEN len($wordsExpr) >= $k
          THEN [concat_ws(' ', $parts)
                for i in range(1, len($wordsExpr) - ${k - 1} + 1)]
          ELSE [] END"""
  }

  /** Gopher-style repetition quality rules: per doc, the fraction of
    * bigram occurrences taken by the single most frequent bigram
    * (top2_frac) and the fraction of trigram occurrences that are
    * repeats of an already-seen trigram (dup3_frac), both in basis
    * points, plus the keep/reject decision at the published-style
    * thresholds (top-2gram ≤ 20%, duplicated 3-grams ≤ 18%).
    *
    * Shape: posexplode tokens → lead() grams over (doc_id, pos) → count
    * per (doc, gram) → per-doc max/sums. Everything stays in whole-stage
    * codegen (an array-building `transform` lambda here is interpreted
    * per element — measured 4× slower end-to-end); the window partitions
    * by doc_id, so its state is one document's tokens.
    */
  val qualityGopher = Q(
    "quality_gopher",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      // scalar grams (r15): the old posexplode + lead-window toks frame
      // was consumed by BOTH branches uncached, so each re-ran the
      // per-token Exchange+Sort; the gram scalar explodes each order
      // directly with no window at all (same gram multisets)
      def grams(n: Int) = d.select(col("doc_id"),
        explode(graft.functions.Similarity.wordGramsAll(col("text"), n))
          .as("g"))
      val g2 = grams(2)
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("top2"), sum(col("c")).as("n2"))
      val g3 = grams(3)
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c") - 1).as("dup3"), sum(col("c")).as("n3"))
      val top2bp = floor(col("top2") * 10000.0 / col("n2")).cast("long")
      val dup3bp = floor(col("dup3") * 10000.0 / col("n3")).cast("long")
      g2.join(g3, "doc_id")
        .select(col("doc_id"),
          top2bp.as("top2_frac_bp"),
          dup3bp.as("dup3_frac_bp"),
          when(top2bp <= 2000 && dup3bp <= 1800, lit("keep"))
            .otherwise(lit("reject")).as("gopher_verdict"))
    },
    Some {
      val words = "string_split(text, ' ')"
      s"""
      WITH docs AS (
        SELECT doc_id,
          ${sqlWordGrams(words, 2)} AS g2,
          ${sqlWordGrams(words, 3)} AS g3
        FROM documents),
      c2 AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(g2) AS g FROM docs) GROUP BY 1, 2),
      a2 AS (
        SELECT doc_id, MAX(c) AS top2, SUM(c) AS n2 FROM c2 GROUP BY 1),
      c3 AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(g3) AS g FROM docs) GROUP BY 1, 2),
      a3 AS (
        SELECT doc_id, SUM(c - 1) AS dup3, SUM(c) AS n3 FROM c3 GROUP BY 1)
      SELECT a2.doc_id,
        CAST(FLOOR(top2 * 10000.0 / n2) AS BIGINT) AS top2_frac_bp,
        CAST(FLOOR(dup3 * 10000.0 / n3) AS BIGINT) AS dup3_frac_bp,
        CASE WHEN FLOOR(top2 * 10000.0 / n2) <= 2000
              AND FLOOR(dup3 * 10000.0 / n3) <= 1800
             THEN 'keep' ELSE 'reject' END AS gopher_verdict
      FROM a2 JOIN a3 ON a2.doc_id = a3.doc_id"""
    })

  // PII patterns shared by both engines (Java regex and RE2 read these
  // identically: plain classes, no lookaround, no backrefs).
  private val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IPV4_RE =
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** Total PII hits (emails + IPv4s + phone-shaped numbers) in a text
    * column — the count the `corpus -pii` metrics gauge sums. Pure
    * codegen'd row-local expression. */
  private[graft] def piiCount(c: Column): Column =
    (size(regexp_extract_all(c, lit(EMAIL_RE), lit(0))) +
      size(regexp_extract_all(c, lit(IPV4_RE), lit(0))) +
      size(regexp_extract_all(c, lit(PHONE_RE), lit(0)))).cast("long")

  private val PII_PLACEHOLDER_RE = "<EMAIL>|<IP>|<PHONE>"

  /** Typed-placeholder occurrences in a text column. The export verb's
    * `pii_redacted` gauge counts these on the [[piiRedact]] OUTPUT
    * (minus any already present in the input): a raw [[piiCount]] over
    * the source double-counts nested matches — an IP-shaped host or
    * phone-shaped digits inside an email are separate pattern hits but
    * removed by the single `<EMAIL>` replacement — so output-side
    * counting is the number of spans actually redacted. */
  private[graft] def piiPlaceholders(c: Column): Column =
    size(regexp_extract_all(c, lit(PII_PLACEHOLDER_RE), lit(0)))
      .cast("long")

  /** The scrub transform the pii_scrub query reports on, reusable by
    * the export verb: typed placeholders, email first (an address
    * containing an IP-shaped host is one email, not an email + an
    * IP). */
  private[graft] def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EMAIL_RE, "<EMAIL>"),
        IPV4_RE, "<IP>"),
      PHONE_RE, "<PHONE>")

  /** PII scrub: redact emails / IPv4 addresses / phone-shaped numbers to
    * typed placeholders and report per-doc hit counts plus the signature
    * of the scrubbed text. The corpus is synthetic word salad, so the
    * PII is PLANTED deterministically from doc_id (identically in the
    * oracle) — every row exercises all three patterns.
    *
    * Pure codegen'd row-local expressions: zero shuffles beyond the
    * scan; at 100 TB this is a map-only pass.
    */
  val piiScrub = Q(
    "pii_scrub",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or admin"),
        col("doc_id"), lit("@mail.test call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), col("doc_id") % 256, lit(".0.1"))
      val scrubbed = piiRedact(planted)
      d.select(col("doc_id"),
        size(regexp_extract_all(planted, lit(EMAIL_RE), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(planted, lit(IPV4_RE), lit(0)))
          .cast("long").as("n_ip"),
        size(regexp_extract_all(planted, lit(PHONE_RE), lit(0)))
          .cast("long").as("n_phone"),
        md5(scrubbed).as("scrubbed_sig"))
    },
    Some(s"""
      WITH p AS (
        SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com or admin'
            || doc_id || '@mail.test call 555-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            || ' from 10.' || (doc_id % 256) || '.0.1' AS planted
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(planted, '$EMAIL_RE')) AS BIGINT)
          AS n_email,
        CAST(len(regexp_extract_all(planted, '$IPV4_RE')) AS BIGINT)
          AS n_ip,
        CAST(len(regexp_extract_all(planted, '$PHONE_RE')) AS BIGINT)
          AS n_phone,
        md5(regexp_replace(regexp_replace(regexp_replace(planted,
          '$EMAIL_RE', '<EMAIL>', 'g'),
          '$IPV4_RE', '<IP>', 'g'),
          '$PHONE_RE', '<PHONE>', 'g')) AS scrubbed_sig
      FROM p"""))

  /** Benchmark decontamination: flag corpus documents sharing any word
    * 8-gram with a "benchmark" set (every 25th document — the standard
    * eval-set-leaked-into-the-crawl setup). Corpus-side grams are
    * DISTINCT per doc before the join; benchmark grams are distinct
    * globally and broadcast (eval sets are small by construction — a
    * benchmark is thousands of documents, not billions). Matched docs
    * report how many distinct benchmark grams they share.
    *
    * The hit set is exactly the planted benchmark docs themselves
    * (self-contamination) plus any natural collisions — non-vacuous on
    * every row of the benchmark.
    */
  /** Decontamination text normalization: lowercase, fold every
    * non-[a-z0-9] run to one space, trim — so a benchmark answer that
    * drifted only in casing/punctuation ("The Answer is 42!" vs "the
    * answer is 42") still matches the corpus copy. ASCII-alnum on
    * purpose: both engines lowercase and strip identically, with no
    * locale/Unicode-casing divergence in the matching alphabet. The
    * DuckDB twin is [[sqlNormWords]]. */
  private[graft] def normText(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Oracle twin of [[normText]] + tokenize: the DuckDB words
    * expression for normalized gram matching. */
  private[graft] def sqlNormWords(textExpr: String): String =
    s"string_split(trim(regexp_replace(lower($textExpr), " +
      "'[^a-z0-9]+', ' ', 'g')), ' ')"

  /** Distinct word 8-grams per document on any (doc_id, text) frame —
    * the decontamination unit (shared by the query and the `corpus
    * -decontaminate` gate). Window partitions are one document's
    * tokens (bounded); grams hash-spread on their text. With
    * `normalize`, tokens come from [[normText]] instead of the raw
    * space split (real decontamination pipelines fold case and
    * punctuation before hashing — raw matching lets a format-drifted
    * eval answer slip the gate).
    *
    * CONTRACT: grams are deduped PER INPUT ROW, not globally — the
    * output is the distinct (doc_id, g) set only while `doc_id` is
    * unique per input row (true of every current caller). A new
    * caller feeding repeated doc_ids must either dedup upstream or
    * stay dedup-insensitive downstream (countDistinct-style
    * aggregation over g), or it will silently double-count grams. */
  private[graft] def wordGrams8(d: org.apache.spark.sql.DataFrame,
      normalize: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    // Codegen'd scalar grams (r15 optimization), NOT the
    // posexplode + 7×lead window + global .distinct() this replaces:
    // that form shuffled every corpus token into a per-doc sort just
    // to pair adjacent words, then shuffled every gram AGAIN to dedup
    // — two Exchanges where the plan needs zero. The scalar dedups
    // per document, which is the same (doc_id, g) set whenever doc_id
    // is unique per input row (every caller), and even under repeated
    // doc_ids every consumer is dedup-insensitive (bench sides apply
    // .distinct() on g; corpus sides aggregate countDistinct(g)).
    val src = if (normalize) normText(col("text")) else col("text")
    d.select(col("doc_id"),
      explode(graft.functions.Similarity.wordGramsDistinct(src, 8)).as("g"))
  }

  /** Broadcast regime bound for the decontamination gram join: an
    * eval SUITE's distinct 8-grams broadcast comfortably (HELM-scale
    * suites are thousands of docs → low millions of grams ≈ 10^2 MB),
    * but a user decontaminating against another CORPUS (10^7+ grams)
    * must shuffle-join on the gram text instead — a forced broadcast
    * there is a driver OOM, a silent skip is a correctness bug. */
  private[graft] val DECONTAM_BROADCAST_GRAMS = 2000000L

  /** (doc_id, n_shared_grams) for every corpus doc sharing ≥1 gram
    * with the benchmark set, regime chosen by a ONE-aggregate census
    * of the bench gram count: ≤ limit → broadcast hash join (map-side,
    * no corpus shuffle); above → plain equi-join on the gram text,
    * which shuffles BOTH sides hash-keyed on `g` — linear, skew-free
    * (grams are near-unique by construction), and the only shape that
    * survives a corpus-sized benchmark. Shared by the `decontaminate`
    * query (auto), `decontaminate_shuffle` (forced big regime), and
    * the `corpus -decontaminate` export gate.
    *
    * The census and the join both read `benchGrams`. A caller that
    * wants the gram set computed once passes it persisted and OWNS
    * that cache: it unpersists after the last action over the result
    * (earlier only buys a silent recompute), so no call leaves blocks
    * behind for the next equal plan to re-cache. */
  private[graft] def contaminationHits(
      corpusGrams: org.apache.spark.sql.DataFrame,
      benchGrams: org.apache.spark.sql.DataFrame,
      broadcastLimit: Long = DECONTAM_BROADCAST_GRAMS)
      : org.apache.spark.sql.DataFrame = {
    // limit <= 0 pins the shuffle regime outright — the census could
    // not change the decision, so don't pay a full bench-gram pass for
    // it
    val bench =
      if (broadcastLimit > 0L && benchGrams.count() <= broadcastLimit)
        broadcast(benchGrams)
      else benchGrams
    corpusGrams.join(bench, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"))
  }

  private def decontaminateQ(name: String, broadcastLimit: Long,
      normalize: Boolean = false) = Q(
    name,
    (s, dir) => {
      val grams = wordGrams8(
        spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"), col("text")), normalize)
      // the Q surface's caches are cleared by its caller (Bench and
      // Verify clear them per query); the forced shuffle regime runs no
      // census, so it reads the gram set once and needs none
      val bench =
        grams.where(col("doc_id") % 25 === 0).select(col("g")).distinct()
      contaminationHits(grams,
        if (broadcastLimit > 0L) bench.persist() else bench, broadcastLimit)
    },
    Some {
      val words = if (normalize) sqlNormWords("text")
                  else "string_split(text, ' ')"
      val grams =
        s"""SELECT doc_id, unnest(list_distinct(
              ${sqlWordGrams(words, 8)})) AS g
            FROM documents"""
      s"""
      WITH grams AS ($grams),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0)
      SELECT doc_id, COUNT(DISTINCT grams.g) AS n_shared_grams
      FROM grams JOIN bench ON grams.g = bench.g
      GROUP BY 1"""
    })

  val decontaminate = decontaminateQ("decontaminate",
    DECONTAM_BROADCAST_GRAMS)

  /** The BIG-benchmark regime of [[decontaminate]], forced (census
    * limit 0): the gram join shuffles both sides instead of
    * broadcasting — identical answer, the shape a 10M+-gram benchmark
    * corpus needs. Oracle is regime-independent. */
  val decontaminateShuffle = decontaminateQ("decontaminate_shuffle", 0L)

  /** [[decontaminate]] with NORMALIZED matching ([[normText]]): grams
    * built from lowercased, punctuation-folded tokens on BOTH sides,
    * the way production decontamination hashes text — an eval answer
    * that differs from its corpus leak only by casing or punctuation
    * is caught here and slips the raw gate (DecontaminateNormSpec
    * plants exactly that drift). Same census-picked regime. */
  val decontaminateNorm = decontaminateQ("decontaminate_norm",
    DECONTAM_BROADCAST_GRAMS, normalize = true)

  /** [[decontaminate]] invoked through the SQL table-function surface
    * (r15): `decontaminate_hits('corpus', 'bench')` in a FROM clause —
    * the census-picked gate reachable without Scala (GraftExtensions
    * in product sessions; registered imperatively here so the query is
    * green with and without extensions — the asof_join_sql pattern).
    * The bench view carries the RAW TEXT of every 25th document; its
    * grams are re-derived inside the TVF, which is the same gram set
    * the decontaminate query filters out of the corpus grams, so the
    * oracle is shared. */
  val decontamHitsSql = Q(
    "decontam_hits_sql",
    (s, dir) => {
      graft.plans.GraftExtensions.ensureTableFunctions(s)
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("text"))
      d.createOrReplaceTempView("graft_sql_decontam_corpus")
      d.where(col("doc_id") % 25 === 0).select(col("text"))
        .createOrReplaceTempView("graft_sql_decontam_bench")
      s.sql("""SELECT * FROM decontaminate_hits(
        'graft_sql_decontam_corpus', 'graft_sql_decontam_bench')""")
    },
    decontaminate.oracle)

  /** Token-budget stratified sampling: sample each language down to an
    * expected per-language token budget with deterministic
    * hash-Bernoulli selection — pass 1 aggregates per-language token
    * totals (5 groups), pass 2 broadcasts the keep-rate and keeps rows
    * where md5(doc_id)'s low bits fall under rate·2^20. No window, no
    * sort, no per-group state beyond one counter: the scalable
    * alternative to rank-and-cut sampling (which needs a per-language
    * total sort).
    */
  val sampleStratified = Q(
    "sample_stratified",
    (s, dir) => {
      val budget = 5000L
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TextAnalysis.tokenCount(col("text"))
            .as("n_tokens"))
      val totals = d.groupBy("lang")
        .agg(sum(col("n_tokens")).as("lang_tokens"))
        .select(col("lang"),
          least(lit(1.0), lit(budget.toDouble) / col("lang_tokens"))
            .as("rate"))
      val bucket = pmod(Queries.md5Long(col("doc_id").cast("string")),
        lit(1048576L))
      d.join(broadcast(totals), "lang")
        .where(bucket < floor(col("rate") * 1048576.0))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    },
    Some {
      val grams = Queries.sqlMd5Long("CAST(doc_id AS VARCHAR)")
      s"""
      WITH d AS (
        SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (
        SELECT lang,
          LEAST(1.0, 5000.0 / SUM(n_tokens)) AS rate
        FROM d GROUP BY 1)
      SELECT doc_id, d.lang, n_tokens
      FROM d JOIN r ON d.lang = r.lang
      WHERE ($grams % 1048576 + 1048576) % 1048576
              < FLOOR(rate * 1048576.0)"""
    })

  /** C4/RefinedWeb-style cross-document LINE-level exact dedup: chunk
    * each document into 10-word "lines", hash each line, and across the
    * whole corpus keep a repeated line only in its first-occurrence
    * document (min doc_id — C4 keeps one occurrence; the rest are
    * boilerplate). The synthetic corpus has no naturally repeated
    * 10-grams (vocab^10 dwarfs the corpus), so a boilerplate line is
    * PLANTED identically on both engines (docs with doc_id % 7 == 0 get
    * it prepended — the pii_scrub pattern), making the dedup provably
    * non-vacuous: every 7th doc shares its first line and only the
    * smallest doc_id keeps it.
    *
    * Shape: explode a 0..n_lines-1 sequence against the kept words
    * array, `slice` out each line (codegen — no interpreted HOF lambda
    * builds the line list), hash with the shared md5-60bit, then ONE
    * shuffle groups lines by hash for (keeper, distinct-doc count) and
    * one join + per-doc agg scores the documents. At 100 TB the
    * group-by key is the 60-bit hash, not the line text, so shuffle
    * width is constant per line; the words array is carried through the
    * explode only within a partition (never shuffled).
    */
  val lineDedup = Q(
    "line_dedup",
    (s, dir) => {
      val boiler =
        "cookie policy accepted please subscribe to our newsletter today now ok"
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit(boiler + " "), col("text")))
            .otherwise(col("text")).as("text"))
      // r16: line hashes from ONE scalar pass (ShingleOps.lineHashes,
      // pinned by SpanLineHashSpec) — the explode(sequence)+slice form
      // copied the token array into every exploded line row
      val lines = d
        .select(col("doc_id"),
          explode(graft.functions.Similarity.lineHashes(col("text"), 10))
            .as("lh"))
      val groups = lines.groupBy("lh")
        .agg(min(col("doc_id")).as("keeper"),
          countDistinct(col("doc_id")).as("nd"))
      lines.join(groups, "lh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("nd") === 1 || col("keeper") === col("doc_id"), 1L)
            .otherwise(0L)).as("n_kept"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          (col("n_lines") - col("n_kept")).as("n_dropped"))
    },
    Some {
      val lh = Queries.sqlMd5Long(
        "array_to_string(ws[line_no*10+1 : line_no*10+10], ' ')")
      s"""
      WITH p AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 0
            THEN 'cookie policy accepted please subscribe to our newsletter today now ok ' || text
            ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM p),
      l0 AS (
        SELECT doc_id, ws,
          unnest(range(0, CAST(CEIL(len(ws)/10.0) AS BIGINT))) AS line_no
        FROM w),
      l AS (SELECT doc_id, line_no, $lh AS lh FROM l0),
      g AS (
        SELECT lh, MIN(doc_id) AS keeper, COUNT(DISTINCT doc_id) AS nd
        FROM l GROUP BY 1)
      SELECT l.doc_id,
        COUNT(*) AS n_lines,
        CAST(SUM(CASE WHEN nd = 1 OR keeper = l.doc_id THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        COUNT(*) - CAST(SUM(CASE WHEN nd = 1 OR keeper = l.doc_id
          THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      FROM l JOIN g USING (lh)
      GROUP BY 1"""
    })

  /** SoftDeDup — REWEIGHT common documents instead of dropping them
    * (He et al., "SoftDedup: an Efficient Data Reweighting Method for
    * Speeding Up Language Model Pre-training", ACL 2024): hard dedup
    * throws away the marginal information in near-copies; soft dedup
    * keeps every doc but scales its sampling weight down by how
    * COMMON its content is across the corpus. Commonness here is the
    * mean cross-document frequency of the doc's 10-word lines (the
    * line_dedup chunk unit, planted boilerplate included so the
    * signal is non-vacuous): a fully-unique doc scores 10000 bp and
    * keeps weight 10000 bp; a doc whose every line appears in k docs
    * scores k*10000 and weighs 10000/k. Integer-exact end to end
    * (weight_bp = 10^8 div commonness_bp, FLOORED AT 1 bp — a doc
    * whose mean line document-frequency exceeds 10^4 would otherwise
    * floor to weight 0, an effective drop that contradicts the
    * reweights-never-drops contract), so both engines agree
    * bit-for-bit; every document scores (the trailing short chunk is
    * a line like any other), so soft dedup drops NOTHING — the point.
    *
    * Scale shape: the line explode is token-linear; line document-
    * frequency is ONE map-side-combinable count keyed on the 60-bit
    * line hash (constant shuffle width per line — the line_dedup
    * discipline); the join back is hash-keyed; the per-doc agg is
    * combinable. No window anywhere, nothing collected: two narrow
    * shuffles at any corpus size. */
  /** The soft-dedup weight assignment on any (doc_id, text) frame —
    * see [[softDedup]] for semantics (also the `corpus -softdedup`
    * column). Returns (doc_id, n_lines, commonness_bp, weight_bp). */
  private[graft] def softDedupWeights(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // r16: line hashes from one scalar pass (the lineDedup rewire)
    val lines = d
      .select(col("doc_id"),
        explode(graft.functions.Similarity.lineHashes(col("text"), 10))
          .as("lh"))
    val dfreq = lines.groupBy("lh")
      .agg(countDistinct(col("doc_id")).as("cnt"))
    lines.join(dfreq, "lh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"), sum(col("cnt")).as("tot"))
      .select(col("doc_id"), col("n_lines"),
        expr("(tot * 10000) DIV n_lines").as("commonness_bp"),
        greatest(lit(1L),
          expr("100000000 DIV ((tot * 10000) DIV n_lines)"))
          .as("weight_bp"))
  }

  val softDedup = Q(
    "soft_dedup",
    (s, dir) => {
      val boiler =
        "cookie policy accepted please subscribe to our newsletter today now ok"
      softDedupWeights(spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit(boiler + " "), col("text")))
            .otherwise(col("text")).as("text")))
    },
    Some {
      val lh = Queries.sqlMd5Long(
        "array_to_string(ws[line_no*10+1 : line_no*10+10], ' ')")
      s"""
      WITH p AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 0
            THEN 'cookie policy accepted please subscribe to our newsletter today now ok ' || text
            ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM p),
      l0 AS (
        SELECT doc_id, ws,
          unnest(range(0, CAST(CEIL(len(ws)/10.0) AS BIGINT))) AS line_no
        FROM w),
      l AS (SELECT doc_id, line_no, $lh AS lh FROM l0),
      g AS (SELECT lh, COUNT(DISTINCT doc_id) AS cnt FROM l GROUP BY 1)
      SELECT l.doc_id,
        COUNT(*) AS n_lines,
        (CAST(SUM(cnt) AS BIGINT) * 10000) // COUNT(*) AS commonness_bp,
        GREATEST(CAST(1 AS BIGINT),
          CAST(100000000 // ((CAST(SUM(cnt) AS BIGINT) * 10000) // COUNT(*))
            AS BIGINT)) AS weight_bp
      FROM l JOIN g USING (lh)
      GROUP BY 1"""
    })

  /** Per-document top-3 distinctive terms by an INTEGER-EXACT tf-idf
    * variant: score = (tf * n_docs * 10000) div df — linear inverse
    * document frequency instead of log(N/df), so the score is computed
    * in pure 64-bit integer arithmetic and is bit-identical across
    * engines (a log would differ in the last ulp between libm
    * implementations and flip a floor at the boundary). Rank ordering
    * equals log-idf ordering whenever tf is equal (both are monotone in
    * 1/df), which is what a keyword extractor actually consumes.
    *
    * Shape: one shuffle for per-(doc, term) counts, one for document
    * frequency, a broadcast single-row corpus count, then a window
    * partitioned by doc_id (bounded by the doc's distinct terms) for
    * the top-3 with a total (score desc, term) tiebreak.
    */
  val tfidfTopterms = Q(
    "tfidf_topterms",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      val tot = d.agg(countDistinct(col("doc_id")).as("n_docs"))
      val tf = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(df_, "term").crossJoin(broadcast(tot))
        .select(col("doc_id"), col("term"),
          expr("(tf * n_docs * 10000) DIV df").as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rk"))
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY 1, 2),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      sc AS (
        SELECT doc_id, tf.term AS term, (tf * n_docs * 10000) // df AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN tot)
      SELECT doc_id, term, score, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rk
        FROM sc)
      WHERE rk <= 3"""))

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): hash every 5-word shingle, slide a window of 4
    * consecutive shingle hashes, select each window's minimum — the
    * guarantee is that any shared run of 8 words produces at least one
    * shared selected hash. The fingerprint is the distinct selected
    * hashes per document; emitted as a count plus an order-independent
    * integer digest (sum of hash mod 1e9 over the DISTINCT set, so the
    * digest never depends on row order and stays far below 2^63).
    *
    * Shape: posexplode + lead() builds shingles (the quality_gopher
    * gram pattern — stays in codegen), the min-over-4 window and the
    * distinct both partition by doc_id only (state = one document).
    */
  val winnowFingerprint = Q(
    "winnow_fingerprint",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      // one scalar computes the whole selection (r15): gram hashes
      // (bit-identical md5Long), the min-over-4 slide, and the per-doc
      // dedup all happen row-locally — the old form shuffled every
      // token into a per-doc sort TWICE (gram window + selection
      // window) and then shuffled the survivors a third time for
      // .distinct(); doc_id is unique here, so per-doc dedup ≡ the
      // global distinct
      d.select(col("doc_id"),
          explode(graft.functions.Similarity.winnowMins(col("text"), 5, 4))
            .as("mh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"),
          sum(col("mh") % 1000000000L).as("fp_digest"))
    },
    Some {
      val h = Queries.sqlMd5Long(
        "array_to_string(ws[pos : pos+4], ' ')")
      s"""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      g AS (
        SELECT doc_id, pos, $h AS h
        FROM (SELECT doc_id, ws,
                unnest(range(1, len(ws) + 1)) AS pos
              FROM w)
        WHERE pos + 4 <= len(ws)),
      sel AS (
        SELECT DISTINCT doc_id, mh FROM (
          SELECT doc_id, pos,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
            LEAD(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS h3
          FROM g)
        WHERE h3 IS NOT NULL)
      SELECT doc_id, COUNT(*) AS n_fp,
        CAST(SUM(mh % 1000000000) AS BIGINT) AS fp_digest
      FROM sel GROUP BY 1"""
    })

  /** Frequency-based rarity scoring — the log-free integer-exact form
    * of the unigram-surprisal filter corpus pipelines use to flag
    * outlier documents (gibberish, wrong-language, boilerplate): each
    * token occurrence contributes `corpus_tokens DIV corpus_count(w)`
    * (the integer inverse relative frequency), so a doc full of rare
    * tokens scores high and a stopword-heavy doc low, with no libm in
    * the oracle path (a log-probability would differ in the last ulp
    * across engines). Emitted absolute and per-token (×10000, integer
    * divided — a floor-exact per-token average).
    *
    * Shape: one shuffle for corpus term counts, one broadcast single-row
    * total, one join + per-doc agg — no window, no vocabulary-wide sort
    * (a dense_rank formulation would need a global window over the
    * vocabulary; the DIV form avoids it). */
  val rarityScore = Q(
    "rarity_score",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val tf = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      val cnt = tf.groupBy("w").agg(count(lit(1)).as("cnt"))
      // r16: n_total = Σ cnt — fold the vocabulary counts instead of
      // re-exploding the corpus for a second full count pass; the
      // vocab-keyed Exchange is shared with the join side (ReusedExchange
      // in the plan), so the explode+partial-count executes once
      val tot = cnt.agg(sum(col("cnt")).as("n_total"))
      tf.join(cnt, "w").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(expr("n_total DIV cnt")).as("rarity"))
        .select(col("doc_id"), col("n_tokens"), col("rarity"),
          expr("(rarity * 10000) DIV n_tokens").as("rarity_per_token_bp"))
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      c AS (SELECT w, COUNT(*) AS cnt FROM tf GROUP BY 1),
      t AS (SELECT COUNT(*) AS n_total FROM tf)
      SELECT doc_id,
        COUNT(*) AS n_tokens,
        CAST(SUM(n_total // cnt) AS BIGINT) AS rarity,
        (CAST(SUM(n_total // cnt) AS BIGINT) * 10000) // COUNT(*)
          AS rarity_per_token_bp
      FROM tf JOIN c USING (w) CROSS JOIN t
      GROUP BY 1"""))

  /** Per-source distribution drift — the corpus-QA operator that flags
    * a source whose language no longer looks like the mix it feeds
    * (scraper broke, boilerplate flood, language shift): a
    * chi-square-style statistic over the corpus's top-50 vocabulary,
    * fully integer-exact. Per source and top word: observed share in
    * basis points (obs·10⁴ div n_src) vs the corpus-wide expected
    * share (gcnt·10⁴ div n_total); drift = Σ (obs_bp − exp_bp)² div
    * max(exp_bp, 1) — Pearson's X² shape on quantized rates, plus the
    * count of top words entirely ABSENT from the source (the bluntest
    * drift signal). The vocabulary is deterministic: top 50 by
    * (count desc, word asc).
    *
    * Scale shape: one corpus-wide token count (the tfidf shuffle,
    * map-side combinable), a 50-row broadcast vocabulary, and — the
    * part that matters — the per-source observation join is a
    * BROADCAST of that head vocabulary, so the Zipf-hot head words
    * (the top-50 ARE the hottest keys in the corpus) never become a
    * shuffle key; the (source × 50)-cell frame is tiny at any corpus
    * size. */
  val sourceDrift = Q(
    "source_drift",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val glob = tf.groupBy("w").agg(count(lit(1)).as("gcnt"))
      // r16: n_total = Σ gcnt — fold the already-aggregated vocabulary
      // instead of a second corpus explode+count pass (Exchange reused)
      val vocab = glob
        .crossJoin(broadcast(glob.agg(sum(col("gcnt")).as("n_total"))))
        .orderBy(desc("gcnt"), asc("w")).limit(50)
        .select(col("w"), expr("gcnt * 10000 div n_total").as("exp_bp"))
      val srcTot = tf.groupBy("source").agg(count(lit(1)).as("n_tokens"))
      val obs = tf.join(broadcast(vocab.select("w")), "w")
        .groupBy("source", "w").agg(count(lit(1)).as("obs"))
      srcTot.crossJoin(broadcast(vocab))
        .join(obs, Seq("source", "w"), "left")
        .select(col("source"), col("n_tokens"), col("exp_bp"),
          coalesce(col("obs"), lit(0L)).as("obs"),
          expr("coalesce(obs, 0) * 10000 div n_tokens").as("obs_bp"))
        .groupBy("source")
        .agg(max(col("n_tokens")).as("n_tokens"),
          sum(expr("(obs_bp - exp_bp) * (obs_bp - exp_bp)" +
            " div greatest(exp_bp, 1)")).as("drift_score"),
          sum(when(col("obs") === 0, 1L).otherwise(0L)).as("n_absent"))
    },
    Some("""
      WITH tf AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents),
      g AS (SELECT w, COUNT(*) AS gcnt FROM tf GROUP BY 1),
      v AS (SELECT w, CAST(gcnt AS BIGINT) * 10000
                // (SELECT COUNT(*) FROM tf) AS exp_bp
            FROM g ORDER BY gcnt DESC, w LIMIT 50),
      st AS (SELECT source, COUNT(*) AS n_tokens FROM tf GROUP BY 1),
      o AS (SELECT source, w, COUNT(*) AS obs
            FROM tf JOIN v USING (w) GROUP BY 1, 2),
      cells AS (
        SELECT st.source, st.n_tokens, v.exp_bp,
          CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs,
          CAST(COALESCE(o.obs, 0) AS BIGINT) * 10000
            // CAST(st.n_tokens AS BIGINT) AS obs_bp
        FROM st CROSS JOIN v
        LEFT JOIN o ON o.source = st.source AND o.w = v.w)
      SELECT source,
        CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
        CAST(SUM((obs_bp - exp_bp) * (obs_bp - exp_bp)
          // GREATEST(exp_bp, 1)) AS BIGINT) AS drift_score,
        CAST(SUM(CASE WHEN obs = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_absent
      FROM cells GROUP BY 1"""))

  /** Bigram-LM fluency scoring — the log-free integer-exact form of the
    * CCNet-style language-model quality filter (perplexity under a
    * corpus-trained n-gram LM flags gibberish, shuffled text, and
    * boilerplate): each bigram occurrence (w₁ w₂) contributes
    * `count(w₁ ·) DIV count(w₁ w₂)` — the integer inverse conditional
    * probability 1/P(w₂|w₁), the same monotone signal as bigram
    * log-perplexity without libm in the oracle path (the
    * [[rarityScore]] pattern, conditioned on the preceding token
    * instead of unigram-marginal). High per-bigram score = improbable
    * transitions; low = formulaic text. Docs with fewer than two
    * tokens have no bigrams and drop from the report (inner shape,
    * identical in the oracle).
    *
    * Scale shape: two hash-keyed count shuffles (head word, bigram)
    * with map-side partial aggregation, two joins back, one per-doc
    * agg. The head-word join key is Zipfian at real scale ("the" owns
    * percents of the mass) — that skew rides a hash/SMJ JOIN, which
    * AQE splits at runtime, never a window partition, which it
    * cannot. */
  val lmBigramScore = Q(
    "lm_bigram_score",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      // scalar bigrams (r15): same (doc_id, w, g) multiset as the
      // posexplode + lead-window form, without shuffling every token
      // into a per-doc sort first; w is g's head token (tokens carry
      // no spaces, so substring_index is exact)
      // (per-(doc, g) pre-aggregation tried and reverted — see the
      // ccnetBucketAssign comment)
      val bi = d
        .select(col("doc_id"),
          explode(graft.functions.Similarity.wordGramsAll(col("text"), 2))
            .as("g"))
        .select(col("doc_id"), substring_index(col("g"), " ", 1).as("w"),
          col("g"))
        // r16: the ccnetBucketAssign localCheckpoint pin was TRIED here
        // too (same three-consumer shape) and reverted on measurement:
        // wall 0.432 pinned vs 0.395 unpinned, CPU identical (0.241;
        // OPTIMIZATION_r16.md item 9) — recomputing the scalar explode
        // three times is cheaper than storing the occurrence rows (ccnet
        // wins because its frame carries lang and feeds the wider bucket
        // join).
      val c1 = bi.groupBy("w").agg(count(lit(1)).as("cw"))
      val c2 = bi.groupBy("g").agg(count(lit(1)).as("cg"))
      bi.join(c2, "g").join(c1, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("cw DIV cg")).as("lm_score"))
        .select(col("doc_id"), col("n_bigrams"), col("lm_score"),
          expr("(lm_score * 10000) DIV n_bigrams").as("lm_per_bigram_bp"))
    },
    Some {
      val words = "string_split(text, ' ')"
      s"""
      WITH bi AS (
        SELECT doc_id, g, split_part(g, ' ', 1) AS w
        FROM (SELECT doc_id, unnest(${sqlWordGrams(words, 2)}) AS g
              FROM documents)),
      c1 AS (SELECT w, COUNT(*) AS cw FROM bi GROUP BY 1),
      c2 AS (SELECT g, COUNT(*) AS cg FROM bi GROUP BY 1)
      SELECT doc_id, COUNT(*) AS n_bigrams,
        CAST(SUM(cw // cg) AS BIGINT) AS lm_score,
        (CAST(SUM(cw // cg) AS BIGINT) * 10000) // COUNT(*)
          AS lm_per_bigram_bp
      FROM bi JOIN c2 USING (g) JOIN c1 USING (w)
      GROUP BY 1"""
    })

  /** Interpolated Kneser-Ney bigram LM perplexity (Kneser & Ney,
    * ICASSP 1995; Chen & Goodman 1998 eq. 4.26) — the REAL form of the
    * CCNet language-model quality gate ([[lmBigramScore]] is the
    * unsmoothed MLE signal; this is the smoothed model a production
    * KenLM-style filter actually uses, at order 2). With absolute
    * discount D = 3/4 multiplied through to integers:
    *
    *   P(w2|w1) = [ max(4*c(w1,w2) - 3, 0) * T  +  3 * R(w1) * L(w2) ]
    *              / [ 4 * c(w1*) * T ]
    *
    * where c(w1*) = bigram tokens headed by w1, R(w1) = distinct
    * continuations of w1 (the discount mass donor), L(w2) = distinct
    * left contexts of w2 (the KN continuation count — how PROMISCUOUS
    * a word is, not how frequent), T = distinct bigram types. Numerator
    * and denominator are exact integers, so per-document cross-entropy
    * is the half-bit log difference [[graft.functions.IntLog]] makes
    * bit-exact cross-engine: hb = sum over bigrams of L2(den)-L2(num),
    * bits_bp = hb * 5000 div n (basis-point bits/bigram).
    *
    * Every document is scored on its FORWARD sequence and its REVERSED
    * sequence (the reversed bigrams are the swapped pairs - most are
    * unseen in training, so the reversed score runs through the
    * continuation backoff the smoothing exists for; an unsmoothed LM
    * would be undefined there). Forward < reversed on average is the
    * learnability proof the spec asserts. `greatest(R*L, 1)` floors the
    * one degenerate case (a w2 never seen as a continuation) one
    * half-bit above zero probability, identically in both engines.
    *
    * Scale shape: one corpus explode; the per-doc bigram window is
    * doc-bounded (the [[lmBigramScore]] precedent); model counts are
    * three hash-keyed combinable aggregates off ONE shared bigram-type
    * frame; T rides as a 1-row broadcast; scoring is two broadcast-or-
    * hash joins on Zipf keys AQE can split. Integer bound: num <
    * 4*c12*T + 3*R*L needs c12*T < 2^60 - at corpus scales beyond
    * that, downscale all counts by a common power of two first (the
    * log difference shifts by a constant that cancels in ranking). */
  /** [[knBigramPpl]]'s algebra over any (doc_id, text) frame — split
    * out so the spec can plant a strongly-ordered corpus. */
  private[graft] def knScore(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      // scalar bigrams (r15): the lead-window twin without the
      // per-token Exchange+Sort (see lmBigramScore); tokens carry no
      // spaces, so head/tail of g recover w1/w2 exactly
      val bi = d
        .select(col("doc_id"),
          explode(graft.functions.Similarity.wordGramsAll(col("text"), 2))
            .as("g"))
        .select(col("doc_id"),
          substring_index(col("g"), " ", 1).as("w1"),
          substring_index(col("g"), " ", -1).as("w2"))
        .localCheckpoint()
      val types = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint()
      val heads = types.groupBy("w1")
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("r"))
      val lefts = types.groupBy("w2").agg(count(lit(1)).as("l"))
      val tTot = types.groupBy().agg(count(lit(1)).as("t"))
      val ev = bi.select(col("doc_id"), col("w1"), col("w2"),
          lit(0L).as("rev"))
        .unionByName(bi.select(col("doc_id"), col("w2").as("w1"),
          col("w1").as("w2"), lit(1L).as("rev")))
      val hb = ev
        .join(types, Seq("w1", "w2"), "left")
        .join(heads, "w1")
        .join(lefts, "w2")
        .crossJoin(broadcast(tTot))
        .select(col("doc_id"), col("rev"),
          (graft.functions.IntLog.l2(lit(4L) * col("c1") * col("t")) -
            graft.functions.IntLog.l2(
              greatest(lit(4L) * coalesce(col("c12"), lit(0L)) - 3L,
                lit(0L)) * col("t") +
              lit(3L) * greatest(col("r") * col("l"), lit(1L))))
            .as("hb"))
      hb.groupBy("doc_id")
        .agg(sum(when(col("rev") === 0L, lit(1L)).otherwise(0L))
            .as("n_bigrams"),
          sum(when(col("rev") === 0L, col("hb")).otherwise(0L))
            .as("fwd_hb"),
          sum(when(col("rev") === 1L, col("hb")).otherwise(0L))
            .as("rev_hb"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("fwd_hb * 5000 div n_bigrams").as("fwd_bits_bp"),
          expr("rev_hb * 5000 div n_bigrams").as("rev_bits_bp"))
  }

  val knBigramPpl = Q(
    "kn_bigram_ppl",
    (s, dir) => knScore(spread(t(s, dir, "documents"), col("doc_id"))),
    Some {
      val l2den = graft.functions.IntLog.sqlL2("4 * c1 * t")
      val l2num = graft.functions.IntLog.sqlL2(
        "GREATEST(4 * COALESCE(c12, 0) - 3, 0) * t + " +
          "3 * GREATEST(r * l, 1)")
      s"""
      WITH toks AS (
        SELECT doc_id,
          unnest(string_split(text, ' ')) AS w,
          unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents),
      bi AS (
        SELECT doc_id, w AS w1,
          LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks QUALIFY w2 IS NOT NULL),
      types AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
      heads AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS r
                FROM types GROUP BY 1),
      lefts AS (SELECT w2, COUNT(*) AS l FROM types GROUP BY 1),
      ttot AS (SELECT COUNT(*) AS t FROM types),
      ev AS (
        SELECT doc_id, w1, w2, 0 AS rev FROM bi
        UNION ALL
        SELECT doc_id, w2 AS w1, w1 AS w2, 1 AS rev FROM bi),
      hb AS (
        SELECT doc_id, rev, $l2den - $l2num AS hb
        FROM ev
        LEFT JOIN types USING (w1, w2)
        JOIN heads USING (w1)
        JOIN lefts USING (w2)
        CROSS JOIN ttot)
      SELECT doc_id,
        CAST(SUM(CASE WHEN rev = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_bigrams,
        CAST(SUM(CASE WHEN rev = 0 THEN hb ELSE 0 END) * 5000
          // SUM(CASE WHEN rev = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS fwd_bits_bp,
        CAST(SUM(CASE WHEN rev = 1 THEN hb ELSE 0 END) * 5000
          // SUM(CASE WHEN rev = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS rev_bits_bp
      FROM hb GROUP BY 1"""
    })

  /** Cross-document repeated-SPAN detection — the exact-substring dedup
    * family (dedup at ≥W-token-run granularity rather than line or
    * whole-doc): every OVERLAPPING 15-word window is hashed, a window
    * hash seen in more than one document marks that position
    * duplicated, and each doc reports its window count, duplicated
    * count, and duplicated fraction (basis points, integer-exact) — the
    * number a span-removal or doc-drop threshold consumes. Planted
    * signal: docs with doc_id % 11 == 3 share a prepended 30-word
    * paragraph, so its 16 interior windows are cross-doc duplicates by
    * construction (the corpus also has natural ones).
    *
    * Scale shape: one shuffle on the 8-byte window hash with map-side
    * partial aggregation, then a hash join back and a per-doc agg —
    * work linear in corpus tokens, state bounded per hash group. The
    * suffix-array formulation of this operator is sequential; the
    * hashed-window join is the distributable equivalent at fixed W.
    * Overlap means 15× the hash rows of line_dedup — the payload is
    * only (hash, doc_id), and the count-distinct partial-aggregates
    * before the shuffle. */
  val spanDedup = Q(
    "span_dedup",
    (s, dir) => {
      val W = 15
      val para = SharedPara
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 3, concat(lit(para + " "), col("text")))
            .otherwise(col("text")).as("text"))
      // r16: the window hashes come from ONE scalar pass over the text
      // (ShingleOps.spanHashes — same (doc_id, h) multiset, pinned by
      // SpanLineHashSpec): the explode(sequence)+slice form it
      // replaces retained the token ARRAY through the generator, so
      // every one of the O(tokens) exploded rows materialized an
      // O(tokens) array copy — quadratic bytes per document
      val wins = d
        .select(col("doc_id"),
          explode(graft.functions.Similarity.spanHashes(col("text"), W))
            .as("h"))
      val g = wins.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
      // inner-join shape on purpose: docs shorter than W words have no
      // windows and drop from the report (identically in the oracle)
      wins.join(g, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          expr("n_dup_windows * 10000 div n_windows").as("dup_bp"))
    },
    Some {
      val para = SharedPara
      val h = Queries.sqlMd5Long("array_to_string(ws[p+1 : p+15], ' ')")
      s"""
      WITH p0 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 11 = 3 THEN '$para ' || text
            ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM p0),
      wins0 AS (
        SELECT doc_id, ws, unnest(range(0, len(ws) - 14)) AS p
        FROM w WHERE len(ws) >= 15),
      wins AS (SELECT doc_id, $h AS h FROM wins0),
      g AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
      SELECT doc_id, COUNT(*) AS n_windows,
        CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_windows,
        CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000
          // COUNT(*) AS dup_bp
      FROM wins JOIN g USING (h) GROUP BY 1"""
    })

  /** The composed training-data gate — three independent filters
    * chained the way a production corpus build runs them, reusing the
    * EXACT query builders (and, on the oracle side, their SQL bodies as
    * CTEs) so the composition can never drift from the pieces:
    * keep a document iff it loses no line to cross-document boilerplate
    * dedup (line_dedup n_dropped = 0), passes the Gopher repetition
    * rules, sits below the rarity-outlier threshold (400000 bp —
    * the corpus mass sits near 295k and the gibberish tail above 1M),
    * and has under 20% of its 15-word spans duplicated across documents
    * (span_dedup dup_bp < 2000 — drops the syndicated/near-copy tail
    * the line gate is too coarse to see). Output: per-language survivor
    * counts + token sums — the numbers a mixing step consumes next.
    * Four joins on doc_id, each side already aggregated to one row per
    * doc; no new shuffle shape. */
  val pipelineCompose = Q(
    "pipeline_compose",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("nt"))
      val gopher = qualityGopher.build(s, dir)
        .select(col("doc_id"), col("gopher_verdict"))
      val lines = lineDedup.build(s, dir)
        .select(col("doc_id"), col("n_dropped"))
      val rare = rarityScore.build(s, dir)
        .select(col("doc_id"), col("rarity_per_token_bp"))
      val spans = spanDedup.build(s, dir)
        .select(col("doc_id"), col("dup_bp"))
      d.join(gopher, "doc_id").join(lines, "doc_id").join(rare, "doc_id")
        .join(spans, "doc_id")
        .where(col("gopher_verdict") === "keep" &&
          col("n_dropped") === 0 &&
          col("rarity_per_token_bp") < 400000L &&
          col("dup_bp") < 2000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    },
    Some {
      val g = qualityGopher.oracle.get
      val l = lineDedup.oracle.get
      val r = rarityScore.oracle.get
      val sp = spanDedup.oracle.get
      s"""
      WITH g AS ($g), l AS ($l), r AS ($r), sp AS ($sp),
      d AS (SELECT doc_id, lang,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
            FROM documents)
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
      FROM d JOIN g USING (doc_id) JOIN l USING (doc_id)
        JOIN r USING (doc_id) JOIN sp USING (doc_id)
      WHERE g.gopher_verdict = 'keep' AND l.n_dropped = 0
        AND r.rarity_per_token_bp < 400000 AND sp.dup_bp < 2000
      GROUP BY 1"""
    })

  /** Deterministic training-shard assignment + per-shard manifest: docs
    * route to `md5(doc_id) mod 16` shards (content-independent, so a
    * re-run or a late-arriving column never reshuffles the assignment),
    * and each shard reports its doc count, token sum, and doc_id bounds
    * — what a dataloader manifest records per shard file. One hash
    * group-by; at 100 TB the same query with shards ≈ files is the
    * write-side planning pass before a partitioned export. */
  val shardAssign = Q(
    "shard_assign",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .withColumn("shard",
          Queries.md5Long(col("doc_id").cast("string")) % 16)
      d.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    },
    Some {
      val h = Queries.sqlMd5Long("CAST(doc_id AS VARCHAR)")
      s"""
      SELECT $h % 16 AS shard,
        COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM documents GROUP BY 1"""
    })

  /** Context-window packing estimate at C = 2048: per doc,
    * ceil(tokens/C) sequences and the padding those sequences waste
    * under one-doc-per-sequence-run packing; aggregated per language
    * with the waste fraction in basis points (all 64-bit integer
    * arithmetic). The number a data-mixing plan consumes to decide
    * whether concat-and-chunk or best-fit packing is worth it. Pure
    * map + one agg. */
  val packEstimate = Q(
    "pack_estimate",
    (s, dir) => {
      val C = 2048L
      t(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .select(col("lang"), col("nt"),
          expr(s"(nt + ${C - 1}) div $C").as("nseq"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("nseq")).as("n_seqs"),
          (sum(col("nseq")) * C - sum(col("nt"))).as("waste_tokens"))
        .withColumn("waste_bp",
          expr(s"waste_tokens * 10000 div (n_seqs * $C)"))
    },
    Some {
      """
      WITH d AS (
        SELECT lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
          (CAST(len(string_split(text, ' ')) AS BIGINT) + 2047) // 2048
            AS nseq
        FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS n_tokens,
        CAST(SUM(nseq) AS BIGINT) AS n_seqs,
        CAST(SUM(nseq) * 2048 - SUM(nt) AS BIGINT) AS waste_tokens,
        CAST((SUM(nseq) * 2048 - SUM(nt)) * 10000
          // (SUM(nseq) * 2048) AS BIGINT) AS waste_bp
      FROM d GROUP BY 1"""
    })

  /** Corpus mixture report — the data-card numbers per source: doc and
    * token counts, language diversity, and the dominant language's
    * share in basis points (integer-exact). Two cheap aggregations:
    * (source, lang) partials roll up to per-source rows, so the only
    * shuffle key is the group key — no window, no per-group sort. */
  val corpusMixture = Q(
    "corpus_mixture",
    (s, dir) => {
      val byLang = t(s, dir, "documents")
        .select(col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("nd"), sum(col("nt")).as("tok"))
      byLang.groupBy("source")
        .agg(sum(col("nd")).as("n_docs"),
          sum(col("tok")).as("n_tokens"),
          count(lit(1)).as("n_langs"),
          max(col("nd")).as("top_lang_docs"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"),
          expr("top_lang_docs * 10000 div n_docs").as("top_lang_share_bp"))
    },
    Some("""
      WITH bl AS (
        SELECT source, lang, COUNT(*) AS nd,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
        FROM documents GROUP BY 1, 2)
      SELECT source,
        CAST(SUM(nd) AS BIGINT) AS n_docs,
        CAST(SUM(tok) AS BIGINT) AS n_tokens,
        COUNT(*) AS n_langs,
        CAST(MAX(nd) AS BIGINT) * 10000 // CAST(SUM(nd) AS BIGINT)
          AS top_lang_share_bp
      FROM bl GROUP BY 1"""))

  /** Deterministic per-source downsampling cap — the data-mixing
    * operator that stops over-represented sources from dominating a
    * training mix: each source keeps at most TARGET docs, selected by
    * md5 coin-flip at rate_bp = min(10000, TARGET·10000 div c_s) basis
    * points, so selection is content-keyed (stable across runs and
    * partitionings, the embed_neardup determinism discipline) and
    * integer-exact. Reported per source: population, the computed rate,
    * kept count — the numbers a mixture rebalance consumes.
    *
    * Shape: one count aggregation, a broadcast join of the tiny
    * per-source rate table back onto the scan, one filtered count —
    * no window, no sort; map-side combine does the heavy lifting at
    * 100 TB. */
  val sampleCap = Q(
    "sample_cap",
    (s, dir) => {
      val target = 400L
      val d = t(s, dir, "documents")
      val rates = d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("rate_bp",
          least(lit(10000L), expr(s"$target * 10000 div n_docs")))
      d.select(col("doc_id"), col("source"),
          (Queries.md5Long(col("doc_id").cast("string")) % 10000L)
            .as("coin"))
        .join(broadcast(rates), "source")
        .groupBy("source")
        .agg(max(col("n_docs")).as("n_docs"),
          max(col("rate_bp")).as("rate_bp"),
          sum(when(col("coin") < col("rate_bp"), 1L).otherwise(0L))
            .as("n_kept"))
    },
    Some {
      val coin = Queries.sqlMd5Long("CAST(doc_id AS VARCHAR)")
      s"""
      WITH r AS (
        SELECT source, COUNT(*) AS n_docs,
          LEAST(10000, 400 * 10000 // COUNT(*)) AS rate_bp
        FROM documents GROUP BY 1)
      SELECT source,
        CAST(MAX(n_docs) AS BIGINT) AS n_docs,
        CAST(MAX(rate_bp) AS BIGINT) AS rate_bp,
        CAST(SUM(CASE WHEN $coin % 10000 < rate_bp THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept
      FROM documents JOIN r USING (source)
      GROUP BY 1"""
    })

  /** Temperature-scaled language sampling rates — the multilingual
    * mixture-rebalancing operator (Conneau & Lample, NeurIPS 2019 §3.1;
    * XLM-R trains on p_i ∝ n_i^α with α < 1 so low-resource languages
    * sample above their natural share). α = 1/2 here, the one
    * temperature with an INTEGER-EXACT cross-engine form: the weight is
    * isqrt(n_tokens) = FLOOR(SQRT(n)) — IEEE-754 sqrt is correctly
    * rounded and n < 2^53 casts to double exactly, so Spark and DuckDB
    * compute the identical long. Per language: token census, the
    * temperature weight, its sampling rate in basis points, the
    * natural (proportional) rate, and the boost factor a low-resource
    * language gains — exactly the table a training-mix config consumes.
    *
    * Shape: one group-by over the scan (map-side combinable), a
    * broadcast of the one-row totals, pure column arithmetic — no
    * window, no second scan; lang cardinality is tiny at any corpus
    * size, so this is free at 100 TB. */
  val mixtureTemperature = Q(
    "mixture_temperature",
    (s, dir) => {
      val byLang = t(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .withColumn("weight", floor(sqrt(col("n_tokens"))).cast("long"))
      val tot = byLang.agg(sum(col("n_tokens")).as("tt"),
        sum(col("weight")).as("tw"))
      byLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("weight"),
          expr("weight * 10000 div tw").as("rate_bp"),
          expr("n_tokens * 10000 div tt").as("natural_bp"))
        .withColumn("boost_bp",
          expr("rate_bp * 10000 div nullif(natural_bp, 0)"))
    },
    Some("""
      WITH bl AS (
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      w AS (
        SELECT lang, n_docs, n_tokens,
          CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS weight FROM bl),
      tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
          CAST(SUM(weight) AS BIGINT) AS tw FROM w)
      SELECT lang, n_docs, n_tokens, weight,
        weight * 10000 // tw AS rate_bp,
        n_tokens * 10000 // tt AS natural_bp,
        (weight * 10000 // tw) * 10000
          // nullif(n_tokens * 10000 // tt, 0) AS boost_bp
      FROM w, tot"""))

  /** Concat-and-chunk packing manifest at C = 2048 — the OTHER packing
    * strategy pack_estimate prices: per language, documents concatenate
    * in doc_id order and split into fixed C-token chunks. Per doc: its
    * starting chunk, whether it straddles a chunk boundary, and per
    * language the total chunk count plus straddler count — what a
    * packing job needs to materialize sequence shards and what a
    * data-mixing plan reads to weigh boundary-truncation damage
    * against pack_estimate's padding waste.
    *
    * Shape: a per-language running token sum through the TWO-PHASE
    * distributed prefix scan (ops/PrefixSum — range-partition within
    * (lang, doc_id), partition-local scans, broadcast subtotal
    * offsets) and one aggregation. A lang-partitioned window would put
    * the dominant language's ENTIRE corpus in one task (AQE cannot
    * split a window partition); the scan's parallelism is the
    * partition count instead — bit-identical cum values, so the
    * full-window oracle below still pins every row. Integer-exact
    * throughout. */
  val packChunks = Q(
    "pack_chunks",
    (s, dir) => {
      val C = 2048L
      val d0 = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt"))
      val d = graft.ops.PrefixSum
        .groupedRunningSum(d0, col("lang"), col("doc_id"), col("nt"), "cum")
        .withColumn("start_chunk", expr(s"(cum - nt) div $C"))
        .withColumn("end_chunk", expr(s"(cum - 1) div $C"))
      d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          max(expr(s"(cum + ${C - 1}) div $C")).as("n_chunks"),
          sum(when(col("end_chunk") > col("start_chunk"), 1L)
            .otherwise(0L)).as("n_straddlers"))
    },
    Some("""
      WITH d AS (
        SELECT lang, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        FROM documents),
      c AS (
        SELECT lang, doc_id, nt,
          SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
        FROM d)
      SELECT lang,
        COUNT(*) AS n_docs,
        CAST(MAX((cum + 2047) // 2048) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN (cum - 1) // 2048 > (cum - nt) // 2048
          THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
      FROM c GROUP BY 1"""))

  /** ExactSubstr-style duplicate-span REMOVAL (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): where
    * span_dedup only REPORTS cross-document duplicated 15-word runs, this
    * operator performs the removal — every token position covered by a
    * window whose hash appears in more than one document is cut, and the
    * cleaned text (the surviving tokens in order) is emitted as an md5 so
    * the oracle pins the exact reconstruction. Removal applies to ALL
    * occurrences (the released exact-substr tool's behavior — both copies
    * of a duplicated span are cut; the paper notes train-set duplication
    * is harmful wherever it appears), which keeps the operator a pure
    * join+window with no cross-document keeper election. Planted signal:
    * the span_dedup paragraph (docs with doc_id % 11 == 3) guarantees a
    * 30-token removal in every planted doc.
    *
    * Scale shape: window hashes shuffle once on the 8-byte hash with
    * map-side partial aggregation (same as span_dedup); duplicated starts
    * join back hash-keyed; coverage is a per-document ROWS window over
    * dense token positions (state = W-1 rows); the cleaned-text rebuild
    * is a per-document sorted collect whose size is one document — the
    * same per-doc bound every tokenizing query here carries. Everything
    * is linear in corpus tokens.
    */
  // ExactSubstr builders live in graft.ops.ExactSubstr (cycle-free for
  // operator entry points like DedupStore); the queries below are their
  // oracle-checked faces.

  val exactSubstrDedup = Q(
    "exact_substr_dedup",
    (s, dir) => {
      val para = SharedPara
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 3, concat(lit(para + " "), col("text")))
            .otherwise(col("text")).as("text"))
      graft.ops.ExactSubstr.clean(d)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          expr("(n_tokens - n_removed) * 10000 div n_tokens").as("kept_bp"),
          md5(col("clean_text")).as("clean_md5"))
    },
    Some {
      val para = SharedPara
      val h = Queries.sqlMd5Long("array_to_string(ws[pos+1 : pos+15], ' ')")
      s"""
      WITH p0 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 11 = 3 THEN '$para ' || text
            ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM p0),
      toks AS (
        SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM w),
      wins0 AS (
        SELECT doc_id, ws, unnest(range(0, len(ws) - 14)) AS pos
        FROM w WHERE len(ws) >= 15),
      wins AS (SELECT doc_id, pos, $h AS h FROM wins0),
      duph AS (
        SELECT h FROM (
          SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
        WHERE nd > 1),
      starts AS (SELECT doc_id, pos, 1 AS ds FROM wins JOIN duph USING (h)),
      cov AS (
        SELECT t.doc_id, t.pos, t.ws[t.pos + 1] AS w,
          COALESCE(MAX(s.ds) OVER (PARTITION BY t.doc_id ORDER BY t.pos
            ROWS BETWEEN 14 PRECEDING AND CURRENT ROW), 0) AS c
        FROM toks t LEFT JOIN starts s
          ON t.doc_id = s.doc_id AND t.pos = s.pos)
      SELECT doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(c) AS BIGINT) AS n_removed,
        (COUNT(*) - CAST(SUM(c) AS BIGINT)) * 10000 // COUNT(*) AS kept_bp,
        md5(COALESCE(string_agg(CASE WHEN c = 0 THEN w END, ' '
          ORDER BY pos), '')) AS clean_md5
      FROM cov GROUP BY 1"""
    })

  /** Incremental ExactSubstr — span removal of a crawl INCREMENT
    * against the FROZEN corpus store (the production shape for a
    * growing 100 TB corpus, the incremental_dedup pattern at span
    * granularity): a window of the increment is duplicated when its
    * hash exists in the store (the store keeps its copy — frozen text
    * is never rewritten; first occurrence wins) OR occurs in more than
    * one increment document (both copies cut, the batch semantics).
    * Here the store is derived in-plan (prior = even doc_ids; in
    * production it's [[graft.ops.DedupStore]]'s bucketed `spans`
    * table, which the increment probes join-local); the increment is
    * the odd doc_ids. Planted signal: the span_dedup paragraph
    * (doc_id % 11 == 3) has carriers of BOTH parities, so odd
    * carriers hit stored windows by construction.
    *
    * Scale shape: per-increment cost is linear in the increment — one
    * window-hash join against the store's hash set, one
    * increment-internal count, the per-doc coverage window; the store
    * is never re-fingerprinted. */
  val incrementalSubstr = Q(
    "incremental_substr",
    (s, dir) => {
      val W = 15
      val para = SharedPara
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 3, concat(lit(para + " "), col("text")))
            .otherwise(col("text")).as("text"))
      val store = d.filter(col("doc_id") % 2 === 0)
      val inc = d.filter(col("doc_id") % 2 === 1)
      val storeH = graft.ops.ExactSubstr.windows(store, W)
        .select("h").distinct()
      val incDup = graft.ops.ExactSubstr.windows(inc, W).groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1).select("h")
      val dupH = storeH.union(incDup).distinct()
      graft.ops.ExactSubstr.cleanAgainst(inc, dupH, W)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          expr("(n_tokens - n_removed) * 10000 div n_tokens").as("kept_bp"),
          md5(col("clean_text")).as("clean_md5"))
    },
    Some {
      val para = SharedPara
      val h = Queries.sqlMd5Long("array_to_string(ws[pos+1 : pos+15], ' ')")
      s"""
      WITH p0 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 11 = 3 THEN '$para ' || text
            ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM p0),
      winsall0 AS (
        SELECT doc_id, ws, unnest(range(0, len(ws) - 14)) AS pos
        FROM w WHERE len(ws) >= 15),
      winsall AS (SELECT doc_id, pos, $h AS h FROM winsall0),
      storeh AS (
        SELECT DISTINCT h FROM winsall WHERE doc_id % 2 = 0),
      incdup AS (
        SELECT h FROM (
          SELECT h, COUNT(DISTINCT doc_id) AS nd FROM winsall
          WHERE doc_id % 2 = 1 GROUP BY 1) WHERE nd > 1),
      duph AS (SELECT h FROM storeh UNION SELECT h FROM incdup),
      toks AS (
        SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM w
        WHERE doc_id % 2 = 1),
      starts AS (
        SELECT wa.doc_id, wa.pos, 1 AS ds
        FROM winsall wa JOIN duph USING (h) WHERE wa.doc_id % 2 = 1),
      cov AS (
        SELECT t.doc_id, t.pos, t.ws[t.pos + 1] AS w,
          COALESCE(MAX(s.ds) OVER (PARTITION BY t.doc_id ORDER BY t.pos
            ROWS BETWEEN 14 PRECEDING AND CURRENT ROW), 0) AS c
        FROM toks t LEFT JOIN starts s
          ON t.doc_id = s.doc_id AND t.pos = s.pos)
      SELECT doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(c) AS BIGINT) AS n_removed,
        (COUNT(*) - CAST(SUM(c) AS BIGINT)) * 10000 // COUNT(*) AS kept_bp,
        md5(COALESCE(string_agg(CASE WHEN c = 0 THEN w END, ' '
          ORDER BY pos), '')) AS clean_md5
      FROM cov GROUP BY 1"""
    })

  /** The remaining Gopher repetition signals (Rae et al. 2021, Table A1),
    * completing quality_gopher's pair with the WITHIN-document,
    * character-weighted family every modern corpus pipeline runs:
    * duplicate-line fraction (line = the corpus's 10-word chunk, as in
    * line_dedup), duplicate-line CHARACTER fraction, top-4-gram character
    * fraction, and duplicated-5-gram character fraction — each in
    * integer basis points, plus the keep/reject verdict at the published
    * thresholds (dup lines ≤ 30%, dup line chars ≤ 20%, top-4-gram chars
    * ≤ 16%, dup-5-gram chars ≤ 15%). Character accounting is defined
    * exactly: a line's chars are its space-joined text; n-gram char MASS
    * counts every occurrence of a gram (c × len), and the gram fractions
    * are mass-over-total-gram-mass — top-4-gram = max(c × len) / Σ c ×
    * len, dup-5-gram = Σ_{c>1} c × len / Σ c × len. Overlapping
    * occurrences are deliberately NOT collapsed (the paper's wording is
    * ambiguous; a collapsed-coverage form divided by document chars can
    * exceed 1 on overlap-heavy repeats, so the mass form — bounded ≤ 1
    * by construction and monotone in repetitiousness — is the honest
    * integer-exact reading). Line denominators are Σ line chars, floored
    * at 1 so an empty doc scores 0, not ÷0. Planted signal: docs with
    * doc_id % 13 == 5 get the same 10-word line prepended TWICE, so
    * chunks 0 and 1 are within-doc duplicates by construction.
    *
    * Scale shape: three per-(doc, gram-hash) partial-aggregated
    * group-bys and one per-doc rollup each — no window at all (grams
    * come from the posexplode+lead pattern, whose window is per-doc
    * bounded like every tokenizer here); all arithmetic 64-bit integer.
    */
  val repetitionStats = Q(
    "repetition_stats",
    (s, dir) => {
      val line10 = "breaking update follows below after these required " +
        "legal notices conclude"
      require(line10.split(" ").length == 10)
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 5,
            concat(lit(line10 + " " + line10 + " "), col("text")))
            .otherwise(col("text")).as("text"))
      val lines = d
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0),
            (ceil(size(col("ws")) / 10.0) - 1).cast("int"))).as("line_no"))
        .select(col("doc_id"),
          concat_ws(" ",
            slice(col("ws"), col("line_no") * 10 + 1, lit(10))).as("lt"))
        .select(col("doc_id"), Queries.md5Long(col("lt")).as("lh"),
          length(col("lt")).cast("long").as("llen"))
        .groupBy("doc_id", "lh")
        .agg(count(lit(1)).as("c"), max(col("llen")).as("llen"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_lines"),
          sum(col("c") - 1).as("dup_lines"),
          greatest(sum(col("c") * col("llen")), lit(1L)).as("line_chars"),
          sum((col("c") - 1) * col("llen")).as("dup_line_chars"))
      // scalar grams (r15): wordGramsAll's empty-below-n semantics IS
      // the old `lead(w, n-1) IS NOT NULL` filter — same gram multiset,
      // no per-token Exchange+Sort+Window per order
      def grams(n: Int) =
        d.select(col("doc_id"),
            explode(graft.functions.Similarity.wordGramsAll(col("text"), n))
              .as("g"))
          .select(col("doc_id"), Queries.md5Long(col("g")).as("gh"),
            length(col("g")).cast("long").as("glen"))
          .groupBy("doc_id", "gh")
          .agg(count(lit(1)).as("c"), max(col("glen")).as("glen"))
      val top4 = grams(4).groupBy("doc_id")
        .agg(max(col("c") * col("glen")).as("top4_chars"),
          sum(col("c") * col("glen")).as("tot4_chars"))
      val dup5 = grams(5).groupBy("doc_id")
        .agg(sum(when(col("c") > 1, col("c") * col("glen"))
          .otherwise(0L)).as("dup5_chars"),
          sum(col("c") * col("glen")).as("tot5_chars"))
      val j = lines
        .join(top4, Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("dup_lines * 10000 div n_lines").as("dup_line_bp"),
          expr("dup_line_chars * 10000 div line_chars")
            .as("dup_line_char_bp"),
          expr("coalesce(top4_chars * 10000 div tot4_chars, 0L)")
            .as("top4_char_bp"),
          expr("coalesce(dup5_chars * 10000 div tot5_chars, 0L)")
            .as("dup5_char_bp"))
      j.select(col("doc_id"), col("dup_line_bp"), col("dup_line_char_bp"),
        col("top4_char_bp"), col("dup5_char_bp"),
        when(col("dup_line_bp") <= 3000 && col("dup_line_char_bp") <= 2000 &&
          col("top4_char_bp") <= 1600 && col("dup5_char_bp") <= 1500,
          lit("keep")).otherwise(lit("reject")).as("rep_verdict"))
    },
    Some {
      val line10 = "breaking update follows below after these required " +
        "legal notices conclude"
      val words = "string_split(text, ' ')"
      s"""
      WITH p0 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 13 = 5
            THEN '$line10 $line10 ' || text
            ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, $words AS ws FROM p0),
      l0 AS (
        SELECT doc_id,
          array_to_string(ws[line_no*10+1 : line_no*10+10], ' ') AS lt
        FROM (SELECT doc_id, ws,
                unnest(range(0, CAST(CEIL(len(ws)/10.0) AS BIGINT))) AS line_no
              FROM w)),
      lc AS (
        SELECT doc_id, COUNT(*) AS c, CAST(LENGTH(lt) AS BIGINT) AS llen
        FROM l0 GROUP BY doc_id, lt),
      la AS (
        SELECT doc_id, SUM(c) AS n_lines, SUM(c - 1) AS dup_lines,
          GREATEST(SUM(c * llen), 1) AS line_chars,
          SUM((c - 1) * llen) AS dup_line_chars
        FROM lc GROUP BY 1),
      g4 AS (
        SELECT doc_id, COUNT(*) AS c, CAST(LENGTH(g) AS BIGINT) AS glen
        FROM (SELECT doc_id, unnest(${sqlWordGrams(words, 4)}) AS g FROM p0)
        GROUP BY doc_id, g),
      t4 AS (SELECT doc_id, MAX(c * glen) AS top4_chars,
               SUM(c * glen) AS tot4_chars FROM g4 GROUP BY 1),
      g5 AS (
        SELECT doc_id, COUNT(*) AS c, CAST(LENGTH(g) AS BIGINT) AS glen
        FROM (SELECT doc_id, unnest(${sqlWordGrams(words, 5)}) AS g FROM p0)
        GROUP BY doc_id, g),
      d5 AS (
        SELECT doc_id,
          SUM(CASE WHEN c > 1 THEN c * glen ELSE 0 END) AS dup5_chars,
          SUM(c * glen) AS tot5_chars
        FROM g5 GROUP BY 1),
      j AS (
        SELECT la.doc_id,
          dup_lines * 10000 // n_lines AS dup_line_bp,
          dup_line_chars * 10000 // line_chars AS dup_line_char_bp,
          COALESCE(top4_chars * 10000 // tot4_chars, 0) AS top4_char_bp,
          COALESCE(dup5_chars * 10000 // tot5_chars, 0) AS dup5_char_bp
        FROM la
        LEFT JOIN t4 ON la.doc_id = t4.doc_id
        LEFT JOIN d5 ON la.doc_id = d5.doc_id)
      SELECT doc_id,
        CAST(dup_line_bp AS BIGINT) AS dup_line_bp,
        CAST(dup_line_char_bp AS BIGINT) AS dup_line_char_bp,
        CAST(top4_char_bp AS BIGINT) AS top4_char_bp,
        CAST(dup5_char_bp AS BIGINT) AS dup5_char_bp,
        CASE WHEN dup_line_bp <= 3000 AND dup_line_char_bp <= 2000
              AND top4_char_bp <= 1600 AND dup5_char_bp <= 1500
             THEN 'keep' ELSE 'reject' END AS rep_verdict
      FROM j"""
    })

  /** CCNet-style per-language quality bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020 §4.4): each language's documents split into
    * head/middle/tail TERCILES by LM score — head (most fluent) is what
    * the paper trains on, tail is dropped or down-weighted. The score
    * is lm_bigram_score's integer inverse conditional probability per
    * bigram (higher = more improbable, the perplexity analog), so the
    * whole assignment is integer-exact cross-engine.
    *
    * Skew-safe tercile assignment WITHOUT a doc-sized window: a
    * per-language rank window over documents would put the dominant
    * language's whole corpus in one task (the pack_chunks pathology),
    * so terciles come from the per-(lang, score) HISTOGRAM — its
    * running count is a window over distinct score values only
    * (bounded by the 10000-bp score grid per language, never by doc
    * count), language totals ride a broadcast join, and each doc picks
    * its bucket by joining its (lang, score) back to the bucketed
    * histogram. Ties (equal scores) land in one bucket by
    * construction — the first-occurrence-rank tercile, deterministic
    * in both engines. Docs with no bigrams (≤ 1 word) have no score
    * and drop, identically in the oracle. */
  /** The tercile assignment over any (doc_id, lang, text) frame —
    * factored so the corpus export verb (`corpus -ccnet`) applies the
    * exact logic the oracle checks. Returns (doc_id, lang, score_bp,
    * bucket). */
  private[graft] def ccnetBucketAssign(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // scalar bigrams (r15): same (doc_id, lang, w, g) multiset as the
    // posexplode + lead-window form it replaces, with no per-token
    // Exchange+Sort (see lmBigramScore)
    val bi = d
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.Similarity.wordGramsAll(col("text"), 2))
          .as("g"))
      // (a per-(doc, g) pre-aggregation before these joins was tried
      // in r15 and REVERTED: bigrams are near-unique within a doc, so
      // the added full-cardinality groupBy cost more than the join
      // rows it saved — measured in a paired order-controlled A/B)
      .select(col("doc_id"), col("lang"),
        substring_index(col("g"), " ", 1).as("w"), col("g"))
      // r16: LAZY localCheckpoint — this occurrence frame feeds THREE
      // consumers (c1, c2, and the score join), and uncached each one
      // re-planned and re-ran the corpus tokenize+explode (the r15
      // dump counted 18 Exchanges from the re-planned subtrees; a
      // .cache() variant measured SLOWER in r15 — columnar compression
      // build cost — where the checkpoint stores raw rows). Lazy, so
      // the bench's timed action pays the one materialization.
      .localCheckpoint(false)
    val c1 = bi.groupBy("w").agg(count(lit(1)).as("cw"))
    val c2 = bi.groupBy("g").agg(count(lit(1)).as("cg"))
    val scores = bi.join(c2, "g").join(c1, "w")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("nb"), sum(expr("cw DIV cg")).as("ls"))
      .select(col("doc_id"), col("lang"),
        expr("(ls * 10000) DIV nb").as("score_bp"))
      // the per-doc score frame ALSO has three consumers (hist, the
      // language totals, and the final bucket join) — pin it too, so
      // the 3-join aggregation above runs once, not three times
      .localCheckpoint(false)
    val hist = scores.groupBy("lang", "score_bp")
      .agg(count(lit(1)).as("cnt"))
    val wl = Window.partitionBy("lang").orderBy("score_bp")
    val ntot = scores.groupBy("lang").agg(count(lit(1)).as("ntot"))
    val bucketed = hist
      .withColumn("cume", sum(col("cnt")).over(wl))
      .join(broadcast(ntot), "lang")
      .select(col("lang"), col("score_bp"),
        expr("((cume - cnt) * 3) div ntot").as("b"))
    scores.join(bucketed, Seq("lang", "score_bp"))
      .select(col("doc_id"), col("lang"), col("score_bp"),
        when(col("b") === 0, lit("head"))
          .when(col("b") === 1, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  val ccnetBuckets = Q(
    "ccnet_buckets",
    (s, dir) => ccnetBucketAssign(
      spread(t(s, dir, "documents"), col("doc_id"))),
    Some {
      val words = "string_split(text, ' ')"
      s"""
      WITH bi AS (
        SELECT doc_id, lang, g, split_part(g, ' ', 1) AS w
        FROM (SELECT doc_id, lang, unnest(${sqlWordGrams(words, 2)}) AS g
              FROM documents)),
      c1 AS (SELECT w, COUNT(*) AS cw FROM bi GROUP BY 1),
      c2 AS (SELECT g, COUNT(*) AS cg FROM bi GROUP BY 1),
      sc AS (
        SELECT doc_id, lang,
          (CAST(SUM(cw // cg) AS BIGINT) * 10000) // COUNT(*) AS score_bp
        FROM bi JOIN c2 USING (g) JOIN c1 USING (w)
        GROUP BY 1, 2),
      hist AS (SELECT lang, score_bp, COUNT(*) AS cnt FROM sc GROUP BY 1, 2),
      nt AS (SELECT lang, COUNT(*) AS ntot FROM sc GROUP BY 1),
      bk AS (
        SELECT c.lang, c.score_bp,
          (((SUM(cnt) OVER (PARTITION BY c.lang ORDER BY c.score_bp))
            - cnt) * 3) // ntot AS b
        FROM hist c JOIN nt USING (lang))
      SELECT doc_id, sc.lang, sc.score_bp,
        CASE WHEN b = 0 THEN 'head' WHEN b = 1 THEN 'middle'
          ELSE 'tail' END AS bucket
      FROM sc JOIN bk ON sc.lang = bk.lang AND sc.score_bp = bk.score_bp"""
    })

  /** Leakage-safe train/val/test split: documents sharing ANY 15-word
    * window (the span_dedup boilerplate relation, planted shared
    * paragraph included) must land in the SAME split — a per-doc hash
    * split would put one copy of a boilerplate chain in train and its
    * twin in test, leaking training text into eval. Connectivity is
    * TRANSITIVE (A shares a paragraph with B, B a different one with
    * C), so docs cluster by connected components first and the split
    * coin is thrown once per CLUSTER root.
    *
    * Scale shape: the edge list is the STAR construction — every doc
    * connects to the MIN doc_id of each shared-window group — which is
    * linear in window postings where the all-pairs-per-window join is
    * quadratic in posting length (a boilerplate paragraph in 10^5 docs
    * would plant 10^10 pairs; the star plants 10^5 edges). Components
    * then resolve by pointer-doubled min-label propagation to the
    * FIXPOINT (the oracle states the same fixpoint as a recursive
    * CTE), so arbitrarily long boilerplate chains land in one cluster
    * on both engines. Split = md5(cluster root) % 10:
    * 8/1/1 train/val/test, deterministic and content-keyed. */
  /** The leakage-safe split assignment on any (doc_id, text) frame —
    * see [[leakageSplit]] for semantics. Returns (doc_id, cluster,
    * split).
    *
    * ONE algorithm on every surface (r12 verdict Next #3 — the query
    * used to run LS_ITERS fixed rounds, guaranteeing only ≤4-link
    * boilerplate chains while the verb converged unconditionally):
    * min-label propagation iterated to the FIXPOINT with
    * POINTER-DOUBLING added to each round, so reach doubles per round
    * and 66 rounds cover any diameter a 64-bit id space can hold; the
    * `require(done)` turns a non-converged pass into a loud failure
    * instead of a silently-straddled cluster. The oracle states the
    * same fixpoint as a recursive CTE (exact connected components),
    * so the same-split guarantee is unconditional on BOTH engines. */
  private[graft] def leakageSplitAssign(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val W = 15
    // r16: per-doc-distinct window hashes in ONE scalar pass
    // (ShingleOps.spanHashesDistinct — pinned by SpanLineHashSpec).
    // Replaces the explode(sequence)+slice pipeline (which copied the
    // whole token array into every exploded row — quadratic bytes per
    // doc) AND its global `.distinct()` Exchange: doc_id is unique per
    // input row, so per-doc dedup IS the (doc_id, h) distinct.
    val wins = d
      .select(col("doc_id"),
        explode(graft.functions.Similarity.spanHashesDistinct(
          col("text"), W)).as("h"))
    val hubs = wins.groupBy("h").agg(min(col("doc_id")).as("mn"))
    // r16: lazy-pin e0 — the symmetrization consumes it TWICE and each
    // copy replayed the whole corpus window-explode + hub join (the
    // executed edges plan showed two full wins⋈hubs subtrees = 4
    // corpus explodes); the pinned rows are edge-sized, the same class
    // the eager edges checkpoint below already stores. The outer
    // .distinct() is dropped as a PROVEN no-op: mn is its group's MIN
    // and mn ≠ doc_id, so b < a on every e0 row and a < b on every
    // swapped row — the two sides are disjoint and each is internally
    // distinct, so the union carries no duplicates to remove.
    val e0 = wins.join(hubs, "h")
      .filter(col("doc_id") =!= col("mn"))
      .select(col("doc_id").as("a"), col("mn").as("b"))
      .distinct()
      .localCheckpoint(false)
    val edges = e0.unionByName(
        e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var labels = d
      .select(col("doc_id").as("node"))
      .withColumn("label", col("node"))
    def round(): Unit = {
      val viaNbr = edges.join(labels, edges("b") === labels("node"))
        .select(col("a").as("node"), col("label"))
      labels = labels.unionByName(viaNbr)
        .groupBy("node").agg(min(col("label")).as("label"))
    }
    // Edge propagation alone moves a label ONE hop per round — a
    // 100-link chain would defeat any fixed cap. Each round therefore
    // ALSO pointer-doubles (relabel through the label's own label), so
    // the reach doubles per round and 66 rounds cover any diameter a
    // 64-bit id space can hold (2⁶³, plus one round to observe the
    // fixpoint, plus slack). Labels only decrease, so the label sum is
    // a monotone potential: equal consecutive sums ⟺ fixpoint (an
    // empty frame sums to the ZERO constant and exits on round two).
    var prev: java.math.BigDecimal = null
    var it = 0
    var done = false
    // each eager checkpoint supersedes the one it was computed from —
    // free the dead blocks immediately (the BPE-ladder lesson: letting
    // GC collect them bends deep loops to ~2x per-round cost)
    var deadCkpt: Option[org.apache.spark.sql.DataFrame] = None
    def ckptFree(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val c = df.localCheckpoint()
      deadCkpt.foreach(
        org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint)
      deadCkpt = Some(c)
      c
    }
    while (!done && it < 66) {
      it += 1
      round()
      // checkpoint BEFORE the shortcut: the self-join must not sit
      // on the union lineage (attribute rewrite trips there), and
      // the doubling must not double the PLAN along with the reach
      labels = ckptFree(labels)
      val lk = labels.select(col("node").as("n2"), col("label").as("l2"))
      labels = ckptFree(labels.join(lk, col("label") === col("n2"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("l2"), col("label")))
            .as("label"))) // also materializes for the sum
      val cur = Option(labels
          .agg(sum(col("label").cast("decimal(38,0)"))).head()
          .getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
      done = prev != null && cur.compareTo(prev) == 0
      prev = cur
    }
    require(done, "leakage-split label propagation did not converge")
    labels.select(col("node").as("doc_id"), col("label").as("cluster"),
      (Queries.md5Long(col("label").cast("string")) % 10).as("coin"))
      .select(col("doc_id"), col("cluster"),
        when(col("coin") <= 7, "train")
          .when(col("coin") === 8, "val").otherwise("test").as("split"))
  }

  val leakageSplit = Q(
    "leakage_split",
    (s, dir) => {
      val para = SharedPara
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 3, concat(lit(para + " "), col("text")))
            .otherwise(col("text")).as("text"))
      leakageSplitAssign(d)
    },
    Some {
      val para = SharedPara
      val h = Queries.sqlMd5Long("array_to_string(ws[p+1 : p+15], ' ')")
      val coin = Queries.sqlMd5Long("CAST(label AS VARCHAR)")
      // The oracle's fixpoint: a recursive CTE enumerating (node,
      // reachable-node-id) pairs — UNION-dedup terminates it, and
      // MIN over the reachable set IS the component min label, i.e.
      // exact connected components with no round bound. Matches the
      // Spark side's pointer-doubled propagation unconditionally
      // (both are "min id reachable from node").
      s"""
      WITH RECURSIVE p0 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 11 = 3 THEN '$para ' || text
            ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM p0),
      wins0 AS (
        SELECT doc_id, ws, unnest(range(0, len(ws) - 14)) AS p
        FROM w WHERE len(ws) >= 15),
      wins AS (SELECT DISTINCT doc_id, $h AS h FROM wins0),
      hubs AS (SELECT h, MIN(doc_id) AS mn FROM wins GROUP BY 1),
      e1 AS (
        SELECT DISTINCT doc_id AS a, mn AS b
        FROM wins JOIN hubs USING (h) WHERE doc_id <> mn),
      e AS (SELECT a, b FROM e1 UNION SELECT b AS a, a AS b FROM e1),
      cc AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.a AS node, cc.label FROM e JOIN cc ON e.b = cc.node),
      lab AS (SELECT node, MIN(label) AS label FROM cc GROUP BY node)
      SELECT node AS doc_id, label AS cluster,
        CASE WHEN $coin % 10 <= 7 THEN 'train'
             WHEN $coin % 10 = 8 THEN 'val' ELSE 'test' END AS split
      FROM lab"""
    })

  private val DSIR_B = 512L

  /** DSIR data selection — hashed n-gram importance resampling
    * (Xie et al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023): score every raw document by how much
    * more likely its hashed n-gram bag is under a TARGET bag model
    * than under the RAW-pool model, and keep the top-k. Target here =
    * the corpus's English documents (the fixture's stand-in for
    * "wiki-books-like"); features = unigrams + bigrams hashed into
    * B=512 buckets (the paper's 10^4 bucket count, scaled to the
    * fixture corpus); both models +1-smoothed.
    *
    * Integer-exact logs (the lm_bigram_score / rarity_score "log-free"
    * discipline, one step stronger): log-likelihood ratios are carried
    * in HALF-BIT units via L2(x) = floor(2·log2 x) = 2·(bitlen(x)−1)
    * + [x ≥ √2·2^(bitlen−1)] — integer bit-lengths plus ONE shared
    * IEEE-double boundary compare (exact pow-of-two scaling, the same
    * √2 literal on both engines), engine-identical for all x < 2⁶²
    * where libm logs can drift by a ULP and flip a rank. Per document
    *   w = Σ_b n_db·(L2(ct_b+1) − L2(cr_b+1))
    *     + n_d·(L2(Tr+B) − L2(Tt+B))
    * — the DSIR log-importance at half-bit quantization (one floor per
    * count term). Selection is the deterministic top-k by (w, doc_id)
    * rather than the paper's Gumbel-noise resample: seeded RNG streams
    * don't cross engines, and rank-by-weight is the zero-temperature
    * limit of the same sampler. The 2⁶² range covers corpus-wide
    * totals at any realistic scale (a first cut squared its operand —
    * exact, but the TOTALS leg would have wrapped at ~3·10⁹ features,
    * ~10 GB of text; caught in review).
    *
    * Scale shape: one token-linear explode; per-(doc, bucket) counts
    * are map-side combinable; BOTH bag models roll up from those same
    * counts (≤ B-row aggregates) and come back as ONE broadcast ≤ B-row
    * join; the per-doc score is another combinable agg; the final
    * top-k is TakeOrdered (no global sort). Zero wide joins — at
    * 100 TB this is two narrow count shuffles over 8-byte keys. */
  /** Per-document DSIR importance weights on any (doc_id, lang, text)
    * frame — see [[dsirSelect]] for semantics and units. Target bag =
    * rows with lang == targetLang. Returns (doc_id, lang, n_feats,
    * dsir_w). */
  private[graft] def dsirWeights(d: org.apache.spark.sql.DataFrame,
      targetLang: String): org.apache.spark.sql.DataFrame = {
    // L2(x) = floor(2·log2 x) WITHOUT squaring: bitlen(x²)−1 is exact
    // but overflows at x ≥ 2³¹ — the corpus-wide totals (Tr+B) cross
    // that at ~10 GB of text. The half-bit probe instead compares x
    // against √2·2^(bitlen−1): pow(2, k) is exact, the √2 literal is
    // one shared IEEE double, and long→double conversion rounds
    // identically in both engines, so the expression is engine-exact
    // for all x < 2⁶² (and equals the true floor everywhere except
    // possibly the integer adjacent to an irrational boundary — the
    // same value on both engines either way).
    def l2(x: Column): Column =
      lit(2L) * (length(bin(x)) - 1) +
        when(x.cast("double") >=
          lit(1.4142135623730951) *
            pow(lit(2.0), (length(bin(x)) - 1).cast("double")), 1L)
          .otherwise(0L)
    // scalar featurization (r15): unigrams are the split array itself,
    // bigrams the codegen'd gram scalar — one explode over their
    // concatenation replaces the old posexplode + lead-window + union
    // (which shuffled and sorted every token per doc, then exploded
    // the corpus twice). Same feature multiset: all tokens ∪ all
    // adjacent pairs.
    val feats = d
      .select(col("doc_id"), col("lang"),
        explode(concat(split(col("text"), " "),
          graft.functions.Similarity.wordGramsAll(col("text"), 2)))
          .as("g"))
      .select(col("doc_id"), col("lang"),
        pmod(Queries.md5Long(col("g")), lit(DSIR_B)).as("b"))
    val perDocBucket = feats
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("n"))
    val model = perDocBucket.groupBy(col("b"))
      .agg(sum(col("n")).as("cr"),
        sum(when(col("lang") === targetLang, col("n")).otherwise(0L))
          .as("ct"))
    val tot = model.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val scored = model.crossJoin(broadcast(tot)).select(
      col("b"),
      (l2(col("ct") + 1) - l2(col("cr") + 1)).as("sb"),
      (l2(col("tr") + DSIR_B) - l2(col("tt") + DSIR_B)).as("cc"))
    perDocBucket.join(broadcast(scored), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_feats"),
        (sum(col("n") * col("sb")) + max(col("cc")) * sum(col("n")))
          .as("dsir_w"))
  }

  val dsirSelect = Q(
    "dsir_select",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      dsirWeights(d, "en")
        .orderBy(desc("dsir_w"), asc("doc_id"))
        .limit(50)
    },
    Some {
      def l2(e: String): String = {
        val bl = s"(length(format('{:b}', CAST(($e) AS BIGINT))) - 1)"
        s"""(2 * $bl + CASE WHEN CAST(($e) AS DOUBLE) >=
            1.4142135623730951 * power(2.0, $bl) THEN 1 ELSE 0 END)"""
      }
      val h = Queries.sqlMd5Long("g")
      s"""
      WITH ws AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      toks AS (
        SELECT doc_id, lang, unnest(ws) AS g FROM ws
        UNION ALL
        SELECT doc_id, lang,
          unnest(CASE WHEN len(ws) >= 2
            THEN [concat_ws(' ', ws[i], ws[i + 1])
                  for i in range(1, len(ws))]
            ELSE [] END) AS g
        FROM ws),
      fe AS (SELECT doc_id, lang, $h % $DSIR_B AS b FROM toks),
      db AS (
        SELECT doc_id, lang, b, COUNT(*) AS n FROM fe GROUP BY 1, 2, 3),
      m AS (
        SELECT b, CAST(SUM(n) AS BIGINT) AS cr,
          CAST(SUM(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT) AS ct
        FROM db GROUP BY 1),
      tt AS (
        SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
        FROM m),
      sc AS (
        SELECT b, ${l2("ct + 1")} - ${l2("cr + 1")} AS sb,
          ${l2("tr + " + DSIR_B)} - ${l2("tt + " + DSIR_B)} AS cc
        FROM m CROSS JOIN tt)
      SELECT doc_id, lang,
        CAST(SUM(n) AS BIGINT) AS n_feats,
        CAST(SUM(n * sb) + MAX(cc) * SUM(n) AS BIGINT) AS dsir_w
      FROM db JOIN sc USING (b)
      GROUP BY 1, 2
      ORDER BY dsir_w DESC, doc_id
      LIMIT 50"""
    })

  /** Board/oracle merge depth: BOTH surfaces read this one constant
    * (the oracle SQL unrolls the same K rounds). Deeper ladders run
    * the Scala side through [[bpeLoop]]'s `depth` parameter (the `bpe`
    * verb's `-merges`, BpeDsirSpec). */
  private[graft] val BPE_K: Int = 6

  /** BPE tokenizer training (Sennrich, Haddow & Birch, ACL 2016) as
    * DataFrame algebra: learn the first K merge rules over the corpus
    * — per round, count adjacent token-pair occurrences weighted by
    * word frequency, elect the most frequent pair (ties → smallest
    * (left, right)), and replace its non-overlapping occurrences
    * greedily left-to-right in every word. Words carry the standard
    * `</w>` end-of-word token so merges can learn whole-word units.
    * Output = the learned merge table (rank, pair, merged, count) —
    * what a tokenizer ships.
    *
    * The merge pass is RELATIONAL, not a per-row loop: a pair match
    * is `tok = l ∧ lead(tok) = r`; greedy left-to-right on an
    * overlap chain ("aaa" under (a,a)) = keep every other match
    * inside each maximal run of consecutive matches, computed with a
    * run-start cumsum + parity — deterministic and identical in both
    * engines (the oracle unrolls the same algebra K times). Positions
    * are renumbered densely each round so parity is row-adjacency,
    * not stale gapped offsets.
    *
    * Scale shape: the corpus-sized work is ONE word-count shuffle;
    * every training round then runs on the WORD-FREQUENCY table —
    * bounded by vocabulary, not corpus (the reason Sennrich's
    * algorithm trains on a dict), so 100 TB of text and 1 GB of text
    * iterate over the same few-million-row frame. Window partitions
    * are one word's tokens (max word length); the per-round frames
    * are lineage-truncated with lazy localCheckpoints (the linkrank
    * discipline) so the K-round plan stays linear, paid at action
    * time where Bench can see it. */
  /** Batch width for BPE training: per relational pass, up to B
    * pairwise token-disjoint top pairs are elected and applied in ONE
    * sweep (see [[bpeLoop]]'s exactness argument). B=1 is r14's
    * one-merge-per-pass behavior. */
  private[graft] val BPE_B: Int = 8

  /** The shared BPE training loop over a (word, freq) vocabulary:
    * elect-most-frequent-pair + greedy left-to-right merge until
    * `depth` merges are learned, all relational (see [[bpeTrain]]'s
    * scaladoc). Returns per-pass merge frames (rank, lft, rgt, merged,
    * pair_count) and the final token frame (w, freq, i, tok).
    *
    * BATCHED passes (r15): one merge per vocabulary pass is provably
    * linear in K but its per-pass constant (~2 s on a 100k-word vocab,
    * BPE_DEPTH_r14.json) puts a real 32k-merge table at ~18 h — so
    * each pass elects up to `batch` merges and applies them in one
    * sweep. Exactness vs sequential greedy is preserved by
    * construction, not hope:
    *
    *  1. candidates = top batch+1 pairs by (count DESC, lft, rgt) —
    *     the +1 row is the strict-count sentinel;
    *  2. take the maximal rank-PREFIX that is pairwise token-disjoint
    *     (stop at the first pair sharing a token type with an earlier
    *     one) — disjoint merges cannot destroy or create each other's
    *     occurrences, so their counts at their own sequential election
    *     equal the shared table's counts;
    *  3. beyond the top pair, keep only pairs whose count is STRICTLY
    *     above the first excluded pair's count (C_stop). Every pair
    *     outside the batch has count ≤ C_stop, applying a batch pair
    *     only lowers outside counts, and any NEWLY created pair (x,ab)
    *     inherits count ≤ count(x,a) ≤ C_stop — so at each sequential
    *     step the next batch pair wins on count alone, with no
    *     tie-break hazard against new pairs' arbitrary lexicographic
    *     position. The top pair itself is exact unconditionally (it
    *     won the shared table).
    *
    *    On tied fixtures the cut degenerates to B'=1 (still exact).
    *    Measured widths (BPE_BATCH_AB_r15*.json, same-JVM A/B): flat
    *    near-uniform counts fill B' ≈ 2.1-2.5 (2.3× wall); Zipf-skewed
    *    counts concentrate the election on pairs sharing the hottest
    *    tokens and the disjoint prefix truncates at B' ≈ 1.03 (1.14×
    *    wall) — batching helps most where ties are dense and is never
    *    harmful, exactness unconditional either way. BpeDsirSpec A/Bs
    *    the whole loop against the scalar Sennrich reference to
    *    depth 128.
    *
    * The ≤batch+1-row election is COLLECTED per pass — a tokenizer's
    * merge table is driver-resident by design (same discipline as
    * [[bpeEncode]]'s frozen merges) — and the batch rides back into
    * the sweep as a broadcast B'-row frame joined on tok = lft, so
    * every pass shares one codegen class. Per-pass frames are
    * lineage-truncated with EAGER localCheckpoints and the superseded
    * pass's blocks are freed explicitly (both r14 disciplines). Wall
    * is ∝ min(depth, merges-to-convergence) / B' with a vocab-sized
    * constant; the corpus-sized work stays the ONE word count that
    * built `vocab`. */
  // --- BPE token-array scalar builders (r15, see functions/BpeOps:
  // the per-merge pair listing and greedy application are word-local,
  // so they run as codegen'd scalars over a token ARRAY column instead
  // of exploding one row per token and paying 5 window functions + a
  // row_number re-rank per merge pass) ---
  private def bpeCall(fn: String, ret: org.apache.spark.sql.types.DataType,
      args: Seq[org.apache.spark.sql.Column],
      inTypes: Seq[org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.functions.BpeOps"), ret, fn,
        args.map(org.apache.spark.sql.graftbridge.ColumnBridge.expression),
        inTypes))

  private val TokArr = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType)

  private def bpeInit(word: org.apache.spark.sql.Column) =
    bpeCall("initToks", TokArr, Seq(word),
      Seq(org.apache.spark.sql.types.StringType))

  private def bpePairs(tk: org.apache.spark.sql.Column) =
    bpeCall("adjacentPairs",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lft",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("rgt",
            org.apache.spark.sql.types.StringType, nullable = false)))),
      Seq(tk), Seq(TokArr))

  private def bpeApply(tk: org.apache.spark.sql.Column,
      lfts: org.apache.spark.sql.Column, rgts: org.apache.spark.sql.Column) =
    bpeCall("applyMerges", TokArr, Seq(tk, lfts, rgts),
      Seq(TokArr, TokArr, TokArr))

  private[graft] def bpeLoop(vocab: org.apache.spark.sql.DataFrame,
      depth: Int = BPE_K, batch: Int = BPE_B)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    val spark = vocab.sparkSession
    import spark.implicits._
    var toks = vocab
      .select(col("word").as("w"), col("freq"),
        bpeInit(col("word")).as("tk"))
    var merges = Seq.empty[org.apache.spark.sql.DataFrame]
    var k = 0
    var converged = false
    var prevTk: Option[org.apache.spark.sql.DataFrame] = None
    while (k < depth && !converged) {
      // EAGER checkpoint (r14): lazy ones only truncate lineage once a
      // full-partition job computes them, which take-shaped election
      // actions never run — at depth 32+ the accumulated lineage
      // overflowed the task-serializer stack.
      val tk = toks.localCheckpoint()
      val width = math.min(batch, depth - k)
      val top = tk
        .select(col("freq"), explode(bpePairs(col("tk"))).as("p"))
        .select(col("p.lft").as("lft"), col("p.rgt").as("rgt"), col("freq"))
        .groupBy("lft", "rgt").agg(sum(col("freq")).as("pair_count"))
        .orderBy(desc("pair_count"), asc("lft"), asc("rgt"))
        .limit(width + 1)
        .collect() // ≤ batch+1 rows: merge-table-sized by design
      converged = top.isEmpty
      // even a converged pass must re-base the RETURNED token frame on
      // THIS pass's live checkpoint: the stale expression still reads
      // the prior pass's blocks, which are freed below
      toks = tk
      if (!converged) {
        // maximal disjoint rank-prefix (step 2 above)
        val used = scala.collection.mutable.Set.empty[String]
        val prefix =
          scala.collection.mutable.Buffer.empty[(String, String, Long)]
        var idx = 0
        var stopped = false
        while (!stopped && idx < top.length && prefix.length < width) {
          val (l, r, c) =
            (top(idx).getString(0), top(idx).getString(1),
              top(idx).getLong(2))
          if (used(l) || used(r)) stopped = true
          else { prefix += ((l, r, c)); used += l; used += r; idx += 1 }
        }
        // strict-count cut (step 3): C_stop = first excluded pair's
        // count; no excluded pair at all → 0 (every real count beats it)
        val cStop = if (idx < top.length) top(idx).getLong(2) else 0L
        val chosen =
          (prefix.head +: prefix.tail.takeWhile(_._3 > cStop)).toSeq
        merges :+= chosen.zipWithIndex.map { case ((l, r, c), j) =>
          (k + 1 + j, l, r, l + r, c)
        }.toDF("rank", "lft", "rgt", "merged", "pair_count")
        // apply the whole batch in one row-local sweep (disjoint pairs
        // — adjacent matches of DIFFERENT pairs are impossible, they
        // would share a token type, so greedy-with-skip ≡ the r14
        // run-parity algebra; BpeDsirSpec's batched depth-128 A/B is
        // the referee). Pairs ride as array literals: literal VALUES
        // live in the codegen references array, not the generated
        // source, so every round of a given batch width reuses one
        // compiled class (the broadcast-pair rationale, cheaper).
        toks = tk.select(col("w"), col("freq"),
          bpeApply(col("tk"),
            array(chosen.map(p => lit(p._1)): _*),
            array(chosen.map(p => lit(p._2)): _*)).as("tk"))
        k += chosen.length
      }
      // this pass's checkpoint is materialized (eager), so the prior
      // pass's blocks are dead — free them now instead of waiting for
      // GC (r14: unfreed blocks bent deep ladders to ~2× per-pass)
      prevTk.foreach(
        org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint)
      prevTk = Some(tk)
    }
    // a vocabulary that converges before electing anything (empty
    // corpus) still owes callers one reducible frame of the schema
    val out = if (merges.nonEmpty) merges
      else Seq(Seq.empty[(Int, String, String, String, Long)]
        .toDF("rank", "lft", "rgt", "merged", "pair_count"))
    (out, toks)
  }

  /** ENCODE with a frozen merge table — the tokenizer's runtime half
    * ([[bpeLoop]] learns the merges; this replays them, in rank
    * order, on text the trainer never saw). Runs on the new corpus's
    * VOCABULARY (word, freq) as a token-ARRAY frame: each merge is one
    * chained [[graft.functions.BpeOps.applyMerges]] scalar call, so a
    * CHUNK of merges costs ONE vocab-bounded projection pass (r14 paid
    * one window-stack pass + checkpoint PER merge). Chunks of 32 bound
    * the expression depth; a localCheckpoint between chunks keeps the
    * lineage flat at 32k-merge depth (superseded blocks freed). Pair
    * literal VALUES live in the codegen references array, not the
    * generated source, so every single-pair apply shares one compiled
    * class — the r14 broadcast-pair rationale, without the join.
    * Returns the final (w, freq, tk) ARRAY frame. */
  private[graft] def bpeEncodeArr(vocab: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    var frame = vocab
      .select(col("word").as("w"), col("freq"),
        bpeInit(col("word")).as("tk"))
    var prevCk: Option[org.apache.spark.sql.DataFrame] = None
    merges.grouped(32).foreach { chunk =>
      var c = col("tk")
      for ((l, r) <- chunk)
        c = bpeApply(c, array(lit(l)), array(lit(r)))
      val ck = frame.select(col("w"), col("freq"), c.as("tk"))
        .localCheckpoint()
      prevCk.foreach(
        org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint)
      prevCk = Some(ck)
      frame = ck
    }
    frame
  }

  /** [[bpeEncodeArr]] exploded to the legacy (w, freq, i, tok) shape
    * (i = dense 0-based position; consumers use it only to order
    * tokens within a word). */
  private[graft] def bpeEncode(vocab: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    bpeEncodeArr(vocab, merges)
      .select(col("w"), col("freq"),
        posexplode(col("tk")).as(Seq("i", "tok")))

  private[graft] def bpeVocab(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  val bpeTrain = Q(
    "bpe_train",
    (s, dir) => {
      val vocab = bpeVocab(spread(t(s, dir, "documents"), col("doc_id")))
      val (merges, _) = bpeLoop(vocab)
      merges.reduce(_ unionByName _)
    },
    Some {
      val outs = (1 to BPE_K).map(k =>
        s"""SELECT CAST($k AS INTEGER) AS rank, lft, rgt,
              lft || rgt AS merged, pair_count FROM e$k""")
        .mkString("\n      UNION ALL\n      ")
      s"""
      $bpeSqlWith
      $outs"""
    })

  /** DuckDB twin of [[bpeLoop]]: the shared WITH-prefix — vocabulary,
    * char+`</w>` token explode, and BPE_K unrolled merge rounds (the
    * same run-start-cumsum + parity algebra). Ends after CTE
    * t$BPE_K (the final token frame); e$k are the elected pairs. */
  private def bpeSqlWith: String = {
      def round(k: Int): String = {
        val prev = if (k == 1) "t0" else s"t${k - 1}"
        s""",
      n$k AS (
        SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY i) AS i,
          tok
        FROM $prev),
      p$k AS (
        SELECT tok AS lft, r AS rgt, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM (SELECT w, freq, tok,
                lead(tok) OVER (PARTITION BY w ORDER BY i) AS r
              FROM n$k)
        WHERE r IS NOT NULL GROUP BY 1, 2),
      e$k AS (
        SELECT lft, rgt, pair_count FROM p$k
        ORDER BY pair_count DESC, lft, rgt LIMIT 1),
      x$k AS (
        SELECT w, freq, i, tok, lft, rgt,
          coalesce(tok = lft AND
            lead(tok) OVER (PARTITION BY w ORDER BY i) = rgt, false) AS m
        FROM n$k LEFT JOIN e$k ON true),
      y$k AS (
        SELECT *, CASE WHEN m AND NOT coalesce(
            lag(m) OVER (PARTITION BY w ORDER BY i), false)
          THEN 1 ELSE 0 END AS st
        FROM x$k),
      z$k AS (
        SELECT *, SUM(st) OVER (PARTITION BY w ORDER BY i
          ROWS UNBOUNDED PRECEDING) AS grp
        FROM y$k),
      r$k AS (
        SELECT *, MIN(CASE WHEN m THEN i END)
          OVER (PARTITION BY w, grp) AS rs
        FROM z$k),
      a$k AS (
        SELECT *, coalesce(m AND (i - rs) % 2 = 0, false) AS act
        FROM r$k),
      t$k AS (
        SELECT w, freq, i,
          CASE WHEN act THEN lft || rgt ELSE tok END AS tok
        FROM (SELECT *, coalesce(lag(act)
                OVER (PARTITION BY w ORDER BY i), false) AS cons
              FROM a$k)
        WHERE NOT cons)"""
      }
      val rounds = (1 to BPE_K).map(round).mkString
      s"""WITH w0 AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE length(word) >= 1 GROUP BY 1),
      t0 AS (
        SELECT word AS w, freq,
          unnest(range(1, length(word) + 2)) AS i,
          unnest(list_append(
            [substring(word, j, 1) for j in range(1, length(word) + 1)],
            '</w>')) AS tok
        FROM w0)$rounds"""
  }

  /** Tokenizer fertility report — apply the [[bpeTrain]] merges
    * corpus-wide and report tokens-per-word by language (basis
    * points), the number a multilingual tokenizer audit reads first
    * (Petrov et al., "Language Model Tokenizers Introduce Unfairness
    * Between Languages", NeurIPS 2023 measure the same ratio): a
    * language the merge table under-serves pays more tokens per word
    * of context. Trains the ONE shared merge table (all languages
    * pooled — the fairness question needs a shared tokenizer), counts
    * final tokens per vocabulary word, and aggregates occurrence-
    * weighted per language.
    *
    * Scale shape: [[bpeLoop]]'s vocab-bounded rounds, plus one
    * (lang, word) count shuffle and a vocab-sized hash join — the
    * corpus-sized work is the two word counts. */
  /** Occurrence-weighted per-language fertility of a trained token
    * frame (the CLI shares this with [[bpeFertility]] so `bpe` runs
    * the loop once for both reports). */
  private[graft] def bpeFertilityFrom(docs: org.apache.spark.sql.DataFrame,
      fin: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // fin is the (w, freq, tk) token-ARRAY frame (r15): tokens-per-word
    // is the array size — no vocab-sized groupBy
    val tw = fin.select(col("w"), size(col("tk")).cast("long").as("tw"))
    val lw = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
    lw.join(tw, lw("word") === tw("w"))
      .groupBy("lang")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("tw")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        expr("(n_tokens * 10000) DIV n_words").as("fertility_bp"))
  }

  val bpeFertility = Q(
    "bpe_fertility",
    (s, dir) => {
      val docs = spread(t(s, dir, "documents"), col("doc_id"))
      val (_, fin) = bpeLoop(bpeVocab(docs))
      bpeFertilityFrom(docs, fin)
    },
    Some {
      s"""
      $bpeSqlWith,
      tw AS (SELECT w, COUNT(*) AS tw FROM t$BPE_K GROUP BY 1),
      lw AS (
        SELECT lang, word, COUNT(*) AS n
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE length(word) >= 1 GROUP BY 1, 2)
      SELECT lang,
        CAST(SUM(n) AS BIGINT) AS n_words,
        CAST(SUM(n * tw) AS BIGINT) AS n_tokens,
        (CAST(SUM(n * tw) AS BIGINT) * 10000) // CAST(SUM(n) AS BIGINT)
          AS fertility_bp
      FROM lw JOIN tw ON lw.word = tw.w
      GROUP BY 1"""
    })

  /** DuckDB twin of ONE [[bpeEncode]] merge application: round k of
    * the u-chain replays the TRAINED pair e$k (from [[bpeSqlWith]]'s
    * CTEs) on the unseen-token frame — no election, LEFT JOIN so an
    * empty e$k (a converged training round) is the identity pass. */
  private def bpeSqlApplyRound(k: Int): String = {
    val prev = if (k == 1) "u0" else s"ut${k - 1}"
    s""",
      un$k AS (
        SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY i) AS i,
          tok
        FROM $prev),
      ux$k AS (
        SELECT w, freq, i, tok, lft, rgt,
          coalesce(tok = lft AND
            lead(tok) OVER (PARTITION BY w ORDER BY i) = rgt, false) AS m
        FROM un$k LEFT JOIN e$k ON true),
      uy$k AS (
        SELECT *, CASE WHEN m AND NOT coalesce(
            lag(m) OVER (PARTITION BY w ORDER BY i), false)
          THEN 1 ELSE 0 END AS st
        FROM ux$k),
      uz$k AS (
        SELECT *, SUM(st) OVER (PARTITION BY w ORDER BY i
          ROWS UNBOUNDED PRECEDING) AS grp
        FROM uy$k),
      ur$k AS (
        SELECT *, MIN(CASE WHEN m THEN i END)
          OVER (PARTITION BY w, grp) AS rs
        FROM uz$k),
      ua$k AS (
        SELECT *, coalesce(m AND (i - rs) % 2 = 0, false) AS act
        FROM ur$k),
      ut$k AS (
        SELECT w, freq, i,
          CASE WHEN act THEN lft || rgt ELSE tok END AS tok
        FROM (SELECT *, coalesce(lag(act)
                OVER (PARTITION BY w ORDER BY i), false) AS cons
              FROM ua$k)
        WHERE NOT cons)"""
  }

  /** Tokenizer ENCODE on unseen text — train the merge table on the
    * corpus, then tokenize a corpus the trainer never saw (every word
    * doubled: `abc` → `abcabc`, a deterministic derivation both
    * engines compute identically that yields genuinely novel
    * vocabulary) and report per-document word/token counts. This is
    * the runtime half a tokenizer ships: [[bpeLoop]] elects, this
    * replays frozen merges in rank order ([[bpeEncode]]).
    *
    * Scale shape: the merge table is collected to the driver BY
    * DESIGN (a tokenizer's ≤32k merges are a file, not a dataset);
    * encoding runs K vocab-bounded passes on the unseen corpus's word
    * table + one corpus-sized word count + one hash join back — the
    * [[bpeLoop]] discipline applied at inference. */
  val bpeEncodeQ = Q(
    "bpe_encode",
    (s, dir) => {
      val docs = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("text"))
      val (mergeFrames, _) = bpeLoop(bpeVocab(docs))
      val merges = mergeFrames.flatMap(_.collect().toSeq)
        .sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[String]("lft"), r.getAs[String]("rgt")))
      val unseen = docs.select(col("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          x => concat(x, x))).as("text"))
      // token count per word = encoded array size (r15) — the old
      // exploded groupBy(w) shuffle is gone
      val perWord = bpeEncodeArr(bpeVocab(unseen), merges)
        .select(col("w"), size(col("tk")).cast("long").as("toks"))
      unseen
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .join(perWord, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("toks")).as("n_tokens"))
    },
    Some {
      s"""
      $bpeSqlUnseen,
      pw AS (SELECT w, COUNT(*) AS toks FROM ut$BPE_K GROUP BY 1),
      uwords AS (
        SELECT doc_id, unnest(string_split(utext, ' ')) AS w FROM ud)
      SELECT doc_id,
        COUNT(*) AS n_words,
        CAST(SUM(toks) AS BIGINT) AS n_tokens
      FROM uwords JOIN pw USING (w)
      GROUP BY 1"""
    })

  /** Shared DuckDB prefix for the unseen-corpus (word-doubled) encode
    * chain: [[bpeSqlWith]]'s trained merges, the derived unseen corpus
    * `ud`, its vocabulary `uw0`/`u0`, and the BPE_K replay rounds —
    * ends after `ut$BPE_K` (the final unseen token frame). Factored so
    * `bpe_encode` and `bpe_decode` replay IDENTICAL SQL. */
  private def bpeSqlUnseen: String = {
    val applies = (1 to BPE_K).map(bpeSqlApplyRound).mkString
    s"""
      $bpeSqlWith,
      ud AS (
        SELECT doc_id,
          array_to_string([x || x for x in string_split(text, ' ')],
            ' ') AS utext
        FROM documents),
      uw0 AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(utext, ' ')) AS word FROM ud)
        WHERE length(word) >= 1 GROUP BY 1),
      u0 AS (
        SELECT word AS w, freq,
          unnest(range(1, length(word) + 2)) AS i,
          unnest(list_append(
            [substring(word, j, 1) for j in range(1, length(word) + 1)],
            '</w>')) AS tok
        FROM uw0)$applies"""
  }

  /** Tokenizer DECODE (detokenize) — the third verb a tokenizer ships
    * (train = [[bpeLoop]], encode = [[bpeEncode]], decode = this):
    * reassemble the encoded unseen corpus from its token frame and
    * prove the roundtrip is lossless in BOTH engines. Per word the
    * tokens concatenate in position order and the terminal `</w>`
    * strips; per document the decoded words reassemble in word order.
    * Output: (doc_id, decoded, roundtrip_ok) with `roundtrip_ok`
    * asserting decoded == the encoder's input text.
    *
    * Scale shape: decode is one groupBy(w) over the VOCAB-sized token
    * frame (per-group arrays bounded by word length — collect_list +
    * array_sort inside a combinable agg, no window) plus one
    * corpus-keyed join and a per-doc reassembly whose groups are
    * document-bounded; the corpus itself is scanned once. The merge
    * table is driver-collected by design (a tokenizer's merges are a
    * file — the [[bpeEncodeQ]] argument). */
  val bpeDecodeQ = Q(
    "bpe_decode",
    (s, dir) => {
      val docs = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("text"))
      val (mergeFrames, _) = bpeLoop(bpeVocab(docs))
      val merges = mergeFrames.flatMap(_.collect().toSeq)
        .sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[String]("lft"), r.getAs[String]("rgt")))
      val unseen = docs.select(col("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          x => concat(x, x))).as("text"))
      // decode per word = join the token ARRAY in place (r15) — the
      // old exploded groupBy(w) + collect_list/array_sort/transform
      // (interpreted HOF) rebuild is gone; trailing `</w>` strips as 4
      // chars of the joined string exactly as before
      val decodedWord = bpeEncodeArr(bpeVocab(unseen), merges)
        .select(col("w"), array_join(col("tk"), "").as("joined"))
        .select(col("w"),
          expr("substring(joined, 1, length(joined) - 4)").as("decw"))
      unseen
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .join(decodedWord, "w")
        .groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("decw")))),
          x => x.getField("decw")), " ").as("decoded"))
        .join(unseen, "doc_id")
        .select(col("doc_id"), col("decoded"),
          (col("decoded") === col("text")).as("roundtrip_ok"))
    },
    Some {
      s"""
      $bpeSqlUnseen,
      djoin AS (
        SELECT w, string_agg(tok, '' ORDER BY i) AS joined
        FROM ut$BPE_K GROUP BY w),
      dword AS (
        SELECT w, substr(joined, 1, length(joined) - 4) AS decw
        FROM djoin),
      uwp AS (
        SELECT doc_id,
          unnest(range(1, len(string_split(utext, ' ')) + 1)) AS pos,
          unnest(string_split(utext, ' ')) AS w
        FROM ud),
      dec AS (
        SELECT doc_id, string_agg(decw, ' ' ORDER BY pos) AS decoded
        FROM uwp JOIN dword USING (w)
        GROUP BY doc_id)
      SELECT dec.doc_id, decoded, decoded = utext AS roundtrip_ok
      FROM dec JOIN ud ON dec.doc_id = ud.doc_id"""
    })

  /** Curriculum ordering (Bengio et al., ICML 2009, applied corpus-
    * side): emit the deterministic easy→hard training order — docs
    * bucket into difficulty QUARTILES (difficulty = integer rarity
    * per token, the rarity_score signal: common-vocabulary text
    * is "easy"), and within each quartile sources interleave
    * round-robin so no curriculum phase is single-source. Training
    * order = (bucket, intra, source) lexicographic; the output
    * carries the three columns that define it.
    *
    * Scale shape: quartile cuts come from the bounded per-score
    * HISTOGRAM (the ccnet_buckets discipline — the only global window
    * runs over ≤ bp-grid rows, broadcast back), and the within-
    * (bucket, source) interleave rank is a distributed PrefixSum
    * running count (the pack_chunks discipline) — at 4 buckets a
    * bucket×source group holds ~an eighth of the corpus, exactly the
    * data-sized window partition this repo excises; parallelism stays
    * at partition count. One token-count shuffle + two narrow scan
    * shuffles; the rarity join broadcasts nothing heavier than the
    * vocabulary counts already shuffled. */
  /** The curriculum assignment on any (doc_id, text, source) frame —
    * see [[curriculumOrder]]. Returns (doc_id, source, diff_bp,
    * bucket, intra). */
  private[graft] def curriculumAssign(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // (a per-(doc, word) pre-aggregation before the join was tried in
    // r15 and REVERTED: the added groupBy cost more than the join rows
    // it saved in a paired order-controlled A/B — token explodes with
    // map-side partial aggregation are cheap, doc×vocab hash state is
    // not)
    val tf = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val cnt = tf.groupBy("w").agg(count(lit(1)).as("cnt"))
    // r16: n_total = Σ cnt — one corpus explode pass, not two (the
    // vocab Exchange is shared with the rarity join; see rarity_score)
    val tot = cnt.agg(sum(col("cnt")).as("n_total"))
    // Overflow discipline for the 100 TB regime (both clamps applied
    // identically in the oracle): a per-term cap at 10⁹ (a token
    // rarer than one-in-a-billion counts as one-in-a-billion — the
    // cap CAN bind below the grid cap, deliberately: past that rarity
    // the exact ratio is noise, not difficulty signal) keeps the
    // per-doc SUM in range for any document under ~9·10⁹ tokens, and
    // the sum is capped at 100·n_tokens+1 BEFORE the ×10⁴ — that
    // second clamp is invariance-preserving: it binds only where the
    // score already saturates the 10⁶ bp grid cap.
    val diff = tf.join(cnt, "w").crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(expr("""(least(sum(least(n_total DIV cnt, 1000000000)),
            100 * count(1) + 1) * 10000) DIV count(1)""")
        .as("diff_bp"))
      // the histogram the quartile cuts run over must be BOUNDED
      // (the ccnet bp-grid discipline): clamp the heavy tail — a doc
      // 100x rarer-than-average per token is "hardest" regardless —
      // so the one global running sum sees <= 1e6 rows at any
      // corpus size, never a doc-sized partition
      .withColumn("diff_q", least(col("diff_bp"), lit(1000000L)))
      // pin the token-explode pipeline to ONE computation: diff feeds
      // the histogram, the two PrefixSum scans' range-SAMPLING passes,
      // their checkpoint materializations, AND the bucket join — five
      // consumers that would each replay the corpus-wide explode
      // (measured: +2.2 s at sf0.1 when the cumsum moved to PrefixSum
      // without this pin). Lazy, so Bench's timed action pays the one
      // materialization; the pinned rows are (doc_id, diff_bp, diff_q)
      // — doc-count-sized, not token-sized.
      .localCheckpoint(false)
    val hist = diff.groupBy("diff_q").agg(count(lit(1)).as("hcnt"))
    val ntot = hist.agg(sum("hcnt").as("ntot"))
    // The histogram cumsum is grid-clamped (≤ 10⁶ rows), but it used
    // to run as a no-partition window — a single-task sort whose
    // WindowExec warning also masked real regressions elsewhere (r12
    // verdict What's-wrong #5). The two-phase PrefixSum computes the
    // identical running sum at partition-count parallelism (constant
    // group = one group; diff_q is unique in hist, so the scan is
    // deterministic).
    val bk = graft.ops.PrefixSum.groupedRunningSum(
        hist.crossJoin(broadcast(ntot)),
        lit(1), col("diff_q"), col("hcnt"), "cum")
      .select(col("diff_q"),
        expr("((cum - hcnt) * 4) DIV ntot").as("bucket"))
    val bucketed = diff.join(broadcast(bk), "diff_q")
      .join(d.select(col("doc_id"), col("source")), "doc_id")
    graft.ops.PrefixSum.groupedRunningSum(bucketed,
        struct(col("bucket"), col("source")), col("doc_id"),
        lit(1L), "intra")
      .select(col("doc_id"), col("source"), col("diff_bp"),
        col("bucket").cast("int").as("bucket"), col("intra"))
  }

  val curriculumOrder = Q(
    "curriculum_order",
    (s, dir) => curriculumAssign(
      spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("text"), col("source"))),
    Some("""
      WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      c AS (SELECT w, COUNT(*) AS cnt FROM tf GROUP BY 1),
      t AS (SELECT COUNT(*) AS n_total FROM tf),
      diff AS (
        SELECT doc_id,
          (LEAST(CAST(SUM(LEAST(n_total // cnt, 1000000000)) AS BIGINT),
             100 * COUNT(*) + 1) * 10000) // COUNT(*) AS diff_bp,
          LEAST((LEAST(CAST(SUM(LEAST(n_total // cnt, 1000000000))
               AS BIGINT), 100 * COUNT(*) + 1) * 10000) // COUNT(*),
            1000000) AS diff_q
        FROM tf JOIN c USING (w) CROSS JOIN t
        GROUP BY 1),
      hist AS (SELECT diff_q, COUNT(*) AS hcnt FROM diff GROUP BY 1),
      nt AS (SELECT CAST(SUM(hcnt) AS BIGINT) AS ntot FROM hist),
      bk AS (
        SELECT diff_q,
          (((SUM(hcnt) OVER (ORDER BY diff_q)) - hcnt) * 4) // ntot
            AS bucket
        FROM hist CROSS JOIN nt)
      SELECT d.doc_id, doc.source, d.diff_bp,
        CAST(bucket AS INTEGER) AS bucket,
        CAST(row_number() OVER (
          PARTITION BY bucket, doc.source ORDER BY d.doc_id) AS BIGINT)
          AS intra
      FROM diff d
      JOIN bk USING (diff_q)
      JOIN documents doc ON d.doc_id = doc.doc_id"""))

  /** Data-constrained epoch allocation (Muennighoff et al., "Scaling
    * Data-Constrained Language Models", NeurIPS 2023: repeating data
    * up to ~4 epochs is close to fresh-data value, beyond that the
    * return decays fast): given a token BUDGET of 3× the corpus, give
    * each source a √-temperature target share (the mixture_temperature
    * weights) and fill it by REPEATING that source's tokens — capped
    * at 4 epochs. Per source: its tokens, its budget target, the
    * granted epoch count (basis points — 10000 = one epoch), the
    * allocated token mass, and whether the cap bound it. The sum of
    * alloc short of the budget is the mass the cap freed for
    * fresh-data acquisition — the number the paper's planner needs.
    *
    * Integer-exact: √-weights are floor(sqrt) of exact int doubles
    * (IEEE-identical both engines — the temperature discipline);
    * target = (T div sw)·w + ((T mod sw)·w) div sw, the split
    * multiply that stays in 64 bits at 100 TB corpus sizes where the
    * naive T·w product overflows.
    *
    * Shape: one count shuffle to a per-source census, one-row
    * broadcast totals — trivially 100 TB-safe; the expensive part of
    * acting on it is sample_cap/temperature, already probed. */
  /** The epoch-allocation report on any (source, text) frame — see
    * [[epochMix]]. */
  private[graft] def epochMixOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byS = docs
      .select(col("source"), size(split(col("text"), " "))
        .cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
      .withColumn("w",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = byS.agg((sum(col("n_tokens")) * 3).as("budget"),
      sum(col("w")).as("sw"))
    byS.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("(budget div sw) * w + ((budget % sw) * w) div sw"))
      .withColumn("epochs_bp",
        least(lit(40000L),
          expr("(target_tokens * 10000) div n_tokens")))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        col("epochs_bp"),
        expr("(n_tokens * epochs_bp) div 10000").as("alloc_tokens"),
        (col("epochs_bp") === 40000L).as("capped"))
  }

  val epochMix = Q(
    "epoch_mix",
    (s, dir) => epochMixOf(t(s, dir, "documents")),
    Some("""
      WITH bs AS (
        SELECT source,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      bw AS (
        SELECT source, n_tokens,
          CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS w
        FROM bs),
      t AS (
        SELECT CAST(SUM(n_tokens) * 3 AS BIGINT) AS budget,
          CAST(SUM(w) AS BIGINT) AS sw
        FROM bw),
      tgt AS (
        SELECT source, n_tokens,
          (budget // sw) * w + ((budget % sw) * w) // sw AS target_tokens
        FROM bw CROSS JOIN t)
      SELECT source, n_tokens, target_tokens,
        LEAST(40000, (target_tokens * 10000) // n_tokens) AS epochs_bp,
        (n_tokens * LEAST(40000, (target_tokens * 10000) // n_tokens))
          // 10000 AS alloc_tokens,
        LEAST(40000, (target_tokens * 10000) // n_tokens) = 40000
          AS capped
      FROM tgt"""))

  // --- Trained quality classifier (Rocchio nearest-centroid) ---

  /** Hashed-feature width of the classifier (feature ids 0..CentF-1,
    * id CentF = bias). 64 buckets keep the model broadcast-trivial and
    * the DuckDB twin's model table enumerable via `range(0, 65)`. */
  private[graft] val CentF = 64

  /** Fixed-point scale of the centroid means (2^20): `mu = (CentS *
    * sum) div n` floors identically in both engines, so the model and
    * every score are bit-exact integers. Means are scale-INVARIANT
    * (they do not grow with corpus size), so score magnitudes stay
    * ~2^48 at any SF — no Long overflow at 100 TB. */
  private[graft] val CentS = 1L << 20

  /** Label gate: y = +1 iff the document has >= CentGate whitespace
    * words — the Gopher-style minimum-length quality rule (the same
    * family [[qualityGopher]] implements as a fixed filter; here the
    * gate is LEARNED from hashed bag-of-words features). This is the
    * one target the synthetic corpus genuinely encodes: its `lang` and
    * `source` columns are assigned independently of `text` (verified —
    * every lang/source draws the same 31-token vocabulary at the same
    * rates), so no classifier can beat majority on them, while total
    * token count is linear in the feature vector and the trained
    * centroid model reaches 96-97% accuracy at every SF vs a 53-56%
    * majority baseline. */
  private[graft] val CentGate = 51

  /** Featurize + label the documents table in ONE corpus pass: hashed
    * bag-of-words counts (f = md5(token) mod [[CentF]]) plus one bias
    * row (f = CentF, x = 1) per document. The label is text-derived
    * ([[CentGate]]), so it rides the explode projection — no
    * corpus-sized label join exists anywhere in the trainer. */
  private[graft] def centroidFeatures(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // r16: the whole featurization is ONE row-local codegen scalar
    // (ShingleOps.centroidFeat) — no per-token explode, no
    // (doc, y, f) hash-aggregate Exchange, no bias-row union; the
    // scalar emits the aggregated (f, x) pairs plus the bias pair
    // directly (CentroidFeatSpec pins row-identity to the legacy
    // explode + groupBy + union form, null text included). The two
    // field extractions below share one scalar call via codegen
    // subexpression elimination (the minhashProfile pattern).
    docs.select(col("doc_id"),
        graft.functions.Similarity.centroidFeat(
          col("text"), CentF, CentGate).as("p"))
      .select(col("doc_id"), col("p.y").as("y"),
        explode(col("p.pairs")).as("fx"))
      .select(col("doc_id"), col("y"),
        col("fx.f").as("f"), col("fx.x").as("x"))
  }

  /** TRAIN the classifier — Rocchio / nearest-centroid (Rocchio 1971;
    * the standard one-pass scalable text-classifier trainer): the
    * model is the pair of per-class mean feature vectors, fixed-point
    * floored to [[CentS]] units. Closed form — per-class sums and
    * counts are ONE feature-keyed aggregate over the featurized frame
    * plus one >=1-row class census, then a 65-row broadcast finish. No
    * epochs exist to oscillate: a batch perceptron was evaluated and
    * REJECTED for this surface — full-batch unit-step updates provably
    * oscillate around separable targets (measured: accuracy stuck at
    * the majority fraction through 16 epochs on every label tried),
    * and per-sample online updates are order-dependent, which a
    * deterministic cross-engine oracle cannot tolerate. The centroid
    * trainer is order-free, bit-exact, and actually learns.
    *
    * Scale shape: the corpus is touched ONCE ([[centroidFeatures]]'s
    * explode + map-side-combinable count); everything downstream
    * aggregates the docs x (CentF+1)-bounded feature frame. The model
    * is 65 rows — broadcast DATA by construction. */
  private[graft] def centroidModel(feat: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = feat.sparkSession
    val cls = feat.where(col("f") === CentF.toLong)
      .groupBy()
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("npos"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nneg"))
    val fs = feat.groupBy("f")
      .agg(sum(when(col("y") === 1L, col("x")).otherwise(0L)).as("spos"),
        sum(when(col("y") === -1L, col("x")).otherwise(0L)).as("sneg"))
    spark.range(0, CentF + 1L).toDF("f")
      .join(fs, Seq("f"), "left")
      .crossJoin(broadcast(cls))
      .select(col("f"),
        expr(s"($CentS * coalesce(spos, cast(0 as bigint))) div npos")
          .as("mu_pos"),
        expr(s"($CentS * coalesce(sneg, cast(0 as bigint))) div nneg")
          .as("mu_neg"))
  }

  /** Shared DuckDB prefix for the centroid chain: featurize + label
    * (the same one-pass shape), class census, per-feature class sums,
    * and the fixed-point model — ends after `model`. */
  private def centSqlWith: String =
    s"""
      WITH toks AS (
        SELECT doc_id,
          CASE WHEN len(string_split(text, ' ')) >= $CentGate
            THEN 1 ELSE -1 END AS y,
          unnest(string_split(text, ' ')) AS tok
        FROM documents),
      feat AS (
        SELECT doc_id, y, ${Queries.sqlMd5Long("tok")} % $CentF AS f,
          COUNT(*) AS x
        FROM toks WHERE length(tok) >= 1 GROUP BY 1, 2, 3
        UNION ALL
        SELECT doc_id,
          CASE WHEN len(string_split(text, ' ')) >= $CentGate
            THEN 1 ELSE -1 END AS y,
          CAST($CentF AS BIGINT) AS f, CAST(1 AS BIGINT) AS x
        FROM documents),
      cls AS (
        SELECT SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS npos,
          SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS nneg
        FROM feat WHERE f = $CentF),
      fs AS (
        SELECT f, SUM(CASE WHEN y = 1 THEN x ELSE 0 END) AS spos,
          SUM(CASE WHEN y = -1 THEN x ELSE 0 END) AS sneg
        FROM feat GROUP BY f),
      model AS (
        SELECT r.range AS f,
          CAST(($CentS * COALESCE(spos, 0)) // npos AS BIGINT) AS mu_pos,
          CAST(($CentS * COALESCE(sneg, 0)) // nneg AS BIGINT) AS mu_neg
        FROM range(0, ${CentF + 1}) r
        LEFT JOIN fs ON r.range = fs.f CROSS JOIN cls)"""

  val centroidTrainQ = Q(
    "centroid_train",
    (s, dir) => {
      centroidModel(centroidFeatures(
        spread(t(s, dir, "documents"), col("doc_id"))))
    },
    Some {
      s"""
      $centSqlWith
      SELECT f, mu_pos, mu_neg FROM model"""
    })

  /** APPLY the trained classifier — score every document against the
    * centroid decision boundary and emit (score, predicted label,
    * true label). The exact integer decision, multiplied through by
    * 2*[[CentS]]: score = 2*CentS*(x . (mu_pos - mu_neg)) -
    * (||mu_pos||^2 - ||mu_neg||^2) > 0 <=> x is nearer the positive
    * centroid. At 100 TB the scoring pass is the featurize plus one
    * 65-row broadcast join and a doc-keyed combine — map-side except
    * the per-doc aggregate. The feature frame is localCheckpoint-ed so
    * train and score share one corpus pass. */
  /** Score a featurized frame against a trained centroid model — the
    * exact integer decision of [[centroidScoreQ]], shared by the
    * query, the `classify` CLI verb, and the planted-corpus spec. */
  private[graft] def centroidScore(feat: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nrm = model.groupBy()
      .agg(sum(col("mu_pos") * col("mu_pos") -
        col("mu_neg") * col("mu_neg")).as("nrm"))
    feat.join(broadcast(model), "f")
      .groupBy("doc_id")
      .agg(max(col("y")).as("y"),
        sum(col("x") * (col("mu_pos") - col("mu_neg"))).as("xd"))
      .crossJoin(broadcast(nrm))
      .select(col("doc_id"),
        (lit(2L * CentS) * col("xd") - col("nrm")).as("score"),
        when(lit(2L * CentS) * col("xd") - col("nrm") > 0, lit(1L))
          .otherwise(lit(-1L)).as("pred"),
        col("y"))
  }

  val centroidScoreQ = Q(
    "centroid_score",
    (s, dir) => {
      val feat = centroidFeatures(
        spread(t(s, dir, "documents"), col("doc_id"))).localCheckpoint()
      centroidScore(feat, centroidModel(feat))
    },
    Some {
      s"""
      $centSqlWith,
      xd AS (
        SELECT doc_id, MAX(y) AS y,
          SUM(x * (mu_pos - mu_neg)) AS xd
        FROM feat JOIN model USING (f) GROUP BY doc_id),
      nrm AS (
        SELECT SUM(mu_pos * mu_pos - mu_neg * mu_neg) AS nrm FROM model)
      SELECT doc_id,
        CAST(${2L * CentS} * xd - nrm AS BIGINT) AS score,
        CAST(CASE WHEN ${2L * CentS} * xd - nrm > 0 THEN 1 ELSE -1 END
          AS BIGINT) AS pred,
        CAST(y AS BIGINT) AS y
      FROM xd CROSS JOIN nrm"""
    })

  /** [[centroidScoreQ]] invoked through the SQL table-function
    * surface: `classify('docs')` in a FROM clause (GraftExtensions in
    * product sessions; registered imperatively here so the query is
    * green with and without extensions — the asof_join_sql pattern).
    * Same oracle as centroid_score. */
  val classifySql = Q(
    "classify_sql",
    (s, dir) => {
      graft.plans.GraftExtensions.ensureTableFunctions(s)
      spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("graft_sql_classify_docs")
      s.sql("SELECT * FROM classify('graft_sql_classify_docs')")
    },
    centroidScoreQ.oracle)

  val all: Seq[Q] = Seq(qualityGopher, piiScrub, decontaminate,
    decontaminateShuffle, decontaminateNorm, decontamHitsSql,
    softDedup,
    sampleStratified, lineDedup, tfidfTopterms, winnowFingerprint,
    rarityScore, pipelineCompose, spanDedup, shardAssign, packEstimate,
    corpusMixture, sampleCap, packChunks, exactSubstrDedup, repetitionStats,
    lmBigramScore, knBigramPpl, incrementalSubstr, mixtureTemperature, sourceDrift,
    ccnetBuckets, leakageSplit, dsirSelect, bpeTrain, bpeFertility,
    bpeEncodeQ, bpeDecodeQ,
    curriculumOrder, epochMix, centroidTrainQ, centroidScoreQ,
    classifySql)
}
