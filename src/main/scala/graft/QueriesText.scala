package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Queries.{t, spread, sqlMd5Long}
import graft.functions.{Bloom, Hashing, Similarity, TextAnalysis}

/** Batch 4 — text analysis + deduplication over the `documents` table
  * (LLM-data-pipeline surface per BASELINE.json north star; reference
  * analogs: X3 signatures, X7 outlink extraction, X9 language ID,
  * T4 dedup).
  */
object QueriesText {

  // MinHash family size/banding shared by minhash_lsh and ngram_jaccard.
  // (Declared before first use: object vals initialize in order.)
  private val MINHASH_H = 12
  private val MINHASH_BAND = 3 // 4 bands of 3
  /** ngram_jaccard shingles at most this many chars per doc — bounds
    * the per-doc hash-set row (≤64k longs ≈ 512 KB) at any page size. */
  private val NGRAM_TEXT_CAP = 65536

  /** Exact dedup: hash-groupBy on md5(text); lowest doc_id in each
    * signature group is the keeper (DeduplicationJob analog with
    * deterministic total order). Keeper election is a map-side-
    * combinable min per signature + an AQE-splittable join back —
    * the Dedup.findDuplicates shape — NOT a sig-partitioned window: a
    * hot signature (every empty page hashes identically) would put
    * its whole group in one task, and AQE cannot split a window
    * partition. The oracle keeps the window phrasing; the results are
    * identical. */
  val dedupExact = Q(
    "dedup_exact",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val sigs = d.select(col("doc_id"), md5(col("text")).as("sig"))
      val keepers = sigs.groupBy("sig").agg(min("doc_id").as("keeper"))
      sigs.join(keepers, "sig")
        .select(col("doc_id"), col("sig"),
          when(col("doc_id") === col("keeper"), lit("keep"))
            .otherwise(lit("duplicate")).as("dedup_status"))
    },
    Some("""
      SELECT doc_id, sig,
        CASE WHEN doc_id = keeper THEN 'keep' ELSE 'duplicate' END AS dedup_status
      FROM (SELECT doc_id, md5(text) AS sig,
              MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
            FROM documents)"""))

  /** Token counting (whitespace tokenizer) — n_tokens, distinct tokens,
    * mean token length. */
  val tokenStats = Q(
    "token_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val nTok = TextAnalysis.tokenCount(col("text"))
      d.select(col("doc_id"),
        nTok.as("n_tokens"),
        TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
        round((length(col("text")) - (nTok - 1)).cast("double") / nTok, 4)
          .as("mean_token_len"))
    },
    Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
              / len(string_split(text, ' ')), 4) AS mean_token_len
      FROM documents"""))

  /** Language-ID heuristic: marker-lexicon hit counts, argmax with fixed
    * tiebreak (language-identifier plugin analog). */
  val langId = Q(
    "lang_id",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val hits = TextAnalysis.langMarkers.map { case (l, ws) =>
        TextAnalysis.markerHits(col("text"), ws).as(s"${l}_hits")
      }
      d.select(Seq(col("doc_id"), col("lang").as("labeled_lang")) ++ hits
          :+ TextAnalysis.predictLang(col("text")).as("predicted"): _*)
    },
    Some {
      val m = TextAnalysis.langMarkers.map { case (l, ws) =>
        l -> s"CAST(len(regexp_extract_all(text, '\\b(${ws.mkString("|")})\\b')) AS BIGINT)"
      }
      val hitCols = m.map { case (l, e) => s"$e AS ${l}_hits" }.mkString(",\n        ")
      s"""
      SELECT doc_id, lang AS labeled_lang,
        $hitCols,
        CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
             WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
             WHEN es_hits >= fr_hits THEN 'es'
             ELSE 'fr' END AS predicted
      FROM (SELECT doc_id, lang, text,
        ${m.map { case (l, e) => s"$e AS ${l}_hits" }.mkString(",\n        ")}
      FROM documents)"""
    })

  /** Quality scoring: stopword/length ratio blend (linear, engine-exact). */
  val qualityScore = Q(
    "quality_score",
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScoreBp(col("text")).as("quality_bp"))
    },
    Some {
      val stop = TextAnalysis.langMarkers.head._2.mkString("|")
      s"""
      SELECT doc_id, lang,
        CAST(FLOOR((
          CAST(len(regexp_extract_all(text, '\\b($stop)\\b')) AS BIGINT)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.5
          + LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.3
          + LEAST((CAST(length(text) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 10.0, 1.0) * 0.2
        ) * 10000) AS BIGINT) AS quality_bp
      FROM documents"""
    })

  /** X7 outlink extraction: href extraction over synthesized anchor
    * markup — extract targets, explode, aggregate the inlink counts per
    * target host (the outlink→inlink inversion's map side). The full
    * DOM-faithful path lives in ops/Html.getOutlinks; this query keeps
    * the oracle SQL-expressible with a plan-level regexp. */
  val outlinkExtract = Q(
    "outlink_extract",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<html><body><a href=\"http://t"), col("doc_id") % 50,
        lit(".example.com/p1\">first</a> "),
        lit("<a href=\"http://t"), (col("doc_id") * 7) % 50,
        lit(".example.com/p2\">second</a>"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" <a href=\"http://t"), (col("doc_id") * 13) % 50,
            lit(".example.com/p3\">third</a>"))).otherwise(lit("")),
        lit("</body></html>"))
      d.select(col("doc_id"), html.as("html"))
        .select(col("doc_id"),
          explode(regexp_extract_all(col("html"),
            lit("href=\"([^\"]+)\""), lit(1))).as("to_url"))
        .select(graft.functions.Urls.host(col("to_url")).as("to_host"))
        .groupBy(col("to_host"))
        .agg(count(lit(1)).as("n_inlinks"))
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
          '<html><body><a href="http://t' || (doc_id % 50)
          || '.example.com/p1">first</a> '
          || '<a href="http://t' || ((doc_id * 7) % 50)
          || '.example.com/p2">second</a>'
          || CASE WHEN doc_id % 3 = 0
               THEN ' <a href="http://t' || ((doc_id * 13) % 50)
                 || '.example.com/p3">third</a>'
               ELSE '' END
          || '</body></html>' AS html
        FROM documents),
      links AS (
        SELECT doc_id, unnest(regexp_extract_all(html, 'href="([^"]+)"', 1))
          AS to_url
        FROM h)
      SELECT regexp_extract(to_url, '^[a-z]+://([^/?#]+)', 1) AS to_host,
             COUNT(*) AS n_inlinks
      FROM links GROUP BY 1"""))

  /** Exact n-gram Jaccard near-dup, MinHash-candidated: char 5-gram
    * sets → 12 affine minhashes (one md5/shingle) → 4 bands of 3 →
    * candidate pairs = band collisions → exact |∩|/|∪| on candidates
    * only (via array_intersect of the per-doc shingle sets). The banded
    * candidate set is linear in collisions — the unpruned inverted-index
    * self-join it replaces was quadratic in posting length and
    * skew-bound at scale. 5-grams, not trigrams: the trigram universe is
    * so small that the corpus-global minimum hash is shared by huge doc
    * groups, collapsing LSH buckets (measured 3.4M candidate pairs from
    * 5k docs at sf0.1 vs 105k with 5-grams). Short texts (<5 chars)
    * contribute their whole text as the single shingle on both engines. */
  val trigramJaccard = Q(
    "ngram_jaccard",
    (s, dir) => {
      val d0 = spread(t(s, dir, "documents"), col("doc_id"))
      // deterministic width bound (VERDICT r2 #4): shingle at most the
      // first 64 KiB of text, in BOTH engines — the per-doc hash-set row
      // is then ≤ 64k longs (≈512 KB) instead of growing with page size.
      // (A survivor-only second shingling pass was tried and loses on
      // corpora where near-dups are common — the prune keeps ~all docs —
      // while the cap costs nothing and bounds the row everywhere.)
      val d = d0.select(col("doc_id"),
        substring(col("text"), 1, NGRAM_TEXT_CAP).as("text"))
      // ZERO shuffles build everything per doc (r15): the whole profile
      // — 12 minhash minima, size, and the 60-bit-hash set for exact
      // intersection — is one codegen'd scalar over the shingle array
      // (ProfileOps.minhashProfile; bit-identical to the explode +
      // 14-aggregate groupBy it replaces, which shuffled one row per
      // shingle — up to 64k rows/doc). Still cached: four consumers
      // (bands, sizes, both hash-set sides) would each re-shingle.
      // null-guard on TEXT, not on the profile struct: a Filter over
      // isNotNull(profile(...)) evaluates the whole profile in the
      // FilterExec and AGAIN in the Project (operators don't share
      // subexpressions) — guarding the input instead lets the two
      // selects collapse into ONE Project whose field extractions
      // share a single profile call via codegen subexpression
      // elimination. Same rows: profile is null iff text is null
      // (charShingles never returns empty for non-null text).
      val per = d.where(col("text").isNotNull)
        .select(col("doc_id"),
          Similarity.minhashProfile(
            Similarity.charShingles(col("text"), 5), MINHASH_H).as("p"))
        // hbs sorted ONCE per doc (at cache build) so the pairwise
        // verify below can merge-count instead of hash-set per pair —
        // set-preserving, so |∩| is unchanged (r16, guide §1.2).
        .select(Seq(col("doc_id"),
          Similarity.sortedLongs(col("p.hbs")).as("hbs"),
          col("p.n").as("n")) ++
          (0 until MINHASH_H).map(i =>
            col("p.ms").getItem(i).as(s"m$i")): _*)
        // pin strategy MEASURED (r16): .cache() beats localCheckpoint
        // here (wall 1.11/CPU 7.6 vs 1.24/8.1; OPTIMIZATION_r16.md
        // item 22) — the wide hbs arrays compress well columnar and the
        // 4 consumers re-read them, the opposite trade from buildHits'
        // narrow 2-long edge rows where the checkpoint won 6.4× CPU.
        .cache()
      val nBands = MINHASH_H / MINHASH_BAND
      val bandCols = (0 until nBands).map { b =>
        val ms = (b * MINHASH_BAND until (b + 1) * MINHASH_BAND)
          .map(i => col(s"m$i"))
        struct(lit(b).as("band"), Hashing.md5Long(concat_ws(",", ms: _*)).as("h"))
      }
      val bands = per.select(col("doc_id"),
          explode(array(bandCols: _*)).as("bh"))
        .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      // size-ratio pre-filter BEFORE the expensive array join: since
      // |∩| ≤ min(na,nb), jaccard ≥ 0.5 needs 2·min ≥ max — prune on
      // the tiny size columns first, then ship hash sets only for
      // survivors. Pure plan optimization: final predicate unchanged.
      val sz = per.select(col("doc_id"), col("n"))
      val candSized = cand
        .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        .filter(least(col("na"), col("nb")) * 2 >=
          greatest(col("na"), col("nb")))
      val sa = per.select(col("doc_id").as("a_id"), col("hbs").as("a_hbs"))
      val sb = per.select(col("doc_id").as("b_id"), col("hbs").as("b_hbs"))
      // r16: the verify stage's width must follow PAIR count, not the
      // doc scan's byte size — the hash-set joins broadcast, so the
      // array_intersect work (the query's cost center: ~20 CPU-s at
      // sf0.1, ~30 ms/pair) inherits the stream side's width, which is
      // the now-byte-derived spread width (10). Re-spreading the tiny
      // pair rows (two ids + two ints each) to full core width costs a
      // KB-scale exchange and restores the verify parallelism; at real
      // scale pair count >> cores, so full width is the right target
      // there too (stage cpu 20.7 over 10 tasks = 2.1 s/task
      // serialized; 0.73 s/task at 32; OPTIMIZATION_r16.md item 16).
      candSized.repartition(s.sparkContext.defaultParallelism)
        .join(sa, "a_id").join(sb, "b_id")
        // merge-count over the pre-sorted per-doc hash arrays — the
        // exact twin of size(array_intersect(a,b)) (each common distinct
        // value counts once) without the per-pair hash-set build and
        // materialized intersection array (r16; InterCountSpec pins
        // equality incl. duplicate/mod-P-collision inputs).
        .withColumn("inter",
          Similarity.interCountSorted(col("a_hbs"), col("b_hbs")))
        .withColumn("jaccard",
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")), 4))
        .filter(col("jaccard") >= 0.5)
        .select(col("a_id"), col("b_id"), col("inter"), col("jaccard"))
    },
    Some {
      val mins = (0 until MINHASH_H).map(i =>
        s"${Similarity.sqlMinhashAgg("hb", i)} AS m$i").mkString(",\n            ")
      val nBands = MINHASH_H / MINHASH_BAND
      val bandSelects = (0 until nBands).map { b =>
        val ms = (b * MINHASH_BAND until (b + 1) * MINHASH_BAND)
          .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, ${sqlMd5Long(s"($ms)")} AS h FROM sig"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH docs AS (
        SELECT doc_id, substr(text, 1, $NGRAM_TEXT_CAP) AS text
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, substr(text, i, 5) AS sh
        FROM (SELECT doc_id, text,
                unnest(generate_series(1, length(text)-4)) AS i
              FROM docs WHERE length(text) >= 5)
        UNION
        SELECT doc_id, text AS sh FROM docs WHERE length(text) < 5),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      shb AS (SELECT doc_id,
                ${sqlMd5Long("sh")} % ${Similarity.MinhashP} AS hb, sh
              FROM sh),
      sig AS (SELECT doc_id, $mins FROM shb GROUP BY doc_id),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
      inter AS (
        -- distinct common 60-bit hashes: the relational twin of Spark's
        -- array_intersect over the per-doc hash sets
        SELECT c.a_id, c.b_id, COUNT(DISTINCT x.hb) AS inter
        FROM cand c
        JOIN shb x ON x.doc_id = c.a_id
        JOIN shb y ON y.doc_id = c.b_id AND x.hb = y.hb
        GROUP BY c.a_id, c.b_id)
      SELECT a_id, b_id, inter,
        ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
      FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) >= 0.5"""
    })

  /** X3 — the full TextProfileSignature
    * (TextProfileSignature.java:66-160): lowercase letter/digit runs
    * longer than MIN_TOKEN_LEN(2), counted; QUANT =
    * round(maxFreq·0.01) floored to {1,2}; counts rounded down to the
    * nearest QUANT, sub-QUANT tokens dropped; profile = "tok cnt" lines
    * sorted (cnt desc, token lex), md5'd; empty profile falls back to
    * the plain content MD5 (MD5Signature fallback). */
  val docFingerprint = Q(
    "doc_fingerprint",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      val tc = d.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit("([\\p{L}\\p{N}]+)"), lit(1))).as("tok"))
        .filter(length(col("tok")) > 2)
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val wDoc = Window.partitionBy(col("doc_id"))
      val quantRaw = round(col("maxf") * 0.01, 0)
      val quantized = tc
        .withColumn("maxf", max(col("c")).over(wDoc))
        .withColumn("quant",
          when(quantRaw < 2, when(col("maxf") > 1, lit(2)).otherwise(lit(1)))
            .otherwise(quantRaw).cast("long"))
        .withColumn("qc", floor(col("c") / col("quant")) * col("quant"))
        .filter(col("qc") >= col("quant"))
      val prof = quantized.groupBy("doc_id")
        .agg(md5(concat_ws("\n",
          transform(
            array_sort(collect_list(struct((col("qc") * -1).as("nc"),
              col("tok").as("tok"),
              concat(col("tok"), lit(" "), col("qc")).as("repr")))),
            x => x.getField("repr")))).as("fp"))
      d.select(col("doc_id"), col("text"))
        .join(prof, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("fp"), md5(col("text"))).as("fingerprint"))
    },
    Some("""
      WITH tok AS (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[\pL\pN]+')) AS tok
             FROM documents),
      tc AS (SELECT doc_id, tok, COUNT(*) AS c
             FROM tok WHERE length(tok) > 2 GROUP BY doc_id, tok),
      mx AS (SELECT *, MAX(c) OVER (PARTITION BY doc_id) AS maxf FROM tc),
      qn AS (SELECT *, CAST(CASE WHEN ROUND(maxf * 0.01) < 2
                         THEN (CASE WHEN maxf > 1 THEN 2 ELSE 1 END)
                         ELSE ROUND(maxf * 0.01) END AS BIGINT) AS quant
             FROM mx),
      qt AS (SELECT doc_id, tok,
               CAST(FLOOR(c / quant) * quant AS BIGINT) AS qc, quant
             FROM qn WHERE FLOOR(c / quant) * quant >= quant),
      f AS (SELECT doc_id,
              md5(string_agg(tok || ' ' || qc, chr(10)
                             ORDER BY qc DESC, tok)) AS fp
            FROM qt GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(f.fp, md5(d.text)) AS fingerprint
      FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id"""))

  /** Multimodal column plumbing: treat text bytes as an opaque binary
    * payload; extract typed metadata (size, digest, header hex, sniffed
    * type). The batched decode path (with its clearly-marked stub codec)
    * is operators.Multimodal.extract, covered by MultimodalSpec — this
    * query checks the codegen metadata path cross-engine. */
  val multimodalMeta = Q(
    "multimodal_meta",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val payload = col("text").cast("binary")
      val header = upper(hex(substring(payload, 1, 8)))
      d.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(payload).as("digest"),
        header.as("header_hex"),
        when(header.startsWith("FFD8"), lit("image/jpeg"))
          .when(header.startsWith("89504E47"), lit("image/png"))
          .otherwise(lit("text/plain")).as("sniffed_type"))
    },
    Some("""
      -- header slicing is BYTE-based on both sides: Spark substrings the
      -- binary payload; here we hex the utf-8 bytes and take 16 hex chars
      SELECT doc_id,
        CAST(strlen(text) AS BIGINT) AS n_bytes,
        md5(text) AS digest,
        upper(substr(hex(encode(text)), 1, 16)) AS header_hex,
        CASE WHEN upper(substr(hex(encode(text)), 1, 4)) = 'FFD8' THEN 'image/jpeg'
             WHEN upper(substr(hex(encode(text)), 1, 8)) = '89504E47' THEN 'image/png'
             ELSE 'text/plain' END AS sniffed_type
      FROM documents"""))

  /** MinHash + LSH near-dup: word 3-shingles → 12 affine minhashes (one
    * md5 per shingle, Similarity.minhashBase) → 4 bands of 3 →
    * candidates = band-hash collisions → estimated Jaccard = matching
    * minhashes / 12. Fully deterministic so even the LSH path is
    * oracle-checkable. Banding keeps the candidate join linear in
    * collisions — the 100 TB scale path. */
  val minhashLsh = Q(
    "minhash_lsh",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      // one profile scalar, no per-shingle shuffle (see ngram_jaccard)
      val sig = d.where(col("text").isNotNull)
        .select(col("doc_id"),
          Similarity.minhashProfile(
            Similarity.wordShingles(col("text"), 3), MINHASH_H).as("p"))
        .select(col("doc_id") +:
          (0 until MINHASH_H).map(i =>
            col("p.ms").getItem(i).as(s"m$i")): _*)
        // reused by bands + both candidate sides: a LAZY
        // localCheckpoint, not .cache() — its blocks are RDD storage
        // the ContextCleaner frees, so a caller that only sees this
        // Q's result (the corpus verb's -neardup) leaves no
        // CacheManager entry behind (QueriesPipeline.ccnetBucketAssign
        // has the r15/r16 cache-vs-checkpoint measurement)
        .localCheckpoint(false)
      val nBands = MINHASH_H / MINHASH_BAND
      val bandCols = (0 until nBands).map { b =>
        val ms = (b * MINHASH_BAND until (b + 1) * MINHASH_BAND)
          .map(i => col(s"m$i"))
        struct(lit(b).as("band"),
          Hashing.md5Long(concat_ws(",", ms: _*)).as("h"))
      }
      val bands = sig.select(col("doc_id"),
        explode(array(bandCols: _*)).as("bh"))
        .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val sa = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
      val sb = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
      val matches = (0 until MINHASH_H)
        .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
        .reduce(_ + _)
      cand.join(sa, col("a_id") === col("a_doc_id"))
        .join(sb, col("b_id") === col("b_doc_id"))
        .select(col("a_id"), col("b_id"),
          round(matches.cast("double") / MINHASH_H, 4).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
    },
    Some {
      val mins = (0 until MINHASH_H).map(i =>
        s"${Similarity.sqlMinhashAgg("hb", i)} AS m$i").mkString(",\n            ")
      val nBands = MINHASH_H / MINHASH_BAND
      val bandSelects = (0 until nBands).map { b =>
        val ms = (b * MINHASH_BAND until (b + 1) * MINHASH_BAND)
          .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, ${sqlMd5Long(s"($ms)")} AS h FROM sig"
      }.mkString("\n        UNION ALL ")
      val matches = (0 until MINHASH_H)
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
              FROM tok WHERE len(t) >= 3)
        UNION
        SELECT DISTINCT doc_id, array_to_string(t, ' ') AS sh
        FROM tok WHERE len(t) < 3),
      shb AS (SELECT doc_id,
                ${sqlMd5Long("sh")} % ${Similarity.MinhashP} AS hb
              FROM sh),
      sig AS (SELECT doc_id, $mins FROM shb GROUP BY doc_id),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)
      SELECT a_id, b_id,
        ROUND(CAST($matches AS DOUBLE) / $MINHASH_H, 4) AS est_jaccard
      FROM cand JOIN sig sa ON a_id = sa.doc_id JOIN sig sb ON b_id = sb.doc_id
      WHERE ROUND(CAST($matches AS DOUBLE) / $MINHASH_H, 4) >= 0.5"""
    })

  /** Incremental corpus dedup — the production shape for a GROWING
    * 100 TB corpus: a new crawl increment is deduplicated against the
    * FROZEN store of what's already ingested (exact md5 keys + MinHash
    * band keys), so per-increment cost is linear in the increment and
    * the corpus is never re-fingerprinted. Here the store is derived
    * in-plan (prior = even doc_ids; in production it's a materialized
    * parquet the increment hash-joins against) and the increment is
    * the full table — re-crawled unchanged pages (`drop_exact`),
    * near-rewrites of prior pages (`drop_near`, banded candidates +
    * signature verify, same 4×3 family as minhash_lsh), and genuinely
    * new pages (`keep`). Two hash-keyed joins against pre-aggregated
    * store sides; no all-pairs anything, and the increment-internal
    * dedup stays with the batch minhash_lsh pass. */
  val incrementalDedup = Q(
    "incremental_dedup",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      val isPrior = col("doc_id") % 2 === 0
      // one signature pass over the union (in production: increment
      // only — the prior side is read back from the store); the
      // profile scalar replaces the per-shingle shuffle (ngram_jaccard)
      val sig = d.where(col("text").isNotNull)
        .select(col("doc_id"),
          Similarity.minhashProfile(
            Similarity.wordShingles(col("text"), 3), MINHASH_H).as("p"))
        .select(col("doc_id") +:
          (0 until MINHASH_H).map(i =>
            col("p.ms").getItem(i).as(s"m$i")): _*)
        .cache() // bands + both verify sides
      val nBands = MINHASH_H / MINHASH_BAND
      val bandCols = (0 until nBands).map { b =>
        val ms = (b * MINHASH_BAND until (b + 1) * MINHASH_BAND)
          .map(i => col(s"m$i"))
        struct(lit(b).as("band"),
          Hashing.md5Long(concat_ws(",", ms: _*)).as("h"))
      }
      val bands = sig.select(col("doc_id"),
        explode(array(bandCols: _*)).as("bh"))
        .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
      val cand = bands.as("a").join(bands.filter(isPrior).as("b"),
          col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val sa = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
      val sb = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
      val matches = (0 until MINHASH_H)
        .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
        .reduce(_ + _)
      val near = cand.join(sa, col("a_id") === col("a_doc_id"))
        .join(sb, col("b_id") === col("b_doc_id"))
        .filter(round(matches.cast("double") / MINHASH_H, 4) >= 0.5)
        .select(col("a_id").as("doc_id")).distinct()
        .withColumn("near_hit", lit(1))
      val priorKeys = d.filter(isPrior)
        .select(md5(col("text")).as("sig")).distinct()
        .withColumn("exact_hit", lit(1))
      d.select(col("doc_id"), md5(col("text")).as("sig"))
        .join(priorKeys, Seq("sig"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("exact_hit"), lit(0)).cast("long").as("exact_dup"),
          coalesce(col("near_hit"), lit(0)).cast("long").as("near_dup"),
          when(col("exact_hit") === 1, lit("drop_exact"))
            .when(col("near_hit") === 1, lit("drop_near"))
            .otherwise(lit("keep")).as("verdict"))
    },
    Some {
      val mins = (0 until MINHASH_H).map(i =>
        s"${Similarity.sqlMinhashAgg("hb", i)} AS m$i").mkString(",\n            ")
      val nBands = MINHASH_H / MINHASH_BAND
      val bandSelects = (0 until nBands).map { b =>
        val ms = (b * MINHASH_BAND until (b + 1) * MINHASH_BAND)
          .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, ${sqlMd5Long(s"($ms)")} AS h FROM sig"
      }.mkString("\n        UNION ALL ")
      val matches = (0 until MINHASH_H)
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
              FROM tok WHERE len(t) >= 3)
        UNION
        SELECT DISTINCT doc_id, array_to_string(t, ' ') AS sh
        FROM tok WHERE len(t) < 3),
      shb AS (SELECT doc_id,
                ${sqlMd5Long("sh")} % ${Similarity.MinhashP} AS hb
              FROM sh),
      sig AS (SELECT doc_id, $mins FROM shb GROUP BY doc_id),
      bands AS (
        $bandSelects),
      near AS (
        SELECT DISTINCT a_id AS doc_id FROM (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.h = b.h
            AND b.doc_id % 2 = 0 AND a.doc_id <> b.doc_id) cand
        JOIN sig sa ON a_id = sa.doc_id
        JOIN sig sb ON b_id = sb.doc_id
        WHERE ROUND(CAST($matches AS DOUBLE) / $MINHASH_H, 4) >= 0.5),
      prior AS (
        SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id % 2 = 0)
      SELECT d.doc_id,
        CAST(CASE WHEN p.sig IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS exact_dup,
        CAST(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS near_dup,
        CASE WHEN p.sig IS NOT NULL THEN 'drop_exact'
             WHEN nr.doc_id IS NOT NULL THEN 'drop_near'
             ELSE 'keep' END AS verdict
      FROM (SELECT doc_id, md5(text) AS sig FROM documents) d
      LEFT JOIN prior p ON d.sig = p.sig
      LEFT JOIN near nr ON d.doc_id = nr.doc_id"""
    })

  /** Bloom-prefiltered incremental exact dedup — `incremental_dedup`'s
    * exact path with the production membership shape made explicit: a
    * first-party Bloom filter (functions/Bloom.scala — ~10 bits/key,
    * broadcastable at 10^9 stored docs) is aggregated over the frozen
    * side's signatures and probed MAP-SIDE on the increment, so rows
    * the filter rules out (the overwhelming majority of fresh crawl
    * text — here everything but the planted dups and the fpp mass)
    * never shuffle into the store join at all. False negatives are
    * impossible (identical key-hash/bit derivation on build and
    * probe), so the final verdict is exact and the oracle states plain
    * membership SQL with no Bloom anywhere — the filter changes the
    * plan, never the answer. BloomSpec pins the filter's own
    * contracts (zero FN, fpp bound, distributed build ≡ serial build
    * byte-exact); DedupStoreSpec A/Bs the store-backed twin
    * ([[graft.ops.DedupStore.dedupIncrement]] with its `sigbloom`
    * sidecar) verdict-identical with and without the filter. */
  val bloomDedup = Q(
    "bloom_dedup",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      val store = d.filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("store_sig")).distinct()
      val bf = store.agg(
        Bloom.agg(Hashing.fast64(col("store_sig")), 1L << 20, 7).as("bloom"))
      val inc = d.select(col("doc_id"), md5(col("text")).as("sig"))
      // scalar subquery, not crossJoin(broadcast): the join form lets
      // PushDownLeftSemiAntiJoin reorder the store semi-join below the
      // prefilter (see DedupStore.exactProbe)
      val maybe = inc.filter(Bloom.mightContain(
          org.apache.spark.sql.graftbridge.ColumnBridge.scalarSubquery(bf),
          Hashing.fast64(col("sig"))))
        .select("doc_id", "sig")
      val hits = maybe
        .join(store, col("sig") === col("store_sig"), "left_semi")
        .select(col("doc_id")).withColumn("exact_hit", lit(1))
      inc.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("exact_hit"), lit(0)).cast("long").as("exact_dup"),
          when(col("exact_hit") === 1, lit("drop_exact"))
            .otherwise(lit("keep")).as("verdict"))
    },
    Some("""
      WITH store AS (
        SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id % 2 = 0)
      SELECT d.doc_id,
        CAST(CASE WHEN s.sig IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS exact_dup,
        CASE WHEN s.sig IS NOT NULL THEN 'drop_exact' ELSE 'keep' END
          AS verdict
      FROM (SELECT doc_id, md5(text) AS sig FROM documents) d
      LEFT JOIN store s ON d.sig = s.sig"""))

  private val SIMHASH_BITS = 60
  private val SIMHASH_BANDS = 4 // 4 × 15 bits
  private val SIMHASH_MAXHAM = 3

  /** SimHash near-dup, banded (Manku et al., WWW'07): 60-bit
    * occurrence-weighted majority-vote hash per doc; candidate pairs
    * share at least one of 4 15-bit bands; exact hamming ≤ 3 on
    * candidates. With 4 bands, any pair at hamming ≤ 3 leaves one band
    * untouched (pigeonhole), so banding is LOSSLESS at this threshold —
    * the oracle can therefore state the plain all-pairs definition while
    * the Spark plan stays linear in band collisions (the previous
    * per-lang all-pairs join was O(n²/4)). */
  val simhash = Q(
    "simhash",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      // r16: the whole signature is ONE row-local codegen scalar
      // (ShingleOps.simhash60) — no per-token shuffled row, no 60-vote
      // aggregate (the previous shape's per-token Exchange is the term
      // that grows with corpus size; SimhashScalarSpec pins
      // row-identity incl. the no-qualifying-token doc drop, which the
      // isNotNull filter reproduces). Filter sits ABOVE the cache so
      // the scalar runs once per doc, at cache build.
      val sh = d.select(col("doc_id"),
          Similarity.simhash60(col("text"), 2).as("simhash"))
        .cache() // banded below then re-joined for the exact hamming
        .where(col("simhash").isNotNull)
      val bandW = SIMHASH_BITS / SIMHASH_BANDS
      val bandCols = (0 until SIMHASH_BANDS).map { b =>
        struct(lit(b).as("band"),
          expr(s"(shiftright(simhash, ${b * bandW}) & ${(1L << bandW) - 1})")
            .as("bv"))
      }
      val bands = sh.select(col("doc_id"),
          explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("a_id"), col("simhash").as("ha")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("simhash").as("hb")), "b_id")
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= SIMHASH_MAXHAM)
        .select(col("a_id"), col("b_id"), col("hamming"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      th AS (SELECT doc_id, ${sqlMd5Long("token")} AS h60
             FROM tok WHERE length(token) >= 2),
      votes AS (
        SELECT doc_id, i,
          SUM(CASE WHEN ((h60 >> i) & 1) = 1 THEN 1 ELSE -1 END) AS v
        FROM (SELECT *, unnest(generate_series(0, ${SIMHASH_BITS - 1})) AS i
              FROM th)
        GROUP BY doc_id, i),
      sh AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
               AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= $SIMHASH_MAXHAM"""))

  /** X9 (metadata path) — HTML language detection priority chain
    * (HTMLLanguageParser.java:83-199): dc.language meta → content-language
    * meta → html lang attribute → HTTP header; the statistical fallback
    * is the lang_id heuristic above (the reference delegates that part
    * to Tika). */
  val htmlLang = Q(
    "html_lang",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val html = when(col("c_custkey") % 5 === 0,
        lit("""<html><meta name="dc.language" content="fr"><meta http-equiv="content-language" content="de">"""))
        .when(col("c_custkey") % 5 === 1,
          lit("""<html lang="es"><meta http-equiv="content-language" content="de">"""))
        .when(col("c_custkey") % 5 === 2, lit("""<html lang="en"><body>"""))
        .otherwise(lit("<html><body>"))
      def ex(c0: org.apache.spark.sql.Column, p: String) =
        nullif(regexp_extract(c0, p, 1), lit(""))
      c.select(col("c_custkey").as("id"), html.as("html"),
        coalesce(
          ex(html, """dc\.language" content="([a-z-]+)""""),
          ex(html, """content-language" content="([a-z-]+)""""),
          ex(html, """<html lang="([a-z-]+)""""),
          lit("unknown")).as("lang"))
    },
    Some("""
      WITH h AS (
        SELECT c_custkey AS id,
          CASE WHEN c_custkey % 5 = 0 THEN '<html><meta name="dc.language" content="fr"><meta http-equiv="content-language" content="de">'
               WHEN c_custkey % 5 = 1 THEN '<html lang="es"><meta http-equiv="content-language" content="de">'
               WHEN c_custkey % 5 = 2 THEN '<html lang="en"><body>'
               ELSE '<html><body>' END AS html
        FROM customer)
      SELECT id, html,
        COALESCE(
          NULLIF(regexp_extract(html, 'dc\.language" content="([a-z-]+)"', 1), ''),
          NULLIF(regexp_extract(html, 'content-language" content="([a-z-]+)"', 1), ''),
          NULLIF(regexp_extract(html, '<html lang="([a-z-]+)"', 1), ''),
          'unknown') AS lang
      FROM h"""))

  /** Token counting, BPE-ish: the GPT-2-style pretokenizer regex
    * (contractions, letter runs, digit runs, punctuation runs, each with
    * optional leading space) — the LLM-pipeline complement to the
    * whitespace token_stats above. */
  val bpeTokenStats = Q(
    "bpe_token_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val p = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
      val toks = regexp_extract_all(col("text"), lit(p), lit(0))
      d.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
    },
    Some("""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
          AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(regexp_extract_all(text,
          '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')))
          AS BIGINT) AS n_distinct
      FROM documents"""))

  /** X9 (statistical path) — the Cavnar–Trenkle ranked-trigram-profile
    * classifier (functions/LangId, the Tika LanguageIdentifier
    * algorithm) run through the plan as a codegen'd StaticInvoke: each
    * doc gets a known-language sentence (disjoint from the profile
    * sources) plus numeric salt; the oracle states the expected code. */
  val langIdNgram = Q(
    "lang_id_ngram",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val sentences = Seq(
        "the quick brown fox jumps over the lazy dog and then it runs away through the green forest with all of the other animals",
        "der schnelle braune fuchs springt über den faulen hund und läuft dann durch den grünen wald mit allen anderen tieren davon",
        "le renard brun et rapide saute par dessus le chien paresseux et il court ensuite dans la forêt verte avec tous les autres animaux",
        "el rápido zorro marrón salta sobre el perro perezoso y luego corre por el bosque verde con todos los otros animales",
        "la rapida volpe marrone salta sopra il cane pigro e poi corre attraverso il bosco verde con tutti gli altri animali",
        "a rápida raposa marrom pula sobre o cachorro preguiçoso e depois corre pela floresta verde com todos os outros animais",
        "de snelle bruine vos springt over de luie hond en rent daarna weg door het groene bos met alle andere dieren")
      val text = concat(element_at(
        array(sentences.map(lit): _*), (col("doc_id") % 7 + 1).cast("int")),
        lit(" "), col("doc_id"))
      d.select(col("doc_id"),
        graft.functions.LangId.classifyCol(text).as("detected_lang"))
    },
    Some("""
      SELECT doc_id,
        CASE CAST(doc_id % 7 AS INTEGER)
          WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
          WHEN 3 THEN 'es' WHEN 4 THEN 'it' WHEN 5 THEN 'pt'
          ELSE 'nl' END AS detected_lang
      FROM documents"""))

  /** The canonical LLM training-data prep chain as ONE pipeline:
    * exact dedup (md5 digest, lowest doc_id survives) → quality gate
    * (token count + mean token length bands) → per-language corpus
    * stats. Every stage is the oracle-checked building block above,
    * composed the way a 100 TB data-prep job would run them — dedup
    * before scoring so the expensive stages see each payload once. */
  val corpusClean = Q(
    "corpus_clean",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // stage 1: exact dedup on content digest. Keeper = the lowest
      // doc_id's row, elected as ONE min(struct) aggregate per digest
      // (doc_id is unique, so min over a doc_id-led struct is the
      // row_number()==1 row — with no join back needed, and no
      // digest-partitioned window for a hot digest — every empty
      // page — to serialize into one task). Map-side combinable:
      // a hot digest ships one partial row per task.
      val deduped = d
        .groupBy(md5(col("text")).as("digest"))
        .agg(min(struct(col("doc_id"), col("lang"), col("text")))
          .as("keep"))
        .select(col("keep.doc_id").as("doc_id"),
          col("keep.lang").as("lang"), col("keep.text").as("text"))
      // stage 2: quality gate
      val nTok = size(split(col("text"), " ")).cast("long")
      val meanTokLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
      val gated = deduped
        .withColumn("n_tokens", nTok)
        .withColumn("mean_tok_len", meanTokLen)
        .filter(col("n_tokens") >= 20 &&
          col("mean_tok_len") >= 2.5 && col("mean_tok_len") <= 12.0)
      // stage 3: per-language corpus stats
      gated.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"))
    },
    Some("""
      WITH dd AS (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents),
      gated AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(length(text) - (len(string_split(text, ' ')) - 1)
                    AS DOUBLE) / len(string_split(text, ' ')) AS mtl
        FROM dd WHERE rn = 1)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             MIN(doc_id) AS first_doc
      FROM gated
      WHERE n_tokens >= 20 AND mtl >= 2.5 AND mtl <= 12.0
      GROUP BY lang"""))

  private val CC_ITERS = 10

  /** Near-dup CLUSTER resolution: candidate pairs (minhash_lsh's output
    * shape) only say "A ~ B"; choosing one keeper per duplicate GROUP
    * needs the transitive closure — A~B, B~C must collapse to one
    * cluster even when A and C share no band. Connected components via
    * iterative min-label propagation: each round every node takes the
    * min label among itself and its neighbors — one shuffle join + one
    * agg per round, the standard scalable CC shape (alternating
    * large-star/small-star cuts rounds to O(log n) at web scale; the
    * fixed synthetic graph here has diameter ≤ 9, so 10 unrolled rounds
    * are provably converged and the oracle can state the same rounds as
    * CTEs). Graph: 8-node chains mod 2000 plus +1000 cross-links —
    * multi-hop clusters a plain groupBy cannot resolve. Output: one row
    * per cluster with its representative (min node), size, max node. */
  val dedupClusters = Q(
    "dedup_clusters",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val k = col("o_orderkey") % 2000
      val e0 = o.select(k.as("a"),
          when(k % 8 === 0, k).otherwise(k - 1).as("b"))
        .unionByName(o.select(k.as("a"), ((k + 1000) % 2000).as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
      // the symmetrized edge set is tiny (|V| ≤ 2000 here; at real
      // scale it's the near-dup pair list, orders of magnitude below
      // the corpus) and every round joins against it — materialize it
      // ONCE instead of re-deriving from the base table per iteration
      val edges = e0.unionByName(
        e0.select(col("b").as("a"), col("a").as("b"))).distinct()
        .localCheckpoint()
      val nodes = edges.select(col("a").as("node")).distinct()
      var labels = nodes.withColumn("label", col("node"))
      var deadCkpt: Option[org.apache.spark.sql.DataFrame] = None
      for (it <- 1 to CC_ITERS) {
        val viaNbr = edges.join(labels, edges("b") === labels("node"))
          .select(col("a").as("node"), col("label"))
        labels = labels.unionByName(viaNbr)
          .groupBy("node").agg(min(col("label")).as("label"))
        if (it % 5 == 0 && it < CC_ITERS) {
          // bound lineage like linkrank; the superseded checkpoint's
          // blocks are dead once the new one materializes — free them
          val c = labels.localCheckpoint()
          deadCkpt.foreach(org.apache.spark.sql.graftbridge
            .ColumnBridge.freeLocalCheckpoint)
          deadCkpt = Some(c)
          labels = c
        }
      }
      labels.groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_node"))
    },
    Some {
      val base = """
      WITH e0 AS (
        SELECT DISTINCT (o_orderkey % 2000) AS a,
          CASE WHEN (o_orderkey % 2000) % 8 = 0 THEN o_orderkey % 2000
               ELSE (o_orderkey % 2000) - 1 END AS b
        FROM orders
        UNION
        SELECT DISTINCT (o_orderkey % 2000) AS a,
          ((o_orderkey % 2000) + 1000) % 2000 AS b
        FROM orders),
      e1 AS (SELECT a, b FROM e0 WHERE a <> b),
      e AS (SELECT a, b FROM e1 UNION SELECT b AS a, a AS b FROM e1),
      l0 AS (SELECT DISTINCT a AS node, a AS label FROM e)"""
      val iters = (1 to CC_ITERS).map { i =>
        val prev = s"l${i - 1}"
        s""",
      l$i AS (
        SELECT node, MIN(label) AS label FROM (
          SELECT node, label FROM $prev
          UNION ALL
          SELECT e.a AS node, p.label FROM e JOIN $prev p ON e.b = p.node)
        GROUP BY node)"""
      }.mkString
      base + iters + s"""
      SELECT label AS cluster, COUNT(*) AS n_members, MAX(node) AS max_node
      FROM l$CC_ITERS GROUP BY label"""
    })

  private val synthDimsUdf = udf((fmt: Int, w: Int, h: Int) => {
    import graft.operators.Multimodal
    val bytes = fmt match {
      case 0 => Multimodal.Synth.png(w, h)
      case 1 => Multimodal.Synth.gif(w, h)
      case 2 => Multimodal.Synth.jpeg(w, h)
      case 3 => Multimodal.Synth.webp(w, h)
      case _ => Multimodal.Synth.webpLossless(w, h)
    }
    val dims = Multimodal.imageDims(bytes)
    (Multimodal.sniff(bytes), dims.map(_._1), dims.map(_._2),
      bytes.length.toLong)
  })

  /** X6 (real header decode) — image dimensions parsed from container
    * headers only: PNG IHDR (spec §11.2.2), GIF logical screen
    * descriptor (§18), JPEG SOFn marker scan (ITU T.81 §B.2.2), WebP
    * VP8X canvas and VP8L packed minus-one dims (RFC 9649 §2.5/§3).
    * The payloads are plan-synthesized VALID container prefixes (the
    * arc_roundtrip pattern) with dims a closed form of doc_id; the
    * oracle states sniffed type, width, height, and byte length
    * directly, so a hash match proves magic-sniff ∘ header-parse
    * reproduces the planted dims — no codec, no stub. */
  val multimodalDims = Q(
    "multimodal_dims",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthDimsUdf((k % 5).cast("int"),
        (lit(100) + k % 50).cast("int"), (lit(200) + k % 30).cast("int"))
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("sniffed_type"),
          col("r._2").as("width"),
          col("r._3").as("height"),
          col("r._4").as("n_bytes"))
    },
    Some("""
      SELECT doc_id,
        CASE (doc_id % 5)::INT WHEN 0 THEN 'image/png'
             WHEN 1 THEN 'image/gif' WHEN 2 THEN 'image/jpeg'
             ELSE 'image/webp' END AS sniffed_type,
        (100 + doc_id % 50)::INT AS width,
        (200 + doc_id % 30)::INT AS height,
        CAST(CASE (doc_id % 5)::INT WHEN 0 THEN 26 WHEN 1 THEN 11
             WHEN 2 THEN 30 WHEN 3 THEN 30 ELSE 25 END AS BIGINT)
          AS n_bytes
      FROM documents"""))

  private val synthAudioUdf = udf((fmt: Int, a: Int, b: Int, c: Long) => {
    import graft.operators.Multimodal
    val bytes = fmt match {
      case 0 => Multimodal.Synth.wav(a, b, c)
      case 1 => Multimodal.Synth.flac(a, b, c)
      case _ => Multimodal.Synth.mp3(a, b, c == 1L)
    }
    val m = Multimodal.audioMeta(bytes)
    (Multimodal.sniff(bytes), m.map(_._1), m.map(_._2), m.map(_._3),
      bytes.length.toLong)
  })

  /** X6 (real header decode, audio) — sample rate / channel count /
    * per-container detail (WAV data-chunk sample count, FLAC STREAMINFO
    * total samples, MP3 frame bitrate kbps) parsed from the published
    * header layouts; same plan-synthesized-payload pattern as
    * multimodal_dims, so the oracle's closed forms prove the parse. */
  val audioMeta = Q(
    "audio_meta",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val fmt = (k % 3).cast("int")
      // per-format synth params, all closed forms of doc_id
      val a = when(fmt === 0, lit(8000) + (k % 5).cast("int") * 8000)
        .otherwise(when(fmt === 1, lit(44100))
          .otherwise(lit(1) + (k % 14).cast("int"))) // mp3: bitrate idx
      val b = when(fmt === 0, lit(1) + (k % 2).cast("int"))
        .otherwise(when(fmt === 1, lit(1) + (k % 8).cast("int"))
          .otherwise(expr("(doc_id DIV 3) % 3").cast("int"))) // mp3: sr idx
      val c = when(fmt === 0, lit(1000L) + k % 977)
        .otherwise(when(fmt === 1, lit(100000L) + k)
          .otherwise((k % 2).cast("long"))) // mp3: 1 = mono
      val r = synthAudioUdf(fmt, a.cast("int"), b.cast("int"), c)
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("sniffed_type"),
          col("r._2").as("sample_rate"),
          col("r._3").as("channels"),
          col("r._4").as("detail"),
          col("r._5").as("n_bytes"))
    },
    Some("""
      SELECT doc_id,
        CASE (doc_id % 3)::INT WHEN 0 THEN 'audio/wav'
             WHEN 1 THEN 'audio/flac' ELSE 'audio/mpeg' END AS sniffed_type,
        CASE (doc_id % 3)::INT WHEN 0 THEN (8000 + (doc_id % 5) * 8000)::INT
             WHEN 1 THEN 44100
             ELSE ([44100, 48000, 32000])[((doc_id // 3) % 3)::INT + 1]
        END AS sample_rate,
        CASE (doc_id % 3)::INT WHEN 0 THEN (1 + doc_id % 2)::INT
             WHEN 1 THEN (1 + doc_id % 8)::INT
             ELSE CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END
        END AS channels,
        CAST(CASE (doc_id % 3)::INT WHEN 0 THEN 1000 + doc_id % 977
             WHEN 1 THEN 100000 + doc_id
             ELSE ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                    256, 320])[(1 + doc_id % 14)::INT]
        END AS BIGINT) AS detail,
        CAST(CASE (doc_id % 3)::INT WHEN 0 THEN 44 WHEN 1 THEN 26
             ELSE 14 END AS BIGINT) AS n_bytes
      FROM documents"""))

  private val synthMp4Udf = udf((ts: Long, dur: Long) =>
    graft.operators.Multimodal.Synth.mp4(ts, dur))

  /** X6 (real header decode, video) + frame-sample plumbing: MP4 movie
    * duration parsed from the ISO-BMFF mvhd box (timescale 600 — the
    * classic QuickTime tick rate — with planted per-doc durations),
    * then one row per 1-second sample point via a codegen `sequence`
    * explode. The oracle restates duration and timeline in closed form,
    * so a hash match proves box-walk ∘ mvhd-parse ∘ timeline-explode;
    * the per-frame pixel extraction stays a labeled stub
    * (Multimodal.frameSample scaladoc). */
  val videoFrames = Q(
    "video_frames",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          synthMp4Udf(lit(600L), lit(3000L) + col("doc_id") % 4200)
            .as("payload"))
      graft.operators.Multimodal.frameSample(d, "doc_id", "payload", 1000L)
    },
    Some("""
      SELECT doc_id, duration_ms, frame_idx,
        CAST(frame_idx * 1000 AS BIGINT) AS ts_ms
      FROM (
        SELECT doc_id, duration_ms,
          unnest(range(0, duration_ms // 1000 + 1)) AS frame_idx
        FROM (
          SELECT doc_id,
            CAST(((3000 + doc_id % 4200) * 1000) // 600 AS BIGINT)
              AS duration_ms
          FROM documents))"""))

  private val synthPixelsUdf = udf((fmt: Int, w: Int, h: Int, seed: Int) => {
    import graft.operators.{Multimodal, PixelCodec}
    val bytes = fmt match {
      case 0 => PixelCodec.synthPng(w, h, seed)
      case 1 => PixelCodec.synthBmp(w, h, seed)
      case _ => PixelCodec.synthGif(w, h, seed)
    }
    PixelCodec.decodePixels(bytes).map { case (dw, dh, rgb) =>
      val (sr, sg, sb) = PixelCodec.channelSums(rgb)
      (Multimodal.sniff(bytes), dw, dh, sr, sg, sb)
    }
  })

  /** X6 (REAL pixel decode) — full PNG inflate + per-scanline unfilter
    * (spec §9; the synth side cycles all five filter types), 24-bit
    * BMP row decode, and GIF LZW decompression (real dictionary
    * compression on the synth side — 9-bit codes growing with the
    * table) to exact per-channel pixel sums. The planted PNG/BMP image
    * is the gradient (x, y, x+y+seed), the GIF a grayscale ramp
    * x+y+seed over a 256-gray palette, at dims small enough that no
    * channel wraps mod 256, so the oracle states the channel sums in
    * closed form: a hash match proves each decoder reconstructed every
    * pixel byte exactly — through zlib, filter prediction, BMP's
    * bottom-up padded rows, and LZW code-by-code. Only the lossy
    * formats (JPEG DCT, WebP VP8) stay behind the labeled stub. */
  val pixelStats = Q(
    "pixel_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthPixelsUdf((k % 3).cast("int"),
        (lit(8) + k % 24).cast("int"), (lit(8) + k % 16).cast("int"),
        (k % 97).cast("int"))
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("sniffed_type"),
          col("r._2").as("width"),
          col("r._3").as("height"),
          col("r._4").as("sum_r"),
          col("r._5").as("sum_g"),
          col("r._6").as("sum_b"))
        .withColumn("mean_r_milli",
          expr("sum_r * 1000 div (width * height)"))
        .withColumn("mean_b_milli",
          expr("sum_b * 1000 div (width * height)"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          doc_id % 3 AS fmt,
          CAST(8 + doc_id % 24 AS BIGINT) AS w,
          CAST(8 + doc_id % 16 AS BIGINT) AS h,
          CAST(doc_id % 97 AS BIGINT) AS seed
        FROM documents),
      f AS (
        SELECT doc_id, fmt, w, h, seed,
          h * (w * (w - 1) // 2) AS sx,
          w * (h * (h - 1) // 2) AS sy,
          h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
            + w * h * seed AS sg
        FROM p)
      SELECT doc_id,
        CASE fmt WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/bmp'
                 ELSE 'image/gif' END AS sniffed_type,
        CAST(w AS INT) AS width,
        CAST(h AS INT) AS height,
        CAST(CASE WHEN fmt = 2 THEN sg ELSE sx END AS BIGINT) AS sum_r,
        CAST(CASE WHEN fmt = 2 THEN sg ELSE sy END AS BIGINT) AS sum_g,
        CAST(sg AS BIGINT) AS sum_b,
        CAST(CASE WHEN fmt = 2 THEN sg ELSE sx END * 1000 // (w * h)
          AS BIGINT) AS mean_r_milli,
        CAST(sg * 1000 // (w * h) AS BIGINT) AS mean_b_milli
      FROM f"""))

  private val synthJpegUdf = udf((bw: Int, bh: Int, seed: Int, dri: Int) => {
    import graft.operators.{JpegCodec, Multimodal, PixelCodec}
    val bytes = JpegCodec.synthDcOnlyGray(bw, bh, 16,
      b => ((b * 13 + seed) % 120) - 60, dri)
    PixelCodec.decodePixels(bytes).map { case (w, h, rgb) =>
      val (sr, sg, sb) = PixelCodec.channelSums(rgb)
      (Multimodal.sniff(bytes), w, h, sr, sg, sb)
    }
  })

  /** X6 (REAL JPEG decode) — baseline JPEG through the first-party
    * [[graft.operators.JpegCodec]] (marker walk, DHT canonical
    * Huffman, DC-difference prediction, dequantize, IDCT, restart
    * markers on every 4th doc) to exact channel sums. The planted
    * stream is DC-ONLY (each 8×8 block a constant), the one JPEG
    * family whose inverse transform is closed-form — pixel =
    * 128 + dc·q/8, exact at q=16 — so the oracle restates the sums
    * from (blocks, seed) and a hash match proves the entropy decode
    * reconstructed every block. Full-AC streams are
    * decoder-rounding-defined (T.81 fixes the transform, not the
    * arithmetic) and are covered by JpegCodecSpec's ±3 cross-check
    * against the JDK's independent ImageIO decoder instead. */
  val jpegStats = Q(
    "jpeg_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthJpegUdf((lit(2) + k % 3).cast("int"),
        (lit(2) + k % 2).cast("int"), (k % 89).cast("int"),
        (when(k % 4 === 0, lit(2)).otherwise(lit(0))).cast("int"))
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("sniffed_type"),
          col("r._2").as("width"),
          col("r._3").as("height"),
          col("r._4").as("sum_r"),
          col("r._5").as("sum_g"),
          col("r._6").as("sum_b"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          CAST(2 + doc_id % 3 AS BIGINT) AS bw,
          CAST(2 + doc_id % 2 AS BIGINT) AS bh,
          CAST(doc_id % 89 AS BIGINT) AS seed
        FROM documents),
      b AS (
        SELECT doc_id, bw, bh, seed, unnest(range(bw * bh)) AS blk
        FROM p),
      s AS (
        SELECT doc_id, MAX(bw) AS bw, MAX(bh) AS bh,
          SUM(64 * (128 + 2 * (((blk * 13 + seed) % 120) - 60))) AS total
        FROM b GROUP BY doc_id)
      SELECT doc_id,
        'image/jpeg' AS sniffed_type,
        CAST(bw * 8 AS INT) AS width,
        CAST(bh * 8 AS INT) AS height,
        CAST(total AS BIGINT) AS sum_r,
        CAST(total AS BIGINT) AS sum_g,
        CAST(total AS BIGINT) AS sum_b
      FROM s"""))

  private val synthWebpUdf = udf((w: Int, h: Int, seed: Int) => {
    import graft.operators.{Multimodal, PixelCodec, WebpCodec}
    val bytes = WebpCodec.synth(w, h, seed)
    PixelCodec.decodePixels(bytes).map { case (dw, dh, rgb) =>
      val (sr, sg, sb) = PixelCodec.channelSums(rgb)
      (Multimodal.sniff(bytes), dw, dh, sr, sg, sb)
    }
  })

  /** X6 (REAL WebP decode) — lossless WebP (VP8L) through the
    * first-party [[graft.operators.WebpCodec]] (RIFF chunk walk, VP8L
    * bit reader, canonical normal-form Huffman codes) to exact channel
    * sums. The planted stream carries the same gradient as
    * pixel_stats' PNG/BMP rows — (x, y, x+y+seed), dims bounded so no
    * channel wraps — REALLY entropy-coded on the synth side (flat
    * 8-bit codes; libwebp itself decodes the synth stream, see
    * tools/check_webp_synth.py), so the closed-form oracle's hash
    * match proves the decoder reconstructed every pixel. The full
    * transform/LZ77/color-cache surface is conformance-tested against
    * libwebp-encoded fixtures in WebpCodecSpec; only lossy VP8 remains
    * behind the labeled stub. */
  val webpStats = Q(
    "webp_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthWebpUdf((lit(8) + k % 24).cast("int"),
        (lit(8) + k % 16).cast("int"), (k % 97).cast("int"))
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("sniffed_type"),
          col("r._2").as("width"),
          col("r._3").as("height"),
          col("r._4").as("sum_r"),
          col("r._5").as("sum_g"),
          col("r._6").as("sum_b"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          CAST(8 + doc_id % 24 AS BIGINT) AS w,
          CAST(8 + doc_id % 16 AS BIGINT) AS h,
          CAST(doc_id % 97 AS BIGINT) AS seed
        FROM documents)
      SELECT doc_id,
        'image/webp' AS sniffed_type,
        CAST(w AS INT) AS width,
        CAST(h AS INT) AS height,
        CAST(h * (w * (w - 1) // 2) AS BIGINT) AS sum_r,
        CAST(w * (h * (h - 1) // 2) AS BIGINT) AS sum_g,
        CAST(h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
          + w * h * seed AS BIGINT) AS sum_b
      FROM p"""))

  private val synthTiffUdf = udf((w: Int, h: Int, seed: Int) => {
    import graft.operators.{Multimodal, PixelCodec, TiffCodec}
    val bytes = TiffCodec.synth(w, h, seed)
    PixelCodec.decodePixels(bytes).map { case (dw, dh, rgb) =>
      val (sr, sg, sb) = PixelCodec.channelSums(rgb)
      (Multimodal.sniff(bytes), dw, dh, sr, sg, sb)
    }
  })

  /** X6 (REAL TIFF decode) — baseline TIFF through the first-party
    * [[graft.operators.TiffCodec]] (IFD walk, strip assembly across a
    * two-strip synth layout) to exact channel sums; the planted stream
    * is the same gradient as pixel_stats/webp_stats so the closed-form
    * oracle is shared. The compressed/tiled/big-endian surface is
    * conformance-tested against the JDK's independent ImageIO TIFF
    * plugin in TiffCodecSpec (both directions, raster-exact). */
  val tiffStats = Q(
    "tiff_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthTiffUdf((lit(8) + k % 24).cast("int"),
        (lit(8) + k % 16).cast("int"), (k % 97).cast("int"))
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("sniffed_type"),
          col("r._2").as("width"),
          col("r._3").as("height"),
          col("r._4").as("sum_r"),
          col("r._5").as("sum_g"),
          col("r._6").as("sum_b"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          CAST(8 + doc_id % 24 AS BIGINT) AS w,
          CAST(8 + doc_id % 16 AS BIGINT) AS h,
          CAST(doc_id % 97 AS BIGINT) AS seed
        FROM documents)
      SELECT doc_id,
        'image/tiff' AS sniffed_type,
        CAST(w AS INT) AS width,
        CAST(h AS INT) AS height,
        CAST(h * (w * (w - 1) // 2) AS BIGINT) AS sum_r,
        CAST(w * (h * (h - 1) // 2) AS BIGINT) AS sum_g,
        CAST(h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
          + w * h * seed AS BIGINT) AS sum_b
      FROM p"""))

  private val synthIcoUdf = udf((wSmall: Int, wLarge: Int, seed: Int) => {
    import graft.operators.{IcoCodec, Multimodal, PixelCodec}
    val bytes = IcoCodec.synth(wSmall, wLarge, seed)
    PixelCodec.decodePixels(bytes).map { case (dw, dh, rgb) =>
      val (sr, sg, sb) = PixelCodec.channelSums(rgb)
      (Multimodal.sniff(bytes), dw, dh, sr, sg, sb)
    }
  })

  /** X6 (REAL ICO decode) — favicon containers through
    * [[graft.operators.IcoCodec]]: directory walk, best-entry
    * selection (the larger PNG entry wins over the planted 32-bit DIB
    * entry), then the PNG path's zlib + filter decode to exact channel
    * sums; square dims keep the closed form the same as webp_stats.
    * DIB-entry decode and hostile input are IcoCodecSpec. */
  val icoStats = Q(
    "ico_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthIcoUdf(lit(8).cast("int"),
        (lit(16) + k % 32).cast("int"), (k % 97).cast("int"))
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("sniffed_type"),
          col("r._2").as("width"),
          col("r._3").as("height"),
          col("r._4").as("sum_r"),
          col("r._5").as("sum_g"),
          col("r._6").as("sum_b"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          CAST(16 + doc_id % 32 AS BIGINT) AS n,
          CAST(doc_id % 97 AS BIGINT) AS seed
        FROM documents)
      SELECT doc_id,
        'image/vnd.microsoft.icon' AS sniffed_type,
        CAST(n AS INT) AS width,
        CAST(n AS INT) AS height,
        CAST(n * (n * (n - 1) // 2) AS BIGINT) AS sum_r,
        CAST(n * (n * (n - 1) // 2) AS BIGINT) AS sum_g,
        CAST(n * (n * (n - 1)) + n * n * seed AS BIGINT) AS sum_b
      FROM p"""))

  private val synthPcmUdf = udf((n: Int, seed: Int) => {
    import graft.operators.Multimodal
    Multimodal.pcmStats(Multimodal.Synth.wavPcm(16000, n, seed))
      .map(s => (s.n_samples, s.sum_abs, s.sum_sq, s.peak, s.trough,
        s.zero_cross))
  })

  /** X6 (REAL audio sample decode) — full 16-bit PCM WAV decode to
    * integer-exact waveform statistics, the audio analog of
    * pixel_stats: the planted clip is the sawtooth ((i+seed) mod 200)
    * − 100, and the oracle RECOMPUTES every sample from (n, seed) via
    * a correlated unnest + lag window, so a hash match proves the
    * decoder reconstructed the entire sample stream — chunk walk, LE
    * int16 sign extension, and the strict-sign-flip zero-crossing rule
    * included. Compressed audio (FLAC/MP3) stays header-only: those
    * are genuine codecs. */
  val audioStats = Q(
    "audio_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthPcmUdf((lit(400) + k % 300).cast("int"),
        (k % 200).cast("int"))
      d.select(k.as("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("n_samples"),
          col("r._2").as("sum_abs"),
          col("r._3").as("sum_sq"),
          col("r._4").as("peak"),
          col("r._5").as("trough"),
          col("r._6").as("zero_cross"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id, 400 + doc_id % 300 AS n, doc_id % 200 AS seed
        FROM documents),
      s AS (
        SELECT doc_id, i, ((i + seed) % 200) - 100 AS v
        FROM (SELECT doc_id, seed, unnest(range(n)) AS i FROM p)),
      w AS (
        SELECT doc_id, v,
          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        FROM s)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_samples,
        CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        CAST(MAX(v) AS INT) AS peak,
        CAST(MIN(v) AS INT) AS trough,
        CAST(SUM(CASE WHEN pv IS NOT NULL AND pv * v < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
      FROM w GROUP BY 1"""))

  private val synthFlacUdf = udf((n: Int, seed: Int) => {
    import graft.operators.Multimodal
    Multimodal.flacStats(Multimodal.Synth.flacPcm(16000, n, seed))
      .map(s => (s.n_samples, s.sum_abs, s.sum_sq, s.peak, s.trough,
        s.zero_cross))
  })

  /** X6 (REAL compressed-audio decode) — FLAC through the first-party
    * rice/fixed-predictor codec ([[graft.operators.FlacCodec]],
    * RFC 9639) to the same integer-exact waveform statistics as
    * audio_stats: the planted clip is the sawtooth ((i+seed) mod 200)
    * − 100, REALLY compressed on the synth side (~4× smaller than the
    * raw PCM, frame CRCs and stream MD5 included), and the oracle
    * RECOMPUTES every sample from (n, seed), so a hash match proves
    * the decoder reconstructed the entire compressed stream —
    * frame/subframe headers, rice unary/remainder bits, predictor
    * restoration, CRC-8/CRC-16 and the MD5 signature. Clip lengths
    * cross the 4096-sample frame boundary so multi-frame assembly is
    * in the proved path. Only lossy audio (MP3) remains header-only. */
  val flacStats = Q(
    "flac_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val k = col("doc_id")
      val r = synthFlacUdf((lit(3900) + k % 400).cast("int"),
        (k % 193).cast("int"))
      // the roundtrip is CPU-dense per row while the scan is one tiny
      // row-group (= ONE task, so the codec ran single-threaded —
      // measured 2.8 s at sf0.1 with 31 idle cores; the raw codec
      // alone accounts for all of it). Repartitioning the bare key
      // column costs a ~40 KB shuffle and engages every core; the
      // explicit partition COUNT matters — a column-only repartition
      // is AQE-coalesced right back to one task at this byte size
      // (40 KB < minPartitionSize), which re-serializes the CPU work.
      // At real scale the scan splits naturally and the narrow
      // shuffle stays proportional to ROW COUNT, not payload.
      d.select(k.as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r._1").as("n_samples"),
          col("r._2").as("sum_abs"),
          col("r._3").as("sum_sq"),
          col("r._4").as("peak"),
          col("r._5").as("trough"),
          col("r._6").as("zero_cross"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id, 3900 + doc_id % 400 AS n, doc_id % 193 AS seed
        FROM documents),
      s AS (
        SELECT doc_id, i, ((i + seed) % 200) - 100 AS v
        FROM (SELECT doc_id, seed, unnest(range(n)) AS i FROM p)),
      w AS (
        SELECT doc_id, v,
          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        FROM s)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_samples,
        CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        CAST(MAX(v) AS INT) AS peak,
        CAST(MIN(v) AS INT) AS trough,
        CAST(SUM(CASE WHEN pv IS NOT NULL AND pv * v < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
      FROM w GROUP BY 1"""))

  /** BM25 ranked retrieval over the documents table — the scoring the
    * reference DELEGATES to Solr/ES (its index writers ship documents
    * out; the search itself happens off-engine), brought native so a
    * user of this library can rank without an external cluster.
    * Robertson/Spärck Jones BM25 with k1 = 1.2, b = 0.75, made
    * INTEGER-EXACT so both engines agree bit-for-bit:
    *
    *  - idf in HALF-BIT units (the DSIR discipline):
    *    idf_hb = L2(2N − 2df + 1) − L2(2df + 1), one exact integer
    *    log2 probe per side — equals 2·log2((N − df + ½)/(df + ½))
    *    floored, the classic smoothed idf (negative for terms in more
    *    than half the corpus, as BM25 defines);
    *  - tf normalization cleared of fractions by multiplying through
    *    by 10·avgdl: tf·(k1+1)/(tf + k1(1 − b + b·dl/avgdl)) =
    *    22·tf·avgdl / (10·tf·avgdl + 3·avgdl + 9·dl), taken in basis
    *    points with ONE integer division (positive operands only;
    *    the signed idf multiplies after);
    *  - the query is self-contained and deterministic: the corpus
    *    words ranked 10th-12th by (count DESC, word ASC).
    *
    * Scale shape: one token explode feeding three map-side-combinable
    * counts (dl, term tf, term df); terms/df/stats are ≤12-row
    * broadcasts; the only data-sized shuffles are keyed on doc_id;
    * top-10 is TakeOrdered (no global sort materialized). */
  val bm25Search = Q(
    "bm25_search",
    (s, dir) => {
      // L2(x) = floor(2·log2 x) via the exact bitlen + √2-boundary
      // probe (see dsirWeights' derivation; engine-exact for x < 2⁶²)
      def l2(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        lit(2L) * (length(bin(x)) - 1) +
          when(x.cast("double") >=
            lit(1.4142135623730951) *
              pow(lit(2.0), (length(bin(x)) - 1).cast("double")), 1L)
            .otherwise(0L)
      val d = spread(t(s, dir, "documents"), col("doc_id"))
      val toks = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 1)
      // r16: dl row-locally (see Bm25.scores) — one fewer corpus
      // tokenize pass and no per-doc count shuffle
      val dl = d.select(col("doc_id"),
          graft.functions.Similarity.nonEmptyTokens(col("text")).as("dl"))
        .where(col("dl") > 0)
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        expr("sum(dl) div count(1)").as("avgdl"))
      val terms = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("w")).limit(12)
        .orderBy(asc("cnt"), desc("w")).limit(3)
        .select("w")
      val tf = toks.join(broadcast(terms), "w")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfq), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          ((l2(lit(2L) * col("n_docs") - lit(2L) * col("df") + 1L) -
            l2(lit(2L) * col("df") + 1L)) *
            expr("""(22 * tf * avgdl * 10000)
                    div (10 * tf * avgdl + 3 * avgdl + 9 * dl)"""))
            .as("ts"))
        .groupBy("doc_id")
        .agg(sum(col("ts")).as("score_bp"),
          count(lit(1)).as("n_matched"))
        .orderBy(desc("score_bp"), asc("doc_id"))
        .limit(10)
    },
    Some {
      def l2(e: String): String = {
        val bl = s"(length(format('{:b}', CAST(($e) AS BIGINT))) - 1)"
        s"""(2 * $bl + CASE WHEN CAST(($e) AS DOUBLE) >=
            1.4142135623730951 * power(2.0, $bl) THEN 1 ELSE 0 END)"""
      }
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      tk AS (SELECT doc_id, w FROM toks WHERE length(w) >= 1),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dl) // COUNT(*) AS BIGINT) AS avgdl
        FROM dl),
      wc AS (SELECT w, COUNT(*) AS cnt FROM tk GROUP BY 1),
      terms AS (
        SELECT w FROM (
          SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 12)
        ORDER BY cnt ASC, w DESC LIMIT 3),
      tf AS (
        SELECT doc_id, tk.w, COUNT(*) AS tf
        FROM tk JOIN terms ON tk.w = terms.w GROUP BY 1, 2),
      dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1)
      SELECT doc_id,
        CAST(SUM((${l2("2 * n_docs - 2 * df + 1")} -
                  ${l2("2 * df + 1")}) *
          ((22 * tf * avgdl * 10000)
            // (10 * tf * avgdl + 3 * avgdl + 9 * dl))) AS BIGINT)
          AS score_bp,
        COUNT(*) AS n_matched
      FROM tf
      JOIN dfq USING (w)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY 1
      ORDER BY score_bp DESC, doc_id
      LIMIT 10"""
    })

  /** Multi-query BM25 ([[graft.ops.Bm25]], r15): rank the corpus for
    * THREE self-derived queries in one pass — queries are the corpus
    * words ranked 10th-18th by (count DESC, word ASC), three terms
    * each, built with the same double-orderBy-limit slices as
    * [[bm25Search]] (no global window). Per-query top-5 via the O(k)
    * bounded aggregate: no sort, no per-query straggler. The oracle
    * re-derives the same queries with a ROW_NUMBER over the word
    * counts. */
  val bm25Multi = Q(
    "bm25_multi",
    (s, dir) => {
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("text"))
      // persisted: the three query slices below are separate Union
      // branches of one plan — uncached they would each recount the
      // corpus words (callers clear the cache after the action)
      val wc = d.select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .persist()
      // terms ranked (3j+10)..(3j+12) under (cnt DESC, w): top-(3j+12)
      // re-ordered ascending, bottom 3 — the bm25_search slice trick
      def sliceText(j: Int) = wc
        .orderBy(desc("cnt"), asc("w")).limit(3 * j + 12)
        .orderBy(asc("cnt"), desc("w")).limit(3)
        .agg(concat_ws(" ", array_sort(collect_list(col("w"))))
          .as("text"))
        .select(lit(j.toLong).as("query_id"), col("text"))
      val queries = sliceText(0).unionByName(sliceText(1))
        .unionByName(sliceText(2))
      graft.ops.Bm25.rank(d, queries, 5)
    },
    Some {
      import graft.functions.IntLog.sqlL2
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      tk AS (SELECT doc_id, w FROM toks WHERE length(w) >= 1),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dl) // COUNT(*) AS BIGINT) AS avgdl
        FROM dl),
      wc AS (SELECT w, COUNT(*) AS cnt FROM tk GROUP BY 1),
      ranked AS (
        SELECT w, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rn
        FROM wc),
      qt AS (
        SELECT CAST((rn - 10) // 3 AS BIGINT) AS query_id, w
        FROM ranked WHERE rn >= 10 AND rn <= 18),
      tf AS (
        SELECT doc_id, tk.w, COUNT(*) AS tf
        FROM tk JOIN (SELECT DISTINCT w FROM qt) q ON tk.w = q.w
        GROUP BY 1, 2),
      dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      sc AS (
        SELECT query_id, doc_id,
          CAST(SUM((${sqlL2("2 * n_docs - 2 * df + 1")} -
                    ${sqlL2("2 * df + 1")}) *
            ((22 * tf * avgdl * 10000)
              // (10 * tf * avgdl + 3 * avgdl + 9 * dl))) AS BIGINT)
            AS score_bp,
          COUNT(*) AS n_matched
        FROM tf
        JOIN dfq USING (w)
        JOIN dl USING (doc_id)
        JOIN qt USING (w)
        CROSS JOIN stats
        GROUP BY 1, 2),
      top AS (
        SELECT query_id, doc_id, score_bp, n_matched,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score_bp DESC, doc_id) AS rnk
        FROM sc)
      SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score_bp,
        CAST(n_matched AS BIGINT) AS n_matched
      FROM top WHERE rnk <= 5"""
    })

  /** [[bm25Multi]] invoked through the SQL table-function surface:
    * `bm25('docs', 'queries', 5)` in a FROM clause (GraftExtensions in
    * product sessions; registered imperatively here so the query is
    * green with and without extensions — the asof_join_sql pattern).
    * Same oracle as bm25_multi. */
  val bm25Sql = Q(
    "bm25_sql",
    (s, dir) => {
      graft.plans.GraftExtensions.ensureTableFunctions(s)
      val d = spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("text"))
      d.createOrReplaceTempView("graft_sql_bm25_docs")
      val wc = d.select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .persist() // shared by the three slices (see bm25_multi)
      def sliceText(j: Int) = wc
        .orderBy(desc("cnt"), asc("w")).limit(3 * j + 12)
        .orderBy(asc("cnt"), desc("w")).limit(3)
        .agg(concat_ws(" ", array_sort(collect_list(col("w"))))
          .as("text"))
        .select(lit(j.toLong).as("query_id"), col("text"))
      sliceText(0).unionByName(sliceText(1)).unionByName(sliceText(2))
        .createOrReplaceTempView("graft_sql_bm25_queries")
      s.sql("""SELECT * FROM
        bm25('graft_sql_bm25_docs', 'graft_sql_bm25_queries', 5)""")
    },
    bm25Multi.oracle)

  val all: Seq[Q] = Seq(
    dedupExact, tokenStats, langId, qualityScore, outlinkExtract,
    trigramJaccard, docFingerprint, multimodalMeta, minhashLsh, simhash,
    htmlLang, bpeTokenStats, langIdNgram, corpusClean, dedupClusters,
    multimodalDims, audioMeta, videoFrames, pixelStats, audioStats,
    flacStats, jpegStats, webpStats, incrementalDedup, tiffStats, icoStats,
    bloomDedup, bm25Search, bm25Multi, bm25Sql)
}
