package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic + plan-shape checks for the round-5 training-data-pipeline
  * operators (QueriesPipeline). The DuckDB oracle proves cross-engine
  * equality; these tests pin the invariants the oracle can't see —
  * planted-signal behavior, codegen shape, broadcast sides. */
class QueriesPipelineSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Builds one Q frame. The Q contract: the caller clears what the
    * previous build pinned, as Bench and Verify do per query. */
  private def run(name: String) = {
    spark.catalog.clearCache()
    Queries.byName(name).build(spark, dir)
  }

  test("quality_gopher fractions are in range and verdict is consistent") {
    val rows = run("quality_gopher").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top2 = r.getAs[Long]("top2_frac_bp")
      val dup3 = r.getAs[Long]("dup3_frac_bp")
      assert(top2 >= 0 && top2 <= 10000, r)
      assert(dup3 >= 0 && dup3 <= 10000, r)
      val expected = if (top2 <= 2000 && dup3 <= 1800) "keep" else "reject"
      assert(r.getAs[String]("gopher_verdict") == expected, r)
    }
    // the 31-word synthetic vocab repeats bigrams heavily: the repetition
    // signal must actually fire (not a corpus where every doc is 0 bp)
    assert(rows.exists(_.getAs[Long]("dup3_frac_bp") > 0))
  }

  test("soft_dedup reweights instead of dropping: boilerplate-planted " +
    "docs weigh less, unique docs keep full weight, nothing is lost") {
    val rows = run("soft_dedup").collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("commonness_bp"),
        r.getAs[Long]("weight_bp")))).toMap
    assert(rows.nonEmpty)
    // every doc with at least one line is present (soft dedup DROPS
    // nothing) and weights are a proper [1, 10000] bp scale
    rows.values.foreach { case (c, w) =>
      assert(c >= 10000, s"commonness $c below the unique floor")
      assert(w >= 1 && w <= 10000, s"weight $w out of range")
    }
    // a fully-unique doc keeps exactly full weight; the planted
    // boilerplate line (every 7th doc) must pull weight strictly below
    val planted = rows.filter(_._1 % 7 == 0).values
    assert(planted.nonEmpty && planted.forall(_._2 < 10000),
      "planted boilerplate did not reduce weight")
    assert(rows.values.exists(_._2 == 10000), "no unique doc at 10000 bp")
    // window-free plan (the line_dedup discipline): a hot line must
    // never become one task
    val df = run("soft_dedup")
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("soft_dedup floors the weight at 1 bp in the extreme-commonness " +
    "regime: a doc whose lines appear in >10^4 docs is reweighted, " +
    "never effectively dropped to weight 0") {
    // 10001 single-line clones: commonness_bp = 10001*10000 > 10^8,
    // so the un-floored integer division emits weight_bp = 0 — an
    // effective drop contradicting the reweights-never-drops contract
    val docs = spark.range(10001)
      .select(col("id").as("doc_id"),
        lit("all ten of these boiler words repeat in every single doc")
          .as("text"))
    val w = QueriesPipeline.softDedupWeights(docs)
    val rows = w.collect()
    assert(rows.length == 10001)
    assert(rows.forall(_.getAs[Long]("commonness_bp") > 100000000L))
    assert(rows.forall(_.getAs[Long]("weight_bp") == 1L),
      "extreme-commonness weight must floor at 1 bp, not 0")
  }

  test("quality_gopher stays in whole-stage codegen (no interpreted lambda)") {
    val df = run("quality_gopher")
    df.collect() // AQE finalizes (and codegen-wraps) on run
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("* HashAggregate"), p)
    // gram construction is posexplode+lead, not a higher-order transform
    assert(!p.contains("transform("), p)
  }

  test("pii_scrub finds every planted PII instance and scrubs it") {
    val rows = run("pii_scrub").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_email") == 2, r) // user@example.com + admin@mail.test
      assert(r.getAs[Long]("n_ip") == 1, r)
      assert(r.getAs[Long]("n_phone") == 1, r)
    }
  }

  test("pii_scrub redaction removes the PII from the scrubbed text") {
    // recompute the scrub pipeline on one row and check placeholders
    val d = Queries.t(spark, dir, "documents").limit(1)
    val planted = concat(col("text"), lit(" reach me at a.b@x.org or 1.2.3.4"))
    val scrubbed = regexp_replace(
      regexp_replace(planted,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
    val out = d.select(scrubbed.as("s")).head().getString(0)
    assert(out.contains("<EMAIL>") && out.contains("<IP>"), out)
    assert(!out.contains("@") && !out.contains("1.2.3.4"), out)
  }

  test("decontaminate flags every benchmark document (self-contamination)") {
    val flagged = run("decontaminate").collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    val bench = Queries.t(spark, dir, "documents")
      .where(col("doc_id") % 25 === 0)
      // docs shorter than 8 tokens contribute no 8-gram
      .where(size(split(col("text"), " ")) >= 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bench.subsetOf(flagged), s"missing: ${bench -- flagged}")
  }

  test("decontaminate broadcasts the benchmark gram set") {
    val p = run("decontaminate").queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sample_stratified keeps a deterministic subset within budget rates") {
    val kept = run("sample_stratified")
    val kept2 = run("sample_stratified")
    // deterministic: same rows both runs
    assert(kept.exceptAll(kept2).isEmpty && kept2.exceptAll(kept).isEmpty)
    // every kept doc is a real doc with its real token count
    val joined = kept.join(
      Queries.t(spark, dir, "documents").select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).as("nt")),
      "doc_id")
    assert(joined.where(col("n_tokens") =!= col("nt")).isEmpty)
  }

  test("sample_stratified has no window/sort — broadcast rate join only") {
    val p = run("sample_stratified").queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("line_dedup keeps the planted boilerplate line only in its first doc") {
    val rows = run("line_dedup").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val planted = rows.keys.filter(_ % 7 == 0).toSeq.sorted
    assert(planted.size > 1)
    // keeper (min doc_id) retains every line; later planted docs drop ≥ 1
    assert(rows(planted.head).getAs[Long]("n_dropped") == 0)
    planted.tail.foreach { id =>
      assert(rows(id).getAs[Long]("n_dropped") >= 1, s"doc $id dropped none")
    }
    // conservation: kept + dropped == total lines, every doc accounted for
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_lines"), r)
    }
    assert(rows.size ==
      Queries.t(spark, dir, "documents").select("doc_id").distinct().count())
  }

  test("tfidf_topterms emits exactly 3 ranked terms per doc, scores integer-exact") {
    val rows = run("tfidf_topterms").collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == Seq(1L, 2L, 3L), rs)
      // rank order matches (score desc, term asc)
      val sorted = rs.sortBy(r =>
        (-r.getAs[Long]("score"), r.getAs[String]("term")))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == Seq(1L, 2L, 3L))
    }
    // a rarer term must out-score a common one at equal tf: scores differ
    assert(rows.map(_.getAs[Long]("score")).distinct.length > 1)
  }

  test("winnow_fingerprint guarantees a shared hash for an 8-word overlap") {
    // two docs sharing a run of >= w+k-1 = 8 words must share a selected
    // fingerprint hash (the winnowing guarantee) — check via the digest
    // pipeline on a constructed pair
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $shared x1 y1 z1 w1 v1"),
      (2L, s"p2 q2 r2 s2 $shared nine ten eleven twelve"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("winnow_pair")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val grams = toks.select(col("doc_id"), col("pos"),
        concat_ws(" ", col("w"), lead(col("w"), 1).over(wp),
          lead(col("w"), 2).over(wp), lead(col("w"), 3).over(wp),
          lead(col("w"), 4).over(wp)).as("g"),
        lead(col("w"), 4).over(wp).isNotNull.as("full"))
      .where(col("full"))
      .select(col("doc_id"), col("pos"), Queries.md5Long(col("g")).as("h"))
    val sel = grams.select(col("doc_id"),
        min(col("h")).over(wp.rowsBetween(0, 3)).as("mh"),
        lead(col("h"), 3).over(wp).isNotNull.as("fw"))
      .where(col("fw")).select(col("doc_id"), col("mh")).distinct()
    val fp1 = sel.where(col("doc_id") === 1).collect().map(_.getLong(1)).toSet
    val fp2 = sel.where(col("doc_id") === 2).collect().map(_.getLong(1)).toSet
    assert((fp1 & fp2).nonEmpty, "8-word overlap produced no shared hash")
    // and the registered query runs over the corpus with sane counts
    val rows = run("winnow_fingerprint").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_fp") >= 1, r))
  }

  test("exact_substr_dedup removes the full planted paragraph from " +
    "every planted doc and nothing from dup-free short docs") {
    val rows = run("exact_substr_dedup").collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val planted = byId.filter(_._1 % 11 == 3)
    assert(planted.nonEmpty)
    // every planted doc carries the 30-token shared paragraph: all 30
    // positions are covered by its 16 cross-doc duplicated windows
    planted.values.foreach { r =>
      assert(r.getAs[Long]("n_removed") >= 30, r)
      assert(r.getAs[Long]("kept_bp") < 10000, r)
    }
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val rm = r.getAs[Long]("n_removed")
      assert(rm >= 0 && rm <= n, r)
      val bp = r.getAs[Long]("kept_bp")
      assert(bp == (n - rm) * 10000 / n, r)
      // md5 hex, always present (empty string hashes, never null)
      assert(r.getAs[String]("clean_md5").matches("[0-9a-f]{32}"), r)
    }
  }

  test("exact_substr_dedup coverage is position-exact on a " +
    "constructed pair (only the shared 15-token run is cut)") {
    import spark.implicits._
    // two docs share EXACTLY one 15-token run; every other token unique
    val shared = (1 to 15).map(i => s"sh$i").mkString(" ")
    val docs = Seq(
      (100L, s"a1 a2 a3 $shared b1 b2 b3"),
      (200L, s"c1 c2 $shared d1 d2 d3 d4"))
      .toDF("doc_id", "text")
    val W = 15
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val wins = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= W)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("ws")) - W)).as("pos"), col("ws"))
      .select(col("doc_id"), col("pos"),
        Queries.md5Long(concat_ws(" ",
          slice(col("ws"), col("pos") + 1, lit(W)))).as("h"))
    val dupH = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1).select("h")
    val starts = wins.join(dupH, "h")
      .select(col("doc_id"), col("pos"), lit(1).as("ds"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val kept = toks.join(starts, Seq("doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"), col("w"),
        coalesce(max(col("ds")).over(wp.rowsBetween(-(W - 1), 0)), lit(0))
          .as("c"))
      .where(col("c") === 0)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("w")))).as("ks"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(1)).mkString(" "))
      .toMap
    assert(kept(100L) == "a1 a2 a3 b1 b2 b3", kept)
    assert(kept(200L) == "c1 c2 d1 d2 d3 d4", kept)
  }

  test("lm_bigram_score: every bigram contributes >= 1 (cw >= cg by " +
    "construction), per-bigram scaling is floor-exact, and the " +
    "repetitive synthetic vocab yields non-trivial spread") {
    val rows = run("lm_bigram_score").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams")
      val sc = r.getAs[Long]("lm_score")
      assert(n >= 1, r)
      assert(sc >= n, r) // each term = cw DIV cg >= 1
      assert(r.getAs[Long]("lm_per_bigram_bp") == sc * 10000 / n, r)
    }
    // the signal must actually vary across docs (not a constant corpus)
    assert(rows.map(_.getAs[Long]("lm_per_bigram_bp")).distinct.length > 1)
  }

  test("repetition_stats: planted docs carry within-doc duplicate " +
    "lines; fractions in range; verdict consistent") {
    val rows = run("repetition_stats").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("dup_line_bp", "dup_line_char_bp", "top4_char_bp", "dup5_char_bp")
        .foreach { c =>
          val v = r.getAs[Long](c)
          assert(v >= 0 && v <= 10000, s"$c=$v in $r")
        }
      val keep = r.getAs[Long]("dup_line_bp") <= 3000 &&
        r.getAs[Long]("dup_line_char_bp") <= 2000 &&
        r.getAs[Long]("top4_char_bp") <= 1600 &&
        r.getAs[Long]("dup5_char_bp") <= 1500
      assert(r.getAs[String]("rep_verdict") == (if (keep) "keep" else "reject"), r)
    }
    val planted = rows.filter(_.getAs[Long]("doc_id") % 13 == 5)
    assert(planted.nonEmpty)
    // chunks 0 and 1 are the identical planted line → at least one
    // duplicate line occurrence and duplicated 5-gram char mass
    planted.foreach { r =>
      assert(r.getAs[Long]("dup_line_bp") > 0, r)
      assert(r.getAs[Long]("dup5_char_bp") > 0, r)
    }
    // and un-planted docs exist whose lines are all unique
    assert(rows.exists(r => r.getAs[Long]("doc_id") % 13 != 5 &&
      r.getAs[Long]("dup_line_bp") == 0))
  }

  test("ccnet_buckets: per-language terciles are ordered (head < tail " +
    "scores), near-balanced up to tie groups, and tie-consistent") {
    val rows = Queries.byName("ccnet_buckets").build(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("score_bp"), r.getAs[String]("bucket")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, docs) =>
      val byBucket = docs.groupBy(_._4).view
        .mapValues(_.map(_._3)).toMap
      // ordering: every head score <= every middle <= every tail
      for {
        h <- byBucket.get("head"); m <- byBucket.get("middle")
      } assert(h.max <= m.min, s"$lang head/middle overlap")
      for {
        m <- byBucket.get("middle"); t <- byBucket.get("tail")
      } assert(m.max <= t.min, s"$lang middle/tail overlap")
      // equal scores share a bucket (the first-occurrence-rank tercile)
      docs.groupBy(d => d._3).foreach { case (_, same) =>
        assert(same.map(_._4).distinct.length == 1, s"$lang tie split")
      }
      // near-balance: each tercile within one max-tie-group of n/3
      val maxTie = docs.groupBy(_._3).values.map(_.size).max
      val n = docs.size
      byBucket.values.foreach { b =>
        assert(math.abs(b.size - n / 3) <= maxTie + 1,
          s"$lang bucket sizes ${byBucket.view.mapValues(_.size).toMap}")
      }
    }
  }

  test("bpe_decode roundtrips every document losslessly") {
    val rows = run("bpe_decode").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("roundtrip_ok")),
      s"non-lossless decode: ${rows.filterNot(_.getAs[Boolean]("roundtrip_ok")).take(3).mkString(", ")}")
  }

  test("centroid_score genuinely learns the length gate " +
    "(accuracy beats the majority baseline by >= 25 points)") {
    val rows = run("centroid_score").collect()
    val n = rows.length.toDouble
    val acc = rows.count(r => r.getAs[Long]("pred") == r.getAs[Long]("y")) / n
    val posFrac = rows.count(_.getAs[Long]("y") == 1L) / n
    val majority = math.max(posFrac, 1 - posFrac)
    assert(acc >= 0.90, s"accuracy $acc below 0.90")
    assert(acc >= majority + 0.25,
      s"accuracy $acc does not beat majority $majority — trainer not learning")
  }

  test("centroid_train separates a planted two-class corpus exactly") {
    // Long docs (>= CentGate words) vs short docs: the trained decision
    // boundary must classify every planted doc correctly.
    import spark.implicits._
    val long = (1L to 8L).map(i =>
      (i, Array.fill(60)("tok" + (i % 5)).mkString(" ")))
    val short = (9L to 16L).map(i =>
      (i, Array.fill(10)("tok" + (i % 5)).mkString(" ")))
    val docs = (long ++ short).toDF("doc_id", "text")
    val feat = QueriesPipeline.centroidFeatures(docs).localCheckpoint()
    val model = QueriesPipeline.centroidModel(feat)
    assert(model.count() == QueriesPipeline.CentF + 1)
    val scored = QueriesPipeline.centroidScore(feat, model).collect()
    assert(scored.length == 16)
    scored.foreach { r =>
      assert(r.getAs[Long]("pred") == r.getAs[Long]("y"),
        s"doc ${r.getAs[Long]("doc_id")} misclassified")
    }
  }

  test("centroid_train touches the corpus once and broadcasts the model " +
    "(no corpus-sized label join, model side broadcast in scoring)") {
    val plan = run("centroid_score").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast join in centroid_score plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized SMJ in centroid_score plan:\n$plan")
  }

  test("kn_bigram_ppl: reversed text carries higher cross-entropy than " +
    "forward on average (the LM learned sequence direction) and " +
    "smoothing keeps every unseen reversed bigram finite") {
    val rows = run("kn_bigram_ppl").collect()
    assert(rows.nonEmpty)
    val fwd = rows.map(_.getAs[Long]("fwd_bits_bp").toDouble)
    val rev = rows.map(_.getAs[Long]("rev_bits_bp").toDouble)
    assert(fwd.sum / fwd.length < rev.sum / rev.length,
      s"forward ${fwd.sum / fwd.length} not below reversed " +
        s"${rev.sum / rev.length} - LM learned nothing directional")
    // smoothing: every doc has a finite positive reversed score even
    // though most reversed bigrams are unseen in training
    rows.foreach(r => assert(r.getAs[Long]("rev_bits_bp") > 0, r))
  }

  test("kn_bigram_ppl: planted strongly-ordered corpus - reversal is " +
    "heavily penalized through the continuation backoff") {
    import spark.implicits._
    // 'a b c d e' repeated: all forward bigrams frequent, every
    // reversed interior bigram ('b a', 'c b', ...) unseen in training.
    val docs = (1L to 6L).map(i =>
      (i, Seq.fill(12)("a b c d e").mkString(" "))).toDF("doc_id", "text")
    val rows = QueriesPipeline.knScore(docs).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val f = r.getAs[Long]("fwd_bits_bp")
      val v = r.getAs[Long]("rev_bits_bp")
      // finite (backoff, not zero-probability) AND at least 2 bits per
      // bigram worse than forward
      assert(v > f + 20000, s"rev $v not >> fwd $f")
    }
  }
}
