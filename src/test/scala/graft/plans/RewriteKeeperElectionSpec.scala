package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteKeeperElection: `row_number() OVER (PARTITION BY k ORDER BY
  * o) = 1` — filtered (keep best) or labeled (mark best) — becomes a
  * hot-key-safe aggregate shape: value-identical (incl. order-leg
  * ties, nulls, desc NaN doubles, Long.MinValue under desc), Window-
  * free in the optimized plan, and left alone whenever the rewrite
  * would be unsound. Own session — extensions bind at construction. */
class RewriteKeeperElectionSpec extends AnyFunSuite with graft.OwnSessions {

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("filtered keeper (mixed asc/desc order, string payload) becomes " +
    "ONE aggregate — no Window, no Join — with row_number()=1 values") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq(
        ("a", 2.0, "2024-01-02", "p1"),
        ("a", 9.0, "2024-01-01", "p2"), // a's keeper: highest score
        ("b", 1.0, "2024-06-01", "p3"),
        ("b", 1.0, "2024-05-01", "p4"), // b's keeper: score tie → min date
        (null, 5.0, "2024-01-01", "p5")) // null key is its own group
        .toDF("k", "score", "d", "pay")
      val w = Window.partitionBy("k").orderBy(desc("score"), asc("d"))
      val q = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("k", "score", "pay")
      val p = optimized(q)
      assert(!p.contains("Window"), p)
      assert(!p.contains("Join"), p)
      assert(p.contains("min_by"), p)
      assert(q.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1), r.getString(2))).toSet ==
        Set((Some("a"), 9.0, "p2"), (Some("b"), 1.0, "p4"),
          (None, 5.0, "p5")))
      // empty input: the window emits nothing, so must the aggregate
      assert(df.where(col("score") > 100)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).count() == 0)
    }
  }

  test("full-order ties elect exactly ONE keeper (the full-row-min " +
    "refinement); extra filter conjuncts survive on top") {
    withExtendedSession { spark =>
      import spark.implicits._
      // two DISTINCT rows tying on the whole orderSpec: row_number
      // keeps an arbitrary one; the rewrite keeps the full-row min —
      // a deterministic refinement, still exactly one row
      val df = Seq(("a", 1, "pA"), ("a", 1, "pB"), ("c", 2, "pC"))
        .toDF("k", "v", "pay")
      val w = Window.partitionBy("k").orderBy("v")
      val q = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 1 && col("k") =!= "c")
        .select("k", "pay")
      assert(!optimized(q).contains("Window"), optimized(q))
      val got = q.collect().map(r => (r.getString(0), r.getString(1)))
      assert(got.toSeq == Seq(("a", "pA")), got.mkString(","))
    }
  }

  test("desc edge cases map exactly: NaN doubles sort FIRST under " +
    "desc; Long.MinValue survives (bitwise NOT, not negation)") {
    withExtendedSession { spark =>
      import spark.implicits._
      val dn = Seq(("a", Double.NaN, "nan"), ("a", 99.0, "v99"),
        ("b", -0.0, "nz"), ("b", 0.0, "pz"))
        .toDF("k", "score", "pay")
      val wq = dn.withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(desc("score"), asc("pay"))))
        .filter(col("rn") === 1).select("k", "pay")
      assert(!optimized(wq).contains("Window"), optimized(wq))
      val got = wq.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got("a") == "nan") // NaN is greatest → desc keeper
      assert(got("b") == "nz") // -0.0 == 0.0 ties → pay tiebreak
      val ln = Seq(("a", Long.MinValue, "min"), ("a", 3L, "three"))
        .toDF("k", "v", "pay")
      val lq = ln.withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(desc("v"))))
        .filter(col("rn") === 1).select("pay")
      assert(!optimized(lq).contains("Window"), optimized(lq))
      assert(lq.collect().map(_.getString(0)).toSeq == Seq("three"))
    }
  }

  test("value-identical duplicate rows (-0.0 vs 0.0 payload): the " +
    "labeled shape marks EVERY copy a keeper — the documented " +
    "divergence class; the filtered shape still keeps exactly one") {
    withExtendedSession { spark =>
      import spark.implicits._
      // the two rows differ only in the SIGN BIT of a double payload
      // column — SQL-ordering-identical (Spark identifies -0.0 with
      // 0.0), so the full-row tiebreak cannot separate them
      val df = Seq(("b", -0.0, "p"), ("b", 0.0, "p"), ("c", 1.0, "q"))
        .toDF("k", "score", "pay")
      val w = Window.partitionBy("k").orderBy(asc("score"), asc("pay"))
      val labeled = df.withColumn("rn", row_number().over(w))
        .select(col("k"), col("score"),
          (col("rn") === 1).as("keep"))
      assert(!optimized(labeled).contains("Window"), optimized(labeled))
      val kept = labeled.collect()
        .filter(_.getAs[Boolean]("keep")).map(_.getString(0))
      // both b-copies keep (all-copies-keep on value-identical rows);
      // row_number would keep one — the scaladoc's stated divergence
      assert(kept.count(_ == "b") == 2 && kept.count(_ == "c") == 1,
        kept.mkString(","))
      val filtered = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("k")
      assert(!optimized(filtered).contains("Window"), optimized(filtered))
      val fk = filtered.collect().map(_.getString(0))
      assert(fk.count(_ == "b") == 1 && fk.count(_ == "c") == 1,
        fk.mkString(","))
    }
  }

  test("rank()=1 filtered: ALL order-ties keep (the tie-robust dedup " +
    "phrasing) — Window-free, exact under ties, desc legs included") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq(
        ("a", 9.0, "p1"), ("a", 9.0, "p2"), ("a", 3.0, "p3"),
        ("b", 5.0, "q1"),
        ("c", 1.0, "r1"), ("c", 1.0, "r2"), ("c", 1.0, "r3"))
        .toDF("k", "score", "pay")
      val w = Window.partitionBy("k").orderBy(desc("score"))
      val q = df.withColumn("rk", rank().over(w))
        .filter(col("rk") === 1).select("k", "pay")
      val p = optimized(q)
      assert(!p.contains("Window"), p)
      val got = q.collect().map(r => (r.getString(0), r.getString(1)))
        .sortBy(identity)
      // a: BOTH 9.0 ties; b: its only row; c: all three 1.0 ties
      assert(got.toSeq == Seq(("a", "p1"), ("a", "p2"), ("b", "q1"),
        ("c", "r1"), ("c", "r2"), ("c", "r3")), got.mkString(","))
    }
  }

  test("rank()=1 labeled: keep-all marking matches rank semantics " +
    "exactly; nondeterministic child is left alone (duplication guard)") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq(("a", 1, "x"), ("a", 1, "y"), ("a", 2, "z"),
        ("b", 7, "u")).toDF("k", "v", "pay")
      val w = Window.partitionBy("k").orderBy("v")
      val q = df.withColumn("rk", rank().over(w))
        .select(col("k"), col("pay"), (col("rk") === 1).as("keep"))
      val p = optimized(q)
      assert(!p.contains("Window"), p)
      val got = q.collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
        .sortBy(t => (t._1, t._2))
      assert(got.toSeq == Seq(("a", "x", true), ("a", "y", true),
        ("a", "z", false), ("b", "u", true)), got.mkString(","))
      // duplication guard: a USED rand() column below the window
      // blocks the rank rewrite (the aggregate side would re-roll the
      // dice). spark.range, not a literal Seq: over a LocalRelation
      // the optimizer folds rand() into materialized values first,
      // after which the duplication IS sound and firing is correct.
      val ndq = spark.range(100).withColumn("r", rand(7))
        .withColumn("rk", rank().over(
          Window.partitionBy(col("id") % 5).orderBy("id")))
        .filter(col("rk") === 1).select("id", "r")
      assert(optimized(ndq).contains("Window"), optimized(ndq))
    }
  }

  test("labeled keeper (the dedup merge-back shape) becomes min(struct)" +
    " + join back — all rows kept, Window-free") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq(
        ("s1", 5.0, 1, 10), ("s1", 9.0, 2, 20), ("s1", 9.0, 3, 30),
        ("s2", 1.0, 1, 40)).toDF("sig", "score", "member", "status")
      val w = Window.partitionBy("sig").orderBy(desc("score"), asc("member"))
      val q = df.withColumn("rnk", row_number().over(w))
        .select(col("sig"), col("member"),
          when(col("rnk") === 1, col("status")).otherwise(lit(7))
            .as("new_status"))
      val p = optimized(q)
      assert(!p.contains("Window"), p)
      assert(p.contains("Join"), p)
      assert(q.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getInt(2))).toSet ==
        Set(("s1", 1, 7), ("s1", 2, 20), ("s1", 3, 7), ("s2", 1, 40)))
    }
  }

  test("left alone: rn used as a value, rn pinned to 2, ntile(), " +
    "desc strings, unstable/nondeterministic child (labeled), kill switch") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq(("a", 5, "x"), ("a", 3, "y"), ("b", 9, "z"))
        .toDF("k", "v", "pay")
      val w = Window.partitionBy("k").orderBy("v")
      // rn escapes as a value → untouched
      assert(optimized(df.withColumn("rn", row_number().over(w))
        .select(col("k"), col("rn"))).contains("Window"))
      // rn = 2 is not keeper election
      assert(optimized(df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 2)).contains("Window"))
      // ntile(2) = 1 keeps the first HALF of the partition — not a
      // keeper election → untouched (rank()/dense_rank() ARE rewritten
      // shapes since r12: their =1 class is order-key == partition min)
      assert(optimized(df.withColumn("r", ntile(2).over(w))
        .filter(col("r") === 1)).contains("Window"))
      // desc over strings: no exact order reversal → untouched
      assert(optimized(df.withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(desc("pay"))))
        .filter(col("rn") === 1)).contains("Window"))
      // labeled shape duplicates the child: a LIMIT subset or a rand()
      // column would diverge between the two evaluations → untouched
      assert(optimized(spark.range(100).withColumn("k", col("id") % 5)
        .limit(10)
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy("id")))
        .select(col("k"), (col("rn") === 1).as("keep")))
        .contains("Window"))
      // (the rand column must be USED — on an unused one, column
      // pruning deletes it first and the duplication is sound)
      assert(optimized(spark.range(100).withColumn("r", rand(7))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("id") % 5).orderBy(col("id"))))
        .select(col("id"), col("r"), (col("rn") === 1).as("keep")))
        .contains("Window"))
      // but the FILTERED shape evaluates the child once: rand() below
      // it is fine and the rewrite fires
      val ndFiltered = spark.range(100).withColumn("r", rand(7))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("id") % 5).orderBy(col("id"))))
        .filter(col("rn") === 1)
      assert(!optimized(ndFiltered).contains("Window"),
        optimized(ndFiltered))
      assert(ndFiltered.count() == 5)
      // kill switch: Spark's own per-rule exclusion
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "graft.plans.RewriteKeeperElection")
      try assert(optimized(df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)).contains("Window"))
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("dogfood: the windowed phrasings this repo de-windowed by hand " +
    "(dedup_merge, corpus_clean stage-1) go Window-free under the rule " +
    "with rows identical to a plain session") {
    val dir = "/root/testdata/sf0.001"
    def dedupMergeWindowed(s: SparkSession) = {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val db = li.select(
        concat(col("l_orderkey"), lit("#"), col("l_linenumber")).as("url"),
        col("l_orderkey").as("sig"), col("l_linenumber").as("member"),
        col("l_extendedprice").as("score"), col("l_shipdate"),
        when(col("l_linenumber") % 2 === 0, lit(2)).otherwise(lit(1))
          .as("old_status"))
      val w = Window.partitionBy(col("sig"))
        .orderBy(desc("score"), asc("l_shipdate"), asc("member"))
      db.withColumn("rnk", row_number().over(w))
        .select(col("url"), col("old_status"),
          when(col("rnk") === 1, col("old_status")).otherwise(lit(7))
            .as("new_status"))
    }
    def corpusStage1Windowed(s: SparkSession) = {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val withDigest = d.select(col("doc_id"), col("lang"),
        md5(col("text")).as("digest"))
      val w = Window.partitionBy(col("digest")).orderBy(asc("doc_id"))
      withDigest.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("doc_id", "lang")
    }
    val (extMerge, extCorpus, mergePlan, corpusPlan) =
      withExtendedSession { s =>
        val m = dedupMergeWindowed(s); val c = corpusStage1Windowed(s)
        (m.collect().map(_.toSeq).toSet, c.collect().map(_.toSeq).toSet,
          m.queryExecution.optimizedPlan.toString,
          c.queryExecution.optimizedPlan.toString)
      }
    assert(!mergePlan.contains("Window"), mergePlan)
    assert(!corpusPlan.contains("Window"), corpusPlan)
    withPlainSession { plain =>
      assert(dedupMergeWindowed(plain).collect().map(_.toSeq).toSet
        == extMerge)
      assert(corpusStage1Windowed(plain).collect().map(_.toSeq).toSet
        == extCorpus)
    }
  }
}
