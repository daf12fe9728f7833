package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteWindowAggToJoin: whole-partition min/max/sum/count/avg
  * windows become group-by + join-back — value-identical (incl. null
  * and float group keys), Window-free in the optimized plan, and
  * never touched when order, frames, row-identity functions, or
  * nondeterminism make the rewrite unsound. Own session — extensions
  * bind at construction. */
class RewriteWindowAggSpec extends AnyFunSuite with graft.OwnSessions {

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("min/sum/count over a partition rewrite to agg+join, " +
    "values identical, null keys grouped like the window") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq((Some("a"), 5), (Some("a"), 3), (Some("b"), 9),
        (None, 1), (None, 7)).toDF("k", "v")
      val w = Window.partitionBy("k")
      val q = df.select(col("k"), col("v"),
        min("v").over(w).as("mn"),
        sum("v").over(w).as("sm"),
        count(lit(1)).over(w).as("cnt"))
      val plan = optimized(q)
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("Join"), plan)
      val got = q.collect()
        .map(r => (Option(r.getString(0)), r.getInt(1),
          r.getInt(2), r.getLong(3), r.getLong(4))).toSet
      // the window answer, computed by hand
      assert(got == Set(
        (Some("a"), 5, 3, 8L, 2L), (Some("a"), 3, 3, 8L, 2L),
        (Some("b"), 9, 9, 9L, 1L),
        (None, 1, 1, 8L, 2L), (None, 7, 1, 8L, 2L)))
    }
  }

  test("expression partition keys and empty PARTITION BY (global agg) " +
    "both rewrite; global becomes the one-row cross join") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq(1, 2, 3, 4, 5, 6).toDF("v")
      val byExpr = df.select(col("v"),
        max("v").over(Window.partitionBy(col("v") % 2)).as("mx"))
      assert(!optimized(byExpr).contains("Window"), optimized(byExpr))
      assert(byExpr.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
        Set(1 -> 5, 3 -> 5, 5 -> 5, 2 -> 6, 4 -> 6, 6 -> 6))
      val global = df.select(col("v"),
        sum("v").over(Window.partitionBy()).as("tot"))
      val gp = optimized(global)
      assert(!gp.contains("Window"), gp)
      assert(global.collect().map(_.getLong(1)).toSet == Set(21L))
      // empty input: the window emits nothing, so must the rewrite
      assert(df.where(col("v") > 100).select(
        sum("v").over(Window.partitionBy()).as("t")).count() == 0)
    }
  }

  test("ordered windows, row-identity functions, distinct aggs and " +
    "nondeterministic children are left alone") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq(("a", 5), ("a", 3), ("b", 9)).toDF("k", "v")
      // ordered → running frame, not whole-partition
      val running = df.select(col("k"),
        sum("v").over(Window.partitionBy("k").orderBy("v")).as("run"))
      assert(optimized(running).contains("Window"))
      // row_number is order/identity-dependent
      val rn = df.select(col("k"),
        row_number().over(Window.partitionBy("k").orderBy("v")).as("rn"))
      assert(optimized(rn).contains("Window"))
      // collect_list over a partition: row-order-dependent output,
      // outside the whitelist (Spark rejects DISTINCT window aggs at
      // analysis, so the isDistinct guard can't be reached via the API)
      val cl = df.select(col("k"),
        collect_list("v").over(Window.partitionBy("k")).as("vs"))
      assert(optimized(cl).contains("Window"))
      // nondeterministic child: duplication would diverge. (Over a
      // LocalRelation the optimizer folds rand() into literal rows
      // before this rule runs — then duplication IS safe and the
      // rewrite may fire; range() keeps the project live.)
      val nd = spark.range(10).withColumn("r", rand(7))
        .select(col("id") % 3 as "k",
          min("r").over(Window.partitionBy(col("id") % 3)).as("mr"))
      assert(optimized(nd).contains("Window"))
      // unstable row set: LIMIT without a total order picks an
      // arbitrary subset per evaluation — duplicating it would
      // aggregate a DIFFERENT subset than the probe side (review
      // finding r11): left alone
      val lim = spark.range(100).repartition(4)
        .toDF("v").limit(10)
        .select(col("v"),
          min("v").over(Window.partitionBy(col("v") % 2)).as("mn"))
      assert(optimized(lim).contains("Window"), optimized(lim))
      // dropDuplicates keeps an arbitrary row per key: same treatment
      val dd = spark.range(100).withColumn("k", col("id") % 5)
        .dropDuplicates("k")
        .select(col("k"), sum("id").over(Window.partitionBy("k")).as("s"))
      assert(optimized(dd).contains("Window"), optimized(dd))
      // an order-dependent window INSIDE the child: duplicating it
      // could assign orderSpec ties differently between the aggregate
      // copy and the probe side — left alone (review finding r12)
      val tieProne = Seq(("a", 1, 10), ("a", 1, 20), ("b", 2, 30))
        .toDF("k", "v", "pay")
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy("v"))) // ties on (k, v)
        .select(col("k"), col("rn"),
          min("rn").over(Window.partitionBy("k")).as("mrn"))
      val tp = optimized(tieProne)
      assert(!tp.contains("Join"), tp)
      // but a child window of the same order-independent aggregates
      // this rule rewrites is safe to duplicate: both layers rewrite
      val nested = df
        .withColumn("kmin", min("v").over(Window.partitionBy("k")))
        .select(col("k"), col("v"), col("kmin"),
          max("kmin").over(Window.partitionBy("k")).as("mm"))
      val np = optimized(nested)
      assert(!np.contains("Window"), np)
      assert(nested.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet ==
        Set(("a", 5, 3, 3), ("a", 3, 3, 3), ("b", 9, 9, 9)))
      // kill switch
      spark.conf.set("spark.graft.rewrite.windowAggToJoin", "false")
      try {
        val off = df.select(col("k"),
          min("v").over(Window.partitionBy("k")).as("mn"))
        assert(optimized(off).contains("Window"))
      } finally
        spark.conf.unset("spark.graft.rewrite.windowAggToJoin")
    }
  }

  test("dogfood: a real board query (opic_distribute's count-over-" +
    "partition) rewrites Window-free under extensions, rows identical") {
    // the full 135-query oracle board passes under extensions
    // (SPARK_GRAFT_EXTENSIONS=1 Verify + check.py — run each round);
    // this pins the one board query whose plan the rule changes, so
    // a regression in either direction is caught in-suite
    val dir = "/root/testdata/sf0.001"
    def rows(s: SparkSession) =
      graft.Queries.byName("opic_distribute").build(s, dir)
        .collect().map(_.toSeq).toSet
    val (extRows, extPlan) = withExtendedSession { s =>
      val df = graft.Queries.byName("opic_distribute").build(s, dir)
      (df.collect().map(_.toSeq).toSet,
        df.queryExecution.optimizedPlan.toString)
    }
    assert(!extPlan.contains("Window"), extPlan)
    // plain session: same rows, window plan
    withPlainSession { plain => assert(rows(plain) == extRows) }
  }

  test("the rewritten plan composes: filter-to-keeper (the dedup " +
    "shape) and downstream joins still resolve and prune") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = (0 until 1000).map(i =>
        (s"sig${i % 7}", i.toLong)).toDF("sig", "doc_id")
      val w = Window.partitionBy("sig")
      val dedup = df.withColumn("keeper", min("doc_id").over(w))
        .where(col("doc_id") === col("keeper"))
        .select("sig", "doc_id")
      assert(!optimized(dedup).contains("Window"), optimized(dedup))
      val got = dedup.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == (0 until 7).map(i => s"sig$i" -> i.toLong).toMap)
      // NaN / -0.0 float keys group identically to the window
      val f = Seq((Float.NaN, 1), (Float.NaN, 2), (-0.0f, 3), (0.0f, 4))
        .toDF("k", "v")
      val fx = f.select(col("k"), sum("v").over(Window.partitionBy("k"))
        .as("s"))
      assert(!optimized(fx).contains("Window"))
      assert(fx.collect().map(_.getLong(1)).sorted.toSeq ==
        Seq(3L, 3L, 7L, 7L))
    }
  }
}
