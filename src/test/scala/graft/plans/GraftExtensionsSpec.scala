package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the session-extension registration path — the SQL
  * surface of bounded_sorted_list and the optimizer rewrite of the
  * naive collect_list-sort-slice phrasing into the O(k) aggregate.
  * Builds its OWN session (extensions bind at session construction). */
class GraftExtensionsSpec extends AnyFunSuite with graft.OwnSessions {

  test("rule rewrites slice(array_sort(collect_list)) to bounded_sorted_list") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq((0, 5), (0, 3), (0, 9), (0, 1), (1, 2)).toDF("k", "v")
      val q = df.groupBy("k")
        .agg(slice(array_sort(collect_list(col("v"))), 1, 2).as("topk"))
      assert(q.queryExecution.optimizedPlan.toString
        .contains("bounded_sorted_list"))
      assert(q.orderBy("k").collect().map(_.getSeq[Int](1)).toSeq ==
        Seq(Seq(1, 3), Seq(2)))
      // kill switch: Spark's own per-rule exclusion (fresh Dataset:
      // queryExecution memoizes per instance)
      def q2 = df.groupBy("k")
        .agg(slice(array_sort(collect_list(col("v"))), 1, 2).as("topk"))
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "graft.plans.RewriteBoundedTopK")
      try {
        assert(!q2.queryExecution.optimizedPlan.toString
          .contains("bounded_sorted_list"))
        assert(q2.orderBy("k").collect().map(_.getSeq[Int](1)).toSeq ==
          Seq(Seq(1, 3), Seq(2)))
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
      assert(q2.queryExecution.optimizedPlan.toString
        .contains("bounded_sorted_list"))
    }
  }

  test("rewrite fires on the select-after-agg phrasing via CollapseProject") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq((0, 5), (0, 3), (0, 9), (1, 2)).toDF("k", "v")
      val q = df.groupBy("k").agg(collect_list(col("v")).as("vs"))
        .select(col("k"), slice(array_sort(col("vs")), 1, 2).as("topk"))
      assert(q.queryExecution.optimizedPlan.toString
        .contains("bounded_sorted_list"))
      assert(q.orderBy("k").collect().map(_.getSeq[Int](1)).toSeq ==
        Seq(Seq(3, 5), Seq(2)))
    }
  }

  test("custom comparator and non-1 start are left alone") {
    withExtendedSession { spark =>
      import spark.implicits._
      val df = Seq((0, 5), (0, 3), (0, 9), (0, 1)).toDF("k", "v")
      // descending comparator: the k SMALLEST rewrite would be wrong
      val desc = df.groupBy("k")
        .agg(slice(array_sort(collect_list(col("v")),
          (a, b) => when(a < b, 1).when(a > b, -1).otherwise(0)), 1, 2)
          .as("topk"))
      assert(!desc.queryExecution.optimizedPlan.toString
        .contains("bounded_sorted_list"))
      assert(desc.collect().head.getSeq[Int](1) == Seq(9, 5))
      // slice starting past 1 is not a top-k
      val tail = df.groupBy("k")
        .agg(slice(array_sort(collect_list(col("v"))), 2, 2).as("mid"))
      assert(!tail.queryExecution.optimizedPlan.toString
        .contains("bounded_sorted_list"))
      assert(tail.collect().head.getSeq[Int](1) == Seq(3, 5))
    }
  }

  test("bounded_sorted_list is callable from SQL") {
    withExtendedSession { spark =>
      import spark.implicits._
      Seq((0, 5), (0, 3), (0, 9), (1, 2)).toDF("k", "v")
        .createOrReplaceTempView("t")
      val got = spark
        .sql("SELECT k, bounded_sorted_list(v, 2) AS topk FROM t GROUP BY k")
        .orderBy("k").collect().map(_.getSeq[Int](1)).toSeq
      assert(got == Seq(Seq(3, 5), Seq(2)))
      val err = intercept[Exception] {
        spark.sql("SELECT bounded_sorted_list(v, k) FROM t GROUP BY k")
          .collect()
      }
      assert(err.getMessage.contains("bounded_sorted_list"))
    }
  }
}
