package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PRODUCT session contract (r12 verdict Next #2): the session
  * `Main.main` builds — the one every CLI verb runs on and the one
  * `startserver` hands to the REST server — must have GraftExtensions
  * live BY DEFAULT, not only when a deployment remembers to opt in.
  * Asserted behaviorally, not by inspecting config: the registered SQL
  * function resolves, and the keeper-election rewrite actually fires
  * on a naturally-phrased query. Builds (and fully tears down) its own
  * session, because extensions bind at session construction. */
class ProductSessionSpec extends AnyFunSuite with OwnSessions {

  test("product session registers bounded_sorted_list in SQL") {
    withOwnSession(Main.session()) { spark =>
      import spark.implicits._
      Seq((0, 5), (0, 3), (0, 9), (1, 2)).toDF("k", "v")
        .createOrReplaceTempView("t")
      val got = spark
        .sql("SELECT k, bounded_sorted_list(v, 2) AS topk FROM t GROUP BY k")
        .orderBy("k").collect().map(_.getSeq[Int](1)).toSeq
      assert(got == Seq(Seq(3, 5), Seq(2)))
    }
  }

  test("product session rewrites keeper election to an aggregate") {
    withOwnSession(Main.session()) { spark =>
      import spark.implicits._
      val df = Seq(("a", 3L), ("a", 1L), ("b", 7L), ("b", 9L))
        .toDF("k", "v")
      def q = df
        .withColumn("rn",
          row_number().over(Window.partitionBy("k").orderBy("v")))
        .filter(col("rn") === 1)
        .select("k", "v")
      // the rule replaced the Window with a min_by-shaped aggregate
      assert(!q.queryExecution.optimizedPlan.toString.contains("Window"),
        q.queryExecution.optimizedPlan.toString)
      assert(q.orderBy("k").collect().map(r => (r.getString(0),
        r.getLong(1))).toSeq == Seq(("a", 1L), ("b", 7L)))
      // and Spark's per-rule kill switch works on the live session
      // (fresh Dataset: queryExecution memoizes per instance)
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "graft.plans.RewriteKeeperElection")
      try assert(q.queryExecution.optimizedPlan.toString.contains("Window"))
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }
}
