package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for operator specs. */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName(getClass.getSimpleName)
    .getOrCreate()

  override def afterAll(): Unit = {
    try spark.stop()
    finally super.afterAll()
  }
}

/** Sessions of their own, for specs whose subject binds at session
  * construction (the GraftExtensions rules, the product session): each
  * call clears the active and default sessions, builds a new one, runs
  * `f` on it and stops it, so no other suite's session is reused. */
trait OwnSessions { self: Suite =>

  def withOwnSession[A](build: => SparkSession)(f: SparkSession => A): A = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = build
    try f(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** local[4] with 4 shuffle partitions: a graft session, so
    * GraftExtensions is on. */
  def withExtendedSession[A](f: SparkSession => A): A =
    withOwnSession(local())(f)

  /** The same session with the three GraftExtensions optimizer rules
    * excluded through Spark's own per-rule switch: the plans Spark
    * gives without them, the reference the rules are checked against. */
  def withPlainSession[A](f: SparkSession => A): A =
    withOwnSession {
      val s = local()
      s.conf.set("spark.sql.optimizer.excludedRules",
        Seq("RewriteBoundedTopK", "RewriteWindowAggToJoin",
          "RewriteKeeperElection").map("graft.plans." + _).mkString(","))
      s
    }(f)

  private def local(): SparkSession =
    GraftSession("local[4]", "4", Some(getClass.getSimpleName))
}
