package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it. `span` is the benchmark span
  * that submitted it; `site` the first call-site frame outside Spark,
  * `stack` the long call site (full user stack). */
final case class JobRec(id: Int, span: String, site: String, stack: String,
    startMs: Long, endMs: Long, stageIds: Seq[Int])

final case class StageRec(id: Int, tasks: Int, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, maxTaskMs: Long,
    medianTaskMs: Long)

final case class SpanRec(name: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** What one traced pass recorded. */
final case class PassTrace(startMs: Double, endMs: Double, spans: Seq[SpanRec],
    jobs: Seq[JobRec], stages: Map[Int, StageRec], planMs: Double,
    jitMs: Long, gcMs: Long)

/** Spans around the calls into each layer, plus a SparkListener and a
  * QueryExecutionListener that record every job, stage, task and
  * planning phase. Spans tag the jobs they submit through a local
  * property, so each job is attributed to its enclosing span. Listeners
  * are attached only while [[traced]] runs a pass. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val lock = new Object
  private var on = false
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobStarts = mutable.Map.empty[Int, JobRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageAgg = mutable.Map.empty[Int, Array[Long]]
  private var planMs = 0.0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      // the result stage carries the job's call site: short form as its
      // name, long form (the user stack) as its details
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      jobStarts(e.jobId) = JobRec(e.jobId, span.getOrElse(""),
        result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""),
        e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](6))
      Option(e.taskMetrics).foreach { m =>
        a(0) += m.executorCpuTime
        a(1) += m.jvmGCTime
        a(2) += m.shuffleWriteMetrics.bytesWritten
        a(3) += m.shuffleReadMetrics.totalBytesRead
        a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      a(5) += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      addPlan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      addPlan(qe)
    private def addPlan(qe: QueryExecution): Unit = lock.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    }
  }

  /** True while a traced pass runs. */
  def active: Boolean = on

  /** Run `body` as a named span. Outside a traced pass it only runs. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        sc.setLocalProperty(SpanKey, prev)
        lock.synchronized(spans += SpanRec(name, t0, t1))
      }
    }

  /** Run one pass with the listeners attached; returns its trace. */
  def traced[A](body: => A): (A, PassTrace) = {
    // events still queued from earlier jobs (the session's first job,
    // the input set-up) must not reach this pass's listener
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
    val jit0 = Jvm.jitMs(); val gc0 = Jvm.gcMs()
    val t0 = nowMs()
    try {
      val r = body
      val t1 = nowMs()
      val jit = Jvm.jitMs() - jit0; val gc = Jvm.gcMs() - gc0
      org.apache.spark.graftbench.Bus.drain(sc)
      (r, lock.synchronized(PassTrace(t0, t1, spans.toList, jobs.toList,
        stageAgg.map { case (id, a) =>
          val d = stageTasks.getOrElse(id, mutable.ArrayBuffer.empty[Long]).sorted
          id -> StageRec(id, a(5).toInt, a(0), a(1), a(2), a(3), a(4),
            if (d.isEmpty) 0L else d.last, if (d.isEmpty) 0L else d(d.size / 2))
        }.toMap, planMs, jit, gc)))
    } finally {
      on = false
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(listener)
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds on the monotonic clock, comparable with the
    * listener's event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Source file of a call site such as `parquet at CrawlTables.scala:120`. */
  def siteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val f = if (at >= 0) site.substring(at + 4) else site
    val colon = f.indexOf(':')
    if (f.isEmpty) "unknown" else if (colon > 0) f.substring(0, colon) else f
  }

  /** Seconds of [t0, t1] during which no job was running. */
  def idleSeconds(t0: Double, t1: Double, jobs: Seq[JobRec]): Double = {
    var covered = 0.0
    var reach = t0
    for (j <- jobs.sortBy(_.startMs)) {
      val s = math.max(j.startMs.toDouble, reach)
      val e = math.min(j.endMs.toDouble, t1)
      if (e > s) { covered += e - s; reach = e }
    }
    math.max(0.0, (t1 - t0 - covered) / 1000.0)
  }

  /** Split [t0, t1] among labels: each job owns the time from the end
    * of the job before it to its own end, so driver work that builds
    * up to a job is charged to that job's label. */
  def splitWall(t0: Double, t1: Double, jobs: Seq[(JobRec, String)])
      : Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var reach = t0
    var last = ""
    for ((j, label) <- jobs.sortBy(_._1.endMs)) {
      val e = math.min(j.endMs.toDouble, t1)
      if (e > reach) { out(label) += (e - reach) / 1000.0; reach = e }
      last = label
    }
    if (t1 > reach && last.nonEmpty) out(last) += (t1 - reach) / 1000.0
    out.toMap
  }
}

/** JVM-wide counters from the management beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Process CPU nanoseconds, all threads. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def startMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def flags(): Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("--add-opens"))
}
