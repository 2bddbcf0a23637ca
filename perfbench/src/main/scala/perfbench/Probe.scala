package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval. Times are milliseconds since the probe started. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    layer: String, start: Double, end: Double)

/** Shapes of the physical plans an operation ran, summed over its queries. */
final case class PlanCounts(scans: Long = 0, tables: Long = 0, exchanges: Long = 0,
    reused: Long = 0, codegen: Long = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(scans + o.scans, tables + o.tables,
    exchanges + o.exchanges, reused + o.reused, codegen + o.codegen)
}

/** Spark-side counters of a window of work. */
final class Counters {
  var jobs, stages, tasks, constructJobs = 0L
  var taskMs, shuffleWrite, shuffleRead, spill, writeStageMs = 0L
  var skew = 1.0
}

/** The traced run's instruments: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for final plans, and the span buffer.
  * Jobs find their operation and parent span through the local properties
  * that `span` sets on the submitting thread, which Spark copies to jobs. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, String, Double)]
  private val stageParent = mutable.Map.empty[Int, (Long, String)]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var counters = new Counters
  private var plans = PlanCounts()
  @volatile private var muted = false

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  private def epochToMs(t: Long): Double = (t - epochMs0).toDouble

  def newId(): Long = synchronized { nextId += 1; nextId }
  def record(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized { spans.toList }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Runs `body` without recording its Spark work. */
  def paused[T](body: => T): T = {
    drain()
    muted = true
    try body finally { drain(); muted = false }
  }

  /** Counters and plan shapes since the last take; resets both. */
  def take(): (Counters, PlanCounts) = { drain(); synchronized {
    val r = (counters, plans)
    counters = new Counters
    plans = PlanCounts()
    r
  } }

  /** Runs `body` as a span named `name` under `parent`, tagging the jobs it
    * submits; `body` gets the new span's id. */
  def span[T](op: String, name: String, layer: String, parent: Long)(body: Long => T): T = {
    val sc = spark.sparkContext
    val id = newId()
    val saved = Seq("perfbench.op", "perfbench.span", "perfbench.phase").map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.phase", name)
    val t0 = nowMs
    try body(id)
    finally {
      record(Span(id, parent, op, name, layer, t0, nowMs))
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (!muted) synchronized {
    counters.jobs += 1
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    if (prop("perfbench.phase").contains("construct")) counters.constructJobs += 1
    val op = prop("perfbench.op").getOrElse("")
    val parent = prop("perfbench.span").map(_.toLong).getOrElse(0L)
    val id = newId()
    jobSpan(e.jobId) = (id, parent, op, epochToMs(e.time))
    e.stageIds.foreach(s => if (!stageParent.contains(s)) stageParent(s) = (id, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (!muted) synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, op, t0) =>
      spans += Span(id, parent, op, s"job ${e.jobId}", "spark.job", t0, epochToMs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (!muted) synchronized {
    val si = e.stageInfo
    counters.stages += 1
    val ds = taskMs.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
    if (ds.size >= 2) {
      val median = math.max(1L, ds(ds.size / 2))
      counters.skew = math.max(counters.skew, ds.last.toDouble / median)
    }
    val wrote = Option(si.taskMetrics).exists(_.outputMetrics.bytesWritten > 0)
    (si.submissionTime, si.completionTime) match {
      case (Some(a), Some(b)) =>
        if (wrote) counters.writeStageMs += b - a
        val (parent, op) = stageParent.getOrElse(si.stageId, (0L, ""))
        spans += Span(newId(), parent, op, s"stage ${si.stageId}", "spark.stage",
          epochToMs(a), epochToMs(b))
      case _ => ()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!muted) synchronized {
    counters.tasks += 1
    counters.taskMs += e.taskInfo.duration
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      counters.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      counters.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      counters.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (!muted) {
      val p = Probe.planCounts(qe.executedPlan)
      synchronized { plans = plans + p }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Probe {
  /** Scans, distinct tables, exchanges, reused exchanges and codegen
    * stages of a final physical plan, through AQE stages and subqueries. */
  def planCounts(root: SparkPlan): PlanCounts = {
    var c = PlanCounts()
    val tables = mutable.Set.empty[String]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case s: FileSourceScanExec =>
          c = c.copy(scans = c.scans + 1)
          tables ++= s.relation.location.rootPaths.map(_.toString)
        case s: BatchScanExec =>
          c = c.copy(scans = c.scans + 1)
          tables += s.table.name()
        case _: ShuffleExchangeExec | _: BroadcastExchangeExec => c = c.copy(exchanges = c.exchanges + 1)
        case _: ReusedExchangeExec => c = c.copy(reused = c.reused + 1)
        case _: WholeStageCodegenExec => c = c.copy(codegen = c.codegen + 1)
        case _ => ()
      }
      p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec => ()
        case _ =>
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(root)
    c.copy(tables = tables.size.toLong)
  }
}
