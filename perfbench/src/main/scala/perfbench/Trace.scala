package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark work attributed to one span: the jobs its job group ran, their
  * tasks, and the queries (QueryExecutions) that finished inside it. */
final class SparkTotals {
  var jobs, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  var peakMem, planMs, planNodes = 0L
  var postingsRows, codesRows = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** One traced layer call. `op` is the timed op it belongs to; `parent` is
  * -1 for an op's root span. Counters hold layer-specific counts. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  val spark = new SparkTotals
  val counters = mutable.LinkedHashMap.empty[String, Double]
}

/** In-memory span recorder. Spans are recorded only while `enabled`; each
  * span runs its Spark work under its own job group, so the listener can
  * attribute jobs and tasks to it, and drains the listener bus when it
  * ends, so the queries it ran are attributed before the next span
  * starts. Everything is kept in memory and written out by the caller
  * after the run. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, SparkTotals]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val pendingQueries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
  private val GroupKey = "spark.jobGroup.id"
  /** The IVF-PQ code tables of an index root ([[graft.ops.IvfPqIndex.Ix]]);
    * its centroid and codebook tables are not code rows. */
  private val CodeTables = Set("ivfpq_codes", "ivfpq_codes_delta", "ivfpq_codes_compact")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
      val t = if (g == null) null else byGroup.get(g)
      if (t != null) {
        t.synchronized(t.jobs += 1)
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val t = if (g == null) null else byGroup.get(g)
      val m = e.taskMetrics
      if (t != null && m != null) t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
        t.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }
  /** The last query any action finished, traced or not: the query an op
    * executed, for the full-result guard. Read after [[drain]]. */
  @volatile var lastQuery: QueryExecution = _
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      lastQuery = qe
      if (enabled) pendingQueries.add(qe)
    }
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      // Queries finished so far belong to the enclosing span, if any.
      drain()
      stack.headOption match {
        case Some(p) => absorbQueries(p)
        case None => pendingQueries.clear()
      }
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      byGroup.put(group(s), s.spark)
      stack = s :: stack
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        drain()
        absorbQueries(s)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Adds a count to the innermost open span (no-op when not tracing). */
  def count(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.counters(key) = s.counters.getOrElse(key, 0.0) + v)

  private def group(s: Span): String = s"perfbench-${s.id}"

  private def absorbQueries(s: Span): Unit = {
    var qe = pendingQueries.poll()
    while (qe != null) {
      val t = s.spark
      t.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      t.planNodes += Plans.nodes(qe)
      collectWithSubqueries(qe.executedPlan) { case f: FileSourceScanExec => f }
        .foreach { f =>
          val rows = f.metrics.get("numOutputRows").fold(0L)(_.value)
          val paths = f.relation.location.rootPaths
          if (paths.exists(_.toString.contains("graft_mhix"))) t.postingsRows += rows
          if (paths.exists(p => CodeTables(p.getName))) t.codesRows += rows
        }
      qe = pendingQueries.poll()
    }
  }
}

object Plans {
  /** Operator count of a query's optimized logical plan, subqueries
    * included. */
  def nodes(qe: QueryExecution): Long =
    qe.optimizedPlan.collectWithSubqueries { case p => p }.size.toLong
}
