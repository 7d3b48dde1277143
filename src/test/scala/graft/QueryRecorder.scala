package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the SQL queries a block runs on a session, for plan-shape and
  * action-count assertions: one [[QueryRecorder.Run]] per successful
  * query, in completion order. Listener events arrive asynchronously, so
  * an earlier query's event can reach a listener registered after that
  * query ended: a marked barrier query runs before the block and another
  * after it, and the record is every event between the two. */
object QueryRecorder {

  final case class Run(funcName: String, qe: QueryExecution)

  private val Barrier = "query-recorder-barrier"

  def record[T](spark: SparkSession)(body: => T): (T, Seq[Run]) = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    def seen = runs.synchronized(runs.toList)
    def barrier(tag: String): Run => Boolean = {
      val marker = s"$Barrier-$tag-${java.util.UUID.randomUUID()}"
      spark.sql(s"SELECT '$marker' AS b").collect()
      _.qe.logical.toString.contains(marker)
    }
    def await(isBarrier: Run => Boolean): Int = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.exists(isBarrier) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val at = seen.indexWhere(isBarrier)
      require(at >= 0, "a barrier query's listener event never arrived")
      at
    }
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runs.synchronized { runs += Run(funcName, qe); () }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val start = await(barrier("start"))
      val out = body
      val end = await(barrier("end"))
      (out, seen.slice(start + 1, end))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of a physical plan as planned, before AQE reuses
    * identical exchange stages: an adaptive plan contributes its input
    * plan, a cached relation's scan its cached plan, and subqueries are
    * walked too. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.inputPlan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
