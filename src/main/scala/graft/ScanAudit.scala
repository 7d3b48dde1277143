package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev audit: repeated-subtree detector (the `sessions_concurrency` r9
  * lesson generalized). For every registry query, counts how many times
  * each parquet location is SCANNED in the executed plan — a path
  * appearing ≥ 3 times usually means a derived frame with multiple
  * consumers is being re-derived per consumer instead of pinned or
  * staged (self-joins legitimately scan twice). Cached subtrees don't
  * count: InMemoryTableScan hides its build plan from the traversal,
  * which is exactly the point — a pinned frame scans its source once.
  *
  * Usage: `runMain graft.ScanAudit [minRepeat]` (default 3); prints one
  * line per (query, path) at or above the threshold. Build-only: frames
  * are planned, not executed (ops that write eagerly still run their
  * writes at sf0.001 cost).
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val minRepeat = args.headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.builder("graft-scan-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    def scans(p: SparkPlan): Seq[String] = {
      val self = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
        case a: AdaptiveSparkPlanExec => return scans(a.inputPlan)
        case _ => Seq.empty
      }
      self ++ p.children.flatMap(scans) ++
        p.subqueries.flatMap(scans)
    }
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan
        scans(plan).groupBy(identity).foreach { case (path, hits) =>
          if (hits.size >= minRepeat) {
            flagged += 1
            println(s"[scan-audit] $name scans ${path.split('/').takeRight(2).mkString("/")} ${hits.size}x")
          }
        }
      } catch {
        case t: Throwable =>
          println(s"[scan-audit] $name PLAN-FAILED ${t.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }
    println(s"[scan-audit] done, $flagged flagged at >=$minRepeat")
    spark.stop()
  }
}
