package graft.perfbench

import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Scan counters read from an executed plan's SQL metrics (through AQE
  * query stages): files read, rows the scans produced, and rows that
  * survived the filter directly above each scan. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, rowsScanned: Long, rowsMatched: Long)

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private def strip(p: SparkPlan): SparkPlan = p match {
    case c: ColumnarToRowExec => strip(c.child)
    case i: InputAdapter => strip(i.child)
    case other => other
  }

  def scan(plan: SparkPlan): Scan = {
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    val filtered = collect(plan) {
      case f: FilterExec if strip(f.child).isInstanceOf[FileSourceScanExec] =>
        (strip(f.child), metric(f, "numOutputRows"))
    }
    val filteredScans = filtered.map(_._1).toSet
    Scan(scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum,
      filtered.map(_._2).sum +
        scans.filterNot(filteredScans.contains).map(metric(_, "numOutputRows")).sum)
  }
}
