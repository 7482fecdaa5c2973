package cfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.spark.{CfPartition, ColumnFileScan, ScanMetrics}

/** Counters of the columnfile scans in the plan that actually ran. */
final case class ScanCounts(
    scans: Int, inputPartitions: Long, chunksPlanned: Long,
    chunksRead: Long, chunksSkipped: Long, decodedBytes: Long, rowsOut: Long)

/** Reads scan counters from a query's executed plan after its action
  * finished. With adaptive execution on, `executedPlan` is an
  * `AdaptiveSparkPlanExec` whose scans sit inside query stages, so a
  * plain `collect` over it finds none; the adaptive-aware traversal
  * descends into the final stages and into subqueries.
  */
object PlanProbe extends AdaptiveSparkPlanHelper {

  def scans(df: DataFrame): ScanCounts = {
    val found = collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[ColumnFileScan] => b
    }
    def metric(b: BatchScanExec, name: String): Long =
      b.metrics.get(name).map(_.value).getOrElse(0L)
    ScanCounts(
      scans = found.size,
      inputPartitions = found.map(_.inputPartitions.size.toLong).sum,
      chunksPlanned = found.map(_.inputPartitions.collect {
        case p: CfPartition => p.chunkOffsets.length.toLong
      }.sum).sum,
      chunksRead = found.map(metric(_, ScanMetrics.ChunksRead)).sum,
      chunksSkipped = found.map(metric(_, ScanMetrics.ChunksSkipped)).sum,
      decodedBytes = found.map(metric(_, ScanMetrics.DecodedBytes)).sum,
      rowsOut = found.map(metric(_, "numOutputRows")).sum)
  }
}
