package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}

/** How many data files a graft batch scan planned: a packed partition
  * ([[GraftFilePack]]) counts each of its files, so file-pruning
  * checks do not read packing as pruning. */
private[graft] object ScanPlans {
  def plannedFiles(ps: Seq[InputPartition]): Int =
    ps.map(GraftFilePack.filesOf(_).size).sum

  /** Over a scan's executed input RDD: what runtime filtering left. */
  def plannedFiles(rdd: RDD[_]): Int =
    plannedFiles(rdd.partitions.toSeq.flatMap {
      case p: DataSourceRDDPartition => p.inputPartitions
      case _ => Nil
    })

  /** The data files the frame's graft batch scans plan — what
    * `Dataset.inputFiles` reports for a file-source frame and, since it
    * covers only `FileTable`s among DSv2 relations, not for a graft
    * scan. Walks AQE's wrappers and cached plans. */
  def paths(df: DataFrame): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = p.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
        b.inputPartitions.flatMap(GraftFilePack.filesOf).map(_.path)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
    }.flatten
    walk(df.queryExecution.executedPlan).distinct
  }
}
