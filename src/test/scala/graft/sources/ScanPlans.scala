package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition

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
}
