package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Test-only access to the SparkContext's checkpoint state, which
  * Spark keeps `private[spark]`. */
object Checkpoints {

  private def sc: SparkContext =
    SparkContext.getActive.getOrElse(sys.error("no active SparkContext"))

  /** Runs `body` with the checkpoint dir under `dir` (Spark adds a
    * random subdirectory), restoring the prior setting afterwards: a
    * checkpoint dir left behind would make every later snapshot in
    * the JVM a reliable one. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val prior = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prior
  }

  /** Removes every block of every snapshot `df`'s plan reads, as the
    * loss of the executors that held them would. */
  def dropSnapshotBlocks(df: DataFrame): Int = {
    val rdds = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
    rdds.foreach(rdd => rdd.partitions.indices.foreach(p =>
      SparkEnv.get.blockManager.removeBlock(RDDBlockId(rdd.id, p))))
    rdds.size
  }
}
