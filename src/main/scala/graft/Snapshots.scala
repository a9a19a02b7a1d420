package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Releases

/** Every eager lineage cut in graft. The policy is Spark's own
  * checkpoint dir (`spark.checkpoint.dir`): with one, a snapshot is a
  * reliable `checkpoint()` there and survives the loss of the executor
  * that computed it; without one, it is a `localCheckpoint`, whose
  * blocks live only on that executor. */
object Snapshots {

  /** `df` materialized now, its lineage cut. */
  def take(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** Releases a snapshot once nothing reads it: the blocks and the
    * checkpoint files of its own plan's RDD (`Dataset.unpersist()`
    * frees neither), never an RDD found by diffing the SparkContext's
    * persistent-RDD registry, which a concurrent job may share. The
    * blocks go without `RDD.unpersist`'s per-call warning that a
    * local checkpoint's lineage is truncated: a freed snapshot is
    * never read again. */
  def free(snapshot: DataFrame): Unit = snapshot.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      Releases.unpersistRDD(lr.rdd, blocking = false)
      lr.rdd.getCheckpointFile.map(new Path(_)).foreach(p =>
        p.getFileSystem(snapshot.sparkSession.sparkContext.hadoopConfiguration).delete(p, true))
    case other => throw new IllegalArgumentException(
      s"not a snapshot (its plan is ${other.nodeName}, not a single LogicalRDD)")
  }

  /** `df.snapshot()` for [[take]], so chained plans keep their shape. */
  implicit class SnapshotOps(private val df: DataFrame) extends AnyVal {
    def snapshot(): DataFrame = take(df)
  }
}
