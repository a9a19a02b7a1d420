package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}

/** Two releases Spark keeps out of the public API, hence this shim
  * under the org.apache.spark.sql package. It holds no state. */
object Releases {

  /** Drops `df`'s cache entry and every cache entry whose plan reads
    * it. `Dataset.unpersist()` drops `df`'s own entry only. */
  def uncacheCascading(df: DataFrame): Unit =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .uncacheQuery(df.asInstanceOf[classic.Dataset[_]], cascade = true)

  /** Frees `rdd`'s blocks, as `RDD.unpersist` does, without its
    * warning that a locally checkpointed RDD cannot be recomputed.
    * `blocking` waits until every block is removed. */
  def unpersistRDD(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
