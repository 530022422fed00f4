package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** Block-manager access `RDD` keeps `private[spark]` (see [[ColumnBridge]]
  * for why the shim lives in this namespace). */
object StorageBridge {
  /** Drop an RDD's persisted blocks, without the WARN `RDD.unpersist`
    * logs for a locally checkpointed RDD, whose lineage is gone. */
  def unpersist(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
