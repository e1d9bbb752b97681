package org.apache.spark.graftbridge

import org.apache.spark.rdd.RDD

/** One-hop access to the private[spark] release `RDD.unpersist` makes
  * after its log line. That line is a WARN for every locally
  * checkpointed RDD, and releasing a checkpoint once its last consumer
  * has run is exactly what graft.core.Caching.free is for. */
object RddBridge {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
