package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** `private[spark]` bridge for freeing a persisted RDD's blocks.
  * `RDD.unpersist` warns once per locally checkpointed RDD that its
  * lineage cannot be recomputed, then makes this same call; the driver
  * loops free one such checkpoint per round, so the warning buried every
  * other one in their logs. Unlike `unpersist` this leaves the RDD's own
  * storage level set: use it only on an RDD that is never read again. */
object Blocks {
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
