package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `private[spark]` bridge for the scheduler's executor list, the seed of
  * [[graft.core.Env.Quorum]]. Unlike `getExecutorMemoryStatus`, where dead
  * executors' block managers linger, it lists only executors registered
  * with the scheduler. Only a cluster scheduler can list them: on
  * `local[*]` Spark logs a warning and returns nothing. */
object Executors {
  def ids(sc: SparkContext): Seq[String] = sc.getExecutorIds()
}
