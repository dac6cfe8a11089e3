package org.apache.spark.graft

import org.apache.spark.util.HadoopFSUtils

/** `private[spark]` bridge for Spark's file-listing name filter, so
  * [[graft.core.Tables.parquet]] skips exactly the names Spark's own
  * listing skips (`_`/`.` prefixes except the parquet summary files,
  * `._COPYING_` leftovers; `_k=v` partition directories are kept). */
object Listing {
  def filteredOut(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
