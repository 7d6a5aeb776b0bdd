package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's broadcast blocks, which Spark keeps
  * package-private. */
object BroadcastBlocks {
  /** Ids of the broadcasts whose value the driver still holds and `keep`
    * accepts. */
  def live(keep: Any => Boolean): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect { case b @ BroadcastBlockId(_, "") => b }
      .filter(b => bm.getLocalValues(b).exists(_.data.toList.headOption.exists(keep)))
      .map(_.broadcastId).toSet
  }
}
