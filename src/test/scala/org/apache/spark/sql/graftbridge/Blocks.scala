package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.RDDBlockId

/** Test probe into the BlockManager (private[spark] API). */
object Blocks {

  /** Ids of the RDDs that hold at least one block right now. Asks the
    * block managers themselves, not `getPersistentRDDs` (a weak-value
    * map that GC empties while the blocks stay). */
  def rddsWithBlocks(): Set[Int] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }.toSet
}
