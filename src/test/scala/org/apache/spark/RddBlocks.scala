package org.apache.spark

import org.apache.spark.storage.BlockId

/** Test-side doorway to the block manager master, which Spark keeps
  * package-private: the stored blocks of one RDD, asked of every block
  * manager, and their removal while the RDD stays registered as
  * persisted — a lost-executor stand-in.
  */
object RddBlocks {
  def count(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds(
      (b: BlockId) => b.asRDDId.exists(_.rddId == rddId),
      askStorageEndpoints = true).size

  def drop(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
