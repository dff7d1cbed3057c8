package org.apache.spark

/** The block manager is `private[spark]`, hence this package. */
object RddBlocks {
  /** Ids of the RDDs that have blocks in the block manager. */
  def apply(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .flatMap(_.asRDDId).map(_.rddId).toSet
}
