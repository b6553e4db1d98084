package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}

/** Block-store bridge. Lives under `org.apache.spark` solely to reach
  * the `private[spark]` `BlockManagerMaster`, so the collapse registry
  * can tell whether a local checkpoint it pinned still has its blocks.
  */
object BlockBridge {
  /** Whether every RDD can still serve its rows: none was unpersisted,
    * and every partition of a materialized local checkpoint (whose
    * lineage is cut, so a missing block is gone for good) is held by
    * some block manager. One driver-side location lookup covers all
    * partitions of all RDDs. A checkpoint not yet materialized still
    * has its lineage, so its missing blocks are merely not computed. */
  def allStored(rdds: Seq[RDD[_]]): Boolean =
    !rdds.exists(_.getStorageLevel == StorageLevel.NONE) && {
      val ids: Array[BlockId] = rdds.filter(_.isCheckpointed)
        .flatMap(r => r.partitions.indices.map(RDDBlockId(r.id, _))).toArray
      ids.isEmpty || SparkEnv.get.blockManager.master.getLocations(ids).forall(_.nonEmpty)
    }
}
