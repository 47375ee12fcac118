package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Whether the block manager still holds the cached partitions of an
  * RDD. Lives under `org.apache.spark` because the block-manager master
  * is not public API; [[graft.lake.SessionMemo]] is its caller.
  */
object BlockLiveness {

  /** True when every partition block of every RDD in `rdds` has at
    * least one location — one round trip to the block-manager master
    * for the whole set. Executor loss and `unpersist` both remove
    * locations; a `localCheckpoint`ed RDD read without its blocks fails
    * with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
    */
  def allCached(rdds: Seq[RDD[_]]): Boolean = {
    val ids: Array[BlockId] = rdds.flatMap(r =>
      r.partitions.indices.map(i => RDDBlockId(r.id, i))).toArray
    ids.isEmpty || SparkEnv.get.blockManager.master.getLocations(ids)
      .forall(_.nonEmpty)
  }
}
