/** Block-drop bridge for graft-owned local checkpoints.
  *
  * `RDD.unpersist` logs a WARN for every locally checkpointed RDD ("was
  * locally checkpointed, its lineage has been truncated and cannot be
  * recomputed after unpersisting"). For an operator dropping its OWN
  * checkpoint at the end of its life that line is noise — about ten per
  * bench run — and it buries the WARNs that mean something. The call
  * underneath, `SparkContext.unpersistRDD`, is `private[spark]`; this
  * one-method subpackage of `org.apache.spark` reaches it, the same
  * pattern as `org.apache.spark.sql.graftbridge.ColumnBridge`. A caller's
  * own `unpersist` still warns.
  */
package org.apache.spark.graftbridge

import org.apache.spark.rdd.RDD

object StorageBridge {
  def dropBlocks(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
