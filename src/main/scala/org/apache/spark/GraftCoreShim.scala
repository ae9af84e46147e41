package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** End-of-life release of persisted RDD blocks through the
  * ContextCleaner's own path (`sc.unpersistRDD`, `private[spark]`).
  * `RDD.unpersist` on a locally-checkpointed RDD unconditionally logs
  * "lineage has been truncated and cannot be recomputed after
  * unpersisting" — appropriate for a frame something might still
  * recompute, noise for a deliberate end-of-run release of pin blocks
  * (the exact situation the ContextCleaner handles silently when the
  * RDD object becomes unreachable). Deterministic release beats
  * waiting for GC: repeated pipeline runs in one session would
  * otherwise hold several full-corpus pins each until the collector
  * gets around to them.
  */
object GraftCoreShim {
  def unpersistRdd(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)

  /** Whether `rdd` is marked for (or done with) a local checkpoint. */
  def isLocalCheckpoint(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])

  /** Block until every listener event posted so far has been handled. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
