package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.storage.RDDBlockId

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

  /** Delete `dir` and everything under it when the JVM exits (Spark's
    * own temp-dir hook; `File.deleteOnExit` skips a non-empty dir).
    */
  def deleteOnExit(dir: java.io.File): Unit =
    util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** Bytes each RDD holds in the block managers (memory plus disk),
    * keyed by RDD id; an RDD with no stored block is absent. One ask of
    * the block manager master, which copies its block table, so it is
    * exact as of the call, unlike the status store, which lags.
    */
  def storedRddBytes(sc: SparkContext): Map[Int, Long] =
    sc.env.blockManager.master.getStorageStatus.iterator.flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(id, _), b) => (id, b.memSize + b.diskSize) }
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
}
