package org.apache.spark.sql

import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.SQLExecution

/** Eager build of a persisted frame's cache, the way AQE's
  * `TableCacheQueryStageExec` materializes one: one job over the
  * `InMemoryRelation`'s cached column buffers. AQE makes such a stage
  * for every *reference* to a cache not yet built and submits them all
  * at once, so a frame read n times in one plan is built n times
  * concurrently; building it once up front leaves later plans only
  * loaded caches (with exact `sizeInBytes` and `rowCount`). The cache
  * manager and the relation's builder are `private[sql]`-reachable
  * only, hence this shim.
  */
object GraftCacheShim {
  /** Build `df`'s cache in one job, run as an SQL action over the
    * cached frame: the session's SQL confs reach the executors, and
    * the `observe` metrics in `df`'s plan are complete when the build
    * returns, as after any action. A no-op when `df` is not persisted
    * or its cache is already loaded.
    */
  def build(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    for {
      cached <- session.sharedState.cacheManager.lookupCachedData(ds)
      builder = cached.cachedRepresentation.cacheBuilder
      if !builder.isCachedColumnBuffersLoaded
    } SQLExecution.withNewExecutionId(
        session.sessionState.executePlan(ds.logicalPlan), Some("persist build")) {
      session.sparkContext.runJob(builder.cachedColumnBuffers, (_: Iterator[CachedBatch]) => ())
    }
  }
}
