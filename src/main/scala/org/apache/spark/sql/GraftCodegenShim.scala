package org.apache.spark.sql

import java.util.Properties

import org.apache.spark.GraftCoreShim
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Run one action without generated code, and measure the input that
  * decides it. Interpreted means no whole-stage fusion and no janino:
  * `CollapseCodegenStages` skips fusion when the thread's `SQLConf`
  * says `factoryMode=NO_CODEGEN`, and projections, predicates and
  * orderings take their interpreted forms. AQE creates and
  * collapses its query stages on the calling thread, so the thread's
  * conf governs the whole action's plan; the tasks read the same key
  * from the job's local properties. The session's own conf and
  * `SQLConf` of other threads are untouched.
  */
object GraftCodegenShim {
  private val Key = SQLConf.CODEGEN_FACTORY_MODE.key
  private val NoCodegen = "NO_CODEGEN"

  /** Whether a job was submitted with generated code off. */
  def interpretedJob(props: Properties): Boolean =
    props != null && props.getProperty(Key) == NoCodegen

  /** Run `body` (one action over `df`) interpreted on this thread and
    * in the jobs it submits, restoring the thread's local property when
    * it returns or throws. A session that sets `factoryMode` itself
    * keeps its choice.
    */
  def interpreted[T](df: DataFrame)(body: => T): T = {
    val session = df.asInstanceOf[classic.Dataset[_]].sparkSession
    val conf = session.sessionState.conf
    if (conf.contains(Key)) body
    else {
      val noCodegen = conf.clone()
      noCodegen.setConfString(Key, NoCodegen)
      val sc = session.sparkContext
      val outer = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, NoCodegen)
      try SQLConf.withExistingConf(noCodegen)(body)
      finally sc.setLocalProperty(Key, outer)
    }
  }

  /** The measured bytes `df` reads, summed over the leaves of its plan
    * (subqueries included) after cache substitution; None when any
    * leaf has no measured size. A leaf's size is:
    *  - a loaded cache: its `sizeInBytes`;
    *  - a cache not yet built: this measure applied to its own plan;
    *  - an RDD-backed frame (a pin): its blocks' stored bytes, None when
    *    nothing stored it;
    *  - a file relation: its files' size;
    *  - a local relation: its rows' size.
    * Catalyst's estimates are never read: over join products and
    * unknown leaves they reach `Long.MaxValue`.
    */
  def inputBytes(df: DataFrame): Option[BigInt] = {
    // every stored RDD block's bytes by RDD id, fetched at the first RDD leaf
    lazy val stored = GraftCoreShim.storedRddBytes(df.sparkSession.sparkContext)
    def measured(plan: LogicalPlan): Option[BigInt] =
      plan.collectWithSubqueries { case l: LeafNode => l }
        .foldLeft(Option(BigInt(0)))((sum, leaf) => sum.flatMap(s => bytes(leaf).map(s + _)))
    def bytes(leaf: LeafNode): Option[BigInt] = leaf match {
      case r: InMemoryRelation =>
        val b = r.cacheBuilder
        if (b.isCachedColumnBuffersLoaded) Some(BigInt(b.sizeInBytesStats.value))
        else measured(b.logicalPlan)
      case r: LogicalRDD => stored.get(r.rdd.id).map(BigInt(_))
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => Some(BigInt(fs.sizeInBytes))
      case l: LocalRelation => Some(l.computeStats().sizeInBytes)
      case _ => None
    }
    measured(df.queryExecution.withCachedData)
  }
}
