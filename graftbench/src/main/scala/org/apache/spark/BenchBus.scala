package org.apache.spark

/** The listener bus's drain (`private[spark]`): block until every event
  * posted so far has reached the listeners, so a traced iteration's job
  * and stage records are complete before they are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
