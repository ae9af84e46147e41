package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Job counters.
  *
  * Reference: per-job named counters (mapreduce/TaskCounter.java:28-47 —
  * MAP_INPUT_RECORDS, REDUCE_INPUT_GROUPS, ...; user counters via
  * Counter.java:83).
  *
  * Spark-first: `Dataset.observe` attaches aggregate metrics to a plan
  * node and collects them with the action that runs anyway — no second
  * pass over the data, no accumulator double-count on task retry
  * (observe metrics are exactly-once per completed query, unlike raw
  * accumulators).
  */
object Counters {

  /** Attach named counters; read them from the returned Observation
    * after an action, e.g.
    * `val (df2, obs) = Counters.observe(df, "input", count(lit(1)).as("records"))`.
    */
  def observe(df: DataFrame, name: String, metrics: Column*): (DataFrame, Observation) = {
    val obs = Observation(name)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }
}
