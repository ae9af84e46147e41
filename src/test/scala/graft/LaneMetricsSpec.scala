package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pins

/** The lane sample record Bench writes per sample: counts and times
  * cover exactly the jobs between `start()` and `stop()`.
  */
class LaneMetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")

  test("a sample counts its own jobs, stages, labels, cache builds and unlabelled time") {
    val sc = spark.sparkContext
    /** One sample: a labelled shuffle job, a persist, an unlabelled job. */
    def sample(label: String, seed: Int): LaneMetrics.Layers = {
      val m = LaneMetrics.start(sc)
      sc.setJobDescription(label)
      try spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      finally sc.setJobDescription(null)
      val p = Pins.persist(spark.range(0, 1000, 1, 2).select((col("id") * seed).as("x")))
      spark.range(0, 5000, 1, 2).select((col("id") * seed).as("y")).collect()
      val l = m.stop()
      p.unpersist(true)
      l
    }
    val a = sample("lane metrics spec A", 3)
    val b = sample("lane metrics spec B", 5)
    Seq(a, b).foreach { l =>
      assert(l.jobs >= 3, s"three actions ran but ${l.jobs} jobs were counted")
      assert(l.stages >= l.jobs, s"${l.stages} stages < ${l.jobs} jobs")
      assert(l.tasks >= l.stages, s"${l.tasks} tasks < ${l.stages} stages")
      assert(l.driverGapS >= 0 && l.driverGapS <= l.wallS,
        s"driver gap ${l.driverGapS} outside [0, wall ${l.wallS}]")
      assert(l.jobWindowS <= l.wallS + 1e-3)
      assert(l.cacheBuilds == 1 && l.caches == 1,
        s"one persist: ${l.cacheBuilds} cache builds of ${l.caches} caches")
      assert(l.unlabelledS > 0, "the unlabelled job's window must count as unlabelled")
      assert(l.unlabelledS <= l.jobWindowS + 1e-3)
      assert(l.topJobs.map(_.desc).contains("persist build"))
      assert(l.topJobs.forall(_.desc.nonEmpty), "unlabelled jobs must not form a group")
    }
    assert(a.topJobs.map(_.desc).contains("lane metrics spec A"))
    // the second sample excludes the first's jobs
    assert(b.topJobs.map(_.desc).contains("lane metrics spec B"))
    assert(!b.topJobs.map(_.desc).contains("lane metrics spec A"),
      s"sample B carries sample A's jobs: ${b.topJobs}")
    assert(b.jobs == a.jobs && b.stages == a.stages && b.tasks == a.tasks,
      s"the same work counted differently: A ${(a.jobs, a.stages, a.tasks)}, B ${(b.jobs, b.stages, b.tasks)}")
    assert(b.topJobs.find(_.desc == "persist build").map(_.n).contains(1))
  }

  test("a sample counts the jobs of an interpreted pin, not those of a compiled action") {
    val s = spark
    import s.implicits._
    val small = (0 until 100).map(i => (i.toLong, i % 3)).toDF("id", "k")
    val m = LaneMetrics.start(spark.sparkContext)
    Pins() { pins =>
      pins.pin(small.groupBy("k").count())
      pins.pin(small.groupBy("k").count(), local = false, interpretBytes = 0L)
    }
    val l = m.stop()
    // a pin over a shuffle runs its map stage and its count as two jobs
    assert(l.interpretedJobs > 0 && l.interpretedJobs * 2 == l.jobs,
      s"${l.interpretedJobs} of ${l.jobs} jobs counted as interpreted")
  }
}
