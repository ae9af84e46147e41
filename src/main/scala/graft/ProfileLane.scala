package graft

import scala.collection.mutable

import org.apache.spark.GraftCoreShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev-only: run ONE named query like the Bench lane does (clearCache +
  * noop sink after an untimed warmup of the session) and attribute its
  * wall time: per-Spark-job wall ranges, total task time, stage/task
  * counts, the driver gap (wall − union of job windows ≈ Catalyst
  * analysis/optimization + driver-side work), and, for the cold warmup
  * and the timed run, the janino compiles (count and summed seconds)
  * and the cache builds: jobs whose final RDD is an in-memory cache
  * (storage level set, named by its SQL plan rather than an RDD class),
  * with the number of distinct caches they built.
  * Guide §1: decide whether a lane is executor-bound, scheduling-bound,
  * or driver-bound before touching it.
  * Usage: runMain graft.ProfileLane <query> [sfDir]
  */
object ProfileLane {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileLane <query> [sfDir]")
    val name = args(0)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.defaultCores)
    spark.range(0, 1000000, 1, 8)
      .selectExpr("sum(id)", "count(distinct id % 100)").collect()
    val fn = SparkEntry.queries(name)
    // the final RDD id of every cache-build job so far
    val builds = mutable.ArrayBuffer[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for {
          s <- e.stageInfos.maxByOption(_.stageId)
          r <- s.rddInfos.headOption
          if r.storageLevel.isValid && !r.name.matches("\\w*RDD")
        } builds.synchronized(builds += r.id)
    })
    // janino compiles (count, summed nanoseconds) and cache-build jobs
    // so far in this JVM
    def counters(): (Long, Long, Int) = {
      GraftCoreShim.drainListenerBus(spark.sparkContext)
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
        builds.synchronized(builds.size))
    }
    def phaseLine(phase: String, from: (Long, Long, Int), to: (Long, Long, Int)): String = {
      val ids = builds.synchronized(builds.slice(from._3, to._3).toVector)
      f"[profile] $name $phase compiles=${to._1 - from._1} compileTime=${(to._2 - from._2) / 1e9}%.3f s" +
        s" cacheBuilds=${ids.size} caches=${ids.distinct.size}"
    }
    // warmup run (codegen/JIT), untimed — the Bench protocol
    spark.catalog.clearCache()
    val c0 = counters()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val c1 = counters()
    spark.catalog.clearCache()

    case class J(id: Int, t0: Long, var t1: Long = -1L, desc: String = "")
    case class S(name: String, tasks: Int, taskMs: Long, wallMs: Long,
                 gcMs: Long = 0L, deserMs: Long = 0L, resSerMs: Long = 0L,
                 cpuMs: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, J]()
    val stages = mutable.ArrayBuffer[S]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = J(e.jobId, e.time,
            desc = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          val tm = si.taskMetrics
          stages += S(si.name.linesIterator.next(), si.numTasks,
            tm.executorRunTime,
            (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
              .getOrElse(-1L),
            tm.jvmGCTime, tm.executorDeserializeTime,
            tm.resultSerializationTime, tm.executorCpuTime / 1000000L)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val w0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val wallMs = (System.nanoTime() - w0) / 1e6
    val c2 = counters()
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let listener drain

    val js = jobs.synchronized(jobs.values.toVector)
    // union of [t0, t1] job windows = time with at least one job running
    val ivs = js.filter(_.t1 > 0).map(j => (j.t0, j.t1)).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (0L, 0L)
    ivs.foreach { case (a, b) =>
      if (a > ce) { covered += ce - cs; cs = a; ce = b }
      else if (b > ce) ce = b
    }
    covered += ce - cs
    val ss = jobs.synchronized(stages.toVector)
    println(f"[profile] $name wall=${wallMs / 1000}%.3f s jobs=${js.size} " +
      f"jobWindow=${covered / 1000.0}%.3f s driverGap=${(wallMs - covered) / 1000}%.3f s " +
      f"stages=${ss.size} tasks=${ss.map(_.tasks).sum} " +
      f"taskTime=${ss.map(_.taskMs).sum / 1000.0}%.3f s")
    println(phaseLine("warmup", c0, c1))
    println(phaseLine("timed", c1, c2))
    // group jobs by description (setJobDescription labels — the
    // pipeline's pinL stages): wall per label = sum of job windows
    js.filter(j => j.desc.nonEmpty && j.t1 > 0).groupBy(_.desc).toSeq
      .map { case (d, g) => (d, g.size, g.map(j => j.t1 - j.t0).sum) }
      .sortBy(-_._3).take(20).foreach { case (d, c, ms) =>
        println(f"[profile]   desc ${ms / 1000.0}%8.3f s jobWall  n=$c%3d  $d")
      }
    // group stages by name: repeated stage shapes (a recomputed subtree)
    // show up as one line with a high count
    ss.groupBy(_.name).toSeq
      .map { case (n, g) => (n, g.size, g.map(_.tasks).sum, g.map(_.taskMs).sum,
        g.map(_.wallMs).sum) }
      .sortBy(-_._4).take(30).foreach { case (n, c, t, ms, w) =>
        println(f"[profile]   ${ms / 1000.0}%8.3f s taskTime  n=$c%3d tasks=$t%6d wall=${w / 1000.0}%8.3f s  $n")
      }
    if (sys.env.get("PROFILE_STAGES").contains("1"))
      ss.sortBy(-_.taskMs).take(40).foreach { s =>
        println(f"[profile]   stage tasks=${s.tasks}%4d taskTime=${s.taskMs / 1000.0}%8.3f s cpu=${s.cpuMs / 1000.0}%7.3f gc=${s.gcMs / 1000.0}%6.3f deser=${s.deserMs / 1000.0}%6.3f wall=${s.wallMs / 1000.0}%7.3f s ${s.name}")
      }
    spark.stop()
  }
}
