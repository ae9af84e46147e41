package graft

import scala.collection.mutable

import org.apache.spark.{GraftCoreShim, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftCodegenShim
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Layer attribution of one lane sample: `LaneMetrics.start(sc)` before
  * the sample, `stop()` after it. Between the two a listener records
  * every Spark job (window, description) and completed stage (tasks,
  * task/CPU/GC time), and the codegen counters are read at both ends.
  * The split decides whether a lane is executor-bound (task time),
  * scheduling-bound (jobs, stages) or driver-bound (the driver gap:
  * wall minus the union of job windows, i.e. Catalyst analysis,
  * optimization and other driver-side work).
  *
  * The codegen counters are JVM-wide, so samples must not overlap.
  */
final class LaneMetrics private (sc: SparkContext) {
  import LaneMetrics._

  private case class Job(t0: Long, desc: String, var t1: Long = -1L)
  private case class Stage(name: String, tasks: Int, taskMs: Long,
                           cpuMs: Long, gcMs: Long)
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  // the final RDD id of every cache-build job: a job whose last stage
  // ends in an in-memory cache (storage level set, named by its SQL
  // plan rather than an RDD class)
  private val builds = mutable.ArrayBuffer[Int]()
  // jobs submitted with generated code off (a pin below Pins.InterpretBytes)
  private var interpreted = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""))
      if (GraftCodegenShim.interpretedJob(e.properties)) interpreted += 1
      for {
        s <- e.stageInfos.maxByOption(_.stageId)
        r <- s.rddInfos.headOption
        if r.storageLevel.isValid && !r.name.matches("\\w*RDD")
      } builds += r.id
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val tm = si.taskMetrics
        stages += Stage(si.name.linesIterator.nextOption().getOrElse(""),
          si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000L,
          tm.jvmGCTime)
      }
  }

  // events posted before this sample must not reach its listener
  GraftCoreShim.drainListenerBus(sc)
  sc.addSparkListener(listener)
  private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val compileNs0 = CodeGenerator.compileTime
  private val wall0 = System.nanoTime()

  /** Stop the clock, then drain the listener bus so every event of the
    * sample has landed, detach, and summarize.
    */
  def stop(): Layers = {
    val wallMs = (System.nanoTime() - wall0) / 1e6
    GraftCoreShim.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
    val (js, ss, bs, nInterpreted) = listener.synchronized(
      (jobs.values.toVector, stages.toVector, builds.toVector, interpreted))
    val ended = js.filter(_.t1 > 0)
    // union of [t0, t1] job windows = time with at least one job running
    var covered = 0L
    var (cs, ce) = (0L, 0L)
    ended.map(j => (j.t0, j.t1)).sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { covered += ce - cs; cs = a; ce = b }
      else if (b > ce) ce = b
    }
    covered += ce - cs
    Layers(
      wallS = wallMs / 1000, jobs = js.size, stages = ss.size,
      tasks = ss.map(_.tasks).sum, taskS = ss.map(_.taskMs).sum / 1000.0,
      cpuS = ss.map(_.cpuMs).sum / 1000.0, gcS = ss.map(_.gcMs).sum / 1000.0,
      jobWindowS = covered / 1000.0, driverGapS = (wallMs - covered) / 1000,
      compiles = compiles, compileS = compileS, interpretedJobs = nInterpreted,
      cacheBuilds = bs.size, caches = bs.distinct.size,
      unlabelledS = ended.filter(_.desc.isEmpty).map(j => j.t1 - j.t0).sum / 1000.0,
      // wall per description = sum of its job windows
      topJobs = ended.filter(_.desc.nonEmpty).groupBy(_.desc).toSeq
        .map { case (d, g) => JobGroup(d, g.size, g.map(j => j.t1 - j.t0).sum / 1000.0) }
        .sortBy(-_.wallS).take(Top),
      // repeated stage shapes (a recomputed subtree) show up as one
      // name with a high count
      topStages = ss.groupBy(_.name).toSeq
        .map { case (n, g) => StageGroup(n, g.size, g.map(_.tasks).sum,
          g.map(_.taskMs).sum / 1000.0) }
        .sortBy(-_.taskS).take(Top))
  }
}

object LaneMetrics {
  /** Entries kept in each of the top-descriptions and top-stages lists. */
  val Top = 10

  def start(sc: SparkContext): LaneMetrics = new LaneMetrics(sc)

  final case class JobGroup(desc: String, n: Int, wallS: Double)
  final case class StageGroup(name: String, n: Int, tasks: Int, taskS: Double)

  /** One sample's record. `unlabelledS` is the summed window of jobs
    * that ran with no job description; `interpretedJobs` counts the jobs
    * submitted with `spark.sql.codegen.factoryMode=NO_CODEGEN`.
    */
  final case class Layers(wallS: Double, jobs: Int, stages: Int, tasks: Int,
      taskS: Double, cpuS: Double, gcS: Double, jobWindowS: Double,
      driverGapS: Double, compiles: Long, compileS: Double, interpretedJobs: Int,
      cacheBuilds: Int, caches: Int, unlabelledS: Double, topJobs: Seq[JobGroup],
      topStages: Seq[StageGroup]) {
    /** One JSON object, as it goes in the bench record's `layers`. */
    def json: String = {
      def f3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
      def str(s: String) = "\"" +
        new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
          .quoteAsString(s)) + "\""
      s"""{"wall_s":${f3(wallS)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_s":${f3(taskS)},"cpu_s":${f3(cpuS)},"gc_s":${f3(gcS)},""" +
        s""""job_window_s":${f3(jobWindowS)},"driver_gap_s":${f3(driverGapS)},""" +
        s""""compiles":$compiles,"compile_s":${f3(compileS)},"interpreted_jobs":$interpretedJobs,""" +
        s""""cache_builds":$cacheBuilds,"caches":$caches,"unlabelled_s":${f3(unlabelledS)},""" +
        s""""top_jobs":${topJobs.map(g =>
          s"""{"desc":${str(g.desc)},"n":${g.n},"wall_s":${f3(g.wallS)}}""")
          .mkString("[", ",", "]")},""" +
        s""""top_stages":${topStages.map(g =>
          s"""{"name":${str(g.name)},"n":${g.n},"tasks":${g.tasks},"task_s":${f3(g.taskS)}}""")
          .mkString("[", ",", "]")}}"""
    }
  }
}
