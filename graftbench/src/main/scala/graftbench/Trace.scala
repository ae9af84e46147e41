package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's own calls into the engine, plus a
  * listener over Spark's public scheduler events. Nothing is traced
  * inside the engine: a span is opened and closed by the runner, and
  * `sc.setJobGroup(<span id>)` lets each job the call launches name the
  * span it belongs to.
  *
  * A disabled tracer runs the body and nothing else, so traced and
  * untraced passes share one code path.
  */
final class Tracer(sc: SparkContext, runId: String, enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack ::= s
      // null description: the engine labels its own jobs (pipeline pins)
      // through the description, and a span must not look like a label
      sc.setJobGroup(groupOf(s.id), null)
      try body
      finally {
        s.t1 = System.currentTimeMillis()
        s.n1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p.id), null)
          case None    => sc.clearJobGroup()
        }
      }
    }

  private def groupOf(id: Int): String = s"$runId:$id"

  /** The span a job belongs to: the one named by its job group when that
    * span was open at the job's start; otherwise the innermost span open
    * at that time. The fallback matters for jobs launched from pooled
    * threads, which keep the job group of whichever span was open when
    * the pool thread was created.
    */
  def spanOf(job: JobRec): Option[Span] = {
    val open = (s: Span) => s.t0 <= job.t0 && job.t0 <= s.t1
    job.group.filter(_.startsWith(runId + ":"))
      .flatMap(g => g.drop(runId.length + 1).toIntOption)
      .flatMap(id => spans.lift(id)).filter(open)
      .orElse(spans.filter(open).sortBy(s => -s.t0).headOption)
  }

  def recorded: Seq[Span] = spans.toSeq

  /** True when `s` is `anc` or nested inside it. */
  def within(s: Span, anc: Span): Boolean =
    s.id == anc.id || (s.parent >= 0 && within(spans(s.parent), anc))
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, t0: Long, n0: Long,
                        var t1: Long = Long.MaxValue, var n1: Long = 0L) {
    def seconds: Double = (n1 - n0) / 1e9
  }

  final case class JobRec(id: Int, t0: Long, group: Option[String],
                          description: Option[String], callSite: String,
                          var t1: Long = -1L) {
    def seconds: Double = (t1 - t0) / 1e3
  }

  /** Per-stage totals over every completed stage. */
  final class Totals {
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }
}

/** Collects job windows and stage metrics from Spark's listener bus.
  * Attach it for one traced iteration, then drain the bus before reading.
  */
final class JobListener extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val totals = new Totals

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the result stage is created last, so the highest stage id carries
    // the job's own call site; lower ones may be reused parent stages
    jobs(e.jobId) = JobRec(e.jobId, e.time,
      prop("spark.jobGroup.id"), prop("spark.job.description"),
      e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    totals.stages += 1
    totals.tasks += si.numTasks
    if (tm != null) {
      totals.taskMs += tm.executorRunTime
      totals.cpuNs += tm.executorCpuTime
      totals.gcMs += tm.jvmGCTime
      totals.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
      totals.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
      totals.spill += tm.diskBytesSpilled
      totals.inputBytes += tm.inputMetrics.bytesRead
      totals.outputBytes += tm.outputMetrics.bytesWritten
    }
  }

  def finished: Seq[JobRec] = synchronized(jobs.values.filter(_.t1 >= 0).toVector)
}
