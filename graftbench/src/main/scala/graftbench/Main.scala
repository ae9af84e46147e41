package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark runner: one JVM, one `local[<cores>]` session, no client
  * threads of its own.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Protocol: set up three times (session start plus input generation)
  * and keep the median; then measure the process's first pass over the
  * inputs, after `clearCache`, and check its output. The first pass pays
  * the JVM's JIT and Spark's code generation, as a scheduled Spark
  * application does on every run. Further passes follow only while
  * fewer than `--seconds` have been measured; figures are medians over
  * passes. `--trace 1` runs the same protocol with every pass traced and
  * reports the per-layer metrics instead; its `trace.wall_s` against the
  * untraced `wall_s` is the tracing overhead. The last stdout line is
  * the JSON result.
  */
object Main {

  final case class Metric(name: String, unit: String, better: String)

  val endToEnd: Seq[Metric] = Seq(
    Metric("wall_s", "s", "lower"),
    Metric("input_mb_s", "MB/s", "higher"),
    Metric("peak_heap_mb", "MB", "lower"),
    Metric("setup_s", "s", "lower"))

  val pipelineLabels: Seq[String] =
    Seq("filtered", "exactKept", "nearKept", "semKept", "mediaKept")

  val perLayer: Seq[Metric] = {
    def s(n: String) = Metric(n, "s", "lower")
    def c(n: String, better: String = "lower") = Metric(n, "count", better)
    def b(n: String) = Metric(n, "bytes", "lower")
    Seq(s("driver.gap_s"), c("scheduler.jobs"), c("scheduler.stages"), c("scheduler.tasks"),
      s("executor.task_s"), s("executor.cpu_s"), s("executor.gc_s"),
      Metric("executor.busy_share", "share", "higher"),
      b("shuffle.read_bytes"), b("shuffle.write_bytes"), b("shuffle.spill_bytes"),
      b("sources.read_bytes"), b("sources.write_bytes"), s("sources.write_s"),
      s("dedup.build_s"), s("dedup.probe_s"), s("dedup.append_s"), s("dedup.cc_s"),
      c("dedup.cc_jobs"), c("dedup.pairs", "higher"), c("dedup.components", "higher"),
      c("checkpoints.jobs"), s("checkpoints.job_s")) ++
      pipelineLabels.map(l => s(s"pipeline.stage.$l.job_s")) ++
      Seq(Metric("pipeline.unlabelled_job_share", "share", "lower"),
        c("pins.leaked_rdds"), s("trace.wall_s")) ++
      Workloads.spanNames.map(n => s(s"span.$n.self_s"))
  }

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val need = (k: String) => m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(need("work")).toAbsolutePath)
  }

  /** One pass of a workload's flow. */
  final case class Pass(wall: Double, failures: Seq[String],
                        leaked: Int, heapMb: Double, batches: Seq[Double],
                        layer: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = Try(parse(argv)) match {
      case Success(a) => a
      case Failure(e) =>
        System.err.println(s"graftbench: ${e.getMessage}")
        sys.exit(2)
    }
    val wl = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"graftbench: unknown workload ${a.workload}; one of " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    bench(wl, a)
    sys.exit(0)
  }

  private def bench(wl: Workload, a: Args): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val dir = a.work.resolve("inputs").resolve(s"${wl.name}-${a.seed}")
    Files.createDirectories(dir)
    val conf = Map(
      "spark.local.dir" -> a.work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> a.work.resolve("warehouse").toString)

    // set-up: session start plus input generation, three times
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = GraftSession.build(cores.toString, conf)
      val r = wl.setup(spark, a.seed, dir)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (in, info) = setups.last._2
    val sc = spark.sparkContext
    println(s"[graftbench] workload=${wl.name} seed=${a.seed} cores=$cores " +
      s"trace=${if (a.trace) 1 else 0}")
    println(s"[graftbench] input rows=${info.rows} bytes=${info.bytes} digest=${info.digest}")

    val digestFile = a.work.resolve("digests").resolve(s"${wl.name}-${info.digest}.txt")
    var passNo = 0
    def pass(traced: Boolean): Pass = {
      passNo += 1
      wl.cleanup(spark, in)
      spark.catalog.clearCache()
      val before = sc.getPersistentRDDs.size
      val listener = new JobListener
      if (traced) sc.addSparkListener(listener)
      val tr = new Tracer(sc, s"graftbench-${ProcessHandle.current().pid()}-$passNo", traced)
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val result = Try(wl.run(spark, in, tr))
      val wall = (System.nanoTime() - n0) / 1e9
      val w1 = System.currentTimeMillis()
      if (traced) { BenchBus.drain(sc); sc.removeSparkListener(listener) }
      val failures = result match {
        case Failure(e) => Seq(s"run failed: $e")
        case Success((out, _)) =>
          Try(wl.check(spark, in, out)).fold(e => Seq(s"check failed: $e"), identity) ++
            wl.outputDigest(out).flatMap(d => sameDigest(digestFile, d))
      }
      val leaked = sc.getPersistentRDDs.size - before
      wl.cleanup(spark, in)
      val stats = result.map(_._2).getOrElse(RunStats())
      val layer =
        if (traced) Layers(tr, listener, w0, w1, wall, cores, stats, leaked) else Map.empty[String, Double]
      System.err.println(f"[graftbench] pass $passNo traced=$traced wall=$wall%.3f s")
      Pass(wall, failures, leaked, oldGenAfterGcMb(), stats.batches, layer)
    }

    // the first pass is the process's first; more follow only while
    // fewer than --seconds have been measured
    val first = pass(a.trace)
    val more = Seq.newBuilder[Pass]
    var measured = first.wall
    while (measured < a.seconds) {
      val p = pass(a.trace)
      more += p
      measured += p.wall
    }
    val passes = first +: more.result()
    spark.stop()

    passes.foreach(_.failures.foreach(f => System.err.println(s"[graftbench] check: $f")))
    val failed = passes.count(_.failures.nonEmpty)
    val wall = Stats.median(passes.map(_.wall))
    println(s"[graftbench] passes ${passes.size}")
    val metrics: Seq[(Metric, Double)] =
      if (!a.trace) {
        val v = Map(
          "wall_s" -> wall,
          "input_mb_s" -> info.bytes / 1e6 / wall,
          "peak_heap_mb" -> passes.map(_.heapMb).max,
          "setup_s" -> Stats.median(setups.map(_._1)))
        // shown, not gated: `failed`/`attempted` carry the failure share,
        // and batch latencies exist on one workload only
        println(f"[graftbench] failed_frac ${failed.toDouble / passes.size}%.4f share")
        println(s"[graftbench] pins.leaked_rdds ${passes.map(_.leaked).max} count")
        // the median, and a tail percentile only with ten samples beyond it
        val batches = passes.flatMap(_.batches)
        if (batches.nonEmpty) {
          println(s"[graftbench] batch_p50_s ${Stats.median(batches)} s (${batches.size} samples)")
          Stats.highestReportable(batches.size, Seq(90, 99)) match {
            case Some(p) => println(s"[graftbench] batch_p${p}_s ${Stats.percentile(batches, p)} s")
            case None => println(s"[graftbench] batch_p90_s not reported: ${batches.size} samples " +
              s"leave ${Stats.samplesBeyond(batches.size, 90)} beyond it, fewer than 10")
          }
        }
        endToEnd.map(m => m -> v(m.name))
      } else
        perLayer.map { m =>
          m -> (if (m.name == "trace.wall_s") wall
                else Stats.median(passes.map(_.layer.getOrElse(m.name, 0.0))))
        }
    metrics.foreach { case (m, v) => println(s"[graftbench] ${m.name} $v ${m.unit}") }
    val body = metrics.map { case (m, v) =>
      s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${passes.size}, "failed": $failed, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** A run's output digest must repeat: it is stored on the first run
    * over a given input and compared on every later one.
    */
  private def sameDigest(file: Path, d: String): Option[String] = {
    Files.createDirectories(file.getParent)
    if (!Files.exists(file)) { Files.write(file, d.getBytes(UTF_8)); None }
    else {
      val prev = new String(Files.readAllBytes(file), UTF_8).trim
      if (prev == d) None else Some(s"output digest $d differs from an earlier run's $prev")
    }
  }

  /** Old-generation occupancy right after a full collection. The first
    * collection lets Spark's ContextCleaner release the blocks of frames
    * that became unreachable; the second measures what is left.
    */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old Gen") || p.getName.contains("Tenured")))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }
}

/** The per-layer split of one traced pass. */
object Layers {
  import Tracer._

  def apply(tr: Tracer, l: JobListener, w0: Long, w1: Long, wall: Double,
            cores: Int, stats: RunStats, leaked: Int): Map[String, Double] = {
    val jobs = l.finished
    val t = l.totals
    val spans = tr.recorded
    def inclusive(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def self(name: String) = spans.filter(_.name == name).map { s =>
      s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
    }.sum
    def jobsIn(name: String) = jobs.filter(j =>
      tr.spanOf(j).exists(s => spans.exists(a => a.name == name && tr.within(s, a))))
    val jobSum = jobs.map(_.seconds).sum
    val ckpt = jobs.filter(_.callSite.contains("Checkpoints.scala"))
    Map(
      "driver.gap_s" -> Stats.driverGap(w0, w1, jobs.map(j => (j.t0, j.t1))) / 1e3,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> t.stages.toDouble,
      "scheduler.tasks" -> t.tasks.toDouble,
      "executor.task_s" -> t.taskMs / 1e3,
      "executor.cpu_s" -> t.cpuNs / 1e9,
      "executor.gc_s" -> t.gcMs / 1e3,
      "executor.busy_share" -> t.taskMs / 1e3 / (wall * cores),
      "shuffle.read_bytes" -> t.shuffleRead.toDouble,
      "shuffle.write_bytes" -> t.shuffleWrite.toDouble,
      "shuffle.spill_bytes" -> t.spill.toDouble,
      "sources.read_bytes" -> t.inputBytes.toDouble,
      "sources.write_bytes" -> t.outputBytes.toDouble,
      "sources.write_s" -> Workloads.writeSpans.toSeq.map(inclusive).sum,
      "dedup.build_s" -> inclusive("dedup.build"),
      "dedup.probe_s" -> inclusive("dedup.probe"),
      "dedup.append_s" -> inclusive("dedup.append"),
      "dedup.cc_s" -> inclusive("dedup.cc"),
      "dedup.cc_jobs" -> jobsIn("dedup.cc").size.toDouble,
      "checkpoints.jobs" -> ckpt.size.toDouble,
      "checkpoints.job_s" -> ckpt.map(_.seconds).sum,
      "pipeline.unlabelled_job_share" ->
        (if (jobSum > 0) jobs.filter(_.description.isEmpty).map(_.seconds).sum / jobSum else 0.0),
      "pins.leaked_rdds" -> leaked.toDouble,
    ) ++ Main.pipelineLabels.map { lb =>
      s"pipeline.stage.$lb.job_s" ->
        jobs.filter(_.description.contains(s"pipeline pin: $lb")).map(_.seconds).sum
    } ++ Workloads.spanNames.map(n => s"span.$n.self_s" -> self(n)) ++ stats.counts
  }
}
