package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Examples

class ExamplesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")

  test("QuasiMonteCarlo pi estimate converges") {
    val pi = Examples.estimatePi(spark, 100000, 8)
    assert(math.abs(pi - math.Pi) < 0.01, s"estimate $pi too far from pi")
  }

  test("JobControl runs a diamond DAG in dependency order; failures cascade") {
    import graft.jobs.JobControl
    import JobControl.ControlledJob
    val log = scala.collection.mutable.Buffer[String]()
    def job(n: String, deps: String*) =
      ControlledJob(n, deps.toSeq, () => { log += n; () })
    val (st, order) = JobControl.run(Seq(
      job("d", "b", "c"), job("b", "a"), job("c", "a"), job("a")))
    assert(st.values.forall(_ == JobControl.Success))
    assert(order.head == "a" && order.last == "d")
    assert(log.indexOf("b") > log.indexOf("a") && log.indexOf("d") > log.indexOf("c"))

    // a failing job: dependents get DEPENDENT_FAILED, independents run
    val (st2, order2) = JobControl.run(Seq(
      ControlledJob("boom", Seq.empty, () => sys.error("x")),
      job("down", "boom"),
      job("solo")))
    assert(st2("boom") == JobControl.Failed)
    assert(st2("down") == JobControl.DependentFailed)
    assert(st2("solo") == JobControl.Success)
    assert(!order2.contains("down"))

    intercept[IllegalArgumentException] {
      JobControl.run(Seq(job("x", "y"), job("y", "x")))
    }
  }

  test("BBP extracts the known hex digits of pi, any start offset") {
    // π = 3.243F6A8885A308D313198A2E03707344...
    assert(graft.jobs.Bbp.hexDigits(spark, 0, 16, 4) == "243F6A8885A308D3")
    // digit extraction is position-independent (the distributed property)
    assert(graft.jobs.Bbp.hexDigits(spark, 16, 8, 3) == "13198A2E")
  }

  test("randomTextLines is deterministic and partitioning-independent") {
    val a = Examples.randomTextLines(spark, 500, 20, 4)
    val b = Examples.randomTextLines(spark, 500, 20, 16)
    assert(a.collect().map(_.getString(0)).sorted.toSeq ==
      b.collect().map(_.getString(0)).sorted.toSeq)
    assert(a.select(size(split(col("line"), " "))).distinct().count() == 1)
  }

  test("randomBinary produces bounded variable-length values") {
    val df = Examples.randomBinary(spark, 1000, 4)
    val lens = df.select(length(col("value")).as("l"))
      .agg(min(col("l")), max(col("l"))).head()
    assert(lens.getInt(0) >= 8 && lens.getInt(1) <= 32)
    assert(df.count() == 1000)
  }

  test("distCp copies every file byte-identically") {
    val base = Files.createTempDirectory("graft-distcp").toString
    val src = s"$base/src"
    spark.range(1000).toDF("id").repartition(4).write.parquet(src)
    val copied = Examples.distCp(spark, src, s"$base/dst")
    assert(copied >= 4)
    val a = spark.read.parquet(src).agg(sum(col("id"))).head().getLong(0)
    val b = spark.read.parquet(s"$base/dst").agg(sum(col("id"))).head().getLong(0)
    assert(a == b)
  }

  test("Sudoku: solves a known puzzle, rejects contradictions, batches map-only") {
    import graft.jobs.Sudoku
    import spark.implicits._
    def board(rows: Seq[String]): String =
      rows.map(_.map(c => if (c == '0') "?" else c.toString).mkString(" "))
        .mkString("\n")
    val puzzle = board(Seq(
      "003020600", "900305001", "001806400",
      "008102900", "700000008", "006708200",
      "002609500", "800203009", "005010300"))
    val expected = Seq(
      "483921657", "967345821", "251876493",
      "548132976", "729564138", "136798245",
      "372689514", "814253769", "695417382")
      .map(_.mkString(" ")).mkString("\n")
    assert(Sudoku.solve(puzzle) == Some(expected))
    // a preset contradiction (two 5s in the first row) has no cover
    val bad = board(Seq(
      "553020600", "900305001", "001806400",
      "008102900", "700000008", "006708200",
      "002609500", "800203009", "005010300"))
    assert(Sudoku.solve(bad).isEmpty)
    // out-of-range presets are rejected, not silently mis-encoded
    intercept[IllegalArgumentException] {
      Sudoku.solve(board(Seq("003020600", "900305001", "001806400",
        "008102900", "700000008", "006708200",
        "002609500", "800203009", "005010300")).replace("3", "12"))
    }
    // batch lane: one task per puzzle; unsolvable, malformed, and NULL
    // rows go NULL instead of aborting the job
    val out = Sudoku.solveAll(
      Seq((1L, puzzle), (2L, bad), (3L, "not a board"), (4L, null))
        .toDF("id", "p"), "id", "p")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) == Some(expected) && out(2L).isEmpty)
    assert(out(3L).isEmpty && out(4L).isEmpty)
  }

  test("distCh applies permissions to every file in parallel") {
    val base = Files.createTempDirectory("graft-distch").toString
    (0 until 20).foreach { i =>
      val p = java.nio.file.Paths.get(base, s"sub${i % 3}", s"f$i.txt")
      Files.createDirectories(p.getParent)
      Files.write(p, s"d$i".getBytes)
    }
    val changed = Examples.distCh(spark, base, perm = Some("0600"))
    assert(changed == 20)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(base), true)
    while (it.hasNext) {
      val st = it.next()
      assert(st.getPermission.toShort == java.lang.Short.parseShort("0600", 8),
        s"${st.getPath} has ${st.getPermission}")
    }
    intercept[IllegalArgumentException] {
      Examples.distCh(spark, base, perm = None)
    }
  }

  test("GridMix-lite replays a trace serially with deterministic output sizes") {
    import graft.jobs.LoadGen
    import graft.jobs.LoadGen.TraceJob
    val trace = Seq(
      TraceJob("small_wide", 1000, 100, 100),
      TraceJob("filter_heavy", 2000, 25, 50),
      TraceJob("empty", 500, 0, 100))
    val runs = LoadGen.replayTrace(spark, trace)
    assert(runs.map(_._1) == trace.map(_.name), "jobs must replay in order")
    assert(runs.forall(_._2 > 0))
    val rows = runs.map(r => r._1 -> r._3).toMap
    assert(rows("small_wide") == 250,
      s"full selectivity must keep every distinct key: $rows")
    assert(rows("empty") == 0)
    assert(rows("filter_heavy") > 0 && rows("filter_heavy") < 500)
    // deterministic: same trace, same outputs
    assert(LoadGen.replayTrace(spark, trace).map(_._3) == runs.map(_._3))
  }

  test("Rumen analog parses an event log into a replayable GridMix trace") {
    import graft.jobs.{LoadGen, Rumen}
    // A schema-faithful event-log excerpt (the public JSON-lines format
    // spark.eventLog.enabled writes and the History Server reads): two
    // jobs — a 2-stage shuffle job and a 1-stage map-only job — plus an
    // unrelated event, a malformed line, a failed task attempt, and a
    // TaskEnd for a stage no job claims, all of which must be ignored.
    def task(stage: Int, in: Long, shuf: Long, out: Long,
             reason: String = "Success", idx: Int = 0,
             stageAtt: Int = 0): String =
      s"""{"Event":"SparkListenerTaskEnd","Stage ID":$stage,"Stage Attempt ID":$stageAtt,"Task Type":"ResultTask",""" +
        s""""Task End Reason":{"Reason":"$reason"},""" +
        s""""Task Info":{"Task ID":${stage * 100 + idx},"Index":$idx,"Attempt":0,"Launch Time":1000,"Finish Time":1500},""" +
        s""""Task Metrics":{"Input Metrics":{"Bytes Read":${in * 10},"Records Read":$in},""" +
        s""""Output Metrics":{"Bytes Written":${out * 10},"Records Written":$out},""" +
        s""""Shuffle Write Metrics":{"Shuffle Bytes Written":${shuf * 10},"Shuffle Records Written":$shuf}}}"""
    val lines = Seq(
      """{"Event":"SparkListenerApplicationStart","App Name":"probe","Timestamp":900}""",
      """{"Event":"SparkListenerJobStart","Job ID":0,"Submission Time":1000,"Stage IDs":[0,1]}""",
      task(0, 100, 50, 0), task(0, 100, 50, 0, idx = 1), task(1, 0, 0, 30),
      // a killed speculative duplicate: must NOT be counted
      task(0, 100, 50, 0, reason = "TaskKilled", idx = 1),
      // a fetch-failure stage retry re-succeeds task index 1 under stage
      // attempt 1 with different metrics: must dedup against the
      // original success, not double-count
      task(0, 999, 999, 999, idx = 1, stageAtt = 1),
      """{"Event":"SparkListenerStageCompleted","Stage Info":{"Stage ID":0}}""",
      """{"Event":"SparkListenerJobEnd","Job ID":0,"Completion Time":3500,"Job Result":{"Result":"JobSucceeded"}}""",
      """{"Event":"SparkListenerJobStart","Job ID":1,"Submission Time":4000,"Stage IDs":[2]}""",
      task(2, 10, 0, 0),
      task(99, 1000, 1000, 1000),
      """not json at all {{{""",
      """{"Event":"SparkListenerJobEnd","Job ID":1,"Completion Time":4250,"Job Result":{"Result":"JobSucceeded"}}""")
    // a SECOND application whose job/stage ids overlap the first: job
    // and stage numbering restarts per app, so nothing may cross-credit.
    // Its one job is a write-only generator (no input, no shuffle).
    val lines2 = Seq(
      """{"Event":"SparkListenerJobStart","Job ID":0,"Submission Time":2000,"Stage IDs":[0]}""",
      task(0, 0, 0, 5000),
      // a success whose Task Info carries no launch/finish times
      // (truncated log): counts as a task but must NOT drag
      // avg_task_sec toward 0
      """{"Event":"SparkListenerTaskEnd","Stage ID":0,"Task End Reason":{"Reason":"Success"},"Task Info":{"Task ID":9,"Index":1}}""",
      """{"Event":"SparkListenerJobEnd","Job ID":0,"Completion Time":2400,"Job Result":{"Result":"JobSucceeded"}}""")
    val dir = Files.createTempDirectory("graft-rumen")
    Files.write(dir.resolve("app1.log"), lines.mkString("\n").getBytes("UTF-8"))
    Files.write(dir.resolve("app2.log"), lines2.mkString("\n").getBytes("UTF-8"))

    // one mined frame feeds every downstream check: jobHistory is eager
    // (it checkpoints its parsed slice at construction), so each extra
    // call would re-scan the logs
    val histDf = Rumen.jobHistory(spark, dir.toString)
    val hist = histDf.orderBy("app", "job_id").collect()
    assert(hist.length == 3, hist.mkString("; "))
    val j0 = hist(0)
    assert(j0.getString(0) == "app1.log" && j0.getLong(1) == 0 &&
      j0.getDouble(3) == 2.5)
    assert(j0.getLong(4) == 2 && j0.getLong(5) == 3, s"stages/tasks: $j0")
    assert(j0.getLong(6) == 200 && j0.getLong(7) == 100 && j0.getLong(8) == 30)
    val j1 = hist(1)
    assert(j1.getLong(4) == 1 && j1.getLong(5) == 1)
    assert(j1.getLong(6) == 10 && j1.getLong(7) == 0 && j1.getLong(8) == 0)
    val gen = hist(2)
    assert(gen.getString(0) == "app2.log" && gen.getLong(6) == 0 &&
      gen.getLong(8) == 5000, s"generator job: $gen")
    // two tasks, but only one carried times: the timeless task may not
    // deflate the 0.5 s average
    assert(gen.getLong(5) == 2 && gen.getDouble(9) == 0.5,
      s"timeless task deflated avg: $gen")

    val trace = Rumen.toTrace(histDf)
    assert(trace == Seq(
      // job 0: rows = input 200, map 100/200 = 50%, red 30/100 = 30%
      LoadGen.TraceJob("app1.log/job_0", 200, 50, 30),
      // job 1: never shuffled -> reduce stage replays wide open
      LoadGen.TraceJob("app1.log/job_1", 10, 0, 100),
      // write-only generator: replay volume comes from output_records
      LoadGen.TraceJob("app2.log/job_0", 5000, 100, 100)),
      trace.mkString("; "))

    // the parsed trace feeds the GridMix-lite replayer directly
    val runs = LoadGen.replayTrace(spark, trace.take(2))
    assert(runs.map(_._1) == Seq("app1.log/job_0", "app1.log/job_1") &&
      runs.forall(_._2 > 0))

    // ...and the sls-lite simulator (rumen -> sls, the reference's own
    // handoff): mined task counts + mean runtimes (500 ms fixture tasks)
    import graft.jobs.Sls
    val sim = Sls.fromHistory(histDf)
    assert(sim == Seq(
      Sls.SimJob("app1.log/job_0", 0.0, 3, 0.5),
      Sls.SimJob("app1.log/job_1", 3.0, 1, 0.5),
      Sls.SimJob("app2.log/job_0", 1.0, 2, 0.5)), sim.mkString("; "))
    val (stats, makespan) = Sls.simulate(sim, slots = 2, Sls.Fifo)
    assert(stats.forall(s => s.finishSec >= s.startSec && s.waitSec >= 0))
    assert(makespan > 0)
  }

  test("SLS analog: FIFO makes the late job wait; FAIR shares the slots") {
    import graft.jobs.Sls
    import Sls.{SimJob, JobStats}
    // two slots; job a: 4 tasks x 10 s at t=0, job b: 2 tasks x 10 s at t=5
    val trace = Seq(SimJob("a", 0, 4, 10), SimJob("b", 5, 2, 10))
    val (fifo, mkFifo) = Sls.simulate(trace, slots = 2, Sls.Fifo)
    // FIFO: a fills both slots for two waves (0-10, 10-20); b waits 15 s
    assert(fifo == Seq(JobStats("a", 0, 20, 0), JobStats("b", 20, 30, 15)),
      fifo.mkString("; "))
    assert(mkFifo == 30)
    val (fair, mkFair) = Sls.simulate(trace, slots = 2, Sls.Fair)
    // FAIR: at t=10 b has fewest running tasks and gets a slot; its wait
    // drops 15 -> 5 while the makespan stays 30
    assert(fair == Seq(JobStats("a", 0, 30, 0), JobStats("b", 10, 30, 5)),
      fair.mkString("; "))
    assert(mkFair == 30)
    // a zero-task job schedules trivially: start == finish == submit —
    // and its finish is still visible in the makespan
    val (z, mkZ) = Sls.simulate(Seq(SimJob("z", 7, 0, 10)), slots = 1, Sls.Fifo)
    assert(z == Seq(JobStats("z", 7, 7, 0)) && mkZ == 7)
    // single slot: running counts tie 0-0 at EVERY decision point (the
    // finished task drains before counting), so without the deficit
    // tie-break FAIR would degenerate to FIFO and starve the small job
    // for 1000 s
    val (mono, mkMono) = Sls.simulate(
      Seq(SimJob("big", 0, 100, 10), SimJob("one", 0, 1, 10)),
      slots = 1, Sls.Fair)
    assert(mono(1) == JobStats("one", 10, 20, 10) && mkMono == 1010,
      mono.mkString("; "))
  }

  test("NNBench analog: create/read/delete phases report ops/sec and clean up") {
    import graft.jobs.LoadGen
    val dir = Files.createTempDirectory("graft-nnbench").toString + "/work"
    val ops = LoadGen.nnbench(spark, dir, files = 100, partitions = 4)
    assert(ops.keySet == Set("create_write", "open_read", "delete"))
    assert(ops.values.forall(_ > 0), s"non-positive ops/sec: $ops")
    // the delete phase removed every benchmark file
    val left = new java.io.File(dir).listFiles()
    assert(left == null || left.forall(!_.getName.startsWith("nn_")),
      s"benchmark files left behind: ${left.toSeq}")
  }

  test("MRBench analog: repeated identity sort jobs report per-run latency") {
    import graft.jobs.LoadGen
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mrbench").toString
    val runs = LoadGen.mrbench(spark, dir, inputLines = 100, runs = 3)
    assert(runs.length == 3 && runs.forall(_ > 0))
    // the job is real: sorted output text matches the padded input
    val out = spark.read.text(s"$dir/mr_output/run_3")
      .as[String].collect().sorted.toSeq
    assert(out == (0 until 100).map(i => f"$i%03d"))
  }

  test("TestDFSIO analog: sequential write then read through TeraIO") {
    import graft.jobs.LoadGen
    val dir = Files.createTempDirectory("graft-dfsio").toString + "/io"
    val (wSec, wMbps) = LoadGen.dfsioWrite(spark, dir, nFiles = 2, mbPerFile = 2)
    val (rSec, rMbps) = LoadGen.dfsioRead(spark, dir)
    assert(wSec > 0 && rSec > 0 && wMbps > 0 && rMbps > 0)
    // 2 files x 2 MB of 100-byte records on disk, every byte read back
    assert(graft.sources.TeraIO.dataBytes(spark, dir) == 4L * 1000000L)
  }

  test("FileBench analog: every format lane reports positive MB/s and round-trips") {
    import graft.jobs.LoadGen
    val dir = Files.createTempDirectory("graft-filebench").toString + "/fb"
    val mbps = LoadGen.fileBench(spark, dir, mb = 1)
    assert(mbps.keySet == Set("txt_write", "txt_read", "seq_write",
      "seq_read", "seq_blk_write", "seq_blk_read"))
    assert(mbps.values.forall(_ > 0), s"non-positive lane: $mbps")
    // the lanes wrote real data: both sequencefile variants read back
    // the full record set
    import graft.sources.sequencefile.SequenceFileIO
    assert(SequenceFileIO.read(spark, s"$dir/seq").count() == 10000L)
    assert(SequenceFileIO.read(spark, s"$dir/seq_blk").count() == 10000L)
  }

  test("Slive analog: mixed op load runs failure-free and cleans up") {
    import graft.jobs.LoadGen
    val dir = Files.createTempDirectory("graft-slive").toString + "/slive"
    val (ops, rate, fails) =
      LoadGen.slive(spark, dir, filesPerTask = 20, partitions = 4)
    // mkdir + creates + ls + renames + reads + deletes per task
    assert(ops == 4L * (4 * 20 + 2), s"op count $ops")
    assert(fails == 0L, s"$fails slive ops failed")
    assert(rate > 0)
    // deletes removed every file; only the per-task dirs remain
    val left = new java.io.File(dir).listFiles()
    assert(left != null && left.forall(d =>
      d.isDirectory && {
        val fs = d.listFiles()
        fs == null || fs.forall(f => f.getName.endsWith(".crc") || f.isDirectory)
      }), s"slive files left behind")
  }

  test("BigMapOutput analog: binary records survive the identity shuffle byte-for-byte") {
    import graft.jobs.LoadGen
    import graft.sources.sequencefile.SequenceFileIO
    val dir = Files.createTempDirectory("graft-bmo").toString + "/bmo"
    val (sec, mbps) = LoadGen.bigMapOutput(spark, dir, mb = 1, partitions = 4)
    assert(sec > 0 && mbps > 0)
    // identity shuffle: the output multiset equals the input multiset
    import org.apache.spark.sql.functions._
    def sig(p: String) = SequenceFileIO.read(spark, p)
      .select(expr("bit_xor(xxhash64(key, value))").as("h"),
        count(lit(1)).as("n")).head()
    assert(sig(s"$dir/bmo_out") == sig(s"$dir/bmo_in"))
    assert(sig(s"$dir/bmo_in").getLong(1) == 10000L)
  }

  test("ThreadedMapBenchmark analog: map-side sort reports positive MB/s") {
    import graft.jobs.LoadGen
    val (sec, mbps) = LoadGen.threadedMapBench(spark, mb = 1, partitions = 4)
    assert(sec > 0 && mbps > 0)
  }

  test("SleepJob analog schedules the requested map/reduce task counts") {
    import graft.jobs.LoadGen
    assert(LoadGen.sleepJob(spark, mapTasks = 4, mapMs = 1) == 4L)
    assert(LoadGen.sleepJob(spark, 4, 1, redTasks = 2, redMs = 1) == 4L)
  }

  test("loadGen shapes map/reduce selectivity deterministically") {
    import graft.jobs.LoadGen
    val df = spark.range(1000).select(concat(lit("k"), col("id")).as("k"))
    val full = LoadGen.loadGen(df, "k", 100, 100)
    assert(full.count() == 1000)
    val shaped = LoadGen.loadGen(df, "k", 50, 50)
    val n = shaped.count()
    // deterministic: identical on rerun; selectivity ~25% of keys
    assert(n == LoadGen.loadGen(df, "k", 50, 50).count())
    assert(n > 150 && n < 350, s"selectivity off: $n")
  }

  test("TrainingPipeline HTML ingest: wrapped corpus reduces to the plain-text run") {
    import graft.jobs.TrainingPipeline
    // every doc's prose as one period-terminated line (so the C4 gate
    // keeps it), then the same corpus wrapped in page chrome the ingest
    // stages must strip back off: identical reports == the HTML path
    // recovered exactly the prose
    val base = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text", concat(col("text"), lit(".")))
    val wrapped = base.withColumn("text", concat(
      lit("<html><head><title>t</title><style>p{}</style></head><body><h1>Doc "),
      col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
      lit("</p><div class=\"nav\"><a href=\"/x\">more from nav</a></div>" +
        "<!-- chrome --></body></html>")))
    val (_, rHtml) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(wrapped), ingestHtml = true, c4MinWords = Some(3),
      lang = "en", minTokens = 5, normalize = true)
    val (_, rPlain) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(base), lang = "en", minTokens = 5, normalize = true)
    assert(rHtml == rPlain, s"HTML ingest diverged: $rHtml vs $rPlain")
    assert(rHtml.packs > 0, s"ingest pipeline emptied out: $rHtml")
  }

  test("TrainingPipeline template strip: boilerplate-injected corpus reduces to the clean run") {
    import graft.jobs.TrainingPipeline
    val dir = "/root/testdata/sf0.001"
    val base = graft.Tables(spark, dir, "documents")
    // every doc gains a corpus-wide banner line; half also a footer —
    // stage 0c must strip both exactly, leaving the clean corpus
    val damaged = base.withColumn("text", concat(col("text"),
      lit("\nSUBSCRIBE NOW to this banner"),
      when(col("doc_id") % 2 === 0, lit("\n(c) footer example line"))
        .otherwise(lit(""))))
    val (_, rStrip) = TrainingPipeline.run(spark, dir,
      input = Some(damaged), templateMinDf = Some(5L),
      lang = "en", minTokens = 5)
    val (_, rPlain) = TrainingPipeline.run(spark, dir,
      input = Some(base), lang = "en", minTokens = 5)
    assert(rStrip == rPlain, s"template strip diverged: $rStrip vs $rPlain")
    assert(rStrip.packs > 0, s"strip pipeline emptied out: $rStrip")
  }

  test("TrainingPipeline dedupParagraphs: a repeated paragraph survives exactly once") {
    import graft.jobs.TrainingPipeline
    val dir = "/root/testdata/sf0.001"
    val base = graft.Tables(spark, dir, "documents")
    // every doc gains the same trailing paragraph; keep-first must keep
    // exactly ONE copy corpus-wide (template strip would keep zero)
    val banner = "shared trailing boilerplate paragraph"
    val damaged = base.withColumn("text",
      concat(col("text"), lit("\n\n" + banner)))
    // count survivors at the stage-0 surface: run with NO other stages
    // cutting rows, then count docs still carrying the banner
    val deduped = graft.operators.TextOps.dedupParagraphsIn(
      damaged, "doc_id", "text")
    val carriers = deduped.filter(col("text").contains(banner)).count()
    assert(carriers == 1L, s"banner survived in $carriers docs, want 1")
    // and through the pipeline: the flag must not disturb the clean run
    // (fixture corpus has no paragraph structure, so 0d is a no-op on
    // it aside from the fixture's exact-duplicate docs, which exact
    // dedup removes in both runs anyway)
    val (_, rDedup) = TrainingPipeline.run(spark, dir,
      input = Some(base), dedupParagraphs = true,
      lang = "en", minTokens = 5)
    assert(rDedup.packs > 0, s"paragraph-dedup pipeline emptied out: $rDedup")
  }

  test("TrainingPipeline fixEncoding: a mojibake-damaged corpus reduces to the clean run") {
    import graft.jobs.TrainingPipeline
    val dir = "/root/testdata/sf0.001"
    val base = graft.Tables(spark, dir, "documents")
    // damage = the classic accident applied to whole documents: UTF-8
    // bytes re-read as Latin-1. The fixture is ASCII, so plant accented
    // content first to make the repair non-vacuous, then damage every
    // third doc — stage 0b must recode them back so digests converge
    // with the clean run
    val accented = base.withColumn("text",
      concat(col("text"), lit(" caffé crème menü")))
    val damage = udf((s: String) =>
      new String(s.getBytes("UTF-8"), java.nio.charset.StandardCharsets.ISO_8859_1))
    val damaged = accented.withColumn("text",
      when(col("doc_id") % 3 === 0, damage(col("text"))).otherwise(col("text")))
    val (_, rFix) = TrainingPipeline.run(spark, dir,
      input = Some(damaged), fixEncoding = true, lang = "en", minTokens = 5)
    val (_, rClean) = TrainingPipeline.run(spark, dir,
      input = Some(accented), lang = "en", minTokens = 5)
    assert(rFix == rClean, s"encoding repair diverged: $rFix vs $rClean")
    assert(rFix.packs > 0, s"repair pipeline emptied out: $rFix")
  }

  test("TrainingPipeline classifier gate keeps exactly the positive-scored docs") {
    import graft.jobs.TrainingPipeline
    import graft.operators.Classify
    // synthetic corpus with PROVABLE scores: every doc passes the en
    // rule gate; even docs carry `cleanword` (positive class), odd docs
    // `spamword`. Trained weights give cleanword +N_pos*N_neg and
    // spamword -N_pos*N_neg, each doc's unique doc<i> token adds the
    // same sign, shared stopwords weigh 0 — so score sign == class,
    // and stage 1c must keep exactly the even ids
    import spark.implicits._
    val docs = (0L until 40L).toSeq.map(i =>
      (i, "s0", s"the a is of and doc$i " +
        (if (i % 2 == 0) "cleanword" else "spamword")))
      .toDF("doc_id", "source", "text")
    val w = Classify.trainTokenWeights(docs, "doc_id", "text",
      col("doc_id") % 2 === 0)
    val (_, rGate) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(docs), classifierWeights = Some(w),
      lang = "en", minTokens = 5)
    val (_, rPlain) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(docs), lang = "en", minTokens = 5)
    assert(rPlain.afterFilter == 40, s"rule gates should keep all: $rPlain")
    assert(rGate.input == 40 && rGate.afterFilter == 20,
      s"classifier gate must keep exactly the 20 positive docs: $rGate")
  }

  test("TrainingPipeline delta gate processes exactly the added+changed docs") {
    import graft.jobs.TrainingPipeline
    val dir = "/root/testdata/sf0.001"
    val d = graft.Tables(spark, dir, "documents")
    // previous crawl: ids %5==0 absent (-> added now), %3==0 had other
    // content (-> changed now); everything else byte-identical
    val prev = d.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" old-rev"))).otherwise(col("text")))
    val (_, r) = TrainingPipeline.run(spark, dir,
      previousSnapshot = Some(prev), lang = "en", minTokens = 5)
    val expected = d.filter(col("doc_id") % 5 === 0 ||
      (col("doc_id") % 3 === 0)).count()
    assert(r.input == expected, s"delta gate kept ${r.input}, want $expected")
    // an identical previous snapshot drains the pipeline to zero —
    // every stage must tolerate the empty frame
    val (_, rSame) = TrainingPipeline.run(spark, dir,
      previousSnapshot = Some(d), lang = "en", minTokens = 5)
    assert(rSame.input == 0 && rSame.packs == 0,
      s"identical snapshot should process nothing: $rSame")
  }

  test("TrainingPipeline substring decontamination strips quoted eval spans in place") {
    import graft.jobs.TrainingPipeline
    import spark.implicits._
    // three-doc corpus with provable stage routing at w = 10:
    //  - docB IS a benchmark doc (eval1 verbatim) -> 3-gram frac 1.0,
    //    the DOC-LEVEL gate (stage 4) drops it whole;
    //  - docQ quotes the 10-token benchmark span eval2 inside unrelated
    //    text -> frac 11/18 < 0.8 survives the doc gate, and stage 4c
    //    strips exactly the quoted span;
    //  - docC is clean and must pass untouched.
    val e = (0 until 10).map(i => s"e$i").mkString(" ")
    val docB = s"the a is of and $e"
    val docQ = s"the a is of and t1 t2 t3 t4 t5 $e"
    val docC = "the a is of and c1 c2 c3 c4 c5"
    val corpus = Seq((1L, "s0", docQ), (2L, "s0", docB), (3L, "s0", docC))
      .toDF("doc_id", "source", "text")
    val evalSet = Seq((100L, docB), (101L, e)).toDF("doc_id", "text")
    val (packed, r) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(corpus), evalDocs = Some(evalSet),
      decontamSubstringW = Some(10), lang = "en", minTokens = 5)
    assert(r.afterNearDup == 3, s"near-dup must keep all three: $r")
    assert(r.afterDecontam == 2, s"doc gate must drop exactly docB: $r")
    assert(r.afterSubstring == 2, s"span strip must drop no whole doc: $r")
    // the strip is IN PLACE: the damaged run's packed output equals a
    // clean run over the already-stripped corpus (docQ minus the span,
    // docB absent) with both decon stages off
    val cleanCorpus = Seq(
      (1L, "s0", "the a is of and t1 t2 t3 t4 t5"), (3L, "s0", docC))
      .toDF("doc_id", "source", "text")
    val (packedClean, _) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(cleanCorpus), lang = "en", minTokens = 5)
    assert(packed.exceptAll(packedClean).isEmpty &&
      packedClean.exceptAll(packed).isEmpty,
      "stripped-run packs != pre-stripped-corpus packs")
    // without the stage, the quoted span rides through (afterSubstring
    // mirrors afterDecontam and docQ keeps all 21 tokens)
    val (packedOff, rOff) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(corpus), evalDocs = Some(evalSet),
      lang = "en", minTokens = 5)
    assert(rOff.afterSubstring == rOff.afterDecontam,
      s"skip path must pass through: $rOff")
    val tokTotal = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(sum(col("tok_sum"))).head.getLong(0)
    assert(tokTotal(packedOff) == tokTotal(packed) + 10,
      s"strip must remove exactly the 10-token span: " +
        s"${tokTotal(packedOff)} vs ${tokTotal(packed)}")
  }

  test("TrainingPipeline media stage drops cluster losers; media-less, undecodable, and non-corpus ids are untouched") {
    import graft.jobs.TrainingPipeline
    import graft.multimodal.Multimodal
    import spark.implicits._
    // controlled corpus: distinct english texts (pass the lang/length
    // gates, no text-level dup in sight) so every drop below is the
    // MEDIA stage's doing
    val corpus = Seq(
      (10L, "src0", "the quick brown fox is one of a kind and jumps high"),
      (13L, "src0", "a completely different story about rivers is told of the north and east"),
      (15L, "src0", "markets of the old town are busy and a trader is shouting prices"),
      (21L, "src0", "the engine room hums and a gauge is close to the red line of danger"),
      (24L, "src0", "children of the valley play a game and the winner is carried home"),
      (40L, "src0", "a library card is the key of knowledge and shelves hold the maps"),
      (55L, "src0", "the lighthouse keeper logs a storm and is glad of the thick walls"),
      (77L, "src0", "a narrow bridge over the gorge is crossed by one cart of hay and salt")
    ).toDF("doc_id", "source", "text")
    val row = (id: Long) => corpus.filter(col("doc_id") === id)
      .select(col("doc_id"), col("text"))
    // audio: 13 re-uploads 10's recording byte-identically (exact
    // group), 15 posts a mid-stream extract of it (offset vote), 40
    // records its own, 77's media does not decode (text bytes — the
    // %10=7 fixture law), and a NON-corpus id 999 loses to 40 (the
    // drop of an id outside the corpus must be a no-op)
    val wavs = Multimodal.fabricateAudio(row(10L))
      .unionByName(Multimodal.fabricateAudio(row(10L), idOffset = 3))
      .unionByName(Multimodal.fabricateAudio(row(10L), idOffset = 5, startFrame = 64))
      .unionByName(Multimodal.fabricateAudio(row(40L)))
      .unionByName(Multimodal.fabricateAudio(row(77L)))
      .unionByName(Multimodal.fabricateAudio(row(40L), idOffset = 959))
    // video: 24 is a head-clipped re-encode of 21's 3-frame stream
    // (2 shared frame hashes -> support 2 at offset +1)
    val vids = Multimodal.fabricateFrameStream(row(21L))
      .unionByName(Multimodal.fabricateFrameStream(row(21L), idOffset = 3, frameShift = 1))
    val (_, r) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(corpus), lang = "en", minTokens = 5,
      audioMedia = Some(wavs), videoMedia = Some(vids))
    assert(r.afterSemantic == 8, s"pre-media stages must keep all 8: $r")
    // exactly 13 (audio exact dup), 15 (audio extract), 24 (video
    // clip) lose their elections; 10/21/40 keep as cluster minima,
    // 55 has no media row, 77's media is undecodable, 999 is not a
    // corpus doc
    assert(r.afterMedia == 5, s"media stage must drop exactly {13,15,24}: $r")
    // skip path: no media frames -> pass-through
    val (_, rOff) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      input = Some(corpus), lang = "en", minTokens = 5)
    assert(rOff.afterMedia == rOff.afterSemantic, s"media skip path filtered: $rOff")
  }

  test("TrainingPipeline composes the verified stages end-to-end") {
    import graft.jobs.TrainingPipeline
    // stand-in eval corpus: a fixed slice of the documents table
    val evalSet = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text"))
    val landing = Files.createTempDirectory("graft-pipeline").toString + "/shards"
    val (packed, r) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, rates = Map("src0" -> 2.0, "src1" -> 0.5),
      evalDocs = Some(evalSet), shardsOut = Some(landing), outShards = 4)
    // row accounting: each cleaning stage is monotone non-increasing
    assert(r.input >= r.afterFilter && r.afterFilter >= r.afterExact &&
      r.afterExact >= r.afterNearDup && r.afterNearDup >= r.afterSemantic &&
      r.afterSemantic >= r.afterDecontam,
      s"cleaning stages must shrink: $r")
    // no embeddings supplied -> the semantic stage is a pass-through
    assert(r.afterSemantic == r.afterNearDup, s"semantic skip path filtered: $r")
    assert(r.afterFilter > 0 && r.packs > 0, s"pipeline emptied out: $r")
    // decontamination removed the mock eval slice members (ratio 1.0)
    assert(r.afterDecontam < r.afterSemantic, s"eval slice not removed: $r")
    // the SemDeDup stage: embeddings keyed by doc_id cluster the dense
    // fixture vectors, so representatives-only strictly shrinks the
    // corpus — and unembedded docs (half the table) are always kept
    val embById = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val (_, rSem) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, embeddings = Some(embById))
    assert(rSem.afterSemantic < rSem.afterNearDup,
      s"semantic dedup removed nothing: $rSem")
    assert(rSem.afterSemantic > 0, s"semantic dedup emptied the corpus: $rSem")
    // chunks cover at least one window per surviving mixture row
    assert(r.chunks >= r.mixtureRows, s"chunking lost rows: $r")
    // pack budgets hold: every pack's token sum <= budget + one unit's
    // max tokens (a pack closes only when the budget is crossed)
    val overBudget = packed.filter(col("tok_sum") > 256 + 64).count()
    assert(overBudget == 0, "pack exceeded budget by more than one unit")
    // the sharded landing carries every chunk row, in-order per shard
    val landed = spark.read.parquet(landing)
    assert(landed.count() == r.chunks, "landing lost chunk rows")
    assert(landed.select("shard").distinct().count() <= 4)
    val keys = spark.read.parquet(s"$landing/shard=0")
      .select("sort_key").collect().map(_.getString(0)).toSeq
    assert(keys == keys.sorted, "shard 0 not stored in sort order")
    // determinism: the full pipeline replays to identical accounting
    val (_, r2) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, rates = Map("src0" -> 2.0, "src1" -> 0.5),
      evalDocs = Some(evalSet))
    assert(r == r2, s"pipeline not deterministic: $r vs $r2")
    // no eval corpus -> decontamination is a pass-through
    val (_, r3) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5)
    assert(r3.afterDecontam == r3.afterNearDup, s"skip path filtered rows: $r3")
    // no DSIR target -> the selection stage is a pass-through
    assert(r3.afterDsir == r3.afterDecontam, s"DSIR skip path filtered: $r3")
    // with a target, above-mean selection keeps a strict nonempty subset
    // (the corpus can't be entirely at-or-below its own mean unless all
    // per-token scores are equal — not true of real text)
    val tgt = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") % 3 === 0).select(col("text"))
    val (_, rD) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, dsirTarget = Some(tgt))
    assert(rD.afterDsir < rD.afterDecontam && rD.afterDsir > 0,
      s"DSIR selection did not bite: $rD")
    // the quality gate tightens the filter monotonically: a modest
    // threshold keeps some docs, an absurd one keeps none
    val (_, rq) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, minQuality = Some(0.2))
    assert(rq.afterFilter <= r3.afterFilter && rq.afterFilter > 0,
      s"quality gate broken: ${rq.afterFilter} vs ${r3.afterFilter}")
    val (_, rMax) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, minQuality = Some(100.0))
    assert(rMax.afterFilter == 0, s"inverted quality gate: ${rMax.afterFilter}")
    // the repetition gate tightens monotonically and a 0.0 threshold
    // drops every doc with any repeated 2-gram (most of the small-vocab
    // fixture), while an unreachable one is a no-op
    val (_, rRep) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, maxRepetition = Some(0.05))
    assert(rRep.afterFilter <= r3.afterFilter && rRep.afterFilter > 0,
      s"repetition gate broken: ${rRep.afterFilter} vs ${r3.afterFilter}")
    val (_, rRepOff) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, maxRepetition = Some(1.0))
    assert(rRepOff.afterFilter == r3.afterFilter,
      s"unreachable repetition threshold should be a no-op: ${rRepOff.afterFilter}")
    // token budgets cut the budgeted source's mixture rows and leave
    // the rest untouched; an enormous budget is a no-op
    val (_, rBud) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, tokenBudgets = Map("src0" -> 64L),
      budgetShards = 2)
    assert(rBud.mixtureRows < r3.mixtureRows && rBud.mixtureRows > 0,
      s"token budget should bite: ${rBud.mixtureRows} vs ${r3.mixtureRows}")
    val (_, rBudBig) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, tokenBudgets = Map("src0" -> 1000000L),
      budgetShards = 2)
    assert(rBudBig.mixtureRows == r3.mixtureRows,
      s"unreachable budget should be a no-op: ${rBudBig.mixtureRows}")
    // the compression-ratio gate tightens monotonically: permissive
    // bounds are a no-op (word-salad prose sits well inside (0, 1)),
    // an empty band keeps nothing
    val (_, rComp) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, compRatioBounds = Some((0.0, 1.5)))
    assert(rComp.afterFilter == r3.afterFilter,
      s"permissive comp-ratio bounds should be a no-op: ${rComp.afterFilter}")
    val (_, rCompNone) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, compRatioBounds = Some((0.0, 0.0)))
    assert(rCompNone.afterFilter == 0,
      s"empty comp-ratio band kept rows: ${rCompNone.afterFilter}")
    // normalization + PII scrub: the fixture is ascii/lower/PII-free, so
    // both stages are no-ops on the accounting — proving they don't
    // perturb the pipeline — and determinism still holds
    val (_, rNorm) = TrainingPipeline.run(spark, "/root/testdata/sf0.001",
      lang = "en", minTokens = 5, normalize = true, scrubPii = true)
    assert(rNorm == r3, s"normalize/scrub perturbed a clean corpus: $rNorm vs $r3")
  }

  test("TrainingPipeline Report: the composition lanes' observed counts equal the count-job values") {
    import graft.jobs.TrainingPipeline.Report
    import graft.queries.PipelineQueries
    val dir = s"${sys.props("user.home")}/testdata/sf0.001" // TESTDATA.md
    val e2e = PipelineQueries.pipelineE2e(spark, dir)._2
    val full = PipelineQueries.pipelineFull(spark, dir)._2
    for (r <- Seq(e2e, full)) {
      assert(r.productIterator.forall(_.asInstanceOf[Long] >= 0), s"unfilled count: $r")
      // the document stages only ever drop docs
      val docs = Seq(r.input, r.afterFilter, r.afterExact, r.afterNearDup,
        r.afterSemantic, r.afterMedia, r.afterDecontam, r.afterSubstring, r.afterDsir)
      assert(docs.zip(docs.tail).forall { case (a, b) => a >= b },
        s"a stage count grew along the chain: $r")
    }
    // Taken with the one-count-job-per-stage Report this replaced
    // (commit 82ff00a, `report = true`): the same two compositions at
    // sf0.001 on local[4], each Report printed as run returned it.
    assert(e2e == Report(500, 500, 500, 480, 480, 480, 474, 474, 474, 472, 660, 130),
      s"pipeline_e2e: $e2e")
    assert(full == Report(500, 485, 485, 471, 373, 328, 321, 321, 167, 157, 289, 70),
      s"pipeline_full: $full")
    // a gate that empties the corpus behind the repetition gate's
    // persisted frame: the input count comes from the persist build,
    // since no later job scans the empty cache
    val (_, gone) = graft.jobs.TrainingPipeline.run(spark, dir, lang = "en",
      minTokens = 5, minQuality = Some(100.0), maxRepetition = Some(0.05))
    assert(gone == Report(500, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0), s"emptied run: $gone")
  }

  test("DistSum partitions, computes distributed, and resumes from gaps") {
    import graft.jobs.DistSum
    import graft.jobs.DistSum.{Progression, Summation}
    // the DistBbp-shaped summation: n = 8k+1 ascending, e descending
    val total = Summation(
      Progression(1L, 8L, 1L + 8L * 2000L),
      Progression(8000L, -4L, 8000L - 4L * 2000L))
    assert(total.steps == 2000L)
    // partition: contiguous, covering, step-preserving
    val parts = total.partition(7)
    assert(parts.map(_.steps).sum == total.steps)
    parts.sliding(2).foreach { case Seq(a, b) =>
      assert(a.n.limit == b.n.value && a.e.limit == b.e.value,
        s"parts not contiguous: $a then $b")
    case _ => ()
    }
    // kernel sanity vs an independent direct evaluation
    val small = Summation(Progression(3L, 2L, 9L), Progression(10L, 1L, 13L))
    val direct = Seq((3L, 10L), (5L, 11L), (7L, 12L))
      .foldLeft(0.0) { case (s, (n, e)) =>
        DistSum.addMod(s, BigInt(2).modPow(e, n).toDouble / n.toDouble) }
    assert(math.abs(small.compute() - direct) < 1e-15)
    // distributed == sequential (partial fold in part order), deterministic
    val seqV = total.compute()
    val d1 = DistSum.compute(spark, total, 7)
    val d2 = DistSum.compute(spark, total, 7)
    assert(d1 == d2, "distributed sum not deterministic")
    assert(math.abs(d1 - seqV) < 1e-9, s"distributed $d1 vs sequential $seqV")
    // resume: with parts 1 and 3 done, remaining covers exactly the gaps
    val done = Seq(parts(1), parts(3))
    val rest = DistSum.remaining(total, done)
    assert((done ++ rest).map(_.steps).sum == total.steps)
    val resumed = (done ++ rest).sortBy(_.e.value)(Ordering[Long].reverse)
      .foldLeft(0.0)((acc, s) => DistSum.addMod(acc, s.compute()))
    assert(math.abs(resumed - seqV) < 1e-9)
    // a non-sub-summation is rejected loudly
    intercept[IllegalArgumentException] {
      DistSum.remaining(total, Seq(Summation(
        Progression(2L, 8L, 10L), Progression(9L, -4L, 5L))))
    }
    // an e-aligned part whose n-progression is shifted is also rejected
    // (one-sided alignment would silently corrupt the resume)
    intercept[IllegalArgumentException] {
      DistSum.remaining(total, Seq(Summation(
        Progression(9L, 8L, 17L), Progression(8000L, -4L, 7996L))))
    }
    // the kernel's domain is enforced: negative exponents (modular
    // inverse, not 2^e/n) and non-positive moduli cannot be constructed
    intercept[IllegalArgumentException] {
      Summation(Progression(3L, 2L, 9L), Progression(2L, -2L, -4L))
    }
    intercept[IllegalArgumentException] {
      Summation(Progression(0L, 2L, 6L), Progression(3L, 1L, 6L))
    }
    // a zero-step summation computes to 0.0 instead of crashing
    val empty = Summation(Progression(1L, 8L, 1L), Progression(8L, -4L, 8L))
    assert(empty.steps == 0L && DistSum.compute(spark, empty, 4) == 0.0)
  }

  test("Pentomino: distributed prefix-split count equals sequential, 3x20 = 8") {
    import graft.jobs.Pentomino
    // the 3x20 rectangle has 2 tilings up to symmetry; the raw
    // exact-cover count sees each under the rectangle's 4 symmetries
    val seqCount = Pentomino.countSolutions(3, 20)
    assert(seqCount == 8L, s"3x20 raw tiling count: got $seqCount")
    // prefixes partition the search tree: disjoint subtrees, same total
    val ps = Pentomino.prefixes(3, 20, depth = 2)
    assert(ps.nonEmpty && ps.map(_.length).forall(_ <= 2))
    val viaPrefixes = ps.map(p => Pentomino.countFromPrefix(3, 20, p)).sum
    assert(viaPrefixes == seqCount, s"prefix partition lost solutions: $viaPrefixes")
    val dist = Pentomino.countDistributed(spark, 3, 20, depth = 2)
    assert(dist == seqCount, s"distributed count diverged: $dist")
  }
}
