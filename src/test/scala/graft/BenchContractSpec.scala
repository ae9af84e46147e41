package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout summary line's TAIL CONTRACT (r13 verdict
  * item 2): the driver captures only ~2000 trailing characters of the
  * bench process's output, so the one-line summary must stay under
  * 1800 bytes even FULLY POPULATED — every headline lane timed, every
  * registered scale exponent present, every probe flagged polluted,
  * all harness metrics real, a worst-case skip list. Rounds 3–12
  * shipped a compact line that silently outgrew the tail ("parsed":
  * null at rc 0 every round); this spec makes the regression a test
  * failure instead of a post-round forensic finding. No SparkSession
  * needed — the builder is a pure string function.
  */
class BenchContractSpec extends AnyFunSuite {

  private def worstCaseLine: String = {
    // worst realistic widths: 5-digit totals, 4-digit lane seconds,
    // negative exponents, every probe polluted, every optional stage
    // skipped, a deep record path
    val harness = Bench.harnessJsonStr(99999.999, 99999.9, 99999.9,
      99999.9, 99999.9, 99999.9, 99999.9, 99999.9, 99999.9, 99999.9,
      99999.9)
    Bench.summaryLine(
      total = 99999.99,
      sf = "/root/testdata/sf0.1",
      iters = 3,
      lanes = 999,
      failed = Seq("a_reasonably_long_lane_name", "another_failed_lane"),
      skippedJson = Seq("pass3_tail", "retry", "sf_small", "harness",
        "probes_partial", "terasort_sf1")
        .map("\"" + _ + "\"").mkString("[", ",", "]"),
      elapsedSec = 99999.9,
      headlineVals = Bench.headlineLanes.map(_ -> "9999.999"),
      exponents = Bench.allProbeLabels.map(_ -> "-0.999"),
      pollutedJson = Bench.allProbeLabels
        .map("\"" + _ + "\"").mkString("[", ",", "]"),
      harnessJson = harness,
      fullRecord = "/tmp/graft-bench-record/bench_out.json")
  }

  test("fully-populated summary line fits the driver's ~2000-char tail with headroom") {
    val line = worstCaseLine
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytes < 1800,
      s"summary line is $bytes bytes — over the 1800-byte tail budget; " +
        "trim headlineLanes or shorten field names before shipping " +
        s"(line: $line)")
  }

  test("summary line parses as JSON and carries every exponent and headline key") {
    val line = worstCaseLine
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(line)
    assert(root.get("metric").asText() == "total")
    val exps = root.get("exponents")
    Bench.allProbeLabels.foreach { l =>
      assert(exps.has(l), s"exponent key '$l' missing from summary line")
    }
    val qs = root.get("queries")
    Bench.headlineLanes.foreach { l =>
      assert(qs.has(l), s"headline lane '$l' missing from summary line")
    }
    Seq("lanes", "failed", "skipped", "elapsed_sec", "load_polluted",
      "terasort_sf1_sec", "device_mbps_write", "device_mbps_read",
      "full_record").foreach { k =>
      assert(root.has(k), s"summary field '$k' missing")
    }
  }

  test("a lane's layers entry parses as JSON and stays out of the summary line") {
    val awkward = "quote \" backslash \\ newline \n tab \t unicode \u0001 é"
    val l = LaneMetrics.Layers(wallS = 31.9, jobs = 153, stages = 160,
      tasks = 300, taskS = 33.7, cpuS = 14.7, gcS = 1.2, jobWindowS = 21.5,
      driverGapS = 10.4, compiles = 12, compileS = 0.45, interpretedJobs = 7, cacheBuilds = 10,
      caches = 10, unlabelledS = 3.25,
      topJobs = (1 to LaneMetrics.Top).map(i =>
        LaneMetrics.JobGroup(s"pipeline pin: stage$i $awkward", i, i * 0.5)),
      topStages = (1 to LaneMetrics.Top).map(i =>
        LaneMetrics.StageGroup(s"save at Bench.scala:$i $awkward", i, i * 4, i * 0.25)))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l.json)
    Seq("wall_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
      "job_window_s", "driver_gap_s", "compiles", "compile_s", "interpreted_jobs",
      "cache_builds", "caches", "unlabelled_s").foreach { k =>
      assert(root.has(k), s"layers field '$k' missing")
    }
    assert(root.get("jobs").asInt() == 153)
    assert(root.get("interpreted_jobs").asInt() == 7)
    assert(root.get("driver_gap_s").asDouble() == 10.4)
    assert(root.get("top_jobs").size() == LaneMetrics.Top)
    assert(root.get("top_jobs").get(0).get("desc").asText() == s"pipeline pin: stage1 $awkward")
    assert(root.get("top_stages").get(2).get("tasks").asInt() == 12)
    assert(!worstCaseLine.contains("layers"), "the summary line must not carry layers")
  }

  test("default full-record name is cpu-suffixed so the scaling pass can't overwrite the main record") {
    // the driver benches at 32 cores and again at 8; a shared default
    // name let the 8-core pass destroy the 32-core full per-lane record
    assert(Bench.defaultBenchOut("32") == "bench_out_c32.json")
    assert(Bench.defaultBenchOut("8") == "bench_out_c8.json")
    assert(Bench.defaultBenchOut("32") != Bench.defaultBenchOut("8"))
  }

  test("every headline lane and probe label is a registered query/probe") {
    // a renamed lane would silently drop out of the summary's queries
    // map (filter(medAll.contains)) — catch the drift here
    val qnames = SparkEntry.queries.keySet
    Bench.headlineLanes.foreach { l =>
      assert(qnames.contains(l), s"headline lane '$l' is not a registered query")
    }
  }
}
