package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The lane timing and attribution harness: one run in one JVM. One
  * short JSON line goes to stdout; the full record goes to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench_out_c<N>.json`, N the core
  * count), rewritten atomically after every probe and lane so a killed
  * run still leaves a parsed partial record.
  *
  * The run, in order:
  *  - An untimed warm-up (JIT and codegen).
  *  - The scale probes (see `scaleProbe` in main), on the freshest
  *    heap the run has.
  *  - N round-robin passes over the lanes (default 3,
  *    SPARK_GRAFT_BENCH_ITERS): a lane's samples are separated in time,
  *    so a disk or co-tenant spike hits one of them, not all. A lane
  *    reports the MEDIAN of its samples. The third pass skips a lane
  *    whose first two samples are both sub-second and within 30% of
  *    each other: it is floor-bound and stable, so a third sample adds
  *    nothing, and its median is the mean of the two.
  *  - One pass at the sf0.01 sibling of an sf0.1 dir (`queries_small`),
  *    which separates a lane's fixed overhead from its data cost.
  *  - On the full run only: the reference's harness metrics, a
  *    direct-I/O device probe and, at an sf0.1 dir, terasort_sf1.
  *
  * Every lane sample starts after `spark.catalog.clearCache()`, so no
  * lane's persisted intermediates perturb a later sample, and writes to
  * a noop sink that computes every declared column (count() would let
  * Catalyst prune map-shaped work to nothing). A lane that throws
  * reports -1, not its elapsed time, and lands in `failed`. Every timed
  * sample runs under [[LaneMetrics]]: its jobs, stages, tasks,
  * task/CPU/GC time, driver gap, codegen compiles, cache builds and top
  * job descriptions / stage names go in the lane's `layers` array, one
  * entry per sample in `samples` order, and stay out of the stdout line.
  *
  * `SPARK_GRAFT_LANES` selects what runs ([[select]]); unset, the run is
  * the full run.
  *
  * The per-lane `samples` / `loads` / `layers` arrays are RAGGED
  * relative to the `iterations` field: a lane the adaptive third pass
  * skipped carries 2 entries at iterations 3. Consumers size per-pass
  * work by array length, never by `iterations`.
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  // locale-pinned decimal formatting: a comma-decimal default locale
  // (de_DE) would make f"%.3f" emit '1,234' and break the JSON line
  private def fmt(d: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(d))

  /** Every scale-probe label, in run order: the two serving-shape
    * probes first, the text family next, the heavy compositions last.
    * A probe's record key is `<label>_scale`.
    */
  private[graft] val allProbeLabels = Seq("knn_ivf", "bitext_ivf", "dedup",
    "kmeans", "dsir", "paragraph", "substring", "semantic",
    "streaming_funnel", "pipeline", "pca", "media_dedup", "pipeline_full",
    "pipeline_full_media")

  /** The headline lanes of the stdout summary line — one per flagship
    * shape, NOT the full suite (the full per-lane record lives in the
    * file). Each costs about 20 bytes of the line's 1.8 KB bound.
    */
  private[graft] val headlineLanes = Seq("wordcount", "join_inner",
    "window_agg", "topk", "total_sort", "terasort", "dedup_minhash",
    "substring_dedup", "semantic_dedup", "knn_join", "ann_ivf_topk",
    "media_dedup_e2e", "video_dedup_e2e", "image_dedup_e2e",
    "pipeline_e2e", "pipeline_full", "streaming_sessionize")

  /** What one run times: lane names and probe labels, each in run
    * order. `full` adds the harness metrics, the device probe and
    * terasort_sf1.
    */
  private[graft] final case class Selection(lanes: Seq[String],
      probes: Seq[String], full: Boolean)

  /** Parse a `SPARK_GRAFT_LANES` value. Unset selects every lane and
    * probe: the full run. Set, it is a comma list in which
    * `<label>_scale` (a probe's record key) names a probe and any other
    * entry a lane; no lane name ends in `_scale`. An entry that names
    * neither throws, so a mistyped name fails before a session is built
    * instead of timing nothing.
    */
  private[graft] def select(spec: Option[String], lanes: Seq[String],
      probes: Seq[String]): Selection = spec match {
    case None => Selection(lanes, probes, full = true)
    case Some(s) =>
      val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val keys = probes.map(_ + "_scale")
      val unknown = want -- lanes -- keys
      if (want.isEmpty || unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_LANES: unknown entries [${unknown.toSeq.sorted.mkString(",")}]" +
            s" in '$s'; lanes: ${lanes.mkString(",")}; probes: ${keys.mkString(",")}")
      Selection(lanes.filter(want), probes.filter(p => want(p + "_scale")),
        full = false)
  }

  /** The harness-metric fields shared by the file record and the
    * stdout summary line (object-level so BenchContractSpec sizes the
    * real field list, not a copy that drifts).
    */
  private[graft] def harnessJsonStr(mrAvg: Double, wMbps: Double,
      rMbps: Double, nnOps: Double, fbSeqRead: Double, sliveOps: Double,
      bmoMbps: Double, tmbMbps: Double, devW: Double, devR: Double,
      teraSf1: Double): String =
    s""","mrbench_avg_latency_sec":${fmt(mrAvg, 3)},"dfsio_write_mbps":${fmt(wMbps, 1)},"dfsio_read_mbps":${fmt(rMbps, 1)},"nnbench_create_ops_sec":${fmt(nnOps, 1)},"filebench_seq_read_mbps":${fmt(fbSeqRead, 1)},"slive_ops_sec":${fmt(sliveOps, 1)},"bigmap_shuffle_mbps":${fmt(bmoMbps, 1)},"threadedmap_sort_mbps":${fmt(tmbMbps, 1)},"device_mbps_write":${fmt(devW, 1)},"device_mbps_read":${fmt(devR, 1)},"terasort_sf1_sec":${fmt(teraSf1, 1)}"""

  /** Render the one-line stdout summary: the headline lanes, every
    * probe exponent and the harness metrics, with the full record's
    * path under `full_record`. It stays under 1.8 KB FULLY POPULATED so
    * a log tail keeps it whole; BenchContractSpec renders the worst case
    * and pins the bound plus the presence of every exponent key.
    */
  private[graft] def summaryLine(total: Double, sf: String, iters: Int,
      lanes: Int, failed: Seq[String], elapsedSec: Double,
      headlineVals: Seq[(String, String)], exponents: Seq[(String, String)],
      harnessJson: String, fullRecord: String): String = {
    def jm(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","sf":"$sf","iterations":$iters,"lanes":$lanes,""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""elapsed_sec":${fmt(elapsedSec, 1)},""" +
      s""""queries":${jm(headlineVals)},""" +
      s""""exponents":${jm(exponents)}""" +
      harnessJson + s""","full_record":"$fullRecord"}"""
  }

  /** Default full-record file, suffixed with the core count so runs at
    * two core counts keep separate records; SPARK_GRAFT_BENCH_OUT
    * overrides.
    */
  private[graft] def defaultBenchOut(cpus: String): String =
    s"bench_out_c$cpus.json"

  def main(args: Array[String]): Unit = {
    val t0All = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0All) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    val sel = select(sys.env.get("SPARK_GRAFT_LANES"),
      SparkEntry.queries.keys.toSeq.sorted, allProbeLabels)
    val names = sel.lanes.map(n => n -> SparkEntry.queries(n))
    val spark = GraftSession.build(cpus)
    // steady-state measurement: absorb JVM/codegen warmup outside the
    // timed samples (the first query otherwise pays ~4s of JIT)
    spark.range(0, 1000000, 1, 8)
      .selectExpr("sum(id)", "count(distinct id % 100)").collect()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // the 1-minute /proc/loadavg as a sample starts: recorded beside
    // the sample so a slow one on a loaded box reads as contention,
    // not as a plan change
    def loadavg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }

    val samples = scala.collection.mutable.LinkedHashMap(
      names.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    val loads = scala.collection.mutable.LinkedHashMap(
      names.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    val layers = scala.collection.mutable.LinkedHashMap(
      names.map { case (n, _) => n -> Vector.empty[String] }: _*)
    def timeLane(name: String,
                 fn: (SparkSession, String) => DataFrame): Unit = {
      spark.catalog.clearCache()
      val la = loadavg()
      val metrics = LaneMetrics.start(spark.sparkContext)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case _: Throwable => false }
      val l = metrics.stop()
      samples(name) :+= (if (ok) l.wallS else -1.0)
      loads(name) :+= la
      layers(name) :+= l.json
    }
    // a lane FAILS on any negative sample: a crash can't masquerade as
    // a fast pass
    def medOf(n: String): Double = {
      val ts = samples(n)
      if (ts.exists(_ < 0)) -1.0 else median(ts)
    }

    // one probe's result: each side's minimum seconds, and the loadavg
    // of every sample on each side
    final case class ProbeResult(t1: Double, tr: Double, ratio: Int,
                                 loads1: Seq[Double], loadsR: Seq[Double]) {
      def exponent: Double = math.log(tr / t1) / math.log(ratio.toDouble)
    }
    val probeResults = scala.collection.mutable.LinkedHashMap[String, ProbeResult]()

    // ---- incremental record checkpointing ----------------------------
    // the full JSON record is REWRITTEN after every probe and lane
    // (complete fields last, "partial" dropped only at the end), so a
    // run killed at any point still leaves a parsed partial record
    def jm(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def arr(xs: Seq[Double], places: Int): String =
      xs.map(fmt(_, places)).mkString("[", ",", "]")
    var smallJsonStr = ""
    var mrAvg = -1.0; var wMbps = -1.0; var rMbps = -1.0; var nnOps = -1.0
    var fbSeqRead = -1.0; var sliveOps = -1.0; var bmoMbps = -1.0
    var tmbMbps = -1.0; var teraSf1Sec = -1.0
    var devWMbps = -1.0; var devRMbps = -1.0
    def harnessJson: String = harnessJsonStr(mrAvg, wMbps, rMbps, nnOps,
      fbSeqRead, sliveOps, bmoMbps, tmbMbps, devWMbps, devRMbps, teraSf1Sec)
    def scaleJson: String = probeResults.map { case (label, p) =>
      s""","${label}_scale":{"t1x":${fmt(p.t1, 3)},"t${p.ratio}x":${fmt(p.tr, 3)},""" +
        s""""exponent":${fmt(p.exponent, 3)},""" +
        s""""loads_1x":${arr(p.loads1, 1)},"loads_${p.ratio}x":${arr(p.loadsR, 1)}}"""
    }.mkString
    def fullJson(partial: Boolean): String = {
      // lanes with no sample yet (a partial record mid-suite) are
      // OMITTED, not reported -1: "failed" means a lane threw
      val med = names.collect {
        case (n, _) if samples(n).nonEmpty => n -> medOf(n) }
      val failed = med.collect { case (n, v) if v < 0 => n }
      val total = med.collect { case (_, v) if v >= 0 => v }.sum
      val qs = jm(med.map { case (k, v) => k -> fmt(v, 3) })
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$qs,"sf":"$sfDir","iterations":$iters,"failed":$failedJson""" +
        (if (partial) ""","partial":true""" else "") +
        s""","elapsed_sec":${fmt(elapsedSec, 1)}""" +
        s""","samples":${jm(samples.map { case (k, ts) => k -> arr(ts, 3) })}""" +
        s""","loads":${jm(loads.map { case (k, ls) => k -> arr(ls, 2) })}""" +
        s""","layers":${jm(layers.map { case (k, xs) => k -> xs.mkString("[", ",", "]") })}""" +
        smallJsonStr + scaleJson + harnessJson + "}"
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultBenchOut(cpus))
    // atomic replace (temp file + ATOMIC_MOVE in the same directory): a
    // kill landing mid-write leaves the PREVIOUS complete checkpoint,
    // never an empty or torn file
    def checkpoint(partial: Boolean = true): Unit =
      try {
        val dst = java.nio.file.Paths.get(out).toAbsolutePath
        val tmp = dst.resolveSibling(dst.getFileName.toString + ".tmp")
        java.nio.file.Files.write(tmp,
          (fullJson(partial) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Throwable => () }

    // ---- scale probes ------------------------------------------------
    // time a composition on the corpus and a 3× self-replication (ids
    // shifted past the real range so keys stay distinct), min of 3
    // interleaved pairs. exponent = ln(t3/t1)/ln 3: 1.0 is linear
    // scaling, < 1 means the fixed per-job floor still amortizes at this
    // corpus size, > 1 flags a superlinear stage. Pair/banding stages are
    // excluded everywhere — a replicated corpus is dup-dense by
    // construction, which would measure output explosion, not scan
    // scaling.
    import org.apache.spark.sql.functions._
    def replicate3(df: DataFrame, idCol: String): DataFrame = {
      val shift = df.agg(max(col(idCol))).head().getLong(0) + 1L
      (0 until 3).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * shift)))
        .reduce(_.unionByName(_))
    }
    // fixture setup (mk) runs inside the probe's try in the probe pass:
    // a missing table, absent column or empty fixture (max(id) null)
    // reads as that probe's failure line, never aborts the whole bench
    def scaleProbe(mk: () => (DataFrame, DataFrame), ratio: Int = 3,
                   samplePairs: Int = 3)(lane: DataFrame => Unit): ProbeResult = {
      val (d1, dr) = mk()
      // one sample: (seconds, loadavg at its start). The GC runs
      // OUTSIDE the timer, so a sample does not absorb collector pauses
      // for the garbage earlier samples left.
      def run(df: DataFrame): (Double, Double) = {
        spark.catalog.clearCache()
        System.gc()
        val la = loadavg()
        val t0 = System.nanoTime()
        lane(df)
        ((System.nanoTime() - t0) / 1e9, la)
      }
      run(d1) // untimed warmup of the probe's codegen
      // MIN, not median: contention and GC only ever ADD time, so each
      // side's minimum is its least-disturbed cost — a median lets one
      // slow sample per side swing a 3-pair exponent by ±0.2 between
      // back-to-back runs of identical code
      val (a, b) = Vector.fill(samplePairs)((run(d1), run(dr))).unzip
      ProbeResult(a.map(_._1).min, b.map(_._1).min, ratio, a.map(_._2), b.map(_._2))
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def docsPair(): (DataFrame, DataFrame) = {
      val d1 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
      (d1, replicate3(d1, "doc_id"))
    }

    val benchDir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-bench-${ProcessHandle.current().pid()}"

    // deterministic synthetic embedding fixture for the similarity-family
    // structural probes: the shipped sf0.1 embeddings table (2k rows)
    // leaves 1x probe samples sub-second, where per-job scheduling floors
    // swamp the 1x/3x ratio. Components derive from xxhash64(id, dim) —
    // seeded, no RNG — so the fixture is a pure function of n: identical
    // across runs and machines, written once under /tmp and reused.
    // The 1x set is 150k vectors, sized so the cheapest embedding
    // probe's t1x clears ~3s, above floor noise; the 3x pass reads the
    // 3n fixture — a superset with the same distribution, so probes
    // scale REAL rows, not replicas.
    val probeN = 150000L
    def probeVectors(n: Long): DataFrame = {
      val path = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-probe-vecs-v1-$n"
      if (!new java.io.File(s"$path/_SUCCESS").isFile)
        spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((pmod(xxhash64(col("id"), d), lit(2000001L)) - lit(1000000L))
              .cast("double") / lit(1000000.0)).cast("float")).as("embedding"))
          .repartition(16)
          .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    // shared embedding replication for the similarity-family probes:
    // each replica i sign-flips half the dims (i=1: odd, i=2: even —
    // replicas 1 and 2 are mutual negations, cosine ≈ 0 / −1 across
    // groups), so pair/candidate density per replica stays that of the
    // real corpus and a probe measures graph/scan scaling, never
    // dup-explosion output
    def embReplicate(k: Int): DataFrame = {
      val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      if (k == 1) e1
      else {
        val shift = e1.agg(max(col("vec_id"))).head().getLong(0) + 1L
        // the pattern cycles mod 3 (identity / odd-dim flip / even-dim
        // flip). CONTRACT: at k > 3 whole replicas are EXACT duplicates
        // up to id shift (replicas 0/3/6 identical), so k > 3 output
        // must only feed candidate-VOLUME probes — never a
        // pair-ENUMERATING probe (semantic/dedup shapes), whose pair
        // density the triplicate vector groups would distort
        (0 until k).map { i =>
          val flip: Column => Column =
            j => if (i % 3 == 0) lit(1.0f)
                 else when((j + lit(i % 3)) % 2 === 0, lit(-1.0f)).otherwise(lit(1.0f))
          e1.withColumn("vec_id", col("vec_id") + lit(i * shift))
            .withColumn("embedding",
              transform(col("embedding"), (x, j) => x * flip(j))
                .cast("array<float>"))
        }.reduce(_.unionByName(_))
      }
    }
    def embPair3(): (DataFrame, DataFrame) = (embReplicate(1), embReplicate(3))

    // pipeline_full: the ALL-OPTIONAL-STAGES composition (HTML ingest →
    // template strip → repetition gate → default chain → semantic
    // dedup → DSIR → token budgets). Docs replicate with identical text
    // (ids shifted) so exact dedup bounds the pair stages, same as the
    // default-chain probe; embeddings replicate with the DOCS' id
    // shift so per-replica embedding coverage is constant, and the
    // semantic LSH cell count scales ∝ n so per-cell candidate work
    // stays constant (the semanticScale sizing). The DSIR target stays
    // fixed at 1× (the production shape). What grows 3× is the HTML
    // strip, template mining, gates, digest shuffle, and the semantic
    // index — all linear paths. The page fixture's <title> carries no
    // " - source" suffix (unlike the lane's), so exponents stay
    // comparable with earlier records.
    // `media` adds stage 3c — the full production shape's own cost
    // curve, with the pipeline_full LANE's media fixture scaled with
    // the corpus: audio for the %10=0 ids (+%40 byte copies, +%30
    // mid-stream extracts), stills for the %10=1 ids (+%40 byte copies,
    // +%30 BMP re-encodes). Replica ids are distinct, so each replica's
    // media is novel content (the audio law keys on the id) — decode,
    // fingerprint, and collapse all grow linearly, which is the claim
    // under probe.
    def pipelineFullProbe(samplePairs: Int, media: Boolean): ProbeResult = {
      def docs() = {
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"), col("source"), col("lang"))
        (base, base.agg(max(col("doc_id"))).head().getLong(0) + 1L)
      }
      scaleProbe(() => {
        val (base, s) = docs()
        def rep(df: DataFrame, k: Int) =
          (0 until k).map(i =>
            df.withColumn("doc_id", col("doc_id") + lit(i * s)))
            .reduce(_.unionByName(_))
        def page(df: DataFrame) = {
          val ids = col("doc_id").cast("string")
          val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
            "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
          df.select(col("doc_id"), col("source"),
            concat(lit("<html><head><title>Doc "), ids,
              lit("</title><style>p{margin:0}</style></head><body><script>var d="),
              ids, lit(";</script><h1>Doc "), ids, lit("</h1><p>"), esc,
              lit("</p><div class=\"nav\"><a href=\"/s/1\">more</a></div>" +
                "<!-- footer --></body></html>")).as("text"))
        }
        (page(rep(base, 1)), page(rep(base, 3)))
      }, samplePairs = samplePairs) { df =>
        import graft.multimodal.Multimodal
        val (base, s) = docs()
        // the lane recovers k from max(doc_id) to size embeddings/cells
        val k = ((df.agg(max(col("doc_id"))).head().getLong(0) + 1L
          + s - 1L) / s).toInt
        val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val emb = (0 until k).map(i =>
            e1.withColumn("doc_id", col("doc_id") + lit(i * s)))
          .reduce(_.unionByName(_))
        val nEmb = e1.count() * k
        // media carriers keyed to the REPLICATED ids: laws key on the
        // id, so every replica's recordings/stills are novel content
        val ids = df.select(col("doc_id"), lit("media carrier").as("text"))
        def wavs = Multimodal.fabricateAudio(ids.filter(col("doc_id") % 10 === 0))
          .unionByName(Multimodal.fabricateAudio(
            ids.filter(col("doc_id") % 40 === 0), idOffset = 3))
          .unionByName(Multimodal.fabricateAudio(
            ids.filter(col("doc_id") % 30 === 0), idOffset = 5, startFrame = 64))
        def stills = Multimodal.fabricateStillImages(
            ids.filter(col("doc_id") % 10 === 1))
          .unionByName(Multimodal.fabricateStillImages(
            ids.filter(col("doc_id") % 40 === 1), idOffset = 7))
          .unionByName(Multimodal.fabricateStillImages(
            ids.filter(col("doc_id") % 30 === 1), idOffset = 9, fmt = "bmp"))
        val (packed, _) = jobs.TrainingPipeline.run(spark, sfDir,
          input = Some(df),
          ingestHtml = true,
          templateMinDf = Some(5L),
          maxRepetition = Some(0.08),
          semanticThreshold = 0.38,
          embeddings = Some(emb),
          semanticCells = math.max(32L, nEmb / 64).toInt,
          audioMedia = if (media) Some(wavs) else None,
          imageMedia = if (media) Some(stills) else None,
          // both decontamination modes, as in the lane: the %97 suite
          // is NOT replicated — a fixed-size benchmark suite against a
          // growing corpus is exactly the production shape
          evalDocs = Some(base.filter(col("doc_id") % 97 === 0)
            .select(col("doc_id"), col("text"))),
          decontamSubstringW = Some(10),
          dsirTarget = Some(base.filter(col("lang") === "en").select(col("text"))),
          tokenBudgets = Map("src0" -> 400L, "src1" -> 200L),
          budgetShards = 2,
          normalize = true)
        noop(packed)
      }
    }

    // every probe, in allProbeLabels order: (label, run). Each run
    // builds its fixtures and times both sides.
    val probes: Seq[(String, () => ProbeResult)] = Seq(

    // knn_ivf, the SERVING shape: a bounded query batch (the 10 lowest
    // ids, identical at both sizes) k-NN-votes against an index over
    // the growing corpus. Cells are PINNED to 256 — the autoCells
    // clamp, i.e. the value every corpus past ~4.2 M rows gets — at
    // BOTH sizes: with cells constant the index build (n·cells distance
    // evals) and probe (nProbe·cellSize candidates per query) are both
    // linear in n by construction, so the exponent checks that nothing
    // in the candidate-fed path reintroduces a superlinear term. (The
    // un-pinned √(n/64) autoCells sizing is BELOW the clamp in the
    // 150k–450k probe range, making the build genuinely Θ(n·√n) there;
    // the serving claim is the clamped regime.) A query side that is
    // itself a corpus FRACTION makes total k-NN work Θ(n²/cells) in any
    // flat-codebook implementation, so the serving shape is the one
    // with a sub-linear claim. Both embedding probes run on the
    // probeVectors fixture at true 1×/3× (or 1×/4×) sizes.
    "knn_ivf" -> (() => scaleProbe(
        () => (probeVectors(probeN), probeVectors(3 * probeN))) { df =>
      val cb = operators.Similarity.kmeansCodebook(df, "vec_id", "embedding",
        nCells = 256, iters = 2)
      val assigned = operators.Similarity.assignCells(
        df.select(col("vec_id").cast("long").as("n_id"),
          col("embedding").as("nv")), "n_id", "nv", cb, rep = 4)
      val queries = df.filter(col("vec_id") % 50 === 0)
        .orderBy("vec_id").limit(10)
      val topk = operators.Similarity.topKFromCandidates(
        operators.Similarity.ivfCandidates(cb, assigned,
          queries.select("vec_id", "embedding"), "vec_id", "embedding",
          nProbe = 4), k = 5)
      noop(operators.Similarity.knnVote(topk,
        df.select(col("vec_id").cast("long").as("n_id"),
          (col("vec_id") % 7).cast("long").as("n_lab")),
        queries.select(col("vec_id").cast("long").as("q_id"),
          (col("vec_id") % 7).cast("long").as("label"))))
    }),
    // bitext: BOTH text sides grow together (the mined-parallel-corpus
    // shape) through bitextMineLsh, the shipped scale path:
    // sign-hyperplane blocking whose assignment is a pure O(n·bits·dim)
    // projection and whose (t, cell) equi-join emits linear candidate
    // volume at miningBits' cells-∝-n sizing. The key keeps its `_ivf`
    // name so records stay comparable. Measured at 1x/4x, not 1x/3x:
    // miningBits = ceil(log2(n/32)) shifts by EXACTLY 2 under a 4x step
    // for any n, so expected bucket population — and with it per-pair
    // candidate work — is identical at both sizes and the exponent
    // measures pure scaling; a 3x step lands the two sizes at different
    // phases of the ceil saw-tooth and can swing candidate volume
    // between 1.5x and 4.5x, which is discretization, not asymptotics.
    // probeN/4 at 1x keeps t1x near 10 s, well above the scheduling
    // floor.
    "bitext_ivf" -> (() => scaleProbe(
        () => (probeVectors(probeN / 4), probeVectors(probeN)),
        ratio = 4, samplePairs = 3) { df =>
      val src = df.filter(col("vec_id") % 2 === 0)
      val tgt = df.filter(col("vec_id") % 2 === 1)
      // the internal candidate-sim persist is released by the probe
      // harness's clearCache before the next sample
      noop(operators.Similarity.bitextMineLsh(src, tgt, "vec_id", "embedding",
        k = 4, threshold = 1.05))
    }),

    "dedup" -> (() => scaleProbe(docsPair) { df =>
      noop(operators.Dedup.simhash(df, "doc_id", "text"))
      noop(operators.Dedup.fingerprints(df, "doc_id", "text", 3, 4))
      noop(operators.Dedup.exact(df, "doc_id", "text"))
    }),
    // k-means: fit (2 Lloyd rounds of partial integer sums) + the
    // shuffle-free assignment — linear in points even when replicas are
    // identical vectors; semDedup's in-cluster pair join is the
    // excluded dup-dense stage
    "kmeans" -> (() => scaleProbe(() => {
      val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      (e1, replicate3(e1, "vec_id"))
    }) { df =>
      noop(operators.Kmeans.fitAssign(df, "vec_id", "embedding",
        k = 8, iters = 2))
    }),
    // DSIR: the raw corpus grows, the curated target (and so the
    // 1024-bucket λ table) stays fixed — the production shape; scoring
    // is the row-local lane under test
    "dsir" -> (() => scaleProbe(docsPair) { df =>
      noop(operators.Dsir.weights(df,
        df.sparkSession.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"))
          .filter(col("lang") === "en"),
        "doc_id", "text", b = 1024))
    }),

    // paragraph dedup: the replicated corpus is dup-dense by
    // construction, but unlike pair generation the output is BOUNDED by
    // input rows (drop lists, not pairs), so the probe measures the
    // winner-agg + rewrite path scaling, which is the claim. Paragraph
    // structure is injected by splitting on a frequent word.
    "paragraph" -> (() => scaleProbe(() => {
      val (d1, d3) = docsPair()
      val para = (df: DataFrame) =>
        df.withColumn("text", regexp_replace(col("text"), " the ", "\n\n"))
      (para(d1), para(d3))
    }) { df =>
      noop(operators.TextOps.paragraphDedup(df, "doc_id", "text"))
    }),

    // exact-substring dedup (Lee et al.): rolling 10-gram fingerprints
    // at every position → owner election → map-only strip. The
    // replicated corpus is dup-dense by construction (replicas lose
    // their whole text), but like the paragraph probe the output is
    // BOUNDED by input rows (per-doc position lists, never pairs), and
    // per-hash work is linear in occurrences — so the probe measures
    // the gram shuffle + window + rejoin path, which is the scaling
    // claim
    "substring" -> (() => scaleProbe(docsPair) { df =>
      noop(operators.Dedup.substringDedupApply(df, "doc_id", "text", w = 10))
    }),

    // semantic dedup: LSH pairs → connected components → representatives,
    // the suite's top CC cost center. Replicas are NOT near-dups of the
    // originals: each replica i sign-flips half the embedding dims
    // (i=1: odd dims, i=2: even dims — replicas 1 and 2 are mutual
    // negations, cosine ≈ 0 / −1 across groups), so pair density per
    // replica stays that of the real corpus and the probe measures
    // node/edge graph scaling, not dup-explosion output. Cell count
    // auto-scales with n exactly as knn_join ships it, so per-cell
    // candidate work is constant across the two runs.
    "semantic" -> (() => scaleProbe(embPair3) { df =>
      val n = df.count()
      operators.Pins() { pins =>
        val pairs = pins.persist(operators.Similarity.cosinePairsLsh(df, "vec_id",
          "embedding", threshold = 0.3, nCells = math.max(32L, n / 64).toInt,
          rep = 2, tables = 6))
        val cc = operators.Dedup.connectedComponents(pairs, "vec_a", "vec_b")
          .withColumnRenamed("vec_a", "vec_id")
        noop(df.select(col("vec_id")).join(cc, Seq("vec_id"), "left")
          .filter(coalesce(col("cluster_id"), col("vec_id")) === col("vec_id"))
          .select(col("vec_id")))
      }
    }),

    // streaming funnel: stream-stream interval join state growth. The
    // 3× feed shifts user_ids and event_ids per replica — 3× users, so
    // per-user buffered state and join output grow LINEARLY (a same-user
    // replication would square the per-key match count). Both runs use
    // the shipped deployment sizing (8 state partitions, no no-data
    // batches); source dirs are written once in mk, outside the timing.
    "streaming_funnel" -> (() => scaleProbe(() => {
      val base = spark.read.parquet(s"$sfDir/events.parquet")
      val Array(uShift, eShift) = base
        .agg(max(col("user_id")), max(col("event_id"))).head()
        .toSeq.map(_.asInstanceOf[Long] + 1L).toArray
      val d3 = (0 until 3).map(i =>
        base.withColumn("user_id", col("user_id") + lit(i * uShift))
          .withColumn("event_id", col("event_id") + lit(i * eShift)))
        .reduce(_.unionByName(_))
      val (p1, p3) = (s"$benchDir/funnel1x", s"$benchDir/funnel3x")
      base.write.mode("overwrite").parquet(p1)
      d3.write.mode("overwrite").parquet(p3)
      (spark.readStream.schema(base.schema).parquet(p1),
        spark.readStream.schema(base.schema).parquet(p3))
    }) { stream =>
      val pKey = "spark.sql.shuffle.partitions"
      val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val (prevP, prevN) =
        (spark.conf.getOption(pKey), spark.conf.getOption(nKey))
      spark.conf.set(pKey, "8")
      spark.conf.set(nKey, "false")
      try {
        val q = streaming.StreamingOps.followWithin(stream,
            firstType = "view", thenType = "purchase",
            within = "1 hour", watermark = "2 hours")
          .writeStream.format("noop").outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        prevP.fold(spark.conf.unset(pKey))(spark.conf.set(pKey, _))
        prevN.fold(spark.conf.unset(nKey))(spark.conf.set(nKey, _))
      }
    }),

    // training pipeline: the default chain (normalize → gate → exact
    // dedup → simhash near-dup → chunk → pack) through run() itself —
    // the suite's heaviest composition. Replicas keep IDENTICAL text
    // (ids shifted), so exact dedup collapses them and the pair stages
    // never see dup-density; the probe therefore measures what actually
    // grows with a 3× crawl: the map-only ingestion gates, tokenize +
    // langID, and the 16-byte digest shuffle. Downstream stages are
    // dedup-bounded by design.
    "pipeline" -> (() => scaleProbe(() => {
      val (d1, d3) = docsPair()
      val src = (df: DataFrame) => df.withColumnRenamed("lang", "source")
      (src(d1), src(d3))
    }) { df =>
      val (packed, _) = jobs.TrainingPipeline.run(spark, sfDir,
        input = Some(df), normalize = true)
      noop(packed)
    }),

    // PCA: the distributed exact-integer moments pass is the part that
    // grows with the corpus (2080 map-side-combined co-moment partials
    // per task); the 30-step driver iteration on the collected 64x64
    // matrix is constant. Replication leaves the component meaningful —
    // identical copies don't change the covariance, only the row count
    // under scan, which is exactly the scaling under test.
    "pca" -> (() => scaleProbe(() => {
      val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      (e1, replicate3(e1, "vec_id"))
    }) { df =>
      operators.Pca.topComponent(df, "embedding", dim = 64)
      ()
    }),

    // media dedup: the whole composition (fingerprint → exact-dup
    // collapse → offset-voting clip pairs among representatives →
    // exact-group edges → CC → min-id keeper), not just its parts.
    // The 3× side replicates the ENTIRE 1× fixture (originals +
    // mid-stream extracts) at shifted ids, so replicas are byte-
    // identical re-uploads: the collapse folds them to the SAME
    // representative population at both sizes — by construction the
    // align join and CC see constant work, and the exponent measures
    // the stage a 3× dup-flood actually grows: WAV synth + decode +
    // fingerprint scan + the exact-collapse groupBy. That is the
    // production claim (re-upload floods cost one linear collapse
    // pass), the dup-dense pair stages stay excluded per the shared
    // probe discipline.
    "media_dedup" -> (() => scaleProbe(() => {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      def one(shift: Long) =
        graft.multimodal.Multimodal.fabricateAudio(d, idOffset = shift)
          .unionByName(graft.multimodal.Multimodal.fabricateAudio(
            d.filter(col("doc_id") % 25 === 0),
            idOffset = shift + 1000000L, startFrame = 64))
      (one(0L), Seq(0L, 10000000L, 20000000L).map(one).reduce(_.unionByName(_)))
    }, samplePairs = 2) { df =>
      noop(graft.multimodal.Multimodal.audioDedup(df, minSupport = 2,
        maxBucket = 1000))
    }),

    // the two pipeline_full compositions run LAST: their multi-minute
    // 1x/3x samples leave enough heap and page-cache pressure to
    // inflate the serving-shape probes run after them (knn_ivf read
    // 0.74 after them vs 0.20 before, on the same quiet box). Their
    // ~100 s samples keep fewer pairs: 2, and 1 for the media form,
    // which exists to evidence the full production curve once.
    "pipeline_full" -> (() => pipelineFullProbe(samplePairs = 2, media = false)),
    "pipeline_full_media" -> (() => pipelineFullProbe(samplePairs = 1, media = true)))
    require(probes.map(_._1) == allProbeLabels, "probe list and allProbeLabels differ")

    // The probes run FIRST, on the heap the warm-up left: after the
    // lanes' hundreds of timed jobs the JVM carries heap and page-cache
    // state that System.gc() does not fully settle, and probe exponents
    // measured there disagreed with fresh-JVM ones (knn_ivf 0.69 vs
    // 0.19, bitext 1.14 vs 0.84, at equal loadavg). A failed probe
    // prints its error and leaves no entry: a missing exponent reads as
    // a failure, not as silent absence.
    for ((label, probe) <- probes if sel.probes.contains(label)) {
      try probeResults(label) = probe()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label scale probe failed: $e") }
      checkpoint()
    }

    // passes 1..iters round-robin; the third-and-later passes skip a
    // lane that is already stable and floor-bound (both samples
    // sub-second and within 30%)
    for (pass <- 1 to iters; (name, fn) <- names) {
      val ts = samples(name)
      val stableFast = pass > 2 && ts.length >= 2 && ts.forall(_ >= 0) &&
        ts.max < 1.0 && (ts.max - ts.min) / math.max(ts.min, 1e-9) < 0.3
      if (!stableFast) { timeLane(name, fn); checkpoint() }
    }
    spark.catalog.clearCache()

    // scale separation: one pass at the next-smaller sf (when present)
    // so a query's fixed overhead (~0.2-0.3s planning/JVM floor) is
    // separable from its data-dependent cost
    val smallDir = Some(sfDir.replace("sf0.1", "sf0.01"))
      .filter(d => d != sfDir && new java.io.File(d).isDirectory)
    smallDir.foreach { sd =>
      val sq = names.map { case (name, fn) =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val t =
          try {
            fn(spark, sd).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => -1.0 }
        name -> t
      }
      smallJsonStr =
        s""","sf_small":"$sd","queries_small":${jm(sq.map { case (k, v) => k -> fmt(v, 3) })}"""
      checkpoint()
    }
    spark.catalog.clearCache()

    // reference benchmark harnesses (MRBench.java:173-233 avg latency;
    // TestDFSIO.java:88-103 sequential MB/s), sized small enough to not
    // dominate the run but large enough to exceed fixed overhead.
    // Each harness fails ALONE — an nnbench error must not discard the
    // measurements before it.
    if (sel.full) {
      try {
        val mrRuns = jobs.LoadGen.mrbench(spark, s"$benchDir/mrbench", inputLines = 1000, runs = 4)
        val dfsioMb = 256
        val dfsioFiles = 8
        val (_, w) = jobs.LoadGen.dfsioWrite(spark, s"$benchDir/dfsio", dfsioFiles, dfsioMb / dfsioFiles)
        val (_, r) = jobs.LoadGen.dfsioRead(spark, s"$benchDir/dfsio")
        mrAvg = mrRuns.sum / mrRuns.length; wMbps = w; rMbps = r
      } catch { case _: Throwable => () }
      checkpoint()
      try nnOps = jobs.LoadGen.nnbench(spark, s"$benchDir/nnbench", files = 2000)
        .getOrElse("create_write", -1.0)
      catch { case _: Throwable => () }
      // FileBench / Slive analogs (MapredTestDriver.java:60-105 family):
      // one headline number each — the K/V-format read lane and the
      // sustained mixed-op rate (a slive failure count would surface as
      // a collapsed ops/sec, so the single metric still carries the
      // signal)
      try fbSeqRead = jobs.LoadGen.fileBench(spark, s"$benchDir/filebench", mb = 64)
        .getOrElse("seq_read", -1.0)
      catch { case _: Throwable => () }
      try {
        val (_, rate, fails) =
          jobs.LoadGen.slive(spark, s"$benchDir/slive", filesPerTask = 100)
        sliveOps = if (fails > 0) -1.0 else rate
      } catch { case _: Throwable => () }
      // BigMapOutput / ThreadedMapBenchmark analogs: binary-record
      // shuffle MB/s and map-side external-sort MB/s
      try bmoMbps = jobs.LoadGen.bigMapOutput(spark, s"$benchDir/bmo", mb = 64)._2
      catch { case _: Throwable => () }
      try tmbMbps = jobs.LoadGen.threadedMapBench(spark, mb = 64)._2
      catch { case _: Throwable => () }
      checkpoint()
    }
    // the harness dirs and the streaming probe's source dirs
    try sources.TeraIO.delete(spark, benchDir)
    catch { case _: Throwable => () }

    // ---- device bandwidth probe ------------------------------------
    // the delivered DIRECT-I/O bandwidth of the device hosting tmpdir,
    // measured in the same window terasort_sf1 is about to use: that
    // lane swings with device-side variance, and this number, in the
    // same record (device_mbps_write / device_mbps_read), tells a slow
    // device from a slow plan. oflag=direct bypasses the page cache, so
    // the number is the device's, not the kernel's; 512 MiB is large
    // enough to outlast any write-buffer burst and costs ~2-5 s per
    // side. Timed here (not parsed from dd's locale-dependent summary),
    // conv=fsync on the write so queued blocks land inside the timing.
    def devDirectMbps(): (Double, Double) =
      try {
        val mb = 512
        val f = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
          s"/graft-devprobe-${ProcessHandle.current().pid()}.bin"
        def run(cmd: Seq[String]): Double = {
          val t0 = System.nanoTime()
          val p = new ProcessBuilder(cmd: _*)
            .redirectErrorStream(true).start()
          p.getInputStream.readAllBytes()
          val rc = p.waitFor()
          val el = (System.nanoTime() - t0) / 1e9
          if (rc != 0 || el <= 0) -1.0 else mb / el
        }
        val w = run(Seq("dd", "if=/dev/zero", s"of=$f", "bs=4M",
          s"count=${mb / 4}", "oflag=direct", "conv=fsync"))
        val r = run(Seq("dd", s"if=$f", "of=/dev/null", "bs=4M",
          "iflag=direct"))
        new java.io.File(f).delete()
        (w, r)
      } catch { case _: Throwable => (-1.0, -1.0) }
    if (sel.full) {
      val (dw, dr) = devDirectMbps()
      devWMbps = dw; devRMbps = dr
      checkpoint()
    }

    // one sf1 (10 GB in + 10 GB out) disk-to-disk gray-sort point:
    // TeraGen 100M rows -> TeraSort -> TeraValidate + checksum over the
    // RE-READ output, all inside the timing — the suite's terasort lane
    // is 1 GB, so the BASELINE.md Yahoo-2009 GB/node/min comparison
    // would otherwise be a 10× extrapolation. Full run at an sf0.1 dir
    // only, and LAST, so its ~20 GB of disk traffic perturbs nothing.
    if (sel.full && sfDir.contains("sf0.1")) teraSf1Sec =
      try {
        val rows = 100000000L
        val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
          s"/graft-terasf1-${ProcessHandle.current().pid()}"
        val inDir = s"$dir/input"; val outDir = s"$dir/output"
        try {
          val t0 = System.nanoTime()
          sources.TeraIO.write(jobs.TeraSort.teraGen(spark, rows, 128), inDir)
          val genChecksum =
            jobs.TeraSort.teraChecksum(sources.TeraIO.read(spark, inDir))
          sources.TeraIO.write(
            jobs.TeraSort.teraSort(sources.TeraIO.read(spark, inDir), 128), outDir)
          val (ok, count, outChecksum) =
            jobs.TeraSort.teraValidateChecksum(sources.TeraIO.read(spark, outDir))
          val t = (System.nanoTime() - t0) / 1e9
          if (ok && count == rows && outChecksum == genChecksum) t
          else {
            System.err.println(s"[bench] terasort_sf1 validation failed: " +
              s"ok=$ok count=$count checksums=$genChecksum/$outChecksum")
            -1.0
          }
        } finally sources.TeraIO.delete(spark, dir)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] terasort_sf1 failed: $e"); -1.0 }

    // final write: the complete record, "partial" dropped
    checkpoint(partial = false)

    val medAll = names.collect {
      case (n, _) if samples(n).nonEmpty => n -> medOf(n) }.toMap
    val summary = summaryLine(
      total = medAll.values.filter(_ >= 0).sum, sf = sfDir, iters = iters,
      lanes = names.length,
      failed = names.collect { case (n, _) if medAll.get(n).exists(_ < 0) => n },
      elapsedSec = elapsedSec,
      headlineVals = headlineLanes.filter(medAll.contains)
        .map(n => n -> fmt(medAll(n), 3)),
      exponents = probeResults.toSeq.map { case (l, p) => l -> fmt(p.exponent, 3) },
      harnessJson = harnessJson, fullRecord = out)
    // stop FIRST, so the summary is the last line the run prints
    spark.stop()
    println(summary)
    Console.flush()
  }
}
