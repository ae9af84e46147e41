package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.StreamingOps

/** Driver-visible STREAMING queries: each entry actually executes a
  * Structured Streaming job (file source over the sf parquet → memory
  * sink, `processAllAvailable`) and returns the final result for the
  * rows/hash check. The stream-transparency law (StreamingSpec pins
  * batch ≡ stream for every lane here) is what makes a BATCH DuckDB
  * oracle valid for a streaming execution — the oracle replays the
  * batch semantics, the query proves the streaming run reproduces them.
  *
  * Result determinism discipline: streaming dedup keeps an
  * arrival-dependent representative row, so declared outputs project to
  * the arrival-independent payload (content digests, per-key
  * aggregates), never to "whichever row survived".
  */
object StreamingQueries extends QueryModule {

  private val runSeq = new AtomicInteger(0)

  /** Run `stream` to completion into a memory sink and return the
    * accumulated table. Unique sink name per call so repeated runs in
    * one session (Verify then Bench) never collide.
    *
    * Two fixture-harness knobs, both deployment sizing rather than
    * semantics (StreamingSpec's stream-transparency law pins the output
    * either way):
    *
    *  - `stateParts` sizes the stateful-shuffle partition count for the
    *    run. Streaming state cost is per-partition-per-batch (a
    *    stream-stream join opens FOUR state stores per partition), so
    *    partitions must be sized to the FEED, not the session default —
    *    the fixture feed is one small file; a production 100 TB feed
    *    would size this up exactly like any shuffle. Measured: the
    *    funnel lane drops 6.1 s → 1.6 s at 8 partitions with an
    *    identical result set.
    *
    *  - `noData=false` skips the trailing no-data micro-batch. Only a
    *    lane whose OUTPUT depends on a watermark-triggered flush
    *    (EventTimeTimeout sessionization) needs that batch; inner
    *    interval joins, dropDuplicates*, and TimeMode.None
    *    transformWithState lanes emit on arrival — the watermark only
    *    bounds their state retention, which a completed fixture run
    *    never exercises.
    */
  private def runToTable(stream: DataFrame, mode: String,
                         noData: Boolean = false,
                         stateParts: Int = 8): DataFrame = {
    val s = stream.sparkSession
    val pKey = "spark.sql.shuffle.partitions"
    val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val (prevP, prevN) = (s.conf.getOption(pKey), s.conf.getOption(nKey))
    s.conf.set(pKey, stateParts.toString)
    s.conf.set(nKey, noData.toString)
    try {
      val name = s"graft_stream_sink_${runSeq.incrementAndGet()}"
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    } finally {
      prevP.fold(s.conf.unset(pKey))(s.conf.set(pKey, _))
      prevN.fold(s.conf.unset(nKey))(s.conf.set(nKey, _))
    }
  }

  /** transformWithState requires the RocksDB state store (the
    * HDFS-backed provider has no column families); scope the conf to
    * the body and restore after.
    */
  private def withRocksDB[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  private def docStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "documents")

  /** The CDC change batches of the streaming_cdc lane, in arrival
    * order: U@1 re-prioritizes the %7 stride, U@2 overrides its %3
    * sub-stride, then @3 deletes the %11 stride and inserts fresh
    * negative keys for %13 — later batches override earlier ones, the
    * property a streaming MERGE must preserve. Shared with the
    * StreamingSpec stream≡batch law.
    */
  private[graft] def cdcBatches(s: SparkSession, dir: String): Seq[DataFrame] = {
    val o = graft.Tables(s, dir, "orders")
    val k = col("o_orderkey")
    Seq(
      o.filter(k % 7 === 0)
        .withColumn("o_orderpriority", lit("0-UPD-A"))
        .withColumn("__op", lit("U")).withColumn("__seq", lit(1L)),
      o.filter(k % 7 === 0 && k % 3 === 0)
        .withColumn("o_orderpriority", lit("0-UPD-B"))
        .withColumn("__op", lit("U")).withColumn("__seq", lit(2L)),
      o.filter(k % 11 === 0)
        .withColumn("__op", lit("D")).withColumn("__seq", lit(3L))
        .unionByName(o.filter(k % 13 === 0)
          .withColumn("o_orderkey", -k - 1)
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("__op", lit("I")).withColumn("__seq", lit(3L))))
  }

  // one CDC feed dir per sfDir for the JVM ([[QueryModule.tempDir]]):
  // the three change batches land as three parquet files
  // with increasing modification times, so the file source replays
  // them as three ORDERED micro-batches under maxFilesPerTrigger=1
  private def cdcFeed(s: SparkSession, dir: String): String =
    QueryModule.tempDir(dir, "cdc-feed", { feed =>
      cdcBatches(s, dir).zipWithIndex.foreach { case (b, i) =>
        val stage = java.nio.file.Files.createTempDirectory("graft-cdc-stage")
        b.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part written for cdc batch $i"))
        val dst = java.nio.file.Paths.get(feed, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
        org.apache.hadoop.fs.FileUtil.fullyDelete(stage.toFile)
      }
    })

  // the clip-detection query feed: MID-STREAM audio extracts (every
  // 25th doc, 64 samples in) fingerprinted once per sf dir and landed
  // as the parquet files a client would upload — the Shazam serving
  // shape sends FINGERPRINTS over the wire, never audio
  private def clipFeed(s: SparkSession, dir: String): String =
    QueryModule.tempDir(dir, "clip-feed", { feed =>
      Multimodal.audioSubfingerprints(Multimodal.fabricateAudio(
          graft.Tables(s, dir, "documents").filter(col("doc_id") % 25 === 0),
          idOffset = 1000000L, startFrame = 64))
        .filter(col("subfp").isNotNull)
        .coalesce(1).write.mode("overwrite").parquet(feed)
    })

  // the VIDEO clip-detection query feed: head-clipped re-encodes
  // (every 20th-ish doc minus its head frame) frame-hashed once per
  // sf dir — clients upload frame HASHES, never video
  private def vclipFeed(s: SparkSession, dir: String): String =
    QueryModule.tempDir(dir, "vclip-feed", { feed =>
      Multimodal.videoFrameHashes(Multimodal.fabricateFrameStream(
          graft.Tables(s, dir, "documents").filter(col("doc_id") % 20 === 5),
          idOffset = 1000000L, frameShift = 1))
        .coalesce(1).write.mode("overwrite").parquet(feed)
    })

  // the ADMISSION-GATE upload feed: candidate uploads a UGC platform
  // would check before admission — mid-stream extracts of every 25th
  // corpus recording (dup-flood candidates, to be REJECTED) plus
  // genuinely NOVEL recordings (every 25th+1 doc's waveform law
  // re-keyed to the unused 500000+id space — content in no corpus
  // item, to be ADMITTED). Clients upload fingerprints, never audio.
  private def gateFeed(s: SparkSession, dir: String): String =
    QueryModule.tempDir(dir, "gate-feed", { feed =>
      val d = graft.Tables(s, dir, "documents")
      Multimodal.audioSubfingerprints(
          Multimodal.fabricateAudio(d.filter(col("doc_id") % 25 === 0),
            idOffset = 1000000L, startFrame = 64)
          .unionByName(Multimodal.fabricateAudio(
            d.filter(col("doc_id") % 25 === 1)
              .withColumn("doc_id", col("doc_id") + 500000L))))
        .filter(col("subfp").isNotNull)
        .coalesce(1).write.mode("overwrite").parquet(feed)
    })

  // the VIDEO admission-gate upload feed: head-clipped re-encodes of
  // the %20=15 catalog streams (5-frame sources, so every re-encode
  // keeps 4 aligned frames — to be REJECTED at the support-3 bar; the
  // 8x8 frame ahash is low-entropy enough that a support-2 bar can
  // match on coincidental aligned pairs, which is why the video gate
  // votes at 3 where the audio gate's high-entropy subfingerprints
  // vote at 2) plus NOVEL uploads for the admit path. Novel uploads
  // cannot come from the pixel law at a shifted id: the law's every
  // src-dependent term reduces mod 256/24/16/4, so streams repeat
  // with period 768 in src and any "new" id's stream already sits in
  // a big-enough catalog (at sf0.1's 5000 docs every residue is
  // taken — a re-keyed upload was measured rejecting 24/25 as
  // byte-identical catalog twins). Novel clients therefore upload
  // out-of-law hashes: 64-bit md5-derived bit strings keyed by
  // (upload, frame), replayed exactly by the oracle
  // (lpad(conv(hex,16,2))) and sharing nothing with any catalog
  // frame. Clients upload frame hashes, never video.
  private def vgateFeed(s: SparkSession, dir: String): String =
    QueryModule.tempDir(dir, "vgate-feed", { feed =>
      val d = graft.Tables(s, dir, "documents")
      val novel = d.filter(col("doc_id") % 20 === 6)
        .select((col("doc_id") + 500000L).as("doc_id"),
          explode(sequence(lit(0),
            (lit(1) + pmod(col("doc_id"), lit(4))).cast("int"))).as("frame_idx"))
        .withColumn("fhash",
          lpad(conv(substring(md5(concat_ws(":", lit("vg"),
            col("doc_id"), col("frame_idx"))), 1, 15), 16, 2), 64, "0"))
      Multimodal.videoFrameHashes(
          Multimodal.fabricateFrameStream(d.filter(col("doc_id") % 20 === 15),
            idOffset = 1000000L, frameShift = 1))
        .unionByName(novel)
        .coalesce(1).write.mode("overwrite").parquet(feed)
    })

  // the IMAGE admission-gate upload feed: lossless BMP re-encodes of
  // the %20=5 catalog stills (pixel-identical, byte-distinct — both
  // perceptual signatures match the catalog's, to be REJECTED at the
  // support-2 two-signature bar) plus NOVEL uploads for the admit
  // path. Novel uploads cannot come from the pixel law at a shifted
  // id (the law repeats with period 768 in src — the vgateFeed
  // caveat), so novel clients upload out-of-law signatures: 64-bit
  // md5-derived bit strings keyed by (upload, signature kind),
  // replayed exactly by the oracle and sharing nothing with any
  // catalog image. Clients upload signatures, never image bytes.
  private def igateFeed(s: SparkSession, dir: String): String =
    QueryModule.tempDir(dir, "igate-feed", { feed =>
      val d = graft.Tables(s, dir, "documents")
      val novel = d.filter(col("doc_id") % 20 === 6)
        .select((col("doc_id") + 500000L).as("doc_id"),
          explode(array(lit("a"), lit("d"))).as("kind"))
        .withColumn("sig",
          lpad(conv(substring(md5(concat_ws(":", lit("ig"),
            col("doc_id"), col("kind"))), 1, 15), 16, 2), 64, "0"))
      Multimodal.imageSignatures(
          Multimodal.fabricateStillImages(d.filter(col("doc_id") % 20 === 5),
            idOffset = 1000000L, fmt = "bmp"))
        .filter(col("sig").isNotNull)
        .unionByName(novel)
        .coalesce(1).write.mode("overwrite").parquet(feed)
    })

  /** The stream-static vote shared by the clip-detection and gate
    * lanes: the index, capped at 1000 rows per hot key
    * ([[graft.operators.Buckets.probe]]), meets the feed as a stream in
    * one equi-join on `keys`, and votes per (up_id, m_id) — and per
    * alignment `offset`, the index row's `idx` minus the upload row's,
    * when `idx` is given — aggregate in complete mode at `minSupport`.
    */
  private def streamVotes(index: DataFrame, keys: Seq[String], idx: Option[String],
                          feed: String, minSupport: Int): DataFrame = {
    val s = index.sparkSession
    val statik = index.select(keys.map(col) ++
      (col("doc_id").as("m_id") +: idx.map(c => col(c).as("m_idx")).toSeq): _*)
    val qs = s.readStream.schema(s.read.parquet(feed).schema).parquet(feed)
    val offset = idx.map(c => (col("m_idx") - col(c)).cast("long").as("offset")).toSeq
    runToTable(
      graft.operators.Buckets.probe(statik, qs, keys, 1000)
        .groupBy(Seq(col("doc_id").as("up_id"), col("m_id")) ++ offset: _*)
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSupport),
      "complete")
  }

  /** The admission gate of the three media gate lanes: [[streamVotes]]
    * against the loaded index, then a batch election keeping each
    * upload's best match (support desc, offset asc, match asc); an
    * upload without one is admitted with NULL match columns.
    */
  private def admissionGate(index: DataFrame, keys: Seq[String], idx: Option[String],
                            feed: String, minSupport: Int): DataFrame = {
    val votes = streamVotes(index, keys, idx, feed, minSupport)
    val byOffset = idx.map(_ => col("offset")).toSeq
    val w = org.apache.spark.sql.expressions.Window.partitionBy("up_id")
      .orderBy(col("support").desc +: byOffset.map(_.asc) :+ col("m_id").asc: _*)
    val best = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    index.sparkSession.read.parquet(feed)
      .select(col("doc_id").as("up_id")).distinct()
      .join(best, Seq("up_id"), "left")
      .select(Seq(col("up_id"), col("m_id").isNotNull.as("rejected"), col("m_id")) ++
        byOffset :+ col("support"): _*)
  }

  // one shim dir per (sfDir, table) for the whole JVM: a long-lived
  // Verify+Bench session re-running a streaming query reuses the same
  // dir instead of leaking a fresh copy per run, and deleteOnExit is
  // registered child-before-dir-last (File.deleteOnExit deletes in
  // reverse registration order, so dir-then-child clears both)
  private val streamSrcDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.nio.file.Path]()

  private def tableStream(s: SparkSession, dir: String,
                          table: String): DataFrame = {
    // the file-stream source only accepts a DIRECTORY to monitor; the
    // sf table is a single parquet file, so link/copy it into a temp
    // dir (a production feed would already be a directory of
    // arriving part files — this shim exists only for the fixture)
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    val tmp = streamSrcDirs.computeIfAbsent((dir, table), { _ =>
      val t = java.nio.file.Files.createTempDirectory("graft-stream-src")
      t.toFile.deleteOnExit()
      val dst = t.resolve(s"$table.parquet")
      try java.nio.file.Files.createSymbolicLink(dst, src)
      catch { case _: Exception =>
        java.nio.file.Files.copy(src, dst)
      }
      dst.toFile.deleteOnExit()
      t
    })
    val schema = s.read.parquet(src.toString).schema
    s.readStream.schema(schema).parquet(tmp.toString)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the ingest-time document-cleaning chain (lang + min-token +
    // quality gates, then exact content dedup) EXECUTED AS A STREAM;
    // output = the kept content set (digest + token count), which is
    // arrival-order-independent even though the surviving row ids are
    // not
    "streaming_clean" -> ((s, dir) => {
      val cleaned = StreamingOps.cleanDocStream(docStream(s, dir), "text",
        lang = "en", minTokens = 5, minQuality = Some(0.1))
      runToTable(cleaned, "append")
        .select(col("digest"),
          size(graft.operators.Dedup.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        .distinct()
    }),

    // ingest-time DECONTAMINATION as a stream: the row-local
    // contamination gate (Dedup.contamRatio — an O(1)-lookup broadcast
    // set in the task closure, built for exactly this lane) drops docs
    // whose 3-gram overlap with the %97 eval suite reaches 0.8, inside
    // the same cleaning chain. The eval hash collect is the bounded
    // driver artifact of any decontamination pass (an eval SUITE, not
    // a corpus). Output = kept content set, arrival-independent; the
    // batch oracle replays the exact same ratio law the join lane
    // (`decontaminate`) is verified against.
    "streaming_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val evalH1 = graft.operators.Dedup.shingleHashTable(
          graft.Tables(s, dir, "documents")
            .filter(col("doc_id") % 97 === 0), "doc_id", "text", 3)
        .select(col("h1")).distinct().as[Long].collect().toSeq
      val cleaned = StreamingOps.cleanDocStream(docStream(s, dir), "text",
        lang = "en", minTokens = 5,
        evalH1 = evalH1, k = 3, contamThreshold = 0.8)
      runToTable(cleaned, "append")
        .select(col("digest"),
          size(graft.operators.Dedup.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        .distinct()
    }),

    // per-source token-length histogram aggregated WITH STREAMING STATE
    // (transformWithState value-count percentiles); the declared output
    // is the final running-percentile snapshot per source, which the
    // stream-transparency law makes equal to the batch exact
    // percentiles
    "streaming_percentiles" -> ((s, dir) => {
      import s.implicits._
      val toks = docStream(s, dir)
        .select(col("source").as("k"),
          size(graft.operators.Dedup.tokens(col("text"))).cast("long").as("v"))
        .as[StreamingOps.KV]
      val snaps = withRocksDB(s) {
        runToTable(
          StreamingOps.runningPercentiles(toks, pcts = Seq(50, 90)).toDF(),
          "update")
      }
      // last snapshot per (source, pct) — n grows monotonically, so
      // rank-by-n-desc row 1 is the full-corpus state — equal to the
      // batch exact percentiles by the stream-transparency law. (A
      // window, not a self-join: the memory-sink view resolves to the
      // same attribute ids on both sides and the join won't analyze.)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k", "pct").orderBy(col("n").desc)
      snaps.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("k").as("source"), col("pct"), col("n").as("n_docs"),
          col("v").as("val"))
    }),

    // the quantile SKETCH under streaming state: logBucket bounds an
    // unbounded-cardinality metric (byte sizes) to <= ~976 ids, the
    // running value-count percentile state walks the bucketed
    // distribution, and bucketLow maps the answer back — monotone
    // binning + the shared rank rule make the streamed estimate equal
    // the batch sketch's (quantile_sketch), which the oracle replays
    "streaming_quantile_sketch" -> ((s, dir) => {
      import s.implicits._
      val bucketed = docStream(s, dir)
        .select(col("source").as("k"),
          graft.operators.Quantiles.logBucket(octet_length(col("text")))
            .as("v"))
        .as[StreamingOps.KV]
      val snaps = withRocksDB(s) {
        runToTable(
          StreamingOps.runningPercentiles(bucketed, pcts = Seq(50, 90, 99))
            .toDF(),
          "update")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k", "pct").orderBy(col("n").desc)
      snaps.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("k").as("source"), col("pct"),
          graft.operators.Quantiles.bucketLow(col("v")).as("est"))
    }),

    // the ingest-time NEAR-DUP gate: the corpus slice is minhash-indexed
    // once IN BATCH (the persisted artifact), the incoming slice is
    // STREAMED through the index probe — row-local signatures/banding,
    // stream-static equi-join on (band, bh), row-local signature-
    // agreement verify. Output (new_id, corpus_id, n_agree,
    // est_jaccard) is arrival-independent, so the batch probe oracle
    // replays it exactly (stream side uncapped: the gate caps only the
    // INDEX buckets at build time)
    "streaming_dedup_gate" -> ((s, dir) => {
      val d = graft.Tables(s, dir, "documents")
      val idx = graft.operators.Dedup.buildMinhashIndex(
        d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        k = 3, numPerm = 16, rowsPerBand = 4, maxBucket = 1000)
      val incoming = docStream(s, dir).filter(col("doc_id") % 3 === 0)
      runToTable(
        StreamingOps.streamDedupGate(incoming, "doc_id", "text", idx,
          threshold = 0.5),
        "append")
    }),

    // the stream-stream interval join EXECUTED AS A STREAM: view →
    // purchase within 1h for the same user. Inner interval joins emit
    // every match regardless of watermark progress (the watermark only
    // bounds the buffered state), so the completed stream emits exactly
    // the batch inequality-join result — the same oracle funnel_within
    // replays over the batch execution of this very operator.
    "streaming_funnel" -> ((s, dir) => {
      runToTable(
        StreamingOps.followWithin(tableStream(s, dir, "events"),
          firstType = "view", thenType = "purchase",
          within = "1 hour", watermark = "2 hours"),
        "append")
    }),

    // the watermarked tumbling-window aggregate EXECUTED AS A STREAM in
    // complete mode: state is one row per (hour, event_type) — the
    // watermark bounds it on an unbounded feed — and the completed
    // result equals the batch hourly rollup (the window_agg lane). The
    // decimal sum leaves as exact integer cents so no carrier-type skew
    // can survive the driver hash.
    "streaming_window_agg" -> ((s, dir) => {
      val agged = StreamingOps.windowedAgg(
        tableStream(s, dir, "events"), "1 hour", "10 minutes")
      runToTable(agged, "complete")
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"),
          (col("val_sum") * 100).cast("long").as("val_sum_c"))
    }),

    // the ValueAggregator framework's LongValueSum AS UNBOUNDED
    // STREAMING STATE (transformWithState, RocksDB): per-event-type
    // count+sum survive across micro-batches; the declared output is
    // the final snapshot per key (n grows monotonically, so the
    // largest-n row is the full-corpus state), equal to the batch
    // count/sum by the stream-transparency law.
    "streaming_value_sum" -> ((s, dir) => {
      import s.implicits._
      val kv = tableStream(s, dir, "events")
        .select(col("event_type").as("k"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
        .as[StreamingOps.KV]
      val snaps = withRocksDB(s) {
        runToTable(StreamingOps.runningAgg(kv).toDF(), "update")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("n").desc)
      snaps.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("k").as("event_type"), col("n"), col("sum").as("sum_c"))
    }),

    // stateful sessionization EXECUTED AS A STREAM: the flagship
    // flatMapGroupsWithState lane (EventTimeTimeout flushes idle users'
    // open sessions without waiting for their next visit). The emitted
    // set is deterministic, not "whatever was closed at stream end":
    // a session appears iff it CLOSED BY GAP inside the data, or its
    // timeout (end_ms + gap_ms) lies strictly below the final watermark
    // floor(max_us/1000) — both conditions are pure functions of the
    // input, so the batch oracle replays them exactly. Sessions still
    // open at that watermark stay in state (at scale the feed never
    // ends; they flush when the watermark passes them).
    "streaming_sessionize" -> ((s, dir) => {
      import s.implicits._
      val gapUs = 1800L * 1000000L
      val evs = tableStream(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .as[StreamingOps.Ev]
      // noData = true: the final open sessions flush only when the
      // no-data batch advances the watermark past end + gap
      runToTable(
        StreamingOps.sessionizeWithTimeout(evs, gapUs).toDF(), "append",
        noData = true)
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"))
    }),

    // sharded Misra-Gries heavy-hitter CANDIDATES maintained as
    // streaming state, then the exact batch verify pass — the
    // production split (the stream narrows an unbounded token space to
    // <= shards·k candidates; the verify is a cheap filtered count).
    // Soundness makes the output deterministic: every token with
    // global cnt·k > n survives its shard's summary (shard count =
    // global count, shard n <= global n), and the verify filter
    // discards arrival-dependent extras — so the result is EXACTLY the
    // batch heavy-hitter set, despite MG state being order-dependent.
    "streaming_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = docStream(s, dir)
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("token"))
        .select(pmod(hash(col("token")), lit(8)).cast("string").as("shard"),
          col("token"))
        .as[StreamingOps.STok]
      val snaps = withRocksDB(s) {
        runToTable(StreamingOps.runningHeavyHitters(toks, k = 64).toDF(),
          "update")
      }
      // final summary per shard = rows of its last (largest-n) snapshot
      val byShard = org.apache.spark.sql.expressions.Window.partitionBy("shard")
      val cands = snaps
        .withColumn("maxn", max(col("n")).over(byShard))
        .filter(col("n") === col("maxn"))
        .select("token").distinct()
      // exact verify over the batch table (Frequent.heavyHitters step 2)
      val tk = graft.Tables(s, dir, "documents")
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("token"))
      val tot = tk.agg(count(lit(1)).as("n"))
      tk.join(broadcast(cands), Seq("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * 64 > col("n"))
        .select(col("token"), col("cnt"))
    }),

    // ANN SERVING as a stream: query vectors arrive on the stream and
    // probe the statically-built IVF index (codebook broadcast, probe
    // stream drives the stream-static cell equi-join — probeIvf flips
    // the join direction for a streaming probe side since a stream
    // cannot broadcast). Complete-mode state = one bounded <= k-entry
    // top-k buffer per live query — the vector-search serving shape.
    // Batch ≡ stream bit-for-bit (same candidates/scores/ranks), so the
    // ann_ivf_topk index replay is the oracle.
    "streaming_ann" -> ((s, dir) => {
      import graft.operators.Similarity
      val base = graft.Tables(s, dir, "embeddings")
      val cb = Similarity.kmeansCodebook(base, "vec_id", "embedding",
        nCells = 16, iters = 2)
      val assigned = Similarity.assignCells(
        base.select(col("vec_id").cast("long").as("n_id"),
          col("embedding").as("nv")), "n_id", "nv", cb, rep = 4)
      val qs = tableStream(s, dir, "embeddings")
        .filter(col("vec_id") % 50 === 0)
      runToTable(Similarity.probeIvf(cb, assigned, qs,
        "vec_id", "embedding", k = 5, nProbe = 4), "complete")
    }),

    // STREAMING CLIP DETECTION (the Shazam serving shape): a stream of
    // uploaded audio FINGERPRINTS (mid-stream extracts' subfingerprints
    // — clients send fingerprints, never audio) probes the batch-built
    // corpus fingerprint index via one stream-static equi-join on the
    // subfingerprint alone, and the offset votes aggregate in complete
    // mode — the audio_clip_align law executed as a serving job. The
    // index side carries the hot-key cap (a viral jingle's window
    // matches nobody); state is the vote table, bounded by true+
    // coincidental matches, never by the stream. Oracle = the batch
    // vote replay (stream-transparency, the streaming_ann contract).
    "streaming_clip_align" -> ((s, dir) => {
      streamVotes(Multimodal.audioSubfingerprints(Multimodal.fabricateAudio(
          graft.Tables(s, dir, "documents"))).filter(col("subfp").isNotNull),
        Seq("subfp"), Some("win_idx"), clipFeed(s, dir), minSupport = 2)
        .toDF("aud_q", "aud_m", "offset", "support")
    }),

    // STREAMING VIDEO CLIP DETECTION: the streaming_clip_align shape
    // over the frame-ahash table — a stream of uploaded frame HASHES
    // probes the batch-built corpus index via one stream-static
    // equi-join on the hash alone, offset votes aggregate in complete
    // mode, the index side carries the hot-key cap. Oracle = the batch
    // vote replay (stream-transparency).
    "streaming_video_clip" -> ((s, dir) => {
      streamVotes(Multimodal.videoFrameHashes(Multimodal.fabricateFrameStream(
          graft.Tables(s, dir, "documents"))),
        Seq("fhash"), Some("frame_idx"), vclipFeed(s, dir), minSupport = 2)
        .toDF("vid_q", "vid_m", "offset", "support")
    }),

    // THE STREAMING MEDIA ADMISSION GATE: the
    // streaming_dedup_gate discipline applied to the DURABLE clip
    // index — uploads are checked against the persisted corpus
    // fingerprint ARTIFACT before admission, the UGC-platform shape.
    // The index is built + saved + LOADED from parquet (the
    // clip_index_incremental artifact — a restarted gate serves from
    // disk, never re-fingerprints its catalog), hot-key-capped on the
    // index side; the upload feed (mid-stream extracts of every 25th
    // recording + genuinely novel recordings) streams through ONE
    // stream-static equi-join on the subfingerprint, offset votes
    // aggregate in complete mode at support >= 2, and the batch
    // election tail (the streaming_quantile_sketch post-processing
    // discipline) emits ONE verdict row per upload: rejected with its
    // best-supported corpus match, or admitted with NULL match
    // columns. Oracle = the batch vote replay + election
    // (stream-transparency).
    "streaming_media_gate" -> ((s, dir) => {
      val path = QueryModule.tempDir(dir, "gatea-idx")
      Multimodal.saveClipIndex(
        Multimodal.buildClipIndex(Multimodal.fabricateAudio(
          graft.Tables(s, dir, "documents"))), path)
      admissionGate(Multimodal.loadClipIndex(s, path).fps, Seq("subfp"),
        Some("win_idx"), gateFeed(s, dir), minSupport = 2)
    }),

    // the VIDEO admission gate: streaming_media_gate's shape over the
    // durable frame-ahash index ([[saveVideoClipIndex]]/
    // [[loadVideoClipIndex]] — a restarted gate serves from disk).
    // Uploaded frame hashes stream through one stream-static equi-join
    // on the hash, offset votes aggregate in complete mode at
    // support >= 3, and the batch election tail emits one verdict row
    // per upload: head-clipped re-encodes reject against their
    // originals at frame offset +1, novel streams admit with NULL
    // match columns. Oracle = the batch vote replay + election.
    "streaming_video_gate" -> ((s, dir) => {
      val path = QueryModule.tempDir(dir, "gatev-idx")
      Multimodal.saveVideoClipIndex(
        Multimodal.buildVideoClipIndex(Multimodal.fabricateFrameStream(
          graft.Tables(s, dir, "documents"))), path)
      admissionGate(Multimodal.loadVideoClipIndex(s, path).fps, Seq("fhash"),
        Some("frame_idx"), vgateFeed(s, dir), minSupport = 3)
    }),

    // the IMAGE admission gate: the streaming_media_gate discipline
    // over the durable two-signature still index ([[saveImageSigIndex]]
    // / [[loadImageSigIndex]] — a restarted gate serves from disk).
    // Uploaded signatures stream through one stream-static equi-join
    // on (kind, sig); votes aggregate in complete mode per
    // (upload, match) and a rejection needs support >= 2 — BOTH the
    // average-hash and the difference-hash must agree, the still-image
    // form of the video gate's support bar (a single 64-bit hash of an
    // 8×8 grid is low-entropy; two independent signature families
    // colliding at once is the bar). The batch election tail (support
    // desc, match asc — no offset for stills) emits one verdict row
    // per upload: lossless re-encodes reject against their originals,
    // novel uploads admit with NULL match columns. Oracle = the batch
    // vote replay + election (stream-transparency).
    "streaming_image_gate" -> ((s, dir) => {
      val path = QueryModule.tempDir(dir, "gatei-idx")
      Multimodal.saveImageSigIndex(
        Multimodal.buildImageSigIndex(Multimodal.fabricateStillImages(
          graft.Tables(s, dir, "documents"))), path)
      admissionGate(Multimodal.loadImageSigIndex(s, path).sigs, Seq("kind", "sig"),
        None, igateFeed(s, dir), minSupport = 2)
    }),

    // STREAMING CDC MERGE: the daily-crawl story's missing streaming
    // leg — an I/U/D change stream arrives as three ORDERED
    // micro-batches (maxFilesPerTrigger=1 over mtime-sequenced files)
    // and folds into the base orders table through the foreachBatch
    // MERGE loop (StreamingOps.runMergeStream — Cdc.applyChanges per
    // batch, Delta-style). Later batches override earlier ones: U@2
    // flips the %21 sub-stride of U@1's updates, D@3 removes updated
    // rows too. Oracle = the NET batch law over the full change set
    // (the stream-transparency contract, like streaming_ann); the
    // sequential-merge ≡ one-shot-global-MERGE law is pinned in
    // StreamingSpec.
    "streaming_cdc" -> ((s, dir) => {
      val feed = cdcFeed(s, dir)
      val schema = s.read.parquet(s"$feed/b0.parquet").schema
      val changes = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
      graft.streaming.StreamingOps
        .runMergeStream(graft.Tables(s, dir, "orders"), changes,
          "o_orderkey", "__seq", "__op")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("price_c"),
          col("o_orderpriority"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // batch replay of the served IVF index (SimilarityQueries.ivfCte —
    // the ann_ivf_topk pipeline) without the recall instrumentation:
    // the stream-transparency law makes the batch ranks the contract
    "streaming_ann" ->
      s"""WITH ${SimilarityQueries.ivfCte}
         |SELECT q_id, n_id, rnk FROM ivf WHERE rnk <= 5""".stripMargin,
    // the batch vote replay of the serving join (stream-transparency):
    // fingerprints for the corpus (off = 0) and the uploaded mid-stream
    // extracts (off = 64) from the one waveform law, index side
    // hot-capped, key-only matches vote for m_win - q_win
    "streaming_clip_align" ->
      s"""WITH base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, CAST(256 + doc_id % 512 - 64 AS BIGINT),
        |         3 + doc_id % 5, 64
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |), ${MultimodalQueries.subfpChain}, ok AS (
        |  SELECT subfp FROM fp WHERE doc_id < 1000000
        |  GROUP BY subfp HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT fp.* FROM fp JOIN ok USING (subfp) WHERE fp.doc_id < 1000000
        |), qs AS (
        |  SELECT * FROM fp WHERE doc_id >= 1000000
        |)
        |SELECT qs.doc_id AS aud_q, idx.doc_id AS aud_m,
        |       CAST(idx.win_idx - qs.win_idx AS BIGINT) AS "offset",
        |       CAST(COUNT(*) AS BIGINT) AS support
        |FROM qs JOIN idx USING (subfp)
        |GROUP BY 1, 2, 3
        |HAVING COUNT(*) >= 2""".stripMargin,
    // the video serving join's batch vote replay: frame hashes for the
    // corpus (sh = 0) and the uploaded head-clipped extracts (sh = 1)
    // from the one pixel law, index side hot-capped, key-only matches
    // vote for m_idx - q_idx
    "streaming_video_clip" ->
      s"""WITH vids AS (
        |  SELECT doc_id, doc_id AS src, 0 AS sh FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1 FROM documents WHERE doc_id % 20 = 5
        |), ${MultimodalQueries.frameHashChain}, ok AS (
        |  SELECT fhash FROM fhd WHERE doc_id < 1000000
        |  GROUP BY fhash HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT fhd.* FROM fhd JOIN ok USING (fhash) WHERE fhd.doc_id < 1000000
        |), qs AS (
        |  SELECT * FROM fhd WHERE doc_id >= 1000000
        |)
        |SELECT qs.doc_id AS vid_q, idx.doc_id AS vid_m,
        |       CAST(idx.idx - qs.idx AS BIGINT) AS "offset",
        |       CAST(COUNT(*) AS BIGINT) AS support
        |FROM qs JOIN idx USING (fhash)
        |GROUP BY 1, 2, 3
        |HAVING COUNT(*) >= 2""".stripMargin,
    // the admission-gate replay: corpus fingerprints (off 0) vs the
    // upload feed — %25 mid-stream extracts (ids +1000000, off 64) and
    // %25+1 NOVEL recordings (law re-keyed to 500000+id) — index side
    // hot-capped, votes at support >= 2, then the per-upload election
    // (support desc, offset asc, match asc) and the left-join verdict:
    // extracts reject against their originals, novel uploads admit
    // with NULL match columns
    "streaming_media_gate" ->
      s"""WITH base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, CAST(256 + doc_id % 512 - 64 AS BIGINT),
        |         3 + doc_id % 5, 64
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 500000, doc_id + 500000,
        |         CAST(256 + (doc_id + 500000) % 512 AS BIGINT),
        |         3 + (doc_id + 500000) % 5, 0
        |  FROM documents WHERE doc_id % 25 = 1
        |), ${MultimodalQueries.subfpChain}, ok AS (
        |  SELECT subfp FROM fp WHERE doc_id < 500000
        |  GROUP BY subfp HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT fp.* FROM fp JOIN ok USING (subfp) WHERE fp.doc_id < 500000
        |), qs AS (
        |  SELECT * FROM fp WHERE doc_id >= 500000
        |), votes AS (
        |  SELECT qs.doc_id AS up_id, idx.doc_id AS m_id,
        |         CAST(idx.win_idx - qs.win_idx AS BIGINT) AS "offset",
        |         CAST(COUNT(*) AS BIGINT) AS support
        |  FROM qs JOIN idx USING (subfp)
        |  GROUP BY 1, 2, 3
        |  HAVING COUNT(*) >= 2
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY up_id
        |    ORDER BY support DESC, "offset" ASC, m_id ASC) AS rn
        |  FROM votes
        |)
        |SELECT u.up_id, (b.m_id IS NOT NULL) AS rejected,
        |       b.m_id, b."offset", b.support
        |FROM (SELECT DISTINCT doc_id AS up_id FROM fp WHERE doc_id >= 500000) u
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (up_id)""".stripMargin,
    // the video admission-gate replay: catalog frame hashes (sh 0) vs
    // the upload feed — %20=15 head-clipped re-encodes (ids +1000000,
    // sh 1, 4 aligned frames each) and %20=6 NOVEL uploads whose
    // out-of-law md5-bit-string hashes are regenerated here verbatim
    // (lpad(bin(hex-prefix-int)) == Spark's lpad(conv(hex,16,2))) —
    // index side hot-capped, votes at support >= 3 (the low-entropy
    // frame-ahash bar), per-upload election, left-join verdict
    "streaming_video_gate" ->
      s"""WITH vids AS (
        |  SELECT doc_id, doc_id AS src, 0 AS sh FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1 FROM documents WHERE doc_id % 20 = 15
        |), ${MultimodalQueries.frameHashChain}, ok AS (
        |  SELECT fhash FROM fhd WHERE doc_id < 500000
        |  GROUP BY fhash HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT fhd.* FROM fhd JOIN ok USING (fhash) WHERE fhd.doc_id < 500000
        |), nqs AS (
        |  SELECT doc_id + 500000 AS doc_id, CAST(f.f AS BIGINT) AS idx,
        |         lpad(bin(('0x' || substring(md5('vg:' || CAST(doc_id + 500000 AS VARCHAR)
        |           || ':' || CAST(f.f AS VARCHAR)), 1, 15))::BIGINT), 64, '0') AS fhash
        |  FROM documents, (SELECT unnest(range(0, 6)) AS f) f
        |  WHERE doc_id % 20 = 6 AND f.f < 2 + (doc_id + 500000) % 4
        |), qs AS (
        |  SELECT * FROM fhd WHERE doc_id >= 500000
        |  UNION ALL
        |  SELECT * FROM nqs
        |), votes AS (
        |  SELECT qs.doc_id AS up_id, idx.doc_id AS m_id,
        |         CAST(idx.idx - qs.idx AS BIGINT) AS "offset",
        |         CAST(COUNT(*) AS BIGINT) AS support
        |  FROM qs JOIN idx USING (fhash)
        |  GROUP BY 1, 2, 3
        |  HAVING COUNT(*) >= 3
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY up_id
        |    ORDER BY support DESC, "offset" ASC, m_id ASC) AS rn
        |  FROM votes
        |)
        |SELECT u.up_id, (b.m_id IS NOT NULL) AS rejected,
        |       b.m_id, b."offset", b.support
        |FROM (SELECT DISTINCT doc_id AS up_id FROM qs) u
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (up_id)""".stripMargin,
    // the image admission-gate replay: catalog signatures from the
    // quadratic pixel law vs the upload feed — %20=5 lossless BMP
    // re-encodes (ids +1000000, law signatures of their source) and
    // %20=6 NOVEL uploads whose out-of-law md5-bit-string signatures
    // are regenerated here verbatim (the vgate novel-hash pairing) —
    // index side hot-capped on (kind, sig), votes at support >= 2
    // (both signature kinds agree), per-upload election (support desc,
    // match asc), left-join verdict
    "streaming_image_gate" ->
      s"""WITH imgs AS (
        |  SELECT doc_id, doc_id AS src FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 20 = 5
        |), ${MultimodalQueries.stillSigChain}, nsig AS (
        |  SELECT doc_id + 500000 AS doc_id, k.kind AS kind,
        |         lpad(bin(('0x' || substring(md5('ig:' || CAST(doc_id + 500000 AS VARCHAR)
        |           || ':' || k.kind), 1, 15))::BIGINT), 64, '0') AS sig
        |  FROM documents, (SELECT unnest(['a', 'd']) AS kind) k
        |  WHERE doc_id % 20 = 6
        |), cat AS (
        |  SELECT * FROM isig WHERE doc_id < 1000000
        |), ok AS (
        |  SELECT kind, sig FROM cat GROUP BY kind, sig HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT cat.* FROM cat JOIN ok USING (kind, sig)
        |), qs AS (
        |  SELECT * FROM isig WHERE doc_id >= 1000000
        |  UNION ALL
        |  SELECT * FROM nsig
        |), votes AS (
        |  SELECT qs.doc_id AS up_id, idx.doc_id AS m_id,
        |         CAST(COUNT(*) AS BIGINT) AS support
        |  FROM qs JOIN idx USING (kind, sig)
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY up_id
        |    ORDER BY support DESC, m_id ASC) AS rn
        |  FROM votes
        |)
        |SELECT u.up_id, (b.m_id IS NOT NULL) AS rejected, b.m_id, b.support
        |FROM (SELECT DISTINCT doc_id AS up_id FROM qs) u
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (up_id)""".stripMargin,
    // the NET law of the three ordered change batches: %11 rows end
    // deleted (even when also updated), the %21 sub-stride of the %7
    // updates ends at the SECOND batch's value, %13 spawns fresh
    // negative-key inserts — a streamed merge that applied batches out
    // of order (or lost a per-batch override) breaks the priority
    // column
    "streaming_cdc" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |       CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 = 0 THEN '0-UPD-B'
        |            WHEN o_orderkey % 7 = 0 THEN '0-UPD-A'
        |            ELSE o_orderpriority END AS o_orderpriority
        |FROM orders WHERE o_orderkey % 11 <> 0
        |UNION ALL
        |SELECT -o_orderkey - 1, o_custkey, 'N',
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |       o_orderpriority
        |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin,
    // batch replay of the streamed gates: en-stopword plurality vote,
    // >= 5 tokens, 0.5*stop_ratio + 0.05*avg_token_len >= 0.1, then
    // DISTINCT content digest (the stream's exact-dedup contract)
    "streaming_clean" ->
      """WITH t AS (
        |  SELECT text, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), f AS (
        |  SELECT text, t,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(t, x -> x IN ('the','a','is','of','and'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(t, x -> x IN ('le','la','les','des','une'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(t, x -> x IN ('el','los','las','una','y'))) AS BIGINT) AS s_es,
        |    CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS sum_tok_len
        |  FROM t
        |)
        |SELECT DISTINCT md5(text) AS digest, n_tokens
        |FROM f
        |WHERE s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
        |  AND n_tokens >= 5
        |  AND 0.5 * (s_en / n_tokens) + 0.05 * (sum_tok_len / n_tokens) >= 0.1""".stripMargin,
    // same gate chain minus quality, plus the contamination-ratio law
    // of the `decontaminate` lane: distinct-3-gram overlap vs the %97
    // suite, keep ratio < 0.8
    "streaming_decontaminate" ->
      raw"""WITH t AS (
        |  SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' '))
        |    ELSE [] END) AS sh
        |  FROM t
        |), hsh AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1 FROM sh
        |), ev AS (
        |  SELECT DISTINCT h1 FROM hsh WHERE doc_id % 97 = 0
        |), ratio AS (
        |  SELECT h.doc_id,
        |         CAST(COUNT(DISTINCT h.h1) FILTER (WHERE e.h1 IS NOT NULL) AS DOUBLE)
        |           / COUNT(DISTINCT h.h1) AS r
        |  FROM hsh h LEFT JOIN ev e USING (h1) GROUP BY h.doc_id
        |), f AS (
        |  SELECT doc_id, text,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(t, x -> x IN ('the','a','is','of','and'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(t, x -> x IN ('le','la','les','des','une'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(t, x -> x IN ('el','los','las','una','y'))) AS BIGINT) AS s_es
        |  FROM t
        |)
        |SELECT DISTINCT md5(f.text) AS digest, n_tokens
        |FROM f LEFT JOIN ratio USING (doc_id)
        |WHERE s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
        |  AND n_tokens >= 5
        |  AND COALESCE(ratio.r, 0.0) < 0.8""".stripMargin,
    // batch replay of the running-percentile state: exact value-count
    // percentiles (smallest value whose cumulative count reaches
    // ceil(n*pct/100)) over the full corpus per source
    "streaming_percentiles" ->
      """WITH d AS (
        |  SELECT source,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS v
        |  FROM documents
        |), vc AS (
        |  SELECT source, v, COUNT(*) AS cnt FROM d GROUP BY source, v
        |), c AS (
        |  SELECT source, v, cnt,
        |         SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS cum,
        |         SUM(cnt) OVER (PARTITION BY source) AS n
        |  FROM vc
        |)
        |SELECT source, CAST(p.pct AS BIGINT) AS pct, CAST(n AS BIGINT) AS n_docs,
        |  CAST(MIN(CASE WHEN cum >= (n * p.pct + 99) // 100 THEN v END) AS BIGINT) AS val
        |FROM c, (VALUES (50), (90)) p(pct)
        |GROUP BY source, p.pct, n""".stripMargin,
    // the batch quantile_sketch law over the same metric: integer
    // log-binning, rank walk, bucket lower bound
    "streaming_quantile_sketch" ->
      """WITH d AS (
        |  SELECT source, CAST(octet_length(encode(text)) AS BIGINT) AS x
        |  FROM documents
        |), bk AS (
        |  SELECT source,
        |         CASE WHEN x < 16 THEN x
        |              ELSE (length(bin(x)) - 1 - 4) * 16
        |                   + (x >> (length(bin(x)) - 1 - 4)) END AS b
        |  FROM d
        |), vc AS (
        |  SELECT source, b, COUNT(*) AS cnt FROM bk GROUP BY source, b
        |), c AS (
        |  SELECT source, b, cnt,
        |         SUM(cnt) OVER (PARTITION BY source ORDER BY b) AS cum,
        |         SUM(cnt) OVER (PARTITION BY source) AS n
        |  FROM vc
        |)
        |SELECT c.source, CAST(p.pct AS BIGINT) AS pct,
        |       CAST(CASE WHEN b < 16 THEN b
        |                 ELSE (b - (b // 16 - 1) * 16) << (b // 16 - 1)
        |            END AS BIGINT) AS est
        |FROM c, (VALUES (50), (90), (99)) p(pct)
        |WHERE cum >= (n * pct + 99) // 100
        |  AND cum - cnt < (n * pct + 99) // 100""".stripMargin,
    // the batch minhash-probe law (incremental_dedup's oracle, minus
    // the probe-side bucket cap the streaming gate does not apply —
    // only the INDEX side is capped at build)
    "streaming_dedup_gate" -> (DedupQueries.shingleCte +
      """, hh AS (
        |  SELECT doc_id,
        |         ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h1,
        |         ('0x' || substring(md5(sh), 17, 15))::BIGINT AS h2
        |  FROM sh
        |), m AS (
        |  SELECT doc_id, i,
        |         min((h1 % 1000000007 + i * (h2 % 1000000007)) % 1000000007) AS s
        |  FROM hh, (SELECT unnest(range(0, 16)) AS i)
        |  GROUP BY doc_id, i
        |), sigs AS (
        |  SELECT doc_id, list(s ORDER BY i) AS sig FROM m GROUP BY doc_id
        |), bands AS (
        |  SELECT doc_id, i // 4 AS band,
        |         md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bh
        |  FROM m GROUP BY doc_id, i // 4
        |), bc AS (SELECT * FROM bands WHERE doc_id % 3 <> 0),
        |bb AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
        |bkc AS (
        |  SELECT b.* FROM bc b
        |  JOIN (SELECT band, bh FROM bc GROUP BY band, bh HAVING COUNT(*) <= 1000) ok
        |    USING (band, bh)
        |), cand AS (
        |  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM bb b JOIN bkc c USING (band, bh)
        |), ag AS (
        |  SELECT cand.new_id, cand.corpus_id,
        |         len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) AS n_agree
        |  FROM cand
        |  JOIN sigs x ON x.doc_id = cand.new_id
        |  JOIN sigs y ON y.doc_id = cand.corpus_id
        |)
        |SELECT new_id, corpus_id, CAST(n_agree AS BIGINT) AS n_agree,
        |       CAST(n_agree AS DOUBLE) / 16 AS est_jaccard
        |FROM ag WHERE CAST(n_agree AS DOUBLE) / 16 >= 0.5""".stripMargin),
    // batch replay of the streamed interval join — the funnel_within
    // inequality self-join
    "streaming_funnel" ->
      """SELECT a.user_id,
        |       CAST(a.event_id AS BIGINT) AS a_id,
        |       CAST(b.event_id AS BIGINT) AS b_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR""".stripMargin,
    // batch replay of the streamed hourly rollup — identical to the
    // batch window_agg oracle (tumbling 1h windows = date_trunc)
    "streaming_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS val_sum_c
        |FROM events GROUP BY 1, 2""".stripMargin,
    // batch replay of the running LongValueSum state: final per-key
    // snapshot = plain count + exact-cents sum
    "streaming_value_sum" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_c
        |FROM events GROUP BY event_type""".stripMargin,
    // batch replay of the streamed sessionizer: the 30-min-gap sessions
    // (same CTE as the batch sessionize oracle), kept iff closed by gap
    // (not the user's last session) or flushed by the event-time
    // timeout (end_ms + 1_800_000 strictly below the final watermark
    // floor(max_us/1000) — Spark tracks watermarks in ms, hence the
    // // 1000 floors)
    "streaming_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |), m AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000 THEN 1
        |         WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL THEN 1
        |         ELSE 0 END AS new_sess
        |  FROM e
        |), sess AS (
        |  SELECT user_id, us,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM m
        |), agg AS (
        |  SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(MIN(us) AS BIGINT) AS start_us, CAST(MAX(us) AS BIGINT) AS end_us,
        |         MAX(sess_id) OVER (PARTITION BY user_id) AS last_sess
        |  FROM sess GROUP BY user_id, sess_id
        |), wm AS (SELECT MAX(us) // 1000 AS w FROM e)
        |SELECT user_id, start_us, end_us, n_events
        |FROM agg, wm
        |WHERE sess_id < last_sess OR end_us // 1000 + 1800000 < w""".stripMargin,
    // the exact heavy-hitter law (same as the batch heavy_hitters
    // oracle at k=64): the streamed MG candidates + verify must land on
    // exactly this set
    "streaming_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |), tot AS (SELECT COUNT(*) AS n FROM tk)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tk CROSS JOIN tot
        |GROUP BY token, n
        |HAVING COUNT(*) * 64 > n""".stripMargin
  )
}
