package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Streaming/batch parity: a stream processed to completion must agree
  * with the equivalent batch query on the same data (layer-2 e2e tests,
  * SURVEY \u00a75 \u2014 streaming is this engine's extension surface).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")
  import spark.implicits._

  /** transformWithState needs the RocksDB state store; set it for the
    * body and restore the previous provider after.
    */
  private def withRocksDBStateStore[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString + "/events"
    Tables(spark, "/root/testdata/sf0.001", "events").write.parquet(dir)
    dir
  }

  test("windowed aggregation matches the batch query") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = StreamingOps.windowedAgg(stream, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("winagg")
      .select(col("window.start").as("start"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val want = Tables(spark, "/root/testdata/sf0.001", "events")
      .groupBy(date_trunc("hour", col("ts")).as("start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == want)
  }

  test("stateful sessionization emits exactly the closed batch sessions") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[StreamingOps.Ev]
    val q = StreamingOps.sessionize(stream, gapUs = 1800L * 1000000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessions")
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet

    // batch truth via the sessionize query, minus each user's last
    // (still-open) session, which streaming correctly keeps in state
    val batch = SparkEntry.queries("sessionize")(spark, "/root/testdata/sf0.001")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val closed = batch
      .withColumn("max_sess", max(col("sess_id")).over(w))
      .filter(col("sess_id") < col("max_sess"))
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == closed)
  }

  test("streaming_sessionize query emits closed-by-gap plus timeout-flushed sessions") {
    val sfDir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("streaming_sessionize")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet

    // the declared law: batch sessions kept iff closed by a gap (not
    // the user's last) OR flushed by the event-time timeout — end_ms +
    // gap_ms strictly below the final watermark floor(max_us/1000)
    val batch = SparkEntry.queries("sessionize")(spark, sfDir)
    val maxUs = Tables(spark, sfDir, "events")
      .agg(max(unix_micros(col("ts")))).as[Long].head()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val want = batch
      .withColumn("max_sess", max(col("sess_id")).over(w))
      .filter(col("sess_id") < col("max_sess") ||
        expr("end_us div 1000") + 1800000L < lit(maxUs / 1000L))
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"stream emitted ${got.size}, law says ${want.size}")
    // the timeout lane really fired: some user's LAST session is present
    val lastSessions = batch
      .withColumn("max_sess", max(col("sess_id")).over(w))
      .filter(col("sess_id") === col("max_sess"))
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.intersect(lastSessions).nonEmpty,
      "no open session was flushed by the watermark timeout")
  }

  test("streaming dedup keeps one event per user (bounded state)") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = StreamingOps.dedupStream(stream, Seq("user_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val batch = Tables(spark, "/root/testdata/sf0.001", "events")
    // which duplicate survives is arrival-dependent; the dedup CONTRACT
    // is one row per key and no invented keys
    val got = spark.table("dedup").select("user_id").as[Long].collect().toSeq
    assert(got.distinct.size == got.size, "duplicates survived")
    assert(got.toSet == batch.select("user_id").distinct().as[Long].collect().toSet)
  }

  test("cleanDocStream matches the batch gates run on the same corpus") {
    val docsDir = Files.createTempDirectory("graft-stream").toString + "/docs"
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    docs.write.parquet(docsDir)
    // eval-hash set: the 3-shingle hashes of a fixed slice of the corpus
    val evalH1 = graft.operators.Dedup
      .shingleHashTable(docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", 3)
      .select("h1").distinct().as[Long].collect().toSeq
    def gates(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.cleanDocStream(df, "text",
        lang = "en", minTokens = 5, minQuality = Some(0.1),
        compRatioBounds = Some((0.05, 0.9)),
        evalH1 = evalH1, contamThreshold = 0.8)
    val schema = spark.read.parquet(docsDir).schema
    val q = gates(spark.readStream.schema(schema).parquet(docsDir))
      .writeStream.format("memory").queryName("cleandocs")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // which exact-dup survives is arrival-dependent; compare the kept
    // digest sets and the gate decisions (digest -> count == 1)
    val got = spark.table("cleandocs").select("digest").as[String].collect().toSeq
    assert(got.distinct.size == got.size, "exact duplicates survived the stream")
    val batchDigests = gates(docs).select("digest").as[String].collect().toSeq
    assert(batchDigests.distinct.size == batchDigests.size)
    assert(got.toSet == batchDigests.toSet,
      "stream and batch gates disagree on the kept content")
    // the gates actually bit: something was dropped, something survived
    assert(got.nonEmpty && got.size < docs.count())
  }

  test("cleanDocStream HTML ingest: streamed page chrome strips to the batch result") {
    val dir = Files.createTempDirectory("graft-stream-html").toString + "/docs"
    // period-terminated prose wrapped in page chrome (the C4 gate must
    // keep exactly the prose line and drop the h1/nav/comment lines)
    val wrapped = Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text", concat(
        lit("<html><head><title>t</title></head><body><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"), col("text"), lit("."),
        lit("</p><div><a href=\"/x\">nav link here</a></div><!-- c --></body></html>")))
    wrapped.write.parquet(dir)
    def gates(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.cleanDocStream(df, "text", lang = "en", minTokens = 5,
        ingestHtml = true, c4MinWords = Some(3), normalize = true)
    val schema = spark.read.parquet(dir).schema
    val q = gates(spark.readStream.schema(schema).parquet(dir))
      .writeStream.format("memory").queryName("cleanhtml")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("cleanhtml").select("digest").as[String].collect().toSeq
    val batch = gates(wrapped).select("digest").as[String].collect().toSeq
    assert(got.toSet == batch.toSet && got.nonEmpty,
      "stream and batch HTML ingest disagree")
    // the chrome really was stripped: no extracted text retains a tag
    val tagged = spark.table("cleanhtml")
      .filter(col("text").rlike("<[a-zA-Z/]")).count()
    assert(tagged == 0, "HTML survived extraction")
  }

  test("sessionizeWithTimeout flushes the open session when the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[StreamingOps.Ev]
    val q = StreamingOps.sessionizeWithTimeout(mem.toDS(), gapUs = 1000000L)
      .writeStream.format("memory").queryName("sess_timeout")
      .outputMode("append").start()
    try {
      // user 1: two events 0.5s apart -> ONE open session, nothing
      // emitted (events start past t=0: ts <= the initial watermark 0
      // would be dropped as late)
      mem.addData(StreamingOps.Ev(1L, 10000000L), StreamingOps.Ev(1L, 10500000L))
      q.processAllAvailable()
      assert(spark.table("sess_timeout").isEmpty,
        "open session must not emit before the watermark passes")
      // a much later event advances the watermark far past 1's gap...
      mem.addData(StreamingOps.Ev(2L, 100L * 1000000L))
      q.processAllAvailable()
      // ...and the next micro-batch fires the event-time timeout
      mem.addData(StreamingOps.Ev(2L, 101L * 1000000L))
      q.processAllAvailable()
      val got = spark.table("sess_timeout")
        .select("user_id", "start_us", "end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 10000000L, 10500000L, 2L)),
        s"timed-out session must flush without stream end: $got")
    } finally q.stop()
  }

  test("transformWithState running aggregate accumulates across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDBStateStore {
      val mem = MemoryStream[StreamingOps.KV]
      val q = StreamingOps.runningAgg(mem.toDS())
        .writeStream.format("memory").queryName("running_agg")
        .outputMode("update").start()
      try {
        mem.addData(StreamingOps.KV("a", 1L), StreamingOps.KV("a", 2L),
          StreamingOps.KV("b", 5L))
        q.processAllAvailable()
        mem.addData(StreamingOps.KV("a", 4L))
        q.processAllAvailable()
        val got = spark.table("running_agg")
          .select("k", "n", "sum").as[(String, Long, Long)].collect().toSet
        // batch 1 emits the first running reports; batch 2 emits a's
        // UPDATED report \u2014 state carried across batches
        assert(got == Set(("a", 2L, 3L), ("b", 1L, 5L), ("a", 3L, 7L)), got.toString)
      } finally q.stop()
    }
  }

  test("transformWithState running distinct tracks exact counts across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDBStateStore {
      val mem = MemoryStream[StreamingOps.KV]
      val q = StreamingOps.runningDistinct(mem.toDS())
        .writeStream.format("memory").queryName("running_uniq")
        .outputMode("update").start()
      try {
        // batch 1: a sees {1, 2} (2 distinct), b sees {5}
        mem.addData(StreamingOps.KV("a", 1L), StreamingOps.KV("a", 2L),
          StreamingOps.KV("a", 1L), StreamingOps.KV("b", 5L))
        q.processAllAvailable()
        // batch 2: a's sketch state carries — one repeat + one new value
        mem.addData(StreamingOps.KV("a", 2L), StreamingOps.KV("a", 9L))
        q.processAllAvailable()
        val got = spark.table("running_uniq")
          .select("k", "uniq_est").as[(String, Long)].collect().toSet
        // HLL is exact at these cardinalities (sparse mode)
        assert(got == Set(("a", 2L), ("b", 1L), ("a", 3L)), got.toString)
      } finally q.stop()
    }
  }

  test("streaming heavy-hitter candidates cover the exact heavy set across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDBStateStore {
      val mem = MemoryStream[StreamingOps.STok]
      val k = 3
      val q = StreamingOps.runningHeavyHitters(mem.toDS(), k)
        .writeStream.format("memory").queryName("running_hh")
        .outputMode("update").start()
      def shardOf(t: String) = "s" + (math.abs(t.hashCode) % 2)
      def toks(ts: String*) = ts.map(t => StreamingOps.STok(shardOf(t), t))
      val b1 = Seq("x", "x", "y", "z", "x", "w", "x")
      val b2 = Seq("x", "y", "y", "y", "q", "x", "y")
      try {
        mem.addData(toks(b1: _*): _*)
        q.processAllAvailable()
        mem.addData(toks(b2: _*): _*)
        q.processAllAvailable()
        val rows = spark.table("running_hh")
          .as[StreamingOps.HHSnapshot].collect()
        // final snapshot per shard = the rows carrying its latest tally
        val lastN = rows.groupBy(_.shard).view.mapValues(_.map(_.n).max).toMap
        val last = rows.filter(r => r.n == lastN(r.shard))
        val all = b1 ++ b2
        val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
        // completeness: every token above its shard's n/(k+1) survives
        // in the shard's final MG state (state carried across batches)
        all.groupBy(shardOf).foreach { case (shard, sToks) =>
          val n = sToks.size.toLong
          assert(lastN(shard) == n, s"$shard tally $n vs ${lastN(shard)}")
          sToks.distinct.foreach { t =>
            if (sToks.count(_ == t).toLong > n / (k + 1))
              assert(last.exists(r => r.shard == shard && r.token == t),
                s"heavy token $t missing from $shard's final snapshot")
          }
        }
        // MG counters never overcount: kept counts are lower bounds
        last.foreach(r => assert(r.cnt <= exact(r.token),
          s"${r.token} overcounted: ${r.cnt} > ${exact(r.token)}"))
      } finally q.stop()
    }
  }

  test("streaming percentiles equal the batch operator after every prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDBStateStore {
      val mem = MemoryStream[StreamingOps.KV]
      val pcts = Seq(10, 50, 90)
      val q = StreamingOps.runningPercentiles(mem.toDS(), pcts)
        .writeStream.format("memory").queryName("running_pct")
        .outputMode("update").start()
      val b1 = Seq(("a", 3L), ("a", 7L), ("a", 7L), ("b", 1L))
      val b2 = Seq(("a", 100L), ("b", 2L), ("b", 2L), ("a", 3L))
      try {
        mem.addData(b1.map(StreamingOps.KV.tupled): _*)
        q.processAllAvailable()
        mem.addData(b2.map(StreamingOps.KV.tupled): _*)
        q.processAllAvailable()
        val rows = spark.table("running_pct")
          .as[StreamingOps.PctSnapshot].collect()
        val lastN = rows.groupBy(_.k).view.mapValues(_.map(_.n).max).toMap
        val streamed = rows.filter(r => r.n == lastN(r.k))
          .map(r => (r.k, r.pct) -> r.v).toMap
        val batch = graft.operators.Quantiles.exactPercentiles(
          (b1 ++ b2).toDF("g", "v"), "g", col("v"), pcts)
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(streamed == batch, s"stream $streamed vs batch $batch")
      } finally q.stop()
    }
  }

  test("streaming distinct equals the batch HLL estimate past sparse mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 30k values, ~5k distinct: dense HLL territory, where the
    // estimate is genuinely approximate — the stream's sketch and the
    // batch hll_sketch_agg lane must agree within the lgK=12 error
    // bound (same family and update hash, but Spark's aggregate uses a
    // different target register width, so not register-identical)
    val values = (0 until 30000).map(i => (i * i) % 9973L)
    withRocksDBStateStore {
      val mem = MemoryStream[StreamingOps.KV]
      val q = StreamingOps.runningDistinct(mem.toDS())
        .writeStream.format("memory").queryName("running_uniq_big")
        .outputMode("update").start()
      try {
        val (first, second) = values.splitAt(17000)
        mem.addData(first.map(StreamingOps.KV("k", _)): _*)
        q.processAllAvailable()
        mem.addData(second.map(StreamingOps.KV("k", _)): _*)
        q.processAllAvailable()
        val streamEst = spark.table("running_uniq_big")
          .orderBy(desc("uniq_est")).select("uniq_est").as[Long].head()
        val batchEst = values.toDF("v")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12))))
          .head().getLong(0)
        val exact = values.distinct.size
        assert(math.abs(streamEst - batchEst).toDouble / exact < 0.02,
          s"lanes disagree: stream $streamEst vs batch $batchEst (exact $exact)")
        assert(math.abs(streamEst - exact).toDouble / exact < 0.05,
          s"stream estimate $streamEst too far from exact $exact")
        assert(math.abs(batchEst - exact).toDouble / exact < 0.05,
          s"batch estimate $batchEst too far from exact $exact")
      } finally q.stop()
    }
  }

  test("mixture sampling is stream-transparent: same kept multiset as batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // stateless hash-threshold sampling runs unchanged under
    // micro-batching \u2014 no state, no watermark, per-row decision
    val mem = MemoryStream[(Long, String)]
    val rates = Map("s0" -> 2.0, "s1" -> 0.5)
    val q = graft.operators.Sampling.mixtureSample(
      mem.toDS().toDF("doc_id", "source"), "source", "doc_id", rates)
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode("append").start()
    val rows = (0L until 200L).map(i => (i, s"s${i % 2}"))
    try {
      mem.addData(rows.take(100): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(100): _*)
      q.processAllAvailable()
      val streamed = spark.table("mix_stream")
        .as[(Long, String, Long)].collect().toSeq.sorted
      val batch = graft.operators.Sampling.mixtureSample(
        rows.toDF("doc_id", "source"), "source", "doc_id", rates)
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(streamed == batch, "stream/batch mixture multisets diverge")
    } finally q.stop()
  }

  test("hash splits are stream-transparent: same assignment as batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // split membership is a pure row-local function of the id, so a
    // stream assigns exactly what a batch pass would \u2014 no replay risk
    val mem = MemoryStream[Long]
    val fr = Seq("train" -> 0.8, "test" -> 0.2)
    val q = graft.operators.Sampling.hashSplit(
      mem.toDS().toDF("doc_id"), "doc_id", fr)
      .writeStream.format("memory").queryName("split_stream")
      .outputMode("append").start()
    try {
      mem.addData(0L until 300L: _*)
      q.processAllAvailable()
      val streamed = spark.table("split_stream")
        .as[(Long, String)].collect().toMap
      val batch = graft.operators.Sampling.hashSplit(
        (0L until 300L).toDF("doc_id"), "doc_id", fr)
        .as[(Long, String)].collect().toMap
      assert(streamed == batch, "stream/batch split assignment diverges")
    } finally q.stop()
  }

  test("row-local decontamination gates a stream like the batch filter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalDoc = "alpha beta gamma delta epsilon zeta"
    val evalH1 = graft.operators.Dedup.shingleHashTable(
      Seq((0L, evalDoc)).toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("h1").as[Long].collect().toSeq
    val docs = Seq(
      (1L, evalDoc),                                            // fully contaminated
      (2L, "alpha beta gamma delta other words here entirely"), // partial
      (3L, "completely unrelated text with different tokens"))  // clean
    val mem = MemoryStream[(Long, String)]
    val gate = graft.operators.Dedup.contamRatio(col("text"), 3, evalH1) < 0.8
    val q = mem.toDS().toDF("doc_id", "text").filter(gate)
      .select("doc_id")
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("decontam_stream").as[Long].collect().toSet
      val batch = docs.toDF("doc_id", "text").filter(gate)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch && !streamed.contains(1L) && streamed.contains(3L),
        s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("stream-stream interval self-join matches the batch join") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = StreamingOps.followWithin(stream, "view", "purchase", "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("funnel").select("a_id", "b_id")
      .as[(Long, Long)].collect().toSet

    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    val a = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("event_id").as("b_id"))
    val want = a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 30 minutes"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture should contain view->purchase funnels")
    assert(got == want)
  }

  test("template-line strip is stream-transparent given the detected hot set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // detection (templateHotLines) is a batch artifact over the landed
    // corpus; the strip column is a pure projection, so applying the
    // broadcast hot set to an incoming stream equals the batch strip
    val corpus = Seq(
      (1L, "body one\nSUBSCRIBE NOW\nmore text"),
      (2L, "body two\nSUBSCRIBE NOW"),
      (3L, "body three\nSUBSCRIBE NOW\n(c) footer"),
      (4L, "body four\n(c) footer"))
    val hot = graft.operators.TextOps.templateHotLines(
      corpus.toDF("doc_id", "text"), "doc_id", "text", minDf = 2L)
    assert(hot == Seq("(c) footer", "SUBSCRIBE NOW"), hot.toString)
    val mem = MemoryStream[(Long, String)]
    def strip(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.operators.TextOps.stripLinesIn(col("text"), hot).as("clean"))
    val q = strip(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("strip_stream")
      .outputMode("append").start()
    try {
      mem.addData(corpus: _*)
      q.processAllAvailable()
      val streamed = spark.table("strip_stream")
        .as[(Long, String)].collect().toMap
      val batch = strip(corpus.toDF("doc_id", "text"))
        .as[(Long, String)].collect().toMap
      assert(streamed == batch, "stream/batch strip diverges")
      assert(streamed(1L) == "body one\nmore text")
      assert(streamed(3L) == "body three")
    } finally q.stop()
  }

  test("text cleaning (normalize + PII scrub) is stream-transparent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // pure row-local projections (NfcNormalize expression + regex
    // chain): identical output under micro-batching, no state
    val mem = MemoryStream[(Long, String)]
    def clean(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.operators.Redact.scrubPii(
          graft.operators.TextOps.normalizeText(col("text"))).as("clean"))
    val q = clean(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clean_stream")
      .outputMode("append").start()
    val rows = Seq(
      (1L, "  Mail ME\u0301: a@b.co  now "),
      (2L, "from 10.1.2.3 call 555-123-4567"),
      (3L, "plain  TEXT"))
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("clean_stream")
        .as[(Long, String)].collect().toMap
      val batch = clean(rows.toDF("doc_id", "text"))
        .as[(Long, String)].collect().toMap
      assert(streamed == batch, "stream/batch cleaning diverges")
      assert(streamed(1L) == "mail m\u00e9: <EMAIL> now")
      assert(streamed(2L) == "from <IP> call <PHONE>")
    } finally q.stop()
  }

  test("streamDedupGate flags the same pairs as the batch index probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "completely different text about another subject entirely unrelated here"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text",
      k = 3, numPerm = 16, rowsPerBand = 4)
    val batchRows = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (103L, "fresh never seen content sharing nothing with the existing corpus"),
      (104L, "xy"))  // too short to shingle: must pass through unflagged
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDedupGate(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text", idx,
      threshold = 0.5)
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    try {
      mem.addData(batchRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(batchRows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("gate_stream")
        .select("new_id", "corpus_id", "n_agree")
        .as[(Long, Long, Long)].collect().toSet
      val batch = Dedup.probeMinhashIndex(
        batchRows.toDF("doc_id", "text"), "doc_id", "text", idx,
        threshold = 0.5)
        .select("new_id", "corpus_id", "n_agree")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.contains((101L, 10L, 16L)), "exact copy must be flagged")
      assert(!streamed.exists(p => p._1 == 103L || p._1 == 104L))
    } finally q.stop()
  }

  test("minhashSignatureArray: the row-local signature equals the batch lane") {
    import graft.operators.Dedup
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents").limit(100)
    val batch = Dedup.minhashSignaturesFromHashes(
      Dedup.shingleHashTable(docs, "doc_id", "text", 3), "doc_id", 16)
      .select(col("doc_id"), array((0 until 16).map(i => col(s"s$i")): _*))
      .as[(Long, Seq[Long])].collect().toMap
    val local = docs.select(col("doc_id"),
      Dedup.minhashSignatureArray(col("text"), 3, 16))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(local.keySet == batch.keySet ++
      local.filter(_._2.isEmpty).keySet, "row coverage diverges")
    for ((id, sig) <- batch)
      assert(local(id).contains(sig), s"doc $id signature diverges")
  }

  test("DSIR scoring is stream-transparent: trained λ scores a stream like batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dsir
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the daily-crawl shape: λ is the persisted model artifact (trained
    // once on the historical corpus), incoming batches score row-locally
    val hist = Seq((1L, "good fine text"), (2L, "spam junk noise"),
      (3L, "good words"), (4L, "junk stuff")).toDF("doc_id", "text")
    val lam = Dsir.logRatios(hist, hist.filter(col("doc_id") % 2 === 1), "text", 64)
    val incoming = Seq((10L, "good fine words"), (11L, "junk noise stuff"),
      (12L, ""))
    val mem = MemoryStream[(Long, String)]
    val q = Dsir.importanceWeights(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text", lam, 64)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val batch = Dsir.importanceWeights(
        incoming.toDF("doc_id", "text"), "doc_id", "text", lam, 64)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch, "stream/batch DSIR scores diverge")
      assert(streamed.exists(_._3 != 0L), "degenerate λ: all scores zero")
    } finally q.stop()
  }

  test("k-means assignment is stream-transparent: fitted centroids assign a stream like batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Kmeans
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // fit is a batch job over the historical corpus; the centroid array
    // is the model artifact and assignment is a pure projection, so a
    // stream of new vectors clusters identically to a batch pass
    val hist = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      (i.toLong, Seq(base, base + 0.1f, base - 0.2f))
    }.toDF("vec_id", "embedding")
    val cents = Kmeans.fit(hist, "vec_id", "embedding", k = 2, iters = 2)
    val incoming = Seq((100L, Seq(9.5f, 10.2f, 9.9f)), (101L, Seq(-9.8f, -10.1f, -10.0f)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Kmeans.assign(
      mem.toDS().toDF("vec_id", "embedding"), "embedding", cents)
      .select(col("vec_id"), col("cluster"), col("dist"))
      .writeStream.format("memory").queryName("km_stream")
      .outputMode("append").start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("km_stream")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val batch = Kmeans.assign(
        incoming.toDF("vec_id", "embedding"), "embedding", cents)
        .select(col("vec_id"), col("cluster"), col("dist"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch, "stream/batch assignment diverges")
      assert(streamed.map(_._2).distinct.size == 2,
        "blob stream members not separated")
    } finally q.stop()
  }

  test("IVF probe is stream-transparent: streamed queries rank like batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // index is a batch artifact over the base corpus; a query STREAM
    // probes it (probeIvf flips to the stream-static join direction)
    // and must produce the identical (q_id, n_id, rnk) rows as a batch
    // probe of the same queries
    val base = (0 until 60).map { i =>
      val a = (i % 3).toFloat
      (i.toLong, Seq(a + 1f, 2f * a - 1f, 0.5f * i.toFloat / 60f, 1f))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.kmeansCodebook(base, "vec_id", "embedding",
      nCells = 4, iters = 2)
    val assigned = Similarity.assignCells(
      base.select(col("vec_id").cast("long").as("n_id"),
        col("embedding").as("nv")), "n_id", "nv", cb, rep = 2)
    val queries = (0 until 60 by 20).map { i =>
      (i.toLong, Seq((i % 3).toFloat + 1f, 2f * (i % 3).toFloat - 1f,
        0.5f * i.toFloat / 60f, 1f))
    }
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.probeIvf(cb, assigned,
        mem.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 3, nProbe = 2)
      .writeStream.format("memory").queryName("ivf_stream")
      .outputMode("complete").start()
    try {
      mem.addData(queries: _*)
      q.processAllAvailable()
      val streamed = spark.table("ivf_stream")
        .as[(Long, Long, Int)].collect().toSeq.sorted
      val batch = Similarity.probeIvf(cb, assigned,
          queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
          k = 3, nProbe = 2)
        .as[(Long, Long, Int)].collect().toSeq.sorted
      assert(streamed == batch, s"stream/batch IVF probe diverges:\n$streamed\n$batch")
      assert(streamed.nonEmpty, "no probe results")
    } finally q.stop()
  }

  test("streaming CDC merge: sequential micro-batch merges equal the one-shot global MERGE") {
    // the stream-transparency law of the streaming_cdc lane: applying
    // the ordered change batches one foreachBatch-MERGE at a time must
    // land on the same table as ONE global Cdc.applyChanges over their
    // union — valid because sequence numbers increase with arrival
    // order, so "latest per key in the last batch that touched it"
    // equals "globally latest per key"
    val dir = "/root/testdata/sf0.001"
    def shape(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, String)] =
      df.select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
          col("o_orderstatus"), col("o_orderpriority"))
        .as[(Long, Long, String, String)].collect().toSet
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val merged = SparkEntry.queries("streaming_cdc")(spark, dir)
    val streamed = shape(merged)
    // one state pin per micro-batch, each released once its successor
    // exists: only the final state's RDD stays registered
    val state = merged.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(state.size == 1 && (sc.getPersistentRDDs.keySet.toSet -- before) == state.toSet,
      s"state RDDs left registered: ${sc.getPersistentRDDs.keySet.toSet -- before}")
    state.foreach(org.apache.spark.GraftCoreShim.unpersistRdd(sc, _))
    val batches = queries.StreamingQueries.cdcBatches(spark, dir)
    val oneShot = shape(graft.operators.Cdc.applyChanges(
      Tables(spark, dir, "orders"), batches.reduce(_ unionByName _),
      "o_orderkey", "__seq", "__op"))
    assert(streamed == oneShot,
      s"stream merge diverged from the global merge: " +
        s"${streamed.diff(oneShot).take(5)} / ${oneShot.diff(streamed).take(5)}")
    // the override story actually happened: both update generations
    // survive in the final table and every %11 key is gone
    val prios = streamed.map(_._4)
    assert(prios.contains("0-UPD-A") && prios.contains("0-UPD-B"))
    assert(!streamed.exists(r => r._1 > 0 && r._1 % 11 == 0))
  }
}
