package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming variants of the event operators.
  *
  * The reference is batch-only (SURVEY §2.9) — these are the engine's
  * extension surface: the same logical ops as EventQueries, expressed
  * over an unbounded source with watermarked state. Batch parity is the
  * correctness oracle (see StreamingSpec): a stream processed to
  * completion must agree with the batch query on the same data.
  */
object StreamingOps {

  /** STREAMING CDC MERGE: apply an I/U/D change stream to a base table
    * through `foreachBatch` — each micro-batch folds to its
    * latest-per-key winner and MERGEs into the running state with
    * [[graft.operators.Cdc.applyChanges]] semantics (the Delta/Iceberg
    * `MERGE INTO` streaming-upsert loop, expressed on plain frames).
    * Runs the stream to completion and returns the final merged table.
    *
    * Ordering contract: micro-batches apply in arrival order, so the
    * feed must deliver a key's changes in sequence order ACROSS batches
    * (the CDC source's offset contract — within a batch, `seqCol`
    * resolves); a global one-shot [[graft.operators.Cdc.applyChanges]]
    * over the union then produces the identical table when sequence
    * numbers increase with arrival (StreamingSpec law).
    *
    * Scale shape: per batch, ONE latest-per-key fold of the batch
    * (change-sized) + ONE full-outer equi-join against the state —
    * exactly the batch operator's cost, paid per micro-batch. The state
    * is pinned per batch (an eager checkpoint held by a `Pins` scope),
    * so lineage stays one merge deep no matter how many batches arrive,
    * and the superseded state is released once its successor exists; a
    * production deployment lands the state in a table format
    * (Delta/Iceberg) and lets the sink do the materializing.
    */
  def runMergeStream(base: DataFrame, changes: DataFrame, key: String,
                     seqCol: String, opCol: String): DataFrame =
    graft.operators.Pins() { pins =>
      // written from the stream-execution thread (foreachBatch), read on
      // the caller thread after processAllAvailable — an explicit
      // AtomicReference makes the cross-thread handoff self-evidently
      // safe instead of leaning on StreamExecution's internal
      // awaitProgressLock for the happens-before edge
      val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](
        pins.pin(base))
      val q = changes.writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val prev = state.get()
          state.set(pins.pin(graft.operators.Cdc
            .applyChanges(prev, batch.toDF(), key, seqCol, opCol)))
          pins.release(prev)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      pins.keep(state.get())
    }

  /** Watermarked tumbling-window aggregation (readStream -> agg).
    * State per (window, event_type) only; the watermark bounds it.
    */
  def windowedAgg(events: DataFrame, windowDur: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("val_sum"))

  /** Streaming exact dedup — the training-pipeline dedup op over an
    * unbounded source: duplicates arriving within the watermark horizon
    * are dropped, and state expires with the watermark (bounded, unlike
    * a naive global dropDuplicates whose state only grows).
    */
  def dedupStream(events: DataFrame, keys: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming document cleaning — the ingestion-time form of
    * TrainingPipeline's stage-1/4 gates over an unbounded corpus feed
    * (a crawler delivering documents continuously). Every gate here is
    * a row-local projection or filter, so the whole chain is
    * stream-transparent: normalize/scrub rewrite text in place;
    * language, length, quality and compression-ratio gates filter;
    * the contamination gate scores n-gram overlap against a BROADCAST
    * eval-hash set ([[graft.operators.Dedup.contamRatio]] — the
    * row-local lane built for exactly this, vs the batch join lane);
    * finally exact dedup drops re-crawled text by content digest within
    * the `dedupWatermark` horizon over `tsCol` (bounded state — a
    * global dropDuplicates would grow forever on an unbounded feed).
    * Batch parity is spec'd: the stream run to completion must emit
    * exactly the rows the same gates keep in batch.
    */
  def cleanDocStream(docs: DataFrame, textCol: String,
                     lang: String, minTokens: Int,
                     minQuality: Option[Double] = None,
                     compRatioBounds: Option[(Double, Double)] = None,
                     evalH1: Seq[Long] = Nil, k: Int = 3,
                     contamThreshold: Double = 0.8,
                     normalize: Boolean = false, scrubPii: Boolean = false,
                     ingestHtml: Boolean = false,
                     c4MinWords: Option[Int] = None,
                     dedupWatermark: Option[(String, String)] = None): DataFrame = {
    import graft.operators.{Dedup, Html, Redact, TextOps}
    // crawl ingestion first (same stage-0 as TrainingPipeline.run):
    // HTML -> line-structured prose, then the C4 line gate — stateless
    // projections, so they stream as freely as they batch
    val ingested = {
      val h = if (ingestHtml)
        docs.withColumn(textCol, Html.extractLines(col(textCol))) else docs
      c4MinWords.map(m =>
        h.withColumn(textCol, TextOps.c4LineClean(col(textCol), m)._1))
        .getOrElse(h)
    }
    val canon = {
      val n = if (normalize)
        ingested.withColumn(textCol, TextOps.normalizeText(col(textCol)))
      else ingested
      if (scrubPii) n.withColumn(textCol, Redact.scrubPii(col(textCol))) else n
    }
    val stops = TextOps.stopsFor.getOrElse(lang, TextOps.stopEn)
    val qualGate = minQuality
      .map(q => TextOps.quality(col("t"), stops) >= q).getOrElse(lit(true))
    val compGate = compRatioBounds.map { case (lo, hi) =>
      val r = TextOps.compressionRatio(col(textCol))
      r.isNotNull && r >= lo && r <= hi
    }.getOrElse(lit(true))
    val contamGate =
      if (evalH1.isEmpty) lit(true)
      else Dedup.contamRatio(col(textCol), k, evalH1) < contamThreshold
    val gated = canon
      .withColumn("t", Dedup.tokens(col(textCol)))
      .filter(TextOps.langPred(col("t")) === lang &&
        size(col("t")) >= minTokens && qualGate && compGate && contamGate)
      .drop("t")
      .withColumn("digest", md5(col(textCol)))  // Dedup.exact's digest
    dedupWatermark match {
      case Some((tsCol, delay)) =>
        gated.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark("digest")
      case None => gated.dropDuplicates("digest")
    }
  }

  /** Ingest-time near-dup gate: a STREAM of incoming documents probed
    * against the STATIC corpus minhash index ([[graft.operators.Dedup
    * .MinhashIndex]] — built once in batch, read from parquet). This is
    * the streaming face of `Dedup.probeMinhashIndex`: signatures and
    * band-bucket hashes are computed ROW-LOCALLY
    * (`Dedup.minhashSignatureArray` / `bandHashOfArray` — byte-identical
    * to the batch banding, so stream rows collide with index buckets
    * built by the batch lane), candidates come from the stream-static
    * equi-join on (band, bh), and verification — the signature-agreement
    * Jaccard estimate — is a row-local zip of the two fixed-width
    * signature arrays. No stateful aggregation anywhere, so the gate
    * runs in append mode; the one piece of state is the final
    * per-(new_id, corpus_id) dedup across band matches, bounded by the
    * watermark horizon when `watermark` is set (pass it on an unbounded
    * feed — the None lane keeps all pair keys, fine for tests/backfills).
    *
    * Emits flagged pairs (new_id, corpus_id, n_agree, est_jaccard);
    * the ingest pipeline anti-joins its feed against these to drop (or
    * quarantine) re-crawled near-dups before they ever land.
    */
  def streamDedupGate(stream: DataFrame, id: String, text: String,
                      index: graft.operators.Dedup.MinhashIndex,
                      threshold: Double,
                      watermark: Option[(String, String)] = None): DataFrame = {
    import graft.operators.Dedup
    val n = index.numPerm
    val nBands = n / index.rowsPerBand
    val withSig = stream
      .withColumn("sig", Dedup.minhashSignatureArray(col(text), index.k, n))
      .filter(col("sig").isNotNull)
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        Dedup.bandHashOfArray(col("sig"), b, index.rowsPerBand).as("bh"))
    }
    val banded = withSig
      .select(col(id).as("new_id") +: col("sig") +:
        (watermark.map(w => col(w._1)).toSeq :+
          explode(array(bandStructs: _*)).as("bb")): _*)
      .select(col("new_id") +: col("sig") +: col("bb.band").as("band") +:
        col("bb.bh").as("bh") +: watermark.map(w => col(w._1)).toSeq: _*)
    val corpusSig = index.signatures.select(col(id).as("corpus_id"),
      array((0 until n).map(i => col(s"s$i")): _*).as("csig"))
    val agree = size(filter(zip_with(col("sig"), col("csig"),
      (a, b) => a === b), x => x))
    val scored = banded
      .join(index.bands.select(col(id).as("corpus_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .join(corpusSig, "corpus_id")
      .withColumn("n_agree", agree.cast("long"))
      .withColumn("est_jaccard", col("n_agree").cast("double") / n)
      .filter(col("est_jaccard") >= threshold)
    watermark match {
      case Some((tsCol, delay)) =>
        scored.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark("new_id", "corpus_id")
          .select("new_id", "corpus_id", "n_agree", "est_jaccard")
      case None =>
        scored.select("new_id", "corpus_id", "n_agree", "est_jaccard")
          .dropDuplicates("new_id", "corpus_id")
    }
  }

  /** Watermarked stream-stream self-join: for every `firstType` event,
    * the same user's `thenType` events within `within` (funnel
    * correlation, e.g. view -> purchase). Both join states are bounded
    * by watermark + interval — the range condition is what lets Spark
    * evict, so it is load-bearing at scale, not an optimization.
    */
  def followWithin(events: DataFrame, firstType: String, thenType: String,
                   within: String, watermark: String): DataFrame = {
    val a = events.filter(col("event_type") === firstType)
      .withWatermark("ts", watermark)
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"),
        col("event_id").as("a_id"))
    val b = events.filter(col("event_type") === thenType)
      .withWatermark("ts", watermark)
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("b_id"))
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $within"))
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"))
  }

  final case class Ev(user_id: Long, us: Long)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Stateful sessionization with flatMapGroupsWithState: a session
    * closes when a gap larger than `gapUs` appears in a user's stream.
    * State is O(1) per user (the open session only). Closed sessions are
    * appended as they are detected; the final open session stays in
    * state (use [[sessionizeWithTimeout]] to flush it when the watermark
    * passes the gap).
    */
  def sessionize(events: Dataset[Ev], gapUs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(_.us)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          for (e <- sorted) {
            cur match {
              case Some(s) if e.us - s.end > gapUs =>
                closed += Session(userId, s.start, s.end, s.n)
                cur = Some(SessionState(e.us, e.us, 1))
              case Some(s) =>
                cur = Some(SessionState(s.start, e.us, s.n + 1))
              case None =>
                cur = Some(SessionState(e.us, e.us, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  final case class KV(k: String, v: Long)
  final case class AggState(n: Long, sum: Long)
  final case class Running(k: String, n: Long, sum: Long)

  /** The aggregate framework's LongValueSum as an UNBOUNDED running
    * aggregate: per-key count+sum that survives across micro-batches
    * (and restarts) in the transformWithState state store — Spark's
    * arbitrary-stateful operator (RocksDB-backed), the modern
    * replacement for flatMapGroupsWithState. Each batch that touches a
    * key emits that key's updated running report (Update output mode).
    */
  class RunningSumProcessor extends StatefulProcessor[String, KV, Running] {
    @transient private var st: ValueState[AggState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AggState]("agg",
        Encoders.product[AggState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KV],
                                 tv: TimerValues): Iterator[Running] = {
      val prev = if (st.exists()) st.get() else AggState(0L, 0L)
      var n = prev.n
      var s = prev.sum
      rows.foreach { r => n += 1; s += r.v }
      st.update(AggState(n, s))
      Iterator(Running(key, n, s))
    }
  }

  /** Streaming ValueAggregator (LongValueSum + count): requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  def runningAgg(events: Dataset[KV]): Dataset[Running] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.k)
      .transformWithState(new RunningSumProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class RunningUniq(k: String, uniq_est: Long)

  /** Running distinct-count per key as HLL sketch STATE — the streaming
    * form of the [[graft.operators.Sketches]] lane (and the unbounded
    * analog of capped UniqValueCount): per key, a fixed-size
    * DataSketches HLL lives in the state store; each micro-batch
    * updates it and emits the refreshed estimate. State is O(2^lgK)
    * bytes per key FOREVER — an exact running countDistinct would
    * instead hold every seen value. Same sketch family and update hash
    * as the batch uniq_hll lane (different target register width, so
    * not register-identical): stream and batch estimates agree within
    * the common lgK error bound, spec'd at a cardinality past sparse
    * mode.
    */
  class RunningDistinctProcessor(lgK: Int)
      extends StatefulProcessor[String, KV, RunningUniq] {
    @transient private var st: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]]("hll",
        Encoders.BINARY, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KV],
                                 tv: TimerValues): Iterator[RunningUniq] = {
      import org.apache.datasketches.hll.HllSketch
      val sk = if (st.exists())
        HllSketch.heapify(org.apache.datasketches.memory.Memory.wrap(st.get()))
      else new HllSketch(lgK)
      rows.foreach(r => sk.update(r.v))
      // compact image: heapify accepts it, and sparse-mode sketches
      // would otherwise store their full-capacity coupon array per key
      st.update(sk.toCompactByteArray)
      Iterator(RunningUniq(key, math.rint(sk.getEstimate).toLong))
    }
  }

  /** Streaming per-key distinct estimate (RocksDB state store, like
    * [[runningAgg]]).
    */
  def runningDistinct(events: Dataset[KV], lgK: Int = 12): Dataset[RunningUniq] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.k)
      .transformWithState(new RunningDistinctProcessor(lgK),
        TimeMode.None(), OutputMode.Update())
  }

  final case class STok(shard: String, token: String)
  final case class HHSnapshot(shard: String, token: String, cnt: Long, n: Long)

  /** Running Misra-Gries heavy-hitter CANDIDATES per shard — the
    * streaming form of [[graft.operators.Frequent]]'s candidate pass.
    * State per shard is k counters + the item tally, FOREVER (like the
    * HLL state of [[runningDistinct]]: fixed-size summary, unbounded
    * stream); each micro-batch that touches a shard re-emits the
    * shard's refreshed snapshot (Update mode).
    *
    * Guarantee carried over from batch MG: a token hashes to exactly
    * ONE shard, so its global count equals its shard count, and any
    * token with count > n_shard/(k+1) >= is retained — the union of
    * shard snapshots is a superset of every token above n/(k+1)
    * globally (n_shard <= n). Kept counts are lower bounds; a batch
    * verify pass over the candidates ([[graft.operators.Frequent
    * .heavyHitters]] step 2) exactifies them on demand.
    */
  class RunningHeavyHittersProcessor(k: Int)
      extends StatefulProcessor[String, STok, HHSnapshot] {
    @transient private var st: ValueState[(Long, Map[String, Long])] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Map[String, Long])]("mg",
        Encoders.product[(Long, Map[String, Long])], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[STok],
                                 tv: TimerValues): Iterator[HHSnapshot] = {
      val (n0, m0) = if (st.exists()) st.get() else (0L, Map.empty[String, Long])
      val m = scala.collection.mutable.HashMap.from(m0)
      var n = n0
      rows.foreach { r => n += 1; graft.operators.Frequent.mgAdd(m, k, r.token) }
      st.update((n, m.toMap))
      m.toSeq.map { case (t, c) => HHSnapshot(key, t, c, n) }.iterator
    }
  }

  /** Streaming sharded heavy-hitter candidates (RocksDB state store,
    * like [[runningAgg]]).
    */
  def runningHeavyHitters(toks: Dataset[STok], k: Int): Dataset[HHSnapshot] = {
    import toks.sparkSession.implicits._
    toks.groupByKey(_.shard)
      .transformWithState(new RunningHeavyHittersProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  final case class PctSnapshot(k: String, pct: Long, v: Long, n: Long)

  /** Running EXACT percentiles per key over an integral metric — the
    * streaming form of [[graft.operators.Quantiles.exactPercentiles]]
    * (same rank rule, same bounded-cardinality contract: state per key
    * is the value->count map, so metrics must be discrete/quantized —
    * doc token counts, line counts, byte sizes). Each micro-batch that
    * touches a key re-emits the key's refreshed percentile snapshot;
    * after any prefix of the stream the snapshot equals the batch
    * operator run on the same rows (spec'd).
    */
  class RunningPercentilesProcessor(pcts: Seq[Int])
      extends StatefulProcessor[String, KV, PctSnapshot] {
    // value-count pairs (top-level MapType is not a supported state
    // encoding; an array of (v, cnt) structs is)
    @transient private var st: ValueState[Seq[(Long, Long)]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Seq[(Long, Long)]]("vc",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]](),
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KV],
                                 tv: TimerValues): Iterator[PctSnapshot] = {
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      if (st.exists()) st.get().foreach { case (v, c) => m.update(v, c) }
      rows.foreach(r => m.update(r.v, m.getOrElse(r.v, 0L) + 1L))
      st.update(m.toSeq)
      val n = m.valuesIterator.sum
      pcts.map(p => PctSnapshot(key, p.toLong,
        graft.operators.Quantiles.localPercentile(m, p), n)).iterator
    }
  }

  /** Streaming per-key exact percentiles (RocksDB state store, like
    * [[runningAgg]]).
    */
  def runningPercentiles(events: Dataset[KV],
                         pcts: Seq[Int]): Dataset[PctSnapshot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.k)
      .transformWithState(new RunningPercentilesProcessor(pcts),
        TimeMode.None(), OutputMode.Update())
  }

  final case class EvW(user_id: Long, us: Long, ts: java.sql.Timestamp)

  /** [[sessionize]] plus EventTimeTimeout: when the stream's watermark
    * passes a user's last event by more than the gap, the open session
    * is flushed WITHOUT waiting for stream end — the production form
    * (an idle user's final session must not be held hostage to their
    * next visit). Timeout is re-armed to (session end + gap) after every
    * batch; state stays O(1) per user and is removed on flush.
    */
  def sessionizeWithTimeout(events: Dataset[Ev], gapUs: Long,
                            watermark: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", watermark)
      .as[EvW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[EvW], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.end, s.n))
          } else {
            val sorted = evs.toSeq.sortBy(_.us)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              cur match {
                case Some(s) if e.us - s.end > gapUs =>
                  closed += Session(userId, s.start, s.end, s.n)
                  cur = Some(SessionState(e.us, e.us, 1))
                case Some(s) =>
                  cur = Some(SessionState(s.start, e.us, s.n + 1))
                case None =>
                  cur = Some(SessionState(e.us, e.us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush once the watermark passes end-of-session + gap
              state.setTimeoutTimestamp(s.end / 1000L + gapUs / 1000L)
            }
            closed.result().iterator
          }
      }
  }
}
