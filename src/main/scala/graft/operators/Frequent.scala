package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact heavy hitters with a Misra-Gries candidate pass — the
  * guaranteed-complete form of "which tokens dominate this corpus"
  * (boilerplate markers, template artifacts, stop-phrase candidates).
  *
  * The naive plan — groupBy(token).count() then filter — shuffles the
  * full token multiset: ~150 B tokens/TB of partial-aggregate state for
  * a long-tail vocabulary. The two-pass shape bounds both passes:
  *
  *  1. CANDIDATES: a Misra-Gries summary of k counters, reduced
  *     map-side per partition and merged to one bounded artifact. The
  *     classic guarantee (Misra & Gries 1982; merge soundness per the
  *     mergeable-summaries line of work): any token with true count
  *     > n/(k+1) survives in the summary, so the candidate set is a
  *     SUPERSET of every token above the n/k report threshold. Only
  *     k counters ever cross the wire per partition.
  *  2. VERIFY: exact counts of the <= k candidates only — an `isin`
  *     filter rides the token stream, so the counting shuffle carries
  *     just the candidate occurrences, then the threshold filter
  *     drops the false positives the summary admitted.
  *
  * Net: output is EXACT (every token with cnt·k > n, with its exact
  * count — no approximation survives to the result), at two bounded
  * passes instead of one unbounded shuffle. SQL-replayable, so this is
  * an oracle-checked lane, unlike the estimate-only sketches
  * (Count-Min in [[TextOps.dfSketch]] covers the per-ITEM frequency
  * query; Misra-Gries answers the inverse "which items are frequent").
  */
object Frequent {

  /** Bounded Misra-Gries buffer: counters plus the processed-item tally
    * (the tally rides along so the threshold pass needs no second scan
    * for n).
    */
  final case class MgSummary(counts: Map[String, Long], n: Long)

  // public: the kryo buffer encoder instantiates it reflectively
  final class MgBuf {
    val counts = new mutable.HashMap[String, Long]
    var n = 0L
  }

  /** Misra-Gries over strings: k counters, decrement-all on overflow.
    * Merge sums counterparts then re-bounds by subtracting the
    * (k+1)-th largest count (the merge that keeps the n/(k+1)
    * undercount bound). The buffer is O(k) regardless of input size
    * or skew.
    */
  final case class MisraGries(k: Int)
      extends Aggregator[String, MgBuf, MgSummary] {
    def zero: MgBuf = new MgBuf

    def reduce(b: MgBuf, a: String): MgBuf = {
      b.n += 1
      mgAdd(b.counts, k, a)
      b
    }

    def merge(a: MgBuf, b: MgBuf): MgBuf = mgMerge(a, b, k)

    def finish(r: MgBuf): MgSummary = MgSummary(r.counts.toMap, r.n)
    def bufferEncoder: Encoder[MgBuf] = Encoders.kryo[MgBuf]
    // consumed driver-side only (bounded artifact): kryo round-trips it
    def outputEncoder: Encoder[MgSummary] = Encoders.kryo[MgSummary]
  }

  /** One Misra-Gries update of a counter map bounded at k entries —
    * the kernel shared by the batch Aggregator and the streaming
    * running-heavy-hitters state
    * ([[graft.streaming.StreamingOps.runningHeavyHitters]]).
    */
  private[graft] def mgAdd(counts: mutable.HashMap[String, Long], k: Int,
                           a: String): Unit =
    counts.get(a) match {
      case Some(c) => counts.update(a, c + 1)
      case None if counts.size < k => counts.update(a, 1L)
      case None =>
        // decrement-all: the O(k) step amortizes to O(1) per item
        // (each decrement pays back an earlier increment)
        val dead = mutable.ArrayBuffer.empty[String]
        counts.foreach { case (t, c) =>
          if (c == 1L) dead += t else counts.update(t, c - 1)
        }
        dead.foreach(counts.remove)
    }

  /** Misra-Gries summary merge (Agarwal et al.'s mergeable form): sum
    * counterpart counters, then re-bound by subtracting the (k+1)-th
    * largest count and dropping <= 0 — keeps the n/(k+1) undercount
    * bound. Shared by the global and grouped aggregators.
    */
  private def mgMerge(a: MgBuf, b: MgBuf, k: Int): MgBuf = {
    a.n += b.n
    b.counts.foreach { case (t, c) =>
      a.counts.update(t, a.counts.getOrElse(t, 0L) + c)
    }
    if (a.counts.size > k) {
      val thresh = a.counts.values.toArray.sortInPlace()(
        Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      a.counts.foreach { case (t, c) =>
        if (c <= thresh) dead += t else a.counts.update(t, c - thresh)
      }
      dead.foreach(a.counts.remove)
    }
    a
  }

  /** The candidate pass as a bounded driver artifact: <= k counters + n.
    * Exposed for specs and for callers composing their own verify pass.
    */
  def mgSummary(tokens: DataFrame, tokCol: String, k: Int): MgSummary = {
    require(k >= 1, "need at least one counter")
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select(col(tokCol)).as[String]
      .select(MisraGries(k).toColumn).head()
  }

  /** Exact heavy hitters: every token whose count exceeds n/k, with its
    * exact count. `tokens` is the exploded token stream (one row per
    * occurrence).
    */
  def heavyHitters(tokens: DataFrame, tokCol: String, k: Int): DataFrame = {
    val s = mgSummary(tokens, tokCol, k)
    val cands = s.counts.keys.toSeq.sorted
    // soundness: MG keeps every token with count > n/(k+1) ⊇ > n/k
    tokens.filter(col(tokCol).isin(cands: _*))
      .groupBy(col(tokCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > lit(s.n))
  }

  /** GROUPED Misra-Gries: one bounded summary PER KEY (per-domain
    * boilerplate tokens, per-language stop candidates). Same buffer and
    * guarantees as [[MisraGries]], finishing to a decodable struct so
    * the summaries stay a distributed column — no driver artifact, any
    * number of groups.
    */
  final case class MisraGriesRows(k: Int)
      extends Aggregator[String, MgBuf, Seq[(String, Long)]] {
    def zero: MgBuf = new MgBuf
    def reduce(b: MgBuf, a: String): MgBuf = {
      b.n += 1
      mgAdd(b.counts, k, a)
      b
    }
    def merge(a: MgBuf, b: MgBuf): MgBuf = mgMerge(a, b, k)
    // sorted for a stable output order (merge order is
    // partition-dependent); slot 0 carries the group tally
    def finish(r: MgBuf): Seq[(String, Long)] =
      (("", r.n) +: r.counts.toSeq.sortBy(_._1))
    def bufferEncoder: Encoder[MgBuf] = Encoders.kryo[MgBuf]
    def outputEncoder: Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Long)]]()
  }

  /** Exact per-group heavy hitters: for each group, every token with
    * within-group count > n_g/k and its exact count. Two bounded
    * passes, both fully distributed: a grouped MG candidate aggregation
    * (state O(k) per group), then the exact verify count of the
    * exploded (group, candidate) pairs semi-joined back onto the token
    * stream.
    */
  def heavyHittersPerGroup(tokens: DataFrame, groupCol: String,
                           tokCol: String, k: Int): DataFrame = {
    require(k >= 1, "need at least one counter")
    val mg = org.apache.spark.sql.functions.udaf(MisraGriesRows(k))
    // bounded at #groups x (k+1) rows, but derived twice below (tallies
    // + candidates): persist so the token-stream aggregation runs once
    val summaries = Pins.persist(tokens.groupBy(col(groupCol))
      .agg(mg(col(tokCol)).as("s")))
    // slot 0 of the summary carries the group tally; the rest are
    // candidate (token, lower-bound) counters
    val nPerGroup = summaries.select(col(groupCol),
      col("s").getItem(0).getField("_2").as("n"))
    val cands = summaries.select(col(groupCol),
        explode(slice(col("s"), 2, k)).as("c"))
      .select(col(groupCol), col("c._1").as(tokCol))
    tokens.join(cands, Seq(groupCol, tokCol), "left_semi")
      .groupBy(col(groupCol), col(tokCol))
      .agg(count(lit(1)).as("cnt"))
      .join(nPerGroup, Seq(groupCol))
      .filter(col("cnt") * k > col("n"))
      .select(col(groupCol), col(tokCol), col("cnt"))
  }
}
