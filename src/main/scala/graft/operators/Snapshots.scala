package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — the bookkeeping stage of a recurring
  * ingestion pipeline (crawl N vs crawl N+1): which documents were
  * added, removed, changed, or untouched. Downstream stages use the
  * statuses to process deltas only (re-embed changed docs, retire
  * removed ones from the dedup index, route added ones through the
  * cleaning chain) instead of re-running the world — the batch
  * complement of [[Dedup.probeIndex]]'s incremental discipline.
  *
  * Scale shape: both sides reduce to (id, md5(content)) BEFORE the
  * full-outer join, so the join shuffles 40-byte rows, never document
  * bodies. md5 is byte-stable across engines, so a SQL oracle replays
  * the statuses exactly.
  */
object Snapshots {

  /** Per-id status of `newDf` relative to `oldDf`:
    * `added` (id only in new), `removed` (id only in old), `changed`
    * (both, content hash differs), `unchanged`.
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, id: String,
           text: String): DataFrame = {
    // presence flags, not hash nullity, decide added/removed: a doc
    // PRESENT with null text (failed fetch) must compare as a content
    // state, never masquerade as absent
    val o = oldDf.select(col(id), md5(col(text)).as("h_old"),
      lit(1).as("in_old"))
    val n = newDf.select(col(id), md5(col(text)).as("h_new"),
      lit(1).as("in_new"))
    o.join(n, Seq(id), "full_outer")
      .select(col(id),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("h_old") <=> col("h_new")), "changed")
          .otherwise("unchanged").as("status"))
  }
}
