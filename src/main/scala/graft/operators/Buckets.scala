package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The hot-bucket policy of every candidate-generation operator. Each
  * near-duplicate family maps rows to a bucket key (a band hash, a
  * shingle, a fingerprint window, an LSH cell) and equi-joins within
  * the bucket, so a bucket of n rows emits O(n²) candidate rows. One
  * degenerate key — boilerplate repeated 100k×, a stop-shingle, an
  * anthem-intro window — would dominate the join while identifying
  * nothing.
  *
  * The law ([[cap]]): a row survives iff its key group, nulls grouping
  * together as in `groupBy`, has at most `maxBucket` rows; `maxBucket
  * <= 0` turns the cap off. The census is one map-side-combined count
  * per key, and the hot list it leaves has at most rows/(maxBucket+1)
  * entries, so it broadcasts into a left-anti join: applying the cap
  * never shuffles the table. Dropped buckets lose their pairs: dup-heavy
  * inputs collapse exact duplicates to one representative first
  * ([[Dedup.exact]], the media operators' `collapseExact`), so copies
  * of one document never form a hot bucket of their own.
  */
object Buckets {

  /** `table` without the rows of key groups larger than `maxBucket`,
    * columns in input order; `table` itself when `maxBucket <= 0`.
    */
  def cap(table: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket <= 0) table
    else {
      val hotKeys = keys.indices.map(i => s"_hot$i")
      val hot = table.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
        .filter(col("_n") > maxBucket)
        .select(keys.zip(hotKeys).map { case (k, h) => col(k).as(h) }: _*)
      table.join(broadcast(hot),
        keys.zip(hotKeys).map { case (k, h) => col(k) <=> col(h) }.reduce(_ && _),
        "left_anti")
    }

  /** The capped self equi-join on `keys`: one row per pair of rows
    * sharing a bucket with `a.id < b.id`, carrying the keys, then every
    * other column of side a suffixed `_a`, then of side b suffixed `_b`.
    */
  def pairs(table: DataFrame, id: String, keys: Seq[String], maxBucket: Int): DataFrame = {
    val kept = cap(table, keys, maxBucket)
    val payload = kept.columns.toSeq.filterNot(keys.contains)
    def side(s: String): DataFrame =
      kept.select(keys.map(col) ++ payload.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys).filter(col(s"${id}_a") < col(s"${id}_b"))
  }

  /** `batch` equi-joined on `keys` to the capped `index` (USING-join
    * columns: keys, then `batch`'s, then `index`'s). A capped index is
    * persisted ([[Pins.persist]]), because the census and the join both
    * read it.
    */
  def probe(index: DataFrame, batch: DataFrame, keys: Seq[String],
            maxBucket: Int): DataFrame =
    batch.join(
      cap(if (maxBucket > 0) Pins.persist(index) else index, keys, maxBucket), keys)
}
