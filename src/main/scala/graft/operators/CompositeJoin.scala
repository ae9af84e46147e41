package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-way equi-joins with the semantics of the reference's map-side join
  * expression language (`inner(...)`, `outer(...)`, `override(...)`).
  *
  * Reference: CompositeInputFormat registers the three ops at
  * hadoop-mapreduce-client-core/.../mapreduce/lib/join/CompositeInputFormat.java:93-96;
  * inner emits a key only when every source holds it
  * (InnerJoinRecordReader.java:54), outer when any source holds it with
  * missing slots unwritten (OuterJoinRecordReader.java:49 — unwritten
  * TupleWritable slot maps to NULL here), and override emits the value of
  * the rightmost source holding the key (OverrideRecordReader.java:1-117).
  *
  * Spark-first design: these are plain Catalyst joins, so the optimizer is
  * free to pick broadcast/sort-merge per side, reorder, and push filters.
  * The reference requires all inputs pre-partitioned and sorted identically;
  * the scalable analog here is bucketed tables (then Catalyst plans a
  * shuffle-free sort-merge join) — but the semantics do not depend on it.
  */
object CompositeJoin {

  /** inner(a, b, ...): key present in every source. */
  def inner(key: String, dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce((a, b) => a.join(b, Seq(key), "inner"))

  /** outer(a, b, ...): key present in any source; absent slots NULL. */
  def outer(key: String, dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce((a, b) => a.join(b, Seq(key), "full_outer"))

  /** override(a, b, ...): one row per key; each non-key column is taken
    * from the RIGHTMOST source that holds the key. Every input must carry
    * the key column plus the same `valueCols`.
    */
  def overrideJoin(key: String, valueCols: Seq[String], dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "override join needs at least one source")
    dfs.reduce { (left, right) =>
      val l = valueCols.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"__l_$c"))
      val joined = l.join(right, Seq(key), "full_outer")
      valueCols.foldLeft(joined) { (d, c) =>
        d.withColumn(c, coalesce(col(c), col(s"__l_$c"))).drop(s"__l_$c")
      }
    }
  }

  /** MultiFilterRecordReader
    * (mapreduce/lib/join/MultiFilterRecordReader.java:40-56): a composite
    * join that emits ONE value per joined tuple through a user `emit`
    * function (OverrideRecordReader is its stock subclass). Each source's
    * non-key columns arrive as one struct argument, NULL when that
    * source lacks the key (the unwritten-TupleWritable-slot contract);
    * `emit` is an ordinary Column expression, so it stays in codegen.
    */
  def multiFilter(key: String, dfs: Seq[DataFrame],
                  emit: Seq[Column] => Column): DataFrame = {
    require(dfs.nonEmpty, "multiFilter needs at least one source")
    val packed = dfs.zipWithIndex.map { case (df, i) =>
      val vals = df.columns.filter(_ != key).map(col)
      df.select(col(key), struct(vals.toIndexedSeq: _*).as(s"__t$i"))
    }
    val joined = packed.reduce((a, b) => a.join(b, Seq(key), "full_outer"))
    joined.select(col(key),
      emit(dfs.indices.map(i => col(s"__t$i"))).as("value"))
  }
}
