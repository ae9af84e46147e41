package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{KeyFieldSpec, Pipe, TotalOrderSort}

/** Operator-surface queries for the tool-shaped reference features:
  * unix-sort key-field specs and the Hadoop-streaming pipe.
  */
object ToolQueries extends QueryModule {

  // one SequenceFile copy of the orders key/priority pair per sf dir
  // for the JVM ([[QueryModule.tempDir]]): written ONCE through the
  // real SequenceFileOutputFormat (BLOCK-compressed), then every run
  // reads it back through the DSv2 split-at-sync reader
  private def seqFileDir(s: SparkSession, dir: String): String =
    QueryModule.tempDir(dir, "seqfile", p =>
      graft.sources.sequencefile.SequenceFileIO.write(
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        s"$p/orders", "BLOCK")) + "/orders"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the SequenceFile format family under the driver's hash gate:
    // orders (key = orderkey, value = priority)
    // round-trips through the REAL Hadoop SequenceFile container —
    // BLOCK-compressed SequenceFileOutputFormat write, read back via
    // the DSv2 source (header-inferred schema, sync-split byte
    // ranges) — then aggregates per priority. A header drift, writable
    // coercion bug, or lost record hash-mismatches against the oracle
    // computed straight off the parquet table.
    "seqfile_roundtrip" -> ((s, dir) => {
      graft.sources.sequencefile.SequenceFileIO.read(s, seqFileDir(s, dir))
        .groupBy(col("value").as("priority"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"))
    }),
    // KeyFieldBasedComparator spec "-k1,1 -k3,3nr -k4,4n -k5,5n" over
    // space-joined lines: text field asc, numeric field desc, numeric
    // tiebreakers — total order, ranked without a global bottleneck.
    "keyfield_sort" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val line = concat_ws(" ",
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("string"),
        col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string"))
      val df = li.select(line.as("line"))
      val arr = split(col("line"), " ")
      // -k2,2 last: lineitem contains duplicate (orderkey, linenumber)
      // pairs, so linestatus is needed for a total order (identical
      // full lines may still tie — harmless, the rows are equal).
      // Materialized keys: see TotalOrderSort.withRankKeyed scaladoc.
      val keys = KeyFieldSpec.keyColumns(arr, "-k1,1 -k3,3nr -k4,4n -k5,5n -k2,2", " ")
      TotalOrderSort.withRankKeyed(df, 32, "rnk", keys)
    }),

    // Logalyzer (hadoop-extras/.../Logalyzer.java:55-123): archive+grep+
    // multi-column sort of logs — here: regex-filter documents, rank by
    // (source asc, n_chars desc) with doc_id as tiebreak.
    "logalyzer" -> ((s, dir) => {
      val filtered = Tables(s, dir, "documents")
        .filter(col("text").rlike("stream"))
        .select("doc_id", "source", "n_chars")
      TotalOrderSort.withRankKeyed(filtered, 32, "rnk",
        Seq((col("source"), false), (col("n_chars"), true), (col("doc_id"), false)))
    }),

    // Hadoop Streaming (StreamJob.java:80): wordcount with the tokenizer
    // as an external process (`tr ' ' '\n'`), the rest in Spark.
    "pipe_wordcount" -> ((s, dir) => {
      Pipe(Tables(s, dir, "documents"), Seq("tr", " ", "\n"), col("text"))
        .filter(col("line") =!= "")
        .groupBy(col("line").as("word"))
        .agg(count(lit(1)).as("cnt"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // the round trip is transparent by contract, so the oracle reads
    // the parquet table directly — any byte lost or coerced in the
    // SequenceFile container shows up as a value/hash mismatch
    "seqfile_roundtrip" ->
      """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin,
    "keyfield_sort" ->
      """WITH t AS (
        |  SELECT concat_ws(' ', l_returnflag, l_linestatus, CAST(l_quantity AS VARCHAR),
        |                   CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)) AS line,
        |         l_returnflag AS f1, l_linestatus AS f2, l_quantity AS q,
        |         l_orderkey AS ok, l_linenumber AS ln
        |  FROM lineitem
        |)
        |SELECT line,
        |       CAST(ROW_NUMBER() OVER (ORDER BY f1 ASC, q DESC, ok ASC, ln ASC, f2 ASC) AS BIGINT) AS rnk
        |FROM t""".stripMargin,
    "logalyzer" ->
      """SELECT doc_id, source, n_chars,
        |       CAST(ROW_NUMBER() OVER (ORDER BY source ASC, n_chars DESC, doc_id ASC) AS BIGINT) AS rnk
        |FROM documents WHERE regexp_matches(text, 'stream')""".stripMargin,
    "pipe_wordcount" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word""".stripMargin
  )
}
