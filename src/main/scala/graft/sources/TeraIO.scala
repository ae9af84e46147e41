package graft.sources

import org.apache.hadoop.io.{BytesWritable, NullWritable}
import org.apache.hadoop.mapreduce.{RecordWriter, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TeraSort's on-disk record format: raw 100-byte records, the first 10
  * bytes the key and the remaining 90 the value, concatenated with no
  * delimiters (reference:
  * hadoop-mapreduce-examples/src/main/java/org/apache/hadoop/examples/terasort/TeraInputFormat.java:55-60
  * and TeraOutputFormat.java:67-71 — the writer appends key bytes then
  * value bytes).
  *
  * Read path: Spark's fixed-length binary input (one InputPartition per
  * byte range, aligned to the 100-byte record boundary — the same
  * `(len - start % len) % len` alignment TeraInputFormat.TeraRecordReader
  * does at TeraInputFormat.java:227-230), so a single large file fans out
  * across executors.
  * Write path: one file per partition through Hadoop's FileOutputFormat
  * committer — the atomic task-commit protocol keeps concurrent attempts
  * (speculation, retries) from corrupting output at cluster scale.
  */
class TeraRecordOutputFormat extends FileOutputFormat[BytesWritable, NullWritable] {
  override def getRecordWriter(ctx: TaskAttemptContext): RecordWriter[BytesWritable, NullWritable] = {
    val file = getDefaultWorkFile(ctx, "")
    val fs = file.getFileSystem(ctx.getConfiguration)
    // local runs: skip the ChecksumFileSystem's per-512-byte CRC side
    // files (HDFS checksums at the block layer; TeraOutputFormat doesn't
    // write .crc either). No-op on filesystems without client checksums.
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    // 1 MiB write buffer: the record writer emits 100-byte
    // appends, and the default io.file.buffer.size (4 KB) turns that
    // into a syscall every ~40 records — measured as committer-path
    // task time well below the device's delivered bandwidth. 256×
    // fewer write syscalls; same on-disk bytes.
    val out = fs.create(file, false, 1 << 20)
    new RecordWriter[BytesWritable, NullWritable] {
      override def write(k: BytesWritable, v: NullWritable): Unit =
        out.write(k.getBytes, 0, k.getLength)
      override def close(c: TaskAttemptContext): Unit = out.close()
    }
  }
}

object TeraIO {
  val KeyLength = 10
  val ValueLength = 90
  val RecordLength: Int = KeyLength + ValueLength

  /** Write a (key: binary, value: binary) DataFrame as 100-byte records,
    * one output file per partition, preserving partition order (so a
    * range-partitioned sort writes part files whose name order is the
    * global key order — TeraOutputFormat's contract).
    */
  def write(df: DataFrame, path: String): Unit =
    // toRdd: InternalRow straight out of codegen — skips the per-record
    // Row allocation + converter of df.rdd (2× throughput at 10M rows)
    df.select(concat(col("key"), col("value")).as("rec"))
      .queryExecution.toRdd
      .mapPartitions(_.map(r => (new BytesWritable(r.getBinary(0)), NullWritable.get())))
      .saveAsNewAPIHadoopFile(path, classOf[BytesWritable], classOf[NullWritable],
        classOf[TeraRecordOutputFormat])

  def read(spark: SparkSession, path: String): DataFrame =
    Formats.fixedLength(spark, path, RecordLength).select(
      expr(s"substring(record, 1, $KeyLength)").as("key"),
      expr(s"substring(record, ${KeyLength + 1}, $ValueLength)").as("value"))

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Total bytes across the path's data files (validation helper). */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getLen).sum
  }
}
