package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.jobs.TeraSort
import graft.sources.TeraIO

/** Self-validating jobs (no DuckDB oracle — they carry their own
  * validator, the SortValidator/TeraValidate pattern of SURVEY §5.3).
  */
object JobQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The full disk-to-disk suite: TeraGen writes the 100-byte on-disk
    // format, TeraSort reads it back, range-sorts, writes output files,
    // and TeraValidate + TeraChecksum run over the RE-READ output — the
    // measured time includes every scan and sink, like the reference's
    // gray-sort runs (100 bytes/row: sf0.1 -> 1 GB in + 1 GB out).
    // Rows-only driver check; correctness asserted in-query.
    "terasort" -> ((s, dir) => {
      val rows =
        if (dir.contains("sf0.1")) 10000000L
        else if (dir.contains("sf0.01")) 1000000L
        else 100000L
      val base = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
        s"/graft-tera-${ProcessHandle.current().pid()}"
      val inDir = s"$base/input"; val outDir = s"$base/output"
      TeraIO.delete(s, inDir); TeraIO.delete(s, outDir)
      // the result is a local row, so the files go whether or not the
      // validation passes
      val (ok, count) = try {
        TeraIO.write(TeraSort.teraGen(s, rows, 32), inDir)          // TeraGen
        // TeraChecksum(in) over the WRITTEN file (what the reference's
        // checksum job reads); equality with the output checksum below
        // proves the data survived disk->sort->disk losslessly.
        val genChecksum = TeraSort.teraChecksum(TeraIO.read(s, inDir))
        TeraIO.write(TeraSort.teraSort(TeraIO.read(s, inDir), 32), outDir) // TeraSort
        // TeraValidate + TeraChecksum fused over the RE-READ output
        val (ok, count, outputChecksum) =
          TeraSort.teraValidateChecksum(TeraIO.read(s, outDir))
        val bytesOk = TeraIO.dataBytes(s, outDir) == rows * TeraIO.RecordLength
        require(ok && count == rows && outputChecksum == genChecksum && bytesOk,
          s"terasort validation failed: ok=$ok count=$count " +
            s"checksum=$genChecksum/$outputChecksum bytesOk=$bytesOk")
        (ok, count)
      } finally TeraIO.delete(s, base)
      import s.implicits._
      Seq((rows, ok, count)).toDF("rows", "sorted_ok", "row_count")
    })
  )

  def oracleSql: Map[String, String] = Map.empty
}
