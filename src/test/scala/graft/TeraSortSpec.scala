package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.TeraSort

class TeraSortSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")

  test("TeraGen is deterministic and produces 100-byte records") {
    val a = TeraSort.teraGen(spark, 1000, 4)
    val b = TeraSort.teraGen(spark, 1000, 8)   // partitioning must not matter
    assert(a.count() == 1000)
    import org.apache.spark.sql.functions._
    val lens = a.select(length(col("key")).as("kl"), length(col("value")).as("vl"))
      .distinct().collect()
    assert(lens.length == 1 && lens(0).getInt(0) == 10 && lens(0).getInt(1) == 90)
    assert(TeraSort.teraChecksum(a) == TeraSort.teraChecksum(b))
  }

  test("TeraSort output validates and preserves the checksum") {
    val gen = TeraSort.teraGen(spark, 20000, 8)
    val inputChecksum = TeraSort.teraChecksum(gen)
    val sorted = TeraSort.teraSort(gen, 8)
    val (ok, count) = TeraSort.teraValidate(sorted)
    assert(ok, "output must be globally ordered")
    assert(count == 20000)
    assert(TeraSort.teraChecksum(sorted) == inputChecksum)
  }

  test("Tera on-disk format roundtrip: gen -> write -> read -> sort -> write -> validate") {
    import graft.sources.TeraIO
    val base = java.nio.file.Files.createTempDirectory("graft-tera").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"
    try {
      val gen = TeraSort.teraGen(spark, 10000, 4)
      val genChecksum = TeraSort.teraChecksum(gen)
      TeraIO.write(gen, inDir)
      // raw 100-byte records: exactly rows * 100 bytes on disk, no framing
      assert(TeraIO.dataBytes(spark, inDir) == 10000L * TeraIO.RecordLength)

      val input = TeraIO.read(spark, inDir)
      assert(input.count() == 10000)
      assert(TeraSort.teraChecksum(input) == genChecksum, "write->read must be lossless")

      TeraIO.write(TeraSort.teraSort(input, 4), outDir)
      val back = TeraIO.read(spark, outDir)
      val (ok, count) = TeraSort.teraValidate(back)
      assert(ok && count == 10000)
      assert(TeraSort.teraChecksum(back) == genChecksum)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("TeraValidate rejects an unsorted dataset") {
    val gen = TeraSort.teraGen(spark, 5000, 8)
    val (ok, _) = TeraSort.teraValidate(gen)
    assert(!ok, "raw generator output should not validate as sorted")
  }
}
