package graft

import graft.jobs.TeraSort
import graft.sources.TeraIO

/** Dev-only phase timing for the disk-to-disk terasort pipeline. */
object TeraProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = GraftSession.build(GraftSession.defaultCores)
    val base = s"/tmp/graft-teraprobe"
    val inDir = s"$base/input"; val outDir = s"$base/output"
    TeraIO.delete(spark, inDir); TeraIO.delete(spark, outDir)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $name%-16s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val gen = TeraSort.teraGen(spark, rows, 32)
    t("gen+write")(TeraIO.write(gen, inDir))
    val genChecksum = t("read+checksum")(TeraSort.teraChecksum(TeraIO.read(spark, inDir)))
    t("read+sort+write")(TeraIO.write(TeraSort.teraSort(TeraIO.read(spark, inDir), 32), outDir))
    val v = t("read+validate")(TeraSort.teraValidateChecksum(TeraIO.read(spark, outDir)))
    println(s"[probe] ok=${v._1} count=${v._2} checksumOk=${v._3 == genChecksum}")
    TeraIO.delete(spark, inDir); TeraIO.delete(spark, outDir)
    spark.stop()
  }
}
