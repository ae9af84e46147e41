package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every setting the engine reads — `SPARK_GRAFT_*` environment names
  * and `"spark.graft.*"` session confs — is one of the names README
  * "Session defaults" lists, so adding or dropping one is a reviewed
  * change, never a side effect.
  */
class SettingsSpec extends AnyFunSuite {

  private val listed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_LANES", "SPARK_GRAFT_SKIP_LANES", "SPARK_GRAFT_PROBES",
    "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_ITERS",
    "SPARK_GRAFT_BENCH_BUDGET_SEC", "SPARK_GRAFT_PROBE_RETRY_BUDGET_SEC",
    "SPARK_GRAFT_RETRY_WORST",
    "spark.graft.pipeline.pin", "spark.graft.pipeline.pinDir",
    "spark.graft.bruteForce.maxRows")

  private def sources(root: Path): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).toList
    finally files.close()
  }

  test("src/main reads exactly the 14 settings README lists") {
    val text = sources(Paths.get("src/main"))
    val env = "SPARK_GRAFT_[A-Z0-9_]+".r
    val conf = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val found = text.flatMap(t =>
      env.findAllIn(t).toSeq ++ conf.findAllMatchIn(t).map(_.group(1))).toSet
    assert(found == listed, s"added: ${found -- listed}; gone: ${listed -- found}")
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val defaults = readme.split("## ").find(_.startsWith("Session defaults")).getOrElse("")
    assert(listed.forall(n => defaults.contains(s"`$n`")),
      s"README Session defaults misses ${listed.filterNot(n => defaults.contains(s"`$n`"))}")
  }
}
