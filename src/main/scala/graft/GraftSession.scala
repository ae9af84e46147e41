package graft

import org.apache.spark.sql.SparkSession

/** One place for session construction so Verify, Bench and tests share
  * the same scale-oriented defaults.
  */
object GraftSession {

  /** Core count of a main's local session: `SPARK_GRAFT_CPUS`, else
    * every core the JVM sees (never an oversubscribed fixed count). */
  def defaultCores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** local[n] session. At 100 TB the same settings translate to: AQE on
    * (runtime skew-join + partition coalescing), shuffle partitions sized
    * to the cluster (here: the local core count, not the 200 default).
    */
  def build(cores: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE re-plan (and in particular coalesce) the output
      // partitioning of CACHED plans too: the engine's compositions pin
      // narrow intermediates (fingerprint tables, gated corpora) that
      // otherwise materialize at the full shuffle-partition count, so
      // every downstream stage over them schedules that many tasks no
      // matter how small the frame is. With this on, cached frames get
      // the same bytes-proportional partitioning every other exchange
      // gets — size-adaptive at any scale (a 100 TB cached frame keeps
      // its parallelism; a 2 MB one stops costing 32 tasks per scan).
      // Measured r14: -13..-19% on the composition-lane subset
      // (video_dedup_e2e 7.3-8.0 -> 4.8-4.9 s), OPTIMIZATION_r14.md.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Spark's codegen cache maps generated source text to its compiled
      // class, one entry per distinct body, per JVM. A cold
      // TrainingPipeline pass fills about 240 entries, and the full
      // Verify/Bench suite several times that, so Spark's default of 100
      // would evict classes a later stage or lane needs again. A janino
      // compile is tens of ms of single-threaded work that every other
      // task of the stage waits on (the cache's per-key lock). 4096
      // entries bound the held classes and cover the suite; each
      // executor JVM of a cluster keeps its own cache, sized the same.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Name every whole-stage class `GeneratedIterator`, not
      // `GeneratedIteratorForCodegenStage<N>`. N is a per-query counter
      // that AQE re-plans renumber too, and the cache keys on the source
      // text, so with the id in the name one pipeline compiles again
      // under every new N (a cold crawl pass: 299 whole-stage bodies,
      // 99 distinct without the id). The name only labels the class:
      // every compile already loads into its own class loader under the
      // one outer name `GeneratedClass`, so equal names never collide.
      // At cluster scale every executor JVM would otherwise pay the
      // same recompiles.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Run tasks under the application class loader, not a per-session
      // ExecutorClassLoader. Isolation exists for sessions that ship
      // their own classes (Spark Connect `addArtifact`); graft ships
      // none, it is a library on the application class path. With
      // isolation on, every class-name miss of a janino compile becomes
      // a fetch from the driver's RPC file server under the loader's
      // monitor (mean compile 44-63 ms on, 25-28 ms off, 4 cores);
      // on a cluster each miss is a network round trip to the driver.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS,false), which Spark 4
      // rejects by default; read as long nanos and convert in Tables
      // (DuckDB's oracle likewise truncates ns -> us).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Driver-generated parquet may carry isAdjustedToUTC=false micros,
      // which Spark 4 infers as TIMESTAMP_NTZ — a type unix_micros/
      // withWatermark reject. The session is pinned UTC, so reading NTZ
      // as TIMESTAMP is value-identity; keep the engine on one ts type.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" overlays session confs at
    // deploy time and for config A/Bs (`tools/ab.sh`); the defaults
    // above are what every unset run gets.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) b.config(kv.take(i).trim, kv.drop(i + 1).trim)
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
