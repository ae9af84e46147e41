package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{GraftCoreShim, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftCacheShim, GraftCodegenShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifetime scope for persisted and checkpointed frames. Each
  * [[persist]] and eager [[pin]] registers exactly what it holds — the
  * persisted frame, or the checkpoint leaf's own backing RDD (never a
  * `getPersistentRDDs` diff, which races concurrent job threads) — and
  * [[close]] releases what is still registered, newest first, whether
  * the body returned or threw; [[release]] frees one early. Checkpoint
  * blocks go through the ContextCleaner's silent unpersist path.
  *
  * A persist builds its cache at once, in one job labelled
  * `persist build`, and a failed build releases it before rethrowing.
  * The build runs as an SQL action, so the `observe` metrics in the
  * frame's plan are filled when persist returns, even when no later
  * plan scans the cache (AQE drops a join over an empty one).
  * Left lazy, the cache would be built by AQE, which plans one
  * `TableCacheQueryStage` job per *reference* to an unbuilt cache and
  * submits them together: a frame read five times in one plan would be
  * built five times. Once built, every plan reading it sees a loaded
  * cache, with exact size and row-count statistics.
  *
  * Mode: without a `checkpointDir` a pin is a `localCheckpoint` — fast,
  * but its blocks die with their executor and the truncated lineage
  * cannot rebuild them. With a reliable dir (HDFS/S3) a pin is persist
  * → `checkpoint()` → unpersist (the eager checkpoint's file write
  * re-runs the lineage; the persist keeps it from computing twice); the
  * files outlive the scope unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`. A scope
  * without a dir takes its enclosing scope's. A pin whose measured
  * input is at most [[Pins.InterpretBytes]] runs its checkpoint action
  * interpreted, on the calling thread only.
  *
  * Scopes nest through the thread's current scope: [[Pins.apply]] opens
  * one inside it and [[Pins.persist]] registers into it. Work on another
  * thread joins through [[ambient]], and [[close]] waits for it.
  * Registration is thread-safe, and one arriving after [[close]] is
  * released at once. [[keep]] hands a returned frame to the enclosing
  * scope, or to the caller when there is none.
  */
final class Pins private (private val dir: Option[String], parent: Option[Pins])
    extends AutoCloseable {
  import Pins.Held

  private val held = ArrayBuffer.empty[Held]  // guarded by this
  private var closed = false                  // guarded by this
  private var joined = 0                      // guarded by this
  private var dirSet = false                  // guarded by dirScope

  private val dirScope: Pins =
    if (dir.isDefined) this else parent.map(_.dirScope).getOrElse(this)

  /** Persist `df` (memory and disk) for the scope's lifetime, built now. */
  def persist(df: DataFrame): DataFrame = {
    register(new Held(df.persist(StorageLevel.MEMORY_AND_DISK), None))
    Pins.build(df)(release(df))
  }

  /** Eagerly checkpoint `df` in the scope's mode (`local` forces a
    * `localCheckpoint`) and hold the blocks for the scope's lifetime.
    */
  def pin(df: DataFrame, local: Boolean = false): DataFrame =
    pin(df, local, Pins.InterpretBytes)

  /** [[pin]] with the interpretation cap in bytes; 0 compiles any input. */
  private[graft] def pin(df: DataFrame, local: Boolean, interpretBytes: Long): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val out = dirScope.dir match {
      case Some(d) if !local =>
        dirScope.synchronized {
          if (!dirScope.dirSet) { sc.setCheckpointDir(d); dirScope.dirSet = true }
        }
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        try Pins.sized(p, interpretBytes)(p.checkpoint()) finally p.unpersist(false)
      case _ => Pins.sized(df, interpretBytes)(Pins.localCheckpoint(sc, df))
    }
    register(new Held(out, Pins.checkpointRdd(out).map(_.id)))
    out
  }

  /** Release `df`'s registration now; a no-op for a frame this scope
    * does not hold.
    */
  def release(df: DataFrame): Unit = take(df).foreach(Pins.free)

  /** Hand `df`'s registration to the enclosing scope — with none, the
    * frame is the caller's to release — and return it.
    */
  def keep(df: DataFrame): DataFrame = {
    take(df).foreach(h => parent.foreach(_.register(h)))
    df
  }

  /** Run `body` (on any thread) with this scope current; [[close]] waits
    * for it. Work that arrives after the scope closed does not run.
    */
  def ambient[T](body: => T): T = {
    synchronized {
      if (closed) throw new IllegalStateException("the Pins scope is closed")
      joined += 1
    }
    try within(body)
    finally synchronized { joined -= 1; notifyAll() }
  }

  def close(): Unit = {
    val all = synchronized {
      while (joined > 0) wait()
      closed = true
      val h = held.reverse.toList
      held.clear()
      h
    }
    all.foreach(h =>
      try Pins.free(h)
      catch { case NonFatal(e) => Pins.log.warn(s"releasing a pin failed: $e") })
  }

  private def register(h: Held): Unit = {
    val late = synchronized { closed || { held += h; false } }
    if (late) Pins.free(h)
  }

  private def take(df: DataFrame): Option[Held] = synchronized {
    val i = held.lastIndexWhere(_.frame eq df)
    if (i < 0) None else Some(held.remove(i))
  }

  private def within[T](body: => T): T = {
    val outer = Pins.current.get
    Pins.current.set(this)
    try body finally Pins.current.set(outer)
  }
}

object Pins {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Pins])
  private final class Held(val frame: DataFrame, val rdd: Option[Int])
  private val current = new ThreadLocal[Pins]
  private val JobDescription = "spark.job.description"

  /** Run `body` in a new scope nested in the thread's current one, and
    * close it when `body` returns or throws. `checkpointDir` None takes
    * the enclosing scope's mode, local outside any scope.
    */
  def apply[T](checkpointDir: Option[String] = None)(body: Pins => T): T = {
    val p = new Pins(checkpointDir, Option(current.get))
    try p.within(body(p)) finally p.close()
  }

  /** Persist `df` into the thread's current scope, or plainly (released
    * by the session's `clearCache`) when none is open; built now either
    * way.
    */
  def persist(df: DataFrame): DataFrame =
    Option(current.get).fold(
      build(df.persist(StorageLevel.MEMORY_AND_DISK))(df.unpersist(false)))(_.persist(df))

  /** The largest measured input, in bytes, at or below which a pin's
    * eager checkpoint runs interpreted (no whole-stage fusion, no
    * janino); every other action compiles. A compile costs tens of ms
    * per class and its class stays in the codegen cache; interpreting
    * costs per row. Measured at 4 cores, one JVM, a fresh class per
    * run, on a filter/join/aggregate pin over parquet (median of 3):
    * interpreted 0.42 s against compiled 0.54 s at 12.8 MB of input,
    * 0.90 against 0.96 s at 51 MB, 3.07 against 2.28 s at 205 MB. The
    * cap sits well below that break-even, because heavier per-row
    * work breaks even far sooner: a persist build that grouped 66 KB
    * of batch shingles into minhash signatures ran 1.7 s slower
    * interpreted. Input bytes alone do not price per-row work, so
    * persist builds stay compiled. Every pin of a 1,000-doc
    * `crawl_pipeline` pass reads at most 5.5 MB, and interpreting them
    * cuts its janino compiles 337 → 202.
    */
  val InterpretBytes: Long = 8L << 20

  /** Run `action` over `df` interpreted when `df`'s measured input is at
    * most `cap` bytes; an unmeasured input compiles.
    */
  private def sized[T](df: DataFrame, cap: Long)(action: => T): T =
    if (GraftCodegenShim.inputBytes(df).exists(_ <= cap)) GraftCodegenShim.interpreted(df)(action)
    else action

  /** Build persisted `df`'s cache in one job labelled `persist build`;
    * when that job fails, run `undo` and rethrow.
    */
  private def build(df: DataFrame)(undo: => Unit): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val outer = sc.getLocalProperty(JobDescription)
    sc.setJobDescription("persist build")
    try GraftCacheShim.build(df)
    catch { case NonFatal(e) => undo; throw e }
    finally sc.setJobDescription(outer)
    df
  }

  /** Release the blocks of a pinned frame no scope holds — one a scope
    * [[Pins.keep]]s with no enclosing scope.
    */
  def unpin(df: DataFrame): Unit =
    checkpointRdd(df).foreach(r =>
      GraftCoreShim.unpersistRdd(df.sparkSession.sparkContext, r.id))

  /** The RDD backing a checkpointed frame's [[LogicalRDD]] leaf. */
  def checkpointRdd(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _              => None
    }

  private def free(h: Held): Unit = h.rdd match {
    case Some(id) => GraftCoreShim.unpersistRdd(h.frame.sparkSession.sparkContext, id)
    case None     => h.frame.unpersist(false)
  }

  /** `df.localCheckpoint()`, releasing the blocks when its eager job
    * fails: the RDD is marked, so registered, before that job runs, and
    * the failed call returns no frame to name it by. The pin's jobs
    * carry a token; [[InFlight]] records the RDD the latest one builds.
    */
  private def localCheckpoint(sc: SparkContext, df: DataFrame): DataFrame = {
    InFlight.listen(sc)
    val token = s"pin-${InFlight.seq.incrementAndGet()}"
    InFlight.rdds.put(token, -1)
    val outer = sc.getLocalProperty(InFlight.Key)
    sc.setLocalProperty(InFlight.Key, token)
    try df.localCheckpoint()
    catch {
      case NonFatal(e) =>
        GraftCoreShim.drainListenerBus(sc)
        val id = InFlight.rdds.get(token).intValue
        if (sc.getPersistentRDDs.get(id).exists(GraftCoreShim.isLocalCheckpoint))
          GraftCoreShim.unpersistRdd(sc, id)
        throw e
    } finally {
      sc.setLocalProperty(InFlight.Key, outer)
      InFlight.rdds.remove(token)
    }
  }

  private object InFlight extends SparkListener {
    val Key = "graft.pin"
    val seq = new AtomicLong
    val rdds = new ConcurrentHashMap[String, Integer]  // token -> RDD id
    @volatile private var listening: SparkContext = _

    def listen(sc: SparkContext): Unit =
      if (listening ne sc) synchronized {
        if (listening ne sc) { sc.addSparkListener(this); listening = sc }
      }

    // a job's last stage builds the RDD the job was submitted for
    override def onJobStart(e: SparkListenerJobStart): Unit =
      for {
        t <- Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        s <- e.stageInfos.maxByOption(_.stageId)
        r <- s.rddInfos.headOption
      } rdds.replace(t, r.id)
  }
}
