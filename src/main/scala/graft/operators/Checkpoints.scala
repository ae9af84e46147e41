package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{GraftCoreShim, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
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
  * Mode: without a `checkpointDir` a pin is a `localCheckpoint` — fast,
  * but its blocks die with their executor and the truncated lineage
  * cannot rebuild them. With a reliable dir (HDFS/S3) a pin is persist
  * → `checkpoint()` → unpersist (the eager checkpoint's file write
  * re-runs the lineage; the persist keeps it from computing twice); the
  * files outlive the scope unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`. A scope
  * without a dir takes its enclosing scope's.
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

  /** Persist `df` (memory and disk) for the scope's lifetime. */
  def persist(df: DataFrame): DataFrame = {
    register(new Held(df.persist(StorageLevel.MEMORY_AND_DISK), None))
    df
  }

  /** Eagerly checkpoint `df` in the scope's mode (`local` forces a
    * `localCheckpoint`) and hold the blocks for the scope's lifetime.
    */
  def pin(df: DataFrame, local: Boolean = false): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val out = dirScope.dir match {
      case Some(d) if !local =>
        dirScope.synchronized {
          if (!dirScope.dirSet) { sc.setCheckpointDir(d); dirScope.dirSet = true }
        }
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        try p.checkpoint() finally p.unpersist(false)
      case _ => Pins.localCheckpoint(sc, df)
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

  /** Run `body` in a new scope nested in the thread's current one, and
    * close it when `body` returns or throws. `checkpointDir` None takes
    * the enclosing scope's mode, local outside any scope.
    */
  def apply[T](checkpointDir: Option[String] = None)(body: Pins => T): T = {
    val p = new Pins(checkpointDir, Option(current.get))
    try p.within(body(p)) finally p.close()
  }

  /** Persist `df` into the thread's current scope, or plainly (released
    * by the session's `clearCache`) when none is open.
    */
  def persist(df: DataFrame): DataFrame =
    Option(current.get).fold(df.persist(StorageLevel.MEMORY_AND_DISK))(_.persist(df))

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
