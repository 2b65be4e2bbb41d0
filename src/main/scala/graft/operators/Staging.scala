package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.storage.StorageLevel

/** Operator staging whose lifetime is the statement that reads it.
  *
  * Several operators stage an intermediate (a vocabulary table, MinHash
  * signatures, a connected-components round) because it feeds several
  * consumers inside one returned plan, or an iterative loop reads it
  * every round. [[persist]] and [[checkpoint]] are the only places graft
  * caches or checkpoints a frame (`StagingDisciplineSpec` enforces it).
  *
  * Lifetime: a stage belongs to the thread that built it. [[scope]]
  * owns every stage made on its thread while it runs, adopts the stages
  * that thread made since its previous scope closed (an operator built
  * first and written afterwards), and frees them all when it exits,
  * after success or failure. graft's sinks, `SqlRepl.runLine`, `Verify`,
  * `Bench` and `Probe` open one per statement, so a staged frame lives
  * exactly as long as the action that reads it, and one client's
  * statements never free another client's stages. Code that acts on an
  * operator's result through plain Spark wraps the action in [[scope]];
  * otherwise the next graft action on that thread frees the stages.
  * [[free]] releases a stage early, inside an operator (a finished CC
  * round, kNN edges once the loop is materialized).
  *
  * A plan the caller already cached is neither materialized nor freed:
  * [[persist]] hands it back untouched and its lifetime stays the
  * caller's.
  */
object Staging {

  /** The stages one statement owns. [[Scope.close]] frees them. */
  final class Scope private[Staging] () {
    private val stages = ArrayBuffer.empty[DataFrame]

    private[Staging] def add(df: DataFrame): Unit = synchronized { stages += df }

    /** Run `body` with this scope owning the stages made on this thread. */
    def apply[T](body: => T): T = {
      val outer = current.get
      current.set(this)
      try body finally current.set(outer)
    }

    /** Free every stage this scope owns. */
    def close(): Unit =
      synchronized { val s = stages.toList; stages.clear(); s }.foreach(free)
  }

  /** The innermost scope running on this thread, or null. */
  private val current = new ThreadLocal[Scope]

  /** Stages made on this thread outside any scope; the next scope opened
    * on it adopts them. */
  private val loose = ThreadLocal.withInitial(() => ArrayBuffer.empty[DataFrame])

  /** Every stage not yet freed, by frame identity, with how to free it. */
  private val live = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[DataFrame, () => Unit]())

  private val sites = new AtomicLong(0L)

  /** The local property `SparkContext.setCallSite` sets. */
  private val ShortCallSite = "callSite.short"

  /** A scope that owns the stages this thread made outside any scope.
    * Run work in it with [[Scope.apply]]; the caller closes it. The REPL
    * keeps a workbook load's scope open as the loaded rows' lifetime. */
  def open(): Scope = {
    val s = new Scope
    val adopted = loose.get
    adopted.foreach(s.add)
    adopted.clear()
    s
  }

  /** Run `body`, then free every stage made on this thread inside it or
    * since this thread's previous scope closed. */
  def scope[T](body: => T): T = {
    val s = open()
    try s(body) finally s.close()
  }

  /** Cache `df` as a stage. `eager` materializes it now, with one count
    * action, so the plan's independent consumers read warm blocks instead
    * of racing to populate a cold cache; a failed count frees the cache.
    * If an identical plan is already cached it is returned as is, neither
    * counted nor owned. */
  def persist(df: DataFrame, eager: Boolean): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = own(df.persist()) { () => df.unpersist(blocking = false) }
      if (eager)
        try p.count()
        catch { case e: Throwable => free(p); throw e }
      p
    }

  /** Checkpoint `df` as a stage, so the plans that read it start from a
    * flat scan of its blocks. By default a `localCheckpoint`:
    * executor-local, unreplicated blocks, so a lost executor fails the
    * query. With `spark.graft.staging.reliable=true` a reliable
    * `Dataset.checkpoint` to the session's checkpoint directory, which the
    * caller must have set: executor loss then costs a re-read. Freeing
    * drops local-checkpoint blocks; the files of a reliable checkpoint are
    * reclaimed by the ContextCleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
    *
    * An eager checkpoint persists its RDD before the job that fills it
    * runs; if that job fails, the RDD is freed here, found by a call site
    * unique to this call (which also names the job in the Spark UI). */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val reliable = df.sparkSession.conf
      .get("spark.graft.staging.reliable", "false").toBoolean
    val site = s"graft stage #${sites.incrementAndGet()}"
    val outer = sc.getLocalProperty(ShortCallSite)
    sc.setCallSite(site)
    val staged =
      try if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
      catch {
        case e: Throwable =>
          sc.getPersistentRDDs.values
            .filter(GraftInternal.creationSite(_) == site)
            .foreach(GraftInternal.unpersistQuietly(_))
          throw e
      } finally sc.setLocalProperty(ShortCallSite, outer)
    own(staged) { () =>
      GraftInternal.backingRdds(staged).foreach(GraftInternal.unpersistQuietly(_))
    }
  }

  /** Free stage `df` now. A checkpoint's blocks go without Spark's
    * "lineage has been truncated" WARN: the caller drops them on purpose.
    * A no-op for a frame that is not a live stage. */
  def free(df: DataFrame): Unit =
    Option(live.remove(df)).foreach { release =>
      if (!df.sparkSession.sparkContext.isStopped) release()
    }

  private def own(df: DataFrame)(release: () => Unit): DataFrame = {
    live.put(df, release)
    val s = current.get
    if (s == null) loose.get += df else s.add(df)
    df
  }
}
