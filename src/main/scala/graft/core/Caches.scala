package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Exact-lifecycle tracking for the caches and local checkpoints that graft
  * operators pin internally (MinHash signatures, banded index rows, the
  * connected-components iteration state, …).
  *
  * Problem this solves: several operators persist an intermediate that both
  * sides of a self-join (or two downstream consumers) read — without the
  * persist the heavy upstream chain runs twice. The pin outlives the call
  * (Spark caching is session-scoped), so a long-lived session running the
  * operator repeatedly — a streaming sink, a daily driver loop — accumulates
  * MEMORY_AND_DISK state forever. Diffing `sc.getPersistentRDDs` before and
  * after (the previous approach) releases *everything new on the context*,
  * including RDDs pinned concurrently by unrelated queries sharing the
  * SparkContext.
  *
  * Mechanism: a thread-local pin scope. Operators route their internal
  * persists through [[pin]]; a caller that wants deterministic release wraps
  * the computation in [[collectPins]], materializes the result (write /
  * collect), then calls [[Pins.release]] on exactly what that computation
  * pinned — nothing else on the context is touched. With no active scope the
  * behavior is unchanged: pins live until the session clears them.
  *
  * The one rule for checkpoints: every `localCheckpoint` an operator takes
  * is owned by one [[holding]] block (`held(df)` takes it). On return the
  * block registers the checkpoints the result reads with the active scope
  * and releases the rest; on throw it releases them all. Operators never
  * register or release a checkpoint by hand — and never `unpersist()` one:
  * `Dataset.unpersist()` on a `localCheckpoint`ed frame is a no-op, the
  * storage sits on the RDD behind its plan. The one exception is a
  * checkpoint handed straight to [[Loop.iterate]] as its round-0 state,
  * which the loop owns.
  *
  * Thread model: DataFrame *construction* (where `persist`/`localCheckpoint`
  * calls happen) is synchronous on the calling thread, so a scope opened and
  * closed around plan construction + eager materialization captures every
  * pin even though Spark runs the jobs themselves on executor/scheduler
  * threads. Callers on other threads (e.g. a concurrent stream) have their
  * own scope or none — no cross-talk by construction.
  */
object Caches {

  /** Everything one [[collectPins]] scope pinned: persisted Datasets plus
    * the RDDs backing retained local checkpoints. Release only after the
    * downstream result is materialized — releasing a persist early merely
    * recomputes, but releasing a localCheckpoint early FAILS the query (its
    * truncated lineage cannot be rebuilt).
    */
  final class Pins private[Caches] () {
    private val datasets = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    private[Caches] def addDs(ds: Dataset[_]): Unit =
      synchronized { datasets += ds }
    private[Caches] def addRdd(r: RDD[_]): Unit = synchronized { rdds += r }
    def size: Int = synchronized { datasets.size + rdds.size }
    def release(blocking: Boolean = false): Unit = synchronized {
      datasets.foreach(_.unpersist(blocking))
      rdds.foreach(_.unpersist(blocking))
      datasets.clear()
      rdds.clear()
    }
  }

  private val active = new ThreadLocal[Pins]

  /** Run `body` under a fresh pin scope and return (result, pins). Scopes
    * nest: the inner scope shadows the outer for its duration, so an
    * operator that manages a sub-computation's pins itself (e.g.
    * `Dedup.dedupCorpus` releasing its signature cache) keeps those pins out
    * of the caller's handle.
    *
    * If `body` throws, everything it pinned so far is released before the
    * exception propagates — the caller never receives the Pins handle on
    * that path, so holding the pins would leak them into the session on
    * every retry of a failed computation. (Nothing downstream can be
    * reading them: the result that would have referenced them was never
    * returned.)
    */
  def collectPins[T](body: => T): (T, Pins) = {
    val prev = active.get
    val pins = new Pins
    active.set(pins)
    try {
      val result = try body
      catch { case e: Throwable => pins.release(); throw e }
      (result, pins)
    } finally if (prev == null) active.remove() else active.set(prev)
  }

  /** `persist(MEMORY_AND_DISK)` + register with the active scope, if any. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val scope = active.get
    if (scope != null) scope.addDs(p)
    p
  }

  /** The checkpoints one [[holding]] block owns, keyed by backing RDD (a
    * [[Loop.rebind]]ed frame is the same checkpoint). Frames that are not
    * checkpoint leaves — projections, pinned caches, the caller's
    * checkpoints seen through a derived plan — are never held, so
    * `adopt`/`release` on them are no-ops.
    */
  final class Held private[Caches] () {
    private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Eager `localCheckpoint(true)` of `df`, held from now on. */
    def apply(df: DataFrame): DataFrame = adopt(df.localCheckpoint(true))

    /** Hold an existing checkpoint (e.g. a nested loop's result). */
    def adopt(df: DataFrame): DataFrame = {
      if (checkpointRdd(df).isDefined) live += df
      df
    }

    /** Release `df`'s checkpoint NOW, if held: nothing may read it again. */
    def release(df: DataFrame): Unit =
      if (df != null) checkpointRdd(df).foreach { rdd =>
        val i = live.indexWhere(h => checkpointRdd(h).contains(rdd))
        if (i >= 0) releaseCheckpoint(live.remove(i))
      }

    private[Caches] def finish(result: DataFrame): Unit = {
      val reads: Seq[RDD[_]] = result.queryExecution.analyzed.collectLeaves()
        .collect { case l: LogicalRDD => l.rdd }
      val scope = Option(active.get)
      live.flatMap(checkpointRdd(_)).foreach { rdd =>
        if (reads.contains(rdd)) scope.foreach(_.addRdd(rdd))
        else rdd.unpersist(false)
      }
      live.clear()
    }

    private[Caches] def releaseAll(): Unit = {
      live.foreach(releaseCheckpoint(_))
      live.clear()
    }
  }

  /** Run `body` with the checkpoints it takes through a [[Held]]: on throw
    * every held checkpoint is released before the exception propagates;
    * on return the held checkpoints the result reads are registered with
    * the active [[collectPins]] scope and the rest released. A loop over
    * one state table is [[Loop.iterate]], which runs on this.
    */
  def holding(body: Held => DataFrame): DataFrame = {
    val held = new Held
    val result = try body(held)
    catch { case t: Throwable => held.releaseAll(); throw t }
    held.finish(result)
    result
  }

  /** The persisted RDD behind a `localCheckpoint`ed Dataset (None when the
    * plan is not a checkpoint/RDD leaf). */
  private def checkpointRdd(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Unpersist the RDD behind a `localCheckpoint`ed Dataset NOW. Only safe
    * once nothing will read the Dataset again — a truncated-lineage plan
    * cannot recompute. For callers that own a checkpoint an operator
    * returned to them; operators release through [[holding]]. */
  def releaseCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking))
}
