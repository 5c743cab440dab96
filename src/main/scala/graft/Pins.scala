package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of every pin: each `persist` and `localCheckpoint` the
  * engine takes goes through here, is named (the name becomes its RDD's
  * name, so a leak report lists pins by name) and belongs to the
  * innermost open scope. A scope is ambient: [[scoped]] opens one for
  * the calling thread, every pin taken while it is open, however deep
  * in the call stack, belongs to it, and on exit, however the body
  * ends, it releases them newest first. Nested scopes release only
  * their own. Work [[graft.ops.Par]] hands to its pool runs under the
  * submitting thread's scope.
  *
  * Two lineage policies, and when each applies:
  *
  *   - [[persist]] keeps lineage: the frame caches lazily at
  *     MEMORY_AND_DISK on its first action, and a lost block recomputes
  *     from the plan. For corpus-sized frames several consumers read
  *     within one stage, where surviving executor loss matters and the
  *     plan behind the pin stays shallow. It throws outside a scope: a
  *     cache nobody releases stays for the whole session. Once an
  *     action has built the whole cache, [[rowCount]] reads the pin's
  *     row count without a job.
  *   - [[checkpoint]] cuts lineage: the frame materializes (eagerly by
  *     default) at MEMORY_AND_DISK and its plan stops at the pin. For
  *     loops whose plan would otherwise grow each round, and for skinny
  *     frames whose consumers must read one deterministic
  *     materialization instead of betting on runtime exchange reuse. A
  *     lost block fails the job instead of recomputing. Outside a scope
  *     (the graft.Bench and Verify query entries, perfbench's traced
  *     pass) a checkpoint is left to the ContextCleaner, which reclaims
  *     it once its frame is unreachable.
  *
  * Every site keeps the policy it had before this module owned its
  * pins; which sites should trade one for the other is still open.
  * There are no pins outside this module.
  */
object Pins {

  private val Level = StorageLevel.MEMORY_AND_DISK

  private final class Pin(val ds: Dataset[_], val release: () => Unit)

  /** Pins in the order taken, under the scope's own lock: [[graft.ops.Par]]
    * work adds to its caller's scope from another thread.
    */
  private final class Scope(val outer: Scope) {
    val pins = collection.mutable.ArrayBuffer[Pin]()
    def add(pin: Pin): Unit = synchronized { pins += pin }
    def take(ds: Dataset[_]): Option[Pin] = synchronized {
      val i = pins.lastIndexWhere(_.ds eq ds)
      if (i >= 0) Some(pins.remove(i)) else None
    }
  }

  private val current = new ThreadLocal[Scope]

  /** Run `body` in a new scope; release every pin taken inside it,
    * newest first, however `body` ends.
    */
  def scoped[A](body: => A): A = {
    val outer = current.get
    val scope = new Scope(outer)
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.synchronized(scope.pins.reverse.toList).foreach(_.release())
    }
  }

  /** Pin `ds` lazily at MEMORY_AND_DISK, lineage kept, until the
    * current scope exits.
    */
  def persist[T](ds: Dataset[T], name: String): Dataset[T] = {
    val scope = current.get
    if (scope == null)
      throw new IllegalStateException(s"Pins.persist($name) outside Pins.scoped")
    ds.sparkSession.sharedState.cacheManager.cacheQuery(ds, Some(name), Level)
    scope.add(new Pin(ds, () => ds.unpersist(blocking = false)))
    ds
  }

  /** `ds.localCheckpoint(eager)` at MEMORY_AND_DISK, owned by the
    * current scope (left to the ContextCleaner outside one).
    */
  def checkpoint[T](ds: Dataset[T], name: String, eager: Boolean = true): Dataset[T] =
    checkpointInto(current.get, ds, name, eager)

  /** Run `body` in a scope of its own, eagerly checkpoint its result
    * into the ENCLOSING scope, then release `body`'s pins: the result
    * outlives the intermediates it was computed from.
    */
  def scopedCheckpoint[T](name: String)(body: => Dataset[T]): Dataset[T] = {
    val outer = current.get
    scoped(checkpointInto(outer, body, name, eager = true))
  }

  /** The row count of `ds`, without a job when an earlier action built
    * its whole [[persist]] cache: the count Spark recorded while
    * building it, which its planner reads as the cache's statistics.
    * A pin nothing built, or built only in part (a `limit` reads the
    * partitions it needs), and a frame that is no cache pin fall back
    * to `count()`. Spark marks a cache built once every partition's
    * task has completed exactly once, so a partition built twice also
    * falls back; a block lost and rebuilt after that mark is counted
    * twice, as in the planner's statistics.
    */
  def rowCount(ds: Dataset[_]): Long =
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .fold(ds.count())(_.rowCountStats.value.longValue)

  /** Release `ds` before its scope exits, once nothing reads it any
    * more (a loop's superseded round, say).
    */
  def release(ds: Dataset[_]): Unit = {
    def taken(scope: Scope): Option[Pin] =
      if (scope == null) None else scope.take(ds).orElse(taken(scope.outer))
    taken(current.get) match {
      case Some(pin) => pin.release()
      case None => checkpointRdd(ds).unpersist(blocking = false) // taken outside a scope
    }
  }

  /** `body` as a thunk that runs under the calling thread's scope on
    * whichever thread runs it.
    */
  private[graft] def inCurrentScope[A](body: => A): () => A = {
    val scope = current.get
    () => {
      val prev = current.get
      current.set(scope)
      try body
      finally current.set(prev)
    }
  }

  private def checkpointInto[T](scope: Scope, ds: Dataset[T], name: String,
                                eager: Boolean): Dataset[T] = {
    val cp = ds.localCheckpoint(eager, Level)
    val rdd = checkpointRdd(cp).setName(name)
    if (scope != null) scope.add(new Pin(cp, () => rdd.unpersist(blocking = false)))
    cp
  }

  /** A checkpoint's blocks live in the RDD its plan scans. */
  private def checkpointRdd(cp: Dataset[_]) = cp.queryExecution.logical match {
    case l: LogicalRDD => l.rdd
    case other => throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
  }
}
