package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Caller-managed cache scope for operator-internal materializations.
  *
  * Several operators (LSH dedup, IVF/LSH similarity, connected components)
  * must materialize an intermediate frame that multiple downstream joins
  * consume — recomputing it per consumer dominated the round-1 bench. But a
  * bare `persist()` inside a library operator leaks: Spark's CacheManager
  * holds a strong reference until someone unpersists, so a long-lived
  * session (a query service, a test JVM) accumulates block-manager memory
  * per call — the failure mode BASELINE.md measured as "worth 8× on
  * dedup_clusters".
  *
  * Contract: operators register every internal persist/localCheckpoint
  * here; callers invoke [[release]] once they have fully materialized
  * (collected / written) the operator's result. Bench, Verify and the test
  * suites do so after every query. `release` frees localCheckpoint blocks
  * too, so frames derived from a released operator result cannot be
  * re-executed afterwards — release is "I am done with this result", not a
  * cache hint. CacheSpec asserts the block manager is empty after each
  * SparkEntry query + release.
  *
  * Registration is per-SparkSession and thread-safe, and
  * [[checkpointWithHandle]] derives its free handle from the checkpointed
  * frame's own plan — concurrent operators in one session (the long-lived
  * query-service deployment) can never free each other's blocks.
  */
object OpCache {

  private val registry =
    new ConcurrentHashMap[SparkSession, mutable.Buffer[() => Unit]]()

  private def register(spark: SparkSession, free: () => Unit): Unit = {
    // a thread inside a scoped() block registers into the innermost
    // enclosing scope OPENED FOR THIS SESSION — a registration against a
    // different session falls through (to an outer scope for that session,
    // else the global registry) instead of being captured and freed by an
    // unrelated scope
    val scopes = activeScope.get()
    val scope = if (scopes == null) None else scopes.find(_._1 eq spark)
    scope match {
      case Some((_, buf)) => buf += free
      case None =>
        var done = false
        while (!done) {
          val buf = registry.computeIfAbsent(spark, _ => mutable.Buffer.empty)
          buf.synchronized {
            // a concurrent release() may have removed (and drained) this
            // buffer between computeIfAbsent and taking the lock —
            // appending to the orphaned buffer would leak the free forever,
            // so re-check membership under the lock and retry on a fresh
            // buffer
            if (registry.get(spark) eq buf) { buf += free; done = true }
          }
        }
    }
  }

  /** Persist + eagerly materialize `df`. The cache is freed by [[release]]
    * (or a direct `df.unpersist()`); until then every consumer of `df`
    * reads the in-memory copy.
    */
  def materialize(df: DataFrame): DataFrame = {
    df.persist()
    df.count()
    register(df.sparkSession, () => df.unpersist(blocking = false))
    df
  }

  /** Eager, lineage-cut materialization (`localCheckpoint`) returning the
    * checkpointed frame and a handle that frees exactly its blocks.
    * Dataset.localCheckpoint offers no unpersist path of its own (the
    * blocks belong to an internal RDD), so the handle digs that RDD out of
    * the returned frame's plan: a local checkpoint analyzes to a
    * `LogicalRDD` leaf wrapping exactly the persisted RDD. Deriving the
    * handle from the frame itself (not a before/after diff of the block
    * manager) keeps concurrent plan construction in one session safe — two
    * threads checkpointing at once each free only their own blocks.
    * Freeing the handle makes the frame — and anything derived from it —
    * non-recomputable; free only superseded intermediates.
    */
  def checkpointWithHandle(
      df: DataFrame, blockingFree: Boolean = false): (DataFrame, () => Unit) = {
    val out = df.localCheckpoint()
    val rdds = out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty, "localCheckpoint did not produce a LogicalRDD plan")
    (out, () => rdds.foreach(_.unpersist(blocking = blockingFree)))
  }

  /** [[checkpointWithHandle]] with the free registered for [[release]] —
    * for checkpoints that live as long as the operator's result.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val (out, free) = checkpointWithHandle(df)
    register(df.sparkSession, free)
    out
  }

  /** The rolling lineage cut of an iterative operator: the current
    * checkpointed frame and the handle that frees its blocks. [[cut]]
    * checkpoints the next frame FIRST (eagerly, so it no longer reads the
    * current one) and THEN frees the frame it replaces, so a k-round loop
    * holds one round's blocks, not k. The superseded frame is always freed
    * through its handle: `Dataset.unpersist` cannot free a local
    * checkpoint's internal RDD, and that breach once leaked one
    * vocab-sized RDD per BPE merge round. The last frame backs the
    * operator's result, so its handle goes to [[release]] ([[deferLast]])
    * or is freed by the owner once the result is consumed ([[free]]).
    * It starts empty, or adopts an already-checkpointed frame and its
    * handle, which the first cut then frees.
    */
  final class RollingCut(
      start: DataFrame = null, freeStart: () => Unit = () => ()) {
    private var current = start
    private var freeCurrent = freeStart

    /** The frame of the latest cut (or the adopted start frame). */
    def frame: DataFrame = current

    def cut(next: DataFrame): DataFrame = {
      val (out, free) = checkpointWithHandle(next)
      freeCurrent()
      current = out
      freeCurrent = free
      out
    }

    def deferLast(): Unit =
      if (current != null) register(current.sparkSession, freeCurrent)

    def free(): Unit = freeCurrent()
  }

  /** Register an externally-created free (e.g. the handle of a checkpoint
    * that backs an operator's returned plan) for [[release]].
    */
  def defer(spark: SparkSession)(free: () => Unit): Unit =
    register(spark, free)

  /** Free every operator-internal cache registered for `spark`. Call after
    * fully materializing the results you asked the operators for.
    *
    * SESSION-GLOBAL: frees caches registered by every thread on this
    * session. A caller that shares its session with concurrent operator
    * users (a query service, a multi-stream driver) must use [[scoped]]
    * instead — releasing globally there would unpersist blocks another
    * in-flight computation still needs.
    */
  def release(spark: SparkSession): Unit = {
    val buf = registry.remove(spark)
    if (buf != null) buf.synchronized { buf.foreach(_.apply()) }
  }

  // innermost-first chain of (session, buffer) scopes open on this thread
  private val activeScope =
    new ThreadLocal[List[(SparkSession, mutable.Buffer[() => Unit])]]()

  /** Run `body` with a PRIVATE registration scope FOR `spark`: every
    * materialize / checkpoint an operator registers from this thread
    * against `spark` during `body` is freed when the block exits (normally
    * or not), and nothing else is — safe on a session shared with
    * concurrent operator users, unlike the session-global [[release]].
    * Registrations against a DIFFERENT session are not captured (they go
    * to an enclosing scope for that session, else the global registry).
    * Registrations are thread-local, which matches how operators register
    * (eagerly, on the calling thread); scopes nest (the inner scope frees
    * only its own).
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val outer = activeScope.get()
    val buf = mutable.Buffer.empty[() => Unit]
    activeScope.set((spark, buf) :: (if (outer == null) Nil else outer))
    try body
    finally {
      if (outer == null) activeScope.remove() else activeScope.set(outer)
      buf.foreach(_.apply())
    }
  }
}
