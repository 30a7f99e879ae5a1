package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The ONE store of state graft memoizes across queries, and the
  * registry of every executor-side resource that state holds, so that
  * [[graft.SparkEntry.releaseMemos]] (= [[releaseAll]]) is complete by
  * construction and touches nothing the host application created on
  * the same SparkContext.
  *
  * Two lifetimes, chosen per memo at its definition:
  *  - [[session]]: cross-query results reused within a family (trained
  *    models, converged ranks, shared graph inputs). Dropped by
  *    [[releaseAll]], so a timed pass that starts after a release pays
  *    the full computation.
  *  - [[layout]]: persisted tables and files (bucketed edge and
  *    signature tables, partitioned or z-ordered copies, io roundtrip
  *    roots). Kept for the life of the application: the data outlives
  *    any release, and rebuilding it on every pass would bill a
  *    one-time write to each consumer.
  * Both are keyed on (owner, tag, applicationId, dir), so two modules
  * memoizing over the same dataset never collide.
  *
  * Resources released by [[releaseAll]], recorded at creation:
  *  - RDD ids of every frame memoized via `.memoized()` /
  *    `GraftOps.truncate` (the `rdd` of the `LogicalRDD` leaf that
  *    `localCheckpoint()`/`checkpoint()` returns, read by reflection —
  *    the class is sql-package-scoped). Unpersisting a reliably
  *    checkpointed RDD that was never block-persisted is a no-op, so
  *    release is uniform across both truncation modes;
  *  - every Dataset `.memoCached()`;
  *  - broadcasts ([[registerBroadcast]]) and session temp functions
  *    ([[registerFunction]]) that memoized plans reference.
  * Releasing only this set (never every persistent RDD or the whole
  * CacheManager) keeps a host app's own checkpointed frames
  * recomputable and its cached tables materialized.
  */
object Memo {
  private val sessionMemos = TrieMap[String, Any]()
  private val layoutMemos = TrieMap[String, Any]()
  private val rddIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val cachedFrames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Dataset[_]]()
  private val broadcasts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Broadcast[_]]()
  private val functions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  private def key(owner: String, tag: String, spark: SparkSession, dir: String): String =
    s"$owner:$tag:${spark.sparkContext.applicationId}:$dir"

  /** Session-lifetime memo: built once, dropped by [[releaseAll]]. */
  def session[V](owner: String, tag: String, spark: SparkSession, dir: String)(build: => V): V =
    sessionMemos.getOrElseUpdate(key(owner, tag, spark, dir), build).asInstanceOf[V]

  /** Layout-lifetime memo: built once per application, never released. */
  def layout[V](owner: String, tag: String, spark: SparkSession, dir: String)(build: => V): V =
    layoutMemos.getOrElseUpdate(key(owner, tag, spark, dir), build).asInstanceOf[V]

  /** RDD ids of the LogicalRDD leaves of a (local)checkpointed frame. */
  private def leafRddIds(ds: Dataset[_]): Seq[Int] =
    ds.queryExecution.analyzed.collectLeaves().flatMap { leaf =>
      try leaf.getClass.getMethod("rdd").invoke(leaf) match {
        case r: org.apache.spark.rdd.RDD[_] => Some(r.id)
        case _ => None
      } catch { case _: ReflectiveOperationException => None }
    }

  /** Record a frame already truncated by (local)checkpoint. */
  def register[T](checkpointed: Dataset[T]): Dataset[T] = {
    leafRddIds(checkpointed).foreach(id => rddIds.add(id))
    checkpointed
  }

  /** Record a frame graft has `.cache()`d (CacheManager entry). */
  def registerCached[T](cached: Dataset[T]): Dataset[T] = {
    cachedFrames.add(cached)
    cached
  }

  /** Record a broadcast graft created; destroyed on release. */
  def registerBroadcast[T](bc: Broadcast[T]): Broadcast[T] = {
    broadcasts.add(bc)
    bc
  }

  /** Record a temp function graft registered on `spark`; dropped on
    * release. */
  def registerFunction(spark: SparkSession, name: String): String = {
    functions.add((spark, name))
    name
  }

  /** Free graft-created memo state ONLY: drop the session memos, then
    * the temp functions and broadcasts their plans reference, unpersist
    * the tracked checkpoint block RDDs still persistent and drop the
    * tracked CacheManager entries. Dropping the memos FIRST means no
    * memo can hand out a frame whose blocks are gone. Layout memos and
    * everything the host app persisted are untouched. */
  def releaseAll(spark: SparkSession): Unit = {
    sessionMemos.clear()
    functions.forEach(f =>
      f._1.sessionState.functionRegistry.dropFunction(FunctionIdentifier(f._2)))
    functions.clear()
    broadcasts.forEach(_.destroy())
    broadcasts.clear()
    val persistent = spark.sparkContext.getPersistentRDDs
    rddIds.forEach { id =>
      persistent.get(id).foreach(_.unpersist(blocking = false))
    }
    rddIds.clear()
    cachedFrames.forEach(_.unpersist(blocking = false))
    cachedFrames.clear()
  }

  /** Count of tracked (not-yet-released) session memos and resources —
    * zero right after [[releaseAll]]; layout memos are not counted. */
  def trackedCount: Int = sessionMemos.size + rddIds.size() + cachedFrames.size() +
    broadcasts.size() + functions.size()

  /** `.memoized()` / `.memoCached()` — tracked siblings of
    * `localCheckpoint()` / `cache()`. Every memoization inside graft
    * goes through one of these (HygieneSpec polices raw calls). */
  implicit class MemoOps[T](private val ds: Dataset[T]) extends AnyVal {
    def memoized(): Dataset[T] = register(ds.localCheckpoint())
    def memoCached(): Dataset[T] = registerCached(ds.cache())
  }
}
