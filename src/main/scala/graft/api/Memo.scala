package graft.api

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Registry of memoized executor state CREATED BY THIS LIBRARY, so that
  * [[graft.SparkEntry.releaseMemos]] can free graft's blocks without
  * touching anything the host application persisted on the same
  * SparkContext.
  *
  * Earlier rounds released memory by unpersisting EVERY persistent RDD
  * and clearing the whole CacheManager — correct in the dedicated
  * bench/verify harness, but destructive in a shared session: a host
  * app's own localCheckpoint-backed frames become unrecomputable
  * (lineage already truncated ⇒ missing-block errors on the next
  * action) and its cache()d tables silently lose their
  * materialization. This registry records, at creation time, the RDD
  * ids of every frame graft memoizes via `.memoized()` /
  * `GraftOps.truncate`; release walks ONLY that set. graft never
  * `cache()`s or `persist()`s, so it leaves the CacheManager alone.
  *
  * Id capture reads the `rdd` of the `LogicalRDD` leaf that
  * `localCheckpoint()`/`checkpoint()` returns (via reflection — the
  * accessor is a public case-class field but the class itself is
  * sql-package-scoped). Reliable `checkpoint()` frames register too;
  * unpersisting an RDD that was never block-persisted is a no-op, so
  * the release path is uniform across both truncation modes.
  *
  * Broadcasts and session temp functions graft creates while it builds
  * a plan (the triangle tier's Bloom probe) are tracked the same way:
  * release destroys the broadcast and drops the function.
  *
  * The same object is the ONE registry of values graft memoizes across
  * calls (trained models, shared graph inputs, written layout paths),
  * keyed by (applicationId, dir, tag). Tags are namespaced by module
  * ("graph.pagerank", "io.format") so two modules never share a key.
  * Two lifetimes:
  *  - [[keyed]] entries are dropped by [[releaseAll]], so the next
  *    call pays the real build again;
  *  - [[layout]] entries live for the session: they name on-disk
  *    layouts that are written once per (session, dir) and hold no
  *    block a release could free.
  */
object Memo {
  private final case class Entry(value: Any, sessionLived: Boolean)
  private val entries = scala.collection.concurrent.TrieMap[(String, String, String), Entry]()

  private def lookup[T](spark: SparkSession, dir: String, tag: String,
                        sessionLived: Boolean)(build: => T): T =
    entries.getOrElseUpdate((spark.sparkContext.applicationId, dir, tag),
      Entry(build, sessionLived)).value.asInstanceOf[T]

  /** Memoize `build` per (session, dir, tag) until the next [[releaseAll]]. */
  def keyed[T](spark: SparkSession, dir: String, tag: String)(build: => T): T =
    lookup(spark, dir, tag, sessionLived = false)(build)

  /** Memoize `build` per (session, dir, tag) for the whole session. */
  def layout[T](spark: SparkSession, dir: String, tag: String)(build: => T): T =
    lookup(spark, dir, tag, sessionLived = true)(build)

  private val rddIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

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

  private val broadcasts = java.util.concurrent.ConcurrentHashMap.newKeySet[Broadcast[_]]()
  private val functions =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  /** Record a broadcast graft created; [[releaseAll]] destroys it. */
  def registerBroadcast[T](bc: Broadcast[T]): Broadcast[T] = {
    broadcasts.add(bc)
    bc
  }

  /** Record a temp function graft registered on `spark`; [[releaseAll]]
    * drops it from that session's function registry. */
  def registerFunction(spark: SparkSession, name: String): String = {
    functions.put(name, spark)
    name
  }

  /** Free graft-created memo state ONLY: drop every [[keyed]] entry
    * first (so nothing still references a block about to be freed),
    * then unpersist the tracked checkpoint block RDDs still persistent,
    * drop the tracked temp functions, and destroy the tracked
    * broadcasts. [[layout]] entries, host-app
    * persisted RDDs, cached tables, functions and broadcasts are
    * untouched. */
  def releaseAll(spark: SparkSession): Unit = {
    entries.filterInPlace((_, e) => e.sessionLived)
    val persistent = spark.sparkContext.getPersistentRDDs
    rddIds.forEach { id =>
      persistent.get(id).foreach(_.unpersist(blocking = false))
    }
    rddIds.clear()
    functions.forEach((name, s) =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name)))
    functions.clear()
    broadcasts.forEach(_.destroy())
    broadcasts.clear()
  }

  /** Count of tracked (not-yet-released) memo entries — spec hook. */
  def trackedCount: Int =
    rddIds.size() + broadcasts.size() + functions.size()

  /** `.memoized()` — tracked sibling of `localCheckpoint()`. Every
    * memoization inside graft goes through it or `GraftOps.truncate`
    * (HygieneSpec polices raw calls). */
  implicit class MemoOps[T](private val ds: Dataset[T]) extends AnyVal {
    def memoized(): Dataset[T] = register(ds.localCheckpoint())
  }
}
