package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store rule for derived state: an entry belongs to a dataset
  * directory `dir` AT ITS DATA VERSION (`Tables.version`) plus the rest
  * of its key. Every access resolves the version, so after an in-place
  * rewrite of any of the dataset's tables the next access misses and
  * rebuilds from the new files. That first miss, in any store, drops
  * the dir's superseded entries and their locks in EVERY store, and
  * unpersists a superseded persisted frame — before the rebuild, whose
  * plan would otherwise find the old frame's cache under the same plan
  * (a role layout persisted by one store is a subplan of the layout
  * another store materializes).
  *
  * Builds run under a PER-KEY lock: racing first-touch callers of the
  * same key share one (multi-job) build, while different keys —
  * different index parameter sets, different datasets — still build
  * concurrently (a single cache-wide lock would serialize Bench's
  * concurrent pass). `TrieMap.getOrElseUpdate` alone is not enough: it
  * evaluates its op in every racing caller and keeps one result, so
  * each racer would run the whole build. Nested builds that consult
  * OTHER stores (radii → centroids, layout → userRoles) take locks in
  * one direction only, so no cycle exists.
  */
sealed abstract class Store[K, V] {
  Store.register(this)

  /** The scope an entry lives in ("" for JVM-wide entries). */
  protected def scope(spark: SparkSession): String

  private type Entry = (String, String, Seq[Long], K) // (scope, dir, version, key)
  private val m = TrieMap.empty[Entry, V]
  private val locks = TrieMap.empty[Entry, Object]

  private def keyOf(spark: SparkSession, dir: String, key: K): Entry =
    (scope(spark), dir, Tables.version(spark, dir), key)

  def getOrElseUpdate(spark: SparkSession, dir: String, key: K)(build: => V): V = {
    val e = keyOf(spark, dir, key)
    m.get(e) match {
      case Some(v) => v
      case None =>
        Store.supersede(spark, e._2, e._3)
        // the lock map keeps ONE object per key however many racers
        // create one, so the winner builds and the rest block then read
        locks.getOrElseUpdate(e, new Object).synchronized(m.getOrElseUpdate(e, build))
    }
  }

  /** Replace the entry unconditionally, releasing the value it replaces. */
  def put(spark: SparkSession, dir: String, key: K, value: V): Unit = {
    val e = keyOf(spark, dir, key)
    Store.supersede(spark, e._2, e._3)
    m.put(e, value).foreach(release)
  }

  /** The entries of `dir` at its current version. */
  def entries(spark: SparkSession, dir: String): Seq[(K, V)] = {
    val (s, v) = (scope(spark), Tables.version(spark, dir))
    m.toSeq.collect { case ((`s`, `dir`, `v`, k), value) => k -> value }
  }

  /** Drop the entries (and locks) of other scopes — a dead application's
    * frames died with its context — and `dir`'s entries of versions
    * other than `version`, whose frames are unpersisted.
    */
  private def supersede(spark: SparkSession, dir: String, version: Seq[Long]): Unit = {
    val s = scope(spark)
    def stale(o: Entry): Boolean = o._1 != s || (o._2 == dir && o._3 != version)
    m.keys.filter(stale).foreach(o => m.remove(o).filter(_ => o._1 == s).foreach(release))
    locks.keys.filter(stale).foreach(locks.remove)
  }

  /** Unpersist a frame value, or the frames a case-class value holds. */
  private def release(v: V): Unit = v match {
    case df: DataFrame => df.unpersist()
    case p: Product => p.productIterator.foreach { case df: DataFrame => df.unpersist(); case _ => }
    case _ =>
  }
}

object Store {
  private val stores = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[Store[_, _], java.lang.Boolean])

  private def register(s: Store[_, _]): Unit = stores.synchronized(stores.add(s))

  /** Every store drops `dir`'s entries of other versions (and its
    * entries of other scopes). */
  private def supersede(spark: SparkSession, dir: String, version: Seq[Long]): Unit =
    stores.synchronized(stores.toArray(Array.empty[Store[_, _]])).foreach(_.supersede(spark, dir, version))
}

/** JVM-wide store for driver-side values (centroid arrays, grids,
  * codebooks, recall curves, policy picks): plain JVM data survives
  * session cycling, so reusing it across sessions is valid.
  */
final class BuildOnce[K, V] extends Store[K, V] {
  protected def scope(spark: SparkSession): String = ""
}

/** Session-scoped store for context-bound values. A persisted DataFrame
  * (or anything holding one — index trees, temp view registrations) is
  * bound to ONE SparkContext/SparkSession: serving a cached value to a
  * later session in the same JVM fails on dead block / stopped-context
  * references. Entries are therefore scoped by applicationId, and a new
  * session's first miss evicts other applications' entries, so a
  * long-lived JVM cycling sessions doesn't accrete one value per session.
  */
final class SessionCache[K, V] extends Store[K, V] {
  protected def scope(spark: SparkSession): String = spark.sparkContext.applicationId
}
