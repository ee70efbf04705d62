package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM-scoped keyed build-once store for driver-side values (centroid
  * arrays, grids, codebooks, recall curves) that stay valid across
  * sessions.
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
final class BuildOnce[K, V] {
  private val m = TrieMap.empty[K, V]
  private val locks = TrieMap.empty[K, Object]

  def getOrElseUpdate(key: K)(build: => V): V =
    m.get(key) match {
      case Some(v) => v
      case None =>
        // the lock map keeps ONE object per key however many racers
        // create one, so the winner builds and the rest block then read
        locks.getOrElseUpdate(key, new Object).synchronized(m.getOrElseUpdate(key, build))
    }

  /** Replace the entry unconditionally, returning the previous value. */
  def put(key: K, value: V): Option[V] = m.put(key, value)

  def keys: Iterable[K] = m.keys

  def entries: Seq[(K, V)] = m.toSeq

  /** Drop every entry, and its lock, whose key fails `keep`. */
  def retainKeys(keep: K => Boolean): Unit = {
    m.keys.filterNot(keep).foreach(m.remove)
    locks.keys.filterNot(keep).foreach(locks.remove)
  }
}

/** Session-scoped keyed cache for context-bound values.
  *
  * A persisted DataFrame (or anything holding one — index trees, temp
  * view registrations) is bound to ONE SparkContext/SparkSession:
  * serving a cached value to a later session in the same JVM fails on
  * dead block / stopped-context references. Every such cache therefore
  * keys its entries by applicationId, and entries of a different
  * (dead) application are evicted on first touch by a new session so a
  * long-lived JVM cycling sessions doesn't accrete one value per
  * session. Builds are `BuildOnce`'s: one per key, different keys
  * concurrently.
  *
  * Driver-side sidecars (centroid arrays, grids, codebooks, eigen
  * models) deliberately do NOT use this: plain JVM data survives
  * session cycling, and reusing it across sessions is valid — only
  * context-bound values need app scoping.
  */
final class SessionCache[K, V] {
  private val m = new BuildOnce[(String, K), V]

  /** The session's application id, after evicting other applications' entries. */
  private def liveApp(spark: SparkSession): String = {
    val appId = spark.sparkContext.applicationId
    m.retainKeys(_._1 == appId)
    appId
  }

  def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V =
    m.getOrElseUpdate((liveApp(spark), key))(build)

  /** Replace the entry unconditionally, returning the previous value
    * (so the caller can unpersist it).
    */
  def put(spark: SparkSession, key: K, value: V): Option[V] =
    m.put((liveApp(spark), key), value)

  /** Entry count for the CURRENT application (test observability). */
  def liveSize(spark: SparkSession): Int = {
    val appId = spark.sparkContext.applicationId
    m.keys.count(_._1 == appId)
  }
}

/** The common case: a session-scoped cache of persisted DataFrames. */
final class SessionFrameCache[K] {
  private val c = new SessionCache[K, DataFrame]
  def getOrElseUpdate(spark: SparkSession, key: K)(build: => DataFrame): DataFrame =
    c.getOrElseUpdate(spark, key)(build)
  def put(spark: SparkSession, key: K, value: DataFrame): Option[DataFrame] =
    c.put(spark, key, value)
  def liveSize(spark: SparkSession): Int = c.liveSize(spark)
}
