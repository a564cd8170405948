package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for expensive shared DataFrames.
  *
  * Several gate queries share the same derived intermediate (the TPC-H
  * property graph, the per-group edge list, the MinHash signature
  * table, the per-group kernel battery). Building each per query is
  * the single biggest source of repeated work in the bench; Spark's
  * cache manager only dedupes when the *analyzed plans* are equal,
  * which breaks for mapGroups lambdas and RDD-backed plans. This memo
  * makes the sharing explicit: one build + persist per
  * (sessionUUID, dir, key), evicted when the application ends.
  *
  * Keys use `spark.sessionUUID` (stable, never reused), not
  * `System.identityHashCode` (which can collide after GC).
  */
object Memo {

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  private val hooked =
    scala.collection.concurrent.TrieMap.empty[(String, String), Boolean]
  // Per-key build locks: TrieMap.getOrElseUpdate is atomic about which
  // VALUE wins, but racing callers each evaluate the by-name argument —
  // for `build.persist()` that means two persisted plans, one of them
  // leaked in the cache manager. Lock objects are cheap to double-create
  // (the map keeps one); the build itself runs under that per-key lock
  // with a double-checked cache read, so it runs exactly once.
  private val locks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  /** Get-or-build a persisted DataFrame shared across queries of one
    * session. `build` runs EXACTLY once per (session, dir, key) even
    * under concurrent first access; the result is `persist()`ed (lazy —
    * first action materializes it). */
  def df(spark: SparkSession, key: String, dir: String)(build: => DataFrame): DataFrame = {
    val uuid = org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark)
    onApplicationEnd(spark, "Memo")(evictSession)
    val k = (uuid, s"$dir#$key")
    cache.get(k).getOrElse {
      val lock = locks.getOrElseUpdate(k, new Object)
      lock.synchronized {
        cache.get(k).getOrElse {
          val built = build.persist()
          cache.put(k, built)
          built
        }
      }
    }
  }

  /** Register `evict(sessionUUID)` to run when the session's
    * application ends — once per (session, owner), so every
    * session-scoped driver cache drops its entries the way this memo
    * does. */
  private[graft] def onApplicationEnd(spark: SparkSession, owner: String)(
      evict: String => Unit): Unit = {
    val uuid = org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark)
    hooked.getOrElseUpdate((uuid, owner), {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          evict(uuid)
          hooked.remove((uuid, owner))
        }
      })
      true
    })
  }

  /** Drop every cached entry belonging to one session (unpersist is
    * best-effort: the session may already be stopped). */
  def evictSession(uuid: String): Unit =
    cache.keys.filter(_._1 == uuid).foreach { k =>
      locks.remove(k)
      cache.remove(k).foreach { d =>
        try d.unpersist(blocking = false) catch { case _: Throwable => () }
      }
    }
}
