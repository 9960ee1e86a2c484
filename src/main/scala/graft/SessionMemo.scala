package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped metadata memo with EXPLICIT eviction — the shared
  * container behind [[Tables.load]] and
  * [[graft.exts.ArtifactStore.readCached]].
  *
  * Why not a WeakHashMap keyed by SparkSession (the r18 shape): the
  * cached values are DataFrames whose `Dataset.sparkSession` field
  * strongly references the key, which is WeakHashMap's documented
  * pitfall — such entries are NEVER collectable, so every closed
  * session pinned its map (up to the per-session bound of resolved
  * plans) for the JVM lifetime (r18 ADVICE, medium). This container
  * keys sessions by `sessionUUID` (a plain String — no reference to
  * the session survives in the key) in a regular ConcurrentHashMap and
  * evicts explicitly:
  *  - a SparkListener registered once per session entry drops that
  *    session's map on application end (sessions die with their
  *    context);
  *  - the per-session map clears past `maxPerSession` entries
  *    (rewrite-churning tests would otherwise accumulate one stale
  *    plan per (table, version));
  *  - the session index itself clears past [[SessionMemo.MaxSessions]]
  *    (a service that churns sessions without ever ending the
  *    application stays bounded; worst case is a re-resolve).
  * Only METADATA (resolved logical plans) lives here — every execution
  * still scans the parquet bytes.
  */
private[graft] final class SessionMemo[V](maxPerSession: Int) {
  private val bySession =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, V]]()

  // A UUID minted on first touch and stored in the session's OWN
  // runtime conf (per-session SQLConf — a newSession() starts fresh and
  // gets its own id; cloneSession() copies conf and intentionally
  // shares the memo space). The key holds no reference to the session,
  // which is the whole point: the cached DataFrames reference their
  // session, so any session-keyed weak structure could never collect.
  private def sessionKey(spark: SparkSession): String =
    SessionMemo.synchronized {
      spark.conf.getOption(SessionMemo.IdConf).getOrElse {
        val id = java.util.UUID.randomUUID().toString
        spark.conf.set(SessionMemo.IdConf, id)
        id
      }
    }

  /** The per-session map, created (with its end-of-application
    * eviction hook) on first touch. */
  def map(spark: SparkSession): ConcurrentHashMap[String, V] = {
    if (bySession.size > SessionMemo.MaxSessions) bySession.clear()
    val k = sessionKey(spark)
    var fresh = false
    val m = bySession.computeIfAbsent(k, _ => {
      fresh = true
      new ConcurrentHashMap[String, V]()
    })
    if (fresh) {
      try spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            e: SparkListenerApplicationEnd): Unit = bySession.remove(k)
      })
      catch { case _: IllegalStateException => bySession.remove(k) }
    }
    if (m.size > maxPerSession) m.clear()
    m
  }

  /** Visit every live session's map (eviction by key prefix). */
  def forEachMap(f: ConcurrentHashMap[String, V] => Unit): Unit =
    bySession.values.forEach(m => f(m))

  /** Test seam / full reset. */
  def clear(): Unit = bySession.clear()

  /** Live session-map count (leak-check instrumentation). */
  private[graft] def sessionCount: Int = bySession.size
}

private[graft] object SessionMemo {
  /** Bound on tracked sessions before the index resets wholesale. */
  val MaxSessions = 64

  /** Runtime-conf key carrying the session's memo id. */
  val IdConf = "spark.graft.session.memo.id"
}
