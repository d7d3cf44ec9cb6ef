package graft

import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one registry of session-scoped caches: every value an operator or
  * loader builds once per (session, data dir) and then reuses — persisted
  * staging tables, fitted models, corpus counts, reader plans.
  *
  * The registry owns the whole lifecycle:
  *  - a value is built once per (session, dir, key); concurrent callers of
  *    one key wait for the one build, and a failed build leaves no entry;
  *  - [[release(dir:String)* release(dir)]] evicts every entry over a
  *    corpus rewritten under `dir`, in every session;
  *  - [[release(session:org\.apache\.spark\.sql\.SparkSession)* release(session)]]
  *    evicts every entry of a finished session;
  *  - every build first drops the entries whose SparkContext is stopped,
  *    without unpersisting (a stopped context holds no storage), so a
  *    stopped session is not kept reachable from here.
  * Evicting a value unpersists the frames it names as persisted; the next
  * call over the same key rebuilds it.
  *
  * Keys hold the session object itself, compared by identity: an entry is
  * only ever served back to the session that built it.
  */
object SessionCache {

  /** `session` is null for a dir-wide entry every session shares. */
  private final case class Key(session: SparkSession, dir: String, key: Any)

  private final class Slot(val frames: Any => Seq[Dataset[_]]) {
    @volatile private var value: Option[Any] = None
    private var failed = false

    /** The value, built on the first call; None once a build of this slot
      * failed (the slot has then left the map, and the caller looks up
      * again). */
    def get(build: => Any): Option[Any] = value.orElse(synchronized {
      if (value.isEmpty && !failed) {
        try value = Some(build)
        catch { case e: Throwable => failed = true; throw e }
      }
      value
    })

    def unpersist(): Unit = synchronized {
      value.foreach(v => frames(v).foreach(_.unpersist(blocking = false)))
    }
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** The value of `key` over `dir` in session `s`, built once. */
  def apply[V](s: SparkSession, dir: String, key: Any)(build: => V): V =
    lookup(Key(s, dir, key), build, _ => Nil)

  /** As [[apply]], for a value holding persisted frames: `frames` names
    * them, and evicting the value unpersists them. */
  def persisted[V](s: SparkSession, dir: String, key: Any)(build: => V)(
      frames: V => Seq[Dataset[_]]): V =
    lookup(Key(s, dir, key), build, v => frames(v.asInstanceOf[V]))

  /** A value over `dir` shared by every session (metadata such as an
    * inferred schema, bound to no session); only `release(dir)` evicts
    * it. */
  def shared[V](dir: String, key: Any)(build: => V): V =
    lookup(Key(null, dir, key), build, _ => Nil)

  @tailrec
  private def lookup[V](k: Key, build: => V,
      frames: Any => Seq[Dataset[_]]): V = {
    var slot = slots.get(k)
    if (slot == null) {
      dropStopped()
      val fresh = new Slot(frames)
      slot = Option(slots.putIfAbsent(k, fresh)).getOrElse(fresh)
    }
    val got =
      try slot.get(build)
      catch { case e: Throwable => slots.remove(k, slot); throw e }
    got match {
      case Some(v) => v.asInstanceOf[V]
      case None => lookup(k, build, frames)
    }
  }

  private def dropStopped(): Unit =
    slots.keySet.asScala
      .filter(k => k.session != null && k.session.sparkContext.isStopped)
      .foreach(slots.remove)

  private def evict(which: Key => Boolean): Unit =
    slots.keySet.asScala.filter(which).foreach { k =>
      Option(slots.remove(k)).foreach(_.unpersist())
    }

  /** A corpus was rewritten under `dir`: evict every entry over it, in
    * every session. */
  def release(dir: String): Unit = evict(_.dir == dir)

  /** The session is done: evict all of its entries. */
  def release(session: SparkSession): Unit = evict(_.session eq session)

  /** Entries held for `session` now (for lifecycle checks). */
  private[graft] def size(session: SparkSession): Int =
    slots.keySet.asScala.count(_.session eq session)

  private val ids = new java.util.WeakHashMap[SparkSession, Integer]()
  private val next = new java.util.concurrent.atomic.AtomicInteger()

  /** A stable id per session that is never reissued, for the harness
    * maps that key loaded engines on the session (identity hashes recycle
    * after GC, so a key made from one once served a later suite an entry
    * bound to a stopped SparkContext). A harness entry of a finished
    * session is never freed, and a DuckDB or Derby executor in it holds
    * that session, which therefore stays reachable. */
  def id(spark: SparkSession): Int = ids.synchronized {
    var v = ids.get(spark)
    if (v == null) {
      v = Integer.valueOf(next.incrementAndGet())
      ids.put(spark, v)
    }
    v.intValue()
  }
}
