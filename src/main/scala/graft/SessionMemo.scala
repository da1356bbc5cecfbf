package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** A memo of session-scoped values (an index, a resolved relation, a
  * prepared plan), keyed by the session itself and emptied of a session's
  * entries when its context stops. Keys never outlive their session, so a
  * dead context's frame can never be served under a reused hash or RDD id.
  *
  * `max` bounds the entries over all sessions: a put beyond it evicts the
  * least recently used entry and hands its value to `evict`.
  */
final class SessionMemo[K, V](max: Int = Int.MaxValue, evict: V => Unit = (_: V) => ()) {
  private val entries = mutable.LinkedHashMap[(SparkSession, K), V]()
  SessionMemo.register(this)

  /** The entry of `(s, k)`, now the most recently used. */
  def get(s: SparkSession, k: K): Option[V] = synchronized {
    entries.remove((s, k)).map { v => entries.put((s, k), v); v }
  }

  /** Sets `(s, k)` to `v`; a stopped session's entries are not kept. */
  def put(s: SparkSession, k: K, v: V): Unit = if (!s.sparkContext.isStopped) {
    SessionMemo.watch(s.sparkContext)
    val evicted = synchronized {
      entries.remove((s, k))
      entries.put((s, k), v)
      if (entries.size > max) entries.headOption.map { e => entries.remove(e._1); e._2 } else None
    }
    evicted.foreach(evict)
  }

  /** Keeps the entries of session `s` that `p` holds for. */
  def retain(s: SparkSession)(p: (K, V) => Boolean): Unit = synchronized {
    entries.filterInPlace { case ((s2, k), v) => !(s2 eq s) || p(k, v) }
  }

  /** The entries of session `s`. */
  def of(s: SparkSession): Seq[(K, V)] = synchronized {
    entries.iterator.collect { case ((s2, k), v) if s2 eq s => (k, v) }.toSeq
  }

  def size: Int = synchronized(entries.size)

  private def drop(sc: SparkContext): Unit = synchronized {
    entries.filterInPlace { case ((s, _), _) => !(s.sparkContext eq sc) }
  }
}

object SessionMemo {
  private val memos = mutable.ArrayBuffer[SessionMemo[_, _]]()
  private val watched = mutable.Set[SparkContext]()

  private def register(m: SessionMemo[_, _]): Unit = synchronized(memos += m)

  /** Registers, once per context, the one listener that drops every
    * memo's entries of the context's sessions when it stops: `stop`
    * posts the application end and drains the bus before it returns.
    */
  private def watch(sc: SparkContext): Unit = synchronized {
    if (!watched(sc)) {
      watched += sc
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          val all = SessionMemo.synchronized { watched -= sc; memos.toSeq }
          all.foreach(_.drop(sc))
        }
      })
    }
  }
}
