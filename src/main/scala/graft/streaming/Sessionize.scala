package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via KeyValueGroupedDataset.flatMapGroupsWithState
  * (builder brief: Structured Streaming custom state). Sessionizes a
  * per-user event stream by inactivity gap — the stateful companion to
  * the stateless extraction plane (SURVEY ST7 notes the reference has
  * no event-time state; this is our documented extension).
  *
  * The state function also handles processing-time timeouts, so a
  * streaming caller that configures GroupStateTimeout gets state
  * cleanup; [[sessionsOf]] runs it over a bounded Dataset.
  */
object Sessionize {

  final case class Event(userId: Long, tsMs: Long)
  final case class SessionState(startMs: Long, lastMs: Long, n: Int)
  final case class Session(userId: Long, startMs: Long, endMs: Long, nEvents: Int)

  /** Close a session when the gap between consecutive events exceeds
    * `gapMs`. Emits closed sessions; the open session stays in state
    * with a processing-time timeout of `gapMs`, and a timeout firing
    * (idle user, empty batch for this key) closes and emits the open
    * session — without this, idle users' last sessions would never
    * emit and their state would live forever.
    */
  def updateSessions(gapMs: Long)(
      userId: Long, events: Iterator[Event], state: GroupState[SessionState])
      : Iterator[Session] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(s => Session(userId, s.startMs, s.lastMs, s.n))
      state.remove()
      return out.iterator
    }
    val sorted = events.toSeq.sortBy(_.tsMs)
    var cur = state.getOption
    val closed = scala.collection.mutable.ArrayBuffer[Session]()
    sorted.foreach { e =>
      cur match {
        case Some(s) if e.tsMs - s.lastMs <= gapMs =>
          cur = Some(s.copy(lastMs = e.tsMs, n = s.n + 1))
        case Some(s) =>
          closed += Session(userId, s.startMs, s.lastMs, s.n)
          cur = Some(SessionState(e.tsMs, e.tsMs, 1))
        case None =>
          cur = Some(SessionState(e.tsMs, e.tsMs, 1))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // timeout registration is only legal under a configured
      // GroupStateTimeout (a streaming caller); the bounded entry runs
      // with NoTimeout where this throws — ignored there
      try state.setTimeoutDuration(gapMs) catch {
        case _: UnsupportedOperationException => case _: IllegalStateException =>
      }
    }
    closed.iterator
  }

  /** Batch/testing entry: run the same state function over a bounded
    * Dataset, then flush the still-open sessions.
    */
  def sessionsOf(spark: SparkSession, ds: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import spark.implicits._
    ds.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (k: Long, it: Iterator[Event], st: GroupState[SessionState]) => {
          // bounded variant: close everything at end-of-group
          val closed = updateSessions(gapMs)(k, it, st).toSeq
          val tail = st.getOption.map(s => Session(k, s.startMs, s.lastMs, s.n))
          st.remove()
          (closed ++ tail).iterator
        })
  }
}
