package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state sessionization via `flatMapGroupsWithState` — session
  * logic `session_window` can't express (per-session attribute
  * accumulation, early emission, custom expiry).
  *
  * State per user: the open session (start/end/count). An event beyond
  * the gap closes and emits the previous session.
  */
object SessionStateOps {

  final case class Ev(user_id: Long, us: Long)
  final case class OpenSession(start: Long, end: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  val gapUs: Long = 30L * 60 * 1000000

  /** The single source of session semantics: fold a batch of events into
    * (closed sessions, still-open session), shared verbatim by the
    * streaming state update and any batch group pass (ScaleDesignSpec's)
    * so the gap/merge rules can't drift apart. */
  def fold(userId: Long, events: Iterable[Ev], initial: Option[OpenSession])
      : (Seq[SessionOut], Option[OpenSession]) = {
    val closed = collection.mutable.ArrayBuffer[SessionOut]()
    var open = initial
    events.toArray.sortBy(_.us).foreach { e =>
      open match {
        case Some(s) if e.us - s.end <= gapUs =>
          open = Some(s.copy(end = e.us, n = s.n + 1))
        case Some(s) =>
          closed += SessionOut(userId, s.start, s.end, s.n)
          open = Some(OpenSession(e.us, e.us, 1))
        case None =>
          open = Some(OpenSession(e.us, e.us, 1))
      }
    }
    (closed.toSeq, open)
  }

  def updateUser(userId: Long, events: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[SessionOut] = {
    val (closed, open) = fold(userId, events.toSeq, state.getOption)
    open.foreach(state.update)
    closed.iterator
  }

  /** Streaming entry: append-mode sessions per user with custom state.
    * No timeout: with a processing-time timeout registered, the engine
    * keeps scheduling micro-batches to fire timers, so a finite drive's
    * `processAllAvailable()` never quiesces (observed: thousands of empty
    * epochs). A user's last session is closed by a later event. */
  def sessionize(spark: SparkSession,
      events: Dataset[Ev]): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(updateUser)
  }
}
