package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Incremental funnel tracking over an event stream — the streaming twin
  * of [[graft.analytics.Funnel]]: each user's state is the prefix of
  * funnel steps completed so far plus the completion times (k longs,
  * independent of stream length), advanced as events arrive.
  *
  * Semantics are AT-ARRIVAL: a user's depth only ever advances, folding
  * each micro-batch's events in event-time order. When per-user arrival
  * order respects event time (the common ingestion case — and what the
  * convergence spec feeds), the final state equals the batch operator's
  * first-completion times exactly. Events for a step the user hasn't
  * reached yet are discarded by the fold, not buffered — so a
  * step-2-before-step-1 arrival inversion resolves only if step 2
  * reoccurs later, the standard trade of O(steps) state vs full history.
  *
  * Output (Update mode): one row per user WITH EVENTS in the micro-batch
  * — an unchanged state re-emits its current row (mapGroupsWithState
  * invokes the function for every active group), so consumers must treat
  * rows as current-state snapshots, not as advancement deltas. State is
  * only PERSISTED once a user matches step 1: users who never enter the
  * funnel leave nothing in the state store, keeping it O(funnel
  * entrants) like the batch operator's per-stage footprint.
  */
object StreamingFunnel {

  final case class FunnelEvent(user_id: Long, event_type: String, us: Long)
  final case class FunnelState(user_id: Long, depth: Int, times: Seq[Long])

  /** `events` must be a streaming Dataset of [[FunnelEvent]] rows. */
  def funnelDepth(events: Dataset[FunnelEvent], steps: Seq[String]): Dataset[FunnelState] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelState](GroupStateTimeout.NoTimeout) {
        case (uid, incoming, state: GroupState[FunnelState]) =>
          var cur = state.getOption.getOrElse(FunnelState(uid, 0, Seq.empty))
          // fold this batch's events in event-time order: greedy
          // first-match on a sorted stream IS the min completion time
          incoming.toSeq.sortBy(e => (e.us, e.event_type)).foreach { e =>
            if (cur.depth < steps.length && e.event_type == steps(cur.depth) &&
                (cur.depth == 0 || e.us > cur.times.last))
              cur = FunnelState(uid, cur.depth + 1, cur.times :+ e.us)
          }
          // never persist depth-0 state: a user who hasn't entered the
          // funnel would otherwise occupy the state store forever
          if (cur.depth > 0 || state.exists) state.update(cur)
          cur
      }
  }
}
