package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import OrderedFold.micros

/** Live per-user session-depth statistics — the streaming twin of
  * `ops/EventAnalytics.sessionStats` (q180): how deep and how long a
  * user's sessions run, updated the moment new activity arrives
  * instead of in a nightly batch.
  *
  * State per user is seven longs (open-session bounds, closed-session
  * totals) — constant memory keyed by a growing id, the
  * ConversionMonitor class. Events fold through [[OrderedFold]] in
  * (µs, event_id) order; the row emits once per micro-batch, after
  * the fold. Sessions split on the SAME strict `gap >= 30 min` epoch-µs
  * rule as the batch op and its DuckDB oracle; the open session is
  * folded into the emitted totals so the row always equals the batch
  * recomputation over the events seen so far (StreamingSpec locks this
  * across a mid-session micro-batch split).
  */
object SessionStatsMonitor {

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)

  case class Stats(
      user_id: Long,
      n_sessions: Long,
      n_events: Long,
      max_depth: Long,
      mean_depth: Double,
      mean_dur_s: Double)

  case class St(
      closedSessions: Long, closedEvents: Long,
      closedDurUs: Long, closedMaxDepth: Long,
      curStartUs: Long, curLastUs: Long, curDepth: Long)

  def stats(
      events: Dataset[Ev],
      gapMinutes: Int = 30): Dataset[Stats] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[OrderedFold.Slot[St, Long], Stats](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[OrderedFold.Slot[St, Long]]) =>
          val st = OrderedFold.fold(state, rows, St(0L, 0L, 0L, 0L, 0L, 0L, 0L),
            (e: Ev) => (micros(e.ts), e.event_id)) { (st, e) =>
            val t = micros(e.ts)
            if (st.curDepth == 0L) {
              // very first event: open the first session
              st.copy(curStartUs = t, curLastUs = t, curDepth = 1L)
            } else if (t - st.curLastUs >= gapUs) {
              // strict gap rule (q56): close the open session
              St(
                closedSessions = st.closedSessions + 1L,
                closedEvents = st.closedEvents + st.curDepth,
                closedDurUs = st.closedDurUs + (st.curLastUs - st.curStartUs),
                closedMaxDepth = math.max(st.closedMaxDepth, st.curDepth),
                curStartUs = t, curLastUs = t, curDepth = 1L)
            } else {
              st.copy(curLastUs = t, curDepth = st.curDepth + 1L)
            }
          }
          // fold the OPEN session in, matching the batch rollup over
          // everything seen so far; the floor-form means are the exact
          // q180 double op order
          val nSess = st.closedSessions + (if (st.curDepth > 0) 1L else 0L)
          val nEv = st.closedEvents + st.curDepth
          val maxD = math.max(st.closedMaxDepth, st.curDepth)
          val sumDur = st.closedDurUs + (st.curLastUs - st.curStartUs)
          Stats(uid, nSess, nEv, maxD,
            math.floor(nEv.toDouble / nSess.toDouble * 1e6 + 0.5) / 1e6,
            math.floor(sumDur.toDouble / nSess.toDouble + 0.5) / 1e6)
      }
  }
}
