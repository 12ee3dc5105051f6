package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import OrderedFold.micros

/** Stateful streaming twin of the batch trigger-lift pair relation
  * (`ops/EventAnalytics.triggerLift`, q400): per user, every event is
  * an ANCHOR for `windowSeconds`; when a later event of type b lands
  * inside an anchor's window, the monitor emits ONE (anchor_id,
  * anchor_type, b) hit — the first b only, matching the batch
  * relation's DISTINCT (anchor, b) semantics. StreamingSpec rolls the
  * emitted hits up to (a, b) counts and compares them to the batch
  * op's n_hit column bit-for-bit across a mid-window batch split.
  *
  * State per user is the anchors still inside the trailing window,
  * each with the set of b-types already emitted — bounded by the
  * user's event density inside `windowSeconds` × |types|, never the
  * history (anchors prune as soon as the stream passes their window).
  * CHURNED users' state is dropped by an event-time timeout: the
  * input carries a `windowSeconds` watermark and each update arms a
  * timeout at the user's last anchor-window end, so a user who stops
  * producing events holds state only until the global watermark
  * passes their final window — the store is bounded by ACTIVE users,
  * not ever-seen users (the r11 ADVICE.md item).
  *
  * IN-ORDER INGESTION ASSUMPTION (the [[OrderedFold]] contract): rows sort by
  * event time WITHIN a micro-batch, but an event arriving in a later
  * micro-batch than a successor is applied after it — its own anchor
  * window then opens late and already-pruned anchors cannot gain the
  * hit the batch op would count. Exactness holds for feeds that are
  * non-decreasing in event time across micro-batches. */
object TriggerLiftMonitor {

  case class Ev(user_id: Long, event_id: Long, event_type: String, ts: Timestamp)

  case class Hit(aid: Long, a: String, b: String)

  case class Anchor(us: Long, id: Long, tpe: String, emitted: Set[String])

  case class St(anchors: List[Anchor])

  def hits(events: Dataset[Ev], windowSeconds: Int = 60): Dataset[Hit] = {
    val wUs = windowSeconds * 1000000L
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", s"$windowSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Hit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[St]) =>
          if (state.hasTimedOut) {
            // watermark passed the user's last anchor window: no
            // future event can hit these anchors — drop the state
            state.remove()
            Iterator.empty
          } else {
            var anchors = state.getOption.map(_.anchors).getOrElse(Nil)
            val out = Vector.newBuilder[Hit]
            rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
              val us = micros(e.ts)
              // prune anchors the stream has passed
              anchors = anchors.filter(a => us - a.us <= wUs)
              // strict (us, id) position order: an anchor at the same
              // microsecond is a predecessor iff its id is smaller
              anchors = anchors.map { a =>
                val follows = us > a.us || (us == a.us && e.event_id > a.id)
                if (follows && !a.emitted(e.event_type)) {
                  out += Hit(a.id, a.tpe, e.event_type)
                  a.copy(emitted = a.emitted + e.event_type)
                } else a
              }
              anchors = Anchor(us, e.event_id, e.event_type, Set.empty) :: anchors
            }
            state.update(St(anchors))
            if (anchors.nonEmpty) {
              // arm the drop at the last window's end (ms), clamped
              // above the current watermark as the API requires
              val lastEndMs = anchors.map(_.us).max / 1000L +
                windowSeconds * 1000L + 1L
              state.setTimeoutTimestamp(
                math.max(lastEndMs, state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }
}
