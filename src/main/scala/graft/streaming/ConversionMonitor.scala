package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

import OrderedFold.micros

/** CEP-style streaming funnel conversion — the live twin of
  * `ops/EventAnalytics.conversionLatency` (q176): "first `fromType`
  * per user, then the first `toType` STRICTLY after it" detected the
  * moment the completing event arrives, instead of in a nightly batch.
  * This is the A-followed-by-B pattern primitive every product/alert
  * pipeline needs (signup→purchase, quote→trade, error→recovery).
  *
  * State per user is the first-A timestamp and a converted flag —
  * constant memory, keyed by a growing id, the PageCusumMonitor class.
  * Events fold through [[OrderedFold]] with the event type as
  * tiebreak. Under its in-order ingestion contract a signup arriving
  * LATER in processing time but EARLIER in event time than the
  * recorded first-A is ignored, where the batch recomputation would
  * adopt it; within watermark-ordered delivery — what the
  * StreamingSpec feeds — stream and batch agree exactly.
  */
object ConversionMonitor {

  case class Ev(user_id: Long, ts: Timestamp, event_type: String)

  case class Conversion(
      user_id: Long, a_ts: Timestamp, b_ts: Timestamp, lat_us: Long)

  /** `aTs` is null until the user's first `fromType` event. */
  case class St(aTs: Timestamp, converted: Boolean)

  def conversions(
      events: Dataset[Ev],
      fromType: String,
      toType: String): Dataset[Conversion] = {
    val spark = events.sparkSession
    import spark.implicits._
    OrderedFold(events.groupByKey(_.user_id), St(null, converted = false),
      (e: Ev) => (micros(e.ts), e.event_type)) { (uid, st, e) =>
      if (e.event_type == fromType && st.aTs == null)
        (St(e.ts, converted = false), None)
      else if (e.event_type == toType && st.aTs != null && !st.converted &&
          micros(e.ts) > micros(st.aTs))
        (st.copy(converted = true),
          Some(Conversion(uid, st.aTs, e.ts, micros(e.ts) - micros(st.aTs))))
      else (st, None)
    }
  }
}
