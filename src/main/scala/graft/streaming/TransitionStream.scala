package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Stateful streaming transition extractor — the live twin of the
  * batch first-order Markov matrix (`ops/EventAnalytics.transitions`,
  * q120). Batch lags over the whole history; the stream emits each
  * (prev_type → next_type) edge the moment the successor event
  * arrives, so a downstream aggregation (or alerting rule on a
  * never-seen transition) is always current.
  *
  * State per user is the LAST event's type — constant memory
  * regardless of history length, the same cheapest-stateful-operator
  * class as the drawdown monitor's running peak. Events fold through
  * [[OrderedFold]] in (µs, event_id) order — the batch lag's exact
  * order.
  */
object TransitionStream {

  case class Ev(
      user_id: Long,
      ts: Timestamp,
      event_id: Long,
      event_type: String,
      value: Double)

  case class Edge(
      user_id: Long,
      ts: Timestamp,
      prev_type: String,
      next_type: String,
      value: Double)

  /** `lastType` is null before the user's first event. */
  case class TState(lastType: String)

  def transitions(events: Dataset[Ev]): Dataset[Edge] = {
    val spark = events.sparkSession
    import spark.implicits._
    OrderedFold(events.groupByKey(_.user_id), TState(null),
      (e: Ev) => (OrderedFold.micros(e.ts), e.event_id)) { (user, st, e) =>
      (TState(e.event_type),
        Option(st.lastType).map(Edge(user, e.ts, _, e.event_type, e.value)))
    }
  }
}
