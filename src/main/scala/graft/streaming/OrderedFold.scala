package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The replay-guarded ordered fold behind the stateful monitors.
  *
  * Per key and micro-batch: load the key's state (or `init`), sort the
  * batch's rows by their `(µs, tiebreak)` key, apply the monitor's step
  * to each row STRICTLY after the last applied key, and store the state
  * together with that key. The key is full-microsecond event time —
  * `Timestamp.getTime` alone is millisecond-truncated and would misorder
  * or drop a second row inside one millisecond — plus a tiebreak that
  * makes it the batch twin's total order (an event id, say); monitors
  * without one pass a constant, so only the first row at a microsecond
  * applies. A replayed micro-batch therefore changes nothing.
  *
  * In-order ingestion: rows may arrive in any order within a
  * micro-batch, but a row arriving in a LATER micro-batch than a
  * successor is dropped by the guard, where the batch twin would
  * include it. Stream == batch holds for feeds that are non-decreasing
  * in event time across micro-batches; front a reordering feed with a
  * watermarked aggregation (BarBuilder). */
object OrderedFold {

  /** What the state store holds per key: the monitor's state and the
    * key of the last row it applied. */
  case class Slot[S, B](st: S, us: Long, tie: B)

  /** Full-microsecond epoch time of `ts`. */
  def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** The UTC calendar day of `ts`, as `yyyy-MM-dd`. */
  def utcDay(ts: Timestamp): String =
    java.time.Instant.ofEpochMilli(ts.getTime)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** The ordering key of a monitor without a tiebreak. */
  def byTime[T](ts: T => Timestamp): T => (Long, Long) =
    t => (micros(ts(t)), 0L)

  /** Fold one key's micro-batch `rows` into `state` through `step`;
    * returns the state after the last applied row. */
  def fold[T, S, B](
      state: GroupState[Slot[S, B]],
      rows: Iterator[T],
      init: S,
      key: T => (Long, B))(step: (S, T) => S)(implicit tie: Ordering[B]): S = {
    val order = Ordering.Tuple2(Ordering.Long, tie)
    var last = state.getOption.map(s => (s.us, s.tie))
    var st = state.getOption.fold(init)(_.st)
    rows.map(r => (key(r), r)).toSeq.sortBy(_._1)(order).foreach {
      case (k, r) =>
        if (last.forall(order.gt(k, _))) {
          st = step(st, r)
          last = Some(k)
        }
    }
    last.foreach { case (us, t) => state.update(Slot(st, us, t)) }
    st
  }

  /** Run the fold over every key of `grouped`; `step` returns the next
    * state and the row to emit, if any. */
  def apply[K, T, S: TypeTag, B: Ordering: TypeTag, U: Encoder](
      grouped: KeyValueGroupedDataset[K, T],
      init: S,
      key: T => (Long, B))(step: (K, S, T) => (S, Option[U])): Dataset[U] =
    grouped.flatMapGroupsWithState[Slot[S, B], U](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (k: K, rows: Iterator[T], state: GroupState[Slot[S, B]]) =>
        val out = Vector.newBuilder[U]
        fold(state, rows, init, key) { (s, r) =>
          val (next, emit) = step(k, s, r)
          out ++= emit
          next
        }
        out.result().iterator
    }(Encoders.product[Slot[S, B]], implicitly[Encoder[U]])
}
