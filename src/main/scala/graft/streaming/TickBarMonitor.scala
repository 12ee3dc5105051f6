package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Stateful streaming information-bar builder — the live twin of the
  * batch `ops/MarketBars.tickBars` (q158). Information bars are
  * path-dependent (a bar closes when its tick COUNT fills, not when a
  * clock fires), which is exactly what per-key state is for: the
  * monitor counts ticks per series under the same (ts, id) total
  * order as batch — the [[OrderedFold]] key with the tick id as
  * tiebreak — and emits each bar THE MOMENT its `ticksPerBar`-th tick
  * arrives — no watermark needed, because bar boundaries are
  * data-driven, not time-driven. Completed bars equal the batch
  * `n_ticks = ticksPerBar` rows bit-for-bit (StreamingSpec); the
  * in-progress tail bar lives in state, unknowable until filled — the
  * same open-tail contract as StaleRunMonitor.
  *
  * State per series is one fixed-size accumulator (indices, OHLC,
  * span) — constant memory. Original Timestamp objects pass through
  * untouched so the µs payload survives.
  */
object TickBarMonitor {

  case class Tick(series: String, ts: Timestamp, v: Double, id: Long)

  case class TickBar(
      series: String, barId: Long, nTicks: Long,
      startTs: Timestamp, endTs: Timestamp,
      open: Double, high: Double, low: Double, close: Double)

  case class St(
      nextRn: Long, n: Long,
      startTs: Timestamp, endTs: Timestamp,
      open: Double, high: Double, low: Double, close: Double)

  def bars(ticks: Dataset[Tick], ticksPerBar: Int = 50): Dataset[TickBar] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    OrderedFold(ticks.groupByKey(_.series),
      St(0L, 0L, null, null, 0.0, 0.0, 0.0, 0.0),
      (t: Tick) => (OrderedFold.micros(t.ts), t.id)) { (series, st0, t) =>
      val st =
        if (st0.n == 0L)
          st0.copy(n = 1L, startTs = t.ts, endTs = t.ts,
            open = t.v, high = t.v, low = t.v, close = t.v)
        else
          st0.copy(n = st0.n + 1L,
            endTs = t.ts, // ticks fold in (ts, id) order: max = last
            high = math.max(st0.high, t.v),
            low = math.min(st0.low, t.v), close = t.v)
      if (st.n == ticksPerBar.toLong)
        (st.copy(nextRn = st.nextRn + ticksPerBar, n = 0L),
          Some(TickBar(series, st.nextRn / ticksPerBar, st.n,
            st.startTs, st.endTs, st.open, st.high, st.low, st.close)))
      else (st, None)
    }
  }
}
