package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Dataset

import OrderedFold.utcDay

/** Stateful streaming on-balance volume — the live twin of the batch
  * accumulation in `ops/MarketBars.obv` (q388). OBV IS a sequential
  * prefix (sign of Δclose × volume, running over the whole history),
  * so the stream runs it literally while batch splits it day-wise
  * over the keys×days prefix; both work on exact scaled longs, so
  * each day's net flow and end-of-day level agree bit-for-bit
  * (StreamingSpec rolls the emitted per-bar flows up to the batch
  * day rows).
  *
  * State per series is two longs (last 1e6-long close, running obv6)
  * — constant memory, the TickFlowMonitor class. Keyed by series
  * ALONE (the level never resets, so there is no day key — per-series
  * state is one tiny entry regardless of history length); bars fold
  * through [[OrderedFold]], whose in-order ingestion contract is what
  * stream == batch needs here. The series' FIRST bar seeds the close
  * and emits nothing — exactly the batch chain's null-lag exclusion.
  */
object ObvMonitor {

  case class Bar(series: String, ts: Timestamp, close: Double, volume: Double)

  case class Flow(
      series: String, d: Date, ts: Timestamp, flow6: Long, obv6: Long)

  case class St(lastC6: Long, obv6: Long)

  def flows(bars: Dataset[Bar]): Dataset[Flow] = {
    val spark = bars.sparkSession
    import spark.implicits._
    OrderedFold(bars.groupByKey(_.series), St(Long.MinValue, 0L),
      OrderedFold.byTime[Bar](_.ts)) { (series, st, b) =>
      val c6 = math.floor(b.close * 1e6 + 0.5).toLong
      if (st.lastC6 == Long.MinValue) (St(c6, st.obv6), None)
      else {
        val v6 = math.floor(b.volume * 1e6 + 0.5).toLong
        val sign =
          if (c6 > st.lastC6) 1L
          else if (c6 < st.lastC6) -1L
          else 0L
        val f = sign * v6
        (St(c6, st.obv6 + f),
          Some(Flow(series, Date.valueOf(utcDay(b.ts)), b.ts, f, st.obv6 + f)))
      }
    }
  }
}
