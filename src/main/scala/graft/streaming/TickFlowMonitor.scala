package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Dataset

import OrderedFold.utcDay

/** Stateful streaming tick-rule signer — the live twin of the batch
  * sign chain inside `ops/MarketBars.tickRuleFlow`/`kyleLambda`
  * (q152/q159). The tick test IS sequential (sign of Δclose, zeros
  * inherit the last non-zero sign, reset at the day boundary), so the
  * stream runs it literally while batch replays it through the
  * `last(_, ignoreNulls)` window; both work on exact scaled-long
  * closes, so the per-bar signs — and any rollup of them — agree
  * bit-for-bit (StreamingSpec aggregates the emitted signs to the
  * batch daily flow rows).
  *
  * State per (series, UTC day) is the last close and the last sign —
  * constant memory, the PageCusumMonitor class; bars fold through
  * [[OrderedFold]]. Keying by (series, day) gives the day-boundary
  * reset for free AND keeps one hot series spread across day-keyed
  * state entries at scale.
  */
object TickFlowMonitor {

  case class Bar(series: String, ts: Timestamp, close: Double, nTicks: Long)

  case class Signed(
      series: String, d: Date, ts: Timestamp, tickSign: Int, nTicks: Long)

  case class St(lastC6: Long, lastSign: Int)

  def signs(bars: Dataset[Bar]): Dataset[Signed] = {
    val spark = bars.sparkSession
    import spark.implicits._
    OrderedFold(bars.groupByKey(b => (b.series, utcDay(b.ts))),
      St(Long.MinValue, 0), OrderedFold.byTime[Bar](_.ts)) {
      case ((series, day), st, b) =>
        val c6 = math.floor(b.close * 1e6 + 0.5).toLong
        val sign =
          if (st.lastC6 == Long.MinValue) 0 // day's first bar: no Δ
          else if (c6 > st.lastC6) 1
          else if (c6 < st.lastC6) -1
          else st.lastSign // flat: carry last non-zero
        (St(c6, sign), Some(Signed(series, Date.valueOf(day), b.ts, sign, b.nTicks)))
    }
  }
}
