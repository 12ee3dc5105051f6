package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Stateful streaming Bollinger monitor — the live twin of the batch
  * band computation (`ops/MarketBars.bollinger`, q233). Batch scores
  * the whole history at once; the stream emits (mid, upper, lower,
  * %B) per bar so a band-touch alert can fire while the session runs.
  *
  * State per key is the ring of the last `period` scaled-long closes
  * — O(period) memory regardless of history (the window-buffer class,
  * like the z-score monitor, not the two-number drawdown class); bars
  * fold through [[OrderedFold]]. The math is the batch op's verbatim:
  * closes snap to 1e-6 longs, (n, Σx, Σx²) fold in exact integer
  * arithmetic (the longs are small enough that Σx² of a 20-ring fits a
  * long), mean/σ form in the SAME double op order, so stream output is
  * bit-equal to the batch frame — StreamingSpec asserts it.
  */
object BollingerMonitor {

  case class Bar(series: String, ts: Timestamp, close: Double)

  case class Band(
      series: String,
      ts: Timestamp,
      close: Double,
      bbMid: Double,
      bbUpper: Double,
      bbLower: Double,
      pctB: Option[Double])

  case class RingState(ring: Vector[Long])

  def bands(
      bars: Dataset[Bar],
      period: Int = 20,
      k: Double = 2.0): Dataset[Band] = {
    require(period >= 2, s"period must be >= 2 (got $period)")
    val spark = bars.sparkSession
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    OrderedFold(bars.groupByKey(_.series), RingState(Vector.empty),
      OrderedFold.byTime[Bar](_.ts)) { (series, st, b) =>
      val c6 = math.floor(b.close * 1e6 + 0.5).toLong
      val ring = (st.ring :+ c6).takeRight(period)
      val band = Option.when(ring.length == period) {
        val n = period.toDouble
        val s1 = ring.sum.toDouble
        val s2 = ring.map(x => x * x).sum.toDouble
        val mid = s1 / n / 1e6
        val sd = math.sqrt((n * s2 - s1 * s1) / (n * n)) / 1e6
        val pctB = Option.when(sd > 0)(r6((b.close - (mid - k * sd)) / (2.0 * k * sd)))
        Band(series, b.ts, b.close, r6(mid), r6(mid + k * sd), r6(mid - k * sd), pctB)
      }
      (RingState(ring), band)
    }
  }
}
