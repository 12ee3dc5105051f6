package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Stateful streaming drawdown monitor — the live twin of the batch
  * running-peak drawdown (`ops/EventAnalytics.drawdown`, q83). Batch
  * reports the deepest drop after the fact; the stream emits the
  * (peak, drawdown) path tick by tick so a risk alarm can fire
  * mid-session.
  *
  * State per key is the running peak — constant memory regardless of
  * history length, which is why a running extremum is the cheapest
  * stateful operator a stream can carry (contrast the z-score
  * monitor's window buffer, [[BarBuilder.rollingZScore]]). Ticks fold
  * through [[OrderedFold]] in microsecond order.
  */
object DrawdownMonitor {

  case class Tick(series: String, ts: Timestamp, value: Double)

  case class DdPoint(
      series: String,
      ts: Timestamp,
      value: Double,
      peak: Double,
      drawdown: Double)

  case class DdState(peak: Double)

  def drawdowns(ticks: Dataset[Tick]): Dataset[DdPoint] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    OrderedFold(ticks.groupByKey(_.series), DdState(Double.NegativeInfinity),
      OrderedFold.byTime[Tick](_.ts)) { (series, st, t) =>
      val peak = math.max(st.peak, t.value)
      (DdState(peak), Some(DdPoint(series, t.ts, t.value, peak, t.value - peak)))
    }
  }
}
