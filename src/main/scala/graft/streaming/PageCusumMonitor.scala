package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Stateful streaming Page-CUSUM drift monitor — the live twin of the
  * batch path (`ops/MarketBars.pageCusumPath`, q146). Page's test IS
  * the sequential algorithm (S := max(0, S + x − μ0 − k), alarm when
  * S > h), so the stream runs the recursion literally while batch
  * replays it through the prefix-sum identity; both hold S as an
  * exact long in 1e-6 units, so stream == batch bit-for-bit
  * (StreamingSpec asserts set equality on alarm bars).
  *
  * State per series is one long (S) — constant memory, the
  * DrawdownMonitor class; bars fold through [[OrderedFold]]. Series
  * without a baseline entry are ignored.
  */
object PageCusumMonitor {

  case class Bar(series: String, ts: Timestamp, close: Double)

  case class Alarm(series: String, ts: Timestamp, s6: Long)

  case class St(s6: Long)

  def alarms(
      bars: Dataset[Bar],
      mu0: Map[String, Double],
      slack: Double,
      h: Double): Dataset[Alarm] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val k6 = math.floor(slack * 1e6 + 0.5).toLong
    val h6 = math.floor(h * 1e6 + 0.5).toLong
    val m6 = mu0.map { case (s, v) => s -> math.floor(v * 1e6 + 0.5).toLong }
    OrderedFold(bars.filter(b => m6.contains(b.series)).groupByKey(_.series),
      St(0L), OrderedFold.byTime[Bar](_.ts)) { (series, st, b) =>
      val x6 = math.floor(b.close * 1e6 + 0.5).toLong
      val s = math.max(0L, st.s6 + (x6 - m6(series) - k6))
      (St(s), Option.when(s > h6)(Alarm(series, b.ts, s)))
    }
  }
}
