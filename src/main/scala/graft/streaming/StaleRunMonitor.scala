package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Stateful streaming stale-price monitor — the live twin of the batch
  * gaps-and-islands run profile (`ops/MarketBars.staleRuns`, q136).
  * Batch collapses equal-close islands after the fact; the stream
  * emits each completed run THE MOMENT a differing close breaks it, so
  * a stuck-feed alarm can fire while the feed is still stuck.
  *
  * State per key is one open run — (close, start, end, length) —
  * constant memory regardless of history; bars fold through
  * [[OrderedFold]]. The trailing run stays open in state by design
  * (its length is unknown until something breaks it); batch parity
  * therefore holds over COMPLETED runs, which is exactly what
  * StreamingSpec asserts.
  */
object StaleRunMonitor {

  case class Bar(series: String, ts: Timestamp, close: Double)

  case class Run(
      series: String,
      start_ts: Timestamp,
      end_ts: Timestamp,
      close: Double,
      run_len: Long)

  /** The open run; `runLen` 0 before the series' first bar. */
  case class RunState(
      close: Double,
      startTs: Timestamp,
      endTs: Timestamp,
      runLen: Long)

  def completedRuns(bars: Dataset[Bar]): Dataset[Run] = {
    val spark = bars.sparkSession
    import spark.implicits._
    OrderedFold(bars.groupByKey(_.series), RunState(0.0, null, null, 0L),
      OrderedFold.byTime[Bar](_.ts)) { (series, st, b) =>
      if (st.runLen > 0L && b.close == st.close)
        (st.copy(endTs = b.ts, runLen = st.runLen + 1), None)
      else
        (RunState(b.close, b.ts, b.ts, 1L),
          Option.when(st.runLen > 0L)(
            Run(series, st.startTs, st.endTs, st.close, st.runLen)))
    }
  }
}
