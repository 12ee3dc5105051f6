package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Dataset

import OrderedFold.utcDay

/** Stateful streaming return-term builder — the live twin of the batch
  * bipower-variation chain in `ops/MarketBars.bipowerJump` (q181).
  *
  * The batch op is two within-day lag chains (close→return,
  * return→previous-return) feeding 12dp-rounded DECIMAL term sums.
  * Both chains are literally sequential, so the stream runs them as
  * state and emits, per surviving bar, the 8dp return `r` plus the
  * EXACT 1e-12-scaled integer terms the batch decimal sums fold:
  * `rr12 = round(r², 12)·1e12` and `bv12 = round(|r|·|r_prev|, 12)
  * ·1e12` (None on each day's first surviving return). A rollup of
  * these longs reproduces the batch (series, day) RV/BV/jump rows
  * bit-for-bit — StreamingSpec asserts exactly that, including the
  * batch's subtlety that a non-positive close drops its own row AND
  * breaks the next row's return, while `r_prev` chains over SURVIVING
  * rows only.
  *
  * Rounding parity: Spark's `round(double, n)` is
  * `BigDecimal.valueOf(x).setScale(n, HALF_UP)`; the state fold calls
  * the same JVM API, so the emitted terms are the batch values, not
  * approximations. State per (series, UTC day): previous close and
  * previous surviving return — constant memory, day-keyed so one hot
  * series spreads across state entries (the TickFlowMonitor class);
  * bars fold through [[OrderedFold]].
  */
object JumpMonitor {

  case class Bar(series: String, ts: Timestamp, close: Double)

  case class Term(
      series: String, d: Date, ts: Timestamp,
      r: Double, rr12: Long, bv12: Option[Long])

  case class St(
      lastClose: Double, hasClose: Boolean,
      lastR: Double, hasR: Boolean)

  /** Spark `round(x, n)` bit-for-bit, emitted as the 1e-n scaled
    * integer (what the batch DECIMAL(28,12) sum carries per term). */
  private def scaled(x: Double, n: Int): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(n, java.math.RoundingMode.HALF_UP)
      .movePointRight(n).longValueExact()

  private def round8(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  def terms(bars: Dataset[Bar]): Dataset[Term] = {
    val spark = bars.sparkSession
    import spark.implicits._
    OrderedFold(bars.groupByKey(b => (b.series, utcDay(b.ts))),
      St(0.0, hasClose = false, 0.0, hasR = false),
      OrderedFold.byTime[Bar](_.ts)) {
      case ((series, day), st, b) =>
        if (st.hasClose && st.lastClose > 0 && b.close > 0) {
          val r = round8(math.log(b.close / st.lastClose))
          val bv = Option.when(st.hasR)(scaled(math.abs(r) * math.abs(st.lastR), 12))
          (St(b.close, hasClose = true, r, hasR = true),
            Some(Term(series, Date.valueOf(day), b.ts, r, scaled(r * r, 12), bv)))
        } else {
          // the bad (or first) close still becomes the next bar's
          // prev_c — only the return chain skips it
          (st.copy(lastClose = b.close, hasClose = true), None)
        }
    }
  }
}
