package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Stateful streaming PSI drift monitor — the live twin of the batch
  * population-stability index (`ops/EventAnalytics.psiDrift`, q279).
  * Batch scores a fixed reference-vs-comparison split after the fact;
  * the stream holds the REFERENCE histogram (bin edges + per-bin
  * counts, computed once from the baseline period and passed in) and
  * folds live events into the comparison histogram as they arrive,
  * emitting the running PSI per event so a drift alarm can fire the
  * moment the live distribution walks away from the baseline.
  *
  * State per key is the nBins live-bin count array — O(nBins) memory
  * regardless of history (the two-number drawdown class, not the
  * window-buffer class). Events fold through [[OrderedFold]] with the
  * event id as tiebreak, which keeps same-timestamp events countable
  * (counts, not values, are the state here).
  *
  * The math is the batch op's verbatim: the shared equal-width bin
  * formula over the supplied [mn, mx] edges, Laplace (+1) smoothing
  * over the FULL bin grid including empty bins, each term
  * (pa−pb)·ln(pa/pb) formed in the same double op order and rounded
  * at 12 dp, terms folded EXACTLY (BigDecimal — the batch side's
  * DECIMAL(38,12) sum), PSI rounded at 6. When the reference edges
  * are the batch run's global min/max, the final emission per key is
  * bit-equal to the batch PSI — StreamingSpec asserts it. A live
  * value outside the reference range clamps into the edge bins
  * (greatest(0, least(nBins−1, ·)) — the batch side never sees one
  * by construction, so the clamp is stream-only robustness).
  */
object PsiMonitor {

  case class Event(eventType: String, ts: Timestamp, value: Double, eventId: Long)

  /** Reference histogram for one key: the bin edges and the baseline
    * side's bin counts (index → count; empty bins may be absent). */
  case class Ref(mn: Double, mx: Double, na: Long, bins: Map[Int, Long])

  case class PsiAlert(
      eventType: String,
      ts: Timestamp,
      nb: Long,
      psi: Double,
      drifted: Boolean)

  case class CountState(counts: Vector[Long])

  def monitor(
      events: Dataset[Event],
      ref: Map[String, Ref],
      nBins: Int = 10,
      threshold: Double = 0.2): Dataset[PsiAlert] = {
    require(nBins >= 2, s"nBins must be >= 2 (got $nBins)")
    val spark = events.sparkSession
    import spark.implicits._
    val bRef = spark.sparkContext.broadcast(ref)
    // keys without a baseline have nothing to score
    OrderedFold(
      events.filter(e => bRef.value.contains(e.eventType)).groupByKey(_.eventType),
      CountState(Vector.fill(nBins)(0L)),
      (e: Event) => (OrderedFold.micros(e.ts), e.eventId)) { (eventType, st, e) =>
      val r = bRef.value(eventType)
      val bin =
        if (r.mx > r.mn)
          math.max(0, math.min(nBins - 1,
            math.floor((e.value - r.mn) * nBins.toDouble / (r.mx - r.mn)).toInt))
        else 0
      val counts = st.counts.updated(bin, st.counts(bin) + 1L)
      val nbLive = counts.sum
      // the batch term fold, verbatim: 12dp-rounded terms summed
      // exactly, PSI rounded at 6
      var acc = BigDecimal(0)
      var b = 0
      while (b < nBins) {
        val pa = (r.bins.getOrElse(b, 0L).toDouble + 1.0) /
          (r.na.toDouble + nBins.toDouble)
        val pb = (counts(b).toDouble + 1.0) /
          (nbLive.toDouble + nBins.toDouble)
        acc += BigDecimal((pa - pb) * math.log(pa / pb))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        b += 1
      }
      val psi = BigDecimal(acc.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (CountState(counts), Some(PsiAlert(eventType, e.ts, nbLive, psi, psi > threshold)))
    }
  }
}
