package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** Tick → fixed-interval OHLCV bar aggregation.
  *
  * The reference ingests pre-built 5-minute bars from a vendor API
  * (`project/ingest_data.py:45-52`); our engine can additionally *build*
  * bars from a raw event/tick stream — the same operation the
  * Structured-Streaming extension performs incrementally
  * (graft.streaming.BarBuilder).
  *
  * Scale notes: one `groupBy(series, bucket)` → one aggregation with
  * map-side partial aggregation; no window functions, no per-series
  * single-partition skew. Open/close come from [[firstBy]]/[[lastBy]]
  * (`min`/`max` over `struct(ts, value)`) in the same pass, no
  * self-join; a struct aggregate buffer is not hash-aggregatable, so
  * Spark plans the pass as a `SortAggregate` (a sort on each side of
  * the exchange). NOT `min_by`/`max_by`, whose tie-break on duplicate
  * timestamps is nondeterministic across partial-aggregation orders;
  * the struct form totally orders ties by value, making batch bars,
  * streaming bars (graft.streaming.BarBuilder calls the same
  * helpers), and the DuckDB oracle agree bit-for-bit.
  */
object MarketBars {

  val FiveMinutesMicros: Long = 5L * 60 * 1000 * 1000

  /** Floor a TimestampType column to an interval bucket, in microsecond
    * epoch arithmetic (deterministic, codegen-friendly, and identical
    * semantics to the DuckDB oracle's `epoch_us(ts)//step*step`). */
  def timeBucket(ts: Column, stepMicros: Long): Column =
    timestamp_micros((unix_micros(ts).cast("long") / stepMicros).cast("long") * stepMicros)

  /** Aggregate ticks into fixed-interval OHLCV bars.
    *
    * @param df        tick rows
    * @param seriesCol series key (e.g. event_type / symbol)
    * @param tsCol     TimestampType event time
    * @param valueCol  tick price/value (double)
    */
  def bars(
      df: DataFrame,
      seriesCol: String,
      tsCol: String,
      valueCol: String,
      stepMicros: Long = FiveMinutesMicros): DataFrame = {
    df.groupBy(
        col(seriesCol).as("series"),
        timeBucket(col(tsCol), stepMicros).as("bar_ts"))
      .agg(
        firstBy(col(tsCol), col(valueCol)).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        lastBy(col(tsCol), col(valueCol)).as("close"),
        count(lit(1)).as("n_ticks"),
        // exact decimal accumulation → stable double, independent of
        // partial-aggregation order (double-sum order varies at scale)
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("volume"))
  }

  val OneHourMicros: Long = 60L * 60 * 1000 * 1000

  /** Hard cap for the |days|²-per-series daily pair families
    * ([[theilSen]], [[mannKendall]], [[sampleEntropy]]): 8000 days
    * (a ~30-year daily calendar) plans ≤ 3.2e7 pairs per series.
    * Beyond it the guard REFUSES rather than planning a 10⁸⁺-row
    * self-join one series at a time. The escapes are the literature's
    * own: sample the pair set (Theil–Sen on a random pair subsample
    * is the standard large-n variant), bucket the value spectrum
    * (Mann–Kendall S from the rank histogram), or window SampEn. */
  val MaxPairDays: Long = 8000L

  /** Counts the densest series' day count and refuses past
    * [[MaxPairDays]]; returns the (lazily checkpointed) relation so
    * the count job's materialization is reused by the pair legs. */
  private def requireDayHorizon(
      daily0: DataFrame, op: String, escape: String): DataFrame = {
    // multi-action: the head() sizing job and the op's own plan both
    // read it
    val daily = daily0.localCheckpoint(eager = false)
    val head = daily.groupBy(col("series")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    val maxDays = if (head.isNullAt(0)) 0L else head.getLong(0)
    require(maxDays <= MaxPairDays,
      s"$op: $maxDays days in one series exceeds MaxPairDays=" +
        s"$MaxPairDays — the per-series pair set would hold ~" +
        s"${maxDays * maxDays / 2} rows; $escape")
    daily
  }

  /** Re-aggregate fine bars into coarser bars (5-min → 1-h etc.) —
    * the bar-hierarchy rollup that lets every coarser granularity
    * derive from the bar store instead of rescanning raw ticks.
    * Same one-shuffle OHLCV shape as [[bars]]; open/close pick by
    * [[firstBy]]/[[lastBy]] over the (unique within a bucket) fine
    * bar_ts, so the pick is deterministic; volumes/counts re-sum
    * exactly (decimal in, decimal rollup). */
  def resample(bars: DataFrame, stepMicros: Long): DataFrame =
    bars.groupBy(
        col("series"),
        timeBucket(col("bar_ts"), stepMicros).as("bar_ts"))
      .agg(
        firstBy(col("bar_ts"), col("open")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        lastBy(col("bar_ts"), col("close")).as("close"),
        sum(col("n_ticks")).as("n_ticks"),
        sum(col("volume").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("volume"))

  /** Per-(series, day) VWAP + TWAP over OHLCV bars: price = bar close,
    * size = bar tick count. Each bar's price×size product is ONE
    * double multiply (correctly rounded, engine-identical), then sums
    * accumulate in DECIMAL so the result is independent of
    * partial-aggregation order — the [[bars]] volume rule applied to a
    * weighted mean. One map-side-partial hash aggregate; the (series,
    * day) key grows with data, so no hot keys at scale. */
  def vwap(bars: DataFrame): DataFrame =
    bars.groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(
        count(lit(1)).as("n_bars"),
        sum(col("n_ticks")).as("n_ticks"),
        sum((col("close") * col("n_ticks").cast(DoubleType))
          .cast(DecimalType(28, 12))).as("pv"),
        sum(col("close").cast(DecimalType(28, 12))).as("pc"))
      .select(col("series"), col("d"), col("n_bars"), col("n_ticks"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("pv"), 12),
          col("n_ticks") * lit(1000000000000L), 6).as("vwap"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("pc"), 12),
          col("n_bars") * lit(1000000000000L), 6).as("twap"))

  /** Roll (1984) effective-spread estimator per (series, day):
    * s = 2·√(−cov(Δp_t, Δp_{t−1})) over consecutive bar-close changes,
    * 0 when the serial covariance is non-negative (no bid-ask bounce
    * signal). The day partitions the lag chain, so day boundaries
    * reset cleanly and the (series, day) key grows with data — no hot
    * keys at scale (q100's layout).
    *
    * Determinism: Δ products form in DOUBLE then sum in DECIMAL (q85's
    * covariance rule); the sample-covariance division and sqrt happen
    * once per (series, day) at emission, rounded 6dp. */
  def rollSpread(bars: DataFrame): DataFrame = {
    val dayW = Window.partitionBy(col("series"), col("d")).orderBy(col("bar_ts"))
    val withD = bars
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("dp", col("close") - lag(col("close"), 1).over(dayW))
      .withColumn("dp1", lag(col("dp"), 1).over(dayW))
      .filter(col("dp").isNotNull && col("dp1").isNotNull)
    // per-row terms round to 12dp then DECIMAL-sum (partial-agg-order
    // proof); the covariance forms in DOUBLE from the exact sums —
    // one identical expression in both engines
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast(DecimalType(28, 12)))
    val agg0 = withD.groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_pairs"),
        dsum(col("dp")).as("sx"),
        dsum(col("dp1")).as("sy"),
        dsum(col("dp") * col("dp1")).as("sxy"))
      .filter(col("n_pairs") >= 2)
    val cov =
      (col("n_pairs").cast(DoubleType) * col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
        (col("n_pairs") * (col("n_pairs") - 1)).cast(DoubleType)
    agg0.select(col("series"), col("d"), col("n_pairs"),
      round(cov, 6).as("serial_cov"),
      round(when(cov < 0, lit(2.0) * sqrt(-cov)).otherwise(0.0), 6)
        .as("roll_spread"))
  }

  /** Candlestick pattern screen over OHLC bars — the standard shape
    * taxonomy (engulfing / doji / marubozu / hammer / shooting star)
    * as one deterministic CASE cascade. Every rule is a comparison of
    * double expressions computed identically in both engines (body,
    * range, wicks, previous-bar body via one lag), so the label is
    * hash-exact; rule order is most-specific-first and a bar gets
    * exactly one label ('none' when nothing fires). The previous-bar
    * fields attach via [[ScalableWindow.withPrevValues]] — (series,
    * day) task granularity, never a series' whole history. */
  def candlePatterns(bars: DataFrame): DataFrame = {
    val body = abs(col("close") - col("open"))
    val rng = col("high") - col("low")
    val upper = col("high") - greatest(col("open"), col("close"))
    val lower = least(col("open"), col("close")) - col("low")
    ScalableWindow.withPrevValues(bars, Seq("series"), Seq("bar_ts"),
        Seq(("open", "prev_open"), ("close", "prev_close")))
      .select(col("series"), col("bar_ts"),
        col("open"), col("high"), col("low"), col("close"),
        when(col("prev_close").isNotNull &&
          col("close") > col("open") && col("prev_close") < col("prev_open") &&
          col("close") >= col("prev_open") && col("open") <= col("prev_close"),
          "bull_engulf")
        .when(col("prev_close").isNotNull &&
          col("close") < col("open") && col("prev_close") > col("prev_open") &&
          col("close") <= col("prev_open") && col("open") >= col("prev_close"),
          "bear_engulf")
        .when(body <= lit(0.1) * rng, "doji")
        .when(body >= lit(0.95) * rng, "marubozu")
        .when(lower >= lit(2.0) * body && upper <= body, "hammer")
        .when(upper >= lit(2.0) * body && lower <= body, "shooting_star")
        .otherwise("none").as("pattern"))
  }

  /** Amihud (2002) daily illiquidity per series: mean of
    * 1e6·|bar return| / bar volume within each (series, day) — the
    * workhorse price-impact proxy. Returns chain within the day only
    * (no overnight gap, the q111 rule); per-bar terms round 12dp then
    * DECIMAL-sum so the daily mean is partial-agg-order-proof;
    * zero/negative-volume bars and the day's first bar are excluded.
    *
    * The 1e6 scale is applied BEFORE the 12dp term rounding: the two
    * engines' `round(double, 12)` can disagree by one 1e-12 unit on
    * arbitrary doubles, and scaling afterwards would amplify that to
    * the output's own 6dp resolution (caught by the sf0.001 gate —
    * one flipped last digit). Scaled first, per-term disagreement
    * stays at 1e-12 in OUTPUT units and the 6dp mean is stable. */
  def amihudIlliquidity(bars: DataFrame): DataFrame = {
    val dayW = Window.partitionBy(col("series"), col("d")).orderBy(col("bar_ts"))
    val withRet = bars
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("prev_close", lag(col("close"), 1).over(dayW))
      .filter(col("prev_close").isNotNull && col("prev_close") =!= 0.0 &&
        col("volume") > 0)
      .withColumn("term",
        lit(1e6) * abs(col("close") / col("prev_close") - 1) / col("volume"))
    withRet.groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_rets"),
        sum(round(col("term"), 12).cast(DecimalType(28, 12))).as("s"))
      .select(col("series"), col("d"), col("n_rets"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("s"), 12),
          col("n_rets") * lit(1000000000000L), 6).as("amihud"))
  }

  /** Trailing exponentially-weighted moving average of bar closes:
    * weight 2^-lag over a finite `window`-row frame (alpha = 1/2 —
    * halving is EXACT in doubles, so no pow() rounding anywhere).
    *
    * Both engines materialize the frame as a list in frame-row order
    * (oldest first) and fold it SEQUENTIALLY with the EWMA recurrence
    * `s' = s/2 + x` (Spark `aggregate`, DuckDB `list_reduce`) — the
    * identical op sequence on identical values, so numerator and
    * denominator are bit-identical without decimal help. One
    * per-series trailing frame. */
  def ewma(bars: DataFrame, window: Int = 20): DataFrame = {
    require(window >= 1, s"window must be >= 1 (got $window)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
      .rowsBetween(-(window - 1), 0)
    bars
      .withColumn("cs", collect_list(col("close")).over(w))
      .withColumn("n", size(col("cs")))
      // fold oldest->newest: after the last step each element x at lag
      // L has been halved L times, i.e. carries weight 2^-L
      .withColumn("num",
        aggregate(col("cs"), lit(0.0), (s, x) => s / 2.0 + x))
      .withColumn("den",
        aggregate(col("cs"), lit(0.0), (s, _) => s / 2.0 + 1.0))
      .select(col("series"), col("bar_ts"), col("close"), col("n"),
        round(col("num") / col("den"), 6).as("ewma"))
  }

  /** Cutler's RSI: 100·G/(G+L) where G/L are the trailing `period`-bar
    * sums of positive/negative close-to-close changes, per series.
    * (Cutler's SMA form, not Wilder's recursive EMA — the SMA variant
    * is a pure sliding-window aggregate, so it stays in one window
    * pass instead of an unbounded recurrence.)
    *
    * Determinism (the q90 rule — no library round() in the chain):
    * each Δclose becomes an exact scaled long via floor(Δ·1e6 + 0.5)
    * (identical IEEE op sequence in both engines), the gain/loss
    * window sums fold in pure long arithmetic, and the final quotient
    * floors at 6dp. Warm-up rows (< period observed changes) emit a
    * null RSI; a flat window (G+L = 0) emits the 50.0 midpoint.
    *
    * Scale: one per-series trailing frame. */
  def rsi(bars: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 1, s"period must be >= 1 (got $period)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(period - 1), 0)
    val q = lit(100.0) * col("g").cast(DoubleType) /
      (col("g") + col("l")).cast(DoubleType)
    bars
      .withColumn("d6",
        floor((col("close") - lag(col("close"), 1).over(w)) * lit(1e6) +
          lit(0.5)).cast("long"))
      .withColumn("nd",
        sum(when(col("d6").isNotNull, 1L).otherwise(0L)).over(frame))
      .withColumn("g",
        sum(when(col("d6") > 0, col("d6")).otherwise(0L)).over(frame))
      .withColumn("l",
        sum(when(col("d6") < 0, -col("d6")).otherwise(0L)).over(frame))
      .select(col("series"), col("bar_ts"), col("close"),
        when(col("nd") === period,
          when(col("g") + col("l") > 0,
            floor(q * lit(1e6) + lit(0.5)) / lit(1e6))
            .otherwise(lit(50.0)))
          .as("rsi"))
  }


  /** Lo–MacKinlay variance-ratio diagnostic VR(k) per series: the
    * variance of overlapping k-bar log returns over k times the 1-bar
    * return variance. VR ≈ 1 under a random walk; > 1 flags momentum,
    * < 1 mean reversion — the standard microstructure test next to
    * the Roll estimator (q111) and Amihud (q127).
    *
    * Determinism (the q90 rule): each 1-bar ln return becomes an
    * exact scaled long via floor(r·1e8 + 0.5) (ln is bit-identical in
    * both engines — the q92 precedent), k-bar returns are exact long
    * window sums of those, and both population variances form from
    * DECIMAL-exact (n, Σx, Σx²) in ONE explicit double op order
    * shared with the oracle. The ratio rounds 6dp at the end.
    *
    * Scale: one per-series window pass feeding one map-side-combined
    * per-series aggregate — output is |series| rows. */
  def varianceRatio(bars: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    // the validity filter between the lag and the k-frame DROPS rows,
    // so frame positions count FILTERED rows (ScalableWindow.laggedScope)
    val wk = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts")).rowsBetween(-(k - 1), 0)
    ScalableWindow.laggedScope(bars, Seq("series"), Seq("bar_ts"),
        "close", "prev_c",
        col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0)
      .select(col("series"), col("bar_ts"),
        logRet8(col("close"), col("prev_c")).as("r8"))
      .withColumn("nk", count(lit(1)).over(wk))
      .withColumn("rk", sum(col("r8")).over(wk))
      .groupBy(col("series"))
      .agg(
        count(lit(1)).as("n_rets"),
        sum(col("r8").cast(dec)).as("s1"),
        sum((col("r8") * col("r8")).cast(dec)).as("q1"),
        sum(when(col("nk") === k, 1L).otherwise(0L)).as("n_k"),
        sum(when(col("nk") === k, col("rk")).cast(dec)).as("sk"),
        sum(when(col("nk") === k, col("rk") * col("rk")).cast(dec)).as("qk"))
      .withColumn("var1", when(col("n_rets") > 0,
        (dbl(col("q1")) - dbl(col("s1")) * dbl(col("s1")) / dbl(col("n_rets"))) /
          dbl(col("n_rets"))))
      .withColumn("vark", when(col("n_k") > 0,
        (dbl(col("qk")) - dbl(col("sk")) * dbl(col("sk")) / dbl(col("n_k"))) /
          dbl(col("n_k"))))
      .select(col("series"), col("n_rets"), col("n_k"),
        when(col("var1") > 0 && col("vark").isNotNull,
          round(col("vark") / (col("var1") * lit(k.toDouble)), 6)).as("vr"))
  }

  /** CUSUM change-point detection per series: the bar index/timestamp
    * maximizing |Σ_{j≤i} (x_j − x̄)| — the classic "WHERE did the
    * level shift" estimator next to q142's KS "DID the distribution
    * shift". A series with no shift has a small, wandering CUSUM; a
    * mean step makes |C| peak exactly at the step.
    *
    * Exactness: closes become scaled longs x6 = floor(x·1e6 + 0.5);
    * the rational C_i = Σx6_j − i·(Σx6)/n is cleared of its
    * denominator as C'_i = n·P_i − i·S (P = running prefix sum, all
    * DECIMAL-exact), so the argmax compares exact integers — no
    * running double fold anywhere. The reported magnitude divides
    * once at emission (C'/n scaled back), floored 6dp. Ties on
    * |C'| break to the earliest bar — total order in both engines.
    *
    * Scale: one per-series window pass (prefix sum, row_number and
    * totals) and a 1-row-per-series argmax aggregate. */
  def cusum(bars: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    // The argmax runs as max_by inside the per-series aggregate (the
    // q188 argmax-in-aggregate rule), so no per-key rank sort remains.
    val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy(col("series"))
    bars
      .select(col("series"), col("bar_ts"),
        floor(col("close") * lit(1e6) + lit(0.5)).cast("long").as("x6"))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("x6")).over(run))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("s", sum(col("x6")).over(all))
      .withColumn("absc",
        abs(col("n").cast(dec) * col("p").cast(dec) -
          col("i").cast(dec) * col("s").cast(dec)))
      .groupBy(col("series"))
      .agg(max(col("n")).as("n_bars"),
        max_by(struct(col("bar_ts").as("cp_ts"), col("i").as("cp_idx"),
            col("absc")),
          struct(col("absc"), lit(0L) - unix_micros(col("bar_ts"))))
          .as("b"))
      .select(col("series"), col("n_bars"),
        col("b.cp_ts").as("cp_ts"), col("b.cp_idx").as("cp_idx"),
        (floor(dbl(col("b.absc")) / dbl(col("n_bars")) / lit(1e6) *
          lit(1e6) + lit(0.5)) / lit(1e6)).as("cusum_max"))
  }

  /** Page CUSUM alarm path per series: S_i = max(0, S_{i−1} + (x_i −
    * μ0 − k)) — the sequential drift detector (Page 1954) that q144's
    * offline argmax cannot give you LIVE; this batch form is the
    * replayable twin of `streaming/PageCusumMonitor` (bit-identical,
    * tested). The recursion is window-expressible via the prefix-sum
    * identity S_i = P_i − min(0, min_{j≤i} P_j), so no sequential
    * fold: one window pass computes the whole path.
    *
    * Exactness: closes and the per-series baseline μ0 floor to scaled
    * longs, d6 = x6 − m6 − k6 is exact, prefix sums and running mins
    * fold in pure long arithmetic — S is an exact integer in 1e-6
    * units in BOTH engines and in the stream.
    *
    * `baseline` carries (series, mu0); at scale it is a per-key
    * relation orders of magnitude below the bar store (broadcast).
    * The path is one per-series running window. */
  def pageCusumPath(
      bars: DataFrame, baseline: DataFrame, slack: Double): DataFrame = {
    val k6 = math.floor(slack * 1e6 + 0.5).toLong
    // S_i = P_i − min(0, min_{j≤i} P_j): a running sum and a running
    // min over it, both exact integers
    val run = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bars.join(broadcast(baseline), "series")
      .select(col("series"), col("bar_ts"),
        (floor(col("close") * lit(1e6) + lit(0.5)).cast("long") -
          floor(col("mu0") * lit(1e6) + lit(0.5)).cast("long") -
          lit(k6)).as("d6"))
      .withColumn("p", sum(col("d6")).over(run))
      .withColumn("m", least(min(col("p")).over(run), lit(0L)))
      .select(col("series"), col("bar_ts"), (col("p") - col("m")).as("s6"))
  }

  /** Per-series Page-CUSUM alarm profile over [[pageCusumPath]]:
    * alarm bars are those with S > h; reports the alarm count, the
    * first alarm timestamp, and the path maximum in value units
    * (floor-form 6dp from the exact integer S). */
  def pageCusum(
      bars: DataFrame,
      baseline: DataFrame,
      slack: Double,
      h: Double): DataFrame = {
    val h6 = math.floor(h * 1e6 + 0.5).toLong
    pageCusumPath(bars, baseline, slack)
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_bars"),
        sum(when(col("s6") > h6, 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("s6") > h6, col("bar_ts"))).as("first_alarm_ts"),
        max(col("s6")).as("smax6"))
      .select(col("series"), col("n_bars"), col("n_alarms"),
        col("first_alarm_ts"),
        (floor(col("smax6").cast(DoubleType) / lit(1e6) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("s_max"))
  }

  /** Per-series performance tearsheet over daily closes: annualized
    * log return, annualized volatility, Sharpe ratio, and maximum
    * drawdown — the four headline numbers of a strategy/asset report,
    * in ONE window pass + ONE aggregate.
    *
    * Daily close = [[dayClose]] (the day's last bar; the bars-CTE tie
    * rule, not max_by). Determinism: daily ln returns become exact
    * scaled longs ([[logRet8]], the q90 rule), mean/variance
    * form from DECIMAL-exact sums in one shared double op order;
    * drawdown = close/running-max − 1 floors at 6dp BEFORE the min,
    * so the aggregate folds exact values. Zero-variance series emit
    * null Sharpe; non-positive closes are excluded from returns and
    * drawdown (ln/divide guards), matching the q92 rule.
    *
    * Scale: the daily rollup shuffles on (series, day) — a growing
    * key; the per-series day window is tiny (days, not ticks). */
  def tearsheet(bars: DataFrame, periodsPerYear: Double = 252.0): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val wrm = w.rowsBetween(Window.unboundedPreceding, 0)
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    val ppy = lit(periodsPerYear)
    dayClose(bars)
      .withColumn("prev_c", lag(col("close"), 1).over(w))
      .withColumn("r8",
        when(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0,
          logRet8(col("close"), col("prev_c"))))
      .withColumn("runmax", max(col("close")).over(wrm))
      .withColumn("dd", when(col("runmax") > 0,
        floor((col("close") / col("runmax") - lit(1.0)) * lit(1e6) + lit(0.5)) /
          lit(1e6)))
      .groupBy(col("series"))
      .agg(
        count(lit(1)).as("n_days"),
        count(col("r8")).as("n_rets"),
        sum(col("r8").cast(dec)).as("s1"),
        sum((col("r8") * col("r8")).cast(dec)).as("q1"),
        min(col("dd")).as("max_drawdown"))
      .withColumn("mu",
        when(col("n_rets") > 0, dbl(col("s1")) / dbl(col("n_rets"))))
      .withColumn("varp", when(col("n_rets") > 0,
        (dbl(col("q1")) - dbl(col("s1")) * dbl(col("s1")) / dbl(col("n_rets"))) /
          dbl(col("n_rets"))))
      .select(col("series"), col("n_days"), col("n_rets"),
        // mu*ppy/1e8 = s1*ppy/(n*1e8): ppy is an integral double
        // literal, so the finish is one exact integer rational
        when(col("mu").isNotNull,
          ExactRound.ratioRound(
            col("s1") * lit(periodsPerYear.toLong),
            col("n_rets") * lit(100000000L), 6)).as("ann_return"),
        when(col("varp").isNotNull,
          round(sqrt(col("varp") * ppy) / lit(1e8), 6)).as("ann_vol"),
        when(col("varp") > 0,
          round(col("mu") * ppy / sqrt(col("varp") * ppy), 6)).as("sharpe"),
        col("max_drawdown"))
  }

  /** Return-autocorrelation function per series: Pearson r between the
    * 1-bar close change and its k-bar lag, for k = 1..maxLag — the
    * serial-dependence profile behind the variance-ratio headline
    * (q139 says IF returns mean-revert; the ACF says at WHICH lag).
    *
    * Determinism (the q90/q122 rule): Δcloses become exact scaled
    * longs, ALL maxLag lag columns come out of ONE window sort, the
    * (x, y-at-lag-k) pairs stack into rows, and each (series, k) cell
    * folds DECIMAL-exact (n, Σx, Σy, Σxy, Σx², Σy²) finished in the
    * q122 double op order. Cells with a degenerate variance emit null.
    *
    * Scale: one per-series window pass + one map-side-combined
    * aggregate on (series, k) — output is |series|·maxLag rows. */
  def acf(bars: DataFrame, maxLag: Int = 5): DataFrame =
    acfBase(bars, maxLag, useAbs = false)

  /** Shared ACF machinery: Pearson r of the (optionally absolute)
    * scaled Δclose against its k-bar lag — |Δ| keeps the longs linear
    * so every product stays exact, and its autocorrelation is the
    * Taylor-effect volatility-clustering measure [[archLjungBox]]
    * formalizes. */
  private def acfBase(
      bars: DataFrame, maxLag: Int, useAbs: Boolean): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    // d6 is null ONLY at a series head (no mid-stream drops), so the
    // filtered relation keeps row positions and every stacked lag
    // equals the lag over all bars
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    val rawD6 = floor((col("close") - lag(col("close"), 1).over(w)) *
      lit(1e6) + lit(0.5)).cast("long")
    val d = bars
      .withColumn("d6", if (useAbs) abs(rawD6) else rawD6)
      .filter(col("d6").isNotNull)
    val withLags = d.select(
      col("series") +: col("bar_ts") +: col("d6") +:
        (1 to maxLag).map(k => lag(col("d6"), k).over(w).as(s"y$k")): _*)
    val stacked = withLags
      .select(col("series"), col("d6").as("x"),
      expr(s"stack($maxLag, " +
        (1 to maxLag).map(k => s"$k, y$k").mkString(", ") + ") as (k, y)"))
    stacked.filter(col("y").isNotNull)
      .groupBy(col("series"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"))
      .withColumn("num",
        dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
      .withColumn("vx",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("vy",
        dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .select(col("series"), col("k"), col("n"),
        when(col("vx") > 0 && col("vy") > 0,
          round(col("num") / (sqrt(col("vx")) * sqrt(col("vy"))), 6))
          .as("r_acf"))
  }

  /** Partial autocorrelation (lags 1–3) per series via the
    * Durbin–Levinson recursion in closed form over [[acf]]'s
    * correlations: φ₁₁ = r₁, φ₂₂ = (r₂ − r₁²)/(1 − r₁²),
    * φ₃₃ = (r₃ − a₁'r₂ − φ₂₂r₁)/(1 − a₁'r₁ − φ₂₂r₂) with
    * a₁' = r₁(1 − φ₂₂) — "does lag k add anything once lags < k are
    * in the AR fit", the order-selection companion to q151's raw ACF
    * (which confounds propagated lag-1 structure into every lag).
    *
    * Determinism: inputs are acf's 6dp correlations; the recursion
    * runs in one shared double op order and rounds 6dp; degenerate
    * denominators (|r₁| = 1 chains) null the deeper lags.
    *
    * Scale: acf's window pass verbatim; the pivot and recursion live
    * on |series| rows. */
  def pacf(bars: DataFrame): DataFrame = {
    val a = acf(bars, maxLag = 3)
    val piv = a.groupBy(col("series")).agg(
      min(col("n")).as("n_min"),
      max(when(col("k") === 1, col("r_acf"))).as("r1"),
      max(when(col("k") === 2, col("r_acf"))).as("r2"),
      max(when(col("k") === 3, col("r_acf"))).as("r3"))
    val r1 = col("r1"); val r2 = col("r2"); val r3 = col("r3")
    // null-guarded denominators: ANSI mode would throw on /0 while
    // EVALUATING the guard of the next level (d3 contains p2); a null
    // divisor propagates null instead — exactly the fenced output
    val d2 = lit(1.0) - r1 * r1
    val d2n = when(d2 =!= 0.0, d2)
    val p2 = (r2 - r1 * r1) / d2n
    val a1p = r1 * (lit(1.0) - p2)
    val d3 = lit(1.0) - a1p * r1 - p2 * r2
    val d3n = when(d3 =!= 0.0, d3)
    val p3 = (r3 - a1p * r2 - p2 * r1) / d3n
    piv.select(col("series"), col("n_min"), r1, r2, r3,
      r1.as("pacf1"),
      when(r1.isNotNull && r2.isNotNull && d2 =!= 0.0,
        round(p2, 6)).as("pacf2"),
      when(r1.isNotNull && r2.isNotNull && r3.isNotNull &&
        d2 =!= 0.0 && d3n.isNotNull, round(p3, 6)).as("pacf3"))
  }

  /** Yang–Zhang volatility per series from the daily OHLC rollup —
    * the minimum-variance drift-independent range estimator
    * (Yang & Zhang 2000): σ²_yz = V_o + k·V_c + (1−k)·V_rs with
    * V_o/V_c the sample variances of the overnight and open-to-close
    * log returns, V_rs the Rogers–Satchell mean, and
    * k = 0.34/(1.34 + (n+1)/(n−1)). Reported next to Parkinson and
    * plain RS so the overnight-gap contribution is visible — the
    * piece q163's Garman–Klass (which assumes no drift, no gap)
    * silently misprices.
    *
    * Determinism: daily O/H/L/C via the bars-CTE argmin/argmax tie
    * rule; every log term scales to exact 1e8 longs (floor + 0.5);
    * sums fold as DECIMAL products; variances, k, and the three
    * annualized vols form in one shared double op order and round
    * 6dp. Degenerate series (n < 2) null out.
    *
    * Scale: one (series, day) rollup, a day-granular per-series lag
    * (calendar-bounded), one map-side-combined moment aggregate —
    * |series| rows out. */
  def yangZhang(bars: DataFrame, periodsPerYear: Double = 252.0): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    def l8(c: Column) = floor(log(c) * lit(1e8) + lit(0.5)).cast("long")
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val daily = bars
      .groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(firstBy(col("bar_ts"), col("open")).as("o"),
        max(col("high")).as("h"), min(col("low")).as("l"),
        lastBy(col("bar_ts"), col("close")).as("c"))
      .withColumn("pc", lag(col("c"), 1).over(w))
      .filter(col("pc").isNotNull && col("pc") > 0 && col("o") > 0 &&
        col("h") > 0 && col("l") > 0 && col("c") > 0)
      .select(col("series"),
        l8(col("o") / col("pc")).as("lo"),
        l8(col("c") / col("o")).as("lc"),
        l8(col("h") / col("o")).as("lho"),
        l8(col("h") / col("c")).as("lhc"),
        l8(col("l") / col("o")).as("llo"),
        l8(col("l") / col("c")).as("llc"),
        l8(col("h") / col("l")).as("lhl"))
    val agg = daily.groupBy(col("series")).agg(
      count(lit(1)).as("n"),
      sum(col("lo").cast(dec)).as("so"),
      sum(col("lo").cast(dec) * col("lo").cast(dec)).as("soo"),
      sum(col("lc").cast(dec)).as("sc"),
      sum(col("lc").cast(dec) * col("lc").cast(dec)).as("scc"),
      sum(col("lho").cast(dec) * col("lhc").cast(dec) +
        col("llo").cast(dec) * col("llc").cast(dec)).as("srs"),
      sum(col("lhl").cast(dec) * col("lhl").cast(dec)).as("shh"))
    val n = dbl(col("n"))
    val vo = (dbl(col("soo")) - dbl(col("so")) * dbl(col("so")) / n) /
      (n - 1)
    val vc = (dbl(col("scc")) - dbl(col("sc")) * dbl(col("sc")) / n) /
      (n - 1)
    val vrs = dbl(col("srs")) / n
    val kf = lit(0.34) / (lit(1.34) + (n + 1) / (n - 1))
    val ppy = lit(periodsPerYear)
    val ok = col("n") > 1
    agg.select(col("series"), col("n").as("n_days"),
      when(ok, round(sqrt(ppy * dbl(col("shh")) /
        (lit(4.0) * log(lit(2.0)) * n)) / lit(1e8), 6)).as("park_vol"),
      when(ok && vrs >= 0,
        round(sqrt(ppy * vrs) / lit(1e8), 6)).as("rs_vol"),
      when(ok, round(kf, 6)).as("yz_k"),
      when(ok && vo + kf * vc + (lit(1.0) - kf) * vrs >= 0,
        round(sqrt(ppy * (vo + kf * vc + (lit(1.0) - kf) * vrs)) /
          lit(1e8), 6)).as("yz_vol"))
  }

  /** Detrended fluctuation analysis per series (Peng et al. 1994):
    * integrate the r8 returns into the profile y_t, split it into
    * non-overlapping windows of s ∈ {8, 16, 32} bars, remove each
    * window's OLS line, and measure F(s) = √(mean residual²); the
    * scaling exponent α (slope of ln F on ln s) reads long-memory
    * directly — α ≈ 0.5 uncorrelated, > 0.5 persistent, < 0.5
    * anti-persistent. The window-detrended, nonstationarity-robust
    * companion to q153's rescaled-range Hurst.
    *
    * Determinism: the profile is an EXACT integer cumsum (r8 longs)
    * through [[ScalableRank.withIndexAndCumSum]]; per-window RSS forms from DECIMAL integer
    * moments with the index-sum constants s(s−1)/2, s(s−1)(2s−1)/6
    * in one shared double op order, clamps at 0 (roundoff can land
    * −ε), rounds 6dp, DECIMAL-folds per scale; F(s) and the 3-point
    * log-log slope (12dp-rounded logs, DECIMAL sums — the zipfSlope
    * machinery) round 6dp.
    *
    * Scale: one per-series index+prefix window; the scale explode is
    * a 3× map-side fan-out; everything after lives on
    * |series|·scales·windows aggregate rows. */
  def dfa(bars: DataFrame, scales: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val rr = barR8(bars)
    // index + profile prefix-sum in ONE window pass (withRowIndex
    // then cumSum would sort twice)
    val prof = ScalableRank.withIndexAndCumSum(rr, Seq("series"),
        Seq(col("bar_ts")), col("r8").cast(dec), "yd", "t", "nn")
      .withColumn("y", col("yd").cast("long"))
    val cells = prof
      .withColumn("s", explode(array(scales.map(lit): _*)))
      .withColumn("win",
        floor((col("t") - lit(1L)).cast(DoubleType) /
          dbl(col("s"))).cast("long"))
      .withColumn("j", (col("t") - lit(1L)) % col("s"))
      .filter(col("win") <
        floor(dbl(col("nn")) / dbl(col("s"))).cast("long"))
    def d(c: Column) = c.cast(dec)
    val winAgg = cells.groupBy(col("series"), col("s"), col("win"))
      .agg(sum(d(col("y"))).as("sy"),
        sum(d(col("y")) * d(col("y"))).as("syy"),
        sum(d(col("j")) * d(col("y"))).as("sjy"))
    val sd = dbl(col("s"))
    val sjd = sd * (sd - lit(1.0)) / lit(2.0)
    val sjjd = sd * (sd - lit(1.0)) * (lit(2.0) * sd - lit(1.0)) / lit(6.0)
    val syyC = dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / sd
    val sjyC = dbl(col("sjy")) - sjd * dbl(col("sy")) / sd
    val sjjC = sjjd - sjd * sjd / sd
    val rss = syyC - sjyC * sjyC / sjjC
    val fs = winAgg
      .select(col("series"), col("s"),
        round(greatest(rss, lit(0.0)), 6).cast(DecimalType(38, 6))
          .as("rss6"))
      .groupBy(col("series"), col("s"))
      .agg(count(lit(1)).as("nwin"), sum(col("rss6")).as("srss"))
      .select(col("series"), col("s"), col("nwin"),
        when(dbl(col("srss")) >= 0,
          round(sqrt(dbl(col("srss")) / (dbl(col("nwin")) * dbl(col("s")))),
            6)).as("f"))
      // A/B-kept: q342 1.25 -> 2.09 s wall without it (median, parent
      // spread 0.20 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val pts = fs.filter(col("f") > 0)
      .select(col("series"),
        round(log(dbl(col("s"))), 12).as("x"),
        round(log(col("f")), 12).as("y"))
    val slope = pts.groupBy(col("series"))
      .agg(count(lit(1)).as("np"),
        sum(col("x").cast(dec12)).as("sx"),
        sum(col("y").cast(dec12)).as("sy2"),
        sum(round(col("x") * col("y"), 12).cast(dec12)).as("sxy"),
        sum(round(col("x") * col("x"), 12).cast(dec12)).as("sxx"))
    val np = dbl(col("np"))
    val den = np * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val denN = when(den =!= 0.0, den)
    val alpha = (np * dbl(col("sxy")) -
      dbl(col("sx")) * dbl(col("sy2"))) / denN
    val aggExprs = scales.map(sc =>
      max(when(col("s") === sc, col("f"))).as(s"f$sc"))
    val piv = fs.groupBy(col("series"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    piv.join(slope.select(col("series"),
        when(col("np") >= 2 && denN.isNotNull,
          round(alpha, 6)).as("dfa_alpha")),
        Seq("series"), "left")
      .select(col("series") +: scales.map(sc => col(s"f$sc")) :+
        col("dfa_alpha"): _*)
  }

  /** Binned mutual information between series-pair returns: each
    * series' r8 returns quintile independently (exact global ntile
    * through [[ScalableRank.ntile]], (r8, bar_ts) total order),
    * the aligned quintile pairs form a 5×5 joint histogram, and
    * MI = Σ p_ij·ln(p_ij/(p_i·p_j)) with NMI = MI/min(H_a, H_b) —
    * the NONLINEAR dependence read where q85/q259's Pearson sees
    * only lines (a perfect V-shape scores 0 correlation, full MI).
    *
    * Determinism: quintiles are exact ntile semantics; all counts
    * integer; each MI/entropy term rounds 12dp and folds as
    * DECIMAL(38,12); MI, H, NMI finish in one shared double op order
    * and round 6dp.
    *
    * Scale: one per-series ntile window, one bar_ts-keyed
    * pair join (|series| rows per key), joint cells bounded by
    * |series|²·buckets². */
  def returnMi(bars: DataFrame, buckets: Int = 5): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val rr = barR8(bars)
    val binned = ScalableRank.ntile(rr, Seq("series"),
        Seq(col("r8"), col("bar_ts")), buckets, "qb")
      .select(col("series"), col("bar_ts"), col("qb"))
    val a = binned.select(col("series").as("series_a"), col("bar_ts"),
      col("qb").as("qa"))
    val b = binned.select(col("series").as("series_b"), col("bar_ts"),
      col("qb").as("qb2"))
    val joint = a.join(b, "bar_ts")
      .filter(col("series_a") < col("series_b"))
      .groupBy(col("series_a"), col("series_b"), col("qa"), col("qb2"))
      .agg(count(lit(1)).as("c"))
    // margins + totals as window sums over the (≤ |pairs|·buckets²
    // row) cell relation; each margin's entropy term counts once via
    // a first-row-of-group gate — same integer margins and 12-dp
    // decimal folds as the old aggregate+join legs, no checkpoint, no
    // broadcast builds (the r14 margin-fusion, as transferEntropy)
    val keyC = Seq(col("series_a"), col("series_b"))
    val wA = Window.partitionBy(keyC :+ col("qa"): _*).orderBy(col("qb2"))
    val wB = Window.partitionBy(keyC :+ col("qb2"): _*).orderBy(col("qa"))
    val whole = Window.unboundedPreceding
    val cells = joint
      .withColumn("ri", sum(col("c")).over(
        wA.rowsBetween(whole, Window.unboundedFollowing)))
      .withColumn("rnA", row_number().over(wA))
      .withColumn("cj", sum(col("c")).over(
        wB.rowsBetween(whole, Window.unboundedFollowing)))
      .withColumn("rnB", row_number().over(wB))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(keyC: _*)))
    val nd = dbl(col("n"))
    val miTerm = round(dbl(col("c")) / nd *
      log(dbl(col("c")) * nd / (dbl(col("ri")) * dbl(col("cj")))), 12)
      .cast(dec12)
    def entTerm(cnt: String, rn: String) =
      when(col(rn) === 1,
        round(dbl(col(cnt)) / nd * log(dbl(col(cnt)) / nd), 12).cast(dec12))
    val agg = cells
      .groupBy(col("series_a"), col("series_b"))
      .agg(max(col("n")).as("n"),
        sum(miTerm).as("mi12"),
        sum(entTerm("ri", "rnA")).as("ha12"),
        sum(entTerm("cj", "rnB")).as("hb12"))
    val ha = -dbl(col("ha12"))
    val hb = -dbl(col("hb12"))
    agg.select(col("series_a"), col("series_b"), col("n"),
      round(col("mi12"), 6).cast(DoubleType).as("mi"),
      round(-col("ha12"), 6).cast(DoubleType).as("h_a"),
      round(-col("hb12"), 6).cast(DoubleType).as("h_b"),
      // least(h_a, h_b) = -greatest(ha12, hb12): the quotient of the
      // two exact 12dp decimals is one exact rational
      when(least(ha, hb) > 0, ExactRound.ratioRound(ExactRound.toUnscaled(col("mi12"), 12),
        ExactRound.toUnscaled(-greatest(col("ha12"), col("hb12")), 12), 6)).as("nmi"))
  }

  /** Pairwise Granger causality at lag 1: for every ordered series
    * pair (cause → effect), F-test of whether the cause's lagged
    * return improves the effect's AR(1) fit —
    * F = (RSS_r − RSS_u)/(RSS_u/(n−3)) for the single restriction,
    * against the χ²(1) 5% fence 3.841459. The DIRECTED version of
    * q259's lead–lag correlation matrix (which is symmetric
    * evidence) and the time-series companion to q172's
    * cointegration.
    *
    * Determinism: the return chain is [[barR8]] (close > 0
    * pre-filtered, the q250 rule) with the rl8 lag off one per-series
    * window over its rows; the nine regression
    * moments fold as DECIMAL(38,0) integer
    * products (the q332 machinery); both RSS forms and F run in one
    * shared double op order and round 6dp. Degenerate pairs (n < 4,
    * collinear lags, zero unrestricted residual) null out.
    *
    * Scale: ONE return relation feeds both join legs;
    * the pair join is bar_ts-keyed with |series| rows per key —
    * output and moments are |series|²-bounded, the leadLagMatrix
    * cost shape. */
  def granger(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val rr = barR8(bars)
      .withColumn("rl8", lag(col("r8"), 1).over(w))
      .filter(col("rl8").isNotNull)
      .select(col("series"), col("bar_ts"), col("r8"), col("rl8"))
      // A/B-kept: q341 1.20 -> 2.26 s wall without it (median, parent
      // spread 0.23 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val y = rr.select(col("series").as("effect"), col("bar_ts"),
      col("r8").as("yv"), col("rl8").as("x1"))
    val x = rr.select(col("series").as("cause"), col("bar_ts"),
      col("rl8").as("x2"))
    def d(c: Column) = c.cast(dec)
    val agg = y.join(x, "bar_ts")
      .filter(col("effect") =!= col("cause"))
      .groupBy(col("cause"), col("effect"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("x1"))).as("sx1"), sum(d(col("x2"))).as("sx2"),
        sum(d(col("yv"))).as("sy"),
        sum(d(col("x1")) * d(col("x1"))).as("sx11"),
        sum(d(col("x2")) * d(col("x2"))).as("sx22"),
        sum(d(col("x1")) * d(col("x2"))).as("sx12"),
        sum(d(col("x1")) * d(col("yv"))).as("sx1y"),
        sum(d(col("x2")) * d(col("yv"))).as("sx2y"),
        sum(d(col("yv")) * d(col("yv"))).as("syy"))
    val n = dbl(col("n"))
    val s11 = dbl(col("sx11")) - dbl(col("sx1")) * dbl(col("sx1")) / n
    val s22 = dbl(col("sx22")) - dbl(col("sx2")) * dbl(col("sx2")) / n
    val s12 = dbl(col("sx12")) - dbl(col("sx1")) * dbl(col("sx2")) / n
    val s1y = dbl(col("sx1y")) - dbl(col("sx1")) * dbl(col("sy")) / n
    val s2y = dbl(col("sx2y")) - dbl(col("sx2")) * dbl(col("sy")) / n
    val syc = dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / n
    val det = s11 * s22 - s12 * s12
    val b1 = (s1y * s22 - s2y * s12) / det
    val b2 = (s11 * s2y - s12 * s1y) / det
    val rssU = syc - b1 * s1y - b2 * s2y
    val rssR = syc - s1y * s1y / s11
    val f = (rssR - rssU) / (rssU / (n - 3))
    val ok = col("n") > 3 && det > 0 && s11 > 0 && rssU > 0
    agg.select(col("cause"), col("effect"), col("n"),
      when(ok, round(b2, 6)).as("b_xlag"),
      when(ok, round(f, 6)).as("f_stat"),
      when(ok, f > lit(3.841459)).as("granger_causes"))
  }

  /** Fixed-width fractional differencing weights for order `d`:
    * w₀ = 1, w_k = −w_{k−1}·(d−k+1)/k. Public so the DuckDB twin
    * interpolates the SAME doubles (Java's Double.toString round-trips
    * uniquely, so the parsed literal is bit-identical). */
  def fracDiffWeights(d: Double, k: Int): Seq[Double] =
    (1 to k).scanLeft(1.0)((w, i) => -w * (d - i + 1) / i)

  /** Fractionally differenced log-price panel per series (López de
    * Prado 2018, fixed-width window, d = 0.4, K = 20):
    * x_t = Σ_k w_k·p_{t−k} over the 1e8-scaled log price — the
    * "stationary but still remembers" transform between raw prices
    * (unit root) and full differencing (memory destroyed). Reports
    * the FD series' mean/sd and its lag-1 autocorrelation: sd far
    * below the price level and acf1 far below 1 is the stationarity
    * evidence, non-zero acf1 the retained memory.
    *
    * Determinism: p8 log prices are exact longs; the 21-term
    * convolution is ONE left-associated literal-weight sum (identical
    * tree both engines), and its lag-1 partner is the SAME sum over
    * the one-deeper lag stack (no second window pass); x rounds 6dp
    * before the DECIMAL moment and lag-correlation folds; outputs
    * round 6dp.
    *
    * Scale: the (k+1)-deep lag chain is one per-series window pass,
    * one moment aggregate after; |series| rows out. */
  def fracDiff(bars: DataFrame, d: Double = 0.4, k: Int = 20): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec6 = DecimalType(28, 6)
    val dec12 = DecimalType(38, 12)
    val ws = fracDiffWeights(d, k)
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val withP = bars.filter(col("close") > 0)
      .withColumn("p8", floor(log(col("close")) * lit(1e8) + lit(0.5))
        .cast("long"))
    val lagged = withP.select(
      col("series") +: (0 to k + 1).map(j =>
        (if (j == 0) col("p8") else lag(col("p8"), j).over(w))
            .as(s"y$j")): _*)
    def conv(off: Int) = round(
      (0 to k).map(j => lit(ws(j)) * dbl(col(s"y${j + off}")))
        .reduceLeft(_ + _) / lit(1e8), 6)
    val x = lagged
      .filter(col(s"y$k").isNotNull)
      .select(col("series"), conv(0).as("x"),
        when(col(s"y${k + 1}").isNotNull, conv(1)).as("xp"))
    val agg = x.groupBy(col("series"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("x").cast(dec6)).as("sx"),
        sum(round(col("x") * col("x"), 12).cast(dec12)).as("sxx"),
        count(col("xp")).as("np"),
        sum(when(col("xp").isNotNull, col("x").cast(dec6))).as("px"),
        sum(col("xp").cast(dec6)).as("py"),
        sum(round(col("x") * col("xp"), 12).cast(dec12)).as("pxy"),
        sum(when(col("xp").isNotNull,
          round(col("x") * col("x"), 12).cast(dec12))).as("pxx"),
        sum(round(col("xp") * col("xp"), 12).cast(dec12)).as("pyy"))
    val n = dbl(col("n_obs"))
    val variance = (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / n) /
      (n - 1)
    val npd = dbl(col("np"))
    val num = npd * dbl(col("pxy")) - dbl(col("px")) * dbl(col("py"))
    val vx = npd * dbl(col("pxx")) - dbl(col("px")) * dbl(col("px"))
    val vy = npd * dbl(col("pyy")) - dbl(col("py")) * dbl(col("py"))
    agg.select(col("series"), col("n_obs"),
      ExactRound.ratioRound(ExactRound.toUnscaled(col("sx"), 6),
        col("n_obs") * lit(1000000L), 6).as("fd_mean"),
      when(col("n_obs") > 1 && variance >= 0,
        round(sqrt(variance), 6)).as("fd_sd"),
      when(col("np") > 1 && vx > 0 && vy > 0,
        round(num / (sqrt(vx) * sqrt(vy)), 6)).as("fd_acf1"))
  }

  /** Inclán–Tiao CUSUM-of-squares variance change-point per series
    * on the daily-close returns: D_k = C_k/C_n − k/n over the
    * squared-return prefix, IT = √(n/2)·max|D_k| against the 5%
    * Brownian-bridge fence 1.358 — the VARIANCE-break companion to
    * q144's mean-CUSUM and q340's rank level-shift (a volatility
    * regime change moves none of those).
    *
    * Determinism: r8² prefixes fold as exact DECIMAL; each D_k forms
    * in one shared double op order; the argmax tie-breaks to the
    * earliest day via lexicographic max(struct(|D|, −k)); the
    * statistic rounds 6dp.
    *
    * Scale: the pettitt class — one (series, day) rollup, prefix and
    * count windows per series over the DAILY series (calendar-bounded
    * tasks). */
  def inclanTiao(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val wD = Window.partitionBy(col("series")).orderBy(col("d"))
    val wCum = wD.rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("series"))
    val daily = dailyR8(bars)
    val u = daily
      .withColumn("q", (col("r8").cast(dec) * col("r8").cast(dec)))
      .withColumn("ck", sum(col("q")).over(wCum))
      .withColumn("cn", sum(col("q")).over(wAll))
      .withColumn("k", row_number().over(wD).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("dk",
        dbl(col("ck")) / dbl(col("cn")) - dbl(col("k")) / dbl(col("n")))
      .filter(col("k") < col("n") && dbl(col("cn")) > 0)
    val agg = u.groupBy(col("series"))
      .agg(max(col("n")).as("n_days"),
        max(struct(abs(col("dk")).as("a"), (-col("k")).as("nk"),
          col("d").as("d"))).as("mx"))
    val it = sqrt(dbl(col("n_days")) / lit(2.0)) * col("mx").getField("a")
    agg.select(col("series"), col("n_days"),
      round(it, 6).as("it_stat"),
      col("mx").getField("d").as("break_date"),
      (it > lit(1.358)).as("reject_const_var"))
  }

  /** Sample entropy per series (Richman & Moorman 2000; m = 2,
    * r = 0.2·σ) on the daily-close returns: SampEn = −ln(A/B) where
    * B counts template pairs matching at length m and A at m+1
    * (Chebyshev distance ≤ r, self-matches excluded) — LOW SampEn =
    * the series repeats its own patterns (regularity), the
    * complexity view next to q153's Hurst and q342's DFA (which see
    * long-memory, not determinism).
    *
    * Determinism: template coordinates are exact r8 longs, so every
    * |Δ| is an exact integer compared against the one shared-op-order
    * double tolerance; A/B are integer counts; SampEn rounds 6dp.
    *
    * Scale: the template self-join is |days|² PER SERIES — bounded by
    * the calendar like the pettitt/Lilliefors daily family, never the
    * tick history (SampEn on raw ticks would need the bucketed
    * variants in the literature). */
  def sampleEntropy(bars: DataFrame, rFrac: Double = 0.2): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val wD = Window.partitionBy(col("series")).orderBy(col("d"))
    val daily = requireDayHorizon(dailyR8(bars)
      .withColumn("t", row_number().over(wD).cast("long"))
      .withColumn("l1", lead(col("r8"), 1).over(wD))
      .withColumn("l2", lead(col("r8"), 2).over(wD)),
      "sampleEntropy",
      "use a windowed/bucketed SampEn variant from the literature")
    val tol = daily.groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"))
      .select(col("series"), col("n"),
        (lit(rFrac) * sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("n")) * (dbl(col("n")) - 1)))).as("rtol"))
    // Richman–Moorman template set: both A and B run over the n−m−1
    // EXTENDABLE templates (l2 defined), the standard definition
    val tmpl = daily.filter(col("l2").isNotNull)
      .select(col("series"), col("t"), col("r8").as("x0"),
        col("l1").as("x1"), col("l2").as("x2"))
    val a = tmpl.select(col("series"), col("t").as("ti"),
      col("x0").as("a0"), col("x1").as("a1"), col("x2").as("a2"))
    val b = tmpl.select(col("series"), col("t").as("tj"),
      col("x0").as("b0"), col("x1").as("b1"), col("x2").as("b2"))
    val chebM = greatest(abs(col("a0") - col("b0")),
      abs(col("a1") - col("b1")))
    val chebM1 = greatest(chebM, abs(col("a2") - col("b2")))
    val counts = a.join(b, Seq("series"))
      .filter(col("ti") < col("tj"))
      .join(broadcast(tol), "series")
      .groupBy(col("series"))
      .agg(max(col("n")).as("n_days"),
        max(col("rtol")).as("rtol"),
        sum(when(dbl(chebM) <= col("rtol"), 1L).otherwise(0L)).as("n_b"),
        sum(when(dbl(chebM1) <= col("rtol"), 1L).otherwise(0L)).as("n_a"))
    counts.select(col("series"), col("n_days"),
      ExactRound.ratioRound(col("rtol"), lit(100000000L), 6)
        .as("r_tol"),
      col("n_b"), col("n_a"),
      when(col("n_a") > 0 && col("n_b") > 0,
        round(-log(dbl(col("n_a")) / dbl(col("n_b"))), 6)).as("sampen"))
  }

  /** Permutation entropy per series (Bandt & Pompe 2002; m = 3): the
    * Shannon entropy of the ordinal-pattern distribution of
    * consecutive close triples, normalized by ln 3! — near 1 the
    * series is ordinally random, near 0 it repeats a motif. The
    * ORDINAL complexity view next to [[sampleEntropy]]'s amplitude
    * view (PE is tolerance-free and runs at BAR level because the
    * pattern map is pure map-side work after two leads).
    *
    * Ties break to the EARLIER index (the stable convention), so the
    * pattern id is three exact boolean comparisons of 1e6-scaled
    * longs packed as bits — identical in both engines; pattern
    * probabilities are integer ratios; entropy terms round 12dp and
    * fold as DECIMAL; outputs round 6dp.
    *
    * Scale: one per-series lag chain, one (series, pattern)
    * aggregate — ≤ 6 cells per series. */
  def permEntropy(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    // LAG-anchored triples (c_{t−2}, c_{t−1}, c_t)
    val tri = bars
      .withColumn("c2", floor(col("close") * lit(1e6) + lit(0.5))
        .cast("long"))
      .withColumn("c1", lag(col("c2"), 1).over(w))
      .withColumn("c0", lag(col("c2"), 2).over(w))
      .filter(col("c0").isNotNull)
      // tie → earlier index counts as smaller: <= on (value) is
      // exactly the (value, index) lexicographic order
      .withColumn("pat",
        when(col("c0") <= col("c1"), 4).otherwise(0) +
          when(col("c1") <= col("c2"), 2).otherwise(0) +
          when(col("c0") <= col("c2"), 1).otherwise(0))
    val cells = tri.groupBy(col("series"), col("pat"))
      .agg(count(lit(1)).as("c"))
    val tot = cells.groupBy(col("series")).agg(sum(col("c")).as("n"))
    val p = dbl(col("c")) / dbl(col("n"))
    val agg = cells.join(tot, "series")
      .groupBy(col("series"))
      .agg(max(col("n")).as("n_triples"),
        count(lit(1)).as("n_patterns"),
        sum(round(-p * log(p), 12).cast(dec12)).as("h12"))
    agg.select(col("series"), col("n_triples"), col("n_patterns"),
      round(col("h12"), 6).cast(DoubleType).as("h"),
      round(dbl(col("h12")) / log(lit(6.0)), 6).as("pe_norm"))
  }

  /** Gumbel block-maxima fit per series (method of moments) on the
    * daily maxima of |r8|: β = σ√6/π, μ = m̄ − γβ (Euler γ), plus the
    * 100-block return level μ − β·ln(−ln(0.99)) — the EVT
    * block-maxima view next to q287's Hill peaks-over-threshold tail
    * index and q292's mean-excess plot ("how bad is the worst bar of
    * a typical day, extrapolated").
    *
    * Determinism: block maxima are exact longs (max |r8| per day);
    * moments fold as DECIMAL; β/μ/return level form in one shared
    * double op order with literal γ/π and engine-shared sqrt/ln;
    * outputs round 6dp in return units.
    *
    * Scale: one (series, day) map-side-combined max, one moment
    * aggregate — |series| rows out. */
  def gumbelBlockMaxima(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val blocks = barR8(bars)
      .groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(max(abs(col("r8"))).as("m"))
    val agg = blocks.groupBy(col("series"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("m").cast(dec)).as("s1"),
        sum(col("m").cast(dec) * col("m").cast(dec)).as("s2"))
    val n = dbl(col("n_blocks"))
    val mean8 = dbl(col("s1")) / n
    val sd8 = sqrt((n * dbl(col("s2")) - dbl(col("s1")) * dbl(col("s1"))) /
      (n * (n - 1)))
    val beta = sd8 * sqrt(lit(6.0)) / lit(3.141592653589793)
    val mu = mean8 - lit(0.5772156649015329) * beta
    val rl = mu - beta * log(-log(lit(0.99)))
    val ok = col("n_blocks") > 1
    agg.select(col("series"), col("n_blocks"),
      when(ok, round(mu / lit(1e8), 6)).as("gum_mu"),
      when(ok, round(beta / lit(1e8), 6)).as("gum_beta"),
      when(ok, round(rl / lit(1e8), 6)).as("rl_100"))
  }

  /** Lilliefors normality test per series on the daily-close log
    * returns: the KS distance between the empirical CDF and the
    * normal fitted to the SAME sample,
    * D = max_i max(i/n − Φ(z_i), Φ(z_i) − (i−1)/n), against the
    * asymptotic 5% fence 0.886/√n. The DISTRIBUTIONAL normality view
    * next to q299's moment-based Jarque–Bera (JB sees skew/kurtosis;
    * Lilliefors sees any CDF shape gap — bimodality, truncation —
    * that leaves moments near-normal).
    *
    * Φ uses the Abramowitz–Stegun 7.1.26 erf polynomial (|ε| <
    * 1.5·10⁻⁷, far below the 6dp output scale) written with explicit
    * multiplication chains — identical literal arithmetic in both
    * engines, no pow. z comes from exact integer r8 moments in one
    * shared μ/σ op order; ranks are per-series over the (r8, d)
    * total order on the DAILY series (calendar-bounded tasks, the
    * pettitt class); D rounds 6dp.
    *
    * Scale: one (series, day) rollup, one bounded per-series rank
    * window, one map-side max — |series| rows out. */
  def lilliefors(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val wR = Window.partitionBy(col("series"))
      .orderBy(col("r8"), col("d"))
    val daily = dailyR8(bars)
    val stats = daily.groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"))
      .withColumn("mu8", dbl(col("s1")) / dbl(col("n")))
      .withColumn("sd8",
        sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("n")) * (dbl(col("n")) - 1))))
      .select(col("series"), col("n"), col("mu8"), col("sd8"))
    // Φ(z) via A–S 7.1.26 on |z|: erf(x) ≈ 1 − poly(t)·e^(−x²),
    // t = 1/(1 + 0.3275911·x); Φ(z) = 0.5·(1 + sign·erf(|z|/√2))
    def phi(z: Column): Column = {
      val x = abs(z) / lit(1.4142135623730951)
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t +
        lit(1.421413741)) * t - lit(0.284496736)) * t +
        lit(0.254829592)) * t
      val erf = lit(1.0) - poly * exp(-x * x)
      when(z >= 0, lit(0.5) * (lit(1.0) + erf))
        .otherwise(lit(0.5) * (lit(1.0) - erf))
    }
    val z = (dbl(col("r8")) - col("mu8")) / col("sd8")
    val nd = dbl(col("n"))
    val dPlus = dbl(col("i")) / nd - col("ph")
    val dMinus = col("ph") - (dbl(col("i")) - 1) / nd
    daily.join(broadcast(stats), "series")
      .filter(col("sd8") > 0)
      .withColumn("i", row_number().over(wR).cast("long"))
      .withColumn("ph", phi(z))
      .groupBy(col("series"))
      .agg(max(col("n")).as("n_days"),
        max(greatest(dPlus, dMinus)).as("d_raw"))
      .select(col("series"), col("n_days"),
        round(col("d_raw"), 6).as("d_stat"),
        round(lit(0.886) / sqrt(dbl(col("n_days"))), 6).as("crit_5pct"),
        (col("d_raw") > lit(0.886) / sqrt(dbl(col("n_days"))))
          .as("reject_normal"))
  }

  /** Pettitt change-point test per series on the daily-close level:
    * U_t = 2·Σ_{i≤t} R_i − t(n+1) over the full-sample ranks,
    * K = max|U_t|, with the classic tail bound
    * p ≈ 2·exp(−6K²/(n³+n²)) — the NONPARAMETRIC "did the level shift,
    * and when" (a rank Mann–Whitney at every split point), robust to
    * the heavy tails that push q144's mean-CUSUM around, and a formal
    * p-value where q146's Page-CUSUM is a sequential monitor.
    *
    * Determinism: [[dayClose]] closes scale to exact 1e6 longs
    * (bars-CTE argmax tie rule); ranks are DOUBLED midranks (exact
    * integers under ties) so U_t = Σm2 − t(n+1) is all-integer; the
    * argmax tie-breaks to the EARLIEST day via lexicographic
    * max(struct(|U|, −t)); only p rounds (6dp, one op order).
    *
    * Scale: one (series, day) rollup; the rank and prefix windows run
    * per series over the DAILY level — calendar-bounded rows per
    * task, the q306 daily-chain class, never the raw tick history. */
  def pettitt(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val wRank = Window.partitionBy(col("series")).orderBy(col("v"))
    val wTie = Window.partitionBy(col("series"), col("v"))
    val wT = Window.partitionBy(col("series")).orderBy(col("d"))
    val wCum = wT.rowsBetween(Window.unboundedPreceding, 0)
    val daily = dayClose(bars)
      .select(col("series"), col("d"),
        floor(col("close") * lit(1e6) + lit(0.5)).cast("long").as("v"))
    val u = daily
      .withColumn("m2",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTie) - 1)
      .withColumn("t", row_number().over(wT).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("series"))))
      .withColumn("s2", sum(col("m2")).over(wCum))
      .withColumn("u", col("s2") - col("t") * (col("n") + 1))
      .filter(col("t") < col("n")) // U_n = 0 by construction
    val agg = u.groupBy(col("series"))
      .agg(max(col("n")).as("n_days"),
        max(struct(abs(col("u")).as("a"), (-col("t")).as("nt"),
          col("d").as("d"), col("u").as("u"))).as("mx"))
    val k = dbl(col("mx").getField("a"))
    val nd = dbl(col("n_days"))
    val p = lit(2.0) * exp(lit(-6.0) * k * k / (nd * nd * nd + nd * nd))
    agg.select(col("series"), col("n_days"),
      col("mx").getField("a").as("k_stat"),
      col("mx").getField("u").as("u_at_k"),
      col("mx").getField("d").as("change_date"),
      round(least(lit(1.0), p), 6).as("p_approx"), // tail bound can pass 1
      (p < lit(0.05)).as("significant"))
  }

  /** Shared sign chain for [[tickRuleFlow]] and [[kyleLambda]]: the
    * day-partitioned scaled-long Δclose, its sign, and the last-non-
    * zero carry-forward — one (series, day) window pass. */
  private def withTickSigns(bars: DataFrame): DataFrame = {
    val dayW = Window.partitionBy(col("series"), col("d")).orderBy(col("bar_ts"))
    val run = dayW.rowsBetween(Window.unboundedPreceding, 0)
    bars
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("d6",
        floor((col("close") - lag(col("close"), 1).over(dayW)) * lit(1e6) +
          lit(0.5)).cast("long"))
      .withColumn("sgn",
        when(col("d6") > 0, 1).when(col("d6") < 0, -1))
      .withColumn("tick_sign",
        coalesce(last(col("sgn"), ignoreNulls = true).over(run), lit(0)))
  }

  /** Tick-rule signed order flow per (series, day): each bar gets the
    * sign of its close change, zeros inherit the LAST NON-ZERO sign
    * within the day (the Lee–Ready tick test applied at bar
    * granularity), and the day rolls up to buy/sell tick counts and a
    * signed-flow imbalance (buys − sells)/(buys + sells) over
    * `n_ticks` — the order-flow pressure gauge next to Amihud's
    * price-impact proxy (q127).
    *
    * All-integer chain: the sign comes off the exact scaled-long
    * Δclose, the carry-forward is `last(_, ignoreNulls)` over the
    * day frame (bars before the first move stay 0 and are counted
    * unsigned), tick counts fold as longs, and the imbalance floors
    * at 6dp from an exact long/long quotient. Day boundaries reset
    * the lag chain (the q111 rule).
    *
    * Scale: one (series, day) window pass — growing key, no hot
    * partition — then one map-side-combined rollup on the same key. */
  def tickRuleFlow(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    withTickSigns(bars)
      .groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_bars"),
        sum(when(col("tick_sign") === 1, col("n_ticks")).otherwise(0L))
          .as("buy_ticks"),
        sum(when(col("tick_sign") === -1, col("n_ticks")).otherwise(0L))
          .as("sell_ticks"))
      .select(col("series"), col("d"), col("n_bars"),
        col("buy_ticks"), col("sell_ticks"),
        when(col("buy_ticks") + col("sell_ticks") > 0,
          floor((dbl(col("buy_ticks")) - dbl(col("sell_ticks"))) /
            (dbl(col("buy_ticks")) + dbl(col("sell_ticks"))) * lit(1e6) +
            lit(0.5)) / lit(1e6)).as("flow_imbalance"))
  }

  /** Kyle's lambda per (series, day): the OLS slope of the bar's
    * scaled-long Δclose on its SIGNED tick flow (tick_sign · n_ticks,
    * signs from the [[tickRuleFlow]] carry-forward chain) — the
    * price-impact coefficient ("how much does one signed tick move
    * the price"), the regression form of q127's Amihud ratio.
    *
    * Determinism: x (signed flow) and y (Δclose·1e6) are exact longs;
    * the per-day moment sums fold DECIMAL-exact and the slope forms
    * in the q121 double op order, rounded 6dp. Days with zero flow
    * variance (all x equal) emit null.
    *
    * Scale: the [[withTickSigns]] (series, day) window pass feeds a
    * map-side-combined rollup on the SAME key — exchange reused,
    * growing key, no hot partition. */
  def kyleLambda(bars: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    withTickSigns(bars)
      .filter(col("d6").isNotNull)
      .withColumn("x", col("tick_sign").cast("long") * col("n_ticks"))
      .groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("d6").cast(dec)).as("sy"),
        sum((col("x") * col("d6")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
      .withColumn("num",
        dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
      .withColumn("den",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .select(col("series"), col("d"), col("n"),
        when(col("den") > 0, ExactRound.ratioRound(
          col("n") * col("sxy") - col("sx") * col("sy"),
          col("n") * col("sxx") - col("sx") * col("sx"), 6))
          .as("kyle_lambda"))
  }

  /** Intraday on-balance-volume path per (series, day): the running
    * sum of signed tick flow (tick_sign · n_ticks, signs from the
    * [[withTickSigns]] carry-forward chain) — the accumulation/
    * distribution line at bar granularity, the PATH whose day-end
    * value q152 reports. All-integer (exact at any partitioning);
    * day keying caps window state and resets overnight.
    *
    * Scale: the sign chain and the running sum share ONE (series,
    * day) window sort — growing key, no hot partition. */
  def obvPath(bars: DataFrame): DataFrame = {
    val run = Window.partitionBy(col("series"), col("d"))
      .orderBy(col("bar_ts")).rowsBetween(Window.unboundedPreceding, 0)
    withTickSigns(bars)
      .withColumn("obv",
        sum(col("tick_sign").cast("long") * col("n_ticks")).over(run))
      .select(col("series"), col("d"), col("bar_ts"), col("obv"))
  }

  /** Intraday seasonality profile per (series, five-minute slot of
    * the UTC day): mean absolute close move and tick activity by
    * time-of-day across all days — the U-shaped "volatility smile"
    * diagnostic that decides session-aware bar/volatility weighting.
    *
    * Slot = (µs-of-day ÷ 5 min) in pure long arithmetic. Absolute
    * moves fold as exact scaled longs off the [[withTickSigns]] day
    * chain (day boundaries contribute no move, matching q111's
    * no-overnight rule); the mean floors to a whole 1e-6 unit from an
    * exact long/long quotient.
    *
    * Scale: one (series, day) window pass, then a map-side-combined
    * aggregate onto the TINY (series, slot ≤ 288) key — safe because
    * its input is already one row per bar. */
  def intradayProfile(bars: DataFrame): DataFrame = {
    val slot = ((unix_micros(col("bar_ts")) % lit(86400000000L)) /
      lit(300000000L)).cast("long")
    def dbl(c: Column) = c.cast(DoubleType)
    withTickSigns(bars)
      .groupBy(col("series"), slot.as("slot"))
      .agg(count(lit(1)).as("n_bars"),
        sum(col("n_ticks")).as("n_ticks"),
        sum(when(col("d6").isNotNull, abs(col("d6"))).otherwise(0L)).as("sabs"),
        sum(when(col("d6").isNotNull, 1L).otherwise(0L)).as("n_moves"))
      .select(col("series"), col("slot"), col("n_bars"), col("n_ticks"),
        when(col("n_moves") > 0,
          floor(dbl(col("sabs")) / dbl(col("n_moves")) + lit(0.5)) / lit(1e6))
          .as("mean_abs_move"))
  }

  /** Garman–Klass and Parkinson daily volatility per (series, day):
    * the OHLC range-based estimators — 5–7× more efficient than
    * close-to-close (q92's realized vol) at the same bar count.
    * Per-bar terms: u = ln(H/L), c = ln(C/O); GK = 0.5u² − (2ln2−1)c²,
    * PK = u²/(4ln2); daily volatility = √(Σ terms).
    *
    * Determinism: ln/× are bit-identical libm/IEEE ops in one shared
    * order (the q92 ln precedent — the 2ln2−1 coefficient is COMPUTED
    * identically in both engines, never a decimal literal that could
    * round differently); each term floors to a 1e-12 scaled long, so
    * the daily sums are exact integers; the final √ floors 6dp. Bars
    * with non-positive OHLC or H < L are excluded; a negative GK sum
    * (possible — the c² term subtracts) emits null.
    *
    * Scale: map-side terms + one map-side-combined (series, day)
    * aggregate — no window at all. */
  def garmanKlass(bars: DataFrame): DataFrame = {
    val valid = col("open") > 0 && col("high") > 0 && col("low") > 0 &&
      col("close") > 0 && col("low") <= col("high")
    val u = log(col("high") / col("low"))
    val c = log(col("close") / col("open"))
    val gk = lit(0.5) * u * u - (lit(2.0) * log(lit(2.0)) - lit(1.0)) * c * c
    val pk = u * u / (lit(4.0) * log(lit(2.0)))
    def dbl(cc: Column) = cc.cast(DoubleType)
    bars
      .filter(valid)
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("t_gk", floor(gk * lit(1e12) + lit(0.5)).cast("long"))
      .withColumn("t_pk", floor(pk * lit(1e12) + lit(0.5)).cast("long"))
      .groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_bars"),
        sum(col("t_gk")).as("sgk"),
        sum(col("t_pk")).as("spk"))
      .select(col("series"), col("d"), col("n_bars"),
        when(col("sgk") >= 0,
          floor(sqrt(dbl(col("sgk")) / lit(1e12)) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("vol_gk"),
        (floor(sqrt(dbl(col("spk")) / lit(1e12)) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("vol_pk"))
  }

  /** Information-driven TICK bars: a bar closes every `ticksPerBar`
    * ticks instead of every N minutes — the de Prado event-time bar
    * family (constant information per bar; busy periods produce more
    * bars, quiet ones fewer). Bar id = row index ÷ ticksPerBar under
    * the (ts, id) total order — the id tie-break makes equal-timestamp
    * ticks deterministic.
    *
    * Same one-aggregate OHLCV shape as [[bars]], with open/close
    * picked by min/max struct over the UNIQUE in-bar row index (no
    * max_by tie hazard). `start_ts`/`end_ts` bound the bar's span.
    *
    * Scale: the per-series row index is the one inherently sequential
    * step (information bars are path-dependent by definition); it
    * routes through [[ScalableWindow.withSeqIndex]], one per-series
    * window. Everything after is a
    * map-side-combined hash aggregate on the growing (series, bar_id)
    * key. */
  def tickBars(
      df: DataFrame,
      seriesCol: String,
      tsCol: String,
      valueCol: String,
      idCol: String,
      ticksPerBar: Int = 50): DataFrame = {
    require(ticksPerBar >= 1, s"ticksPerBar must be >= 1 (got $ticksPerBar)")
    val base = df.select(col(seriesCol).as("series"), col(tsCol).as("ts"),
      col(valueCol).as("v"), col(idCol).as("id"))
    ScalableWindow.withSeqIndex(base, Seq("series"), Seq("ts", "id"), "__grn")
      .withColumn("rn", (col("__grn") - 1).cast("long"))
      .drop("__grn")
      .withColumn("bar_id", (col("rn") / ticksPerBar).cast("long"))
      .groupBy(col("series"), col("bar_id"))
      .agg(
        count(lit(1)).as("n_ticks"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        firstBy(col("rn"), col("v")).as("open"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        lastBy(col("rn"), col("v")).as("close"))
  }

  /** Hurst exponent per series by the aggregated-variance method: the
    * population variance of NON-OVERLAPPING k-bar log-return block
    * sums scales as k^(2H), so H is half the OLS slope of ln Var(k)
    * on ln k over k ∈ {1, 2, 4, 8} — H ≈ 0.5 random walk, > 0.5
    * trending, < 0.5 mean-reverting. The long-memory diagnostic next
    * to the fixed-k variance ratio (q139).
    *
    * Determinism: ln returns become exact scaled longs (q92 rule);
    * blocks form by integer index division (complete blocks only), so
    * block sums are exact longs; each k-cell folds DECIMAL-exact
    * (n, Σb, Σb²) finished in the q139 double op order; ln(k) and
    * ln(Var) are bit-identical libm calls on identical doubles, and
    * the 4-point OLS slope is one shared expression, rounded 6dp.
    * Cells with non-positive variance drop out; series with < 2
    * usable cells emit null H.
    *
    * Scale: the lag routes through [[ScalableWindow.withPrevValues]]
    * and the filtered row index through [[ScalableWindow.withSeqIndex]],
    * then a 4× explode and one map-side-combined aggregate on (series, k,
    * block) — growing keys throughout; output is |series| rows. */
  def hurst(bars: DataFrame, ks: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1 (got $ks)")
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    val rets0 = ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "prev_c")))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0)
      .select(col("series"), col("bar_ts"),
        logRet8(col("close"), col("prev_c")).as("r8"))
    val rets = ScalableWindow.withSeqIndex(rets0, Seq("series"),
        Seq("bar_ts"), "__grn")
      .withColumn("rn", col("__grn") - 1)
      .drop("__grn")
    val cells = rets
      .withColumn("k", explode(typedLit(ks)))
      .withColumn("blk", (col("rn") / col("k")).cast("long"))
      .groupBy(col("series"), col("k"), col("blk"))
      .agg(count(lit(1)).as("nb"), sum(col("r8")).as("b"))
      .filter(col("nb") === col("k"))
      .groupBy(col("series"), col("k"))
      .agg(count(lit(1)).as("n_blk"),
        sum(col("b").cast(dec)).as("sb"),
        sum((col("b") * col("b")).cast(dec)).as("qb"))
      .withColumn("vark",
        (dbl(col("qb")) - dbl(col("sb")) * dbl(col("sb")) / dbl(col("n_blk"))) /
          dbl(col("n_blk")))
      .filter(col("vark") > 0)
      // snap the regression points to exact scaled longs so the final
      // per-series sums fold in integer arithmetic (partial-agg-order
      // proof); the common 1e6 scale cancels exactly in the slope's
      // numerator/denominator ratio
      .select(col("series"),
        floor(log(col("k").cast(DoubleType)) * lit(1e6) + lit(0.5))
          .cast("long").as("x6"),
        floor(log(col("vark")) * lit(1e6) + lit(0.5))
          .cast("long").as("y6"))
    cells.groupBy(col("series"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("x6").cast(dec)).as("sx"),
        sum(col("y6").cast(dec)).as("sy"),
        sum((col("x6") * col("y6")).cast(dec)).as("sxy"),
        sum((col("x6") * col("x6")).cast(dec)).as("sxx"))
      .select(col("series"), col("n_pts"),
        when(col("n_pts") >= 2,
          round((dbl(col("n_pts")) * dbl(col("sxy")) -
            dbl(col("sx")) * dbl(col("sy"))) /
            (dbl(col("n_pts")) * dbl(col("sxx")) -
              dbl(col("sx")) * dbl(col("sx"))) / lit(2.0), 6)).as("hurst"))
  }

  /** Triple-barrier labeling per (series, entry bar): the
    * training-label generator for price-move classifiers — label +1 if
    * the upper barrier (close·upFactor) is touched first within the
    * next `horizon` bars, −1 if the lower (close·dnFactor) is first,
    * 0 on no touch (vertical barrier) or when both barriers are hit
    * in the SAME bar (direction ambiguous at bar granularity).
    *
    * Plan shape: NOT a self-join — all `horizon` future highs/lows
    * come out of ONE window sort as two lead arrays, and the first
    * touch is a map-side array scan (`filter(sequence)[1]`), so the
    * operator costs one sort + a bounded 2·horizon-wide row, not a
    * horizon× row explosion. Barrier levels are single multiplies by
    * factors passed as exact double literals shared with the oracle;
    * every comparison is on bit-identical doubles.
    *
    * Scale: the lead arrays come out of one per-series window;
    * everything after is map-side. */
  def tripleBarrier(
      bars: DataFrame,
      horizon: Int = 12,
      upFactor: Double = 1.005,
      dnFactor: Double = 0.995): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1 (got $horizon)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val hs = array((1 to horizon).map(j => lead(col("high"), j).over(w)): _*)
    val ls = array((1 to horizon).map(j => lead(col("low"), j).over(w)): _*)
    def hAt(i: Column) = element_at(col("hs"), i)
    def lAt(i: Column) = element_at(col("ls"), i)
    bars
      .select(col("series"), col("bar_ts"), col("close"),
        hs.as("hs"), ls.as("ls"))
      .withColumn("up", col("close") * lit(upFactor))
      .withColumn("dn", col("close") * lit(dnFactor))
      .withColumn("touch",
        // try_element_at: the filter result is EMPTY on no touch (ANSI
        // element_at throws on index 1 of an empty array)
        try_element_at(filter(sequence(lit(1), lit(horizon)),
          i => hAt(i).isNotNull &&
            (hAt(i) >= col("up") || lAt(i) <= col("dn"))), lit(1)))
      .select(col("series"), col("bar_ts").as("entry_ts"), col("close"),
        col("touch").as("touch_k"),
        when(col("touch").isNull, 0)
          .when(hAt(col("touch")) >= col("up") &&
            lAt(col("touch")) <= col("dn"), 0)
          .when(hAt(col("touch")) >= col("up"), 1)
          .otherwise(-1).as("label"))
  }

  /** Corwin–Schultz (2012) high–low spread estimator per (series,
    * day): bid-ask spread recovered from two-bar high/low ranges —
    * β (sum of the two bars' squared log ranges), γ (squared log
    * range of the two-bar span), the closed-form α, and
    * S = 2(e^α − 1)/(1 + e^α), day-averaged over consecutive bar
    * pairs with negative estimates clamped to 0 (the standard
    * treatment). Completes the microstructure panel: Roll (q111)
    * from serial covariance, Amihud (q127) impact, Kyle (q159)
    * regression, VPIN (q167) toxicity — this one needs only H/L.
    *
    * Determinism: ln/√/exp and all arithmetic run in ONE shared op
    * order with COMPUTED constants (3 − 2√2 is never a decimal
    * literal); each pair's clamped spread floors to a 1e-12 long so
    * the day sum is exact; the mean floors to a whole micro. Pairs
    * stay within the day (q111 no-overnight rule); bars with
    * non-positive or inverted H/L are excluded before pairing.
    *
    * Scale: one (series, day) window pass + one map-side-combined
    * rollup on the same key (exchange reused). */
  def corwinSchultz(bars: DataFrame): DataFrame = {
    val dayW = Window.partitionBy(col("series"), col("d")).orderBy(col("bar_ts"))
    def dbl(c: Column) = c.cast(DoubleType)
    val denom = lit(3.0) - lit(2.0) * sqrt(lit(2.0))
    val lr = log(col("high") / col("low"))
    val lrp = log(col("ph") / col("pl"))
    val beta = lr * lr + lrp * lrp
    val gamma = {
      val g = log(greatest(col("high"), col("ph")) /
        least(col("low"), col("pl")))
      g * g
    }
    val alpha = (sqrt(lit(2.0) * beta) - sqrt(beta)) / denom -
      sqrt(gamma / denom)
    val s = lit(2.0) * (exp(alpha) - lit(1.0)) / (lit(1.0) + exp(alpha))
    bars
      .filter(col("high") > 0 && col("low") > 0 && col("low") <= col("high"))
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("ph", lag(col("high"), 1).over(dayW))
      .withColumn("pl", lag(col("low"), 1).over(dayW))
      .filter(col("ph").isNotNull)
      .withColumn("t12",
        floor(greatest(s, lit(0.0)) * lit(1e12) + lit(0.5)).cast("long"))
      .groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("t12")).as("s12"))
      .select(col("series"), col("d"), col("n_pairs"),
        (floor(dbl(col("s12")) / dbl(col("n_pairs")) / lit(1e6) + lit(0.5)) /
          lit(1e6)).as("cs_spread"))
  }

  /** VPIN — volume-synchronized probability of informed trading
    * (Easley/López de Prado/O'Hara) over TICK buckets: ticks sign by
    * the tick rule (Δvalue sign, zeros inherit the last non-zero,
    * day-agnostic — the chain runs over the whole series), group into
    * `ticksPerBucket`-tick buckets (the [[tickBars]] id), each bucket
    * reports |buys − sells| / n, and VPIN is the trailing
    * `nBuckets`-bucket mean — the flow-toxicity gauge that front-ran
    * the flash crash literature.
    *
    * All-integer chain: signs are exact (scaled-long Δ), bucket
    * imbalances floor to 1e-6 longs, and the trailing mean floors to
    * a whole micro from exact long sums.
    *
    * Scale: the row index and Δ chain via ONE fused
    * [[ScalableWindow.withSeqPrev]] pass, the zeros-inherit LOCF as a
    * running last-non-null window, then a growing (series, bucket)
    * aggregate and the trailing bucket window. */
  def vpin(
      df: DataFrame,
      seriesCol: String,
      tsCol: String,
      valueCol: String,
      idCol: String,
      ticksPerBucket: Int = 50,
      nBuckets: Int = 10): DataFrame = {
    require(ticksPerBucket >= 1 && nBuckets >= 1,
      s"bad params ($ticksPerBucket, $nBuckets)")
    def dbl(c: Column) = c.cast(DoubleType)
    val base = df.select(col(seriesCol).as("series"), col(tsCol).as("ts"),
      col(valueCol).as("v"), col(idCol).as("id"))
    val lagged = ScalableWindow.withSeqPrev(base, Seq("series"),
        Seq("ts", "id"), "__grn", Seq(("v", "__pv")))
      .withColumn("rn", (col("__grn") - 1).cast("long"))
      .withColumn("d6",
        floor((col("v") - col("__pv")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("sgn", when(col("d6") > 0, 1).when(col("d6") < 0, -1))
    val run = Window.partitionBy(col("series")).orderBy(col("ts"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val buckets = lagged
      .withColumn("tick_sign",
        coalesce(last(col("sgn"), ignoreNulls = true).over(run), lit(0)))
      .groupBy(col("series"),
        (col("rn") / ticksPerBucket).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(when(col("tick_sign") === 1, 1L).otherwise(0L)).as("buys"),
        sum(when(col("tick_sign") === -1, 1L).otherwise(0L)).as("sells"))
      .withColumn("imb6",
        floor(abs(col("buys") - col("sells")).cast(DoubleType) /
          dbl(col("n_ticks")) * lit(1e6) + lit(0.5)).cast("long"))
    val bw = Window.partitionBy(col("series"))
      .orderBy(col("bucket")).rowsBetween(-(nBuckets - 1), 0)
    buckets
      .withColumn("nb", count(lit(1)).over(bw))
      .withColumn("s6", sum(col("imb6")).over(bw))
      .select(col("series"), col("bucket"), col("n_ticks"),
        col("buys"), col("sells"),
        (col("imb6") / lit(1e6)).as("imbalance"),
        when(col("nb") === nBuckets,
          floor(dbl(col("s6")) / dbl(col("nb")) + lit(0.5)) / lit(1e6))
          .as("vpin"))
  }

  /** Underwater (time-under-water) profile per series: spells of
    * consecutive bars strictly below the running-maximum close — the
    * DURATION face of drawdown (q83 reports the DEPTH). Gaps-and-
    * islands over the `close < runmax` flag; reports spell count,
    * the longest spell, and the underwater bar fraction.
    *
    * All-integer except the final fraction (floor-form 6dp from an
    * exact long/long quotient). The first bar of a series is at its
    * running max, so a leading spell cannot start before bar 2 —
    * island ids stay aligned across engines by construction.
    *
    * Scale: one per-series window pass (running max + island id share
    * the sort), then two map-side-combined growing-key aggregates. */
  def underwater(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val prevU = lag(col("under"), 1).over(w)
    val flagged = bars
      .withColumn("under",
        (col("close") < max(col("close")).over(run)).cast("int"))
      .withColumn("brk",
        when(prevU.isNull || col("under") =!= prevU, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(run))
    val spells = flagged
      .groupBy(col("series"), col("grp"))
      .agg(max(col("under")).as("under"), count(lit(1)).as("len"))
    spells.groupBy(col("series"))
      .agg(
        sum(col("len")).as("n_bars"),
        sum(when(col("under") === 1, 1L).otherwise(0L)).as("n_spells"),
        max(when(col("under") === 1, col("len")).otherwise(0L))
          .as("longest_spell"),
        sum(when(col("under") === 1, col("len")).otherwise(0L))
          .as("bars_under"))
      .select(col("series"), col("n_bars"), col("n_spells"),
        col("longest_spell"),
        (floor(dbl(col("bars_under")) / dbl(col("n_bars")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("frac_under"))
  }

  /** Volume profile per series: tick volume aggregated into integer
    * price levels (floor(close)), reporting the point of control
    * (the level holding the most volume), its share, and the level
    * count — the where-did-trading-concentrate view that complements
    * the when views (q162 intraday profile, q167 VPIN buckets).
    *
    * All-integer: level = floor(close) exact, n_ticks sums are longs,
    * the POC argmax breaks ties to the LOWEST level (total order),
    * and the share floors at 6dp from exact longs.
    *
    * Scale: one map-side-combined (series, level) aggregate, then a
    * per-series argmax window over the LEVEL aggregate (vocabulary-
    * sized, the q39 rule — never the tick stream). */
  def volumeProfile(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val levels = bars
      .groupBy(col("series"), floor(col("close")).cast("long").as("level"))
      .agg(sum(col("n_ticks")).as("v"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("v").desc, col("level"))
    levels
      .withColumn("rk", row_number().over(w))
      .withColumn("tot", sum(col("v")).over(Window.partitionBy(col("series"))))
      .withColumn("n_levels",
        count(lit(1)).over(Window.partitionBy(col("series"))))
      .filter(col("rk") === 1)
      .select(col("series"), col("level").as("poc_level"),
        col("v").as("poc_volume"), col("tot").as("total_volume"),
        col("n_levels"),
        (floor(dbl(col("v")) / dbl(col("tot")) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("poc_share"))
  }

  /** Wald–Wolfowitz runs test per series: are the SIGNS of close
    * changes random? Counts up-moves, down-moves, and sign runs
    * (zeros excluded, the standard treatment), then
    * z = (R − μ)/σ with μ = 2n⁺n⁻/n + 1, σ² = (μ−1)(μ−2)/(n−1) —
    * the non-parametric randomness check next to the parametric ACF
    * (q151) / variance-ratio (q139) / Hurst (q153) panel: it sees
    * sign streaks those moment tests can miss.
    *
    * All counts are exact integers off the scaled-long Δ chain; the
    * μ/σ/z chain evaluates once per series in one shared double op
    * order, rounded 6dp; degenerate series (n⁺ = 0, n⁻ = 0, or
    * n ≤ 1) emit null z.
    *
    * Scale: two chained [[ScalableWindow.withPrevValues]] passes —
    * the Δ chain over all bars, then the break flags over the
    * FILTERED sign sequence; one map-side-combined rollup — output
    * |series| rows. */
  def runsTest(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val signs = ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "__pc")))
      .withColumn("d6",
        floor((col("close") - col("__pc")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .filter(col("d6").isNotNull && col("d6") =!= 0L)
      .withColumn("sgn", when(col("d6") > 0, 1).otherwise(-1))
      .select(col("series"), col("bar_ts"), col("sgn"))
    // second lag over the FILTERED sign sequence (a run count is
    // sum of sign-change flags — no prefix ids needed)
    val runs = ScalableWindow.withPrevValues(signs, Seq("series"),
        Seq("bar_ts"), Seq(("sgn", "__psgn")))
      .withColumn("brk",
        when(col("__psgn").isNull ||
          col("sgn") =!= col("__psgn"), 1L).otherwise(0L))
      .groupBy(col("series"))
      .agg(
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"),
        sum(col("brk")).as("n_runs"))
    val n = col("n_pos") + col("n_neg")
    val mu = lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg")) / dbl(n) +
      lit(1.0)
    val varr = (mu - lit(1.0)) * (mu - lit(2.0)) / (dbl(n) - lit(1.0))
    runs.select(col("series"), col("n_pos"), col("n_neg"), col("n_runs"),
      when(col("n_pos") > 0 && col("n_neg") > 0 && n > 1 && varr > 0,
        round((dbl(col("n_runs")) - mu) / sqrt(varr), 6)).as("z_runs"))
  }

  /** Stale-price profile per series (gaps-and-islands): consecutive
    * equal closes collapse into runs via the classic island id
    * (running sum of change flags), then one per-series rollup reports
    * run counts, the longest run, and how many runs reach `staleLen`
    * bars — the flat-series / stuck-feed data-quality signal.
    *
    * All-integer arithmetic except the mean run length, which floors
    * at 6dp from an exact long/long quotient (no library round()).
    * Two shuffles on growing keys — (series, island) then series —
    * both map-side-combined, after one per-series island-id window. */
  def staleRuns(bars: DataFrame, staleLen: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val prevC = lag(col("close"), 1).over(w)
    val runs = bars
      .withColumn("new_run",
        when(prevC.isNull || col("close") =!= prevC, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("new_run")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("series"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("series"))
      .agg(count(lit(1)).as("n_runs"),
        sum(col("run_len")).as("n_bars"),
        max(col("run_len")).as("max_run"),
        sum(when(col("run_len") >= staleLen, 1L).otherwise(0L)).as("n_stale"))
      .select(col("series"), col("n_runs"), col("n_bars"), col("max_run"),
        col("n_stale"),
        (floor(col("n_bars").cast(DoubleType) /
          col("n_runs").cast(DoubleType) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("avg_run"))
  }

  /** Barndorff-Nielsen & Shephard (2004) bipower variation and jump
    * fraction per (series, day): RV = Σ r², BV = (π/2)·(m/(m−1))·
    * Σ|r_i||r_{i−1}|, jump_frac = max(0, 1 − BV/RV). BV is robust to
    * jumps, so the RV−BV gap isolates the jump contribution — the
    * standard high-frequency jump screen.
    *
    * Determinism: returns round 8dp before any product (q92's rule);
    * per-row r² and |r||r_prev| terms round 12dp then DECIMAL-sum, so
    * partial-aggregation order can't move the result; the π/2 scale
    * and the ratio form once per output row in DOUBLE with the exact
    * op order mirrored in the oracle. Day-scoped lag chain — the
    * (series, day) key grows with data, no hot partitions (q111's
    * layout); two same-key window passes share one sort. */
  def bipowerJump(bars: DataFrame): DataFrame = {
    val dayW = Window.partitionBy(col("series"), col("d")).orderBy(col("bar_ts"))
    def dbl(c: Column) = c.cast(DoubleType)
    val rets = bars
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("prev_c", lag(col("close"), 1).over(dayW))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0)
      .withColumn("r", logRet8dp(col("close"), col("prev_c")))
    val terms = rets
      .withColumn("r_prev", lag(col("r"), 1).over(dayW))
    def dsum(c: Column) = sum(round(c, 12).cast(DecimalType(28, 12)))
    val agg = terms.groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_rets"),
        dsum(col("r") * col("r")).as("srr"),
        count(col("r_prev")).as("m_pairs"),
        dsum(abs(col("r")) * abs(col("r_prev"))).as("sbv"))
    val rv = dbl(col("srr"))
    val bv = lit(math.Pi) / 2 *
      (dbl(col("m_pairs")) / (dbl(col("m_pairs")) - 1)) * dbl(col("sbv"))
    agg.filter(col("m_pairs") >= 2)
      .select(col("series"), col("d"), col("n_rets"), col("m_pairs"),
        round(col("srr"), 10).cast(DoubleType).as("rv"),
        round(bv, 10).as("bv"),
        when(rv > 0, round(greatest(lit(0.0), lit(1.0) - bv / rv), 6))
          .as("jump_frac"))
  }

  /** (1/μ_{4/3})³ with μ_{4/3} = 2^{2/3}·Γ(7/6)/Γ(1/2) — the
    * tri-power quarticity normalizer (E|Z|^{4/3} for standard normal
    * Z). Hardcoded literal (the JVM has no Γ); both engines share the
    * interpolated Double.toString form bit-for-bit. */
  val Mu43Inv3: Double = 1.7434720745319836

  /** θ = (π/2)² + π − 5 — the BNS ratio-test asymptotic variance. */
  val ThetaBns: Double = 0.6089937538621326

  /** BNS jump significance test per (series, day) (Barndorff-Nielsen
    * & Shephard 2006, the Huang–Tauchen relative-jump form):
    * z = (1 − BV/RV) / √(θ·max(1, TQ/BV²)/m) with TQ the tri-power
    * quarticity — [[bipowerJump]] (q181) reports the jump FRACTION;
    * this says whether the day's gap is statistically a jump at all
    * (5% fence 1.644854).
    *
    * Determinism: q181's chain verbatim for RV/BV; the |r|^{4/3}
    * powers expand as exp((4/3)·ln|r|) — exp/ln are bit-identical
    * cross-engine (the q92 precedent), pow() is NOT — with zero
    * returns contributing zero; tri-power terms round 12dp and fold
    * in DECIMAL(28,12); [[Mu43Inv3]]/[[ThetaBns]] are shared
    * literals; the z chain forms once per day, 4dp.
    *
    * Scale: q181's posture — (series, day)-keyed window + one
    * map-side-combined rollup on the same key. */
  def bnsJumpTest(bars: DataFrame): DataFrame = {
    val dayW = Window.partitionBy(col("series"), col("d"))
      .orderBy(col("bar_ts"))
    def dbl(c: Column) = c.cast(DoubleType)
    def dsum(c: Column) = sum(round(c, 12).cast(DecimalType(28, 12)))
    def p43(c: Column) = exp(lit(4.0 / 3.0) * log(abs(c)))
    val terms = bars
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("prev_c", lag(col("close"), 1).over(dayW))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 &&
        col("close") > 0)
      .withColumn("r", logRet8dp(col("close"), col("prev_c")))
      .withColumn("r1", lag(col("r"), 1).over(dayW))
      .withColumn("r2", lag(col("r"), 2).over(dayW))
    val tqTerm = when(col("r2").isNotNull &&
      col("r") =!= 0.0 && col("r1") =!= 0.0 && col("r2") =!= 0.0,
      p43(col("r")) * p43(col("r1")) * p43(col("r2"))).otherwise(0.0)
    val agg = terms.groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("m"),
        dsum(col("r") * col("r")).as("srr"),
        count(col("r1")).as("m_pairs"),
        dsum(abs(col("r")) * abs(col("r1"))).as("sbv"),
        count(col("r2")).as("m_tri"),
        dsum(tqTerm).as("stq"))
    val rv = dbl(col("srr"))
    val bv = lit(math.Pi) / 2 *
      (dbl(col("m_pairs")) / (dbl(col("m_pairs")) - 1)) * dbl(col("sbv"))
    val tq = dbl(col("m")) * lit(Mu43Inv3) *
      (dbl(col("m")) / dbl(col("m_tri"))) * dbl(col("stq"))
    val rj = lit(1.0) - bv / rv
    val z = rj / sqrt(lit(ThetaBns) *
      greatest(lit(1.0), tq / (bv * bv)) / dbl(col("m")))
    agg.filter(col("m") >= 10 && col("m_tri") >= 1 && col("m_pairs") >= 2)
      .select(col("series"), col("d"), col("m").as("n_rets"),
        when(rv > 0, round(rj, 6)).as("rel_jump"),
        when(rv > 0 && bv > 0, round(z, 4)).as("z_bns"))
      .withColumn("jump_5pct",
        when(col("z_bns").isNotNull, col("z_bns") > 1.644854))
  }

  /** Volatility-managed overlay per series (Moreira & Muir 2017):
    * scale each day's exposure by c / RV_{d−1} (the previous day's
    * realized variance; c = the series' median RV so weights center
    * near 1, capped at 2× leverage) and compare the managed daily
    * Sharpe against the raw one — the factor-engineering result that
    * vol-timing raises Sharpe when volatility is persistent but
    * returns are not.
    *
    * Determinism: RV from 12dp DECIMAL folds of 8dp intraday returns
    * (the q358 discipline); daily returns are exact 1e-8 longs; the
    * weight rounds 6dp off the 8dp-rounded RV and median; managed
    * returns round 8dp before their DECIMAL folds; both Sharpes form
    * in one shared double op order, 6dp.
    *
    * Scale: day-keyed RV aggregate + [[dailyR8]] (calendar-bounded
    * windows); |series| rows out. */
  def volManaged(bars: DataFrame, cap: Double = 2.0): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val dayW = Window.partitionBy(col("series"), col("d"))
      .orderBy(col("bar_ts"))
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    // per-day realized variance (q358's rv leg)
    val rv = bars
      .filter(col("close") > 0)
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("pc", lag(col("close"), 1).over(dayW))
      .filter(col("pc").isNotNull)
      .withColumn("r", logRet8dp(col("close"), col("pc")))
      .groupBy(col("series"), col("d"))
      .agg(sum(round(col("r") * col("r"), 12).cast(dec12)).as("srv"))
      .select(col("series"), col("d"),
        round(col("srv"), 8).cast(DoubleType).as("rv"))
    // daily close-to-close returns (the q364 daily chain)
    val daily = dailyR8(bars)
    val joined = daily.join(rv, Seq("series", "d"))
      .withColumn("rv_prev", lag(col("rv"), 1).over(w))
      .filter(col("rv_prev").isNotNull && col("rv_prev") > 0)
    val med = joined.groupBy(col("series"))
      .agg(round(expr("percentile(rv_prev, 0.5)"), 8).as("c"))
    def dsum(c: Column) = sum(round(c, 12).cast(dec12))
    val r = dbl(col("r8")) / lit(1e8)
    val agg = joined.join(broadcast(med), "series")
      .withColumn("wgt", least(round(col("c") / col("rv_prev"), 6),
        lit(cap)))
      .withColumn("mr", round(col("wgt") * r, 8))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        dsum(r).as("sr"), dsum(r * r).as("qr"),
        dsum(col("mr")).as("sm"), dsum(col("mr") * col("mr")).as("qm"),
        dsum(col("wgt")).as("sw"))
    def sharpe(s: Column, q: Column) = {
      val mu = dbl(s) / dbl(col("n_days"))
      val v = (dbl(q) - dbl(s) * dbl(s) / dbl(col("n_days"))) /
        (dbl(col("n_days")) - lit(1.0))
      when(col("n_days") > 1 && v > 0, round(mu / sqrt(v), 6))
    }
    agg.select(col("series"), col("n_days"),
      sharpe(col("sr"), col("qr")).as("sharpe_raw"),
      sharpe(col("sm"), col("qm")).as("sharpe_managed"),
      ExactRound.ratioRound(ExactRound.toUnscaled(col("sw"), 12),
        col("n_days") * lit(1000000000000L), 6).as("mean_weight"))
  }

  /** Jobson–Korkie/Memmel Sharpe-difference test between two aligned
    * series: z = (SR_a − SR_b) / √(θ̂/n) with
    * θ̂ = 2(1 − ρ) + ½(SR_a² + SR_b²)(1 − ρ²) — the formal "is A's
    * Sharpe actually higher" answer the q140 tearsheet eyeballs
    * (Sharpes differ by luck at small n unless the returns are
    * near-uncorrelated).
    *
    * Determinism: both legs' 8dp log returns align on bar_ts; all
    * five co-moments fold 12dp-DECIMAL over natural-unit doubles (the
    * q302 discipline); SRs, ρ, θ̂, z form in one shared double op
    * order, rounded at emission. Degenerate variances null the test.
    *
    * Scale: lags via [[ScalableWindow.withPrevValues]]; one
    * bar_ts-keyed equi-join; one 1-row aggregate. */
  def sharpeDiff(
      bars: DataFrame, seriesA: String, seriesB: String): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val rets = ScalableWindow.withPrevValues(
        bars.filter(col("close") > 0 &&
          col("series").isin(seriesA, seriesB)),
        Seq("series"), Seq("bar_ts"), Seq(("close", "pc")))
      .filter(col("pc").isNotNull)
      .withColumn("r", logRet8dp(col("close"), col("pc")))
      .select(col("series"), col("bar_ts"), col("r"))
    val a = rets.filter(col("series") === seriesA)
      .select(col("bar_ts"), col("r").as("x"))
    val b = rets.filter(col("series") === seriesB)
      .select(col("bar_ts"), col("r").as("y"))
    def dsum(c: Column) = sum(round(c, 12).cast(dec12))
    val m = a.join(b, "bar_ts")
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
    val n = dbl(col("n"))
    val mux = dbl(col("sx")) / n
    val muy = dbl(col("sy")) / n
    val vx = (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / n) /
      (n - lit(1.0))
    val vy = (dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / n) /
      (n - lit(1.0))
    val cxy = (dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / n) /
      (n - lit(1.0))
    val sa = mux / sqrt(vx)
    val sb = muy / sqrt(vy)
    val rho = cxy / (sqrt(vx) * sqrt(vy))
    val theta = lit(2.0) * (lit(1.0) - rho) +
      lit(0.5) * (sa * sa + sb * sb) * (lit(1.0) - rho * rho)
    val z = (sa - sb) / sqrt(theta / n)
    val ok = col("n") > 2 && vx > 0 && vy > 0 && theta > 0
    m.select(lit(s"$seriesA-$seriesB").as("pair"), col("n").as("n_obs"),
      when(vx > 0, round(sa, 6)).as("sharpe_a"),
      when(vy > 0, round(sb, 6)).as("sharpe_b"),
      when(vx > 0 && vy > 0, round(rho, 6)).as("rho"),
      when(ok, round(z, 4)).as("z_jk"))
      .withColumn("differ_5pct",
        when(col("z_jk").isNotNull, abs(col("z_jk")) > 1.959964))
  }

  /** Turn-of-month effect per series: mean 8dp log return on the
    * first/last two calendar days of each month vs all other days —
    * the second classic calendar anomaly next to q202's day-of-week
    * ANOVA (institutional flows cluster at month boundaries).
    *
    * Determinism: exact 8dp returns fold in DECIMAL by bucket; means
    * and the spread round 8dp in one shared op order.
    *
    * Scale: the lag rides [[ScalableWindow.withPrevValues]]; one
    * map-side-combined (series, bucket) rollup; |series| rows out. */
  def turnOfMonth(bars: DataFrame): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val rets = ScalableWindow.withPrevValues(bars.filter(col("close") > 0),
        Seq("series"), Seq("bar_ts"), Seq(("close", "pc")))
      .filter(col("pc").isNotNull)
      .withColumn("r", logRet8dp(col("close"), col("pc")))
      .withColumn("is_turn",
        dayofmonth(col("bar_ts")) <= 2 ||
          dayofmonth(col("bar_ts")) >=
            dayofmonth(last_day(col("bar_ts"))) - 1)
    rets.groupBy(col("series"))
      .agg(sum(when(col("is_turn"), 1L).otherwise(0L)).as("n_turn"),
        sum(when(!col("is_turn"), 1L).otherwise(0L)).as("n_other"),
        sum(when(col("is_turn"), round(col("r"), 12))
          .otherwise(0.0).cast(dec12)).as("st"),
        sum(when(!col("is_turn"), round(col("r"), 12))
          .otherwise(0.0).cast(dec12)).as("so"))
      .select(col("series"), col("n_turn"), col("n_other"),
        when(col("n_turn") > 0,
          ExactRound.ratioRound(ExactRound.toUnscaled(col("st"), 12),
            col("n_turn") * lit(1000000000000L), 8)).as("mean_turn"),
        when(col("n_other") > 0,
          ExactRound.ratioRound(ExactRound.toUnscaled(col("so"), 12),
            col("n_other") * lit(1000000000000L), 8)).as("mean_other"),
        // st/nt - so/no over the common denominator nt*no, exact
        when(col("n_turn") > 0 && col("n_other") > 0,
          ExactRound.ratioRound(ExactRound.toUnscaled(col("st"), 12) * col("n_other") -
            ExactRound.toUnscaled(col("so"), 12) * col("n_turn"),
            col("n_turn") * col("n_other") * lit(1000000000000L), 8))
          .as("tom_spread"))
  }

  /** Cross-sectional momentum portfolio: each day, rank series by the
    * PREVIOUS day's close-to-close return (no look-ahead), go long the
    * top `nSide` and short the bottom `nSide`, and realize today's
    * equal-weighted long/short returns. The daily-rebalanced
    * winners-minus-losers spread — the classic cross-sectional factor
    * backtest shape.
    *
    * Scale: daily closes collapse the bar relation to |series|·|days|
    * rows FIRST ([[dayClose]], one aggregate); every window
    * after that runs on the collapsed relation — the per-day rank key
    * grows with data, and the per-series day chain is |days| rows per
    * partition (q49 small-key class on an already-tiny input). Returns
    * round 8dp before ranking and averaging; leg means DECIMAL-sum
    * rounded terms then divide in DOUBLE (q111's covariance rule). */
  def xsMomentum(bars: DataFrame, nSide: Int = 2): DataFrame = {
    require(nSide >= 1, s"nSide must be >= 1 (got $nSide)")
    val daily = dayClose(bars)
    val serW = Window.partitionBy(col("series")).orderBy(col("d"))
    val withRet = daily
      .withColumn("prev_close", lag(col("close"), 1).over(serW))
      .withColumn("dret",
        when(col("prev_close") > 0,
          round(col("close") / col("prev_close") - 1, 8)))
      .withColumn("signal", lag(col("dret"), 1).over(serW))
      .filter(col("signal").isNotNull && col("dret").isNotNull)
    val dayRank = Window.partitionBy(col("d"))
      .orderBy(col("signal").desc, col("series"))
    val ranked = withRet
      .withColumn("rnk", row_number().over(dayRank))
      .withColumn("n_series",
        count(lit(1)).over(Window.partitionBy(col("d"))))
      .filter(col("n_series") >= 2 * nSide)
      .withColumn("pos",
        when(col("rnk") <= nSide, 1)
          .when(col("rnk") > col("n_series") - nSide, -1)
          .otherwise(0))
    def legSum(p: Int) =
      sum(when(col("pos") === p, col("dret").cast(DecimalType(28, 12))))
    ranked.groupBy(col("d"))
      .agg(max(col("n_series")).as("n_series"),
        legSum(1).as("sl"), legSum(-1).as("ss"))
      .select(col("d"), col("n_series"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sl"), 12),
          lit(nSide.toLong) * lit(1000000000000L), 6).as("long_ret"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("ss"), 12),
          lit(nSide.toLong) * lit(1000000000000L), 6).as("short_ret"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sl"), 12) - ExactRound.toUnscaled(col("ss"), 12),
          lit(nSide.toLong) * lit(1000000000000L), 6).as("ls_spread"))
  }

  /** Historical VaR and expected shortfall per series: the empirical
    * `alpha`-quantile of 8dp log returns (interpolated, q35's exact
    * percentile) and the decimal-exact mean of returns at or below it
    * — the risk numbers every book reports daily. ES averages the
    * 6dp-ROUNDED VaR-tail so the tail-membership comparison is
    * identical cross-engine.
    *
    * The return chain attaches its lag via
    * [[ScalableWindow.withPrevValues]] feeding two growing-key
    * aggregates; the quantile broadcasts back per
    * series for the tail mean. */
  def varEs(bars: DataFrame, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha in (0, 0.5) (got $alpha)")
    val rets = ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "prev_c")))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 &&
        col("close") > 0)
      .select(col("series"),
        logRet8dp(col("close"), col("prev_c")).as("r"))
    val q = rets.groupBy(col("series"))
      .agg(count(lit(1)).as("n_rets"),
        round(expr(s"percentile(r, $alpha)"), 6).as("var_q"))
    rets.join(q, "series")
      .filter(col("r") <= col("var_q"))
      .groupBy(col("series"), col("n_rets"), col("var_q"))
      .agg(count(lit(1)).as("n_tail"),
        sum(col("r").cast(DecimalType(28, 12))).as("sr"))
      .select(col("series"), col("n_rets"),
        col("var_q").as("var_cut"),
        col("n_tail"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sr"), 12),
          col("n_tail") * lit(1000000000000L), 6).as("es"))
  }

  /** Day-of-week effect test: one-way ANOVA of 8dp log returns
    * grouped by weekday, per series — F statistic and η² effect size
    * for the classic calendar-anomaly screen ("are Monday returns
    * different?").
    *
    * Determinism: group sums are DECIMAL over 8dp returns and
    * 12dp-rounded squares (all magnitudes stay exactly
    * double-convertible — the q200 rescaling lesson); the
    * between-group fold Σ S_g²/n_g runs as a SEQUENTIAL
    * sorted-by-group list fold (Spark `aggregate` == DuckDB
    * `list_reduce`, the q101 EWMA convention) because a 7-element
    * double sum through a hash aggregate would be partial-order
    * nondeterministic. Two growing-key shuffles ((series, dow) then
    * series); output |series| rows. The lag routes through
    * [[ScalableWindow.withPrevValues]]. */
  def dowAnova(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val rets = ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "prev_c")))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 &&
        col("close") > 0)
      .select(col("series"),
        (dayofweek(col("bar_ts")) - 1).as("dow"),
        logRet8dp(col("close"), col("prev_c")).as("r"))
    val byG = rets.groupBy(col("series"), col("dow"))
      .agg(count(lit(1)).as("ng"),
        sum(col("r").cast(DecimalType(28, 12))).as("sg"),
        sum(round(col("r") * col("r"), 12).cast(DecimalType(28, 12)))
          .as("qg"))
    val perSeries = byG.groupBy(col("series"))
      .agg(count(lit(1)).as("k_groups"),
        sum(col("ng")).as("n_obs"),
        sum(col("sg")).as("s_all"),
        sum(col("qg")).as("q_all"),
        sort_array(collect_list(struct(col("dow"),
          dbl(col("sg")).as("s"), dbl(col("ng")).as("n")))).as("gs"))
    val ssbPart = aggregate(col("gs"), lit(0.0),
      (acc, g) => acc + g.getField("s") * g.getField("s") / g.getField("n"))
    val sst = dbl(col("q_all")) - dbl(col("s_all")) * dbl(col("s_all")) /
      dbl(col("n_obs"))
    val ssb = ssbPart - dbl(col("s_all")) * dbl(col("s_all")) /
      dbl(col("n_obs"))
    val ssw = sst - ssb
    perSeries
      .withColumn("ssb", ssb)
      .withColumn("ssw", ssw)
      .select(col("series"), col("k_groups"), col("n_obs"),
        when(col("k_groups") > 1 && col("n_obs") > col("k_groups") &&
          col("ssw") > 0,
          round((col("ssb") / (col("k_groups") - 1)) /
            (col("ssw") / (col("n_obs") - col("k_groups"))), 4))
          .as("f_stat"),
        when(sst > 0, round(ssb / sst, 6)).as("eta2"))
  }

  /** Equal-weight portfolio risk decomposition over the aligned
    * series change vector: sample covariance matrix from exact
    * scaled-long Δcloses (q151's 1e6 convention), then each series'
    * variance contribution w·(Σw) and its share of total portfolio
    * variance — "who drives the book's risk".
    *
    * One (bar_ts) pivot aligns the series (rows where any series is
    * missing drop — covariance needs the complete vector); ALL pair
    * co-moments accumulate as exact DECIMAL(38,0) integer sums in ONE
    * aggregate pass; covariances form in DOUBLE from the exact sums
    * (q111 rule), round 10dp, and the per-series fold DECIMAL-sums the
    * rounded values so contribution order can't perturb. Output
    * |series| rows; everything after the pivot is constant-size. */
  def riskDecomposition(
      bars: DataFrame,
      seriesNames: Seq[String]): DataFrame = {
    require(seriesNames.size >= 2, "need at least two series")
    val names = seriesNames.sorted
    def dbl(c: Column) = c.cast(DoubleType)
    val dec0 = DecimalType(38, 0)
    // Δclose chain, one per-series lag
    val pivoted = ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "__pc")))
      .withColumn("d6",
        floor((col("close") - col("__pc")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .filter(col("d6").isNotNull)
      .groupBy(col("bar_ts"))
      .agg(max(when(col("series") === names.head, col("d6")))
          .as(s"x_${names.head}"),
        names.tail.map(s =>
          max(when(col("series") === s, col("d6"))).as(s"x_$s")): _*)
      .filter(names.map(s => col(s"x_$s").isNotNull).reduce(_ && _))
    val pairs = for { i <- names.indices; j <- i until names.size }
      yield (names(i), names(j))
    val sums = pivoted.agg(
      count(lit(1)).as("n"),
      (names.map(s => sum(col(s"x_$s").cast(dec0)).as(s"s_$s")) ++
        pairs.map { case (a, b) =>
          sum((col(s"x_$a") * col(s"x_$b")).cast(dec0)).as(s"p_${a}_$b")
        }): _*)
    // covariances leave the 1e6-scaled-long domain here (/1e12 → price²
    // units) BEFORE rounding: the decimal contribution sums then stay
    // small enough that decimal→double conversion is exact in both
    // engines (a 1e14-magnitude decimal differed by one ulp cross-engine
    // — caught by the sf0.01 gate)
    def cov(a: String, b: String) = round(
      (dbl(col("n")) * dbl(col(s"p_${a}_$b")) -
        dbl(col(s"s_$a")) * dbl(col(s"s_$b"))) /
        (dbl(col("n")) * (dbl(col("n")) - 1)) / lit(1e12), 10)
    // long-form symmetric cov relation off the single sums row — ONE
    // explode leg (a |names|²-branch union scheduled |names|² jobs)
    val longForm = sums.select(explode(array(
        names.flatMap { s =>
          names.map { t =>
            val (a, b) = if (s <= t) (s, t) else (t, s)
            struct(lit(s).as("series"), cov(a, b).as("c"))
          }
        }: _*)).as("__e"))
      .select(col("__e.series").as("series"), col("__e.c").as("c"))
    val w2 = 1.0 / (names.size.toLong * names.size)
    val contrib = longForm.groupBy(col("series"))
      .agg((sum(col("c").cast(DecimalType(38, 10))).cast(DoubleType) *
        lit(w2)).as("contrib_raw"))
    val total = contrib.agg(
      sum(round(col("contrib_raw"), 10).cast(DecimalType(38, 10)))
        .cast(DoubleType).as("port_var"))
    contrib.crossJoin(broadcast(total))
      .select(col("series"),
        round(col("contrib_raw"), 6).as("contribution"),
        round(col("port_var"), 6).as("port_var"),
        when(col("port_var") > 0,
          round(col("contrib_raw") / col("port_var"), 6)).as("pct_share"))
  }

  /** Volatility signature plot: whole-sample realized volatility at
    * several bar sampling scales (5m/15m/30m/1h) — flat when returns
    * are a clean martingale, rising at fine scales under
    * microstructure noise; the diagnostic that picks q92's sampling
    * interval. All four scales run off ONE per-series window pass
    * (see the in-body note: coarse closes are bucket-end fine closes
    * and the previous coarse close is a bucket-end LOCF) with q92's
    * exact return recipe:
    * 8dp log returns, 12dp decimal r² sums, sqrt at emission. Output
    * one row per (series, scale), series absent from a scale it has
    * no returns at (the per-scale-leg contract). */
  def volSignature(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val scales = Seq(
      ("05m", 5L, FiveMinutesMicros),
      ("15m", 15L, 15L * 60 * 1000 * 1000),
      ("30m", 30L, 30L * 60 * 1000 * 1000),
      ("60m", 60L, OneHourMicros))
    // FUSED form (round 10): all four scales off ONE window pass
    // instead of four resample + lag passes. A coarse bar's close is
    // the LAST fine close inside its bucket (bar buckets partition
    // time, so resample's argmax composes exactly); the previous
    // coarse close is a running LOCF over bucket-end rows.
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val withNb = bars.withColumn("__nb", lead(col("bar_ts"), 1).over(w))
    val rCols = scales.map { case (label, _, step) =>
      val isEnd = col("__nb").isNull ||
        timeBucket(col("__nb"), step) =!= timeBucket(col("bar_ts"), step)
      val pc = last(when(isEnd, col("close")), ignoreNulls = true)
        .over(wPrev)
      when(isEnd && pc.isNotNull && pc > 0 && col("close") > 0,
        round(log(col("close") / pc), 8)).as(s"r_$label")
    }
    val rRows = withNb
      .select(col("series") +: rCols: _*)
    val aggExprs = scales.flatMap { case (label, _, _) =>
      Seq(count(col(s"r_$label")).as(s"n_$label"),
        sum((col(s"r_$label") * col(s"r_$label"))
          .cast(DecimalType(28, 12))).as(s"srr_$label"))
    }
    val agg = rRows.groupBy(col("series"))
      .agg(aggExprs.head, aggExprs.tail: _*)
      // A/B-kept: q197 1.12 -> 1.99 s wall without it (median, parent
      // spread 0.22 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    scales.map { case (label, mins, _) =>
      agg.filter(col(s"n_$label") > 0)
        .select(col("series"), lit(label).as("scale"),
          lit(mins).as("scale_min"),
          col(s"n_$label").as("n_rets"),
          round(sqrt(dbl(col(s"srr_$label"))), 6).as("rv"))
    }.reduce(_ unionByName _)
  }

  /** Event study around marker bars: average abnormal return (AAR) and
    * its cumulative path (CAR) at bar offsets −maxOffset..+maxOffset
    * relative to each "event" — the classic announcement-impact curve.
    * Markers are the `markerSeries`' bars whose |8dp log return| ≥
    * `absCut`; every OTHER series contributes its own bar return at
    * each offset (bars share the 5-minute grid, so alignment is an
    * equi-join on bar_ts).
    *
    * Scale: the row index AND the lag ride ONE fused
    * [[ScalableWindow.withSeqPrev]] pass; markers are a filtered
    * sliver and BROADCAST into the offset join; the offset fan-out is
    * a bounded map-side explode (2·maxOffset+1); the (series, idx)
    * join back to returns is one hash join on a growing key; the AAR
    * aggregate and the |series|·offsets CAR window run on the
    * event-aligned slice only. Returns round 8dp before any sum
    * (decimal-accumulated), so AAR/CAR are partial-order-proof. */
  def eventStudy(
      bars: DataFrame,
      markerSeries: String = "error",
      absCut: Double = 0.02,
      maxOffset: Int = 5): DataFrame = {
    require(maxOffset >= 1, s"maxOffset must be >= 1 (got $maxOffset)")
    val rets = ScalableWindow.withSeqPrev(bars, Seq("series"),
        Seq("bar_ts"), "idx", Seq(("close", "prev_c")))
      .withColumn("r8",
        when(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0,
          logRet8dp(col("close"), col("prev_c"))))
      .select(col("series"), col("bar_ts"), col("idx"), col("r8"))
    val markers = rets
      .filter(col("series") === markerSeries && abs(col("r8")) >= absCut)
      .select(col("bar_ts").as("ev_ts"))
    val anchored = rets.filter(col("series") =!= markerSeries)
      .join(broadcast(markers), col("bar_ts") === col("ev_ts"))
      .select(col("series").as("s"), col("idx").as("idx0"),
        explode(sequence(lit(-maxOffset), lit(maxOffset))).as("off"))
    val aligned = anchored
      .join(rets, col("s") === col("series") &&
        rets("idx") === col("idx0") + col("off"))
      .filter(col("r8").isNotNull)
    val aar = aligned.groupBy(col("series"), col("off"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("r8").cast(DecimalType(28, 12))).as("sr"))
      .select(col("series"), col("off"), col("n_obs"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sr"), 12),
          col("n_obs") * lit(1000000000000L), 8).as("aar"))
    val wOff = Window.partitionBy(col("series")).orderBy(col("off"))
      .rowsBetween(Window.unboundedPreceding, 0)
    aar.withColumn("car",
      round(sum(col("aar").cast(DecimalType(28, 12))).over(wOff)
        .cast(DoubleType), 8))
  }

  /** Ljung–Box portmanteau test on the [[acf]] lags: Q = L(L+2)·
    * Σ_k ρ_k²/(L−k) where L is the per-series return count — "is there
    * ANY serial dependence in the first `maxLag` autocorrelations?"
    * Emits Q, the lag count actually used, and the 95% χ² decision for
    * that df (critical values pinned for df 1..5 — both engines CASE
    * on the same literals).
    *
    * Runs entirely on the |series|·maxLag ACF aggregate — the corpus
    * is touched only by [[acf]] itself. ρ is the 6dp-rounded r_acf, so
    * both engines fold identical inputs; ρ²/(L−k) terms round 12dp and
    * DECIMAL-sum before the one DOUBLE scale at emission. */
  def ljungBox(bars: DataFrame, maxLag: Int = 5): DataFrame =
    lbOver(acf(bars, maxLag))

  /** ARCH-effect Ljung–Box: the same portmanteau Q over the ACF of
    * ABSOLUTE changes — the Taylor-effect form of "is volatility
    * clustered", the formal test behind [[archEffect]]'s lag-1
    * screen. |Δ| (not Δ²) keeps the scaled longs linear, so the
    * correlation products stay inside the exact long range the plain
    * ACF already uses. */
  def archLjungBox(bars: DataFrame, maxLag: Int = 5): DataFrame =
    lbOver(acfBase(bars, maxLag, useAbs = true))

  /** Newey–West (HAC) t-statistic of the mean 1-bar close change per
    * series: x̄ / √(lrv/n) with
    * lrv = γ̂₀ + 2 Σ_{k=1..L} (1 − k/(L+1)) γ̂_k, the Bartlett-kernel
    * long-run variance over full-sample-mean autocovariances — "is
    * the drift real once serial correlation is priced in", the
    * inference companion to the ACF profile (q151 says returns
    * correlate; this says what that correlation does to the mean's
    * standard error). The Bartlett kernel keeps lrv ≥ 0 up to fp
    * dust, guarded at emission; t is scale-free so the d6 units
    * cancel.
    *
    * Mechanics ride the [[acf]] chain exactly: exact scaled-long
    * Δcloses, ALL lags off ONE per-series window sort, and a k = 0..L stack whose k = 0 row doubles as the
    * full-sample Σx / Σx² — one map-side-combined (series, k)
    * aggregate feeds everything. γ̂_k assembles from the exact
    * DECIMAL pair sums in one shared double op order:
    * γ̂_k = (Σxy − x̄(Σx + Σy) + n_k·x̄²)/n; weights are the
    * engine-identical expression 1 − k/(L+1); series shorter than a
    * lag coalesce that γ̂ to 0.
    *
    * Scale: identical posture to [[acf]] — per-(series, day) window
    * tasks + one (series, k) aggregate; output is |series| rows. */
  def neweyWest(bars: DataFrame, maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    val d = bars
      .withColumn("d6",
        floor((col("close") - lag(col("close"), 1).over(w)) * lit(1e6) +
          lit(0.5)).cast("long"))
      .filter(col("d6").isNotNull)
    val withLags = d.select(
      col("series") +: col("d6") +:
        (1 to maxLag).map(k => lag(col("d6"), k).over(w).as(s"y$k")): _*)
    val stacked = withLags
      .select(col("series"), col("d6").as("x"),
        expr(s"stack(${maxLag + 1}, 0, d6, " +
          (1 to maxLag).map(k => s"$k, y$k").mkString(", ") +
          ") as (k, y)"))
    val cells = stacked.filter(col("y").isNotNull)
      .groupBy(col("series"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"))
    def pick(c: String, kk: Int) =
      sum(when(col("k") === kk, col(c)))
    val aggCols: Seq[Column] =
      pick("sx", 0).as("sx0") +: pick("sxy", 0).as("sxx0") +:
        (1 to maxLag).flatMap(k => Seq(
          pick("n", k).cast(LongType).as(s"n$k"),
          pick("sx", k).as(s"sx$k"),
          pick("sy", k).as(s"sy$k"),
          pick("sxy", k).as(s"sxy$k")))
    val per = cells.groupBy(col("series"))
      .agg(pick("n", 0).cast(LongType).as("m"), aggCols: _*)
    val md = dbl(col("m"))
    val xbar = dbl(col("sx0")) / md
    val g0 = (dbl(col("sxx0")) - dbl(col("sx0")) * dbl(col("sx0")) / md) / md
    def gk(k: Int) = coalesce(
      (dbl(col(s"sxy$k")) - xbar * (dbl(col(s"sx$k")) + dbl(col(s"sy$k"))) +
        dbl(col(s"n$k")) * xbar * xbar) / md,
      lit(0.0))
    val tail = (1 to maxLag)
      .map(k => (lit(1.0) - lit(k.toDouble) / lit((maxLag + 1).toDouble)) *
        gk(k))
      .reduce(_ + _)
    val lrv = g0 + lit(2.0) * tail
    val t = xbar / sqrt(lrv / md)
    per.select(col("series"), col("m").as("n_obs"),
        when(col("m") > 0, round(xbar / lit(1e6), 6)).as("mean_chg"),
        when(col("m") >= 2 && lrv > 0, round(t, 6)).as("t_nw"))
      .withColumn("significant",
        when(col("t_nw").isNotNull, abs(col("t_nw")) > 1.959964))
  }

  /** Theil–Sen robust trend per series: the exact MEDIAN of all
    * pairwise daily-close slopes (close_b − close_a)/(days between) —
    * the outlier-immune trend line next to the OLS slopes (q121):
    * a single flash-crash day drags least-squares but moves the
    * slope median by at most one rank.
    *
    * Bars collapse to daily closes FIRST ([[dayClose]], the q182
    * argmax-by-struct idiom), so the pair set is |days|² per series —
    * bounded by the CALENDAR horizon, not by corpus size: more data
    * at 100 TB means more series and denser bars, not more days, and
    * the day collapse happens map-side-combined before any pairing. Slopes snap to
    * exact 6dp scaled longs; the median comes off the slope SPECTRUM
    * via the [[ScalableRank]] keyed prefix (never a per-series sort
    * of raw pairs), lo/hi middle ranks interpolate as
    * (vlo + vhi)/2e6 — exact integer math until the final division. */
  def theilSen(bars: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = requireDayHorizon(dayClose(bars),
      "theilSen", "subsample the pair set (the standard large-n variant)")
    val a = daily.select(col("series"), col("d").as("da"),
      col("close").as("ca"))
    val b = daily.select(col("series"), col("d").as("db"),
      col("close").as("cb"))
    val pairs = a.join(b, Seq("series"))
      .filter(col("da") < col("db"))
      .withColumn("s6",
        floor((col("cb") - col("ca")) /
          datediff(col("db"), col("da")).cast(DoubleType) * lit(1e6) +
          lit(0.5)).cast("long"))
    val cells = pairs.groupBy(col("series"), col("s6"))
      .agg(count(lit(1)).as("c"))
    val cum = ScalableRank.cumSum(cells, Seq("series"), Seq(col("s6")),
      col("c").cast(DecimalType(38, 0)), "cum")
    val np = cells.groupBy(col("series")).agg(sum(col("c")).as("np"))
    cum.join(broadcast(np), "series")
      .groupBy(col("series"))
      .agg(max(col("np")).as("n_pairs"),
        min(when(col("cum") >=
            floor((col("np") + 1).cast(DoubleType) / 2.0).cast(dec),
          col("s6"))).as("vlo"),
        min(when(col("cum") >=
            (floor(col("np").cast(DoubleType) / 2.0) + 1).cast(dec),
          col("s6"))).as("vhi"))
      .select(col("series"), col("n_pairs"),
        ((col("vlo") + col("vhi")).cast(DoubleType) / lit(2e6))
          .as("theil_sen"))
  }

  /** Mann–Kendall trend test per series — the SIGNIFICANCE companion
    * to [[theilSen]]'s slope: S = Σ_{i<j} sgn(close_j − close_i) over
    * all ordered daily-close pairs, tie-corrected
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    * continuity-corrected z = (S∓1)/√Var — the distribution-free "is
    * this series actually drifting" answer (q121's OLS t assumes
    * linearity + normal errors; this assumes nothing).
    *
    * Determinism: sgn on the raw double closes is exact (both engines
    * subtract identical parquet doubles), so S and the tie census are
    * pure integers; Var forms in DECIMAL and divides by 18 once; z is
    * one shared double op order rounded 6dp.
    *
    * Scale: the [[theilSen]] posture verbatim — bars collapse to
    * |days| closes per series FIRST ([[dayClose]]), so
    * the pair join is bounded by the CALENDAR horizon squared, not by
    * corpus size; the tie census is one more |series|·|days|-sized
    * aggregate off the same checkpointed relation. */
  def mannKendall(bars: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    val daily = requireDayHorizon(dayClose(bars),
      "mannKendall", "derive S from the rank histogram instead of raw pairs")
    val a = daily.select(col("series"), col("d").as("da"),
      col("close").as("ca"))
    val b = daily.select(col("series"), col("d").as("db"),
      col("close").as("cb"))
    val sAgg = a.join(b, Seq("series"))
      .filter(col("da") < col("db"))
      .groupBy(col("series"))
      .agg(sum(signum(col("cb") - col("ca")).cast(LongType)).as("s"),
        count(lit(1)).as("n_pairs"))
    // per-term products stay in LONG (calendar-bounded: t, n ≤ |days|,
    // so n³ ≪ 2⁶³) and cast to DECIMAL once — neither engine then
    // widens a DECIMAL(38)×DECIMAL(38) product past its 38 cap
    val ties = daily.groupBy(col("series"), col("close"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("series"))
      .agg(sum(col("t")).as("n"),
        sum((col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .cast(dec)).as("tt"))
    val varS = dbl(
      (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)).cast(dec) -
        col("tt")) / lit(18.0)
    val z = when(col("s") > 0, (dbl(col("s")) - 1) / sqrt(varS))
      .when(col("s") < 0, (dbl(col("s")) + 1) / sqrt(varS))
      .otherwise(lit(0.0))
    sAgg.join(ties, "series")
      .select(col("series"), col("n").as("n_days"), col("n_pairs"),
        col("s"),
        when(varS > 0, round(z, 6)).as("z_mk"))
      .withColumn("trend",
        when(col("z_mk").isNull, lit("flat"))
          .when(col("z_mk") > 1.959964, lit("up"))
          .when(col("z_mk") < -1.959964, lit("down"))
          .otherwise(lit("none")))
  }

  /** Two-scale realized variance (Zhang–Mykland–Aït-Sahalia 2005) per
    * (series, day): the microstructure-noise-robust estimate
    * TSRV = (1/K)·Σ_k RV_slow^(k) − (n̄/n)·RV_fast with K = `k`,
    * n̄ = (n − K + 1)/K — next to q92's plain realized vol (which the
    * bid-ask bounce biases UP as sampling gets finer, the reason the
    * two-scale correction exists).
    *
    * The K subsample grids never materialize: every k-bar return
    * belongs to exactly ONE grid, so Σ_k RV_slow^(k) is just the sum
    * of squared k-lag returns — one extra `lag(k)` on the SAME
    * (series, day) window sort that produces the 1-bar returns.
    *
    * Determinism (q92 rules): returns round 8dp BEFORE squaring,
    * squares fold as DECIMAL(28,12), the debias forms in one shared
    * double op order, negative estimates clamp to 0 (the standard ZMA
    * finish), √ then rounds 6dp.
    *
    * Scale: one (series, day) window — the partition KEY grows with
    * data, so tasks stay day-sized at any corpus size; everything
    * after is a same-key aggregate (map-side combined). */
  def tsrv(bars: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 2, s"subsample count must be >= 2 (got $k)")
    def dbl(c: Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("series"), col("d"))
      .orderBy(col("bar_ts"))
    val r = bars
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("p1", lag(col("close"), 1).over(w))
      .withColumn("pk", lag(col("close"), k).over(w))
      .withColumn("r1",
        when(col("p1") > 0 && col("close") > 0,
          logRet8dp(col("close"), col("p1"))))
      .withColumn("rk",
        when(col("pk") > 0 && col("close") > 0,
          logRet8dp(col("close"), col("pk"))))
    val agg = r.groupBy(col("series"), col("d"))
      .agg(
        sum(when(col("r1").isNotNull, 1L).otherwise(0L)).as("n"),
        sum((col("r1") * col("r1")).cast(DecimalType(28, 12)))
          .as("rv_fast"),
        sum((col("rk") * col("rk")).cast(DecimalType(28, 12)))
          .as("sum_slow"))
    val nd = dbl(col("n"))
    val tsrvRaw = dbl(col("sum_slow")) / lit(k.toDouble) -
      (nd - lit(k.toDouble) + 1) / lit(k.toDouble) / nd *
        dbl(col("rv_fast"))
    agg.select(col("series"), col("d"), col("n").as("n_rets"),
      round(sqrt(dbl(col("rv_fast"))), 6).as("rv"),
      // raw signed estimate kept alongside: on noise-dominated days
      // the clamp below floors to 0 by design (ZMA), and the raw
      // value says HOW noise-dominated
      when(col("sum_slow").isNotNull && col("n") > k,
        round(tsrvRaw, 6)).as("tsrv_raw"),
      when(col("sum_slow").isNotNull && col("n") > k,
        round(sqrt(when(tsrvRaw > 0, tsrvRaw).otherwise(lit(0.0))), 6))
        .as("tsrv_vol"))
  }

  /** AR(1) mean-reversion fit per series on daily closes:
    * close_t = α + ρ·close_{t−1} + ε via the q121 exact-co-moment
    * OLS; ρ < 1 ⇒ an OU-style reverting level with reversion speed
    * κ = −ln ρ per day and half-life ln 2 / κ — the per-series
    * companion to the PAIR-spread half-life
    * (`PairAnalytics.spreadHalfLife`): q318 asks IF the level drifts,
    * this asks how fast it FORGETS shocks.
    *
    * Determinism: per-term products of raw parquet doubles cast to
    * DECIMAL(28,6) before summing (the q121 olsFit rule — both
    * engines multiply identical doubles), ρ/κ/half-life form in one
    * shared double op order rounded 6dp; κ only for 0 < ρ < 1.
    *
    * Scale: the q182 posture — bars collapse ([[dayClose]]) to
    * |series|·|days| daily closes before the lag; one growing-key
    * aggregate after. */
  def ar1MeanReversion(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    def dsum(e: Column) = sum(e.cast(DecimalType(28, 6)))
    val daily = dayClose(bars)
    val ws = Window.partitionBy(col("series")).orderBy(col("d"))
    val p = daily
      .withColumn("px", lag(col("close"), 1).over(ws))
      .filter(col("px").isNotNull)
    val g = p.groupBy(col("series")).agg(
      count(lit(1)).as("n"),
      dsum(col("px")).as("sx"),
      dsum(col("close")).as("sy"),
      dsum(col("px") * col("close")).as("sxy"),
      dsum(col("px") * col("px")).as("sxx"))
    val n = dbl(col("n"))
    val num = n * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val den = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val rho = num / den
    val kappa = -log(rho)
    g.select(col("series"), col("n").as("n_days"),
        when(den > 0, round(rho, 6)).as("rho"),
        when(den > 0 && rho > 0 && rho < 1, round(kappa, 6)).as("kappa"),
        when(den > 0 && rho > 0 && rho < 1,
          round(log(lit(2.0)) / kappa, 4)).as("half_life_days"))
      .withColumn("mean_reverting",
        when(col("rho").isNotNull, col("rho") < 1))
  }

  /** Daily rank information coefficient of the 1-day-reversal signal:
    * per day, the cross-sectional Spearman correlation between each
    * series' return today and its return TOMORROW, then the panel
    * summary (mean IC, std, t = mean/(std/√T), hit rate) — THE
    * standard factor-evaluation metric (does today's ranking carry
    * information about tomorrow's), completing q182's winners-minus-
    * losers backtest with the statistician's view of the same signal.
    *
    * Midranks come from the q297 doubled-integer idiom
    * (2·rank_min + t − 1), so every per-day moment is an exact
    * integer; IC is the Pearson formula over those integers in one
    * shared double op order rounded 6dp; the panel folds the 6dp ICs
    * as DECIMAL so partial-aggregation order cannot perturb the mean
    * or the co-moment.
    *
    * Scale: bars collapse to daily closes FIRST ([[dayClose]], q182);
    * the return
    * chain runs per series over |days| rows; the rank windows
    * partition by DAY — a key whose cardinality grows with data (the
    * q93 rule), each day holding |series| rows. */
  def rankIc(bars: DataFrame): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val decL = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    val daily = dayClose(bars)
    val ws = Window.partitionBy(col("series")).orderBy(col("d"))
    val rets = daily
      .withColumn("pc", lag(col("close"), 1).over(ws))
      .filter(col("pc") > 0 && col("close") > 0)
      .select(col("series"), col("d"),
        logRet8dp(col("close"), col("pc")).as("r"))
      .withColumn("fr", lead(col("r"), 1).over(ws))
      .filter(col("fr").isNotNull)
    def m2(v: String): Column = {
      val rk = rank().over(Window.partitionBy(col("d")).orderBy(col(v)))
      val t = count(lit(1))
        .over(Window.partitionBy(col("d"), col(v)))
      lit(2) * rk + t - 1
    }
    val ranked = rets.select(col("d"),
      m2("r").cast(LongType).as("x"), m2("fr").cast(LongType).as("y"))
    val perDay = ranked.groupBy(col("d"))
      .agg(count(lit(1)).as("nc"),
        sum(col("x").cast(decL)).as("sx"),
        sum(col("y").cast(decL)).as("sy"),
        sum((col("x") * col("y")).cast(decL)).as("sxy"),
        sum((col("x") * col("x")).cast(decL)).as("sxx"),
        sum((col("y") * col("y")).cast(decL)).as("syy"))
    val n = dbl(col("nc"))
    val covn = n * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val vx = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val vy = n * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val ics = perDay
      .select(col("d"),
        when(col("nc") >= 2 && vx > 0 && vy > 0,
          round(covn / sqrt(vx * vy), 6)).as("ic"))
      .filter(col("ic").isNotNull)
    val tDays = dbl(col("t_days"))
    val meanIc = dbl(col("s_ic")) / tDays
    val varIc = (dbl(col("s_ic2")) - dbl(col("s_ic")) * dbl(col("s_ic")) /
      tDays) / (tDays - 1)
    ics.agg(count(lit(1)).as("t_days"),
        sum(col("ic").cast(DecimalType(18, 6))).as("s_ic"),
        sum((col("ic") * col("ic")).cast(dec12)).as("s_ic2"),
        sum(when(col("ic") > 0, 1L).otherwise(0L)).as("n_pos"))
      .select(col("t_days"),
        round(meanIc, 6).as("mean_ic"),
        when(col("t_days") >= 2 && varIc > 0,
          round(sqrt(varIc), 6)).as("sd_ic"),
        when(col("t_days") >= 2 && varIc > 0,
          round(meanIc / (sqrt(varIc) / sqrt(tDays)), 6)).as("ic_t"),
        ExactRound.ratioRound(col("n_pos"), col("t_days"), 6)
          .as("hit_rate"))
  }

  private def lbOver(acfDf: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    // at lag k the pair count n = L − k, so L = n + k on every row
    val base = acfDf
      .filter(col("r_acf").isNotNull)
      .withColumn("l_obs", col("n") + col("k"))
    val crit = // χ²(df, 0.95), df = number of lags summed
      when(col("df_used") === 1, 3.8415)
        .when(col("df_used") === 2, 5.9915)
        .when(col("df_used") === 3, 7.8147)
        .when(col("df_used") === 4, 9.4877)
        .otherwise(11.0705)
    base.groupBy(col("series"))
      .agg(max(col("l_obs")).as("l_obs"),
        count(lit(1)).as("df_used"),
        sum(round(col("r_acf") * col("r_acf") / col("n"), 12)
          .cast(DecimalType(28, 12))).as("sterm"))
      .select(col("series"), col("l_obs"), col("df_used"),
        round(dbl(col("l_obs")) * (dbl(col("l_obs")) + 2) *
          dbl(col("sterm")), 4).as("q_stat"))
      .withColumn("reject_white", col("q_stat") > crit)
  }

  /** Average True Range (Wilder's TR, Cutler-style SMA smoothing):
    * TR = max(high − low, |high − prev_close|, |low − prev_close|)
    * captures gap risk the plain high−low range misses; ATR is the
    * trailing `period`-bar mean of TR — the position-sizing / stop
    * width primitive next to RSI (q133) and the candle screen (q126).
    *
    * Determinism (the q90 rule): TR snaps to an exact scaled long via
    * floor(tr·1e6 + 0.5) — greatest/abs on identical doubles is
    * bit-identical first — the window sum folds in pure long
    * arithmetic, and the final mean floors at 6dp. Rows before a full
    * `period` of TRs (the first bar has no prev_close) emit null.
    *
    * Scale: one per-series trailing frame. */
  def atr(bars: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 1, s"period must be >= 1 (got $period)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(period - 1), 0)
    bars
      .withColumn("pc", lag(col("close"), 1).over(w))
      .withColumn("tr6",
        when(col("pc").isNotNull,
          floor(greatest(
            col("high") - col("low"),
            abs(col("high") - col("pc")),
            abs(col("low") - col("pc"))) * lit(1e6) + lit(0.5))
            .cast("long")))
      .withColumn("nt",
        sum(when(col("tr6").isNotNull, 1L).otherwise(0L)).over(frame))
      .withColumn("st", sum(col("tr6")).over(frame))
      .select(col("series"), col("bar_ts"), col("close"),
        when(col("nt") === period,
          floor(col("st").cast(DoubleType) / lit(period.toDouble) +
            lit(0.5)) / lit(1e6)).as("atr"))
  }

  /** Stochastic oscillator %K/%D: %K = 100·(close − LL)/(HH − LL)
    * with LL/HH the trailing `period`-bar low/high extremes, %D the
    * 3-bar simple mean of %K — WHERE the close sits inside its recent
    * range, the overbought/oversold screen complementing RSI's
    * velocity view.
    *
    * Determinism: LL/HH are exact (min/max of raw doubles), %K snaps
    * to a scaled long via floor(q·1e6 + 0.5) (identical IEEE quotient
    * first), and %D re-averages THOSE longs — exact integer sum, one
    * double division, one floor. A degenerate flat window (HH = LL)
    * pins %K to the 50 midpoint (the q133 convention). Warm-up rows
    * (< period bars, or < 3 %K values for %D) emit nulls.
    *
    * Scale: two nested per-series trailing frames. */
  def stochastic(bars: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 1, s"period must be >= 1 (got $period)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(period - 1), 0)
    val d3 = w.rowsBetween(-2, 0)
    bars
      .withColumn("nb", count(lit(1)).over(frame))
      .withColumn("ll", min(col("low")).over(frame))
      .withColumn("hh", max(col("high")).over(frame))
      .withColumn("k6",
        when(col("nb") === period,
          when(col("hh") > col("ll"),
            floor(lit(100.0) * (col("close") - col("ll")) /
              (col("hh") - col("ll")) * lit(1e6) + lit(0.5)).cast("long"))
            .otherwise(lit(50000000L))))
      .withColumn("nk",
        sum(when(col("k6").isNotNull, 1L).otherwise(0L)).over(d3))
      .withColumn("sk", sum(col("k6")).over(d3))
      .select(col("series"), col("bar_ts"), col("close"),
        (col("k6").cast(DoubleType) / lit(1e6)).as("pct_k"),
        when(col("nk") === 3,
          floor(col("sk").cast(DoubleType) / lit(3.0) + lit(0.5)) /
            lit(1e6)).as("pct_d"))
  }

  /** Overnight-vs-intraday return split: each (series, day) collapses
    * to its first open and last close; the overnight leg is
    * open_d / close_{d−1} − 1 (the close-to-open gap), the intraday
    * leg close_d / open_d − 1 — the classic decomposition showing
    * WHERE a series earns its return (gaps vs session drift).
    *
    * Determinism: first/last collapse via min_by/max_by on the unique
    * bar_ts (arg_min/arg_max in the twin), each leg snaps to a scaled
    * long via floor(r·1e6 + 0.5) on identical double quotients, and
    * the per-series means re-divide the exact long sums once. Zero /
    * non-positive anchors null the leg (the q05 log guard class).
    *
    * Scale: one (series, day) map-side-combined aggregate, one
    * per-series day-ordered lag (tiny — |series|·|days| rows), one
    * final rollup. The corpus-sized relation is touched once. */
  def overnightIntraday(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val daily = bars
      .withColumn("d", to_date(col("bar_ts")))
      .groupBy(col("series"), col("d"))
      .agg(min_by(col("open"), col("bar_ts")).as("day_open"),
        max_by(col("close"), col("bar_ts")).as("day_close"))
    daily
      .withColumn("pc", lag(col("day_close"), 1).over(w))
      .withColumn("on6",
        when(col("pc") > 0 && col("day_open") > 0,
          floor((col("day_open") / col("pc") - lit(1.0)) * lit(1e6) +
            lit(0.5)).cast("long")))
      .withColumn("in6",
        when(col("day_open") > 0 && col("day_close") > 0,
          floor((col("day_close") / col("day_open") - lit(1.0)) * lit(1e6) +
            lit(0.5)).cast("long")))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("on6").isNotNull, 1L).otherwise(0L)).as("n_on"),
        sum(col("on6")).as("s_on"),
        sum(when(col("in6").isNotNull, 1L).otherwise(0L)).as("n_in"),
        sum(col("in6")).as("s_in"))
      .select(col("series"), col("n_days"),
        when(col("n_on") > 0,
          floor(dbl(col("s_on")) / dbl(col("n_on")) + lit(0.5)) / lit(1e6))
          .as("avg_overnight"),
        when(col("n_in") > 0,
          floor(dbl(col("s_in")) / dbl(col("n_in")) + lit(0.5)) / lit(1e6))
          .as("avg_intraday"))
  }

  /** Aroon(up/down): 100·(p − bars-since-extreme)/p over the trailing
    * `period`-bar frame — how RECENTLY the window high/low printed,
    * the trend-freshness gauge complementing [[stochastic]]'s
    * where-in-range view.
    *
    * Determinism: highs/lows snap to scaled longs, the extreme's
    * POSITION comes from a lexicographic struct extreme over (price6,
    * seq) — max picks the most recent equal high, min the EARLIEST
    * equal low, identically in both engines (the q174 struct-argmax
    * rule); bars-since is pure integer math and the final percentage
    * floors at 4dp from one identical double quotient.
    *
    * Scale: one per-series window pass. */
  def aroon(bars: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2 (got $period)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(period - 1), 0)
    def pct(bs: Column) =
      floor(lit(100.0) * (lit(period.toDouble) - bs.cast(DoubleType)) /
        lit(period.toDouble) * lit(1e4) + lit(0.5)) / lit(1e4)
    bars
      .withColumn("h6", floor(col("high") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("l6", floor(col("low") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("seq", row_number().over(w))
      .withColumn("nb", count(lit(1)).over(frame))
      .withColumn("hseq",
        max(struct(col("h6").as("p"), col("seq").as("s"))).over(frame)("s"))
      .withColumn("lseq",
        min(struct(col("l6").as("p"), col("seq").as("s"))).over(frame)("s"))
      .select(col("series"), col("bar_ts"), col("close"),
        when(col("nb") === period, pct(col("seq") - col("hseq")))
          .as("aroon_up"),
        when(col("nb") === period, pct(col("seq") - col("lseq")))
          .as("aroon_down"))
  }

  /** Money Flow Index: volume-weighted RSI — typical price
    * (h+l+c)/3 classifies each bar's raw money flow (tp·volume) as
    * positive/negative by the tp direction, and
    * MFI = 100·pos/(pos+neg) over the trailing `period` flows. The
    * "is the move carrying volume" confirmation next to [[rsi]].
    *
    * Determinism: tp snaps to a scaled long for the DIRECTION compare
    * (exact), each flow snaps via floor(tp·volume·1e4 + 0.5) (one
    * identical double product), window sums fold in long arithmetic,
    * and the final quotient floors at 6dp; a zero-flow window emits
    * the 50 midpoint (q133 convention); warm-up (< period direction
    * observations) emits null. */
  def mfi(bars: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 1, s"period must be >= 1 (got $period)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(period - 1), 0)
    val q = lit(100.0) * col("pf").cast(DoubleType) /
      (col("pf") + col("nf")).cast(DoubleType)
    bars
      .withColumn("tp", (col("high") + col("low") + col("close")) / lit(3.0))
      .withColumn("tp6", floor(col("tp") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("dtp", col("tp6") - lag(col("tp6"), 1).over(w))
      .withColumn("flow4",
        floor(col("tp") * col("volume") * lit(1e4) + lit(0.5)).cast("long"))
      .withColumn("nd",
        sum(when(col("dtp").isNotNull, 1L).otherwise(0L)).over(frame))
      .withColumn("pf",
        sum(when(col("dtp") > 0, col("flow4")).otherwise(0L)).over(frame))
      .withColumn("nf",
        sum(when(col("dtp") < 0, col("flow4")).otherwise(0L)).over(frame))
      .select(col("series"), col("bar_ts"), col("close"),
        when(col("nd") === period,
          when(col("pf") + col("nf") > 0,
            floor(q * lit(1e6) + lit(0.5)) / lit(1e6))
            .otherwise(lit(50.0)))
          .as("mfi"))
  }

  /** Chaikin Money Flow: the volume-weighted close-location sum
    * CMF = Σ(mfm·vol) / Σvol over the trailing `period` bars, with
    * mfm = ((c−l) − (h−c))/(h−l) ∈ [−1, 1] (0 on a degenerate h = l
    * bar) — WHERE inside the bar the volume traded, the
    * accumulation/distribution read.
    *
    * Determinism: each mfm·vol term and each vol snap to scaled longs
    * (identical double products first), both window sums fold in long
    * arithmetic, one floor-form 6dp quotient. */
  def cmf(bars: DataFrame, period: Int = 20): DataFrame = {
    require(period >= 1, s"period must be >= 1 (got $period)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(period - 1), 0)
    val mfm = when(col("high") > col("low"),
      ((col("close") - col("low")) - (col("high") - col("close"))) /
        (col("high") - col("low"))).otherwise(lit(0.0))
    bars
      .withColumn("mfv4",
        floor(mfm * col("volume") * lit(1e4) + lit(0.5)).cast("long"))
      .withColumn("vol4",
        floor(col("volume") * lit(1e4) + lit(0.5)).cast("long"))
      .withColumn("nb", count(lit(1)).over(frame))
      .withColumn("smf", sum(col("mfv4")).over(frame))
      .withColumn("svol", sum(col("vol4")).over(frame))
      .select(col("series"), col("bar_ts"), col("close"),
        when(col("nb") === period && col("svol") > 0,
          floor(col("smf").cast(DoubleType) / col("svol").cast(DoubleType) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("cmf"))
  }

  /** Bollinger bands + %B over the trailing `period` closes: middle =
    * SMA, bands = ±`k`·σ (population), %B = (close − lower)/(upper −
    * lower) — the mean-reversion position gauge generalizing the q06
    * z-score to a banded display.
    *
    * Determinism (the q139 variance discipline): closes snap to exact
    * 1e-6 longs, (n, Σx, Σx²) fold DECIMAL-exact, mean and population
    * variance form in ONE double op order shared with the oracle, and
    * each output rounds 6dp at emission. Warm-up rows drop (the frame
    * must be full); a flat window (σ = 0) nulls %B only. */
  def bollinger(bars: DataFrame, period: Int = 20, k: Double = 2.0): DataFrame = {
    require(period >= 2, s"period must be >= 2 (got $period)")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(period - 1), 0)
    bars
      .withColumn("c6", floor(col("close") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("nb", count(lit(1)).over(frame))
      .withColumn("s1", sum(col("c6").cast(dec)).over(frame))
      .withColumn("s2", sum((col("c6") * col("c6")).cast(dec)).over(frame))
      .filter(col("nb") === period)
      .withColumn("mid", dbl(col("s1")) / dbl(col("nb")) / lit(1e6))
      .withColumn("sd",
        sqrt((dbl(col("nb")) * dbl(col("s2")) - dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("nb")) * dbl(col("nb")))) / lit(1e6))
      .select(col("series"), col("bar_ts"), col("close"),
        round(col("mid"), 6).as("bb_mid"),
        round(col("mid") + lit(k) * col("sd"), 6).as("bb_upper"),
        round(col("mid") - lit(k) * col("sd"), 6).as("bb_lower"),
        when(col("sd") > 0,
          round((col("close") - (col("mid") - lit(k) * col("sd"))) /
            (lit(2.0 * k) * col("sd")), 6)).as("pct_b"))
  }

  /** Return-moment term structure (aggregational Gaussianity): mean /
    * variance / skew / kurtosis of h-bar returns at several horizons —
    * the stylized-fact panel showing fat tails washing out as h grows,
    * the moment companion to [[volCone]]'s dispersion view and q197's
    * signature plot.
    *
    * Determinism: 1-bar returns snap to exact 1e-8 longs and h-bar
    * returns are exact long window sums. Raw-power moments of those
    * magnitudes overflow every fixed-point range on a jumpy series
    * (x⁴ reaches 1e25), so the op STANDARDIZES first: mean/variance
    * come from the exact (n, Σx, Σx²) decimal pass, each observation
    * becomes z = (x − μ)/σ in one identical double op order, and
    * skew = mean(z³) / kurt = mean(z⁴) − 3 fold from 12dp-rounded
    * z-power terms DECIMAL-summed (z is O(1..10), so the powers stay
    * tame and order-free).
    *
    * Scale: one return relation serves every horizon
    * (one per-series sort); the per-group stats are a tiny broadcast
    * back; both passes are map-side-combined aggregates. */
  def horizonMoments(
      bars: DataFrame,
      horizons: Seq[Int] = Seq(1, 6, 24)): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_ >= 1), "horizons must be >= 1")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    // the q139 rule: the validity filter drops rows, so frame
    // positions count on the FILTERED relation; one return relation
    // feeds every horizon's frame
    val withR = barR8(bars)
      // A/B-kept: q250 1.60 -> 2.92 s wall without it (median, parent
      // spread 0.25 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val w2 = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    // NOTE (r11): a fused one-sort + struct-explode form was measured
    // at 2.92 s vs this union form's 2.66 s at sf0.1 — the explode
    // breaks whole-stage codegen around the window scans (the q241/
    // q250 struct-wrapping regression, reconfirmed). Keep the union.
    val perH = horizons.map { h =>
      val frame = w2.rowsBetween(-(h - 1), 0)
      withR
        .withColumn("nb", count(col("r8")).over(frame))
        .withColumn("rh8", sum(col("r8")).over(frame))
        .filter(col("nb") === h)
        .select(col("series"), lit(h).as("horizon"), col("rh8"))
    }
    // A/B-kept: q250 1.60 -> 2.92 s wall without it (median, parent
    // spread 0.25 s; PerfProbe sf0.1, local[4], 8 runs a side)
    val xs = perH.reduce(_.unionByName(_)).localCheckpoint(eager = false)
    val stats = xs.groupBy(col("series"), col("horizon"))
      .agg(count(lit(1)).as("n"),
        sum(col("rh8").cast(dec)).as("s1"),
        sum(col("rh8").cast(dec) * col("rh8").cast(dec)).as("s2"))
      .withColumn("mu8", dbl(col("s1")) / dbl(col("n")))
      .withColumn("var8",
        (dbl(col("n")) * dbl(col("s2")) - dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("n")) * dbl(col("n"))))
      .withColumn("sd8", sqrt(col("var8")))
      .select(col("series"), col("horizon"), col("n"), col("mu8"),
        col("var8"), col("sd8"))
    val z = (dbl(col("rh8")) - col("mu8")) / col("sd8")
    xs.join(broadcast(stats), Seq("series", "horizon"))
      .withColumn("z3",
        when(col("sd8") > 0, round(z * z * z, 12)
          .cast(DecimalType(38, 12))))
      .withColumn("z4",
        when(col("sd8") > 0, round(z * z * z * z, 12)
          .cast(DecimalType(38, 12))))
      .groupBy(col("series"), col("horizon"))
      .agg(max(col("n")).as("n"),
        max(col("mu8")).as("mu8"), max(col("var8")).as("var8"),
        max(col("sd8")).as("sd8"),
        sum(col("z3")).as("sz3"), sum(col("z4")).as("sz4"))
      .select(col("series"), col("horizon"), col("n"),
        round(col("mu8") / lit(1e4), 6).as("mean_bps"),
        round(col("var8") / lit(1e8), 6).as("var_bps"),
        when(col("sd8") > 0,
          ExactRound.ratioRound(ExactRound.toUnscaled(col("sz3"), 12), col("n") * lit(1000000000000L), 6)).as("skewness"),
        when(col("sd8") > 0,
          ExactRound.ratioRound(ExactRound.toUnscaled(col("sz4"), 12) - col("n") * lit(1000000000000L) * lit(3L),
            col("n") * lit(1000000000000L), 6)).as("kurtosis"))
  }

  /** Lead-lag matrix: for every series pair (a < b), the lag k ∈
    * [−maxLag, maxLag] maximizing |corr(a_t, b_{t+k})| over the
    * bar-ts-aligned closes — WHO MOVES FIRST, generalized from the
    * single-pair CCF (q122) to the full book. NEGATIVE best_k means
    * the first series leads (its present matches the second's
    * future); positive means it follows.
    *
    * Determinism: closes snap to exact 1e-6 longs, every lagged pair
    * relation folds DECIMAL-exact moments, r forms in the q122 op
    * order and rounds 6dp, and the argmax cuts on (|r| desc, k) over
    * the ROUNDED r.
    *
    * Scale: ONE bar-ts self-join aligns all pairs (|series|² fan-out
    * per timestamp — series count is small and fixed), then ALL
    * (2·maxLag+1) shifted columns come out of ONE stacked window
    * projection over a single per-pair sort (the PairAnalytics.ccf
    * shape) and unpivot map-side; each (pair, k) row is a
    * map-side-combined aggregate. */
  def leadLagMatrix(bars: DataFrame, maxLag: Int = 2): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val a = bars.select(col("series").as("sa"), col("bar_ts"),
      floor(col("close") * lit(1e6) + lit(0.5)).cast("long").as("x6"))
    val b = bars.select(col("series").as("sb"), col("bar_ts"),
      floor(col("close") * lit(1e6) + lit(0.5)).cast("long").as("y6"))
    val aligned = a.join(b, Seq("bar_ts"))
      .filter(col("sa") < col("sb"))
    val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("bar_ts"))
    // one Window operator computes every shifted leg (same window spec
    // → one sort), then explode unpivots map-side — no unioned re-sorts
    val legs = (-maxLag to maxLag).map { k =>
      val yk = if (k >= 0) lag(col("y6"), k).over(w)
      else lead(col("y6"), -k).over(w)
      struct(lit(k).as("k"), yk.as("y"))
    }
    val m = aligned
      .select(col("sa"), col("sb"), col("x6").as("x"),
        array(legs: _*).as("ys"))
      .select(col("sa"), col("sb"), col("x"), explode(col("ys")).as("e"))
      .filter(col("e.y").isNotNull)
      .select(col("sa"), col("sb"), col("e.k").as("k"),
        col("x"), col("e.y").as("y"))
      .groupBy(col("sa"), col("sb"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      .withColumn("num",
        dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
      .withColumn("vx",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("vy",
        dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .withColumn("r",
        when(col("vx") > 0 && col("vy") > 0,
          round(col("num") / (sqrt(col("vx")) * sqrt(col("vy"))), 6)))
    val pick = Window.partitionBy(col("sa"), col("sb"))
      .orderBy(abs(col("r")).desc, col("k"))
    m.filter(col("r").isNotNull)
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("sa"), col("sb"), col("k").as("best_k"), col("n"),
        col("r").as("r_best"))
  }

  /** Out-of-sample VaR backtest with the Kupiec proportion-of-
    * failures test: the α-quantile VaR estimated on each series'
    * FIRST half (by bar order) is scored on the second half —
    * violations counted, the Kupiec likelihood ratio computed, and
    * the 95% χ²(1) fence applied. The governance check that q205's
    * in-sample VaR can't provide: is the risk number actually
    * calibrated out of sample?
    *
    * Determinism: the split is an exact row_number ≤ ⌊n/2⌋ cut,
    * returns round 8dp and the VaR cut 6dp BEFORE the membership
    * compare (the q205 convention), violation counts are integers,
    * and the LR evaluates ln() on identical doubles once per series
    * (x = 0 or x = n collapse the empirical entropy terms to 0).
    *
    * Scale: the lag, the split index and the group total ride ONE
    * fused [[ScalableWindow.withSeqPrev]] pass (the return index is
    * the bar index − 1 since close > 0 is pre-filtered);
    * the calibration quantile is an exact percentile on the
    * half-relation; |series| rows out. */
  def varBacktest(bars: DataFrame, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1) (got $alpha)")
    def dbl(c: Column) = c.cast(DoubleType)
    // with close > 0 pre-filtered, a return row is valid exactly when
    // its bar is not the series' FIRST row, so the return index is
    // the bar index minus one — one withSeqPrev pass replaces a lag
    // pass + a second index pass
    val withR = ScalableWindow.withSeqPrev(bars.filter(col("close") > 0),
        Seq("series"), Seq("bar_ts"), "__brn",
        Seq(("close", "pc")), Some("__btot"))
      .filter(col("pc").isNotNull)
      .withColumn("r", logRet8dp(col("close"), col("pc")))
      .withColumn("rn", col("__brn") - 1)
      .withColumn("n_all", col("__btot") - 1)
      .select(col("series"), col("bar_ts"), col("r"), col("rn"),
        col("n_all"))
      // (series, bar_ts) is unique in a bar relation, so rn is a total
      // order and every leg that recomputes this split gets the same cut
      .withColumn("is_cal", col("rn") <= (col("n_all") / 2).cast("int"))
    val cut = withR.filter(col("is_cal"))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_cal"),
        round(expr(s"percentile(r, $alpha)"), 6).as("var_cut"))
    val lnP = math.log(alpha)
    // (1 − α) via decimal so the double equals the oracle's LITERAL
    // 0.95 — binary 1.0-0.05 can land one ulp away from parse("0.95")
    val ln1P = math.log((BigDecimal(1) - BigDecimal(alpha)).toDouble)
    withR.filter(!col("is_cal"))
      .join(broadcast(cut), "series")
      .groupBy(col("series"), col("n_cal"), col("var_cut"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("var_cut"), 1L).otherwise(0L)).as("x"))
      .withColumn("rate", dbl(col("x")) / dbl(col("n_test")))
      .withColumn("lr",
        lit(-2.0) * ((dbl(col("n_test")) - dbl(col("x"))) * lit(ln1P) +
          dbl(col("x")) * lit(lnP) -
          when(col("x") === col("n_test"), lit(0.0)).otherwise(
            (dbl(col("n_test")) - dbl(col("x"))) *
              log(lit(1.0) - col("rate"))) -
          when(col("x") === 0, lit(0.0))
            .otherwise(dbl(col("x")) * log(col("rate")))))
      .select(col("series"), col("n_cal"), col("n_test"), col("var_cut"),
        col("x").as("n_viol"),
        round(col("rate"), 6).as("viol_rate"),
        round(col("lr"), 4).as("kupiec_lr"))
      .withColumn("reject_calibration", col("kupiec_lr") > 3.8415)
  }

  /** Expected-shortfall backtest per series (the Acerbi–Székely Z₂
    * unconditional form): calibrate VaR/ES on the first half (the
    * q270 split), then on the test half
    * Z₂ = Σ_{viol} r / (n·α·ES_cal) − 1 — zero in expectation under
    * correct calibration, POSITIVE when tail losses run deeper than
    * the calibrated ES. q270's Kupiec tests violation FREQUENCY; this
    * tests violation SEVERITY, the half Basel actually moved to.
    *
    * Determinism: the q205/q270 chain verbatim — 8dp returns, 6dp
    * quantile/ES cuts BEFORE membership compares, DECIMAL tail folds,
    * one shared double op order for Z₂ (4dp).
    *
    * Scale: lag + split index via ONE fused
    * [[ScalableWindow.withSeqPrev]] pass (return index = bar index −
    * 1, close > 0 pre-filtered); cuts broadcast back; |series|
    * rows out. */
  def esBacktest(bars: DataFrame, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha in (0, 0.5) (got $alpha)")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(28, 12)
    // with close > 0 pre-filtered, a return row is valid exactly when
    // its bar is not the series' FIRST row, so the return index is
    // the bar index minus one — one withSeqPrev pass replaces a lag
    // pass + a second index pass
    val withR = ScalableWindow.withSeqPrev(bars.filter(col("close") > 0),
        Seq("series"), Seq("bar_ts"), "__brn",
        Seq(("close", "pc")), Some("__btot"))
      .filter(col("pc").isNotNull)
      .withColumn("r", logRet8dp(col("close"), col("pc")))
      .withColumn("rn", col("__brn") - 1)
      .withColumn("n_all", col("__btot") - 1)
      .select(col("series"), col("bar_ts"), col("r"), col("rn"),
        col("n_all"))
      // (series, bar_ts) is unique in a bar relation, so rn is a total
      // order and every leg that recomputes this split gets the same cut
      .withColumn("is_cal", col("rn") <= (col("n_all") / 2).cast("int"))
      // A/B-kept: q372 0.98 -> 1.29 s wall without it (median, parent
      // spread 0.08 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val cut = withR.filter(col("is_cal"))
      .groupBy(col("series"))
      .agg(round(expr(s"percentile(r, $alpha)"), 6).as("var_cut"))
    val esCal = withR.filter(col("is_cal"))
      .join(broadcast(cut), "series")
      .filter(col("r") <= col("var_cut"))
      .groupBy(col("series"), col("var_cut"))
      .agg(count(lit(1)).as("n_cal_tail"),
        sum(col("r").cast(dec12)).as("sc"))
      .select(col("series"), col("var_cut"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sc"), 12),
          col("n_cal_tail") * lit(1000000000000L), 6).as("es_cal"))
    val test = withR.filter(!col("is_cal"))
      .join(broadcast(esCal), "series")
      .groupBy(col("series"), col("var_cut"), col("es_cal"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("var_cut"), 1L).otherwise(0L))
          .as("n_viol"),
        sum(when(col("r") <= col("var_cut"), col("r"))
          .otherwise(0.0).cast(dec12)).as("sv"))
    val z2 = dbl(col("sv")) /
      (dbl(col("n_test")) * lit(alpha) * col("es_cal")) - lit(1.0)
    test.select(col("series"), col("n_test"), col("n_viol"),
      col("var_cut"), col("es_cal"),
      when(col("n_viol") > 0,
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sv"), 12),
          col("n_viol") * lit(1000000000000L), 6)).as("es_test"),
      when(col("es_cal") < 0, round(z2, 4)).as("z2"))
      .withColumn("severity_breach",
        when(col("z2").isNotNull, col("z2") > 0.5))
  }

  /** Hour-of-day volatility profile: population σ of 1-bar returns
    * per (series, hour) — the intraday vol smile (open/close hours
    * run hot, lunch runs cold), the dispersion companion to q162's
    * level/volume profile and the session-clock input to execution
    * scheduling.
    *
    * Determinism: exact 1e-8 return longs, decimal (n, Σr, Σr²), the
    * q139 double op order, 8dp round at emission.
    *
    * Scale: the [[barR8]] chain then a map-side-combined (series, hour)
    * rollup — 24·|series| rows out. */
  def hourlyVolProfile(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    barR8(bars)
      .groupBy(col("series"), hour(col("bar_ts")).as("hod"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"))
      .filter(col("n") > 1)
      .select(col("series"), col("hod"), col("n"),
        round(sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("n")) * dbl(col("n")))) / lit(1e8), 8).as("vol"))
  }

  /** Tail-event clustering: per series, the count of |return| > k·σ
    * bars and the LONGEST consecutive run of them — extreme moves
    * clumping into bursts is the q248 ARCH story told in events
    * rather than correlations (a long run under clustering vs ~never
    * under independence).
    *
    * Determinism: σ comes from the exact global decimal pass, the
    * exceedance compare is |r8| > k·σ8 on one identical double, and
    * the run lengths are integer islands.
    *
    * Scale: the returns are [[barR8]], the island ids one per-series
    * window; σ broadcasts back;
    * |series| rows out. */
  def tailClustering(bars: DataFrame, k: Double = 3.0): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val withR = barR8(bars)
    val sigma = withR.groupBy(col("series"))
      .agg(count(lit(1)).as("n_rets"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"))
      .withColumn("sd8",
        sqrt((dbl(col("n_rets")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("n_rets")) * dbl(col("n_rets")))))
      .select(col("series"), col("n_rets"), col("sd8"))
    val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val prevT = lag(col("is_tail"), 1).over(w)
    val flagged = withR.join(broadcast(sigma), "series")
      .withColumn("is_tail", abs(dbl(col("r8"))) > lit(k) * col("sd8"))
      .withColumn("brk",
        when(prevT.isNull || col("is_tail") =!= prevT, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .filter(col("is_tail"))
      .groupBy(col("series"), col("n_rets"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("series"), col("n_rets"))
      .agg(sum(col("len")).as("n_tail"),
        max(col("len")).as("max_run"))
      .select(col("series"), col("n_rets"), col("n_tail"), col("max_run"),
        ExactRound.ratioRound(col("n_tail"), col("n_rets"), 6).as("tail_share"))
  }

  /** Up/down streak census: consecutive same-direction closes
    * collapse to runs (the gaps-and-islands trick on the Δclose
    * sign), reported per (series, direction) as run count, longest
    * run, and mean length — the momentum-persistence telemetry the
    * runs test (q177) summarizes into one z, kept here as the full
    * distribution. Flat bars (Δ = 0) form their own runs.
    *
    * Determinism: direction is the exact sign of the scaled-long
    * Δclose; run ids are integer prefix sums; the mean floors at 2dp
    * from the exact (Σlen, n) pair.
    *
    * Scale: the Δ chain routes through
    * [[ScalableWindow.withPrevValues]] and the island ids through one
    * per-series window, then a map-side-combined (series, direction)
    * rollup. */
  def streakStats(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val prevD = lag(col("dir"), 1).over(w)
    ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "__pc")))
      .withColumn("d6",
        floor((col("close") - col("__pc")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .filter(col("d6").isNotNull)
      .withColumn("dir",
        when(col("d6") > 0, "up").when(col("d6") < 0, "down")
          .otherwise("flat"))
      .withColumn("brk",
        when(prevD.isNull || col("dir") =!= prevD, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("series"), col("dir"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("series"), col("dir"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("len")).as("max_len"),
        sum(col("len")).as("n_bars"))
      .select(col("series"), col("dir"), col("n_runs"), col("max_len"),
        col("n_bars"),
        (floor(dbl(col("n_bars")) / dbl(col("n_runs")) * lit(100.0) +
          lit(0.5)) / lit(100.0)).as("mean_len"))
  }

  /** ARCH-effect screen: the lag-1..`maxLag` autocorrelation of
    * SQUARED returns — returns themselves may be white (q151/q183)
    * while their squares stay correlated, which is exactly
    * volatility clustering; a significant r here is the "fit a GARCH
    * / scale your risk window" flag next to [[volCone]].
    *
    * Determinism: each squared return snaps to an exact 1e-8 long
    * (r·r first — identical doubles), every correlation moment folds
    * DECIMAL-exact over the (x, x_lag) pairs, r forms in the q122 op
    * order and rounds 6dp; the 1.96/√n significance fence compares
    * the ROUNDED r against one identically-computed threshold.
    *
    * Scale: ONE per-series window pass carries the return lag AND
    * every k-lag column — one window sort — then a bounded stack to
    * long form and a map-side-combined (series, k) rollup. With
    * close > 0 pre-filtered, sq8 is null only at each series' global
    * first bar, so lagging sq8 over BAR positions equals lagging it
    * over return positions (return j sits at bar j + 1; both sides
    * null out inside the first k returns). */
  def archEffect(bars: DataFrame, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val wk = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val sq8 = {
      val pc = lag(col("close"), 1).over(wk)
      val r = when(pc.isNotNull && pc > 0, log(col("close") / pc))
      floor(r * r * lit(1e8) + lit(0.5)).cast("long")
    }
    val withLags = bars.filter(col("close") > 0)
      .withColumn("sq8", sq8)
      .select(col("series") +: col("sq8") +:
        (1 to maxLag).map(k =>
          lag(col("sq8"), k).over(wk).as(s"__y$k")): _*)
      .filter(col("sq8").isNotNull)
      // A/B-kept: q248 0.72 -> 1.60 s wall without it (median, parent
      // spread 0.07 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val lags = (1 to maxLag).map { k =>
      withLags.filter(col(s"__y$k").isNotNull)
        .select(col("series"), lit(k).as("k"),
          col("sq8").as("x"), col(s"__y$k").as("y"))
    }
    lags.reduce(_.unionByName(_))
      .groupBy(col("series"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        // cast BEFORE multiplying: squared returns of a jumpy series
        // reach ~1e10, so the long×long product overflows (caught by
        // ANSI mode at sf0.001); decimal×decimal stays exact
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      .withColumn("num",
        dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
      .withColumn("vx",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("vy",
        dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .select(col("series"), col("k"), col("n"),
        when(col("vx") > 0 && col("vy") > 0,
          round(col("num") / (sqrt(col("vx")) * sqrt(col("vy"))), 6))
          .as("r_sq_acf"))
      .withColumn("arch_flag",
        col("r_sq_acf") > lit(1.96) / sqrt(dbl(col("n"))))
  }

  /** Peak-over-threshold mean excess per series: threshold u at the
    * 95th percentile of |log return|, then the mean exceedance
    * E[X − u | X > u] — the second number of extreme-value risk
    * (roughly linear-in-u for heavy tails, flat for exponential
    * ones), completing the tail panel next to q205's VaR/ES and
    * q287's Hill α.
    *
    * Determinism: |returns| are exact 8 dp scaled longs mapped to
    * exact doubles; u uses the shared interpolated-percentile
    * convention ROUNDED at 8 before the strict compare (boundary
    * cannot flip on a percentile ulp); excesses round at 12 dp and
    * fold in DECIMAL(38,12); the mean rounds at 6.
    *
    * Scale: one per-series return chain + a percentile aggregate
    * joined back broadcast (|series| rows); the exceedance rollup is
    * map-side-combined. */
  def meanExcess(bars: DataFrame, q: Double = 0.95): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val rets = barR8(bars)
      .withColumn("x", abs(col("r8")).cast(DoubleType) / lit(1e8))
    val cuts = rets.groupBy(col("series"))
      .agg(count(lit(1)).as("n_rets"),
        round(expr(s"percentile(x, $q)"), 8).as("u"))
    rets.join(broadcast(cuts), "series")
      .filter(col("x") > col("u"))
      .groupBy(col("series"), col("n_rets"), col("u"))
      .agg(count(lit(1)).as("n_exceed"),
        sum(round(col("x") - col("u"), 12).cast(dec12)).as("se"))
      .select(col("series"), col("n_rets"), col("u"), col("n_exceed"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("se"), 12),
          col("n_exceed") * lit(1000000000000L), 6).as("mean_excess"))
  }

  /** Up/down-regime beta per series against a designated market
    * series: β⁺ over bars where the market return is positive, β⁻
    * where negative (zero market bars excluded) — the asymmetry the
    * single-beta market model (q200) averages away, and the number a
    * risk desk actually prices (a series that only co-moves in
    * crashes is insurance sold, not bought).
    *
    * Determinism: both legs' returns are exact 8 dp scaled longs
    * (q90 rule) joined on bar_ts; per (series, regime) the moment
    * sums fold in DECIMAL (cast BEFORE multiplying — the q248
    * overflow rule); β = (nΣxm − ΣxΣm)/(nΣmm − (Σm)²) is one
    * shared-order double formula rounded at 6 (scale factors cancel).
    *
    * Scale: returns are one per-series window pass; the market leg is
    * a per-bar relation joined by bar_ts (broadcast when the bar
    * count allows, shuffle otherwise); moments are map-side-combined
    * aggregates to |series|·2 rows. */
  def upDownBeta(bars: DataFrame, marketSeries: String): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val rets = barR8(bars)
    val mkt = rets.filter(col("series") === marketSeries)
      .select(col("bar_ts"), col("r8").as("m8"))
    rets.filter(col("series") =!= marketSeries)
      .join(mkt, "bar_ts")
      .filter(col("m8") =!= 0)
      .withColumn("regime", when(col("m8") > 0, "up").otherwise("down"))
      .groupBy(col("series"), col("regime"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec)).as("sx"),
        sum(col("m8").cast(dec)).as("sm"),
        sum(col("r8").cast(dec) * col("m8").cast(dec)).as("sxm"),
        sum(col("m8").cast(dec) * col("m8").cast(dec)).as("smm"))
      .withColumn("den",
        dbl(col("n")) * dbl(col("smm")) - dbl(col("sm")) * dbl(col("sm")))
      .select(col("series"), col("regime"), col("n"),
        when(col("den") > 0,
          round((dbl(col("n")) * dbl(col("sxm")) -
            dbl(col("sx")) * dbl(col("sm"))) / col("den"), 6))
          .as("beta"))
  }

  /** Kendall turning-points test per series: count interior bars that
    * are a STRICT local max or min of the close path; under an iid
    * continuous sequence E[T] = 2(N−2)/3 and Var[T] = (16N−29)/90,
    * z = (T − E)/√Var. Trending series under-produce turning points
    * (z ≪ 0), choppy mean-reverters over-produce them (z ≫ 0) — the
    * third leg of the randomness panel next to q177's sign runs and
    * q183's Ljung–Box: it sees LEVEL-path kinks, not return signs or
    * autocorrelation moments.
    *
    * Determinism: extrema compare exact 6 dp scaled-long closes
    * (strict inequalities, so ties never count — the same rule in
    * both engines); T and N are pure integers off one lag/lead
    * window; the z chain is one shared-order double formula rounded
    * at 6 dp. Series with N < 3 emit zero turning points and null z
    * only when Var ≤ 0 (never for N ≥ 3).
    *
    * Scale: the lag/lead pair rides ONE per-series window pass + one
    * map-side-combined rollup, output |series| rows. */
  def turningPoints(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    bars
      .withColumn("x6",
        floor(col("close") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("pv", lag(col("x6"), 1).over(w))
      .withColumn("nx", lead(col("x6"), 1).over(w))
      .withColumn("tp",
        when(col("pv").isNotNull && col("nx").isNotNull &&
          ((col("pv") < col("x6") && col("x6") > col("nx")) ||
            (col("pv") > col("x6") && col("x6") < col("nx"))), 1L)
          .otherwise(0L))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_bars"), sum(col("tp")).as("n_turning"))
      .withColumn("mu",
        lit(2.0) * (dbl(col("n_bars")) - lit(2.0)) / lit(3.0))
      .withColumn("v",
        (lit(16.0) * dbl(col("n_bars")) - lit(29.0)) / lit(90.0))
      .select(col("series"), col("n_bars"), col("n_turning"),
        round(col("mu"), 6).as("exp_turning"),
        when(col("v") > 0,
          round((dbl(col("n_turning")) - col("mu")) / sqrt(col("v")), 6))
          .as("z"))
  }

  /** Donchian-channel breakout census: a bar breaks out UP when its
    * close exceeds the max high of the PREVIOUS `period` bars (frame
    * excludes the current row — the channel must pre-exist the
    * break), symmetrically down vs the min low; per series the count
    * of each and the latest break timestamps — the
    * trend-initiation telemetry next to [[aroon]]'s freshness gauge.
    *
    * Determinism: closes/highs/lows snap to scaled longs so every
    * compare is integer-exact; output is counts + max timestamps.
    *
    * Scale: one per-series window pass into a
    * map-side-combined |series|-row rollup. */
  def donchianBreakouts(bars: DataFrame, period: Int = 20): DataFrame = {
    require(period >= 1, s"period must be >= 1 (got $period)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val prior = w.rowsBetween(-period, -1)
    bars
      .withColumn("c6", floor(col("close") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("h6", floor(col("high") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("l6", floor(col("low") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("nb", count(lit(1)).over(prior))
      .withColumn("ch", max(col("h6")).over(prior))
      .withColumn("cl", min(col("l6")).over(prior))
      .withColumn("up", col("nb") === period && col("c6") > col("ch"))
      .withColumn("dn", col("nb") === period && col("c6") < col("cl"))
      .groupBy(col("series"))
      .agg(
        sum(when(col("up"), 1L).otherwise(0L)).as("n_up"),
        sum(when(col("dn"), 1L).otherwise(0L)).as("n_down"),
        max(when(col("up"), col("bar_ts"))).as("last_up_ts"),
        max(when(col("dn"), col("bar_ts"))).as("last_down_ts"))
  }

  /** Volatility cone: the distribution (min / median / max) of the
    * rolling realized vol at several horizons — per (series, horizon)
    * the envelope a current vol reading is judged against ("is 6-bar
    * vol rich vs its own history?"). The multi-horizon sibling of
    * q197's signature plot.
    *
    * Determinism: 1-bar ln returns snap to exact 1e-8 longs (q92
    * precedent), each horizon's population σ forms from DECIMAL-exact
    * (n, Σr, Σr²) in the q139 double op order and ROUNDS 8dp before
    * the distribution pass, so min/median/max act on identical
    * doubles (median = exact interpolated percentile, the q198
    * mapping).
    *
    * Scale: ONE per-series sort serves every horizon's frame (same
    * window spec family); the distribution pass runs on the rolled
    * vol column, map-side-combined per (series, horizon). */
  def volCone(bars: DataFrame, horizons: Seq[Int] = Seq(6, 12, 24)): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_ >= 2), "horizons must be >= 2")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    // the q139/q250 rule (laggedScope): frames count filtered rows;
    // one return relation feeds every horizon's frame
    val withR = barR8(bars)
    val w2 = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val perH = horizons.map { h =>
      val frame = w2.rowsBetween(-(h - 1), 0)
      withR
        .withColumn("nb", count(col("r8")).over(frame))
        .withColumn("s1", sum(col("r8").cast(dec)).over(frame))
        .withColumn("s2", sum((col("r8") * col("r8")).cast(dec)).over(frame))
        .filter(col("nb") === h)
        .select(col("series"), lit(h).as("horizon"),
          round(sqrt((dbl(col("nb")) * dbl(col("s2")) -
            dbl(col("s1")) * dbl(col("s1"))) /
            (dbl(col("nb")) * dbl(col("nb")))) / lit(1e8), 8).as("vol"))
    }
    perH.reduce(_.unionByName(_))
      .groupBy(col("series"), col("horizon"))
      .agg(count(lit(1)).as("n_obs"),
        round(min(col("vol")), 8).as("vol_min"),
        // floor-form: the interpolated median averages two 8dp values
        // and can land EXACTLY on a half-boundary, where library
        // round() tie rules diverge cross-engine (caught at sf0.001)
        (floor(expr("percentile(vol, 0.5)") * lit(1e8) + lit(0.5)) /
          lit(1e8)).as("vol_p50"),
        round(max(col("vol")), 8).as("vol_max"))
  }

  /** MACD(12, 26, 9) over a finite trailing frame: fast/slow EMAs of
    * the close fold over the SAME `frameRows`-bar list with
    * alpha = 2/(n+1), macd = fast − slow, and the signal line is the
    * 9-row EMA of the (6dp-snapped) macd path — trend-following's
    * standard crossover telemetry on top of the q101 EWMA machinery.
    *
    * Determinism (the q101 rule): both engines materialize each frame
    * as a list in frame-row order and fold it SEQUENTIALLY with
    * s' = s·(1−α) + x·α (Spark `aggregate`, DuckDB `list_reduce`) —
    * identical op sequence on identical doubles is bit-identical, so
    * no decimal help is needed until macd snaps to 6dp (floor-form)
    * for the second fold. Finite-frame truncation is normalized by
    * the matching weight-sum fold (num/den), so warm-up rows are
    * usable, not biased toward zero.
    *
    * Scale: two window passes per series (frame collect + signal
    * collect). The frame list is bounded (`frameRows`), so state per
    * row is O(frame), never O(history). */
  def macd(bars: DataFrame, frameRows: Int = 26): DataFrame = {
    require(frameRows >= 2, s"frameRows must be >= 2 (got $frameRows)")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val frame = w.rowsBetween(-(frameRows - 1), 0)
    val sig = w.rowsBetween(-8, 0)
    val aF = lit(2.0 / 13.0) // fast EMA-12 alpha
    val aS = lit(2.0 / 27.0) // slow EMA-26 alpha
    val aG = lit(2.0 / 10.0) // signal EMA-9 alpha
    def emaNum(lst: Column, a: Column) =
      aggregate(lst, lit(0.0), (s, x) => s * (lit(1.0) - a) + x * a)
    def emaDen(lst: Column, a: Column) =
      aggregate(lst, lit(0.0), (s, _) => s * (lit(1.0) - a) + a)
    bars
      .withColumn("cs", collect_list(col("close")).over(frame))
      .withColumn("m6",
        floor((emaNum(col("cs"), aF) / emaDen(col("cs"), aF) -
          emaNum(col("cs"), aS) / emaDen(col("cs"), aS)) * lit(1e6) +
          lit(0.5)).cast("long"))
      .withColumn("ms",
        collect_list(col("m6").cast(DoubleType) / lit(1e6)).over(sig))
      .select(col("series"), col("bar_ts"), col("close"),
        (col("m6").cast(DoubleType) / lit(1e6)).as("macd"),
        round(emaNum(col("ms"), aG) / emaDen(col("ms"), aG), 6)
          .as("macd_signal"))
  }

  /** Jarque–Bera normality test per series over 1-bar log returns:
    * JB = n/6·(S² + K²/4) from the standardized third/fourth moments,
    * rejected against the χ²(2) 95% fence (5.991465) — the formal
    * "are these returns Gaussian" gate next to [[horizonMoments]]'
    * descriptive panel (fat tails are THE stylized fact the test
    * quantifies).
    *
    * Determinism (the horizonMoments discipline): returns snap to
    * exact 1e-8 longs, (n, Σx, Σx²) fold DECIMAL-exact, each z-power
    * term rounds 12dp and folds in DECIMAL(38,12), S/K/JB form in one
    * shared double op order (JB from the UNROUNDED S and K) and round
    * 6dp at emission.
    *
    * Scale: one per-series lag sort ([[barR8]]) feeds two
    * map-side-combined aggregates with a |series|-row broadcast
    * between them. */
  def jarqueBera(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val withR = barR8(bars)
    val stats = withR.groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"))
      .withColumn("mu8", dbl(col("s1")) / dbl(col("n")))
      .withColumn("sd8",
        sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) / (dbl(col("n")) * dbl(col("n")))))
      .select(col("series"), col("n"), col("mu8"), col("sd8"))
    val z = (dbl(col("r8")) - col("mu8")) / col("sd8")
    val skew = dbl(col("sz3")) / dbl(col("n"))
    val exKurt = dbl(col("sz4")) / dbl(col("n")) - lit(3.0)
    val jb = dbl(col("n")) / lit(6.0) *
      (skew * skew + exKurt * exKurt / lit(4.0))
    withR.join(broadcast(stats), "series")
      .filter(col("sd8") > 0)
      .withColumn("z3", round(z * z * z, 12).cast(DecimalType(38, 12)))
      .withColumn("z4", round(z * z * z * z, 12).cast(DecimalType(38, 12)))
      .groupBy(col("series"))
      .agg(max(col("n")).as("n"),
        sum(col("z3")).as("sz3"), sum(col("z4")).as("sz4"))
      .select(col("series"), col("n"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sz3"), 12), col("n") * lit(1000000000000L), 6).as("skewness"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sz4"), 12) - col("n") * lit(1000000000000L) * lit(3L),
          col("n") * lit(1000000000000L), 6).as("ex_kurtosis"),
        round(jb, 6).as("jb"),
        (jb > lit(5.991465)).as("reject_normal"))
  }

  /** Durbin–Watson serial-correlation statistic per series:
    * DW = Σ(r_t − r_{t−1})² / Σr_t² over 1-bar log returns — ≈2 for
    * white noise, →0 under positive autocorrelation, →4 under
    * negative; ρ̂ = 1 − DW/2 is the implied lag-1 coefficient. The
    * residual-diagnostic view of what [[acf]] reports directly.
    *
    * Determinism: returns and their first differences are exact 1e-8
    * longs; both quadratic sums fold as DECIMAL products (a squared
    * long passes 2^63 on jumpy series — the q248 lesson); DW and ρ̂
    * form in one shared double op order and round 6dp.
    *
    * Scale: two chained lag passes — [[barR8]], then the return lag
    * ([[ScalableWindow.withPrevValues]]) over its FILTERED rows;
    * then a map-side-combined aggregate;
    * |series| rows out. */
  def durbinWatson(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val rets = barR8(bars)
    ScalableWindow.withPrevValues(rets, Seq("series"), Seq("bar_ts"),
        Seq(("r8", "pr8")))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("den"),
        sum(when(col("pr8").isNotNull,
          (col("r8") - col("pr8")).cast(dec) *
            (col("r8") - col("pr8")).cast(dec))
          .otherwise(lit(0).cast(dec))).as("num"))
      .select(col("series"), col("n"),
        when(dbl(col("den")) > 0,
          ExactRound.ratioRound(col("num"), col("den"), 6)).as("dw"))
      .withColumn("rho_hat",
        when(col("dw").isNotNull, round(lit(1.0) - col("dw") / 2, 6)))
  }

  /** Market-model regression per series: beta / alpha / R² of 1-bar
    * log returns against the EQUAL-WEIGHT market return (the mean
    * return over all series present at that bar, including itself) —
    * the systematic-vs-idiosyncratic decomposition the single-regime
    * complement of [[upDownBeta]]'s conditional betas.
    *
    * Determinism: per-bar market returns derive from exact long sums
    * (one double divide); each regression term rounds 12dp and folds
    * in DECIMAL(38,12) (the q122 correlation discipline); beta/α/R²
    * form in one shared double op order (α and R² from the UNROUNDED
    * beta) and round at emission.
    *
    * Scale: one per-series lag sort ([[barR8]]), one bar_ts-keyed
    * aggregate for
    * the market leg (grows with TIME, so it hash-joins back — no
    * broadcast hint), one map-side-combined per-series aggregate. */
  def marketBeta(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val withR = barR8(bars)
      // A/B-kept: q302 1.11 -> 1.75 s wall without it (median, parent
      // spread 0.20 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val mkt = withR.groupBy(col("bar_ts"))
      .agg(sum(col("r8")).as("msum"), count(lit(1)).as("mcnt"))
    val x = dbl(col("msum")) / dbl(col("mcnt")) / lit(1e8)
    val y = dbl(col("r8")) / lit(1e8)
    def dsum(c: Column) = sum(round(c, 12).cast(dec12))
    val num = dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val vx = dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val vy = dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    withR.join(mkt, "bar_ts")
      .withColumn("x", x)
      .withColumn("y", y)
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
      .select(col("series"), col("n"),
        when(vx > 0, round(num / vx, 6)).as("beta"),
        when(vx > 0,
          round((dbl(col("sy")) - num / vx * dbl(col("sx"))) /
            dbl(col("n")), 8)).as("alpha"),
        when(vx > 0 && vy > 0,
          round(num * num / (vx * vy), 6)).as("r2"))
  }

  /** Downside-risk panel per series over daily closes: annualized
    * downside deviation (√ of the mean squared NEGATIVE return),
    * Sortino (annualized mean over annualized downside deviation),
    * Calmar (annualized return over |max drawdown|), and Omega at
    * threshold zero (Σ gains / Σ |losses| — an exact integer ratio)
    * — the loss-side companion to [[tearsheet]]'s symmetric Sharpe.
    *
    * Determinism: the q140 tearsheet chain verbatim ([[dayClose]],
    * 1e-8 [[logRet8]] snap, floor-form 1e-6 drawdown); gains and
    * losses fold in pure long arithmetic, the downside second moment
    * folds DECIMAL-exact, every emitted ratio forms in one shared
    * double op order rounded 6dp.
    *
    * Scale: identical to tearsheet — one (series, day) map-side
    * collapse, one per-series day-ordered window over the tiny daily
    * relation, one rollup. */
  def downsideRisk(
      bars: DataFrame,
      periodsPerYear: Double = 252.0): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val wrm = w.rowsBetween(Window.unboundedPreceding, 0)
    val dec = DecimalType(38, 0)
    def dbl(c: Column) = c.cast(DoubleType)
    val ppy = lit(periodsPerYear)
    val mu = dbl(col("s1")) / dbl(col("n_rets"))
    val dvar = dbl(col("dq")) / dbl(col("n_rets"))
    dayClose(bars)
      .withColumn("prev_c", lag(col("close"), 1).over(w))
      .withColumn("r8",
        when(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0,
          logRet8(col("close"), col("prev_c"))))
      .withColumn("runmax", max(col("close")).over(wrm))
      .withColumn("dd", when(col("runmax") > 0,
        floor((col("close") / col("runmax") - lit(1.0)) * lit(1e6) + lit(0.5)) /
          lit(1e6)))
      .groupBy(col("series"))
      .agg(count(col("r8")).as("n_rets"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(when(col("r8") > 0, col("r8")).otherwise(0L)).as("gains"),
        sum(when(col("r8") < 0, -col("r8")).otherwise(0L)).as("losses"),
        sum(when(col("r8") < 0, (col("r8") * col("r8")).cast(dec))
          .otherwise(lit(0).cast(dec))).as("dq"),
        min(col("dd")).as("max_drawdown"))
      .select(col("series"), col("n_rets"),
        when(col("n_rets") > 0,
          ExactRound.ratioRound(
            col("s1") * lit(periodsPerYear.toLong),
            col("n_rets") * lit(100000000L), 6)).as("ann_return"),
        when(col("n_rets") > 0,
          round(sqrt(dvar * ppy) / lit(1e8), 6)).as("downside_dev"),
        when(col("n_rets") > 0 && dbl(col("dq")) > 0,
          round(mu * ppy / sqrt(dvar * ppy), 6)).as("sortino"),
        when(col("n_rets") > 0 && col("max_drawdown") < 0,
          round(mu * ppy / lit(1e8) / -col("max_drawdown"), 6))
          .as("calmar"),
        when(col("losses") > 0,
          ExactRound.ratioRound(col("gains"), col("losses"), 6)).as("omega"),
        col("max_drawdown"))
  }

  /** Chow structural-break test per series: OLS of the 1e-8 log
    * return on its row index, fit separately on the first and second
    * half (the varBacktest split) and pooled;
    * F = ((RSSp − RSS1 − RSS2)/2) / ((RSS1 + RSS2)/(n − 4)) with the
    * asymptotic F(2, ∞) 95% fence 2.995732 — the formal "did the
    * data-generating process change mid-sample" test next to the
    * CUSUM/Page-CUSUM monitors' sequential view.
    *
    * Determinism: index and return are exact integers; all five
    * moment sums per segment fold as DECIMAL products (q248 rule);
    * every RSS forms from its segment moments in ONE shared double op
    * order (pooled moments are the exact decimal sums of the segment
    * sums); F rounds 6dp. Degenerate segments (n < 5 or zero index
    * variance) emit null.
    *
    * Scale: the returns are [[barR8]] and the row index and total
    * come from [[ScalableWindow.withSeqIndex]],
    * one map-side-combined aggregate carrying both segments' conditional
    * sums; |series| rows out. */
  def chowTest(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val rets0 = barR8(bars)
    val withR = ScalableWindow.withSeqIndex(rets0, Seq("series"),
        Seq("bar_ts"), "t", Some("n_all"))
      .withColumn("seg1", col("t") <= (col("n_all") / 2).cast("long"))
    def segSums(p: Column, tag: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n$tag"),
      sum(when(p, col("t").cast(dec)).otherwise(lit(0).cast(dec))).as(s"st$tag"),
      sum(when(p, col("r8").cast(dec)).otherwise(lit(0).cast(dec))).as(s"sy$tag"),
      sum(when(p, col("t").cast(dec) * col("t").cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"stt$tag"),
      sum(when(p, col("r8").cast(dec) * col("r8").cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"syy$tag"),
      sum(when(p, col("t").cast(dec) * col("r8").cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"sty$tag"))
    val agg = withR.groupBy(col("series"))
      .agg((segSums(col("seg1"), "1") ++ segSums(!col("seg1"), "2")).head,
        (segSums(col("seg1"), "1") ++ segSums(!col("seg1"), "2")).tail: _*)
    def rss(n: Column, st: Column, sy: Column, stt: Column,
        syy: Column, sty: Column): Column = {
      val sttC = dbl(stt) - dbl(st) * dbl(st) / dbl(n)
      val syyC = dbl(syy) - dbl(sy) * dbl(sy) / dbl(n)
      val styC = dbl(sty) - dbl(st) * dbl(sy) / dbl(n)
      when(sttC > 0, syyC - styC * styC / sttC)
    }
    val rss1 = rss(col("n1"), col("st1"), col("sy1"), col("stt1"),
      col("syy1"), col("sty1"))
    val rss2 = rss(col("n2"), col("st2"), col("sy2"), col("stt2"),
      col("syy2"), col("sty2"))
    val nP = col("n1") + col("n2")
    val rssP = rss(nP, col("st1") + col("st2"), col("sy1") + col("sy2"),
      col("stt1") + col("stt2"), col("syy1") + col("syy2"),
      col("sty1") + col("sty2"))
    val f = (rssP - rss1 - rss2) / lit(2.0) /
      ((rss1 + rss2) / (dbl(nP) - lit(4.0)))
    agg
      .withColumn("n", nP)
      .withColumn("f_stat",
        when(col("n1") >= 5 && col("n2") >= 5 &&
          rss1.isNotNull && rss2.isNotNull && rssP.isNotNull &&
          (rss1 + rss2) > 0, round(f, 6)))
      .select(col("series"), col("n"), col("f_stat"),
        when(col("f_stat").isNotNull, col("f_stat") > 2.995732)
          .as("break_5pct"))
  }

  /** KPSS level-stationarity test per series (Kwiatkowski et al.
    * 1992) on 1-bar log returns: η = n⁻²·Σ_t S_t² / σ̂²_lrv with
    * S_t the demeaned partial sums and σ̂² the Bartlett-weighted
    * long-run variance at `maxLag` lags — the null here is
    * STATIONARITY, the mirror image of the unit-root tests (q172's
    * ADF rejects non-stationarity; KPSS rejects stationarity), so
    * the pair brackets a series from both sides. 5% fence 0.463.
    *
    * Determinism: returns are exact 1e-8 longs; the demeaned partial
    * sum clears its denominator as S'_t = n·P_t − t·Σr (exact
    * integers off the running prefix, the q144 rule) and the
    * demeaned factors as n·x − Σr; each per-row term then converts
    * at ≤1e12 magnitude (the q200 decimal→double fence), rounds 12dp
    * in natural units, and folds in DECIMAL(38,12); η forms once per
    * series in one shared double op order, rounded 6dp.
    *
    * Scale: the returns are [[barR8]];
    * the prefix sums and the γ_l lags share one per-series window and
    * one 1-row-per-series aggregate; output |series| rows. */
  def kpss(bars: DataFrame, maxLag: Int = 4): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val rets0 = barR8(bars)
      // A/B-kept: q363 1.86 -> 2.16 s wall without it (median, parent
      // spread 0.29 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val tot = rets0.groupBy(col("series"))
      .agg(count(lit(1)).as("n"), sum(col("r8").cast(dec)).as("s"))
    val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val lagCols = (1 to maxLag).map(l => lag(col("r8"), l).over(w).as(s"y_$l"))
    val x = rets0
      .select(Seq(col("series"), col("r8"),
        row_number().over(w).as("t"),
        sum(col("r8").cast(dec)).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("p")) ++ lagCols: _*)
      .join(broadcast(tot), "series")
    // per-row demeaned partial sum in NATURAL units: S'_t = n·P_t − t·S.
    // n, t, P, S each convert to double at ≤ ~1e12 (inside the q200
    // decimal→double fence) and the products/difference stay exact
    // integers below 2^53 — the full decimal difference would convert
    // at ~1e15, inside the 1-ulp cross-engine hazard zone
    val spn = (dbl(col("n")) * dbl(col("p")) - dbl(col("t")) * dbl(col("s"))) /
      (dbl(col("n")) * lit(1e8))
    // Bartlett autocovariances on the same demeaned natural units:
    // γ_l terms (n·x − S)(n·y − S)/(n·1e8)²
    def gterm(y: Column) =
      round(dbl(col("n") * col("r8") - col("s")) *
        dbl(col("n") * y - col("s")) /
        (dbl(col("n")) * lit(1e8) * dbl(col("n")) * lit(1e8)), 12)
    val aggs =
      sum(round(spn * spn, 12).cast(dec12)).as("ss2") +:
        sum(gterm(col("r8")).cast(dec12)).as("g_0") +:
        (1 to maxLag).map { l =>
          sum(when(col(s"y_$l").isNotNull, gterm(col(s"y_$l")))
            .otherwise(lit(0).cast(dec12)).cast(dec12)).as(s"g_$l")
        }
    val g = x.groupBy(col("series"), col("n")).agg(aggs.head, aggs.tail: _*)
    val lp1 = (maxLag + 1).toDouble
    // LEFT-fold from g_0 so the addition order matches the twin's
    // left-associative SQL `g0 + w1*g1 + w2*g2 + ...` exactly
    val lrv = (1 to maxLag).foldLeft(dbl(col("g_0"))) { (acc, l) =>
      acc + lit(2.0 * (lp1 - l) / lp1) * dbl(col(s"g_$l"))
    } / dbl(col("n"))
    g.select(col("series"), col("n").as("n_rets"),
        when(lrv > 0,
          round(dbl(col("ss2")) / (dbl(col("n")) * dbl(col("n"))) / lrv, 6))
          .as("kpss_eta"))
      .withColumn("reject_stationary",
        when(col("kpss_eta").isNotNull, col("kpss_eta") > 0.463))
  }

  /** Fama–MacBeth cross-sectional regression on the 1-day reversal
    * factor: each day, OLS of the day's return on the PREVIOUS day's
    * return ACROSS series (λ_d = the day's reversal premium — negative
    * when yesterday's losers outperform), then the time-series mean
    * and t-statistic of the λ series — the two-pass procedure every
    * cross-sectional asset-pricing table runs, next to q182's
    * portfolio-sort view of the same effect.
    *
    * Determinism: daily returns are exact 1e-6 longs (1e6, not 1e8 —
    * the q200 fence: cross moments of five 1e-8-scaled daily returns
    * pass 1e14 and the decimal→double conversion goes 1-ulp unstable);
    * per-day moments fold DECIMAL-exact; λ_d rounds 8dp; the λ mean/sd
    * fold the ROUNDED values in DECIMAL(38,12); t forms once, 4dp.
    *
    * Scale: everything after the (series, day) collapse is
    * calendar-bounded (the tearsheet class); per-day cross sections
    * are |series|-sized; output is ONE row. */
  def famaMacBeth(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val daily = dayClose(bars)
      .withColumn("pc", lag(col("close"), 1).over(w))
      .withColumn("r6",
        when(col("pc").isNotNull && col("pc") > 0 && col("close") > 0,
          logRet8(col("close"), col("pc"), scale = 1e6)))
      .withColumn("x6", lag(col("r6"), 1).over(w))
      .filter(col("r6").isNotNull && col("x6").isNotNull)
    // engine-proof finish (the q365 rule): every per-day λ and its
    // square are integer-backed rationals — form the 8dp λ and the
    // 12dp λ² as EXACT scaled integers via ExactRound (DECIMAL div +
    // half-compare on the exact remainder), fold those, and only the
    // sqrt-bearing t_stat stays a true-double round (safe class:
    // post-sqrt doubles don't land on short-decimal boundaries)
    val lams = daily.groupBy(col("d"))
      .agg(count(lit(1)).as("k"),
        sum(col("x6").cast(dec)).as("sx"),
        sum(col("r6").cast(dec)).as("sy"),
        sum(col("x6").cast(dec) * col("r6").cast(dec)).as("sxy"),
        sum(col("x6").cast(dec) * col("x6").cast(dec)).as("sxx"))
      .withColumn("num",
        col("k").cast(dec) * col("sxy") - col("sx") * col("sy"))
      .withColumn("den",
        col("k").cast(dec) * col("sxx") - col("sx") * col("sx"))
      .filter(col("k") >= 3 && col("den") > 0)
      .withColumn("lam8",
        ExactRound.ratioRoundScaled(col("num"), col("den"), 8))
      .withColumn("t12", ExactRound.ratioRoundScaled(
        col("lam8").cast(dec) * col("lam8").cast(dec),
        lit(10000L), 0))
    lams.agg(count(lit(1)).as("n_days"),
        sum(col("lam8")).as("sl8"),
        sum(col("t12").cast(dec)).as("sll12"),
        sum(when(col("lam8") < 0, 1L).otherwise(0L)).as("n_neg"))
      .withColumn("mu",
        dbl(col("sl8")) / lit(1e8) / dbl(col("n_days")))
      .withColumn("v",
        (dbl(col("sll12")) / lit(1e12) -
          (dbl(col("sl8")) / lit(1e8)) * (dbl(col("sl8")) / lit(1e8)) /
            dbl(col("n_days"))) / (dbl(col("n_days")) - lit(1.0)))
      .select(col("n_days"),
        ExactRound.ratioRound(col("sl8"),
          col("n_days").cast(dec) * lit(100000000L).cast(dec), 8)
          .as("mean_premium"),
        when(col("n_days") > 1 && col("v") > 0,
          round(col("mu") / sqrt(col("v") / dbl(col("n_days"))), 4))
          .as("t_stat"),
        (floor(dbl(col("n_neg")) / dbl(col("n_days")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("share_negative"))
  }

  /** Daily volume-concentration panel: Herfindahl–Hirschman index of
    * each day's tick volume across series (HHI = Σ share², exact as
    * Σv²/V²) and the implied effective series count 1/HHI — "is
    * activity spread or is one series the whole tape today", the
    * market-structure number next to q211's share view.
    *
    * All-integer to the very end — tick counts are exact longs, Σv²
    * folds as DECIMAL products, and the 6dp/4dp finishes are formed
    * as EXACT scaled-integer rationals (`a div b` + a half-compare on
    * the exact remainder = HALF_UP with no double quotient anywhere),
    * then divided by the scale once. A raw `round()` on the double
    * quotient is the one construct this repo never ships: Spark
    * (shortest-repr BigDecimal HALF_UP) and DuckDB (multiply-based,
    * version-dependent) can legally disagree on integer-backed
    * rationals that land near a rounding boundary (the r10 driver
    * gate caught exactly that here).
    *
    * Bound: exact while q·10⁶ < 10³⁸, i.e. per-day total ticks below
    * ~10¹⁶ — comfortably past 100 TB.
    *
    * OUTPUT CONTRACT (round-12 divergence-isolation experiment): this
    * query has hash-failed the driver's gate two consecutive rounds
    * while being locally irreproducible — bit-exact across Spark,
    * DuckDB and pure-Python integer arithmetic, with every output
    * ≥6% of a rounding step from a boundary. Both engines now emit
    * ONLY exact integers and their decimal-string renderings: the raw
    * numerators/denominators (Σv², V² as DECIMAL(38,0)→string) and
    * the 6dp/4dp HALF_UP scaled BIGINTs. No double appears anywhere
    * in the output, so a driver-side hash fail can only come from the
    * input aggregation (visible in q_str/b_str per row) — while the
    * double-emitting sibling [[hhiVolumeDbl]] (q404) isolates the
    * long→double finish if THAT alone fails.
    *
    * Scale: two map-side-combined aggregates ((day, series) then
    * day); output |days| rows. */
  def hhiVolume(bars: DataFrame): DataFrame = {
    hhiIntegers(bars)
      .select(col("d"), col("n_series"), col("vt").as("total_ticks"),
        col("q").cast(StringType).as("q_str"),
        col("b").cast(StringType).as("b_str"),
        ExactRound.ratioRoundScaled(col("q"), col("b"), 6).as("hhi_s6"),
        ExactRound.ratioRoundScaled(col("b"), col("q"), 4)
          .as("eff_n_s4"))
  }

  /** The original double-emitting HHI contract (q404): identical
    * integer pipeline to [[hhiVolume]], with the scaled integers
    * divided by the scale once at the very end. Paired with q365's
    * all-integer contract to bisect the driver-gate divergence: if
    * q365 greens while this fails, the long→double cast (or the
    * driver hasher's double canonicalization) is the culprit. */
  def hhiVolumeDbl(bars: DataFrame): DataFrame = {
    hhiIntegers(bars)
      .select(col("d"), col("n_series"), col("vt").as("total_ticks"),
        ExactRound.ratioRound(col("q"), col("b"), 6).as("hhi"),
        ExactRound.ratioRound(col("b"), col("q"), 4).as("eff_n"))
  }

  /** Shared exact-integer core of q365/q404: per-day series tick sums
    * v, day totals vt, Σv² (q) and vt² (b) as DECIMAL(38,0). */
  private def hhiIntegers(bars: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    bars
      .groupBy(to_date(col("bar_ts")).as("d"), col("series"))
      .agg(sum(col("n_ticks")).as("v"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_series"),
        sum(col("v")).as("vt"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("q"))
      .withColumn("b", col("vt").cast(dec) * col("vt").cast(dec))
  }

  /** Information ratio per series against the equal-weight market
    * bar (the [[marketBeta]] leg, including itself): mean active
    * return / tracking error — "does the series beat the tape per
    * unit of deviation FROM the tape", the relative-performance
    * number next to q140's absolute Sharpe and q302's beta.
    *
    * Determinism: the q302 discipline verbatim — exact 1e-8 return
    * longs, per-bar market mean as one double divide, active-return
    * terms round 12dp and fold in DECIMAL(38,12), the mean/TE/IR
    * chain forms once per series in a shared double op order.
    *
    * Scale: the returns are [[barR8]]; the market leg is a bar_ts-keyed aggregate hash-joined back (grows
    * with time — no broadcast hint); one map-side-combined per-series
    * rollup; |series| rows out. */
  def infoRatio(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val withR = barR8(bars)
      // A/B-kept: q355 0.86 -> 1.10 s wall without it (median, parent
      // spread 0.15 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val mkt = withR.groupBy(col("bar_ts"))
      .agg(sum(col("r8")).as("msum"), count(lit(1)).as("mcnt"))
    val a = dbl(col("r8")) / lit(1e8) -
      dbl(col("msum")) / dbl(col("mcnt")) / lit(1e8)
    def dsum(c: Column) = sum(round(c, 12).cast(dec12))
    withR.join(mkt, "bar_ts")
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        dsum(a).as("sa"), dsum(a * a).as("qa"))
      .withColumn("mu", dbl(col("sa")) / dbl(col("n")))
      .withColumn("te",
        when(col("n") > 1,
          sqrt(greatest((dbl(col("qa")) - dbl(col("sa")) * dbl(col("sa")) /
            dbl(col("n"))) / (dbl(col("n")) - lit(1.0)), lit(0.0)))))
      .select(col("series"), col("n").as("n_rets"),
        round(col("mu"), 8).as("mean_active"),
        when(col("te").isNotNull, round(col("te"), 8)).as("tracking_error"),
        when(col("te") > 0, round(col("mu") / col("te"), 6)).as("info_ratio"))
  }

  /** Ulcer index per series (Martin & McCann): √ of the mean squared
    * drawdown over the daily-close path, plus the Martin (ulcer
    * performance) ratio ann_return / UI — drawdown pain weighted by
    * DEPTH AND DURATION, where q306's Calmar sees only the single
    * deepest point.
    *
    * Determinism: the q140/q306 daily chain verbatim ([[dayClose]],
    * floor-form 1e-6 drawdowns off the running max);
    * dd² terms round 12dp and fold in DECIMAL(38,12); UI/Martin form
    * once per series, rounded 6dp.
    *
    * Scale: the tearsheet class — one (series, day) map-side
    * collapse, per-series windows over the calendar-bounded daily
    * relation, one rollup; |series| rows out. */
  def ulcerIndex(
      bars: DataFrame,
      periodsPerYear: Double = 252.0): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val wrm = w.rowsBetween(Window.unboundedPreceding, 0)
    dayClose(bars)
      .withColumn("prev_c", lag(col("close"), 1).over(w))
      .withColumn("r8",
        when(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0,
          logRet8(col("close"), col("prev_c"))))
      .withColumn("runmax", max(col("close")).over(wrm))
      .withColumn("dd", when(col("runmax") > 0,
        floor((col("close") / col("runmax") - lit(1.0)) * lit(1e6) +
          lit(0.5)) / lit(1e6)))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        count(col("r8")).as("n_rets"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(round(col("dd") * col("dd"), 12).cast(dec12)).as("sdd"))
      .withColumn("ui",
        sqrt(dbl(col("sdd")) / dbl(col("n_days"))))
      .withColumn("ann_ret",
        when(col("n_rets") > 0,
          dbl(col("s1")) / dbl(col("n_rets")) * lit(periodsPerYear) /
            lit(1e8)))
      .select(col("series"), col("n_days"),
        round(col("ui"), 6).as("ulcer_index"),
        when(col("ann_ret").isNotNull, ExactRound.ratioRound(
          col("s1") * lit(periodsPerYear.toLong),
          col("n_rets") * lit(100000000L), 6)).as("ann_return"),
        when(col("ui") > 0 && col("ann_ret").isNotNull,
          round(col("ann_ret") / col("ui"), 6)).as("martin_ratio"))
  }

  /** Realized semivariance per (series, day) (Barndorff-Nielsen,
    * Kinnebrock & Shephard 2008): RV split by return SIGN —
    * RS⁺ = Σ r²·1{r>0}, RS⁻ = Σ r²·1{r<0}, and the signed jump
    * variation ΔJ = RS⁺ − RS⁻ — downside risk at intraday resolution,
    * the sign-aware companion to q181's bipower jump split (which
    * separates jumps from diffusion but not their DIRECTION).
    *
    * Determinism (q92/q181 rules): within-day return chain, returns
    * round 8dp BEFORE squaring, r² terms round 12dp and fold in
    * DECIMAL(38,12), outputs round 8dp.
    *
    * Scale: one (series, day)-keyed window pass + one
    * map-side-combined rollup on the same key — day-keyed tasks by
    * construction. */
  def semivariance(bars: DataFrame): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val dayW = Window.partitionBy(col("series"), col("d"))
      .orderBy(col("bar_ts"))
    bars
      .filter(col("close") > 0)
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("pc", lag(col("close"), 1).over(dayW))
      .filter(col("pc").isNotNull)
      .withColumn("r", logRet8dp(col("close"), col("pc")))
      .groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_rets"),
        sum(round(col("r") * col("r"), 12).cast(dec12)).as("srv"),
        sum(when(col("r") > 0, round(col("r") * col("r"), 12))
          .otherwise(0.0).cast(dec12)).as("sup"),
        sum(when(col("r") < 0, round(col("r") * col("r"), 12))
          .otherwise(0.0).cast(dec12)).as("sdn"))
      .select(col("series"), col("d"), col("n_rets"),
        round(col("srv"), 8).cast(DoubleType).as("rv"),
        round(col("sup"), 8).cast(DoubleType).as("rs_up"),
        round(col("sdn"), 8).cast(DoubleType).as("rs_down"),
        round(col("sup") - col("sdn"), 8).cast(DoubleType)
          .as("signed_jump"))
  }

  /** Conditional drawdown-at-risk per series: the `alpha`-quantile of
    * the daily drawdown distribution (DaR) and the mean drawdown AT OR
    * BELOW it (CDaR) — the drawdown analog of q205's VaR/ES pair:
    * q306's Calmar prices only the single deepest point; CDaR prices
    * the whole bad tail of underwater days.
    *
    * Determinism: the q306 daily dd chain verbatim (floor-form 1e-6
    * drawdowns); the quantile cut rounds 6dp BEFORE the membership
    * compare (the q205 convention); the tail mean folds the exact 6dp
    * dd values in DECIMAL(18,6).
    *
    * Scale: the tearsheet class — calendar-bounded daily relation,
    * quantile broadcast back; |series| rows out. */
  def cdar(bars: DataFrame, alpha: Double = 0.10): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha in (0, 0.5) (got $alpha)")
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val wrm = w.rowsBetween(Window.unboundedPreceding, 0)
    val dd = dayClose(bars)
      .withColumn("runmax", max(col("close")).over(wrm))
      .withColumn("dd", when(col("runmax") > 0,
        floor((col("close") / col("runmax") - lit(1.0)) * lit(1e6) +
          lit(0.5)) / lit(1e6)))
      .filter(col("dd").isNotNull)
    val cut = dd.groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        round(expr(s"percentile(dd, $alpha)"), 6).as("dd_q"),
        min(col("dd")).as("max_drawdown"))
    dd.join(broadcast(cut), "series")
      .filter(col("dd") <= col("dd_q"))
      .groupBy(col("series"), col("n_days"), col("dd_q"),
        col("max_drawdown"))
      .agg(count(lit(1)).as("n_tail"),
        sum(col("dd").cast(DecimalType(18, 6))).as("sdd"))
      .select(col("series"), col("n_days"),
        col("dd_q").as("dar"), col("n_tail"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sdd").cast(DecimalType(38, 6)), 6),
          col("n_tail") * lit(1000000L), 6).as("cdar"),
        col("max_drawdown"))
  }

  /** Cornish–Fisher modified VaR per series: the Gaussian quantile
    * expanded for the sample skew/excess-kurtosis of the daily-close
    * log returns —
    * z_cf = z + (z²−1)s/6 + (z³−3z)g/24 − (2z³−5z)s²/36,
    * VaR = −(μ + z_cf·σ). Reports both the plain-Gaussian and the
    * CF-modified 95%/99% VaR so the MOMENT ADJUSTMENT itself is
    * visible — the parametric tail view next to q205's historical
    * VaR/ES (which needs the full return history ranked) and q299's
    * Jarque–Bera (which tests the same moments but prices nothing).
    *
    * Determinism: [[jarqueBera]]'s exact chain verbatim — r8 log
    * returns, DECIMAL first/second moments, then STANDARDIZED z³/z⁴
    * 12dp DECIMAL folds (the q250 rule: standardize before 4th
    * powers). μ, σ, s, g each ROUND 6dp first and the quantile
    * expansion then runs on those identical doubles
    * (z₉₅ = 1.644854, z₉₉ = 2.326348) — one shared op order, outputs
    * 6dp. Degenerate series (n < 4 or zero variance) null out.
    *
    * Scale: two map-side-combined moment aggregates over the same
    * return relation — |series| rows out. */
  def cornishFisher(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val withR = barR8(bars)
      // A/B-kept: q334 1.10 -> 1.43 s wall without it (median, parent
      // spread 0.11 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val stats = withR.groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"))
      .withColumn("mu8", dbl(col("s1")) / dbl(col("n")))
      .withColumn("sd8",
        sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) / (dbl(col("n")) * dbl(col("n")))))
      .select(col("series"), col("n"), col("mu8"), col("sd8"))
    val z = (dbl(col("r8")) - col("mu8")) / col("sd8")
    // 6dp-rounded building blocks — the expansion runs on THESE
    val mu = round(col("mu8") / lit(1e8), 6)
    val sg = round(col("sd8") / lit(1e8), 6)
    val sk = ExactRound.ratioRound(ExactRound.toUnscaled(col("sz3"), 12), col("n") * lit(1000000000000L), 6)
    val xk = ExactRound.ratioRound(ExactRound.toUnscaled(col("sz4"), 12) - col("n") * lit(1000000000000L) * lit(3L),
      col("n") * lit(1000000000000L), 6)
    def varAt(z: Column, cf: Boolean): Column = {
      val zq =
        if (!cf) z
        else z + (z * z - 1) * sk / 6 +
          (z * z * z - lit(3.0) * z) * xk / 24 -
          (lit(2.0) * z * z * z - lit(5.0) * z) * sk * sk / 36
      round(-(mu + zq * sg), 6)
    }
    val ok = col("n") > 3
    val z95 = lit(1.644854)
    val z99 = lit(2.326348)
    withR.join(broadcast(stats), "series")
      .filter(col("sd8") > 0)
      .withColumn("z3", round(z * z * z, 12).cast(DecimalType(38, 12)))
      .withColumn("z4", round(z * z * z * z, 12).cast(DecimalType(38, 12)))
      .groupBy(col("series"))
      .agg(max(col("n")).as("n"), max(col("mu8")).as("mu8"),
        max(col("sd8")).as("sd8"),
        sum(col("z3")).as("sz3"), sum(col("z4")).as("sz4"))
      .select(col("series"), col("n").as("n_rets"),
        when(ok, sk).as("skew"),
        when(ok, xk).as("ex_kurt"),
        when(ok, varAt(-z95, cf = false)).as("var95_gauss"),
        when(ok, varAt(-z95, cf = true)).as("var95_cf"),
        when(ok, varAt(-z99, cf = false)).as("var99_gauss"),
        when(ok, varAt(-z99, cf = true)).as("var99_cf"))
  }

  /** Diebold–Mariano forecast-accuracy test per series between the
    * two cheapest one-bar-ahead forecasters — random walk (previous
    * close) and MA(5) (trailing 5-close mean) — on squared-error
    * loss: d_t = e_rw² − e_ma², DM = d̄/√(var(d)/n) (the 1-step
    * horizon needs no HAC correction), ±1.959964 fence. A POSITIVE
    * significant DM means smoothing beats the martingale — i.e. the
    * series mean-reverts at bar scale (the forecasting face of
    * q139's variance ratio and q321's AR(1) κ).
    *
    * Determinism: closes snap to exact 1e6 longs; e_rw and 5·e_ma
    * numerators are exact integer-valued doubles; each forms in one
    * division, d rounds 12dp in price² units into DECIMAL folds; DM
    * finishes in one shared double op order, 6dp.
    *
    * Scale: ONE per-series window pass computes both forecasts; one map-side-combined aggregate;
    * \|series\| rows out. */
  def dmTest(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val wMa = w.rowsBetween(-5, -1)
    val c6 = floor(col("close") * lit(1e6) + lit(0.5)).cast("long")
    val x = bars
      .withColumn("c6", c6)
      .withColumn("pc6", lag(col("c6"), 1).over(w))
      .withColumn("s5", sum(col("c6")).over(wMa))
      .withColumn("n5", count(col("c6")).over(wMa))
      .filter(col("pc6").isNotNull && col("n5") === 5)
    val e1 = dbl(col("c6") - col("pc6")) / lit(1e6)
    val e2 = dbl(lit(5L) * col("c6") - col("s5")) / lit(5e6)
    val agg = x
      .withColumn("d", round(e1 * e1 - e2 * e2, 12))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("d").cast(dec12)).as("s1"),
        sum(round(col("d") * col("d"), 12).cast(dec12)).as("s2"))
    val n = dbl(col("n"))
    val mean = dbl(col("s1")) / n
    val vr = (n * dbl(col("s2")) - dbl(col("s1")) * dbl(col("s1"))) /
      (n * (n - 1))
    val dm = mean / sqrt(vr / n)
    val ok = col("n") > 1 && vr > 0
    agg.select(col("series"), col("n"),
      round(mean, 8).as("mean_loss_diff"),
      when(ok, round(dm, 6)).as("dm_stat"),
      when(ok,
        when(dm > 1.959964, lit("ma5"))
          .when(dm < -1.959964, lit("rw"))
          .otherwise(lit("tie"))).as("better"))
  }

  /** On-balance volume at day granularity per series: the running
    * Σ sign(Δclose)·volume (Granville's OBV — does volume flow WITH
    * price), emitted as each day's end-of-day level plus the day's
    * net signed flow. Divergence between OBV and price is the
    * classic accumulation/distribution read next to q232's CMF (a
    * bounded per-day ratio) and q166's tick-rule flow (tick counts,
    * not volume).
    *
    * Determinism: signs come off exact 1e6-long Δcloses (zero change
    * contributes 0 — the strict Granville rule); volumes snap to
    * exact 1e6 longs (bars' volume is already a DECIMAL-accumulated
    * 6dp double), so every flow is an exact integer; day sums fold
    * as DECIMAL and the running level is a prefix over the
    * keys×days map — all-integer until one /1e6.
    *
    * Scale: the Δ chain rides [[ScalableWindow.withPrevValues]];
    * the prefix runs over the AGGREGATE-sized
    * keys×days relation, never the bar history; \|series\|·\|days\|
    * rows out. */
  def obv(bars: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val d6 = floor(col("close") * lit(1e6) + lit(0.5)).cast("long") -
      floor(col("__pc") * lit(1e6) + lit(0.5)).cast("long")
    val flows = ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "__pc")))
      .filter(col("__pc").isNotNull)
      .withColumn("sv",
        (when(d6 > 0, lit(1L)).when(d6 < 0, lit(-1L)).otherwise(lit(0L))) *
          floor(col("volume") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(sum(col("sv").cast(dec)).as("flow6"))
    val wDays = Window.partitionBy(col("series")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    flows
      .withColumn("obv6", sum(col("flow6")).over(wDays))
      .select(col("series"), col("d"),
        ExactRound.ratioRound(col("flow6"), lit(1000000L), 6).as("day_flow"),
        ExactRound.ratioRound(col("obv6"), lit(1000000L), 6).as("obv"))
  }

  /** The return and day-close convention every chain in this object
    * shares with its DuckDB twin. A log return is ln(close / prev),
    * either as an exact long floor(x·1e8 + 0.5) ([[logRet8]], the q90
    * rule; ln is bit-identical in both engines, the q92 precedent) or
    * rounded to 8dp ([[logRet8dp]]). A bucket's first/last value is
    * min/max over struct(ts, v) ([[firstBy]], [[lastBy]]): a ts tie
    * goes to the smaller v for firstBy and the larger v for lastBy in
    * every partial-aggregation order — NOT `min_by`/`max_by`, whose
    * tie pick is not deterministic. `scale` is 1e8 except where an op
    * documents its own (famaMacBeth's 1e6). */
  private[graft] def logRet8(close: Column, prev: Column, scale: Double = 1e8): Column =
    floor(log(close / prev) * lit(scale) + lit(0.5)).cast("long")

  private[graft] def logRet8dp(close: Column, prev: Column): Column =
    round(log(close / prev), 8)

  private[graft] def firstBy(ts: Column, v: Column): Column =
    min(struct(ts.as("t"), v.as("v"))).getField("v")

  private[graft] def lastBy(ts: Column, v: Column): Column =
    max(struct(ts.as("t"), v.as("v"))).getField("v")

  /** (series, d, close): each day's close is its latest bar's close. */
  private[graft] def dayClose(bars: DataFrame): DataFrame =
    bars.groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(lastBy(col("bar_ts"), col("close")).as("close"))

  /** (series, bar_ts, r8) bar returns: closes ≤ 0 drop FIRST, the lag
    * runs over the surviving bars, and each series' first surviving
    * bar emits no row. Lagging over all bars and then guarding both
    * closes (the varianceRatio/hurst/periodogram chains) is a
    * different function whenever a close ≤ 0 sits between two
    * positive ones — those chains keep their own lag. */
  private[graft] def barR8(bars: DataFrame): DataFrame =
    ScalableWindow.withPrevValues(bars.filter(col("close") > 0),
        Seq("series"), Seq("bar_ts"), Seq(("close", "pc")))
      .filter(col("pc").isNotNull)
      .select(col("series"), col("bar_ts"),
        logRet8(col("close"), col("pc")).as("r8"))

  /** (series, d, r8) daily returns: [[dayClose]], a lag over ALL the
    * daily rows, then both closes guarded > 0 — the Lilliefors chain,
    * shared by the Inclán–Tiao, sample-entropy, vol-managed,
    * signal-turnover, [[csDispersion]] and order-statistic
    * ([[hillTail]], [[andersonDarling]], [[w1Drift]],
    * [[tailDependence]]) ops.
    * Per-series windows here run over CALENDAR-bounded daily rows
    * (the q306 daily-chain class), never the raw bar history. */
  private[graft] def dailyR8(bars: DataFrame): DataFrame = {
    val wD = Window.partitionBy(col("series")).orderBy(col("d"))
    dayClose(bars)
      .withColumn("pc", lag(col("close"), 1).over(wD))
      .withColumn("r8",
        when(col("pc").isNotNull && col("pc") > 0 && col("close") > 0,
          logRet8(col("close"), col("pc"))))
      .filter(col("r8").isNotNull)
      .select(col("series"), col("d"), col("r8"))
  }

  /** Chatterjee's ξ rank-correlation coefficient (Chatterjee 2021)
    * for every ORDERED series pair (x → y) on day-aligned daily
    * closes: sort the pair's days by the x-value, take y's ≤-ranks
    * r_i = #{j: y_j ≤ y_i} and ≥-counts l_i = #{j: y_j ≥ y_i}, then
    * ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ l_i(n − l_i)) — the tie-robust
    * general form. ξ → 0 iff independent, → 1 iff y is a measurable
    * FUNCTION of x (any shape, not just monotone) — the
    * "is there any functional dependence at all" read that q274's
    * Kendall τ (monotone) and q343's binned MI (resolution-limited)
    * each only approximate. Asymmetric by construction: both
    * directions emit.
    *
    * Determinism: closes snap to exact 1e6 longs (the q340 Pettitt
    * rule) so ranks/counts are pure integers; x-ties order by day
    * (deterministic in both engines, the documented tie rule where
    * the literature randomizes); the single double finish rounds 6dp.
    *
    * Scale: day collapse FIRST ([[dayClose]]), the pair join is
    * d-keyed with \|series\| rows per key, and the rank/lag windows
    * run per pair over CALENDAR-bounded daily rows — the q317 class,
    * never bar-history-sized tasks. */
  def chatterjee(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val daily = dayClose(bars)
      .select(col("series"), col("d"),
        floor(col("close") * lit(1e6) + lit(0.5)).cast("long").as("v"))
    val a = daily.select(col("series").as("series_x"), col("d"),
      col("v").as("x"))
    val b = daily.select(col("series").as("series_y"), col("d"),
      col("v").as("y"))
    val keys = Seq(col("series_x"), col("series_y"))
    val wAll = Window.partitionBy(keys: _*)
    val wY = wAll.orderBy(col("y"))
    val wTie = Window.partitionBy(keys :+ col("y"): _*)
    val wX = wAll.orderBy(col("x"), col("d"))
    val ranked = a.join(b, "d")
      .filter(col("series_x") =!= col("series_y"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("r", rank().over(wY) + count(lit(1)).over(wTie) - 1)
      .withColumn("l", col("n") - rank().over(wY) + 1)
      .withColumn("rp", lag(col("r"), 1).over(wX))
    val agg = ranked.groupBy(col("series_x"), col("series_y"))
      .agg(max(col("n")).as("n"),
        sum(when(col("rp").isNotNull, abs(col("r") - col("rp")))
          .otherwise(lit(0L)).cast(dec)).as("sd"),
        sum((col("l") * (col("n") - col("l"))).cast(dec)).as("dd"))
    agg.select(col("series_x"), col("series_y"), col("n"),
      when(col("dd") > 0,
        round(lit(1.0) -
          dbl(col("n")) * dbl(col("sd")) / (lit(2.0) * dbl(col("dd"))),
          6)).as("xi"))
  }

  /** Hill tail-index estimator per series on daily |log returns|:
    * over the k largest magnitudes (k = max(5, ⌊`tailFrac`·n⌋)),
    * H = (1/k)·Σ_{i≤k} ln x_(i) − ln x_(k+1) and α = 1/H — the
    * POWER-LAW tail thickness (α ≈ 3 is the equity-return cubic law;
    * α ≤ 2 means infinite variance) that q250's kurtosis only hints
    * at and q354's Gumbel block maxima assume away.
    *
    * Determinism: magnitudes are exact 1e8 longs; the scale offset
    * cancels inside H (ln(s·x) − ln(s·y) = ln x − ln y), so logs run
    * on the raw longs; each ln rounds 12dp into a DECIMAL fold;
    * order statistics pick by (|r8| DESC, d ASC) row_number — value
    * ties permute equal terms only, so the fold is tie-invariant.
    *
    * Scale: the rank window runs per series over CALENDAR-bounded
    * daily rows (the q306 class); one aggregate after; \|series\|
    * rows out. */
  def hillTail(bars: DataFrame, tailFrac: Double = 0.05): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val ab = dailyR8(bars)
      .withColumn("a8", abs(col("r8")))
      .filter(col("a8") > 0)
    val wAll = Window.partitionBy(col("series"))
    val wDesc = wAll.orderBy(col("a8").desc, col("d"))
    val ranked = ab
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wDesc))
      .withColumn("k",
        greatest(lit(5L),
          floor(dbl(col("n")) * lit(tailFrac)).cast("long")))
      .filter(col("rn") <= col("k") + 1)
    val agg = ranked.groupBy(col("series"))
      .agg(max(col("n")).as("n_rets"), max(col("k")).as("k"),
        sum(when(col("rn") <= col("k"),
          round(log(dbl(col("a8"))), 12).cast(dec12))).as("slog"),
        max(when(col("rn") === col("k") + 1, col("a8"))).as("xk1"))
    val h = dbl(col("slog")) / dbl(col("k")) -
      round(log(dbl(col("xk1"))), 12)
    // k is the EFFECTIVE tail size: null when the series has fewer
    // than k+2 nonzero returns (xk1 missing — no estimate is formed),
    // so the reported k never overstates the tail actually used
    agg.select(col("series"), col("n_rets"),
      when(col("xk1").isNotNull, col("k")).as("k"),
      when(col("xk1").isNotNull,
        ExactRound.ratioRound(col("xk1"), lit(100000000L), 8)).as("x_kplus1"),
      when(col("xk1").isNotNull, round(h, 6)).as("hill_h"),
      when(col("xk1").isNotNull && h > 0, round(lit(1.0) / h, 6))
        .as("tail_alpha"))
  }

  /** Anderson–Darling normality test per series on daily log
    * returns: A² = −n − (1/n)·Σ_i [(2i−1)·ln Φ(z_(i)) +
    * (2(n−i)+1)·ln(1−Φ(z_(i)))] with estimated mean/sd, Stephens'
    * small-sample factor A*² = A²·(1 + 0.75/n + 2.25/n²), reject at
    * the 5% critical value 0.752 — the TAIL-WEIGHTED companion to
    * q346's Lilliefors KS (which weights the distribution center;
    * fat return tails fire AD first).
    *
    * Determinism: [[dailyR8]], the q346 chain (exact-long r8, integer
    * moments, the A–S 7.1.26 erf polynomial in explicit multiply
    * chains); Φ clamps to [1e−15, 1−1e−15] before ln (extreme z
    * underflows the polynomial to exactly 0/1); per-row terms round
    * 12dp into a DECIMAL fold — rank ties permute equal z's whose
    * block weight sum is permutation-invariant; the finish is one
    * shared double op order rounded 6dp.
    *
    * Scale: q346's posture — per-series windows over calendar-bounded
    * DAILY rows, one moment aggregate, one term fold. */
  def andersonDarling(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val daily = dailyR8(bars)
    val stats = daily.groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("r8").cast(dec)).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"))
      .withColumn("mu8", dbl(col("s1")) / dbl(col("n")))
      .withColumn("sd8",
        sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("n")) * (dbl(col("n")) - 1))))
      .select(col("series"), col("n"), col("mu8"), col("sd8"))
    def phi(z: Column): Column = {
      val x = abs(z) / lit(1.4142135623730951)
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t +
        lit(1.421413741)) * t - lit(0.284496736)) * t +
        lit(0.254829592)) * t
      val erf = lit(1.0) - poly * exp(-x * x)
      when(z >= 0, lit(0.5) * (lit(1.0) + erf))
        .otherwise(lit(0.5) * (lit(1.0) - erf))
    }
    val wR = Window.partitionBy(col("series"))
      .orderBy(col("r8"), col("d"))
    val z = (dbl(col("r8")) - col("mu8")) / col("sd8")
    val ph = least(greatest(phi(z), lit(1e-15)),
      lit(1.0) - lit(1e-15))
    val nd = dbl(col("n"))
    val i = dbl(col("i"))
    val term = round((lit(2.0) * i - 1) * log(ph) +
      (lit(2.0) * (nd - i) + 1) * log(lit(1.0) - ph), 12)
    val agg = daily.join(broadcast(stats), "series")
      .filter(col("sd8") > 0)
      .withColumn("i", row_number().over(wR).cast("long"))
      .withColumn("t12", term.cast(dec12))
      .groupBy(col("series"))
      .agg(max(col("n")).as("n_days"), sum(col("t12")).as("s12"))
    val ndy = dbl(col("n_days"))
    val a2 = -ndy - dbl(col("s12")) / ndy
    val astar = a2 * (lit(1.0) + lit(0.75) / ndy +
      lit(2.25) / (ndy * ndy))
    agg.select(col("series"), col("n_days"),
      round(a2, 6).as("a2"),
      round(astar, 6).as("a2_star"),
      (astar > lit(0.752)).as("reject_normal"))
  }

  /** Exact 1-Wasserstein (earth-mover) distance between the FIRST and
    * SECOND half of each series' daily-return distribution — "did the
    * return DISTRIBUTION drift", integrating |F₁ − F₂| over the
    * merged support, so it reads location AND shape drift in return
    * units where q363's KPSS sees only the level and q350's
    * Inclán–Tiao only the variance.
    *
    * Determinism: ALL-INTEGER until one division — returns are 1e8
    * longs, the split is the q270 row_number half-split, each
    * segment's |C₁·n₂ − C₂·n₁|·Δv term is an exact long product
    * (calendar-bounded: C ≤ n ≤ \|days\|) cast to DECIMAL once for
    * the fold, and W₁ = S/(n₁·n₂·1e8) rounds 6dp.
    *
    * Scale: day collapse first; the split index, the distinct-value
    * CDF walk, and the lead() gap all run per series over
    * calendar-bounded DAILY rows (the q306 class); \|series\| rows
    * out. */
  def w1Drift(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val wT = Window.partitionBy(col("series")).orderBy(col("d"))
    val wAll = Window.partitionBy(col("series"))
    val wV = Window.partitionBy(col("series")).orderBy(col("r8"))
    val split = dailyR8(bars)
      .withColumn("t", row_number().over(wT).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("in1", col("t") <= floor(dbl(col("n")) / 2))
    val cells = split.groupBy(col("series"), col("r8"))
      .agg(sum(when(col("in1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("in1"), 0L).otherwise(1L)).as("c2"))
    val tot = cells.groupBy(col("series"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val walked = cells
      .withColumn("cc1", sum(col("c1"))
        .over(wV.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cc2", sum(col("c2"))
        .over(wV.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dv", lead(col("r8"), 1).over(wV) - col("r8"))
      .join(broadcast(tot), "series")
      // q248 cast-before-multiply rule: |cc·n| is |days|²-bounded but
      // ·dv multiplies in an r8 spread that can push the Long product
      // past 2^63 on multi-decade calendars — form the products in
      // DECIMAL(38,0) (exact integers, identical values where Long
      // did not overflow)
      .withColumn("term",
        when(col("dv").isNotNull,
          abs(col("cc1").cast(dec) * col("n2").cast(dec) -
            col("cc2").cast(dec) * col("n1").cast(dec)) *
            col("dv").cast(dec))
          .otherwise(lit(0L).cast(dec)))
    walked.groupBy(col("series"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("term").cast(dec)).as("s"))
      .select(col("series"), col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0,
          ExactRound.ratioRound(col("s"),
            col("n1").cast(dec) * col("n2").cast(dec) *
              lit(100000000L).cast(dec), 6))
          .as("w1_drift"))
  }

  /** Empirical tail-dependence coefficients for every UNORDERED
    * series pair on day-aligned daily returns: with k = max(1,
    * ⌊`tailFrac`·n⌋) extreme days per side (ranked within the
    * ALIGNED day set), λ_hi = |topₖ(a) ∩ topₖ(b)|/k and λ_lo the
    * same on the bottom — "do they crash TOGETHER", the co-extreme
    * read that q85's full-sample correlation structurally understates
    * (Gaussian copulas have λ = 0 at any ρ < 1).
    *
    * Determinism: extreme-day sets pick by (r8 DESC/ASC, d) — a
    * deterministic total order on exact longs, so the day sets are
    * identical in both engines even under return ties; counts are
    * integers; the two ratios round 6dp.
    *
    * Scale: day collapse first, d-keyed pair join (\|series\| rows
    * per key), rank windows per pair over calendar-bounded daily
    * rows — the q317/q374 posture. */
  def tailDependence(bars: DataFrame, tailFrac: Double = 0.1): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val daily = dailyR8(bars)
    val a = daily.select(col("series").as("series_a"), col("d"),
      col("r8").as("ra"))
    val b = daily.select(col("series").as("series_b"), col("d"),
      col("r8").as("rb"))
    val keys = Seq(col("series_a"), col("series_b"))
    val wAll = Window.partitionBy(keys: _*)
    def rn(c: Column, asc: Boolean) = row_number().over(
      wAll.orderBy(if (asc) c.asc else c.desc, col("d")))
    val ranked = a.join(b, "d")
      .filter(col("series_a") < col("series_b"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("k",
        greatest(lit(1L),
          floor(dbl(col("n")) * lit(tailFrac)).cast("long")))
      .withColumn("ha", rn(col("ra"), asc = false))
      .withColumn("hb", rn(col("rb"), asc = false))
      .withColumn("la", rn(col("ra"), asc = true))
      .withColumn("lb", rn(col("rb"), asc = true))
    ranked.groupBy(col("series_a"), col("series_b"))
      .agg(max(col("n")).as("n_days"), max(col("k")).as("k"),
        sum(when(col("ha") <= col("k") && col("hb") <= col("k"), 1L)
          .otherwise(0L)).as("both_hi"),
        sum(when(col("la") <= col("k") && col("lb") <= col("k"), 1L)
          .otherwise(0L)).as("both_lo"))
      .select(col("series_a"), col("series_b"), col("n_days"),
        col("k"),
        ExactRound.ratioRound(col("both_hi"), col("k"), 6).as("lambda_hi"),
        ExactRound.ratioRound(col("both_lo"), col("k"), 6).as("lambda_lo"))
  }

  /** Binary transfer entropy TE(X→Y) at lag 1 for every ORDERED
    * series pair, on return SIGNS (up/non-up): TE = Σ p(y, yₚ, xₚ)·
    * ln[ c(y,yₚ,xₚ)·c(yₚ) / (c(yₚ,xₚ)·c(y,yₚ)) ] in nats — the
    * MODEL-FREE directed-information read next to q341's Granger
    * (which tests only LINEAR lead-lag; TE fires on any sign
    * predictability, e.g. volatility-mediated asymmetries).
    * Conditioning on yₚ removes Y's own momentum, so TE > 0 means X's
    * yesterday tells you something TODAY's Y that Y's own yesterday
    * doesn't.
    *
    * Determinism: signs come off exact-long r8 (> 0); the 8-cell
    * joint histogram and its three margins are pure integers; each
    * cell term rounds 12dp into a DECIMAL fold (the q343 MI rule);
    * TE rounds 6dp.
    *
    * Scale: the q341 posture verbatim — ONE sign relation feeds
    * both join legs; the pair join is
    * bar_ts-keyed; cells are \|series\|²·8-bounded. */
  def transferEntropy(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val w = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts"))
    val rr = barR8(bars)
      .withColumn("rl8", lag(col("r8"), 1).over(w))
      .filter(col("rl8").isNotNull)
      .select(col("series"), col("bar_ts"),
        when(col("r8") > 0, 1).otherwise(0).as("s"),
        when(col("rl8") > 0, 1).otherwise(0).as("sp"))
    val y = rr.select(col("series").as("effect"), col("bar_ts"),
      col("s").as("yv"), col("sp").as("yp"))
    val x = rr.select(col("series").as("cause"), col("bar_ts"),
      col("sp").as("xp"))
    val joint = y.join(x, "bar_ts")
      .filter(col("effect") =!= col("cause"))
      .groupBy(col("cause"), col("effect"), col("yv"), col("yp"),
        col("xp"))
      .agg(count(lit(1)).as("c"))
    // margins as whole-partition window sums over the (≤ |pairs|·8
    // row) cell relation — same integer sums as the old four
    // aggregate+join legs, with zero broadcast builds and no
    // checkpoint barrier (the r14 margin-fusion)
    def kw(extra: Column*) =
      Window.partitionBy(Seq(col("cause"), col("effect")) ++ extra: _*)
    val teTerm = round(dbl(col("c")) / dbl(col("n")) *
      log(dbl(col("c")) * dbl(col("c_yp")) /
        (dbl(col("c_ypxp")) * dbl(col("c_yyp")))), 12).cast(dec12)
    joint
      .withColumn("c_yyp", sum(col("c")).over(kw(col("yv"), col("yp"))))
      .withColumn("c_ypxp", sum(col("c")).over(kw(col("yp"), col("xp"))))
      .withColumn("c_yp", sum(col("c")).over(kw(col("yp"))))
      .withColumn("n", sum(col("c")).over(kw()))
      .withColumn("n_cells", count(lit(1)).over(kw()))
      .groupBy(col("cause"), col("effect"))
      .agg(max(col("n")).as("n"), max(col("n_cells")).as("n_cells"),
        sum(teTerm).as("te12"))
      .select(col("cause"), col("effect"), col("n"), col("n_cells"),
        round(col("te12"), 6).cast(DoubleType).as("te_nats"))
  }

  /** Epps-effect curve: pair return correlation at COARSENING sampling
    * scales (5/15/60-minute bars) — on real markets high-frequency
    * correlations are biased toward ZERO by asynchronous trading and
    * recover as the sampling step grows (Epps 1979); the curve says
    * which sampling scale q85/q259's correlation reads are trustworthy
    * at.
    *
    * Correctness note: the coarse close composes exactly — the
    * 60-minute argmax-by-ts close equals the close of the last
    * nonempty 5-minute bar (bar buckets partition time), so
    * [[resample]] and the oracle's direct coarse aggregation agree
    * bit-for-bit.
    *
    * Determinism: each scale's returns are [[barR8]] of its resampled
    * bars (close > 0 pre-filtered before the lag, the q250 rule); all
    * five co-moments
    * fold as DECIMAL(38,0) integer products (the q341 machinery);
    * Pearson finishes in one shared double op order, 6dp.
    *
    * Scale: each scale's chain is one per-series window over bars
    * that only SHRINK with the step; ONE union feeds both
    * pair-join legs keyed (scale, bar_ts) with \|series\| rows per
    * key; output is \|series\|²·\|scales\| rows. */
  def eppsCurve(
      bars: DataFrame,
      scalesMin: Seq[Int] = Seq(5, 15, 60)): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    // A/B-kept: q381 1.79 -> 2.24 s wall without it (median, parent
    // spread 0.11 s; PerfProbe sf0.1, local[4], 8 runs a side)
    val barsCk = bars.localCheckpoint(eager = false)
    val legs = scalesMin.map { m =>
      barR8(resample(barsCk, m * 60L * 1000000L))
        .select(lit(m).as("scale_min"), col("series"), col("bar_ts"),
          col("r8"))
    }
    val rr = legs.reduce(_ unionByName _)
      // A/B-kept: q381 1.79 -> 2.24 s wall without it (median, parent
      // spread 0.11 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val a = rr.select(col("scale_min"), col("series").as("series_a"),
      col("bar_ts"), col("r8").as("ra"))
    val b = rr.select(col("scale_min"), col("series").as("series_b"),
      col("bar_ts"), col("r8").as("rb"))
    def d(c: Column) = c.cast(dec)
    val agg = a.join(b, Seq("scale_min", "bar_ts"))
      .filter(col("series_a") < col("series_b"))
      .groupBy(col("series_a"), col("series_b"), col("scale_min"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("ra"))).as("sa"), sum(d(col("rb"))).as("sb"),
        sum(d(col("ra")) * d(col("rb"))).as("sab"),
        sum(d(col("ra")) * d(col("ra"))).as("saa"),
        sum(d(col("rb")) * d(col("rb"))).as("sbb"))
    val n = dbl(col("n"))
    val va = n * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))
    val vb = n * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))
    val cov = n * dbl(col("sab")) - dbl(col("sa")) * dbl(col("sb"))
    agg.select(col("series_a"), col("series_b"), col("scale_min"),
      col("n"),
      when(va > 0 && vb > 0, round(cov / sqrt(va * vb), 6)).as("corr"))
  }

  /** Cross-sectional correlation structure: the pairwise bar-return
    * correlation matrix summarized WITHOUT an eigen solve — mean and
    * dispersion of the off-diagonal correlations plus the effective
    * factor count N²/(N + 2·Σ_{i<j} c²) = (tr C)²/tr(C²), the
    * participation ratio of the correlation matrix from its trace
    * invariants alone (the q325 identity applied to returns). Low
    * effective count = one factor owns the cross-section (the
    * absorption/systemic-risk regime read); ≈ N = diversification is
    * real. Complements q382 (dispersion LEVEL per day) and q259 (the
    * full pair list).
    *
    * Determinism: each pair correlation is the q381 exact-co-moment
    * form rounded 6dp; the matrix folds run over those 6dp values
    * (c² is exact at 12dp) as DECIMAL; the three finishes are one
    * shared double op order each, 6dp. Null-variance pairs drop from
    * the folds (documented: treated as contributing 0 to Σc²).
    *
    * Scale: ONE return relation feeds both
    * pair legs (the q341 posture); the summary is a 1-row fold over
    * \|series\|² pair rows. */
  def corrStructure(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val rr = barR8(bars)
      // A/B-kept: q384 0.83 -> 0.99 s wall without it (median, parent
      // spread 0.13 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val a = rr.select(col("series").as("series_a"), col("bar_ts"),
      col("r8").as("ra"))
    val b = rr.select(col("series").as("series_b"), col("bar_ts"),
      col("r8").as("rb"))
    def d(c: Column) = c.cast(dec)
    val pairAgg = a.join(b, "bar_ts")
      .filter(col("series_a") < col("series_b"))
      .groupBy(col("series_a"), col("series_b"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("ra"))).as("sa"), sum(d(col("rb"))).as("sb"),
        sum(d(col("ra")) * d(col("rb"))).as("sab"),
        sum(d(col("ra")) * d(col("ra"))).as("saa"),
        sum(d(col("rb")) * d(col("rb"))).as("sbb"))
    val n = dbl(col("n"))
    val va = n * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))
    val vb = n * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))
    val cov = n * dbl(col("sab")) - dbl(col("sa")) * dbl(col("sb"))
    val corrs = pairAgg
      .select(when(va > 0 && vb > 0, round(cov / sqrt(va * vb), 6))
        .as("c"))
      .filter(col("c").isNotNull)
    val nRow = rr.select(col("series")).distinct()
      .agg(count(lit(1)).as("n_series"))
    val nd = dbl(col("n_series"))
    corrs.agg(count(lit(1)).as("n_pairs"),
        sum(col("c").cast(dec12)).as("s1"),
        sum(round(col("c") * col("c"), 12).cast(dec12)).as("s2"))
      .crossJoin(broadcast(nRow))
      .select(col("n_series"), col("n_pairs"),
        when(col("n_pairs") > 0,
          ExactRound.ratioRound(ExactRound.toUnscaled(col("s1"), 12),
          col("n_pairs") * lit(1000000000000L), 6)).as("mean_corr"),
        when(col("n_pairs") > 1,
          round(sqrt((dbl(col("n_pairs")) * dbl(col("s2")) -
            dbl(col("s1")) * dbl(col("s1"))) /
            (dbl(col("n_pairs")) * (dbl(col("n_pairs")) - 1))), 6))
          .as("sd_corr"),
        round(nd * nd / (nd + lit(2.0) * dbl(col("s2"))), 6)
          .as("eff_factors"))
  }

  /** Daily cross-sectional return dispersion + CSAD (Chang–Cheng–
    * Khorana 2000): per day over all series' daily returns — the
    * cross-sectional sd (the dispersion regime gauge) and the
    * cross-sectional absolute deviation (the herding literature's
    * statistic: CSAD COMPRESSING as the market return widens is the
    * herding signature). The time-axis companion reads are q241's
    * vol cone (per series) and q320's rank IC (cross-sectional
    * ranks); this is the LEVEL of cross-sectional disagreement.
    *
    * Determinism: ALL-INTEGER until the finishes — r8 longs, the
    * per-day sum/count come off one day-partitioned window (integer
    * sums), CSAD's Σ|n·r_i − S| terms are exact longs, squares fold
    * as DECIMAL products; each output finishes in one shared double
    * op order, 6dp (8dp for the min/max which are exact longs).
    *
    * Scale: day collapse first; the day-partitioned window holds
    * \|series\| rows per day (the q320 cross-section shape — the KEY
    * grows with the calendar, tasks stay cross-section-sized);
    * \|days\| rows out. */
  def csDispersion(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val wD = Window.partitionBy(col("d"))
    val x = dailyR8(bars)
      .withColumn("n", count(lit(1)).over(wD))
      .withColumn("s", sum(col("r8")).over(wD))
      .withColumn("ad", abs(col("n") * col("r8") - col("s")))
    val agg = x.groupBy(col("d"))
      .agg(max(col("n")).as("n_series"),
        max(col("s")).as("s1"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("s2"),
        sum(col("ad").cast(dec)).as("sad"),
        min(col("r8")).as("lo8"), max(col("r8")).as("hi8"))
    val n = dbl(col("n_series"))
    agg.select(col("d"), col("n_series"),
      ExactRound.ratioRound(col("s1"), col("n_series") * lit(100000000L), 6)
        .as("mean_ret"),
      when(col("n_series") > 1,
        round(sqrt((n * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) / (n * (n - 1))) / lit(1e8),
          6)).as("cs_sd"),
      ExactRound.ratioRound(col("sad"),
        (col("n_series") * col("n_series")).cast(dec) *
          lit(100000000L), 6).as("csad"),
      ExactRound.ratioRound(col("lo8"), lit(100000000L), 8).as("min_ret"),
      ExactRound.ratioRound(col("hi8"), lit(100000000L), 8).as("max_ret"))
  }

  /** MedRV normalizer π/(6 − 4√3 + π) (Andersen–Dobrev–Schaumburg
    * 2012). Hardcoded literal — both engines share the interpolated
    * Double.toString form bit-for-bit (the [[Mu43Inv3]] rule). */
  val MedRvK: Double = 1.4193583020224412

  /** Median realized variance per (series, day) — the jump-ROBUST
    * volatility estimator: MedRV = k·(M/(M−2))·Σ med(|r_{i−1}|,
    * |r_i|, |r_{i+1}|)² with M = the day's RETURN count (n_rets),
    * the finite-sample factor exactly as Andersen–Dobrev–Schaumburg
    * 2012 write it (round 12 fixed an m_triples/(m_triples−2)
    * variant — consistent but small-sample-biased vs the paper);
    * immune to a single jump per triple where [[bipowerJump]]'s BV
    * still leaks half of it; reported against RV with the robust
    * jump share.
    *
    * Determinism: within-day returns snap to exact 1e8 longs; the
    * median of THREE integers is an exact integer (greatest of the
    * pairwise leasts); med² folds as DECIMAL; k is a shared literal;
    * the RV/MedRV/share finishes are post-constant true doubles
    * (safe rounding class).
    *
    * Scale: everything runs in ONE (series, day) window partition —
    * within-day triples never cross days, so the partition is
    * day-bounded by construction; map-side
    * rollup; |series|·|days| rows out. */
  def medRv(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dayW = Window.partitionBy(col("series"), col("d"))
      .orderBy(col("bar_ts"))
    val rets = bars
      .withColumn("d", to_date(col("bar_ts")))
      .withColumn("prev_c", lag(col("close"), 1).over(dayW))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 &&
        col("close") > 0)
      .withColumn("a8",
        abs(logRet8(col("close"), col("prev_c"))))
    val triples = rets
      .withColumn("p8", lag(col("a8"), 1).over(dayW))
      .withColumn("q8", lag(col("a8"), 2).over(dayW))
      .withColumn("med8",
        when(col("q8").isNotNull,
          greatest(least(col("a8"), col("p8")),
            least(col("a8"), col("q8")),
            least(col("p8"), col("q8")))))
    val agg = triples.groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_rets"),
        sum(col("a8").cast(dec) * col("a8").cast(dec)).as("srr"),
        count(col("med8")).as("m_triples"),
        sum(col("med8").cast(dec) * col("med8").cast(dec)).as("smm"))
    val m = dbl(col("n_rets")) // ADS 2012: M = the day's return count
    val rv = dbl(col("srr")) / lit(1e16)
    val medrv = lit(MedRvK) * (m / (m - lit(2.0))) *
      (dbl(col("smm")) / lit(1e16))
    agg.filter(col("m_triples") >= 3)
      .select(col("series"), col("d"), col("n_rets"), col("m_triples"),
        round(rv, 10).as("rv"),
        round(medrv, 10).as("medrv"),
        // the raw ratio stays informative on jump-free tapes where
        // the clamped share reads 0 everywhere (the q290 rule)
        when(rv > 0, round(medrv / rv, 6)).as("medrv_rv_ratio"),
        when(rv > 0, round(greatest(lit(0.0), lit(1.0) - medrv / rv), 6))
          .as("robust_jump_share"))
  }

  /** Volume–volatility relation per series (Clark's mixture-of-
    * distributions hypothesis): Pearson correlation of |r| and of r²
    * against bar volume — MDH predicts both positive (volume and
    * volatility share the latent information-arrival clock), the
    * classic empirical check next to q167's VPIN (which reads flow
    * TOXICITY, not the shared clock).
    *
    * Determinism: returns are exact 1e8 longs off the lag-over-all-
    * bars chain; volume snaps to an exact 1e6 long (floor-form);
    * co-moments fold as DECIMAL products (cast-before-multiply —
    * |r8|·v6 passes 2⁶³ easily); both correlations form in the
    * shared Pearson op order and round 6dp, with the 1.959964/√n
    * fence on the rounded value.
    *
    * Scale: ONE [[ScalableWindow.withPrevValues]] pass, one
    * map-side-combined per-series moment aggregate; |series| rows
    * out. */
  def volumeVolatility(bars: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val chain = ScalableWindow.withPrevValues(bars, Seq("series"),
        Seq("bar_ts"), Seq(("close", "pc")))
      .filter(col("pc").isNotNull && col("pc") > 0 && col("close") > 0)
      .select(col("series"),
        abs(logRet8(col("close"), col("pc"))).as("a8"),
        floor(col("volume") * lit(1e6) + lit(0.5)).cast("long").as("v6"))
      .withColumn("q16", col("a8").cast(dec) * col("a8").cast(dec))
    val agg = chain.groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("a8").cast(dec)).as("sa"),
        sum(col("v6").cast(dec)).as("sv"),
        sum(col("q16")).as("sq"),
        sum(col("a8").cast(dec) * col("v6").cast(dec)).as("sav"),
        sum(col("q16") * col("v6").cast(dec)).as("sqv"),
        sum(col("a8").cast(dec) * col("a8").cast(dec) *
          col("a8").cast(dec) * col("a8").cast(dec)).as("sqq"),
        sum(col("v6").cast(dec) * col("v6").cast(dec)).as("svv"))
    val n = dbl(col("n"))
    def pearson(sxy: Column, sx: Column, sy: Column,
        sxx: Column, syy: Column): Column = {
      val num = n * dbl(sxy) - dbl(sx) * dbl(sy)
      val vx = n * dbl(sxx) - dbl(sx) * dbl(sx)
      val vy = n * dbl(syy) - dbl(sy) * dbl(sy)
      when(vx > 0 && vy > 0, round(num / (sqrt(vx) * sqrt(vy)), 6))
    }
    agg.select(col("series"), col("n").as("n_rets"),
      pearson(col("sav"), col("sa"), col("sv"), col("sq"), col("svv"))
        .as("corr_absr_vol"),
      pearson(col("sqv"), col("sq"), col("sv"), col("sqq"), col("svv"))
        .as("corr_r2_vol"))
      .withColumn("mdh_consistent",
        col("corr_absr_vol").isNotNull &&
          col("corr_absr_vol") > lit(1.959964) / sqrt(dbl(col("n_rets"))))
  }

  /** Opening-gap statistics per series off the daily OHLC rollup:
    * how often the session OPENS away from the prior close (gap up /
    * down), how often that gap FILLS intraday (price trades back to
    * the prior close: low ≤ pc for an up-gap, high ≥ pc for a
    * down-gap), and the overnight-vs-intraday drift split (mean
    * close→open vs open→close log return, bps) — the session-
    * structure read next to [[yangZhang]]'s variance split (which
    * sees the gap's VARIANCE, not its direction or mean).
    *
    * Determinism: daily O/H/L/C via the bars-CTE argmin/argmax tie
    * rule; gap direction and fill are comparisons on the raw doubles
    * both engines aggregate identically; log returns scale to exact
    * 1e8 longs; every rate and mean finishes through [[ExactRound]]
    * (exact integer rationals).
    *
    * Scale: one (series, day) rollup, a calendar-bounded per-series
    * day lag, one map-side-combined aggregate; |series| rows out. */
  def openingGaps(bars: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def l8(c: Column) = floor(log(c) * lit(1e8) + lit(0.5)).cast("long")
    val w = Window.partitionBy(col("series")).orderBy(col("d"))
    val daily = bars
      .groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(firstBy(col("bar_ts"), col("open")).as("o"),
        max(col("high")).as("h"), min(col("low")).as("l"),
        lastBy(col("bar_ts"), col("close")).as("c"))
      .withColumn("pc", lag(col("c"), 1).over(w))
      .filter(col("pc").isNotNull && col("pc") > 0 && col("o") > 0 &&
        col("c") > 0)
      .select(col("series"),
        (col("o") > col("pc")).as("up"),
        (col("o") < col("pc")).as("dn"),
        (col("l") <= col("pc")).as("lo_touch"),
        (col("h") >= col("pc")).as("hi_touch"),
        l8(col("o") / col("pc")).as("lo8"),
        l8(col("c") / col("o")).as("lc8"))
    daily.groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("up"), 1L).otherwise(0L)).as("n_gap_up"),
        sum(when(col("dn"), 1L).otherwise(0L)).as("n_gap_dn"),
        sum(when(col("up") && col("lo_touch"), 1L).otherwise(0L))
          .as("n_up_filled"),
        sum(when(col("dn") && col("hi_touch"), 1L).otherwise(0L))
          .as("n_dn_filled"),
        sum(col("lo8")).as("so8"),
        sum(col("lc8")).as("sc8"))
      .select(col("series"), col("n_days"), col("n_gap_up"),
        col("n_gap_dn"),
        when(col("n_gap_up") > 0,
          ExactRound.ratioRound(col("n_up_filled"), col("n_gap_up"), 4))
          .as("fill_rate_up"),
        when(col("n_gap_dn") > 0,
          ExactRound.ratioRound(col("n_dn_filled"), col("n_gap_dn"), 4))
          .as("fill_rate_dn"),
        ExactRound.ratioRound(col("so8"),
          col("n_days").cast(dec) * lit(10000L).cast(dec), 4)
          .as("mean_overnight_bps"),
        ExactRound.ratioRound(col("sc8"),
          col("n_days").cast(dec) * lit(10000L).cast(dec), 4)
          .as("mean_intraday_bps"))
  }

  /** Trig tables for [[periodogram]]: cos/sin of 2πj/p, j ∈ [0, p).
    * Generated ONCE here and embedded as the same double literals in
    * the Spark plan AND the DuckDB twin (the shared-constants rule
    * that keeps hash compares exact across engines — a trig call at
    * RUNTIME could differ by an ulp between libm builds; a literal
    * cannot). */
  private[graft] def trigTables(p: Int): (Seq[Double], Seq[Double]) = (
    (0 until p).map(j => math.cos(2.0 * math.Pi * j / p)),
    (0 until p).map(j => math.sin(2.0 * math.Pi * j / p)))

  /** Schuster periodogram of the bar-return chain at fixed candidate
    * periods (in bars): per (series, period), the spectral power
    * I(p) = (C² + S²)/n with C = Σ r_t·cos(2πt/p), S = Σ r_t·sin —
    * plus its share of total return variance — "does the tape carry a
    * p-bar cycle", the frequency-domain read none of the time-domain
    * panel (ACF q151, variance-ratio q139, seasonal q123) gives.
    *
    * Determinism: returns are exact 1e8 longs off the
    * lag-over-all-bars chain (q139 idiom); the trig factors are
    * literal doubles shared with the twin ([[trigTables]]); each
    * product rounds 6dp into DECIMAL(38,6) folds; power and share
    * form in one shared double op order and are post-square true
    * doubles (safe rounding class).
    *
    * Scale: ONE fused [[ScalableWindow.withSeqPrev]] pass provides
    * both the global bar index (phase) and the lagged close; the
    * explode is |periods|×; everything after is a
    * map-side-combined (series, period) aggregate; |series|·|periods|
    * rows out. */
  def periodogram(bars: DataFrame, periods: Seq[Int] = Seq(6, 24)): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      s"periods must be >= 2 (got $periods)")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec6 = DecimalType(38, 6)
    val dec = DecimalType(38, 0)
    val chain = ScalableWindow.withSeqPrev(bars, Seq("series"),
        Seq("bar_ts"), "__grn", Seq(("close", "pc")))
      .withColumn("r8",
        when(col("pc").isNotNull && col("pc") > 0 && col("close") > 0,
          logRet8(col("close"), col("pc"))))
      .withColumn("t", col("__grn") - 1)
      .filter(col("r8").isNotNull)
    val exploded = chain
      .withColumn("period", explode(typedLit(periods)))
      .withColumn("phase", (col("t") % col("period")).cast("int"))
    val (cosL, sinL) = (
      periods.map(p => p -> trigTables(p)._1).toMap,
      periods.map(p => p -> trigTables(p)._2).toMap)
    def lookup(tabs: Map[Int, Seq[Double]]): Column =
      periods.tail.foldLeft(
        when(col("period") === periods.head,
          element_at(typedLit(tabs(periods.head)), col("phase") + 1))) {
        (acc, p) =>
          acc.when(col("period") === p,
            element_at(typedLit(tabs(p)), col("phase") + 1))
      }
    exploded
      .withColumn("tc", round(col("r8") * lookup(cosL), 6).cast(dec6))
      .withColumn("ts2", round(col("r8") * lookup(sinL), 6).cast(dec6))
      .groupBy(col("series"), col("period"))
      .agg(count(lit(1)).as("n_rets"),
        sum(col("tc")).as("sc"),
        sum(col("ts2")).as("ss"),
        sum(col("r8").cast(dec)).as("sr"),
        sum(col("r8").cast(dec) * col("r8").cast(dec)).as("srr"))
      .withColumn("pw",
        (dbl(col("sc")) * dbl(col("sc")) + dbl(col("ss")) * dbl(col("ss"))) /
          dbl(col("n_rets")))
      .withColumn("vr",
        dbl(col("srr")) - dbl(col("sr")) * dbl(col("sr")) / dbl(col("n_rets")))
      .select(col("series"), col("period"), col("n_rets"),
        round(col("pw") / lit(1e16), 8).as("spec_power"),
        // harmonic-regression R²: the fitted cos+sin pair explains
        // 2(C²+S²)/n of the total SS — a pure sinusoid scores 1
        when(col("vr") > 0, round(lit(2.0) * col("pw") / col("vr"), 6))
          .as("power_share"))
  }

  /** Cross-sectional signal turnover: per day, the Spearman rank
    * autocorrelation between today's and yesterday's daily-return
    * cross-sections, plus the mean absolute rank move — how fast a
    * momentum signal's ordering churns (the trading-cost companion to
    * q320's rank IC: a high-IC signal that reshuffles daily is
    * untradable).
    *
    * Determinism: daily ln returns are [[dailyR8]]'s exact 1e-8
    * longs; both days' returns re-rank WITHIN today's cross-section
    * via row_number with a series tie-break, so the two rank vectors
    * are permutations of the same 1..n and the no-ties Spearman
    * 1 − 6Σd²/(n(n²−1)) is an exact integer rational finished by
    * [[ExactRound]]. "Yesterday's return" is the series' previous
    * OBSERVATION (a lag over its valid-return days), identical in
    * both engines.
    *
    * Scale: one (series, day) rollup, two series-keyed lags, two
    * day-partitioned rank windows (cross-section-sized), one day
    * rollup — no cross-join, no global window. */
  def signalTurnover(bars: DataFrame): DataFrame = {
    val ws = Window.partitionBy(col("series")).orderBy(col("d"))
    val dec = DecimalType(38, 0)
    val daily = dailyR8(bars)
      .withColumn("pr8", lag(col("r8"), 1).over(ws))
      .filter(col("pr8").isNotNull)
    val n = col("n_series").cast(dec)
    daily
      .withColumn("rk1", row_number().over(Window.partitionBy(col("d"))
        .orderBy(col("r8").desc, col("series"))))
      .withColumn("rk0", row_number().over(Window.partitionBy(col("d"))
        .orderBy(col("pr8").desc, col("series"))))
      .withColumn("dr", (col("rk1") - col("rk0")).cast("long"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_series"),
        sum((col("dr") * col("dr")).cast(dec)).as("sd2"),
        sum(abs(col("dr")).cast(dec)).as("sad"))
      .select(col("d"), col("n_series"),
        when(col("n_series") > 1,
          ExactRound.ratioRound(
            n * (n * n - 1) - col("sd2") * 6,
            n * (n * n - 1), 6)).as("rank_autocorr"),
        ExactRound.ratioRound(col("sad"), n, 4).as("mean_rank_move"))
  }

  /** Kaufman efficiency ratio per (series, day): |net close move| /
    * Σ|bar-to-bar close moves| — 1 for a clean trend, →0 for churn;
    * the trendiness number adaptive-MA systems key off, next to
    * q277's turning-point count and q153's Hurst.
    *
    * Determinism: each |Δclose| rounds at 12dp and folds in
    * DECIMAL(38,12) (q309 rule); the ratio is an exact [[ExactRound]]
    * quotient of the two unscaled integers. Day-scoped lag: the first
    * bar of a day contributes no move (its lag is the day boundary).
    *
    * Scale: one (series, day)-partitioned lag + one rollup on the
    * same key — bar-sized window partitions, no global state. */
  def rangeEfficiency(bars: DataFrame): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val b = bars.withColumn("d", to_date(col("bar_ts")))
    val w = Window.partitionBy(col("series"), col("d"))
      .orderBy(col("bar_ts"))
    b.withColumn("pc", lag(col("close"), 1).over(w))
      .groupBy(col("series"), col("d"))
      .agg(count(lit(1)).as("n_bars"),
        lastBy(col("bar_ts"), col("close")).as("cl"),
        firstBy(col("bar_ts"), col("close")).as("cf"),
        sum(round(abs(col("close") - col("pc")), 12).cast(dec12))
          .as("vol"))
      .select(col("series"), col("d"), col("n_bars"),
        when(ExactRound.toUnscaled(col("vol"), 12) > 0,
          ExactRound.ratioRound(
            ExactRound.toUnscaled(
              round(abs(col("cl") - col("cf")), 12).cast(dec12), 12),
            ExactRound.toUnscaled(col("vol"), 12), 6)).as("efficiency"))
  }

  /** Abnormal-volume detection with an EXACT integer spike test: per
    * (series, day) with a full L-day trailing window, flag days where
    * the daily tick volume exceeds the trailing mean by more than
    * `z`·(trailing sample sd). The z-compare is squared into pure
    * integers — (v·m − S)²·(m−1) > z²·m·(m·Q − S²) with S=Σv, Q=Σv²
    * over the m=L trailing days and a v·m − S > 0 sign guard — so
    * the boolean cannot diverge between engines (no sqrt, no double).
    * Every full-window day emits (spike or not): the output is never
    * empty at any scale and the flag is the live column.
    *
    * Determinism: volumes are exact tick counts; the signed z² column
    * is an exact [[ExactRound]] quotient of the same integers.
    *
    * Scale: one (series, day) rollup, one L-row trailing window per
    * series (days, not ticks), map-side everything else. */
  def volumeSpikes(bars: DataFrame, lookback: Int = 5,
      z: Int = 2): DataFrame = {
    val dec = DecimalType(38, 0)
    val tw = Window.partitionBy(col("series")).orderBy(col("d"))
      .rowsBetween(-lookback, -1)
    val dv = bars
      .groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(sum(col("n_ticks")).as("v"))
      .withColumn("m", count(lit(1)).over(tw))
      .withColumn("s", sum(col("v")).over(tw))
      .withColumn("q",
        sum(col("v").cast(dec) * col("v").cast(dec)).over(tw))
      .filter(col("m") === lookback)
    val dvm = col("v").cast(dec) * col("m").cast(dec) - col("s").cast(dec)
    val varNum = col("m").cast(dec) * col("q") -
      col("s").cast(dec) * col("s").cast(dec)
    dv.select(col("series"), col("d"), col("v").as("volume"),
      ExactRound.ratioRound(col("s"), col("m"), 4).as("trailing_mean"),
      (dvm > 0 && dvm * dvm * (col("m").cast(dec) - 1) >
        lit(z * z) * col("m").cast(dec) * varNum).as("is_spike"),
      when(varNum > 0,
        ExactRound.ratioRound(
          when(dvm >= 0, lit(1)).otherwise(lit(-1)).cast(dec) *
            dvm * dvm * (col("m").cast(dec) - 1),
          col("m").cast(dec) * varNum, 4)).as("signed_z2"))
  }

  /** Volatility of volatility per series: mean and standard deviation
    * of the daily realized-volatility series (q92's RV) — vol
    * regimes' CHURN, the risk-of-risk number vol-targeting (q367)
    * and the vol cone (q241) both presume is small.
    *
    * Determinism: the q92 chain verbatim up to daily RV (8dp-rounded
    * ln returns, DECIMAL(28,12) square folds, one sqrt), then the
    * q309 moment discipline: RV rounds to 12dp, Σrv and Σ(rv²@12dp)
    * fold in DECIMAL(38,12), the mean is an exact [[ExactRound]]
    * quotient and the sd forms in one shared double op order.
    *
    * Scale: one series-keyed lag pass, one (series, day) rollup, one
    * per-series fold — |series| rows out. */
  def volOfVol(bars: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val dec28 = DecimalType(28, 12)
    val dec12 = DecimalType(38, 12)
    def dbl(c: Column) = c.cast(DoubleType)
    val daily = bars
      .withColumn("prev_c", lag(col("close"), 1).over(w))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0)
      .withColumn("r", logRet8dp(col("close"), col("prev_c")))
      .groupBy(col("series"), to_date(col("bar_ts")).as("d"))
      .agg(sum((col("r") * col("r")).cast(dec28)).as("v"))
      .withColumn("rv", round(sqrt(dbl(col("v"))), 12))
    val vx = dbl(col("n_days")) * dbl(col("s2")) -
      dbl(col("s1")) * dbl(col("s1"))
    daily.groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("rv").cast(dec12)).as("s1"),
        sum(round(col("rv") * col("rv"), 12).cast(dec12)).as("s2"))
      .select(col("series"), col("n_days"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("s1"), 12),
          col("n_days").cast(DecimalType(38, 0)) * lit(1000000000000L), 8)
          .as("mean_rv"),
        when(col("n_days") > 1 && vx > 0,
          round(sqrt(vx / (dbl(col("n_days")) *
            (dbl(col("n_days")) - lit(1.0)))), 8))
          .otherwise(when(col("n_days") > 1, lit(0.0))).as("sd_rv"))
  }
}
