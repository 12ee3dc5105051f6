package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Pair-trading analytics: align two series, compute the log-price
  * spread and a trailing-window z-score, and reshape into per-symbol
  * legs with a sign flip on leg 2.
  *
  * Re-expresses the reference's flagship transform
  * (`/root/reference/project/transform_data.py:101-180`):
  *   - exact-timestamp inner join of the two legs (`:121-141`)
  *   - `spread = ln(close1) − ln(close2)` (`:139`)
  *   - rolling 60-row mean/stddev/count, z-score gated at a 30-row
  *     warm-up (`:145-154`, MIN_WINDOW_SIZE=30)
  *   - per-leg reshape with negated spread/z for leg 2 + unionByName
  *     (`:156-180`)
  *
  * Scale notes: the window partitions by `pair_name` alone, as the
  * reference does — one window task per pair. The join is a shuffle-on-bar_ts
  * equi-join; with bars already bucketed per series the two legs
  * partition identically, and AQE converts to broadcast when one leg
  * is small.
  */
object PairAnalytics {

  val DefaultWindowRows = 60
  val DefaultMinWindow = 30

  /** Inner-join two bar series on exact bar timestamp; emit the
    * log-close spread. Expects MarketBars.bars output shape. */
  def pairSpread(bars: DataFrame, sym1: String, sym2: String): DataFrame = {
    // log-price needs a positive price: a zero/negative close (possible
    // in raw synthetic/bad-tick data) must be EXCLUDED, not silently
    // null-spread — Spark's log returns null on it while the oracle
    // engine raises, so the guard is also what keeps both engines on
    // the same relation (caught by the sf0.1 sweep: one zero close)
    //
    // Align as ONE aggregation, not a self-join: `bars` is unique per
    // (series, bar_ts) by construction (it is the OHLCV aggregate), so
    // the inner align-join on bar_ts of the two filtered legs is
    // row-for-row the groupBy(bar_ts) pivot below. One scan + one
    // exchange replace two scans + two exchanges + a join — strictly
    // fewer corpus passes at any scale — and the plan's size estimate
    // stays honest (the join form's child-product estimate blocked the
    // scoped-window small-input route for every downstream pair op).
    bars.filter(col("series").isin(sym1, sym2) && col("close") > 0)
      .groupBy(col("bar_ts"))
      .agg(
        max(when(col("series") === sym1, col("close"))).as("close1"),
        max(when(col("series") === sym2, col("close"))).as("close2"))
      .filter(col("close1").isNotNull && col("close2").isNotNull)
      .select(
        lit(s"$sym1-$sym2").as("pair_name"),
        col("bar_ts"),
        col("close1"),
        col("close2"),
        (log(col("close1")) - log(col("close2"))).as("spread"))
  }

  /** Engle–Granger two-step cointegration test over the aligned pair:
    * step 1 regresses close1 on close2 (OLS hedge ratio β + intercept
    * α); step 2 runs the lag-0 no-constant Dickey–Fuller regression
    * Δr_t = φ·r_{t−1} + ε on the residual path and reports the ADF
    * t-statistic — the "is this pair actually mean-reverting or is
    * the q06 z-score trading noise" gate (t ≲ −2.9 rejects the unit
    * root at 5%).
    *
    * Determinism: closes snap to exact 1e-6 scaled longs, the step-1
    * moments fold DECIMAL-exact and α/β form in the q121 double op
    * order; residuals (one shared expression on identical doubles)
    * snap back to scaled longs, so the step-2 sums (Σr², ΣrΔ, ΣΔ²)
    * are exact integers; φ, SSE = ΣΔ² − φ·ΣrΔ, and
    * t = φ·√(Σr²)/√(SSE/(n−1)) evaluate once per pair, rounded 6dp.
    * Degenerate denominators emit nulls.
    *
    * Scale: the pair relation is one bar-ts-aligned join; both
    * regression passes are map-side-combined 1-row aggregates; the
    * residual lag routes through [[ScalableWindow.withPrevValues]]. */
  def cointegration(pair: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val snapped = pair.select(col("pair_name"), col("bar_ts"),
        col("close1"), col("close2"),
        floor(col("close1") * lit(1e6) + lit(0.5)).cast("long").as("y6"),
        floor(col("close2") * lit(1e6) + lit(0.5)).cast("long").as("x6"))
      // unpartitioned window: pairSpread emits pair_name as a literal,
      // and without this barrier the optimizer folds it out of the
      // residual lag window's partition spec, leaving a single-partition
      // window (PropertySpec q172-q174: 0 -> 114 "No Partition Defined
      // for Window" warnings with it deleted)
      .localCheckpoint(eager = false)
    val m = snapped.groupBy(col("pair_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("x6").cast(dec)).as("sx"),
        sum(col("y6").cast(dec)).as("sy"),
        sum((col("x6") * col("y6")).cast(dec)).as("sxy"),
        sum((col("x6") * col("x6")).cast(dec)).as("sxx"))
      .withColumn("beta",
        (dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
          (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))))
      .withColumn("alpha",
        (dbl(col("sy")) - col("beta") * dbl(col("sx"))) / dbl(col("n")) /
          lit(1e6))
      .select(col("pair_name"), col("n"), col("beta"), col("alpha"))
    val resid = ScalableWindow.withPrevValues(
        snapped.join(broadcast(m), "pair_name")
          .withColumn("r6",
            floor((col("close1") - col("alpha") - col("beta") *
              col("close2")) * lit(1e6) + lit(0.5)).cast("long")),
        Seq("pair_name"), Seq("bar_ts"), Seq(("r6", "rl")))
      .filter(col("rl").isNotNull)
      .withColumn("dr", col("r6") - col("rl"))
    resid.groupBy(col("pair_name"), col("beta"), col("alpha"))
      .agg(count(lit(1)).as("n_obs"),
        sum((col("rl") * col("rl")).cast(dec)).as("srr"),
        sum((col("rl") * col("dr")).cast(dec)).as("srd"),
        sum((col("dr") * col("dr")).cast(dec)).as("sdd"))
      .withColumn("phi",
        when(col("srr") > 0, dbl(col("srd")) / dbl(col("srr"))))
      .withColumn("sse",
        dbl(col("sdd")) - col("phi") * dbl(col("srd")))
      .select(col("pair_name"), col("n_obs"),
        round(col("beta"), 6).as("beta"),
        round(col("alpha"), 6).as("alpha"),
        round(col("phi"), 6).as("phi"),
        when(col("phi").isNotNull && col("sse") > 0 && col("n_obs") > 1,
          round(col("phi") * sqrt(dbl(col("srr"))) /
            sqrt(col("sse") / (dbl(col("n_obs")) - lit(1.0))), 6))
          .as("adf_t"))
  }

  /** Mean-reversion half-life of the pair spread: the lag-0
    * no-constant AR(1) regression Δs_t = φ·s_{t−1} + ε gives the
    * reversion speed, and half-life = −ln 2 / ln(1 + φ) converts it to
    * "bars until half a shock decays" — the horizon calibration for
    * the q06 z-score window (a 60-bar window on a 6-bar half-life
    * over-smooths; on a 600-bar one it trades noise).
    *
    * Determinism (the q172 pattern): the spread snaps to exact 1e-8
    * scaled longs, the regression sums (Σs², ΣsΔ) fold DECIMAL-exact,
    * φ forms in one double division, and ln evaluates once per pair
    * (bit-identical in both engines — the q92 precedent), rounded at
    * emission. Half-life is only defined for a stationary path
    * (−1 < φ < 0 ⇒ 0 < 1+φ < 1); anything else emits null.
    *
    * Scale: the spread lag routes through
    * [[ScalableWindow.withPrevValues]] + one map-side-combined
    * 1-row-per-pair aggregate. */
  def halfLife(pair: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    ScalableWindow.withPrevValues(
        pair.withColumn("s8",
          floor(col("spread") * lit(1e8) + lit(0.5)).cast("long")),
        Seq("pair_name"), Seq("bar_ts"), Seq(("s8", "sl")))
      .filter(col("sl").isNotNull)
      .withColumn("ds", col("s8") - col("sl"))
      .groupBy(col("pair_name"))
      .agg(count(lit(1)).as("n_obs"),
        sum((col("sl") * col("sl")).cast(dec)).as("sll"),
        sum((col("sl") * col("ds")).cast(dec)).as("sld"))
      .withColumn("phi",
        when(col("sll") > 0, dbl(col("sld")) / dbl(col("sll"))))
      .select(col("pair_name"), col("n_obs"),
        round(col("phi"), 6).as("phi"),
        when(col("phi") > -1.0 && col("phi") < 0.0,
          round(-log(lit(2.0)) / log(lit(1.0) + col("phi")), 4))
          .as("half_life_bars"))
  }

  /** Ornstein–Uhlenbeck fit of the pair spread via the AR(1)-WITH-
    * intercept discretization Δs = a + b·s_{t−1} + ε: the reversion
    * rate κ = −ln(1+b), the EQUILIBRIUM level μ = −a/b (what
    * [[halfLife]]'s no-constant form pins at zero), the stationary
    * dispersion σ_eq = σ_ε/√(1−(1+b)²), and the half-life — the full
    * parameter set a pairs desk sizes entries with (enter at
    * μ ± k·σ_eq, expect κ-rate decay).
    *
    * Determinism (the q172/q223 pattern): spreads snap to exact 1e-8
    * longs, the five regression moments fold DECIMAL-exact, a/b form
    * in the q121 double op order, SSE = Σy² − aΣy − bΣxy uses the
    * normal-equation identity on the same exact sums, everything
    * rounds at emission. The fit is valid on the FULL AR(1)
    * stationarity region |1+b| < 1 (b ∈ (−2, 0)); for φ = 1+b < 0
    * (oscillatory over-reversion — a noise-dominated spread sits at
    * b ≈ −1) κ is the |φ| decay rate −ln|φ|, the standard convention.
    * Non-stationary fits and the exact white-noise point φ = 0 null
    * the OU outputs.
    *
    * Scale: the lag rides [[ScalableWindow.withPrevValues]] + one
    * map-side-combined 1-row-per-pair aggregate. */
  def ouFit(pair: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val d = ScalableWindow.withPrevValues(
        pair.withColumn("s8",
          floor(col("spread") * lit(1e8) + lit(0.5)).cast("long")),
        Seq("pair_name"), Seq("bar_ts"), Seq(("s8", "sl")))
      .filter(col("sl").isNotNull)
      .withColumn("ds", col("s8") - col("sl"))
    val m = d.groupBy(col("pair_name"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("sl").cast(dec)).as("sx"),
        sum(col("ds").cast(dec)).as("sy"),
        sum((col("sl") * col("ds")).cast(dec)).as("sxy"),
        sum((col("sl") * col("sl")).cast(dec)).as("sxx"),
        sum((col("ds") * col("ds")).cast(dec)).as("syy"))
    val n = dbl(col("n_obs"))
    val den = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val b = (n * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) / den
    val a = (dbl(col("sy")) - b * dbl(col("sx"))) / n
    val sse = dbl(col("syy")) - a * dbl(col("sy")) - b * dbl(col("sxy"))
    val ok = den > 0 && b > -2.0 && b < 0.0 &&
      (lit(1.0) + b) =!= 0.0 && col("n_obs") > 2
    val kappa = -log(abs(lit(1.0) + b))
    val sigEps = sqrt(greatest(sse / (n - lit(2.0)), lit(0.0)))
    val sigEq = sigEps / sqrt(lit(1.0) - (lit(1.0) + b) * (lit(1.0) + b))
    m.select(col("pair_name"), col("n_obs"),
      when(den > 0, round(b, 6)).as("b"),
      when(ok, round(kappa, 6)).as("kappa"),
      when(ok, round(-a / b / lit(1e8), 6)).as("mu_eq"),
      when(ok, round(sigEq / lit(1e8), 6)).as("sigma_eq"),
      when(ok, round(log(lit(2.0)) / kappa, 4)).as("half_life_bars"))
  }

  /** Trailing-window z-score over the spread, gated on warm-up and a
    * degenerate (zero/null) stddev — NULL, never NaN, in both cases. */
  def rollingZScore(
      spreads: DataFrame,
      windowRows: Int = DefaultWindowRows,
      minWindow: Int = DefaultMinWindow): DataFrame = {
    val w = Window
      .partitionBy(col("pair_name"))
      .orderBy(col("bar_ts"))
      .rowsBetween(-(windowRows - 1), Window.currentRow)
    spreads
      .withColumn("rolling_mean", mean(col("spread")).over(w))
      .withColumn("rolling_std", stddev(col("spread")).over(w))
      .withColumn("window_size", count(lit(1)).over(w))
      .withColumn(
        "z_score",
        when(
          col("window_size") >= minWindow &&
            col("rolling_std").isNotNull && col("rolling_std") =!= 0.0,
          (col("spread") - col("rolling_mean")) / col("rolling_std")))
  }

  /** Reshape the pair frame into one row per symbol; leg 2 carries the
    * negated spread/z-score so each symbol has its directional signal
    * (`transform_data.py:176-177`). */
  def legReshape(pair: DataFrame, sym1: String, sym2: String): DataFrame =
    legReshape(pair, lit(sym1), lit(sym2))

  /** [[legReshape]] with the leg symbols as columns (per-row symbols,
    * e.g. from a joined pair spec). Both legs come out of ONE
    * projection over `pair` — each row explodes into its two legs —
    * so the plan under `pair` (join, window) runs once; a union of two
    * leg projections would run it once per leg, since the branches
    * keep different columns and cannot be reused for each other. */
  def legReshape(pair: DataFrame, sym1: Column, sym2: Column): DataFrame = {
    def leg(sym: Column, close: String, spread: Column, z: Column): Column =
      struct(sym.as("symbol"), col("pair_name"), col("bar_ts"), col("window_size"),
        col(close).as("close"), spread.as("spread"), z.as("z_score"))
    pair.select(explode(array(
        leg(sym1, "close1", col("spread"), col("z_score")),
        leg(sym2, "close2", -col("spread"), -col("z_score")))).as("leg"))
      .select("leg.*")
  }

  /** Trailing-frame rolling Pearson correlation between the two legs
    * of an aligned pair — the co-movement signal a pairs desk reads
    * next to the q06 z-score.
    *
    * Spark's `corr(...).over(w)` accumulates doubles in frame order —
    * fine within one engine, but not bit-reproducible against another.
    * So this applies the q34 exact-stats rule to a MOVING frame: the
    * five co-moments (Σx, Σy, Σxy, Σx², Σy²) are DECIMAL window sums
    * (exact, order-independent), combined with the closed-form in
    * double arithmetic identical to the oracle's, then rounded.
    * NULL until the frame holds `nBars` rows and when either leg is
    * degenerate (zero variance).
    *
    * Scale posture: one window pass computes all five sums (a single
    * Window operator — the q76 stacking rule) over one per-pair
    * window. */
  def rollingCorr(pair: DataFrame, nBars: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // Products are formed in DOUBLE (one deterministic multiply per
    // row) and cast to decimal BEFORE summing — decimal×decimal would
    // overflow the 38-digit width in the oracle engine (the q34 rule).
    val x = col("close1")
    val y = col("close2")
    val w = Window.partitionBy(col("pair_name"))
      .orderBy(col("bar_ts"))
      .rowsBetween(-(nBars - 1), Window.currentRow)
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(28, 6))).over(w)
    val withSums = pair.select(
      col("pair_name"), col("bar_ts"), col("close1"), col("close2"),
      count(lit(1)).over(w).as("n_win"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * y).as("sxy"),
      dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
    val n = col("n_win")
    val varX = dbl(n * col("sxx") - col("sx") * col("sx"))
    val varY = dbl(n * col("syy") - col("sy") * col("sy"))
    withSums.select(
      col("pair_name"), col("bar_ts"), col("close1"), col("close2"),
      col("n_win"),
      when(n >= nBars && varX > 0 && varY > 0,
        round(dbl(n * col("sxy") - col("sx") * col("sy")) /
          (sqrt(varX) * sqrt(varY)), 6)).as("r_corr"))
  }

  /** Rolling OLS hedge ratio (beta) + intercept of leg2 on leg1 over a
    * trailing `nBars` frame — the pairs-trading position-sizing twin
    * of [[rollingCorr]]: beta = cov(x,y)/var(x), alpha = ȳ − β·x̄.
    * Same decimal-accumulated running sums (the q34 rule: products
    * form in DOUBLE, sum in DECIMAL so partial order can't perturb),
    * same warm-up gate (null until the frame fills or var(x) = 0).
    *
    * Scale posture identical to [[rollingCorr]]: one per-pair window
    * pass. */
  def rollingBeta(pair: DataFrame, nBars: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val x = col("close1")
    val y = col("close2")
    val w = Window.partitionBy(col("pair_name"))
      .orderBy(col("bar_ts"))
      .rowsBetween(-(nBars - 1), Window.currentRow)
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(28, 6))).over(w)
    val withSums = pair.select(
      col("pair_name"), col("bar_ts"), col("close1"), col("close2"),
      count(lit(1)).over(w).as("n_win"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * y).as("sxy"), dsum(x * x).as("sxx"))
    val n = col("n_win")
    val varX = dbl(n * col("sxx") - col("sx") * col("sx"))
    val beta = dbl(n * col("sxy") - col("sx") * col("sy")) / varX
    withSums.select(
      col("pair_name"), col("bar_ts"), col("n_win"),
      when(n >= nBars && varX > 0, round(beta, 6)).as("beta"),
      when(n >= nBars && varX > 0,
        round((dbl(col("sy")) - beta * dbl(col("sx"))) / dbl(n), 6)).as("alpha"))
  }

  /** Lead-lag cross-correlation function: Pearson r between close1_t
    * and close2_{t+k} for every lag k in [-maxLag, maxLag] — the
    * lead-lag discovery step before fitting a pairs model (which leg
    * moves first, and by how many bars).
    *
    * Plan: ONE window pass computes all 2·maxLag+1 shifted series
    * (lead/lag share the per-pair (bar_ts) window spec, so Catalyst
    * stacks them into a single Window operator), an explode unpivots
    * (k, y) pairs map-side, and one |pairs|·(2·maxLag+1)-group
    * aggregate accumulates the co-moment sums in DECIMAL (the q34
    * rule). r then forms in DOUBLE from the exact sums with the
    * [[graft.queries.CoreQueries.olsFit]] expression shape. */
  def ccf(pair: DataFrame, maxLag: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy(col("pair_name"))
      .orderBy(col("bar_ts"))
    val ks = (-maxLag to maxLag).toSeq
    // window exprs are not allowed inside a generator: materialize the
    // shifted columns first (one stacked Window operator), explode after
    val shiftCols = ks.map { k =>
      (if (k >= 0) lead(col("close2"), k).over(w)
       else lag(col("close2"), -k).over(w)).as(s"y_${k + maxLag}")
    }
    val shifted = pair.select(
      Seq(col("pair_name"), col("close1")) ++ shiftCols: _*)
    val stacked = ks.map(k =>
      struct(lit(k).as("k"), col(s"y_${k + maxLag}").as("y")))
    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(28, 6)))
    def d(name: String) = col(name).cast(DoubleType)
    val g = shifted
      .select(col("pair_name"), col("close1").as("x"),
        explode(array(stacked: _*)).as("s"))
      .select(col("pair_name"), col("x"), col("s.k").as("k"), col("s.y").as("y"))
      .filter(col("y").isNotNull)
      .groupBy(col("pair_name"), col("k"))
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
    val n = col("n").cast(DoubleType)
    val num = n * d("sxy") - d("sx") * d("sy")
    val vx = n * d("sxx") - d("sx") * d("sx")
    val vy = n * d("syy") - d("sy") * d("sy")
    g.select(col("pair_name"), col("k"), col("n"),
      when(vx > 0 && vy > 0,
        round(num / (sqrt(vx) * sqrt(vy)), 6)).as("r_ccf"))
  }

  /** Full flagship chain for one pair over a bar frame: spread,
    * [[rollingZScore]], leg reshape. */
  def pairZScore(
      bars: DataFrame,
      sym1: String,
      sym2: String,
      windowRows: Int = DefaultWindowRows,
      minWindow: Int = DefaultMinWindow): DataFrame =
    legReshape(
      rollingZScore(pairSpread(bars, sym1, sym2), windowRows, minWindow),
      sym1, sym2)

  /** Mean-reversion backtest of the flagship z-score signal: enter the
    * spread at |z| ≥ `entryZ` (long when z ≤ −entryZ, short when
    * z ≥ entryZ), flatten at |z| < `exitZ`, hold otherwise; the
    * position set by bar t's signal is held OVER bar t+1 (no
    * look-ahead), and per-bar P&L is position × Δspread. One summary
    * row per pair: bars, trades (entries + flips), win/loss bars,
    * decimal-exact total P&L, and the floor-form hit rate — "does
    * trading q06's signal actually make money?", the natural
    * consumer of q172's cointegration gate.
    *
    * Determinism: signals branch on the 4dp-ROUNDED z (what q06
    * emits), P&L differences form on 6dp-rounded spreads, and per-bar
    * P&L terms round 8dp before the DECIMAL sum.
    *
    * Scale: the rolling stats are [[rollingZScore]]; the LOCF of the
    * signal and both position lags share one second per-pair window. */
  def pairsBacktest(
      bars: DataFrame,
      sym1: String,
      sym2: String,
      entryZ: Double = 2.0,
      exitZ: Double = 0.5,
      windowRows: Int = DefaultWindowRows,
      minWindow: Int = DefaultMinWindow): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("pair_name")).orderBy(col("bar_ts"))
    val sig = rollingZScore(pairSpread(bars, sym1, sym2), windowRows, minWindow)
      .withColumn("z_r", round(col("z_score"), 4))
      .select(col("pair_name"), col("bar_ts"),
        round(col("spread"), 6).as("spread_r"),
        when(col("z_r") <= -entryZ, 1)
          .when(col("z_r") >= entryZ, -1)
          .when(abs(col("z_r")) < exitZ, 0).as("signal"))
    // the position set by bar t's signal is the LOCF of the signal,
    // held over bar t+1
    val pos = sig
      .withColumn("__l", last(col("signal"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pos", coalesce(lag(col("__l"), 1).over(w), lit(0)))
      .withColumn("prev_pos", coalesce(lag(col("__l"), 2).over(w), lit(0)))
      .withColumn("dsp", col("spread_r") - lag(col("spread_r"), 1).over(w))
      .withColumn("pnl",
        when(col("dsp").isNotNull, round(col("pos") * col("dsp"), 8)))
    pos.groupBy(col("pair_name"))
      .agg(count(lit(1)).as("n_bars"),
        sum(when(col("pos") =!= col("prev_pos") && col("pos") =!= 0, 1L)
          .otherwise(0L)).as("n_trades"),
        sum(when(col("pnl") > 0, 1L).otherwise(0L)).as("n_win"),
        sum(when(col("pnl") < 0, 1L).otherwise(0L)).as("n_loss"),
        sum(col("pnl").cast(DecimalType(28, 12))).as("sp"))
      .select(col("pair_name"), col("n_bars"), col("n_trades"),
        col("n_win"), col("n_loss"),
        round(col("sp"), 6).cast(DoubleType).as("total_pnl"),
        when(col("n_win") + col("n_loss") > 0,
          floor(dbl(col("n_win")) / (dbl(col("n_win")) + dbl(col("n_loss")))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("hit_rate"))
  }
}
