package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Event-stream analytics operators: LOCF gap-fill onto a dense time
  * grid, robust (median/MAD) outlier detection, funnel conversion, and
  * cohort retention — the standard session/user analytics a
  * market-data or product-events pipeline layers on top of the raw
  * feed (the reference stops at completeness auditing,
  * `project/validate_data.py`; these are the downstream consumers of
  * that audited feed).
  *
  * All aggregates that touch doubles accumulate in DECIMAL and emit
  * doubles, so results are partitioning-independent (the q34 exact-sum
  * rule).
  */
object EventAnalytics {

  private def exactSum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 6))).cast(DoubleType)

  /** Dense per-minute grid with last-observation-carried-forward fill.
    *
    * For each key (event_type): build the minute grid spanning the
    * key's [min(ts), max(ts)], attach the per-minute decimal-exact
    * mean of `value` where observations exist, then fill empty minutes
    * with the most recent observed mean (LOCF). Output one row per
    * (event_type, minute): n_obs, filled value, and an is_filled flag.
    *
    * Scale posture: the grid derives from a per-key 1-row aggregate
    * (map-side partial agg; grid explode is map-side); the per-minute
    * aggregate is one hash shuffle on (key, minute); the LOCF is one
    * running last-non-null window per key.
    */
  def gapFillLocf(events: DataFrame): DataFrame = {
    val perMin = events
      .groupBy(col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n_obs"),
        (exactSum(col("value")) / count(lit(1))).as("v"))
    val grid = events
      .groupBy(col("event_type"))
      .agg(date_trunc("minute", min(col("ts"))).as("t0"),
        date_trunc("minute", max(col("ts"))).as("t1"))
      .select(col("event_type"),
        explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 MINUTE"))).as("minute"))
    val run = Window.partitionBy(col("event_type")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perMin, Seq("event_type", "minute"), "left")
      .select(col("event_type"), col("minute"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        round(last(col("v"), ignoreNulls = true).over(run), 4).as("value_locf"),
        col("v").isNull.as("is_filled"))
  }

  /** Robust per-key outlier detection: median + MAD (median absolute
    * deviation), flagging observations with |x − med| > k·MAD.
    *
    * Exact percentiles (Spark `percentile` ≙ DuckDB `quantile_cont`,
    * the q35 rule), so three passes over the input: median, MAD,
    * outlier count — the honest cost of exact MAD. At 100 TB swap the
    * first two for `approx_percentile` (one pass, bounded error) and
    * keep the same final scan; the per-key reductions here are all
    * map-side partial-aggregated and the joined medians broadcast
    * (key-cardinality rows, tiny by construction).
    *
    * med/MAD are rounded to 6dp BEFORE the threshold comparison —
    * identically in the oracle — so the boundary predicate cannot flip
    * on engine-specific last-bit interpolation differences. */
  def robustOutliers(events: DataFrame, k: Double = 3.0): DataFrame = {
    val med = events.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = events.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(expr("percentile(dev, 0.5)"), 6).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ratio",
        ExactRound.ratioRound(col("n_outliers"), col("n"), 4))
  }

  /** Ordered-step funnel with per-step time windows: for each user,
    * step 1 anchors at the user's FIRST step-1 event; each later step
    * matches the first qualifying event strictly after the previous
    * step within `windowMinutes`. Output one row per step with the
    * surviving-user count and conversion vs step 1.
    *
    * Scale posture: each step is one hash shuffle on user_id (groupBy
    * min) plus one join back to the events relation on user_id — no
    * window over the full event history, no driver-side action. Step
    * frames are user-cardinality (≪ events); at 100 TB the user-side
    * join broadcasts when users fit and degrades to a co-partitioned
    * sort-merge join when they don't. */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      windowMinutes: Int = 60): DataFrame = {
    require(steps.nonEmpty)
    val winExpr = expr(s"INTERVAL $windowMinutes MINUTES")
    val first0 = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val stages = steps.tail.scanLeft(first0) { (prev, step) =>
      events.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("t").as("pt")), "user_id")
        .filter(col("ts") > col("pt") && col("ts") <= col("pt") + winExpr)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    }
    val n0 = first0.agg(count(lit(1)).as("n0"))
    val rows = stages.zip(steps).zipWithIndex.map {
      case ((df, step), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .crossJoin(broadcast(n0))
          .select(lit(i + 1).as("step"), lit(step).as("event_type"),
            col("n_users"),
            ExactRound.ratioRound(col("n_users"), col("n0"), 4)
              .as("conv_from_first"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Cohort retention: users cohorted by their first active day;
    * output (cohort_day, day_offset, n_users) for every offset with
    * at least one returning user. Counts are exact — (user, day)
    * activity is deduplicated before counting, so a user counts once
    * per (cohort, offset) cell.
    *
    * Scale posture: one shuffle to distinct (user, day), one groupBy
    * user for cohort assignment, one join back on user_id (user-
    * cardinality right side), one final (cohort, offset) aggregate —
    * all partially aggregated map-side. */
  def retention(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohort = activity.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_day"))
    activity.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-key maximum drawdown: treat `value` ordered by (ts, event_id)
    * as a price path, track the running peak (running max — the
    * prefix-extremum window the reference's z-score windows don't
    * cover), and report the deepest absolute and relative drop below
    * that peak. The relative drawdown is guarded to positive peaks
    * (null when the peak at the trough is <= 0).
    *
    * Per-row `value - peak` is a single double subtraction (no
    * accumulation), so results are engine- and partitioning-exact
    * before the final round. The running peak is one per-key window. */
  def drawdown(events: DataFrame): DataFrame = {
    val run = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("peak", max(col("value")).over(run))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("value")), 6).as("peak_value"),
        round(min(col("value") - col("peak")), 6).as("max_drawdown"),
        round(min(when(col("peak") > 0,
          (col("value") - col("peak")) / col("peak"))), 6)
          .as("max_drawdown_pct"))
  }

  /** Hour-of-day seasonal baseline per event type: the decimal-exact
    * mean of `value` for each (type, hour) cell plus the seasonal
    * index baseline/overall-type-mean — the normalization table a
    * monitoring pipeline divides by before alerting on level shifts
    * (de-seasonalized residuals).
    *
    * One grouped aggregate (|types|·24 cells) and a tiny window over
    * it for the per-type totals; both ratios form as double divides
    * from exact DECIMAL/BIGINT sums, so results are
    * partitioning-independent. */
  def seasonalBaseline(events: DataFrame): DataFrame = {
    val g = events
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 6))).as("sv"))
    val tot = Window.partitionBy(col("event_type"))
    val cell = col("sv").cast(DoubleType) / col("n").cast(DoubleType)
    val overall = sum(col("sv")).over(tot).cast(DoubleType) /
      sum(col("n")).over(tot).cast(DoubleType)
    g.select(col("event_type"), col("hr"), col("n"),
      round(cell, 6).as("baseline"),
      round(cell / overall, 6).as("seasonal_idx"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: for each (prev_type → next_type) edge, the transition
    * count, the row-normalized probability p(next | prev), and the
    * decimal-exact mean of `value` at the destination event (sequence
    * mining / behavioral-model fitting over the event log).
    *
    * Plan: one lag window partitioned by user (users are many and
    * small — no hot-key hazard), one |types|²-bounded aggregate, and a
    * tiny window over the aggregate for row normalization. Counts are
    * exact BIGINTs; p and avg_value form as one double divide from
    * exact integer / decimal sums, so partition merge order cannot
    * perturb them. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val g = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 6))).as("sv"))
    val row = Window.partitionBy(col("prev_type"))
    g.select(col("prev_type"), col("next_type"), col("n"),
      ExactRound.ratioRound(col("n"), sum(col("n")).over(row), 6)
        .as("p"),
      ExactRound.ratioRound(ExactRound.toUnscaled(col("sv"), 6),
        col("n") * lit(1000000L), 6).as("avg_value"))
  }

  /** Snapshot diff (CDC audit): compare each user's LAST event type
    * as of two cutoffs and roll up the transition matrix — added
    * (absent at t₁), unchanged, or old→new changed — the "what moved
    * between the two loads" report a warehouse reconciliation job
    * emits next to the q74 MERGE and the q138 SCD2 build.
    *
    * Each snapshot is an argmax per user via max(struct(ts, id,
    * type)) — the bars-CTE tie rule (id breaks equal timestamps), so
    * both snapshots and the oracle pick identical rows. One full
    * outer join on user_id, one tiny (old, new) rollup; all counts.
    *
    * Scale: two map-side-combined per-user aggregates off the SAME
    * scan (the cutoff filter is a partial scan each), a user-keyed
    * join, and a tiny-key rollup. */
  def snapshotDiff(
      events: DataFrame, cutoff1: Column, cutoff2: Column): DataFrame = {
    def snap(cut: Column) = events.filter(col("ts") < cut)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
        .getField("event_type").as("state"))
    snap(cutoff1).alias("s1")
      .join(snap(cutoff2).alias("s2"), Seq("user_id"), "full_outer")
      .select(
        coalesce(col("s1.state"), lit("(absent)")).as("old_state"),
        coalesce(col("s2.state"), lit("(absent)")).as("new_state"))
      .groupBy(col("old_state"), col("new_state"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Funnel conversion latency: per user, the time from the FIRST
    * `fromType` event to the first `toType` event strictly after it,
    * rolled up to conversion counts and latency stats — the "how
    * long does the funnel take" companion to q80's "how many
    * convert" (a funnel can look healthy by rate and still be broken
    * by latency).
    *
    * All-integer: latencies are exact µs differences; the mean floors
    * to 1e-6 s from an exact long sum; min/max are exact µs→s floor
    * divisions. First-event picks are min(ts) per user with ties
    * resolved by min itself (identical both engines).
    *
    * Scale: two user-keyed map-side-combined aggregates off partial
    * scans (the type filters prune), one user join, one 1-row
    * rollup. */
  def conversionLatency(
      events: DataFrame, fromType: String, toType: String): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val firstA = events.filter(col("event_type") === fromType)
      .groupBy(col("user_id")).agg(min(col("ts")).as("a_ts"))
    val firstB = events.filter(col("event_type") === toType).alias("b")
      .join(firstA.alias("a"), Seq("user_id"))
      .filter(col("b.ts") > col("a_ts"))
      .groupBy(col("user_id"), col("a_ts"))
      .agg(min(col("b.ts")).as("b_ts"))
      .withColumn("lat_us", unix_micros(col("b_ts")) - unix_micros(col("a_ts")))
    firstA.alias("fa")
      .join(firstB.select(col("user_id"), col("lat_us")).alias("fb"),
        Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_entered"),
        count(col("lat_us")).as("n_converted"),
        sum(col("lat_us")).as("sum_us"),
        min(col("lat_us")).as("min_us"),
        max(col("lat_us")).as("max_us"))
      .select(col("n_entered"), col("n_converted"),
        when(col("n_converted") > 0,
          floor(dbl(col("sum_us")) / dbl(col("n_converted")) + lit(0.5)) /
            lit(1e6)).as("mean_latency_s"),
        (col("min_us") / lit(1e6)).as("min_latency_s"),
        (col("max_us") / lit(1e6)).as("max_latency_s"))
  }

  /** Per-user session-depth statistics over the q56 session rule
    * (strict `gap >= 30 min` splits on epoch-µs): how DEEP and how
    * LONG sessions run, per user — the engagement-intensity rollup
    * next to q56's session list and q178's breadth ratio.
    *
    * All-integer: session ids are running sums of break flags, depths
    * are counts, durations exact µs diffs; the means floor to whole
    * micros from exact long sums.
    *
    * Scale: one (user) window pass (the q56 chain) + two map-side-
    * combined growing-key aggregates. */
  def sessionStats(
      events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val sessions = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) >= gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("depth"),
        (max(col("us")) - min(col("us"))).as("dur_us"))
    sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("depth")).as("n_events"),
        max(col("depth")).as("max_depth"),
        sum(col("dur_us")).as("sum_dur_us"))
      .select(col("user_id"), col("n_sessions"), col("n_events"),
        col("max_depth"),
        (floor(dbl(col("n_events")) / dbl(col("n_sessions")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("mean_depth"),
        (floor(dbl(col("sum_dur_us")) / dbl(col("n_sessions")) + lit(0.5)) /
          lit(1e6)).as("mean_dur_s"))
  }

  /** DAU / trailing-7-day WAU / stickiness per day — the product-
    * analytics engagement ratio next to q81's cohort retention (DAU/
    * WAU ≈ how many of the week's users come back daily). WAU(d)
    * counts distinct users active in [d−6, d]: each (user, day)
    * activity pair fans out map-side to the ≤7 window-ending days and
    * distinct-counts per day; only days observed in the data emit
    * (inner join back to the DAU days). Stickiness floors at 6dp from
    * exact long counts.
    *
    * Scale: the fanout is bounded (×7) and map-side off the distinct
    * (user, day) aggregate — corpus-sized work stays in the two
    * distinct aggregates, both map-side-combined on growing keys. */
  def stickiness(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val dau = userDays.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("d"))
      .distinct()
      .groupBy(col("d")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "d")
      .select(col("d"), col("dau"), col("wau"),
        (floor(dbl(col("dau")) / dbl(col("wau")) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("stickiness"))
  }

  /** CUPED variance-reduced A/B lift — the experimentation-platform
    * estimator (Deng et al. 2013): per user, pre-period metric x and
    * post-period metric y (decimal-exact sums split by `cutoff`),
    * variants assigned by the portable md5 hash (reproducible at any
    * partitioning — the q55 rule); θ = cov(x, y)/var(x) from one
    * co-moment aggregate, and the lift compares group means of the
    * adjusted metric y − θ·(x − x̄), which strips the pre-period
    * variance component out of the comparison.
    *
    * Determinism: x/y are DECIMAL-exact; co-moments use the q85
    * covariance rule (per-row product rounds 12dp then DECIMAL-sums);
    * θ/x̄ form once in a shared double op order; per-user adjusted
    * values round 12dp before the group-mean DECIMAL fold. Output
    * rounds 6dp.
    *
    * Scale: one shuffle to the per-user relation (both the moment
    * pass and the lift pass read it, not the raw events), one 1-row
    * co-moment broadcast, one tiny final fold. */
  def cupedLift(events: DataFrame, cutoff: Column): DataFrame = {
    val dec = DecimalType(28, 6)
    val dec12 = DecimalType(28, 12)
    def dbl(c: Column) = c.cast(DoubleType)
    val users = events
      .groupBy(col("user_id"))
      .agg(
        sum(when(cutoff, col("value")).otherwise(0.0).cast(dec)).as("xd"),
        sum(when(!cutoff, col("value")).otherwise(0.0).cast(dec)).as("yd"))
      .select(col("user_id"),
        (pmod(graft.functions.CrossHash.x32(
          concat_ws("#", lit("ab"), col("user_id"))), lit(2L)) === 1L)
          .as("grp_b"),
        dbl(col("xd")).as("x"), dbl(col("yd")).as("y"))
    val mom = users.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec12)).as("sx"),
      sum(col("y").cast(dec12)).as("sy"),
      sum(round(col("x") * col("x"), 12).cast(dec12)).as("sxx"),
      sum(round(col("x") * col("y"), 12).cast(dec12)).as("sxy"))
    val varx = dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val covxy = dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    users.crossJoin(broadcast(mom))
      .withColumn("theta", when(varx > 0, covxy / varx).otherwise(lit(0.0)))
      .withColumn("adj",
        col("y") - col("theta") * (col("x") - dbl(col("sx")) / dbl(col("n"))))
      .groupBy()
      .agg(
        sum(when(!col("grp_b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp_b"), 1L).otherwise(0L)).as("n_b"),
        max(col("theta")).as("th"),
        sum(when(!col("grp_b"), col("y").cast(dec12))).as("ya"),
        sum(when(col("grp_b"), col("y").cast(dec12))).as("yb"),
        sum(when(!col("grp_b"), round(col("adj"), 12).cast(dec12))).as("aa"),
        sum(when(col("grp_b"), round(col("adj"), 12).cast(dec12))).as("ab"))
      .select(col("n_a"), col("n_b"),
        round(col("th"), 6).as("theta"),
        when(col("n_a") > 0 && col("n_b") > 0,
          ExactRound.ratioRound(
            ExactRound.toUnscaled(col("yb"), 12) * col("n_a") -
              ExactRound.toUnscaled(col("ya"), 12) * col("n_b"),
            col("n_b") * col("n_a") * lit(1000000000000L), 6))
          .as("lift_raw"),
        when(col("n_a") > 0 && col("n_b") > 0,
          ExactRound.ratioRound(
            ExactRound.toUnscaled(col("ab"), 12) * col("n_a") -
              ExactRound.toUnscaled(col("aa"), 12) * col("n_b"),
            col("n_b") * col("n_a") * lit(1000000000000L), 6))
          .as("lift_cuped"))
  }

  /** Mann–Whitney rank-sum drift per event type: U statistic and its
    * AUC normalization U/(na·nb) — P(slice value > rest value, ties
    * half) — between the `slice` rows and their complement. Reads as
    * a probability: 0.5 = no stochastic dominance, 1 = slice
    * stochastically above. The effect-size companion to [[ksDrift]]'s
    * sup-distance (KS detects ANY shape change; AUC measures
    * directional shift).
    *
    * Exactness: doubled mid-ranks clear the tie rationals — per
    * distinct value, 2·avgrank = 2·c_prev + m + 1 is an exact
    * integer, so 2·R1 and 2·U1 = 2·R1 − na(na+1) fold in DECIMAL
    * exactly; the single double divide by 2·na·nb floors at 6dp.
    *
    * Scale: identical shape to [[ksDrift]] — one (type, value)
    * shuffle, CDF-style window over the distinct-value aggregate,
    * map-side-combined final fold. */
  def rankSumDrift(events: DataFrame, slice: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    events
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(slice, 1L).otherwise(0L)).as("a"),
        sum(when(!slice, 1L).otherwise(0L)).as("b"))
      .select(col("event_type"), col("a"), col("b"),
        (sum(col("a") + col("b")).over(wRun) - col("a") - col("b"))
          .as("cprev"),
        sum(col("a")).over(wAll).as("na"),
        sum(col("b")).over(wAll).as("nb"))
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(sum(col("a").cast(dec) *
        (lit(2L) * col("cprev") + col("a") + col("b") + lit(1L)).cast(dec))
        .as("r1x2"))
      .withColumn("u1x2",
        col("r1x2") - (col("na").cast(dec) * (col("na") + lit(1L)).cast(dec)))
      .select(col("event_type"), col("na"), col("nb"),
        col("u1x2").cast("long").as("u1_x2"),
        when(col("na") > 0 && col("nb") > 0,
          floor(col("u1x2").cast(DoubleType) /
            (lit(2.0) * col("na").cast(DoubleType) *
              col("nb").cast(DoubleType)) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("auc"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic per event type:
    * D = max over v of |F_slice(v) − F_rest(v)| between the `slice`
    * rows and their complement — numeric distribution drift (feed
    * regime change, A/B sanity) complementing the term-based JSD
    * (q137). No binning, no approximation.
    *
    * Exactness: the core is ALL-INTEGER — per distinct value the
    * slice/rest counts are exact longs, running and total counts are
    * exact window sums, and the sup statistic maximizes
    * |ca·nb − cb·na| in DECIMAL before the ONE double divide by
    * na·nb, floored at 6dp. Ties are handled exactly by aggregating
    * to distinct values first (F evaluates at each distinct v
    * inclusively, the textbook definition).
    *
    * Scale: one (type, value) hash shuffle collapses the input to
    * distinct values; the CDF window runs over that collapsed
    * relation only (the q39 aggregate-sized-window rule); the final
    * max is a map-side-combined aggregate. */
  def ksDrift(events: DataFrame, slice: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    events
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(slice, 1L).otherwise(0L)).as("a"),
        sum(when(!slice, 1L).otherwise(0L)).as("b"))
      .select(col("event_type"),
        sum(col("a")).over(wRun).as("ca"),
        sum(col("b")).over(wRun).as("cb"),
        sum(col("a")).over(wAll).as("na"),
        sum(col("b")).over(wAll).as("nb"))
      .select(col("event_type"), col("na"), col("nb"),
        abs(col("ca").cast(dec) * col("nb").cast(dec) -
          col("cb").cast(dec) * col("na").cast(dec)).as("diff"))
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(max(col("diff")).as("dmax"))
      .select(col("event_type"), col("na"), col("nb"),
        when(col("na") > 0 && col("nb") > 0,
          floor(col("dmax").cast(DoubleType) /
            (col("na").cast(DoubleType) * col("nb").cast(DoubleType)) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("ks"))
  }

  /** Population stability index per event type between a slice and
    * its complement — the INDUSTRY drift number (credit-risk lineage)
    * next to the distribution tests: PSI = Σ_bins (p_a − p_b) ·
    * ln(p_a/p_b) over `nBins` equal-width bins of the type's full
    * value range, with Laplace (+1) smoothing so empty bins are
    * well-defined. Rule-of-thumb fences: < 0.1 stable, > 0.2 drifted
    * (flagged).
    *
    * KS (q142) is the sup of a CDF gap — one point; rank-sum AUC
    * (q145) is a location shift number; PSI integrates the WHOLE
    * histogram disagreement and is what model-monitoring dashboards
    * actually alarm on.
    *
    * Determinism: bin edges derive from the type's exact double
    * min/max with one shared-order bin formula; counts are integers;
    * smoothed p's and each bin term evaluate in one shared double op
    * order, round at 12 dp, fold in DECIMAL(38,12); PSI rounds at 6.
    * The full bin grid (including empty bins) is enumerated
    * explicitly so both engines sum the same `nBins` terms.
    *
    * Scale: one (type, bin) shuffle collapses events to ≤ types·nBins
    * cells; the grid join is broadcast. */
  def psiDrift(events: DataFrame, slice: Column, nBins: Int = 10): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 12)
    val nb = lit(nBins)
    val ranges = events.groupBy(col("event_type"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
        sum(when(slice, 1L).otherwise(0L)).as("na"),
        sum(when(!slice, 1L).otherwise(0L)).as("nb_tot"))
    val counts = events
      .join(broadcast(ranges.select(col("event_type"), col("mn"), col("mx"))),
        "event_type")
      .withColumn("bin",
        when(col("mx") > col("mn"),
          least(nb - 1, floor((col("value") - col("mn")) * dbl(nb) /
            (col("mx") - col("mn"))).cast("int")))
          .otherwise(0))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(slice, 1L).otherwise(0L)).as("ca"),
        sum(when(!slice, 1L).otherwise(0L)).as("cb"))
    val grid = ranges.select(col("event_type"), col("na"), col("nb_tot"))
      .withColumn("bin", explode(sequence(lit(0), nb - 1)))
    grid.join(counts, Seq("event_type", "bin"), "left")
      .withColumn("pa",
        (dbl(coalesce(col("ca"), lit(0L))) + lit(1.0)) /
          (dbl(col("na")) + dbl(nb)))
      .withColumn("pb",
        (dbl(coalesce(col("cb"), lit(0L))) + lit(1.0)) /
          (dbl(col("nb_tot")) + dbl(nb)))
      .withColumn("term",
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 12)
          .cast(dec))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("na"), max(col("nb_tot")).as("nb"),
        round(sum(col("term")), 6).cast(DoubleType).as("psi"))
      .withColumn("drifted", col("psi") > 0.2)
  }

  /** Markov entropy rate of the per-user event-type transition chain:
    * H = −Σ_ij (c_ij/N) ln(c_ij/c_i·) in nats — "how predictable is
    * the next event given the current one", the single-number summary
    * of the q120/q237 transition matrices. Reported next to the
    * ln(k) ceiling and their ratio (predictability efficiency:
    * 1 = uniform chaos, →0 = deterministic flows).
    *
    * Determinism: transition counts are exact integers off one
    * (user, ts, event_id) window; each term uses one shared double op
    * order, rounds at 12 dp, folds in DECIMAL(38,12); outputs round
    * at 6 (the ratio from the DECIMAL sum, not the re-rounded rate).
    *
    * Scale: one user-keyed window (growing key), one shuffle to the
    * k² transition cells; everything after runs on cells. */
  def entropyRate(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 12)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cells = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("cij"))
    val rows = cells.groupBy(col("prev_type")).agg(sum(col("cij")).as("ci"))
    val tot = cells.agg(sum(col("cij")).as("n"),
      countDistinct(col("prev_type")).as("n_states"))
    cells.join(broadcast(rows), "prev_type")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        round(dbl(col("cij")) / dbl(col("n")) *
          log(dbl(col("cij")) / dbl(col("ci"))), 12).cast(dec))
      .groupBy(col("n"), col("n_states"))
      .agg((-sum(col("term"))).as("h_d"))
      .select(col("n").as("n_transitions"), col("n_states"),
        round(col("h_d"), 6).cast(DoubleType).as("entropy_rate"),
        round(log(dbl(col("n_states"))), 6).as("max_rate"),
        when(col("n_states") > 1,
          round(dbl(col("h_d")) / log(dbl(col("n_states"))), 6))
          .as("efficiency"))
  }

  /** Exponential-fit probability-plot correlation (PPCC) of the
    * inter-arrival gaps per event type: sort the gaps, pair the i-th
    * smallest with the exponential theoretical quantile
    * −ln(1 − (i−0.5)/n), and report their correlation — the one-number
    * QQ-plot. PPCC ≈ 1 says arrivals are Poisson (exponential gaps);
    * low PPCC + q265's dispersion >> 1 together diagnose bursty
    * traffic. The flag fences at 0.95.
    *
    * Determinism: gaps are exact integer µs off one (user-free,
    * type-keyed) lag window; ties in the sort pair equal gap VALUES
    * with adjacent quantiles, so the moment sums are tie-order-free;
    * integer moments fold in DECIMAL(38,0), quantile moments round at
    * 12 dp into DECIMAL(38,12); the correlation is the q248
    * shared-order double formula.
    *
    * Scale: one type-keyed sort window + one map-side-combined
    * rollup. */
  def expFitPpcc(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec0 = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("dt"))
    val wAll = Window.partitionBy(col("event_type"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("dt", col("us") - col("prev_us"))
      .withColumn("i", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("p", (dbl(col("i")) - lit(0.5)) / dbl(col("n")))
      .withColumn("theo", -log(lit(1.0) - col("p")))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        sum(col("dt").cast(dec0)).as("sx"),
        sum(col("dt").cast(dec0) * col("dt").cast(dec0)).as("sxx"),
        sum(round(col("theo"), 12).cast(dec12)).as("sy"),
        sum(round(col("theo") * col("theo"), 12).cast(dec12)).as("syy"),
        sum(round(dbl(col("dt")) * col("theo"), 12).cast(dec12)).as("sxy"))
      .withColumn("num",
        dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
      .withColumn("vx",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("vy",
        dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .select(col("event_type"), col("n"),
        when(col("vx") > 0 && col("vy") > 0,
          round(col("num") / (sqrt(col("vx")) * sqrt(col("vy"))), 6))
          .as("ppcc"))
      .withColumn("expfit_ok", col("ppcc") > 0.95)
  }

  /** Within-session conversion funnel: sessions via the q56 strict
    * ≥gap rule, then per session "did a `toType` follow the FIRST
    * `fromType` inside the SAME session?", rolled up per session-start
    * day — the session-scoped sibling of [[conversionLatency]]'s
    * lifetime funnel (a purchase tomorrow doesn't count here).
    *
    * All-integer µs comparisons; conversion = the session's LAST
    * `toType` strictly after its first `fromType`. One (user) window
    * chain (q56's, one sort) + two growing-key rollups. */
  def sessionFunnel(
      events: DataFrame,
      fromType: String = "signup",
      toType: String = "purchase",
      gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val s = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("brk",
        when(col("prev_us").isNull || col("us") - col("prev_us") >= gapUs,
          1L).otherwise(0L))
      .withColumn("session_n",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val perSession = s.groupBy(col("user_id"), col("session_n"))
      .agg(min(col("us")).as("start_us"),
        min(when(col("event_type") === fromType, col("us"))).as("a_us"),
        max(when(col("event_type") === toType, col("us"))).as("b_us"))
    perSession
      .withColumn("d", to_date(timestamp_micros(col("start_us"))))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("a_us").isNotNull, 1L).otherwise(0L)).as("n_entered"),
        sum(when(col("a_us").isNotNull && col("b_us").isNotNull &&
          col("b_us") > col("a_us"), 1L).otherwise(0L)).as("n_converted"))
      .select(col("d"), col("n_sessions"), col("n_entered"),
        col("n_converted"),
        when(col("n_entered") > 0,
          ExactRound.ratioRound(col("n_converted"), col("n_entered"), 4))
          .as("conv_rate"))
  }

  /** RFM (recency / frequency / monetary) segmentation: per-user
    * recency in days from the stream's latest event, event count, and
    * decimal-exact purchase value; quintile scores via ntile(5) with a
    * user_id tie-break (deterministic under any partitioning), then
    * the standard marketing segments rolled up with per-segment means.
    *
    * Scale posture: the corpus collapses to ONE row per user first
    * (hash aggregate with map-side partials); every window after that
    * runs on the user relation. The three unpartitioned quintile
    * ranks route through [[ScalableRank.ntile]] (exact closed-form
    * buckets); the reference-of-day anchor is a 1-row broadcast,
    * never a driver collect. */
  def rfm(events: DataFrame): DataFrame = {
    val anchor = events.agg(max(to_date(col("ts"))).as("ref_d"))
    val perUser = events
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 6)))),
          lit(0).cast(DecimalType(18, 6))).as("monetary"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("ref_d"), col("last_d")))
    def quintile(df: DataFrame, out: String, order: Column*) =
      ScalableRank.ntile(df, Seq.empty, order, 5, "__t")
        .withColumn(out, lit(6) - col("__t")).drop("__t")
    val scored = quintile(
      quintile(
        quintile(perUser, "r_score", col("recency_days").asc, col("user_id")),
        "f_score", col("frequency").desc, col("user_id")),
      "m_score", col("monetary").desc, col("user_id"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4, "champions")
          .when(col("f_score") >= 4, "loyal")
          .when(col("m_score") >= 4, "big_spender")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "new_or_recent")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular"))
    scored.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("recency_days").cast(DecimalType(18, 0))).as("sr"),
        sum(col("frequency").cast(DecimalType(18, 0))).as("sf"),
        sum(col("monetary")).as("sm"))
      .select(col("segment"), col("n_users"),
        ExactRound.ratioRound(col("sr"), col("n_users"), 6)
          .as("avg_recency"),
        ExactRound.ratioRound(col("sf"), col("n_users"), 6)
          .as("avg_frequency"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sm"), 6),
          col("n_users") * lit(1000000L), 6).as("avg_monetary"))
  }

  /** Engagement concentration: Gini coefficient and top-decile share
    * of per-user event counts — "how unequal is activity?", the
    * audience-health number next to q178's stickiness.
    *
    * All-integer until emission: with users ranked ascending by count
    * (user_id tie-break), Gini = 2·Σ i·cᵢ / (n·Σc) − (n+1)/n; the
    * rank-weighted sum accumulates in DECIMAL(38,0) so it is exact and
    * partial-order-proof. Top-decile share counts the n÷10 (integer
    * division) heaviest users. Corpus collapses to one row per user
    * first; the ascending rank routes through
    * [[ScalableRank.withRowIndex]] (row index and total count in one
    * window pass); the final fold is 1 row. */
  def engagementGini(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val perUser = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    // integer division via floor-cast (exact for n < 2^53, same as the
    // oracle's //)
    val ranked = ScalableRank.withRowIndex(perUser, Seq.empty,
      Seq(col("c"), col("user_id")), "i", "n")
    ranked.agg(
        count(lit(1)).as("n_users"),
        sum(col("c")).as("total_events"),
        sum((col("i") * col("c")).cast(dec)).as("swc"),
        sum(when(col("i") > col("n") -
          floor(col("n") / lit(10)).cast("long"), col("c"))).as("topc"))
      // gini = 2*swc/(nu*te) - (nu+1)/nu over the common denominator
      // nu*te: (2*swc - (nu+1)*te) / (nu*te) — one exact rational
      .select(col("n_users"), col("total_events"),
        ExactRound.ratioRound(
          col("swc") * lit(2L) -
            ((col("n_users") + 1L) * col("total_events")).cast(dec),
          col("n_users") * col("total_events"), 6).as("gini"),
        ExactRound.ratioRound(col("topc"), col("total_events"), 6)
          .as("top_decile_share"))
  }

  /** Transition dwell times: for each (prev_type → next_type) edge of
    * the q120 Markov matrix, how LONG users sit on it — count, mean,
    * and median inter-event gap in microseconds. The latency face of
    * the transition matrix (q120 gives where users go, this gives how
    * fast).
    *
    * Determinism: per-user ordering is (ts, event_id) — the q120 tie
    * rule — gaps are exact µs integers (unix_micros ≙ epoch_us), the
    * mean floors from the exact long sum, and the median is the exact
    * interpolated percentile over integers (the q198 percentile ≙
    * quantile_cont mapping).
    *
    * Scale: one user-keyed lag window (many small partitions — no hot
    * key) into a \|types\|²-bounded rollup. */
  def transitionDwell(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .withColumn("dt_us", col("us") - col("prev_us"))
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("dt_us")).as("sdt"),
        expr("percentile(dt_us, 0.5)").as("p50_raw"))
      .select(col("prev_type"), col("next_type"), col("n"),
        floor(dbl(col("sdt")) / dbl(col("n")) + lit(0.5)).cast("long")
          .as("mean_dt_us"),
        round(col("p50_raw"), 4).as("p50_dt_us"))
  }

  /** Per-event-type G-test of time-of-day uniformity + a
    * Benjamini–Hochberg FDR correction across the family — the
    * multiple-testing layer the drift suite (q142 KS, q145 rank-sum)
    * stops short of: with dozens of metrics, SOME "significant" drift
    * is guaranteed by chance, and BH is the standard control.
    *
    * Per type: arrivals bucket into 3 time-of-day bins (hour DIV 8),
    * LR = 2·Σ O·ln(O/E) with E = n/3 — a χ² statistic with 2 degrees
    * of freedom, whose survival function is EXACTLY p = exp(−LR/2)
    * (no erf/Γ needed, so both engines compute the identical p).
    * BH step-up at α = 0.05: order p ascending, reject every test at
    * rank ≤ k where k = max{i : p_(i) ≤ α·i/m}.
    *
    * Determinism: bin counts are integers; each O·ln(3O/n) term
    * rounds at 12 dp and folds in DECIMAL(38,12); p and the BH
    * critical values round at 8 before comparison so the reject
    * boundary cannot flip on an exp() ulp. Ties in p order by
    * event_type.
    *
    * Scale: one groupBy to |types|·3 cells; the BH window runs over m
    * rows (the number of TESTS, not events). */
  def gTestFdr(events: DataFrame, alpha: Double = 0.05): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val bins = events
      .groupBy(col("event_type"), (hour(col("ts")).cast("int") / lit(8))
        .cast("int").as("bin"))
      .agg(count(lit(1)).as("o"))
    val lr = bins
      .withColumn("n", sum(col("o")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("term",
        round(dbl(col("o")) *
          log(lit(3.0) * dbl(col("o")) / dbl(col("n"))), 12)
          .cast(DecimalType(38, 12)))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        round(sum(col("term")) * lit(2), 6).cast(DoubleType).as("lr"))
      .withColumn("p", round(exp(-col("lr") / 2), 8))
    val wOrd = Window.orderBy(col("p"), col("event_type"))
    val wAll = Window.partitionBy()
    lr
      .withColumn("rank", row_number().over(wOrd))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("crit",
        ExactRound.ratioRound(
          lit(math.round(alpha * 1e8)) * col("rank"),
          lit(100000000L) * col("m"), 8))
      .withColumn("k",
        max(when(col("p") <= col("crit"), col("rank"))).over(wAll))
      .select(col("event_type"), col("n"), col("lr"), col("p"),
        col("rank"), col("crit"),
        (col("k").isNotNull && col("rank") <= col("k")).as("bh_reject"))
  }

  /** Seasonality strength per event type: the share of value variance
    * explained by the hour-of-day means — SSbetween/SStotal, the
    * one-number "is there an intraday pattern worth modeling" read
    * over [[seasonalBaseline]]'s 24-cell table (R² of the hour-mean
    * model).
    *
    * Determinism: per-(type, hour) moments fold as 12dp decimal sums;
    * type totals are EXACT sums of the cell decimals; each hour's
    * s²/n term rounds 12dp and folds in DECIMAL(38,12); the ratio
    * forms in one shared double op order and rounds 6dp.
    *
    * Scale: ONE (type, hour) shuffle to ≤ types·24 cells; everything
    * after runs on cells. */
  def seasonalStrength(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val cells = events
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("nh"),
        sum(round(col("value"), 12).cast(dec12)).as("sh"),
        sum(round(col("value") * col("value"), 12).cast(dec12)).as("qh"))
    cells
      .withColumn("bterm",
        round(dbl(col("sh")) * dbl(col("sh")) / dbl(col("nh")), 12)
          .cast(dec12))
      .groupBy(col("event_type"))
      .agg(sum(col("nh")).as("n"),
        count(lit(1)).as("n_hours"),
        sum(col("sh")).as("s"),
        sum(col("qh")).as("q"),
        sum(col("bterm")).as("b"))
      .select(col("event_type"), col("n"), col("n_hours"),
        when(dbl(col("q")) - dbl(col("s")) * dbl(col("s")) / dbl(col("n")) > 0,
          round((dbl(col("b")) - dbl(col("s")) * dbl(col("s")) / dbl(col("n"))) /
            (dbl(col("q")) - dbl(col("s")) * dbl(col("s")) / dbl(col("n"))),
            6)).as("strength"))
  }

  /** Stationary distribution of the event-type Markov chain by fixed
    * unrolled power iteration: the q120 per-user transition matrix
    * (row-stochastic, 12dp), a uniform start, and `iters` exact
    * π' = πP steps — "where does a user's session settle long-run",
    * the equilibrium view next to q120's one-step probabilities and
    * q237's dwell times. `l1_delta` (‖π_last − π_prev‖₁, repeated on
    * every row — the q153 rule) certifies convergence.
    *
    * Determinism: transition p's are 12dp ratios of exact counts;
    * each iteration's mass terms round 12dp and fold as
    * DECIMAL(38,12), the new π rounds 12dp — both engines walk
    * identical doubles at every step. States with no incoming mass
    * coalesce to 0.
    *
    * Scale: ONE corpus-sized shuffle builds the |states|² matrix
    * (bounded by the event-type vocabulary, not by rows); the
    * iterations run DRIVER-SIDE on the collected |states|² cells —
    * dimension-bounded state only (the PCA/Ledoit–Wolf rule), never
    * corpus rows, replicating Spark's round/DECIMAL-fold semantics
    * exactly (BigDecimal HALF_UP at 12dp) so the result is
    * bit-identical to the equivalent in-plan iteration. */
  def markovStationary(events: DataFrame, iters: Int = 15): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = events
      .withColumn("from_s", lag(col("event_type"), 1).over(w))
      .filter(col("from_s").isNotNull)
      .groupBy(col("from_s"), col("event_type").as("to_s"))
      .agg(count(lit(1)).as("n"))
      // multi-action: the matrix and the states legs each collect()
      // it, so the checkpoint saves one full events pass
      .localCheckpoint(eager = false)
    val wRow = Window.partitionBy(col("from_s"))
    val trans = counts
      .select(col("from_s"), col("to_s"),
        ExactRound.ratioRound(col("n"), sum(col("n")).over(wRow), 12)
          .as("p"))
      .collect() // |states|² cells — dimension-bounded
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val states = counts.groupBy(col("from_s").as("state"))
      .agg(sum(col("n")).as("n_out"))
      .collect() // |states| rows
      .map(r => (r.getString(0), r.getLong(1)))
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    def rAt(x: Double, s: Int): Double =
      JBD.valueOf(x).setScale(s, RM.HALF_UP).doubleValue()
    val stateIds = states.map(_._1)
    val k = stateIds.length
    val outgoing: Map[String, Array[(String, String, Double)]] =
      trans.groupBy(_._1)
    var pi: Map[String, Double] =
      stateIds.map(_ -> rAt(1.0 / k, 12)).toMap
    var prev = pi
    for (_ <- 1 to iters) {
      prev = pi
      // Spark-fold twin: 12dp-rounded mass terms summed as exact
      // decimals, re-rounded 12dp (DECIMAL(38,12) cast + sum + round)
      val acc = scala.collection.mutable.Map[String, JBD]()
      for ((from, p) <- prev;
           (_, to, pr) <- outgoing.getOrElse(from, Array.empty))
        acc.updateWith(to)(o => Some(o.getOrElse(JBD.ZERO)
          .add(JBD.valueOf(rAt(p * pr, 12)).setScale(12, RM.HALF_UP))))
      pi = stateIds.map(s =>
        s -> acc.get(s).map(b => rAt(b.doubleValue(), 12)).getOrElse(0.0))
        .toMap
    }
    val l1 = rAt(stateIds
      .map(s => JBD.valueOf(rAt(math.abs(pi(s) - prev(s)), 12))
        .setScale(12, RM.HALF_UP))
      .foldLeft(JBD.ZERO)(_.add(_)).doubleValue(), 6)
    val spark = events.sparkSession
    import spark.implicits._
    states.toSeq
      .map { case (s, nOut) => (s, nOut, rAt(pi(s), 6), l1) }
      .toDF("state", "n_out", "pi", "l1_delta")
  }

  /** Deterministic sign-flip permutation test for a paired daily mean
    * difference: are two event types' daily mean values the same
    * distribution, tested by flipping each day's difference sign
    * under `b` md5-derived replicas — the RNG-free exact-style
    * permutation inference completing the deterministic-resampling
    * pair with the Poisson bootstrap (q328 gives an SE; this gives a
    * p-value with NO normality assumption, unlike q149's t-form).
    *
    * Determinism: daily means are 6dp DECIMAL ratios; each replica's
    * sum folds the SAME exact decimals with md5-parity signs, so the
    * |S_r| ≥ |S_obs| comparisons are exact DECIMAL comparisons; the
    * add-one p-value (1 + #extreme)/(b + 1) rounds 6dp.
    *
    * Scale: one (day, type) rollup; the b-way explode is map-side
    * over |days| rows; one replica aggregate. */
  def signFlipTest(
      events: DataFrame,
      typeA: String,
      typeB: String,
      b: Int = 64): DataFrame = {
    val dec6 = DecimalType(18, 6)
    val cells = events
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(ExactRound.ratioRound(
        ExactRound.toUnscaled(sum(col("value").cast(DecimalType(18, 6))), 6),
        count(lit(1)) * lit(1000000L), 6).as("m"))
    val diffs = cells.groupBy(col("d"))
      .agg(max(when(col("event_type") === typeA, col("m"))).as("ma"),
        max(when(col("event_type") === typeB, col("m"))).as("mb"))
      .filter(col("ma").isNotNull && col("mb").isNotNull)
      .select(col("d"), (col("ma") - col("mb")).cast(dec6).as("diff"))
      // A/B-kept: q353 0.76 -> 0.87 s wall without it (median, parent
      // spread 0.10 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val obs = diffs.agg(count(lit(1)).as("n_days"),
      sum(col("diff")).as("s_obs"))
    val reps = diffs
      .withColumn("r", explode(array((0 until b).map(lit): _*)))
      .withColumn("sgn",
        when(pmod(graft.functions.CrossHash.x32(
          concat_ws("#", lit("flip"), col("d"), col("r"))), lit(2L)) === 0,
          lit(1)).otherwise(lit(-1)))
      .groupBy(col("r"))
      .agg(sum(col("sgn") * col("diff")).as("s_r"))
    val agg = reps.crossJoin(broadcast(obs))
      .groupBy(col("n_days"), col("s_obs"))
      .agg(count(lit(1)).as("n_reps"),
        sum(when(abs(col("s_r")) >= abs(col("s_obs")), 1L).otherwise(0L))
          .as("n_extreme"))
    agg.select(col("n_days"), col("n_reps"), col("n_extreme"),
      ExactRound.ratioRound(ExactRound.toUnscaled(col("s_obs"), 6),
        col("n_days") * lit(1000000L), 6).as("mean_diff"),
      ExactRound.ratioRound(col("n_extreme") + 1L, col("n_reps") + 1L, 6)
        .as("p_value"))
  }

  /** Wilson score intervals for per-type "high-value event" rates:
    * per event type the share of events at or above the GLOBAL mean
    * value, with the 95% Wilson CI (the interval that behaves at
    * p ≈ 0/1 where the Wald CI collapses) and a flag for types whose
    * CI excludes the pooled rate — the proportion-version of q149's
    * lift test. The threshold is RELATIVE (global mean) so the rate
    * stays non-degenerate at every scale factor.
    *
    * Determinism: the threshold is the 6dp decimal-mean of value;
    * counts are exact; p̂ rounds 6dp before the interval forms in one
    * shared double op order (z = 1.959964) and bounds round 6dp.
    *
    * Scale: one aggregate for the threshold (broadcast scalar), one
    * map-side-combined rollup to |types| rows. */
  def wilsonRates(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val z = lit(1.959964)
    val thr = events.agg(
      ExactRound.ratioRound(
        ExactRound.toUnscaled(sum(col("value").cast(DecimalType(18, 6))), 6),
        count(lit(1)) * lit(1000000L), 6).as("thr"))
    val agg = events.crossJoin(broadcast(thr))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= col("thr"), 1L).otherwise(0L)).as("n_hit"))
      // A/B-kept: q335 0.77 -> 0.86 s wall without it (median, parent
      // spread 0.07 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val pooled = agg.agg(
      ExactRound.ratioRound(sum(col("n_hit")), sum(col("n")), 6)
        .as("p_pool"))
    val p = ExactRound.ratioRound(col("n_hit"), col("n"), 6)
    val nd = dbl(col("n"))
    val denom = lit(1.0) + z * z / nd
    val center = (p + z * z / (lit(2.0) * nd)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / nd +
      z * z / (lit(4.0) * nd * nd)) / denom
    agg.crossJoin(broadcast(pooled))
      .select(col("event_type"), col("n"), col("n_hit"),
        p.as("p_hat"),
        round(center - half, 6).as("ci_lo"),
        round(center + half, 6).as("ci_hi"),
        col("p_pool"),
        (round(center + half, 6) < col("p_pool") ||
          round(center - half, 6) > col("p_pool")).as("differs_from_pool"))
  }

  /** Inter-arrival-duration autocorrelation per event type at lags
    * 1..`maxLag` — the SERIAL side of arrival clustering: q265's
    * dispersion says the MARGINAL gap distribution is over-dispersed,
    * this says whether long gaps FOLLOW long gaps (the ACD/Hawkes
    * signature; significant positive ρ₁ = intensity is sticky, so
    * rate-based capacity plans need a burst buffer). The duration
    * analog of q151's return ACF on the same stacked-lag machinery.
    *
    * Determinism: gaps are exact microsecond longs off the
    * (ts, event_id)-ordered chain; co-moments fold as DECIMAL
    * products (micros² pass 2⁶³ — the q248 cast-before-multiply
    * rule); ρ forms in the shared Pearson op order, 6dp; the
    * 1.959964/√n fence compares the rounded ρ.
    *
    * Output `clustered` is ONE-SIDED: true only for significant
    * POSITIVE ρ (the sticky-intensity/ACD alternative this op
    * tests for). Significant NEGATIVE autocorrelation reads false —
    * check the sign of `gap_acf` itself for the two-sided question.
    *
    * Scale: the gap chain and every stacked lag ride ONE per-type
    * window pass (gaps are null only at a series head, so filtered
    * positions stay global); one map-side-combined (type, k) rollup;
    * \|types\|·maxLag rows out. */
  def durationAcf(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      idCol: String,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val base = events.select(col(typeCol).as("series"),
      col(tsCol).as("ts"), col(idCol).as("id"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts"), col("id"))
    val gap = unix_micros(col("ts")) -
      lag(unix_micros(col("ts")), 1).over(w)
    val withLags = base
      .withColumn("g", gap)
      .select(col("series") +: col("g") +:
        (1 to maxLag).map(k => lag(col("g"), k).over(w).as(s"y$k")): _*)
      .filter(col("g").isNotNull)
    val stacked = withLags
      .select(col("series"), col("g").as("x"),
        expr(s"stack($maxLag, " +
          (1 to maxLag).map(k => s"$k, y$k").mkString(", ") +
          ") as (k, y)"))
      .filter(col("y").isNotNull)
    val agg = stacked.groupBy(col("series"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
    val n = dbl(col("n"))
    val num = n * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val vx = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val vy = n * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val r = when(vx > 0 && vy > 0,
      round(num / (sqrt(vx) * sqrt(vy)), 6))
    agg.select(col("series").as("event_type"), col("k"), col("n"),
      r.as("gap_acf"),
      when(r.isNotNull, r > lit(1.959964) / sqrt(n)).as("clustered"))
  }

  /** Censoring-aware retention-decay fit: pool [[retention]]'s cohort
    * triangle by offset — at offset o the DENOMINATOR is only the
    * cohorts old enough to be observed there (cohort_day ≤ maxDay − o;
    * pooling raw cells without this systematically flatters late
    * offsets) — then fit ln(rate) on offset (o ≥ 1) for the decay
    * constant and half-life: "how fast do users churn, in days", the
    * parametric summary the raw q81 triangle and q178 stickiness
    * leave to the eye.
    *
    * Determinism: all-integer numerators/denominators (the
    * eligibility cut is a date comparison on exact dates); rate
    * floors to 6dp; ln(rate) rounds 12dp into DECIMAL OLS folds (the
    * q121 machinery); slope/half-life finish in one double op order,
    * 6dp.
    *
    * Scale: the triangle is keys×offsets-sized (calendar-bounded);
    * the eligibility join is \|cohorts\|·\|offsets\| — the theilSen
    * class, never user-sized; the fit is a 1-row broadcast attached
    * to the panel. */
  def retentionDecay(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    // A/B-kept: q391 0.84 -> 1.39 s wall without it (median, parent
    // spread 0.07 s; PerfProbe sf0.1, local[4], 8 runs a side)
    val tri = retention(events).localCheckpoint(eager = false)
    val mx = events.agg(max(to_date(col("ts"))).as("mxd"))
    val sizes = tri.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("s"))
    val offsets = tri.select(col("day_offset")).distinct()
    val num = tri.groupBy(col("day_offset"))
      .agg(sum(col("n_users")).as("n_active"))
    val den = offsets.crossJoin(broadcast(mx))
      .join(sizes,
        col("cohort_day") <= date_sub(col("mxd"), col("day_offset")))
      .groupBy(col("day_offset"))
      .agg(sum(col("s")).as("n_eligible"))
    val panel = num.join(den, "day_offset")
      .withColumn("rate",
        floor(dbl(col("n_active")) / dbl(col("n_eligible")) * lit(1e6) +
          lit(0.5)) / lit(1e6))
      // A/B-kept: q391 0.84 -> 1.39 s wall without it (median, parent
      // spread 0.07 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val pts = panel.filter(col("day_offset") >= 1 && col("rate") > 0)
      .select(col("day_offset").cast(LongType).as("x"),
        round(log(col("rate")), 12).as("y"))
    val fit = pts.agg(count(lit(1)).as("np"),
        sum(col("x").cast(dec)).as("sx"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum(col("y").cast(dec12)).as("sy"),
        sum(round(dbl(col("x")) * col("y"), 12).cast(dec12)).as("sxy"))
    val np = dbl(col("np"))
    val denF = np * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val slope = (np * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
      denF
    val fitRow = fit.select(
      when(col("np") > 1 && denF =!= 0, round(slope, 6))
        .as("decay_slope"),
      when(col("np") > 1 && denF =!= 0 && slope < 0,
        round(-lit(0.6931471805599453) / slope, 6)).as("half_life_days"))
    panel.crossJoin(broadcast(fitRow))
      .select(col("day_offset"), col("n_active"), col("n_eligible"),
        col("rate"), col("decay_slope"), col("half_life_days"))
  }

  /** Circadian arrival profile per event type: the 24-bin hour-of-day
    * histogram summarized as Shannon entropy (uniformity = H/ln 24),
    * the peak hour, and the peak share — "is this stream's load flat
    * or spiky around the clock", the capacity-planning companion to
    * q265's burstiness (which reads variance, not SHAPE) and q390's
    * serial clustering.
    *
    * Determinism: hour counts are integers; each entropy term rounds
    * 12dp into a DECIMAL fold; the argmax tie-breaks to the SMALLEST
    * hour via max(struct(c, −h)); ratios round 6dp.
    *
    * Scale: one map-side-combined (type, hour) aggregate (≤ 24 cells
    * per type), \|types\| rows out. */
  def circadianProfile(events: DataFrame): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val cells = events
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val tot = Window.partitionBy(col("event_type"))
    val withP = cells
      .withColumn("n", sum(col("c")).over(tot))
      .withColumn("t12",
        round(dbl(col("c")) / dbl(col("n")) *
          log(dbl(col("c")) / dbl(col("n"))), 12).cast(dec12))
    val agg = withP.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        count(lit(1)).as("n_hours"),
        sum(col("t12")).as("h12"),
        max(struct(col("c").as("c"), (-col("h")).as("nh"))).as("pk"))
    val hEnt = -dbl(col("h12"))
    agg.select(col("event_type"), col("n_events"), col("n_hours"),
      round(-col("h12"), 6).cast(DoubleType).as("hour_entropy"),
      round(hEnt / lit(3.1780538303479458), 6).as("uniformity"),
      (-col("pk").getField("nh")).as("peak_hour"),
      ExactRound.ratioRound(col("pk").getField("c"),
        col("n_events"), 6).as("peak_share"))
  }

  /** Behavioral trigger lift for every ORDERED event-type pair
    * (a → b): among a user's events, how often is an a-event followed
    * by at least one b-event from the SAME user within
    * `windowSeconds` — versus the baseline rate at which ANY event is
    * followed by a b within the window. Lift > 1 means a specifically
    * foreshadows b (the temporal, same-user analog of q206's
    * same-basket lift; q120's transitions read only the IMMEDIATE
    * next step, this reads the whole window).
    *
    * Convention: "followed" is strict (us, event_id) position order —
    * simultaneous events count as followers via the id tie-break,
    * shared with the twin.
    *
    * Determinism: ALL-INTEGER — microsecond gaps, distinct-anchor
    * counts, and every rate/lift is an exact rational through
    * [[ExactRound]] (lift = (n_hit·n_all)/(n_a·n_hit_all_b), one
    * 4dp finish).
    *
    * Scale: the pair relation is a user-keyed self-join whose fan-out
    * is bounded by the user's event density inside `windowSeconds`
    * (per-user histories are small and the window is short — the
    * sessionStats posture); the type grid densifies via a
    * |types|²-row cross join of two broadcast type lists; counts are
    * map-side-combined. */
  def triggerLift(
      events: DataFrame, windowSeconds: Int = 60): DataFrame = {
    val wUs = windowSeconds * 1000000L
    val base = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
      // A/B-kept: q400 1.49 -> 1.77 s wall without it (median, parent
      // spread 0.25 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val pairs = base.as("x").join(base.as("y"),
        col("x.user_id") === col("y.user_id") &&
          (col("y.us") > col("x.us") ||
            (col("y.us") === col("x.us") &&
              col("y.event_id") > col("x.event_id"))) &&
          col("y.us") - col("x.us") <= wUs)
      .select(col("x.event_id").as("aid"),
        col("x.event_type").as("a"),
        col("y.event_type").as("b"))
      .distinct() // >=1 b within the window, not the b count
      // A/B-kept: q400 1.49 -> 1.77 s wall without it (median, parent
      // spread 0.25 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val hits = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_hit"))
    val baseHits = pairs.groupBy(col("b"))
      .agg(count(lit(1)).as("n_hit_all"))
    val anchors = base.groupBy(col("event_type").as("a"))
      .agg(count(lit(1)).as("n_a"))
    val types = base.select(col("event_type")).distinct()
    val nAll = base.agg(count(lit(1)).as("n_all"))
    types.select(col("event_type").as("a"))
      .crossJoin(types.select(col("event_type").as("b")))
      .join(anchors, Seq("a"))
      .join(hits, Seq("a", "b"), "left")
      .join(broadcast(baseHits), Seq("b"), "left")
      .crossJoin(broadcast(nAll))
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("n_hit_all", coalesce(col("n_hit_all"), lit(0L)))
      .select(col("a"), col("b"), col("n_a"), col("n_hit"),
        ExactRound.ratioRound(col("n_hit"), col("n_a"), 4)
          .as("p_obs"),
        ExactRound.ratioRound(col("n_hit_all"), col("n_all"), 4)
          .as("p_base"),
        when(col("n_hit_all") > 0,
          ExactRound.ratioRound(
            col("n_hit").cast(DecimalType(38, 0)) *
              col("n_all").cast(DecimalType(38, 0)),
            col("n_a").cast(DecimalType(38, 0)) *
              col("n_hit_all").cast(DecimalType(38, 0)), 4))
          .as("lift"))
  }

  /** Daily session-concurrency profile: build the gap-based session
    * intervals (the q180 islands), sweep +1 at each session start and
    * −1 at each end, and read the global running open-session count —
    * per day: sessions started, PEAK concurrency, and the
    * end-of-day open count. The capacity/occupancy read (what a
    * server fleet actually sizes against) that q178's DAU and q180's
    * per-user stats never give.
    *
    * Convention: at the same microsecond, ends sort before starts
    * (touching sessions don't overlap). A single-event session
    * (start == end) has its end bumped +1µs so it occupies the
    * instant it exists — without the bump its −1 would sort before
    * its own +1 and a day of only singleton sessions would read
    * peak 0 with n_started > 0 (the r11 ADVICE.md item). The bump
    * can't collide within a user (same-user sessions are ≥ gap
    * apart) and any cross-user overlap it creates at that instant is
    * real occupancy. Shared with the twin and the streaming
    * [[graft.streaming.ConcurrencyMonitor]] via the
    * (us, delta, user_id, sid) total order.
    *
    * Determinism: all-integer — microsecond longs, ±1 deltas, exact
    * running sums.
    *
    * Scale: the island build is the q180 per-user window (user-keyed,
    * bounded history per user); the sweep's GLOBAL running sum rides
    * [[ScalableRank.cumSum]] (one global window); one day-keyed
    * map-side rollup; |days| rows out. */
  def sessionConcurrency(
      events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val dec = DecimalType(38, 0)
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val intervals = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us0"))
      // singleton sessions occupy the instant they exist: end +1µs
      .withColumn("e_us", when(col("e_us0") === col("s_us"),
        col("s_us") + 1L).otherwise(col("e_us0")))
      .drop("e_us0")
      // unpartitioned window: both sweep legs of the empty-key cumSum
      // read it; deleted, the q398 twin test logged 28 -> 42
      // "No Partition Defined for Window" warnings
      .localCheckpoint(eager = false)
    val sweep = intervals
      .select(col("user_id"), col("sid"), col("s_us").as("us"),
        lit(1L).as("delta"))
      .unionByName(intervals.select(col("user_id"), col("sid"),
        col("e_us").as("us"), lit(-1L).as("delta")))
    val cum = ScalableRank.cumSum(sweep, Seq.empty,
      Seq(col("us"), col("delta"), col("user_id"), col("sid")),
      col("delta").cast(dec), "conc")
    cum
      .withColumn("d", to_date(timestamp_micros(col("us"))))
      .groupBy(col("d"))
      .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L))
          .as("n_started"),
        max(col("conc").cast(LongType)).as("peak_concurrency"),
        max_by(col("conc").cast(LongType),
          struct(col("us"), col("delta"), col("user_id"), col("sid")))
          .as("open_at_eod"))
  }

  /** Weibull probability-plot fit of inter-arrival gaps per event
    * type: sort the gap SPECTRUM (distinct microsecond gaps with
    * counts — never the raw corpus), assign each distinct gap v the
    * plotting position F(v) = cum(v)/(n+1), and OLS
    * ln(−ln(1−F)) on ln(gap seconds) over the distinct-value points —
    * slope = Weibull shape k (k < 1 bursty/clustered arrivals, k ≈ 1
    * memoryless/exponential, k > 1 regularizing), scale λ =
    * exp(−intercept/k) in seconds. The PARAMETRIC arrival model next
    * to q265's dispersion (marginal), q390's duration ACF (serial)
    * and q331's nonparametric Nelson–Aalen hazard.
    *
    * Determinism: gaps are exact microsecond longs off the
    * (ts, event_id)-ordered chain; F is an exact rational
    * (cum/(n+1) of exact counts); x/y are shared-op-order ln calls
    * rounded 12dp into DECIMAL OLS folds; shape/scale round 6dp
    * (post-ln true doubles — safe class). Zero gaps (simultaneous
    * events) drop before the fit (ln needs v > 0); ties collapse into
    * one plotting point by construction.
    *
    * Scale: one [[ScalableWindow.withPrevValues]] pass for the gap
    * chain; the spectrum is a (type, gap) map-side-combined
    * aggregate; the cumulative count rides [[ScalableRank.cumSum]];
    * |types| rows out. */
  def weibullGaps(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val dec12 = DecimalType(38, 12)
    val base = events.select(col(typeCol).as("series"),
        col(tsCol).as("ts"), col(idCol).as("id"))
      .withColumn("us", unix_micros(col("ts")))
    val gaps = ScalableWindow.withPrevValues(base, Seq("series"),
        Seq("ts", "id"), Seq(("us", "pus")))
      .filter(col("pus").isNotNull)
      .select(col("series"), (col("us") - col("pus")).as("g"))
      .filter(col("g") > 0)
    val dist = gaps.groupBy(col("series"), col("g"))
      .agg(count(lit(1)).as("c"))
    val totals = dist.groupBy(col("series"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_pts"))
    val pts = ScalableRank.cumSum(dist, Seq("series"), Seq(col("g")),
        col("c").cast(dec), "__cum")
      .join(broadcast(totals), "series")
      .withColumn("x",
        round(log(dbl(col("g")) / lit(1e6)), 12))
      .withColumn("y",
        round(log(-log((dbl(col("n")) + lit(1.0) - dbl(col("__cum"))) /
          (dbl(col("n")) + lit(1.0)))), 12))
    val agg = pts.groupBy(col("series"))
      .agg(max(col("n")).as("n_gaps"), count(lit(1)).as("n_pts"),
        sum(col("x").cast(dec12)).as("sx"),
        sum(col("y").cast(dec12)).as("sy"),
        sum(round(col("x") * col("y"), 12).cast(dec12)).as("sxy"),
        sum(round(col("x") * col("x"), 12).cast(dec12)).as("sxx"))
    val np = dbl(col("n_pts"))
    val den = np * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val k = (np * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) / den
    val a = (dbl(col("sy")) - k * dbl(col("sx"))) / np
    agg.select(col("series").as("event_type"), col("n_gaps"),
      col("n_pts"),
      when(col("n_pts") >= 2 && den > 0, round(k, 6)).as("shape"),
      when(col("n_pts") >= 2 && den > 0 && k =!= 0.0,
        round(exp(-a / k), 6)).as("scale_s"))
  }

  /** Growth accounting (the standard DAU decomposition): per period,
    * actives on `activityType` split into NEW (first-ever period),
    * RETAINED (also active the previous period), RESURRECTED (active
    * before, but not last period), plus last period's CHURNED — the
    * where-did-the-actives-come-from ledger behind q81's retention
    * triangle and q391's decay fit (a flat active count can hide
    * heavy churn masked by resurrection). Daily periods on a SPARSE
    * action (purchases) keep all four ledger lines live — weekly
    * all-event actives saturate to retained-only on any engaged base.
    *
    * All-integer: membership tests are one self-join on
    * (user, period−1) plus a user-sized first-period attach; every
    * output is an exact count with new + retained + resurrected =
    * active by construction.
    *
    * Scale: one distinct (user, period) shuffle; the prev-period
    * probe is a self-join on the same key layout. |periods| rows. */
  def growthAccounting(events: DataFrame,
      activityType: String = "purchase",
      periodDays: Int = 1): DataFrame =
    growthLedger(activityPeriods(events, activityType, periodDays), periodDays)

  /** The distinct (user_id, w) activity-membership relation the ledger
    * derives from — also the standing store of the streaming twin
    * ([[graft.streaming.GrowthStream]]): set-union of distincts is
    * associative, commutative and idempotent, so the store is
    * arrival-order-free. */
  private[graft] def activityPeriods(events: DataFrame,
      activityType: String, periodDays: Int): DataFrame =
    events
      .filter(col("event_type") === activityType)
      .select(col("user_id"),
        (if (periodDays == 7) date_trunc("week", col("ts")).cast("date")
         else to_date(col("ts"))).as("w"))
      .distinct()

  /** The ledger derivation over a distinct (user_id, w) membership
    * relation — shared verbatim by the batch op and the streaming
    * twin's `snapshot()`, so the two cannot drift. */
  private[graft] def growthLedger(uw: DataFrame, periodDays: Int): DataFrame = {
    val firstW = uw.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
    val prev = uw.select(col("user_id"),
        date_add(col("w"), periodDays).as("w"))
      .withColumn("pw", lit(1))
      .groupBy(col("user_id"), col("w")).agg(max(col("pw")).as("pw"))
    val cur = uw
      .join(firstW, "user_id")
      .join(prev, Seq("user_id", "w"), "left")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("w0") === col("w"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("pw").isNotNull, 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("w0") < col("w") && col("pw").isNull, 1L)
          .otherwise(0L)).as("n_resurrected"))
    // churned INTO period w = active in w−1 but not in w
    val churn = uw.select(col("user_id"), col("w").as("lw"))
      .join(uw.select(col("user_id"),
        date_sub(col("w"), periodDays).as("lw")).withColumn("__a", lit(1))
        .groupBy(col("user_id"), col("lw")).agg(max(col("__a")).as("__a")),
        Seq("user_id", "lw"), "left")
      .filter(col("__a").isNull)
      .groupBy(date_add(col("lw"), periodDays).as("w"))
      .agg(count(lit(1)).as("n_churned"))
    cur.join(churn, Seq("w"), "left")
      .select(col("w"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** Audience overlap matrix: for every unordered pair of event
    * types, the exact Jaccard of their DAILY-AUDIENCE sets — a
    * membership is (user, day) with ≥1 event of the type, so the
    * matrix reads "when a user views on a day, do they also purchase
    * THAT day" (the segmentation view q120's event-to-event
    * transitions and q80's single funnel path don't give). Lifetime
    * user sets saturate to Jaccard 1 on any engaged base; the
    * day-scoped sets stay live.
    *
    * Scale: one distinct (type, user, day) shuffle; the pair
    * expansion is per-(user, day) over ≤ |types| memberships
    * (map-side combinatorics on a handful of rows per key), never a
    * set × set join; |types|²/2 rows out. */
  def audienceOverlap(events: DataFrame): DataFrame =
    overlapFromMemberships(typeDayMemberships(events))

  /** The distinct (type, user, day) membership relation q420 derives
    * from — also the standing store of the streaming twin
    * ([[graft.streaming.AudienceStream]]); set-union of distincts is
    * associative, commutative and idempotent, so the store is
    * arrival-order-free (the [[graft.streaming.GrowthStream]]
    * exactness class). */
  private[graft] def typeDayMemberships(events: DataFrame): DataFrame =
    events.select(col("event_type").as("t"), col("user_id"),
        to_date(col("ts")).as("d"))
      .distinct()

  /** The overlap-matrix derivation over a distinct (t, user_id, d)
    * membership relation — shared verbatim by the batch op and the
    * streaming twin's `snapshot()`. */
  private[graft] def overlapFromMemberships(tu: DataFrame): DataFrame = {
    val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val pairs = tu.alias("a")
      .join(tu.alias("b"), col("a.user_id") === col("b.user_id") &&
        col("a.d") === col("b.d") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(sizes.select(col("t").as("type_a"), col("n").as("n_a")), "type_a")
      .join(sizes.select(col("t").as("type_b"), col("n").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        ExactRound.ratioRound(col("n_both"),
          col("n_a") + col("n_b") - col("n_both"), 6).as("jaccard"))
  }

  /** Sequence-match interference (the ClickHouse `sequenceMatch`
    * negative-pattern shape): among users whose greedy view→purchase
    * chain completes within the window, how many had an ERROR event
    * strictly between the two chain points — the "did breakage sit
    * inside the converting path" split that q416's step counts and
    * q80's rate both hide.
    *
    * All-integer: the chain is the [[windowFunnel]] min() pair; the
    * interference test is one EXISTS-style left-join count; shares
    * are exact [[ExactRound]] quotients.
    *
    * Scale: two type-filtered user-keyed min-aggregates, one
    * interval-bounded join of the (small) completed-chain set against
    * the error scan, a 1-row fold. */
  def seqInterference(
      events: DataFrame,
      from: String,
      to: String,
      interferer: String,
      windowSec: Long): DataFrame = {
    val wUs = windowSec * 1000000L
    val s1 = events.filter(col("event_type") === from)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val chains = events.filter(col("event_type") === to)
      .select(col("user_id"), col("ts"))
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1") &&
        unix_micros(col("ts")) - unix_micros(col("t1")) <= wUs)
      .groupBy(col("user_id"), col("t1"))
      .agg(min(col("ts")).as("t2"))
    val interfered = chains.alias("c")
      .join(events.filter(col("event_type") === interferer)
        .select(col("user_id"), col("ts")).alias("e"),
        col("e.user_id") === col("c.user_id") &&
          col("e.ts") > col("c.t1") && col("e.ts") < col("c.t2"),
        "left_semi")
      .agg(count(lit(1)).as("n_interfered"))
    s1.agg(count(lit(1)).as("n_entered"))
      .crossJoin(chains.agg(count(lit(1)).as("n_chains")))
      .crossJoin(interfered)
      .select(col("n_entered"), col("n_chains"), col("n_interfered"),
        (col("n_chains") - col("n_interfered")).as("n_clean"),
        when(col("n_chains") > 0,
          ExactRound.ratioRound(col("n_interfered"), col("n_chains"), 6))
          .as("interference_share"))
  }

  /** Windowed multi-step funnel (the ClickHouse `windowFunnel` shape,
    * greedy-earliest variant): per user, step i is reached iff the
    * earliest `steps(i)` event STRICTLY after the step-(i−1) time
    * still falls within `windowSec` of the step-1 time; the rollup
    * reports, per step, how many users got that far, how many stopped
    * there, and the share of step-1 entrants — the time-boxed funnel
    * q80's unbounded conversion rate and q176's latency both miss
    * (a purchase three weeks after the view is not this campaign's
    * conversion).
    *
    * Determinism: greedy-earliest is a pure min() chain — no search
    * over alternative chains — so every count is an exact integer
    * and the share an exact [[ExactRound]] quotient. (The greedy
    * chain can miss a completion a backtracking matcher would find —
    * that is the standard engineering trade and is documented here;
    * both engines implement the same contract.)
    *
    * Scale: one type-filtered scan + one user-keyed min-aggregate
    * per step (k−1 user-key joins against ever-SHRINKING reached
    * sets); the fold is k rows. Never a per-user event sort. */
  def windowFunnel(
      events: DataFrame,
      steps: Seq[String],
      windowSec: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val wUs = windowSec * 1000000L
    val s1 = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("tp"))
      .withColumn("t1", col("tp"))
      // unpartitioned window: every level feeds the next level, its
      // count leg and the single-partition lead window below; deleted,
      // the q416 twin test logged 60 -> 122 and Round13Spec's
      // windowFunnel test 10 -> 20 "No Partition Defined for Window"
      // warnings
      .localCheckpoint(eager = false)
    val levels = steps.tail.scanLeft(s1) { (reached, st) =>
      events.filter(col("event_type") === st)
        .select(col("user_id"), col("ts"))
        .join(reached.select(col("user_id"), col("t1"), col("tp")),
          Seq("user_id"))
        .filter(col("ts") > col("tp") &&
          unix_micros(col("ts")) - unix_micros(col("t1")) <= wUs)
        .groupBy(col("user_id"), col("t1"))
        .agg(min(col("ts")).as("tp"))
        .localCheckpoint(eager = false) // as s1 above
    }
    val counts = levels.zipWithIndex.map { case (lv, i) =>
      lv.agg(count(lit(1)).as("n_reached"))
        .select(lit(i + 1).as("step"), lit(steps(i)).as("step_type"),
          col("n_reached"))
    }.reduce(_ unionByName _)
    val entered = levels.head.agg(count(lit(1)).as("n_entered"))
    // the funnel rollup is |steps| rows — the single-partition window
    // is over a constant-size relation, never data-sized
    counts.crossJoin(broadcast(entered))
      .withColumn("n_next",
        lead(col("n_reached"), 1).over(Window.orderBy(col("step"))))
      .select(col("step"), col("step_type"), col("n_reached"),
        (col("n_reached") - coalesce(col("n_next"), lit(0L)))
          .as("n_stopped"),
        when(col("n_entered") > 0,
          ExactRound.ratioRound(col("n_reached"), col("n_entered"), 6))
          .as("share_of_entrants"))
  }
}
