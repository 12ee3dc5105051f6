package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.ops.{AsOfJoin, EventAnalytics, ExactRound, MarketBars, PairAnalytics, QualityReport, StatOps}
import graft.sources.Tables

/** Market/time-series operator inventory over the `events` table —
  * SURVEY §2 rows P3/P4/P7, J1/J4, A1-A4, W1-W4, O1/O3, U1/U2,
  * F2-F7, F10/F11/F14/F17. The `events` stream stands in for the
  * reference's bar series (symbol ≙ event_type, price ≙ value).
  */
object MarketQueries {

  /** DuckDB twin of MarketBars.timeBucket + bars (shared CTE text). */
  private val barsCte =
    """bars AS (
         SELECT event_type AS series,
                make_timestamp((epoch_us(ts)//300000000)*300000000) AS bar_ts,
                (min(struct_pack(t := ts, v := value))).v AS open,
                max(value) AS high,
                min(value) AS low,
                (max(struct_pack(t := ts, v := value))).v AS close,
                count(*) AS n_ticks,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
         FROM events GROUP BY 1, 2)"""

  private val pairCte =
    s"""$barsCte,
        pair AS (
          SELECT a.bar_ts, a.close AS close1, b.close AS close2,
                 ln(a.close) - ln(b.close) AS spread
          FROM bars a JOIN bars b ON a.bar_ts = b.bar_ts
          WHERE a.series = 'click' AND b.series = 'view'
            AND a.close > 0 AND b.close > 0)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P3: time-range predicate (app.py:40-44). One of ts / ts_ns is
    // the file's raw column and the other is derived (Tables.events is
    // schema-adaptive), and filters on a derived column don't reach the
    // scan — so the same bounds are applied to BOTH, guaranteeing the
    // raw one lands in PushedFilters and prunes row groups at 100 TB
    // regardless of which encoding the file carries.
    "q02_range_filter" -> ((s, dir) => {
      val loNs = java.time.Instant.parse("2024-01-10T00:00:00Z").getEpochSecond * 1000000000L
      val hiNs = java.time.Instant.parse("2024-01-20T00:00:00Z").getEpochSecond * 1000000000L
      Tables.events(s, dir)
        .filter(col("ts_ns") >= loNs && col("ts_ns") < hiNs)
        .filter(
          col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
            col("ts") < to_timestamp(lit("2024-01-20 00:00:00")))
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // P4/F2/F3/F4: RTH filter — UTC→ET, Mon–Fri, 09:30–15:55 bar starts
    // (transform_data.py:72-98)
    "q03_rth_filter" -> ((s, dir) => {
      val et = from_utc_timestamp(col("ts"), "America/New_York")
      val minuteOfDay = hour(et) * 60 + minute(et)
      Tables.events(s, dir)
        .filter(
          dayofweek(et).isin(2, 3, 4, 5, 6) &&
            minuteOfDay >= 570 && minuteOfDay <= 955)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // A3 + min_by/max_by: tick → 5-min OHLCV bars (bar-builder analog)
    "q04_bars_5min" -> ((s, dir) => {
      MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
        .orderBy(col("series"), col("bar_ts"))
    }),

    // J1/F5: pair align inner join + log spread (transform_data.py:121-141)
    "q05_pair_spread" -> ((s, dir) => {
      val bars = MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
      PairAnalytics.pairSpread(bars, "click", "view")
        .select(
          col("pair_name"), col("bar_ts"), col("close1"), col("close2"),
          round(col("spread"), 6).as("spread_r"))
        .orderBy(col("bar_ts"))
    }),

    // W1-W4/P7/U1/U2: flagship rolling z-score + sign-flip leg reshape
    // (transform_data.py:145-180)
    "q06_pair_zscore" -> ((s, dir) => {
      val bars = MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
      PairAnalytics.pairZScore(bars, "click", "view")
        .select(
          col("symbol"), col("pair_name"), col("bar_ts"), col("close"),
          round(col("spread"), 6).as("spread_r"),
          col("window_size"),
          round(col("z_score"), 4).as("z_r"))
        .orderBy(col("symbol"), col("bar_ts"))
    }),

    // J4/P7/F14: calendar-enrich left join + status classification
    // (validate_calendar_alpaca.py:181-218)
    "q10_status_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val days = ev
        .agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
        .select(explode(expr("sequence(mn, mx)")).as("trading_date"))
      val types = ev.select(col("event_type")).distinct()
      val counts = ev
        .groupBy(to_date(col("ts")).as("trading_date"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      days.crossJoin(broadcast(types))
        .join(counts, Seq("trading_date", "event_type"), "left")
        .select(
          col("trading_date"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("bars"),
          greatest(lit(0L), lit(60L) - coalesce(col("n"), lit(0L))).as("missing"),
          when(col("n").isNull, "FAIL")
            .when(col("n") < 40, "WARN")
            .otherwise("OK").as("status"))
        .orderBy(col("trading_date"), col("event_type"))
    }),

    // A1/A2/A5: global min/max + latest day + count (audit_pipeline.py:105)
    "q11_minmax" -> ((s, dir) => {
      Tables.events(s, dir).agg(
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"),
        max(to_date(col("ts"))).as("latest_day"),
        count(lit(1)).as("n_rows"))
    }),

    // A3/F14: per symbol-day bar counts + missing clamp
    // (validate_data.py:138-156)
    "q12_symbol_day_counts" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("trading_date"))
        .agg(count(lit(1)).as("n_bars"))
        .withColumn("missing", greatest(lit(0L), lit(70L) - col("n_bars")))
        .orderBy(col("event_type"), col("trading_date"))
    }),

    // A4: distinct (app.py:26)
    "q13_distinct" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_type")).distinct()
        .orderBy(col("event_type"))),

    // O3: top-k by time, re-sorted canonically (app.py:166 tail preview)
    "q15_topk" -> ((s, dir) => {
      Tables.events(s, dir)
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(200)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // F11/F17/F10: session grid — ET open/close → UTC 5-min slots
    // (audit_pipeline.py:132-181)
    "q16_session_grid" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
        .select(explode(expr("sequence(mn, mx)")).as("trading_date"))
        .filter(dayofweek(col("trading_date")).isin(2, 3, 4, 5, 6))
        .withColumn(
          "open_utc",
          to_utc_timestamp(
            to_timestamp(concat_ws(" ", col("trading_date").cast("string"), lit("09:30:00"))),
            "America/New_York"))
        .withColumn(
          "close_utc",
          to_utc_timestamp(
            to_timestamp(concat_ws(" ", col("trading_date").cast("string"), lit("16:00:00"))),
            "America/New_York"))
        .select(
          col("trading_date"),
          explode(expr("sequence(open_utc, close_utc - INTERVAL 5 MINUTES, INTERVAL 5 MINUTES)"))
            .as("slot_utc"))
        .orderBy(col("trading_date"), col("slot_utc"))
    }),

    // As-of join (union-window form): each click row carries the
    // latest view value at-or-before it within the same day — the
    // operator the reference's exact-equality pair join approximates
    // (SURVEY §2.3 note). DuckDB twin uses native ASOF LEFT JOIN.
    "q31_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(to_date(col("ts")).as("d"), col("ts"), col("event_id"),
          col("value").as("click_val"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("d"), col("ts"))
        .agg(max(col("value")).as("view_val"))
      AsOfJoin.backward(clicks, views, Seq("d"), "ts", Seq("view_val"))
        .select(col("event_id"), col("ts"), col("click_val"), col("view_val"),
          round(col("click_val") - col("view_val"), 6).as("gap"))
        .orderBy(col("event_id"))
    }),

    // Forward as-of: nearest view AT OR AFTER each click
    "q41_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(to_date(col("ts")).as("d"), col("ts"), col("event_id"),
          col("value").as("click_val"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("d"), col("ts"))
        .agg(max(col("value")).as("view_val"))
      AsOfJoin.forward(clicks, views, Seq("d"), "ts", Seq("view_val"))
        .select(col("event_id"), col("ts"), col("click_val"), col("view_val"),
          round(col("click_val") - col("view_val"), 6).as("gap"))
        .orderBy(col("event_id"))
    }),

    // RANGE-frame window: 10-minute trailing count/sum per event type,
    // keyed on the numeric epoch so the frame is value-based (peers at
    // equal ts are all included — deterministic under ties, unlike a
    // ROWS frame over a non-total order)
    "q49_range_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("us"))
        .rangeBetween(-600000000L, 0L)
      ev
        .withColumn("n_10m", count(lit(1)).over(w))
        .withColumn("sum_10m",
          sum(col("value").cast(DecimalType(18, 6))).over(w)
            .cast(DoubleType))
        .select(col("event_id"), col("event_type"), col("ts"),
          col("n_10m"), col("sum_10m"))
        .orderBy(col("event_id"))
    }),

    // Grouped sketches: per-event-type HLL vs exact, emitted as
    // error-bound booleans (same oracle-checkable form as q32)
    "q44_group_sketch" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("event_id"), rsd = 0.02).as("approx_ids"),
          count_distinct(col("event_id")).as("exact_ids"))
        .select(col("event_type"), col("exact_ids"),
          (abs(col("approx_ids") - col("exact_ids")).cast("double") /
            col("exact_ids") <= 0.08).as("hll_ok"))
        .orderBy(col("event_type"))
    }),

    // PIVOT: per-day event-type value totals as columns (explicit value
    // list keeps the plan single-pass; decimal-exact sums)
    "q42_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(graft.queries.CoreQueries.exactSum(col("value")))
        .orderBy(col("d"))
    }),

    // UNPIVOT via stack(): the inverse of q42's pivot — wide per-day
    // columns back to (day, event_type, total) rows; missing combos
    // (NULL cells) drop, so the round-trip equals the direct group-by
    "q62_unpivot" -> ((s, dir) => {
      val wide = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(graft.queries.CoreQueries.exactSum(col("value")))
      wide.select(col("d"), expr(
          "stack(5, 'click', click, 'error', error, 'purchase', purchase, " +
            "'signup', signup, 'view', view) AS (event_type, total)"))
        .filter(col("total").isNotNull)
        .orderBy(col("d"), col("event_type"))
    }),

    // Map columns: per-day (event_type -> total) map built with
    // map_from_entries over sorted entries, read back with element_at /
    // size; scalar extractions only (map literals don't hash-compare
    // across engines, their extracted values do)
    "q66_map_ops" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(graft.queries.CoreQueries.exactSum(col("value")).as("total"))
        .groupBy(col("d"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("total")))))
          .as("m"))
        .select(
          col("d"),
          size(col("m")).as("n_types"),
          round(coalesce(element_at(col("m"), "click"), lit(0.0)), 4).as("click_total"),
          round(coalesce(element_at(col("m"), "purchase"), lit(0.0)), 4).as("purchase_total"),
          array_join(map_keys(col("m")), ",").as("types"))
        .orderBy(col("d"))
    }),

    // Centered / forward window frames + first_value / last_value /
    // nth_value: the ROWS-frame variants q06's trailing window doesn't
    // exercise (5-row centered mean, leading max, positional picks)
    "q69_window_frames" -> ((s, dir) => {
      val base = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("us"), col("event_id"))
      val centered = base.rowsBetween(-2, 2)
      val fwd = base.rowsBetween(1, 3)
      val full = base.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .select(col("event_id"), col("event_type"), col("value"), col("us"))
        .withColumn("ma5",
          round(sum(col("value").cast(DecimalType(18, 6))).over(centered)
            .cast(DoubleType) / count(lit(1)).over(centered), 6))
        .withColumn("fwd_max", max(col("value")).over(fwd))
        .withColumn("first_v", first(col("value")).over(full))
        .withColumn("last_v", last(col("value")).over(full))
        .withColumn("third_v", nth_value(col("value"), 3).over(full))
        .select(col("event_id"), col("event_type"), col("ma5"),
          col("fwd_max"), col("first_v"), col("last_v"), col("third_v"))
        .orderBy(col("event_id"))
    }),

    // Distribution window functions: percent_rank / cume_dist / ntile
    // over the (value, event_id) TOTAL order — every row is its own
    // peer group, so all three are closed forms of the global index
    // (rn, n): pr = (rn−1)/(n−1), cd = rn/n, ntile by the bucket
    // formula.
    "q43_window_dist" -> ((s, dir) => {
      graft.ops.ScalableRank.withRowIndex(
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), Seq(col("value"), col("event_id")),
          "__rn", "__n")
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("__n") > 1,
            ExactRound.ratioRound(col("__rn") - 1, col("__n") - 1, 6))
            .otherwise(lit(0.0)).as("pr"),
          ExactRound.ratioRound(col("__rn"), col("__n"), 6).as("cd"),
          graft.ops.ScalableRank.ntileExpr(col("__rn"), col("__n"), 10)
            .as("decile"))
        .orderBy(col("event_id"))
    }),

    // Ranking/offset window functions (beyond the reference's frame
    // windows): row_number / rank / dense_rank / lag / lead
    "q36_window_ranks" -> ((s, dir) => {
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      // rank/dense_rank ordered by value ALONE: ties collapse to equal
      // ranks, which is deterministic output even though row order isn't
      val wVal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"))
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("rk", rank().over(wVal))
        .withColumn("drk", dense_rank().over(wVal))
        .withColumn("prev_v", lag(col("value"), 1).over(wOrd))
        .withColumn("next_v", lead(col("value"), 1).over(wOrd))
        .select(col("event_id"), col("event_type"), col("rn"), col("rk"),
          col("drk"), col("prev_v"), col("next_v"))
        .orderBy(col("event_id"))
    }),

    // Quantile normalization (feature engineering): per-series
    // percent_rank of value (ties collapse — deterministic) + decile
    // bucket over the (value, event_id) total order. ONE
    // ScalableRank index serves both — the decile is the closed-form
    // ntile of (rn, n) and the tie-collapsing rank is min(rn) over
    // the (type, value) peer group
    "q132_quantile_norm" -> ((s, dir) => {
      val peers = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("value"))
      graft.ops.ScalableRank.withRowIndex(
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), Seq(col("value"), col("event_id")),
          "__rn", "__n")
        .withColumn("pr",
          when(col("__n") > 1,
            ExactRound.ratioRound(min(col("__rn")).over(peers) - 1,
              col("__n") - 1, 6))
            .otherwise(lit(0.0)))
        .withColumn("decile",
          graft.ops.ScalableRank.ntileExpr(col("__rn"), col("__n"), 10))
        .drop("__rn", "__n")
        .orderBy(col("event_id"))
    }),

    // J2/J3: completeness audit — expected grid anti-join actual bars
    // (audit_pipeline.py:168-201)
    "q17_missing_slots" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val grid = ev
        .agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
        .select(explode(expr("sequence(mn, mx)")).as("trading_date"))
        .filter(dayofweek(col("trading_date")).isin(2, 3, 4, 5, 6))
        .withColumn(
          "open_utc",
          to_utc_timestamp(
            to_timestamp(concat_ws(" ", col("trading_date").cast("string"), lit("09:30:00"))),
            "America/New_York"))
        .select(
          col("trading_date"),
          explode(expr("sequence(open_utc, open_utc + INTERVAL 385 MINUTES, INTERVAL 5 MINUTES)"))
            .as("slot_utc"))
      val types = ev.select(col("event_type")).distinct()
      val actual = MarketBars.bars(ev, "event_type", "ts", "value")
        .select(col("series"), col("bar_ts"))
      grid.crossJoin(broadcast(types))
        .join(
          actual,
          col("event_type") === col("series") && col("slot_utc") === col("bar_ts"),
          "left_anti")
        .select(col("event_type"), col("trading_date"), col("slot_utc"))
        .orderBy(col("event_type"), col("slot_utc"))
    }),

    // Dynamic latest-day validator (validate_data.py:52-135): session
    // shape inferred from the latest day's observed first/last event,
    // dynamic expected bars on a detected short session. expectedFull
    // is set so the events table (a ~24h stream, ~288 five-minute
    // slots) exercises the DYNAMIC branch; the full-day branch is
    // covered by ParitySpec on the market fixtures.
    "q71_dynamic_validator" -> ((s, dir) => {
      QualityReport.classifyDynamic(Tables.events(s, dir),
        symbolCol = "event_type", tsCol = "ts", expectedBarsFull = 400)
        .orderBy(col("symbol"))
    }),

    // Trailing per-key stats through ScalableWindow.trailingStats:
    // DECIMAL frame sums, mean/stddev derived in scalar double.
    "q76_window_scalable" -> ((s, dir) => {
      graft.ops.ScalableWindow.trailingStats(Tables.events(s, dir),
        keyCols = Seq("event_type"), orderCols = Seq("ts", "event_id"),
        valCol = "value", w = 40)
        .select(col("event_id"), col("event_type"), col("ts"),
          col("r_mean"), col("r_std"), col("n_win"))
        .orderBy(col("event_id"))
    }),

    // Dense minute grid + last-observation-carried-forward fill — the
    // downstream consumer of q17's missing-slot audit (fill instead
    // of flag); per-minute means accumulate in DECIMAL
    "q78_gap_fill" -> ((s, dir) => {
      graft.ops.EventAnalytics.gapFillLocf(Tables.events(s, dir))
        .orderBy(col("event_type"), col("minute"))
    }),

    // Robust per-type outliers: exact median + MAD (q35's
    // percentile ≙ quantile_cont rule), threshold at 3×MAD
    "q79_robust_outliers" -> ((s, dir) => {
      graft.ops.EventAnalytics.robustOutliers(Tables.events(s, dir), k = 3.0)
        .orderBy(col("event_type"))
    }),

    // Running-peak (prefix-extremum) window + max drawdown per series
    "q83_drawdown" -> ((s, dir) => {
      graft.ops.EventAnalytics.drawdown(Tables.events(s, dir))
        .orderBy(col("event_type"))
    }),

    // Containment join of events into the top-5 busiest 5-minute
    // windows, bin-bucketed so it plans as a hash equi-join instead
    // of a nested loop (ops/IntervalJoin)
    "q84_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val win = ev
        .groupBy(date_trunc("minute", col("ts")).as("m"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("m")).limit(5)
        .select((col("m") - expr("INTERVAL 2 MINUTES")).as("t0"),
          (col("m") + expr("INTERVAL 3 MINUTES")).as("t1"))
      graft.ops.IntervalJoin
        .binnedContainmentJoin(ev, "ts", win, "t0", "t1",
          binMicros = 5L * 60 * 1000000)
        .groupBy(col("t0"))
        .agg(count(lit(1)).as("n_ev"),
          count_distinct(col("event_type")).as("n_types"),
          round(graft.queries.CoreQueries.exactSum(col("value")), 6)
            .as("sum_v"))
        .orderBy(col("t0"))
    }),

    // Rolling 12-bar pair correlation from decimal-exact co-moments
    // (the q34 rule applied to a moving frame)
    "q85_rolling_corr" -> ((s, dir) => {
      val bars = MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
      PairAnalytics
        .rollingCorr(
          PairAnalytics.pairSpread(bars, "click", "view").drop("spread"),
          nBars = 12)
        .orderBy(col("bar_ts"))
    }),

    // Roll effective-spread estimator per (series, day):
    // 2·√(−serial cov of consecutive close changes), 0 when cov ≥ 0;
    // day-partitioned lag chain, decimal-accumulated sums
    "q111_roll_spread" -> ((s, dir) => {
      MarketBars.rollSpread(
        MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Rolling OLS hedge ratio (beta) + intercept over a trailing
    // 12-bar frame — q85's position-sizing twin: beta = cov/var(x),
    // alpha = ȳ − β·x̄, decimal-accumulated running sums, warm-up gate
    "q106_rolling_beta" -> ((s, dir) => {
      val bars = MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
      PairAnalytics
        .rollingBeta(
          PairAnalytics.pairSpread(bars, "click", "view").drop("spread"),
          nBars = 12)
        .orderBy(col("bar_ts"))
    }),

    // Grouped boxplot profile: exact per-key quartiles (q35's
    // percentile ≙ quantile_cont rule), IQR, and Tukey-fence outlier
    // counts — fences rounded to 6dp BEFORE the boundary compare so
    // the predicate cannot flip cross-engine. Two passes: quartiles,
    // then a broadcast-join fence count (the q79 shape).
    "q95_boxplot" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val qs = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"))
        .withColumn("iqr", round(col("p75") - col("p25"), 6))
        .withColumn("lo_fence", round(col("p25") - lit(1.5) * col("iqr"), 6))
        .withColumn("hi_fence", round(col("p75") + lit(1.5) * col("iqr"), 6))
      ev.join(broadcast(qs), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          first(col("p25")).as("p25"), first(col("p50")).as("p50"),
          first(col("p75")).as("p75"), first(col("iqr")).as("iqr"),
          sum(when(col("value") < col("lo_fence"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(col("value") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_above"))
        .orderBy(col("event_type"))
    }),

    // As-of join with a staleness tolerance (kdb wj / pandas
    // tolerance= semantics): quotes older than 2 minutes don't match.
    // Pure composition over AsOfJoin — the quote's own ts rides along
    // as a carry column, one post-window predicate nulls stale fills
    "q94_asof_tolerance" -> ((s, dir) => {
      val tolUs = 2L * 60 * 1000000
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(to_date(col("ts")).as("d"), col("ts"), col("event_id"),
          col("value").as("click_val"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("d"), col("ts"))
        .agg(max(col("value")).as("view_val"))
        .withColumn("qts", col("ts"))
      AsOfJoin.backward(clicks, views, Seq("d"), "ts", Seq("view_val", "qts"))
        .withColumn("age_us", unix_micros(col("ts")) - unix_micros(col("qts")))
        .select(col("event_id"), col("ts"), col("click_val"),
          when(col("age_us") <= tolUs, col("view_val")).as("view_val_tol"),
          when(col("age_us") <= tolUs, col("age_us")).as("age_us_tol"))
        .orderBy(col("event_id"))
    }),

    // Bar-hierarchy rollup: 5-min bars → 1-hour bars without
    // rescanning ticks (ops/MarketBars.resample)
    "q91_bar_resample" -> ((s, dir) => {
      val b5 = MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
      MarketBars.resample(b5, MarketBars.OneHourMicros)
        .select(col("series"), col("bar_ts"), col("open"), col("high"),
          col("low"), col("close"), col("n_ticks"),
          round(col("volume"), 6).as("volume_r"))
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Per-(series, day) realized volatility: sqrt of the decimal-exact
    // sum of squared 5-min log returns; the overnight return belongs
    // to the later day (lag crosses the boundary by design). Returns
    // round to 8dp BEFORE squaring so both engines square the
    // identical value.
    "q92_realized_vol" -> ((s, dir) => {
      val b = MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("series")).orderBy(col("bar_ts"))
      b.withColumn("prev_c", lag(col("close"), 1).over(w))
        .filter(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0)
        .select(col("series"), to_date(col("bar_ts")).as("d"),
          MarketBars.logRet8dp(col("close"), col("prev_c")).as("r"))
        .groupBy(col("series"), col("d"))
        .agg(count(lit(1)).as("n_rets"),
          round(sqrt(sum((col("r") * col("r")).cast(DecimalType(28, 12)))
            .cast(DoubleType)), 6).as("rv"))
        .orderBy(col("series"), col("d"))
    }),

    // Cross-sectional factor snapshot: per bar_ts ACROSS series, rank
    // by close and z-score vs the decimal-exact cross-sectional
    // mean/stddev. The window partitions by bar_ts — key cardinality
    // GROWS with data (one partition per bar).
    "q93_cross_sectional" -> ((s, dir) => {
      val b = MarketBars.bars(Tables.events(s, dir), "event_type", "ts", "value")
      val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("bar_ts"))
      val rnk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bar_ts")).orderBy(col("close").desc, col("series"))
      def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 6))).over(wp)
      b.select(col("series"), col("bar_ts"), col("close"),
          count(lit(1)).over(wp).as("n_cs"),
          dsum(col("close")).as("sy"),
          dsum(col("close") * col("close")).as("syy"),
          row_number().over(rnk).as("cs_rank"))
        .withColumn("vars",
          // guarded: n_cs = 1 would divide by zero under ANSI
          when(col("n_cs") > 1,
            (dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / col("n_cs")) /
              (col("n_cs") - 1)))
        .select(col("series"), col("bar_ts"), col("close"), col("n_cs"),
          col("cs_rank"),
          when(col("n_cs") > 1 && col("vars") > 0,
            round((col("close") - dbl(col("sy")) / col("n_cs")) /
              sqrt(col("vars")), 4)).as("cs_z"))
        .orderBy(col("bar_ts"), col("series"))
    }),

    // Per-(series, day) VWAP + TWAP over the 5-min bars: one double
    // product per bar, DECIMAL-accumulated sums (MarketBars.vwap)
    "q100_vwap" -> ((s, dir) => {
      MarketBars.vwap(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Trailing exponential moving average of bar closes, alpha = 1/2
    // over a 20-row frame — both engines fold the SAME frame list
    // sequentially, so the doubles are bit-identical (MarketBars.ewma)
    "q101_ewma" -> ((s, dir) => {
      MarketBars.ewma(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), window = 20)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Candlestick pattern screen: one deterministic CASE cascade over
    // OHLC shape ratios + a prev-bar lag (MarketBars.candlePatterns)
    "q126_candles" -> ((s, dir) => {
      MarketBars.candlePatterns(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Amihud daily illiquidity: |return|/volume day-mean, 12dp-rounded
    // decimal terms (MarketBars.amihudIlliquidity)
    "q127_amihud" -> ((s, dir) => {
      MarketBars.amihudIlliquidity(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Lead-lag cross-correlation function over the aligned pair: which
    // leg moves first, and by how many bars (PairAnalytics.ccf)
    "q122_ccf" -> ((s, dir) => {
      val bars = MarketBars.bars(Tables.events(s, dir),
        "event_type", "ts", "value")
      PairAnalytics.ccf(
        PairAnalytics.pairSpread(bars, "click", "view").drop("spread"),
        maxLag = 3)
        .orderBy(col("k"))
    }),

    // Cutler's RSI-14 on the 5-min bars: scaled-long Δclose window
    // sums, floor-form 6dp quotient — no library round() in the chain
    // (MarketBars.rsi)
    "q133_rsi" -> ((s, dir) => {
      MarketBars.rsi(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), period = 14)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Stale-price run profile (gaps-and-islands): consecutive equal
    // closes collapse to runs; per-series run counts + longest run
    // (MarketBars.staleRuns)
    "q136_stale_runs" -> ((s, dir) => {
      MarketBars.staleRuns(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), staleLen = 3)
        .orderBy(col("series"))
    }),

    // Lo–MacKinlay variance ratio VR(4) per series (MarketBars
    // .varianceRatio): momentum / mean-reversion diagnostic from
    // exact scaled-long return sums
    "q139_variance_ratio" -> ((s, dir) => {
      MarketBars.varianceRatio(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), k = 4)
        .orderBy(col("series"))
    }),

    // Per-series performance tearsheet over daily closes (MarketBars
    // .tearsheet): annualized return/vol, Sharpe, max drawdown
    "q140_tearsheet" -> ((s, dir) => {
      MarketBars.tearsheet(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // CUSUM change-point per series (MarketBars.cusum): the bar
    // maximizing |Σ (x_j − x̄)| — WHERE the level shifted, the
    // denominator-cleared exact-integer argmax
    "q144_cusum" -> ((s, dir) => {
      MarketBars.cusum(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Page-CUSUM drift alarms per series (MarketBars.pageCusum):
    // sequential S = max(0, S + x − μ0 − k) replayed as a prefix-sum
    // window; baseline μ0 = the series' first-day mean close
    "q146_page_cusum" -> ((s, dir) => {
      val b = MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value")
      val withD = b.withColumn("d", to_date(col("bar_ts")))
      val d0 = withD.groupBy(col("series")).agg(min(col("d")).as("d0"))
      val base = withD.join(d0, "series").filter(col("d") === col("d0"))
        .groupBy(col("series"))
        .agg((sum(col("close").cast(DecimalType(28, 12))).cast(DoubleType) /
          count(lit(1))).as("mu0"))
      MarketBars.pageCusum(b, base, slack = 0.5, h = 5.0)
        .orderBy(col("series"))
    }),

    // Return-ACF at lags 1..5 per series (MarketBars.acf): the
    // serial-dependence profile behind q139's variance ratio
    "q151_acf" -> ((s, dir) => {
      MarketBars.acf(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), maxLag = 5)
        .orderBy(col("series"), col("k"))
    }),

    // Tick-rule signed order flow per (series, day) (MarketBars
    // .tickRuleFlow): Lee–Ready sign carry-forward + all-integer
    // buy/sell tick imbalance
    "q152_tick_flow" -> ((s, dir) => {
      MarketBars.tickRuleFlow(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Hurst exponent per series by aggregated variance over block
    // sizes {1,2,4,8} (MarketBars.hurst): long-memory diagnostic
    "q153_hurst" -> ((s, dir) => {
      MarketBars.hurst(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Triple-barrier labels per (series, entry bar) (MarketBars
    // .tripleBarrier): ±0.5% barriers, 12-bar horizon — the
    // training-label generator, window-sorted NOT self-joined
    "q154_triple_barrier" -> ((s, dir) => {
      MarketBars.tripleBarrier(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("entry_ts"))
    }),

    // Information-driven TICK bars (MarketBars.tickBars): a bar every
    // 50 ticks under the (ts, event_id) total order — event-time bars
    "q158_tick_bars" -> ((s, dir) => {
      MarketBars.tickBars(Tables.events(s, dir),
          "event_type", "ts", "value", "event_id", ticksPerBar = 50)
        .orderBy(col("series"), col("bar_id"))
    }),

    // Kyle's lambda per (series, day) (MarketBars.kyleLambda): OLS of
    // Δclose on signed tick flow — the price-impact regression
    "q159_kyle_lambda" -> ((s, dir) => {
      MarketBars.kyleLambda(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Intraday OBV path (MarketBars.obvPath): running signed tick flow
    // per (series, day) — all-integer accumulation/distribution line
    "q161_obv" -> ((s, dir) => {
      MarketBars.obvPath(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Intraday seasonality profile (MarketBars.intradayProfile): mean
    // |move| + tick activity by five-minute slot of the UTC day
    "q162_intraday_profile" -> ((s, dir) => {
      MarketBars.intradayProfile(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("slot"))
    }),

    // Garman–Klass + Parkinson daily range volatility (MarketBars
    // .garmanKlass): OHLC estimators, exact 1e-12 term sums
    "q163_garman_klass" -> ((s, dir) => {
      MarketBars.garmanKlass(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // VPIN flow toxicity over 50-tick buckets (MarketBars.vpin):
    // tick-rule signs, bucket imbalance, trailing 10-bucket mean
    "q167_vpin" -> ((s, dir) => {
      MarketBars.vpin(Tables.events(s, dir),
          "event_type", "ts", "value", "event_id")
        .orderBy(col("series"), col("bucket"))
    }),

    // Underwater spells per series (MarketBars.underwater): drawdown
    // DURATION (q83 reports depth) via gaps-and-islands on close<runmax
    "q168_underwater" -> ((s, dir) => {
      MarketBars.underwater(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Corwin–Schultz two-bar high-low spread per (series, day)
    // (MarketBars.corwinSchultz): the H/L-only estimator completing
    // the microstructure panel (Roll q111, Amihud q127, Kyle q159,
    // VPIN q167)
    "q169_corwin_schultz" -> ((s, dir) => {
      MarketBars.corwinSchultz(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Volume profile / point of control per series (MarketBars
    // .volumeProfile): where trading concentrated, next to q162's when
    "q179_volume_profile" -> ((s, dir) => {
      MarketBars.volumeProfile(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Wald–Wolfowitz runs test per series (MarketBars.runsTest):
    // sign-streak randomness next to the ACF/VR/Hurst moment panel
    "q177_runs_test" -> ((s, dir) => {
      MarketBars.runsTest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Engle–Granger cointegration + ADF t-stat on the click/view pair
    // (PairAnalytics.cointegration): is the q06 spread actually
    // mean-reverting?
    "q172_coint" -> ((s, dir) => {
      val bars = MarketBars.bars(Tables.events(s, dir),
        "event_type", "ts", "value")
      PairAnalytics.cointegration(
        PairAnalytics.pairSpread(bars, "click", "view").drop("spread"))
        .orderBy(col("pair_name"))
    }),

    // Bipower variation + jump fraction per (series, day)
    // (MarketBars.bipowerJump): the jump-robust sibling of q92's RV
    "q181_bipower_jump" -> ((s, dir) => {
      MarketBars.bipowerJump(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Daily-rebalanced cross-sectional momentum backtest
    // (MarketBars.xsMomentum): winners-minus-losers on yesterday's
    // daily return, long/short 2 of the 5 series
    "q182_xs_momentum" -> ((s, dir) => {
      MarketBars.xsMomentum(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), nSide = 2)
        .orderBy(col("d"))
    }),

    // Ljung–Box portmanteau Q over the q151 ACF lags
    // (MarketBars.ljungBox): one number per series answering "any
    // serial dependence at all?"
    "q183_ljung_box" -> ((s, dir) => {
      MarketBars.ljungBox(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Mean-reversion backtest of the flagship signal (PairAnalytics
    // .pairsBacktest): trade q06's z-score, report trades/P&L/hit rate
    "q190_pairs_backtest" -> ((s, dir) => {
      PairAnalytics.pairsBacktest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), "click", "view")
        .orderBy(col("pair_name"))
    }),

    // Event-study AAR/CAR curve around error-series shocks
    // (MarketBars.eventStudy): does an error spike move the others?
    "q194_event_study" -> ((s, dir) => {
      MarketBars.eventStudy(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("off"))
    }),

    // Volatility signature plot across sampling scales
    // (MarketBars.volSignature): the diagnostic that picks q92's bar
    "q197_vol_signature" -> ((s, dir) => {
      MarketBars.volSignature(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("scale"))
    }),

    // Historical VaR + expected shortfall per series (MarketBars
    // .varEs): the daily risk report next to q140's tearsheet
    "q205_var_es" -> ((s, dir) => {
      MarketBars.varEs(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Day-of-week return ANOVA per series (MarketBars.dowAnova):
    // the calendar-anomaly screen next to q123's seasonal baseline
    "q202_dow_anova" -> ((s, dir) => {
      MarketBars.dowAnova(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Equal-weight portfolio risk decomposition over aligned series
    // changes (MarketBars.riskDecomposition): who drives book risk
    "q200_risk_decomp" -> ((s, dir) => {
      MarketBars.riskDecomposition(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"),
          Seq("click", "error", "purchase", "signup", "view"))
        .orderBy(col("series"))
    }),

    // ATR-14 over the 5-min bars (MarketBars.atr): gap-aware range
    // for stop-width / position sizing, scaled-long TR window sums
    "q218_atr" -> ((s, dir) => {
      MarketBars.atr(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), period = 14)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Stochastic oscillator %K/%D-14 (MarketBars.stochastic): where
    // the close sits in its trailing range; %D re-averages the exact
    // %K scaled longs
    "q219_stochastic" -> ((s, dir) => {
      MarketBars.stochastic(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), period = 14)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Overnight-vs-intraday return decomposition per series
    // (MarketBars.overnightIntraday): gap return vs session drift
    "q221_overnight_intraday" -> ((s, dir) => {
      MarketBars.overnightIntraday(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // MACD(12,26,9) finite-frame crossover telemetry (MarketBars
    // .macd): two sequential EMA folds + a signal fold over the
    // 6dp-snapped macd path — the q101 bit-identical-fold machinery
    "q222_macd" -> ((s, dir) => {
      MarketBars.macd(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), frameRows = 26)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Mean-reversion half-life of the pair spread (PairAnalytics
    // .halfLife): the AR(1) decay horizon that calibrates the q06
    // z-score window
    "q223_half_life" -> ((s, dir) => {
      PairAnalytics.halfLife(
          PairAnalytics.pairSpread(MarketBars.bars(Tables.events(s, dir),
            "event_type", "ts", "value"), "click", "view"))
        .orderBy(col("pair_name"))
    }),

    // Aroon up/down-14 (MarketBars.aroon): bars-since-extreme trend
    // freshness via the lexicographic struct argmax position
    "q230_aroon" -> ((s, dir) => {
      MarketBars.aroon(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), period = 14)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Money Flow Index-14 (MarketBars.mfi): the volume-weighted RSI —
    // is the move carrying volume
    "q231_mfi" -> ((s, dir) => {
      MarketBars.mfi(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), period = 14)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Chaikin Money Flow-20 (MarketBars.cmf): close-location
    // volume-weighted accumulation/distribution
    "q232_cmf" -> ((s, dir) => {
      MarketBars.cmf(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), period = 20)
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Bollinger bands + %B (MarketBars.bollinger): the banded q06
    // z-score view from decimal-exact window moments
    "q233_bollinger" -> ((s, dir) => {
      MarketBars.bollinger(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("bar_ts"))
    }),

    // Transition dwell times (EventAnalytics.transitionDwell): the
    // latency face of q120's Markov matrix — exact µs gaps
    "q237_transition_dwell" -> ((s, dir) => {
      graft.ops.EventAnalytics.transitionDwell(Tables.events(s, dir))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Donchian-channel breakout census (MarketBars.donchianBreakouts):
    // integer-exact channel compares, counts + last-break timestamps
    "q240_donchian" -> ((s, dir) => {
      MarketBars.donchianBreakouts(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), period = 20)
        .orderBy(col("series"))
    }),

    // Volatility cone (MarketBars.volCone): min/median/max of rolling
    // realized vol at 6/12/24-bar horizons
    "q241_vol_cone" -> ((s, dir) => {
      MarketBars.volCone(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("horizon"))
    }),

    // Up/down streak census (MarketBars.streakStats): the full
    // run-length distribution behind q177's runs-test z
    "q247_streak_stats" -> ((s, dir) => {
      MarketBars.streakStats(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("dir"))
    }),

    // ARCH-effect screen (MarketBars.archEffect): autocorrelation of
    // SQUARED returns — volatility clustering the plain ACF misses
    "q248_arch_effect" -> ((s, dir) => {
      MarketBars.archEffect(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), maxLag = 3)
        .orderBy(col("series"), col("k"))
    }),

    // Return-moment term structure (MarketBars.horizonMoments):
    // skew/kurtosis of h-bar returns — fat tails vs aggregation
    "q250_horizon_moments" -> ((s, dir) => {
      MarketBars.horizonMoments(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("horizon"))
    }),

    // Hour-of-day volatility profile (MarketBars.hourlyVolProfile):
    // the intraday vol smile next to q162's level profile
    "q253_hourly_vol" -> ((s, dir) => {
      MarketBars.hourlyVolProfile(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("hod"))
    }),

    // Tail-event clustering (MarketBars.tailClustering): |r| > 3σ
    // burst census — the q248 ARCH story told in events
    "q254_tail_clustering" -> ((s, dir) => {
      MarketBars.tailClustering(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Lead-lag matrix (MarketBars.leadLagMatrix): best |corr| lag per
    // series pair — q122's CCF generalized to the full book
    "q259_lead_lag_matrix" -> ((s, dir) => {
      MarketBars.leadLagMatrix(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("sa"), col("sb"))
    }),

    // Out-of-sample VaR backtest + Kupiec LR (MarketBars.varBacktest):
    // is q205's risk number calibrated where it wasn't fitted
    "q270_var_backtest" -> ((s, dir) => {
      MarketBars.varBacktest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Arrival burstiness per event type: index of dispersion of the
    // per-hour counts over OBSERVED hours (≈1 Poisson, ≫1 bursty) —
    // the q235 dispersion formula moved from term counts to arrival
    // counts; exact-integer arguments, one double division
    "q265_arrival_dispersion" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("c")).as("total"),
          sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("s2"))
        .select(col("event_type"), col("n_hours"), col("total"),
          ExactRound.ratioRound(
            col("n_hours") * col("s2") -
              (col("total") * col("total"))
                .cast(DecimalType(38, 0)),
            col("n_hours") * col("total"), 6).as("dispersion"))
        .orderBy(col("event_type"))
    }),

    // Kendall turning-points test (MarketBars.turningPoints): strict
    // local-extrema census vs the iid expectation — the level-path
    // randomness leg next to q177's sign runs and q183's Ljung–Box
    "q277_turning_points" -> ((s, dir) => {
      MarketBars.turningPoints(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Per-type time-of-day G-test + Benjamini–Hochberg FDR
    // (EventAnalytics.gTestFdr): the multiple-testing control the
    // q142/q145 drift suite needs once it runs on dozens of metrics
    "q278_gtest_fdr" -> ((s, dir) => {
      EventAnalytics.gTestFdr(Tables.events(s, dir))
        .orderBy(col("event_type"))
    }),

    // Population stability index (EventAnalytics.psiDrift): the
    // industry drift alarm — whole-histogram disagreement with
    // Laplace smoothing, same split as q142's KS
    "q279_psi_drift" -> ((s, dir) => {
      EventAnalytics.psiDrift(Tables.events(s, dir),
        col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
        .orderBy(col("event_type"))
    }),

    // Markov entropy rate of the event-type chain
    // (EventAnalytics.entropyRate): how predictable is the next
    // event — the single number over the q120/q237 matrices
    "q282_entropy_rate" -> ((s, dir) => {
      EventAnalytics.entropyRate(Tables.events(s, dir))
    }),

    // Exponential-fit PPCC of inter-arrival gaps
    // (EventAnalytics.expFitPpcc): the one-number QQ plot — are
    // arrivals Poisson, read next to q265's dispersion
    "q291_expfit_ppcc" -> ((s, dir) => {
      EventAnalytics.expFitPpcc(Tables.events(s, dir))
        .orderBy(col("event_type"))
    }),

    // Peak-over-threshold mean excess (MarketBars.meanExcess): the
    // second extreme-value number next to q205's ES and q287's Hill
    "q292_mean_excess" -> ((s, dir) => {
      MarketBars.meanExcess(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Up/down-regime beta vs the 'click' reference series
    // (MarketBars.upDownBeta): the crash-comovement asymmetry the
    // q200 single-beta model averages away
    "q288_updown_beta" -> ((s, dir) => {
      MarketBars.upDownBeta(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), marketSeries = "click")
        .orderBy(col("series"), col("regime"))
    }),

    // Jarque–Bera normality test per series (MarketBars.jarqueBera):
    // the formal fat-tails gate on the q250 moment panel, χ²(2) fence
    "q299_jarque_bera" -> ((s, dir) => {
      MarketBars.jarqueBera(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Durbin–Watson serial-correlation diagnostic per series
    // (MarketBars.durbinWatson): the residual view of q151's ACF
    "q300_durbin_watson" -> ((s, dir) => {
      MarketBars.durbinWatson(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Market-model beta/alpha/R² vs the equal-weight index
    // (MarketBars.marketBeta): the single-regime complement of q288
    "q302_market_beta" -> ((s, dir) => {
      MarketBars.marketBeta(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Downside-risk panel (MarketBars.downsideRisk): Sortino, Calmar,
    // Omega(0), downside deviation — the loss side of q140's tearsheet
    "q306_downside_risk" -> ((s, dir) => {
      MarketBars.downsideRisk(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // ARCH-effect Ljung–Box (MarketBars.archLjungBox): the portmanteau
    // Q over the ACF of |Δclose| — the Taylor-effect formal test
    // behind q184's lag-1 ARCH screen
    "q307_arch_ljung_box" -> ((s, dir) => {
      MarketBars.archLjungBox(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Chow structural-break test (MarketBars.chowTest): two-segment
    // OLS F against the pooled fit — the formal mid-sample break test
    // next to the sequential CUSUM/Page monitors
    "q308_chow_test" -> ((s, dir) => {
      MarketBars.chowTest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Seasonality strength (EventAnalytics.seasonalStrength): share of
    // value variance the hour-of-day means explain — the one-number
    // read over q123's seasonal baseline table
    "q310_seasonal_strength" -> ((s, dir) => {
      graft.ops.EventAnalytics.seasonalStrength(Tables.events(s, dir))
        .orderBy(col("event_type"))
    }),

    // Newey–West HAC t-stat of the mean bar-to-bar change per series
    // (MarketBars.neweyWest): is the drift real once the q151 serial
    // correlation is priced into the standard error
    "q313_newey_west" -> ((s, dir) => {
      MarketBars.neweyWest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), maxLag = 5)
        .orderBy(col("series"))
    }),

    // Theil–Sen robust daily trend per series (MarketBars.theilSen):
    // exact median of all pairwise daily-close slopes — the
    // outlier-immune line next to q121's OLS
    "q317_theil_sen" -> ((s, dir) => {
      MarketBars.theilSen(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Mann–Kendall trend test (MarketBars.mannKendall): IS q317's
    // slope significant — distribution-free S over daily-close pairs,
    // tie-corrected variance, continuity-corrected z
    "q318_mann_kendall" -> ((s, dir) => {
      MarketBars.mannKendall(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Two-scale realized variance (MarketBars.tsrv): the
    // microstructure-noise-robust companion to q92's plain RV —
    // K=5 subsample grids via one extra lag on the same day sort
    "q319_tsrv" -> ((s, dir) => {
      MarketBars.tsrv(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Daily rank IC panel (MarketBars.rankIc): cross-sectional
    // Spearman of today's return vs tomorrow's, panel mean/std/t/hit
    // — the factor-evaluation view of q182's reversal signal
    "q320_rank_ic" -> ((s, dir) => {
      MarketBars.rankIc(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
    }),

    // AR(1) mean-reversion fit per series (MarketBars
    // .ar1MeanReversion): ρ, κ = −ln ρ, half-life — how fast each
    // series forgets shocks (q318 asks IF it drifts)
    "q321_ar1_reversion" -> ((s, dir) => {
      MarketBars.ar1MeanReversion(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Pairwise Granger causality (MarketBars.granger): does series
    // X's lagged return improve series Y's AR(1) fit — the DIRECTED
    // complement of q259's symmetric lead–lag correlations
    "q341_granger" -> ((s, dir) => {
      MarketBars.granger(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("cause"), col("effect"))
    }),

    // Detrended fluctuation analysis (MarketBars.dfa): window-
    // detrended scaling exponent over the integrated return profile
    // — the nonstationarity-robust long-memory read next to q153's
    // rescaled-range Hurst
    "q342_dfa" -> ((s, dir) => {
      MarketBars.dfa(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Permutation entropy (MarketBars.permEntropy): ordinal-pattern
    // complexity at bar level — tolerance-free, next to q351's
    // amplitude-based SampEn
    "q352_perm_entropy" -> ((s, dir) => {
      MarketBars.permEntropy(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Gumbel block maxima (MarketBars.gumbelBlockMaxima): EVT fit on
    // the daily worst |return| with the 100-day return level — the
    // block-maxima view next to q287's Hill POT tail
    "q354_gumbel" -> ((s, dir) => {
      MarketBars.gumbelBlockMaxima(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Inclán–Tiao CUSUM of squares (MarketBars.inclanTiao): the
    // VARIANCE change point — a volatility regime break moves
    // neither q144's mean-CUSUM nor q340's rank shift
    "q350_inclan_tiao" -> ((s, dir) => {
      MarketBars.inclanTiao(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Sample entropy (MarketBars.sampleEntropy): pattern regularity
    // on the daily returns — the complexity view next to q153 Hurst
    // and q342 DFA (which read memory, not determinism)
    "q351_sampen" -> ((s, dir) => {
      MarketBars.sampleEntropy(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // KPSS level-stationarity test (MarketBars.kpss): the null is
    // STATIONARITY — the mirror of q172's ADF — with a Bartlett
    // long-run variance at 4 lags; exact running prefix sums
    "q363_kpss" -> ((s, dir) => {
      MarketBars.kpss(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Fama–MacBeth two-pass regression (MarketBars.famaMacBeth) on
    // the 1-day reversal factor: per-day cross-sectional λ, then the
    // time-series premium + t — the formal test behind q182's
    // portfolio sort
    "q364_fama_macbeth" -> ((s, dir) => {
      MarketBars.famaMacBeth(MarketBars.bars(Tables.events(s, dir),
        "event_type", "ts", "value"))
    }),

    // Daily volume-concentration panel (MarketBars.hhiVolume): HHI of
    // tick volume across series + the implied effective series count.
    // Round-12: ALL-INTEGER output contract (divergence isolation —
    // see the op's scaladoc); q404 is the double-emitting sibling.
    "q365_hhi_volume" -> ((s, dir) => {
      MarketBars.hhiVolume(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("d"))
    }),

    // HHI double-emitting sibling (MarketBars.hhiVolumeDbl): the
    // original q365 contract, kept as its own gate row so the driver
    // run bisects integer-vs-double divergence in one round.
    "q404_hhi_volume_dbl" -> ((s, dir) => {
      MarketBars.hhiVolumeDbl(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("d"))
    }),

    // Information ratio vs the equal-weight market bar
    // (MarketBars.infoRatio): mean active return / tracking error —
    // relative performance next to q140's absolute Sharpe
    "q355_info_ratio" -> ((s, dir) => {
      MarketBars.infoRatio(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Ulcer index + Martin ratio (MarketBars.ulcerIndex): drawdown
    // pain weighted by depth AND duration over the daily-close path
    "q356_ulcer" -> ((s, dir) => {
      MarketBars.ulcerIndex(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Realized semivariance (MarketBars.semivariance): intraday RV
    // split by return sign + the signed jump variation — direction-
    // aware risk next to q181's jump/diffusion split
    "q358_semivariance" -> ((s, dir) => {
      MarketBars.semivariance(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Conditional drawdown-at-risk (MarketBars.cdar): the drawdown
    // analog of q205's VaR/ES — DaR quantile + the bad-tail mean
    "q360_cdar" -> ((s, dir) => {
      MarketBars.cdar(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Acerbi–Székely ES backtest (MarketBars.esBacktest): violation
    // SEVERITY on the test half vs the calibrated ES — the other half
    // of what q270's Kupiec frequency test covers
    "q372_es_backtest" -> ((s, dir) => {
      MarketBars.esBacktest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Chatterjee's ξ (MarketBars.chatterjee): any-shape functional
    // dependence between series pairs — the modern rank coefficient
    // next to q274's Kendall τ (monotone-only) and q343's binned MI
    "q374_chatterjee" -> ((s, dir) => {
      MarketBars.chatterjee(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series_x"), col("series_y"))
    }),

    // Hill tail index (MarketBars.hillTail): power-law tail thickness
    // of daily |returns| over the top-5% order statistics — the cubic
    // law check q250's kurtosis only hints at
    "q375_hill_tail" -> ((s, dir) => {
      MarketBars.hillTail(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Empirical tail dependence (MarketBars.tailDependence): do pairs
    // crash together — extreme-day overlap at the 10% tails, the
    // co-crash read q85's correlation structurally understates
    "q376_tail_dep" -> ((s, dir) => {
      MarketBars.tailDependence(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series_a"), col("series_b"))
    }),

    // Anderson–Darling normality (MarketBars.andersonDarling): the
    // tail-weighted companion to q346's Lilliefors KS
    "q378_anderson_darling" -> ((s, dir) => {
      MarketBars.andersonDarling(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Median realized variance (MarketBars.medRv): the jump-robust
    // ADS 2012 estimator vs RV per (series, day) — immune to single
    // jumps where q181's bipower still leaks half
    "q401_medrv" -> ((s, dir) => {
      MarketBars.medRv(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Volume–volatility relation (MarketBars.volumeVolatility):
    // corr(|r|, vol) and corr(r², vol) per series — Clark's MDH
    // shared-clock check next to q167's VPIN toxicity
    "q399_volume_volatility" -> ((s, dir) => {
      MarketBars.volumeVolatility(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Opening-gap statistics (MarketBars.openingGaps): gap direction
    // counts, intraday fill rates, overnight-vs-intraday drift split
    // — the session-structure read next to q376's Yang–Zhang variance
    // split
    "q397_opening_gaps" -> ((s, dir) => {
      MarketBars.openingGaps(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Schuster periodogram at fixed bar periods (MarketBars
    // .periodogram): spectral power + variance share — the
    // frequency-domain cycle read next to the time-domain ACF (q151)
    // and seasonal index (q123)
    "q394_periodogram" -> ((s, dir) => {
      MarketBars.periodogram(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("period"))
    }),

    // Exact W1 distribution drift (MarketBars.w1Drift): earth-mover
    // distance between each series' first- and second-half daily
    // return distributions — location AND shape drift in return units
    "q379_w1_drift" -> ((s, dir) => {
      MarketBars.w1Drift(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Binary transfer entropy (MarketBars.transferEntropy): model-free
    // DIRECTED information on return signs at lag 1 — fires on the
    // nonlinear lead-lag q341's linear Granger F misses
    "q380_transfer_entropy" -> ((s, dir) => {
      MarketBars.transferEntropy(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("cause"), col("effect"))
    }),

    // Epps-effect curve (MarketBars.eppsCurve): pair correlation at
    // 5/15/60-minute sampling — which sampling scale the correlation
    // reads are trustworthy at
    "q381_epps" -> ((s, dir) => {
      MarketBars.eppsCurve(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series_a"), col("series_b"), col("scale_min"))
    }),

    // Daily cross-sectional dispersion + CSAD
    // (MarketBars.csDispersion): the herding-literature statistic —
    // the LEVEL of cross-sectional disagreement per day
    "q382_cs_dispersion" -> ((s, dir) => {
      MarketBars.csDispersion(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("d"))
    }),

    // Correlation-matrix structure (MarketBars.corrStructure): mean/
    // dispersion of pairwise correlations + the effective factor
    // count from trace invariants (no eigen solve) — the systemic-
    // risk absorption read
    "q384_corr_structure" -> ((s, dir) => {
      MarketBars.corrStructure(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("n_series"))
    }),

    // Duration ACF (EventAnalytics.durationAcf): do long inter-
    // arrival gaps FOLLOW long gaps — the serial side of q265's
    // dispersion, the ACD/Hawkes clustering signature
    "q390_duration_acf" -> ((s, dir) => {
      EventAnalytics.durationAcf(Tables.events(s, dir),
          "event_type", "ts", "event_id")
        .orderBy(col("event_type"), col("k"))
    }),

    // Retention decay (EventAnalytics.retentionDecay): censoring-
    // aware pooled retention curve + the exponential half-life fit —
    // "how fast do users churn, in days"
    "q391_retention_decay" -> ((s, dir) => {
      EventAnalytics.retentionDecay(Tables.events(s, dir))
        .orderBy(col("day_offset"))
    }),

    // Circadian profile (EventAnalytics.circadianProfile): hour-of-
    // day entropy/uniformity + peak share per type — load SHAPE
    // around the clock, next to q265's burstiness
    "q392_circadian" -> ((s, dir) => {
      EventAnalytics.circadianProfile(Tables.events(s, dir))
        .orderBy(col("event_type"))
    }),

    // Behavioral trigger lift (EventAnalytics.triggerLift): does type
    // a foreshadow type b within 60 s of the same user's stream — the
    // temporal analog of q206's basket lift, windowed where q120's
    // transitions read one step
    "q400_trigger_lift" -> ((s, dir) => {
      EventAnalytics.triggerLift(Tables.events(s, dir))
        .orderBy(col("a"), col("b"))
    }),

    // Session concurrency (EventAnalytics.sessionConcurrency): daily
    // peak open-session count + end-of-day open count off the
    // interval sweep — the occupancy read q178/q180 never give
    "q398_concurrency" -> ((s, dir) => {
      EventAnalytics.sessionConcurrency(Tables.events(s, dir))
        .orderBy(col("d"))
    }),

    // Weibull gap fit (EventAnalytics.weibullGaps): probability-plot
    // shape/scale of inter-arrival gaps per type — the PARAMETRIC
    // arrival model next to q265 (marginal dispersion), q390 (serial
    // ACF) and q331 (nonparametric hazard)
    "q395_weibull_gaps" -> ((s, dir) => {
      EventAnalytics.weibullGaps(Tables.events(s, dir))
        .orderBy(col("event_type"))
    }),

    // Diebold–Mariano test (MarketBars.dmTest): random walk vs MA(5)
    // one-bar-ahead — is the series formally mean-reverting at bar
    // scale, the forecasting face of q139's variance ratio
    "q387_dm_test" -> ((s, dir) => {
      MarketBars.dmTest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // On-balance volume (MarketBars.obv): day-end running
    // sign(dClose)*volume — does volume flow WITH price
    "q388_obv" -> ((s, dir) => {
      MarketBars.obv(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Jobson–Korkie/Memmel Sharpe-difference test
    // (MarketBars.sharpeDiff): is click's Sharpe formally higher than
    // view's — what the q140 tearsheet eyeballs
    "q369_sharpe_diff" -> ((s, dir) => {
      MarketBars.sharpeDiff(MarketBars.bars(Tables.events(s, dir),
        "event_type", "ts", "value"), "click", "view")
    }),

    // Turn-of-month effect (MarketBars.turnOfMonth): boundary-day vs
    // interior mean returns — the calendar anomaly next to q202's DoW
    "q370_turn_of_month" -> ((s, dir) => {
      MarketBars.turnOfMonth(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // OU fit of the pair spread (PairAnalytics.ouFit): AR(1)-with-
    // intercept — reversion rate, EQUILIBRIUM level, stationary σ,
    // half-life; what q223's no-constant form pins at zero
    "q366_ou_fit" -> ((s, dir) => {
      PairAnalytics.ouFit(
          PairAnalytics.pairSpread(MarketBars.bars(Tables.events(s, dir),
            "event_type", "ts", "value"), "click", "view"))
        .orderBy(col("pair_name"))
    }),

    // Volatility-managed overlay (MarketBars.volManaged): scale by
    // c/RV_prev, capped 2x — does vol timing raise the daily Sharpe
    "q367_vol_managed" -> ((s, dir) => {
      MarketBars.volManaged(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // BNS jump significance test (MarketBars.bnsJumpTest): is q181's
    // RV−BV gap statistically a jump — the Huang–Tauchen relative-
    // jump z with tri-power quarticity
    "q361_bns_jump" -> ((s, dir) => {
      MarketBars.bnsJumpTest(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    }),

    // Fractional differencing panel (MarketBars.fracDiff): the
    // d = 0.4 fixed-width FD log-price series' mean/sd/acf1 —
    // stationarity WITH retained memory, between raw prices (unit
    // root) and q139's full differences
    "q348_frac_diff" -> ((s, dir) => {
      MarketBars.fracDiff(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Lilliefors normality test (MarketBars.lilliefors): the KS
    // distance against the SAME-sample fitted normal on daily
    // returns — the CDF-shape view next to q299's moment-based JB
    "q346_lilliefors" -> ((s, dir) => {
      MarketBars.lilliefors(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Binned return mutual information (MarketBars.returnMi): 5×5
    // quintile histogram MI + NMI per series pair — the nonlinear
    // dependence read q85/q259's Pearson structurally misses
    "q343_return_mi" -> ((s, dir) => {
      MarketBars.returnMi(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series_a"), col("series_b"))
    }),

    // Pettitt change-point test (MarketBars.pettitt): rank-based
    // level-shift detection on the daily closes with the classic
    // tail p — the nonparametric WHERE+WHETHER next to q144's CUSUM
    // and q308's parametric Chow split
    "q340_pettitt" -> ((s, dir) => {
      MarketBars.pettitt(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Partial autocorrelation lags 1-3 (MarketBars.pacf): the
    // Durbin–Levinson recursion over q151's ACF — does lag k add
    // anything once lags < k are fit (AR order selection)
    "q337_pacf" -> ((s, dir) => {
      MarketBars.pacf(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Yang–Zhang range volatility (MarketBars.yangZhang): the
    // drift/gap-robust OHLC estimator next to q163's Garman–Klass,
    // with Parkinson and Rogers–Satchell legs for the decomposition
    "q338_yang_zhang" -> ((s, dir) => {
      MarketBars.yangZhang(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Cornish–Fisher modified VaR (MarketBars.cornishFisher): the
    // Gaussian quantile expanded for q299's skew/kurtosis — what the
    // moments COST in tail risk, next to q205's historical VaR
    "q334_cornish_fisher" -> ((s, dir) => {
      MarketBars.cornishFisher(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Friedman rank test (StatOps.friedman): do the event types rank
    // the same within every DAY — the repeated-measures view q202's
    // ANOVA (pooled means) and q311's Kruskal–Wallis (pooled ranks)
    // both miss when day-level shifts swamp the treatment effect;
    // Kendall's W reports the day-over-day agreement strength
    "q327_friedman" -> ((s, dir) => {
      StatOps.friedman(Tables.events(s, dir),
        to_date(col("ts")), col("event_type"), col("value"))
    }),

    // Cross-sectional signal turnover (MarketBars.signalTurnover):
    // per day, the no-ties Spearman between today's and yesterday's
    // daily-return rankings + the mean absolute rank move — how fast
    // the momentum ordering churns (q320 rank IC's trading-cost twin)
    "q410_signal_turnover" -> ((s, dir) => {
      MarketBars.signalTurnover(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("d"))
    }),

    // Volatility of volatility (MarketBars.volOfVol): per series, the
    // mean and sd of the q92 daily realized-volatility series — the
    // risk-of-risk panel under q241's cone and q367's vol targeting
    "q412_vol_of_vol" -> ((s, dir) => {
      MarketBars.volOfVol(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"))
    }),

    // Abnormal-volume days (MarketBars.volumeSpikes): every full
    // 5-day-trailing-window day with an EXACT integer z>2 spike flag
    // and the signed z² rational — no sqrt anywhere, so the boolean
    // cannot diverge; q399's vol-of-volume panel gets its event list
    "q417_volume_spikes" -> ((s, dir) => {
      MarketBars.volumeSpikes(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"), lookback = 5, z = 2)
        .orderBy(col("series"), col("d"))
    }),

    // Kaufman efficiency ratio (MarketBars.rangeEfficiency): per
    // (series, day), |net close move| / Σ|bar moves| — trendiness,
    // next to q277's turning points and q153's Hurst
    "q421_range_efficiency" -> ((s, dir) => {
      MarketBars.rangeEfficiency(MarketBars.bars(Tables.events(s, dir),
          "event_type", "ts", "value"))
        .orderBy(col("series"), col("d"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q02_range_filter" ->
      """SELECT event_id, ts, event_type, value FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts <  TIMESTAMP '2024-01-20 00:00:00'
         ORDER BY event_id""",
    "q03_rth_filter" ->
      """WITH e AS (
           SELECT *, ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS ts_et
           FROM events)
         SELECT event_id, ts, event_type, value FROM e
         WHERE isodow(ts_et) BETWEEN 1 AND 5
           AND (hour(ts_et)*60 + minute(ts_et)) BETWEEN 570 AND 955
         ORDER BY event_id""",
    "q04_bars_5min" ->
      s"""WITH $barsCte
          SELECT series, bar_ts, open, high, low, close, n_ticks, volume
          FROM bars ORDER BY series, bar_ts""",
    "q05_pair_spread" ->
      s"""WITH $pairCte
          SELECT 'click-view' AS pair_name, bar_ts, close1, close2,
                 round(spread, 6) AS spread_r
          FROM pair ORDER BY bar_ts""",
    "q06_pair_zscore" ->
      s"""WITH $pairCte,
          z AS (
            SELECT bar_ts, close1, close2, spread,
                   avg(spread) OVER w AS m,
                   stddev_samp(spread) OVER w AS sd,
                   count(*) OVER w AS window_size
            FROM pair
            WINDOW w AS (ORDER BY bar_ts ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)),
          zz AS (
            SELECT bar_ts, close1, close2, spread, window_size,
                   CASE WHEN window_size >= 30 AND sd IS NOT NULL AND sd <> 0
                        THEN (spread - m) / sd END AS z
            FROM z)
          SELECT 'click' AS symbol, 'click-view' AS pair_name, bar_ts,
                 close1 AS close, round(spread, 6) AS spread_r,
                 window_size, round(z, 4) AS z_r
          FROM zz
          UNION ALL
          SELECT 'view', 'click-view', bar_ts, close2, round(-spread, 6),
                 window_size, round(-z, 4)
          FROM zz
          ORDER BY symbol, bar_ts""",
    "q10_status_join" ->
      """WITH days AS (
           SELECT CAST(unnest(generate_series(
             (SELECT MIN(CAST(ts AS DATE)) FROM events),
             (SELECT MAX(CAST(ts AS DATE)) FROM events),
             INTERVAL 1 DAY)) AS DATE) AS trading_date),
         types AS (SELECT DISTINCT event_type FROM events),
         counts AS (
           SELECT CAST(ts AS DATE) AS trading_date, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT d.trading_date, t.event_type,
                COALESCE(n, 0) AS bars,
                GREATEST(0, 60 - COALESCE(n, 0)) AS missing,
                CASE WHEN n IS NULL THEN 'FAIL'
                     WHEN n < 40 THEN 'WARN'
                     ELSE 'OK' END AS status
         FROM days d CROSS JOIN types t
         LEFT JOIN counts c
           ON c.trading_date = d.trading_date AND c.event_type = t.event_type
         ORDER BY d.trading_date, t.event_type""",
    "q11_minmax" ->
      """SELECT min(ts) AS ts_min, max(ts) AS ts_max,
         max(CAST(ts AS DATE)) AS latest_day, count(*) AS n_rows
         FROM events""",
    "q12_symbol_day_counts" ->
      """SELECT event_type, CAST(ts AS DATE) AS trading_date,
         count(*) AS n_bars,
         GREATEST(0, 70 - count(*)) AS missing
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q13_distinct" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q15_topk" ->
      """SELECT event_id, ts, event_type, value FROM
         (SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 200)
         ORDER BY event_id""",
    "q31_asof_join" ->
      """WITH c AS (SELECT CAST(ts AS DATE) AS d, ts, event_id, value AS click_val
                    FROM events WHERE event_type = 'click'),
         v AS (SELECT CAST(ts AS DATE) AS d, ts, max(value) AS view_val
               FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT c.event_id, c.ts, c.click_val, v.view_val,
                round(c.click_val - v.view_val, 6) AS gap
         FROM c ASOF LEFT JOIN v ON c.d = v.d AND c.ts >= v.ts
         ORDER BY c.event_id""",

    "q41_asof_forward" ->
      """WITH c AS (SELECT CAST(ts AS DATE) AS d, ts, event_id, value AS click_val
                    FROM events WHERE event_type = 'click'),
         v AS (SELECT CAST(ts AS DATE) AS d, ts, max(value) AS view_val
               FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT c.event_id, c.ts, c.click_val, v.view_val,
                round(c.click_val - v.view_val, 6) AS gap
         FROM c ASOF LEFT JOIN v ON c.d = v.d AND c.ts <= v.ts
         ORDER BY c.event_id""",

    "q49_range_window" ->
      """SELECT event_id, event_type, ts,
           count(*) OVER w AS n_10m,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_10m
         FROM (SELECT *, epoch_us(ts) AS us FROM events)
         WINDOW w AS (PARTITION BY event_type ORDER BY us
                      RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q44_group_sketch" ->
      """SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS exact_ids,
           abs(count(DISTINCT event_id) - count(DISTINCT event_id))
             <= 0.08 * count(DISTINCT event_id) AS hll_ok
         FROM events GROUP BY 1 ORDER BY event_type""",

    "q42_pivot" ->
      """SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS click,
           CAST(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS error,
           CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase,
           CAST(SUM(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS signup,
           CAST(SUM(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS view
         FROM events GROUP BY 1 ORDER BY d""",

    "q62_unpivot" ->
      """SELECT CAST(ts AS DATE) AS d, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM events
         WHERE event_type IN ('click','error','purchase','signup','view')
         GROUP BY 1, 2 ORDER BY d, event_type""",

    "q66_map_ops" ->
      """WITH g AS (SELECT CAST(ts AS DATE) AS d, event_type,
                      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
                    FROM events GROUP BY 1, 2)
         SELECT d, CAST(count(*) AS INTEGER) AS n_types,
           round(coalesce(max(CASE WHEN event_type='click' THEN total END), 0), 4)
             AS click_total,
           round(coalesce(max(CASE WHEN event_type='purchase' THEN total END), 0), 4)
             AS purchase_total,
           string_agg(event_type, ',' ORDER BY event_type) AS types
         FROM g GROUP BY d ORDER BY d""",

    "q69_window_frames" ->
      """SELECT event_id, event_type,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wc AS DOUBLE)
             / count(*) OVER wc, 6) AS ma5,
           max(value) OVER wf AS fwd_max,
           first_value(value) OVER wu AS first_v,
           last_value(value) OVER wu AS last_v,
           nth_value(value, 3) OVER wu AS third_v
         FROM (SELECT *, epoch_us(ts) AS us FROM events)
         WINDOW
           wc AS (PARTITION BY event_type ORDER BY us, event_id
                  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING),
           wf AS (PARTITION BY event_type ORDER BY us, event_id
                  ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING),
           wu AS (PARTITION BY event_type ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY event_id""",

    "q43_window_dist" ->
      s"""SELECT event_id, event_type, value,
           CASE WHEN count(*) OVER p > 1 THEN
             ${ExactRound.sqlRatioRound(
               "row_number() OVER w - 1", "count(*) OVER p - 1", 6)}
             ELSE 0.0 END AS pr,
           ${ExactRound.sqlRatioRound(
             "row_number() OVER w", "count(*) OVER p", 6)} AS cd,
           CAST(ntile(10) OVER w AS INTEGER) AS decile
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id),
           p AS (PARTITION BY event_type)
         ORDER BY event_id""",

    "q36_window_ranks" ->
      """SELECT event_id, event_type,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS INTEGER) AS rn,
           CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS INTEGER) AS rk,
           CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY value) AS INTEGER) AS drk,
           lag(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_v,
           lead(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_v
         FROM events ORDER BY event_id""",

    // quantile-norm twin: identical window definitions; percent_rank
    // is (rank-1)/(n-1) from the same integers in both engines
    "q132_quantile_norm" ->
      s"""SELECT event_id, event_type, value,
           CASE WHEN count(*) OVER p > 1 THEN
             ${ExactRound.sqlRatioRound(
               "rank() OVER (PARTITION BY event_type ORDER BY value)" +
                 " - 1",
               "count(*) OVER p - 1", 6)}
             ELSE 0.0 END AS pr,
           CAST(ntile(10) OVER (PARTITION BY event_type
             ORDER BY value, event_id) AS INTEGER) AS decile
         FROM events
         WINDOW p AS (PARTITION BY event_type)
         ORDER BY event_id""",

    "q16_session_grid" ->
      """WITH days AS (
           SELECT CAST(unnest(generate_series(
             (SELECT MIN(CAST(ts AS DATE)) FROM events),
             (SELECT MAX(CAST(ts AS DATE)) FROM events),
             INTERVAL 1 DAY)) AS DATE) AS trading_date),
         wd AS (SELECT trading_date FROM days WHERE isodow(trading_date) BETWEEN 1 AND 5),
         b AS (
           SELECT trading_date,
             (CAST(trading_date || ' 09:30:00' AS TIMESTAMP)
               AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS open_utc,
             (CAST(trading_date || ' 16:00:00' AS TIMESTAMP)
               AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS close_utc
           FROM wd)
         SELECT trading_date,
                unnest(generate_series(open_utc, close_utc - INTERVAL 5 MINUTE,
                                       INTERVAL 5 MINUTE)) AS slot_utc
         FROM b ORDER BY trading_date, slot_utc""",
    "q17_missing_slots" ->
      s"""WITH $barsCte,
          days AS (
            SELECT CAST(unnest(generate_series(
              (SELECT MIN(CAST(ts AS DATE)) FROM events),
              (SELECT MAX(CAST(ts AS DATE)) FROM events),
              INTERVAL 1 DAY)) AS DATE) AS trading_date),
          wd AS (SELECT trading_date FROM days WHERE isodow(trading_date) BETWEEN 1 AND 5),
          grid AS (
            SELECT trading_date,
                   unnest(generate_series(open_utc, open_utc + INTERVAL 385 MINUTE,
                                          INTERVAL 5 MINUTE)) AS slot_utc
            FROM (SELECT trading_date,
                    (CAST(trading_date || ' 09:30:00' AS TIMESTAMP)
                      AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS open_utc
                  FROM wd)),
          types AS (SELECT DISTINCT event_type FROM events)
          SELECT t.event_type, g.trading_date, g.slot_utc
          FROM grid g CROSS JOIN types t
          WHERE NOT EXISTS (
            SELECT 1 FROM bars b
            WHERE b.series = t.event_type AND b.bar_ts = g.slot_utc)
          ORDER BY t.event_type, g.slot_utc""",
    // twin of QualityReport.classifyDynamic: whole observed minutes
    // (integer // like the reference's total_seconds()//60), inclusive
    // ceil-div, early-close switch at expectedFull - ceil_div(120, 5)
    "q71_dynamic_validator" ->
      """WITH b AS (SELECT event_type AS symbol, ts,
                      CAST(ts AS DATE) AS trading_date FROM events),
         ld AS (SELECT max(trading_date) AS trading_date FROM b),
         lb AS (SELECT b.* FROM b JOIN ld USING (trading_date)),
         sess AS (SELECT min(ts) AS first_ts, max(ts) AS last_ts FROM lb),
         ex AS (SELECT CAST(ceil(((epoch_us(last_ts) - epoch_us(first_ts))
                  // 60000000) / 5.0) + 1 AS INTEGER) AS expected_dynamic FROM sess),
         ch AS (SELECT CASE WHEN expected_dynamic < (400 - 24)
                       THEN expected_dynamic ELSE 400 END AS expected_bars,
                       expected_dynamic < (400 - 24) AS is_short FROM ex),
         nt AS (SELECT expected_bars,
                  CASE WHEN is_short
                    THEN 'Short session detected; expected_bars='
                         || CAST(expected_bars AS VARCHAR) || ' (dynamic)'
                    ELSE 'Regular session assumed; expected_bars='
                         || CAST(expected_bars AS VARCHAR) || ' (full)'
                  END AS session_note
                FROM ch),
         c AS (SELECT symbol, trading_date, count(*) AS actual_bars
               FROM lb GROUP BY 1, 2)
         SELECT symbol, trading_date, expected_bars, actual_bars,
           greatest(0, expected_bars - actual_bars) AS missing_bars,
           CASE WHEN greatest(0, expected_bars - actual_bars) = 0 THEN 'OK'
                WHEN greatest(0, expected_bars - actual_bars) <= 2 THEN 'WARN'
                ELSE 'FAIL' END AS status,
           CASE WHEN greatest(0, expected_bars - actual_bars) = 0 THEN session_note
                ELSE session_note || '; Missing ' ||
                     CAST(greatest(0, expected_bars - actual_bars) AS VARCHAR) || ' bars'
           END AS notes
         FROM c CROSS JOIN nt
         ORDER BY symbol""",
    // the same per-key window; frame sums in DECIMAL (exact), stats
    // derived in scalar double.
    "q76_window_scalable" ->
      """WITH x AS (SELECT event_id, event_type, ts,
                      CAST(value AS DECIMAL(18,6)) AS dv FROM events),
         a AS (SELECT event_id, event_type, ts,
                 CAST(sum(dv) OVER w AS DOUBLE) AS s1,
                 CAST(sum(dv*dv) OVER w AS DOUBLE) AS s2,
                 count(*) OVER w AS n_win
               FROM x
               WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN 39 PRECEDING AND CURRENT ROW))
         SELECT event_id, event_type, ts,
           round(s1 / n_win, 6) AS r_mean,
           CASE WHEN n_win > 1
                THEN round(sqrt(greatest((s2 - s1*s1/n_win) / (n_win - 1), 0.0)), 6)
           END AS r_std,
           n_win
         FROM a ORDER BY event_id""",

    "q78_gap_fill" ->
      """WITH pm AS (
           SELECT event_type, date_trunc('minute', ts) AS minute,
             count(*) AS n_obs,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS v
           FROM events GROUP BY 1, 2),
         g AS (
           SELECT event_type,
             unnest(generate_series(date_trunc('minute', min(ts)),
                                    date_trunc('minute', max(ts)),
                                    INTERVAL 1 MINUTE)) AS minute
           FROM events GROUP BY event_type),
         j AS (
           SELECT g.event_type, g.minute,
             coalesce(pm.n_obs, 0) AS n_obs, pm.v
           FROM g LEFT JOIN pm
             ON pm.event_type = g.event_type AND pm.minute = g.minute)
         SELECT event_type, minute, n_obs,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY minute
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS value_locf,
           (v IS NULL) AS is_filled
         FROM j ORDER BY event_type, minute""",

    "q79_robust_outliers" ->
      s"""WITH med AS (
           SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
           FROM events GROUP BY 1),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
           FROM dev GROUP BY 1)
         SELECT d.event_type, count(*) AS n,
           any_value(d.med) AS med, any_value(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           ${ExactRound.sqlRatioRound(
             "SUM(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END)",
             "count(*)", 4)} AS outlier_ratio
         FROM dev d JOIN mad m USING (event_type)
         GROUP BY d.event_type ORDER BY d.event_type""",

    "q83_drawdown" ->
      """WITH p AS (
           SELECT event_type, value,
             max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
           FROM events)
         SELECT event_type, count(*) AS n,
           round(max(value), 6) AS peak_value,
           round(min(value - peak), 6) AS max_drawdown,
           round(min(CASE WHEN peak > 0 THEN (value - peak)/peak END), 6)
             AS max_drawdown_pct
         FROM p GROUP BY 1 ORDER BY 1""",

    "q84_interval_join" ->
      """WITH pm AS (
           SELECT date_trunc('minute', ts) AS m, count(*) AS c
           FROM events GROUP BY 1),
         top5 AS (SELECT m FROM pm ORDER BY c DESC, m LIMIT 5),
         win AS (SELECT m - INTERVAL 2 MINUTE AS t0,
                        m + INTERVAL 3 MINUTE AS t1 FROM top5)
         SELECT w.t0, count(*) AS n_ev,
           CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types,
           round(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_v
         FROM win w JOIN events e ON e.ts >= w.t0 AND e.ts < w.t1
         GROUP BY 1 ORDER BY 1""",

    "q85_rolling_corr" ->
      s"""WITH $pairCte,
          s AS (
            SELECT bar_ts, close1, close2,
              count(*) OVER w AS n_win,
              SUM(CAST(close1 AS DECIMAL(28,6))) OVER w AS sx,
              SUM(CAST(close2 AS DECIMAL(28,6))) OVER w AS sy,
              SUM(CAST(close1*close2 AS DECIMAL(28,6))) OVER w AS sxy,
              SUM(CAST(close1*close1 AS DECIMAL(28,6))) OVER w AS sxx,
              SUM(CAST(close2*close2 AS DECIMAL(28,6))) OVER w AS syy
            FROM pair
            WINDOW w AS (ORDER BY bar_ts ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
          SELECT 'click-view' AS pair_name, bar_ts, close1, close2, n_win,
            CASE WHEN n_win >= 12 AND CAST(n_win*sxx - sx*sx AS DOUBLE) > 0
                      AND CAST(n_win*syy - sy*sy AS DOUBLE) > 0
                 THEN round(CAST(n_win*sxy - sx*sy AS DOUBLE) /
                      (sqrt(CAST(n_win*sxx - sx*sx AS DOUBLE)) *
                       sqrt(CAST(n_win*syy - sy*sy AS DOUBLE))), 6)
            END AS r_corr
          FROM s ORDER BY bar_ts""",

    // Roll-spread twin: identical day-partitioned lag chain, 12dp
    // rounded decimal sums, covariance formed in DOUBLE from them
    "q111_roll_spread" -> {
      val cov = """(n_pairs*CAST(sxy AS DOUBLE) -
                    CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                   / CAST(n_pairs*(n_pairs-1) AS DOUBLE)"""
      s"""WITH $barsCte,
          b AS (SELECT series, bar_ts, CAST(bar_ts AS DATE) AS d, close FROM bars),
          l AS (SELECT series, d, bar_ts, close,
                  close - lag(close) OVER w AS dp
                FROM b WINDOW w AS (PARTITION BY series, d ORDER BY bar_ts)),
          l2 AS (SELECT series, d, bar_ts, dp,
                   lag(dp) OVER (PARTITION BY series, d ORDER BY bar_ts) AS dp1
                 FROM l),
          f AS (SELECT * FROM l2 WHERE dp IS NOT NULL AND dp1 IS NOT NULL),
          a AS (SELECT series, d, count(*) AS n_pairs,
                  SUM(CAST(round(dp, 12) AS DECIMAL(28,12))) AS sx,
                  SUM(CAST(round(dp1, 12) AS DECIMAL(28,12))) AS sy,
                  SUM(CAST(round(dp*dp1, 12) AS DECIMAL(28,12))) AS sxy
                FROM f GROUP BY 1, 2)
          SELECT series, d, n_pairs,
            round($cov, 6) AS serial_cov,
            CASE WHEN $cov < 0 THEN round(2.0*sqrt(-($cov)), 6)
                 ELSE 0.0 END AS roll_spread
          FROM a WHERE n_pairs >= 2 ORDER BY series, d"""
    },

    // rolling-beta twin: same decimal running sums as q85; alpha uses
    // the UNROUNDED beta (rounding applies per output column only)
    "q106_rolling_beta" ->
      s"""WITH $pairCte,
          s AS (
            SELECT bar_ts, close1, close2,
              count(*) OVER w AS n_win,
              SUM(CAST(close1 AS DECIMAL(28,6))) OVER w AS sx,
              SUM(CAST(close2 AS DECIMAL(28,6))) OVER w AS sy,
              SUM(CAST(close1*close2 AS DECIMAL(28,6))) OVER w AS sxy,
              SUM(CAST(close1*close1 AS DECIMAL(28,6))) OVER w AS sxx
            FROM pair
            WINDOW w AS (ORDER BY bar_ts ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
          SELECT 'click-view' AS pair_name, bar_ts, n_win,
            CASE WHEN n_win >= 12 AND CAST(n_win*sxx - sx*sx AS DOUBLE) > 0
                 THEN round(CAST(n_win*sxy - sx*sy AS DOUBLE) /
                            CAST(n_win*sxx - sx*sx AS DOUBLE), 6)
            END AS beta,
            CASE WHEN n_win >= 12 AND CAST(n_win*sxx - sx*sx AS DOUBLE) > 0
                 THEN round((CAST(sy AS DOUBLE)
                        - (CAST(n_win*sxy - sx*sy AS DOUBLE) /
                           CAST(n_win*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                       / CAST(n_win AS DOUBLE), 6)
            END AS alpha
          FROM s ORDER BY bar_ts""",

    "q95_boxplot" ->
      """WITH q AS (
           SELECT event_type,
             round(quantile_cont(value, 0.25), 6) AS p25,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.75), 6) AS p75
           FROM events GROUP BY 1),
         f AS (SELECT *, round(p75 - p25, 6) AS iqr,
                 round(p25 - 1.5*round(p75 - p25, 6), 6) AS lo_fence,
                 round(p75 + 1.5*round(p75 - p25, 6), 6) AS hi_fence
               FROM q)
         SELECT e.event_type, count(*) AS n,
           any_value(f.p25) AS p25, any_value(f.p50) AS p50,
           any_value(f.p75) AS p75, any_value(f.iqr) AS iqr,
           CAST(SUM(CASE WHEN e.value < f.lo_fence THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN e.value > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above
         FROM events e JOIN f USING (event_type)
         GROUP BY 1 ORDER BY 1""",

    "q94_asof_tolerance" ->
      """WITH c AS (SELECT CAST(ts AS DATE) AS d, ts, event_id, value AS click_val
                    FROM events WHERE event_type = 'click'),
         v AS (SELECT CAST(ts AS DATE) AS d, ts, max(value) AS view_val,
                 ts AS qts
               FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT c.event_id, c.ts, c.click_val,
           CASE WHEN epoch_us(c.ts) - epoch_us(v.qts) <= 120000000
                THEN v.view_val END AS view_val_tol,
           CASE WHEN epoch_us(c.ts) - epoch_us(v.qts) <= 120000000
                THEN epoch_us(c.ts) - epoch_us(v.qts) END AS age_us_tol
         FROM c ASOF LEFT JOIN v ON c.d = v.d AND c.ts >= v.ts
         ORDER BY c.event_id""",

    "q91_bar_resample" ->
      s"""WITH $barsCte,
          h AS (SELECT series,
              make_timestamp((epoch_us(bar_ts)//3600000000)*3600000000) AS hbar,
              (min(struct_pack(t := bar_ts, v := open))).v AS open,
              max(high) AS high, min(low) AS low,
              (max(struct_pack(t := bar_ts, v := close))).v AS close,
              CAST(SUM(n_ticks) AS BIGINT) AS n_ticks,
              CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS volume
            FROM bars GROUP BY 1, 2)
          SELECT series, hbar AS bar_ts, open, high, low, close, n_ticks,
            round(volume, 6) AS volume_r
          FROM h ORDER BY series, bar_ts""",

    "q92_realized_vol" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts) AS prev_c
                FROM bars),
          r AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                  round(ln(close/prev_c), 8) AS r
                FROM l WHERE prev_c IS NOT NULL AND prev_c > 0 AND close > 0)
          SELECT series, d, count(*) AS n_rets,
            round(sqrt(CAST(SUM(CAST(r*r AS DECIMAL(28,12))) AS DOUBLE)), 6)
              AS rv
          FROM r GROUP BY 1, 2 ORDER BY series, d""",

    "q93_cross_sectional" ->
      s"""WITH $barsCte,
          s AS (SELECT series, bar_ts, close,
              count(*) OVER wp AS n_cs,
              SUM(CAST(close AS DECIMAL(28,6))) OVER wp AS sy,
              SUM(CAST(close*close AS DECIMAL(28,6))) OVER wp AS syy,
              row_number() OVER (PARTITION BY bar_ts
                ORDER BY close DESC, series) AS cs_rank
            FROM bars
            WINDOW wp AS (PARTITION BY bar_ts)),
          v AS (SELECT *,
              (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n_cs)
                / (n_cs - 1) AS vars
            FROM s)
          SELECT series, bar_ts, close, n_cs, CAST(cs_rank AS INTEGER) AS cs_rank,
            CASE WHEN n_cs > 1 AND vars > 0
                 THEN round((close - CAST(sy AS DOUBLE)/n_cs)/sqrt(vars), 4)
            END AS cs_z
          FROM v ORDER BY bar_ts, series""",

    "q100_vwap" ->
      s"""WITH $barsCte
          SELECT series, CAST(bar_ts AS DATE) AS d,
            CAST(count(*) AS BIGINT) AS n_bars,
            CAST(SUM(n_ticks) AS BIGINT) AS n_ticks,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(CAST(close * CAST(n_ticks AS DOUBLE)" +
                " AS DECIMAL(28,12)))*1000000000000 AS HUGEINT)",
              "SUM(n_ticks)*1000000000000", 6)} AS vwap,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(CAST(close AS DECIMAL(28,12)))*1000000000000" +
                " AS HUGEINT)",
              "count(*)*1000000000000", 6)} AS twap
          FROM bars GROUP BY 1, 2 ORDER BY series, d""",

    // ewma twin: list() materializes the trailing frame in frame-row
    // order (oldest first) and list_reduce folds it with the SAME
    // sequential recurrence s/2 + x that Spark's aggregate() runs —
    // identical op sequence on identical doubles, bit-identical result
    "q101_ewma" ->
      s"""WITH $barsCte,
          f AS (SELECT series, bar_ts, close,
                  list(close) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS cs
                FROM bars),
          x AS (SELECT series, bar_ts, close,
                  CAST(len(cs) AS INTEGER) AS n,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                    (s, z) -> s/2 + z) AS num,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                    (s, z) -> s/2 + 1.0) AS den
                FROM f)
          SELECT series, bar_ts, close, n, round(num/den, 6) AS ewma
          FROM x ORDER BY series, bar_ts""",

    // candle twin: identical CASE cascade on identical double shapes
    "q126_candles" ->
      s"""WITH $barsCte,
          b AS (SELECT series, bar_ts, open, high, low, close,
                  lag(open) OVER w AS prev_open,
                  lag(close) OVER w AS prev_close,
                  abs(close - open) AS body,
                  high - low AS rng,
                  high - greatest(open, close) AS upper,
                  least(open, close) - low AS lower
                FROM bars WINDOW w AS (PARTITION BY series ORDER BY bar_ts))
          SELECT series, bar_ts, open, high, low, close,
            CASE
              WHEN prev_close IS NOT NULL AND close > open
                AND prev_close < prev_open AND close >= prev_open
                AND open <= prev_close THEN 'bull_engulf'
              WHEN prev_close IS NOT NULL AND close < open
                AND prev_close > prev_open AND close <= prev_open
                AND open >= prev_close THEN 'bear_engulf'
              WHEN body <= 0.1 * rng THEN 'doji'
              WHEN body >= 0.95 * rng THEN 'marubozu'
              WHEN lower >= 2.0 * body AND upper <= body THEN 'hammer'
              WHEN upper >= 2.0 * body AND lower <= body THEN 'shooting_star'
              ELSE 'none' END AS pattern
          FROM b ORDER BY series, bar_ts""",

    // Amihud twin: day-scoped return chain, 12dp-rounded decimal terms
    "q127_amihud" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close, volume,
                  lag(close) OVER (PARTITION BY series, CAST(bar_ts AS DATE)
                                   ORDER BY bar_ts) AS prev_close
                FROM bars),
          f AS (SELECT series, d,
                  1e6 * abs(close / prev_close - 1) / volume AS term
                FROM b
                WHERE prev_close IS NOT NULL AND prev_close <> 0
                  AND volume > 0),
          a AS (SELECT series, d, count(*) AS n_rets,
                  SUM(CAST(round(term, 12) AS DECIMAL(28,12))) AS s
                FROM f GROUP BY 1, 2)
          SELECT series, d, n_rets,
            ${ExactRound.sqlRatioRound(
              "CAST(s*1000000000000 AS HUGEINT)",
              "n_rets*1000000000000", 6)} AS amihud
          FROM a ORDER BY series, d""",

    // CCF twin: one unrolled lead/lag branch per k over the pair CTE,
    // then the olsFit-shaped co-moment forms from exact decimal sums
    "q122_ccf" -> {
      val branches = (-3 to 3).map { k =>
        val sh = if (k >= 0) s"lead(close2, $k)" else s"lag(close2, ${-k})"
        s"SELECT $k AS k, close1 AS x, $sh OVER (ORDER BY bar_ts) AS y FROM pair"
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH $pairCte,
          sh AS (
          $branches),
          g AS (SELECT k, count(*) AS n,
                  sum(CAST(x AS DECIMAL(28,6))) AS sx,
                  sum(CAST(y AS DECIMAL(28,6))) AS sy,
                  sum(CAST(x*y AS DECIMAL(28,6))) AS sxy,
                  sum(CAST(x*x AS DECIMAL(28,6))) AS sxx,
                  sum(CAST(y*y AS DECIMAL(28,6))) AS syy
                FROM sh WHERE y IS NOT NULL GROUP BY 1),
          d AS (SELECT k, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM g)
          SELECT 'click-view' AS pair_name, k, n,
            CASE WHEN vx > 0 AND vy > 0
              THEN round(num / (sqrt(vx)*sqrt(vy)), 6) END AS r_ccf
          FROM d ORDER BY k"""
    },

    // RSI twin: identical scaled-long Δ windows + the same floor-form
    // quotient (no library round() — the q90 determinism rule)
    "q133_rsi" ->
      s"""WITH $barsCte,
          d AS (SELECT series, bar_ts, close,
                  CAST(floor((close - lag(close) OVER w) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                FROM bars
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          f AS (SELECT series, bar_ts, close,
                  SUM(CASE WHEN d6 IS NOT NULL THEN 1 ELSE 0 END) OVER fr AS nd,
                  SUM(CASE WHEN d6 > 0 THEN d6 ELSE 0 END) OVER fr AS g,
                  SUM(CASE WHEN d6 < 0 THEN -d6 ELSE 0 END) OVER fr AS l
                FROM d
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT series, bar_ts, close,
            CASE WHEN nd = 14 THEN
              CASE WHEN g + l > 0
                THEN floor(100.0 * CAST(g AS DOUBLE) / CAST(g + l AS DOUBLE)
                  * 1e6 + 0.5) / 1e6
                ELSE 50.0 END
            END AS rsi
          FROM f ORDER BY series, bar_ts""",

    // stale-run twin: same island id (running sum of change flags),
    // same all-long rollup, floor-form mean run length
    "q136_stale_runs" ->
      s"""WITH $barsCte,
          b AS (SELECT series, bar_ts, close,
                  CASE WHEN lag(close) OVER w IS NULL
                         OR close <> lag(close) OVER w
                       THEN 1 ELSE 0 END AS new_run
                FROM bars
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          g AS (SELECT series, close,
                  SUM(new_run) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS UNBOUNDED PRECEDING) AS grp
                FROM b),
          r AS (SELECT series, grp, count(*) AS run_len
                FROM g GROUP BY 1, 2)
          SELECT series,
            count(*) AS n_runs,
            CAST(SUM(run_len) AS BIGINT) AS n_bars,
            MAX(run_len) AS max_run,
            CAST(SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_stale,
            floor(CAST(SUM(run_len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              * 1e6 + 0.5) / 1e6 AS avg_run
          FROM r GROUP BY series ORDER BY series""",

    // variance-ratio twin: identical scaled-long returns, identical
    // exact-sum population variances, one shared double op order
    "q139_variance_ratio" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0 AND close > 0),
          kw AS (SELECT series, r8,
                  count(*) OVER fr AS nk,
                  CAST(SUM(r8) OVER fr AS BIGINT) AS rk
                FROM r
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
          a AS (SELECT series,
                  count(*) AS n_rets,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(r8*r8 AS DECIMAL(38,0))) AS q1,
                  CAST(SUM(CASE WHEN nk = 4 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_k,
                  SUM(CASE WHEN nk = 4
                        THEN CAST(rk AS DECIMAL(38,0)) END) AS sk,
                  SUM(CASE WHEN nk = 4
                        THEN CAST(rk*rk AS DECIMAL(38,0)) END) AS qk
                FROM kw GROUP BY series),
          v AS (SELECT *,
                  CASE WHEN n_rets > 0 THEN
                    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
                       /CAST(n_rets AS DOUBLE)) / CAST(n_rets AS DOUBLE)
                  END AS var1,
                  CASE WHEN n_k > 0 THEN
                    (CAST(qk AS DOUBLE) - CAST(sk AS DOUBLE)*CAST(sk AS DOUBLE)
                       /CAST(n_k AS DOUBLE)) / CAST(n_k AS DOUBLE)
                  END AS vark
                FROM a)
          SELECT series, n_rets, n_k,
            CASE WHEN var1 > 0 AND vark IS NOT NULL
                 THEN round(vark / (var1 * 4.0), 6) END AS vr
          FROM v ORDER BY series""",

    // tearsheet twin: daily close via the bars-CTE max(struct) tie
    // rule, scaled-long daily returns, floor-form 6dp drawdown BEFORE
    // the min, one shared double op order for the annualized stats
    "q140_tearsheet" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, c := close))).c AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER w AS prev_c,
                  MAX(close) OVER (PARTITION BY series ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS runmax
                FROM dcl
                WINDOW w AS (PARTITION BY series ORDER BY d)),
          e AS (SELECT series, d, close,
                  CASE WHEN prev_c IS NOT NULL AND prev_c > 0 AND close > 0
                       THEN CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                  END AS r8,
                  CASE WHEN runmax > 0
                       THEN floor((close/runmax - 1.0) * 1e6 + 0.5) / 1e6
                  END AS dd
                FROM l),
          a AS (SELECT series,
                  count(*) AS n_days,
                  count(r8) AS n_rets,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(r8*r8 AS DECIMAL(38,0))) AS q1,
                  MIN(dd) AS max_drawdown
                FROM e GROUP BY series),
          v AS (SELECT *,
                  CASE WHEN n_rets > 0
                       THEN CAST(s1 AS DOUBLE)/CAST(n_rets AS DOUBLE) END AS mu,
                  CASE WHEN n_rets > 0 THEN
                    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
                       /CAST(n_rets AS DOUBLE)) / CAST(n_rets AS DOUBLE)
                  END AS varp
                FROM a)
          SELECT series, n_days, n_rets,
            CASE WHEN mu IS NOT NULL
                 THEN ${ExactRound.sqlRatioRound(
                   "CAST(s1 AS HUGEINT)*252",
                   "n_rets*100000000", 6)} END AS ann_return,
            CASE WHEN varp IS NOT NULL
                 THEN round(sqrt(varp * 252.0) / 1e8, 6) END AS ann_vol,
            CASE WHEN varp > 0
                 THEN round(mu * 252.0 / sqrt(varp * 252.0), 6) END AS sharpe,
            max_drawdown
          FROM v ORDER BY series""",

    // CUSUM twin: same denominator-cleared exact integers
    // C' = n·P − i·S, same (|C'| desc, bar_ts) argmax tie rule
    "q144_cusum" ->
      s"""WITH $barsCte,
          x AS (SELECT series, bar_ts,
                  CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS x6 FROM bars),
          r AS (SELECT series, bar_ts,
                  row_number() OVER w AS i,
                  CAST(SUM(x6) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
                  count(*) OVER wa AS n,
                  CAST(SUM(x6) OVER wa AS BIGINT) AS s
                FROM x
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts),
                       wa AS (PARTITION BY series)),
          c AS (SELECT series, bar_ts, i, n,
                  abs(CAST(n AS DECIMAL(38,0)) * CAST(p AS DECIMAL(38,0)) -
                      CAST(i AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))
                    AS absc
                FROM r),
          k AS (SELECT *, row_number() OVER (PARTITION BY series
                  ORDER BY absc DESC, bar_ts) AS rk FROM c)
          SELECT series, CAST(n AS BIGINT) AS n_bars, bar_ts AS cp_ts,
            CAST(i AS INTEGER) AS cp_idx,
            floor(CAST(absc AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 * 1e6 + 0.5)
              / 1e6 AS cusum_max
          FROM k WHERE rk = 1 ORDER BY series""",

    // Page-CUSUM twin: same first-day baseline, same scaled-long d6,
    // same prefix-sum identity S = P − min(0, running-min P)
    "q146_page_cusum" ->
      s"""WITH $barsCte,
          bd AS (SELECT series, bar_ts, close, CAST(bar_ts AS DATE) AS d
                 FROM bars),
          d0 AS (SELECT series, min(d) AS d0 FROM bd GROUP BY 1),
          base AS (SELECT bd.series,
                     CAST(SUM(CAST(close AS DECIMAL(28,12))) AS DOUBLE)
                       / count(*) AS mu0
                   FROM bd
                   JOIN d0 ON d0.series = bd.series AND bd.d = d0.d0
                   GROUP BY 1),
          p0 AS (SELECT bd.series, bd.bar_ts,
                   CAST(floor(close * 1e6 + 0.5) AS BIGINT) -
                   CAST(floor(mu0 * 1e6 + 0.5) AS BIGINT) - 500000 AS d6
                 FROM bd JOIN base ON base.series = bd.series),
          pp AS (SELECT series, bar_ts,
                   CAST(SUM(d6) OVER wr AS BIGINT) AS p
                 FROM p0
                 WINDOW wr AS (PARTITION BY series ORDER BY bar_ts
                   ROWS UNBOUNDED PRECEDING)),
          ss AS (SELECT series, bar_ts,
                   p - least(CAST(MIN(p) OVER wr AS BIGINT), 0) AS s6
                 FROM pp
                 WINDOW wr AS (PARTITION BY series ORDER BY bar_ts
                   ROWS UNBOUNDED PRECEDING))
          SELECT series, count(*) AS n_bars,
            CAST(SUM(CASE WHEN s6 > 5000000 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_alarms,
            MIN(CASE WHEN s6 > 5000000 THEN bar_ts END) AS first_alarm_ts,
            floor(CAST(MAX(s6) AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS s_max
          FROM ss GROUP BY series ORDER BY series""",

    // ACF twin: same scaled-long Δcloses, same one-sort lag stack
    // (UNION ALL branches), same q122 correlation op order
    "q151_acf" -> {
      val branches = (1 to 5).map { k =>
        s"""SELECT series, $k AS k, d6 AS x, lag(d6, $k) OVER w$k AS y
            FROM dd WINDOW w$k AS (PARTITION BY series ORDER BY bar_ts)"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH $barsCte,
          d AS (SELECT series, bar_ts,
                  CAST(floor((close - lag(close) OVER
                    (PARTITION BY series ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                FROM bars),
          dd AS (SELECT * FROM d WHERE d6 IS NOT NULL),
          sh AS (
          $branches),
          g AS (SELECT series, k, count(*) AS n,
                  sum(CAST(x AS DECIMAL(38,0))) AS sx,
                  sum(CAST(y AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
                  sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
                  sum(CAST(y*y AS DECIMAL(38,0))) AS syy
                FROM sh WHERE y IS NOT NULL GROUP BY 1, 2),
          f AS (SELECT series, k, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM g)
          SELECT series, k, n,
            CASE WHEN vx > 0 AND vy > 0
              THEN round(num / (sqrt(vx)*sqrt(vy)), 6) END AS r_acf
          FROM f ORDER BY series, k"""
    },

    // tick-flow twin: same day-partitioned Δ sign, same IGNORE NULLS
    // carry-forward, same all-long rollup + floor-form imbalance
    "q152_tick_flow" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close,
                  n_ticks FROM bars),
          dd AS (SELECT *, CAST(floor((close - lag(close) OVER
                    (PARTITION BY series, d ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                 FROM b),
          sg AS (SELECT *, CASE WHEN d6 > 0 THEN 1
                                WHEN d6 < 0 THEN -1 END AS sgn
                 FROM dd),
          cf AS (SELECT *, coalesce(last_value(sgn IGNORE NULLS) OVER
                    (PARTITION BY series, d ORDER BY bar_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                    AS tick_sign
                 FROM sg),
          g AS (SELECT series, d, count(*) AS n_bars,
                  CAST(sum(CASE WHEN tick_sign = 1 THEN n_ticks ELSE 0 END)
                    AS BIGINT) AS buy_ticks,
                  CAST(sum(CASE WHEN tick_sign = -1 THEN n_ticks ELSE 0 END)
                    AS BIGINT) AS sell_ticks
                FROM cf GROUP BY 1, 2)
          SELECT series, d, n_bars, buy_ticks, sell_ticks,
            CASE WHEN buy_ticks + sell_ticks > 0
              THEN floor((CAST(buy_ticks AS DOUBLE) - CAST(sell_ticks AS DOUBLE))
                / (CAST(buy_ticks AS DOUBLE) + CAST(sell_ticks AS DOUBLE))
                * 1e6 + 0.5) / 1e6 END AS flow_imbalance
          FROM g ORDER BY series, d""",

    // Hurst twin: same scaled-long returns, same integer block sums,
    // same q139 variance op order, same scaled-long regression points
    // (the 1e6 scale cancels in the slope ratio)
    "q153_hurst" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close / prev_c) * 1e8 + 0.5) AS BIGINT) AS r8,
                  CAST(row_number() OVER
                    (PARTITION BY series ORDER BY bar_ts) AS BIGINT) - 1 AS rn
                FROM p
                WHERE prev_c IS NOT NULL AND prev_c > 0 AND close > 0),
          cells AS (SELECT series, k, rn // k AS blk, r8
                    FROM r CROSS JOIN (VALUES (1),(2),(4),(8)) ks(k)),
          b AS (SELECT series, k, blk, count(*) AS nb,
                  CAST(sum(r8) AS BIGINT) AS bsum
                FROM cells GROUP BY 1, 2, 3),
          v AS (SELECT series, k, count(*) AS n_blk,
                  sum(CAST(bsum AS DECIMAL(38,0))) AS sb,
                  sum(CAST(bsum*bsum AS DECIMAL(38,0))) AS qb
                FROM b WHERE nb = k GROUP BY 1, 2),
          vv AS (SELECT series, k,
                  (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)
                    / CAST(n_blk AS DOUBLE)) / CAST(n_blk AS DOUBLE) AS vark
                 FROM v),
          pts AS (SELECT series,
                  CAST(floor(ln(CAST(k AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
                    AS x6,
                  CAST(floor(ln(vark) * 1e6 + 0.5) AS BIGINT) AS y6
                  FROM vv WHERE vark > 0),
          g AS (SELECT series, count(*) AS n_pts,
                  sum(CAST(x6 AS DECIMAL(38,0))) AS sx,
                  sum(CAST(y6 AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x6*y6 AS DECIMAL(38,0))) AS sxy,
                  sum(CAST(x6*x6 AS DECIMAL(38,0))) AS sxx
                FROM pts GROUP BY 1)
          SELECT series, n_pts,
            CASE WHEN n_pts >= 2 THEN
              round((CAST(n_pts AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                / (CAST(n_pts AS DOUBLE)*CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) / 2.0, 6) END
              AS hurst
          FROM g ORDER BY series""",

    // triple-barrier twin: same one-sort lead arrays, same first-touch
    // array scan, same exact-double barrier literals
    "q154_triple_barrier" -> {
      val hsList = (1 to 12).map(j => s"lead(high, $j) OVER w").mkString(", ")
      val lsList = (1 to 12).map(j => s"lead(low, $j) OVER w").mkString(", ")
      s"""WITH $barsCte,
          tb AS (SELECT series, bar_ts, close,
                   close * 1.005 AS up, close * 0.995 AS dn,
                   [$hsList] AS hs,
                   [$lsList] AS ls
                 FROM bars
                 WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          t2 AS (SELECT *,
                   list_filter(range(1, 13), i -> hs[i] IS NOT NULL AND
                     (hs[i] >= up OR ls[i] <= dn))[1] AS touch
                 FROM tb)
          SELECT series, bar_ts AS entry_ts, close,
            CAST(touch AS INTEGER) AS touch_k,
            CASE WHEN touch IS NULL THEN 0
                 WHEN hs[touch] >= up AND ls[touch] <= dn THEN 0
                 WHEN hs[touch] >= up THEN 1
                 ELSE -1 END AS label
          FROM t2 ORDER BY series, entry_ts"""
    },

    // tick-bar twin: same (ts, id) total order, same min/max-struct
    // open/close pick over the unique in-series row index
    "q158_tick_bars" ->
      """WITH t AS (SELECT event_type AS series, ts, value AS v,
                      event_id AS id FROM events),
          r AS (SELECT *, CAST(row_number() OVER
                  (PARTITION BY series ORDER BY ts, id) AS BIGINT) - 1 AS rn
                FROM t),
          b AS (SELECT series, rn // 50 AS bar_id,
                  count(*) AS n_ticks,
                  min(ts) AS start_ts, max(ts) AS end_ts,
                  (min(struct_pack(r := rn, v := v))).v AS open,
                  max(v) AS high, min(v) AS low,
                  (max(struct_pack(r := rn, v := v))).v AS close
                FROM r GROUP BY 1, 2)
         SELECT series, bar_id, n_ticks, start_ts, end_ts,
           open, high, low, close
         FROM b ORDER BY series, bar_id""",

    // Kyle-lambda twin: the q152 sign chain + q121 OLS slope op order
    "q159_kyle_lambda" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close,
                  n_ticks FROM bars),
          dd AS (SELECT *, CAST(floor((close - lag(close) OVER
                    (PARTITION BY series, d ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                 FROM b),
          sg AS (SELECT *, CASE WHEN d6 > 0 THEN 1
                                WHEN d6 < 0 THEN -1 END AS sgn
                 FROM dd),
          cf AS (SELECT *, coalesce(last_value(sgn IGNORE NULLS) OVER
                    (PARTITION BY series, d ORDER BY bar_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                    AS tick_sign
                 FROM sg),
          x AS (SELECT series, d, d6,
                  CAST(tick_sign AS BIGINT) * n_ticks AS x
                FROM cf WHERE d6 IS NOT NULL),
          g AS (SELECT series, d, count(*) AS n,
                  sum(CAST(x AS DECIMAL(38,0))) AS sx,
                  sum(CAST(d6 AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x*d6 AS DECIMAL(38,0))) AS sxy,
                  sum(CAST(x*x AS DECIMAL(38,0))) AS sxx
                FROM x GROUP BY 1, 2),
          f AS (SELECT series, d, n, sx, sy, sxy, sxx,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS den
                FROM g)
          SELECT series, d, n,
            CASE WHEN den > 0 THEN ${ExactRound.sqlRatioRound(
              "CAST(n AS HUGEINT)*CAST(sxy AS HUGEINT)" +
                " - CAST(sx AS HUGEINT)*CAST(sy AS HUGEINT)",
              "CAST(n AS HUGEINT)*CAST(sxx AS HUGEINT)" +
                " - CAST(sx AS HUGEINT)*CAST(sx AS HUGEINT)", 6)} END
              AS kyle_lambda
          FROM f ORDER BY series, d""",

    // OBV twin: the q152 sign chain + an all-integer running sum
    "q161_obv" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close,
                  n_ticks FROM bars),
          dd AS (SELECT *, CAST(floor((close - lag(close) OVER
                    (PARTITION BY series, d ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                 FROM b),
          sg AS (SELECT *, CASE WHEN d6 > 0 THEN 1
                                WHEN d6 < 0 THEN -1 END AS sgn
                 FROM dd),
          cf AS (SELECT *, coalesce(last_value(sgn IGNORE NULLS) OVER
                    (PARTITION BY series, d ORDER BY bar_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                    AS tick_sign
                 FROM sg)
          SELECT series, d, bar_ts,
            CAST(sum(CAST(tick_sign AS BIGINT) * n_ticks) OVER
              (PARTITION BY series, d ORDER BY bar_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS obv
          FROM cf ORDER BY series, bar_ts""",

    // intraday-profile twin: same µs-of-day slot math, same exact
    // long |move| sums, same floor-form whole-micro mean
    "q162_intraday_profile" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close,
                  n_ticks,
                  (epoch_us(bar_ts) % 86400000000) // 300000000 AS slot
                FROM bars),
          dd AS (SELECT *, CAST(floor((close - lag(close) OVER
                    (PARTITION BY series, d ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                 FROM b),
          g AS (SELECT series, slot, count(*) AS n_bars,
                  CAST(sum(n_ticks) AS BIGINT) AS n_ticks,
                  CAST(sum(CASE WHEN d6 IS NOT NULL THEN abs(d6)
                           ELSE 0 END) AS BIGINT) AS sabs,
                  CAST(sum(CASE WHEN d6 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moves
                FROM dd GROUP BY 1, 2)
          SELECT series, slot, n_bars, n_ticks,
            CASE WHEN n_moves > 0 THEN
              floor(CAST(sabs AS DOUBLE) / CAST(n_moves AS DOUBLE) + 0.5)
                / 1e6 END AS mean_abs_move
          FROM g ORDER BY series, slot""",

    // GK/Parkinson twin: identical ln/× op order (the 2ln2−1
    // coefficient is COMPUTED, not a literal), same 1e-12 term
    // flooring, same guarded √ finish
    "q163_garman_klass" ->
      s"""WITH $barsCte,
          t AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                  CAST(floor((0.5 * ln(high/low) * ln(high/low)
                      - (2.0*ln(2.0) - 1.0) * ln(close/open) * ln(close/open))
                    * 1e12 + 0.5) AS BIGINT) AS t_gk,
                  CAST(floor((ln(high/low) * ln(high/low) / (4.0*ln(2.0)))
                    * 1e12 + 0.5) AS BIGINT) AS t_pk
                FROM bars
                WHERE open > 0 AND high > 0 AND low > 0 AND close > 0
                  AND low <= high),
          g AS (SELECT series, d, count(*) AS n_bars,
                  CAST(sum(t_gk) AS BIGINT) AS sgk,
                  CAST(sum(t_pk) AS BIGINT) AS spk
                FROM t GROUP BY 1, 2)
          SELECT series, d, n_bars,
            CASE WHEN sgk >= 0 THEN
              floor(sqrt(CAST(sgk AS DOUBLE) / 1e12) * 1e6 + 0.5) / 1e6 END
              AS vol_gk,
            floor(sqrt(CAST(spk AS DOUBLE) / 1e12) * 1e6 + 0.5) / 1e6
              AS vol_pk
          FROM g ORDER BY series, d""",

    // VPIN twin: same tick-level sign chain, same 50-tick buckets,
    // same all-long imbalance and trailing-mean floors
    "q167_vpin" ->
      """WITH t AS (SELECT event_type AS series, ts, value AS v,
                      event_id AS id FROM events),
          r AS (SELECT *,
                  CAST(row_number() OVER w AS BIGINT) - 1 AS rn,
                  CAST(floor((v - lag(v) OVER w) * 1e6 + 0.5) AS BIGINT)
                    AS d6
                FROM t WINDOW w AS (PARTITION BY series ORDER BY ts, id)),
          sg AS (SELECT *, CASE WHEN d6 > 0 THEN 1
                                WHEN d6 < 0 THEN -1 END AS sgn
                 FROM r),
          cf AS (SELECT *, coalesce(last_value(sgn IGNORE NULLS) OVER
                    (PARTITION BY series ORDER BY ts, id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                    AS tick_sign
                 FROM sg),
          b AS (SELECT series, rn // 50 AS bucket, count(*) AS n_ticks,
                  CAST(sum(CASE WHEN tick_sign = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS buys,
                  CAST(sum(CASE WHEN tick_sign = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS sells
                FROM cf GROUP BY 1, 2),
          i AS (SELECT *, CAST(floor(CAST(abs(buys - sells) AS DOUBLE)
                    / CAST(n_ticks AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                    AS imb6
                FROM b),
          v AS (SELECT *, count(*) OVER tw AS nb,
                  CAST(sum(imb6) OVER tw AS BIGINT) AS s6
                FROM i
                WINDOW tw AS (PARTITION BY series ORDER BY bucket
                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
          SELECT series, bucket, n_ticks, buys, sells,
            imb6 / 1e6 AS imbalance,
            CASE WHEN nb = 10 THEN
              floor(CAST(s6 AS DOUBLE) / CAST(nb AS DOUBLE) + 0.5) / 1e6 END
              AS vpin
          FROM v ORDER BY series, bucket""",

    // underwater twin: same running max, same island id off the
    // under-flag change points, all-integer rollups
    "q168_underwater" ->
      s"""WITH $barsCte,
          f AS (SELECT series, bar_ts, close,
                  CASE WHEN close < max(close) OVER rw THEN 1 ELSE 0 END
                    AS under
                FROM bars
                WINDOW rw AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          g AS (SELECT *, CAST(SUM(CASE WHEN prev_u IS NULL
                      OR under <> prev_u THEN 1 ELSE 0 END) OVER rw2
                    AS BIGINT) AS grp
                FROM (SELECT *, lag(under) OVER
                        (PARTITION BY series ORDER BY bar_ts) AS prev_u
                      FROM f)
                WINDOW rw2 AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          s AS (SELECT series, grp, max(under) AS under,
                  count(*) AS len FROM g GROUP BY 1, 2),
          a AS (SELECT series,
                  CAST(sum(len) AS BIGINT) AS n_bars,
                  CAST(sum(CASE WHEN under = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_spells,
                  CAST(max(CASE WHEN under = 1 THEN len ELSE 0 END)
                    AS BIGINT) AS longest_spell,
                  CAST(sum(CASE WHEN under = 1 THEN len ELSE 0 END)
                    AS BIGINT) AS bars_under
                FROM s GROUP BY 1)
          SELECT series, n_bars, n_spells, longest_spell,
            floor(CAST(bars_under AS DOUBLE) / CAST(n_bars AS DOUBLE)
              * 1e6 + 0.5) / 1e6 AS frac_under
          FROM a ORDER BY series""",

    // Corwin–Schultz twin: identical ln/√/exp op order, computed
    // constants, same 1e-12 pair flooring + whole-micro day mean
    "q169_corwin_schultz" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts,
                  high, low FROM bars
                WHERE high > 0 AND low > 0 AND low <= high),
          p AS (SELECT *, lag(high) OVER w AS ph, lag(low) OVER w AS pl
                FROM b
                WINDOW w AS (PARTITION BY series, d ORDER BY bar_ts)),
          m AS (SELECT series, d,
                  ln(high/low)*ln(high/low) + ln(ph/pl)*ln(ph/pl) AS beta,
                  ln(greatest(high, ph)/least(low, pl))
                    * ln(greatest(high, ph)/least(low, pl)) AS gamma,
                  3.0 - 2.0*sqrt(2.0) AS denom
                FROM p WHERE ph IS NOT NULL),
          a AS (SELECT series, d,
                  (sqrt(2.0*beta) - sqrt(beta))/denom
                    - sqrt(gamma/denom) AS alpha
                FROM m),
          t AS (SELECT series, d,
                  CAST(floor(greatest(
                    2.0*(exp(alpha) - 1.0)/(1.0 + exp(alpha)), 0.0)
                    * 1e12 + 0.5) AS BIGINT) AS t12
                FROM a),
          g AS (SELECT series, d, count(*) AS n_pairs,
                  CAST(sum(t12) AS BIGINT) AS s12
                FROM t GROUP BY 1, 2)
          SELECT series, d, n_pairs,
            floor(CAST(s12 AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1e6 + 0.5)
              / 1e6 AS cs_spread
          FROM g ORDER BY series, d""",

    // volume-profile twin: same integer price levels, same
    // (v desc, level) POC tie rule, same floor-form share
    "q179_volume_profile" ->
      s"""WITH $barsCte,
          lv AS (SELECT series, CAST(floor(close) AS BIGINT) AS level,
                   CAST(sum(n_ticks) AS BIGINT) AS v
                 FROM bars GROUP BY 1, 2),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY series ORDER BY v DESC, level) AS rk,
                  CAST(sum(v) OVER (PARTITION BY series) AS BIGINT) AS tot,
                  count(*) OVER (PARTITION BY series) AS n_levels
                FROM lv)
          SELECT series, level AS poc_level, v AS poc_volume,
            tot AS total_volume, n_levels,
            floor(CAST(v AS DOUBLE) / CAST(tot AS DOUBLE) * 1e6 + 0.5) / 1e6
              AS poc_share
          FROM r WHERE rk = 1 ORDER BY series""",

    // runs-test twin: same zero-excluded sign chain, same island
    // count, same μ/σ/z double op order
    "q177_runs_test" ->
      s"""WITH $barsCte,
          dd AS (SELECT series, bar_ts,
                   CAST(floor((close - lag(close) OVER
                     (PARTITION BY series ORDER BY bar_ts)) * 1e6 + 0.5)
                     AS BIGINT) AS d6
                 FROM bars),
          sg AS (SELECT series, bar_ts,
                   CASE WHEN d6 > 0 THEN 1 ELSE -1 END AS sgn
                 FROM dd WHERE d6 IS NOT NULL AND d6 <> 0),
          rn AS (SELECT series,
                   CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pos,
                   CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_neg,
                   CAST(sum(brk) AS BIGINT) AS n_runs
                 FROM (SELECT series, sgn,
                         CASE WHEN lag(sgn) OVER w IS NULL
                           OR sgn <> lag(sgn) OVER w THEN 1 ELSE 0 END AS brk
                       FROM sg
                       WINDOW w AS (PARTITION BY series ORDER BY bar_ts))
                 GROUP BY 1),
          f AS (SELECT *, n_pos + n_neg AS n,
                  2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                    / CAST(n_pos + n_neg AS DOUBLE) + 1.0 AS mu
                FROM rn)
          SELECT series, n_pos, n_neg, n_runs,
            CASE WHEN n_pos > 0 AND n_neg > 0 AND n > 1
                  AND (mu - 1.0)*(mu - 2.0)/(CAST(n AS DOUBLE) - 1.0) > 0
              THEN round((CAST(n_runs AS DOUBLE) - mu)
                / sqrt((mu - 1.0)*(mu - 2.0)/(CAST(n AS DOUBLE) - 1.0)), 6)
              END AS z_runs
          FROM f ORDER BY series""",

    // cointegration twin: same scaled-long step-1 moments and q121
    // β/α op order, same snapped residuals, same exact-integer step-2
    // sums and t-statistic chain
    "q172_coint" ->
      s"""WITH $pairCte,
          s AS (SELECT 'click-view' AS pair_name, bar_ts, close1, close2,
                  CAST(floor(close1 * 1e6 + 0.5) AS BIGINT) AS y6,
                  CAST(floor(close2 * 1e6 + 0.5) AS BIGINT) AS x6
                FROM pair),
          m0 AS (SELECT pair_name, count(*) AS n,
                  sum(CAST(x6 AS DECIMAL(38,0))) AS sx,
                  sum(CAST(y6 AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x6*y6 AS DECIMAL(38,0))) AS sxy,
                  sum(CAST(x6*x6 AS DECIMAL(38,0))) AS sxx
                FROM s GROUP BY 1),
          m1 AS (SELECT *, (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS beta
                 FROM m0),
          m AS (SELECT pair_name, n, beta,
                  (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE) / 1e6 AS alpha
                FROM m1),
          r AS (SELECT s.pair_name, bar_ts, beta, alpha,
                  CAST(floor((close1 - alpha - beta * close2) * 1e6 + 0.5)
                    AS BIGINT) AS r6
                FROM s JOIN m ON m.pair_name = s.pair_name),
          rr AS (SELECT *, lag(r6) OVER
                   (PARTITION BY pair_name ORDER BY bar_ts) AS rl
                 FROM r),
          d AS (SELECT pair_name, beta, alpha, r6 - rl AS dr, rl
                FROM rr WHERE rl IS NOT NULL),
          g AS (SELECT pair_name, beta, alpha, count(*) AS n_obs,
                  sum(CAST(rl*rl AS DECIMAL(38,0))) AS srr,
                  sum(CAST(rl*dr AS DECIMAL(38,0))) AS srd,
                  sum(CAST(dr*dr AS DECIMAL(38,0))) AS sdd
                FROM d GROUP BY 1, 2, 3),
          f AS (SELECT pair_name, n_obs, beta, alpha,
                  CASE WHEN srr > 0
                    THEN CAST(srd AS DOUBLE) / CAST(srr AS DOUBLE) END AS phi,
                  srr, srd, sdd
                FROM g),
          f2 AS (SELECT *, CAST(sdd AS DOUBLE) - phi * CAST(srd AS DOUBLE)
                    AS sse
                 FROM f)
          SELECT pair_name, n_obs, round(beta, 6) AS beta,
            round(alpha, 6) AS alpha, round(phi, 6) AS phi,
            CASE WHEN phi IS NOT NULL AND sse > 0 AND n_obs > 1
              THEN round(phi * sqrt(CAST(srr AS DOUBLE))
                / sqrt(sse / (CAST(n_obs AS DOUBLE) - 1.0)), 6) END AS adf_t
          FROM f2 ORDER BY pair_name""",

    // bipower twin: same day-scoped 8dp return chain, same 12dp-rounded
    // decimal term sums, same pi()/2 scale + ratio double op order
    "q181_bipower_jump" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close
                FROM bars),
          p AS (SELECT *, lag(close) OVER
                  (PARTITION BY series, d ORDER BY bar_ts) AS prev_c
                FROM b),
          r AS (SELECT series, d, bar_ts, round(ln(close/prev_c), 8) AS r
                FROM p
                WHERE prev_c IS NOT NULL AND prev_c > 0 AND close > 0),
          t AS (SELECT *, lag(r) OVER
                  (PARTITION BY series, d ORDER BY bar_ts) AS r_prev
                FROM r),
          g AS (SELECT series, d, count(*) AS n_rets,
                  sum(CAST(round(r*r, 12) AS DECIMAL(28,12))) AS srr,
                  count(r_prev) AS m_pairs,
                  sum(CAST(round(abs(r)*abs(r_prev), 12) AS DECIMAL(28,12)))
                    AS sbv
                FROM t GROUP BY 1, 2)
          SELECT series, d, n_rets, m_pairs,
            CAST(round(srr, 10) AS DOUBLE) AS rv,
            round(pi() / 2 * (CAST(m_pairs AS DOUBLE)
              / (CAST(m_pairs AS DOUBLE) - 1)) * CAST(sbv AS DOUBLE), 10)
              AS bv,
            CASE WHEN CAST(srr AS DOUBLE) > 0
              THEN round(greatest(0.0, 1.0 - (pi() / 2
                * (CAST(m_pairs AS DOUBLE) / (CAST(m_pairs AS DOUBLE) - 1))
                * CAST(sbv AS DOUBLE)) / CAST(srr AS DOUBLE)), 6) END
              AS jump_frac
          FROM g WHERE m_pairs >= 2 ORDER BY series, d""",

    // momentum twin: same struct-argmax daily close, same 8dp return
    // rounding before rank/average, same (signal DESC, series) rank
    // tie-break and decimal leg sums
    "q182_xs_momentum" ->
      s"""WITH $barsCte,
          dc AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, v := close))).v AS close
                 FROM bars GROUP BY 1, 2),
          w AS (SELECT *, lag(close) OVER
                  (PARTITION BY series ORDER BY d) AS prev_close
                FROM dc),
          r AS (SELECT series, d,
                  CASE WHEN prev_close > 0
                    THEN round(close/prev_close - 1, 8) END AS dret
                FROM w),
          sg AS (SELECT *, lag(dret) OVER
                   (PARTITION BY series ORDER BY d) AS signal
                 FROM r),
          f AS (SELECT * FROM sg
                WHERE signal IS NOT NULL AND dret IS NOT NULL),
          rk AS (SELECT *, row_number() OVER
                   (PARTITION BY d ORDER BY signal DESC, series) AS rnk,
                   count(*) OVER (PARTITION BY d) AS n_series
                 FROM f),
          ps AS (SELECT *, CASE WHEN rnk <= 2 THEN 1
                   WHEN rnk > n_series - 2 THEN -1 ELSE 0 END AS pos
                 FROM rk WHERE n_series >= 4),
          g AS (SELECT d, max(n_series) AS n_series,
                  sum(CASE WHEN pos = 1
                    THEN CAST(dret AS DECIMAL(28,12)) END) AS sl,
                  sum(CASE WHEN pos = -1
                    THEN CAST(dret AS DECIMAL(28,12)) END) AS ss
                FROM ps GROUP BY 1)
          SELECT d, CAST(n_series AS BIGINT) AS n_series,
            ${ExactRound.sqlRatioRound(
              "CAST(sl*1000000000000 AS HUGEINT)",
              "2*1000000000000", 6)} AS long_ret,
            ${ExactRound.sqlRatioRound(
              "CAST(ss*1000000000000 AS HUGEINT)",
              "2*1000000000000", 6)} AS short_ret,
            ${ExactRound.sqlRatioRound(
              "CAST(sl*1000000000000 AS HUGEINT)" +
                " - CAST(ss*1000000000000 AS HUGEINT)",
              "2*1000000000000", 6)} AS ls_spread
          FROM g ORDER BY d""",

    // Ljung–Box twin: replays the q151 ACF chain verbatim, then the
    // same 12dp term rounding, decimal sum, and L(L+2) double scale
    "q183_ljung_box" -> {
      val branches = (1 to 5).map { k =>
        s"""SELECT series, $k AS k, d6 AS x, lag(d6, $k) OVER w$k AS y
            FROM dd WINDOW w$k AS (PARTITION BY series ORDER BY bar_ts)"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH $barsCte,
          d AS (SELECT series, bar_ts,
                  CAST(floor((close - lag(close) OVER
                    (PARTITION BY series ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                FROM bars),
          dd AS (SELECT * FROM d WHERE d6 IS NOT NULL),
          sh AS (
          $branches),
          g AS (SELECT series, k, count(*) AS n,
                  sum(CAST(x AS DECIMAL(38,0))) AS sx,
                  sum(CAST(y AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
                  sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
                  sum(CAST(y*y AS DECIMAL(38,0))) AS syy
                FROM sh WHERE y IS NOT NULL GROUP BY 1, 2),
          f AS (SELECT series, k, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM g),
          af AS (SELECT series, k, n,
                  CASE WHEN vx > 0 AND vy > 0
                    THEN round(num / (sqrt(vx)*sqrt(vy)), 6) END AS r_acf
                FROM f),
          lb AS (SELECT series, n + k AS l_obs, k, n, r_acf
                 FROM af WHERE r_acf IS NOT NULL),
          lg AS (SELECT series, max(l_obs) AS l_obs, count(*) AS df_used,
                   sum(CAST(round(r_acf*r_acf/n, 12) AS DECIMAL(28,12)))
                     AS sterm
                 FROM lb GROUP BY 1),
          q AS (SELECT series, l_obs, df_used,
                  round(CAST(l_obs AS DOUBLE)*(CAST(l_obs AS DOUBLE)+2)
                    *CAST(sterm AS DOUBLE), 4) AS q_stat
                FROM lg)
          SELECT series, l_obs, df_used, q_stat,
            q_stat > CASE WHEN df_used = 1 THEN 3.8415
                          WHEN df_used = 2 THEN 5.9915
                          WHEN df_used = 3 THEN 7.8147
                          WHEN df_used = 4 THEN 9.4877
                          ELSE 11.0705 END AS reject_white
          FROM q ORDER BY series"""
    },

    // backtest twin: q06's z chain, 4dp z signals, IGNORE NULLS LOCF
    // position with the 1-PRECEDING no-look-ahead frame, 8dp pnl
    // terms decimal-summed, floor-form hit rate
    "q190_pairs_backtest" ->
      s"""WITH $pairCte,
          z AS (SELECT bar_ts, spread,
                  avg(spread) OVER w AS m,
                  stddev_samp(spread) OVER w AS sd,
                  count(*) OVER w AS nw
                FROM pair
                WINDOW w AS (ORDER BY bar_ts
                  ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)),
          zz AS (SELECT bar_ts, round(spread, 6) AS spread_r,
                   round(CASE WHEN nw >= 30 AND sd IS NOT NULL AND sd <> 0
                     THEN (spread - m) / sd END, 4) AS z_r
                 FROM z),
          sg AS (SELECT *, CASE WHEN z_r <= -2.0 THEN 1
                                WHEN z_r >= 2.0 THEN -1
                                WHEN abs(z_r) < 0.5 THEN 0 END AS signal
                 FROM zz),
          ps AS (SELECT *, coalesce(last_value(signal IGNORE NULLS) OVER
                   (ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS pos
                 FROM sg),
          pp AS (SELECT *,
                   coalesce(lag(pos) OVER (ORDER BY bar_ts), 0) AS prev_pos,
                   spread_r - lag(spread_r) OVER (ORDER BY bar_ts) AS dsp
                 FROM ps),
          pn AS (SELECT *, CASE WHEN dsp IS NOT NULL
                   THEN round(pos * dsp, 8) END AS pnl
                 FROM pp),
          g AS (SELECT count(*) AS n_bars,
                  CAST(sum(CASE WHEN pos <> prev_pos AND pos <> 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
                  CAST(sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_win,
                  CAST(sum(CASE WHEN pnl < 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_loss,
                  sum(CAST(pnl AS DECIMAL(28,12))) AS sp
                FROM pn)
          SELECT 'click-view' AS pair_name, n_bars, n_trades, n_win,
            n_loss, CAST(round(sp, 6) AS DOUBLE) AS total_pnl,
            CASE WHEN n_win + n_loss > 0
              THEN floor(CAST(n_win AS DOUBLE)
                / (CAST(n_win AS DOUBLE) + CAST(n_loss AS DOUBLE))
                * 1e4 + 0.5) / 1e4 END AS hit_rate
          FROM g ORDER BY pair_name""",

    // event-study twin: same per-series row index and 8dp return
    // chain, same |r| >= cut marker rule, same decimal AAR/CAR folds
    "q194_event_study" ->
      s"""WITH $barsCte,
          rt AS (SELECT series, bar_ts,
                   row_number() OVER
                     (PARTITION BY series ORDER BY bar_ts) AS idx,
                   lag(close) OVER
                     (PARTITION BY series ORDER BY bar_ts) AS prev_c,
                   close
                 FROM bars),
          r AS (SELECT series, bar_ts, idx,
                  CASE WHEN prev_c IS NOT NULL AND prev_c > 0
                    AND close > 0 THEN round(ln(close/prev_c), 8) END AS r8
                FROM rt),
          mk AS (SELECT bar_ts AS ev_ts FROM r
                 WHERE series = 'error' AND abs(r8) >= 0.02),
          an AS (SELECT r.series AS s, r.idx AS idx0, o.off
                 FROM r JOIN mk ON r.bar_ts = mk.ev_ts,
                   (SELECT unnest(generate_series(-5, 5)) AS off) o
                 WHERE r.series <> 'error'),
          al AS (SELECT an.s AS series, an.off, r.r8
                 FROM an JOIN r
                   ON an.s = r.series AND r.idx = an.idx0 + an.off
                 WHERE r.r8 IS NOT NULL),
          aa AS (SELECT series, off, count(*) AS n_obs,
                   ${ExactRound.sqlRatioRound(
                     "CAST(sum(CAST(r8 AS DECIMAL(28,12)))" +
                       "*1000000000000 AS HUGEINT)",
                     "count(*)*1000000000000", 8)} AS aar
                 FROM al GROUP BY 1, 2)
          SELECT series, CAST(off AS INTEGER) AS off, n_obs, aar,
            round(CAST(sum(CAST(aar AS DECIMAL(28,12))) OVER
              (PARTITION BY series ORDER BY off
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE), 8) AS car
          FROM aa ORDER BY series, off""",

    // signature twin: same resample bucket math and struct-argmax
    // closes, same q92 return/decimal recipe per scale
    "q197_vol_signature" -> {
      def block(label: String, mins: Long, stepUs: Long) = {
        val src =
          if (stepUs == 300000000L) "bars"
          else s"""(SELECT series,
                 make_timestamp((epoch_us(bar_ts)//$stepUs)*$stepUs)
                   AS bar_ts,
                 (max(struct_pack(t := bar_ts, v := close))).v AS close
               FROM bars GROUP BY 1, 2)"""
        s"""SELECT series, '$label' AS scale, CAST($mins AS BIGINT)
              AS scale_min, count(*) AS n_rets,
              round(sqrt(CAST(sum(CAST(r*r AS DECIMAL(28,12)))
                AS DOUBLE)), 6) AS rv
            FROM (SELECT series, round(ln(close/prev_c), 8) AS r
                  FROM (SELECT series, close, lag(close) OVER
                          (PARTITION BY series ORDER BY bar_ts) AS prev_c
                        FROM $src)
                  WHERE prev_c IS NOT NULL AND prev_c > 0 AND close > 0)
            GROUP BY series"""
      }
      s"""WITH $barsCte
          ${Seq(block("05m", 5, 300000000L), block("15m", 15, 900000000L),
              block("30m", 30, 1800000000L), block("60m", 60, 3600000000L))
            .mkString("", "\n          UNION ALL\n          ", "")}
          ORDER BY series, scale"""
    },

    // risk-decomposition twin: generated from the SAME series list and
    // pair canonicalization as the Spark side — exact integer
    // co-moments, 10dp covariances, decimal contribution folds
    "q200_risk_decomp" -> {
      val names = Seq("click", "error", "purchase", "signup", "view").sorted
      val pivotCols = names.map(s =>
        s"max(CASE WHEN series = '$s' THEN d6 END) AS x_$s").mkString(",\n                  ")
      val notNull = names.map(s => s"x_$s IS NOT NULL").mkString(" AND ")
      val pairs = for { i <- names.indices; j <- i until names.size }
        yield (names(i), names(j))
      val sumCols = (names.map(s =>
        s"sum(CAST(x_$s AS DECIMAL(38,0))) AS s_$s") ++
        pairs.map { case (a, b) =>
          s"sum(CAST(x_$a*x_$b AS DECIMAL(38,0))) AS p_${a}_$b" })
        .mkString(",\n                  ")
      def covSql(a: String, b: String) =
        s"""round((CAST(n AS DOUBLE)*CAST(p_${a}_$b AS DOUBLE)
            - CAST(s_$a AS DOUBLE)*CAST(s_$b AS DOUBLE))
            / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1)) / 1e12, 10)"""
      val branches = names.flatMap { s =>
        names.map { t =>
          val (a, b) = if (s <= t) (s, t) else (t, s)
          s"SELECT '$s' AS series, ${covSql(a, b)} AS c FROM sm"
        }
      }.mkString("\n          UNION ALL\n          ")
      val w2 = 1.0 / (names.size.toLong * names.size)
      s"""WITH $barsCte,
          dd AS (SELECT series, bar_ts,
                   CAST(floor((close - lag(close) OVER
                     (PARTITION BY series ORDER BY bar_ts)) * 1e6 + 0.5)
                     AS BIGINT) AS d6
                 FROM bars),
          pv AS (SELECT bar_ts,
                  $pivotCols
                 FROM dd WHERE d6 IS NOT NULL GROUP BY 1),
          fv AS (SELECT * FROM pv WHERE $notNull),
          sm AS (SELECT count(*) AS n,
                  $sumCols
                 FROM fv),
          lf AS (
          $branches),
          ct AS (SELECT series,
                   CAST(sum(CAST(c AS DECIMAL(38,10))) AS DOUBLE) * $w2
                     AS contrib_raw
                 FROM lf GROUP BY 1),
          tt AS (SELECT CAST(sum(CAST(round(contrib_raw, 10)
                   AS DECIMAL(38,10))) AS DOUBLE) AS port_var
                 FROM ct)
          SELECT series, round(contrib_raw, 6) AS contribution,
            round(port_var, 6) AS port_var,
            CASE WHEN port_var > 0
              THEN round(contrib_raw / port_var, 6) END AS pct_share
          FROM ct CROSS JOIN tt ORDER BY series"""
    },

    // ANOVA twin: same 8dp return chain, same decimal group sums, same
    // SEQUENTIAL sorted list fold for the between-group term
    "q202_dow_anova" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS prev_c
                FROM bars),
          r AS (SELECT series, dayofweek(bar_ts) AS dow,
                  round(ln(close/prev_c), 8) AS r
                FROM p
                WHERE prev_c IS NOT NULL AND prev_c > 0 AND close > 0),
          g AS (SELECT series, dow, count(*) AS ng,
                  sum(CAST(r AS DECIMAL(28,12))) AS sg,
                  sum(CAST(round(r*r, 12) AS DECIMAL(28,12))) AS qg
                FROM r GROUP BY 1, 2),
          ps AS (SELECT series, count(*) AS k_groups,
                   CAST(sum(ng) AS BIGINT) AS n_obs,
                   sum(sg) AS s_all, sum(qg) AS q_all,
                   list_sort(list(struct_pack(dow := dow,
                     s := CAST(sg AS DOUBLE), n := CAST(ng AS DOUBLE))))
                     AS gs
                 FROM g GROUP BY 1),
          f0 AS (SELECT *, list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(gs, x -> x.s * x.s / x.n)),
                   (acc, t) -> acc + t) AS ssb_part
                 FROM ps),
          f1 AS (SELECT *,
                   ssb_part - CAST(s_all AS DOUBLE)*CAST(s_all AS DOUBLE)
                     /CAST(n_obs AS DOUBLE) AS ssb,
                   CAST(q_all AS DOUBLE) - CAST(s_all AS DOUBLE)
                     *CAST(s_all AS DOUBLE)/CAST(n_obs AS DOUBLE) AS sst
                 FROM f0),
          f2 AS (SELECT *, sst - ssb AS ssw FROM f1)
          SELECT series, CAST(k_groups AS BIGINT) AS k_groups, n_obs,
            CASE WHEN k_groups > 1 AND n_obs > k_groups AND ssw > 0
              THEN round((ssb / (k_groups - 1))
                / (ssw / (n_obs - k_groups)), 4) END AS f_stat,
            CASE WHEN sst > 0 THEN round(ssb / sst, 6) END AS eta2
          FROM f2 ORDER BY series""",

    // VaR/ES twin: same 8dp return chain, same quantile_cont cut
    // rounded 6dp BEFORE the tail-membership compare, decimal tail sum
    "q205_var_es" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS prev_c
                FROM bars),
          r AS (SELECT series, round(ln(close/prev_c), 8) AS r
                FROM p
                WHERE prev_c IS NOT NULL AND prev_c > 0 AND close > 0),
          q AS (SELECT series, count(*) AS n_rets,
                  round(quantile_cont(r, 0.05), 6) AS var_q
                FROM r GROUP BY 1)
          SELECT r.series, q.n_rets, q.var_q AS var_cut,
            count(*) AS n_tail,
            ${ExactRound.sqlRatioRound(
              "CAST(sum(CAST(r.r AS DECIMAL(28,12)))*1000000000000" +
                " AS HUGEINT)",
              "count(*)*1000000000000", 6)} AS es
          FROM r JOIN q ON r.series = q.series
          WHERE r.r <= q.var_q
          GROUP BY 1, 2, 3 ORDER BY r.series""",

    // ATR twin: same scaled-long TR, same 14-bar long sum, same
    // floor-form mean
    "q218_atr" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, high, low,
                  lag(close) OVER w AS pc
                FROM bars
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          t AS (SELECT series, bar_ts, close,
                  CASE WHEN pc IS NOT NULL THEN
                    CAST(floor(greatest(high - low, abs(high - pc),
                      abs(low - pc)) * 1e6 + 0.5) AS BIGINT) END AS tr6
                FROM p),
          f AS (SELECT series, bar_ts, close,
                  SUM(CASE WHEN tr6 IS NOT NULL THEN 1 ELSE 0 END)
                    OVER fr AS nt,
                  SUM(tr6) OVER fr AS st
                FROM t
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT series, bar_ts, close,
            CASE WHEN nt = 14
              THEN floor(CAST(st AS DOUBLE) / 14.0 + 0.5) / 1e6 END AS atr
          FROM f ORDER BY series, bar_ts""",

    // stochastic twin: exact window extremes, same %K scaled long,
    // %D re-averages the longs
    "q219_stochastic" ->
      s"""WITH $barsCte,
          f AS (SELECT series, bar_ts, close,
                  count(*) OVER fr AS nb,
                  min(low) OVER fr AS ll,
                  max(high) OVER fr AS hh
                FROM bars
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
          k AS (SELECT series, bar_ts, close,
                  CASE WHEN nb = 14 THEN
                    CASE WHEN hh > ll THEN
                      CAST(floor(100.0 * (close - ll) / (hh - ll) * 1e6
                        + 0.5) AS BIGINT)
                    ELSE 50000000 END END AS k6
                FROM f),
          g AS (SELECT series, bar_ts, close, k6,
                  SUM(CASE WHEN k6 IS NOT NULL THEN 1 ELSE 0 END)
                    OVER d3 AS nk,
                  SUM(k6) OVER d3 AS sk
                FROM k
                WINDOW d3 AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
          SELECT series, bar_ts, close,
            CAST(k6 AS DOUBLE) / 1e6 AS pct_k,
            CASE WHEN nk = 3
              THEN floor(CAST(sk AS DOUBLE) / 3.0 + 0.5) / 1e6 END AS pct_d
          FROM g ORDER BY series, bar_ts""",

    // overnight/intraday twin: arg_min/arg_max day collapse, same
    // scaled-long legs, same floor-form means
    "q221_overnight_intraday" ->
      s"""WITH $barsCte,
          daily AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                      arg_min(open, bar_ts) AS day_open,
                      arg_max(close, bar_ts) AS day_close
                    FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, day_open, day_close,
                  lag(day_close) OVER
                    (PARTITION BY series ORDER BY d) AS pc
                FROM daily),
          r AS (SELECT series,
                  CASE WHEN pc > 0 AND day_open > 0 THEN
                    CAST(floor((day_open / pc - 1.0) * 1e6 + 0.5)
                      AS BIGINT) END AS on6,
                  CASE WHEN day_open > 0 AND day_close > 0 THEN
                    CAST(floor((day_close / day_open - 1.0) * 1e6 + 0.5)
                      AS BIGINT) END AS in6
                FROM l)
          SELECT series, count(*) AS n_days,
            CASE WHEN SUM(CASE WHEN on6 IS NOT NULL THEN 1 ELSE 0 END) > 0
              THEN floor(CAST(SUM(on6) AS DOUBLE) /
                CAST(SUM(CASE WHEN on6 IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) + 0.5) / 1e6 END AS avg_overnight,
            CASE WHEN SUM(CASE WHEN in6 IS NOT NULL THEN 1 ELSE 0 END) > 0
              THEN floor(CAST(SUM(in6) AS DOUBLE) /
                CAST(SUM(CASE WHEN in6 IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) + 0.5) / 1e6 END AS avg_intraday
          FROM r GROUP BY 1 ORDER BY series""",

    // MACD twin: identical sequential num/den folds (list_reduce ≡
    // aggregate — the q101 bit-identity), macd 6dp-snapped before the
    // signal fold
    "q222_macd" ->
      s"""WITH $barsCte,
          f AS (SELECT series, bar_ts, close,
                  list(close) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS cs
                FROM bars),
          m AS (SELECT series, bar_ts, close,
                  CAST(floor((
                    list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                      (s, z) -> s * (1.0 - 2.0/13.0) + z * (2.0/13.0)) /
                    list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                      (s, z) -> s * (1.0 - 2.0/13.0) + (2.0/13.0)) -
                    list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                      (s, z) -> s * (1.0 - 2.0/27.0) + z * (2.0/27.0)) /
                    list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                      (s, z) -> s * (1.0 - 2.0/27.0) + (2.0/27.0))
                  ) * 1e6 + 0.5) AS BIGINT) AS m6
                FROM f),
          g AS (SELECT series, bar_ts, close, m6,
                  list(CAST(m6 AS DOUBLE) / 1e6) OVER
                    (PARTITION BY series ORDER BY bar_ts
                     ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS ms
                FROM m)
          SELECT series, bar_ts, close,
            CAST(m6 AS DOUBLE) / 1e6 AS macd,
            round(
              list_reduce(list_prepend(CAST(0 AS DOUBLE), ms),
                (s, z) -> s * (1.0 - 2.0/10.0) + z * (2.0/10.0)) /
              list_reduce(list_prepend(CAST(0 AS DOUBLE), ms),
                (s, z) -> s * (1.0 - 2.0/10.0) + (2.0/10.0)), 6)
              AS macd_signal
          FROM g ORDER BY series, bar_ts""",

    // half-life twin: same 1e-8 spread snap, same no-constant AR(1)
    // decimal sums, ln once on the same double quotient
    "q223_half_life" ->
      s"""WITH $pairCte,
          s AS (SELECT bar_ts,
                  CAST(floor(spread * 1e8 + 0.5) AS BIGINT) AS s8
                FROM pair),
          l AS (SELECT s8, lag(s8) OVER (ORDER BY bar_ts) AS sl FROM s),
          d AS (SELECT sl, s8 - sl AS ds FROM l WHERE sl IS NOT NULL),
          m AS (SELECT count(*) AS n_obs,
                  SUM(CAST(sl * sl AS DECIMAL(38,0))) AS sll,
                  SUM(CAST(sl * ds AS DECIMAL(38,0))) AS sld
                FROM d)
          SELECT 'click-view' AS pair_name, n_obs,
            round(CASE WHEN sll > 0
              THEN CAST(sld AS DOUBLE) / CAST(sll AS DOUBLE) END, 6)
              AS phi,
            CASE WHEN sll > 0
              AND CAST(sld AS DOUBLE) / CAST(sll AS DOUBLE) > -1.0
              AND CAST(sld AS DOUBLE) / CAST(sll AS DOUBLE) < 0.0
              THEN round(-ln(2.0) /
                ln(1.0 + CAST(sld AS DOUBLE) / CAST(sll AS DOUBLE)), 4)
              END AS half_life_bars
          FROM m ORDER BY pair_name""",

    // aroon twin: same struct argmax position (max = most recent
    // equal high, min = earliest equal low), same 4dp floor quotient
    "q230_aroon" ->
      s"""WITH $barsCte,
          s AS (SELECT series, bar_ts, close,
                  CAST(floor(high*1e6 + 0.5) AS BIGINT) AS h6,
                  CAST(floor(low*1e6 + 0.5) AS BIGINT) AS l6,
                  CAST(row_number() OVER w AS INTEGER) AS seq
                FROM bars
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          f AS (SELECT series, bar_ts, close, seq,
                  count(*) OVER fr AS nb,
                  (max(struct_pack(p := h6, s := seq)) OVER fr).s AS hseq,
                  (min(struct_pack(p := l6, s := seq)) OVER fr).s AS lseq
                FROM s
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT series, bar_ts, close,
            CASE WHEN nb = 14 THEN
              floor(100.0 * (14.0 - CAST(seq - hseq AS DOUBLE)) / 14.0
                * 1e4 + 0.5) / 1e4 END AS aroon_up,
            CASE WHEN nb = 14 THEN
              floor(100.0 * (14.0 - CAST(seq - lseq AS DOUBLE)) / 14.0
                * 1e4 + 0.5) / 1e4 END AS aroon_down
          FROM f ORDER BY series, bar_ts""",

    // MFI twin: same scaled-long direction + flow, same floor-form
    // quotient with the 50 midpoint on a zero-flow window
    "q231_mfi" ->
      s"""WITH $barsCte,
          t AS (SELECT series, bar_ts, close, volume,
                  (high + low + close)/3.0 AS tp
                FROM bars),
          d AS (SELECT series, bar_ts, close,
                  CAST(floor(tp*1e6 + 0.5) AS BIGINT)
                    - lag(CAST(floor(tp*1e6 + 0.5) AS BIGINT)) OVER w
                    AS dtp,
                  CAST(floor(tp*volume*1e4 + 0.5) AS BIGINT) AS flow4
                FROM t
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          f AS (SELECT series, bar_ts, close,
                  SUM(CASE WHEN dtp IS NOT NULL THEN 1 ELSE 0 END)
                    OVER fr AS nd,
                  SUM(CASE WHEN dtp > 0 THEN flow4 ELSE 0 END)
                    OVER fr AS pf,
                  SUM(CASE WHEN dtp < 0 THEN flow4 ELSE 0 END)
                    OVER fr AS nf
                FROM d
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT series, bar_ts, close,
            CASE WHEN nd = 14 THEN
              CASE WHEN pf + nf > 0
                THEN floor(100.0 * CAST(pf AS DOUBLE)
                  / CAST(pf + nf AS DOUBLE) * 1e6 + 0.5) / 1e6
                ELSE 50.0 END END AS mfi
          FROM f ORDER BY series, bar_ts""",

    // CMF twin: same scaled-long mfm·vol and vol terms, same 6dp
    // floor quotient
    "q232_cmf" ->
      s"""WITH $barsCte,
          t AS (SELECT series, bar_ts, close,
                  CAST(floor((CASE WHEN high > low
                    THEN ((close - low) - (high - close))/(high - low)
                    ELSE 0.0 END) * volume * 1e4 + 0.5) AS BIGINT)
                    AS mfv4,
                  CAST(floor(volume*1e4 + 0.5) AS BIGINT) AS vol4
                FROM bars),
          f AS (SELECT series, bar_ts, close,
                  count(*) OVER fr AS nb,
                  SUM(mfv4) OVER fr AS smf,
                  SUM(vol4) OVER fr AS svol
                FROM t
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          SELECT series, bar_ts, close,
            CASE WHEN nb = 20 AND svol > 0
              THEN floor(CAST(smf AS DOUBLE) / CAST(svol AS DOUBLE)
                * 1e6 + 0.5) / 1e6 END AS cmf
          FROM f ORDER BY series, bar_ts""",

    // bollinger twin: same decimal window moments, same double op
    // order for mean/population-variance (the q139 discipline)
    "q233_bollinger" ->
      s"""WITH $barsCte,
          s AS (SELECT series, bar_ts, close,
                  CAST(floor(close*1e6 + 0.5) AS BIGINT) AS c6
                FROM bars),
          f AS (SELECT series, bar_ts, close,
                  count(*) OVER fr AS nb,
                  SUM(CAST(c6 AS DECIMAL(38,0))) OVER fr AS s1,
                  SUM(CAST(c6*c6 AS DECIMAL(38,0))) OVER fr AS s2
                FROM s
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
          m AS (SELECT series, bar_ts, close, nb,
                  CAST(s1 AS DOUBLE)/CAST(nb AS DOUBLE)/1e6 AS mid,
                  sqrt((CAST(nb AS DOUBLE)*CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    /(CAST(nb AS DOUBLE)*CAST(nb AS DOUBLE)))/1e6 AS sd
                FROM f WHERE nb = 20)
          SELECT series, bar_ts, close,
            round(mid, 6) AS bb_mid,
            round(mid + 2.0*sd, 6) AS bb_upper,
            round(mid - 2.0*sd, 6) AS bb_lower,
            CASE WHEN sd > 0
              THEN round((close - (mid - 2.0*sd))/(4.0*sd), 6)
              END AS pct_b
          FROM m ORDER BY series, bar_ts""",

    // dwell twin: same (ts, event_id) tie rule, exact µs gaps, same
    // floor-form mean and quantile_cont median
    "q237_transition_dwell" ->
      """WITH p AS (SELECT user_id, event_type, event_id,
                      epoch_us(ts) AS us,
                      lag(event_type) OVER w AS prev_type,
                      lag(epoch_us(ts)) OVER w AS prev_us
                    FROM events
                    WINDOW w AS (PARTITION BY user_id
                      ORDER BY ts, event_id)),
          g AS (SELECT prev_type, event_type AS next_type,
                  us - prev_us AS dt_us
                FROM p WHERE prev_type IS NOT NULL)
          SELECT prev_type, next_type, count(*) AS n,
            CAST(floor(CAST(SUM(dt_us) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS mean_dt_us,
            round(quantile_cont(dt_us, 0.5), 4) AS p50_dt_us
          FROM g GROUP BY 1, 2 ORDER BY prev_type, next_type""",

    // donchian twin: prior-frame channel (current row excluded), all
    // compares on scaled longs
    "q240_donchian" ->
      s"""WITH $barsCte,
          s AS (SELECT series, bar_ts,
                  CAST(floor(close*1e6 + 0.5) AS BIGINT) AS c6,
                  CAST(floor(high*1e6 + 0.5) AS BIGINT) AS h6,
                  CAST(floor(low*1e6 + 0.5) AS BIGINT) AS l6
                FROM bars),
          f AS (SELECT series, bar_ts, c6,
                  count(*) OVER fr AS nb,
                  max(h6) OVER fr AS ch,
                  min(l6) OVER fr AS cl
                FROM s
                WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                  ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
          g AS (SELECT series, bar_ts,
                  nb = 20 AND c6 > ch AS up,
                  nb = 20 AND c6 < cl AS dn
                FROM f)
          SELECT series,
            CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
            CAST(SUM(CASE WHEN dn THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
            max(CASE WHEN up THEN bar_ts END) AS last_up_ts,
            max(CASE WHEN dn THEN bar_ts END) AS last_down_ts
          FROM g GROUP BY 1 ORDER BY series""",

    // vol-cone twin: same 1e-8 return snap, same q139 sigma op order
    // rounded 8dp BEFORE the distribution pass, quantile_cont median
    "q241_vol_cone" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc) * 1e8 + 0.5) AS BIGINT) AS r8
                FROM p WHERE pc IS NOT NULL AND pc > 0),
          v AS (
            SELECT series, h, vol FROM (
              SELECT series, 6 AS h,
                count(*) OVER fr AS nb,
                round(sqrt((CAST(count(*) OVER fr AS DOUBLE)
                  * CAST(SUM(CAST(r8*r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE)
                  - CAST(SUM(CAST(r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE)
                  * CAST(SUM(CAST(r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE))
                  / (CAST(count(*) OVER fr AS DOUBLE)
                    * CAST(count(*) OVER fr AS DOUBLE))) / 1e8, 8) AS vol
              FROM r
              WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) WHERE nb = 6
            UNION ALL
            SELECT series, h, vol FROM (
              SELECT series, 12 AS h,
                count(*) OVER fr AS nb,
                round(sqrt((CAST(count(*) OVER fr AS DOUBLE)
                  * CAST(SUM(CAST(r8*r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE)
                  - CAST(SUM(CAST(r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE)
                  * CAST(SUM(CAST(r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE))
                  / (CAST(count(*) OVER fr AS DOUBLE)
                    * CAST(count(*) OVER fr AS DOUBLE))) / 1e8, 8) AS vol
              FROM r
              WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)) WHERE nb = 12
            UNION ALL
            SELECT series, h, vol FROM (
              SELECT series, 24 AS h,
                count(*) OVER fr AS nb,
                round(sqrt((CAST(count(*) OVER fr AS DOUBLE)
                  * CAST(SUM(CAST(r8*r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE)
                  - CAST(SUM(CAST(r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE)
                  * CAST(SUM(CAST(r8 AS DECIMAL(38,0))) OVER fr AS DOUBLE))
                  / (CAST(count(*) OVER fr AS DOUBLE)
                    * CAST(count(*) OVER fr AS DOUBLE))) / 1e8, 8) AS vol
              FROM r
              WINDOW fr AS (PARTITION BY series ORDER BY bar_ts
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) WHERE nb = 24)
          SELECT series, CAST(h AS INTEGER) AS horizon,
            count(*) AS n_obs,
            round(min(vol), 8) AS vol_min,
            floor(quantile_cont(vol, 0.5) * 1e8 + 0.5) / 1e8 AS vol_p50,
            round(max(vol), 8) AS vol_max
          FROM v GROUP BY 1, 2 ORDER BY series, horizon""",

    // streak twin: same sign/break/prefix-sum islands, floor-form
    // 2dp mean
    "q247_streak_stats" ->
      s"""WITH $barsCte,
          d AS (SELECT series, bar_ts,
                  CAST(floor((close - lag(close) OVER w) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                FROM bars
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          s AS (SELECT series, bar_ts,
                  CASE WHEN d6 > 0 THEN 'up' WHEN d6 < 0 THEN 'down'
                    ELSE 'flat' END AS dir
                FROM d WHERE d6 IS NOT NULL),
          b AS (SELECT series, bar_ts, dir,
                  CASE WHEN lag(dir) OVER w IS NULL
                    OR dir <> lag(dir) OVER w THEN 1 ELSE 0 END AS brk
                FROM s
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          g AS (SELECT series, bar_ts, dir,
                  SUM(brk) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS grp
                FROM b),
          runs AS (SELECT series, dir, grp, count(*) AS len
                   FROM g GROUP BY 1, 2, 3)
          SELECT series, dir, count(*) AS n_runs,
            CAST(max(len) AS BIGINT) AS max_len,
            CAST(SUM(len) AS BIGINT) AS n_bars,
            floor(CAST(SUM(len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              * 100.0 + 0.5) / 100.0 AS mean_len
          FROM runs GROUP BY 1, 2 ORDER BY series, dir""",

    // ARCH twin: same 1e-8 squared-return snap, q122 correlation op
    // order, rounded-r significance fence
    "q248_arch_effect" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc) * ln(close/pc) * 1e8 + 0.5)
                    AS BIGINT) AS sq8
                FROM p WHERE pc IS NOT NULL AND pc > 0),
          l AS (
            SELECT series, 1 AS k, sq8 AS x,
              lag(sq8, 1) OVER wl1 AS y FROM r
              WINDOW wl1 AS (PARTITION BY series ORDER BY bar_ts)
            UNION ALL
            SELECT series, 2, sq8,
              lag(sq8, 2) OVER wl2 FROM r
              WINDOW wl2 AS (PARTITION BY series ORDER BY bar_ts)
            UNION ALL
            SELECT series, 3, sq8,
              lag(sq8, 3) OVER wl3 FROM r
              WINDOW wl3 AS (PARTITION BY series ORDER BY bar_ts)),
          m AS (SELECT series, k, count(*) AS n,
                  SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                  SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                  SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                    AS sxy,
                  SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                    AS sxx,
                  SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                    AS syy
                FROM l WHERE y IS NOT NULL GROUP BY 1, 2),
          c AS (SELECT series, CAST(k AS INTEGER) AS k, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM m)
          SELECT series, k, n,
            CASE WHEN vx > 0 AND vy > 0
              THEN round(num / (sqrt(vx)*sqrt(vy)), 6) END AS r_sq_acf,
            CASE WHEN vx > 0 AND vy > 0
              THEN round(num / (sqrt(vx)*sqrt(vy)), 6)
                > 1.96 / sqrt(CAST(n AS DOUBLE)) END AS arch_flag
          FROM c ORDER BY series, k""",

    // horizon-moment twin: exact long h-bar sums, standardize from
    // the exact (n, Σx, Σx²) pass, 12dp decimal z-power sums
    "q250_horizon_moments" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc) * 1e8 + 0.5) AS BIGINT) AS r8
                FROM p WHERE pc IS NOT NULL AND pc > 0),
          xs AS (
            SELECT series, 1 AS h, r8 AS rh8 FROM r
            UNION ALL
            SELECT series, 6, rh8 FROM (
              SELECT series, count(*) OVER fr6 AS nb,
                SUM(r8) OVER fr6 AS rh8
              FROM r
              WINDOW fr6 AS (PARTITION BY series ORDER BY bar_ts
                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) WHERE nb = 6
            UNION ALL
            SELECT series, 24, rh8 FROM (
              SELECT series, count(*) OVER fr24 AS nb,
                SUM(r8) OVER fr24 AS rh8
              FROM r
              WINDOW fr24 AS (PARTITION BY series ORDER BY bar_ts
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) WHERE nb = 24),
          st AS (SELECT series, h, count(*) AS n,
                  SUM(CAST(rh8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(rh8 AS DECIMAL(38,0))
                    * CAST(rh8 AS DECIMAL(38,0))) AS s2
                FROM xs GROUP BY 1, 2),
          sm AS (SELECT series, h, n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu8,
                  (CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) AS var8
                FROM st),
          sm2 AS (SELECT *, sqrt(var8) AS sd8 FROM sm),
          zt AS (SELECT xs.series, xs.h, sm2.n, sm2.mu8, sm2.var8,
                   sm2.sd8,
                   CASE WHEN sm2.sd8 > 0 THEN
                     CAST(round(
                       ((CAST(rh8 AS DOUBLE) - mu8)/sd8)
                       * ((CAST(rh8 AS DOUBLE) - mu8)/sd8)
                       * ((CAST(rh8 AS DOUBLE) - mu8)/sd8), 12)
                       AS DECIMAL(38,12)) END AS z3,
                   CASE WHEN sm2.sd8 > 0 THEN
                     CAST(round(
                       ((CAST(rh8 AS DOUBLE) - mu8)/sd8)
                       * ((CAST(rh8 AS DOUBLE) - mu8)/sd8)
                       * ((CAST(rh8 AS DOUBLE) - mu8)/sd8)
                       * ((CAST(rh8 AS DOUBLE) - mu8)/sd8), 12)
                       AS DECIMAL(38,12)) END AS z4
                 FROM xs JOIN sm2 USING (series, h))
          SELECT series, CAST(h AS INTEGER) AS horizon,
            CAST(max(n) AS BIGINT) AS n,
            round(max(mu8) / 1e4, 6) AS mean_bps,
            round(max(var8) / 1e8, 6) AS var_bps,
            CASE WHEN max(sd8) > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(SUM(z3)*1000000000000 AS HUGEINT)",
                "max(n)*1000000000000", 6)}
              END AS skewness,
            CASE WHEN max(sd8) > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(SUM(z4)*1000000000000 AS HUGEINT)" +
                  " - max(n)*CAST(3000000000000 AS HUGEINT)",
                "max(n)*1000000000000", 6)} END AS kurtosis
          FROM zt GROUP BY 1, 2 ORDER BY series, horizon""",

    // hourly-vol twin: same return snap, q139 sigma op order
    "q253_hourly_vol" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc) * 1e8 + 0.5) AS BIGINT) AS r8
                FROM p WHERE pc IS NOT NULL AND pc > 0)
          SELECT series, CAST(hour(bar_ts) AS INTEGER) AS hod,
            count(*) AS n,
            round(sqrt((CAST(count(*) AS DOUBLE)
              * CAST(SUM(CAST(r8 AS DECIMAL(38,0))
                * CAST(r8 AS DECIMAL(38,0))) AS DOUBLE)
              - CAST(SUM(CAST(r8 AS DECIMAL(38,0))) AS DOUBLE)
              * CAST(SUM(CAST(r8 AS DECIMAL(38,0))) AS DOUBLE))
              / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)))
              / 1e8, 8) AS vol
          FROM r GROUP BY 1, 2 HAVING count(*) > 1
          ORDER BY series, hod""",

    // tail-clustering twin: same broadcast sigma, same integer
    // islands over the exceedance flags
    "q254_tail_clustering" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc) * 1e8 + 0.5) AS BIGINT) AS r8
                FROM p WHERE pc IS NOT NULL AND pc > 0),
          sg AS (SELECT series, count(*) AS n_rets,
                   sqrt((CAST(count(*) AS DOUBLE)
                     * CAST(SUM(CAST(r8 AS DECIMAL(38,0))
                       * CAST(r8 AS DECIMAL(38,0))) AS DOUBLE)
                     - CAST(SUM(CAST(r8 AS DECIMAL(38,0))) AS DOUBLE)
                     * CAST(SUM(CAST(r8 AS DECIMAL(38,0))) AS DOUBLE))
                     / (CAST(count(*) AS DOUBLE)
                       * CAST(count(*) AS DOUBLE))) AS sd8
                 FROM r GROUP BY 1),
          f AS (SELECT r.series, r.bar_ts, sg.n_rets,
                  abs(CAST(r8 AS DOUBLE)) > 3.0 * sg.sd8 AS is_tail
                FROM r JOIN sg ON r.series = sg.series),
          b AS (SELECT series, bar_ts, n_rets, is_tail,
                  CASE WHEN lag(is_tail) OVER w IS NULL
                    OR is_tail <> lag(is_tail) OVER w THEN 1 ELSE 0 END
                    AS brk
                FROM f
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          g AS (SELECT series, bar_ts, n_rets, is_tail,
                  SUM(brk) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS grp
                FROM b),
          runs AS (SELECT series, n_rets, grp, count(*) AS len
                   FROM g WHERE is_tail GROUP BY 1, 2, 3)
          SELECT series, n_rets,
            CAST(SUM(len) AS BIGINT) AS n_tail,
            CAST(max(len) AS BIGINT) AS max_run,
            ${ExactRound.sqlRatioRound("SUM(len)", "n_rets", 6)}
              AS tail_share
          FROM runs GROUP BY 1, 2 ORDER BY series""",

    // lead-lag twin: same aligned snap, five lag legs, q122 op order,
    // argmax on the rounded |r|
    "q259_lead_lag_matrix" ->
      s"""WITH $barsCte,
          s AS (SELECT series, bar_ts,
                  CAST(floor(close*1e6 + 0.5) AS BIGINT) AS c6
                FROM bars),
          al AS (SELECT a.series AS sa, b.series AS sb, a.bar_ts,
                   a.c6 AS x6, b.c6 AS y6
                 FROM s a JOIN s b ON a.bar_ts = b.bar_ts
                   AND a.series < b.series),
          l AS (
            SELECT sa, sb, -2 AS k, x6 AS x,
              lead(y6, 2) OVER wn2 AS y FROM al
              WINDOW wn2 AS (PARTITION BY sa, sb ORDER BY bar_ts)
            UNION ALL
            SELECT sa, sb, -1, x6, lead(y6, 1) OVER wn1 FROM al
              WINDOW wn1 AS (PARTITION BY sa, sb ORDER BY bar_ts)
            UNION ALL
            SELECT sa, sb, 0, x6, y6 FROM al
            UNION ALL
            SELECT sa, sb, 1, x6, lag(y6, 1) OVER wp1 FROM al
              WINDOW wp1 AS (PARTITION BY sa, sb ORDER BY bar_ts)
            UNION ALL
            SELECT sa, sb, 2, x6, lag(y6, 2) OVER wp2 FROM al
              WINDOW wp2 AS (PARTITION BY sa, sb ORDER BY bar_ts)),
          m AS (SELECT sa, sb, k, count(*) AS n,
                  SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                  SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                  SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                    AS sxy,
                  SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                    AS sxx,
                  SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                    AS syy
                FROM l WHERE y IS NOT NULL GROUP BY 1, 2, 3),
          c AS (SELECT sa, sb, k, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM m),
          r AS (SELECT sa, sb, k, n,
                  CASE WHEN vx > 0 AND vy > 0
                    THEN round(num/(sqrt(vx)*sqrt(vy)), 6) END AS r
                FROM c),
          p AS (SELECT *, row_number() OVER
                  (PARTITION BY sa, sb ORDER BY abs(r) DESC, k) AS rn
                FROM r WHERE r IS NOT NULL)
          SELECT sa, sb, CAST(k AS INTEGER) AS best_k, n, r AS r_best
          FROM p WHERE rn = 1 ORDER BY sa, sb""",

    // VaR-backtest twin: same row_number split (integer half), q205
    // rounding convention, identical ln() arguments in the LR
    "q270_var_backtest" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          t0 AS (SELECT series, bar_ts, round(ln(close/pc), 8) AS r
                 FROM p WHERE pc IS NOT NULL AND pc > 0),
          t AS (SELECT series, bar_ts, r,
                  row_number() OVER w AS rn,
                  count(*) OVER (PARTITION BY series) AS n_all
                FROM t0
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          s AS (SELECT series, bar_ts, r,
                  rn <= n_all // 2 AS is_cal FROM t),
          cut AS (SELECT series, count(*) AS n_cal,
                    round(quantile_cont(r, 0.05), 6) AS var_cut
                  FROM s WHERE is_cal GROUP BY 1),
          tst AS (SELECT s.series, cut.n_cal, cut.var_cut,
                    count(*) AS n_test,
                    CAST(SUM(CASE WHEN r <= var_cut THEN 1 ELSE 0 END)
                      AS BIGINT) AS x
                  FROM s JOIN cut ON s.series = cut.series
                  WHERE NOT is_cal GROUP BY 1, 2, 3)
          SELECT series, CAST(n_cal AS BIGINT) AS n_cal,
            n_test, var_cut, x AS n_viol,
            round(CAST(x AS DOUBLE)/CAST(n_test AS DOUBLE), 6)
              AS viol_rate,
            round(-2.0 * (
              (CAST(n_test AS DOUBLE) - CAST(x AS DOUBLE)) * ln(0.95)
              + CAST(x AS DOUBLE) * ln(0.05)
              - CASE WHEN x = n_test THEN 0.0 ELSE
                  (CAST(n_test AS DOUBLE) - CAST(x AS DOUBLE))
                  * ln(1.0 - CAST(x AS DOUBLE)/CAST(n_test AS DOUBLE))
                  END
              - CASE WHEN x = 0 THEN 0.0 ELSE
                  CAST(x AS DOUBLE)
                  * ln(CAST(x AS DOUBLE)/CAST(n_test AS DOUBLE)) END),
              4) AS kupiec_lr,
            round(-2.0 * (
              (CAST(n_test AS DOUBLE) - CAST(x AS DOUBLE)) * ln(0.95)
              + CAST(x AS DOUBLE) * ln(0.05)
              - CASE WHEN x = n_test THEN 0.0 ELSE
                  (CAST(n_test AS DOUBLE) - CAST(x AS DOUBLE))
                  * ln(1.0 - CAST(x AS DOUBLE)/CAST(n_test AS DOUBLE))
                  END
              - CASE WHEN x = 0 THEN 0.0 ELSE
                  CAST(x AS DOUBLE)
                  * ln(CAST(x AS DOUBLE)/CAST(n_test AS DOUBLE)) END),
              4) > 3.8415 AS reject_calibration
          FROM tst ORDER BY series""",

    // arrival-dispersion twin: same observed-hour counts, q235
    // formula on exact integers
    "q265_arrival_dispersion" ->
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS h,
                      count(*) AS c
                    FROM events GROUP BY 1, 2)
          SELECT event_type, count(*) AS n_hours,
            CAST(SUM(c) AS BIGINT) AS total,
            ${ExactRound.sqlRatioRound(
              "count(*)*CAST(SUM(CAST(c*c AS DECIMAL(38,0)))" +
                " AS HUGEINT) - CAST(SUM(c) AS HUGEINT)" +
                "*CAST(SUM(c) AS HUGEINT)",
              "count(*)*CAST(SUM(c) AS HUGEINT)", 6)}
              AS dispersion
          FROM h GROUP BY 1 ORDER BY event_type""",

    // turning-points twin: strict extrema on 6dp scaled-long closes,
    // integer census, one shared-order double z formula
    "q277_turning_points" ->
      s"""WITH $barsCte,
          x AS (SELECT series, bar_ts,
                  CAST(floor(close*1e6 + 0.5) AS BIGINT) AS x6
                FROM bars),
          l AS (SELECT series, x6,
                  lag(x6) OVER w AS pv, lead(x6) OVER w AS nx
                FROM x
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          g AS (SELECT series, count(*) AS n_bars,
                  CAST(SUM(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
                    AND ((pv < x6 AND x6 > nx) OR (pv > x6 AND x6 < nx))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
                FROM l GROUP BY 1),
          f AS (SELECT *,
                  2.0 * (CAST(n_bars AS DOUBLE) - 2.0) / 3.0 AS mu,
                  (16.0 * CAST(n_bars AS DOUBLE) - 29.0) / 90.0 AS v
                FROM g)
          SELECT series, n_bars, n_turning,
            round(mu, 6) AS exp_turning,
            CASE WHEN v > 0 THEN
              round((CAST(n_turning AS DOUBLE) - mu) / sqrt(v), 6) END
              AS z
          FROM f ORDER BY series""",

    // G-test + BH twin: integer bin counts, 12dp DECIMAL term fold,
    // exact chi-square(2df) survival p = exp(-LR/2), rounded-8
    // boundary compare
    "q278_gtest_fdr" ->
      s"""WITH b AS (SELECT event_type,
                      CAST(hour(ts) AS INTEGER) // 8 AS bin,
                      count(*) AS o
                    FROM events GROUP BY 1, 2),
          t AS (SELECT event_type, o, SUM(o) OVER
                  (PARTITION BY event_type) AS n FROM b),
          g AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                  CAST(round(SUM(CAST(round(CAST(o AS DOUBLE)
                    * ln(3.0 * CAST(o AS DOUBLE) / CAST(n AS DOUBLE)),
                    12) AS DECIMAL(38,12)))*2, 6) AS DOUBLE) AS lr
                FROM t GROUP BY 1),
          p AS (SELECT event_type, n, lr,
                  round(exp(-lr/2), 8) AS p FROM g),
          r AS (SELECT *, CAST(row_number() OVER
                    (ORDER BY p, event_type) AS INTEGER) AS rank,
                  count(*) OVER () AS m FROM p),
          c AS (SELECT *, ${ExactRound.sqlRatioRound(
                  "5000000*rank", "100000000*m", 8)} AS crit FROM r),
          k AS (SELECT *, max(CASE WHEN p <= crit THEN rank END)
                  OVER () AS kk FROM c)
          SELECT event_type, n, lr, p, rank, crit,
            (kk IS NOT NULL AND rank <= kk) AS bh_reject
          FROM k ORDER BY event_type""",

    // PSI twin: shared equal-width bin formula off exact min/max,
    // explicit full grid (empty bins count under Laplace), 12dp
    // DECIMAL term fold; both legs are SYMMETRIC CASE-WHEN-1-ELSE-0
    // so a NULL ts lands in NEITHER leg, matching the Scala
    // when(slice/!slice, 1).otherwise(0) null semantics
    "q279_psi_drift" ->
      s"""WITH rg AS (SELECT event_type, min(value) AS mn,
                       max(value) AS mx,
                       CAST(SUM(CASE WHEN ts < TIMESTAMP
                         '2024-01-15 00:00:00' THEN 1 ELSE 0 END)
                         AS BIGINT) AS na,
                       CAST(SUM(CASE WHEN ts >= TIMESTAMP
                         '2024-01-15 00:00:00' THEN 1 ELSE 0 END)
                         AS BIGINT) AS nbt
                     FROM events GROUP BY 1),
          cnt AS (SELECT e.event_type,
                    CASE WHEN mx > mn THEN LEAST(9,
                      CAST(floor((value - mn) * 10.0 / (mx - mn))
                        AS INTEGER)) ELSE 0 END AS bin,
                    CAST(SUM(CASE WHEN ts < TIMESTAMP
                      '2024-01-15 00:00:00' THEN 1 ELSE 0 END)
                      AS BIGINT) AS ca,
                    CAST(SUM(CASE WHEN ts >= TIMESTAMP
                      '2024-01-15 00:00:00' THEN 1 ELSE 0 END)
                      AS BIGINT) AS cb
                  FROM events e JOIN rg ON e.event_type = rg.event_type
                  GROUP BY 1, 2),
          grid AS (SELECT event_type, na, nbt, CAST(i AS INTEGER) AS bin
                   FROM rg, unnest(generate_series(0, 9)) AS g(i)),
          t AS (SELECT g.event_type, g.na, g.nbt,
                  (CAST(COALESCE(ca, 0) AS DOUBLE) + 1.0)
                    / (CAST(na AS DOUBLE) + 10.0) AS pa,
                  (CAST(COALESCE(cb, 0) AS DOUBLE) + 1.0)
                    / (CAST(nbt AS DOUBLE) + 10.0) AS pb
                FROM grid g LEFT JOIN cnt
                  ON g.event_type = cnt.event_type AND g.bin = cnt.bin),
          f AS (SELECT event_type, na, nbt,
                  CAST(round(SUM(CAST(round((pa - pb) * ln(pa/pb), 12)
                    AS DECIMAL(38,12))), 6) AS DOUBLE) AS psi
                FROM t GROUP BY 1, 2, 3)
          SELECT event_type, na, nbt AS nb, psi, psi > 0.2 AS drifted
          FROM f ORDER BY event_type""",

    // entropy-rate twin: integer transition cells off the same
    // (user, ts, event_id) order, MI-style 12dp DECIMAL fold
    "q282_entropy_rate" ->
      """WITH tr AS (SELECT user_id, event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_type
                     FROM events),
          cells AS (SELECT prev_type, event_type, count(*) AS cij
                    FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
          rws AS (SELECT prev_type, CAST(SUM(cij) AS BIGINT) AS ci
                  FROM cells GROUP BY 1),
          tot AS (SELECT CAST(SUM(cij) AS BIGINT) AS n,
                    CAST(count(DISTINCT prev_type) AS BIGINT) AS n_states
                  FROM cells),
          s AS (SELECT -SUM(CAST(round(CAST(cij AS DOUBLE)
                    / CAST(n AS DOUBLE)
                    * ln(CAST(cij AS DOUBLE) / CAST(ci AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS h_d
                FROM cells JOIN rws USING (prev_type) CROSS JOIN tot)
          SELECT n AS n_transitions, n_states,
            CAST(round(h_d, 6) AS DOUBLE) AS entropy_rate,
            round(ln(CAST(n_states AS DOUBLE)), 6) AS max_rate,
            CASE WHEN n_states > 1 THEN round(CAST(h_d AS DOUBLE)
              / ln(CAST(n_states AS DOUBLE)), 6) END AS efficiency
          FROM s, tot
          WHERE n IS NOT NULL""",

    // PPCC twin: integer-µs gaps, adjacent-quantile tie pairing,
    // q248 shared-order correlation formula
    "q291_expfit_ppcc" ->
      """WITH g AS (SELECT event_type, epoch_us(ts)
                  - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                      ORDER BY ts, event_id) AS dt
                FROM events),
          r AS (SELECT event_type, dt,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY dt) AS i,
                  count(*) OVER (PARTITION BY event_type) AS n
                FROM g WHERE dt IS NOT NULL),
          q AS (SELECT event_type, dt, n,
                  -ln(1.0 - (CAST(i AS DOUBLE) - 0.5)
                    / CAST(n AS DOUBLE)) AS theo
                FROM r),
          m AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                  SUM(CAST(dt AS DECIMAL(38,0))) AS sx,
                  SUM(CAST(dt AS DECIMAL(38,0))
                    * CAST(dt AS DECIMAL(38,0))) AS sxx,
                  SUM(CAST(round(theo, 12) AS DECIMAL(38,12))) AS sy,
                  SUM(CAST(round(theo * theo, 12)
                    AS DECIMAL(38,12))) AS syy,
                  SUM(CAST(round(CAST(dt AS DOUBLE) * theo, 12)
                    AS DECIMAL(38,12))) AS sxy
                FROM q GROUP BY 1),
          c AS (SELECT event_type, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM m)
          SELECT event_type, n,
            CASE WHEN vx > 0 AND vy > 0 THEN
              round(num / (sqrt(vx) * sqrt(vy)), 6) END AS ppcc,
            CASE WHEN vx > 0 AND vy > 0 THEN
              round(num / (sqrt(vx) * sqrt(vy)), 6) > 0.95
              END AS expfit_ok
          FROM c ORDER BY event_type""",

    // mean-excess twin: q90 scaled-long |returns| as exact doubles,
    // rounded-8 threshold before the strict compare, 12dp fold
    "q292_mean_excess" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series,
                  abs(CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT))
                    / 1e8 AS x
                FROM p WHERE pc IS NOT NULL AND pc > 0),
          cu AS (SELECT series, count(*) AS n_rets,
                   round(quantile_cont(x, 0.95), 8) AS u
                 FROM r GROUP BY 1),
          e AS (SELECT r.series, n_rets, u,
                  CAST(round(x - u, 12) AS DECIMAL(38,12)) AS ex
                FROM r JOIN cu ON r.series = cu.series
                WHERE x > u)
          SELECT series, n_rets, u, count(*) AS n_exceed,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(ex)*1000000000000 AS HUGEINT)",
              "count(*)*1000000000000", 6)} AS mean_excess
          FROM e GROUP BY 1, 2, 3 ORDER BY series""",

    // up/down-beta twin: q90 scaled-long returns, q248 decimal
    // moment fold, one shared-order beta formula per regime
    "q288_updown_beta" ->
      s"""WITH $barsCte,
          p AS (SELECT series, bar_ts, close, lag(close) OVER
                  (PARTITION BY series ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM p WHERE pc IS NOT NULL AND pc > 0),
          m AS (SELECT bar_ts, r8 AS m8 FROM r WHERE series = 'click'),
          j AS (SELECT r.series, r.r8, m.m8,
                  CASE WHEN m.m8 > 0 THEN 'up' ELSE 'down' END AS regime
                FROM r JOIN m USING (bar_ts)
                WHERE r.series <> 'click' AND m.m8 <> 0),
          g AS (SELECT series, regime, count(*) AS n,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS sx,
                  SUM(CAST(m8 AS DECIMAL(38,0))) AS sm,
                  SUM(CAST(r8 AS DECIMAL(38,0))
                    * CAST(m8 AS DECIMAL(38,0))) AS sxm,
                  SUM(CAST(m8 AS DECIMAL(38,0))
                    * CAST(m8 AS DECIMAL(38,0))) AS smm
                FROM j GROUP BY 1, 2),
          f AS (SELECT series, regime, n,
                  CAST(n AS DOUBLE)*CAST(smm AS DOUBLE)
                    - CAST(sm AS DOUBLE)*CAST(sm AS DOUBLE) AS den,
                  CAST(n AS DOUBLE)*CAST(sxm AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sm AS DOUBLE) AS num
                FROM g)
          SELECT series, regime, n,
            CASE WHEN den > 0 THEN round(num / den, 6) END AS beta
          FROM f ORDER BY series, regime""",

    // JB twin: q139 return chain, DECIMAL moments, 12dp z-power fold,
    // JB from the UNROUNDED S/K in the same op order
    "q299_jarque_bera" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0),
          st AS (SELECT series, count(*) AS n,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(r8 AS DECIMAL(38,0))
                    * CAST(r8 AS DECIMAL(38,0))) AS s2
                FROM r GROUP BY 1),
          mu AS (SELECT series, n,
                  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS mu8,
                  sqrt((CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) AS sd8
                FROM st),
          z AS (SELECT r.series, mu.n,
                  (CAST(r8 AS DOUBLE) - mu8) / sd8 AS z
                FROM r JOIN mu ON r.series = mu.series
                WHERE sd8 > 0),
          m AS (SELECT series, max(n) AS n,
                  SUM(CAST(round(z*z*z, 12) AS DECIMAL(38,12))) AS sz3,
                  SUM(CAST(round(z*z*z*z, 12) AS DECIMAL(38,12))) AS sz4
                FROM z GROUP BY 1),
          f AS (SELECT series, n, sz3, sz4,
                  CAST(sz3 AS DOUBLE)/CAST(n AS DOUBLE) AS sk,
                  CAST(sz4 AS DOUBLE)/CAST(n AS DOUBLE) - 3.0 AS xk
                FROM m)
          SELECT series, n,
            ${ExactRound.sqlRatioRound(
              "CAST(sz3*1000000000000 AS HUGEINT)",
              "n*1000000000000", 6)} AS skewness,
            ${ExactRound.sqlRatioRound(
              "CAST(sz4*1000000000000 AS HUGEINT)" +
                " - n*CAST(3000000000000 AS HUGEINT)",
              "n*1000000000000", 6)} AS ex_kurtosis,
            round(CAST(n AS DOUBLE)/6.0*(sk*sk + xk*xk/4.0), 6) AS jb,
            CAST(n AS DOUBLE)/6.0*(sk*sk + xk*xk/4.0) > 5.991465
              AS reject_normal
          FROM f ORDER BY series""",

    // DW twin: same return chain, DECIMAL quadratic sums, rho from
    // the ROUNDED dw (the Scala op order)
    "q300_durbin_watson" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0),
          d AS (SELECT series, bar_ts, r8,
                  lag(r8) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pr8
                FROM r),
          a AS (SELECT series, count(*) AS n,
                  SUM(CAST(r8 AS DECIMAL(38,0))
                    * CAST(r8 AS DECIMAL(38,0))) AS den,
                  SUM(CASE WHEN pr8 IS NOT NULL
                    THEN CAST(r8 - pr8 AS DECIMAL(38,0))
                      * CAST(r8 - pr8 AS DECIMAL(38,0))
                    ELSE CAST(0 AS DECIMAL(38,0)) END) AS num
                FROM d GROUP BY 1),
          f AS (SELECT series, n,
                  CASE WHEN CAST(den AS DOUBLE) > 0 THEN
                    ${ExactRound.sqlRatioRound(
                      "CAST(num AS HUGEINT)", "CAST(den AS HUGEINT)",
                      6)}
                  END AS dw
                FROM a)
          SELECT series, n, dw,
            CASE WHEN dw IS NOT NULL THEN round(1.0 - dw/2, 6) END
              AS rho_hat
          FROM f ORDER BY series""",

    // market-beta twin: equal-weight index from exact long sums, q122
    // 12dp term fold, alpha/R² from the UNROUNDED beta
    "q302_market_beta" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0),
          mkt AS (SELECT bar_ts, CAST(SUM(r8) AS BIGINT) AS msum,
                    count(*) AS mcnt
                  FROM r GROUP BY 1),
          j AS (SELECT series,
                  CAST(msum AS DOUBLE)/CAST(mcnt AS DOUBLE)/1e8 AS x,
                  CAST(r8 AS DOUBLE)/1e8 AS y
                FROM r JOIN mkt USING (bar_ts)),
          m AS (SELECT series, count(*) AS n,
                  SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx,
                  SUM(CAST(round(y, 12) AS DECIMAL(38,12))) AS sy,
                  SUM(CAST(round(x*y, 12) AS DECIMAL(38,12))) AS sxy,
                  SUM(CAST(round(x*x, 12) AS DECIMAL(38,12))) AS sxx,
                  SUM(CAST(round(y*y, 12) AS DECIMAL(38,12))) AS syy
                FROM j GROUP BY 1),
          c AS (SELECT series, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy,
                  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
                FROM m)
          SELECT series, n,
            CASE WHEN vx > 0 THEN round(num/vx, 6) END AS beta,
            CASE WHEN vx > 0 THEN
              round((syd - num/vx*sxd)/CAST(n AS DOUBLE), 8) END
              AS alpha,
            CASE WHEN vx > 0 AND vy > 0 THEN
              round(num*num/(vx*vy), 6) END AS r2
          FROM c ORDER BY series""",

    // downside twin: the q140 daily chain, long gain/loss sums,
    // DECIMAL downside moment, shared-order ratios
    "q306_downside_risk" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, c := close))).c AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER w AS prev_c,
                  MAX(close) OVER (PARTITION BY series ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS runmax
                FROM dcl
                WINDOW w AS (PARTITION BY series ORDER BY d)),
          e AS (SELECT series,
                  CASE WHEN prev_c IS NOT NULL AND prev_c > 0 AND close > 0
                       THEN CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                  END AS r8,
                  CASE WHEN runmax > 0
                       THEN floor((close/runmax - 1.0) * 1e6 + 0.5) / 1e6
                  END AS dd
                FROM l),
          a AS (SELECT series,
                  count(r8) AS n_rets,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  CAST(SUM(CASE WHEN r8 > 0 THEN r8 ELSE 0 END) AS BIGINT)
                    AS gains,
                  CAST(SUM(CASE WHEN r8 < 0 THEN -r8 ELSE 0 END) AS BIGINT)
                    AS losses,
                  SUM(CASE WHEN r8 < 0
                        THEN CAST(r8*r8 AS DECIMAL(38,0))
                        ELSE CAST(0 AS DECIMAL(38,0)) END) AS dq,
                  MIN(dd) AS max_drawdown
                FROM e GROUP BY series),
          v AS (SELECT *,
                  CAST(s1 AS DOUBLE)/CAST(n_rets AS DOUBLE) AS mu,
                  CAST(dq AS DOUBLE)/CAST(n_rets AS DOUBLE) AS dvar
                FROM a)
          SELECT series, n_rets,
            CASE WHEN n_rets > 0
                 THEN ${ExactRound.sqlRatioRound(
                   "CAST(s1 AS HUGEINT)*252",
                   "n_rets*100000000", 6)} END AS ann_return,
            CASE WHEN n_rets > 0
                 THEN round(sqrt(dvar * 252.0) / 1e8, 6) END
              AS downside_dev,
            CASE WHEN n_rets > 0 AND CAST(dq AS DOUBLE) > 0
                 THEN round(mu * 252.0 / sqrt(dvar * 252.0), 6) END
              AS sortino,
            CASE WHEN n_rets > 0 AND max_drawdown < 0
                 THEN round(mu * 252.0 / 1e8 / -max_drawdown, 6) END
              AS calmar,
            CASE WHEN losses > 0
                 THEN ${ExactRound.sqlRatioRound("gains", "losses", 6)}
                 END AS omega,
            max_drawdown
          FROM v ORDER BY series""",

    // ARCH-LB twin: q183's chain with abs() on the scaled change
    "q307_arch_ljung_box" -> {
      val branches = (1 to 5).map { k =>
        s"""SELECT series, $k AS k, d6 AS x, lag(d6, $k) OVER w$k AS y
            FROM dd WINDOW w$k AS (PARTITION BY series ORDER BY bar_ts)"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH $barsCte,
          d AS (SELECT series, bar_ts,
                  abs(CAST(floor((close - lag(close) OVER
                    (PARTITION BY series ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT)) AS d6
                FROM bars),
          dd AS (SELECT * FROM d WHERE d6 IS NOT NULL),
          sh AS (
          $branches),
          g AS (SELECT series, k, count(*) AS n,
                  sum(CAST(x AS DECIMAL(38,0))) AS sx,
                  sum(CAST(y AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
                  sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
                  sum(CAST(y*y AS DECIMAL(38,0))) AS syy
                FROM sh WHERE y IS NOT NULL GROUP BY 1, 2),
          f AS (SELECT series, k, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM g),
          af AS (SELECT series, k, n,
                  CASE WHEN vx > 0 AND vy > 0
                    THEN round(num / (sqrt(vx)*sqrt(vy)), 6) END AS r_acf
                FROM f),
          lb AS (SELECT series, n + k AS l_obs, k, n, r_acf
                 FROM af WHERE r_acf IS NOT NULL),
          lg AS (SELECT series, max(l_obs) AS l_obs, count(*) AS df_used,
                   sum(CAST(round(r_acf*r_acf/n, 12) AS DECIMAL(28,12)))
                     AS sterm
                 FROM lb GROUP BY 1),
          q AS (SELECT series, l_obs, df_used,
                  round(CAST(l_obs AS DOUBLE)*(CAST(l_obs AS DOUBLE)+2)
                    *CAST(sterm AS DOUBLE), 4) AS q_stat
                FROM lg)
          SELECT series, l_obs, df_used, q_stat,
            q_stat > CASE WHEN df_used = 1 THEN 3.8415
                          WHEN df_used = 2 THEN 5.9915
                          WHEN df_used = 3 THEN 7.8147
                          WHEN df_used = 4 THEN 9.4877
                          ELSE 11.0705 END AS reject_white
          FROM q ORDER BY series"""
    },

    // Chow twin: same split (rn <= n//2), DECIMAL moment products per
    // segment, pooled moments as exact decimal sums, shared RSS order
    "q308_chow_test" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0),
          ix AS (SELECT series, r8,
                   CAST(row_number() OVER (PARTITION BY series
                     ORDER BY bar_ts) AS BIGINT) AS t,
                   count(*) OVER (PARTITION BY series) AS n_all
                 FROM r),
          sg AS (SELECT series, r8, t, t <= n_all // 2 AS seg1 FROM ix),
          a AS (SELECT series,
                  CAST(SUM(CASE WHEN seg1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  SUM(CASE WHEN seg1 THEN CAST(t AS DECIMAL(38,0))
                    ELSE CAST(0 AS DECIMAL(38,0)) END) AS st1,
                  SUM(CASE WHEN seg1 THEN CAST(r8 AS DECIMAL(38,0))
                    ELSE CAST(0 AS DECIMAL(38,0)) END) AS sy1,
                  SUM(CASE WHEN seg1 THEN CAST(t AS DECIMAL(38,0))
                    * CAST(t AS DECIMAL(38,0))
                    ELSE CAST(0 AS DECIMAL(38,0)) END) AS stt1,
                  SUM(CASE WHEN seg1 THEN CAST(r8 AS DECIMAL(38,0))
                    * CAST(r8 AS DECIMAL(38,0))
                    ELSE CAST(0 AS DECIMAL(38,0)) END) AS syy1,
                  SUM(CASE WHEN seg1 THEN CAST(t AS DECIMAL(38,0))
                    * CAST(r8 AS DECIMAL(38,0))
                    ELSE CAST(0 AS DECIMAL(38,0)) END) AS sty1,
                  CAST(SUM(CASE WHEN seg1 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
                  SUM(CASE WHEN seg1 THEN CAST(0 AS DECIMAL(38,0))
                    ELSE CAST(t AS DECIMAL(38,0)) END) AS st2,
                  SUM(CASE WHEN seg1 THEN CAST(0 AS DECIMAL(38,0))
                    ELSE CAST(r8 AS DECIMAL(38,0)) END) AS sy2,
                  SUM(CASE WHEN seg1 THEN CAST(0 AS DECIMAL(38,0))
                    ELSE CAST(t AS DECIMAL(38,0))
                    * CAST(t AS DECIMAL(38,0)) END) AS stt2,
                  SUM(CASE WHEN seg1 THEN CAST(0 AS DECIMAL(38,0))
                    ELSE CAST(r8 AS DECIMAL(38,0))
                    * CAST(r8 AS DECIMAL(38,0)) END) AS syy2,
                  SUM(CASE WHEN seg1 THEN CAST(0 AS DECIMAL(38,0))
                    ELSE CAST(t AS DECIMAL(38,0))
                    * CAST(r8 AS DECIMAL(38,0)) END) AS sty2
                FROM sg GROUP BY 1),
          f AS (SELECT series, n1 + n2 AS n, n1, n2,
                  CASE WHEN CAST(stt1 AS DOUBLE) - CAST(st1 AS DOUBLE)
                      *CAST(st1 AS DOUBLE)/CAST(n1 AS DOUBLE) > 0 THEN
                    (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
                      *CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
                    - (CAST(sty1 AS DOUBLE) - CAST(st1 AS DOUBLE)
                      *CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
                      *(CAST(sty1 AS DOUBLE) - CAST(st1 AS DOUBLE)
                      *CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
                      /(CAST(stt1 AS DOUBLE) - CAST(st1 AS DOUBLE)
                      *CAST(st1 AS DOUBLE)/CAST(n1 AS DOUBLE)) END AS rss1,
                  CASE WHEN CAST(stt2 AS DOUBLE) - CAST(st2 AS DOUBLE)
                      *CAST(st2 AS DOUBLE)/CAST(n2 AS DOUBLE) > 0 THEN
                    (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE)
                      *CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
                    - (CAST(sty2 AS DOUBLE) - CAST(st2 AS DOUBLE)
                      *CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
                      *(CAST(sty2 AS DOUBLE) - CAST(st2 AS DOUBLE)
                      *CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
                      /(CAST(stt2 AS DOUBLE) - CAST(st2 AS DOUBLE)
                      *CAST(st2 AS DOUBLE)/CAST(n2 AS DOUBLE)) END AS rss2,
                  CASE WHEN CAST(stt1+stt2 AS DOUBLE) - CAST(st1+st2 AS DOUBLE)
                      *CAST(st1+st2 AS DOUBLE)/CAST(n1+n2 AS DOUBLE) > 0 THEN
                    (CAST(syy1+syy2 AS DOUBLE) - CAST(sy1+sy2 AS DOUBLE)
                      *CAST(sy1+sy2 AS DOUBLE)/CAST(n1+n2 AS DOUBLE))
                    - (CAST(sty1+sty2 AS DOUBLE) - CAST(st1+st2 AS DOUBLE)
                      *CAST(sy1+sy2 AS DOUBLE)/CAST(n1+n2 AS DOUBLE))
                      *(CAST(sty1+sty2 AS DOUBLE) - CAST(st1+st2 AS DOUBLE)
                      *CAST(sy1+sy2 AS DOUBLE)/CAST(n1+n2 AS DOUBLE))
                      /(CAST(stt1+stt2 AS DOUBLE) - CAST(st1+st2 AS DOUBLE)
                      *CAST(st1+st2 AS DOUBLE)/CAST(n1+n2 AS DOUBLE)) END
                    AS rssp
                FROM a),
          g AS (SELECT series, n,
                  CASE WHEN n1 >= 5 AND n2 >= 5 AND rss1 IS NOT NULL
                    AND rss2 IS NOT NULL AND rssp IS NOT NULL
                    AND rss1 + rss2 > 0
                  THEN round((rssp - rss1 - rss2) / 2.0
                    / ((rss1 + rss2) / (CAST(n AS DOUBLE) - 4.0)), 6)
                  END AS f_stat
                FROM f)
          SELECT series, n, f_stat,
            CASE WHEN f_stat IS NOT NULL THEN f_stat > 2.995732 END
              AS break_5pct
          FROM g ORDER BY series""",

    // seasonal-strength twin: 12dp cell moments, exact decimal type
    // totals, same s²/n term rounds, shared ratio op order
    "q310_seasonal_strength" ->
      """WITH cells AS (SELECT event_type,
                    CAST(hour(ts) AS INTEGER) AS hr,
                    count(*) AS nh,
                    SUM(CAST(round(value, 12) AS DECIMAL(38,12))) AS sh,
                    SUM(CAST(round(value*value, 12) AS DECIMAL(38,12)))
                      AS qh
                  FROM events GROUP BY 1, 2),
          b AS (SELECT event_type, nh, sh, qh,
                  CAST(round(CAST(sh AS DOUBLE)*CAST(sh AS DOUBLE)
                    /CAST(nh AS DOUBLE), 12) AS DECIMAL(38,12)) AS bterm
                FROM cells),
          g AS (SELECT event_type,
                  CAST(SUM(nh) AS BIGINT) AS n,
                  count(*) AS n_hours,
                  SUM(sh) AS s, SUM(qh) AS q, SUM(bterm) AS bt
                FROM b GROUP BY 1)
          SELECT event_type, n, n_hours,
            CASE WHEN CAST(q AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)
                /CAST(n AS DOUBLE) > 0 THEN
              round((CAST(bt AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)
                /CAST(n AS DOUBLE))
                / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)
                /CAST(n AS DOUBLE)), 6) END AS strength
          FROM g ORDER BY event_type""",

    // Newey–West twin: q151's Δ chain and lag stack extended with a
    // k = 0 branch (full-sample moments), exact DECIMAL pair sums,
    // γ̂ / Bartlett / t in one shared double op order
    "q313_newey_west" -> {
      val branches = (1 to 5).map { k =>
        s"""SELECT series, $k AS k, d6 AS x, lag(d6, $k) OVER w$k AS y
            FROM dd WINDOW w$k AS (PARTITION BY series ORDER BY bar_ts)"""
      }.mkString("\n          UNION ALL\n          ")
      def gk(k: Int) =
        s"""COALESCE((CAST(sxy$k AS DOUBLE)
             - xbar*(CAST(sx$k AS DOUBLE) + CAST(sy$k AS DOUBLE))
             + CAST(n$k AS DOUBLE)*xbar*xbar)
             /CAST(m AS DOUBLE), 0.0) AS g$k"""
      val picks = (1 to 5).map { k =>
        s"""max(CASE WHEN k = $k THEN n END) AS n$k,
            max(CASE WHEN k = $k THEN sx END) AS sx$k,
            max(CASE WHEN k = $k THEN sy END) AS sy$k,
            max(CASE WHEN k = $k THEN sxy END) AS sxy$k"""
      }.mkString(",\n                  ")
      s"""WITH $barsCte,
          d AS (SELECT series, bar_ts,
                  CAST(floor((close - lag(close) OVER
                    (PARTITION BY series ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                FROM bars),
          dd AS (SELECT * FROM d WHERE d6 IS NOT NULL),
          sh AS (
          SELECT series, 0 AS k, d6 AS x, d6 AS y FROM dd
          UNION ALL
          $branches),
          g AS (SELECT series, k, count(*) AS n,
                  sum(CAST(x AS DECIMAL(38,0))) AS sx,
                  sum(CAST(y AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x*y AS DECIMAL(38,0))) AS sxy
                FROM sh WHERE y IS NOT NULL GROUP BY 1, 2),
          p AS (SELECT series,
                  CAST(max(CASE WHEN k = 0 THEN n END) AS BIGINT) AS m,
                  max(CASE WHEN k = 0 THEN sx END) AS sx0,
                  max(CASE WHEN k = 0 THEN sxy END) AS sxx0,
                  $picks
                FROM g GROUP BY 1),
          px AS (SELECT *, CAST(sx0 AS DOUBLE)/CAST(m AS DOUBLE) AS xbar
                 FROM p),
          f AS (SELECT series, m, xbar,
                  (CAST(sxx0 AS DOUBLE)
                    - CAST(sx0 AS DOUBLE)*CAST(sx0 AS DOUBLE)
                      /CAST(m AS DOUBLE))/CAST(m AS DOUBLE) AS g0,
                  ${(1 to 5).map(gk).mkString(",\n                  ")}
                FROM px),
          l AS (SELECT series, m, xbar,
                  g0 + 2.0*((1.0 - 1.0/6.0)*g1 + (1.0 - 2.0/6.0)*g2
                    + (1.0 - 3.0/6.0)*g3 + (1.0 - 4.0/6.0)*g4
                    + (1.0 - 5.0/6.0)*g5) AS lrv
                FROM f),
          r AS (SELECT series, m AS n_obs,
                  CASE WHEN m > 0 THEN round(xbar/1e6, 6) END AS mean_chg,
                  CASE WHEN m >= 2 AND lrv > 0
                    THEN round(xbar/sqrt(lrv/CAST(m AS DOUBLE)), 6)
                  END AS t_nw
                FROM l)
          SELECT series, n_obs, mean_chg, t_nw,
            CASE WHEN t_nw IS NOT NULL THEN abs(t_nw) > 1.959964 END
              AS significant
          FROM r ORDER BY series"""
    },

    // Theil–Sen twin: q182's argmax-by-struct daily closes, the full
    // a < b pair join, 6dp scaled-long slopes, exact spectrum median
    "q317_theil_sen" ->
      s"""WITH $barsCte,
          dc AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, v := close))).v AS close
                 FROM bars GROUP BY 1, 2),
          pr AS (SELECT a.series AS series,
                   CAST(floor((b.close - a.close)
                     /CAST(date_diff('day', a.d, b.d) AS DOUBLE)
                     *1e6 + 0.5) AS BIGINT) AS s6
                 FROM dc a JOIN dc b
                   ON a.series = b.series AND a.d < b.d),
          cells AS (SELECT series, s6, count(*) AS c FROM pr
                    GROUP BY 1, 2),
          cum AS (SELECT series, s6, c,
                    SUM(c) OVER (PARTITION BY series ORDER BY s6) AS cum
                  FROM cells),
          np AS (SELECT series, SUM(c) AS np FROM cells GROUP BY 1),
          m AS (SELECT series, CAST(max(np) AS BIGINT) AS n_pairs,
                  min(CASE WHEN cum >= floor((np+1)/2.0) THEN s6 END)
                    AS vlo,
                  min(CASE WHEN cum >= floor(np/2.0)+1 THEN s6 END)
                    AS vhi
                FROM cum JOIN np USING (series) GROUP BY 1)
          SELECT series, n_pairs,
            CAST(vlo + vhi AS DOUBLE)/2e6 AS theil_sen
          FROM m ORDER BY series""",

    // Mann–Kendall twin: q317's daily-close pair join summed as signs;
    // tie census per close value; long per-term products cast to
    // DECIMAL once (both engines), one double /18 and z op order
    "q318_mann_kendall" ->
      s"""WITH $barsCte,
          dc AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, v := close))).v AS close
                 FROM bars GROUP BY 1, 2),
          sp AS (SELECT a.series AS series,
                   CAST(SUM(sign(b.close - a.close)) AS BIGINT) AS s,
                   count(*) AS n_pairs
                 FROM dc a JOIN dc b
                   ON a.series = b.series AND a.d < b.d
                 GROUP BY 1),
          tg AS (SELECT series, close, count(*) AS t FROM dc
                 GROUP BY 1, 2),
          tc AS (SELECT series, CAST(SUM(t) AS BIGINT) AS n_days,
                   SUM(CAST(t*(t-1)*(2*t+5) AS DECIMAL(38,0))) AS tt
                 FROM tg GROUP BY 1),
          m AS (SELECT sp.series, tc.n_days, sp.n_pairs, sp.s,
                  CAST(CAST(tc.n_days*(tc.n_days-1)*(2*tc.n_days+5)
                        AS DECIMAL(38,0)) - tt AS DOUBLE)/18.0 AS var_s
                FROM sp JOIN tc ON sp.series = tc.series),
          zc AS (SELECT series, n_days, n_pairs, s,
                   CASE WHEN var_s > 0 THEN
                     round(CASE
                       WHEN s > 0 THEN (CAST(s AS DOUBLE)-1)/sqrt(var_s)
                       WHEN s < 0 THEN (CAST(s AS DOUBLE)+1)/sqrt(var_s)
                       ELSE 0.0 END, 6) END AS z_mk
                 FROM m)
          SELECT series, n_days, n_pairs, s, z_mk,
            CASE WHEN z_mk IS NULL THEN 'flat'
                 WHEN z_mk > 1.959964 THEN 'up'
                 WHEN z_mk < -1.959964 THEN 'down'
                 ELSE 'none' END AS trend
          FROM zc ORDER BY series""",

    // TSRV twin: 1-bar and 5-bar lags off the SAME (series, day)
    // window sort; returns round 8dp before squaring, squares fold as
    // DECIMAL(28,12) (the q92 rules); shared double debias op order
    "q319_tsrv" ->
      s"""WITH $barsCte,
          l AS (SELECT series, CAST(bar_ts AS DATE) AS d, close,
                  lag(close, 1) OVER w AS p1,
                  lag(close, 5) OVER w AS pk
                FROM bars
                WINDOW w AS (PARTITION BY series, CAST(bar_ts AS DATE)
                             ORDER BY bar_ts)),
          r AS (SELECT series, d,
                  CASE WHEN p1 > 0 AND close > 0
                       THEN round(ln(close/p1), 8) END AS r1,
                  CASE WHEN pk > 0 AND close > 0
                       THEN round(ln(close/pk), 8) END AS rk
                FROM l),
          a AS (SELECT series, d,
                  CAST(SUM(CASE WHEN r1 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n,
                  SUM(CAST(r1*r1 AS DECIMAL(28,12))) AS rv_fast,
                  SUM(CAST(rk*rk AS DECIMAL(28,12))) AS sum_slow
                FROM r GROUP BY 1, 2)
          SELECT series, d, n AS n_rets,
            round(sqrt(CAST(rv_fast AS DOUBLE)), 6) AS rv,
            CASE WHEN sum_slow IS NOT NULL AND n > 5 THEN
              round(CAST(sum_slow AS DOUBLE)/5.0
                - (CAST(n AS DOUBLE)-5.0+1)/5.0/CAST(n AS DOUBLE)
                  *CAST(rv_fast AS DOUBLE), 6) END AS tsrv_raw,
            CASE WHEN sum_slow IS NOT NULL AND n > 5 THEN
              round(sqrt(CASE
                WHEN CAST(sum_slow AS DOUBLE)/5.0
                     - (CAST(n AS DOUBLE)-5.0+1)/5.0/CAST(n AS DOUBLE)
                       *CAST(rv_fast AS DOUBLE) > 0
                THEN CAST(sum_slow AS DOUBLE)/5.0
                     - (CAST(n AS DOUBLE)-5.0+1)/5.0/CAST(n AS DOUBLE)
                       *CAST(rv_fast AS DOUBLE)
                ELSE 0.0 END), 6) END AS tsrv_vol
          FROM a ORDER BY series, d""",

    // Rank-IC twin: q317's daily closes → per-series return chain
    // (lead over the POST-filter relation, matching the Scala side);
    // doubled midranks 2·rank+t−1 per day, exact integer moments,
    // Pearson in one shared double op order, DECIMAL panel folds
    "q320_rank_ic" ->
      s"""WITH $barsCte,
          dc AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, v := close))).v AS close
                 FROM bars GROUP BY 1, 2),
          lg AS (SELECT series, d, close,
                   lag(close) OVER (PARTITION BY series ORDER BY d)
                     AS pc
                 FROM dc),
          rr AS (SELECT series, d, round(ln(close/pc), 8) AS r
                 FROM lg WHERE pc > 0 AND close > 0),
          fw AS (SELECT series, d, r,
                   lead(r) OVER (PARTITION BY series ORDER BY d) AS fr
                 FROM rr),
          rk AS (SELECT d,
                   2*rank() OVER (PARTITION BY d ORDER BY r)
                     + count(*) OVER (PARTITION BY d, r) - 1 AS x,
                   2*rank() OVER (PARTITION BY d ORDER BY fr)
                     + count(*) OVER (PARTITION BY d, fr) - 1 AS y
                 FROM fw WHERE fr IS NOT NULL),
          pd AS (SELECT d, count(*) AS nc,
                   SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                   SUM(CAST(x*y AS DECIMAL(38,0))) AS sxy,
                   SUM(CAST(x*x AS DECIMAL(38,0))) AS sxx,
                   SUM(CAST(y*y AS DECIMAL(38,0))) AS syy
                 FROM rk GROUP BY 1),
          ic AS (SELECT d,
                   CASE WHEN nc >= 2
                     AND CAST(nc AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
                     AND CAST(nc AS DOUBLE)*CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) > 0
                   THEN round(
                     (CAST(nc AS DOUBLE)*CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                     / sqrt((CAST(nc AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                       *(CAST(nc AS DOUBLE)*CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
                   END AS ic
                 FROM pd),
          v AS (SELECT ic FROM ic WHERE ic IS NOT NULL)
          SELECT CAST(count(*) AS BIGINT) AS t_days,
            round(CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
              /CAST(count(*) AS DOUBLE), 6) AS mean_ic,
            CASE WHEN count(*) >= 2 AND
              (CAST(SUM(CAST(ic*ic AS DECIMAL(38,12))) AS DOUBLE)
                - CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                  *CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                  /CAST(count(*) AS DOUBLE))
              /(CAST(count(*) AS DOUBLE) - 1) > 0
            THEN round(sqrt(
              (CAST(SUM(CAST(ic*ic AS DECIMAL(38,12))) AS DOUBLE)
                - CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                  *CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                  /CAST(count(*) AS DOUBLE))
              /(CAST(count(*) AS DOUBLE) - 1)), 6) END AS sd_ic,
            CASE WHEN count(*) >= 2 AND
              (CAST(SUM(CAST(ic*ic AS DECIMAL(38,12))) AS DOUBLE)
                - CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                  *CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                  /CAST(count(*) AS DOUBLE))
              /(CAST(count(*) AS DOUBLE) - 1) > 0
            THEN round(
              (CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                /CAST(count(*) AS DOUBLE))
              / (sqrt(
                  (CAST(SUM(CAST(ic*ic AS DECIMAL(38,12))) AS DOUBLE)
                    - CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                      *CAST(SUM(CAST(ic AS DECIMAL(18,6))) AS DOUBLE)
                      /CAST(count(*) AS DOUBLE))
                  /(CAST(count(*) AS DOUBLE) - 1))
                 / sqrt(CAST(count(*) AS DOUBLE))), 6) END AS ic_t,
            ${ExactRound.sqlRatioRound(
              "SUM(CASE WHEN ic > 0 THEN 1 ELSE 0 END)",
              "count(*)", 6)} AS hit_rate
          FROM v""",

    // AR(1) twin: q121's exact co-moment OLS on (prev close, close)
    // per series off the daily-close collapse; ρ/κ/half-life in the
    // same shared double op order
    "q321_ar1_reversion" ->
      s"""WITH $barsCte,
          dc AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, v := close))).v AS close
                 FROM bars GROUP BY 1, 2),
          lg AS (SELECT series, close,
                   lag(close) OVER (PARTITION BY series ORDER BY d)
                     AS px
                 FROM dc),
          g AS (SELECT series, count(*) AS n,
                  SUM(CAST(px AS DECIMAL(28,6))) AS sx,
                  SUM(CAST(close AS DECIMAL(28,6))) AS sy,
                  SUM(CAST(px*close AS DECIMAL(28,6))) AS sxy,
                  SUM(CAST(px*px AS DECIMAL(28,6))) AS sxx
                FROM lg WHERE px IS NOT NULL GROUP BY 1),
          f AS (SELECT series, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS den
                FROM g)
          SELECT series, n AS n_days,
            CASE WHEN den > 0 THEN round(num/den, 6) END AS rho,
            CASE WHEN den > 0 AND num/den > 0 AND num/den < 1
                 THEN round(-ln(num/den), 6) END AS kappa,
            CASE WHEN den > 0 AND num/den > 0 AND num/den < 1
                 THEN round(ln(2.0)/(-ln(num/den)), 4)
            END AS half_life_days,
            CASE WHEN den > 0 THEN round(num/den, 6) < 1
            END AS mean_reverting
          FROM f ORDER BY series""",

    // Granger twin: pre-filtered r8 chain with its lag (plain
    // per-series windows),
    // the q332 nine-moment machinery, both RSS forms in one op order
    "q341_granger" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r0 AS (SELECT series, bar_ts,
                  CASE WHEN prev_c IS NOT NULL AND prev_c > 0
                    THEN CAST(floor(ln(close/prev_c) * 1e8 + 0.5)
                      AS BIGINT) END AS r8
                FROM l),
          rr AS (SELECT series, bar_ts, r8,
                   lag(r8) OVER (PARTITION BY series ORDER BY bar_ts)
                     AS rl8
                 FROM r0),
          rc AS (SELECT series, bar_ts, r8, rl8 FROM rr
                 WHERE r8 IS NOT NULL AND rl8 IS NOT NULL),
          p AS (SELECT x.series AS cause, y.series AS effect,
                  y.r8 AS yv, y.rl8 AS x1, x.rl8 AS x2
                FROM rc y JOIN rc x ON y.bar_ts = x.bar_ts
                  AND y.series <> x.series),
          a AS (SELECT cause, effect, count(*) AS n,
                  SUM(CAST(x1 AS DECIMAL(38,0))) AS sx1,
                  SUM(CAST(x2 AS DECIMAL(38,0))) AS sx2,
                  SUM(CAST(yv AS DECIMAL(38,0))) AS sy,
                  SUM(CAST(x1 AS DECIMAL(38,0))
                    *CAST(x1 AS DECIMAL(38,0))) AS sx11,
                  SUM(CAST(x2 AS DECIMAL(38,0))
                    *CAST(x2 AS DECIMAL(38,0))) AS sx22,
                  SUM(CAST(x1 AS DECIMAL(38,0))
                    *CAST(x2 AS DECIMAL(38,0))) AS sx12,
                  SUM(CAST(x1 AS DECIMAL(38,0))
                    *CAST(yv AS DECIMAL(38,0))) AS sx1y,
                  SUM(CAST(x2 AS DECIMAL(38,0))
                    *CAST(yv AS DECIMAL(38,0))) AS sx2y,
                  SUM(CAST(yv AS DECIMAL(38,0))
                    *CAST(yv AS DECIMAL(38,0))) AS syy
                FROM p GROUP BY 1, 2),
          c AS (SELECT cause, effect, n, CAST(n AS DOUBLE) AS nd,
                  CAST(sx1 AS DOUBLE) AS dx1, CAST(sx2 AS DOUBLE) AS dx2,
                  CAST(sy AS DOUBLE) AS dy,
                  CAST(sx11 AS DOUBLE) AS d11,
                  CAST(sx22 AS DOUBLE) AS d22,
                  CAST(sx12 AS DOUBLE) AS d12,
                  CAST(sx1y AS DOUBLE) AS d1y,
                  CAST(sx2y AS DOUBLE) AS d2y,
                  CAST(syy AS DOUBLE) AS dyy
                FROM a),
          m AS (SELECT cause, effect, n, nd,
                  d11 - dx1*dx1/nd AS s11,
                  d22 - dx2*dx2/nd AS s22,
                  d12 - dx1*dx2/nd AS s12,
                  d1y - dx1*dy/nd AS s1y,
                  d2y - dx2*dy/nd AS s2y,
                  dyy - dy*dy/nd AS syc
                FROM c),
          d AS (SELECT *, s11*s22 - s12*s12 AS det FROM m),
          b AS (SELECT *, (s1y*s22 - s2y*s12)/det AS b1,
                  (s11*s2y - s12*s1y)/det AS b2 FROM d),
          e AS (SELECT *, syc - b1*s1y - b2*s2y AS rssu,
                  syc - s1y*s1y/s11 AS rssr FROM b)
          SELECT cause, effect, n,
            CASE WHEN n > 3 AND det > 0 AND s11 > 0
              AND rssu > 0 THEN round(b2, 6) END AS b_xlag,
            CASE WHEN n > 3 AND det > 0 AND s11 > 0 AND rssu > 0
              THEN round((rssr - rssu)/(rssu/(nd - 3)), 6)
            END AS f_stat,
            CASE WHEN n > 3 AND det > 0 AND s11 > 0 AND rssu > 0
              THEN (rssr - rssu)/(rssu/(nd - 3)) > 3.841459
            END AS granger_causes
          FROM e ORDER BY cause, effect""",

    // DFA twin: exact integer profile via the plain prefix window
    // (ScalableRank's running sum), the same
    // index-sum constants, clamped RSS, 3-point log-log slope
    "q342_dfa" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0),
          prof AS (SELECT series, bar_ts, r8,
                     CAST(row_number() OVER
                       (PARTITION BY series ORDER BY bar_ts) AS BIGINT)
                       AS t,
                     CAST(count(*) OVER (PARTITION BY series) AS BIGINT)
                       AS nn,
                     CAST(SUM(r8) OVER (PARTITION BY series
                       ORDER BY bar_ts ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS y
                   FROM r),
          cells AS (SELECT series, s,
                      CAST(floor(CAST(t - 1 AS DOUBLE)
                        /CAST(s AS DOUBLE)) AS BIGINT) AS win,
                      (t - 1) % s AS j, y, nn
                    FROM prof, unnest([8, 16, 32]) AS u(s)),
          cw AS (SELECT * FROM cells
                 WHERE win < CAST(floor(CAST(nn AS DOUBLE)
                   /CAST(s AS DOUBLE)) AS BIGINT)),
          wa AS (SELECT series, s, win,
                   SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                   SUM(CAST(y AS DECIMAL(38,0))
                     *CAST(y AS DECIMAL(38,0))) AS syy,
                   SUM(CAST(j AS DECIMAL(38,0))
                     *CAST(y AS DECIMAL(38,0))) AS sjy
                 FROM cw GROUP BY 1, 2, 3),
          rs AS (SELECT series, s,
                   CAST(round(greatest(
                     (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       *CAST(sy AS DOUBLE)/CAST(s AS DOUBLE))
                     - (CAST(sjy AS DOUBLE)
                         - (CAST(s AS DOUBLE)*(CAST(s AS DOUBLE) - 1.0)
                            /2.0)*CAST(sy AS DOUBLE)/CAST(s AS DOUBLE))
                       *(CAST(sjy AS DOUBLE)
                         - (CAST(s AS DOUBLE)*(CAST(s AS DOUBLE) - 1.0)
                            /2.0)*CAST(sy AS DOUBLE)/CAST(s AS DOUBLE))
                       /((CAST(s AS DOUBLE)*(CAST(s AS DOUBLE) - 1.0)
                           *(2.0*CAST(s AS DOUBLE) - 1.0)/6.0)
                         - (CAST(s AS DOUBLE)*(CAST(s AS DOUBLE) - 1.0)
                            /2.0)*(CAST(s AS DOUBLE)
                           *(CAST(s AS DOUBLE) - 1.0)/2.0)
                           /CAST(s AS DOUBLE)),
                     0.0), 6) AS DECIMAL(38,6)) AS rss6
                 FROM wa),
          fsx AS (SELECT series, s, count(*) AS nwin,
                    SUM(rss6) AS srss
                  FROM rs GROUP BY 1, 2),
          fs AS (SELECT series, s, nwin,
                   CASE WHEN CAST(srss AS DOUBLE) >= 0 THEN
                     round(sqrt(CAST(srss AS DOUBLE)
                       /(CAST(nwin AS DOUBLE)*CAST(s AS DOUBLE))), 6)
                   END AS f
                 FROM fsx),
          pts AS (SELECT series, round(ln(CAST(s AS DOUBLE)), 12) AS x,
                    round(ln(f), 12) AS y
                  FROM fs WHERE f > 0),
          sl AS (SELECT series, count(*) AS np,
                   SUM(CAST(x AS DECIMAL(38,12))) AS sx,
                   SUM(CAST(y AS DECIMAL(38,12))) AS sy2,
                   SUM(CAST(round(x*y, 12) AS DECIMAL(38,12))) AS sxy,
                   SUM(CAST(round(x*x, 12) AS DECIMAL(38,12))) AS sxx
                 FROM pts GROUP BY 1),
          al AS (SELECT series,
                   CASE WHEN np >= 2
                     AND CAST(np AS DOUBLE)*CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) <> 0.0
                     THEN round((CAST(np AS DOUBLE)*CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE)*CAST(sy2 AS DOUBLE))
                       /(CAST(np AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 6)
                   END AS dfa_alpha
                 FROM sl),
          piv AS (SELECT series,
                    max(CASE WHEN s = 8 THEN f END) AS f8,
                    max(CASE WHEN s = 16 THEN f END) AS f16,
                    max(CASE WHEN s = 32 THEN f END) AS f32
                  FROM fs GROUP BY 1)
          SELECT piv.series, piv.f8, piv.f16, piv.f32, al.dfa_alpha
          FROM piv LEFT JOIN al ON al.series = piv.series
          ORDER BY piv.series""",

    // Perm-entropy twin: the same 1e6-scaled longs, tie-to-earlier
    // boolean bit pack, integer pattern cells, 12dp entropy fold
    "q352_perm_entropy" ->
      s"""WITH $barsCte,
          tri0 AS (SELECT series, bar_ts,
                     CAST(floor(close*1e6 + 0.5) AS BIGINT) AS c2,
                     lag(CAST(floor(close*1e6 + 0.5) AS BIGINT), 1)
                       OVER w AS c1,
                     lag(CAST(floor(close*1e6 + 0.5) AS BIGINT), 2)
                       OVER w AS c0
                   FROM bars
                   WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          tri AS (SELECT series,
                    (CASE WHEN c0 <= c1 THEN 4 ELSE 0 END
                     + CASE WHEN c1 <= c2 THEN 2 ELSE 0 END
                     + CASE WHEN c0 <= c2 THEN 1 ELSE 0 END) AS pat
                  FROM tri0 WHERE c0 IS NOT NULL),
          cells AS (SELECT series, pat, count(*) AS c FROM tri
                    GROUP BY 1, 2),
          tot AS (SELECT series, CAST(SUM(c) AS BIGINT) AS n FROM cells
                  GROUP BY 1),
          agg AS (SELECT cells.series,
                    CAST(max(n) AS BIGINT) AS n_triples,
                    count(*) AS n_patterns,
                    SUM(CAST(round(-(CAST(c AS DOUBLE)/CAST(n AS DOUBLE))
                      *ln(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)), 12)
                      AS DECIMAL(38,12))) AS h12
                  FROM cells JOIN tot ON tot.series = cells.series
                  GROUP BY 1)
          SELECT series, n_triples,
            CAST(n_patterns AS BIGINT) AS n_patterns,
            CAST(round(h12, 6) AS DOUBLE) AS h,
            round(CAST(h12 AS DOUBLE)/ln(6.0), 6) AS pe_norm
          FROM agg ORDER BY series""",

    // Gumbel twin: daily max |r8| blocks, DECIMAL moments, literal
    // γ/π with engine-shared sqrt/ln, one shared op order
    "q354_gumbel" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l WHERE pc IS NOT NULL AND pc > 0),
          blocks AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                       CAST(max(abs(r8)) AS BIGINT) AS m
                     FROM r GROUP BY 1, 2),
          a AS (SELECT series, count(*) AS n_blocks,
                  SUM(CAST(m AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(m AS DECIMAL(38,0))*CAST(m AS DECIMAL(38,0)))
                    AS s2
                FROM blocks GROUP BY 1),
          f AS (SELECT series, n_blocks,
                  CAST(s1 AS DOUBLE)/CAST(n_blocks AS DOUBLE) AS mean8,
                  sqrt((CAST(n_blocks AS DOUBLE)*CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    /(CAST(n_blocks AS DOUBLE)
                      *(CAST(n_blocks AS DOUBLE) - 1))) AS sd8
                FROM a),
          g AS (SELECT series, n_blocks, mean8,
                  sd8*sqrt(6.0)/3.141592653589793 AS beta
                FROM f),
          h AS (SELECT series, n_blocks,
                  mean8 - 0.5772156649015329*beta AS mu, beta
                FROM g)
          SELECT series, n_blocks,
            CASE WHEN n_blocks > 1 THEN round(mu/1e8, 6) END AS gum_mu,
            CASE WHEN n_blocks > 1 THEN round(beta/1e8, 6) END
              AS gum_beta,
            CASE WHEN n_blocks > 1 THEN
              round((mu - beta*ln(-ln(0.99)))/1e8, 6) END AS rl_100
          FROM h ORDER BY series""",

    // Inclán–Tiao twin: daily chain, exact DECIMAL r8² prefixes, the
    // same D_k op order, earliest-k lexicographic argmax
    "q350_inclan_tiao" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          u AS (SELECT series, d,
                  SUM(CAST(r8 AS DECIMAL(38,0))*CAST(r8 AS DECIMAL(38,0)))
                    OVER (PARTITION BY series ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS ck,
                  SUM(CAST(r8 AS DECIMAL(38,0))*CAST(r8 AS DECIMAL(38,0)))
                    OVER (PARTITION BY series) AS cn,
                  CAST(row_number() OVER (PARTITION BY series
                    ORDER BY d) AS BIGINT) AS k,
                  CAST(count(*) OVER (PARTITION BY series) AS BIGINT)
                    AS n
                FROM r),
          dd AS (SELECT series, d, k, n,
                   CAST(ck AS DOUBLE)/CAST(cn AS DOUBLE)
                     - CAST(k AS DOUBLE)/CAST(n AS DOUBLE) AS dk
                 FROM u WHERE k < n AND CAST(cn AS DOUBLE) > 0),
          ag AS (SELECT series, CAST(max(n) AS BIGINT) AS n_days,
                   max(struct_pack(a := abs(dk), nk := -k, d := d))
                     AS mx
                 FROM dd GROUP BY 1)
          SELECT series, n_days,
            round(sqrt(CAST(n_days AS DOUBLE)/2.0)*mx.a, 6) AS it_stat,
            mx.d AS break_date,
            sqrt(CAST(n_days AS DOUBLE)/2.0)*mx.a > 1.358
              AS reject_const_var
          FROM ag ORDER BY series""",

    // KPSS twin: exact integer prefix sums (n·P − t·S in exact-double
    // integer arithmetic, every decimal→double conversion ≤ ~1e12),
    // 12dp DECIMAL folds of the natural-unit terms, Bartlett weights
    // as explicit literals, one shared-op-order η
    "q363_kpss" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c)*1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l WHERE prev_c IS NOT NULL AND prev_c > 0),
          tot AS (SELECT series, count(*) AS n,
                   SUM(CAST(r8 AS DECIMAL(38,0))) AS s
                 FROM r GROUP BY 1),
          pref AS (SELECT series, bar_ts, r8,
                    CAST(row_number() OVER w AS BIGINT) AS t,
                    SUM(CAST(r8 AS DECIMAL(38,0))) OVER w AS p
                  FROM r
                  WINDOW w AS (PARTITION BY series ORDER BY bar_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          ss AS (SELECT pref.series,
                   SUM(CAST(round(
                     ((CAST(n AS DOUBLE)*CAST(p AS DOUBLE)
                       - CAST(t AS DOUBLE)*CAST(s AS DOUBLE))
                      /(CAST(n AS DOUBLE)*1e8))
                     *((CAST(n AS DOUBLE)*CAST(p AS DOUBLE)
                       - CAST(t AS DOUBLE)*CAST(s AS DOUBLE))
                      /(CAST(n AS DOUBLE)*1e8)), 12)
                     AS DECIMAL(38,12))) AS ss2
                 FROM pref JOIN tot ON pref.series = tot.series
                 GROUP BY 1),
          lg AS (SELECT series, r8,
                  lag(r8, 1) OVER w AS y_1, lag(r8, 2) OVER w AS y_2,
                  lag(r8, 3) OVER w AS y_3, lag(r8, 4) OVER w AS y_4
                 FROM r
                 WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          g AS (SELECT lg.series, n,
                  SUM(CAST(round(
                    CAST(n*r8 - s AS DOUBLE)*CAST(n*r8 - s AS DOUBLE)
                    /(CAST(n AS DOUBLE)*1e8*CAST(n AS DOUBLE)*1e8), 12)
                    AS DECIMAL(38,12))) AS g_0,
                  SUM(CASE WHEN y_1 IS NOT NULL THEN CAST(round(
                    CAST(n*r8 - s AS DOUBLE)*CAST(n*y_1 - s AS DOUBLE)
                    /(CAST(n AS DOUBLE)*1e8*CAST(n AS DOUBLE)*1e8), 12)
                    AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12))
                    END) AS g_1,
                  SUM(CASE WHEN y_2 IS NOT NULL THEN CAST(round(
                    CAST(n*r8 - s AS DOUBLE)*CAST(n*y_2 - s AS DOUBLE)
                    /(CAST(n AS DOUBLE)*1e8*CAST(n AS DOUBLE)*1e8), 12)
                    AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12))
                    END) AS g_2,
                  SUM(CASE WHEN y_3 IS NOT NULL THEN CAST(round(
                    CAST(n*r8 - s AS DOUBLE)*CAST(n*y_3 - s AS DOUBLE)
                    /(CAST(n AS DOUBLE)*1e8*CAST(n AS DOUBLE)*1e8), 12)
                    AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12))
                    END) AS g_3,
                  SUM(CASE WHEN y_4 IS NOT NULL THEN CAST(round(
                    CAST(n*r8 - s AS DOUBLE)*CAST(n*y_4 - s AS DOUBLE)
                    /(CAST(n AS DOUBLE)*1e8*CAST(n AS DOUBLE)*1e8), 12)
                    AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12))
                    END) AS g_4
                FROM lg JOIN tot ON lg.series = tot.series
                GROUP BY 1, 2),
          f AS (SELECT g.series, n,
                  (CAST(g_0 AS DOUBLE)
                   + 2.0*0.8*CAST(g_1 AS DOUBLE)
                   + 2.0*0.6*CAST(g_2 AS DOUBLE)
                   + 2.0*0.4*CAST(g_3 AS DOUBLE)
                   + 2.0*0.2*CAST(g_4 AS DOUBLE))/CAST(n AS DOUBLE)
                    AS lrv,
                  CAST(ss2 AS DOUBLE) AS ss2
                FROM g JOIN ss ON g.series = ss.series)
          SELECT series, n AS n_rets,
            CASE WHEN lrv > 0 THEN round(
              ss2/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))/lrv, 6) END
              AS kpss_eta,
            CASE WHEN lrv > 0 THEN
              ss2/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))/lrv > 0.463 END
              AS reject_stationary
          FROM f ORDER BY series""",

    // Fama–MacBeth twin: daily 1e-6 return chain, per-day OLS slope
    // on the lagged return, λ rounds 8dp then folds in DECIMAL
    "q364_fama_macbeth" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER w AS pc
                FROM dcl WINDOW w AS (PARTITION BY series ORDER BY d)),
          r0 AS (SELECT series, d,
                  CASE WHEN pc IS NOT NULL AND pc > 0 AND close > 0
                    THEN CAST(floor(ln(close/pc)*1e6 + 0.5) AS BIGINT)
                    END AS r6
                 FROM l),
          r AS (SELECT series, d, r6,
                  lag(r6) OVER (PARTITION BY series ORDER BY d) AS x6
                FROM r0),
          rr AS (SELECT * FROM r
                 WHERE r6 IS NOT NULL AND x6 IS NOT NULL),
          pd AS (SELECT d, count(*) AS k,
                  SUM(CAST(x6 AS DECIMAL(38,0))) AS sx,
                  SUM(CAST(r6 AS DECIMAL(38,0))) AS sy,
                  SUM(CAST(x6 AS DECIMAL(38,0))
                    *CAST(r6 AS DECIMAL(38,0))) AS sxy,
                  SUM(CAST(x6 AS DECIMAL(38,0))
                    *CAST(x6 AS DECIMAL(38,0))) AS sxx
                 FROM rr GROUP BY 1),
          nd AS (SELECT d,
                  CAST(k AS HUGEINT)*CAST(sxy AS HUGEINT)
                    - CAST(sx AS HUGEINT)*CAST(sy AS HUGEINT) AS num,
                  CAST(k AS HUGEINT)*CAST(sxx AS HUGEINT)
                    - CAST(sx AS HUGEINT)*CAST(sx AS HUGEINT) AS den
                 FROM pd WHERE k >= 3),
          l8 AS (SELECT d,
                  ${ExactRound.sqlRatioRoundScaled("num", "den", 8)}
                    AS lam8
                 FROM nd WHERE den > 0),
          t AS (SELECT d, lam8,
                 ${ExactRound.sqlRatioRoundScaled(
                   "CAST(lam8 AS HUGEINT)*CAST(lam8 AS HUGEINT)",
                   "10000", 0)} AS t12
                FROM l8),
          a AS (SELECT count(*) AS n_days,
                 SUM(lam8) AS sl8, SUM(t12) AS sll12,
                 SUM(CASE WHEN lam8 < 0 THEN 1 ELSE 0 END) AS n_neg
                FROM t),
          f AS (SELECT n_days, n_neg, sl8,
                 CAST(sl8 AS DOUBLE)/1e8/CAST(n_days AS DOUBLE) AS mu,
                 (CAST(sll12 AS DOUBLE)/1e12 - (CAST(sl8 AS DOUBLE)/1e8)
                   *(CAST(sl8 AS DOUBLE)/1e8)/CAST(n_days AS DOUBLE))
                   /(CAST(n_days AS DOUBLE) - 1.0) AS v
                FROM a)
          SELECT n_days,
            ${ExactRound.sqlRatioRound("sl8", "CAST(n_days AS HUGEINT)*100000000", 8)}
              AS mean_premium,
            CASE WHEN n_days > 1 AND v > 0 THEN
              round(mu/sqrt(v/CAST(n_days AS DOUBLE)), 4) END AS t_stat,
            floor(CAST(n_neg AS DOUBLE)/CAST(n_days AS DOUBLE)*1e6
              + 0.5)/1e6 AS share_negative
          FROM f""",

    // HHI twin, round-12 ALL-INTEGER contract (divergence-isolation
    // experiment — see MarketBars.hhiVolume scaladoc): raw Σv²/V² as
    // decimal strings plus the 6dp/4dp HALF_UP scaled BIGINTs, exact
    // HUGEINT rationals mirroring the Spark DECIMAL div/% finish. No
    // double appears in either engine's output. Round-13 fix (judge
    // root cause): DuckDB's SUM(BIGINT) is HUGEINT, so the uncast
    // `vt AS total_ticks` reached the driver's hasher as INT128 while
    // Spark emits BIGINT — the ONLY two HUGEINT-output twins of 403
    // were exactly the two hash fails. total_ticks is now CAST to
    // BIGINT (values ≪ 2^63); the wide-int products are uniformly
    // HUGEINT (no mixed DECIMAL(38,0) idiom) and internal-only.
    "q365_hhi_volume" ->
      s"""WITH $barsCte,
          dv AS (SELECT CAST(bar_ts AS DATE) AS d, series,
                   SUM(n_ticks) AS v
                 FROM bars GROUP BY 1, 2),
          a AS (SELECT d, count(*) AS n_series, SUM(v) AS vt,
                  SUM(CAST(v AS HUGEINT)
                    *CAST(v AS HUGEINT)) AS q
                FROM dv GROUP BY 1),
          h AS (SELECT d, n_series, vt, CAST(q AS HUGEINT) AS qh,
                  CAST(vt AS HUGEINT)*CAST(vt AS HUGEINT) AS bh
                FROM a)
          SELECT d, n_series, CAST(vt AS BIGINT) AS total_ticks,
            CAST(qh AS VARCHAR) AS q_str,
            CAST(bh AS VARCHAR) AS b_str,
            CAST(${ExactRound.sqlRatioRoundScaled("qh", "bh", 6)}
              AS BIGINT) AS hhi_s6,
            CAST(${ExactRound.sqlRatioRoundScaled("bh", "qh", 4)}
              AS BIGINT) AS eff_n_s4
          FROM h ORDER BY d""",

    // HHI double-emitting sibling (q404): identical integer pipeline,
    // scaled integers divided by the scale once. Bisects the driver
    // divergence jointly with q365's integer contract. Round-13 fix:
    // total_ticks CAST to BIGINT (was HUGEINT — see q365 note).
    "q404_hhi_volume_dbl" ->
      s"""WITH $barsCte,
          dv AS (SELECT CAST(bar_ts AS DATE) AS d, series,
                   SUM(n_ticks) AS v
                 FROM bars GROUP BY 1, 2),
          a AS (SELECT d, count(*) AS n_series, SUM(v) AS vt,
                  SUM(CAST(v AS HUGEINT)
                    *CAST(v AS HUGEINT)) AS q
                FROM dv GROUP BY 1),
          h AS (SELECT d, n_series, vt, CAST(q AS HUGEINT) AS qh,
                  CAST(vt AS HUGEINT)*CAST(vt AS HUGEINT) AS bh
                FROM a)
          SELECT d, n_series, CAST(vt AS BIGINT) AS total_ticks,
            ${ExactRound.sqlRatioRound("qh", "bh", 6)} AS hhi,
            ${ExactRound.sqlRatioRound("bh", "qh", 4)} AS eff_n
          FROM h ORDER BY d""",

    // Info-ratio twin: q302's market-leg discipline — per-bar mean as
    // one double divide, 12dp DECIMAL folds of the active terms
    "q355_info_ratio" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c)*1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l WHERE prev_c IS NOT NULL AND prev_c > 0),
          m AS (SELECT bar_ts, SUM(r8) AS msum, count(*) AS mcnt
                FROM r GROUP BY 1),
          a AS (SELECT series,
                  CAST(r8 AS DOUBLE)/1e8
                    - CAST(msum AS DOUBLE)/CAST(mcnt AS DOUBLE)/1e8
                    AS act
                FROM r JOIN m USING (bar_ts)),
          g AS (SELECT series, count(*) AS n,
                  SUM(CAST(round(act, 12) AS DECIMAL(38,12))) AS sa,
                  SUM(CAST(round(act*act, 12) AS DECIMAL(38,12))) AS qa
                FROM a GROUP BY 1),
          f AS (SELECT series, n,
                  CAST(sa AS DOUBLE)/CAST(n AS DOUBLE) AS mu,
                  CASE WHEN n > 1 THEN sqrt(greatest(
                    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
                      *CAST(sa AS DOUBLE)/CAST(n AS DOUBLE))
                    /(CAST(n AS DOUBLE) - 1.0), 0.0)) END AS te
                FROM g)
          SELECT series, n AS n_rets,
            round(mu, 8) AS mean_active,
            CASE WHEN te IS NOT NULL THEN round(te, 8) END
              AS tracking_error,
            CASE WHEN te > 0 THEN round(mu/te, 6) END AS info_ratio
          FROM f ORDER BY series""",

    // Ulcer twin: the q306 daily chain verbatim + 12dp dd² folds
    "q356_ulcer" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER w AS prev_c,
                  max(close) OVER (PARTITION BY series ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS runmax
                FROM dcl WINDOW w AS (PARTITION BY series ORDER BY d)),
          r AS (SELECT series, d,
                  CASE WHEN prev_c IS NOT NULL AND prev_c > 0
                    AND close > 0 THEN
                    CAST(floor(ln(close/prev_c)*1e8 + 0.5) AS BIGINT)
                    END AS r8,
                  CASE WHEN runmax > 0 THEN
                    floor((close/runmax - 1.0)*1e6 + 0.5)/1e6 END AS dd
                FROM l),
          g AS (SELECT series, count(*) AS n_days, count(r8) AS n_rets,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(round(dd*dd, 12) AS DECIMAL(38,12))) AS sdd
                FROM r GROUP BY 1),
          f AS (SELECT series, n_days, n_rets, s1,
                  sqrt(CAST(sdd AS DOUBLE)/CAST(n_days AS DOUBLE)) AS ui,
                  CASE WHEN n_rets > 0 THEN
                    CAST(s1 AS DOUBLE)/CAST(n_rets AS DOUBLE)*252.0/1e8
                    END AS ann_ret
                FROM g)
          SELECT series, n_days,
            round(ui, 6) AS ulcer_index,
            CASE WHEN ann_ret IS NOT NULL THEN
              ${ExactRound.sqlRatioRound(
                "CAST(s1 AS HUGEINT)*252", "n_rets*100000000", 6)} END
              AS ann_return,
            CASE WHEN ui > 0 AND ann_ret IS NOT NULL THEN
              round(ann_ret/ui, 6) END AS martin_ratio
          FROM f ORDER BY series""",

    // Semivariance twin: within-day chain, 8dp returns before
    // squaring, 12dp DECIMAL folds per sign leg
    "q358_semivariance" ->
      s"""WITH $barsCte,
          l AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close,
                  lag(close) OVER (PARTITION BY series,
                    CAST(bar_ts AS DATE) ORDER BY bar_ts) AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, d, round(ln(close/pc), 8) AS r
                FROM l WHERE pc IS NOT NULL AND pc > 0),
          g AS (SELECT series, d, count(*) AS n_rets,
                  SUM(CAST(round(r*r, 12) AS DECIMAL(38,12))) AS srv,
                  SUM(CAST(CASE WHEN r > 0 THEN round(r*r, 12)
                    ELSE 0.0 END AS DECIMAL(38,12))) AS sup,
                  SUM(CAST(CASE WHEN r < 0 THEN round(r*r, 12)
                    ELSE 0.0 END AS DECIMAL(38,12))) AS sdn
                FROM r GROUP BY 1, 2)
          SELECT series, d, n_rets,
            CAST(round(srv, 8) AS DOUBLE) AS rv,
            CAST(round(sup, 8) AS DOUBLE) AS rs_up,
            CAST(round(sdn, 8) AS DOUBLE) AS rs_down,
            CAST(round(sup - sdn, 8) AS DOUBLE) AS signed_jump
          FROM g ORDER BY series, d""",

    // CDaR twin: q306 daily dd chain, 6dp quantile cut before the
    // membership compare (q205 convention), DECIMAL tail mean
    "q360_cdar" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  max(close) OVER (PARTITION BY series ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS runmax
                FROM dcl),
          ddr AS (SELECT series, d,
                   floor((close/runmax - 1.0)*1e6 + 0.5)/1e6 AS dd
                  FROM l WHERE runmax > 0),
          cut AS (SELECT series, count(*) AS n_days,
                   round(quantile_cont(dd, 0.10), 6) AS dd_q,
                   min(dd) AS max_drawdown
                  FROM ddr GROUP BY 1),
          t AS (SELECT ddr.series, n_days, dd_q, max_drawdown,
                  count(*) AS n_tail,
                  SUM(CAST(dd AS DECIMAL(18,6))) AS sdd
                FROM ddr JOIN cut ON ddr.series = cut.series
                WHERE dd <= dd_q
                GROUP BY 1, 2, 3, 4)
          SELECT series, n_days, dd_q AS dar, n_tail,
            ${ExactRound.sqlRatioRound(
              "CAST(sdd*1000000 AS HUGEINT)", "n_tail*1000000", 6)}
              AS cdar,
            max_drawdown
          FROM t ORDER BY series""",

    // ES-backtest twin: q270's split + q205's tail chain, Z2 in one
    // shared op order
    "q372_es_backtest" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pc
                FROM bars WHERE close > 0),
          r0 AS (SELECT series, bar_ts, round(ln(close/pc), 8) AS r
                 FROM l WHERE pc IS NOT NULL AND pc > 0),
          rr AS (SELECT series, r,
                  row_number() OVER w AS rn,
                  count(*) OVER (PARTITION BY series) AS n_all
                 FROM r0
                 WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          sp AS (SELECT series, r,
                  rn <= n_all // 2 AS is_cal
                 FROM rr),
          cut AS (SELECT series,
                   round(quantile_cont(r, 0.05), 6) AS var_cut
                  FROM sp WHERE is_cal GROUP BY 1),
          ec AS (SELECT sp.series, var_cut,
                   ${ExactRound.sqlRatioRound(
                     "CAST(SUM(CAST(r AS DECIMAL(28,12)))" +
                       "*1000000000000 AS HUGEINT)",
                     "count(*)*1000000000000", 6)} AS es_cal
                 FROM sp JOIN cut ON sp.series = cut.series
                 WHERE is_cal AND r <= var_cut
                 GROUP BY 1, 2),
          t AS (SELECT sp.series, var_cut, es_cal,
                  count(*) AS n_test,
                  SUM(CASE WHEN r <= var_cut THEN 1 ELSE 0 END)
                    AS n_viol,
                  SUM(CAST(CASE WHEN r <= var_cut THEN r ELSE 0.0 END
                    AS DECIMAL(28,12))) AS sv
                FROM sp JOIN ec ON sp.series = ec.series
                WHERE NOT is_cal
                GROUP BY 1, 2, 3)
          SELECT series, n_test, CAST(n_viol AS BIGINT) AS n_viol,
            var_cut, es_cal,
            CASE WHEN n_viol > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(sv*1000000000000 AS HUGEINT)",
                "n_viol*1000000000000", 6)} END
              AS es_test,
            CASE WHEN es_cal < 0 THEN
              round(CAST(sv AS DOUBLE)
                /(CAST(n_test AS DOUBLE)*0.05*es_cal) - 1.0, 4) END
              AS z2,
            CASE WHEN es_cal < 0 THEN
              round(CAST(sv AS DOUBLE)
                /(CAST(n_test AS DOUBLE)*0.05*es_cal) - 1.0, 4) > 0.5
              END AS severity_breach
          FROM t ORDER BY series""",

    // Chatterjee-ξ twin: exact 1e6-long daily closes, integer ≤-ranks
    // and ≥-counts, x-order lag, one double finish — the tie-robust
    // general form in the same op order
    "q374_chatterjee" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   CAST(floor(
                     (max(struct_pack(t := bar_ts, v := close))).v
                       * 1e6 + 0.5) AS BIGINT) AS v
                  FROM bars GROUP BY 1, 2),
          ali AS (SELECT a.series AS series_x, b.series AS series_y,
                    a.d, a.v AS x, b.v AS y
                  FROM dcl a JOIN dcl b ON a.d = b.d
                  WHERE a.series <> b.series),
          rk AS (SELECT series_x, series_y, d, x, y,
                   count(*) OVER wp AS n,
                   rank() OVER (PARTITION BY series_x, series_y
                       ORDER BY y)
                     + count(*) OVER (PARTITION BY series_x, series_y,
                         y) - 1 AS r,
                   count(*) OVER wp
                     - rank() OVER (PARTITION BY series_x, series_y
                         ORDER BY y) + 1 AS l
                 FROM ali
                 WINDOW wp AS (PARTITION BY series_x, series_y)),
          lg AS (SELECT *, lag(r) OVER (PARTITION BY series_x,
                   series_y ORDER BY x, d) AS rp
                 FROM rk),
          ag AS (SELECT series_x, series_y,
                   CAST(max(n) AS BIGINT) AS n,
                   SUM(CAST(CASE WHEN rp IS NOT NULL
                     THEN abs(r - rp) ELSE 0 END
                     AS DECIMAL(38,0))) AS sd,
                   SUM(CAST(l*(n - l) AS DECIMAL(38,0))) AS dd
                 FROM lg GROUP BY 1, 2)
          SELECT series_x, series_y, n,
            CASE WHEN dd > 0 THEN
              round(1.0 - CAST(n AS DOUBLE)*CAST(sd AS DOUBLE)
                /(2.0*CAST(dd AS DOUBLE)), 6) END AS xi
          FROM ag ORDER BY series_x, series_y""",

    // Hill twin: the q346 daily-r8 chain, (|r8| DESC, d) order stats,
    // 12dp log folds, the scale offset cancelling inside H
    "q375_hill_tail" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          ab AS (SELECT series, d, abs(r8) AS a8 FROM r
                 WHERE abs(r8) > 0),
          rk AS (SELECT series, d, a8,
                   count(*) OVER (PARTITION BY series) AS n,
                   row_number() OVER (PARTITION BY series
                     ORDER BY a8 DESC, d) AS rn
                 FROM ab),
          kk AS (SELECT *, greatest(5, CAST(floor(
                   CAST(n AS DOUBLE)*0.05) AS BIGINT)) AS k
                 FROM rk),
          ag AS (SELECT series, CAST(max(n) AS BIGINT) AS n_rets,
                   CAST(max(k) AS BIGINT) AS k,
                   SUM(CASE WHEN rn <= k THEN
                     CAST(round(ln(CAST(a8 AS DOUBLE)), 12)
                       AS DECIMAL(38,12)) END) AS slog,
                   max(CASE WHEN rn = k + 1 THEN a8 END) AS xk1
                 FROM kk WHERE rn <= k + 1 GROUP BY 1)
          SELECT series, n_rets,
            CASE WHEN xk1 IS NOT NULL THEN k END AS k,
            CASE WHEN xk1 IS NOT NULL THEN
              ${ExactRound.sqlRatioRound("xk1", "100000000", 8)}
              END AS x_kplus1,
            CASE WHEN xk1 IS NOT NULL THEN
              round(CAST(slog AS DOUBLE)/CAST(k AS DOUBLE)
                - round(ln(CAST(xk1 AS DOUBLE)), 12), 6) END
              AS hill_h,
            CASE WHEN xk1 IS NOT NULL
              AND CAST(slog AS DOUBLE)/CAST(k AS DOUBLE)
                - round(ln(CAST(xk1 AS DOUBLE)), 12) > 0 THEN
              round(1.0/(CAST(slog AS DOUBLE)/CAST(k AS DOUBLE)
                - round(ln(CAST(xk1 AS DOUBLE)), 12)), 6) END
              AS tail_alpha
          FROM ag ORDER BY series""",

    // Tail-dependence twin: the same daily-r8 chain both legs,
    // (value, d) row_number extreme-day sets, integer overlap counts
    "q376_tail_dep" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          ali AS (SELECT a.series AS series_a, b.series AS series_b,
                    a.d, a.r8 AS ra, b.r8 AS rb
                  FROM r a JOIN r b ON a.d = b.d
                  WHERE a.series < b.series),
          rk AS (SELECT *,
                   count(*) OVER (PARTITION BY series_a, series_b)
                     AS n,
                   row_number() OVER (PARTITION BY series_a, series_b
                     ORDER BY ra DESC, d) AS ha,
                   row_number() OVER (PARTITION BY series_a, series_b
                     ORDER BY rb DESC, d) AS hb,
                   row_number() OVER (PARTITION BY series_a, series_b
                     ORDER BY ra ASC, d) AS la,
                   row_number() OVER (PARTITION BY series_a, series_b
                     ORDER BY rb ASC, d) AS lb
                 FROM ali),
          kk AS (SELECT *, greatest(1, CAST(floor(
                   CAST(n AS DOUBLE)*0.1) AS BIGINT)) AS k
                 FROM rk)
          SELECT series_a, series_b,
            CAST(max(n) AS BIGINT) AS n_days,
            CAST(max(k) AS BIGINT) AS k,
            ${ExactRound.sqlRatioRound(
              "SUM(CASE WHEN ha <= k AND hb <= k THEN 1 ELSE 0 END)",
              "max(k)", 6)} AS lambda_hi,
            ${ExactRound.sqlRatioRound(
              "SUM(CASE WHEN la <= k AND lb <= k THEN 1 ELSE 0 END)",
              "max(k)", 6)} AS lambda_lo
          FROM kk GROUP BY 1, 2 ORDER BY 1, 2""",

    // AD twin: the q346 chain + erf polynomial, Φ clamped the same
    // way, 12dp term folds, Stephens' factor in one op order
    "q378_anderson_darling" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          st AS (SELECT series, count(*) AS n,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(r8 AS DECIMAL(38,0))
                    *CAST(r8 AS DECIMAL(38,0))) AS s2
                FROM r GROUP BY 1),
          mu AS (SELECT series, n,
                  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS mu8,
                  sqrt((CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1)))
                    AS sd8
                FROM st),
          z AS (SELECT r.series, mu.n,
                  (CAST(r8 AS DOUBLE) - mu8)/sd8 AS z,
                  CAST(row_number() OVER (PARTITION BY r.series
                    ORDER BY r8, d) AS BIGINT) AS i
                FROM r JOIN mu ON r.series = mu.series
                WHERE sd8 > 0),
          p2 AS (SELECT *, abs(z)/1.4142135623730951 AS x FROM z),
          p3 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS t FROM p2),
          p4 AS (SELECT *,
                   ((((1.061405429*t - 1.453152027)*t + 1.421413741)*t
                     - 0.284496736)*t + 0.254829592)*t AS poly
                 FROM p3),
          p5 AS (SELECT *, 1.0 - poly*exp(-x*x) AS erf FROM p4),
          p6 AS (SELECT series, n, i,
                   least(greatest(
                     CASE WHEN z >= 0 THEN 0.5*(1.0 + erf)
                          ELSE 0.5*(1.0 - erf) END, 1e-15),
                     1.0 - 1e-15) AS ph
                 FROM p5),
          tm AS (SELECT series, n,
                   CAST(round(
                     (2.0*CAST(i AS DOUBLE) - 1)*ln(ph)
                     + (2.0*(CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
                       + 1)*ln(1.0 - ph), 12) AS DECIMAL(38,12))
                     AS t12
                 FROM p6),
          ag AS (SELECT series, CAST(max(n) AS BIGINT) AS n_days,
                   SUM(t12) AS s12
                 FROM tm GROUP BY 1)
          SELECT series, n_days,
            round(-CAST(n_days AS DOUBLE)
              - CAST(s12 AS DOUBLE)/CAST(n_days AS DOUBLE), 6) AS a2,
            round((-CAST(n_days AS DOUBLE)
                - CAST(s12 AS DOUBLE)/CAST(n_days AS DOUBLE))
              *(1.0 + 0.75/CAST(n_days AS DOUBLE)
                + 2.25/(CAST(n_days AS DOUBLE)
                  *CAST(n_days AS DOUBLE))), 6) AS a2_star,
            (-CAST(n_days AS DOUBLE)
                - CAST(s12 AS DOUBLE)/CAST(n_days AS DOUBLE))
              *(1.0 + 0.75/CAST(n_days AS DOUBLE)
                + 2.25/(CAST(n_days AS DOUBLE)
                  *CAST(n_days AS DOUBLE))) > 0.752 AS reject_normal
          FROM ag ORDER BY series""",

    // W1-drift twin: q270's half split on the daily chain, distinct-
    // value CDF walk, ALL-INTEGER |C1·n2 − C2·n1|·Δv terms
    "q379_w1_drift" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          idx AS (SELECT series, r8,
                   row_number() OVER (PARTITION BY series ORDER BY d)
                     <= CAST(floor(CAST(count(*) OVER
                       (PARTITION BY series) AS DOUBLE)/2) AS BIGINT)
                     AS in1
                  FROM r),
          cells AS (SELECT series, r8,
                     CAST(SUM(CASE WHEN in1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1,
                     CAST(SUM(CASE WHEN in1 THEN 0 ELSE 1 END)
                       AS BIGINT) AS c2
                    FROM idx GROUP BY 1, 2),
          tot AS (SELECT series, CAST(SUM(c1) AS BIGINT) AS n1,
                    CAST(SUM(c2) AS BIGINT) AS n2
                  FROM cells GROUP BY 1),
          wk AS (SELECT series, r8,
                   CAST(SUM(c1) OVER wc AS BIGINT) AS cc1,
                   CAST(SUM(c2) OVER wc AS BIGINT) AS cc2,
                   lead(r8) OVER (PARTITION BY series ORDER BY r8)
                     - r8 AS dv
                 FROM cells
                 WINDOW wc AS (PARTITION BY series ORDER BY r8
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          tm AS (SELECT wk.series, n1, n2,
                   CASE WHEN dv IS NOT NULL THEN
                     abs(CAST(cc1 AS HUGEINT)*CAST(n2 AS HUGEINT)
                       - CAST(cc2 AS HUGEINT)*CAST(n1 AS HUGEINT))
                       *CAST(dv AS HUGEINT) ELSE 0 END AS term
                 FROM wk JOIN tot ON wk.series = tot.series)
          SELECT series, max(n1) AS n1, max(n2) AS n2,
            CASE WHEN max(n1) > 0 AND max(n2) > 0 THEN
              ${ExactRound.sqlRatioRound("SUM(term)",
                "CAST(max(n1) AS HUGEINT)*CAST(max(n2) AS HUGEINT)" +
                  "*100000000", 6)} END AS w1_drift
          FROM tm GROUP BY series ORDER BY series""",

    // MedRV twin: within-day triples, exact integer median-of-3
    // (greatest of pairwise leasts), DECIMAL med² folds, the shared
    // MedRvK literal, post-constant true-double finishes
    "q401_medrv" ->
      s"""WITH $barsCte,
          r0 AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts,
                   close,
                   lag(close) OVER (PARTITION BY series,
                     CAST(bar_ts AS DATE) ORDER BY bar_ts) AS pc
                 FROM bars),
          r AS (SELECT series, d, bar_ts,
                  abs(CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT))
                    AS a8
                FROM r0
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          t AS (SELECT series, d, a8,
                  lag(a8, 1) OVER w AS p8,
                  lag(a8, 2) OVER w AS q8
                FROM r
                WINDOW w AS (PARTITION BY series, d ORDER BY bar_ts)),
          m AS (SELECT series, d, a8,
                  CASE WHEN q8 IS NOT NULL THEN
                    greatest(least(a8, p8), least(a8, q8),
                      least(p8, q8)) END AS med8
                FROM t),
          a AS (SELECT series, d, count(*) AS n_rets,
                  SUM(CAST(a8 AS HUGEINT)*CAST(a8 AS HUGEINT)) AS srr,
                  count(med8) AS m_triples,
                  SUM(CAST(med8 AS HUGEINT)*CAST(med8 AS HUGEINT))
                    AS smm
                FROM m GROUP BY 1, 2),
          f AS (SELECT series, d, n_rets, m_triples,
                  CAST(srr AS DOUBLE)/1e16 AS rv,
                  ${MarketBars.MedRvK}*(CAST(n_rets AS DOUBLE)
                    /(CAST(n_rets AS DOUBLE) - 2.0))
                    *(CAST(smm AS DOUBLE)/1e16) AS medrv
                FROM a WHERE m_triples >= 3)
          SELECT series, d, CAST(n_rets AS BIGINT) AS n_rets,
            CAST(m_triples AS BIGINT) AS m_triples,
            round(rv, 10) AS rv, round(medrv, 10) AS medrv,
            CASE WHEN rv > 0 THEN round(medrv/rv, 6) END
              AS medrv_rv_ratio,
            CASE WHEN rv > 0 THEN
              round(greatest(0.0, 1.0 - medrv/rv), 6) END
              AS robust_jump_share
          FROM f ORDER BY series, d""",

    // Volume–volatility twin: q139 lag chain, 1e6 volume snap, exact
    // HUGEINT co-moment folds, shared Pearson op order
    "q399_volume_volatility" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close, volume,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pc
                FROM bars),
          r AS (SELECT series,
                  abs(CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT))
                    AS a8,
                  CAST(floor(volume*1e6 + 0.5) AS BIGINT) AS v6
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          a AS (SELECT series, count(*) AS n,
                  SUM(CAST(a8 AS HUGEINT)) AS sa,
                  SUM(CAST(v6 AS HUGEINT)) AS sv,
                  SUM(CAST(a8 AS HUGEINT)*CAST(a8 AS HUGEINT)) AS sq,
                  SUM(CAST(a8 AS HUGEINT)*CAST(v6 AS HUGEINT)) AS sav,
                  SUM(CAST(a8 AS HUGEINT)*CAST(a8 AS HUGEINT)
                    *CAST(v6 AS HUGEINT)) AS sqv,
                  SUM(CAST(a8 AS HUGEINT)*CAST(a8 AS HUGEINT)
                    *CAST(a8 AS HUGEINT)*CAST(a8 AS HUGEINT)) AS sqq,
                  SUM(CAST(v6 AS HUGEINT)*CAST(v6 AS HUGEINT)) AS svv
                FROM r GROUP BY 1),
          f AS (SELECT series, n,
                  CASE WHEN CAST(n AS DOUBLE)*CAST(sq AS DOUBLE)
                         - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE) > 0
                       AND CAST(n AS DOUBLE)*CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE) > 0
                    THEN round((CAST(n AS DOUBLE)*CAST(sav AS DOUBLE)
                        - CAST(sa AS DOUBLE)*CAST(sv AS DOUBLE))
                      /(sqrt(CAST(n AS DOUBLE)*CAST(sq AS DOUBLE)
                          - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
                        *sqrt(CAST(n AS DOUBLE)*CAST(svv AS DOUBLE)
                          - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))), 6)
                    END AS corr_absr_vol,
                  CASE WHEN CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)
                         - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE) > 0
                       AND CAST(n AS DOUBLE)*CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE) > 0
                    THEN round((CAST(n AS DOUBLE)*CAST(sqv AS DOUBLE)
                        - CAST(sq AS DOUBLE)*CAST(sv AS DOUBLE))
                      /(sqrt(CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)
                          - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
                        *sqrt(CAST(n AS DOUBLE)*CAST(svv AS DOUBLE)
                          - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))), 6)
                    END AS corr_r2_vol
                FROM a)
          SELECT series, CAST(n AS BIGINT) AS n_rets, corr_absr_vol,
            corr_r2_vol,
            corr_absr_vol IS NOT NULL AND corr_absr_vol
              > 1.959964/sqrt(CAST(n AS DOUBLE)) AS mdh_consistent
          FROM f ORDER BY series""",

    // Opening-gap twin: the q338 daily OHLC rollup + day lag; gap
    // direction/fill are raw-double compares; every rate and mean
    // finishes through the exact HUGEINT rationals (ExactRound)
    "q397_opening_gaps" ->
      s"""WITH $barsCte,
          dly AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (min(struct_pack(t := bar_ts, v := open))).v AS o,
                    max(high) AS h, min(low) AS l,
                    (max(struct_pack(t := bar_ts, v := close))).v AS c
                  FROM bars GROUP BY 1, 2),
          lg AS (SELECT *, lag(c) OVER
                   (PARTITION BY series ORDER BY d) AS pc
                 FROM dly),
          t AS (SELECT series,
                  o > pc AS up, o < pc AS dn,
                  l <= pc AS lo_touch, h >= pc AS hi_touch,
                  CAST(floor(ln(o/pc)*1e8 + 0.5) AS BIGINT) AS lo8,
                  CAST(floor(ln(c/o)*1e8 + 0.5) AS BIGINT) AS lc8
                FROM lg
                WHERE pc IS NOT NULL AND pc > 0 AND o > 0 AND c > 0),
          a AS (SELECT series, count(*) AS n_days,
                  SUM(CASE WHEN up THEN 1 ELSE 0 END) AS n_gap_up,
                  SUM(CASE WHEN dn THEN 1 ELSE 0 END) AS n_gap_dn,
                  SUM(CASE WHEN up AND lo_touch THEN 1 ELSE 0 END)
                    AS n_up_filled,
                  SUM(CASE WHEN dn AND hi_touch THEN 1 ELSE 0 END)
                    AS n_dn_filled,
                  SUM(lo8) AS so8, SUM(lc8) AS sc8
                FROM t GROUP BY 1)
          SELECT series, CAST(n_days AS BIGINT) AS n_days,
            CAST(n_gap_up AS BIGINT) AS n_gap_up,
            CAST(n_gap_dn AS BIGINT) AS n_gap_dn,
            CASE WHEN n_gap_up > 0 THEN
              ${ExactRound.sqlRatioRound("n_up_filled", "n_gap_up", 4)}
              END AS fill_rate_up,
            CASE WHEN n_gap_dn > 0 THEN
              ${ExactRound.sqlRatioRound("n_dn_filled", "n_gap_dn", 4)}
              END AS fill_rate_dn,
            ${ExactRound.sqlRatioRound("so8",
              "CAST(n_days AS HUGEINT)*10000", 4)}
              AS mean_overnight_bps,
            ${ExactRound.sqlRatioRound("sc8",
              "CAST(n_days AS HUGEINT)*10000", 4)}
              AS mean_intraday_bps
          FROM a ORDER BY series""",

    // Periodogram twin: q139 lag-over-all-bars chain with a row
    // index; the trig factors are the SAME double literals the Spark
    // plan embeds (MarketBars.trigTables — never runtime trig, which
    // can differ by an ulp between libm builds); 6dp DECIMAL term
    // folds; the post-square power/share rounds are true-double safe
    "q394_periodogram" -> {
      val (c6, s6) = MarketBars.trigTables(6)
      val (c24, s24) = MarketBars.trigTables(24)
      def arr(xs: Seq[Double]) = xs.mkString("[", ", ", "]")
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER w AS pc,
                  row_number() OVER w AS rn
                FROM bars
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          r AS (SELECT series, rn - 1 AS t,
                  CASE WHEN pc IS NOT NULL AND pc > 0 AND close > 0
                    THEN CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT)
                    END AS r8
                FROM l),
          rr AS (SELECT series, t, r8 FROM r WHERE r8 IS NOT NULL),
          e AS (SELECT series, t, r8, p.period
                FROM rr CROSS JOIN (VALUES (6), (24)) p(period)),
          f AS (SELECT series, period, r8,
                  CAST(t % period AS INTEGER) AS phase
                FROM e),
          g AS (SELECT series, period, r8,
                  CAST(round(r8*(CASE WHEN period = 6
                      THEN (${arr(c6)})[phase+1]
                      ELSE (${arr(c24)})[phase+1] END), 6)
                    AS DECIMAL(38,6)) AS tc,
                  CAST(round(r8*(CASE WHEN period = 6
                      THEN (${arr(s6)})[phase+1]
                      ELSE (${arr(s24)})[phase+1] END), 6)
                    AS DECIMAL(38,6)) AS ts2
                FROM f),
          a AS (SELECT series, period, count(*) AS n_rets,
                  SUM(tc) AS sc, SUM(ts2) AS ss,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS sr,
                  SUM(CAST(r8 AS DECIMAL(38,0))
                    *CAST(r8 AS DECIMAL(38,0))) AS srr
                FROM g GROUP BY 1, 2),
          z AS (SELECT series, period, n_rets,
                  (CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)
                    + CAST(ss AS DOUBLE)*CAST(ss AS DOUBLE))
                    /CAST(n_rets AS DOUBLE) AS pw,
                  CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
                    *CAST(sr AS DOUBLE)/CAST(n_rets AS DOUBLE) AS vr
                FROM a)
          SELECT series, period, n_rets,
            round(pw/1e16, 8) AS spec_power,
            CASE WHEN vr > 0 THEN round(2.0*pw/vr, 6) END
              AS power_share
          FROM z ORDER BY series, period"""
    },

    // TE twin: the q341 per-series lag chain, sign cells, three
    // integer margins, 12dp
    // DECIMAL term folds
    "q380_transfer_entropy" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r0 AS (SELECT series, bar_ts,
                  CASE WHEN prev_c IS NOT NULL AND prev_c > 0
                    THEN CAST(floor(ln(close/prev_c) * 1e8 + 0.5)
                      AS BIGINT) END AS r8
                FROM l),
          rr AS (SELECT series, bar_ts, r8,
                   lag(r8) OVER (PARTITION BY series ORDER BY bar_ts)
                     AS rl8
                 FROM r0),
          rc AS (SELECT series, bar_ts,
                   CASE WHEN r8 > 0 THEN 1 ELSE 0 END AS s,
                   CASE WHEN rl8 > 0 THEN 1 ELSE 0 END AS sp
                 FROM rr
                 WHERE r8 IS NOT NULL AND rl8 IS NOT NULL),
          joint AS (SELECT x.series AS cause, y.series AS effect,
                      y.s AS yv, y.sp AS yp, x.sp AS xp,
                      count(*) AS c
                    FROM rc y JOIN rc x ON y.bar_ts = x.bar_ts
                      AND y.series <> x.series
                    GROUP BY 1, 2, 3, 4, 5),
          myyp AS (SELECT cause, effect, yv, yp, SUM(c) AS c_yyp
                   FROM joint GROUP BY 1, 2, 3, 4),
          mypxp AS (SELECT cause, effect, yp, xp, SUM(c) AS c_ypxp
                    FROM joint GROUP BY 1, 2, 3, 4),
          myp AS (SELECT cause, effect, yp, SUM(c) AS c_yp
                  FROM joint GROUP BY 1, 2, 3),
          tot AS (SELECT cause, effect, CAST(SUM(c) AS BIGINT) AS n,
                    count(*) AS n_cells
                  FROM joint GROUP BY 1, 2),
          tm AS (SELECT j.cause, j.effect, n, n_cells,
                   CAST(round(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)
                     *ln(CAST(c AS DOUBLE)*CAST(c_yp AS DOUBLE)
                       /(CAST(c_ypxp AS DOUBLE)
                         *CAST(c_yyp AS DOUBLE))), 12)
                     AS DECIMAL(38,12)) AS t12
                 FROM joint j
                 JOIN myyp USING (cause, effect, yv, yp)
                 JOIN mypxp USING (cause, effect, yp, xp)
                 JOIN myp USING (cause, effect, yp)
                 JOIN tot USING (cause, effect))
          SELECT cause, effect, max(n) AS n,
            max(n_cells) AS n_cells,
            CAST(round(SUM(t12), 6) AS DOUBLE) AS te_nats
          FROM tm GROUP BY 1, 2 ORDER BY 1, 2""",

    // Epps twin: per-scale coarse bars aggregated DIRECTLY from events
    // (the argmax close composes exactly with resample), q250-style
    // pre-filtered lag chains, DECIMAL co-moment folds
    "q381_epps" -> {
      def leg(m: Int) = {
        val step = m * 60L * 1000000L
        s"""cb$m AS (SELECT event_type AS series,
                  make_timestamp((epoch_us(ts)//$step)*$step) AS bar_ts,
                  (max(struct_pack(t := ts, v := value))).v AS close
                FROM events GROUP BY 1, 2),
          l$m AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pc
                FROM cb$m WHERE close > 0),
          r$m AS (SELECT $m AS scale_min, series, bar_ts,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l$m WHERE pc IS NOT NULL AND pc > 0)"""
      }
      s"""WITH ${leg(5)},
          ${leg(15)},
          ${leg(60)},
          rr AS (SELECT * FROM r5 UNION ALL SELECT * FROM r15
                 UNION ALL SELECT * FROM r60),
          ag AS (SELECT a.series AS series_a, b.series AS series_b,
                   a.scale_min, count(*) AS n,
                   SUM(CAST(a.r8 AS DECIMAL(38,0))) AS sa,
                   SUM(CAST(b.r8 AS DECIMAL(38,0))) AS sb,
                   SUM(CAST(a.r8 AS DECIMAL(38,0))
                     *CAST(b.r8 AS DECIMAL(38,0))) AS sab,
                   SUM(CAST(a.r8 AS DECIMAL(38,0))
                     *CAST(a.r8 AS DECIMAL(38,0))) AS saa,
                   SUM(CAST(b.r8 AS DECIMAL(38,0))
                     *CAST(b.r8 AS DECIMAL(38,0))) AS sbb
                 FROM rr a JOIN rr b ON a.scale_min = b.scale_min
                   AND a.bar_ts = b.bar_ts AND a.series < b.series
                 GROUP BY 1, 2, 3)
          SELECT series_a, series_b, scale_min, n,
            CASE WHEN CAST(n AS DOUBLE)*CAST(saa AS DOUBLE)
                - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE) > 0
              AND CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE)
                - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE) > 0 THEN
              round((CAST(n AS DOUBLE)*CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE))
                /sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE)
                    - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
                  *(CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE)
                    - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))), 6)
            END AS corr
          FROM ag ORDER BY series_a, series_b, scale_min"""
    },

    // CS-dispersion twin: the daily-r8 chain, day-window integer
    // sums, all-integer |n·r − S| CSAD terms, shared finish op orders
    "q382_cs_dispersion" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          x AS (SELECT d, r8,
                  CAST(count(*) OVER wd AS BIGINT) AS n,
                  CAST(SUM(r8) OVER wd AS BIGINT) AS s
                FROM r
                WINDOW wd AS (PARTITION BY d)),
          ag AS (SELECT d, max(n) AS n_series, max(s) AS s1,
                   SUM(CAST(r8 AS DECIMAL(38,0))
                     *CAST(r8 AS DECIMAL(38,0))) AS s2,
                   SUM(CAST(abs(n*r8 - s) AS DECIMAL(38,0))) AS sad,
                   min(r8) AS lo8, max(r8) AS hi8
                 FROM x GROUP BY 1)
          SELECT d, n_series,
            ${ExactRound.sqlRatioRound(
              "CAST(s1 AS HUGEINT)", "n_series*100000000", 6)}
              AS mean_ret,
            CASE WHEN n_series > 1 THEN
              round(sqrt((CAST(n_series AS DOUBLE)*CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                /(CAST(n_series AS DOUBLE)
                  *(CAST(n_series AS DOUBLE) - 1)))/1e8, 6)
            END AS cs_sd,
            ${ExactRound.sqlRatioRound(
              "CAST(sad AS HUGEINT)",
              "CAST(n_series AS HUGEINT)*n_series*100000000", 6)}
              AS csad,
            ${ExactRound.sqlRatioRound("lo8", "100000000", 8)}
              AS min_ret,
            ${ExactRound.sqlRatioRound("hi8", "100000000", 8)}
              AS max_ret
          FROM ag ORDER BY d""",

    // Corr-structure twin: the q341 bar-return chain both pair legs,
    // q381 co-moment correlations at 6dp, DECIMAL matrix folds, the
    // trace-invariant effective-factor finish
    "q384_corr_structure" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l WHERE pc IS NOT NULL AND pc > 0),
          ag AS (SELECT a.series AS series_a, b.series AS series_b,
                   count(*) AS n,
                   SUM(CAST(a.r8 AS DECIMAL(38,0))) AS sa,
                   SUM(CAST(b.r8 AS DECIMAL(38,0))) AS sb,
                   SUM(CAST(a.r8 AS DECIMAL(38,0))
                     *CAST(b.r8 AS DECIMAL(38,0))) AS sab,
                   SUM(CAST(a.r8 AS DECIMAL(38,0))
                     *CAST(a.r8 AS DECIMAL(38,0))) AS saa,
                   SUM(CAST(b.r8 AS DECIMAL(38,0))
                     *CAST(b.r8 AS DECIMAL(38,0))) AS sbb
                 FROM r a JOIN r b ON a.bar_ts = b.bar_ts
                   AND a.series < b.series
                 GROUP BY 1, 2),
          c0 AS (SELECT CASE WHEN
                   CAST(n AS DOUBLE)*CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE) > 0
                   AND CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE) > 0 THEN
                   round((CAST(n AS DOUBLE)*CAST(sab AS DOUBLE)
                       - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE))
                     /sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
                       *(CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE)
                         - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))), 6)
                 END AS c FROM ag),
          c1 AS (SELECT c FROM c0 WHERE c IS NOT NULL),
          ns AS (SELECT CAST(count(DISTINCT series) AS BIGINT)
                   AS n_series FROM r),
          f AS (SELECT count(*) AS n_pairs,
                  SUM(CAST(c AS DECIMAL(38,12))) AS s1,
                  SUM(CAST(round(c*c, 12) AS DECIMAL(38,12))) AS s2
                FROM c1)
          SELECT n_series, n_pairs,
            CASE WHEN n_pairs > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(s1*1000000000000 AS HUGEINT)",
                "n_pairs*1000000000000", 6)}
            END AS mean_corr,
            CASE WHEN n_pairs > 1 THEN
              round(sqrt((CAST(n_pairs AS DOUBLE)*CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                /(CAST(n_pairs AS DOUBLE)
                  *(CAST(n_pairs AS DOUBLE) - 1))), 6)
            END AS sd_corr,
            round(CAST(n_series AS DOUBLE)*CAST(n_series AS DOUBLE)
              /(CAST(n_series AS DOUBLE) + 2.0*CAST(s2 AS DOUBLE)), 6)
              AS eff_factors
          FROM f CROSS JOIN ns ORDER BY n_series""",

    // Duration-ACF twin: exact microsecond gaps off the (ts, id)
    // chain, stacked lags, DECIMAL co-moment folds, shared Pearson
    // Trigger-lift twin: user-keyed windowed self-join, distinct
    // (anchor, b) hits, dense type grid, exact HUGEINT rationals
    "q400_trigger_lift" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
                    epoch_us(ts) AS us
                  FROM events),
          p AS (SELECT DISTINCT x.event_id AS aid,
                  x.event_type AS a, y.event_type AS b
                FROM e x JOIN e y ON x.user_id = y.user_id
                  AND (y.us > x.us OR (y.us = x.us
                    AND y.event_id > x.event_id))
                  AND y.us - x.us <= 60000000),
          h AS (SELECT a, b, count(*) AS n_hit FROM p GROUP BY 1, 2),
          bh AS (SELECT b, count(*) AS n_hit_all FROM p GROUP BY 1),
          an AS (SELECT event_type AS a, count(*) AS n_a
                 FROM e GROUP BY 1),
          ty AS (SELECT DISTINCT event_type AS t FROM e),
          na AS (SELECT count(*) AS n_all FROM e),
          g AS (SELECT ta.t AS a, tb.t AS b, an.n_a,
                  COALESCE(h.n_hit, 0) AS n_hit,
                  COALESCE(bh.n_hit_all, 0) AS n_hit_all,
                  na.n_all
                FROM ty ta CROSS JOIN ty tb
                JOIN an ON an.a = ta.t
                LEFT JOIN h ON h.a = ta.t AND h.b = tb.t
                LEFT JOIN bh ON bh.b = tb.t
                CROSS JOIN na)
          SELECT a, b, CAST(n_a AS BIGINT) AS n_a,
            CAST(n_hit AS BIGINT) AS n_hit,
            ${ExactRound.sqlRatioRound("n_hit", "n_a", 4)} AS p_obs,
            ${ExactRound.sqlRatioRound("n_hit_all", "n_all", 4)}
              AS p_base,
            CASE WHEN n_hit_all > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(n_hit AS HUGEINT)*CAST(n_all AS HUGEINT)",
                "CAST(n_a AS HUGEINT)*CAST(n_hit_all AS HUGEINT)", 4)}
              END AS lift
          FROM g ORDER BY a, b""",

    // Concurrency twin: q180 island build, ±1 sweep, one window
    // running sum under the SHARED (us, delta, user_id, sid) total
    // order (ends before starts at equal microseconds), day rollup
    "q398_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
                  FROM events),
          b AS (SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS brk
                FROM e
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY us, event_id)),
          s AS (SELECT user_id, us,
                  SUM(brk) OVER (PARTITION BY user_id
                    ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
                FROM b),
          iv AS (SELECT user_id, sid, min(us) AS s_us,
                   CASE WHEN max(us) = min(us) THEN min(us) + 1
                        ELSE max(us) END AS e_us
                 FROM s GROUP BY 1, 2),
          sw AS (SELECT user_id, sid, s_us AS us, 1 AS delta FROM iv
                 UNION ALL
                 SELECT user_id, sid, e_us, -1 FROM iv),
          c AS (SELECT user_id, sid, us, delta,
                  CAST(SUM(delta) OVER (ORDER BY us, delta, user_id,
                    sid ROWS BETWEEN UNBOUNDED PRECEDING AND
                    CURRENT ROW) AS BIGINT) AS conc
                FROM sw)
          SELECT CAST(make_timestamp(us) AS DATE) AS d,
            CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_started,
            max(conc) AS peak_concurrency,
            (max(struct_pack(a := us, b := delta, c := user_id,
              d := sid, v := conc))).v AS open_at_eod
          FROM c GROUP BY 1 ORDER BY d""",

    // Weibull twin: gap spectrum + window cum counts (cumSum's
    // form), plotting positions cum/(n+1),
    // 12dp ln/ln folds, shared OLS op order
    "q395_weibull_gaps" ->
      """WITH g0 AS (SELECT event_type AS series,
                      epoch_us(ts)
                        - lag(epoch_us(ts)) OVER (PARTITION BY
                          event_type ORDER BY ts, event_id) AS g
                    FROM events),
          gp AS (SELECT series, g FROM g0
                 WHERE g IS NOT NULL AND g > 0),
          dist AS (SELECT series, g, count(*) AS c
                   FROM gp GROUP BY 1, 2),
          tot AS (SELECT series, SUM(c) AS n, count(*) AS n_pts
                  FROM dist GROUP BY 1),
          cum AS (SELECT series, g, c,
                    SUM(c) OVER (PARTITION BY series ORDER BY g
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cm
                  FROM dist),
          pts AS (SELECT cum.series, tot.n, tot.n_pts,
                    round(ln(CAST(g AS DOUBLE)/1e6), 12) AS x,
                    round(ln(-ln((CAST(tot.n AS DOUBLE) + 1.0
                        - CAST(cm AS DOUBLE))
                      /(CAST(tot.n AS DOUBLE) + 1.0))), 12) AS y
                  FROM cum JOIN tot ON cum.series = tot.series),
          a AS (SELECT series, CAST(max(n) AS BIGINT) AS n_gaps,
                  CAST(max(n_pts) AS BIGINT) AS n_pts,
                  SUM(CAST(x AS DECIMAL(38,12))) AS sx,
                  SUM(CAST(y AS DECIMAL(38,12))) AS sy,
                  SUM(CAST(round(x*y, 12) AS DECIMAL(38,12))) AS sxy,
                  SUM(CAST(round(x*x, 12) AS DECIMAL(38,12))) AS sxx
                FROM pts GROUP BY 1),
          f AS (SELECT series, n_gaps, n_pts,
                  CAST(n_pts AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS den,
                  (CAST(n_pts AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                    /(CAST(n_pts AS DOUBLE)*CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS k,
                  sx, sy
                FROM a)
          SELECT series AS event_type, n_gaps, n_pts,
            CASE WHEN n_pts >= 2 AND den > 0 THEN round(k, 6) END
              AS shape,
            CASE WHEN n_pts >= 2 AND den > 0 AND k <> 0.0 THEN
              round(exp(-((CAST(sy AS DOUBLE) - k*CAST(sx AS DOUBLE))
                /CAST(n_pts AS DOUBLE))/k), 6) END AS scale_s
          FROM f ORDER BY event_type""",

    "q390_duration_acf" ->
      """WITH g0 AS (SELECT event_type AS series, ts, event_id AS id,
                      epoch_us(ts)
                        - lag(epoch_us(ts)) OVER (PARTITION BY
                          event_type ORDER BY ts, event_id) AS g
                    FROM events),
          gl AS (SELECT series, g,
                   lag(g, 1) OVER w AS y1,
                   lag(g, 2) OVER w AS y2,
                   lag(g, 3) OVER w AS y3
                 FROM g0
                 WINDOW w AS (PARTITION BY series ORDER BY ts, id)),
          st AS (SELECT series, k, x, y FROM (
                   SELECT series, g AS x, 1 AS k, y1 AS y FROM gl
                     WHERE g IS NOT NULL
                   UNION ALL
                   SELECT series, g, 2, y2 FROM gl WHERE g IS NOT NULL
                   UNION ALL
                   SELECT series, g, 3, y3 FROM gl WHERE g IS NOT NULL)
                 WHERE y IS NOT NULL),
          ag AS (SELECT series, k, CAST(count(*) AS BIGINT) AS n,
                   SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                   SUM(CAST(x AS DECIMAL(38,0))
                     *CAST(y AS DECIMAL(38,0))) AS sxy,
                   SUM(CAST(x AS DECIMAL(38,0))
                     *CAST(x AS DECIMAL(38,0))) AS sxx,
                   SUM(CAST(y AS DECIMAL(38,0))
                     *CAST(y AS DECIMAL(38,0))) AS syy
                 FROM st GROUP BY 1, 2),
          f AS (SELECT series AS event_type, k, n,
                  CASE WHEN CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
                    AND CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) > 0 THEN
                    round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                      /sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        *(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
                  END AS gap_acf
                FROM ag)
          SELECT event_type, k, n, gap_acf,
            CASE WHEN gap_acf IS NOT NULL THEN
              gap_acf > 1.959964/sqrt(CAST(n AS DOUBLE)) END
              AS clustered
          FROM f ORDER BY event_type, k""",

    // Retention-decay twin: the q81 triangle, the eligibility cut on
    // exact dates, floor-form rates, the integer/12dp OLS fit
    "q391_retention_decay" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
          coh AS (SELECT user_id, min(d) AS cohort_day FROM act
                  GROUP BY 1),
          tri AS (SELECT cohort_day,
                   date_diff('day', cohort_day, d) AS day_offset,
                   count(*) AS n_users
                  FROM act JOIN coh USING (user_id) GROUP BY 1, 2),
          mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events),
          sz AS (SELECT cohort_day, n_users AS s FROM tri
                 WHERE day_offset = 0),
          offs AS (SELECT DISTINCT day_offset FROM tri),
          num AS (SELECT day_offset,
                   CAST(SUM(n_users) AS BIGINT) AS n_active
                  FROM tri GROUP BY 1),
          den AS (SELECT day_offset,
                   CAST(SUM(s) AS BIGINT) AS n_eligible
                  FROM offs CROSS JOIN mx
                  JOIN sz ON cohort_day <= mxd
                    - CAST(day_offset AS INTEGER)
                  GROUP BY 1),
          panel AS (SELECT num.day_offset, n_active, n_eligible,
                     floor(CAST(n_active AS DOUBLE)
                       /CAST(n_eligible AS DOUBLE)*1e6 + 0.5)/1e6
                       AS rate
                    FROM num JOIN den
                      ON num.day_offset = den.day_offset),
          pts AS (SELECT CAST(day_offset AS BIGINT) AS x,
                    round(ln(rate), 12) AS y
                  FROM panel WHERE day_offset >= 1 AND rate > 0),
          fit AS (SELECT CAST(count(*) AS BIGINT) AS np,
                   SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(x*x AS DECIMAL(38,0))) AS sxx,
                   SUM(CAST(y AS DECIMAL(38,12))) AS sy,
                   SUM(CAST(round(CAST(x AS DOUBLE)*y, 12)
                     AS DECIMAL(38,12))) AS sxy
                  FROM pts),
          f2 AS (SELECT np,
                  CAST(np AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS denf,
                  (CAST(np AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                    /(CAST(np AS DOUBLE)*CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                    AS slope
                 FROM fit),
          fr AS (SELECT
                  CASE WHEN np > 1 AND denf <> 0 THEN
                    round(slope, 6) END AS decay_slope,
                  CASE WHEN np > 1 AND denf <> 0 AND slope < 0 THEN
                    round(-0.6931471805599453/slope, 6) END
                    AS half_life_days
                 FROM f2)
          SELECT day_offset, n_active, n_eligible, rate,
            decay_slope, half_life_days
          FROM panel CROSS JOIN fr ORDER BY day_offset""",

    // Circadian twin: 24-cell integer histogram, 12dp entropy folds,
    // the max(struct) smallest-hour tie rule
    "q392_circadian" ->
      s"""WITH cells AS (SELECT event_type,
                   CAST(extract(hour FROM ts) AS INTEGER) AS h,
                   count(*) AS c
                 FROM events GROUP BY 1, 2),
          wp AS (SELECT event_type, h, c,
                  SUM(c) OVER (PARTITION BY event_type) AS n
                 FROM cells),
          tm AS (SELECT event_type, n, c, h,
                   CAST(round(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)
                     *ln(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)), 12)
                     AS DECIMAL(38,12)) AS t12
                 FROM wp),
          ag AS (SELECT event_type,
                   CAST(max(n) AS BIGINT) AS n_events,
                   count(*) AS n_hours,
                   SUM(t12) AS h12,
                   (max(struct_pack(c := c, nh := -h))).c AS pc,
                   (max(struct_pack(c := c, nh := -h))).nh AS pnh
                 FROM tm GROUP BY 1)
          SELECT event_type, n_events, n_hours,
            CAST(round(-h12, 6) AS DOUBLE) AS hour_entropy,
            round(-CAST(h12 AS DOUBLE)/3.1780538303479458, 6)
              AS uniformity,
            -pnh AS peak_hour,
            ${ExactRound.sqlRatioRound("pc", "n_events", 6)}
              AS peak_share
          FROM ag ORDER BY event_type""",

    // DM twin: exact 1e6-long closes, the same two forecast errors in
    // one division each, 12dp d folds, the plain 1-step DM finish
    "q387_dm_test" ->
      s"""WITH $barsCte,
          c0 AS (SELECT series, bar_ts,
                  CAST(floor(close*1e6 + 0.5) AS BIGINT) AS c6
                 FROM bars),
          x AS (SELECT series, c6,
                  lag(c6) OVER w AS pc6,
                  SUM(c6) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS s5,
                  count(c6) OVER (PARTITION BY series ORDER BY bar_ts
                    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS n5
                FROM c0
                WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          f0 AS (SELECT series,
                   CAST(c6 - pc6 AS DOUBLE)/1e6 AS e1,
                   CAST(5*c6 - s5 AS DOUBLE)/5e6 AS e2
                 FROM x WHERE pc6 IS NOT NULL AND n5 = 5),
          f AS (SELECT series, round(e1*e1 - e2*e2, 12) AS d FROM f0),
          ag AS (SELECT series, CAST(count(*) AS BIGINT) AS n,
                   SUM(CAST(d AS DECIMAL(38,12))) AS s1,
                   SUM(CAST(round(d*d, 12) AS DECIMAL(38,12))) AS s2
                 FROM f GROUP BY 1),
          fin AS (SELECT series, n,
                    CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS mean_d,
                    (CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1))
                      AS vr
                  FROM ag)
          SELECT series, n,
            round(mean_d, 8) AS mean_loss_diff,
            CASE WHEN n > 1 AND vr > 0 THEN
              round(mean_d/sqrt(vr/CAST(n AS DOUBLE)), 6) END
              AS dm_stat,
            CASE WHEN n > 1 AND vr > 0 THEN
              CASE WHEN mean_d/sqrt(vr/CAST(n AS DOUBLE)) > 1.959964
                     THEN 'ma5'
                   WHEN mean_d/sqrt(vr/CAST(n AS DOUBLE)) < -1.959964
                     THEN 'rw'
                   ELSE 'tie' END
            END AS better
          FROM fin ORDER BY series""",

    // OBV twin: exact long signed flows, DECIMAL day sums, the
    // keys×days running prefix
    "q388_obv" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, volume,
                  CAST(floor(close*1e6 + 0.5) AS BIGINT)
                    - CAST(floor(lag(close) OVER (PARTITION BY series
                        ORDER BY bar_ts)*1e6 + 0.5) AS BIGINT) AS d6,
                  lag(close) OVER (PARTITION BY series
                    ORDER BY bar_ts) AS pc
                FROM bars),
          f AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                  (CASE WHEN d6 > 0 THEN 1 WHEN d6 < 0 THEN -1
                    ELSE 0 END)
                    * CAST(floor(volume*1e6 + 0.5) AS BIGINT) AS sv
                FROM l WHERE pc IS NOT NULL),
          fl AS (SELECT series, d,
                   SUM(CAST(sv AS DECIMAL(38,0))) AS flow6
                 FROM f GROUP BY 1, 2)
          SELECT series, d,
            ${ExactRound.sqlRatioRound(
              "CAST(flow6 AS HUGEINT)", "1000000", 6)} AS day_flow,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(flow6) OVER (PARTITION BY series ORDER BY d" +
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
                " AS HUGEINT)",
              "1000000", 6)} AS obv
          FROM fl ORDER BY series, d""",

    // Sharpe-diff twin: aligned return legs, 12dp co-moment folds,
    // the Memmel θ̂ in one shared op order
    "q369_sharpe_diff" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pc
                FROM bars
                WHERE close > 0 AND series IN ('click', 'view')),
          r AS (SELECT series, bar_ts, round(ln(close/pc), 8) AS r
                FROM l WHERE pc IS NOT NULL AND pc > 0),
          j AS (SELECT a.r AS x, b.r AS y
                FROM r a JOIN r b ON a.bar_ts = b.bar_ts
                WHERE a.series = 'click' AND b.series = 'view'),
          m AS (SELECT count(*) AS n,
                  SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx,
                  SUM(CAST(round(y, 12) AS DECIMAL(38,12))) AS sy,
                  SUM(CAST(round(x*y, 12) AS DECIMAL(38,12))) AS sxy,
                  SUM(CAST(round(x*x, 12) AS DECIMAL(38,12))) AS sxx,
                  SUM(CAST(round(y*y, 12) AS DECIMAL(38,12))) AS syy
                FROM j),
          f AS (SELECT n,
                  CAST(sx AS DOUBLE)/CAST(n AS DOUBLE) AS mux,
                  CAST(sy AS DOUBLE)/CAST(n AS DOUBLE) AS muy,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    *CAST(sx AS DOUBLE)/CAST(n AS DOUBLE))
                    /(CAST(n AS DOUBLE)-1.0) AS vx,
                  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                    *CAST(sy AS DOUBLE)/CAST(n AS DOUBLE))
                    /(CAST(n AS DOUBLE)-1.0) AS vy,
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    *CAST(sy AS DOUBLE)/CAST(n AS DOUBLE))
                    /(CAST(n AS DOUBLE)-1.0) AS cxy
                FROM m),
          g AS (SELECT n, vx, vy,
                  mux/sqrt(vx) AS sa, muy/sqrt(vy) AS sb,
                  cxy/(sqrt(vx)*sqrt(vy)) AS rho
                FROM f),
          h AS (SELECT n, vx, vy, sa, sb, rho,
                  2.0*(1.0 - rho)
                    + 0.5*(sa*sa + sb*sb)*(1.0 - rho*rho) AS theta
                FROM g)
          SELECT 'click-view' AS pair, n AS n_obs,
            CASE WHEN vx > 0 THEN round(sa, 6) END AS sharpe_a,
            CASE WHEN vy > 0 THEN round(sb, 6) END AS sharpe_b,
            CASE WHEN vx > 0 AND vy > 0 THEN round(rho, 6) END AS rho,
            CASE WHEN n > 2 AND vx > 0 AND vy > 0 AND theta > 0 THEN
              round((sa - sb)/sqrt(theta/CAST(n AS DOUBLE)), 4) END
              AS z_jk,
            CASE WHEN n > 2 AND vx > 0 AND vy > 0 AND theta > 0 THEN
              abs(round((sa - sb)/sqrt(theta/CAST(n AS DOUBLE)), 4))
                > 1.959964 END AS differ_5pct
          FROM h""",

    // Turn-of-month twin: boundary classification off dayofmonth +
    // last_day, per-bucket 12dp DECIMAL folds
    "q370_turn_of_month" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS pc
                FROM bars WHERE close > 0),
          r AS (SELECT series, round(ln(close/pc), 8) AS r,
                  (day(bar_ts) <= 2 OR
                   day(bar_ts) >= day(last_day(bar_ts)) - 1) AS is_turn
                FROM l WHERE pc IS NOT NULL AND pc > 0),
          g AS (SELECT series,
                  SUM(CASE WHEN is_turn THEN 1 ELSE 0 END) AS n_turn,
                  SUM(CASE WHEN NOT is_turn THEN 1 ELSE 0 END)
                    AS n_other,
                  SUM(CAST(CASE WHEN is_turn THEN round(r, 12)
                    ELSE 0.0 END AS DECIMAL(38,12))) AS st,
                  SUM(CAST(CASE WHEN NOT is_turn THEN round(r, 12)
                    ELSE 0.0 END AS DECIMAL(38,12))) AS so
                FROM r GROUP BY 1)
          SELECT series, CAST(n_turn AS BIGINT) AS n_turn,
            CAST(n_other AS BIGINT) AS n_other,
            CASE WHEN n_turn > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(st*1000000000000 AS HUGEINT)",
                "n_turn*1000000000000", 8)} END AS mean_turn,
            CASE WHEN n_other > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(so*1000000000000 AS HUGEINT)",
                "n_other*1000000000000", 8)} END AS mean_other,
            CASE WHEN n_turn > 0 AND n_other > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(st*1000000000000 AS HUGEINT)*n_other" +
                  " - CAST(so*1000000000000 AS HUGEINT)*n_turn",
                "CAST(n_turn AS HUGEINT)*n_other*1000000000000", 8)}
              END AS tom_spread
          FROM g ORDER BY series""",

    // OU twin: the q223 lag chain with the five intercept-form
    // moments; normal-equation SSE on the same exact sums
    "q366_ou_fit" ->
      s"""WITH $pairCte,
          s AS (SELECT bar_ts,
                  CAST(floor(spread * 1e8 + 0.5) AS BIGINT) AS s8
                FROM pair),
          l AS (SELECT s8, lag(s8) OVER (ORDER BY bar_ts) AS sl FROM s),
          d AS (SELECT sl, s8 - sl AS ds FROM l WHERE sl IS NOT NULL),
          m AS (SELECT count(*) AS n_obs,
                  SUM(CAST(sl AS DECIMAL(38,0))) AS sx,
                  SUM(CAST(ds AS DECIMAL(38,0))) AS sy,
                  SUM(CAST(sl * ds AS DECIMAL(38,0))) AS sxy,
                  SUM(CAST(sl * sl AS DECIMAL(38,0))) AS sxx,
                  SUM(CAST(ds * ds AS DECIMAL(38,0))) AS syy
                FROM d),
          f AS (SELECT n_obs,
                  CAST(n_obs AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS den,
                  (CAST(n_obs AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                    /(CAST(n_obs AS DOUBLE)*CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS b,
                  sx, sy, sxy, syy
                FROM m),
          f2 AS (SELECT n_obs, den, b,
                   (CAST(sy AS DOUBLE) - b*CAST(sx AS DOUBLE))
                     /CAST(n_obs AS DOUBLE) AS a,
                   sy, sxy, syy
                 FROM f),
          f3 AS (SELECT n_obs, den, b, a,
                   CAST(syy AS DOUBLE) - a*CAST(sy AS DOUBLE)
                     - b*CAST(sxy AS DOUBLE) AS sse,
                   den > 0 AND b > -2.0 AND b < 0.0
                     AND (1.0 + b) <> 0.0 AND n_obs > 2 AS ok
                 FROM f2)
          SELECT 'click-view' AS pair_name, n_obs,
            CASE WHEN den > 0 THEN round(b, 6) END AS b,
            CASE WHEN ok THEN round(-ln(abs(1.0 + b)), 6) END AS kappa,
            CASE WHEN ok THEN round(-a/b/1e8, 6) END AS mu_eq,
            CASE WHEN ok THEN round(
              sqrt(greatest(sse/(CAST(n_obs AS DOUBLE) - 2.0), 0.0))
              /sqrt(1.0 - (1.0 + b)*(1.0 + b))/1e8, 6) END AS sigma_eq,
            CASE WHEN ok THEN round(ln(2.0)/(-ln(abs(1.0 + b))), 4) END
              AS half_life_bars
          FROM f3 ORDER BY pair_name""",

    // Vol-managed twin: q358's RV leg + the daily chain, lag over the
    // JOINED (return ∩ RV) day relation, median weight base
    "q367_vol_managed" ->
      s"""WITH $barsCte,
          lrv AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts,
                    close,
                    lag(close) OVER (PARTITION BY series,
                      CAST(bar_ts AS DATE) ORDER BY bar_ts) AS pc
                  FROM bars WHERE close > 0),
          rr AS (SELECT series, d, round(ln(close/pc), 8) AS r
                 FROM lrv WHERE pc IS NOT NULL AND pc > 0),
          rv AS (SELECT series, d,
                   round(CAST(SUM(CAST(round(r*r, 12) AS DECIMAL(38,12)))
                     AS DOUBLE), 8) AS rv
                 FROM rr GROUP BY 1, 2),
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          dl AS (SELECT series, d, close, lag(close) OVER w AS pc
                 FROM dcl WINDOW w AS (PARTITION BY series ORDER BY d)),
          dr AS (SELECT series, d,
                   CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                 FROM dl
                 WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          j0 AS (SELECT dr.series, dr.d, r8, rv
                 FROM dr JOIN rv ON dr.series = rv.series
                   AND dr.d = rv.d),
          j AS (SELECT series, d, r8,
                  lag(rv) OVER (PARTITION BY series ORDER BY d) AS rvp
                FROM j0),
          jf AS (SELECT * FROM j WHERE rvp IS NOT NULL AND rvp > 0),
          med AS (SELECT series, round(quantile_cont(rvp, 0.5), 8) AS c
                  FROM jf GROUP BY 1),
          x AS (SELECT jf.series, CAST(r8 AS DOUBLE)/1e8 AS r,
                  round(least(round(c/rvp, 6), 2.0)
                    * (CAST(r8 AS DOUBLE)/1e8), 8) AS mr,
                  least(round(c/rvp, 6), 2.0) AS wgt
                FROM jf JOIN med ON jf.series = med.series),
          g AS (SELECT series, count(*) AS n_days,
                  SUM(CAST(round(r, 12) AS DECIMAL(38,12))) AS sr,
                  SUM(CAST(round(r*r, 12) AS DECIMAL(38,12))) AS qr,
                  SUM(CAST(round(mr, 12) AS DECIMAL(38,12))) AS sm,
                  SUM(CAST(round(mr*mr, 12) AS DECIMAL(38,12))) AS qm,
                  SUM(CAST(round(wgt, 12) AS DECIMAL(38,12))) AS sw
                FROM x GROUP BY 1)
          SELECT series, n_days,
            CASE WHEN n_days > 1 AND
              (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE)*CAST(sr AS DOUBLE)
                /CAST(n_days AS DOUBLE))/(CAST(n_days AS DOUBLE)-1.0) > 0
              THEN round((CAST(sr AS DOUBLE)/CAST(n_days AS DOUBLE))
                /sqrt((CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE)
                  *CAST(sr AS DOUBLE)/CAST(n_days AS DOUBLE))
                  /(CAST(n_days AS DOUBLE)-1.0)), 6) END AS sharpe_raw,
            CASE WHEN n_days > 1 AND
              (CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE)*CAST(sm AS DOUBLE)
                /CAST(n_days AS DOUBLE))/(CAST(n_days AS DOUBLE)-1.0) > 0
              THEN round((CAST(sm AS DOUBLE)/CAST(n_days AS DOUBLE))
                /sqrt((CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE)
                  *CAST(sm AS DOUBLE)/CAST(n_days AS DOUBLE))
                  /(CAST(n_days AS DOUBLE)-1.0)), 6) END
              AS sharpe_managed,
            ${ExactRound.sqlRatioRound(
              "CAST(sw*1000000000000 AS HUGEINT)",
              "n_days*1000000000000", 6)} AS mean_weight
          FROM g ORDER BY series""",

    // BNS twin: q181's RV/BV chain + tri-power terms as explicit
    // exp((4/3)·ln|r|) products (pow is not ulp-stable), shared
    // μ4/3⁻³ and θ literals
    "q361_bns_jump" -> {
      val mu = graft.ops.MarketBars.Mu43Inv3
      val th = graft.ops.MarketBars.ThetaBns
      s"""WITH $barsCte,
          l AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts, close,
                  lag(close) OVER (PARTITION BY series,
                    CAST(bar_ts AS DATE) ORDER BY bar_ts) AS pc
                FROM bars),
          r0 AS (SELECT series, d, bar_ts,
                   round(ln(close/pc), 8) AS r
                 FROM l
                 WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          t AS (SELECT series, d, r,
                  lag(r, 1) OVER w AS r1,
                  lag(r, 2) OVER w AS r2
                FROM r0
                WINDOW w AS (PARTITION BY series, d ORDER BY bar_ts)),
          g AS (SELECT series, d, count(*) AS m,
                  SUM(CAST(round(r*r, 12) AS DECIMAL(28,12))) AS srr,
                  count(r1) AS m_pairs,
                  SUM(CAST(round(abs(r)*abs(r1), 12) AS DECIMAL(28,12)))
                    AS sbv,
                  count(r2) AS m_tri,
                  SUM(CAST(round(CASE WHEN r2 IS NOT NULL AND r <> 0.0
                    AND r1 <> 0.0 AND r2 <> 0.0 THEN
                      exp(4.0/3.0*ln(abs(r)))
                      *exp(4.0/3.0*ln(abs(r1)))
                      *exp(4.0/3.0*ln(abs(r2)))
                    ELSE 0.0 END, 12) AS DECIMAL(28,12))) AS stq
                FROM t GROUP BY 1, 2),
          f AS (SELECT series, d, m,
                  CAST(srr AS DOUBLE) AS rv,
                  pi()/2*(CAST(m_pairs AS DOUBLE)
                    /(CAST(m_pairs AS DOUBLE) - 1))
                    *CAST(sbv AS DOUBLE) AS bv,
                  CAST(m AS DOUBLE)*($mu)
                    *(CAST(m AS DOUBLE)/CAST(m_tri AS DOUBLE))
                    *CAST(stq AS DOUBLE) AS tq
                FROM g
                WHERE m >= 10 AND m_tri >= 1 AND m_pairs >= 2)
          SELECT series, d, m AS n_rets,
            CASE WHEN rv > 0 THEN round(1.0 - bv/rv, 6) END AS rel_jump,
            CASE WHEN rv > 0 AND bv > 0 THEN
              round((1.0 - bv/rv)/sqrt(($th)
                *greatest(1.0, tq/(bv*bv))/CAST(m AS DOUBLE)), 4) END
              AS z_bns,
            CASE WHEN rv > 0 AND bv > 0 THEN
              round((1.0 - bv/rv)/sqrt(($th)
                *greatest(1.0, tq/(bv*bv))/CAST(m AS DOUBLE)), 4)
                > 1.644854
              END AS jump_5pct
          FROM f ORDER BY series, d"""
    },

    // SampEn twin: daily chain, RM extendable templates, exact
    // integer Chebyshev distances against the shared-op-order
    // tolerance, one −ln ratio
    "q351_sampen" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          rt AS (SELECT series, d, r8,
                   CAST(row_number() OVER w AS BIGINT) AS t,
                   lead(r8, 1) OVER w AS l1,
                   lead(r8, 2) OVER w AS l2
                 FROM r
                 WINDOW w AS (PARTITION BY series ORDER BY d)),
          tol AS (SELECT series, count(*) AS n,
                   0.2*sqrt((CAST(count(*) AS DOUBLE)
                     *CAST(SUM(CAST(r8 AS DECIMAL(38,0))
                       *CAST(r8 AS DECIMAL(38,0))) AS DOUBLE)
                     - CAST(SUM(CAST(r8 AS DECIMAL(38,0))) AS DOUBLE)
                       *CAST(SUM(CAST(r8 AS DECIMAL(38,0))) AS DOUBLE))
                     /(CAST(count(*) AS DOUBLE)
                       *(CAST(count(*) AS DOUBLE) - 1))) AS rtol
                 FROM rt GROUP BY 1),
          tm AS (SELECT series, t, r8 AS x0, l1 AS x1, l2 AS x2
                 FROM rt WHERE l2 IS NOT NULL),
          c AS (SELECT a.series, CAST(max(tol.n) AS BIGINT) AS n_days,
                  max(tol.rtol) AS rtol,
                  CAST(SUM(CASE WHEN CAST(greatest(abs(a.x0 - b.x0),
                    abs(a.x1 - b.x1)) AS DOUBLE) <= tol.rtol
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  CAST(SUM(CASE WHEN CAST(greatest(greatest(
                    abs(a.x0 - b.x0), abs(a.x1 - b.x1)),
                    abs(a.x2 - b.x2)) AS DOUBLE) <= tol.rtol
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a
                FROM tm a
                JOIN tm b ON a.series = b.series AND a.t < b.t
                JOIN tol ON tol.series = a.series
                GROUP BY 1)
          SELECT series, n_days,
            ${ExactRound.sqlRatioRound("rtol", "100000000", 6)}
              AS r_tol,
            n_b, n_a,
            CASE WHEN n_a > 0 AND n_b > 0 THEN
              round(-ln(CAST(n_a AS DOUBLE)/CAST(n_b AS DOUBLE)), 6)
            END AS sampen
          FROM c ORDER BY series""",

    // FD twin: the SAME weight literals (Double.toString round-trips
    // uniquely), one left-associated 21-term convolution and its
    // shifted partner, plain per-series windows
    "q348_frac_diff" -> {
      val ws = MarketBars.fracDiffWeights(0.4, 20)
      val lags = (1 to 21).map(j =>
        s"lag(p8, $j) OVER w AS y$j").mkString(",\n                  ")
      def conv(off: Int) = ws.zipWithIndex
        .map { case (wv, j) => s"($wv)*CAST(y${j + off} AS DOUBLE)" }
        .mkString(" + ")
      s"""WITH $barsCte,
          b0 AS (SELECT series, bar_ts,
                   CAST(floor(ln(close)*1e8 + 0.5) AS BIGINT) AS p8
                 FROM bars WHERE close > 0),
          lg AS (SELECT series, p8 AS y0,
                  $lags
                 FROM b0
                 WINDOW w AS (PARTITION BY series ORDER BY bar_ts)),
          x AS (SELECT series,
                  round((${conv(0)})/1e8, 6) AS x,
                  CASE WHEN y21 IS NOT NULL THEN
                    round((${conv(1)})/1e8, 6) END AS xp
                FROM lg WHERE y20 IS NOT NULL),
          a AS (SELECT series, count(*) AS n_obs,
                  SUM(CAST(x AS DECIMAL(28,6))) AS sx,
                  SUM(CAST(round(x*x, 12) AS DECIMAL(38,12))) AS sxx,
                  count(xp) AS np,
                  SUM(CASE WHEN xp IS NOT NULL
                    THEN CAST(x AS DECIMAL(28,6)) END) AS px,
                  SUM(CAST(xp AS DECIMAL(28,6))) AS py,
                  SUM(CAST(round(x*xp, 12) AS DECIMAL(38,12))) AS pxy,
                  SUM(CASE WHEN xp IS NOT NULL
                    THEN CAST(round(x*x, 12) AS DECIMAL(38,12)) END)
                    AS pxx,
                  SUM(CAST(round(xp*xp, 12) AS DECIMAL(38,12))) AS pyy
                FROM x GROUP BY 1),
          f AS (SELECT series, n_obs, np, sx,
                  CAST(sx AS DOUBLE)/CAST(n_obs AS DOUBLE) AS mean,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    *CAST(sx AS DOUBLE)/CAST(n_obs AS DOUBLE))
                    /(CAST(n_obs AS DOUBLE) - 1) AS variance,
                  CAST(np AS DOUBLE)*CAST(pxy AS DOUBLE)
                    - CAST(px AS DOUBLE)*CAST(py AS DOUBLE) AS num,
                  CAST(np AS DOUBLE)*CAST(pxx AS DOUBLE)
                    - CAST(px AS DOUBLE)*CAST(px AS DOUBLE) AS vx,
                  CAST(np AS DOUBLE)*CAST(pyy AS DOUBLE)
                    - CAST(py AS DOUBLE)*CAST(py AS DOUBLE) AS vy
                FROM a)
          SELECT series, n_obs,
            ${ExactRound.sqlRatioRound(
              "CAST(sx*1000000 AS HUGEINT)", "n_obs*1000000", 6)}
              AS fd_mean,
            CASE WHEN n_obs > 1 AND variance >= 0
              THEN round(sqrt(variance), 6) END AS fd_sd,
            CASE WHEN np > 1 AND vx > 0 AND vy > 0
              THEN round(num/(sqrt(vx)*sqrt(vy)), 6) END AS fd_acf1
          FROM f ORDER BY series"""
    },

    // Lilliefors twin: pettitt's daily chain, q299-style moments,
    // the same A–S erf polynomial in explicit multiplication chains
    "q346_lilliefors" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (max(struct_pack(t := bar_ts, v := close))).v
                      AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS pc
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/pc)*1e8 + 0.5) AS BIGINT) AS r8
                FROM l
                WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
          st AS (SELECT series, count(*) AS n,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(r8 AS DECIMAL(38,0))
                    *CAST(r8 AS DECIMAL(38,0))) AS s2
                FROM r GROUP BY 1),
          mu AS (SELECT series, n,
                  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS mu8,
                  sqrt((CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1)))
                    AS sd8
                FROM st),
          z AS (SELECT r.series, mu.n,
                  (CAST(r8 AS DOUBLE) - mu8)/sd8 AS z,
                  CAST(row_number() OVER (PARTITION BY r.series
                    ORDER BY r8, d) AS BIGINT) AS i
                FROM r JOIN mu ON r.series = mu.series
                WHERE sd8 > 0),
          p2 AS (SELECT *, abs(z)/1.4142135623730951 AS x FROM z),
          p3 AS (SELECT *, 1.0/(1.0 + 0.3275911*x) AS t FROM p2),
          p4 AS (SELECT *,
                   ((((1.061405429*t - 1.453152027)*t + 1.421413741)*t
                     - 0.284496736)*t + 0.254829592)*t AS poly
                 FROM p3),
          p5 AS (SELECT *, 1.0 - poly*exp(-x*x) AS erf FROM p4),
          p6 AS (SELECT series, n, i,
                   CASE WHEN z >= 0 THEN 0.5*(1.0 + erf)
                        ELSE 0.5*(1.0 - erf) END AS phv
                 FROM p5),
          a AS (SELECT series, CAST(max(n) AS BIGINT) AS n_days,
                  max(greatest(
                    CAST(i AS DOUBLE)/CAST(n AS DOUBLE) - phv,
                    phv - (CAST(i AS DOUBLE) - 1)/CAST(n AS DOUBLE)))
                    AS d_raw
                FROM p6 GROUP BY 1)
          SELECT series, n_days, round(d_raw, 6) AS d_stat,
            round(0.886/sqrt(CAST(n_days AS DOUBLE)), 6) AS crit_5pct,
            d_raw > 0.886/sqrt(CAST(n_days AS DOUBLE))
              AS reject_normal
          FROM a ORDER BY series""",

    // Return-MI twin: the same r8 chain, SQL ntile (the ScalableRank
    // contract), joint/margin integer counts, 12dp DECIMAL term folds
    "q343_return_mi" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0),
          nt AS (SELECT series, bar_ts,
                   CAST(ntile(5) OVER (PARTITION BY series
                     ORDER BY r8, bar_ts) AS INTEGER) AS qb
                 FROM r),
          j AS (SELECT a.series AS series_a, b.series AS series_b,
                  a.qb AS qa, b.qb AS qb2, count(*) AS c
                FROM nt a JOIN nt b
                  ON a.bar_ts = b.bar_ts AND a.series < b.series
                GROUP BY 1, 2, 3, 4),
          ma AS (SELECT series_a, series_b, qa,
                   CAST(SUM(c) AS BIGINT) AS ri
                 FROM j GROUP BY 1, 2, 3),
          mb AS (SELECT series_a, series_b, qb2,
                   CAST(SUM(c) AS BIGINT) AS cj
                 FROM j GROUP BY 1, 2, 3),
          tot AS (SELECT series_a, series_b,
                    CAST(SUM(ri) AS BIGINT) AS n
                  FROM ma GROUP BY 1, 2),
          mi AS (SELECT series_a, series_b,
                   SUM(CAST(round(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)
                     * ln(CAST(c AS DOUBLE)*CAST(n AS DOUBLE)
                       /(CAST(ri AS DOUBLE)*CAST(cj AS DOUBLE))), 12)
                     AS DECIMAL(38,12))) AS mi12
                 FROM j
                 JOIN ma USING (series_a, series_b, qa)
                 JOIN mb USING (series_a, series_b, qb2)
                 JOIN tot USING (series_a, series_b)
                 GROUP BY 1, 2),
          hA AS (SELECT series_a, series_b,
                   SUM(CAST(round(CAST(ri AS DOUBLE)/CAST(n AS DOUBLE)
                     * ln(CAST(ri AS DOUBLE)/CAST(n AS DOUBLE)), 12)
                     AS DECIMAL(38,12))) AS ha12
                 FROM ma JOIN tot USING (series_a, series_b)
                 GROUP BY 1, 2),
          hB AS (SELECT series_a, series_b,
                   SUM(CAST(round(CAST(cj AS DOUBLE)/CAST(n AS DOUBLE)
                     * ln(CAST(cj AS DOUBLE)/CAST(n AS DOUBLE)), 12)
                     AS DECIMAL(38,12))) AS hb12
                 FROM mb JOIN tot USING (series_a, series_b)
                 GROUP BY 1, 2),
          f AS (SELECT series_a, series_b, n, mi12, ha12, hb12,
                  CAST(mi12 AS DOUBLE) AS mi,
                  -CAST(ha12 AS DOUBLE) AS ha,
                  -CAST(hb12 AS DOUBLE) AS hb
                FROM mi
                JOIN hA USING (series_a, series_b)
                JOIN hB USING (series_a, series_b)
                JOIN tot USING (series_a, series_b))
          SELECT series_a, series_b, n,
            CAST(round(mi12, 6) AS DOUBLE) AS mi,
            CAST(round(-ha12, 6) AS DOUBLE) AS h_a,
            CAST(round(-hb12, 6) AS DOUBLE) AS h_b,
            CASE WHEN least(ha, hb) > 0
              THEN ${ExactRound.sqlRatioRound(
                "CAST(mi12*1000000000000 AS HUGEINT)",
                "CAST(-greatest(ha12, hb12)*1000000000000 AS HUGEINT)",
                6)} END AS nmi
          FROM f ORDER BY series_a, series_b""",

    // Pettitt twin: daily closes with the bars-CTE tie rule, doubled
    // midranks, all-integer U path, lexicographic earliest-t argmax
    "q340_pettitt" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    CAST(floor((max(struct_pack(t := bar_ts,
                      v := close))).v * 1e6 + 0.5) AS BIGINT) AS v
                  FROM bars GROUP BY 1, 2),
          rk AS (SELECT series, d, v,
                   2*rank() OVER (PARTITION BY series ORDER BY v)
                     + count(*) OVER (PARTITION BY series, v) - 1 AS m2
                 FROM dcl),
          tt AS (SELECT series, d, m2,
                   CAST(row_number() OVER (PARTITION BY series
                     ORDER BY d) AS BIGINT) AS t,
                   CAST(count(*) OVER (PARTITION BY series) AS BIGINT)
                     AS n
                 FROM rk),
          uu AS (SELECT series, d, t, n,
                   SUM(m2) OVER (PARTITION BY series ORDER BY d
                     ROWS UNBOUNDED PRECEDING) - t*(n + 1) AS u
                 FROM tt),
          ag AS (SELECT series, CAST(max(n) AS BIGINT) AS n_days,
                   max(struct_pack(a := abs(u), nt := -t, d := d,
                     u := u)) AS mx
                 FROM uu WHERE t < n GROUP BY 1),
          f AS (SELECT series, n_days,
                  CAST(mx.a AS BIGINT) AS k_stat,
                  CAST(mx.u AS BIGINT) AS u_at_k,
                  mx.d AS change_date,
                  2.0*exp(-6.0*CAST(mx.a AS DOUBLE)*CAST(mx.a AS DOUBLE)
                    /(CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE)
                        *CAST(n_days AS DOUBLE)
                      + CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE)))
                    AS p
                FROM ag)
          SELECT series, n_days, k_stat, u_at_k, change_date,
            round(least(1.0, p), 6) AS p_approx,
            p < 0.05 AS significant
          FROM f ORDER BY series""",

    // PACF twin: q151's ACF chain at maxLag 3, pivoted, then the
    // Durbin–Levinson recursion on the SAME 6dp correlations
    "q337_pacf" -> {
      val branches = (1 to 3).map { k =>
        s"""SELECT series, $k AS k, d6 AS x, lag(d6, $k) OVER w$k AS y
            FROM dd WINDOW w$k AS (PARTITION BY series ORDER BY bar_ts)"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH $barsCte,
          d AS (SELECT series, bar_ts,
                  CAST(floor((close - lag(close) OVER
                    (PARTITION BY series ORDER BY bar_ts)) * 1e6 + 0.5)
                    AS BIGINT) AS d6
                FROM bars),
          dd AS (SELECT * FROM d WHERE d6 IS NOT NULL),
          sh AS (
          $branches),
          g AS (SELECT series, k, count(*) AS n,
                  sum(CAST(x AS DECIMAL(38,0))) AS sx,
                  sum(CAST(y AS DECIMAL(38,0))) AS sy,
                  sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
                  sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
                  sum(CAST(y*y AS DECIMAL(38,0))) AS syy
                FROM sh WHERE y IS NOT NULL GROUP BY 1, 2),
          f AS (SELECT series, k, n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM g),
          r AS (SELECT series, k, n,
                  CASE WHEN vx > 0 AND vy > 0
                    THEN round(num / (sqrt(vx)*sqrt(vy)), 6) END AS r_acf
                FROM f),
          piv AS (SELECT series, min(n) AS n_min,
                    max(CASE WHEN k = 1 THEN r_acf END) AS r1,
                    max(CASE WHEN k = 2 THEN r_acf END) AS r2,
                    max(CASE WHEN k = 3 THEN r_acf END) AS r3
                  FROM r GROUP BY 1),
          dl AS (SELECT *, 1.0 - r1*r1 AS d2,
                   (r2 - r1*r1)/(1.0 - r1*r1) AS p2
                 FROM piv),
          dl2 AS (SELECT *, r1*(1.0 - p2) AS a1p,
                    1.0 - r1*(1.0 - p2)*r1 - p2*r2 AS d3
                  FROM dl)
          SELECT series, CAST(n_min AS BIGINT) AS n_min, r1, r2, r3,
            r1 AS pacf1,
            CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL AND d2 <> 0.0
              THEN round(p2, 6) END AS pacf2,
            CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
              AND r3 IS NOT NULL AND d2 <> 0.0 AND d3 <> 0.0
              THEN round((r3 - a1p*r2 - p2*r1)/d3, 6) END AS pacf3
          FROM dl2 ORDER BY series"""
    },

    // Yang–Zhang twin: daily OHLC with the bars-CTE tie rule, exact
    // 1e8 log terms, DECIMAL quadratic folds, shared vol op order
    "q338_yang_zhang" ->
      s"""WITH $barsCte,
          dly AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                    (min(struct_pack(t := bar_ts, v := open))).v AS o,
                    max(high) AS h, min(low) AS l,
                    (max(struct_pack(t := bar_ts, v := close))).v AS c
                  FROM bars GROUP BY 1, 2),
          lg AS (SELECT *, lag(c) OVER
                   (PARTITION BY series ORDER BY d) AS pc
                 FROM dly),
          t AS (SELECT series,
                  CAST(floor(ln(o/pc)*1e8 + 0.5) AS BIGINT) AS lo,
                  CAST(floor(ln(c/o)*1e8 + 0.5) AS BIGINT) AS lc,
                  CAST(floor(ln(h/o)*1e8 + 0.5) AS BIGINT) AS lho,
                  CAST(floor(ln(h/c)*1e8 + 0.5) AS BIGINT) AS lhc,
                  CAST(floor(ln(l/o)*1e8 + 0.5) AS BIGINT) AS llo,
                  CAST(floor(ln(l/c)*1e8 + 0.5) AS BIGINT) AS llc,
                  CAST(floor(ln(h/l)*1e8 + 0.5) AS BIGINT) AS lhl
                FROM lg
                WHERE pc IS NOT NULL AND pc > 0 AND o > 0 AND h > 0
                  AND l > 0 AND c > 0),
          a AS (SELECT series, count(*) AS n,
                  SUM(CAST(lo AS DECIMAL(38,0))) AS so,
                  SUM(CAST(lo AS DECIMAL(38,0))
                    *CAST(lo AS DECIMAL(38,0))) AS soo,
                  SUM(CAST(lc AS DECIMAL(38,0))) AS sc,
                  SUM(CAST(lc AS DECIMAL(38,0))
                    *CAST(lc AS DECIMAL(38,0))) AS scc,
                  SUM(CAST(lho AS DECIMAL(38,0))
                      *CAST(lhc AS DECIMAL(38,0))
                    + CAST(llo AS DECIMAL(38,0))
                      *CAST(llc AS DECIMAL(38,0))) AS srs,
                  SUM(CAST(lhl AS DECIMAL(38,0))
                    *CAST(lhl AS DECIMAL(38,0))) AS shh
                FROM t GROUP BY 1),
          v AS (SELECT series, n, CAST(n AS DOUBLE) AS nd,
                  (CAST(soo AS DOUBLE) - CAST(so AS DOUBLE)
                    *CAST(so AS DOUBLE)/CAST(n AS DOUBLE))
                    /(CAST(n AS DOUBLE) - 1) AS vo,
                  (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
                    *CAST(sc AS DOUBLE)/CAST(n AS DOUBLE))
                    /(CAST(n AS DOUBLE) - 1) AS vc,
                  CAST(srs AS DOUBLE)/CAST(n AS DOUBLE) AS vrs,
                  CAST(shh AS DOUBLE) AS shhd
                FROM a),
          kk AS (SELECT *,
                   0.34/(1.34 + (nd + 1)/(nd - 1)) AS kf
                 FROM v)
          SELECT series, n AS n_days,
            CASE WHEN n > 1 THEN
              round(sqrt(252.0*shhd/(4.0*ln(2.0)*nd))/1e8, 6)
            END AS park_vol,
            CASE WHEN n > 1 AND vrs >= 0 THEN
              round(sqrt(252.0*vrs)/1e8, 6) END AS rs_vol,
            CASE WHEN n > 1 THEN round(kf, 6) END AS yz_k,
            CASE WHEN n > 1 AND vo + kf*vc + (1.0 - kf)*vrs >= 0 THEN
              round(sqrt(252.0*(vo + kf*vc + (1.0 - kf)*vrs))/1e8, 6)
            END AS yz_vol
          FROM kk ORDER BY series""",

    // Cornish–Fisher twin: q299's exact moment chain, then the
    // quantile expansion on the SAME 6dp mu/sg/sk/xk doubles with
    // literal-arithmetic z constants (no pre-folded products)
    "q334_cornish_fisher" -> {
      def cf(zs: String) =
        s"""($zs + (($zs)*($zs) - 1)*sk/6
            + (($zs)*($zs)*($zs) - 3.0*($zs))*xk/24
            - (2.0*($zs)*($zs)*($zs) - 5.0*($zs))*sk*sk/36)"""
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars WHERE close > 0),
          r AS (SELECT series, bar_ts,
                  CAST(floor(ln(close/prev_c) * 1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l
                WHERE prev_c IS NOT NULL AND prev_c > 0),
          st AS (SELECT series, count(*) AS n,
                  SUM(CAST(r8 AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(r8 AS DECIMAL(38,0))
                    * CAST(r8 AS DECIMAL(38,0))) AS s2
                FROM r GROUP BY 1),
          mu AS (SELECT series, n,
                  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS mu8,
                  sqrt((CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) AS sd8
                FROM st),
          z AS (SELECT r.series, mu.n, mu.mu8, mu.sd8,
                  (CAST(r8 AS DOUBLE) - mu8) / sd8 AS z
                FROM r JOIN mu ON r.series = mu.series
                WHERE sd8 > 0),
          m AS (SELECT series, max(n) AS n, max(mu8) AS mu8,
                  max(sd8) AS sd8,
                  SUM(CAST(round(z*z*z, 12) AS DECIMAL(38,12))) AS sz3,
                  SUM(CAST(round(z*z*z*z, 12) AS DECIMAL(38,12))) AS sz4
                FROM z GROUP BY 1),
          f AS (SELECT series, n,
                  round(mu8/1e8, 6) AS mu,
                  round(sd8/1e8, 6) AS sg,
                  ${ExactRound.sqlRatioRound(
                    "CAST(sz3*1000000000000 AS HUGEINT)",
                    "n*1000000000000", 6)} AS sk,
                  ${ExactRound.sqlRatioRound(
                    "CAST(sz4*1000000000000 AS HUGEINT)" +
                      " - n*CAST(3000000000000 AS HUGEINT)",
                    "n*1000000000000", 6)} AS xk
                FROM m)
          SELECT series, n AS n_rets,
            CASE WHEN n > 3 THEN sk END AS skew,
            CASE WHEN n > 3 THEN xk END AS ex_kurt,
            CASE WHEN n > 3
              THEN round(-(mu + (-1.644854)*sg), 6) END AS var95_gauss,
            CASE WHEN n > 3
              THEN round(-(mu + ${cf("-1.644854")}*sg), 6) END
              AS var95_cf,
            CASE WHEN n > 3
              THEN round(-(mu + (-2.326348)*sg), 6) END AS var99_gauss,
            CASE WHEN n > 3
              THEN round(-(mu + ${cf("-2.326348")}*sg), 6) END
              AS var99_cf
          FROM f ORDER BY series"""
    },

    // Friedman twin: 6dp DECIMAL cell means, complete blocks only,
    // doubled midranks (2·rank + ties − 1) within each day, DECIMAL
    // Σ R², one shared χ²/W op order, q311's CASE fence
    "q327_friedman" ->
      s"""WITH cells AS (SELECT CAST(ts AS DATE) AS b, event_type AS t,
                ${ExactRound.sqlRatioRound(
                  "CAST(SUM(CAST(value AS DECIMAL(18,6)))*1000000" +
                    " AS HUGEINT)",
                  "count(*)*1000000", 6)} AS m
              FROM events GROUP BY 1, 2),
          kd AS (SELECT count(DISTINCT t) AS k FROM cells),
          bc AS (SELECT b, count(*) AS bk FROM cells GROUP BY 1),
          comp AS (SELECT cells.b, cells.t, cells.m
                   FROM cells JOIN bc ON cells.b = bc.b, kd
                   WHERE bc.bk = kd.k),
          r AS (SELECT b, t,
                  2*rank() OVER (PARTITION BY b ORDER BY m)
                    + count(*) OVER (PARTITION BY b, m) - 1 AS m2
                FROM comp),
          grp AS (SELECT t, count(*) AS nb,
                    SUM(CAST(m2 AS DECIMAL(38,0))) AS r2
                  FROM r GROUP BY 1),
          a AS (SELECT count(*) AS k,
                  CAST(max(nb) AS BIGINT) AS n_blocks,
                  SUM(CAST(round(CAST(r2 AS DOUBLE)*CAST(r2 AS DOUBLE)
                    /4.0, 12) AS DECIMAL(38,12))) AS s
                FROM grp),
          f AS (SELECT n_blocks, k,
                  12.0/(CAST(n_blocks AS DOUBLE)*CAST(k AS DOUBLE)
                    *(CAST(k AS DOUBLE)+1))*CAST(s AS DOUBLE)
                    - 3.0*CAST(n_blocks AS DOUBLE)
                      *(CAST(k AS DOUBLE)+1) AS c2
                FROM a)
          SELECT n_blocks, k,
            CASE WHEN n_blocks > 0 AND k > 1 THEN round(c2, 6) END
              AS chi2,
            CASE WHEN n_blocks > 0 AND k > 1
              THEN round(c2/(CAST(n_blocks AS DOUBLE)
                *(CAST(k AS DOUBLE)-1)), 6) END AS kendalls_w,
            CASE WHEN n_blocks > 0 AND k > 1 THEN c2 >
              (CASE WHEN k-1 = 1 THEN 3.8415 WHEN k-1 = 2 THEN 5.9915
                    WHEN k-1 = 3 THEN 7.8147 WHEN k-1 = 4 THEN 9.4877
                    WHEN k-1 = 5 THEN 11.0705 WHEN k-1 = 6 THEN 12.5916
                    WHEN k-1 = 7 THEN 14.0671 WHEN k-1 = 8 THEN 15.5073
                    WHEN k-1 = 9 THEN 16.9190 ELSE 18.3070 END)
            END AS reject_no_effect
          FROM f""",

    // turnover twin: q140's daily-close rule, exact 1e-8 return longs
    // pre-filtered BEFORE the second lag (so "yesterday" = previous
    // valid observation), both days re-ranked within today's
    // cross-section, exact no-ties Spearman rational
    "q410_signal_turnover" ->
      s"""WITH $barsCte,
          dcl AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   (max(struct_pack(t := bar_ts, c := close))).c AS close
                  FROM bars GROUP BY 1, 2),
          l AS (SELECT series, d, close,
                  lag(close) OVER (PARTITION BY series ORDER BY d)
                    AS prev_c
                FROM dcl),
          r AS (SELECT series, d,
                  CAST(floor(ln(close/prev_c)*1e8 + 0.5) AS BIGINT)
                    AS r8
                FROM l WHERE prev_c IS NOT NULL AND prev_c > 0
                  AND close > 0),
          pr AS (SELECT series, d, r8,
                   lag(r8) OVER (PARTITION BY series ORDER BY d) AS pr8
                 FROM r),
          g AS (SELECT * FROM pr WHERE pr8 IS NOT NULL),
          rk AS (SELECT d,
                   row_number() OVER (PARTITION BY d
                     ORDER BY r8 DESC, series) AS rk1,
                   row_number() OVER (PARTITION BY d
                     ORDER BY pr8 DESC, series) AS rk0
                 FROM g),
          a AS (SELECT d, CAST(count(*) AS HUGEINT) AS n,
                  SUM(CAST(rk1 - rk0 AS HUGEINT)*(rk1 - rk0)) AS sd2,
                  SUM(CAST(abs(rk1 - rk0) AS HUGEINT)) AS sad
                FROM rk GROUP BY 1)
          SELECT d, CAST(n AS BIGINT) AS n_series,
            CASE WHEN n > 1 THEN
              ${ExactRound.sqlRatioRound("n*(n*n - 1) - 6*sd2",
                "n*(n*n - 1)", 6)} END AS rank_autocorr,
            ${ExactRound.sqlRatioRound("sad", "n", 4)} AS mean_rank_move
          FROM a ORDER BY d""",

    // vol-of-vol twin: the q92 RV chain verbatim (8dp returns,
    // DECIMAL(28,12) square folds, one sqrt), RV rounds 12dp, q309
    // moment folds, ExactRound mean and a shared-op-order sd finish
    "q412_vol_of_vol" ->
      s"""WITH $barsCte,
          l AS (SELECT series, bar_ts, close,
                  lag(close) OVER (PARTITION BY series ORDER BY bar_ts)
                    AS prev_c
                FROM bars),
          r AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                  round(ln(close/prev_c), 8) AS r
                FROM l WHERE prev_c IS NOT NULL AND prev_c > 0
                  AND close > 0),
          v AS (SELECT series, d,
                  SUM(CAST(r*r AS DECIMAL(28,12))) AS v
                FROM r GROUP BY 1, 2),
          rv AS (SELECT series,
                   round(sqrt(CAST(v AS DOUBLE)), 12) AS rv
                 FROM v),
          a AS (SELECT series, count(*) AS n,
                  SUM(CAST(rv AS DECIMAL(38,12))) AS s1,
                  SUM(CAST(round(rv*rv, 12) AS DECIMAL(38,12))) AS s2
                FROM rv GROUP BY 1)
          SELECT series, CAST(n AS BIGINT) AS n_days,
            ${ExactRound.sqlRatioRound(
              "CAST(s1*1000000000000 AS HUGEINT)",
              "CAST(n AS HUGEINT)*1000000000000", 8)} AS mean_rv,
            CASE WHEN n > 1 THEN
              CASE WHEN CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE) > 0
                THEN round(sqrt((CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                  /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0))), 8)
                ELSE 0.0 END
            END AS sd_rv
          FROM a ORDER BY series""",

    // volume-spikes twin: the exact squared z-compare in HUGEINT —
    // (v·m − S)²·(m−1) > 4·m·(m·Q − S²) with a sign guard; every
    // full-window day emits so the flag is the live column
    "q417_volume_spikes" ->
      s"""WITH $barsCte,
          dv AS (SELECT series, CAST(bar_ts AS DATE) AS d,
                   SUM(n_ticks) AS v
                 FROM bars GROUP BY 1, 2),
          w AS (SELECT series, d, v,
                  count(*) OVER tw AS m,
                  SUM(v) OVER tw AS s,
                  SUM(CAST(v AS HUGEINT)*v) OVER tw AS q
                FROM dv
                WINDOW tw AS (PARTITION BY series ORDER BY d
                  ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)),
          f AS (SELECT series, d, v, m,
                  CAST(s AS HUGEINT) AS s, q,
                  CAST(v AS HUGEINT)*m - CAST(s AS HUGEINT) AS dvm,
                  CAST(m AS HUGEINT)*q
                    - CAST(s AS HUGEINT)*CAST(s AS HUGEINT) AS vn
                FROM w WHERE m = 5)
          SELECT series, d, CAST(v AS BIGINT) AS volume,
            ${ExactRound.sqlRatioRound("s", "m", 4)} AS trailing_mean,
            (dvm > 0 AND dvm*dvm*(m - 1) > 4*CAST(m AS HUGEINT)*vn)
              AS is_spike,
            CASE WHEN vn > 0 THEN
              ${ExactRound.sqlRatioRound(
                "(CASE WHEN dvm >= 0 THEN 1 ELSE -1 END)*dvm*dvm*(m - 1)",
                "CAST(m AS HUGEINT)*vn", 4)} END AS signed_z2
          FROM f ORDER BY series, d""",

    // efficiency twin: day-scoped |Δclose| at 12dp folded in
    // DECIMAL(38,12), first/last closes via the bars-CTE tie rule,
    // ExactRound quotient of the unscaled integers
    "q421_range_efficiency" ->
      s"""WITH $barsCte,
          b AS (SELECT series, CAST(bar_ts AS DATE) AS d, bar_ts,
                  close,
                  lag(close) OVER (PARTITION BY series,
                    CAST(bar_ts AS DATE) ORDER BY bar_ts) AS pc
                FROM bars),
          a AS (SELECT series, d, count(*) AS n_bars,
                  (max(struct_pack(t := bar_ts, c := close))).c AS cl,
                  (min(struct_pack(t := bar_ts, c := close))).c AS cf,
                  SUM(CAST(round(abs(close - pc), 12)
                    AS DECIMAL(38,12))) AS vol
                FROM b GROUP BY 1, 2)
          SELECT series, d, CAST(n_bars AS BIGINT) AS n_bars,
            CASE WHEN vol > 0 THEN
              ${ExactRound.sqlRatioRound(
                "CAST(CAST(round(abs(cl - cf), 12) AS DECIMAL(38,12))" +
                  "*1000000000000 AS HUGEINT)",
                "CAST(vol*1000000000000 AS HUGEINT)", 6)} END
              AS efficiency
          FROM a ORDER BY series, d"""
  )
}
