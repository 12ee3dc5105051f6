package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Post-load data-quality reports — the reference's two validators
  * re-expressed as DataFrame ops instead of driver-side Python loops:
  *
  *   - [[classify]] / [[runSummary]]: per-symbol completeness with
  *     OK/WARN/FAIL thresholds (`/root/reference/project/
  *     validate_data.py:138-216`);
  *   - [[classifyDynamic]]: the latest-day validator with
  *     early-close session-shape detection from observed min/max
  *     timestamps (`validate_data.py:52-135`);
  *   - [[calendarClassify]]: calendar-aware PASS/FAIL/WARN with
  *     too-many-bars (extended-hours leak) detection and early-close
  *     annotation (`/root/reference/validate_calendar_alpaca.py:
  *     181-249`).
  *
  * Both are pure aggregations + a broadcast calendar join — no
  * collect() loops, so they run at any scale.
  */
object QualityReport {

  /** WARN up to this many missing bars, FAIL above
    * (`validate_data.py:13`, FAIL_MISSING_BARS_GT=2). */
  val FailMissingBarsGt = 2

  /** Calendar tolerance in bars (`validate_calendar_alpaca.py:13`). */
  val ToleranceBars = 2

  /** Bars per full 5-min session (`validate_data.py:9-10`). */
  val ExpectedBarsFull = 78

  /** Early-close detection window (`validate_data.py:29-33`): the
    * dynamic validator switches to observed-session expected bars only
    * when the session is at least this many minutes short of full. */
  val EarlyCloseDetectMinutes = 120

  /** Per-(symbol, trading day) bar counts. */
  def symbolDayCounts(bars: DataFrame, symbolCol: String = "symbol", tsCol: String = "timestamp"): DataFrame =
    bars.groupBy(col(symbolCol).as("symbol"), to_date(col(tsCol)).as("trading_date"))
      .agg(count(lit(1)).as("actual_bars"))

  /** OK/WARN/FAIL per symbol-day: missing = max(0, expected − actual);
    * 0 → OK, ≤ threshold → WARN, else FAIL
    * (`validate_data.py:153,170-191`). */
  def classify(counts: DataFrame, expectedBars: Int = ExpectedBarsFull): DataFrame =
    counts
      .withColumn("expected_bars", lit(expectedBars))
      .withColumn("missing_bars", greatest(lit(0L), lit(expectedBars.toLong) - col("actual_bars")))
      .withColumn("status",
        when(col("missing_bars") === 0, "OK")
          .when(col("missing_bars") <= FailMissingBarsGt, "WARN")
          .otherwise("FAIL"))
      .withColumn("notes",
        when(col("missing_bars") === 0, lit("complete"))
          .otherwise(format_string("Missing %d bars", col("missing_bars"))))

  /** Run rollup: totals + overall badge + badge notes
    * (`validate_data.py:194-216`). */
  def runSummary(classified: DataFrame): DataFrame =
    classified.agg(
      count(lit(1)).as("symbols_total"),
      sum(when(col("status") === "OK", 1L).otherwise(0L)).as("symbols_ok"),
      sum(when(col("status") === "WARN", 1L).otherwise(0L)).as("symbols_warn"),
      sum(when(col("status") === "FAIL", 1L).otherwise(0L)).as("symbols_fail"),
      max(col("missing_bars")).as("max_missing"))
      .withColumn("overall_status",
        when(col("symbols_fail") > 0, "FAIL")
          .when(col("symbols_warn") > 0, "WARN")
          .otherwise("OK"))
      .withColumn("notes",
        when(col("symbols_fail") > 0,
          concat(col("symbols_fail").cast("string"),
            lit(" symbols failed completeness.")))
          .when(col("symbols_warn") > 0,
            concat(col("symbols_warn").cast("string"),
              lit(" symbols have missing bars (within threshold).")))
          .otherwise(lit("All symbols complete.")))

  /** Dynamic latest-day validator (`validate_data.py:52-135`): find the
    * latest trading day present, infer the session shape from that
    * day's observed first/last bar, and classify per symbol against
    * dynamic expected bars when the session is clearly short (early
    * close) or the full-day constant otherwise. Everything — latest-day
    * selection, session detection, per-symbol classification — derives
    * from ONE scan and one partial-aggregated shuffle: counts and
    * observed min/max share a (symbol, day) groupBy, and the latest day
    * + 1-row session stats re-aggregate that tiny frame (broadcast back
    * in) — no collect(), no driver loop, no second pass over the input.
    * Per-row notes carry the session note exactly as the reference
    * formats it (`validate_data.py:130-135,175-185`). */
  def classifyDynamic(
      bars: DataFrame,
      symbolCol: String = "symbol",
      tsCol: String = "timestamp",
      expectedBarsFull: Int = ExpectedBarsFull,
      barMinutes: Int = 5,
      earlyCloseDetectMinutes: Int = EarlyCloseDetectMinutes): DataFrame = {
    val d = to_date(col(tsCol))
    // ONE scan + one partial-aggregated shuffle: per-(symbol, day)
    // counts AND observed min/max come out of the same tiny grouped
    // frame (symbols × days rows); latest-day selection and the 1-row
    // session stats then aggregate that frame, not the input again
    val grouped = bars
      .groupBy(col(symbolCol).as("symbol"), d.as("trading_date"))
      .agg(count(lit(1)).as("actual_bars"),
        min(col(tsCol)).as("sym_first_ts"), max(col(tsCol)).as("sym_last_ts"))
    val latestDay = grouped.agg(max(col("trading_date")).as("trading_date"))
    val latest = grouped.join(broadcast(latestDay), "trading_date")
    // ceil_div(detect_minutes, bar_minutes) — validate_data.py:35-36,129
    val detectBars = (earlyCloseDetectMinutes + barMinutes - 1) / barMinutes
    val sess = latest
      .agg(min(col("sym_first_ts")).as("first_ts"), max(col("sym_last_ts")).as("last_ts"))
      .withColumn("expected_dynamic",
        MarketCalendar.expectedBarsDynamic(col("first_ts"), col("last_ts"), barMinutes))
      .withColumn("is_short",
        col("expected_dynamic") < lit(expectedBarsFull - detectBars))
      .withColumn("expected_bars",
        when(col("is_short"), col("expected_dynamic"))
          .otherwise(lit(expectedBarsFull)))
      .withColumn("session_note",
        when(col("is_short"),
          concat(lit("Short session detected; expected_bars="),
            col("expected_bars").cast("string"), lit(" (dynamic)")))
          .otherwise(concat(lit("Regular session assumed; expected_bars="),
            col("expected_bars").cast("string"), lit(" (full)"))))
      .select(col("expected_bars"), col("session_note"))
    latest
      .select(col("symbol"), col("trading_date"), col("actual_bars"))
      .crossJoin(broadcast(sess))
      .withColumn("missing_bars",
        greatest(lit(0L), col("expected_bars").cast("long") - col("actual_bars")))
      .withColumn("status",
        when(col("missing_bars") === 0, "OK")
          .when(col("missing_bars") <= FailMissingBarsGt, "WARN")
          .otherwise("FAIL"))
      .withColumn("notes",
        when(col("missing_bars") === 0, col("session_note"))
          .otherwise(concat(col("session_note"), lit("; Missing "),
            col("missing_bars").cast("string"), lit(" bars"))))
      .select(col("symbol"), col("trading_date"), col("expected_bars"),
        col("actual_bars"), col("missing_bars"), col("status"), col("notes"))
  }

  /** Calendar-aware classifier (`validate_calendar_alpaca.py:203-245`):
    *   - day not in the calendar → WARN "unexpected trading day";
    *   - actual < expected − tolerance → FAIL (missing bars);
    *   - actual > expected → FAIL (extended hours leaked);
    *   - otherwise PASS; early-close days annotated.
    * `expected = (close − open)/5` with NO +1 — the deliberate
    * off-by-one vs the dynamic validator (SURVEY appendix). */
  def calendarClassify(counts: DataFrame, calendar: DataFrame): DataFrame = {
    val cal = MarketCalendar.expectedBarsCalendar(calendar)
      .select(col("date"), col("open").as("session_open_et"),
        col("close").as("session_close_et"), col("expected_bars"))
    counts
      .join(broadcast(cal), counts("trading_date") === to_date(cal("date")), "left")
      .drop("date")
      .withColumn("status",
        when(col("expected_bars").isNull, "WARN")
          .when(col("actual_bars") < col("expected_bars") - ToleranceBars, "FAIL")
          .when(col("actual_bars") > col("expected_bars"), "FAIL")
          .otherwise("PASS"))
      .withColumn("notes",
        when(col("expected_bars").isNull, lit("not in calendar (unexpected trading day)"))
          .otherwise(concat(
            when(col("actual_bars") < col("expected_bars") - ToleranceBars,
              lit("missing bars (feed gap or filter issue)"))
              .when(col("actual_bars") > col("expected_bars"),
                lit("too many bars (extended hours leaked)"))
              .otherwise(lit("full/near-full")),
            when(col("expected_bars") < ExpectedBarsFull,
              concat(lit(" | early close ("), col("session_open_et"), lit("-"),
                col("session_close_et"), lit(" ET)")))
              .otherwise(lit("")))))
  }
}
