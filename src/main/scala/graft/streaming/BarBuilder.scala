package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.ops.MarketBars.{firstBy, lastBy}

/** Structured-Streaming extension of the reference's batch pipeline
  * (SURVEY §2.10): the reference re-fetches a 60-day lookback nightly
  * and overwrites (`project/ingest_data.py:36,101`,
  * `project/transform_data.py:207`); this module builds the same
  * 5-minute bars and rolling z-score incrementally from a tick stream.
  *
  * Scale posture: the windowed aggregation state is (series × open
  * windows) — bounded by the watermark; the z-score state is one ring
  * buffer of 60 doubles per pair — KB-sized per key, safe for millions
  * of keys on a 1000-executor cluster with RocksDB state store.
  */
object BarBuilder {

  /** Tick stream → 5-minute OHLCV bars.
    *
    * open/close use `MarketBars.firstBy`/`lastBy` (min/max over
    * `struct(ts, value)`, the batch bars' rule) — order-insensitive
    * aggregates that Structured Streaming can maintain incrementally
    * (ties on ts resolve to the min/max value, deterministically).
    * Late ticks beyond `watermark` are dropped; duplicate ticks (same
    * series+ts) can be pre-filtered with `dropDuplicatesWithinWatermark`
    * upstream — the streaming replacement for the UNIQUE(symbol,
    * timestamp) constraint the reference's overwrite path lost
    * (`schema.py:42`, SURVEY §1.3).
    */
  def bars(
      ticks: DataFrame,
      seriesCol: String,
      tsCol: String,
      valueCol: String,
      windowLen: String = "5 minutes",
      watermark: Option[String] = Some("10 minutes")): DataFrame = {
    val marked = watermark.fold(ticks)(w => ticks.withWatermark(tsCol, w))
    marked
      .groupBy(
        col(seriesCol).as("series"),
        window(col(tsCol), windowLen).as("w"))
      .agg(
        firstBy(col(tsCol), col(valueCol)).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        lastBy(col(tsCol), col(valueCol)).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("volume"))
      .select(col("series"), col("w.start").as("bar_ts"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"), col("volume"))
  }

  /** Streaming daily VWAP/TWAP — the chained-stateful twin of
    * `MarketBars.vwap(MarketBars.bars(...))`: a 5-minute bar window
    * aggregation feeding a 1-day window aggregation in ONE query
    * (Spark's multiple-stateful-operator chain; the day window keys on
    * `window_time` of the bar window, so event-time propagates and the
    * watermark finalizes day rows in append mode).
    *
    * Arithmetic is the batch rule verbatim: one double multiply per
    * bar, DECIMAL-accumulated sums — incremental merge order cannot
    * perturb the emitted values, so stream == batch bit-for-bit
    * (StreamingSpec). State: (series × open 5-min windows) + (series ×
    * open days), both watermark-bounded. */
  def dailyVwap(
      ticks: DataFrame,
      seriesCol: String,
      tsCol: String,
      valueCol: String,
      barLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val bars5 = ticks
      .withWatermark(tsCol, watermark)
      .groupBy(
        col(seriesCol).as("series"),
        window(col(tsCol), barLen).as("w"))
      .agg(
        lastBy(col(tsCol), col(valueCol)).as("close"),
        count(lit(1)).as("n_ticks"))
    bars5
      .groupBy(col("series"), window(window_time(col("w")), "1 day").as("dw"))
      .agg(
        count(lit(1)).as("n_bars"),
        sum(col("n_ticks")).as("n_ticks"),
        sum((col("close") * col("n_ticks").cast(DoubleType))
          .cast(DecimalType(28, 12))).as("pv"),
        sum(col("close").cast(DecimalType(28, 12))).as("pc"))
      .select(col("series"), to_date(col("dw.start")).as("d"),
        col("n_bars"), col("n_ticks"),
        round(col("pv").cast(DoubleType) / col("n_ticks").cast(DoubleType), 6)
          .as("vwap"),
        round(col("pc").cast(DoubleType) / col("n_bars").cast(DoubleType), 6)
          .as("twap"))
  }

  /** Stream-stream time-range join — trade↔quote matching: each trade
    * pairs with the same series' quotes from the trailing `lookback`
    * window ([ts − lookback, ts], inclusive). The range condition on
    * BOTH event-time columns plus the two watermarks bound both join
    * states, so state stays O(rate × lookback) per series regardless
    * of stream length. Inner matches emit as soon as both sides
    * arrive — no window close needed. Batch semantics are the plain
    * range join on the same frames (StreamingSpec: stream == batch).
    */
  def tradeQuoteJoin(
      trades: DataFrame,
      quotes: DataFrame,
      lookbackMinutes: Int = 5,
      watermark: String = "10 minutes"): DataFrame = {
    require(lookbackMinutes >= 1)
    val t = trades
      .select(col("event_type").as("series"), col("ts"),
        col("value").as("trade_px"))
      .withWatermark("ts", watermark)
    val q = quotes
      .select(col("event_type").as("qseries"), col("ts").as("qts"),
        col("value").as("quote_px"))
      .withWatermark("qts", watermark)
    t.join(q, expr(
      s"""series = qseries
          AND qts >= ts - INTERVAL $lookbackMinutes MINUTES
          AND qts <= ts"""))
      .select(col("series"), col("ts"), col("trade_px"),
        col("qts"), col("quote_px"))
  }

  /** Streaming ingest dedup: drop duplicate (series, ts) ticks within
    * the watermark — the streaming replacement for the reference's
    * lost UNIQUE(symbol, timestamp) constraint (`schema.py:42`). State
    * is bounded by the watermark horizon. */
  def dedupedTicks(
      ticks: DataFrame,
      seriesCol: String,
      tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    ticks
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(seriesCol, tsCol)

  /** Stream bars into a date-partitioned lake path, one idempotent-ish
    * batch at a time: foreachBatch + append with in-batch key dedup —
    * the incremental counterpart of the reference's full-refresh
    * overwrite (`transform_data.py:200-209`, SURVEY §7.4). */
  def sinkBars(bars: DataFrame, path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    bars
      .withColumn("trading_date", org.apache.spark.sql.functions.to_date(org.apache.spark.sql.functions.col("bar_ts")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.appendDeduped(
          batch, path, Seq("series", "bar_ts"), Seq("trading_date"))
      }
      .start()

  /** Stream-stream pair alignment: the two legs of a windowed bar
    * stream joined on exact bar timestamp (the streaming J1 —
    * `transform_data.py:121-141`). Equality on the watermarked
    * event-time column bounds both join states, so this chains after
    * the windowed bar aggregation (multiple stateful operators). */
  def pairSpreadStream(bars: DataFrame, sym1: String, sym2: String): DataFrame = {
    // same positive-price guard as the batch pairSpread (stream==batch)
    val a = bars.filter(col("series") === sym1 && col("close") > 0)
      .select(col("bar_ts").as("ts_a"), col("close").as("close1"))
    val b = bars.filter(col("series") === sym2 && col("close") > 0)
      .select(col("bar_ts").as("ts_b"), col("close").as("close2"))
    a.join(b, col("ts_a") === col("ts_b"), "inner")
      .select(
        lit(s"$sym1-$sym2").as("pair_name"),
        col("ts_a").as("bar_ts"),
        col("close1"), col("close2"),
        (log(col("close1")) - log(col("close2"))).as("spread"))
  }

  case class SpreadPoint(pair_name: String, bar_ts: Timestamp, spread: Double)

  case class ZPoint(
      pair_name: String,
      bar_ts: Timestamp,
      spread: Double,
      window_size: Int,
      z_score: Option[Double])

  /** Ring buffer of the trailing spreads for one pair. */
  case class ZState(values: Vector[Double])

  /** Trailing 60-row z-score maintained across micro-batches with
    * `flatMapGroupsWithState` — the streaming twin of
    * `PairAnalytics.rollingZScore` (same warm-up gate and
    * NULL-on-degenerate-stddev semantics, `transform_data.py:145-154`).
    * Spreads fold through [[OrderedFold]] in bar-time order (upstream
    * watermark + bar aggregation already serialize normal flow — the
    * fold's guard covers replays).
    */
  def rollingZScore(
      spreads: Dataset[SpreadPoint],
      windowRows: Int = 60,
      minWindow: Int = 30): Dataset[ZPoint] = {
    val spark = spreads.sparkSession
    import spark.implicits._
    OrderedFold(spreads.groupByKey(_.pair_name), ZState(Vector.empty),
      OrderedFold.byTime[SpreadPoint](_.bar_ts)) { (pair, st, p) =>
      val values = (st.values :+ p.spread).takeRight(windowRows)
      val n = values.length
      val z =
        if (n < minWindow) None
        else {
          val mean = values.sum / n
          val varS = values.map(v => (v - mean) * (v - mean)).sum / (n - 1)
          val sd = math.sqrt(varS)
          if (sd == 0.0 || sd.isNaN) None else Some((p.spread - mean) / sd)
        }
      (ZState(values), Some(ZPoint(pair, p.bar_ts, p.spread, n, z)))
    }
  }
}
