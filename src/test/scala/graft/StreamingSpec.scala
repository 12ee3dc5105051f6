package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{MarketBars, PairAnalytics}
import graft.sources.Tables
import graft.streaming.{BarBuilder, ConversionMonitor, DrawdownMonitor, JumpMonitor, ObvMonitor, PageCusumMonitor, StaleRunMonitor, TickBarMonitor, TickFlowMonitor, TransitionStream}

case class Tick(event_type: String, ts: Timestamp, value: Double)

case class Doc(doc_id: Long, ts: Timestamp, text: String)

case class UserEvent(user_id: Long, ts: Timestamp)

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ticksFromEvents(n: Int): Seq[Tick] = {
    Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value"))
      .orderBy("ts").limit(n)
      .collect()
      .map(r => Tick(r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSeq
  }

  test("streaming bars match batch bars on the same ticks (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = ticksFromEvents(2000)
    val stream = MemoryStream[Tick]
    val q = BarBuilder.bars(stream.toDF(), "event_type", "ts", "value")
      .writeStream.format("memory").queryName("bars_out")
      .outputMode("complete").start()
    try {
      // two micro-batches to exercise incremental state
      stream.addData(data.take(1000))
      q.processAllAvailable()
      stream.addData(data.drop(1000))
      q.processAllAvailable()
      // open/close included: both paths use the deterministic
      // min/max(struct(ts, value)) tie-break, so they must agree even
      // on duplicate-(series, ts) ticks
      val cols = Seq("series", "bar_ts", "open", "high", "low", "close", "n_ticks", "volume")
      val streamed = spark.table("bars_out").select(cols.head, cols.tail: _*)
      val batch = MarketBars.bars(
          data.toDF("event_type", "ts", "value"), "event_type", "ts", "value")
        .select(cols.head, cols.tail: _*)
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("watermark drops late ticks; dedup-within-watermark kills duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // base aligned to the 5-minute grid so ts(0) starts a window
    def ts(min: Int) = new Timestamp(1700000400000L + min * 60000L)
    val stream = MemoryStream[Tick]
    val deduped = BarBuilder.dedupedTicks(stream.toDF(), "event_type", "ts", "10 minutes")
    // watermark already defined by dedupedTicks; redefining is disallowed
    val q = BarBuilder.bars(deduped, "event_type", "ts", "value", watermark = None)
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      // batch 1: two ticks in window [0,5), duplicate of the first, watermark -> 90-10
      stream.addData(Seq(
        Tick("s", ts(0), 1.0), Tick("s", ts(0), 99.0), Tick("s", ts(2), 2.0),
        Tick("s", ts(90), 5.0)))
      q.processAllAvailable()
      // batch 2: a tick 80+ minutes late -> beyond watermark, dropped
      stream.addData(Seq(Tick("s", ts(1), 42.0)))
      q.processAllAvailable()
      // batch 3: advance watermark far so remaining windows close
      stream.addData(Seq(Tick("s", ts(200), 6.0)))
      q.processAllAvailable()
      val out = spark.table("late_out").collect()
        .map(r => (r.getAs[Timestamp]("bar_ts"), r.getAs[Long]("n_ticks"),
          r.getAs[Double]("high"))).toList
      val w0 = out.find(_._1 == ts(0)).getOrElse(fail(s"no [0,5) bar; emitted: $out"))
      // duplicate (ts0, 99.0) removed -> 2 ticks, high is 2.0 not 99.0;
      // the late 42.0 never entered
      assert(w0._2 === 2L)
      assert(w0._3 === 2.0)
    } finally q.stop()
  }

  test("chained streaming daily VWAP matches the batch vwap/twap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = ticksFromEvents(2000)
    val stream = MemoryStream[Tick]
    val q = BarBuilder.dailyVwap(stream.toDF(), "event_type", "ts", "value")
      .writeStream.format("memory").queryName("vwap_out")
      .outputMode("append").start()
    try {
      stream.addData(data.take(1000))
      q.processAllAvailable()
      stream.addData(data.drop(1000))
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past
      // every real day (takes effect NEXT batch), the second triggers
      // finalization; the sentinel's own still-open windows never emit
      val maxTs = data.map(_.ts.getTime).max
      stream.addData(Seq(Tick("click", new Timestamp(maxTs + 3L * 86400000L), 1.0)))
      q.processAllAvailable()
      stream.addData(Seq(Tick("click", new Timestamp(maxTs + 3L * 86400000L + 1000L), 1.0)))
      q.processAllAvailable()
      val streamed = spark.table("vwap_out")
      val batch = MarketBars.vwap(MarketBars.bars(
        data.toDF("event_type", "ts", "value"), "event_type", "ts", "value"))
      assert(streamed.count() > 0)
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("stream-stream trade-quote range join matches the batch range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = ticksFromEvents(1200)
    // same series on both sides so the equality key matches; quotes
    // get a distinct value stream (shifted) to tell the columns apart
    val trades = data.map(t => Tick("s", t.ts, t.value))
    val quotes = data.map(t => Tick("s", new Timestamp(t.ts.getTime + 30000L), t.value + 1000))
    val ts = MemoryStream[Tick]
    val qs = MemoryStream[Tick]
    val out = BarBuilder.tradeQuoteJoin(ts.toDF(), qs.toDF(), lookbackMinutes = 5)
      .writeStream.format("memory").queryName("tq_out")
      .outputMode("append").start()
    try {
      // interleave the two sides across micro-batches
      ts.addData(trades.take(600)); qs.addData(quotes.take(600))
      out.processAllAvailable()
      ts.addData(trades.drop(600)); qs.addData(quotes.drop(600))
      out.processAllAvailable()
      val streamed = spark.table("tq_out")
      val batch = BarBuilder.tradeQuoteJoin(
        trades.toDF("event_type", "ts", "value"),
        quotes.toDF("event_type", "ts", "value"), lookbackMinutes = 5)
      assert(streamed.count() > 0)
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally out.stop()
  }

  test("streaming bars sink to a date-partitioned lake path with key dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("bars_sink")
    val stream = MemoryStream[Tick]
    val bars = BarBuilder.bars(stream.toDF(), "event_type", "ts", "value")
    val q = BarBuilder.sinkBars(bars, s"$tmp/data", s"$tmp/ckpt")
    try {
      val data = ticksFromEvents(500)
      stream.addData(data.take(250)); q.processAllAvailable()
      stream.addData(data.drop(250)); q.processAllAvailable()
      val written = spark.read.parquet(s"$tmp/data")
      assert(written.count() > 0)
      assert(written.columns.contains("trading_date"))
      // no duplicate (series, bar_ts) keys within what was emitted
      assert(written.groupBy("series", "bar_ts").count().filter(col("count") > 1).count() === 0)
    } finally q.stop()
  }

  test("stream-stream pair join matches the batch pair spread") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = ticksFromEvents(2000).filter(t => t.event_type == "click" || t.event_type == "view")
    val stream = MemoryStream[Tick]
    val bars = BarBuilder.bars(stream.toDF(), "event_type", "ts", "value")
    val q = BarBuilder.pairSpreadStream(bars, "click", "view")
      .writeStream.format("memory").queryName("pair_out")
      .outputMode("append").start()
    try {
      stream.addData(data.take(1000)); q.processAllAvailable()
      stream.addData(data.drop(1000)); q.processAllAvailable()
      // close remaining windows/join state
      val last = data.map(_.ts.getTime).max
      stream.addData(Seq(Tick("click", new Timestamp(last + 3600_000L), 1.0),
        Tick("view", new Timestamp(last + 3600_000L), 1.0)))
      q.processAllAvailable()
      val streamed = spark.table("pair_out")
        .select(col("bar_ts"), round(col("spread"), 9).as("s"))
      val batchBars = MarketBars.bars(
        data.toDF("event_type", "ts", "value"), "event_type", "ts", "value")
      val batch = PairAnalytics.pairSpread(batchBars, "click", "view")
        .select(col("bar_ts"), round(col("spread"), 9).as("s"))
        // the sentinel window closes after everything real; exclude it
        .filter(col("bar_ts") <= new Timestamp(last))
      assert(streamed.filter(col("bar_ts") <= new Timestamp(last)).except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(batch.count() > 0)
    } finally q.stop()
  }

  test("stateful rolling z-score matches the batch window across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch reference on real pair spreads
    val bars = MarketBars.bars(Tables.events(spark, sf), "event_type", "ts", "value")
    val spread = PairAnalytics.pairSpread(bars, "click", "view")
      .select("pair_name", "bar_ts", "spread").orderBy("bar_ts")
    val batchZ = PairAnalytics.rollingZScore(spread, windowRows = 5, minWindow = 3)
      .select(col("bar_ts"), col("window_size"), col("z_score"))
      .collect().map(r => (r.getTimestamp(0),
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap

    val points = spread.collect().map(r =>
      BarBuilder.SpreadPoint(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val stream = MemoryStream[BarBuilder.SpreadPoint]
    val q = BarBuilder.rollingZScore(stream.toDS(), windowRows = 5, minWindow = 3)
      .writeStream.format("memory").queryName("z_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("z_out").collect()
      assert(streamed.length === points.length)
      streamed.foreach { r =>
        val ts = r.getAs[Timestamp]("bar_ts")
        val (bn, bz) = batchZ(ts)
        assert(r.getAs[Int]("window_size").toLong === bn, s"window_size@$ts")
        val sz = Option(r.getAs[Any]("z_score")).map(_.asInstanceOf[Double])
        (sz, bz) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"z@$ts")
          case (a, b) => assert(a === b, s"z null-ness@$ts")
        }
      }
    } finally q.stop()
  }

  test("streaming drawdown path matches the batch running-max window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch reference: running peak over (ts, event_id) order per type
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // one tick per (type, ts) so stream (keyed by ts alone) and batch agree
    val ticks = Tables.events(spark, sf)
      .groupBy(col("event_type"), col("ts"))
      .agg(max(col("value")).as("value"))
    val batch = ticks
      .withColumn("peak", max(col("value")).over(w))
      .collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getAs[Double]("peak")))
      .toMap

    val points = ticks.collect()
      .map(r => DrawdownMonitor.Tick(r.getString(0), r.getTimestamp(1),
        r.getDouble(2))).toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[DrawdownMonitor.Tick]
    val q = DrawdownMonitor.drawdowns(stream.toDS())
      .writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("dd_out").collect()
      assert(streamed.length === points.length)
      streamed.foreach { r =>
        val key = (r.getAs[String]("series"), r.getAs[Timestamp]("ts"))
        assert(r.getAs[Double]("peak") === batch(key), s"peak@$key")
        assert(r.getAs[Double]("drawdown") ===
          r.getAs[Double]("value") - batch(key), s"dd@$key")
      }
    } finally q.stop()
  }

  test("streaming transition edges aggregate to the batch Markov matrix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    // batch reference: the q120 operator
    val batch = graft.ops.EventAnalytics.transitions(ev)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap

    val rows = ev.select("user_id", "ts", "event_id", "event_type", "value")
      .as[(Long, Timestamp, Long, String, Double)]
      .collect()
      .map(t => TransitionStream.Ev(t._1, t._2, t._3, t._4, t._5))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val stream = MemoryStream[TransitionStream.Ev]
    val q = TransitionStream.transitions(stream.toDS())
      .writeStream.format("memory").queryName("tr_out")
      .outputMode("append").start()
    try {
      // three micro-batches so edges span batch boundaries
      val third = rows.length / 3
      stream.addData(rows.take(third)); q.processAllAvailable()
      stream.addData(rows.slice(third, 2 * third)); q.processAllAvailable()
      stream.addData(rows.drop(2 * third)); q.processAllAvailable()
      // aggregate the streamed edges exactly as q120 aggregates
      val streamed = spark.table("tr_out")
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
            .as("sv"))
        .select(col("prev_type"), col("next_type"), col("n"),
          round(col("sv").cast("double") / col("n").cast("double"), 6)
            .as("avg_value"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (k, (n, avg)) =>
        assert(n === batch(k)._1, s"n@$k")
        assert(avg === batch(k)._3, s"avg@$k")
      }
    } finally q.stop()
  }

  test("streaming corpus curation: cross-batch exact dedup + quality gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2025-11-03 10:00:00")
    def at(m: Int) = new Timestamp(base.getTime + m * 60000L)
    // 120 distinct words -> quality ~1.0; the all-stopword doc gates out
    val good = (1 to 120).map(i => s"word$i").mkString(" ")
    val junk = "the the the the the the the the the the"
    val b1 = Seq(Doc(1L, at(0), good), Doc(2L, at(1), junk))
    // batch 2: doc 3 duplicates doc 1's text within the watermark ->
    // dropped; doc 4 is distinct and good
    val b2 = Seq(Doc(3L, at(2), good), Doc(4L, at(3), good + "extra words here"))
    val stream = MemoryStream[Doc]
    val q = graft.streaming.CorpusStream.curate(stream.toDF(), "ts")
      .writeStream.format("memory").queryName("corpus_out")
      .outputMode("append").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      // close the watermark so pending rows emit
      stream.addData(Seq(Doc(99L, at(600), good + "sentinel"))); q.processAllAvailable()
      val ids = spark.table("corpus_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L), "first-seen copy survives")
      assert(!ids.contains(3L), "cross-batch duplicate dropped")
      assert(ids.contains(4L), "distinct good doc survives")
      assert(!ids.contains(2L), "low-quality doc gated out")
    } finally q.stop()
  }

  test("streaming LSH candidates match the batch q25 candidate set on replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2025-11-03 10:00:00")
    // real corpus slice with synthesized event times inside one
    // watermark horizon; the slice is big enough to hold genuine
    // near-dup pairs (the sf corpus plants them)
    val raw = Tables.rebalance(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id").limit(400).collect()
      .zipWithIndex
      .map { case (r, i) =>
        Doc(r.getLong(0), new Timestamp(base.getTime + i * 1000L),
          r.getString(1))
      }.toSeq
    val stream = MemoryStream[Doc]
    val q = graft.streaming.NearDupMonitor.candidatePairs(
        stream.toDF(), "ts")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      // mid-stream split: pairs whose members arrive in DIFFERENT
      // micro-batches must still emit from the join state
      stream.addData(raw.take(200)); q.processAllAvailable()
      stream.addData(raw.drop(200)); q.processAllAvailable()
      val streamed = spark.table("neardup_out")
        .select(col("id_a"), col("id_b")).distinct()
      val batch = graft.ops.DedupOps.lshCandidatePairs(
        raw.toDF("doc_id", "ts", "text"), "text", "doc_id")
      assert(batch.count() > 0, "fixture must contain near-dup pairs")
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming session windows match batch gaps-and-islands sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"))
      .orderBy("ts").limit(2000)
      .collect()
      .map(r => UserEvent(r.getLong(0), r.getTimestamp(1)))
      .toSeq
    val stream = MemoryStream[UserEvent]
    val q = graft.streaming.Sessionizer.userSessions(stream.toDF(), "user_id", "ts")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    try {
      stream.addData(data.take(1000)); q.processAllAvailable()
      stream.addData(data.drop(1000)); q.processAllAvailable()
      val streamed = spark.table("sessions_out")
        .select("user_id", "n_events", "start_ts", "end_ts")
      // batch twin with the STRICT merge rule (diff >= gap breaks),
      // matching session_window's [start, last+gap) semantics
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"us")
      val wRun = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      val batch = data.toDF("user_id", "ts")
        .withColumn("us", unix_micros($"ts"))
        .withColumn("prev", lag($"us", 1).over(w))
        .withColumn("brk",
          when($"prev".isNull || $"us" - $"prev" >= 1800000000L, 1L).otherwise(0L))
        .withColumn("sess", sum($"brk").over(wRun))
        .groupBy($"user_id", $"sess")
        .agg(count(lit(1)).as("n_events"),
          min($"ts").as("start_ts"), max($"ts").as("end_ts"))
        .select("user_id", "n_events", "start_ts", "end_ts")
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("streaming Page-CUSUM alarms match the batch prefix-sum path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bars = MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    // baseline = each series' first bar close (collected once, shared
    // verbatim by both engines' paths)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"series").orderBy($"bar_ts")
    val mu0 = bars.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).select("series", "close").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val slack = 0.1
    val h = 0.5
    val h6 = math.floor(h * 1e6 + 0.5).toLong
    val baseDf = mu0.toSeq.toDF("series", "mu0")
    val batch = MarketBars.pageCusumPath(bars, baseDf, slack)
      .filter($"s6" > h6)
      .select($"series", $"bar_ts".as("ts"), $"s6")

    val points = bars.collect()
      .map(r => PageCusumMonitor.Bar(r.getString(0), r.getTimestamp(1),
        r.getAs[Double]("close"))).toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[PageCusumMonitor.Bar]
    val q = PageCusumMonitor.alarms(stream.toDS(), mu0, slack, h)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("cusum_out").select("series", "ts", "s6")
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("Page-CUSUM survives a kill + checkpoint restart: no lost, no duplicate alarm") {
    // the one production Structured-Streaming property the parity
    // tests can't show: stateful recovery. Phase 1 processes half the
    // bars and STOPS; phase 2 restarts FROM THE CHECKPOINT (same
    // MemoryStream instance — the checkpoint's offsets address it) and
    // processes the rest. The parquet sink is exactly-once under
    // checkpointing, so the union must equal the batch alarm set —
    // any lost state shows as a missing/shifted alarm (S carries
    // across the restart), any replay as a duplicate row.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bars = MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"series").orderBy($"bar_ts")
    val mu0 = bars.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).select("series", "close").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val slack = 0.1
    val h = 0.5
    val h6 = math.floor(h * 1e6 + 0.5).toLong
    val baseDf = mu0.toSeq.toDF("series", "mu0")
    val batch = MarketBars.pageCusumPath(bars, baseDf, slack)
      .filter($"s6" > h6)
      .select($"series", $"bar_ts".as("ts"), $"s6")

    val points = bars.collect()
      .map(r => PageCusumMonitor.Bar(r.getString(0), r.getTimestamp(1),
        r.getAs[Double]("close"))).toSeq.sortBy(_.ts.getTime)
    val ckpt = java.nio.file.Files.createTempDirectory("cusum_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("cusum_rec").toString
    val stream = MemoryStream[PageCusumMonitor.Bar]
    def start() = PageCusumMonitor.alarms(stream.toDS(), mu0, slack, h)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val (h1, h2) = points.splitAt(points.length / 2)
    val q1 = start()
    try {
      stream.addData(h1); q1.processAllAvailable()
    } finally q1.stop() // kill mid-stream; h2 not yet seen
    stream.addData(h2)
    val q2 = start() // recover from the checkpoint
    try q2.processAllAvailable() finally q2.stop()

    val recovered = spark.read.parquet(outDir).select("series", "ts", "s6")
    assert(recovered.count() === recovered.distinct().count(),
      "duplicate alarm after restart")
    assert(recovered.except(batch).count() === 0, "spurious alarm")
    assert(batch.except(recovered).count() === 0, "lost alarm")
    assert(recovered.count() > 0)
  }

  test("stateful z-score runs on the RocksDB state store with kill + restart") {
    // production state backend: the default HDFS-backed memory store
    // caps state at executor heap; RocksDB spills to local disk and is
    // what a 100 TB deployment runs. Same recovery protocol as the
    // Page-CUSUM test, now with the provider swapped — proves our
    // stateful operators and checkpoints are provider-agnostic.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bars = MarketBars.bars(Tables.events(spark, sf),
        "event_type", "ts", "value")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"series").orderBy($"bar_ts")
      val mu0 = bars.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select("series", "close").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val slack = 0.1
      val h = 0.5
      val h6 = math.floor(h * 1e6 + 0.5).toLong
      val baseDf = mu0.toSeq.toDF("series", "mu0")
      val batch = MarketBars.pageCusumPath(bars, baseDf, slack)
        .filter($"s6" > h6)
        .select($"series", $"bar_ts".as("ts"), $"s6")

      val points = bars.collect()
        .map(r => PageCusumMonitor.Bar(r.getString(0), r.getTimestamp(1),
          r.getAs[Double]("close"))).toSeq.sortBy(_.ts.getTime)
      val ckpt = java.nio.file.Files.createTempDirectory("rocks_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("rocks_out").toString
      val stream = MemoryStream[PageCusumMonitor.Bar]
      def start() = PageCusumMonitor.alarms(stream.toDS(), mu0, slack, h)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

      val (h1, h2) = points.splitAt(points.length / 2)
      val q1 = start()
      try { stream.addData(h1); q1.processAllAvailable() } finally q1.stop()
      stream.addData(h2)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      val recovered = spark.read.parquet(outDir).select("series", "ts", "s6")
      assert(recovered.count() === recovered.distinct().count())
      assert(recovered.except(batch).count() === 0)
      assert(batch.except(recovered).count() === 0)
      assert(recovered.count() > 0)
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("streaming conversions match the batch first-signup->first-purchase pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    // batch reference: q176's per-user pair relation (the summary's
    // input), same min-first / strictly-after rules
    val firstA = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("a_ts"))
    val batch = ev.filter($"event_type" === "purchase").alias("b")
      .join(firstA.alias("a"), Seq("user_id"))
      .filter($"b.ts" > $"a_ts")
      .groupBy($"user_id", $"a_ts")
      .agg(min($"b.ts").as("b_ts"))
      .select($"user_id", $"a_ts", $"b_ts",
        (unix_micros($"b_ts") - unix_micros($"a_ts")).as("lat_us"))

    val points = ev.filter($"event_type".isin("signup", "purchase"))
      .select($"user_id", $"ts", $"event_type").collect()
      .map(r => ConversionMonitor.Ev(r.getLong(0), r.getTimestamp(1),
        r.getString(2))).toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[ConversionMonitor.Ev]
    val q = ConversionMonitor.conversions(stream.toDS(), "signup", "purchase")
      .writeStream.format("memory").queryName("conv_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("conv_out")
        .select($"user_id", $"a_ts", $"b_ts", $"lat_us")
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("streaming bipower terms roll up to the batch RV/BV/jump rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bars = MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val batch = MarketBars.bipowerJump(bars)
      .select($"series", $"d", $"n_rets", $"m_pairs", $"rv", $"bv",
        $"jump_frac")

    val points = bars.collect()
      .map(r => JumpMonitor.Bar(r.getString(0), r.getTimestamp(1),
        r.getAs[Double]("close"))).toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[JumpMonitor.Bar]
    val q = JumpMonitor.terms(stream.toDS())
      .writeStream.format("memory").queryName("jump_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      // the scaled-long term sums ARE the batch decimal sums; the
      // final double expressions below are the batch emission verbatim
      // (sums stay far below 2^53, so long/1e12 division is exact-in,
      // correctly-rounded-out — identical to decimal.toDouble)
      def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
      val g = spark.table("jump_out")
        .groupBy($"series", $"d")
        .agg(count(lit(1)).as("n_rets"),
          sum($"rr12").as("srr12"),
          count($"bv12").as("m_pairs"),
          sum($"bv12").as("sbv12"))
        .filter($"m_pairs" >= 2)
      val rv = dbl($"srr12") / lit(1e12)
      val bv = lit(math.Pi) / 2 *
        (dbl($"m_pairs") / (dbl($"m_pairs") - 1)) * (dbl($"sbv12") / lit(1e12))
      val streamed = g.select($"series", $"d", $"n_rets", $"m_pairs",
        round(rv, 10).as("rv"), round(bv, 10).as("bv"),
        when(rv > 0, round(greatest(lit(0.0), lit(1.0) - bv / rv), 6))
          .as("jump_frac"))
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("streaming OBV flows aggregate to the batch day rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bars = MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val batch = MarketBars.obv(bars)
    val points = bars.collect()
      .map(r => ObvMonitor.Bar(r.getString(0), r.getTimestamp(1),
        r.getAs[Double]("close"), r.getAs[Double]("volume")))
      .toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[ObvMonitor.Bar]
    val q = ObvMonitor.flows(stream.toDS())
      .writeStream.format("memory").queryName("obv_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      // replay the earliest h2 rows: the <= lastTs guard must drop them
      stream.addData(h2.take(50)); q.processAllAvailable()
      val streamed = spark.table("obv_out")
        .groupBy($"series", $"d")
        .agg(
          round(sum($"flow6").cast("double") / lit(1e6), 6).as("day_flow"),
          round(max_by($"obv6", $"ts").cast("double") / lit(1e6), 6)
            .as("obv"))
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("streaming tick-rule signs aggregate to the batch daily flow") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bars = MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val batch = MarketBars.tickRuleFlow(bars)
      .select($"series", $"d", $"n_bars", $"buy_ticks", $"sell_ticks",
        $"flow_imbalance")

    val points = bars.collect()
      .map(r => TickFlowMonitor.Bar(r.getString(0), r.getTimestamp(1),
        r.getAs[Double]("close"), r.getAs[Long]("n_ticks")))
      .toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[TickFlowMonitor.Bar]
    val q = TickFlowMonitor.signs(stream.toDS())
      .writeStream.format("memory").queryName("tickflow_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      // roll the emitted per-bar signs up to the batch daily-flow shape
      val streamed = spark.table("tickflow_out")
        .groupBy($"series", $"d")
        .agg(count(lit(1)).as("n_bars"),
          sum(when($"tickSign" === 1, $"nTicks").otherwise(0L))
            .as("buy_ticks"),
          sum(when($"tickSign" === -1, $"nTicks").otherwise(0L))
            .as("sell_ticks"))
        .select($"series", $"d", $"n_bars", $"buy_ticks", $"sell_ticks",
          when($"buy_ticks" + $"sell_ticks" > 0,
            floor(($"buy_ticks".cast("double") - $"sell_ticks".cast("double")) /
              ($"buy_ticks".cast("double") + $"sell_ticks".cast("double")) *
              lit(1e6) + lit(0.5)) / lit(1e6)).as("flow_imbalance"))
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("streaming completed tick bars match the batch information bars") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    // batch truth: COMPLETED bars only (the stream's tail bar is open)
    val batch = MarketBars.tickBars(ev, "event_type", "ts", "value",
        "event_id", ticksPerBar = 50)
      .filter($"n_ticks" === 50)
      .select($"series", $"bar_id", $"n_ticks", $"start_ts", $"end_ts",
        $"open", $"high", $"low", $"close")

    val points = ev
      .select($"event_type", $"ts", $"value", $"event_id")
      .collect()
      .map(r => TickBarMonitor.Tick(r.getString(0), r.getTimestamp(1),
        r.getDouble(2), r.getLong(3)))
      .toSeq
      // feed in full-µs (ts, id) order: the replay guard would drop a
      // same-millisecond-but-earlier-µs tick arriving late
      .sortBy(t => (t.ts.getTime * 1000L + (t.ts.getNanos / 1000L) % 1000L,
        t.id))
    val stream = MemoryStream[TickBarMonitor.Tick]
    val q = TickBarMonitor.bars(stream.toDS(), ticksPerBar = 50)
      .writeStream.format("memory").queryName("tickbars_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("tickbars_out")
        .select($"series", $"barId".as("bar_id"), $"nTicks".as("n_ticks"),
          $"startTs".as("start_ts"), $"endTs".as("end_ts"),
          $"open", $"high", $"low", $"close")
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("streaming completed stale runs match the batch islands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // quantize closes so equal-close runs actually occur in the
    // synthetic feed (raw doubles are almost surely distinct)
    val bars = MarketBars.bars(Tables.events(spark, sf),
        "event_type", "ts", "value")
      .select($"series", $"bar_ts",
        floor($"close").cast("double").as("close"))
    // batch islands, dropping each series' LAST island (the stream
    // keeps the trailing run open in state — unknowable length)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"series").orderBy($"bar_ts")
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val islands = bars
      .withColumn("brk",
        when(lag($"close", 1).over(w).isNull ||
          $"close" =!= lag($"close", 1).over(w), 1L).otherwise(0L))
      .withColumn("grp", sum($"brk").over(wRun))
      .groupBy($"series", $"grp")
      .agg(min($"bar_ts").as("start_ts"), max($"bar_ts").as("end_ts"),
        first($"close").as("close"), count(lit(1)).as("run_len"))
    val lastGrp = islands.groupBy($"series").agg(max($"grp").as("grp"))
    val batch = islands.join(lastGrp, Seq("series", "grp"), "left_anti")
      .select("series", "start_ts", "end_ts", "close", "run_len")

    val points = bars.collect()
      .map(r => StaleRunMonitor.Bar(r.getString(0), r.getTimestamp(1),
        r.getDouble(2))).toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[StaleRunMonitor.Bar]
    val q = StaleRunMonitor.completedRuns(stream.toDS())
      .writeStream.format("memory").queryName("stale_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("stale_out")
        .select("series", "start_ts", "end_ts", "close", "run_len")
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }
  test("streaming PSI drift matches the batch split bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cutTs = Timestamp.valueOf("2024-01-15 00:00:00")
    val batch = graft.ops.EventAnalytics.psiDrift(Tables.events(spark, sf),
        col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    val all = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value"), col("event_id"))
      .collect()
      .map(r => graft.streaming.PsiMonitor.Event(
        r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3)))
    // reference side = the batch run's baseline slice, with the batch
    // run's GLOBAL [mn, mx] edges and the same bin formula
    val ref = all.groupBy(_.eventType).map { case (t, evs) =>
      val mn = evs.map(_.value).min
      val mx = evs.map(_.value).max
      val aSide = evs.filter(_.ts.before(cutTs))
      val bins = aSide.groupBy { e =>
        if (mx > mn)
          math.min(9, math.floor((e.value - mn) * 10.0 / (mx - mn)).toInt)
        else 0
      }.map { case (b, g) => b -> g.size.toLong }
      t -> graft.streaming.PsiMonitor.Ref(mn, mx, aSide.size.toLong, bins)
    }
    val live = all.filter(e => !e.ts.before(cutTs))
      .sortBy(e => (e.ts.getTime, e.eventId)).toSeq
    val stream = MemoryStream[graft.streaming.PsiMonitor.Event]
    val q = graft.streaming.PsiMonitor.monitor(stream.toDS(), ref)
      .writeStream.format("memory").queryName("psi_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = live.splitAt(live.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("psi_out").collect()
      assert(streamed.length === live.length, "one alert per live event")
      // the LAST emission per key is the full-comparison PSI — the
      // exact batch number
      val finals = streamed
        .map(r => (r.getAs[String]("eventType"),
          (r.getAs[Timestamp]("ts"), r.getAs[Long]("nb"),
            r.getAs[Double]("psi"), r.getAs[Boolean]("drifted"))))
        .groupBy(_._1)
        .map { case (t, rs) => t -> rs.map(_._2).maxBy(_._2) } // nb strictly grows
      assert(finals.keySet === batch.keySet)
      finals.foreach { case (t, (_, nbLive, psi, drifted)) =>
        val (bNa, bNb, bPsi, bDrift) = batch(t)
        assert(ref(t).na === bNa, s"na@$t")
        assert(nbLive === bNb, s"nb@$t")
        assert(psi === bPsi, s"psi@$t")
        assert(drifted === bDrift, s"drifted@$t")
      }
    } finally q.stop()
  }

  test("streaming Bollinger bands match the batch window bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bars = graft.ops.MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val batch = graft.ops.MarketBars.bollinger(bars)
      .collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)),
        (r.getDouble(3), r.getDouble(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)))))
      .toMap

    val points = bars.select("series", "bar_ts", "close").collect()
      .map(r => graft.streaming.BollingerMonitor.Bar(
        r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSeq.sortBy(_.ts.getTime)
    val stream = MemoryStream[graft.streaming.BollingerMonitor.Bar]
    val q = graft.streaming.BollingerMonitor.bands(stream.toDS())
      .writeStream.format("memory").queryName("bb_out")
      .outputMode("append").start()
    try {
      val (h1, h2) = points.splitAt(points.length / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = spark.table("bb_out").collect()
      assert(streamed.length === batch.size,
        "one streamed band per full batch frame")
      streamed.foreach { r =>
        val key = (r.getAs[String]("series"), r.getAs[Timestamp]("ts"))
        val (m, u, l, p) = batch(key)
        assert(r.getAs[Double]("bbMid") === m, s"mid@$key")
        assert(r.getAs[Double]("bbUpper") === u, s"upper@$key")
        assert(r.getAs[Double]("bbLower") === l, s"lower@$key")
        assert(Option(r.getAs[java.lang.Double]("pctB"))
          .map(_.doubleValue) === p, s"pctB@$key")
      }
    } finally q.stop()
  }

  test("streaming session stats match the q180 batch rollup (mid-session split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"))
      .orderBy("ts").limit(2000).collect()
      .map(r => graft.streaming.SessionStatsMonitor.Ev(
        r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .toSeq
    val stream = MemoryStream[graft.streaming.SessionStatsMonitor.Ev]
    val q = graft.streaming.SessionStatsMonitor.stats(stream.toDS())
      .writeStream.format("memory").queryName("sess_stats_out")
      .outputMode("update").start()
    try {
      // split mid-stream (and therefore mid-session for active users)
      stream.addData(raw.take(1000)); q.processAllAvailable()
      stream.addData(raw.drop(1000)); q.processAllAvailable()
      // update mode appends a row per (user, batch): the final state
      // is the row with the highest n_events per user
      val streamed = spark.table("sess_stats_out")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"n_sessions", $"max_depth",
          $"mean_depth", $"mean_dur_s")).as("s"))
        .select($"user_id", $"s.n_sessions", $"s.n_events", $"s.max_depth",
          $"s.mean_depth", $"s.mean_dur_s")
      val batch = graft.ops.EventAnalytics.sessionStats(
        raw.toDF("user_id", "ts", "event_id"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming session funnel matches the q209 batch rollup (mid-session split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .orderBy("ts").limit(2000).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getLong(3)))
      .toSeq
    val stream = MemoryStream[(Long, Timestamp, String, Long)]
    val q = graft.streaming.SessionFunnel.sessionOutcomes(
        stream.toDF().toDF("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", "event_type")
      .writeStream.format("memory").queryName("sess_funnel_out")
      .outputMode("append").start()
    try {
      stream.addData(raw.take(1000)); q.processAllAvailable()
      stream.addData(raw.drop(1000)); q.processAllAvailable()
      // sentinel far past the watermark horizon closes every session;
      // its own (still-open) session never emits
      val lastTs = raw.map(_._2.getTime).max
      stream.addData(Seq((999999L, new Timestamp(lastTs + 86400000L), "click", 999999L)))
      q.processAllAvailable()
      // roll the emitted per-session rows up by start day — the q209
      // output shape — and compare to the batch op on the same events
      val streamed = spark.table("sess_funnel_out")
        .groupBy(to_date($"start_ts").as("d"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when($"entered", 1L).otherwise(0L)).as("n_entered"),
          sum(when($"converted", 1L).otherwise(0L)).as("n_converted"))
        .withColumn("conv_rate",
          when($"n_entered" > 0,
            round($"n_converted".cast("double") /
              $"n_entered".cast("double"), 4)))
      val batch = graft.ops.EventAnalytics.sessionFunnel(
        raw.toDF("user_id", "ts", "event_type", "event_id"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming incremental agg store equals the batch daily rollup under LATE data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = ticksFromEvents(3000)
    // replay shape: the q195 scenario — every 7th row arrives LAST,
    // i.e. out of event-time order across micro-batches (days split
    // mid-stream AND revisited by a late sliver)
    val late = data.zipWithIndex.filter(_._2 % 7 == 0).map(_._1)
    val early = data.zipWithIndex.filter(_._2 % 7 != 0).map(_._1)
    val stream = MemoryStream[Tick]
    val store = graft.streaming.IncrementalAggStream.newStore(spark)
    val q = graft.streaming.IncrementalAggStream.start(stream.toDF(), store)
    try {
      stream.addData(early.take(1500)); q.processAllAvailable()
      stream.addData(early.drop(1500)); q.processAllAvailable()
      stream.addData(late); q.processAllAvailable()
      val streamed = store.snapshot()
      val batch = graft.ops.WarehouseOps.dailyAgg(
        data.toDF("event_type", "ts", "value"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }
  test("streaming trigger-lift hits roll up to the batch q400 pair counts (mid-window split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy("ts").limit(2000).collect()
      .map(r => graft.streaming.TriggerLiftMonitor.Ev(
        r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .toSeq
    val stream = MemoryStream[graft.streaming.TriggerLiftMonitor.Ev]
    val q = graft.streaming.TriggerLiftMonitor.hits(stream.toDS())
      .writeStream.format("memory").queryName("trig_out")
      .outputMode("append").start()
    try {
      // split mid-stream: anchors opened in batch 1 must keep
      // collecting hits from batch 2 (the stateful window)
      stream.addData(raw.take(1000)); q.processAllAvailable()
      stream.addData(raw.drop(1000)); q.processAllAvailable()
      val streamed = spark.table("trig_out")
        .groupBy($"a", $"b").agg(count(lit(1)).as("n_hit"))
      val batch = graft.ops.EventAnalytics.triggerLift(
          raw.toDF("user_id", "event_id", "event_type", "ts"))
        .filter(col("n_hit") > 0)
        .select(col("a"), col("b"), col("n_hit"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming session concurrency matches the batch q398 sweep (mid-session split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"))
      .orderBy("ts").limit(2000).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .toSeq
    val stream = MemoryStream[(Long, Timestamp)]
    val store = graft.streaming.ConcurrencyMonitor.newStore(spark)
    val q = graft.streaming.ConcurrencyMonitor.start(
      stream.toDF().toDF("user_id", "ts"), store)
    try {
      // split mid-stream (and therefore mid-session for active users)
      stream.addData(raw.take(1000)); q.processAllAvailable()
      stream.addData(raw.drop(1000)); q.processAllAvailable()
      // sentinel far past the watermark horizon closes every session;
      // its own (still-open) session never emits
      val lastTs = raw.map(_._2.getTime).max
      stream.addData(Seq((999999L, new Timestamp(lastTs + 86400000L))))
      q.processAllAvailable()
      val streamed = store.snapshot()
      // batch side: event_id is only a tie-break; synthesize one from
      // the (unique) ts order so the island build matches
      val batch = graft.ops.EventAnalytics.sessionConcurrency(
        raw.zipWithIndex
          .map { case ((u, t), i) => (u, t, i.toLong) }
          .toDF("user_id", "ts", "event_id"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming SCD2 store equals the batch q138 dimension under LATE data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the q138 snapshot shape off orders: (custkey, snap_d, tie, status)
    val raw = Tables.orders(spark, sf)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey"), col("o_orderstatus"))
      .limit(3000).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2), r.getString(3)))
      .toSeq
    // replay shape mirrors the incremental-agg test: every 7th row
    // arrives LAST — keys split mid-history AND revisited by a late
    // out-of-order sliver (interior-of-run inserts included)
    val late = raw.zipWithIndex.filter(_._2 % 7 == 0).map(_._1)
    val early = raw.zipWithIndex.filter(_._2 % 7 != 0).map(_._1)
    val stream = MemoryStream[(Long, java.sql.Date, Long, String)]
    val store = graft.streaming.Scd2Stream.newStore(spark)
    val q = graft.streaming.Scd2Stream.start(
      stream.toDF().toDF("custkey", "snap_d", "tie", "status"), store)
    try {
      stream.addData(early.take(1400)); q.processAllAvailable()
      stream.addData(early.drop(1400)); q.processAllAvailable()
      stream.addData(late); q.processAllAvailable()
      val streamed = store.snapshot()
      val batch = graft.ops.WarehouseOps.scd2(
        raw.toDF("custkey", "snap_d", "tie", "status"),
        "custkey", "snap_d", "tie", "status")
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming funnel store equals batch q416 under LATE data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"))
      .limit(4000).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .toSeq
    // every 7th row arrives LAST — including step-1 events whose late
    // arrival LOWERS t1 and re-qualifies previously-skipped step-2s
    val late = raw.zipWithIndex.filter(_._2 % 7 == 0).map(_._1)
    val early = raw.zipWithIndex.filter(_._2 % 7 != 0).map(_._1)
    val stream = MemoryStream[(Long, Timestamp, String)]
    val store = graft.streaming.FunnelStream.newStore(
      spark, steps, windowSec = 172800L)
    val q = graft.streaming.FunnelStream.start(
      stream.toDF().toDF("user_id", "ts", "event_type"), store)
    try {
      stream.addData(early.take(2000)); q.processAllAvailable()
      stream.addData(early.drop(2000)); q.processAllAvailable()
      stream.addData(late); q.processAllAvailable()
      val streamed = store.snapshot()
      val batch = graft.ops.EventAnalytics.windowFunnel(
        raw.toDF("user_id", "ts", "event_type"), steps, 172800L)
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming snapshot-diff store equals batch q174 under LATE data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cut1 = to_timestamp(lit("2024-01-15 00:00:00"))
    val cut2 = to_timestamp(lit("2024-02-01 00:00:00"))
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .limit(4000).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .toSeq
    // every 7th row arrives LAST: keys split mid-history AND revisited
    // by a late out-of-order sliver, including some users' argmax rows
    val late = raw.zipWithIndex.filter(_._2 % 7 == 0).map(_._1)
    val early = raw.zipWithIndex.filter(_._2 % 7 != 0).map(_._1)
    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    val store = graft.streaming.SnapshotDiffStream.newStore(spark)
    val q = graft.streaming.SnapshotDiffStream.start(
      stream.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      store, cut1, cut2)
    try {
      stream.addData(early.take(2000)); q.processAllAvailable()
      stream.addData(early.drop(2000)); q.processAllAvailable()
      stream.addData(late); q.processAllAvailable()
      val streamed = store.snapshot()
      val batch = graft.ops.EventAnalytics.snapshotDiff(
        raw.toDF("user_id", "ts", "event_id", "event_type"), cut1, cut2)
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming growth-accounting store equals batch q418 under LATE data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"))
      .limit(4000).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .toSeq
    // every 7th row arrives LAST: late interior days must flip
    // retained/resurrected classifications and retract churn rows the
    // early slivers implied — the exactness case the membership store
    // (vs any bounded per-user scalar state) exists for
    val late = raw.zipWithIndex.filter(_._2 % 7 == 0).map(_._1)
    val early = raw.zipWithIndex.filter(_._2 % 7 != 0).map(_._1)
    val stream = MemoryStream[(Long, Timestamp, String)]
    val store = graft.streaming.GrowthStream.newStore(spark)
    val q = graft.streaming.GrowthStream.start(
      stream.toDF().toDF("user_id", "ts", "event_type"), store)
    try {
      stream.addData(early.take(2000)); q.processAllAvailable()
      stream.addData(early.drop(2000)); q.processAllAvailable()
      stream.addData(late); q.processAllAvailable()
      val streamed = store.snapshot()
      val batch = graft.ops.EventAnalytics.growthAccounting(
        raw.toDF("user_id", "ts", "event_type"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
      // ledger invariant holds on the streamed snapshot too
      val bad = streamed.filter(
        col("n_new") + col("n_retained") + col("n_resurrected") =!=
          col("n_active")).count()
      assert(bad === 0L, "new + retained + resurrected must equal active")
    } finally q.stop()
  }

  test("streaming audience-overlap store equals batch q420 under LATE data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"))
      .limit(4000).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .toSeq
    // every 7th row arrives LAST: late rows add (type, user, day)
    // memberships that must grow n_both AND the audience sizes the
    // Jaccard denominators read — the set-union store absorbs them
    // in any order
    val late = raw.zipWithIndex.filter(_._2 % 7 == 0).map(_._1)
    val early = raw.zipWithIndex.filter(_._2 % 7 != 0).map(_._1)
    val stream = MemoryStream[(Long, Timestamp, String)]
    val store = graft.streaming.AudienceStream.newStore(spark)
    val q = graft.streaming.AudienceStream.start(
      stream.toDF().toDF("user_id", "ts", "event_type"), store)
    try {
      stream.addData(early.take(2000)); q.processAllAvailable()
      stream.addData(early.drop(2000)); q.processAllAvailable()
      stream.addData(late); q.processAllAvailable()
      val streamed = store.snapshot()
      val batch = graft.ops.EventAnalytics.audienceOverlap(
        raw.toDF("user_id", "ts", "event_type"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  /** `base` plus `us` microseconds. */
  private def atMicros(base: String, us: Int): Timestamp = {
    val t = Timestamp.valueOf(base)
    t.setNanos(us * 1000)
    t
  }

  test("drawdown applies a second tick in the same millisecond (µs replay guard)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // t1 and t2 share a millisecond but not a microsecond; t2 arrives
    // in the next micro-batch, so only a µs guard lets it through
    val t1 = atMicros("2024-01-02 14:30:00", 100)
    val t2 = atMicros("2024-01-02 14:30:00", 200)
    val t3 = atMicros("2024-01-02 14:30:01", 0)
    val stream = MemoryStream[DrawdownMonitor.Tick]
    val q = DrawdownMonitor.drawdowns(stream.toDS())
      .writeStream.format("memory").queryName("dd_us_out")
      .outputMode("append").start()
    try {
      stream.addData(DrawdownMonitor.Tick("A", t1, 10.0)); q.processAllAvailable()
      stream.addData(DrawdownMonitor.Tick("A", t3, 11.0),
        DrawdownMonitor.Tick("A", t2, 12.0)); q.processAllAvailable()
      val got = spark.table("dd_us_out").as[DrawdownMonitor.DdPoint]
        .collect().sortBy(p => (p.ts.getTime, p.ts.getNanos)).toSeq
      assert(got === Seq(
        DrawdownMonitor.DdPoint("A", t1, 10.0, 10.0, 0.0),
        DrawdownMonitor.DdPoint("A", t2, 12.0, 12.0, 0.0),
        DrawdownMonitor.DdPoint("A", t3, 11.0, 12.0, -1.0)))
    } finally q.stop()
  }

  test("transitions order same-millisecond events by time, not by event_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // x and y share a millisecond; their ids run against time order
    val rows = Seq(
      TransitionStream.Ev(1L, atMicros("2024-01-02 14:29:59", 0), 1L, "p", 1.0),
      TransitionStream.Ev(1L, atMicros("2024-01-02 14:30:00", 100), 20L, "x", 2.0),
      TransitionStream.Ev(1L, atMicros("2024-01-02 14:30:00", 500), 10L, "y", 3.0))
    val batch = graft.ops.EventAnalytics.transitions(rows.toDF())
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(batch === Map(("p", "x") -> 1L, ("x", "y") -> 1L))
    val stream = MemoryStream[TransitionStream.Ev]
    val q = TransitionStream.transitions(stream.toDS())
      .writeStream.format("memory").queryName("tr_us_out")
      .outputMode("append").start()
    try {
      stream.addData(rows.reverse); q.processAllAvailable()
      val streamed = spark.table("tr_us_out")
        .groupBy(col("prev_type"), col("next_type")).count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("merge store lineage stays one checkpointed relation over 30 micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = ticksFromEvents(900)
    val stream = MemoryStream[Tick]
    val store = graft.streaming.IncrementalAggStream.newStore(spark)
    val q = graft.streaming.IncrementalAggStream.start(stream.toDF(), store)
    def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      1 + (p.children.map(depth) :+ 0).max
    try {
      data.grouped(30).zipWithIndex.foreach { case (chunk, i) =>
        stream.addData(chunk); q.processAllAvailable()
        val plan = store.frame.queryExecution.logical
        assert(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] &&
          depth(plan) === 1, s"store plan after batch $i:\n$plan")
      }
      val streamed = store.snapshot()
      val batch = graft.ops.WarehouseOps.dailyAgg(
        data.toDF("event_type", "ts", "value"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }
}
