package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CompletenessAudit, MarketCalendar, QualityReport}
import graft.sources.{AlpacaSource, Sinks}

/** Reference-parity behaviors over Alpaca-shaped fixtures: clean,
  * RTH/DST filtering, completeness audit, DQ classifiers, and the
  * end-to-end pipeline (SURVEY §5 test plan).
  */
class ParitySpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val fixtureDir =
    AlpacaFixtures.write(Files.createTempDirectory("alpaca_fixtures")).toString

  private lazy val cleaned =
    AlpacaSource.cleanBars(AlpacaSource.readRaw(spark, fixtureDir)).cache()

  private lazy val rth = AlpacaSource.filterMarketHoursKeepUtc(cleaned).cache()

  private val calendar = Seq(
    MarketCalendar.Session("2025-10-31", "09:30", "16:00"),
    MarketCalendar.Session("2025-11-03", "09:30", "16:00"),
    MarketCalendar.Session("2025-11-04", "09:30", "16:00"),
    MarketCalendar.Session("2025-11-28", "09:30", "13:00"))

  test("clean drops null-close and unparseable-timestamp bars; null volume survives") {
    // per symbol: bad-ts bar dropped; AAPL additionally loses the null-close slot
    assert(cleaned.filter(col("timestamp_utc").isNull).count() === 0)
    assert(cleaned.filter(col("close").isNull).count() === 0)
    assert(cleaned.filter(col("volume").isNull).count() === 1) // planted null-volume bar
    assert(cleaned.schema("close").dataType.typeName.startsWith("decimal"))
  }

  test("RTH filter: 78 bars per full day minus planted gaps; pre/post/weekend dropped") {
    val counts = rth.groupBy(col("symbol"), to_date(col("timestamp")).as("d"))
      .count().collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(counts(("MSFT", "2025-10-31")) === 78)
    assert(counts(("MSFT", "2025-11-03")) === 76) // 2 planted gaps
    assert(counts(("AAPL", "2025-10-31")) === 77) // null-close slot dropped
    assert(counts(("AAPL", "2025-11-04")) === 74) // 4 planted gaps
    assert(counts(("AAPL", "2025-11-28")) === 42) // early close
    assert(!counts.contains(("MSFT", "2025-11-01"))) // weekend dropped
  }

  test("DST fall-back: UTC open shifts 13:30 -> 14:30 across Nov 2 2025") {
    val opens = rth.groupBy(to_date(col("timestamp")).as("d"))
      .agg(min(col("timestamp")).as("open_utc")).collect()
      .map(r => r.getDate(0).toString -> r.getTimestamp(1).toInstant.toString).toMap
    assert(opens("2025-10-31").contains("13:30:00")) // EDT, UTC-4
    assert(opens("2025-11-03").contains("14:30:00")) // EST, UTC-5
  }

  test("completeness audit finds exactly the planted missing slots") {
    val calDf = MarketCalendar.sessionsDF(spark, calendar)
    val missing = CompletenessAudit.missingBars(calDf, rth).cache()
    val bySymDay = missing.groupBy(col("symbol"), col("trading_date")).count()
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(bySymDay === Map(
      ("MSFT", "2025-11-03") -> 2L,
      ("AAPL", "2025-10-31") -> 1L,
      ("AAPL", "2025-11-04") -> 4L))
    missing.unpersist()
  }

  test("quality classifier: OK/WARN/FAIL thresholds and run summary badge") {
    val fullDays = Seq("2025-10-31", "2025-11-03", "2025-11-04")
    val counts = QualityReport.symbolDayCounts(rth)
      .filter(col("trading_date").cast("string").isin(fullDays: _*))
    val classified = QualityReport.classify(counts).cache()
    val status = classified.collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[java.sql.Date]("trading_date").toString) ->
        r.getAs[String]("status")).toMap
    assert(status(("MSFT", "2025-10-31")) === "OK")
    assert(status(("MSFT", "2025-11-03")) === "WARN") // 2 missing = threshold
    assert(status(("AAPL", "2025-10-31")) === "WARN") // 1 missing
    assert(status(("AAPL", "2025-11-04")) === "FAIL") // 4 missing > 2
    val summary = QualityReport.runSummary(classified).head
    assert(summary.getAs[String]("overall_status") === "FAIL")
    assert(summary.getAs[Long]("max_missing") === 4L)
    classified.unpersist()
  }

  test("calendar classifier: early close passes annotated; leaked extended hours fail") {
    val calDf = MarketCalendar.sessionsDF(spark, calendar)
    val counts = QualityReport.symbolDayCounts(rth)
    val classified = QualityReport.calendarClassify(counts, calDf).cache()
    val early = classified
      .filter(col("trading_date") === "2025-11-28" && col("symbol") === "MSFT").head
    assert(early.getAs[Int]("expected_bars") === 42)
    assert(early.getAs[String]("status") === "PASS")
    assert(early.getAs[String]("notes").contains("early close"))
    // un-filtered bars leak pre/post market -> actual > expected -> FAIL
    val leaked = QualityReport.calendarClassify(
      QualityReport.symbolDayCounts(cleaned, "symbol", "timestamp_utc"), calDf)
    val leakRow = leaked
      .filter(col("trading_date") === "2025-10-31" && col("symbol") === "MSFT").head
    assert(leakRow.getAs[String]("status") === "FAIL")
    assert(leakRow.getAs[String]("notes").contains("too many bars"))
    classified.unpersist()
  }

  test("dynamic validator: early-close latest day detected, classified OK (validate_data.py:104-135)") {
    // fixture latest day = 2025-11-28, a 42-bar early close: observed
    // 09:30-12:55 ET span = 205 min -> ceil(205/5)+1 = 42 (dynamic),
    // and 42 < 78 - 24, so the dynamic branch is taken
    val classified = QualityReport.classifyDynamic(rth).cache()
    val rows = classified.collect()
    assert(rows.map(_.getAs[java.sql.Date]("trading_date").toString).toSet === Set("2025-11-28"))
    rows.foreach { r =>
      assert(r.getAs[Int]("expected_bars") === 42)
      assert(r.getAs[Long]("actual_bars") === 42L)
      assert(r.getAs[Long]("missing_bars") === 0L)
      assert(r.getAs[String]("status") === "OK")
      assert(r.getAs[String]("notes") ===
        "Short session detected; expected_bars=42 (dynamic)")
    }
    classified.unpersist()
  }

  test("dynamic validator: full latest day takes the regular branch; gaps classify WARN/FAIL") {
    // restrict to <= 2025-11-04: latest day is a full session (09:30-
    // 15:55 observed = 385 min -> dynamic 78, NOT < 54 -> regular 78)
    val classified = QualityReport.classifyDynamic(
      rth.filter(to_date(col("timestamp")) <= "2025-11-04"))
    val by = classified.collect()
      .map(r => r.getAs[String]("symbol") -> r).toMap
    assert(by("MSFT").getAs[Int]("expected_bars") === 78)
    assert(by("MSFT").getAs[String]("status") === "OK")
    assert(by("MSFT").getAs[String]("notes") ===
      "Regular session assumed; expected_bars=78 (full)")
    assert(by("AAPL").getAs[Long]("missing_bars") === 4L) // planted 4-bar gap day
    assert(by("AAPL").getAs[String]("status") === "FAIL")
    assert(by("AAPL").getAs[String]("notes") ===
      "Regular session assumed; expected_bars=78 (full); Missing 4 bars")
  }

  test("holiday full-closure short-circuit: strict run passes with OK badge (validate_data.py:25,62-64)") {
    val out = Files.createTempDirectory("pipeline_holiday").toString + "/result"
    // same fixture that throws under strict validation (see below test)
    // passes when the latest day is a declared full-close holiday
    val (n, summary) = Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")),
      strict = true, fullCloseDates = Set("2025-11-28"))
    assert(n > 0)
    val s = summary.head
    assert(s.getAs[String]("overall_status") === "OK")
    assert(s.getAs[String]("notes").startsWith("Holiday full close (skipped validation)"))
    // like the reference, the skip path persists nothing
    assert(!new java.io.File(out + "_dq").exists())
  }

  test("DQ persistence: detail + summary land stamped with run_id and run_ts_utc") {
    val out = Files.createTempDirectory("pipeline_dq").toString + "/result"
    val runId = "test-run-0001"
    val (_, _) = Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")),
      strict = false, runId = runId)
    val detail = spark.read.parquet(out + "_dq/intraday_quality_report")
      .filter(col("run_id") === runId)
    // one row per (symbol, trading day) written by THIS run
    assert(detail.count() === detail.select("trading_date", "symbol").distinct().count())
    assert(detail.count() > 0)
    assert(detail.filter(col("run_ts_utc").isNull).count() === 0)
    assert(detail.columns.toSet ===
      Set("symbol", "trading_date", "expected_bars", "actual_bars",
        "missing_bars", "status", "notes", "run_id", "run_ts_utc"))
    val summary = spark.read.parquet(out + "_dq/intraday_quality_run_summary")
      .filter(col("run_id") === runId)
    assert(summary.count() === 1)
    assert(summary.head.getAs[String]("overall_status") === "FAIL") // planted gaps
    // a second run with a new id APPENDS — history accumulates
    Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")),
      strict = false, runId = "test-run-0002")
    val all = spark.read.parquet(out + "_dq/intraday_quality_run_summary")
    assert(all.select("run_id").distinct().count() === 2)
  }

  test("declared full-close dates without the latest day: the run validates and persists its DQ") {
    val out = Files.createTempDirectory("pipeline_not_holiday").toString + "/result"
    val runId = "test-run-not-holiday"
    val (_, summary) = Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")),
      strict = false, fullCloseDates = Set("2025-11-27"), runId = runId)
    assert(summary.head.getAs[String]("overall_status") === "FAIL") // planted gaps
    def persisted(table: String) = spark.read.parquet(s"${out}_dq/$table")
      .filter(col("run_id") === runId).count()
    assert(persisted("intraday_quality_report") > 0)
    assert(persisted("intraday_quality_run_summary") === 1)
  }

  test("a failed DQ summary append fails the run; the detail still lands") {
    val out = Files.createTempDirectory("pipeline_dq_fail").toString + "/result"
    val runId = "test-run-summary-fails"
    // a plain file where the summary table's directory belongs: its
    // append cannot create the table, whichever thread runs it
    val blocker = new java.io.File(s"${out}_dq/intraday_quality_run_summary")
    assert(blocker.getParentFile.mkdirs() && blocker.createNewFile())
    intercept[Exception] {
      Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")), strict = false, runId = runId)
    }
    assert(spark.read.parquet(s"${out}_dq/intraday_quality_report")
      .filter(col("run_id") === runId).count() > 0)
  }

  test("one run timestamp per run: DQ detail, persisted and returned summary agree") {
    val out = Files.createTempDirectory("pipeline_ts").toString + "/result"
    val runId = "test-run-ts"
    val (_, summary) = Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")),
      strict = false, runId = runId)
    def stamps(table: String) = spark.read.parquet(s"${out}_dq/$table")
      .filter(col("run_id") === runId).select("run_ts_utc").distinct()
      .collect().map(_.getTimestamp(0)).toSet
    val detail = stamps("intraday_quality_report")
    assert(detail.size === 1)
    assert(stamps("intraday_quality_run_summary") === detail)
    // the returned frame is lazy: every read must show the same stamp
    val reads = Seq.fill(2)(summary.head().getAs[java.sql.Timestamp]("run_ts_utc"))
    assert(reads.toSet === detail)
  }

  test("overwriteSized: input evaluated once, row count returned, empty input refused") {
    val calls = spark.sparkContext.longAccumulator("overwriteSized_udf_calls")
    val keep = udf { (_: Long) => calls.add(1); true }
    val df = spark.range(0, 1000, 1, 4).filter(keep(col("id"))).toDF().repartition(3)
    val out = Files.createTempDirectory("sized_once").toString + "/t"
    val written = Sinks.overwriteSized(df, out)
    assert(calls.value === 1000L, "the guard and the write must share one evaluation")
    assert(written === 1000L)
    assert(spark.read.parquet(out).count() === 1000L)
    // an empty frame is refused and the written target stays byte-identical
    val root = java.nio.file.Paths.get(out)
    def snapshot(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val files = Files.walk(root)
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally files.close()
    }
    val before = snapshot()
    intercept[Sinks.EmptyResultException] {
      Sinks.overwriteSized(spark.range(0, 10).toDF().filter(lit(false)), out)
    }
    assert(snapshot() === before)
  }

  test("pipeline end-to-end: one unioned plan, sign-flip invariant, guarded sink") {
    val out = Files.createTempDirectory("pipeline_out").toString + "/result"
    // non-strict: the fixture plants FAIL-grade gaps on purpose
    val (n, summary) = Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")), strict = false)
    assert(n > 0)
    val written = spark.read.parquet(out)
    // legs cancel per bar
    val bad = written.groupBy("bar_ts")
      .agg(sum(col("spread")).as("s"), count(lit(1)).as("c"))
      .filter(col("c") =!= 2 || abs(col("s")) > 1e-12).count()
    assert(bad === 0)
    assert(summary.columns.contains("overall_status"))
    // empty-guard rule
    intercept[Sinks.EmptyResultException] {
      Sinks.overwriteParquet(written.filter(lit(false)), out + "_empty")
    }
  }

  test("pair layer keeps the two-leg join's rows: duplicates, null close, one-leg stamps, (A, A), repeated pairs") {
    import spark.implicits._
    // reference: the pair layer as a two-leg join — each leg joins the
    // pair spec, the legs join on (pair, ts), the z-scores join the spec
    // again for the leg symbols
    def twoLegJoin(bars: org.apache.spark.sql.DataFrame, pairs: Seq[(String, String)],
        windowRows: Int, minWindow: Int) = {
      val spec = pairs.toDF("sym1", "sym2")
        .withColumn("pair_name", concat_ws("-", col("sym1"), col("sym2")))
      val leg1 = bars.join(broadcast(spec), col("symbol") === col("sym1"))
        .select(col("pair_name"), col("timestamp").as("bar_ts"),
          col("close").cast("double").as("close1"))
      val leg2 = bars.join(broadcast(spec.select("sym2", "pair_name")), col("symbol") === col("sym2"))
        .select(col("pair_name"), col("timestamp").as("bar_ts"),
          col("close").cast("double").as("close2"))
      val paired = leg1.join(leg2, Seq("pair_name", "bar_ts"))
        .select(col("pair_name"), col("bar_ts"), col("close1"), col("close2"),
          (log(col("close1")) - log(col("close2"))).as("spread"))
      val z = graft.ops.PairAnalytics.rollingZScore(paired, windowRows, minWindow)
      graft.ops.PairAnalytics.legReshape(
        z.join(broadcast(spec.select(col("pair_name"), col("sym1"), col("sym2"))), Seq("pair_name")),
        col("sym1"), col("sym2"))
    }
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-11-03 14:$m%02d:00")
    val base = for {
      (sym, px) <- Seq(("A", 10.0), ("B", 20.0), ("C", 30.0))
      m <- 0 until 10
      if !(sym == "B" && m == 5) // A and C only
    } yield (sym, ts(m), if (sym == "B" && m == 2) None else Some(px + (m * 7 + px.toInt) % 5))
    val bars = (base ++ Seq(
        ("A", ts(3), base.find(b => b._1 == "A" && b._2 == ts(3)).get._3), // duplicated bar
        ("B", ts(10), Some(21.0)), // B only
        ("C", ts(11), Some(31.0)), // C only
        ("A", null, Some(10.0)), ("B", null, Some(20.0))) // null stamps pair nothing
      ).toDF("symbol", "timestamp", "close")
    // B's 14:02 close is null; a symbol in three pairs, a pair (A, A),
    // a pair listed twice
    val pairs = Seq(("A", "B"), ("A", "C"), ("A", "A"), ("C", "B"), ("A", "B"))
    val got = Pipeline.pairZScores(bars, pairs, windowRows = 4, minWindow = 2)
    val want = twoLegJoin(bars, pairs, windowRows = 4, minWindow = 2)
    assert(got.schema.map(f => (f.name, f.dataType)) === want.schema.map(f => (f.name, f.dataType)))
    val n = want.count()
    assert(n > 0 && want.filter(col("z_score").isNotNull).count() > 0)
    assert(got.count() === n)
    assert(got.exceptAll(want).isEmpty, got.exceptAll(want).collect().take(5).mkString("\n"))
    assert(want.exceptAll(got).isEmpty, want.exceptAll(got).collect().take(5).mkString("\n"))
  }

  test("corrupt payload files surface in inspectRaw instead of silently nulling") {
    val dir = Files.createTempDirectory("alpaca_corrupt")
    AlpacaFixtures.write(dir)
    Files.writeString(dir.resolve("BROKEN_intraday_5min.json"),
      """{"symbol": "BRKN", "bars": [{"timestamp": """)
    val raw = AlpacaSource.readRaw(spark, dir.toString)
    val report = AlpacaSource.inspectRaw(raw).cache()
    assert(report.filter(col("is_corrupt")).count() === 1)
    assert(report.filter(col("is_corrupt")).head
      .getAs[String]("error_snippet").contains("BRKN"))
    // healthy payloads unaffected; the corrupt file contributes no bars
    assert(report.filter(!col("is_corrupt")).count() === 2)
    assert(AlpacaSource.cleanBars(raw).filter(col("symbol") === "BRKN").count() === 0)
    report.unpersist()
  }

  test("strict run fails the DAG on a FAIL validation badge (validate_data.py:225-227)") {
    // AAPL's planted 4-bar gap day classifies FAIL (> 2 missing), so a
    // strict run must throw — after the sink write, like the reference
    val out = Files.createTempDirectory("pipeline_strict").toString + "/result"
    intercept[Pipeline.ValidationFailedException] {
      Pipeline.run(spark, fixtureDir, out, Seq(("MSFT", "AAPL")))
    }
    // the data still landed for inspection
    assert(spark.read.parquet(out).count() > 0)
  }
}
