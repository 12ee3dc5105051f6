package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ops.QualityReport
import graft.sources.{AlpacaSource, Sinks}

/** The nightly batch job: one `Pipeline.run(strict = false)` per
  * operation, each into a fresh output path, checked against the
  * generator's ledger (rows written, DQ OK/WARN/FAIL counts and
  * max_missing).
  *
  * The traced operation calls the functions `Pipeline.run` composes, in
  * its order, forcing each prefix once to a noop sink (a layer's self
  * time is the difference between consecutive prefixes), with
  * `Dataset.observe` counters at each boundary, and reconciles the
  * counters: raw = clean + dropped, RTH <= clean, written = 2 x aligned
  * pair rows, and the DQ `actual_bars` total = rows written = ledger. */
final class DailyPipeline(run: Run, raw: String, tmp: String, expect: Map[String, String]) {
  private val spark = run.spark
  private def exp(k: String): Long = expect(k).toLong
  private val pairs: Seq[(String, String)] = expect("pairs").split(',').toSeq.map { p =>
    val Array(a, b) = p.split(':')
    (a, b)
  }
  private var n = 0
  private def fresh(): (String, String) = {
    n += 1
    (s"$tmp/lake/run$n", s"run$n")
  }

  private def summaryOf(out: String, runId: String): Map[String, Long] = {
    val s = spark.read.parquet(s"${out}_dq/intraday_quality_run_summary")
      .where(col("run_id") === runId).head()
    Seq("symbols_total", "symbols_ok", "symbols_warn", "symbols_fail", "max_missing")
      .map(k => k -> s.getAs[Number](k).longValue).toMap
  }

  /** Ledger check of one operation's outputs; returns the failed checks. */
  private def check(out: String, runId: String, written: Long): Seq[String] = {
    val s = summaryOf(out, runId)
    Seq(
      "rows_written" -> (written == exp("rows_written")),
      "dq_symbol_days" -> (s("symbols_total") == exp("dq_symbol_days")),
      "dq_ok" -> (s("symbols_ok") == exp("dq_ok")),
      "dq_warn" -> (s("symbols_warn") == exp("dq_warn")),
      "dq_fail" -> (s("symbols_fail") == exp("dq_fail")),
      "dq_max_missing" -> (s("max_missing") == exp("dq_max_missing"))
    ).collect { case (k, false) => k }
  }

  /** Untraced operation: wall seconds, failed checks, lake bytes, and
    * the written lake's fingerprint (taken only when asked). */
  private def plainOp(fingerprint: Boolean = false): (Double, Seq[String], Long, Option[(Long, Long)]) = {
    val (out, runId) = fresh()
    val t0 = System.nanoTime()
    val (written, _) = Pipeline.run(spark, raw, out, pairs, strict = false, runId = runId)
    val dt = (System.nanoTime() - t0) / 1e9
    val bad = check(out, runId, written)
    val bytes = Fs.bytes(out) + Fs.bytes(s"${out}_dq")
    val fp = if (fingerprint) Some(FrameHash(spark.read.parquet(out))) else None
    Fs.delete(out)
    Fs.delete(s"${out}_dq")
    (dt, bad, bytes, fp)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Traced operation: its span, the layer values and the failed checks. */
  private def tracedOp(t: Tracer, reference: (Long, Long)): (Span, Map[String, Double], Seq[String]) = {
    val (out, runId) = fresh()
    val rawObs = new Observation("raw")
    val cleanObs = new Observation("clean")
    val rthObs = new Observation("rth")
    val zObs = new Observation("z")
    val bars = col("bars")
    val dropped = size(filter(bars, b => b.getField("close").isNull ||
      try_to_timestamp(b.getField("timestamp"), lit(AlpacaSource.TsFormat)).isNull))
    var zDf: DataFrame = null
    val (written, opSpan) = t.op("pipeline") {
      val rawDf = AlpacaSource.readRaw(spark, raw).observe(rawObs,
        count(lit(1)).as("files"),
        sum(when(bars.isNotNull, size(bars))).as("raw_bars"),
        count(col(AlpacaSource.CorruptCol)).as("corrupt_files"),
        sum(when(bars.isNotNull, dropped)).as("dropped"))
      val clean = AlpacaSource.cleanBars(rawDf).observe(cleanObs, count(lit(1)).as("n"))
      val rth = AlpacaSource.filterMarketHoursKeepUtc(clean).observe(rthObs, count(lit(1)).as("n"))
      t.span("sources.prefix")(noop(rth))
      val sym1 = pairs.map(_._1)
      zDf = Pipeline.pairZScores(rth, pairs).observe(zObs,
        count(lit(1)).as("n"), count(col("z_score")).as("z"),
        sum(when(col("symbol").isin(sym1: _*), 1L).otherwise(0L)).as("leg1"))
      t.span("ops.pair_zscores.prefix")(noop(zDf))
      t.span("sinks.overwrite")(Sinks.overwriteSized(zDf, out))
      t.span("ops.dq") {
        val w = spark.read.parquet(out)
        w.agg(max(to_date(col("bar_ts"))).cast("string")).head()
        val detail = QualityReport.classify(QualityReport.symbolDayCounts(w, "symbol", "bar_ts"))
          .withColumn("run_id", lit(runId))
          .withColumn("run_ts_utc", current_timestamp())
        t.span("sinks.append")(Sinks.appendDeduped(detail, s"${out}_dq/intraday_quality_report",
          keyCols = Seq("run_id", "trading_date", "symbol"), partitionBy = Nil))
        val summary = QualityReport.runSummary(detail)
          .withColumn("run_id", lit(runId))
          .withColumn("run_ts_utc", current_timestamp())
        t.span("sinks.append")(Sinks.appendDeduped(summary, s"${out}_dq/intraday_quality_run_summary",
          keyCols = Seq("run_id"), partitionBy = Nil))
        w.count()
      }
    }
    val spans = t.spans.filter(_.op == opSpan.id)
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def stat(name: String)(f: OpStats => Long) = spans.filter(_.name == name).map(s => f(t.of(s))).sum
    val r = rawObs.get
    val rawBars = r("raw_bars").asInstanceOf[Long]
    val droppedBars = r("dropped").asInstanceOf[Long]
    val cleanN = cleanObs.get("n").asInstanceOf[Long]
    val rthN = rthObs.get("n").asInstanceOf[Long]
    val z = zObs.get
    val legRows = z("n").asInstanceOf[Long]
    val leg1 = z("leg1").asInstanceOf[Long]
    val zEmitted = z("z").asInstanceOf[Long]
    val detail = spark.read.parquet(s"${out}_dq/intraday_quality_report").where(col("run_id") === runId)
    val dq = detail.agg(count(lit(1)), sum(col("actual_bars"))).head()
    val dqRows = dq.getLong(0)
    val dqActual = dq.getLong(1)
    val zShape = t.of(spans.find(_.name == "ops.pair_zscores.prefix").get).plans.asScala.toSeq
      .map(PlanShape.of(_))
    val scoped = zDf.queryExecution.optimizedPlan.toString.contains("__rn")
    val lakeFiles = Fs.files(out) ++ Fs.files(s"${out}_dq")
    val bad = check(out, runId, written) ++ Seq(
      "raw_eq_clean_plus_dropped" -> (rawBars == cleanN + droppedBars),
      "rth_le_clean" -> (rthN <= cleanN),
      "written_eq_2x_paired" -> (written == 2 * leg1 && legRows == written),
      "dq_actual_eq_written" -> (dqActual == written),
      "dq_actual_eq_ledger" -> (dqActual == exp("dq_actual_bars_total")),
      "raw_eq_ledger" -> (rawBars == exp("raw_bars")),
      "clean_eq_ledger" -> (cleanN == exp("clean_bars")),
      "rth_eq_ledger" -> (rthN == exp("rth_bars")),
      "paired_eq_ledger" -> (leg1 == exp("paired_rows")),
      "corrupt_eq_ledger" -> (r("corrupt_files").asInstanceOf[Long] == exp("corrupt_files")),
      "same_as_untraced" -> (FrameHash(spark.read.parquet(out)) == reference)
    ).collect { case (k, false) => k }
    val srcS = secs("sources.prefix")
    val zS = secs("ops.pair_zscores.prefix")
    val layers = Map(
      "sources.read_s" -> srcS,
      "sources.raw_bars" -> rawBars.toDouble,
      "sources.rth_bars" -> rthN.toDouble,
      "sources.keep_ratio" -> rthN.toDouble / rawBars,
      "sources.corrupt_files" -> r("corrupt_files").asInstanceOf[Long].toDouble,
      "sources.input_mb" -> exp("input_bytes") / 1048576.0,
      "ops.pair_zscores_s" -> (zS - srcS).max(0.0),
      "ops.paired_rows" -> leg1.toDouble,
      "ops.z_emitted_ratio" -> zEmitted.toDouble / legRows,
      "ops.scoped_route" -> (if (scoped) 1.0 else 0.0),
      "ops.window_nodes" -> zShape.map(_.windows).sum.toDouble,
      "ops.exchange_nodes" -> zShape.map(_.exchanges).sum.toDouble,
      "ops.shuffle_mb" -> (stat("ops.pair_zscores.prefix")(_.shuffleWrite.get) -
        stat("sources.prefix")(_.shuffleWrite.get)) / 1048576.0,
      "ops.dq_s" -> secs("ops.dq"),
      "ops.dq_verdict_rows" -> dqRows.toDouble,
      "sinks.write_s" -> (secs("sinks.overwrite") - zS).max(0.0),
      "sinks.files" -> lakeFiles.size.toDouble,
      "sinks.bytes" -> lakeFiles.map(java.nio.file.Files.size).sum.toDouble,
      "sinks.rows" -> (written + dqRows + 1).toDouble)
    Fs.delete(out)
    Fs.delete(s"${out}_dq")
    (opSpan, layers, bad)
  }

  def run(): Outcome = {
    val (_, warmBad, _, reference) = plainOp(fingerprint = run.trace)
    run.setupDone()
    val times = ArrayBuffer[Double]()
    val bytes = ArrayBuffer[Double]()
    val tracedTimes = ArrayBuffer[Double]()
    val tracedOps = ArrayBuffer[Span]()
    val layerRows = ArrayBuffer[Map[String, Double]]()
    val failures = ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    run.loop(minOps = 2) { i =>
      attempted += 1
      val bad = run.traced(i) match {
        case Some(t) =>
          val (s, layers, bad) = run.withTracer(Some(t))(tracedOp(t, reference.get))
          tracedTimes += s.seconds
          tracedOps += s
          layerRows += layers
          bad
        case None =>
          val (dt, bad, b, _) = plainOp()
          times += dt
          bytes += b.toDouble / exp("raw_bars")
          bad
      }
      if (bad.nonEmpty) {
        failed += 1
        failures ++= bad
      }
      1
    }
    val notes = ListMap[String, Any]("warmup_failed_checks" -> warmBad, "failed_checks" -> failures.distinct,
      "op_seconds" -> times, "traced_op_seconds" -> tracedTimes)
    val metrics =
      if (!run.trace) run.endToEnd(scale = false)(run.setupS, Stat.median(times.toSeq), exp("raw_bars") * times.size / times.sum,
        "op_p90_s" -> Stat.quantile(times.toSeq, 0.9),
        "op_samples" -> times.size.toDouble,
        "peak_heap_mb" -> HeapWatch.peakMb,
        "lake_bytes_per_bar" -> Stat.median(bytes.toSeq))
      else {
        val t = run.tracer.get
        val keys = layerRows.head.keys.toSeq
        ListMap(keys.map(k => k -> Stat.mean(layerRows.map(_(k)).toSeq)): _*) ++
          SparkLayer(t, tracedOps.toSeq, tracedOps.size, run.cores) ++
          ListMap("trace.overhead_ratio" -> Stat.overhead(tracedTimes.toSeq, times.toSeq))
      }
    Outcome(attempted, failed + (if (warmBad.nonEmpty) 1 else 0), metrics, notes)
  }
}
