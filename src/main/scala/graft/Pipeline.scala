package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{PairAnalytics, QualityReport}
import graft.sources.{AlpacaSource, Sinks}

/** End-to-end daily pipeline: raw vendor JSON → clean → RTH filter →
  * pair spreads → rolling z-score → per-symbol legs → sink → validate.
  *
  * Mirrors the reference DAG ingest → transform → validate
  * (`/root/reference/dags/quant_pipeline_dag.py:66`) minus Airflow,
  * with one structural improvement: the per-pair Python loop
  * (`project/transform_data.py:187-192`) serialized three independent
  * Spark DAGs; here all pairs live in ONE plan and Catalyst sees the
  * whole workload at once. The pair join is a single leg1×leg2 join
  * driven by a broadcast pair spec (each leg scans the payload); both
  * symbol legs come out of one projection over the z-scores, so the
  * join and the window run once. One [[run]] evaluates that plan
  * once: the sink's empty guard and its write share it.
  */
object Pipeline {

  /** Raised when the post-load validator reports overall FAIL —
    * the engine analog of `validate_data.py:225-227`, which exits 1
    * so the reference DAG marks the run failed. */
  class ValidationFailedException(msg: String) extends RuntimeException(msg)

  /** Reference pair universe (`project/transform_data.py:19`). */
  val DefaultPairs: Seq[(String, String)] =
    Seq(("MSFT", "AAPL"), ("WMT", "TGT"), ("KO", "PEP"))

  /** Clean + RTH-filter raw payload files. */
  def prepare(spark: SparkSession, rawPath: String): DataFrame =
    AlpacaSource.filterMarketHoursKeepUtc(
      AlpacaSource.cleanBars(AlpacaSource.readRaw(spark, rawPath)))

  /** All pairs in one plan: broadcast the pair spec against each leg,
    * join leg1×leg2 on (pair, timestamp), window per pair, then emit
    * both symbol legs per z-score row ([[PairAnalytics.legReshape]]). */
  def pairZScores(
      bars: DataFrame,
      pairs: Seq[(String, String)] = DefaultPairs,
      windowRows: Int = PairAnalytics.DefaultWindowRows,
      minWindow: Int = PairAnalytics.DefaultMinWindow): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val spec = pairs.toDF("sym1", "sym2")
      .withColumn("pair_name", concat_ws("-", col("sym1"), col("sym2")))

    val leg1 = bars.join(broadcast(spec), col("symbol") === col("sym1"))
      .select(col("pair_name"), col("timestamp").as("bar_ts"),
        col("close").cast("double").as("close1"))
    val leg2 = bars.join(broadcast(spec.select("sym2", "pair_name")), col("symbol") === col("sym2"))
      .select(col("pair_name"), col("timestamp").as("bar_ts"),
        col("close").cast("double").as("close2"))

    // fact-fact equi-join on (pair, ts), the reference's pair align
    // (transform_data.py:121-141); AQE's skew-join split takes a hot key
    val paired = leg1.join(leg2, Seq("pair_name", "bar_ts"))
      .select(col("pair_name"), col("bar_ts"), col("close1"), col("close2"),
        (log(col("close1")) - log(col("close2"))).as("spread"))

    // the reference's per-pair trailing window
    val z = PairAnalytics.rollingZScore(paired, windowRows, minWindow)
    // leg reshape with the sign flip (transform_data.py:156-180), for
    // every pair at once
    val symSpec = spec.select(col("pair_name"), col("sym1"), col("sym2"))
    PairAnalytics.legReshape(z.join(broadcast(symSpec), Seq("pair_name")),
      col("sym1"), col("sym2"))
  }

  /** Full run: returns (rows written, run summary row); the row count
    * is the sink's own, taken in the same pass as the write.
    * With `strict` (the default, mirroring the reference DAG), an
    * overall FAIL badge raises [[ValidationFailedException]] AFTER the
    * sink write — the data lands for inspection, the run is marked
    * failed, exactly the reference's validate-task semantics
    * (`validate_data.py:225-227`).
    *
    * Holiday short-circuit (`validate_data.py:25,62-64`): when the
    * latest written trading day appears in `fullCloseDates`, validation
    * is SKIPPED with an OK badge — a full-closure holiday must not fail
    * the run on 0/few bars. Like the reference, nothing is persisted to
    * the DQ tables on the skip path (the reference exits before its
    * table writes).
    *
    * DQ persistence (`validate_calendar_alpaca.py:104-168` /
    * `validate_data.py:67-101,188-220`): every validated run APPENDS
    * its per-symbol-day detail and 1-row summary — both stamped with
    * `run_id` + `run_ts_utc` — as parquet under `<outPath>_dq/`, the
    * lake analog of the reference's `intraday_quality_report` /
    * `intraday_quality_run_summary` inserts keyed by
    * (run_id, trading_date, symbol). History accumulates across runs;
    * readers filter by run_id. */
  def run(
      spark: SparkSession,
      rawPath: String,
      outPath: String,
      pairs: Seq[(String, String)] = DefaultPairs,
      strict: Boolean = true,
      fullCloseDates: Set[String] = Set.empty,
      runId: String = java.util.UUID.randomUUID().toString): (Long, DataFrame) = {
    val bars = prepare(spark, rawPath)
    val result = pairZScores(bars, pairs)
    // size-targeted refresh write: empty guard + ~128 MB output files
    // whatever the upstream task count (Sinks.writeSized contract); the
    // guard and the write share one evaluation of `result`
    val rows = Sinks.overwriteSized(result, outPath)
    // one run timestamp, fixed on the driver: every DQ row and the
    // returned summary carry the same value, however often they are read
    val runTs = lit(java.sql.Timestamp.from(java.time.Instant.now()))
    // the DQ reads the landed lake back (it validates what landed) once:
    // latest day, detail and summary all derive from these counts
    val counts = QualityReport.symbolDayCounts(spark.read.parquet(outPath), "symbol", "bar_ts")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val latestDay = counts.agg(max(col("trading_date")).cast("string")).head().getString(0)
      if (fullCloseDates.contains(latestDay)) {
        import spark.implicits._
        val summary = Seq((runId, 0L, 0L, 0L, 0L, 0L, "OK",
          s"Holiday full close (skipped validation): $latestDay"))
          .toDF("run_id", "symbols_total", "symbols_ok", "symbols_warn",
            "symbols_fail", "max_missing", "overall_status", "notes")
          .withColumn("run_ts_utc", runTs)
        return (rows, summary)
      }
      val detail = QualityReport.classify(counts)
        .withColumn("run_id", lit(runId))
        .withColumn("run_ts_utc", runTs)
      Sinks.appendDeduped(detail, s"${outPath}_dq/intraday_quality_report",
        keyCols = Seq("run_id", "trading_date", "symbol"), partitionBy = Nil)
      val summary = QualityReport.runSummary(detail)
        .withColumn("run_id", lit(runId))
        .withColumn("run_ts_utc", runTs)
      Sinks.appendDeduped(summary, s"${outPath}_dq/intraday_quality_run_summary",
        keyCols = Seq("run_id"), partitionBy = Nil)
      if (strict) {
        val s = summary.head()
        if (s.getAs[String]("overall_status") == "FAIL")
          throw new ValidationFailedException(
            s"validation FAIL: ${s.getAs[Long]("symbols_fail")} of " +
              s"${s.getAs[Long]("symbols_total")} symbol-days failed " +
              s"(max ${s.getAs[Long]("max_missing")} missing bars)")
      }
      (rows, summary)
    } finally counts.unpersist()
  }
}
