package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * whole workload at once. The payload is scanned once: the bars join
  * one broadcast leg spec, the two legs are aligned per (pair, bar_ts)
  * in the same exchange the per-pair window reads, and both symbol legs
  * come out of one projection over the z-scores, so the scan, the
  * shuffle and the window run once. One [[run]] evaluates that plan
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

  /** All pairs in one plan: join the bars once against a broadcast leg
    * spec (one row per symbol, pair and leg), align the two legs per
    * (pair, bar_ts) in the exchange the per-pair window reads, then emit
    * both symbol legs per z-score row ([[PairAnalytics.legReshape]]).
    *
    * The align is the reference's leg1 x leg2 inner join on (pair, ts)
    * (transform_data.py:121-141) with its exact multiplicity: each
    * (pair, bar_ts) group collects its leg-1 and leg-2 closes and
    * explodes both lists, so n1 bars on one leg and n2 on the other give
    * n1 x n2 rows and a timestamp missing on either leg gives none. A
    * close is collected inside a struct, so a null close still pairs.
    * The scan, the spec broadcast and the shuffle each run once; sym1
    * and sym2 ride along from the spec to the leg reshape. */
  def pairZScores(
      bars: DataFrame,
      pairs: Seq[(String, String)] = DefaultPairs,
      windowRows: Int = PairAnalytics.DefaultWindowRows,
      minWindow: Int = PairAnalytics.DefaultMinWindow): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val legSpec = pairs.flatMap { case (s1, s2) => Seq((s1, s1, s2, 1), (s2, s1, s2, 2)) }
      .toDF("leg_symbol", "sym1", "sym2", "leg")
      .withColumn("pair_name", concat_ws("-", col("sym1"), col("sym2")))
    def closes(leg: Int) =
      collect_list(when(col("leg") === leg, struct(col("close")))).as(s"closes$leg")
    val keys = Seq(col("pair_name"), col("sym1"), col("sym2"), col("bar_ts"))

    // the hash exchange on pair_name serves both the align and the window
    val aligned = bars.join(broadcast(legSpec), col("symbol") === col("leg_symbol"))
      .where(col("timestamp").isNotNull) // a null stamp joins no other leg
      .select(col("pair_name"), col("sym1"), col("sym2"), col("leg"),
        col("timestamp").as("bar_ts"), col("close").cast("double").as("close"))
      .repartition(col("pair_name"))
      .groupBy(keys: _*)
      .agg(closes(1), closes(2))
    val paired = aligned
      .select(keys :+ col("closes2") :+ explode(col("closes1")).as("c1"): _*)
      .select(keys :+ col("c1.close").as("close1") :+ explode(col("closes2")).as("c2"): _*)
      .select(keys ++ Seq(col("close1"), col("c2.close").as("close2"),
        (log(col("close1")) - log(col("close2"))).as("spread")): _*)

    // the reference's per-pair trailing window
    val z = PairAnalytics.rollingZScore(paired, windowRows, minWindow)
    // a pair listed k times: the spec repeats each leg k times, so the
    // window sees k x k rows per bar, and each z-score row repeats k
    // times more, as a join of the z-scores with the listed pairs does
    val listed =
      if (pairs.distinct.size == pairs.size) z
      else z.join(broadcast(legSpec.where(col("leg") === 1).select("pair_name")), "pair_name")
    // leg reshape with the sign flip (transform_data.py:156-180), for
    // every pair at once
    PairAnalytics.legReshape(listed, col("sym1"), col("sym2"))
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
    * (run_id, trading_date, symbol). The counts' grouping makes those
    * keys unique, so both tables append without a dedup pass, as two
    * concurrent jobs; either append failing fails the run. History
    * accumulates across runs; readers filter by run_id. */
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
    // the DQ reads the landed lake back (it validates what landed) once,
    // with the schema it was just written with, so no footer is read to
    // infer it: latest day, detail and summary all derive from these counts
    val counts = QualityReport.symbolDayCounts(
        spark.read.schema(result.schema).parquet(outPath), "symbol", "bar_ts")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the latest day is read only by the holiday check, which cannot
      // fire without declared full-close dates
      lazy val latestDay = counts.agg(max(col("trading_date")).cast("string")).head().getString(0)
      if (fullCloseDates.nonEmpty && fullCloseDates.contains(latestDay)) {
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
      val summary = QualityReport.runSummary(detail)
        .withColumn("run_id", lit(runId))
        .withColumn("run_ts_utc", runTs)
      // keys unique by construction (one detail row per counted
      // (trading_date, symbol), one summary row): no dedup shuffle. The
      // summary appends from a new thread, which inherits this one's
      // session and job properties, while the detail appends here
      def append(df: DataFrame, table: String): Unit =
        df.write.mode(SaveMode.Append).parquet(s"${outPath}_dq/$table")
      val summaryAppend = Future(append(summary, "intraday_quality_run_summary"))(
        ExecutionContext.fromExecutor(new Thread(_).start()))
      try append(detail, "intraday_quality_report")
      finally Await.ready(summaryAppend, Duration.Inf)
      Await.result(summaryAppend, Duration.Inf)
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
