package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.ops.ScalableRank

/** Streaming twin of the batch daily session-concurrency profile
  * (`ops/EventAnalytics.sessionConcurrency`, q398): `session_window`
  * sessionization (the Sessionizer state machine — sessions merge
  * across micro-batches in the state store and close at the
  * watermark) feeding a foreachBatch store of closed-session
  * intervals; `snapshot()` sweeps the accumulated intervals exactly
  * like the batch op, so for data whose sessions have all closed the
  * profile is bit-identical to the batch output — StreamingSpec
  * splits sessions across micro-batches to prove the stateful merge.
  *
  * The genuinely stateful part is the SESSIONIZATION: events of one
  * session arriving in different micro-batches must merge into one
  * interval (session_window state), and only watermark-expired
  * sessions emit. The sweep itself is interval algebra — order-free
  * over the closed-session SET, so arrival order never matters.
  *
  * Scale posture: state is watermark-bounded session windows; the
  * store accumulates one row per CLOSED session (2 sweep points) —
  * a production deployment seals days older than the watermark into
  * their final (day, peak, eod) rows and keeps points only for open
  * days; here the store keeps the points (spec-scale) and snapshot()
  * runs the same cumSum sweep the batch op uses. */
object ConcurrencyMonitor {

  /** Closed-session interval store (append-only). */
  final class IntervalStore(spark: SparkSession)
      extends MergeStore(spark,
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("s_us", LongType),
          StructField("e_us", LongType))),
        _.unionByName(_)) {

    /** The batch q398 sweep over the accumulated closed sessions:
      * per-user session index (the batch `sid` numbering — sessions
      * in start order), ±1 sweep, global running count through the
      * cumSum, day rollup. */
    def snapshot(): DataFrame = {
      val dec = DecimalType(38, 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("s_us"), col("e_us"))
      val intervals = frame
        .withColumn("sid", row_number().over(w).cast(LongType))
        // batch-op convention: singleton sessions end +1µs so they
        // occupy the instant they exist (EventAnalytics scaladoc)
        .withColumn("e_us", when(col("e_us") === col("s_us"),
          col("s_us") + 1L).otherwise(col("e_us")))
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
  }

  def newStore(spark: SparkSession): IntervalStore =
    new IntervalStore(spark)

  /** Start the monitor: sessionize the event stream (append mode —
    * a session emits once, when the watermark passes its extension
    * horizon) and append each closed session's interval to `store`. */
  def start(
      events: DataFrame,
      store: IntervalStore,
      userCol: String = "user_id",
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermark: String = "1 hour"): StreamingQuery =
    store.start(
      Sessionizer.userSessions(events, userCol, tsCol, gap, Some(watermark)),
      outputMode = "append") { batch =>
      batch.select(
        col("user_id").cast(LongType).as("user_id"),
        unix_micros(col("start_ts")).as("s_us"),
        unix_micros(col("end_ts")).as("e_us"))
    }
}
