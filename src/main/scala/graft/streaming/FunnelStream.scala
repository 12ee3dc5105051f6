package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of the windowed funnel
  * (`ops/EventAnalytics.windowFunnel`, q416): maintain the distinct
  * step-event log and derive the funnel from it on read.
  *
  * WHY THE STORE IS THE STEP-EVENT LOG, not the per-user chain
  * (t1, t2, …): the greedy chain is ORDER-SENSITIVE under late data.
  * t2 = min step-2 time STRICTLY AFTER t1 — a late-arriving EARLIER
  * step-1 event lowers t1, which can qualify a step-2 event the
  * previous pass discarded. Counterexample for bounded chain state:
  * clicks at 9:00 and 11:00, view first seen at 10:00 → t2 = 11:00;
  * a late 8:00 view makes the true t2 = 9:00, which no function of
  * (old t1, old t2) can produce — the 9:00 click must still exist.
  * So the minimal exact store is the distinct (user, type, ts) log
  * RESTRICTED to the funnel's step types — 3 narrow columns over the
  * small slice of traffic the funnel touches, not the event firehose.
  * Given the log, `snapshot()` equals the from-scratch batch op
  * bit-for-bit regardless of arrival order or batch boundaries
  * (StreamingSpec splits mid-user and replays a late out-of-order
  * sliver).
  *
  * Scale posture: each micro-batch pre-filters to the step types and
  * contributes only its own distinct rows; the [[MergeStore]] merge is
  * a union + key-partitioned distinct. The read-side funnel is the
  * batch op's min() chain over the log. */
object FunnelStream {

  /** Standing distinct step-event log; `snapshot()` derives the q416
    * funnel via the batch op. */
  final class FunnelStore(
      spark: SparkSession,
      val steps: Seq[String],
      val windowSec: Long)
      extends MergeStore(spark,
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))),
        MergeStore.distinctUnion) {

    /** The current per-step funnel rollup, equal to
      * `EventAnalytics.windowFunnel` over everything ingested. */
    def snapshot(): DataFrame =
      graft.ops.EventAnalytics.windowFunnel(frame, steps, windowSec)
  }

  def newStore(spark: SparkSession, steps: Seq[String],
      windowSec: Long): FunnelStore =
    new FunnelStore(spark, steps, windowSec)

  /** Start the refresh: every micro-batch MERGEs its distinct
    * step-type rows into the standing log. */
  def start(events: DataFrame, store: FunnelStore): StreamingQuery = {
    val stepSet = store.steps
    store.start(events) { batch =>
      batch
        .filter(col("event_type").isin(stepSet: _*))
        .select(col("user_id"), col("ts"), col("event_type"))
    }
  }
}
