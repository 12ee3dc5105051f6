package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of the snapshot-diff / CDC audit
  * (`ops/EventAnalytics.snapshotDiff`, q174): maintain, per user, the
  * latest event below each of the two cutoffs, and derive the
  * (old_state, new_state) transition matrix from that store on read.
  *
  * WHY BOUNDED PER-RUN STATE IS EXACT HERE (the counterpoint to
  * [[Scd2Stream]]'s impossibility argument): the batch op's per-user
  * state under a cutoff is `max(struct(ts, event_id, event_type))`
  * over `ts < cutoff` — an associative, commutative, idempotent
  * merge. max(max(A), max(B)) = max(A ∪ B) for any split of the
  * event set, so arrival order, batch boundaries, late data and
  * replayed micro-batches all collapse to the same two structs per
  * user. The store is therefore |users| rows × two 3-field structs —
  * never the event log — and `snapshot()` equals the from-scratch
  * batch op bit-for-bit (StreamingSpec splits mid-history and replays
  * a late out-of-order sliver, including users' argmax rows).
  *
  * Scale posture: each micro-batch pre-aggregates map-side to one row
  * per touched user before the merge; the [[MergeStore]] merge is a
  * key-partitioned max-agg against the standing store (a MERGE INTO
  * with a GREATEST update clause). The read-side rollup is |states|²
  * rows. Users whose events all sit
  * at/after the second cutoff carry two null structs and are filtered
  * on read — the batch op never sees them either. */
object SnapshotDiffStream {

  private val stateStruct = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("event_type", StringType)))

  /** Standing per-user (latest-below-cutoff1, latest-below-cutoff2)
    * store; `snapshot()` derives the q174 transition matrix. */
  final class DiffStore(spark: SparkSession)
      extends MergeStore(spark,
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("s1", stateStruct),
          StructField("s2", stateStruct))),
        (store, delta) => store.unionByName(delta)
          .groupBy(col("user_id"))
          .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"))) {

    /** The current (old_state, new_state) → n_users matrix, equal to
      * `EventAnalytics.snapshotDiff` over everything ingested. */
    def snapshot(): DataFrame =
      frame.filter(col("s1").isNotNull || col("s2").isNotNull)
        .select(
          coalesce(col("s1").getField("event_type"), lit("(absent)"))
            .as("old_state"),
          coalesce(col("s2").getField("event_type"), lit("(absent)"))
            .as("new_state"))
        .groupBy(col("old_state"), col("new_state"))
        .agg(count(lit(1)).as("n_users"))
  }

  def newStore(spark: SparkSession): DiffStore = new DiffStore(spark)

  /** Start the refresh: every micro-batch folds its own per-user
    * argmax structs (map-side combine), then max-merges them into the
    * standing store. */
  def start(
      events: DataFrame,
      store: DiffStore,
      cutoff1: Column,
      cutoff2: Column): StreamingQuery =
    store.start(events) { batch =>
      val st = struct(col("ts"), col("event_id"), col("event_type"))
      batch.groupBy(col("user_id"))
        .agg(
          max(when(col("ts") < cutoff1, st)).as("s1"),
          max(when(col("ts") < cutoff2, st)).as("s2"))
    }
}
