package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of the growth-accounting ledger
  * (`ops/EventAnalytics.growthAccounting`, q418): maintain the
  * DISTINCT (user, period) activity-membership relation and derive the
  * per-period new / retained / resurrected / churned ledger from the
  * store on read.
  *
  * WHY THIS STATE SHAPE IS EXACT — and why a bounded per-user scalar
  * pair (first-active, last-active period) is NOT: the batch ledger
  * classifies period w of a user by MEMBERSHIP ADJACENCY — new iff
  * w = min(D), retained iff w−1 ∈ D, resurrected otherwise, churned
  * into w+1 iff w+1 ∉ D — over the user's full active-period set D.
  * With state {3, 5} summarized as (first=3, last=5), a LATE period 4
  * must flip 5's classification resurrected→retained, retract
  * churn(4) and add churn(5→… none, 5 ∈ D): deciding any of that
  * needs interior membership (is 4 adjacent to 5?), which no fixed
  * set of per-user scalars retains — the [[Scd2Stream]] impossibility
  * class. The distinct-membership store keeps exactly that relation,
  * and its merge (set union via `distinct`) is associative,
  * commutative and IDEMPOTENT, so batch boundaries, late data and
  * replayed micro-batches all collapse to the same store;
  * `snapshot()` then runs the batch op's own ledger derivation
  * (`EventAnalytics.growthLedger`, shared verbatim) — bit-equality is
  * by construction and still asserted end-to-end in StreamingSpec.
  *
  * Scale posture: the store is |users × active periods| rows of two
  * narrow columns — EVENT-VOLUME-INDEPENDENT (a billion purchase
  * events by one user on one day collapse map-side to one row), the
  * same reduction the batch op's first `distinct` performs. Each
  * micro-batch dedups itself map-side before the [[MergeStore]]
  * merge-distinct against the store. */
object GrowthStream {

  /** Standing distinct (user_id, w) membership store; `snapshot()`
    * derives the q418 ledger via the batch op's own code path. */
  final class GrowthStore(spark: SparkSession, val periodDays: Int)
      extends MergeStore(spark,
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("w", DateType))),
        MergeStore.distinctUnion) {

    /** The current ledger, equal to `EventAnalytics.growthAccounting`
      * over everything ingested. */
    def snapshot(): DataFrame =
      graft.ops.EventAnalytics.growthLedger(frame, periodDays)
  }

  def newStore(spark: SparkSession, periodDays: Int = 1): GrowthStore =
    new GrowthStore(spark, periodDays)

  /** Start the refresh: every micro-batch reduces to its own distinct
    * (user, period) memberships (map-side combine), then set-unions
    * them into the standing store. */
  def start(
      events: DataFrame,
      store: GrowthStore,
      activityType: String = "purchase"): StreamingQuery =
    store.start(events) { batch =>
      graft.ops.EventAnalytics.activityPeriods(
        batch, activityType, store.periodDays)
    }
}
