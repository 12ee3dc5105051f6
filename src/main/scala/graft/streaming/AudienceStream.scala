package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of the audience-overlap matrix
  * (`ops/EventAnalytics.audienceOverlap`, q420): maintain the
  * DISTINCT (event_type, user, day) membership relation and derive
  * the day-scoped pairwise Jaccard matrix from the store on read.
  *
  * Exactness — the [[GrowthStream]] class: the batch matrix is a pure
  * function of the distinct membership SET, and the store's merge
  * (set union via `distinct`) is associative, commutative and
  * idempotent, so batch boundaries, late data and replayed
  * micro-batches all collapse to the same store regardless of arrival
  * order; `snapshot()` runs the batch op's own derivation
  * (`EventAnalytics.overlapFromMemberships`, shared verbatim).
  * Nothing weaker works: a per-(type, user) counter or lifetime
  * membership loses the DAY scoping that keeps the metric live
  * (lifetime audiences saturate to Jaccard 1 on an engaged base —
  * the q420 birth analysis), and the day-set is irreducible state
  * because any day's membership can still be extended by late events.
  *
  * Scale posture: the store is |types × users × active days| rows of
  * three narrow columns — EVENT-VOLUME-INDEPENDENT (a thousand same-
  * type events by one user on one day collapse map-side to one row).
  * Each micro-batch dedups itself map-side before the [[MergeStore]]
  * merge-distinct. The read-side pair expansion stays per-(user, day)
  * over ≤ |types| memberships — never set × set. */
object AudienceStream {

  /** Standing distinct (t, user_id, d) membership store; `snapshot()`
    * derives the q420 matrix via the batch op's own code path. */
  final class AudienceStore(spark: SparkSession)
      extends MergeStore(spark,
        StructType(Seq(
          StructField("t", StringType),
          StructField("user_id", LongType),
          StructField("d", DateType))),
        MergeStore.distinctUnion) {

    /** The current overlap matrix, equal to
      * `EventAnalytics.audienceOverlap` over everything ingested. */
    def snapshot(): DataFrame =
      graft.ops.EventAnalytics.overlapFromMemberships(frame)
  }

  def newStore(spark: SparkSession): AudienceStore =
    new AudienceStore(spark)

  /** Start the refresh: every micro-batch reduces to its own distinct
    * (type, user, day) memberships (map-side combine), then
    * set-unions them into the standing store. */
  def start(events: DataFrame, store: AudienceStore): StreamingQuery =
    store.start(events)(graft.ops.EventAnalytics.typeDayMemberships)
}
