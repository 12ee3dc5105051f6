package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of the warehouse incremental-aggregate refresh
  * (`ops/WarehouseOps.incrementalDailyAgg`, q195): a foreachBatch
  * MERGE that maintains a standing per-(day, key) rollup as batches
  * arrive — the live version of the nightly "backfill just what
  * changed" splice, and the late-data story the reference's
  * full-refresh overwrite (`ingest_data.py` rewrites whole tables)
  * dodges.
  *
  * Late data needs NO special casing here: the store keeps the EXACT
  * DECIMAL(18,6) value accumulator (never the rounded double), and
  * per-batch deltas MERGE additively — decimal addition is exact,
  * associative and commutative, so the standing table equals the
  * from-scratch `WarehouseOps.dailyAgg` over everything ingested
  * bit-for-bit REGARDLESS of arrival order or batch boundaries
  * (StreamingSpec splits a day across batches and replays a late
  * sliver out of order). This is stronger than the batch refresh's
  * contract, which recomputes affected days from the retained full
  * source; the stream never needs the raw history at all.
  *
  * Scale posture: each micro-batch shuffles only its own rows into
  * (d, key) partials (map-side combined); the [[MergeStore]] merge is
  * a full-outer join keyed by the same (d, key). Store size is
  * |days|·|keys| — aggregate-sized, not event-sized. */
object IncrementalAggStream {

  private val acc = DecimalType(28, 6) // sum(DECIMAL(18,6)) fold type

  /** The standing store: (d, key, n_events, sum_acc DECIMAL(28,6)).
    * `snapshot()` emits exactly `WarehouseOps.dailyAgg`'s schema —
    * the rounded double forms ONCE at read time from the exact
    * accumulator, so repeated refreshes never re-round. */
  final class AggStore(spark: SparkSession, keyCol: String)
      extends MergeStore(spark,
        StructType(Seq(StructField("d", DateType),
          StructField(keyCol, StringType),
          StructField("n_events", LongType),
          StructField("sum_acc", acc))),
        merge(keyCol)) {

    def snapshot(): DataFrame =
      frame.select(col("d"), col(keyCol), col("n_events"),
        round(col("sum_acc"), 6).cast(DoubleType).as("sum_value"))
  }

  /** Additive merge of (d, key) partials into the store. */
  private def merge(keyCol: String)(store: DataFrame, delta: DataFrame): DataFrame =
    store.as("s")
      .join(delta.as("x"),
        store("d") === delta("d") && store(keyCol) === delta(keyCol), "full_outer")
      .select(
        coalesce(col("s.d"), col("x.d")).as("d"),
        coalesce(col(s"s.$keyCol"), col(s"x.$keyCol")).as(keyCol),
        (coalesce(col("s.n_events"), lit(0L)) +
          coalesce(col("x.dn"), lit(0L))).as("n_events"),
        (coalesce(col("s.sum_acc"), lit(0).cast(acc)) +
          coalesce(col("x.ds"), lit(0).cast(acc))).cast(acc)
          .as("sum_acc"))

  def newStore(spark: SparkSession, keyCol: String = "event_type"): AggStore =
    new AggStore(spark, keyCol)

  /** Start the refresh: every micro-batch folds to (d, key) partials
    * and merges into `store` additively. Output goes nowhere (the
    * store IS the sink) — readers take `store.snapshot()`. */
  def start(
      events: DataFrame,
      store: AggStore,
      keyCol: String = "event_type",
      tsCol: String = "ts",
      valCol: String = "value"): StreamingQuery =
    store.start(events) { batch =>
      batch
        .groupBy(to_date(col(tsCol)).as("d"), col(keyCol))
        .agg(count(lit(1)).as("dn"),
          sum(col(valCol).cast(DecimalType(18, 6))).as("ds"))
    }
}
