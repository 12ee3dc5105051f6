package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of the SCD Type-2 dimension build
  * (`ops/WarehouseOps.scd2`, q138): a foreachBatch MERGE that
  * maintains the dimension's SOURCE — the distinct snapshot log
  * (key, snap_d, tie, attr) — and derives the effective-dated
  * dimension from it on read, exactly the warehouse MERGE INTO +
  * dbt-snapshot pattern.
  *
  * WHY THE STORE IS THE DISTINCT SNAPSHOT LOG, not the change rows:
  * SCD2 change detection is ORDER-SENSITIVE — a row is kept iff its
  * attr differs from the immediately PRECEDING snapshot in
  * (snap_d, tie) order, so late data can resurrect a snapshot that
  * an earlier pass dropped as a no-change duplicate. Counterexample
  * for any bounded per-run state: snapshots A@d1, A@d2, A@d3 collapse
  * to one version; a late B@d2.5 must yield A@d1, B@d2.5, A@d3 — the
  * interior A@d3 (or A@d2, for other insertion points) must still
  * exist to become the re-change row, so no subset that forgets
  * interior run members can be exact under arbitrary arrival order.
  * The log row is 4 narrow columns (never the wide source row), one
  * per DISTINCT (key, snap_d, tie) — at warehouse scale this is the
  * snapshot source table every SCD2 build already retains, and the
  * per-batch merge is a storage-engine MERGE INTO on the dimension
  * key. Given the log, `snapshot()` equals the from-scratch batch
  * `WarehouseOps.scd2` bit-for-bit REGARDLESS of arrival order or
  * batch boundaries (StreamingSpec splits mid-key and replays a late
  * out-of-order sliver).
  *
  * Scale posture: each micro-batch contributes only its own distinct
  * rows; the [[MergeStore]] merge is a union + key-partitioned
  * distinct. The read-side scd2 chain is one key-partitioned window
  * pass over the log. */
object Scd2Stream {

  /** Standing distinct snapshot log; `snapshot()` derives the
    * effective-dated dimension via the batch op. */
  final class Scd2Store(spark: SparkSession)
      extends MergeStore(spark,
        StructType(Seq(
          StructField("custkey", LongType),
          StructField("snap_d", DateType),
          StructField("tie", LongType),
          StructField("status", StringType))),
        MergeStore.distinctUnion) {

    /** The current SCD2 dimension — the batch q138 chain over the
      * accumulated log (version numbers and effective_to re-derive on
      * read; they are positional and can shift under late data, so
      * they are never stored). */
    def snapshot(): DataFrame =
      graft.ops.WarehouseOps.scd2(frame, "custkey", "snap_d", "tie", "status")
  }

  def newStore(spark: SparkSession): Scd2Store = new Scd2Store(spark)

  /** Start the refresh: every micro-batch MERGEs its distinct
    * snapshot rows into the standing log. The store is the sink;
    * readers take `store.snapshot()`. */
  def start(
      snapshots: DataFrame,
      store: Scd2Store,
      keyCol: String = "custkey",
      tsCol: String = "snap_d",
      tieCol: String = "tie",
      attrCol: String = "status"): StreamingQuery =
    store.start(snapshots) { batch =>
      batch.select(
        col(keyCol).as("custkey"), col(tsCol).as("snap_d"),
        col(tieCol).as("tie"), col(attrCol).as("status"))
    }
}
