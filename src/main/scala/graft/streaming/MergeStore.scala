package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The standing store of a foreachBatch twin — the one place the
  * stream's state is merged.
  *
  * The store starts as an empty frame of `schema`. Every micro-batch
  * reduces to the twin's `delta`, and the store becomes
  * `merge(store, delta)`, eagerly local-checkpointed. The eager
  * checkpoint keeps the lineage one relation deep however many batches
  * arrive, and the store never lazily re-reads a micro-batch that is
  * gone. At warehouse scale the merge is the storage engine's MERGE
  * INTO on the store's key.
  *
  * A twin supplies its schema, its delta, its merge and `snapshot()`,
  * the read-side derivation that equals the batch op over everything
  * ingested. When the merge is associative, commutative and idempotent
  * (set union, max), replays and late data collapse to the same store
  * regardless of arrival order or batch boundaries. */
abstract class MergeStore(
    spark: SparkSession,
    schema: StructType,
    merge: (DataFrame, DataFrame) => DataFrame) {

  @volatile private var df: DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The standing frame: a single checkpointed relation once a batch
    * has merged. */
  private[graft] def frame: DataFrame = df

  /** The twin's read-side view of the store. */
  def snapshot(): DataFrame

  /** Start folding every micro-batch of `source` into the store. The
    * store is the sink; readers take `snapshot()`. */
  private[streaming] def start(source: DataFrame, outputMode: String = "update")(
      delta: DataFrame => DataFrame): StreamingQuery =
    source.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        df = merge(df, delta(batch)).localCheckpoint(eager = true)
      }
      .start()
}

object MergeStore {

  /** Set union: associative, commutative and idempotent. */
  val distinctUnion: (DataFrame, DataFrame) => DataFrame =
    (store, delta) => store.unionByName(delta).distinct()
}
