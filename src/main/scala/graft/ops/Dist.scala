package graft.ops

import org.apache.spark.sql.DataFrame

/** Physical-layout helpers for compute-heavy declarative stages. */
object Dist {

  /** Spread a compute-heavy map stage across the cluster when the
    * scan produced fewer splits than cores (a small file arrives as
    * ONE split, serializing everything downstream on one core). At
    * real scale the scan already has >= cores splits and this is a
    * no-op; the check reads only the plan's size statistics, it runs
    * no job.
    *
    * Precondition: `df` is a parquet FILE SCAN (every caller passes
    * `Tables.documents` or `Tables.orders` straight through
    * `Tables.rebalance`). Only a file scan's `sizeInBytes` is its real
    * byte count; a checkpoint-backed (`LogicalRDD`) or join-derived
    * input reports the default or an inflated estimate, and would
    * never be spread. */
  def rebalance(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // Decide from the optimized plan's size statistics, not from
    // df.rdd.getNumPartitions: the RDD conversion forces a full
    // physical planning pass (plus a DeserializeToObject detour) on
    // EVERY consumer query just to read a partition count. The scan's
    // split count is ceil(bytes / maxPartitionBytes) to within file
    // packing, so "fewer splits than cores" is equivalently "input
    // smaller than cores × split size" — a pure plan-statistics read.
    val maxSplitBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(df.sparkSession.conf
        .get("spark.sql.files.maxPartitionBytes", "128m"))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(maxSplitBytes) * parallelism) df.repartition(parallelism)
    else df
  }

  /** Materialization barrier: force the columns computed so far to be
    * physically produced (via a round-robin exchange) instead of being
    * re-inlined into every consumer.
    *
    * Catalyst's CollapseProject substitutes a derived column's
    * DEFINING EXPRESSION into each use site — including inside
    * higher-order-function lambdas, where a reference like
    * `element_at(toks, i)` becomes `element_at(split(text,' '), i)`
    * PER ELEMENT, turning an O(n) tokenize into O(n²) interpreted
    * regex work (observed: the minhash stage spent its whole runtime
    * re-splitting text). An Exchange is a projection barrier no
    * optimizer rule crosses, so one shuffle of the (small, already
    * tokenized) rows buys single evaluation. Use after deriving an
    * expensive array column that downstream lambdas iterate over. */
  def materialize(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
