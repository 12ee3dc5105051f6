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

  /** Skew-safe equi-join: replicate the (small-ish) right side
    * `saltBuckets` times and scatter the left side's hot keys across
    * the replicas with a deterministic salt. Use when one join key
    * carries a disproportionate share of rows and AQE's skew-join
    * split isn't available (e.g. the key is hot on BOTH inputs, or
    * the shuffle is sort-merge under a hint). Result is identical to
    * the plain join — verified by property test. */
  def saltedJoin(
      lhs: DataFrame,
      rhs: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched RIGHT row once per
    // salt replica — fail fast rather than silently multiply rows
    require(Set("inner", "left", "left_outer", "leftouter").contains(joinType.toLowerCase),
      s"saltedJoin replicates the right side; only inner/left joins are " +
        s"correct (got '$joinType')")
    import org.apache.spark.sql.functions.{col, explode, hash, lit, pmod, sequence}
    // deterministic scatter: hash the whole left row so equal keys spread
    val saltedLeft = lhs.withColumn("__salt",
      pmod(hash(lhs.columns.toIndexedSeq.map(c => col(c)): _*), lit(saltBuckets)))
    val saltedRight = rhs.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedLeft.join(saltedRight, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Measured skew factor of a join key: how many AVERAGE partitions
    * the hottest key would fill on its own (top-key count over
    * total/parallelism). One planning-time aggregate over the pruned
    * key columns — two numbers reach the driver, never data. 1.0 ≈
    * uniform; ≥ parallelism ≈ one key owns the whole stage. */
  def skewFactor(df: DataFrame, keys: Seq[String]): Double = {
    import org.apache.spark.sql.functions.{col, count, lit, max, sum}
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val row = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top"), sum(col("c")).as("total"))
      .collect().head
    if (row.isNullAt(0) || row.getLong(1) == 0L) 0.0
    else row.getLong(0).toDouble /
      math.max(1L, row.getLong(1) / math.max(1, parallelism))
  }

  /** [[saltedJoin]] with the bucket count CHOSEN from the measured
    * skew: below `skewThreshold` the plain join runs (no salt
    * overhead on healthy data); above it, buckets = ⌈factor⌉ capped
    * at `maxBuckets` — just enough replicas to flatten the hot key
    * back to average-partition size. The planning-time measurement is
    * the same move AQE's skew-join makes from runtime map statistics,
    * available here for the joins AQE can't split (hot on both
    * sides, or sort-merge under a hint). Result is identical to the
    * plain join — property-tested. */
  def autoSaltedJoin(
      lhs: DataFrame,
      rhs: DataFrame,
      keys: Seq[String],
      joinType: String = "inner",
      skewThreshold: Double = 4.0,
      maxBuckets: Int = 64): DataFrame = {
    val factor = skewFactor(lhs, keys)
    if (factor <= skewThreshold) lhs.join(rhs, keys, joinType)
    else saltedJoin(lhs, rhs, keys,
      math.min(maxBuckets, math.max(2, math.ceil(factor).toInt)), joinType)
  }

  /** Conf key for [[guardedJoin]]: "true" turns the measured-skew
    * guard on for the product fact-fact joins that consume it. */
  val SkewGuardKey = "spark.graft.skewGuard"
  /** Conf key for [[guardedJoin]]'s engage threshold (default 4.0 —
    * the hottest key must fill four average partitions by itself). */
  val SkewGuardThresholdKey = "spark.graft.skewGuard.threshold"
  /** Read-only decision trace: [[guardedJoin]] records what it chose
    * (`plain:factor=…` / `salted:factor=…:buckets=…`) here each time
    * the guard is ON. This is the observable contract for pipeline
    * contexts where the salted join hides behind a lazy
    * `localCheckpoint`'s LogicalRDD and so never appears in a plan
    * string. */
  val SkewGuardDecisionKey = "spark.graft.skewGuard.decision"

  /** The product-path face of [[autoSaltedJoin]]: a plain equi-join
    * unless the session opts in (`spark.graft.skewGuard=true`), in
    * which case the lhs key skew is MEASURED and the join salts only
    * when the hottest key exceeds the threshold. Off by default so
    * every existing plan (and gate hash) is byte-identical; on, the
    * result is still identical — only the physical shuffle changes
    * (property-tested). Wired into the heavy fact-fact shuffles:
    * `Pipeline.pairZScores`' leg join and the q293/q295 two-fact
    * joins — the places a single hot key (one halted symbol's
    * duplicate-ts ticks, one mega-order's lines) would otherwise
    * serialize a 1000-executor stage on one core while AQE's
    * skew split is unavailable (sort-merge under a hint, or hot on
    * both sides). */
  def guardedJoin(
      lhs: DataFrame,
      rhs: DataFrame,
      keys: Seq[String],
      joinType: String = "inner",
      maxBuckets: Int = 64): DataFrame = {
    val conf = lhs.sparkSession.conf
    if (conf.get(SkewGuardKey, "false").toBoolean) {
      val threshold = conf.get(SkewGuardThresholdKey, "4.0").toDouble
      val factor = skewFactor(lhs, keys)
      if (factor <= threshold) {
        conf.set(SkewGuardDecisionKey, f"plain:factor=$factor%.2f")
        lhs.join(rhs, keys, joinType)
      } else {
        val buckets = math.min(maxBuckets, math.max(2, math.ceil(factor).toInt))
        conf.set(SkewGuardDecisionKey,
          f"salted:factor=$factor%.2f:buckets=$buckets")
        saltedJoin(lhs, rhs, keys, buckets, joinType)
      }
    } else lhs.join(rhs, keys, joinType)
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
