package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.storage.StorageLevel

/** Output sinks with the reference's safety rule: never overwrite the
  * serving table with an empty frame
  * (`/root/reference/project/transform_data.py:194-197` aborts before
  * the destructive JDBC overwrite).
  *
  * The engine's canonical lake sink is Parquet. Full-refresh overwrite
  * mirrors the reference (`transform_data.py:200-209`); the scale
  * path is partitioned append + dedup (`dropDuplicates` on the
  * natural key replaces the UNIQUE constraint the reference's
  * overwrite silently dropped — SURVEY §1.3, §7.4).
  */
object Sinks {

  class EmptyResultException(msg: String) extends RuntimeException(msg)

  /** Overwrite `path`, aborting on an empty frame (see [[guarded]]). */
  def overwriteParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit =
    guarded(df, emptyRefusal(path)) { cached =>
      val w = cached.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    }

  /** Size-targeted parquet writer — the small-files guard: pick the
    * file count from the optimizer's size estimate so each output
    * file lands near `targetBytes` AFTER parquet compression
    * (`compressionRatio` ≈ in-memory bytes per stored byte; snappy
    * on columnar analytics data runs ~3×). A 1000-executor job that
    * writes one file per task floods the lake with ~KB files and
    * every later scan pays per-file open costs; repartitioning to the
    * computed count makes file size a CONTRACT of the sink instead of
    * an accident of upstream parallelism. Uses the plan-stats
    * estimate — no extra job — and clamps to [1, maxFiles].
    *
    * Stat-less sources (JDBC relations, some views) report
    * `spark.sql.defaultSizeInBytes` = Long.MaxValue, which would clamp
    * to `maxFiles` and recreate exactly the small-files flood this
    * sink prevents; any estimate at or past that sentinel falls back
    * to the plan's incoming partition count (one file per upstream
    * task — the pre-`writeSized` behavior, never a 100000-file
    * explosion). */
  def writeSized(
      df: DataFrame,
      path: String,
      targetBytes: Long = 128L << 20,
      compressionRatio: Double = 3.0,
      maxFiles: Int = 100000): Unit = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sentinel = BigInt(
      df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val perFile = BigInt((targetBytes * compressionRatio).toLong.max(1L))
    val n =
      if (est >= sentinel)
        df.rdd.getNumPartitions.max(1).min(maxFiles)
      else ((est + perFile - 1) / perFile).max(1).min(maxFiles).toInt
    df.repartition(n).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** [[overwriteParquet]]'s empty-guard + [[writeSized]]'s file-count
    * contract in one sink — the product pipeline's serving write
    * (`Pipeline.run`) routes here so the refresh output lands as
    * ~`targetBytes` files regardless of upstream parallelism, instead
    * of one file per task.
    *
    * Evaluates `df` once (see [[guarded]]) and returns the number of
    * rows written. The file count is decided on a new plan over the
    * cache, whose size estimate is the measured in-memory size of the
    * counted rows: a join-derived `df` estimates at its children's
    * product, past the stat-less sentinel, and would otherwise fall
    * back to the cached plan's task count. */
  def overwriteSized(
      df: DataFrame,
      path: String,
      targetBytes: Long = 128L << 20): Long =
    guarded(df, emptyRefusal(path))(cached => writeSized(cached.select("*"), path, targetBytes))

  /** JDBC full-refresh sink with the same empty-guard rule (S3 —
    * `transform_data.py:200-209`; overwrite drops and recreates the
    * table from the frame schema, as the reference's did). Round-trip,
    * refresh, and guard semantics are covered by JdbcSpec against
    * embedded Derby. */
  def overwriteJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties): Unit =
    guarded(df, s"refusing to overwrite $table with an empty result") {
      _.write.mode(SaveMode.Overwrite).jdbc(url, table, props)
    }

  private def emptyRefusal(path: String): String =
    s"refusing to overwrite $path with an empty result (transform_data.py:196-197 rule)"

  /** The destructive sinks' empty guard with ONE evaluation of `df`:
    * persist it, count it, refuse an empty frame (the target is left
    * untouched), else hand the persisted frame to `write`, so the
    * write reads the cache instead of recomputing the plan the guard
    * already ran. Returns the row count. A frame the caller already
    * cached is used as is and left cached. */
  private def guarded(df: DataFrame, refusal: String)(write: DataFrame => Unit): Long = {
    val owned = df.storageLevel == StorageLevel.NONE
    val cached = if (owned) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    try {
      val n = cached.count()
      if (n == 0) throw new EmptyResultException(refusal)
      write(cached)
      n
    } finally if (owned) cached.unpersist()
  }

  /** Z-order-clustered parquet write: compute the Morton key over two
    * columns, range-partition on it, sort within partitions, drop the
    * key. Each output file then covers a NARROW rectangle of the
    * (a, b) key space, so parquet row-group min/max stats prune scans
    * filtered on EITHER column — one sort order serving two predicate
    * dimensions (the ScaleSpec test measures per-file z-spans at a few
    * % of the global span). This is the write-side application of
    * [[graft.ops.LayoutOps.zValue]]; `nFiles` sizes the range
    * partitioning (at 100 TB: total bytes / target file size). */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      aCol: String,
      bCol: String,
      nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    graft.ops.LayoutOps.zOrdered(df, aCol, bCol)
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed managed table: pre-hash-partitions rows by the join key
    * so repeated joins/aggregations on that key run WITHOUT a shuffle
    * — the lake-layout half of "co-locate joins via bucketing"
    * (SURVEY §7.4 / the 100 TB posture). Requires a warehouse-backed
    * table (bucket metadata lives in the catalog). */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)

  /** Incremental append with key dedup against the incoming batch —
    * the 100 TB replacement for full refresh. Partition by trading
    * date so daily reruns prune to one partition. */
  def appendDeduped(df: DataFrame, path: String, keyCols: Seq[String], partitionBy: Seq[String]): Unit = {
    val deduped = df.dropDuplicates(keyCols)
    val w = deduped.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Incremental JDBC append with key dedup — the UNIQUE constraint
    * the reference's full-refresh overwrite silently dropped
    * (`transform_data.py:200-209`, SURVEY §1.3/§7.4(b)) re-expressed
    * engine-side: the batch drops its internal key duplicates, then
    * anti-joins the target's EXISTING keys (a key-columns-only JDBC
    * scan — column pruning reaches the generated SQL) and appends only
    * the survivors. Creates the table when absent. Idempotent:
    * replaying a delivered batch appends nothing, so at-least-once
    * upstream delivery yields exactly-once table contents. A batch
    * that dedups to empty is a silent no-op (an incremental day may
    * legitimately already be loaded), unlike the destructive
    * overwrite's empty GUARD. */
  def appendDedupedJdbc(df: DataFrame, url: String, table: String,
      keyCols: Seq[String],
      props: java.util.Properties = new java.util.Properties): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val deduped = df.dropDuplicates(keyCols)
    val fresh = scala.util.Try(
        spark.read.jdbc(url, table, props).select(keyCols.map(col): _*)
      ) match {
      case scala.util.Success(existingKeys) =>
        deduped.join(existingKeys, keyCols, "left_anti")
      case scala.util.Failure(_) => deduped // table absent: first load
    }
    if (!fresh.isEmpty)
      fresh.write.mode(SaveMode.Append).jdbc(url, table, props)
  }
}
