package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's deterministic parquet tables (TESTDATA.md).
  *
  * Spark-native analog of the reference's sources: the reference reads
  * multiline JSON payloads (`project/transform_data.py:36-43`) and JDBC
  * tables (`audit_pipeline.py:92-99`); our engine's canonical columnar
  * source is Parquet, which supports predicate pushdown and column
  * pruning at the scan (verified via `.explain` — `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a compute-heavy map stage across the cluster when the scan
    * produced fewer splits than cores (a small file arrives as ONE
    * split, serializing everything downstream on one core — exactly
    * what happened to the tokenize/minhash stages). At real scale the
    * scan already has >= cores splits and this is a no-op; the check
    * reads only the plan's size statistics, it runs no job. `df` must
    * be a parquet file scan ([[graft.ops.Dist.rebalance]]). */
  def rebalance(df: DataFrame): DataFrame = graft.ops.Dist.rebalance(df)

  /** JDBC table scan (S2 — `audit_pipeline.py:92-99`). Catalyst pushes
    * IS NOT NULL / comparison predicates and column pruning into the
    * generated SQL (asserted plan-level in JdbcSpec, which round-trips
    * against embedded Derby). */
  def jdbc(spark: SparkSession, url: String, table: String,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.parquet` — schema-adaptive load. The driver has shipped
    * `ts` in two physical encodings across rounds:
    *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it,
    *     so we read nanos as a raw long
    *     (`spark.sql.legacy.parquet.nanosAsLong`) and rebuild the µs
    *     timestamp; the range filter on the raw `ts_ns` long is the one
    *     that reaches the scan as PushedFilters;
    *   - parquet TIMESTAMP(MICROS) (NTZ): read natively; the naive
    *     value is UTC by the generator's contract, and the session zone
    *     is UTC, so the NTZ→LTZ cast is value-preserving. Here `ts`
    *     itself is the raw column (its filters push down) and `ts_ns`
    *     is derived.
    * Either way the exposed contract is identical:
    *   - `ts`    : TimestampType at µs — matches the DuckDB oracle
    *               byte-for-byte (DuckDB likewise reads/truncates to µs);
    *   - `ts_ns` : nanosecond epoch long (deterministic ordering and
    *               tie-breaks; full fidelity when the file carries ns).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TimestampType / TimestampNTZType (µs)
        raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
}
