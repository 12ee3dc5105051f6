package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader for the reference's raw bar payloads: one whole-document
  * JSON file per symbol with a nested `bars` array
  * (`/root/reference/project/ingest_data.py:71-88`, filename pattern
  * `{SYMBOL}_intraday_5min.json`).
  *
  * The reference reads these with schema inference
  * (`project/transform_data.py:36-43`); we pass the explicit schema —
  * same result, deterministic, and no extra inference pass over the
  * files. `multiline=true` is inherent to whole-document JSON and
  * costs one task per file (SURVEY §4) — acceptable because payload
  * files are per-symbol-per-day small; at scale the fleet of files
  * IS the parallelism.
  */
object AlpacaSource {

  /** Name of the PERMISSIVE-mode corrupt-payload capture column. */
  val CorruptCol = "_corrupt_payload"

  /** Explicit schema of the raw payload (FIXTURES.md A1), plus the
    * corrupt-record capture column: without it PERMISSIVE mode nulls
    * malformed payloads SILENTLY; with it the raw text survives so
    * [[inspectRaw]] can report per-file errors the way the reference's
    * inspector does (`inspect_raw_data.py:39-44`). */
  val rawSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("timeframe", StringType),
    StructField("source", StringType),
    StructField("feed", StringType),
    StructField("start_utc", StringType),
    StructField("end_utc", StringType),
    StructField("bars", ArrayType(StructType(Seq(
      StructField("timestamp", StringType),
      StructField("open", DoubleType),
      StructField("high", DoubleType),
      StructField("low", DoubleType),
      StructField("close", DoubleType),
      StructField("volume", LongType))))),
    StructField(CorruptCol, StringType)))

  /** ISO-8601 with offset, as produced by the vendor API
    * (`project/transform_data.py:53`). */
  val TsFormat = "yyyy-MM-dd'T'HH:mm:ssXXX"

  /** Multiline PERMISSIVE JSON scan (S1); malformed payloads land in
    * [[CorruptCol]] instead of being silently nulled. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("multiline", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(rawSchema)
      .json(path)

  /** Raw payload → flat typed bar rows: explode bars, project + cast
    * prices to DECIMAL(15,4) / volume to int, parse timestamps, and
    * drop rows with null close or unparseable timestamp — exactly
    * `clean_data` (`project/transform_data.py:46-69`, null-drop
    * subset semantics at `:65`: null open/high/low/volume survive).
    *
    * Each bar's timestamp is parsed once, inside the array before the
    * explode: the na.drop here and the RTH filter downstream read the
    * parsed column. Parsed after the explode, the optimizer inlines the
    * parse into every predicate of the combined filter that reads it
    * (7 parses per bar with [[filterMarketHoursKeepUtc]]). */
  def cleanBars(raw: DataFrame): DataFrame =
    raw.select(col("symbol"), explode(transform(col("bars"), b =>
        // try_to_timestamp: Spark 4 ANSI mode makes to_timestamp THROW
        // on unparseable input; the reference (Spark 3.4, non-ANSI)
        // nulls it so the na.drop below removes the row — try_ keeps
        // that semantics.
        b.withField("timestamp_utc", try_to_timestamp(b.getField("timestamp"), lit(TsFormat)))))
        .as("bar"))
      .select(
        col("symbol"),
        col("bar.timestamp_utc").as("timestamp_utc"),
        col("bar.open").cast(DecimalType(15, 4)).as("open"),
        col("bar.high").cast(DecimalType(15, 4)).as("high"),
        col("bar.low").cast(DecimalType(15, 4)).as("low"),
        col("bar.close").cast(DecimalType(15, 4)).as("close"),
        col("bar.volume").cast(IntegerType).as("volume"))
      .na.drop(Seq("close", "timestamp_utc"))

  /** Raw-payload inspection report: per-file symbol, bar count, time
    * coverage, and the corrupt flag + error snippet for unparseable
    * payloads (`/root/reference/inspect_raw_data.py:33-44` as a
    * DataFrame op — the reference loops files in Python and prints
    * per-file errors; here they're rows you can filter/alert on). */
  def inspectRaw(raw: DataFrame): DataFrame =
    raw.select(
      col("symbol"),
      size(col("bars")).as("n_bars"),
      col("timeframe"), col("source"), col("feed"),
      col("start_utc"), col("end_utc"),
      col(CorruptCol).isNotNull.as("is_corrupt"),
      substring(col(CorruptCol), 1, 80).as("error_snippet"))

  /** RTH filter, UTC kept canonical: Mon-Fri ET, bar starts in
    * [09:30, 15:55] ET — 78 bars per full session
    * (`project/transform_data.py:72-98`). DST-safe via
    * from_utc_timestamp. */
  def filterMarketHoursKeepUtc(bars: DataFrame, tsCol: String = "timestamp_utc"): DataFrame = {
    val et = from_utc_timestamp(col(tsCol), "America/New_York")
    val minuteOfDay = hour(et) * 60 + minute(et)
    bars
      .filter(dayofweek(et).isin(2, 3, 4, 5, 6) &&
        minuteOfDay >= 570 && minuteOfDay <= 955)
      .withColumnRenamed(tsCol, "timestamp")
  }
}
