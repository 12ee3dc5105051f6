package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Sinks, Tables}

/** Embedded-Derby round-trip for the JDBC scan/sink pair — the
  * reference's primary I/O path (transform_data.py:200-209 writes the
  * serving table over JDBC; audit_pipeline.py:92-99 reads it back).
  * Derby ships in the Spark distribution, so this runs with zero extra
  * dependencies.
  */
class JdbcSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private lazy val dbDir = Files.createTempDirectory("graft-derby").toString
  private lazy val url = s"jdbc:derby:$dbDir/db;create=true"

  // keep derby.log out of the repo working directory
  System.setProperty("derby.stream.error.file", "/tmp/graft-derby.log")

  private def sample = Seq(
    (1L, "AAPL", 189.55, "2025-11-03"),
    (2L, "MSFT", 402.10, "2025-11-03"),
    (3L, "AAPL", 190.02, "2025-11-04"))
    .toDF("bar_id", "symbol", "close", "trading_date")
    .withColumn("trading_date", to_date(col("trading_date")))

  test("jdbc sink + scan round-trips rows and schema") {
    Sinks.overwriteJdbc(sample, url, "bars_rt")
    val back = Tables.jdbc(spark, url, "bars_rt")
    assert(back.count() === 3)
    val rows = back.orderBy("bar_id")
      .select(col("bar_id"), col("symbol"), col("close"), col("trading_date").cast("string"))
      .as[(Long, String, Double, String)].collect().toSeq
    assert(rows === Seq(
      (1L, "AAPL", 189.55, "2025-11-03"),
      (2L, "MSFT", 402.10, "2025-11-03"),
      (3L, "AAPL", 190.02, "2025-11-04")))
  }

  test("jdbc overwrite is a full refresh, not an append") {
    Sinks.overwriteJdbc(sample, url, "bars_fr")
    Sinks.overwriteJdbc(sample.filter(col("bar_id") <= 1), url, "bars_fr")
    assert(Tables.jdbc(spark, url, "bars_fr").count() === 1)
  }

  test("jdbc sink refuses an empty frame (transform_data.py:196-197 rule)") {
    Sinks.overwriteJdbc(sample, url, "bars_guard")
    intercept[Sinks.EmptyResultException] {
      Sinks.overwriteJdbc(sample.filter(col("bar_id") < 0), url, "bars_guard")
    }
    // the guarded table is untouched
    assert(Tables.jdbc(spark, url, "bars_guard").count() === 3)
  }

  test("jdbc dedup-append: replay appends nothing, new keys append once") {
    // first load creates the table
    Sinks.appendDedupedJdbc(sample, url, "bars_inc", Seq("bar_id"))
    assert(Tables.jdbc(spark, url, "bars_inc").count() === 3)
    // exact replay (at-least-once delivery) is a no-op
    Sinks.appendDedupedJdbc(sample, url, "bars_inc", Seq("bar_id"))
    assert(Tables.jdbc(spark, url, "bars_inc").count() === 3)
    // a batch with one known key, one new key, and an internal dup of
    // the new key appends exactly one row
    val next = Seq(
      (3L, "AAPL", 190.02, "2025-11-04"), // already loaded
      (4L, "MSFT", 405.77, "2025-11-04"), // new
      (4L, "MSFT", 405.77, "2025-11-04")) // internal dup of the new key
      .toDF("bar_id", "symbol", "close", "trading_date")
      .withColumn("trading_date", to_date(col("trading_date")))
    Sinks.appendDedupedJdbc(next, url, "bars_inc", Seq("bar_id"))
    val after = Tables.jdbc(spark, url, "bars_inc")
    assert(after.count() === 4)
    assert(after.filter(col("bar_id") === 4L).count() === 1)
  }

  test("jdbc scan pushes comparison predicates into the generated SQL") {
    Sinks.overwriteJdbc(sample, url, "bars_push")
    val filtered = Tables.jdbc(spark, url, "bars_push").filter(col("bar_id") > 1)
    val scans = PlanFacts.of(filtered).scans("jdbc")
    assert(scans.exists(_.pushedFilters.contains("GreaterThan(bar_id,1)")),
      s"expected pushed filter in plan: $scans")
    assert(filtered.count() === 2)
  }
}
