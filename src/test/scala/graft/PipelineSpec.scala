package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MarketBars
import graft.sources.Tables

object SparkTestSession {
  // pinned to the default 4 cores whatever SPARK_GRAFT_CPUS says: the
  // plan and partition locks assume local[4]
  lazy val spark: SparkSession = Bench.localSession(Bench.DefaultCpus)
  val sf = "/root/testdata/sf0.001"

  /** The partitioning-invariance check: both frames hold the same rows. */
  def same(a: DataFrame, b: DataFrame): Unit = {
    import org.scalatest.Assertions._
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }
}

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and every oracle key has a query") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(name)(assert(n >= 0))
    }
  }

  test("pair z-score legs cancel: spread(sym2) = -spread(sym1) per bar") {
    val df = SparkEntry.queries("q06_pair_zscore")(spark, sf)
    val bad = df.groupBy("bar_ts")
      .agg(sum(col("spread_r")).as("s"), count(lit(1)).as("n"))
      .filter(col("n") =!= 2 || abs(col("s")) > 1e-9)
      .count()
    assert(bad === 0)
  }

  test("z-score is null during warm-up (window_size < 30)") {
    val df = SparkEntry.queries("q06_pair_zscore")(spark, sf).cache()
    assert(df.filter(col("window_size") < 30 && col("z_r").isNotNull).count() === 0)
    // sf0.001 has <30 overlapping bars, so z stays null everywhere; only
    // assert emission once the warm-up is actually reachable.
    if (df.agg(max(col("window_size"))).head.getLong(0) >= 30)
      assert(df.filter(col("z_r").isNotNull).count() > 0)
    df.unpersist()
  }

  test("RTH filter keeps only Mon-Fri 09:30-15:55 ET") {
    val df = SparkEntry.queries("q03_rth_filter")(spark, sf)
    val et = from_utc_timestamp(col("ts"), "America/New_York")
    val offenders = df
      .withColumn("dow", dayofweek(et))
      .withColumn("mod", hour(et) * 60 + minute(et))
      .filter(!col("dow").isin(2, 3, 4, 5, 6) || col("mod") < 570 || col("mod") > 955)
    assert(offenders.count() === 0)
  }

  test("5-min bars: open/close bounded by low/high, bucket aligned") {
    val bars = MarketBars.bars(Tables.events(spark, sf), "event_type", "ts", "value")
    assert(bars.filter(
      col("open") > col("high") || col("open") < col("low") ||
        col("close") > col("high") || col("close") < col("low")).count() === 0)
    assert(bars.filter(unix_micros(col("bar_ts")) % MarketBars.FiveMinutesMicros =!= 0)
      .count() === 0)
  }

  test("session grid yields 78 five-minute slots per weekday") {
    val grid = SparkEntry.queries("q16_session_grid")(spark, sf)
    val counts = grid.groupBy("trading_date").count()
    assert(counts.filter(col("count") =!= 78).count() === 0)
  }

  test("scd2 collapses a snapshot log into validity intervals") {
    import spark.implicits._
    val d = (s: String) => java.sql.Date.valueOf(s)
    val snaps = Seq(
      // key A: X, X (collapses), Y -> two versions
      ("A", d("2024-01-01"), 1L, "X"),
      ("A", d("2024-01-05"), 2L, "X"),
      ("A", d("2024-01-09"), 3L, "Y"),
      // key B: single snapshot -> one open interval
      ("B", d("2024-02-01"), 4L, "P"),
      // key C: same-date tie -> tie order decides; first closes at
      // zero length, second is current
      ("C", d("2024-03-01"), 5L, "P"),
      ("C", d("2024-03-01"), 6L, "Q"))
      .toDF("k", "snap_d", "tie", "attr")
    val out = graft.ops.WarehouseOps.scd2(snaps, "k", "snap_d", "tie", "attr")
      .orderBy("k", "version").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getDate(3).toString, Option(r.getDate(4)).map(_.toString),
        r.getBoolean(5)))
    assert(out.toSeq === Seq(
      ("A", 1, "X", "2024-01-01", Some("2024-01-09"), false),
      ("A", 2, "Y", "2024-01-09", None, true),
      ("B", 1, "P", "2024-02-01", None, true),
      ("C", 1, "P", "2024-03-01", Some("2024-03-01"), false),
      ("C", 2, "Q", "2024-03-01", None, true)))
  }

  test("point-in-time join picks the version valid at each fact date") {
    import spark.implicits._
    val d = (s: String) => java.sql.Date.valueOf(s)
    // dim log: day1 P (superseded same-day by Q), day3 R
    val snaps = Seq(
      ("A", d("2024-01-01"), 1L, "P"),
      ("A", d("2024-01-01"), 2L, "Q"),
      ("A", d("2024-01-03"), 3L, "R"))
      .toDF("custkey", "snap_d", "tie", "status")
    val dim = graft.ops.WarehouseOps.scd2(snaps, "custkey", "snap_d", "tie", "status")
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("custkey"), col("effective_from"))
      .orderBy(col("version").desc)
    val dim1 = dim.withColumn("rn", row_number().over(wf))
      .filter(col("rn") === 1)
      .select(col("custkey"), col("effective_from").as("pit_d"),
        col("status"), col("version"))
    val facts = Seq(
      (10L, "A", d("2024-01-01")),  // same-date: end-of-day state Q
      (11L, "A", d("2024-01-02")),  // mid-interval: still Q
      (12L, "A", d("2024-01-05")))  // after the R change
      .toDF("fact_id", "custkey", "pit_d")
    val out = graft.ops.AsOfJoin.backward(facts, dim1, Seq("custkey"),
        "pit_d", Seq("status", "version"))
      .orderBy("fact_id").collect()
      .map(r => (r.getAs[Long]("fact_id"), r.getAs[String]("status"),
        r.getAs[Int]("version")))
    assert(out.toSeq === Seq((10L, "Q", 2), (11L, "Q", 2), (12L, "R", 3)))
  }
}
