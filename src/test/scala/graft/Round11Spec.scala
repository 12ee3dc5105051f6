package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, ExactRound, MultimodalOps}

/** Round-11 widening fixtures: hand-pinned values for the synthetic-
  * image near-dup pipeline (q393) and the ExactRound engine-proof
  * rounding helpers. */
class Round11Spec extends AnyFunSuite {
  import SparkTestSession.spark

  test("syntheticCells: md5 byte fixture (id 0 cell 0 = 0x3e = 62) and the +16 tweak") {
    val cells = MultimodalOps.syntheticCells(0L, tweaked = false)
    // md5("0:0") = 3eac1f3c... -> first byte 0x3e
    assert(cells(0) === 62)
    assert(cells(1) === 129) // md5("0:1") = 81c99680...
    val tw = MultimodalOps.syntheticCells(0L, tweaked = true)
    assert(tw(0) === 78) // (62 + 16) % 256
    assert(tw.drop(1).sameElements(cells.drop(1)))
  }

  test("bmp8x8 round-trips through the REAL decoder: dims 16x8, aHash = direct cell-bit math") {
    val cells = MultimodalOps.syntheticCells(0L, tweaked = false)
    val bmp = MultimodalOps.bmp8x8(cells)
    val (meta, _) = MultimodalOps.decodeBmp24(bmp).get
    assert(meta.width === 16 && meta.height === 8 && meta.channels === 3)
    // each hash cell owns two identical gray pixels -> bit c is
    // exactly cells(c) >= mean(cells)
    val mean = cells.sum.toDouble / 64
    var expected = 0L
    for (i <- 0 until 64) if (cells(i) >= mean) expected |= (1L << i)
    assert(MultimodalOps.aHash64(bmp) === Some(expected))
    assert(expected === 6799798859660099900L) // pinned for id 0
  }

  test("q393 pipeline: twin pairs surface through decode + aHash + band join") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 2L, 5L, 10L).toDF("vec_id")
    val assets = MultimodalOps.syntheticImageAssets(ids, "vec_id")
    // 5 bases + twins for ids 0, 5, 10
    assert(assets.count() === 8)
    val pairs = DedupOps.hammingNearDups(
        MultimodalOps.imageHashes(assets), "asset_id", "ahash",
        maxHamming = 3)
      .orderBy("id_a")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 0), (10L, 11L, 0), (20L, 21L, 0)))
  }

  test("openingGaps: hand-built two-day tape pins gap direction, fill, and drift split") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // day 1: closes at 100. day 2: opens 102 (gap up), low touches
    // 100 (filled), closes 104. day 3: opens 103 (gap down from 104),
    // high 103.5 < 104 (NOT filled), closes 103.
    val bars = Seq(
      ("X", ts("2025-11-03 10:00:00"), 100.0, 100.5, 99.5, 100.0),
      ("X", ts("2025-11-04 10:00:00"), 102.0, 102.0, 100.0, 101.0),
      ("X", ts("2025-11-04 11:00:00"), 101.0, 104.0, 101.0, 104.0),
      ("X", ts("2025-11-05 10:00:00"), 103.0, 103.5, 102.5, 103.0))
      .toDF("series", "bar_ts", "open", "high", "low", "close")
    val r = graft.ops.MarketBars.openingGaps(bars).collect().head
    assert(r.getAs[Long]("n_days") === 2L) // day 1 has no prior close
    assert(r.getAs[Long]("n_gap_up") === 1L)
    assert(r.getAs[Long]("n_gap_dn") === 1L)
    assert(r.getAs[Double]("fill_rate_up") === 1.0)
    assert(r.getAs[Double]("fill_rate_dn") === 0.0)
    // overnight: ln(102/100) + ln(103/104); intraday: ln(104/102) + ln(103/103)
    val on = ((math.floor(math.log(102.0 / 100.0) * 1e8 + 0.5) +
      math.floor(math.log(103.0 / 104.0) * 1e8 + 0.5)) / 2.0 / 1e4)
    assert(math.abs(r.getAs[Double]("mean_overnight_bps") - on) < 1e-3)
  }

  test("sessionConcurrency: overlapping sessions pin peak 2, all closed by end of day") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 10:00-10:10, u2 10:05-10:15, u3 10:12-10:20 -> peak 2
    val events = Seq(
      (1L, ts("2025-11-03 10:00:00"), 1L), (1L, ts("2025-11-03 10:10:00"), 2L),
      (2L, ts("2025-11-03 10:05:00"), 3L), (2L, ts("2025-11-03 10:15:00"), 4L),
      (3L, ts("2025-11-03 10:12:00"), 5L), (3L, ts("2025-11-03 10:20:00"), 6L))
      .toDF("user_id", "ts", "event_id")
    val r = graft.ops.EventAnalytics.sessionConcurrency(events)
      .collect().head
    assert(r.getAs[Long]("n_started") === 3L)
    assert(r.getAs[Long]("peak_concurrency") === 2L)
    assert(r.getAs[Long]("open_at_eod") === 0L)
  }

  test("sessionConcurrency: singleton sessions occupy their instant (peak >= 1)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two single-event sessions, one shared microsecond -> the +1µs
    // end bump makes both count: peak 2, not the pre-fix 0
    val events = Seq(
      (1L, ts("2025-11-03 10:00:00"), 1L),
      (2L, ts("2025-11-03 10:00:00"), 2L))
      .toDF("user_id", "ts", "event_id")
    val r = graft.ops.EventAnalytics.sessionConcurrency(events)
      .collect().head
    assert(r.getAs[Long]("n_started") === 2L)
    assert(r.getAs[Long]("peak_concurrency") === 2L)
    assert(r.getAs[Long]("open_at_eod") === 0L)
  }

  test("volumeVolatility: two perfectly volume-aligned returns pin corr 1.0") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val bars = Seq(
      ("X", ts("2025-11-03 10:00:00"), 100.0, 5.0),
      ("X", ts("2025-11-03 10:05:00"), 101.0, 20.0), // |r| big, vol big
      ("X", ts("2025-11-03 10:10:00"), 100.5, 10.0)) // |r| small, vol small
      .toDF("series", "bar_ts", "close", "volume")
    val r = graft.ops.MarketBars.volumeVolatility(bars).collect().head
    assert(r.getAs[Long]("n_rets") === 2L)
    assert(r.getAs[Double]("corr_absr_vol") === 1.0)
    assert(r.getAs[Double]("corr_r2_vol") === 1.0)
  }

  test("triggerLift: a->b within the window pins p_obs 1, p_base 1/3, lift 3") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, 10L, "a", ts("2025-11-03 10:00:00")),
      (1L, 11L, "b", ts("2025-11-03 10:00:30")),
      (1L, 12L, "c", ts("2025-11-03 10:02:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.ops.EventAnalytics.triggerLift(events)
      .orderBy("a", "b").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Double]("p_obs"), r.getAs[Double]("p_base"),
          Option(r.getAs[Any]("lift"))))).toMap
    val ((pObs, pBase, lift)) = out(("a", "b"))
    assert(pObs === 1.0)
    assert(pBase === 0.3333)
    assert(lift.contains(3.0))
    // b@30s -> c@120s is 90s apart: no hit
    assert(out(("b", "c"))._1 === 0.0)
  }

  test("medRv: a single jump dominates RV but the median-of-3 filters it") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2025-11-03 10:00:00")
    // six small moves, then one 10% jump, then small moves again
    val rets = Seq(1e-4, -1e-4, 1e-4, -1e-4, 1e-4, -1e-4, 0.1, 1e-4, -1e-4, 1e-4)
    val closes = rets.scanLeft(100.0)((c, r) => c * math.exp(r))
    val bars = closes.zipWithIndex.map { case (c, i) =>
      ("X", new java.sql.Timestamp(base.getTime + i * 60000L), c)
    }.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.medRv(bars).collect().head
    assert(r.getAs[Long]("n_rets") === 10L)
    assert(r.getAs[Long]("m_triples") === 8L)
    assert(r.getAs[Double]("robust_jump_share") > 0.9,
      s"share ${r.getAs[Double]("robust_jump_share")}")
    assert(r.getAs[Double]("medrv_rv_ratio") < 0.1)
  }

  test("templatePrefixRate: shared 8-token heads count as templated; short docs drop") {
    import spark.implicits._
    val head = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"$head body one", "en", "s1", 0L),
      (2L, s"$head completely different tail", "en", "s1", 0L),
      (3L, "unique opening words here make this doc distinct ok", "en", "s1", 0L),
      (4L, "too short", "en", "s1", 0L)) // < 8 tokens: excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.ops.TextOps.templatePrefixRate(docs).collect().head
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_templated") === 2L)
    assert(r.getAs[Long]("n_template_groups") === 1L)
    assert(r.getAs[Long]("max_group") === 2L)
    assert(r.getAs[Double]("template_rate") === 0.6667)
  }

  test("syndicationRate: a head shared ACROSS sources counts; within-source-only does not") {
    import spark.implicits._
    val head = "alpha beta gamma delta epsilon zeta eta theta"
    val local = "local head words one two three four five"
    val docs = Seq(
      (1L, s"$head s1 body", "en", "s1", 0L),
      (2L, s"$head s2 body", "en", "s2", 0L), // cross-source pair
      (3L, s"$local v1", "en", "s1", 0L),
      (4L, s"$local v2", "en", "s1", 0L)) // within-source only
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ops.TextOps.syndicationRate(docs)
      .orderBy("source").collect()
    val s1 = out(0)
    assert(s1.getAs[Long]("n_docs") === 3L)
    assert(s1.getAs[Long]("n_syndicated") === 1L) // only the cross pair
    assert(s1.getAs[Double]("syndication_rate") === 0.3333)
    assert(out(1).getAs[Double]("syndication_rate") === 1.0)
  }

  test("ExactRound.ratioRound: HALF_UP on exact rationals, sign-aware, boundary-exact") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 8L),    // 0.125    -> 0.13 at 2dp (exact tie, up)
      (2L, -1L, 8L),   // -0.125   -> -0.13 (away from zero)
      (3L, 1L, 3L),    // 0.333... -> 0.33
      (4L, 2L, 3L),    // 0.666... -> 0.67
      (5L, 0L, 7L))    // 0 -> 0
      .toDF("id", "num", "den")
    val out = df.select(org.apache.spark.sql.functions.col("id"),
        ExactRound.ratioRound(
          org.apache.spark.sql.functions.col("num"),
          org.apache.spark.sql.functions.col("den"), 2).as("r"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(out.toSeq === Seq(0.13, -0.13, 0.33, 0.67, 0.0))
  }

  test("periodogram: a pure period-6 return cycle concentrates power at p=6, not p=24") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // closes whose log-returns are cos(2*pi*t/6)*1e-4: 97 bars (not a
    // multiple of either period, so leakage is nonzero but tiny)
    val rets = (1 until 97).map(t => math.cos(2 * math.Pi * (t - 1) / 6) * 1e-4)
    val closes = rets.scanLeft(100.0)((c, r) => c * math.exp(r))
    val base = java.sql.Timestamp.valueOf("2025-11-03 10:00:00")
    val bars = closes.zipWithIndex.map { case (c, i) =>
      ("X", new java.sql.Timestamp(base.getTime + i * 60000L), c, c, c, c, 1L, 1.0)
    }.toDF("series", "bar_ts", "open", "high", "low", "close", "n_ticks", "volume")
    val out = graft.ops.MarketBars.periodogram(bars)
      .orderBy("period").collect()
    val share6 = out(0).getAs[Double]("power_share")
    val share24 = out(1).getAs[Double]("power_share")
    assert(share6 > 0.9, s"period-6 share $share6")
    assert(share24 < 0.1, s"period-24 share $share24")
  }

  test("weibullGaps: metronome-regular gaps fit a high shape; equal gaps degenerate to null") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2025-11-03 10:00:00")
    // type A: near-regular gaps 100..110s (regularizing, k >> 1);
    // type B: all gaps exactly equal -> one plotting point -> null fit
    var tA = base.getTime
    val evA = (0 to 11).map { i =>
      val r = ("A", new java.sql.Timestamp(tA), i.toLong)
      tA += (100 + i % 11) * 1000L
      r
    }
    val evB = (0 to 5).map(i =>
      ("B", new java.sql.Timestamp(base.getTime + i * 60000L), (100 + i).toLong))
    val events = (evA ++ evB).toDF("event_type", "ts", "event_id")
    val out = graft.ops.EventAnalytics.weibullGaps(events)
      .orderBy("event_type").collect()
    val a = out(0)
    assert(a.getAs[Long]("n_gaps") === 11L)
    assert(a.getAs[Double]("shape") > 3.0, s"shape ${a.getAs[Double]("shape")}")
    assert(a.getAs[Double]("scale_s") > 90.0 && a.getAs[Double]("scale_s") < 130.0)
    val b = out(1)
    assert(b.isNullAt(b.fieldIndex("shape")), "degenerate spectrum nulls the fit")
  }

  test("charCompressibility: 'abababab' pins H = 0.985228 bits; constant text scores 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abababab", "en", "s1", 8L),
      (2L, "aaaa", "en", "s2", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ops.TextOps.charCompressibility(docs)
      .orderBy("source").collect()
    // m=7: ab x4, ba x3 -> (ln7 - (4ln4 + 3ln3)/7)/ln2 = 0.98522814...
    assert(out(0).getAs[Double]("mean_bits") === 0.985228)
    assert(out(1).getAs[Double]("mean_bits") === 0.0)
    // relative low gate: corpus mean = 0.492614 bits; only the
    // constant doc sits > 0.1 bits below it
    assert(out(0).getAs[Double]("low_entropy_share") === 0.0)
    assert(out(1).getAs[Double]("low_entropy_share") === 1.0)
  }

  test("ExactRound: q365's boundary class — 0.1250005-style rationals round exactly") {
    import spark.implicits._
    // 1250005 / 10^7 at 6dp: the exact rational ties at the 7th digit
    // -> HALF_UP gives 0.125001 in BOTH engines by construction
    // (Spark's round() on the double quotient gives 0.125001 here but
    // DuckDB's multiply-based round gives 0.125 — the r10 q365 bug)
    val df = Seq((1250005L, 10000000L)).toDF("num", "den")
    val r = df.select(ExactRound.ratioRound(
        org.apache.spark.sql.functions.col("num"),
        org.apache.spark.sql.functions.col("den"), 6).as("r"))
      .head().getDouble(0)
    assert(r === 0.125001)
  }
}
