package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps, EventAnalytics, MarketBars, PairAnalytics, SimilarityOps, StatOps, TextOps}
import graft.sources.Tables

/** Round-6 batch: hand-computed fixtures for the new indicator /
  * corpus / embedding ops, partitioning invariance, and plan locks
  * for the new TPC-H shapes (q210-q227).
  */
class Round6Spec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def barsFixture: DataFrame = {
    import spark.implicits._
    // (series, bar_ts, open, high, low, close)
    Seq(
      ("A", ts("2024-01-01 09:00:00"), 10.0, 10.0, 8.0, 9.0),
      ("A", ts("2024-01-01 09:05:00"), 9.0, 11.0, 9.0, 10.0),
      ("A", ts("2024-01-01 09:10:00"), 10.0, 15.0, 10.0, 14.0))
      .toDF("series", "bar_ts", "open", "high", "low", "close")
  }

  test("atr: hand-computed true ranges, warm-up null, floor-form mean") {
    val out = MarketBars.atr(barsFixture, period = 2)
      .orderBy(col("bar_ts")).collect()
    assert(out(0).isNullAt(3), "first bar has no prev_close -> null ATR")
    assert(out(1).isNullAt(3), "one TR observed < period -> null ATR")
    // TR2 = max(11-9, |11-9|, |9-9|) = 2; TR3 = max(5, |15-10|, 0) = 5
    assert(out(2).getDouble(3) === 3.5, "ATR = (2+5)/2")
  }

  test("stochastic: %K range position, flat-window midpoint, %D re-average") {
    import spark.implicits._
    val bars = Seq(
      ("A", ts("2024-01-01 09:00:00"), 10.0, 8.0, 9.0),
      ("A", ts("2024-01-01 09:05:00"), 11.0, 9.0, 10.0),
      ("A", ts("2024-01-01 09:10:00"), 11.0, 9.0, 11.0),
      ("A", ts("2024-01-01 09:15:00"), 11.0, 11.0, 11.0),
      ("A", ts("2024-01-01 09:20:00"), 11.0, 11.0, 11.0))
      .toDF("series", "bar_ts", "high", "low", "close")
    val out = MarketBars.stochastic(bars, period = 2)
      .orderBy(col("bar_ts")).collect()
    assert(out(0).isNullAt(3), "warm-up %K is null")
    // t2: ll=8 hh=11 c=10 -> 100*2/3
    assert(out(1).getDouble(3) === 66.666667)
    // t3: ll=9 hh=11 c=11 -> 100
    assert(out(2).getDouble(3) === 100.0)
    // t5: flat window (hh == ll) pins to the 50 midpoint
    assert(out(4).getDouble(3) === 50.0)
    // %D at t5 = (100e6 + 100e6 + 50e6)/3 floor-form
    assert(out(4).getDouble(4) === 83.333333)
  }

  test("overnightIntraday: gap vs session legs on a 2-day fixture") {
    import spark.implicits._
    val bars = Seq(
      ("A", ts("2024-01-01 09:00:00"), 10.0, 11.0),
      ("A", ts("2024-01-01 10:00:00"), 11.0, 12.0),
      ("A", ts("2024-01-02 09:00:00"), 13.0, 13.0),
      ("A", ts("2024-01-02 10:00:00"), 13.0, 14.4))
      .toDF("series", "bar_ts", "open", "close")
    val out = MarketBars.overnightIntraday(bars).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getLong(1) === 2L, "n_days")
    // overnight: 13/12 - 1 = 0.083333 (one observation)
    assert(r.getDouble(2) === 0.083333)
    // intraday: mean(12/10-1 = 0.2, 14.4/13-1 = 0.107692) = 0.153846
    assert(r.getDouble(3) === 0.153846)
  }

  test("macd: constant series collapses to zero macd and zero signal") {
    import spark.implicits._
    val bars = (1 to 40)
      .map(i => ("A", ts(f"2024-01-01 09:${i % 60}%02d:00"), 10.0))
      .toDF("series", "bar_ts", "close")
    val out = MarketBars.macd(bars).collect()
    assert(out.forall(r => r.getDouble(3) === 0.0), "macd != 0 on flat closes")
    assert(out.forall(r => r.getDouble(4) === 0.0), "signal != 0 on flat closes")
  }

  test("halfLife: geometric half-decay path gives phi=-0.5, HL=1 bar") {
    import spark.implicits._
    val pair = Seq(0.64, 0.32, 0.16, 0.08, 0.04).zipWithIndex.map {
      case (s, i) => ("click-view", ts(f"2024-01-01 09:${i * 5}%02d:00"), s)
    }.toDF("pair_name", "bar_ts", "spread")
    val r = PairAnalytics.halfLife(pair).collect()(0)
    assert(r.getDouble(2) === -0.5, "phi")
    assert(r.getDouble(3) === 1.0, "half-life of s' = s/2 is exactly 1 bar")
  }

  test("distinctN: counts per n-level; short docs emit no row at that level") {
    import spark.implicits._
    val docs = Seq((1L, "a a b", "s1"), (2L, "x", "s2"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.distinctN(docs)
      .orderBy(col("source"), col("n")).collect()
    // s1: unigrams 3 total / 2 distinct; bigrams 2/2; trigrams 1/1
    assert(out.map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("s1", 1, 3L, 2L), ("s1", 2, 2L, 2L), ("s1", 3, 1L, 1L),
        ("s2", 1, 1L, 1L)))
    assert(out(0).getDouble(4) === 0.666667, "distinct-1 ratio of s1")
  }

  test("ctfidf: BERTopic weighting ranks the class-exclusive term first") {
    import spark.implicits._
    val docs = Seq((1L, "a a b", "s1"), (2L, "b c", "s2"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.ctfidf(docs, topK = 2)
      .orderBy(col("source"), col("rank")).collect()
    // A = 5 tokens / 2 classes = 2.5; f_a=2 f_b=2 f_c=1
    assert(out.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq ===
      Seq(("s1", 1, "a"), ("s1", 2, "b"), ("s2", 1, "c"), ("s2", 2, "b")))
    assert(out(0).getDouble(5) === 2.0 * math.log(1 + 2.5 / 2) +- 1e-6)
  }

  test("isotropy: identical pair -> 1, orthogonal pair -> 0") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(2.0f, 0.0f), 0), (2L, Array(3.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.0f), 1), (4L, Array(0.0f, 5.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.isotropy(emb).orderBy(col("label")).collect()
    assert(out(0).getDouble(2) === 1.0, "parallel unit vectors")
    assert(out(1).getDouble(2) === 0.0, "orthogonal unit vectors")
  }

  test("calibrationBins: edges, top-edge clamp, per-bin positive rate") {
    import spark.implicits._
    val sc = Seq((-1.0, 0), (-0.5, 0), (0.5, 1), (1.0, 1))
      .toDF("margin", "label")
    val out = SimilarityOps.calibrationBins(sc).orderBy(col("bin")).collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0, 1L, 0L), (2, 1L, 0L), (7, 1L, 1L), (9, 1L, 1L)))
    assert(out(3).getDouble(4) === 1.0, "max margin clamps into the last bin")
  }

  test("round-6 ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.atr(bars3), MarketBars.atr(bars17))
    same(MarketBars.stochastic(bars3), MarketBars.stochastic(bars17))
    same(MarketBars.overnightIntraday(bars3), MarketBars.overnightIntraday(bars17))
    same(MarketBars.macd(bars3), MarketBars.macd(bars17))
    same(
      PairAnalytics.halfLife(PairAnalytics.pairSpread(bars3, "click", "view")),
      PairAnalytics.halfLife(PairAnalytics.pairSpread(bars17, "click", "view")))
    val docs = Tables.documents(spark, sf)
    same(CorpusOps.distinctN(docs.repartition(3)),
      CorpusOps.distinctN(docs.repartition(17)))
    same(CorpusOps.ctfidf(docs.repartition(3)),
      CorpusOps.ctfidf(docs.repartition(17)))
    val emb = Tables.embeddings(spark, sf)
    same(SimilarityOps.isotropy(emb.repartition(3)),
      SimilarityOps.isotropy(emb.repartition(17)))
  }

  test("aroon: recent high vs stale low positions; tie rules") {
    import spark.implicits._
    // highs: 10, 12, 11, 11; lows: 9, 8, 8, 9  (period 3)
    val bars = Seq(
      ("A", ts("2024-01-01 09:00:00"), 10.0, 9.0, 9.5),
      ("A", ts("2024-01-01 09:05:00"), 12.0, 8.0, 9.0),
      ("A", ts("2024-01-01 09:10:00"), 11.0, 8.0, 9.2),
      ("A", ts("2024-01-01 09:15:00"), 11.0, 9.0, 9.1))
      .toDF("series", "bar_ts", "high", "low", "close")
    val out = MarketBars.aroon(bars, period = 3)
      .orderBy(col("bar_ts")).collect()
    assert(out(0).isNullAt(3) && out(1).isNullAt(3), "warm-up")
    // t3: window high 12 printed 1 bar ago -> 100*(3-1)/3 = 66.6667
    assert(out(2).getDouble(3) === 66.6667)
    // t3: equal lows 8 at t2/t3 — min struct picks the EARLIEST (t2,
    // 1 bar back) -> 100*(3-1)/3 = 66.6667
    assert(out(2).getDouble(4) === 66.6667)
    // t4: that same earliest low is now 2 bars back -> 33.3333
    assert(out(3).getDouble(4) === 33.3333)
    // t4: window high is still the 12 at t2, now 2 bars back
    assert(out(3).getDouble(3) === 33.3333)
  }

  test("mfi: all-up flows hit 100, warm-up null, flat window 50") {
    import spark.implicits._
    val up = (1 to 4).map(i =>
      ("A", ts(f"2024-01-01 09:${i * 5}%02d:00"),
        10.0 + i, 8.0 + i, 9.0 + i, 100.0))
    val bars = up.toDF("series", "bar_ts", "high", "low", "close", "volume")
    val out = MarketBars.mfi(bars, period = 3).orderBy(col("bar_ts")).collect()
    // the first bar has no tp diff, so 3 observed directions need 4 bars
    assert(out(0).isNullAt(3) && out(1).isNullAt(3) && out(2).isNullAt(3))
    assert(out(3).getDouble(3) === 100.0, "monotone tp -> all flow positive")
    val flat = (1 to 4).map(i =>
      ("A", ts(f"2024-01-01 09:${i * 5}%02d:00"), 10.0, 10.0, 10.0, 50.0))
      .toDF("series", "bar_ts", "high", "low", "close", "volume")
    val fout = MarketBars.mfi(flat, period = 3).orderBy(col("bar_ts")).collect()
    assert(fout(3).getDouble(3) === 50.0, "zero-flow window pins midpoint")
  }

  test("cmf: close at high -> +1, close at low -> -1, degenerate bar 0") {
    import spark.implicits._
    val bars = Seq(
      ("A", ts("2024-01-01 09:00:00"), 11.0, 9.0, 11.0, 100.0), // mfm +1
      ("A", ts("2024-01-01 09:05:00"), 11.0, 9.0, 11.0, 100.0), // mfm +1
      ("B", ts("2024-01-01 09:00:00"), 11.0, 9.0, 9.0, 100.0),  // mfm -1
      ("B", ts("2024-01-01 09:05:00"), 10.0, 10.0, 10.0, 100.0)) // degenerate
      .toDF("series", "bar_ts", "high", "low", "close", "volume")
    val out = MarketBars.cmf(bars, period = 2)
      .orderBy(col("series"), col("bar_ts")).collect()
    assert(out(1).getDouble(3) === 1.0, "A: both bars close at the high")
    assert(out(3).getDouble(3) === -0.5, "B: (-100 + 0)/200")
  }

  test("bollinger: constant closes give sd=0, mid=close, null %B") {
    import spark.implicits._
    val bars = (1 to 25).map(i =>
      ("A", ts(f"2024-01-01 09:${i * 2 % 60}%02d:${i * 7 % 60}%02d"), 10.0))
      .toDF("series", "bar_ts", "close")
    val out = MarketBars.bollinger(bars).collect()
    assert(out.length === 6, "rows before a full 20-frame drop")
    assert(out.forall(r => r.getDouble(3) === 10.0 &&
      r.getDouble(4) === 10.0 && r.getDouble(5) === 10.0 && r.isNullAt(6)))
  }

  test("readability: hand-counted Flesch on a two-sentence doc") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat. the dog ran!"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextOps.readability(docs).collect()(0)
    assert(r.getLong(1) === 6L, "words")
    assert(r.getLong(2) === 2L, "sentences ([.!?]+ runs)")
    assert(r.getLong(3) === 6L, "syllables (one vowel run per word)")
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(r.getDouble(4) === 119.19)
  }

  test("burstiness: clumped term disperses above the even term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x x"), (2L, "y z"), (3L, "y z"), (4L, "y z"), (5L, "y z"))
      .toDF("doc_id", "text")
    val out = CorpusOps.burstiness(docs, topK = 3)
      .orderBy(col("rank")).collect()
    val byTerm = out.map(r => r.getString(1) -> r.getDouble(4)).toMap
    // x: N=5 tf=4 s2=16 -> (80-16)/20 = 3.2 ; y: tf=4 s2=4 -> (20-16)/20 = 0.2
    assert(byTerm("x") === 3.2)
    assert(byTerm("y") === 0.2)
  }

  test("hapaxShare: spectrum counts on a fixed vocabulary") {
    import spark.implicits._
    val docs = Seq((1L, "a b b c c c", "s1")).toDF("doc_id", "text", "source")
    val r = CorpusOps.hapaxShare(docs).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 1L, 1L)))
    assert(r.getDouble(4) === 0.333333)
  }

  test("transitionDwell: exact microsecond gaps with the event_id tie rule") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00"), 7L, "a", 1.0),
      (2L, ts("2024-01-01 09:00:01"), 7L, "b", 1.0),
      (3L, ts("2024-01-01 09:00:03"), 7L, "b", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.ops.EventAnalytics.transitionDwell(ev)
      .orderBy(col("prev_type"), col("next_type")).collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSeq ===
      Seq(("a", "b", 1L, 1000000L), ("b", "b", 1L, 2000000L)))
  }

  test("batch-D ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.aroon(bars3), MarketBars.aroon(bars17))
    same(MarketBars.mfi(bars3), MarketBars.mfi(bars17))
    same(MarketBars.cmf(bars3), MarketBars.cmf(bars17))
    same(MarketBars.bollinger(bars3), MarketBars.bollinger(bars17))
    same(graft.ops.EventAnalytics.transitionDwell(ev.repartition(3)),
      graft.ops.EventAnalytics.transitionDwell(ev.repartition(17)))
    val docs = Tables.documents(spark, sf)
    same(graft.ops.TextOps.readability(docs.repartition(3)),
      graft.ops.TextOps.readability(docs.repartition(17)))
    same(CorpusOps.burstiness(docs.repartition(3)),
      CorpusOps.burstiness(docs.repartition(17)))
    same(CorpusOps.hapaxShare(docs.repartition(3)),
      CorpusOps.hapaxShare(docs.repartition(17)))
  }

  test("donchianBreakouts: break needs a FULL pre-existing channel") {
    import spark.implicits._
    val bars = Seq(
      ("A", ts("2024-01-01 09:00:00"), 10.0, 9.0, 9.5),
      ("A", ts("2024-01-01 09:05:00"), 10.5, 9.5, 10.0),
      ("A", ts("2024-01-01 09:10:00"), 11.0, 10.0, 10.8), // close > max(10, 10.5)
      ("A", ts("2024-01-01 09:15:00"), 10.9, 8.0, 9.0))   // close < min(9.5, 10.0)
      .toDF("series", "bar_ts", "high", "low", "close")
    val r = MarketBars.donchianBreakouts(bars, period = 2).collect()(0)
    assert(r.getLong(1) === 1L, "one up break (t3)")
    assert(r.getLong(2) === 1L, "one down break (t4)")
    assert(r.getTimestamp(3) === ts("2024-01-01 09:10:00"))
    assert(r.getTimestamp(4) === ts("2024-01-01 09:15:00"))
  }

  test("volCone: constant-ratio closes give zero vol at every horizon") {
    import spark.implicits._
    val bars = (1 to 30).map(i =>
      ("A", ts(f"2024-01-01 ${9 + i / 12}%02d:${(i * 5) % 60}%02d:00"),
        10.0 * math.pow(1.01, i)))
      .toDF("series", "bar_ts", "close")
    val out = MarketBars.volCone(bars).collect()
    assert(out.length === 3, "three horizons")
    assert(out.forall(r => r.getDouble(3) === 0.0 && r.getDouble(4) === 0.0 &&
      r.getDouble(5) === 0.0), "identical returns -> sigma 0")
  }

  test("codeDetect: symbol-dense doc flags, prose does not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "def f(x): return my_var + other_var; } { (y) = <z>"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val out = graft.ops.TextOps.codeDetect(docs).orderBy(col("doc_id")).collect()
    assert(out(0).getBoolean(7) === true, "code flags")
    assert(out(1).getBoolean(7) === false, "prose passes")
  }

  test("centroidDistances: hand-placed centroids recover the Euclidean gap") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.0f, 0.0f), 0), (2L, Array(2.0f, 0.0f), 0), // centroid (1, 0)
      (3L, Array(4.0f, 3.0f), 1), (4L, Array(4.0f, 3.0f), 1)) // centroid (4, 3)
      .toDF("vec_id", "embedding", "label")
    val r = CorpusOps.centroidDistances(emb).collect()(0)
    // distance between (1,0) and (4,3) = sqrt(9 + 9) = 4.242641
    assert(r.getDouble(2) === 4.242641)
  }

  test("batch-E ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.donchianBreakouts(bars3), MarketBars.donchianBreakouts(bars17))
    same(MarketBars.volCone(bars3), MarketBars.volCone(bars17))
    val docs = Tables.documents(spark, sf)
    same(graft.ops.TextOps.codeDetect(docs.repartition(3)),
      graft.ops.TextOps.codeDetect(docs.repartition(17)))
    val emb = Tables.embeddings(spark, sf)
    same(CorpusOps.centroidDistances(emb.repartition(3)),
      CorpusOps.centroidDistances(emb.repartition(17)))
  }

  test("streakStats: islands collapse with exact lengths and directions") {
    import spark.implicits._
    // closes: 10, 11, 12, 11, 11, 12 -> dirs: up, up, down, flat, up
    val bars = (Seq(10.0, 11.0, 12.0, 11.0, 11.0, 12.0)).zipWithIndex.map {
      case (c, i) => ("A", ts(f"2024-01-01 09:${i * 5}%02d:00"), c)
    }.toDF("series", "bar_ts", "close")
    val out = MarketBars.streakStats(bars)
      .orderBy(col("dir")).collect()
    assert(out.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("down", 1L, 1L), ("flat", 1L, 1L), ("up", 2L, 2L)))
    // up: runs of 2 and 1 -> mean 1.5
    assert(out(2).getDouble(5) === 1.5)
  }

  test("archEffect: alternating big/small returns show lag-1 anticorrelation") {
    import spark.implicits._
    // closes alternate x2 and x1.01 -> squared returns alternate
    // large/small -> lag-1 ACF of squares is strongly negative
    var c = 10.0
    val seq = (0 until 24).map { i =>
      c = if (i % 2 == 0) c * 2.0 else c * 1.01
      ("A", ts(f"2024-01-01 ${9 + i / 12}%02d:${(i * 5) % 60}%02d:00"), c)
    }
    val bars = seq.toDF("series", "bar_ts", "close")
    val out = MarketBars.archEffect(bars, maxLag = 2)
      .orderBy(col("k")).collect()
    assert(out(0).getDouble(3) < -0.9, "lag-1: big follows small")
    assert(out(1).getDouble(3) > 0.9, "lag-2: like follows like")
    assert(out(1).getBoolean(4), "lag-2 flags")
  }

  test("vocabOverlap: hand-set term sets recover exact Jaccard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "b c d", "s2"), (3L, "x y", "s3"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.vocabOverlap(docs)
      .orderBy(col("source_a"), col("source_b")).collect()
    // s1 ∩ s2 = {b, c} -> 2/4; s3 shares nothing -> pairs absent
    assert(out.length === 1, "disjoint pairs emit no row")
    assert((out(0).getString(0), out(0).getString(1),
      out(0).getLong(2), out(0).getLong(3)) === (("s1", "s2", 2L, 4L)))
    assert(out(0).getDouble(4) === 0.5)
  }

  test("batch-F ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.streakStats(bars3), MarketBars.streakStats(bars17))
    same(MarketBars.archEffect(bars3), MarketBars.archEffect(bars17))
    val docs = Tables.documents(spark, sf)
    same(CorpusOps.vocabOverlap(docs.repartition(3)),
      CorpusOps.vocabOverlap(docs.repartition(17)))
  }

  test("horizonMoments: constant-ratio closes null the shape moments") {
    import spark.implicits._
    val bars = (1 to 30).map(i =>
      ("A", ts(f"2024-01-01 ${9 + i / 12}%02d:${(i * 5) % 60}%02d:00"),
        10.0 * math.pow(1.02, i)))
      .toDF("series", "bar_ts", "close")
    val out = MarketBars.horizonMoments(bars).orderBy(col("horizon")).collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getDouble(4) === 0.0, "identical returns -> zero variance")
      assert(r.isNullAt(5) && r.isNullAt(6), "sd=0 -> no shape moments")
    }
    // 1-bar mean: ln(1.02)*1e8 snapped, /1e4 -> ~198.0263 bps
    assert(out(0).getDouble(3) === math.floor(math.log(1.02) * 1e8 + 0.5) / 1e4)
  }

  test("rakeKeywords: degree/frequency scoring on the textbook example") {
    import spark.implicits._
    // "deep learning" run broken by the stopword 'of'
    val docs = Seq(
      (1L, "deep learning of deep networks"),
      (2L, "deep learning"))
      .toDF("doc_id", "text")
    val out = CorpusOps.rakeKeywords(docs, topK = 5)
      .orderBy(col("rank")).collect()
    // candidates: "deep learning" (x2), "deep networks" (x1)
    // freq(deep)=3, degree(deep)=6 -> 2.0; learning: 2/2*2=2.0;
    // networks: 2/1... freq(networks)=1, degree=2 -> 2.0
    // both phrases score 4.0 -> lexical tie-break
    val byPhrase = out.map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(byPhrase("deep learning") === 4.0)
    assert(byPhrase("deep networks") === 4.0)
    assert(out(0).getString(1) === "deep learning", "lexical tie-break")
    assert(out.find(_.getString(1) == "deep learning").get.getLong(2) === 2L,
      "occurrence count")
  }

  test("batch-G ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.horizonMoments(bars3), MarketBars.horizonMoments(bars17))
    val docs = Tables.documents(spark, sf)
    same(CorpusOps.rakeKeywords(docs.repartition(3)),
      CorpusOps.rakeKeywords(docs.repartition(17)))
  }

  test("tailClustering: a burst of jumps collapses to one max run") {
    import spark.implicits._
    // 20 quiet bars, then 3 consecutive big jumps, then quiet again
    var c = 100.0
    val rows = (0 until 30).map { i =>
      c *= (if (i >= 20 && i < 23) 3.0 else 1.001)
      ("A", ts(f"2024-01-01 ${9 + i / 12}%02d:${(i * 5) % 60}%02d:00"), c)
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = MarketBars.tailClustering(bars).collect()(0)
    assert(r.getLong(2) === 3L, "three tail bars")
    assert(r.getLong(3) === 3L, "all consecutive -> one run of 3")
  }

  test("zipfSlope: an exact power-law vocabulary recovers slope -1") {
    import spark.implicits._
    // term t_r appears floor(12/r) times: freq = 12, 6, 4, 3 for
    // ranks 1..4 -> not exactly -1, so build exact 2^-k law instead:
    // freqs 8, 4, 2, 1 over ranks 1..4 gives slope ln(1/2)/ln(...) —
    // not constant either; just assert the slope is negative and the
    // op matches a hand OLS on the known (ln r, ln f) points
    val words =
      Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++ Seq.fill(2)("cc") ++ Seq("dd")
    val docs = Seq((1L, words.mkString(" "), "s1")).toDF("doc_id", "text", "source")
    val r = CorpusOps.zipfSlope(docs).collect()(0)
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val n = 4.0
    val slope = (n * xs.zip(ys).map { case (a, b) => BigDecimal(a * b)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble }.sum -
      xs.sum * ys.sum) / (n * xs.map(x => x * x).sum - xs.sum * xs.sum)
    assert(r.getDouble(2) < 0, "frequency falls with rank")
    assert(math.abs(r.getDouble(2) - slope) < 1e-4, "matches hand OLS")
  }

  test("batch-H ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.hourlyVolProfile(bars3), MarketBars.hourlyVolProfile(bars17))
    same(MarketBars.tailClustering(bars3), MarketBars.tailClustering(bars17))
    val docs = Tables.documents(spark, sf)
    same(CorpusOps.zipfSlope(docs.repartition(3)),
      CorpusOps.zipfSlope(docs.repartition(17)))
  }

  test("dHash64: invariant under a global brightness shift where aHash flips") {
    import graft.ops.MultimodalOps
    def bmp24(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val rowSize = ((w * 3 + 3) / 4) * 4
      val size = 54 + rowSize * h
      val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24).putInt(0).putInt(rowSize * h)
      b.putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- h - 1 to 0 by -1) {
        for (x <- 0 until w) {
          val (r, g, bl) = rgb(x, y)
          b.put(bl.toByte).put(g.toByte).put(r.toByte)
        }
        for (_ <- 0 until rowSize - w * 3) b.put(0.toByte)
      }
      b.array()
    }
    def grad(x: Int, y: Int): (Int, Int, Int) = { val v = x * 200 / 17; (v, v, v) }
    val base = bmp24(18, 16, grad)
    val brighter = bmp24(18, 16, (x, y) => {
      val (r, g, b) = grad(x, y); (r + 55, g + 55, b + 55)
    })
    // gradient signs survive the shift bit-for-bit
    assert(MultimodalOps.dHash64(base) === MultimodalOps.dHash64(brighter))
    assert(MultimodalOps.dHash64(base).isDefined)
    // determinism + junk guard
    assert(MultimodalOps.dHash64("not a bmp".getBytes) === None)
  }

  test("leadLagMatrix: a shifted copy is found at its exact lag") {
    import spark.implicits._
    // B trails A by one bar (B_t = A_{t-1}); corr(A_t, B_{t+1}) = 1,
    // so the argmax lands on k = -1 (negative k = first series leads)
    val path = Seq(10.0, 12.0, 11.0, 15.0, 13.0, 17.0, 16.0, 20.0, 18.0, 22.0)
    val rows =
      path.zipWithIndex.map { case (v, i) =>
        ("A", ts(f"2024-01-01 09:${i * 5}%02d:00"), v)
      } ++ path.zipWithIndex.map { case (v, i) =>
        ("B", ts(f"2024-01-01 09:${(i + 1) * 5}%02d:00"), v)
      }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = MarketBars.leadLagMatrix(bars).collect()(0)
    assert((r.getString(0), r.getString(1)) === (("A", "B")))
    assert(r.getInt(2) === -1, "A leads B by one bar")
    assert(r.getDouble(4) === 1.0, "shifted copy correlates exactly")
  }

  test("pcaTopVariance: collinear 2-d data is rank one") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(2.0f, 4.0f)),
      (3L, Array(3.0f, 6.0f)), (4L, Array(-1.0f, -2.0f)))
      .toDF("vec_id", "embedding")
    val r = SimilarityOps.pcaTopVariance(emb).collect()(0)
    assert(r.getLong(0) === 4L && r.getInt(1) === 2)
    assert(r.getDouble(5) === 1.0, "all variance on the line")
    assert(r.getDouble(3) === 0.0, "second component empty")
  }

  test("batch-J ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.leadLagMatrix(bars3), MarketBars.leadLagMatrix(bars17))
    val emb = Tables.embeddings(spark, sf)
    same(SimilarityOps.pcaTopVariance(emb.repartition(3)),
      SimilarityOps.pcaTopVariance(emb.repartition(17)))
  }

  test("q249 plan: pair join runs on the distinct vocab relation, no window") {
    val df = CorpusOps.vocabOverlap(Tables.documents(spark, sf))
    df.collect()
    val facts = PlanFacts.of(df)
    assert(facts.windows.isEmpty, s"vocab overlap must not window: ${facts.windows}")
    assert(facts.joins("CartesianProduct") === 0,
      s"pair join must be term-keyed, not cartesian: ${facts.joins}")
    assert(facts.generates.count(_ == "explode") <= 1,
      s"corpus re-tokenized per side: ${facts.generates}")
  }

  test("q228 plan: EXISTS runs as a semi join (orders never duplicate)") {
    val joins = PlanFacts.of(SparkEntry.queries("q228_late_orders")(spark, sf)).joins
    assert(joins.exists(_.joinType == "LeftSemi"), s"the EXISTS must be a semi join: $joins")
  }

  test("q234 plan: readability is map-only (no exchange at all)") {
    val facts = PlanFacts.of(graft.ops.TextOps.readability(Tables.documents(spark, sf)))
    assert(facts.exchanges("hash") === 0, s"readability must not shuffle: ${facts.exchanges}")
  }

  test("q217 plan: every predicate reaches the lineitem scan") {
    val pushed = PlanFacts.of(SparkEntry.queries("q217_discount_revenue")(spark, sf))
      .scans("parquet").flatMap(_.pushedFilters)
    // the scan's pushed filters, un-truncated: the shipdate range and
    // the three data predicates all reach the parquet reader
    for (f <- Seq("IsNotNull(l_shipdate)", "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)"))
      assert(pushed.contains(f), s"$f not pushed to the scan: $pushed")
  }

  test("q214 plan: pre-aggregated HAVING cut, top-20 via TakeOrdered") {
    val facts = PlanFacts.of(SparkEntry.queries("q214_large_orders")(spark, sf))
    assert(facts.takeOrdered > 0, s"top-20 must be TakeOrdered, not a global sort: ${facts.sorts}")
  }

  test("q225 plan: one tokenize pass, the rank window runs on the vocab aggregate") {
    val df = CorpusOps.ctfidf(Tables.documents(spark, sf))
    df.collect() // finalize adaptive plan so exchange reuse is visible
    val facts = PlanFacts.of(df)
    assert(facts.generates.count(_ == "explode") <= 1,
      s"corpus re-tokenized per leg: ${facts.generates}")
    assert(facts.windows.size === 1, s"only the per-source rank may window: ${facts.windows}")
  }

  test("q226 plan: no window, no cartesian, map-side posexplode") {
    val facts = PlanFacts.of(SimilarityOps.isotropy(Tables.embeddings(spark, sf)))
    assert(facts.windows.isEmpty, s"isotropy must not window: ${facts.windows}")
    assert(facts.joins("CartesianProduct") === 0,
      s"the Gram identity needs no pairwise product: ${facts.joins}")
    assert(facts.generates.contains("posexplode"),
      s"expected a map-side posexplode: ${facts.generates}")
  }

  // ---- batch K: association / inequality / randomness statistics ----

  test("turningPoints: strict extrema census, exact iid moments") {
    import spark.implicits._
    val bars = Seq(1.0, 3.0, 2.0, 4.0, 4.0, 5.0).zipWithIndex.map {
      case (c, i) => ("A", ts(f"2024-01-01 09:${i * 5}%02d:00"), c)
    }.toDF("series", "bar_ts", "close")
    val out = MarketBars.turningPoints(bars).collect()(0)
    // peak at 3, trough at 2; the 4,4 plateau is NOT a strict extremum
    assert(out.getAs[Long]("n_turning") === 2L)
    assert(out.getAs[Double]("exp_turning") === 2.666667)
    assert(out.getAs[Double]("z") === -0.772667)
  }

  test("kendallTauB: hand contingency — one discordant pair of three") {
    import spark.implicits._
    val df = Seq((1, 1), (2, 3), (3, 2)).toDF("x", "y")
    val out = StatOps.kendallTauB(df, col("x"), col("y")).collect()(0)
    assert(out.getAs[Long]("conc") === 2L)
    assert(out.getAs[Long]("disc") === 1L)
    assert(out.getAs[Double]("tau_b") === 0.333333)
  }

  test("theilIndex: equal values give zero, 1-vs-3 textbook values") {
    import spark.implicits._
    val m = Seq(("eq", 2.0), ("eq", 2.0), ("sk", 1.0), ("sk", 3.0))
      .toDF("g", "x")
      .withColumn("xdec",
        col("x").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
    val out = StatOps.theilIndex(m, "g").orderBy("g").collect()
    assert(out(0).getAs[Double]("theil_t") === 0.0)
    assert(out(0).getAs[Double]("theil_l") === 0.0)
    // T = (1/2)[(1/2)ln(1/2) + (3/2)ln(3/2)], L = (1/2)[ln 2 + ln(2/3)]
    assert(out(1).getAs[Double]("theil_t") === 0.130812)
    assert(out(1).getAs[Double]("theil_l") === 0.143841)
  }

  test("categoricalMI: identical columns give NMI = 1, H = ln 2") {
    import spark.implicits._
    val docs = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("lang", "source")
    val out = CorpusOps.categoricalMI(docs, "lang", "source").collect()(0)
    assert(out.getAs[Double]("mi_nats") === 0.693147)
    assert(out.getAs[Double]("h_x") === 0.693147)
    assert(out.getAs[Double]("nmi") === 1.0)
  }

  test("silhouette: two tight separated clusters score exactly 1") {
    import spark.implicits._
    val emb = Seq(
      (1L, 0, Array(0f, 0f)), (2L, 0, Array(0f, 0f)),
      (3L, 1, Array(10f, 10f)), (4L, 1, Array(10f, 10f)))
      .toDF("vec_id", "label", "embedding")
    val out = CorpusOps.silhouette(emb).orderBy("label").collect()
    assert(out.length === 2)
    // a = 0 (point IS its centroid), b > 0 -> s = b/b = 1
    assert(out(0).getAs[Long]("n_scored") === 2L)
    assert(out(0).getAs[Double]("mean_sil") === 1.0)
    assert(out(1).getAs[Double]("mean_sil") === 1.0)
  }

  test("gTestFdr: uniform type accepts, one-bin type rejects under BH") {
    import spark.implicits._
    val ev = (Seq(0, 8, 16).flatMap(h =>
      Seq.fill(2)(("u", ts(f"2024-01-01 $h%02d:30:00")))) ++
      Seq.fill(6)(("s", ts("2024-01-01 01:00:00"))))
      .toDF("event_type", "ts")
    val out = EventAnalytics.gTestFdr(ev).orderBy("event_type").collect()
    val s = out(0); val u = out(1)
    // s: all 6 in one bin -> LR = 12 ln 3, p = exp(-6 ln 3)
    assert(s.getAs[Double]("lr") === 13.183347)
    assert(s.getAs[Double]("p") === 0.00137174)
    assert(s.getAs[Boolean]("bh_reject") === true)
    assert(u.getAs[Double]("lr") === 0.0)
    assert(u.getAs[Boolean]("bh_reject") === false)
  }

  // ---- batch N: Q11 shape / exponential QQ fit / mean excess ----

  test("expFitPpcc: near-linear QQ on a short ramp, null on constant gaps") {
    import spark.implicits._
    def evs(tpe: String, gapsUs: Seq[Long]): Seq[(Long, Timestamp, Long, String)] = {
      val starts = gapsUs.scanLeft(0L)(_ + _)
      starts.zipWithIndex.map { case (us, i) =>
        ((tpe.hashCode.toLong << 8) + i, new Timestamp(us / 1000), 1L, tpe)
      }
    }
    val ev = (evs("ramp", Seq(1000000L, 2000000L, 3000000L)) ++
      evs("flat", Seq(1000000L, 1000000L, 1000000L)))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.ops.EventAnalytics.expFitPpcc(ev)
      .orderBy("event_type").collect()
    assert(out(0).isNullAt(2), "constant gaps have zero variance -> null")
    assert(out(1).getAs[Double]("ppcc") === 0.978485)
  }

  test("meanExcess: hand tail — one exceedance over the p95 cut") {
    import spark.implicits._
    val rs = Seq(0.01, -0.02, 0.01, 0.03)
    val closes = rs.scanLeft(100.0)((c, r) => c * math.exp(r))
    val bars = closes.zipWithIndex.map { case (c, i) =>
      ("A", ts(f"2024-01-01 09:${i * 5}%02d:00"), c)
    }.toDF("series", "bar_ts", "close")
    val out = MarketBars.meanExcess(bars).collect()(0)
    assert(out.getAs[Long]("n_rets") === 4L)
    assert(out.getAs[Double]("u") === 0.0285)
    assert(out.getAs[Long]("n_exceed") === 1L)
    assert(out.getAs[Double]("mean_excess") === 0.0015)
  }

  test("batch-N ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    same(graft.ops.EventAnalytics.expFitPpcc(ev.repartition(3)),
      graft.ops.EventAnalytics.expFitPpcc(ev.repartition(17)))
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.meanExcess(bars3), MarketBars.meanExcess(bars17))
  }

  test("q284 plan: dims broadcast, no cartesian, no window") {
    val df = SparkEntry.queries("q284_min_cost_supplier")(spark, sf)
    df.collect()
    val facts = PlanFacts.of(df)
    assert(facts.joins("BroadcastHashJoin") > 0, s"part/dim joins must broadcast: ${facts.joins}")
    assert(facts.joins("CartesianProduct") === 0, s"Q2 shape must stay equi-joined: ${facts.joins}")
    assert(facts.windows.isEmpty,
      s"correlated min must be groupBy + join, not a window: ${facts.windows}")
  }

  test("q286 plan: keySkew is two aggregates, no window, no join") {
    val df = SparkEntry.queries("q286_key_skew")(spark, sf)
    df.collect()
    val facts = PlanFacts.of(df)
    assert(facts.windows.isEmpty, s"skew audit must not window: ${facts.windows}")
    assert(facts.joins.isEmpty, s"skew audit must not join: ${facts.joins}")
  }

  // ---- batch M: weights / skew / tail / beta / fertility ----

  test("classWeights: inverse-frequency and effective-number forms") {
    import spark.implicits._
    val emb = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1))
      .toDF("vec_id", "label")
    val out = CorpusOps.classWeights(emb).orderBy("label").collect()
    assert(out(0).getAs[Long]("n_c") === 3L)
    assert(out(0).getAs[Double]("inv_freq_w") === 0.666667)
    assert(out(0).getAs[Double]("eff_num_w") === 0.336689)
    assert(out(1).getAs[Double]("inv_freq_w") === 2.0)
    // n_c = 1: (1-b)/(1-b^1) = 1 exactly
    assert(out(1).getAs[Double]("eff_num_w") === 1.0)
  }

  test("keySkew: one mega-key dominates the profile") {
    import spark.implicits._
    val df = (Seq.fill(8)(1) ++ Seq(2, 3)).toDF("k0")
    val out = StatOps.keySkew(df, col("k0")).collect()(0)
    assert(out.getAs[Long]("n_keys") === 3L)
    assert(out.getAs[Long]("max_key_rows") === 8L)
    assert(out.getAs[Double]("top1_share") === 0.8)
    assert(out.getAs[Double]("p50_rows") === 1.0)
  }

  test("hillTail: hand geometric tail, boundary ties are harmless") {
    import spark.implicits._
    val df = Seq(("s", 8L), ("s", 4L), ("s", 2L)).toDF("g", "v")
    val out = StatOps.hillTail(df, "g", "v", k = 2).collect()(0)
    assert(out.getAs[Long]("n_tail") === 2L)
    assert(out.getAs[Double]("x_ref") === 2.0)
    assert(out.getAs[Double]("alpha") === 0.961797)
  }

  test("upDownBeta: a 2x-levered copy has beta 2 in BOTH regimes") {
    import spark.implicits._
    // market m8 and follower r8 = 2*m8, alternating signs
    val rows = Seq(100.0, 101.0, 100.0, 102.0, 100.5).zipWithIndex
    val bars = rows.flatMap { case (c, i) =>
      val t = ts(f"2024-01-01 09:${i * 5}%02d:00")
      // follower doubles the log move: c^2/100 keeps ln ratio = 2x
      Seq(("mkt", t, c), ("fol", t, c * c / 100.0))
    }.toDF("series", "bar_ts", "close")
    val out = MarketBars.upDownBeta(bars, "mkt")
      .orderBy("series", "regime").collect()
    assert(out.length === 2)
    assert(out.forall(_.getAs[Double]("beta") === 2.0 +- 0.001))
  }

  test("tokenizerFertility: long words fragment, short words do not") {
    import spark.implicits._
    // "abcdefgh ab" -> ws 2, sub ceil(8/4)+ceil(2/4) = 3 -> 1.5
    val docs = Seq(("en", "abcdefgh ab")).toDF("lang", "text")
    val out = TextOps.tokenizerFertility(docs).collect()(0)
    assert(out.getAs[Long]("ws_tokens") === 2L)
    assert(out.getAs[Long]("subword_est") === 3L)
    assert(out.getAs[Double]("fertility") === 1.5)
  }

  test("batch-M ops are partitioning-invariant") {
    val emb = Tables.embeddings(spark, sf)
    same(CorpusOps.classWeights(emb.repartition(3)),
      CorpusOps.classWeights(emb.repartition(17)))
    val li = Tables.lineitem(spark, sf)
    same(StatOps.keySkew(li.repartition(3), col("l_partkey")),
      StatOps.keySkew(li.repartition(17), col("l_partkey")))
    val docs = Tables.documents(spark, sf)
    same(StatOps.hillTail(docs.repartition(3), "source", "n_chars", k = 10),
      StatOps.hillTail(docs.repartition(17), "source", "n_chars", k = 10))
    same(TextOps.tokenizerFertility(docs.repartition(3)),
      TextOps.tokenizerFertility(docs.repartition(17)))
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.upDownBeta(bars3, "click"),
      MarketBars.upDownBeta(bars17, "click"))
  }

  // ---- batch L: drift / survival / sampling / chain statistics ----

  test("psiDrift: identical halves give zero, full shift crosses 0.2") {
    import spark.implicits._
    val cut = ts("2024-01-15 00:00:00")
    val before = ts("2024-01-10 00:00:00")
    val after = ts("2024-01-20 00:00:00")
    // type a: same values on both sides -> pa = pb in every bin
    val a = Seq(1.0, 2.0, 3.0, 4.0).flatMap(v =>
      Seq(("a", before, v), ("a", after, v)))
    // type b: slice pinned to bin 0, rest pinned to bin 9
    val b = Seq.fill(4)(("b", before, 0.0)) ++ Seq.fill(4)(("b", after, 1.0))
    val ev = (a ++ b).toDF("event_type", "ts", "value")
    val out = graft.ops.EventAnalytics.psiDrift(ev, col("ts") < cut)
      .orderBy("event_type").collect()
    assert(out(0).getAs[Double]("psi") === 0.0)
    assert(out(0).getAs[Boolean]("drifted") === false)
    assert(out(1).getAs[Double]("psi") === 0.919679)
    assert(out(1).getAs[Boolean]("drifted") === true)
  }

  test("kaplanMeier: textbook product-limit path, absorbed tail pins 0") {
    import spark.implicits._
    val durs = Seq(
      ("g", 5L, 1L), ("g", 10L, 1L), ("g", 10L, 0L),
      ("h", 5L, 1L))
      .toDF("grp", "dur", "event")
    val out = StatOps.kaplanMeier(durs, "grp", Seq(3, 7, 30))
      .orderBy("grp", "horizon").collect()
    val g = out.filter(_.getString(0) == "g")
    assert(g(0).getAs[Double]("surv") === 1.0)       // H=3: no events yet
    assert(g(1).getAs[Double]("surv") === 0.666667)  // H=7: (3-1)/3
    assert(g(2).getAs[Double]("surv") === 0.333333)  // H=30: * (2-1)/2
    val h = out.filter(_.getString(0) == "h")
    assert(h(0).getAs[Double]("surv") === 1.0)
    assert(h(1).getAs[Double]("surv") === 0.0)       // d = n absorbs
    assert(h(2).getAs[Double]("surv") === 0.0)
  }

  test("neymanAllocation: zero-spread stratum gets zero quota") {
    import spark.implicits._
    val docs = Seq(("x", 5L), ("x", 5L), ("y", 0L), ("y", 2L), ("y", 4L))
      .toDF("source", "n_chars")
    val out = CorpusOps.neymanAllocation(docs).orderBy("source").collect()
    assert(out(0).getAs[Double]("sd") === 0.0)
    assert(out(0).getAs[Long]("n_alloc") === 0L)
    assert(out(1).getAs[Double]("sd") === 2.0)
    assert(out(1).getAs[Double]("share") === 1.0)
    assert(out(1).getAs[Long]("n_alloc") === 1000L)
  }

  test("entropyRate: a deterministic chain has rate exactly zero") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (2L, ts("2024-01-01 00:01:00"), 1L, "b"),
      (3L, ts("2024-01-01 00:02:00"), 1L, "a"),
      (4L, ts("2024-01-01 00:03:00"), 1L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.ops.EventAnalytics.entropyRate(ev).collect()(0)
    assert(out.getAs[Long]("n_transitions") === 3L)
    assert(out.getAs[Long]("n_states") === 2L)
    assert(out.getAs[Double]("entropy_rate") === 0.0)
    assert(out.getAs[Double]("efficiency") === 0.0)
  }

  test("termBurstiness: repeated-in-doc terms score above spread terms") {
    import spark.implicits._
    val docs = Seq((1L, "w w x"), (2L, "w y")).toDF("doc_id", "text")
    val out = CorpusOps.termBurstiness(docs, k = 10)
      .filter(col("term") === "w").collect()(0)
    assert(out.getAs[Long]("df") === 2L)
    assert(out.getAs[Long]("tf_total") === 3L)
    assert(out.getAs[Long]("df_rep") === 1L)
    assert(out.getAs[Double]("burstiness") === 1.5)
    assert(out.getAs[Double]("repeat_rate") === 0.5)
  }

  test("batch-L ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val cut = col("ts") < to_timestamp(lit("2024-01-15 00:00:00"))
    same(graft.ops.EventAnalytics.psiDrift(ev.repartition(3), cut),
      graft.ops.EventAnalytics.psiDrift(ev.repartition(17), cut))
    same(graft.ops.EventAnalytics.entropyRate(ev.repartition(3)),
      graft.ops.EventAnalytics.entropyRate(ev.repartition(17)))
    val docs = Tables.documents(spark, sf)
    same(CorpusOps.neymanAllocation(docs.repartition(3)),
      CorpusOps.neymanAllocation(docs.repartition(17)))
    same(CorpusOps.termBurstiness(docs.repartition(3)),
      CorpusOps.termBurstiness(docs.repartition(17)))
    val durs = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        (col("o_orderkey") % 7).cast("long").as("dur"),
        (col("o_orderkey") % 2).cast("long").as("event"))
      .withColumnRenamed("o_custkey", "grp")
      .withColumn("grp", (col("grp") % 3).cast("string"))
    same(StatOps.kaplanMeier(durs.repartition(3), "grp", Seq(2, 5)),
      StatOps.kaplanMeier(durs.repartition(17), "grp", Seq(2, 5)))
  }

  test("batch-K ops are partitioning-invariant") {
    val ev = Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.turningPoints(bars3), MarketBars.turningPoints(bars17))
    same(EventAnalytics.gTestFdr(ev.repartition(3)),
      EventAnalytics.gTestFdr(ev.repartition(17)))
    val docs = Tables.documents(spark, sf)
    same(CorpusOps.categoricalMI(docs.repartition(3), "lang", "source"),
      CorpusOps.categoricalMI(docs.repartition(17), "lang", "source"))
    val emb = Tables.embeddings(spark, sf)
    same(CorpusOps.silhouette(emb.repartition(3)),
      CorpusOps.silhouette(emb.repartition(17)))
    val li = Tables.lineitem(spark, sf)
    same(
      StatOps.kendallTauB(li.repartition(3),
        round(col("l_discount") * 100, 0), col("l_quantity")),
      StatOps.kendallTauB(li.repartition(17),
        round(col("l_discount") * 100, 0), col("l_quantity")))
  }
}
