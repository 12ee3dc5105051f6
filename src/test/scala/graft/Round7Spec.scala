package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps, MarketBars, StatOps}
import graft.sources.Tables

/** Hand-computed fixtures for the round-7 statistics batch: Spearman
  * midranks, Mann–Whitney U, Cramér's V, Jarque–Bera, Durbin–Watson,
  * the market-model regression, and the effective-vocabulary panel.
  */
class Round7Spec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("spearmanMidrank: monotone ±1, hand-computed tie case = 0.5") {
    import spark.implicits._
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    assert(StatOps.spearmanMidrank(up, col("x"), col("y"))
      .collect()(0).getDouble(1) === 1.0)
    val down = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("x", "y")
    assert(StatOps.spearmanMidrank(down, col("x"), col("y"))
      .collect()(0).getDouble(1) === -1.0)
    // pairs (1,5)(1,7)(2,7): x midranks 1.5/1.5/3, y midranks 1/2.5/2.5
    // → cov 0.75, both variances 1.5 → rho 0.5 exactly
    val ties = Seq((1L, 5L), (1L, 7L), (2L, 7L)).toDF("x", "y")
    assert(StatOps.spearmanMidrank(ties, col("x"), col("y"))
      .collect()(0).getDouble(1) === 0.5)
    // degenerate margin (one distinct x) nulls rho
    val flat = Seq((1L, 5L), (1L, 7L)).toDF("x", "y")
    assert(StatOps.spearmanMidrank(flat, col("x"), col("y"))
      .collect()(0).isNullAt(1))
  }

  test("mannWhitneyU: textbook tie case, U = 0.5, z = -1.224745") {
    import spark.implicits._
    // A = {1, 2}, B = {2, 3}: A>B pairs = 0 + one tie → U_A = 0.5;
    // tie correction Σ(t³−t) = 6 → var = 1.5, z = (0.5−2)/√1.5
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, false))
      .toDF("v", "ia")
    val r = StatOps.mannWhitneyU(df, col("v"), col("ia")).collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.5)
    assert(r.getDouble(3) === -1.224745)
    assert(!r.getBoolean(4))
    // all rows one value → zero variance → null z
    val flat = Seq((5L, true), (5L, false)).toDF("v", "ia")
    assert(StatOps.mannWhitneyU(flat, col("v"), col("ia"))
      .collect()(0).isNullAt(3))
  }

  test("cramersV: identical columns give V = 1, independence gives 0") {
    import spark.implicits._
    val same = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("u", "w")
    val r = StatOps.cramersV(same, "u", "w").collect()(0)
    assert(r.getDouble(3) === 4.0, "chi2 = n·(k−1)")
    assert(r.getDouble(4) === 1.0)
    // balanced independent grid: every observed = expected → V = 0
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "w")
    assert(StatOps.cramersV(ind, "u", "w").collect()(0).getDouble(4) === 0.0)
  }

  /** 9 alternating closes 100/200 → 8 returns ±ln2 in equal counts. */
  private def alternatingBars(series: String = "s"): DataFrame = {
    import spark.implicits._
    (0 until 9).map { i =>
      (series, ts(f"2024-01-01 10:${i * 5}%02d:00"),
        if (i % 2 == 0) 100.0 else 200.0)
    }.toDF("series", "bar_ts", "close")
  }

  test("jarqueBera: alternating ±ln2 returns → S=0, K−3=−2, JB=n/6") {
    val r = MarketBars.jarqueBera(alternatingBars()).collect()(0)
    assert(r.getLong(1) === 8L)
    assert(r.getDouble(2) === 0.0, "skewness")
    assert(r.getDouble(3) === -2.0, "excess kurtosis")
    assert(r.getDouble(4) === 1.333333, "JB = 8/6·(0 + 4/4)")
    assert(!r.getBoolean(5))
  }

  test("durbinWatson: alternating returns → DW = 3.5, rho = −0.75") {
    // 7 diffs of ±2r over Σr² = 8r² → 28r²/8r² = 3.5 exactly
    val r = MarketBars.durbinWatson(alternatingBars()).collect()(0)
    assert(r.getLong(1) === 8L)
    assert(r.getDouble(2) === 3.5)
    assert(r.getDouble(3) === -0.75)
  }

  test("marketBeta: two identical series → beta 1, alpha 0, R² 1") {
    val bars = alternatingBars("a").unionByName(alternatingBars("b"))
    val rows = MarketBars.marketBeta(bars).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getDouble(2) === 1.0, "beta")
      assert(r.getDouble(3) === 0.0, "alpha")
      assert(r.getDouble(4) === 1.0, "r2")
    }
  }

  test("effectiveVocab: uniform 2-term source → H=ln2, eff=2, ttr=0.5") {
    import spark.implicits._
    val docs = Seq(("s1", "a a b b"), ("s2", "c c c c")).toDF("source", "text")
    val out = CorpusOps.effectiveVocab(docs).orderBy("source").collect()
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 2L)
    assert(out(0).getDouble(3) === 0.693147)
    assert(out(0).getDouble(4) === 2.0)
    assert(out(0).getDouble(5) === 0.5)
    // single-term source: zero entropy, effective vocabulary 1
    assert(out(1).getDouble(3) === 0.0)
    assert(out(1).getDouble(4) === 1.0)
  }

  test("lwShrinkage: dyadic fixtures pin delta = 0 and delta = 1 exactly") {
    import spark.implicits._
    // (1,0),(0,1): S = [[.25,−.25],[−.25,.25]], m=.25, d²=.0625,
    // Σ‖c‖⁴ = .5 → b̄² = .5/2/4 − .25/4 = 0 → δ = 0 (n=2 pins S)
    val twoVec = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r1 = graft.ops.SimilarityOps.lwShrinkage(twoVec).collect()(0)
    assert(r1.getDouble(2) === 0.25, "mu")
    assert(r1.getDouble(3) === 0.0625, "d2")
    assert(r1.getDouble(4) === 0.0, "b2")
    assert(r1.getDouble(5) === 0.0, "shrinkage")
    // (2,0),(0,2),(0,0),(0,0): m=.75, d²=.0625, b̄²=.25 → b² caps at
    // d² → δ = 1 (noise dominates structure)
    val fourVec = Seq(
      (1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(0.0f, 0.0f)), (4L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r2 = graft.ops.SimilarityOps.lwShrinkage(fourVec).collect()(0)
    assert(r2.getDouble(2) === 0.75, "mu")
    assert(r2.getDouble(3) === 0.0625, "d2")
    assert(r2.getDouble(4) === 0.0625, "b2")
    assert(r2.getDouble(5) === 1.0, "shrinkage")
  }

  test("triangleCount: triangle + pendant + isolated edge, messy input") {
    import spark.implicits._
    // {1,2,3} triangle, 3−4 pendant, 5−6 isolated; plus a reversed
    // duplicate and a self-loop that must both drop
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 2L), (3L, 4L),
      (5L, 6L), (5L, 5L)).toDF("src", "dst")
    val r = graft.ops.GraphOps.triangleCount(edges).collect()(0)
    assert(r.getLong(0) === 6L, "nodes")
    assert(r.getLong(1) === 5L, "edges")
    assert(r.getLong(2) === 5L, "wedges")
    assert(r.getLong(3) === 1L, "triangles")
    assert(r.getDouble(4) === 0.6, "clustering = 3·1/5")
  }

  test("downsideRisk: alternating daily closes pin omega/calmar/drawdown") {
    import spark.implicits._
    // one close per day, 100/200 alternating: 4 returns ±ln2 → mean 0,
    // gains = losses (omega 1), max drawdown −0.5, zero-mean ratios 0
    val bars = (0 until 5).map { i =>
      ("s", ts(f"2024-01-0${i + 1} 10:00:00"),
        if (i % 2 == 0) 100.0 else 200.0)
    }.toDF("series", "bar_ts", "close")
    val r = MarketBars.downsideRisk(bars).collect()(0)
    assert(r.getLong(1) === 4L, "n_rets")
    assert(r.getDouble(2) === 0.0, "ann_return")
    val r8 = 69314718L
    val expectedDd = BigDecimal(
      math.sqrt(2.0 * r8 * r8 / 4.0 * 252.0) / 1e8)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) === expectedDd, "downside_dev")
    assert(r.getDouble(4) === 0.0, "sortino (zero mean)")
    assert(r.getDouble(5) === 0.0, "calmar (zero mean)")
    assert(r.getDouble(6) === 1.0, "omega")
    assert(r.getDouble(7) === -0.5, "max_drawdown")
  }

  test("archLjungBox: clustered |change| magnitudes reject, constant emits none") {
    import spark.implicits._
    // |Δ| blocks 1,1,1,1 / 10,10,10,10 alternating in sign: the plain
    // changes alternate but the MAGNITUDES cluster — the ARCH signal
    val deltas = Seq(1, -1, 1, -1, 10, -10, 10, -10, 1, -1, 1, -1,
      10, -10, 10, -10, 1, -1, 1, -1, 10, -10, 10, -10)
    val closes = deltas.scanLeft(100.0)((c, d) => c + d)
    val bars = closes.zipWithIndex.map { case (c, i) =>
      ("s", ts(f"2024-01-01 10:${i * 2}%02d:00"), c)
    }.toDF("series", "bar_ts", "close")
    val r = MarketBars.archLjungBox(bars).collect()
    assert(r.length === 1 && r(0).getBoolean(4),
      "clustered magnitudes must reject whiteness")
    // constant |Δ| → zero variance at every lag → no testable rows
    val flat = (0 until 10).map { i =>
      ("s", ts(f"2024-01-01 10:${i * 2}%02d:00"),
        100.0 + (if (i % 2 == 0) 0.0 else 1.0))
    }.toDF("series", "bar_ts", "close")
    assert(MarketBars.archLjungBox(flat).collect().isEmpty)
  }

  test("chowTest: mean shift mid-sample breaks, stable series does not") {
    import spark.implicits._
    def mk(rs: Seq[Double], series: String) = {
      val closes = rs.scanLeft(100.0)((c, r) => c * math.exp(r))
      closes.zipWithIndex.map { case (c, i) =>
        (series, ts(f"2024-01-01 10:${i * 2}%02d:00"), c) }
    }
    // first half tiny alternating returns, second half shifted +5%
    val broken = mk(Seq.fill(10)(Seq(0.001, -0.001)).flatten ++
      Seq.fill(10)(Seq(0.051, 0.049)).flatten, "b")
    // stable: the alternation all the way through
    val stable = mk(Seq.fill(20)(Seq(0.001, -0.001)).flatten, "s")
    val out = MarketBars.chowTest((broken ++ stable)
      .toDF("series", "bar_ts", "close")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("b").getBoolean(3), "shifted series must break")
    assert(!out("s").getBoolean(3), "stable series must not")
  }

  test("lengthLognormal: two-point ln spectrum gives JB = n/6 exactly") {
    import spark.implicits._
    // 4 docs of 100 chars + 4 of 200: z = ±1 → S=0, K−3=−2, JB=8/6
    val docs = (0 until 8).map(i =>
      ("s1", if (i % 2 == 0) 100L else 200L)).toDF("source", "n_chars")
    val r = CorpusOps.lengthLognormal(docs).collect()(0)
    assert(r.getLong(1) === 8L)
    assert(r.getDouble(2) === 0.0, "skewness")
    assert(r.getDouble(3) === -2.0, "excess kurtosis")
    assert(r.getDouble(4) === 1.333333, "JB")
    assert(!r.getBoolean(5))
  }

  test("seasonalStrength: pure hour effect = 1, constant value nulls") {
    import spark.implicits._
    val ev = (0 until 8).map { i =>
      ("click", ts(f"2024-01-01 0${i % 2}%01d:0$i%01d:00"),
        if (i % 2 == 0) 10.0 else 20.0)
    }.toDF("event_type", "ts", "value")
    val r = graft.ops.EventAnalytics.seasonalStrength(ev).collect()(0)
    assert(r.getLong(2) === 2L, "two hour cells")
    assert(r.getDouble(3) === 1.0, "all variance between hours")
    val const = (0 until 4).map(i =>
      ("view", ts(f"2024-01-01 0$i%01d:00:00"), 5.0))
      .toDF("event_type", "ts", "value")
    assert(graft.ops.EventAnalytics.seasonalStrength(const)
      .collect()(0).isNullAt(3))
  }

  test("round-7 stats are partitioning-invariant") {
    val li = Tables.lineitem(spark, sf)
    same(
      StatOps.spearmanMidrank(li.repartition(3),
        round(col("l_discount") * 100, 0), col("l_quantity")),
      StatOps.spearmanMidrank(li.repartition(17),
        round(col("l_discount") * 100, 0), col("l_quantity")))
    same(
      StatOps.mannWhitneyU(li.repartition(3),
        round(col("l_discount") * 100, 0), col("l_returnflag") === "R"),
      StatOps.mannWhitneyU(li.repartition(17),
        round(col("l_discount") * 100, 0), col("l_returnflag") === "R"))
    val docs = Tables.documents(spark, sf)
    same(StatOps.cramersV(docs.repartition(3), "lang", "source"),
      StatOps.cramersV(docs.repartition(17), "lang", "source"))
    same(CorpusOps.effectiveVocab(docs.repartition(3)),
      CorpusOps.effectiveVocab(docs.repartition(17)))
    val bars = MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    same(MarketBars.jarqueBera(bars.repartition(3)),
      MarketBars.jarqueBera(bars.repartition(17)))
    same(MarketBars.durbinWatson(bars.repartition(3)),
      MarketBars.durbinWatson(bars.repartition(17)))
    same(MarketBars.marketBeta(bars.repartition(3)),
      MarketBars.marketBeta(bars.repartition(17)))
    same(MarketBars.downsideRisk(bars.repartition(3)),
      MarketBars.downsideRisk(bars.repartition(17)))
    val emb = Tables.embeddings(spark, sf)
    same(graft.ops.SimilarityOps.lwShrinkage(emb.repartition(3)),
      graft.ops.SimilarityOps.lwShrinkage(emb.repartition(17)))
    same(MarketBars.archLjungBox(bars.repartition(3)),
      MarketBars.archLjungBox(bars.repartition(17)))
    same(MarketBars.chowTest(bars.repartition(3)),
      MarketBars.chowTest(bars.repartition(17)))
    same(CorpusOps.lengthLognormal(docs.repartition(3)),
      CorpusOps.lengthLognormal(docs.repartition(17)))
    val ev2 = Tables.events(spark, sf)
    same(graft.ops.EventAnalytics.seasonalStrength(ev2.repartition(3)),
      graft.ops.EventAnalytics.seasonalStrength(ev2.repartition(17)))
  }
}
