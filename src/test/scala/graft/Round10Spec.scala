package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MarketBars

/** Round-10 additions: the |days|²-per-series daily pair family
  * (theilSen / mannKendall / sampleEntropy) must REFUSE a horizon
  * past MarketBars.MaxPairDays instead of planning a 10⁸⁺-row
  * per-series self-join, and must keep working right at the cap's
  * working side.
  */
class Round10Spec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** One bar per synthetic day — `n` distinct days on one series.
    * Days are synthesized by the hour to keep Timestamp construction
    * cheap; what matters is that to_date() yields `n` DISTINCT days. */
  private def longHorizonBars(n: Int) = {
    // 24 hourly bars/day would collapse to the same day; instead step
    // whole days from a fixed epoch
    val day0 = java.time.LocalDate.of(1970, 1, 15)
    (0 until n).map { i =>
      val d = day0.plusDays(i.toLong)
      ("S1", Timestamp.valueOf(d.atTime(15, 0)),
        100.0 + (i % 37) * 0.25)
    }.toDF("series", "bar_ts", "close")
  }

  test("the daily-pair horizon guard fires past MaxPairDays without planning the join") {
    val tooLong = longHorizonBars(MarketBars.MaxPairDays.toInt + 50)
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("theilSen", MarketBars.theilSen(_)),
      ("mannKendall", MarketBars.mannKendall(_)),
      ("sampleEntropy", MarketBars.sampleEntropy(_))
    ).foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op(tooLong))
      assert(e.getMessage.contains("MaxPairDays"), s"$name: ${e.getMessage}")
    }
  }

  test("the daily-pair family still runs under the cap") {
    val ok = longHorizonBars(120)
    val ts = MarketBars.theilSen(ok).collect()
    assert(ts.length === 1 && !ts.head.isNullAt(
      ts.head.fieldIndex("theil_sen")))
    val mk = MarketBars.mannKendall(ok).collect()
    assert(mk.length === 1 && mk.head.getAs[Long]("n_pairs") === 120L * 119 / 2)
    val se = MarketBars.sampleEntropy(ok).collect()
    assert(se.length === 1)
  }

  // ---- round-10 widening fixtures (one per new operator) ---------------

  /** Bars at one-per-day from exact exponential closes: close_d =
    * 100·exp(Σ r_i) so the 1e-6/1e-8 log-return snap recovers the
    * authored returns exactly. */
  private def dailyCloseBars(seriesRets: Map[String, Seq[Double]]) = {
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    seriesRets.toSeq.flatMap { case (s, rets) =>
      rets.scanLeft(100.0) { (c, r) => c * math.exp(r) }
        .zipWithIndex.map { case (c, i) =>
          (s, Timestamp.valueOf(day0.plusDays(i.toLong).atTime(15, 0)), c)
        }
    }.toDF("series", "bar_ts", "close")
  }

  test("kpss: a level shift in returns rejects stationarity; white noise does not") {
    // noise: alternating ±0.001 returns; shift: +0.002 for 40 days
    // then −0.002 for 40 (a mean break — partial sums trend hard)
    val noise = Seq.tabulate(80)(i => if (i % 2 == 0) 0.001 else -0.001)
    val shift = Seq.fill(40)(0.002) ++ Seq.fill(40)(-0.002)
    val out = MarketBars.kpss(dailyCloseBars(
        Map("noise" -> noise, "shift" -> shift)))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    assert(!out("noise")._2, s"white noise must not reject: $out")
    assert(out("shift")._2, s"a mean break must reject: $out")
    assert(out("shift")._1 > 10 * out("noise")._1)
  }

  test("famaMacBeth: perfect one-day reversal pins the premium at exactly -1") {
    // three series whose day-d return is EXACTLY minus the day-(d-1)
    // return: every daily cross-sectional slope is -1; sd = 0 so the
    // t-stat stays null; all premiums negative
    val base = Seq(0.001, 0.002, 0.003)
    val rets = Map(
      "a" -> Seq(0.001, -0.001, 0.001, -0.001, 0.001),
      "b" -> Seq(0.002, -0.002, 0.002, -0.002, 0.002),
      "c" -> Seq(0.003, -0.003, 0.003, -0.003, 0.003))
    assert(base.distinct.size === 3) // cross-sectional variance > 0
    val r = MarketBars.famaMacBeth(dailyCloseBars(rets)).collect().head
    assert(r.getAs[Long]("n_days") === 4L)
    assert(r.getAs[Double]("mean_premium") === -1.0)
    assert(r.isNullAt(r.fieldIndex("t_stat")), "zero-variance lambda")
    assert(r.getAs[Double]("share_negative") === 1.0)
  }

  test("hhiVolume: 3-vs-1 tick split pins HHI = 0.625, effective N = 1.6") {
    val t0 = Timestamp.valueOf("2024-01-01 15:00:00")
    def at(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val bars = Seq(
      ("A", t0, 10.0, 3L), ("B", at(1), 11.0, 1L)
    ).toDF("series", "bar_ts", "close", "n_ticks")
    val r = MarketBars.hhiVolume(bars).collect().head
    assert(r.getAs[Long]("total_ticks") === 4L)
    // 3² + 1² = 10, 4² = 16: HHI = 10/16 = 0.625, eff N = 16/10 = 1.6
    assert(r.getAs[String]("q_str") === "10")
    assert(r.getAs[String]("b_str") === "16")
    assert(r.getAs[Long]("hhi_s6") === 625000L)
    assert(r.getAs[Long]("eff_n_s4") === 16000L)
    val d = MarketBars.hhiVolumeDbl(bars).collect().head
    assert(d.getAs[Double]("hhi") === 0.625)
    assert(d.getAs[Double]("eff_n") === 1.6)
  }

  test("infoRatio: symmetric constant active returns null the ratio (zero TE)") {
    // A always +0.002, B always -0.002: market mean 0, active returns
    // constant per series, tracking error exactly 0 -> null IR
    val rets = Map(
      "a" -> Seq.fill(6)(0.002),
      "b" -> Seq.fill(6)(-0.002))
    val out = MarketBars.infoRatio(dailyCloseBars(rets))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("mean_active") === 0.002)
    assert(out("b").getAs[Double]("mean_active") === -0.002)
    assert(out("a").isNullAt(out("a").fieldIndex("info_ratio")))
  }

  test("ulcerIndex: the 100-50-100 path pins UI = sqrt(1/12)") {
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    val bars = Seq(100.0, 50.0, 100.0).zipWithIndex.map { case (c, i) =>
      ("s", Timestamp.valueOf(day0.plusDays(i.toLong).atTime(15, 0)), c)
    }.toDF("series", "bar_ts", "close")
    val r = MarketBars.ulcerIndex(bars).collect().head
    // dd = 0, -0.5, 0 -> UI = round(sqrt(0.25/3), 6) = 0.288675
    assert(r.getAs[Double]("ulcer_index") === 0.288675)
    assert(r.getAs[Long]("n_days") === 3L)
  }

  test("clusterLabelAgreement: orthogonal clusters pin ARI(labels)=1, ARI(single coarse)=0") {
    // ids 0..7; even ids hug (1,0), odd ids hug (0,1); labels = parity.
    // centroidEvery=4 -> centroids {0, 4}... both even (1,0)-side!
    // use centroidEvery s.t. one centroid lands on each side: ids 0
    // and 5 -> every=5 gives {0, 5} = one per side. coarseEvery=10 ->
    // {0} alone = the constant partition (ARI 0 by construction).
    val vecs = (0 until 8).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.05f * i) else Seq(0.05f * i, 1.0f)
      (i.toLong, base, i % 2)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val out = graft.ops.SimilarityOps.clusterLabelAgreement(
        df, "vec_id", "embedding", "label",
        centroidEvery = 5, coarseEvery = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("labels").getAs[Double]("ari") === 1.0)
    assert(out("labels").getAs[Double]("rand_index") === 1.0)
    assert(out("coarse_codebook").getAs[Double]("ari") === 0.0)
  }

  test("semivariance: one +1%% then one -1%% return pin the sign split exactly") {
    val t0 = Timestamp.valueOf("2024-01-01 15:00:00")
    def at(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val c1 = 100.0 * math.exp(0.01)
    val bars = Seq(
      ("s", t0, 100.0), ("s", at(5), c1), ("s", at(10), c1 * math.exp(-0.01))
    ).toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.semivariance(bars).collect().head
    assert(r.getAs[Long]("n_rets") === 2L)
    assert(r.getAs[Double]("rv") === 0.0002)
    assert(r.getAs[Double]("rs_up") === 0.0001)
    assert(r.getAs[Double]("rs_down") === 0.0001)
    assert(r.getAs[Double]("signed_jump") === 0.0)
  }

  test("splitLeakage: totals reconcile and the audit is deterministic") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = (0L until 60L).map { i =>
      // 30 near-dup pairs (2i, 2i+1 share text), distinct pair texts
      (i, text + s" uniq${i / 2} uniq${i / 2} tail${i / 2}")
    }.toDF("doc_id", "text")
    val r1 = graft.ops.DedupOps.splitLeakage(docs, "text", "doc_id")
      .collect().head
    assert(r1.getAs[Long]("n_train") + r1.getAs[Long]("n_val") === 60L)
    assert(r1.getAs[Long]("n_pairs") >= 30L, "planted pairs found")
    assert(r1.getAs[Long]("n_cross") <= r1.getAs[Long]("n_pairs"))
    val r2 = graft.ops.DedupOps.splitLeakage(docs, "text", "doc_id")
      .collect().head
    assert(r1 === r2, "hash split must be reproducible")
  }

  test("cdar: a monotone slide pins DaR and the tail mean") {
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    val closes = Seq(100.0, 90.0, 80.0, 70.0, 60.0, 50.0, 100.0)
    val bars = closes.zipWithIndex.map { case (c, i) =>
      ("s", Timestamp.valueOf(day0.plusDays(i.toLong).atTime(15, 0)), c)
    }.toDF("series", "bar_ts", "close")
    val r = MarketBars.cdar(bars).collect().head
    // dd = 0,-.1,-.2,-.3,-.4,-.5,0; q10 over 7 pts = -0.44 interp
    assert(r.getAs[Double]("dar") === -0.44)
    assert(r.getAs[Long]("n_tail") === 1L)
    assert(r.getAs[Double]("cdar") === -0.5)
    assert(r.getAs[Double]("max_drawdown") === -0.5)
  }

  test("bnsJumpTest: a lone 10%% bar fires the 5%% fence; a quiet day does not") {
    val t0 = Timestamp.valueOf("2024-01-01 15:00:00")
    def at(d: Int, m: Int) =
      new Timestamp(t0.getTime + d * 86400000L + m * 60000L)
    // day 0: 16 alternating small moves; day 1: same but one 10% jump
    def day(d: Int, jumpAt: Option[Int]) = {
      var c = 100.0
      (0 to 16).map { i =>
        if (i > 0) {
          val r = if (jumpAt.contains(i)) 0.10
            else if (i % 2 == 0) 0.001 else -0.001
          c = c * math.exp(r)
        }
        ("s", at(d, i * 5), c)
      }
    }
    val bars = (day(0, None) ++ day(1, Some(8)))
      .toDF("series", "bar_ts", "close")
    val out = MarketBars.bnsJumpTest(bars).collect()
      .map(r => r.getDate(1).toString -> r).toMap
    assert(!out("2024-01-01").getAs[Boolean]("jump_5pct"), s"quiet: $out")
    assert(out("2024-01-02").getAs[Boolean]("jump_5pct"), s"jump: $out")
  }

  test("sentenceStats: punctuated prose pins the per-sentence numbers") {
    val docs = Seq(
      (1L, "a b. c d e! f", "s1"),
      (2L, "no punctuation here at all", "s1")
    ).toDF("doc_id", "text", "source")
    val r = graft.ops.TextOps.sentenceStats(docs).collect().head
    assert(r.getAs[Long]("n_sentences") === 4L) // 3 + 1
    assert(r.getAs[Double]("sent_per_doc") === 2.0)
    assert(r.getAs[Double]("toks_per_sent") === 2.75) // (2+3+1+5)/4
    assert(r.getAs[Double]("share_long") === 0.0)
    assert(r.getAs[Double]("no_punct_share") === 0.5)
  }

  test("ouFit: an exact phi=0.5 decay pins kappa=ln2, half-life 1, sse 0") {
    val t0 = Timestamp.valueOf("2024-01-01 15:00:00")
    // spread 2^-k, k=0..8: every 1e8-scaled value is an exact integer
    val rows = (0 to 8).map { k =>
      ("p", new Timestamp(t0.getTime + k * 60000L), math.pow(2.0, -k))
    }.toDF("pair_name", "bar_ts", "spread")
    val r = graft.ops.PairAnalytics.ouFit(rows).collect().head
    assert(r.getAs[Long]("n_obs") === 8L)
    assert(r.getAs[Double]("b") === -0.5)
    assert(r.getAs[Double]("kappa") === 0.693147)
    assert(r.getAs[Double]("mu_eq") === 0.0)
    assert(r.getAs[Double]("sigma_eq") === 0.0)
    assert(r.getAs[Double]("half_life_bars") === 1.0)
  }

  test("volManaged: constant intraday vol pins weight 1 and equal Sharpes") {
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    // every day: two bars with the same +1% move (constant RV); the
    // day-close path still wiggles via alternating overnight gaps
    val bars = (0 until 8).flatMap { d =>
      val base = 100.0 * math.exp(if (d % 2 == 0) 0.0 else 0.03)
      Seq(
        ("s", Timestamp.valueOf(day0.plusDays(d.toLong).atTime(15, 0)), base),
        ("s", Timestamp.valueOf(day0.plusDays(d.toLong).atTime(15, 5)),
          base * math.exp(0.01)))
    }.toDF("series", "bar_ts", "close")
    val r = MarketBars.volManaged(bars).collect().head
    assert(r.getAs[Double]("mean_weight") === 1.0)
    assert(r.getAs[Double]("sharpe_raw") === r.getAs[Double]("sharpe_managed"))
  }

  test("sharpeDiff: a mirrored pair pins rho = -1 and antisymmetric Sharpes") {
    // b's returns are exactly -a's: correlation -1, sharpe_b = -sharpe_a
    val ra = Seq(0.01, 0.01, -0.005, 0.01, -0.005, 0.01, 0.01, -0.005)
    val bars = dailyCloseBars(Map("click" -> ra, "view" -> ra.map(-_)))
    val r = MarketBars.sharpeDiff(bars, "click", "view").collect().head
    assert(r.getAs[Double]("rho") === -1.0)
    assert(r.getAs[Double]("sharpe_a") === -r.getAs[Double]("sharpe_b"))
    assert(!r.isNullAt(r.fieldIndex("z_jk")))
  }

  test("turnOfMonth: authored boundary/interior returns pin the spread") {
    // closes on Jan 1,2,15,16,30,31: returns land on 2(turn),
    // 15/16(other), 30/31(turn); last_day(Jan)=31 so 30,31 are turn
    val days = Seq(1, 2, 15, 16, 30, 31)
    val rets = Seq(0.0, 0.01, 0.02, 0.02, 0.01, 0.01) // first unused
    val closes = rets.scanLeft(100.0)((c, r) => c * math.exp(r)).tail
    val bars = days.zip(closes).map { case (d, c) =>
      ("s", Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, d).atTime(15, 0)), c)
    }.toDF("series", "bar_ts", "close")
    val r = MarketBars.turnOfMonth(bars).collect().head
    assert(r.getAs[Long]("n_turn") === 3L)
    assert(r.getAs[Long]("n_other") === 2L)
    assert(r.getAs[Double]("mean_turn") === 0.01)
    assert(r.getAs[Double]("mean_other") === 0.02)
    assert(r.getAs[Double]("tom_spread") === -0.01)
  }

  test("noveltyCurve: a second-half re-crawl pins the knee at bucket 6") {
    val docs = (0L until 20L).map { i =>
      val k = i % 10 // ids 10..19 duplicate ids 0..9
      (i, (1 to 12).map(j => s"t${k}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val out = graft.ops.DedupOps.noveltyCurve(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Int]("bucket") -> r).toMap
    assert(out.size === 10)
    (1 to 5).foreach(b =>
      assert(out(b).getAs[Double]("novelty_rate") === 1.0, s"bucket $b"))
    (6 to 10).foreach(b =>
      assert(out(b).getAs[Double]("novelty_rate") === 0.0, s"bucket $b"))
    assert(out(10).getAs[Double]("cum_distinct_share") === 0.5)
  }

  test("esBacktest: a fat test-half tail breaches severity; a symmetric one does not") {
    // cal half: mild ±0.01 noise with a -0.03 tail every 20th day
    // (violation rate ≈ α = 5%, so Z2's frequency term is calibrated);
    // 'breach' repeats the shape with -0.30 tails (10x the calibrated
    // ES); 'calm' repeats the cal shape verbatim
    def half(tail: Double) = (0 until 40).map { i =>
      if (i % 20 == 19) tail else if (i % 2 == 0) 0.01 else -0.01
    }
    val rets = Map(
      "calm" -> (half(-0.03) ++ half(-0.03)),
      "breach" -> (half(-0.03) ++ half(-0.30)))
    val out = MarketBars.esBacktest(dailyCloseBars(rets))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out("calm").getAs[Boolean]("severity_breach"), s"$out")
    assert(out("breach").getAs[Boolean]("severity_breach"), s"$out")
    assert(out("breach").getAs[Double]("z2") > out("calm").getAs[Double]("z2"))
  }

  test("dedup savings: keep-min-id on a triplet removes exactly the two clones' bytes") {
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, text, 100L), (2L, text, 110L), (3L, text, 120L),
      (4L, (100 to 130).map(i => s"z$i").mkString(" "), 500L)
    ).toDF("doc_id", "text", "n_chars")
    val comp = graft.ops.GraphOps.connectedComponents(
      graft.ops.DedupOps.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.3, maxDf = 100))
    val keeps = comp.groupBy(col("component"))
      .agg(min(col("node")).as("keep"))
      .withColumnRenamed("component", "kcomp")
    val removedBytes = comp.join(keeps,
        col("component") === col("kcomp") && col("node") =!= col("keep"))
      .select(col("node").as("rnode"))
      .join(docs.select(col("doc_id").as("rnode"), col("n_chars")), "rnode")
      .agg(sum(col("n_chars"))).collect().head.getLong(0)
    assert(removedBytes === 230L) // docs 2 + 3
  }

  test("component purity: a cross-source triplet lands in the n_sources=2 bucket") {
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, text, "s1"), (2L, text, "s1"), (3L, text, "s2"),
      (4L, (100 to 130).map(i => s"z$i").mkString(" "), "s3")
    ).toDF("doc_id", "text", "source")
    val pairs = graft.ops.DedupOps.ngramJaccardPairs(
      docs, "text", "doc_id", n = 3, threshold = 0.3, maxDf = 100)
    val comp = graft.ops.GraphOps.connectedComponents(pairs)
    val purity = comp
      .join(docs.select(col("doc_id").as("node"), col("source")), "node")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("sz"),
        count_distinct(col("source")).as("n_sources"))
      .collect()
    assert(purity.length === 1)
    assert(purity.head.getAs[Long]("sz") === 3L)
    assert(purity.head.getAs[Long]("n_sources") === 2L)
  }

  // ---- round-10 continuation fixtures (q374-q380) -----------------------

  /** One bar per day with EXACT authored closes (the chatterjee /
    * pettitt 1e6-long snap is then exact). */
  private def exactCloseBars(series: Map[String, Seq[Double]]) = {
    val day0 = java.time.LocalDate.of(2024, 3, 1)
    series.toSeq.flatMap { case (s, closes) =>
      closes.zipWithIndex.map { case (c, i) =>
        (s, Timestamp.valueOf(day0.plusDays(i.toLong).atTime(15, 0)), c)
      }
    }.toDF("series", "bar_ts", "close")
  }

  test("chatterjee: a noiseless function pins xi at the n=4 maximum 0.4; constant y nulls") {
    // identity dependence, n = 4 distinct points: sum|dr| = 3,
    // sum l(n-l) = 10 -> xi = 1 - 4*3/20 = 0.4 (the estimator's
    // finite-n ceiling); a constant y makes every l = n -> dd = 0
    val out = MarketBars.chatterjee(exactCloseBars(Map(
        "x" -> Seq(1.0, 2.0, 3.0, 4.0),
        "y" -> Seq(10.0, 20.0, 30.0, 40.0),
        "k" -> Seq(5.0, 5.0, 5.0, 5.0))))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("x", "y")).getAs[Double]("xi") === 0.4)
    assert(out(("y", "x")).getAs[Double]("xi") === 0.4)
    assert(out(("x", "k")).isNullAt(out(("x", "k")).fieldIndex("xi")))
    assert(out(("x", "y")).getAs[Long]("n") === 4L)
  }

  test("hillTail: exact powers-of-two tail pins H = 3 ln 2") {
    // top-6 |r8| are 2^5..2^0 multiples of 0.0025: every ratio to
    // x_(k+1) is a power of two -> H = (5+4+3+2+1)/5 * ln2 = 3 ln2
    val rets = Seq(0.08, -0.04, 0.02, -0.01, 0.005, -0.0025,
      0.002, -0.0019, 0.0018, -0.0017, 0.0016, -0.0015)
    val r = MarketBars.hillTail(dailyCloseBars(Map("s" -> rets)))
      .collect().head
    assert(r.getAs[Long]("n_rets") === 12L)
    assert(r.getAs[Long]("k") === 5L)
    assert(r.getAs[Double]("x_kplus1") === 0.0025)
    assert(r.getAs[Double]("hill_h") === 2.079442)
    assert(r.getAs[Double]("tail_alpha") === 0.480898)
  }

  test("tailDependence: comonotone pair overlaps fully, antimonotone not at all") {
    val up = (1 to 10).map(_ * 0.001)
    val out = MarketBars.tailDependence(dailyCloseBars(Map(
        "a" -> up, "b" -> up, "c" -> up.reverse)))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("a", "b")).getAs[Long]("k") === 1L)
    assert(out(("a", "b")).getAs[Double]("lambda_hi") === 1.0)
    assert(out(("a", "b")).getAs[Double]("lambda_lo") === 1.0)
    assert(out(("a", "c")).getAs[Double]("lambda_hi") === 0.0)
    assert(out(("a", "c")).getAs[Double]("lambda_lo") === 0.0)
  }

  test("vocabRichness: 'a a b c' pins the whole spectrum read") {
    val docs = Seq(("s1", "a a b c")).toDF("source", "text")
    val r = graft.ops.CorpusOps.vocabRichness(docs).collect().head
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("v_types") === 3L)
    assert(r.getAs[Long]("f1") === 2L)
    assert(r.getAs[Long]("f2") === 1L)
    assert(r.getAs[Double]("gt_missing_mass") === 0.5)
    assert(r.getAs[Double]("gt_coverage") === 0.5)
    assert(r.getAs[Double]("chao1") === 3.5)
    assert(r.getAs[Double]("unseen_share") === 0.142857)
  }

  test("andersonDarling: a two-point mass rejects, perfect normal scores do not") {
    // 20 two-sided normal quantiles z_{(i-0.5)/20} scaled to returns —
    // the closest a 20-point sample can sit to the fitted normal
    val scores = Seq(1.959964, 1.439531, 1.150349, 0.934589, 0.755415,
      0.598046, 0.453762, 0.318639, 0.189118, 0.062707)
    val normal = (scores ++ scores.map(-_)).map(_ * 0.01)
    val twopoint = Seq.tabulate(40)(i => if (i % 2 == 0) 0.01 else -0.01)
    val out = MarketBars.andersonDarling(dailyCloseBars(Map(
        "normal" -> normal, "twopoint" -> twopoint)))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out("normal").getAs[Boolean]("reject_normal"),
      s"quantile scores must pass: ${out("normal")}")
    assert(out("twopoint").getAs[Boolean]("reject_normal"),
      s"a two-point mass must reject: ${out("twopoint")}")
  }

  test("w1Drift: a +0.01 half-shift reads exactly 0.01; identical halves read 0") {
    val shifted = Seq(0.001, 0.002, 0.003, 0.004,
      0.011, 0.012, 0.013, 0.014)
    val same = Seq(0.001, 0.002, 0.003, 0.001, 0.002, 0.003)
    val out = MarketBars.w1Drift(dailyCloseBars(Map(
        "shifted" -> shifted, "same" -> same)))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("shifted").getAs[Long]("n1") === 4L)
    assert(out("shifted").getAs[Double]("w1_drift") === 0.01)
    assert(out("same").getAs[Double]("w1_drift") === 0.0)
  }

  test("transferEntropy: a sign-copy channel pins TE; a constant leg reads exactly 0") {
    // x: period-4 sign pattern ++--; y_t copies x_{t-1}'s sign, so
    // x's yesterday fully determines y today. Hand-computed plug-in
    // over the 33 valid rows (one boundary row t=2 included):
    // TE(x->y) = (9/33)ln(17/9) + (8/33)ln(17/8) + (16/33)ln2
    //          = 0.692255; the reverse direction reads the pattern's
    // own 2-step determinism through y = 0.597119; a constant-sign
    // series zeroes BOTH directions exactly (single-cell margins)
    val xr = (1 to 34).map(t =>
      if (Seq(1, 1, 0, 0)((t - 1) % 4) == 1) 0.01 else -0.01)
    val yr = 0.01 +: (2 to 34).map(t => xr(t - 2))
    val cr = Seq.fill(34)(0.001)
    val out = MarketBars.transferEntropy(dailyCloseBars(Map(
        "x" -> xr, "y" -> yr.toSeq, "c" -> cr)))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("x", "y")).getAs[Long]("n") === 33L)
    assert(out(("x", "y")).getAs[Double]("te_nats") === 0.692255)
    assert(out(("y", "x")).getAs[Double]("te_nats") === 0.597119)
    assert(out(("x", "c")).getAs[Double]("te_nats") === 0.0)
    assert(out(("c", "x")).getAs[Double]("te_nats") === 0.0)
  }

  test("eppsCurve: identical pair reads 1, mirrored pair -1, at every scale") {
    // 37 five-minute bars (one day): 5-min has 36 returns, 15-min
    // and 60-min coarsenings fewer — perfect co/anti-movement is
    // scale-invariant, so every row pins exactly
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val rets = Seq.tabulate(36)(i =>
      Seq(0.01, -0.02, 0.015, 0.005, -0.01, 0.02)(i % 6))
    def mk(s: String, sign: Double) =
      rets.scanLeft(100.0)((c, r) => c * math.exp(sign * r))
        .zipWithIndex.map { case (c, i) =>
          (s, new Timestamp(t0.getTime + i * 300000L), c)
        }
    val bars = (mk("a", 1.0) ++ mk("m", -1.0))
      .toDF("series", "bar_ts", "close")
      .groupBy(col("series"), col("bar_ts"))
      .agg(max(col("close")).as("close"))
      .withColumn("open", col("close"))
      .withColumn("high", col("close"))
      .withColumn("low", col("close"))
      .withColumn("n_ticks", lit(1L))
      .withColumn("volume", col("close"))
    val out = MarketBars.eppsCurve(bars)
      .collect().map(r => r.getInt(2) -> r).toMap
    assert(out.keySet === Set(5, 15, 60))
    Seq(5, 15, 60).foreach { m =>
      assert(out(m).getAs[Double]("corr") === -1.0, s"scale $m")
    }
    assert(out(5).getAs[Long]("n") === 36L)
    assert(out(60).getAs[Long]("n") === 3L)
  }

  test("csDispersion: a 1/2/3%% cross-section pins mean, sd, and CSAD") {
    val out = MarketBars.csDispersion(dailyCloseBars(Map(
        "a" -> Seq(0.01), "b" -> Seq(0.02), "c" -> Seq(0.03))))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_series") === 3L)
    assert(r.getAs[Double]("mean_ret") === 0.02)
    assert(r.getAs[Double]("cs_sd") === 0.01)
    // CSAD = (|3-6| + |6-6| + |9-6|)e6 / 9 / 1e8 = 0.006667
    assert(r.getAs[Double]("csad") === 0.006667)
    assert(r.getAs[Double]("min_ret") === 0.01)
    assert(r.getAs[Double]("max_ret") === 0.03)
  }

  test("corrStructure: identical + orthogonal series pin the effective factor count") {
    // a == b (corr 1); c's period-4 pattern is exactly orthogonal to
    // the period-2 pattern over 12 returns (integer products cancel):
    // corrs {1, 0, 0} -> mean 1/3, sd sqrt(1/3), eff = 9/(3+2) = 1.8
    val p2 = Seq.tabulate(12)(i => if (i % 2 == 0) 0.01 else -0.01)
    val p4 = Seq.tabulate(12)(i =>
      if (Seq(1, 1, 0, 0)(i % 4) == 1) 0.01 else -0.01)
    val r = MarketBars.corrStructure(dailyCloseBars(Map(
        "a" -> p2, "b" -> p2, "c" -> p4))).collect().head
    assert(r.getAs[Long]("n_series") === 3L)
    assert(r.getAs[Long]("n_pairs") === 3L)
    assert(r.getAs[Double]("mean_corr") === 0.333333)
    assert(r.getAs[Double]("sd_corr") === 0.57735)
    assert(r.getAs[Double]("eff_factors") === 1.8)
  }

  test("neighborLabelPurity: separated clusters pin purity 1 and lift 2") {
    val vecs = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.01f * (i + 1))
        else Seq(0.01f * (i + 1), 1.0f)
      (i.toLong, base, i % 2)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val out = graft.ops.SimilarityOps.neighborLabelPurity(
        df, "vec_id", "embedding", "label",
        k = 3, centroidEvery = 5, nprobe = 2)
      .collect().map(r => r.getInt(0) -> r).toMap
    Seq(0, 1).foreach { lab =>
      assert(out(lab).getAs[Long]("n_vecs") === 6L)
      assert(out(lab).getAs[Double]("purity") === 1.0, s"label $lab")
      assert(out(lab).getAs[Double]("base_rate") === 0.5)
      assert(out(lab).getAs[Double]("lift") === 2.0)
    }
  }

  test("vocabDrift: a half-new trigram mix pins OOV at exactly 0.5 per tranche") {
    // bucket 1 = {1, 2} both text1; every later bucket holds one
    // text1 (in-vocab) and one text2 (all-new trigrams) doc
    val text1 = "a b c d e"
    val text2 = "f g h i j"
    val docs = (1 to 20).map { i =>
      val t = if (i <= 2 || i % 2 == 1) text1 else text2
      (i.toLong, t, "s1")
    }.toDF("doc_id", "text", "source")
    val out = graft.ops.CorpusOps.vocabDrift(docs)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out.size === 10)
    assert(out(1).getAs[Double]("oov_token_share") === 0.0)
    (2 to 10).foreach { b =>
      assert(out(b).getAs[Long]("n_tokens") === 6L, s"bucket $b")
      assert(out(b).getAs[Double]("oov_token_share") === 0.5, s"bucket $b")
      assert(out(b).getAs[Double]("oov_type_share") === 0.5, s"bucket $b")
    }
  }

  test("durationAcf: alternating gaps pin the lag signature -1/+1/-1 exactly") {
    // gaps alternate 1s/3s: x_{t-1} = 4s - x_t (affine, slope -1) so
    // rho1 = -1 exactly regardless of count parity; lag 2 is identity
    // (+1); lag 3 flips again
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 10, 0)
    var cum = 0L
    val rows = (0 to 12).map { i =>
      if (i > 0) cum += (if (i % 2 == 1) 1000000L else 3000000L)
      (i.toLong, Timestamp.valueOf(t0.plusNanos(cum * 1000L)), "a", 1.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = graft.ops.EventAnalytics.durationAcf(rows,
        "event_type", "ts", "event_id")
      .collect().map(r => r.getInt(1) -> r).toMap
    assert(out(1).getAs[Double]("gap_acf") === -1.0)
    assert(!out(1).getAs[Boolean]("clustered"))
    assert(out(2).getAs[Double]("gap_acf") === 1.0)
    assert(out(2).getAs[Boolean]("clustered"))
    assert(out(3).getAs[Double]("gap_acf") === -1.0)
  }

  test("retentionDecay: exact halving pins slope -ln2 and half-life 1 day") {
    // one cohort (day 0), 8 users: 4 churn after day 0, 2 after day
    // 1, 1 after day 2, 1 survives to day 3 -> rates 1, .5, .25,
    // .125 — a perfect exponential with half-life exactly one day
    val day0 = java.time.LocalDate.of(2024, 5, 1)
    def ev(u: Long, d: Int) =
      (u, Timestamp.valueOf(day0.plusDays(d.toLong).atTime(12, 0)))
    val lifetimes = Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0,
      5L -> 1, 6L -> 1, 7L -> 2, 8L -> 3)
    val events = lifetimes.toSeq.flatMap { case (u, l) =>
      (0 to l).map(d => ev(u, d)) }.toDF("user_id", "ts")
    val out = graft.ops.EventAnalytics.retentionDecay(events)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getAs[Double]("rate") === 1.0)
    assert(out(1).getAs[Double]("rate") === 0.5)
    assert(out(3).getAs[Double]("rate") === 0.125)
    assert(out(1).getAs[Double]("decay_slope") === -0.693147)
    assert(out(1).getAs[Double]("half_life_days") === 1.0)
  }

  test("circadianProfile: a single-hour spike and a flat clock pin both ends") {
    val day0 = java.time.LocalDate.of(2024, 5, 1)
    val spiky = (1 to 10).map(i =>
      (i.toLong, Timestamp.valueOf(day0.atTime(9, i)), "spiky", 1.0))
    val flat = (0 until 24).map(h =>
      (100L + h, Timestamp.valueOf(day0.atTime(h, 0)), "flat", 1.0))
    val out = graft.ops.EventAnalytics.circadianProfile(
        (spiky ++ flat).toDF("event_id", "ts", "event_type", "value"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("spiky").getAs[Double]("hour_entropy") === 0.0)
    assert(out("spiky").getAs[Double]("peak_share") === 1.0)
    assert(out("spiky").getAs[Int]("peak_hour") === 9)
    assert(out("flat").getAs[Double]("uniformity") === 1.0)
    assert(out("flat").getAs[Int]("peak_hour") === 0) // tie -> smallest
    assert(out("flat").getAs[Double]("peak_share") === 0.041667)
  }

  test("dmTest: constant loss differentials pin the mean and null the statistic") {
    // alternating ±2: e_rw² = 4, MA(5) error = ∓1.2 -> d = 2.56 on
    // every valid bar (zero variance -> DM null); a +1/bar trend:
    // e_rw = 1 but MA(5) lags by 3 -> d = -8 constant
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    def mk(s: String, closes: Seq[Double]) =
      closes.zipWithIndex.map { case (c, i) =>
        (s, Timestamp.valueOf(day0.atTime(10, 0).plusMinutes(5L * i)), c)
      }
    val alt = mk("alt", Seq.tabulate(20)(i =>
      if (i % 2 == 0) 100.0 else 102.0))
    val trend = mk("trend", Seq.tabulate(20)(i => 100.0 + i))
    val out = MarketBars.dmTest((alt ++ trend)
        .toDF("series", "bar_ts", "close"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("alt").getAs[Double]("mean_loss_diff") === 2.56)
    assert(out("alt").isNullAt(out("alt").fieldIndex("dm_stat")))
    assert(out("trend").getAs[Double]("mean_loss_diff") === -8.0)
  }

  test("obv: signed day flows and the running level pin exactly") {
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    def at(d: Int, m: Int) =
      Timestamp.valueOf(day0.plusDays(d.toLong).atTime(10, m))
    val bars = Seq(
      ("s", at(0, 0), 10.0, 5.0),  // first bar: no prev, excluded
      ("s", at(0, 5), 11.0, 2.0),  // +2
      ("s", at(0, 10), 10.5, 3.0), // -3
      ("s", at(1, 0), 10.5, 7.0),  // unchanged -> 0 (strict Granville)
      ("s", at(1, 5), 11.0, 4.0)   // +4
    ).toDF("series", "bar_ts", "close", "volume")
    val out = MarketBars.obv(bars).orderBy(col("d")).collect()
    assert(out.length === 2)
    assert(out(0).getAs[Double]("day_flow") === -1.0)
    assert(out(0).getAs[Double]("obv") === -1.0)
    assert(out(1).getAs[Double]("day_flow") === 4.0)
    assert(out(1).getAs[Double]("obv") === 3.0)
  }

  test("doclenLognormal: a roughly log-normal ladder passes, a template spike rejects") {
    def doc(src: String, i: Int, n: Int) =
      (s"$src-$i".hashCode.toLong.abs + i.toLong * 1000000L,
        (1 to n).map(j => s"w$j").mkString(" "), src)
    val good = Seq(2, 3, 3, 4, 4, 5, 5, 5, 6, 6, 7, 7, 8, 8, 9, 10, 11,
      13, 15, 19).zipWithIndex.map { case (n, i) => doc("good", i, n) }
    val tpl = (Seq.fill(19)(10) :+ 1000).zipWithIndex.map {
      case (n, i) => doc("tpl", i + 100, n) }
    val out = graft.ops.CorpusOps.doclenLognormal(
        (good ++ tpl).toDF("doc_id", "text", "source"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out("good").getAs[Boolean]("reject_lognormal"),
      s"ladder must pass: ${out("good")}")
    assert(out("tpl").getAs[Boolean]("reject_lognormal"))
    assert(out("tpl").getAs[Double]("ln_mean") === 2.532844)
    assert(out("tpl").getAs[Double]("ks_d") === 0.538468)
  }

  test("qualityDrift: a linear quality ramp pins the slope at 0.008/tranche") {
    // doc i has i distinct non-stop tokens -> q = 0.6 + 0.004i
    // exactly; ids 1..20 bucket into consecutive pairs, so tranche b
    // means are 0.598 + 0.008b — a perfect linear ramp
    val docs = (1 to 20).map(i =>
      (i.toLong, (1 to i).map(j => s"w${i}_$j").mkString(" "), "s1"))
      .toDF("doc_id", "text", "source")
    val r = graft.ops.CorpusOps.qualityDrift(docs).collect().head
    assert(r.getAs[Long]("n_docs") === 20L)
    assert(r.getAs[Long]("n_buckets") === 10L)
    assert(r.getAs[Double]("q_first") === 0.606)
    assert(r.getAs[Double]("q_last") === 0.678)
    assert(r.getAs[Double]("drift_slope") === 0.008)
  }
}
