package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** Cross-table association / inequality statistics that don't belong
  * to one domain module: rank association (Kendall tau-b) and
  * entropy-based inequality (Theil T/L). Both follow the repo's
  * determinism playbook — integer/DECIMAL accumulation, one shared
  * double formula at the end — so results are partitioning- and
  * scale-independent.
  */
object StatOps {

  private def dbl(c: Column) = c.cast(DoubleType)

  /** Kendall tau-b between two DISCRETE columns, computed from the
    * contingency table rather than from row pairs.
    *
    * The textbook statistic is O(n²) in row pairs; over a contingency
    * table with cells (x, y, n_xy) the concordant count is
    * C = Σ_cells n_xy · Σ_{x'>x, y'>y} n_x'y' (each unordered pair
    * counted once because both inequalities are strict), discordant D
    * mirrors it with y' < y, and the tie terms n1/n2 come from the
    * marginals. tau_b = (C − D) / (√(n0−n1) · √(n0−n2)) with
    * n0 = n(n−1)/2.
    *
    * Scale: one aggregation collapses the fact table to |X|·|Y| cells
    * (bounded by distinct-value products, NOT by rows); the cell
    * self-join is broadcast — at 100 TB the shuffle is the single
    * groupBy, everything after runs on a few hundred rows. All counts
    * fold in long arithmetic (C ≤ n(n−1)/2 fits a long for n < 6e9);
    * the two variance factors can pass 2^63 multiplied, so the final
    * formula takes √ of each factor separately in double — the same
    * op order as the oracle.
    */
  def kendallTauB(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df
      .select(xCol.cast(LongType).as("x"), yCol.cast(LongType).as("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
      // A/B-kept: q274 0.57 -> 0.84 s wall without it (median, parent
      // spread 0.16 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val a = cells.select(col("x").as("xa"), col("y").as("ya"), col("c").as("ca"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"), col("c").as("cb"))
    val conc = a.join(broadcast(b),
        col("xb") > col("xa") && col("yb") > col("ya"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("conc"))
    val disc = a.join(broadcast(b),
        col("xb") > col("xa") && col("yb") < col("ya"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("disc"))
    // t(t-1) is always even, so integer DIV is exact — and unlike
    // double `/` it stays exact past 2^53 (the heapsLaw div lesson)
    val tiesX = cells.groupBy(col("x")).agg(sum(col("c")).as("tx"))
      .agg(sum(expr("tx * (tx - 1) DIV 2")).as("n1"),
        sum(col("tx")).as("n"))
    val tiesY = cells.groupBy(col("y")).agg(sum(col("c")).as("ty"))
      .agg(sum(expr("ty * (ty - 1) DIV 2")).as("n2"))
    val nCells = cells.agg(count(lit(1)).as("n_cells"))
    conc.crossJoin(disc).crossJoin(tiesX).crossJoin(tiesY).crossJoin(nCells)
      .withColumn("n0", expr("n * (n - 1) DIV 2"))
      .select(col("n"), col("n_cells"), col("conc"), col("disc"),
        when(col("n0") > col("n1") && col("n0") > col("n2"),
          round(dbl(col("conc") - col("disc")) /
            (sqrt(dbl(col("n0") - col("n1"))) *
              sqrt(dbl(col("n0") - col("n2")))), 6))
          .as("tau_b"))
  }

  /** Per-group Theil inequality indices of a positive value spread
    * over members: T = (1/n) Σ (x/μ) ln(x/μ) and L = (1/n) Σ ln(μ/x)
    * — the entropy-based alternative to the Gini (q266) whose terms
    * are MEMBER-LOCAL once μ is known, so unlike the Gini there is no
    * sort and no pairwise structure: two aggregations and a broadcast
    * join, at any scale.
    *
    * `members` must carry (groupCol, a DECIMAL-exact positive value
    * `xdec`). Determinism: μ = round(Σxdec, 2) cast to double (round
    * the DECIMAL first — the .xx5 cast lesson), each member term is
    * one shared-order double formula rounded at 12 dp and folded in
    * DECIMAL(38,12), the final indices round at 6.
    */
  def theilIndex(members: DataFrame, groupCol: String): DataFrame = {
    val totals = members.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("xdec")), 2).cast(DoubleType).as("total"))
    members.join(broadcast(totals), groupCol)
      .withColumn("mu", col("total") / dbl(col("n_members")))
      .withColumn("xd", dbl(col("xdec")))
      .withColumn("tt",
        round(col("xd") / col("mu") * log(col("xd") / col("mu")), 12)
          .cast(DecimalType(38, 12)))
      .withColumn("tl",
        round(log(col("mu") / col("xd")), 12).cast(DecimalType(38, 12)))
      .groupBy(col(groupCol))
      .agg(max(col("n_members")).as("n_members"),
        round(max(col("mu")), 4).as("mean_value"),
        ExactRound.ratioRound(
          ExactRound.toUnscaled(sum(col("tt")), 12),
          max(col("n_members")) * lit(1000000000000L), 6).as("theil_t"),
        ExactRound.ratioRound(
          ExactRound.toUnscaled(sum(col("tl")), 12),
          max(col("n_members")) * lit(1000000000000L), 6)
          .as("theil_l"))
  }

  /** Join-key skew audit: the distribution of per-key row counts for
    * a prospective shuffle/join key — the number you check BEFORE
    * launching a 1000-executor join, because one mega-key is the
    * difference between a clean shuffle and a straggler task holding
    * the cluster (the hazard `SaltedJoin`/AQE skew handling exists
    * for). Reports key cardinality, the heaviest key's share, the
    * p50/p99 key sizes and their ratio.
    *
    * Determinism: counts are exact integers; the percentiles use the
    * shared interpolated-percentile convention (rounded at 4); the
    * top-1 share is one rounded double divide.
    *
    * Scale: one groupBy to the key relation; the percentile aggregate
    * runs over keys, not rows. */
  def keySkew(df: DataFrame, keyCol: Column): DataFrame = {
    val counts = df.groupBy(keyCol.as("k")).agg(count(lit(1)).as("c"))
    counts.agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"),
        round(expr("percentile(c, 0.5)"), 4).as("p50_rows"),
        round(expr("percentile(c, 0.99)"), 4).as("p99_rows"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        col("p50_rows"), col("p99_rows"),
        ExactRound.ratioRound(col("max_key_rows"), col("n_rows"), 6)
          .as("top1_share"),
        when(col("p50_rows") > 0,
          round(col("p99_rows") / col("p50_rows"), 6)).as("skew_ratio"))
  }

  /** Hill estimator of the power-law tail index per group over the
    * top `k` order statistics of a positive value:
    * α = k / Σ_{i=1..k} ln(x_(i)/x_(k+1)) — the tail-heaviness
    * number behind "how long is the long tail", sharper than a
    * log-log regression slope (q257 Zipf) because it uses ONLY the
    * tail it estimates. α ≈ 1 is Zipf-heavy; large α is thin.
    *
    * Determinism: the top-(k+1) multiset is selected by VALUE desc,
    * so ties at the boundary cannot change the selected values; each
    * ln ratio rounds at 12 dp and folds in DECIMAL(38,12); α rounds
    * at 6 (null when the top k+1 values are all equal).
    *
    * Scale: the per-group rank window is the hot-key class (growing
    * group count amortizes it). */
  def hillTail(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 25): DataFrame = {
    val dec = DecimalType(38, 12)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("x").desc)
    val top = df
      .select(col(groupCol), col(valueCol).cast(DoubleType).as("x"))
      .filter(col("x") > 0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k + 1)
    val ref = top.filter(col("rn") === k + 1)
      .select(col(groupCol), col("x").as("xref"))
    top.filter(col("rn") <= k)
      .join(ref, groupCol)
      .withColumn("term",
        round(log(col("x") / col("xref")), 12).cast(dec))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tail"), max(col("xref")).as("x_ref"),
        sum(col("term")).as("s"))
      .select(col(groupCol), col("n_tail"), col("x_ref"),
        when(dbl(col("s")) > 0,
          ExactRound.ratioRound(lit(k.toLong) * lit(1000000000000L),
            ExactRound.toUnscaled(col("s"), 12), 6)).as("alpha"))
  }

  /** Kaplan–Meier product-limit survival per group, evaluated at
    * fixed horizons: S(H) = Π_{event times t ≤ H} (1 − d_t/n_t) with
    * right-censoring — the estimator that answers "what share of
    * customers have NOT reordered within H days" without the bias of
    * dropping still-active customers (censored spells count in the
    * at-risk denominator until their censor time, which a plain gap
    * histogram like q244 cannot do).
    *
    * `durations` carries (groupCol, `dur` integer time units,
    * `event` 1 = observed, 0 = censored). Determinism: d_t and the
    * at-risk n_t are exact integers (one desc-cumulative window over
    * the (group, dur) cells); the product folds as Σ ln((n−d)/n)
    * rounded at 12 dp in DECIMAL(38,12), exp rounds at 6; a horizon
    * that has absorbed a d = n event time pins S to exactly 0.
    *
    * Scale: the spell table collapses to (group, dur) cells in one
    * shuffle — windows and the broadcast horizon join run on cells
    * (bounded by distinct durations), never on members. */
  def kaplanMeier(
      durations: DataFrame,
      groupCol: String,
      horizons: Seq[Int]): DataFrame = {
    val dec = DecimalType(38, 12)
    val cells = durations
      .groupBy(col(groupCol), col("dur"))
      .agg(count(lit(1)).as("n_all"), sum(col("event")).as("d"))
    val wDesc = Window.partitionBy(col(groupCol)).orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ev = cells
      .withColumn("at_risk", sum(col("n_all")).over(wDesc))
      .filter(col("d") > 0)
      .withColumn("lnterm",
        when(col("d") < col("at_risk"),
          round(log(dbl(col("at_risk") - col("d")) / dbl(col("at_risk"))),
            12).cast(dec)))
    val hs = durations.sparkSession
      .createDataFrame(horizons.map(Tuple1(_))).toDF("horizon")
    val base = durations.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_spells"), sum(col("event")).as("n_events"))
    base.crossJoin(broadcast(hs))
      .join(ev.select(col(groupCol), col("dur"), col("d"), col("lnterm")),
        Seq(groupCol), "left")
      .withColumn("in_h", col("dur").isNotNull && col("dur") <= col("horizon"))
      .groupBy(col(groupCol), col("horizon"), col("n_spells"),
        col("n_events"))
      .agg(sum(when(col("in_h"), col("lnterm"))).as("lnsum"),
        max(when(col("in_h") && col("lnterm").isNull, 1)
          .otherwise(0)).as("absorbed"),
        sum(when(col("in_h"), col("d")).otherwise(0L)).as("d_in_h"))
      .select(col(groupCol), col("horizon"), col("n_spells"),
        col("n_events"),
        when(col("absorbed") === 1, lit(0.0))
          .when(col("d_in_h") === 0, lit(1.0))
          .otherwise(round(exp(dbl(col("lnsum"))), 6)).as("surv"))
  }


  /** Spearman rank correlation between two DISCRETE columns from the
    * contingency table: midranks come from the margin cumulative
    * counts (doubled so ties keep them exact INTEGERS), then the
    * Pearson formula runs over the |X|·|Y| cells weighted by cell
    * counts — never a corpus-wide rank window, the same scale story
    * as [[kendallTauB]] (q274): one groupBy shuffle to cells, margins
    * are distinct-value-sized, everything after runs on cells.
    *
    * Determinism: doubled midranks 2·cum_prev + n_v + 1 are exact
    * longs; every moment folds as DECIMAL products of those integers
    * (a long product can pass 2^63 at corpus scale — the q248
    * lesson; the ×2 scale cancels in the ratio); rho forms in one
    * shared double op order and rounds 6dp. Degenerate margins (one
    * distinct value) null rho. */
  def spearmanMidrank(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df
      .select(xCol.cast(LongType).as("x"), yCol.cast(LongType).as("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
      // unpartitioned window: both margins' empty-key cumSum windows
      // and the moment pass read it; deleted, tier-1 logged more
      // "No Partition Defined for Window" warnings (Round7Spec
      // spearmanMidrank 72 -> 92)
      .localCheckpoint(eager = false)
    // margin prefix counts via ScalableRank.cumSum (round 8): the
    // margins are distinct-value-sized — bounded for the documented
    // DISCRETE contract, but a continuous 6dp-scaled column makes the
    // spectrum ~corpus-sized and a plain Window.orderBy would
    // single-task it; ScalableRank.cumSum stays exact (integer counts
    // in DECIMAL(38,0)) at any cardinality
    def midranks(k: String, r: String) = {
      ScalableRank.cumSum(
          cells.groupBy(col(k)).agg(sum(col("c")).as("nv")),
          Seq.empty, Seq(col(k)),
          col("nv").cast(DecimalType(38, 0)), "cum")
        .select(col(k),
          (lit(2) * (col("cum").cast(LongType) - col("nv")) +
            col("nv") + 1).as(r))
    }
    val vx = dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val vy = dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    cells
      .join(broadcast(midranks("x", "rx2")), "x")
      .join(broadcast(midranks("y", "ry2")), "y")
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(dec) * col("rx2").cast(dec)).as("sx"),
        sum(col("c").cast(dec) * col("ry2").cast(dec)).as("sy"),
        sum(col("c").cast(dec) * col("rx2").cast(dec) *
          col("ry2").cast(dec)).as("sxy"),
        sum(col("c").cast(dec) * col("rx2").cast(dec) *
          col("rx2").cast(dec)).as("sxx"),
        sum(col("c").cast(dec) * col("ry2").cast(dec) *
          col("ry2").cast(dec)).as("syy"))
      .select(col("n"),
        when(vx > 0 && vy > 0,
          round((dbl(col("n")) * dbl(col("sxy")) -
            dbl(col("sx")) * dbl(col("sy"))) /
            (sqrt(vx) * sqrt(vy)), 6)).as("rho"))
  }

  /** Mann–Whitney U rank-sum test between two groups of a DISCRETE
    * value column, from the per-value distribution: U counts
    * cross-group (A > B) pairs plus half the ties —
    * 2U = Σ_v cntA_v · (2·belowB_v + cntB_v), all exact integers off
    * one window over the DISTINCT-value relation. The z statistic
    * uses the tie-corrected normal approximation. The nonparametric
    * "did the distribution shift" test next to the parametric means
    * panel — and it never ranks the corpus, only its value spectrum.
    *
    * Determinism: 2U and the tie cubes fold as DECIMAL integers
    * (t³ passes 2^63 once a value holds > 2M rows); μ, σ, z form in
    * one shared double op order; z rounds 6dp; a degenerate spectrum
    * (all rows one value) nulls z. */
  def mannWhitneyU(df: DataFrame, valCol: Column, isACol: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val dist = df
      .select(valCol.cast(LongType).as("v"), isACol.as("ia"))
      .groupBy(col("v"))
      .agg(sum(when(col("ia"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("ia"), 1L).otherwise(0L)).as("cb"))
    // prefix of cb over the value spectrum via ScalableRank.cumSum
    // (round 8) — same rationale as [[spearmanMidrank]]'s midranks
    val t = col("ca") + col("cb")
    val agg = ScalableRank.cumSum(dist, Seq.empty, Seq(col("v")),
        col("cb").cast(DecimalType(38, 0)), "__cumb")
      .withColumn("belowb", col("__cumb").cast(LongType) - col("cb"))
      .agg(sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
        sum(col("ca").cast(dec) *
          (lit(2) * col("belowb") + col("cb")).cast(dec)).as("u2"),
        sum(t.cast(dec) * t.cast(dec) * t.cast(dec) - t.cast(dec))
          .as("tie3"))
    val n1d = dbl(col("n1"))
    val n2d = dbl(col("n2"))
    val nd = n1d + n2d
    val u = dbl(col("u2")) / lit(2.0)
    val varU = n1d * n2d / lit(12.0) *
      ((nd + 1) - dbl(col("tie3")) / (nd * (nd - 1)))
    agg.select(col("n1"), col("n2"),
      round(u, 4).as("u_stat"),
      when(col("n1") > 0 && col("n2") > 0 && varU > 0,
        round((u - n1d * n2d / lit(2.0)) / sqrt(varU), 6)).as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, abs(col("z")) > 1.959964))
  }

  /** Cramér's V association between two CATEGORICAL columns: χ² over
    * the FULL margin grid (absent cells contribute their expected
    * count) normalized by n·(min(|A|,|B|)−1). The bounded-in-[0,1]
    * effect size next to [[categoricalMI]]'s information view and the
    * q278 G-test's significance view — same cells-only scale posture.
    *
    * Determinism: expected counts and each cell term form in one
    * shared double op order, terms round 12dp and fold in
    * DECIMAL(38,12), χ² and V round 6dp at emission (V from the
    * UNROUNDED χ²). A 1-level margin nulls V. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val cells = df
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("c"))
      // A/B-kept: q301 0.39 -> 0.46 s wall without it (median, parent
      // spread 0.04 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val ra = cells.groupBy(col("a")).agg(sum(col("c")).as("na"))
    val rb = cells.groupBy(col("b")).agg(sum(col("c")).as("nb"))
    val tot = cells.agg(sum(col("c")).as("n"),
      count_distinct(col("a")).as("ka"), count_distinct(col("b")).as("kb"))
    val o = dbl(coalesce(col("c"), lit(0L)))
    ra.crossJoin(broadcast(rb))
      .join(cells, Seq("a", "b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("e", dbl(col("na")) * dbl(col("nb")) / dbl(col("n")))
      .withColumn("term",
        round((o - col("e")) * (o - col("e")) / col("e"), 12).cast(dec12))
      .agg(max(col("n")).as("n"), max(col("ka")).as("ka"),
        max(col("kb")).as("kb"), sum(col("term")).as("chi_d"))
      .select(col("n"), col("ka"), col("kb"),
        round(col("chi_d"), 6).cast(DoubleType).as("chi2"),
        when(least(col("ka"), col("kb")) > 1,
          round(sqrt(dbl(col("chi_d")) /
            (dbl(col("n")) * dbl(least(col("ka"), col("kb")) - 1))), 6))
          .as("cramers_v"))
  }

  /** χ²(df, 0.95) fence for small df — the [[graft.ops.MarketBars]]
    * Ljung–Box table extended to 10; both engines CASE on the same
    * constants so the reject flag is engine-identical. */
  private def chi2Crit95(df: Column): Column =
    when(df === 1, 3.8415).when(df === 2, 5.9915)
      .when(df === 3, 7.8147).when(df === 4, 9.4877)
      .when(df === 5, 11.0705).when(df === 6, 12.5916)
      .when(df === 7, 14.0671).when(df === 8, 15.5073)
      .when(df === 9, 16.9190).otherwise(18.3070)

  /** Kruskal–Wallis H across k groups of a DISCRETE value column —
    * the rank one-way ANOVA completing the nonparametric panel
    * (Mann–Whitney q298 is its k = 2 special case, Spearman q297 the
    * paired view). Computed entirely from the value SPECTRUM: per
    * (value, group) cells, margin midranks off one exclusive prefix
    * (doubled to stay integer, the q297 idiom), per-group rank sums
    * as exact DECIMAL products, then
    * H = 12/(N(N+1)) · Σ R_g²/n_g − 3(N+1), tie-corrected by
    * C = 1 − Σ(t³−t)/(N³−N).
    *
    * Scale: two corpus-sized aggregates (cells, then margins ride the
    * cells relation); the margin prefix runs through the
    * exact DECIMAL [[ScalableRank.cumSum]]; everything after lives on
    * |groups| rows.
    * Determinism: midranks/rank-sums are exact integers; the k
    * per-group double terms round 12dp and fold as DECIMAL(28,12);
    * H, C form in one shared double op order and round 6dp. */
  def kruskalWallis(
      df: DataFrame, valCol: Column, groupCol: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df
      .select(valCol.cast(LongType).as("v"), groupCol.as("g"))
      .groupBy(col("v"), col("g"))
      .agg(count(lit(1)).as("c"))
      // A/B-kept: q311 0.68 -> 0.90 s wall without it (median, parent
      // spread 0.10 s; PerfProbe sf0.1, local[4], 8 runs a side)
      .localCheckpoint(eager = false)
    val margins = cells.groupBy(col("v")).agg(sum(col("c")).as("nv"))
    // doubled midrank (integer) + tie cube per distinct value off the
    // exact running prefix
    val mid = ScalableRank.cumSum(margins, Seq.empty, Seq(col("v")),
        col("nv").cast(DecimalType(38, 0)), "cum")
      .select(col("v"),
        (lit(2) * (col("cum").cast(LongType) - col("nv")) +
          col("nv") + 1).as("m2"),
        (col("nv").cast(dec) * col("nv").cast(dec) * col("nv").cast(dec) -
          col("nv").cast(dec)).as("t3"))
      // unpartitioned window: the empty-key cumSum runs in one task,
      // and grp and ties both read its output, so without this it
      // would run once per consumer
      .localCheckpoint(eager = false)
    // per-group size and DOUBLED rank sum (broadcast side is the
    // spectrum — bounded under the documented discrete contract)
    val grp = cells.join(broadcast(mid.select(col("v"), col("m2"))), "v")
      .groupBy(col("g"))
      .agg(sum(col("c")).as("ng"),
        sum(col("c").cast(dec) * col("m2").cast(dec)).as("r2"))
    val ties = mid.agg(sum(col("t3")).as("t3s"))
    // Σ R_g²/n_g with R_g = r2/2: k 12dp-rounded double terms fold as
    // DECIMAL (the lbOver pattern)
    val term = round(dbl(col("r2")) * dbl(col("r2")) /
      (lit(4.0) * dbl(col("ng"))), 12).cast(DecimalType(38, 12))
    val agg = grp
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(term).as("s"))
      .crossJoin(broadcast(ties))
    val nd = dbl(col("n"))
    val h = lit(12.0) / (nd * (nd + 1)) * dbl(col("s")) -
      lit(3.0) * (nd + 1)
    val corr = lit(1.0) - dbl(col("t3s")) /
      dbl(col("n").cast(dec) * col("n").cast(dec) * col("n").cast(dec) -
        col("n").cast(dec))
    agg.select(col("k"), col("n"),
        round(h, 6).as("h"),
        when(corr > 0, round(h / corr, 6)).as("h_adj"))
      .withColumn("reject_same_dist",
        when(col("h_adj").isNotNull && col("k") > 1,
          col("h_adj") > chi2Crit95(col("k") - 1)))
  }

  /** Cliff's delta effect size between two groups of a DISCRETE value
    * column: δ = (#(a > b) − #(a < b)) / (n₁·n₂) — the
    * distribution-free "how often does A beat B" companion to q298's
    * Mann–Whitney significance (z says IF the shift is real, δ says
    * HOW BIG it is on a [−1, 1] scale). Same spectrum machinery:
    * greater-than pairs come from the exclusive below-B prefix,
    * less-than pairs from the inclusive prefix complement, both exact
    * DECIMAL integer folds; |δ| maps to the standard
    * negligible/small/medium/large bands (0.147 / 0.33 / 0.474). */
  def cliffsDelta(
      df: DataFrame, valCol: Column, isACol: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val dist = df
      .select(valCol.cast(LongType).as("v"), isACol.as("ia"))
      .groupBy(col("v"))
      .agg(sum(when(col("ia"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("ia"), 1L).otherwise(0L)).as("cb"))
    val agg = ScalableRank.cumSum(dist, Seq.empty, Seq(col("v")),
        col("cb").cast(DecimalType(38, 0)), "__cumb")
      .withColumn("belowb", col("__cumb").cast(LongType) - col("cb"))
      .agg(sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
        sum(col("ca").cast(dec) * col("belowb").cast(dec)).as("gt"),
        sum(col("ca").cast(dec) * col("__cumb")).as("scum"))
    val lt = col("n1").cast(dec) * col("n2").cast(dec) - col("scum")
    val delta = (dbl(col("gt")) - dbl(lt)) /
      (dbl(col("n1")) * dbl(col("n2")))
    agg.select(col("n1"), col("n2"),
        col("gt").cast(LongType).as("n_gt"),
        lt.cast(LongType).as("n_lt"),
        when(col("n1") > 0 && col("n2") > 0, round(delta, 6)).as("delta"))
      .withColumn("magnitude",
        when(col("delta").isNull, lit(null).cast("string"))
          .when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
  }

  /** Brown–Forsythe homogeneity-of-variance test across k groups of a
    * DISCRETE value column: one-way ANOVA F on |x − median_g| — the
    * robust (median-centered) Levene variant, the "are these groups
    * even comparable in spread" gate that should run BEFORE any
    * pooled-variance comparison (q202's ANOVA assumes what this
    * tests).
    *
    * The group median is EXACT from the per-group value spectrum: the
    * prefix runs through [[ScalableRank.cumSum]] KEYED BY GROUP, the
    * lo/hi middle ranks pick
    * the two central values, and the deviations double
    * (z2 = |2x − (lo + hi)|) so an even-count median never leaves
    * integer arithmetic. Per-group sums fold DECIMAL-exact; the k
    * between/within terms round 12dp and fold as DECIMAL; F forms in
    * one shared double op order; the reject flag uses the large-N
    * (k−1)·F ≈ χ²(k−1) fence. */
  def brownForsythe(
      df: DataFrame, valCol: Column, groupCol: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df
      .select(valCol.cast(LongType).as("v"), groupCol.as("g"))
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("c"))
    val cum = ScalableRank.cumSum(cells, Seq("g"), Seq(col("v")),
      col("c").cast(DecimalType(38, 0)), "cum")
    val ng = cells.groupBy(col("g")).agg(sum(col("c")).as("ng"))
    // exact doubled median: lo rank = ⌊(n+1)/2⌋, hi rank = ⌊n/2⌋+1
    val med = cum.join(broadcast(ng), "g")
      .groupBy(col("g"))
      .agg(
        min(when(col("cum") >=
            floor((col("ng") + 1).cast(DoubleType) / 2.0).cast(dec),
          col("v"))).as("vlo"),
        min(when(col("cum") >=
            (floor(col("ng").cast(DoubleType) / 2.0) + 1).cast(dec),
          col("v"))).as("vhi"))
      .select(col("g"), (col("vlo") + col("vhi")).as("m2"))
    val z = cells.join(broadcast(med), "g")
      .withColumn("z2", abs(lit(2) * col("v") - col("m2")))
    val sums = z.groupBy(col("g"))
      .agg(sum(col("c")).as("ng"),
        sum(col("c").cast(dec) * col("z2").cast(dec)).as("sz"),
        sum(col("c").cast(dec) * (col("z2") * col("z2")).cast(dec))
          .as("szz"))
    val tot = sums.agg(sum(col("ng")).as("n"), sum(col("sz")).as("szt"))
    val zbar = dbl(col("szt")) / dbl(col("n"))
    val between = round(dbl(col("ng")) *
      (dbl(col("sz")) / dbl(col("ng")) - zbar) *
      (dbl(col("sz")) / dbl(col("ng")) - zbar), 12).cast(DecimalType(38, 12))
    val within = round(dbl(col("szz")) -
      dbl(col("sz")) * dbl(col("sz")) / dbl(col("ng")), 12)
      .cast(DecimalType(38, 12))
    val agg = sums.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("k"), max(col("n")).as("n"),
        sum(between).as("sb"), sum(within).as("sw"))
    val f = (dbl(col("sb")) / (dbl(col("k")) - 1)) /
      (dbl(col("sw")) / (dbl(col("n")) - dbl(col("k"))))
    agg.select(col("k"), col("n"),
      when(col("k") > 1 && dbl(col("sw")) > 0 && col("n") > col("k"),
        round(f, 6)).as("f_stat"),
      when(col("k") > 1 && dbl(col("sw")) > 0 && col("n") > col("k"),
        f * (dbl(col("k")) - 1) > chi2Crit95(col("k") - 1))
        .as("reject_equal_spread"))
  }

  /** Friedman rank test across k treatments blocked by a second key —
    * the repeated-measures companion to [[kruskalWallis]] (which pools
    * all rows, ignoring block structure): per complete block the k
    * treatment cell means are ranked WITHIN the block, and
    * χ² = 12/(n·k·(k+1)) · Σ_t R_t² − 3·n·(k+1) tests whether any
    * treatment consistently ranks higher. Kendall's W = χ²/(n·(k−1))
    * is the agreement effect size on [0, 1].
    *
    * Cell means are 6dp-rounded DECIMAL-summed values; ranks are
    * doubled midranks (exact integers, ties share the average rank —
    * the conservative, uncorrected statistic, documented because ties
    * between 6dp cell means of disjoint row sets are measure-zero).
    * Incomplete blocks (a treatment missing that date) drop, n counts
    * the complete ones. Σ R_t² folds as 12dp-rounded DECIMAL; χ², W
    * form in one shared double op order and round 6dp.
    *
    * Scale: one shuffle collapses the fact table to |blocks|·k cells;
    * the rank window partitions PER BLOCK (frame bounded by k, never
    * by rows — no global sort anywhere); everything after lives on k
    * rows. */
  def friedman(
      df: DataFrame,
      blockCol: Column,
      treatCol: Column,
      valCol: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df
      .select(blockCol.as("b"), treatCol.as("t"),
        valCol.cast(DoubleType).as("x"))
      .groupBy(col("b"), col("t"))
      .agg(ExactRound.ratioRound(
        ExactRound.toUnscaled(sum(col("x").cast(DecimalType(18, 6))), 6),
        count(lit(1)) * lit(1000000L), 6).as("m"))
    val kdf = cells.select(col("t")).distinct()
      .agg(count(lit(1)).as("k"))
    val blockK = cells.groupBy(col("b")).agg(count(lit(1)).as("bk"))
    val complete = cells
      .join(blockK, "b").crossJoin(broadcast(kdf))
      .filter(col("bk") === col("k"))
    // doubled midrank within the block: 2·minrank + (ties − 1), exact
    val wRank = Window.partitionBy(col("b")).orderBy(col("m"))
    val wTie = Window.partitionBy(col("b"), col("m"))
    val ranked = complete
      .withColumn("m2",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTie) - 1)
    val grp = ranked.groupBy(col("t"))
      .agg(count(lit(1)).as("nb"), sum(col("m2").cast(dec)).as("r2"))
    // Σ R_t² with R_t = r2/2: k 12dp-rounded double terms fold DECIMAL
    val term = round(dbl(col("r2")) * dbl(col("r2")) / lit(4.0), 12)
      .cast(DecimalType(38, 12))
    val agg = grp.agg(count(lit(1)).as("k"), max(col("nb")).as("n_blocks"),
      sum(term).as("s"))
    val nd = dbl(col("n_blocks"))
    val kd = dbl(col("k"))
    val chi2 = lit(12.0) / (nd * kd * (kd + 1)) * dbl(col("s")) -
      lit(3.0) * nd * (kd + 1)
    agg.select(col("n_blocks"), col("k"),
      when(col("n_blocks") > 0 && col("k") > 1, round(chi2, 6)).as("chi2"),
      when(col("n_blocks") > 0 && col("k") > 1,
        round(chi2 / (nd * (kd - 1)), 6)).as("kendalls_w"),
      when(col("n_blocks") > 0 && col("k") > 1,
        chi2 > chi2Crit95(col("k") - 1)).as("reject_no_effect"))
  }

  /** Nelson–Aalen cumulative hazard per group at fixed horizons — the
    * additive companion to [[kaplanMeier]] (which multiplies survival
    * factors): Ĥ(h) = Σ_{dur ≤ h} d/n_at_risk with the Aalen variance
    * Σ d/n², plus the Fleming–Harrington survival exp(−Ĥ). More
    * stable than KM in small-risk-set tails and the standard input to
    * proportional-hazards diagnostics.
    *
    * Same spell relation contract as [[kaplanMeier]] (`dur` long,
    * `event` 0/1): hazard and variance terms round 12dp and fold as
    * DECIMAL(38,12); outputs round 6dp; a horizon with no events
    * emits hazard 0 / survival 1.
    *
    * Scale: identical to KM — one shuffle to (group, dur) cells, the
    * at-risk prefix runs per group over the DISTINCT duration
    * spectrum (day-granular, bounded by the calendar, not by rows),
    * horizons broadcast. */
  def nelsonAalen(
      durations: DataFrame,
      groupCol: String,
      horizons: Seq[Int]): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val cells = durations
      .groupBy(col(groupCol), col("dur"))
      .agg(count(lit(1)).as("n_all"), sum(col("event")).as("d"))
    val wDesc = Window.partitionBy(col(groupCol)).orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ev = cells
      .withColumn("at_risk", sum(col("n_all")).over(wDesc))
      .filter(col("d") > 0)
      .withColumn("hterm",
        ExactRound.ratioRound(col("d"), col("at_risk"), 12).cast(dec12))
      .withColumn("vterm",
        ExactRound.ratioRound(col("d"),
          (col("at_risk") * col("at_risk"))
            .cast(DecimalType(38, 0)), 12).cast(dec12))
    val hs = durations.sparkSession
      .createDataFrame(horizons.map(Tuple1(_))).toDF("horizon")
    val base = durations.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_spells"), sum(col("event")).as("n_events"))
    base.crossJoin(broadcast(hs))
      .join(ev.select(col(groupCol), col("dur"), col("hterm"),
        col("vterm")), Seq(groupCol), "left")
      .withColumn("in_h", col("dur").isNotNull && col("dur") <= col("horizon"))
      .groupBy(col(groupCol), col("horizon"), col("n_spells"),
        col("n_events"))
      .agg(sum(when(col("in_h"), col("hterm"))).as("hsum"),
        sum(when(col("in_h"), col("vterm"))).as("vsum"))
      .select(col(groupCol), col("horizon"), col("n_spells"),
        col("n_events"),
        round(coalesce(col("hsum"),
          lit(0L).cast(DecimalType(38, 12))), 6).cast(DoubleType)
          .as("chaz"),
        round(sqrt(coalesce(dbl(col("vsum")), lit(0.0))), 6).as("se_chaz"),
        round(exp(-coalesce(dbl(col("hsum")), lit(0.0))), 6).as("na_surv"))
  }

  /** Two-predictor OLS per group, solved in closed form from the
    * 2×2 centered normal equations (Cramer's rule) — the multivariate
    * step up from q121's simple regression: y = b0 + b1·x1 + b2·x2
    * with R², residual σ², and per-coefficient t-statistics from the
    * inverse-matrix diagonal. All three inputs must be EXACT LONGS
    * (caller scales); coefficients come out in the scaled units.
    *
    * Determinism: nine raw moments fold as DECIMAL(38,0) products of
    * integers; every centered moment, the determinant, coefficients,
    * R² and t's form in ONE shared double op order and round 6dp.
    * Degenerate groups (n < 4, collinear predictors det ≤ 0, or zero
    * y variance) null the fit columns.
    *
    * Scale: one map-side-combined aggregate to |groups| rows;
    * everything after is per-row arithmetic. */
  def ols2(
      df: DataFrame,
      groupCol: Column,
      yCol: Column,
      x1Col: Column,
      x2Col: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast(LongType).cast(dec)
    val rows = df.select(groupCol.as("g"), yCol.cast(LongType).as("y"),
      x1Col.cast(LongType).as("x1"), x2Col.cast(LongType).as("x2"))
    val agg = rows.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      sum(d(col("x1"))).as("sx1"), sum(d(col("x2"))).as("sx2"),
      sum(d(col("y"))).as("sy"),
      sum(d(col("x1")) * d(col("x1"))).as("sx11"),
      sum(d(col("x2")) * d(col("x2"))).as("sx22"),
      sum(d(col("x1")) * d(col("x2"))).as("sx12"),
      sum(d(col("x1")) * d(col("y"))).as("sx1y"),
      sum(d(col("x2")) * d(col("y"))).as("sx2y"),
      sum(d(col("y")) * d(col("y"))).as("syy"))
    val n = dbl(col("n"))
    val s11 = dbl(col("sx11")) - dbl(col("sx1")) * dbl(col("sx1")) / n
    val s22 = dbl(col("sx22")) - dbl(col("sx2")) * dbl(col("sx2")) / n
    val s12 = dbl(col("sx12")) - dbl(col("sx1")) * dbl(col("sx2")) / n
    val s1y = dbl(col("sx1y")) - dbl(col("sx1")) * dbl(col("sy")) / n
    val s2y = dbl(col("sx2y")) - dbl(col("sx2")) * dbl(col("sy")) / n
    val syc = dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / n
    val det = s11 * s22 - s12 * s12
    val b1 = (s1y * s22 - s2y * s12) / det
    val b2 = (s11 * s2y - s12 * s1y) / det
    val b0 = dbl(col("sy")) / n - b1 * dbl(col("sx1")) / n -
      b2 * dbl(col("sx2")) / n
    val rss = syc - b1 * s1y - b2 * s2y
    val sig2 = rss / (n - 3)
    val ok = col("n") > 3 && det > 0 && syc > 0
    agg.select(col("g"), col("n"),
      when(ok, round(b0, 6)).as("b0"),
      when(ok, round(b1, 6)).as("b1"),
      when(ok, round(b2, 6)).as("b2"),
      when(ok, round((b1 * s1y + b2 * s2y) / syc, 6)).as("r2"),
      when(ok && sig2 > 0, round(b1 / sqrt(sig2 * s22 / det), 6)).as("t1"),
      when(ok && sig2 > 0, round(b2 / sqrt(sig2 * s11 / det), 6)).as("t2"))
  }

  /** Integer thresholds t_k = floor(P[Poisson(1) ≤ k] · 2³²) for the
    * deterministic bootstrap draw: a 32-bit md5 hash below t_k maps to
    * a replica weight ≤ k. Public so the DuckDB oracle interpolates
    * the SAME literals — both engines compare exact integers. */
  val PoissonThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val pmf = Iterator.iterate((e1, 0)) { case (p, k) =>
      (p / (k + 1), k + 1)
    }.map(_._1).take(8).toSeq
    pmf.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * 4294967296.0).toLong)
  }

  /** Poisson(1) bootstrap of a group mean with DETERMINISTIC replica
    * weights: replica r gives row i the weight Poisson⁻¹(u) where u is
    * the portable md5 hash of (key, r) — the online-bootstrap trick
    * (each bootstrap resample's multinomial count is ≈ Poisson(1))
    * made RNG-free, so the standard error is reproducible under any
    * partitioning and any engine. B replica means per group, their
    * sample sd is the bootstrap SE, and the normal CI attaches to the
    * plain point mean.
    *
    * `valCol` must already be an exact long (caller scales, `scale`
    * un-scales the reported means). Weighted sums fold as
    * DECIMAL(38,0) (weight ≤ 8, so w·x stays far from overflow);
    * replica means round 6dp before the DECIMAL variance fold; SE and
    * CI bounds form in one shared double op order and round 6dp.
    *
    * Scale: the B-way explode is map-side (no pre-shuffle fan-out
    * materialized); ONE shuffle to (group, replica) partial sums —
    * B·|groups| rows — then |groups|. 100 TB cost = B extra map-side
    * aggregations, no row ever carries its text/payload through. */
  def poissonBootstrap(
      df: DataFrame,
      keyCol: Column,
      groupCol: Column,
      valCol: Column,
      b: Int = 32,
      scale: Double = 1e6): DataFrame = {
    val dec = DecimalType(38, 0)
    val rows = df.select(groupCol.as("g"), keyCol.as("key"),
      valCol.cast(LongType).as("x"))
    val base = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast(dec)).as("sx"))
      .select(col("g"), col("n"),
        ExactRound.ratioRound(col("sx"),
          col("n") * lit(scale.toLong), 6).as("mean"))
    val reps = rows
      .withColumn("r", explode(array((0 until b).map(lit): _*)))
      .withColumn("h", graft.functions.CrossHash.x32(
        concat_ws("#", lit("boot"), col("key"), col("r"))))
      .withColumn("w", PoissonThresholds.zipWithIndex.reverse
        .foldLeft(lit(PoissonThresholds.size.toLong)) {
          // reverse fold → the SMALLEST threshold ends up outermost
          case (acc, (t, k)) => when(col("h") < t, k.toLong).otherwise(acc)
        })
    val repMeans = reps.groupBy(col("g"), col("r"))
      .agg(sum(col("w")).as("sw"),
        sum((col("w") * col("x")).cast(dec)).as("swx"))
      .select(col("g"),
        when(col("sw") > 0,
          ExactRound.ratioRound(col("swx"),
            col("sw") * lit(scale.toLong), 6)).as("mr"))
    val boot = repMeans.groupBy(col("g"))
      .agg(count(col("mr")).as("n_reps"),
        sum(col("mr").cast(DecimalType(38, 6))).as("sm"),
        sum(round(col("mr") * col("mr"), 12).cast(DecimalType(38, 12)))
          .as("sm2"))
    val bd = dbl(col("n_reps"))
    val se = sqrt((dbl(col("sm2")) - dbl(col("sm")) * dbl(col("sm")) / bd) /
      (bd - 1))
    base.join(boot, "g")
      .select(col("g"), col("n"), col("mean"), col("n_reps"),
        when(col("n_reps") > 1, round(se, 6)).as("boot_se"),
        when(col("n_reps") > 1, round(col("mean") - lit(1.96) * se, 6))
          .as("ci_lo"),
        when(col("n_reps") > 1, round(col("mean") + lit(1.96) * se, 6))
          .as("ci_hi"))
  }
}
