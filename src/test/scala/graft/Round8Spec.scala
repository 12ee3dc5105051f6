package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ScalableRank

/** Round-8 additions: the ScalableRank ops must equal the plain
  * `row_number`/`ntile`/running-sum windows bit-for-bit
  * on arbitrary data, with hot keys and dense ties.
  */
class Round8Spec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val rnd = new Random(4242)

  /** 800 rows, one hot key (~70%), values drawn from a SMALL domain so
    * ties are dense, unique id tie-break. */
  private def randDf(): DataFrame = {
    val rows = Seq.tabulate(800) { i =>
      val k = if (rnd.nextInt(10) < 7) "hot" else "k" + rnd.nextInt(3)
      (k, rnd.nextInt(40).toLong, (rnd.nextInt(9000) + 1000).toLong, i.toLong)
    }
    rows.toDF("key", "v", "amt", "id")
  }

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.except(b).count() === 0)
    assert(b.except(a).count() === 0)
  }

  test("ScalableRank.withRowIndex equals global row_number at any partition count") {
    val df = randDf()
    val w = Window.partitionBy(col("key")).orderBy(col("v"), col("id"))
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("key"))))
    same(ScalableRank.withRowIndex(df, Seq("key"), Seq(col("v"), col("id")),
      "rn", "n"), want)
    // unpartitioned (global order) form, desc ordering
    val wg = Window.orderBy(col("amt").desc, col("id"))
    val wantG = df.withColumn("rn", row_number().over(wg).cast("long"))
      .withColumn("n", lit(df.count()))
    same(ScalableRank.withRowIndex(df, Seq.empty,
      Seq(col("amt").desc, col("id")), "rn", "n"), wantG)
  }

  test("ScalableRank.ntile equals global ntile for ragged bucket sizes") {
    val df = randDf()
    // 800 rows over buckets in {7, 10, 13} exercises n % b != 0; the
    // per-key form exercises groups smaller than the bucket count too
    for (b <- Seq(7, 10, 13)) {
      val wg = Window.orderBy(col("amt").desc, col("id"))
      val want = df.withColumn("t", ntile(b).over(wg))
      same(ScalableRank.ntile(df, Seq.empty,
        Seq(col("amt").desc, col("id")), b, "t"), want)
      val wk = Window.partitionBy(col("key")).orderBy(col("v"), col("id"))
      val wantK = df.withColumn("t", ntile(b).over(wk))
      same(ScalableRank.ntile(df, Seq("key"),
        Seq(col("v"), col("id")), b, "t"), wantK)
    }
    // n < buckets: every row its own bucket
    val tiny = Seq(("a", 1L, 10L, 1L), ("a", 2L, 20L, 2L), ("a", 3L, 5L, 3L))
      .toDF("key", "v", "amt", "id")
    val wantT = tiny.withColumn("t",
      ntile(10).over(Window.orderBy(col("v"), col("id"))))
    same(ScalableRank.ntile(tiny, Seq.empty,
      Seq(col("v"), col("id")), 10, "t"), wantT)
  }

  test("laggedScope equals the two-layer global form on sparse, gappy data") {
    import java.sql.Timestamp
    // 2 series x 9 days x 3-8 rows/day, ~15% non-positive closes (the
    // validity filter), including one day that is ENTIRELY invalid —
    // frames must count filtered rows across the resulting day gap
    val rows = for {
      k <- Seq("A", "B"); d <- 1 to 9; i <- 1 to (3 + (d * 7 + k.hashCode.abs) % 6)
    } yield {
      val bad = (d == 4 && k == "A") || (k.hashCode.abs + d * 31 + i * 13) % 7 == 0
      (k, Timestamp.valueOf(f"2024-02-0$d 00:$i%02d:00"),
        if (bad) 0.0 else 100.0 + ((d * 37 + i * 17) % 50))
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val k = 4
    // global two-layer reference: lag over the whole per-key history,
    // validity filter, then the k-frame over the FILTERED relation
    val wg = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val gRets = bars
      .withColumn("prev_c", lag(col("close"), 1).over(wg))
      .filter(col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0)
      .select(col("series"), col("bar_ts"),
        floor(log(col("close") / col("prev_c")) * lit(1e8) + lit(0.5))
          .cast("long").as("r8"))
    val gFrame = wg.rowsBetween(-(k - 1), 0)
    val want = gRets
      .withColumn("nk", count(lit(1)).over(gFrame))
      .withColumn("rk", sum(col("r8")).over(gFrame))
    val rets = graft.ops.ScalableWindow.laggedScope(bars, Seq("series"),
        Seq("bar_ts"), "close", "prev_c",
        col("prev_c").isNotNull && col("prev_c") > 0 && col("close") > 0)
      .select(col("series"), col("bar_ts"),
        floor(log(col("close") / col("prev_c")) * lit(1e8) + lit(0.5))
          .cast("long").as("r8"))
    val wk = Window.partitionBy(col("series"))
      .orderBy(col("bar_ts")).rowsBetween(-(k - 1), 0)
    val got = rets
      .withColumn("nk", count(lit(1)).over(wk))
      .withColumn("rk", sum(col("r8")).over(wk))
    same(got, want)
  }

  test("return helpers: barR8 skips a zero close, lag-then-guard drops it and the next bar, dayClose takes the latest bar") {
    import java.sql.Timestamp
    import graft.ops.MarketBars
    def ts(s: String) = Timestamp.valueOf(s)
    // A: a zero close mid-series, and day 2's last two bars listed out
    // of time order; B: a one-bar series
    val rows = Seq(
      ("A", ts("2024-03-04 10:00:00"), 100.0),
      ("A", ts("2024-03-04 10:05:00"), 0.0),
      ("A", ts("2024-03-04 10:10:00"), 102.0),
      ("A", ts("2024-03-04 10:15:00"), 101.0),
      ("A", ts("2024-03-05 10:05:00"), 104.5),
      ("A", ts("2024-03-05 10:00:00"), 103.0),
      ("B", ts("2024-03-04 10:00:00"), 50.0))
    val bars = rows.toDF("series", "bar_ts", "close")
      .withColumn("volume", lit(1.0))
    // driver-side reference: Spark's log is StrictMath.log
    def r8(c: Double, p: Double) =
      math.floor(StrictMath.log(c / p) * 1e8 + 0.5).toLong
    val bySeries = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(_._2.getTime) }

    // barR8: closes <= 0 drop first, each survivor chains to the
    // previous survivor, a one-bar series emits nothing
    val wantBar = bySeries.toSeq.flatMap { case (k, rs) =>
      val pos = rs.filter(_._3 > 0)
      pos.zip(pos.drop(1)).map { case (p, c) => (k, c._2, r8(c._3, p._3)) }
    }.toSet
    val gotBar = MarketBars.barR8(bars)
      .as[(String, Timestamp, Long)].collect().toSet
    assert(gotBar === wantBar)
    assert(gotBar.contains(("A", ts("2024-03-04 10:10:00"), r8(102.0, 100.0))))
    assert(gotBar.count(_._1 == "A") === 4)

    // lag over ALL bars, then both closes guarded: the zero-close bar
    // and the bar after it both go (volumeVolatility's chain)
    val wantGuarded = bySeries.map { case (k, rs) =>
      k -> rs.zip(rs.drop(1)).count { case (p, c) => p._3 > 0 && c._3 > 0 }.toLong
    }.filter(_._2 > 0)
    val gotGuarded = MarketBars.volumeVolatility(bars)
      .select(col("series"), col("n_rets")).as[(String, Long)].collect().toMap
    assert(gotGuarded === wantGuarded)
    assert(gotGuarded("A") === 3L)

    // dayClose: each day's latest bar by bar_ts, whatever the row order
    val wantClose = bySeries.toSeq.flatMap { case (k, rs) =>
      rs.groupBy(_._2.toLocalDateTime.toLocalDate.toString).map {
        case (d, day) => (k, d, day.maxBy(_._2.getTime)._3) }
    }.toSet
    val gotClose = MarketBars.dayClose(bars)
      .select(col("series"), col("d").cast("string"), col("close"))
      .as[(String, String, Double)].collect().toSet
    assert(gotClose === wantClose)
    assert(gotClose.contains(("A", "2024-03-05", 104.5)))
    assert(MarketBars.dailyR8(bars)
      .select(col("series"), col("d").cast("string"), col("r8"))
      .as[(String, String, Long)].collect().toSet ===
      Set(("A", "2024-03-05", r8(104.5, 101.0))))

    // a bar_ts tie: lastBy takes the larger value, firstBy the smaller
    val tie = Seq(("C", ts("2024-03-04 10:00:00"), 21.0),
        ("C", ts("2024-03-04 10:00:00"), 20.0))
      .toDF("series", "bar_ts", "close")
      .groupBy(col("series"))
      .agg(MarketBars.lastBy(col("bar_ts"), col("close")).as("l"),
        MarketBars.firstBy(col("bar_ts"), col("close")).as("f"))
      .select(col("l"), col("f")).as[(Double, Double)].collect()
    assert(tie.toSeq === Seq((21.0, 20.0)))
  }

  test("StatOps spectrum routing stays exact on a HIGH-cardinality value column") {
    import graft.ops.StatOps
    // ~1600 distinct x values over 2000 rows — the "continuous column
    // abused as discrete" shape the old Window.orderBy single-tasked;
    // compare against the plain global-window formulations
    val rows = Seq.tabulate(2000) { i =>
      (rnd.nextInt(1600).toLong + 100000L, (i % 7).toLong, rnd.nextBoolean())
    }
    val df = rows.toDF("x", "y", "ia")
    val got = StatOps.spearmanMidrank(df, col("x"), col("y"))
    // reference: midranks from a plain cumulative window
    val cells = df.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
    def mr(k: String, r: String) = {
      val wv = Window.orderBy(col(k))
      cells.groupBy(col(k)).agg(sum(col("c")).as("nv"))
        .withColumn("cum", sum(col("nv")).over(wv))
        .select(col(k), (lit(2) * (col("cum") - col("nv")) + col("nv") + 1).as(r))
    }
    val dec = DecimalType(38, 0)
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val vx = dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val vy = dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val want = cells.join(mr("x", "rx2"), "x").join(mr("y", "ry2"), "y")
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(dec) * col("rx2").cast(dec)).as("sx"),
        sum(col("c").cast(dec) * col("ry2").cast(dec)).as("sy"),
        sum(col("c").cast(dec) * col("rx2").cast(dec) * col("ry2").cast(dec)).as("sxy"),
        sum(col("c").cast(dec) * col("rx2").cast(dec) * col("rx2").cast(dec)).as("sxx"),
        sum(col("c").cast(dec) * col("ry2").cast(dec) * col("ry2").cast(dec)).as("syy"))
      .select(col("n"),
        when(vx > 0 && vy > 0,
          round((dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
            (sqrt(vx) * sqrt(vy)), 6)).as("rho"))
    same(got, want)
    // Mann–Whitney on the same high-cardinality spectrum
    val gotU = StatOps.mannWhitneyU(df, col("x"), col("ia"))
    val dist = df.select(col("x").as("v"), col("ia"))
      .groupBy(col("v"))
      .agg(sum(when(col("ia"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("ia"), 1L).otherwise(0L)).as("cb"))
    val t = col("ca") + col("cb")
    val aggU = dist
      .withColumn("belowb", sum(col("cb")).over(Window.orderBy(col("v"))) - col("cb"))
      .agg(sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
        sum(col("ca").cast(dec) * (lit(2) * col("belowb") + col("cb")).cast(dec)).as("u2"),
        sum(t.cast(dec) * t.cast(dec) * t.cast(dec) - t.cast(dec)).as("tie3"))
    val n1d = dbl(col("n1")); val n2d = dbl(col("n2")); val nd = n1d + n2d
    val u = dbl(col("u2")) / lit(2.0)
    val varU = n1d * n2d / lit(12.0) * ((nd + 1) - dbl(col("tie3")) / (nd * (nd - 1)))
    val wantU = aggU.select(col("n1"), col("n2"), round(u, 4).as("u_stat"),
        when(col("n1") > 0 && col("n2") > 0 && varU > 0,
          round((u - n1d * n2d / lit(2.0)) / sqrt(varU), 6)).as("z"))
      .withColumn("significant", when(col("z").isNotNull, abs(col("z")) > 1.959964))
    same(gotU, wantU)
  }

  test("ScalableRank.cumSum equals the global DECIMAL running sum") {
    val df = randDf().withColumn("d", col("amt").cast(DecimalType(28, 6)))
    val wg = Window.orderBy(col("amt").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum",
      sum(col("d")).over(wg).cast(DoubleType))
    same(ScalableRank.cumSum(df, Seq.empty, Seq(col("amt").desc, col("id")),
        col("d"), "cum")
      .withColumn("cum", col("cum").cast(DoubleType)), want)
    // per-key form
    val wk = Window.partitionBy(col("key")).orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wantK = df.withColumn("cum", sum(col("d")).over(wk).cast(DoubleType))
    same(ScalableRank.cumSum(df, Seq("key"), Seq(col("v"), col("id")),
        col("d"), "cum")
      .withColumn("cum", col("cum").cast(DoubleType)), wantK)
  }

  // ---- round-8 widening: inference + dedup additions -------------------

  test("kruskalWallis: textbook two-group fixture pins H exactly") {
    // A = {1,2,3}, B = {4,5,6}: ranks 1..6, R_A = 6, R_B = 15,
    // H = 12/(6·7)·(36/3 + 225/3) − 3·7 = 27/7 ≈ 3.857143, no ties
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"), (6L, "b")).toDF("v", "g")
    val r = graft.ops.StatOps.kruskalWallis(df, col("v"), col("g"))
      .collect()(0)
    assert(r.getLong(0) === 2L, "k")
    assert(r.getLong(1) === 6L, "n")
    assert(r.getDouble(2) === 3.857143, "h")
    assert(r.getDouble(3) === 3.857143, "h_adj (no ties)")
    assert(r.getBoolean(4) === true, "3.857 > 3.8415 at df=1")
  }

  test("cliffsDelta: full separation pins delta = -1, bands correct") {
    val df = Seq((1L, true), (2L, true), (3L, true),
      (4L, false), (5L, false), (6L, false)).toDF("v", "ia")
    val r = graft.ops.StatOps.cliffsDelta(df, col("v"), col("ia"))
      .collect()(0)
    assert(r.getLong(2) === 0L, "n_gt")
    assert(r.getLong(3) === 9L, "n_lt")
    assert(r.getDouble(4) === -1.0, "delta")
    assert(r.getString(5) === "large")
    // heavy ties → delta 0, negligible
    val tied = Seq((5L, true), (5L, true), (5L, false), (5L, false))
      .toDF("v", "ia")
    val r2 = graft.ops.StatOps.cliffsDelta(tied, col("v"), col("ia"))
      .collect()(0)
    assert(r2.getDouble(4) === 0.0)
    assert(r2.getString(5) === "negligible")
  }

  test("brownForsythe: hand-computed two-group F") {
    // g1 = {1,2,3} (med 2, |z| = 1,0,1), g2 = {1,5,9} (med 5,
    // |z| = 4,0,4): between = 6, within = 34/3,
    // F = 6 / ((34/3)/4) = 36/17 ≈ 2.117647
    val df = Seq((1L, "g1"), (2L, "g1"), (3L, "g1"),
      (1L, "g2"), (5L, "g2"), (9L, "g2")).toDF("v", "g")
    val r = graft.ops.StatOps.brownForsythe(df, col("v"), col("g"))
      .collect()(0)
    assert(r.getLong(0) === 2L, "k")
    assert(r.getLong(1) === 6L, "n")
    assert(r.getDouble(2) === 2.117647, "f_stat")
    assert(r.getBoolean(3) === false, "2.12 < 3.8415")
    // even group size: median interpolates between the two middles
    val even = Seq((1L, "g"), (2L, "g"), (4L, "g"), (8L, "g"))
      .toDF("v", "g")
    // median 3 → z = 2,1,1,5: within = 31 − 81/4 > 0, single group
    // k = 1 → nulls
    val r2 = graft.ops.StatOps.brownForsythe(even, col("v"), col("g"))
      .collect()(0)
    assert(r2.isNullAt(2) && r2.isNullAt(3), "k = 1 has no F")
  }

  test("neweyWest: constant drift has zero lrv, mean survives") {
    import java.sql.Timestamp
    val bars = Seq.tabulate(10) { i =>
      ("s", Timestamp.valueOf(f"2024-01-02 10:${i}%02d:00"), 1.0 + i)
    }.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.neweyWest(bars, maxLag = 3).collect()(0)
    assert(r.getLong(1) === 9L, "n_obs")
    assert(r.getDouble(2) === 1.0, "mean_chg")
    assert(r.isNullAt(3), "zero-variance chain has no t")
  }

  test("theilSen: median slope shrugs off the outlier day") {
    import java.sql.Timestamp
    val closes = Seq(1.0, 2.0, 3.0, 10.0)
    val bars = closes.zipWithIndex.map { case (c, i) =>
      ("s", Timestamp.valueOf(f"2024-01-${i + 2}%02d 10:00:00"), c)
    }.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.theilSen(bars).collect()(0)
    // slopes {1, 1, 3, 1, 4, 7} → median (1+3)/2 = 2; OLS gives 2.7
    assert(r.getLong(1) === 6L, "n_pairs")
    assert(r.getDouble(2) === 2.0, "theil_sen")
  }

  test("containmentPairs: a contained quote scores 1.0 where Jaccard misses") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val big = base + " " + (100 to 160).map(i => s"pad$i").mkString(" ")
    val docs = Seq((1L, base), (2L, big), (3L, "x y z q w e r t"))
      .toDF("doc_id", "text")
    val out = graft.ops.DedupOps
      .containmentPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect()
    val hit = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(hit.isDefined, "doc 1 contained in doc 2")
    assert(hit.get.getDouble(4) === 1.0, "full containment")
    // the reverse direction dilutes below threshold
    assert(!out.exists(r => r.getLong(0) == 2L && r.getLong(1) == 1L))
    // symmetric Jaccard misses the same pair at the same threshold
    val jac = graft.ops.DedupOps
      .ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("winnowingOverlap: shared run guarantee and identical-doc saturation") {
    val run = (1 to 9).map(i => s"shared$i").mkString(" ")
    val a = "alpha beta gamma " + run + " delta epsilon zeta eta theta"
    val b = "one two three four " + run + " five six seven eight nine"
    val docs = Seq((1L, a), (2L, b), (3L, a), (4L, "lone wolf text only"))
      .toDF("doc_id", "text")
    val out = graft.ops.DedupOps
      .winnowingOverlap(docs, "text", "doc_id",
        n = 3, window = 4, minShared = 1)
      .collect()
    // SWA guarantee: a shared window+n−1 = 6-token run forces ≥ 1
    // shared fingerprint; 9 shared tokens = 4 shared windows
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "shared run detected")
    val twin = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 3L).get
    assert(twin.getDouble(5) === 1.0, "identical docs saturate")
    assert(!out.exists(r => r.getLong(0) == 4L || r.getLong(1) == 4L),
      "no false pair on the disjoint doc")
  }

  test("scriptAudit: mojibake fixture counts every class") {
    val docs = Seq(
      ("clean ascii text", "s1"),
      ("café naïve �� broken", "s1"),
      ("ctrlchar", "s2")).toDF("text", "source")
    val out = graft.ops.TextOps.scriptAudit(docs).orderBy(col("source"))
      .collect()
    val s1 = out(0)
    assert(s1.getLong(1) === 2L, "n_docs")
    assert(s1.getLong(2) === 1L, "one doc has non-ASCII")
    assert(s1.getLong(3) === 2L, "two replacement chars")
    assert(s1.getLong(4) === 0L, "no control chars in s1")
    // 4 non-ASCII chars over 22 chars → floor(4/22·1e6+.5)/1e6
    assert(s1.getDouble(5) === 0.5, "half the docs flagged")
    val s2 = out(1)
    assert(s2.getLong(4) === 1L, "control char counted")
  }

  test("mannKendall: monotone rise pins S and z; constant series is flat") {
    val rows = (1 to 10).flatMap { i =>
      Seq(("m", f"2024-01-$i%02d 12:00:00", 100.0 + i),
        ("f", f"2024-01-$i%02d 12:00:00", 50.0))
    }
    val bars = rows.toDF("series", "ts", "close")
      .select(col("series"), to_timestamp(col("ts")).as("bar_ts"),
        col("close"))
    val out = graft.ops.MarketBars.mannKendall(bars)
      .orderBy(col("series")).collect()
    val flat = out(0) // "f"
    assert(flat.getAs[Long]("s") === 0L)
    assert(flat.isNullAt(flat.fieldIndex("z_mk")), "all-tied variance is 0")
    assert(flat.getAs[String]("trend") === "flat")
    val mono = out(1) // "m": S = 45, Var = 10*9*25/18 = 125
    assert(mono.getAs[Long]("s") === 45L)
    assert(mono.getAs[Long]("n_pairs") === 45L)
    val z = mono.getAs[Double]("z_mk")
    assert(math.abs(z - 44.0 / math.sqrt(125.0)) < 1e-6)
    assert(mono.getAs[String]("trend") === "up")
  }

  test("tsrv: pure bid-ask bounce cancels to zero two-scale variance") {
    // alternating 100/110 is ALL noise: 1-bar and 5-bar (odd-lag)
    // returns are both ±ln(1.1), so the two scales cancel exactly —
    // the estimator's defining property
    val bars = (0 until 16).map { i =>
      ("b", f"2024-02-01 09:${i}%02d:00", if (i % 2 == 0) 100.0 else 110.0)
    }.toDF("series", "ts", "close")
      .select(col("series"), to_timestamp(col("ts")).as("bar_ts"),
        col("close"))
    val r = graft.ops.MarketBars.tsrv(bars).collect().head
    assert(r.getAs[Long]("n_rets") === 15L)
    assert(r.getAs[Double]("rv") > 0)
    assert(math.abs(r.getAs[Double]("tsrv_raw")) < 1e-6)
    assert(r.getAs[Double]("tsrv_vol") === 0.0)
  }

  test("ar1MeanReversion: exact halving path pins rho = 0.5, half-life 1 day") {
    val bars = Seq(64.0, 32.0, 16.0, 8.0, 4.0, 2.0).zipWithIndex.map {
      case (c, i) => ("h", f"2024-04-${i + 1}%02d 12:00:00", c)
    }.toDF("series", "ts", "close")
      .select(col("series"), to_timestamp(col("ts")).as("bar_ts"),
        col("close"))
    val r = graft.ops.MarketBars.ar1MeanReversion(bars).collect().head
    assert(r.getAs[Long]("n_days") === 5L)
    assert(r.getAs[Double]("rho") === 0.5)
    assert(math.abs(r.getAs[Double]("kappa") - math.log(2.0)) < 1e-6)
    assert(r.getAs[Double]("half_life_days") === 1.0)
    assert(r.getAs[Boolean]("mean_reverting"))
  }

  test("fdViolations: violated and holding candidates both report exactly") {
    val df = Seq((1, "a", "x"), (1, "a", "y"), (2, "b", "z"), (2, "b", "z"))
      .toDF("k", "stable", "vary")
    val out = graft.ops.WarehouseOps.fdViolations(Seq(
        ("k_to_vary", df, "k", "vary"),
        ("k_to_stable", df, "k", "stable")))
      .orderBy(col("fd")).collect()
    val hold = out(0) // k_to_stable
    assert(hold.getAs[Long]("n_violating") === 0L)
    assert(hold.getAs[Boolean]("holds"))
    val viol = out(1) // k_to_vary: key 1 -> {x, y}
    assert(viol.getAs[Long]("n_keys") === 2L)
    assert(viol.getAs[Long]("n_violating") === 1L)
    assert(viol.getAs[Double]("violation_rate") === 0.5)
    assert(viol.getAs[Long]("max_fanout") === 2L)
    assert(!viol.getAs[Boolean]("holds"))
  }

  test("daviesBouldin: two separated line clusters compute by hand") {
    val emb = Seq(
      (1L, 0, Seq(0.0f, 0.0f)), (2L, 0, Seq(2.0f, 0.0f)),
      (3L, 1, Seq(10.0f, 0.0f)), (4L, 1, Seq(12.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = graft.ops.CorpusOps.daviesBouldin(emb)
      .orderBy(col("label")).collect()
    // centroids (1,0) and (11,0): S_k = 1 each, d = 10, R = 0.2
    out.foreach { r =>
      assert(r.getAs[Double]("s_intra") === 1.0)
      assert(r.getAs[Double]("db_k") === 0.2)
      assert(r.getAs[Double]("db_index") === 0.2)
    }
  }

  test("participationRatio: rank-1 pins PR = 1, isotropic pins PR = d") {
    val rank1 = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(3.0f, 0.0f))).toDF("vec_id", "embedding")
    val r1 = graft.ops.SimilarityOps.participationRatio(rank1)
      .collect().head
    assert(r1.getAs[Double]("pr") === 1.0)
    assert(r1.getAs[Double]("pr_share") === 0.5)
    val iso = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val r2 = graft.ops.SimilarityOps.participationRatio(iso)
      .collect().head
    assert(r2.getAs[Double]("pr") === 2.0)
    assert(r2.getAs[Double]("pr_share") === 1.0)
  }

  test("rankIc: persistent cross-sectional ranking pins IC = 1 every day") {
    // constant per-series growth rates → today's ranking equals
    // tomorrow's on every day → Spearman IC = 1, hit rate 1, sd 0
    val rows = for {
      (s, g) <- Seq(("a", 1.2), ("b", 1.1), ("c", 0.9))
      i <- 1 to 6
    } yield (s, f"2024-03-$i%02d 12:00:00", 100.0 * math.pow(g, i))
    val bars = rows.toDF("series", "ts", "close")
      .select(col("series"), to_timestamp(col("ts")).as("bar_ts"),
        col("close"))
    val r = graft.ops.MarketBars.rankIc(bars).collect().head
    assert(r.getAs[Long]("t_days") === 4L)
    assert(r.getAs[Double]("mean_ic") === 1.0)
    assert(r.getAs[Double]("hit_rate") === 1.0)
    assert(r.isNullAt(r.fieldIndex("sd_ic")), "zero variance panel")
  }

  test("friedman: perfectly consistent treatment ordering gives W = 1") {
    // 3 complete blocks, t1 < t2 < t3 in every block → R = (3, 6, 9),
    // χ² = 12/(3·3·4)·126 − 3·3·4 = 6, W = 6/(3·2) = 1; block b4 is
    // missing t3 and must drop (incomplete)
    val rows = Seq(
      ("b1", "t1", 1.0), ("b1", "t2", 2.0), ("b1", "t3", 3.0),
      ("b2", "t1", 0.5), ("b2", "t2", 1.5), ("b2", "t3", 2.5),
      ("b3", "t1", 2.0), ("b3", "t2", 4.0), ("b3", "t3", 9.0),
      ("b4", "t1", 7.0), ("b4", "t2", 8.0))
    val df = rows.toDF("b", "t", "x")
    val r = graft.ops.StatOps.friedman(df, col("b"), col("t"), col("x"))
      .collect().head
    assert(r.getAs[Long]("n_blocks") === 3L)
    assert(r.getAs[Long]("k") === 3L)
    assert(r.getAs[Double]("chi2") === 6.0)
    assert(r.getAs[Double]("kendalls_w") === 1.0)
    assert(r.getAs[Boolean]("reject_no_effect")) // 6 > 5.9915
  }

  test("nelsonAalen: hand-computed hazard, variance, and FH survival") {
    // spells: event@1, event@2, censored@2 → at_risk(1)=3, at_risk(2)=2
    // H(1)=1/3, H(2)=1/3+1/2; var(2)=1/9+1/4; S_FH(2)=exp(−5/6)
    val durs = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 2L, 0L))
      .toDF("grp", "dur", "event")
    val r = graft.ops.StatOps.nelsonAalen(durs, "grp", Seq(1, 2))
      .orderBy(col("horizon")).collect()
    assert(r(0).getAs[Double]("chaz") === 0.333333)
    assert(r(1).getAs[Double]("chaz") === 0.833333)
    assert(r(1).getAs[Double]("se_chaz") === 0.600925)
    assert(r(1).getAs[Double]("na_surv") === 0.434598)
    assert(r(1).getAs[Long]("n_events") === 2L)
  }

  test("poissonBootstrap: partitioning-invariant, exact point mean") {
    val df = Seq.tabulate(300) { i =>
      (i.toLong, if (i % 2 == 0) "even" else "odd", (i * 1000000).toLong)
    }.toDF("id", "g", "x6")
    def run(parts: Int) =
      graft.ops.StatOps.poissonBootstrap(df.repartition(parts),
          col("id"), col("g"), col("x6"))
        .orderBy(col("g")).collect().toSeq
    val a = run(1)
    assert(a === run(7), "weights derive from keys, not partitioning")
    val even = a.head
    assert(even.getAs[Double]("mean") === 149.0) // mean of 0,2,…,298
    assert(even.getAs[Long]("n_reps") === 32L)
    assert(even.getAs[Double]("boot_se") > 0)
    assert(even.getAs[Double]("ci_lo") < 149.0 &&
      even.getAs[Double]("ci_hi") > 149.0)
  }

  test("burrowsDelta: identical usage profiles give delta 0") {
    // s1 and s2 share the exact relative-frequency profile; s3 skews
    // toward 'b' → Δ(s1,s2) = 0 < Δ(s1,s3)
    val docs = Seq(
      ("s1", 1L, "a a a b c"), ("s2", 2L, "a a a b c a a a b c"),
      ("s3", 3L, "b b b b a c"))
      .toDF("source", "doc_id", "text")
    val r = graft.ops.CorpusOps.burrowsDelta(docs, topK = 3)
      .orderBy(col("source_a"), col("source_b")).collect()
    val d12 = r.find(x => x.getString(0) == "s1" && x.getString(1) == "s2").get
    val d13 = r.find(x => x.getString(0) == "s1" && x.getString(1) == "s3").get
    assert(d12.getAs[Long]("n_terms") === 3L)
    assert(d12.getAs[Double]("delta") === 0.0)
    assert(d13.getAs[Double]("delta") > 1.0)
  }

  test("yulesK: spectrum identity on a hand-computed source") {
    // "a a a b": N=4, Σtf²=10 → K = 1e4·(10−4)/16 = 3750;
    // Simpson = Σtf(tf−1)/(N(N−1)) = 6/12 = 0.5
    val docs = Seq(("s", 1L, "a a a b")).toDF("source", "doc_id", "text")
    val r = graft.ops.CorpusOps.yulesK(docs).collect().head
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("v_types") === 2L)
    assert(r.getAs[Double]("yules_k") === 3750.0)
    assert(r.getAs[Double]("simpson_d") === 0.5)
  }

  test("ols2: exact plane recovers coefficients, R2 = 1") {
    // y = 2 + 3·x1 + 5·x2 with zero noise → exact fit, null t's
    // (sig2 = 0 fence)
    val pts = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 5L),
      (6L, 8L))
    val df = pts.map { case (x1, x2) => ("g", 2 + 3 * x1 + 5 * x2, x1, x2) }
      .toDF("g", "y", "x1", "x2")
    val r = graft.ops.StatOps.ols2(df, col("g"), col("y"), col("x1"),
      col("x2")).collect().head
    assert(r.getAs[Double]("b0") === 2.0)
    assert(r.getAs[Double]("b1") === 3.0)
    assert(r.getAs[Double]("b2") === 5.0)
    assert(r.getAs[Double]("r2") === 1.0)
    // rss collapses to ~0 (double roundoff keeps it epsilon-positive):
    // the t-stat is either fenced to null or astronomically large
    assert(r.isNullAt(r.fieldIndex("t1")) ||
      math.abs(r.getAs[Double]("t1")) > 1e3)
  }

  test("markovStationary: alternating two-state chain settles at 1/2") {
    // every A→B and B→A: P is the period-2 permutation; the uniform
    // start IS stationary, so every step reproduces it exactly
    val rows = Seq.tabulate(40) { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 1, 1, 0, i / 60, i % 60)),
        1L, if (i % 2 == 0) "A" else "B", 1.0)
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.ops.EventAnalytics.markovStationary(ev)
      .orderBy(col("state")).collect()
    assert(r.map(_.getAs[Double]("pi")).toSeq === Seq(0.5, 0.5))
    assert(r.head.getAs[Double]("l1_delta") === 0.0)
  }

  test("wilsonRates: degenerate and balanced rates stay inside (0,1)") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "a", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "a", 10.0),
      (3L, "2024-01-01 10:02:00", 2L, "b", 10.0),
      (4L, "2024-01-01 10:03:00", 2L, "b", 10.0))
      .map { case (id, ts, u, t, v) =>
        (id, java.sql.Timestamp.valueOf(ts), u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.ops.EventAnalytics.wilsonRates(ev)
      .orderBy(col("event_type")).collect()
    val a = r(0); val b = r(1)
    assert(a.getAs[Double]("p_hat") === 0.5) // mean 7.5, one hit of 2
    assert(b.getAs[Double]("p_hat") === 1.0)
    assert(a.getAs[Double]("ci_lo") > 0.0 && a.getAs[Double]("ci_hi") < 1.0)
    // at p̂ = 1 Wilson's UPPER bound is exactly 1; the lower shrinks
    assert(b.getAs[Double]("ci_hi") === 1.0)
    assert(b.getAs[Double]("ci_lo") < 1.0, "Wilson shrinks the floor")
    assert(a.getAs[Double]("p_pool") === 0.75)
  }

  test("cornishFisher: symmetric returns zero the skew adjustment") {
    // alternating closes → r8 = ±c exactly: skew 0, z⁴ ≡ 1 → xk = −2;
    // the CF 95% quantile then differs from Gaussian only via kurtosis
    val rows = Seq.tabulate(41) { i =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, i, 0)),
        if (i % 2 == 0) 100.0 else 110.0)
    }
    val bars = rows.toDF("series", "ts", "close")
      .select(col("series"), col("ts").as("bar_ts"), col("close"))
    val r = graft.ops.MarketBars.cornishFisher(bars).collect().head
    assert(r.getAs[Long]("n_rets") === 40L)
    assert(r.getAs[Double]("skew") === 0.0)
    assert(r.getAs[Double]("ex_kurt") === -2.0)
    assert(r.getAs[Double]("var99_gauss") > r.getAs[Double]("var95_gauss"))
    // platykurtic tail: CF pulls the 99% quantile IN vs Gaussian
    assert(r.getAs[Double]("var99_cf") < r.getAs[Double]("var99_gauss"))
  }

  test("hubness: one-bucket IVF graph keeps k edges per query") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.995f, 0.0999f)),
      (2L, Array(0.98f, 0.198f)), (3L, Array(0.955f, 0.2955f)),
      (4L, Array(0.921f, 0.389f)), (5L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val r = graft.ops.SimilarityOps.hubness(vecs, "vec_id", "embedding",
      k = 2, centroidEvery = 50, nprobe = 2).collect().head
    assert(r.getAs[Long]("n_vecs") === 6L)
    assert(r.getAs[Long]("n_edges") === 12L) // every query fills k = 2
    assert(r.getAs[Double]("mean_indeg") === 2.0)
    assert(r.getAs[Long]("max_indeg") >= 3L, "angle fan concentrates")
    assert(r.getAs[Long]("n_antihubs") >= 1L, "the orthogonal outlier")
  }

  test("pacf: perfectly alternating changes pin r1 = -1, fence pacf2") {
    // d6 alternates ±c exactly → lag-1 correlation −1 → the DL
    // denominator 1 − r1² is 0 and deeper lags must null out
    val rows = Seq.tabulate(60) { i =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0, i)),
        if (i % 2 == 0) 100.0 else 110.0)
    }
    val bars = rows.toDF("series", "ts", "close")
      .select(col("series"), col("ts").as("bar_ts"), col("close"))
    val r = graft.ops.MarketBars.pacf(bars).collect().head
    assert(r.getAs[Double]("r1") === -1.0)
    assert(r.getAs[Double]("pacf1") === -1.0)
    assert(r.isNullAt(r.fieldIndex("pacf2")), "singular DL step fenced")
  }

  test("yangZhang: flat OHLC days give zero vol and the closed-form k") {
    // 3 identical all-flat days → every log term 0 → all vols 0;
    // n = 2 spells → k = 0.34/(1.34 + 3/1)
    val rows = (1 to 3).map { day =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, day, 10, 0, 0)),
        100.0, 100.0, 100.0, 100.0)
    }
    val bars = rows.toDF("series", "bar_ts", "open", "high", "low", "close")
    val r = graft.ops.MarketBars.yangZhang(bars).collect().head
    assert(r.getAs[Long]("n_days") === 2L)
    assert(r.getAs[Double]("park_vol") === 0.0)
    assert(r.getAs[Double]("rs_vol") === 0.0)
    assert(r.getAs[Double]("yz_vol") === 0.0)
    assert(r.getAs[Double]("yz_k") === 0.078341) // 0.34/4.34
  }

  test("twoNN: duplicates drop, hand-computed Pareto MLE") {
    // q0/q1 are exact duplicates (c1 = 1 → undefined ratio, dropped);
    // q2: c1 = .8, c2 = 0; q3: c1 = .8, c2 = .6
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val r = graft.ops.SimilarityOps.twoNN(vecs, "vec_id", "embedding",
      centroidEvery = 50, nprobe = 2).collect().head
    assert(r.getAs[Long]("n_vecs") === 4L)
    assert(r.getAs[Long]("n_used") === 2L)
    def r12(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    val s = r12(0.5 * math.log((1.0 - 0.0) / (1.0 - 0.8))) +
      r12(0.5 * math.log((1.0 - 0.6) / (1.0 - 0.8)))
    val want = java.math.BigDecimal.valueOf(2.0 / s)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(r.getAs[Double]("id_mle") === want)
  }

  test("pettitt: clean level shift locates the split day exactly") {
    // closes 1,1,1 then 10,10,10 → U = (−3,−6,−9,−6,−3), K = 9 at
    // day 3, p = 2·exp(−486/252)
    val rows = (1 to 6).map { day =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, day, 10, 0, 0)),
        if (day <= 3) 1.0 else 10.0)
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.pettitt(bars).collect().head
    assert(r.getAs[Long]("n_days") === 6L)
    assert(r.getAs[Long]("k_stat") === 9L)
    assert(r.getAs[java.sql.Date]("change_date").toString === "2024-01-03")
    val p = 2.0 * math.exp(-6.0 * 81.0 / (216.0 + 36.0))
    val want = java.math.BigDecimal.valueOf(p)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(r.getAs[Double]("p_approx") === want)
    assert(!r.getAs[Boolean]("significant"))
  }

  test("granger: a one-bar lead is detected in the right DIRECTION") {
    // y replays x's closes one bar later (plus an independent wiggle)
    // → x's lagged return explains y (huge F), y's does not explain x
    def xc(i: Int): Double = 100.0 + (i * 7) % 13
    def yc(i: Int): Double = xc(i - 1) + ((i * 3) % 5) * 0.01
    val rows = (1 to 60).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, i / 60, i % 60))
      Seq(("x", ts, xc(i)), ("y", ts, yc(i)))
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.granger(bars)
      .orderBy(col("cause"), col("effect")).collect()
    val xy = r.find(q => q.getString(0) == "x" && q.getString(1) == "y").get
    val yx = r.find(q => q.getString(0) == "y" && q.getString(1) == "x").get
    assert(xy.getAs[Boolean]("granger_causes"))
    assert(xy.getAs[Double]("f_stat") > 10 * yx.getAs[Double]("f_stat"))
  }

  test("dfa: a pure trend detrends to zero, a zigzag has no scaling") {
    // geometric growth → constant r8 → the profile is exactly linear
    // in every window → all F(s) = 0, alpha null; alternating ±c →
    // bounded profile → F flat across scales → alpha ≈ 0
    val rows = (0 to 96).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0, i % 60)
          .plusMinutes(i / 60))
      Seq(("trend", ts, 100.0 * math.pow(1.01, i)),
        ("zigzag", ts, if (i % 2 == 0) 100.0 else 105.0))
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.dfa(bars)
      .orderBy(col("series")).collect()
    val tr = r.find(_.getString(0) == "trend").get
    val zz = r.find(_.getString(0) == "zigzag").get
    // the trend residual is pure double roundoff (y² sums pass 2^53);
    // ~1e0 against the zigzag's ~1e6 amplitude — 6+ orders apart
    assert(tr.getAs[Double]("f8") < 1.0)
    assert(tr.getAs[Double]("f32") < 1.0)
    assert(zz.getAs[Double]("f8") > 1e5)
    assert(math.abs(zz.getAs[Double]("dfa_alpha")) < 0.2,
      "bounded profile has no scaling")
  }

  test("returnMi: identical series saturate NMI, unrelated stay low") {
    def c1(i: Int): Double = 100.0 + (i * 7) % 13
    def c2(i: Int): Double = 100.0 + (i * 11) % 17
    val rows = (0 to 100).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, i / 60, i % 60))
      Seq(("same1", ts, c1(i)), ("same2", ts, c1(i)), ("ind", ts, c2(i)))
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.returnMi(bars).collect()
    val twin = r.find(x => x.getString(0) == "same1" &&
      x.getString(1) == "same2").get
    val ind = r.find(x => x.getString(0) == "ind").get
    assert(twin.getAs[Long]("n") === 100L)
    assert(twin.getAs[Double]("mi") === 1.609438) // ln 5: 5 diag cells
    assert(twin.getAs[Double]("nmi") === 1.0)
    assert(ind.getAs[Double]("nmi") < 0.3, "unrelated binning")
  }

  test("mattr: periodic text pins the window distinct share exactly") {
    // 60 tokens alternating a/b: every 50-window holds 2 types →
    // mattr = 2/50 while raw TTR = 2/60 (the length bias on display);
    // an 8-token doc is shorter than the window → null mattr
    val long = (0 until 60).map(i => if (i % 2 == 0) "a" else "b")
      .mkString(" ")
    val docs = Seq((1L, long), (2L, "x y x y x y x y"))
      .toDF("doc_id", "text")
    val r = graft.ops.CorpusOps.mattr(docs).orderBy(col("doc_id"))
      .collect()
    assert(r(0).getAs[Double]("mattr") === 0.04)
    assert(r(0).getAs[Double]("ttr") === 0.033333)
    assert(r(1).isNullAt(r(1).fieldIndex("mattr")), "shorter than window")
    assert(r(1).getAs[Double]("ttr") === 0.25)
  }

  test("lshRecall: identical docs land in band 9 with full recall") {
    val base = (1 to 40).map(i => s"tok${i % 20}").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), // exact near-dups, jaccard 1.0
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")),
      (4L, (1 to 40).map(i => s"more$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = graft.ops.DedupOps.lshRecall(docs, "text", "doc_id")
      .collect()
    val top = r.find(_.getAs[Int]("band") == 9).get
    assert(top.getAs[Long]("n_true") >= 1L)
    assert(top.getAs[Double]("recall") === 1.0)
    assert(top.getAs[Double]("theory") > 0.999)
  }

  test("lilliefors: a two-point return distribution rejects normal") {
    // daily closes alternate 100/110 → returns ±c exactly: the
    // empirical CDF is a two-step function, D ≈ 0.5 − Φ(−1) ≈ 0.34,
    // far past the 0.886/√40 ≈ 0.14 fence
    val rows = (1 to 41).map { day =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0, 0)
          .plusDays(day - 1)),
        if (day % 2 == 0) 110.0 else 100.0)
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.lilliefors(bars).collect().head
    assert(r.getAs[Long]("n_days") === 40L)
    assert(r.getAs[Double]("d_stat") > 0.3 &&
      r.getAs[Double]("d_stat") < 0.4)
    assert(r.getAs[Boolean]("reject_normal"))
  }

  test("sourceJsd: identical profiles pin 0, disjoint vocab pins ln 2") {
    val docs = Seq(
      ("s1", 1L, "a a b"), ("s2", 2L, "a a b a a b"),
      ("s3", 3L, "c c c d"))
      .toDF("source", "doc_id", "text")
    val r = graft.ops.CorpusOps.sourceJsd(docs)
      .orderBy(col("source_a"), col("source_b")).collect()
    val twin = r.find(x => x.getString(0) == "s1" &&
      x.getString(1) == "s2").get
    val disj = r.find(x => x.getString(0) == "s1" &&
      x.getString(1) == "s3").get
    assert(twin.getAs[Long]("n_shared_terms") === 2L)
    assert(twin.getAs[Double]("jsd") === 0.0)
    assert(disj.getAs[Long]("n_shared_terms") === 0L)
    assert(disj.getAs[Double]("jsd") === 0.693147) // ln 2
    assert(disj.getAs[Double]("jsd_norm") === 1.0)
  }

  test("fracDiff: a constant price FD-transforms to a constant") {
    val rows = (0 until 30).map { i =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0, i)), 100.0)
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.fracDiff(bars).collect().head
    assert(r.getAs[Long]("n_obs") === 10L) // 30 bars − 20 warm-up
    val p8 = math.floor(math.log(100.0) * 1e8 + 0.5)
    val conv = graft.ops.MarketBars.fracDiffWeights(0.4, 20)
      .map(_ * p8).reduceLeft(_ + _) / 1e8
    val want = java.math.BigDecimal.valueOf(conv)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(r.getAs[Double]("fd_mean") === want)
    assert(r.getAs[Double]("fd_sd") < 1e-4)
    assert(r.isNullAt(r.fieldIndex("fd_acf1")), "zero variance fenced")
  }

  test("inclanTiao: a variance regime break is located and rejected") {
    // tiny ±0.1 wiggles for 21 days, then ±10 swings: r8² jumps 4
    // orders of magnitude → the squared-return bridge peaks at the
    // transition and the 1.358 fence rejects
    val rows = (1 to 41).map { day =>
      val c =
        if (day <= 21) { if (day % 2 == 0) 100.1 else 100.0 }
        else { if (day % 2 == 0) 110.0 else 100.0 }
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0, 0)
          .plusDays(day - 1)), c)
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.inclanTiao(bars).collect().head
    assert(r.getAs[Long]("n_days") === 40L)
    assert(r.getAs[Boolean]("reject_const_var"))
    assert(r.getAs[java.sql.Date]("break_date").toString
      .startsWith("2024-01-2"), "break at the regime transition")
  }

  test("sampleEntropy: a perfectly periodic series has SampEn 0") {
    // period-2 returns: every m-template extends identically →
    // A = B → −ln 1 = 0 (total regularity)
    val rows = (1 to 43).map { day =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0, 0)
          .plusDays(day - 1)),
        if (day % 2 == 0) 110.0 else 100.0)
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.sampleEntropy(bars).collect().head
    assert(r.getAs[Long]("n_b") > 0)
    assert(r.getAs[Long]("n_a") === r.getAs[Long]("n_b"))
    assert(r.getAs[Double]("sampen") === 0.0)
  }

  test("permEntropy: monotone pins 0, alternation pins ln2/ln6") {
    val rows = (0 until 40).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0, i))
      Seq(("up", ts, 100.0 + i),
        ("zig", ts, if (i % 2 == 0) 100.0 else 110.0))
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.permEntropy(bars)
      .orderBy(col("series")).collect()
    val up = r.find(_.getString(0) == "up").get
    val zig = r.find(_.getString(0) == "zig").get
    assert(up.getAs[Long]("n_patterns") === 1L)
    assert(up.getAs[Double]("pe_norm") === 0.0)
    assert(zig.getAs[Long]("n_patterns") === 2L)
    assert(zig.getAs[Double]("h") === 0.693147) // ln 2: 19/19 split
    assert(zig.getAs[Double]("pe_norm") === 0.386853)
  }

  test("signFlipTest: a constant 99-point gap is significant") {
    val rows = (1 to 20).flatMap { day =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, day, 12, 0, 0))
      Seq((day * 2L, ts, 1L, "click", 100.0),
        (day * 2L + 1, ts, 2L, "view", 1.0))
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.ops.EventAnalytics.signFlipTest(ev, "click", "view")
      .collect().head
    assert(r.getAs[Long]("n_days") === 20L)
    assert(r.getAs[Double]("mean_diff") === 99.0)
    assert(r.getAs[Long]("n_reps") === 64L)
    assert(r.getAs[Double]("p_value") <= 0.05,
      "only an all-equal-signs replica can tie the observed sum")
  }

  test("gumbelBlockMaxima: constant block maxima collapse beta to 0") {
    // every |r8| equals ln(1.1)·1e8 → every daily max identical →
    // sd 0 → beta 0, mu = the constant, return level = mu
    val rows = (0 until 90).map { i =>
      ("s", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1 + i / 30, 10, 0, i % 30)),
        if (i % 2 == 0) 100.0 else 110.0)
    }
    val bars = rows.toDF("series", "bar_ts", "close")
    val r = graft.ops.MarketBars.gumbelBlockMaxima(bars).collect().head
    assert(r.getAs[Long]("n_blocks") === 3L)
    assert(r.getAs[Double]("gum_beta") === 0.0)
    val c = math.floor(math.log(1.1) * 1e8 + 0.5) / 1e8
    val want = java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(r.getAs[Double]("gum_mu") === want)
    assert(r.getAs[Double]("rl_100") === want)
  }

  test("calinskiHarabasz: two tight separated clusters, CH = 50") {
    // centroids (0,1) / (10,1), global (5,1); WSS = 2 per label,
    // BSS = 2·25 per label → CH = (100/1)/(4/2) = 50
    val emb = Seq(
      (1L, 0, Array(0f, 0f)), (2L, 0, Array(0f, 2f)),
      (3L, 1, Array(10f, 0f)), (4L, 1, Array(10f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val r = graft.ops.CorpusOps.calinskiHarabasz(emb)
      .orderBy(col("label")).collect()
    assert(r.map(_.getAs[Double]("wss_k")).toSeq === Seq(2.0, 2.0))
    assert(r.map(_.getAs[Double]("bss_k")).toSeq === Seq(50.0, 50.0))
    assert(r.head.getAs[Double]("ch_index") === 50.0)
    assert(r.head.getAs[Long]("n") === 4L)
  }
}
