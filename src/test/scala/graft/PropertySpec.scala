package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CrossHash, Hash32Array, MinHashSig, SimHash32, SimHash64}
import graft.ops.{AsOfJoin, DedupOps, GraphOps, MarketBars}

/** Property-style tests over seeded random data: the codegen kernels
  * must equal their declarative (oracle-shaped) formulations on
  * arbitrary input, and the engine's algebraic invariants must hold
  * beyond the fixture data. (Plain seeded generation — the
  * scalatest/scalacheck bridge isn't available offline.)
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val rnd = new Random(42)

  private def randText(): String = {
    val n = rnd.nextInt(41)
    Seq.fill(n)(("" + ('a' + rnd.nextInt(26)).toChar) + ('a' + rnd.nextInt(26)).toChar).mkString(" ")
  }

  private def randHs(maxLen: Int): Seq[Long] =
    Seq.fill(1 + rnd.nextInt(maxLen))(rnd.nextLong() & 0xffffffffL)

  test("hash32_array equals the declarative conv(substr(md5)) form") {
    Hash32Array.register(spark)
    val docs = Seq.fill(200)(randText())
    val df = docs.toDF("text")
      .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
    val both = df.select(
      Hash32Array.hash(col("toks")).as("kernel"),
      transform(col("toks"),
        t => conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)).as("decl"))
    assert(both.filter(col("kernel") =!= col("decl")).count() === 0)
  }

  test("minhash_sig equals the declarative transform/array_min form") {
    MinHashSig.register(spark, DedupOps.A, DedupOps.B, CrossHash.P)
    val rows = Seq.fill(150)(randHs(60))
    val df = rows.toDF("hs")
    val decl = transform(sequence(lit(0), lit(DedupOps.K - 1)),
      i => array_min(transform(col("hs"),
        x => (element_at(typedlit(DedupOps.A), i + 1) * x +
          element_at(typedlit(DedupOps.B), i + 1)) % CrossHash.P)))
    val both = df.select(MinHashSig.sig(col("hs")).as("kernel"), decl.as("decl"))
    assert(both.filter(col("kernel") =!= col("decl")).count() === 0)
  }

  test("simhash32 kernel equals the declarative nested-aggregate form") {
    Hash32Array.register(spark)
    val rows = Seq.fill(150)(randHs(50))
    val df = rows.toDF("__xs")
    val decl = expr(
      "aggregate(sequence(0, 31), 0L, (acc, j) -> acc + " +
        "CASE WHEN aggregate(__xs, 0L, (s, x) -> s + " +
        "CASE WHEN (x div shiftleft(1L, j)) % 2 = 1 THEN 1L ELSE -1L END) > 0 " +
        "THEN shiftleft(1L, j) ELSE 0L END)")
    val both = df.select(SimHash32.sim(col("__xs")).as("kernel"), decl.as("decl"))
    assert(both.filter(col("kernel") =!= col("decl")).count() === 0)
  }

  test("hash64_array equals the declarative md5-halves reconstruction") {
    Hash32Array.register(spark)
    val docs = Seq.fill(200)(randText())
    val df = docs.toDF("text")
      .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
    // signed-64 from two 32-bit md5 halves: (hi re-signed) * 2^32 + lo
    val decl = transform(col("toks"), t => {
      val hi = conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)
      val lo = conv(substring(md5(t), 9, 8), 16, 10).cast(LongType)
      (hi - when(hi >= 2147483648L, 4294967296L).otherwise(0L)) * 4294967296L + lo
    })
    val both = df.select(
      Hash32Array.hash64(col("toks")).as("kernel"), decl.as("decl"))
    assert(both.filter(col("kernel") =!= col("decl")).count() === 0)
  }

  test("simhash64 kernel equals the declarative nested-aggregate form") {
    Hash32Array.register(spark)
    // full-range signed 64-bit element hashes
    val rows = Seq.fill(150)(Seq.fill(1 + rnd.nextInt(50))(rnd.nextLong()))
    val df = rows.toDF("__xs")
    val decl = expr(
      "aggregate(sequence(0, 63), 0L, (acc, j) -> acc + " +
        "CASE WHEN aggregate(__xs, 0L, (s, x) -> s + " +
        "CASE WHEN shiftright(x, j) & 1 = 1 THEN 1L ELSE -1L END) > 0 " +
        "THEN shiftleft(1L, j) ELSE 0L END)")
    val both = df.select(SimHash64.sim(col("__xs")).as("kernel"), decl.as("decl"))
    assert(both.filter(col("kernel") =!= col("decl")).count() === 0)
  }

  test("timeBucket floors onto the grid: bucket <= ts < bucket + step") {
    val epochs = Seq.fill(500)(math.abs(rnd.nextLong()) % 4102444800L)
    val df = epochs.map(e => new Timestamp(e * 1000L)).toDF("ts")
    val b = df.select(col("ts"),
      MarketBars.timeBucket(col("ts"), MarketBars.FiveMinutesMicros).as("bucket"))
    val bad = b.filter(
      col("bucket") > col("ts") ||
        unix_micros(col("ts")) - unix_micros(col("bucket")) >= MarketBars.FiveMinutesMicros ||
        unix_micros(col("bucket")) % MarketBars.FiveMinutesMicros =!= 0)
    assert(bad.count() === 0)
  }

  test("as-of join equals naive formulation on random keyed series") {
    for (round <- 1 to 3) {
      val lRows = Seq.tabulate(80)(i =>
        (rnd.nextInt(4), rnd.nextInt(1000).toLong, i.toLong, rnd.nextInt(2000) - 1000.0))
      val rRows = Seq.fill(50)(
        (rnd.nextInt(4), rnd.nextInt(1000).toLong, rnd.nextInt(2000) - 1000.0))
      val l = lRows.toDF("k", "t", "lid", "lv")
      val r = rRows.toDF("k", "t", "rv").groupBy("k", "t").agg(max("rv").as("rv"))
      val fast = AsOfJoin.backward(l, r, Seq("k"), "t", Seq("rv"))
        .select("lid", "rv")
      val naive = l.as("l").join(r.as("r"),
          col("l.k") === col("r.k") && col("r.t") <= col("l.t"), "left")
        .groupBy(col("lid"))
        .agg(max_by(col("rv"), col("r.t")).as("rv"))
      assert(fast.except(naive).count() === 0 && naive.except(fast).count() === 0,
        s"round $round")
      val fastF = AsOfJoin.forward(l, r, Seq("k"), "t", Seq("rv"))
        .select("lid", "rv")
      val naiveF = l.as("l").join(r.as("r"),
          col("l.k") === col("r.k") && col("r.t") >= col("l.t"), "left")
        .groupBy(col("lid"))
        .agg(min_by(col("rv"), col("r.t")).as("rv"))
      assert(fastF.except(naiveF).count() === 0 && naiveF.except(fastF).count() === 0,
        s"forward round $round")
    }
  }

  test("fused minhash_doc equals the staged tokenize/shingle/hash/sig pipeline") {
    graft.functions.MinHashDoc.register(spark, DedupOps.A, DedupOps.B, CrossHash.P)
    MinHashSig.register(spark, DedupOps.A, DedupOps.B, CrossHash.P)
    Hash32Array.register(spark)
    val docs = Seq.fill(150)(randText()).filter(_.trim.split(" +").length >= 3)
    val df = docs.toDF("text")
    val staged = df
      .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
      .withColumn("hset", array_sort(array_distinct(
        Hash32Array.hash(graft.ops.TextOps.shingles(col("toks"))))))
      .select(
        MinHashSig.sig(col("hset")).as("sig_s"),
        col("hset"),
        graft.functions.MinHashDoc.doc(col("text")).as("d"))
    assert(staged.filter(col("sig_s") =!= col("d.sig")).count() === 0)
    assert(staged.filter(col("hset") =!= col("d.sset")).count() === 0)
  }

  test("set_jaccard equals the declarative intersect/union form") {
    graft.functions.MinHashDoc.register(spark, DedupOps.A, DedupOps.B, CrossHash.P)
    val rows = Seq.fill(200)((
      randHs(30).distinct.sorted,
      randHs(30).distinct.sorted))
    val df = rows.toDF("a", "b")
    val decl = size(array_intersect(col("a"), col("b"))).cast("double") /
      size(array_union(col("a"), col("b")))
    val both = df.select(
      graft.functions.SetJaccard.jac(col("a"), col("b")).as("kernel"), decl.as("decl"))
    assert(both.filter(col("kernel") =!= col("decl")).count() === 0)
  }

  test("pq_codes equals the declarative aggregate-argmin fold") {
    graft.functions.PqCodes.register(spark)
    val m = 4
    val dim = 32
    def randVec(): Seq[Double] = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    val cbRows = (0 until 7).map(c => (c.toLong * 10, randVec()))
    // include exact centroid copies so the tie path (strict <, lowest
    // cid wins) is exercised
    val vecs = Seq.fill(120)(randVec()) ++ cbRows.take(3).map(_._2)
    val df = vecs.toDF("v")
      .crossJoin(cbRows.toDF("cid", "cv")
        .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb")))
    val sd = (size(col("v")) / m).cast("int")
    def codeDecl(j: Int) =
      aggregate(
        col("cb"),
        struct(lit(Double.MaxValue).as("d"), lit(-1L).as("cid")),
        (acc, e) => {
          val d = aggregate(
            zip_with(
              slice(col("v"), lit(j) * sd + 1, sd),
              slice(e("cv"), lit(j) * sd + 1, sd),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (s, z) => s + z)
          when(d < acc("d"), struct(d.as("d"), e("cid").as("cid"))).otherwise(acc)
        })("cid")
    val both = df.select(
      graft.functions.PqCodes.codes(col("v"), col("cb"), lit(m)).as("kernel"),
      array((0 until m).map(codeDecl): _*).as("decl"))
    assert(both.filter(col("kernel") =!= col("decl")).count() === 0)
  }

  test("decimal-accumulated ops are partitioning-invariant (pagerank, roll spread, bm25)") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val edges = li.select(col("l_suppkey").cast("long").as("src"),
      (col("l_partkey").cast("long") + 1000000L).as("dst"))
    same(
      graft.ops.GraphOps.pageRank(edges.repartition(3), iters = 3),
      graft.ops.GraphOps.pageRank(edges.repartition(17), iters = 3))
    val bars = MarketBars.bars(
      graft.sources.Tables.events(spark, sf), "event_type", "ts", "value")
    same(
      graft.ops.MarketBars.rollSpread(bars.repartition(3)),
      graft.ops.MarketBars.rollSpread(bars.repartition(17)))
    val docs = graft.sources.Tables.documents(spark, sf)
    same(
      graft.ops.CorpusOps.bm25(docs.repartition(3), Seq("spark", "window", "hash")),
      graft.ops.CorpusOps.bm25(docs.repartition(17), Seq("spark", "window", "hash")))
  }

  test("round-5 operators are partitioning-invariant (transitions, ccf, seasonal, hhi, ols, moments, pmi, amihud, candles)") {
    val ev = graft.sources.Tables.events(spark, sf)
    val li = graft.sources.Tables.lineitem(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
    same(graft.ops.EventAnalytics.transitions(ev.repartition(3)),
      graft.ops.EventAnalytics.transitions(ev.repartition(17)))
    same(graft.ops.EventAnalytics.seasonalBaseline(ev.repartition(3)),
      graft.ops.EventAnalytics.seasonalBaseline(ev.repartition(17)))
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    val pair3 = graft.ops.PairAnalytics.pairSpread(bars3, "click", "view").drop("spread")
    val pair17 = graft.ops.PairAnalytics.pairSpread(bars17, "click", "view").drop("spread")
    same(graft.ops.PairAnalytics.ccf(pair3, maxLag = 2),
      graft.ops.PairAnalytics.ccf(pair17, maxLag = 2))
    same(graft.ops.MarketBars.amihudIlliquidity(bars3),
      graft.ops.MarketBars.amihudIlliquidity(bars17))
    same(graft.ops.MarketBars.candlePatterns(bars3),
      graft.ops.MarketBars.candlePatterns(bars17))
    same(graft.queries.CoreQueries.olsFit(
        li.repartition(3), "l_returnflag", "l_quantity", "l_extendedprice"),
      graft.queries.CoreQueries.olsFit(
        li.repartition(17), "l_returnflag", "l_quantity", "l_extendedprice"))
    same(graft.queries.CoreQueries.momentProfile(
        li.repartition(3), "l_returnflag", "l_quantity"),
      graft.queries.CoreQueries.momentProfile(
        li.repartition(17), "l_returnflag", "l_quantity"))
    same(graft.queries.CoreQueries.concentration(
        li.repartition(3), "l_returnflag", "l_suppkey", col("l_extendedprice")),
      graft.queries.CoreQueries.concentration(
        li.repartition(17), "l_returnflag", "l_suppkey", col("l_extendedprice")))
    same(graft.ops.CorpusOps.collocations(docs.repartition(3), minCount = 2, k = 40),
      graft.ops.CorpusOps.collocations(docs.repartition(17), minCount = 2, k = 40))
  }

  test("q133-q136 operators are partitioning-invariant (rsi, stale runs, chi2 keyness)") {
    val ev = graft.sources.Tables.events(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(graft.ops.MarketBars.rsi(bars3, period = 5),
      graft.ops.MarketBars.rsi(bars17, period = 5))
    same(graft.ops.MarketBars.staleRuns(bars3),
      graft.ops.MarketBars.staleRuns(bars17))
    same(graft.ops.CorpusOps.chi2Keyness(docs.repartition(3), minCount = 2, k = 10),
      graft.ops.CorpusOps.chi2Keyness(docs.repartition(17), minCount = 2, k = 10))
  }

  test("q138-q140 operators are partitioning-invariant (scd2, variance ratio, tearsheet)") {
    val ev = graft.sources.Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.varianceRatio(bars3, k = 4),
      MarketBars.varianceRatio(bars17, k = 4))
    same(MarketBars.tearsheet(bars3), MarketBars.tearsheet(bars17))
    val snaps3 = graft.sources.Tables.orders(spark, sf).repartition(3)
      .select(col("o_custkey").as("k"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey").as("tie"), col("o_orderstatus").as("a"))
    same(graft.ops.WarehouseOps.scd2(snaps3, "k", "d", "tie", "a"),
      graft.ops.WarehouseOps.scd2(snaps3.repartition(17), "k", "d", "tie", "a"))
  }

  test("q141-q146 operators are partitioning-invariant (bigram nll, ks/rank-sum drift, gini, cusum, page-cusum)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    same(graft.ops.CorpusOps.bigramNll(docs.repartition(3)),
      graft.ops.CorpusOps.bigramNll(docs.repartition(17)))
    same(graft.ops.CorpusOps.termGini(docs.repartition(3)),
      graft.ops.CorpusOps.termGini(docs.repartition(17)))
    same(graft.ops.EventAnalytics.ksDrift(ev.repartition(3), col("user_id") % 2 === 0),
      graft.ops.EventAnalytics.ksDrift(ev.repartition(17), col("user_id") % 2 === 0))
    val bars3b = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17b = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.cusum(bars3b), MarketBars.cusum(bars17b))
    same(graft.ops.EventAnalytics.rankSumDrift(ev.repartition(3), col("user_id") % 2 === 0),
      graft.ops.EventAnalytics.rankSumDrift(ev.repartition(17), col("user_id") % 2 === 0))
    val base3 = bars3b.groupBy(col("series"))
      .agg(min(col("close")).as("mu0"))
    same(MarketBars.pageCusum(bars3b, base3, slack = 0.1, h = 0.5),
      MarketBars.pageCusum(bars17b, base3, slack = 0.1, h = 0.5))
    val cut = col("ts") < to_timestamp(lit("2024-01-15 00:00:00"))
    same(graft.ops.EventAnalytics.cupedLift(ev.repartition(3), cut),
      graft.ops.EventAnalytics.cupedLift(ev.repartition(17), cut))
  }

  test("q151-q157 operators are partitioning-invariant (acf, tick flow, hurst, triple barrier, bpe pairs, dup hist, lang confusion)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.acf(bars3, maxLag = 3), MarketBars.acf(bars17, maxLag = 3))
    same(MarketBars.tickRuleFlow(bars3), MarketBars.tickRuleFlow(bars17))
    same(MarketBars.hurst(bars3), MarketBars.hurst(bars17))
    same(MarketBars.tripleBarrier(bars3, horizon = 6),
      MarketBars.tripleBarrier(bars17, horizon = 6))
    same(graft.ops.CorpusOps.bpePairs(docs.repartition(3)),
      graft.ops.CorpusOps.bpePairs(docs.repartition(17)))
    same(graft.ops.DedupOps.dupClusterHist(docs.repartition(3), "text"),
      graft.ops.DedupOps.dupClusterHist(docs.repartition(17), "text"))
    val conf3 = graft.ops.TextOps.langId(docs.repartition(3))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n_docs"))
    val conf17 = graft.ops.TextOps.langId(docs.repartition(17))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n_docs"))
    same(conf3, conf17)
  }

  test("q158-q160 operators are partitioning-invariant (tick bars, kyle lambda, ngram novelty)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    same(MarketBars.tickBars(ev.repartition(3),
        "event_type", "ts", "value", "event_id", ticksPerBar = 50),
      MarketBars.tickBars(ev.repartition(17),
        "event_type", "ts", "value", "event_id", ticksPerBar = 50))
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.kyleLambda(bars3), MarketBars.kyleLambda(bars17))
    same(graft.ops.CorpusOps.ngramNovelty(docs.repartition(3)),
      graft.ops.CorpusOps.ngramNovelty(docs.repartition(17)))
    // tick bars partition the tick stream exactly: sizes sum to the
    // row count and only the last bar per series may be short
    val tb = MarketBars.tickBars(ev, "event_type", "ts", "value", "event_id",
      ticksPerBar = 50)
    val total = tb.agg(sum(col("n_ticks"))).head().getLong(0)
    assert(total === ev.count())
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("series"))
    val short = tb
      .withColumn("mx", max(col("bar_id")).over(w))
      .filter(col("n_ticks") =!= 50 && col("bar_id") =!= col("mx"))
    assert(short.count() === 0)
  }

  test("q161-q165 operators are partitioning-invariant (obv, intraday profile, garman-klass, embed outlier, cross-source dup)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.obvPath(bars3), MarketBars.obvPath(bars17))
    same(MarketBars.intradayProfile(bars3), MarketBars.intradayProfile(bars17))
    same(MarketBars.garmanKlass(bars3), MarketBars.garmanKlass(bars17))
    same(graft.ops.SimilarityOps.embedOutliers(emb.repartition(3)),
      graft.ops.SimilarityOps.embedOutliers(emb.repartition(17)))
    same(graft.ops.DedupOps.crossSourceDups(docs.repartition(3)),
      graft.ops.DedupOps.crossSourceDups(docs.repartition(17)))
    // OBV day-end value equals q152's daily signed flow
    val dayEnd = MarketBars.obvPath(bars3)
      .groupBy(col("series"), col("d"))
      .agg(max(struct(col("bar_ts"), col("obv"))).getField("obv").as("obv"))
    val flow = MarketBars.tickRuleFlow(bars3)
      .select(col("series"), col("d"),
        (col("buy_ticks") - col("sell_ticks")).as("obv"))
    same(dayEnd, flow)
  }

  test("q166-q168 operators are partitioning-invariant (vocab coverage, vpin, underwater)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    same(graft.ops.CorpusOps.vocabCoverage(docs.repartition(3), vocabSize = 100),
      graft.ops.CorpusOps.vocabCoverage(docs.repartition(17), vocabSize = 100))
    same(MarketBars.vpin(ev.repartition(3),
        "event_type", "ts", "value", "event_id"),
      MarketBars.vpin(ev.repartition(17),
        "event_type", "ts", "value", "event_id"))
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.underwater(bars3), MarketBars.underwater(bars17))
    // underwater invariants: spells bounded by bars, longest <= bars_under sum
    val uw = MarketBars.underwater(bars3).collect()
    uw.foreach { r =>
      assert(r.getAs[Long]("longest_spell") <= r.getAs[Long]("n_bars"))
      assert(r.getAs[Double]("frac_under") >= 0.0 &&
        r.getAs[Double]("frac_under") <= 1.0)
    }
    // vpin bounded in [0, 1] where defined
    MarketBars.vpin(ev, "event_type", "ts", "value", "event_id")
      .collect().foreach { r =>
        val i = r.fieldIndex("vpin")
        if (!r.isNullAt(i))
          assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0)
      }
  }

  test("q169-q171 operators are partitioning-invariant (corwin-schultz, sketch error, heaps law)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.corwinSchultz(bars3), MarketBars.corwinSchultz(bars17))
    same(DedupOps.sketchError(docs.repartition(3), "text", "doc_id"),
      DedupOps.sketchError(docs.repartition(17), "text", "doc_id"))
    same(graft.ops.CorpusOps.heapsLaw(docs.repartition(3)),
      graft.ops.CorpusOps.heapsLaw(docs.repartition(17)))
    // heaps curve invariants: cumulative vocab/token monotone, beta in (0, 1]
    val hl = graft.ops.CorpusOps.heapsLaw(docs)
      .orderBy(col("bucket")).collect()
    hl.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cum_tokens") <= b.getAs[Long]("cum_tokens"))
        assert(a.getAs[Long]("cum_vocab") <= b.getAs[Long]("cum_vocab"))
      case _ =>
    }
    // β ∈ [0, 1]: 0 exactly when the vocabulary saturates in the first
    // bucket (this synthetic corpus reuses ~40 words, so cum_vocab is
    // flat and the slope is a true zero)
    assert(hl.head.getAs[Double]("heaps_beta") >= 0.0 &&
      hl.head.getAs[Double]("heaps_beta") <= 1.0)
  }

  test("q172-q174 operators are partitioning-invariant (coint, bigram entropy, snapshot diff)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    def coint(n: Int) = {
      val bars = MarketBars.bars(ev.repartition(n), "event_type", "ts", "value")
      graft.ops.PairAnalytics.cointegration(
        graft.ops.PairAnalytics.pairSpread(bars, "click", "view")
          .drop("spread"))
    }
    same(coint(3), coint(17))
    same(graft.ops.CorpusOps.bigramEntropy(docs.repartition(3)),
      graft.ops.CorpusOps.bigramEntropy(docs.repartition(17)))
    val c1 = to_timestamp(lit("2024-01-15 00:00:00"))
    val c2 = to_timestamp(lit("2024-02-01 00:00:00"))
    same(graft.ops.EventAnalytics.snapshotDiff(ev.repartition(3), c1, c2),
      graft.ops.EventAnalytics.snapshotDiff(ev.repartition(17), c1, c2))
  }

  test("q175-q176 operators are partitioning-invariant (dataset card, conversion latency)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
    same(graft.ops.CorpusOps.datasetCard(docs.repartition(3)),
      graft.ops.CorpusOps.datasetCard(docs.repartition(17)))
    same(graft.ops.EventAnalytics.conversionLatency(
        ev.repartition(3), "view", "purchase"),
      graft.ops.EventAnalytics.conversionLatency(
        ev.repartition(17), "view", "purchase"))
    // card totals reconcile with the corpus
    val card = graft.ops.CorpusOps.datasetCard(docs).collect()
    assert(card.map(_.getAs[Long]("n_docs")).sum === docs.count())
    // latency sanity: converted <= entered, min <= max
    val lat = graft.ops.EventAnalytics.conversionLatency(
      ev, "view", "purchase").collect()(0)
    assert(lat.getAs[Long]("n_converted") <= lat.getAs[Long]("n_entered"))
    assert(lat.getAs[Double]("min_latency_s") <=
      lat.getAs[Double]("max_latency_s"))
  }

  test("q177-q178 operators are partitioning-invariant (runs test, stickiness)") {
    val ev = graft.sources.Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.runsTest(bars3), MarketBars.runsTest(bars17))
    same(graft.ops.EventAnalytics.stickiness(ev.repartition(3)),
      graft.ops.EventAnalytics.stickiness(ev.repartition(17)))
    // planted alternation: +1,-1,+1,... maximizes runs (z > 0); a
    // monotone ramp collapses to one run (z < 0)
    import spark.implicits._
    val alt = (0 until 40).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 300L)), 100.0 + (if (i % 2 == 0) 1.0 else 0.0))
    }.toDF("ts", "value").withColumn("s", lit("alt"))
    val ramp = (0 until 40).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 300L)), 100.0 + i)
    }.toDF("ts", "value").withColumn("s", lit("ramp"))
    val z = MarketBars.runsTest(
      MarketBars.bars(alt.union(ramp), "s", "ts", "value"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex("z_runs"))) None
         else Some(r.getDouble(r.fieldIndex("z_runs"))))).toMap
    assert(z("alt").exists(_ > 3.0))
    assert(z("ramp").isEmpty) // monotone ramp: n_neg = 0 -> null z
    // stickiness bounded in (0, 1]
    graft.ops.EventAnalytics.stickiness(ev).collect().foreach { r =>
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0)
    }
  }

  test("q179-q180 operators are partitioning-invariant (volume profile, session stats)") {
    val ev = graft.sources.Tables.events(spark, sf)
    val bars3 = MarketBars.bars(ev.repartition(3), "event_type", "ts", "value")
    val bars17 = MarketBars.bars(ev.repartition(17), "event_type", "ts", "value")
    same(MarketBars.volumeProfile(bars3), MarketBars.volumeProfile(bars17))
    same(graft.ops.EventAnalytics.sessionStats(ev.repartition(3)),
      graft.ops.EventAnalytics.sessionStats(ev.repartition(17)))
    // session event totals reconcile with the event count; POC share
    // bounded by 1
    val ss = graft.ops.EventAnalytics.sessionStats(ev).collect()
    assert(ss.map(_.getAs[Long]("n_events")).sum === ev.count())
    MarketBars.volumeProfile(bars3).collect().foreach { r =>
      assert(r.getAs[Double]("poc_share") > 0.0 &&
        r.getAs[Double]("poc_share") <= 1.0)
    }
  }

  test("cointegration recovers a planted hedge ratio and flags the stationary residual") {
    // y = 2x + 1 + alternating ±0.5: OLS slope -> 2, residual flips
    // sign every bar -> phi ≈ -2, ADF t strongly negative
    val rows = (0 until 200).map { i =>
      val ts = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 300L))
      val x = 100.0 + i * 0.25
      val y = 2.0 * x + 1.0 + (if (i % 2 == 0) 0.5 else -0.5)
      (ts, x, y)
    }
    import spark.implicits._
    val pair = rows.toDF("bar_ts", "close2", "close1")
      .withColumn("pair_name", lit("y-x"))
    val got = graft.ops.PairAnalytics.cointegration(pair).collect()(0)
    assert(math.abs(got.getAs[Double]("beta") - 2.0) < 1e-3)
    assert(math.abs(got.getAs[Double]("phi") + 2.0) < 1e-2)
    assert(got.getAs[Double]("adf_t") < -5.0)
  }

  test("triple-barrier labels: first-touch semantics on a planted path") {
    // one series, closes flat at 100 then a +1% jump at bar 5: entries
    // 0..4 must label +1 with touch_k = distance to bar 5; entries in
    // the flat tail beyond reach label 0
    val rows = (0 until 20).map { i =>
      val v = if (i >= 5 && i <= 6) 101.0 else 100.0
      (java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds(i * 300L)), v)
    }
    val ticks = rows.toDF("ts", "value").withColumn("s", lit("x"))
    val bars = MarketBars.bars(ticks, "s", "ts", "value")
    val got = MarketBars.tripleBarrier(bars, horizon = 3,
      upFactor = 1.005, dnFactor = 0.995)
      .orderBy(col("entry_ts")).collect()
    // bars 2,3,4 see the jump within 3 bars (labels +1); bar 0,1 do not
    assert(got(2).getAs[Int]("label") === 1 && got(2).getAs[Int]("touch_k") === 3)
    assert(got(4).getAs[Int]("label") === 1 && got(4).getAs[Int]("touch_k") === 1)
    assert(got(0).getAs[Int]("label") === 0)
    assert(got(10).getAs[Int]("label") === 0)
    // ACF on the same bars: lag-1 cell exists with |r| <= 1
    val acf = MarketBars.acf(bars, maxLag = 2).orderBy(col("k")).collect()
    assert(acf.forall(r => r.isNullAt(r.fieldIndex("r_acf")) ||
      math.abs(r.getAs[Double]("r_acf")) <= 1.0 + 1e-9))
  }

  test("vec_dot yields null on mismatched dims (oracle raises; no silent prefix)") {
    graft.functions.VecDot.register(spark)
    val df = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0)),
      (Seq(1.0, 2.0, 5.0), Seq(3.0, 4.0))).toDF("a", "b")
    val got = df.select(graft.functions.VecDot.dot(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq === Seq(Some(11.0), None))
  }

  test("connected components equals union-find on random graphs") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(v => v -> find(v)).toMap
    }
    // random sparse graphs (stress chains/trees), plus a worst-case path
    val cases = Seq.fill(3) {
      Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)).filter(e => e._1 != e._2)
    } :+ (0L until 40L).sliding(2).map(s => (s(1), s(0))).toSeq
    cases.zipWithIndex.foreach { case (edges, i) =>
      val df = edges.toDF("id_a", "id_b")
      // default tier (single-task union-find at this size)
      val got = GraphOps.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      // force the distributed star-contraction tier: same answer
      val gotDist = GraphOps.connectedComponents(df, singleTaskMaxEdges = 0L)
        .as[(Long, Long)].collect().toMap
      val want = unionFind(50, edges)
      assert(got === want, s"case $i (single-task)")
      assert(gotDist === want, s"case $i (star-contraction)")
    }
  }

  test("day-scoped window stays exact on SPARSE days (frame spans many days)") {
    // 7 rows/day << w-1 = 29: every frame reaches 4+ days back, and
    // days hold uneven counts (7,8,7,8,...) so the reach rule must use
    // the true cumulative counts, not a fixed day span. This is the
    // sf0.001 q76 shape that the single-day carry got wrong.
    val rows = for {
      k <- Seq("A", "B"); d <- 1 to 9; i <- 1 to (7 + d % 2)
    } yield (k,
      Timestamp.valueOf(f"2024-01-0$d 00:$i%02d:00"),
      ((k.hashCode.abs + d * 37 + i * 17) % 1000).toDouble,
      (d * 100 + i).toLong)
    // trailingStats over the sparse shape: compare against the plain
    // global-window formulation (the q76 oracle shape)
    val ev = rows.map { case (k, t, v, r) => (r, t, k, v) }
      .toDF("event_id", "ts", "event_type", "value")
    val sw = graft.ops.ScalableWindow.trailingStats(ev,
      keyCols = Seq("event_type"), orderCols = Seq("ts", "event_id"),
      valCol = "value", w = 30)
      .select("event_id", "event_type", "ts", "r_mean", "r_std", "n_win")
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-29, org.apache.spark.sql.expressions.Window.currentRow)
    val dv = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val gsum = ev.select(col("event_id"), col("event_type"), col("ts"),
      sum(dv).over(gw).cast("double").as("s1"),
      sum(dv * dv).over(gw).cast("double").as("s2"),
      count(lit(1)).over(gw).as("n_win"))
      .select(col("event_id"), col("event_type"), col("ts"),
        round(col("s1") / col("n_win"), 6).as("r_mean"),
        when(col("n_win") > 1,
          round(sqrt(greatest((col("s2") - col("s1") * col("s1") / col("n_win")) /
            (col("n_win") - 1), lit(0.0))), 6)).as("r_std"),
        col("n_win"))
    assert(sw.except(gsum).count() === 0)
    assert(gsum.except(sw).count() === 0)
  }

  test("withPrevValues equals the global per-key lag-1 bit-for-bit (dense + sparse days)") {
    import org.apache.spark.sql.expressions.Window
    // dense (40/day) and sparse (2-3/day) shapes; two value columns
    // ride one day map; a key's global first row must stay null
    val shapes = Seq((6, (_: Int) => 40), (9, (d: Int) => 2 + d % 2))
    shapes.foreach { case (days, perDay) =>
      val rows = for {
        k <- Seq("A", "B"); d <- 1 to days; i <- 1 to perDay(d)
      } yield (k,
        Timestamp.valueOf(f"2024-01-0$d 00:$i%02d:00"),
        ((k.hashCode.abs + d * 37 + i * 17) % 1000).toDouble,
        ((d * 13 + i * 7) % 500).toDouble)
      val df = rows.toDF("series", "bar_ts", "close", "open")
      val w = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
      val global = df
        .withColumn("pc", lag(col("close"), 1).over(w))
        .withColumn("po", lag(col("open"), 1).over(w))
      val scoped = graft.ops.ScalableWindow.withPrevValues(df,
        Seq("series"), Seq("bar_ts"),
        Seq(("close", "pc"), ("open", "po")))
      assert(scoped.count() === global.count())
      assert(scoped.except(global).count() === 0)
      assert(global.except(scoped).count() === 0)
    }
  }

  test("withSeqIndex equals the global per-key row_number (dense + sparse, ties)") {
    import org.apache.spark.sql.expressions.Window
    // duplicate timestamps force the id tie-break; uneven day counts
    // exercise the exclusive cumulative offsets
    val rows = for {
      k <- Seq("A", "B"); d <- 1 to 7; i <- 1 to (3 + (d * 7 + k.length) % 5)
    } yield (k,
      Timestamp.valueOf(f"2024-01-0$d 00:${i / 2}%02d:00"), // ties at i/2
      (d * 100 + i).toLong,
      ((d * 37 + i * 17) % 1000).toDouble)
    val df = rows.toDF("series", "ts", "id", "v")
    val w = Window.partitionBy(col("series")).orderBy(col("ts"), col("id"))
    val wAll = Window.partitionBy(col("series"))
    val global = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_all", count(lit(1)).over(wAll))
    val scoped = graft.ops.ScalableWindow.withSeqIndex(df,
      Seq("series"), Seq("ts", "id"), "rn", Some("n_all"))
      .withColumn("rn", col("rn").cast("long"))
      .select(global.columns.map(col).toSeq: _*)
    assert(scoped.count() === global.count())
    assert(scoped.except(global).count() === 0)
    assert(global.except(scoped).count() === 0)
  }

  test("withSeqPrev equals the composed withSeqIndex + withPrevValues bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    // gappy mixed-density fixture with tie-broken orders: the fused
    // one-day-map escape must match the two-escape composition (and
    // hence, by their own locks, the global window forms) exactly
    val rows = for {
      k <- Seq("A", "B"); d <- 1 to 8; i <- 1 to (2 + (d * 5 + k.length) % 4)
    } yield (k,
      Timestamp.valueOf(f"2024-01-0$d 00:${i / 2}%02d:00"), // ties at i/2
      (d * 100 + i).toLong,
      ((d * 37 + i * 17) % 1000).toDouble)
    val df = rows.toDF("series", "ts", "id", "v")
    val composed = graft.ops.ScalableWindow.withPrevValues(
        graft.ops.ScalableWindow.withSeqIndex(df,
          Seq("series"), Seq("ts", "id"), "rn", Some("n_all")),
        Seq("series"), Seq("ts", "id"), Seq(("v", "pv")))
    val fused = graft.ops.ScalableWindow.withSeqPrev(df,
      Seq("series"), Seq("ts", "id"), "rn",
      Seq(("v", "pv")), Some("n_all"))
      .select(composed.columns.map(col).toSeq: _*)
    assert(fused.count() === composed.count())
    assert(fused.except(composed).count() === 0)
    assert(composed.except(fused).count() === 0)
  }

  test("day-scoped ccf and pairsBacktest equal their global-window forms on gappy days") {
    import org.apache.spark.sql.expressions.Window
    // gappy: 2-5 bars/day over 9 days, two aligned series — lead/lag
    // and LOCF chains constantly cross day boundaries
    val rows = for {
      d <- 1 to 9; i <- 1 to (2 + (d * 3) % 4)
      s <- Seq("AA", "BB")
    } yield (s,
      Timestamp.valueOf(f"2024-01-0$d 00:$i%02d:00"),
      100.0 + (if (s == "AA") math.sin(d * 5 + i) * 3 else math.cos(d * 3 + i) * 4))
    val bars = rows.toDF("series", "bar_ts", "close")
    val pair = graft.ops.PairAnalytics.pairSpread(bars, "AA", "BB")
      .localCheckpoint()
    // ccf vs the bare-pair global window
    val got = graft.ops.PairAnalytics.ccf(pair, maxLag = 3)
    val gw = Window.partitionBy(col("pair_name")).orderBy(col("bar_ts"))
    val ks = (-3 to 3).toSeq
    val shiftCols = ks.map { k =>
      (if (k >= 0) lead(col("close2"), k).over(gw)
       else lag(col("close2"), -k).over(gw)).as(s"y_${k + 3}")
    }
    val shifted = pair.select(
      Seq(col("pair_name"), col("close1")) ++ shiftCols: _*)
    val stacked = ks.map(k =>
      struct(lit(k).as("k"), col(s"y_${k + 3}").as("y")))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(28, 6)))
    def d(n: String) = col(n).cast(org.apache.spark.sql.types.DoubleType)
    val g = shifted
      .select(col("pair_name"), col("close1").as("x"),
        explode(array(stacked: _*)).as("s"))
      .select(col("pair_name"), col("x"), col("s.k").as("k"), col("s.y").as("y"))
      .filter(col("y").isNotNull)
      .groupBy(col("pair_name"), col("k"))
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
    val n = col("n").cast(org.apache.spark.sql.types.DoubleType)
    val num = n * d("sxy") - d("sx") * d("sy")
    val vx = n * d("sxx") - d("sx") * d("sx")
    val vy = n * d("syy") - d("sy") * d("sy")
    val want = g.select(col("pair_name"), col("k"), col("n"),
      when(vx > 0 && vy > 0,
        round(num / (sqrt(vx) * sqrt(vy)), 6)).as("r_ccf"))
    assert(got.except(want).count() === 0)
    assert(want.except(got).count() === 0)
    assert(got.count() === 7)
    // pairsBacktest vs the unpartitioned global form (low entry
    // thresholds + tiny window so signals actually fire on the fixture)
    val gotBt = graft.ops.PairAnalytics.pairsBacktest(bars, "AA", "BB",
      entryZ = 0.8, exitZ = 0.3, windowRows = 6, minWindow = 3)
    val wRoll = Window.orderBy(col("bar_ts")).rowsBetween(-5, 0)
    val wSeq = Window.orderBy(col("bar_ts"))
    val z = pair
      .withColumn("m", avg(col("spread")).over(wRoll))
      .withColumn("sd", stddev_samp(col("spread")).over(wRoll))
      .withColumn("nw", count(lit(1)).over(wRoll))
      .withColumn("z_r",
        round(when(col("nw") >= 3 && col("sd").isNotNull &&
          col("sd") =!= 0, (col("spread") - col("m")) / col("sd")), 4))
      .withColumn("spread_r", round(col("spread"), 6))
      .withColumn("signal",
        when(col("z_r") <= -0.8, 1)
          .when(col("z_r") >= 0.8, -1)
          .when(abs(col("z_r")) < 0.3, 0))
      .withColumn("pos",
        coalesce(last(col("signal"), ignoreNulls = true)
          .over(wSeq.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .withColumn("prev_pos", coalesce(lag(col("pos"), 1).over(wSeq), lit(0)))
      .withColumn("dsp", col("spread_r") - lag(col("spread_r"), 1).over(wSeq))
      .withColumn("pnl",
        when(col("dsp").isNotNull, round(col("pos") * col("dsp"), 8)))
    val wantBt = z.groupBy(col("pair_name"))
      .agg(count(lit(1)).as("n_bars"),
        sum(when(col("pos") =!= col("prev_pos") && col("pos") =!= 0, 1L)
          .otherwise(0L)).as("n_trades"),
        sum(when(col("pnl") > 0, 1L).otherwise(0L)).as("n_win"),
        sum(when(col("pnl") < 0, 1L).otherwise(0L)).as("n_loss"),
        sum(col("pnl").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .as("sp"))
      .select(col("pair_name"), col("n_bars"), col("n_trades"),
        col("n_win"), col("n_loss"),
        round(col("sp").cast(org.apache.spark.sql.types.DoubleType), 6)
          .as("total_pnl"),
        when(col("n_win") + col("n_loss") > 0,
          floor(col("n_win").cast(org.apache.spark.sql.types.DoubleType) /
            (col("n_win") + col("n_loss"))
              .cast(org.apache.spark.sql.types.DoubleType)
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("hit_rate"))
    assert(gotBt.except(wantBt).count() === 0)
    assert(wantBt.except(gotBt).count() === 0)
    // non-degenerate: the fixture must actually trade
    val r = gotBt.collect().head
    assert(r.getAs[Long]("n_trades") > 0)
  }

  test("sum_fixed6 == sum(cast decimal) on random, boundary, null, and empty inputs") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import spark.implicits._
    graft.functions.FixedPoint.register(spark)
    val r = new Random(42)
    // groups: g0 random normals (±, arbitrary significands); g1 large
    // product-scale magnitudes (~1e10); g2 authored 6-7dp values that
    // sit ON the HALF_UP boundary (the BigDecimal-fallback zone);
    // g3 all null; g4 mixed null/values
    val rows: Seq[(Int, Option[Double])] =
      (1 to 20000).map(_ => (0, Some(r.nextGaussian() * 1e4))) ++
      (1 to 5000).map(_ => (1, Some((r.nextDouble() - 0.5) * 2e10))) ++
      Seq.tabulate(2000)(i => (2, Some(i * 1e-1 + 5e-7))) ++
      Seq.tabulate(2000)(i => (2, Some(-(i * 1e-1 + 5e-7)))) ++
      Seq.fill(50)((3, Option.empty[Double])) ++
      (1 to 500).map(i => (4, if (i % 3 == 0) None else Some(i * 0.123456)))
    val df = rows.toDF("g", "v").repartition(13)
    def agg(d: org.apache.spark.sql.DataFrame) = d.groupBy($"g").agg(
      sum($"v".cast(DecimalType(28, 6))).cast(DoubleType).as("dec"),
      graft.functions.FixedPoint.sumFixed6($"v").as("fix"),
      count($"v").as("nv"))
    val out = agg(df).collect()
    assert(out.length === 5)
    out.foreach { row =>
      // same null pattern; values match the decimal path to one 1e-6
      // unit per row (the shortest-repr vs exact-binary cast nuance —
      // see FixedPoint's scaladoc); bit-equal on the ≤6dp groups
      assert(row.isNullAt(1) === row.isNullAt(2), s"null mismatch: $row")
      if (!row.isNullAt(1)) {
        val (dec, fix, nv) = (row.getDouble(1), row.getDouble(2), row.getLong(3))
        assert(math.abs(dec - fix) <= nv * 1e-6 + math.ulp(dec), s"sum mismatch: $row")
        if (row.getInt(0) == 4) assert(dec === fix, s"6dp group not exact: $row")
      }
    }
    // the exact sum is partitioning-invariant BIT-FOR-BIT
    val p1 = agg(df.coalesce(1)).collect().map(r => r.getInt(0) ->
      (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    val p13 = out.map(r => r.getInt(0) ->
      (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(p1 === p13)
    // scalar invariant: toFixed6 == HALF_UP of the EXACT binary value,
    // for every double — dense sweep incl. exact .5 representables
    for (_ <- 1 to 200000) {
      val v = r.nextInt(7) match {
        case 0 => r.nextGaussian()
        case 1 => (r.nextDouble() - 0.5) * 2e11
        case 2 => r.nextInt(2000000) * 5e-7 * (if (r.nextBoolean()) 1 else -1)
        case 3 => r.nextInt(1000) / 128.0 * (if (r.nextBoolean()) 1 else -1)
        case 4 => java.lang.Double.longBitsToDouble(
          (r.nextLong() & 0x3fffffffffffffffL) | 0x3ff0000000000000L) // [1,4)
        case 5 => r.nextInt(100000) * 1e-6
        case _ => r.nextInt() * 1e-2
      }
      val want = new java.math.BigDecimal(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
      assert(graft.functions.FixedPoint.toFixed6(v) === want, s"v=$v")
    }
  }

  test("day-scoped RANGE / prefix-max / fold windows equal their global forms") {
    import spark.implicits._
    // 2 keys x 6 days, uneven per-day counts, minute spacing — range
    // frames and row frames both span day boundaries regularly
    val rows = for {
      k <- Seq("A", "B"); d <- 1 to 6; i <- 1 to (35 + d % 3)
    } yield (k,
      Timestamp.valueOf(f"2024-01-0$d 00:$i%02d:00"),
      ((k.hashCode.abs + d * 37 + i * 17) % 1000).toDouble,
      (d * 100 + i).toLong)
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.count() === b.count())
      assert(a.except(b).count() === 0)
      assert(b.except(a).count() === 0)
    }
    val ev = rows.map { case (k, t, v, r) => (r, t, k, v) }
      .toDF("event_id", "ts", "event_type", "value")
    // (2) day-split drawdown vs the plain global prefix-max form
    val globalPeakW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val globalDd = ev
      .withColumn("peak", max(col("value")).over(globalPeakW))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("value")), 6).as("peak_value"),
        round(min(col("value") - col("peak")), 6).as("max_drawdown"),
        round(min(when(col("peak") > 0,
          (col("value") - col("peak")) / col("peak"))), 6)
          .as("max_drawdown_pct"))
    same(graft.ops.EventAnalytics.drawdown(ev), globalDd)
    // (3) day-scoped ewma vs the global-window sequential fold
    val bars = rows.toDF("series", "bar_ts", "close", "rid")
      .drop("rid")
    val gewW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("bar_ts"))
      .rowsBetween(-19, 0)
    val globalEwma = bars
      .withColumn("cs", collect_list(col("close")).over(gewW))
      .withColumn("n", size(col("cs")))
      .withColumn("num",
        aggregate(col("cs"), lit(0.0), (s, x) => s / 2.0 + x))
      .withColumn("den",
        aggregate(col("cs"), lit(0.0), (s, _) => s / 2.0 + 1.0))
      .select(col("series"), col("bar_ts"), col("close"), col("n"),
        round(col("num") / col("den"), 6).as("ewma"))
    same(MarketBars.ewma(bars, 20), globalEwma)
  }

  test("simhash pigeonhole: hamming<=3 pairs always share a 16-bit band") {
    for (_ <- 1 to 1000) {
      val h = rnd.nextLong()
      val flips = Seq.fill(rnd.nextInt(4))(rnd.nextInt(64))
      val h2 = flips.foldLeft(h)((acc, b) => acc ^ (1L << b))
      val bandsEqual =
        (0 until 4).exists(b => ((h >> (b * 16)) & 0xffff) == ((h2 >> (b * 16)) & 0xffff))
      assert(bandsEqual, s"h=$h flips=$flips")
    }
  }

  test("sequential folds equal gapFillLocf, staleRuns, streakStats and cusum across days") {
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    import org.apache.spark.sql.Row
    def ts(d: Int, hm: String) = Timestamp.valueOf(s"2024-03-0$d $hm:00")
    // A: a stale run and an up streak both cross a day boundary, and
    // the level shift on day 4 puts the CUSUM argmax at the end of
    // day 3; B: a one-row series; C: a stale run across a missing day
    val bars = (
      Seq("10.00,10.00,10.25,10.50,10.50,10.50", "10.50,10.50,10.25,10.00,10.00,10.25",
        "10.50,10.75,11.00,11.25,11.50,11.75", "15.00,15.25,15.00,15.00,15.25,15.50")
        .zipWithIndex.flatMap { case (day, d) =>
          day.split(",").zipWithIndex.map { case (c, i) =>
            ("A", ts(d + 1, f"10:${i * 5}%02d"), c.toDouble) } } ++
      Seq(("B", ts(2, "10:00"), 5.0)) ++
      Seq((1, "10:00", 7.0), (1, "10:05", 7.0), (1, "10:10", 7.0), (3, "10:00", 7.0),
        (3, "10:05", 8.0)).map { case (d, hm, c) => ("C", ts(d, hm), c) })
    val bySeries = bars.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, rs) => k -> rs.sortBy(_._2.getTime) }
    val barsDf = bars.toDF("series", "bar_ts", "close")
    def runs[T](xs: Seq[T]): Seq[(T, Int)] =
      xs.foldLeft(List.empty[(T, Int)]) {
        case ((v, n) :: rest, x) if v == x => (v, n + 1) :: rest
        case (acc, x) => (x, 1) :: acc
      }.reverse

    // staleRuns: islands of equal closes
    val staleWant = bySeries.map { case (k, rs) =>
      val lens = runs(rs.map(_._3)).map(_._2.toLong)
      (k, lens.size.toLong, lens.sum, lens.max, lens.count(_ >= 3).toLong,
        math.floor(lens.sum.toDouble / lens.size.toDouble * 1e6 + 0.5) / 1e6)
    }
    val staleGot = MarketBars.staleRuns(barsDf, 3).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(staleGot === staleWant)
    assert(staleGot.head._4 === 5) // A's 10.50 run spans days 1-2

    // streakStats: islands of equal Δclose direction
    val streakWant = bySeries.flatMap { case (k, rs) =>
      val dirs = rs.map(_._3).sliding(2).collect { case Seq(p, c) =>
        val d6 = math.floor((c - p) * 1e6 + 0.5).toLong
        if (d6 > 0) "up" else if (d6 < 0) "down" else "flat"
      }.toSeq
      runs(dirs).groupBy(_._1).toSeq.map { case (dir, rr) =>
        val lens = rr.map(_._2.toLong)
        (k, dir, lens.size.toLong, lens.max, lens.sum,
          math.floor(lens.sum.toDouble / lens.size.toDouble * 100.0 + 0.5) / 100.0)
      }
    }.sortBy(t => (t._1, t._2))
    val streakGot = MarketBars.streakStats(barsDf).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sortBy(t => (t._1, t._2))
    assert(streakGot === streakWant)
    // A's up streak runs from the end of day 2 into day 4
    assert(streakGot.exists(t => t._1 == "A" && t._2 == "up" && t._4 == 9))

    // cusum: argmax of |n·P_i − i·S| over exact integers, earliest tie
    val cusumWant = bySeries.map { case (k, rs) =>
      val x6 = rs.map(r => math.floor(r._3 * 1e6 + 0.5).toLong)
      val n = x6.size.toLong
      val s = BigInt(x6.sum)
      val cands = x6.scanLeft(0L)(_ + _).tail.zipWithIndex.map { case (p, i) =>
        ((BigInt(n) * p - BigInt(i + 1) * s).abs, i) }
      val (absc, i) = cands.maxBy { case (a, j) => (a, -j) }
      (k, n, rs(i)._2, (i + 1).toLong,
        math.floor(absc.toDouble / n.toDouble / 1e6 * 1e6 + 0.5) / 1e6)
    }
    val cusumGot = MarketBars.cusum(barsDf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(cusumGot === cusumWant)
    assert(cusumGot.head._3.toLocalDateTime.getDayOfMonth === 3)

    // gapFillLocf: X's LOCF gap spans all of days 2 and 3; Y has one row
    val events = Seq(
      ("X", Timestamp.valueOf("2024-03-01 23:58:10"), 1.5),
      ("X", Timestamp.valueOf("2024-03-01 23:59:20"), 2.0),
      ("X", Timestamp.valueOf("2024-03-01 23:59:40"), 2.25),
      ("X", Timestamp.valueOf("2024-03-04 00:01:05"), 3.0),
      ("X", Timestamp.valueOf("2024-03-04 00:03:00"), 4.0),
      ("Y", Timestamp.valueOf("2024-03-02 12:00:30"), 9.0))
    val minute = 60000L
    val locfWant = events.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (k, es) =>
      val perMin = es.groupBy(e => e._2.getTime / minute * minute).map {
        case (m, ms) => m -> (ms.size.toLong,
          ms.map(e => BigDecimal(e._3).setScale(6)).sum.toDouble / ms.size.toDouble)
      }
      val (lo, hi) = (perMin.keys.min, perMin.keys.max)
      (lo to hi by minute).scanLeft((0L, 0L, Option.empty[Double], false)) {
        case ((_, _, last, _), m) => perMin.get(m) match {
          case Some((c, v)) => (m, c, Some(v), false)
          case None => (m, 0L, last, true)
        }
      }.tail.map { case (m, c, v, filled) =>
        (k, new Timestamp(m), c, v.map(BigDecimal(_).setScale(4, HALF_UP).toDouble), filled)
      }
    }
    val locfGot = graft.ops.EventAnalytics.gapFillLocf(
        events.toDF("event_type", "ts", "value"))
      .collect().toSeq
      .map((r: Row) => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
      .sortBy(t => (t._1, t._2.getTime))
    assert(locfGot === locfWant)
    assert(locfGot.count(t => t._1 == "X" && t._5 && t._4.contains(2.125)) > 2 * 1440)
  }
}
