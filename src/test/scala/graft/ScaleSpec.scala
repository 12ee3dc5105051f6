package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MarketBars
import graft.sources.{AlpacaSource, Sinks, Tables}

/** Scale-mechanics behaviors: bucketed tables join without a shuffle,
  * raw inspection reports payload shape.
  */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bucketed tables join with zero shuffle exchanges") {
    // a previous JVM's managed-table dirs survive in spark-warehouse
    // while the metastore entry does not — clear both
    for (t <- Seq("li_bucketed", "o_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    Sinks.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "li_bucketed", Seq("l_orderkey"), 8)
    Sinks.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "o_bucketed", Seq("o_orderkey"), 8)
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    // disable broadcast so the join would normally shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = PlanFacts.of(joined)
      assert(facts.exchanges("hash") === 0,
        s"bucketed join should not shuffle: ${facts.exchanges}")
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("minhash near-dup plan has zero materialization barriers") {
    // the fused minhash_doc kernel removed both round-robin exchanges;
    // regression-guard the plan so they cannot creep back
    val facts = PlanFacts.of(graft.ops.DedupOps
      .minhashNearDups(Tables.documents(spark, sf), "text", "doc_id"))
    assert(facts.exchanges("roundrobin") === 0,
      s"no round-robin barrier expected: ${facts.exchanges}")
  }

  test("ivf top-k plan has exactly one Window (final rank) and no corpus window") {
    // centroid assignment + probe selection must be map-side expressions
    // over the broadcast codebook — not crossJoin + row_number windows
    val windows = PlanFacts.of(graft.ops.SimilarityOps
      .ivfTopK(Tables.embeddings(spark, sf), "vec_id", "embedding",
        k = 5, centroidEvery = 50, nprobe = 2, queryFilter = col("vid") < 10)).windows
    assert(windows.size === 1 && windows.head.partitionBy === Seq("qid"),
      s"expected only the final per-query top-k rank Window: $windows")
  }

  test("embedding near-dup plan contains no window and only tiny broadcasts") {
    val facts = PlanFacts.of(graft.ops.DedupOps
      .embeddingNearDups(Tables.embeddings(spark, sf), "vec_id", "embedding", 0.45))
    assert(facts.windows.isEmpty,
      s"candidate generation must be map-side: ${facts.windows}")
  }

  test("pq encode plan: broadcast codebook only, no hash-partition exchange") {
    // encode must run at scan speed: the codebook arrives as one
    // broadcast array row and pq_codes is a map-side expression
    val facts = PlanFacts.of(graft.ops.SimilarityOps
      .pqEncode(Tables.embeddings(spark, sf), "vec_id", "embedding"))
    assert(facts.exchanges("hash") === 0,
      s"corpus must not shuffle for PQ encode: ${facts.exchanges}")
    assert(facts.calls("pqcodes") > 0, "codegen kernel expected in plan")
  }

  test("q125 pricing-summary plan: pushed shipdate filter + fixed-point partial agg") {
    val facts = PlanFacts.of(SparkEntry.queries("q125_pricing_summary")(spark, sf))
    val pushed = facts.scans("parquet").flatMap(_.pushedFilters)
    assert(pushed.contains("IsNotNull(l_shipdate)") &&
      pushed.exists(_.startsWith("LessThanOrEqual(l_shipdate,")),
      s"shipdate predicate must reach the scan: $pushed")
    assert(facts.calls("partial_sum_fixed6") > 0,
      s"money sums must partial-aggregate on the fixed-point kernel: ${facts.functions}")
  }

  test("q116 corr-matrix plan: ONE pruned scan, no Expand, fixed-point sums") {
    val facts = PlanFacts.of(SparkEntry.queries("q116_corr_matrix")(spark, sf))
    val scans = facts.scans("parquet")
    assert(scans.size === 1, s"corr matrix must be a single pass: $scans")
    assert(facts.expands === 0, "no Expand for the pair unpivot")
    assert(facts.calls("sum_fixed6") > 0, "fixed-point kernel expected")
    assert(scans.head.readSchema.catalogString === "struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_tax:double>", s"scan must prune to the 4 columns: $scans")
  }

  test("q131 attribution plan: no cartesian/range explosion (union + one window)") {
    val facts = PlanFacts.of(SparkEntry.queries("q131_attribution")(spark, sf))
    assert(facts.joins("CartesianProduct") + facts.joins("BroadcastNestedLoopJoin") === 0,
      s"as-of must not explode into a product join: ${facts.joins}")
    assert(facts.unions === 1 && facts.windows.size === 1,
      s"one as-of carry window over the union expected: ${facts.windows}")
  }

  test("q154 triple-barrier plan: day-scoped lead arrays, no horizon-fanout join") {
    val facts = PlanFacts.of(SparkEntry.queries("q154_triple_barrier")(spark, sf))
    // the barriers come from lead arrays over one per-series window —
    // a SortMergeJoin would mean a genuine corpus-sized self-join crept
    // back in (the horizon-fanout shape the lead arrays exist to avoid)
    assert(facts.joins("SortMergeJoin") + facts.joins("CartesianProduct") === 0,
      s"corpus-sized join found in the lead path: ${facts.joins}")
  }

  test("q155 bpe-pairs plan: top-k via TakeOrderedAndProject, pairs built map-side") {
    val facts = PlanFacts.of(SparkEntry.queries("q155_bpe_pairs")(spark, sf))
    assert(facts.takeOrdered > 0,
      s"top-k cut must be per-partition heads + merge, not a global sort: ${facts.sorts}")
    assert(facts.joins.isEmpty,
      s"adjacent pairs must build from the token array, not a posexplode self-join: ${facts.joins}")
  }

  test("q164 embed-outlier plan: centroids broadcast, no per-dimension corpus explode") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val facts = PlanFacts.of(SparkEntry.queries("q164_embed_outlier")(spark, sf))
    assert(facts.joins("BroadcastHashJoin") > 0,
      s"label centroid arrays and stats must broadcast: ${facts.joins}")
    // the corpus side must NOT appear under a Generate (posexplode):
    // the only Generate allowed is inside the tiny centroid build, i.e.
    // under the broadcast
    def gens(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      nodes.collect { case g: GenerateExec => g }
    val underBroadcast = facts.nodes.collect { case b: BroadcastExchangeExec =>
      gens(PlanFacts.of(b).nodes) }.flatten
    assert(gens(facts.nodes).forall(g => underBroadcast.exists(_ eq g)),
      s"deviation fold must be zip_with on the probe side, not an explode: ${facts.generates}")
  }

  test("bm25 plan: query-term filter lands before the tf aggregate") {
    // only query-term postings may shuffle — the isin filter must sit
    // below the (doc, term) aggregate, not above it
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val terms = Set("spark", "window", "hash")
    def termFilter(p: SparkPlan) = p match {
      case f: FilterExec => terms.subsetOf(f.condition.collect { case l: Literal => l.toString }.toSet)
      case _ => false
    }
    val facts = PlanFacts.of(graft.ops.CorpusOps.bm25(Tables.documents(spark, sf), terms.toSeq))
    assert(facts.nodes.exists(termFilter), s"term filter missing:\n${facts.nodes.head}")
    val tfAggs = facts.nodes.collect { case a: HashAggregateExec
      if a.groupingExpressions.exists(_.references.exists(_.name == "term")) => a }
    assert(tfAggs.exists(a => PlanFacts.of(a).nodes.exists(termFilter)),
      s"term filter must sit below the (doc, term) aggregate:\n${facts.nodes.head}")
  }

  test("serving layout: symbol+range predicates prune partitions and files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("serving").toString
    val bars = graft.ops.MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    graft.queries.ServingQueries.writeServing(bars, dir, nSlices = 8)
    val totalFiles = {
      val all = spark.read.parquet(dir)
      all.count() // materialize listing
      new java.io.File(dir).listFiles.filter(_.isDirectory)
        .flatMap(_.listFiles).count(_.getName.endsWith(".parquet"))
    }
    // the dashboard range query: one symbol, a ts sub-range
    val span = bars.filter(col("series") === "click")
      .agg(min(col("bar_ts")).cast("string"), max(col("bar_ts")).cast("string")).head
    val q = graft.queries.ServingQueries.symbolRange(spark, dir, "click",
      startTs = Some(span.getString(0)), endTs = Some(span.getString(1)))
    val scans = PlanFacts.of(q).scans("parquet")
    assert(scans.exists(_.partitionFilters.exists(_.contains("series"))),
      s"symbol predicate must prune partitions: $scans")
    assert(scans.exists(_.pushedFilters.exists(f =>
      f == "IsNotNull(bar_ts)" || f.startsWith("GreaterThanOrEqual(bar_ts,"))),
      s"ts range must push to parquet stats: $scans")
    // executed scan reads only the one symbol's files
    q.collect()
    val scanned = PlanFacts.of(q).nodes
      .collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    assert(scanned > 0 && scanned < totalFiles,
      s"expected pruning: scanned $scanned of $totalFiles files")
    // symbols list == the distinct series; tail preview is a top-k,
    // never a global sort
    val syms = graft.queries.ServingQueries.symbols(spark, dir)
      .collect().map(_.getString(0)).toSeq
    assert(syms === syms.sorted && syms.contains("click"))
    val tail = PlanFacts.of(graft.queries.ServingQueries.tailPreview(spark, dir, "click"))
    assert(tail.takeOrdered > 0, s"tail preview must be top-k: ${tail.sorts}")
  }

  test("z-order key is pure map-side codegen bit math") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val facts = PlanFacts.of(graft.ops.LayoutOps.zOrdered(
      Tables.lineitem(spark, sf), "l_partkey", "l_suppkey"))
    assert(facts.exchanges.isEmpty && facts.broadcasts === 0 && facts.reusedExchanges === 0,
      s"no shuffle expected: ${facts.exchanges}")
    // the bit interleave runs inside a whole-stage-codegen stage
    assert(facts.nodes.exists {
      case w: WholeStageCodegenExec => PlanFacts.of(w).calls("shiftleft") > 0
      case _ => false
    }, s"z-value must codegen:\n${facts.nodes.head}")
  }

  test("z-ordered write yields narrow per-file key rectangles") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    graft.sources.Sinks.writeZOrdered(
      Tables.lineitem(spark, sf), dir, "l_partkey", "l_suppkey", nFiles = 8)
    // re-derive z on read and measure each file's z-span vs the global
    val back = graft.ops.LayoutOps.zOrdered(
        spark.read.parquet(dir), "l_partkey", "l_suppkey")
      .select(input_file_name().as("f"), col("z"))
    val per = back.groupBy(col("f"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .agg(sum(col("hi") - col("lo")).as("span_sum"), count(lit(1)).as("nf"))
      .head
    val g = back.agg(max(col("z")) - min(col("z"))).head.getLong(0)
    val nf = per.getLong(1)
    assert(nf >= 8, s"expected >= 8 files, got $nf")
    // range partitioning on z makes file spans disjoint: the file
    // spans SUM to at most the global span (overlapping layouts sum
    // to ~nFiles × global)
    assert(per.getLong(0) <= g, s"file spans overlap: sum=${per.getLong(0)} global=$g")
  }

  test("packByBudget default shard count scales with cluster parallelism") {
    // the packing windows partition by shard — one task per shard — so
    // the DEFAULT must track the cluster size, not a constant
    val packed = graft.ops.CorpusOps.packByBudget(Tables.documents(spark, sf), budget = 2000)
    val distinctShards = packed.select("shard").distinct().count()
    assert(distinctShards === spark.sparkContext.defaultParallelism.toLong)
    // the oracle twin pins 8 explicitly and must stay pinned
    val pinned = graft.ops.CorpusOps.packByBudget(
      Tables.documents(spark, sf), budget = 2000, nShards = 8)
    assert(pinned.select("shard").distinct().count() === 8L)
  }

  test("flagship z-score runs its window once: one WindowExec on both routes") {
    // both symbol legs come out of one projection over the z-scores, so
    // the executed (post-AQE) plan holds exactly one window operator
    import spark.implicits._
    val bars = (for {
      day <- Seq("2024-01-02", "2024-01-03")
      m <- 0 until 12
      (sym, base) <- Seq(("MSFT", 10.0), ("AAPL", 20.0))
    } yield (sym, java.sql.Timestamp.valueOf(f"$day 14:${30 + m}%02d:00"), base + m % 5))
      .toDF("symbol", "timestamp", "close")
    val z = Pipeline.pairZScores(bars, Seq(("MSFT", "AAPL")), windowRows = 6, minWindow = 3)
    assert(z.collect().length === 2 * 24)
    val windows = PlanFacts.of(z).windows
    assert(windows.size === 1, s"${windows.size} windows: $windows")
  }

  test("pipeline pair layer reads the payload once: one JSON scan, broadcast, window and timestamp parse") {
    // the executed (post-AQE) plan of the clean -> RTH -> pair z-score
    // path: the bars join one leg spec and the legs align in the window's
    // exchange, and each bar's timestamp is parsed once, before the
    // explode, instead of once per predicate that reads it
    val raw = AlpacaFixtures.write(java.nio.file.Files.createTempDirectory("alpaca_plan")).toString
    val z = Pipeline.pairZScores(Pipeline.prepare(spark, raw), Seq(("MSFT", "AAPL")))
    assert(z.collect().nonEmpty)
    val facts = PlanFacts.of(z)
    withClue(facts.nodes.head.toString) {
      assert(facts.scans("json").size === 1)
      assert(facts.broadcasts === 1)
      assert(facts.windows.size === 1)
      assert(facts.calls("gettimestamp") === 1)
    }
  }

  test("PlanFacts reads windows, aggregates, checkpoints, joins and the final adaptive plan") {
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = Seq(("a", 1, 2.0), ("a", 2, 3.0), ("b", 3, 4.0)).toDF("k", "v", "w")
    val windowed = PlanFacts.of(df
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .withColumn("run", sum("w").over(Window.orderBy("v"))))
    assert(windowed.windows.map(w => (w.functions, w.partitionBy, w.orderBy)).toSet === Set(
      (Seq("row_number"), Seq("k"), Seq("v")), (Seq("sum"), Nil, Seq("v"))))
    assert(windowed.unpartitionedWindows === 1)
    // a struct buffer cannot hash-aggregate; a plain sum does
    val aggs = PlanFacts.of(df.groupBy("k").agg(max(struct(col("v"), col("w"))).as("m"))
      .join(df.groupBy("k").agg(sum("w").as("s")), "k"))
    assert(aggs.sortAggregates === 2 && aggs.hashAggregates === 2 && aggs.objectHashAggregates === 0)
    assert(aggs.calls("partial_max") === 1 && aggs.calls("partial_sum") === 1)
    assert(PlanFacts.of(df.localCheckpoint(eager = false).filter(col("v") > 1)).checkpointScans === 1)
    val other = Seq(("a", 10), ("b", 20)).toDF("k", "x")
    val bhj = PlanFacts.of(df.join(broadcast(other), "k"))
    assert(bhj.joins === Seq(PlanFacts.Join("BroadcastHashJoin", "Inner", Some("right"))))
    assert(bhj.broadcasts === 1)
    val smj = PlanFacts.of(df.join(other.hint("shuffle_merge"), Seq("k"), "left_semi"))
    assert(smj.joins === Seq(PlanFacts.Join("SortMergeJoin", "LeftSemi", None)))
    assert(smj.exchanges === Seq.fill(2)(PlanFacts.Exchange("hash", Seq("k"))))
    assert(smj.sorts === Seq.fill(2)(PlanFacts.Sort(Seq("k"), global = false)))
    // before it runs the adaptive plan is the initial one; after, the
    // final one, read through its query stages
    val agg = df.groupBy("k").agg(count(lit(1)).as("n")).orderBy(col("n").desc)
    assert(!PlanFacts.of(agg).nodes.exists(_.isInstanceOf[AQEShuffleReadExec]))
    agg.collect()
    val fin = PlanFacts.of(agg)
    assert(fin.nodes.exists(_.isInstanceOf[AQEShuffleReadExec]))
    assert(fin.exchanges.map(_.kind) === Seq("range", "hash"))
    assert(fin.sorts === Seq(PlanFacts.Sort(Seq("n DESC"), global = true)))
    val pq = PlanFacts.of(Tables.lineitem(spark, sf).filter(col("l_quantity") < 24.0).select("l_quantity"))
    assert(pq.scans.map(s => (s.format, s.pushedFilters, s.readSchema.catalogString)) ===
      Seq(("parquet", Seq("IsNotNull(l_quantity)", "LessThan(l_quantity,24.0)"), "struct<l_quantity:double>")))
  }

  test("unpartitioned windows: pinned on the single-task query paths, none on the pair z-score") {
    // a WindowExec without a partition spec holds every row in one task.
    // Each path below is pinned to its count, so a new single-partition
    // window on it fails here (an empty-key ScalableRank, or a window
    // whose only key is a literal the optimizer drops, as q190's pair).
    // q311's midrank windows sit behind their checkpoints, so its
    // visible plan holds none.
    val pinned = Seq("q190_pairs_backtest" -> 3, "q239_abc_pareto" -> 1,
      "q256_ltv_deciles" -> 2, "q272_selection_curve" -> 3,
      "q311_kruskal_wallis" -> 0, "q04_bars_5min" -> 0)
    for ((q, n) <- pinned) {
      val windows = PlanFacts.of(SparkEntry.queries(q)(spark, sf)).windows
      assert(windows.count(_.partitionBy.isEmpty) === n, s"$q: $windows")
    }
    // the flagship pair z-score partitions its window by pair
    val raw = AlpacaFixtures.write(java.nio.file.Files.createTempDirectory("alpaca_win")).toString
    val z = PlanFacts.of(Pipeline.pairZScores(Pipeline.prepare(spark, raw), Seq(("MSFT", "AAPL"))))
    assert(z.windows.nonEmpty && z.unpartitionedWindows === 0, s"${z.windows}")
  }

  test("q158 tick-bars plan: per-series row index, never a global sort") {
    // information bars need one sequential step (the per-series row
    // index); it must stay a partition-local window sort — a global
    // sort would serialize the whole tick store on one core
    val facts = PlanFacts.of(graft.ops.MarketBars.tickBars(Tables.events(spark, sf),
        "event_type", "ts", "value", "event_id", ticksPerBar = 50))
    assert(!facts.sorts.exists(_.global),
      s"global sort found in tick-bars plan: ${facts.sorts}")
    // the per-series row_number is the plan's only window
    assert(facts.windows.flatMap(_.functions).count(_ == "row_number") === 1,
      s"expected exactly one row-index Window: ${facts.windows}")
    assert(facts.windows.size === 1 && facts.windows.head.partitionBy === Seq("series"),
      s"expected no Window besides the per-series row index: ${facts.windows}")
  }

  test("q146 page-cusum plan: the whole alarm path is ONE window pass") {
    import spark.implicits._
    val bars = Seq(
      ("A", java.sql.Timestamp.valueOf("2024-01-02 14:30:00"), 10.0),
      ("A", java.sql.Timestamp.valueOf("2024-01-02 14:35:00"), 11.0),
      ("B", java.sql.Timestamp.valueOf("2024-01-02 14:30:00"), 20.0)
    ).toDF("series", "bar_ts", "close")
    val base = Seq(("A", 10.0), ("B", 20.0)).toDF("series", "mu0")
    // the prefix-sum identity S_i = P_i − min(0, min P_j): the running
    // sum and the running min over it share ONE per-series shuffle and
    // sort, and the alarm rollup on the same key adds no exchange
    val facts = PlanFacts.of(graft.ops.MarketBars.pageCusum(bars, base, slack = 0.5, h = 5.0))
    assert(facts.windows.exists(w => w.partitionBy == Seq("series") && w.orderBy.headOption.contains("bar_ts")),
      s"per-series running window expected: ${facts.windows}")
    assert(facts.exchanges.count(e => e.kind == "hash" && e.keys.headOption.contains("series")) === 1,
      s"one per-series shuffle expected: ${facts.exchanges}")
    assert(facts.sorts.size === 1, s"one sort expected: ${facts.sorts}")
  }

  test("q171 heaps-law plan: id-math buckets, no corpus row_number") {
    // vocabulary-growth buckets come from pure id arithmetic against a
    // broadcast bounds row — a row_number over the corpus would force
    // a global rank just to assign buckets
    val facts = PlanFacts.of(graft.ops.CorpusOps.heapsLaw(Tables.documents(spark, sf)))
    assert(facts.calls("row_number") === 0,
      s"corpus row_number found in heaps-law plan: ${facts.windows}")
  }

  test("q102 bm25 plan: global top-k is TakeOrdered, not a full sort") {
    // the k-cut must be per-partition heaps (TakeOrderedAndProject);
    // a global Sort of all scored docs would shuffle the corpus once
    // more just to keep 10 rows
    val facts = PlanFacts.of(graft.ops.CorpusOps
      .bm25(Tables.documents(spark, sf), Seq("spark", "window", "hash")))
    assert(facts.takeOrdered > 0,
      s"TakeOrderedAndProject missing from bm25 plan: ${facts.sorts}")
  }

  test("q184 rfm plan: corpus collapses per-user, ranks are two-pass") {
    // the three quintile ntiles must run on the user relation: no
    // Window over the raw event stream
    val windows = PlanFacts.of(graft.ops.EventAnalytics.rfm(Tables.events(spark, sf))).windows
    // every Window sorts on a per-user metric — none on the raw stream
    assert(!windows.exists(w => (w.partitionBy ++ w.orderBy).contains("ts")),
      s"a Window runs on the raw event stream: $windows")
  }

  test("q190 backtest plan: one sort feeds every window, no checkpoint or union left") {
    // the rolling stats, the signal LOCF and the position lags are
    // windows over the one pair in one order: a single sort serves
    // them all. (The pair key is a literal, so the optimizer drops it
    // from the partition spec; one pair is one window task either way.)
    val bars = graft.ops.MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val facts = PlanFacts.of(graft.ops.PairAnalytics.pairsBacktest(bars, "click", "view"))
    assert(facts.sorts.count(_.keys.headOption.contains("bar_ts")) === 1,
      s"one bar_ts sort expected: ${facts.sorts}")
    assert(facts.windows.size >= 3,
      s"rolling, LOCF and lag windows expected: ${facts.windows}")
    assert(facts.checkpointScans === 0 && facts.unions === 0,
      s"no checkpoint or union expected:\n${facts.nodes.head}")
  }

  test("q191 returned-revenue plan: pushed flag filter, broadcast nation, TakeOrdered cut") {
    val facts = PlanFacts.of(SparkEntry.queries("q191_returned_revenue")(spark, sf))
    assert(facts.scans("parquet").exists(_.pushedFilters.contains("EqualTo(l_returnflag,R)")),
      s"returnflag filter not pushed to the lineitem scan: ${facts.scans}")
    assert(facts.joins("BroadcastHashJoin") > 0, s"nation should broadcast: ${facts.joins}")
    assert(facts.takeOrdered > 0,
      s"top-20 must be TakeOrdered, not a global sort: ${facts.sorts}")
  }

  test("q187 dim-stats plan: one fixed-cardinality exchange, map-side explode") {
    val facts = PlanFacts.of(graft.ops.SimilarityOps.dimStats(
        Tables.embeddings(spark, sf), "vec_id", "embedding"))
    assert(facts.exchanges("hash") === 1,
      s"expected only the (dim) aggregate exchange: ${facts.exchanges}")
    assert(facts.generates.contains("posexplode"),
      s"expected a map-side posexplode: ${facts.generates}")
  }

  test("q189 semdedup plan: no Window anywhere, candidates via bucket join") {
    val windows = PlanFacts.of(graft.ops.DedupOps.semDedup(
        Tables.embeddings(spark, sf), "vec_id", "embedding", threshold = 0.45)).windows
    assert(windows.isEmpty, s"semdedup must not window the corpus: $windows")
  }

  test("q195 incremental-agg plan: anti join keeps base, semi join prunes the recompute") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val late = ev.filter(col("event_id") % 97 === 0)
    val early = ev.filter(col("event_id") % 97 =!= 0)
    val joins = PlanFacts.of(graft.ops.WarehouseOps.incrementalDailyAgg(
        graft.ops.WarehouseOps.dailyAgg(early), ev, late)).joins
    assert(joins.exists(_.joinType == "LeftAnti"),
      s"base rows must survive via an anti join: $joins")
    assert(joins.exists(_.joinType == "LeftSemi"),
      s"the recompute scan must be day-pruned via a semi join: $joins")
  }

  test("q196 phrase plan: the posting explode is computed once (exchange reused)") {
    val df = graft.ops.CorpusOps.phraseSearch(
      Tables.documents(spark, sf), Seq("spark", "join"))
    df.collect() // finalize the adaptive plan so reuse is visible
    val facts = PlanFacts.of(df)
    // both join sides read the SAME lazily-checkpointed posting RDD —
    // the tokenize/explode runs once, behind the checkpoint boundary
    assert(facts.generates.count(_ == "posexplode") <= 1,
      s"postings recomputed per side: ${facts.generates}")
    assert(facts.windows.isEmpty, s"phrase search must not window: ${facts.windows}")
  }

  test("q193 dsir plan: no window, no cartesian corpus product") {
    import spark.implicits._
    val facts = PlanFacts.of(graft.ops.CorpusOps.dsirWeights(
        Tables.documents(spark, sf), col("source").isin("src0", "src1")))
    assert(facts.windows.isEmpty, s"dsir must not window the corpus: ${facts.windows}")
    assert(facts.joins("CartesianProduct") === 0,
      s"only the 1-row totals may cross-join (broadcast): ${facts.joins}")
  }

  test("q199 ivf+pq plan: exactly one Window (the candidate rank)") {
    import spark.implicits._
    val facts = PlanFacts.of(graft.ops.SimilarityOps.ivfPqTopK(
        Tables.embeddings(spark, sf), "vec_id", "embedding",
        queryFilter = col("vec_id") < 10))
    assert(facts.windows.size === 1, s"only the per-query rank may window: ${facts.windows}")
    assert(facts.joins("CartesianProduct") === 0, s"codebook joins must broadcast: ${facts.joins}")
  }

  test("pageRank shuffle mode: one contribution Exchange per iteration, edges never move") {
    // broadcastMaxNodes = 0 puts the 4-node graph past the broadcast
    // limit, the at-scale regime: edges and nodes are hash-partitioned once before their
    // checkpoints, so each iteration's src-join and id-join reuse the
    // stored layout — the ONLY per-iteration exchange is the dst-keyed
    // contribution shuffle.
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (2L, 4L)
    ).toDF("src", "dst")
    val auto = graft.ops.GraphOps.pageRank(edges, iters = 2)
    // pin the planner to the at-scale regime the mode models: no AQE
    // partition coalescing (tiny test data would collapse everything
    // to 1 partition) and no auto-broadcast of the "huge" edge side
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled =
      try {
        val s = graft.ops.GraphOps.pageRank(
          edges, iters = 2, broadcastMaxNodes = 0L)
        s.collect() // materialize under the pinned confs
        s
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
      }
    val plan = graft.ops.GraphOps.lastIterPlan
    val nEx = PlanFacts.of(plan).exchanges("hash")
    assert(nEx === 1,
      s"expected exactly 1 per-iteration exchange (contributions), got $nEx:\n$plan")
    // both modes produce identical ranks
    assert(auto.orderBy("id").collect().toSeq ===
      shuffled.orderBy("id").collect().toSeq)
  }

  test("pageRank broadcast mode: 40 iterations plan no deeper than 8") {
    // the broadcast chain is cut by a lazy checkpoint every 8th
    // iteration, so analysis and planning of a long run see at most 8
    // nested iterations instead of one more layer per iteration
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (2L, 4L)
    ).toDF("src", "dst")
    // broadcastMaxNodes = 0 sends the 4-node graph down the shuffle mode
    def ranked(iters: Int, bc: Boolean) = graft.ops.GraphOps.pageRank(
      edges, iters = iters, broadcastMaxNodes = if (bc) Long.MaxValue else 0L)
    def depth(p: LogicalPlan): Int = 1 + (p.children.map(depth) :+ 0).max
    val long = ranked(40, bc = true)
    val d40 = depth(long.queryExecution.analyzed)
    val d8 = depth(ranked(8, bc = true).queryExecution.analyzed)
    assert(d40 <= d8, s"40-iteration plan depth $d40 > 8-iteration depth $d8")
    assert(PlanFacts.of(long).nodes.nonEmpty)
    // the cut changes no value: both modes still agree
    assert(long.orderBy("id").collect().toSeq ===
      ranked(40, bc = false).orderBy("id").collect().toSeq)
  }

  test("no forced broadcast hint targets an SF-scaling relation") {
    // part/customer/supplier/lineitem/orders grow linearly with scale
    // factor — at 100 TB an explicit hint bypasses AQE's size check and
    // kills the driver assembling the broadcast. Fixed-cardinality dims
    // (nation/region/calendar/1-row totals) may still hint.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val scalingKeys = Set("p_partkey", "c_custkey", "s_suppkey",
      "l_partkey", "l_suppkey", "l_orderkey", "o_orderkey", "o_custkey",
      "t_partkey")
    val tpchFamily = Seq("q117_shipping_priority", "q124_hhi",
      "q212_promo_share", "q213_small_qty", "q244_order_gap",
      "q246_segment_aov", "q261_supplier_breadth", "q262_product_profit",
      "q264_return_rate", "q275_theil_index", "q280_kaplan_meier",
      "q284_min_cost_supplier", "q290_important_stock")
    tpchFamily.foreach { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.analyzed.foreach {
        case h: ResolvedHint =>
          val bad = h.child.output.map(_.name).toSet.intersect(scalingKeys)
          assert(bad.isEmpty,
            s"$name forces a join hint on an SF-scaling relation ($bad)")
        case _ => ()
      }
    }
    // and AQE still picks broadcast at bench scale on a representative —
    // with the threshold PINNED to the stock 10 MB so the assertion is a
    // property of the plan, not of whatever config the suite ran under
    val abt0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      val q212 = SparkEntry.queries("q212_promo_share")(spark, sf)
      q212.collect()
      assert(PlanFacts.of(q212).joins("BroadcastHashJoin") > 0,
        "AQE should still broadcast the part side at bench scale")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt0)
  }

  test("leadLagMatrix plan: one stacked Window, no unioned re-sorts") {
    // all 2·maxLag+1 shifted legs must come from ONE window operator
    // over a single per-pair sort (the PairAnalytics.ccf shape), not
    // per-leg windows unioned back together
    val bars = MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val df = MarketBars.leadLagMatrix(bars)
    df.collect()
    val facts = PlanFacts.of(df)
    // one stacked lag/lead window + the final argmax rank window
    val stacked = facts.windows.count(_.functions.exists(Set("lead", "lag")))
    assert(stacked === 1 && facts.windows.size <= 2,
      s"expected the stacked-leg window + rank window only: ${facts.windows}")
    assert(facts.unions === 0, s"no per-leg union expected:\n${facts.nodes.head}")
  }

  test("worst-case skew: one key's whole history day-scopes into per-day tasks") {
    // ALL rows share ONE key over 30 days: trailingStats must still
    // equal the hand-written global per-key window
    import spark.implicits._
    val rows = for { d <- 1 to 30; i <- 1 to 50 } yield
      ("HOT", java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:$i%02d:00"),
        ((d * 37 + i * 17) % 1000).toDouble, (d * 100 + i).toLong)
    val ev = rows.toDF("event_type", "ts", "value", "event_id")
    val sw = graft.ops.ScalableWindow.trailingStats(ev,
      Seq("event_type"), Seq("ts", "event_id"), "value", w = 40)
      .select("event_id", "r_mean", "r_std", "n_win")
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-39, org.apache.spark.sql.expressions.Window.currentRow)
    val dv = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val global = ev.select(col("event_id"),
        sum(dv).over(gw).cast("double").as("s1"),
        sum(dv * dv).over(gw).cast("double").as("s2"),
        count(lit(1)).over(gw).as("n_win"))
      .select(col("event_id"),
        round(col("s1") / col("n_win"), 6).as("r_mean"),
        when(col("n_win") > 1,
          round(sqrt(greatest(
            (col("s2") - col("s1") * col("s1") / col("n_win")) /
              (col("n_win") - 1), lit(0.0))), 6)).as("r_std"),
        col("n_win"))
    assert(sw.except(global).count() === 0)
    assert(global.except(sw).count() === 0)
  }

  test("raw inspection reports per-payload bar counts") {
    val dir = AlpacaFixtures.write(
      java.nio.file.Files.createTempDirectory("inspect_fix")).toString
    val report = AlpacaSource.inspectRaw(AlpacaSource.readRaw(spark, dir))
    val rows = report.collect().map(r => r.getAs[String]("symbol") -> r.getAs[Int]("n_bars")).toMap
    assert(rows.keySet === Set("MSFT", "AAPL"))
    assert(rows("MSFT") > 200) // 3 full days + extras
  }

  test("tokenize stays behind its barrier: no split() in the HOF consumers' plans") {
    // CollapseProject inlines a derived column's defining expression
    // into higher-order-function lambdas, where interpreted eval
    // re-runs it PER ELEMENT — split(text) inside the winnowing
    // fingerprint lambda cost O(tokens²) regex work per doc (q315
    // ground ~20 min at sf0.1 before the checkpoint barrier). The
    // barrier cuts the plan, so the downstream optimized plan must
    // not contain the tokenizer AT ALL; seeing split() here means
    // someone removed a barrier.
    val fixed = Seq("q315_winnowing", "q316_containment",
      "q77_ngram_jaccard", "q160_ngram_novelty", "q155_bpe_pairs",
      "q173_bigram_entropy")
    for (q <- fixed) {
      val facts = PlanFacts.of(SparkEntry.queries(q)(spark, sf))
      assert(facts.calls("split") === 0,
        s"$q: tokenize re-inlined past its barrier: ${facts.functions}")
    }
  }

  test("q329 burrows top-K term cut is a distributed TakeOrdered") {
    // a global row_number window over the corpus vocabulary would
    // single-task a growing set; the limit form is TakeOrderedAndProject.
    // The full query hides it behind the tf checkpoint barrier, so the
    // lock evaluates the cut helper itself on a real tf relation.
    val tf = graft.sources.Tables.documents(spark, sf)
      .select(col("source"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val facts = PlanFacts.of(graft.ops.CorpusOps.topTermsByCount(tf, 40))
    assert(facts.takeOrdered > 0, s"top-K cut lost its distributed form: ${facts.sorts}")
    assert(facts.windows.isEmpty, s"vocabulary rank window crept back in: ${facts.windows}")
  }

  test("q333/q339 IVF graph plans: no cartesian corpus product") {
    // hubness and TwoNN must ride the bucketed IVF join — an
    // all-pairs nested-loop over embeddings is the 100 TB killer
    for (q <- Seq("q333_hubness", "q339_twonn")) {
      val joins = PlanFacts.of(SparkEntry.queries(q)(spark, sf)).joins
      assert(!joins.exists(_.strategy == "CartesianProduct"), s"$q: corpus cartesian appeared: $joins")
    }
  }

  test("round-11 widening plans: user-keyed joins, no corpus cartesian, escapes routed") {
    // q400's windowed self-join MUST be user_id-equi-keyed (fan-out
    // bounded by in-window density); the |types|² grid crossJoins are
    // the ONLY allowed cartesians — they must all carry 1-row or
    // |types|-row sides (BroadcastNestedLoopJoin over broadcast
    // aggregates), never the event relation
    val p400 = PlanFacts.of(SparkEntry.queries("q400_trigger_lift")(spark, sf))
    assert(p400.joins("CartesianProduct") === 0, s"q400: corpus cartesian appeared: ${p400.joins}")
  }

  test("writeSized: file count follows the size target") {
    val out = java.nio.file.Files.createTempDirectory("sized").toString
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    Sinks.writeSized(df, s"$out/big", targetBytes = 1L << 30)
    assert(files(s"$out/big") === 1)
    Sinks.writeSized(df, s"$out/small", targetBytes = 16 << 10,
      compressionRatio = 1.0)
    assert(files(s"$out/small") > 1)
    assert(spark.read.parquet(s"$out/small").count() === df.count())
  }

  test("round-13 plan locks: broadcast query side, no cartesian joins") {
    // q409: the sampled query set must BROADCAST against the streaming
    // corpus (the corpus must never sit on the build side), and the
    // four rank windows must share ONE qid exchange
    val p409 = PlanFacts.of(SparkEntry.queries("q409_prefix_recall")(spark, sf))
    assert(p409.joins.contains(PlanFacts.Join("BroadcastNestedLoopJoin", "Inner", Some("right"))),
      s"q409: query side not broadcast: ${p409.joins}")
    val qidExchanges =
      p409.exchanges.count(e => e.kind == "hash" && e.keys.headOption.contains("qid"))
    assert(qidExchanges === 1,
      s"q409: rank windows should share one qid exchange, found $qidExchanges")
    // the self-join expansions must stay key-partitioned: a cartesian
    // over a data-sized relation is the scale giveaway
    for (q <- Seq("q418_growth_accounting", "q420_audience_overlap",
        "q419_seq_interference", "q416_window_funnel")) {
      val joins = PlanFacts.of(SparkEntry.queries(q)(spark, sf)).joins
      assert(!joins.exists(_.strategy == "CartesianProduct"), s"$q: cartesian join appeared: $joins")
    }
  }

  test("round-14 plan locks: keyed joins and windows in the new gates") {
    // q426's band join and q427's consecutive-frame join must stay
    // key-partitioned — a cartesian over the frame relation is the
    // scale giveaway; q427's lag window must partition by vid (the
    // ≤8-row bounded partition), never order the frame stream globally
    for (q <- Seq("q426_video_frame_neardup", "q427_scene_cuts")) {
      val joins = PlanFacts.of(SparkEntry.queries(q)(spark, sf)).joins
      assert(!joins.exists(_.strategy == "CartesianProduct"), s"$q: cartesian join appeared: $joins")
    }
    val w427 = PlanFacts.of(SparkEntry.queries("q427_scene_cuts")(spark, sf)).windows
    assert(w427.nonEmpty && w427.forall(_.partitionBy == Seq("vid")),
      s"q427: frame window not partitioned by vid: $w427")
    // q425 is map-side until the one |sources| rollup: exactly one
    // hash exchange (the groupBy), plus the canonical orderBy's range
    val hashEx = PlanFacts.of(SparkEntry.queries("q425_script_audit")(spark, sf)).exchanges("hash")
    assert(hashEx === 1,
      s"q425: expected ONE hash exchange (the source rollup), found $hashEx")
  }

  test("queries without checkpoints start no Spark job while they are built") {
    // a lazy localCheckpoint plans and runs the shuffle stages beneath
    // it as soon as it is declared, so building these queries ran jobs
    // before any action; with only in-plan reuse left, building one is
    // pure planning. Each query builds under its own job group and the
    // listener counts the plan-execution jobs (those carrying a SQL
    // execution id) tagged with it. The parquet schema read behind
    // every table load is a job too, but it executes no query plan.
    val qs = Seq("q59_tfidf", "q193_dsir_weights", "q225_ctfidf",
      "q323_davies_bouldin", "q326_calinski_harabasz", "q347_source_jsd") ++
      // market, event and stats queries
      Seq(
        "q71_dynamic_validator", "q80_funnel", "q146_page_cusum",
        "q149_cuped_lift", "q178_stickiness", "q200_risk_decomp",
        "q241_vol_cone", "q254_tail_clustering", "q259_lead_lag_matrix",
        "q270_var_backtest", "q279_psi_drift", "q288_updown_beta",
        "q292_mean_excess", "q299_jarque_bera", "q314_brown_forsythe",
        "q320_rank_ic", "q327_friedman", "q343_return_mi", "q360_cdar",
        "q367_vol_managed", "q374_chatterjee", "q376_tail_dep",
        "q380_transfer_entropy", "q418_growth_accounting",
        "q419_seq_interference", "q420_audience_overlap")
    val ran = qs.map(q => q -> RunFacts.of(spark)(SparkEntry.queries(q)(spark, sf))._2.sqlJobs)
      .filter(_._2 > 0)
    assert(ran.isEmpty, "plan-execution jobs while being built: " +
      ran.map { case (q, n) => s"$q=$n" }.mkString(", "))
  }
}
