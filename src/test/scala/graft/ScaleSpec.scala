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
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n${plan.take(2000)}")
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("minhash near-dup plan has zero materialization barriers") {
    // the fused minhash_doc kernel removed both round-robin exchanges;
    // regression-guard the plan so they cannot creep back
    val plan = graft.ops.DedupOps
      .minhashNearDups(Tables.documents(spark, sf), "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange roundrobin"),
      s"no round-robin barrier expected in:\n${plan.take(3000)}")
  }

  test("ivf top-k plan has exactly one Window (final rank) and no corpus window") {
    // centroid assignment + probe selection must be map-side expressions
    // over the broadcast codebook — not crossJoin + row_number windows
    val plan = graft.ops.SimilarityOps
      .ivfTopK(Tables.embeddings(spark, sf), "vec_id", "embedding",
        k = 5, centroidEvery = 50, nprobe = 2, queryFilter = col("vid") < 10)
      .queryExecution.executedPlan.toString
    val windows = "(?i)\\bwindow\\b".r.findAllIn(plan).length
    assert(windows <= 2, // WindowExec prints as "Window [...]" once per operator
      s"expected only the final top-k rank Window, plan:\n${plan.take(3000)}")
  }

  test("embedding near-dup plan contains no window and only tiny broadcasts") {
    val plan = graft.ops.DedupOps
      .embeddingNearDups(Tables.embeddings(spark, sf), "vec_id", "embedding", 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"candidate generation must be map-side, plan:\n${plan.take(3000)}")
  }

  test("pq encode plan: broadcast codebook only, no hash-partition exchange") {
    // encode must run at scan speed: the codebook arrives as one
    // broadcast array row and pq_codes is a map-side expression
    val plan = graft.ops.SimilarityOps
      .pqEncode(Tables.embeddings(spark, sf), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus must not shuffle for PQ encode:\n${plan.take(3000)}")
    assert(plan.contains("pqcodes"), "codegen kernel expected in plan")
  }

  test("q125 pricing-summary plan: pushed shipdate filter + fixed-point partial agg") {
    val plan = SparkEntry.queries("q125_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate predicate must reach the scan:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum_fixed6"),
      s"money sums must partial-aggregate on the fixed-point kernel:\n${plan.take(3000)}")
  }

  test("q116 corr-matrix plan: ONE pruned scan, no Expand, fixed-point sums") {
    val plan = SparkEntry.queries("q116_corr_matrix")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size === 1,
      s"corr matrix must be a single pass:\n${plan.take(3000)}")
    assert(!plan.contains("Expand"), "no Expand for the pair unpivot")
    assert(plan.contains("sum_fixed6"), "fixed-point kernel expected")
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_tax:double>"), s"scan must prune to the 4 columns:\n${plan.take(3000)}")
  }

  test("q131 attribution plan: no cartesian/range explosion (union + one window)") {
    val plan = SparkEntry.queries("q131_attribution")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not explode into a product join:\n${plan.take(3000)}")
    assert(plan.contains("Window"), "as-of carry window expected")
  }

  test("q154 triple-barrier plan: day-scoped lead arrays, no horizon-fanout join") {
    val plan = SparkEntry.queries("q154_triple_barrier")(spark, sf)
      .queryExecution.executedPlan.toString
    // the barriers come from lead arrays over one per-series window —
    // a SortMergeJoin would mean a genuine corpus-sized self-join crept
    // back in (the horizon-fanout shape the lead arrays exist to avoid)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
      s"corpus-sized join found in the lead path:\n${plan.take(3000)}")
  }

  test("q155 bpe-pairs plan: top-k via TakeOrderedAndProject, pairs built map-side") {
    val plan = SparkEntry.queries("q155_bpe_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k cut must be per-partition heads + merge, not a global sort:\n${plan.take(3000)}")
    assert(!plan.contains("Join"),
      s"adjacent pairs must build from the token array, not a posexplode self-join:\n${plan.take(3000)}")
  }

  test("q164 embed-outlier plan: centroids broadcast, no per-dimension corpus explode") {
    val plan = SparkEntry.queries("q164_embed_outlier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"label centroid arrays and stats must broadcast:\n${plan.take(3000)}")
    // the corpus side must NOT appear under a Generate (posexplode):
    // the only Generate allowed is inside the tiny centroid build
    val generates = plan.split("BroadcastExchange").head
    assert(!generates.contains("Generate"),
      s"deviation fold must be zip_with on the probe side, not an explode:\n${plan.take(3000)}")
  }

  test("bm25 plan: query-term filter lands before the tf aggregate") {
    // only query-term postings may shuffle — the isin filter must sit
    // below the (doc, term) aggregate, not above it
    val plan = graft.ops.CorpusOps
      .bm25(Tables.documents(spark, sf), Seq("spark", "window", "hash"))
      .queryExecution.executedPlan.toString
    val filterAt = plan.indexOf("spark,window,hash")
    val aggAt = plan.indexOf("HashAggregate")
    assert(filterAt >= 0, s"term filter missing:\n${plan.take(3000)}")
    assert(plan.lastIndexOf("spark,window,hash") > aggAt,
      "term filter must appear below (after, in plan print order) an aggregate")
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
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("series"),
      s"symbol predicate must prune partitions:\n${plan.take(2000)}")
    assert(plan.contains("PushedFilters: [IsNotNull(bar_ts)") ||
      plan.contains("GreaterThanOrEqual(bar_ts"),
      s"ts range must push to parquet stats:\n${plan.take(2000)}")
    // executed scan reads only the one symbol's files
    q.count()
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    assert(scanned < totalFiles,
      s"expected pruning: scanned $scanned of $totalFiles files")
    // symbols list == the distinct series; tail preview is a top-k,
    // never a global sort
    val syms = graft.queries.ServingQueries.symbols(spark, dir)
      .collect().map(_.getString(0)).toSeq
    assert(syms === syms.sorted && syms.contains("click"))
    val tailPlan = graft.queries.ServingQueries.tailPreview(spark, dir, "click")
      .queryExecution.executedPlan.toString
    assert(tailPlan.contains("TakeOrderedAndProject"),
      s"tail preview must be top-k:\n${tailPlan.take(1500)}")
  }

  test("z-order key is pure map-side codegen bit math") {
    val df = graft.ops.LayoutOps.zOrdered(
      Tables.lineitem(spark, sf), "l_partkey", "l_suppkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"no shuffle expected:\n${plan.take(2000)}")
    // "*(1)" is the whole-stage-codegen stage marker in plan toString
    assert(plan.contains("*(1)"), s"z-value must codegen:\n${plan.take(500)}")
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
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val bars = (for {
      day <- Seq("2024-01-02", "2024-01-03")
      m <- 0 until 12
      (sym, base) <- Seq(("MSFT", 10.0), ("AAPL", 20.0))
    } yield (sym, java.sql.Timestamp.valueOf(f"$day 14:${30 + m}%02d:00"), base + m % 5))
      .toDF("symbol", "timestamp", "close")
    val helper = new AdaptiveSparkPlanHelper {}
    val z = Pipeline.pairZScores(bars, Seq(("MSFT", "AAPL")), windowRows = 6, minWindow = 3)
    assert(z.collect().length === 2 * 24)
    val windows = helper.collect(z.queryExecution.executedPlan) { case w: WindowExec => w }
    assert(windows.size === 1,
      s"${windows.size} windows\n${z.queryExecution.executedPlan}")
  }

  test("pipeline pair layer reads the payload once: one JSON scan, broadcast, window and timestamp parse") {
    // the executed (post-AQE) plan of the clean -> RTH -> pair z-score
    // path: the bars join one leg spec and the legs align in the window's
    // exchange, and each bar's timestamp is parsed once, before the
    // explode, instead of once per predicate that reads it
    import org.apache.spark.sql.catalyst.expressions.GetTimestamp
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val raw = AlpacaFixtures.write(java.nio.file.Files.createTempDirectory("alpaca_plan")).toString
    val z = Pipeline.pairZScores(Pipeline.prepare(spark, raw), Seq(("MSFT", "AAPL")))
    assert(z.collect().nonEmpty)
    val plan = z.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.toString == "JSON" => s
    }
    val broadcasts = helper.collect(plan) { case b: BroadcastExchangeExec => b }
    val windows = helper.collect(plan) { case w: WindowExec => w }
    val parses = helper.flatMap(plan)(_.expressions.flatMap(_.collect { case g: GetTimestamp => g }))
    withClue(plan.toString) {
      assert(scans.size === 1)
      assert(broadcasts.size === 1)
      assert(windows.size === 1)
      assert(parses.size === 1)
    }
  }

  test("q158 tick-bars plan: per-series row index, never a global sort") {
    // information bars need one sequential step (the per-series row
    // index); it must stay a partition-local window sort — a global
    // sort would serialize the whole tick store on one core
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = graft.ops.MarketBars.tickBars(Tables.events(spark, sf),
        "event_type", "ts", "value", "event_id", ticksPerBar = 50)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert("], true, 0".r.findAllIn(plan).isEmpty,
      s"global sort found in tick-bars plan:\n${plan.take(3000)}")
    // the per-series row_number is the plan's only window
    assert("row_number\\(\\) windowspecdefinition\\(".r.findAllIn(plan).size === 1,
      s"expected exactly one row-index Window:\n${plan.take(3000)}")
    assert(qe.sparkPlan.collect { case w: WindowExec => w }.size === 1,
      s"expected no Window besides the row index:\n${qe.sparkPlan}")
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
    val plan = graft.ops.MarketBars.pageCusum(bars, base, slack = 0.5, h = 5.0)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(series#\\d+, bar_ts#\\d+".r
      .findFirstIn(plan).nonEmpty,
      s"per-series running window expected:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(series#".r.findAllIn(plan).size === 1,
      s"one per-series shuffle expected:\n${plan.take(3000)}")
    assert("Sort \\[".r.findAllIn(plan).size === 1,
      s"one sort expected:\n${plan.take(3000)}")
  }

  test("q171 heaps-law plan: id-math buckets, no corpus row_number") {
    // vocabulary-growth buckets come from pure id arithmetic against a
    // broadcast bounds row — a row_number over the corpus would force
    // a global rank just to assign buckets
    val plan = graft.ops.CorpusOps.heapsLaw(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"),
      s"corpus row_number found in heaps-law plan:\n${plan.take(3000)}")
  }

  test("q102 bm25 plan: global top-k is TakeOrdered, not a full sort") {
    // the k-cut must be per-partition heaps (TakeOrderedAndProject);
    // a global Sort of all scored docs would shuffle the corpus once
    // more just to keep 10 rows
    val plan = graft.ops.CorpusOps
      .bm25(Tables.documents(spark, sf), Seq("spark", "window", "hash"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"TakeOrderedAndProject missing from bm25 plan:\n${plan.take(3000)}")
  }

  test("q184 rfm plan: corpus collapses per-user, ranks are two-pass") {
    // the three quintile ntiles must run on the user relation: no
    // Window over the raw event stream
    val plan = graft.ops.EventAnalytics.rfm(Tables.events(spark, sf))
      .queryExecution.executedPlan.toString
    // every Window sorts on a per-user metric — none on the raw stream
    assert(!plan.contains("windowspecdefinition(ts#"),
      s"a Window runs on the raw event stream:\n${plan.take(3000)}")
  }

  test("q190 backtest plan: one sort feeds every window, no checkpoint or union left") {
    // the rolling stats, the signal LOCF and the position lags are
    // windows over the one pair in one order: a single sort serves
    // them all. (The pair key is a literal, so the optimizer drops it
    // from the partition spec; one pair is one window task either way.)
    val bars = graft.ops.MarketBars.bars(Tables.events(spark, sf),
      "event_type", "ts", "value")
    val plan = graft.ops.PairAnalytics.pairsBacktest(bars, "click", "view")
      .queryExecution.executedPlan.toString
    assert("Sort \\[bar_ts#\\d+ ASC".r.findAllIn(plan).size === 1,
      s"one bar_ts sort expected:\n${plan.take(6000)}")
    assert("\\bWindow \\[".r.findAllIn(plan).size >= 3,
      s"rolling, LOCF and lag windows expected:\n${plan.take(6000)}")
    assert(!plan.contains("ExistingRDD") && !plan.contains("Union"),
      s"no checkpoint or union expected:\n${plan.take(6000)}")
  }

  test("q191 returned-revenue plan: pushed flag filter, broadcast nation, TakeOrdered cut") {
    val plan = SparkEntry.queries("q191_returned_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed to the lineitem scan:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation should broadcast:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n${plan.take(3000)}")
  }

  test("q187 dim-stats plan: one fixed-cardinality exchange, map-side explode") {
    val plan = graft.ops.SimilarityOps.dimStats(
        Tables.embeddings(spark, sf), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"expected only the (dim) aggregate exchange:\n${plan.take(3000)}")
    assert(plan.contains("Generate posexplode"),
      s"expected a map-side posexplode:\n${plan.take(3000)}")
  }

  test("q189 semdedup plan: no Window anywhere, candidates via bucket join") {
    val plan = graft.ops.DedupOps.semDedup(
        Tables.embeddings(spark, sf), "vec_id", "embedding", threshold = 0.45)
      .queryExecution.executedPlan.toString
    assert("Window \\[".r.findAllIn(plan).isEmpty,
      s"semdedup must not window the corpus:\n${plan.take(3000)}")
  }

  test("q195 incremental-agg plan: anti join keeps base, semi join prunes the recompute") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val late = ev.filter(col("event_id") % 97 === 0)
    val early = ev.filter(col("event_id") % 97 =!= 0)
    val plan = graft.ops.WarehouseOps.incrementalDailyAgg(
        graft.ops.WarehouseOps.dailyAgg(early), ev, late)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"base rows must survive via an anti join:\n${plan.take(3000)}")
    assert(plan.contains("LeftSemi"),
      s"the recompute scan must be day-pruned via a semi join:\n${plan.take(3000)}")
  }

  test("q196 phrase plan: the posting explode is computed once (exchange reused)") {
    val df = graft.ops.CorpusOps.phraseSearch(
      Tables.documents(spark, sf), Seq("spark", "join"))
    df.collect() // finalize the adaptive plan so reuse is visible
    val plan = df.queryExecution.executedPlan.toString
    // both join sides read the SAME lazily-checkpointed posting RDD —
    // the tokenize/explode runs once, behind the checkpoint boundary
    assert("Generate posexplode".r.findAllIn(plan).size <= 1,
      s"postings recomputed per side:\n${plan.take(4000)}")
    assert("Window \\[".r.findAllIn(plan).isEmpty,
      s"phrase search must not window:\n${plan.take(3000)}")
  }

  test("q193 dsir plan: no window, no cartesian corpus product") {
    import spark.implicits._
    val plan = graft.ops.CorpusOps.dsirWeights(
        Tables.documents(spark, sf), col("source").isin("src0", "src1"))
      .queryExecution.executedPlan.toString
    assert("Window \\[".r.findAllIn(plan).isEmpty,
      s"dsir must not window the corpus:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"only the 1-row totals may cross-join (broadcast):\n${plan.take(3000)}")
  }

  test("q199 ivf+pq plan: exactly one Window (the candidate rank)") {
    import spark.implicits._
    val plan = graft.ops.SimilarityOps.ivfPqTopK(
        Tables.embeddings(spark, sf), "vec_id", "embedding",
        queryFilter = col("vec_id") < 10)
      .queryExecution.executedPlan.toString
    assert("Window \\[".r.findAllIn(plan).size === 1,
      s"only the per-query rank may window:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"codebook joins must broadcast:\n${plan.take(3000)}")
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
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nEx === 1,
      s"expected exactly 1 per-iteration exchange (contributions), got $nEx:\n" +
        plan.take(4000))
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
    assert(long.queryExecution.executedPlan.toString.nonEmpty)
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
      assert(q212.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
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
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val windows = "Window \\[".r.findAllIn(plan).size
    // one stacked lag/lead window + the final argmax rank window
    assert(windows <= 2,
      s"expected the stacked-leg window + rank window only, got $windows:\n" +
        plan.take(3000))
    assert(!plan.contains("Union"),
      s"no per-leg union expected:\n${plan.take(3000)}")
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
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("split("),
        s"$q: tokenize re-inlined past its barrier:\n${plan.take(2000)}")
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
    val plan = graft.ops.CorpusOps.topTermsByCount(tf, 40)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K cut lost its distributed form:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      "vocabulary rank window crept back in")
  }

  test("q333/q339 IVF graph plans: no cartesian corpus product") {
    // hubness and TwoNN must ride the bucketed IVF join — an
    // all-pairs nested-loop over embeddings is the 100 TB killer
    for (q <- Seq("q333_hubness", "q339_twonn")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q: corpus cartesian appeared:\n${plan.take(2000)}")
    }
  }

  test("round-11 widening plans: user-keyed joins, no corpus cartesian, escapes routed") {
    // q400's windowed self-join MUST be user_id-equi-keyed (fan-out
    // bounded by in-window density); the |types|² grid crossJoins are
    // the ONLY allowed cartesians — they must all carry 1-row or
    // |types|-row sides (BroadcastNestedLoopJoin over broadcast
    // aggregates), never the event relation
    val p400 = SparkEntry.queries("q400_trigger_lift")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p400.contains("CartesianProduct"),
      s"q400: corpus cartesian appeared:\n${p400.take(2000)}")
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
    val p409 = SparkEntry.queries("q409_prefix_recall")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p409.contains("BroadcastNestedLoopJoin BuildRight"),
      s"q409: query side not broadcast:\n${p409.take(2000)}")
    val qidExchanges =
      "Exchange hashpartitioning\\(qid#".r.findAllIn(p409).size
    assert(qidExchanges === 1,
      s"q409: rank windows should share one qid exchange, found $qidExchanges")
    // the self-join expansions must stay key-partitioned: a cartesian
    // over a data-sized relation is the scale giveaway
    for (q <- Seq("q418_growth_accounting", "q420_audience_overlap",
        "q419_seq_interference", "q416_window_funnel")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q: cartesian join appeared:\n${plan.take(2000)}")
    }
  }

  test("round-14 plan locks: keyed joins and windows in the new gates") {
    // q426's band join and q427's consecutive-frame join must stay
    // key-partitioned — a cartesian over the frame relation is the
    // scale giveaway; q427's lag window must partition by vid (the
    // ≤8-row bounded partition), never order the frame stream globally
    for (q <- Seq("q426_video_frame_neardup", "q427_scene_cuts")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q: cartesian join appeared:\n${plan.take(2000)}")
    }
    val p427 = SparkEntry.queries("q427_scene_cuts")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(f#\\d+".r.findFirstIn(p427).isEmpty,
      s"q427: unpartitioned frame window found:\n${p427.take(2000)}")
    // q425 is map-side until the one |sources| rollup: exactly one
    // hash exchange (the groupBy), plus the canonical orderBy's range
    val p425 = SparkEntry.queries("q425_script_audit")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p425).size
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
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties)
          .filter(_.getProperty("spark.sql.execution.id") != null)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(qs.contains)
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for (q <- qs) {
        sc.setJobGroup(q, s"build $q")
        try SparkEntry.queries(q)(spark, sf)
        finally sc.clearJobGroup()
      }
      Thread.sleep(1000) // let the listener bus deliver any job start
      val ran = qs.filter(q => jobs.getOrDefault(q, 0) > 0)
      assert(ran.isEmpty, "plan-execution jobs while being built: " +
        ran.map(q => s"$q=${jobs.get(q)}").mkString(", "))
    } finally sc.removeSparkListener(listener)
  }
}
