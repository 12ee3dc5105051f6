package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.ops.{EventAnalytics, ExactRound, StatOps, WarehouseOps}
import graft.sources.Tables

/** Relational operator inventory over the driver's TPC-H-ish tables —
  * SURVEY §2 rows S2/S3, P1/P2/P6, J1/J2/J3, A1/A5/A6, O2, F8/F13/F15.
  *
  * Oracle-parity conventions used across all query modules:
  *   - every query ends in a canonical orderBy (stable hash-compare);
  *   - double SUMs go through an exact DECIMAL(18,6) accumulation and
  *     are cast back to double — partial-aggregation order then cannot
  *     perturb the result (and it is the correct answer at 100 TB too);
  *   - int aggregates are pinned to BIGINT on both engines;
  *   - irrational math (log, stddev, division chains) is rounded to a
  *     fixed scale on both engines before output.
  */
object CoreQueries {

  /** Exact decimal-accumulated sum of a double column, emitted as double. */
  def exactSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 6))).cast(DoubleType)

  /** Pairwise Pearson correlation over numeric columns in ONE pass:
    * every raw/cross sum accumulates in DECIMAL(28,6) (products formed
    * in DOUBLE — the q85 covariance rule), the co-moments form in
    * DOUBLE from the exact sums, and the pairs stack-unpivot from the
    * single aggregate row. Spark's own `corr` accumulates co-moments
    * in doubles whose value depends on partition merge ORDER — fine as
    * an estimator, unusable for a hash-compared gate; this shape is
    * order-proof AND the one-pass plan you'd want at 100 TB. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2)
    // sum_fixed6 ≡ sum(cast(e as decimal(28,6))) — the 15 BigDecimal
    // aggregates were this query's entire runtime (4.0 s -> ~0.3 s at
    // sf0.1); see functions/FixedPoint.scala
    graft.functions.FixedPoint.register(df.sparkSession)
    def dsum(e: org.apache.spark.sql.Column) =
      graft.functions.FixedPoint.sumFixed6(e)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val aggs =
      cols.flatMap(c => Seq(
        dsum(col(c)).as(s"s__$c"),
        dsum(col(c) * col(c)).as(s"ss__$c"))) ++
      pairs.map { case (a, b) => dsum(col(a) * col(b)).as(s"sp__${a}__$b") }
    val one = df.agg(count(lit(1)).as("n"), aggs: _*)
    def d(name: String) = col(name).cast(DoubleType)
    def rFor(a: String, b: String) = {
      val n = col("n").cast(DoubleType)
      val num = n * d(s"sp__${a}__$b") - d(s"s__$a") * d(s"s__$b")
      val va = n * d(s"ss__$a") - d(s"s__$a") * d(s"s__$a")
      val vb = n * d(s"ss__$b") - d(s"s__$b") * d(s"s__$b")
      when(va > 0 && vb > 0, round(num / (sqrt(va) * sqrt(vb)), 6))
    }
    val stacked = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), rFor(a, b).as("r"))
    }
    one.select(col("n"), explode(array(stacked: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("n"), col("p.r"))
  }

  /** Per-group simple OLS fit y = a + b·x — slope, intercept, and R²
    * per group in ONE map-side-combinable aggregate (grouped linear
    * trend fitting; the same co-moment machinery as [[corrMatrix]]
    * but grouped and solved for the regression line).
    *
    * Spark's own `regr_slope` accumulates co-moments in doubles whose
    * value depends on partition merge order — fine as an estimator,
    * unusable for a hash-compared gate. Here the five sums accumulate
    * in DECIMAL (exact, order-proof); slope/intercept/R² then form in
    * DOUBLE from the exact sums with one expression shape shared with
    * the oracle. */
  def olsFit(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    def dsum(e: org.apache.spark.sql.Column) = sum(e.cast(DecimalType(28, 6)))
    val g = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      dsum(col(xCol)).as("sx"),
      dsum(col(yCol)).as("sy"),
      dsum(col(xCol) * col(yCol)).as("sxy"),
      dsum(col(xCol) * col(xCol)).as("sxx"),
      dsum(col(yCol) * col(yCol)).as("syy"))
    def d(name: String) = col(name).cast(DoubleType)
    val n = col("n").cast(DoubleType)
    val num = n * d("sxy") - d("sx") * d("sy")
    val den = n * d("sxx") - d("sx") * d("sx")
    val vy = n * d("syy") - d("sy") * d("sy")
    g.select(col(groupCol), col("n"),
      when(den > 0, round(num / den, 6)).as("slope"),
      when(den > 0,
        round((d("sy") - (num / den) * d("sx")) / n, 6)).as("intercept"),
      when(den > 0 && vy > 0, round((num * num) / (den * vy), 6)).as("r2"))
  }

  /** Per-group Herfindahl–Hirschman concentration index: entity
    * shares of a decimal-exact value total, HHI = Σ share², plus the
    * top entity share (market-concentration / data-source-dominance
    * audit — e.g. "is one supplier 80% of a nation's volume" or "is
    * one domain 80% of the corpus").
    *
    * Entity totals accumulate in DECIMAL (one shuffle); shares form
    * as one double divide against the window-summed exact total;
    * per-entity share² rounds 12dp then DECIMAL-sums (the q108
    * pagerank rule) so the group fold is order-proof. */
  def concentration(
      df: DataFrame, groupCol: String, entityCol: String,
      value: org.apache.spark.sql.Column): DataFrame = {
    val rev = df.groupBy(col(groupCol), col(entityCol))
      .agg(sum(value.cast(DecimalType(28, 6))).as("r"))
    val w = Window.partitionBy(col(groupCol))
    val share = col("r").cast(DoubleType) /
      sum(col("r")).over(w).cast(DoubleType)
    rev.select(col(groupCol), share.as("share"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_entities"),
        round(sum(round(col("share") * col("share"), 12)
          .cast(DecimalType(28, 12))).cast(DoubleType), 6).as("hhi"),
        round(max(col("share")), 6).as("top_share"))
  }

  /** Per-group mean / population variance / skewness / excess
    * kurtosis in ONE map-side-combinable aggregate: raw-moment sums
    * x..x⁴ on the [[graft.functions.FixedPoint]] kernel (exact,
    * order-proof), central-moment forms in DOUBLE from the exact sums
    * (one expression shape shared with the oracle). Degenerate groups
    * (zero variance) yield null skew/kurtosis. Addends must fit the
    * kernel's DECIMAL(18,6) range — x⁴ < 1e12, i.e. |x| < ~1000. */
  def momentProfile(df: DataFrame, groupCol: String, xCol: String): DataFrame = {
    graft.functions.FixedPoint.register(df.sparkSession)
    def sf6(c: org.apache.spark.sql.Column) =
      graft.functions.FixedPoint.sumFixed6(c)
    val x = col(xCol)
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sf6(x).as("s1"), sf6(x * x).as("s2"),
        sf6(x * x * x).as("s3"), sf6(x * x * x * x).as("s4"))
    val n = col("n").cast(DoubleType)
    val mu = col("s1") / n
    val m2 = col("s2") / n - mu * mu
    val m3 = col("s3") / n - lit(3.0) * mu * (col("s2") / n) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4") / n - lit(4.0) * mu * (col("s3") / n) +
      lit(6.0) * mu * mu * (col("s2") / n) - lit(3.0) * mu * mu * mu * mu
    g.select(col(groupCol), col("n"),
      round(mu, 6).as("mean_x"),
      round(m2, 6).as("var_pop"),
      when(m2 > 0, round(m3 / sqrt(m2 * m2 * m2), 6)).as("skewness"),
      when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 6)).as("kurtosis"))
  }

  /** Reorder spells shared by the q280 KM / q331 Nelson–Aalen pair:
    * per customer order, days to the NEXT order (event = 1) or to the
    * dataset horizon (right-censored, event = 0), keyed by segment. */
  private def reorderSpells(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey"), col("c_mktsegment"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("d"), col("o_orderkey"))
    val mx = o.agg(max(col("d")).as("mxd"))
    o.withColumn("nd", lead(col("d"), 1).over(w))
      .crossJoin(broadcast(mx))
      .select(col("c_mktsegment"),
        when(col("nd").isNotNull, datediff(col("nd"), col("d")))
          .otherwise(datediff(col("mxd"), col("d")))
          .cast("long").as("dur"),
        when(col("nd").isNotNull, 1L).otherwise(0L).as("event"))
  }

  /** q280/q331 shared oracle CTE chain ending in the spell relation. */
  private val spellsCte =
    """o AS (SELECT o_custkey, c_mktsegment, o_orderkey,
                      CAST(o_orderdate AS DATE) AS d
                    FROM orders JOIN customer ON o_custkey = c_custkey),
          mx AS (SELECT max(d) AS mxd FROM o),
          sp AS (SELECT c_mktsegment,
                   CAST(CASE WHEN nd IS NOT NULL
                     THEN date_diff('day', d, nd)
                     ELSE date_diff('day', d, mxd) END AS BIGINT) AS dur,
                   CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END AS event
                 FROM (SELECT *, lead(d) OVER (PARTITION BY o_custkey
                         ORDER BY d, o_orderkey) AS nd FROM o)
                 CROSS JOIN mx)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1/P2/F8: project + decimal cast + null drop (transform_data.py:55-65)
    "q01_clean_cast" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // The DECIMAL(15,4) cast is the operator under test; the final
          // cast back to DOUBLE canonicalizes the OUTPUT representation —
          // pyarrow reads Spark's parquet DECIMAL as python Decimal('x.0000')
          // while DuckDB's fetchdf() lowers DECIMAL(15,4) to float64, so a
          // raw decimal column hash-mismatches on representation even when
          // every value is equal (round-2 q01 failure mode).
          col("l_quantity").cast(DecimalType(15, 4)).cast(DoubleType).as("qty"),
          col("l_extendedprice").cast(DecimalType(15, 4)).cast(DoubleType).as("price"))
        .na.drop(Seq("qty", "price"))
        // (l_orderkey, l_linenumber) is NOT unique in the driver's synthetic
        // data — include the value columns so the sort is a total order and
        // the driver's order-sensitive hash is stable.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty"), col("price"))
    }),

    // J1/A6: inner equi-join + grouped rollup with conditional tallies
    // (transform_data.py:121-141; validate_data.py:163-199)
    "q07_join_rollup" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
          max(col("o_totalprice")).as("max_order"))
        .orderBy(col("o_orderpriority"))
    }),

    // J2: left-anti join — customers with no large order
    // (audit_pipeline.py:189-198 missing-bar detect pattern)
    "q08_anti_join" -> ((s, dir) => {
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
      Tables.customer(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J3/F15: cross join with broadcast dim + string concat
    // (audit_pipeline.py:185-186; transform_data.py:126)
    "q09_cross_concat" -> ((s, dir) => {
      Tables.region(s, dir)
        .crossJoin(broadcast(Tables.nation(s, dir)))
        .select(
          concat_ws("-", col("r_name"), col("n_name")).as("pair_name"),
          col("r_regionkey"), col("n_nationkey"))
        .orderBy(col("pair_name"), col("r_regionkey"), col("n_nationkey"))
    }),

    // A6: global conditional rollup (run-summary shape, validate_data.py:194-216)
    "q14_run_summary" -> ((s, dir) => {
      Tables.orders(s, dir).agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("first_order"))
    }),

    // F1/F12: date part extraction + formatting (transform_data.py:53;
    // audit_pipeline.py:196)
    "q18_date_fns" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"), col("o_orderdate"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("qtr"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy(col("o_orderkey"))
    }),

    // Sketch aggregates: HLL approx-distinct + quantile sketch. Sketch
    // *values* differ across engines by design, so the query emits
    // error-bound BOOLEANS (approx within tolerance of exact) — both
    // engines then produce identical deterministic TRUE rows, and the
    // driver's hash gate verifies the sketches actually met the bound.
    // Tolerances: HLL rsd=0.01 → 4σ = 4%; quantile sketch at
    // accuracy=10000 on this data → ≤1% relative rank error.
    "q32_approx_stats" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx_orders"),
          count_distinct(col("l_orderkey")).as("exact_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap50"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("ap99"),
          expr("percentile(l_extendedprice, 0.5)").as("ep50"),
          expr("percentile(l_extendedprice, 0.99)").as("ep99"))
        .select(
          col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")).cast(DoubleType) /
            col("exact_orders") <= 0.04).as("hll_ok"),
          (abs(col("ap50") - col("ep50")) / col("ep50") <= 0.01).as("p50_ok"),
          (abs(col("ap99") - col("ep99")) / col("ep99") <= 0.01).as("p99_ok"))
    }),

    // Statistical aggregates computed from EXACT decimal co-moments:
    // Spark's corr/covar accumulate doubles in partition order (not
    // reproducible across engines or runs at scale), so both engines
    // compute n/Σx/Σy/Σxy/Σx²/Σy² in DECIMAL and apply the same
    // closed-form in double — bit-identical results by construction.
    "q34_exact_stats" -> ((s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(28, 6)))
      Tables.lineitem(s, dir)
        .agg(
          count(lit(1)).as("n"),
          dsum(x).as("sx"), dsum(y).as("sy"),
          dsum(x * y).as("sxy"), dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
        .select(
          col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))), 6)
            .as("corr_xy"),
          round((col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / col("n")) /
            (col("n") - 1), 4).as("covar_samp"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 6)
            .as("slope"))
    }),

    // Exact percentiles (linear interpolation — same definition in
    // both engines; Spark `percentile` ≙ DuckDB `quantile_cont`)
    "q35_percentile" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
    }),

    // Grouping sets via ROLLUP: per (returnflag, linestatus) subtotals,
    // per-returnflag totals, grand total — one pass
    "q37_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // J2-mirror: left-semi join — customers WITH a large order (q08 is
    // the anti side; semi completes the existence-join family)
    "q48_semi_join" -> ((s, dir) => {
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
      Tables.customer(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Set operations: INTERSECT / EXCEPT over distinct day sets
    "q47_set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def days(t: String) = ev.filter(col("event_type") === t)
        .select(to_date(col("ts")).as("d")).distinct()
      val both = days("click").intersect(days("error"))
        .withColumn("op", lit("click_and_error"))
      val only = days("click").except(days("purchase"))
        .withColumn("op", lit("click_not_purchase"))
      both.unionByName(only).orderBy(col("op"), col("d"))
    }),

    // Regex functions over document text (patterns restricted to
    // simple character classes, identical in Java regex and RE2)
    "q45_regex" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "(s[a-z]+)", 1).as("first_s"),
          length(regexp_replace(col("text"), "[aeiou]", "")).cast("long").as("novowel_len"),
          ((length(col("text")) - length(regexp_replace(col("text"), "table", ""))) / 5)
            .cast("long").as("n_table"))
        .orderBy(col("doc_id"))
    }),

    // Array higher-order functions: filter / transform / aggregate /
    // element extremes over the embedding vectors
    "q50_array_hof" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(filter(col("embedding"), x => x > 0)).as("n_pos"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)), 6).as("sum_sq"),
          round(array_max(col("embedding")).cast(DoubleType), 6).as("mx"),
          round(array_min(col("embedding")).cast(DoubleType), 6).as("mn"))
        .orderBy(col("vec_id"))
    }),

    // String functions: case, substring, padding, reverse, exact edit
    // distance — all integer/string-exact across engines
    "q51_string_fns" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          upper(substring(col("text"), 1, 10)).as("head10"),
          lpad(col("lang"), 5, "_").as("lang_pad"),
          reverse(substring(col("text"), 1, 10)).as("rev10"),
          levenshtein(substring(col("text"), 1, 10),
            reverse(substring(col("text"), 1, 10))).as("lev"),
          ascii(col("text")).as("first_cp"))
        .orderBy(col("doc_id"))
    }),

    // JSON functions: path extraction (get_json_object) and typed
    // parsing (from_json) over the events.props payload column — both
    // engines agree on extracted VALUES; constructed-JSON output is
    // deliberately avoided (key order/whitespace differ across engines)
    "q52_json_fns" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k_typed"),
          pmod(get_json_object(col("props"), "$.k").cast("long"), lit(7L)).as("k_mod"),
          get_json_object(col("props"), "$.k").isNotNull.as("has_k"))
        .orderBy(col("event_id"))
    }),

    // Grouping sets via CUBE + grouping() flags (completes the
    // rollup/cube family started by q37); NULL group keys are coalesced
    // to a sentinel so the sort order is engine-independent
    "q53_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          exactSum(col("o_totalprice")).as("total"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("g_status"), col("g_prio"), col("n"), col("total"))
        .orderBy(col("g_status"), col("g_prio"), col("status"), col("priority"))
    }),

    // FULL OUTER join: order days vs ship days (ship dates extend past
    // the last order date, so both unmatched sides are exercised)
    "q54_full_outer" -> ((s, dir) => {
      val od = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d")).agg(count(lit(1)).as("n_orders"))
      val sd = Tables.lineitem(s, dir)
        .groupBy(col("l_shipdate").as("d")).agg(count(lit(1)).as("n_ships"))
      od.join(sd, Seq("d"), "full_outer")
        .select(
          col("d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ships"), lit(0L)).as("n_ships"),
          (col("n_orders").isNotNull && col("n_ships").isNotNull).as("both"))
        .orderBy(col("d"))
    }),

    // Deterministic hash sampling — the reproducible, engine-portable
    // TABLESAMPLE: an md5-derived bucket on the row key selects an
    // exact, stable 10% subset at any scale (no RNG, no seed drift
    // across partitionings), then aggregates it
    "q55_hash_sample" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .withColumn("hk", graft.functions.CrossHash.x32(
          concat_ws("#", col("l_orderkey"), col("l_linenumber"))))
        .filter(pmod(col("hk"), lit(10L)) === 0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // Sessionization (gaps-and-islands): per-user sessions split at
    // 30-min inactivity gaps, on integer epoch-microseconds so the
    // gap predicate is identical across engines; (us, event_id) is a
    // total order within each user. The break rule is STRICT
    // (diff >= gap splits) — the same half-open-window semantics as
    // streaming session_window, so batch, oracle, and the streaming
    // Sessionizer share one definition of a session.
    "q56_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val wRun = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("prev_us").isNull || col("us") - col("prev_us") >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_n", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("session_n"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
        .orderBy(col("user_id"), col("session_n"))
    }),

    // Bitwise aggregates (bit_and/bit_or/bit_xor) + scalar bit ops per
    // group — ids are non-negative so &/%/<< agree across engines
    "q58_bitwise" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("bit_and(user_id)").as("band"),
          expr("bit_or(user_id)").as("bor"),
          expr("bit_xor(user_id)").as("bxor"),
          max(col("user_id").bitwiseAND(lit(255L))).as("max_low8"),
          min(shiftleft(col("user_id").bitwiseAND(lit(15L)), 2)).as("min_nib_sh"))
        .orderBy(col("event_type"))
    }),

    // Approximate percentile (KLL-style sketch) audited against the
    // exact percentile as error-bound booleans (the q32/q44 pattern:
    // sketches aren't bit-identical across engines, bounds are)
    "q63_approx_pct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)").as("ap"),
          expr("percentile(l_extendedprice, 0.5)").as("e50"),
          expr("percentile(l_extendedprice, 0.9)").as("e90"))
        .select(
          round(col("e50"), 4).as("p50"),
          round(col("e90"), 4).as("p90"),
          (abs(element_at(col("ap"), 1) - col("e50")) / col("e50") <= 0.01).as("p50_ok"),
          (abs(element_at(col("ap"), 2) - col("e90")) / col("e90") <= 0.01).as("p90_ok"))
    }),

    // SQL front door: a full SQL query through the parser/analyzer with
    // a correlated scalar subquery (Catalyst decorrelates it to an
    // aggregate + join — the declarative plan survives optimization)
    "q64_sql_subquery" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c.c_custkey, c.c_name,
          (SELECT count(*) FROM orders_v o
           WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer_v c
        WHERE (SELECT count(*) FROM orders_v o
               WHERE o.o_custkey = c.c_custkey) >= 12
        ORDER BY c.c_custkey""")
    }),

    // Date arithmetic + null-handling functions: date_add / last_day /
    // date_trunc / datediff / quarter, nullif / coalesce
    "q67_date_arith" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("od", to_date(col("o_orderdate")))
        .select(
          col("o_orderkey"),
          col("od"),
          date_add(col("od"), 30).as("due_30"),
          last_day(col("od")).as("month_end"),
          date_trunc("month", col("od")).cast("date").as("month_start"),
          datediff(to_date(lit("1998-12-31")), col("od")).as("days_to_end"),
          quarter(col("od")).as("qtr"),
          nullif(col("o_orderstatus"), lit("O")).as("closed_status"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_nz"))
        .orderBy(col("o_orderkey"))
    }),

    // Explicit GROUPING SETS through the SQL front door (the third
    // member of the rollup/cube family, with per-column grouping flags)
    "q68_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT coalesce(l_returnflag, '(all)') AS rf,
          coalesce(l_linestatus, '(all)') AS ls,
          CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          count(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, rf, ls""")
    }),

    // (beyond ref) MERGE/upsert semantics as a declarative plan: a new
    // snapshot = updates override base, unmatched updates insert,
    // unmatched base rows keep — the scale path the reference's
    // full-refresh overwrite grows into (SURVEY §1.3). One full-outer
    // shuffle on the key (zero with bucketed layouts).
    "q74_merge_upsert" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val base = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("key"),
          col("o_totalprice").cast(DoubleType).as("b_price"),
          col("o_orderstatus").as("b_status"))
      val updates = orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("key"),
          (col("o_totalprice").cast(DoubleType) + 100.0).as("u_price"),
          lit("U").as("u_status"))
      base.join(updates, Seq("key"), "full_outer")
        .select(col("key"),
          coalesce(col("u_price"), col("b_price")).as("price"),
          coalesce(col("u_status"), col("b_status")).as("status"),
          when(col("b_price").isNull, "insert")
            .when(col("u_price").isNotNull, "update")
            .otherwise("keep").as("action"))
        .orderBy(col("key"))
    }),

    // F9: array size + element access on the embeddings table
    "q20_array_ops" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast(DoubleType), 6).as("e1"),
          col("label"))
        .orderBy(col("vec_id"))
    }),

    // Ordered-step funnel: view → click → purchase, each step within
    // 60 min of the previous step's first qualifying event
    "q80_funnel" -> ((s, dir) => {
      graft.ops.EventAnalytics.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"), windowMinutes = 60)
        .orderBy(col("step"))
    }),

    // Cohort retention: users cohorted by first active day, exact
    // distinct-user counts per (cohort, day-offset) cell
    "q81_retention" -> ((s, dir) => {
      graft.ops.EventAnalytics.retention(Tables.events(s, dir))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // Arg-extremum aggregates: max_by/min_by with a STRUCT ordering
    // value — the struct's lexicographic compare makes the tie-break
    // explicit (price desc then orderkey desc / date asc then orderkey
    // asc), so the pick is deterministic where bare max_by(k, price)
    // would not be. One hash aggregate, fully map-side partial.
    "q82_argmax" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
          max(col("o_totalprice")).as("top_price"),
          min_by(col("o_orderkey"),
            struct(col("o_orderdate"), col("o_orderkey"))).as("first_order"),
          min(col("o_orderdate")).as("first_date"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey"))
    }),

    // Single-pass column profiler: one scan + one aggregate yields
    // completeness/cardinality/range/mass per numeric column, then
    // stack-unpivots to a row per column (ops/Profiler)
    "q87_profile" -> ((s, dir) => {
      graft.ops.Profiler.profile(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_name"))
    }),

    // Z-order clustering key: Morton-interleave (l_partkey, l_suppkey)
    // low 16 bits — the write-side layout that lets ONE sort order
    // prune parquet row groups on BOTH keys; pure map-side codegen bit
    // math, first 100 rows of the clustered order as the gate sample
    "q105_zorder" -> ((s, dir) => {
      graft.ops.LayoutOps.zOrdered(Tables.lineitem(s, dir), "l_partkey", "l_suppkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("z"))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),

    // TPC-H Q3 shape (shipping priority): customer ⋈ orders ⋈ lineitem
    // with date predicates on both fact sides, revenue decimal-summed,
    // global top-10 with a total-order tie-break. The plan showcase:
    // the segment-filtered customer join side is AQE-chosen (customer
    // grows with SF), both date filters
    // push to the scans, the agg is map-side partial, and the top-10
    // is a TakeOrdered — no global sort
    "q117_shipping_priority" -> ((s, dir) => {
      val cut = to_timestamp(lit("1998-06-01 00:00:00"))
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cut)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > cut)
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(28, 6))).cast(DoubleType), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate"), col("o_orderpriority"))
    }),

    // TPC-H Q5 shape (local supplier volume): the 6-way snowflake join
    // — customer/supplier co-located by nation, revenue per (region,
    // nation), dims broadcast, facts shuffle on their join keys only
    "q118_regional_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(28, 6))).cast(DoubleType), 2).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Fuzzy dimension self-join: nation-name pairs within edit
    // distance 1 (levenshtein is exact integer math — identical in
    // both engines); broadcast build side — the entity-resolution
    // shape for small dims
    "q114_fuzzy_join" -> ((s, dir) => {
      val a = Tables.nation(s, dir)
        .select(col("n_nationkey").as("id_a"), col("n_name").as("name_a"))
      val b = Tables.nation(s, dir)
        .select(col("n_nationkey").as("id_b"), col("n_name").as("name_b"))
      a.join(broadcast(b),
        col("id_a") < col("id_b") &&
          levenshtein(col("name_a"), col("name_b")) <= 1)
        .select(col("id_a"), col("name_a"), col("id_b"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("int").as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Equi-width histogram per event series: 10 bins over the series'
    // own [min, max] range (stats broadcast back; identical double
    // bin math in both engines; degenerate zero-width range -> bin 0)
    "q115_histogram" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val st = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.join(broadcast(st), "event_type")
        .withColumn("w", (col("hi") - col("lo")) / 10.0)
        .withColumn("bin",
          when(col("w") > 0,
            least(lit(9), floor((col("value") - col("lo")) / col("w")).cast("int")))
            .otherwise(0).cast("int"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("v_min"),
          round(max(col("value")), 6).as("v_max"))
        .orderBy(col("event_type"), col("bin"))
    }),

    // Pairwise Pearson correlation matrix over the lineitem measures:
    // ONE pass accumulates every sum in DECIMAL (q34 rule), the
    // co-moment arithmetic forms in DOUBLE from the exact sums (the
    // q111 rule), and the 6 pairs unpivot from the single row
    "q116_corr_matrix" -> ((s, dir) => {
      CoreQueries.corrMatrix(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_a"), col("col_b"))
    }),

    // Bounded-iteration PageRank (5 rounds, d=0.85) over the directed
    // supplier→part graph (part ids offset into their own node space);
    // per-edge contributions round 12dp then DECIMAL-sum, so every
    // iteration is a bit-exact relation in both engines
    "q108_pagerank" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000L).as("dst"))
      graft.ops.GraphOps.pageRank(edges, "src", "dst", iters = 5)
        .orderBy(col("id"))
    }),

    // First-order Markov transition matrix over per-user event
    // sequences: lag window keyed by user (many small partitions),
    // |types|²-bounded aggregate, row-normalized probabilities
    "q120_transitions" -> ((s, dir) => {
      graft.ops.EventAnalytics.transitions(Tables.events(s, dir))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Per-group OLS fit (slope/intercept/R²) from decimal-exact
    // co-moment sums — grouped regr_slope with order-proof results
    "q121_group_ols" -> ((s, dir) => {
      CoreQueries.olsFit(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag"))
    }),

    // Hour-of-day seasonal baseline + per-type seasonal index (the
    // de-seasonalization table monitoring divides by)
    "q123_seasonal" -> ((s, dir) => {
      graft.ops.EventAnalytics.seasonalBaseline(Tables.events(s, dir))
        .orderBy(col("event_type"), col("hr"))
    }),

    // Grouped higher-moment profile: mean/variance/skewness/kurtosis
    // per group from exact raw-moment sums (x..x⁴ on the sum_fixed6
    // kernel — one map-side-combinable aggregate; the central-moment
    // forms share one double expression shape with the oracle)
    "q128_moments" -> ((s, dir) => {
      CoreQueries.momentProfile(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity")
        .orderBy(col("l_returnflag"))
    }),

    // Event-path trigram mining: top (t1 → t2 → t3) sequences over
    // per-user (ts, event_id)-ordered histories — two lags, one
    // |types|³-bounded aggregate, deterministic top-k cut
    "q129_path_ngrams" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("t1", lag(col("event_type"), 2).over(w))
        .withColumn("t2", lag(col("event_type"), 1).over(w))
        .filter(col("t1").isNotNull)
        .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(25)
    }),

    // Winsorized robust mean per series: exact p05/p95 fences
    // (percentile ≙ quantile_cont, rounded 6dp before the boundary
    // compare — the q95/q109 fence rule), clamp, exact clamped mean +
    // clip counts; fences broadcast back onto the scan
    "q130_winsorize" -> ((s, dir) => {
      graft.functions.FixedPoint.register(s)
      val ev = Tables.events(s, dir)
      val fences = ev.groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.05)"), 6).as("lo"),
        round(expr("percentile(value, 0.95)"), 6).as("hi"))
      val clamped = least(greatest(col("value"), col("lo")), col("hi"))
      ev.join(broadcast(fences), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          first(col("lo")).as("lo"), first(col("hi")).as("hi"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          graft.functions.FixedPoint.sumFixed6(clamped).as("s"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          col("n_lo"), col("n_hi"),
          ExactRound.ratioRound(
            ExactRound.toUnscaled(col("s").cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6),
            col("n") * lit(1000000L), 6).as("wins_mean"))
        .orderBy(col("event_type"))
    }),

    // Benford first-digit audit on lineitem prices: leading digit via
    // exact cents→long→string (NO log10 on doubles — double→string
    // reprs differ between engines, long→string doesn't), observed
    // share vs the log10(1+1/d) expectation, both floor-form 6dp (the
    // q90 rule). Map-only scan + a 9-row aggregate + broadcast total.
    "q134_benford" -> ((s, dir) => {
      val cents =
        floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
      val byDigit = Tables.lineitem(s, dir)
        .select(cents.as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = byDigit.agg(sum(col("n")).as("total"))
      byDigit.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          (floor(col("n").cast(DoubleType) / col("total").cast(DoubleType) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("obs_p"),
          (floor(log(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)) /
            log(lit(10.0)) * lit(1e6) + lit(0.5)) / lit(1e6)).as("benford_p"))
        .orderBy(col("digit"))
    }),

    // Last-touch attribution: each purchase attributed to the user's
    // most recent click within 60 min (AsOfJoin.backward + the q94
    // tolerance null-out — no range-join explosion)
    "q131_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .withColumn("click_ts", col("ts"))
      val fresh = col("click_ts") >=
        col("ts") - expr("INTERVAL 60 MINUTES")
      graft.ops.AsOfJoin.backward(purchases, clicks,
          Seq("user_id"), "ts", Seq("click_ts", "click_id"))
        .select(col("purchase_id"), col("user_id"), col("ts"), col("value"),
          when(fresh, col("click_ts")).as("click_ts"),
          when(fresh, col("click_id")).as("click_id"))
        .orderBy(col("purchase_id"))
    }),

    // TPC-H Q1-shape pricing summary: the canonical scan-heavy
    // aggregate, money sums on the sum_fixed6 kernel (exact 6dp fold
    // in pure long arithmetic — see functions/FixedPoint.scala), all
    // ratios formed from the exact sums
    "q125_pricing_summary" -> ((s, dir) => {
      graft.functions.FixedPoint.register(s)
      def sf6(c: org.apache.spark.sql.Column) =
        graft.functions.FixedPoint.sumFixed6(c)
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sf6(col("l_quantity")).as("sq"),
          sf6(col("l_extendedprice")).as("sb"),
          sf6(disc).as("sd"),
          sf6(disc * (lit(1) + col("l_tax"))).as("sc"),
          sf6(col("l_discount")).as("sdisc"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("sq"), 4).as("sum_qty"),
          round(col("sb"), 4).as("sum_base_price"),
          round(col("sd"), 4).as("sum_disc_price"),
          round(col("sc"), 4).as("sum_charge"),
          round(col("sq") / col("n"), 6).as("avg_qty"),
          round(col("sb") / col("n"), 6).as("avg_price"),
          round(col("sdisc") / col("n"), 6).as("avg_disc"),
          col("n").as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Supplier-concentration audit: HHI + top share of revenue per
    // nation (fact-side aggregate first; supplier grows with SF so
    // AQE picks its join side, fixed nation dim broadcasts)
    "q124_hhi" -> ((s, dir) => {
      val joined = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
      CoreQueries.concentration(joined, "n_name", "l_suppkey",
        col("l_extendedprice") * (lit(1) - col("l_discount")))
        .orderBy(col("n_name"))
    }),

    // SCD Type 2 build (WarehouseOps.scd2): collapse each customer's
    // order-status snapshot log into validity intervals — one row per
    // status change with effective_from/to, version, is_current
    "q138_scd2" -> ((s, dir) => {
      val snaps = Tables.rebalance(Tables.orders(s, dir))
        .select(col("o_custkey").as("custkey"),
          to_date(col("o_orderdate")).as("snap_d"),
          col("o_orderkey").as("tie"),
          col("o_orderstatus").as("status"))
      WarehouseOps.scd2(snaps, "custkey", "snap_d", "tie", "status")
        .orderBy(col("custkey"), col("version"))
    }),

    // Exact two-sample KS drift per event type (EventAnalytics
    // .ksDrift): value-distribution shift between the first half of
    // the period and the rest — all-integer sup-CDF core
    "q142_ks_drift" -> ((s, dir) => {
      graft.ops.EventAnalytics.ksDrift(Tables.events(s, dir),
        col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
        .orderBy(col("event_type"))
    }),

    // Mann–Whitney rank-sum AUC per event type (EventAnalytics
    // .rankSumDrift): directional-shift effect size next to q142's
    // KS sup-distance, exact doubled-mid-rank core
    "q145_rank_sum" -> ((s, dir) => {
      graft.ops.EventAnalytics.rankSumDrift(Tables.events(s, dir),
        col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
        .orderBy(col("event_type"))
    }),

    // Point-in-time join onto the SCD2 dimension (q138's build +
    // AsOfJoin.backward): annotate each order with the status version
    // valid at its date — the PIT-correctness pattern of feature
    // stores and training-data joins. Same-date versions collapse to
    // the highest (the state holding at end of day), making the as-of
    // tie-free and deterministic.
    "q147_pit_join" -> ((s, dir) => {
      val snaps = Tables.rebalance(Tables.orders(s, dir))
        .select(col("o_custkey").as("custkey"),
          to_date(col("o_orderdate")).as("snap_d"),
          col("o_orderkey").as("tie"),
          col("o_orderstatus").as("status"))
      val dim = WarehouseOps.scd2(snaps, "custkey", "snap_d", "tie", "status")
      val wf = Window.partitionBy(col("custkey"), col("effective_from"))
        .orderBy(col("version").desc)
      val dim1 = dim.withColumn("rn", row_number().over(wf))
        .filter(col("rn") === 1)
        .select(col("custkey"), col("effective_from").as("pit_d"),
          col("status"), col("version"))
      val facts = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"),
          to_date(col("o_orderdate")).as("pit_d"),
          col("o_orderkey"), col("o_totalprice"))
      graft.ops.AsOfJoin.backward(facts, dim1, Seq("custkey"), "pit_d",
          Seq("status", "version"))
        .select(col("o_orderkey"), col("custkey"), col("pit_d"),
          col("status"), col("version"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // CUPED variance-reduced A/B lift (EventAnalytics.cupedLift):
    // hash-assigned variants, θ = cov(x,y)/var(x) from pre/post-period
    // per-user sums, lift on the adjusted metric y − θ(x − x̄)
    "q149_cuped_lift" -> ((s, dir) => {
      graft.ops.EventAnalytics.cupedLift(Tables.events(s, dir),
        col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
    }),

    // Snapshot diff / CDC audit (EventAnalytics.snapshotDiff): each
    // user's argmax state at two cutoffs full-outer-joined into the
    // added/changed/unchanged transition matrix
    "q174_snapshot_diff" -> ((s, dir) => {
      graft.ops.EventAnalytics.snapshotDiff(Tables.events(s, dir),
        to_timestamp(lit("2024-01-15 00:00:00")),
        to_timestamp(lit("2024-02-01 00:00:00")))
        .orderBy(col("old_state"), col("new_state"))
    }),

    // Funnel conversion latency view→purchase (EventAnalytics
    // .conversionLatency): how LONG the funnel takes, next to q80's
    // how many convert — all-integer µs chain
    "q176_conversion_latency" -> ((s, dir) => {
      graft.ops.EventAnalytics.conversionLatency(Tables.events(s, dir),
        "view", "purchase")
    }),

    // DAU/WAU stickiness per day (EventAnalytics.stickiness): the
    // engagement ratio next to q81's cohort retention
    "q178_stickiness" -> ((s, dir) => {
      graft.ops.EventAnalytics.stickiness(Tables.events(s, dir))
        .orderBy(col("d"))
    }),

    // Per-user session-depth stats over the q56 rule (EventAnalytics
    // .sessionStats): engagement intensity next to q178's breadth
    "q180_session_stats" -> ((s, dir) => {
      graft.ops.EventAnalytics.sessionStats(Tables.events(s, dir))
        .orderBy(col("user_id"))
    }),

    // RFM quintile segmentation (EventAnalytics.rfm): the classic
    // user-value taxonomy over recency/frequency/purchase-monetary
    "q184_rfm" -> ((s, dir) => {
      graft.ops.EventAnalytics.rfm(Tables.events(s, dir))
        .orderBy(col("segment"))
    }),

    // Engagement Gini + top-decile share (EventAnalytics
    // .engagementGini): activity-concentration next to q178
    "q185_engagement_gini" -> ((s, dir) => {
      graft.ops.EventAnalytics.engagementGini(Tables.events(s, dir))
    }),

    // Within-session conversion funnel (EventAnalytics.sessionFunnel):
    // q56's sessions, q176's A-then-B rule scoped to one session
    "q209_session_funnel" -> ((s, dir) => {
      graft.ops.EventAnalytics.sessionFunnel(Tables.events(s, dir))
        .orderBy(col("d"))
    }),

    // Market-basket part affinity: co-occurrence support/confidence/
    // lift over orders — pair build is q155's map-side array
    // comprehension (no posexplode self-join); part-count join sides
    // are item-level aggregates
    "q206_basket_lift" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val baskets = li.groupBy(col("ok"))
        .agg(sort_array(collect_set(col("pk"))).as("ps"))
      val pairs = baskets
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), " +
            "y -> struct(x AS pa, y AS pb))))")).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 3)
      val partCnt = li.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val tot = li.agg(count_distinct(col("ok")).as("n_orders"))
      pairs
        .join(partCnt.select(col("pk").as("pa"), col("c").as("ca")), "pa")
        .join(partCnt.select(col("pk").as("pb"), col("c").as("cb")), "pb")
        .crossJoin(broadcast(tot))
        .select(col("pa"), col("pb"), col("n_both"), col("ca"), col("cb"),
          ExactRound.ratioRound(col("n_both"), col("n_orders"), 6)
            .as("support"),
          ExactRound.ratioRound(col("n_both"), col("ca"), 4)
            .as("confidence"),
          ExactRound.ratioRound(col("n_both") * col("n_orders"),
            col("ca") * col("cb"), 4).as("lift"))
        .orderBy(col("lift").desc, col("pa"), col("pb"))
        .limit(20)
    }),

    // Relational expectation suite over the star schema
    // (WarehouseOps.tableExpectations): uniqueness / FK / range /
    // temporal checks, one row per named check
    "q204_dq_expectations" -> ((s, dir) => {
      graft.ops.WarehouseOps.tableExpectations(
          Tables.lineitem(s, dir), Tables.orders(s, dir),
          Tables.customer(s, dir))
        .orderBy(col("check_name"))
    }),

    // Order-to-ship latency distribution per priority: exact
    // interpolated percentiles over the orders x lineitem join (q35's
    // percentile <-> quantile_cont mapping)
    "q198_ship_latency" -> ((s, dir) => {
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .withColumn("lat_days",
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          min(col("lat_days")).as("min_days"),
          round(expr("percentile(lat_days, 0.5)"), 4).as("p50"),
          round(expr("percentile(lat_days, 0.9)"), 4).as("p90"),
          max(col("lat_days")).as("max_days"))
        .orderBy(col("o_orderpriority"))
    }),

    // Incremental daily-aggregate refresh under late data
    // (WarehouseOps.incrementalDailyAgg): every 97th event arrives
    // late; the refresh recomputes only the touched days and must
    // equal the from-scratch rollup (the oracle IS the full rollup)
    "q195_incremental_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val late = ev.filter(col("event_id") % 97 === 0)
      val early = ev.filter(col("event_id") % 97 =!= 0)
      graft.ops.WarehouseOps.incrementalDailyAgg(
          graft.ops.WarehouseOps.dailyAgg(early), ev, late)
        .orderBy(col("d"), col("event_type"))
    }),

    // TPC-H Q10 shape (returned-item revenue): who sent the most value
    // back — lineitem filter pushes to the scan, facts shuffle on
    // their join keys, nation broadcasts, top-20 via TakeOrdered
    "q191_returned_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(28, 6))).cast(DoubleType), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("n_items"), col("revenue"))
    }),

    // TPC-H Q7 shape (nation trade volume): the two-role nation join —
    // lineitem reaches the CUSTOMER nation through orders and the
    // SUPPLIER nation directly; both nation dims broadcast (two
    // distinct aliases of one 25-row table), the facts shuffle once
    // each on their join keys, revenue per (supp_nation, cust_nation,
    // year) triple in exact DECIMAL
    "q210_nation_trade" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      val nSupp = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val nCust = Tables.nation(s, dir)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      li.join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nSupp), col("s_nationkey") === col("sn_key"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nCust), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(count(lit(1)).as("n_items"),
          // round the DECIMAL (exact HALF_UP), THEN cast — a sum
          // landing exactly on .xx5 would tie-break differently after
          // a double cast (the q200 rescale-before-round lesson)
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(28, 6))), 2).cast(DoubleType).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape (market share): of the STANDARD-part revenue sold
    // into ASIA-region customers, the share supplied from NATION_3 by
    // order year — the conditional-numerator / total-denominator ratio
    // from ONE aggregate pass over the snowflake join (no second scan)
    "q211_market_share" -> ((s, dir) => {
      val asiaCust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val nSupp = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(28, 6))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nSupp), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(lit(0).cast(DecimalType(28, 6)))).as("nat_rev"),
          sum(rev).as("tot_rev"))
        .select(col("o_year"),
          round(col("nat_rev"), 2).cast(DoubleType).as("nation_revenue"),
          round(col("tot_rev"), 2).cast(DoubleType).as("total_revenue"),
          ExactRound.ratioRound(
            ExactRound.toUnscaled(col("nat_rev"), 6),
            ExactRound.toUnscaled(col("tot_rev"), 6), 6)
            .as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q14 shape (promo revenue share): per ship month, the
    // PROMO-type fraction of revenue — part grows with SF so AQE
    // picks the join strategy (broadcast at bench scale), the
    // numerator is a conditional DECIMAL sum inside the same aggregate
    "q212_promo_share" -> ((s, dir) => {
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(28, 6))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(trunc(to_date(col("l_shipdate")), "month").as("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(DecimalType(28, 6)))).as("pr"),
          sum(rev).as("tr"))
        .select(col("ship_month"), col("n_items"),
          round(col("pr"), 2).cast(DoubleType).as("promo_revenue"),
          ExactRound.ratioRound(
            ExactRound.toUnscaled(col("pr"), 6) * lit(100L),
            ExactRound.toUnscaled(col("tr"), 6), 6).as("promo_pct"))
        .orderBy(col("ship_month"))
    }),

    // TPC-H Q17 shape (small-quantity orders): lineitems below HALF the
    // part's own average quantity, revenue per brand — the correlated
    // scalar subquery decorrelated into a pre-aggregated per-part
    // threshold joined back to the fact (two scans, one shuffle each;
    // threshold is |part|-sized and grows with SF — no forced hint,
    // AQE broadcasts it at bench scale and shuffles it at 100 TB)
    "q213_small_qty" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val thr = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((sum(col("l_quantity").cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("avg_qty"))
      li.join(thr, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"),
          round((sum(col("l_extendedprice").cast(DecimalType(28, 6)))
            .cast(DoubleType) / lit(7.0)), 2).as("avg_yearly"))
        .orderBy(col("p_brand"))
    }),

    // TPC-H Q18 shape (large-volume orders): orders whose total
    // quantity exceeds 250 — the group-filter-join shape: lineitem
    // pre-aggregates per order FIRST (map-side combine), the HAVING
    // cut shrinks the relation before it ever joins customer/orders,
    // top-20 via TakeOrdered
    "q214_large_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 6)))
          .cast(DoubleType).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q22 shape (idle wealthy customers): customers with an
    // above-average (positive-balance) account who placed NO order in
    // the final year — scalar-subquery threshold broadcast back, then
    // a left-anti join against the recent-orders key set, rolled up by
    // nation
    "q215_idle_customers" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(28, 6)))
          .cast(DoubleType) / count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01 00:00:00")))
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast(DecimalType(28, 6))), 2)
            .cast(DoubleType).as("total_bal"))
        .orderBy(col("n_name"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): orders per
    // customer INCLUDING zero-order customers (left join), then the
    // distribution of those counts — the double-aggregate shape whose
    // first groupBy pre-shrinks to |customer| rows so the second is
    // trivial
    "q216_order_count_dist" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_cust").desc, col("n_orders").desc)
    }),

    // TPC-H Q6 shape (forecast revenue change): the pure scan-filter-
    // aggregate — every predicate pushes to the parquet scan, the
    // answer is one DECIMAL-exact row; the query that measures scan
    // efficiency and nothing else
    "q217_discount_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * col("l_discount"))
            .cast(DecimalType(28, 6))), 2).cast(DoubleType).as("revenue"))
    }),

    // TPC-H Q4 shape (order priority checking): orders in one quarter
    // with at least one lineitem shipped >90 days after the order —
    // the correlated EXISTS as a conditional LEFT SEMI join (the
    // probe side never duplicates orders however many lineitems
    // match), counted per priority
    "q228_late_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-07-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-10-01 00:00:00")))
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q15 shape (top supplier): suppliers hitting the MAX
    // half-year revenue — the view + scalar-max self-reference
    // decorrelated into a 1-row broadcast; the equality compares the
    // exact DECIMALS (never the rounded doubles), so float noise
    // cannot split the winners
    "q229_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-07-01 00:00:00")))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(28, 6))).as("r"))
      val mx = rev.agg(max(col("r")).as("mr"))
      rev.crossJoin(broadcast(mx))
        .filter(col("r") === col("mr"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("r"), 2).cast(DoubleType).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // Weekly revenue + week-over-week growth: the KPI time series —
    // corpus collapses to ISO weeks FIRST (map-side combine), the lag
    // window runs on the tiny weekly aggregate (q39 rule)
    "q238_revenue_wow" -> ((s, dir) => {
      val weekly = Tables.orders(s, dir)
        .groupBy(trunc(to_date(col("o_orderdate")), "week").as("wk"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(28, 6))).as("rd"))
      val w = Window.orderBy(col("wk"))
      weekly
        .withColumn("prev", lag(col("rd"), 1).over(w))
        .select(col("wk"), col("n_orders"),
          round(col("rd"), 2).cast(DoubleType).as("revenue"),
          when(col("prev").isNotNull && col("prev") > 0,
            ExactRound.ratioRound(
              ExactRound.toUnscaled(col("rd").cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6) -
                ExactRound.toUnscaled(col("prev").cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6),
              ExactRound.toUnscaled(col("prev").cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6), 6))
            .as("wow_growth"))
        .orderBy(col("wk"))
    }),

    // ABC / Pareto classification of parts by cumulative revenue
    // share: A carries the first 80%, B to 95%, C the tail — the
    // inventory-policy rollup. The |part|-sized aggregate's running
    // DECIMAL sum goes through ScalableRank.cumSum, and the class
    // fences compare one identical double quotient
    "q239_abc_pareto" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(28, 6))).as("rd"))
      val cum = graft.ops.ScalableRank.cumSum(rev, Seq.empty,
        Seq(col("rd").desc, col("l_partkey")), col("rd"), "cum")
      // grand total off the cumSum OUTPUT (identical exact-decimal
      // sum, no second lineitem aggregation)
      val tot = cum.agg(sum(col("rd")).as("td"))
      cum.crossJoin(broadcast(tot))
        .withColumn("cum_share",
          col("cum").cast(DoubleType) / col("td").cast(DoubleType))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.80, "A")
            .when(col("cum_share") <= 0.95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("rd")), 2).cast(DoubleType).as("class_revenue"),
          ExactRound.ratioRound(
            ExactRound.toUnscaled(sum(col("rd")).cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6),
            ExactRound.toUnscaled(max(col("td")).cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6), 6)
            .as("revenue_share"))
        .orderBy(col("abc_class"))
    }),

    // Customer inter-order gap by segment: days between a customer's
    // consecutive orders ((o_orderdate, o_orderkey) tie rule), rolled
    // up per market segment — the purchase-cadence face of q184's RFM
    "q244_order_gap" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("prev_d", lag(to_date(col("o_orderdate")), 1).over(w))
        .filter(col("prev_d").isNotNull)
        .withColumn("gap_days",
          datediff(to_date(col("o_orderdate")), col("prev_d")).cast("long"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_gaps"),
          floor(sum(col("gap_days")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType) + lit(0.5)).cast("long")
            .as("mean_gap_days"),
          round(expr("percentile(gap_days, 0.5)"), 4).as("p50_gap_days"))
        .orderBy(col("c_mktsegment"))
    }),

    // Part revenue growth movers, 1999 -> 2000: both year legs as
    // conditional DECIMAL sums in ONE scan pass; growth only above a
    // base-revenue floor (tiny denominators are noise, not movers),
    // top-20 via TakeOrdered with a full tie-break
    "q245_part_yoy" -> ((s, dir) => {
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(28, 6))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1999-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("2001-01-01 00:00:00")))
        .groupBy(col("l_partkey"))
        .agg(
          sum(when(col("l_shipdate") < to_timestamp(lit("2000-01-01 00:00:00")),
            rev).otherwise(lit(0).cast(DecimalType(28, 6)))).as("r1"),
          sum(when(col("l_shipdate") >= to_timestamp(lit("2000-01-01 00:00:00")),
            rev).otherwise(lit(0).cast(DecimalType(28, 6)))).as("r2"))
        .filter(col("r1") > 1000.0)
        .withColumn("growth",
          ExactRound.ratioRound(
            ExactRound.toUnscaled(col("r2"), 6) -
              ExactRound.toUnscaled(col("r1"), 6),
            ExactRound.toUnscaled(col("r1"), 6), 6))
        .select(col("l_partkey"),
          round(col("r1"), 2).cast(DoubleType).as("rev_1999"),
          round(col("r2"), 2).cast(DoubleType).as("rev_2000"),
          col("growth"))
        .orderBy(col("growth").desc, col("l_partkey"))
        .limit(20)
    }),

    // Average-order-value distribution per segment: exact
    // interpolated percentiles (q198 mapping) + a decimal-exact mean
    "q246_segment_aov" -> ((s, dir) => {
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(28, 6))), 2)
            .cast(DoubleType).as("total_value"),
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy(col("c_mktsegment"))
    }),

    // Shipping backlog path: daily items entering (by order date) vs
    // leaving (by ship date), cumulated — the open-pipeline inventory
    // curve. Both fact scans pre-shrink to daily counts before the
    // full-outer day align; cumulative windows run on the tiny daily
    // relation (q39 rule), all integers
    "q255_backlog" -> ((s, dir) => {
      val ordered = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_in"))
      val shipped = Tables.lineitem(s, dir)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("n_out"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ordered.join(shipped, Seq("d"), "full_outer")
        .na.fill(0L, Seq("n_in", "n_out"))
        .withColumn("cum_in", sum(col("n_in")).over(w))
        .withColumn("cum_out", sum(col("n_out")).over(w))
        .select(col("d"), col("n_in"), col("n_out"),
          (col("cum_in") - col("cum_out")).as("backlog"))
        .orderBy(col("d"))
    }),

    // Customer lifetime-value deciles: exact decimal LTV per customer,
    // ntile(10) over the (ltv desc, custkey) total order (identical
    // bucket arithmetic in both engines) via ScalableRank's global
    // row number — per-decile rollup
    "q256_ltv_deciles" -> ((s, dir) => {
      val ltv = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(28, 6))).as("ltv"))
      val ranked = graft.ops.ScalableRank.ntile(ltv, Seq.empty,
        Seq(col("ltv").desc, col("o_custkey")), 10, "decile")
      // grand total off the ntile OUTPUT (identical exact-decimal
      // sum, no second orders aggregation)
      val tot = ranked.agg(sum(col("ltv")).as("t"))
      ranked
        .crossJoin(broadcast(tot))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("n_orders")).as("n_orders"),
          round(sum(col("ltv")), 2).cast(DoubleType).as("decile_value"),
          ExactRound.ratioRound(
            ExactRound.toUnscaled(sum(col("ltv")).cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6),
            ExactRound.toUnscaled(max(col("t")).cast(org.apache.spark.sql.types.DecimalType(38, 6)), 6), 6)
            .as("value_share"))
        .orderBy(col("decile"))
    }),

    // Top-3 parts per supplier WITH ties (dense_rank, not row_number —
    // equal revenues share a rank and ALL survive the cut): the
    // ties-semantics window shape q36's rank inventory doesn't cover;
    // revenue compares on the exact DECIMAL so ties are real ties
    "q258_top_parts_with_ties" -> ((s, dir) => {
      val wd = Window.partitionBy(col("l_suppkey")).orderBy(col("rd").desc)
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") <= 20)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(28, 6))).as("rd"))
        .withColumn("rnk", dense_rank().over(wd))
        .filter(col("rnk") <= 3)
        .select(col("l_suppkey"), col("rnk"), col("l_partkey"),
          round(col("rd"), 2).cast(DoubleType).as("revenue"))
        .orderBy(col("l_suppkey"), col("rnk"), col("l_partkey"))
    }),

    // TPC-H Q16 shape (supplier breadth): distinct suppliers per
    // (brand, size bucket) over the OBSERVED part-supplier pairs
    // (lineitem's distinct pairs stand in for partsupp), one brand
    // excluded — the distinct-count-after-distinct-pairs shape
    "q261_supplier_breadth" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#1")
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          ((col("p_size") - 1) / 10).cast("int").as("size_bucket"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy(col("n_suppliers").desc, col("p_brand"), col("size_bucket"))
    }),

    // TPC-H Q9 shape (product profit): revenue minus a quantity-
    // scaled cost proxy (p_retailprice/10 per unit — the schema has
    // no ps_supplycost), by supplier nation and year; one DECIMAL
    // amount expression; fixed nation dim broadcasts, SF-scaling
    // part/supplier sides left to AQE
    "q262_product_profit" -> ((s, dir) => {
      val amount = (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        col("l_quantity") * (col("p_retailprice") / lit(10.0)))
        .cast(DecimalType(28, 6))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("l_year"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(amount), 2).cast(DoubleType).as("profit"))
        .orderBy(col("n_name"), col("l_year"))
    }),

    // Order-priority mix by year: share of each priority within its
    // year — the composition-shift telemetry; the share window runs
    // on the tiny (year, priority) aggregate (q39 rule)
    "q263_priority_mix" -> ((s, dir) => {
      val wYear = Window.partitionBy(col("o_year"))
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("o_year"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("share",
          ExactRound.ratioRound(col("n_orders"),
            sum(col("n_orders")).over(wYear), 6))
        .orderBy(col("o_year"), col("o_orderpriority"))
    }),

    // Cohort revenue triangle: customers grouped by first-order year,
    // revenue tracked per subsequent order year — the retention
    // economics table; the cohort key is a per-customer min (one
    // aggregate) joined back, and the triangle is a tiny rollup
    "q267_cohort_revenue" -> ((s, dir) => {
      val cohort = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("ck"))
        .agg(min(year(col("o_orderdate"))).as("cohort_year"))
      Tables.orders(s, dir)
        .join(cohort, col("o_custkey") === col("ck"))
        .groupBy(col("cohort_year"), year(col("o_orderdate")).as("order_year"))
        .agg(countDistinct(col("o_custkey")).as("n_active"),
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(28, 6))), 2)
            .cast(DoubleType).as("revenue"))
        .orderBy(col("cohort_year"), col("order_year"))
    }),

    // Discount elasticity: mean quantity per discount band — does the
    // markdown actually move volume; exact integer-ish sums (quantity
    // is integral), band = floor(discount·100)
    "q268_discount_elasticity" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(floor(col("l_discount") * lit(100.0)).cast("int")
          .as("disc_pct"))
        .agg(count(lit(1)).as("n_items"),
          ExactRound.ratioRound(
            ExactRound.toUnscaled(
              sum(col("l_quantity").cast(DecimalType(18, 6))), 6),
            count(lit(1)) * lit(1000000L), 6).as("avg_qty"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(28, 6))), 2).cast(DoubleType).as("revenue"))
        .orderBy(col("disc_pct"))
    }),

    // Items-per-order distribution: the order-size histogram — one
    // per-order count, one tiny count-of-counts rollup, all integers
    "q271_order_size_hist" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
        .groupBy(col("n_items"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_items"))
    }),

    // Return rate per brand: conditional count over the part join
    // (AQE-chosen side — part grows with SF) — the product-quality
    // league table
    "q264_return_rate" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"))
        .withColumn("return_rate",
          ExactRound.ratioRound(col("n_returned"), col("n_items"), 6))
        .orderBy(col("p_brand"))
    }),

    // Kendall tau-b between discount and quantity (StatOps
    // .kendallTauB): rank association from the CONTINGENCY TABLE —
    // O(|X|·|Y|) cells instead of O(n²) row pairs, the only form
    // that survives 100 TB
    "q274_kendall_tau" -> ((s, dir) => {
      StatOps.kendallTauB(Tables.lineitem(s, dir),
        round(col("l_discount") * 100, 0), col("l_quantity"))
    }),

    // Theil T/L inequality of customer revenue per market segment
    // (StatOps.theilIndex): the entropy twin of q266's Gini whose
    // terms are member-local — no sort, no pairwise structure
    "q275_theil_index" -> ((s, dir) => {
      val cust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice").cast(DecimalType(28, 6))), 2)
          .as("xdec"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
      StatOps.theilIndex(cust, "c_mktsegment")
        .orderBy(col("c_mktsegment"))
    }),

    // Kaplan–Meier reorder survival per segment (StatOps
    // .kaplanMeier): share of customers NOT reordering within H
    // days, right-censoring still-active customers at the horizon —
    // the unbiased version of q244's raw gap histogram
    "q280_kaplan_meier" -> ((s, dir) => {
      StatOps.kaplanMeier(reorderSpells(s, dir), "c_mktsegment",
          Seq(30, 90, 180, 365))
        .orderBy(col("c_mktsegment"), col("horizon"))
    }),

    // Nelson–Aalen cumulative reorder hazard (StatOps.nelsonAalen):
    // the additive estimator over q280's exact spell relation, with
    // the Aalen variance and the Fleming–Harrington survival — the
    // small-risk-set-stable view of the same censored reorder process
    "q331_nelson_aalen" -> ((s, dir) => {
      StatOps.nelsonAalen(reorderSpells(s, dir), "c_mktsegment",
          Seq(30, 90, 180, 365))
        .orderBy(col("c_mktsegment"), col("horizon"))
    }),

    // Deterministic Poisson(1) bootstrap (StatOps.poissonBootstrap):
    // RNG-free replica weights from portable md5 draws give a
    // reproducible, partitioning-invariant bootstrap SE + normal CI
    // of the mean order value per priority — the uncertainty layer
    // q246-style point means don't carry
    "q328_poisson_bootstrap" -> ((s, dir) => {
      StatOps.poissonBootstrap(Tables.orders(s, dir),
          col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 1e6 + 0.5), b = 32)
        .withColumnRenamed("g", "priority")
        .orderBy(col("priority"))
    }),

    // TPC-H Q2 shape: min-cost supplier per part (pseudo-partsupp
    // from lineitem) for a part-filter slice inside one region; the
    // correlated min rewrites as a groupBy + equi-join back
    "q284_min_cost_supplier" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(round(col("l_extendedprice") / col("l_quantity"), 2))
          .as("cost"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val parts = Tables.part(s, dir)
        .filter(col("p_type") === "LARGE" &&
          col("p_size").between(10, 20))
        .select(col("p_partkey"), col("p_name"))
      val cand = ps
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(parts, col("l_partkey") === col("p_partkey"))
      val minc = cand.groupBy(col("p_partkey").as("mp"))
        .agg(min(col("cost")).as("min_cost"))
      cand.join(minc,
          col("p_partkey") === col("mp") && col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(20)
    }),

    // TPC-H Q11 shape: per-part inventory value from one region's
    // suppliers, kept only when above a fraction of the regional
    // total — the group + HAVING-against-scalar-subquery shape
    "q290_important_stock" -> ((s, dir) => {
      val dec = DecimalType(28, 6)
      val euSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"))
      val vals = Tables.lineitem(s, dir)
        .join(euSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(round(sum(col("l_extendedprice").cast(dec)), 2).as("value_d"))
      val tot = vals
        .agg(round(sum(col("value_d")), 2).cast(DoubleType).as("total"),
          count(lit(1)).cast(DoubleType).as("n_parts"))
      vals.crossJoin(broadcast(tot))
        .filter(col("value_d").cast(DoubleType) >
          col("total") * lit(1.5) / col("n_parts"))
        .select(col("l_partkey"), col("value_d").cast(DoubleType).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // Join-key skew audit on l_partkey (StatOps.keySkew): the
    // pre-flight check before shuffling 100 TB on a key — max-key
    // share and p99/p50 ratio over the KEY relation, not rows
    "q286_key_skew" -> ((s, dir) => {
      StatOps.keySkew(Tables.lineitem(s, dir), col("l_partkey"))
    }),

    // TPC-H Q12 shape (late-shipment priority mix): lines shipped more
    // than 90 days after their order date, split per returnflag (the
    // schema's shipmode stand-in) into urgent (priority 1-2) vs other
    // orders — the two-fact equi-join + conditional-count shape; both
    // facts shuffle on orderkey, no dim involved
    "q293_late_priority" -> ((s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderdate"), col("o_orderpriority")),
          Seq("l_orderkey"))
        .filter(datediff(to_date(col("l_shipdate")),
          to_date(col("o_orderdate"))) > 90)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_late"),
          sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // TPC-H Q19 shape (disjunctive-predicate revenue): three OR-blocks
    // of (brand × quantity band × size band) — the shape whose OR must
    // still push the shared part join and prune columns; one global
    // DECIMAL revenue row out
    "q294_disjunctive_revenue" -> ((s, dir) => {
      val hit =
        (col("p_brand") === "Brand#3" &&
          col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#13" &&
          col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#23" &&
          col("l_quantity").between(20, 30) && col("p_size").between(1, 15))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(hit)
        .agg(count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(28, 6))), 2).cast(DoubleType).as("revenue"))
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): multi-
    // supplier orders where exactly ONE supplier shipped over 100 days
    // after the order date — the correlated EXISTS/NOT-EXISTS pair
    // decorrelated into one per-order distinct-count aggregate joined
    // back to the late lines; supplier dim joins under AQE
    "q295_blame_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
          Seq("l_orderkey"))
        .withColumn("late",
          datediff(to_date(col("l_shipdate")),
            to_date(col("o_orderdate"))) > 100)
        .select(col("l_orderkey"), col("l_suppkey"), col("late"))
        .localCheckpoint(eager = false)
      val perOrder = li.groupBy(col("l_orderkey").as("ok"))
        .agg(count_distinct(col("l_suppkey")).as("n_supp"),
          count_distinct(when(col("late"), col("l_suppkey")))
            .as("n_late_supp"))
        .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      li.filter(col("late"))
        .join(perOrder, col("l_orderkey") === col("ok"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // TPC-H Q20 shape (dominant part suppliers): for the PROMO part
    // slice, suppliers shipping more than TWICE the part's average
    // per-supplier quantity — the semi-join chain with a RELATIVE
    // threshold (qty·n_supp > 2·total stays non-trivial at every
    // scale factor, unlike a fixed share)
    "q296_dominant_supplier" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .filter(col("p_type") === "PROMO").select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
        .localCheckpoint(eager = false)
      val tot = ps.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty")).as("tot_qty"), count(lit(1)).as("n_supp"))
      ps.join(tot, col("l_partkey") === col("pk"))
        .filter(col("qty") * col("n_supp") > col("tot_qty") * 2)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_parts_dominated"))
        .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_parts_dominated"))
        .orderBy(col("n_parts_dominated").desc, col("s_suppkey"))
        .limit(25)
    }),

    // Spearman rank correlation discount × quantity (StatOps
    // .spearmanMidrank): midranks from the contingency margins —
    // the monotone-association companion to q274's Kendall tau-b,
    // never ranking the corpus
    "q297_spearman" -> ((s, dir) => {
      StatOps.spearmanMidrank(Tables.lineitem(s, dir),
        round(col("l_discount") * 100, 0), col("l_quantity"))
    }),

    // Mann–Whitney U: did returned lines ("R") draw a different
    // discount distribution? (StatOps.mannWhitneyU) — rank-sum off
    // the value spectrum, tie-corrected z
    "q298_mann_whitney" -> ((s, dir) => {
      StatOps.mannWhitneyU(Tables.lineitem(s, dir),
        round(col("l_discount") * 100, 0), col("l_returnflag") === "R")
    }),

    // Kruskal–Wallis rank ANOVA (StatOps.kruskalWallis): did the
    // three return-flag populations draw the same discount
    // distribution? — the k-group generalization of q298, computed
    // off the value spectrum with an exact running prefix
    "q311_kruskal_wallis" -> ((s, dir) => {
      StatOps.kruskalWallis(Tables.lineitem(s, dir),
        round(col("l_discount") * 100, 0), col("l_returnflag"))
    }),

    // Cliff's delta effect size (StatOps.cliffsDelta): HOW BIG is the
    // returned-lines discount shift q298's z calls significant —
    // distribution-free, [−1, 1], with the standard magnitude bands
    "q312_cliffs_delta" -> ((s, dir) => {
      StatOps.cliffsDelta(Tables.lineitem(s, dir),
        round(col("l_discount") * 100, 0), col("l_returnflag") === "R")
    }),

    // Brown–Forsythe spread homogeneity (StatOps.brownForsythe): do
    // the five order priorities even have comparable price SPREAD
    // before anyone compares their means (q202's assumption, tested)
    // — ANOVA F on |x − median_g| with exact spectrum medians
    "q314_brown_forsythe" -> ((s, dir) => {
      StatOps.brownForsythe(Tables.orders(s, dir),
        round(col("o_totalprice") * 100, 0), col("o_orderpriority"))
    }),

    // Two-predictor OLS (StatOps.ols2): extended price on quantity +
    // discount per return flag, closed-form normal equations with R²
    // and t-stats — the multivariate step past q121's simple slope.
    // Scaled units: y in cents, x1 in qty×100, x2 in basis points
    "q332_ols2" -> ((s, dir) => {
      StatOps.ols2(Tables.lineitem(s, dir), col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5),
          floor(col("l_quantity") * 100 + 0.5),
          floor(col("l_discount") * 10000 + 0.5))
        .withColumnRenamed("g", "l_returnflag")
        .orderBy(col("l_returnflag"))
    }),

    // Wilson score intervals (EventAnalytics.wilsonRates): per-type
    // high-value-event rate vs the pooled rate, with the CI that
    // stays honest at extreme p — the proportion companion to q149
    "q335_wilson_ci" -> ((s, dir) => {
      EventAnalytics.wilsonRates(Tables.events(s, dir))
        .orderBy(col("event_type"))
    }),

    // Sign-flip permutation test (EventAnalytics.signFlipTest):
    // RNG-free paired inference — do click and view days draw the
    // same mean value, with an exact-style p and no normality
    // assumption (the permutation companion to q328's bootstrap SE)
    "q353_sign_flip_test" -> ((s, dir) => {
      EventAnalytics.signFlipTest(Tables.events(s, dir), "click", "view")
    }),

    // Markov stationary distribution (EventAnalytics
    // .markovStationary): 15 exact power-iteration steps on q120's
    // transition matrix — the long-run equilibrium share of each
    // event type, with the L1 convergence certificate
    "q336_markov_stationary" -> ((s, dir) => {
      EventAnalytics.markovStationary(Tables.events(s, dir))
        .orderBy(col("state"))
    }),

    // Candidate functional-dependency audit (WarehouseOps
    // .fdViolations): is Y determined by X across the star schema —
    // four genuinely-violated candidates plus one holding control
    // (n_name→n_regionkey), next to q204's declared constraints
    "q322_fd_audit" -> ((s, dir) => {
      graft.ops.WarehouseOps.fdViolations(Seq(
        ("customer_nation_to_segment", Tables.customer(s, dir),
          "c_nationkey", "c_mktsegment"),
        ("nation_name_to_region", Tables.nation(s, dir),
          "n_name", "n_regionkey"),
        ("orders_cust_to_priority", Tables.orders(s, dir),
          "o_custkey", "o_orderpriority"),
        ("part_name_to_size", Tables.part(s, dir), "p_name", "p_size"),
        ("part_type_to_brand", Tables.part(s, dir), "p_type", "p_brand")))
        .orderBy(col("fd"))
    }),

    // Bidirectional FK-coverage audit over all seven star-schema
    // edges (WarehouseOps.fkAudit): orphan children AND childless
    // parents with shares — the cardinality profile q204's pass/fail
    // checks don't report (dead dimension weight worth pruning)
    "q414_fk_coverage" -> ((s, dir) => {
      graft.ops.WarehouseOps.fkAudit(Seq(
        ("customer_nation", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey"),
        ("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        ("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
          Tables.part(s, dir), "p_partkey"),
        ("lineitem_supplier", Tables.lineitem(s, dir), "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey"),
        ("nation_region", Tables.nation(s, dir), "n_regionkey",
          Tables.region(s, dir), "r_regionkey"),
        ("orders_customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        ("supplier_nation", Tables.supplier(s, dir), "s_nationkey",
          Tables.nation(s, dir), "n_nationkey")))
        .orderBy(col("edge"))
    }),

    // Windowed funnel view→click→purchase within 2 days
    // (EventAnalytics.windowFunnel, the ClickHouse windowFunnel
    // shape): greedy-earliest chain, per-step reach/stop counts and
    // entrant shares — the time-boxed funnel q80 (unbounded rate)
    // and q176 (latency) both miss
    "q416_window_funnel" -> ((s, dir) => {
      graft.ops.EventAnalytics.windowFunnel(Tables.events(s, dir),
          Seq("view", "click", "purchase"), windowSec = 172800L)
        .orderBy(col("step"))
    }),

    // Growth accounting (EventAnalytics.growthAccounting): daily
    // PURCHASE actives decomposed into new / retained / resurrected
    // plus churned — the DAU ledger behind q81's retention triangle
    // (daily periods on the sparse action keep all four lines live)
    "q418_growth_accounting" -> ((s, dir) => {
      graft.ops.EventAnalytics.growthAccounting(Tables.events(s, dir),
          activityType = "purchase", periodDays = 1)
        .orderBy(col("w"))
    }),

    // Sequence-match interference (EventAnalytics.seqInterference):
    // among in-window view→purchase chains, how many had an error
    // strictly inside the chain — ClickHouse sequenceMatch's
    // negative-pattern split over q416's funnel
    "q419_seq_interference" -> ((s, dir) => {
      graft.ops.EventAnalytics.seqInterference(Tables.events(s, dir),
        "view", "purchase", "error", windowSec = 172800L)
    }),

    // Audience overlap matrix (EventAnalytics.audienceOverlap): exact
    // user-set Jaccard for every event-type pair — which behaviors
    // share an audience, next to q120's transition counts
    "q420_audience_overlap" -> ((s, dir) => {
      graft.ops.EventAnalytics.audienceOverlap(Tables.events(s, dir))
        .orderBy(col("type_a"), col("type_b"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_clean_cast" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_quantity AS DECIMAL(15,4)) AS DOUBLE) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(15,4)) AS DOUBLE) AS price
         FROM lineitem
         WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         ORDER BY l_orderkey, l_linenumber, qty, price""",
    "q07_join_rollup" ->
      """SELECT o_orderpriority,
         count(*) AS n_items,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
         CAST(SUM(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
         MAX(o_totalprice) AS max_order
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""",
    "q09_cross_concat" ->
      """SELECT r_name || '-' || n_name AS pair_name, r_regionkey, n_nationkey
         FROM region CROSS JOIN nation
         ORDER BY pair_name, r_regionkey, n_nationkey""",
    "q14_run_summary" ->
      """SELECT count(*) AS n_orders,
         CAST(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         CAST(SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         MAX(o_totalprice) AS max_price,
         MIN(o_orderdate) AS first_order
         FROM orders""",
    "q18_date_fns" ->
      """SELECT o_orderkey, o_orderdate,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(month(o_orderdate) AS INTEGER) AS mo,
         CAST(day(o_orderdate) AS INTEGER) AS dom,
         CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
         strftime(o_orderdate, '%Y-%m') AS ym
         FROM orders ORDER BY o_orderkey""",
    // Twin computes the same booleans from exact values (zero error is
    // trivially inside every bound) — a deterministic TRUE row on both
    // sides; Spark's side only matches if its sketches met the bound.
    "q32_approx_stats" ->
      """SELECT count(DISTINCT l_orderkey) AS exact_orders,
         abs(count(DISTINCT l_orderkey) - count(DISTINCT l_orderkey)) <= 0.04 * count(DISTINCT l_orderkey) AS hll_ok,
         abs(quantile_cont(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5)) <= 0.01 * quantile_cont(l_extendedprice, 0.5) AS p50_ok,
         abs(quantile_cont(l_extendedprice, 0.99) - quantile_cont(l_extendedprice, 0.99)) <= 0.01 * quantile_cont(l_extendedprice, 0.99) AS p99_ok
         FROM lineitem""",

    "q34_exact_stats" ->
      """WITH m AS (SELECT count(*) AS n,
           SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
           SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy,
           SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(28,6))) AS sxy,
           SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,6))) AS sxx,
           SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,6))) AS syy
         FROM lineitem)
         SELECT n,
           round(CAST(n*sxy - sx*sy AS DOUBLE) /
             (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS corr_xy,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n) / (n-1), 4) AS covar_samp,
           round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope
         FROM m""",

    "q35_percentile" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
         round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
         FROM lineitem""",

    "q37_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q48_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""",

    "q47_set_ops" ->
      """WITH c AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events WHERE event_type='click'),
         e AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events WHERE event_type='error'),
         p AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events WHERE event_type='purchase'),
         bo AS (SELECT d FROM c INTERSECT SELECT d FROM e),
         oy AS (SELECT d FROM c EXCEPT SELECT d FROM p)
         SELECT d, 'click_and_error' AS op FROM bo
         UNION ALL
         SELECT d, 'click_not_purchase' AS op FROM oy
         ORDER BY op, d""",

    "q45_regex" ->
      """SELECT doc_id,
           regexp_extract(text, '(s[a-z]+)', 1) AS first_s,
           CAST(len(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS novowel_len,
           CAST((len(text) - len(regexp_replace(text, 'table', '', 'g'))) // 5 AS BIGINT) AS n_table
         FROM documents ORDER BY doc_id""",

    "q50_array_hof" ->
      """SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
             (a, b) -> a + b), 6) AS sum_sq,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS mx,
           round(CAST(list_min(embedding) AS DOUBLE), 6) AS mn
         FROM embeddings ORDER BY vec_id""",

    "q51_string_fns" ->
      """SELECT doc_id,
           upper(substr(text, 1, 10)) AS head10,
           lpad(lang, 5, '_') AS lang_pad,
           reverse(substr(text, 1, 10)) AS rev10,
           CAST(levenshtein(substr(text, 1, 10), reverse(substr(text, 1, 10))) AS INTEGER) AS lev,
           CAST(ascii(text) AS INTEGER) AS first_cp
         FROM documents ORDER BY doc_id""",

    "q20_array_ops" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         round(CAST(embedding[1] AS DOUBLE), 6) AS e1, label
         FROM embeddings ORDER BY vec_id""",

    "q63_approx_pct" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           abs(quantile_cont(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
             <= 0.01 * quantile_cont(l_extendedprice, 0.5) AS p50_ok,
           abs(quantile_cont(l_extendedprice, 0.9) - quantile_cont(l_extendedprice, 0.9))
             <= 0.01 * quantile_cont(l_extendedprice, 0.9) AS p90_ok
         FROM lineitem""",

    "q64_sql_subquery" ->
      """SELECT c.c_custkey, c.c_name,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         WHERE (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) >= 12
         ORDER BY c.c_custkey""",

    "q67_date_arith" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_orderstatus
                    FROM orders)
         SELECT o_orderkey, od,
           od + 30 AS due_30,
           last_day(od) AS month_end,
           CAST(date_trunc('month', od) AS DATE) AS month_start,
           CAST(datediff('day', od, DATE '1998-12-31') AS INTEGER) AS days_to_end,
           CAST(quarter(od) AS INTEGER) AS qtr,
           nullif(o_orderstatus, 'O') AS closed_status,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_nz
         FROM o ORDER BY o_orderkey""",

    "q68_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY g_rf, g_ls, rf, ls""",

    "q52_json_fns" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_mod,
           json_extract_string(props, '$.k') IS NOT NULL AS has_k
         FROM events ORDER BY event_id""",

    "q53_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_prio, status, priority""",

    "q54_full_outer" ->
      """WITH od AS (SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS n_orders
                     FROM orders GROUP BY 1),
         sd AS (SELECT l_shipdate AS d, CAST(count(*) AS BIGINT) AS n_ships
                FROM lineitem GROUP BY 1)
         SELECT coalesce(od.d, sd.d) AS d,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_ships, 0) AS n_ships,
           n_orders IS NOT NULL AND n_ships IS NOT NULL AS both
         FROM od FULL OUTER JOIN sd ON od.d = sd.d
         ORDER BY d""",

    "q55_hash_sample" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE CAST(concat('0x', substr(md5(
             concat_ws('#', l_orderkey, l_linenumber)), 1, 8)) AS BIGINT) % 10 = 0
         GROUP BY 1 ORDER BY l_returnflag""",

    "q56_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events),
         s AS (
           SELECT user_id, ts,
             SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_n
           FROM g)
         SELECT user_id, CAST(session_n AS BIGINT) AS session_n,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts
         FROM s GROUP BY user_id, session_n
         ORDER BY user_id, session_n""",

    "q58_bitwise" ->
      """SELECT event_type,
           bit_and(user_id) AS band,
           bit_or(user_id) AS bor,
           bit_xor(user_id) AS bxor,
           max(user_id & 255) AS max_low8,
           min((user_id & 15) << 2) AS min_nib_sh
         FROM events GROUP BY 1 ORDER BY event_type""",

    "q74_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS key,
              CAST(o_totalprice AS DOUBLE) AS b_price,
              o_orderstatus AS b_status
            FROM orders WHERE o_orderkey % 2 = 0),
         upd AS (SELECT o_orderkey AS key,
              CAST(o_totalprice AS DOUBLE) + 100.0 AS u_price,
              'U' AS u_status
            FROM orders WHERE o_orderkey % 3 = 0)
         SELECT key,
           COALESCE(u_price, b_price) AS price,
           COALESCE(u_status, b_status) AS status,
           CASE WHEN b_price IS NULL THEN 'insert'
                WHEN u_price IS NOT NULL THEN 'update'
                ELSE 'keep' END AS action
         FROM base FULL JOIN upd USING (key)
         ORDER BY key""",

    "q80_funnel" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click'
                  AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 60 MINUTE
                GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase'
                  AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 60 MINUTE
                GROUP BY 1),
         n0 AS (SELECT count(*) AS n0 FROM s1)
         SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users,
           ${ExactRound.sqlRatioRound(
             "count(*)", "(SELECT n0 FROM n0)", 4)}
             AS conv_from_first FROM s1
         UNION ALL
         SELECT 2, 'click', count(*),
           ${ExactRound.sqlRatioRound(
             "count(*)", "(SELECT n0 FROM n0)", 4)} FROM s2
         UNION ALL
         SELECT 3, 'purchase', count(*),
           ${ExactRound.sqlRatioRound(
             "count(*)", "(SELECT n0 FROM n0)", 4)} FROM s3
         ORDER BY step""",

    "q81_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                    FROM events),
         c AS (SELECT user_id, min(d) AS cohort_day FROM a GROUP BY 1)
         SELECT c.cohort_day,
           CAST(datediff('day', c.cohort_day, a.d) AS INTEGER) AS day_offset,
           count(*) AS n_users
         FROM a JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",

    "q82_argmax" ->
      """WITH r AS (
           SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC) AS rmin
           FROM orders)
         SELECT o_custkey,
           max(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_order,
           max(o_totalprice) AS top_price,
           max(CASE WHEN rmin = 1 THEN o_orderkey END) AS first_order,
           min(o_orderdate) AS first_date,
           count(*) AS n_orders
         FROM r GROUP BY 1 ORDER BY o_custkey""",

    "q87_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggCols = cols.map { c =>
        s"""count($c) AS ${c}__n, count(DISTINCT $c) AS ${c}__nd,
            min($c) AS ${c}__min, max($c) AS ${c}__max,
            SUM(CAST($c AS DECIMAL(28,6))) AS ${c}__sum"""
      }.mkString(",\n            ")
      val branches = cols.map { c =>
        s"""SELECT '$c' AS col_name, n_rows, ${c}__n AS n_non_null,
            n_rows - ${c}__n AS n_null, ${c}__nd AS n_distinct,
            round(CAST(${c}__min AS DOUBLE), 6) AS min_v,
            round(CAST(${c}__max AS DOUBLE), 6) AS max_v,
            CAST(round(${c}__sum, 6) AS DOUBLE) AS sum_v FROM a"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH a AS (SELECT count(*) AS n_rows,
            $aggCols
          FROM lineitem)
          SELECT * FROM ($branches) ORDER BY col_name"""
    },

    // z-value twin: the identical flat sum of 32 shift/mask terms the
    // Spark expression unrolls to
    "q105_zorder" -> {
      val terms = (0 until 16).flatMap { i =>
        Seq(
          s"(((l_partkey >> $i) & 1) << ${2 * i})",
          s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
            CAST($terms AS BIGINT) AS z
          FROM lineitem
          ORDER BY z, l_orderkey, l_linenumber LIMIT 100"""
    },

    "q117_shipping_priority" ->
      """SELECT l_orderkey,
           round(CAST(SUM(CAST(l_extendedprice*(1.0 - l_discount)
             AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue,
           o_orderdate, o_orderpriority
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",

    "q118_regional_revenue" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(SUM(CAST(l_extendedprice*(1.0 - l_discount)
             AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q114_fuzzy_join" ->
      """SELECT a.n_nationkey AS id_a, a.n_name AS name_a,
           b.n_nationkey AS id_b, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
         FROM nation a JOIN nation b
           ON a.n_nationkey < b.n_nationkey
          AND levenshtein(a.n_name, b.n_name) <= 1
         ORDER BY id_a, id_b""",

    "q115_histogram" ->
      """WITH st AS (SELECT event_type, min(value) AS lo, max(value) AS hi
                     FROM events GROUP BY 1),
          x AS (SELECT e.event_type, value, (hi - lo)/10.0 AS w, lo
                FROM events e JOIN st USING (event_type)),
          bi AS (SELECT event_type, value,
                   CASE WHEN w > 0
                        THEN least(9, CAST(floor((value - lo)/w) AS INTEGER))
                        ELSE 0 END AS bin
                 FROM x)
          SELECT event_type, CAST(bin AS INTEGER) AS bin,
            CAST(count(*) AS BIGINT) AS n,
            round(min(value), 6) AS v_min, round(max(value), 6) AS v_max
          FROM bi GROUP BY 1, 2 ORDER BY event_type, bin""",

    // correlation-matrix twin: identical one-row decimal sums,
    // identical double co-moment expressions, 6-branch unpivot
    "q116_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
        yield (cols(i), cols(j))
      val aggs = (cols.flatMap(c => Seq(
          s"SUM(CAST($c AS DECIMAL(28,6))) AS s__$c",
          s"SUM(CAST($c*$c AS DECIMAL(28,6))) AS ss__$c")) ++
        pairs.map { case (a, b) =>
          s"SUM(CAST($a*$b AS DECIMAL(28,6))) AS sp__${a}__$b" })
        .mkString(",\n            ")
      val branches = pairs.map { case (a, b) =>
        val num = s"(CAST(n AS DOUBLE)*CAST(sp__${a}__$b AS DOUBLE) " +
          s"- CAST(s__$a AS DOUBLE)*CAST(s__$b AS DOUBLE))"
        val va = s"(CAST(n AS DOUBLE)*CAST(ss__$a AS DOUBLE) " +
          s"- CAST(s__$a AS DOUBLE)*CAST(s__$a AS DOUBLE))"
        val vb = s"(CAST(n AS DOUBLE)*CAST(ss__$b AS DOUBLE) " +
          s"- CAST(s__$b AS DOUBLE)*CAST(s__$b AS DOUBLE))"
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
              CASE WHEN $va > 0 AND $vb > 0
                   THEN round($num/(sqrt($va)*sqrt($vb)), 6) END AS r
            FROM a"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
            $aggs
          FROM lineitem)
          SELECT * FROM ($branches) ORDER BY col_a, col_b"""
    },

    // PageRank twin: 5 unrolled iterations; base constant written as
    // (1.0 - 0.85) so the SQL double equals the Scala 1.0 - damping
    "q108_pagerank" -> {
      def iter(k: Int): String =
        s"""r$k AS (
              SELECT nodes.id,
                CAST(round((1.0 - 0.85)/n + 0.85 * coalesce(c.s, 0.0), 12)
                  AS DECIMAL(28,12)) AS r
              FROM nodes CROSS JOIN nn LEFT JOIN (
                SELECT e.dst AS id,
                  CAST(SUM(CAST(${ExactRound.sqlRatioRound(
                    s"CAST(r${k - 1}.r*1000000000000 AS HUGEINT)",
                    "od.deg*1000000000000", 12)}
                    AS DECIMAL(28,12))) AS DOUBLE) AS s
                FROM e
                JOIN r${k - 1} ON r${k - 1}.id = e.src
                JOIN od ON od.src = e.src
                GROUP BY 1) c ON c.id = nodes.id)"""
      val iters = (1 to 5).map(iter).mkString(",\n          ")
      s"""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                       CAST(l_partkey AS BIGINT) + 1000000 AS dst FROM lineitem),
          nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          od AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
          r0 AS (SELECT id, CAST(${ExactRound.sqlRatioRound(
                   "1", "n", 12)} AS DECIMAL(28,12)) AS r
                 FROM nodes CROSS JOIN nn),
          $iters
          SELECT id, CAST(round(r, 8) AS DOUBLE) AS rank
          FROM r5 ORDER BY id"""
    },

    // transition twin: identical lag partitioning and tie-break
    // (ts, event_id); p and avg_value form as one double divide
    "q120_transitions" ->
      s"""WITH x AS (
           SELECT event_type, value,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events),
         g AS (
           SELECT prev_type, event_type AS next_type,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(28,6))) AS sv
           FROM x WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
           ${ExactRound.sqlRatioRound(
             "n", "sum(n) OVER (PARTITION BY prev_type)", 6)} AS p,
           ${ExactRound.sqlRatioRound(
             "CAST(sv*1000000 AS HUGEINT)", "n*1000000", 6)} AS avg_value
         FROM g ORDER BY prev_type, next_type""",

    // OLS twin: the five DECIMAL sums then the identical double
    // expression shapes for slope / intercept / R²
    "q121_group_ols" ->
      """WITH g AS (
           SELECT l_returnflag, count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy,
             sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS sxy,
             sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS sxx,
             sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS syy
           FROM lineitem GROUP BY 1),
         d AS (
           SELECT l_returnflag, n,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
           FROM g)
         SELECT l_returnflag, n,
           CASE WHEN den > 0 THEN round(num / den, 6) END AS slope,
           CASE WHEN den > 0
             THEN round((syd - (num / den) * sxd) / CAST(n AS DOUBLE), 6)
           END AS intercept,
           CASE WHEN den > 0 AND vy > 0
             THEN round((num * num) / (den * vy), 6)
           END AS r2
         FROM d ORDER BY l_returnflag""",

    // seasonal twin: identical exact-sum cells and double ratio forms
    "q123_seasonal" ->
      """WITH g AS (
           SELECT event_type, CAST(hour(ts) AS INT) AS hr, count(*) AS n,
             sum(CAST(value AS DECIMAL(28,6))) AS sv
           FROM events GROUP BY 1, 2)
         SELECT event_type, hr, n,
           round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS baseline,
           round((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
                 (CAST(sum(sv) OVER (PARTITION BY event_type) AS DOUBLE) /
                  CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)), 6)
             AS seasonal_idx
         FROM g ORDER BY event_type, hr""",

    // moments twin: identical raw-moment decimal sums and the same
    // left-associated central-moment double forms
    "q128_moments" ->
      """WITH g AS (
           SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
               AS DOUBLE) AS s2,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity
               AS DECIMAL(28,6))) AS DOUBLE) AS s3,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity
               AS DECIMAL(28,6))) AS DOUBLE) AS s4
           FROM lineitem GROUP BY 1),
         m AS (
           SELECT l_returnflag, n,
             s1 / CAST(n AS DOUBLE) AS mu,
             s2 / CAST(n AS DOUBLE)
               - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m2,
             s3 / CAST(n AS DOUBLE)
               - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
               + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)) AS m3,
             s4 / CAST(n AS DOUBLE)
               - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
               + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s2 / CAST(n AS DOUBLE))
               - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m4
           FROM g)
         SELECT l_returnflag, n,
           round(mu, 6) AS mean_x,
           round(m2, 6) AS var_pop,
           CASE WHEN m2 > 0 THEN round(m3 / sqrt(m2 * m2 * m2), 6) END
             AS skewness,
           CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END
             AS kurtosis
         FROM m ORDER BY l_returnflag""",

    // trigram twin: identical lag chain and deterministic top-k cut
    "q129_path_ngrams" ->
      """WITH x AS (
           SELECT event_type AS t3,
             lag(event_type, 2) OVER w AS t1,
             lag(event_type, 1) OVER w AS t2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT t1, t2, t3, count(*) AS n
         FROM x WHERE t1 IS NOT NULL
         GROUP BY 1, 2, 3
         ORDER BY n DESC, t1, t2, t3 LIMIT 25""",

    // winsorize twin: quantile_cont fences rounded 6dp pre-compare,
    // identical clamp and exact-mean forms
    "q130_winsorize" ->
      s"""WITH f AS (
           SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS lo,
             round(quantile_cont(value, 0.95), 6) AS hi
           FROM events GROUP BY 1)
         SELECT e.event_type, count(*) AS n, f.lo, f.hi,
           CAST(sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           CAST(sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           ${ExactRound.sqlRatioRound(
             "CAST(sum(CAST(least(greatest(e.value, f.lo), f.hi)" +
               " AS DECIMAL(28,6)))*1000000 AS HUGEINT)",
             "count(*)*1000000", 6)} AS wins_mean
         FROM events e JOIN f ON f.event_type = e.event_type
         GROUP BY 1, 3, 4 ORDER BY e.event_type""",

    // Benford twin: identical cents→long→string digit extraction and
    // floor-form shares
    "q134_benford" ->
      """WITH c AS (
           SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
             AS cents
           FROM lineitem),
         b AS (
           SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
             AS digit, count(*) AS n
           FROM c WHERE cents > 0 GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM b)
         SELECT digit, n,
           floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS obs_p,
           floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
             * 1e6 + 0.5) / 1e6 AS benford_p
         FROM b CROSS JOIN t ORDER BY digit""",

    // attribution twin: the as-of pick expressed as a windowed
    // latest-click-within-60min left join
    "q131_attribution" ->
      """WITH p AS (
           SELECT user_id, ts, event_id AS purchase_id, value
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, ts AS click_ts, max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         j AS (
           SELECT p.purchase_id, p.user_id, p.ts, p.value,
             c.click_ts, c.click_id,
             row_number() OVER (PARTITION BY p.purchase_id
               ORDER BY c.click_ts DESC NULLS LAST, c.click_id DESC) AS rn
           FROM p LEFT JOIN c
             ON c.user_id = p.user_id AND c.click_ts <= p.ts
             AND c.click_ts >= p.ts - INTERVAL 60 MINUTE)
         SELECT purchase_id, user_id, ts, value, click_ts, click_id
         FROM j WHERE rn = 1 ORDER BY purchase_id""",

    // Q1 twin: DECIMAL(28,6) money sums cast to double — exactly what
    // sum_fixed6 computes in scaled-long arithmetic (2-dp inputs, so
    // every per-row conversion is unambiguous in both engines)
    "q125_pricing_summary" ->
      """WITH g AS (
           SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sq,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sb,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(28,6))) AS DOUBLE) AS sd,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
               AS DECIMAL(28,6))) AS DOUBLE) AS sc,
             CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sdisc
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus,
           round(sq, 4) AS sum_qty,
           round(sb, 4) AS sum_base_price,
           round(sd, 4) AS sum_disc_price,
           round(sc, 4) AS sum_charge,
           round(sq / n, 6) AS avg_qty,
           round(sb / n, 6) AS avg_price,
           round(sdisc / n, 6) AS avg_disc,
           n AS count_order
         FROM g ORDER BY l_returnflag, l_linestatus""",

    // HHI twin: per-entity share² rounds 12dp then DECIMAL-sums (the
    // q108 rule), so the per-nation fold is order-proof
    "q124_hhi" ->
      """WITH r AS (
           SELECT n_name, l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS r
           FROM lineitem
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON n_nationkey = s_nationkey
           GROUP BY 1, 2),
         s AS (
           SELECT n_name,
             CAST(r AS DOUBLE) /
               CAST(sum(r) OVER (PARTITION BY n_name) AS DOUBLE) AS share
           FROM r)
         SELECT n_name, count(*) AS n_entities,
           round(CAST(sum(CAST(round(share * share, 12) AS DECIMAL(28,12)))
             AS DOUBLE), 6) AS hhi,
           round(max(share), 6) AS top_share
         FROM s GROUP BY 1 ORDER BY n_name""",

    // SCD2 twin: same (ts, tie) total order drives the change filter,
    // version numbering, and the lead that closes each interval
    "q138_scd2" ->
      """WITH ch AS (
           SELECT o_custkey AS custkey,
             CAST(o_orderdate AS DATE) AS snap_d,
             o_orderkey AS tie,
             o_orderstatus AS status,
             lag(o_orderstatus) OVER
               (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE),
                o_orderkey) AS prev_attr
           FROM orders),
         c2 AS (SELECT * FROM ch
                WHERE prev_attr IS NULL OR prev_attr <> status)
         SELECT custkey,
           CAST(row_number() OVER w AS INTEGER) AS version,
           status,
           snap_d AS effective_from,
           lead(snap_d) OVER w AS effective_to,
           (lead(snap_d) OVER w IS NULL) AS is_current
         FROM c2
         WINDOW w AS (PARTITION BY custkey ORDER BY snap_d, tie)
         ORDER BY custkey, version""",

    // KS twin: identical all-integer sup-CDF — counts per distinct
    // value, running/total window sums, |ca·nb − cb·na| maximized in
    // DECIMAL, ONE double divide floored 6dp
    "q142_ks_drift" ->
      """WITH g AS (
           SELECT event_type, value,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00')
                 THEN 1 ELSE 0 END) AS b
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT event_type,
             CAST(SUM(a) OVER wr AS BIGINT) AS ca,
             CAST(SUM(b) OVER wr AS BIGINT) AS cb,
             CAST(SUM(a) OVER wa AS BIGINT) AS na,
             CAST(SUM(b) OVER wa AS BIGINT) AS nb
           FROM g
           WINDOW wr AS (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING),
                  wa AS (PARTITION BY event_type)),
         dd AS (
           SELECT event_type, na, nb,
             abs(CAST(ca AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)) -
                 CAST(cb AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0)))
               AS diff
           FROM r)
         SELECT event_type, na, nb,
           CASE WHEN na > 0 AND nb > 0 THEN
             floor(CAST(max(diff) AS DOUBLE) /
               (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e6 + 0.5) / 1e6
           END AS ks
         FROM dd GROUP BY event_type, na, nb ORDER BY event_type""",

    // rank-sum twin: identical doubled mid-ranks (2·avgrank =
    // 2·c_prev + m + 1 — exact integers), identical DECIMAL folds,
    // one shared double divide floored 6dp
    "q145_rank_sum" ->
      """WITH g AS (
           SELECT event_type, value,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00')
                 THEN 1 ELSE 0 END) AS b
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT event_type, a, b,
             CAST(SUM(a + b) OVER wr - a - b AS BIGINT) AS cprev,
             CAST(SUM(a) OVER wa AS BIGINT) AS na,
             CAST(SUM(b) OVER wa AS BIGINT) AS nb
           FROM g
           WINDOW wr AS (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING),
                  wa AS (PARTITION BY event_type)),
         s AS (
           SELECT event_type, na, nb,
             SUM(CAST(a AS DECIMAL(38,0)) *
                 CAST(2 * cprev + a + b + 1 AS DECIMAL(38,0))) AS r1x2
           FROM r GROUP BY 1, 2, 3),
         u AS (
           SELECT event_type, na, nb,
             r1x2 - CAST(na AS DECIMAL(38,0)) * CAST(na + 1 AS DECIMAL(38,0))
               AS u1x2
           FROM s)
         SELECT event_type, na, nb, CAST(u1x2 AS BIGINT) AS u1_x2,
           CASE WHEN na > 0 AND nb > 0 THEN
             floor(CAST(u1x2 AS DOUBLE) /
               (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e6 + 0.5)
               / 1e6
           END AS auc
         FROM u ORDER BY event_type""",

    // PIT twin: q138's SCD2 chain, same-date versions collapsed to
    // the highest, DuckDB ASOF join picks the latest effective_from
    // at or before each order date — tie-free by construction
    "q147_pit_join" ->
      """WITH ch AS (
           SELECT o_custkey AS custkey,
             CAST(o_orderdate AS DATE) AS snap_d,
             o_orderkey AS tie,
             o_orderstatus AS status,
             lag(o_orderstatus) OVER
               (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE),
                o_orderkey) AS prev_attr
           FROM orders),
         c2 AS (SELECT * FROM ch
                WHERE prev_attr IS NULL OR prev_attr <> status),
         scd AS (SELECT custkey,
                   CAST(row_number() OVER w AS INTEGER) AS version,
                   status, snap_d AS effective_from
                 FROM c2
                 WINDOW w AS (PARTITION BY custkey ORDER BY snap_d, tie)),
         dim1 AS (SELECT custkey, effective_from AS pit_d, status, version,
                    row_number() OVER (PARTITION BY custkey, effective_from
                      ORDER BY version DESC) AS rn
                  FROM scd),
         d1 AS (SELECT custkey, pit_d, status, version
                FROM dim1 WHERE rn = 1),
         f AS (SELECT o_custkey AS custkey,
                 CAST(o_orderdate AS DATE) AS pit_d,
                 o_orderkey, o_totalprice
               FROM orders)
         SELECT f.o_orderkey, f.custkey, f.pit_d, d1.status, d1.version,
           f.o_totalprice
         FROM f ASOF LEFT JOIN d1
           ON f.custkey = d1.custkey AND f.pit_d >= d1.pit_d
         ORDER BY f.o_orderkey""",

    // CUPED twin: identical hash variant split, q85-rule co-moments
    // (12dp-round-then-DECIMAL products), one shared θ/x̄ op order,
    // adjusted values 12dp-rounded before the group-mean fold
    "q149_cuped_lift" -> {
      val h = graft.functions.CrossHash.duckX32("concat_ws('#','ab',user_id)")
      s"""WITH u0 AS (
           SELECT user_id,
             CAST(SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                 THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS x,
             CAST(SUM(CAST(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00')
                 THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS y,
             (HASHX % 2 = 1) AS grp_b
           FROM events GROUP BY user_id),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 SUM(CAST(x AS DECIMAL(28,12))) AS sx,
                 SUM(CAST(y AS DECIMAL(28,12))) AS sy,
                 SUM(CAST(round(x*x, 12) AS DECIMAL(28,12))) AS sxx,
                 SUM(CAST(round(x*y, 12) AS DECIMAL(28,12))) AS sxy
               FROM u0),
         t AS (SELECT *,
                 CASE WHEN CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
                   THEN (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                   ELSE 0.0 END AS theta
               FROM m),
         a AS (SELECT u0.grp_b, u0.y, t.theta,
                 y - theta * (x - CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)) AS adj
               FROM u0 CROSS JOIN t),
         f AS (SELECT
                 CAST(SUM(CASE WHEN NOT grp_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN grp_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 MAX(theta) AS th,
                 SUM(CASE WHEN NOT grp_b
                     THEN CAST(y AS DECIMAL(28,12)) END) AS ya,
                 SUM(CASE WHEN grp_b
                     THEN CAST(y AS DECIMAL(28,12)) END) AS yb,
                 SUM(CASE WHEN NOT grp_b
                     THEN CAST(round(adj, 12) AS DECIMAL(28,12)) END) AS aa,
                 SUM(CASE WHEN grp_b
                     THEN CAST(round(adj, 12) AS DECIMAL(28,12)) END) AS ab
               FROM a)
         SELECT n_a, n_b, round(th, 6) AS theta,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             ${ExactRound.sqlRatioRound(
               "CAST(yb*1000000000000 AS HUGEINT)*n_a" +
                 " - CAST(ya*1000000000000 AS HUGEINT)*n_b",
               "CAST(n_b AS HUGEINT)*CAST(n_a AS HUGEINT)" +
                 "*1000000000000", 6)} END AS lift_raw,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             ${ExactRound.sqlRatioRound(
               "CAST(ab*1000000000000 AS HUGEINT)*n_a" +
                 " - CAST(aa*1000000000000 AS HUGEINT)*n_b",
               "CAST(n_b AS HUGEINT)*CAST(n_a AS HUGEINT)" +
                 "*1000000000000", 6)} END AS lift_cuped
         FROM f""".replace("HASHX", h)
    },

    // snapshot-diff twin: same max-struct argmax (id breaks ts ties),
    // same full outer join + (absent) sentinel
    "q174_snapshot_diff" ->
      """WITH s1 AS (SELECT user_id,
                      (max(struct_pack(ts := ts, id := event_id,
                          tp := event_type))).tp AS state
                    FROM events
                    WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
                    GROUP BY 1),
          s2 AS (SELECT user_id,
                      (max(struct_pack(ts := ts, id := event_id,
                          tp := event_type))).tp AS state
                    FROM events
                    WHERE ts < TIMESTAMP '2024-02-01 00:00:00'
                    GROUP BY 1)
         SELECT coalesce(s1.state, '(absent)') AS old_state,
                coalesce(s2.state, '(absent)') AS new_state,
                count(*) AS n_users
         FROM s1 FULL OUTER JOIN s2 USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // latency twin: same first-A / first-B-after-A min picks, same
    // exact µs chain and floor-form mean
    "q176_conversion_latency" ->
      """WITH fa AS (SELECT user_id, min(ts) AS a_ts FROM events
                     WHERE event_type = 'view' GROUP BY 1),
          fb AS (SELECT b.user_id, a_ts, min(b.ts) AS b_ts
                 FROM events b JOIN fa USING (user_id)
                 WHERE b.event_type = 'purchase' AND b.ts > a_ts
                 GROUP BY 1, 2),
          lat AS (SELECT user_id,
                    epoch_us(b_ts) - epoch_us(a_ts) AS lat_us
                  FROM fb),
          g AS (SELECT count(*) AS n_entered,
                  count(lat_us) AS n_converted,
                  CAST(sum(lat_us) AS BIGINT) AS sum_us,
                  CAST(min(lat_us) AS BIGINT) AS min_us,
                  CAST(max(lat_us) AS BIGINT) AS max_us
                FROM fa LEFT JOIN lat USING (user_id))
         SELECT n_entered, n_converted,
           CASE WHEN n_converted > 0 THEN
             floor(CAST(sum_us AS DOUBLE) / CAST(n_converted AS DOUBLE)
               + 0.5) / 1e6 END AS mean_latency_s,
           min_us / 1e6 AS min_latency_s,
           max_us / 1e6 AS max_latency_s
         FROM g""",

    // stickiness twin: same distinct (user, day) base, same bounded
    // 7-day fanout, same observed-days inner join
    "q178_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
          dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1),
          wau AS (SELECT d, count(*) AS wau FROM
                    (SELECT DISTINCT user_id, unnest(generate_series(
                       d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE AS d
                     FROM ud)
                  GROUP BY 1)
         SELECT d, dau, wau,
           floor(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS stickiness
         FROM dau JOIN wau USING (d) ORDER BY d""",

    // session-stats twin: the q56 session rule verbatim, all-long
    // depth/duration rollups, floor-form means
    "q180_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
                    FROM events),
          b AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
                    AS brk
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          s AS (SELECT *, CAST(SUM(brk) OVER
                  (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS sid
                FROM b),
          g AS (SELECT user_id, sid, count(*) AS depth,
                  CAST(max(us) - min(us) AS BIGINT) AS dur_us
                FROM s GROUP BY 1, 2),
          a AS (SELECT user_id, count(*) AS n_sessions,
                  CAST(sum(depth) AS BIGINT) AS n_events,
                  CAST(max(depth) AS BIGINT) AS max_depth,
                  CAST(sum(dur_us) AS BIGINT) AS sum_dur_us
                FROM g GROUP BY 1)
         SELECT user_id, n_sessions, n_events, max_depth,
           floor(CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS mean_depth,
           floor(CAST(sum_dur_us AS DOUBLE) / CAST(n_sessions AS DOUBLE)
             + 0.5) / 1e6 AS mean_dur_s
         FROM a ORDER BY user_id""",

    // RFM twin: same per-user collapse, same (metric, user_id) ntile
    // tie-breaks, same decimal sums and 6dp segment means
    "q184_rfm" ->
      s"""WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS ref_d FROM events),
         pu AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_d,
                  count(*) AS frequency,
                  coalesce(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,6)) END),
                    CAST(0 AS DECIMAL(18,6))) AS monetary
                FROM events GROUP BY 1),
         w AS (SELECT pu.*, datediff('day', last_d, ref_d) AS recency_days
               FROM pu, anchor),
         sc AS (SELECT *,
                  6 - ntile(5) OVER (ORDER BY recency_days, user_id)
                    AS r_score,
                  6 - ntile(5) OVER (ORDER BY frequency DESC, user_id)
                    AS f_score,
                  6 - ntile(5) OVER (ORDER BY monetary DESC, user_id)
                    AS m_score
                FROM w),
         lb AS (SELECT *,
                  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
                       WHEN f_score >= 4 THEN 'loyal'
                       WHEN m_score >= 4 THEN 'big_spender'
                       WHEN r_score >= 4 AND f_score <= 2
                         THEN 'new_or_recent'
                       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                       WHEN r_score <= 2 AND f_score <= 2
                         THEN 'hibernating'
                       ELSE 'regular' END AS segment
                FROM sc),
         g AS (SELECT segment, count(*) AS n_users,
                 sum(CAST(recency_days AS DECIMAL(18,0))) AS sr,
                 sum(CAST(frequency AS DECIMAL(18,0))) AS sf,
                 sum(monetary) AS sm
               FROM lb GROUP BY 1)
         SELECT segment, n_users,
           ${ExactRound.sqlRatioRound(
             "CAST(sr AS HUGEINT)", "n_users", 6)} AS avg_recency,
           ${ExactRound.sqlRatioRound(
             "CAST(sf AS HUGEINT)", "n_users", 6)} AS avg_frequency,
           ${ExactRound.sqlRatioRound(
             "CAST(sm*1000000 AS HUGEINT)", "n_users*1000000", 6)}
             AS avg_monetary
         FROM g ORDER BY segment""",

    // Gini twin: same ascending (count, user_id) rank, same exact
    // DECIMAL(38,0) rank-weighted sum, same // 10 top-decile cut
    "q185_engagement_gini" ->
      s"""WITH pu AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
         rk AS (SELECT *, row_number() OVER (ORDER BY c, user_id) AS i,
                  count(*) OVER () AS n
                FROM pu)
         SELECT count(*) AS n_users,
           CAST(sum(c) AS BIGINT) AS total_events,
           ${ExactRound.sqlRatioRound(
             "CAST(sum(CAST(i*c AS DECIMAL(38,0))) AS HUGEINT)*2" +
               " - (count(*) + 1)*CAST(sum(c) AS HUGEINT)",
             "count(*)*CAST(sum(c) AS HUGEINT)", 6)} AS gini,
           ${ExactRound.sqlRatioRound(
             "sum(CASE WHEN i > n - n // 10 THEN c END)",
             "sum(c)", 6)} AS top_decile_share
         FROM rk""",

    // session-funnel twin: q56's exact session chain, same first-A /
    // last-B strict compare, same day rollup
    "q209_session_funnel" ->
      s"""WITH g AS (
           SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events),
         s AS (
           SELECT *, SUM(CASE WHEN prev_us IS NULL
                 OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_n
           FROM g),
         ps AS (SELECT user_id, session_n, min(us) AS start_us,
                  min(CASE WHEN event_type = 'signup' THEN us END) AS a_us,
                  max(CASE WHEN event_type = 'purchase' THEN us END)
                    AS b_us
                FROM s GROUP BY 1, 2),
         dd AS (SELECT CAST(make_timestamp(start_us) AS DATE) AS d, *
                FROM ps),
         g2 AS (SELECT d, count(*) AS n_sessions,
                  CAST(sum(CASE WHEN a_us IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_entered,
                  CAST(sum(CASE WHEN a_us IS NOT NULL
                    AND b_us IS NOT NULL AND b_us > a_us
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
                FROM dd GROUP BY 1)
         SELECT d, n_sessions, n_entered, n_converted,
           CASE WHEN n_entered > 0
             THEN ${ExactRound.sqlRatioRound(
               "n_converted", "n_entered", 4)} END AS conv_rate
         FROM g2 ORDER BY d""",

    // basket twin: relational pair self-join == the map-side array
    // comprehension on set semantics; same count cut and lift order
    "q206_basket_lift" ->
      s"""WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         pr AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_both
                FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 3),
         pc AS (SELECT pk, count(*) AS c FROM pp GROUP BY 1),
         tt AS (SELECT count(DISTINCT ok) AS n_orders FROM pp)
         SELECT pa, pb, n_both, ca.c AS ca, cb.c AS cb,
           ${ExactRound.sqlRatioRound("n_both", "n_orders", 6)}
             AS support,
           ${ExactRound.sqlRatioRound("n_both", "ca.c", 4)}
             AS confidence,
           ${ExactRound.sqlRatioRound(
             "CAST(n_both AS HUGEINT)*CAST(n_orders AS HUGEINT)",
             "CAST(ca.c AS HUGEINT)*CAST(cb.c AS HUGEINT)", 4)} AS lift
         FROM pr
         JOIN pc ca ON ca.pk = pr.pa
         JOIN pc cb ON cb.pk = pr.pb
         CROSS JOIN tt
         ORDER BY lift DESC, pa, pb LIMIT 20""",

    // expectation-suite twin: same checks, same counts
    "q204_dq_expectations" ->
      """WITH checks AS (
         SELECT 'lineitem_pk_unique' AS check_name,
           count(*) AS n_checked,
           count(*) - count(DISTINCT (l_orderkey, l_linenumber))
             AS n_violations
         FROM lineitem
         UNION ALL
         SELECT 'orders_custkey_fk', count(*),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT)
         FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
           ON o.o_custkey = c.c_custkey
         UNION ALL
         SELECT 'lineitem_orderkey_fk', count(*),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT)
         FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           ON l.l_orderkey = o.o_orderkey
         UNION ALL
         SELECT 'discount_in_unit_range', count(*),
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
             THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'quantity_positive', count(*),
           CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'price_positive', count(*),
           CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
             AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'orderdate_not_null', count(*),
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'ship_not_before_order', count(*),
           CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
             AS BIGINT)
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT check_name, n_checked, n_violations,
           n_violations = 0 AS pass
         FROM checks ORDER BY check_name""",

    // latency twin: same day difference, same quantile_cont mapping
    "q198_ship_latency" ->
      """SELECT o_orderpriority, count(*) AS n_items,
           CAST(min(lat) AS INTEGER) AS min_days,
           round(quantile_cont(lat, 0.5), 4) AS p50,
           round(quantile_cont(lat, 0.9), 4) AS p90,
           CAST(max(lat) AS INTEGER) AS max_days
         FROM (SELECT o_orderpriority,
                 datediff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS lat
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
         GROUP BY 1 ORDER BY o_orderpriority""",

    // incremental-refresh twin: the oracle is the FULL from-scratch
    // rollup — late-day splicing must be invisible in the result
    "q195_incremental_agg" ->
      """SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
             AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY d, event_type""",

    // Q10 twin: same decimal revenue, same (revenue DESC, c_custkey)
    // top-20 cut
    "q191_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name, count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",

    // Q7 twin: same two-role nation join, same decimal revenue
    "q210_nation_trade" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           count(*) AS n_items,
           CAST(round(SUM(CAST(l_extendedprice*(1.0 - l_discount)
             AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ns ON s_nationkey = ns.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation nc ON c_nationkey = nc.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND ns.n_name <> nc.n_name
         GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""",

    // Q8 twin: conditional numerator + total denominator in one pass
    "q211_market_share" ->
      s"""WITH x AS (
           SELECT year(o_orderdate) AS o_year,
             SUM(CASE WHEN ns.n_name = 'NATION_3'
               THEN CAST(l_extendedprice*(1.0 - l_discount) AS DECIMAL(28,6))
               ELSE CAST(0 AS DECIMAL(28,6)) END) AS nat_rev,
             SUM(CAST(l_extendedprice*(1.0 - l_discount)
               AS DECIMAL(28,6))) AS tot_rev
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation nc ON c_nationkey = nc.n_nationkey
           JOIN region ON nc.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ns ON s_nationkey = ns.n_nationkey
           WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
           GROUP BY 1)
         SELECT CAST(o_year AS INTEGER) AS o_year,
           CAST(round(nat_rev, 2) AS DOUBLE) AS nation_revenue,
           CAST(round(tot_rev, 2) AS DOUBLE) AS total_revenue,
           ${ExactRound.sqlRatioRound(
             "CAST(nat_rev*1000000 AS HUGEINT)",
             "CAST(tot_rev*1000000 AS HUGEINT)", 6)} AS mkt_share
         FROM x ORDER BY o_year""",

    // Q14 twin: same month bucket, same conditional decimal numerator
    "q212_promo_share" ->
      s"""SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS ship_month,
           count(*) AS n_items,
           CAST(round(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice*(1.0 - l_discount) AS DECIMAL(28,6))
             ELSE CAST(0 AS DECIMAL(28,6)) END), 2) AS DOUBLE)
             AS promo_revenue,
           ${ExactRound.sqlRatioRound(
             "CAST(SUM(CASE WHEN p_type = 'PROMO'" +
               " THEN CAST(l_extendedprice*(1.0 - l_discount)" +
               " AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6))" +
               " END)*1000000 AS HUGEINT)*100",
             "CAST(SUM(CAST(l_extendedprice*(1.0 - l_discount)" +
               " AS DECIMAL(28,6)))*1000000 AS HUGEINT)", 6)}
             AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY ship_month""",

    // Q17 twin: decorrelated per-part threshold, same exact avg form
    "q213_small_qty" ->
      """WITH thr AS (
           SELECT l_partkey AS t_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS avg_qty
           FROM lineitem GROUP BY 1)
         SELECT p_brand, count(*) AS n_small,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
             AS DOUBLE) / 7.0, 2) AS avg_yearly
         FROM lineitem
         JOIN thr ON l_partkey = t_partkey
         JOIN part ON l_partkey = p_partkey
         WHERE l_quantity < 0.5 * avg_qty
         GROUP BY 1 ORDER BY p_brand""",

    // Q18 twin: same pre-aggregated HAVING cut, same top-20 tie-break
    "q214_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty
           FROM lineitem GROUP BY 1
           HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             > 250.0)
         SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           sum_qty
         FROM big
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY sum_qty DESC, o_orderkey LIMIT 20""",

    // Q22 twin: same positive-balance average, same anti-join window
    "q215_idle_customers" ->
      """WITH avg_bal AS (
           SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
             / count(*) AS ab
           FROM customer WHERE c_acctbal > 0.0),
          recent AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
         SELECT n_name, count(*) AS n_cust,
           CAST(round(SUM(CAST(c_acctbal AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS total_bal
         FROM customer
         CROSS JOIN avg_bal
         JOIN nation ON c_nationkey = n_nationkey
         WHERE c_acctbal > ab
           AND c_custkey NOT IN (SELECT o_custkey FROM recent)
         GROUP BY 1 ORDER BY n_name""",

    // Q13 twin: zero-order customers kept by the left join
    "q216_order_count_dist" ->
      """SELECT n_orders, count(*) AS n_cust
         FROM (SELECT c_custkey, count(o_orderkey) AS n_orders
               FROM customer LEFT JOIN orders ON c_custkey = o_custkey
               GROUP BY 1)
         GROUP BY 1 ORDER BY n_cust DESC, n_orders DESC""",

    // Q6 twin: identical pushed predicates, one decimal-exact row
    "q217_discount_revenue" ->
      """SELECT count(*) AS n_items,
           CAST(round(SUM(CAST(l_extendedprice * l_discount
             AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24.0""",

    // Q4 twin: correlated EXISTS with the same +90-day bound
    "q228_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY 1 ORDER BY o_orderpriority""",

    // Q15 twin: same decimal revenue view, winners by exact-decimal
    // max equality
    "q229_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
             SUM(CAST(l_extendedprice*(1.0 - l_discount)
               AS DECIMAL(28,6))) AS r
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
           GROUP BY 1)
         SELECT s_suppkey, s_name,
           CAST(round(r, 2) AS DOUBLE) AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE r = (SELECT max(r) FROM rev)
         ORDER BY s_suppkey""",

    // WoW twin: ISO-Monday week bucket, decimal lag, same quotient
    "q238_revenue_wow" ->
      s"""WITH weekly AS (
           SELECT date_trunc('week', CAST(o_orderdate AS DATE)) AS wk,
             count(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rd
           FROM orders GROUP BY 1),
          l AS (SELECT wk, n_orders, rd,
                  lag(rd) OVER (ORDER BY wk) AS prev
                FROM weekly)
          SELECT wk, n_orders,
            CAST(round(rd, 2) AS DOUBLE) AS revenue,
            CASE WHEN prev IS NOT NULL AND prev > 0
              THEN ${ExactRound.sqlRatioRound(
                "CAST(rd*1000000 AS HUGEINT)" +
                  " - CAST(prev*1000000 AS HUGEINT)",
                "CAST(prev*1000000 AS HUGEINT)", 6)} END AS wow_growth
          FROM l ORDER BY wk""",

    // ABC twin: exact decimal running sum, same 0.80/0.95 fences on
    // one identical double quotient
    "q239_abc_pareto" ->
      s"""WITH rev AS (
           SELECT l_partkey,
             SUM(CAST(l_extendedprice*(1.0 - l_discount)
               AS DECIMAL(28,6))) AS rd
           FROM lineitem GROUP BY 1),
          tot AS (SELECT SUM(rd) AS td FROM rev),
          c AS (SELECT l_partkey, rd, td,
                  SUM(rd) OVER (ORDER BY rd DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                FROM rev CROSS JOIN tot),
          k AS (SELECT rd, td,
                  CASE WHEN CAST(cum AS DOUBLE)/CAST(td AS DOUBLE) <= 0.80
                    THEN 'A'
                    WHEN CAST(cum AS DOUBLE)/CAST(td AS DOUBLE) <= 0.95
                    THEN 'B' ELSE 'C' END AS abc_class
                FROM c)
          SELECT abc_class, count(*) AS n_parts,
            CAST(round(SUM(rd), 2) AS DOUBLE) AS class_revenue,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(rd)*1000000 AS HUGEINT)",
              "CAST(max(td)*1000000 AS HUGEINT)", 6)}
              AS revenue_share
          FROM k GROUP BY 1 ORDER BY abc_class""",

    // order-gap twin: same (date, orderkey) tie rule, exact day
    // integers, floor-form mean + quantile_cont median
    "q244_order_gap" ->
      """WITH g AS (
           SELECT o_custkey,
             datediff('day',
               lag(CAST(o_orderdate AS DATE)) OVER w,
               CAST(o_orderdate AS DATE)) AS gap_days
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey))
          SELECT c_mktsegment, count(*) AS n_gaps,
            CAST(floor(CAST(SUM(gap_days) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
              AS mean_gap_days,
            round(quantile_cont(gap_days, 0.5), 4) AS p50_gap_days
          FROM g JOIN customer ON o_custkey = c_custkey
          WHERE gap_days IS NOT NULL
          GROUP BY 1 ORDER BY c_mktsegment""",

    // YoY twin: one conditional-sum scan, same revenue floor, same
    // (growth desc, partkey) top-20
    "q245_part_yoy" ->
      s"""WITH r AS (
           SELECT l_partkey,
             SUM(CASE WHEN l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
               THEN CAST(l_extendedprice*(1.0 - l_discount)
                 AS DECIMAL(28,6))
               ELSE CAST(0 AS DECIMAL(28,6)) END) AS r1,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
               THEN CAST(l_extendedprice*(1.0 - l_discount)
                 AS DECIMAL(28,6))
               ELSE CAST(0 AS DECIMAL(28,6)) END) AS r2
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
           GROUP BY 1
           HAVING r1 > 1000.0)
          SELECT l_partkey,
            CAST(round(r1, 2) AS DOUBLE) AS rev_1999,
            CAST(round(r2, 2) AS DOUBLE) AS rev_2000,
            ${ExactRound.sqlRatioRound(
              "CAST(r2*1000000 AS HUGEINT)" +
                " - CAST(r1*1000000 AS HUGEINT)",
              "CAST(r1*1000000 AS HUGEINT)", 6)} AS growth
          FROM r
          ORDER BY growth DESC, l_partkey LIMIT 20""",

    // AOV twin: decimal total + the q198 percentile mapping
    "q246_segment_aov" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2)
             AS DOUBLE) AS total_value,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",

    // backlog twin: same daily pre-shrink, full-outer day align,
    // integer cumulative windows
    "q255_backlog" ->
      """WITH oi AS (SELECT CAST(o_orderdate AS DATE) AS d,
                       count(*) AS n_in
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                     GROUP BY 1),
          so AS (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_out
                 FROM lineitem GROUP BY 1),
          a AS (SELECT COALESCE(oi.d, so.d) AS d,
                  COALESCE(n_in, 0) AS n_in,
                  COALESCE(n_out, 0) AS n_out
                FROM oi FULL OUTER JOIN so ON oi.d = so.d)
          SELECT d, n_in, n_out,
            CAST(SUM(n_in) OVER cw - SUM(n_out) OVER cw AS BIGINT)
              AS backlog
          FROM a
          WINDOW cw AS (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ORDER BY d""",

    // LTV-decile twin: identical ntile bucket arithmetic over the
    // same total order, decimal-exact rollups
    "q256_ltv_deciles" ->
      s"""WITH ltv AS (
           SELECT o_custkey, count(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS ltv
           FROM orders GROUP BY 1),
          t AS (SELECT SUM(ltv) AS tv FROM ltv),
          d AS (SELECT o_custkey, n_orders, ltv,
                  ntile(10) OVER (ORDER BY ltv DESC, o_custkey) AS decile
                FROM ltv)
          SELECT CAST(decile AS INTEGER) AS decile, count(*) AS n_cust,
            CAST(SUM(n_orders) AS BIGINT) AS n_orders,
            CAST(round(SUM(ltv), 2) AS DOUBLE) AS decile_value,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(ltv)*1000000 AS HUGEINT)",
              "CAST((SELECT tv FROM t)*1000000 AS HUGEINT)", 6)}
              AS value_share
          FROM d GROUP BY 1 ORDER BY decile""",

    // ties twin: dense_rank over the exact decimal revenue
    "q258_top_parts_with_ties" ->
      """WITH r AS (
           SELECT l_suppkey, l_partkey,
             SUM(CAST(l_extendedprice*(1.0 - l_discount)
               AS DECIMAL(28,6))) AS rd
           FROM lineitem WHERE l_suppkey <= 20
           GROUP BY 1, 2),
          k AS (SELECT *, CAST(dense_rank() OVER
                  (PARTITION BY l_suppkey ORDER BY rd DESC)
                  AS INTEGER) AS rnk
                FROM r)
          SELECT l_suppkey, rnk, l_partkey,
            CAST(round(rd, 2) AS DOUBLE) AS revenue
          FROM k WHERE rnk <= 3
          ORDER BY l_suppkey, rnk, l_partkey""",

    // Q16 twin: same distinct pairs, same brand cut, integer counts
    "q261_supplier_breadth" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT p_brand,
           CAST((p_size - 1) // 10 AS INTEGER) AS size_bucket,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
         FROM ps JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1'
         GROUP BY 1, 2
         ORDER BY n_suppliers DESC, p_brand, size_bucket""",

    // Q9 twin: same decimal amount expression, same cost proxy
    "q262_product_profit" ->
      """SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS l_year,
           count(*) AS n_items,
           CAST(round(SUM(CAST(l_extendedprice*(1.0 - l_discount)
             - l_quantity*(p_retailprice/10.0) AS DECIMAL(28,6))), 2)
             AS DOUBLE) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2 ORDER BY n_name, l_year""",

    // priority-mix twin: share over the per-year window on the
    // aggregate
    "q263_priority_mix" ->
      s"""WITH g AS (
           SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             o_orderpriority, count(*) AS n_orders
           FROM orders GROUP BY 1, 2)
         SELECT o_year, o_orderpriority, n_orders,
           ${ExactRound.sqlRatioRound(
             "n_orders", "SUM(n_orders) OVER (PARTITION BY o_year)", 6)}
             AS share
         FROM g ORDER BY o_year, o_orderpriority""",

    // cohort twin: per-customer min year joined back, tiny triangle
    "q267_cohort_revenue" ->
      """WITH c AS (SELECT o_custkey AS ck,
                      CAST(min(year(o_orderdate)) AS INTEGER)
                        AS cohort_year
                    FROM orders GROUP BY 1)
         SELECT cohort_year,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
           count(*) AS n_orders,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2)
             AS DOUBLE) AS revenue
         FROM orders JOIN c ON o_custkey = ck
         GROUP BY 1, 2 ORDER BY cohort_year, order_year""",

    // elasticity twin: same integer band, decimal-exact quantity mean
    "q268_discount_elasticity" ->
      s"""SELECT CAST(floor(l_discount * 100.0) AS INTEGER) AS disc_pct,
           count(*) AS n_items,
           ${ExactRound.sqlRatioRound(
             "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))*1000000" +
               " AS HUGEINT)",
             "count(*)*1000000", 6)} AS avg_qty,
           CAST(round(SUM(CAST(l_extendedprice*(1.0 - l_discount)
             AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem GROUP BY 1 ORDER BY disc_pct""",

    // order-size twin: count of counts
    "q271_order_size_hist" ->
      """SELECT n_items, count(*) AS n_orders
         FROM (SELECT l_orderkey, count(*) AS n_items
               FROM lineitem GROUP BY 1)
         GROUP BY 1 ORDER BY n_items""",

    // return-rate twin: conditional integer counts per brand
    "q264_return_rate" ->
      s"""SELECT p_brand, count(*) AS n_items,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returned,
           ${ExactRound.sqlRatioRound(
             "SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)",
             "count(*)", 6)} AS return_rate
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand""",

    // tau-b twin: same contingency cells, strict-inequality pair
    // join, exact integer tie terms, split-sqrt double formula
    "q274_kendall_tau" ->
      """WITH pts AS (SELECT CAST(round(l_discount*100, 0) AS BIGINT)
                        AS x, CAST(l_quantity AS BIGINT) AS y
                      FROM lineitem),
          cells AS (SELECT x, y, count(*) AS c FROM pts GROUP BY 1, 2),
          co AS (SELECT COALESCE(CAST(SUM(a.c*b.c) AS BIGINT), 0)
                   AS conc
                 FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y),
          di AS (SELECT COALESCE(CAST(SUM(a.c*b.c) AS BIGINT), 0)
                   AS disc
                 FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y),
          tx AS (SELECT CAST(SUM(t*(t-1)//2) AS BIGINT) AS n1,
                   CAST(SUM(t) AS BIGINT) AS n
                 FROM (SELECT x, SUM(c) AS t FROM cells GROUP BY 1)),
          ty AS (SELECT CAST(SUM(t*(t-1)//2) AS BIGINT) AS n2
                 FROM (SELECT y, SUM(c) AS t FROM cells GROUP BY 1)),
          nc AS (SELECT count(*) AS n_cells FROM cells)
          SELECT n, n_cells, conc, disc,
            CASE WHEN n*(n-1)//2 > n1 AND n*(n-1)//2 > n2 THEN
              round(CAST(conc - disc AS DOUBLE)
                / (sqrt(CAST(n*(n-1)//2 - n1 AS DOUBLE))
                  * sqrt(CAST(n*(n-1)//2 - n2 AS DOUBLE))), 6) END
              AS tau_b
          FROM co, di, tx, ty, nc""",

    // Theil twin: DECIMAL-exact per-customer revenue, broadcast-μ
    // shape, 12dp DECIMAL term fold, /n at the end
    "q275_theil_index" ->
      s"""WITH cust AS (SELECT o_custkey,
                         round(SUM(CAST(o_totalprice AS DECIMAL(28,6))),
                           2) AS xdec
                       FROM orders GROUP BY 1),
          m AS (SELECT c_mktsegment, xdec FROM cust
                JOIN customer ON o_custkey = c_custkey),
          tot AS (SELECT c_mktsegment, count(*) AS n_members,
                    CAST(round(SUM(xdec), 2) AS DOUBLE) AS total
                  FROM m GROUP BY 1),
          t AS (SELECT m.c_mktsegment,
                  CAST(n_members AS BIGINT) AS n_members,
                  total / CAST(n_members AS DOUBLE) AS mu,
                  CAST(xdec AS DOUBLE) AS xd
                FROM m JOIN tot USING (c_mktsegment))
          SELECT c_mktsegment, max(n_members) AS n_members,
            round(max(mu), 4) AS mean_value,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(CAST(round(xd/mu * ln(xd/mu), 12)" +
                " AS DECIMAL(38,12)))*1000000000000 AS HUGEINT)",
              "max(n_members)*1000000000000", 6)} AS theil_t,
            ${ExactRound.sqlRatioRound(
              "CAST(SUM(CAST(round(ln(mu/xd), 12)" +
                " AS DECIMAL(38,12)))*1000000000000 AS HUGEINT)",
              "max(n_members)*1000000000000", 6)} AS theil_l
          FROM t GROUP BY 1 ORDER BY c_mktsegment""",

    // KM twin: same spells (lead over (d, orderkey), censor at the
    // global max date), integer at-risk via the desc-cumulative
    // window, 12dp ln fold, absorbed states pin S to 0
    "q280_kaplan_meier" ->
      s"""WITH $spellsCte,
          cells AS (SELECT c_mktsegment, dur, count(*) AS n_all,
                      CAST(SUM(event) AS BIGINT) AS dd
                    FROM sp GROUP BY 1, 2),
          ar AS (SELECT *, CAST(SUM(n_all) OVER (PARTITION BY
                     c_mktsegment ORDER BY dur DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS at_risk
                 FROM cells),
          ev AS (SELECT c_mktsegment, dur, dd,
                   CASE WHEN dd < at_risk THEN
                     CAST(round(ln(CAST(at_risk - dd AS DOUBLE)
                       / CAST(at_risk AS DOUBLE)), 12)
                       AS DECIMAL(38,12)) END AS lnterm
                 FROM ar WHERE dd > 0),
          base AS (SELECT c_mktsegment, count(*) AS n_spells,
                     CAST(SUM(event) AS BIGINT) AS n_events
                   FROM sp GROUP BY 1),
          h AS (SELECT c_mktsegment, n_spells, n_events,
                  CAST(hz AS INTEGER) AS horizon
                FROM base, unnest([30, 90, 180, 365]) AS u(hz)),
          j AS (SELECT h.c_mktsegment, horizon, n_spells, n_events,
                  SUM(CASE WHEN ev.dur IS NOT NULL
                    AND ev.dur <= horizon THEN lnterm END) AS lnsum,
                  MAX(CASE WHEN ev.dur IS NOT NULL
                    AND ev.dur <= horizon AND lnterm IS NULL
                    THEN 1 ELSE 0 END) AS absorbed,
                  SUM(CASE WHEN ev.dur IS NOT NULL
                    AND ev.dur <= horizon THEN dd ELSE 0 END) AS d_in_h
                FROM h LEFT JOIN ev
                  ON h.c_mktsegment = ev.c_mktsegment
                GROUP BY 1, 2, 3, 4)
          SELECT c_mktsegment, horizon, n_spells, n_events,
            CASE WHEN absorbed = 1 THEN 0.0
                 WHEN d_in_h = 0 THEN 1.0
                 ELSE round(exp(CAST(lnsum AS DOUBLE)), 6) END AS surv
          FROM j ORDER BY c_mktsegment, horizon""",

    // Q2-shape twin: same pseudo-partsupp min-cost cells, region
    // slice, correlated min via groupBy + join back, total-order cut
    "q284_min_cost_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
                       min(round(l_extendedprice / l_quantity, 2))
                         AS cost
                     FROM lineitem GROUP BY 1, 2),
          supp AS (SELECT s_suppkey, s_name, s_acctbal, n_name
                   FROM supplier
                   JOIN nation ON s_nationkey = n_nationkey
                   JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name = 'ASIA'),
          parts AS (SELECT p_partkey, p_name FROM part
                    WHERE p_type = 'LARGE'
                      AND p_size BETWEEN 10 AND 20),
          cand AS (SELECT * FROM ps
                   JOIN supp ON l_suppkey = s_suppkey
                   JOIN parts ON l_partkey = p_partkey),
          mc AS (SELECT l_partkey AS mp, min(cost) AS min_cost
                 FROM cand GROUP BY 1)
          SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost
          FROM cand JOIN mc ON l_partkey = mp AND cost = min_cost
          ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          LIMIT 20""",

    // Q11-shape twin: DECIMAL-exact regional part values, scalar
    // total, shared double threshold compare
    "q290_important_stock" ->
      """WITH eu AS (SELECT s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
                      WHERE r_name = 'EUROPE'),
          v AS (SELECT l_partkey,
                  round(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2)
                    AS value_d
                FROM lineitem JOIN eu ON l_suppkey = s_suppkey
                GROUP BY 1),
          t AS (SELECT CAST(round(SUM(value_d), 2) AS DOUBLE) AS total,
                  CAST(count(*) AS DOUBLE) AS n_parts
                FROM v)
          SELECT l_partkey, CAST(value_d AS DOUBLE) AS value
          FROM v CROSS JOIN t
          WHERE CAST(value_d AS DOUBLE) > total * 1.5 / n_parts
          ORDER BY value DESC, l_partkey""",

    // key-skew twin: integer key counts, shared interpolated
    // percentiles, rounded ratios
    "q286_key_skew" ->
      s"""WITH c AS (SELECT l_partkey AS k, count(*) AS c
                    FROM lineitem GROUP BY 1),
          a AS (SELECT count(*) AS n_keys,
                  CAST(SUM(c) AS BIGINT) AS n_rows,
                  max(c) AS max_key_rows,
                  round(quantile_cont(c, 0.5), 4) AS p50_rows,
                  round(quantile_cont(c, 0.99), 4) AS p99_rows
                FROM c)
          SELECT n_keys, n_rows, max_key_rows, p50_rows, p99_rows,
            ${ExactRound.sqlRatioRound("max_key_rows", "n_rows", 6)}
              AS top1_share,
            CASE WHEN p50_rows > 0 THEN
              round(p99_rows / p50_rows, 6) END AS skew_ratio
          FROM a""",

    // Q12-shape twin: same 90-day datediff cut, symmetric conditional
    // counts (priority is never NULL, both forms agree)
    "q293_late_priority" ->
      """SELECT l_returnflag, count(*) AS n_late,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE datediff('day', CAST(o_orderdate AS DATE),
           CAST(l_shipdate AS DATE)) > 90
         GROUP BY 1 ORDER BY 1""",

    // Q19-shape twin: identical OR blocks, DECIMAL revenue, one row
    "q294_disjunctive_revenue" ->
      """SELECT count(*) AS n_items,
           CAST(round(SUM(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#3' AND l_quantity BETWEEN 1 AND 11
                 AND p_size BETWEEN 1 AND 5)
            OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20
                 AND p_size BETWEEN 1 AND 10)
            OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 20 AND 30
                 AND p_size BETWEEN 1 AND 15)""",

    // Q21-shape twin: same decorrelated per-order distinct counts,
    // same (numwait desc, name) top-20
    "q295_blame_supplier" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
                       datediff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) > 100 AS late
                     FROM lineitem JOIN orders
                       ON l_orderkey = o_orderkey),
          po AS (SELECT l_orderkey AS ok,
                   count(DISTINCT l_suppkey) AS n_supp,
                   count(DISTINCT CASE WHEN late THEN l_suppkey END)
                     AS n_late_supp
                 FROM li GROUP BY 1),
          ok AS (SELECT ok FROM po
                 WHERE n_supp > 1 AND n_late_supp = 1),
          w AS (SELECT DISTINCT l_orderkey, l_suppkey
                FROM li JOIN ok ON l_orderkey = ok
                WHERE late),
          c AS (SELECT l_suppkey, count(*) AS numwait
                FROM w GROUP BY 1)
          SELECT s_suppkey, s_name, numwait
          FROM c JOIN supplier ON l_suppkey = s_suppkey
          ORDER BY numwait DESC, s_name LIMIT 20""",

    // Q20-shape twin: same PROMO slice, DECIMAL quantity sums, same
    // relative qty·n_supp > 2·total cut and top-25 tie-break
    "q296_dominant_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
                       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     WHERE p_type = 'PROMO'
                     GROUP BY 1, 2),
          tot AS (SELECT l_partkey AS pk, SUM(qty) AS tot_qty,
                    count(*) AS n_supp
                  FROM ps GROUP BY 1),
          dom AS (SELECT l_suppkey, count(*) AS n_parts_dominated
                  FROM ps JOIN tot ON l_partkey = pk
                  WHERE qty * n_supp > tot_qty * 2
                  GROUP BY 1)
          SELECT s_suppkey, s_name, n_parts_dominated
          FROM dom JOIN supplier ON l_suppkey = s_suppkey
          ORDER BY n_parts_dominated DESC, s_suppkey LIMIT 25""",

    // Spearman twin: doubled midranks off the margin cumulatives,
    // DECIMAL moment products, one shared-order rho
    "q297_spearman" ->
      """WITH pts AS (SELECT CAST(round(l_discount*100, 0) AS BIGINT)
                        AS x, CAST(l_quantity AS BIGINT) AS y
                      FROM lineitem),
          cells AS (SELECT x, y, count(*) AS c FROM pts GROUP BY 1, 2),
          mx AS (SELECT x, 2*(SUM(nv) OVER (ORDER BY x) - nv) + nv + 1
                   AS rx2
                 FROM (SELECT x, SUM(c) AS nv FROM cells GROUP BY 1)),
          my AS (SELECT y, 2*(SUM(nv) OVER (ORDER BY y) - nv) + nv + 1
                   AS ry2
                 FROM (SELECT y, SUM(c) AS nv FROM cells GROUP BY 1)),
          m AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                  SUM(CAST(c AS DECIMAL(38,0))
                    * CAST(rx2 AS DECIMAL(38,0))) AS sx,
                  SUM(CAST(c AS DECIMAL(38,0))
                    * CAST(ry2 AS DECIMAL(38,0))) AS sy,
                  SUM(CAST(c AS DECIMAL(38,0))
                    * CAST(rx2 AS DECIMAL(38,0))
                    * CAST(ry2 AS DECIMAL(38,0))) AS sxy,
                  SUM(CAST(c AS DECIMAL(38,0))
                    * CAST(rx2 AS DECIMAL(38,0))
                    * CAST(rx2 AS DECIMAL(38,0))) AS sxx,
                  SUM(CAST(c AS DECIMAL(38,0))
                    * CAST(ry2 AS DECIMAL(38,0))
                    * CAST(ry2 AS DECIMAL(38,0))) AS syy
                FROM cells JOIN mx USING (x) JOIN my USING (y)),
          v AS (SELECT n,
                  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
                  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
                FROM m)
          SELECT n, CASE WHEN vx > 0 AND vy > 0
            THEN round(num / (sqrt(vx) * sqrt(vy)), 6) END AS rho
          FROM v""",

    // Mann–Whitney twin: same doubled-U integers, same tie-corrected
    // variance op order, same 1.959964 fence
    "q298_mann_whitney" ->
      """WITH pts AS (SELECT CAST(round(l_discount*100, 0) AS BIGINT)
                        AS v, l_returnflag = 'R' AS ia
                      FROM lineitem),
          dist AS (SELECT v,
                     CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT)
                       AS ca,
                     CAST(SUM(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT)
                       AS cb
                   FROM pts GROUP BY 1),
          cum AS (SELECT v, ca, cb,
                    SUM(cb) OVER (ORDER BY v) - cb AS belowb
                  FROM dist),
          a AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1,
                  CAST(SUM(cb) AS BIGINT) AS n2,
                  SUM(CAST(ca AS DECIMAL(38,0))
                    * CAST(2*belowb + cb AS DECIMAL(38,0))) AS u2,
                  SUM(CAST(ca+cb AS DECIMAL(38,0))
                    * CAST(ca+cb AS DECIMAL(38,0))
                    * CAST(ca+cb AS DECIMAL(38,0))
                    - CAST(ca+cb AS DECIMAL(38,0))) AS tie3
                FROM cum),
          f AS (SELECT n1, n2,
                  CAST(u2 AS DOUBLE) / 2.0 AS u,
                  CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
                  CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nd,
                  CAST(tie3 AS DOUBLE) AS t3
                FROM a),
          g AS (SELECT n1, n2, round(u, 4) AS u_stat,
                  CASE WHEN n1 > 0 AND n2 > 0 AND
                    n1d*n2d/12.0*((nd + 1) - t3/(nd*(nd - 1))) > 0
                  THEN round((u - n1d*n2d/2.0)
                    / sqrt(n1d*n2d/12.0*((nd + 1) - t3/(nd*(nd - 1)))),
                    6) END AS z
                FROM f)
          SELECT n1, n2, u_stat, z,
            CASE WHEN z IS NOT NULL THEN abs(z) > 1.959964 END
              AS significant
          FROM g""",

    // Kruskal–Wallis twin: same doubled midranks off the value
    // spectrum, exact DECIMAL rank sums, 12dp-rounded per-group
    // terms folded as DECIMAL, same tie correction and χ² fence
    "q311_kruskal_wallis" ->
      """WITH pts AS (SELECT CAST(round(l_discount*100, 0) AS BIGINT)
                        AS v, l_returnflag AS g FROM lineitem),
          cells AS (SELECT v, g, count(*) AS c FROM pts GROUP BY 1, 2),
          marg AS (SELECT v, SUM(c) AS nv FROM cells GROUP BY 1),
          mid AS (SELECT v,
                    2*(SUM(nv) OVER (ORDER BY v) - nv) + nv + 1 AS m2,
                    CAST(nv AS DECIMAL(38,0))*CAST(nv AS DECIMAL(38,0))
                      *CAST(nv AS DECIMAL(38,0))
                      - CAST(nv AS DECIMAL(38,0)) AS t3
                  FROM marg),
          grp AS (SELECT g, SUM(c) AS ng,
                    SUM(CAST(c AS DECIMAL(38,0))
                      * CAST(m2 AS DECIMAL(38,0))) AS r2
                  FROM cells JOIN mid USING (v) GROUP BY 1),
          ties AS (SELECT SUM(t3) AS t3s FROM mid),
          a AS (SELECT count(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
                  SUM(CAST(round(CAST(r2 AS DOUBLE)*CAST(r2 AS DOUBLE)
                    /(4.0*CAST(ng AS DOUBLE)), 12) AS DECIMAL(38,12)))
                    AS s
                FROM grp),
          f AS (SELECT k, n,
                  12.0/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1))
                    *CAST(s AS DOUBLE) - 3.0*(CAST(n AS DOUBLE)+1) AS h,
                  1.0 - CAST(t3s AS DOUBLE)
                    /CAST(CAST(n AS DECIMAL(38,0))*CAST(n AS DECIMAL(38,0))
                      *CAST(n AS DECIMAL(38,0))
                      - CAST(n AS DECIMAL(38,0)) AS DOUBLE) AS corr
                FROM a, ties)
          SELECT k, n, round(h, 6) AS h,
            CASE WHEN corr > 0 THEN round(h/corr, 6) END AS h_adj,
            CASE WHEN corr > 0 AND k > 1 THEN round(h/corr, 6) >
              (CASE WHEN k-1 = 1 THEN 3.8415 WHEN k-1 = 2 THEN 5.9915
                    WHEN k-1 = 3 THEN 7.8147 WHEN k-1 = 4 THEN 9.4877
                    WHEN k-1 = 5 THEN 11.0705 WHEN k-1 = 6 THEN 12.5916
                    WHEN k-1 = 7 THEN 14.0671 WHEN k-1 = 8 THEN 15.5073
                    WHEN k-1 = 9 THEN 16.9190 ELSE 18.3070 END)
            END AS reject_same_dist
          FROM f""",

    // Cliff's delta twin: same exclusive below-B prefix, exact
    // DECIMAL pair counts, same op order and magnitude bands
    "q312_cliffs_delta" ->
      """WITH pts AS (SELECT CAST(round(l_discount*100, 0) AS BIGINT)
                        AS v, l_returnflag = 'R' AS ia FROM lineitem),
          dist AS (SELECT v,
                     CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT)
                       AS ca,
                     CAST(SUM(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT)
                       AS cb
                   FROM pts GROUP BY 1),
          cum AS (SELECT v, ca, cb, SUM(cb) OVER (ORDER BY v) AS cumb
                  FROM dist),
          a AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1,
                  CAST(SUM(cb) AS BIGINT) AS n2,
                  SUM(CAST(ca AS DECIMAL(38,0))
                    * CAST(cumb - cb AS DECIMAL(38,0))) AS gt,
                  SUM(CAST(ca AS DECIMAL(38,0))
                    * CAST(cumb AS DECIMAL(38,0))) AS scum
                FROM cum),
          f AS (SELECT n1, n2, gt,
                  CAST(n1 AS DECIMAL(38,0))*CAST(n2 AS DECIMAL(38,0))
                    - scum AS lt
                FROM a),
          d AS (SELECT n1, n2,
                  CAST(gt AS BIGINT) AS n_gt, CAST(lt AS BIGINT) AS n_lt,
                  CASE WHEN n1 > 0 AND n2 > 0
                    THEN round((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                      /(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)), 6)
                  END AS delta
                FROM f)
          SELECT n1, n2, n_gt, n_lt, delta,
            CASE WHEN delta IS NULL THEN NULL
                 WHEN abs(delta) < 0.147 THEN 'negligible'
                 WHEN abs(delta) < 0.33 THEN 'small'
                 WHEN abs(delta) < 0.474 THEN 'medium'
                 ELSE 'large' END AS magnitude
          FROM d""",

    // Brown–Forsythe twin: same exact spectrum medians (lo/hi middle
    // ranks), doubled deviations, DECIMAL group sums, 12dp-rounded
    // between/within terms, same F op order and (k−1)·F ≈ χ² fence
    "q314_brown_forsythe" ->
      """WITH pts AS (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT)
                        AS v, o_orderpriority AS g FROM orders),
          cells AS (SELECT g, v, count(*) AS c FROM pts GROUP BY 1, 2),
          cum AS (SELECT g, v, c,
                    SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum
                  FROM cells),
          sizes AS (SELECT g, SUM(c) AS ng FROM cells GROUP BY 1),
          med AS (SELECT g,
                    min(CASE WHEN cum >= floor((ng+1)/2.0) THEN v END)
                      + min(CASE WHEN cum >= floor(ng/2.0)+1 THEN v END)
                      AS m2
                  FROM cum JOIN sizes USING (g) GROUP BY g),
          z AS (SELECT g, abs(2*v - m2) AS z2, c
                FROM cells JOIN med USING (g)),
          sums AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
                     SUM(CAST(c AS DECIMAL(38,0))
                       * CAST(z2 AS DECIMAL(38,0))) AS sz,
                     SUM(CAST(c AS DECIMAL(38,0))
                       * CAST(z2*z2 AS DECIMAL(38,0))) AS szz
                   FROM z GROUP BY 1),
          tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sz) AS szt
                  FROM sums),
          terms AS (SELECT ng, n,
                      CAST(round(CAST(ng AS DOUBLE)
                        *(CAST(sz AS DOUBLE)/CAST(ng AS DOUBLE)
                          - CAST(szt AS DOUBLE)/CAST(n AS DOUBLE))
                        *(CAST(sz AS DOUBLE)/CAST(ng AS DOUBLE)
                          - CAST(szt AS DOUBLE)/CAST(n AS DOUBLE)), 12)
                        AS DECIMAL(38,12)) AS bet,
                      CAST(round(CAST(szz AS DOUBLE)
                        - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE)
                          /CAST(ng AS DOUBLE), 12)
                        AS DECIMAL(38,12)) AS wit
                    FROM sums, tot),
          a AS (SELECT count(*) AS k, max(n) AS n,
                  SUM(bet) AS sb, SUM(wit) AS sw
                FROM terms),
          f AS (SELECT k, n,
                  (CAST(sb AS DOUBLE)/(CAST(k AS DOUBLE)-1))
                    /(CAST(sw AS DOUBLE)/(CAST(n AS DOUBLE)
                      - CAST(k AS DOUBLE))) AS fs,
                  CAST(sw AS DOUBLE) AS swd
                FROM a)
          SELECT k, n,
            CASE WHEN k > 1 AND swd > 0 AND n > k
              THEN round(fs, 6) END AS f_stat,
            CASE WHEN k > 1 AND swd > 0 AND n > k
              THEN fs*(CAST(k AS DOUBLE)-1) >
                (CASE WHEN k-1 = 1 THEN 3.8415 WHEN k-1 = 2 THEN 5.9915
                      WHEN k-1 = 3 THEN 7.8147 WHEN k-1 = 4 THEN 9.4877
                      WHEN k-1 = 5 THEN 11.0705 WHEN k-1 = 6 THEN 12.5916
                      WHEN k-1 = 7 THEN 14.0671 WHEN k-1 = 8 THEN 15.5073
                      WHEN k-1 = 9 THEN 16.9190 ELSE 18.3070 END)
            END AS reject_equal_spread
          FROM f""",

    // FD-audit twin: one count-distinct rollup per candidate, same
    // floor-form 6dp rate, unioned
    "q322_fd_audit" -> {
      def fd(name: String, table: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd, count(*) AS n_keys,
            CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_violating,
            floor(CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)
                AS DOUBLE)/CAST(count(*) AS DOUBLE)*1e6 + 0.5)/1e6
              AS violation_rate,
            CAST(max(n_rhs) AS BIGINT) AS max_fanout,
            SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
          FROM (SELECT $lhs AS k, count(DISTINCT $rhs) AS n_rhs
                FROM $table GROUP BY 1)"""
      Seq(
        fd("customer_nation_to_segment", "customer",
          "c_nationkey", "c_mktsegment"),
        fd("nation_name_to_region", "nation", "n_name", "n_regionkey"),
        fd("orders_cust_to_priority", "orders",
          "o_custkey", "o_orderpriority"),
        fd("part_name_to_size", "part", "p_name", "p_size"),
        fd("part_type_to_brand", "part", "p_type", "p_brand"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    },

    // Nelson–Aalen twin: q280's spell CTEs, 12dp DECIMAL hazard /
    // variance terms off the same at-risk prefix, horizon rollup
    "q331_nelson_aalen" ->
      s"""WITH $spellsCte,
          cells AS (SELECT c_mktsegment, dur, count(*) AS n_all,
                      CAST(SUM(event) AS BIGINT) AS dd
                    FROM sp GROUP BY 1, 2),
          ar AS (SELECT *, CAST(SUM(n_all) OVER (PARTITION BY
                     c_mktsegment ORDER BY dur DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS at_risk
                 FROM cells),
          ev AS (SELECT c_mktsegment, dur,
                   CAST(${ExactRound.sqlRatioRound(
                     "dd", "at_risk", 12)} AS DECIMAL(38,12)) AS hterm,
                   CAST(${ExactRound.sqlRatioRound(
                     "dd",
                     "CAST(at_risk AS HUGEINT)*at_risk", 12)}
                     AS DECIMAL(38,12)) AS vterm
                 FROM ar WHERE dd > 0),
          base AS (SELECT c_mktsegment, count(*) AS n_spells,
                     CAST(SUM(event) AS BIGINT) AS n_events
                   FROM sp GROUP BY 1),
          h AS (SELECT c_mktsegment, n_spells, n_events,
                  CAST(hz AS INTEGER) AS horizon
                FROM base, unnest([30, 90, 180, 365]) AS u(hz)),
          j AS (SELECT h.c_mktsegment, horizon, n_spells, n_events,
                  SUM(CASE WHEN ev.dur IS NOT NULL
                    AND ev.dur <= horizon THEN hterm END) AS hsum,
                  SUM(CASE WHEN ev.dur IS NOT NULL
                    AND ev.dur <= horizon THEN vterm END) AS vsum
                FROM h LEFT JOIN ev
                  ON h.c_mktsegment = ev.c_mktsegment
                GROUP BY 1, 2, 3, 4)
          SELECT c_mktsegment, horizon, n_spells, n_events,
            CAST(round(COALESCE(hsum,
              CAST(0 AS DECIMAL(38,12))), 6) AS DOUBLE) AS chaz,
            round(sqrt(COALESCE(CAST(vsum AS DOUBLE), 0.0)), 6)
              AS se_chaz,
            round(exp(-COALESCE(CAST(hsum AS DOUBLE), 0.0)), 6)
              AS na_surv
          FROM j ORDER BY c_mktsegment, horizon""",

    // OLS-2 twin: the nine DECIMAL raw moments, centered system and
    // Cramer solution in the one shared double op order
    "q332_ols2" ->
      """WITH r0 AS (SELECT l_returnflag AS g,
                CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS y,
                CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS x1,
                CAST(floor(l_discount*10000 + 0.5) AS BIGINT) AS x2
              FROM lineitem),
          a AS (SELECT g, count(*) AS n,
                  SUM(CAST(x1 AS DECIMAL(38,0))) AS sx1,
                  SUM(CAST(x2 AS DECIMAL(38,0))) AS sx2,
                  SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                  SUM(CAST(x1 AS DECIMAL(38,0))
                    *CAST(x1 AS DECIMAL(38,0))) AS sx11,
                  SUM(CAST(x2 AS DECIMAL(38,0))
                    *CAST(x2 AS DECIMAL(38,0))) AS sx22,
                  SUM(CAST(x1 AS DECIMAL(38,0))
                    *CAST(x2 AS DECIMAL(38,0))) AS sx12,
                  SUM(CAST(x1 AS DECIMAL(38,0))
                    *CAST(y AS DECIMAL(38,0))) AS sx1y,
                  SUM(CAST(x2 AS DECIMAL(38,0))
                    *CAST(y AS DECIMAL(38,0))) AS sx2y,
                  SUM(CAST(y AS DECIMAL(38,0))
                    *CAST(y AS DECIMAL(38,0))) AS syy
                FROM r0 GROUP BY 1),
          c AS (SELECT g, n, CAST(n AS DOUBLE) AS nd,
                  CAST(sx1 AS DOUBLE) AS dx1, CAST(sx2 AS DOUBLE) AS dx2,
                  CAST(sy AS DOUBLE) AS dy,
                  CAST(sx11 AS DOUBLE) AS d11,
                  CAST(sx22 AS DOUBLE) AS d22,
                  CAST(sx12 AS DOUBLE) AS d12,
                  CAST(sx1y AS DOUBLE) AS d1y,
                  CAST(sx2y AS DOUBLE) AS d2y,
                  CAST(syy AS DOUBLE) AS dyy
                FROM a),
          m AS (SELECT g, n, nd, dx1, dx2, dy,
                  d11 - dx1*dx1/nd AS s11,
                  d22 - dx2*dx2/nd AS s22,
                  d12 - dx1*dx2/nd AS s12,
                  d1y - dx1*dy/nd AS s1y,
                  d2y - dx2*dy/nd AS s2y,
                  dyy - dy*dy/nd AS syc
                FROM c),
          d AS (SELECT *, s11*s22 - s12*s12 AS det FROM m),
          b AS (SELECT *, (s1y*s22 - s2y*s12)/det AS b1,
                  (s11*s2y - s12*s1y)/det AS b2 FROM d),
          e AS (SELECT *, dy/nd - b1*dx1/nd - b2*dx2/nd AS b0,
                  (syc - b1*s1y - b2*s2y)/(nd - 3) AS sig2 FROM b)
          SELECT g AS l_returnflag, n,
            CASE WHEN n > 3 AND det > 0 AND syc > 0
              THEN round(b0, 6) END AS b0,
            CASE WHEN n > 3 AND det > 0 AND syc > 0
              THEN round(b1, 6) END AS b1,
            CASE WHEN n > 3 AND det > 0 AND syc > 0
              THEN round(b2, 6) END AS b2,
            CASE WHEN n > 3 AND det > 0 AND syc > 0
              THEN round((b1*s1y + b2*s2y)/syc, 6) END AS r2,
            CASE WHEN n > 3 AND det > 0 AND syc > 0 AND sig2 > 0
              THEN round(b1/sqrt(sig2*s22/det), 6) END AS t1,
            CASE WHEN n > 3 AND det > 0 AND syc > 0 AND sig2 > 0
              THEN round(b2/sqrt(sig2*s11/det), 6) END AS t2
          FROM e ORDER BY l_returnflag""",

    // Wilson twin: 6dp decimal-mean threshold, exact counts, the
    // interval in one shared op order (z = 1.959964)
    "q335_wilson_ci" ->
      s"""WITH thr AS (SELECT ${ExactRound.sqlRatioRound(
                  "CAST(SUM(CAST(value AS DECIMAL(18,6)))*1000000" +
                    " AS HUGEINT)",
                  "count(*)*1000000", 6)} AS thr
                FROM events),
          a AS (SELECT event_type, count(*) AS n,
                  CAST(SUM(CASE WHEN value >= thr.thr THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
                FROM events, thr GROUP BY 1),
          p AS (SELECT *,
                  ${ExactRound.sqlRatioRound(
                    "SUM(n_hit) OVER ()", "SUM(n) OVER ()", 6)} AS p_pool
                FROM a),
          w AS (SELECT event_type, n, n_hit, p_pool,
                  ${ExactRound.sqlRatioRound("n_hit", "n", 6)} AS p,
                  CAST(n AS DOUBLE) AS nd
                FROM p),
          f AS (SELECT *,
                  (p + 1.959964*1.959964/(2.0*nd))
                    /(1.0 + 1.959964*1.959964/nd) AS center,
                  1.959964*sqrt(p*(1.0 - p)/nd
                      + 1.959964*1.959964/(4.0*nd*nd))
                    /(1.0 + 1.959964*1.959964/nd) AS half
                FROM w)
          SELECT event_type, n, n_hit, p AS p_hat,
            round(center - half, 6) AS ci_lo,
            round(center + half, 6) AS ci_hi,
            p_pool,
            (round(center + half, 6) < p_pool
              OR round(center - half, 6) > p_pool) AS differs_from_pool
          FROM f ORDER BY event_type""",

    // Sign-flip twin: the SAME 6dp daily-mean diffs, md5-parity signs
    // per (day, replica), exact DECIMAL sums and comparisons
    "q353_sign_flip_test" ->
      s"""WITH cells AS (SELECT CAST(ts AS DATE) AS d, event_type,
                ${ExactRound.sqlRatioRound(
                  "CAST(SUM(CAST(value AS DECIMAL(18,6)))*1000000" +
                    " AS HUGEINT)",
                  "count(*)*1000000", 6)} AS m
              FROM events WHERE event_type IN ('click', 'view')
              GROUP BY 1, 2),
          diffs AS (SELECT d, CAST(ma - mb AS DECIMAL(18,6)) AS diff
                    FROM (SELECT d,
                            max(CASE WHEN event_type = 'click'
                              THEN m END) AS ma,
                            max(CASE WHEN event_type = 'view'
                              THEN m END) AS mb
                          FROM cells GROUP BY 1)
                    WHERE ma IS NOT NULL AND mb IS NOT NULL),
          obs AS (SELECT count(*) AS n_days, SUM(diff) AS s_obs
                  FROM diffs),
          reps AS (SELECT r, SUM(sgn*diff) AS s_r FROM
                     (SELECT diff, g.r,
                        CASE WHEN CAST(concat('0x', substr(md5(
                          concat_ws('#', 'flip', d, r)), 1, 8))
                          AS BIGINT) % 2 = 0
                        THEN 1 ELSE -1 END AS sgn
                      FROM diffs, unnest(generate_series(0, 63))
                        AS g(r))
                   GROUP BY 1),
          agg AS (SELECT obs.n_days, obs.s_obs,
                    count(*) AS n_reps,
                    CAST(SUM(CASE WHEN abs(s_r) >= abs(s_obs)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
                  FROM reps, obs GROUP BY 1, 2)
          SELECT CAST(n_days AS BIGINT) AS n_days,
            CAST(n_reps AS BIGINT) AS n_reps, n_extreme,
            ${ExactRound.sqlRatioRound(
              "CAST(s_obs*1000000 AS HUGEINT)", "n_days*1000000", 6)}
              AS mean_diff,
            ${ExactRound.sqlRatioRound(
              "n_extreme + 1", "n_reps + 1", 6)} AS p_value
          FROM agg""",

    // Markov-stationary twin: q120's transition lag, 12dp
    // row-stochastic matrix, 15 UNROLLED π' = πP steps with the same
    // 12dp DECIMAL mass folds, L1 delta between the last two
    "q336_markov_stationary" -> {
      val iters = 15
      val steps = (1 to iters).map { i =>
        s"""p$i AS (SELECT s.state, COALESCE(x.pin, 0.0) AS pi
             FROM states s LEFT JOIN (
               SELECT t.to_s AS state,
                 round(CAST(SUM(CAST(round(p.pi * t.p, 12)
                   AS DECIMAL(38,12))) AS DOUBLE), 12) AS pin
               FROM p${i - 1} p JOIN trans t ON t.from_s = p.state
               GROUP BY 1) x ON x.state = s.state)"""
      }.mkString(",\n          ")
      s"""WITH cnt AS (SELECT from_s, event_type AS to_s, count(*) AS n
                FROM (SELECT event_type,
                        lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS from_s
                      FROM events)
                WHERE from_s IS NOT NULL GROUP BY 1, 2),
          trans AS (SELECT from_s, to_s,
                  ${ExactRound.sqlRatioRound(
                    "n", "SUM(n) OVER (PARTITION BY from_s)", 12)} AS p
                FROM cnt),
          states AS (SELECT from_s AS state,
                   CAST(SUM(n) AS BIGINT) AS n_out
                 FROM cnt GROUP BY 1),
          kk AS (SELECT count(*) AS k FROM states),
          p0 AS (SELECT state, round(1.0/CAST(kk.k AS DOUBLE), 12) AS pi
                 FROM states, kk),
          $steps,
          delta AS (SELECT round(CAST(SUM(CAST(round(abs(a.pi - b.pi),
                      12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS l1_delta
                    FROM p$iters a JOIN p${iters - 1} b
                      ON a.state = b.state)
          SELECT p.state, s.n_out, round(p.pi, 6) AS pi,
            (SELECT l1_delta FROM delta) AS l1_delta
          FROM p$iters p JOIN states s ON s.state = p.state
          ORDER BY p.state"""
    },

    // Poisson-bootstrap twin: the SAME integer thresholds
    // (StatOps.PoissonThresholds interpolated) against the portable
    // 32-bit md5 draw, DECIMAL weighted sums, 6dp replica means,
    // sample-sd SE, normal CI off the 6dp point mean
    "q328_poisson_bootstrap" -> {
      val w = StatOps.PoissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN h < $t THEN $k" }
        .mkString("CASE ", " ", s" ELSE ${StatOps.PoissonThresholds.size} END")
      s"""WITH r0 AS (SELECT o_orderpriority AS priority,
                       o_orderkey AS key,
                       CAST(floor(o_totalprice*1e6 + 0.5) AS BIGINT) AS x
                     FROM orders),
          base AS (SELECT priority, count(*) AS n,
                     ${ExactRound.sqlRatioRound(
                       "CAST(SUM(CAST(x AS DECIMAL(38,0))) AS HUGEINT)",
                       "count(*)*1000000", 6)} AS mean
                   FROM r0 GROUP BY 1),
          reps AS (SELECT priority, key, x, r,
                     CAST(concat('0x', substr(md5(
                       concat_ws('#', 'boot', key, r)), 1, 8)) AS BIGINT)
                       AS h
                   FROM r0, unnest(generate_series(0, 31)) AS g(r)),
          wts AS (SELECT priority, r, ($w) AS w, x FROM reps),
          rm AS (SELECT priority, r, CAST(SUM(w) AS BIGINT) AS sw,
                   SUM(CAST(w*x AS DECIMAL(38,0))) AS swx
                 FROM wts GROUP BY 1, 2),
          mr AS (SELECT priority,
                   CASE WHEN sw > 0 THEN
                     ${ExactRound.sqlRatioRound(
                       "CAST(swx AS HUGEINT)", "sw*1000000", 6)} END
                     AS mr
                 FROM rm),
          boot AS (SELECT priority, count(mr) AS n_reps,
                     CAST(SUM(CAST(mr AS DECIMAL(38,6))) AS DOUBLE)
                       AS sm,
                     CAST(SUM(CAST(round(mr*mr, 12) AS DECIMAL(38,12)))
                       AS DOUBLE) AS sm2
                   FROM mr GROUP BY 1),
          se AS (SELECT priority, n_reps,
                   sqrt((sm2 - sm*sm/CAST(n_reps AS DOUBLE))
                     /(CAST(n_reps AS DOUBLE)-1)) AS se
                 FROM boot)
          SELECT base.priority, base.n, base.mean, se.n_reps,
            CASE WHEN n_reps > 1 THEN round(se, 6) END AS boot_se,
            CASE WHEN n_reps > 1 THEN round(mean - 1.96*se, 6) END
              AS ci_lo,
            CASE WHEN n_reps > 1 THEN round(mean + 1.96*se, 6) END
              AS ci_hi
          FROM base JOIN se ON base.priority = se.priority
          ORDER BY base.priority"""
    },

    // FK-coverage twin: per edge, grouped child keys full-outer the
    // distinct parent keys, exact integer folds, ExactRound shares
    "q414_fk_coverage" -> Seq(
      ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .map { case (edge, child, ck, parent, pk) =>
        s"""SELECT '$edge' AS edge, n_child, n_orphans, n_parents,
              n_childless,
              CASE WHEN n_child > 0 THEN ${ExactRound.sqlRatioRound(
                "n_orphans", "n_child", 6)} END AS orphan_share,
              CASE WHEN n_parents > 0 THEN ${ExactRound.sqlRatioRound(
                "n_childless", "n_parents", 6)} END AS childless_share
            FROM (
              SELECT CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n_child,
                CAST(COALESCE(SUM(CASE WHEN p IS NULL THEN nc END), 0)
                  AS BIGINT) AS n_orphans,
                CAST(COALESCE(SUM(CASE WHEN p IS NOT NULL THEN 1 END), 0)
                  AS BIGINT) AS n_parents,
                CAST(COALESCE(SUM(CASE WHEN p IS NOT NULL
                  AND nc IS NULL THEN 1 END), 0) AS BIGINT) AS n_childless
              FROM (SELECT $ck AS k, count(*) AS nc
                    FROM $child GROUP BY 1) c
              FULL OUTER JOIN (SELECT DISTINCT $pk AS k, 1 AS p
                    FROM $parent) pq USING (k))"""
      }.mkString("", "\n          UNION ALL\n          ",
        "\n          ORDER BY edge"),

    // windowed-funnel twin: the same greedy-earliest min() chain —
    // each step's earliest event strictly after the previous step,
    // still within the 2-day window of step 1
    "q416_window_funnel" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1, min(ts) AS tp
                      FROM events WHERE event_type = 'view' GROUP BY 1),
          s2 AS (SELECT e.user_id, s1.t1, min(e.ts) AS tp
                 FROM events e JOIN s1 ON e.user_id = s1.user_id
                 WHERE e.event_type = 'click' AND e.ts > s1.tp
                   AND epoch_us(e.ts) - epoch_us(s1.t1)
                     <= CAST(172800000000 AS BIGINT)
                 GROUP BY 1, 2),
          s3 AS (SELECT e.user_id, s2.t1, min(e.ts) AS tp
                 FROM events e JOIN s2 ON e.user_id = s2.user_id
                 WHERE e.event_type = 'purchase' AND e.ts > s2.tp
                   AND epoch_us(e.ts) - epoch_us(s2.t1)
                     <= CAST(172800000000 AS BIGINT)
                 GROUP BY 1, 2),
          c AS (SELECT 1 AS step, 'view' AS step_type,
                  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_reached
                UNION ALL
                SELECT 2, 'click',
                  (SELECT CAST(count(*) AS BIGINT) FROM s2)
                UNION ALL
                SELECT 3, 'purchase',
                  (SELECT CAST(count(*) AS BIGINT) FROM s3))
          SELECT CAST(step AS INTEGER) AS step, step_type, n_reached,
            n_reached - CAST(COALESCE(
              lead(n_reached) OVER (ORDER BY step), 0) AS BIGINT)
              AS n_stopped,
            CASE WHEN (SELECT count(*) FROM s1) > 0 THEN
              ${ExactRound.sqlRatioRound("n_reached",
                "(SELECT count(*) FROM s1)", 6)} END
              AS share_of_entrants
          FROM c ORDER BY step""",

    // growth-accounting twin: daily purchase actives, prev-day probe
    // as a (user, day−1) self-join, first-day attach, exact counts
    "q418_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
                       CAST(ts AS DATE) AS w
                     FROM events WHERE event_type = 'purchase'),
          fw AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1),
          pv AS (SELECT DISTINCT user_id, w + 1 AS w, 1 AS pw FROM uw),
          cur AS (SELECT uw.w,
                    count(*) AS n_active,
                    CAST(SUM(CASE WHEN fw.w0 = uw.w THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_new,
                    CAST(SUM(CASE WHEN pv.pw IS NOT NULL THEN 1 ELSE 0
                      END) AS BIGINT) AS n_retained,
                    CAST(SUM(CASE WHEN fw.w0 < uw.w AND pv.pw IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
                  FROM uw
                  JOIN fw ON fw.user_id = uw.user_id
                  LEFT JOIN pv ON pv.user_id = uw.user_id
                    AND pv.w = uw.w
                  GROUP BY 1),
          ch AS (SELECT a.w + 1 AS w, count(*) AS n_churned
                 FROM uw a LEFT JOIN uw b
                   ON b.user_id = a.user_id AND b.w = a.w + 1
                 WHERE b.user_id IS NULL
                 GROUP BY 1)
          SELECT cur.w, cur.n_active, cur.n_new, cur.n_retained,
            cur.n_resurrected,
            CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned
          FROM cur LEFT JOIN ch ON ch.w = cur.w
          ORDER BY cur.w""",

    // interference twin: the q416 greedy chain pair, EXISTS probe for
    // an error strictly inside (t1, t2), exact counts and share
    "q419_seq_interference" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                      WHERE event_type = 'view' GROUP BY 1),
          ch AS (SELECT e.user_id, s1.t1, min(e.ts) AS t2
                 FROM events e JOIN s1 ON e.user_id = s1.user_id
                 WHERE e.event_type = 'purchase' AND e.ts > s1.t1
                   AND epoch_us(e.ts) - epoch_us(s1.t1)
                     <= CAST(172800000000 AS BIGINT)
                 GROUP BY 1, 2),
          i AS (SELECT count(*) AS n_interfered FROM ch
                WHERE EXISTS (SELECT 1 FROM events e
                  WHERE e.user_id = ch.user_id
                    AND e.event_type = 'error'
                    AND e.ts > ch.t1 AND e.ts < ch.t2))
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_entered,
            (SELECT CAST(count(*) AS BIGINT) FROM ch) AS n_chains,
            CAST(n_interfered AS BIGINT) AS n_interfered,
            (SELECT CAST(count(*) AS BIGINT) FROM ch) - n_interfered
              AS n_clean,
            CASE WHEN (SELECT count(*) FROM ch) > 0 THEN
              ${ExactRound.sqlRatioRound("n_interfered",
                "(SELECT count(*) FROM ch)", 6)} END
              AS interference_share
          FROM i""",

    // audience-overlap twin: distinct (type, user, day) memberships,
    // per-(user, day) pair expansion, exact Jaccard
    "q420_audience_overlap" ->
      s"""WITH tu AS (SELECT DISTINCT event_type AS t, user_id,
                        CAST(ts AS DATE) AS d
                      FROM events),
          sz AS (SELECT t, count(*) AS n FROM tu GROUP BY 1),
          p AS (SELECT a.t AS type_a, b.t AS type_b,
                  count(*) AS n_both
                FROM tu a JOIN tu b
                  ON a.user_id = b.user_id AND a.d = b.d AND a.t < b.t
                GROUP BY 1, 2)
          SELECT type_a, type_b,
            sa.n AS n_a, sb.n AS n_b,
            CAST(n_both AS BIGINT) AS n_both,
            ${ExactRound.sqlRatioRound("n_both",
              "sa.n + sb.n - n_both", 6)} AS jaccard
          FROM p
          JOIN sz sa ON sa.t = type_a
          JOIN sz sb ON sb.t = type_b
          ORDER BY type_a, type_b"""
  )
}
