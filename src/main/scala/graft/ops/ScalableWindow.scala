package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key trailing/leading window helpers behind a stable
  * helper-column contract. Every op here is a plain
  * `Window.partitionBy(keys)` window, so a key's whole history sorts
  * in one window task.
  *
  * Scope contract ([[dayScoped]], [[rangeScoped]], [[dayScopedLead]],
  * [[dayScopedAround]]): the result holds the key columns first, then
  * `__day` (the date of `tsCol`), the remaining input columns, a
  * constant `__day_idx` and `__emit = true`. A caller windows by
  * `partitionBy(keyCols :+ "__day_idx")` — the per-key window — then
  * runs `filter(col("__emit"))` and drops the helpers. The reach
  * arguments (`carryRows`, `reachMicros`, `backRows`, `fwdRows`) state
  * how far the caller's frame looks; they are validated and otherwise
  * unused.
  */
object ScalableWindow {

  /** The scope contract's columns over the plain per-key window. */
  private def globalAugment(
      df0: DataFrame, keyCols: Seq[String], tsCol: String): DataFrame = {
    val rest = df0.columns.filterNot(keyCols.contains)
    df0.withColumn("__day", to_date(col(tsCol)))
      .select((keyCols :+ "__day") ++ rest map col: _*)
      .withColumn("__day_idx", lit(1))
      .withColumn("__emit", lit(true))
  }

  /** Scope for a trailing ROWS frame reaching `carryRows` rows back.
    * `orderCols` must totally order rows within a key. */
  def dayScoped(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      carryRows: Int): DataFrame = {
    require(carryRows >= 1, s"carryRows must be >= 1 (got $carryRows)")
    globalAugment(df0, keyCols, tsCol)
  }

  /** Scope for a trailing `rangeBetween(-reachMicros, 0)` frame over
    * the epoch-micros `usCol`. */
  def rangeScoped(
      df0: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      usCol: String,
      reachMicros: Long): DataFrame = {
    require(reachMicros >= 0, s"reachMicros must be >= 0 (got $reachMicros)")
    globalAugment(df0, keyCols, tsCol)
  }

  /** Lag-1 of `valCol` into `prevCol`, then a validity filter that
    * DROPS rows, for a trailing ROWS frame whose positions count the
    * surviving rows (the q139/q241/q250 return chains).
    *
    * The result holds `keyCols`, `__day_idx` (constant), the remaining
    * input columns, `prevCol`, whatever `slim` adds, and
    * `__emit = true`. `valid` may reference `prevCol` and any input
    * column; `slim` runs right after the filter (compute the return
    * there and drop wide columns) and sees `__rev`, the count of valid
    * rows from the current row to the key's end, which it must keep;
    * `__rev` is dropped from the result. Window by
    * (keyCols :+ __day_idx), then `filter(col("__emit"))` and drop the
    * helpers. */
  def laggedScope(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      valCol: String,
      prevCol: String,
      carryRows: Int,
      valid: Column,
      slim: DataFrame => DataFrame = identity): DataFrame = {
    require(carryRows >= 1, s"carryRows must be >= 1 (got $carryRows)")
    val rest = df0.columns.filterNot(keyCols.contains)
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(orderCols.map(col): _*)
    val revFrame = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val flagged = df0.withColumn("__day_idx", lit(1))
      .select((keyCols :+ "__day_idx") ++ rest map col: _*)
      .withColumn(prevCol, lag(col(valCol), 1).over(w))
      .withColumn("__valid", valid)
      .withColumn("__rev", sum(when(col("__valid"), 1L)).over(revFrame))
      .filter(col("__valid"))
      .drop("__valid")
    slim(flagged).drop("__rev").withColumn("__emit", lit(true))
  }

  /** Per-key lag-1: each `(valCol, prevCol)` pair gets the value of the
    * key's previous row under `orderCols` (null on the key's first
    * row). Key columns come first. `orderCols` must totally order rows
    * within a key. */
  def withPrevValues(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      vals: Seq[(String, String)]): DataFrame = {
    require(vals.nonEmpty, "need at least one (valCol, prevCol) pair")
    val rest = df0.columns.filterNot(keyCols.contains)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    vals.foldLeft(df0.select(keyCols ++ rest map col: _*)) {
      case (acc, (v, p)) => acc.withColumn(p, lag(col(v), 1).over(w))
    }
  }

  /** [[withSeqIndex]] and [[withPrevValues]] on one window spec: the
    * optional group total `nCol`, the 1-based row index `rnCol` (LONG),
    * then the lag-1 columns, all under one sort. Equal to
    * `withPrevValues(withSeqIndex(df, ...), ...)`. */
  def withSeqPrev(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      rnCol: String,
      vals: Seq[(String, String)],
      nCol: Option[String] = None): DataFrame = {
    require(vals.nonEmpty, "need at least one (valCol, prevCol) pair")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    vals.foldLeft(withSeqIndex(df0, keyCols, orderCols, tsCol, rnCol, nCol)) {
      case (acc, (v, p)) => acc.withColumn(p, lag(col(v), 1).over(w))
    }
  }

  /** Per-key 1-based row index `rnCol` (LONG) under `orderCols`, plus
    * the optional group total `nCol`. Key columns come first.
    * `orderCols` must totally order rows within a key. */
  def withSeqIndex(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      rnCol: String,
      nCol: Option[String] = None): DataFrame = {
    val rest = df0.columns.filterNot(keyCols.contains)
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(orderCols.map(col): _*)
    val base = df0.select(keyCols ++ rest map col: _*)
    val withN = nCol match {
      case Some(n) =>
        base.withColumn(n, count(lit(1)).over(Window.partitionBy(keys: _*)))
      case None => base
    }
    withN.withColumn(rnCol, row_number().over(w).cast("long"))
  }

  /** Scope for a frame looking AHEAD up to `carryRows` rows (lead
    * columns, `rowsBetween(0, carryRows)` frames). */
  def dayScopedLead(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      carryRows: Int): DataFrame = {
    require(carryRows >= 1, s"carryRows must be >= 1 (got $carryRows)")
    globalAugment(df0, keyCols, tsCol)
  }

  /** Scope for a frame looking `backRows` rows back AND `fwdRows` rows
    * ahead (lead and lag columns, the ccf class). */
  def dayScopedAround(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      backRows: Int,
      fwdRows: Int): DataFrame = {
    require(backRows >= 0 && fwdRows >= 0 && backRows + fwdRows >= 1,
      s"need a nonzero reach (got back=$backRows, fwd=$fwdRows)")
    globalAugment(df0, keyCols, tsCol)
  }

  /** [[PairAnalytics.rollingZScore]] through the scope contract — same
    * columns, same doubles. */
  def rollingZScoreByDay(
      spreads: DataFrame,
      windowRows: Int = PairAnalytics.DefaultWindowRows,
      minWindow: Int = PairAnalytics.DefaultMinWindow): DataFrame = {
    val aug = dayScoped(spreads, Seq("pair_name"), Seq("bar_ts"), "bar_ts", windowRows - 1)
    val w = Window
      .partitionBy(col("pair_name"), col("__day_idx"))
      .orderBy(col("bar_ts"))
      .rowsBetween(-(windowRows - 1), Window.currentRow)
    aug
      .withColumn("rolling_mean", mean(col("spread")).over(w))
      .withColumn("rolling_std", stddev(col("spread")).over(w))
      .withColumn("window_size", count(lit(1)).over(w))
      .withColumn(
        "z_score",
        when(
          col("window_size") >= minWindow &&
            col("rolling_std").isNotNull && col("rolling_std") =!= 0.0,
          (col("spread") - col("rolling_mean")) / col("rolling_std")))
      .filter(col("__emit"))
      .drop("__emit", "__day", "__day_idx")
  }

  /** Generic trailing stats used by the q76 oracle twin: per-key
    * rolling mean / sample-stddev / count of `valCol` over the last `w`
    * rows ordered by `orderCols`.
    *
    * The frame reductions run in DECIMAL (exact, order-insensitive) and
    * mean/stddev derive from the exact sums with scalar double math —
    * a double `avg(...) OVER frame` differs between engines in the last
    * ulp (different frame-combine orders: fold vs segment tree) and a
    * boundary value then rounds differently (observed: one row in 10k).
    * The value itself is first cast to DECIMAL(18,6) so its square
    * stays inside exact decimal range in both engines. */
  def trailingStats(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      tsCol: String,
      valCol: String,
      w: Int): DataFrame = {
    val aug = dayScoped(df, keyCols, orderCols, tsCol, w - 1)
    val win = Window
      .partitionBy((keyCols.map(col) :+ col("__day_idx")): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(w - 1), Window.currentRow)
    val dv = col(valCol).cast(org.apache.spark.sql.types.DecimalType(18, 6))
    // all three frame reductions in ONE projection so they share a
    // single Window operator (chained withColumns stacked three)
    val s1 = col("__s1")
    val s2 = col("__s2")
    val n = col("n_win")
    aug
      .select(col("*"),
        sum(dv).over(win).cast("double").as("__s1"),
        sum(dv * dv).over(win).cast("double").as("__s2"),
        count(lit(1)).over(win).as("n_win"))
      .withColumn("r_mean", round(s1 / n, 6))
      .withColumn("r_std",
        when(n > 1,
          round(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0))), 6)))
      .filter(col("__emit"))
      .drop("__emit", "__day", "__day_idx", "__s1", "__s2")
  }
}
