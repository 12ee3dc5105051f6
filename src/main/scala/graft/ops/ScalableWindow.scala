package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key lag, row-index and trailing-stats helpers. Every op here is
  * a plain `Window.partitionBy(keys)` window, so a key's whole history
  * sorts in one window task; the result holds the key columns first,
  * then the remaining input columns, then the added ones. `orderCols`
  * must totally order rows within a key.
  */
object ScalableWindow {

  private def keysFirst(df0: DataFrame, keyCols: Seq[String]): DataFrame =
    df0.select(keyCols ++ df0.columns.filterNot(keyCols.contains) map col: _*)

  private def byKey(keyCols: Seq[String], orderCols: Seq[String]) =
    Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(col): _*)

  /** Lag-1 of `valCol` into `prevCol`, then a validity filter that
    * DROPS rows, so a trailing ROWS frame the caller runs afterwards
    * counts only the surviving rows (the q139/q241/q250 return
    * chains). `valid` may reference `prevCol` and any input column. */
  def laggedScope(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valCol: String,
      prevCol: String,
      valid: Column): DataFrame =
    withPrevValues(df0, keyCols, orderCols, Seq(valCol -> prevCol)).filter(valid)

  /** Per-key lag-1: each `(valCol, prevCol)` pair gets the value of the
    * key's previous row under `orderCols` (null on the key's first
    * row). */
  def withPrevValues(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      vals: Seq[(String, String)]): DataFrame = {
    require(vals.nonEmpty, "need at least one (valCol, prevCol) pair")
    val w = byKey(keyCols, orderCols)
    vals.foldLeft(keysFirst(df0, keyCols)) {
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
      rnCol: String,
      vals: Seq[(String, String)],
      nCol: Option[String] = None): DataFrame = {
    require(vals.nonEmpty, "need at least one (valCol, prevCol) pair")
    val w = byKey(keyCols, orderCols)
    vals.foldLeft(withSeqIndex(df0, keyCols, orderCols, rnCol, nCol)) {
      case (acc, (v, p)) => acc.withColumn(p, lag(col(v), 1).over(w))
    }
  }

  /** Per-key 1-based row index `rnCol` (LONG) under `orderCols`, plus
    * the optional group total `nCol`. */
  def withSeqIndex(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      rnCol: String,
      nCol: Option[String] = None): DataFrame = {
    val base = keysFirst(df0, keyCols)
    val withN = nCol match {
      case Some(n) => base.withColumn(n,
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      case None => base
    }
    withN.withColumn(rnCol,
      row_number().over(byKey(keyCols, orderCols)).cast("long"))
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
      valCol: String,
      w: Int): DataFrame = {
    val win = byKey(keyCols, orderCols).rowsBetween(-(w - 1), Window.currentRow)
    val dv = col(valCol).cast(org.apache.spark.sql.types.DecimalType(18, 6))
    // all three frame reductions in ONE projection so they share a
    // single Window operator (chained withColumns stacked three)
    val s1 = col("__s1")
    val s2 = col("__s2")
    val n = col("n_win")
    keysFirst(df, keyCols)
      .select(col("*"),
        sum(dv).over(win).cast("double").as("__s1"),
        sum(dv * dv).over(win).cast("double").as("__s2"),
        count(lit(1)).over(win).as("n_win"))
      .withColumn("r_mean", round(s1 / n, 6))
      .withColumn("r_std",
        when(n > 1,
          round(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0))), 6)))
      .drop("__s1", "__s2")
  }
}
