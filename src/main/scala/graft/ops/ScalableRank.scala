package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Per-key row index / ntile / running sum as plain
  * `Window.partitionBy(keys)` windows behind one output contract: the
  * row index and group total are LONG, a running sum is
  * DECIMAL(38, s) with null values counting as 0. Empty `keyCols`
  * means one global window (a single task sorts the whole input).
  *
  * `ntile` is a closed-form bucket formula over (rn, n).
  */
object ScalableRank {

  /** Core: per-key row number `rnCol`, group total `nCol` and, when
    * `sumCol` is set, the DECIMAL running sum. */
  private def indexed(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      rnCol: String,
      nCol: String,
      sumCol: Option[(String, Column)]): DataFrame = {
    val keys = keyCols.map(col)
    val withVal = sumCol match {
      case Some((_, c)) => df0.withColumn("__sv", c)
      case None         => df0
    }
    val w = Window.partitionBy(keys: _*).orderBy(orderCols: _*)
    val base = withVal
      .withColumn(rnCol, row_number().over(w).cast("long"))
      .withColumn(nCol, count(lit(1)).over(Window.partitionBy(keys: _*)))
    sumCol match {
      case Some((out, _)) =>
        val dt = withVal.schema("__sv").dataType match {
          case d: DecimalType => d
          case t => throw new IllegalArgumentException(
            s"ScalableRank.cumSum needs a DECIMAL value column (got $t)")
        }
        val zero = lit(java.math.BigDecimal.ZERO).cast(dt)
        base.withColumn(out,
          sum(coalesce(col("__sv"), zero))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DecimalType(38, dt.scale)))
          .drop("__sv")
      case None => base
    }
  }

  /** Augment `df0` with `rnCol` = 1-based row_number per `keyCols`
    * group under the `orderCols` order and `nCol` = the group's row
    * count. `orderCols` MUST totally order rows within a key (add an
    * id tie-break) — same contract as `row_number` itself. */
  def withRowIndex(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      rnCol: String = "__grn",
      nCol: String = "__gn"): DataFrame =
    indexed(df0, keyCols, orderCols, rnCol, nCol, None)

  /** SQL `ntile(buckets)` as a closed-form expression of the global
    * 1-based row number `rn` and group size `n`: the first n mod b
    * buckets take ⌈n/b⌉ rows, the rest ⌊n/b⌋ — the standard
    * semantics both Spark and DuckDB implement, so the formula
    * reproduces `ntile` bit-for-bit under the same total order.
    * Double division is exact below 2^53 rows per group. */
  def ntileExpr(rn: Column, n: Column, buckets: Int): Column = {
    require(buckets >= 1, s"buckets must be >= 1 (got $buckets)")
    val b = lit(buckets.toLong)
    val k = n % b                                     // big buckets
    val small = floor(n.cast(DoubleType) / b).cast("long")
    val big = small + lit(1L)
    val cut = k * big                                 // rows inside big buckets
    when(rn <= cut, floor((rn - 1).cast(DoubleType) / big) + 1)
      .otherwise(k + floor((rn - cut - 1).cast(DoubleType) / small) + 1)
      .cast("int")
  }

  /** `ntile(buckets) OVER (PARTITION BY keys ORDER BY order)` via
    * [[ntileExpr]] — `orderCols` must be a total order (ntile with
    * ties is nondeterministic in ANY engine; the callers all
    * tie-break on an id). */
  def ntile(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      buckets: Int,
      out: String): DataFrame =
    withRowIndex(df0, keyCols, orderCols, "__grn", "__gn")
      .withColumn(out, ntileExpr(col("__grn"), col("__gn"), buckets))
      .drop("__grn", "__gn")

  /** Exact running sum `sum(val) OVER (PARTITION BY keys ORDER BY
    * order ROWS UNBOUNDED PRECEDING..CURRENT)`. `valCol` must be
    * DECIMAL; null values contribute 0 rather than SQL's
    * all-null-frame NULL. Output type DECIMAL(38, s). */
  def cumSum(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      valCol: Column,
      out: String): DataFrame =
    indexed(df0, keyCols, orderCols, "__grn", "__gn", Some((out, valCol)))
      .drop("__grn", "__gn")

  /** [[withRowIndex]] + [[cumSum]] on one window spec: the row index
    * (`rnCol`), the group count (`nCol`) and the running DECIMAL sum
    * (`sumOut`) under one sort. */
  def withIndexAndCumSum(
      df0: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      valCol: Column,
      sumOut: String,
      rnCol: String = "__grn",
      nCol: String = "__gn"): DataFrame =
    indexed(df0, keyCols, orderCols, rnCol, nCol, Some((sumOut, valCol)))
}
