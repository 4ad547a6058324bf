package graft.core

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Index-aligned weighted correlation of two "series"
  * (`/root/reference/src/pandas_weights/series.py:222-247,435-468`).
  *
  * The pandas implicit row index becomes explicit index column(s); pandas'
  * `obj.align(other, join="inner")` is exactly an inner equi-join on those
  * columns. Duplicate index labels produce the same cartesian pairing as
  * pandas alignment (README.md:84-135) — SQL join semantics give this for
  * free, bit-for-bit.
  *
  * Join strategy is Catalyst's choice: small `right` sides broadcast
  * automatically under AQE; at 100 TB the join shuffles on the index, which
  * is the minimum possible movement for alignment.
  */
object AlignedCorr {

  /** Ungrouped A7: one row, column `corr`. `left` carries the weight column
    * (weights are the left accessor's — `series.py:238-239`). */
  def corr(
      left: WeightedDataFrame,
      leftVal: String,
      right: DataFrame,
      rightVal: String,
      on: Seq[String],
      ddof: Int = 1,
      minPeriods: Int = 1): DataFrame = {
    val l = left.df.select((on :+ leftVal :+ left.weightName).map(col): _*)
    val r = right.select((on :+ rightVal).map(c =>
      WeightedDataFrame.numericCol(right, c).as(c)): _*)
    val j = l.join(r, on, "inner")
    j.agg(WeightedMoments.corrExpr(
      WeightedDataFrame.numericCol(left.df, leftVal), col(rightVal), col(left.weightName),
      ddof, minPeriods).as("corr"))
  }

  /** Grouped G7: one row per group key, columns `(keys…, corr)` —
    * `series.py:435-468` (per-group align + weighted Pearson). One join +
    * one shuffle total, not a Python loop over groups.
    *
    * LEFT join, not inner: pandas iterates the LEFT groupby, so a group with
    * no aligned partner still appears with corr NaN (`test_series.py:246-266`)
    * — unmatched rows get NULL `rightVal`, fail the validity mask, and the
    * guard yields NULL for the group.
    *
    * Rows come sorted by the keys through [[WeightedGroupBy.sortedByKeys]],
    * bounded by the summed size estimates of both frames.
    */
  def corrByGroup(
      left: WeightedDataFrame,
      keys: Seq[String],
      leftVal: String,
      right: DataFrame,
      rightVal: String,
      on: Seq[String],
      ddof: Int = 1,
      minPeriods: Int = 1,
      dropna: Boolean = true): DataFrame = {
    val l0 = left.df.select((keys ++ on ++ Seq(leftVal, left.weightName)).distinct.map(col): _*)
    // pandas groupby default dropna=True: NULL-key rows form no group
    val l = if (dropna) l0.where(keys.map(col(_).isNotNull).reduce(_ && _)) else l0
    val r = right.select((on :+ rightVal).map(c =>
      WeightedDataFrame.numericCol(right, c).as(c)): _*)
    val j = l.join(r, on, "left")
    // bounded by both sides, not by the join, which Spark estimates as the
    // product of its sides: the result has at most one row per `l` row, and
    // with `on` within `keys` no exchange parts the join from the aggregate,
    // so `coalesce(1)` would also run the join in one task
    WeightedGroupBy.sortedByKeys(Seq(l, r), j.groupBy(keys.map(col): _*)
      .agg(WeightedMoments.corrExpr(
        WeightedDataFrame.numericCol(left.df, leftVal), col(rightVal), col(left.weightName),
        ddof, minPeriods).as("corr")), keys.map(col))
  }
}
