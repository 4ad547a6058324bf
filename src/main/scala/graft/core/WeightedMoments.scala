package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Column-expression kernels for weighted moments.
  *
  * Reference semantics: `/root/reference/src/pandas_weights/_stats.py:14-73`
  * and `frame.py:189-251`. Everything here is a pure `Column` builder — lazy,
  * codegen-friendly, and fused by Catalyst into a single `HashAggregateExec`
  * pass (partial on executors, final after the exchange). The reference's
  * multi-pass structure (2 passes for mean, 3 grouped passes for var,
  * O(k²) passes for corr — `frame.py:229,601-609,272-283`) collapses to one
  * scan + one shuffle here.
  *
  * Null convention: the engine normalizes `NaN → NULL` at ingestion
  * ([[WeightedDataFrame]]), so SQL NULL plays the role of pandas NaN.
  * A NULL weight behaves exactly like a NaN weight in pandas: it is skipped
  * by every sum, contributing 0.
  */
object WeightedMoments {

  private[core] val nullD: Column = lit(null).cast(DoubleType)

  /** NULL-on-zero division. Spark 4 runs ANSI mode by default, where `/ 0`
    * throws; the pandas semantics we mirror produce NaN-ish "no result"
    * (SURVEY §2.2 A3-A4), and the DuckDB oracle produces NULL. The `when`
    * guard short-circuits, so this is safe under ANSI and non-ANSI alike.
    */
  private[graft] def safeDiv(a: Column, b: Column): Column =
    when(b =!= 0.0, a / b)

  /** Weighted count `Σ wᵢ` over non-null cells (`frame.py:189-213`,
    * skipna=True branch). Result is DOUBLE, never NULL (empty input → 0.0,
    * matching pandas' `sum()` of an all-NaN mask frame).
    */
  def wCount(c: Column, w: Column): Column =
    coalesce(sum(when(c.isNotNull, w).otherwise(lit(0.0))), lit(0.0))

  /** skipna=False count (`frame.py:208-212`): every cell counted regardless
    * of value nulls; NULL weights still contribute 0. Independent of the
    * value column — `Σ wᵢ` per column.
    */
  def wCountNoSkipna(w: Column): Column = coalesce(sum(w), lit(0.0))

  def countExpr(c: Column, w: Column, skipna: Boolean = true): Column =
    if (skipna) wCount(c, w) else wCountNoSkipna(w)

  /** Weighted sum `Σ wᵢxᵢ` with pandas `min_count` semantics
    * (`frame.py:215-220`): NULL (pandas NaN) when the number of valid
    * (value, weight) pairs is below `minCount`; `minCount=0` → 0.0 on empty.
    * Spark's null-skipping `sum` is exactly `min_count=1`.
    */
  def wSum(c: Column, w: Column, minCount: Int = 0): Column = {
    val s = sum(c * w)
    if (minCount <= 0) coalesce(s, lit(0.0))
    else if (minCount == 1) s
    else {
      val valid = coalesce(sum(when(c.isNotNull && w.isNotNull, 1L).otherwise(0L)), lit(0L))
      when(valid < minCount, nullD).otherwise(s)
    }
  }

  /** Weighted sum of squares `Σ wᵢxᵢ²` with min_count=1 (`_stats.py:14-21`). */
  def wSumSq(c: Column, w: Column): Column = sum(c * c * w)

  /** Weighted mean = `sum(min_count=1) / count(skipna)` (`frame.py:222-229`).
    * All-null column → NULL (pandas NaN).
    */
  def meanExpr(c: Column, w: Column, skipna: Boolean = true): Column =
    safeDiv(wSum(c, w, 1), countExpr(c, w, skipna))

  /** Frequency-weight variance `(Q − S²/W) / (W − ddof)` (`_stats.py:24-33`,
    * `frame.py:231-241`). Deliberately the reference's moment formula (not
    * Welford) so values match the oracle bit-for-bit; no guard for
    * `W ≤ ddof` — Spark yields NULL on the zero divisor where pandas yields
    * inf/NaN, both "no result".
    */
  def varExpr(c: Column, w: Column, ddof: Int = 1, skipna: Boolean = true): Column = {
    val s = wSum(c, w, 1)
    val q = wSumSq(c, w)
    val n = countExpr(c, w, skipna)
    safeDiv(q - safeDiv(s * s, n), n - lit(ddof.toDouble))
  }

  def stdExpr(c: Column, w: Column, ddof: Int = 1, skipna: Boolean = true): Column =
    sqrt(varExpr(c, w, ddof, skipna))

  /** Weighted skewness (population-style: `m₃ / m₂^1.5` over weighted
    * central moments `mₖ = Σw(x−μ)ᵏ / W`), expanded to raw moments so the
    * whole thing is ONE aggregate pass:
    * `m₂ = Q/W − μ²`, `m₃ = C/W − 3μQ/W + 2μ³` with `C = Σwx³`.
    * NULL when `m₂ ≤ 0` (constant column) or the count is 0.
    * Beyond-reference extension (pandas has unweighted `.skew()`). */
  def skewExpr(c: Column, w: Column, skipna: Boolean = true): Column = {
    val n = countExpr(c, w, skipna)
    val mu = meanExpr(c, w, skipna)
    val m2 = safeDiv(wSumSq(c, w), n) - mu * mu
    val m3 = safeDiv(sum(c * c * c * w), n) - lit(3.0) * mu * safeDiv(wSumSq(c, w), n) +
      lit(2.0) * mu * mu * mu
    when(m2 > 0.0, m3 / sqrt(m2 * m2 * m2))
  }

  /** Weighted excess kurtosis (`m₄ / m₂² − 3`), same raw-moment expansion:
    * `m₄ = F/W − 4μC/W + 6μ²Q/W − 3μ⁴` with `F = Σwx⁴`. NULL when
    * `m₂ ≤ 0`. */
  def kurtExpr(c: Column, w: Column, skipna: Boolean = true): Column = {
    val n = countExpr(c, w, skipna)
    val mu = meanExpr(c, w, skipna)
    val q = safeDiv(wSumSq(c, w), n)
    val cc = safeDiv(sum(c * c * c * w), n)
    val f = safeDiv(sum(c * c * c * c * w), n)
    val m2 = q - mu * mu
    val m4 = f - lit(4.0) * mu * cc + lit(6.0) * mu * mu * q - lit(3.0) * mu * mu * mu * mu
    when(m2 > 0.0, m4 / (m2 * m2) - lit(3.0))
  }

  // ---- axis=1 (row-wise) kernels -----------------------------------------
  //
  // The reference's named aggs all accept `axis` and reduce across columns
  // per row (`frame.py:189-251`): the row's single weight multiplies every
  // term, so these are pure per-row fold expressions — fully codegen'd
  // projections, zero shuffles, and they scale embarrassingly (no state
  // crosses rows).

  /** Row-wise weighted count (`frame.py:204-213` with axis=1): skipna sums
    * `w` per non-null cell (`notna().mul(weights)` then row-sum); otherwise
    * every cell counts. A NULL weight makes the whole row's mask NaN in
    * pandas, which `sum(skipna=True)` reduces to 0.0 — hence coalesce(w,0).
    */
  def rowCountExpr(cs: Seq[Column], w: Column, skipna: Boolean = true): Column = {
    val n =
      if (skipna) cs.map(c => when(c.isNotNull, lit(1.0)).otherwise(lit(0.0))).reduce(_ + _)
      else lit(cs.size.toDouble)
    coalesce(w, lit(0.0)) * n
  }

  /** Row-wise weighted sum with pandas min_count (`frame.py:215-220` with
    * axis=1): Σ over cells where value AND weight are non-null; NULL when
    * fewer than `minCount` such cells (min_count=0 → 0.0 on an empty row).
    */
  def rowSumExpr(cs: Seq[Column], w: Column, minCount: Int = 0): Column =
    rowFold(cs, w, c => c * w, minCount)

  /** Row-wise weighted sum of squares, min_count=1 (`_stats.py:14-21`). */
  def rowSumSqExpr(cs: Seq[Column], w: Column): Column =
    rowFold(cs, w, c => c * c * w, 1)

  private def rowFold(cs: Seq[Column], w: Column, f: Column => Column, minCount: Int): Column = {
    val valid = cs.map(c => c.isNotNull && w.isNotNull)
    val s = cs.zip(valid).map { case (c, v) => when(v, f(c)).otherwise(lit(0.0)) }.reduce(_ + _)
    if (minCount <= 0) s
    else {
      val n = valid.map(v => when(v, lit(1)).otherwise(lit(0))).reduce(_ + _)
      when(n < minCount, nullD).otherwise(s)
    }
  }

  /** Row-wise weighted mean = rowSum(min_count=1) / rowCount (`frame.py:229`
    * with axis=1; the weight cancels when all cells are valid, but not under
    * partial-null rows — same formula as the reference, not a shortcut). */
  def rowMeanExpr(cs: Seq[Column], w: Column, skipna: Boolean = true): Column =
    safeDiv(rowSumExpr(cs, w, 1), rowCountExpr(cs, w, skipna))

  /** Row-wise weighted variance, the reference's moment formula over the
    * row (`_stats.py:24-33` with axis=1): `(Q − S²/W) / (W − ddof)`. */
  def rowVarExpr(cs: Seq[Column], w: Column, ddof: Int = 1, skipna: Boolean = true): Column = {
    val s = rowSumExpr(cs, w, 1)
    val q = rowSumSqExpr(cs, w)
    val n = rowCountExpr(cs, w, skipna)
    safeDiv(q - safeDiv(s * s, n), n - lit(ddof.toDouble))
  }

  def rowStdExpr(cs: Seq[Column], w: Column, ddof: Int = 1, skipna: Boolean = true): Column =
    sqrt(rowVarExpr(cs, w, ddof, skipna))

  /** Final weighted covariance from the 4 joint-validity moments — the
    * `cov` piece of `_stats.py:62-66` (the reference README lists
    * covariance as future work; same guards as corr). Shared by the narrow
    * [[PairMoments]] path and the melted wide-frame paths of `cov`. */
  def covFromMoments(sw: Column, sx: Column, sy: Column, sxy: Column, ddof: Int): Column =
    when(sw <= lit(ddof.toDouble) || isnan(sw), nullD)
      .otherwise(safeDiv(sxy - safeDiv(sx * sy, sw), sw - lit(ddof.toDouble)))

  /** Weighted Pearson correlation of a column pair under a joint-validity
    * mask — `_stats.py:36-73`, including every guard:
    *   - fewer than `minPeriods` valid (unweighted) rows → NULL (l.45)
    *   - `Σw` non-finite or `Σw ≤ ddof` → NULL (l.52-54)
    *   - either variance ≤ 0 → NULL (l.70-71)
    * One aggregate pass; 7 moment sub-aggregates that Catalyst computes in a
    * single HashAggregate (vs the reference's one full-data pass per pair).
    */
  def corrExpr(x: Column, y: Column, w: Column, ddof: Int = 1, minPeriods: Int = 1): Column = {
    val valid = x.isNotNull && y.isNotNull && w.isNotNull
    def m(e: Column): Column = sum(when(valid, e).otherwise(nullD))
    val n   = coalesce(sum(when(valid, 1L).otherwise(0L)), lit(0L))
    val sw  = coalesce(sum(when(valid, w).otherwise(lit(0.0))), lit(0.0))
    corrFromMoments(n, sw,
      m(x * w), m(y * w), m(x * y * w), m(x * x * w), m(y * y * w),
      ddof, minPeriods)
  }

  /** Final correlation from the 7 joint-validity moments, with every
    * `_stats.py:36-73` guard — shared by the aligned-series aggregate
    * ([[corrExpr]]), the narrow [[PairMoments]] path and the melted
    * wide-frame paths of `corr`, so no two plans can drift numerically. */
  def corrFromMoments(
      n: Column, sw: Column, sx: Column, sy: Column,
      sxy: Column, sxx: Column, syy: Column,
      ddof: Int, minPeriods: Int): Column = {
    val denom = sw - lit(ddof.toDouble)
    val cov  = safeDiv(sxy - safeDiv(sx * sy, sw), denom)
    val varx = safeDiv(sxx - safeDiv(sx * sx, sw), denom)
    val vary = safeDiv(syy - safeDiv(sy * sy, sw), denom)
    when(n < minPeriods || sw <= lit(ddof.toDouble) || isnan(sw), nullD)
      .otherwise(
        when(varx <= lit(0.0) || vary <= lit(0.0), nullD)
          .otherwise(safeDiv(cov, sqrt(varx * vary))))
  }
}
