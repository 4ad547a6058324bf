package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A DataFrame with an attached per-row weight column — the engine's core
  * abstraction, replacing the reference's accessor + side-car weights Series
  * (`/root/reference/src/pandas_weights/base.py:11-50`,
  * `frame.py:80-109`). The weight travels as an ordinary column of the plan
  * (`__wt__`), so it stays lazy, survives shuffles, and "same length,
  * positional alignment" becomes "same row, columnar alignment" for free.
  *
  * pandas `NaN` maps to SQL `NULL`: construction normalizes `NaN → NULL` on
  * every floating-point column (including the weight), after which Spark's
  * null-skipping aggregates reproduce pandas `skipna=True` semantics exactly.
  */
final class WeightedDataFrame private[core] (val df: DataFrame, val weightName: String) {
  import WeightedDataFrame._

  /** The weight column. */
  def w: Column = col(weightName)

  /** Value columns (everything but the weight — the reference drops the
    * weight column from the data at `wt()` time, `frame.py:103-104`). */
  def valueCols: Seq[String] = df.columns.toSeq.filterNot(_ == weightName)

  /** Numeric/boolean value columns — the reference's
    * `select_dtypes(include=["number","bool"])` (`frame.py:268,496-503`). */
  def numericCols: Seq[String] =
    df.schema.fields.iterator
      .filter(f => f.name != weightName && isNumeric(f.dataType))
      .map(_.name).toSeq

  private def numericSet: Set[String] = numericCols.toSet

  /** Projection retaining weights — `frame.py:111-122`. */
  def select(cols: String*): WeightedDataFrame =
    new WeightedDataFrame(df.select((cols :+ weightName).map(col): _*), weightName)

  /** Row-wise multiply by the weight — `frame.py:124-132`. Numeric columns
    * are scaled; non-numeric pass through (the reference would raise on
    * them; they never reach `weighted()` in practice). Pure projection —
    * Catalyst collapses it into downstream aggregates, no materialization.
    */
  private def nc(c: String): Column = WeightedDataFrame.numericCol(df, c)

  def weighted(): DataFrame = {
    val ns = numericSet
    df.select(valueCols.map { c =>
      if (ns(c)) (nc(c) * w).as(c) else col(c)
    }: _*)
  }

  private def agg1(exprs: Seq[Column]): DataFrame = {
    require(exprs.nonEmpty, "no aggregable columns (frame has no numeric value columns)")
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** Row-wise (axis=1) reduction scaffold: `keep` columns (e.g. an id — a
    * distributed frame has no implicit row index to return the Series on)
    * pass through unweighted, the fold lands in `name`. Pure projection —
    * codegen'd, shuffle-free. */
  private def rowAgg(name: String, over: Seq[String], keep: Seq[String],
      f: Seq[Column] => Column): DataFrame = {
    val cs = over.filterNot(keep.contains)
    require(cs.nonEmpty, "no aggregable columns (frame has no numeric value columns)")
    df.select(keep.map(col) :+ f(cs.map(c => nc(c))).as(name): _*)
  }

  /** pandas raises `ValueError: No axis named N` for anything but 0/1. */
  private def requireAxis(axis: Int): Unit =
    require(axis == 0 || axis == 1, s"No axis named $axis for WeightedDataFrame")

  /** Weighted count (all columns, any dtype) — `frame.py:189-213`. axis=0:
    * one row, `Σw` per column; axis=1: one `count` per row over the value
    * columns (`keep` passes id columns through — see [[rowAgg]]). */
  def count(axis: Int = 0, skipna: Boolean = true, keep: Seq[String] = Nil): DataFrame = {
    requireAxis(axis)
    if (axis == 0) agg1(valueCols.map(c => WeightedMoments.countExpr(col(c), w, skipna).as(c)))
    else rowAgg("count", valueCols, keep, cs => WeightedMoments.rowCountExpr(cs, w, skipna))
  }

  /** Weighted sum per numeric column (axis=0) or per row (axis=1) —
    * `frame.py:215-220`. */
  def sum(axis: Int = 0, minCount: Int = 0, keep: Seq[String] = Nil): DataFrame = {
    requireAxis(axis)
    if (axis == 0) agg1(numericCols.map(c => WeightedMoments.wSum(nc(c), w, minCount).as(c)))
    else rowAgg("sum", numericCols, keep, cs => WeightedMoments.rowSumExpr(cs, w, minCount))
  }

  /** Weighted mean per numeric column (axis=0) or per row (axis=1) —
    * `frame.py:222-229`. */
  def mean(axis: Int = 0, skipna: Boolean = true, keep: Seq[String] = Nil): DataFrame = {
    requireAxis(axis)
    if (axis == 0) agg1(numericCols.map(c => WeightedMoments.meanExpr(nc(c), w, skipna).as(c)))
    else rowAgg("mean", numericCols, keep, cs => WeightedMoments.rowMeanExpr(cs, w, skipna))
  }

  /** Weighted variance per numeric column (axis=0) or per row (axis=1) —
    * `frame.py:231-241`. */
  def variance(axis: Int = 0, ddof: Int = 1, skipna: Boolean = true,
      keep: Seq[String] = Nil): DataFrame = {
    requireAxis(axis)
    if (axis == 0) agg1(numericCols.map(c => WeightedMoments.varExpr(nc(c), w, ddof, skipna).as(c)))
    else rowAgg("var", numericCols, keep, cs => WeightedMoments.rowVarExpr(cs, w, ddof, skipna))
  }

  /** Weighted standard deviation per numeric column (axis=0) or per row
    * (axis=1) — `frame.py:243-251`. */
  def std(axis: Int = 0, ddof: Int = 1, skipna: Boolean = true,
      keep: Seq[String] = Nil): DataFrame = {
    requireAxis(axis)
    if (axis == 0) agg1(numericCols.map(c => WeightedMoments.stdExpr(nc(c), w, ddof, skipna).as(c)))
    else rowAgg("std", numericCols, keep, cs => WeightedMoments.rowStdExpr(cs, w, ddof, skipna))
  }

  /** Weighted skewness per numeric column (beyond-reference; population
    * m₃/m₂^1.5 — see [[WeightedMoments.skewExpr]]). */
  def skew(skipna: Boolean = true): DataFrame =
    agg1(numericCols.map(c => WeightedMoments.skewExpr(nc(c), w, skipna).as(c)))

  /** Weighted excess kurtosis per numeric column (beyond-reference). */
  def kurt(skipna: Boolean = true): DataFrame =
    agg1(numericCols.map(c => WeightedMoments.kurtExpr(nc(c), w, skipna).as(c)))

  /** Pairwise weighted Pearson correlation over numeric columns, long format
    * `(col_x, col_y, corr)` with all k² cells — `frame.py:253-285`. One
    * aggregate pass over the data (the reference runs one full pass per
    * pair); the long format is the scale-friendly shape (k² rows, not a
    * driver-side matrix). Frames wider than
    * [[WeightedDataFrame.wideCorrThreshold]] take the melted path, whose
    * aggregate state is 7 moments per (col_x, col_y) group instead of one
    * 7·k(k+1)/2-double buffer.
    */
  def corr(minPeriods: Int = 1, ddof: Int = 1, method: String = "pearson"): DataFrame = {
    requirePearson(method)
    if (numericCols.length <= WeightedDataFrame.wideCorrThreshold)
      corrNarrow(minPeriods, ddof)
    else corrMelted(minPeriods, ddof)
  }

  /** k² cells from ONE [[PairMoments]] aggregate: a single scan, no row
    * amplification, and O(k) plan expressions at any width. */
  private[graft] def corrNarrow(minPeriods: Int = 1, ddof: Int = 1): DataFrame =
    narrowCells("corr", PairMoments.corr(_, ddof, minPeriods))

  /** The narrow long format: the [[PairMoments]] cells of the numeric
    * columns, exploded in frame column order (x-major), with `stat`
    * projected from each cell's moments. */
  private def narrowCells(name: String, stat: Column => Column): DataFrame = {
    val cols = numericCols
    val names = typedlit(cols)
    df.agg(PairMoments.column(cols.map(nc), w).as("cells"))
      .select(explode(col("cells")).as("cell"))
      .select(names(col("cell.i")).as("col_x"), names(col("cell.j")).as("col_y"),
        stat(col("cell")).as(name))
  }

  /** Wide-frame path: MELT each row to k (name, value) structs and explode
    * twice into (x, y, w) pair rows, then ONE 7-moment hash aggregate with
    * k² groups. Planning is O(k) expressions regardless of width; execution
    * streams n·k² pair rows through partial aggregation (map-side combine
    * collapses each task to ≤ k² moment rows before the single exchange) —
    * the same FLOPs as the narrow path, with the moments spread over k²
    * small aggregation groups instead of one 7·k(k+1)/2-double buffer.
    * Numerics are IDENTICAL: both paths end in
    * [[WeightedMoments.corrFromMoments]]. */
  /** The melted pair rows (one per row × colX × colY) and their joint-
    * validity predicate — shared by [[corrMelted]] and [[covMelted]]. */
  private def meltedPairs: (DataFrame, Column) = {
    val arr = array(numericCols.map(c => struct(lit(c).as("name"), nc(c).as("v"))): _*)
    val pairs = df.select(w.as("__w__"), arr.as("__arr__"))
      .select(col("__w__"), explode(col("__arr__")).as("x"), col("__arr__"))
      .select(col("__w__"), col("x"), explode(col("__arr__")).as("y"))
    (pairs, col("x.v").isNotNull && col("y.v").isNotNull && col("__w__").isNotNull)
  }

  /** All k² (col_x, col_y) name pairs as data (two k-element explodes —
    * O(k) expressions, broadcast-sized): an empty frame must still yield
    * every cell with a null statistic, exactly like the narrow path's
    * always-emitting global aggregate, but a groupBy over zero melted pair
    * rows emits nothing — so the melted paths LEFT-join their moments onto
    * this spine. */
  private def pairSpine: DataFrame = {
    val names = typedlit(numericCols)
    df.sparkSession.range(1)
      .select(posexplode(names).as(Seq("__ix__", "col_x")))
      .crossJoin(df.sparkSession.range(1)
        .select(posexplode(names).as(Seq("__iy__", "col_y"))))
  }

  /** Restore the narrow path's deterministic cell order (frame column
    * order, x-major) on a melted result: the moments join is post-shuffle
    * unordered, and the public long format must not change row order with
    * frame WIDTH. k² rows — the sort is driver-trivial at any scale. */
  private def spineOrdered(joined: DataFrame, out: Seq[Column]): DataFrame =
    joined.orderBy(col("__ix__"), col("__iy__")).select(out: _*)

  private[graft] def corrMelted(minPeriods: Int = 1, ddof: Int = 1): DataFrame = {
    import WeightedMoments.nullD
    // the class's own `sum(minCount, ...)` shadows the aggregate function
    import org.apache.spark.sql.functions.{sum => sumAgg}
    val (pairs, valid) = meltedPairs
    def m(e: Column): Column = sumAgg(when(valid, e).otherwise(nullD))
    val vx = col("x.v"); val vy = col("y.v"); val vw = col("__w__")
    val moments = pairs
      .groupBy(col("x.name").as("col_x"), col("y.name").as("col_y"))
      .agg(
        coalesce(sumAgg(when(valid, 1L).otherwise(0L)), lit(0L)).as("__n__"),
        coalesce(sumAgg(when(valid, vw).otherwise(lit(0.0))), lit(0.0)).as("__sw__"),
        m(vx * vw).as("__sx__"), m(vy * vw).as("__sy__"),
        m(vx * vy * vw).as("__sxy__"),
        m(vx * vx * vw).as("__sxx__"), m(vy * vy * vw).as("__syy__"))
    spineOrdered(pairSpine.join(moments, Seq("col_x", "col_y"), "left"),
      Seq(col("col_x"), col("col_y"),
        WeightedMoments.corrFromMoments(
          coalesce(col("__n__"), lit(0L)), coalesce(col("__sw__"), lit(0.0)),
          col("__sx__"), col("__sy__"),
          col("__sxy__"), col("__sxx__"), col("__syy__"),
          ddof, minPeriods).as("corr")))
  }

  /** Wide-frame covariance, same shape as [[corrMelted]] (4 moments). */
  private[graft] def covMelted(ddof: Int = 1): DataFrame = {
    import WeightedMoments.nullD
    import org.apache.spark.sql.functions.{sum => sumAgg}
    val (pairs, valid) = meltedPairs
    def m(e: Column): Column = sumAgg(when(valid, e).otherwise(nullD))
    val vx = col("x.v"); val vy = col("y.v"); val vw = col("__w__")
    val moments = pairs
      .groupBy(col("x.name").as("col_x"), col("y.name").as("col_y"))
      .agg(
        coalesce(sumAgg(when(valid, vw).otherwise(lit(0.0))), lit(0.0)).as("__sw__"),
        m(vx * vw).as("__sx__"), m(vy * vw).as("__sy__"),
        m(vx * vy * vw).as("__sxy__"))
    spineOrdered(pairSpine.join(moments, Seq("col_x", "col_y"), "left"),
      Seq(col("col_x"), col("col_y"),
        WeightedMoments.covFromMoments(
          coalesce(col("__sw__"), lit(0.0)),
          col("__sx__"), col("__sy__"), col("__sxy__"), ddof).as("cov")))
  }

  /** Pairwise weighted covariance, long format `(col_x, col_y, cov)` —
    * reference future work (README.md:311-317), same single-pass shape and
    * the same wide-frame path switch as [[corr]]. */
  def cov(ddof: Int = 1): DataFrame =
    if (numericCols.length <= WeightedDataFrame.wideCorrThreshold) covNarrow(ddof)
    else covMelted(ddof)

  private[graft] def covNarrow(ddof: Int = 1): DataFrame =
    narrowCells("cov", PairMoments.cov(_, ddof))

  /** Local k×k correlation matrix for API parity with the reference's
    * DataFrame return (small k; collect of a k²-row result). */
  def corrMatrix(minPeriods: Int = 1, ddof: Int = 1): Map[(String, String), Option[Double]] =
    corr(minPeriods, ddof).collect().map { r =>
      (r.getString(0), r.getString(1)) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  /** Weighted `describe()`: count/mean/std/min/quantiles/max for every
    * numeric column, one row per column (beyond-reference convenience —
    * the reference README lists quantiles as future work).
    *
    * Shape: the frame is MELTED to `(col_name, v, w)` rows so all columns
    * flow through ONE moment aggregate and ONE histogram-quantile pipeline
    * per requested quantile (grouped by column name) — k columns cost a
    * k× row expansion, not k separate jobs over the source. */
  def describe(quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val cols = numericCols
    require(cols.nonEmpty, "describe: frame has no numeric value columns")
    val melted = df.select(
      explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), nc(c).cast(DoubleType).as("v"))): _*)).as("m"),
      w.cast(DoubleType).as("w0"))
      .select(col("m.col_name").as("col_name"), col("m.v").as("v"), col("w0"))
    val mwdf = WeightedDataFrame.wt(melted, "w0")
    val mw = mwdf.w
    // ONE aggregate computes the display moments AND the quantile
    // pipeline's pass-1 stats (restricted to value-and-weight-non-null rows
    // via when(), matching quantileRows' filter exactly) — then MATERIALIZES
    // it on the driver. The result is one row per numeric COLUMN: bounded by
    // schema width, never by data size, so the collect is safe at any scale,
    // and every downstream consumer (bin-assignment join, display join)
    // reads a local literal instead of re-running the aggregate. Left lazy,
    // the plan's three consumers would each re-scan the melted source:
    // consumer-specific column pruning rewrites the aggregate per consumer,
    // so ReuseExchange never fires on it (measured: 4 source scans lazy vs
    // 2 materialized).
    val momentsAll = mwdf.df.groupBy("col_name").agg(
      WeightedMoments.countExpr(col("v"), mw, skipna = true).as("count"),
      WeightedMoments.meanExpr(col("v"), mw).as("mean"),
      WeightedMoments.stdExpr(col("v"), mw).as("std"),
      min(col("v")).as("min"),
      max(col("v")).as("max"),
      org.apache.spark.sql.functions.sum(when(col("v").isNotNull, mw)).as("__tw__"),
      min(when(mw.isNotNull, col("v"))).as("__mn__"),
      max(when(mw.isNotNull, col("v"))).as("__mx__"))
    val spark = df.sparkSession
    val local = spark.createDataFrame(
      java.util.Arrays.asList(momentsAll.collect(): _*), momentsAll.schema)
    val g = mwdf.groupBy(Seq("col_name"))
    val qNames = quantiles.map(q => "p" + math.round(q * 100))
    val qdf = g.quantilesWithStats("v", quantiles, 256,
      local.select("col_name", "__tw__", "__mn__", "__mx__"))
    // columns with zero valid (v, w) rows never enter the quantile pipeline;
    // the LEFT join from the (complete, literal) moments table keeps their
    // rows with null quantiles
    val ordered = ("col_name" +: "count" +: "mean" +: "std" +: "min" +: qNames :+ "max").map(col)
    local.join(qdf, Seq("col_name"), "left")
      .select(ordered: _*)
      .orderBy("col_name")
  }

  /** Weighted groupby — `frame.py:134-159`. */
  def groupBy(keys: Seq[String], dropna: Boolean = true, sort: Boolean = true): WeightedGroupBy =
    new WeightedGroupBy(this, keys, dropna, sort)

  def groupBy(key: String): WeightedGroupBy = groupBy(Seq(key))

  /** Weighted time resample — `frame.py:161-187`. `on` names a timestamp
    * column (the explicit analogue of the pandas DatetimeIndex). `by`
    * resamples WITHIN each key group (pandas `groupby(by).resample(rule)`):
    * every group gets its own empty-bucket spine spanning its own time
    * range, and one shuffle on (keys, bucket) does all groups at once —
    * never a per-group loop. */
  def resample(
      on: String,
      rule: String,
      closed: String = "auto", // pandas default: right for W and end origins, left otherwise
      label: String = "auto", // rule-dependent pandas default: right for M/Q/Y/W, left otherwise
      origin: String = "start_day",
      offset: Option[String] = None,
      by: Seq[String] = Nil,
      lenient: Boolean = false): WeightedResampler =
    new WeightedResampler(this, on, rule, closed, label, origin, offset, by, lenient)

  /** Apply an expression builder to each weighted numeric column
    * (`frame.py:287-367` axis=0 semantics: the function sees the
    * pre-weighted column). `f` builds either a per-row projection or an
    * aggregate over `c*w`; the result is one column per input column.
    */
  def applyAgg(f: Column => Column): DataFrame =
    agg1(numericCols.map(c => f(nc(c) * w).as(c)))

  def applyRows(f: Column => Column): DataFrame =
    df.select(numericCols.map(c => f(nc(c) * w).as(c)): _*)

  /** Arbitrary-callable row-wise `apply` — the reference's `axis=1`
    * (`frame.py:288-317`: the signature accepts `axis`; the function then
    * receives one row of *weighted* values and reduces it to a scalar —
    * pandas' `result_type="reduce"` shape, a Series of one value per row).
    *
    * Distributed by construction: a `Dataset.map` over the struct of
    * weighted numeric columns — rows never leave the executors, so this is
    * the scale path for row-wise functions no expression can build
    * (expression-buildable per-row transforms should use [[applyRows]],
    * which stays inside codegen). `f` sees the weighted numeric columns in
    * [[numericCols]] order (None = NULL) and must be serializable; `keep`
    * names pass-through columns (e.g. an id) prepended to the result.
    */
  def applyRowsFn(f: Seq[Option[Double]] => Option[Double], keep: Seq[String] = Nil): DataFrame = {
    val ns = numericCols.filterNot(keep.contains) // keep-cols pass through unweighted
    require(ns.nonEmpty, "no aggregable columns (frame has no numeric value columns)")
    val in = df.select(keep.map(col) ++ ns.map(c => (nc(c) * w).cast(DoubleType).as(c)): _*)
    val keepFields = keep.map(c => in.schema(c))
    val outSchema = StructType(keepFields.toArray :+ StructField("value", DoubleType))
    val nKeep = keep.size
    val nVals = ns.size
    in.map { r =>
      val vals: Seq[Option[Double]] = (0 until nVals).map { i =>
        if (r.isNullAt(nKeep + i)) None else Some(r.getDouble(nKeep + i))
      }
      Row.fromSeq((0 until nKeep).map(r.get) :+ f(vals).map(java.lang.Double.valueOf).orNull)
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Row-wise `apply` with `result_type="expand"` semantics
    * (`frame.py:287-367` forwards `result_type` to pandas: a list-like
    * result per row becomes columns). `f` sees the weighted numeric columns
    * in [[numericCols]] order and returns exactly `outCols.size` values,
    * which become columns named `outCols`; `keep` names pass-through
    * columns prepended to the result. Distributed like [[applyRowsFn]]
    * (a `Dataset.map`; rows never leave the executors).
    */
  def applyRowsFnExpand(
      f: Seq[Option[Double]] => Seq[Option[Double]],
      outCols: Seq[String],
      keep: Seq[String] = Nil): DataFrame = {
    require(outCols.nonEmpty, "result_type=expand needs at least one output column")
    require(outCols.distinct.size == outCols.size, s"duplicate output columns: $outCols")
    keep.foreach(k => require(!outCols.contains(k),
      s"output column '$k' collides with a keep column"))
    val ns = numericCols.filterNot(keep.contains)
    require(ns.nonEmpty, "no aggregable columns (frame has no numeric value columns)")
    val in = df.select(keep.map(col) ++ ns.map(c => (nc(c) * w).cast(DoubleType).as(c)): _*)
    val keepFields = keep.map(c => in.schema(c))
    val outSchema = StructType(
      keepFields.toArray ++ outCols.map(c => StructField(c, DoubleType)))
    val nKeep = keep.size
    val nVals = ns.size
    val nOut = outCols.size
    in.map { r =>
      val vals: Seq[Option[Double]] = (0 until nVals).map { i =>
        if (r.isNullAt(nKeep + i)) None else Some(r.getDouble(nKeep + i))
      }
      val out = f(vals)
      require(out.size == nOut,
        s"expand function returned ${out.size} values for $nOut output columns")
      Row.fromSeq((0 until nKeep).map(r.get) ++
        out.map(_.map(java.lang.Double.valueOf).orNull))
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Row-wise `apply` with `result_type="broadcast"` semantics
    * (`frame.py:287-367`: the result is broadcast back to the frame's
    * original shape — original numeric columns retained). `f` returns
    * either ONE value (a scalar, broadcast across every numeric column of
    * that row — pandas' scalar-result rule) or exactly one value per
    * numeric column (element-wise); anything else fails fast, like
    * pandas' ValueError. Distributed like [[applyRowsFn]].
    */
  def applyRowsFnBroadcast(
      f: Seq[Option[Double]] => Seq[Option[Double]],
      keep: Seq[String] = Nil): DataFrame = {
    val ns = numericCols.filterNot(keep.contains)
    require(ns.nonEmpty, "no aggregable columns (frame has no numeric value columns)")
    val nVals = ns.size
    applyRowsFnExpand(
      vs => {
        val out = f(vs)
        require(out.size == 1 || out.size == nVals,
          s"broadcast function returned ${out.size} values; " +
            s"expected 1 (scalar) or $nVals (one per numeric column)")
        if (out.size == 1) Seq.fill(nVals)(out.head) else out
      },
      outCols = ns, keep = keep)
  }

  /** Row-wise `apply`, `raw=False` analogue (`frame.py:287-367`: pandas
    * passes each row as a labeled Series; `raw=True` passes a bare
    * ndarray). [[applyRowsFn]] is the `raw=True` shape — positional values
    * only; this variant hands `f` a name → value map (insertion-ordered by
    * [[numericCols]]) so the function can address columns by label.
    * Same distributed `Dataset.map` execution.
    */
  def applyRowsFnLabeled(
      f: scala.collection.immutable.ListMap[String, Option[Double]] => Option[Double],
      keep: Seq[String] = Nil): DataFrame = {
    val ns = numericCols.filterNot(keep.contains)
    applyRowsFn(vs => f(scala.collection.immutable.ListMap(ns.zip(vs): _*)), keep)
  }

  /** Arbitrary-callable frame `apply` — the parity path for the reference's
    * axis=0 `apply` with a function no expression can build
    * (`frame.py:287-367`: `func` receives the full *weighted* column;
    * golden `tests/test_frame.py:247-261`). Each weighted numeric column is
    * COLLECTED to the driver (None = NULL) and reduced by `f`; the result
    * is a one-row frame with one column per input column.
    *
    * Scale limits: this materializes every numeric column on the driver —
    * by design it mirrors the reference's own eager single-process
    * execution, for small frames and API-parity tests only. For
    * distributed execution use [[applyAgg]] (expression-buildable `f`) or
    * `groupBy(...).flatMapGroups` (arbitrary `f`, streamed per group, never
    * driver-side).
    */
  def applyColumns(f: Seq[Option[Double]] => Option[Double]): DataFrame = {
    val ns = numericCols
    require(ns.nonEmpty, "no aggregable columns (frame has no numeric value columns)")
    val rows = df.select(ns.map(c => (nc(c) * w).cast(DoubleType).as(c)): _*).collect()
    val outVals: Seq[Any] = ns.indices.map { i =>
      val colVals: Seq[Option[Double]] =
        rows.toSeq.map(r => if (r.isNullAt(i)) None else Some(r.getDouble(i)))
      f(colVals).map(java.lang.Double.valueOf).orNull
    }
    val schema = StructType(ns.map(c => StructField(c, DoubleType)).toArray)
    df.sparkSession.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(outVals)), schema)
  }
}

object WeightedDataFrame {
  /** Reserved weight-column name (never collides with user data in our
    * test tables; construction fails fast if it would). */
  val WeightCol = "__wt__"

  /** Width above which `corr`/`cov` switch from the narrow [[PairMoments]]
    * plan to the melted plan. Both plan in O(k) expressions; they differ in
    * aggregation state: the narrow buffer is 7·k(k+1)/2 doubles per group
    * (952 at k=16, held and serialized whole for every group), the melted
    * one 7 moments per (group, col_x, col_y) key at the cost of k² pair rows
    * per input row. 16 keeps the reference-sized frames (k≈10) on the
    * no-amplification plan. */
  val wideCorrThreshold = 16

  private[core] def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType => true
    case _ => false
  }

  /** Numeric view of a column: booleans count as 1/0 like pandas'
    * `select_dtypes(include=["number","bool"])` semantics (`frame.py:268`) —
    * Spark's binary arithmetic rejects BOOLEAN operands outright. */
  private[core] def numericCol(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case BooleanType => col(name).cast(DoubleType)
      case _           => col(name)
    }

  /** Normalize NaN → NULL on a floating-point column so SQL NULL is the
    * engine's single missing-value representation (SURVEY §1.2). */
  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c)
    case _ => c
  }

  private def normalizeAll(df: DataFrame): DataFrame = {
    val needs = df.schema.fields.exists(f => f.dataType == DoubleType || f.dataType == FloatType)
    if (!needs) df
    else df.select(df.schema.fields.map(f => normalize(col(f.name), f.dataType).as(f.name)).toSeq: _*)
  }

  /** `df.wt("weights")` — weights taken from a named column, which is
    * dropped from the value columns (`frame.py:100-104`); `naWeight` fills
    * missing weights (`frame.py:106-107`).
    */
  def wt(df: DataFrame, weights: String, naWeight: Option[Double] = None): WeightedDataFrame = {
    require(df.columns.contains(weights), s"weights column '$weights' not found")
    require(!df.columns.contains(WeightCol), s"column name $WeightCol is reserved")
    // the weight expr operates on the already-NaN-normalized frame, so only
    // the cast and na_weight fill remain (avoids a double isnan projection)
    val rawW = col(weights).cast(DoubleType)
    val wExpr = naWeight.fold(rawW)(na => coalesce(rawW, lit(na)))
    val out = normalizeAll(df).withColumn(WeightCol, wExpr).drop(weights)
    new WeightedDataFrame(out, WeightCol)
  }

  /** `df.wt([w…])` — positional weights for local/test data
    * (`frame.py:100-101`, `base.py:46-50`). Positional alignment only makes
    * sense for small driver-side arrays (a distributed DataFrame has no row
    * order), so this routes through `rdd.zipWithIndex` — test/API-parity
    * path, not a scale path.
    */
  def wt(df: DataFrame, weights: Seq[Double], naWeight: Option[Double]): WeightedDataFrame = {
    require(!df.columns.contains(WeightCol), s"column name $WeightCol is reserved")
    val n = df.count() // small/test path by contract; mismatch must raise like pandas
    require(n == weights.length,
      s"weights length ${weights.length} does not match row count $n")
    val spark = df.sparkSession
    val wArr = weights.toArray
    val schema = df.schema.add(WeightCol, DoubleType)
    val rows = df.rdd.zipWithIndex().map { case (r, i) =>
      val wv = if (i < wArr.length && !wArr(i.toInt).isNaN) java.lang.Double.valueOf(wArr(i.toInt)) else null
      Row.fromSeq(r.toSeq :+ wv)
    }
    val out = normalizeAll(spark.createDataFrame(rows, schema))
    val withNa = naWeight.fold(out)(na =>
      out.withColumn(WeightCol, coalesce(col(WeightCol), lit(na))))
    new WeightedDataFrame(withNa, WeightCol)
  }

  def wt(df: DataFrame, weights: Seq[Double]): WeightedDataFrame = wt(df, weights, None)

  private[core] def requirePearson(method: String): Unit =
    if (method != "pearson")
      throw new NotImplementedError("Only 'pearson' weighted correlation is supported.")
}
