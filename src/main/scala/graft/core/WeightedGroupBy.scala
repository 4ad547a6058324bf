package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, ObjectProducer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** Weighted groupby driver — `/root/reference/src/pandas_weights/frame.py:449-679`.
  *
  * Same moment algebra as the ungrouped aggregations, executed per group by a
  * single `groupBy(keys).agg(...)`: one scan + one shuffle regardless of how
  * many moments an aggregation needs (the reference's `var` runs three
  * independent grouped passes, `frame.py:601-609` — Catalyst fuses ours).
  *
  * `dropna=true` drops null-key rows and `sort=true` orders the result by the
  * keys, matching the pandas groupby defaults (`frame.py:134-159`). The
  * order comes from [[WeightedGroupBy.sortedByKeys]], which sorts a result
  * inside one partition when Spark's size estimate of the input allows it,
  * and by a global range sort otherwise.
  */
final class WeightedGroupBy private[core] (
    wdf: WeightedDataFrame,
    val keys: Seq[String],
    dropna: Boolean,
    sort: Boolean) {

  require(keys.nonEmpty, "groupBy requires at least one key")

  private def w: Column = wdf.w

  private def nc(c: String): Column = WeightedDataFrame.numericCol(wdf.df, c)

  /** Group keys are excluded from aggregated columns — the reference's
    * `_groupby.exclusions` (`frame.py:485-487,498-500`). */
  private def aggCols: Seq[String] = wdf.valueCols.filterNot(keys.contains)
  private def numericAggCols: Seq[String] = wdf.numericCols.filterNot(keys.contains)

  private def base: DataFrame = {
    val df = wdf.df
    if (dropna) df.where(keys.map(col(_).isNotNull).reduce(_ && _)) else df
  }

  /** `out` in key order when `sort` is set, through
    * [[WeightedGroupBy.sortedByKeys]] bounded by [[base]]. */
  private def sorted(out: DataFrame, by: Seq[String] = keys, cellsPerRow: Long = 1): DataFrame =
    if (sort) WeightedGroupBy.sortedByKeys(Seq(base), out, by.map(col), cellsPerRow) else out

  /** Cells per group of the long-format corr/cov: k² over the numeric
    * columns. */
  private def pairCells: Long = numericAggCols.size.toLong * numericAggCols.size

  private def run(cols: Seq[String], expr: String => Column): DataFrame = {
    require(cols.nonEmpty,
      s"no aggregable columns: every value column is a group key or non-numeric (keys=$keys)")
    sorted(base.groupBy(keys.map(col): _*).agg(expr(cols.head).as(cols.head),
      cols.tail.map(c => expr(c).as(c)): _*))
  }

  /** Per-group weighted count, all non-key columns — `frame.py:512-528`. */
  def count(skipna: Boolean = true): DataFrame =
    run(aggCols, c => WeightedMoments.countExpr(col(c), w, skipna))

  /** Per-group weighted sum, numeric columns — `frame.py:534-566`. */
  def sum(minCount: Int = 0): DataFrame =
    run(numericAggCols, c => WeightedMoments.wSum(nc(c), w, minCount))

  /** Per-group weighted mean — `frame.py:568-584`. */
  def mean(skipna: Boolean = true): DataFrame =
    run(numericAggCols, c => WeightedMoments.meanExpr(nc(c), w, skipna))

  /** Per-group weighted variance — `frame.py:586-611`, one pass not three. */
  def variance(ddof: Int = 1, skipna: Boolean = true): DataFrame =
    run(numericAggCols, c => WeightedMoments.varExpr(nc(c), w, ddof, skipna))

  /** Per-group weighted standard deviation — `frame.py:613-628`. */
  def std(ddof: Int = 1, skipna: Boolean = true): DataFrame =
    run(numericAggCols, c => WeightedMoments.stdExpr(nc(c), w, ddof, skipna))

  /** Per-group weighted skewness (beyond-reference; see
    * [[WeightedMoments.skewExpr]]). */
  def skew(skipna: Boolean = true): DataFrame =
    run(numericAggCols, c => WeightedMoments.skewExpr(nc(c), w, skipna))

  /** Per-group weighted excess kurtosis (beyond-reference). */
  def kurt(skipna: Boolean = true): DataFrame =
    run(numericAggCols, c => WeightedMoments.kurtExpr(nc(c), w, skipna))

  /** Per-group weighted mode of one column: the value with the largest
    * total weight (ties → smallest value). Two hash aggregates with
    * map-side partials — the distinct (group, value) table is the only
    * thing that shuffles, so a hot group costs its distinct-value count,
    * not its row count. */
  def mode(valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{sum => fSum, min => fMin}
    val kcols = keys.map(col)
    val vw = base.where(col(valueCol).isNotNull && w.isNotNull)
      .groupBy(kcols :+ col(valueCol).as("__v__"): _*)
      .agg(fSum(w).as("__vw__"))
    sorted(vw.groupBy(kcols: _*)
      .agg(fMin(struct((-col("__vw__")).as("__nw__"), col("__v__").as("__v__"))).as("__s__"))
      .select(kcols :+ col("__s__.__v__").as(valueCol): _*))
  }

  /** Per-group pairwise weighted Pearson, long format
    * `(keys…, col_x, col_y, corr)` — `frame.py:630-660`. One shuffle total
    * (the reference iterates groups in Python, one pass per group per pair).
    * Past [[WeightedDataFrame.wideCorrThreshold]] columns it takes
    * [[corrMelted]], which keeps 7 moments per (group, col_x, col_y) key
    * instead of one 7·k(k+1)/2-double buffer per group.
    */
  def corr(minPeriods: Int = 1, ddof: Int = 1, method: String = "pearson"): DataFrame = {
    WeightedDataFrame.requirePearson(method)
    if (numericAggCols.length <= WeightedDataFrame.wideCorrThreshold)
      corrNarrow(minPeriods, ddof)
    else corrMelted(minPeriods, ddof)
  }

  /** k² cells per group from ONE [[PairMoments]] aggregate — O(k) plan
    * expressions, no row amplification. */
  private[graft] def corrNarrow(minPeriods: Int = 1, ddof: Int = 1): DataFrame =
    narrowCells("corr", PairMoments.corr(_, ddof, minPeriods))

  /** The grouped narrow long format: per group, the [[PairMoments]] cells
    * of the numeric columns, exploded and projected through `stat`.
    *
    * The columns go to [[PairMoments]] in Spark's string order (UTF-8
    * bytes), so each group's x-major cells already come out ordered by
    * `(col_x, col_y)`. `sort` then sorts the per-group aggregate rows by
    * key, before `explode`: the same row order as sorting the cells by
    * `(keys, col_x, col_y)`, on k² times fewer rows. Each of those rows
    * carries k² cells, so [[WeightedGroupBy.sortedByKeys]] bounds them by
    * the input estimate times k². */
  private def narrowCells(name: String, stat: Column => Column): DataFrame = {
    requireKeysFree(Seq("cells", "cell", "col_x", "col_y", name))
    val cols = numericAggCols.sortBy(UTF8String.fromString)
    val names = typedlit(cols)
    val groups = base.groupBy(keys.map(col): _*)
      .agg(PairMoments.column(cols.map(nc), w).as("cells"))
    sorted(groups, cellsPerRow = pairCells)
      .select(keys.map(col) :+ explode(col("cells")).as("cell"): _*)
      .select(keys.map(col) ++ Seq(names(col("cell.i")).as("col_x"),
        names(col("cell.j")).as("col_y"), stat(col("cell")).as(name)): _*)
  }

  /** Wide-frame grouped corr: melt → double explode → one 7-moment hash
    * aggregate keyed on (group keys, col_x, col_y) — O(k) planning, the
    * grouped sibling of [[WeightedDataFrame.corrMelted]]. Every base row
    * explodes into k² pair rows regardless of nulls, so every group
    * present in `base` still emits all k² cells (no spine needed: a group
    * exists in the narrow output iff it has a base row, same here). */
  /** Grouped melted pair rows and their joint-validity predicate — shared
    * by [[corrMelted]] and [[covMelted]]. Reserved aliases (__w__ /
    * __arr__ / __x__ / __y__): the group key columns ride along through
    * these projections (the ungrouped path drops all original columns
    * first and can use bare names), so a user key named like a reserved
    * alias would silently shadow it — fail fast instead. */
  /** Fail fast when a group key collides with a column name a corr/cov
    * path is about to introduce — the alternative is an opaque
    * ambiguous-reference AnalysisException deep inside the plan. */
  private def requireKeysFree(reserved: Seq[String]): Unit = {
    val bad = keys.filter(reserved.contains)
    require(bad.isEmpty,
      s"group key name(s) ${bad.mkString(", ")} collide with reserved " +
        s"column names (${reserved.mkString(", ")}); rename the key column(s)")
  }

  private def meltedPairs: (DataFrame, Column) = {
    // Superset of every alias either melted path introduces downstream,
    // including the moment aliases of the grouped aggregate — a key named
    // __sw__ would otherwise still hit the ambiguous-reference error at
    // the agg step this guard exists to prevent.
    requireKeysFree(Seq("__w__", "__arr__", "__x__", "__y__",
      "__n__", "__sw__", "__sx__", "__sy__", "__sxy__", "__sxx__", "__syy__"))
    val arr = array(numericAggCols.map(c =>
      struct(lit(c).as("name"), nc(c).as("v"))): _*)
    val pairs = base
      .select(keys.map(col) :+ w.as("__w__") :+ arr.as("__arr__"): _*)
      .select(keys.map(col) ++ Seq(col("__w__"),
        explode(col("__arr__")).as("__x__"), col("__arr__")): _*)
      .select(keys.map(col) ++ Seq(col("__w__"), col("__x__"),
        explode(col("__arr__")).as("__y__")): _*)
    val valid = col("__x__.v").isNotNull && col("__y__.v").isNotNull &&
      col("__w__").isNotNull
    (pairs, valid)
  }

  private[graft] def corrMelted(minPeriods: Int = 1, ddof: Int = 1): DataFrame = {
    import WeightedMoments.nullD
    import org.apache.spark.sql.functions.{sum => sumAgg}
    requireKeysFree(Seq("col_x", "col_y", "corr"))
    val (pairs, valid) = meltedPairs
    def m(e: Column): Column = sumAgg(when(valid, e).otherwise(nullD))
    val vx = col("__x__.v"); val vy = col("__y__.v"); val vw = col("__w__")
    val out = pairs
      .groupBy(keys.map(col) ++ Seq(
        col("__x__.name").as("col_x"), col("__y__.name").as("col_y")): _*)
      .agg(
        coalesce(sumAgg(when(valid, 1L).otherwise(0L)), lit(0L)).as("__n__"),
        coalesce(sumAgg(when(valid, vw).otherwise(lit(0.0))), lit(0.0)).as("__sw__"),
        m(vx * vw).as("__sx__"), m(vy * vw).as("__sy__"),
        m(vx * vy * vw).as("__sxy__"),
        m(vx * vx * vw).as("__sxx__"), m(vy * vy * vw).as("__syy__"))
      .select(keys.map(col) ++ Seq(col("col_x"), col("col_y"),
        WeightedMoments.corrFromMoments(
          col("__n__"), col("__sw__"), col("__sx__"), col("__sy__"),
          col("__sxy__"), col("__sxx__"), col("__syy__"),
          ddof, minPeriods).as("corr")): _*)
    sorted(out, keys :+ "col_x" :+ "col_y", pairCells)
  }

  /** Per-group pairwise weighted covariance, long format
    * `(keys…, col_x, col_y, cov)` — the grouped sibling of
    * [[WeightedDataFrame.cov]] (reference future work, README.md:311-317),
    * with the same wide-frame path switch. One shuffle total. */
  def cov(ddof: Int = 1): DataFrame =
    if (numericAggCols.length <= WeightedDataFrame.wideCorrThreshold)
      covNarrow(ddof)
    else covMelted(ddof)

  private[graft] def covNarrow(ddof: Int = 1): DataFrame =
    narrowCells("cov", PairMoments.cov(_, ddof))

  /** Wide-frame grouped covariance: melt → double explode → one 4-moment
    * hash aggregate keyed on (group keys, col_x, col_y) — O(k) planning,
    * identical numerics to [[covNarrow]] (both end in
    * [[WeightedMoments.covFromMoments]]). */
  private[graft] def covMelted(ddof: Int = 1): DataFrame = {
    import WeightedMoments.nullD
    import org.apache.spark.sql.functions.{sum => sumAgg}
    requireKeysFree(Seq("col_x", "col_y", "cov"))
    val (pairs, valid) = meltedPairs
    def m(e: Column): Column = sumAgg(when(valid, e).otherwise(nullD))
    val vx = col("__x__.v"); val vy = col("__y__.v"); val vw = col("__w__")
    val out = pairs
      .groupBy(keys.map(col) ++ Seq(
        col("__x__.name").as("col_x"), col("__y__.name").as("col_y")): _*)
      .agg(
        coalesce(sumAgg(when(valid, vw).otherwise(lit(0.0))), lit(0.0)).as("__sw__"),
        m(vx * vw).as("__sx__"), m(vy * vw).as("__sy__"),
        m(vx * vy * vw).as("__sxy__"))
      .select(keys.map(col) ++ Seq(col("col_x"), col("col_y"),
        WeightedMoments.covFromMoments(
          col("__sw__"), col("__sx__"), col("__sy__"), col("__sxy__"),
          ddof).as("cov")): _*)
    sorted(out, keys :+ "col_x" :+ "col_y", pairCells)
  }

  /** Project to a sub-groupby (weights retained) — `frame.py:468-477`. */
  def select(cols: String*): WeightedGroupBy =
    new WeightedGroupBy(wdf.select((keys ++ cols).distinct: _*), keys, dropna, sort)

  /** Distinct group keys — `frame.py:479-482`. */
  def groupKeys(): DataFrame = sorted(base.select(keys.map(col): _*).distinct())

  /** Apply an aggregate-expression builder to each weighted numeric column
    * per group — `frame.py:662-679` (the function sees pre-weighted data).
    * For arbitrary row-set functions use [[iterator]] (driver scale) or
    * `wdf.df.groupByKey(...).flatMapGroups` directly.
    */
  def applyAgg(f: Column => Column): DataFrame =
    run(numericAggCols, c => f(nc(c) * w))

  /** Weighted quantile per group (lower interpolation): smallest value v
    * such that the cumulative weight through v reaches `q`·Σw. Natural
    * extension beyond the reference (its README lists weighted
    * median/quantiles as future work — README.md:311-317).
    *
    * Two-pass histogram design so parallelism never degrades to the number
    * of groups (a cumulative-weight window partitioned by the group keys
    * would sort each whole group in ONE task — with 3 groups of 20M rows
    * the stage serializes):
    *   1. per-group stats (Σw, min, max) — hash aggregate, full parallelism;
    *   2. per-(group, histogram-bin) weight — hash aggregate, full
    *      parallelism; the cumulative over bins is a window over ≤ `buckets`
    *      rows per group (tiny by construction);
    *   3. the quantile's bin is known, so the exact scan runs over only that
    *      bin's rows (~1/`buckets` of the group), collapsed to distinct
    *      values first — equal values are interchangeable under
    *      lower-interpolation, so per-value weight sums preserve the answer
    *      while bounding the final window by the bin's distinct-value count.
    * All comparisons stay exact for integer-valued weights (double sums of
    * integers are exact below 2⁵³), so results are identical to the direct
    * single-window formulation.
    *
    * Deliberately TWO source scans, not one: collapsing the source to
    * per-(group, bin, distinct value) weights up front would let both the
    * histogram and the resolve share one exchange (1 scan total), but for
    * high-cardinality value columns the map-side partial aggregation
    * reduces nothing and that exchange carries the ENTIRE row set — a full
    * shuffle is strictly more expensive than a second pruned columnar scan,
    * locally (measured 2×: q31 1.76 s → 3.36 s at sf0.1) and more so on a
    * cluster, where scan 2 reads 2 parquet columns with pushdown while a
    * shuffle writes+reads+ships every row. The two-scan shape keeps the
    * histogram shuffle at ≤ `buckets`·groups rows (partial agg) and the
    * resolve's join probe-side pruned to the candidate bins.
    */
  def quantile(valueCol: String, q: Double = 0.5, buckets: Int = 256): DataFrame =
    quantiles(valueCol, Seq(q), buckets)
      .withColumnRenamed("p" + math.round(q * 100), valueCol)

  /** Several quantiles in ONE histogram pipeline: passes 1 and 2 (stats,
    * per-bin weights) are computed once; a single grouped aggregate emits
    * every quantile's candidate bin, and pass 3 resolves all of them
    * through one join keyed by (group, bin) — k quantiles cost one extra
    * tiny aggregate, not k full pipelines. Output columns: `p25`, `p50`, …
    * (`"p" + round(q·100)`). Same exactness story as [[quantile]],
    * including the fractional-weight ulp clamps on BOTH the bin selection
    * and the in-bin resolve (a group can never silently vanish). */
  def quantiles(valueCol: String, qs: Seq[Double], buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions.{sum => fSum, min => fMin, max => fMax}
    val kcols = keys.map(col)
    val rows = quantileRows(valueCol)
    // pass 1: per-group total weight + value range
    val stats = rows.groupBy(kcols: _*)
      .agg(fSum("__w__").as("__tw__"), fMin("__v__").as("__mn__"), fMax("__v__").as("__mx__"))
    quantilesWithStats(valueCol, qs, buckets, stats)
  }

  /** The row set every quantile pass sees: (keys, __v__, __w__) with value
    * and weight both non-null. */
  private def quantileRows(valueCol: String): DataFrame =
    base.where(col(valueCol).isNotNull && w.isNotNull)
      .select(keys.map(col) :+ col(valueCol).as("__v__") :+ w.as("__w__"): _*)

  /** [[quantiles]] with the pass-1 stats INJECTED: `stats` must hold one row
    * per group with `__tw__`/`__mn__`/`__mx__` computed over exactly the
    * rows [[quantileRows]] yields (value and weight non-null). Extra columns
    * are ignored. Lets a caller that already aggregates per group (describe's
    * moment pass) supply the stats — ideally as a materialized local
    * relation, since the pipeline consumes `stats` from several operators
    * and a lazy plan would be recomputed (source re-scanned) per consumer.
    * Groups with NO valid rows (null `__tw__`) produce no output row —
    * callers union or left-join them back if they must appear. */
  private[core] def quantilesWithStats(
      valueCol: String,
      qs: Seq[Double],
      buckets: Int,
      stats: DataFrame): DataFrame = {
    require(qs.nonEmpty, "quantiles requires at least one q")
    qs.foreach(q => require(q > 0 && q <= 1, s"quantile must be in (0,1], got $q"))
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val qNames = qs.map(q => "p" + math.round(q * 100))
    require(qNames.distinct.size == qs.size, s"quantiles round to duplicate names: $qNames")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{sum => fSum, min => fMin, max => fMax, first => fFirst}
    val kcols = keys.map(col)
    val rows = quantileRows(valueCol)
    // bin assignment is a pure function of (v, group range) — identical in
    // the histogram and the resolve pass. AQE picks broadcast vs shuffle
    // for the stats join (its size is #groups rows).
    val binExpr = when(col("__mx__") === col("__mn__"), lit(0))
      .otherwise(least(lit(buckets - 1),
        floor((col("__v__") - col("__mn__")) / (col("__mx__") - col("__mn__")) * buckets).cast("int")))
    val binned = rows.join(stats, keys).withColumn("__b__", binExpr)
    // pass 2: histogram — weight per (group, bin), then cumulative over bins
    val hist = binned.groupBy(kcols :+ col("__b__"): _*)
      .agg(fSum("__w__").as("__bw__"), fFirst("__tw__").as("__tw__"))
    val byBin = Window.partitionBy(kcols: _*).orderBy(col("__b__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum__", fSum("__bw__").over(byBin))
    // every quantile's candidate bin from ONE aggregate over the (tiny,
    // ≤ buckets rows per group) cumulative histogram: smallest b whose
    // cumulative reaches q·Σw, carrying the cumulative strictly before it.
    // The threshold is clamped to the group's max bin-cumulative — the bin
    // cumulative re-sums the same fractional weights in a different order
    // than pass 1's Σw, so at q=1 it can undershoot q·Σw by ulps and no
    // bin would qualify, silently dropping the group (for integer weights
    // the clamp is a no-op).
    val wholeGroupBins = Window.partitionBy(kcols: _*)
    val cumM = cum.withColumn("__maxcum__", fMax("__cum__").over(wholeGroupBins))
    val candAggs = qs.zipWithIndex.map { case (q, i) =>
      fMin(when(
        col("__cum__") >= least(lit(q) * col("__tw__"), col("__maxcum__")),
        struct(col("__b__"), (col("__cum__") - col("__bw__")).as("__prev__")))).as(s"__s$i")
    }
    val cands = cumM.groupBy(kcols: _*).agg(candAggs.head, candAggs.tail: _*)
    // long form (group, quantile-index, bin, prev) → one resolve join
    val candLong = cands
      .select(kcols :+ explode(array(qs.indices.map(i =>
        struct(lit(i).as("__qi__"), col(s"__s$i").getField("__b__").as("__b__"),
          col(s"__s$i").getField("__prev__").as("__prev__"))): _*)).as("__c__"): _*)
      .select(kcols :+ col("__c__.__qi__").as("__qi__") :+ col("__c__.__b__").as("__b__")
        :+ col("__c__.__prev__").as("__prev__"): _*)
    // pass 3: exact resolve inside each candidate bin only (a bin hosting
    // several quantiles resolves them all through the same joined rows)
    val inBin = binned.join(candLong, keys :+ "__b__")
    val dv = inBin.groupBy(kcols :+ col("__qi__") :+ col("__v__"): _*)
      .agg(fSum("__w__").as("__vw__"), fFirst("__prev__").as("__prev__"), fFirst("__tw__").as("__tw__"))
    val byVal = Window.partitionBy(kcols :+ col("__qi__"): _*).orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wholeGroup = Window.partitionBy(kcols :+ col("__qi__"): _*)
    val qExpr = element_at(array(qs.map(lit): _*), col("__qi__") + 1)
    val resolved = dv.withColumn("__cw__", col("__prev__") + fSum("__vw__").over(byVal))
      .withColumn("__thr__", least(qExpr * col("__tw__"), fMax("__cw__").over(wholeGroup)))
      .where(col("__cw__") >= col("__thr__"))
      .groupBy(kcols :+ col("__qi__"): _*)
      .agg(fMin(col("__v__")).as("__qv__"))
    // pivot the quantile index back to one column per q
    sorted(resolved.groupBy(kcols: _*).agg(
      fMin(when(col("__qi__") === 0, col("__qv__"))).as(qNames.head),
      qs.indices.tail.map(i =>
        fMin(when(col("__qi__") === i, col("__qv__"))).as(qNames(i))): _*))
  }

  /** Distributed arbitrary-function-per-group escape hatch — the scale path
    * for `groupby.apply` with a non-expressible function (`frame.py:662-679`
    * via `Dataset.flatMapGroups`, SURVEY §2.3 G8). The function receives the
    * group key and the iterator of *weighted* rows (numeric columns
    * pre-multiplied by the weight, matching the reference's `_weighted`),
    * in the schema order of `weightedSchema`. Groups never materialize on
    * the driver; each group streams through one executor task.
    */
  def flatMapGroups[K: org.apache.spark.sql.Encoder, T: org.apache.spark.sql.Encoder](
      keyFn: org.apache.spark.sql.Row => K)(
      f: (K, Iterator[org.apache.spark.sql.Row]) => IterableOnce[T]): org.apache.spark.sql.Dataset[T] = {
    val ns = numericAggCols.toSet // keys pass through unweighted (exclusions)
    val weightedRows = base.select(weightedSchema.map { c =>
      if (ns(c)) (nc(c) * w).as(c) else col(c)
    }: _*)
    weightedRows.groupByKey(keyFn).flatMapGroups((k, it) => f(k, it).iterator)
  }

  /** Column order of the rows seen by [[flatMapGroups]]. */
  def weightedSchema: Seq[String] = (keys ++ aggCols).distinct

  /** Driver-side group iteration for API parity with `__iter__`
    * (`frame.py:463-466`): collects the distinct keys, then yields
    * `(key, WeightedDataFrame-of-slice)`. Small-result / test path.
    */
  def iterator(): Iterator[(Seq[Any], WeightedDataFrame)] = {
    val ks = groupKeys().collect().iterator
    ks.map { row =>
      val kvs = keys.zipWithIndex.map { case (k, i) => k -> row.get(i) }
      // <=> not ===: with dropna=false a NULL key group must match its rows
      val cond = kvs.map { case (k, v) => col(k) <=> lit(v) }.reduce(_ && _)
      (kvs.map(_._2), new WeightedDataFrame(wdf.df.where(cond), wdf.weightName))
    }
  }
}

object WeightedGroupBy {

  /** `out` ordered by `keys`: the one place that decides how a keyed
    * result is ordered. `out` must hold at most `cellsPerRow` rows per row
    * of its `inputs`, as a grouped result does.
    *
    * A global `orderBy` costs a range-partition sampling job, which also
    * evaluates the plan below the sort a second time, and one more shuffle.
    * Spark's size estimate of the `inputs` (summed, from the analyzed plans,
    * no job) times `cellsPerRow` picks one of three sorts:
    *  - at most the size up to which AQE reads a shuffle as one partition
    *    (`spark.sql.adaptive.coalescePartitions.minPartitionSize` when
    *    `coalescePartitions.parallelismFirst` is on, Spark's default; else
    *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`):
    *    `coalesce(1).sortWithinPartitions`. The aggregate's final stage, and
    *    a join feeding it with no exchange in between, run in that one task:
    *    a grouped call runs 2 jobs, not 4.
    *  - at most `advisoryPartitionSizeInBytes`, so the result fits the
    *    partition size AQE aims for: `repartition(1).sortWithinPartitions`.
    *    The aggregate keeps AQE's parallelism and only the result moves to
    *    one task: 3 jobs.
    *  - larger: the global range sort.
    *
    * The input estimate stands in for the aggregate's shuffle, whose size is
    * known only at run time, so just under the first bound the final stage
    * can run in one task where AQE would have split it in two or more. The
    * estimate is Spark's, not an upper bound: a file source counts its
    * on-disk (compressed) bytes. An input whose plan can emit more rows than
    * it reads ([[multipliesRows]]), or one of unknown size (estimated at
    * `spark.sql.defaultSizeInBytes`, as for an RDD), keeps the range sort. */
  private[core] def sortedByKeys(
      inputs: Seq[DataFrame],
      out: DataFrame,
      keys: Seq[Column],
      cellsPerRow: Long = 1): DataFrame = {
    val plans = inputs.map(_.queryExecution.analyzed)
    val estimate =
      if (plans.exists(_.exists(multipliesRows))) None
      else Some(plans.map(_.stats.sizeInBytes).sum * cellsPerRow)
    val conf = out.sparkSession.sessionState.conf
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val onePartition =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else advisory
    estimate match {
      case Some(e) if e <= onePartition => out.coalesce(1).sortWithinPartitions(keys: _*)
      case Some(e) if e <= advisory => out.repartition(1).sortWithinPartitions(keys: _*)
      case _ => out.orderBy(keys: _*)
    }
  }

  /** A node that can emit more rows than it reads: `explode` and the other
    * generators, and the typed object operators (`flatMap`,
    * `flatMapGroups`, `cogroup`, ...). Spark's size estimate passes the
    * child's size through them, so it bounds nothing above them. */
  private def multipliesRows(p: LogicalPlan): Boolean = p match {
    case _: Generate | _: ObjectProducer => true
    case _ => false
  }
}
