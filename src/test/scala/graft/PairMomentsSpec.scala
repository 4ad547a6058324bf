package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.{PairMoments, WeightedDataFrame}

/** The narrow corr/cov kernel ([[PairMoments]]) against the melted path,
  * cell for cell, plus its buffer round trip and the shape of its plan. */
class PairMomentsSpec extends SparkSpecBase {

  private type Cells = Map[Seq[Any], Option[Double]]

  /** Long-format result → (keys…, col_x, col_y) → statistic. */
  private def cells(df: DataFrame): Cells = {
    val n = df.columns.length
    df.collect().map(r => r.toSeq.init -> cell(r, n - 1)).toMap
  }

  /** Equal cell sets; values equal within `rel` relative error, or exactly
    * when `rel` is 0. */
  private def assertSame(a: Cells, b: Cells, what: String, rel: Double = 1e-12): Unit = {
    assert(a.keySet == b.keySet, s"$what: cell sets differ")
    a.foreach { case (key, v) =>
      (v, b(key)) match {
        case (Some(x), Some(y)) =>
          assert(math.abs(x - y) <= rel * math.max(1.0, math.abs(y)), s"$what $key: $x vs $y")
        case (x, y) => assert(x == y, s"$what $key: $x vs $y")
      }
    }
  }

  /** Every narrow path (corr/cov, frame/grouped) equals its melted twin. */
  private def assertNarrowIsMelted(wdf: WeightedDataFrame, keys: Seq[String],
      ddofs: Seq[Int] = Seq(1), minPeriods: Seq[Int] = Seq(1), rel: Double = 1e-12): Unit =
    for (ddof <- ddofs) {
      for (mp <- minPeriods) {
        assertSame(cells(wdf.corrNarrow(mp, ddof)), cells(wdf.corrMelted(mp, ddof)),
          s"corr ddof=$ddof minPeriods=$mp", rel)
        if (keys.nonEmpty) {
          val g = wdf.groupBy(keys)
          assertSame(cells(g.corrNarrow(mp, ddof)), cells(g.corrMelted(mp, ddof)),
            s"grouped corr ddof=$ddof minPeriods=$mp", rel)
        }
      }
      assertSame(cells(wdf.covNarrow(ddof)), cells(wdf.covMelted(ddof)), s"cov ddof=$ddof", rel)
      if (keys.nonEmpty) {
        val g = wdf.groupBy(keys)
        assertSame(cells(g.covNarrow(ddof)), cells(g.covMelted(ddof)),
          s"grouped cov ddof=$ddof", rel)
      }
    }

  private val mixedSchema = StructType(Seq(
    StructField("g", StringType),
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("d", DecimalType(12, 3)),
    StructField("b", BooleanType),
    StructField("x", DoubleType),
    StructField("none", DoubleType),
    StructField("weights", DoubleType)))

  /** Int, long, decimal and boolean columns with NULLs, an all-NULL column,
    * and NULL and zero weights. */
  private def mixedRows(seed: Int, n: Int): Seq[Row] = {
    val rnd = new Random(seed)
    def maybe[T](v: => T): Any = if (rnd.nextDouble() < 0.15) null else v
    (0 until n).map { r =>
      val w: Any = rnd.nextInt(10) match {
        case 0 => null
        case 1 => 0.0
        case _ => rnd.nextDouble() * 3 + 0.1
      }
      Row(s"g${rnd.nextInt(3)}",
        maybe(rnd.nextInt(200) - 100),
        maybe(rnd.nextLong() % 1000000L),
        maybe(new java.math.BigDecimal(rnd.nextInt(2000000) - 1000000).movePointLeft(3)),
        maybe(rnd.nextBoolean()),
        maybe(rnd.nextGaussian() * 5),
        null,
        w)
    }
  }

  private def frame(rows: Seq[Row], partitions: Int): WeightedDataFrame =
    WeightedDataFrame.wt(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), mixedSchema),
      "weights")

  test("mixed int/long/decimal/boolean columns with NULLs and zero weights match the melted path") {
    for (seed <- 1 to 3) {
      val wdf = frame(mixedRows(seed, 80), 3)
      assertNarrowIsMelted(wdf, Seq("g"))
      // the all-NULL column has no valid pair: every cell it touches is NULL
      val c = cells(wdf.cov())
      assert(c.size == 36)
      assert(c.collect { case (Seq(x, y), v) if x == "none" || y == "none" => v }
        .forall(_.isEmpty))
    }
  }

  test("on one partition the kernel's moments are the melted path's, bit for bit") {
    // same terms, same order, same starting 0.0: a single input partition
    // leaves no merge order to differ in
    val wdf = frame(mixedRows(7, 60), 1)
    assertNarrowIsMelted(wdf, Seq("g"), ddofs = Seq(0, 1), rel = 0.0)
  }

  test("an empty frame still yields k² NULL cells") {
    val wdf = frame(Nil, 2)
    for (df <- Seq(wdf.corrNarrow(), wdf.covNarrow())) {
      val c = cells(df)
      assert(c.size == 36 && c.values.forall(_.isEmpty))
    }
    assertNarrowIsMelted(wdf, Nil)
    // grouped: no group, no cell
    assert(wdf.groupBy("g").corrNarrow().count() == 0L)
  }

  test("one-row groups and more partitions than rows merge empty partial buffers") {
    val rows = mixedRows(11, 5).zipWithIndex.map { case (r, ix) =>
      Row.fromSeq(s"solo$ix" +: r.toSeq.tail)
    } ++ mixedRows(12, 3)
    val wdf = frame(rows, 12)
    assertNarrowIsMelted(wdf, Seq("g"), ddofs = Seq(0, 1), minPeriods = Seq(0, 1))
    val g = wdf.groupBy("g").corrNarrow(1, 0)
    assert(g.count() == rows.map(_.getString(0)).distinct.size.toLong * 36)
  }

  test("ddof {0,1,2} × minPeriods grid matches the melted path") {
    val wdf = frame(mixedRows(21, 40), 4)
    assertNarrowIsMelted(wdf, Seq("g"), ddofs = Seq(0, 1, 2), minPeriods = Seq(0, 1, 3, 10, 40))
  }

  test("serialize → deserialize round-trips the buffer bit for bit") {
    val k = 4
    val agg = PairMoments((0 to k).map(i => BoundReference(i, DoubleType, nullable = true)))
    val rnd = new Random(5)
    val specials = Array(-0.0, Double.MinPositiveValue, 1e150, -1e-300, math.Pi)
    var buf = agg.createAggregationBuffer()
    for (r <- 0 until 50) {
      val row = InternalRow.fromSeq((0 to k).map { c =>
        if (c < k && rnd.nextDouble() < 0.2) null
        else if (r % 7 == 0) specials(c % specials.length)
        else rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 6)
      })
      buf = agg.update(buf, row)
    }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.length == buf.length)
    assert(back.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      buf.map(java.lang.Double.doubleToRawLongBits).toSeq)
    // merging into an empty buffer is the identity
    val merged = agg.merge(agg.createAggregationBuffer(), back)
    assert(merged.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      buf.map(java.lang.Double.doubleToRawLongBits).toSeq)
    val a = agg.eval(buf).asInstanceOf[ArrayData]
    val b = agg.eval(back).asInstanceOf[ArrayData]
    assert(a.numElements() == k * k)
    assert(a.toSeq[InternalRow](PairMoments.CellType).map(_.toSeq(PairMoments.CellType)) ==
      b.toSeq[InternalRow](PairMoments.CellType).map(_.toSeq(PairMoments.CellType)))
  }

  test("cells are x-major and mirror (i, j) as (j, i) with x and y swapped") {
    val k = 3
    val agg = PairMoments((0 to k).map(i => BoundReference(i, DoubleType, nullable = true)))
    var buf = agg.createAggregationBuffer()
    for (row <- Seq(Seq(1.0, 2.0, null, 1.0), Seq(3.0, 5.0, null, 2.0), Seq(4.0, 1.0, null, 0.5)))
      buf = agg.update(buf, InternalRow.fromSeq(row))
    val out = agg.eval(buf).asInstanceOf[ArrayData]
      .toSeq[InternalRow](PairMoments.CellType).map(_.toSeq(PairMoments.CellType))
    assert(out.map(c => (c(0), c(1))) == (for (i <- 0 until k; j <- 0 until k) yield (i, j)))
    val c01 = out(1); val c10 = out(k)
    // n, sw, sxy shared; (sx, sy) and (sxx, syy) swapped
    assert(Seq(2, 3, 6).map(c01) == Seq(2, 3, 6).map(c10))
    assert((c01(4), c01(5), c01(7), c01(8)) == (c10(5), c10(4), c10(8), c10(7)))
    assert(c01(2) == 3L && c01(3) == 3.5)
    // column 2 is all NULL: n = 0, sw = 0.0, NULL sums
    for (c <- out if c(0) == 2 || c(1) == 2)
      assert(c.drop(2) == Seq(0L, 0.0, null, null, null, null, null))
  }

  test("narrow corr/cov plans hold exactly one aggregate at k=3 and k=16") {
    def aggregates(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case a: AggregateExpression => a }.size).sum
      }.sum
    for (k <- Seq(3, WeightedDataFrame.wideCorrThreshold)) {
      val cols = (0 until k).map(i => f"c$i%02d")
      val schema = StructType(StructField("g", StringType) +:
        (cols :+ "weights").map(StructField(_, DoubleType)))
      val rows = (0 until 10).map(r =>
        Row.fromSeq(s"g${r % 2}" +: (cols.indices.map(i => ((r + 1) * (i + 3) % 7).toDouble) :+ 1.0)))
      val wdf = WeightedDataFrame.wt(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema), "weights")
      val g = wdf.groupBy("g")
      for ((what, df) <- Seq("corr" -> wdf.corr(), "grouped corr" -> g.corr(),
          "cov" -> wdf.cov(), "grouped cov" -> g.cov())) {
        assert(aggregates(df) == 1, s"$what at k=$k")
        assert(df.count() == (if (what.startsWith("grouped")) 2L else 1L) * k * k,
          s"$what at k=$k")
      }
    }
  }

  test("sorted grouped corr/cov: (keys, col_x, col_y) order from sorting the per-group rows") {
    // frame order differs from name order, and Spark orders strings by
    // UTF-8 bytes: "ｚ" (U+FF5A) sorts before "😀" (U+1F600) there, after
    // it in Java's UTF-16 order
    val cols = Seq("b", "😀", "ｚ", "C", "a")
    val schema = StructType(StructField("g", StringType) +:
      (cols :+ "w").map(StructField(_, DoubleType)))
    val keys = Seq("b", "a", null, "b", "a", null, "c", "b")
    val rows = keys.zipWithIndex.map { case (g, r) =>
      Row.fromSeq(g +: (cols.indices.map(i => ((r + 2) * (i + 5) % 11).toDouble) :+ 1.0 + r % 3))
    }
    // 8 input partitions and 4 shuffle partitions for 4 groups
    val wdf = WeightedDataFrame.wt(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema), "w")
    val sorted = wdf.groupBy(Seq("g"), dropna = false)
    val unsorted = wdf.groupBy(Seq("g"), dropna = false, sort = false)
    def listed(df: DataFrame): Seq[(Seq[Any], Option[Double])] =
      df.collect().toSeq.map(r => r.toSeq.init -> cell(r, 3))
    for ((what, got, ref) <- Seq(("corr", sorted.corr(), unsorted.corr()),
        ("cov", sorted.cov(), unsorted.cov()))) {
      val want = listed(ref.orderBy("g", "col_x", "col_y"))
      assert(want.size == 4 * cols.size * cols.size && want.head._1.head == null, what)
      assert(listed(got) == want, what)
      // one range-partitioned sort, on the keys alone: the per-group rows,
      // not the k² times larger exploded cells
      val sorts = got.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
      }
      assert(sorts.size == 1 && sorts.head.global, what)
      assert(sorts.head.order.flatMap(_.references.map(_.name)) == Seq("g"), what)
    }
  }
}
