package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{array, col, explode}
import org.apache.spark.sql.types._

import graft.core.{AlignedCorr, WeightedDataFrame}

/** Grouped weighted aggregations — goldens from
  * /root/reference/tests/test_frame.py:114-302 and test_series.py:165-231.
  */
class WeightedGroupBySpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def groupedDf =
    Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 30L, 1.5), ("B", 40L, 2.5))
      .toDF("Group", "Value", "weights")

  private def collectByKey(df: org.apache.spark.sql.DataFrame): Map[String, Option[Double]] =
    df.collect().map(r => r.getString(0) -> cell(r, 1)).toMap

  test("groupby count skipna matrix (test_frame.py:165-181)") {
    val d = Seq(("A", Some(10.0), 1.0), ("A", Some(20.0), 2.0), ("B", None: Option[Double], 1.5), ("B", Some(40.0), 2.5))
      .toDF("Group", "Value", "weights")
    val g = WeightedDataFrame.wt(d, "weights").groupBy("Group")
    val sk = collectByKey(g.count())
    assert(sk("A").contains(3.0) && sk("B").contains(2.5))
    val nsk = collectByKey(g.count(skipna = false))
    assert(nsk("A").contains(3.0) && nsk("B").contains(4.0))
  }

  test("groupby sum (test_frame.py:184-189)") {
    val got = collectByKey(WeightedDataFrame.wt(groupedDf, "weights").groupBy("Group").sum())
    assert(got("A").contains(50.0) && got("B").contains(145.0))
  }

  test("groupby mean (test_frame.py:192-197)") {
    val got = collectByKey(WeightedDataFrame.wt(groupedDf, "weights").groupBy("Group").mean())
    assertApprox(got("A"), Some(16.666666666666668), 1e-15)
    assert(got("B").contains(36.25))
  }

  test("groupby numeric keys, mean skipna matrix (test_frame.py:210-226)") {
    val d = Seq((1L, Some(10.0), 1.0), (1L, Some(20.0), 2.0), (2L, None: Option[Double], 1.5), (2L, Some(40.0), 2.5))
      .toDF("Group", "Value", "weights")
    val g = WeightedDataFrame.wt(d, "weights").groupBy("Group")
    val sk = g.mean().collect().map(r => r.getLong(0) -> cell(r, 1)).toMap
    assertApprox(sk(1L), Some(16.666666666666668), 1e-15)
    assert(sk(2L).contains(40.0))
    val nsk = g.mean(skipna = false).collect().map(r => r.getLong(0) -> cell(r, 1)).toMap
    assert(nsk(2L).contains(25.0))
  }

  test("groupby var — exact moment-formula value incl. cancellation (test_frame.py:229-235)") {
    val got = collectByKey(WeightedDataFrame.wt(groupedDf, "weights").groupBy("Group").variance())
    // 33.333333333333314, not 33.3…: the reference's (Q − S²/W)/(W−ddof)
    // double arithmetic, reproduced operation-for-operation.
    assert(got("A").contains(33.333333333333314))
    assert(got("B").contains(31.25))
  }

  test("groupby std (test_frame.py:238-244)") {
    val got = collectByKey(WeightedDataFrame.wt(groupedDf, "weights").groupBy("Group").std())
    assertApprox(got("A"), Some(5.773502691896255), 1e-14) // 1-ulp sqrt difference vs numpy
    assert(got("B").contains(5.5901699437494745))
  }

  test("groupby applyAgg minmax over weighted data (test_frame.py:264-278)") {
    import org.apache.spark.sql.functions.{max, min}
    val g = WeightedDataFrame.wt(groupedDf, "weights").groupBy("Group")
    val mins = collectByKey(g.applyAgg(min))
    val maxs = collectByKey(g.applyAgg(max))
    assert(mins("A").contains(10.0) && maxs("A").contains(40.0))
    assert(mins("B").contains(45.0) && maxs("B").contains(100.0))
  }

  test("groupby multiple keys (test_series.py:310-317)") {
    val d = Seq(("A", "A", 10L, 1.0), ("A", "B", 20L, 2.0), ("B", "A", 30L, 1.5), ("B", "B", 40L, 2.5))
      .toDF("Group", "Subgroup", "Value", "weights")
    val g = WeightedDataFrame.wt(d, "weights").groupBy(Seq("Group", "Subgroup"))
    assert(g.groupKeys().count() == 4)
    val got = g.sum().collect().map(r => (r.getString(0), r.getString(1)) -> cell(r, 2)).toMap
    assert(got(("A", "B")).contains(40.0))
  }

  test("groupby dropna drops null-key rows (frame.py:134-159)") {
    val d = Seq((Some("A"), 10L, 1.0), (None: Option[String], 20L, 2.0), (Some("B"), 30L, 1.0))
      .toDF("Group", "Value", "weights")
    val wdf = WeightedDataFrame.wt(d, "weights")
    assert(wdf.groupBy(Seq("Group"), dropna = true).groupKeys().count() == 2)
    assert(wdf.groupBy(Seq("Group"), dropna = false).groupKeys().count() == 3)
  }

  test("group iteration yields weighted slices (test_frame.py:120-139)") {
    val wdf = WeightedDataFrame.wt(groupedDf, "weights")
    val groups = wdf.groupBy("Group").iterator().map { case (k, sl) =>
      k.head.asInstanceOf[String] -> sl
    }.toMap
    assert(groups.keySet == Set("A", "B"))
    val a = oneRow(groups("A").select("Value").sum())
    assert(a("Value").contains(50.0))
  }

  test("weighted quantile (lower interpolation)") {
    // group A: values 10(w1), 20(w2) → cum 1,3 of total 3; median threshold
    // 1.5 → first value with cum ≥ 1.5 is 20. q=0.25 → threshold 0.75 → 10.
    val wdf = WeightedDataFrame.wt(groupedDf, "weights")
    val med = collectByKey(wdf.groupBy("Group").quantile("Value", 0.5))
    assert(med("A").contains(20.0) && med("B").contains(40.0))
    val q25 = collectByKey(wdf.groupBy("Group").quantile("Value", 0.25))
    assert(q25("A").contains(10.0) && q25("B").contains(30.0))
  }

  test("weighted quantile histogram path: degenerate groups, few buckets, q=1") {
    // all-equal values within a group → mx == mn → single-bin fast case
    val d = Seq(("A", 5.0, 1.0), ("A", 5.0, 2.0), ("B", 1.0, 1.0), ("B", 2.0, 1.0))
      .toDF("Group", "Value", "weights")
    val wdf = WeightedDataFrame.wt(d, "weights")
    val med = collectByKey(wdf.groupBy("Group").quantile("Value", 0.5))
    assert(med("A").contains(5.0) && med("B").contains(1.0))
    // tiny bucket count still resolves exactly (pass 3 does the exact scan)
    val med2 = collectByKey(wdf.groupBy("Group").quantile("Value", 0.5, buckets = 2))
    assert(med2 == med)
    val q1 = collectByKey(wdf.groupBy("Group").quantile("Value", 1.0))
    assert(q1("A").contains(5.0) && q1("B").contains(2.0))
  }

  test("weighted quantile never drops a group under fractional weights (q=1 ulp guard)") {
    // pass 3 re-sums the candidate bin's weights in value order while pass 2
    // summed them in scan order — with fractional weights the two double
    // sums can differ by ulps, and at q=1 the re-summed cumulative may sit
    // just BELOW q·Σw, which without the max-cw clamp silently drops the
    // whole group. Hammer many groups of awkward fractions and require
    // every group present with the exact max value.
    val rnd = new scala.util.Random(11)
    val rows = (1 to 4000).map { i =>
      ("G" + (i % 40), rnd.nextDouble() * 100.0, 0.1 + rnd.nextDouble() * 0.7)
    }
    val wdf = WeightedDataFrame.wt(rows.toDF("Group", "Value", "weights"), "weights")
    val got = collectByKey(wdf.groupBy("Group").quantile("Value", 1.0))
    val expect = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).max }
    assert(got.size == 40, s"groups dropped: got ${got.size} of 40")
    expect.foreach { case (g, mx) => assert(got(g).contains(mx), s"group $g") }
  }

  test("weighted skew/kurt: symmetric distribution → skew 0, hand-computed kurtosis") {
    // values 10(w1) 20(w2) 30(w1): μ=20, m2=50, m3=0 (symmetric), m4=5000
    // → skew 0, excess kurtosis 5000/2500 − 3 = −1
    val d = Seq(("A", 10.0, 1.0), ("A", 20.0, 2.0), ("A", 30.0, 1.0))
      .toDF("Group", "Value", "weights")
    val g = WeightedDataFrame.wt(d, "weights").groupBy("Group")
    val sk = g.skew().collect().head
    assertApprox(cell(sk, 1), Some(0.0), 1e-12)
    val ku = g.kurt().collect().head
    assertApprox(cell(ku, 1), Some(-1.0), 1e-12)
    // constant column → m2 = 0 → NULL both
    val const = WeightedDataFrame.wt(
      Seq(("A", 5.0, 1.0), ("A", 5.0, 2.0)).toDF("Group", "Value", "weights"), "weights")
    assert(cell(const.groupBy("Group").skew().collect().head, 1).isEmpty)
    assert(cell(const.groupBy("Group").kurt().collect().head, 1).isEmpty)
  }

  test("weighted mode picks the heaviest value, ties to the smallest") {
    val d = Seq(
      ("A", 1.0, 2.0), ("A", 2.0, 3.0),          // 2.0 wins on weight
      ("B", 1.0, 2.0), ("B", 2.0, 2.0),          // tie → smallest (1.0)
      ("C", 9.0, 1.0)).toDF("Group", "Value", "weights")
    val got = collectByKey(WeightedDataFrame.wt(d, "weights").groupBy("Group").mode("Value"))
    assert(got("A").contains(2.0) && got("B").contains(1.0) && got("C").contains(9.0))
  }

  test("multi-quantile pipeline agrees with per-q calls and direct computation") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 300).map(i =>
      ("G" + (i % 4), rnd.nextInt(50).toDouble, (rnd.nextInt(4) + 1).toDouble))
    val wdf = WeightedDataFrame.wt(rows.toDF("Group", "Value", "weights"), "weights")
    val qs = Seq(0.1, 0.5, 0.9)
    val multi = wdf.groupBy("Group").quantiles("Value", qs).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    for ((q, idx) <- qs.zipWithIndex) {
      val single = collectByKey(wdf.groupBy("Group").quantile("Value", q))
      single.foreach { case (g, v) =>
        val m = multi(g).productElement(idx).asInstanceOf[Double]
        assert(v.contains(m), s"q=$q group=$g: single=$v multi=$m")
      }
    }
  }

  test("weighted quantile matches a direct cumulative-weight computation") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      ("G" + (i % 3), rnd.nextInt(100).toDouble, (rnd.nextInt(5) + 1).toDouble))
    val wdf = WeightedDataFrame.wt(rows.toDF("Group", "Value", "weights"), "weights")
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val got = collectByKey(wdf.groupBy("Group").quantile("Value", q))
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.map(t => (t._2, t._3)).sortBy(_._1)
        val tw = sorted.map(_._2).sum
        var cum = 0.0
        val expect = sorted.collectFirst {
          case (v, w0) if { cum += w0; cum >= q * tw } => v
        }.get
        assert(got(g).contains(expect), s"q=$q group=$g")
      }
    }
  }

  test("groupby select projects columns (test_frame.py:299-302)") {
    val d = groupedDf.withColumn("Other", $"Value" * 2)
    val g = WeightedDataFrame.wt(d, "weights").groupBy("Group").select("Value")
    val got = g.sum().collect()
    assert(got.head.schema.fieldNames.toSeq == Seq("Group", "Value"))
  }

  /** Runs `body` with `confs` set on the session, restoring them after. */
  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = confs.map { case (k, _) => k -> conf.getOption(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** (range-partition exchanges, single-partition exchanges, global sorts)
    * in the executed plan of a collected result, looking through adaptive
    * query stages. */
  private def sortShape(df: DataFrame): (Int, Int, Int) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    def exchanges(p: Partitioning => Boolean) =
      collect(plan) { case e: ShuffleExchangeExec if p(e.outputPartitioning) => e }.size
    (exchanges(_.isInstanceOf[RangePartitioning]),
      exchanges(p => !p.isInstanceOf[RangePartitioning] && p.numPartitions == 1),
      collect(plan) { case s: SortExec if s.global => s }.size)
  }
  private val OnePartition = (0, 0, 0)
  private val SinglePartitionShuffle = (0, 1, 0)
  private val RangeSort = (1, 0, 1)

  /** 12 rows in 4 groups of two keys `(g, h)`, from a local Seq so their
    * size is known. "ｚ" (U+FF5A) sorts before "😀" (U+1F600) in Spark's
    * UTF-8 order and after it in Java's UTF-16 order; a NULL `g`, kept by
    * dropna=false, sorts first; ("😀", 2) and ("😀", 1) order on `h`. */
  private def sortCaseFrame: DataFrame = {
    val groups = Seq[(String, Int)](("😀", 2), (null, 1), ("ｚ", 1), ("😀", 1))
    val schema = StructType(Seq(StructField("g", StringType), StructField("h", IntegerType),
      StructField("ix", LongType), StructField("a", DoubleType), StructField("b", DoubleType),
      StructField("w", DoubleType)))
    val rows = (0 until 12).map { r =>
      val (g, h) = groups(r % groups.size)
      Row(g, h, r.toLong, ((r * 7) % 5).toDouble, ((r * 3) % 7).toDouble, 1.0 + r % 3)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** One value `r` per group key `(g, h)` of [[sortCaseFrame]]. */
  private val keyedRightSchema = StructType(Seq(StructField("g", StringType),
    StructField("h", IntegerType), StructField("r", DoubleType)))
  private val keyedRightRows = Seq(Row("😀", 2, 3.0), Row(null, 1, 1.0), Row("ｚ", 1, 4.0),
    Row("😀", 1, 2.0))

  test("sorted grouped output: one partition for a small input ≡ a single-partition shuffle ≡ the range sort, row for row") {
    val df = sortCaseFrame
    val right = spark.createDataFrame(java.util.Arrays.asList(
      (0 until 12).map(r => Row(r.toLong, ((r * 5) % 11).toDouble)): _*),
      StructType(Seq(StructField("ix", LongType), StructField("r", DoubleType))))
    val keyedRight =
      spark.createDataFrame(java.util.Arrays.asList(keyedRightRows: _*), keyedRightSchema)
    val calls: Seq[(String, () => DataFrame)] = {
      def g = WeightedDataFrame.wt(df.drop("ix"), "w").groupBy(Seq("g", "h"), dropna = false)
      Seq(
        "count" -> (() => g.count()),
        "sum" -> (() => g.sum()),
        "var" -> (() => g.variance()),
        "corr" -> (() => g.corr()),
        "corrMelted" -> (() => g.corrMelted()),
        "cov" -> (() => g.cov()),
        "mode" -> (() => g.mode("a")),
        "groupKeys" -> (() => g.groupKeys()),
        "corrByGroup" -> (() => AlignedCorr.corrByGroup(WeightedDataFrame.wt(df, "w"),
          Seq("g", "h"), "a", right, "r", Seq("ix"), dropna = false)),
        // `on` = the keys: no exchange parts the join from the aggregate
        "corrByGroup on keys" -> (() => AlignedCorr.corrByGroup(WeightedDataFrame.wt(df, "w"),
          Seq("g", "h"), "a", keyedRight, "r", Seq("g", "h"), dropna = false)))
    }
    withConfs("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      for ((what, call) <- calls) {
        // the estimate (under 1 KB) fits AQE's one-partition size; above a
        // 1-byte minPartitionSize it still fits the advisory size; above both
        // it takes the range sort
        val small = call()
        val mid =
          withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")(call())
        val large = withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(call())
        val smallRows = small.collect().toSeq
        assert(smallRows.nonEmpty && smallRows.head.isNullAt(0), what)
        for ((side, df, shape) <- Seq(("small", small, OnePartition),
            ("mid", mid, SinglePartitionShuffle), ("large", large, RangeSort))) {
          assert(df.collect().toSeq == smallRows, s"$what $side")
          assert(sortShape(df) == shape, s"$what $side:\n${df.queryExecution.executedPlan}")
        }
      }
    }
  }

  test("sorted grouped output: the one-partition bound is AQE's, and an unbounded input keeps the range sort") {
    val df = sortCaseFrame
    def count(in: DataFrame): DataFrame = {
      val out = WeightedDataFrame.wt(in.drop("ix"), "w").groupBy(Seq("g", "h"), dropna = false)
        .count()
      out.collect()
      out
    }
    // the frame's estimate (under 1 KB) lies between a 64-byte minPartitionSize and
    // the 64 MB advisory size: parallelismFirst (Spark's default) reads a
    // shuffle as one partition only up to minPartitionSize, so the aggregate
    // stays parallel and only the result moves to one partition; without it
    // AQE packs up to the advisory size
    withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64") {
      assert(sortShape(count(df)) == SinglePartitionShuffle)
      withConfs("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
        assert(sortShape(count(df)) == OnePartition)
      }
    }
    // explode doubles the rows but passes the child's size estimate through
    val exploded = df.withColumn("a", explode(array(col("a"), col("a") + 1)))
    assert(sortShape(count(exploded)) == RangeSort)
    // a right frame of unknown size (RDD-built), joined on the keys
    val unknownRight = spark.createDataFrame(spark.sparkContext.parallelize(keyedRightRows, 2),
      keyedRightSchema)
    val byKeys = AlignedCorr.corrByGroup(WeightedDataFrame.wt(df, "w"), Seq("g", "h"), "a",
      unknownRight, "r", Seq("g", "h"), dropna = false)
    byKeys.collect()
    assert(sortShape(byKeys) == RangeSort, byKeys.queryExecution.executedPlan)
  }
}
