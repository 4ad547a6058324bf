package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.core.WeightedDataFrame
import graft.sources.Tables

/** The paper's own surface over seeded inputs: weighted
  * count/sum/mean/var/std/corr calls, frame and grouped, resample with
  * several rules and closed/label settings, aligned and grouped-aligned
  * corr and applyAgg. Results are one row to a few thousand, so API build,
  * planning, scheduling and the scan dominate and the text and media
  * kernels never run.
  *
  * Grouped calls run on two inputs: `lc` (3-value `l_returnflag`) and `hc`
  * (the skewed part key, thousands of mostly tiny groups), so each run
  * mixes low- and high-cardinality grouping in fixed proportion. */
final class WeightedAnalytics(seed: Long) extends Workload {
  import WeightedAnalytics._

  def generate(spark: SparkSession, dir: String): Unit = {
    Inputs.write(spark, s"$dir/lc", Seq(
      "lineitem" -> Inputs.lineitem(spark, seed, highCardinality = false),
      "orders" -> Inputs.orders(spark, seed),
      "events" -> Inputs.events(spark, seed)))
    Inputs.write(spark, s"$dir/hc", Seq(
      "lineitem" -> Inputs.lineitem(spark, seed, highCardinality = true),
      "orders" -> Inputs.orders(spark, seed)))
  }

  /** One round: every call kind once, grouped kinds on both inputs, and
    * `corr` over the first 2, 3, 4 and 5 value columns. Runs are whole
    * rounds, so every seed times the same calls; the seed moves the data.
    *
    * The order is one fixed interleaving, not drawn from the seed: a call's
    * latency depends on what ran before it (Spark's generated-code cache
    * holds 100 entries and this mix overflows it, so a grouped corr costs
    * 1.1 s or 2.1 s depending on its neighbours), and a seeded order would
    * make p90 a property of the seed. Which columns a corr call takes moves
    * its cost by a third, so those are fixed too. */
  private val Round: Seq[Op] = {
    val calls = FrameQueries.map(Op(_, "lc", Nil)) ++
      GroupedQueries.flatMap(k => Variants.map(Op(k, _, Nil))) ++
      ResampleQueries.map(Op(_, "lc", Nil)) ++
      (2 to CorrColumns.size).map(k => Op(CorrCols, "lc", CorrColumns.take(k)))
    new Random(RoundOrder).shuffle(calls)
  }

  private def build(spark: SparkSession, dir: String, op: Op): DataFrame = {
    val d = s"$dir/${op.variant}"
    if (op.kind == CorrCols)
      WeightedDataFrame.wt(Tables.testTable(spark, d, "lineitem"), "l_quantity")
        .select(op.cols: _*).corr().orderBy("col_x", "col_y")
    else graft.SparkEntry.queries(op.kind)(spark, d)
  }

  /** Each query kind once. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    Round.groupBy(_.kind).values.map(_.head).foreach(op => build(spark, dir, op).collect())

  private val traced = mutable.ArrayBuffer.empty[(Int, Int, Int)] // (root span, exchanges, scans)
  private val scanSpans = mutable.ArrayBuffer.empty[Int]
  private val pairs = mutable.ArrayBuffer.empty[(Double, Double)] // (untraced, traced)

  def run(spark: SparkSession, dir: String, seconds: Double, tracer: Option[Tracer],
      out: Outputs, heap: Heap): RunResult = {
    val samples = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val checks = mutable.Map.empty[String, String]
    var n = 0
    var timedWall = 0.0
    var spent = 0.0 // traced runs also spend time on the traced twin of each call
    // one call, API entry to collected result; the output is written after
    // the clock stops
    def plain(op: Op): Double = {
      val t0 = System.nanoTime()
      val df = build(spark, dir, op)
      val rows = df.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      out.write(op.key, n, df.schema, rows)
      wall
    }
    val ops = Iterator.continually(Round).takeWhile(_ => spent < seconds).flatten
    for (op <- ops) {
      checks.getOrElseUpdate(op.key, oracle(op))
      try {
        val wall = tracer match {
          case None => plain(op)
          case Some(t) =>
            // the same call untraced and traced, in alternating order, so
            // the trace's own cost is measured on identical work
            val first = n % 2 == 0
            val u1 = if (first) plain(op) else 0.0
            val tw = tracedOnce(spark, dir, op, t, out, n)
            val u2 = if (!first) plain(op) else 0.0
            pairs += ((u1 + u2, tw))
            spent += tw
            if (n % 10 == 0) scanProbe(spark, dir, t)
            u1 + u2
        }
        samples += wall
        timedWall += wall
        spent += wall
      } catch {
        case e: Throwable =>
          errors += s"${op.key}: ${e.toString.takeWhile(_ != '\n').take(300)}"
          spent += 0.05
      }
      n += 1
    }
    RunResult(samples.toSeq, samples.size.toLong, timedWall, errors.toSeq, checks.toMap)
  }

  private def tracedOnce(spark: SparkSession, dir: String, op: Op, t: Tracer,
      out: Outputs, n: Int): Double = {
    val t0 = System.nanoTime()
    val (df, rows) = t.span("query") {
      val df = t.span("core.build")(build(spark, dir, op))
      t.span("core.plan")(df.queryExecution.executedPlan)
      (df, t.span("core.exec")(df.collect()))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    out.write(op.key, n, df.schema, rows)
    val nodes = planNodes(df.queryExecution.executedPlan)
    traced += ((t.allSpans.last.id,
      nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[BatchScanExec])))
    wall
  }

  /** `sources`: a full scan of every input table, through the repository's
    * own readers. */
  private def scanProbe(spark: SparkSession, dir: String, t: Tracer): Unit = {
    t.span("sources.scan") {
      Seq("lineitem", "orders", "events").foreach { tb =>
        Tables.testTable(spark, s"$dir/lc", tb).queryExecution.toRdd.count()
      }
      Tables.read(spark, s"$dir/hc/lineitem.parquet").queryExecution.toRdd.count()
    }
    scanSpans += t.allSpans.last.id
  }

  def layers(spark: SparkSession, dir: String, t: Tracer): Map[String, Double] = {
    val spans = t.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val childrenOf = spans.groupBy(_.parent)
    val q = traced.size.max(1).toDouble
    def kids(root: Int, name: String) =
      childrenOf.getOrElse(root, Nil).filter(_.name == name)
    def perQuery(name: String): Double =
      traced.map { case (r, _, _) => kids(r, name).map(t.selfSeconds).sum }.sum / q
    val execJobs = traced.flatMap { case (r, _, _) => kids(r, "core.exec").flatMap(s => t.jobsIn(Set(s.id))) }
    val allJobs = traced.flatMap { case (r, _, _) => t.jobsIn(t.subtree(r)) }
    val execStages = t.stageCounters(execJobs.toSeq)
    val allStages = t.stageCounters(allJobs.toSeq)
    val execWall = traced.map { case (r, _, _) => kids(r, "core.exec").map(_.seconds).sum }.sum
    val cores = Runtime.getRuntime.availableProcessors().toDouble
    val scanTimes = scanSpans.map(byId(_).seconds).sorted
    Map(
      "sources.scan_s" -> (if (scanTimes.isEmpty) 0.0 else scanTimes(scanTimes.size / 2)),
      "sources.bytes_read" -> allStages.map(_.inputBytes).sum / q,
      "core.build_s" -> perQuery("core.build"),
      "core.plan_s" -> perQuery("core.plan"),
      "core.exec_s" -> perQuery("core.exec"),
      "core.shuffle_bytes" -> allStages.map(_.shuffleWriteBytes).sum / q,
      "core.jobs" -> allJobs.size / q,
      "core.tasks" -> allStages.map(_.tasks).sum / q,
      "core.exchanges" -> traced.map(_._2).sum / q,
      "core.scans" -> traced.map(_._3).sum / q,
      "core.core_util" -> (if (execWall > 0) execStages.map(_.taskMs).sum / 1000.0 / (execWall * cores) else 0.0),
      "trace_overhead_frac" -> Main.overhead(pairs.toSeq))
  }

  /** DuckDB SQL whose result the output under this key must equal. */
  private def oracle(op: Op): String =
    if (op.kind == CorrCols) corrSql(op.cols) else graft.SparkEntry.oracleSql(op.kind)
}

object WeightedAnalytics {
  /** One call: a query kind, the input directory it reads, and for
    * `corr_cols` the value columns fed to corr. */
  final case class Op(kind: String, variant: String, cols: Seq[String]) {
    def key: String =
      (if (cols.isEmpty) kind else s"$kind:${cols.mkString(",")}") + "@" + variant
  }

  val Variants = Seq("lc", "hc")
  val CorrCols = "corr_cols"
  private val RoundOrder = 20240101L
  val CorrColumns = Seq("l_extendedprice", "l_discount", "l_tax", "l_suppkey", "l_linenumber")

  /** Frame-level calls: one row per call. */
  val FrameQueries = Seq("q01_count", "q03_sum", "q04_mean", "q05_var", "q06_std",
    "q14_aligned_corr", "q19_null_semantics")
  /** Grouped calls, run on both the low- and high-cardinality input. */
  val GroupedQueries = Seq("q08_grouped_count", "q09_grouped_sum", "q10_grouped_mean",
    "q11_grouped_var", "q12_grouped_std", "q13_grouped_corr", "q15_grouped_aligned_corr",
    "q17_grouped_apply_range")
  /** Resample: fixed 2-day and 12-hour bins with right closed/label, grouped
    * bins, calendar months, and year-end bins closed left. */
  val ResampleQueries = Seq("q16_resample", "q16b_resample_right", "q97_grouped_resample",
    "q29_resample_monthly", "q150_resample_closed_left")

  /** All operator nodes of an executed plan, looking through adaptive
    * query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Weighted Pearson matrix over `cols`, long format, in the same moment
    * formulation as the repository's `q07_corr` oracle (weight
    * `l_quantity`, ddof 1, min_periods 1). */
  def corrSql(cols: Seq[String]): String = {
    def moments(x: String, y: String): String = {
      val valid = s"($x IS NOT NULL AND $y IS NOT NULL AND l_quantity IS NOT NULL)"
      s"sum(CASE WHEN $valid THEN 1 ELSE 0 END) AS n, " +
        s"sum(CASE WHEN $valid THEN l_quantity ELSE 0 END) AS sw, " +
        s"sum(CASE WHEN $valid THEN $x * l_quantity END) AS sx, " +
        s"sum(CASE WHEN $valid THEN $y * l_quantity END) AS sy, " +
        s"sum(CASE WHEN $valid THEN $x * $y * l_quantity END) AS sxy, " +
        s"sum(CASE WHEN $valid THEN $x * $x * l_quantity END) AS sxx, " +
        s"sum(CASE WHEN $valid THEN $y * $y * l_quantity END) AS syy"
    }
    val fromMoments =
      "CASE WHEN n < 1 OR sw <= 1 THEN NULL " +
        "WHEN ((sxx - sx * sx / sw) / (sw - 1)) <= 0 OR ((syy - sy * sy / sw) / (sw - 1)) <= 0 THEN NULL " +
        "ELSE ((sxy - sx * sy / sw) / (sw - 1)) / sqrt(((sxx - sx * sx / sw) / (sw - 1)) * ((syy - sy * sy / sw) / (sw - 1))) END"
    val selects = for { x <- cols; y <- cols } yield
      s"SELECT '$x' AS col_x, '$y' AS col_y, $fromMoments AS corr " +
        s"FROM (SELECT ${moments(s"CAST($x AS DOUBLE)", s"CAST($y AS DOUBLE)")} FROM lineitem)"
    selects.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_x, col_y")
  }
}
