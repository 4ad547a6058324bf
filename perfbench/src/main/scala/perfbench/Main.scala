package perfbench

import java.io.BufferedWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM process. One workload per invocation:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (session start, input generation, warm-up) is timed as a whole;
  * the timed closed loop then runs for `--seconds`. Results go to
  * `<work>/result.json` and every operation's output to
  * `<work>/outputs.jsonl`, which the Python wrapper checks after this
  * process has exited.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w: Workload = args.workload match {
      case "weighted_analytics" => new WeightedAnalytics(args.seed)
      case "corpus_curation" => new CorpusCuration(args.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = session(args.work)
    val dir = s"${args.work}/inputs"
    w.generate(spark, dir)
    w.warmUp(spark, dir)
    val setupS = (System.nanoTime() - t0) / 1e9
    val heap = new Heap(spark.sparkContext)
    heap.sample()
    val out = new Outputs(s"${args.work}/outputs.jsonl")
    val tracer = if (args.trace) Some(new Tracer(spark.sparkContext)) else None
    val res =
      try w.run(spark, dir, args.seconds, tracer, out, heap)
      finally out.close()
    heap.sample()
    val layers = tracer.map { t =>
      t.drain()
      val l = w.layers(spark, dir, t)
      t.drain()
      t.writeSpans(s"${args.work}/spans.jsonl")
      l
    }.getOrElse(Map.empty)
    val json = Json.obj(
      "workload" -> Json.str(args.workload),
      "inputs" -> Json.str(dir),
      "setup_s" -> Json.num(setupS),
      "cores" -> Json.num(Runtime.getRuntime.availableProcessors().toDouble),
      "samples" -> Json.arr(res.samples.map(Json.num)),
      "items" -> Json.num(res.items.toDouble),
      "timed_wall_s" -> Json.num(res.timedWall),
      "errors" -> Json.arr(res.errors.map(Json.str)),
      "live_heap_mb" -> Json.num(heap.peakMb),
      "checks" -> Json.obj(res.checks.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(Paths.get(s"${args.work}/result.json"), json)
    spark.stop()
  }

  /** Tracing overhead from (untraced, traced) seconds of the same work run
    * back to back in alternating order: the geometric mean of the ratios,
    * so the advantage of running second cancels between the two orders. */
  def overhead(pairs: Seq[(Double, Double)]): Double = {
    val logs = pairs.collect { case (u, t) if u > 0 && t > 0 => math.log(t / u) }
    if (logs.isEmpty) 0.0 else math.exp(logs.sum / logs.size) - 1
  }
}

/** What a workload's timed loop produced. `samples` are per-operation wall
  * seconds of completed operations; `items` is what the throughput metric
  * counts (queries or documents); `checks` hands the Python checker what it
  * needs (oracle SQL per output key, expected counts). */
final case class RunResult(samples: Seq[Double], items: Long, timedWall: Double,
    errors: Seq[String], checks: Map[String, String])

/** One workload: set-up is `generate` then `warmUp`; `run` is the timed
  * loop (traced when given a tracer); `layers` turns a traced run's spans
  * and counters into per-layer metrics, and may run untimed probes. */
trait Workload {
  def generate(spark: SparkSession, dir: String): Unit
  def warmUp(spark: SparkSession, dir: String): Unit
  def run(spark: SparkSession, dir: String, seconds: Double, tracer: Option[Tracer],
      out: Outputs, heap: Heap): RunResult
  def layers(spark: SparkSession, dir: String, t: Tracer): Map[String, Double]

  protected def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Live-heap sampling: once the listener bus is idle, a full collection,
  * then old-generation occupancy, so the figure counts live data and not
  * how far the collector lagged. Taken after set-up, after each pass of the
  * workload's loop where it has passes, and at the end — never inside a
  * timed call. */
final class Heap(sc: org.apache.spark.SparkContext) {
  private var peak = 0.0

  def sample(): Unit = {
    // the first collection lets Spark's context cleaner drop the shuffle
    // and broadcast blocks of calls that are gone; the second one counts
    // what is still live after it has
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    System.gc()
    Thread.sleep(500)
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = old.map(_.getUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    peak = math.max(peak, used / 1048576.0)
  }

  def peakMb: Double = peak
}

/** Operation outputs, one JSON line each: `{"key", "op", "cols", "rows"}`.
  * Doubles are written with all their digits; timestamps as epoch
  * microseconds. */
final class Outputs(path: String) {
  private val w: BufferedWriter = Files.newBufferedWriter(Paths.get(path))

  def write(key: String, op: Int, schema: org.apache.spark.sql.types.StructType,
      rows: Array[Row]): Unit = {
    w.write("{\"key\":"); w.write(Json.str(key))
    w.write(",\"op\":"); w.write(op.toString)
    w.write(",\"cols\":[")
    w.write(schema.fields.map(f => s"[${Json.str(f.name)},${Json.str(f.dataType.typeName)}]")
      .mkString(","))
    w.write("],\"rows\":[")
    var first = true
    rows.foreach { r =>
      if (!first) w.write(",")
      first = false
      w.write("[")
      var i = 0
      while (i < r.length) {
        if (i > 0) w.write(",")
        w.write(Json.cell(r.get(i)))
        i += 1
      }
      w.write("]")
    }
    w.write("]}\n")
  }

  def close(): Unit = w.close()
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "\"NaN\"" else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
      else java.lang.Double.toString(d)
    case f: Float => cell(f.toDouble)
    case x @ (_: Int | _: Long | _: Short | _: Byte) => x.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case t: java.sql.Timestamp =>
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => str(d.toString)
    case d: java.time.LocalDate => str(d.toString)
    case d: java.math.BigDecimal => d.toPlainString
    case a: Array[Byte] => a.map(b => (b & 0xff).toString).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
