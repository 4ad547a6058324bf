package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval. `parent` is the span open when this one started
  * (-1 at the root); spans of one operation share `trace`. Times are
  * `System.nanoTime` for durations and epoch milliseconds for matching
  * listener events, whose timestamps are wall-clock. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters the listener accumulates per stage, from task-end events. */
final class StageCounters {
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

final case class JobRecord(jobId: Int, startMs: Long, span: Option[Int],
    callSite: String, stageIds: Seq[Int]) {
  @volatile var endMs: Long = startMs
}

/** Span recorder plus Spark listener. Everything is kept in memory and read
  * once, after the run.
  *
  * Attribution: opening a span sets the `perfbench.span` local property on
  * the calling thread, so every job submitted inside it (threads spawned by
  * the program inherit local properties) carries the innermost span id.
  * Jobs without the property fall back to the innermost span whose interval
  * holds the job's start. Stages and tasks follow their job. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Int, Long, Long)] = Nil
  private var nextId = 0
  private var nextTrace = 0

  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  val stages = new ConcurrentHashMap[Int, StageCounters]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // SQL execution id -> call site of the action that started its root
  private val executionSite = new ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toInt)
      // jobs Spark submits from its own threads (broadcasts, adaptive
      // stages) carry no program frames; their SQL execution's root does
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSite.get(id.toLong)))
        .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
      jobs.put(e.jobId, JobRecord(e.jobId, e.time, span, site, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val root: Long = x.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(x.executionId)
        executionSite.put(x.executionId,
          Option(executionSite.get(root)).getOrElse(x.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(e.stageId)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  sc.addSparkListener(listener)

  // listener callbacks run on the single listener-bus thread
  private def counters(stage: Int): StageCounters =
    stages.computeIfAbsent(stage, _ => new StageCounters)

  /** Runs `body` inside a span; a span opened with no span open starts a
    * new trace. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val trace = stack.headOption.map(_._3).getOrElse { nextTrace += 1; nextTrace }
    val prevProp = sc.getLocalProperty(Tracer.Key)
    stack = (id, name, trace, System.nanoTime(), System.currentTimeMillis()) :: stack
    sc.setLocalProperty(Tracer.Key, id.toString)
    try body
    finally {
      val (_, _, _, t0, ms0) = stack.head
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, prevProp)
      spans += Span(id, name, parent, trace, t0, System.nanoTime(), ms0,
        System.currentTimeMillis())
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain.drain(sc)

  def allSpans: Seq[Span] = spans.toSeq

  /** Span each job belongs to. */
  def jobSpan(j: JobRecord): Option[Int] = j.span.orElse {
    spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id)
  }

  /** Every span id under `root`, itself included. */
  def subtree(root: Int): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      children.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }

  /** Jobs attributed to any span in `ids`. */
  def jobsIn(ids: Set[Int]): Seq[JobRecord] =
    jobs.values.asScala.filter(j => jobSpan(j).exists(ids)).toSeq

  /** Counters of the stages these jobs ran (a stage shared by several jobs
    * counts for the job that submitted it first). */
  def stageCounters(js: Seq[JobRecord]): Seq[StageCounters] = {
    val ids = js.map(_.jobId).toSet
    js.flatMap(_.stageIds).distinct
      .filter(s => Option(stageJob.get(s)).exists(j => ids(j)))
      .flatMap(s => Option(stages.get(s)))
  }

  /** Self time: span duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double =
    (s.endNs - s.startNs -
      Tracer.union(spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq)) / 1e9

  /** Writes every span as one JSON line, with the counters of the jobs
    * attributed to it directly (not to its children). */
  def writeSpans(path: String): Unit = {
    val bySpan = jobs.values.asScala.toSeq.groupBy(jobSpan)
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.foreach { s =>
      val js = bySpan.getOrElse(Some(s.id), Nil)
      val st = stageCounters(js)
      w.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":${s.trace},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${js.size},""" +
        s""""tasks":${st.map(_.tasks).sum},"task_ms":${st.map(_.taskMs).sum},""" +
        s""""gc_ms":${st.map(_.gcMs).sum},"input_bytes":${st.map(_.inputBytes).sum},""" +
        s""""shuffle_read_bytes":${st.map(_.shuffleReadBytes).sum},""" +
        s""""shuffle_write_bytes":${st.map(_.shuffleWriteBytes).sum},""" +
        s""""spill_bytes":${st.map(_.spillBytes).sum}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length covered by a set of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
