package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingDedup

/** The `streaming` layer, measured in the traced `corpus_curation` run. One
  * producer feeds fixed-size micro-batches of a seeded document stream
  * through `StreamingDedup.nearDupForeachBatchTtl`, the bounded-state
  * production path, with its durable state directory, so every batch writes
  * state. Later batches repeat a fixed share of earlier documents under
  * fresh ids; some repeats fall inside the TTL window (dropped) and some
  * after it (admitted again).
  *
  * The phase sends a fixed number of batches, 2 × TTL + 4, so state deltas
  * expire and repeats are admitted again on every run, and the state
  * figures do not depend on how fast a batch is. */
final class StreamIngest(seed: Long) {
  import StreamIngest._

  private var feed: IndexedSeq[IndexedSeq[(Long, String)]] = IndexedSeq.empty

  /** Novel documents draw 20–60 tokens from a 5,000-word vocabulary, so two
    * novel documents never share a band key; a repeat is an exact copy of a
    * document from the previous `2 × Ttl` batches. */
  def generate(spark: SparkSession, dir: String): Unit = {
    val rnd = new Random(seed)
    val texts = mutable.ArrayBuffer.empty[String] // every earlier batch, in order
    val batches = mutable.ArrayBuffer.empty[IndexedSeq[(Long, String)]]
    for (b <- 0 until Batches) {
      val from = math.max(0L, b - 2 * Ttl).toInt * BatchDocs
      val used = mutable.Set.empty[String]
      val batch = (0 until BatchDocs).map { i =>
        val text =
          if (b > 0 && rnd.nextDouble() < RepeatShare) {
            val t = texts(from + rnd.nextInt(texts.length - from))
            if (used(t)) novel(rnd) else t
          } else novel(rnd)
        used += text
        (b.toLong * BatchDocs + i, text)
      }
      texts ++= batch.map(_._2)
      batches += batch
    }
    import spark.implicits._
    val docs = batches.flatten.toSeq.map { case (id, text) =>
      (id, text, Langs((id % Langs.size).toInt), s"src${id % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    Inputs.write(spark, dir, Seq("documents" -> docs))
  }

  private def novel(rnd: Random): String =
    Seq.fill(20 + rnd.nextInt(41))(s"w${rnd.nextInt(5000)}").mkString(" ")

  /** The feed as the producer sends it, read back from the written table. */
  private def load(spark: SparkSession, dir: String): Unit = {
    val rows = graft.sources.Tables.testTable(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    feed = rows.grouped(BatchDocs).map(_.toIndexedSeq).toIndexedSeq
  }

  final class Stream(spark: SparkSession, stateDir: String) {
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val admitted = mutable.ArrayBuffer.empty[Array[Long]]
    private val step = StreamingDedup.nearDupForeachBatchTtl(
      "text", "doc_id", ttlBatches = Ttl, shingleSize = ShingleSize,
      stateDir = Some(stateDir)) { kept =>
      admitted += kept.select("doc_id").collect().map(_.getLong(0))
    }
    val query: StreamingQuery = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append").foreachBatch(step).start()

    /** Sends one batch and waits until it is processed. */
    def send(batch: Seq[(Long, String)]): Unit = {
      input.addData(batch)
      query.processAllAvailable()
    }
    def stop(): Unit = query.stop()
  }

  /** A few batches on a stream of their own, so the measured stream starts
    * with compiled code. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    load(spark, dir)
    val s = new Stream(spark, s"$dir/warmup-state")
    try feed.take(WarmUpBatches).foreach(s.send) finally s.stop()
  }

  private val progress = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val stateSizes = mutable.ArrayBuffer.empty[(Double, Double)]
  private var admittedFrac = 0.0

  /** Sends the whole feed, each batch in a `streaming.batch` span, then
    * checks every batch's admitted ids against [[recompute]]. */
  def run(spark: SparkSession, dir: String, t: Tracer): StreamCheck = {
    val stateDir = s"$dir/state"
    val s = new Stream(spark, stateDir)
    val errors = mutable.ArrayBuffer.empty[String]
    var b = 0
    try {
      while (b < feed.size) {
        t.span("streaming.batch")(s.send(feed(b)))
        Option(s.query.lastProgress).foreach { p =>
          val d = p.durationMs
          def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
          progress += ((ms("addBatch") / 1000, ms("queryPlanning") / 1000,
            (ms("walCommit") + ms("commitOffsets")) / 1000))
        }
        stateSizes += liveState(spark, stateDir, b)
        b += 1
      }
    } catch {
      case e: Throwable => errors += e.toString.takeWhile(_ != '\n').take(300)
    } finally s.stop()
    val sent = feed.take(b)
    val got = s.admitted.toIndexedSeq
    val (expected, readmitted) = recompute(sent)
    val bad = sent.indices.count(i => i >= got.size || got(i).sorted.toSeq != expected(i))
    admittedFrac = got.map(_.length).sum.toDouble / sent.map(_.size).sum.max(1)
    StreamCheck(feed.size, bad + feed.size - b, readmitted, errors.toSeq)
  }

  /** Band-key rows and bytes in the live TTL window, from the state
    * directory the operator writes: the delta of every batch inside the
    * window. */
  private def liveState(spark: SparkSession, stateDir: String, batch: Int): (Double, Double) = {
    val live = Option(new File(stateDir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("delta=") &&
        f.getName.stripPrefix("delta=").toLongOption.exists(_ > batch - Ttl))
    if (live.isEmpty) (0.0, 0.0)
    else {
      def bytes(f: File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L) else f.length
      val rows = spark.read.parquet(live.map(_.getPath): _*).count()
      (rows.toDouble, live.map(bytes).sum.toDouble)
    }
  }

  def layers: Map[String, Double] = {
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "streaming.add_batch_s" -> mean(progress.map(_._1).toSeq),
      "streaming.planning_s" -> mean(progress.map(_._2).toSeq),
      "streaming.commit_s" -> mean(progress.map(_._3).toSeq),
      "streaming.state_rows" -> mean(stateSizes.map(_._1).toSeq),
      "streaming.state_bytes" -> mean(stateSizes.map(_._2).toSeq),
      "streaming.admitted_frac" -> admittedFrac)
  }
}

/** What the stream phase's check found: batches the feed holds, batches
  * whose admitted ids differ from the recomputation or that were never
  * sent, how many documents
  * the recomputation admits again after their TTL ran out, and errors. */
final case class StreamCheck(batches: Int, mismatched: Int, readmitted: Int,
    errors: Seq[String])

object StreamIngest {
  val BatchDocs = 64
  val Ttl = 8L
  val Batches: Int = (2 * Ttl + 4).toInt
  val RepeatShare = 0.25
  val ShingleSize = 3
  val WarmUpBatches = 4
  private val Langs = Seq("en", "de", "fr", "es", "zh")

  /** Expected admissions, recomputed on exact text without MinHash: a
    * document is admitted unless the same text was sighted (admitted or
    * not) within the last `Ttl` batches, or earlier in its own batch under
    * a smaller id. Every sighting refreshes the text's window. Also returns
    * how many admissions are repeats whose window had run out. */
  def recompute(batches: Seq[Seq[(Long, String)]]): (IndexedSeq[Seq[Long]], Int) = {
    val lastSeen = mutable.Map.empty[String, Long]
    var readmitted = 0
    val kept = batches.zipWithIndex.map { case (batch, b) =>
      val inBatch = mutable.Set.empty[String]
      val kept = batch.sortBy(_._1).flatMap { case (id, text) =>
        val live = lastSeen.get(text).exists(_ > b - Ttl)
        val dupWithin = inBatch(text)
        inBatch += text
        if (live || dupWithin) None
        else {
          if (lastSeen.contains(text)) readmitted += 1
          Some(id)
        }
      }
      batch.foreach { case (_, text) => lastSeen(text) = b.toLong }
      kept.sorted
    }.toIndexedSeq
    (kept, readmitted)
  }
}
