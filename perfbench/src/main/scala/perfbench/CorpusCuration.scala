package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge

import graft.functions.{MediaFunctions, SignatureFunctions, StringFunctions}
import graft.multimodal.Multimodal
import graft.ops.{Dedup, MediaPipeline, Pipeline, TextAnalysis}
import graft.sources.Tables

/** Repeated passes of the multimodal training-data flagship,
  * `Pipeline.prepareMultimodalTraining`, over a generated corpus: clean →
  * exact dedup → MinHash near-dup → connected components → canonicalize,
  * media decode, quality and perceptual dedup, then packing. Per-row
  * kernels, shuffles and eager job chains dominate; fixed planning cost is a
  * small share, the opposite balance to `weighted_analytics`.
  *
  * The call and its settings are those of the repository's
  * `q156_prepare_multimodal` query, with one difference: each pass owns a
  * freeze chain and releases it after collecting, the documented contract
  * for callers that run the pipeline repeatedly in one application.
  *
  * Every pass's text columns are checked against the `q81_prepare_training`
  * oracle; its media columns have no oracle at this corpus size (the SQL
  * replay of decoding is superlinear in the corpus), so after the timed
  * loop one untimed pass over a small corpus of the same seed is checked in
  * every column against the `q156_prepare_multimodal` oracle, and the
  * passes are compared with each other. */
final class CorpusCuration(seed: Long) extends Workload {
  val Output = "q156_prepare_multimodal"
  /** The small corpus's subdirectory, which is also its output key suffix. */
  val CheckDir = "check"
  private val ShingleSize = 1

  def generate(spark: SparkSession, dir: String): Unit = {
    Inputs.write(spark, dir, Seq("documents" -> Inputs.documents(spark, seed)))
    Inputs.write(spark, s"$dir/$CheckDir",
      Seq("documents" -> Inputs.documents(spark, seed, Inputs.CheckBaseDocs)))
  }

  private def flagship(docs: DataFrame, media: DataFrame,
      chain: DatasetBridge.FreezeChain): DataFrame =
    Pipeline.prepareMultimodalTraining(
      docs, "text", "doc_id", media, "payload", "media_id", "kind", "owner_doc",
      minQuality = 0.5, minTokens = 20L,
      nearDupThreshold = 1.0, shingleSize = ShingleSize,
      image = MediaPipeline.ImagePolicy(minDim = 2L, maxAspect = 2.2,
        minDynRange = 0L, lumaBounds = (60.0, 200.0)),
      audio = MediaPipeline.AudioPolicy(minSampleRate = 16000L,
        maxChannels = 1L, minDurationS = 0.0, minRms = 0.0, clipPeak = 40000L),
      video = MediaPipeline.VideoPolicy(minDurationMs = 100L,
        maxDurationMs = 20000L, minDim = 240L, maxAspect = 2.2, maxTracks = 1L),
      maxHamming = 3, capacity = 2048L, nStreams = 8, chain = Some(chain))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("n_tokens"), col("n_images"), col("n_audio"), col("n_video"),
        col("stream"), col("pack"), col("pack_id"))
      .orderBy("doc_id")

  /** One pass, input read to collected result. With a tracer, each layer
    * call runs in its own span. */
  private def pass(spark: SparkSession, dir: String, t: Option[Tracer]): (DataFrame, Array[Row]) = {
    def sp[A](name: String)(body: => A): A = t.fold(body)(_.span(name)(body))
    val chain = new DatasetBridge.FreezeChain
    try {
      val docs = sp("sources.read")(Tables.testTable(spark, dir, "documents"))
      val media = sp("multimodal.media")(Multimodal.multimodalMediaFromDocuments(docs)
        .withColumn("owner_doc", expr("media_id div 100")))
      val df = sp("ops.flagship")(flagship(docs, media, chain))
      (df, sp("ops.collect")(df.collect()))
    } finally chain.releaseAll()
  }

  def warmUp(spark: SparkSession, dir: String): Unit = pass(spark, dir, None)

  private var docsIn = 0L
  private val tracedPasses = mutable.ArrayBuffer.empty[Int]
  private val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
  private var keptRows = 0L

  def run(spark: SparkSession, dir: String, seconds: Double, tracer: Option[Tracer],
      out: Outputs, heap: Heap): RunResult = {
    docsIn = Tables.testTable(spark, dir, "documents").count()
    val samples = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var spent = 0.0
    var n = 0
    def plain(): Double = {
      val ((df, rows), wall) = timed(pass(spark, dir, None))
      out.write(Output, n, df.schema, rows)
      keptRows = rows.length
      wall
    }
    // a traced run needs both orders of the untraced/traced pair
    while (spent < seconds || (tracer.isDefined && pairs.size < 2)) {
      try {
        val wall = tracer match {
          case None => plain()
          case Some(t) =>
            val first = n % 2 == 0
            val u1 = if (first) plain() else 0.0
            val ((df, rows), tw) = timed(t.span("pass")(pass(spark, dir, Some(t))))
            tracedPasses += t.allSpans.last.id
            out.write(Output, n, df.schema, rows)
            val u2 = if (!first) plain() else 0.0
            pairs += ((u1 + u2, tw))
            spent += tw
            u1 + u2
        }
        samples += wall
        spent += wall
      } catch {
        case e: Throwable =>
          errors += e.toString.takeWhile(_ != '\n').take(300)
          spent += 1.0
      }
      n += 1
      heap.sample()
    }
    try {
      val (df, rows) = pass(spark, s"$dir/$CheckDir", None)
      out.write(s"$Output@$CheckDir", n, df.schema, rows)
    } catch {
      case e: Throwable => errors += s"check pass: ${e.toString.takeWhile(_ != '\n').take(300)}"
    }
    RunResult(samples.toSeq, docsIn, samples.sum, errors.toSeq,
      Map(Output -> graft.SparkEntry.oracleSql("q81_prepare_training"),
        s"$Output@$CheckDir" -> graft.SparkEntry.oracleSql(Output)))
  }

  /** Which `ops` stage of the flagship a job belongs to, from the first
    * program frame of its call site that names one: media curation, the
    * clean + exact-dedup materialization (the kept-corpus freeze in
    * `canonicalCorpus`), near-dup clustering and canonicalization, or
    * packing. Jobs the harness submits itself (the final collect, which
    * runs the lazily composed join + packing tail) count as `pack`. */
  private def opOf(callSite: String): String = {
    val frames = callSite.split("\n").map(_.trim.stripPrefix("at ")).filter(_.startsWith("graft.ops."))
    frames.iterator.map { f =>
      if (f.startsWith("graft.ops.Media") || f.contains("prepareMultimodalTraining$2")) "media"
      else if (f.startsWith("graft.ops.Dedup") || f.startsWith("graft.ops.Selection") ||
        f.contains(".canonicalize(")) "canonicalize"
      else if (f.startsWith("graft.ops.Packing")) "pack"
      else if (f.contains("cleanCorpus") || f.contains("canonicalCorpus") ||
        f.startsWith("graft.ops.TextAnalysis")) "clean"
      else ""
    }.find(_.nonEmpty).getOrElse(if (frames.isEmpty) "pack" else "other")
  }

  def layers(spark: SparkSession, dir: String, t: Tracer): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors().toDouble
    val byId = t.allSpans.map(s => s.id -> s).toMap
    val p = tracedPasses.size.max(1).toDouble
    val passJobs = tracedPasses.map(r => r -> t.jobsIn(t.subtree(r)))
    val allJobs = passJobs.flatMap(_._2).toSeq
    val stages = t.stageCounters(allJobs)
    val passWall = tracedPasses.map(byId(_).seconds).sum
    // per op: the time at least one of its jobs was running, per pass
    def opSeconds(op: String): Double = passJobs.map { case (_, js) =>
      Tracer.union(js.filter(j => opOf(j.callSite) == op).map(j => (j.startMs, j.endMs)))
    }.sum / 1000.0 / p

    val k = kernels(spark, dir, t)
    streamPhase(spark, dir, t) ++ Map(
      "ops.clean_s" -> opSeconds("clean"),
      "ops.canonicalize_s" -> opSeconds("canonicalize"),
      "ops.media_s" -> opSeconds("media"),
      "ops.pack_s" -> opSeconds("pack"),
      "ops.jobs" -> allJobs.size / p,
      "ops.tasks" -> stages.map(_.tasks).sum / p,
      "ops.core_util" -> (if (passWall > 0) stages.map(_.taskMs).sum / 1000.0 / (passWall * cores) else 0.0),
      "ops.shuffle_bytes" -> stages.map(_.shuffleWriteBytes).sum / p,
      "ops.spill_bytes" -> stages.map(_.spillBytes).sum / p,
      "ops.kept_frac" -> keptRows.toDouble / docsIn.max(1),
      "trace_overhead_frac" -> Main.overhead(pairs.toSeq)
    ) ++ k
  }

  /** `streaming`: a seeded document feed through the TTL near-dup
    * operator, traced the same way, so the streaming layer is measured on a
    * run of this workload. Its admission check counts toward this run's
    * failures, and so does a feed that never outlives the TTL window. */
  private def streamPhase(spark: SparkSession, dir: String, t: Tracer): Map[String, Double] = {
    val s = new StreamIngest(seed)
    val d = s"$dir/stream"
    s.generate(spark, d)
    s.warmUp(spark, d)
    val c = s.run(spark, d, t)
    val bad = c.mismatched + c.errors.size + (if (c.readmitted == 0) 1 else 0)
    s.layers ++ Map(
      "check.stream_batches" -> c.batches.toDouble,
      "check.stream_mismatched_batches" -> bad.min(c.batches).toDouble)
  }

  /** `functions` and `multimodal`: each hot kernel projected alone over the
    * workload's input, held in memory and spread over every core so the
    * figure is the kernel's and not the scan's. Median of three timings. */
  private def kernels(spark: SparkSession, dir: String, t: Tracer): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    def hold(df: DataFrame): DataFrame = {
      val h = df.repartition(cores).persist()
      h.queryExecution.toRdd.count()
      h
    }
    def median3(name: String)(body: => Unit): Double = {
      val ts = (1 to 3).map(_ => timed(t.span(name)(body))._2).sorted
      ts(1)
    }
    val docs = hold(Tables.testTable(spark, dir, "documents").select("doc_id", "text"))
    val extractS = median3("multimodal.extract") {
      Multimodal.multimodalMediaFromDocuments(docs).queryExecution.toRdd.count()
    }
    val media = hold(Multimodal.multimodalMediaFromDocuments(docs))
    val nDocs = docs.count().toDouble
    def run(df: DataFrame, c: org.apache.spark.sql.Column, name: String): Double =
      median3(name)(df.select(c.as("k")).queryExecution.toRdd.count())
    val minhashS = run(docs,
      SignatureFunctions.minhashMeta(StringFunctions.wordNGrams(col("text"), ShingleSize), 32),
      "functions.minhash")
    val qualityS = run(docs, TextAnalysis.qualityScore(col("text")), "functions.quality")
    val images = media.where(col("kind") === "image")
    val audio = media.where(col("kind") === "audio")
    val imageDecodeS = run(images, MediaFunctions.imagePixelStats(col("payload")), "functions.image_decode")
    val audioDecodeS = run(audio, MediaFunctions.pcmStats(col("payload")), "functions.audio_decode")
    val phashS = run(images, MediaFunctions.imageAHash64(col("payload")), "functions.phash")
    val Row(nImg: Long, imgBytes: Long, imgFail: Long) = images.agg(count(lit(1)),
      coalesce(sum(length(col("payload"))), lit(0L)),
      coalesce(sum(when(MediaFunctions.imagePixelStats(col("payload")).isNull, 1L)), lit(0L))).head()
    val Row(nAud: Long, audBytes: Long, audFail: Long) = audio.agg(count(lit(1)),
      coalesce(sum(length(col("payload"))), lit(0L)),
      coalesce(sum(when(MediaFunctions.pcmStats(col("payload")).isNull, 1L)), lit(0L))).head()
    // LSH candidate pairs versus verified near-duplicate pairs, in the
    // flagship's shingle setting
    val cand = t.span("ops.minhash_candidates")(
      Dedup.minhashCandidates(docs, "text", "doc_id", shingleSize = ShingleSize,
        threshold = 1.0).count())
    val verified = t.span("ops.minhash_dedup")(
      Dedup.minhashDedup(docs, "text", "doc_id", shingleSize = ShingleSize,
        threshold = 1.0).count())
    media.unpersist()
    docs.unpersist()
    Map(
      "functions.minhash_rows_per_s" -> nDocs / minhashS,
      "functions.quality_rows_per_s" -> nDocs / qualityS,
      "functions.image_decode_mb_per_s" -> imgBytes / 1048576.0 / imageDecodeS,
      "functions.audio_decode_mb_per_s" -> audBytes / 1048576.0 / audioDecodeS,
      "functions.phash_rows_per_s" -> nImg / phashS,
      "multimodal.decode_fail_frac" -> (imgFail + audFail).toDouble / (nImg + nAud).max(1),
      "multimodal.extract_s" -> extractS,
      "ops.pair_yield" -> (if (cand > 0) verified.toDouble / cand else 0.0))
  }
}
