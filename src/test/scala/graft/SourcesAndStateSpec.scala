package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.WeightedDataFrame
import graft.sources.Tables
import graft.streaming.StreamingWeighted

class SourcesSpec extends SparkSpecBase {

  test("testTable reads every driver table; events.ts normalizes to timestamp") {
    val dir = "/root/testdata/sf0.001"
    for (t <- Seq("lineitem", "orders", "documents", "embeddings", "events")) {
      assert(Tables.testTable(spark, dir, t).count() > 0, t)
    }
    val events = Tables.testTable(spark, dir, "events")
    assert(events.schema("ts").dataType.typeName == "timestamp")
    // the values must be REAL 2024-epoch instants — the silent failure
    // mode of a wrong physical-type branch is a 1000x-shrunk epoch, so pin
    // the actual year, not just the column type
    val yr = events.select(org.apache.spark.sql.functions.year(
      org.apache.spark.sql.functions.col("ts"))).distinct().collect().map(_.getInt(0))
    assert(yr.forall(y => y >= 2023 && y <= 2025), s"bogus ts years: ${yr.toSeq}")
  }

  test("testTable refuses an events.ts type it can't classify") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-badevents").toString
    Seq((1L, "2024-01-01", 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.testTable(spark, dir, "events").count()
    }
    assert(e.getMessage.contains("unexpected type"))
  }

  /** Spark jobs submitted by `body` from this thread (counted through the
    * job group, so jobs of other threads never count). */
  private def jobsOf[A](session: org.apache.spark.sql.SparkSession)(body: => A): (A, Seq[String]) = {
    val (out, jobs, _) = jobRecord(session)(body)
    (out, jobs)
  }

  /** [[jobsOf]], plus the ids of those jobs that ended in failure. */
  private def jobRecord[A](session: org.apache.spark.sql.SparkSession)(
      body: => A): (A, Seq[String], Seq[Int]) = {
    import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = session.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.put(e.jobId, s"job ${e.jobId}: ${e.stageInfos.map(_.details).mkString(" | ")}"): Unit
      // the bus delivers a job's start before its end
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.containsKey(e.jobId) && e.jobResult != JobSucceeded) failed.add(e.jobId): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graft test")
    try {
      val out = body
      org.apache.spark.TestListenerBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq.sortBy(_._1).map(_._2), failed.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `df` as ONE parquet file at `path` (the test tables' layout), via a
    * single-partition Spark write whose one part file is moved into place. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val out = tempDir("graft-single")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The two table layouts a reader meets: one file (the test tables)
    * and a Spark-written directory of part files. */
  private val layouts: Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)] = Seq(
    "single file" -> (writeSingleFile _),
    "spark directory" -> ((df, path) => df.write.mode("overwrite").parquet(path)))

  test("reader: a table rewritten with an added column is read fresh") {
    import spark.implicits._
    for ((layout, write) <- layouts) {
      val dir = tempDir("graft-rewrite")
      write(Seq((1L, 2.0)).toDF("a", "b"), s"$dir/t.parquet")
      assert(Tables.testTable(spark, dir, "t").columns.toSeq == Seq("a", "b"), layout)
      write(Seq((3L, 4.0, "x")).toDF("a", "b", "c"), s"$dir/t.parquet")
      val again = Tables.testTable(spark, dir, "t")
      assert(again.columns.toSeq == Seq("a", "b", "c"), layout)
      assert(again.collect().toSeq == Seq(Row(3L, 4.0, "x")), layout)
    }
  }

  test("reader: a repeat read of an unchanged table submits no Spark job") {
    import spark.implicits._
    for ((layout, write) <- layouts) {
      val dir = tempDir("graft-repeat")
      write(Seq((1L, 2.0), (2L, 3.0)).toDF("a", "b"), s"$dir/t.parquet")
      // the first read infers (a footer-reading job); this also shows the
      // counter sees the reader's jobs at all
      val (_, first) = jobsOf(spark)(Tables.read(spark, s"$dir/t.parquet"))
      assert(first.nonEmpty, s"$layout: first read ran no inference job")
      val (df, repeat) = jobsOf(spark)(Tables.read(spark, s"$dir/t.parquet"))
      assert(repeat.isEmpty, s"$layout: repeat read ran jobs:\n${repeat.mkString("\n")}")
      assert(df.schema.map(f => f.name -> f.dataType) == Seq("a" -> LongType, "b" -> DoubleType))
      assert(df.count() == 2)
    }
  }

  /** A fresh copy of a resource fixture's `events.parquet`; returns its dir. */
  private def fixtureCopy(resource: String): String = {
    val dir = tempDir("graft-events")
    java.nio.file.Files.copy(getClass.getResourceAsStream(s"/$resource/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("reader: a newSession() infers its own schema; parquet confs are part of the stamp") {
    // written outside Spark, so the footer carries no Spark schema and the
    // inferred ts type follows the session's inferTimestampNTZ conf
    val path = s"${fixtureCopy("events_micros")}/events.parquet"
    assert(Tables.read(spark, path).schema("ts").dataType == TimestampNTZType)
    val other = spark.newSession()
    val (df, jobs) = jobsOf(other)(Tables.read(other, path))
    assert(jobs.nonEmpty, "a new session reused another session's schema")
    assert(df.sparkSession eq other)
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.read(other, path).schema("ts").dataType == TimestampType)
    assert(Tables.read(spark, path).schema("ts").dataType == TimestampNTZType)
  }

  /** (event_id, epoch micros of ts) per row of an `events` read. */
  private def micros(e: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    assert(e.schema("ts").dataType == TimestampType)
    e.select(col("event_id"), unix_micros(col("ts"))).orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** `events` read from a fresh copy of a resource fixture, first and
    * cached read: (event_id, epoch micros of ts) per row. */
  private def eventsMicros(resource: String): Seq[Seq[(Long, Long)]] = {
    val dir = fixtureCopy(resource)
    val first = micros(Tables.testTable(spark, dir, "events"))
    val (cached, jobs) = jobsOf(spark)(Tables.testTable(spark, dir, "events"))
    assert(jobs.isEmpty, s"cached events read ran jobs:\n${jobs.mkString("\n")}")
    Seq(first, micros(cached))
  }

  /** Both fixtures' epochs in microseconds (`tools/events_fixtures.py`). */
  private val fixtureMicros = Seq(1L -> 1704067200123456L, 2L -> 1704067200123456L,
    3L -> 1735689599999999L, 4L -> 86400000000L)

  test("events.ts TIMESTAMP(NANOS): integer ns→µs on the first and the cached read") {
    // row 2 is ...456999 ns: double division would round it up to ...457 µs
    eventsMicros("events_nanos").foreach(got => assert(got == fixtureMicros))
  }

  test("events.ts TIMESTAMP(NANOS): the first read submits no failed Spark job") {
    val dir = fixtureCopy("events_nanos")
    val (got, jobs, failed) = jobRecord(spark)(micros(Tables.testTable(spark, dir, "events")))
    assert(failed.isEmpty, s"failed jobs ${failed.mkString(", ")} of:\n${jobs.mkString("\n")}")
    assert(jobs.nonEmpty, "the listener saw no job of the read at all")
    assert(got == fixtureMicros)
  }

  test("events.ts TIMESTAMP(MICROS) is never divided by 1000") {
    eventsMicros("events_micros").foreach(got => assert(got == fixtureMicros))
  }

  test("writeShards: deterministic membership, one file per shard, sorted within") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val docs = Tables.testTable(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "n_chars")
    val shardCol = Tables.writeShards(docs, dir, Seq("doc_id"), nShards = 4,
      sortCols = Seq("n_chars"))
    val back = Tables.read(spark, dir)
    assert(back.count() == docs.count())
    // membership is the documented stable hash — recomputable by anyone
    val bad = back.where(
      col(shardCol) =!= pmod(xxhash64(col("doc_id")), lit(4L))).count()
    assert(bad == 0)
    // exactly one data file per shard directory (listFiles is null for a
    // missing dir — fail with a message, not an NPE, if a shard is empty)
    def parquetFiles(p: String) =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
    for (s <- 0 until 4) {
      val files = parquetFiles(s"$dir/$shardCol=$s")
      assert(files.length == 1, s"shard $s has ${files.length} files")
    }
    // same assignment regardless of input partitioning
    val again = java.nio.file.Files.createTempDirectory("graft-shards2").toString
    Tables.writeShards(docs.repartition(7), again, Seq("doc_id"), nShards = 4)
    val a = Tables.read(spark, dir).select("doc_id", shardCol)
    val b = Tables.read(spark, again).select("doc_id", shardCol)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // within-shard files are length-sorted (read one file raw, check order)
    val f0 = parquetFiles(s"$dir/$shardCol=0")
    assert(f0.nonEmpty, "shard 0 directory missing or empty")
    val lens = spark.read.parquet(f0.head.toString).select("n_chars")
      .collect().map(_.getLong(0)).toSeq
    assert(lens == lens.sorted, "shard 0 not sorted by n_chars")
  }

  test("partitioned sink round-trips with partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val li = Tables.testTable(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_returnflag", "l_orderkey", "l_quantity")
    Tables.write(li, dir, partitionBy = Seq("l_returnflag"))
    val back = Tables.read(spark, dir)
    assert(back.count() == li.count())
    // a filter on the partition column must prune to one directory
    val pruned = back.where(col("l_returnflag") === "R")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == li.where(col("l_returnflag") === "R").count())
    assert(scan.contains("PartitionFilters") || scan.contains("l_returnflag"))
  }

  test("bucketed tables join WITHOUT an exchange (co-located join)") {
    // idempotent across test runs: the managed-table LOCATION outlives the
    // session-scoped metadata, and saveAsTable refuses to reuse it
    for (t <- Seq("li_bkt", "ord_bkt")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val li = Tables.testTable(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.testTable(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Tables.writeBucketed(li, "li_bkt", Seq("l_orderkey"), 4)
    Tables.writeBucketed(ord, "ord_bkt", Seq("l_orderkey"), 4)
    val a = Tables.readBucketed(spark, "li_bkt")
    val b = Tables.readBucketed(spark, "ord_bkt")
    // merge hint: a broadcast plan would hide the co-location being tested
    val joined = a.hint("merge").join(b, "l_orderkey")
    assert(joined.count() == li.join(ord, "l_orderkey").count())
    val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"),
      s"bucketed same-key same-count join must not shuffle either side:\n$plan")
  }

  test("writeBucketed records catalog stats; a filtered dim flips to broadcast from stats, not a hint") {
    import spark.implicits._
    for (t <- Seq("dim_stats", "dim_nostats")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    // dim big enough that its FILE size exceeds the broadcast threshold;
    // the g=7 slice is ~1% — only a selectivity ESTIMATE (CBO + column
    // stats) can see the filtered size at plan time
    val dim = spark.range(200000).select(col("id").as("k"), (col("id") % 97).as("g"),
      sha2(concat(lit("payload"), col("id").cast("string")), 256).as("payload"))
    Tables.writeBucketed(dim, "dim_stats", Seq("k"), 4, statsCols = Seq("g"))
    dim.write.mode("overwrite").format("parquet").saveAsTable("dim_nostats")
    // catalog statistics exist: table-level rowCount and column NDV
    val desc = spark.sql("DESCRIBE EXTENDED dim_stats").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("Statistics").exists(_.contains("rows")),
      s"expected analyzed table stats, got ${desc.get("Statistics")}")
    val colDesc = spark.sql("DESCRIBE EXTENDED dim_stats g").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(colDesc.get("distinct_count").exists(v => v != null && v != "NULL"),
      s"expected NDV for g, got ${colDesc.get("distinct_count")}")
    val conf = spark.conf
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(kk => kk -> conf.getOption(kk)).toMap
    try {
      conf.set("spark.sql.cbo.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
      val fact = spark.range(500000).select((col("id") % 200000).as("k"), col("id").as("v"))
      def staticPlan(t: String): String =
        fact.join(spark.table(t).where(col("g") === 7), "k")
          .queryExecution.sparkPlan.toString
      // same query, no hints: the unanalyzed dim keeps its full file-size
      // estimate through the filter and sort-merges...
      assert(staticPlan("dim_nostats").contains("SortMergeJoin"),
        s"nostats plan should sort-merge:\n${staticPlan("dim_nostats").take(1500)}")
      // ...the analyzed dim's filter estimate (rowCount/NDV) is ~1% and
      // flips the same join to broadcast at static plan time
      assert(staticPlan("dim_stats").contains("BroadcastHashJoin"),
        s"stats plan should broadcast:\n${staticPlan("dim_stats").take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bruteTruth: truth build matches a direct computation and caches per dir") {
    // pins the r17 session-guarded truth cache: contents must equal the
    // direct Similarity calls, and a second lookup must return the SAME
    // checkpointed frames (cache hit, no rebuild)
    val dir = "/root/testdata/sf0.001"
    val (top1, top5) = SparkEntry.bruteTruth(spark, dir)
    val emb = Tables.testTable(spark, dir, "embeddings")
    val top1Ref = graft.ops.Similarity.nearestNeighbors(
      emb, "vec_id", "embedding", strategy = "brute").select("doc_a", "doc_b")
    val top5Ref = graft.ops.Similarity.bruteKnn(
      emb, "vec_id", "embedding", col("vec_id") < 10, 5)
      .select("query_id", "neighbor_id")
    // exceptAll = MULTISET equality (r18 advice): set-based except() would
    // pass a duplicate-row cardinality mismatch between the checkpointed
    // truth and the direct computation
    assert(top1.exceptAll(top1Ref).isEmpty && top1Ref.exceptAll(top1).isEmpty)
    assert(top5.exceptAll(top5Ref).isEmpty && top5Ref.exceptAll(top5).isEmpty)
    val (again1, again5) = SparkEntry.bruteTruth(spark, dir)
    assert((again1 eq top1) && (again5 eq top5),
      "second bruteTruth call must hit the session-guarded cache")
  }

  test("JSONL corpus read quarantines corrupt lines instead of failing") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    val f = dir.resolve("part-0.jsonl")
    java.nio.file.Files.write(f, Seq(
      """{"doc_id": 1, "text": "clean doc one"}""",
      """{"doc_id": 2, "text": "clean doc two"}""",
      """{"doc_id": 3, "text": "truncated""",
      """null""",
      """not json at all""").mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val (clean, corrupt) = Tables.readJsonlQuarantined(spark, dir.toString, schema)
    assert(clean.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "clean doc one"), (2L, "clean doc two")))
    assert(clean.columns.toSeq == Seq("doc_id", "text")) // capture col dropped
    val bad = corrupt.collect().map(_.getString(0)).sorted
    // the `null` literal parses to a NULL struct — quarantined, not a
    // clean all-NULL ghost row
    assert(bad.length == 3 && bad.exists(_.contains("truncated"))
      && bad.contains("not json at all") && bad.contains("null"))
    // a schema that collides with the capture column fails fast
    intercept[IllegalArgumentException] {
      Tables.readJsonl(spark, dir.toString, schema.add("_corrupt", StringType))
    }
  }
}

class FlatMapGroupsSpec extends SparkSpecBase {
  import spark.implicits._

  test("flatMapGroups streams weighted groups through executors (G8)") {
    val df = Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 30L, 1.5), ("B", 40L, 2.5))
      .toDF("Group", "Value", "weights")
    val g = WeightedDataFrame.wt(df, "weights").groupBy("Group")
    assert(g.weightedSchema == Seq("Group", "Value"))
    // reference test_frame.py:264-278 weighted_minmax, as a typed group fn
    val got = g.flatMapGroups(r => r.getString(0)) { (k, it) =>
      val vs = it.map(_.getDouble(1)).toVector
      Iterator((k, vs.min, vs.max))
    }.collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got("A") == ((10.0, 40.0)))
    assert(got("B") == ((45.0, 100.0)))
  }
}

class StatefulStreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("running weighted mean accumulates state across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Option[Double], Option[Double])]
    val out = StreamingWeighted.runningWeightedMean(
      input.toDF().toDF("k", "v", "w"), "k", "v", "w")
    val q = out.toDF().toDF("k", "total_w", "mean")
      .writeStream.outputMode("update").format("memory").queryName("state").start()
    input.addData(("a", Some(10.0), Some(1.0)), ("a", Some(20.0), Some(2.0)))
    q.processAllAvailable()
    val r1 = spark.table("state").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(r1.contains(("a", 3.0, 50.0 / 3.0)))
    // second batch: state carries over; null weight skipped
    input.addData(("a", Some(40.0), Some(1.0)), ("a", Some(99.0), None))
    q.processAllAvailable()
    val r2 = spark.table("state").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    q.stop()
    assert(r2.contains(("a", 4.0, 90.0 / 4.0)))
  }

  test("running weighted variance matches the batch kernel across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Option[Double], Option[Double])]
    val out = StreamingWeighted.runningWeightedVar(
      input.toDF().toDF("k", "v", "w"), "k", "v", "w")
    val q = out.toDF().toDF("k", "total_w", "mean", "var")
      .writeStream.outputMode("update").format("memory").queryName("statevar").start()
    input.addData(("a", Some(10.0), Some(1.0)))
    q.processAllAvailable()
    val r1 = spark.table("statevar").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(3)))
    assert(r1.head._2 == 1.0 && r1.head._3.isNaN) // W = 1 = ddof → undefined
    input.addData(("a", Some(20.0), Some(2.0)), ("a", None, Some(9.0)))
    q.processAllAvailable()
    val r2 = spark.table("statevar").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    q.stop()
    // batch kernel on the same rows: W=3, S=50, Q=900 →
    // var = (900 - 2500/3)/(3-1) = 100/3 / 2 (null value skipped)
    val expectVar = (900.0 - 2500.0 / 3.0) / 2.0
    assert(r2.exists { case (k, w, m, v) =>
      k == "a" && w == 3.0 && math.abs(m - 50.0 / 3.0) < 1e-12 &&
        math.abs(v - expectVar) < 1e-12
    })
  }
}
