package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink helpers. The reference has no I/O layer of its own (pandas
  * constructors only — SURVEY §2.5); this is the engine's equivalent
  * surface for the driver's parquet tables plus general formats, written so
  * scans stay prunable/filterable and sinks are partition-aware.
  */
object Tables {

  /** Read one of the test tables through [[read]]: the schema
    * is resolved once per file listing, and a rewritten table is read
    * fresh. `events.ts` has shipped as parquet TIMESTAMP(MICROS) in some
    * data generations and TIMESTAMP(NANOS) in others. MICROS reads
    * natively; NANOS makes Spark's default schema converter THROW at
    * relation resolution — and the converse trap is silent: an explicit
    * ts-as-long schema happily reads a MICROS column's raw int64 and a
    * blanket `div 1000` then corrupts every timestamp by 1000×. So the
    * driver reads one leaf file's parquet footer first: only a `ts`
    * annotated TIMESTAMP(NANOS) takes the explicit-schema nanos read (raw
    * long nanos, normalized by integer division — double math would
    * corrupt epochs above 2⁵³ ns); anything else takes the native read,
    * whose failures surface. No Spark job is submitted just to fail on the
    * NANOS column. That decision is part of the cached schema (ts as long),
    * so it is made once per listing, not re-tried on every call. No legacy
    * `nanosAsLong` session conf either way — no session state is mutated.
    */
  def testTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") events(spark, path) else read(spark, path)
  }

  private def events(spark: SparkSession, path: String): DataFrame = {
    val df = parquetOnce(spark, path) {
      // an explicit schema lists the files and reads no footer
      val asNanos = spark.read.schema(EventsNanos).parquet(path)
      if (tsIsNanos(asNanos)) asNanos else spark.read.parquet(path)
    }
    df.schema("ts").dataType match {
      // MICROS arrives as TIMESTAMP_NTZ (isAdjustedToUTC=false under
      // inferTimestampNTZ) or TIMESTAMP; normalize to TIMESTAMP — under
      // the pinned UTC session zone the cast is instant-exact
      case TimestampType | TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      // NANOS read as raw long (the explicit schema above, or the legacy
      // nanosAsLong session conf)
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case t => throw new IllegalArgumentException(
        s"events.ts has unexpected type ${t.typeName} — refusing to guess a conversion")
    }
  }

  /** Whether the footer of the first data file of `read` annotates `ts` as
    * TIMESTAMP(NANOS). Read on the driver: one footer, no Spark job. A
    * read with no data file, or a file without `ts`, is left to the native
    * read to report. */
  private def tsIsNanos(read: DataFrame): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    leafFiles(read).flatMap(_.map(_.getPath).find(p => !p.getName.startsWith("_"))).exists { p =>
      val footer = ParquetFileReader.open(
        HadoopInputFile.fromPath(p, read.sparkSession.sessionState.newHadoopConf()))
      try {
        val schema = footer.getFooter.getFileMetaData.getSchema
        schema.containsField("ts") &&
          (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          })
      } finally footer.close()
    }
  }

  /** `events` with `ts` as the raw int64 of a TIMESTAMP(NANOS) column. */
  private val EventsNanos = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** A parquet path's resolved schema and the stamp it was resolved under:
    * a SHA-256 of the sorted (name, length, modification time) of every
    * leaf file, so an entry does not grow with the file count, plus the
    * session's parquet confs (`inferTimestampNTZ` and friends change the
    * inferred types). */
  private final case class Resolved(stamp: Stamp, schema: StructType)
  private type Stamp = (Seq[Byte], Map[String, String])

  /** One entry per (session, path), replaced on a new stamp. Sessions are
    * held weakly, so a dropped session drops its entries; a session made
    * by `newSession()` is its own key. Guarded by its own monitor:
    * `Overlap` reads from several threads. */
  private val resolved =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Resolved]]()

  /** Read `path` with the schema resolved under the current stamp, else
    * run `infer` and remember its schema. Schema inference of a parquet
    * read runs a footer-reading Spark job; a read with an explicit schema
    * runs none. The stamp comes from the file index Spark builds for the
    * read itself, so there is no second listing. */
  private def parquetOnce(spark: SparkSession, path: String)(infer: => DataFrame): DataFrame = {
    val known = resolved.synchronized(Option(resolved.get(spark)).flatMap(_.get(path)))
    val current = known.flatMap { r =>
      val df = spark.read.schema(r.schema).parquet(path)
      if (stampOf(df).contains(r.stamp)) Some(df) else None
    }
    current.getOrElse {
      val df = infer
      stampOf(df).foreach { st =>
        resolved.synchronized {
          resolved.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
            .update(path, Resolved(st, df.schema))
        }
      }
      df
    }
  }

  /** The leaf files of a file-source read, from the file index Spark built
    * for it (no second listing), or None when the plan has no file index. */
  private def leafFiles(df: DataFrame) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.collect {
      case fs: HadoopFsRelation => fs.location.listFiles(Nil, Nil).flatMap(_.files)
    }
  }

  /** The stamp of a file-source read, or None when the plan has no file
    * index to take it from (then the read is never cached). */
  private def stampOf(df: DataFrame): Option[Stamp] =
    leafFiles(df).map { leaves =>
      val files = java.security.MessageDigest.getInstance("SHA-256")
      leaves
        .map(f => s"${f.getPath}\u0000${f.fileStatus.getLen}\u0000${f.fileStatus.getModificationTime}\n")
        .sorted.foreach(line => files.update(line.getBytes("UTF-8")))
      val confs = df.sparkSession.conf.getAll.filter(_._1.contains(".parquet."))
      (files.digest().toSeq, confs)
    }

  /** Fan a narrow input out to the session's default parallelism before a
    * compute-heavy per-row stage (fixture encode, codec decode, shingling,
    * per-token LM scoring).
    *
    * Why: a parquet ROW GROUP is the minimum split unit, so a small table
    * written as one row group scans as ONE task — and everything between
    * that scan and the first exchange (the expensive per-row kernels) runs
    * serially at any core count. The local test tables are exactly this
    * shape (sf0.1 documents = 5000 rows / 1 row group), measured as
    * near-flat decode-battery times across 4 vs 32 cores. A production
    * corpus arrives in >= cores splits and takes the no-op branch, so this
    * NEVER adds an exchange at scale; locally the one exchange it adds
    * carries the narrow pre-encode rows (ids + text), not payloads.
    *
    * Hash-partitioned by the given keys (deterministic under task retry,
    * unlike round-robin repartition of nondeterministic input —
    * SPARK-38388); no query result depends on partitioning either way.
    * Keyless calls fall back to round-robin (inputs here are deterministic
    * file scans, where round-robin is retry-safe). */
  def fanOutForCompute(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  /** Generic format read (parquet/orc/json/csv); csv/json get schema
    * inference + header handling. A parquet path's schema is resolved once
    * per file listing (one footer-reading job), and later reads of the
    * same session pass it explicitly (no job); a rewritten table has a new
    * listing and is read fresh. Filters/projections compose lazily on the
    * result and push into the scan where the format supports it. */
  def read(spark: SparkSession, path: String, format: String = "parquet"): DataFrame =
    format match {
      case "parquet" => parquetOnce(spark, path)(spark.read.parquet(path))
      case "csv"  => spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      case "json" => spark.read.json(path)
      case f      => spark.read.format(f).load(path)
    }

  /** Partition-aware sink: directory-partitions by `partitionBy` (enables
    * partition pruning for downstream readers) and targets `maxRecords` per
    * file so a 1000-executor write neither produces millions of tiny files
    * nor multi-GB ones. */
  def write(
      df: DataFrame,
      path: String,
      format: String = "parquet",
      partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val writer = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .format(format)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).save(path)
  }

  /** Bucketed sink: hash-buckets (and sorts) by the join/group key into a
    * catalog table. The 100 TB payoff is co-located joins and aggregations —
    * two tables bucketed on the same key by the same count join with NO
    * exchange on either side (Spark trusts the on-disk bucketing), so a
    * fact⋈fact join that would shuffle both corpora becomes a per-bucket
    * local merge. Requires `saveAsTable` (bucket metadata lives in the
    * catalog, not the parquet files). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      format: String = "parquet",
      statsCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed requires at least one bucket column")
    df.write.mode("overwrite")
      .format(format)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
    // Planner fuel: file listings give a catalog parquet table a real
    // sizeInBytes even unanalyzed, but DERIVED sizes don't exist without
    // statistics — a filtered dim keeps its full-scan estimate, so a
    // selective `dim WHERE …` sort-merges where it should broadcast, and
    // join reorder has no row counts to work with. One ANALYZE pass
    // records rowCount plus per-column NDV/min/max/null-count for the
    // bucket (join) keys and any `statsCols`, so broadcast-vs-sortmerge
    // and CBO selectivity ride on real numbers at PLAN time — before AQE
    // ever sees a runtime stat. At 100 TB this is one extra scan per
    // table build, amortized over every downstream join.
    val cols = (bucketCols ++ statsCols).distinct
    // backtick PART-wise: quoting "db.tbl" whole would resolve as a
    // single dotted identifier in the default database
    val qualified = table.split('.').map(p => s"`$p`").mkString(".")
    df.sparkSession.sql(s"ANALYZE TABLE $qualified COMPUTE STATISTICS " +
      s"FOR COLUMNS ${cols.map(c => s"`$c`").mkString(", ")}")
  }

  /** Training-data shard export: every row lands in a DETERMINISTIC shard
    * (`pmod(xxhash64(idCols), nShards)` — stable across runs, partitionings,
    * and cluster sizes, unlike `repartition`'s round-robin), written as one
    * directory partition per shard, sorted within each shard by `sortCols`
    * (typically token count, so fixed-capacity packing reads near-uniform
    * sequences). Exactly one file per shard at any scale: the repartition
    * shuffles each shard to one task — size shards via `nShards`, not file
    * splits, which is the training-loader contract (shard count = loader
    * parallelism). Returns the shard column name for downstream joins.
    *
    * No ANALYZE here by design: shards are a path export with no catalog
    * entry, and path reads already plan on real file-listing sizes;
    * register the path as a table (and ANALYZE it) only if shards feed
    * further joins — [[writeBucketed]] is the stats-carrying sink. */
  def writeShards(
      df: DataFrame,
      path: String,
      idCols: Seq[String],
      nShards: Int,
      sortCols: Seq[String] = Nil,
      format: String = "parquet"): String = {
    require(idCols.nonEmpty, "writeShards needs id columns for stable assignment")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val shardCol = "shard"
    // loud, not silent: overwriting a caller's own `shard` column would
    // reassign rows under the same name (e.g. a frame read back from a
    // previous writeShards output)
    require(!df.columns.contains(shardCol),
      s"input already has a '$shardCol' column — drop or rename it first")
    val sharded = df.withColumn(shardCol,
      pmod(xxhash64(idCols.map(col): _*), lit(nShards.toLong)))
    val placed = sharded.repartition(nShards, col(shardCol))
    // lead the sort with the partition column: the partitioned writer
    // requires its data ordered by partition cols and would otherwise
    // insert its own (unstable) sort, destroying the secondary order
    val ordered =
      if (sortCols.nonEmpty)
        placed.sortWithinPartitions((shardCol +: sortCols).map(col): _*)
      else placed
    // pin maxRecordsPerFile OFF: a session-level spark.sql.files
    // .maxRecordsPerFile would otherwise split big shards into multiple
    // part files, silently breaking the one-file-per-shard loader contract
    ordered.write.mode("overwrite").format(format)
      .option("maxRecordsPerFile", 0)
      .partitionBy(shardCol).save(path)
    shardCol
  }

  /** Read a bucketed catalog table (bucket metadata applies automatically —
    * joins/aggs on the bucket key skip their exchange). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Morton (z-order) interleave of `zCols`, each quantile-bucketed into
    * `2^bits` ranks. The rank boundaries come from one distributed
    * `approxQuantile` pass (never a global window — an `ntile` over an
    * unpartitioned ORDER BY would serialize the corpus into one task), so
    * buckets stay balanced under arbitrary skew; the interleave itself is a
    * pure per-row bit expression inside whole-stage codegen.
    *
    * EAGER: the `approxQuantile` pass runs a job over `df` at CALL time —
    * using the returned Column means `df`'s lineage is computed (at least)
    * twice, once for the boundaries and once wherever the Column is
    * evaluated. Deliberately not mitigated with `cache()` here: pinning a
    * corpus-sized input to executor storage to save one narrow pass is the
    * wrong trade at 100 TB (callers with an expensive upstream lineage
    * should checkpoint/persist it themselves before calling). The returned
    * Column is BOUND to the quantiles of THIS `df` argument — applying it
    * to a different frame interleaves that frame's values against these
    * boundaries. */
  def zOrderValue(df: DataFrame, zCols: Seq[String], bits: Int = 4): Column = {
    require(zCols.nonEmpty, "zOrderValue needs at least one column")
    require(bits >= 1 && bits <= 8, s"bits must be in [1,8], got $bits")
    require(zCols.size * bits <= 63, "interleaved width must fit a long")
    val nBuckets = 1 << bits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    // multi-column overload: ALL columns' boundaries in one distributed
    // pass (per-column calls would re-scan the corpus zCols.size times)
    val allCuts = df.stat.approxQuantile(zCols.toArray, probs, 0.001)
    val buckets: Seq[Column] = zCols.zip(allCuts).map { case (c, cuts) =>
      // Σ [v ≥ cut] is the rank; NULL comparisons fall to otherwise(0), so
      // nulls land in bucket 0 (lowest z region) rather than erroring
      cuts.distinct.map(t => when(col(c) >= t, 1).otherwise(0))
        .reduceOption(_ + _).getOrElse(lit(0))
    }
    (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (bk, ci) =>
        shiftleft(shiftright(bk, b).bitwiseAND(lit(1)).cast("long"),
          b * zCols.size + ci)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-ordered sink: range-partition + sort the corpus by the Morton
    * interleave of `zCols`, so every output file's parquet min/max
    * statistics form a TIGHT bounding box in ALL z dimensions at once.
    *
    * The 100 TB payoff is multi-column scan pruning: a layout sorted by one
    * column prunes row-groups only for filters on that column — every file
    * still spans the full range of every other column. Z-ordering bounds
    * each file in every interleaved dimension (a contiguous Morton range is
    * a compact hyper-rectangle of rank space), so `WHERE user_id = ?` AND
    * `WHERE value BETWEEN ?` each skip most files, from footer stats alone,
    * with no index structure to maintain. Layout cost is TWO passes over
    * `df` (the eager [[zOrderValue]] quantile job, then the range-shuffled
    * write) — persist an expensive upstream lineage before calling —
    * amortized over every downstream selective read. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      nFiles: Int,
      bits: Int = 4,
      format: String = "parquet"): Unit = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    val zc = "__z__"
    require(!df.columns.contains(zc), s"input already has a '$zc' column")
    df.withColumn(zc, zOrderValue(df, zCols, bits))
      .repartitionByRange(nFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
      .write.mode("overwrite").option("maxRecordsPerFile", 0)
      .format(format).save(path)
  }

  /** Read a JSONL corpus — the de-facto interchange format for LLM training
    * data (one JSON document per line, typically .jsonl or .jsonl.gz).
    *
    * Contract for 100 TB ingests:
    *   - `schema` is REQUIRED: schema inference reads the whole corpus
    *     twice (once to infer, once to load) — never acceptable at scale,
    *     and an explicit schema also prunes unread fields at parse time.
    *   - PERMISSIVE mode with a `_corrupt` capture column: a multi-TB crawl
    *     dump always carries some malformed lines; failing the job on line
    *     3 billion is worse than quarantining. `corrupt` below splits the
    *     read into (clean rows, corrupt raw lines) for a quarantine sink.
    *   - gzip inputs are NOT splittable — one task per .gz file regardless
    *     of size. Fine for the many-small-files layout corpora ship in
    *     (each file one task), ruinous for single huge archives; repack to
    *     parquet/zstd-seekable early in any real pipeline.
    */
  def readJsonl(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      corruptCol: String = "_corrupt"): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema already has a '$corruptCol' field")
    // text scan + from_json rather than the json datasource: Spark refuses
    // any query whose referenced columns are only the internal corrupt
    // record column of a raw json scan (the quarantine branch is exactly
    // that), and the json source is a line-based text parse anyway — same
    // plan cost, no caching workaround needed
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0) // blank lines are not documents
      .select(col("value"), from_json(col("value"), full,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol)).as("j"))
      .select((schema.fieldNames.map(n => col("j." + n)) :+
        // the JSON literal `null` parses to a NULL struct — every field
        // NULL including the capture column, which would classify it as a
        // clean all-NULL ghost row; route it to quarantine explicitly
        coalesce(col("j." + corruptCol),
          when(col("j").isNull, col("value"))).as(corruptCol)).toSeq: _*)
  }

  /** [[readJsonl]] split into (clean rows without the capture column,
    * corrupt raw lines) — quarantine the second, train on the first. */
  def readJsonlQuarantined(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      corruptCol: String = "_corrupt"): (DataFrame, DataFrame) = {
    val raw = readJsonl(spark, path, schema, corruptCol)
    (raw.where(col(corruptCol).isNull).drop(corruptCol),
      raw.where(col(corruptCol).isNotNull).select(col(corruptCol).as("line")))
  }
}
