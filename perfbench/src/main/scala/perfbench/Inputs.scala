package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table keeps the schema of the repository's
  * test tables (`lineitem`, `orders`, `events`, `documents`), so the
  * `SparkEntry` queries and their DuckDB oracle SQL apply unchanged.
  *
  * Every random draw is a hash of (row id, seed, salt), so a seed fixes the
  * bytes of every table regardless of partitioning or core count. The seed
  * moves values, keys and which rows carry nulls, zero weights or injected
  * duplicates; the shares and sizes are constants, so runs with different
  * seeds do the same amount of work.
  */
object Inputs {
  val LineitemRows = 60000L
  val OrderRows = 15000L
  val EventRows = 10000L
  /** Distinct `l_partkey` values, as in TPC-H at scale 0.1; the
    * high-cardinality variant groups by a key derived from it. */
  val PartKeys = 20000L
  /** Base corpus size and the number of perturbed copies the curation
    * corpus is built from; the base size of the small corpus whose every
    * output column is checked. */
  val BaseDocs = 1250L
  val CheckBaseDocs = 125L
  val DocCopies = 2

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Uniform double in (0, 1) from (id, seed, salt). */
  private def u(id: Column, seed: Long, salt: Int): Column =
    (pmod(xxhash64(id, lit(seed), lit(salt)), lit(1000000007L)) + 0.5) / 1000000007.0

  /** Uniform integer in [0, n). */
  private def ui(id: Column, seed: Long, salt: Int, n: Long): Column =
    floor(u(id, seed, salt) * n).cast("long")

  private def ts(secondsFrom: String, spanSeconds: Long, id: Column, seed: Long,
      salt: Int, wholeDays: Boolean): Column = {
    val start = java.time.Instant.parse(secondsFrom).getEpochSecond
    val off = ui(id, seed, salt, spanSeconds)
    val sec = if (wholeDays) floor(off / 86400) * 86400 else off
    timestamp_seconds(lit(start) + sec)
  }

  private def withNulls(c: Column, id: Column, seed: Long, salt: Int, share: Double): Column =
    when(u(id, seed, salt) >= share, c)

  /** Lineitem. `highCardinality` replaces the 3-value `l_returnflag` with
    * the part key (a power-law draw: the largest group holds ~4% of the
    * rows, and most of the thousands of groups hold one to three), so the
    * same grouped queries run once with a handful of groups and once with
    * thousands of mostly tiny ones. Value columns carry 3% nulls; the
    * `l_quantity` weight carries 2% zeros and 1% nulls. */
  def lineitem(spark: SparkSession, seed: Long, highCardinality: Boolean): DataFrame = {
    val id = col("id")
    val partkey = floor(pow(u(id, seed, 2), lit(3.0)) * PartKeys).cast("long")
    val qty = (ui(id, seed, 5, 50) + 1).cast("double")
    val wq = u(id, seed, 6)
    val flag =
      if (highCardinality) concat(lit("R"), partkey.cast("string"))
      else element_at(array(lit("A"), lit("N"), lit("R")), (ui(id, seed, 11, 3) + 1).cast("int"))
    spark.range(0, LineitemRows, 1, 8).select(
      ui(id, seed, 1, OrderRows).as("l_orderkey"),
      partkey.as("l_partkey"),
      ui(id, seed, 3, 1000).as("l_suppkey"),
      (ui(id, seed, 4, 7) + 1).cast("int").as("l_linenumber"),
      when(wq < 0.01, lit(null).cast("double")).when(wq < 0.03, lit(0.0)).otherwise(qty)
        .as("l_quantity"),
      withNulls(round(lit(900.0) + u(id, seed, 7) * 104000.0, 2), id, seed, 17, 0.03)
        .as("l_extendedprice"),
      withNulls((ui(id, seed, 8, 11) / 100.0), id, seed, 18, 0.03).as("l_discount"),
      (ui(id, seed, 9, 9) / 100.0).as("l_tax"),
      flag.as("l_returnflag"),
      when(u(id, seed, 12) < 0.5, lit("O")).otherwise(lit("F")).as("l_linestatus"),
      ts("1992-01-01T00:00:00Z", 2526L * 86400, id, seed, 13, wholeDays = true)
        .as("l_shipdate"))
  }

  def orders(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(0, OrderRows, 1, 4).select(
      id.as("o_orderkey"),
      ui(id, seed, 21, 15000).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (ui(id, seed, 22, 3) + 1).cast("int"))
        .as("o_orderstatus"),
      round(lit(1000.0) + u(id, seed, 23) * 450000.0, 2).as("o_totalprice"),
      ts("1992-01-01T00:00:00Z", 2526L * 86400, id, seed, 24, wholeDays = true)
        .as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")), (ui(id, seed, 25, 5) + 1).cast("int"))
        .as("o_orderpriority"))
  }

  /** Events over 60 days; `value` carries 2% nulls. */
  def events(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(0, EventRows, 1, 4).select(
      id.as("event_id"),
      ts("2024-01-01T00:00:00Z", 60L * 86400, id, seed, 31, wholeDays = false)
        .as("ts"),
      ui(id, seed, 32, 2000).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase"), lit("signup"),
        lit("error")), (ui(id, seed, 33, 5) + 1).cast("int")).as("event_type"),
      withNulls(round(u(id, seed, 34) * 200.0, 2), id, seed, 35, 0.02).as("value"),
      concat(lit("{\"k\": "), ui(id, seed, 36, 100).cast("string"), lit("}")).as("props"))
  }

  /** A base document corpus of `n` documents: 10–100 tokens over the test corpus's
    * 30-word vocabulary. 3% of documents repeat an earlier document's
    * text exactly and 3% repeat it in reverse token order (same token set,
    * so a near duplicate under token-set shingles). */
  def baseDocuments(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val pick = u(id, seed, 41)
    val src = ui(id, seed, 42, n)
    val textKey = when(pick < 0.06 && src < id, src).otherwise(id)
    val len = (pmod(xxhash64(textKey, lit(seed), lit(43)), lit(91L)) + 10).cast("int")
    val vocab = array(Vocab.map(lit): _*)
    val toks = transform(sequence(lit(1), len), i =>
      element_at(vocab, (pmod(xxhash64(textKey, i, lit(seed), lit(44)), lit(Vocab.size.toLong)) + 1)
        .cast("int")))
    val ordered = when(pick >= 0.03 && pick < 0.06 && src < id, reverse(toks)).otherwise(toks)
    val lang = u(id, seed, 45)
    spark.range(0, n, 1, 4)
      .select(id.as("doc_id"), concat_ws(" ", ordered).as("text"),
        when(lang < 0.41, "en").when(lang < 0.56, "zh").when(lang < 0.71, "de")
          .when(lang < 0.86, "fr").otherwise("es").as("lang"),
        concat(lit("src"), ui(id, seed, 46, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** The curation corpus: [[DocCopies]] copies of a base corpus of
    * `baseDocs` documents, each perturbed the way
    * `ScaleSynth.scaledDocuments` perturbs them (copies share no shingles,
    * so the work grows linearly in the copy count). */
  def documents(spark: SparkSession, seed: Long, baseDocs: Long = BaseDocs): DataFrame =
    graft.tools.ScaleSynth.scaledDocuments(baseDocuments(spark, seed, baseDocs), DocCopies)

  /** Writes the tables a workload reads under `dir` (parquet, microsecond
    * timestamps as in the test tables), one file per generated partition:
    * a fixed file count, so every machine reads the same layout. */
  def write(spark: SparkSession, dir: String, tables: Seq[(String, DataFrame)]): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
