package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AlignedCorr, WeightedDataFrame}
import graft.multimodal.Multimodal
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 run against the
  * driver's parquet tables; `oracleSql` holds the DuckDB-equivalent SQL with
  * identical column names/aliases (the driver hash-compares after sorting
  * columns by name).
  */
object SparkEntry {

  /** A test table through [[graft.sources.Tables.testTable]]: its schema
    * is resolved once per file listing and passed to every later read, so
    * a repeat call runs no schema-inference job; a rewritten table is read
    * fresh. */
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.testTable(s, dir, name)

  /** [[graft.sources.Tables.fanOutForCompute]] over a test table — applied
    * per query, ONLY where a measured A/B showed the downstream per-row
    * work (fixture encode + codec decode, gzip WARC walks) dominating a
    * serial scan: the local single-row-group files scan as ONE task, which
    * serialized those kernels at any core count (q148 27.9 s at both 4 and
    * 32 cores before; 0.4 s after). Freeze-ladder pipelines with CHEAP
    * per-row kernels (audio/video capstones) measurably LOSE from a wider
    * base frame — their ~30 decision-sized jobs pay per-partition task
    * overhead on every frozen frame (q146: 65 → 1497 tasks, +1.4 s) — so
    * they deliberately do NOT fan out. At production scale the input
    * arrives in >= cores splits and fanOutForCompute is a no-op. */
  private def fanned(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.fanOutForCompute(table(s, dir, name), col("doc_id"))

  /** [[fanned]] for the embeddings table (vec_id key) — applied ONLY to
    * queries whose per-row vector kernels (dots, hyperplane signs, top-k)
    * are partition-independent; NEVER to k-means-backed queries, whose
    * `avg(double)` fit folds in partition order and could drift centroid
    * ulps away from the frozen oracle replay. */
  private def fannedEmb(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.fanOutForCompute(table(s, dir, "embeddings"), col("vec_id"))

  /** q100 fixture: the cross-document syndicated paragraph (one string, used
    * verbatim in the Spark fixture AND the DuckDB oracle). */
  private val SyndicatedParagraph =
    "This syndicated paragraph repeats verbatim across the corpus and should be deduplicated."

  /** q101 fixture: injected duplicated token spans (12 and 10 tokens — both
    * longer than the 8-token window, so coverage of the whole span is
    * exercised). Same strings verbatim in the Spark fixture AND the oracle. */
  private val SpanSlogan =
    "limited time offer please subscribe to our premium newsletter for exclusive content"
  private val SpanPromo =
    "all rights reserved by the original author of this work"

  /** events.parquet carries a TIMESTAMP(NANOS) column Spark's schema
    * converter rejects by default; `Tables.testTable` owns the ONE explicit
    * schema + ns→µs conversion (no session conf, no duplicated schema). */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.testTable(s, dir, "events")

  /** lineitem weighted by l_quantity — the t2 workhorse (FIXTURES.md §2). */
  private def wli(s: SparkSession, dir: String): WeightedDataFrame =
    WeightedDataFrame.wt(table(s, dir, "lineitem"), "l_quantity")

  /** events with a derived deterministic weight (events has no weight col),
    * keeping `cols` — the ONE place the w = user_id%7+1 scheme lives on the
    * Spark side (every events oracle mirrors the same formula in SQL). */
  private def wevents(s: SparkSession, dir: String, cols: String*): WeightedDataFrame = {
    val keep = if (cols.nonEmpty) cols else Seq("ts", "value")
    val e = events(s, dir)
      .withColumn("w", (col("user_id") % 7 + 1).cast("double"))
      .select((keep :+ "w").map(col): _*)
    WeightedDataFrame.wt(e, "w")
  }

  /** Fitted IVF coarse quantizers per corpus dir. The KMeans fit is the
    * expensive, reusable artifact (train once per corpus, search many
    * times); caching it is the whole point of the fit/search split.
    * Keyed by directory with no invalidation — valid here because the
    * driver's testdata dirs are immutable snapshots; a long-lived service
    * over mutable corpora would need to key by content version (or refit)
    * or it would search under a stale quantizer. */
  private val ivfModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.IvfModel]()
  private[graft] def ivfModel(s: SparkSession, dir: String): Similarity.IvfModel =
    ivfModels.computeIfAbsent(dir,
      d => Similarity.fitIvf(table(s, d, "embeddings"), "embedding"))

  /** Fitted PQ codebooks per corpus dir — same train-once contract (and
    * the same immutable-snapshot caveat) as [[ivfModel]]. */
  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqModel]()
  private[graft] def pqModel(s: SparkSession, dir: String): Similarity.PqModel =
    pqModels.computeIfAbsent(dir,
      d => Similarity.fitPq(table(s, d, "embeddings"), "embedding"))

  /** Residual-encoded PQ (x̂ − μ_cell) at the default m/ksub — q90 pins the
    * full residual encode→ADC→refine path above the same 0.8 floor as the
    * raw path (measured 0.94/1.0 at sf0.001/sf0.01 vs raw 0.98/0.94).
    * NOTE the near-isotropic synthetic fixture bounds residual's headroom
    * at |μ_cell|² ≈ 0.04 of the vector energy — the mechanism's real gains
    * need a clustered corpus (see PqModel scaladoc); this row proves the
    * path is wired correctly, not that it beats raw here. */
  private val pqResModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqModel]()
  private[graft] def pqResModel(s: SparkSession, dir: String): Similarity.PqModel =
    pqResModels.computeIfAbsent(dir,
      d => Similarity.fitPq(table(s, d, "embeddings"), "embedding",
        residualOf = Some(ivfModel(s, d))))

  /** Brute-force ANN ground truth per corpus dir, for the q90 recall
    * report: `(top-1 pairs, top-5 for the query set)`. The truth table is
    * a deterministic, reusable artifact of an immutable corpus exactly
    * like the fitted quantizers above — and its O(n²·dim) scoring is the
    * report's dominant cost — so it's computed once per dir and pinned
    * with `localCheckpoint` (eager; same immutable-snapshot caveat as
    * [[ivfModel]]). The report's APPROXIMATE paths re-run every time —
    * recall telemetry must re-measure the thing that can regress, and
    * that's the ANN side, not the truth.
    *
    * Unlike the fitted models above (plain Scala objects, session-free),
    * a checkpointed DataFrame's blocks live in the SparkSession that
    * created it — a stopped-and-recreated session reusing the same dir
    * must NOT get the dead references back. So the cache validates the
    * owning session per hit (weakly held, so the map never pins a stopped
    * session in memory) and recomputes on session change or stop. */
  private val bruteTruths = new java.util.concurrent.ConcurrentHashMap[
    String, (java.lang.ref.WeakReference[SparkSession], DataFrame, DataFrame)]()
  private[graft] def bruteTruth(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val entry = bruteTruths.compute(dir, { (d, cached) =>
      if (cached != null && (cached._1.get eq s) && !s.sparkContext.isStopped) cached
      else {
        val emb = table(s, d, "embeddings")
        // r18 note: overlapping these two materializations (Overlap
        // .inParallel, guide §2.6) was A/B'd at a wash — the cold path is
        // dominated by the per-dir model fits and first-read JIT, not
        // these two short chains — so they stay serial per the round's
        // revert-washes discipline.
        val top1 = Similarity.nearestNeighbors(emb, "vec_id", "embedding",
          strategy = "brute").select(col("doc_a"), col("doc_b")).localCheckpoint()
        val top5 = Similarity.bruteKnn(emb, "vec_id", "embedding", col("vec_id") < 10, 5)
          .select(col("query_id"), col("neighbor_id")).localCheckpoint()
        (new java.lang.ref.WeakReference(s), top1, top5)
      }
    })
    (entry._2, entry._3)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    wli(spark, "/root/testdata/sf0.001")
      .select("l_returnflag", "l_extendedprice", "l_discount")
      .groupBy("l_returnflag")
      .mean()

  // ---- oracle-SQL generation helpers (mirror WeightedMoments exactly) ----

  private val W = "l_quantity"

  private def sqlCount(c: String, w: String = W): String =
    s"sum(CASE WHEN $c IS NOT NULL THEN $w ELSE 0 END)"
  private def sqlCountNoSkipna(w: String = W): String =
    s"coalesce(sum($w), 0.0)"
  private def sqlSum(c: String, w: String = W): String =
    s"coalesce(sum($c * $w), 0.0)"
  private def sqlMean(c: String, w: String = W): String =
    s"(sum($c * $w) / ${sqlCount(c, w)})"
  private def sqlVar(c: String, w: String = W, ddof: Int = 1): String =
    s"((sum($c * $c * $w) - (sum($c * $w) * sum($c * $w)) / ${sqlCount(c, w)}) / (${sqlCount(c, w)} - $ddof))"
  private def sqlStd(c: String, w: String = W): String =
    s"sqrt(${sqlVar(c, w)})"

  /** Little-endian hex of an integer SQL expression, `nBytes` wide — the
    * DuckDB mirror of Multimodal's RIFF/WAV field encoding. */
  private def leSql(x: String, nBytes: Int): String =
    (0 until nBytes).map(i =>
      s"lpad(hex((($x) // ${1L << (8 * i)}) % 256), 2, '0')").mkString(" || ")

  /** DuckDB mirrors of WeightedMoments.skewExpr / kurtExpr (same raw-moment
    * expansion and operation order). */
  private def sqlSkew(c: String, w: String = W): String = {
    val n = sqlCount(c, w)
    val mu = s"(sum($c * $w) / $n)"
    val q = s"(sum($c * $c * $w) / $n)"
    val cc = s"(sum($c * $c * $c * $w) / $n)"
    val m2 = s"($q - $mu * $mu)"
    val m3 = s"($cc - 3.0 * $mu * $q + 2.0 * $mu * $mu * $mu)"
    s"(CASE WHEN $m2 > 0.0 THEN $m3 / sqrt($m2 * $m2 * $m2) END)"
  }

  private def sqlKurt(c: String, w: String = W): String = {
    val n = sqlCount(c, w)
    val mu = s"(sum($c * $w) / $n)"
    val q = s"(sum($c * $c * $w) / $n)"
    val cc = s"(sum($c * $c * $c * $w) / $n)"
    val f = s"(sum($c * $c * $c * $c * $w) / $n)"
    val m2 = s"($q - $mu * $mu)"
    val m4 = s"($f - 4.0 * $mu * $cc + 6.0 * $mu * $mu * $q - 3.0 * $mu * $mu * $mu * $mu)"
    s"(CASE WHEN $m2 > 0.0 THEN $m4 / ($m2 * $m2) - 3.0 END)"
  }

  /** DuckDB mirror of WeightedMoments.corrExpr for a pair (same guards). */
  private def sqlCorrMoments(x: String, y: String, w: String): String = {
    val valid = s"($x IS NOT NULL AND $y IS NOT NULL AND $w IS NOT NULL)"
    s"""sum(CASE WHEN $valid THEN 1 ELSE 0 END) AS n,
       |sum(CASE WHEN $valid THEN $w ELSE 0 END) AS sw,
       |sum(CASE WHEN $valid THEN $x * $w END) AS sx,
       |sum(CASE WHEN $valid THEN $y * $w END) AS sy,
       |sum(CASE WHEN $valid THEN $x * $y * $w END) AS sxy,
       |sum(CASE WHEN $valid THEN $x * $x * $w END) AS sxx,
       |sum(CASE WHEN $valid THEN $y * $y * $w END) AS syy""".stripMargin.replace("\n", " ")
  }

  private def sqlCorrFromMoments(ddof: Int = 1, minPeriods: Int = 1): String =
    s"""CASE WHEN n < $minPeriods OR sw <= $ddof THEN NULL
       |WHEN ((sxx - sx * sx / sw) / (sw - $ddof)) <= 0 OR ((syy - sy * sy / sw) / (sw - $ddof)) <= 0 THEN NULL
       |ELSE ((sxy - sx * sy / sw) / (sw - $ddof)) / sqrt(((sxx - sx * sx / sw) / (sw - $ddof)) * ((syy - sy * sy / sw) / (sw - $ddof)))
       |END""".stripMargin.replace("\n", " ")

  private val corrCols = Seq("l_extendedprice", "l_discount", "l_tax")

  /** Full k×k corr long format as UNION ALL of per-pair aggregates. */
  private def corrMatrixSql: String = {
    val selects = for { x <- corrCols; y <- corrCols } yield
      s"""SELECT '$x' AS col_x, '$y' AS col_y, ${sqlCorrFromMoments()} AS corr
         |FROM (SELECT ${sqlCorrMoments(x, y, W)} FROM lineitem)""".stripMargin.replace("\n", " ")
    selects.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_x, col_y")
  }

  private def groupedCorrSql: String = {
    val selects = for { x <- corrCols; y <- corrCols } yield
      s"""SELECT l_returnflag, '$x' AS col_x, '$y' AS col_y, ${sqlCorrFromMoments()} AS corr
         |FROM (SELECT l_returnflag, ${sqlCorrMoments(x, y, W)} FROM lineitem GROUP BY l_returnflag)""".stripMargin.replace("\n", " ")
    selects.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY l_returnflag, col_x, col_y")
  }

  /** DuckDB mirror of TextAnalysis.analyze (no ORDER BY — callers append). */
  private val textAnalyzeSql: String = {
    def markers(lang: String): String =
      TextAnalysis.LangMarkers.toMap.apply(lang).map(m => s"'$m'").mkString("[", ",", "]")
    def cnt(lang: String): String =
      s"len(list_filter(toks, t -> list_contains(${markers(lang)}, t)))"
    s"""WITH f AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |s AS (SELECT doc_id, text, toks, ${cnt("en")} AS c_en, ${cnt("es")} AS c_es,
       |${cnt("de")} AS c_de, ${cnt("fr")} AS c_fr FROM f)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS ws_tokens,
       |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       |round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
       |round(CAST(c_en AS DOUBLE) / len(toks), 6) AS stopword_ratio,
       |CASE WHEN c_en <= 0 AND c_es <= 0 AND c_de <= 0 AND c_fr <= 0 THEN 'unknown'
       |WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
       |WHEN c_es >= c_en AND c_es >= c_de AND c_es >= c_fr THEN 'es'
       |WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
       |ELSE 'fr' END AS pred_lang,
       |round(0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 80.0)
       |+ 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text))
       |+ 0.3 * least(1.0, (CAST(c_en AS DOUBLE) / len(toks)) * 5.0), 6) AS quality_score,
       |md5(text) AS fingerprint
       |FROM s""".stripMargin.replace("\n", " ")
  }

  /** Keep-first exact-dedup replacement for the `documents` source. */
  private val keepFirstDocsSql =
    "FROM (SELECT * FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text))"

  // ---- DuckDB reimplementation of Spark's xxhash64 (public XXH64) --------
  // Spark's xxhash64(c1, c2, ...) starts at seed 42 and folds each long in
  // with hashLong(input, runningHash) — one 8-byte XXH64 round + avalanche.
  // DuckDB has no xxhash64, but the algorithm is pure 64-bit integer
  // arithmetic, expressible with HUGEINT mod-2^64 emulation: wrapping
  // multiply splits the left operand at 2^32 so no intermediate exceeds
  // 2^97 (int128-safe). This makes graft.Sampling's hash-seeded admission
  // (unif = (pmod(xxhash64(id, seed), 1e9+7) + 0.5) / 1e9+7) EXACTLY
  // oracle-checkable — not just its deterministic derivation.
  private val xxP1 = 0x9E3779B185EBCA87L
  private val xxP2 = 0xC2B2AE3D27D4EB4FL
  private val xxP3 = 0x165667B19E3779F9L
  private val xxP4 = 0x85EBCA77C2B2AE63L
  private val xxP5 = 0x27D4EB2F165667C5L
  private def uns(v: Long): String = java.lang.Long.toUnsignedString(v)
  private val T64 = "18446744073709551616" // 2^64

  /** `(x * c) mod 2^64` over HUGEINT columns: split x at 2^32. */
  private def xxMul(x: String, c: Long): String =
    s"((($x) % 4294967296) * ${uns(c)} + (((($x) >> 32) * ${uns(c)}) % 4294967296) * 4294967296) % $T64"

  /** 64-bit rotate-left of a HUGEINT column in [0, 2^64). */
  private def xxRotl(x: String, r: Int): String =
    s"(((($x) << $r) % $T64) | (($x) >> ${64 - r}))"

  /** CTE chain computing `u = (pmod(xxhash64(idExpr, lit(seed)), 1e9+7) +
    * 0.5) / 1e9+7` — bit-identical to [[graft.ops.Sampling]]'s `unif` — as
    * column `u` appended to `srcCte`'s columns. Returns (cteListSql,
    * lastCteName); splice as `WITH $srcCte AS (...), $cteList ... FROM
    * $last`. `idExpr` must be a nonnegative BIGINT expression. */
  private def xxhashUnifCtes(
      srcCte: String, idExpr: String, seed: Long, prefix: String): (String, String) = {
    // hashLong(seedLit, h)'s input-dependent half is a constant per seed
    val kc = java.lang.Long.rotateLeft(seed * xxP2, 31) * xxP1
    val steps = Seq(
      "m1" -> xxMul(s"CAST($idExpr AS HUGEINT)", xxP2),
      "r1" -> xxRotl("m1", 31),
      "k1" -> xxMul("r1", xxP1),
      "h1" -> s"xor(CAST(${uns(42L + xxP5 + 8L)} AS HUGEINT), k1)",
      "r2" -> xxRotl("h1", 27),
      "h2" -> s"(${xxMul("r2", xxP1)} + ${uns(xxP4)}) % $T64",
      "f1" -> "xor(h2, h2 >> 33)",
      "f2" -> xxMul("f1", xxP2),
      "f3" -> "xor(f2, f2 >> 29)",
      "f4" -> xxMul("f3", xxP3),
      "hA" -> "xor(f4, f4 >> 32)",
      "bh" -> s"(hA + ${uns(xxP5 + 8L)}) % $T64",
      "g1" -> s"xor(bh, CAST(${uns(kc)} AS HUGEINT))",
      "g2" -> xxRotl("g1", 27),
      "g3" -> s"(${xxMul("g2", xxP1)} + ${uns(xxP4)}) % $T64",
      "e1" -> "xor(g3, g3 >> 33)",
      "e2" -> xxMul("e1", xxP2),
      "e3" -> "xor(e2, e2 >> 29)",
      "e4" -> xxMul("e3", xxP3),
      "hB" -> "xor(e4, e4 >> 32)",
      "sh" -> s"CASE WHEN hB >= 9223372036854775808 THEN hB - $T64 ELSE hB END",
      "pm" -> "((sh % 1000000007) + 1000000007) % 1000000007",
      "u" -> "(CAST(pm AS DOUBLE) + 0.5) / 1000000007")
    val ctes = steps.zipWithIndex.map { case ((name, expr), i) =>
      val src = if (i == 0) srcCte else s"$prefix${i - 1}"
      s"$prefix$i AS (SELECT *, $expr AS $name FROM $src)"
    }
    (ctes.mkString(", "), s"$prefix${steps.length - 1}")
  }

  /** CTE chain computing Spark's `xxhash64(stringCol)` (seed 42) over a
    * VARIABLE-LENGTH string — the full public XXH64: 32-byte stripes folded
    * with `list_reduce` over a 4-lane HUGEINT struct, then the ≤3 8-byte /
    * ≤1 4-byte / ≤3 1-byte tail rounds as CASE-guarded steps, then the
    * avalanche. Rows of `srcCte` must carry `tok` (STRING); the final CTE
    * adds `hash` in [0, 2^64). Validated byte-for-byte against
    * `org.apache.spark.sql.functions.xxhash64` on empty/short/stripe-length
    * /unicode strings. Same step discipline as [[xxhashUnifCtes]]: each CTE
    * references only prior CTE COLUMNS, never re-nesting expressions (and
    * consumers must never put a single-table WHERE on `hash` — join a tiny
    * relation instead, see q85). */
  private def xxhashStringCtes(srcCte: String, prefix: String): (String, String) = {
    // 1-indexed HUGEINT byte list of tok's UTF-8 encoding, indexing the
    // HOISTED hx column — recomputing hex(encode(tok)) inside the lambda
    // would do O(L) string work per byte (O(L²) per token)
    val byteList =
      "list_transform(range(0, L), i -> " +
        "CAST((strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS HUGEINT))"
    def u64(off: String): String =
      (0 until 8).map(j => s"bl[($off) + $j] * ${1L << (8 * j)}").mkString("(", " + ", ")")
    def u32(off: String): String =
      (0 until 4).map(j => s"bl[($off) + $j] * ${1L << (8 * j)}").mkString("(", " + ", ")")
    // rotl31((acc + x*P2) mod 2^64) * P1 mod 2^64 — inline (lambda-safe)
    def rnd(acc: String, x: String): String =
      xxMul(xxRotl(s"(($acc) + ${xxMul(x, xxP2)}) % $T64", 31), xxP1)
    val v1i = uns(42L + xxP1 + xxP2); val v2i = uns(42L + xxP2)
    val v3i = "42"; val v4i = uns(42L - xxP1)
    val init = s"{v1: CAST($v1i AS HUGEINT), v2: CAST($v2i AS HUGEINT), " +
      s"v3: CAST($v3i AS HUGEINT), v4: CAST($v4i AS HUGEINT), i: CAST(-1 AS BIGINT)}"
    val zeroLane = "CAST(0 AS HUGEINT)"
    val lam = "(acc, x) -> {" +
      s"v1: ${rnd("acc.v1", u64("32*x.i + 1"))}, " +
      s"v2: ${rnd("acc.v2", u64("32*x.i + 9"))}, " +
      s"v3: ${rnd("acc.v3", u64("32*x.i + 17"))}, " +
      s"v4: ${rnd("acc.v4", u64("32*x.i + 25"))}, i: x.i}"
    val mergeSteps = (0 until 4).flatMap { i =>
      Seq(
        s"mk$i" -> rnd(zeroLane, s"st.v${i + 1}"),
        s"mh${i + 1}" -> s"(${xxMul(s"xor(mh$i, mk$i)", xxP1)} + ${uns(xxP4)}) % $T64")
    }
    val tail8 = (0 until 3).flatMap { t =>
      val off = s"((L // 32) * 32 + ${8 * t} + 1)"
      val cond = s"(L // 32) * 32 + ${8 * t} + 8 <= L"
      Seq(
        s"tk$t" -> s"CASE WHEN $cond THEN ${rnd(zeroLane, u64(off))} ELSE NULL END",
        s"h${t + 1}" -> (s"CASE WHEN $cond THEN (${xxMul(xxRotl(s"xor(h$t, tk$t)", 27), xxP1)} " +
          s"+ ${uns(xxP4)}) % $T64 ELSE h$t END"))
    }
    val off4 = "((L // 32) * 32 + ((L % 32) // 8) * 8 + 1)"
    val cond4 = "(L // 32) * 32 + ((L % 32) // 8) * 8 + 4 <= L"
    val offB = s"((L // 32) * 32 + ((L % 32) // 8) * 8 + (CASE WHEN $cond4 THEN 4 ELSE 0 END))"
    val tail1 = (0 until 3).map { t =>
      val cond = s"$offB + $t < L"
      s"h${5 + t}" -> (s"CASE WHEN $cond THEN ${xxMul(xxRotl(
        s"xor(h${4 + t}, (bl[$offB + $t + 1] * ${uns(xxP5)}) % $T64)", 11), xxP1)} " +
        s"ELSE h${4 + t} END")
    }
    val steps: Seq[(String, String)] =
      Seq(
        "hx" -> "hex(encode(tok))",
        "L" -> "length(hx) // 2",
        "bl" -> byteList,
        "st" -> (s"list_reduce(list_concat([$init], list_transform(range(0, L // 32), " +
          "i -> {v1: CAST(0 AS HUGEINT), v2: CAST(0 AS HUGEINT), v3: CAST(0 AS HUGEINT), " +
          s"v4: CAST(0 AS HUGEINT), i: i})), $lam)"),
        "mh0" -> (s"(${xxRotl("st.v1", 1)} + ${xxRotl("st.v2", 7)} + " +
          s"${xxRotl("st.v3", 12)} + ${xxRotl("st.v4", 18)}) % $T64")) ++
      mergeSteps ++
      Seq("h0" -> (s"(CASE WHEN L >= 32 THEN mh4 ELSE CAST(${uns(42L + xxP5)} AS HUGEINT) END " +
        s"+ L) % $T64")) ++
      tail8 ++
      Seq(
        "fk" -> s"CASE WHEN $cond4 THEN ${xxMul(u32(off4), xxP1)} ELSE NULL END",
        "h4" -> (s"CASE WHEN $cond4 THEN (${xxMul(xxRotl("xor(h3, fk)", 23), xxP2)} " +
          s"+ ${uns(xxP3)}) % $T64 ELSE h3 END")) ++
      tail1 ++
      Seq(
        "a1" -> "xor(h7, h7 >> 33)",
        "a2" -> xxMul("a1", xxP2),
        "a3" -> "xor(a2, a2 >> 29)",
        "a4" -> xxMul("a3", xxP3),
        "hash" -> "xor(a4, a4 >> 32)")
    val ctes = steps.zipWithIndex.map { case ((name, expr), i) =>
      val src = if (i == 0) srcCte else s"$prefix${i - 1}"
      s"$prefix$i AS (SELECT *, $expr AS $name FROM $src)"
    }
    (ctes.mkString(", "), s"$prefix${steps.length - 1}")
  }

  /** Full-precision double literal for SQL (round-trips exactly). */
  private def dbl(v: Double): String =
    if (v == v.toLong.toDouble) s"CAST(${v.toLong} AS DOUBLE)"
    else s"CAST(${String.format(java.util.Locale.ROOT, "%.17e", Double.box(v))} AS DOUBLE)"

  /** Exact brute-force cosine top-5 — the q25 oracle, shared verbatim by
    * q26 and q32, whose ANN paths provably degenerate to brute at these
    * corpus sizes (probe ball covers every LSH bucket; nProbe covers every
    * IVF cell — see the query comments; the IVF argument is MODEL-
    * INDEPENDENT: whatever the KMeans fit produced, each corpus vector
    * keeps one argmax cell and every cell is probed). `guard` makes each
    * precondition self-enforcing: on an oversized embeddings table the
    * oracle errors instead of silently asserting a false equivalence. */
  private def bruteTopKOracle(guard: Option[(Int, String)]): String = {
    val guardSql = guard.map { case (maxRows, msg) =>
      s" AND (SELECT CASE WHEN count(*) <= $maxRows THEN true ELSE error('$msg') END FROM embeddings)"
    }.getOrElse("")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10$guardSql),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings),
       |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, nv) AS sim
       |FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
       |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS "rank", round(sim, 6) AS sim
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin.replace("\n", " ")
  }

  /** The q119 oracle: replay the ENTIRE SemDeDup recursion in SQL — unit
    * normalization, seeded-hash init (the [[xxhashUnifCtes]] chain, exactly
    * `Sampling.unif`), [[SemDedupIters]] Lloyd rounds (grid-quantized
    * argmax with ties to the lowest cluster; per-dimension means
    * re-normalized in dimension order; empty clusters carry forward), the
    * final assignment, and the cluster-bounded pairwise drop test under the
    * centroid-far priority. Every comparison runs on the same 1e-6 integer
    * grid as the engine ([[graft.functions.CentroidBest]]), so assignment
    * and drop decisions are reproducible across engines; output sims are
    * `round(..., 6)` per the repo-wide convention. */
  private def semDedupOracleSql: String = {
    val th6 = math.floor(SemDedupThreshold * 1e6 + 0.5).toLong
    val (hashCtes, hashLast) = xxhashUnifCtes("eu", "vec_id", SemDedupSeed, "sdh")
    def assignCte(name: String, centCte: String): String =
      s"""$name AS (SELECT vec_id, uv, cluster, dot FROM (
         |SELECT e.vec_id, e.uv, i.cluster, list_dot_product(e.uv, i.c) AS dot,
         |row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |CAST(floor(list_dot_product(e.uv, i.c) * 1e6 + 0.5) AS BIGINT) DESC, i.cluster) AS rk
         |FROM eu e CROSS JOIN $centCte i) WHERE rk = 1)""".stripMargin
    def updateCtes(i: Int): String =
      s"""m${i}p AS (SELECT cluster, generate_subscripts(uv, 1) AS p, unnest(uv) AS x FROM a$i),
         |m${i}a AS (SELECT cluster, p, avg(x) AS m FROM m${i}p GROUP BY cluster, p),
         |m${i}l AS (SELECT cluster, list(m ORDER BY p) AS mv FROM m${i}a GROUP BY cluster),
         |c$i AS (SELECT i.cluster, CASE WHEN m.mv IS NULL THEN i.c
         |WHEN sqrt(list_dot_product(m.mv, m.mv)) > 0
         |THEN list_transform(m.mv, x -> x / sqrt(list_dot_product(m.mv, m.mv)))
         |ELSE i.c END AS c FROM c${i - 1} i LEFT JOIN m${i}l m USING (cluster))""".stripMargin
    val rounds = (1 to SemDedupIters)
      .map(i => s"${assignCte(s"a$i", s"c${i - 1}")}, ${updateCtes(i)}")
      .mkString(", ")
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e0 WHERE v IS NOT NULL),
       |eu AS (SELECT vec_id, list_transform(v, x -> x / nv) AS uv FROM en WHERE nv > 0),
       |$hashCtes,
       |c0 AS (SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cluster, uv AS c
       |FROM $hashLast ORDER BY u, vec_id LIMIT $SemDedupK),
       |$rounds,
       |${assignCte("af", s"c$SemDedupIters")},
       |pr AS (SELECT vec_id, uv, cluster, dot,
       |CAST(floor(dot * 1e6 + 0.5) AS BIGINT) AS g FROM af),
       |dr AS (SELECT DISTINCT x.vec_id FROM pr x JOIN pr y ON x.cluster = y.cluster
       |AND (y.g < x.g OR (y.g = x.g AND y.vec_id < x.vec_id))
       |AND CAST(floor(list_dot_product(x.uv, y.uv) * 1e6 + 0.5) AS BIGINT) >= $th6)
       |SELECT e.vec_id, CAST(p.cluster AS INTEGER) AS cluster, round(p.dot, 6) AS sim,
       |(d.vec_id IS NULL) AS kept
       |FROM (SELECT vec_id FROM embeddings) e
       |LEFT JOIN pr p USING (vec_id) LEFT JOIN dr d USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin.replace("\n", " ")
  }

  /** CTEs recomputing a DSIR model AND scores end-to-end in DuckDB over an
    * arbitrary (pool, target) pair — shared by q102/q103 (pool =
    * `documents`) and q105 (pool = the canonicalized corpus). `poolRel` and
    * `tgtRel` must expose (doc_id, text). The stream is the tagged union
    * the Spark fit unions too: positional unigram+bigram grams per doc
    * (the `word_ngram_hashes` window semantics —
    * [[EngineWhitespace.TokenRe]] runs joined with single spaces), XXH64
    * per gram via [[xxhashStringCtes]], bucket = `hash % DsirBuckets` (a power
    * of two, so the unsigned mod equals Spark's signed `pmod`), smoothed
    * target/raw bucket log-ratios with the SAME IEEE expression tree as
    * [[graft.ops.Dsir.fitImportanceModel]], and per-doc score sums over
    * the pool side. Final CTE `dsir_out(doc_id, s)` covers every pool
    * document (zero grams → 0.0). `dsir_bk` is AS MATERIALIZED: five
    * downstream references would otherwise each re-inline the ~40-step
    * hash chain — DuckDB evaluates the duplicated pipelines concurrently
    * and the copies OOM'd the default-config oracle even at sf0.001;
    * materializing the narrow (doc_id, tg, b) relation makes the chain
    * run once. */
  /** The q102/q103/q105 DSIR fit config — ONE definition (same anti-drift
    * discipline as [[mixTargets]]) consumed by the Spark queries AND baked
    * into the oracle CTEs below. `DsirBuckets` MUST stay a power of two:
    * the oracle's `hash % m` (unsigned) equals Spark's signed `pmod` only
    * when m divides 2⁶⁴. */
  private val DsirBuckets = 1024

  /** The q119 SemDeDup config — ONE definition consumed by the Spark query
    * AND baked into [[semDedupOracleSql]] (the [[DsirBuckets]] anti-drift
    * discipline). The embeddings fixture is 500 random-gaussian vectors at
    * every SF; k=8 / 2 Lloyd iterations / threshold 0.30 makes the drop set
    * non-empty without knife-edge pairs. */
  /** q128's perplexity-admission ceiling — must BIND (reject some docs,
    * admit some) on the extracted pool at both verify SFs; chosen from the
    * measured ppl3 distribution of that pool. */
  private val WebPipelinePplMax = 60.0

  private val SemDedupK = 8
  private val SemDedupIters = 2
  private val SemDedupSeed = 7L
  private val SemDedupThreshold = 0.30
  private val DsirAlpha = 1.0

  /** The shared hashed-gram feature CTEs over a tagged (pool tg=0, target
    * tg=1) union — everything up to the materialized per-occurrence
    * bucket relation `dsir_bk(doc_id, tg, b)`. Factored so the DSIR
    * oracle (q102/q103/q105) and the quality-classifier oracle (q111)
    * consume the IDENTICAL feature definition — the Spark sides share
    * [[graft.ops.Dsir.gramHashes]] the same way. */
  private def hashedGramBucketCtes(poolRel: String, tgtRel: String): String = {
    require((DsirBuckets & (DsirBuckets - 1)) == 0 && DsirBuckets > 0,
      s"DsirBuckets must be a power of two for the unsigned-mod oracle, got $DsirBuckets")
    val m = DsirBuckets
    val (ctes, last) = xxhashStringCtes("dsir_tok", "xq2_")
    s"""dsir_src AS (SELECT doc_id, 0 AS tg, coalesce(text, '') AS text FROM $poolRel
       |UNION ALL SELECT doc_id, 1 AS tg, coalesce(text, '') AS text FROM $tgtRel),
       |dsir_t AS (SELECT doc_id, tg, regexp_extract_all(text, '[^ \\t\\n\\f\\r]+') AS toks FROM dsir_src),
       |dsir_tok AS (
       |SELECT doc_id, tg, toks[i] AS tok FROM dsir_t, unnest(generate_series(1, len(toks))) AS g(i)
       |UNION ALL
       |SELECT doc_id, tg, toks[i] || ' ' || toks[i+1] AS tok FROM dsir_t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
       |$ctes,
       |dsir_bk AS MATERIALIZED (SELECT doc_id, tg, CAST(hash % $m AS BIGINT) AS b FROM $last)""".stripMargin
  }

  private def dsirScoreCtesFrom(poolRel: String, tgtRel: String): String = {
    val m = DsirBuckets
    val a = dbl(DsirAlpha)
    s"""${hashedGramBucketCtes(poolRel, tgtRel)},
       |dsir_tc AS (SELECT b, count(*) AS c FROM dsir_bk WHERE tg = 1 GROUP BY b),
       |dsir_rc AS (SELECT b, count(*) AS c FROM dsir_bk WHERE tg = 0 GROUP BY b),
       |dsir_lam AS (SELECT r.b AS b,
       |ln((coalesce(tc.c, 0) + $a) / ((SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM dsir_tc) + $a * $m))
       |- ln((coalesce(rc.c, 0) + $a) / ((SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM dsir_rc) + $a * $m)) AS l
       |FROM range(0, $m) r(b) LEFT JOIN dsir_tc tc ON tc.b = r.b LEFT JOIN dsir_rc rc ON rc.b = r.b),
       |dsir_sc AS (SELECT bk.doc_id, sum(lam.l) AS s FROM dsir_bk bk JOIN dsir_lam lam ON bk.b = lam.b
       |WHERE bk.tg = 0 GROUP BY bk.doc_id),
       |dsir_out AS (SELECT p.doc_id, coalesce(sc.s, CAST(0 AS DOUBLE)) AS s
       |FROM $poolRel p LEFT JOIN dsir_sc sc ON p.doc_id = sc.doc_id)""".stripMargin.replace("\n", " ")
  }

  private val dsirEnTarget = "(SELECT doc_id, text FROM documents WHERE lang = 'en')"

  /** CTEs recomputing EXACT BPE token counts per document in DuckDB —
    * the oracle twin of [[graft.functions.BpeCount]]. The vendored
    * merges ride as a VALUES literal of hex byte-strings; the recursion
    * applies each merge once IN RANK ORDER (provably ≡ the engine's
    * lowest-rank-first loop — BpeExpressions scaladoc); symbols live in
    * a '.'-delimited hex string folded by `list_reduce` (a plain-VARCHAR
    * accumulator — DuckDB 1.0's struct accumulators mis-fold), and the
    * recursion runs over DISTINCT pre-tokens, re-joined per doc, so its
    * size is vocabulary × merges, not corpus × merges. Requires the
    * query to open with `WITH RECURSIVE`. Final CTE:
    * `bpe_cnt(doc_id, bpe_exact)` over every `poolRel` row (NULL text →
    * 0). */
  private def bpeCountCtes(poolRel: String): String = {
    val merges = graft.functions.BpeVocab.Builtin.mergesInOrder
    def hx(s: String): String = s.map(c => f"${c.toInt}%02X").mkString
    val mVals = merges.zipWithIndex
      .map { case ((l, r), i) => s"($i, '${hx(l)}', '${hx(r)}')" }.mkString(", ")
    val M = merges.size
    s"""bpe_m(rank, l, r) AS (VALUES $mVals),
       |bpe_d AS (SELECT doc_id, coalesce(text, '') AS text FROM $poolRel),
       |bpe_t AS (SELECT doc_id, regexp_extract_all(text, ' ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+') AS toks FROM bpe_d),
       |bpe_p AS (SELECT doc_id, i, toks[i] AS tok FROM bpe_t, unnest(generate_series(1, len(toks))) AS g(i)),
       |bpe_u AS (SELECT DISTINCT tok FROM bpe_p),
       |bpe_uh AS (SELECT tok, hex(encode(tok)) AS hxs FROM bpe_u),
       |bpe_init AS (SELECT tok, array_to_string(list_transform(range(0, length(hxs) // 2),
       |i -> substr(hxs, CAST(2*i + 1 AS INT), 2)), '.') AS sy FROM bpe_uh),
       |bpe_rec AS (
       |SELECT tok, 0 AS step, sy FROM bpe_init
       |UNION ALL
       |SELECT q.tok, q.step + 1,
       |list_reduce(list_concat([''], string_split(q.sy, '.')),
       |(a, x) -> CASE
       |WHEN a = '' THEN x
       |WHEN (a = m.l OR ends_with(a, '.' || m.l)) AND x = m.r
       |THEN substr(a, 1, length(a) - length(m.l)) || m.l || m.r
       |ELSE a || '.' || x END)
       |FROM bpe_rec q JOIN bpe_m m ON m.rank = q.step WHERE q.step < $M),
       |bpe_tc AS (SELECT tok, CAST(len(string_split(sy, '.')) AS BIGINT) AS n FROM bpe_rec WHERE step = $M),
       |bpe_cnt AS (SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS bpe_exact
       |FROM bpe_d d LEFT JOIN (SELECT p.doc_id, sum(tc.n) AS n
       |FROM bpe_p p JOIN bpe_tc tc ON p.tok = tc.tok GROUP BY p.doc_id) s
       |ON s.doc_id = d.doc_id)""".stripMargin.replace("\n", " ")
  }

  /** CTEs extending [[bpeCountCtes]] to full token-ID sequences — the
    * oracle twin of [[graft.functions.BpeEncode]]. The derived-id table
    * (`bpe_vm`): 256 single-byte symbols → their byte value, each merge
    * RESULT (first producer wins on duplicates) → 256 + rank — exactly
    * [[graft.functions.BpeVocab.idOf]]. Per pre-token, the final
    * '.'-delimited symbol string maps to an id list in symbol order;
    * per doc, token lists concatenate in pre-token position order (the
    * `i` carried by `bpe_p`). Final CTE: `bpe_ids(doc_id, token_ids
    * VARCHAR comma-joined, n_tokens BIGINT)` over every `poolRel` row
    * (NULL/empty text → '', 0). */
  private def bpeIdsCtes(poolRel: String): String = {
    val merges = graft.functions.BpeVocab.Builtin.mergesInOrder
    def hx(s: String): String = s.map(c => f"${c.toInt}%02X").mkString
    val seen = scala.collection.mutable.HashSet[String]()
    val mergeIds = merges.zipWithIndex.flatMap { case ((l, r), i) =>
      val res = hx(l) + hx(r)
      if (seen.add(res)) Some(s"('$res', ${256 + i})") else None
    }
    val byteIds = (0 until 256).map(b => s"('${f"$b%02X"}', $b)")
    val vVals = (byteIds ++ mergeIds).mkString(", ")
    s"""${bpeCountCtes(poolRel)},
       |bpe_vm(sym, id) AS (VALUES $vVals),
       |bpe_ss AS (SELECT tok, string_split(sy, '.') AS ss FROM bpe_rec WHERE step = ${merges.size}),
       |bpe_sx AS (SELECT tok, generate_subscripts(ss, 1) AS j, unnest(ss) AS sym FROM bpe_ss),
       |bpe_tid AS (SELECT x.tok, list(vm.id ORDER BY x.j) AS ids
       |FROM bpe_sx x JOIN bpe_vm vm ON vm.sym = x.sym GROUP BY x.tok),
       |bpe_dl AS (SELECT p.doc_id, flatten(list(t.ids ORDER BY p.i)) AS idl
       |FROM bpe_p p JOIN bpe_tid t ON t.tok = p.tok GROUP BY p.doc_id),
       |bpe_ids AS (SELECT d.doc_id,
       |coalesce(array_to_string(l.idl, ','), '') AS token_ids,
       |CAST(coalesce(len(l.idl), 0) AS BIGINT) AS n_tokens
       |FROM bpe_d d LEFT JOIN bpe_dl l ON l.doc_id = d.doc_id)""".stripMargin.replace("\n", " ")
  }

  /** Stupid-backoff scoring CTEs over `rel(doc_id, text)` — the oracle
    * twin of [[graft.ops.TextAnalysis.fitStupidBackoffLm]] +
    * [[graft.ops.TextAnalysis.stupidBackoffPerplexity]]: reference =
    * `doc_id % 3 = 0` slice of `rel`, counts by gram STRING (== the
    * engine's XXH64 keys absent collisions), trigram windows with the
    * backoff CASE chain (α = 0.4, OOV = α²/N). Terminal CTE:
    * `bk_sc(doc_id, ppl3)` — one row per SCORED doc (≥ 3 tokens);
    * consumers LEFT JOIN for full coverage. */
  private def backoffPplCtes(rel: String): String =
    s"""bk_t AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), '[^ \\t\\n\\f\\r]+') AS toks
       |FROM $rel),
       |bk_ref AS (SELECT * FROM bk_t WHERE doc_id % 3 = 0),
       |bk_r1 AS (SELECT toks[i] AS g FROM bk_ref, unnest(generate_series(1, len(toks))) AS u(i)),
       |bk_c1 AS (SELECT g, count(*) AS c FROM bk_r1 GROUP BY g),
       |bk_n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM bk_r1),
       |bk_r2 AS (SELECT toks[i] || ' ' || toks[i+1] AS g
       |FROM bk_ref, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
       |bk_c2 AS (SELECT g, count(*) AS c FROM bk_r2 GROUP BY g),
       |bk_r3 AS (SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
       |FROM bk_ref, unnest(generate_series(1, len(toks) - 2)) AS u(i)),
       |bk_c3 AS (SELECT g, count(*) AS c FROM bk_r3 GROUP BY g),
       |bk_pos AS (SELECT doc_id,
       |toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tg,
       |toks[i] || ' ' || toks[i+1] AS cx2,
       |toks[i+1] || ' ' || toks[i+2] AS bg,
       |toks[i+1] AS cx1, toks[i+2] AS ug
       |FROM bk_t, unnest(generate_series(1, len(toks) - 2)) AS u(i)),
       |bk_j AS (SELECT doc_id,
       |CASE WHEN tc.c IS NOT NULL THEN ln(CAST(tc.c AS DOUBLE) / cx2c.c)
       |WHEN bc.c IS NOT NULL THEN ln(0.4) + ln(CAST(bc.c AS DOUBLE) / cx1c.c)
       |WHEN uc.c IS NOT NULL THEN 2*ln(0.4) + ln(CAST(uc.c AS DOUBLE) / total)
       |ELSE 2*ln(0.4) + ln(1.0 / total) END AS s
       |FROM bk_pos
       |LEFT JOIN bk_c3 tc ON bk_pos.tg = tc.g
       |LEFT JOIN bk_c2 cx2c ON bk_pos.cx2 = cx2c.g
       |LEFT JOIN bk_c2 bc ON bk_pos.bg = bc.g
       |LEFT JOIN bk_c1 cx1c ON bk_pos.cx1 = cx1c.g
       |LEFT JOIN bk_c1 uc ON bk_pos.ug = uc.g
       |CROSS JOIN bk_n),
       |bk_sc AS (SELECT doc_id, round(exp(-avg(s)), 6) AS ppl3 FROM bk_j GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** CTEs recomputing the [[graft.functions.PngAHash64]] /
    * [[graft.functions.PngDHash64]] grid hashes in pure SQL over a pixel
    * relation `pm(media_id, w, h, px)` — px is the fixture's `6·w·h` hex
    * chars of 3-byte RGB pixels. Per-pixel luma = the three byte values
    * summed; 8×8 (aHash) / 9×8 (dHash) floor-div grid cells; integer
    * cross-multiplied comparisons — the exact expression semantics, no
    * floats anywhere. Terminal CTEs `ph_ah(media_id, ah_hi, ah_lo)` /
    * `ph_dh(media_id, dh_hi, dh_lo)` carry unsigned 32-bit halves;
    * images with NO set bits have no row (consumers LEFT JOIN +
    * coalesce 0). */
  private def phashCtes(pm: String): String =
    s"""ph_v AS (SELECT media_id, w, h,
       |CAST(i % w AS INTEGER) AS x, CAST(i // w AS INTEGER) AS y,
       |(strpos('0123456789ABCDEF', substr(px, 6*i+1, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(px, 6*i+2, 1)) - 1)
       |+ (strpos('0123456789ABCDEF', substr(px, 6*i+3, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(px, 6*i+4, 1)) - 1)
       |+ (strpos('0123456789ABCDEF', substr(px, 6*i+5, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(px, 6*i+6, 1)) - 1) AS luma
       |FROM (SELECT media_id, w, h, px, unnest(range(0, w*h)) AS i FROM $pm)),
       |ph_ac AS (SELECT media_id, (y*8//h)*8 + (x*8//w) AS cell,
       |sum(luma) AS s, count(*) AS c FROM ph_v GROUP BY media_id, cell),
       |ph_at AS (SELECT media_id, sum(s) AS ts, sum(c) AS tc FROM ph_ac GROUP BY media_id),
       |ph_ab AS (SELECT ph_ac.media_id, ph_ac.cell AS b FROM ph_ac JOIN ph_at
       |ON ph_ac.media_id = ph_at.media_id
       |WHERE ph_ac.s * ph_at.tc > ph_at.ts * ph_ac.c),
       |ph_ah AS (SELECT media_id,
       |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS ah_hi,
       |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS ah_lo
       |FROM ph_ab GROUP BY media_id),
       |ph_dc AS (SELECT media_id, (y*8//h)*9 + (x*9//w) AS cell,
       |sum(luma) AS s, count(*) AS c FROM ph_v GROUP BY media_id, cell),
       |ph_db AS (SELECT l.media_id, (l.cell//9)*8 + (l.cell%9) AS b
       |FROM ph_dc l JOIN ph_dc r ON l.media_id = r.media_id AND r.cell = l.cell + 1
       |WHERE l.cell % 9 < 8 AND l.s * r.c > r.s * l.c),
       |ph_dh AS (SELECT media_id,
       |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS dh_hi,
       |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS dh_lo
       |FROM ph_db GROUP BY media_id)""".stripMargin.replace("\n", " ")

  /** The q139 image-curation oracle (battery gates → exact groups →
    * banding → recursive clustering over the q135 crawl fixture),
    * parameterized with an extra status arm so the GIF-planted q149
    * fixture reuses the whole replay verbatim. */
  private def imageCurationOracleSql(extraArm: String): String =
    s"""WITH RECURSIVE m0 AS (SELECT doc_id,
         |CAST(CASE WHEN doc_id % 7 = 0 THEN 8 ELSE doc_id % 6 + 6 END AS INTEGER) AS w,
         |CAST(CASE WHEN doc_id % 7 = 0 THEN 6 ELSE doc_id % 4 + 5 END AS INTEGER) AS h,
         |CASE WHEN doc_id % 7 = 0 THEN '' ELSE hex(encode(text)) END AS hx
         |FROM documents WHERE text IS NOT NULL),
         |mbase AS (SELECT doc_id, w, h,
         |substr(hx || repeat('41', 3*w*h), 1, 6*w*h) AS px FROM m0),
         |med AS (SELECT doc_id*10 AS media_id, w, h, px FROM mbase
         |UNION ALL SELECT doc_id*10+1, w, h, '000000' || substr(px, 7) FROM mbase
         |WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0),
         |s1 AS (SELECT media_id, w, h, px, unnest(range(0, 3*w*h)) AS i FROM med),
         |v1 AS (SELECT media_id, i % 3 AS c,
         |(strpos('0123456789ABCDEF', substr(px, 2*i+1, 1)) - 1) * 16
         |+ (strpos('0123456789ABCDEF', substr(px, 2*i+2, 1)) - 1) AS u FROM s1),
         |cs1 AS (SELECT media_id, c, sum(u) AS su, min(u) AS mn, max(u) AS mx
         |FROM v1 GROUP BY media_id, c),
         |ag AS (SELECT media_id, sum(su) AS stot, max(mx - mn) AS dr
         |FROM cs1 GROUP BY media_id),
         |gt AS (SELECT med.media_id,
         |(least(med.w, med.h) >= 6
         |AND CAST(greatest(med.w, med.h) AS DOUBLE) / least(med.w, med.h) <= 2.2
         |AND ag.dr >= 0
         |AND CAST(ag.stot AS DOUBLE) / (3*med.w*med.h) BETWEEN 60.0 AND 200.0) AS p
         |FROM med JOIN ag ON med.media_id = ag.media_id),
         |poolm AS (SELECT med.media_id, med.w, med.h, med.px FROM med
         |JOIN gt ON med.media_id = gt.media_id AND gt.p),
         |eg AS (SELECT media_id, w, h, px,
         |min(media_id) OVER (PARTITION BY w, h, px) AS ekeep FROM poolm),
         |ed AS (SELECT media_id, ekeep FROM eg WHERE media_id <> ekeep),
         |pm AS (SELECT media_id, w, h, px FROM eg WHERE media_id = ekeep),
         |${phashCtes("pm")},
         |sig AS (SELECT pm.media_id,
         |CAST(COALESCE(ph_ah.ah_hi, 0) AS BIGINT) AS hi,
         |CAST(COALESCE(ph_ah.ah_lo, 0) AS BIGINT) AS lo
         |FROM pm LEFT JOIN ph_ah ON pm.media_id = ph_ah.media_id),
         |ch AS (SELECT media_id, hi, lo,
         |unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS key,
         |unnest([0, 1, 2, 3]) AS chunk FROM sig),
         |cand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
         |a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
         |FROM ch a JOIN ch b
         |ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id),
         |pr AS (SELECT ma, mb FROM cand
         |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3),
         |e AS (SELECT ma AS s, mb AS t FROM pr UNION ALL SELECT mb, ma FROM pr),
         |reach(id, r) AS (SELECT media_id, media_id FROM pm
         |UNION SELECT e.t, reach.r FROM reach JOIN e ON e.s = reach.id),
         |cl AS (SELECT id AS media_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |nk AS (SELECT media_id,
         |min(media_id) OVER (PARTITION BY cluster_id) AS nkeep FROM cl)
         |SELECT CAST(media_id AS BIGINT) AS media_id,
         |'quality_reject' AS status, CAST(media_id AS BIGINT) AS keeper
         |FROM gt WHERE NOT p
         |UNION ALL
         |SELECT CAST(poolm.media_id AS BIGINT) AS media_id,
         |CASE WHEN ed.media_id IS NOT NULL THEN 'exact_dup'
         |WHEN nk.nkeep <> poolm.media_id THEN 'near_dup'
         |ELSE 'kept' END AS status,
         |CAST(COALESCE(ed.ekeep,
         |CASE WHEN nk.nkeep <> poolm.media_id THEN nk.nkeep END,
         |poolm.media_id) AS BIGINT) AS keeper
         |FROM poolm LEFT JOIN ed ON poolm.media_id = ed.media_id
         |LEFT JOIN nk ON poolm.media_id = nk.media_id
         |$extraArm ORDER BY media_id""".stripMargin.replace("\n", " ")

  /** The mixed-codec crawl capstone replay (q142 AND q153 — the WebP
    * crawl fixture carries identical decoded pixel content per
    * (doc_id, text) under a content-bijective encoder, so one oracle
    * serves both): gates over the unified signal relation, exact groups
    * by codec-tagged content key, banding + recursive clustering over
    * the unified hash relation. */
  private def mixedCurationOracleSql: String =
    s"""WITH RECURSIVE $mixedMediaCtes,
       |tpx AS (SELECT media_id,
       |string_agg(repeat(substr(vhx, 2*i+1, 2), 3), '' ORDER BY i) AS px
       |FROM (SELECT media_id, vhx, unnest(range(0, 64)) AS i FROM tm)
       |GROUP BY media_id),
       |allm AS (SELECT media_id, 'p:' || w || ':' || h || ':' || px AS ck FROM pm
       |UNION ALL SELECT media_id, 'j:' || vhx FROM jm
       |UNION ALL SELECT media_id, 'p:8:8:' || px FROM tpx),
       |gt AS (SELECT media_id,
       |(least(w, h) >= 6
       |AND CAST(greatest(w, h) AS DOUBLE) / least(w, h) <= 2.2
       |AND dr >= 0
       |AND CAST(stot AS DOUBLE) / npxch BETWEEN 60.0 AND 200.0) AS p FROM mx_sig),
       |poolk AS (SELECT allm.media_id, allm.ck FROM allm
       |JOIN gt ON allm.media_id = gt.media_id AND gt.p),
       |eg AS (SELECT media_id, ck,
       |min(media_id) OVER (PARTITION BY ck) AS ekeep FROM poolk),
       |ed AS (SELECT media_id, ekeep FROM eg WHERE media_id <> ekeep),
       |sv AS (SELECT media_id FROM eg WHERE media_id = ekeep),
       |sig AS (SELECT sv.media_id,
       |CAST(COALESCE(a.ah_hi, 0) AS BIGINT) AS hi,
       |CAST(COALESCE(a.ah_lo, 0) AS BIGINT) AS lo
       |FROM sv LEFT JOIN mx_ah a ON sv.media_id = a.media_id),
       |ch AS (SELECT media_id, hi, lo,
       |unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS key,
       |unnest([0, 1, 2, 3]) AS chunk FROM sig),
       |cand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
       |a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
       |FROM ch a JOIN ch b
       |ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id),
       |pr AS (SELECT ma, mb FROM cand
       |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3),
       |e AS (SELECT ma AS s, mb AS t FROM pr UNION ALL SELECT mb, ma FROM pr),
       |reach(id, r) AS (SELECT media_id, media_id FROM sv
       |UNION SELECT e.t, reach.r FROM reach JOIN e ON e.s = reach.id),
       |cl AS (SELECT id AS media_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |nk AS (SELECT media_id,
       |min(media_id) OVER (PARTITION BY cluster_id) AS nkeep FROM cl)
       |SELECT CAST(media_id AS BIGINT) AS media_id,
       |'quality_reject' AS status, CAST(media_id AS BIGINT) AS keeper
       |FROM gt WHERE NOT p
       |UNION ALL
       |SELECT CAST(poolk.media_id AS BIGINT) AS media_id,
       |CASE WHEN ed.media_id IS NOT NULL THEN 'exact_dup'
       |WHEN nk.nkeep <> poolk.media_id THEN 'near_dup'
       |ELSE 'kept' END AS status,
       |CAST(COALESCE(ed.ekeep,
       |CASE WHEN nk.nkeep <> poolk.media_id THEN nk.nkeep END,
       |poolk.media_id) AS BIGINT) AS keeper
       |FROM poolk LEFT JOIN ed ON poolk.media_id = ed.media_id
       |LEFT JOIN nk ON poolk.media_id = nk.media_id
       |ORDER BY media_id""".stripMargin.replace("\n", " ")

  /** CTEs reconstructing the MIXED-codec crawl fixture
    * ([[graft.multimodal.Multimodal.warcMixedImageCrawlFromDocuments]])
    * analytically: PNG rows as pixel-hex relations (the q135/q136 shape),
    * JPEG rows as their 64 mosaic BLOCK VALUES (`vhx`, 128 hex chars) —
    * the decoded pixels, which round-trip bit-exactly per JpegFixtures,
    * so no entropy bytes are ever needed. Terminal CTEs:
    *   - `pm(media_id, w, h, px)` — PNG mains + dent variants;
    *   - `jm(media_id, vhx)` / `tm(media_id, vhx)` — JPEG mains +
    *     XOR-1-dent variants / cross-codec 8×8 PNG thumbnails;
    *   - `mx_sig(media_id, kind, w, h, stot, npxch, dr)` — battery
    *     signals for every media row (`mean_luma = stot/npxch`);
    *   - `mx_ah(media_id, ah_hi, ah_lo)` — aHash halves for every row
    *     with ≥1 set bit (consumers LEFT JOIN + coalesce 0): PNGs via
    *     [[phashCtes]], JPEG mosaics as one cell per block (s = 64·v,
    *     c = 64), thumbnails one pixel per cell (s = 3·v, c = 1) — the
    *     scale-invariant cross-multiplications make the three agree
    *     exactly with the engine's per-pixel grid walk. */
  private def mixedMediaCtes: String =
    s"""mx0 AS (SELECT doc_id, text,
       |(doc_id % 7 <> 0 AND doc_id % 3 = 1) AS isjpeg,
       |(doc_id % 7 <> 0 AND doc_id % 3 = 1 AND doc_id % 33 = 1) AS jconst,
       |(doc_id % 7 <> 0 AND doc_id % 3 = 1 AND doc_id % 33 <> 1 AND doc_id % 17 = 2) AS bright
       |FROM documents WHERE text IS NOT NULL),
       |mp0 AS (SELECT doc_id,
       |CAST(CASE WHEN doc_id % 7 = 0 THEN 8 ELSE doc_id % 6 + 6 END AS INTEGER) AS w,
       |CAST(CASE WHEN doc_id % 7 = 0 THEN 6 ELSE doc_id % 4 + 5 END AS INTEGER) AS h,
       |CASE WHEN doc_id % 7 = 0 THEN '' ELSE hex(encode(text)) END AS hx
       |FROM mx0 WHERE NOT isjpeg),
       |mpb AS (SELECT doc_id, w, h,
       |substr(hx || repeat('41', 3*w*h), 1, 6*w*h) AS px FROM mp0),
       |pm AS (SELECT doc_id*10 AS media_id, w, h, px FROM mpb
       |UNION ALL SELECT doc_id*10+1, w, h, '000000' || substr(px, 7) FROM mpb
       |WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0),
       |mj0 AS (SELECT doc_id, jconst, bright,
       |CASE WHEN jconst THEN hex(encode(substr(repeat('GRAFTJPEGCONSTANTGROUP', 3), 1, 64)))
       |WHEN bright THEN repeat('FA', 64)
       |ELSE substr(hex(encode(text)) || repeat('41', 64), 1, 128) END AS vhx
       |FROM mx0 WHERE isjpeg),
       |mjd AS (SELECT doc_id, substr(vhx, 1, 1) ||
       |substr('0123456789ABCDEF',
       |xor(strpos('0123456789ABCDEF', substr(vhx, 2, 1)) - 1, 1) + 1, 1) ||
       |substr(vhx, 3) AS vhx
       |FROM mj0 WHERE NOT jconst AND NOT bright AND doc_id % 5 = 0),
       |jm AS (SELECT doc_id*10 AS media_id, vhx FROM mj0
       |UNION ALL SELECT doc_id*10+1, vhx FROM mjd),
       |tm AS (SELECT doc_id*10+2 AS media_id, vhx FROM mj0
       |WHERE NOT jconst AND NOT bright AND doc_id % 13 = 3),
       |jv AS (SELECT media_id, i AS cell,
       |(strpos('0123456789ABCDEF', substr(vhx, 2*i+1, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(vhx, 2*i+2, 1)) - 1) AS v
       |FROM (SELECT media_id, vhx, unnest(range(0, 64)) AS i FROM jm)),
       |tv AS (SELECT media_id, i AS cell,
       |(strpos('0123456789ABCDEF', substr(vhx, 2*i+1, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(vhx, 2*i+2, 1)) - 1) AS v
       |FROM (SELECT media_id, vhx, unnest(range(0, 64)) AS i FROM tm)),
       |mxjc AS (SELECT media_id, cell, 64*v AS s, CAST(64 AS BIGINT) AS c FROM jv
       |UNION ALL SELECT media_id, cell, 3*v, 1 FROM tv),
       |mxjt AS (SELECT media_id, sum(s) AS ts, sum(c) AS tc FROM mxjc GROUP BY media_id),
       |mxjb AS (SELECT mxjc.media_id, cell AS b FROM mxjc
       |JOIN mxjt ON mxjc.media_id = mxjt.media_id
       |WHERE mxjc.s * mxjt.tc > mxjt.ts * mxjc.c),
       |mxj_ah AS (SELECT media_id,
       |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS ah_hi,
       |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS ah_lo
       |FROM mxjb GROUP BY media_id),
       |${phashCtes("pm")},
       |mx_ah AS (SELECT media_id, ah_hi, ah_lo FROM ph_ah
       |UNION ALL SELECT media_id, ah_hi, ah_lo FROM mxj_ah),
       |ps1 AS (SELECT media_id, w, h, px, unnest(range(0, 3*w*h)) AS i FROM pm),
       |ps2 AS (SELECT media_id, i % 3 AS ci,
       |(strpos('0123456789ABCDEF', substr(px, 2*i+1, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(px, 2*i+2, 1)) - 1) AS u FROM ps1),
       |ps3 AS (SELECT media_id, ci, sum(u) AS su, min(u) AS mn, max(u) AS mx
       |FROM ps2 GROUP BY media_id, ci),
       |psig AS (SELECT pm.media_id, 'png' AS kind, pm.w, pm.h,
       |sum(ps3.su) AS stot, 3*pm.w*pm.h AS npxch, max(ps3.mx - ps3.mn) AS dr
       |FROM ps3 JOIN pm ON ps3.media_id = pm.media_id
       |GROUP BY pm.media_id, pm.w, pm.h),
       |jsig AS (SELECT media_id, 'jpg' AS kind, 64 AS w, 64 AS h,
       |64*sum(v) AS stot, 4096 AS npxch, max(v) - min(v) AS dr
       |FROM jv GROUP BY media_id),
       |tsig AS (SELECT media_id, 'png' AS kind, 8 AS w, 8 AS h,
       |3*sum(v) AS stot, 192 AS npxch, max(v) - min(v) AS dr
       |FROM tv GROUP BY media_id),
       |mx_sig AS (SELECT * FROM psig UNION ALL SELECT * FROM jsig
       |UNION ALL SELECT * FROM tsig)""".stripMargin.replace("\n", " ")

  /** CTEs reconstructing the sampled-video fixture
    * ([[graft.multimodal.Multimodal.videoWithSamplesFromDocuments]]) and
    * its stsz contour hash: `vmm(media_id, doc_id, isconst, isvar, vhx)`
    * — mains + re-mux variants sharing the main's size bytes — and
    * `vs_ah(media_id, sh_hi, sh_lo)` (rows only for hashes with ≥1 set
    * bit; consumers LEFT JOIN + coalesce 0). Window sums are L = 2
    * consecutive size bytes (130 samples / 65 windows), bit `b` iff
    * `win(b) > win(b+1)` — the engine's exact integer convention. */
  private def videoHashCtes(
      mainId: String = "doc_id*10", varId: String = "doc_id*10+1"): String =
    s"""vm0 AS (SELECT doc_id, (doc_id % 9 = 0) AS isconst,
       |CASE WHEN doc_id % 9 = 0
       |THEN hex(encode(substr(repeat('GRAFTVIDEOCONSTANTGROUP!', 6), 1, 130)))
       |ELSE substr(hex(encode(text)) || repeat('41', 130), 1, 260) END AS vhx
       |FROM documents WHERE text IS NOT NULL),
       |vmm AS (SELECT $mainId AS media_id, doc_id, isconst, 0 AS isvar, vhx FROM vm0
       |UNION ALL SELECT $varId, doc_id, isconst, 1, vhx FROM vm0
       |WHERE NOT isconst AND doc_id % 4 = 1),
       |vsw AS (SELECT media_id, w, sum(v) AS e FROM
       |(SELECT media_id, i // 2 AS w,
       |(strpos('0123456789ABCDEF', substr(vhx, 2*i+1, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(vhx, 2*i+2, 1)) - 1) AS v
       |FROM (SELECT media_id, vhx, unnest(range(0, 130)) AS i FROM vmm))
       |GROUP BY media_id, w),
       |vsb AS (SELECT l.media_id, l.w AS b FROM vsw l JOIN vsw r
       |ON l.media_id = r.media_id AND r.w = l.w + 1
       |WHERE l.w < 64 AND l.e > r.e),
       |vs_ah AS (SELECT media_id,
       |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS sh_hi,
       |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS sh_lo
       |FROM vsb GROUP BY media_id)""".stripMargin.replace("\n", " ")

  /** CTEs replaying the AUDIO slice of
    * [[graft.multimodal.Multimodal.multimodalMediaFromDocuments]] through
    * the [[graft.ops.MediaPipeline.curateAudio]] capstone at the
    * q146/q147 policy (rate ≥ 16000, channels ≤ 1 — pure doc_id
    * arithmetic, duration/level/clip floors chosen to pass every
    * decodable clip): gates → exact groups by content key (sr, ch,
    * LIST-flag, text bytes) → envelope-hash banding over survivors with
    * ≥ 65 samples (the q138 window math) → recursive clustering.
    * Terminal CTE: `a_st(media_id, status, keeper)`. */
  /** The q155 doc-arithmetic replay CTEs for the compressed-audio
    * fixture (knobs + derived rates/bitrates/sample counts), ending
    * with `m2` — factored so the q157 gate-battery oracle reuses the
    * SAME arithmetic. Callers prepend `WITH `. */
  private def compressedAudioMetaCtes: String =
    """p AS (SELECT doc_id AS d FROM documents),
        |m AS (SELECT d, d % 3 AS c, d % 2 = 0 AS v1,
        |  d % 14 + 1 AS bra, (d % 14 + 1) % 14 + 1 AS brb,
        |  (d // 3) % 3 AS sri, d % 5 + 3 AS n, d % 7 = 3 AS isvbr,
        |  d % 4 = 0 AS mono,
        |  CASE WHEN d % 4 = 1 THEN d % 96 + 8 ELSE 0 END AS id3pad,
        |  (d % 8 + 1) * 6000 AS fsr, d % 2 + 1 AS fch,
        |  ((d // 3) % 3 + 1) * 8 AS fbps, d % 100000 + 1000 AS ftotal,
        |  d % 4 = 2 AS fpad, d % 2 = 0 AS opus, d % 100000 AS serial
        |  FROM p),
        |m2 AS (SELECT *,
        |  CASE WHEN v1 THEN ([44100,48000,32000])[sri + 1]
        |       ELSE ([22050,24000,16000])[sri + 1] END AS msr,
        |  CASE WHEN v1 THEN ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bra + 1]
        |       ELSE ([0,8,16,24,32,40,48,56,64,80,96,112,128,144,160])[bra + 1] END AS ka,
        |  CASE WHEN v1 THEN ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320])[brb + 1]
        |       ELSE ([0,8,16,24,32,40,48,56,64,80,96,112,128,144,160])[brb + 1] END AS kb,
        |  CASE WHEN v1 THEN 1152 ELSE 576 END AS spf,
        |  CASE WHEN opus THEN d % 50000 + 4800 ELSE d % 50000 + 4410 END AS osamples,
        |  CASE WHEN opus THEN 48000 WHEN d % 4 = 1 THEN 44100 ELSE 48000 END AS osr,
        |  CASE WHEN opus THEN (d % 4) // 2 + 1 ELSE (d % 4 + 1) // 2 END AS och,
        |  (d % 10 + 1) * 16000 AS onom
        |  FROM m)""".stripMargin.replace("\n", " ")

  /** The all-modality curation status replay (audio + image + video
    * gates-then-ladder chains over the multimodalMediaFromDocuments
    * fixture), ending with the `i_st` / `a_st` / `v_st`
    * `(media_id, status, keeper)` relations — factored out of the q147
    * oracle so the q156 multimodal-training oracle composes the SAME
    * statuses with the q81 text chain. Callers prepend
    * `WITH RECURSIVE `. */
  private def allModalityStatusCtes: String =
    s"""$audioStatusCtes,
         |im0 AS (SELECT doc_id, CAST(doc_id % 6 + 2 AS INTEGER) AS w,
         |CAST(doc_id % 4 + 2 AS INTEGER) AS h,
         |hex(encode(text)) AS hx FROM documents WHERE text IS NOT NULL),
         |imb AS (SELECT doc_id, w, h,
         |substr(hx || repeat('41', 3*w*h), 1, 6*w*h) AS px FROM im0),
         |ipm AS (SELECT doc_id*100+11 AS media_id, w, h, px FROM imb
         |UNION ALL SELECT doc_id*100+21, w, h, px FROM imb WHERE doc_id % 6 = 0
         |UNION ALL SELECT doc_id*100+31, w, h, '000000' || substr(px, 7) FROM imb
         |WHERE doc_id % 7 = 1),
         |is1 AS (SELECT media_id, w, h, px, unnest(range(0, 3*w*h)) AS i FROM ipm),
         |iv1 AS (SELECT media_id, i % 3 AS c,
         |(strpos('0123456789ABCDEF', substr(px, 2*i+1, 1)) - 1) * 16
         |+ (strpos('0123456789ABCDEF', substr(px, 2*i+2, 1)) - 1) AS u FROM is1),
         |ics AS (SELECT media_id, c, sum(u) AS su, min(u) AS mn, max(u) AS mx
         |FROM iv1 GROUP BY media_id, c),
         |iag AS (SELECT media_id, sum(su) AS stot, max(mx - mn) AS dr
         |FROM ics GROUP BY media_id),
         |igt AS (SELECT ipm.media_id,
         |(least(ipm.w, ipm.h) >= 2
         |AND CAST(greatest(ipm.w, ipm.h) AS DOUBLE) / least(ipm.w, ipm.h) <= 2.2
         |AND iag.dr >= 0
         |AND CAST(iag.stot AS DOUBLE) / (3*ipm.w*ipm.h) BETWEEN 60.0 AND 200.0) AS p
         |FROM ipm JOIN iag ON ipm.media_id = iag.media_id),
         |ipool AS (SELECT ipm.* FROM ipm JOIN igt ON ipm.media_id = igt.media_id AND igt.p),
         |ieg AS (SELECT media_id, min(media_id) OVER (PARTITION BY
         |'i:' || w || ':' || h || ':' || px) AS ekeep FROM ipool),
         |ied AS (SELECT media_id, ekeep FROM ieg WHERE media_id <> ekeep),
         |isvv AS (SELECT ipool.media_id, ipool.w, ipool.h, ipool.px FROM ipool
         |JOIN ieg ON ipool.media_id = ieg.media_id AND ieg.media_id = ieg.ekeep),
         |${phashCtes("isvv")},
         |isig AS (SELECT isvv.media_id,
         |CAST(COALESCE(ph_ah.ah_hi, 0) AS BIGINT) AS hi,
         |CAST(COALESCE(ph_ah.ah_lo, 0) AS BIGINT) AS lo
         |FROM isvv LEFT JOIN ph_ah ON isvv.media_id = ph_ah.media_id),
         |ich AS (SELECT media_id, hi, lo,
         |unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS key,
         |unnest([0, 1, 2, 3]) AS chunk FROM isig),
         |icand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
         |a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
         |FROM ich a JOIN ich b
         |ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id),
         |ipr AS (SELECT ma, mb FROM icand
         |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3),
         |ie2 AS (SELECT ma AS s, mb AS t FROM ipr UNION ALL SELECT mb, ma FROM ipr),
         |ireach(id, r) AS (SELECT media_id, media_id FROM isvv
         |UNION SELECT ie2.t, ireach.r FROM ireach JOIN ie2 ON ie2.s = ireach.id),
         |icl AS (SELECT id AS media_id, min(r) AS cluster_id FROM ireach GROUP BY id),
         |ink AS (SELECT media_id,
         |min(media_id) OVER (PARTITION BY cluster_id) AS nkeep FROM icl),
         |i_st AS (SELECT CAST(ipm.media_id AS BIGINT) AS media_id,
         |CASE WHEN NOT igt.p THEN 'quality_reject'
         |WHEN ied.media_id IS NOT NULL THEN 'exact_dup'
         |WHEN ink.nkeep <> ipm.media_id THEN 'near_dup'
         |ELSE 'kept' END AS status,
         |CAST(CASE WHEN NOT igt.p THEN ipm.media_id
         |ELSE COALESCE(ied.ekeep,
         |CASE WHEN ink.nkeep <> ipm.media_id THEN ink.nkeep END,
         |ipm.media_id) END AS BIGINT) AS keeper
         |FROM ipm JOIN igt ON ipm.media_id = igt.media_id
         |LEFT JOIN ied ON ipm.media_id = ied.media_id
         |LEFT JOIN ink ON ipm.media_id = ink.media_id),
         |${videoHashCtes("doc_id*100+13", "doc_id*100+23")},
         |vdim AS (SELECT media_id, isconst, isvar,
         |(CASE WHEN isconst THEN 600 ELSE 600*(doc_id % 4 + 1) END)
         |* (CASE WHEN isvar = 1 THEN 2 ELSE 1 END) AS ts,
         |CASE WHEN isconst THEN 1200 ELSE doc_id % 9000 + 600 END AS dur,
         |CASE WHEN isconst THEN 320 ELSE (doc_id % 8)*160 + 320 END AS w,
         |CASE WHEN isconst THEN 240 ELSE (doc_id % 6)*120 + 240 END AS h
         |FROM vmm),
         |vgt AS (SELECT media_id,
         |(dur*1000 // ts BETWEEN 100 AND 20000
         |AND least(w, h) >= 240
         |AND CAST(greatest(w, h) AS DOUBLE) / least(w, h) <= 2.2) AS p FROM vdim),
         |vpool AS (SELECT vmm.* FROM vmm JOIN vgt ON vmm.media_id = vgt.media_id AND vgt.p),
         |veg AS (SELECT media_id, min(media_id) OVER (PARTITION BY
         |CASE WHEN isconst THEN 'vc' ELSE 'v:' || media_id END) AS ekeep FROM vpool),
         |ved AS (SELECT media_id, ekeep FROM veg WHERE media_id <> ekeep),
         |vsvv AS (SELECT media_id FROM veg WHERE media_id = ekeep),
         |vsig AS (SELECT vsvv.media_id,
         |CAST(COALESCE(vs_ah.sh_hi, 0) AS BIGINT) AS hi,
         |CAST(COALESCE(vs_ah.sh_lo, 0) AS BIGINT) AS lo
         |FROM vsvv LEFT JOIN vs_ah ON vsvv.media_id = vs_ah.media_id),
         |vch AS (SELECT media_id, hi, lo,
         |unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS key,
         |unnest([0, 1, 2, 3]) AS chunk FROM vsig),
         |vcand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
         |a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
         |FROM vch a JOIN vch b
         |ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id),
         |vpr AS (SELECT ma, mb FROM vcand
         |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3),
         |ve2 AS (SELECT ma AS s, mb AS t FROM vpr UNION ALL SELECT mb, ma FROM vpr),
         |vreach(id, r) AS (SELECT media_id, media_id FROM vsvv
         |UNION SELECT ve2.t, vreach.r FROM vreach JOIN ve2 ON ve2.s = vreach.id),
         |vcl AS (SELECT id AS media_id, min(r) AS cluster_id FROM vreach GROUP BY id),
         |vnk AS (SELECT media_id,
         |min(media_id) OVER (PARTITION BY cluster_id) AS nkeep FROM vcl),
         |v_st AS (SELECT CAST(vmm.media_id AS BIGINT) AS media_id,
         |CASE WHEN NOT vgt.p THEN 'quality_reject'
         |WHEN ved.media_id IS NOT NULL THEN 'exact_dup'
         |WHEN vnk.nkeep <> vmm.media_id THEN 'near_dup'
         |ELSE 'kept' END AS status,
         |CAST(CASE WHEN NOT vgt.p THEN vmm.media_id
         |ELSE COALESCE(ved.ekeep,
         |CASE WHEN vnk.nkeep <> vmm.media_id THEN vnk.nkeep END,
         |vmm.media_id) END AS BIGINT) AS keeper
         |FROM vmm JOIN vgt ON vmm.media_id = vgt.media_id
         |LEFT JOIN ved ON vmm.media_id = ved.media_id
         |LEFT JOIN vnk ON vmm.media_id = vnk.media_id)""".stripMargin.replace("\n", " ")

  private def audioStatusCtes: String =
    s"""am0 AS (SELECT doc_id, hex(encode(text)) AS hx,
       |octet_length(encode(text)) AS nb,
       |CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) AS sr,
       |CAST(1 + doc_id % 2 AS BIGINT) AS ach
       |FROM documents WHERE text IS NOT NULL),
       |amm AS (SELECT doc_id*100+12 AS media_id, doc_id, sr, ach, hx, nb, 0 AS lst FROM am0
       |UNION ALL SELECT doc_id*100+22, doc_id, sr, ach, hx, nb, 0 FROM am0
       |WHERE doc_id % 6 = 0
       |UNION ALL SELECT doc_id*100+32, doc_id, sr, ach, hx, nb, 1 FROM am0
       |WHERE doc_id % 7 = 1),
       |agt AS (SELECT media_id, (sr >= 16000 AND ach <= 1 AND nb // 2 >= 1) AS p FROM amm),
       |apool AS (SELECT amm.* FROM amm JOIN agt ON amm.media_id = agt.media_id AND agt.p),
       |aeg AS (SELECT media_id, min(media_id) OVER (PARTITION BY
       |'a:' || sr || ':' || ach || ':' || lst || ':' || hx) AS ekeep FROM apool),
       |aed AS (SELECT media_id, ekeep FROM aeg WHERE media_id <> ekeep),
       |asv AS (SELECT media_id FROM aeg WHERE media_id = ekeep),
       |aw AS (SELECT asv.media_id, amm.hx, amm.nb // 2 AS ns FROM asv
       |JOIN amm ON asv.media_id = amm.media_id WHERE amm.nb // 2 >= 65),
       |awin AS (SELECT media_id, ns // 65 AS L, hx,
       |unnest(range(0, 65 * (ns // 65))) AS k FROM aw),
       |av AS (SELECT media_id, k // L AS w,
       |(strpos('0123456789ABCDEF', substr(hx, 4*k+3, 1)) - 1) * 4096
       |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+4, 1)) - 1) * 256
       |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+1, 1)) - 1) * 16
       |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+2, 1)) - 1) AS u FROM awin),
       |ae AS (SELECT media_id, w,
       |sum(CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS BIGINT)
       |* (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)) AS en
       |FROM av GROUP BY media_id, w),
       |abits AS (SELECT l.media_id, l.w AS b FROM ae l JOIN ae r
       |ON l.media_id = r.media_id AND r.w = l.w + 1 WHERE l.en > r.en),
       |a_ah AS (SELECT media_id,
       |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS hi,
       |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS lo
       |FROM abits GROUP BY media_id),
       |asig AS (SELECT aw.media_id,
       |CAST(COALESCE(a_ah.hi, 0) AS BIGINT) AS hi,
       |CAST(COALESCE(a_ah.lo, 0) AS BIGINT) AS lo
       |FROM aw LEFT JOIN a_ah ON aw.media_id = a_ah.media_id),
       |ach2 AS (SELECT media_id, hi, lo,
       |unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS key,
       |unnest([0, 1, 2, 3]) AS chunk FROM asig),
       |acand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
       |a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
       |FROM ach2 a JOIN ach2 b
       |ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id),
       |apr AS (SELECT ma, mb FROM acand
       |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3),
       |ae2 AS (SELECT ma AS s, mb AS t FROM apr UNION ALL SELECT mb, ma FROM apr),
       |areach(id, r) AS (SELECT media_id, media_id FROM asv
       |UNION SELECT ae2.t, areach.r FROM areach JOIN ae2 ON ae2.s = areach.id),
       |acl AS (SELECT id AS media_id, min(r) AS cluster_id FROM areach GROUP BY id),
       |ank AS (SELECT media_id,
       |min(media_id) OVER (PARTITION BY cluster_id) AS nkeep FROM acl),
       |a_st AS (SELECT CAST(amm.media_id AS BIGINT) AS media_id,
       |CASE WHEN NOT agt.p THEN 'quality_reject'
       |WHEN aed.media_id IS NOT NULL THEN 'exact_dup'
       |WHEN ank.nkeep <> amm.media_id THEN 'near_dup'
       |ELSE 'kept' END AS status,
       |CAST(CASE WHEN NOT agt.p THEN amm.media_id
       |ELSE COALESCE(aed.ekeep,
       |CASE WHEN ank.nkeep <> amm.media_id THEN ank.nkeep END,
       |amm.media_id) END AS BIGINT) AS keeper
       |FROM amm JOIN agt ON amm.media_id = agt.media_id
       |LEFT JOIN aed ON amm.media_id = aed.media_id
       |LEFT JOIN ank ON amm.media_id = ank.media_id)""".stripMargin.replace("\n", " ")

  /** The q111 quality-classifier fit config — ONE definition consumed by
    * the Spark query AND baked into the oracle CTEs (same anti-drift
    * discipline as [[DsirBuckets]]). Bucket count inherits the
    * power-of-two requirement through [[hashedGramBucketCtes]]. */
  private val QcEpochs = 3
  private val QcLr = 0.5

  /** q113 langid fit config. 2 epochs (not 3): the oracle unrolls the GD
    * chain PER CLASS, so epochs multiply by the 5 fixture languages — 2
    * is the cheapest config that still moves every class's weights twice
    * (one update would not exercise the margin-feedback loop). */
  private val LiEpochs = 2

  /** CTEs recomputing the [[graft.ops.QualityClassifier]] fit AND scores
    * end-to-end in DuckDB: the full-batch logistic gradient descent is
    * UNROLLED — one CTE trio (margins → per-doc gradient → weight/bias
    * update) per epoch — over the same hashed-gram occurrence relation
    * the DSIR oracle consumes. Every update mirrors the Scala driver's
    * IEEE expression tree (`w − lr·(grad/N)`, `σ = 1/(1+exp(−m))`,
    * mean-normalized features `g/n` summed per occurrence), so the final
    * scores agree to fp-summation-order ulps and the queries compare
    * under round(…, 6). Final CTE `qc_out(doc_id, s)` covers every pool
    * document (zero grams → the bias-only margin). */
  private def qcScoreCtes(poolRel: String, tgtRel: String): String = {
    val m = DsirBuckets
    val lrL = dbl(QcLr)
    val zero = dbl(0.0)
    val one = dbl(1.0)
    val sb = new StringBuilder(hashedGramBucketCtes(poolRel, tgtRel))
    sb.append(s""",
      |qc_nc AS (SELECT doc_id, tg, count(*) AS c FROM dsir_bk GROUP BY doc_id, tg),
      |qc_doc AS (SELECT s.doc_id, s.tg, CAST(coalesce(c.c, 0) AS DOUBLE) AS n
      |FROM dsir_src s LEFT JOIN qc_nc c ON c.doc_id = s.doc_id AND c.tg = s.tg),
      |qc_nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM dsir_src),
      |qc_w0 AS (SELECT r.b AS b, CAST(0 AS DOUBLE) AS w FROM range(0, $m) r(b))""".stripMargin)
    def marginSql(wRel: String, biasExpr: String): String =
      s"""SELECT d.doc_id, d.tg, d.n,
         |$biasExpr + CASE WHEN d.n = $zero THEN $zero ELSE coalesce(s.sv, $zero) / d.n END AS mg
         |FROM qc_doc d LEFT JOIN (SELECT bk.doc_id, bk.tg, sum(w.w) AS sv
         |FROM dsir_bk bk JOIN $wRel w ON w.b = bk.b GROUP BY bk.doc_id, bk.tg) s
         |ON s.doc_id = d.doc_id AND s.tg = d.tg""".stripMargin
    var e = 1
    while (e <= QcEpochs) {
      val biasPrev = if (e == 1) zero else s"(SELECT bv FROM qc_b${e - 1})"
      sb.append(s""",
        |qc_m$e AS (${marginSql(s"qc_w${e - 1}", biasPrev)}),
        |qc_g$e AS (SELECT doc_id, tg, n, $one / ($one + exp(-mg)) - CAST(tg AS DOUBLE) AS g FROM qc_m$e),
        |qc_gb$e AS (SELECT bk.b AS b, sum(g.g / g.n) AS gs FROM dsir_bk bk
        |JOIN qc_g$e g ON g.doc_id = bk.doc_id AND g.tg = bk.tg GROUP BY bk.b),
        |qc_w$e AS (SELECT pw.b AS b, pw.w - $lrL * (coalesce(gb.gs, $zero) / (SELECT nd FROM qc_nd)) AS w
        |FROM qc_w${e - 1} pw LEFT JOIN qc_gb$e gb ON gb.b = pw.b),
        |qc_b$e AS (SELECT $biasPrev - $lrL * ((SELECT coalesce(sum(g), $zero) FROM qc_g$e) / (SELECT nd FROM qc_nd)) AS bv)""".stripMargin)
      e += 1
    }
    sb.append(s""",
      |qc_sc AS (${marginSql(s"qc_w$QcEpochs", s"(SELECT bv FROM qc_b$QcEpochs)")}),
      |qc_out AS (SELECT doc_id, $one / ($one + exp(-mg)) AS s FROM qc_sc WHERE tg = 0)""".stripMargin)
    sb.toString.replace("\n", " ")
  }

  /** CTEs recomputing the [[graft.ops.LangId]] one-vs-rest fit AND
    * argmax predictions in DuckDB — the [[qcScoreCtes]] GD-unrolling
    * pattern PER CLASS: each of the `classes` gets its own unrolled
    * weight/bias chain (`y_k = (lang = class_k)`), then the per-class
    * final margins union and the argmax (ties → smallest class index)
    * picks `pred_lang` and the winning sigmoid. Every update mirrors the
    * Scala driver's IEEE tree, so scores agree to fp-summation-order
    * ulps (compared under round(…, 6)); the argmax itself is exact
    * except for measure-zero cross-class margin ties. Classes are baked
    * in sorted order — the same order [[graft.ops.LangId.fitLangId]]
    * derives from the data. Final CTE: `li_out(doc_id, pred, s)`. */
  private def langIdCtes(poolRel: String, classes: Seq[String]): String = {
    val m = DsirBuckets
    val lrL = dbl(QcLr)
    val zero = dbl(0.0)
    val one = dbl(1.0)
    // reuse the QC gram machinery with an EMPTY target side: dsir_bk's
    // tg=0 slice is exactly the pool's gram-occurrence relation
    val sb = new StringBuilder(hashedGramBucketCtes(poolRel,
      s"(SELECT doc_id, text FROM $poolRel WHERE FALSE)"))
    sb.append(s""",
      |li_bk AS (SELECT doc_id, b FROM dsir_bk WHERE tg = 0),
      |li_nc AS (SELECT doc_id, count(*) AS c FROM li_bk GROUP BY doc_id),
      |li_doc AS (SELECT s.doc_id, p.lang, CAST(coalesce(c.c, 0) AS DOUBLE) AS n
      |FROM (SELECT doc_id FROM dsir_src WHERE tg = 0) s
      |JOIN $poolRel p ON p.doc_id = s.doc_id
      |LEFT JOIN li_nc c ON c.doc_id = s.doc_id),
      |li_nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM li_doc),
      |li_w0 AS (SELECT r.b AS b, CAST(0 AS DOUBLE) AS w FROM range(0, $m) r(b))""".stripMargin)
    def marginSql(wRel: String, biasExpr: String): String =
      s"""SELECT d.doc_id, d.lang, d.n,
         |$biasExpr + CASE WHEN d.n = $zero THEN $zero ELSE coalesce(s.sv, $zero) / d.n END AS mg
         |FROM li_doc d LEFT JOIN (SELECT bk.doc_id, sum(w.w) AS sv
         |FROM li_bk bk JOIN $wRel w ON w.b = bk.b GROUP BY bk.doc_id) s
         |ON s.doc_id = d.doc_id""".stripMargin
    classes.indices.foreach { i =>
      val cls = classes(i).replace("'", "''")
      var e = 1
      while (e <= LiEpochs) {
        val wPrev = if (e == 1) "li_w0" else s"li_w${e - 1}_$i"
        val biasPrev = if (e == 1) zero else s"(SELECT bv FROM li_b${e - 1}_$i)"
        sb.append(s""",
          |li_m${e}_$i AS (${marginSql(wPrev, biasPrev)}),
          |li_g${e}_$i AS (SELECT doc_id, n,
          |$one / ($one + exp(-mg)) - CASE WHEN lang = '$cls' THEN $one ELSE $zero END AS g
          |FROM li_m${e}_$i),
          |li_gb${e}_$i AS (SELECT bk.b AS b, sum(g.g / g.n) AS gs FROM li_bk bk
          |JOIN li_g${e}_$i g ON g.doc_id = bk.doc_id GROUP BY bk.b),
          |li_w${e}_$i AS (SELECT pw.b AS b, pw.w - $lrL * (coalesce(gb.gs, $zero) / (SELECT nd FROM li_nd)) AS w
          |FROM $wPrev pw LEFT JOIN li_gb${e}_$i gb ON gb.b = pw.b),
          |li_b${e}_$i AS (SELECT $biasPrev - $lrL * ((SELECT coalesce(sum(g), $zero) FROM li_g${e}_$i) / (SELECT nd FROM li_nd)) AS bv)""".stripMargin)
        e += 1
      }
      sb.append(s""",
        |li_f_$i AS (SELECT doc_id, $i AS ki, mg
        |FROM (${marginSql(s"li_w${LiEpochs}_$i", s"(SELECT bv FROM li_b${LiEpochs}_$i)")}))""".stripMargin)
    }
    val union = classes.indices
      .map(i => s"SELECT doc_id, ki, mg FROM li_f_$i").mkString(" UNION ALL ")
    val predCase = classes.indices
      .map(i => s"WHEN $i THEN '${classes(i).replace("'", "''")}'")
      .mkString("CASE ki ", " ", " END")
    sb.append(s""",
      |li_sc AS ($union),
      |li_best AS (SELECT doc_id, ki, mg,
      |row_number() OVER (PARTITION BY doc_id ORDER BY mg DESC, ki) AS rk FROM li_sc),
      |li_out AS (SELECT doc_id, $predCase AS pred, $one / ($one + exp(-mg)) AS s
      |FROM li_best WHERE rk = 1)""".stripMargin)
    sb.toString.replace("\n", " ")
  }

  /** The Gopher-battery oracle over any `(doc_id, text)` relation —
    * shared by q98 (raw documents) and q109 (the WARC → html_text
    * extraction pipeline), so the signal definitions cannot drift between
    * the raw and the composed check. RE2's \s IS the Spark side's
    * explicit [ \t\n\f\r] class; line signals are per-\n-line filters
    * matching Spark's consume-based counts; blank docs have ZERO words on
    * both sides. `rel` may be a table name or a parenthesized subquery
    * with alias. */
  private def gopherOracleSql(rel: String, minWords: Int, minStopwords: Int = 1): String = {
    val stops = TextAnalysis.GopherStopwords
      .map(wd => s"CASE WHEN list_contains(toks, '$wd') THEN 1 ELSE 0 END")
      .mkString(" + ")
    val ell = "\u2026"
    s"""WITH f AS (SELECT doc_id, text,
       |regexp_extract_all(text, '\\S+') AS toks,
       |regexp_split_to_array(text, '\\n') AS lns FROM $rel),
       |s AS (SELECT doc_id, text, toks,
       |CAST(len(toks) AS DOUBLE) AS w,
       |CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS nws,
       |CAST(len(regexp_extract_all(text, '#')) AS DOUBLE) AS hsh,
       |CAST(len(regexp_extract_all(text, '(\\.\\.\\.|$ell)')) AS DOUBLE) AS esym,
       |CAST(len(lns) AS DOUBLE) AS nl,
       |CAST(len(list_filter(lns, l -> regexp_matches(l, '^[ \\t]*[-*\u2022]'))) AS DOUBLE) AS bl,
       |CAST(len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|$ell)[ \\t]*$$'))) AS DOUBLE) AS el,
       |CAST(len(list_filter(toks, tk -> regexp_matches(tk, '[A-Za-z]'))) AS DOUBLE) AS aw,
       |CASE WHEN text IS NULL THEN NULL ELSE ($stops) END AS ns FROM f)
       |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
       |CASE WHEN w <> 0 THEN round(nws / w, 6) END AS mean_word_len,
       |CASE WHEN w <> 0 THEN round(hsh / w, 6) END AS hash_ratio,
       |CASE WHEN w <> 0 THEN round(esym / w, 6) END AS ellipsis_sym_ratio,
       |CASE WHEN nl <> 0 THEN round(bl / nl, 6) END AS bullet_ratio,
       |CASE WHEN nl <> 0 THEN round(el / nl, 6) END AS ellipsis_ratio,
       |CASE WHEN w <> 0 THEN round(aw / w, 6) END AS alpha_word_ratio,
       |CAST(ns AS BIGINT) AS n_stopwords,
       |coalesce(w >= $minWords AND w <= 100000
       |AND nws / w >= 3.0 AND nws / w <= 10.0
       |AND hsh / w <= 0.1 AND esym / w <= 0.1
       |AND bl / nl <= 0.9 AND el / nl <= 0.3
       |AND aw / w >= 0.8 AND ns >= $minStopwords, false) AS passes
       |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** The EXPECTED [[graft.functions.HtmlText]] extraction of the
    * [[graft.multimodal.Multimodal.htmlFromDocuments]] fixture, rebuilt
    * per doc_id in SQL — title line, decoded-entity heading, trimmed text
    * prefix, conditional list/div lines, the br-split tail with the
    * literal-& and literal-< spans. Shared by q108 (direct) and q109
    * (through WARC framing). */
  private val htmlExpectedTextSql: String =
    """('T' || doc_id || chr(10) || 'Doc & No. ' || doc_id || chr(10) ||
      |trim(substr(coalesce(text, ''), 1, 60)) ||
      |CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'item A' || doc_id || chr(10) || 'item <B>' ELSE '' END ||
      |CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'tail ' || (doc_id % 7) ELSE '' END ||
      |chr(10) || 'end' || chr(10) || 'line &unknown; 1 < 2')""".stripMargin.replace("\n", " ")

  /** The q64/q83 language-mix config — ONE definition so the Spark queries
    * and the oracle's inlined share literals cannot drift. Order matters:
    * `Map(...).values.sum` iterates insertion order on a 4-entry map, and
    * the oracle must add the same doubles in the same order. */
  private val mixTargets = Seq("en" -> 0.4, "es" -> 0.3, "de" -> 0.2, "fr" -> 0.1)

  /** q84 split config; the oracle inlines the SAME Scala-computed
    * cumulative thresholds (scanLeft order) at full precision. */
  private val splitFractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val mixShares: Seq[(String, Double)] = {
    val total = mixTargets.map(_._2).sum
    mixTargets.map { case (l, t) => l -> t / total }
  }

  /** CTEs deriving matchDistribution's per-stratum keep fraction over the
    * `documents.lang` strata: counts → inlined share literals → binding
    * min-ratio k → `fr(lang, c, f)`. Shares are Scala-computed doubles
    * rendered at full precision, so both engines run the identical IEEE
    * expression tree. */
  private def mixFracCtes: String = mixFracCtesFrom("documents")

  /** Same fraction derivation over an arbitrary source relation (q81b
    * derives the mix from the post-canonicalization corpus, not raw
    * `documents` — matchDistribution counts its INPUT's strata). */
  private def mixFracCtesFrom(src: String): String = {
    val langs = mixShares.map(s => s"'${s._1}'").mkString(", ")
    val arms = mixShares.map { case (l, sh) => s"WHEN '$l' THEN ${dbl(sh)}" }.mkString(" ")
    s"""cnt AS (SELECT lang, count(*) AS c FROM $src WHERE lang IN ($langs) GROUP BY lang),
       |shr AS (SELECT lang, c, CASE lang $arms END AS share FROM cnt),
       |kk AS (SELECT min(c / share) AS k FROM shr),
       |fr AS (SELECT lang, c, least(CAST(1 AS DOUBLE), (SELECT k FROM kk) * share / c) AS f FROM shr)""".stripMargin.replace("\n", " ")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 count (skipna=true) — SURVEY §2.2
    "q01_count" -> ((s, dir) =>
      wli(s, dir).select("l_extendedprice", "l_discount", "l_returnflag").count()),
    // A1 count skipna=false
    "q02_count_noskipna" -> ((s, dir) =>
      wli(s, dir).select("l_extendedprice", "l_discount").count(skipna = false)),
    // A2 sum
    "q03_sum" -> ((s, dir) =>
      wli(s, dir).select("l_extendedprice", "l_discount").sum()),
    // A3 mean
    "q04_mean" -> ((s, dir) =>
      wli(s, dir).select("l_extendedprice", "l_discount").mean()),
    // A4 var
    "q05_var" -> ((s, dir) =>
      wli(s, dir).select("l_extendedprice", "l_discount").variance()),
    // A5 std
    "q06_std" -> ((s, dir) =>
      wli(s, dir).select("l_extendedprice", "l_discount").std()),
    // A6 corr matrix (long format)
    "q07_corr" -> ((s, dir) =>
      wli(s, dir).select(corrCols: _*).corr().orderBy("col_x", "col_y")),
    // G1 grouped count
    "q08_grouped_count" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_extendedprice", "l_discount")
        .groupBy("l_returnflag").count()),
    // G2 grouped sum
    "q09_grouped_sum" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_extendedprice", "l_discount")
        .groupBy("l_returnflag").sum()),
    // G3 grouped mean
    "q10_grouped_mean" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_extendedprice", "l_discount")
        .groupBy("l_returnflag").mean()),
    // G4 grouped var
    "q11_grouped_var" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_extendedprice", "l_discount")
        .groupBy("l_returnflag").variance()),
    // G5 grouped std
    "q12_grouped_std" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_extendedprice", "l_discount")
        .groupBy("l_returnflag").std()),
    // G6 grouped corr (long format)
    "q13_grouped_corr" -> ((s, dir) =>
      wli(s, dir).select(("l_returnflag" +: corrCols): _*)
        .groupBy("l_returnflag").corr()),
    // A7 series corr vs other with index alignment (join on l_orderkey)
    "q14_aligned_corr" -> ((s, dir) => {
      val left = wli(s, dir).select("l_orderkey", "l_extendedprice")
      val right = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      AlignedCorr.corr(left, "l_extendedprice", right, "o_totalprice", Seq("l_orderkey"))
    }),
    // G7 grouped series corr vs other
    "q15_grouped_aligned_corr" -> ((s, dir) => {
      val left = wli(s, dir).select("l_returnflag", "l_orderkey", "l_extendedprice")
      val right = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      AlignedCorr.corrByGroup(left, Seq("l_returnflag"), "l_extendedprice",
        right, "o_totalprice", Seq("l_orderkey"))
    }),
    // §2.4 resample: 2-day buckets over events, all five aggregates
    "q16_resample" -> ((s, dir) =>
      wevents(s, dir).resample("ts", "2D", origin = "epoch").summary("value")),
    // grouped resample (pandas groupby().resample()): per-key 2-day
    // buckets, each group spanning its OWN empty-bucket spine — one
    // shuffle on (key, bucket), never a per-group loop
    "q97_grouped_resample" -> ((s, dir) =>
      wevents(s, dir, "event_type", "ts", "value")
        .resample("ts", "2D", origin = "epoch", by = Seq("event_type"))
        .summary("value")),
    // A8/G8 apply: weighted range per group over pre-weighted data
    "q17_grouped_apply_range" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag").applyAgg(c => max(c) - min(c))),
    // T3 projection + grouped mean on the projected accessor
    "q18_select_grouped_mean" -> ((s, dir) =>
      wli(s, dir).select("l_linestatus", "l_tax")
        .groupBy("l_linestatus").mean()),
    // null-handling semantics end-to-end: derive a null-bearing value column
    // (lineitem has no NULLs), then exercise skipna / min_count per group
    "q19_null_semantics" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .withColumn("v", when(col("l_discount") < 0.08, col("l_extendedprice")))
        .select("l_returnflag", "v", "l_quantity")
      val wdf = WeightedDataFrame.wt(li, "l_quantity")
      val g = wdf.df.groupBy("l_returnflag")
      import graft.core.WeightedMoments._
      g.agg(
        countExpr(col("v"), wdf.w, skipna = true).as("count_skipna"),
        countExpr(col("v"), wdf.w, skipna = false).as("count_noskipna"),
        wSum(col("v"), wdf.w, 0).as("sum_mc0"),
        wSum(col("v"), wdf.w, 1).as("sum_mc1"),
        meanExpr(col("v"), wdf.w).as("mean_v"),
        varExpr(col("v"), wdf.w).as("var_v"))
        .orderBy("l_returnflag")
    }),
    // axis=1 named aggs (frame.py:189-251 with axis=1): row-wise weighted
    // variance over a null-bearing column trio — a pure codegen'd
    // projection, zero shuffles, embarrassingly parallel at any scale
    "q52_rowwise_var" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .withColumn("v", when(col("l_discount") < 0.08, col("l_extendedprice")))
        .select("l_orderkey", "l_linenumber", "v", "l_tax", "l_discount", "l_quantity")
      WeightedDataFrame.wt(li, "l_quantity")
        .variance(axis = 1, keep = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // axis=1 sum with min_count gating: rows whose null-bearing cell drops
    // them below min_count=2 valid cells yield NULL (frame.py:215-220)
    "q53_rowwise_sum_mc" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .withColumn("v", when(col("l_discount") < 0.08, col("l_extendedprice")))
        .select("l_orderkey", "l_linenumber", "v", "l_tax", "l_quantity")
      WeightedDataFrame.wt(li, "l_quantity")
        .sum(axis = 1, minCount = 2, keep = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // resample with closed=right / label=right boundary conventions
    "q16b_resample_right" -> ((s, dir) =>
      wevents(s, dir).resample("ts", "12h", closed = "right", label = "right",
        origin = "epoch").summary("value")),
    // anchored weekly rule (pandas "W": 7-day bins ENDING on Sunday,
    // right-closed right-labeled defaults — not an origin-anchored tick)
    "q47_resample_weekly" -> ((s, dir) =>
      wevents(s, dir).resample("ts", "W").summary("value")),
    // end-anchored origin: the grid counts back from the last timestamp,
    // closed/label defaults flip to right (pandas origin="end")
    "q48_resample_origin_end" -> ((s, dir) =>
      wevents(s, dir).resample("ts", "3D", origin = "end").summary("value")),
    // multi-week anchored rule (pandas "2W-MON"): 14-day bins ending on a
    // Monday, the every-2nd-Monday grid PHASED from the data start the way
    // pandas' non-Tick range-edge derivation does (rollforward(min)−2w for
    // the right-closed default) — one tiny broadcast agg, then pure
    // integer-µs modulo arithmetic
    "q110_resample_biweekly" -> ((s, dir) =>
      wevents(s, dir).resample("ts", "2W-MON").summary("value")),
    // business-day resample (pandas "B"): bins between consecutive
    // WEEKDAYS, weekend rows rolling back into Friday's bin (left-closed
    // default); the empty-bin spine is a unit-step sequence in
    // business-day-index space, so weekends never appear as ghost bins
    "q112_resample_bday" -> ((s, dir) =>
      wevents(s, dir).resample("ts", "B").summary("value")),
    // business-month-end resample (pandas "BME") over lineitem's 7-year
    // shipdate span (~80 buckets): right-closed bins with END-OF-DAY edges
    // on each month's last business day — any timestamp anywhere on the
    // BME day still belongs to that month's bin
    "q112b_resample_bmonth" -> ((s, dir) =>
      wli(s, dir).select("l_shipdate", "l_extendedprice")
        .resample("l_shipdate", "BME").summary("l_extendedprice")),
    // weighted median (beyond-reference extension; reference README lists
    // weighted quantiles as future work)
    "q31_weighted_median" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag").quantile("l_extendedprice", 0.5)),
    // rolling weighted mean per key over an ordered 5-row frame
    "q33_rolling_mean" -> ((s, dir) =>
      graft.core.WeightedRolling.rolling(
          wevents(s, dir, "event_type", "event_id", "value"),
          "event_id", Seq("event_type"), 5)
        .mean().orderBy("event_type", "event_id")),
    // rolling weighted variance per key over the same 5-row frame — pins
    // the moment-kernel window path (q33 pins mean; this pins var's
    // nested safeDiv null semantics under the driver's grid)
    "q95_rolling_var" -> ((s, dir) =>
      graft.core.WeightedRolling.rolling(
          wevents(s, dir, "event_type", "event_id", "value"),
          "event_id", Seq("event_type"), 5)
        .variance().orderBy("event_type", "event_id")),
    // expanding (cumulative) weighted count per key — pins the unbounded
    // frame path and count's empty-frame → 0.0 coalesce. Count, not sum:
    // the integer-valued weights keep the cumulation bit-exact, where an
    // arbitrary-double expanding sum diverges from the oracle engine's
    // segment-tree summation order at the last ulps
    "q96_expanding_count" -> ((s, dir) =>
      graft.core.WeightedRolling.expanding(
          wevents(s, dir, "event_type", "event_id", "value"),
          "event_id", Seq("event_type"))
        .count().orderBy("event_type", "event_id")),
    // pairwise weighted covariance, long format
    "q34_cov" -> ((s, dir) =>
      wli(s, dir).select(corrCols: _*).cov().orderBy("col_x", "col_y")),
    // grouped pairwise weighted covariance (round 9: the grouped sibling
    // of q34, same single-shuffle shape as grouped corr)
    "q87_grouped_cov" -> ((s, dir) =>
      wli(s, dir).select(("l_returnflag" +: corrCols): _*)
        .groupBy("l_returnflag").cov()),
    // weighted describe: count/mean/std/min/p25/p50/p75/max per column
    "q41_describe" -> ((s, dir) =>
      wli(s, dir).select(corrCols: _*).describe()),
    // weighted skewness + excess kurtosis, grouped (beyond-reference moments)
    "q43_grouped_skew_kurt" -> ((s, dir) => {
      val g = wli(s, dir).select("l_returnflag", "l_extendedprice", "l_discount")
        .groupBy("l_returnflag")
      g.skew().withColumnRenamed("l_extendedprice", "skew_price")
        .withColumnRenamed("l_discount", "skew_disc")
        .join(g.kurt().withColumnRenamed("l_extendedprice", "kurt_price")
          .withColumnRenamed("l_discount", "kurt_disc"), Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),
    // weighted mode per group: value with the largest total weight
    "q44_grouped_mode" -> ((s, dir) =>
      wli(s, dir).select("l_returnflag", "l_tax")
        .groupBy("l_returnflag").mode("l_tax")),
    // as-of join: attach the most recent reference event per key (backward,
    // exact matches included); right side pre-deduped per (k, ts) so the
    // winner is well-defined on both engines
    "q42_asof_join" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("k", col("user_id") % 50)
      val left = e.where(col("event_id") % 3 =!= 0).select("event_id", "k", "ts")
      val right = e.where(col("event_id") % 3 === 0)
        .groupBy("k", "ts").agg(max("value").as("ref_value"))
      graft.ops.AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts")
        .select("event_id", "k", "ref_value").orderBy("event_id")
    }),

    // ---- training-data-pipeline operators (beyond-reference scope) ----

    // exact dedup: hash-groupBy on text
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exact(table(s, dir, "documents"), "text", "doc_id").orderBy("keep_id")),
    // token-set dedup: order/multiplicity-insensitive duplicates
    "q21_dedup_tokenset" -> ((s, dir) =>
      Dedup.tokenSet(table(s, dir, "documents"), "text", "doc_id").orderBy("keep_id")),
    // normalized ("fuzzy exact") dedup: case/punctuation/spacing-insensitive
    "q46_dedup_normalized" -> ((s, dir) =>
      Dedup.normalizedGroups(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("keep_id")),
    // MinHash+LSH near-dup, verified with exact Jaccard (threshold 1.0 ⇒
    // identical signatures ⇒ LSH recall is exactly 1, so the oracle can be
    // the exact all-pairs answer)
    "q22_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashDedup(table(s, dir, "documents"), "text", "doc_id",
        shingleSize = 1, numHashes = 32, bandRows = 8, threshold = 1.0)
        .orderBy("doc_a", "doc_b")),
    // deduplicated corpus under keep-first policy (exact + token-set)
    "q35_drop_exact" -> ((s, dir) =>
      Dedup.dropExact(table(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")),
    "q36_drop_neardup" -> ((s, dir) =>
      Dedup.dropNearDuplicates(table(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "n_chars").orderBy("doc_id")),
    // SimHash near-dup pairs — FULLY oracle-backed: the oracle recomputes
    // every token's XXH64 in SQL, takes the same per-bit majority vote,
    // and brute-forces all pairs with hamming ≤ 3 (the banding here is an
    // efficiency device with recall exactly 1 by pigeonhole, so the
    // semantics ARE "all pairs within the hamming radius")
    "q23_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(table(s, dir, "documents"), "text", "doc_id",
        shingleSize = 1, maxHamming = 3).orderBy("doc_a", "doc_b")),
    // char-3-gram Jaccard over explicit pairs (consecutive doc ids)
    "q24_ngram_jaccard" -> ((s, dir) => {
      val d = fanned(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      Dedup.ngramJaccardForPairs(pairs, d, "text", "doc_id", n = 3).orderBy("doc_a")
    }),
    // exact cosine top-5 neighbors for the first 10 vectors
    "q25_knn_brute" -> ((s, dir) =>
      Similarity.bruteKnn(table(s, dir, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 10, 5).withColumn("rank", col("rank").cast("long"))),
    // LSH-bucketed ANN variant — oracle-backed by PROVABLE degeneracy to
    // brute top-k: planesFor(n=500) = 2 planes and maxProbe = 3, so the
    // Hamming probe ball covers the ENTIRE bucket space and the candidate
    // set is the full corpus; each pair scores exactly once (one XOR mask
    // maps a query's bucket to a neighbor's), so the output EQUALS q25's.
    // At n > 1024 (planesFor > maxProbe) annLsh is legitimately
    // approximate and this oracle would no longer apply.
    "q26_ann_lsh" -> ((s, dir) =>
      Similarity.annLsh(table(s, dir, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 10, 5).withColumn("rank", col("rank").cast("long"))),
    // IVF (KMeans coarse-quantizer) ANN variant, searched under the cached
    // per-corpus model (fit once, search many) — oracle-backed by a
    // MODEL-INDEPENDENT degeneracy: listsFor(n=500) = 4 = nProbe, so every
    // query probes every cell; each corpus vector sits in exactly one
    // (probed) argmax cell, so the candidate set is the full corpus and
    // the output EQUALS q25's brute top-k no matter what the KMeans fit
    // produced. At n > 512 the search is legitimately approximate and the
    // guarded oracle errors instead.
    "q32_ann_ivf" -> ((s, dir) =>
      Similarity.searchIvf(ivfModel(s, dir), table(s, dir, "embeddings"),
        "vec_id", "embedding", col("vec_id") < 10, 5)
        .withColumn("rank", col("rank").cast("long"))),
    // embedding-cosine near-dup: nearest neighbor of every vector (exact
    // brute baseline — the oracle-checkable variant). strategy pinned:
    // "auto" would silently flip to approximate LSH past its size cutoff
    // and the exact DuckDB oracle would then mismatch
    "q27_embed_neardup" -> ((s, dir) =>
      Similarity.nearestNeighbors(fannedEmb(s, dir), "vec_id", "embedding",
        strategy = "brute").orderBy("doc_a")),
    // bucketed near-dup — the 100 TB shape: LSH self-join on bucket keys,
    // no broadcast, no cartesian (plane-dependent — rows-only check)
    "q37_embed_neardup_lsh" -> ((s, dir) =>
      Similarity.nearestNeighbors(table(s, dir, "embeddings"), "vec_id", "embedding",
        strategy = "lsh").orderBy("doc_a")),
    // SOUNDNESS oracle for q37 (VERDICT r8 #1): the tabled-LSH pair LIST is
    // plane-dependent and recall<1 by construction, so no completeness
    // oracle exists — but every REPORTED pair is provably checkable. This
    // query re-verifies each reported pair through two INDEPENDENT paths
    // (cosine recomputed via explode+sum from the raw parquet floats, and
    // the exact brute top-1 as an upper bound) and emits per-property
    // violation counts, which the oracle pins exactly: all zeros, plus a
    // non-vacuousness row proving pairs were actually reported. A single
    // fabricated, reflexive, duplicated, or sim-inflated pair turns a
    // count nonzero and the driver's hash check red.
    "q37b_lsh_soundness" -> ((s, dir) => {
      val emb = fannedEmb(s, dir)
      // bounded (≤ one row per vector): checkpoint so the LSH pass runs
      // once, not once per property branch
      val rep = Similarity.nearestNeighbors(emb, "vec_id", "embedding",
        strategy = "lsh").localCheckpoint()
      val va = emb.select(col("vec_id").as("doc_a"),
        posexplode(col("embedding")).as(Seq("p", "xa")))
      val vb = emb.select(col("vec_id").as("doc_b"),
        posexplode(col("embedding")).as(Seq("p", "xb")))
      val re = rep.join(va, "doc_a").join(vb, Seq("doc_b", "p"))
        .groupBy(col("doc_a"), col("doc_b"), col("sim"))
        .agg(sum(col("xa").cast("double") * col("xb").cast("double")).as("dp"),
          sum(col("xa").cast("double") * col("xa").cast("double")).as("na2"),
          sum(col("xb").cast("double") * col("xb").cast("double")).as("nb2"))
        .withColumn("cos2", col("dp") / sqrt(col("na2") * col("nb2")))
      val brute = Similarity.nearestNeighbors(emb, "vec_id", "embedding",
        strategy = "brute").select(col("doc_a"), col("sim").as("best_sim"))
      def cnt(name: String, d: DataFrame): DataFrame =
        d.agg(count(lit(1)).as("n_bad"))
          .select(lit(name).as("property"), col("n_bad"))
      cnt("reflexive_pairs", rep.where(col("doc_a") === col("doc_b")))
        .unionAll(cnt("multi_reports",
          rep.groupBy("doc_a").agg(count(lit(1)).as("c")).where(col("c") > 1)))
        .unionAll(cnt("null_sims", rep.where(col("sim").isNull)))
        // reported sim is round(cos, 6) (topK's determinism grid), so the
        // recompute must agree within the half-grid, not to the ulp
        .unionAll(cnt("sim_mismatch",
          re.where(abs(col("sim") - col("cos2")) > 5.01e-7)))
        .unionAll(cnt("beats_true_best", rep.join(brute, "doc_a")
          .where(col("sim") > col("best_sim") + 1e-9)))
        .unionAll(rep.agg(least(count(lit(1)), lit(1L)).as("n_bad"))
          .select(lit("has_pairs").as("property"), col("n_bad")))
        .orderBy("property")
    }),
    // RECALL TELEMETRY under the driver grid (VERDICT r9 #6): measured
    // recall of every approximate ANN path vs its brute truth, emitted as
    // above-floor booleans the oracle pins to all-true (plus per-row
    // non-vacuousness sentinels proving the truth sets weren't empty).
    // Floors are conservative lower bounds, measured in round 10
    // (lsh_top1 pair-recall 0.85 @ 500 vecs /
    // 0.51 @ 2000; probed LSH ≥ 0.86; IVF exact at verify SFs by the q32
    // degeneracy) — a silent recall regression past a floor flips a
    // boolean and the driver's hash check goes red.
    "q90_recall_report" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      // ground truth from the per-dir cache (fit-once/search-many — the
      // O(n²) brute scoring is the report's dominant cost and the corpus
      // is an immutable snapshot); the APPROXIMATE paths below re-run
      // every time — they're the thing recall telemetry must re-measure
      val (bruteNN, bruteK) = bruteTruth(s, dir)
      val lshNN = Similarity.nearestNeighbors(emb, "vec_id", "embedding",
        strategy = "lsh").select(col("doc_a"), col("doc_b"))
      val pred = col("vec_id") < 10
      val lshK = Similarity.annLsh(emb, "vec_id", "embedding", pred, 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivfK = Similarity.searchIvf(ivfModel(s, dir), emb, "vec_id", "embedding",
        pred, 5).select(col("query_id"), col("neighbor_id"))
      val pqK = Similarity.searchIvfPq(ivfModel(s, dir), pqModel(s, dir), emb,
        "vec_id", "embedding", pred, 5).select(col("query_id"), col("neighbor_id"))
      val pqResK = Similarity.searchIvfPq(ivfModel(s, dir), pqResModel(s, dir), emb,
        "vec_id", "embedding", pred, 5).select(col("query_id"), col("neighbor_id"))
      def report(name: String, truth: DataFrame, got: DataFrame,
          keys: Seq[String], floor: Double, minRows: Long): DataFrame =
        truth.join(got.withColumn("__hit__", lit(1)), keys, "left")
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("__hit__"), lit(0))).as("hits"))
          .select(lit(name).as("operator"),
            (col("hits").cast("double") / col("n") >= lit(floor)).as("above_floor"),
            (col("n") >= lit(minRows)).as("nonvacuous"))
      report("ann_ivf_k5", bruteK, ivfK, Seq("query_id", "neighbor_id"), 0.9, 40L)
        .unionAll(report("ann_ivfpq_k5", bruteK, pqK, Seq("query_id", "neighbor_id"), 0.8, 40L))
        .unionAll(report("ann_ivfpq_residual", bruteK, pqResK, Seq("query_id", "neighbor_id"), 0.8, 40L))
        .unionAll(report("ann_lsh_k5", bruteK, lshK, Seq("query_id", "neighbor_id"), 0.7, 40L))
        .unionAll(report("lsh_top1", bruteNN, lshNN, Seq("doc_a", "doc_b"), 0.4, 400L))
        .orderBy("operator")
    }),
    // embedding near-dup corpus output: keep-first drop of vectors whose
    // nearest neighbor is an earlier near-dup (brute = oracle-checkable)
    "q40_drop_embed_neardup" -> ((s, dir) =>
      Similarity.dropNearDuplicateVectors(fannedEmb(s, dir),
        "vec_id", "embedding", simThreshold = 0.45, strategy = "brute")
        .select("vec_id").orderBy("vec_id")),
    // SemDeDup (Abbas et al. 2023): deterministic Lloyd spherical k-means,
    // then near-dup drops bounded to each cluster under the paper's
    // keep-the-centroid-farthest rule. Every stage — seeded-hash init,
    // grid-quantized argmax assignment, per-dimension mean updates, the
    // pairwise drop test — is exact public arithmetic, so the oracle
    // replays the entire recursion (unlike the ML-KMeans-backed IVF fit).
    "q119_semdedup" -> ((s, dir) =>
      Similarity.semDedupReport(table(s, dir, "embeddings"), "vec_id",
        "embedding", SemDedupThreshold, k = SemDedupK, iters = SemDedupIters,
        seed = SemDedupSeed, keep = "centroid_far")
        .select(col("vec_id"), col("cluster"),
          round(col("sim"), 6).as("sim"), col("kept"))
        .orderBy("vec_id")),
    // SemDeDup SCALE-path soundness (q37b pattern): the two-level routed
    // assignment (fitLloydTwoLevel / groupForRouting — O(√k·dim) per row
    // instead of exact Lloyd's O(k·dim), the shape that survives 10⁹-vector
    // corpora) cannot be SQL-oracled without unrolling a second recursion,
    // so this query pins its invariants as property counters the oracle
    // fixes at constants: the probe-all route IS the global argmax (a
    // mathematical identity of the kernel), the drop set equals the exact
    // pairwise rule under the routed model (both directions), coverage,
    // NULL contracts, non-vacuousness, and a routed-vs-exact decision
    // agreement floor under the SAME centroid set (groupForRouting wraps
    // the q119 model, so disagreement is coarse-boundary misrouting only —
    // measured 0.73+ at nProbe=1 on the near-isotropic fixture, the worst
    // case for routing; floor 0.65).
    "q119b_semdedup_twolevel" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val emb = table(s, dir, "embeddings")
      val lloyd = Similarity.fitLloyd(emb, "vec_id", "embedding",
        k = SemDedupK, iters = SemDedupIters, seed = SemDedupSeed)
      val routed = Similarity.groupForRouting(lloyd)
      // the routed report and the exact-reference report are independent
      // eager materializations off the SAME already-fitted model — one
      // driver thread each overlaps their job chains (guide §2.6; the fit
      // itself stays strictly serial above, so centroid floats are
      // untouched)
      val Seq(rep, exact) = graft.ops.Overlap.inParallel(Seq(
        () => Similarity.semDedupTwoLevelReport(emb, "vec_id", "embedding",
          SemDedupThreshold, seed = SemDedupSeed, keep = "centroid_far",
          model = Some(routed)).localCheckpoint(),
        () => Similarity.semDedupReport(emb, "vec_id", "embedding",
          SemDedupThreshold, keep = "centroid_far", model = Some(lloyd))
          .localCheckpoint()))
      val th6 = math.floor(SemDedupThreshold * 1e6 + 0.5).toLong
      def cnt(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("n_bad"))
          .select(lit(name).as("property"), col("n_bad"))
      // unit vectors for the witness recompute
      val vd = col("embedding").cast("array<double>")
      val nrm = sqrt(VectorFunctions.dotProduct(vd, vd))
      val units = emb.select(col("vec_id"),
        when(nrm > 0, transform(vd, x => x / nrm)).as("u"))
        .where(col("u").isNotNull)
      // kernel identity: probing EVERY coarse cell must reproduce the
      // global grid-argmax over the same (cell-major) centroid list
      val identity = units.select(
        VectorFunctions.twoLevelBest(col("u"), routed.coarse,
          routed.fineByCell, routed.kCoarse).getField("cluster").as("c1"),
        VectorFunctions.centroidBest(col("u"), routed.globalCentroids)
          .getField("cluster").as("c2")).where(col("c1") =!= col("c2"))
      // the drop set must equal the pairwise rule under the routed model:
      // witness = same-cluster member with lower (gridSim, id) priority
      // within the cosine threshold — recomputed here from the units
      val gsim = floor(col("sim") * lit(1e6) + lit(0.5)).cast("long")
      val rx = rep.join(units, "vec_id").select(col("vec_id").as("xid"),
        col("cluster").as("xc"), gsim.as("xg"), col("kept").as("xkept"),
        col("u").as("xu"))
      val ry = rep.join(units, "vec_id").select(col("vec_id").as("yid"),
        col("cluster").as("yc"), gsim.as("yg"), col("u").as("yu"))
      val witnessed = rx.join(ry,
          col("xc") === col("yc") &&
            (col("yg") < col("xg") ||
              (col("yg") === col("xg") && col("yid") < col("xid"))) &&
            floor(VectorFunctions.dotProduct(col("xu"), col("yu")) * lit(1e6)
              + lit(0.5)).cast("long") >= lit(th6),
          "left_semi")
        .select(col("xid"), col("xkept"))
      val droppedNoWitness = rx.where(!col("xkept"))
        .join(witnessed.select("xid"), Seq("xid"), "left_anti")
      val keptWithWitness = witnessed.where(col("xkept"))
      // coverage + NULL contracts
      val missing = emb.select(col("vec_id"))
        .join(rep.select(col("vec_id")), Seq("vec_id"), "left_anti")
      val dupes = rep.groupBy("vec_id").agg(count(lit(1)).as("c"))
        .where(col("c") > 1)
      val badNulls = rep.where(col("cluster").isNull &&
        (!col("kept") || col("sim").isNotNull))
      // decision agreement vs the exact path under the same centroid set
      val joined = rep.select(col("vec_id"), col("kept"))
        .join(exact.select(col("vec_id"), col("kept").as("kept_e")), "vec_id")
      val floorBroken = joined
        .agg((sum(when(col("kept") =!= col("kept_e"), 1L).otherwise(0L)) >
          count(lit(1)) * lit(0.35)).as("broken"))
        .select(lit("agreement_below_floor").as("property"),
          when(col("broken"), 1L).otherwise(0L).as("n_bad"))
      val hasDrops = rep.where(!col("kept"))
        .agg(least(count(lit(1)), lit(1L)).as("n_bad"))
        .select(lit("has_drops").as("property"), col("n_bad"))
      cnt("probe_all_vs_global", identity)
        .unionAll(cnt("dropped_without_witness", droppedNoWitness))
        .unionAll(cnt("kept_with_witness", keptWithWitness))
        .unionAll(cnt("missing_rows", missing))
        .unionAll(cnt("multi_reports", dupes))
        .unionAll(cnt("null_contract_broken", badNulls))
        .unionAll(floorBroken)
        .unionAll(hasDrops)
        .orderBy("property")
    }),
    // §2.4 calendar resample: monthly buckets over lineitem ship dates
    "q29_resample_monthly" -> ((s, dir) =>
      wli(s, dir).select("l_shipdate", "l_extendedprice")
        .resample("l_shipdate", "MS").summary("l_extendedprice")),
    // pandas' NON-DEFAULT `closed` on calendar rules (the last reference
    // parity gap, refused until round 16): YE closed='left' keeps bin
    // edges at Dec-31 MIDNIGHT (no end-of-day adjustment), so every row
    // on a year's last DAY shifts into the next year — l_shipdate is a
    // date, so each Dec-31 row exercises the shift, not just permits it
    "q150_resample_closed_left" -> ((s, dir) =>
      wli(s, dir).select("l_shipdate", "l_extendedprice")
        .resample("l_shipdate", "YE", closed = "left").summary("l_extendedprice")),
    // MS closed='right' bins (start, next-start]: every exact month-start-
    // midnight row (all l_shipdate on the 1st) drops to the previous
    // month, and pandas' binner adds its leading/trailing empty spine bins
    "q150b_resample_closed_right" -> ((s, dir) =>
      wli(s, dir).select("l_shipdate", "l_extendedprice")
        .resample("l_shipdate", "MS", closed = "right").summary("l_extendedprice")),
    // text analysis: token counts, ratios, language id, quality, fingerprint
    "q28_text_analyze" -> ((s, dir) =>
      TextAnalysis.analyze(fanned(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),
    // CROSS-document boilerplate-line removal: lines repeated in >= 40% of
    // docs (footers, subscribe prompts) dropped from every doc; fixture
    // builds 4-line docs from the documents table (the corpus itself is
    // single-line) with two injected boilerplate lines at different
    // frequencies — 100% and 50% are dropped, ~33% stays below threshold
    // CORPUS-level exact paragraph dedup (RefinedWeb-style): repeated
    // paragraphs removed everywhere except their first (doc_id, pos)
    // occurrence; paragraphs under 20 chars exempt (headings legitimately
    // repeat). Fixture builds 3-paragraph docs: a per-doc lead, a
    // syndicated paragraph injected into every 5th doc (removed except in
    // its first carrier), and a short "Share" footer (exempt, survives
    // everywhere). NULL text coalesced to '' on both engines so the
    // fixture never concat-skips.
    // EXACT duplicated-span removal (Lee et al. ExactSubstr at 8-token
    // window granularity): a 12-token slogan injected into every 4th doc
    // and a 10-token promo into every 6th are removed from every carrier
    // except the globally-first; the corpus's own exact-dup clusters also
    // collapse (later dup docs reduce toward ''). Token-level rebuild —
    // whitespace runs normalize on both engines.
    // DSIR importance scoring (Xie et al. 2023): hashed 1+2-gram bucket
    // model fit with target = English docs vs raw = the whole corpus, then
    // every doc scored with the codegen'd kernel — the score is the
    // naive-Bayes log-odds of target vs raw, fully recomputed by the
    // oracle (model fit included) via the XXH64 HUGEINT CTEs. m=1024 is a
    // power of two so unsigned-mod == Spark's signed pmod in the oracle.
    "q102_dsir_score" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = graft.ops.Dsir.fitImportanceModel(
        d.where(col("lang") === "en"), d, "text", DsirBuckets, DsirAlpha)
      d.select(col("doc_id"), col("lang"),
        round(graft.ops.Dsir.importanceScore(model,
          coalesce(col("text"), lit(""))), 6).as("dsir_score"))
        .orderBy("doc_id")
    }),
    // fastText-style quality classifier (Joulin et al. 2016): logistic
    // weights over the SAME hashed 1+2-gram buckets as q102, trained
    // target = English docs vs raw = the whole corpus by 3 epochs of
    // full-batch GD (driver-side updates, one bounded-reduce job per
    // epoch), then every doc scored σ(bias + w·grams/n) with the
    // codegen'd kernel. The oracle UNROLLS the same 3 epochs in SQL —
    // fit and scores both exact-checked, not just the ranking.
    "q111_quality_score" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = graft.ops.QualityClassifier.fitQualityClassifier(
        d.where(col("lang") === "en"), d, "text",
        nBuckets = DsirBuckets, epochs = QcEpochs, lr = QcLr)
      d.select(col("doc_id"), col("lang"),
        round(graft.ops.QualityClassifier.classifierScore(model, col("text")), 6)
          .as("quality_score"))
        .orderBy("doc_id")
    }),
    // trained language ID (one-vs-rest fastText-style, CCNet/RedPajama's
    // langid stage): 5 per-class logistic models over the q102/q111 gram
    // buckets, fit in ONE bounded-reduce job per epoch (the K gradient
    // sums ride one explode), predicted lang = argmax margin. The oracle
    // unrolls the per-class GD chains in SQL — fitted weights, argmax,
    // AND the winning sigmoid all exact-checked. NOTE the fixture's text
    // carries NO language signal (every lang label shares the same
    // synthetic vocabulary), so the argmax collapses to the majority
    // class — this query pins fit/score EXACTNESS; real multilingual
    // separation is pinned by LangIdSpec's crafted fixtures.
    "q113_langid_score" -> ((s, dir) => {
      val d = fanned(s, dir, "documents")
      val model = graft.ops.LangId.fitLangId(
        d, "text", "lang", nBuckets = DsirBuckets, epochs = LiEpochs, lr = QcLr)
      d.select(col("doc_id"), col("lang"),
        graft.ops.LangId.predictLanguage(model, col("text")).as("pred_lang"),
        round(graft.ops.LangId.languageConfidence(model, col("text")), 6)
          .as("lang_score"))
        .orderBy("doc_id")
    }),
    // DSIR selection: Gumbel top-k without replacement ∝ exp(score) — the
    // seeded hash-uniform noise makes the draw itself exact-checkable
    // (same XXH64 unif CTEs as q84/q85). n=120 of ~500 docs at sf0.01 so
    // the cut binds; the en share of the selection rises vs the corpus
    // (pinned in DsirSpec, not here — the oracle checks the exact rows).
    "q103_dsir_resample" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = graft.ops.Dsir.fitImportanceModel(
        d.where(col("lang") === "en"), d, "text", DsirBuckets, DsirAlpha)
      graft.ops.Dsir.resampleByImportance(d, model, "text", Seq("doc_id"),
        n = 120, temperature = 1.0, seed = 17L)
        .select(col("doc_id"), col("lang"),
          round(graft.ops.Dsir.importanceScore(model,
            coalesce(col("text"), lit(""))), 6).as("dsir_score"))
        .orderBy("doc_id")
    }),
    "q101_dedup_spans" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val multi = d.select(col("doc_id"), concat_ws(" ",
        when(col("doc_id") % 4 === 0, lit(SpanSlogan)),
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 6 === 0, lit(SpanPromo))).as("text"))
      graft.ops.Dedup.dedupSpans(multi, "text", "doc_id", windowTokens = 8)
        .orderBy("doc_id")
    }),
    "q100_dedup_paragraphs" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val multi = d.select(col("doc_id"), concat_ws("\n\n",
        substring(coalesce(col("text"), lit("")), 1, 60),
        when(col("doc_id") % 5 === 0, lit(SyndicatedParagraph))
          .otherwise(substring(coalesce(col("text"), lit("")), 61, 60)),
        lit("Share")).as("text"))
      graft.ops.Dedup.dedupParagraphs(multi, "text", "doc_id", minChars = 20)
        .orderBy("doc_id")
    }),
    "q99_drop_boilerplate" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val multi = d.select(col("doc_id"), concat_ws("\n",
        when(col("doc_id") % 2 === 0, lit("SUBSCRIBE to our newsletter"))
          .otherwise(substring(col("text"), 1, 40)),
        substring(col("text"), 1, 80),
        when(col("doc_id") % 3 === 0, lit("Cookie policy applies"))
          .otherwise(substring(col("text"), 41, 40)),
        lit("All rights reserved")).as("text"))
      graft.ops.Scrub.dropBoilerplateLines(multi, "text", "doc_id", minDocFrac = 0.4)
        .orderBy("doc_id")
    }),
    // Gopher-rule quality battery: word-count bounds, mean word length,
    // symbol/bullet/ellipsis ratios, alphabetic-word ratio, required
    // stopwords — each signal + per-doc pass flag, all regexp_count
    // arithmetic in one codegen'd projection
    // thresholds loosened vs the Gopher defaults (minWords 40, one required
    // stopword) so the pass flag DISCRIMINATES on the synthetic corpus —
    // all-false would verify nothing about the rule conjunction
    "q98_gopher_quality" -> ((s, dir) =>
      TextAnalysis.gopherQuality(table(s, dir, "documents"), "text", "doc_id",
        TextAnalysis.GopherThresholds(minWords = 40, minStopwords = 1))
        .orderBy("doc_id")),
    // duplicate clustering: pairwise near-dup hits → connected components
    // (min-label propagation + pointer jumping). The edge criterion here
    // (same lang, |Δn_chars| ≤ 1) is SQL-expressible so DuckDB can verify
    // the transitive closure with a recursive CTE; real pipelines feed
    // minhashDedup/simhashPairs output through the same operator.
    // Edge enumeration equi-joins on the composite (lang, n_chars) key —
    // the left side explodes each row to its three admissible n_chars
    // probes (n−1, n, n+1), so the shuffle partitions on fine-grained
    // keys instead of the 4-value lang column (which would be per-lang
    // quadratic and maximally skewed at scale). Identical edge set.
    "q49_dup_clusters" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val probes = d.withColumn("nb",
        explode(array(col("n_chars") - 1, col("n_chars"), col("n_chars") + 1)))
      val e = probes.as("a").join(d.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.nb") === col("b.n_chars") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      Dedup.connectedComponents(e, "src", "dst",
        table(s, dir, "documents").select("doc_id"), "doc_id")
        .orderBy("doc_id")
    }),
    // TF-IDF keyword retrieval: only the query terms' posting lists ever
    // shuffle; top-k is a TakeOrdered merge, no global sort
    "q51_tfidf_search" -> ((s, dir) =>
      TextAnalysis.tfidfSearch(table(s, dir, "documents"), "text", "doc_id",
        Seq("query", "stream", "window"), k = 20)),
    // sequence packing: shard the corpus into fixed-token-budget packs
    // (streaming concatenation chunking over id-ordered hash streams)
    "q50_pack_sequences" -> ((s, dir) =>
      graft.ops.Packing.packSequences(
        table(s, dir, "documents").select("doc_id", "text"), "doc_id",
        TextAnalysis.bpeTokenCount(col("text")), capacity = 2048L, nStreams = 8)
        .select("doc_id", "n_tokens", "stream", "pack", "pack_id")
        .orderBy("doc_id")),
    // EXACT BPE token counts (vendored demo merges): the trainer-token
    // counts that make packing/budget math exact — the oracle re-derives
    // every count by applying the same merges in rank order in SQL
    "q114_bpe_exact" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCountExact(coalesce(col("text"), lit("")),
            graft.functions.BpeVocab.Builtin).as("bpe_exact"))
        .orderBy("doc_id")),
    // q50's packing with EXACT trainer-token counts instead of the
    // pre-tokenizer approximation — budgets now bind in real tokens
    "q115_pack_exact_bpe" -> ((s, dir) =>
      graft.ops.Packing.packSequences(
        table(s, dir, "documents").select("doc_id", "text"), "doc_id",
        TextAnalysis.bpeTokenCountExact(col("text"),
          graft.functions.BpeVocab.Builtin), capacity = 2048L, nStreams = 8)
        .select("doc_id", "n_tokens", "stream", "pack", "pack_id")
        .orderBy("doc_id")),
    // the FULL token-ID sequence per document (derived ids: bytes 0-255,
    // merge results 256+rank) — ids joined to a comma string so the
    // compare is dtype-exact on both engines; n_tokens = the id count,
    // pinning encode ≡ count
    "q120_bpe_encode" -> ((s, dir) =>
      fanned(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.bpeEncodeExact(coalesce(col("text"), lit("")),
          graft.functions.BpeVocab.Builtin).as("__ids__"))
        .select(col("doc_id"),
          array_join(col("__ids__").cast("array<string>"), ",").as("token_ids"),
          size(col("__ids__")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),
    // training-ready packed token streams: q115's assignment with the
    // per-pack id concatenation materialized — the trainer artifact
    "q121_pack_token_streams" -> ((s, dir) =>
      graft.ops.Packing.packTokenStreams(
        table(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
        graft.functions.BpeVocab.Builtin, capacity = 2048L, nStreams = 8)
        .select(col("pack_id"), col("stream"), col("pack"), col("n_docs"),
          col("n_tokens"),
          array_join(col("token_ids").cast("array<string>"), ",").as("token_ids"))
        .orderBy("pack_id")),
    // context-window chunking: split each doc into fixed token windows
    // with overlap (pure per-row integer arithmetic + explode, no shuffle)
    "q55_chunk_docs" -> ((s, dir) =>
      graft.ops.Packing.chunkDocuments(
        table(s, dir, "documents").select("doc_id", "text"), "doc_id",
        TextAnalysis.bpeTokenCount(col("text")), chunkSize = 256L, overlap = 32L)
        .orderBy("doc_id", "chunk_idx")),
    // q55's context windows with boundaries in EXACT trainer tokens (the
    // vendored-vocab kernel in the scan projection — chunk offsets a
    // tokenizer-aware loader can slice directly)
    "q132_chunk_exact_bpe" -> ((s, dir) =>
      graft.ops.Packing.chunkDocuments(
        fanned(s, dir, "documents").select("doc_id", "text"), "doc_id",
        TextAnalysis.bpeTokenCountExact(col("text"),
          graft.functions.BpeVocab.Builtin), chunkSize = 64L, overlap = 16L)
        .orderBy("doc_id", "chunk_idx")),
    // crawl→multimodal ingest: harvest image responses out of WARC
    // payloads by HTTP Content-Type (binary bodies — the media half of a
    // real crawl the html_text walk skips); dims re-parsed from the
    // harvested bytes by the native IHDR parser, so the oracle's framing
    // arithmetic pins extraction AND parse. One Generate per payload, all
    // inside the scan stage — only matching bodies leave it
    "q133_warc_media_extract" -> ((s, dir) => {
      val crawl = Multimodal.warcImageCrawlFromDocuments(table(s, dir, "documents"))
      Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.png$", 1).cast("long").as("media_id"),
          col("content_type"),
          length(col("payload")).cast("long").as("n_bytes"),
          graft.functions.MediaFunctions.imageDims(col("payload")).as("d"))
        .select(col("media_id"), col("content_type"), col("n_bytes"),
          col("d.width").cast("long").as("width"),
          col("d.height").cast("long").as("height"))
        .orderBy("media_id")
    }),
    // perceptual image fingerprints: 64-bit aHash (8×8 grid luma-vs-mean)
    // and dHash (9×8 horizontal gradient) as native codegen expressions
    // over the q86 PNG fixtures — integer-exact grid math (floor-div cell
    // mapping, cross-multiplied comparisons), so DuckDB recomputes every
    // bit from the same hex text. Emitted as unsigned 32-bit halves (the
    // driver compare needs sign-free integers on both sides)
    "q134_image_phash" -> ((s, dir) => {
      val m = Multimodal.pngPixelMediaFromDocuments(table(s, dir, "documents"))
      // EvalOnce on ah: the filtered column (pushdown-clone guard)
      m.select(col("media_id"),
          graft.functions.EvalOnce(
            graft.functions.MediaFunctions.pngAHash64(col("payload"))).as("ah"),
          graft.functions.MediaFunctions.pngDHash64(col("payload")).as("dh"))
        .where(col("ah").isNotNull)
        .select(col("media_id"),
          shiftrightunsigned(col("ah"), 32).as("ah_hi"),
          col("ah").bitwiseAND(lit(0xFFFFFFFFL)).as("ah_lo"),
          shiftrightunsigned(col("dh"), 32).as("dh_hi"),
          col("dh").bitwiseAND(lit(0xFFFFFFFFL)).as("dh_lo"))
        .orderBy("media_id")
    }),
    // media dedup end-to-end: WARC harvest → exact byte dedup (hash-narrow
    // two-phase, keep-min-id) → aHash near-dup pairs (pigeonhole-banded
    // Hamming ≤ 3, recall exactly 1) → connected components → keep-min per
    // cluster. The fixture plants an exact-dup group (one constant image
    // across all doc_id%7 docs) and per-doc near-dup variants (one-pixel
    // dents); the oracle replays every decision from the doc text —
    // hashes, banding (sound by the pigeonhole theorem), and the
    // transitive clustering (recursive reachability)
    "q135_media_dedup" -> ((s, dir) => {
      val crawl = Multimodal.warcImageCrawlFromDocuments(table(s, dir, "documents"))
      val media = Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.png$", 1).cast("long").as("media_id"),
          col("payload"))
      // frozen ladder: the media frame here is a crawl DERIVATION (WARC
      // walk + content-type harvest), and the dedup ladder has ~8
      // consumers — freezing the extraction once measured 2x faster even
      // at sf0.1 (11.0 -> 5.4 s) and is the 100 TB default for derived
      // media (MultimodalSpec pins frozen ≡ unfrozen bit-for-bit; the
      // chain's checkpoint backs the returned plan, lifecycle as the CC
      // freezes — ContextCleaner-managed once the frame is unreachable)
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaDedup.imageDedupReport(media, "payload", "media_id",
        maxHamming = 3, chain = Some(chain))
        .select(col("media_id"), col("status"), col("keeper"))
        .orderBy("media_id")
    }),
    // LAION/DataComp-style image quality battery: dims / aspect /
    // dynamic-range / brightness gates, every signal derived from the
    // native pixel decode in ONE codegen'd scan projection — the q98
    // Gopher-battery shape for images. The oracle recomputes each signal
    // from the fixture hex (integer sums; round-6 on the two doubles)
    "q136_image_quality" -> ((s, dir) => {
      val crawl = Multimodal.warcImageCrawlFromDocuments(fanned(s, dir, "documents"))
      val media = Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.png$", 1).cast("long").as("media_id"),
          col("payload"))
      graft.ops.MediaQuality.imageQualityReport(media, "payload", "media_id")
        .select(col("media_id"), col("width"), col("height"),
          round(col("aspect"), 6).as("aspect"),
          round(col("mean_luma"), 6).as("mean_luma"),
          col("dyn_range"), col("payload_bytes"),
          col("ok_dims"), col("ok_aspect"), col("ok_dyn_range"), col("ok_luma"),
          col("passes"))
        .orderBy("media_id")
    }),
    // the audio battery (q136's shape for clips): sample-rate floor,
    // channel cap, duration floor, RMS silence floor, clipping cap — all
    // from the native RIFF/PCM parsers in one scan projection; gate
    // constants chosen to split the fixture on every gate
    "q137_audio_quality" -> ((s, dir) => {
      val m = Multimodal.audioFromDocuments(fanned(s, dir, "documents"))
      graft.ops.MediaQuality.audioQualityReport(m, "payload", "media_id",
        minSampleRate = 16000L, maxChannels = 1L, minDurationS = 0.004,
        minRms = 25400.0, clipPeak = 30600L)
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), round(col("duration_s"), 6).as("duration_s"),
          col("peak"), round(col("rms"), 6).as("rms"), col("payload_bytes"),
          col("ok_rate"), col("ok_channels"), col("ok_duration"),
          col("ok_level"), col("ok_clip"), col("passes"))
        .orderBy("media_id")
    }),
    // the multimodal curation CAPSTONE: quality gates FIRST (scan-stage
    // battery drops junk before anything hashes), then the dedup ladder
    // over the gated pool — one call, statuses quality_reject / exact_dup
    // / near_dup / kept. Gate constants loosened vs q136 so every status
    // is non-vacuous (the constant-image group must SURVIVE gating to
    // exercise exact dedup after it). Chain given: extraction frozen at
    // entry + pool frozen in the ladder (the q135 rationale)
    "q139_media_pipeline" -> ((s, dir) => {
      val crawl = Multimodal.warcImageCrawlFromDocuments(table(s, dir, "documents"))
      val media = Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.png$", 1).cast("long").as("media_id"),
          col("payload"))
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaPipeline.curateImages(media, "payload", "media_id",
        minDim = 6L, maxAspect = 2.2, minDynRange = 0L, lumaBounds = (60.0, 200.0),
        maxHamming = 3, chain = Some(chain))
        .orderBy("media_id")
    }),
    // video battery (completes the modality triple): duration window,
    // frame-dim floor, aspect cap, track cap — signals through the real
    // ISO-BMFF box walk (byte-parity pinned by q94), gate constants
    // splitting the fixture on every gate
    "q140_video_quality" -> ((s, dir) => {
      val m = Multimodal.videoFromDocuments(table(s, dir, "documents"))
      graft.ops.MediaQuality.videoQualityReport(m, "payload", "media_id",
        minDurationMs = 1000L, maxDurationMs = 12000L, minDim = 360L,
        maxAspect = 2.5, maxTracks = 1L)
        .select(col("media_id"), col("timescale"), col("duration_ms"),
          col("n_tracks"), col("width"), col("height"),
          round(col("aspect"), 6).as("aspect"),
          col("ok_duration"), col("ok_dims"), col("ok_aspect"),
          col("ok_tracks"), col("passes"))
        .orderBy("media_id")
    }),
    // 64-bit energy-envelope audio fingerprint (the aHash analogue for
    // PCM): 65 equal L = n/65 sample windows, adjacent-energy comparison
    // bits — integer-exact, so DuckDB replays every window energy from
    // the same text bytes. Unsigned 32-bit halves (the q134 convention);
    // sub-65-sample clips hash NULL and are excluded on both sides
    "q138_audio_envelope" -> ((s, dir) => {
      val m = Multimodal.audioFromDocuments(table(s, dir, "documents"))
      m.select(col("media_id"),
          graft.functions.EvalOnce(
            graft.functions.MediaFunctions.pcmEnvelopeHash64(col("payload"))).as("eh"))
        .where(col("eh").isNotNull)
        .select(col("media_id"),
          shiftrightunsigned(col("eh"), 32).as("eh_hi"),
          col("eh").bitwiseAND(lit(0xFFFFFFFFL)).as("eh_lo"))
        .orderBy("media_id")
    }),
    // MIXED-codec battery + perceptual hash (the real-crawl shape: the
    // image population is mostly JPEG): quality signals and aHash over a
    // crawl interleaving PNGs with baseline-JPEG mosaics — one codegen'd
    // scan projection through the codec-dispatching expressions; the
    // oracle replays PNG signals from pixel hex and JPEG signals from the
    // mosaic block values (bit-exact decode per JpegFixtures)
    "q141_mixed_image_quality" -> ((s, dir) => {
      val crawl = Multimodal.warcMixedImageCrawlFromDocuments(fanned(s, dir, "documents"))
      val media = Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.(png|jpg)$", 1)
            .cast("long").as("media_id"),
          regexp_extract(col("url"), "\\.(png|jpg)$", 1).as("kind"),
          col("payload"))
      media.select(col("media_id"), col("kind"),
          graft.ops.MediaQuality.imageSignalsWithAHash(col("payload")).as("__s__"))
        .select(col("media_id"), col("kind"), col("__s__"),
          graft.ops.MediaQuality.imageGates(col("__s__")).as("__g__"))
        .select(col("media_id"), col("kind"),
          col("__s__.width").as("width"), col("__s__.height").as("height"),
          round(col("__s__.aspect"), 6).as("aspect"),
          round(col("__s__.mean_luma"), 6).as("mean_luma"),
          col("__s__.dyn_range").as("dyn_range"),
          col("__g__.ok_dims").as("ok_dims"), col("__g__.ok_aspect").as("ok_aspect"),
          col("__g__.ok_dyn_range").as("ok_dyn_range"), col("__g__.ok_luma").as("ok_luma"),
          col("__g__.passes").as("passes"),
          shiftrightunsigned(col("__s__.ahash"), 32).as("ah_hi"),
          col("__s__.ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ah_lo"))
        .orderBy("media_id")
    }),
    // the curation capstone over the MIXED crawl: gates-then-ladder with
    // JPEG rows landing in every status — quality_reject (the bright
    // plant), exact_dup (the constant JPEG group), near_dup (XOR-1 dent
    // re-encodes AND cross-codec PNG thumbnails at Hamming 0), kept.
    // Same q139 gate constants and freeze contract
    "q142_mixed_media_pipeline" -> ((s, dir) => {
      val crawl = Multimodal.warcMixedImageCrawlFromDocuments(fanned(s, dir, "documents"))
      val media = Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.(png|jpg)$", 1)
            .cast("long").as("media_id"),
          col("payload"))
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaPipeline.curateImages(media, "payload", "media_id",
        minDim = 6L, maxAspect = 2.2, minDynRange = 0L, lumaBounds = (60.0, 200.0),
        maxHamming = 3, chain = Some(chain))
        .orderBy("media_id")
    }),
    // the WebP CRAWL capstone (round 17): same content classes as q142
    // with the mosaic slice served as lossless WebP — harvest → battery →
    // exact → banded near-dup ladder all through the native VP8L decode;
    // the oracle is q142's VERBATIM (identical decoded content under a
    // content-bijective encoder), so this query asserts codec-equal
    // curation decisions incl. the cross-codec WebP↔PNG-thumbnail pairs
    "q153_webp_crawl_pipeline" -> ((s, dir) => {
      val crawl = Multimodal.warcMixedWebpCrawlFromDocuments(fanned(s, dir, "documents"))
      val media = Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.(png|webp)$", 1)
            .cast("long").as("media_id"),
          col("payload"))
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaPipeline.curateImages(media, "payload", "media_id",
        minDim = 6L, maxAspect = 2.2, minDynRange = 0L, lumaBounds = (60.0, 200.0),
        maxHamming = 3, chain = Some(chain))
        .orderBy("media_id")
    }),
    // chunked-transfer captures: the WARC walk now DECHUNKS HTTP bodies
    // whose headers say Transfer-Encoding: chunked — text bodies come out
    // as the exact document bytes (no framing noise), PNG bodies decode
    // through the native dims parser; the oracle replays every dechunked
    // field arithmetically (the q106 convention)
    "q143_warc_chunked" -> ((s, dir) => {
      val w = Multimodal.warcChunkedCrawlFromDocuments(fanned(s, dir, "documents"))
      w.select(col("media_id"),
          explode(graft.functions.WarcFunctions.warcRecords(col("payload"))).as("r"))
        .select(col("media_id").as("doc_id"),
          when(col("r.content_type").startsWith("image/"), lit("png"))
            .otherwise(lit("text")).as("kind"),
          col("r.http_status").cast("long").as("http_status"),
          col("r.content_type").as("content_type"),
          length(col("r.body")).cast("long").as("n_bytes"),
          graft.functions.MediaFunctions.imageDims(col("r.body")).as("d"),
          col("r.body").as("body"))
        .select(col("doc_id"), col("kind"), col("http_status"), col("content_type"),
          col("n_bytes"),
          col("d.width").cast("long").as("width"),
          col("d.height").cast("long").as("height"),
          when(col("kind") === "text", col("body").cast("string")).as("body_text"))
        .orderBy("doc_id", "kind")
    }),
    // video container fingerprint (the aHash/envelope analogue for the
    // third modality): 65-window sample-SIZE contour from the stsz box —
    // integer-exact, so DuckDB replays every window sum from the same
    // text bytes; honestly a container signature (re-mux class), not a
    // content hash. Unsigned 32-bit halves (the q134 convention)
    "q144_video_sample_hash" -> ((s, dir) => {
      val m = Multimodal.videoWithSamplesFromDocuments(fanned(s, dir, "documents"))
      // EvalOnce: without it, pushdown clones the full stsz synthesis +
      // hash into the isNotNull filter BELOW the fan exchange — 2.4 s of
      // serial single-task decode before the parallel stage even starts
      m.select(col("media_id"),
          graft.functions.EvalOnce(
            graft.functions.MediaFunctions.videoSampleHash64(col("payload"))).as("sh"))
        .where(col("sh").isNotNull)
        .select(col("media_id"),
          shiftrightunsigned(col("sh"), 32).as("sh_hi"),
          col("sh").bitwiseAND(lit(0xFFFFFFFFL)).as("sh_lo"))
        .orderBy("media_id")
    }),
    // video dedup ladder: exact byte dedup (the constant-clip group) +
    // sample-size-contour clustering — byte-different RE-MUXED copies
    // (different brand, doubled timescale, same encoded samples) dedup at
    // Hamming 0; the oracle replays exact groups, window sums, banding,
    // and the recursive clustering from doc arithmetic
    "q145_video_dedup" -> ((s, dir) => {
      val m = Multimodal.videoWithSamplesFromDocuments(table(s, dir, "documents"))
      // frozen ladder (the q135 convention): the media frame is a DERIVED
      // fixture (130-entry stsz synthesis from doc text) and the ladder
      // has ~8 consumers — without the chain the synthesis recomputes per
      // consumer, which is the recompute-x-8 shape q135 measured at 2x
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaDedup.videoDedupReport(m, "payload", "media_id",
        chain = Some(chain))
        .select(col("media_id"), col("status"), col("keeper"))
        .orderBy("media_id")
    }),
    // the AUDIO curation capstone (q139's convention for clips): battery
    // gates first (rate/channel policy — doc_id arithmetic — plus the
    // decodability floor), then the envelope-hash ladder over the gated
    // pool: byte twins drop exact, junk-LIST container remasters dedup
    // at Hamming 0, short clips (< 65 samples) skip the perceptual
    // stage; all four statuses non-vacuous
    "q146_audio_pipeline" -> ((s, dir) => {
      val m = Multimodal.audioDedupMediaFromDocuments(table(s, dir, "documents"))
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaPipeline.curateAudio(m, "payload", "media_id",
        graft.ops.MediaPipeline.AudioPolicy(minSampleRate = 16000L, maxChannels = 1L,
          minDurationS = 0.0, minRms = 0.0, clipPeak = 40000L),
        maxHamming = 3, chain = Some(chain))
        .orderBy("media_id")
    }),
    // the ALL-MODALITY capstone: ONE call curates a typed media frame —
    // per-kind gates and ladders (image aHash / audio envelope / video
    // sample contour), dedup never pairing across modalities; the
    // oracle replays all three gates-then-ladder chains and unions the
    // statuses. Media frozen once at entry, pools frozen per ladder
    "q147_media_pipeline_all" -> ((s, dir) => {
      val m = Multimodal.multimodalMediaFromDocuments(table(s, dir, "documents"))
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaPipeline.curateMedia(m, "payload", "media_id", "kind",
        image = graft.ops.MediaPipeline.ImagePolicy(minDim = 2L, maxAspect = 2.2,
          minDynRange = 0L, lumaBounds = (60.0, 200.0)),
        audio = graft.ops.MediaPipeline.AudioPolicy(minSampleRate = 16000L,
          maxChannels = 1L, minDurationS = 0.0, minRms = 0.0, clipPeak = 40000L),
        video = graft.ops.MediaPipeline.VideoPolicy(minDurationMs = 100L,
          maxDurationMs = 20000L, minDim = 240L, maxAspect = 2.2, maxTracks = 1L),
        maxHamming = 3, chain = Some(chain))
        .orderBy("media_id")
    }),
    // PROGRESSIVE JPEG on the query surface: baseline and SOF2 re-encodes
    // of the same mosaics run the SAME battery + aHash through the native
    // decode (a real crawl's progressive share — mozjpeg's default — is
    // first-class, not quality_rejected). Signals and hashes are
    // coding-INDEPENDENT: the oracle replays both rows from ONE
    // block-value relation; flat-bright plants split the gate; unsigned
    // halves per the q134 convention
    "q148_progressive_jpeg" -> ((s, dir) => {
      val m = Multimodal.progressiveJpegMediaFromDocuments(fanned(s, dir, "documents"))
      m.select(col("media_id"), col("coding"),
          graft.ops.MediaQuality.imageSignalsWithAHash(col("payload")).as("__s__"))
        .select(col("media_id"), col("coding"),
          col("__s__.width").as("width"), col("__s__.height").as("height"),
          round(col("__s__.mean_luma"), 6).as("mean_luma"),
          col("__s__.dyn_range").as("dyn_range"),
          graft.ops.MediaQuality.imageGates(col("__s__"))
            .getField("passes").as("passes"),
          shiftrightunsigned(col("__s__.ahash"), 32).as("ah_hi"),
          col("__s__.ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ah_lo"))
        .orderBy("media_id")
    }),
    // native GIF decode (round 16): real variable-width LZW payloads with
    // an identity grayscale palette, battery + perceptual hash through
    // the SAME codec dispatchers as PNG/JPEG — the oracle replays every
    // signal and aHash bit from text bytes (the q148 mosaic convention)
    "q151_gif_decode" -> ((s, dir) => {
      val m = Multimodal.gifMediaFromDocuments(fanned(s, dir, "documents"))
      m.select(col("media_id"),
          graft.ops.MediaQuality.imageSignalsWithAHash(col("payload")).as("__s__"))
        .select(col("media_id"),
          col("__s__.width").as("width"), col("__s__.height").as("height"),
          round(col("__s__.mean_luma"), 6).as("mean_luma"),
          col("__s__.dyn_range").as("dyn_range"),
          graft.ops.MediaQuality.imageGates(col("__s__"))
            .getField("passes").as("passes"),
          shiftrightunsigned(col("__s__.ahash"), 32).as("ah_hi"),
          col("__s__.ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ah_lo"))
        .orderBy("media_id")
    }),
    // native lossless-WebP decode (round 17): real VP8L bitstreams —
    // canonical prefix codes, subtract-green + predictor transforms,
    // LZ77 row copies, color cache, rotating per doc — through the SAME
    // codec dispatchers as PNG/JPEG/GIF. Pixel content matches the q151
    // mosaic convention exactly, so the oracle replays every signal and
    // aHash bit from text bytes, knob-independent
    "q152_webp_decode" -> ((s, dir) => {
      val m = Multimodal.webpMediaFromDocuments(fanned(s, dir, "documents"))
      m.select(col("media_id"),
          graft.ops.MediaQuality.imageSignalsWithAHash(col("payload")).as("__s__"))
        .select(col("media_id"),
          col("__s__.width").as("width"), col("__s__.height").as("height"),
          round(col("__s__.mean_luma"), 6).as("mean_luma"),
          col("__s__.dyn_range").as("dyn_range"),
          graft.ops.MediaQuality.imageGates(col("__s__"))
            .getField("passes").as("passes"),
          shiftrightunsigned(col("__s__.ahash"), 32).as("ah_hi"),
          col("__s__.ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ah_lo"))
        .orderBy("media_id")
    }),
    // native LOSSY WebP decode (round 18): real VP8 keyframe bitstreams —
    // boolean arithmetic decode, keyframe mode trees, DCT token decode,
    // inverse WHT/DCT, 16×16 + B_PRED intra prediction (RFC 6386) —
    // through the SAME codec dispatchers as PNG/JPEG/GIF/VP8L. The
    // fixture's DC-only construction reconstructs EXACTLY (Vp8Fixtures),
    // so the oracle replays every signal and aHash bit from text bytes
    // even though the codec is lossy; encoder knobs (B_PRED vs Y2/WHT,
    // skip prob) rotate per doc and are pixel-invariant
    // the MULTIMODAL flagship: q81's text preparation (clean → exact
    // dedup → token-set canonicalize → pack) joined with q147's per-doc
    // curated-media inventories — a LAION/DataComp-style dataset build
    // whose every stage is an already-oracled operator; the oracle
    // composes the q81 CTE chain with the q147 status CTEs verbatim
    "q156_prepare_multimodal" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val m = Multimodal.multimodalMediaFromDocuments(d)
        .withColumn("owner_doc", expr("media_id div 100"))
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.Pipeline.prepareMultimodalTraining(
        d, "text", "doc_id", m, "payload", "media_id", "kind", "owner_doc",
        minQuality = 0.5, minTokens = 20L,
        nearDupThreshold = 1.0, shingleSize = 1,
        image = graft.ops.MediaPipeline.ImagePolicy(minDim = 2L, maxAspect = 2.2,
          minDynRange = 0L, lumaBounds = (60.0, 200.0)),
        audio = graft.ops.MediaPipeline.AudioPolicy(minSampleRate = 16000L,
          maxChannels = 1L, minDurationS = 0.0, minRms = 0.0, clipPeak = 40000L),
        video = graft.ops.MediaPipeline.VideoPolicy(minDurationMs = 100L,
          maxDurationMs = 20000L, minDim = 240L, maxAspect = 2.2, maxTracks = 1L),
        maxHamming = 3, capacity = 2048L, nStreams = 8, chain = Some(chain))
        .select(col("doc_id"), col("cluster_id"), col("quality_score"),
          col("n_tokens"), col("n_images"), col("n_audio"), col("n_video"),
          col("stream"), col("pack"), col("pack_id"))
        .orderBy("doc_id")
    }),
    // compressed-audio container meta (the audio sibling of q94's MP4
    // walk): MP3 frame-chain walk (version/bitrate/rate indices, frame
    // count, ID3v2 tag size, 2-bitrate VBR detection), FLAC STREAMINFO
    // bit unpack, Ogg Opus/Vorbis id headers + final-granule duration —
    // every field re-derived by the oracle from doc_id arithmetic, and
    // the first 16 payload bytes replayed hex-for-hex
    "q155_audio_container_meta" -> ((s, dir) => {
      val m = Multimodal.compressedAudioFromDocuments(table(s, dir, "documents"))
      m.select(col("media_id"),
          graft.functions.MediaFunctions.audioContainerMeta(col("payload")).as("m"),
          col("payload"))
        .select(col("media_id"),
          col("m.container").as("container"),
          col("m.codec").as("codec"),
          col("m.sample_rate").cast("long").as("sample_rate"),
          col("m.channels").cast("long").as("channels"),
          col("m.bits_per_sample").cast("long").as("bits_per_sample"),
          col("m.duration_ms").as("duration_ms"),
          col("m.bitrate_kbps").cast("long").as("bitrate_kbps"),
          col("m.frames").as("frames"),
          col("m.vbr").as("vbr"),
          col("m.tag_bytes").as("tag_bytes"),
          hex(substring(col("payload"), 1, 16)).as("hdr_hex"))
        .orderBy("media_id")
    }),
    // the compressed-audio GATE battery over the q155 fixture (the
    // q136/q137 report shape for MP3/FLAC/Ogg): rate floor, channel cap,
    // duration window, bitrate floor that must NOT reject
    // lossless/unknown (FLAC/Opus report 0), VBR policy. Every knob set
    // so every gate splits on the fixture; the oracle replays signals,
    // payload byte totals, and each gate bit from doc_id arithmetic
    "q157_compressed_audio_quality" -> ((s, dir) => {
      val m = Multimodal.compressedAudioFromDocuments(fanned(s, dir, "documents"))
      graft.ops.MediaQuality.compressedAudioQualityReport(m, "payload", "media_id",
        minSampleRate = 16000L, maxChannels = 1L,
        minDurationMs = 100L, maxDurationMs = 10000L,
        minBitrateKbps = 48L, allowVbr = false)
        .orderBy("media_id")
    }),
    "q154_vp8_decode" -> ((s, dir) => {
      val m = Multimodal.vp8MediaFromDocuments(fanned(s, dir, "documents"))
      m.select(col("media_id"),
          graft.ops.MediaQuality.imageSignalsWithAHash(col("payload")).as("__s__"))
        .select(col("media_id"),
          col("__s__.width").as("width"), col("__s__.height").as("height"),
          round(col("__s__.mean_luma"), 6).as("mean_luma"),
          col("__s__.dyn_range").as("dyn_range"),
          graft.ops.MediaQuality.imageGates(col("__s__"))
            .getField("passes").as("passes"),
          shiftrightunsigned(col("__s__.ahash"), 32).as("ah_hi"),
          col("__s__.ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ah_lo"))
        .orderBy("media_id")
    }),
    // harvest-attrition observability: the crawl plants GIF-SIGNATURE
    // bodies (raw text after the magic — corrupt GIFs no decoder reads)
    // that extractWarcMedia keeps (content-type image/*) but nothing
    // decodes — curation surfaces them as their own `undecodable` status
    // instead of folding the decode failure into quality_reject. Same
    // q139 fixture/gates otherwise, so the ladder statuses replay
    // identically
    "q149_undecodable_attrition" -> ((s, dir) => {
      val crawl = Multimodal.warcImageCrawlWithGifsFromDocuments(
        table(s, dir, "documents"))
      val media = Multimodal.extractWarcMedia(crawl, "media_id", "payload")
        .select(
          regexp_extract(col("url"), "/media/(\\d+)\\.(png|gif)$", 1)
            .cast("long").as("media_id"),
          col("payload"))
      val chain = new org.apache.spark.sql.graftbridge.DatasetBridge.FreezeChain
      graft.ops.MediaPipeline.curateImages(media, "payload", "media_id",
        minDim = 6L, maxAspect = 2.2, minDynRange = 0L, lumaBounds = (60.0, 200.0),
        maxHamming = 3, chain = Some(chain))
        .orderBy("media_id")
    }),
    // corpus vocabulary: top-k tokens by total frequency (one grouped agg
    // keyed by term — shuffle ≈ vocab size — then a TakeOrdered merge)
    "q56_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(table(s, dir, "documents"), "text", "doc_id", 100)),
    // repetition/diversity quality metrics: distinct-token ratio and the
    // most-repeated-bigram share per document (per-doc lead windows)
    "q58_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),
    // CCNet-style LM quality filter: unigram perplexity of each doc under
    // the corpus's own token distribution (term-keyed count join, no text
    // ever shuffles)
    "q59_unigram_ppl" -> ((s, dir) =>
      TextAnalysis.unigramPerplexity(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),
    // bigram-LM step of the same filter family: conditional-probability
    // perplexity under the corpus's own bigram counts — hash-keyed narrow
    // shuffles on the Spark side, string-keyed counts in the oracle (a
    // 64-bit collision would FAIL the compare, not hide)
    "q104_bigram_ppl" -> ((s, dir) =>
      TextAnalysis.bigramPerplexity(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),
    // trigram stupid-backoff perplexity (Brants et al. 2007) in the CCNet
    // deployment shape: LM fit on a REFERENCE slice (every 3rd doc), the
    // whole corpus scored against it — so the backoff chain genuinely
    // fires (unseen trigrams → α·bigram, unseen bigrams → α²·unigram,
    // OOV → α²/N)
    "q125_backoff_ppl" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val lm = TextAnalysis.fitStupidBackoffLm(
        d.where(col("doc_id") % 3 === 0), "text")
      TextAnalysis.stupidBackoffPerplexity(d, "text", "doc_id", lm)
        .orderBy("doc_id")
    }),
    // the SINGLE-SCAN spelling of q125 (ngramHashPool): the cached
    // hash-array pool feeds BOTH the reference fit (its %3 slice) and the
    // corpus scoring, so the corpus text is read once. Kept as a separate
    // oracle query, not the default: with page-cached local parquet,
    // recompute measured FASTER at every rehearsal scale (SCALING r14) —
    // the pool pays off when each re-scan re-runs upstream compute (the
    // crawl-extraction rows) or remote-object-store IO
    "q125b_backoff_ppl_pooled" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pool = TextAnalysis.ngramHashPool(d, "text", "doc_id")
      val lm = TextAnalysis.fitStupidBackoffLmFromPool(
        pool.where(col("doc_id") % 3 === 0))
      TextAnalysis.stupidBackoffPerplexityFromPool(pool, "doc_id", lm)
        .orderBy("doc_id")
    }),
    // CCNet head/middle/tail: per-language perplexity thirds cut by
    // WEIGHT MASS (weight = doc length — the paper cuts bytes, not doc
    // counts); composes the bigram LM with the weighted-qcut kernel
    "q122_ppl_buckets" -> ((s, dir) =>
      TextAnalysis.pplBuckets(table(s, dir, "documents"), "text", "doc_id",
        by = Seq("lang"), buckets = 3)
        .orderBy("doc_id")),
    // freeze = the single-scan knob (q125b rationale): scorer explodes +
    // qcut weights read one cached hash-array pool instead of 4 text scans
    "q122b_ppl_buckets_pooled" -> ((s, dir) =>
      TextAnalysis.pplBuckets(table(s, dir, "documents"), "text", "doc_id",
        by = Seq("lang"), buckets = 3, freeze = true)
        .orderBy("doc_id")),
    // the FULL CCNet configuration: head/middle/tail per language under a
    // REFERENCE-fitted backoff LM (the paper buckets crawl text under a
    // Wikipedia-trained KenLM — here the %3 slice plays the reference),
    // cut by weight mass
    "q126_ccnet_buckets" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val lm = TextAnalysis.fitStupidBackoffLm(
        d.where(col("doc_id") % 3 === 0), "text")
      TextAnalysis.pplBuckets(d, "text", "doc_id", by = Seq("lang"),
        buckets = 3, lm = Some(lm))
        .orderBy("doc_id")
    }),
    // single-scan spelling of q126 (q125b rationale): ONE cached pool
    // carries the hash arrays AND the lang/byte-weight columns, so
    // reference fit + corpus scoring + weight-mass thirds read the corpus
    // text exactly once
    "q126b_ccnet_buckets_pooled" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pool = TextAnalysis.ngramHashPool(d, "text", "doc_id",
        extra = Seq(col("lang"),
          length(coalesce(col("text"), lit(""))).cast("double").as("__w__")))
      val lm = TextAnalysis.fitStupidBackoffLmFromPool(
        pool.where(col("doc_id") % 3 === 0))
      TextAnalysis.pplBucketsFromPool(pool, "doc_id", by = Seq("lang"),
        buckets = 3, lm = Some(lm))
        .orderBy("doc_id")
    }),
    // temperature-flattened language mix (XLM/mT5 convention): shares
    // ∝ p^0.5 over the natural lang distribution, drawn through the same
    // hash-seeded admission filter as q64
    "q123_temperature_mix" -> ((s, dir) =>
      graft.ops.Sampling.temperatureMix(
        table(s, dir, "documents").select("doc_id", "lang"),
        Seq("doc_id"), "lang", alpha = 0.5, seed = 13L)
        .orderBy("doc_id")),
    // benchmark decontamination: per-doc distinct-3-gram overlap vs a
    // held-out benchmark slice (bench gram set broadcasts; corpus never
    // shuffles for the join — real pipelines use n≈13)
    "q60_decontaminate" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.ops.Decontamination.overlapStats(
        d.where(col("doc_id") % 97 =!= 0), d.where(col("doc_id") % 97 === 0),
        "text", "doc_id", n = 3).orderBy("doc_id")
    }),
    // the drop path: corpus minus contaminated docs via a narrow id
    // anti-join (text rides the probe side untouched)
    "q62_drop_contaminated" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.ops.Decontamination.dropContaminated(
        d.where(col("doc_id") % 97 =!= 0), d.where(col("doc_id") % 97 === 0),
        "text", "doc_id", n = 3)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),
    // the 100 TB drop path: broadcast Bloom prefilter routes definitely-
    // clean docs scan→output with zero shuffle; bloom-hit suspects re-run
    // the exact machinery, so the result is EXACTLY the anti-join path's.
    // n=2 + maxShared=1 exercises the overlap threshold (q62 uses the
    // default 0)
    "q93_drop_contaminated_bloom" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.ops.Decontamination.dropContaminatedBloom(
        d.where(col("doc_id") % 97 =!= 0), d.where(col("doc_id") % 97 === 0),
        "text", "doc_id", n = 2, maxShared = 1L)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),
    // token-budget mixture: first docs per (lang, source) until each
    // group's running whitespace-token total passes 500 (one window
    // shuffle; budget chosen so the cut BINDS at the oracle-checked SFs —
    // ~10% of rows drop — not just at bench scale)
    "q61_token_budget" -> ((s, dir) =>
      graft.ops.Sampling.takeTokenBudget(
        table(s, dir, "documents"), Seq("lang", "source"),
        TextAnalysis.wsTokenCount(col("text")), budget = 500L, Seq("doc_id"))
        .select("doc_id", "lang", "source", "cum_tokens").orderBy("doc_id")),
    // q61's per-group token budget with EXACT trainer-token counts — the
    // budget now binds in the tokens the trainer will actually see
    "q116_budget_exact_bpe" -> ((s, dir) =>
      graft.ops.Sampling.takeTokenBudget(
        table(s, dir, "documents"), Seq("lang", "source"),
        TextAnalysis.bpeTokenCountExact(coalesce(col("text"), lit("")),
          graft.functions.BpeVocab.Builtin), budget = 1500L, Seq("doc_id"))
        .select("doc_id", "lang", "source", "cum_tokens").orderBy("doc_id")),
    // per-label mean-pooled embedding (class prototypes): exploded to
    // (label, dim, value) rows for the oracle — the dim shuffle carries
    // map-side partial avgs, never the vector table
    "q63_group_centroids" -> ((s, dir) =>
      graft.ops.Similarity.groupCentroids(
        table(s, dir, "embeddings"), Seq("label"), "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "value")),
          col("n_vectors"))
        .select(col("label"), col("dim").cast("long").as("dim"), col("value"),
          col("n_vectors"))
        .orderBy("label", "dim")),
    // PII redaction: deterministic synthetic email+IP injected per doc,
    // then scrubbed (pure regex projection — the scan is the whole plan)
    "q65_scrub_pii" -> ((s, dir) => {
      val d = fanned(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@ex.com via 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")).as("text"))
      d.select(col("doc_id"),
        graft.ops.Scrub.piiCount(col("text")).cast("long").as("n_pii"),
        graft.ops.Scrub.redactPii(col("text")).as("clean"))
        .orderBy("doc_id")
    }),
    // C4-style line cleaning: a too-short line (even docs) / long-enough
    // line (odd docs) + the real text + a banned-phrase line; keep lines
    // with >= 3 tokens not containing "slow"
    "q66_clean_lines" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("too short")).otherwise(lit("kept lead line")),
          lit("\n"), col("text"), lit("\nthis line is slow boilerplate")).as("text"))
      d.select(col("doc_id"),
        graft.ops.Scrub.cleanLines(col("text"), minTokens = 3,
          banned = Seq("slow")).as("clean"))
        .withColumn("n_lines", when(col("clean") === "", lit(0L))
          .otherwise(size(split(col("clean"), "\n")).cast("long")))
        .orderBy("doc_id")
    }),
    // WITHIN-doc repeated-line removal (the repetition FIXER): fixture
    // builds 6-line docs — short '---' separators (exempt, survive twice),
    // a lead line repeated at positions 2/3/6 (first kept, copies
    // dropped), a unique tail. Short docs whose lead trims under the
    // exemption floor keep every copy — both engines apply the same rule
    "q127_dedup_lines" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val lead = substring(coalesce(col("text"), lit("")), 1, 40)
      val doc = concat_ws("\n", lit("---"), lead, lead, lit("---"),
        concat(lit("tail "), col("doc_id").cast("string")), lead)
      d.select(col("doc_id"),
          graft.ops.Scrub.dropRepeatedLines(doc, minLineChars = 5).as("text_clean"))
        .withColumn("n_lines", size(split(col("text_clean"), "\n")).cast("long"))
        .orderBy("doc_id")
    }),
    // tokenizer losslessness, END TO END through the engine: every doc
    // encoded to ids and decoded back must be byte-identical to its
    // input — the oracle is the identity (byte-level BPE loses nothing)
    "q130_bpe_roundtrip" -> ((s, dir) => {
      val v = graft.functions.BpeVocab.Builtin
      table(s, dir, "documents").select(col("doc_id"),
          graft.functions.BpeFunctions.bpeDecode(
            graft.functions.BpeFunctions.bpeEncode(col("text"), v), v)
            .as("text_rt"))
        .orderBy("doc_id")
    }),
    // temperature resampling WITH replacement (in expectation): factors
    // m·share/count feeding the epoch fan-out — under-represented langs
    // UPSAMPLE toward the flattened mix, over-represented ones shed
    "q131_temperature_resample" -> ((s, dir) =>
      graft.ops.Sampling.temperatureResample(
        table(s, dir, "documents").select("doc_id", "lang"),
        Seq("doc_id"), "lang", alpha = 0.5, seed = 23L)
        .orderBy("doc_id", "epoch")),
    // epoch-based UPSAMPLING by per-stratum repeat factors (the
    // source-weight recipe: en 2.5 epochs — 2 full + a seeded-hash coin
    // for the half; zh 3.0 whole — hash never consulted; fr 0.5 —
    // coin-only; de 0 — removed; es absent — natural single epoch)
    "q129_upsample_epochs" -> ((s, dir) =>
      graft.ops.Sampling.upsampleByFactor(
        table(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("doc_id"), "lang",
        Map("en" -> 2.5, "fr" -> 0.5, "de" -> 0.0, "zh" -> 3.0), seed = 17L)
        .orderBy("doc_id", "epoch")),
    // rebalance langs to a fixed target mix — FULLY oracle-backed: the
    // oracle reimplements Spark's xxhash64 (public XXH64) in HUGEINT SQL,
    // so the hash-seeded admission itself is exact-checked, not rows-only
    "q64_match_distribution" -> ((s, dir) =>
      graft.ops.Sampling.matchDistribution(
        table(s, dir, "documents"), Seq("doc_id"), "lang",
        Map(mixTargets: _*), seed = 11L)
        .select("doc_id", "lang").orderBy("doc_id")),
    // the deterministic half of q64 as its own relation: per-stratum
    // available counts + derived keep fraction (binding stratum = 1.0)
    "q83_match_fractions" -> ((s, dir) =>
      graft.ops.Sampling.matchDistributionPlan(
        table(s, dir, "documents"), "lang", Map(mixTargets: _*))
        .select(col("lang"), col("available"),
          round(col("fraction"), 6).as("fraction"))
        .orderBy("lang")),
    // deterministic train/val/test assignment — exact oracle via the same
    // XXH64 SQL reimplementation (every row's split is hash-derived)
    "q84_assign_split" -> ((s, dir) =>
      graft.ops.Sampling.assignSplit(
        table(s, dir, "documents").select("doc_id", "lang"),
        Seq("doc_id"), splitFractions, seed = 5L)
        .select("doc_id", "lang", "split").orderBy("doc_id")),
    // deterministic stratified sampling with explicit per-stratum
    // fractions (incl. a 0-keep default for strata not listed) — exact
    // oracle via the XXH64 unif grid
    "q85_sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.sampleStratified(
        table(s, dir, "documents").select("doc_id", "lang"),
        Seq("doc_id"), "lang", Map("en" -> 0.5, "de" -> 0.25), seed = 13L)
        .select("doc_id", "lang").orderBy("doc_id")),
    // composed corpus cleaning: exact dedup → features → quality filter
    "q39_clean_corpus" -> ((s, dir) =>
      graft.ops.Pipeline.cleanCorpus(fanned(s, dir, "documents"), "text", "doc_id",
        minQuality = 0.5, minTokens = 20L).orderBy("doc_id")),
    // deterministic weighted sampling — FULLY oracle-backed: the oracle
    // recomputes the Efraimidis–Spirakis keys from the same XXH64 hash
    // (HUGEINT SQL reimplementation) and takes the same 200-row head
    "q45_weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(table(s, dir, "documents"),
        "n_chars", Seq("doc_id"), 200, seed = 7L)
        .select("doc_id", "n_chars").orderBy("doc_id")),
    // A8 axis=1: arbitrary row-wise function over weighted columns via
    // Dataset.map (distributed; the closure is max over the weighted row)
    "q38_apply_rowwise" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("w", (col("user_id") % 7 + 1).cast("double"))
        .withColumn("v2", col("value") * 0.5 - 10.0)
        .select("event_id", "value", "v2", "w")
      val wdf = WeightedDataFrame.wt(e, "w")
      wdf.applyRowsFn(vs => vs.flatten.maxOption, keep = Seq("event_id"))
        .orderBy("event_id")
    }),
    // A8 axis=1 result_type="expand": list-like row results become columns
    // (distributed Dataset.map; same weighted-row view as q38)
    "q91_apply_expand" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("w", (col("user_id") % 7 + 1).cast("double"))
        .withColumn("v2", col("value") * 0.5 - 10.0)
        .select("event_id", "value", "v2", "w")
      val wdf = WeightedDataFrame.wt(e, "w")
      wdf.applyRowsFnExpand(
        vs => Seq(vs.flatten.minOption, vs.flatten.maxOption,
          Some(vs.flatten.sum).filter(_ => vs.flatten.nonEmpty)),
        outCols = Seq("rmin", "rmax", "rsum"), keep = Seq("event_id"))
        .orderBy("event_id")
    }),
    // A8 axis=1 result_type="broadcast": a scalar row result broadcast back
    // onto the frame's original numeric columns (original shape retained)
    "q92_apply_broadcast" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("w", (col("user_id") % 7 + 1).cast("double"))
        .withColumn("v2", col("value") * 0.5 - 10.0)
        .select("event_id", "value", "v2", "w")
      val wdf = WeightedDataFrame.wt(e, "w")
      wdf.applyRowsFnBroadcast(vs => Seq(vs.flatten.maxOption), keep = Seq("event_id"))
        .orderBy("event_id")
    }),
    // multimodal plumbing: decode-stub feature extraction; metadata columns
    // are deterministic and oracle-checked (features are hash-driven)
    "q30_multimodal_meta" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(table(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
          col("out_width").cast("long").as("out_width"),
          col("out_height").cast("long").as("out_height"))
        .orderBy("media_id")),
    // audio modality: RIFF/WAVE header parsed back by the native AudioMeta
    // chunk walk; hdr_hex pins the little-endian byte layout bit-for-bit
    "q57_audio_meta" -> ((s, dir) => {
      val a = Multimodal.audioFromDocuments(table(s, dir, "documents"))
      a.select(col("media_id"),
        graft.functions.MediaFunctions.audioMeta(col("payload")).as("m"),
        col("payload"))
        .select(col("media_id"), col("m.format").as("kind"),
          col("m.sample_rate").cast("long").as("sample_rate"),
          col("m.channels").cast("long").as("channels"),
          col("m.bits").cast("long").as("bits"),
          hex(substring(col("payload"), 1, 44)).as("hdr_hex"))
        .orderBy("media_id")
    }),
    // sample-LEVEL PCM decode (codec-free, past q57's header parse): the
    // native PcmStats expression walks the RIFF chunks and accumulates
    // count / peak / Σv² / rms over the data chunk's 16-bit LE samples in
    // one pass — no row amplification (the oracle must explode per-sample)
    "q82_pcm_stats" -> ((s, dir) => {
      val a = Multimodal.audioFromDocuments(table(s, dir, "documents"))
      a.select(col("media_id"),
        graft.functions.EvalOnce(
          graft.functions.MediaFunctions.pcmStats(col("payload"))).as("p"))
        .where(col("p").isNotNull)
        .select(col("media_id"), col("p.n_samples").as("n_samples"),
          col("p.peak").cast("long").as("peak"), col("p.sum_sq").as("sum_sq"),
          round(col("p.rms"), 6).as("rms"))
        .orderBy("media_id")
    }),
    // video modality: ISO-BMFF (MP4) box-tree walk by the native VideoMeta
    // expression — brand from ftyp, timescale/duration from mvhd, track
    // count, dims (16.16 fixed) + handler from the first vide trak; the
    // oracle reconstructs every field AND the first 36 header bytes from
    // doc_id arithmetic (q57's byte-level pattern, video sibling)
    // per-domain curation: URL decomposition (scheme/host/path, userinfo +
    // port stripped, registered domain via the two-level-suffix subset)
    // then a 3-doc cap per registered domain — the C4/Dolma URL stage.
    // Fixture URLs exercise uppercase schemes, userinfo, ports, www/sub
    // prefixes, and .com vs .co.uk registries
    "q107_domain_caps" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val id = col("doc_id")
      val withUrl = d.select(id, col("n_chars"),
        concat(lit("HTTPS://u:p@"),
          when(id % 3 === 0, lit("www."))
            .when(id % 3 === 1, concat(lit("sub"), (id % 5).cast("string"), lit(".")))
            .otherwise(lit("")),
          lit("site"), (id % 17).cast("string"), lit("."),
          when(id % 4 === 0, lit("co.uk")).otherwise(lit("com")),
          when(id % 6 === 0, lit(":8080")).otherwise(lit("")),
          lit("/p/"), id.cast("string"),
          when(id % 2 === 0, lit("?q=1")).otherwise(lit(""))).as("url"))
      val parts = withUrl.select(id, col("n_chars"),
          graft.ops.Urls.scheme(col("url")).as("scheme"),
          graft.ops.Urls.host(col("url")).as("host"),
          graft.ops.Urls.path(col("url")).as("path"))
        .withColumn("domain", graft.ops.Urls.registeredDomain(col("host")))
      graft.ops.Selection.topKPerGroup(parts, Seq("domain"), col("n_chars"), 3, Seq("doc_id"))
        .select(id, col("scheme"), col("host"), col("domain"), col("path"),
          col("n_chars"), col("rank").cast("long").as("rank"))
        .orderBy("doc_id")
    }),
    // per-domain curation under the FULL Public Suffix List algorithm
    // (PslRules.Builtin): multi-level suffixes (com.sg), a private-section
    // suffix (github.io), the published wildcard family (*.ck) and its
    // exception (!www.ck), and IP-literal passthrough — the cases the
    // two-level subset of q107 cannot express. The fixture host is pure
    // doc_id arithmetic, so the oracle rebuilds the expected registered
    // domain per case (q106's fixture-arithmetic pattern) — exercising
    // the native PslRegisteredDomain expression end-to-end hash-exact
    "q107b_domain_caps_psl" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val id = col("doc_id")
      val m = (id % 13).cast("string")
      val host = when(id % 7 === 0, concat(lit("www.site"), m, lit(".co.uk")))
        .when(id % 7 === 1, concat(lit("sub"), (id % 5).cast("string"),
          lit(".site"), m, lit(".github.io")))
        .when(id % 7 === 2, concat(lit("site"), m, lit(".com")))
        .when(id % 7 === 3, concat(lit("a.b.site"), m, lit(".ck")))
        .when(id % 7 === 4, lit("www.ck"))
        .when(id % 7 === 5, concat(lit("192.0.2."), m))
        .otherwise(concat(lit("site"), m, lit(".com.sg")))
      val withUrl = d.select(id, col("n_chars"),
        concat(lit("https://"), host, lit("/p/"), id.cast("string")).as("url"))
      val parts = withUrl.select(id, col("n_chars"),
          graft.ops.Urls.host(col("url")).as("host"))
        .withColumn("domain", graft.ops.Urls.registeredDomainPsl(col("host")))
      graft.ops.Selection.topKPerGroup(parts, Seq("domain"), col("n_chars"), 3, Seq("doc_id"))
        .select(id, col("host"), col("domain"), col("n_chars"),
          col("rank").cast("long").as("rank"))
        .orderBy("doc_id")
    }),
    // URL-keyed crawl dedup, keep-newest (the CCNet/RefinedWeb snapshot
    // stage): two captures per doc — an OLDER messy form (uppercase
    // scheme/host, userinfo, default :80 port, trailing path slash,
    // unsorted params + a utm_ tracking param, fragment, and a trailing
    // FQDN host dot on every 5th doc) and a NEWER clean form. Both
    // normalize to the same key, so keep-newest retains the clean capture;
    // every 7th doc's newer record is a NON-URL that must pass through
    // (NULL key) alongside its older URL (now a singleton group).
    "q124_url_dedup" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id")
      val m = (id % 17).cast("string")
      val oldUrl = concat(lit("HTTP://u:p@WWW.Site"), m, lit(".COM"),
        when(id % 5 === 0, lit(".")).otherwise(lit("")),
        lit(":80/p/"), id.cast("string"), lit("/?b=2&utm_source=x&a=1#frag"))
      val newUrl = when(id % 7 === 0,
          concat(lit("not a url "), id.cast("string")))
        .otherwise(concat(lit("http://www.site"), m, lit(".com/p/"),
          id.cast("string"), lit("?a=1&b=2")))
      val recs = d.select(explode(array(
          struct((id * 2).as("rec_id"), oldUrl.as("url"), (id * 2).as("ts")),
          struct((id * 2 + 1).as("rec_id"), newUrl.as("url"),
            (id * 2 + 1).as("ts")))).as("r"))
        .select(col("r.rec_id"), col("r.url"), col("r.ts"))
      graft.ops.Dedup.dropByUrl(recs, "url", "ts", "rec_id")
        .withColumn("url_norm", graft.ops.Urls.normalizeUrl(col("url")))
        .orderBy("rec_id")
    }),
    // HTML → text extraction: the native html_text expression over an
    // arithmetic HTML fixture (comments, style/script with a decoy
    // close-tag in the script body, named/numeric/unknown entities,
    // block-vs-inline tags, <br>, a literal '<') — the oracle rebuilds
    // the EXPECTED extracted text per doc_id (q106's fixture-arithmetic
    // pattern), so tag stripping, entity decoding, block line breaks and
    // whitespace normalization are all pinned hash-exact
    "q108_html_extract" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
          Multimodal.htmlFromDocuments(col("doc_id"), col("text")).as("html"))
        .select(col("doc_id"),
          graft.ops.Extract.textFromHtml(col("html")).as("text_clean"))
        .orderBy("doc_id")
    }),
    // the crawl-to-corpus composition the engine exists for: WARC payload
    // -> native record walk -> http body -> html_text extraction ->
    // Gopher quality battery, all in ONE scan-shaped plan (no joins);
    // the oracle rebuilds the expected extracted text arithmetically and
    // runs the same battery SQL as q98 over it
    "q109_warc_extract_gopher" -> ((s, dir) => {
      val w = Multimodal.warcHtmlFromDocuments(table(s, dir, "documents"))
      val recs = w.select(col("media_id").as("doc_id"),
          explode(graft.functions.WarcFunctions.warcRecords(col("payload"))).as("r"))
        .where(col("r.rec_type") === "response")
        .select(col("doc_id"),
          graft.ops.Extract.textFromHtmlBytes(col("r.body")).as("text"))
      TextAnalysis.gopherQuality(recs, "text", "doc_id",
        TextAnalysis.GopherThresholds(minWords = 10, minStopwords = 1))
        .orderBy("doc_id")
    }),
    // Gopher REPETITION battery (Rae et al. 2021 Table A1): duplicate
    // line/paragraph fractions (+char variants), top 2/3/4-gram char
    // fractions, duplicate 5..10-gram char coverage — the within-doc
    // half of the Gopher filter suite. The fixture corpus carries real
    // repetition (generated docs repeat vocabulary), so the signals and
    // the paper-threshold conjunction both bind.
    "q118_gopher_repetition" -> ((s, dir) =>
      graft.ops.GopherRepetition.gopherRepetition(
          fanned(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),
    // the crawl-to-training-tokens FLAGSHIP: WARC record walk →
    // html_text extraction → Gopher quality gate → exact keep-first
    // dedup → sequence packing under EXACT BPE token budgets — the whole
    // 100 TB ingest composition in one declarative plan, every stage an
    // individually-oracled operator and the composition itself
    // end-to-end exact (the oracle chains the q109 battery, keep-first
    // windows, the rank-order BPE recursion, and the q50 packing
    // arithmetic over the REBUILT extracted text)
    "q117_crawl_to_pack" -> ((s, dir) => {
      val w = Multimodal.warcHtmlFromDocuments(fanned(s, dir, "documents"))
      val recs = w.select(col("media_id").as("doc_id"),
          explode(graft.functions.WarcFunctions.warcRecords(col("payload"))).as("r"))
        .where(col("r.rec_type") === "response")
        // EvalOnce: the Gopher gate below references `text` repeatedly;
        // pushdown would clone the HTML extraction into the predicate
        .select(col("doc_id"),
          graft.functions.EvalOnce(
            graft.ops.Extract.textFromHtmlBytes(col("r.body"))).as("text"))
      val kept = recs.where(TextAnalysis.gopherPasses(col("text"),
        TextAnalysis.GopherThresholds(minWords = 10, minStopwords = 1)))
      val deduped = graft.ops.Dedup.dropExact(kept, "text", "doc_id")
      graft.ops.Packing.packSequences(deduped, "doc_id",
          TextAnalysis.bpeTokenCountExact(col("text"),
            graft.functions.BpeVocab.Builtin), capacity = 512L, nStreams = 4)
        .select("doc_id", "n_tokens", "stream", "pack", "pack_id")
        .orderBy("doc_id")
    }),
    // the CAPSTONE pipeline: q117's crawl→text chain extended with the
    // reference-LM quality gate and the trainer-facing artifact — WARC
    // walk → html_text → Gopher gate (one scan) → exact keep-first dedup
    // → backoff LM fit on the %3 slice of the SURVIVING pool → ppl
    // admission → packed token-id streams under EXACT BPE budgets. The
    // deduped pool is frozen once (the Pipeline freeze contract) so the
    // LM fit, the scoring pass, and the packing all reuse it instead of
    // re-walking the crawl
    "q128_web_pipeline" -> ((s, dir) => {
      val w = Multimodal.warcHtmlFromDocuments(table(s, dir, "documents"))
      val recs = w.select(col("media_id").as("doc_id"),
          explode(graft.functions.WarcFunctions.warcRecords(col("payload"))).as("r"))
        .where(col("r.rec_type") === "response")
        .select(col("doc_id"),
          graft.ops.Extract.textFromHtmlBytes(col("r.body")).as("text"))
      val kept = recs.where(TextAnalysis.gopherPasses(col("text"),
        TextAnalysis.GopherThresholds(minWords = 10, minStopwords = 1)))
      // a junk side-feed the LM gate must REJECT: per-doc-unique OOV
      // gibberish; ids offset by 9999990 (≡ 0 mod 15) so junk keeps its
      // %5/%3 residues and stays OUT of the %3 reference slice
      val junk = table(s, dir, "documents")
        .where(col("doc_id") % 5 === 1 && col("doc_id") % 3 =!= 0)
        .select((col("doc_id") + lit(9999990L)).as("doc_id"),
          concat(lit("the qbrf xwqz kplm vrts nghw zdfy cmjq hslx bwrn ptkv x"),
            translate(col("doc_id").cast("string"), "0123456789", "abcdefghij"))
            .as("text"))
      val pool = org.apache.spark.sql.graftbridge.DatasetBridge.freezeStatsFree(
        graft.ops.Dedup.dropExact(kept.unionByName(junk), "text", "doc_id"))
      // the LM stage recomputes over the FROZEN pool (deliberately un-
      // cached): the pool is already materialized blocks, so its re-reads
      // are local block IO, not corpus scans — an ngramHashPool cache on
      // top trades those for a ~2x-bigger cache write and measured SLOWER
      // at sf0.1 (3.6 s vs 3.0 s); the corpus text is read once by the
      // crawl scan regardless. The pooled spellings exist as q122b/q125b/
      // q126b; SCALING r14 records where each side wins.
      val lm = TextAnalysis.fitStupidBackoffLm(
        pool.where(col("doc_id") % 3 === 0), "text")
      val scored = TextAnalysis.stupidBackoffPerplexity(pool, "text", "doc_id", lm)
      val admitted = pool.join(
        scored.where(col("ppl3") <= WebPipelinePplMax).select("doc_id"), Seq("doc_id"))
      graft.ops.Packing.packTokenStreams(admitted, "doc_id", "text",
          graft.functions.BpeVocab.Builtin, capacity = 512L, nStreams = 4)
        .select(col("pack_id"), col("stream"), col("pack"), col("n_docs"),
          col("n_tokens"),
          array_join(col("token_ids").cast("array<string>"), ",").as("token_ids"))
        .orderBy("pack_id")
    }),
    // raw-crawl ingest: WARC files parsed by the native record walker —
    // request AND response records, HTTP framing split, byte-level header
    // pin (hdr_hex); the fixture is pure arithmetic so the oracle rebuilds
    // every parsed field and the raw bytes (q94's pattern for ISO 28500)
    "q106_warc_ingest" -> ((s, dir) => {
      val w = Multimodal.warcFromDocuments(table(s, dir, "documents"))
      w.select(col("media_id"), col("payload"),
          posexplode(graft.functions.WarcFunctions.warcRecords(col("payload")))
            .as(Seq("rec_idx", "r")))
        .select(col("media_id"), col("rec_idx").cast("long").as("rec_idx"),
          col("r.rec_type").as("rec_type"), col("r.url").as("url"),
          col("r.warc_date").as("warc_date"),
          col("r.http_status").cast("long").as("http_status"),
          col("r.content_type").as("content_type"),
          col("r.body").cast("string").as("body"),
          hex(substring(col("payload"), 1, 40)).as("hdr_hex"))
        .orderBy("media_id", "rec_idx")
    }),
    "q94_video_meta" -> ((s, dir) => {
      val v = Multimodal.videoFromDocuments(table(s, dir, "documents"))
      v.select(col("media_id"),
          graft.functions.MediaFunctions.videoMeta(col("payload")).as("m"),
          col("payload"))
        .select(col("media_id"), col("m.brand").as("brand"),
          col("m.timescale").cast("long").as("timescale"),
          col("m.duration_ms").as("duration_ms"),
          col("m.n_tracks").cast("long").as("n_tracks"),
          col("m.width").cast("long").as("width"),
          col("m.height").cast("long").as("height"),
          col("m.handler").as("handler"),
          hex(substring(col("payload"), 1, 36)).as("hdr_hex"))
        .orderBy("media_id")
    }),
    // multimodal byte-level decode: dims parsed FROM the payload bytes by
    // the native ImageDims expression (PNG IHDR / JPEG SOF segment walk);
    // hdr_hex exposes the raw header so the oracle checks the byte layout
    "q54_image_dims" -> ((s, dir) => {
      val m = Multimodal.mediaFromDocuments(table(s, dir, "documents"))
      m.select(col("media_id"),
        graft.functions.MediaFunctions.imageDims(col("payload")).as("d"),
        col("payload"))
        .select(col("media_id"), col("d.format").as("kind"),
          col("d.width").cast("long").as("width"),
          col("d.height").cast("long").as("height"),
          hex(expr("substring(payload, 1, IF(media_id % 2 = 0, 33, 39))")).as("hdr_hex"))
        .orderBy("media_id")
    }),
    // pixel-LEVEL PNG decode (codec-free, past q54's header parse): the
    // native PngPixelStats expression walks the chunks, inflates the IDAT
    // stream (JDK Inflater), unfilters scanlines, and accumulates
    // per-channel sum/min/max in one pass; the fixtures carry STORED
    // (uncompressed) deflate blocks so the oracle re-derives every pixel
    // byte from the same text hex without a decompressor (q82's pattern)
    "q86_png_pixels" -> ((s, dir) => {
      val m = Multimodal.pngPixelMediaFromDocuments(fanned(s, dir, "documents"))
      m.select(col("media_id"),
          graft.functions.EvalOnce(
            graft.functions.MediaFunctions.pngPixelStats(col("payload"))).as("p"))
        .where(col("p").isNotNull)
        .select(col("media_id"), col("p.width").as("w"), col("p.height").as("hh"),
          col("p.ch_sum").as("cs"), col("p.ch_min").as("cmn"), col("p.ch_max").as("cmx"))
        .select(col("media_id"), col("w"), col("hh"),
          posexplode(arrays_zip(col("cs"), col("cmn"), col("cmx"))).as(Seq("channel", "z")))
        .select(col("media_id"), col("channel").cast("long").as("channel"),
          (col("w").cast("long") * col("hh")).as("n_px"),
          col("z.cs").as("c_sum"), col("z.cmn").cast("long").as("c_min"),
          col("z.cmx").cast("long").as("c_max"),
          (col("z.cs").cast("double") / (col("w") * col("hh"))).as("c_mean"))
        .orderBy("media_id", "channel")
    }),
    // 16-BIT grayscale decode under the oracle: one channel of big-endian
    // 2-byte samples through the same inflate+unfilter path; DuckDB
    // recomputes each sample as 256*b[2i] + b[2i+1] from the text hex
    "q88_png_pixels16" -> ((s, dir) => {
      // fan REVERTED (r19, the r18 verdict's q88 item): kill-switch A/B
      // at local[32] read fan 0.74 s / 6.6-8.6 s taskTime vs no-fan
      // 0.72 s / 0.32 s taskTime — a wall wash that pays ~20x the task
      // work; the 16-bit grayscale decode is too cheap to fan
      val m = Multimodal.pngPixel16MediaFromDocuments(table(s, dir, "documents"))
      m.select(col("media_id"),
          graft.functions.EvalOnce(
            graft.functions.MediaFunctions.pngPixelStats(col("payload"))).as("p"))
        .where(col("p").isNotNull)
        .select(col("media_id"),
          col("p.channels").cast("long").as("channels"),
          col("p.depth").cast("long").as("depth"),
          (col("p.width").cast("long") * col("p.height")).as("n_px"),
          element_at(col("p.ch_sum"), 1).as("g_sum"),
          element_at(col("p.ch_min"), 1).cast("long").as("g_min"),
          element_at(col("p.ch_max"), 1).cast("long").as("g_max"),
          (element_at(col("p.ch_sum"), 1).cast("double") /
            (col("p.width") * col("p.height"))).as("g_mean"))
        .orderBy("media_id")
    }),
    // pixel-level JPEG decode (entropy-coded, past q54's header parse):
    // the javax.imageio codec runs inside the mapPartitions batch; the
    // fixtures are hand-ENCODED (spec-derived JpegFixtures, independent of
    // the decoder) uniform-block mosaics whose all-ones quantization
    // round-trips exactly — so DuckDB recomputes every stat analytically
    // from the same text bytes, no codec anywhere in the oracle
    "q89_jpeg_pixels" -> ((s, dir) => {
      val m = Multimodal.jpegMediaFromDocuments(fanned(s, dir, "documents"))
      Multimodal.decodePixelStats(m).toDF()
        .select(col("media_id"),
          (col("width").cast("long") * col("height")).as("n_px"),
          element_at(col("ch_sum"), 1).as("g_sum"),
          element_at(col("ch_min"), 1).cast("long").as("g_min"),
          element_at(col("ch_max"), 1).cast("long").as("g_max"),
          (element_at(col("ch_sum"), 1).cast("double") /
            (col("width") * col("height"))).as("g_mean"))
        .orderBy("media_id")
    }),
    // cluster assignment: the q63 centroids feed back as a broadcast
    // codebook; every vector classified by cosine argmax (corpus never
    // shuffles — only the id-keyed argmax aggregate does)
    "q67_assign_centroids" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.groupCentroids(emb, Seq("label"), "embedding")
      Similarity.assignNearestCentroid(emb, cents, "vec_id", "embedding")
        .select(col("vec_id"), col("label").cast("long").as("assigned"),
          round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    }),
    // curation: keep the 5 longest (by ws-token count) docs per language
    "q68_topk_per_group" -> ((s, dir) =>
      graft.ops.Selection.topKPerGroup(
        table(s, dir, "documents")
          .withColumn("n_tokens", TextAnalysis.wsTokenCount(col("text")).cast("long")),
        Seq("lang"), col("n_tokens"), k = 5, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("rank").cast("long").as("rank"))
        .orderBy("lang", "rank")),
    // curation: top 25% of each language by n_chars (ceil ⇒ every lang
    // keeps at least one doc)
    "q69_top_fraction" -> ((s, dir) =>
      graft.ops.Selection.keepTopFraction(
        table(s, dir, "documents"), Seq("lang"), col("n_chars"), 0.25, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("rank").cast("long").as("rank"))
        .orderBy("lang", "rank")),
    // sentence segmentation: shuffle-free explode; RE2-safe split pattern
    // so the oracle reproduces boundaries byte-for-byte. The synthetic
    // corpus has no punctuation, so deterministic terminators are injected
    // at fixed offsets (à la q65's synthetic PII) to exercise the splitter
    "q70_sentences" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 40), lit(". "),
          substring(col("text"), 41, 40), lit("! "),
          expr("substring(text, 81)")).as("text"))
      TextAnalysis.splitSentences(d, "text", "doc_id")
        .orderBy("doc_id", "sent_idx")
    }),
    // per-source language-mix entropy (corpus-composition report).
    // entropy rounded to 6 decimals on BOTH sides (q51 precedent): two
    // sources can have mathematically-equal entropies that differ by 1 ulp
    // across engines, which would flip value-sorted row order in the compare
    "q71_mix_entropy" -> ((s, dir) =>
      TextAnalysis.mixReport(table(s, dir, "documents"), Seq("source"), "lang")
        .withColumn("entropy", round(col("entropy"), 6))
        .orderBy("source")),
    // token-length histogram (bucket width 50)
    "q72_length_histogram" -> ((s, dir) =>
      TextAnalysis.lengthHistogram(table(s, dir, "documents"), "text", width = 50)
        .orderBy("bucket_start")),
    // cross-corpus near-dup links: even-id docs as corpus A, odd-id as B;
    // t=1.0 (identical token sets) keeps the banding deterministic for the
    // oracle — the probabilistic t<1 path is pinned by CrossCorpusDedupSpec
    "q73_cross_neardup" -> ((s, dir) => {
      val d = fanned(s, dir, "documents")
      Dedup.crossNearDuplicates(
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
        "text", "doc_id", shingleSize = 1, numHashes = 32, threshold = 1.0)
        .orderBy("doc_a", "doc_b")
    }),
    // incremental-ingest dedup: admit odd-id batch only where the even-id
    // reference corpus lacks the content
    "q74_drop_against_ref" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.dropAgainstReference(
        d.where(col("doc_id") % 2 === 1), d.where(col("doc_id") % 2 === 0),
        "text", "doc_id", shingleSize = 1, numHashes = 32, threshold = 1.0)
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),
    // weighted empirical CDF of doc length within language — the
    // cross-domain score-normalization transform (one window shuffle)
    "q77_pct_rank" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("w", (col("doc_id") % 7 + 1).cast("double"))
      val wdf = WeightedDataFrame.wt(d, "w")
      graft.core.WeightedNormalize.ecdf(wdf, "n_chars", Seq("lang"))
        .select("doc_id", "lang", "n_chars", "pct_rank")
        .orderBy("doc_id")
    }),
    // bucketed point-in-interval range join: every 50th event opens a
    // 30-minute window; all events falling in a window link to it. The
    // bucket equi-join avoids the BroadcastNestedLoop a naive
    // s <= t < e join would plan
    "q80_range_join" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_id"), unix_micros(col("ts")).as("t"))
      val iv = e.where(col("event_id") % 50 === 0)
        .select(col("event_id").as("interval_id"), col("t").as("s"),
          (col("t") + 30L * 60 * 1000000).as("e"))
      graft.ops.RangeJoin.rangeJoin(e, "t", iv, "s", "e",
        bucketWidth = 10L * 60 * 1000000)
        .select("event_id", "interval_id", "t")
        .orderBy("event_id", "interval_id")
    }),
    // weighted quartile buckets of doc length within language (qcut on
    // weighted mass — each bucket ≈ 1/4 of the group's weight)
    "q79_qcut" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("w", (col("doc_id") % 7 + 1).cast("double"))
      val wdf = WeightedDataFrame.wt(d, "w")
      graft.core.WeightedNormalize.qcut(wdf, "n_chars", Seq("lang"), q = 4)
        .select("doc_id", "lang", "n_chars", "bucket")
        .orderBy("doc_id")
    }),
    // weighted per-language z-score of doc length (same moment kernel as
    // the batch var — ddof against the weighted count)
    "q78_zscore" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("w", (col("doc_id") % 7 + 1).cast("double"))
      val wdf = WeightedDataFrame.wt(d, "w")
      graft.core.WeightedNormalize.zscore(wdf, "n_chars", Seq("lang"))
        .select("doc_id", "lang", "n_chars", "zscore")
        .orderBy("doc_id")
    }),
    // finite-memory exponentially-weighted mean per event_type stream
    // (pandas ewm.mean(adjust=True) truncated at 16 rows — β¹⁶ ≈ 1.5e-5
    // tail; the truncation is the distributed-scale design, see
    // WeightedRolling.ewmMean)
    "q76_ewm_mean" -> ((s, dir) =>
      graft.core.WeightedRolling.expanding(
          wevents(s, dir, "event_type", "event_id", "value"),
          "event_id", Seq("event_type"))
        .ewmMean(alpha = 0.5, memory = 16)
        .orderBy("event_type", "event_id")),
    // canonicalization: token-set near-dup pairs → transitive clusters →
    // keep the longest doc per cluster (ties → smallest id)
    "q75_canonicalize" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pairs = Dedup.minhashDedup(d, "text", "doc_id",
        shingleSize = 1, numHashes = 32, threshold = 1.0)
      graft.ops.Pipeline.canonicalize(
        d.select("doc_id", "lang", "n_chars"), "doc_id", col("n_chars"), pairs)
        .select("doc_id", "cluster_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),
    // the flagship one-call pipeline, in its fully deterministic
    // configuration (quality gate + exact dedup → token-set-identity
    // canonicalization keeping the best quality_score → sequence packing;
    // no hash-seeded rebalance) — the COMPOSITION is what this row audits,
    // each stage is individually oracle-backed (q39/q75/q50)
    "q81_prepare_training" -> ((s, dir) =>
      graft.ops.Pipeline.prepareTrainingData(
        table(s, dir, "documents"), "text", "doc_id",
        minQuality = 0.5, minTokens = 20L,
        nearDupThreshold = 1.0, shingleSize = 1,
        capacity = 2048L, nStreams = 8)
        .select("doc_id", "cluster_id", "quality_score", "n_tokens",
          "stream", "pack", "pack_id")
        .orderBy("doc_id")),
    // the flagship with the hash-seeded rebalance stage ENABLED — the
    // remaining configuration q81 left uncovered. The lang mix is derived
    // from the post-canonicalization corpus (matchDistribution counts its
    // input), and admission is XXH64-thresholded per row, all of which the
    // oracle reproduces exactly (q64's CTEs chained onto q81's).
    "q81b_prepare_rebalanced" -> ((s, dir) =>
      graft.ops.Pipeline.prepareTrainingData(
        table(s, dir, "documents"), "text", "doc_id",
        minQuality = 0.5, minTokens = 20L,
        nearDupThreshold = 1.0, shingleSize = 1,
        strataCol = Some("lang"), strataTargets = Map(mixTargets: _*),
        capacity = 2048L, nStreams = 8, seed = 11L)
        .select("doc_id", "cluster_id", "quality_score", "n_tokens",
          "stream", "pack", "pack_id")
        .orderBy("doc_id")),
    // the flagship with the DSIR selection stage: clean → canonicalize →
    // importance-resample 150 docs toward the English target distribution
    // (model refit on the POST-canonicalization pool, the faithful DSIR
    // raw) → packing. The oracle chains q81's core CTEs into the q102/q103
    // machinery — model fit, scores, AND the Gumbel draw all exact
    "q105_prepare_dsir" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.ops.Pipeline.prepareTrainingDataDsir(
        d, "text", "doc_id",
        target = d.where(col("lang") === "en").select("doc_id", "text"),
        nSelect = 150,
        minQuality = 0.5, minTokens = 20L,
        nearDupThreshold = 1.0, shingleSize = 1,
        nBuckets = DsirBuckets, alpha = DsirAlpha, temperature = 1.0,
        capacity = 2048L, nStreams = 8, seed = 23L)
        .select("doc_id", "cluster_id", "quality_score", "n_tokens",
          "stream", "pack", "pack_id")
        .orderBy("doc_id")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  private def oracleSqlBase: Map[String, String] = Map(
    "q01_count" ->
      s"""SELECT ${sqlCount("l_extendedprice")} AS l_extendedprice,
         |${sqlCount("l_discount")} AS l_discount,
         |${sqlCount("l_returnflag")} AS l_returnflag FROM lineitem""".stripMargin.replace("\n", " "),
    "q02_count_noskipna" ->
      s"""SELECT ${sqlCountNoSkipna()} AS l_extendedprice,
         |${sqlCountNoSkipna()} AS l_discount FROM lineitem""".stripMargin.replace("\n", " "),
    "q03_sum" ->
      s"""SELECT ${sqlSum("l_extendedprice")} AS l_extendedprice,
         |${sqlSum("l_discount")} AS l_discount FROM lineitem""".stripMargin.replace("\n", " "),
    "q04_mean" ->
      s"""SELECT ${sqlMean("l_extendedprice")} AS l_extendedprice,
         |${sqlMean("l_discount")} AS l_discount FROM lineitem""".stripMargin.replace("\n", " "),
    "q05_var" ->
      s"""SELECT ${sqlVar("l_extendedprice")} AS l_extendedprice,
         |${sqlVar("l_discount")} AS l_discount FROM lineitem""".stripMargin.replace("\n", " "),
    "q06_std" ->
      s"""SELECT ${sqlStd("l_extendedprice")} AS l_extendedprice,
         |${sqlStd("l_discount")} AS l_discount FROM lineitem""".stripMargin.replace("\n", " "),
    "q07_corr" -> corrMatrixSql,
    "q08_grouped_count" ->
      s"""SELECT l_returnflag, ${sqlCount("l_extendedprice")} AS l_extendedprice,
         |${sqlCount("l_discount")} AS l_discount
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q09_grouped_sum" ->
      s"""SELECT l_returnflag, ${sqlSum("l_extendedprice")} AS l_extendedprice,
         |${sqlSum("l_discount")} AS l_discount
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q10_grouped_mean" ->
      s"""SELECT l_returnflag, ${sqlMean("l_extendedprice")} AS l_extendedprice,
         |${sqlMean("l_discount")} AS l_discount
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q11_grouped_var" ->
      s"""SELECT l_returnflag, ${sqlVar("l_extendedprice")} AS l_extendedprice,
         |${sqlVar("l_discount")} AS l_discount
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q12_grouped_std" ->
      s"""SELECT l_returnflag, ${sqlStd("l_extendedprice")} AS l_extendedprice,
         |${sqlStd("l_discount")} AS l_discount
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q13_grouped_corr" -> groupedCorrSql,
    "q14_aligned_corr" ->
      s"""SELECT ${sqlCorrFromMoments()} AS corr FROM
         |(SELECT ${sqlCorrMoments("x", "y", "w")} FROM
         |(SELECT l.l_extendedprice AS x, o.o_totalprice AS y, l.l_quantity AS w
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey))""".stripMargin.replace("\n", " "),
    "q15_grouped_aligned_corr" ->
      s"""SELECT l_returnflag, ${sqlCorrFromMoments()} AS corr FROM
         |(SELECT l_returnflag, ${sqlCorrMoments("x", "y", "w")} FROM
         |(SELECT l.l_returnflag, l.l_extendedprice AS x, o.o_totalprice AS y, l.l_quantity AS w
         |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
         |GROUP BY l_returnflag) ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q16_resample" -> {
      val w = "(user_id % 7 + 1)"
      s"""WITH b AS (SELECT CAST(floor(epoch(ts) / 172800) AS BIGINT) * 172800 AS bucket,
         |value, CAST($w AS DOUBLE) AS w FROM events),
         |a AS (SELECT bucket,
         |sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) AS count_value,
         |coalesce(sum(value * w), 0.0) AS sum_value,
         |(sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) AS mean_value,
         |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_value,
         |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1))) AS std_value
         |FROM b GROUP BY bucket),
         |s AS (SELECT unnest(generate_series((SELECT min(bucket) FROM a), (SELECT max(bucket) FROM a), 172800)) AS bucket)
         |SELECT s.bucket, coalesce(a.count_value, 0.0) AS count_value,
         |coalesce(a.sum_value, 0.0) AS sum_value, a.mean_value, a.var_value, a.std_value
         |FROM s LEFT JOIN a ON s.bucket = a.bucket ORDER BY s.bucket""".stripMargin.replace("\n", " ")
    },
    "q97_grouped_resample" -> {
      val cnt = "sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)"
      s"""WITH b AS (SELECT event_type, CAST(floor(epoch(ts) / 172800) AS BIGINT) * 172800 AS bucket,
         |value, CAST((user_id % 7 + 1) AS DOUBLE) AS w FROM events
         |WHERE event_type IS NOT NULL),
         |a AS (SELECT event_type, bucket,
         |$cnt AS count_value,
         |coalesce(sum(value * w), 0.0) AS sum_value,
         |(sum(value * w) / $cnt) AS mean_value,
         |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / $cnt) / ($cnt - 1)) AS var_value,
         |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / $cnt) / ($cnt - 1))) AS std_value
         |FROM b GROUP BY event_type, bucket),
         |r AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM a GROUP BY event_type),
         |s AS (SELECT event_type, unnest(generate_series(mn, mx, 172800)) AS bucket FROM r)
         |SELECT s.event_type, s.bucket, coalesce(a.count_value, 0.0) AS count_value,
         |coalesce(a.sum_value, 0.0) AS sum_value, a.mean_value, a.var_value, a.std_value
         |FROM s LEFT JOIN a ON s.event_type = a.event_type AND s.bucket = a.bucket
         |ORDER BY s.event_type, s.bucket""".stripMargin.replace("\n", " ")
    },
    "q29_resample_monthly" -> {
      val cnt = "sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END)"
      s"""WITH b AS (SELECT CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT) AS bucket,
         |l_extendedprice AS v, l_quantity AS w FROM lineitem WHERE l_shipdate IS NOT NULL),
         |a AS (SELECT bucket,
         |$cnt AS count_l_extendedprice,
         |coalesce(sum(v * w), 0.0) AS sum_l_extendedprice,
         |(sum(v * w) / $cnt) AS mean_l_extendedprice,
         |((sum(v * v * w) - (sum(v * w) * sum(v * w)) / $cnt) / ($cnt - 1)) AS var_l_extendedprice,
         |sqrt(((sum(v * v * w) - (sum(v * w) * sum(v * w)) / $cnt) / ($cnt - 1))) AS std_l_extendedprice
         |FROM b GROUP BY bucket),
         |s AS (SELECT CAST(epoch(unnest(generate_series(
         |(SELECT min(date_trunc('month', l_shipdate)) FROM lineitem),
         |(SELECT max(date_trunc('month', l_shipdate)) FROM lineitem),
         |INTERVAL 1 MONTH))) AS BIGINT) AS bucket)
         |SELECT s.bucket, coalesce(a.count_l_extendedprice, 0.0) AS count_l_extendedprice,
         |coalesce(a.sum_l_extendedprice, 0.0) AS sum_l_extendedprice,
         |a.mean_l_extendedprice, a.var_l_extendedprice, a.std_l_extendedprice
         |FROM s LEFT JOIN a ON s.bucket = a.bucket ORDER BY s.bucket""".stripMargin.replace("\n", " ")
    },
    // YE closed='left': membership = calendar year of (date + 1 day) —
    // pandas' midnight Dec-31 edges without the end-of-day adjustment;
    // label (right default) = the membership year's Dec 31; spine spans
    // the membership years with no leading/trailing extension
    "q150_resample_closed_left" -> {
      val cnt = "sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END)"
      s"""WITH b AS (SELECT date_trunc('year', l_shipdate + INTERVAL 1 DAY) AS y,
         |l_extendedprice AS v, l_quantity AS w FROM lineitem WHERE l_shipdate IS NOT NULL),
         |a AS (SELECT y,
         |$cnt AS count_l_extendedprice,
         |coalesce(sum(v * w), 0.0) AS sum_l_extendedprice,
         |(sum(v * w) / $cnt) AS mean_l_extendedprice,
         |((sum(v * v * w) - (sum(v * w) * sum(v * w)) / $cnt) / ($cnt - 1)) AS var_l_extendedprice,
         |sqrt(((sum(v * v * w) - (sum(v * w) * sum(v * w)) / $cnt) / ($cnt - 1))) AS std_l_extendedprice
         |FROM b GROUP BY y),
         |s AS (SELECT unnest(generate_series(
         |(SELECT min(y) FROM b), (SELECT max(y) FROM b), INTERVAL 1 YEAR)) AS y)
         |SELECT CAST(epoch(s.y + INTERVAL 1 YEAR - INTERVAL 1 DAY) AS BIGINT) AS bucket,
         |coalesce(a.count_l_extendedprice, 0.0) AS count_l_extendedprice,
         |coalesce(a.sum_l_extendedprice, 0.0) AS sum_l_extendedprice,
         |a.mean_l_extendedprice, a.var_l_extendedprice, a.std_l_extendedprice
         |FROM s LEFT JOIN a ON s.y = a.y ORDER BY bucket""".stripMargin.replace("\n", " ")
    },
    // MS closed='right': membership = calendar month of (ts − 1µs), so
    // exact month-start-midnight rows drop to the previous month; pandas'
    // binner spans (normalize(min) − 1 month, normalize(max) + 1 month],
    // i.e. spine from month(min date − 1 day) to month(max date)
    "q150b_resample_closed_right" -> {
      val cnt = "sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END)"
      s"""WITH b AS (SELECT date_trunc('month', CAST(l_shipdate AS TIMESTAMP) - INTERVAL 1 MICROSECOND) AS m,
         |l_extendedprice AS v, l_quantity AS w FROM lineitem WHERE l_shipdate IS NOT NULL),
         |a AS (SELECT m,
         |$cnt AS count_l_extendedprice,
         |coalesce(sum(v * w), 0.0) AS sum_l_extendedprice,
         |(sum(v * w) / $cnt) AS mean_l_extendedprice,
         |((sum(v * v * w) - (sum(v * w) * sum(v * w)) / $cnt) / ($cnt - 1)) AS var_l_extendedprice,
         |sqrt(((sum(v * v * w) - (sum(v * w) * sum(v * w)) / $cnt) / ($cnt - 1))) AS std_l_extendedprice
         |FROM b GROUP BY m),
         |s AS (SELECT unnest(generate_series(
         |(SELECT date_trunc('month', CAST(min(l_shipdate) AS TIMESTAMP) - INTERVAL 1 DAY) FROM lineitem),
         |(SELECT date_trunc('month', CAST(max(l_shipdate) AS TIMESTAMP)) FROM lineitem),
         |INTERVAL 1 MONTH)) AS m)
         |SELECT CAST(epoch(s.m) AS BIGINT) AS bucket,
         |coalesce(a.count_l_extendedprice, 0.0) AS count_l_extendedprice,
         |coalesce(a.sum_l_extendedprice, 0.0) AS sum_l_extendedprice,
         |a.mean_l_extendedprice, a.var_l_extendedprice, a.std_l_extendedprice
         |FROM s LEFT JOIN a ON s.m = a.m ORDER BY bucket""".stripMargin.replace("\n", " ")
    },
    "q17_grouped_apply_range" ->
      s"""SELECT l_returnflag,
         |(max(l_extendedprice * l_quantity) - min(l_extendedprice * l_quantity)) AS l_extendedprice
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q18_select_grouped_mean" ->
      s"""SELECT l_linestatus, ${sqlMean("l_tax")} AS l_tax
         |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin.replace("\n", " "),
    "q19_null_semantics" ->
      """WITH b AS (SELECT l_returnflag, CASE WHEN l_discount < 0.08 THEN l_extendedprice END AS v,
        |l_quantity AS w FROM lineitem)
        |SELECT l_returnflag,
        |sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END) AS count_skipna,
        |coalesce(sum(w), 0.0) AS count_noskipna,
        |coalesce(sum(v * w), 0.0) AS sum_mc0,
        |sum(v * w) AS sum_mc1,
        |(sum(v * w) / sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END)) AS mean_v,
        |((sum(v * v * w) - (sum(v * w) * sum(v * w)) / sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_v
        |FROM b GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    // row-wise var: same fold order as rowVarExpr ((v + tax) + discount);
    // n_valid >= 2 always (tax/discount never null), so the min_count=1
    // guards on s and q can't fire and are omitted here
    "q52_rowwise_var" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_discount < 0.08 THEN l_extendedprice END AS v,
        |l_tax, l_discount, l_quantity AS w FROM lineitem),
        |c AS (SELECT l_orderkey, l_linenumber,
        |(CASE WHEN v IS NOT NULL THEN v * w ELSE 0.0 END + l_tax * w + l_discount * w) AS s,
        |(CASE WHEN v IS NOT NULL THEN v * v * w ELSE 0.0 END + l_tax * l_tax * w + l_discount * l_discount * w) AS q,
        |w * (CASE WHEN v IS NOT NULL THEN 1.0 ELSE 0.0 END + 1.0 + 1.0) AS n
        |FROM b)
        |SELECT l_orderkey, l_linenumber, ((q - (s * s) / n) / (n - 1.0)) AS "var"
        |FROM c ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " "),
    "q53_rowwise_sum_mc" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_discount < 0.08 THEN l_extendedprice END AS v,
        |l_tax, l_quantity AS w FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |CASE WHEN (CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END + 1) < 2 THEN NULL
        |ELSE (CASE WHEN v IS NOT NULL THEN v * w ELSE 0.0 END + l_tax * w) END AS "sum"
        |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " "),
    "q16b_resample_right" ->
      """WITH b AS (SELECT CAST(ceil(epoch(ts) / 43200) AS BIGINT) * 43200 AS bucket,
        |value, CAST((user_id % 7 + 1) AS DOUBLE) AS w FROM events),
        |a AS (SELECT bucket,
        |sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) AS count_value,
        |coalesce(sum(value * w), 0.0) AS sum_value,
        |(sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) AS mean_value,
        |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_value,
        |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1))) AS std_value
        |FROM b GROUP BY bucket),
        |s AS (SELECT unnest(generate_series((SELECT min(bucket) FROM a), (SELECT max(bucket) FROM a), 43200)) AS bucket)
        |SELECT s.bucket, coalesce(a.count_value, 0.0) AS count_value,
        |coalesce(a.sum_value, 0.0) AS sum_value, a.mean_value, a.var_value, a.std_value
        |FROM s LEFT JOIN a ON s.bucket = a.bucket ORDER BY s.bucket""".stripMargin.replace("\n", " "),
    // pandas "W" ≡ [Mon 00:00, next Mon 00:00) bins labeled by their Sunday:
    // anchor 345600 = 1970-01-05 (a Monday); label = start + 6 days (864000
    // = 345600 + 518400)
    "q47_resample_weekly" ->
      """WITH b AS (SELECT (CAST(floor((epoch(ts) - 345600) / 604800) AS BIGINT) * 604800 + 864000) AS bucket,
        |value, CAST((user_id % 7 + 1) AS DOUBLE) AS w FROM events),
        |a AS (SELECT bucket,
        |sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) AS count_value,
        |coalesce(sum(value * w), 0.0) AS sum_value,
        |(sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) AS mean_value,
        |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_value,
        |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1))) AS std_value
        |FROM b GROUP BY bucket),
        |s AS (SELECT unnest(generate_series((SELECT min(bucket) FROM a), (SELECT max(bucket) FROM a), 604800)) AS bucket)
        |SELECT s.bucket, coalesce(a.count_value, 0.0) AS count_value,
        |coalesce(a.sum_value, 0.0) AS sum_value, a.mean_value, a.var_value, a.std_value
        |FROM s LEFT JOIN a ON s.bucket = a.bucket ORDER BY s.bucket""".stripMargin.replace("\n", " "),
    // origin="end": right-closed bins counting back from max(ts); a row's
    // bin label (right) is origin − floor((origin − ts)/rule)·rule, computed
    // in integer µs exactly like the engine (ns truncated to µs)
    "q48_resample_origin_end" ->
      """WITH mo AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS o FROM events),
        |b AS (SELECT CAST(floor(((SELECT o FROM mo) -
        |CAST(floor(((SELECT o FROM mo) - epoch_us(CAST(ts AS TIMESTAMP))) / 259200000000) AS BIGINT) * 259200000000) / 1000000) AS BIGINT) AS bucket,
        |value, CAST((user_id % 7 + 1) AS DOUBLE) AS w FROM events),
        |a AS (SELECT bucket,
        |sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) AS count_value,
        |coalesce(sum(value * w), 0.0) AS sum_value,
        |(sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) AS mean_value,
        |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_value,
        |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1))) AS std_value
        |FROM b GROUP BY bucket),
        |s AS (SELECT unnest(generate_series((SELECT min(bucket) FROM a), (SELECT max(bucket) FROM a), 259200)) AS bucket)
        |SELECT s.bucket, coalesce(a.count_value, 0.0) AS count_value,
        |coalesce(a.sum_value, 0.0) AS sum_value, a.mean_value, a.var_value, a.std_value
        |FROM s LEFT JOIN a ON s.bucket = a.bucket ORDER BY s.bucket""".stripMargin.replace("\n", " "),
    // pandas "2W-MON": the same data-start phase derivation in integer µs —
    // md = midnight of min(ts); the grid's first bin starts the day after
    // the first on-or-after Monday of md (the −2w shift is a no-op modulo
    // the 14-day width); label = the bin's own end Monday (start + 13d)
    "q110_resample_biweekly" ->
      """WITH md AS (SELECT epoch_us(date_trunc('day', min(CAST(ts AS TIMESTAMP)))) AS m FROM events),
        |anc AS (SELECT m + ((0 - ((m + 259200000000) % 604800000000)) % 604800000000
        |+ 604800000000) % 604800000000 + 86400000000 AS a FROM md),
        |b AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP)) -
        |((epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT a FROM anc)) % 1209600000000
        |+ 1209600000000) % 1209600000000 + 1123200000000) // 1000000 AS bucket,
        |value, CAST((user_id % 7 + 1) AS DOUBLE) AS w FROM events),
        |a AS (SELECT bucket,
        |sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) AS count_value,
        |coalesce(sum(value * w), 0.0) AS sum_value,
        |(sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) AS mean_value,
        |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_value,
        |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1))) AS std_value
        |FROM b GROUP BY bucket),
        |s AS (SELECT unnest(generate_series((SELECT min(bucket) FROM a), (SELECT max(bucket) FROM a), 1209600)) AS bucket)
        |SELECT s.bucket, coalesce(a.count_value, 0.0) AS count_value,
        |coalesce(a.sum_value, 0.0) AS sum_value, a.mean_value, a.var_value, a.std_value
        |FROM s LEFT JOIN a ON s.bucket = a.bucket ORDER BY s.bucket""".stripMargin.replace("\n", " "),
    // pandas "B": the same weekday-rollback arithmetic in SQL — d = days
    // since 1970-01-01 (a Thursday, so pandas weekday = (d+3)%7), weekend
    // days roll back to Friday, the bucket key is the business-day INDEX
    // (5 per week) so the spine is a unit-step generate_series, and the
    // label maps the index back to its weekday's date
    "q112_resample_bday" ->
      """WITH b0 AS (SELECT date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
        |value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events),
        |b1 AS (SELECT CASE WHEN (d + 3) % 7 >= 5 THEN d - ((d + 3) % 7 - 4) ELSE d END AS bd, value, w FROM b0),
        |b AS (SELECT 5 * ((bd + 3) // 7) + (bd + 3) % 7 AS k, value, w FROM b1),
        |a AS (SELECT k,
        |sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) AS count_value,
        |coalesce(sum(value * w), 0.0) AS sum_value,
        |(sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) AS mean_value,
        |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_value,
        |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1))) AS std_value
        |FROM b GROUP BY k),
        |s AS (SELECT unnest(generate_series((SELECT min(k) FROM a), (SELECT max(k) FROM a), 1)) AS k)
        |SELECT (7 * (s.k // 5) - 3 + s.k % 5) * 86400 AS bucket,
        |coalesce(a.count_value, 0.0) AS count_value,
        |coalesce(a.sum_value, 0.0) AS sum_value, a.mean_value, a.var_value, a.std_value
        |FROM s LEFT JOIN a ON s.k = a.k ORDER BY bucket""".stripMargin.replace("\n", " "),
    // pandas "BME": bucket key = months since Jan 1970 of the bin's
    // last-business-day edge (right-closed with end-of-day edges, so a
    // row on the BME day at any time stays in that month: d <= bme(m));
    // the spine regenerates each month-index's BME date for the label
    "q112b_resample_bmonth" ->
      """WITH b0 AS (SELECT l_shipdate AS dt,
        |date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
        |l_extendedprice AS value, l_quantity AS w FROM lineitem WHERE l_shipdate IS NOT NULL),
        |b1 AS (SELECT d, (year(dt) - 1970) * 12 + month(dt) - 1 AS m,
        |date_diff('day', DATE '1970-01-01', last_day(CAST(dt AS DATE))) AS ldd, value, w FROM b0),
        |b2 AS (SELECT d, m, CASE WHEN (ldd + 3) % 7 >= 5 THEN ldd - ((ldd + 3) % 7 - 4) ELSE ldd END AS bme, value, w FROM b1),
        |b AS (SELECT CASE WHEN d <= bme THEN m ELSE m + 1 END AS k, value, w FROM b2),
        |a AS (SELECT k,
        |sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) AS count_l_extendedprice,
        |coalesce(sum(value * w), 0.0) AS sum_l_extendedprice,
        |(sum(value * w) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) AS mean_l_extendedprice,
        |((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1)) AS var_l_extendedprice,
        |sqrt(((sum(value * value * w) - (sum(value * w) * sum(value * w)) / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END)) / (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) - 1))) AS std_l_extendedprice
        |FROM b GROUP BY k),
        |s AS (SELECT unnest(generate_series((SELECT min(k) FROM a), (SELECT max(k) FROM a), 1)) AS k),
        |l1 AS (SELECT k, date_diff('day', DATE '1970-01-01',
        |last_day(make_date(CAST(1970 + k // 12 AS INT), CAST(k % 12 + 1 AS INT), 1))) AS ldd FROM s),
        |l2 AS (SELECT k, CASE WHEN (ldd + 3) % 7 >= 5 THEN ldd - ((ldd + 3) % 7 - 4) ELSE ldd END AS ed FROM l1)
        |SELECT l2.ed * 86400 AS bucket,
        |coalesce(a.count_l_extendedprice, 0.0) AS count_l_extendedprice,
        |coalesce(a.sum_l_extendedprice, 0.0) AS sum_l_extendedprice,
        |a.mean_l_extendedprice, a.var_l_extendedprice, a.std_l_extendedprice
        |FROM l2 LEFT JOIN a ON l2.k = a.k ORDER BY bucket""".stripMargin.replace("\n", " "),
    "q31_weighted_median" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice AS v, l_quantity AS w FROM lineitem
        |WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |c AS (SELECT l_returnflag, v,
        |sum(w) OVER (PARTITION BY l_returnflag ORDER BY v, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |sum(w) OVER (PARTITION BY l_returnflag) AS tw FROM r)
        |SELECT l_returnflag, min(v) AS l_extendedprice FROM c
        |WHERE cw >= 0.5 * tw GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q33_rolling_mean" ->
      """SELECT event_type, event_id,
        |CASE WHEN sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) OVER win = 0 THEN NULL
        |ELSE sum(value * w) OVER win / sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) OVER win END AS value
        |FROM (SELECT event_type, event_id, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events)
        |WINDOW win AS (PARTITION BY event_type ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin.replace("\n", " "),
    // rolling weighted var mirrors the library's nested safeDiv exactly:
    // inner s²/n guarded by n≠0, outer divide guarded by n−ddof≠0, nulls
    // propagating through the subtraction — no simplification, or edge
    // frames (all-null windows) would hash-diverge
    "q95_rolling_var" ->
      """SELECT event_type, event_id,
        |CASE WHEN sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) OVER win - 1 <> 0 THEN
        |(sum(value * value * w) OVER win -
        |CASE WHEN sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) OVER win <> 0 THEN
        |(sum(value * w) OVER win) * (sum(value * w) OVER win)
        |/ sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) OVER win END)
        |/ (sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) OVER win - 1) END AS value
        |FROM (SELECT event_type, event_id, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events)
        |WINDOW win AS (PARTITION BY event_type ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin.replace("\n", " "),
    "q96_expanding_count" ->
      """SELECT event_type, event_id,
        |CAST(COALESCE(sum(CASE WHEN value IS NOT NULL THEN w ELSE 0 END) OVER win, 0) AS DOUBLE) AS value
        |FROM (SELECT event_type, event_id, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events)
        |WINDOW win AS (PARTITION BY event_type ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin.replace("\n", " "),
    "q77_pct_rank" ->
      """WITH t AS (SELECT doc_id, lang, n_chars,
        |CAST(doc_id % 7 + 1 AS DOUBLE) AS w FROM documents)
        |SELECT doc_id, lang, n_chars,
        |CASE WHEN n_chars IS NULL THEN NULL ELSE
        |sum(CASE WHEN n_chars IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang ORDER BY n_chars
        |RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |/ sum(CASE WHEN n_chars IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang) END AS pct_rank
        |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q80_range_join" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS t FROM events),
        |iv AS (SELECT event_id AS interval_id, t AS s, t + 30 * 60 * 1000000 AS fin
        |FROM ev WHERE event_id % 50 = 0)
        |SELECT ev.event_id, iv.interval_id, ev.t
        |FROM ev JOIN iv ON ev.t >= iv.s AND ev.t < iv.fin
        |ORDER BY ev.event_id, iv.interval_id""".stripMargin.replace("\n", " "),
    "q79_qcut" ->
      """WITH t AS (SELECT doc_id, lang, n_chars,
        |CAST(doc_id % 7 + 1 AS DOUBLE) AS w FROM documents),
        |p AS (SELECT doc_id, lang, n_chars,
        |sum(CASE WHEN n_chars IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang ORDER BY n_chars
        |RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |/ sum(CASE WHEN n_chars IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang) AS pr
        |FROM t)
        |SELECT doc_id, lang, n_chars,
        |CASE WHEN n_chars IS NULL THEN NULL ELSE
        |CAST(least(greatest(ceil(round(pr * 4, 9)) - 1, 0), 3) AS BIGINT) END AS bucket
        |FROM p ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q78_zscore" ->
      """WITH t AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS x, n_chars,
        |CAST(doc_id % 7 + 1 AS DOUBLE) AS w FROM documents),
        |m AS (SELECT *, sum(x * w) OVER g AS s,
        |sum(x * x * w) OVER g AS q,
        |sum(CASE WHEN x IS NOT NULL THEN w ELSE 0 END) OVER g AS n
        |FROM t WINDOW g AS (PARTITION BY lang))
        |SELECT doc_id, lang, n_chars,
        |CASE WHEN x IS NULL THEN NULL ELSE
        |(x - s / n) / sqrt(CASE WHEN (q - s * s / n) / (n - 1) > 0
        |THEN (q - s * s / n) / (n - 1) END) END AS zscore
        |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q76_ewm_mean" -> {
      // identical unrolled-lag formulation to WeightedRolling.ewmMean
      // (same term order → same IEEE addition sequence)
      val num = (0 until 16).map(j =>
        s"pow(0.5, $j) * coalesce(lag(CASE WHEN value IS NOT NULL THEN value * w ELSE 0 END, $j) OVER win, 0)")
        .mkString(" + ")
      val den = (0 until 16).map(j =>
        s"pow(0.5, $j) * coalesce(lag(CASE WHEN value IS NOT NULL THEN w ELSE 0 END, $j) OVER win, 0)")
        .mkString(" + ")
      s"""SELECT event_type, event_id,
         |CASE WHEN ($den) = 0 THEN NULL ELSE ($num) / ($den) END AS value
         |FROM (SELECT event_type, event_id, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events)
         |WINDOW win AS (PARTITION BY event_type ORDER BY event_id)
         |ORDER BY event_type, event_id""".stripMargin.replace("\n", " ")
    },
    "q34_cov" -> {
      val selects = for { x <- corrCols; y <- corrCols } yield
        s"""SELECT '$x' AS col_x, '$y' AS col_y,
           |CASE WHEN sw <= 1 THEN NULL ELSE ((sxy - sx * sy / sw) / (sw - 1)) END AS cov
           |FROM (SELECT ${sqlCorrMoments(x, y, W)} FROM lineitem)""".stripMargin.replace("\n", " ")
      selects.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_x, col_y")
    },
    "q87_grouped_cov" -> {
      val selects = for { x <- corrCols; y <- corrCols } yield
        s"""SELECT l_returnflag, '$x' AS col_x, '$y' AS col_y,
           |CASE WHEN sw <= 1 THEN NULL ELSE ((sxy - sx * sy / sw) / (sw - 1)) END AS cov
           |FROM (SELECT l_returnflag, ${sqlCorrMoments(x, y, W)} FROM lineitem GROUP BY l_returnflag)""".stripMargin.replace("\n", " ")
      selects.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY l_returnflag, col_x, col_y")
    },
    "q43_grouped_skew_kurt" ->
      s"""SELECT l_returnflag,
         |${sqlSkew("l_extendedprice")} AS skew_price, ${sqlSkew("l_discount")} AS skew_disc,
         |${sqlKurt("l_extendedprice")} AS kurt_price, ${sqlKurt("l_discount")} AS kurt_disc
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q44_grouped_mode" ->
      """WITH vw AS (SELECT l_returnflag, l_tax AS v, sum(l_quantity) AS wsum FROM lineitem
        |WHERE l_tax IS NOT NULL AND l_quantity IS NOT NULL GROUP BY l_returnflag, l_tax),
        |r AS (SELECT l_returnflag, v,
        |row_number() OVER (PARTITION BY l_returnflag ORDER BY wsum DESC, v) AS rk FROM vw)
        |SELECT l_returnflag, v AS l_tax FROM r WHERE rk = 1
        |ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q42_asof_join" ->
      """WITH e AS (SELECT event_id, user_id % 50 AS k, ts, value FROM events),
        |l AS (SELECT event_id, k, ts FROM e WHERE event_id % 3 <> 0),
        |r AS (SELECT k, ts, max(value) AS ref_value FROM e WHERE event_id % 3 = 0 GROUP BY k, ts)
        |SELECT l.event_id, l.k, r.ref_value
        |FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin.replace("\n", " "),
    "q41_describe" -> {
      val cnt = "sum(CASE WHEN v IS NOT NULL THEN w ELSE 0 END)"
      val union = corrCols.map(c => s"SELECT '$c' AS col_name, $c AS v, $W AS w FROM lineitem")
        .mkString(" UNION ALL ")
      s"""WITH r AS ($union),
         |m AS (SELECT col_name, $cnt AS "count",
         |(sum(v * w) / $cnt) AS mean,
         |sqrt(((sum(v * v * w) - (sum(v * w) * sum(v * w)) / $cnt) / ($cnt - 1))) AS std,
         |min(v) AS "min", max(v) AS "max" FROM r GROUP BY col_name),
         |c AS (SELECT col_name, v,
         |sum(w) OVER (PARTITION BY col_name ORDER BY v, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         |sum(w) OVER (PARTITION BY col_name) AS tw
         |FROM (SELECT * FROM r WHERE v IS NOT NULL AND w IS NOT NULL)),
         |p25 AS (SELECT col_name, min(v) AS p25 FROM c WHERE cw >= 0.25 * tw GROUP BY col_name),
         |p50 AS (SELECT col_name, min(v) AS p50 FROM c WHERE cw >= 0.5 * tw GROUP BY col_name),
         |p75 AS (SELECT col_name, min(v) AS p75 FROM c WHERE cw >= 0.75 * tw GROUP BY col_name)
         |SELECT m.col_name, "count", mean, std, "min", p25, p50, p75, "max"
         |FROM m JOIN p25 USING (col_name) JOIN p50 USING (col_name) JOIN p75 USING (col_name)
         |ORDER BY col_name""".stripMargin.replace("\n", " ")
    },
    "q20_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
        |GROUP BY text ORDER BY keep_id""".stripMargin.replace("\n", " "),
    "q21_dedup_tokenset" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
        |GROUP BY list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |ORDER BY keep_id""".stripMargin.replace("\n", " "),
    "q46_dedup_normalized" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
        |GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin.replace("\n", " "),
    "q35_drop_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q36_drop_neardup" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents
        |GROUP BY list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))))
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q22_dedup_minhash" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) = len(list_distinct(list_concat(a.s, b.s)))
        |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " "),
    "q24_ngram_jaccard" ->
      """WITH g AS (SELECT doc_id,
        |list_distinct(list_transform(generate_series(1, greatest(length(text) - 2, 1)), i -> substr(text, i, 3))) AS gr
        |FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(list_concat(a.gr, b.gr))) AS ngram_jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 ORDER BY doc_a""".stripMargin.replace("\n", " "),
    "q25_knn_brute" -> bruteTopKOracle(None),
    // the q25 oracle with a self-enforcing guard: the probe-ball-covers-
    // all-buckets degeneracy (see the query comment) requires
    // planesFor(n) ≤ maxProbe, i.e. n ≤ 1024 embeddings — on a bigger
    // fixture the oracle ERRORS loudly instead of asserting a false
    // equality against a genuinely approximate annLsh
    "q26_ann_lsh" -> bruteTopKOracle(Some((1024,
      "q26 oracle invalid here: planesFor(n) > maxProbe — annLsh is approximate at this corpus size"))),
    // same shape for IVF: listsFor(n) ≤ nProbe = 4 ⇔ n ≤ 512 means every
    // cell is probed, so whatever quantizer KMeans fit, each corpus vector
    // sits in ONE probed cell and the candidate set is the full corpus —
    // searchIvf's top-k EQUALS brute top-k, model-independently
    "q32_ann_ivf" -> bruteTopKOracle(Some((512,
      "q32 oracle invalid here: listsFor(n) > nProbe — IVF search is approximate at this corpus size"))),
    "q27_embed_neardup" ->
      """WITH q AS (SELECT vec_id AS doc_a, embedding::DOUBLE[] AS qv FROM embeddings),
        |c AS (SELECT vec_id AS doc_b, embedding::DOUBLE[] AS nv FROM embeddings),
        |s AS (SELECT doc_a, doc_b, list_cosine_similarity(qv, nv) AS sim
        |FROM q CROSS JOIN c WHERE doc_a <> doc_b),
        |r AS (SELECT doc_a, doc_b, sim,
        |row_number() OVER (PARTITION BY doc_a ORDER BY sim DESC, doc_b) AS rk FROM s)
        |SELECT doc_a, doc_b, round(sim, 6) AS sim FROM r WHERE rk = 1 ORDER BY doc_a""".stripMargin.replace("\n", " "),
    "q40_drop_embed_neardup" ->
      """WITH q AS (SELECT vec_id AS doc_a, embedding::DOUBLE[] AS qv FROM embeddings),
        |c AS (SELECT vec_id AS doc_b, embedding::DOUBLE[] AS nv FROM embeddings),
        |s AS (SELECT doc_a, doc_b, list_cosine_similarity(qv, nv) AS sim
        |FROM q CROSS JOIN c WHERE doc_a <> doc_b),
        |r AS (SELECT doc_a, doc_b, sim,
        |row_number() OVER (PARTITION BY doc_a ORDER BY sim DESC, doc_b) AS rk FROM s),
        |d AS (SELECT doc_a FROM r WHERE rk = 1 AND round(sim, 6) >= 0.45 AND doc_b < doc_a)
        |SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT doc_a FROM d)
        |ORDER BY vec_id""".stripMargin.replace("\n", " "),
    "q119_semdedup" -> semDedupOracleSql,
    // two-level scale path: DuckDB cannot see the routed assignment without
    // a second full recursion unroll; it pins that no soundness property
    // can be violated and that the drop test was not vacuous (q37b pattern)
    "q119b_semdedup_twolevel" ->
      """SELECT * FROM (VALUES
        |('agreement_below_floor', CAST(0 AS BIGINT)),
        |('dropped_without_witness', CAST(0 AS BIGINT)),
        |('has_drops', CAST(1 AS BIGINT)),
        |('kept_with_witness', CAST(0 AS BIGINT)),
        |('missing_rows', CAST(0 AS BIGINT)),
        |('multi_reports', CAST(0 AS BIGINT)),
        |('null_contract_broken', CAST(0 AS BIGINT)),
        |('probe_all_vs_global', CAST(0 AS BIGINT)))
        |AS t(property, n_bad) ORDER BY property""".stripMargin.replace("\n", " "),
    "q28_text_analyze" -> s"$textAnalyzeSql ORDER BY doc_id",
    // Gopher rules: DuckDB re-derives every signal from token/line LISTS
    // (RE2 has no lookarounds — list_filter/list_contains give the same
    // whole-token and per-line semantics as Spark's anchored regexes)
    // boilerplate removal: DuckDB rebuilds the same 4 lines per doc from
    // arithmetic, counts distinct docs per line TEXT (Spark counts XXH64
    // keys — identical absent collisions), and reassembles kept lines in
    // position order; all-boiler docs come back as ''
    // paragraph dedup: DuckDB rebuilds the same 3 paragraphs per doc,
    // keeps a paragraph iff it is short-exempt (< 20 chars) or the FIRST
    // (doc_id, pos) occurrence of its TEXT (Spark partitions on XXH64 keys
    // — identical absent collisions), and reassembles in position order
    // span dedup: DuckDB rebuilds the same fixture, enumerates every
    // 8-token window with its 0-based start, marks an occurrence dup iff
    // its window TEXT repeats and it is not the first (doc_id, pos)
    // occurrence (Spark partitions on XXH64 — identical absent
    // collisions), expands dup windows to covered token indices, and
    // rejoins the surviving tokens in order
    // the full DSIR pipeline recomputed in SQL — model fit (bucket counts,
    // smoothing, log-ratios) and scoring both, so the score VALUES are
    // exact-checked, not just the selection's shape
    "q102_dsir_score" ->
      s"""WITH ${dsirScoreCtesFrom("documents", dsirEnTarget)}
         |SELECT o.doc_id, d.lang, round(o.s, 6) AS dsir_score
         |FROM dsir_out o JOIN documents d ON o.doc_id = d.doc_id
         |ORDER BY o.doc_id""".stripMargin.replace("\n", " "),
    // the full classifier pipeline recomputed in SQL — the 3 GD epochs
    // unrolled as CTE trios over the same gram-occurrence relation, so
    // the fitted weights AND the final sigmoid scores are exact-checked
    "q111_quality_score" ->
      s"""WITH ${qcScoreCtes("documents", dsirEnTarget)}
         |SELECT o.doc_id, d.lang, round(o.s, 6) AS quality_score
         |FROM qc_out o JOIN documents d ON o.doc_id = d.doc_id
         |ORDER BY o.doc_id""".stripMargin.replace("\n", " "),
    // the one-vs-rest langid fit recomputed per class in SQL — 5 unrolled
    // GD chains over the shared gram relation, argmax + winning sigmoid
    "q113_langid_score" ->
      s"""WITH ${langIdCtes("documents", Seq("de", "en", "es", "fr", "zh"))}
         |SELECT o.doc_id, d.lang, o.pred AS pred_lang, round(o.s, 6) AS lang_score
         |FROM li_out o JOIN documents d ON o.doc_id = d.doc_id
         |ORDER BY o.doc_id""".stripMargin.replace("\n", " "),
    // Gumbel top-k draw on the recomputed scores: noise from the SAME
    // XXH64 unif chain the Spark side seeds (seed 17), key = s/τ −
    // ln(−ln(u)), top 120 by key then doc_id order for the compare.
    // Documented measure-zero fragility (shared with q105): the score term
    // is a sequentially-folded fp sum on Spark but an unordered SQL sum in
    // DuckDB, so two keys within ~1 ulp of the k-th cut COULD order
    // differently and flip the discrete selection; round(.,6) protects the
    // compared VALUES only. Accepted as-is — rounding the score before the
    // key would distort the production scoring path for test convenience,
    // and the fixture's keys are far (>1e-9) from the cut.
    "q103_dsir_resample" -> {
      val (uctes, ulast) = xxhashUnifCtes("xq3_src", "doc_id", 17L, "xq3_")
      s"""WITH ${dsirScoreCtesFrom("documents", dsirEnTarget)},
         |xq3_src AS (SELECT o.doc_id, d.lang, o.s FROM dsir_out o
         |JOIN documents d ON o.doc_id = d.doc_id), $uctes,
         |xq3_g AS (SELECT doc_id, lang, s, s / ${dbl(1.0)} - ln(-ln(u)) AS gk FROM $ulast),
         |xq3_sel AS (SELECT doc_id, lang, s FROM xq3_g ORDER BY gk DESC, doc_id LIMIT 120)
         |SELECT doc_id, lang, round(s, 6) AS dsir_score
         |FROM xq3_sel ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "q101_dedup_spans" ->
      s"""WITH d AS (SELECT doc_id, concat_ws(' ',
         |CASE WHEN doc_id % 4 = 0 THEN '$SpanSlogan' END,
         |coalesce(text, ''),
         |CASE WHEN doc_id % 6 = 0 THEN '$SpanPromo' END) AS text FROM documents),
         |t AS (SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\f\\r]+') AS toks FROM d),
         |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
         |FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |k AS (SELECT doc_id, pos,
         |(count(*) OVER (PARTITION BY win) > 1) AND
         |(row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) > 1) AS dup FROM w),
         |rem AS (SELECT DISTINCT k.doc_id, g.j FROM k,
         |unnest(generate_series(k.pos, k.pos + 7)) AS g(j) WHERE k.dup),
         |tok AS (SELECT doc_id, j - 1 AS j, toks[j] AS tok FROM t,
         |unnest(generate_series(1, len(toks))) AS g(j)),
         |a AS (SELECT tok.doc_id, string_agg(tok.tok, ' ' ORDER BY tok.j) AS tc
         |FROM tok LEFT JOIN rem ON tok.doc_id = rem.doc_id AND tok.j = rem.j
         |WHERE rem.j IS NULL GROUP BY tok.doc_id)
         |SELECT d.doc_id, coalesce(a.tc, '') AS text_clean
         |FROM d LEFT JOIN a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
    "q100_dedup_paragraphs" ->
      s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |p AS (
         |SELECT doc_id, 0 AS pos, substr(text, 1, 60) AS para FROM d
         |UNION ALL SELECT doc_id, 1, CASE WHEN doc_id % 5 = 0
         |THEN '$SyndicatedParagraph'
         |ELSE substr(text, 61, 60) END FROM d
         |UNION ALL SELECT doc_id, 2, 'Share' FROM d),
         |k AS (SELECT doc_id, pos, para,
         |(length(para) < 20) OR
         |(row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1) AS keep FROM p),
         |a AS (SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY pos) AS tc
         |FROM k WHERE keep GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.tc, '') AS text_clean
         |FROM d LEFT JOIN a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
    "q99_drop_boilerplate" ->
      """WITH l AS (
        |SELECT doc_id, 0 AS pos, CASE WHEN doc_id % 2 = 0 THEN 'SUBSCRIBE to our newsletter'
        |ELSE substr(text, 1, 40) END AS ln FROM documents
        |UNION ALL SELECT doc_id, 1, substr(text, 1, 80) FROM documents
        |UNION ALL SELECT doc_id, 2, CASE WHEN doc_id % 3 = 0 THEN 'Cookie policy applies'
        |ELSE substr(text, 41, 40) END FROM documents
        |UNION ALL SELECT doc_id, 3, 'All rights reserved' FROM documents),
        |b AS (SELECT ln FROM l GROUP BY ln
        |HAVING count(DISTINCT doc_id) >= CAST(ceil(0.4 * (SELECT count(*) FROM documents)) AS BIGINT)),
        |k AS (SELECT doc_id, pos, ln FROM l WHERE ln NOT IN (SELECT ln FROM b)),
        |a AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS tc FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.tc, '') AS text_clean
        |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
    "q98_gopher_quality" -> gopherOracleSql("documents", minWords = 40),
    // the expected extraction rebuilt from the fixture arithmetic
    "q108_html_extract" ->
      s"""SELECT doc_id, $htmlExpectedTextSql AS text_clean
         |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // same battery as q98, over the expected extracted text
    "q109_warc_extract_gopher" -> gopherOracleSql(
      s"(SELECT doc_id, $htmlExpectedTextSql AS text FROM documents) x",
      minWords = 10),
    // the repetition battery re-derived over list ops: segment counts per
    // (doc, text), one gram relation for all 9 sizes, window argmax for
    // the top fractions, distinct position coverage for the dup fractions
    "q118_gopher_repetition" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |ln0 AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS s FROM d),
        |lnc AS (SELECT doc_id, s, count(*) AS c, length(s) AS l FROM ln0 GROUP BY doc_id, s),
        |lns AS (SELECT doc_id, sum(c) AS n, count(*) AS dd,
        |sum((c - 1) * l) AS dupch, sum(c * l) AS totch FROM lnc GROUP BY doc_id),
        |pg0 AS (SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS s FROM d),
        |pgc AS (SELECT doc_id, s, count(*) AS c, length(s) AS l FROM pg0 GROUP BY doc_id, s),
        |pgs AS (SELECT doc_id, sum(c) AS n, count(*) AS dd,
        |sum((c - 1) * l) AS dupch, sum(c * l) AS totch FROM pgc GROUP BY doc_id),
        |tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk FROM d),
        |tl AS (SELECT doc_id, tk, list_transform(tk, x -> CAST(length(x) AS BIGINT)) AS lens,
        |CAST(coalesce(list_aggregate(list_transform(tk, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS BIGINT) AS totc FROM tk),
        |ns(n) AS (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)),
        |g AS (SELECT doc_id, n, i - 1 AS pos, array_to_string(tk[i:i+n-1], ' ') AS gram,
        |CAST(list_aggregate(lens[i:i+n-1], 'sum') AS BIGINT) AS chars
        |FROM tl, ns, unnest(generate_series(1, len(tk) - n + 1)) AS sq(i) WHERE len(tk) >= n),
        |gc AS (SELECT doc_id, n, gram, count(*) AS c, min(chars) AS gch FROM g GROUP BY doc_id, n, gram),
        |top AS (SELECT doc_id, n, c * gch AS topch,
        |row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram) AS rk FROM gc WHERE n IN (2,3,4)),
        |topw AS (SELECT doc_id,
        |max(CASE WHEN n = 2 THEN topch END) AS t2,
        |max(CASE WHEN n = 3 THEN topch END) AS t3,
        |max(CASE WHEN n = 4 THEN topch END) AS t4 FROM top WHERE rk = 1 GROUP BY doc_id),
        |dupp AS (SELECT DISTINCT g.doc_id, g.n, g.pos + j.j AS tp
        |FROM g JOIN gc ON gc.doc_id = g.doc_id AND gc.n = g.n AND gc.gram = g.gram,
        |unnest(generate_series(0, g.n - 1)) AS j(j)
        |WHERE gc.c >= 2 AND g.n IN (5,6,7,8,9,10)),
        |tlp AS (SELECT doc_id, i - 1 AS tp, lens[i] AS l FROM tl,
        |unnest(generate_series(1, len(tk))) AS sq(i)),
        |dupc AS (SELECT dupp.doc_id, dupp.n, sum(tlp.l) AS dch
        |FROM dupp JOIN tlp ON tlp.doc_id = dupp.doc_id AND tlp.tp = dupp.tp
        |GROUP BY dupp.doc_id, dupp.n),
        |dupw AS (SELECT doc_id,
        |max(CASE WHEN n = 5 THEN dch END) AS d5, max(CASE WHEN n = 6 THEN dch END) AS d6,
        |max(CASE WHEN n = 7 THEN dch END) AS d7, max(CASE WHEN n = 8 THEN dch END) AS d8,
        |max(CASE WHEN n = 9 THEN dch END) AS d9, max(CASE WHEN n = 10 THEN dch END) AS d10
        |FROM dupc GROUP BY doc_id),
        |j AS (SELECT a.doc_id, lns.n AS ln_n, lns.dd AS ln_d, lns.dupch AS ln_dup, lns.totch AS ln_tot,
        |pgs.n AS pg_n, pgs.dd AS pg_d, pgs.dupch AS pg_dup, pgs.totch AS pg_tot,
        |tl.totc, topw.t2, topw.t3, topw.t4, dupw.d5, dupw.d6, dupw.d7, dupw.d8, dupw.d9, dupw.d10
        |FROM documents a LEFT JOIN lns ON lns.doc_id = a.doc_id
        |LEFT JOIN pgs ON pgs.doc_id = a.doc_id LEFT JOIN tl ON tl.doc_id = a.doc_id
        |LEFT JOIN topw ON topw.doc_id = a.doc_id LEFT JOIN dupw ON dupw.doc_id = a.doc_id),
        |r AS (SELECT doc_id,
        |CASE WHEN ln_n <> 0 THEN round((ln_n - ln_d) / CAST(ln_n AS DOUBLE), 6) END AS dup_line_frac,
        |CASE WHEN pg_n <> 0 THEN round((pg_n - pg_d) / CAST(pg_n AS DOUBLE), 6) END AS dup_para_frac,
        |CASE WHEN ln_tot <> 0 THEN round(ln_dup / CAST(ln_tot AS DOUBLE), 6) END AS dup_line_char_frac,
        |CASE WHEN pg_tot <> 0 THEN round(pg_dup / CAST(pg_tot AS DOUBLE), 6) END AS dup_para_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(t2, 0) / CAST(totc AS DOUBLE), 6) END AS top2gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(t3, 0) / CAST(totc AS DOUBLE), 6) END AS top3gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(t4, 0) / CAST(totc AS DOUBLE), 6) END AS top4gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(d5, 0) / CAST(totc AS DOUBLE), 6) END AS dup5gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(d6, 0) / CAST(totc AS DOUBLE), 6) END AS dup6gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(d7, 0) / CAST(totc AS DOUBLE), 6) END AS dup7gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(d8, 0) / CAST(totc AS DOUBLE), 6) END AS dup8gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(d9, 0) / CAST(totc AS DOUBLE), 6) END AS dup9gram_char_frac,
        |CASE WHEN totc > 0 THEN round(coalesce(d10, 0) / CAST(totc AS DOUBLE), 6) END AS dup10gram_char_frac,
        |(ln_n - ln_d) / CAST(ln_n AS DOUBLE) AS rl, (pg_n - pg_d) / CAST(pg_n AS DOUBLE) AS rp,
        |ln_dup / CAST(ln_tot AS DOUBLE) AS rlc, pg_dup / CAST(pg_tot AS DOUBLE) AS rpc,
        |coalesce(t2, 0) / CAST(totc AS DOUBLE) AS x2, coalesce(t3, 0) / CAST(totc AS DOUBLE) AS x3,
        |coalesce(t4, 0) / CAST(totc AS DOUBLE) AS x4,
        |coalesce(d5, 0) / CAST(totc AS DOUBLE) AS y5, coalesce(d6, 0) / CAST(totc AS DOUBLE) AS y6,
        |coalesce(d7, 0) / CAST(totc AS DOUBLE) AS y7, coalesce(d8, 0) / CAST(totc AS DOUBLE) AS y8,
        |coalesce(d9, 0) / CAST(totc AS DOUBLE) AS y9, coalesce(d10, 0) / CAST(totc AS DOUBLE) AS y10,
        |totc FROM j)
        |SELECT doc_id, dup_line_frac, dup_para_frac, dup_line_char_frac, dup_para_char_frac,
        |top2gram_char_frac, top3gram_char_frac, top4gram_char_frac,
        |dup5gram_char_frac, dup6gram_char_frac, dup7gram_char_frac, dup8gram_char_frac,
        |dup9gram_char_frac, dup10gram_char_frac,
        |coalesce(rl <= 0.30 AND rp <= 0.30 AND rlc <= 0.20 AND rpc <= 0.20
        |AND CASE WHEN totc > 0 THEN x2 END <= 0.20
        |AND CASE WHEN totc > 0 THEN x3 END <= 0.18
        |AND CASE WHEN totc > 0 THEN x4 END <= 0.16
        |AND CASE WHEN totc > 0 THEN y5 END <= 0.15
        |AND CASE WHEN totc > 0 THEN y6 END <= 0.14
        |AND CASE WHEN totc > 0 THEN y7 END <= 0.13
        |AND CASE WHEN totc > 0 THEN y8 END <= 0.12
        |AND CASE WHEN totc > 0 THEN y9 END <= 0.11
        |AND CASE WHEN totc > 0 THEN y10 END <= 0.10, false) AS passes
        |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // the flagship chain: rebuilt extracted text → battery pass-filter
    // (the q109 oracle as a subquery) → keep-first window → the shared
    // BPE recursion → q50's packing arithmetic at capacity 512 / 4 streams
    "q117_crawl_to_pack" ->
      s"""WITH RECURSIVE
         |x117 AS (SELECT doc_id, $htmlExpectedTextSql AS text FROM documents),
         |g117 AS (SELECT doc_id FROM (${gopherOracleSql("x117", minWords = 10)}) WHERE passes),
         |k117 AS (SELECT x117.doc_id, x117.text FROM x117 JOIN g117 USING (doc_id)),
         |ded117 AS (SELECT doc_id, text FROM (SELECT doc_id, text,
         |row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM k117) WHERE rn = 1),
         |${bpeCountCtes("ded117")},
         |t117 AS (SELECT doc_id, bpe_exact AS n_tokens,
         |CAST(doc_id % 4 AS BIGINT) AS stream FROM bpe_cnt),
         |c117 AS (SELECT doc_id, n_tokens, stream,
         |sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
         |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
         |FROM t117 WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, stream, CAST(off // 512 AS BIGINT) AS pack,
         |CAST(stream * 4294967296 + off // 512 AS BIGINT) AS pack_id
         |FROM c117 ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // the capstone: q117's extract→gate→dedup chain, a junk side-feed the
    // LM gate must reject (OOV gibberish, ids offset by 9999990 ≡ 0 mod 15
    // so junk stays out of the %3 reference slice), the shared backoff
    // CTEs scoring the deduped pool, the ppl ≤ 60 admission, then the
    // token-id packing of q121 at capacity 512 / 4 streams
    "q128_web_pipeline" ->
      s"""WITH RECURSIVE
         |x128 AS (SELECT doc_id, $htmlExpectedTextSql AS text FROM documents),
         |g128 AS (SELECT doc_id FROM (${gopherOracleSql("x128", minWords = 10)}) WHERE passes),
         |k128a AS (SELECT x128.doc_id, x128.text FROM x128 JOIN g128 USING (doc_id)
         |UNION ALL
         |SELECT doc_id + 9999990,
         |'the qbrf xwqz kplm vrts nghw zdfy cmjq hslx bwrn ptkv x' ||
         |translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')
         |FROM documents WHERE doc_id % 5 = 1 AND doc_id % 3 <> 0),
         |ded128 AS (SELECT doc_id, text FROM (SELECT doc_id, text,
         |row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM k128a) WHERE rn = 1),
         |${backoffPplCtes("ded128")},
         |adm128 AS (SELECT ded128.doc_id, ded128.text FROM ded128
         |JOIN bk_sc USING (doc_id) WHERE bk_sc.ppl3 <= 60.0),
         |${bpeIdsCtes("adm128")},
         |t128 AS (SELECT b.doc_id, b.bpe_exact AS n_tokens,
         |CAST(b.doc_id % 4 AS BIGINT) AS stream, x.token_ids
         |FROM bpe_cnt b JOIN bpe_ids x ON x.doc_id = b.doc_id),
         |c128 AS (SELECT doc_id, n_tokens, stream, token_ids,
         |sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
         |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
         |FROM t128 WHERE n_tokens > 0),
         |p128 AS (SELECT doc_id, n_tokens, stream, token_ids,
         |CAST(off // 512 AS BIGINT) AS pack,
         |CAST(stream * 4294967296 + off // 512 AS BIGINT) AS pack_id FROM c128)
         |SELECT pack_id, stream, pack, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |string_agg(token_ids, ',' ORDER BY doc_id) AS token_ids
         |FROM p128 GROUP BY pack_id, stream, pack ORDER BY pack_id""".stripMargin
        .replace("\n", " "),
    // transitive closure via recursive CTE; cluster id = min reachable id
    "q49_dup_clusters" ->
      """WITH RECURSIVE e AS (SELECT a.doc_id AS s, b.doc_id AS t
        |FROM documents a JOIN documents b
        |ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1 AND a.doc_id <> b.doc_id),
        |n AS (SELECT doc_id AS id FROM documents),
        |reach(id, r) AS (SELECT id, id FROM n
        |UNION SELECT e.t, reach.r FROM reach JOIN e ON e.s = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // tf-idf with raw counts, natural log, N = corpus size; score rounded
    // to 6 decimals on both sides (ln ulp differences across libms)
    "q51_tfidf_search" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |WHERE term IN ('query', 'stream', 'window') GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, round(sum(tf.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / dfreq.df)), 6) AS score
        |FROM tf JOIN dfreq ON tf.term = dfreq.term
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin.replace("\n", " "),
    // same streaming-concatenation chunking: exclusive running token offset
    // within each id-ordered stream, integer-divided by the capacity
    "q50_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
        |CAST(doc_id % 8 AS BIGINT) AS stream FROM documents),
        |c AS (SELECT doc_id, n_tokens, stream,
        |sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
        |FROM t WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, stream, CAST(off // 2048 AS BIGINT) AS pack,
        |CAST(stream * 4294967296 + off // 2048 AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // WARC media harvest: every planted image record re-derived from the
    // doc text — content type constant, dims from the doc_id rules, byte
    // length from the stored-PNG framing arithmetic (rawlen + 68)
    "q133_warc_media_extract" ->
      """WITH m AS (SELECT doc_id,
        |CAST(CASE WHEN doc_id % 7 = 0 THEN 8 ELSE doc_id % 6 + 6 END AS BIGINT) AS w,
        |CAST(CASE WHEN doc_id % 7 = 0 THEN 6 ELSE doc_id % 4 + 5 END AS BIGINT) AS h
        |FROM documents WHERE text IS NOT NULL),
        |ids AS (SELECT doc_id*10 AS media_id, w, h FROM m
        |UNION ALL SELECT doc_id*10+1, w, h FROM m
        |WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0)
        |SELECT CAST(media_id AS BIGINT) AS media_id,
        |'image/png' AS content_type,
        |CAST(h*(1+3*w) + 68 AS BIGINT) AS n_bytes,
        |w AS width, h AS height
        |FROM ids ORDER BY media_id""".stripMargin.replace("\n", " "),
    // perceptual grid hashes bit-for-bit from the q86 fixture hex (see
    // phashCtes); zero-hash images coalesce to 0 on both sides
    "q134_image_phash" ->
      s"""WITH m AS (SELECT doc_id AS media_id,
         |CAST(doc_id % 6 + 2 AS INTEGER) AS w, CAST(doc_id % 4 + 2 AS INTEGER) AS h,
         |hex(encode(text)) AS hx FROM documents WHERE text IS NOT NULL),
         |pm AS (SELECT media_id, w, h,
         |substr(hx || repeat('41', 3*w*h), 1, 6*w*h) AS px FROM m),
         |${phashCtes("pm")}
         |SELECT pm.media_id,
         |CAST(COALESCE(ph_ah.ah_hi, 0) AS BIGINT) AS ah_hi,
         |CAST(COALESCE(ph_ah.ah_lo, 0) AS BIGINT) AS ah_lo,
         |CAST(COALESCE(ph_dh.dh_hi, 0) AS BIGINT) AS dh_hi,
         |CAST(COALESCE(ph_dh.dh_lo, 0) AS BIGINT) AS dh_lo
         |FROM pm LEFT JOIN ph_ah ON pm.media_id = ph_ah.media_id
         |LEFT JOIN ph_dh ON pm.media_id = ph_dh.media_id
         |ORDER BY pm.media_id""".stripMargin.replace("\n", " "),
    // media dedup decisions replayed end-to-end: exact groups by the
    // pixel identity (payload bytes are a bijection of (w,h,px) under the
    // fixed framing), aHash over survivors via phashCtes, candidate pairs
    // by 16-bit pigeonhole chunks (sound for hd ≤ 3 by the pigeonhole
    // theorem — same recall-1 argument as the engine's banding), hamming
    // verify via xor + bit_count on the 32-bit halves, then q49's
    // recursive-reachability clustering and keep-min
    "q135_media_dedup" ->
      s"""WITH RECURSIVE m0 AS (SELECT doc_id,
         |CAST(CASE WHEN doc_id % 7 = 0 THEN 8 ELSE doc_id % 6 + 6 END AS INTEGER) AS w,
         |CAST(CASE WHEN doc_id % 7 = 0 THEN 6 ELSE doc_id % 4 + 5 END AS INTEGER) AS h,
         |CASE WHEN doc_id % 7 = 0 THEN '' ELSE hex(encode(text)) END AS hx
         |FROM documents WHERE text IS NOT NULL),
         |mbase AS (SELECT doc_id, w, h,
         |substr(hx || repeat('41', 3*w*h), 1, 6*w*h) AS px FROM m0),
         |med AS (SELECT doc_id*10 AS media_id, w, h, px FROM mbase
         |UNION ALL SELECT doc_id*10+1, w, h, '000000' || substr(px, 7) FROM mbase
         |WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0),
         |eg AS (SELECT media_id, w, h, px,
         |min(media_id) OVER (PARTITION BY w, h, px) AS ekeep FROM med),
         |ed AS (SELECT media_id, ekeep FROM eg WHERE media_id <> ekeep),
         |pm AS (SELECT media_id, w, h, px FROM eg WHERE media_id = ekeep),
         |${phashCtes("pm")},
         |sig AS (SELECT pm.media_id,
         |CAST(COALESCE(ph_ah.ah_hi, 0) AS BIGINT) AS hi,
         |CAST(COALESCE(ph_ah.ah_lo, 0) AS BIGINT) AS lo
         |FROM pm LEFT JOIN ph_ah ON pm.media_id = ph_ah.media_id),
         |ch AS (SELECT media_id, hi, lo,
         |unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS key,
         |unnest([0, 1, 2, 3]) AS chunk FROM sig),
         |cand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
         |a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
         |FROM ch a JOIN ch b
         |ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id),
         |pr AS (SELECT ma, mb FROM cand
         |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3),
         |e AS (SELECT ma AS s, mb AS t FROM pr UNION ALL SELECT mb, ma FROM pr),
         |reach(id, r) AS (SELECT media_id, media_id FROM pm
         |UNION SELECT e.t, reach.r FROM reach JOIN e ON e.s = reach.id),
         |cl AS (SELECT id AS media_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |nk AS (SELECT media_id,
         |min(media_id) OVER (PARTITION BY cluster_id) AS nkeep FROM cl)
         |SELECT CAST(med.media_id AS BIGINT) AS media_id,
         |CASE WHEN ed.media_id IS NOT NULL THEN 'exact_dup'
         |WHEN nk.nkeep <> med.media_id THEN 'near_dup'
         |ELSE 'kept' END AS status,
         |CAST(COALESCE(ed.ekeep,
         |CASE WHEN nk.nkeep <> med.media_id THEN nk.nkeep END,
         |med.media_id) AS BIGINT) AS keeper
         |FROM med LEFT JOIN ed ON med.media_id = ed.media_id
         |LEFT JOIN nk ON med.media_id = nk.media_id
         |ORDER BY med.media_id""".stripMargin.replace("\n", " "),
    // image quality battery: every signal recomputed from the fixture hex
    // (the q135 media reconstruction + q86-style byte enumeration); the
    // gate constants are the Scala defaults, the two double signals round
    // to 6 on both sides, the BOOLEAN comparisons use the unrounded values
    "q136_image_quality" ->
      """WITH m0 AS (SELECT doc_id,
        |CAST(CASE WHEN doc_id % 7 = 0 THEN 8 ELSE doc_id % 6 + 6 END AS INTEGER) AS w,
        |CAST(CASE WHEN doc_id % 7 = 0 THEN 6 ELSE doc_id % 4 + 5 END AS INTEGER) AS h,
        |CASE WHEN doc_id % 7 = 0 THEN '' ELSE hex(encode(text)) END AS hx
        |FROM documents WHERE text IS NOT NULL),
        |mbase AS (SELECT doc_id, w, h,
        |substr(hx || repeat('41', 3*w*h), 1, 6*w*h) AS px FROM m0),
        |med AS (SELECT doc_id*10 AS media_id, w, h, px FROM mbase
        |UNION ALL SELECT doc_id*10+1, w, h, '000000' || substr(px, 7) FROM mbase
        |WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0),
        |s AS (SELECT media_id, w, h, px, unnest(range(0, 3*w*h)) AS i FROM med),
        |v AS (SELECT media_id, i % 3 AS c,
        |(strpos('0123456789ABCDEF', substr(px, 2*i+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(px, 2*i+2, 1)) - 1) AS u FROM s),
        |cs AS (SELECT media_id, c, sum(u) AS su, min(u) AS mn, max(u) AS mx
        |FROM v GROUP BY media_id, c),
        |agg AS (SELECT media_id, sum(su) AS stot, max(mx - mn) AS dr
        |FROM cs GROUP BY media_id)
        |SELECT CAST(med.media_id AS BIGINT) AS media_id,
        |CAST(med.w AS BIGINT) AS width, CAST(med.h AS BIGINT) AS height,
        |round(CAST(greatest(med.w, med.h) AS DOUBLE) / least(med.w, med.h), 6) AS aspect,
        |round(CAST(agg.stot AS DOUBLE) / (3*med.w*med.h), 6) AS mean_luma,
        |CAST(agg.dr AS BIGINT) AS dyn_range,
        |CAST(med.h*(1+3*med.w) + 68 AS BIGINT) AS payload_bytes,
        |least(med.w, med.h) >= 7 AS ok_dims,
        |CAST(greatest(med.w, med.h) AS DOUBLE) / least(med.w, med.h) <= 1.8 AS ok_aspect,
        |agg.dr >= 8 AS ok_dyn_range,
        |CAST(agg.stot AS DOUBLE) / (3*med.w*med.h) BETWEEN 70.0 AND 200.0 AS ok_luma,
        |(least(med.w, med.h) >= 7
        |AND CAST(greatest(med.w, med.h) AS DOUBLE) / least(med.w, med.h) <= 1.8
        |AND agg.dr >= 8
        |AND CAST(agg.stot AS DOUBLE) / (3*med.w*med.h) BETWEEN 70.0 AND 200.0) AS passes
        |FROM med JOIN agg ON med.media_id = agg.media_id
        |ORDER BY med.media_id""".stripMargin.replace("\n", " "),
    // capstone replay: the q136 gate arithmetic (at the q139 constants)
    // selects the pool, then the q135 dedup CTEs run over THAT pool —
    // quality rejects union'd back with self-keepers
    "q139_media_pipeline" -> imageCurationOracleSql(""),
    // the same replay plus the planted-GIF arm: codec-coverage gaps are
    // their own status, never folded into quality_reject
    "q149_undecodable_attrition" -> imageCurationOracleSql(
      """UNION ALL SELECT CAST(doc_id*10+2 AS BIGINT) AS media_id,
        |'undecodable' AS status, CAST(doc_id*10+2 AS BIGINT) AS keeper
        |FROM documents WHERE text IS NOT NULL AND doc_id % 6 = 2
        |""".stripMargin.replace("\n", " ")),
    // video battery: every signal from the q94 doc_id arithmetic (the
    // parser's byte-parity is q94's job), gates on the unrounded values
    "q140_video_quality" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |CAST(600*(doc_id%4+1) AS BIGINT) AS ts,
        |CAST((doc_id%9000+600)*1000 // (600*(doc_id%4+1)) AS BIGINT) AS dms,
        |CAST(doc_id%2+1 AS BIGINT) AS nt,
        |CAST((doc_id%8)*160+320 AS BIGINT) AS w,
        |CAST((doc_id%6)*120+240 AS BIGINT) AS h
        |FROM documents),
        |a AS (SELECT media_id, ts, dms, nt, w, h,
        |CAST(greatest(w, h) AS DOUBLE) / least(w, h) AS asp FROM m)
        |SELECT media_id, ts AS timescale, dms AS duration_ms, nt AS n_tracks,
        |w AS width, h AS height, round(asp, 6) AS aspect,
        |(dms BETWEEN 1000 AND 12000) AS ok_duration,
        |least(w, h) >= 360 AS ok_dims,
        |asp <= 2.5 AS ok_aspect,
        |nt <= 1 AS ok_tracks,
        |((dms BETWEEN 1000 AND 12000) AND least(w, h) >= 360
        |AND asp <= 2.5 AND nt <= 1) AS passes
        |FROM a ORDER BY media_id""".stripMargin.replace("\n", " "),
    // mixed-codec battery + aHash: PNG signals/hashes from pixel hex,
    // JPEG ones from the mosaic block values (bit-exact decode), thumbs
    // from the same values scaled — one signal relation, one hash
    // relation, gates at the Scala defaults
    "q141_mixed_image_quality" ->
      s"""WITH $mixedMediaCtes
         |SELECT CAST(s.media_id AS BIGINT) AS media_id, s.kind,
         |CAST(s.w AS BIGINT) AS width, CAST(s.h AS BIGINT) AS height,
         |round(CAST(greatest(s.w, s.h) AS DOUBLE) / least(s.w, s.h), 6) AS aspect,
         |round(CAST(s.stot AS DOUBLE) / s.npxch, 6) AS mean_luma,
         |CAST(s.dr AS BIGINT) AS dyn_range,
         |least(s.w, s.h) >= 7 AS ok_dims,
         |CAST(greatest(s.w, s.h) AS DOUBLE) / least(s.w, s.h) <= 1.8 AS ok_aspect,
         |s.dr >= 8 AS ok_dyn_range,
         |CAST(s.stot AS DOUBLE) / s.npxch BETWEEN 70.0 AND 200.0 AS ok_luma,
         |(least(s.w, s.h) >= 7
         |AND CAST(greatest(s.w, s.h) AS DOUBLE) / least(s.w, s.h) <= 1.8
         |AND s.dr >= 8
         |AND CAST(s.stot AS DOUBLE) / s.npxch BETWEEN 70.0 AND 200.0) AS passes,
         |CAST(COALESCE(a.ah_hi, 0) AS BIGINT) AS ah_hi,
         |CAST(COALESCE(a.ah_lo, 0) AS BIGINT) AS ah_lo
         |FROM mx_sig s LEFT JOIN mx_ah a ON s.media_id = a.media_id
         |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // progressive twins replay from ONE block-value relation: signals
    // (jsig math), aHash one-cell-per-block (the mxjc convention), gates
    // at the Scala defaults (64×64 ⇒ dims/aspect always pass; dr and
    // luma split on the flat-bright plant)
    "q148_progressive_jpeg" ->
      """WITH p0 AS (SELECT doc_id,
        |CASE WHEN doc_id % 9 = 4 THEN repeat('FA', 64)
        |ELSE substr(hex(encode(text)) || repeat('41', 64), 1, 128) END AS vhx
        |FROM documents WHERE text IS NOT NULL),
        |pj AS (SELECT doc_id*10 AS media_id, 'baseline' AS coding, vhx FROM p0
        |UNION ALL SELECT doc_id*10+1, 'progressive', vhx FROM p0 WHERE doc_id % 2 = 1),
        |v AS (SELECT media_id, coding, i AS cell,
        |(strpos('0123456789ABCDEF', substr(vhx, 2*i+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(vhx, 2*i+2, 1)) - 1) AS u
        |FROM (SELECT media_id, coding, vhx, unnest(range(0, 64)) AS i FROM pj)),
        |sg AS (SELECT media_id, coding, 64*sum(u) AS stot, max(u) - min(u) AS dr
        |FROM v GROUP BY media_id, coding),
        |jc AS (SELECT media_id, cell, 64*u AS s, CAST(64 AS BIGINT) AS c FROM v),
        |jt AS (SELECT media_id, sum(s) AS ts, sum(c) AS tc FROM jc GROUP BY media_id),
        |jb AS (SELECT jc.media_id, cell AS b FROM jc
        |JOIN jt ON jc.media_id = jt.media_id
        |WHERE jc.s * jt.tc > jt.ts * jc.c),
        |ah AS (SELECT media_id,
        |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS ah_hi,
        |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS ah_lo
        |FROM jb GROUP BY media_id)
        |SELECT CAST(sg.media_id AS BIGINT) AS media_id, sg.coding,
        |CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
        |round(CAST(sg.stot AS DOUBLE) / 4096, 6) AS mean_luma,
        |CAST(sg.dr AS BIGINT) AS dyn_range,
        |(sg.dr >= 8 AND CAST(sg.stot AS DOUBLE) / 4096 BETWEEN 70.0 AND 200.0) AS passes,
        |CAST(COALESCE(ah.ah_hi, 0) AS BIGINT) AS ah_hi,
        |CAST(COALESCE(ah.ah_lo, 0) AS BIGINT) AS ah_lo
        |FROM sg LEFT JOIN ah ON sg.media_id = ah.media_id
        |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // GIF battery/hash replay: identity palette ⇒ decoded luma == text
    // byte, so the q148 block-value relation replays verbatim (one row
    // per doc, no coding axis)
    "q151_gif_decode" ->
      """WITH pj AS (SELECT doc_id AS media_id,
        |CASE WHEN doc_id % 9 = 4 THEN repeat('FA', 64)
        |ELSE substr(hex(encode(text)) || repeat('41', 64), 1, 128) END AS vhx
        |FROM documents WHERE text IS NOT NULL),
        |v AS (SELECT media_id, i AS cell,
        |(strpos('0123456789ABCDEF', substr(vhx, 2*i+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(vhx, 2*i+2, 1)) - 1) AS u
        |FROM (SELECT media_id, vhx, unnest(range(0, 64)) AS i FROM pj)),
        |sg AS (SELECT media_id, 64*sum(u) AS stot, max(u) - min(u) AS dr
        |FROM v GROUP BY media_id),
        |jc AS (SELECT media_id, cell, 64*u AS s, CAST(64 AS BIGINT) AS c FROM v),
        |jt AS (SELECT media_id, sum(s) AS ts, sum(c) AS tc FROM jc GROUP BY media_id),
        |jb AS (SELECT jc.media_id, cell AS b FROM jc
        |JOIN jt ON jc.media_id = jt.media_id
        |WHERE jc.s * jt.tc > jt.ts * jc.c),
        |ah AS (SELECT media_id,
        |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS ah_hi,
        |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS ah_lo
        |FROM jb GROUP BY media_id)
        |SELECT CAST(sg.media_id AS BIGINT) AS media_id,
        |CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
        |round(CAST(sg.stot AS DOUBLE) / 4096, 6) AS mean_luma,
        |CAST(sg.dr AS BIGINT) AS dyn_range,
        |(sg.dr >= 8 AND CAST(sg.stot AS DOUBLE) / 4096 BETWEEN 70.0 AND 200.0) AS passes,
        |CAST(COALESCE(ah.ah_hi, 0) AS BIGINT) AS ah_hi,
        |CAST(COALESCE(ah.ah_lo, 0) AS BIGINT) AS ah_lo
        |FROM sg LEFT JOIN ah ON sg.media_id = ah.media_id
        |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // WebP battery/hash replay: the VP8L fixture carries the SAME mosaic
    // pixels as the GIF table (decoded luma == text byte, encoder knobs
    // are pixel-invariant), so q151's block-value replay is verbatim
    "q152_webp_decode" ->
      """WITH pj AS (SELECT doc_id AS media_id,
        |CASE WHEN doc_id % 9 = 4 THEN repeat('FA', 64)
        |ELSE substr(hex(encode(text)) || repeat('41', 64), 1, 128) END AS vhx
        |FROM documents WHERE text IS NOT NULL),
        |v AS (SELECT media_id, i AS cell,
        |(strpos('0123456789ABCDEF', substr(vhx, 2*i+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(vhx, 2*i+2, 1)) - 1) AS u
        |FROM (SELECT media_id, vhx, unnest(range(0, 64)) AS i FROM pj)),
        |sg AS (SELECT media_id, 64*sum(u) AS stot, max(u) - min(u) AS dr
        |FROM v GROUP BY media_id),
        |jc AS (SELECT media_id, cell, 64*u AS s, CAST(64 AS BIGINT) AS c FROM v),
        |jt AS (SELECT media_id, sum(s) AS ts, sum(c) AS tc FROM jc GROUP BY media_id),
        |jb AS (SELECT jc.media_id, cell AS b FROM jc
        |JOIN jt ON jc.media_id = jt.media_id
        |WHERE jc.s * jt.tc > jt.ts * jc.c),
        |ah AS (SELECT media_id,
        |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS ah_hi,
        |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS ah_lo
        |FROM jb GROUP BY media_id)
        |SELECT CAST(sg.media_id AS BIGINT) AS media_id,
        |CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
        |round(CAST(sg.stot AS DOUBLE) / 4096, 6) AS mean_luma,
        |CAST(sg.dr AS BIGINT) AS dyn_range,
        |(sg.dr >= 8 AND CAST(sg.stot AS DOUBLE) / 4096 BETWEEN 70.0 AND 200.0) AS passes,
        |CAST(COALESCE(ah.ah_hi, 0) AS BIGINT) AS ah_hi,
        |CAST(COALESCE(ah.ah_lo, 0) AS BIGINT) AS ah_lo
        |FROM sg LEFT JOIN ah ON sg.media_id = ah.media_id
        |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // lossy-VP8 battery/hash replay: the fixture's DC-only construction
    // reconstructs EXACTLY, so decoded luma == the first 16 text bytes
    // over 16×16 cells (each 256 px). The aHash's 8×8 grid cells are
    // quarters of a mosaic cell: hash cell b reads mosaic value
    // ((b//8)//2)*4 + (b%8)//2
    "q156_prepare_multimodal" ->
      s"""WITH RECURSIVE $allModalityStatusCtes,
         |$q81CoreCtes,
         |mk AS (SELECT media_id, status FROM i_st
         |UNION ALL SELECT media_id, status FROM a_st
         |UNION ALL SELECT media_id, status FROM v_st),
         |magg AS (SELECT media_id // 100 AS mdoc,
         |sum(CASE WHEN media_id % 10 = 1 AND status = 'kept' THEN 1 ELSE 0 END) AS mimg,
         |sum(CASE WHEN media_id % 10 = 2 AND status = 'kept' THEN 1 ELSE 0 END) AS maud,
         |sum(CASE WHEN media_id % 10 = 3 AND status = 'kept' THEN 1 ELSE 0 END) AS mvid
         |FROM mk GROUP BY media_id // 100),
         |surv AS (SELECT rk.doc_id, rk.cluster_id, rk.quality_score,
         |CAST(rk.bpe_tokens AS BIGINT) AS n_tokens,
         |CAST(rk.doc_id % 8 AS BIGINT) AS stream,
         |CAST(COALESCE(magg.mimg, 0) AS BIGINT) AS n_images,
         |CAST(COALESCE(magg.maud, 0) AS BIGINT) AS n_audio,
         |CAST(COALESCE(magg.mvid, 0) AS BIGINT) AS n_video
         |FROM rk LEFT JOIN magg ON rk.doc_id = magg.mdoc
         |WHERE rn = 1 AND bpe_tokens > 0),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
         |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off FROM surv)
         |SELECT doc_id, cluster_id, quality_score, n_tokens,
         |n_images, n_audio, n_video, stream,
         |CAST(off // 2048 AS BIGINT) AS pack,
         |CAST(stream * 4294967296 + off // 2048 AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q157_compressed_audio_quality" ->
      s"""WITH $compressedAudioMetaCtes,
         |m3 AS (SELECT d AS media_id,
         |  CASE c WHEN 0 THEN 'mp3' WHEN 1 THEN 'flac' ELSE 'ogg' END AS container,
         |  CASE WHEN c = 0 THEN CASE WHEN v1 THEN 'mpeg1-layer3' ELSE 'mpeg2-layer3' END
         |       WHEN c = 1 THEN 'flac'
         |       ELSE CASE WHEN opus THEN 'opus' ELSE 'vorbis' END END AS codec,
         |  CAST(CASE c WHEN 0 THEN msr WHEN 1 THEN fsr ELSE osr END AS BIGINT) AS sample_rate,
         |  CAST(CASE c WHEN 0 THEN CASE WHEN mono THEN 1 ELSE 2 END
         |       WHEN 1 THEN fch ELSE och END AS BIGINT) AS channels,
         |  CAST(CASE c WHEN 0 THEN n * spf * 1000 // msr
         |       WHEN 1 THEN ftotal * 1000 // fsr
         |       ELSE osamples * 1000 // osr END AS BIGINT) AS duration_ms,
         |  CAST(CASE WHEN c = 0 THEN
         |         (CASE WHEN isvbr THEN (n+1)//2*ka + n//2*kb ELSE n*ka END) // n
         |       WHEN c = 2 AND NOT opus THEN onom // 1000 ELSE 0 END AS BIGINT) AS bitrate_kbps,
         |  CASE WHEN c = 0 THEN isvbr ELSE FALSE END AS vbr,
         |  CAST(CASE WHEN c = 0 AND id3pad > 0 THEN 10 + id3pad ELSE 0 END AS BIGINT) AS tag_bytes,
         |  CAST(CASE c
         |       WHEN 0 THEN (CASE WHEN id3pad > 0 THEN 10 + id3pad ELSE 0 END)
         |         + (CASE WHEN isvbr
         |            THEN (n+1)//2 * ((spf//8)*1000*ka//msr) + n//2 * ((spf//8)*1000*kb//msr)
         |            ELSE n * ((spf//8)*1000*ka//msr) END)
         |       WHEN 1 THEN 42 + CASE WHEN fpad THEN 4 + d % 30 + 4 ELSE 0 END
         |       ELSE CASE WHEN opus THEN 76 ELSE 87 END END AS BIGINT) AS payload_bytes
         |  FROM m2)
         |SELECT media_id, container, codec, sample_rate, channels, duration_ms,
         |  bitrate_kbps, vbr, tag_bytes, payload_bytes,
         |  sample_rate >= 16000 AS ok_rate,
         |  channels <= 1 AS ok_channels,
         |  duration_ms BETWEEN 100 AND 10000 AS ok_duration,
         |  (bitrate_kbps = 0 OR bitrate_kbps >= 48) AS ok_bitrate,
         |  NOT vbr AS ok_vbr,
         |  (sample_rate >= 16000 AND channels <= 1
         |   AND duration_ms BETWEEN 100 AND 10000
         |   AND (bitrate_kbps = 0 OR bitrate_kbps >= 48) AND NOT vbr) AS passes
         |FROM m3 ORDER BY media_id""".stripMargin.replace("\n", " "),
    "q155_audio_container_meta" ->
      s"""WITH $compressedAudioMetaCtes
        |SELECT d AS media_id,
        |  CASE c WHEN 0 THEN 'mp3' WHEN 1 THEN 'flac' ELSE 'ogg' END AS container,
        |  CASE WHEN c = 0 THEN CASE WHEN v1 THEN 'mpeg1-layer3' ELSE 'mpeg2-layer3' END
        |       WHEN c = 1 THEN 'flac'
        |       ELSE CASE WHEN opus THEN 'opus' ELSE 'vorbis' END END AS codec,
        |  CAST(CASE c WHEN 0 THEN msr WHEN 1 THEN fsr ELSE osr END AS BIGINT) AS sample_rate,
        |  CAST(CASE c WHEN 0 THEN CASE WHEN mono THEN 1 ELSE 2 END
        |       WHEN 1 THEN fch ELSE och END AS BIGINT) AS channels,
        |  CAST(CASE c WHEN 1 THEN fbps ELSE 0 END AS BIGINT) AS bits_per_sample,
        |  CAST(CASE c WHEN 0 THEN n * spf * 1000 // msr
        |       WHEN 1 THEN ftotal * 1000 // fsr
        |       ELSE osamples * 1000 // osr END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN c = 0 THEN
        |         (CASE WHEN isvbr THEN (n+1)//2*ka + n//2*kb ELSE n*ka END) // n
        |       WHEN c = 2 AND NOT opus THEN onom // 1000 ELSE 0 END AS BIGINT) AS bitrate_kbps,
        |  CAST(CASE c WHEN 0 THEN n WHEN 2 THEN 2 ELSE 0 END AS BIGINT) AS frames,
        |  CASE WHEN c = 0 THEN isvbr ELSE FALSE END AS vbr,
        |  CAST(CASE WHEN c = 0 AND id3pad > 0 THEN 10 + id3pad ELSE 0 END AS BIGINT) AS tag_bytes,
        |  CASE WHEN c = 0 AND id3pad > 0 THEN
        |         '494433040000000000' || lpad(hex(id3pad), 2, '0') || '000000000000'
        |       WHEN c = 0 THEN
        |         'FF' || CASE WHEN v1 THEN 'FB' ELSE 'F3' END ||
        |         lpad(hex(bra * 16 + sri * 4), 2, '0') ||
        |         CASE WHEN mono THEN 'C0' ELSE '00' END || repeat('AA', 12)
        |       WHEN c = 1 THEN
        |         '664C6143' || CASE WHEN fpad THEN '00' ELSE '80' END ||
        |         '0000221000100000000000'
        |       ELSE '4F6767530002' || '0000000000000000' ||
        |         lpad(hex(serial % 256), 2, '0') || lpad(hex((serial // 256) % 256), 2, '0')
        |       END AS hdr_hex
        |FROM m2 ORDER BY media_id""".stripMargin,
    "q154_vp8_decode" ->
      """WITH pj AS (SELECT doc_id AS media_id,
        |CASE WHEN doc_id % 9 = 4 THEN repeat('FA', 16)
        |ELSE substr(hex(encode(text)) || repeat('41', 16), 1, 32) END AS vhx
        |FROM documents WHERE text IS NOT NULL),
        |v AS (SELECT media_id, i AS cell,
        |(strpos('0123456789ABCDEF', substr(vhx, 2*i+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(vhx, 2*i+2, 1)) - 1) AS u
        |FROM (SELECT media_id, vhx, unnest(range(0, 16)) AS i FROM pj)),
        |sg AS (SELECT media_id, 256*sum(u) AS stot, max(u) - min(u) AS dr
        |FROM v GROUP BY media_id),
        |hc AS (SELECT media_id, b, ((b // 8) // 2) * 4 + ((b % 8) // 2) AS cell
        |FROM (SELECT media_id, unnest(range(0, 64)) AS b FROM pj)),
        |jc AS (SELECT hc.media_id, hc.b, 64*v.u AS s, CAST(64 AS BIGINT) AS c
        |FROM hc JOIN v ON hc.media_id = v.media_id AND hc.cell = v.cell),
        |jt AS (SELECT media_id, sum(s) AS ts, sum(c) AS tc FROM jc GROUP BY media_id),
        |jb AS (SELECT jc.media_id, b FROM jc
        |JOIN jt ON jc.media_id = jt.media_id
        |WHERE jc.s * jt.tc > jt.ts * jc.c),
        |ah AS (SELECT media_id,
        |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS ah_hi,
        |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS ah_lo
        |FROM jb GROUP BY media_id)
        |SELECT CAST(sg.media_id AS BIGINT) AS media_id,
        |CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
        |round(CAST(sg.stot AS DOUBLE) / 4096, 6) AS mean_luma,
        |CAST(sg.dr AS BIGINT) AS dyn_range,
        |(sg.dr >= 8 AND CAST(sg.stot AS DOUBLE) / 4096 BETWEEN 70.0 AND 200.0) AS passes,
        |CAST(COALESCE(ah.ah_hi, 0) AS BIGINT) AS ah_hi,
        |CAST(COALESCE(ah.ah_lo, 0) AS BIGINT) AS ah_lo
        |FROM sg LEFT JOIN ah ON sg.media_id = ah.media_id
        |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // mixed capstone replay: gates (q139 constants) over the unified
    // signal relation, exact groups by codec-tagged content key (PNG
    // framing and the JPEG encoder are both content-bijective; thumbs
    // expand their blocks to the tripled pixel hex so a thumb that
    // byte-equals a PNG row groups with it), then banding + recursive
    // clustering over the unified hash relation — cross-codec pairs
    // included
    "q142_mixed_media_pipeline" -> mixedCurationOracleSql,
    // the WebP crawl capstone shares the JPEG crawl's oracle VERBATIM:
    // the fixture's decoded pixel content is identical per (doc_id, text)
    // and both codecs' encoders are content-bijective, so the replayed
    // gates/exact-groups/banding/clustering decisions are the same
    "q153_webp_crawl_pipeline" -> mixedCurationOracleSql,
    // video contour hash bit-for-bit from the same text bytes (windows of
    // two consecutive size bytes); variants share the main's bytes
    "q144_video_sample_hash" ->
      s"""WITH ${videoHashCtes()}
         |SELECT CAST(vmm.media_id AS BIGINT) AS media_id,
         |CAST(COALESCE(vs_ah.sh_hi, 0) AS BIGINT) AS sh_hi,
         |CAST(COALESCE(vs_ah.sh_lo, 0) AS BIGINT) AS sh_lo
         |FROM vmm LEFT JOIN vs_ah ON vmm.media_id = vs_ah.media_id
         |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // video ladder replay: the exact stage is EXACTLY the constant-clip
    // group (non-constant payloads embed doc-unique durations, variants
    // differ from mains by brand/timescale bytes), then banding +
    // recursive clustering over the contour hashes
    "q145_video_dedup" ->
      s"""WITH RECURSIVE ${videoHashCtes()},
         |veg AS (SELECT media_id,
         |min(media_id) OVER (PARTITION BY CASE WHEN isconst THEN 'c'
         |ELSE 'd' || media_id END) AS ekeep FROM vmm),
         |ved AS (SELECT media_id, ekeep FROM veg WHERE media_id <> ekeep),
         |vsv AS (SELECT media_id FROM veg WHERE media_id = ekeep),
         |sig AS (SELECT vsv.media_id,
         |CAST(COALESCE(a.sh_hi, 0) AS BIGINT) AS hi,
         |CAST(COALESCE(a.sh_lo, 0) AS BIGINT) AS lo
         |FROM vsv LEFT JOIN vs_ah a ON vsv.media_id = a.media_id),
         |ch AS (SELECT media_id, hi, lo,
         |unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS key,
         |unnest([0, 1, 2, 3]) AS chunk FROM sig),
         |cand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
         |a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
         |FROM ch a JOIN ch b
         |ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id),
         |pr AS (SELECT ma, mb FROM cand
         |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3),
         |e AS (SELECT ma AS s, mb AS t FROM pr UNION ALL SELECT mb, ma FROM pr),
         |reach(id, r) AS (SELECT media_id, media_id FROM vsv
         |UNION SELECT e.t, reach.r FROM reach JOIN e ON e.s = reach.id),
         |cl AS (SELECT id AS media_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |nk AS (SELECT media_id,
         |min(media_id) OVER (PARTITION BY cluster_id) AS nkeep FROM cl)
         |SELECT CAST(vmm.media_id AS BIGINT) AS media_id,
         |CASE WHEN ved.media_id IS NOT NULL THEN 'exact_dup'
         |WHEN nk.nkeep <> vmm.media_id THEN 'near_dup'
         |ELSE 'kept' END AS status,
         |CAST(COALESCE(ved.ekeep,
         |CASE WHEN nk.nkeep <> vmm.media_id THEN nk.nkeep END,
         |vmm.media_id) AS BIGINT) AS keeper
         |FROM vmm LEFT JOIN ved ON vmm.media_id = ved.media_id
         |LEFT JOIN nk ON vmm.media_id = nk.media_id
         |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // audio capstone replay: the shared a_st chain (gates -> exact ->
    // envelope banding -> recursive clustering)
    "q146_audio_pipeline" ->
      s"""WITH RECURSIVE $audioStatusCtes
         |SELECT media_id, status, keeper FROM a_st
         |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // all-modality capstone replay: three independent gates-then-ladder
    // chains (image px enumeration + phash banding; the shared audio
    // chain; video dims arithmetic + contour banding) union'd — dedup
    // never pairs across modalities, and neither do these CTEs
    "q147_media_pipeline_all" ->
      s"""WITH RECURSIVE $allModalityStatusCtes
         |SELECT media_id, status, keeper FROM i_st
         |UNION ALL SELECT media_id, status, keeper FROM a_st
         |UNION ALL SELECT media_id, status, keeper FROM v_st
         |ORDER BY media_id""".stripMargin.replace("\n", " "),
    // chunked WARC replay: the dechunked text body IS the document text,
    // the dechunked PNG is the fixed stored-deflate framing (n_bytes from
    // the q133 arithmetic), dims from doc_id — nothing about the chunk
    // framing survives into the output, which is exactly the point
    "q143_warc_chunked" ->
      """WITH m AS (SELECT doc_id, text,
        |CAST(doc_id % 6 + 2 AS BIGINT) AS w, CAST(doc_id % 4 + 2 AS BIGINT) AS h
        |FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, 'png' AS kind, CAST(200 AS BIGINT) AS http_status,
        |'image/png' AS content_type,
        |CAST(h*(1+3*w) + 68 AS BIGINT) AS n_bytes,
        |w AS width, h AS height, CAST(NULL AS VARCHAR) AS body_text FROM m
        |UNION ALL SELECT doc_id, 'text', 200, 'text/plain; charset=utf-8',
        |CAST(octet_length(encode(text)) AS BIGINT), NULL, NULL, text FROM m
        |ORDER BY doc_id, kind""".stripMargin.replace("\n", " "),
    // audio battery: sr/ch from doc_id arithmetic, samples from the text
    // bytes (the q82 PCM convention), duration/rms as doubles rounded 6,
    // gate booleans on the UNROUNDED values; payload_bytes = 44-byte
    // RIFF/fmt/data framing + the data bytes
    "q137_audio_quality" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) AS sr,
        |CAST(1 + doc_id % 2 AS BIGINT) AS ch,
        |hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT media_id, sr, ch, n, n // 2 AS ns, hx,
        |unnest(range(0, n // 2)) AS k FROM m WHERE n >= 2),
        |v AS (SELECT media_id, sr, ch, n, ns,
        |(strpos('0123456789ABCDEF', substr(hx, 4*k+3, 1)) - 1) * 4096
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+4, 1)) - 1) * 256
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+2, 1)) - 1) AS u FROM s),
        |w AS (SELECT media_id, sr, ch, n, ns,
        |CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x FROM v),
        |a AS (SELECT media_id, max(sr) AS sr, max(ch) AS ch, max(n) AS n,
        |CAST(max(ns) AS BIGINT) AS ns,
        |CAST(max(ns) AS DOUBLE) / (max(sr) * max(ch)) AS dur,
        |CAST(max(abs(x)) AS BIGINT) AS peak,
        |sqrt(CAST(sum(CAST(x AS BIGINT) * x) AS DOUBLE) / max(ns)) AS rms
        |FROM w GROUP BY media_id)
        |SELECT media_id, sr AS sample_rate, ch AS channels, ns AS n_samples,
        |round(dur, 6) AS duration_s, peak, round(rms, 6) AS rms,
        |CAST(44 + n AS BIGINT) AS payload_bytes,
        |sr >= 16000 AS ok_rate, ch <= 1 AS ok_channels,
        |dur >= 0.004 AS ok_duration, rms >= 25400.0 AS ok_level,
        |peak <= 30600 AS ok_clip,
        |(sr >= 16000 AND ch <= 1 AND dur >= 0.004 AND rms >= 25400.0
        |AND peak <= 30600) AS passes
        |FROM a ORDER BY media_id""".stripMargin.replace("\n", " "),
    // envelope hash: window energies replayed from the text bytes — L =
    // ns//65 equal windows, adjacent strict-greater bits, 32-bit halves
    "q138_audio_envelope" ->
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |octet_length(encode(text)) // 2 AS ns FROM documents
        |WHERE text IS NOT NULL AND octet_length(encode(text)) // 2 >= 65),
        |win AS (SELECT media_id, ns // 65 AS L, hx,
        |unnest(range(0, 65 * (ns // 65))) AS k FROM m),
        |v AS (SELECT media_id, k // L AS w,
        |(strpos('0123456789ABCDEF', substr(hx, 4*k+3, 1)) - 1) * 4096
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+4, 1)) - 1) * 256
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+2, 1)) - 1) AS u FROM win),
        |e AS (SELECT media_id, w,
        |sum(CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS BIGINT)
        |* (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)) AS en
        |FROM v GROUP BY media_id, w),
        |bits AS (SELECT l.media_id, l.w AS b FROM e l JOIN e r
        |ON l.media_id = r.media_id AND r.w = l.w + 1 WHERE l.en > r.en),
        |h AS (SELECT media_id,
        |CAST(sum(CASE WHEN b < 32 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS eh_hi,
        |CAST(sum(CASE WHEN b >= 32 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS eh_lo
        |FROM bits GROUP BY media_id)
        |SELECT m.media_id,
        |CAST(COALESCE(h.eh_hi, 0) AS BIGINT) AS eh_hi,
        |CAST(COALESCE(h.eh_lo, 0) AS BIGINT) AS eh_lo
        |FROM m LEFT JOIN h ON m.media_id = h.media_id
        |ORDER BY m.media_id""".stripMargin.replace("\n", " "),
    // exact BPE counts: the engine's merge loop replayed in SQL (rank-
    // order unrolled recursion over distinct pre-tokens — see bpeCountCtes)
    "q114_bpe_exact" ->
      s"""WITH RECURSIVE ${bpeCountCtes("documents")}
         |SELECT doc_id, bpe_exact FROM bpe_cnt ORDER BY doc_id""".stripMargin
        .replace("\n", " "),
    // q50's packing arithmetic over the exact counts
    "q115_pack_exact_bpe" ->
      s"""WITH RECURSIVE ${bpeCountCtes("documents")},
         |t AS (SELECT doc_id, bpe_exact AS n_tokens,
         |CAST(doc_id % 8 AS BIGINT) AS stream FROM bpe_cnt),
         |c AS (SELECT doc_id, n_tokens, stream,
         |sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
         |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
         |FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, stream, CAST(off // 2048 AS BIGINT) AS pack,
         |CAST(stream * 4294967296 + off // 2048 AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // full id sequences: symbol→id mapping over the shared recursion
    "q120_bpe_encode" ->
      s"""WITH RECURSIVE ${bpeIdsCtes("documents")}
         |SELECT doc_id, token_ids, n_tokens FROM bpe_ids ORDER BY doc_id""".stripMargin
        .replace("\n", " "),
    // q115's assignment + per-pack id concatenation in doc order
    "q121_pack_token_streams" ->
      s"""WITH RECURSIVE ${bpeIdsCtes("documents")},
         |t AS (SELECT b.doc_id, b.bpe_exact AS n_tokens,
         |CAST(b.doc_id % 8 AS BIGINT) AS stream, x.token_ids
         |FROM bpe_cnt b JOIN bpe_ids x ON x.doc_id = b.doc_id),
         |c AS (SELECT doc_id, n_tokens, stream, token_ids,
         |sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
         |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
         |FROM t WHERE n_tokens > 0),
         |p AS (SELECT doc_id, n_tokens, stream, token_ids,
         |CAST(off // 2048 AS BIGINT) AS pack,
         |CAST(stream * 4294967296 + off // 2048 AS BIGINT) AS pack_id FROM c)
         |SELECT pack_id, stream, pack, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |string_agg(token_ids, ',' ORDER BY doc_id) AS token_ids
         |FROM p GROUP BY pack_id, stream, pack ORDER BY pack_id""".stripMargin
        .replace("\n", " "),
    // chunking: stride 224 = 256 - 32; integer ceil via (x + 223) // 224
    "q55_chunk_docs" ->
      """WITH t AS (SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |1 + (greatest(n_tokens - 256, 0) + 223) // 224 AS nc FROM t WHERE n_tokens > 0),
        |e AS (SELECT doc_id, n_tokens, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)
        |SELECT doc_id, n_tokens, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |CAST(chunk_idx * 224 AS BIGINT) AS tok_start,
        |CAST(least(chunk_idx * 224 + 256, n_tokens) AS BIGINT) AS tok_end
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " "),
    // q55's chunk arithmetic (stride 48 = 64 − 16) over the shared BPE
    // count recursion — window boundaries in exact trainer tokens
    "q132_chunk_exact_bpe" ->
      s"""WITH RECURSIVE ${bpeCountCtes("documents")},
         |t AS (SELECT doc_id, bpe_exact AS n_tokens FROM bpe_cnt),
         |c AS (SELECT doc_id, n_tokens,
         |1 + (greatest(n_tokens - 64, 0) + 47) // 48 AS nc FROM t WHERE n_tokens > 0),
         |e AS (SELECT doc_id, n_tokens, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)
         |SELECT doc_id, n_tokens, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |CAST(chunk_idx * 48 AS BIGINT) AS tok_start,
         |CAST(least(chunk_idx * 48 + 64, n_tokens) AS BIGINT) AS tok_end
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " "),
    "q56_vocabulary" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS tf,
        |CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM toks WHERE term <> '' GROUP BY term
        |ORDER BY tf DESC, term LIMIT 100""".stripMargin.replace("\n", " "),
    // ln/exp rounded to 6 decimals on both sides (libm ulps)
    "q59_unigram_ppl" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |FROM documents),
        |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        |c AS (SELECT term, count(*) AS tc FROM t2 GROUP BY term),
        |tot AS (SELECT sum(tc) AS tot FROM c)
        |SELECT doc_id, round(exp(-avg(ln(CAST(tc AS DOUBLE) / tot))), 6) AS ppl
        |FROM t2 JOIN c USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // bigram stream by position (never-empty regexp tokens == the filtered
    // split tokens), MLE conditional = bigram count / context count (both
    // derived from the SAME bigram relation, so probabilities condition
    // correctly — a doc's last token is no context)
    "q104_bigram_ppl" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), '[^ \t\n\f\r]+') AS toks
        |FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS w2g
        |FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
        |c2 AS (SELECT w2g, count(*) AS cb FROM bg GROUP BY w2g),
        |c1 AS (SELECT w1, count(*) AS cc FROM bg GROUP BY w1),
        |sc AS (SELECT doc_id, round(exp(-avg(ln(CAST(cb AS DOUBLE) / cc))), 6) AS ppl2
        |FROM bg JOIN c2 USING (w2g) JOIN c1 USING (w1) GROUP BY doc_id)
        |SELECT d.doc_id, sc.ppl2 FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
    // stupid backoff: reference counts by gram STRING (== the engine's
    // XXH64 keys absent collisions), trigram windows with the backoff
    // CASE chain, OOV = alpha^2/N, full doc coverage via LEFT JOIN
    // (the shared backoffPplCtes builder — also feeds q126 and q128)
    "q125_backoff_ppl" ->
      s"""WITH ${backoffPplCtes("documents")}
         |SELECT d.doc_id, bk_sc.ppl3 FROM documents d LEFT JOIN bk_sc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
    // CCNet buckets: q104's ppl CTEs + q79's mass-cumulative qcut
    // arithmetic, weight = length(text), partition by lang
    "q122_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), '[^ \t\n\f\r]+') AS toks
        |FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS w2g
        |FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
        |c2 AS (SELECT w2g, count(*) AS cb FROM bg GROUP BY w2g),
        |c1 AS (SELECT w1, count(*) AS cc FROM bg GROUP BY w1),
        |sc AS (SELECT doc_id, round(exp(-avg(ln(CAST(cb AS DOUBLE) / cc))), 6) AS ppl2
        |FROM bg JOIN c2 USING (w2g) JOIN c1 USING (w1) GROUP BY doc_id),
        |d2 AS (SELECT d.doc_id, d.lang, CAST(length(coalesce(d.text, '')) AS DOUBLE) AS w, sc.ppl2
        |FROM documents d LEFT JOIN sc USING (doc_id)),
        |p AS (SELECT doc_id, lang, ppl2,
        |sum(CASE WHEN ppl2 IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang ORDER BY ppl2
        |RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |/ sum(CASE WHEN ppl2 IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang) AS pr FROM d2),
        |b AS (SELECT doc_id, lang, ppl2,
        |CASE WHEN ppl2 IS NULL THEN NULL ELSE
        |CAST(least(greatest(ceil(round(pr * 3, 9)) - 1, 0), 2) AS BIGINT) END AS bucket
        |FROM p)
        |SELECT doc_id, lang, ppl2, bucket,
        |CASE WHEN bucket IS NULL THEN NULL WHEN bucket = 0 THEN 'head'
        |WHEN bucket = 1 THEN 'middle' ELSE 'tail' END AS bucket_label
        |FROM b ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // q125's backoff-scored bk_sc CTE chained into q122's weight-mass qcut
    "q126_ccnet_buckets" ->
      s"""WITH ${backoffPplCtes("documents")},
        |d2 AS (SELECT d.doc_id, d.lang, CAST(length(coalesce(d.text, '')) AS DOUBLE) AS w, bk_sc.ppl3
        |FROM documents d LEFT JOIN bk_sc USING (doc_id)),
        |p AS (SELECT doc_id, lang, ppl3,
        |sum(CASE WHEN ppl3 IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang ORDER BY ppl3
        |RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |/ sum(CASE WHEN ppl3 IS NOT NULL THEN w ELSE 0 END)
        |OVER (PARTITION BY lang) AS pr FROM d2),
        |b AS (SELECT doc_id, lang, ppl3,
        |CASE WHEN ppl3 IS NULL THEN NULL ELSE
        |CAST(least(greatest(ceil(round(pr * 3, 9)) - 1, 0), 2) AS BIGINT) END AS bucket
        |FROM p)
        |SELECT doc_id, lang, ppl3, bucket,
        |CASE WHEN bucket IS NULL THEN NULL WHEN bucket = 0 THEN 'head'
        |WHEN bucket = 1 THEN 'middle' ELSE 'tail' END AS bucket_label
        |FROM b ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // losslessness IS the oracle: decode(encode(text)) must equal the
    // source column byte for byte
    "q130_bpe_roundtrip" ->
      """SELECT doc_id, text AS text_rt FROM documents ORDER BY doc_id""",
    // factors recomputed from the data (q123's share arithmetic × n/c),
    // then the q129 fan-out on the exact-replayed xxhash uniform
    "q131_temperature_resample" -> {
      val (ctes, last) = xxhashUnifCtes("src", "doc_id", 23L, "xtr_")
      s"""WITH src AS (SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL),
         |cnt AS (SELECT lang, count(*) AS c FROM src GROUP BY lang),
         |tot AS (SELECT sum(c) AS n FROM cnt),
         |pw AS (SELECT lang, c, pow(CAST(c AS DOUBLE) / (SELECT n FROM tot), 0.5) AS p FROM cnt),
         |zz AS (SELECT sum(p) AS z FROM pw),
         |fs AS (SELECT lang, c,
         |CAST((SELECT n FROM tot) AS DOUBLE) * (p / (SELECT z FROM zz)) / c AS fac FROM pw),
         |$ctes,
         |n AS (SELECT t.doc_id, t.lang,
         |CAST(floor(fs.fac) AS BIGINT) +
         |CASE WHEN fs.fac - floor(fs.fac) > 0 AND t.u < fs.fac - floor(fs.fac)
         |THEN 1 ELSE 0 END AS nn
         |FROM $last t JOIN fs ON t.lang = fs.lang)
         |SELECT doc_id, lang, CAST(e AS BIGINT) AS epoch
         |FROM n, unnest(generate_series(0, nn - 1)) AS g(e)
         |WHERE nn > 0 ORDER BY doc_id, epoch""".stripMargin.replace("\n", " ")
    },
    // upsampling: the factor CASE, floor + fractional-epoch coin on the
    // exact-replayed xxhash uniform, then a generate_series epoch fan-out
    "q129_upsample_epochs" -> {
      val (ctes, last) = xxhashUnifCtes("src", "doc_id", 17L, "xue_")
      s"""WITH src AS (SELECT doc_id, lang, n_chars FROM documents),
         |$ctes,
         |f AS (SELECT t.doc_id, t.lang, t.n_chars, t.u,
         |CASE t.lang WHEN 'en' THEN 2.5 WHEN 'fr' THEN 0.5 WHEN 'de' THEN 0.0
         |WHEN 'zh' THEN 3.0 ELSE 1.0 END AS fac FROM $last t),
         |n AS (SELECT doc_id, lang, n_chars,
         |CAST(floor(fac) AS BIGINT) +
         |CASE WHEN fac - floor(fac) > 0 AND u < fac - floor(fac) THEN 1 ELSE 0 END AS nn
         |FROM f)
         |SELECT doc_id, lang, n_chars, CAST(e AS BIGINT) AS epoch
         |FROM n, unnest(generate_series(0, nn - 1)) AS g(e)
         |WHERE nn > 0 ORDER BY doc_id, epoch""".stripMargin.replace("\n", " ")
    },
    // temperature mix: shares recomputed from the data (pow(p, 0.5),
    // normalized), then the q64 min-k fraction + hash admission
    "q123_temperature_mix" -> {
      val (ctes, last) = xxhashUnifCtes("src", "doc_id", 13L, "xtm_")
      s"""WITH src AS (SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL),
         |cnt AS (SELECT lang, count(*) AS c FROM src GROUP BY lang),
         |tot AS (SELECT sum(c) AS n FROM cnt),
         |pw AS (SELECT lang, c, pow(CAST(c AS DOUBLE) / (SELECT n FROM tot), 0.5) AS p FROM cnt),
         |zz AS (SELECT sum(p) AS z FROM pw),
         |shr AS (SELECT lang, c, p / (SELECT z FROM zz) AS share FROM pw),
         |kk AS (SELECT min(c / share) AS k FROM shr),
         |fr AS (SELECT lang, c, least(CAST(1 AS DOUBLE), (SELECT k FROM kk) * share / c) AS f FROM shr),
         |$ctes
         |SELECT t.doc_id, t.lang FROM $last t JOIN fr ON t.lang = fr.lang
         |WHERE t.u < fr.f ORDER BY t.doc_id""".stripMargin.replace("\n", " ")
    },
    // distinct word 3-grams per doc (list_distinct mirrors WordNGrams);
    // bench = doc_id % 97 = 0 slice, corpus = the rest
    // outer-joined from the full corpus id set so a < n-token or NULL-text
    // doc surfaces as (0, 0, false), mirroring explode_outer on the Spark
    // side (fixtures have >= 10 tokens today; this keeps the oracle honest
    // if they ever don't)
    "q60_decontaminate" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(a) - 1, 1)),
        |i -> list_aggregate(a[i:i+2], 'string_agg', ' ')))) AS gr FROM d),
        |b AS (SELECT DISTINCT gr FROM g WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, gr FROM g WHERE doc_id % 97 <> 0),
        |agg AS (SELECT c.doc_id, count(*) AS ng, count(b.gr) AS ns
        |FROM c LEFT JOIN b ON c.gr = b.gr GROUP BY c.doc_id)
        |SELECT ids.doc_id, CAST(coalesce(agg.ng, 0) AS BIGINT) AS n_grams,
        |CAST(coalesce(agg.ns, 0) AS BIGINT) AS n_shared, coalesce(agg.ns, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) ids
        |LEFT JOIN agg ON ids.doc_id = agg.doc_id
        |ORDER BY ids.doc_id""".stripMargin.replace("\n", " "),
    "q62_drop_contaminated" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(a) - 1, 1)),
        |i -> list_aggregate(a[i:i+2], 'string_agg', ' ')))) AS gr FROM d),
        |b AS (SELECT DISTINCT gr FROM g WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT c.doc_id FROM g c JOIN b ON c.gr = b.gr WHERE c.doc_id % 97 <> 0)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // bigram variant of the q62 CTE pattern (i ranges to len-1, slice is
    // 2 tokens, HAVING enforces maxShared=1); the Bloom prefilter cannot
    // change the result, only which rows take the exact confirm path
    "q93_drop_contaminated_bloom" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(a), 1)),
        |i -> list_aggregate(a[i:i+1], 'string_agg', ' ')))) AS gr FROM d),
        |b AS (SELECT DISTINCT gr FROM g WHERE doc_id % 97 = 0),
        |bad AS (SELECT c.doc_id FROM g c JOIN b ON c.gr = b.gr WHERE c.doc_id % 97 <> 0
        |GROUP BY c.doc_id HAVING count(*) > 1)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // same RE2/Java-subset regexes as Scrub; DuckDB needs the 'g' flag
    // (Spark's regexp_replace is global by default)
    "q65_scrub_pii" ->
      ("""WITH d AS (SELECT doc_id, text || ' contact u' || doc_id ||
        |'@ex.com via 10.0.' || (doc_id % 256) || '.7' AS text FROM documents),
        |r AS (SELECT doc_id, text,
        |regexp_replace(text, '#EM#', '<EMAIL>', 'g') AS t1 FROM d),
        |r2 AS (SELECT doc_id, text, t1,
        |regexp_replace(t1, '#PH#', '<PHONE>', 'g') AS t2 FROM r)
        |SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '#EM#')) + len(regexp_extract_all(t1, '#PH#'))
        |+ len(regexp_extract_all(t2, '#IP#')) AS BIGINT) AS n_pii,
        |regexp_replace(t2, '#IP#', '<IP>', 'g') AS clean
        |FROM r2 ORDER BY doc_id""".stripMargin.replace("\n", " ")
        .replace("#EM#", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
        .replace("#PH#", "\\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\\b")
        .replace("#IP#", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")),
    "q66_clean_lines" ->
      """WITH d AS (SELECT doc_id,
        |(CASE WHEN doc_id % 2 = 0 THEN 'too short' ELSE 'kept lead line' END)
        ||| chr(10) || text || chr(10) || 'this line is slow boilerplate' AS text
        |FROM documents),
        |c AS (SELECT doc_id, list_aggregate(list_filter(string_split(text, chr(10)),
        |l -> len(string_split_regex(trim(l), '\s+')) >= 3
        |AND NOT contains(lower(l), 'slow')), 'string_agg', chr(10)) AS cl FROM d)
        |SELECT doc_id, coalesce(cl, '') AS clean,
        |CAST(CASE WHEN cl IS NULL OR cl = '' THEN 0
        |ELSE len(string_split(cl, chr(10))) END AS BIGINT) AS n_lines
        |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // the relational spelling of the per-row prefix rule: first occurrence
    // per (doc, raw line) via min(pos), exempt short-trimmed lines keep
    // every copy, reassembly ordered by position
    "q127_dedup_lines" ->
      """WITH d AS (SELECT doc_id,
        |string_split('---' || chr(10) || substr(coalesce(text, ''), 1, 40) || chr(10)
        ||| substr(coalesce(text, ''), 1, 40) || chr(10) || '---' || chr(10)
        ||| 'tail ' || doc_id || chr(10) || substr(coalesce(text, ''), 1, 40),
        |chr(10)) AS lines FROM documents),
        |x AS (SELECT doc_id, unnest(lines) AS line,
        |generate_subscripts(lines, 1) AS pos FROM d),
        |k AS (SELECT doc_id, line, pos,
        |min(pos) OVER (PARTITION BY doc_id, line) AS first_pos FROM x),
        |c AS (SELECT doc_id,
        |string_agg(line, chr(10) ORDER BY pos) AS text_clean,
        |CAST(count(*) AS BIGINT) AS n_lines
        |FROM k WHERE len(trim(line)) < 5 OR pos = first_pos GROUP BY doc_id)
        |SELECT doc_id, text_clean, n_lines FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // generate_subscripts zips with unnest; dim is 0-based on the Spark
    // side (posexplode) so the oracle shifts p by 1
    "q63_group_centroids" ->
      """WITH x AS (SELECT label, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS p FROM embeddings),
        |m AS (SELECT label, p, avg(CAST(v AS DOUBLE)) AS value, count(*) AS c
        |FROM x GROUP BY label, p)
        |SELECT label, CAST(p - 1 AS BIGINT) AS dim, value,
        |CAST(max(c) OVER (PARTITION BY label) AS BIGINT) AS n_vectors
        |FROM m ORDER BY label, dim""".stripMargin.replace("\n", " "),
    "q61_token_budget" ->
      """WITH t AS (SELECT doc_id, lang, source,
        |len(regexp_split_to_array(trim(text), '\s+')) AS ntok FROM documents),
        |c AS (SELECT doc_id, lang, source, CAST(sum(ntok) OVER
        |(PARTITION BY lang, source ORDER BY doc_id) AS BIGINT) AS cum_tokens FROM t)
        |SELECT doc_id, lang, source, cum_tokens FROM c
        |WHERE cum_tokens <= 500 ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // q61's running cut over the exact BPE counts (shared recursion CTEs)
    "q116_budget_exact_bpe" ->
      s"""WITH RECURSIVE ${bpeCountCtes("documents")},
         |t AS (SELECT d.doc_id, d.lang, d.source, c.bpe_exact AS ntok
         |FROM documents d JOIN bpe_cnt c ON c.doc_id = d.doc_id),
         |cc AS (SELECT doc_id, lang, source, CAST(sum(ntok) OVER
         |(PARTITION BY lang, source ORDER BY doc_id) AS BIGINT) AS cum_tokens FROM t)
         |SELECT doc_id, lang, source, cum_tokens FROM cc
         |WHERE cum_tokens <= 1500 ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // bigrams with multiplicity via a 1-indexed lambda over the token list
    "q58_repetition" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
        |u AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n_words,
        |CAST(len(list_distinct(a)) AS BIGINT) AS n_distinct FROM d),
        |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bg FROM d),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg),
        |bm AS (SELECT doc_id, max(c) AS mx FROM bc GROUP BY doc_id)
        |SELECT u.doc_id, n_words, n_distinct,
        |CAST(n_distinct AS DOUBLE) / n_words AS distinct_ratio,
        |CASE WHEN n_words > 1 THEN CAST(mx AS DOUBLE) / (n_words - 1) END AS top_bigram_frac
        |FROM u LEFT JOIN bm ON u.doc_id = bm.doc_id
        |ORDER BY u.doc_id""".stripMargin.replace("\n", " "),
    "q39_clean_corpus" ->
      s"""SELECT * FROM ($textAnalyzeSql)
         |WHERE quality_score >= 0.5 AND ws_tokens >= 20
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")
        .replace("FROM documents", keepFirstDocsSql),
    "q38_apply_rowwise" ->
      """SELECT event_id, greatest(value * w, (value * 0.5 - 10.0) * w) AS value
        |FROM (SELECT event_id, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events)
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "q91_apply_expand" ->
      """SELECT event_id,
        |least(value * w, (value * 0.5 - 10.0) * w) AS rmin,
        |greatest(value * w, (value * 0.5 - 10.0) * w) AS rmax,
        |value * w + (value * 0.5 - 10.0) * w AS rsum
        |FROM (SELECT event_id, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events)
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "q92_apply_broadcast" ->
      """SELECT event_id,
        |greatest(value * w, (value * 0.5 - 10.0) * w) AS value,
        |greatest(value * w, (value * 0.5 - 10.0) * w) AS v2
        |FROM (SELECT event_id, value, CAST(user_id % 7 + 1 AS DOUBLE) AS w FROM events)
        |ORDER BY event_id""".stripMargin.replace("\n", " "),
    "q30_multimodal_meta" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
        |CAST(octet_length(encode(text)) + CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 39 END AS BIGINT) AS n_bytes,
        |doc_id % 640 + 64 AS w, doc_id % 480 + 48 AS h FROM documents)
        |SELECT media_id, kind, n_bytes,
        |CASE WHEN w <= h THEN 224 ELSE greatest(1, CAST(floor(w * 224.0 / h + 0.5) AS BIGINT)) END AS out_width,
        |CASE WHEN w <= h THEN greatest(1, CAST(floor(h * 224.0 / w + 0.5) AS BIGINT)) ELSE 224 END AS out_height
        |FROM m ORDER BY media_id""".stripMargin.replace("\n", " "),
    // audio: DuckDB reconstructs the exact RIFF/WAVE header hex (all fields
    // little-endian) that Spark built and parsed; 'WAVEfmt ' and the PCM /
    // bit-depth constants are fixed byte runs
    "q57_audio_meta" ->
      s"""WITH m AS (SELECT doc_id AS media_id, 8000 + (doc_id % 8) * 4000 AS sr,
         |1 + doc_id % 2 AS ch, octet_length(encode(text)) AS n FROM documents)
         |SELECT media_id, 'wav' AS kind, CAST(sr AS BIGINT) AS sample_rate,
         |CAST(ch AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
         |'52494646' || ${leSql("36 + n", 4)} || '57415645666D7420' || '10000000' || '0100' ||
         |${leSql("ch", 2)} || ${leSql("sr", 4)} || ${leSql("sr * ch * 2", 4)} ||
         |${leSql("ch * 2", 2)} || '1000' || '64617461' || ${leSql("n", 4)} AS hdr_hex
         |FROM m ORDER BY media_id""".stripMargin.replace("\n", " "),
    // PCM sample decode: DuckDB re-derives each 16-bit LE sample from the
    // UTF-8 payload's hex (byte j = hex chars 2j+1..2j+2, sample k = bytes
    // 2k lo + 2k+1 hi, two's complement at 32768), then aggregates the same
    // count/peak/Σv²/rms; Σv² cast back to BIGINT (sum → HUGEINT → float64)
    "q82_pcm_stats" ->
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |octet_length(encode(text)) AS n FROM documents),
        |s AS (SELECT media_id, hx, n // 2 AS ns, unnest(range(0, n // 2)) AS k
        |FROM m WHERE n >= 2),
        |v AS (SELECT media_id, ns,
        |(strpos('0123456789ABCDEF', substr(hx, 4*k+3, 1)) - 1) * 4096
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+4, 1)) - 1) * 256
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(hx, 4*k+2, 1)) - 1) AS u FROM s),
        |w AS (SELECT media_id, ns, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x FROM v)
        |SELECT media_id, CAST(max(ns) AS BIGINT) AS n_samples,
        |CAST(max(abs(x)) AS BIGINT) AS peak,
        |CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS sum_sq,
        |round(sqrt(CAST(sum(CAST(x AS BIGINT) * x) AS DOUBLE) / max(ns)), 6) AS rms
        |FROM w GROUP BY media_id ORDER BY media_id""".stripMargin.replace("\n", " "),
    // video: DuckDB reconstructs mvhd timescale/duration math, trak count,
    // tkhd dims, and the exact first-36-byte ftyp+moov+mvhd prefix (box
    // sizes included — 116+141·n pins the whole layout arithmetic) that
    // Spark built and the native VideoMeta box walk parsed back
    // same URL arithmetic, same RE2 patterns (group indices included), the
    // suffix subset inlined from the ONE Scala constant, row_number cap
    "q107_domain_caps" -> {
      val sfx = graft.ops.Urls.TwoLevelSuffixes.map(s => s"'$s'").mkString(", ")
      s"""WITH u AS (SELECT doc_id, n_chars,
         |'HTTPS://u:p@' ||
         |CASE WHEN doc_id % 3 = 0 THEN 'www.' WHEN doc_id % 3 = 1 THEN 'sub' || (doc_id % 5) || '.' ELSE '' END ||
         |'site' || (doc_id % 17) || '.' ||
         |CASE WHEN doc_id % 4 = 0 THEN 'co.uk' ELSE 'com' END ||
         |CASE WHEN doc_id % 6 = 0 THEN ':8080' ELSE '' END ||
         |'/p/' || doc_id ||
         |CASE WHEN doc_id % 2 = 0 THEN '?q=1' ELSE '' END AS url
         |FROM documents),
         |p AS (SELECT doc_id, n_chars,
         |lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         |lower(regexp_replace(regexp_replace(
         |regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
         |'^[^@]*@', ''), ':[0-9]*$$', '')) AS host,
         |regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)([^?#]*)', 2) AS path
         |FROM u),
         |d AS (SELECT *, string_split(host, '.') AS ls FROM p),
         |g AS (SELECT doc_id, n_chars, scheme, host, path,
         |CASE WHEN len(ls) >= 3 AND (ls[-2] || '.' || ls[-1]) IN ($sfx)
         |THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         |WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1] ELSE host END AS domain FROM d),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY domain
         |ORDER BY n_chars DESC, doc_id) AS rank FROM g)
         |SELECT doc_id, scheme, host, domain, path, n_chars, CAST(rank AS BIGINT) AS rank
         |FROM rk WHERE rank <= 3 ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    // the expected PSL reduction rebuilt per fixture case from the same
    // doc_id arithmetic: co.uk (multi-level), github.io (private section),
    // *.ck wildcard (public suffix = one label under ck, so the
    // registrable domain keeps TWO labels under it), !www.ck exception,
    // IPv4 passthrough, com.sg
    "q107b_domain_caps_psl" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |CASE CAST(doc_id % 7 AS INTEGER)
        |WHEN 0 THEN 'www.site' || (doc_id % 13) || '.co.uk'
        |WHEN 1 THEN 'sub' || (doc_id % 5) || '.site' || (doc_id % 13) || '.github.io'
        |WHEN 2 THEN 'site' || (doc_id % 13) || '.com'
        |WHEN 3 THEN 'a.b.site' || (doc_id % 13) || '.ck'
        |WHEN 4 THEN 'www.ck'
        |WHEN 5 THEN '192.0.2.' || (doc_id % 13)
        |ELSE 'site' || (doc_id % 13) || '.com.sg' END AS host,
        |CASE CAST(doc_id % 7 AS INTEGER)
        |WHEN 0 THEN 'site' || (doc_id % 13) || '.co.uk'
        |WHEN 1 THEN 'site' || (doc_id % 13) || '.github.io'
        |WHEN 2 THEN 'site' || (doc_id % 13) || '.com'
        |WHEN 3 THEN 'b.site' || (doc_id % 13) || '.ck'
        |WHEN 4 THEN 'www.ck'
        |WHEN 5 THEN '192.0.2.' || (doc_id % 13)
        |ELSE 'site' || (doc_id % 13) || '.com.sg' END AS domain
        |FROM documents),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY domain
        |ORDER BY n_chars DESC, doc_id) AS rank FROM u)
        |SELECT doc_id, host, domain, n_chars, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 3 ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // the normalization algebra transcribed verbatim (RFC 3986 §6 subset +
    // tracking-param strip), then keep-newest per normalized key with
    // NULL-key rows passing through as their own groups
    "q124_url_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |recs AS (
        |SELECT doc_id*2 AS rec_id,
        |'HTTP://u:p@WWW.Site' || (doc_id % 17) || '.COM' ||
        |CASE WHEN doc_id % 5 = 0 THEN '.' ELSE '' END ||
        |':80/p/' || doc_id || '/?b=2&utm_source=x&a=1#frag' AS url,
        |doc_id*2 AS ts FROM d
        |UNION ALL
        |SELECT doc_id*2+1,
        |CASE WHEN doc_id % 7 = 0 THEN 'not a url ' || doc_id
        |ELSE 'http://www.site' || (doc_id % 17) || '.com/p/' || doc_id || '?a=1&b=2' END,
        |doc_id*2+1 FROM d),
        |parts AS (SELECT rec_id, url, ts,
        |lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sch,
        |regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
        |'^[^@]*@', '') AS nouser,
        |regexp_replace(regexp_extract(url,
        |'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)([^?#]*)', 2), '/+$', '') AS p,
        |regexp_extract(regexp_extract(url, '^([^#]*)', 1), '\?(.*)$', 1) AS q
        |FROM recs),
        |parts2 AS (SELECT rec_id, url, ts, sch, p,
        |regexp_replace(lower(regexp_replace(nouser, ':[0-9]*$', '')), '\.$', '') AS h,
        |regexp_extract(nouser, ':([0-9]+)$', 1) AS port,
        |array_to_string(list_sort(list_filter(string_split(q, '&'),
        |x -> len(x) > 0 AND NOT regexp_matches(x,
        |'^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=|$)'))), '&') AS qs
        |FROM parts),
        |norm AS (SELECT rec_id, url, ts,
        |CASE WHEN sch = '' OR h = '' THEN NULL
        |ELSE sch || '://' || h ||
        |CASE WHEN port = '' OR (sch = 'http' AND port = '80')
        |OR (sch = 'https' AND port = '443') THEN '' ELSE ':' || port END ||
        |p || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END END AS url_norm
        |FROM parts2),
        |ranked AS (SELECT *,
        |CASE WHEN url_norm IS NULL THEN 1
        |ELSE row_number() OVER (PARTITION BY url_norm ORDER BY ts DESC, rec_id) END AS rn
        |FROM norm)
        |SELECT CAST(rec_id AS BIGINT) AS rec_id, url, CAST(ts AS BIGINT) AS ts, url_norm
        |FROM ranked WHERE rn = 1 ORDER BY rec_id""".stripMargin.replace("\n", " "),
    // the WARC fixture rebuilt arithmetically: parsed fields per record
    // (request: no status/type, empty body; response: 200/text-plain/the
    // text prefix) + the hex of the first 40 raw header bytes
    "q106_warc_ingest" ->
      """WITH k AS (SELECT chr(13)||chr(10) AS nl),
        |b AS (SELECT doc_id, substr(coalesce(text,''),1,60) AS body,
        |'http://ex.com/doc/' || doc_id AS url,
        |'2026-01-' || lpad(CAST(doc_id % 27 + 1 AS VARCHAR),2,'0') || 'T00:00:00Z' AS dt,
        |nl FROM documents, k),
        |r AS (SELECT doc_id, body, url, dt,
        |'WARC/1.0' || nl || 'WARC-Type: request' || nl || 'WARC-Target-URI: ' || url
        ||| nl || 'WARC-Date: ' || dt AS reqhdr FROM b)
        |SELECT media_id, rec_idx, rec_type, url, warc_date, http_status, content_type, body, hdr_hex
        |FROM (
        |SELECT doc_id AS media_id, CAST(0 AS BIGINT) AS rec_idx, 'request' AS rec_type,
        |url, dt AS warc_date, CAST(NULL AS BIGINT) AS http_status,
        |CAST(NULL AS VARCHAR) AS content_type, '' AS body,
        |hex(encode(substr(reqhdr,1,40))) AS hdr_hex FROM r
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), 'response', url, dt, CAST(200 AS BIGINT),
        |'text/plain', body, hex(encode(substr(reqhdr,1,40))) FROM r)
        |ORDER BY media_id, rec_idx""".stripMargin.replace("\n", " "),
    "q94_video_meta" ->
      """WITH m AS (SELECT doc_id AS media_id, 600*(doc_id%4+1) AS ts,
        |doc_id%9000+600 AS dur, (doc_id%8)*160+320 AS w, (doc_id%6)*120+240 AS h,
        |doc_id%2+1 AS nt FROM documents)
        |SELECT media_id, 'isom' AS brand, CAST(ts AS BIGINT) AS timescale,
        |CAST(dur AS BIGINT)*1000 // ts AS duration_ms, CAST(nt AS BIGINT) AS n_tracks,
        |CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, 'vide' AS handler,
        |'000000106674797069736F6D00000200' || lpad(hex(116+141*nt), 8, '0') ||
        |'6D6F6F76' || '0000006C6D76686400000000' AS hdr_hex
        |FROM m ORDER BY media_id""".stripMargin.replace("\n", " "),
    // byte-level decode check: Spark PARSES width/height/format back out of
    // the payload's container header (native ImageDims expression); DuckDB
    // independently RECONSTRUCTS the exact header bytes from arithmetic.
    // hdr_hex pins Spark's byte encoding (endianness, offsets) bit-for-bit.
    "q54_image_dims" ->
      """WITH m AS (SELECT doc_id AS media_id, doc_id % 640 + 64 AS w,
        |doc_id % 480 + 48 AS h FROM documents)
        |SELECT media_id,
        |CASE WHEN media_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
        |CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |CASE WHEN media_id % 2 = 0 THEN
        |'89504E470D0A1A0A0000000D49484452' || lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0') || '080200000000000000'
        |ELSE
        |'FFD8FFE000104A46494600010200000100010000FFC0001108' || lpad(hex(h), 4, '0') || lpad(hex(w), 4, '0') || '03011100021101031101'
        |END AS hdr_hex
        |FROM m ORDER BY media_id""".stripMargin.replace("\n", " "),
    // q37's soundness twin: the oracle pins the exact violation-count rows
    // (all zero) plus the non-vacuousness sentinel. The VERIFICATION runs on
    // the Spark side through two independent recomputes; DuckDB cannot see
    // the plane-dependent pair list, but it pins that no property can be
    // violated and that the check was not vacuous.
    "q37b_lsh_soundness" ->
      """SELECT * FROM (VALUES
        |('beats_true_best', CAST(0 AS BIGINT)),
        |('has_pairs', CAST(1 AS BIGINT)),
        |('multi_reports', CAST(0 AS BIGINT)),
        |('null_sims', CAST(0 AS BIGINT)),
        |('reflexive_pairs', CAST(0 AS BIGINT)),
        |('sim_mismatch', CAST(0 AS BIGINT)))
        |AS t(property, n_bad) ORDER BY property""".stripMargin.replace("\n", " "),
    "q88_png_pixels16" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |CAST(doc_id % 5 + 2 AS INTEGER) AS w, CAST(doc_id % 3 + 2 AS INTEGER) AS h,
        |hex(encode(text)) AS hx FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT media_id, w, h,
        |substr(hx || repeat('41', 2*w*h), 1, 4*w*h) AS px FROM m),
        |s AS (SELECT media_id, w, h, px, unnest(range(0, w*h)) AS i FROM p),
        |v AS (SELECT media_id, w, h,
        |((strpos('0123456789ABCDEF', substr(px, 4*i+1, 1)) - 1) * 4096
        |+ (strpos('0123456789ABCDEF', substr(px, 4*i+2, 1)) - 1) * 256
        |+ (strpos('0123456789ABCDEF', substr(px, 4*i+3, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(px, 4*i+4, 1)) - 1)) AS u FROM s)
        |SELECT media_id, CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS depth,
        |CAST(w*h AS BIGINT) AS n_px,
        |CAST(sum(u) AS BIGINT) AS g_sum,
        |CAST(min(u) AS BIGINT) AS g_min,
        |CAST(max(u) AS BIGINT) AS g_max,
        |CAST(sum(u) AS DOUBLE) / (w*h) AS g_mean
        |FROM v GROUP BY media_id, w, h ORDER BY media_id""".stripMargin.replace("\n", " "),
    // pixel-level decode check: Spark DECODES the PNG (inflate + unfilter);
    // DuckDB independently re-derives each pixel byte from the document
    // text's hex (the fixture's stored-deflate blocks are byte-transparent,
    // filter type 0 everywhere — so pixel bytes ≡ padded text bytes)
    "q86_png_pixels" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |CAST(doc_id % 6 + 2 AS INTEGER) AS w, CAST(doc_id % 4 + 2 AS INTEGER) AS h,
        |hex(encode(text)) AS hx FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT media_id, w, h,
        |substr(hx || repeat('41', 3*w*h), 1, 6*w*h) AS px FROM m),
        |s AS (SELECT media_id, w, h, px, unnest(range(0, 3*w*h)) AS i FROM p),
        |v AS (SELECT media_id, w, h, i % 3 AS channel,
        |(strpos('0123456789ABCDEF', substr(px, 2*i+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(px, 2*i+2, 1)) - 1) AS u FROM s)
        |SELECT media_id, CAST(channel AS BIGINT) AS channel,
        |CAST(w*h AS BIGINT) AS n_px,
        |CAST(sum(u) AS BIGINT) AS c_sum,
        |CAST(min(u) AS BIGINT) AS c_min,
        |CAST(max(u) AS BIGINT) AS c_max,
        |CAST(sum(u) AS DOUBLE) / (w*h) AS c_mean
        |FROM v GROUP BY media_id, channel, w, h
        |ORDER BY media_id, channel""".stripMargin.replace("\n", " "),
    // recall telemetry: the oracle pins the all-floors-pass claim; the
    // sentinels keep it non-vacuous (empty truth sets would go red)
    "q90_recall_report" ->
      """SELECT operator, above_floor, nonvacuous FROM (VALUES
        |('ann_ivf_k5', true, true), ('ann_ivfpq_k5', true, true),
        |('ann_ivfpq_residual', true, true),
        |('ann_lsh_k5', true, true), ('lsh_top1', true, true))
        |AS t(operator, above_floor, nonvacuous) ORDER BY operator""".stripMargin.replace("\n", " "),
    // JPEG pixel oracle: block value i of doc = byte i of the 'A'-padded
    // text (each uniform 8x8 block contributes 64 pixels of that value —
    // exact round-trip by construction, see JpegFixtures)
    "q89_jpeg_pixels" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |CAST(doc_id % 3 + 1 AS INTEGER) AS bw, CAST(doc_id % 2 + 1 AS INTEGER) AS bh,
        |hex(encode(text)) AS hx FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT media_id, bw, bh,
        |substr(hx || repeat('41', bw*bh), 1, 2*bw*bh) AS px FROM m),
        |s AS (SELECT media_id, bw, bh, px, unnest(range(0, bw*bh)) AS i FROM p),
        |v AS (SELECT media_id, bw, bh,
        |(strpos('0123456789ABCDEF', substr(px, 2*i+1, 1)) - 1) * 16
        |+ (strpos('0123456789ABCDEF', substr(px, 2*i+2, 1)) - 1) AS u FROM s)
        |SELECT media_id, CAST(64*bw*bh AS BIGINT) AS n_px,
        |CAST(64*sum(u) AS BIGINT) AS g_sum,
        |CAST(min(u) AS BIGINT) AS g_min,
        |CAST(max(u) AS BIGINT) AS g_max,
        |CAST(sum(u) AS DOUBLE) / (bw*bh) AS g_mean
        |FROM v GROUP BY media_id, bw, bh ORDER BY media_id""".stripMargin.replace("\n", " "),
    "q67_assign_centroids" ->
      """WITH x AS (SELECT label, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS p FROM embeddings),
        |c AS (SELECT label, p, avg(CAST(v AS DOUBLE)) AS m FROM x GROUP BY label, p),
        |e AS (SELECT vec_id, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS p FROM embeddings),
        |s AS (SELECT e.vec_id, c.label,
        |sum(CAST(e.v AS DOUBLE) * c.m) /
        |(sqrt(sum(CAST(e.v AS DOUBLE) * CAST(e.v AS DOUBLE))) * sqrt(sum(c.m * c.m))) AS sim
        |FROM e JOIN c ON e.p = c.p GROUP BY e.vec_id, c.label),
        |r AS (SELECT vec_id, label, sim,
        |row_number() OVER (PARTITION BY vec_id ORDER BY CAST(floor(sim * 1e6 + 0.5) AS BIGINT) DESC, label) AS rn
        |FROM s WHERE sim IS NOT NULL)
        |SELECT e0.vec_id, CAST(r.label AS BIGINT) AS assigned, round(r.sim, 6) AS sim
        |FROM (SELECT vec_id FROM embeddings) e0
        |LEFT JOIN r ON r.vec_id = e0.vec_id AND r.rn = 1
        |ORDER BY e0.vec_id""".stripMargin.replace("\n", " "),
    "q68_topk_per_group" ->
      """WITH t AS (SELECT doc_id, lang,
        |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents),
        |r AS (SELECT doc_id, lang, n_tokens,
        |row_number() OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS rank
        |FROM t)
        |SELECT doc_id, lang, n_tokens, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin.replace("\n", " "),
    "q69_top_fraction" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank,
        |count(*) OVER (PARTITION BY lang) AS n FROM documents)
        |SELECT doc_id, lang, n_chars, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= ceil(n * 0.25) ORDER BY lang, rank""".stripMargin.replace("\n", " "),
    "q70_sentences" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) || '. ' ||
        |substr(text, 41, 40) || '! ' || substr(text, 81) AS text FROM documents),
        |x AS (SELECT doc_id,
        |unnest(regexp_split_to_array(text, '[.!?]+\s+')) AS s,
        |generate_subscripts(regexp_split_to_array(text, '[.!?]+\s+'), 1) AS p
        |FROM d),
        |t AS (SELECT doc_id, CAST(p - 1 AS BIGINT) AS sent_idx, trim(s) AS sentence FROM x)
        |SELECT doc_id, sent_idx, sentence,
        |CAST(length(sentence) AS BIGINT) AS n_chars,
        |CAST(len(regexp_split_to_array(trim(sentence), '\s+')) AS BIGINT) AS n_tokens
        |FROM t WHERE sentence <> '' ORDER BY doc_id, sent_idx""".stripMargin.replace("\n", " "),
    "q71_mix_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |CAST(count(*) AS BIGINT) AS n_distinct,
        |round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        |FROM c GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),
    "q72_length_histogram" ->
      """WITH t AS (SELECT
        |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok
        |FROM documents)
        |SELECT CAST(floor(ntok / 50.0) * 50 AS BIGINT) AS bucket_start,
        |CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(ntok) AS BIGINT) AS total_tokens
        |FROM t GROUP BY bucket_start ORDER BY bucket_start""".stripMargin.replace("\n", " "),
    "q73_cross_neardup" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM t a JOIN t b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE len(list_intersect(a.s, b.s)) = len(list_distinct(list_concat(a.s, b.s)))
        |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " "),
    "q74_drop_against_ref" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s FROM documents),
        |h AS (SELECT DISTINCT a.doc_id FROM t a JOIN t b
        |ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |AND len(list_intersect(a.s, b.s)) = len(list_distinct(list_concat(a.s, b.s))))
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM h)
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q75_canonicalize" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
        |list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s FROM documents),
        |e AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM tok a JOIN tok b
        |ON a.doc_id <> b.doc_id
        |AND len(list_intersect(a.s, b.s)) = len(list_distinct(list_concat(a.s, b.s)))),
        |reach(id, r) AS (SELECT doc_id, doc_id FROM documents
        |UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
        |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |rk AS (SELECT d.doc_id, lab.cluster_id, d.lang, d.n_chars,
        |row_number() OVER (PARTITION BY lab.cluster_id
        |ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |FROM documents d JOIN lab ON d.doc_id = lab.doc_id)
        |SELECT doc_id, cluster_id, lang, n_chars FROM rk WHERE rn = 1
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // hash-seeded weighted sampling: the XXH64 u values are bit-exact
    // across engines; the E–S keys -ln(u)/w go through each engine's libm
    // ln, so exact ties (identical (u, w)) rank identically but two
    // DISTINCT keys within ~1 ulp of each other could in principle order
    // differently at the 200-row cut (P ≈ n²·2⁻⁵² — accepted residual risk,
    // unlike the integer-threshold q64/q84/q85 which are provably exact)
    "q45_weighted_sample" -> {
      val (ctes, last) = xxhashUnifCtes("src", "doc_id", 7L, "x45_")
      s"""WITH src AS (SELECT doc_id, n_chars FROM documents WHERE n_chars > 0),
         |$ctes,
         |kt AS (SELECT doc_id, n_chars, -ln(u) / n_chars AS kk FROM $last),
         |st AS (SELECT doc_id, n_chars FROM kt ORDER BY kk, doc_id LIMIT 200)
         |SELECT doc_id, n_chars FROM st ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    // hash-seeded mix rebalance, exact: per-stratum fraction derivation
    // (inlined full-precision share literals) + XXH64 admission u < f
    "q64_match_distribution" -> {
      val (ctes, last) = xxhashUnifCtes("src", "doc_id", 11L, "x64_")
      s"""WITH src AS (SELECT doc_id, lang FROM documents),
         |$ctes,
         |$mixFracCtes
         |SELECT t.doc_id, t.lang FROM $last t JOIN fr ON t.lang = fr.lang
         |WHERE t.u < fr.f ORDER BY t.doc_id""".stripMargin.replace("\n", " ")
    },
    "q83_match_fractions" ->
      s"""WITH $mixFracCtes
         |SELECT lang, CAST(c AS BIGINT) AS available, round(f, 6) AS fraction
         |FROM fr ORDER BY lang""".stripMargin.replace("\n", " "),
    // SimHash pairs, exact: per-token XXH64 via the string CTE chain, the
    // same 64-bit majority vote (sum of ±1 per bit over DISTINCT tokens),
    // signature back to signed BIGINT, then a brute pair join with
    // bit_count(xor) ≤ 3 — pigeonhole banding has recall 1, so Spark's
    // banded plan computes exactly this relation
    "q23_dedup_simhash" -> {
      val (ctes, last) = xxhashStringCtes("tok_t", "xs_")
      val votes = (0 until 64)
        .map(b => s"sum(CASE WHEN (hash >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val simexpr = (0 until 64)
        .map(b => s"(CASE WHEN v$b > 0 THEN CAST(${uns(1L << b)} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)")
        .mkString(" + ")
      s"""WITH tok_t AS (SELECT doc_id,
         |unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
         |FROM documents),
         |$ctes,
         |vt AS (SELECT doc_id, $votes FROM $last GROUP BY doc_id),
         |ds AS (SELECT doc_id, CAST(CASE WHEN ($simexpr) >= 9223372036854775808
         |THEN ($simexpr) - $T64 ELSE ($simexpr) END AS BIGINT) AS sim FROM vt)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
         |FROM ds a JOIN ds b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")
    },
    // exact stratified sampling: u < per-stratum fraction. The threshold
    // comes via a JOIN against a 2-row VALUES table, NOT a single-table
    // WHERE on u: DuckDB pushes single-table predicates down through the
    // 23-step projection chain, substituting each step's definition (which
    // references its input 2-3 times) — exponential expression blowup that
    // OOMs the oracle. A join predicate stays above the chain. Strata
    // absent from the fractions map default to 0.0 (never admitted), which
    // the inner join reproduces by dropping them.
    "q85_sample_stratified" -> {
      val (ctes, last) = xxhashUnifCtes("src", "doc_id", 13L, "x85_")
      s"""WITH src AS (SELECT doc_id, lang FROM documents), $ctes,
         |fr(lang, f) AS (VALUES ('en', ${dbl(0.5)}), ('de', ${dbl(0.25)}))
         |SELECT t.doc_id, t.lang FROM $last t JOIN fr ON t.lang = fr.lang
         |WHERE t.u < fr.f ORDER BY t.doc_id""".stripMargin.replace("\n", " ")
    },
    // exact split assignment: XXH64 unif vs the Scala-computed cumulative
    // thresholds (inlined full-precision, same scanLeft addition order)
    "q84_assign_split" -> {
      val (ctes, last) = xxhashUnifCtes("src", "doc_id", 5L, "x84_")
      val cum = splitFractions.map(_._2).scanLeft(0.0)(_ + _).tail
      val arms = splitFractions.init.zip(cum.init)
        .map { case ((n, _), up) => s"WHEN u < ${dbl(up)} THEN '$n'" }.mkString(" ")
      s"""WITH src AS (SELECT doc_id, lang FROM documents), $ctes
         |SELECT doc_id, lang, CASE $arms ELSE '${splitFractions.last._1}' END AS split
         |FROM $last ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    // composition of the q39 (clean), q75 (canonicalize, score =
    // quality_score), and q50 (packing) oracle logic — integer window sum
    // output columns cast back to BIGINT (DuckDB sum → HUGEINT → float64)
    "q81_prepare_training" ->
      s"""WITH RECURSIVE $q81CoreCtes,
         |surv AS (SELECT doc_id, cluster_id, quality_score,
         |CAST(bpe_tokens AS BIGINT) AS n_tokens,
         |CAST(doc_id % 8 AS BIGINT) AS stream FROM rk WHERE rn = 1 AND bpe_tokens > 0),
         |$q81PackTail""".stripMargin.replace("\n", " "),
    // the flagship in its FULL configuration: clean → canonicalize →
    // hash-seeded lang rebalance (the q64 machinery, counting the
    // POST-canonicalization strata) → packing. Every stage exactly
    // SQL-expressible since round 8's XXH64 CTEs, so the one-call API is
    // now oracle-covered in both configs (VERDICT r8 #6).
    "q81b_prepare_rebalanced" -> {
      val (ctes, last) = xxhashUnifCtes("canon", "doc_id", 11L, "x81b_")
      s"""WITH RECURSIVE $q81CoreCtes,
         |canon AS (SELECT rk.doc_id, rk.cluster_id, rk.quality_score,
         |rk.bpe_tokens, d.lang FROM rk JOIN documents d ON d.doc_id = rk.doc_id
         |WHERE rk.rn = 1),
         |${mixFracCtesFrom("canon")},
         |$ctes,
         |bal AS (SELECT t.doc_id, t.cluster_id, t.quality_score, t.bpe_tokens
         |FROM $last t JOIN fr ON t.lang = fr.lang WHERE t.u < fr.f),
         |surv AS (SELECT doc_id, cluster_id, quality_score,
         |CAST(bpe_tokens AS BIGINT) AS n_tokens,
         |CAST(doc_id % 8 AS BIGINT) AS stream FROM bal WHERE bpe_tokens > 0),
         |$q81PackTail""".stripMargin.replace("\n", " ")
    },
    // q81's core chain feeding the q102/q103 DSIR machinery: the pool is
    // the canonical corpus (tg=0 side of the tagged gram union — the model
    // REFITS on post-canonicalization counts, exactly like the Spark
    // side), target stays the raw English slice, then the seeded Gumbel
    // draw and q50's packing tail
    "q105_prepare_dsir" -> {
      val (uctes, ulast) = xxhashUnifCtes("dsir_out", "doc_id", 23L, "xq5_")
      s"""WITH RECURSIVE $q81CoreCtes,
         |canon AS (SELECT rk.doc_id, rk.cluster_id, rk.quality_score,
         |rk.bpe_tokens, d.text FROM rk JOIN documents d ON d.doc_id = rk.doc_id
         |WHERE rk.rn = 1),
         |${dsirScoreCtesFrom("canon", dsirEnTarget)}, $uctes,
         |xq5_g AS (SELECT doc_id, s / ${dbl(1.0)} - ln(-ln(u)) AS gk FROM $ulast),
         |xq5_sel AS (SELECT doc_id FROM xq5_g ORDER BY gk DESC, doc_id LIMIT 150),
         |surv AS (SELECT c.doc_id, c.cluster_id, c.quality_score,
         |CAST(c.bpe_tokens AS BIGINT) AS n_tokens,
         |CAST(c.doc_id % 8 AS BIGINT) AS stream FROM canon c
         |JOIN xq5_sel ON c.doc_id = xq5_sel.doc_id WHERE c.bpe_tokens > 0),
         |$q81PackTail""".stripMargin.replace("\n", " ")
    }
  )

  def oracleSql: Map[String, String] = {
    // the pooled single-scan spellings are DEFINED to produce the same
    // relation as their recompute twins (spec-pinned bit-for-bit), so
    // they share the twin's oracle verbatim — the driver then certifies
    // the cached-pool path hash-exact at both SFs on its own row
    val pooledTwins = Map(
      "q122b_ppl_buckets_pooled" -> "q122_ppl_buckets",
      "q125b_backoff_ppl_pooled" -> "q125_backoff_ppl",
      "q126b_ccnet_buckets_pooled" -> "q126_ccnet_buckets")
    oracleSqlBase ++ pooledTwins.map { case (to, from) => to -> oracleSqlBase(from) }
  }

  /** Shared CTE prefix of the q81/q81b oracles: clean (q39) →
    * token-set-identity clusters via recursive reachability (q49's shape)
    * → per-cluster best-quality ranking (q75). Ends at `rk`
    * (doc_id, cluster_id, quality_score, bpe_tokens, rn). */
  private def q81CoreCtes: String = {
    val featSql =
      s"""SELECT * FROM ($textAnalyzeSql)
         |WHERE quality_score >= 0.5 AND ws_tokens >= 20""".stripMargin
        .replace("\n", " ")
        .replace("FROM documents", keepFirstDocsSql)
    s"""feat AS ($featSql),
       |kept AS (SELECT doc_id, quality_score, bpe_tokens FROM feat),
       |tok AS (SELECT d.doc_id,
       |list_distinct(regexp_split_to_array(trim(d.text), '\\s+')) AS s
       |FROM documents d JOIN kept k ON d.doc_id = k.doc_id),
       |e AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM tok a JOIN tok b
       |ON a.doc_id <> b.doc_id
       |AND len(list_intersect(a.s, b.s)) = len(list_distinct(list_concat(a.s, b.s)))),
       |reach(id, r) AS (SELECT doc_id, doc_id FROM kept
       |UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |rk AS (SELECT k.doc_id, lab.cluster_id, k.quality_score, k.bpe_tokens,
       |row_number() OVER (PARTITION BY lab.cluster_id
       |ORDER BY k.quality_score DESC, k.doc_id) AS rn
       |FROM kept k JOIN lab ON k.doc_id = lab.doc_id)""".stripMargin.replace("\n", " ")
  }

  /** Shared packing tail (q50's window over `surv`) + final projection. */
  private def q81PackTail: String =
    s"""c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
       |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off FROM surv)
       |SELECT doc_id, cluster_id, quality_score, n_tokens, stream,
       |CAST(off // 2048 AS BIGINT) AS pack,
       |CAST(stream * 4294967296 + off // 2048 AS BIGINT) AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")
}
