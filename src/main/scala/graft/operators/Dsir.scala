package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169, public method): pick raw-pool examples that
  * look like a small TARGET corpus by importance weight under two
  * hashed-n-gram bag-of-words multinomials,
  *
  *   log w(x) = log p_target(x) − log p_raw(x)
  *            = Σ_b c_b(x) · r_b,
  *   r_b = ln((t_b + α)/(T + αm)) − ln((q_b + α)/(Q + αm)),
  *
  * with c_b(x) the example's multiset count of hashed unigrams +
  * bigrams in bucket b, and Laplace-α smoothing over the m buckets.
  * Selection Gumbel-resamples by weight (the paper's resampling,
  * made deterministic with the q140 md5-uniform discipline).
  *
  * Engine shape at 100 TB:
  *  - the FIT is two corpus scans, each partial-aggregated into at
  *    most m (bucket, count) rows before its only shuffle — the
  *    exchange carries (bucket, partial count), never grams or text —
  *    and each collected to the driver (≤ m rows by construction).
  *    The driver zero-fills both count vectors and computes the
  *    smoothed ratio table with `StrictMath.log` (what Spark's `log`
  *    evaluates, so the table is bit-identical to the column-math
  *    fit); [[logRatioTable]] is therefore EAGER and returns the
  *    table as a local relation. No range(m) join, no totals
  *    aggregate, no cross join.
  *  - the per-bucket log-ratio table is m rows (m defaults to 2¹³;
  *    hard-capped so it stays a bounded driver read). The WEIGHTING
  *    pass collects it once into one array LITERAL (from the local
  *    relation: no job) and scores the corpus in a single codegen'd
  *    pass — no join, no shuffle, no per-doc gram explosion; the
  *    hashing-trick point of the paper is exactly that the model
  *    stays O(m) however big the corpora.
  *  - selection is a global top-n on (key, id) — TakeOrderedAndProject,
  *    never a full sort.
  *
  * Hashing defaults to the md5 → 60-bit → mod-m discipline of
  * [[TextFunctions.fingerprintPortable]] (q45), so every stage —
  * counts, smoothing, weights, the Gumbel draw — is SQL-replayable
  * and q221/q222/q226 run under the full DuckDB hash gate. The
  * production-scale `hash = "xxhash64"` family (r13) skips the
  * per-gram hex string; fit and scoring must use ONE family — the
  * persisted-model stamps ([[saveModel]]/[[loadModel]]) enforce it.
  *
  * The fitted model is driver-state by nature (like a PQ codebook);
  * [[saveModel]] persists the m-row table under the `__fmt` + params
  * index discipline so selection cycles REUSE a fit instead of
  * re-scanning target and pool per run (q226 reproduces q222's
  * oracle from a persisted model; a stale or mismatched model file
  * is refused on load, because scoring under a different (m, alpha,
  * hash) than the fit would be silently WRONG, not just slow).
  */
object Dsir {

  /** m is a driver-side array of doubles during weighting; cap it as
    * a bounded read (2²⁰ buckets = 8 MB — far past the paper's 10⁴). */
  private val MaxBuckets = 1 << 20

  private def requireM(m: Int): Unit =
    require(m >= 2 && m <= MaxBuckets,
      s"numBuckets must be in [2, $MaxBuckets], got $m")

  private[graft] val HashFamilies = Set("md5", "xxhash64")

  private def requireHash(hash: String): Unit =
    require(HashFamilies(hash),
      s"hash must be one of ${HashFamilies.mkString("/")}, got $hash")

  /** gram → bucket in [0, m). Two families:
    *  - `"md5"` (default): md5 hex prefix → 60-bit int → mod m — the
    *    q45 portable-hash chain, SQL-replayable, so the FULL gate
    *    (q221/q222/q226) covers the shipped arithmetic.
    *  - `"xxhash64"`: one 8-byte non-cryptographic hash per gram —
    *    the at-scale choice (no hex string materialized per gram;
    *    ScaleSmoke's dsir section A/Bs the scan cost). Same model
    *    quality (any uniform hash family serves the hashing trick —
    *    Xie 2023 §2); DsirSpec pins selection-set equality of the
    *    two families on a collision-divergent fixture.
    * Both stay inside whole-stage codegen. */
  private def bucketOf(g: Column, m: Int, hash: String): Column = hash match {
    case "md5" =>
      // native kernel, value-identical to the SQL chain
      // conv(substring(md5(g),1,15),16,10).cast("long") (Md5PrefixSpec)
      pmod(graft.expressions.TextExpressions.md5Prefix(g, 15),
        lit(m.toLong))
    case "xxhash64" => pmod(xxhash64(g), lit(m.toLong))
  }

  /** per-row hashed unigram+bigram bucket MULTISET (array<long>) —
    * counts, not a shingle set: the multinomial weights repeated
    * grams, per the paper. r19: one native kernel pass
    * ([[graft.expressions.GramExpressions.HashedGramBuckets]])
    * instead of the interpreted HOF chain; value-identical
    * (GramExpressionsSpec pins it against [[bucketArrHof]]). */
  private[graft] def bucketArr(textCol: Column, m: Int,
                               hash: String = "md5"): Column =
    graft.expressions.GramExpressions.hashedGramBuckets(
      TextFunctions.tokens(textCol), m, xx = hash == "xxhash64")

  /** column-math formulation of [[bucketArr]] — semantic spec for
    * the native kernel (equivalence pinned in GramExpressionsSpec;
    * test-only). */
  private[graft] def bucketArrHof(textCol: Column, m: Int,
                                  hash: String = "md5"): Column =
    TextFunctions.bound(TextFunctions.tokens(textCol)) { t =>
      val bigrams = when(size(t) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(t) - 2),
          i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      transform(concat(t, bigrams), g => bucketOf(g, m, hash))
    }

  /** One corpus's gram count per bucket, zero-filled to all m
    * buckets on the driver. r18 opt: the fit's gram explosion runs
    * on a spread projection (guide §2.5 — a single-file scan is ONE
    * partition; md5-per-gram hashing would serialize) and partial-
    * aggregates to ≤ m rows before the shuffle; the collect is
    * bounded by m ([[MaxBuckets]]). */
  private def bucketCounts(df: DataFrame, textCol: String, m: Int,
                           hash: String): Array[Long] = {
    val cnt = new Array[Long](m)
    Partitioning.spread(df.select(col(textCol).as("__txt")))
      .select(explode(bucketArr(col("__txt"), m, hash)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .collect()
      .foreach(r => if (!r.isNullAt(0)) cnt(r.getLong(0).toInt) = r.getLong(1))
    cnt
  }

  /** corpus bucket counts, ALL m buckets zero-filled (the smoothing
    * denominator needs every bucket to exist exactly once). Eager:
    * one scan, returned as an m-row local relation. */
  def hashedNgramCounts(df: DataFrame, textCol: String, m: Int,
                        hash: String = "md5"): DataFrame = {
    requireM(m)
    requireHash(hash)
    val cnt = bucketCounts(df, textCol, m, hash)
    df.sparkSession.createDataFrame(
        Seq.tabulate(m)(b => (b.toLong, cnt(b))))
      .toDF("bucket", "cnt")
  }

  /** m-row (bucket, log_ratio) table from a target corpus and the
    * raw pool. α > 0 keeps unseen buckets finite on both sides.
    * Eager: two scans, each collected to ≤ m rows; the table is
    * computed on the driver with the column-math fit's exact
    * arithmetic (double `+`, `/`, `StrictMath.log`, in its order)
    * and returned as a local relation. */
  def logRatioTable(target: DataFrame, raw: DataFrame, textCol: String,
                    m: Int, alpha: Double = 1.0,
                    hash: String = "md5"): DataFrame = {
    requireM(m)
    require(alpha > 0, s"alpha must be positive, got $alpha")
    requireHash(hash)
    val t = bucketCounts(target, textCol, m, hash)
    val r = bucketCounts(raw, textCol, m, hash)
    val (tt, rt) = (t.sum, r.sum)
    val am = alpha * m
    target.sparkSession.createDataFrame(Seq.tabulate(m) { b =>
        (b.toLong, StrictMath.log((t(b) + alpha) / (tt + am))
          - StrictMath.log((r(b) + alpha) / (rt + am)))
      })
      .toDF("bucket", "log_ratio")
  }

  /** Score `df`: adds `log_weight` = Σ_grams log_ratio[bucket(gram)].
    * Collects the m-row ratio table once (bounded by [[MaxBuckets]])
    * and scores in one shuffle-free codegen pass. */
  def importanceWeights(df: DataFrame, textCol: String,
                        ratios: DataFrame, m: Int,
                        hash: String = "md5"): DataFrame = {
    requireM(m)
    requireHash(hash)
    val arr = new Array[Double](m)
    val rows = ratios.select(col("bucket").cast("long"),
      col("log_ratio").cast("double")).collect()
    require(rows.length == m,
      s"ratio table has ${rows.length} rows, expected m=$m " +
        "(build it with logRatioTable over the same m)")
    rows.foreach(r => arr(r.getLong(0).toInt) = r.getDouble(1))
    // null text scores 0.0 like empty text does (a null gram array
    // would otherwise null the fold and make the row unselectable
    // under a NULLS-LAST sort — divergent from the SQL replay's
    // coalesce and from the empty-string row one byte away).
    // r19: the fold is one native kernel pass (BucketScore —
    // sequential sum in array order, bit-identical to the aggregate
    // + element_at fold; GramExpressionsSpec pins it).
    df.withColumn("log_weight",
      coalesce(graft.expressions.GramExpressions.bucketScore(
        bucketArr(col(textCol), m, hash), arr), lit(0.0)))
  }

  /** Deterministic Gumbel-top-n resampling by importance weight —
    * the paper's sampler with md5-derived uniforms (q140's
    * discipline): key = round(log_w, 6) + Gumbel(u(id)), u(id) from
    * md5(seed ":" id); the rounding pins the FP boundary so the
    * draw replays bit-stably in SQL. Global top-n on (key desc, id)
    * → TakeOrderedAndProject. */
  def resampleGumbel(weighted: DataFrame, idCol: String,
                     weightCol: String, n: Int,
                     seed: Long = 42L): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val u = (graft.expressions.TextExpressions.md5Prefix(
        concat_ws(":", lit(seed.toString), col(idCol).cast("string")), 8)
        .cast("double")
      + lit(0.5)) / lit(4294967296.0)
    val key = round(col(weightCol), 6) - log(-log(u))
    weighted.orderBy(key.desc, col(idCol).asc).limit(n)
  }

  /** Model FORMAT version stamped as `__fmt` into every persisted
    * ratio row (the PqModelFormat discipline): params alone cannot
    * detect an incompatible layout change (bucket chain, smoothing
    * algebra), and a stale model scores WRONG, not slow. v1 =
    * (bucket, log_ratio) rows, md5/xxhash64 bucket chains as of
    * r13. */
  private[graft] val DsirModelFormat = 1

  /** Persist a fitted ratio table: m rows of (bucket, log_ratio)
    * with `__fmt` + the fit params (m, alpha, hash family) stamped
    * constant on every row (free under parquet RLE, validated on
    * load). */
  def saveModel(ratios: DataFrame, path: String, m: Int,
                alpha: Double, hash: String = "md5"): Unit = {
    requireM(m)
    requireHash(hash)
    ratios.select(col("bucket").cast("long").as("bucket"),
        col("log_ratio").cast("double").as("log_ratio"))
      .withColumn("__fmt", lit(DsirModelFormat))
      .withColumn("__m", lit(m))
      .withColumn("__alpha", lit(alpha))
      .withColumn("__hash", lit(hash))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a ratio table persisted by [[saveModel]], refusing format
    * or param mismatches: the caller states the (m, alpha, hash) it
    * will score with, and a model fit under ANY other combination
    * throws with a refit message — the exact trap `__fmt` versioning
    * exists for, keyed here on the three knobs that silently change
    * every weight if they drift between fit and scoring. Row
    * population is validated to exactly m (importanceWeights would
    * catch a short table later, but a load-time message names the
    * FILE, not the symptom). */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String,
                m: Int, alpha: Double,
                hash: String = "md5"): DataFrame = {
    requireM(m)
    requireHash(hash)
    val df = spark.read.parquet(path)
    val need = Seq("bucket", "log_ratio", "__fmt", "__m", "__alpha", "__hash")
    val missing = need.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"not a DSIR model file: missing columns $missing — rebuild " +
        s"with Dsir.saveModel (format v$DsirModelFormat)")
    // r19: one collect instead of three jobs (stamps distinct, row
    // count, and the scorer's own collect). The table is bounded by
    // requireM (m ≤ 2²⁰ — the same bounded-driver-read cap the scorer
    // already relies on), so validating the collected rows locally
    // and returning them as a LocalRelation keeps every check AND
    // makes the downstream importanceWeights collect job-free.
    val rows = df.select(col("bucket").cast("long"),
      col("log_ratio").cast("double"), col("__fmt").cast("int"),
      col("__m").cast("int"), col("__alpha").cast("double"),
      col("__hash").cast("string")).collect()
    val stamps = rows.map(r => (r.getInt(2), r.getInt(3),
      r.getDouble(4), r.getString(5))).distinct
    require(stamps.length == 1,
      s"DSIR model stamps not constant (${stamps.length} distinct) — " +
        "the file mixes fits; rebuild with Dsir.saveModel")
    val (fmt, fm, fa, fh) = stamps(0)
    require(fmt == DsirModelFormat,
      s"DSIR model format $fmt does not match this " +
        s"library's v$DsirModelFormat — refit and save again (an " +
        "incompatible layout would score WRONG, not just miss)")
    require(fm == m && fa == alpha && fh == hash,
      s"DSIR model was fit with (m=$fm, alpha=$fa, hash=$fh) but the " +
        s"caller will score with (m=$m, alpha=$alpha, hash=$hash) — " +
        "every weight would silently change; refit or fix the params")
    require(rows.length == m,
      s"DSIR model file has ${rows.length} rows, expected m=$m — " +
        "truncated write? rebuild with Dsir.saveModel")
    import spark.implicits._
    spark.createDataFrame(rows.map(r =>
        (r.getLong(0), r.getDouble(1))).toSeq)
      .toDF("bucket", "log_ratio")
  }
}
