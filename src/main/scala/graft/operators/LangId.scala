package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Language identification from raw text (DRIVER-EXT, SURVEY.md
  * §2.12) — the step every CCNet/C4-style pipeline runs immediately
  * after HTML extraction (CCNet, Wenzek et al. 2020 §3.1 runs a
  * fastText language classifier; C4, Raffel et al. 2020 §2.2 runs
  * langdetect): the corpus arrives with NO `lang` column, and every
  * downstream rule (stopword lists, quality thresholds, per-language
  * dedup) is language-scoped. Clean-room char-n-gram Naive Bayes in
  * the Cavnar–Trenkle / Dunning shape (Dunning 1994, "Statistical
  * Identification of Language": byte/char n-gram multinomial models
  * with add-alpha smoothing; the fastText linear head over char
  * n-grams, Joulin et al. 2017, is the same serving arithmetic) —
  * trainABLE, not pre-trained: ship-a-frozen-binary is the one thing
  * a clean-room library cannot do, so the operator trains on any
  * labeled (text, lang) table and serves at corpus scale.
  *
  * Features: the char n-gram MULTISET (lengths `nMin..nMax`,
  * default 2..3) of `lower(text)`, hashed to `m` buckets on the
  * engine's portable md5 chain (the q45 discipline — hex prefix →
  * 60-bit int → mod m), so the ENTIRE train→classify pipeline
  * replays in ANSI SQL and the gate hashes the shipped arithmetic.
  * Model: per (lang, bucket), log((cnt + α) / (tot_lang + α·m)) —
  * stored SPARSE (observed buckets only) plus one `bucket = -1` row
  * per language carrying the unseen-bucket smoothing floor
  * log(α / (tot_lang + α·m)): at m = 2^20 a dense model would be
  * m×L rows of mostly-floor values; sparse keeps the persisted
  * model proportional to observed vocabulary.
  *
  * Shape at 100 TB: training is one explode + partial-aggregated
  * groupBy (the corpus never reshuffles by anything but the gram
  * bucket) whose ≤ langs × m rows are collected and turned into the
  * model on the driver; CLASSIFY is zero shuffles and zero joins —
  * the model collects to the driver (bounded at train and serve
  * time: langs × m ≤ [[LangId.MaxServedCells]] cells), becomes
  * per-language literal arrays, and every document scores in one
  * whole-stage-codegen projection over the scan: score(l) =
  * Σ_grams log_prob[l][bucket(gram)], argmax with ties to the
  * lexicographically largest language (array_max over (score, lang)
  * structs — deterministic, SQL-replayable). Prediction is the
  * per-doc argmax of a shared gram multiset, so no per-language
  * length normalization is needed.
  */
object LangId {

  /** bucket-count ceiling (matches the DSIR hashing-trick bound) */
  val MaxBuckets: Int = 1 << 20

  /** classify() materializes langs × m doubles as literals on the
    * driver; refuse models past this (lower m or shard languages) */
  val MaxServedCells: Long = 1L << 22

  /** model format v1: sparse (lang, bucket, log_prob) + bucket = -1
    * floor rows, md5 bucket chain, char n-grams of lower(text) */
  private[graft] val LangIdModelFormat = 1

  private def requireM(m: Int): Unit =
    require(m >= 2 && m <= MaxBuckets,
      s"numBuckets must be in [2, $MaxBuckets], got $m")

  private def requireN(nMin: Int, nMax: Int): Unit =
    require(nMin >= 1 && nMin <= nMax && nMax <= 8,
      s"char n-gram lengths must satisfy 1 <= nMin <= nMax <= 8, " +
        s"got [$nMin, $nMax]")

  /** char n-gram MULTISET (array<string>, lengths nMin..nMax) over
    * lower(text) — counts, not a shingle set: repeated grams are
    * repeated multinomial evidence (Dunning 1994 §4). Null/short
    * text yields an empty array. The lowered text is BOUND (no CSE
    * inside HOF lambdas) so the per-gram substr reads an evaluated
    * value instead of re-lowering the document per gram. */
  private[graft] def charGrams(text: Column, nMin: Int,
                               nMax: Int): Column =
    TextFunctions.bound(lower(text)) { t =>
      val per = (nMin to nMax).map { n =>
        // when() guards the sequence: length < n would DESCEND
        when(length(t) >= n,
          transform(sequence(lit(1), length(t) - (n - 1)),
            i => substr(t, i, lit(n))))
          .otherwise(array().cast("array<string>"))
      }
      if (per.size == 1) per.head else concat(per: _*)
    }

  /** gram → bucket in [0, m): the engine's portable md5 chain (hex
    * prefix → 60-bit int → mod m), SQL-replayable so the oracle
    * covers the shipped hashing. */
  private def bucketOf(g: Column, m: Int): Column =
    // native kernel, value-identical to the SQL chain
    // conv(substring(md5(g),1,15),16,10).cast("long") (Md5PrefixSpec)
    pmod(graft.expressions.TextExpressions.md5Prefix(g, 15),
      lit(m.toLong))

  /** r19: one native kernel pass (CharGramBuckets — substringSQL +
    * streaming digest per gram instead of the interpreted charGrams
    * transform + md5 chain). Null text maps to an EMPTY bucket array
    * via the coalesce, exactly like charGrams' bound(lower(null))
    * path; value-identity vs [[bucketArrHof]] is pinned in
    * GramExpressionsSpec. */
  private[graft] def bucketArr(text: Column, m: Int, nMin: Int,
                               nMax: Int): Column =
    coalesce(
      graft.expressions.GramExpressions.charGramBuckets(
        lower(text), nMin, nMax, m),
      array().cast("array<long>"))

  /** column-math formulation of [[bucketArr]] — semantic spec for
    * the native kernel (equivalence pinned in GramExpressionsSpec;
    * test-only). */
  private[graft] def bucketArrHof(text: Column, m: Int, nMin: Int,
                                  nMax: Int): Column =
    transform(charGrams(text, nMin, nMax), g => bucketOf(g, m))

  /** [[classify]] serves langs × m doubles as literals; a model past
    * [[MaxServedCells]] is refused at train time and at serve time
    * with this one message. */
  private def requireServable(nLangs: Int, m: Int): Unit =
    require(nLangs.toLong * m <= MaxServedCells,
      s"langid model too large to serve as literals: $nLangs " +
        s"langs x $m buckets > $MaxServedCells cells — lower m")

  /** Fit the model: (lang, bucket, log_prob, __fmt, __m, __nmin,
    * __nmax) rows — observed buckets sparse, plus one `bucket = -1`
    * floor row per language with the unseen-bucket log-probability.
    * The fit params ride EVERY row as constant stamps (free under
    * parquet RLE) so serving can refuse a train/serve param mismatch
    * in BOTH directions — a model trained under a SMALLER m than the
    * serve-time m would otherwise pass the bucket < m range check
    * and silently hash grams into buckets the model never saw
    * (ADVICE r17). Rows with null text or null lang are ignored.
    *
    * EAGER driver build: one explode + partial-agg groupBy, whose
    * (lang, bucket, count) rows are collected — bounded: a servable
    * model has at most langs × m ≤ [[MaxServedCells]] of them, so at
    * most MaxServedCells + 1 rows are taken, and a model [[classify]]
    * would refuse is refused here with the same message. Totals,
    * observed rows, floor rows and stamps are computed on the driver
    * with the column-math fit's exact arithmetic (double `+`, `/`,
    * `StrictMath.log` — what Spark's `log` evaluates) and returned as
    * a local relation, so the gram explosion runs exactly once and
    * serving collects the model without a job. */
  def train(df: DataFrame, textCol: String, langCol: String,
            m: Int = 4096, alpha: Double = 1.0,
            nMin: Int = 2, nMax: Int = 3): DataFrame = {
    requireM(m); requireN(nMin, nMax)
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val cnt = df
      .filter(col(langCol).isNotNull && col(textCol).isNotNull)
      .select(col(langCol).cast("string").as("lang"),
        explode(bucketArr(col(textCol), m, nMin, nMax)).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .limit((MaxServedCells + 1).toInt)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every language holds <= m buckets, so when the take bound was
    // hit the languages already seen fail this check too
    val tot = cnt.groupMapReduce(_._1)(_._3)(_ + _)
    requireServable(tot.size, m)
    val am = alpha * m
    val observed = cnt.map { case (l, b, c) =>
      (l, b, StrictMath.log((c + alpha) / (tot(l) + am))) }
    val floor = tot.toSeq.sortBy(_._1).map { case (l, t) =>
      (l, -1L, StrictMath.log(alpha / (t + am))) }
    df.sparkSession.createDataFrame((observed ++ floor).toSeq.map {
        case (l, b, p) => (l, b, p, LangIdModelFormat, m, nMin, nMax) })
      .toDF("lang", "bucket", "log_prob", "__fmt", "__m", "__nmin",
        "__nmax")
  }

  /** collect + validate a [[train]] model into per-language dense
    * arrays (floor-filled), bounded by [[MaxServedCells]]. The
    * (m, nMin, nMax) stamps on every model row must equal the
    * serve-time params — the stamp catches the trained-smaller-m
    * case the bucket < m range check cannot (ADVICE r17). */
  private def collectModel(model: DataFrame, m: Int, nMin: Int,
                           nMax: Int)
  : (Seq[String], Map[String, Array[Double]]) = {
    val rows = model.select(col("lang").cast("string"),
      col("bucket").cast("long"), col("log_prob").cast("double"),
      col("__fmt").cast("int"), col("__m").cast("int"),
      col("__nmin").cast("int"), col("__nmax").cast("int")).collect()
    require(rows.nonEmpty, "langid: empty model")
    rows.foreach(r => require(!r.isNullAt(3) &&
      r.getInt(3) == LangIdModelFormat,
      s"langid model format ${if (r.isNullAt(3)) "null" else r.getInt(3)} " +
        s"does not match this library's v$LangIdModelFormat — refit " +
        "with LangId.train"))
    rows.foreach(r => require(!r.isNullAt(4) && !r.isNullAt(5) &&
      !r.isNullAt(6) && r.getInt(4) == m && r.getInt(5) == nMin &&
      r.getInt(6) == nMax,
      s"langid model params (m=${if (r.isNullAt(4)) "null" else r.getInt(4)}, " +
        s"n=[${if (r.isNullAt(5)) "null" else r.getInt(5)}," +
        s"${if (r.isNullAt(6)) "null" else r.getInt(6)}]) do not " +
        s"match the serve-time (m=$m, n=[$nMin,$nMax]) — scoring " +
        "under drifted params is wrong, not slow; refit or pass the " +
        "model's own params"))
    val langs = rows.map(_.getString(0)).distinct.sorted.toSeq
    require(langs.length >= 2,
      s"langid needs >= 2 languages, model has ${langs.length}")
    requireServable(langs.length, m)
    val floors = rows.filter(_.getLong(1) == -1L)
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    langs.foreach(l => require(floors.contains(l),
      s"langid model missing the bucket = -1 smoothing-floor row " +
        s"for language '$l' — not a LangId.train output"))
    val dense: Map[String, Array[Double]] =
      langs.map(l => l -> Array.fill(m)(floors(l))).toMap
    rows.foreach { r =>
      val b = r.getLong(1)
      if (b >= 0) {
        require(b < m, s"langid model bucket $b >= m=$m — the model " +
          "was trained under a different m; refit or pass its m")
        dense(r.getString(0))(b.toInt) = r.getDouble(2)
      }
    }
    (langs, dense)
  }

  /** struct(l = argmax language, m = rounded margin) for ONE text
    * expression — null for null/empty text. The scoring core shared
    * by [[classify]] (whole documents) and [[lineLangs]] /
    * [[keepLinesInLang]] (per line). */
  private def predOver(text: Column, langs: Seq[String],
                       dense: Map[String, Array[Double]], m: Int,
                       nMin: Int, nMax: Int): Column =
    TextFunctions.bound(bucketArr(text, m, nMin, nMax)) { bs =>
      // r19: per-language score = one native BucketScore pass
      // (sequential sum in array order — bit-identical to the
      // aggregate + element_at fold; GramExpressionsSpec)
      val scored = langs.map { l =>
        struct(
          graft.expressions.GramExpressions.bucketScore(bs, dense(l))
            .as("s"),
          lit(l).as("l"))
      }
      // sort desc by (score, lang): element 1 = argmax (ties to the
      // lexicographically largest language), element 2 = runner-up.
      // BOUND: the sorted array feeds two fields — unbound it would
      // re-score every language per field (no CSE inside lambdas)
      TextFunctions.bound(
        sort_array(array(scored: _*), asc = false)) { sorted =>
        when(size(bs) > 0, struct(
          element_at(sorted, 1).getField("l").as("l"),
          round(element_at(sorted, 1).getField("s") -
            element_at(sorted, 2).getField("s"), 6).as("m")))
      }
    }

  /** Adds `out` (predicted language; null for null/empty text) and
    * `marginOut` (best minus second-best log-score, rounded to 6 —
    * the CCNet-style confidence knob; null with `out`) to every row.
    * The model collects once (bounded by [[MaxServedCells]]) and
    * every row scores in ONE shuffle-free codegen projection. `m`,
    * `nMin`, `nMax` must match training — bucket ids past m are
    * refused as the train/serve mismatch they are. */
  def classify(df: DataFrame, textCol: String, model: DataFrame,
               m: Int = 4096, nMin: Int = 2, nMax: Int = 3,
               out: String = "lang",
               marginOut: String = "lang_margin"): DataFrame = {
    requireM(m); requireN(nMin, nMax)
    val (langs, dense) = collectModel(model, m, nMin, nMax)
    df.withColumn("__langid",
        predOver(col(textCol), langs, dense, m, nMin, nMax))
      .withColumn(out, col("__langid").getField("l"))
      .withColumn(marginOut, col("__langid").getField("m"))
      .drop("__langid")
  }

  /** PER-LINE language id (the CCNet §3.1 refinement: web pages mix
    * languages — boilerplate in one, content in another — so LID
    * runs per paragraph, not per page). Adds `out` =
    * array<struct<line, lang, margin>> over the `\r?\n` lines of
    * `textCol` (lang/margin null for blank lines). Still ZERO
    * shuffles and zero joins — the per-line argmax runs inside one
    * codegen projection's line transform; null text behaves like
    * empty text (one blank entry with null lang/margin — split's
    * one-empty-line contract). */
  def lineLangs(df: DataFrame, textCol: String, model: DataFrame,
                m: Int = 4096, nMin: Int = 2, nMax: Int = 3,
                out: String = "line_langs"): DataFrame = {
    requireM(m); requireN(nMin, nMax)
    val (langs, dense) = collectModel(model, m, nMin, nMax)
    df.withColumn(out,
      transform(split(coalesce(col(textCol), lit("")), "\r?\n"),
        l => TextFunctions.bound(
          predOver(l, langs, dense, m, nMin, nMax)) { p =>
          struct(l.as("line"), p.getField("l").as("lang"),
            p.getField("m").as("margin"))
        }))
  }

  /** Keep only the `\r?\n` lines of `textCol` whose per-line argmax
    * is `lang`, re-joined with '\n' IN PLACE (the CCNet per-language
    * corpus split: strip the other-language boilerplate, keep the
    * target-language content). Blank lines carry no evidence and are
    * dropped; null text → ''. Zero shuffles — one line transform in
    * one codegen projection. */
  def keepLinesInLang(df: DataFrame, textCol: String,
                      model: DataFrame, lang: String,
                      m: Int = 4096, nMin: Int = 2,
                      nMax: Int = 3): DataFrame = {
    requireM(m); requireN(nMin, nMax)
    val (langs, dense) = collectModel(model, m, nMin, nMax)
    require(langs.contains(lang),
      s"langid model has no language '$lang' (has: " +
        s"${langs.mkString(", ")})")
    df.withColumn(textCol,
      array_join(
        filter(split(coalesce(col(textCol), lit("")), "\r?\n"),
          l => predOver(l, langs, dense, m, nMin, nMax)
            .getField("l") === lit(lang)),
        "\n"))
  }

  /** Persist a fitted model: sparse rows + floor rows with `__fmt`
    * and the fit params stamped constant on every row (free under
    * parquet RLE, validated on load — the DSIR discipline: a model
    * scored under drifted params is WRONG, not slow). */
  def saveModel(model: DataFrame, path: String, m: Int,
                alpha: Double, nMin: Int = 2, nMax: Int = 3): Unit = {
    requireM(m); requireN(nMin, nMax)
    // the model's own train-time stamps must agree with the caller's
    // claim — persisting a wrong param stamp would defeat the load-
    // time validation entirely
    val claimed = model.select(col("__m").cast("int"),
      col("__nmin").cast("int"), col("__nmax").cast("int"))
      .distinct().collect()
    require(claimed.length == 1 && claimed(0).getInt(0) == m &&
      claimed(0).getInt(1) == nMin && claimed(0).getInt(2) == nMax,
      s"saveModel params (m=$m, n=[$nMin,$nMax]) do not match the " +
        "model's own train-time stamps — pass the params the model " +
        "was trained with")
    model.select(col("lang").cast("string").as("lang"),
        col("bucket").cast("long").as("bucket"),
        col("log_prob").cast("double").as("log_prob"),
        col("__fmt").cast("int").as("__fmt"),
        col("__m").cast("int").as("__m"))
      .withColumn("__alpha", lit(alpha))
      .withColumn("__nmin", lit(nMin))
      .withColumn("__nmax", lit(nMax))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[saveModel]], refusing format or
    * param mismatches against the (m, alpha, nMin, nMax) the caller
    * will classify with. */
  def loadModel(spark: SparkSession, path: String, m: Int,
                alpha: Double, nMin: Int = 2,
                nMax: Int = 3): DataFrame = {
    requireM(m); requireN(nMin, nMax)
    val df = spark.read.parquet(path)
    val need = Seq("lang", "bucket", "log_prob", "__fmt", "__m",
      "__alpha", "__nmin", "__nmax")
    val missing = need.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"not a LangId model file: missing columns $missing — rebuild " +
        s"with LangId.saveModel (format v$LangIdModelFormat)")
    val stamps = df.select(col("__fmt"), col("__m"), col("__alpha"),
      col("__nmin"), col("__nmax")).distinct().collect()
    require(stamps.length == 1,
      s"LangId model stamps not constant (${stamps.length} distinct)" +
        " — the file mixes fits; rebuild with LangId.saveModel")
    val st = stamps(0)
    require(st.getInt(0) == LangIdModelFormat,
      s"LangId model format ${st.getInt(0)} does not match this " +
        s"library's v$LangIdModelFormat — refit and save again")
    require(st.getInt(1) == m && st.getDouble(2) == alpha &&
      st.getInt(3) == nMin && st.getInt(4) == nMax,
      s"LangId model params (m=${st.getInt(1)}, alpha=${st.getDouble(2)}, " +
        s"n=[${st.getInt(3)},${st.getInt(4)}]) do not match the " +
        s"requested (m=$m, alpha=$alpha, n=[$nMin,$nMax]) — a model " +
        "scored under drifted params is wrong, not slow; refit")
    df.select(col("lang"), col("bucket"), col("log_prob"),
      col("__fmt"), col("__m"), col("__nmin"), col("__nmax"))
  }
}
