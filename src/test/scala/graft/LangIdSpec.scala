package graft

import org.apache.spark.sql.functions._
import graft.operators.{CurationHof, LangId}

/** Language identification (r17) — held-out accuracy on separable
  * planted languages, null/empty handling, the char-gram multiset,
  * model shape (sparse + smoothing floor), save/load refusals, the
  * deterministic tie-break, and the shuffle-free serving plan. */
class LangIdSpec extends SparkTestBase {
  import spark.implicits._

  private val pools = Map(
    "en" -> Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dogs", "while", "night"),
    "fr" -> Seq("le", "renard", "brun", "saute", "chien", "paresseux",
      "pendant", "nuit", "toujours", "belle"),
    "de" -> Seq("der", "schnelle", "braune", "fuchs", "springt",
      "faulen", "hund", "immer", "nacht", "zwischen"))

  private def mkText(lang: String, seed: Int): String =
    (0 until 25).map(j => pools(lang)((seed + j) % 10)).mkString(" ")

  private lazy val labeled = (0 until 120).map { i =>
    val lang = Seq("en", "fr", "de")(i % 3)
    (i.toLong, lang, mkText(lang, i))
  }.toDF("id", "lang", "text")

  private lazy val model =
    LangId.train(labeled, "text", "lang", m = 512)

  test("held-out accuracy 1.0 on separable languages; positive margin") {
    val test = (200 until 230).map { i =>
      val lang = Seq("en", "fr", "de")(i % 3)
      (i.toLong, lang, mkText(lang, i))
    }.toDF("id", "true_lang", "text")
    val got = LangId.classify(test, "text", model, m = 512)
      .select($"true_lang", $"lang", $"lang_margin")
      .as[(String, String, Double)].collect()
    assert(got.length == 30)
    assert(got.forall { case (t, p, _) => t == p })
    assert(got.forall(_._3 > 0.0))
  }

  test("null and empty text classify to null lang and null margin") {
    val df = Seq((1L, "the quick brown fox the quick"),
      (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("id", "text")
    val got = LangId.classify(df, "text", model, m = 512)
      .select($"id", $"lang", $"lang_margin")
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2)))
    assert(got.toSet == Set((1L, false, false), (2L, true, true),
      (3L, true, true)))
  }

  test("charGrams is a lowercased MULTISET over nMin..nMax lengths; " +
    "short text degrades, never descends") {
    def grams(s: String, a: Int, b: Int): Seq[String] =
      Seq(Tuple1(s)).toDF("t")
        .select(LangId.charGrams($"t", a, b).as("g"))
        .as[Seq[String]].head()
    assert(grams("AbCab", 2, 2) == Seq("ab", "bc", "ca", "ab")) // dup kept
    assert(grams("abc", 2, 3) == Seq("ab", "bc", "abc"))
    assert(grams("ab", 3, 3) == Seq.empty)   // length < n: empty, no [1,0]
    assert(grams("a", 1, 3) == Seq("a"))
    assert(grams("", 1, 2) == Seq.empty)
  }

  test("model shape: sparse observed rows plus one bucket=-1 floor " +
    "row per language carrying ln(alpha / (tot + alpha*m))") {
    val m = 512
    val rows = model.collect()
    val floors = rows.filter(_.getLong(1) == -1L)
    assert(floors.map(_.getString(0)).sorted.toSeq ==
      Seq("de", "en", "fr"))
    // recompute one language's total gram count independently
    val totEn = labeled.filter($"lang" === "en")
      .select(explode(LangId.charGrams($"text", 2, 3)).as("g"))
      .count()
    val floorEn = floors.find(_.getString(0) == "en").get.getDouble(2)
    assert(math.abs(floorEn - math.log(1.0 / (totEn + m))) < 1e-12)
    // observed rows: in-range buckets, prob above the floor
    val obsEn = rows.filter(r => r.getString(0) == "en" &&
      r.getLong(1) >= 0)
    assert(obsEn.nonEmpty && obsEn.forall(r =>
      r.getLong(1) < m && r.getDouble(2) > floorEn))
    assert(rows.forall(_.getInt(3) == 1)) // __fmt v1 on every row
  }

  test("save/load round-trips; format and param drift are refused") {
    val dir = java.nio.file.Files
      .createTempDirectory("langid_model").toString
    LangId.saveModel(model, dir, m = 512, alpha = 1.0)
    val back = LangId.loadModel(spark, dir, m = 512, alpha = 1.0)
    assert(back.collect().toSet == model.collect().toSet)
    // param drift: classifying under a different m must refuse
    intercept[IllegalArgumentException] {
      LangId.loadModel(spark, dir, m = 1024, alpha = 1.0)
    }
    intercept[IllegalArgumentException] {
      LangId.loadModel(spark, dir, m = 512, alpha = 0.5)
    }
    // a model trained under a different m is refused in BOTH
    // directions by the train-time param stamp (ADVICE r17: the old
    // bucket < m range check alone passed a model trained with a
    // SMALLER m, silently scoring buckets it never saw)
    intercept[IllegalArgumentException] {
      LangId.classify(labeled, "text", model, m = 256)
    }
    intercept[IllegalArgumentException] {
      LangId.classify(labeled, "text", model, m = 1024)
    }
    // ... and n-gram length drift is a mismatch too
    intercept[IllegalArgumentException] {
      LangId.classify(labeled, "text", model, m = 512, nMin = 1)
    }
    // missing floor rows: not a train() output
    intercept[IllegalArgumentException] {
      LangId.classify(labeled, "text",
        model.filter($"bucket" >= 0), m = 512)
    }
    // saveModel under params the model was not trained with: refused
    intercept[IllegalArgumentException] {
      LangId.saveModel(model, dir, m = 1024, alpha = 1.0)
    }
  }

  test("exact score ties break to the lexicographically largest " +
    "language (the array_max struct convention)") {
    // two languages trained on IDENTICAL text: every score ties
    val sym = Seq((1L, "aa", "xy xy zz"), (2L, "bb", "xy xy zz"))
      .toDF("id", "lang", "text")
    val m2 = LangId.train(sym, "text", "lang", m = 64)
    val got = LangId.classify(
      Seq(Tuple1("zz xy")).toDF("text"), "text", m2, m = 64)
      .select($"lang", $"lang_margin").as[(String, Double)].head()
    assert(got == (("bb", 0.0)))
  }

  test("lineLangs labels each line independently; blank lines and " +
    "null text are null/empty") {
    val mixed = Seq(
      (1L, mkText("fr", 3) + "\n" + mkText("en", 5)),
      (2L, mkText("de", 7) + "\n\n" + mkText("de", 9)),
      (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = LangId.lineLangs(mixed, "text", model, m = 512)
      .select($"id", expr("transform(line_langs, s -> s.lang)"))
      .as[(Long, Seq[Option[String]])].collect().toMap
    assert(got(1L) == Seq(Some("fr"), Some("en")))
    assert(got(2L) == Seq(Some("de"), None, Some("de"))) // blank -> null
    assert(got(3L) == Seq(None)) // null text == empty text: one blank line
  }

  test("keepLinesInLang keeps only the target language's lines, in " +
    "order, rewriting the column in place") {
    val mixed = Seq(
      (1L, mkText("fr", 3) + "\n" + mkText("en", 5) + "\n" +
        mkText("fr", 11)),
      (2L, mkText("en", 1)),
      (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = LangId.keepLinesInLang(mixed, "text", model, "fr",
        m = 512)
      .select($"id", $"text").as[(Long, String)].collect().toMap
    assert(got(1L) == mkText("fr", 3) + "\n" + mkText("fr", 11))
    assert(got(2L) == "") // no french lines
    assert(got(3L) == "") // null text fail-safe
    intercept[IllegalArgumentException] {
      LangId.keepLinesInLang(mixed, "text", model, "zz", m = 512)
    }
  }

  test("classify is one shuffle-free projection (no Exchange)") {
    val plan = LangId.classify(labeled, "text", model, m = 512)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  // ---- driver-side train vs the distributed column-math spec -------

  private def modelRows(df: org.apache.spark.sql.DataFrame) =
    df.select($"lang", $"bucket", $"log_prob", $"__fmt", $"__m",
        $"__nmin", $"__nmax").collect()
      .map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))
      .toSeq.sorted

  test("train == distributed fit bit for bit: four languages, null " +
    "text and null lang ignored, floor rows and stamps") {
    val fourLangs = labeled.select($"lang", $"text")
      .union(Seq(("it", "il gatto nero dorme sul divano"),
        ("it", "la volpe veloce salta sopra il cane"),
        ("en", null.asInstanceOf[String]),
        (null.asInstanceOf[String], "orphan text with no language"))
        .toDF("lang", "text"))
    for ((mm, alpha, nMin, nMax) <- Seq((512, 1.0, 2, 3),
        (64, 0.25, 1, 4))) {
      val got = modelRows(LangId.train(fourLangs, "text", "lang", mm,
        alpha, nMin, nMax))
      assert(got == modelRows(CurationHof.langIdTrainHof(fourLangs,
        "text", "lang", mm, alpha, nMin, nMax)), s"m=$mm alpha=$alpha")
      assert(got.filter(_._2 == -1L).map(_._1) ==
        Seq("de", "en", "fr", "it"))
      assert(got.forall(r => r._4 == 1 && r._5 == mm && r._6 == nMin &&
        r._7 == nMax))
    }
  }

  test("train refuses a model classify could not serve, with " +
    "classify's message") {
    val fiveLangs = Seq("a", "b", "c", "d", "e")
      .map(l => (l, s"text of $l")).toDF("lang", "text")
    // 5 langs x 2^20 buckets > MaxServedCells (2^22)
    val e = intercept[IllegalArgumentException] {
      LangId.train(fiveLangs, "text", "lang", m = LangId.MaxBuckets)
    }
    assert(e.getMessage.contains("too large to serve as literals: 5 " +
      "langs"), e.getMessage)
  }

  test("job pin: train + classify run 2 jobs under default " +
    "AQE") {
    val n = jobsDuring {
      val mdl = LangId.train(labeled, "text", "lang", m = 512)
      LangId.classify(labeled, "text", mdl, m = 512).collect()
    }
    assert(n == 2, s"langid train + classify ran $n jobs")
  }
}
