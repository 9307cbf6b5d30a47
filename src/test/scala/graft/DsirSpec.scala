package graft

import graft.operators.{CurationHof, Dsir}
import org.apache.spark.sql.functions._

class DsirSpec extends SparkTestBase {
  import spark.implicits._

  private val m = 64

  test("bucketArr: unigram+bigram MULTISET, 2n-1 grams per doc") {
    val df = Seq((1L, "a b a"), (2L, "solo"), (3L, "")).toDF("id", "text")
    val sizes = df.select($"id", size(Dsir.bucketArr($"text", m)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // "a b a": 3 unigrams + 2 bigrams; "solo": 1 + 0; "": 0
    assert(sizes == Map(1L -> 5, 2L -> 1, 3L -> 0))
    // repeated gram -> same bucket, repeated (multiset, not a set)
    val arr = df.filter($"id" === 1L)
      .select(Dsir.bucketArr($"text", m)).head().getSeq[Long](0)
    assert(arr(0) == arr(2)) // the two "a" unigrams
  }

  test("hashedNgramCounts: zero-filled to m rows, counts sum to grams") {
    val df = Seq("a b c", "a a").toDF("text")
    val cnt = Dsir.hashedNgramCounts(df, "text", m)
    assert(cnt.count() == m)
    // 5 + 3 grams total
    assert(cnt.agg(sum($"cnt")).head().getLong(0) == 8L)
    assert(cnt.filter($"cnt" < 0).count() == 0)
  }

  test("logRatioTable: hand-checked smoothing arithmetic") {
    val target = Seq("aa aa").toDF("text") // 3 grams
    val raw = Seq("aa bb").toDF("text")    // 3 grams
    val ratios = Dsir.logRatioTable(target, raw, "text", m, alpha = 1.0)
    assert(ratios.count() == m)
    val tc = Dsir.hashedNgramCounts(target, "text", m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rc = Dsir.hashedNgramCounts(raw, "text", m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = ratios.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (b <- 0L until m.toLong) {
      val want = math.log((tc(b) + 1.0) / (3.0 + m)) -
        math.log((rc(b) + 1.0) / (3.0 + m))
      assert(math.abs(got(b) - want) < 1e-12, s"bucket $b")
    }
  }

  test("importanceWeights equals the explode-join formulation") {
    val target = Seq("the cat sat", "the dog sat").toDF("text")
    val raw = Seq("the cat sat", "le chat", "der hund", "el gato")
      .toDF("text")
    val ratios = Dsir.logRatioTable(target, raw, "text", m)
    val docs = raw.withColumn("id", monotonically_increasing_id())
    val fast = Dsir.importanceWeights(docs, "text", ratios, m)
      .select($"id", $"log_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val slow = docs
      .select($"id", explode(Dsir.bucketArr($"text", m)).as("bucket"))
      .join(ratios, Seq("bucket"))
      .groupBy($"id").agg(sum($"log_ratio").as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (id, w) =>
      assert(math.abs(w - slow(id)) < 1e-9, s"id $id") }
    // and target-like raw docs outrank off-target ones
    val byText = Dsir.importanceWeights(raw, "text", ratios, m)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byText("the cat sat") > byText("le chat"))
    assert(byText("the cat sat") > byText("der hund"))
  }

  test("resampleGumbel: deterministic, n respected, weight-biased") {
    val df = (1L to 200L).map(i =>
      (i, if (i <= 100) 5.0 else -5.0)).toDF("id", "w")
    val a = Dsir.resampleGumbel(df, "id", "w", n = 20)
      .select($"id").as[Long].collect().toSeq
    val b = Dsir.resampleGumbel(df, "id", "w", n = 20)
      .select($"id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.size == 20)
    // log-weight gap of 10 vs Gumbel noise: high-weight ids dominate
    assert(a.count(_ <= 100) >= 18)
    // different seed -> different draw (statistically certain)
    val c = Dsir.resampleGumbel(df, "id", "w", n = 20, seed = 7L)
      .select($"id").as[Long].collect().toSeq
    assert(a != c)
  }

  test("null text scores 0.0 like empty text (selectable, not " +
    "NULLS-LAST-buried)") {
    val target = Seq("the cat").toDF("text")
    val ratios = Dsir.logRatioTable(target, target, "text", m)
    val docs = Seq((1L, "the cat"), (2L, ""), (3L, null))
      .toDF("id", "text")
    val w = Dsir.importanceWeights(docs, "text", ratios, m)
      .select($"id", $"log_weight")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(2L) == 0.0)
    assert(w(3L) == 0.0) // null text == empty text, never null weight
  }

  test("saveModel/loadModel: round-trip identity, stamp-validated") {
    val target = Seq("the cat sat").toDF("text")
    val raw = Seq("the cat sat", "dogs bark loud", "x y z").toDF("text")
    val ratios = Dsir.logRatioTable(target, raw, "text", m, alpha = 1.0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dsir_model").toString + "/model"
    Dsir.saveModel(ratios, dir, m, alpha = 1.0)
    val loaded = Dsir.loadModel(spark, dir, m, alpha = 1.0)
    val a = ratios.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = loaded.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b) // bit-identical round trip, all m rows
    // weights from the loaded model == weights from the live fit
    val corpus = Seq((1L, "the cat sat"), (2L, "dogs bark")).toDF("id", "text")
    val w1 = Dsir.importanceWeights(corpus, "text", ratios, m)
      .select($"id", $"log_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w2 = Dsir.importanceWeights(corpus, "text", loaded, m)
      .select($"id", $"log_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w1 == w2)
  }

  test("loadModel refuses format/param mismatches and foreign files") {
    val target = Seq("a b").toDF("text")
    val raw = Seq("a b", "c d").toDF("text")
    val ratios = Dsir.logRatioTable(target, raw, "text", m)
    val base = java.nio.file.Files
      .createTempDirectory("graft_dsir_guard").toString
    Dsir.saveModel(ratios, s"$base/ok", m, alpha = 1.0, hash = "md5")
    // every knob that silently changes weights is refused on mismatch
    for ((mm, aa, hh) <- Seq((m * 2, 1.0, "md5"), (m, 2.0, "md5"),
      (m, 1.0, "xxhash64"))) {
      val e = intercept[IllegalArgumentException] {
        Dsir.loadModel(spark, s"$base/ok", mm, aa, hh)
      }
      assert(e.getMessage.contains("fit with"), e.getMessage)
    }
    // a random parquet is not a model file
    Seq((1L, 2.0)).toDF("x", "y").write.parquet(s"$base/foreign")
    val e2 = intercept[IllegalArgumentException] {
      Dsir.loadModel(spark, s"$base/foreign", m, 1.0)
    }
    assert(e2.getMessage.contains("not a DSIR model file"))
  }

  test("xxhash64 family: different bucketing, same selection on a " +
    "separable fixture") {
    // target-like docs share a dense vocab; off-target docs share a
    // disjoint one. ANY uniform hash family must rank the target-like
    // docs above the rest — collisions differ between families (the
    // fixture makes m small enough to force some) but the selection
    // set is the same.
    val target = (0 until 8).map(i => s"alpha beta gamma delta run$i")
      .toDF("text")
    val pool = ((0 until 6).map(i => (i.toLong, s"alpha beta gamma delta p$i"))
      ++ (6 until 20).map(i => (i.toLong, s"zig zag zork quux n$i")))
      .toDF("id", "text")
    def select(hash: String): Set[Long] = {
      val ratios = Dsir.logRatioTable(target, pool, "text", m, 1.0, hash)
      val w = Dsir.importanceWeights(pool, "text", ratios, m, hash)
      Dsir.resampleGumbel(w, "id", "log_weight", n = 6)
        .select($"id").as[Long].collect().toSet
    }
    val md5Sel = select("md5")
    val xxSel = select("xxhash64")
    assert(md5Sel == (0L until 6L).toSet)
    assert(xxSel == md5Sel)
    // and the two families really do bucket differently
    val bm = pool.select(Dsir.bucketArr($"text", m, "md5")).head().getSeq[Long](0)
    val bx = pool.select(Dsir.bucketArr($"text", m, "xxhash64")).head().getSeq[Long](0)
    assert(bm != bx)
  }

  test("parameter validation refuses bad inputs") {
    intercept[IllegalArgumentException] {
      Dsir.logRatioTable(Seq("a").toDF("text"), Seq("b").toDF("text"),
        "text", m, hash = "sha1")
    }
    val df = Seq("x").toDF("text")
    intercept[IllegalArgumentException] {
      Dsir.hashedNgramCounts(df, "text", 1)
    }
    intercept[IllegalArgumentException] {
      Dsir.logRatioTable(df, df, "text", m, alpha = 0.0)
    }
    intercept[IllegalArgumentException] {
      // ratio table built at a DIFFERENT m than the weighting pass
      val ratios = Dsir.logRatioTable(df, df, "text", 32)
      Dsir.importanceWeights(df, "text", ratios, m)
    }
    intercept[IllegalArgumentException] {
      Dsir.resampleGumbel(df.withColumn("id", lit(1L))
        .withColumn("w", lit(0.0)), "id", "w", n = 0)
    }
  }

  // ---- driver-side fit vs the distributed column-math spec ---------

  private def bits(df: org.apache.spark.sql.DataFrame, c: String) =
    df.select($"bucket", col(c).cast("double")).collect()
      .map(r => r.getLong(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap

  // disjoint vocabularies, m large enough that each side leaves
  // buckets the other side fills
  private lazy val fitTarget = (0 until 12)
    .map(i => s"the cat sat on mat$i the cat").toDF("text")
  private lazy val fitRaw = ((0 until 20)
    .map(i => s"zig zag zork quux n${i % 7} zig") :+ null.asInstanceOf[String])
    .toDF("text")

  test("logRatioTable == distributed fit bit for bit: both hash " +
    "families, zero-count buckets on either side, alpha != 1") {
    for (hash <- Seq("md5", "xxhash64")) {
      val t = bits(Dsir.hashedNgramCounts(fitTarget, "text", m, hash), "cnt")
      val r = bits(Dsir.hashedNgramCounts(fitRaw, "text", m, hash), "cnt")
      assert(t == bits(CurationHof.hashedNgramCountsHof(fitTarget, "text",
        m, hash), "cnt"))
      assert(r == bits(CurationHof.hashedNgramCountsHof(fitRaw, "text",
        m, hash), "cnt"))
      val zero = java.lang.Double.doubleToRawLongBits(0.0)
      assert((0L until m).exists(b => t(b) == zero && r(b) != zero))
      assert((0L until m).exists(b => t(b) != zero && r(b) == zero))
      for (alpha <- Seq(1.0, 0.37, 2.5)) {
        val got = bits(Dsir.logRatioTable(fitTarget, fitRaw, "text", m,
          alpha, hash), "log_ratio")
        val want = bits(CurationHof.logRatioTableHof(fitTarget, fitRaw,
          "text", m, alpha, hash), "log_ratio")
        assert(got.size == m && got == want, s"hash=$hash alpha=$alpha")
      }
    }
  }

  test("job pin: logRatioTable + importanceWeights run 4 jobs " +
    "under default AQE") {
    val n = jobsDuring {
      val ratios = Dsir.logRatioTable(fitTarget, fitRaw, "text", m)
      Dsir.importanceWeights(fitRaw, "text", ratios, m).collect()
    }
    assert(n == 4, s"dsir fit + weighting ran $n jobs")
  }
}
