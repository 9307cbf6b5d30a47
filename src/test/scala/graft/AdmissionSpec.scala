package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.Admission

class AdmissionSpec extends SparkTestBase {
  import spark.implicits._

  // every corpus doc gets its own token namespace -> no cross near-dups
  private def freshText(tag: String) =
    s"${tag}a ${tag}b ${tag}c ${tag}d ${tag}e ${tag}f ${tag}g ${tag}h"

  private def corpusDf: DataFrame =
    (0L until 40L).map(i => (i, freshText(s"c$i"))).toDF("doc_id", "text")

  /** fresh (corpusDir, indexDir) seeded with corpusDf + its index */
  private def setup(): (String, String) = {
    val corpusDir = Files.createTempDirectory("graft_adm_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_i").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    Dedup.minhashIndex(corpusDf, "doc_id", "text",
        numHashes = 64, bands = 32)
      .write.mode("overwrite").parquet(indexDir)
    (corpusDir, indexDir)
  }

  private def admit(b: DataFrame, c: String, i: String,
                    within: Boolean = true, batchId: Long = -1L) =
    Admission.admitBatch(b, c, i, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6,
      dedupWithinBatch = within, batchId = batchId)

  private def corpusIds(c: String): Seq[Long] =
    spark.read.parquet(c).select($"doc_id").as[Long].collect().sorted.toSeq

  test("two admission cycles: screens, appends, and index fold") {
    val (c, i) = setup()
    val batch1 = Seq(
      100L -> freshText("n100"), // fresh -> admitted
      101L -> freshText("n101"), // fresh -> admitted
      102L -> freshText("c0"), // exact-text copy of doc 0 -> near screen
      0L -> freshText("c0"), // id replay of doc 0 -> id screen
      103L -> freshText("twin"), // within-batch verbatim twins:
      104L -> freshText("twin") //   min id 103 admitted, 104 dropped
    ).toDF("doc_id", "text")
    val s1 = admit(batch1, c, i, batchId = 1L)
    assert(s1 == Admission.AdmitStats(1L, 6L, 5L, 3L))
    assert(corpusIds(c) == ((0L until 40L) ++ Seq(100L, 101L, 103L)))
    // the admitted rows land exactly as they arrived: batch columns
    // only (no settle-scan feature column leaks into the corpus)
    val stored = spark.read.parquet(c)
    assert(stored.columns.toSeq == batch1.columns.toSeq)
    assert(stored.filter($"doc_id" >= 100L).as[(Long, String)].collect()
      .toSet == batch1.filter($"doc_id".isin(100L, 101L, 103L))
      .as[(Long, String)].collect().toSet)

    // batch 2's near-dup of a batch-1 ADMISSION only drops if the
    // index fold actually happened
    val batch2 = Seq(
      200L -> (freshText("n100") + " k"), // near-dup of admitted 100
      201L -> freshText("n201") // fresh -> admitted
    ).toDF("doc_id", "text")
    val s2 = admit(batch2, c, i, batchId = 2L)
    assert(s2 == Admission.AdmitStats(2L, 2L, 2L, 1L))
    assert(corpusIds(c) == ((0L until 40L) ++ Seq(100L, 101L, 103L, 201L)))

    // the folded index still carries its validated build params
    assert(Seq("__fmt", "__numHashes", "__bands", "__shingleLen",
        "__seed", "__maxBucketSize")
      .forall(spark.read.parquet(i).columns.contains))
  }

  test("partitioned index: same admissions, in-place fold == swap fold") {
    // run the EXACT two-cycle scenario above against a PARTITIONED
    // index persist: admitCore must detect the layout, fold each
    // cycle in place, and land the identical corpus, stats, and
    // bucket table (read back from disk, compared bucket-for-bucket
    // against the swap-path index)
    val (cSwap, iSwap) = setup()
    val corpusDir = Files.createTempDirectory("graft_adm_cp").toString
    val indexDir = Files.createTempDirectory("graft_adm_ip").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    Dedup.indexWritePartitioned(
      Dedup.minhashIndex(corpusDf, "doc_id", "text",
        numHashes = 64, bands = 32),
      indexDir, numParts = 64)
    val batch1 = Seq(
      100L -> freshText("n100"), 101L -> freshText("n101"),
      102L -> freshText("c0"), 0L -> freshText("c0"),
      103L -> freshText("twin"), 104L -> freshText("twin")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      200L -> (freshText("n100") + " k"), 201L -> freshText("n201")
    ).toDF("doc_id", "text")
    for ((c, i) <- Seq((cSwap, iSwap), (corpusDir, indexDir))) {
      assert(admit(batch1, c, i, batchId = 1L)
        == Admission.AdmitStats(1L, 6L, 5L, 3L))
      assert(admit(batch2, c, i, batchId = 2L)
        == Admission.AdmitStats(2L, 2L, 2L, 1L))
      assert(corpusIds(c) == ((0L until 40L) ++ Seq(100L, 101L, 103L, 201L)))
    }
    def buckets(path: String) = {
      val df = spark.read.parquet(path)
      df.drop("part")
        .drop(df.columns.filter(_.startsWith("__")): _*)
        .collect()
        .map(r => ((r.get(0), r.get(1)),
          (r.getSeq[Long](2).sorted, r.getLong(3)))).toMap
    }
    assert(buckets(indexDir) == buckets(iSwap))
    // and the in-place path really kept the partitioned layout
    assert(spark.read.parquet(indexDir).columns.contains("part"))
  }

  test("replaying an already-admitted batch is a no-op") {
    val (c, i) = setup()
    val batch = Seq(100L -> freshText("n100")).toDF("doc_id", "text")
    assert(admit(batch, c, i).admitted == 1L)
    val before = corpusIds(c)
    val replay = admit(batch, c, i)
    assert(replay.afterIdScreen == 0L && replay.admitted == 0L)
    assert(corpusIds(c) == before)
  }

  test("corpus screen runs BEFORE within-batch dedup") {
    // chain c0 -- A -- B with jaccard(A,c0)=0.75, jaccard(B,A)=0.75,
    // jaccard(B,c0)=0.5625 < 0.6: A drops against the corpus, so B's
    // only within-batch partner is gone and B must be admitted.
    // Within-batch-first would keep min-id A, drop B, then lose A
    // against the corpus — admitting nothing.
    val c0 = (1 to 20).map(k => s"w$k").mkString(" ")
    val a = c0 + " " + (21 to 26).map(k => s"w$k").mkString(" ")
    val b = a + " " + (27 to 34).map(k => s"w$k").mkString(" ")
    val corpusDir = Files.createTempDirectory("graft_adm_c2").toString
    val indexDir = Files.createTempDirectory("graft_adm_i2").toString + "/idx"
    val corpus = Seq(0L -> c0).toDF("doc_id", "text")
    corpus.write.mode("overwrite").parquet(corpusDir)
    Dedup.minhashIndex(corpus, "doc_id", "text", numHashes = 64, bands = 32)
      .write.mode("overwrite").parquet(indexDir)
    val stats = admit(Seq(100L -> a, 101L -> b).toDF("doc_id", "text"),
      corpusDir, indexDir)
    assert(stats.admitted == 1L)
    assert(corpusIds(corpusDir) == Seq(0L, 101L))
  }

  test("index built with different params fails fast") {
    val (c, i) = setup()
    val batch = Seq(100L -> freshText("n100")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatch(batch, c, i, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.6)
    }
    assert(e.getMessage.contains("recall"))
  }

  test("fluent DDF.admitInto delegates to the admission cycle") {
    val (c, i) = setup()
    val s = graft.ddf.DDF(
      Seq(100L -> freshText("n100"), 102L -> freshText("c0"))
        .toDF("doc_id", "text"))
      .admitInto(c, i, "doc_id", "text", threshold = 0.6, bands = 32)
    assert(s.admitted == 1L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
  }

  test("fluent DDF.admitIntoSubstring delegates, compaction knob wired") {
    import graft.operators.SubstringDedup
    val c = Files.createTempDirectory("graft_adm_fls_c").toString
    val i = Files.createTempDirectory("graft_adm_fls_i").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(c)
    SubstringDedup.gramIndex(corpusDf, "doc_id", "text", k = 4)
      .write.mode("overwrite").parquet(i)
    val s = graft.ddf.DDF(
      Seq(100L -> freshText("n100"),
          101L -> (freshText("c3") + " t0 t1")) // 8/10 covered -> out
        .toDF("doc_id", "text"))
      .admitIntoSubstring(c, i, "doc_id", "text", k = 4,
        compactFileThreshold = 1, compactPartitions = 2)
    assert(s.admitted == 1L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
    assert(SubstringDedup.gramIndexFileCount(spark, i) <= 2)
  }

  private def indexIds(i: String): Set[Long] =
    spark.read.parquet(i).select(explode($"ids")).as[Long].collect().toSet

  test("crash between corpus append and index swap: replay is a no-op") {
    // the crash contract on Admission: a failure injected after the
    // corpus append and before the index swap leaves the appended rows
    // outside the index; replaying the batch admits nothing twice
    val (c, i) = setup()
    val batch = Seq(
      100L -> freshText("n100"), 101L -> freshText("n101"),
      0L -> freshText("c0")).toDF("doc_id", "text")
    val indexBefore = indexIds(i)
    val space = Admission.minhashSpace("doc_id", "text", numHashes = 64,
      bands = 32, shingleLen = 3, seed = 42L, maxBucketSize = 1000,
      threshold = 0.6)
    val e = intercept[IllegalStateException] {
      Admission.admitCore(batch, c, i, "doc_id", 1L, within = true, space,
        beforeFold = () => throw new IllegalStateException("injected"))
    }
    assert(e.getMessage == "injected")
    assert(corpusIds(c) == ((0L until 40L) ++ Seq(100L, 101L)))
    assert(indexIds(i) == indexBefore)
    // replay: the id probe drops every appended row, nothing is written
    assert(admit(batch, c, i, batchId = 1L)
      == Admission.AdmitStats(1L, 3L, 0L, 0L))
    // each corpus id once, the corpus readable, the batch absent from
    // the index (a recall gap until an index rebuild, never corruption)
    val ids = spark.read.parquet(c).select($"doc_id").as[Long].collect()
    assert(ids.length == ids.distinct.length)
    assert(ids.sorted.toSeq == ((0L until 40L) ++ Seq(100L, 101L)))
    assert(indexIds(i) == indexBefore)
    assert(!indexIds(i).exists(Set(100L, 101L)))
  }

  test("steady-state admitBatch cycle runs at most 15 Spark jobs") {
    // default session settings (AQE and broadcast joins on); the first
    // cycle warms up and registers the index it swap-writes, so the
    // counted cycle runs no validation job
    val (c, i) = setup()
    admit(Seq(100L -> freshText("n100"), 101L -> freshText("n101"))
      .toDF("doc_id", "text"), c, i, within = false, batchId = 1L)
    val batch = Seq(
      200L -> freshText("n200"),           // fresh -> admitted
      201L -> (freshText("n100") + " k"),  // near copy of 100 -> screened
      202L -> freshText("c3"),             // exact text of 3 -> screened
      5L -> freshText("c5")                // id replay -> id probe
    ).toDF("doc_id", "text")
    var stats: Admission.AdmitStats = null
    val jobs = jobsDuring {
      stats = admit(batch, c, i, within = false, batchId = 2L)
    }
    assert(stats == Admission.AdmitStats(2L, 4L, 3L, 1L))
    assert(jobs <= 15, s"steady-state cycle ran $jobs jobs")
  }

  test("compactCorpus collapses per-batch append files, row-preserving") {
    val (c, i) = setup()
    admit(Seq(100L -> freshText("n100")).toDF("doc_id", "text"), c, i)
    admit(Seq(101L -> freshText("n101")).toDF("doc_id", "text"), c, i)
    val before = corpusIds(c)
    def partFiles = new java.io.File(c).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(partFiles > 2) // initial write + two appends
    val n = Admission.compactCorpus(spark, c, 2)
    assert(n == before.size)
    assert(partFiles <= 2)
    assert(corpusIds(c) == before)
  }

  test("embedding admission loop: screens, appends, and index fold") {
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpusVecs = (0L until 20L).map(i => (i, vec()))
    val corpusDir = Files.createTempDirectory("graft_adm_e_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_e_i").toString + "/idx"
    val corpus = corpusVecs.toDF("vec_id", "v")
    corpus.write.mode("overwrite").parquet(corpusDir)
    Dedup.embeddingIndex(corpus, "vec_id", "v", dim = 8)
      .write.mode("overwrite").parquet(indexDir)
    def adm(b: DataFrame, batchId: Long) = Admission.admitBatchEmbedding(
      b, corpusDir, indexDir, "vec_id", "v", dim = 8, batchId = batchId)
    val fresh100 = vec(); val fresh102 = vec()
    val b1 = Seq(
      100L -> fresh100, // fresh -> admitted
      101L -> corpusVecs(0)._2.map(_ * 2f), // cosine 1 with vec 0 -> near
      0L -> corpusVecs(0)._2, // id replay -> id screen
      102L -> fresh102, // within-batch twins: 102 admitted,
      103L -> fresh102.clone() //   103 dropped
    ).toDF("vec_id", "v")
    assert(adm(b1, 1L) == Admission.AdmitStats(1L, 5L, 4L, 2L))
    // a scaled copy of a batch-1 ADMISSION drops only if the index
    // fold happened
    val b2 = Seq(200L -> fresh100.map(_ * 3f), 201L -> vec())
      .toDF("vec_id", "v")
    assert(adm(b2, 2L) == Admission.AdmitStats(2L, 2L, 2L, 1L))
    val ids = spark.read.parquet(corpusDir)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ Seq(100L, 102L, 201L)))
    assert(Seq("__fmt", "__nTables", "__bitsPerTable", "__dim", "__seed",
        "__maxBucketSize")
      .forall(spark.read.parquet(indexDir).columns.contains))
  }

  test("semantic admission loop: cluster-blocked screen, fold == " +
    "rebuild, centers-stamp guard") {
    import graft.operators.SemDedup
    // unit-norm centers: argmin L2 == argmax dot, so scaled copies
    // assign to the SAME cluster as their source (the fixture's
    // near-dup construction depends on it)
    val centers = (0 until 4).map(i =>
      Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0))
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpusVecs = (0L until 20L).map(i => (i, vec()))
    val corpusDir = Files.createTempDirectory("graft_adm_s_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_s_i").toString + "/idx"
    val corpus = corpusVecs.toDF("vec_id", "v")
    corpus.write.mode("overwrite").parquet(corpusDir)
    SemDedup.assignmentIndex(corpus, "vec_id", "v", centers)
      .write.mode("overwrite").parquet(indexDir)
    def adm(b: DataFrame, batchId: Long) = Admission.admitBatchSemantic(
      b, corpusDir, indexDir, "vec_id", "v", centers,
      minCosine = 0.95, batchId = batchId)
    val fresh100 = vec(); val fresh102 = vec()
    val b1 = Seq(
      100L -> fresh100,                      // fresh -> admitted
      101L -> corpusVecs(0)._2.map(_ * 2f),  // cos 1 w/ vec 0 -> near
      0L -> corpusVecs(0)._2,                // id replay -> id screen
      102L -> fresh102,                      // within-batch twins:
      103L -> fresh102.clone()               //   102 kept, 103 dropped
    ).toDF("vec_id", "v")
    assert(adm(b1, 1L) == Admission.AdmitStats(1L, 5L, 4L, 2L))
    // a scaled copy of a batch-1 ADMISSION drops only if the index
    // fold happened
    val b2 = Seq(200L -> fresh100.map(_ * 3f), 201L -> vec())
      .toDF("vec_id", "v")
    assert(adm(b2, 2L) == Admission.AdmitStats(2L, 2L, 2L, 1L))
    val ids = spark.read.parquet(corpusDir)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ Seq(100L, 102L, 201L)))
    // the folded index equals a from-scratch rebuild over the final
    // corpus (same (id, cluster) multiset, stamps intact)
    val idx = spark.read.parquet(indexDir)
    assert(Seq("__fmt", "__k", "__dim", "__digest")
      .forall(idx.columns.contains))
    val rebuilt = SemDedup.assignmentIndex(
      spark.read.parquet(corpusDir), "vec_id", "v", centers)
    assert(idx.select($"id", $"cluster")
      .exceptAll(rebuilt.select($"id", $"cluster")).count() == 0)
    assert(rebuilt.select($"id", $"cluster")
      .exceptAll(idx.select($"id", $"cluster")).count() == 0)
    // a cycle under DIFFERENT centers is refused before any work
    val other = centers.map(_.map(_ * 2.0))
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatchSemantic(b2, corpusDir, indexDir,
        "vec_id", "v", other, minCosine = 0.95)
    }
    assert(e.getMessage.contains("DIFFERENT center table"))
  }

  test("signature admission loop: hamming screen, min-id within, fold") {
    val corpusDir = Files.createTempDirectory("graft_adm_gc").toString
    val indexDir = Files.createTempDirectory("graft_adm_gi").toString + "/idx"
    // corpus fingerprints ride a DENSE base mask (popcount 24): every
    // batch probe meant to be fresh is trivially > 3 bits from all of
    // them, while planted nears differ in exactly 1 bit
    val base = 0x5555555555550000L
    val corpus = (0L until 20L).map(i => (i, base | (i << 8)))
      .toDF("id", "sig")
    corpus.write.mode("overwrite").parquet(corpusDir)
    graft.operators.Dedup.signatureIndex(corpus, "id", "sig",
        maxDistance = 3)
      .write.mode("overwrite").parquet(indexDir)
    def adm(b: DataFrame, batchId: Long) =
      Admission.admitBatchSignature(b, corpusDir, indexDir, "id", "sig",
        maxDistance = 3, batchId = batchId)
    val b1 = Seq(
      100L -> (base | (7L << 8) | 1L), // hamming 1 from corpus 7 -> near
      101L -> 0L,                      // fresh (24+ from corpus) -> admitted
      0L -> (base | 0L),               // id replay -> id screen
      102L -> 2L,                      // within-batch near of 101 -> dropped
      103L -> (0xFFL << 40)            // fresh -> admitted
    ).toDF("id", "sig")
    assert(adm(b1, 1L) == Admission.AdmitStats(1L, 5L, 4L, 2L))
    // fold proof: a 1-bit neighbour of batch-1 ADMISSION 101 drops
    // only if the index folded; replaying an admitted id is a no-op
    val b2 = Seq(200L -> 1L, 101L -> 0L, 201L -> (0xFFL << 32))
      .toDF("id", "sig")
    assert(adm(b2, 2L) == Admission.AdmitStats(2L, 3L, 2L, 1L))
    val ids = spark.read.parquet(corpusDir)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ Seq(101L, 103L, 201L)))
    // the folded index equals a from-scratch rebuild over the final
    // corpus (stamps intact, update == rebuild discipline)
    val idx = spark.read.parquet(indexDir)
    assert(Seq("__fmt", "__max_distance").forall(idx.columns.contains))
    val rebuilt = graft.operators.Dedup.signatureIndex(
      spark.read.parquet(corpusDir), "id", "sig", maxDistance = 3)
    assert(idx.select($"chunk", $"key", $"id", $"sig")
      .exceptAll(rebuilt.select($"chunk", $"key", $"id", $"sig"))
      .count() == 0)
    assert(rebuilt.select($"chunk", $"key", $"id", $"sig")
      .exceptAll(idx.select($"chunk", $"key", $"id", $"sig"))
      .count() == 0)
    // a cycle under a different maxDistance is refused before any work
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatchSignature(b2, corpusDir, indexDir, "id",
        "sig", maxDistance = 2)
    }
    assert(e.getMessage.contains("__max_distance"))
  }

  test("substring admission loop: coverage screen, fold, id replay") {
    import graft.operators.SubstringDedup
    val corpusDir = Files.createTempDirectory("graft_adm_sc").toString
    val indexDir = Files.createTempDirectory("graft_adm_si").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    SubstringDedup.gramIndex(corpusDf, "doc_id", "text", k = 4)
      .write.mode("overwrite").parquet(indexDir)
    def admitSub(b: DataFrame, within: Boolean = false, id: Long = -1L) =
      Admission.admitBatchSubstring(b, corpusDir, indexDir,
        "doc_id", "text", k = 4, maxDupCoverage = 0.5,
        dedupWithinBatch = within, batchId = id)
    // cycle 1: one fresh doc, one doc that is 8 corpus tokens + a
    // 2-token tail (coverage 8/10 > 0.5 -> rejected), one doc with a
    // 4-token corpus run inside 12 tokens (4/12 < 0.5 -> admitted)
    val b1 = Seq(
      100L -> freshText("n100"),
      101L -> (freshText("c3") + " tail0 tail1"),
      102L -> ("c5a c5b c5c c5d x0 x1 x2 x3 x4 x5 x6 x7"))
      .toDF("doc_id", "text")
    val s1 = admitSub(b1, id = 1L)
    assert(s1.admitted == 2L)
    assert(corpusIds(corpusDir) == ((0L until 40L) ++ Seq(100L, 102L)))
    // cycle 2: near-copy of cycle-1 ADMISSION 100 (fold proof), and
    // an id replay of 102 (id-screen no-op)
    val b2 = Seq(
      200L -> (freshText("n100") + " zz"),
      102L -> "anything at all here")
      .toDF("doc_id", "text")
    val s2 = admitSub(b2, id = 2L)
    assert(s2.afterIdScreen == 1L, "id replay must drop before screening")
    assert(s2.admitted == 0L, "coverage vs folded index must reject 200")
    assert(corpusIds(corpusDir) == ((0L until 40L) ++ Seq(100L, 102L)))
    // within-batch stage: two copies of one long run in a fresh batch
    // -> keep-first admits exactly one
    val b3 = Seq(
      300L -> freshText("w1"),
      301L -> freshText("w1"))
      .toDF("doc_id", "text")
    val s3 = admitSub(b3, within = true, id = 3L)
    assert(s3.admitted == 1L)
    // short docs (< k tokens) cannot be coverage-rejected
    val s4 = admitSub(Seq(400L -> "c0a c0b c0c").toDF("doc_id", "text"),
      id = 4L)
    assert(s4.admitted == 1L)
  }

  test("substring auto-compaction: K trickle cycles + compact == rebuild") {
    import graft.operators.SubstringDedup
    // two identical worlds: one folding with auto-compaction on, one
    // with the caller-managed default (off)
    def world(): (String, String) = {
      val c = Files.createTempDirectory("graft_adm_cmp_c").toString
      val i = Files.createTempDirectory("graft_adm_cmp_i").toString + "/idx"
      corpusDf.write.mode("overwrite").parquet(c)
      SubstringDedup.gramIndex(corpusDf, "doc_id", "text", k = 4)
        .write.mode("overwrite").parquet(i)
      (c, i)
    }
    val (cA, iA) = world()
    val (cB, iB) = world()
    def batchN(n: Long) =
      Seq((1000L + n) -> freshText(s"t$n")).toDF("doc_id", "text")
    // threshold 1 with the seeded index already >= 1 file: every
    // trickle cycle's append pushes the count over and compacts
    (0L until 3L).foreach { n =>
      Admission.admitBatchSubstring(batchN(n), cA, iA, "doc_id", "text",
        k = 4, batchId = n, compactFileThreshold = 1,
        compactPartitions = 2)
      Admission.admitBatchSubstring(batchN(n), cB, iB, "doc_id", "text",
        k = 4, batchId = n)
    }
    // compaction reshaped the listing down to compactPartitions while
    // the append-only world kept growing files
    val nA = SubstringDedup.gramIndexFileCount(spark, iA)
    val nB = SubstringDedup.gramIndexFileCount(spark, iB)
    assert(nA <= 2, s"auto-compacted index has $nA files")
    assert(nB > nA, s"append-only world should have more files ($nB)")
    // CONTENT: both worlds == a from-scratch rebuild over the final
    // corpus (compaction only reshapes, appends are disjoint)
    def grams(path: String): Set[Seq[Any]] =
      spark.read.parquet(path).drop("__fmt").collect()
        .map(_.toSeq).toSet
    val rebuilt = SubstringDedup
      .gramIndex(spark.read.parquet(cA), "doc_id", "text", k = 4)
    val rebuiltSet = rebuilt.drop("__fmt").collect().map(_.toSeq).toSet
    assert(grams(iA) == rebuiltSet, "compacted != rebuild")
    assert(grams(iB) == rebuiltSet, "append-only != rebuild")
    // the compacted index still validates and screens (a replayed
    // near-copy of an admitted doc is rejected by coverage)
    val s = Admission.admitBatchSubstring(
      Seq(2000L -> (freshText("t1") + " zz")).toDF("doc_id", "text"),
      cA, iA, "doc_id", "text", k = 4, batchId = 99L,
      compactFileThreshold = 1, compactPartitions = 2)
    assert(s.admitted == 0L, "coverage vs compacted index must reject")
  }

  test("signature streaming face drives the same hamming cycles") {
    val corpusDir = Files.createTempDirectory("graft_adm_gsc").toString
    val indexDir = Files.createTempDirectory("graft_adm_gsi").toString + "/idx"
    val inDir = Files.createTempDirectory("graft_adm_gsin").toString
    val chk = Files.createTempDirectory("graft_adm_gschk").toString
    val base = 0x5555555555550000L
    val corpus = (0L until 20L).map(i => (i, base | (i << 8)))
      .toDF("id", "sig")
    corpus.write.mode("overwrite").parquet(corpusDir)
    graft.operators.Dedup.signatureIndex(corpus, "id", "sig",
        maxDistance = 3)
      .write.mode("overwrite").parquet(indexDir)
    Seq(500L -> 0L,                       // fresh -> admitted
        501L -> (base | (3L << 8) | 1L))  // hamming 1 of corpus 3 -> out
      .toDF("id", "sig")
      .coalesce(1).write.mode("append").parquet(inDir)
    val stats = Admission.admitStreamSignature(
      spark.readStream.schema("id LONG, sig LONG")
        .parquet(s"$inDir/*.parquet"),
      corpusDir, indexDir, chk, "id", "sig", maxDistance = 3)
    assert(stats.map(_.admitted).sum == 1L)
    val ids = spark.read.parquet(corpusDir)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ Seq(500L)))
  }

  test("substring streaming face drives the same coverage cycles") {
    import graft.operators.SubstringDedup
    val corpusDir = Files.createTempDirectory("graft_adm_ssc").toString
    val indexDir = Files.createTempDirectory("graft_adm_ssi").toString + "/idx"
    val inDir = Files.createTempDirectory("graft_adm_ssin").toString
    val chk = Files.createTempDirectory("graft_adm_sschk").toString
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    SubstringDedup.gramIndex(corpusDf, "doc_id", "text", k = 4)
      .write.mode("overwrite").parquet(indexDir)
    Seq(500L -> freshText("s500"),                      // fresh -> admitted
        501L -> (freshText("c7") + " t0 t1"))           // 8/10 covered -> out
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    val stats = Admission.admitStreamSubstring(
      spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(s"$inDir/*.parquet"),
      corpusDir, indexDir, chk, "doc_id", "text", k = 4,
      maxDupCoverage = 0.5)
    assert(stats.map(_.admitted).sum == 1L)
    assert(corpusIds(corpusDir) == ((0L until 40L) ++ Seq(500L)))
  }

  test("semantic streaming face drives the same assignment cycles " +
    "(r15 — the sixth space's foreachBatch twin)") {
    import graft.operators.SemDedup
    val centers = (0 until 4).map(i =>
      Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0))
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpusVecs = (0L until 20L).map(i => (i, vec()))
    val corpusDir = Files.createTempDirectory("graft_adm_sem_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_sem_i").toString + "/idx"
    val inDir = Files.createTempDirectory("graft_adm_sem_in").toString
    val chk = Files.createTempDirectory("graft_adm_sem_chk").toString
    val corpus = corpusVecs.toDF("vec_id", "v")
    corpus.write.mode("overwrite").parquet(corpusDir)
    SemDedup.assignmentIndex(corpus, "vec_id", "v", centers)
      .write.mode("overwrite").parquet(indexDir)
    val dupOf0 = corpusVecs.head._2.map(_ * 2.0f) // scaled copy: cosine 1
    Seq((100L, vec()),        // fresh -> admitted
        (101L, dupOf0),       // near-dup of corpus vec 0 -> rejected
        (5L, vec()))          // id replay -> exact screen drops it
      .toDF("vec_id", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    val stats = Admission.admitStreamSemantic(
      spark.readStream.schema("vec_id LONG, v ARRAY<FLOAT>")
        .parquet(s"$inDir/*.parquet"),
      corpusDir, indexDir, chk, "vec_id", "v", centers,
      minCosine = 0.95)
    assert(stats.map(_.admitted).sum == 1L)
    val ids = spark.read.parquet(corpusDir).select("vec_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) :+ 100L))
    // restart on the same checkpoint: no replay into the corpus
    val stats2 = Admission.admitStreamSemantic(
      spark.readStream.schema("vec_id LONG, v ARRAY<FLOAT>")
        .parquet(s"$inDir/*.parquet"),
      corpusDir, indexDir, chk, "vec_id", "v", centers,
      minCosine = 0.95)
    assert(stats2.map(_.admitted).sum == 0L)
  }

  test("streaming face: foreachBatch loop + checkpoint restart") {
    val (c, i) = setup()
    val base = Files.createTempDirectory("graft_adm_s").toString
    val streamDir = s"$base/in"
    val checkpoint = s"$base/ckpt"
    Seq(100L -> freshText("n100"), 102L -> freshText("c0"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(streamDir)
    def stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(streamDir)
    val stats = Admission.admitStream(stream, c, i, checkpoint,
      "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
    assert(stats.map(_.admitted).sum == 1L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
    // restart on the same checkpoint: nothing new to process, and the
    // already-ingested file is never replayed into the corpus
    val stats2 = Admission.admitStream(stream, c, i, checkpoint,
      "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
    assert(stats2.map(_.admitted).sum == 0L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
  }
}
