package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  /** documents plus planted near-dups (one appended token) and exact
    * dups — mirrors SparkEntry.docsWithDups */
  private lazy val corpus = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    docs
      .union(docs.filter($"doc_id" < 30)
        .select($"doc_id" + 10000, concat($"text", lit(" zzz"))))
      .union(docs.filter($"doc_id" < 30).select($"doc_id" + 20000, $"text"))
      .cache()
  }

  test("exact dedup keeps min-id representative") {
    val r = Dedup.exact(corpus, Seq("text"), "doc_id")
    assert(r.count() == corpus.count() - 30) // the 30 verbatim dups go
    assert(r.filter($"doc_id" >= 20000).count() == 0)
  }

  test("minhash recall on random superset pairs (hash-family regression)") {
    // 30 independent (base, base+6-random-tokens) pairs, true shingle
    // jaccard exactly 18/24 = 0.75. The pre-fix mixed-width hash
    // family found such a pair only when the union's globally-minimal
    // base hash fell in the SHARED shingles (P = 0.75 per pair, so
    // P(all 30 found) ~ 2e-4); the fixed prime-field family misses a
    // j=0.75 pair with P ~ 3e-12 at 32 bands x 2 rows. Random tokens
    // (not planted suffixes) are the point: recall must not depend on
    // where the extra shingles hash.
    val rnd = new scala.util.Random(7)
    val docs = (0 until 30).map { i =>
      val ws = Seq.fill(26)("w" + rnd.nextLong().toHexString).distinct
      assert(ws.size == 26)
      (i, ws.take(20).mkString(" "), ws.mkString(" "))
    }
    val df = docs.flatMap { case (i, base, sup) =>
      Seq((2L * i, base), (2L * i + 1, sup)) }.toDF("id", "text")
    val found = Dedup.minhashPairs(df, "id", "text",
        numHashes = 64, bands = 32, threshold = 0.6)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 30).map(i => (2L * i, 2L * i + 1)).toSet
    assert(expected.subsetOf(found), s"missed: ${expected -- found}")
  }

  test("embedding LSH recall on randomized near-boundary pairs") {
    // 60 (u, 0.990*u + noise) pairs at cosine ~0.99 — NOT exact
    // scaled copies (those collide in every table by construction and
    // prove nothing about probabilistic recall). Per the documented
    // curve, recall at 0.99 with 8x16 defaults is ~99.5%/pair, so 60
    // fixed-seed pairs allow a couple of misses but not many.
    val rnd = new scala.util.Random(13)
    val dim = 32
    def unit() = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val alpha = math.toRadians(8.1) // cos ~ 0.990
    val docs = (0 until 60).flatMap { i =>
      val u = unit()
      val w0 = unit()
      val d = u.zip(w0).map { case (a, b) => a * b }.sum
      val w = w0.zip(u).map { case (b, a) => b - d * a } // u-orthogonal
      val wn = math.sqrt(w.map(x => x * x).sum)
      val v = u.zip(w).map { case (a, b) =>
        (math.cos(alpha) * a + math.sin(alpha) * b / wn).toFloat }
      Seq((2L * i, u), (2L * i + 1, v))
    }.toDF("id", "v")
    val found = Dedup.embeddingPairs(docs, "id", "v", dim,
        threshold = 0.95)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 60).map(i => (2L * i, 2L * i + 1)).toSet
    val recall = planted.intersect(found).size
    assert(recall >= 54, s"recall $recall/60 below the documented curve")
  }

  test("minhash pairs: full recall on planted dups, no false positives") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6).cache()
    val found = pairs.select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact dups (i, i+20000) must all be found with jaccard 1.0
    val exactPlanted = (0L until 30L)
      .filter(i => corpus.filter($"doc_id" === i)
        .select(graft.functions.TextFunctions.wordShingles($"text", 3))
        .head().getSeq[String](0).nonEmpty)
      .map(i => (i, i + 20000L)).toSet
    assert(exactPlanted.subsetOf(found),
      s"missing: ${exactPlanted -- found}")
    // every reported pair must truly verify >= threshold
    assert(pairs.filter($"jaccard" < 0.6).count() == 0)
    val ones = pairs.filter($"id_b" === $"id_a" + 20000 && $"jaccard" < 1.0)
    assert(ones.count() == 0)
  }

  test("exactAgainst: batch rows with a corpus key are dropped, nulls group") {
    val hist = Seq((1L, Some("a"), 1), (2L, Some("b"), 2),
      (3L, None: Option[String], 3)).toDF("id", "k", "v")
    val batch = Seq((10L, Some("a"), 9), (11L, Some("c"), 9),
      (12L, None: Option[String], 9), (13L, Some("b"), 9))
      .toDF("id", "k", "v")
    def ids(bc: Boolean) = Dedup.exactAgainst(batch, hist, Seq("k"),
        broadcastBatch = bc)
      .select($"id").collect().map(_.getLong(0)).toSet
    // "a"/"b" exist in history; the NULL key groups with history's
    // null row (exact()'s grouping semantics); only "c" survives
    assert(ids(bc = true) == Set(11L))
    assert(ids(bc = false) == Set(11L))
    // multi-column keys: (k, v) tuples — nothing collides now except
    // nothing (batch v=9 differs), so all batch rows survive
    assert(Dedup.exactAgainst(batch, hist, Seq("k", "v")).count() == 4)
    // batch schema/content passes through untouched for survivors
    val out = Dedup.exactAgainst(batch, hist, Seq("k"))
    assert(out.columns.toSeq == Seq("id", "k", "v"))
    assert(out.head().getLong(0) == 11L)
  }

  test("minhashPairsAgainst == brute-force cross jaccard, both paths") {
    // new batch = the planted copies, corpus = the originals; truth =
    // exhaustive cross jaccard on word 3-shingles
    val newBatch = corpus.filter($"doc_id" >= 10000)
    val hist = corpus.filter($"doc_id" < 10000)
    import graft.functions.TextFunctions
    def shingles(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", TextFunctions.wordShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val truth = (for {
      (nId, nSh) <- shingles(newBatch); (cId, cSh) <- shingles(hist)
      j = (nSh & cSh).size.toDouble / (nSh | cSh).size
      if j >= 0.6
    } yield (nId, cId)).toSet
    assert(truth.nonEmpty)
    def run(bc: Boolean) = Dedup.minhashPairsAgainst(newBatch, hist,
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6,
        broadcastNew = bc)
      .select($"id_new", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run(bc = true)
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    // the shuffled-new path (backfill-sized batch) answers identically
    assert(run(bc = false) == truth)
    // no corpus-internal or batch-internal pairs can appear
    assert(got.forall { case (n, c) => n >= 10000 && c < 10000 })
  }

  test("minhash index round-trips through parquet, same screen result") {
    val newBatch = corpus.filter($"doc_id" >= 10000)
    val hist = corpus.filter($"doc_id" < 10000)
    val inline = Dedup.minhashPairsAgainst(newBatch, hist, "doc_id",
        "text", numHashes = 64, bands = 32, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // persist the index once, read it back, screen against it — the
    // ingestion-cadence path must answer identically
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mh_index").toString
    Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 64,
      bands = 32).write.mode("overwrite").parquet(dir)
    val fromDisk = Dedup.minhashPairsAgainstIndex(newBatch, hist,
        spark.read.parquet(dir), "doc_id", "text", numHashes = 64,
        bands = 32, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == inline && inline.nonEmpty)
  }

  test("minhash index: param mismatch throws, legacy index gated") {
    val newBatch = corpus.filter($"doc_id" >= 10000)
    val hist = corpus.filter($"doc_id" < 10000)
    val idx = Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 64,
      bands = 32)
    // screening with different bands would silently lose recall —
    // the embedded build params must fail the call fast instead
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(newBatch, hist, idx, "doc_id",
        "text", numHashes = 64, bands = 16, threshold = 0.6)
    }
    assert(e.getMessage.contains("screened with"))
    // a param-less index is REJECTED by default (it could be a
    // pre-versioning persist whose hash family no longer matches —
    // the silent-zero-candidates trap)...
    val legacy = idx.drop(idx.columns.filter(_.startsWith("__")): _*)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(newBatch, hist, legacy,
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
    }
    assert(e2.getMessage.contains("acceptUnvalidated"))
    // ...and runs only on the explicit hand-built opt-in
    val got = Dedup.minhashPairsAgainstIndex(newBatch, hist, legacy,
      "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6,
      acceptUnvalidated = true)
    assert(got.count() > 0)
  }

  test("minhash index: stale format and mixed-param unions fail fast") {
    val newBatch = corpus.filter($"doc_id" >= 10000)
    val hist = corpus.filter($"doc_id" < 10000)
    val idx = Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 64,
      bands = 32)
    // an index persisted by an older library (param columns but a
    // missing/different __fmt — e.g. the pre-d0911a9 hash family with
    // identical build params) must fail with a rebuild message, not
    // screen into ~zero shared buckets
    val stale = idx.drop("__fmt")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(newBatch, hist, stale, "doc_id",
        "text", numHashes = 64, bands = 32, threshold = 0.6)
    }
    assert(e.getMessage.contains("__fmt") &&
      e.getMessage.contains("older graft version"))
    val wrongFmt = idx.withColumn("__fmt", lit(1))
    val e1 = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(newBatch, hist, wrongFmt, "doc_id",
        "text", numHashes = 64, bands = 32, threshold = 0.6)
    }
    assert(e1.getMessage.contains("__fmt"))
    // a union of differently-parameterized builds breaks the
    // constant-param invariant — every distinct tuple is validated,
    // so the limit(1)-style single-row sample cannot be fooled
    val mixed = idx.unionByName(
      Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 64,
        bands = 32, seed = 43L))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(newBatch, hist, mixed, "doc_id",
        "text", numHashes = 64, bands = 32, threshold = 0.6)
    }
    assert(e2.getMessage.contains("distinct build-param"))
    // cap mismatch on UPDATE throws (merge re-applies the caller's
    // cap, so update≡rebuild only holds cap-for-cap); the screen,
    // which has no cap parameter, accepts any constant cap
    val e3 = intercept[IllegalArgumentException] {
      Dedup.minhashIndexUpdate(
        Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 64,
          bands = 32, maxBucketSize = 500),
        newBatch, "doc_id", "text", numHashes = 64, bands = 32,
        maxBucketSize = 1000)
    }
    assert(e3.getMessage.contains("__maxBucketSize"))
  }

  test("index param memo: params checked every call, rewrites re-read, " +
    "a cycle-written index is a hit") {
    import java.nio.file.Files
    val hist = corpus.filter($"doc_id" < 10000)
    val newBatch = corpus.filter($"doc_id" >= 10000)
    val dir = Files.createTempDirectory("graft_mh_memo").toString + "/idx"
    def build() = Dedup.minhashIndex(hist, "doc_id", "text",
      numHashes = 64, bands = 32).write.mode("overwrite").parquet(dir)
    // minhashIndexUpdate is lazy but for its validation, so the jobs it
    // runs are the validation's (the read runs outside the count)
    def updateJobs(bands: Int): Int = {
      val idx = spark.read.parquet(dir)
      jobsDuring { Dedup.minhashIndexUpdate(idx, newBatch, "doc_id",
        "text", numHashes = 64, bands = bands) }
    }
    build()
    assert(updateJobs(32) > 0, "first read of a file set validates")
    assert(updateJobs(32) == 0, "same files: memo hit")
    // memoized files, different params: the check still runs and throws
    val e = intercept[IllegalArgumentException](updateJobs(16))
    assert(e.getMessage.contains("screened with"))
    // a rewrite has new part files: read and validated again
    build()
    assert(updateJobs(32) > 0, "rewritten index must be validated again")
    assert(updateJobs(32) == 0)
    // an index an admission cycle swap-wrote is registered by the cycle
    val corpusDir = Files.createTempDirectory("graft_mh_memo_c").toString
    hist.write.mode("overwrite").parquet(corpusDir)
    graft.streaming.Admission.admitBatch(newBatch, corpusDir, dir,
      "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6,
      dedupWithinBatch = false)
    assert(updateJobs(32) == 0, "cycle-written index must be a memo hit")
  }


  /** embedding corpus + planted scaled copies (scaling preserves
    * direction → cosine 1 with the original) — mirrors q118/q119 */
  private lazy val embCorpus = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select($"vec_id", $"embedding").cache()
  private lazy val embBatch = embCorpus.filter($"vec_id" < 20)
    .select(($"vec_id" + 10000).as("vec_id"),
      transform($"embedding", x => x * lit(2.0f)).as("embedding"))
    .cache()

  private def cosTruth(threshold: Double): Set[(Long, Long)] = {
    def vecs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    (for { (n, vn) <- vecs(embBatch); (c, vc) <- vecs(embCorpus)
           if cos(vn, vc) >= threshold } yield (n, c)).toSet
  }

  test("embeddingPairsAgainst == brute-force cross cosine, both paths") {
    val truth = cosTruth(0.95)
    assert(truth.nonEmpty)
    def run(bc: Boolean) = Dedup.embeddingPairsAgainst(embBatch,
        embCorpus, "vec_id", "embedding", dim = 64, threshold = 0.95,
        broadcastNew = bc)
      .select($"id_new", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run(bc = true)
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    assert(run(bc = false) == truth)
    // no corpus-internal or batch-internal pairs can appear
    assert(got.forall { case (n, c) => n >= 10000 && c < 10000 })
  }

  test("embedding index round-trips through parquet; param mismatch throws") {
    val inline = Dedup.embeddingPairsAgainst(embBatch, embCorpus,
        "vec_id", "embedding", dim = 64, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_emb_index").toString
    Dedup.embeddingIndex(embCorpus, "vec_id", "embedding", dim = 64)
      .write.mode("overwrite").parquet(dir)
    val idx = spark.read.parquet(dir)
    val fromDisk = Dedup.embeddingPairsAgainstIndex(embBatch, embCorpus,
        idx, "vec_id", "embedding", dim = 64, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == inline && inline.nonEmpty)
    // screening with different LSH params must fail fast
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingPairsAgainstIndex(embBatch, embCorpus, idx,
        "vec_id", "embedding", dim = 64, threshold = 0.95, nTables = 4)
    }
    assert(e.getMessage.contains("screened with"))
    // a hand-built (code, ids) index is gated behind the explicit
    // opt-in (param-less = possibly a stale-format persist)
    val legacy = idx.drop(idx.columns.filter(_.startsWith("__")): _*)
    intercept[IllegalArgumentException] {
      Dedup.embeddingPairsAgainstIndex(embBatch, embCorpus, legacy,
        "vec_id", "embedding", dim = 64, threshold = 0.95)
    }
    val got = Dedup.embeddingPairsAgainstIndex(embBatch, embCorpus,
      legacy, "vec_id", "embedding", dim = 64, threshold = 0.95,
      acceptUnvalidated = true)
    assert(got.count() == inline.size)
  }

  test("minhashIndexUpdate == rebuild, bucket for bucket, incl. dead buckets") {
    val c1 = corpus.filter($"doc_id" % 2 === 0)
    val c2 = corpus.filter($"doc_id" % 2 =!= 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .drop(df.columns.filter(_.startsWith("__")): _*)
      .collect()
      .map(r => ((r.get(0), r.get(1)),
        (r.getSeq[Long](2).sorted, r.getLong(3)))).toMap
    // cap=2 forces oversized (dead) buckets: the planted dup pairs
    // plus any natural collision exceed it, so the update must keep
    // those buckets dead exactly where a rebuild would
    for (cap <- Seq(1000, 2)) {
      val rebuilt = key(Dedup.minhashIndex(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, maxBucketSize = cap))
      val updated = key(Dedup.minhashIndexUpdate(
        Dedup.minhashIndex(c1, "doc_id", "text", numHashes = 64,
          bands = 32, maxBucketSize = cap),
        c2, "doc_id", "text", numHashes = 64, bands = 32,
        maxBucketSize = cap))
      assert(updated == rebuilt, s"cap=$cap: update diverged from rebuild")
      if (cap == 2) // the adversarial cap really did kill buckets
        assert(rebuilt.values.exists { case (ids, n) => ids.isEmpty && n > 2 })
    }
    // param mismatch on update fails fast too
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexUpdate(
        Dedup.minhashIndex(c1, "doc_id", "text", numHashes = 64, bands = 32),
        c2, "doc_id", "text", numHashes = 64, bands = 16)
    }
    assert(e.getMessage.contains("screened with"))
  }

  test("partitioned index update rewrites only dirty partitions, == rebuild") {
    // build on the corpus minus a 3-doc batch, persist PARTITIONED,
    // fold the batch in IN PLACE: the result read back from disk must
    // equal a full rebuild bucket-for-bucket, the untouched layout
    // partitions' files must be byte-identical (same names — never
    // rewritten), and the dirty set must be batch-bounded (3 docs x
    // 32 bands = <=96 bucket keys over 256 partitions, not all 256).
    val batch = corpus.filter($"doc_id".isin(3L, 7L, 11L))
    val hist = corpus.filter(!$"doc_id".isin(3L, 7L, 11L))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mh_index_part").toString
    Dedup.indexWritePartitioned(
      Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 64,
        bands = 32),
      dir, numParts = 256)
    def files(): Map[String, Set[String]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("part="))
        .map(d => d.getName ->
          d.listFiles().map(f => s"${f.getName}:${f.length}").toSet)
        .toMap
    }
    val before = files()
    val stats = Dedup.minhashIndexUpdatePartitioned(spark, dir, batch,
      "doc_id", "text", numHashes = 64, bands = 32, numParts = 256)
    assert(stats.totalPartitions == 256)
    assert(stats.dirtyPartitions > 0 && stats.dirtyPartitions <= 96,
      s"dirty=${stats.dirtyPartitions} is not batch-bounded")
    val after = files()
    val dirtyDirs = after.keySet.filter(p =>
      before.get(p) != after.get(p))
    assert(dirtyDirs.size <= stats.dirtyPartitions)
    // clean partitions: identical file names and sizes — untouched
    val clean = before.keySet -- dirtyDirs
    assert(clean.nonEmpty && clean.forall(p => before(p) == after(p)))
    // equivalence: on-disk result == full rebuild, bucket for bucket
    def key(df: org.apache.spark.sql.DataFrame) = df
      .drop("part")
      .drop(df.columns.filter(_.startsWith("__")): _*)
      .collect()
      .map(r => ((r.get(0), r.get(1)),
        (r.getSeq[Long](2).sorted, r.getLong(3)))).toMap
    val rebuilt = key(Dedup.minhashIndex(corpus, "doc_id", "text",
      numHashes = 64, bands = 32))
    assert(key(spark.read.parquet(dir)) == rebuilt)
    // layout-param mismatch fails fast like every other param
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexUpdatePartitioned(spark, dir, batch,
        "doc_id", "text", numHashes = 64, bands = 32, numParts = 64)
    }
    assert(e.getMessage.contains("__numParts"))
    // an unpartitioned persist is told to use the right path
    val plain = java.nio.file.Files
      .createTempDirectory("graft_mh_index_plain").toString
    Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 64,
      bands = 32).write.mode("overwrite").parquet(plain)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashIndexUpdatePartitioned(spark, plain, batch,
        "doc_id", "text", numHashes = 64, bands = 32)
    }
    assert(e2.getMessage.contains("not partitioned"))
    // r12 review fix: wrong params refuse BEFORE any write even when
    // the dirty-pruned validation would be vacuous — the empty batch
    // is the deterministic member of that class (zero dirty
    // partitions; an all-new-dirty batch is the probabilistic one).
    // The guard is the head-stamp check, not the pruned scan.
    val e3 = intercept[IllegalArgumentException] {
      Dedup.minhashIndexUpdatePartitioned(spark, dir,
        batch.filter($"doc_id" < 0), "doc_id", "text",
        numHashes = 32, bands = 32, numParts = 256)
    }
    assert(e3.getMessage.contains("mixed-param state"))
  }

  test("partitioned embedding index update == rebuild from disk") {
    val batch = embCorpus.filter($"vec_id" < 10)
    val hist = embCorpus.filter($"vec_id" >= 10)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_emb_index_part").toString
    Dedup.indexWritePartitioned(
      Dedup.embeddingIndex(hist, "vec_id", "embedding", dim = 64),
      dir, numParts = 128)
    val stats = Dedup.embeddingIndexUpdatePartitioned(spark, dir, batch,
      "vec_id", "embedding", dim = 64, numParts = 128)
    // 10 vectors x 8 tables = <=80 codes over 128 partitions
    assert(stats.dirtyPartitions > 0 && stats.dirtyPartitions <= 80)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .drop("part")
      .drop(df.columns.filter(_.startsWith("__")): _*)
      .collect()
      .map(r => (r.get(0), (r.getSeq[Long](1).sorted, r.getLong(2)))).toMap
    val rebuilt = key(Dedup.embeddingIndex(embCorpus, "vec_id",
      "embedding", dim = 64))
    assert(key(spark.read.parquet(dir)) == rebuilt)
    // head-stamp guard, embedding face (shared core with the minhash
    // pin): wrong params refuse before any write even when the
    // dirty-pruned validation would be vacuous (empty batch)
    val eGuard = intercept[IllegalArgumentException] {
      Dedup.embeddingIndexUpdatePartitioned(spark, dir,
        batch.filter($"vec_id" < 0), "vec_id", "embedding", dim = 64,
        nTables = 4, numParts = 128)
    }
    assert(eGuard.getMessage.contains("mixed-param state"))
    // and the screen accepts the partitioned read-back unchanged
    val truth = cosTruth(0.95)
    val got = Dedup.embeddingPairsAgainstIndex(embBatch, embCorpus,
        spark.read.parquet(dir), "vec_id", "embedding", dim = 64,
        threshold = 0.95)
      .select($"id_new", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth)
  }

  test("embeddingIndexUpdate == rebuild, bucket for bucket") {
    val c1 = embCorpus.filter($"vec_id" % 2 === 0)
    val c2 = embCorpus.filter($"vec_id" % 2 =!= 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .drop(df.columns.filter(_.startsWith("__")): _*)
      .collect()
      .map(r => (r.get(0), (r.getSeq[Long](1).sorted, r.getLong(2)))).toMap
    for (cap <- Seq(10000, 2)) {
      val rebuilt = key(Dedup.embeddingIndex(embCorpus, "vec_id",
        "embedding", dim = 64, maxBucketSize = cap))
      val updated = key(Dedup.embeddingIndexUpdate(
        Dedup.embeddingIndex(c1, "vec_id", "embedding", dim = 64,
          maxBucketSize = cap),
        c2, "vec_id", "embedding", dim = 64, maxBucketSize = cap))
      assert(updated == rebuilt, s"cap=$cap: update diverged from rebuild")
    }
  }

  test("exactAgainst escape hatch: broadcastBatch=false shuffles both joins") {
    val hist = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    val batch = Seq((10L, "a"), (11L, "c")).toDF("id", "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bc = Dedup.exactAgainst(batch, hist, Seq("k"))
        .queryExecution.executedPlan.toString
      assert(bc.contains("BroadcastHashJoin"),
        s"default path lost its broadcasts:\n$bc")
      // backfill-sized batch: the hit set is batch-key-bounded too, so
      // BOTH the semi and the anti join must follow the escape hatch
      val shuf = Dedup.exactAgainst(batch, hist, Seq("k"),
          broadcastBatch = false)
        .queryExecution.executedPlan.toString
      assert(!shuf.contains("BroadcastHashJoin"),
        s"escape hatch still broadcasts a join:\n$shuf")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("minhash dedup removes one side of each dup cluster") {
    val r = Dedup.minhashDedup(corpus, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6)
    // representatives keep the min doc_id: originals survive
    assert(r.filter($"doc_id" >= 20000).count() == 0)
    assert(r.count() < corpus.count())
  }

  test("simhash pairs: exact dups at distance 0, verified <= k") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxDistance = 3)
      .cache()
    assert(pairs.filter($"hamming" > 3).count() == 0)
    val zero = pairs.filter($"id_b" === $"id_a" + 20000)
    assert(zero.filter($"hamming" =!= 0).count() == 0)
    assert(zero.count() == 30)
  }

  test("clusterSizes: component representative -> member count") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val sizes = Dedup.clusterSizes(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 4L, 10L -> 2L))
  }

  test("connected components: min-label propagation on a path graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    // driver union-find path (small graph) and distributed min-label
    // loop (forced with threshold 0) must agree
    for (thr <- Seq(1L << 20, 0L)) {
      val cc = Dedup.connectedComponentMinLabel(edges,
          driverThreshold = thr).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L && cc(4L) == 1L,
        s"thr=$thr: $cc")
      assert(cc(10L) == 10L && cc(11L) == 10L, s"thr=$thr: $cc")
    }
  }

  test("connected components: long chain (diameter >> 10) converges") {
    // a 40-hop path: the pre-fix loop stopped silently at maxIter=10
    // with half-merged labels; pointer jumping must converge in
    // O(log 40) rounds on the forced-distributed path
    val edges = (1L until 41L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentMinLabel(edges, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 41 && cc.values.forall(_ == 1L), s"bad labels: $cc")
  }

  test("connected components: string ids take the distributed path") {
    // the driver union-find keys on longs — string ids must route to
    // the min-label loop (not NPE) and label by lexicographic min
    val edges = Seq(("url_b", "url_a"), ("url_b", "url_c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentMinLabel(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc("url_a") == "url_a" && cc("url_b") == "url_a" &&
      cc("url_c") == "url_a" && cc("x") == "x" && cc("y") == "x", s"$cc")
  }

  test("incremental CC: update == rebuild on randomized splits") {
    val rng = new scala.util.Random(406)
    for (round <- 1 to 3) {
      val n = 60
      val all = (1 to 80).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct
      val (old, batch) = all.splitAt(all.length / 2)
      val labels = Dedup.connectedComponentMinLabel(
        old.toDF("id_a", "id_b"))
      val got = Dedup.connectedComponentMinLabelUpdate(labels,
          batch.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Dedup.connectedComponentMinLabel(
          all.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"round $round")
    }
  }

  test("incremental CC: within-component pairs no-op; new-node merges") {
    val labels = Dedup.connectedComponentMinLabel(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
    // (1,3) is already one component — labeling must be unchanged
    val same = Dedup.connectedComponentMinLabelUpdate(labels,
        Seq((1L, 3L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L))
    // (3,10) bridges the two components; (20,21) is a brand-new one
    val merged = Dedup.connectedComponentMinLabelUpdate(labels,
        Seq((3L, 10L), (20L, 21L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      11L -> 1L, 20L -> 20L, 21L -> 20L))
    // schema contract is loud
    intercept[IllegalArgumentException] {
      Dedup.connectedComponentMinLabelUpdate(
        Seq((1L, 2L)).toDF("a", "b"),
        Seq((1L, 2L)).toDF("id_a", "id_b"))
    }
  }

  test("simhash pairs: bucket cap drops candidates, never corrupts") {
    val all = Dedup.simhashPairs(corpus, "doc_id", "text", maxDistance = 3)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhashPairs(corpus, "doc_id", "text",
        maxDistance = 3, maxBucketSize = 40)
      .cache()
    val cappedSet = capped.select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped candidates ⊆ uncapped, and every survivor still verifies
    assert(cappedSet.subsetOf(all), s"extra: ${cappedSet -- all}")
    assert(capped.filter($"hamming" > 3).count() == 0)
  }

  test("simhash bucket cap CAN drop true pairs — the documented recall trade") {
    // adversarial: 6 IDENTICAL docs, so every (chunk, key) bucket holds
    // all 6 ids. A cap below 6 skips EVERY bucket — the true hamming-0
    // pairs are lost. This pins that the guard trades RECALL (drops
    // pairs), never correctness (the cap-subset test above), and that
    // "a true pair still surfaces from selective chunks" fails exactly
    // when all of a pair's chunks are hot — the documented residual.
    val same = (1L to 6L).map(i => (i, "the exact same boilerplate text"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.simhashPairs(same, "doc_id", "text", maxDistance = 3)
    assert(uncapped.count() == 15) // C(6,2), all hamming 0
    val capped = Dedup.simhashPairs(same, "doc_id", "text",
      maxDistance = 3, maxBucketSize = 5)
    assert(capped.count() == 0)
  }

  test("simhash randomized recall: banded search == brute force " +
    "(hash-family regression)") {
    // The minhash lesson (d0911a9) applied to the one sketch family
    // previously proven only on planted fixtures: RANDOM token sets
    // with a controlled perturbation, so nothing about where tokens
    // hash is baked into the expectation. 60 bases of 100 random
    // tokens; each perturbed copy replaces 1..8 random tokens, which
    // lands fingerprint Hamming distances on BOTH sides of the
    // maxDistance=3 cutoff (asserted below) — the pigeonhole banding
    // (chunks = maxDistance+1) guarantees 100% candidate recall at
    // dist <= 3 and exact verification kills the rest, so banded
    // search must equal the brute-force fingerprint scan EXACTLY.
    val rnd = new scala.util.Random(11)
    val docs = (0 until 60).flatMap { i =>
      val toks = Array.fill(100)("t" + rnd.nextLong().toHexString)
      val pert = toks.clone()
      val r = 1 + rnd.nextInt(8)
      (0 until r).foreach { _ =>
        pert(rnd.nextInt(100)) = "p" + rnd.nextLong().toHexString }
      Seq((2L * i, toks.mkString(" ")), (2L * i + 1, pert.mkString(" ")))
    }
    val df = docs.toDF("id", "text").cache()
    // ground truth: exact Hamming over ALL fingerprint pairs
    val fp = df.select($"id",
        graft.functions.TextFunctions.simhash($"text").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val truth = (for { (i, si) <- fp; (j, sj) <- fp
                       if i < j && ham(si, sj) <= 3 } yield (i, j)).toSet
    // the perturbation spread must straddle the cutoff, or the
    // equality below pins nothing on one side
    val planted = (0 until 60).map(i => (2L * i, 2L * i + 1)).toSet
    assert((planted & truth).size >= 10, "too few pairs under the cutoff")
    assert((planted -- truth).size >= 10, "too few pairs over the cutoff")
    // a degenerate fingerprint (biased/constant bits — the simhash
    // analogue of the minhash monotone-permutation bug) would pull
    // unrelated-pair distances far off the binomial mean of 32
    // (std 4; the mean of ~1700 independent-ish pairs is tight)
    val unrel = for { (i, si) <- fp; (j, sj) <- fp
                      if i < j && (i / 2) != (j / 2) } yield ham(si, sj)
    val mean = unrel.map(_.toDouble).sum / unrel.size
    assert(mean > 28 && mean < 36, s"unrelated-pair mean distance $mean " +
      "is far from the unbiased-binomial 32 — degenerate fingerprint?")
    assert(unrel.min >= 8, "two unrelated 100-token docs nearly collide")
    val found = Dedup.simhashPairs(df, "id", "text", maxDistance = 3)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth,
      s"missing=${truth -- found} extra=${found -- truth}")
  }

  test("global span dedup cuts later occurrences, keeps first") {
    // span size 2: doc 1 owns both its spans; doc 2 repeats doc 1's
    // first span (cut) and keeps its own; doc 3 duplicates doc 1
    // entirely (emptied); doc 4 repeats a span WITHIN itself (second
    // occurrence cut). Case-insensitive via tokens() normalization;
    // the extra column rides through untouched.
    val d = Seq(
      (1L, "A b c d", "k1"), (2L, "a B x y", "k2"),
      (3L, "a b c d", "k3"), (4L, "p q p q", "k4")
    ).toDF("doc_id", "text", "tag")
    val r = Dedup.dedupSpansGlobal(d, "doc_id", "text", spanTokens = 2)
      .orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("text"),
        x.getAs[String]("tag"))).toSeq
    assert(r == Seq((1L, "a b c d", "k1"), (2L, "x y", "k2"),
      (3L, "", "k3"), (4L, "p q", "k4")), s"got $r")
  }

  test("keepCol dedup keeps the argmax-quality row, min id on ties") {
    // exact: two content groups; scores pick doc 3 over 1/2, tie 5/6
    val d = Seq(
      (1L, "same text here", 0.2), (2L, "same text here", 0.5),
      (3L, "same text here", 0.9),
      (5L, "other words entirely", 0.7), (6L, "other words entirely", 0.7)
    ).toDF("doc_id", "text", "q")
    val kept = Dedup.exact(d, Seq("text"), "doc_id", keepCol = "q")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(3L, 5L))
    // default policy unchanged: min id
    val minKept = Dedup.exact(d, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(minKept === Array(1L, 5L))
    // minhash component keep-best: near-dup cluster {10,11,12}, the
    // middle-quality exact text tie resolves by min id within ties
    val c = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta", 0.3),
      (11L, "alpha beta gamma delta epsilon zeta eta iota", 0.8),
      (12L, "alpha beta gamma delta epsilon zeta eta theta", 0.3),
      (20L, "completely different content lives over here now", 0.1)
    ).toDF("doc_id", "text", "q")
    val best = Dedup.minhashDedup(c, "doc_id", "text",
        threshold = 0.6, keepCol = "q")
      .select("doc_id").as[Long].collect().sorted
    assert(best === Array(11L, 20L))
  }

  test("decontaminate drops overlapping docs, keeps the rest verbatim") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma zeta eta"), // shares 2 shingles with eval
      (3L, "one two three four five"),
      (4L, "totally unrelated words here now"),
      (5L, "hi")                          // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    // minOverlap=2: doc 1 (all shingles shared) and doc 2 (shares
    // 'alpha beta gamma' + ... only 1 shingle: 'alpha beta gamma');
    // doc 2 shares exactly one 3-gram, so it SURVIVES at 2
    val kept2 = Dedup.decontaminate(corpus, evalSet, "doc_id", "text",
      shingleLen = 3, minOverlap = 2)
    assert(kept2.select("doc_id").as[Long].collect().sorted
      === Array(2L, 3L, 4L, 5L))
    // minOverlap=1 also drops doc 2; shingle-less docs always survive
    val kept1 = Dedup.decontaminate(corpus, evalSet, "doc_id", "text",
      shingleLen = 3, minOverlap = 1)
    assert(kept1.select("doc_id").as[Long].collect().sorted
      === Array(3L, 4L, 5L))
    // schema passes through unchanged
    assert(kept1.columns === corpus.columns)
  }

  test("decontaminateBloom: confirmExact == exact; unconfirmed only over-removes") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma zeta eta"),
      (3L, "one two three four five"),
      (4L, "totally unrelated words here now"),
      (5L, "hi")
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    for (mo <- Seq(1, 2)) {
      val exact = ids(Dedup.decontaminate(corpus, evalSet, "doc_id", "text",
        shingleLen = 3, minOverlap = mo))
      // exact confirmation: the Bloom pass is a pure prefilter
      val confirmed = ids(Dedup.decontaminateBloom(corpus, evalSet,
        "doc_id", "text", shingleLen = 3, minOverlap = mo))
      assert(confirmed == exact, s"minOverlap=$mo")
      // no confirmation: no false negatives -> never KEEPS extra
      // (false positives may only drop extra docs)
      val unconfirmed = ids(Dedup.decontaminateBloom(corpus, evalSet,
        "doc_id", "text", shingleLen = 3, minOverlap = mo,
        confirmExact = false))
      assert(unconfirmed.subsetOf(exact), s"minOverlap=$mo")
    }
    // a filter sized this small has ~zero fpp on 3 shingles: the
    // unconfirmed path matches exactly here (sanity, not a guarantee)
    assert(ids(Dedup.decontaminateBloom(corpus, evalSet, "doc_id", "text",
      shingleLen = 3, minOverlap = 1, fpp = 0.001, confirmExact = false))
      == Set(3L, 4L, 5L))
    // plan pin (mirrors the stream screen's): the prefilter probe is
    // the NATIVE might_contain expression via the shared BloomDigest
    // builder — codegen'd, pushdown-transparent — not a closure UDF.
    // Pinned on the extracted scan-side stage: the full operator
    // materializes the contaminated set eagerly, so the probe never
    // survives into the final anti-join plan.
    val evalSh = evalSet.select(
      explode(graft.functions.TextFunctions.wordShingles($"text", 3))
        .as("tok")).distinct()
    val plan = Dedup.bloomPrefilteredShingles(corpus, "doc_id", "text",
        3, evalSh, 0.01)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"native probe missing:\n$plan")
    assert(!plan.contains("UDF"), s"closure UDF on the batch path:\n$plan")
  }

  test("portable simhash pairs uncapped == exhaustive all-pairs truth") {
    // pigeonhole recall is 1 with no bucket cap, and verification is
    // exact — so the bucketed pipeline must EQUAL the brute force
    // (the property q142's DuckDB oracle then replays end to end)
    import graft.functions.{TextFunctions => TF}
    val got = Dedup.simhashPairsPortable(corpus, "doc_id", "text",
        maxDistance = 3, maxBucketSize = Int.MaxValue)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fps = corpus.select($"doc_id",
        TF.simhashPortable($"text").as("fp")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    assert(truth.nonEmpty) // planted exact dups guarantee signal
  }

  test("jaccard blocked pairs respect the blocking column") {
    val d = Seq(
      (1L, "a b c d e", "blk1"), (2L, "a b c d e", "blk1"),
      (3L, "a b c d e", "blk2")).toDF("id", "text", "blk")
    val pairs = Dedup.jaccardPairs(d, "id", "text", "blk", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 3 is identical but in another block
  }

  test("containment pairs: catches inclusions symmetric jaccard misses") {
    // doc 2 is a verbatim excerpt of doc 1: every excerpt shingle is
    // in the source (containment 1.0) but symmetric Jaccard is
    // 3/12 = 0.25 — under any dedup threshold. doc 3 is unrelated.
    val d = Seq(
      (1L, "a b c d e f g h i j k l m n"), // 12 shingles
      (2L, "a b c d e"),                   // 3 shingles, all in doc 1
      (3L, "z y x w v u t")).toDF("id", "text")
    val got = Dedup.containmentPairs(d, "id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    val jac = Dedup.jaccardPairsExact(d, "id", "text", threshold = 0.5)
      .count()
    assert(jac == 0, "jaccard should MISS the inclusion (that gap is " +
      "the operator's reason to exist)")
    // the capped path re-verifies exactly: same answer
    val capped = Dedup.containmentPairs(d, "id", "text", threshold = 0.8,
        maxTokenBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("embedding pairs find planted duplicate vector") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dup = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 5000).as("vec_id"), $"embedding", $"label")
    val all = emb.unionByName(dup)
    val pairs = Dedup.embeddingPairs(all, "vec_id", "embedding",
      dim = 64, threshold = 0.999)
    val found = pairs.select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).map(i => (i, i + 5000L)).forall(found.contains))
  }

  test("embedding pairs: positively scaled dups collide in every table") {
    // scaling is exact in IEEE arithmetic → identical LSH codes in all
    // tables → recall 1 by construction, not by probability (the q51
    // oracle's premise)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dup = emb.filter($"vec_id" < 8)
      .select(($"vec_id" + 5000).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
    val all = emb.select($"vec_id", $"embedding").unionByName(dup)
    val pairs = Dedup.embeddingPairs(all, "vec_id", "embedding",
      dim = 64, threshold = 0.95).cache()
    val found = pairs.select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 8L).map(i => (i, i + 5000L)).forall(found.contains))
    // scaled pairs verify at cosine 1 (within rounding)
    assert(pairs.filter($"id_b" === $"id_a" + 5000 && $"cosine" < 0.9999999)
      .count() == 0)
  }

  test("prefix-filter jaccard pairs == exhaustive all-pairs truth") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", round($"jaccard", 9).as("j")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: single-block variant = exact all-pairs
    val truth = pairSet(Dedup.jaccardPairs(docs.withColumn("blk", lit(1)),
      "doc_id", "text", "blk", shingleLen = 3, threshold = 0.15))
    val prefix = pairSet(Dedup.jaccardPairsPrefix(docs, "doc_id", "text",
      shingleLen = 3, threshold = 0.15))
    assert(prefix == truth, s"prefix=${prefix.size} truth=${truth.size} " +
      s"missing=${truth -- prefix} extra=${prefix -- truth}")
    // count-based exact join, uncapped (trusted counts)...
    val counted = pairSet(Dedup.jaccardPairsExact(docs, "doc_id", "text",
      shingleLen = 3, threshold = 0.15))
    assert(counted == truth, s"counted=${counted.size} truth=${truth.size}")
    // ...and capped (candidates re-verified on full arrays)
    val capped = pairSet(Dedup.jaccardPairsExact(docs, "doc_id", "text",
      shingleLen = 3, threshold = 0.15, maxTokenBucket = 1000))
    assert(capped == truth, s"capped=${capped.size} truth=${truth.size}")
  }

  test("edge cases: empty / null / short / unicode inputs") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    import scala.jdk.CollectionConverters._
    def df(rows: Seq[(java.lang.Long, String)]) =
      spark.createDataFrame(rows.map { case (i, t) =>
        org.apache.spark.sql.Row(i, t) }.asJava, schema)

    // empty corpus: every pair finder returns an empty frame
    val empty = df(Nil)
    assert(Dedup.minhashPairs(empty, "id", "text").count() == 0)
    assert(Dedup.simhashPairs(empty, "id", "text").count() == 0)
    assert(Dedup.jaccardPairsExact(empty, "id", "text").count() == 0)
    assert(Dedup.exact(empty, Seq("text"), "id").count() == 0)

    // null text, blank text, sub-shingle-length text: never crash,
    // never pair; unicode near-dups still pair
    val weird = df(Seq(
      (1L: java.lang.Long, null),
      (2L: java.lang.Long, ""),
      (3L: java.lang.Long, "  one two  "),
      (4L: java.lang.Long, "héllo wörld ünïcode tëst héllo wörld ünïcode"),
      (5L: java.lang.Long, "héllo wörld ünïcode tëst héllo wörld ünïcode")))
    val pairs = Dedup.jaccardPairsExact(weird, "id", "text",
      shingleLen = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)))
    val mh = Dedup.minhashPairs(weird, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((4L, 5L)))
    // exact dedup keeps the null-text row (nulls form their own group)
    assert(Dedup.exact(weird, Seq("text"), "id").count() == 4)
  }

  test("editDistancePairs: FastSS candidates are exact vs brute force") {
    // substitution, deletion, insertion at dist 1; dist-2 pair caught
    // only at maxDist=2; empty string pairs with single char (dist 1)
    val d = Seq((1L, "cat"), (2L, "cut"), (3L, "ca"), (4L, "cart"),
      (5L, "dog"), (6L, "dg"), (7L, ""), (8L, "x")).toDF("id", "s")
    def brute(k: Int): Set[(Long, Long)] = {
      val rows = d.collect().map(r => r.getLong(0) -> r.getString(1))
      (for {
        (a, sa) <- rows; (b, sb) <- rows if a < b
        if levenshteinRef(sa, sb) <= k
      } yield (a, b)).toSet
    }
    for (k <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(d, "id", "s", maxDist = k)
        .select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(k), s"k=$k: missing=${brute(k) -- got} " +
        s"extra=${got -- brute(k)}")
    }
    // sanity on the fixture: known relations present at k=1
    val k1 = Dedup.editDistancePairs(d, "id", "s", maxDist = 1)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k1.contains((1L, 2L)) && k1.contains((1L, 3L)) &&
      k1.contains((1L, 4L)) && k1.contains((5L, 6L)) &&
      k1.contains((7L, 8L)))
    assert(!k1.contains((2L, 3L)) || levenshteinRef("cut", "ca") <= 1)
  }

  test("editDistancePairs: cap is an explicit trade, maxLen fails loud") {
    // 40 distinct 2-char keys sharing the single-deletion variant "a"
    // ("aX" minus X) — the uncapped DEFAULT must keep every pair of
    // them that is truly within dist 1; an explicit small cap drops
    // the shared bucket and with it those pairs (the documented
    // recall trade, now opt-in instead of silent)
    val hot = (0 until 40).map(i => (i.toLong, s"a${('A' + i).toChar}"))
      .toDF("id", "s")
    val full = Dedup.editDistancePairs(hot, "id", "s", maxDist = 1).count()
    assert(full == 40L * 39 / 2) // aX ~ aY for all pairs (substitution)
    val capped = Dedup.editDistancePairs(hot, "id", "s", maxDist = 1,
      maxBucketSize = 10).count()
    assert(capped < full, "cap did not change candidate generation")
    // a pathological long value fails loudly in-plan, not by exploding
    val doc = Seq((1L, "k" * 200), (2L, "key")).toDF("id", "s")
    val e = intercept[Exception] {
      Dedup.editDistancePairs(doc, "id", "s").count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxLen")), s"wrong failure: $e")
    // and a raised maxLen admits the same value
    assert(Dedup.editDistancePairs(doc, "id", "s", maxLen = 256)
      .count() == 0)
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("hash-keyed exact dedup equals groupBy-min truth") {
    val truth = corpus.groupBy($"text")
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.exact(corpus, Seq("text"), "doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(got == truth)
  }
}
