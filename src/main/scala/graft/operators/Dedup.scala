package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication suite for training-data pipelines (DRIVER-EXT,
  * SURVEY.md §2.12). Four families:
  *
  *  - exact: one hash aggregation on the dedup key
  *  - MinHash + LSH: shingle → signature → band-bucket join →
  *    Jaccard-verify (the standard near-dup pipeline; candidate
  *    generation is a self-join on (band, bucket) so the shuffle key
  *    cardinality scales with corpus size, never all-pairs)
  *  - SimHash: 64-bit signature + pigeonhole chunk join for
  *    Hamming-distance candidates
  *  - embedding cosine: hyperplane-LSH bucketing + cosine-verify
  *
  * All stages are DataFrame ops: narrow signature computation, then
  * shuffles keyed on bucket ids only. At 100 TB the all-pairs
  * verification happens only inside buckets; skewed buckets should be
  * handled by AQE skew-split (bucket sizes are data-dependent).
  */
object Dedup {

  /** exact dedup on `cols`: keep the row with min `idCol` per group —
    * deterministic canonical representative, unlike dropDuplicates.
    * With `keepCol` set, the kept row is the group's argmax of that
    * column instead (ties broken by min id) — training pipelines keep
    * the highest-quality copy, not the lowest-id one.
    *
    * Scale shape: the shuffle is keyed on the 8-byte xxhash64 of the
    * dedup key, not the raw key bytes — repartition(__h) satisfies the
    * window's ClusteredDistribution(__h, cols...) (hash cols are a
    * subset of the clustering cols), so no second exchange is added
    * and the partition-local sort resolves almost every comparison on
    * the hash. The raw columns stay in the window partition spec only
    * as the hash-collision tie-guard. */
  def exact(df: DataFrame, cols: Seq[String], idCol: String,
            keepCol: String = ""): DataFrame = {
    val h = xxhash64(cols.map(col): _*)
    val order = if (keepCol.isEmpty) Seq(col(idCol).asc)
                else Seq(col(keepCol).desc, col(idCol).asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h") +: cols.map(col): _*).orderBy(order: _*)
    df.withColumn("__h", h)
      .repartition(col("__h"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__h")
  }

  /** Incremental exact-dedup screen: drop NEW-batch rows whose dedup
    * key tuple already exists in the corpus — the exact sibling of
    * [[minhashPairsAgainst]] for ingestion cadence (the batch dedups
    * against history without re-deduplicating history).
    *
    * Shape at 100 TB: the batch's distinct keys (hash + raw tuple as
    * the collision guard, same key discipline as [[exact]]) broadcast
    * into ONE corpus scan via a semi join, which emits only the keys
    * actually hit — a set bounded by the BATCH size; the batch then
    * anti-joins that tiny hit set. The corpus is never shuffled and
    * never scanned twice. `broadcastBatch = false` flips to a
    * shuffled semi join for a backfill-sized "batch". */
  def exactAgainst(newDf: DataFrame, corpus: DataFrame,
                   cols: Seq[String],
                   broadcastBatch: Boolean = true,
                   hashKeys: Boolean = true): DataFrame =
    if (hashKeys)
      exactAgainstHashed(newDf, corpus, cols, broadcastBatch)
    else {
      // direct-key mode: plain equi-joins on the key columns
      // themselves, so the join distribution IS the raw key — a
      // corpus BUCKETED on the key joins with zero corpus-side
      // exchange and an IN-list probe prunes buckets (measured in
      // ScaleSmoke `bkt`). The right mode for narrow non-null keys
      // (the admission id screen: one long); the hashed default
      // remains right for wide text keys (8-byte shuffle rows) and
      // when null key tuples must collide (plain SQL equality never
      // matches null — a null-keyed batch row always survives here).
      val batchKeys = newDf.select(cols.map(newDf(_)): _*).distinct()
      val bk = if (broadcastBatch) broadcast(batchKeys) else batchKeys
      val hit = corpus.select(cols.map(corpus(_)): _*)
        .join(bk, cols, "left_semi").distinct()
      // hit is batch-key-bounded, exactly like the hashed path
      val h = if (broadcastBatch) broadcast(hit) else hit
      newDf.join(h, cols, "left_anti")
    }

  private def exactAgainstHashed(newDf: DataFrame, corpus: DataFrame,
                                 cols: Seq[String],
                                 broadcastBatch: Boolean): DataFrame = {
    val kNames = "__kh" +: cols.indices.map(i => s"__k$i")
    def keyed(d: DataFrame) =
      d.select(xxhash64(cols.map(d(_)): _*).as("__kh") +:
        cols.zipWithIndex.map { case (c, i) => d(c).as(s"__k$i") }: _*)
    // null-safe matching END TO END so a null key tuple collides with
    // a null corpus key, exactly like exact()'s window grouping would
    // (<=> is still a hash-join key, so both joins stay broadcastable)
    val batchKeys = keyed(newDf).distinct()
    val bk = if (broadcastBatch) broadcast(batchKeys) else batchKeys
    val ck = keyed(corpus)
    val hit = ck
      .join(bk, kNames.map(n => ck(n) <=> bk(n)).reduce(_ && _),
        "left_semi")
      .distinct()
    val withKeys = cols.zipWithIndex.foldLeft(
      newDf.withColumn("__kh", xxhash64(cols.map(col): _*))) {
      case (d, (c, i)) => d.withColumn(s"__k$i", col(c))
    }
    // hit is bounded by the batch's DISTINCT keys — broadcastable
    // exactly when the batch side was; for a backfill-sized batch
    // (broadcastBatch = false) the hit set can be backfill-sized too,
    // so the anti join must follow the same shuffled-join escape hatch.
    val h = if (broadcastBatch) broadcast(hit) else hit
    val cond = kNames.map(n => withKeys(n) <=> h(n)).reduce(_ && _)
    withKeys.join(h, cond, "left_anti")
      .drop(kNames: _*)
  }

  /** expand a bucket's collected id array into ordered unique pairs:
    * one hash aggregation + in-row expansion instead of a bucket
    * self-join (no join-row blowup on skewed buckets). Callers filter
    * bucket size into [2, cap] BEFORE this. */
  private[operators] def pairsFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1), i ->
          |  transform(slice(ids, i + 1, size(ids) - i), y ->
          |    struct(least(element_at(ids, i), y) AS a,
          |           greatest(element_at(ids, i), y) AS b))))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()

  /** Materialize `result` (localCheckpoint) and release the operator's
    * cached intermediates. Pair sets are small relative to the corpus,
    * so the eager barrier is cheap; in exchange, repeated operator
    * calls in a long-lived session do not accumulate storage memory
    * (the checkpoint blocks themselves are dropped by the
    * ContextCleaner once the result is garbage-collected). */
  private[operators] def materializeAndRelease(result: DataFrame,
                                               cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    out
  }

  /** candidate near-dup pairs by MinHash LSH, verified by exact
    * Jaccard on word `shingleLen`-grams. Returns (id_a, id_b, jaccard)
    * with id_a < id_b and jaccard >= threshold.
    *
    * Match `bands` to `threshold`: candidate recall at jaccard j is
    * 1 - (1 - j^(numHashes/bands))^bands, an S-curve centered near
    * (1/bands)^(bands/numHashes). The 64/16 defaults (4 rows/band)
    * fit threshold 0.8 (recall 0.9998 there, ~0.89 at 0.6); for a
    * 0.6 threshold use bands = 32 (2 rows/band — recall 1-6e-7 at
    * 0.6), as the catalog's screen queries do. Verification is exact,
    * so a too-coarse banding only loses recall, never precision. */
  /** `maxBucketSize`: band buckets larger than this are skipped during
    * candidate generation. Oversized buckets arise from high-frequency
    * shingles dominating a band's minima and contribute m^2 mostly-
    * false candidates; true near-dup pairs (which agree on most bands,
    * including selective rare-shingle ones) still surface from small
    * buckets. This is the standard LSH-dedup skew guard at corpus
    * scale. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, threshold: Double = 0.8,
                   seed: Long = 42L,
                   maxBucketSize: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    // raw projection spread first so the shingling itself runs wide
    // (ADVICE r18 — an exchange above the shingle projection leaves
    // wordShingles evaluating map-side in the narrow scan stage)
    val sh = shingledSpread(df, idCol, textCol, shingleLen)
      .cache() // reused for banding and for verification joins
    // band rows carry ONLY (id, band, bucket): the shingle payload
    // would otherwise be duplicated `bands` times through the shuffle
    val banded = sh
      .select(col("id"),
        explode(minhashBands(minhashSignature(col("sh"), numHashes, seed),
          bands, rows)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // pairs generated per bucket from a collected id array (one hash
    // aggregation) instead of a bucket self-join: no join-row blowup,
    // and the size guard is a cheap filter on the aggregated row.
    // Near-identical docs share most bands, so pairs are dedup'd
    // BEFORE the (expensive) jaccard verification.
    val cand = pairsFromBuckets(banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize)))
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    materializeAndRelease(verified, sh)
  }

  private def shingledFor(d: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int): DataFrame =
    d.select(col(idCol).as("id"),
        wordShingles(col(textCol), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)

  /** [[shingledFor]] with the parallelism guard applied to the RAW
    * (id, text) projection, not above the shingle projection —
    * ADVICE r18: with `spread(shingledFor(...))` the repartition
    * exchange sat ABOVE the shingles, so `wordShingles` still
    * evaluated map-side inside the narrow 1–3-partition scan stage
    * and only downstream banding/jaccard ran wide. Spreading the raw
    * projection first makes the shingling itself run at session
    * parallelism, and the exchange moves text bytes instead of the
    * strictly larger shingle arrays. `spread` still never shrinks
    * wide inputs, so a 100 TB corpus scan is untouched. */
  private def shingledSpread(d: DataFrame, idCol: String, textCol: String,
                             shingleLen: Int): DataFrame =
    shingledFor(Partitioning.spread(d.select(col(idCol), col(textCol))),
      idCol, textCol, shingleLen)

  private def bandedFor(s: DataFrame, numHashes: Int, bands: Int,
                        seed: Long): DataFrame =
    bandRows(s, col("id"), bandKeys(col("sh"), numHashes, bands, seed))

  /** a shingle array's LSH band keys: array of (band, bucket) */
  private def bandKeys(sh: Column, numHashes: Int, bands: Int,
                       seed: Long): Column =
    minhashBands(minhashSignature(sh, numHashes, seed), bands,
      numHashes / bands)

  /** one (id, band, bucket) row per element of the band-key array `bb` */
  private def bandRows(d: DataFrame, id: Column, bb: Column): DataFrame =
    d.select(id.as("id"), explode(bb).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))

  /** Index FORMAT version, stamped as `__fmt` alongside the build
    * params. Bumped whenever the hash family or bucket layout changes
    * incompatibly — the build params alone cannot capture that: after
    * the r7 minhash hash-family fix (d0911a9, mixed-width modulus →
    * true Z_p permutations) an index persisted by the old library has
    * identical (numHashes, bands, shingleLen, seed) yet shares ~zero
    * buckets with a batch banded by the new one, so a screen would
    * silently return no candidates. v1 = the pre-fix family
    * (retroactive; never stamped), v2 = the Z_p family. An index with
    * a different (or missing) `__fmt` fails fast with a rebuild
    * message instead. */
  private[graft] val MinhashIndexFormat = 2
  /** [[MinhashIndexFormat]]'s embedding sibling: versions the
    * hyperplane-code layout (table id in the code's high bits, Gaussian
    * planes drawn from the seeded generator). v1 = the r7 layout. */
  private[graft] val EmbeddingIndexFormat = 1

  // Param columns (__fmt, __numHashes, __bands, __shingleLen, __seed,
  // __maxBucketSize) are stamped into every minhashIndex row: constant
  // per index, so parquet RLE stores them for free, and they make the
  // "batch MUST use the same params" contract enforceable after a
  // round-trip through storage (validateIndexParams).

  /** bucket rows → the index's (ids, n) shape: `n` is the TRUE member
    * count; buckets over the skew cap keep their row but empty their
    * id list (`slice(ids, 1, 0)` = [] of the right element type).
    * Retaining dead buckets (instead of filtering them out) is what
    * makes [[minhashIndexUpdate]] exactly equivalent to a rebuild: an
    * update can tell "bucket was oversized" apart from "bucket was
    * empty", so a capped bucket stays dead no matter how the counts
    * accumulate. Screening explodes `ids`, so dead buckets contribute
    * zero candidates at zero cost. */
  private def capBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets.select(
      buckets.columns.filterNot(Set("ids")).map(col) :+
        when(size(col("ids")) <= maxBucketSize, col("ids"))
          .otherwise(slice(col("ids"), 1, 0)).as("ids") :+
        size(col("ids")).cast("long").as("n"): _*)

  private def rawIndex(corpus: DataFrame, idCol: String, textCol: String,
                       numHashes: Int, bands: Int, shingleLen: Int,
                       seed: Long, maxBucketSize: Int): DataFrame =
    capBuckets(
      // r18 opt (guide §2.5): the corpus often arrives as a small
      // single-file scan (1-3 partitions), which serialized the
      // 64-hash minhash banding on a handful of tasks (q115 probe:
      // one 3-task stage, 3.3 s exec of a 4.1 s query). spread never
      // shrinks wide inputs, so a 100 TB corpus scan is untouched;
      // the groupBy below shuffles anyway. r19: spread moved below
      // the shingle projection (shingledSpread) so the shingling
      // itself also runs wide (ADVICE r18).
      bandedFor(shingledSpread(corpus, idCol, textCol, shingleLen),
          numHashes, bands, seed)
        .groupBy(col("band"), col("bucket"))
        .agg(collect_list(col("id")).as("ids")),
      maxBucketSize)

  /** Build the corpus's persistable LSH index for incremental
    * screening: (band, bucket, ids, n) with the `maxBucketSize` skew
    * cap already applied (singleton buckets KEPT — any bucket can
    * match a future batch doc; oversized buckets keep their row with
    * the true count `n` and an emptied id list, so
    * [[minhashIndexUpdate]] can accumulate counts exactly). Write
    * this to parquet once and feed it to [[minhashPairsAgainstIndex]]
    * at every ingestion cycle — banding a 100 TB corpus is paid once,
    * not per batch — then fold each admitted batch in with
    * [[minhashIndexUpdate]]. The build params (numHashes/bands/
    * shingleLen/seed) are embedded as constant columns and VALIDATED
    * on use, so a batch screened with different params fails fast
    * instead of silently losing recall. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, seed: Long = 42L,
                   maxBucketSize: Int = 1000): DataFrame =
    stampMinhashParams(
      rawIndex(corpus, idCol, textCol, numHashes, bands, shingleLen, seed,
        maxBucketSize),
      numHashes, bands, shingleLen, seed, maxBucketSize)

  private def stampMinhashParams(index: DataFrame, numHashes: Int,
                                 bands: Int, shingleLen: Int, seed: Long,
                                 maxBucketSize: Int): DataFrame =
    index
      .withColumn("__fmt", lit(MinhashIndexFormat))
      .withColumn("__numHashes", lit(numHashes))
      .withColumn("__bands", lit(bands))
      .withColumn("__shingleLen", lit(shingleLen))
      .withColumn("__seed", lit(seed))
      .withColumn("__maxBucketSize", lit(maxBucketSize))

  /** Validate an index's embedded `__`-prefixed param columns and
    * strip them. Enforced, in order:
    *  - an index with NO param columns is rejected unless the caller
    *    explicitly opts in (`acceptUnvalidated`) — a param-less index
    *    is indistinguishable from one persisted by a pre-versioning
    *    library whose hash family this one no longer matches, and the
    *    failure mode is a silent ~zero-candidate screen;
    *  - EVERY distinct param tuple in the index is checked (one
    *    column-pruned scan of constant RLE columns + a partial-agg
    *    distinct — cheap at any scale), so an index accidentally
    *    assembled by unioning differently-parameterized builds fails
    *    instead of screening with mixed-recall buckets;
    *  - each param in `asked` must be present and equal; params the
    *    call does not ask about (the skew cap at screen time, or
    *    params added by a future format) only need to be constant.
    * An EMPTY index (zero rows) passes vacuously: there is nothing to
    * validate and every screen over it returns zero candidates.
    *
    * The tuple read is memoized per file set ([[indexParamTuple]]);
    * the `asked` check runs on every call. */
  private[operators] def validateIndexParams(index: DataFrame, what: String,
                                  asked: Seq[(String, Any)],
                                  acceptUnvalidated: Boolean): DataFrame = {
    val paramCols = index.columns.filter(_.startsWith("__")).toSeq
    if (paramCols.isEmpty) {
      require(acceptUnvalidated,
        s"$what: index carries no embedded __param columns, so its " +
          "hash family and build params cannot be validated — if it " +
          "was persisted by an older graft version, a screen against " +
          "it would silently return ~zero candidates. Rebuild it with " +
          "the current library, or pass acceptUnvalidated = true to " +
          "run a hand-built index on your own contract.")
      index
    } else {
      indexParamTuple(index, what).foreach { built =>
        asked.foreach { case (k, v) =>
          require(built.contains(k),
            s"$what: index lacks the $k param column — it was " +
              "persisted by an older graft version whose index format " +
              "this library no longer reads compatibly. Rebuild the " +
              "index (or pass acceptUnvalidated = true after dropping " +
              "the __param columns, on your own contract).")
          require(built(k) == v,
            s"$what: index was built with $k = ${built(k)} but the " +
              s"batch is being screened with $k = $v — candidate " +
              "recall would silently collapse. Rebuild the index or " +
              "match the batch params.")
        }
      }
      index.drop(paramCols: _*)
    }
  }

  /** Session-scoped memo of index param tuples, keyed on (the index's
    * input files, its `__` column names); the value is the one tuple
    * the files carry (None for a zero-row index). Only BARE file scans
    * are keyed — any transformation over the scan (a test's
    * `withColumn("__seed", …)`, a union, a filter) gets no key and is
    * always read, so a mutated plan can never ride a memoized tuple. A
    * rewritten index produces new part-file names (parquet writers
    * never reuse names), so the key misses and the rewrite is read
    * again. Bounded; a file set carrying mixed tuples is never stored
    * (the read throws). An admission loop re-reading the same
    * persisted index pays one tuple read per file set — and none for
    * an index it wrote itself ([[rememberIndexParams]]). */
  private val indexParams = new java.util.concurrent.ConcurrentHashMap[
    (Seq[String], Seq[String]), Option[Map[String, Any]]]()

  /** memo key when (and only when) the plan is a bare scan, possibly
    * under subquery aliases */
  private def paramKey(index: DataFrame): Option[(Seq[String], Seq[String])] = {
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case s: SubqueryAlias => strip(s.child)
      case other => other
    }
    strip(index.queryExecution.analyzed) match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        val files = index.inputFiles
        if (files.isEmpty) None
        else Some((files.sorted.toSeq,
          index.columns.filter(_.startsWith("__")).toSeq))
      case _ => None
    }
  }

  /** The one param tuple (`__` column → value) `index` carries, None
    * when it has zero rows; throws when its rows carry more than one.
    * Memoized per file set (see [[indexParams]]). */
  private[operators] def indexParamTuple(index: DataFrame, what: String)
  : Option[Map[String, Any]] = {
    val key = paramKey(index)
    key.flatMap(k => Option(indexParams.get(k))).getOrElse {
      val paramCols = index.columns.filter(_.startsWith("__")).toSeq
      // no .limit(3) guard here: a limit over a shuffle runs the
      // incremental try-1-then-2-then-4-partitions probe — FOUR jobs
      // per validation at gate scale. The distinct of constant-per-
      // build columns is bounded by the number of builds ever unioned
      // into the file set (1 for any graft-written index), so a plain
      // collect is one job and bytes.
      val tuples = index.select(paramCols.map(col): _*).distinct()
        .collect()
      require(tuples.length <= 1,
        s"$what: index carries ${tuples.length}+ distinct build-param " +
          s"tuples ${tuples.map(_.toString).mkString(", ")} over " +
          s"(${paramCols.mkString(", ")}) — it was assembled from " +
          "differently-parameterized builds (a union of indexes?) and " +
          "would screen with mixed-recall buckets. Rebuild from one " +
          "parameter set.")
      val tuple = tuples.headOption.map(r =>
        paramCols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
      key.foreach(remember(_, tuple))
      tuple
    }
  }

  private def remember(key: (Seq[String], Seq[String]),
                       tuple: Option[Map[String, Any]]): Unit =
    if (indexParams.size < 4096) indexParams.put(key, tuple)

  /** Register `written` — an index the caller just wrote from `source`
    * under `source`'s own params (every graft fold restamps the params
    * it validated) — so its next read is a memo hit instead of a
    * validation job. Registers nothing unless `source`'s tuple is
    * memoized and covers every `__` column of `written`. */
  private[graft] def rememberIndexParams(source: DataFrame,
                                         written: DataFrame): Unit =
    for {
      sk <- paramKey(source)
      tuple <- Option(indexParams.get(sk)).flatten
      wk <- paramKey(written)
      if wk._2.forall(tuple.contains)
    } remember(wk, Some(tuple.filter { case (c, _) => wk._2.contains(c) }))

  /** the asked-param list shared by the minhash screen and update:
    * format version first (clearest failure), then the band-family
    * params. The skew cap is asked only by the update (the screen has
    * no cap parameter — any constant cap is valid to screen). */
  private def minhashAsked(numHashes: Int, bands: Int, shingleLen: Int,
                           seed: Long): Seq[(String, Any)] =
    Seq("__fmt" -> MinhashIndexFormat, "__numHashes" -> numHashes,
      "__bands" -> bands, "__shingleLen" -> shingleLen, "__seed" -> seed)

  /** [[minhashPairsAgainst]] with a PREBUILT corpus index (from
    * [[minhashIndex]], typically read back from parquet): per-batch
    * cost is the batch's own banding, one broadcast join into the
    * index, and jaccard verification ([[verifyCandidates]]) that
    * touches corpus text only for candidate-matched ids — the corpus
    * is semi-joined to the candidate ids before any shingling, and
    * never re-banded. The index's embedded `__fmt` format version and
    * build params are validated against this library and this call's
    * params, and a mismatch (or an index carrying no param columns at
    * all) throws rather than silently reducing recall; pass
    * `acceptUnvalidated = true` to run a hand-built
    * (band, bucket, ids) index on your own contract. */
  def minhashPairsAgainstIndex(newDf: DataFrame, corpus: DataFrame,
                               corpusIndex: DataFrame,
                               idCol: String, textCol: String,
                               numHashes: Int = 64, bands: Int = 16,
                               shingleLen: Int = 3,
                               threshold: Double = 0.8,
                               seed: Long = 42L,
                               broadcastNew: Boolean = true,
                               acceptUnvalidated: Boolean = false): DataFrame = {
    val idx = validateIndexParams(corpusIndex, "minhashPairsAgainstIndex",
      minhashAsked(numHashes, bands, shingleLen, seed), acceptUnvalidated)
    screenAgainstIndex(newDf, corpus, idx, idCol, textCol, numHashes,
      bands, shingleLen, threshold, seed, broadcastNew)
  }

  /** Incrementally admit a screened batch into a persisted
    * [[minhashIndex]] WITHOUT re-banding the corpus — the index-
    * maintenance step that closes the ingestion loop (screen the
    * batch with [[minhashPairsAgainstIndex]], keep the survivors,
    * then fold exactly those rows into the index for the next cycle).
    * EXACTLY equivalent to rebuilding over (corpus ∪ batch): the
    * index keeps every bucket's true member count `n` (dead oversized
    * buckets keep their row with an emptied id list), so merged
    * counts accumulate correctly and a bucket crossing
    * `maxBucketSize` dies precisely when a rebuild would kill it —
    * spec-pinned bucket-for-bucket, including adversarial caps.
    *
    * Cost: band the BATCH, then one shuffle of (old index ∪ batch
    * buckets) keyed on (band, bucket) — the index is orders of
    * magnitude smaller than the corpus (ids only, text never read).
    * At 100 TB, partition the persisted index by `band` so only
    * touched partitions rewrite. Batch ids must be disjoint from
    * corpus ids (the same id-namespace contract as the screens). */
  def minhashIndexUpdate(index: DataFrame, newBatch: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleLen: Int = 3, seed: Long = 42L,
                         maxBucketSize: Int = 1000,
                         acceptUnvalidated: Boolean = false): DataFrame = {
    // the update ALSO asks the skew cap: mergeIndex re-applies the
    // caller's cap to every merged bucket, so updating with a cap
    // different from the build's silently diverges from a rebuild (a
    // larger cap cannot revive already-dead buckets; a smaller one
    // re-kills live ones) — the "exactly equivalent to rebuild"
    // contract only holds cap-for-cap, so a mismatch throws.
    val old = validateIndexParams(index, "minhashIndexUpdate",
      minhashAsked(numHashes, bands, shingleLen, seed) :+
        ("__maxBucketSize" -> maxBucketSize),
      acceptUnvalidated)
    foldBandRows(old,
      bandedFor(shingledFor(newBatch, idCol, textCol, shingleLen),
        numHashes, bands, seed),
      numHashes, bands, shingleLen, seed, maxBucketSize)
  }

  /** Merge per-doc band rows (id, band, bucket) into a validated,
    * stripped minhash index in ONE aggregation ([[mergeIndex]]): each
    * row enters as a one-member bucket, so the batch side needs no
    * aggregation of its own. */
  private def foldBandRows(old: DataFrame, bandRows: DataFrame,
                           numHashes: Int, bands: Int, shingleLen: Int,
                           seed: Long, maxBucketSize: Int): DataFrame = {
    require(old.columns.contains("n"),
      "minhashIndexUpdate requires a graft-built index carrying the " +
        "true bucket count column `n` (hand-built (band, bucket, ids) " +
        "indexes cannot distinguish a dead oversized bucket from an " +
        "absent one)")
    stampMinhashParams(
      mergeIndex(old.select(col("band"), col("bucket"), col("ids"), col("n")),
        asBucketRows(bandRows), Seq("band", "bucket"), maxBucketSize),
      numHashes, bands, shingleLen, seed, maxBucketSize)
  }

  /** (id, band, bucket) rows as one-member (band, bucket, ids, n)
    * buckets, the shape [[mergeIndex]] folds */
  private def asBucketRows(bandRows: DataFrame): DataFrame =
    bandRows.select(col("band"), col("bucket"),
      array(col("id")).as("ids"), lit(1L).as("n"))

  /** union + re-aggregate two capped bucket tables on `keys`: member
    * lists concatenate, TRUE counts add, and the cap re-applies on the
    * summed count — so a bucket that a full rebuild would kill dies
    * here too, no matter which side(s) its members came from. */
  private def mergeIndex(old: DataFrame, add: DataFrame,
                         keys: Seq[String], maxBucketSize: Int): DataFrame =
    old.unionByName(add)
      .groupBy(keys.map(col): _*)
      .agg(flatten(collect_list(col("ids"))).as("ids"),
        sum(col("n")).as("n"))
      .select(keys.map(col) :+
        when(col("n") <= maxBucketSize, col("ids"))
          .otherwise(slice(col("ids"), 1, 0)).as("ids") :+
        col("n"): _*)

  // ---- partitioned index persistence (partial rewrites) ----------------

  /** deterministic layout partition of a bucket key: hash-uniform, so
    * the per-partition slice of the index is ~indexBytes/numParts */
  private def partOf(keys: Seq[String], numParts: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numParts.toLong)).cast("int")

  private def bucketKeysOf(index: DataFrame): Seq[String] =
    if (index.columns.contains("band")) Seq("band", "bucket")
    else Seq("code")

  /** Result of a [[minhashIndexUpdatePartitioned]] /
    * [[embeddingIndexUpdatePartitioned]] cycle: how many layout
    * partitions the batch touched (and were rewritten) out of the
    * index's total — rewritten bytes ≈ dirty/total of the index plus
    * the batch's own buckets, vs a full-swap rewrite of all of it. */
  case class PartialUpdateStats(dirtyPartitions: Int, totalPartitions: Int)

  /** Persist a graft-built index PARTITIONED by a hash of its bucket
    * key (`part = xxhash64(key) mod numParts`), so that index
    * maintenance can rewrite ONLY the partitions a batch touches
    * ([[minhashIndexUpdatePartitioned]]) instead of swapping the whole
    * index — the "partition the persisted index" mitigation the
    * admission loop's cost model names, made real. Works for both
    * index families (minhash (band, bucket) and embedding code keys
    * are detected from the schema).
    *
    * Sizing `numParts`: batch buckets hash uniformly, so an update
    * rewrites ≈ numParts · (1 − (1 − 1/numParts)^B) partitions for B
    * batch bucket keys — about min(B, numParts) · indexBytes/numParts
    * bytes. Pick numParts so indexBytes/numParts is one comfortable
    * file (e.g. 128 MB): the rewrite cost is then bounded by the
    * BATCH's bucket count times the file size, independent of corpus
    * size, where the full swap is corpus-proportional every cycle.
    * For a backfill-sized batch (B >> numParts) every partition is
    * dirty and this degrades gracefully to the full rewrite.
    *
    * `numParts` is stamped as `__numParts` and validated on update,
    * like every other layout-critical param. One file per partition
    * per write (the repartition below), so a maintained index stays
    * at ≤ numParts files plus per-update rewrites. */
  def indexWritePartitioned(index: DataFrame, path: String,
                            numParts: Int = 256): Unit = {
    require(index.columns.contains("__fmt"),
      "indexWritePartitioned persists graft-built indexes (minhashIndex " +
        "/ embeddingIndex output, with their embedded __param columns); " +
        "build one rather than hand-assembling")
    require(numParts > 0, s"numParts must be positive, got $numParts")
    val keys = bucketKeysOf(index)
    index
      .withColumn("__numParts", lit(numParts))
      .withColumn("part", partOf(keys, numParts))
      .repartition(col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(path)
  }

  /** Shared core of the two partitioned in-place updates: read the
    * partitioned index at `path`, validate params, find the layout
    * partitions the batch's buckets land in, merge ONLY those
    * partitions' rows (the read is partition-pruned — untouched
    * partitions are never scanned), and dynamically overwrite just
    * the dirty partitions. The merged rows are localCheckpoint-ed
    * first: they must be materialized before the overwrite because
    * they are derived from the very files being replaced.
    *
    * Durability contract vs [[graft.streaming.Admission]]'s staged
    * swap: the swap is one atomic rename (a crash leaves old or new,
    * never a mix); dynamic partition overwrite commits per partition,
    * so a crash mid-write can leave SOME partitions updated — with
    * batch ids present in their buckets — and others not. Safe to
    * re-run (the merge is idempotent per partition only if the batch
    * was not yet folded — after a suspect crash, rebuild or restore
    * the index rather than re-applying the batch; on a transactional
    * table format, the real deployment surface at 100 TB, the commit
    * is atomic and this caveat disappears). */
  private def partitionedUpdateCore(spark: org.apache.spark.sql.SparkSession,
                                    path: String, what: String,
                                    asked: Seq[(String, Any)],
                                    keys: Seq[String],
                                    batchBuckets: DataFrame,
                                    maxBucketSize: Int, numParts: Int,
                                    acceptUnvalidated: Boolean,
                                    restamp: DataFrame => DataFrame,
                                    preRead: Option[DataFrame])
  : PartialUpdateStats = {
    // preRead: a caller that already holds a DataFrame over `path`
    // (the admission loop reads the index once per cycle for its
    // screens) passes it here to skip a second read — above
    // spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // dirs, EVERY fresh read of the partitioned layout runs a
    // numParts-task listing job (r12 ProbeQ129: 128 tasks, the
    // fold's single biggest job). Only valid while no writer has
    // touched `path` since the frame was created — the admission
    // cycle's single-writer contract.
    val index = preRead.getOrElse(spark.read.parquet(path))
    require(index.columns.contains("part"),
      s"$what: index at $path is not partitioned — persist it with " +
        "indexWritePartitioned (or use the full-swap update)")
    // numParts = 0 means "the index's own layout": read the embedded
    // __numParts (one head row of a constant RLE column — a limit
    // over a bare scan is one 1-task job, not the limit-over-shuffle
    // probe trap). r12: the head read now also runs for EXPLICIT
    // numParts and asserts agreement — with param validation pruned
    // to dirty partitions (below), an all-new dirty set would
    // otherwise let a wrong explicit numParts slip through and hash
    // buckets into the wrong layout partitions.
    val allParamCols = index.columns.filter(_.startsWith("__")).toSeq
    val headParams: Option[Map[String, Any]] =
      if (allParamCols.nonEmpty) {
        val head = index.select(allParamCols.map(col): _*).limit(1).collect()
        head.headOption.map(r =>
          allParamCols.zipWithIndex.map { case (c, i) => c -> r.get(i) }
            .toMap)
      } else None
    val embedded: Option[Int] =
      headParams.flatMap(_.get("__numParts").collect { case i: Int => i })
    val np = (numParts, embedded) match {
      case (0, Some(e)) => e
      case (0, None) =>
        throw new IllegalArgumentException(
          s"$what: index at $path lacks __numParts (or has zero " +
            "rows), so its layout cannot be read back — pass numParts " +
            "explicitly (it must match the value the index was " +
            "created with)")
      case (a, Some(e)) =>
        require(a == e,
          s"$what: index at $path was laid out with __numParts = $e " +
            s"but numParts = $a was passed — an update under the " +
            "wrong layout hashes buckets into the wrong partitions. " +
            s"Pass numParts = $e (or 0 to read the layout from the " +
            "index).")
        a
      case (a, None) => a // unstamped legacy layout: caller's contract
    }
    // r12 review fix: the dirty-pruned validation below is VACUOUS
    // when every dirty partition is new (zero existing param tuples
    // in the pruned scan) — a wrong-param caller would then merge
    // unvalidated and restamp those partitions with its own params,
    // corrupting the index into the mixed-param state the full-index
    // validation used to refuse up front. The one-row head read
    // above already carries the index's param stamp (uniform across
    // partitions by every writer's contract), so the caller's params
    // are checked against it here at zero extra jobs. Hand-assembled
    // MIXED stamps remain the screen side's full-index validation to
    // catch (and the pruned check below still catches them among the
    // partitions actually read).
    headParams.foreach { built =>
      (asked :+ ("__numParts" -> np)).foreach { case (k, v) =>
        require(!built.contains(k) || built(k) == v,
          s"$what: index at $path was built with $k = ${built(k)} " +
            s"but this update was called with $k = $v — folding " +
            "under mismatched params would corrupt the index into a " +
            "mixed-param state. Rebuild the index or match the " +
            "params.")
      }
    }
    // batch banding: CACHE, populated by the dirty-scan collect below
    // and reused by the merge — r12 job diet (VERDICT item 3): the
    // previous localCheckpoint-then-collect shape ran the banding as
    // its own job and the dirty scan as a second; the cache folds
    // them into one. Safe where a checkpoint was required for
    // `merged`: nb derives from the BATCH, not from the index files
    // the overwrite below replaces.
    val nb = batchBuckets.withColumn("part", partOf(keys, np)).cache()
    val dirty = nb.select(col("part")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (dirty.isEmpty) { // empty batch
      nb.unpersist()
      return PartialUpdateStats(0, np)
    }
    // r12 job diet, part 2: validate build params against the DIRTY
    // partitions only — the same partition-pruned scan the merge
    // reads — instead of the whole index. The full-index validation
    // was the fold's one corpus-proportional READ (and the file set
    // changes every fold, so the validation cache never hit on cycle
    // 2+). Sound because every partitioned-index writer
    // (indexWritePartitioned and this fold's restamp) stamps params
    // uniformly across partitions — the screen side still validates
    // the full index each cycle, so a hand-assembled mixed-param
    // union is caught there. Dirty partitions that do not exist yet
    // (all-new buckets) validate vacuously here — the caller-param
    // guard for that case is the head-stamp check above.
    val pruned = index.filter(col("part").isin(dirty.map(Int.box): _*))
    val old = validateIndexParams(pruned, what,
      asked :+ ("__numParts" -> np), acceptUnvalidated)
    require(old.columns.contains("n"),
      s"$what requires a graft-built index carrying the true bucket " +
        "count column `n`")
    val cols = keys.map(col) :+ col("ids") :+ col("n")
    val merged = restamp(
        mergeIndex(old.select(cols: _*),
          nb.select(cols: _*), keys, maxBucketSize))
      .withColumn("__numParts", lit(np))
      .withColumn("part", partOf(keys, np))
      .repartition(col("part"))
      .localCheckpoint()
    nb.unpersist()
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      merged.write.mode("overwrite").partitionBy("part").parquet(path)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    PartialUpdateStats(dirty.length, np)
  }

  /** [[minhashIndexUpdate]] against a partitioned on-disk index
    * ([[indexWritePartitioned]]), IN PLACE: bands the batch, rewrites
    * only the layout partitions its buckets touch, and leaves every
    * other partition's files untouched — bucket-for-bucket equivalent
    * to the full-swap update (spec-pinned), at a write cost bounded
    * by the batch's bucket count instead of the corpus (sizing math
    * and the crash contract on [[indexWritePartitioned]] /
    * [[partitionedUpdateCore]]). `numParts = 0` (the default) reads
    * the layout from the index's embedded `__numParts`; a nonzero
    * value additionally asserts the layout and throws on mismatch. */
  def minhashIndexUpdatePartitioned(spark: org.apache.spark.sql.SparkSession,
                                    path: String, newBatch: DataFrame,
                                    idCol: String, textCol: String,
                                    numHashes: Int = 64, bands: Int = 16,
                                    shingleLen: Int = 3, seed: Long = 42L,
                                    maxBucketSize: Int = 1000,
                                    numParts: Int = 0,
                                    acceptUnvalidated: Boolean = false,
                                    preRead: Option[DataFrame] = None)
  : PartialUpdateStats =
    foldBandRowsPartitioned(spark, path,
      bandedFor(shingledFor(newBatch, idCol, textCol, shingleLen),
        numHashes, bands, seed),
      numHashes, bands, shingleLen, seed, maxBucketSize, numParts,
      acceptUnvalidated, preRead)

  /** [[foldBandRows]]'s in-place twin over a partitioned layout */
  private def foldBandRowsPartitioned(spark: org.apache.spark.sql.SparkSession,
                                      path: String, bandRows: DataFrame,
                                      numHashes: Int, bands: Int,
                                      shingleLen: Int, seed: Long,
                                      maxBucketSize: Int, numParts: Int,
                                      acceptUnvalidated: Boolean,
                                      preRead: Option[DataFrame])
  : PartialUpdateStats =
    partitionedUpdateCore(spark, path, "minhashIndexUpdatePartitioned",
      minhashAsked(numHashes, bands, shingleLen, seed) :+
        ("__maxBucketSize" -> maxBucketSize),
      Seq("band", "bucket"), asBucketRows(bandRows), maxBucketSize,
      numParts, acceptUnvalidated,
      stampMinhashParams(_, numHashes, bands, shingleLen, seed,
        maxBucketSize),
      preRead)

  /** [[minhashIndexUpdatePartitioned]]'s embedding sibling. */
  def embeddingIndexUpdatePartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String, newBatch: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      nTables: Int = 8, bitsPerTable: Int = 16, seed: Long = 42L,
      maxBucketSize: Int = 10000, numParts: Int = 0,
      acceptUnvalidated: Boolean = false,
      preRead: Option[DataFrame] = None): PartialUpdateStats = {
    val nb = embCodes(newBatch, idCol, vecCol, dim, nTables, bitsPerTable,
        seed)
      .select(col("id"), explode(col("codes")).as("code"))
      .groupBy(col("code"))
      .agg(collect_list(col("id")).as("ids"))
      .select(col("code"), col("ids"), size(col("ids")).cast("long").as("n"))
    partitionedUpdateCore(spark, path, "embeddingIndexUpdatePartitioned",
      embAsked(nTables, bitsPerTable, dim, seed) :+
        ("__maxBucketSize" -> maxBucketSize),
      Seq("code"), nb, maxBucketSize, numParts, acceptUnvalidated,
      stampEmbParams(_, nTables, bitsPerTable, dim, seed, maxBucketSize),
      preRead)
  }

  private def screenAgainstIndex(newDf: DataFrame, corpus: DataFrame,
                                 corpusIndex: DataFrame,
                                 idCol: String, textCol: String,
                                 numHashes: Int, bands: Int,
                                 shingleLen: Int, threshold: Double,
                                 seed: Long,
                                 broadcastNew: Boolean): DataFrame = {
    def small(d: DataFrame) = if (broadcastNew) broadcast(d) else d
    val newSh =
      shingledSpread(newDf, idCol, textCol, shingleLen).cache()
    val newBands = bandedFor(newSh, numHashes, bands, seed)
      .select(col("id").as("id_new"), col("band"), col("bucket"))
    val cand = corpusIndex
      .join(small(newBands), Seq("band", "bucket"))
      .select(col("id_new"), explode(col("ids")).as("id_corpus"))
      .distinct()
    // the candidate corpus ids are batch-bounded, like the batch side
    val candIds = cand.select(col("id_corpus").as(idCol)).distinct()
    val verified = verifyCandidates(
      cand.join(newSh.select(col("id").as("id_new"), col("sh").as("sh_new")),
        Seq("id_new")),
      corpus.select(col(idCol), col(textCol))
        .join(small(candIds), Seq(idCol), "left_semi"),
      idCol, textCol, shingleLen, threshold, broadcastNew)
    materializeAndRelease(verified, newSh)
  }

  /** Exact-jaccard verification shared by the MinHash screens against
    * a corpus. `cand` holds candidate (id_new, id_corpus) pairs with
    * the new side's shingles `sh_new`; `corpusCand` is the corpus
    * ALREADY restricted to the candidate ids (a semi join, or the
    * admission cycle's id probe), so corpus text is shingled only for
    * candidate rows — never whole, never spread, never broadcast.
    * Returns (id_new, id_corpus, jaccard >= threshold). */
  private def verifyCandidates(cand: DataFrame, corpusCand: DataFrame,
                               idCol: String, textCol: String,
                               shingleLen: Int, threshold: Double,
                               broadcastCand: Boolean): DataFrame =
    shingledFor(corpusCand, idCol, textCol, shingleLen)
      .select(col("id").as("id_corpus"), col("sh").as("sh_cor"))
      .join(if (broadcastCand) broadcast(cand) else cand, Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        jaccard(col("sh_new"), col("sh_cor")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  // ---- MinHash over a settled batch (graft.streaming.Admission) --------

  /** The features the admission cycle's settle scan computes with the
    * batch: `__sh`, the word shingles, and `__bb`, the band keys
    * (array of (band, bucket); null for a doc without shingles, which
    * bands nowhere — the [[shingledFor]] filter). */
  private[graft] def minhashFeatures(batch: DataFrame, textCol: String,
                                     numHashes: Int, bands: Int,
                                     shingleLen: Int, seed: Long): DataFrame =
    batch.withColumn("__sh", wordShingles(col(textCol), shingleLen))
      .withColumn("__bb", when(size(col("__sh")) > 0,
        bandKeys(col("__sh"), numHashes, bands, seed)))

  /** [[minhashPairsAgainstIndex]] over settled rows carrying
    * [[minhashFeatures]]: the ids of `rows` that near-dup the corpus.
    * `idx` is the validated, stripped index. One index scan returns
    * the buckets the rows' band keys touch (filtered on the bucket
    * value, matched to (band, bucket) on the driver); the candidate
    * pairs form on the driver; [[verifyCandidates]] then reads only
    * the candidate corpus rows, through an id IN-list that parquet
    * pushdown (and bucket pruning on a corpus bucketed by id) narrows
    * before any text is read. */
  private[graft] def minhashMatchesSettled(rows: Seq[org.apache.spark.sql.Row],
                                           corpus: DataFrame, idx: DataFrame,
                                           idCol: String, textCol: String,
                                           shingleLen: Int,
                                           threshold: Double): Set[Any] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField,
      StructType}
    def keysOf(r: Row): Seq[(Int, Long)] = {
      val i = r.fieldIndex("__bb")
      if (r.isNullAt(i)) Nil
      else r.getSeq[Row](i).map(b => (b.getInt(0), b.getLong(1)))
    }
    val buckets = rows.flatMap(keysOf).map(_._2).distinct
    if (buckets.isEmpty) return Set.empty
    val hit = idx.filter(col("bucket").isin(buckets: _*))
      .select(col("band"), col("bucket"), col("ids")).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Any](2)).toMap
    val pairs = rows.flatMap { r =>
      keysOf(r).flatMap(hit.getOrElse(_, Nil)).distinct
        .map(c => Row(r.getAs[Any](idCol), c,
          r.getSeq[String](r.fieldIndex("__sh"))))
    }
    if (pairs.isEmpty) return Set.empty
    val spark = corpus.sparkSession
    val cand = spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
      StructType(Seq(
        StructField("id_new", rows.head.schema(idCol).dataType),
        StructField("id_corpus",
          idx.schema("ids").dataType.asInstanceOf[ArrayType].elementType),
        StructField("sh_new", ArrayType(StringType)))))
    verifyCandidates(cand,
      corpus.select(col(idCol), col(textCol))
        .filter(col(idCol).isin(pairs.map(_.get(1)).distinct: _*)),
      idCol, textCol, shingleLen, threshold, broadcastCand = true)
      .select(col("id_new")).collect().map(_.get(0)).toSet
  }

  /** The admission cycle's MinHash fold: merge the admitted rows'
    * settled band keys (`__bb`) into `idx` (validated, stripped) —
    * the admitted docs are never re-shingled. */
  private[graft] def minhashFoldSettled(idx: DataFrame, admitted: DataFrame,
                                        idCol: String, numHashes: Int,
                                        bands: Int, shingleLen: Int,
                                        seed: Long,
                                        maxBucketSize: Int): DataFrame =
    foldBandRows(idx, bandRows(admitted, col(idCol), col("__bb")),
      numHashes, bands, shingleLen, seed, maxBucketSize)

  /** [[minhashFoldSettled]] in place, on a partitioned layout */
  private[graft] def minhashFoldSettledPartitioned(
      path: String, admitted: DataFrame, idCol: String, numHashes: Int,
      bands: Int, shingleLen: Int, seed: Long, maxBucketSize: Int,
      preRead: DataFrame): PartialUpdateStats =
    foldBandRowsPartitioned(admitted.sparkSession, path,
      bandRows(admitted, col(idCol), col("__bb")), numHashes, bands,
      shingleLen, seed, maxBucketSize, numParts = 0,
      acceptUnvalidated = false, Some(preRead))

  /** [[validateIndexParams]] for a minhash index against one cycle's
    * params, the skew cap included (the fold re-applies it) */
  private[graft] def validateMinhashIndex(index: DataFrame, what: String,
                                          numHashes: Int, bands: Int,
                                          shingleLen: Int, seed: Long,
                                          maxBucketSize: Int): DataFrame =
    validateIndexParams(index, what,
      minhashAsked(numHashes, bands, shingleLen, seed) :+
        ("__maxBucketSize" -> maxBucketSize),
      acceptUnvalidated = false)

  /** Incremental near-dup matching: (new, corpus) pairs by MinHash
    * LSH between a NEW batch and an EXISTING corpus, verified by
    * exact Jaccard — the continuous-ingestion face of
    * [[minhashPairs]]: a daily batch is screened against the
    * historical corpus without ever generating corpus-internal
    * pairs. Returns (id_new, id_corpus, jaccard ≥ threshold); the
    * two id namespaces are the caller's contract (a row present on
    * both sides with the same id matches itself at jaccard 1).
    *
    * Shape at 100 TB: the corpus reduces to the [[minhashIndex]]
    * bucket table (SINGLETON buckets kept — a new doc can match a
    * bucket holding one corpus doc; `maxBucketSize` skew cap
    * retained); the batch's band rows are batch-sized × bands and
    * broadcast into the bucket join (`broadcastNew = false` for a
    * backfill-sized "batch": same answer via a shuffled join).
    * Shingle verification touches corpus text ONLY for candidate-
    * matched ids. This convenience form rebuilds the index per call —
    * at ingestion cadence build [[minhashIndex]] once, persist it,
    * and call [[minhashPairsAgainstIndex]]. */
  def minhashPairsAgainst(newDf: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleLen: Int = 3, threshold: Double = 0.8,
                          seed: Long = 42L, maxBucketSize: Int = 1000,
                          broadcastNew: Boolean = true): DataFrame =
    // the inline index is built with these very params, so skip the
    // validation head read (it would trigger an extra banding job)
    screenAgainstIndex(newDf, corpus,
      rawIndex(corpus, idCol, textCol, numHashes, bands, shingleLen,
        seed, maxBucketSize),
      idCol, textCol, numHashes, bands, shingleLen, threshold, seed,
      broadcastNew)

  /** full MinHash dedup: pairs → connected components (min-id label
    * propagation with pointer jumping) → keep one row per component.
    * Default representative is the component's min id; with `keepCol`
    * set, it is the component's argmax of that column (ties broken by
    * min id) — keep the highest-quality copy of each near-dup
    * cluster, the standard training-data policy. Iterative DataFrame
    * joins with localCheckpoint to cut lineage (GraphFrames CC
    * pattern); runs until converged — O(log(component diameter))
    * rounds. The per-component window partitions on the component
    * label: dup clusters are small by nature, so no mega-partition
    * risk. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, threshold: Double = 0.8,
                   maxIter: Int = 50, keepCol: String = ""): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, numHashes, bands,
      shingleLen, threshold).select(col("id_a"), col("id_b"))
    val reps = connectedComponentMinLabel(pairs, maxIter)
    val toDrop =
      if (keepCol.isEmpty) reps.filter(col("id") =!= col("rep")).select(col("id"))
      else {
        val scored = reps.join(
          df.select(col(idCol).as("id"), col(keepCol).as("__s")), Seq("id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("rep"))
          .orderBy(col("__s").desc, col("id").asc)
        scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1).select(col("id"))
      }
    df.join(toDrop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** [[minhashDedup]]'s contract over ANY 64-bit fingerprint column
    * (text simhash, image aHash/dHash): near-dup groups = connected
    * components of [[signaturePairs]], keep the min id per component
    * (or the best `keepCol` row, ties to lower id) — so transitive
    * chains (a~b, b~c without a~c) collapse to ONE survivor, the
    * same closure the pairwise min-id rule cannot give. */
  def signatureDedup(df: DataFrame, idCol: String, sigCol: String,
                     maxDistance: Int = 3, maxBucketSize: Int = 1000,
                     maxIter: Int = 50, keepCol: String = ""): DataFrame = {
    val pairs = signaturePairs(df, idCol, sigCol, maxDistance,
      maxBucketSize).select(col("id_a"), col("id_b"))
    val reps = connectedComponentMinLabel(pairs, maxIter)
    val toDrop =
      if (keepCol.isEmpty) reps.filter(col("id") =!= col("rep")).select(col("id"))
      else {
        val scored = reps.join(
          df.select(col(idCol).as("id"), col(keepCol).as("__s")), Seq("id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("rep"))
          .orderBy(col("__s").desc, col("id").asc)
        scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1).select(col("id"))
      }
    df.join(toDrop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Near-dup cluster audit: component representative → member count
    * over an undirected pair list — the standard dedup report (how
    * big are the duplicate clusters this corpus carries?). Only nodes
    * appearing in `pairs` are counted (singletons have no edges); one
    * aggregation over [[connectedComponentMinLabel]]'s labeling. */
  def clusterSizes(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentMinLabel(pairs, maxIter)
      .groupBy(col("rep")).agg(count(lit(1)).as("size"))

  /** INCREMENTAL connected components — fold a batch of new pairs
    * into an existing (id, rep) labeling without re-clustering the
    * corpus: the admission-loop face of the CC machinery (each cycle
    * contributes a few near-dup pairs; rebuilding the whole component
    * graph per cycle is the one corpus-proportional CC cost this
    * removes).
    *
    * Quotient argument for update ≡ rebuild EXACTLY: every existing
    * rep is the MINIMUM id of its component, so contracting each
    * component to its rep and running min-label CC over the QUOTIENT
    * graph — new pairs with endpoints mapped through their labels
    * (unlabeled endpoints map to themselves) — yields, per merged
    * component, min over {old reps, new node ids} = the global min
    * id of the merged component: exactly the label a full rebuild
    * over (old edges ∪ new pairs) assigns. Oracle-proven (q191 runs
    * the REBUILD oracle against the update's output), not just
    * spec-pinned.
    *
    * Cost: the quotient CC sees ONLY the new pairs (the adaptive
    * driver/distributed machinery applies — batch-sized, so usually
    * the one-collect driver path); the labels table pays one remap
    * join against the touched-components-bounded relabel table (AQE
    * broadcasts it) — never a re-cluster. Within-component new pairs
    * contract to dropped self-edges and cost nothing. */
  def connectedComponentMinLabelUpdate(labels: DataFrame,
                                       newPairs: DataFrame,
                                       maxIter: Int = 50): DataFrame = {
    require(labels.columns.toSet == Set("id", "rep"),
      s"labels must be a (id, rep) frame from " +
        s"connectedComponentMinLabel, got (${labels.columns.mkString(", ")})")
    val lab = labels.localCheckpoint()
    def mapped(side: String) = lab
      .select(col("id").as(side), col("rep").as(s"__r$side"))
    val q = newPairs
      .join(mapped("id_a"), Seq("id_a"), "left")
      .join(mapped("id_b"), Seq("id_b"), "left")
      .select(coalesce(col("__rid_a"), col("id_a")).as("id_a"),
        coalesce(col("__rid_b"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val remap = connectedComponentMinLabel(q, maxIter)
      .select(col("id").as("__old"), col("rep").as("__new"))
    val updated = lab
      .join(remap, lab("rep") === col("__old"), "left")
      .select(lab("id"),
        coalesce(col("__new"), lab("rep")).as("rep"))
    // endpoints of the batch that were not yet labeled become new
    // rows: their quotient result if they merged with anything, else
    // themselves (a self-pair-only or fully-contracted new node)
    val newNodes = newPairs.select(col("id_a").as("id"))
      .union(newPairs.select(col("id_b").as("id")))
      .distinct()
      .join(lab.select(col("id")), Seq("id"), "left_anti")
    val newLabeled = newNodes
      .join(remap, newNodes("id") === col("__old"), "left")
      .select(newNodes("id"),
        coalesce(col("__new"), newNodes("id")).as("rep"))
    updated.union(newLabeled)
  }

  /** min-label propagation over an undirected edge list (id_a, id_b):
    * returns (id, rep) where rep = min id in the component.
    *
    * Adaptive execution, same spirit as Spark's broadcast-join
    * cutover: when the (deduplicated) edge list is below
    * `driverThreshold` edges AND the id type is integral (the
    * union-find keys on longs — string ids would NPE and fractional
    * ids would silently merge distinct vertices), it is provably
    * driver-resolvable — a single collect + union-find replaces the
    * iterative join jobs whose per-job overhead dominates on small
    * component graphs. The driver result is cast back to the input id
    * type so both paths produce the same schema. Otherwise the
    * distributed loop runs: neighbor-min propagation PLUS a pointer-
    * jumping shortcut (rep := min(rep, rep(rep)) each round), which
    * halves label-tree depth per round — O(log diameter) rounds, with
    * localCheckpoint lineage cuts. The loop runs UNTIL CONVERGED;
    * `maxIter` is only a runaway bound and exceeding it THROWS rather
    * than silently returning half-merged components. Near-dup
    * component graphs are SMALL relative to the corpus (only docs
    * with a near-dup partner appear), so the driver path is the
    * common case even at 100 TB corpus scale; the threshold bounds
    * driver memory to ~16 MB of longs either way.
    *
    * Round-10 driver-path rework (ProfileCC evidence): the decision +
    * collect is now ONE Spark job — `limit(threshold+1).collect()` on
    * the RAW pair list either hands back the complete edge set
    * (length <= threshold) or proves the graph is over-threshold.
    * Union-find is insensitive to duplicate pairs and orientation, so
    * the doubling union (2x lineage evaluation), the distinct shuffle,
    * the localCheckpoint materialization and the separate count job —
    * previously 5 jobs to label a 25k-edge graph, ~3 s of q62's wall
    * time — exist only on the distributed path that needs them.
    * `driverThreshold` now bounds RAW pairs collected (the actual
    * driver-memory contract, 16 B/pair) rather than distinct doubled
    * edges; a pair list over threshold but with few distinct edges
    * routes distributed — a safe, conservative shift. */
  def connectedComponentMinLabel(pairs: DataFrame,
                                 maxIter: Int = 50,
                                 driverThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    val integralIds = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val driverPairs: Option[Array[(Long, Long)]] =
      if (!integralIds || driverThreshold <= 0L) None
      else {
        val cap = math.min(driverThreshold, (Int.MaxValue - 2).toLong).toInt
        val probe = pairs
          .select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(cap + 1).collect()
        if (probe.length <= cap)
          Some(probe.map(r => (r.getLong(0), r.getLong(1))))
        else None
      }
    if (driverPairs.isDefined) {
      // driver union-find with path compression (ids widened to long,
      // exact for integral types; result cast back to the input type)
      import scala.collection.mutable
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val next = parent.getOrElse(c, c); parent(c) = r; c = next
        }
        r
      }
      val es = driverPairs.get
      es.foreach { case (x, y) =>
        val (a, b) = (find(x), find(y))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      import spark.implicits._
      es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
        .map((id: Long) => (id, find(id)))
        .toDF("id", "rep")
        .select(col("id").cast(idType).as("id"),
          col("rep").cast(idType).as("rep"))
    } else {
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct().localCheckpoint()
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("rep", col("id"))
      var converged = false
      var i = 0
      while (!converged) {
        if (i >= maxIter)
          throw new IllegalStateException(
            s"connectedComponentMinLabel did not converge in $maxIter " +
              "rounds — with pointer jumping that needs component " +
              s"diameter > 2^$maxIter; raise maxIter")
        val nbrMin = edges.join(labels,
            edges("dst") === labels("id"))
          .groupBy(edges("src").as("id"))
          .agg(min(col("rep")).as("nbr_rep"))
        // carry the previous rep through the update so convergence is
        // one filter on the checkpointed result, not a second join
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("rep").as("old"),
            least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
          .localCheckpoint()
        // pointer jumping: follow rep one hop through the new mapping
        // (reps are themselves vertex ids, so the lookup always
        // resolves); label-tree depth halves each round → O(log d)
        val hop = stepped.select(col("id").as("mid"), col("rep").as("mrep"))
        val updated = stepped.join(hop, col("rep") === col("mid"), "left")
          .select(col("id"), col("old"),
            least(col("rep"), coalesce(col("mrep"), col("rep"))).as("rep"))
          .localCheckpoint()
        val changed = updated.filter(col("rep") =!= col("old"))
          .limit(1).count()
        labels = updated.select(col("id"), col("rep"))
        converged = changed == 0
        i += 1
      }
      labels
    }
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDistance.
    * Pigeonhole: split 64 bits into maxDistance+1 chunks; any pair
    * within distance k must agree on >= 1 chunk.
    *
    * `maxBucketSize`: (chunk, key) buckets larger than this are
    * skipped during candidate generation — the same skew guard as
    * minhashPairs/embeddingPairs. A hot 16-bit chunk value (simhash
    * bits correlate across a boilerplate-heavy corpus) would
    * otherwise contribute m² mostly-false candidates; a true pair at
    * distance ≤ k agrees on every chunk its ≤ k differing bits miss
    * (at least one, usually several), so it still surfaces from the
    * selective chunks — same recall trade as the LSH band guard. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3,
                   maxBucketSize: Int = 1000): DataFrame =
    simhashPairsOn(df.select(col(idCol).as("id"),
      simhash(col(textCol)).as("sim")), maxDistance, maxBucketSize)

  /** [[simhashPairs]] over the PORTABLE md5-derived 60-bit simhash
    * ([[graft.functions.TextFunctions.simhashPortable]]): identical
    * bucketing + exact-verify machinery, but every arithmetic step is
    * SQL-replayable — with an uncapped bucket size the result EQUALS
    * the exhaustive all-pairs truth (pigeonhole recall 1), which is
    * what q142 pins against a full DuckDB oracle. The 60-bit value in
    * 64/(k+1)-bit chunks stays a valid pigeonhole (the top bits are
    * constant-zero on both sides of any pair). */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxDistance: Int = 3,
                           maxBucketSize: Int = 1000): DataFrame =
    simhashPairsOn(df.select(col(idCol).as("id"),
      graft.functions.TextFunctions.simhashPortable(col(textCol)).as("sim")),
      maxDistance, maxBucketSize)

  /** [[simhashPairs]]' band-bucket machinery over ANY precomputed
    * 64-bit signature column — the retriever-agnostic face: text
    * simhash, [[graft.multimodal.Multimodal.imageHashes]] perceptual
    * hashes, or an external fingerprint all ride the same pigeonhole
    * (maxDistance+1 chunks: a pair within the distance must agree on
    * at least one chunk), bucket-collect, and exact hamming verify.
    * Emits (id_a, id_b, hamming). Same recall contract as
    * [[simhashPairs]]: complete up to `maxBucketSize` refusals. */
  def signaturePairs(df: DataFrame, idCol: String, sigCol: String,
                     maxDistance: Int = 3,
                     maxBucketSize: Int = 1000): DataFrame =
    simhashPairsOn(df.select(col(idCol).as("id"),
      col(sigCol).cast("long").as("sim")), maxDistance, maxBucketSize)

  /** Signature-index format version (the minhash/gram/embedding
    * index discipline): v1 = (chunk, key, id, sig) rows. */
  private[graft] val SignatureIndexFormat = 1

  /** Build the persistable signature-screen index — the SIXTH
    * incremental screen space (exact / jaccard / cosine / substring /
    * semantic / signature): every (id, 64-bit signature) row exploded
    * into its maxDistance+1 pigeonhole chunk buckets, signature
    * carried alongside. Uniquely in the family, the index is
    * SELF-CONTAINED: the exact hamming verify needs only the stored
    * signatures, so screening never re-reads (or re-decodes — the
    * image case this exists for) the corpus. Build params are
    * stamped and validated on every use. */
  def signatureIndex(corpus: DataFrame, idCol: String, sigCol: String,
                     maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 16,
      s"maxDistance must be in [0,16], got $maxDistance")
    val chunks = maxDistance + 1
    // the index is a SET: duplicate (id, sig) corpus rows collapse at
    // build, so update (distinct union) == rebuild holds verbatim on
    // ANY input, and the hot-bucket census counts distinct members
    corpus.select(col(idCol).cast("long").as("id"),
        col(sigCol).cast("long").as("sig"))
      .distinct()
      .select(col("id"), col("sig"),
        explode(simhashChunks(col("sig"), chunks)).as("ck"))
      .select(col("ck.chunk").as("chunk"), col("ck.key").as("key"),
        col("id"), col("sig"))
      .withColumn("__fmt", lit(SignatureIndexFormat))
      .withColumn("__max_distance", lit(maxDistance))
  }

  /** Fold a new batch into an existing signature index. The index is
    * a distinct set of (chunk, key, id, sig) rows, so update ≡
    * rebuild EXACTLY and replaying the same batch is a no-op
    * (spec-pinned) — the gramIndexUpdate distinct-union discipline. */
  def signatureIndexUpdate(index: DataFrame, newDf: DataFrame,
                           idCol: String, sigCol: String,
                           maxDistance: Int = 3,
                           acceptUnvalidated: Boolean = false): DataFrame = {
    val idx = validateIndexParams(index, "signatureIndexUpdate",
      Seq("__fmt" -> SignatureIndexFormat, "__max_distance" -> maxDistance),
      acceptUnvalidated)
    idx.select(col("chunk"), col("key"), col("id"), col("sig"))
      .unionByName(signatureIndex(newDf, idCol, sigCol, maxDistance)
        .select(col("chunk"), col("key"), col("id"), col("sig")))
      .distinct()
      .withColumn("__fmt", lit(SignatureIndexFormat))
      .withColumn("__max_distance", lit(maxDistance))
  }

  /** Screen a batch against a PREBUILT signature index: the batch is
    * chunked and BROADCAST into the index's buckets (batch-bounded —
    * the corpus side is never re-banded, re-scanned, or re-decoded),
    * then candidates verify by exact hamming on the index-stored
    * signatures. Emits (id_batch, id_corpus, hamming ≤ maxDistance).
    *
    * `maxBucketSize` guards the candidate join against degenerate
    * buckets (e.g. the all-zero signature of blank media): a
    * column-pruned (chunk, key) census over the index refuses
    * over-populated buckets BEFORE the join — one partial-agg scan,
    * cheap relative to the blow-up it prevents; recall then degrades
    * only for pairs whose EVERY agreeing chunk is hot (the
    * minhashPairs contract). The census-refusal keeps update ≡
    * rebuild exact (nothing is dropped from the index itself). */
  def signaturePairsAgainstIndex(newDf: DataFrame, index: DataFrame,
                                 idCol: String, sigCol: String,
                                 maxDistance: Int = 3,
                                 maxBucketSize: Int = 1000,
                                 acceptUnvalidated: Boolean = false)
  : DataFrame = {
    val idx = validateIndexParams(index, "signaturePairsAgainstIndex",
      Seq("__fmt" -> SignatureIndexFormat, "__max_distance" -> maxDistance),
      acceptUnvalidated)
      .select(col("chunk"), col("key"), col("id"), col("sig"))
    signatureScreenCore(newDf, idx, idCol, sigCol, maxDistance,
      maxBucketSize)
  }

  /** [[signaturePairsAgainstIndex]] with the index built inline —
    * the one-shot face (no validation scan: the index never left this
    * call — the minhashPairsAgainst precedent); persist
    * [[signatureIndex]] once and use the index form at ingestion
    * cadence. */
  def signaturePairsAgainst(newDf: DataFrame, corpus: DataFrame,
                            idCol: String, sigCol: String,
                            maxDistance: Int = 3,
                            maxBucketSize: Int = 1000): DataFrame =
    signatureScreenCore(newDf,
      signatureIndex(corpus, idCol, sigCol, maxDistance)
        .select(col("chunk"), col("key"), col("id"), col("sig")),
      idCol, sigCol, maxDistance, maxBucketSize)

  /** shared screen core over a stripped (chunk, key, id, sig) index */
  private def signatureScreenCore(newDf: DataFrame, idx: DataFrame,
                                  idCol: String, sigCol: String,
                                  maxDistance: Int,
                                  maxBucketSize: Int): DataFrame = {
    require(maxBucketSize >= 1,
      s"maxBucketSize must be >= 1, got $maxBucketSize")
    // guard the acceptUnvalidated path too: chunks = 0 divides by
    // zero inside simhashChunks; maxDistance >= 64 makes every key 0
    // and the single bucket census-refuses to silent zero recall
    require(maxDistance >= 0 && maxDistance <= 16,
      s"maxDistance must be in [0,16], got $maxDistance")
    val chunks = maxDistance + 1
    val batch = newDf.select(col(idCol).cast("long").as("id_b"),
      col(sigCol).cast("long").as("sig_b"))
    val bChunks = batch.select(col("id_b"), col("sig_b"),
        explode(simhashChunks(col("sig_b"), chunks)).as("ck"))
      .select(col("ck.chunk").as("chunk"), col("ck.key").as("key"),
        col("id_b"), col("sig_b"))
    val hot = idx.groupBy(col("chunk"), col("key"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("chunk"), col("key"))
    idx.join(broadcast(hot), Seq("chunk", "key"), "left_anti")
      .join(broadcast(bChunks), Seq("chunk", "key"))
      .select(col("id_b"), col("id").as("id_c"),
        hammingDistance(col("sig_b"), col("sig")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .distinct()
  }

  /** shared pair machinery over a precomputed (id, sim) table. */
  private def simhashPairsOn(sh0: DataFrame, maxDistance: Int,
                             maxBucketSize: Int): DataFrame = {
    val chunks = maxDistance + 1
    val sh = Partitioning.spread(sh0).cache()
    val chunked = sh.select(col("id"),
        explode(simhashChunks(col("sim"), chunks)).as("ck"))
      .select(col("id"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    // pairs from a per-bucket collected id array (one hash
    // aggregation + in-row expansion), not a bucket self-join: no
    // join-row blowup, and the size guard is a filter on the
    // aggregated row — identical shape to minhashPairs
    val cand = pairsFromBuckets(chunked
      .groupBy(col("chunk"), col("key"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize)))
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sim").as("sim_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sim").as("sim_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
    materializeAndRelease(verified, sh)
  }

  /** n-gram Jaccard dedup without LSH (exact all-pairs within a
    * blocking key to bound cost; the caller provides the blocking
    * column). Quadratic per block — prefer [[jaccardPairsPrefix]],
    * which is exact without a caller key and near-linear on rare
    * shingles. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, shingleLen: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    // spread the RAW projection so the shingling itself runs wide
    // (ADVICE r18 — an exchange above the shingle projection leaves
    // wordShingles evaluating map-side in the narrow scan stage)
    val sh = Partitioning.spread(
        df.select(col(idCol).as("id"), col(blockCol).as("blk"),
          col(textCol).as("__t")))
      .select(col("id"), col("blk"),
        wordShingles(col("__t"), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** EXACT all-pairs n-gram Jaccard join via co-occurrence counting:
    * one token self-join on the (distinct) shingles computes
    * |A∩B| for every pair sharing at least one shingle — partial
    * (map-side) aggregation collapses counts before the shuffle — and
    * J = inter / (|A| + |B| - inter) filters ≥ t. Exact by
    * construction: a pair with J ≥ t > 0 shares a shingle, so it is
    * counted; no arrays ever cross a shuffle and no LSH approximation
    * is involved. Cost is Σ_tok C(freq_tok, 2) join rows — the
    * canonical all-pairs-similarity cost, near-linear when shingles
    * are rare. THE shape for low thresholds, where prefix filtering
    * ([[jaccardPairsPrefix]]) degenerates to emitting almost every
    * shingle; prefer the prefix variant for t ≳ 0.7 (short prefixes →
    * far fewer candidates).
    *
    * `maxTokenBucket`: shingles shared by more docs than this are
    * excluded from counting (boilerplate guard at corpus scale). A
    * cap would corrupt the counts, not just drop candidates — so when
    * it is set, pairs are re-verified EXACTLY on their full shingle
    * arrays and only the candidate set is (documentedly) incomplete.
    * Leave at the default for exactness. The capped path — the 100 TB
    * recipe — is gate-executed: DedupSpec "prefix-filter jaccard
    * pairs == exhaustive all-pairs truth" pins capped == uncapped ==
    * truth on the documents testdata. */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, threshold: Double = 0.5,
                        maxTokenBucket: Int = Int.MaxValue): DataFrame =
    coOccurrencePairs(df, idCol, textCol, shingleLen, maxTokenBucket,
      out = "jaccard", threshold = threshold,
      counted = (inter, szA, szB) => inter / (szA + szB - inter),
      verify = (shA, shB) => jaccard(shA, shB))

  /** Shared scaffold of the exact set-similarity joins
    * ([[jaccardPairsExact]], [[containmentPairs]]): distinct shingle
    * sets (cached for the capped re-verify), per-shingle (id, |set|)
    * self-join, partial-agg intersection counts — then the caller's
    * measure over (inter, sz_a, sz_b), or its exact array form when
    * `maxTokenBucket` capped the counts (lower bounds → every
    * candidate re-verifies on full shingle sets). */
  private def coOccurrencePairs(df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, maxTokenBucket: Int,
      out: String, threshold: Double,
      counted: (Column, Column, Column) => Column,
      verify: (Column, Column) => Column): DataFrame = {
    // raw projection spread first so the shingling runs wide
    // (ADVICE r18); the shingled frame stays the cached artifact
    val sh = shingledSpread(df, idCol, textCol, shingleLen).cache()
    val tok0 = sh.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("tok"))
    val capped = maxTokenBucket < Int.MaxValue
    val tok =
      if (!capped) tok0
      else {
        val freq = tok0.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        tok0.join(freq.filter(col("freq") <= maxTokenBucket), Seq("tok"))
          .select(col("id"), col("sz"), col("tok"))
      }
    val a = tok.select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = tok.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"))
    val counts = a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    val result =
      if (!capped)
        counts.select(col("id_a"), col("id_b"),
          counted(col("inter"), col("sz_a"), col("sz_b")).as(out))
          .filter(col(out) >= threshold)
      else // capped counts are lower bounds → re-verify exactly
        counts.select(col("id_a"), col("id_b"))
          .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")),
            Seq("id_a"))
          .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            verify(col("sh_a"), col("sh_b")).as(out))
          .filter(col(out) >= threshold)
    materializeAndRelease(result, sh)
  }

  /** Exact CONTAINMENT join (asymmetric Jaccard) — the
    * quote/inclusion detector [[jaccardPairsExact]] cannot be: a
    * short document wholly quoted inside a long one has
    * J = |A|/|B| ≈ 0 (symmetric Jaccard punishes the size gap) but
    * containment |A∩B| / min(|A|, |B|) = 1. The standard screen for
    * "is this doc substantially contained in another" — boilerplate
    * inclusion, quote farms, prompt-in-completion leaks — thresholded
    * high (t ≳ 0.8).
    *
    * Same co-occurrence-count shape (and 100 TB story) as
    * [[jaccardPairsExact]]: per-shingle (id, |set|) pairs self-joined
    * on the shingle, partial-agg counts, measure + threshold — no
    * arrays cross a shuffle, exact by construction since a pair with
    * containment ≥ t > 0 shares a shingle. `maxTokenBucket` is the
    * same boilerplate guard with the same contract: counts become
    * lower bounds, so capped pairs re-verify EXACTLY on their full
    * shingle sets and only the candidate set is (documentedly)
    * incomplete. Returns (id_a, id_b, containment) with id_a < id_b;
    * the measure is symmetric-min, so the orientation of the
    * inclusion is size order, not column order. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, threshold: Double = 0.8,
                       maxTokenBucket: Int = Int.MaxValue): DataFrame =
    coOccurrencePairs(df, idCol, textCol, shingleLen, maxTokenBucket,
      out = "containment", threshold = threshold,
      counted = (inter, szA, szB) => inter / least(szA, szB),
      verify = (shA, shB) => size(array_intersect(shA, shB))
        / least(size(shA), size(shB)).cast("double"))

  /** URL-level dedup (DRIVER-EXT, SURVEY.md §2.12): one row per
    * CANONICAL URL ([[graft.functions.UrlFunctions.normalizeUrl]]) —
    * the first dedup pass of every web-derived corpus (re-crawls and
    * mirrors store the same page under trivially different URLs).
    * Keep policy and 100 TB shape are exactly [[exact]]'s: a single
    * exchange keyed on xxhash64 of the canonical string, min-id (or
    * argmax `keepCol`) winner per group. */
  def byCanonicalUrl(df: DataFrame, urlCol: String, idCol: String,
                     keepCol: String = ""): DataFrame =
    exact(df.withColumn("__url_canon",
        graft.functions.UrlFunctions.normalizeUrl(col(urlCol))),
      Seq("__url_canon"), idCol, keepCol).drop("__url_canon")

  /** Corpus-GLOBAL span dedup (DRIVER-EXT, SURVEY.md §2.12) — the
    * C4 rule at token-span granularity: any `spanTokens`-token span
    * (non-overlapping [[graft.functions.TextFunctions.chunkTokens]]
    * windows) occurring more than once in the corpus survives only at
    * its FIRST occurrence — smallest (id, position) — and later
    * occurrences are cut from their documents. Returns the input
    * schema with `textCol` REASSEMBLED from the surviving spans, in
    * the tokens() normalization (lowercased, single-space-joined —
    * the normalization the spans dedup under; DOCUMENTED DIVERGENCE
    * from byte-exact text surgery). A document losing every span
    * keeps an empty string.
    *
    * 100 TB shape: posexplode → ONE aggregation keyed on the span
    * string taking min(struct(id, pos)) — a boilerplate span shared
    * by millions of documents reduces to one aggregation row
    * (partial-aggregated map-side), where a window over the span key
    * would pile the hot span into a single partition. Survivors come
    * back via an equi-join on (span + winner key) and one
    * groupBy(id) rebuilds the text; every shuffle is keyed and
    * partial-aggregatable, nothing driver-side. */
  def dedupSpansGlobal(df: DataFrame, idCol: String, textCol: String,
                       spanTokens: Int = 32): DataFrame = {
    val spans = df.select(col(idCol).as("__id"),
      posexplode(graft.functions.TextFunctions
        .chunkTokens(col(textCol), spanTokens)).as(Seq("__pos", "__span")))
    val winners = spans.groupBy(col("__span"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"))
      .select(col("__span"), col("__w.__id").as("__wid"),
        col("__w.__pos").as("__wpos"))
    val rebuilt = spans.join(winners, Seq("__span"))
      .filter(col("__id") === col("__wid") && col("__pos") === col("__wpos"))
      .groupBy(col("__id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__pos"), col("__span")))),
        s => s.getField("__span"))).as("__text"))
    df.drop(textCol)
      .join(rebuilt.select(col("__id").as(idCol), col("__text").as(textCol)),
        Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
  }

  /** Benchmark decontamination (DRIVER-EXT, SURVEY.md §2.12): drop
    * corpus docs sharing at least `minOverlap` distinct word n-grams
    * with ANY doc of `evalSet` — the standard guard against training
    * on evaluation data. 100 TB shape: the eval side (a benchmark
    * suite — thousands of docs, MBs of shingles) reduces to a DISTINCT
    * shingle set and broadcasts; the corpus side explodes its (already
    * distinct per doc) shingles once, hash-joins the broadcast set,
    * and counts hits per doc — no corpus self-join and no shuffle of
    * corpus text, only of the (id, hit) pairs that actually match.
    * Set `broadcastEval = false` for an unusually large eval set; the
    * join then shuffles on the shingle key instead.
    * Returns the SURVIVING corpus rows unchanged. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, evalTextCol: String = "text",
                    shingleLen: Int = 3, minOverlap: Int = 1,
                    broadcastEval: Boolean = true): DataFrame = {
    val evalSh0 = evalSet.select(
      explode(wordShingles(col(evalTextCol), shingleLen)).as("tok"))
      .distinct()
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    val corpusSh = corpus.select(col(idCol),
      explode(wordShingles(col(textCol), shingleLen)).as("tok"))
    val contaminated = corpusSh.join(evalSh, Seq("tok"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select(col(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-document NOVELTY score against a reference corpus: the
    * share of a doc's DISTINCT word n-grams absent from the
    * reference's distinct n-gram set — the continuous companion to
    * [[decontaminate]]'s binary verdict (novelty ≈ 0 means the doc
    * is re-hashed reference material; the score feeds quality
    * weighting and dedup-threshold tuning rather than a hard drop).
    * Returns (idCol, n_shingles, n_novel, novelty rounded 4); docs
    * too short for one shingle emit zero shingles and null novelty.
    *
    * Shape at 100 TB: the batch's per-doc distinct shingles LEFT
    * SEMI/ANTI-join the reference's distinct shingle set on the
    * shingle key — both sides shuffle REDUCED shingle rows, never
    * text; the reference set is computed once per call (persist it
    * via the gram-index machinery for repeated batches — the
    * SubstringDedup.gramIndex discipline applies verbatim). */
  def noveltyScore(batch: DataFrame, idCol: String, textCol: String,
                   reference: DataFrame, refTextCol: String = "text",
                   shingleLen: Int = 3): DataFrame = {
    val refSh = reference.select(
      explode(wordShingles(col(refTextCol), shingleLen)).as("tok"))
      .distinct()
    val batchSh = batch.select(col(idCol),
        explode(wordShingles(col(textCol), shingleLen)).as("tok"))
      .distinct()
    val novel = batchSh.join(refSh, Seq("tok"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    val totals = batchSh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    batch.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(novel, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          round(coalesce(col("n_novel"), lit(0L))
            / col("n_shingles"), 4)).as("novelty"))
  }

  /** [[decontaminate]]'s scale path for an eval set too large to
    * broadcast EXACTLY: the eval shingle set is compressed into a
    * Bloom filter (~1.2 MB per million shingles at fpp 0.01 — a
    * fixed-size bit array where the exact broadcast set would be GBs)
    * and shipped as a plan-literal scan-side prefilter (the same way
    * Spark's injected runtime filters travel), so only BLOOM-POSITIVE
    * corpus shingles ever reach the shuffle. With `confirmExact`
    * (default) the survivors are confirmed against the real shingle
    * set by a shuffle join — both sides now reduced to (near-)matching
    * shingles only — and the result is IDENTICAL to [[decontaminate]]
    * (same oracle). With `confirmExact = false` the filter's verdict
    * is final: Bloom filters have no false negatives, so contaminated
    * docs are still always dropped, and the fpp-rate false positives
    * only ever over-remove (spec-pinned as a subset property) — the
    * conservative failure mode for training data.
    *
    * The eval shingle set is counted once to size the filter, cached
    * for the build (one `bloomFilter` aggregate) and, under
    * `confirmExact`, reused as the confirming join side. The digest
    * build + probe ride [[BloomDigest]] — the SAME native
    * `might_contain` path as the streaming screen
    * (EventStream.screenAgainstBloom), so the prefilter stays inside
    * whole-stage codegen (plan-pinned in DedupSpec). */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         evalTextCol: String = "text",
                         shingleLen: Int = 3, minOverlap: Int = 1,
                         fpp: Double = 0.01,
                         confirmExact: Boolean = true): DataFrame = {
    val evalSh = evalSet.select(
      explode(wordShingles(col(evalTextCol), shingleLen)).as("tok"))
      .distinct().cache()
    val corpusSh = bloomPrefilteredShingles(corpus, idCol, textCol,
      shingleLen, evalSh, fpp)
    val hits = if (confirmExact) corpusSh.join(evalSh, Seq("tok"))
               else corpusSh
    // the contaminated id set is tiny — materialize it eagerly so the
    // cached eval shingle set can be released instead of staying
    // pinned in executor memory for the session
    val contaminated = materializeAndRelease(hits
      .groupBy(col(idCol)).agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select(col(idCol)), evalSh)
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[decontaminateBloom]]'s scan-side stage, extracted so the spec
    * can pin its plan (the returned DataFrame is consumed inside an
    * eager materialization, so the probe never appears in the final
    * anti-join plan): corpus shingles filtered by the shared
    * [[BloomDigest]] native `might_contain` digest of `evalSh`. */
  private[graft] def bloomPrefilteredShingles(corpus: DataFrame,
                                              idCol: String,
                                              textCol: String,
                                              shingleLen: Int,
                                              evalSh: DataFrame,
                                              fpp: Double): DataFrame = {
    val pred = BloomDigest.mightContainPreDistinct(
      evalSh, "tok", fpp, col("tok"))
    corpus.select(col(idCol),
      explode(wordShingles(col(textCol), shingleLen)).as("tok"))
      .filter(col("tok").isNotNull && pred)
  }

  /** EXACT all-pairs n-gram Jaccard join via prefix filtering
    * (AllPairs/PPJoin family — Bayardo, Ma & Srikant, WWW'07;
    * public algorithm). Shingles are globally ordered rarest-first
    * (frequency asc, shingle asc); each doc emits only its first
    * |sh| - ceil(t*|sh|) + 1 shingles as candidate keys. Any pair
    * with J >= t has |A∩B| >= t*|A|, so the globally-smallest common
    * shingle provably sits inside BOTH prefixes — recall is 1 by
    * construction, no LSH approximation. Candidate volume is
    * Σ_tok prefixCount(tok)^2, near-linear when shingles are rare
    * (frequent shingles are pushed out of every prefix by the
    * ordering).
    *
    * `maxTokenBucket` caps a degenerate token's bucket (a boilerplate
    * shingle shared by >cap docs' prefixes); capping trades the
    * recall guarantee for bounded cost — leave at the default for
    * exactness. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, threshold: Double = 0.5,
                         maxTokenBucket: Int = Int.MaxValue): DataFrame = {
    // raw projection spread first so the shingling runs wide
    // (ADVICE r18); the shingled frame stays the cached artifact
    val sh = shingledSpread(df, idCol, textCol, shingleLen).cache()
    val tok = sh.select(col("id"), explode(col("sh")).as("tok"))
    // global shingle frequencies: partial (map-side) aggregation, then
    // a broadcast-or-shuffle join back — both stages linear in corpus
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val ordered = tok.join(freq, Seq("tok"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("freq"), col("tok")))).as("st"))
      .select(col("id"), expr("transform(st, x -> x.tok)").as("toks"))
    val pref = ordered.select(col("id"), expr(
      s"slice(toks, 1, size(toks) - cast(ceil($threshold * size(toks)) as int) + 1)")
      .as("pref"))
    val cand = pairsFromBuckets(pref
      .select(explode(col("pref")).as("tok"), col("id"))
      .groupBy(col("tok")).agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxTokenBucket)))
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    materializeAndRelease(verified, sh)
  }

  /** embedding near-dup pairs: multi-table hyperplane-LSH bucket join
    * + exact cosine verification. `nTables` independent tables of
    * `bitsPerTable` hyperplanes each — a pair collides if it shares
    * ANY table's full code, so recall at cosine c is
    * 1 - (1 - p^bits)^tables with p = 1 - acos(c)/π; positively
    * scaled duplicates (c = 1) collide in EVERY table, exactly.
    * Concretely at the defaults (8 tables x 16 bits): ~80% recall for
    * a pair at EXACTLY cosine 0.95, ~99.5% at 0.99, 1 at 1.0 —
    * candidate recall rises steeply above the threshold, so the pairs
    * the screen is FOR (true duplicates) are near-certain while
    * boundary pairs are probabilistic (randomized pin in DedupSpec).
    * Raise `nTables` (linear cost) for higher boundary recall, e.g.
    * 16 tables → ~96% at 0.95. Candidates come from the same
    * bucket-grouped expansion as minhashPairs — never an all-pairs
    * join. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int, threshold: Double = 0.95,
                     nTables: Int = 8, bitsPerTable: Int = 16,
                     seed: Long = 42L,
                     maxBucketSize: Int = 10000): DataFrame = {
    val sig = Partitioning.spread(
      df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("codes",
        VectorFunctions.hyperplaneCodes(col("v"), nTables, bitsPerTable,
          dim, seed))
      .cache()
    // (table, code) is one long (table id in the high bits): the
    // bucket key shuffles 8 bytes per (doc, table)
    val banded = sig.select(col("id"), explode(col("codes")).as("code"))
    val cand = pairsFromBuckets(banded
      .groupBy(col("code")).agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize)))
    val verified = cand
      .join(sig.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    materializeAndRelease(verified, sig)
  }

  // Every embeddingIndex row is stamped with (__fmt, __nTables,
  // __bitsPerTable, __dim, __seed, __maxBucketSize) — same
  // enforceable-contract discipline as minhashIndex's.

  /** [[minhashAsked]]'s embedding sibling. */
  private def embAsked(nTables: Int, bitsPerTable: Int, dim: Int,
                       seed: Long): Seq[(String, Any)] =
    Seq("__fmt" -> EmbeddingIndexFormat, "__nTables" -> nTables,
      "__bitsPerTable" -> bitsPerTable, "__dim" -> dim, "__seed" -> seed)

  private def stampEmbParams(index: DataFrame, nTables: Int,
                             bitsPerTable: Int, dim: Int, seed: Long,
                             maxBucketSize: Int): DataFrame =
    index
      .withColumn("__fmt", lit(EmbeddingIndexFormat))
      .withColumn("__nTables", lit(nTables))
      .withColumn("__bitsPerTable", lit(bitsPerTable))
      .withColumn("__dim", lit(dim))
      .withColumn("__seed", lit(seed))
      .withColumn("__maxBucketSize", lit(maxBucketSize))

  private def embCodes(d: DataFrame, idCol: String, vecCol: String,
                       dim: Int, nTables: Int, bitsPerTable: Int,
                       seed: Long): DataFrame =
    Partitioning.spread(d.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("codes",
        VectorFunctions.hyperplaneCodes(col("v"), nTables, bitsPerTable,
          dim, seed))

  private def rawEmbIndex(corpus: DataFrame, idCol: String,
                          vecCol: String, dim: Int, nTables: Int,
                          bitsPerTable: Int, seed: Long,
                          maxBucketSize: Int): DataFrame =
    capBuckets(
      embCodes(corpus, idCol, vecCol, dim, nTables, bitsPerTable, seed)
        .select(col("id"), explode(col("codes")).as("code"))
        .groupBy(col("code"))
        .agg(collect_list(col("id")).as("ids")),
      maxBucketSize)

  /** Persistable hyperplane-LSH index over the corpus's embedding
    * column for incremental cosine screening: (code, ids, n) buckets
    * (table id folded into the code's high bits), singletons KEPT,
    * `maxBucketSize` skew cap applied with the same true-count/dead-
    * bucket discipline as [[minhashIndex]] — the embedding-space
    * sibling. Write once, screen every ingestion batch with
    * [[embeddingPairsAgainstIndex]], fold admitted batches in with
    * [[embeddingIndexUpdate]]; hashing a 100 TB corpus's vectors is
    * paid once, not per batch. Build params embedded as constant
    * columns and validated on use. */
  def embeddingIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, nTables: Int = 8, bitsPerTable: Int = 16,
                     seed: Long = 42L,
                     maxBucketSize: Int = 10000): DataFrame =
    stampEmbParams(
      rawEmbIndex(corpus, idCol, vecCol, dim, nTables, bitsPerTable, seed,
        maxBucketSize),
      nTables, bitsPerTable, dim, seed, maxBucketSize)

  /** [[embeddingPairsAgainst]] with a PREBUILT corpus index (from
    * [[embeddingIndex]], typically read back from parquet): per-batch
    * cost is the batch's own hashing, one broadcast join into the
    * index, and exact-cosine verification against only the candidate-
    * matched corpus vectors — the corpus is scanned once
    * (verification) and never re-hashed. The embedded `__fmt` format
    * version and build params are validated (all distinct tuples —
    * see [[validateIndexParams]]); a mismatch or a param-less index
    * throws rather than silently collapsing recall, with
    * `acceptUnvalidated = true` as the hand-built escape hatch. */
  def embeddingPairsAgainstIndex(newDf: DataFrame, corpus: DataFrame,
                                 corpusIndex: DataFrame,
                                 idCol: String, vecCol: String, dim: Int,
                                 threshold: Double = 0.95,
                                 nTables: Int = 8, bitsPerTable: Int = 16,
                                 seed: Long = 42L,
                                 broadcastNew: Boolean = true,
                                 acceptUnvalidated: Boolean = false): DataFrame = {
    val idx = validateIndexParams(corpusIndex,
      "embeddingPairsAgainstIndex",
      embAsked(nTables, bitsPerTable, dim, seed), acceptUnvalidated)
    embScreenAgainstIndex(newDf, corpus, idx, idCol, vecCol, dim,
      threshold, nTables, bitsPerTable, seed, broadcastNew)
  }

  /** [[minhashIndexUpdate]]'s embedding sibling: fold a screened
    * batch into a persisted [[embeddingIndex]] without re-hashing the
    * corpus — exactly equivalent to a rebuild over (corpus ∪ batch),
    * same true-count/dead-bucket discipline, spec-pinned. */
  def embeddingIndexUpdate(index: DataFrame, newBatch: DataFrame,
                           idCol: String, vecCol: String, dim: Int,
                           nTables: Int = 8, bitsPerTable: Int = 16,
                           seed: Long = 42L,
                           maxBucketSize: Int = 10000,
                           acceptUnvalidated: Boolean = false): DataFrame = {
    // cap asked for the same reason as minhashIndexUpdate: the
    // update≡rebuild contract only holds cap-for-cap
    val old = validateIndexParams(index, "embeddingIndexUpdate",
      embAsked(nTables, bitsPerTable, dim, seed) :+
        ("__maxBucketSize" -> maxBucketSize),
      acceptUnvalidated)
    require(old.columns.contains("n"),
      "embeddingIndexUpdate requires a graft-built index carrying the " +
        "true bucket count column `n`")
    val nb = embCodes(newBatch, idCol, vecCol, dim, nTables, bitsPerTable,
        seed)
      .select(col("id"), explode(col("codes")).as("code"))
      .groupBy(col("code"))
      .agg(collect_list(col("id")).as("ids"))
      .select(col("code"), col("ids"), size(col("ids")).cast("long").as("n"))
    stampEmbParams(
      mergeIndex(old.select(col("code"), col("ids"), col("n")), nb,
        Seq("code"), maxBucketSize),
      nTables, bitsPerTable, dim, seed, maxBucketSize)
  }

  private def embScreenAgainstIndex(newDf: DataFrame, corpus: DataFrame,
                                    corpusIndex: DataFrame,
                                    idCol: String, vecCol: String,
                                    dim: Int, threshold: Double,
                                    nTables: Int, bitsPerTable: Int,
                                    seed: Long,
                                    broadcastNew: Boolean): DataFrame = {
    val newSig = embCodes(newDf, idCol, vecCol, dim, nTables,
      bitsPerTable, seed).cache()
    val newBands = newSig
      .select(col("id").as("id_new"), explode(col("codes")).as("code"))
    val cand = corpusIndex
      .join(if (broadcastNew) broadcast(newBands) else newBands,
        Seq("code"))
      .select(col("id_new"), explode(col("ids")).as("id_corpus"))
      .distinct()
    val verified = cand
      .join(newSig.select(col("id").as("id_new"), col("v").as("v_new")),
        Seq("id_new"))
      .join(corpus.select(col(idCol).as("id_corpus"),
        col(vecCol).as("v_cor")), Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        VectorFunctions.cosine(col("v_new"), col("v_cor")).as("cosine"))
      .filter(col("cosine") >= threshold)
    materializeAndRelease(verified, newSig)
  }

  /** Incremental embedding-cosine screen: (new, corpus) candidate
    * pairs by hyperplane LSH between a NEW batch and an EXISTING
    * corpus, verified by exact cosine — the SemDeDup-style semantic
    * sibling of [[minhashPairsAgainst]], completing the incremental
    * family (exact key / shingle jaccard / embedding cosine). Returns
    * (id_new, id_corpus, cosine >= threshold); id namespaces are the
    * caller's contract.
    *
    * Shape at 100 TB: the corpus reduces to the [[embeddingIndex]]
    * bucket table; the batch's (id, code) rows are batch-sized x
    * nTables and broadcast into the bucket join (`broadcastNew =
    * false` for backfills); exact-cosine verification touches corpus
    * vectors ONLY for candidate-matched ids. This convenience form
    * rebuilds the index per call — at ingestion cadence persist
    * [[embeddingIndex]] and call [[embeddingPairsAgainstIndex]]. */
  def embeddingPairsAgainst(newDf: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String, dim: Int,
                            threshold: Double = 0.95,
                            nTables: Int = 8, bitsPerTable: Int = 16,
                            seed: Long = 42L, maxBucketSize: Int = 10000,
                            broadcastNew: Boolean = true): DataFrame =
    // inline index is built with these very params: skip the
    // validation head read (it would trigger an extra hashing job)
    embScreenAgainstIndex(newDf, corpus,
      rawEmbIndex(corpus, idCol, vecCol, dim, nTables, bitsPerTable,
        seed, maxBucketSize),
      idCol, vecCol, dim, threshold, nTables, bitsPerTable, seed,
      broadcastNew)

  /** Exact edit-distance similarity join (record linkage / fuzzy-key
    * dedup): every pair with levenshtein ≤ `maxDist`. Candidates come
    * from FastSS deletion neighborhoods (Bocek et al. 2007, public):
    * dist(a, b) ≤ k iff the ≤k-deletion neighborhoods of a and b
    * intersect — an EXACT characterization, so the levenshtein verify
    * only removes false positives, never recovers missed pairs.
    *
    * The default is genuinely exact: `maxBucketSize = 0` means no
    * bucket cap. Passing a positive cap is an EXPLICIT recall trade
    * (the LSH siblings' skew guard — variants shared by more than
    * `maxBucketSize` keys stop generating candidates); take it only
    * when a skewed key corpus makes some deletion variant degenerate.
    *
    * Shape at 100 TB: the neighborhood explode emits ~|s|^k variants
    * per row — this is a KEY matcher, not a document matcher, and
    * `maxLen` enforces that loudly IN-PLAN (`raise_error`, no extra
    * pass) instead of letting one pathological document blow up the
    * explode; bucket-grouped with the same collect + in-row pair
    * expansion as the LSH siblings; raw strings rejoin by id only
    * for the bounded candidate set. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 1,
                        maxBucketSize: Int = 0,
                        maxLen: Int = 64): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (neighborhood size is |s|^k), got $maxDist")
    require(maxLen >= 1, s"maxLen must be positive, got $maxLen")
    val guarded = when(length(col(strCol)) > maxLen,
      raise_error(concat(
        lit(s"editDistancePairs: value longer than maxLen=$maxLen " +
          "chars (neighborhood size is ~|s|^maxDist; raise maxLen " +
          "only for bounded key domains): "),
        col(strCol).substr(lit(1), lit(64)))))
      .otherwise(col(strCol))
    val base = Partitioning.spread(
      df.select(col(idCol).as("id"), guarded.as("s"))
        .filter(col("s").isNotNull)).cache()
    // single-deletion neighborhood of one string (plus the string
    // itself); empty strings guard the sequence() descending trap
    def nb(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(length(s) === 0, array(s)).otherwise(array_distinct(concat(
        array(s),
        transform(sequence(lit(1), length(s)), i =>
          concat(s.substr(lit(1), i - 1),
            s.substr(i + 1, length(s) - i))))))
    val hood =
      if (maxDist == 1) nb(col("s"))
      else array_distinct(flatten(transform(nb(col("s")), v => nb(v))))
    val variants = base.select(col("id"), explode(hood).as("v"))
    val bucketKeep = if (maxBucketSize > 0)
      size(col("ids")).between(2, maxBucketSize)
    else size(col("ids")) >= 2
    val cand = pairsFromBuckets(variants
      .groupBy(col("v")).agg(array_distinct(collect_list(col("id"))).as("ids"))
      .filter(bucketKeep))
    val verified = cand
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).as("dist"))
      .filter(col("dist") <= maxDist)
    materializeAndRelease(verified, base)
  }
}
