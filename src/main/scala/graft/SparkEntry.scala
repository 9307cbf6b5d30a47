package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ddf.{DDF, GroupedDDF}
import graft.ddf.DDF._
import graft.ml.{DBSCAN, Feature, KNN, Models}
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, Bpe, Budget, Dedup, Dsir, Frequent, Geo, KolmogorovSmirnov, PageRank, SemDedup, Similarity, SubstringDedup, WordPiece, Zip}
import graft.streaming.EventStream
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * One query per implemented operator family of SURVEY.md §2; each
  * SQL-expressible query has a DuckDB oracle in `oracleSql` with
  * IDENTICAL column aliases and explicit ORDER BY. Doubles that pass
  * through order-sensitive aggregation are rounded on both sides.
  */
object SparkEntry {

  // ---- helpers ----------------------------------------------------------

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // events goes through the layout-adaptive loader (EventStream) —
    // the generator has shipped both nanos and micros ts over time
    require(name != "events", "load events via events()/EventStream")
    s.read.parquet(s"$dir/$name.parquet")
  }
  private def d(s: SparkSession, dir: String, name: String): DDF =
    DDF(t(s, dir, name))

  /** events with ts normalized to microsecond timestamp_ntz (UTC),
    * whatever physical layout the parquet carries */
  private def events(s: SparkSession, dir: String): DataFrame =
    EventStream.eventsBatchNtz(s, dir)

  /** documents plus synthetic near-duplicates: docs 0..49 re-appear as
    * doc_id+10000 with one token appended (high but <1.0 jaccard), and
    * docs 0..99 re-appear verbatim as doc_id+20000 (exact dups). The
    * same construction is mirrored in the DuckDB oracles. */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs
      .union(docs.filter(col("doc_id") < 50)
        .select(col("doc_id") + 10000, concat(col("text"), lit(" zzz"))))
      .union(docs.filter(col("doc_id") < 100)
        .select(col("doc_id") + 20000, col("text")))
  }
  private val docsWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id+10000 AS doc_id, text || ' zzz' AS text FROM documents WHERE doc_id < 50
      |UNION ALL SELECT doc_id+20000 AS doc_id, text FROM documents WHERE doc_id < 100""".stripMargin

  /** DuckDB-side whitespace tokens mirroring TextFunctions.tokens */
  private def sqlTokens(textExpr: String): String =
    s"list_filter(string_split_regex(lower(trim($textExpr)), '\\s+'), x -> len(x) > 0)"

  /** DuckDB-side replica of TextFunctions.qualityScore (shared by the
    * q73 pipeline and q74 token-budget oracles) */
  private def sqlQuality(textExpr: String): String =
    s"""round(
       |  0.3 * (CASE WHEN length($textExpr) BETWEEN 50 AND 20000 THEN 1.0
       |      WHEN length($textExpr) BETWEEN 20 AND 50 THEN 0.5 ELSE 0.0 END)
       |  + 0.2 * (CAST(length(regexp_replace($textExpr, '[^\\p{L}]', '', 'g')) AS DOUBLE)
       |      / greatest(CAST(length($textExpr) AS DOUBLE), 1.0))
       |  + 0.15 * (CASE WHEN CAST(length(regexp_replace($textExpr, '[^.!?,;:]', '', 'g')) AS DOUBLE)
       |      / greatest(CAST(length($textExpr) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 ELSE 0.4 END)
       |  + 0.15 * (CASE WHEN (CAST(length($textExpr) AS DOUBLE) - len(${sqlTokens(textExpr)}) + 1)
       |      / greatest(CAST(len(${sqlTokens(textExpr)}) AS DOUBLE), 1.0) BETWEEN 2 AND 12
       |      THEN 1.0 ELSE 0.3 END)
       |  + 0.2 * least((CAST(len(list_filter(${sqlTokens(textExpr)},
       |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'], x))) AS DOUBLE)
       |      / greatest(CAST(len(${sqlTokens(textExpr)}) AS DOUBLE), 1.0)) * 5.0, 1.0)
       | , 4)""".stripMargin

  /** q115's oracle — exhaustive cross jaccard on word 3-shingles
    * between the copies batch (doc_id >= 10000) and the originals
    * corpus. Shared VERBATIM by q117, which must give the same answer
    * through the persisted-index path (the q109-vs-q78 pattern: same
    * oracle, different cost shape). */
  /** shared q122/q123 fixture: (corpus, batch1, batch2). b1 =
    * token-reversed fresh docs (+30000); b2 = near-dups of b1's rows
    * (+40000, " zzz"), exact-text corpus copies (+20000), and id
    * replays (<30 verbatim). */
  private def admissionFixture(s: SparkSession, dir: String) = {
    val base = t(s, dir, "documents")
      .filter(col("doc_id") < 2000).select(col("doc_id"), col("text"))
    val rev = concat_ws(" ", reverse(TF.tokens(col("text"))))
    val b1 = base.filter(col("doc_id") < 200)
      .select((col("doc_id") + 30000).as("doc_id"), rev.as("text"))
    val b2 = b1.filter(col("doc_id") < 30050)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"))
      .union(base.filter(col("doc_id") < 100)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      .union(base.filter(col("doc_id") < 30))
    (base, b1, b2)
  }

  /** r15 admission gate diet (VERDICT r14 item 1, ProbeQ123b): the
    * family's eight gate queries each rebuilt their initial durable
    * state (corpus parquet + persisted index) on EVERY invocation —
    * ~1.5–2.5 s of pure fixture setup per pass, and the family
    * priced ~16% of the quiet gate. The initial state is a pure
    * function of (sfDir, layout params), so it is built ONCE per
    * (JVM, sfDir) into a read-only TEMPLATE dir and file-copied into
    * a fresh temp dir per invocation — the cycles MUTATE the state,
    * so handing out the template dir itself would corrupt later
    * passes. A recursive copy of the few-MB state is ~50 ms vs the
    * ~2 s rebuild; answers are byte-identical because the copied
    * state is. Same per-(JVM, sfDir) memo pattern as q241's
    * sigIndexPath (fixture cost, not operator cost — admitBatch/
    * admitStream still run their full cycles live every pass). */
  private val admTemplateCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), java.nio.file.Path]

  /** Session-scoped scratch root for every temp dir the catalog's
    * fixtures create (ADVICE r15): previously each createTempDirectory
    * (admission templates, per-invocation state copies, persisted
    * index/model fixtures) landed directly under java.io.tmpdir and
    * was never deleted — repeated bench/verify passes accumulated
    * unbounded state. All of them now nest under ONE root per JVM,
    * removed by a shutdown hook (reverse-order walk, so files go
    * before their dirs; best-effort — a live mmap on a hot file must
    * never turn JVM exit into a crash). */
  private lazy val scratchRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(r)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: Throwable => })
        finally walk.close()
      } catch { case _: Throwable => }
    }))
    r
  }
  private def scratchTemp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** one gzip member around `b` — the .warc.gz record-per-member
    * convention for the WARC fixtures */
  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    g.write(b); g.close()
    out.toByteArray
  }

  private def copyTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
  private def admissionStateMemo(tag: String, dir: String)
                                (build: (String, String) => Unit)
  : (String, String, java.nio.file.Path) = {
    val template = admTemplateCache.getOrElseUpdate((tag, dir), {
      val t = scratchTemp(s"graft_admtpl_$tag")
      build(t.resolve("corpus").toString, t.resolve("index").toString)
      t
    })
    val tmp = scratchTemp(s"graft_adm_$tag")
    copyTree(template, tmp)
    (tmp.resolve("corpus").toString, tmp.resolve("index").toString, tmp)
  }

  /** fresh durable admission state (corpus parquet + persisted
    * minhash index) in a new temp dir per INVOCATION, template-
    * memoized per (JVM, sfDir) — shared by q122/q123 (identical
    * initial state by construction). */
  private def admissionState(base: DataFrame, dir: String) =
    admissionStateMemo("mh64x32", dir) { (corpusDir, indexDir) =>
      base.write.mode("overwrite").parquet(corpusDir)
      Dedup.minhashIndex(base, "doc_id", "text", numHashes = 64, bands = 32)
        .write.mode("overwrite").parquet(indexDir)
    }

  /** sequential SQL replay of both EMBEDDING admission cycles with
    * exact cosine — shared verbatim by q124 (plain index) and q216
    * (partitioned index, r12): same answer through both fold paths. */
  private lazy val admissionEmbedOracleSql =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
      |b1 AS (SELECT vec_id + 30000 AS vec_id,
      |    list_transform(embedding, x -> -x) AS embedding
      |  FROM base WHERE vec_id < 100),
      |b2 AS (SELECT vec_id + 10000 AS vec_id,
      |    list_transform(embedding, x -> x * 2) AS embedding
      |    FROM b1 WHERE vec_id < 30050
      |  UNION ALL SELECT vec_id + 20000,
      |    list_transform(embedding, x -> x * 3) FROM base WHERE vec_id < 50
      |  UNION ALL SELECT vec_id, embedding FROM base WHERE vec_id < 30),
      |m1 AS (SELECT DISTINCT n.vec_id FROM b1 n, base c
      |  WHERE list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
      |    CAST(c.embedding AS DOUBLE[])) >= 0.95),
      |c1 AS (SELECT vec_id FROM base UNION ALL
      |  SELECT vec_id FROM b1 WHERE vec_id NOT IN (SELECT vec_id FROM m1)),
      |cv AS (SELECT vec_id, embedding FROM base UNION ALL
      |  SELECT vec_id, embedding FROM b1
      |  WHERE vec_id NOT IN (SELECT vec_id FROM m1)),
      |b2f AS (SELECT vec_id, embedding FROM b2
      |  WHERE vec_id NOT IN (SELECT vec_id FROM c1)),
      |m2 AS (SELECT DISTINCT n.vec_id FROM b2f n, cv c
      |  WHERE list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
      |    CAST(c.embedding AS DOUBLE[])) >= 0.95)
      |SELECT vec_id FROM c1
      |UNION ALL SELECT vec_id FROM b2f
      |  WHERE vec_id NOT IN (SELECT vec_id FROM m2)
      |ORDER BY vec_id""".stripMargin

  /** SQL replay of the one SEMANTIC admission cycle (assignment of
    * both sides to the label-derived centers, cosine verify within
    * the assigned cluster, exact id screen) — shared verbatim by
    * q231 (batch face) and q251 (streaming face, r15): same answer
    * through the production streaming path, the q123-vs-q122
    * pattern in semantic space. */
  private lazy val admissionSemanticOracleSql =
    """WITH e AS (SELECT vec_id, label,
      |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT vec_id + 10000 AS id,
      |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
      |      * (1 + 0.01 * ((j % 3) - 1))) AS v
      |  FROM e WHERE vec_id < 40
      |  UNION ALL SELECT vec_id + 20000,
      |    list_transform(range(64), j -> -v[CAST(j+1 AS INT)])
      |  FROM e WHERE vec_id < 10
      |  UNION ALL SELECT vec_id, v FROM e WHERE vec_id < 5),
      |fresh AS (SELECT id, v FROM b
      |  WHERE id NOT IN (SELECT vec_id FROM e)),
      |c AS (SELECT e.label AS cl, e.v AS cv FROM e
      |  JOIN (SELECT label, min(vec_id) AS mv FROM e GROUP BY label) f
      |  ON e.vec_id = f.mv),
      |ac AS (SELECT vec_id, cl FROM (
      |  SELECT e.vec_id, c.cl,
      |    list_sum(list_transform(range(64), j ->
      |      (e.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
      |      * (e.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
      |  FROM e, c)
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY d2, cl) = 1),
      |ab AS (SELECT id, cl FROM (
      |  SELECT fresh.id, c.cl,
      |    list_sum(list_transform(range(64), j ->
      |      (fresh.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
      |      * (fresh.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
      |  FROM fresh, c)
      |  QUALIFY row_number() OVER (PARTITION BY id
      |    ORDER BY d2, cl) = 1),
      |m AS (SELECT DISTINCT ab.id FROM ab
      |  JOIN ac ON ab.cl = ac.cl
      |  JOIN fresh ON fresh.id = ab.id
      |  JOIN e ON e.vec_id = ac.vec_id
      |  WHERE list_cosine_similarity(fresh.v, e.v) >= 0.95)
      |SELECT vec_id FROM e
      |UNION ALL SELECT id FROM fresh
      |  WHERE id NOT IN (SELECT id FROM m)
      |ORDER BY vec_id""".stripMargin

  /** exact cosine top-5 for queries vec_id &lt; 10 — shared verbatim
    * by q49 (bruteForceTopK) and q218 (ivfTopK at nProbe ==
    * nCentroids, where the pruned path must degrade to exact). */
  private lazy val embedTopkOracleSql =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |     CAST(c.embedding AS DOUBLE[])) AS cos
      |  FROM q, embeddings c WHERE c.vec_id != q.vec_id),
      |r AS (SELECT query_id, neighbor_id, cos,
      |   row_number() OVER (PARTITION BY query_id
      |     ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
      |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rnk
      |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** exact squared-L2 top-5 for queries vec_id &lt; 10 with the
    * recall-floor boolean the oracle predicts TRUE — shared verbatim
    * by q212 (PQ ADC) and q213 (IVF-PQ): one DuckDB answer, two
    * independent ANN paths gated against it. */
  private lazy val exactL2OracleSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e
      |  WHERE vec_id < 10),
      |d AS (SELECT query_id, e.vec_id AS neighbor_id,
      |   list_sum(list_transform(range(64), j ->
      |     (qv[CAST(j+1 AS INT)] - v[CAST(j+1 AS INT)])
      |     * (qv[CAST(j+1 AS INT)] - v[CAST(j+1 AS INT)]))) AS d2
      |  FROM q, e),
      |r AS (SELECT query_id, neighbor_id, row_number() OVER (
      |   PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC)
      |   AS rnk FROM d)
      |SELECT query_id, rnk, neighbor_id,
      | TRUE AS recall_floor_met
      |FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** shared DSIR replay (q221/q222/q226/q227): hashed unigram+bigram
    * buckets on the q45 md5 chain (m = 512), per-corpus counts
    * (target = lang 'en', raw = all of `from`), Laplace-1 smoothed
    * log-ratio, per-document weight sums. FRAGMENT (no WITH):
    * composes after other CTEs; ends with CTE `w(doc_id, lw)`. */
  private def dsirOracleFragment(from: String) =
    s"""tk AS (SELECT doc_id, lang, ${sqlTokens("text")} AS t
       |  FROM $from),
       |g AS (SELECT doc_id, lang, list_concat(t,
       |    list_transform(range(1, len(t)), i ->
       |      t[CAST(i AS INT)] || ' ' || t[CAST(i+1 AS INT)])) AS gs
       |  FROM tk),
       |ex0 AS (SELECT doc_id, lang, unnest(gs) AS x FROM g),
       |ex AS (SELECT doc_id, lang,
       |    CAST(CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 512
       |      AS BIGINT) AS b FROM ex0),
       |tc AS (SELECT b, count(*) AS c FROM ex WHERE lang = 'en'
       |  GROUP BY b),
       |rc AS (SELECT b, count(*) AS c FROM ex GROUP BY b),
       |tt AS (SELECT coalesce(sum(c), 0) AS tot FROM tc),
       |rt AS (SELECT coalesce(sum(c), 0) AS tot FROM rc),
       |r AS (SELECT bs.b,
       |    ln((coalesce(tc.c, 0) + 1.0) / (tt.tot + 512.0))
       |    - ln((coalesce(rc.c, 0) + 1.0) / (rt.tot + 512.0)) AS lr
       |  FROM range(512) AS bs(b) LEFT JOIN tc ON bs.b = tc.b
       |  LEFT JOIN rc ON bs.b = rc.b, tt, rt),
       |w AS (SELECT ex.doc_id, sum(r.lr) AS lw FROM ex
       |  JOIN r ON ex.b = r.b GROUP BY ex.doc_id)
       |""".stripMargin

  private lazy val dsirOracleCte = "WITH " + dsirOracleFragment("documents")

  /** q222/q226 shared selection oracle: Gumbel-top-50 over the DSIR
    * weights — one DuckDB answer, two engine paths (inline fit vs
    * persisted model). */
  private lazy val dsirSelectOracleSql = dsirOracleCte +
    """, k AS (SELECT d.doc_id, d.lang,
      |   round(coalesce(w.lw, 0.0), 6)
      |   - ln(-ln((CAST(concat('0x',
      |       substr(md5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
      |     AS BIGINT) + 0.5) / 4294967296.0)) AS key
      |  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id),
      |s AS (SELECT doc_id, lang FROM k
      |  ORDER BY key DESC, doc_id LIMIT 50)
      |SELECT doc_id, lang FROM s ORDER BY doc_id""".stripMargin

  /** min-vec_id-per-label center fit shared by the SemDeDup gates
    * (q220/q228/q229/q230/q231): bounded + relationally expressible
    * (the serving path takes offline-fit centers the same way). The
    * Spark side emits the center INDEX as `cluster`, the oracles emit
    * the LABEL — equal only while labels are exactly 0..k-1 (true at
    * all three gate scales); fail LOUDLY at construction if a
    * regenerated fixture ever breaks that, instead of as a mystifying
    * hash mismatch. */
  private def semCenters(e: DataFrame, qname: String): Seq[Seq[Double]] = {
    val rows = e
      .join(e.groupBy(col("label")).agg(min(col("vec_id")).as("vec_id"))
        .select(col("vec_id")), Seq("vec_id"))
      .select(col("label"), col("v")).collect()
      .sortBy(_.getInt(0))
    require(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq,
      s"$qname assumes contiguous 0..k-1 labels, got " +
        rows.map(_.getInt(0)).mkString(","))
    rows.map(_.getSeq[Double](1).toSeq).toSeq
  }

  /** q220/q228/q230 shared fixture corpus: embeddings plus two waves
    * of per-component-perturbed copies (+10000 at f1 for vec_id < 60;
    * +20000 at f2 for vec_id < 25 — triangles with BOTH copies below
    * 25). tau = 0.9 sits in a measured gap: injected-dup cosines are
    * >= 0.999 while the max NATURAL pair cosine is 0.60. */
  private def semDupCorpus(base: DataFrame): DataFrame = {
    val f1 = typedLit(Seq.tabulate(64)(j => 1.0 + 0.01 * ((j % 3) - 1)))
    val f2 = typedLit(Seq.tabulate(64)(j => 1.0 - 0.005 * (j % 2)))
    base
      .unionByName(base.filter(col("vec_id") < 60)
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("v"), f1, (x, f) => x * f).as("v")))
      .unionByName(base.filter(col("vec_id") < 25)
        .select((col("vec_id") + 20000).as("vec_id"),
          zip_with(col("v"), f2, (x, f) => x * f).as("v")))
  }

  /** q220/q228 shared oracle: SemDeDup survivors over the
    * perturbed-copies corpus — one DuckDB answer, two engine paths
    * (inline centers vs persisted center table). */
  private lazy val semDedupOracleSql =
    """WITH e AS (SELECT vec_id, label,
      |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT vec_id, v FROM e
      |  UNION ALL SELECT vec_id + 10000,
      |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
      |      * (1 + 0.01 * ((j % 3) - 1)))
      |    FROM e WHERE vec_id < 60
      |  UNION ALL SELECT vec_id + 20000,
      |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
      |      * (1 - 0.005 * (j % 2)))
      |    FROM e WHERE vec_id < 25),
      |c AS (SELECT e.label AS cl, e.v AS cv FROM e
      |  JOIN (SELECT label, min(vec_id) AS mv FROM e GROUP BY label) f
      |  ON e.vec_id = f.mv),
      |d AS (SELECT u.vec_id, c.cl,
      |    list_sum(list_transform(range(64), j ->
      |      (u.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
      |      * (u.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
      |  FROM u, c),
      |a AS (SELECT vec_id, cl FROM d
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY d2, cl) = 1),
      |p AS (SELECT y.vec_id AS ib
      |  FROM a x JOIN a y ON x.cl = y.cl AND x.vec_id < y.vec_id
      |  JOIN u ux ON ux.vec_id = x.vec_id
      |  JOIN u uy ON uy.vec_id = y.vec_id
      |  WHERE list_cosine_similarity(ux.v, uy.v) >= 0.9)
      |SELECT a.vec_id, CAST(a.cl AS INT) AS cluster FROM a
      |WHERE a.vec_id NOT IN (SELECT ib FROM p)
      |ORDER BY vec_id""".stripMargin

  /** q227: the full trio chain — SemDeDup survivors (CTEs e/u/c/
    * dist/a/p/survd), DSIR weights over the survivors (the q221
    * fragment, FROM survd), IPF + Hamilton quotas over the survivors
    * (the q223/q224 fragments), winners per cell by rounded DSIR
    * weight. Every stage's block is exactly the unit oracle that
    * stage passes alone. */
  private lazy val trioOracleSql: String =
    """WITH e AS (SELECT d.doc_id, d.text, d.lang, d.source, em.label,
      |    CAST(em.embedding AS DOUBLE[]) AS v
      |  FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id),
      |u AS (SELECT doc_id, text, lang, source, v FROM e
      |  UNION ALL SELECT doc_id + 10000, text, lang, source,
      |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
      |      * (1 + 0.01 * ((j % 3) - 1)))
      |  FROM e WHERE doc_id < 40),
      |c AS (SELECT e.label AS cl, e.v AS cv FROM e
      |  JOIN (SELECT label, min(doc_id) AS mv FROM e GROUP BY label) f0
      |  ON e.doc_id = f0.mv),
      |dist AS (SELECT u.doc_id, c.cl,
      |    list_sum(list_transform(range(64), j ->
      |      (u.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
      |      * (u.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
      |  FROM u, c),
      |a AS (SELECT doc_id, cl FROM dist
      |  QUALIFY row_number() OVER (PARTITION BY doc_id
      |    ORDER BY d2, cl) = 1),
      |p AS (SELECT y.doc_id AS ib
      |  FROM a x JOIN a y ON x.cl = y.cl AND x.doc_id < y.doc_id
      |  JOIN u ux ON ux.doc_id = x.doc_id
      |  JOIN u uy ON uy.doc_id = y.doc_id
      |  WHERE list_cosine_similarity(ux.v, uy.v) >= 0.9),
      |survd AS MATERIALIZED (SELECT u.doc_id, u.text, u.lang, u.source
      |  FROM u WHERE u.doc_id NOT IN (SELECT ib FROM p)),
      |""".stripMargin +
      dsirOracleFragment("survd") + ",\n" +
      ipfOracleFragment(5, Seq(("r", "lang", rakeRowTargets),
        ("c", "source", rakeColTargets)), "survd") + ",\n" +
      """base AS (SELECT r, c,
        |   CAST(floor(100 * cell_frac + 1e-9) AS BIGINT) AS q,
        |   round(100 * cell_frac
        |     - floor(100 * cell_frac + 1e-9), 9) AS rem
        |  FROM f),
        |sh AS (SELECT 100 - sum(q) AS s FROM base),
        |rk AS (SELECT r, c, q, row_number() OVER (
        |   ORDER BY rem DESC, r, c) AS brn FROM base),
        |tq AS (SELECT r, c, row_number() OVER (
        |   ORDER BY rem ASC, r, c) AS trn FROM base WHERE q > 0),
        |qn AS (SELECT rk.r, rk.c,
        |   rk.q + (CASE WHEN sh.s > 0 AND rk.brn <= sh.s
        |           THEN 1 ELSE 0 END)
        |        - (CASE WHEN sh.s < 0 AND tq.trn <= -sh.s
        |           THEN 1 ELSE 0 END) AS q
        |  FROM rk LEFT JOIN tq ON rk.r = tq.r AND rk.c = tq.c, sh),
        |rr AS (SELECT s2.doc_id, s2.lang, s2.source,
        |   round(coalesce(w.lw, 0.0), 6) AS lw,
        |   row_number() OVER (PARTITION BY s2.lang, s2.source
        |     ORDER BY round(coalesce(w.lw, 0.0), 6) DESC, s2.doc_id)
        |     AS rn
        |  FROM survd s2 LEFT JOIN w ON s2.doc_id = w.doc_id)
        |SELECT doc_id, lang, source, lw AS log_weight FROM rr
        |JOIN qn ON lang = qn.r AND source = qn.c
        |WHERE rn <= q ORDER BY doc_id""".stripMargin

  /** q223/q224 raking targets: english-heavy langs, uniform sources */
  private lazy val rakeRowTargets = Map("en" -> 0.4, "de" -> 0.15,
    "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  private lazy val rakeColTargets =
    (0 until 20).map(i => s"src$i" -> 0.05).toMap

  /** q225's third raking marginal: document length buckets */
  private lazy val rakeBucketTargets =
    Map("short" -> 0.3, "mid" -> 0.4, "long" -> 0.3)
  private val lenBucketSql = "CASE WHEN n_chars < 200 THEN 'short' " +
    "WHEN n_chars < 400 THEN 'mid' ELSE 'long' END"

  /** unrolled-IPF oracle over k marginals (q223/q224/q225): `iters`
    * passes, each one (marginal-sum, rescale) CTE pair PER dimension
    * in column order — possible because the iteration count is FIXED
    * (the q149 discipline). `dims` = (output name, cell SQL
    * expression over `documents`, targets); ends with CTE
    * `f(<names>, n, cell_frac)`. */
  private def ipfOracleCteN(
      iters: Int,
      dims: Seq[(String, String, Map[String, Double])]): String =
    "WITH " + ipfOracleFragment(iters, dims, "documents")

  /** [[ipfOracleCteN]] as a composable FRAGMENT (no WITH) over an
    * arbitrary source CTE/table. */
  private def ipfOracleFragment(
      iters: Int,
      dims: Seq[(String, String, Map[String, Double])],
      from: String): String = {
    val sb = new StringBuilder
    dims.zipWithIndex.foreach { case ((_, _, t), d) =>
      val vals = t.toSeq.sortBy(_._1)
        .map { case (k, v) => s"('$k',$v)" }.mkString(",")
      sb ++= s"t$d(k, t) AS (VALUES $vals),\n"
    }
    val keyDefs = dims.zipWithIndex
      .map { case ((_, expr, _), d) => s"$expr AS k$d" }.mkString(", ")
    // MATERIALIZED, load-bearing: each pass references its
    // predecessor twice (marginal sum + rescale join); an INLINED
    // chain doubles the expansion per pass — 2^(iters*dims)
    // re-evaluations of the base scan (q225's 15 passes = 32k parquet
    // opens, a too-many-open-files failure in the oracle engine)
    sb ++= s"""w0 AS MATERIALIZED (SELECT $keyDefs,
              |    CAST(count(*) AS DOUBLE) AS n, 1.0 AS w
              |  FROM $from
              |  GROUP BY ${dims.indices.map(_ + 1).mkString(", ")}),
              |""".stripMargin
    var prev = "w0"
    (1 to iters).foreach { i =>
      dims.indices.foreach { d =>
        val m = s"m${i}_$d"; val w = s"w${i}_$d"
        val pk = dims.indices.map(dd => s"p.k$dd").mkString(", ")
        sb ++= s"""$m AS (SELECT k$d, sum(n*w) AS s FROM $prev GROUP BY k$d),
                  |$w AS MATERIALIZED (SELECT $pk, p.n, p.w * t$d.t / $m.s AS w
                  |  FROM $prev p JOIN $m ON p.k$d = $m.k$d
                  |  JOIN t$d ON p.k$d = t$d.k),
                  |""".stripMargin
        prev = w
      }
    }
    val outs = dims.zipWithIndex
      .map { case ((nm, _, _), d) => s"k$d AS $nm" }.mkString(", ")
    sb ++= s"""tot AS (SELECT sum(n*w) AS t FROM $prev),
              |f AS (SELECT $outs, CAST(n AS BIGINT) AS n,
              |    n*w/tot.t AS cell_frac
              |  FROM $prev, tot)
              |""".stripMargin
    sb.toString
  }

  /** 2-marginal face (q223/q224): lang x source as `f(r, c, n,
    * cell_frac)`. */
  private def ipfOracleCte(iters: Int): String =
    ipfOracleCteN(iters, Seq(("r", "lang", rakeRowTargets),
      ("c", "source", rakeColTargets)))

  /** sequential SQL replay of both admission cycles with exact
    * shingle jaccard — shared verbatim by q122 (batch path) and q123
    * (streaming path). */
  private lazy val admissionOracleSql =
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
       |b1 AS (SELECT doc_id + 30000 AS doc_id,
       |    array_to_string(list_reverse(${sqlTokens("text")}), ' ') AS text
       |  FROM base WHERE doc_id < 200),
       |b2 AS (SELECT doc_id + 10000 AS doc_id, text || ' zzz' AS text
       |    FROM b1 WHERE doc_id < 30050
       |  UNION ALL SELECT doc_id + 20000, text FROM base WHERE doc_id < 100
       |  UNION ALL SELECT doc_id, text FROM base WHERE doc_id < 30),
       |u AS (SELECT doc_id, text FROM base UNION
       |  SELECT doc_id, text FROM b1 UNION SELECT doc_id, text FROM b2),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
       |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
       |  FROM u WHERE len(${sqlTokens("text")}) >= 3),
       |m1 AS (SELECT DISTINCT n.doc_id FROM b1 n, base c, sh sn, sh sc
       |  WHERE sn.doc_id = n.doc_id AND sc.doc_id = c.doc_id
       |    AND CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sn.sh, sc.sh))) >= 0.6),
       |c1 AS (SELECT doc_id FROM base UNION ALL
       |  SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM m1)),
       |b2f AS (SELECT doc_id, text FROM b2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM c1)),
       |m2 AS (SELECT DISTINCT n.doc_id FROM b2f n, c1 c, sh sn, sh sc
       |  WHERE sn.doc_id = n.doc_id AND sc.doc_id = c.doc_id
       |    AND CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sn.sh, sc.sh))) >= 0.6)
       |SELECT doc_id FROM c1
       |UNION ALL SELECT doc_id FROM b2f
       |  WHERE doc_id NOT IN (SELECT doc_id FROM m2)
       |ORDER BY doc_id""".stripMargin

  /** q125/q126 fixture: deterministic functional graph u -> 7u mod
    * 200 over the events user domain (cycles + trees, multi-hop
    * chains). */
  private def ccEdges(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("user_id") >= 0 && col("user_id") < 200)
      .select(col("user_id").as("id_a"),
        (col("user_id") * 7 % 200).as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()

  /** recursive-CTE reachability closure → min reachable id per node */
  private lazy val ccOracleSql =
    """WITH RECURSIVE e0 AS (
      |  SELECT DISTINCT user_id AS a, (user_id * 7) % 200 AS b
      |  FROM events
      |  WHERE user_id >= 0 AND user_id < 200
      |    AND user_id != (user_id * 7) % 200),
      |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      |reach AS (
      |  SELECT DISTINCT a AS id, a AS r FROM e
      |  UNION
      |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b)
      |SELECT id, min(r) AS rep FROM reach GROUP BY id
      |ORDER BY id""".stripMargin

  private lazy val incrScreenOracleSql =
    s"""WITH u AS ($docsWithDupsSql),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
       |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
       |  FROM u WHERE len(${sqlTokens("text")}) >= 3)
       |SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
       |  round(CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
       |    / len(list_distinct(list_concat(n.sh, c.sh))), 6) AS jaccard
       |FROM sh n, sh c
       |WHERE n.doc_id >= 10000 AND c.doc_id < 10000
       |  AND CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
       |    / len(list_distinct(list_concat(n.sh, c.sh))) >= 0.6
       |ORDER BY id_new, id_corpus""".stripMargin

  /** q121's oracle — the batch null-safe NOT EXISTS over the same
    * inputs as the streaming exact screen. Shared VERBATIM by q128
    * (the Bloom-digest screen in exact-confirm mode): the digest
    * decides which rows pay the join probe, never the answer. */
  private lazy val streamScreenOracleSql =
    """SELECT e.event_type, count(*) AS n,
      | round(sum(e.value), 2) AS sv
      |FROM events e
      |WHERE NOT EXISTS (SELECT 1 FROM events s
      |  WHERE s.event_id % 3 = 0 AND s.event_id = e.event_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Build q117's persisted corpus index once per (JVM, sfDir) and
    * reuse the parquet across calls — the ingestion-cadence cost
    * model: a bench cold pass pays build+write, the best-of pass
    * shows the amortized per-batch screen. Process-scoped so a code
    * change can never serve a stale on-disk index. */
  private val mhIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def mhIndexPath(s: SparkSession, dir: String): String =
    mhIndexCache.getOrElseUpdate(dir, {
      val p = scratchTemp("graft_mh_index_q117").toString
      Dedup.minhashIndex(
          docsWithDups(s, dir).filter(col("doc_id") < 10000),
          "doc_id", "text", numHashes = 64, bands = 32)
        .write.mode("overwrite").parquet(p)
      p
    })

  /** q137's persisted corpus gram index (exact keys so the oracle can
    * replay), cached per (JVM, sfDir) like q117's minhash index. */
  private val gramIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def gramIndexPath(s: SparkSession, dir: String): String =
    gramIndexCache.getOrElseUpdate(dir, {
      val p = scratchTemp("graft_gram_index_q137").toString
      SubstringDedup.gramIndex(
          docsWithDups(s, dir).filter(col("doc_id") < 10000),
          "doc_id", "text", k = 8, hashKeys = false)
        .write.mode("overwrite").parquet(p)
      p
    })

  /** q118's oracle — exhaustive cross cosine between the planted
    * scaled-copy batch (vec_id >= 10000; scaling preserves direction,
    * so each copy matches its original at cosine 1) and the original
    * corpus. Shared VERBATIM by q119's persisted-index path. Recall
    * argument: identical-direction pairs collide in every hyperplane
    * table; the synthetic 64-dim embeddings are near-orthogonal, so
    * no natural cross pair reaches 0.95 (same construction as q51,
    * which passes at both SFs). */
  private lazy val embScreenOracleSql =
    """WITH u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000 AS vec_id,
      |         list_transform(embedding, x -> x * 2) AS embedding
      |  FROM embeddings WHERE vec_id < 50)
      |SELECT n.vec_id AS id_new, c.vec_id AS id_corpus,
      | round(list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
      |   CAST(c.embedding AS DOUBLE[])), 6) AS cosine
      |FROM u n, u c
      |WHERE n.vec_id >= 10000 AND c.vec_id < 10000
      |  AND list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
      |   CAST(c.embedding AS DOUBLE[])) >= 0.95
      |ORDER BY id_new, id_corpus""".stripMargin

  /** the planted embedding batch: scaled copies of vec_id < 50 under
    * shifted ids (mirrors the oracle's UNION branch) */
  private def embBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
  }

  /** q119's persisted embedding index, built once per (JVM, sfDir) —
    * same amortization contract as q117's minhash index. */
  private val embIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def embIndexPath(s: SparkSession, dir: String): String =
    embIndexCache.getOrElseUpdate(dir, {
      val p = scratchTemp("graft_emb_index_q119").toString
      Dedup.embeddingIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64)
        .write.mode("overwrite").parquet(p)
      p
    })

  /** q120's index: built on HALF the corpus, then the other half is
    * folded in with minhashIndexUpdate and the result persisted —
    * the full production maintenance cycle (build → update → persist
    * → screen), cached per (JVM, sfDir) like q117's. */
  private val mhUpdIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def mhUpdIndexPath(s: SparkSession, dir: String): String =
    mhUpdIndexCache.getOrElseUpdate(dir, {
      val p = scratchTemp("graft_mh_index_q120").toString
      val corpus = docsWithDups(s, dir).filter(col("doc_id") < 10000)
      Dedup.minhashIndexUpdate(
          Dedup.minhashIndex(corpus.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", numHashes = 64, bands = 32),
          corpus.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", numHashes = 64, bands = 32)
        .write.mode("overwrite").parquet(p)
      p
    })

  /** Fano-plane lines: the white-column patterns of the image-dedup
    * fixtures (q237/q240/q241). Any two lines share exactly one
    * point, so distinct groups sit ≥ 4 grid columns (32 aHash bits)
    * apart; the parity/odd variant adds column 7 (+8 bits). */
  private val fanoLines = Seq(Seq(0, 1, 2), Seq(0, 3, 4), Seq(0, 5, 6),
    Seq(1, 3, 5), Seq(1, 4, 6), Seq(2, 3, 6), Seq(2, 4, 5))

  /** render a 32×32 PNG with the given white grid columns (4 px per
    * column — block-aligned to the 8×8 aHash grid, so area-average
    * pooling reproduces the pattern exactly) */
  private def columnPatternPng(white: Set[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < 32) {
      val rgb = if (white(x / 4)) 0xffffff else 0x000000
      var y = 0
      while (y < 32) { img.setRGB(x, y, rgb); y += 1 }
      x += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    Multimodal.imageIoNoDiskCache // r18 opt: no temp-file stream cache
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** (media_id, content) frame of column-pattern PNGs: one row per
    * input id, pattern chosen by `pattern(id)` */
  private def patternMedia(ids: DataFrame,
                           pattern: Long => Set[Int]): DataFrame = {
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType))))
    // r18 opt (guide §2.5/§8): the id frames come off single-file
    // scans (one task); repartition the 8-byte ids so the per-row
    // render+encode runs at session parallelism — see q235's note.
    ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        org.apache.spark.sql.Row(id, columnPatternPng(pattern(id)))
      }
    }(enc)
  }

  /** synthesize a REAL RIFF/WAVE payload (PCM16 mono) whose 17-window
    * × 4-band energy image follows the phase-alternating group
    * pattern: band b of group g alternates HIGH/LOW per window with
    * phase bit (g >> b) & 1 — every window transition is decisive
    * (64× energy margin), so [[Multimodal.audioHashes]] maps group
    * → hash as a pure function, independent of `rate` and `gain`
    * (the invariances q249 plants its duplicate waves on). */
  private val toneWavMemo =
    scala.collection.concurrent.TrieMap
      .empty[(Int, Float, Double), Array[Byte]]
  private def toneWav(g: Int, rate: Float, gain: Double): Array[Byte] =
    // q249's id-space maps to only 8×2×2 = 32 distinct (g, rate, gain)
    // tuples, but 5,000 rows; memoizing per executor JVM cuts the
    // per-sample sin() synthesis ~150× (r14 verdict finding 1). The
    // payload is immutable downstream (hash kernels only read it), so
    // sharing one array across rows is safe.
    toneWavMemo.getOrElseUpdate((g, rate, gain), toneWavCompute(g, rate, gain))
  private def toneWavCompute(g: Int, rate: Float, gain: Double): Array[Byte] = {
    val bands = Seq(400.0, 800.0, 1600.0, 3200.0)
    val n = (rate * 0.85).toInt
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      val t = (i.toLong * 17 / n).toInt
      val tau = i / rate.toDouble
      var x = 0.0
      var b = 0
      while (b < 4) {
        val hi = (t + ((g >> b) & 1)) % 2 == 0
        x += (if (hi) 0.2 else 0.025) *
          math.sin(2 * math.Pi * bands(b) * tau)
        b += 1
      }
      samples(i) = math.max(-32767, math.min(32767,
        math.round(x * gain * 32767))).toShort
      i += 1
    }
    Multimodal.wavBytes(samples, rate)
  }

  /** absolute-time slot-pattern WAV for the SHIFT-TOLERANT frame
    * fingerprints (q260, r16): every 31.25 ms slot (= one frame
    * subwindow at the default frameMs=500/16) sets each band
    * decisively hi/lo (64× energy margin) by an avalanche-mixed seed
    * bit, XOR-paired so each 16-slot frame carries exactly 8 hi + 8
    * lo per band — the mean threshold is always decisive, so
    * frame_hash is a pure function of (seed, absolute slot window):
    * ~32 seed bits per frame (no cross-seed collisions), and a
    * hop-aligned trim reproduces the base clip's frames bit-exactly
    * at the shifted index. The mixer MUST avalanche: a bare affine*K
    * hash nearly alternates its high bits with the pair index and
    * every clip collapsed into one near-dup family (caught live,
    * MultimodalHashSpec r16). */
  private val slotWavMemo =
    scala.collection.concurrent.TrieMap
      .empty[(Int, Double, Int), Array[Byte]]
  private def slotWav(seed: Int, gain: Double, trimSlots: Int)
  : Array[Byte] =
    slotWavMemo.getOrElseUpdate((seed, gain, trimSlots), {
      val bands = Seq(400.0, 800.0, 1600.0, 3200.0)
      val rate = 8000f
      val slotSamples = (rate * 0.03125).toInt
      val n = (rate * 2.0).toInt - trimSlots * slotSamples
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        val abs = i + trimSlots * slotSamples
        val slot = abs / slotSamples
        val tau = abs / rate.toDouble
        var x = 0.0
        var b = 0
        while (b < 4) {
          var z = seed * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL +
            (slot / 2) * 0x165667B19E3779F9L
          z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
          val hi = ((z & 1L) == 1L) ^ (slot % 2 == 1)
          x += (if (hi) 0.2 else 0.025) *
            math.sin(2 * math.Pi * bands(b) * tau)
          b += 1
        }
        samples(i) = math.max(-32767, math.min(32767,
          math.round(x * gain * 32767))).toShort
        i += 1
      }
      Multimodal.wavBytes(samples, rate)
    })

  /** (media_id, content) frame of slot-pattern WAVs: seed, gain and
    * trim (in 125 ms hops) derived from the id. */
  private def slotMedia(ids: DataFrame, seed: Long => Int,
                        gain: Long => Double,
                        trimHops: Long => Int): DataFrame = {
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType))))
    // r18 opt: parallelize the per-row WAV synthesis (q235's note)
    ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        org.apache.spark.sql.Row(id,
          slotWav(seed(id), gain(id), trimHops(id) * 4))
      }
    }(enc)
  }

  /** (media_id, content) frame of group-pattern WAVs: group, sample
    * rate and gain all derived from the id. */
  private def toneMedia(ids: DataFrame, group: Long => Int,
                        rate: Long => Float,
                        gain: Long => Double): DataFrame = {
    import org.apache.spark.sql.types._
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType))))
    // r18 opt: parallelize the per-row WAV synthesis (q235's note)
    ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        org.apache.spark.sql.Row(id,
          toneWav(group(id), rate(id), gain(id)))
      }
    }(enc)
  }

  /** q241's persisted signature index over the q240 corpus hashes,
    * cached per (JVM, sfDir) like q117's. */
  private val sigIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def sigIndexPath(s: SparkSession, dir: String): String =
    sigIndexCache.getOrElseUpdate(dir, {
      val p = scratchTemp("graft_sig_index_q241").toString
      val corpus = patternMedia(
        t(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 196),
        id => fanoLines((id % 7).toInt).toSet)
      Dedup.signatureIndex(Multimodal.imageHashes(corpus, "ahash"),
          "media_id", "img_hash", maxDistance = 8)
        .write.mode("overwrite").parquet(p)
      p
    })

  // ---- q257/q258 HTML-extraction fixture (r16) --------------------------

  /** stopword-dense pad (~104 chars, density 20/28 ≈ 0.71): GOOD when
    * doubled around a doc slice (> 200 chars), NEARGOOD alone */
  private val extractStopPad =
    "the cat is in the hat and it is a fine day for the dog to nap " +
      "on the mat by the door and this is of it"

  /** 13 stopwords + 29 filler words: density 13/42 ≈ 0.310 — lands in
    * the (stopwordsLow, stopwordsHigh] = (0.30, 0.32] band, firing
    * the second NEARGOOD branch the other blocks never reach */
  private val extractMidPad =
    "the a an and or of to in is it that for on " +
      (1 to 29).map(i => f"filler$i%02d").mkString(" ")

  /** the synthesized per-doc HTML: title + (linkful on doc_id%5=0)
    * heading, an all-anchor menu (link-density BAD), a GOOD paragraph
    * (stopPad + doc slice + stopPad), a kept neighbor (NEARGOOD pad on
    * doc_id%4=0, SHORT prose otherwise), the mid-band NEARGOOD pad
    * (isolated → dropped), a ©-rule block, an isolated NEARGOOD pad,
    * and a raw doc-text trailer (low stopword density → BAD; SHORT for
    * the shortest docs). Mirrored verbatim in [[extractHtmlSql]]. */
  private def extractHtml(s: SparkSession, dir: String): DataFrame = {
    val sp = lit(extractStopPad)
    val b0 = when(col("doc_id") % 5 === 0,
      concat(lit("<h1><a href=\"/h\">"), substring(col("text"), 1, 20),
        lit("</a></h1>")))
      .otherwise(concat(lit("<h1>"), substring(col("text"), 1, 20),
        lit("</h1>")))
    val menu = concat(lit("<div><a href=\"/\">"),
      substring(col("text"), 1, 30), lit("</a> <a href=\"/x\">"),
      substring(col("text"), 11, 30), lit("</a> <a href=\"/y\">"),
      substring(col("text"), 21, 30), lit("</a></div>"))
    val goodP = concat(lit("<p>"), sp, lit(" "),
      substring(col("text"), 1, 40), lit(" "), sp, lit("</p>"))
    val b3 = when(col("doc_id") % 4 === 0,
      concat(lit("<p>"), sp, lit("</p>")))
      .otherwise(concat(lit("<p>Read "), substring(col("text"), 41, 15),
        lit("</p>")))
    val mid = concat(lit("<p>"), lit(extractMidPad), lit("</p>"))
    val b4 = concat(lit("<div>© "), substring(col("text"), 1, 30),
      lit("</div>"))
    val b5 = concat(lit("<p>"), sp, lit("</p>"))
    val b6 = concat(lit("<div>"), substring(col("text"), 1, 100),
      lit("</div>"))
    t(s, dir, "documents").select(col("doc_id"),
      concat(lit("<html><head><title>T</title><style>p{c:red}</style>" +
          "<script>var q = 1;</script></head><body><!-- nav -->"),
        b0, menu, goodP, b3, mid, b4, b5, b6,
        lit("</body></html>")).as("html"))
  }

  /** DuckDB construction of the SAME html — CTE `h(doc_id, html)` */
  private lazy val extractHtmlSql =
    s"""h AS (SELECT doc_id,
       |    '<html><head><title>T</title><style>p{c:red}</style>' ||
       |    '<script>var q = 1;</script></head><body><!-- nav -->' ||
       |    CASE WHEN doc_id % 5 = 0
       |      THEN '<h1><a href="/h">' || substr(text, 1, 20) || '</a></h1>'
       |      ELSE '<h1>' || substr(text, 1, 20) || '</h1>' END ||
       |    '<div><a href="/">' || substr(text, 1, 30) ||
       |    '</a> <a href="/x">' || substr(text, 11, 30) ||
       |    '</a> <a href="/y">' || substr(text, 21, 30) ||
       |    '</a></div>' ||
       |    '<p>$extractStopPad ' || substr(text, 1, 40) ||
       |    ' $extractStopPad</p>' ||
       |    CASE WHEN doc_id % 4 = 0 THEN '<p>$extractStopPad</p>'
       |      ELSE '<p>Read ' || substr(text, 41, 15) || '</p>' END ||
       |    '<p>$extractMidPad</p>' ||
       |    '<div>© ' || substr(text, 1, 30) || '</div>' ||
       |    '<p>$extractStopPad</p>' ||
       |    '<div>' || substr(text, 1, 100) || '</div>' ||
       |    '</body></html>' AS html
       |  FROM documents)""".stripMargin

  /** full DuckDB replay of [[graft.operators.Extract.mainContent]]
    * from CTE `h(doc_id, html)` to CTE `x(doc_id, text)`: invisible-
    * element drop, block-tag split, per-block tag strip + whitespace
    * collapse, link/stopword densities, the jusText CASE at the
    * published thresholds, and the one-step neighbor smoothing via
    * list lambdas over the class array. (Entity decode is identity on
    * this fixture — no '&' anywhere — and is pinned in ExtractSpec.) */
  private lazy val sqlExtractCtes: String =
    sqlExtractCtesFor(graft.functions.TextFunctions.defaultStopwords)

  /** [[sqlExtractCtes]] under an arbitrary stopword list — the SQL
    * face of mainContent's `stopwords` knob (q263 extracts with the
    * multilingual union list) */
  private def sqlExtractCtesFor(stopwords: Seq[String]): String = {
    val stops = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    def dens(t: String) =
      s"""CAST(len(list_filter(${sqlTokens(t)},
         |      y -> list_contains($stops, y))) AS DOUBLE)
         |      / greatest(CAST(len(${sqlTokens(t)}) AS DOUBLE), 1.0)""".stripMargin
    val blockTagSplit =
      "(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|thead|tbody|tfoot|tr|td|" +
        "th|section|article|header|footer|nav|aside|blockquote|pre|" +
        "form|br|hr|body|html|head|title|main|figure|figcaption|dl|" +
        "dt|dd)\\b[^>]*>"
    s"""xd AS (SELECT doc_id, regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(html,
       |      '(?s)<!--.*?-->', ' ', 'g'),
       |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |      '(?is)<noscript[^>]*>.*?</noscript>', ' ', 'g'),
       |      '(?is)<template[^>]*>.*?</template>', ' ', 'g') AS c
       |  FROM h),
       |xb AS (SELECT doc_id, list_filter(list_transform(
       |    string_split_regex(c, '$blockTagSplit'),
       |    b -> struct_pack(
       |      txt := trim(regexp_replace(regexp_replace(b,
       |        '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')),
       |      noa := trim(regexp_replace(regexp_replace(regexp_replace(b,
       |        '(?is)<a[^>]*>.*?</a>', ' ', 'g'),
       |        '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')))),
       |    s -> len(s.txt) > 0) AS bl FROM xd),
       |xf AS (SELECT doc_id, bl, list_transform(bl, s -> CASE
       |    WHEN CAST(greatest(len(s.txt) - len(s.noa), 0) AS DOUBLE)
       |      / greatest(CAST(len(s.txt) AS DOUBLE), 1.0) > 0.2 THEN 0
       |    WHEN contains(s.txt, '©') OR contains(s.txt, '&copy;') THEN 0
       |    WHEN len(s.txt) < 70 THEN
       |      (CASE WHEN greatest(len(s.txt) - len(s.noa), 0) > 0
       |        THEN 0 ELSE 1 END)
       |    WHEN ${dens("s.txt")} > 0.32 THEN
       |      (CASE WHEN len(s.txt) > 200 THEN 3 ELSE 2 END)
       |    WHEN ${dens("s.txt")} > 0.30 THEN 2
       |    ELSE 0 END) AS cls FROM xb),
       |x AS (SELECT doc_id, array_to_string(list_transform(
       |    list_filter(range(1, len(cls) + 1),
       |      i -> cls[i] = 3 OR ((cls[i] = 2 OR cls[i] = 1) AND
       |        ((i > 1 AND cls[i - 1] = 3) OR
       |          (i < len(cls) AND cls[i + 1] = 3)))),
       |    i -> bl[i].txt), chr(10)) AS text FROM xf)""".stripMargin
  }

  /** the q257 extraction oracle — shared VERBATIM by q261, which
    * must reach the same answer through the WARC + HTTP envelope
    * (the q117-pattern: same oracle, different cost path) */
  private lazy val extractOracleSql: String =
    s"""WITH $extractHtmlSql,
       |$sqlExtractCtes
       |SELECT doc_id, text FROM x ORDER BY doc_id""".stripMargin

  /** q261's WARC fixture: the q257 per-doc HTML pages wrapped in
    * HTTP/1.1 response envelopes inside real WARC/1.0 records across
    * four part files — two plain .warc, two record-per-member
    * .warc.gz (r17: the gate drives BOTH streaming parse paths;
    * the Common Crawl layout in miniature),
    * written once per (JVM, sfDir). The collect is gate-fixture-
    * bounded (500 rows × ~1.5 KB html). */
  private val warcFixtureCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def warcFixture(s: SparkSession, dir: String): String =
    warcFixtureCache.getOrElseUpdate(dir, {
      val out = scratchTemp("graft_warc_q261")
      val rows = extractHtml(s, dir).collect()
      val nFiles = 4
      (0 until nFiles).foreach { f =>
        val recs = rows.zipWithIndex
          .filter(_._2 % nFiles == f).map(_._1).toSeq.map { r =>
            (Seq("WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:uuid:${r.getLong(0)}>",
              "WARC-Date" -> "2026-08-16T00:00:00Z",
              "WARC-Target-URI" ->
                s"http://example.com/doc/${r.getLong(0)}",
              "Content-Type" -> "application/http; msgtype=response"),
              graft.sources.Warc.httpBytes(r.getString(1)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
        // parts 0-1 plain .warc, parts 2-3 .warc.gz in the
        // record-per-member convention — the gate drives BOTH the
        // plain and the multi-member-gzip streaming parse paths
        if (f < 2)
          java.nio.file.Files.write(out.resolve(f"part$f%02d.warc"),
            graft.sources.Warc.warcBytes(recs))
        else
          java.nio.file.Files.write(out.resolve(f"part$f%02d.warc.gz"),
            recs.map(r => gzipMember(
              graft.sources.Warc.warcBytes(Seq(r))))
              .foldLeft(Array.emptyByteArray)(_ ++ _))
      }
      out.toString
    })

  /** q262's planted multilingual fixture: three separable
    * pseudo-languages (en/fr/de-flavored 10-word pools), text = 30
    * words chosen by (doc_id + position) % 10 — fully deterministic
    * and replayed verbatim by the SQL CTE below. documents.lang is
    * NOT usable here: the driver's synthetic text is drawn from one
    * shared English-ish pool regardless of its lang column, so a
    * language signal must be planted to have anything to learn. */
  private val langIdPools: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dogs", "while", "night"),
    "fr" -> Seq("le", "renard", "brun", "saute", "chien",
      "paresseux", "pendant", "nuit", "toujours", "belle"),
    "de" -> Seq("der", "schnelle", "braune", "fuchs", "springt",
      "faulen", "hund", "immer", "nacht", "zwischen"))

  /** (doc_id, true_lang, text) for doc_id < 300 — the langid gate
    * corpus (train: doc_id % 5 != 0, held-out: % 5 == 0) */
  private def langIdFixture(s: SparkSession, dir: String): DataFrame = {
    val li = col("doc_id") % 3
    val pool = when(li === 0, typedLit(langIdPools("en")))
      .when(li === 1, typedLit(langIdPools("fr")))
      .otherwise(typedLit(langIdPools("de")))
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        when(li === 0, "en").when(li === 1, "fr").otherwise("de")
          .as("true_lang"),
        array_join(transform(sequence(lit(0), lit(29)),
          j => element_at(pool,
            ((col("doc_id") + j) % 10 + 1).cast("int"))), " ")
          .as("text"))
  }

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** the fixture + char-2/3-gram + md5-bucket CTEs shared by the
    * langid oracles (m = 512, alpha = 1 — the engine's exact
    * arithmetic: ln((cnt+1)/(tot+512)), unseen ln(1/(tot+512))) */
  private lazy val langIdCtesSql: String =
    s"""lf AS (SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
       |      ELSE 'de' END AS true_lang,
       |    array_to_string(list_transform(range(0, 30), j ->
       |      (CASE doc_id % 3
       |        WHEN 0 THEN ${sqlList(langIdPools("en"))}
       |        WHEN 1 THEN ${sqlList(langIdPools("fr"))}
       |        ELSE ${sqlList(langIdPools("de"))}
       |      END)[(doc_id + j) % 10 + 1]), ' ') AS text
       |  FROM documents WHERE doc_id < 300),
       |lg AS (SELECT doc_id, true_lang, CAST(CAST('0x' ||
       |      substr(md5(u.g), 1, 15) AS BIGINT) % 512 AS BIGINT)
       |      AS bucket
       |  FROM lf, UNNEST(
       |    list_transform(range(1, len(text)),
       |      i -> substr(text, i, 2)) ||
       |    list_transform(range(1, len(text) - 1),
       |      i -> substr(text, i, 3))) AS u(g)),
       |lcnt AS (SELECT true_lang AS lang, bucket, count(*) AS cnt
       |  FROM lg WHERE doc_id % 5 != 0 GROUP BY 1, 2),
       |ltot AS (SELECT lang, sum(cnt) AS tot FROM lcnt GROUP BY 1),
       |lsc AS (SELECT g.doc_id, tt.lang,
       |    sum(CASE WHEN c.cnt IS NULL
       |      THEN ln(1.0 / (tt.tot + 512.0))
       |      ELSE ln((c.cnt + 1.0) / (tt.tot + 512.0)) END) AS s
       |  FROM lg g CROSS JOIN ltot tt
       |  LEFT JOIN lcnt c ON c.lang = tt.lang AND c.bucket = g.bucket
       |  WHERE g.doc_id % 5 = 0 GROUP BY 1, 2),
       |lrk AS (SELECT doc_id, lang, s,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY s DESC, lang DESC) AS rn,
       |    lead(s) OVER (PARTITION BY doc_id
       |      ORDER BY s DESC, lang DESC) AS s2 FROM lsc)""".stripMargin

  /** q265/q266's planted CJK sentence pool (r18, VERDICT r17
    * item 1): ten distinct zh sentences, each ending in the CJK
    * sentence terminal 。 and 13–16 chars long, so four concatenated
    * clear the 50-char band while one alone sits under it — the
    * char-rule fixtures compose casualties deterministically from
    * doc_id exactly like [[langIdPools]]. */
  private val cjkPool: Seq[String] = Seq(
    "今天的天气很好我们去公园散步。",
    "他在图书馆里读了一本历史书。",
    "孩子们在学校学习数学和科学。",
    "她每天早上喝一杯热牛奶再出门。",
    "这家餐厅的菜做得非常好吃。",
    "火车站前面有一条很长的街道。",
    "夏天的夜晚可以看到很多星星。",
    "老师给学生们讲了一个有趣的故事。",
    "那座山顶上的风景美得让人惊叹。",
    "工程师正在设计一座新的大桥。")

  /** q265's planted CJK corpus: doc_id % 6 selects the casualty —
    * 1 = character spam (one hanzi × 60), 2 = one sentence repeated
    * 6× (high char-gram repetition, healthy entropy), 3 = too short
    * (one sentence), 4 = terminal punctuation stripped, else four
    * distinct sentences (passes everything). Fully deterministic,
    * replayed verbatim by the oracle CTE. */
  private def cjkFixture(s: SparkSession, dir: String): DataFrame = {
    val pool = typedLit(cjkPool)
    def sent(off: Int): Column =
      element_at(pool, ((col("doc_id") + off) % 10 + 1).cast("int"))
    val good = concat(sent(0), sent(1), sent(2), sent(3))
    val m = col("doc_id") % 6
    t(s, dir, "documents").filter(col("doc_id") < 240)
      .select(col("doc_id"),
        when(m === 1, lit("好" * 60 + "。"))
          .when(m === 2, repeat(sent(0), 6))
          .when(m === 3, sent(0))
          .when(m === 4, regexp_replace(good, "。", ""))
          .otherwise(good).as("text"))
  }

  /** the q265 fixture replayed in SQL (shared by q265/q266) */
  private lazy val cjkFixtureSql: String =
    s"""cp AS (SELECT ${sqlList(cjkPool)} AS pool),
       |cf AS (SELECT doc_id,
       |    CASE doc_id % 6
       |      WHEN 1 THEN repeat('好', 60) || '。'
       |      WHEN 2 THEN repeat(pool[doc_id % 10 + 1], 6)
       |      WHEN 3 THEN pool[doc_id % 10 + 1]
       |      WHEN 4 THEN replace(pool[doc_id % 10 + 1] ||
       |        pool[(doc_id + 1) % 10 + 1] ||
       |        pool[(doc_id + 2) % 10 + 1] ||
       |        pool[(doc_id + 3) % 10 + 1], '。', '')
       |      ELSE pool[doc_id % 10 + 1] ||
       |        pool[(doc_id + 1) % 10 + 1] ||
       |        pool[(doc_id + 2) % 10 + 1] ||
       |        pool[(doc_id + 3) % 10 + 1]
       |    END AS text
       |  FROM documents CROSS JOIN cp WHERE doc_id < 240)""".stripMargin

  /** q264's cross-language boilerplate line: 12 words from the en
    * pool — inside every fixture page regardless of its language,
    * the thing per-line LID exists to strip */
  private lazy val langIdBoiler: String =
    (0 until 12).map(j => langIdPools("en")(j % 10)).mkString(" ")

  // ---- q263 web-ingest fixture: multilingual pages + dups ---------------

  /** q263's per-language function-word pools — every word is IN the
    * multilingual stopword union below, so the mixed paragraphs'
    * stop_density sits safely above jusText's 0.32 under the union
    * list, and the language signal LangId learns is the function
    * words (content words are the shared documents.text vocabulary,
    * which is language-neutral by construction). */
  private val webFuncPools: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "with", "that", "this", "for", "on",
      "as"),
    "fr" -> Seq("le", "la", "les", "des", "avec", "pour", "dans",
      "que"),
    "de" -> Seq("der", "die", "und", "mit", "von", "den", "das",
      "auch"))

  /** the multilingual extraction stoplist: the union of the shipped
    * per-language jusText lists (Extract.stopwordLists) — the
    * pre-langid extraction pass of a mixed-language crawl, where no
    * single-language list can be chosen yet */
  private lazy val webStops: Seq[String] =
    (graft.functions.TextFunctions.defaultStopwords ++
      graft.operators.Extract.stopwordLists("fr") ++
      graft.operators.Extract.stopwordLists("de")).distinct

  /** corpus-global footer (appears on EVERY page → dropCommonLines
    * removes it at maxDocs = 20): a proper sentence so it SURVIVES
    * extraction (210 chars, union-stop density 0.39 → GOOD) and
    * c4CleanLines (terminal period, > 5 words) — only the
    * corpus-frequency census can kill it, which is the point. */
  private val webFooterText =
    "please subscribe to our newsletter for all of the latest " +
      "updates from the team and enjoy all of the new articles that " +
      "we publish every week with a lot of care for all of our " +
      "readers around the world and beyond."

  /** (doc_id, base_id, true_lang, html) for doc_id < 300: mixed
    * content-word/function-word paragraphs (language planted via the
    * function words), a link-menu block and a copyright block
    * (extraction drops), a no-punctuation paragraph (c4 drops), the
    * corpus-global footer (dropCommonLines drops), docs 230–249 a
    * one-token near-dup of 0–19 (minhash drops), docs 250–299 an
    * exact copy of 0–49 (exact dedup drops). Mirrored VERBATIM in
    * [[webIngestSqlCtes]]. */
  private def webIngestHtml(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val ids = docs.filter(col("doc_id") < 300).select(col("doc_id"),
      when(col("doc_id") >= 250, col("doc_id") - 250)
        .when(col("doc_id") >= 230, col("doc_id") - 230)
        .otherwise(col("doc_id")).as("base_id"))
    val base = docs.select(col("doc_id").as("base_id"),
      col("text").as("base_text"))
    val li = col("base_id") % 3
    val func = when(li === 0, typedLit(webFuncPools("en")))
      .when(li === 1, typedLit(webFuncPools("fr")))
      .otherwise(typedLit(webFuncPools("de")))
    // content word j = the base doc's token (j*3 mod ntok), function
    // word j = pool[(base_id + j) mod 8]; toks and pool are BOUND
    // (no CSE inside HOF lambdas)
    def mixed(from: Int, until: Int): Column =
      TF.bound(TF.tokens(col("base_text"))) { toks =>
        TF.bound(func) { f =>
          array_join(transform(
            sequence(lit(from), lit(until - 1)),
            j => concat(
              element_at(toks,
                (pmod(j * 3, size(toks)) + 1).cast("int")),
              lit(" "),
              element_at(f,
                ((col("base_id") + j) % 8 + 1).cast("int")))), " ")
        }
      }
    val main = concat(mixed(0, 40),
      when(col("doc_id").between(230, 249), lit(" zzz"))
        .otherwise(lit("")),
      lit("."))
    val html = concat(
      lit("<html><head><title>W</title><style>p{x:1}</style>" +
        "<script>var w=2;</script></head><body>" +
        "<div><a href=\"/\">home page links</a> " +
        "<a href=\"/x\">more links here</a></div><p>"),
      main,
      lit("</p><p>"), mixed(40, 60),
      lit(s"</p><p>$webFooterText</p>" +
        "<div>© 2026 example site</div></body></html>"))
    ids.join(base, "base_id")
      .select(col("doc_id"), col("base_id"),
        when(li === 0, "en").when(li === 1, "fr").otherwise("de")
          .as("true_lang"),
        html.as("html"))
  }

  /** q263's WARC fixture: the multilingual pages in HTTP envelopes
    * across four part files, two plain + two record-per-member
    * .warc.gz (the warcFixture discipline — the gate drives the REAL
    * container + envelope parse on both paths). */
  private val webWarcCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def webWarcFixture(s: SparkSession, dir: String): String =
    webWarcCache.getOrElseUpdate(dir, {
      val out = scratchTemp("graft_warc_q263")
      val rows = webIngestHtml(s, dir)
        .select(col("doc_id"), col("html")).collect()
      val nFiles = 4
      (0 until nFiles).foreach { f =>
        val recs = rows.zipWithIndex
          .filter(_._2 % nFiles == f).map(_._1).toSeq.map { r =>
            (Seq("WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:uuid:w${r.getLong(0)}>",
              "WARC-Date" -> "2026-08-16T00:00:00Z",
              "WARC-Target-URI" ->
                s"http://example.com/doc/${r.getLong(0)}",
              "Content-Type" -> "application/http; msgtype=response"),
              graft.sources.Warc.httpBytes(r.getString(1)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
        // parts 0-1 plain .warc, parts 2-3 .warc.gz in the
        // record-per-member convention — the gate drives BOTH the
        // plain and the multi-member-gzip streaming parse paths
        if (f < 2)
          java.nio.file.Files.write(out.resolve(f"part$f%02d.warc"),
            graft.sources.Warc.warcBytes(recs))
        else
          java.nio.file.Files.write(out.resolve(f"part$f%02d.warc.gz"),
            recs.map(r => gzipMember(
              graft.sources.Warc.warcBytes(Seq(r))))
              .foldLeft(Array.emptyByteArray)(_ ++ _))
      }
      out.toString
    })

  /** DuckDB construction of the SAME pages — CTE chain ending in
    * `h(doc_id, html)` (feeds [[sqlExtractCtesFor]]) plus
    * `wm(doc_id, base_id, true_lang, ...)` for the labels */
  private lazy val webIngestSqlCtes: String = {
    def pool(l: String) = sqlList(webFuncPools(l))
    def mixedSql(from: Int, until: Int) =
      s"""array_to_string(list_transform(range($from, $until), j ->
         |      toks[(j*3) % len(toks) + 1] || ' ' ||
         |      (CASE true_lang WHEN 'en' THEN ${pool("en")}
         |        WHEN 'fr' THEN ${pool("fr")} ELSE ${pool("de")}
         |      END)[(base_id + j) % 8 + 1]), ' ')""".stripMargin
    s"""wb AS (SELECT doc_id,
       |    CASE WHEN doc_id >= 250 THEN doc_id - 250
       |      WHEN doc_id >= 230 THEN doc_id - 230
       |      ELSE doc_id END AS base_id
       |  FROM documents WHERE doc_id < 300),
       |wt AS (SELECT wb.doc_id, wb.base_id,
       |    CASE wb.base_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
       |      ELSE 'de' END AS true_lang,
       |    ${sqlTokens("b.text")} AS toks
       |  FROM wb JOIN documents b ON b.doc_id = wb.base_id),
       |wm AS (SELECT doc_id, base_id, true_lang,
       |    ${mixedSql(0, 40)} ||
       |    CASE WHEN doc_id BETWEEN 230 AND 249 THEN ' zzz'
       |      ELSE '' END || '.' AS main,
       |    ${mixedSql(40, 60)} AS block2
       |  FROM wt),
       |h AS (SELECT doc_id,
       |    '<html><head><title>W</title><style>p{x:1}</style>' ||
       |    '<script>var w=2;</script></head><body>' ||
       |    '<div><a href="/">home page links</a> ' ||
       |    '<a href="/x">more links here</a></div><p>' || main ||
       |    '</p><p>' || block2 ||
       |    '</p><p>$webFooterText</p>' ||
       |    '<div>© 2026 example site</div></body></html>' AS html
       |  FROM wm)""".stripMargin
  }

  private case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

  // ---- the catalog ------------------------------------------------------

  private lazy val catalog: Seq[Q] = Seq(

    // ===== §2.2 projection / row-wise ===================================

    // revenue is summed as DECIMAL(30,6): the per-row product of
    // 2-decimal factors is an exact 6-decimal value, so the decimal sum
    // is exact and order-independent — double sums would differ from
    // DuckDB in the last digits (summation order) and can flip a
    // round().
    Q("q01_flagship_agg", (s, dir) =>
      d(s, dir, "lineitem")
        .filter("l_shipdate <= '2000-12-01'")
        .selectExpression(
          "revenue = cast(l_extendedprice * (1 - l_discount) as decimal(30,6))")
        .groupBy(Seq("l_returnflag", "l_linestatus")).agg(
          ("n", "count", "*"),
          ("sum_qty", "sum", "l_quantity"),
          ("revenue", "sum", "revenue"),
          ("avg_disc", "mean", "l_discount"))
        .selectExpression(
          "sum_qty = round(sum_qty, 2)",
          "revenue = cast(revenue as double)",
          "avg_disc = round(avg_disc, 6)")
        .sort(Seq("l_returnflag", "l_linestatus")).toDF,
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | round(sum(l_quantity), 2) AS sum_qty,
             | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
             | round(avg(l_discount), 6) AS avg_disc
             |FROM lineitem WHERE l_shipdate <= '2000-12-01'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q02_select", (s, dir) =>
      d(s, dir, "part").select(Seq("p_partkey", "p_name", "p_retailprice"))
        .sort(Seq("p_partkey")).toDF,
      Some("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey")),

    Q("q03_filter", (s, dir) =>
      d(s, dir, "lineitem")
        .filter("(l_quantity >= 45) and (l_returnflag == 'R')")
        .select(Seq("l_orderkey", "l_linenumber", "l_quantity"))
        .sort(Seq("l_orderkey", "l_linenumber")).toDF,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_quantity >= 45 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // round at 6: the exact product of 2-decimal factors has <= 6
    // decimals, so no value sits on a 7th-digit rounding boundary;
    // round-at-2 would hit exact .xx5 ties where Spark and DuckDB
    // round doubles differently.
    Q("q04_select_expression", (s, dir) =>
      d(s, dir, "lineitem").selectExpression(
          "revenue = round(l_extendedprice * (1 - l_discount), 6)",
          "charge = round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6)")
        .select(Seq("l_orderkey", "l_linenumber", "revenue", "charge"))
        .sort(Seq("l_orderkey", "l_linenumber")).toDF,
      Some("""SELECT l_orderkey, l_linenumber,
             | round(l_extendedprice * (1 - l_discount), 6) AS revenue,
             | round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("q05_drop", (s, dir) =>
      d(s, dir, "orders").drop(Seq("o_orderstatus", "o_orderpriority"))
        .sort(Seq("o_orderkey")).toDF,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // date rendered as string: pandas/arrow represent date32 vs
    // DuckDB's DATE-to-datetime64 differently, so a raw DATE column
    // can false-negative in the compare; the string form is stable.
    Q("q06_rename_cast", (s, dir) =>
      d(s, dir, "orders").rename("o_totalprice", "price")
        .cast("o_orderdate", "date")
        .cast("o_orderdate", "string")
        .select(Seq("o_orderkey", "price", "o_orderdate"))
        .sort(Seq("o_orderkey")).toDF,
      Some("""SELECT o_orderkey, o_totalprice AS price,
             | CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ===== §2.3 joins ====================================================

    Q("q07_join_inner", (s, dir) =>
      d(s, dir, "lineitem")
        .selectExpression(
          "revenue = cast(l_extendedprice * (1 - l_discount) as decimal(30,6))")
        .join(d(s, dir, "orders"), Seq("l_orderkey"), Seq("o_orderkey"))
        .groupBy(Seq("o_orderpriority")).agg(
          ("n", "count", "*"), ("revenue", "sum", "revenue"))
        .selectExpression("revenue = cast(revenue as double)")
        .sort(Seq("o_orderpriority")).toDF,
      Some("""SELECT o_orderpriority, count(*) AS n,
             | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("q08_join_left", (s, dir) =>
      d(s, dir, "customer")
        .join(d(s, dir, "orders"), Seq("c_custkey"), Seq("o_custkey"), "left")
        .groupBy(Seq("c_custkey")).agg(
          ("n_orders", "count", "o_orderkey"), ("total", "sum", "o_totalprice"))
        .map(round(coalesce(col("total"), lit(0.0)), 2), "total")
        .sort(Seq("c_custkey")).toDF,
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             | round(coalesce(sum(o_totalprice), 0), 2) AS total
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    Q("q09_join_right", (s, dir) =>
      d(s, dir, "orders")
        .join(d(s, dir, "customer"), Seq("o_custkey"), Seq("c_custkey"), "right")
        .groupBy(Seq("c_nationkey")).agg(("n", "count", "o_orderkey"))
        .sort(Seq("c_nationkey")).toDF,
      Some("""SELECT c_nationkey, count(o_orderkey) AS n
             |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    Q("q10_join_multi", (s, dir) =>
      d(s, dir, "customer")
        .join(d(s, dir, "nation"), Seq("c_nationkey"), Seq("n_nationkey"))
        .join(d(s, dir, "region"), Seq("n_regionkey"), Seq("r_regionkey"))
        .groupBy(Seq("r_name")).agg(
          ("n_cust", "count", "*"), ("avg_bal", "mean", "c_acctbal"))
        .selectExpression("avg_bal = round(avg_bal, 4)")
        .sort(Seq("r_name")).toDF,
      Some("""SELECT r_name, count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    Q("q11_cross_join", (s, dir) =>
      d(s, dir, "region").select(Seq("r_name"))
        .crossJoin(d(s, dir, "nation").select(Seq("n_name")))
        .sort(Seq("r_name", "n_name")).toDF,
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY r_name, n_name""".stripMargin)),

    Q("q54_semi_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    },
      Some("""SELECT c_nationkey, count(*) AS n FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    Q("q55_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    // ===== §2.4 aggregation =============================================

    Q("q12_agg_functions", (s, dir) =>
      d(s, dir, "lineitem").groupBy(Seq("l_returnflag")).agg(
          ("n", "count", "*"),
          ("nd_orders", "count_distinct", "l_orderkey"),
          ("sum_q", "sum", "l_quantity"),
          ("avg_q", "mean", "l_quantity"),
          ("min_q", "min", "l_quantity"),
          ("max_q", "max", "l_quantity"),
          ("med_q", "median", "l_quantity"),
          ("sd_q", "stddev", "l_quantity"))
        .selectExpression(
          "sum_q = round(sum_q, 2)", "avg_q = round(avg_q, 4)",
          "med_q = round(med_q, 2)", "sd_q = round(sd_q, 4)")
        .sort(Seq("l_returnflag")).toDF,
      Some("""SELECT l_returnflag, count(*) AS n,
             | count(DISTINCT l_orderkey) AS nd_orders,
             | round(sum(l_quantity), 2) AS sum_q,
             | round(avg(l_quantity), 4) AS avg_q,
             | min(l_quantity) AS min_q, max(l_quantity) AS max_q,
             | round(median(l_quantity), 2) AS med_q,
             | round(stddev_samp(l_quantity), 4) AS sd_q
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Array result is stringified on BOTH sides: the driver's pandas-based
    // compare cannot sort/hash an array<string> cell (numpy.ndarray is
    // unhashable). The array-typed list/set aggs stay pinned in DDFSpec.
    Q("q13_agg_list_set", (s, dir) =>
      d(s, dir, "nation").groupBy(Seq("n_regionkey"))
        .agg(("names", "list", "n_name"), ("names_set", "set", "n_name"))
        .sort(Seq("n_regionkey")).toDF
        .withColumn("names", concat_ws("|", col("names")))
        .withColumn("names_set", concat_ws("|", col("names_set"))),
      Some("""SELECT n_regionkey,
             | array_to_string(list_sort(list(n_name)), '|') AS names,
             | array_to_string(list_sort(list(DISTINCT n_name)), '|') AS names_set
             |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    Q("q14_distinct", (s, dir) =>
      d(s, dir, "lineitem").select(Seq("l_returnflag", "l_linestatus"))
        .distinct(Seq("l_returnflag", "l_linestatus"))
        .sort(Seq("l_returnflag", "l_linestatus")).toDF,
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q15_count_rows", (s, dir) =>
      d(s, dir, "lineitem").groupBy(Nil).agg(("n", "count", "*")).toDF,
      Some("SELECT count(*) AS n FROM lineitem")),

    Q("q52_cube", (s, dir) => {
      val doc = t(s, dir, "documents")
      doc.cube(col("lang"), col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
    },
      Some("""SELECT lang, source, count(*) AS n FROM documents
             |GROUP BY CUBE(lang, source)
             |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin)),

    Q("q53_rollup", (s, dir) => {
      val o = t(s, dir, "orders")
      o.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             | round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // ===== §2.5 sort / limit / partitioning =============================

    Q("q16_sort_limit", (s, dir) =>
      d(s, dir, "lineitem")
        .sort(Seq("l_extendedprice", "l_orderkey", "l_linenumber"),
          Seq(false, true, true))
        .take(100)
        .select(Seq("l_orderkey", "l_linenumber", "l_extendedprice")).toDF,
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |LIMIT 100""".stripMargin)),

    Q("q33_repartition_agg", (s, dir) =>
      d(s, dir, "lineitem").hashPartition(Seq("l_suppkey"), 8)
        .groupBy(Seq("l_suppkey")).agg(
          ("n", "count", "*"), ("sum_q", "sum", "l_quantity"))
        .selectExpression("sum_q = round(sum_q, 2)")
        .sort(Seq("l_suppkey")).toDF,
      Some("""SELECT l_suppkey, count(*) AS n, round(sum(l_quantity), 2) AS sum_q
             |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    Q("q34_range_partition_sort", (s, dir) =>
      d(s, dir, "orders").rangePartition(Seq("o_totalprice"), 8)
        .sort(Seq("o_totalprice", "o_orderkey"), Seq(false, true))
        .take(100).select(Seq("o_orderkey", "o_totalprice")).toDF,
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // ===== §2.6 set operations ==========================================

    Q("q17_union", (s, dir) => {
      val li = d(s, dir, "lineitem")
      li.filter("l_returnflag == 'R'").select(Seq("l_returnflag"))
        .union(li.filter("l_quantity < 5").select(Seq("l_returnflag")))
        .groupBy(Seq("l_returnflag")).agg(("n", "count", "*"))
        .sort(Seq("l_returnflag")).toDF
    },
      Some("""SELECT l_returnflag, count(*) AS n FROM (
             | SELECT l_returnflag FROM lineitem WHERE l_returnflag = 'R'
             | UNION ALL
             | SELECT l_returnflag FROM lineitem WHERE l_quantity < 5) t
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q18_union_by_name", (s, dir) => {
      val li = d(s, dir, "lineitem")
      val a = li.filter("l_returnflag == 'A'")
        .select(Seq("l_orderkey", "l_quantity"))
      val b = li.filter("l_returnflag == 'N'")
        .select(Seq("l_quantity", "l_orderkey"))   // reversed column order
      a.unionByName(b)
        .groupBy(Nil).agg(("n", "count", "*"), ("sum_q", "sum", "l_quantity"),
          ("sum_k", "sum", "l_orderkey"))
        .selectExpression("sum_q = round(sum_q, 2)").toDF
    },
      Some("""SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_q,
             | CAST(sum(l_orderkey) AS BIGINT) AS sum_k
             |FROM (SELECT l_orderkey, l_quantity FROM lineitem WHERE l_returnflag = 'A'
             |      UNION ALL
             |      SELECT l_orderkey, l_quantity FROM lineitem WHERE l_returnflag = 'N') t""".stripMargin)),

    Q("q19_intersect", (s, dir) => {
      val li = d(s, dir, "lineitem")
      li.filter("l_returnflag == 'R'").select(Seq("l_orderkey"))
        .intersect(li.filter("l_returnflag == 'N'").select(Seq("l_orderkey")))
        .sort(Seq("l_orderkey")).toDF
    },
      Some("""SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
             |INTERSECT
             |SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'
             |ORDER BY l_orderkey""".stripMargin)),

    Q("q20_except", (s, dir) => {
      val li = d(s, dir, "lineitem")
      li.filter("l_returnflag == 'R'").select(Seq("l_orderkey"))
        .subtract(li.filter("l_returnflag == 'N'").select(Seq("l_orderkey")))
        .sort(Seq("l_orderkey")).toDF
    },
      Some("""SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
             |EXCEPT
             |SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'
             |ORDER BY l_orderkey""".stripMargin)),

    Q("q21_intersect_all", (s, dir) => {
      val li = d(s, dir, "lineitem")
      li.filter("l_quantity < 10").select(Seq("l_returnflag", "l_linestatus"))
        .intersectAll(li.filter("l_quantity < 20")
          .select(Seq("l_returnflag", "l_linestatus")))
        .sort(Seq("l_returnflag", "l_linestatus")).toDF
    },
      Some("""SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity < 10
             |INTERSECT ALL
             |SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity < 20
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q22_except_all", (s, dir) => {
      val li = d(s, dir, "lineitem")
      li.filter("l_quantity < 20").select(Seq("l_returnflag", "l_linestatus"))
        .exceptAll(li.filter("l_quantity < 10")
          .select(Seq("l_returnflag", "l_linestatus")))
        .sort(Seq("l_returnflag", "l_linestatus")).toDF
    },
      Some("""SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity < 20
             |EXCEPT ALL
             |SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity < 10
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q32_add_column_zip", (s, dir) => {
      val li = d(s, dir, "lineitem")
      // r18 opt (guide §5): both zip sides project the SAME global
      // sort — uncached, zipByIndex evaluated the sample+range-sort
      // twice (ProbeStages r18: two toRdd stages, 3.46 s + 1.70 s
      // exec, re-reading 4.6/5.9 MB). Cache the sorted frame so the
      // sort computes once and each side is a cheap projection of it.
      val sorted = li.sort(Seq("l_orderkey", "l_linenumber")).cache()
      val a = sorted.select(Seq("l_orderkey", "l_linenumber"))
      val b = sorted.select(Seq("l_quantity"))
      a.addColumn(b)
        .sort(Seq("l_orderkey", "l_linenumber")).toDF
    },
      Some("""WITH a AS (SELECT l_orderkey, l_linenumber,
             |   row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem),
             |b AS (SELECT l_quantity,
             |   row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem)
             |SELECT a.l_orderkey, a.l_linenumber, b.l_quantity
             |FROM a JOIN b USING (rn) ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin)),

    // ===== §2.2 cleaning (fillna / dropna / replace) =====================

    Q("q23_fillna_value", (s, dir) =>
      d(s, dir, "lineitem")
        .map(when(col("l_discount") < 0.02, lit(null)).otherwise(col("l_discount")), "d2")
        .fillna(Seq("d2"), FillWithValue, -1.0)
        .groupBy(Seq("l_returnflag")).agg(("s", "sum", "d2"))
        .selectExpression("s = round(s, 2)")
        .sort(Seq("l_returnflag")).toDF,
      Some("""SELECT l_returnflag,
             | round(sum(coalesce(CASE WHEN l_discount < 0.02 THEN NULL
             |   ELSE l_discount END, -1.0)), 2) AS s
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q24_fillna_mean", (s, dir) =>
      d(s, dir, "lineitem")
        .map(when(col("l_quantity") > 40, lit(null)).otherwise(col("l_quantity")), "q")
        .select(Seq("l_returnflag", "q"))
        .fillna(Seq("q"), FillWithMean)
        .groupBy(Seq("l_returnflag")).agg(("s", "sum", "q"))
        .selectExpression("s = round(s, 2)")
        .sort(Seq("l_returnflag")).toDF,
      Some("""WITH t AS (SELECT l_returnflag,
             |   CASE WHEN l_quantity > 40 THEN NULL ELSE l_quantity END AS q
             |  FROM lineitem),
             |m AS (SELECT avg(q) AS mq FROM t)
             |SELECT l_returnflag, round(sum(coalesce(q, mq)), 2) AS s
             |FROM t, m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q25_fillna_median", (s, dir) =>
      d(s, dir, "lineitem")
        .map(when(col("l_extendedprice") > 90000, lit(null))
          .otherwise(col("l_extendedprice")), "p")
        .select(Seq("l_linestatus", "p"))
        .fillna(Seq("p"), FillWithMedian)
        .groupBy(Seq("l_linestatus")).agg(("s", "sum", "p"))
        .selectExpression("s = round(s, 2)")
        .sort(Seq("l_linestatus")).toDF,
      Some("""WITH t AS (SELECT l_linestatus,
             |   CASE WHEN l_extendedprice > 90000 THEN NULL ELSE l_extendedprice END AS p
             |  FROM lineitem),
             |m AS (SELECT median(p) AS mp FROM t)
             |SELECT l_linestatus, round(sum(coalesce(p, mp)), 2) AS s
             |FROM t, m GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    Q("q26_dropna", (s, dir) =>
      d(s, dir, "lineitem")
        .map(when(col("l_quantity") > 45, lit(null)).otherwise(col("l_quantity")), "q")
        .map(when(col("l_discount") < 0.01, lit(null)).otherwise(col("l_discount")), "dd")
        .dropna(Seq("q", "dd"), "any")
        .groupBy(Nil).agg(("n", "count", "*"), ("sq", "sum", "q"), ("sd", "sum", "dd"))
        .selectExpression("sq = round(sq, 2)", "sd = round(sd, 2)").toDF,
      Some("""SELECT count(*) AS n, round(sum(q), 2) AS sq, round(sum(dd), 2) AS sd
             |FROM (SELECT CASE WHEN l_quantity > 45 THEN NULL ELSE l_quantity END AS q,
             |   CASE WHEN l_discount < 0.01 THEN NULL ELSE l_discount END AS dd
             |  FROM lineitem) t
             |WHERE q IS NOT NULL AND dd IS NOT NULL""".stripMargin)),

    Q("q27_replace", (s, dir) =>
      d(s, dir, "lineitem")
        .replace(Map("R" -> "X", "N" -> "Y"), Seq("l_returnflag"))
        .groupBy(Seq("l_returnflag")).agg(("n", "count", "*"))
        .sort(Seq("l_returnflag")).toDF,
      Some("""SELECT CASE l_returnflag WHEN 'R' THEN 'X' WHEN 'N' THEN 'Y'
             |  ELSE l_returnflag END AS l_returnflag, count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q28_explode", (s, dir) =>
      d(s, dir, "part")
        .map(split(col("p_name"), " "), "w")
        .explodeCol("w")
        .groupBy(Seq("w")).agg(("n", "count", "*"))
        .sort(Seq("w")).toDF,
      Some("""SELECT w, count(*) AS n
             |FROM (SELECT unnest(string_split(p_name, ' ')) AS w FROM part) t
             |GROUP BY w ORDER BY w""".stripMargin)),

    // ===== §2.10-ext window functions ===================================

    Q("q29_window_topn", (s, dir) => {
      val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rn"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
             | SELECT c_mktsegment, c_custkey, c_acctbal,
             |  row_number() OVER (PARTITION BY c_mktsegment
             |    ORDER BY c_acctbal DESC, c_custkey) AS rn
             | FROM customer) t
             |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin)),

    Q("q30_window_lag", (s, dir) => {
      val ev = events(s, dir).filter(col("user_id") < 10)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      ev.withColumn("diff", round(col("value") - lag(col("value"), 1).over(w), 2))
        .select(col("user_id"), col("event_id"), col("diff"))
        .orderBy(col("user_id"), col("event_id"))
    },
      Some("""SELECT user_id, event_id,
             | round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 2) AS diff
             |FROM events WHERE user_id < 10 ORDER BY user_id, event_id""".stripMargin)),

    Q("q31_window_running", (s, dir) => {
      val ev = events(s, dir).filter(col("user_id") < 5)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("running", round(sum(col("value")).over(w), 2))
        .select(col("user_id"), col("event_id"), col("running"))
        .orderBy(col("user_id"), col("event_id"))
    },
      Some("""SELECT user_id, event_id,
             | round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
             |FROM events WHERE user_id < 5 ORDER BY user_id, event_id""".stripMargin)),

    // ===== §2.7 statistics ==============================================

    Q("q35_describe", (s, dir) =>
      d(s, dir, "lineitem")
        .describeNumeric(Seq("l_quantity", "l_extendedprice", "l_discount"))
        .rename("column", "colname")
        .selectExpression("mean = round(mean, 4)", "stddev = round(stddev, 4)")
        .sort(Seq("colname")).toDF,
      Some("""SELECT 'l_discount' AS colname, count(l_discount) AS n,
             |  round(avg(l_discount), 4) AS mean, round(stddev_samp(l_discount), 4) AS stddev,
             |  CAST(min(l_discount) AS DOUBLE) AS min, CAST(max(l_discount) AS DOUBLE) AS max
             | FROM lineitem
             |UNION ALL
             |SELECT 'l_extendedprice', count(l_extendedprice),
             |  round(avg(l_extendedprice), 4), round(stddev_samp(l_extendedprice), 4),
             |  CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
             | FROM lineitem
             |UNION ALL
             |SELECT 'l_quantity', count(l_quantity),
             |  round(avg(l_quantity), 4), round(stddev_samp(l_quantity), 4),
             |  CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE)
             | FROM lineitem
             |ORDER BY colname""".stripMargin)),

    Q("q36_corr_stats", (s, dir) =>
      t(s, dir, "lineitem").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cv"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd")),
      Some("""SELECT round(corr(l_quantity, l_extendedprice), 6) AS r,
             | round(covar_samp(l_quantity, l_extendedprice), 4) AS cv,
             | round(stddev_samp(l_extendedprice), 4) AS sd
             |FROM lineitem""".stripMargin)),

    Q("q37_crosstab", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O")).agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O"))
        .withColumnRenamed("F", "f_cnt").withColumnRenamed("O", "o_cnt")
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             | count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_cnt,
             | count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_cnt
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q38_freq_items", (s, dir) =>
      d(s, dir, "part").freqItems("p_brand", 0.04)
        .sort(Seq("p_brand")).toDF,
      Some("""WITH c AS (SELECT p_brand, count(*) AS freq FROM part GROUP BY p_brand),
             |t AS (SELECT count(*) AS n FROM part)
             |SELECT p_brand, freq FROM c, t WHERE freq >= 0.04 * n
             |ORDER BY p_brand""".stripMargin)),

    Q("q39_ks_uniform", (s, dir) => {
      val ks = KolmogorovSmirnov.statisticDF(
        t(s, dir, "lineitem"), "l_discount", "uniform", Seq(0.0, 0.1))
      ks.select(round(col("ks_stat"), 6).as("ks_stat"))
    },
      Some("""WITH s AS (SELECT l_discount AS x,
             |   row_number() OVER (ORDER BY l_discount) AS rn,
             |   count(*) OVER () AS n
             |  FROM lineitem WHERE l_discount IS NOT NULL)
             |SELECT round(max(greatest(
             |  abs(least(1.0, greatest(0.0, x / 0.1)) - (rn - 1.0) / n),
             |  abs(least(1.0, greatest(0.0, x / 0.1)) - CAST(rn AS DOUBLE) / n))), 6) AS ks_stat
             |FROM s""".stripMargin)),

    // ===== §2.8-ext JSON + time =========================================

    Q("q40_json_extract", (s, dir) =>
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("value")), 4).as("avg_v"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
             | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             | round(avg(value), 4) AS avg_v
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("q41_time_window", (s, dir) =>
      events(s, dir)
        .withColumn("hr", date_trunc("hour", col("ts")))
        .groupBy(col("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
        .orderBy(col("hr"), col("event_type")),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, event_type,
             | count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ===== §2.12 text analysis ==========================================

    Q("q42_text_stats", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", TF.tokenCount(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("toks")).as("sum_toks"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang")),
      Some(s"""SELECT lang, count(*) AS n,
              | CAST(sum(len(${sqlTokens("text")})) AS BIGINT) AS sum_toks,
              | round(avg(n_chars), 4) AS avg_chars
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q43_text_quality", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, round(
              |  0.3 * (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0
              |      WHEN length(text) BETWEEN 20 AND 50 THEN 0.5 ELSE 0.0 END)
              |  + 0.2 * (CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE)
              |      / greatest(CAST(length(text) AS DOUBLE), 1.0))
              |  + 0.15 * (CASE WHEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
              |      / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 ELSE 0.4 END)
              |  + 0.15 * (CASE WHEN (CAST(length(text) AS DOUBLE) - len(${sqlTokens("text")}) + 1)
              |      / greatest(CAST(len(${sqlTokens("text")}) AS DOUBLE), 1.0) BETWEEN 2 AND 12
              |      THEN 1.0 ELSE 0.3 END)
              |  + 0.2 * least((CAST(len(list_filter(${sqlTokens("text")},
              |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'], x))) AS DOUBLE)
              |      / greatest(CAST(len(${sqlTokens("text")}) AS DOUBLE), 1.0)) * 5.0, 1.0)
              | , 4) AS quality
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // stopword-vote argmax is pure deterministic set math → exact
    // oracle (scores per language replicated in SQL; ties break by
    // language code ascending on both sides)
    Q("q44_lang_id", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.langId(col("text")).as("pred_lang"), col("lang"))
        .orderBy(col("doc_id")),
      Some {
        val marker = TF.langMarkers.map { case (l, ws) =>
          l -> ws.map(w => s"'$w'").mkString("[", ",", "]")
        }
        s"""WITH tk AS (SELECT doc_id, lang, text,
           |  list_distinct(${sqlTokens("text")}) AS toks FROM documents),
           |sc AS (
           |  SELECT doc_id, lang, 'de' AS cand,
           |    len(list_intersect(toks, ${marker("de")})) AS score FROM tk
           |  UNION ALL SELECT doc_id, lang, 'en',
           |    len(list_intersect(toks, ${marker("en")})) FROM tk
           |  UNION ALL SELECT doc_id, lang, 'es',
           |    len(list_intersect(toks, ${marker("es")})) FROM tk
           |  UNION ALL SELECT doc_id, lang, 'fr',
           |    len(list_intersect(toks, ${marker("fr")})) FROM tk
           |  UNION ALL SELECT doc_id, lang, 'zh',
           |    len(regexp_extract_all(text,
           |      '[${TF.langMarkers("zh").mkString}]')) FROM tk),
           |r AS (SELECT doc_id, lang, cand, row_number() OVER (
           |   PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM sc)
           |SELECT doc_id, cand AS pred_lang, lang FROM r WHERE rn = 1
           |ORDER BY doc_id""".stripMargin
      }),

    // r10: [R]→[O]. The production fingerprint's token hash is
    // xxhash64 (no DuckDB counterpart — that default stays pinned in
    // TextFunctionsSpec), but the 62-bit two-roll polynomial CHAIN is
    // engine-owned and hash-agnostic: fingerprintPortable swaps in the
    // md5 token hash (q140's replay discipline) and the oracle folds
    // the identical chain with list_reduce — seed prepended, then
    // (acc·mult + h) mod 2³¹−1 per token, two rolls packed.
    Q("q45_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.fingerprintPortable(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some(s"""WITH h AS (SELECT doc_id, list_transform(
              |    ${sqlTokens("text")},
              |    x -> CAST(CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
              |         % 2147483647 AS BIGINT)) AS hs
              |  FROM documents),
              |r AS (SELECT doc_id,
              |    list_reduce(list_prepend(CAST(7 AS BIGINT), hs),
              |      (acc, x) -> (acc * 1048573 + x) % 2147483647) AS r1,
              |    list_reduce(list_prepend(CAST(13 AS BIGINT), hs),
              |      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS r2
              |  FROM h)
              |SELECT doc_id, r1 * 2147483648 + r2 AS fp FROM r
              |ORDER BY doc_id""".stripMargin)),

    // ===== §2.12 dedup ==================================================

    Q("q46_dedup_exact", (s, dir) => {
      val deduped = Dedup.exact(docsWithDups(s, dir), Seq("text"), "doc_id")
      deduped.agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("s"))
    },
      Some(s"""WITH u AS ($docsWithDupsSql),
              |d AS (SELECT text, min(doc_id) AS doc_id FROM u GROUP BY text)
              |SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS s FROM d""".stripMargin)),

    Q("q47_dedup_minhash", (s, dir) => {
      val pairs = Dedup.minhashPairs(docsWithDups(s, dir), "doc_id", "text",
        numHashes = 64, bands = 32, shingleLen = 3, threshold = 0.6)
      pairs.select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some(s"""WITH u AS ($docsWithDupsSql),
              |sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM u WHERE len(${sqlTokens("text")}) >= 3)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
              |FROM sh a, sh b WHERE a.doc_id < b.doc_id
              |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6
              |ORDER BY id_a, id_b""".stripMargin)),

    // Incremental near-dup screen (Dedup.minhashPairsAgainst, r6):
    // the planted copies play the NEW batch, the originals the
    // historical corpus. Oracle = exhaustive cross jaccard between
    // the two sides; at 64 hashes / 32 bands a pair at j >= 0.6
    // misses all bands with p < 1e-6, so the candidate set is
    // complete on this data (same recall argument as q47).
    Q("q115_dedup_incremental", (s, dir) => {
      val all = docsWithDups(s, dir)
      Dedup.minhashPairsAgainst(
          all.filter(col("doc_id") >= 10000),
          all.filter(col("doc_id") < 10000),
          "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
        .select(col("id_new"), col("id_corpus"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_new"), col("id_corpus"))
    },
      Some(incrScreenOracleSql)),

    // The PRODUCTION form of q115: the corpus index is built and
    // persisted to parquet ONCE (per JVM), then every screen call
    // reads it back — banding the corpus is amortized across
    // ingestion cycles instead of paid per batch. Same oracle as
    // q115 verbatim: the answer must not depend on which path
    // produced it, only the cost shape differs.
    Q("q117_dedup_incr_indexed", (s, dir) => {
      val all = docsWithDups(s, dir)
      Dedup.minhashPairsAgainstIndex(
          all.filter(col("doc_id") >= 10000),
          all.filter(col("doc_id") < 10000),
          s.read.parquet(mhIndexPath(s, dir)),
          "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
        .select(col("id_new"), col("id_corpus"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_new"), col("id_corpus"))
    },
      Some(incrScreenOracleSql)),

    // q115 through a MAINTAINED index: built on half the corpus,
    // the other half folded in with minhashIndexUpdate (the batch-
    // admission step of the ingestion loop), persisted, screened —
    // same oracle verbatim for the third time. Update ≡ rebuild is
    // additionally pinned bucket-for-bucket in DedupSpec.
    Q("q120_dedup_incr_updated", (s, dir) => {
      val all = docsWithDups(s, dir)
      Dedup.minhashPairsAgainstIndex(
          all.filter(col("doc_id") >= 10000),
          all.filter(col("doc_id") < 10000),
          s.read.parquet(mhUpdIndexPath(s, dir)),
          "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
        .select(col("id_new"), col("id_corpus"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_new"), col("id_corpus"))
    },
      Some(incrScreenOracleSql)),

    // Incremental EXACT dedup screen (Dedup.exactAgainst, r6): the
    // copies batch screens against the originals corpus on the text
    // key — verbatim copies (+20000 ids) drop, " zzz" near-dups
    // survive (they need q115's minhash screen). Oracle is the
    // null-safe anti join in SQL.
    Q("q116_dedup_exact_incr", (s, dir) => {
      val all = docsWithDups(s, dir)
      Dedup.exactAgainst(
          all.filter(col("doc_id") >= 10000),
          all.filter(col("doc_id") < 10000),
          Seq("text"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      Some(s"""WITH u AS ($docsWithDupsSql)
              |SELECT b.doc_id FROM u b
              |WHERE b.doc_id >= 10000 AND NOT EXISTS (
              |  SELECT 1 FROM u c WHERE c.doc_id < 10000
              |    AND c.text IS NOT DISTINCT FROM b.text)
              |ORDER BY doc_id""".stripMargin)),

    Q("q48_dedup_simhash", (s, dir) => {
      val pairs = Dedup.simhashPairs(docsWithDups(s, dir), "doc_id", "text",
        maxDistance = 3)
      pairs.orderBy(col("id_a"), col("id_b"))
    },
      None), // xxhash64-based signature; recall/precision pinned in ScalaTest

    // ===== §2.12 similarity search ======================================

    Q("q49_embed_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
      Some(embedTopkOracleSql)),

    // ANN is approximate by design (no SQL oracle), so the query
    // output IS the quality metric: recall of IVF top-k vs the exact
    // brute-force top-k, one numeric row the driver gate can read.
    // The spec floor (recall >= 0.5, SimilaritySpec) is asserted in
    // ScalaTest; this row makes it visible in the correctness dump.
    Q("q50_similarity_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
          k = 5, nCentroids = 8, nProbe = 3)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"))
      ivf.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(5).as("k"), lit(10).as("n_queries"),
          lit(8).as("n_centroids"), lit(3).as("n_probe"), col("hits"),
          round(col("hits") / (5 * 10.0), 4).as("recall"))
    },
      None), // approximate op: the emitted recall is the gate signal;
             // (n_centroids, n_probe) make the operating point
             // self-describing — see Similarity.ivfTopK sizing notes

    // The embeddings table has no planted near-duplicates (pairwise
    // cosine tops out ~0.6 — random tail), so the dedup fixture plants
    // them: vectors 0..49 reappear under vec_id+10000 scaled by 2 —
    // same direction, cosine exactly 1. Hyperplane LSH finds scaled
    // duplicates with recall 1 BY CONSTRUCTION (scaling by a power of
    // two is exact in IEEE arithmetic, so sign(p·2v) == sign(p·v) in
    // every table), which is what lets an exhaustive DuckDB oracle
    // verify the LSH path: candidates + exact-cosine-verify must equal
    // the full quadratic truth. No crossJoin in the executed plan —
    // candidates come from the (table, code) bucket join.
    Q("q51_dedup_embedding", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb.select(col("vec_id"), col("embedding"))
        .union(emb.filter(col("vec_id") < 50)
          .select((col("vec_id") + 10000).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      Dedup.embeddingPairs(planted, "vec_id", "embedding", dim = 64,
          threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some("""WITH u AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 10000 AS vec_id,
             |         list_transform(embedding, x -> x * 2) AS embedding
             |  FROM embeddings WHERE vec_id < 50)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |   CAST(b.embedding AS DOUBLE[])), 6) AS cosine
             |FROM u a, u b
             |WHERE a.vec_id < b.vec_id
             |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |   CAST(b.embedding AS DOUBLE[])) >= 0.95
             |ORDER BY id_a, id_b""".stripMargin)),

    // Incremental embedding-cosine screen (Dedup.embeddingPairsAgainst,
    // r7): the scaled copies play the NEW batch, the originals the
    // corpus — the semantic sibling of q115, completing the
    // incremental family (exact / jaccard / cosine).
    Q("q118_dedup_embed_incr", (s, dir) => {
      Dedup.embeddingPairsAgainst(embBatch(s, dir),
          t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
          threshold = 0.95)
        .select(col("id_new"), col("id_corpus"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_new"), col("id_corpus"))
    },
      Some(embScreenOracleSql)),

    // q118 through the PERSISTED index (embeddingIndex -> parquet ->
    // embeddingPairsAgainstIndex), same oracle verbatim — the
    // q117-style production-path proof for the embedding screen.
    Q("q119_dedup_embed_indexed", (s, dir) => {
      Dedup.embeddingPairsAgainstIndex(embBatch(s, dir),
          t(s, dir, "embeddings"),
          s.read.parquet(embIndexPath(s, dir)),
          "vec_id", "embedding", dim = 64, threshold = 0.95)
        .select(col("id_new"), col("id_corpus"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_new"), col("id_corpus"))
    },
      Some(embScreenOracleSql)),

    // ===== §2.9 ML text pipeline ========================================

    Q("q56_tokenize_stopwords", (s, dir) => {
      val toks = Feature.tokenize(t(s, dir, "documents"), "text", "toks")
      val clean = Feature.removeStopWords(toks, "toks", "clean",
        TF.defaultStopwords)
      clean.select(explode(col("clean")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("w"))
    },
      Some(s"""SELECT w, count(*) AS n
              |FROM (SELECT unnest(${sqlTokens("text")}) AS w FROM documents) t
              |WHERE NOT list_contains([${TF.defaultStopwords
                 .map(w => s"'$w'").mkString(",")}], w)
              |GROUP BY w ORDER BY w""".stripMargin)),

    Q("q57_ngram", (s, dir) => {
      val toks = Feature.tokenize(t(s, dir, "documents"), "text", "toks")
      val clean = toks.withColumn("toks",
        filter(col("toks"), x => length(x) > 0))
      Feature.ngram(clean, "toks", "bigrams", 2)
        .select(explode(col("bigrams")).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("n"))
        .orderBy(col("bg"))
    },
      Some(s"""SELECT bg, count(*) AS n
              |FROM (SELECT unnest(list_transform(
              |   range(1, greatest(len(${sqlTokens("text")}), 1)),
              |   i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1])) AS bg
              |  FROM documents) t
              |GROUP BY bg ORDER BY bg""".stripMargin)),

    // ===== §2.3-geo spatial join ========================================

    // rectangles as explicit vertex polygons: the Spark side runs the
    // full broadcast + bbox-prune + ray-cast path; the oracle reduces
    // to range predicates (points never sit on a boundary: acctbal has
    // 2 decimals vs .005-offset bounds).
    Q("q63_geo_within", (s, dir) => {
      import s.implicits._
      val pts = t(s, dir, "customer").select(col("c_custkey").as("id"),
        col("c_acctbal").as("x"), (col("c_custkey") % 100).cast("double").as("y"))
      val polys = Seq(
        ("zoneA", Seq((0.005, 10.5), (3000.005, 10.5), (3000.005, 60.5), (0.005, 60.5))),
        ("zoneB", Seq((3000.005, 0.5), (8000.005, 0.5), (8000.005, 90.5), (3000.005, 90.5))))
        .toDF("zone", "verts")
        .select(col("zone"), expr(
          "transform(verts, v -> named_struct('x', v._1, 'y', v._2))").as("verts"))
      Geo.geoWithin(pts, polys, "x", "y", "verts")
        .select(col("id"), col("zone"))
        .orderBy(col("id"), col("zone"))
    },
      Some("""SELECT c_custkey AS id, 'zoneA' AS zone FROM customer
             |WHERE c_acctbal > 0.005 AND c_acctbal < 3000.005
             |  AND (c_custkey % 100) > 10.5 AND (c_custkey % 100) < 60.5
             |UNION ALL
             |SELECT c_custkey AS id, 'zoneB' AS zone FROM customer
             |WHERE c_acctbal > 3000.005 AND c_acctbal < 8000.005
             |  AND (c_custkey % 100) > 0.5 AND (c_custkey % 100) < 90.5
             |ORDER BY id, zone""".stripMargin)),

    // ===== §2.9 graph / clustering / fpm (rows-only: not ANSI-SQL-
    // expressible; semantics pinned in ScalaTest) =========================

    // Oracled by unrolling the fixed 10 PageRank iterations as chained
    // CTEs (DuckDB disallows aggregates in recursive terms). Both
    // sides run the identical recurrence rank' = 0.15 + 0.85 * Σ
    // rank/deg over in-edges in double arithmetic; round(6) absorbs
    // summation-order noise.
    Q("q58_pagerank", (s, dir) => {
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 50).as("src"), (col("o_orderkey") % 50).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      PageRank.run(edges, maxIters = 10)
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("id"))
    }, Some {
      val steps = (1 to 10).map { i =>
        s"""p$i AS (
           |  SELECT v.id, CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * coalesce(s.c, 0) AS rank
           |  FROM verts v LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.rank / d.deg) AS c
           |    FROM edges e JOIN p${i - 1} p ON e.src = p.id
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON v.id = s.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (
         |  SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 50 AS dst
         |  FROM orders WHERE o_custkey % 50 != o_orderkey % 50),
         |verts AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges)),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |p0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts),
         |$steps
         |SELECT id, round(rank, 6) AS rank FROM p10 ORDER BY id""".stripMargin
    }),

    Q("q59_kmeans", (s, dir) => {
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          array_to_vector(col("embedding").cast("array<double>")).as("features"))
      val model = Models.kmeans(emb, "features", k = 8)
      model.transform(emb)
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
        .orderBy(col("prediction"))
    }, None),

    // fully deterministic (cosine desc / neighbor_id asc top-k, then
    // votes desc / label asc arg-max) → exact SQL oracle
    Q("q60_knn", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      KNN.classify(emb, emb.filter(col("vec_id") < 50), "vec_id",
          "embedding", "label", k = 5)
        .orderBy(col("vec_id"))
    },
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id < 50),
             |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |   c.label AS lbl,
             |   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |     CAST(c.embedding AS DOUBLE[])) AS cos
             |  FROM q, embeddings c),
             |r AS (SELECT query_id, lbl, row_number() OVER (
             |   PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
             |  FROM s),
             |v AS (SELECT query_id, lbl, count(*) AS votes FROM r
             |  WHERE rnk <= 5 GROUP BY query_id, lbl),
             |p AS (SELECT query_id, lbl, row_number() OVER (
             |   PARTITION BY query_id ORDER BY votes DESC, lbl) AS rn FROM v)
             |SELECT query_id AS vec_id, lbl AS prediction FROM p
             |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // Oracled by Apriori enumeration in SQL up to 3-itemsets. Sound
    // because of the Apriori property: every k-itemset's (k-1)-subsets
    // must be frequent, so if the SQL's 3-itemset level is empty there
    // are provably no larger frequent itemsets to miss — and if data
    // ever produced one, the row-count mismatch fails LOUDLY.
    Q("q61_fpgrowth", (s, dir) => {
      val txns = t(s, dir, "part")
        .select(array_distinct(split(col("p_name"), " ")).as("items"))
      val model = Models.fpGrowth(txns, "items", minSupport = 0.05,
        minConfidence = 0.3)
      model.freqItemsets
        .select(concat_ws(",", array_sort(col("items"))).as("itemset"),
          col("freq"))
        .orderBy(col("itemset"))
    },
      Some("""WITH tx AS (SELECT row_number() OVER () AS tid,
             |   list_distinct(string_split(p_name, ' ')) AS items FROM part),
             |n AS (SELECT ceil(0.05 * count(*)) AS minc FROM tx),
             |t1 AS (SELECT tid, unnest(items) AS a FROM tx),
             |f1 AS (SELECT a, count(*) AS freq FROM t1 GROUP BY a
             |  HAVING count(*) >= (SELECT minc FROM n)),
             |p2 AS (SELECT x.tid, x.a AS a, y.a AS b FROM t1 x
             |  JOIN t1 y ON x.tid = y.tid AND x.a < y.a
             |  WHERE x.a IN (SELECT a FROM f1) AND y.a IN (SELECT a FROM f1)),
             |f2 AS (SELECT a, b, count(*) AS freq FROM p2 GROUP BY a, b
             |  HAVING count(*) >= (SELECT minc FROM n)),
             |p3 AS (SELECT p.tid, p.a, p.b, z.a AS d FROM p2 p
             |  JOIN t1 z ON p.tid = z.tid AND z.a > p.b),
             |f3 AS (SELECT a, b, d, count(*) AS freq FROM p3
             |  GROUP BY a, b, d HAVING count(*) >= (SELECT minc FROM n))
             |SELECT itemset, freq FROM (
             |  SELECT a AS itemset, freq FROM f1
             |  UNION ALL SELECT a || ',' || b, freq FROM f2
             |  UNION ALL SELECT a || ',' || b || ',' || d, freq FROM f3)
             |ORDER BY itemset""".stripMargin)),

    // x100 scaling: embedding components live in ~[-0.4, 0.4]; x10
    // packed all points within eps of each other (a near-complete
    // eps-graph = quadratic edge set). x100 puts mean eps-neighborhood
    // around 10 points — the regime DBSCAN is for.
    // DBSCAN is deterministic given the data (clusters = connected
    // components of the eps-graph; labels = min core id; borders take
    // the min neighbor cluster), so it oracles exactly: the SQL
    // replicates the float->double coordinate derivation bit-for-bit,
    // the quadratic eps-join (self-pairs included, as in the grid
    // join), and min-label components via a recursive closure.
    Q("q62_dbscan", (s, dir) => {
      val pts = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        (element_at(col("embedding"), 1) * 100).cast("double").as("x"),
        (element_at(col("embedding"), 2) * 100).cast("double").as("y"))
      DBSCAN.cluster(pts, "id", "x", "y", eps = 2.0, minPts = 4)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .orderBy(col("cluster"))
    },
      Some("""WITH pts AS (SELECT vec_id AS id,
             |   CAST(CAST(embedding[1] AS FLOAT) * CAST(100 AS FLOAT) AS DOUBLE) AS x,
             |   CAST(CAST(embedding[2] AS FLOAT) * CAST(100 AS FLOAT) AS DOUBLE) AS y
             |  FROM embeddings),
             |e AS (SELECT a.id AS id, b.id AS nid FROM pts a, pts b
             |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4.0),
             |deg AS (SELECT id, count(*) AS d FROM e GROUP BY id),
             |core AS (SELECT id FROM deg WHERE d >= 4),
             |ce AS (SELECT e.id, e.nid FROM e
             |  WHERE e.id IN (SELECT id FROM core)
             |    AND e.nid IN (SELECT id FROM core)),
             |reach AS (
             |  WITH RECURSIVE r(src, dst) AS (
             |    SELECT id, id FROM core
             |    UNION
             |    SELECT r.src, ce.nid FROM r JOIN ce ON r.dst = ce.id)
             |  SELECT * FROM r),
             |corelab AS (SELECT src AS id, min(dst) AS cluster
             |  FROM reach GROUP BY src),
             |border AS (SELECT e.id, min(cl.cluster) AS cluster
             |  FROM e JOIN corelab cl ON e.nid = cl.id GROUP BY e.id),
             |lab AS (SELECT id, min(cluster) AS cluster FROM
             |  (SELECT * FROM corelab UNION ALL SELECT * FROM border)
             |  GROUP BY id),
             |allpts AS (SELECT p.id, coalesce(l.cluster, -1) AS cluster
             |  FROM pts p LEFT JOIN lab l ON p.id = l.id)
             |SELECT cluster, count(*) AS n FROM allpts
             |GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // ===== §2.12 multimodal =============================================

    // REAL codec roundtrip, exactly oracled: each doc_id becomes a
    // genuine PNG (JDK ImageIO encode) whose dimensions are a known
    // function of the id; the decode stage reads the dimensions back
    // through the real javax.imageio path, and DuckDB verifies them
    // algebraically — the query is green only if encode→decode works.
    Q("q64_multimodal_decode", (s, dir) => {
      import org.apache.spark.sql.types._
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("content", BinaryType))))
      // r18 opt (guide §2.5/§8): repartition the 8-byte ids before
      // the heavy per-row encode+decode — the single-file scan gave
      // one task, serializing all the ImageIO work (see q235's note).
      val media = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val w = (16 + id % 32).toInt; val h = (16 + id % 16).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val out = new java.io.ByteArrayOutputStream()
            Multimodal.imageIoNoDiskCache // r18 opt: no temp-file cache
            javax.imageio.ImageIO.write(img, "png", out)
            org.apache.spark.sql.Row(id, out.toByteArray)
          }
        }(enc)
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("width"), col("height"),
          col("channels"))
        .orderBy(col("media_id"))
    },
      Some("""SELECT doc_id AS media_id,
             | CAST(16 + doc_id % 32 AS INT) AS width,
             | CAST(16 + doc_id % 16 AS INT) AS height,
             | CAST(3 AS INT) AS channels
             |FROM documents ORDER BY media_id""".stripMargin)),

    // the sampled-frame COUNT is an exact function of payload byte
    // length (ceil(ceil(bytes/1024)/2) for stride 2), so the batching
    // and stride plumbing oracles exactly; only the per-frame hash
    // value itself stays pinned in ScalaTest (JVM hash, no SQL
    // equivalent).
    Q("q65_frame_sample", (s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text",
        kind = "video")
      Multimodal.sampleFrames(media, stride = 2)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy(col("media_id"))
    },
      Some("""SELECT doc_id AS media_id,
             | CAST(ceil(ceil(octet_length(encode(text)) / 1024.0) / 2.0) AS BIGINT) AS n_frames
             |FROM documents WHERE octet_length(encode(text)) > 0
             |ORDER BY media_id""".stripMargin)),

    // ===== §2.10 structured streaming ===================================

    // runs an actual streaming query (file source → watermark →
    // windowed state → memory sink) to completion; result equals the
    // batch window aggregation, so it oracles like any other query.
    Q("q66_stream_window", (s, dir) => {
      val stream = EventStream.readStream(s, dir)
      val res = EventStream.runToMemory(
        EventStream.windowedAgg(stream, width = "1 hour"),
        "q66_mem",
        org.apache.spark.sql.streaming.OutputMode.Complete(),
        statePartitions = Some(8))
      res.select(col("w_start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"), round(col("sv"), 2).as("sv"))
        .orderBy(col("w_start"), col("event_type"))
    },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
             | event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // stream–stream interval join run as a REAL streaming query (two
    // file-source streams, watermark-bounded join state, append sink);
    // the DuckDB oracle is the equivalent batch interval join.
    Q("q72_stream_interval_join", (s, dir) => {
      val stream = EventStream.readStream(s, dir)
      val l = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("l_id"))
      val r = stream.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("ts_r"),
          col("event_id").as("r_id"))
      val res = EventStream.runToMemory(
        EventStream.intervalJoin(l, r, "user_id",
          before = "30 minutes", after = "30 minutes"),
        "q72_mem",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        statePartitions = Some(8))
      res.select(col("l_id"), col("r_id")).orderBy(col("l_id"), col("r_id"))
    },
      Some("""SELECT a.event_id AS l_id, b.event_id AS r_id
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND a.event_type = 'click' AND b.event_type = 'purchase'
             | AND b.ts >= a.ts - INTERVAL 30 MINUTE
             | AND b.ts <= a.ts + INTERVAL 30 MINUTE
             |ORDER BY l_id, r_id""".stripMargin)),

    // gap-merged session windows (native session_window); the oracle
    // is the classic gaps-and-islands SQL: a session breaks exactly
    // when the gap to the previous event reaches 30 minutes
    // (session_window's end bound is exclusive, hence >=).
    Q("q76_session_window", (s, dir) =>
      EventStream.sessionWindowAgg(events(s, dir), "user_id", "30 minutes")
        .select(col("s_start").cast("timestamp_ntz").as("s_start"),
          col("user_id"), col("n"), round(col("sv"), 2).as("sv"))
        .orderBy(col("user_id"), col("s_start")),
      Some("""WITH m AS (SELECT user_id, ts, value,
             |  CASE WHEN lag(ts) OVER w IS NULL
             |    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             |   THEN 1 ELSE 0 END AS brk
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |i AS (SELECT *, sum(brk) OVER (
             |   PARTITION BY user_id ORDER BY ts
             |   ROWS UNBOUNDED PRECEDING) AS sid FROM m)
             |SELECT CAST(min(ts) AS TIMESTAMP) AS s_start, user_id,
             | count(*) AS n, round(sum(value), 2) AS sv
             |FROM i GROUP BY user_id, sid
             |ORDER BY user_id, s_start""".stripMargin)),

    // ===== §2.3-ext as-of join ==========================================

    // enrich every event with its user's most recent signup at-or-
    // before the event; time axis is epoch-micros long (exact integer
    // ordering — int64-with-nulls degrades to float64 in the compare,
    // and micros stay inside float64's exact range where nanos would
    // not). Oracle is DuckDB's native ASOF JOIN.
    Q("q67_asof_join", (s, dir) => {
      val ev = EventStream.eventsRawMicros(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.backward(ev, signups, Seq("user_id"), "ts", "ts",
          payload = Seq("ts", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_ts").as("signup_ts"),
          col("asof_value").as("signup_value"))
        .orderBy(col("event_id"))
    },
      Some("""SELECT event_id, user_id, epoch_us(t2) AS signup_ts,
             | v2 AS signup_value
             |FROM events ASOF LEFT JOIN
             | (SELECT user_id AS u2, ts AS t2, value AS v2 FROM events
             |  WHERE event_type = 'signup') ON user_id = u2 AND ts >= t2
             |ORDER BY event_id""".stripMargin)),

    // ===== §2.2-ext melt / unpivot ======================================

    Q("q68_melt", (s, dir) =>
      d(s, dir, "lineitem")
        .melt(Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_discount"))
        .groupBy(Seq("variable")).agg(
          ("n", "count", "*"), ("avg_v", "mean", "value"))
        .selectExpression("avg_v = round(avg_v, 6)")
        .sort(Seq("variable")).toDF,
      Some("""SELECT variable, count(*) AS n, round(avg(value), 6) AS avg_v
             |FROM (
             | SELECT 'l_quantity' AS variable, l_quantity AS value FROM lineitem
             | UNION ALL
             | SELECT 'l_discount' AS variable, l_discount AS value FROM lineitem) t
             |GROUP BY variable ORDER BY variable""".stripMargin)),

    // ===== §2.8 scalar-function catalog (string / date) =================

    Q("q69_string_funcs", (s, dir) =>
      d(s, dir, "part")
        .selectExpression(
          "p_partkey",
          "up = upper(p_brand)",
          "head = substring(p_name, 1, 5)",
          "n_words = size(split(p_name, ' '))",
          "branded = concat(p_brand, ':', p_type)",
          "digit = regexp_extract(p_brand, '([0-9]+)', 1)")
        .select(Seq("p_partkey", "up", "head", "n_words", "branded", "digit"))
        .sort(Seq("p_partkey")).toDF,
      Some("""SELECT p_partkey, upper(p_brand) AS up,
             | substring(p_name, 1, 5) AS head,
             | CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
             | p_brand || ':' || p_type AS branded,
             | coalesce(regexp_extract(p_brand, '([0-9]+)', 1), '') AS digit
             |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("q70_date_funcs", (s, dir) =>
      d(s, dir, "orders")
        .selectExpression(
          "yr = year(o_orderdate)",
          "mo = month(o_orderdate)",
          "dow = dayofweek(o_orderdate)",
          "age_days = datediff(timestamp'2002-01-01', o_orderdate)")
        .groupBy(Seq("yr", "mo")).agg(
          ("n", "count", "*"),
          ("min_dow", "min", "dow"),
          ("avg_age", "mean", "age_days"))
        .selectExpression("avg_age = round(avg_age, 4)")
        .sort(Seq("yr", "mo")).toDF,
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
             | CAST(month(o_orderdate) AS INTEGER) AS mo,
             | count(*) AS n,
             | CAST(min(dayofweek(o_orderdate) + 1) AS INTEGER) AS min_dow,
             | round(avg(date_diff('day', CAST(o_orderdate AS DATE),
             |   DATE '2002-01-01')), 4) AS avg_age
             |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ===== §2.12 blocked jaccard + composite pipeline ===================

    // Exact Jaccard similarity join over ALL document pairs — no
    // caller blocking key and no LSH approximation. Co-occurrence
    // counting computes every pair's intersection in one token
    // self-join (arrays never shuffle), so the exhaustive DuckDB
    // oracle must match exactly. (Round 1 blocked on the
    // low-cardinality `source` column — O(m²) per block; this is
    // near-linear candidate generation AND strictly wider semantics.
    // At t=0.2 counting beats prefix filtering, whose prefixes cover
    // 81% of each doc — see Dedup scaladoc for the crossover.)
    Q("q71_jaccard_block", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.jaccardPairsExact(docs, "doc_id", "text",
          shingleLen = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some(s"""WITH sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM documents WHERE len(${sqlTokens("text")}) >= 3)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
              |FROM sh a, sh b
              |WHERE a.doc_id < b.doc_id
              |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
              |ORDER BY id_a, id_b""".stripMargin)),

    // the composite training-data pipeline: quality filter -> exact
    // dedup -> per-language token budget. Every stage oracled at once.
    Q("q73_pipeline_filter_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
      val deduped = Dedup.exact(docs, Seq("text"), "doc_id")
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).as("n_tokens"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH q AS (SELECT doc_id, lang, text,
              |  ${sqlQuality("text")} AS quality
              |FROM documents),
              |f AS (SELECT * FROM q WHERE quality >= 0.5),
              |d AS (SELECT min(doc_id) AS keep FROM f GROUP BY text)
              |SELECT lang, count(*) AS n_docs,
              | CAST(sum(len(${sqlTokens("f.text")})) AS BIGINT) AS n_tokens,
              | round(avg(quality), 4) AS avg_quality
              |FROM f JOIN d ON f.doc_id = d.keep
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // repetition filtering (Gopher-style) + within-doc line dedup
    // (C4-style): both pure column math, both replicated exactly in
    // SQL. The repetition ratio counts repeated word 3-grams; line
    // dedup keeps first occurrences in order.
    Q("q75_text_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TF.repetitionRatio(col("text"), 3), 6).as("rep3"),
          length(TF.lineDedup(col("text"))).as("dedup_len"),
          length(col("text")).as("raw_len"))
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, text,
              |  ${sqlTokens("text")} AS tk FROM documents),
              |s AS (SELECT doc_id, text, greatest(len(tk) - 2, 0) AS total,
              |  len(list_distinct(list_transform(
              |    range(1, greatest(len(tk) - 1, 1)),
              |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS dist
              | FROM t)
              |SELECT doc_id,
              | round(CASE WHEN total <= 0 THEN 0.0
              |   ELSE 1.0 - CAST(dist AS DOUBLE) / total END, 6) AS rep3,
              | CAST(length(array_to_string(list_distinct(string_split_regex(text, '\\r?\\n')), chr(10))) AS INT) AS dedup_len,
              | CAST(length(text) AS INT) AS raw_len
              |FROM s ORDER BY doc_id""".stripMargin)),

    // per-language token-budget selection — the data-mixing primitive:
    // greedily keep the highest-quality docs per language until each
    // language's token budget fills. Deterministic (quality desc,
    // doc_id asc) → exact cumulative-sum oracle.
    Q("q74_token_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
        .withColumn("n_tok", TF.tokenCount(col("text")))
      Budget.tokenBudgetSelect(docs, "lang", "doc_id", "quality", "n_tok",
          budget = 5000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          round(min(col("quality")), 4).as("min_quality"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH q AS (SELECT doc_id, lang,
              |  ${sqlQuality("text")} AS quality,
              |  len(${sqlTokens("text")}) AS n_tok
              |FROM documents),
              |c AS (SELECT *, sum(n_tok) OVER (
              |   PARTITION BY lang ORDER BY quality DESC, doc_id) AS cum
              |  FROM q)
              |SELECT lang, count(*) AS n_docs,
              | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              | round(min(quality), 4) AS min_quality
              |FROM c WHERE cum <= 5000 GROUP BY lang ORDER BY lang""".stripMargin)),

    // the SCALABLE token-budget path (sampled score cutoff → exact
    // window on the candidate prefix only — Budget.scala scaladoc for
    // the proof sketch): provably the SAME selection as q74's exact
    // window, so it shares q74's SQL oracle verbatim — the oracle
    // match IS the equivalence gate.
    Q("q77_token_budget_threshold", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
        .withColumn("n_tok", TF.tokenCount(col("text")))
      Budget.tokenBudgetSelectThreshold(docs, "lang", "doc_id", "quality",
          "n_tok", budget = 5000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          round(min(col("quality")), 4).as("min_quality"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH q AS (SELECT doc_id, lang,
              |  ${sqlQuality("text")} AS quality,
              |  len(${sqlTokens("text")}) AS n_tok
              |FROM documents),
              |c AS (SELECT *, sum(n_tok) OVER (
              |   PARTITION BY lang ORDER BY quality DESC, doc_id) AS cum
              |  FROM q)
              |SELECT lang, count(*) AS n_docs,
              | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              | round(min(quality), 4) AS min_quality
              |FROM c WHERE cum <= 5000 GROUP BY lang ORDER BY lang""".stripMargin)),

    // Benchmark decontamination: docs sharing >= 2 word-3-grams with
    // the "eval suite" (every 97th doc) are dropped. Eval-side shingle
    // set is broadcast; the plan never self-joins the corpus.
    // reference: none (DRIVER-EXT §2.12 — training-data pipeline op)
    Q("q78_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      Dedup.decontaminate(docs, evalSet, "doc_id", "text",
          shingleLen = 3, minOverlap = 2)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM documents WHERE len(${sqlTokens("text")}) >= 3),
              |ev AS (SELECT DISTINCT unnest(sh) AS tok FROM sh WHERE doc_id % 97 = 0),
              |hits AS (SELECT s.doc_id, count(*) AS n
              |  FROM (SELECT doc_id, unnest(sh) AS tok FROM sh) s
              |  JOIN ev USING (tok) GROUP BY s.doc_id),
              |bad AS (SELECT doc_id FROM hits WHERE n >= 2)
              |SELECT lang, count(*) AS n_kept FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // PII redaction: deterministic synthetic PII is appended per doc
    // (the synthetic corpus contains none), redacted by the shared
    // regexp_replace chain, and counted by placeholder type. The
    // oracle replicates the chain verbatim — patterns restricted to
    // Java-regex ∩ RE2 syntax for exactly this reason.
    // reference: none (DRIVER-EXT §2.12 — training-data pipeline op)
    Q("q79_pii_redact", (s, dir) => {
      val docs = t(s, dir, "documents")
      val salted = docs.withColumn("t2",
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@example.com or "), (col("doc_id") % 200 + 1).cast("string"),
          lit(".17.0.1 ssn 042-42-1234")))
      salted.withColumn("red", TF.redactPii(col("t2")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("red").contains("<EMAIL>"), 1L).otherwise(0L)).as("n_email"),
          sum(when(col("red").contains("<IPV4>"), 1L).otherwise(0L)).as("n_ipv4"),
          sum(when(col("red").contains("<SSN>"), 1L).otherwise(0L)).as("n_ssn"),
          sum(length(col("red"))).as("total_len"))
        .orderBy(col("lang"))
    },
      Some("""WITH salted AS (SELECT lang,
             |  text || ' contact user' || doc_id || '@example.com or '
             |    || CAST(doc_id % 200 + 1 AS VARCHAR) || '.17.0.1 ssn 042-42-1234' AS t2
             |  FROM documents),
             |red AS (SELECT lang, regexp_replace(regexp_replace(regexp_replace(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS red
             |  FROM salted)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN red LIKE '%<EMAIL>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
             |  CAST(sum(CASE WHEN red LIKE '%<IPV4>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_ipv4,
             |  CAST(sum(CASE WHEN red LIKE '%<SSN>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_ssn,
             |  CAST(sum(length(red)) AS BIGINT) AS total_len
             |FROM red GROUP BY lang ORDER BY lang""".stripMargin)),

    // Quality-aware near-dup dedup: keep each component's
    // HIGHEST-QUALITY doc, not its min id. Oracled end to end: the
    // minhash config matches q47's, where the gate already proves
    // candidate recall 1 vs exhaustive Jaccard on this fixture, so the
    // oracle recomputes pairs exhaustively, closes components with a
    // recursive CTE (the q62 pattern), and applies the same
    // argmax-quality/min-id policy.
    // reference: none (DRIVER-EXT §2.12 — training-data pipeline op)
    Q("q80_dedup_keep_best", (s, dir) => {
      val docs = docsWithDups(s, dir)
        .withColumn("quality", TF.qualityScore(col("text")))
      Dedup.minhashDedup(docs, "doc_id", "text", numHashes = 64,
          bands = 32, shingleLen = 3, threshold = 0.6,
          keepCol = "quality")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      Some(s"""WITH u AS ($docsWithDupsSql),
              |sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM u WHERE len(${sqlTokens("text")}) >= 3),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
              |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
              |e AS (SELECT id_a AS s, id_b AS d FROM p
              |  UNION SELECT id_b, id_a FROM p),
              |r AS (
              |  WITH RECURSIVE rr(src, dst) AS (
              |    SELECT s, s FROM (SELECT DISTINCT s FROM e)
              |    UNION
              |    SELECT rr.src, e.d FROM rr JOIN e ON rr.dst = e.s)
              |  SELECT * FROM rr),
              |comp AS (SELECT src AS id, min(dst) AS rep FROM r GROUP BY src),
              |q AS (SELECT doc_id, ${sqlQuality("text")} AS quality FROM u),
              |ranked AS (SELECT c.id,
              |    row_number() OVER (PARTITION BY c.rep
              |      ORDER BY q.quality DESC, c.id) AS rn
              |  FROM comp c JOIN q ON c.id = q.doc_id),
              |dropd AS (SELECT id FROM ranked WHERE rn > 1)
              |SELECT doc_id FROM u
              |WHERE doc_id NOT IN (SELECT id FROM dropd)
              |ORDER BY doc_id""".stripMargin)),

    // Weighted data mixing: a mixture recipe (per-language weights)
    // over one total token budget; strata missing from the recipe are
    // dropped. Per-stratum caps join in as a broadcast literal table.
    // reference: none (DRIVER-EXT §2.12 — training-data pipeline op)
    Q("q81_token_budget_weighted", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
        .withColumn("n_tok", TF.tokenCount(col("text")))
      Budget.tokenBudgetSelectWeighted(docs, "lang", "doc_id", "quality",
          "n_tok", totalBudget = 20000L,
          weights = Map("en" -> 0.5, "fr" -> 0.3, "de" -> 0.2))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          round(min(col("quality")), 4).as("min_quality"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH q AS (SELECT doc_id, lang,
              |  ${sqlQuality("text")} AS quality,
              |  len(${sqlTokens("text")}) AS n_tok
              |FROM documents),
              |b(lang, budget) AS (VALUES ('en', 10000), ('fr', 6000), ('de', 4000)),
              |c AS (SELECT q.*, b.budget, sum(n_tok) OVER (
              |   PARTITION BY q.lang ORDER BY quality DESC, doc_id) AS cum
              |  FROM q JOIN b ON q.lang = b.lang)
              |SELECT lang, count(*) AS n_docs,
              | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              | round(min(quality), 4) AS min_quality
              |FROM c WHERE cum <= budget GROUP BY lang ORDER BY lang""".stripMargin)),

    // Token-bounded chunking: sliding windows of 32 tokens advancing
    // by 24 (overlap 8). The oracle rebuilds every chunk string in
    // DuckDB (1-based inclusive list slice + join) and aggregates the
    // same stats — chunk CONTENT is verified via summed characters,
    // not just counts.
    // reference: none (DRIVER-EXT §2.12 — training-data pipeline op)
    Q("q82_chunk_documents", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("lang"),
          explode(TF.chunkTokens(col("text"), maxTokens = 32,
            overlap = 8)).as("chunk"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(TF.tokenCount(col("chunk"))).as("sum_chunk_tokens"),
          max(TF.tokenCount(col("chunk"))).as("max_chunk_tokens"),
          sum(length(col("chunk"))).as("sum_chunk_chars"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH tk AS (SELECT lang, ${sqlTokens("text")} AS t
              |  FROM documents),
              |ch AS (SELECT lang, len(t) AS n, t,
              |    unnest(range(0, greatest((len(t) - 8 - 1) // 24, 0) + 1)) AS i
              |  FROM tk WHERE len(t) > 0),
              |c2 AS (SELECT lang,
              |    least(i*24 + 32, n) - i*24 AS chunk_toks,
              |    array_to_string(t[i*24 + 1 : least(i*24 + 32, n)], ' ') AS chunk
              |  FROM ch)
              |SELECT lang, count(*) AS n_chunks,
              | CAST(sum(chunk_toks) AS BIGINT) AS sum_chunk_tokens,
              | CAST(max(chunk_toks) AS INT) AS max_chunk_tokens,
              | CAST(sum(length(chunk)) AS BIGINT) AS sum_chunk_chars
              |FROM c2 GROUP BY lang ORDER BY lang""".stripMargin)),

    // Corpus vocabulary (operators/Vocabulary): tokenizer-training /
    // stopword-heuristic prep. Two partial-aggregated groupBys; the
    // oracle rebuilds both stages from the shared tokenization.
    Q("q83_vocabulary", (s, dir) =>
      graft.operators.Vocabulary.vocabulary(t(s, dir, "documents"),
        "doc_id", "text", minCount = 5),
      Some(s"""WITH tok AS (SELECT doc_id,
              |    unnest(${sqlTokens("text")}) AS token FROM documents),
              |pd AS (SELECT doc_id, token, count(*) AS c
              |  FROM tok GROUP BY 1, 2)
              |SELECT token, CAST(sum(c) AS BIGINT) AS tok_count,
              | count(*) AS doc_freq
              |FROM pd GROUP BY token HAVING sum(c) >= 5
              |ORDER BY tok_count DESC, token""".stripMargin)),

    // URL-level dedup (Dedup.byCanonicalUrl over UrlFunctions
    // .normalizeUrl). URLs are DERIVED deterministically from existing
    // columns with every mess the canonicalizer handles — case, www,
    // default port, tracking params, unsorted params, fragments,
    // trailing slashes — spread across doc_id residues. The oracle
    // does NOT replay the regex chain: it states the intended
    // canonical form directly and dedups that, so the whole
    // normalization recipe is pinned end-to-end semantically.
    Q("q84_url_dedup", (s, dir) => {
      val withUrl = t(s, dir, "documents").withColumn("url", concat(
        when(col("doc_id") % 7 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("https://www.")),
        col("source"), lit(".example"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/d/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/?utm_source=feed&b=2&a=1"))
          .otherwise(lit("?b=2&a=1")),
        when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit(""))))
      graft.operators.Dedup.byCanonicalUrl(withUrl, "url", "doc_id")
        .select(col("doc_id"),
          graft.functions.UrlFunctions.normalizeUrl(col("url"))
            .as("canonical_url"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH u AS (SELECT doc_id,
             |   'https://' || source || '.example/d/' ||
             |   CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2' AS canonical_url
             | FROM documents),
             |r AS (SELECT doc_id, canonical_url, row_number()
             |   OVER (PARTITION BY canonical_url ORDER BY doc_id) AS rn
             | FROM u)
             |SELECT doc_id, canonical_url FROM r WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // Corpus-global span dedup (Dedup.dedupSpansGlobal): the C4 rule
    // at 8-token-span granularity. The oracle rebuilds spans with the
    // q82 slicing, picks winners by an encoded (doc_id, pos) min
    // (equivalent to the operator's struct min for non-negative ids
    // and pos < 1e6), and reassembles every surviving document.
    Q("q85_span_dedup", (s, dir) =>
      graft.operators.Dedup.dedupSpansGlobal(t(s, dir, "documents"),
          "doc_id", "text", spanTokens = 8)
        .select(col("doc_id"), col("text").as("text_dedup"))
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t
              |  FROM documents),
              |sp AS (SELECT doc_id, i AS pos,
              |    array_to_string(t[i*8 + 1 : least(i*8 + 8, len(t))], ' ') AS span
              |  FROM (SELECT doc_id, t,
              |      unnest(range(0, greatest((len(t) - 1) // 8, 0) + 1)) AS i
              |    FROM tk WHERE len(t) > 0)),
              |w AS (SELECT span, min(doc_id * 1000000 + pos) AS wkey
              |  FROM sp GROUP BY span),
              |k AS (SELECT sp.doc_id, sp.pos, sp.span FROM sp
              |  JOIN w ON sp.span = w.span
              |   AND sp.doc_id * 1000000 + sp.pos = w.wkey)
              |SELECT d.doc_id,
              | coalesce(string_agg(k.span, ' ' ORDER BY k.pos), '') AS text_dedup
              |FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
              |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // Temperature-resampled mixing (Budget.tokenBudgetSelectTemperature,
    // the mT5/XLM-R α-sampling recipe): weights ∝ tokens^α derived
    // FROM the data, then the q81 weighted selection. The oracle
    // derives the same weights in SQL (pow + normalize + floor — both
    // sides floor the per-stratum budget to whole tokens).
    Q("q86_temperature_mixing", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
        .withColumn("n_tok", TF.tokenCount(col("text")))
      Budget.tokenBudgetSelectTemperature(docs, "lang", "doc_id",
          "quality", "n_tok", totalBudget = 20000L, alpha = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH q AS (SELECT doc_id, lang,
              |  ${sqlQuality("text")} AS quality,
              |  len(${sqlTokens("text")}) AS n_tok FROM documents),
              |tot AS (SELECT lang, CAST(sum(n_tok) AS DOUBLE) AS t
              |  FROM q GROUP BY lang),
              |w AS (SELECT lang, pow(t, 0.5) AS pw FROM tot),
              |b AS (SELECT lang, CAST(floor(
              |    20000 * pw / (SELECT sum(pw) FROM w)) AS BIGINT) AS budget
              |  FROM w),
              |c AS (SELECT q.*, b.budget, sum(n_tok) OVER (
              |   PARTITION BY q.lang ORDER BY quality DESC, doc_id) AS cum
              |  FROM q JOIN b ON q.lang = b.lang)
              |SELECT lang, count(*) AS n_docs,
              | CAST(sum(n_tok) AS BIGINT) AS n_tokens
              |FROM c WHERE cum <= budget GROUP BY lang ORDER BY lang""".stripMargin)),

    // Corpus-trained add-k bigram LM scoring (operators/LanguageModel)
    // — the CCNet-style perplexity quality signal. The oracle retrains
    // the identical model in SQL: same bigram keys, same corpus
    // counts, same one-row vocabulary size, same add-k formula; both
    // sides round the order-sensitive float mean to 6 decimals.
    Q("q87_lm_perplexity", (s, dir) =>
      graft.operators.LanguageModel.bigramNll(
          t(s, dir, "documents"), "doc_id", "text", k = 0.5)
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t
              |  FROM documents),
              |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
              |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
              |    FROM tk WHERE len(t) >= 2)),
              |dbg AS (SELECT doc_id, bg, count(*) AS m FROM bg GROUP BY 1, 2),
              |cb AS (SELECT bg, sum(m) AS c12 FROM dbg GROUP BY bg),
              |cu AS (SELECT w, count(*) AS c1
              |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
              |v AS (SELECT count(*) AS v FROM cu),
              |sc AS (SELECT d.doc_id, d.m,
              |    -ln((cb.c12 + 0.5) / (cu.c1 + 0.5 * v.v)) AS nll
              |  FROM dbg d JOIN cb ON d.bg = cb.bg
              |  JOIN cu ON string_split(d.bg, ' ')[1] = cu.w, v)
              |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
              | round(sum(m * nll) / sum(m), 6) AS nll
              |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Deterministic content-hash split (DDF.hashSplit): membership is
    // a pure function of md5(id) — rerun-stable, unlike randomSplit.
    // Spark compares the first 8 hex chars numerically (conv base 16);
    // the oracle compares the same substring against the equivalent
    // hex literal lexicographically — identical on fixed-width
    // lowercase hex.
    Q("q88_hash_split", (s, dir) => {
      val (test, train) = d(s, dir, "documents").hashSplit("doc_id", 0.25)
      test.toDF.select(col("doc_id"), lit("test").as("split"))
        .union(train.toDF.select(col("doc_id"), lit("train").as("split")))
        .orderBy(col("doc_id"))
    },
      Some("""SELECT doc_id,
             | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
             |        < '40000000'
             |   THEN 'test' ELSE 'train' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Top-k per-document keywords by TF-IDF (Vocabulary.topKeywords).
    // Scores are rounded to 6 decimals BEFORE ranking on both sides,
    // so the window ordering itself is pinned (ties break on token).
    Q("q89_tfidf_keywords", (s, dir) =>
      graft.operators.Vocabulary.topKeywords(
          t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank")),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token
              |  FROM documents),
              |tf AS (SELECT doc_id, token, count(*) AS tf
              |  FROM tok GROUP BY 1, 2),
              |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
              |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
              |sc AS (SELECT tf.doc_id, tf.token,
              |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 6) AS score
              |  FROM tf JOIN dfq USING (token), n),
              |r AS (SELECT doc_id, token, score, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
              |  FROM sc)
              |SELECT doc_id, rank, token, score FROM r
              |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Stream–static enrichment join run as a REAL streaming query:
    // the events stream joins a batch-computed per-type dimension
    // (broadcast, stateless) and aggregates above-average counts.
    // The oracle is the equivalent batch join + aggregation.
    Q("q90_stream_enrich", (s, dir) => {
      val dim = events(s, dir).groupBy(col("event_type"))
        .agg(avg(col("value")).as("type_avg"))
      val stream = EventStream.readStream(s, dir)
      val res = EventStream.runToMemory(
        EventStream.enrich(stream, dim, "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") > col("type_avg"), 1L).otherwise(0L))
              .as("n_above")),
        "q90_mem",
        org.apache.spark.sql.streaming.OutputMode.Complete(),
        statePartitions = Some(8))
      res.orderBy(col("event_type"))
    },
      Some("""WITH dim AS (SELECT event_type, avg(value) AS type_avg
             |  FROM events GROUP BY 1)
             |SELECT e.event_type, count(*) AS n,
             | CAST(sum(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END)
             |   AS BIGINT) AS n_above
             |FROM events e JOIN dim d USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Stream–static exact screen (EventStream.screenAgainst, r7): a
    // REAL streaming query whose every micro-batch anti-joins a static
    // "already ingested" key set — the streaming face of q116. The
    // oracle is the batch null-safe NOT EXISTS over the same inputs.
    Q("q121_stream_screen", (s, dir) => {
      val seen = events(s, dir).filter(col("event_id") % 3 === 0)
        .select(col("event_id"))
      val stream = EventStream.readStream(s, dir)
      val res = EventStream.runToMemory(
        EventStream.screenAgainst(stream, seen, Seq("event_id"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv")),
        "q121_mem",
        org.apache.spark.sql.streaming.OutputMode.Complete(),
        statePartitions = Some(8))
      res.select(col("event_type"), col("n"),
          round(col("sv"), 2).as("sv"))
        .orderBy(col("event_type"))
    },
      Some(streamScreenOracleSql)),

    // The Bloom-digest stream screen in its EXACT-CONFIRM mode
    // (EventStream.screenAgainstBloomExact, r8): Bloom-negative rows
    // skip the anti join entirely; only the positive sliver pays the
    // exact confirm — the q109 decontaminateBloom pattern on the
    // stream path. Same oracle as q121 VERBATIM: the digest decides
    // which rows pay the join probe, never the answer. The probe is
    // the native might_contain expression (plan-pinned in the spec,
    // no closure UDF on the stream path).
    Q("q128_stream_screen_bloom", (s, dir) => {
      val seen = events(s, dir).filter(col("event_id") % 3 === 0)
        .select(col("event_id"))
      val stream = EventStream.readStream(s, dir)
      val res = EventStream.runToMemory(
        EventStream.screenAgainstBloomExact(stream, seen, "event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv")),
        "q128_mem",
        org.apache.spark.sql.streaming.OutputMode.Complete(),
        statePartitions = Some(8))
      res.select(col("event_type"), col("n"),
          round(col("sv"), 2).as("sv"))
        .orderBy(col("event_type"))
    },
      Some(streamScreenOracleSql)),

    // Persisted-digest stream screen (r10): the digest is SAVED from
    // half the seen keys and APPENDED with the other half (so the
    // catalog run exercises both faces and rides the append==rebuild
    // contract), then the stream screens against the on-disk digest
    // with exact confirm — row-identical to the exact screen, same
    // oracle SQL verbatim (the digest routes, never answers). The
    // corpus-scan-free production shape: stream starts read MBs of
    // digest, not the corpus.
    Q("q143_stream_screen_bloom_indexed", (s, dir) => {
      val seen = events(s, dir).filter(col("event_id") % 3 === 0)
        .select(col("event_id"))
      // fixed scratch location, cleared per invocation (the q160
      // no-leak discipline)
      val q143Root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q143_digest")
      def rmQ143(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmQ143)
        f.delete(): Unit
      }
      if (q143Root.exists()) rmQ143(q143Root)
      val digest = q143Root.toString + "/bloom"
      val firstHalf = seen.filter(col("event_id") % 2 === 0)
      val secondHalf = seen.filter(col("event_id") % 2 =!= 0)
      // save from one half (capacity sized for both), fold the other
      // in with append — the digest the stream screens against has
      // exercised BOTH persistence faces; append == rebuild is the
      // spec-pinned byte-identity contract
      graft.operators.BloomDigest.save(firstHalf, "event_id", 0.01,
        digest, capacity = seen.count())
      graft.operators.BloomDigest.append(s, digest,
        secondHalf, "event_id")
      val stream = EventStream.readStream(s, dir)
      val res = EventStream.runToMemory(
        EventStream.screenAgainstBloomIndexedExact(stream, seen,
            digest, "event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv")),
        "q143_mem",
        org.apache.spark.sql.streaming.OutputMode.Complete(),
        statePartitions = Some(8))
      res.select(col("event_type"), col("n"),
          round(col("sv"), 2).as("sv"))
        .orderBy(col("event_type"))
    },
      Some(streamScreenOracleSql)),

    // The full ADMISSION LOOP (Admission.admitBatch, r7) run TWICE
    // against durable temp state: cycle 1 ingests reversed-text
    // fresh docs; cycle 2 throws near-dups of cycle 1's ADMISSIONS
    // (drop only if the index fold happened), exact-text copies of
    // the corpus (near screen), and id replays (id screen) at it.
    // Fresh temp dirs per invocation so reruns are deterministic.
    // The result is the final corpus id set; the oracle replays both
    // cycles sequentially with exact shingle jaccard.
    Q("q122_admission_loop", (s, dir) => {
      val (base, b1, b2) = admissionFixture(s, dir)
      val (corpusDir, indexDir, _) = admissionState(base, dir)
      graft.streaming.Admission.admitBatch(b1, corpusDir, indexDir,
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6,
        dedupWithinBatch = false, batchId = 1L)
      graft.streaming.Admission.admitBatch(b2, corpusDir, indexDir,
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6,
        dedupWithinBatch = false, batchId = 2L)
      s.read.parquet(corpusDir).select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      Some(admissionOracleSql)),

    // q122 with the index persisted PARTITIONED (r8,
    // Dedup.indexWritePartitioned): admitBatch detects the layout and
    // folds each cycle IN PLACE, rewriting only the layout partitions
    // the batch touches — the last corpus-proportional write in the
    // loop made batch-bounded. Same oracle VERBATIM, the fifth
    // same-oracle/different-path proof of the admission family: the
    // storage layout decides the write cost, never the answer.
    Q("q129_admission_partitioned", (s, dir) => {
      val (base, b1, b2) = admissionFixture(s, dir)
      // numParts = 16 at the GATE (r13, VERDICT item 5): the
      // partitioned fold's semantics (dirty-partition selection,
      // clean partitions byte-identical) are exercised by ANY
      // multi-partition layout, and a 2k-row fixture under 128
      // partitions priced 128-task scans + 128-file dynamic
      // overwrites into every cycle — pure gate overhead, not plan
      // fat. Deployments size numParts to data (the knob is the
      // operator's parameter; DedupSpec pins update == rebuild
      // across layouts).
      val (corpusDir, indexDir, _) =
        admissionStateMemo("mh64x32p16", dir) { (c, i) =>
          base.write.mode("overwrite").parquet(c)
          Dedup.indexWritePartitioned(
            Dedup.minhashIndex(base, "doc_id", "text", numHashes = 64,
              bands = 32),
            i, numParts = 16)
        }
      graft.streaming.Admission.admitBatch(b1, corpusDir, indexDir,
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6,
        dedupWithinBatch = false, batchId = 1L)
      graft.streaming.Admission.admitBatch(b2, corpusDir, indexDir,
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6,
        dedupWithinBatch = false, batchId = 2L)
      s.read.parquet(corpusDir).select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      Some(admissionOracleSql)),

    // The STREAMING face of the same loop (Admission.admitStream, r7):
    // the two batches become two parquet files whose mtimes force the
    // micro-batch order under maxFilesPerTrigger=1, and foreachBatch
    // + checkpoint drive the identical screen→append→fold cycles —
    // gated against q122's oracle VERBATIM (the q109-vs-q78 pattern:
    // same answer through the production streaming path).
    Q("q123_admission_stream", (s, dir) => {
      val (base, b1, b2) = admissionFixture(s, dir)
      val (corpusDir, indexDir, tmp) = admissionState(base, dir)
      val inDir = tmp.resolve("in").toString
      def parts = new java.io.File(inDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSet
      b1.coalesce(1).write.mode("append").parquet(inDir)
      val firstFiles = parts
      b2.coalesce(1).write.mode("append").parquet(inDir)
      val t0 = 1700000000000L // fixed mtimes: file order is data, not clock
      firstFiles.foreach(f => f.setLastModified(t0))
      (parts -- firstFiles).foreach(f => f.setLastModified(t0 + 600000L))
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      graft.streaming.Admission.admitStream(stream, corpusDir, indexDir,
        tmp.resolve("ckpt").toString, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.6,
        dedupWithinBatch = false)
      s.read.parquet(corpusDir).select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      Some(admissionOracleSql)),

    // The EMBEDDING sibling of the admission loop (r7,
    // Admission.admitBatchEmbedding): same two-cycle proof in
    // cosine space — cycle 1 ingests NEGATED vectors (cosine -1 with
    // their originals, genuinely fresh); cycle 2 throws scaled copies
    // of cycle 1's admissions (cosine 1 — drop proves the embedding
    // index fold), scaled copies of corpus vectors (near screen), and
    // id replays (id screen). Oracle replays both cycles with exact
    // cosine.
    Q("q124_admission_embed", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .filter(col("vec_id") < 2000).select(col("vec_id"), col("embedding"))
      val (corpusDir, indexDir, _) =
        admissionStateMemo("emb64", dir) { (c, i) =>
          base.write.mode("overwrite").parquet(c)
          Dedup.embeddingIndex(base, "vec_id", "embedding", dim = 64)
            .write.mode("overwrite").parquet(i)
        }
      val b1 = base.filter(col("vec_id") < 100)
        .select((col("vec_id") + 30000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val b2 = b1.filter(col("vec_id") < 30050)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .union(base.filter(col("vec_id") < 50)
          .select((col("vec_id") + 20000).as("vec_id"),
            transform(col("embedding"), x => x * lit(3.0f)).as("embedding")))
        .union(base.filter(col("vec_id") < 30))
      graft.streaming.Admission.admitBatchEmbedding(b1, corpusDir,
        indexDir, "vec_id", "embedding", dim = 64, threshold = 0.95,
        dedupWithinBatch = false, batchId = 1L)
      graft.streaming.Admission.admitBatchEmbedding(b2, corpusDir,
        indexDir, "vec_id", "embedding", dim = 64, threshold = 0.95,
        dedupWithinBatch = false, batchId = 2L)
      s.read.parquet(corpusDir).select(col("vec_id"))
        .orderBy(col("vec_id"))
    },
      Some(admissionEmbedOracleSql)),

    // The embedding admission loop against a PARTITIONED persisted
    // index (r12, the q129-vs-q122 pattern in cosine space):
    // identical fixture and cycles as q124, with the index persisted
    // via Dedup.indexWritePartitioned so both cycles take the
    // embeddingIndexUpdatePartitioned dirty-partition fold —
    // previously spec-only (DedupSpec pins update == rebuild); now
    // the whole partitioned path is oracle-proven against q124's SQL
    // VERBATIM. Same answer, batch-bounded index writes.
    Q("q216_admission_embed_partitioned", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .filter(col("vec_id") < 2000).select(col("vec_id"), col("embedding"))
      // numParts = 16 at the gate — same rationale as q129 (r13)
      val (corpusDir, indexDir, _) =
        admissionStateMemo("emb64p16", dir) { (c, i) =>
          base.write.mode("overwrite").parquet(c)
          Dedup.indexWritePartitioned(
            Dedup.embeddingIndex(base, "vec_id", "embedding", dim = 64),
            i, numParts = 16)
        }
      val b1 = base.filter(col("vec_id") < 100)
        .select((col("vec_id") + 30000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val b2 = b1.filter(col("vec_id") < 30050)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .union(base.filter(col("vec_id") < 50)
          .select((col("vec_id") + 20000).as("vec_id"),
            transform(col("embedding"), x => x * lit(3.0f)).as("embedding")))
        .union(base.filter(col("vec_id") < 30))
      graft.streaming.Admission.admitBatchEmbedding(b1, corpusDir,
        indexDir, "vec_id", "embedding", dim = 64, threshold = 0.95,
        dedupWithinBatch = false, batchId = 1L)
      graft.streaming.Admission.admitBatchEmbedding(b2, corpusDir,
        indexDir, "vec_id", "embedding", dim = 64, threshold = 0.95,
        dedupWithinBatch = false, batchId = 2L)
      s.read.parquet(corpusDir).select(col("vec_id"))
        .orderBy(col("vec_id"))
    },
      Some(admissionEmbedOracleSql)),

    // Connected components (Dedup.connectedComponentMinLabel — the
    // machinery under every near-dup cluster merge), gated directly
    // for the first time: a deterministic functional graph over the
    // events user domain (u -> 7u mod 200), min-id component labels.
    // This small integral-id graph takes the DRIVER union-find path;
    // the oracle is a recursive-CTE reachability closure.
    Q("q125_connected_components", (s, dir) => {
      Dedup.connectedComponentMinLabel(ccEdges(s, dir))
        .orderBy(col("id"))
    },
      Some(ccOracleSql)),

    // The same graph forced down the DISTRIBUTED min-label +
    // pointer-jumping loop (driverThreshold = 0) against the same
    // oracle verbatim — both CC execution paths now oracle-proven
    // equal, not just spec-pinned.
    Q("q126_connected_components_dist", (s, dir) => {
      Dedup.connectedComponentMinLabel(ccEdges(s, dir),
          driverThreshold = 0L)
        .orderBy(col("id"))
    },
      Some(ccOracleSql)),

    // Cluster-size audit over the same graph (Dedup.clusterSizes —
    // the dedup report: how big are the duplicate clusters?); the
    // oracle aggregates the reachability closure.
    Q("q127_cc_cluster_sizes", (s, dir) => {
      Dedup.clusterSizes(ccEdges(s, dir)).orderBy(col("rep"))
    },
      Some(s"""WITH cc AS ($ccOracleSql)
              |SELECT rep, CAST(count(*) AS BIGINT) AS size
              |FROM cc GROUP BY rep ORDER BY rep""".stripMargin)),

    // Wide-format pivot (GroupedDDF.pivot, pairs with q68 melt).
    // Values supplied explicitly (the scale-correct form: fixed
    // schema, no distinct pre-pass); the oracle is the classic
    // CASE-WHEN conditional aggregation.
    Q("q91_pivot", (s, dir) =>
      d(s, dir, "lineitem").groupBy(Seq("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))(("qty", "sum", "l_quantity"))
        .toDF
        .select(col("l_returnflag"),
          round(col("F"), 2).as("qty_f"), round(col("O"), 2).as("qty_o"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             | round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
             | round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact group-wise quantiles (GroupedDDF "pNN" aggregates →
    // percentile, linear interpolation — the same definition as
    // DuckDB's quantile_cont, so values match to float noise and
    // round(4) absorbs that).
    Q("q92_group_quantiles", (s, dir) =>
      d(s, dir, "lineitem").groupBy(Seq("l_returnflag")).agg(
          ("p50_price", "p50", "l_extendedprice"),
          ("p95_price", "p95", "l_extendedprice"),
          ("med_qty", "median", "l_quantity"))
        .selectExpression(
          "p50_price = round(p50_price, 4)",
          "p95_price = round(p95_price, 4)",
          "med_qty = round(med_qty, 4)")
        .sort(Seq("l_returnflag")).toDF,
      Some("""SELECT l_returnflag,
             | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
             | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
             | round(quantile_cont(l_quantity, 0.5), 4) AS med_qty
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Domain-blocklist filter (operators/DomainFilter): hosts derived
    // deterministically from existing columns, with doc_id%4 rows on a
    // `cdn.` subdomain so the dot-suffix match is exercised. Like q84,
    // the oracle states the INTENDED surviving set directly (source
    // not blocked), pinning host extraction + suffix semantics
    // end-to-end rather than replaying the regex chain.
    Q("q93_domain_filter", (s, dir) => {
      import s.implicits._
      val withUrl = t(s, dir, "documents").withColumn("url",
        concat(lit("https://"),
          when(col("doc_id") % 4 === 0, lit("cdn.")).otherwise(lit("www.")),
          col("source"), lit(".example/p/"), col("doc_id").cast("string")))
      val blocked = Seq("src3.example", "SRC7.example").toDF("domain")
      graft.operators.DomainFilter.dropBlockedDomains(withUrl, "url", blocked)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      Some("""SELECT doc_id, source FROM documents
             |WHERE source NOT IN ('src3', 'src7')
             |ORDER BY doc_id""".stripMargin)),

    // k-fold assignment (DDF.withFold, the hashSplit hash family):
    // fold = md5-bucket mod k. DuckDB parses the same 8 hex chars via
    // CAST('0x…'), so the oracle replays the bucket arithmetic
    // exactly.
    Q("q94_kfold", (s, dir) =>
      d(s, dir, "documents").withFold("doc_id", 5).toDF
        .select(col("doc_id"), col("fold"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             | CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
             |     AS BIGINT) % 5 AS INT) AS fold
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Per-group row cap (Budget.capPerGroup — "at most n docs per
    // domain"): winners chosen by md5(id) order, so both engines rank
    // identically and the cap is rerun-stable.
    Q("q95_cap_per_group", (s, dir) =>
      Budget.capPerGroup(t(s, dir, "documents"),
          Seq("source"), "doc_id", maxPerGroup = 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some("""WITH r AS (SELECT doc_id, source, row_number() OVER (
             |    PARTITION BY source
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT doc_id, source FROM r WHERE rn <= 10
             |ORDER BY doc_id""".stripMargin)),

    // Column profiler (operators/Profile): one scan, one aggregation,
    // stacked to long format. The oracle is the per-column UNION ALL
    // census.
    Q("q96_profile", (s, dir) =>
      graft.operators.Profile.profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_orderstatus", "o_orderdate",
            "o_orderpriority"))
        .orderBy(col("col_name")),
      Some(Seq("o_orderkey", "o_orderstatus", "o_orderdate",
          "o_orderpriority").map { c =>
          s"""SELECT '$c' AS col_name,
             | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             | count(DISTINCT $c) AS n_distinct,
             | CAST(min($c) AS VARCHAR) AS min_val,
             | CAST(max($c) AS VARCHAR) AS max_val
             |FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    // Exact quantile discretizer (DDF.ntileBucket): per-group ntile
    // with pinned tie-break; both engines share the ntile definition
    // (equal-size buckets, earlier buckets one row larger). Output is
    // the per-bucket census (count + value range) — it pins every
    // row's assignment without shipping 60k rows.
    Q("q97_ntile_discretizer", (s, dir) =>
      d(s, dir, "lineitem")
        .ntileBucket("l_extendedprice", 4, out = "bucket",
          partitionBy = Seq("l_returnflag"),
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .toDF
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .orderBy(col("l_returnflag"), col("bucket")),
      Some("""WITH b AS (SELECT l_returnflag, l_extendedprice,
             |   ntile(4) OVER (PARTITION BY l_returnflag
             |     ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
             | FROM lineitem)
             |SELECT l_returnflag, bucket, count(*) AS n,
             | round(min(l_extendedprice), 2) AS lo,
             | round(max(l_extendedprice), 2) AS hi
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Global exact ntile (DDF.ntileGlobal, r6): the empty-partitionBy
    // discretizer path — 2-pass range-partitioned rank instead of a
    // one-task total-sort window. The oracle runs DuckDB's GLOBAL
    // ntile window over the same pinned total order, so the census
    // proves the distributed rank reproduces the single-sort answer
    // bucket for bucket.
    Q("q114_ntile_global", (s, dir) =>
      d(s, dir, "lineitem")
        .ntileBucket("l_extendedprice", 8, out = "bucket",
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .toDF
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .orderBy(col("bucket")),
      Some("""WITH b AS (SELECT l_extendedprice,
             |   ntile(8) OVER (
             |     ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
             | FROM lineitem)
             |SELECT bucket, count(*) AS n,
             | round(min(l_extendedprice), 2) AS lo,
             | round(max(l_extendedprice), 2) AS hi
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Rolling-frame window aggregate (rows-between moving average) —
    // the remaining frame shape the window family (q29 rank / q30 lag
    // / q31 running) didn't cover.
    Q("q98_moving_avg", (s, dir) => {
      val ev = events(s, dir).filter(col("user_id") < 10)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      ev.withColumn("mavg", round(avg(col("value")).over(w), 4))
        .select(col("user_id"), col("event_id"), col("mavg"))
        .orderBy(col("user_id"), col("event_id"))
    },
      Some("""SELECT user_id, event_id,
             | round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
             |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
             |FROM events WHERE user_id < 10
             |ORDER BY user_id, event_id""".stripMargin)),

    // TPC-H Q5-shaped 6-table pipeline through the DDF join surface:
    // Catalyst broadcasts region/nation/supplier under the default
    // 10 MB threshold and reorders the fact joins; the same-nation
    // constraint is a post-join filter Catalyst folds into the join
    // condition. Revenue is summed as DECIMAL for oracle exactness
    // (q01 pattern).
    Q("q99_tpch_q5_shape", (s, dir) =>
      d(s, dir, "customer")
        .join(d(s, dir, "orders")
            .filter("o_orderdate >= '1996-01-01' and o_orderdate < '1997-01-01'"),
          Seq("c_custkey"), Seq("o_custkey"))
        .join(d(s, dir, "lineitem"), Seq("o_orderkey"), Seq("l_orderkey"))
        .join(d(s, dir, "supplier"), Seq("l_suppkey"), Seq("s_suppkey"))
        .filter("c_nationkey == s_nationkey")
        .join(d(s, dir, "nation"), Seq("s_nationkey"), Seq("n_nationkey"))
        .join(d(s, dir, "region"), Seq("n_regionkey"), Seq("r_regionkey"))
        .filter("r_name == 'ASIA'")
        .selectExpression(
          "revenue = cast(l_extendedprice * (1 - l_discount) as decimal(30,6))")
        .groupBy(Seq("n_name")).agg(("revenue", "sum", "revenue"))
        .selectExpression("revenue = cast(revenue as double)")
        .sort(Seq("n_name")).toDF,
      Some("""SELECT n_name,
             | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
             | AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // TPC-H Q3-shaped top-k: selective dim filter -> two fact joins ->
    // group -> top-10 by the EXACT decimal revenue (ties broken by
    // key), cast to double only for output.
    Q("q100_tpch_q3_shape", (s, dir) =>
      d(s, dir, "customer").filter("c_mktsegment == 'BUILDING'")
        .join(d(s, dir, "orders").filter("o_orderdate < '1998-06-01'"),
          Seq("c_custkey"), Seq("o_custkey"))
        .join(d(s, dir, "lineitem").filter("l_shipdate > '1998-06-01'"),
          Seq("o_orderkey"), Seq("l_orderkey"))
        .selectExpression(
          "revenue = cast(l_extendedprice * (1 - l_discount) as decimal(30,6))")
        .groupBy(Seq("o_orderkey", "o_orderdate"))
        .agg(("revenue", "sum", "revenue"))
        .sort(Seq("revenue", "o_orderkey"), Seq(false, true))
        .take(10)
        .selectExpression("revenue = cast(revenue as double)")
        .cast("o_orderdate", "string").rename("o_orderdate", "odate")
        .select(Seq("o_orderkey", "odate", "revenue")).toDF,
      Some("""WITH a AS (SELECT o_orderkey, o_orderdate,
             |   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS rev
             | FROM customer
             | JOIN orders ON c_custkey = o_custkey
             | JOIN lineitem ON o_orderkey = l_orderkey
             | WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < '1998-06-01' AND l_shipdate > '1998-06-01'
             | GROUP BY 1, 2)
             |SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS odate,
             | CAST(rev AS DOUBLE) AS revenue
             |FROM a ORDER BY rev DESC, o_orderkey LIMIT 10""".stripMargin)),

    // Forward as-of join (AsOfJoin.forward, q67's mirror direction):
    // each event picks the EARLIEST signup at-or-after it. DuckDB's
    // ASOF JOIN takes the reversed inequality directly.
    Q("q101_asof_forward", (s, dir) => {
      val ev = EventStream.eventsRawMicros(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.forward(ev, signups, Seq("user_id"), "ts", "ts",
          payload = Seq("ts", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_ts").as("next_signup_ts"),
          col("asof_value").as("next_signup_value"))
        .orderBy(col("event_id"))
    },
      Some("""SELECT event_id, user_id, epoch_us(t2) AS next_signup_ts,
             | v2 AS next_signup_value
             |FROM events ASOF LEFT JOIN
             | (SELECT user_id AS u2, ts AS t2, value AS v2 FROM events
             |  WHERE event_type = 'signup') ON user_id = u2 AND ts <= t2
             |ORDER BY event_id""".stripMargin)),

    // Per-group z-score normalization (DDF.zscore): window mean/stddev,
    // rounded on both sides (the window's float sum order differs
    // between engines far below 1e-4).
    Q("q102_group_zscore", (s, dir) =>
      DDF(events(s, dir).filter(col("user_id") < 10))
        .zscore("value", by = Seq("event_type"), out = "z")
        .selectExpression("z = round(z, 4)")
        .select(Seq("event_id", "event_type", "z"))
        .sort(Seq("event_id")).toDF,
      Some("""SELECT event_id, event_type,
             | round((value - avg(value) OVER (PARTITION BY event_type))
             |   / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS z
             |FROM events WHERE user_id < 10
             |ORDER BY event_id""".stripMargin)),

    // Tukey-fence outlier trim (DDF.iqrFilter): per-group exact
    // quartile fences; output is the per-group surviving census.
    Q("q103_iqr_filter", (s, dir) =>
      d(s, dir, "lineitem")
        .iqrFilter("l_extendedprice", by = Seq("l_returnflag"), k = 1.5)
        .toDF
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .orderBy(col("l_returnflag")),
      Some("""WITH f AS (SELECT l_returnflag,
             |   quantile_cont(l_extendedprice, 0.25) AS q1,
             |   quantile_cont(l_extendedprice, 0.75) AS q3
             | FROM lineitem GROUP BY 1)
             |SELECT l.l_returnflag, count(*) AS n,
             | round(min(l_extendedprice), 2) AS lo,
             | round(max(l_extendedprice), 2) AS hi
             |FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
             |WHERE l_extendedprice >= q1 - 1.5 * (q3 - q1)
             |  AND l_extendedprice <= q3 + 1.5 * (q3 - q1)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Semantic centroid filter (Similarity.centroidFilter, the
    // SemDeDup-adjacent stratum trim): cosine to the per-label mean
    // embedding, keep cos >= 0. The oracle rebuilds centroids via
    // ordered list aggregation and scores with list_cosine_similarity
    // over the same double-cast vectors; per-label counts + avg
    // round(4) absorb the engines' summation-order noise.
    Q("q104_centroid_filter", (s, dir) =>
      graft.operators.Similarity.centroidFilter(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label",
          minCosine = 0.0)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("centroid_cosine")), 4).as("avg_cos"))
        .orderBy(col("label")),
      Some("""WITH ix AS (SELECT vec_id, label, embedding,
             |   unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
             |p AS (SELECT vec_id, label, i,
             |   CAST(embedding[i] AS DOUBLE) AS v FROM ix),
             |c AS (SELECT label, i, avg(v) AS cv FROM p GROUP BY 1, 2),
             |cv AS (SELECT label, list(cv ORDER BY i) AS cvec
             |  FROM c GROUP BY label),
             |s AS (SELECT e.vec_id, e.label,
             |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |     cv.cvec) AS cos
             |  FROM embeddings e JOIN cv ON e.label = cv.label)
             |SELECT label, count(*) AS n_kept, round(avg(cos), 4) AS avg_cos
             |FROM s WHERE cos >= 0.0 GROUP BY label ORDER BY label""".stripMargin)),

    // Sequence packing (Budget.packSequences): per-lang token-offset
    // bins of 4096 — the training-batch layout step. Output is the
    // per-bin census; the oracle replays the cumsum bin rule.
    Q("q105_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", TF.tokenCount(col("text")))
      Budget.packSequences(docs, "lang", "doc_id", "n_tok",
          maxTokens = 4096L)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("bin_tokens"),
          min(col("bin_offset")).as("first_offset"))
        .orderBy(col("lang"), col("bin"))
    },
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |   len(${sqlTokens("text")}) AS n_tok FROM documents),
              |c AS (SELECT doc_id, lang, n_tok,
              |   coalesce(sum(n_tok) OVER (PARTITION BY lang
              |     ORDER BY doc_id) - n_tok, 0) AS cum_before
              |  FROM d)
              |SELECT lang, CAST(cum_before // 4096 AS BIGINT) AS bin,
              | count(*) AS n_docs,
              | CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
              | CAST(min(cum_before % 4096) AS BIGINT) AS first_offset
              |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Exact edit-distance join (Dedup.editDistancePairs, FastSS
    // deletion-neighborhood candidates): customer names differ by one
    // digit all over the key space, so the ≤1 pair set is dense. The
    // oracle is the exhaustive levenshtein cross join — candidates
    // are provably complete, so the sets must match exactly.
    Q("q106_edit_distance", (s, dir) =>
      graft.operators.Dedup.editDistancePairs(
          t(s, dir, "customer").filter(col("c_custkey") < 300),
          "c_custkey", "c_name", maxDist = 1)
        .orderBy(col("id_a"), col("id_b")),
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             | CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
             |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
             |WHERE a.c_custkey < 300 AND b.c_custkey < 300
             | AND levenshtein(a.c_name, b.c_name) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),

    // Flagship composition: the WHOLE training-data pipeline — quality
    // gate → exact dedup → benchmark decontamination → per-domain cap
    // → per-language token budget → sequence packing — oracled END TO
    // END in one SQL chain (each CTE is the unit oracle of its stage:
    // q43/q46/q78/q95/q74/q105). Every stage is deterministic, so
    // the composition must match exactly, not just per-stage.
    Q("q107_training_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
        .withColumn("n_tok", TF.tokenCount(col("text")))
      val filtered = docs.filter(col("quality") >= 0.5)
      val deduped = Dedup.exact(filtered, Seq("text"), "doc_id")
      val evalSet = t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
      val clean = Dedup.decontaminate(deduped, evalSet, "doc_id", "text",
        shingleLen = 3, minOverlap = 2)
      val capped = Budget.capPerGroup(clean, Seq("source"), "doc_id", 20)
      val selected = Budget.tokenBudgetSelect(capped, "lang", "doc_id",
        "quality", "n_tok", budget = 5000L)
      Budget.packSequences(selected, "lang", "doc_id", "n_tok", 2048L)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
        .orderBy(col("lang"), col("bin"))
    },
      Some(s"""WITH q AS (SELECT doc_id, source, lang, text,
              |   ${sqlQuality("text")} AS quality,
              |   len(${sqlTokens("text")}) AS n_tok FROM documents),
              |f AS (SELECT * FROM q WHERE quality >= 0.5),
              |dd AS (SELECT f.* FROM f JOIN (SELECT text, min(doc_id) AS k
              |    FROM f GROUP BY text) m ON f.doc_id = m.k),
              |sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM dd WHERE len(${sqlTokens("text")}) >= 3),
              |ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2]))) AS tok
              |  FROM documents WHERE doc_id % 97 = 0
              |   AND len(${sqlTokens("text")}) >= 3),
              |bad AS (SELECT s.doc_id FROM
              |   (SELECT doc_id, unnest(sh) AS tok FROM sh) s
              |  JOIN ev USING (tok) GROUP BY s.doc_id HAVING count(*) >= 2),
              |cl AS (SELECT * FROM dd
              |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
              |cap AS (SELECT * FROM (SELECT cl.*, row_number() OVER (
              |    PARTITION BY source
              |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              |   FROM cl) WHERE rn <= 20),
              |sel AS (SELECT * FROM (SELECT cap.*, sum(n_tok) OVER (
              |    PARTITION BY lang ORDER BY quality DESC, doc_id) AS cum
              |   FROM cap) WHERE cum <= 5000),
              |pk AS (SELECT lang, doc_id, n_tok,
              |   coalesce(sum(n_tok) OVER (PARTITION BY lang
              |     ORDER BY doc_id) - n_tok, 0) AS cumb FROM sel)
              |SELECT lang, CAST(cumb // 2048 AS BIGINT) AS bin,
              | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
              |FROM pk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // BM25 ranked retrieval (Search.bm25): top-k documents for a
    // free-text query, Lucene idf variant, k1=1.2 b=0.75. Scores
    // rounded to 6 decimals BEFORE ranking on both sides so the
    // ordering is pinned (ties break on doc_id). 'dup' is the rare
    // discriminating term (df≈5% of docs) — idf actually matters.
    Q("q108_bm25_search", (s, dir) =>
      graft.operators.Search.bm25(
        t(s, dir, "documents"), "doc_id", "text", "dup spark vector", 10),
      Some(s"""WITH base AS (SELECT doc_id, ${sqlTokens("text")} AS toks
              |  FROM documents),
              |stats AS (SELECT count(*) AS n,
              |   avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM base),
              |d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
              |   unnest(toks) AS term FROM base),
              |tf AS (SELECT doc_id, dl, term,
              |   CAST(count(*) AS DOUBLE) AS tf FROM d
              |  WHERE term IN ('dup', 'spark', 'vector') GROUP BY 1, 2, 3),
              |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
              |  FROM tf GROUP BY 1),
              |sc AS (SELECT tf.doc_id,
              |   ln(1 + (n - df + 0.5) / (df + 0.5))
              |     * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
              |  FROM tf JOIN dfq USING (term), stats)
              |SELECT doc_id, round(sum(s), 6) AS score FROM sc
              |GROUP BY 1 ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // Bloom-prefiltered decontamination (Dedup.decontaminateBloom,
    // confirmExact=true): the scale path for an eval set too big to
    // broadcast exactly. Exact confirmation makes the selection
    // IDENTICAL to q78's — the oracle is q78's verbatim, so the gate
    // itself proves the Bloom path changes cost, not answers.
    Q("q109_decontaminate_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      Dedup.decontaminateBloom(docs, evalSet, "doc_id", "text",
          shingleLen = 3, minOverlap = 2)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM documents WHERE len(${sqlTokens("text")}) >= 3),
              |ev AS (SELECT DISTINCT unnest(sh) AS tok FROM sh WHERE doc_id % 97 = 0),
              |hits AS (SELECT s.doc_id, count(*) AS n
              |  FROM (SELECT doc_id, unnest(sh) AS tok FROM sh) s
              |  JOIN ev USING (tok) GROUP BY s.doc_id),
              |bad AS (SELECT doc_id FROM hits WHERE n >= 2)
              |SELECT lang, count(*) AS n_kept FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Batch BM25 (Search.bm25Batch): top-3 docs for EACH query of a
    // query table in one job — tf/df computed once per (doc, term)/
    // term, fanned out to queries by a broadcast term join, per-query
    // window top-k. The literal query table is mirrored as a VALUES
    // CTE; scores rounded before ranking (ties -> doc_id asc).
    Q("q110_bm25_batch", (s, dir) => {
      import s.implicits._
      val queries = Seq((1L, "dup spark"), (2L, "vector join table"),
        (3L, "the fast key")).toDF("qid", "qtext")
      graft.operators.Search.bm25Batch(
          t(s, dir, "documents"), "doc_id", "text",
          queries, "qid", "qtext", k = 3)
        .orderBy(col("qid"), col("rank"))
    },
      Some(s"""WITH q(qid, qtext) AS (VALUES (1, 'dup spark'),
              |   (2, 'vector join table'), (3, 'the fast key')),
              |qt AS (SELECT DISTINCT qid, unnest(${sqlTokens("qtext")}) AS term FROM q),
              |base AS (SELECT doc_id, ${sqlTokens("text")} AS toks
              |  FROM documents),
              |stats AS (SELECT count(*) AS n,
              |   avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM base),
              |d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
              |   unnest(toks) AS term FROM base),
              |tf AS (SELECT doc_id, dl, term,
              |   CAST(count(*) AS DOUBLE) AS tf FROM d
              |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
              |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
              |  FROM tf GROUP BY 1),
              |sc AS (SELECT qt.qid, tf.doc_id,
              |   round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
              |     * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
              |     AS score
              |  FROM tf JOIN dfq USING (term) JOIN qt USING (term), stats
              |  GROUP BY 1, 2),
              |r AS (SELECT qid, doc_id, score, row_number() OVER (
              |   PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
              |  FROM sc)
              |SELECT qid, rank, doc_id, score FROM r WHERE rank <= 3
              |ORDER BY qid, rank""".stripMargin)),

    // Batch range join (RangeJoin.pointInInterval): customers whose
    // balance falls in [s_acctbal, s_acctbal+500] per supplier — a
    // pure inequality join, rewritten to a bucket equi-join (width =
    // interval width, so each interval spans <= 2 buckets) instead of
    // the nested-loop Catalyst would plan. Oracle states the interval
    // semantics directly with BETWEEN.
    Q("q111_range_join", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_acctbal"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"),
        col("s_acctbal").as("lo"), (col("s_acctbal") + 500).as("hi"))
      graft.operators.RangeJoin
        .pointInInterval(cust, "c_acctbal", sup, "lo", "hi", 500.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_cust"),
          round(avg(col("c_acctbal").cast("double")), 2).as("avg_bal"))
        .orderBy(col("s_suppkey"))
    },
      Some("""SELECT s_suppkey, count(*) AS n_cust,
             | round(avg(CAST(c_acctbal AS DOUBLE)), 2) AS avg_bal
             |FROM customer c JOIN supplier s
             | ON c.c_acctbal BETWEEN s.s_acctbal AND s.s_acctbal + 500
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-group winsorization (DDF.winsorize): clip to the group's
    // [p05, p95] band — same exact-percentile machinery as q103's
    // fences but preserving row count. Census of the clipped column.
    Q("q112_winsorize", (s, dir) =>
      d(s, dir, "lineitem")
        .winsorize("l_extendedprice", by = Seq("l_returnflag"),
          pLo = 0.05, pHi = 0.95, out = "w")
        .toDF
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(min(col("w")), 2).as("lo"),
          round(max(col("w")), 2).as("hi"),
          round(avg(col("w")), 2).as("avg_w"))
        .orderBy(col("l_returnflag")),
      Some("""WITH f AS (SELECT l_returnflag,
             |   quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS plo,
             |   quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS phi
             | FROM lineitem GROUP BY 1),
             |c AS (SELECT l.l_returnflag,
             |   least(greatest(CAST(l_extendedprice AS DOUBLE), plo), phi) AS w
             | FROM lineitem l JOIN f USING (l_returnflag))
             |SELECT l_returnflag, count(*) AS n,
             | round(min(w), 2) AS lo, round(max(w), 2) AS hi,
             | round(avg(w), 2) AS avg_w
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Linear text-classifier scoring (Classifier.linearTextScore):
    // fastText-shaped serving of a (token, weight) table — sigmoid of
    // the mean token weight. The literal weights table is mirrored as
    // a VALUES CTE; per-lang census of docs above the 0.5 cut plus
    // the rounded mean score pins every document's value.
    Q("q113_classifier_score", (s, dir) => {
      import s.implicits._
      val weights = Seq(("spark", 2.0), ("fast", 1.0), ("slow", -1.5),
        ("dup", -3.0)).toDF("token", "weight")
      graft.operators.Classifier.linearTextScore(
          t(s, dir, "documents"), "doc_id", "text", weights, bias = 0.1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_keep"),
          round(avg(col("score")), 6).as("avg_score"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH w(token, wt) AS (VALUES ('spark', 2.0), ('fast', 1.0),
              |   ('slow', -1.5), ('dup', -3.0)),
              |tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token
              |  FROM documents),
              |r AS (SELECT doc_id,
              |   sum(coalesce(wt, 0)) / count(*) AS raw
              |  FROM tok LEFT JOIN w USING (token) GROUP BY 1),
              |s AS (SELECT d.lang,
              |   1 / (1 + exp(-(coalesce(raw, 0) + 0.1))) AS score
              |  FROM documents d LEFT JOIN r USING (doc_id))
              |SELECT lang, count(*) AS n_docs,
              | CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
              |   AS n_keep,
              | round(avg(score), 6) AS avg_score
              |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BPE subword tokenizer, trainer side (operators/Bpe.train, r8):
    // learn a merge table from the documents corpus. The trainer is
    // an iterative argmax loop (each merge depends on the table state
    // after all previous merges) — not ANSI-SQL-expressible, so
    // rows-only here; the real gate is BpeSpec's randomized equality
    // against a clean-room single-machine reimplementation, plus the
    // deterministic tie-break (freq desc, left asc, right asc) making
    // the sequence partition-independent (also spec-pinned). 60
    // merges at minFreq=2 converges well inside the synthetic vocab.
    Q("q130_bpe_train", (s, dir) => {
      Bpe.train(t(s, dir, "documents"), "text", numMerges = 60,
          minFreq = 2L)
        .orderBy(col("rank"))
    },
      None), // iterative trainer; clean-room equality pinned in BpeSpec

    // Encoder side (Bpe.encode / Bpe.tokenCount, r8): token counts in
    // LEARNED units over the same corpus the merges came from — the
    // budgeting signal sequence packing / token budgets would consume.
    // Rank-greedy encode == replay-in-rank-order is spec-pinned; the
    // aggregate here keeps the gate row set small and stable.
    Q("q131_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 60, minFreq = 2L)
      Bpe.tokenCount(docs, "text", merges)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bpe_count").cast("long")).as("bpe_tokens"),
          sum(TF.tokenCount(col("text")).cast("long")).as("ws_tokens"))
        .orderBy(col("lang"))
    },
      None), // encoder of an iteratively-trained table; pinned in BpeSpec

    // The SQL-expressible fragment of BPE training (Bpe.seedPairCounts
    // — the one corpus pass + the aggregation whose argmax is the
    // first merge), under the full oracle. train() rides the SAME
    // seedWords/pairCounts code by construction, so this gates the
    // trainer's corpus-pass semantics; only the iterative tail stays
    // spec-pinned (BpeSpec clean-room equality). Top-20 by
    // (f desc, l, r) — pairs are unique, so the cut is total-ordered
    // and deterministic.
    Q("q132_bpe_seed_pairs", (s, dir) =>
      Bpe.seedPairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(20)
        .select(col("l"), col("r"), col("f")),
      Some(s"""WITH wc AS (
              |  SELECT word, CAST(count(*) AS BIGINT) AS freq
              |  FROM (SELECT unnest(${sqlTokens("text")}) AS word
              |        FROM documents)
              |  GROUP BY word
              |), syms AS (
              |  SELECT list_append(regexp_extract_all(word, '.'), '</w>') AS s,
              |         freq
              |  FROM wc
              |), idx AS (
              |  SELECT s, freq,
              |         unnest(generate_series(1, len(s) - 1)) AS i
              |  FROM syms WHERE len(s) >= 2
              |)
              |SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS f
              |FROM idx GROUP BY 1, 2
              |ORDER BY f DESC, l, r LIMIT 20""".stripMargin)),

    // ===== §2.12-ext exact substring dedup (Lee et al. 2022) ============

    // Maximal duplicated-substring spans (SubstringDedup
    // .duplicateSpans): every ≥8-token run appearing twice anywhere in
    // the corpus, both copies flagged, overlapping anchors merged. The
    // docsWithDups fixture plants both cross-doc verbatim copies and
    // long shared prefixes. The gate runs hashKeys = false so DuckDB
    // can replay the key exactly (the hash scale path is pinned equal
    // on randomized corpora in SubstringDedupSpec).
    Q("q133_substring_spans", (s, dir) =>
      SubstringDedup.duplicateSpans(docsWithDups(s, dir), "doc_id",
          "text", k = 8, keepFirst = false, hashKeys = false)
        .orderBy(col("doc_id"), col("s")),
      Some(s"""WITH u AS ($docsWithDupsSql),
              |tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM u),
              |gr AS (SELECT doc_id, t,
              |    unnest(generate_series(1, len(t) - 7)) AS s
              |  FROM tk WHERE len(t) >= 8),
              |g2 AS (SELECT doc_id, s,
              |    array_to_string(t[s : s + 7], ' ') AS g FROM gr),
              |d AS (SELECT g FROM g2 GROUP BY g HAVING count(*) > 1),
              |cov AS (SELECT g2.doc_id, g2.s FROM g2 JOIN d USING (g)),
              |m AS (SELECT doc_id, s,
              |    CASE WHEN s > coalesce(max(s + 7) OVER (
              |        PARTITION BY doc_id ORDER BY s
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      -100) + 1 THEN 1 ELSE 0 END AS ni
              |  FROM cov),
              |i AS (SELECT doc_id, s,
              |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl
              |  FROM m)
              |SELECT doc_id, CAST(min(s) AS BIGINT) AS s,
              |  CAST(max(s) + 7 AS BIGINT) AS e
              |FROM i GROUP BY doc_id, isl ORDER BY doc_id, s""".stripMargin)),

    // The removal face (keep-first policy): all-but-one copy of every
    // duplicated ≥8-token run is cut, survivors re-join with single
    // spaces. The oracle replays winner selection (row_number over
    // (doc_id, s) per gram), island merge, and positional token
    // filtering.
    Q("q134_substring_removed", (s, dir) =>
      SubstringDedup.removeDuplicateSpans(docsWithDups(s, dir), "doc_id",
          "text", k = 8, keepFirst = true, hashKeys = false)
        .select(col("doc_id"), col("text_dedup"))
        .orderBy(col("doc_id")),
      Some(s"""WITH u AS ($docsWithDupsSql),
              |tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM u),
              |gr AS (SELECT doc_id, t,
              |    unnest(generate_series(1, len(t) - 7)) AS s
              |  FROM tk WHERE len(t) >= 8),
              |g2 AS (SELECT doc_id, s,
              |    array_to_string(t[s : s + 7], ' ') AS g FROM gr),
              |r AS (SELECT doc_id, s,
              |    count(*) OVER (PARTITION BY g) AS n,
              |    row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn
              |  FROM g2),
              |cov AS (SELECT doc_id, s FROM r WHERE n > 1 AND rn > 1),
              |m AS (SELECT doc_id, s,
              |    CASE WHEN s > coalesce(max(s + 7) OVER (
              |        PARTITION BY doc_id ORDER BY s
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      -100) + 1 THEN 1 ELSE 0 END AS ni
              |  FROM cov),
              |i AS (SELECT doc_id, s,
              |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl
              |  FROM m),
              |sp AS (SELECT doc_id, min(s) AS s, max(s) + 7 AS e
              |  FROM i GROUP BY doc_id, isl),
              |pos AS (SELECT doc_id, unnest(generate_series(s, e)) AS p
              |  FROM sp),
              |tok AS (SELECT doc_id, unnest(t) AS w,
              |    unnest(generate_series(1, len(t))) AS i FROM tk),
              |kept AS (SELECT tok.doc_id, tok.w, tok.i FROM tok
              |  LEFT JOIN pos ON tok.doc_id = pos.doc_id AND tok.i = pos.p
              |  WHERE pos.p IS NULL)
              |SELECT u.doc_id,
              |  coalesce(string_agg(kept.w, ' ' ORDER BY kept.i), '')
              |    AS text_dedup
              |FROM u LEFT JOIN kept ON u.doc_id = kept.doc_id
              |GROUP BY u.doc_id ORDER BY u.doc_id""".stripMargin)),

    // ===== §2.12-ext unicode normalization ==============================

    // NFC-normalize-then-dedup (TextFunctions.normalizeUnicode, a
    // native codegen'd java.text.Normalizer expression — Spark has no
    // normalization function): composed ("café", U+00E9) and
    // decomposed ("cafe" + U+0301) encodings of the same glyphs must
    // dedup together. Docs 0..49 re-appear twice with the two
    // encodings of the same suffix (+30000 NFC, +40000 NFD); after
    // normalization each pair collapses to the +30000 copy. Oracle
    // replays with DuckDB's nfc_normalize.
    Q("q135_unicode_nfc_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs
        .union(docs.filter(col("doc_id") < 50)
          .select(col("doc_id") + 30000, // composed U+00E9, U+00F1
            concat(col("text"), lit(" caf\u00e9 nfc\u00f1"))))
        .union(docs.filter(col("doc_id") < 50)
          .select(col("doc_id") + 40000, // decomposed +U+0301, +U+0303
            concat(col("text"), lit(" cafe\u0301 nfcn\u0303"))))
      Dedup.exact(
          all.withColumn("text", TF.normalizeUnicode(col("text"))),
          Seq("text"), "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 30000 AS doc_id,
             |    text || ' caf' || chr(233) || ' nfc' || chr(241) AS text
             |  FROM documents WHERE doc_id < 50
             |  UNION ALL SELECT doc_id + 40000 AS doc_id,
             |    text || ' cafe' || chr(769) || ' nfcn' || chr(771) AS text
             |  FROM documents WHERE doc_id < 50),
             |n AS (SELECT doc_id, nfc_normalize(text) AS t FROM u)
             |SELECT min(doc_id) AS doc_id FROM n GROUP BY t
             |ORDER BY doc_id""".stripMargin)),

    // ===== §2.12-ext exact heavy hitters (Misra–Gries two-pass) =========

    // Tokens exceeding 0.5% of the corpus token stream
    // (Frequent.heavyHitters): pass 1 is shuffle-free per-partition
    // Misra–Gries summaries (candidate SUPERSET by the averaging
    // argument), pass 2 exact-counts only the candidates — the exact
    // answer q38's full groupBy gives, without shuffling an
    // open-domain distinct-token table. Exactness is what makes this
    // full SQL oracle possible; partition-independence is spec-pinned.
    Q("q136_heavy_hitters", (s, dir) =>
      Frequent.heavyHitters(
          t(s, dir, "documents")
            .select(explode(TF.tokens(col("text"))).as("token")),
          "token", minShare = 0.005)
        .select(col("token"), col("cnt"))
        .orderBy(col("cnt").desc, col("token")),
      Some(s"""WITH tok AS (
              |  SELECT unnest(${sqlTokens("text")}) AS token
              |  FROM documents),
              |tot AS (SELECT count(*) AS n FROM tok)
              |SELECT token, CAST(count(*) AS BIGINT) AS cnt
              |FROM tok, tot GROUP BY token, tot.n
              |HAVING count(*) > tot.n * 0.005
              |ORDER BY cnt DESC, token""".stripMargin)),

    // Incremental substring screen (SubstringDedup.duplicateSpansAgainst
    // over a persisted gramIndex): spans of the +10000/+20000 batch
    // already present in the <10000 corpus — the verbatim +20000
    // copies cover fully, the " zzz" near-dups cover their shared
    // prefix. Per-batch cost is batch banding + one semi join against
    // the distinct-gram index; the corpus is never rescanned. Exact
    // keys so DuckDB replays the gram set verbatim.
    Q("q137_substring_screen_indexed", (s, dir) =>
      SubstringDedup.duplicateSpansAgainst(
          docsWithDups(s, dir).filter(col("doc_id") >= 10000),
          s.read.parquet(gramIndexPath(s, dir)),
          "doc_id", "text", k = 8, hashKeys = false)
        .orderBy(col("doc_id"), col("s")),
      Some(s"""WITH u AS ($docsWithDupsSql),
              |tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM u),
              |gr AS (SELECT doc_id, t,
              |    unnest(generate_series(1, len(t) - 7)) AS s
              |  FROM tk WHERE len(t) >= 8),
              |g2 AS (SELECT doc_id, s,
              |    array_to_string(t[s : s + 7], ' ') AS g FROM gr),
              |cidx AS (SELECT DISTINCT g FROM g2 WHERE doc_id < 10000),
              |cov AS (SELECT g2.doc_id, g2.s FROM g2
              |  JOIN cidx USING (g) WHERE g2.doc_id >= 10000),
              |m AS (SELECT doc_id, s,
              |    CASE WHEN s > coalesce(max(s + 7) OVER (
              |        PARTITION BY doc_id ORDER BY s
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      -100) + 1 THEN 1 ELSE 0 END AS ni
              |  FROM cov),
              |i AS (SELECT doc_id, s,
              |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl
              |  FROM m)
              |SELECT doc_id, CAST(min(s) AS BIGINT) AS s,
              |  CAST(max(s) + 7 AS BIGINT) AS e
              |FROM i GROUP BY doc_id, isl ORDER BY doc_id, s""".stripMargin)),

    // The admission loop's SUBSTRING sibling
    // (Admission.admitBatchSubstring over a persisted gramIndex):
    // q122's two-cycle fixture under the Lee et al. coverage
    // criterion — cycle 1's reversed-token batch defeats gram
    // matching (admitted), cycle 2 throws ' zzz'-suffixed copies of
    // cycle-1 ADMISSIONS (>50% covered via the FOLDED index →
    // rejected, the fold proof), verbatim base copies (rejected), and
    // id replays (id screen). The oracle replays both cycles'
    // coverage arithmetic — gram sets, island merge, span-length sums
    // — sequentially in SQL.
    Q("q138_admission_substring", (s, dir) => {
      val (base, b1, b2) = admissionFixture(s, dir)
      val (corpusDir, indexDir, _) =
        admissionStateMemo("sub8", dir) { (c, i) =>
          base.write.mode("overwrite").parquet(c)
          SubstringDedup.gramIndex(base, "doc_id", "text", k = 8,
              hashKeys = false)
            .write.mode("overwrite").parquet(i)
        }
      graft.streaming.Admission.admitBatchSubstring(b1, corpusDir,
        indexDir, "doc_id", "text", k = 8, maxDupCoverage = 0.5,
        hashKeys = false, batchId = 1L)
      graft.streaming.Admission.admitBatchSubstring(b2, corpusDir,
        indexDir, "doc_id", "text", k = 8, maxDupCoverage = 0.5,
        hashKeys = false, batchId = 2L)
      s.read.parquet(corpusDir).select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
              |b1 AS (SELECT doc_id + 30000 AS doc_id,
              |    array_to_string(list_reverse(${sqlTokens("text")}), ' ') AS text
              |  FROM base WHERE doc_id < 200),
              |b2 AS (SELECT doc_id + 10000 AS doc_id, text || ' zzz' AS text
              |    FROM b1 WHERE doc_id < 30050
              |  UNION ALL SELECT doc_id + 20000, text FROM base WHERE doc_id < 100
              |  UNION ALL SELECT doc_id, text FROM base WHERE doc_id < 30),
              |u AS (SELECT doc_id, text FROM base UNION
              |  SELECT doc_id, text FROM b1 UNION SELECT doc_id, text FROM b2),
              |tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM u),
              |nt AS (SELECT doc_id, len(t) AS n FROM tk),
              |g AS (SELECT doc_id, s, array_to_string(t[s : s + 7], ' ') AS gr
              |  FROM (SELECT doc_id, t,
              |      unnest(generate_series(1, len(t) - 7)) AS s
              |    FROM tk WHERE len(t) >= 8)),
              |cg1 AS (SELECT DISTINCT gr FROM g
              |  WHERE doc_id IN (SELECT doc_id FROM base)),
              |cov1 AS (SELECT doc_id, sum(e - s + 1) AS cov FROM (
              |    SELECT doc_id, min(s) AS s, max(s) + 7 AS e FROM (
              |      SELECT doc_id, s,
              |        sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl
              |      FROM (SELECT doc_id, s,
              |          CASE WHEN s > coalesce(max(s + 7) OVER (
              |              PARTITION BY doc_id ORDER BY s
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |            -100) + 1 THEN 1 ELSE 0 END AS ni
              |        FROM g
              |        WHERE doc_id IN (SELECT doc_id FROM b1)
              |          AND gr IN (SELECT gr FROM cg1)))
              |    GROUP BY doc_id, isl)
              |  GROUP BY doc_id),
              |m1 AS (SELECT cov1.doc_id FROM cov1 JOIN nt USING (doc_id)
              |  WHERE cov > 0.5 * n),
              |c1 AS (SELECT doc_id FROM base UNION ALL
              |  SELECT doc_id FROM b1
              |  WHERE doc_id NOT IN (SELECT doc_id FROM m1)),
              |cg2 AS (SELECT DISTINCT gr FROM g
              |  WHERE doc_id IN (SELECT doc_id FROM c1)),
              |b2f AS (SELECT DISTINCT doc_id FROM b2
              |  WHERE doc_id NOT IN (SELECT doc_id FROM c1)),
              |cov2 AS (SELECT doc_id, sum(e - s + 1) AS cov FROM (
              |    SELECT doc_id, min(s) AS s, max(s) + 7 AS e FROM (
              |      SELECT doc_id, s,
              |        sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl
              |      FROM (SELECT doc_id, s,
              |          CASE WHEN s > coalesce(max(s + 7) OVER (
              |              PARTITION BY doc_id ORDER BY s
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |            -100) + 1 THEN 1 ELSE 0 END AS ni
              |        FROM g
              |        WHERE doc_id IN (SELECT doc_id FROM b2f)
              |          AND gr IN (SELECT gr FROM cg2)))
              |    GROUP BY doc_id, isl)
              |  GROUP BY doc_id),
              |m2 AS (SELECT cov2.doc_id FROM cov2 JOIN nt USING (doc_id)
              |  WHERE cov > 0.5 * n)
              |SELECT doc_id FROM c1
              |UNION ALL SELECT doc_id FROM b2f
              |  WHERE doc_id NOT IN (SELECT doc_id FROM m2)
              |ORDER BY doc_id""".stripMargin)),

    // The SCRUB face of the incremental substring screen
    // (SubstringDedup.removeDuplicateSpansAgainst): corpus-known runs
    // are CUT out of the batch instead of rejecting whole docs — the
    // +20000 verbatim copies scrub to '', the ' zzz' near-dups keep
    // only their fresh tail. Same q137 index, oracle extends q137's
    // span replay with positional token filtering.
    Q("q139_substring_scrub_indexed", (s, dir) =>
      SubstringDedup.removeDuplicateSpansAgainst(
          docsWithDups(s, dir).filter(col("doc_id") >= 10000),
          s.read.parquet(gramIndexPath(s, dir)),
          "doc_id", "text", k = 8, hashKeys = false)
        .select(col("doc_id"), col("text_dedup"))
        .orderBy(col("doc_id")),
      Some(s"""WITH u AS ($docsWithDupsSql),
              |tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM u),
              |gr AS (SELECT doc_id, t,
              |    unnest(generate_series(1, len(t) - 7)) AS s
              |  FROM tk WHERE len(t) >= 8),
              |g2 AS (SELECT doc_id, s,
              |    array_to_string(t[s : s + 7], ' ') AS g FROM gr),
              |cidx AS (SELECT DISTINCT g FROM g2 WHERE doc_id < 10000),
              |cov AS (SELECT g2.doc_id, g2.s FROM g2
              |  JOIN cidx USING (g) WHERE g2.doc_id >= 10000),
              |m AS (SELECT doc_id, s,
              |    CASE WHEN s > coalesce(max(s + 7) OVER (
              |        PARTITION BY doc_id ORDER BY s
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      -100) + 1 THEN 1 ELSE 0 END AS ni
              |  FROM cov),
              |i AS (SELECT doc_id, s,
              |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS isl
              |  FROM m),
              |sp AS (SELECT doc_id, min(s) AS s, max(s) + 7 AS e
              |  FROM i GROUP BY doc_id, isl),
              |pos AS (SELECT doc_id, unnest(generate_series(s, e)) AS p
              |  FROM sp),
              |b AS (SELECT doc_id FROM u WHERE doc_id >= 10000),
              |tok AS (SELECT doc_id, unnest(t) AS w,
              |    unnest(generate_series(1, len(t))) AS i
              |  FROM tk WHERE doc_id >= 10000),
              |kept AS (SELECT tok.doc_id, tok.w, tok.i FROM tok
              |  LEFT JOIN pos ON tok.doc_id = pos.doc_id AND tok.i = pos.p
              |  WHERE pos.p IS NULL)
              |SELECT b.doc_id,
              |  coalesce(string_agg(kept.w, ' ' ORDER BY kept.i), '')
              |    AS text_dedup
              |FROM b LEFT JOIN kept ON b.doc_id = kept.doc_id
              |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    // ===== §2.12-ext weighted sampling ==================================

    // Deterministic weighted sampling without replacement
    // (Budget.sampleWeightedPerGroup, Efraimidis–Spirakis A-Res with
    // md5-derived uniforms): 5 docs per source, weight = token count
    // + 1 — longer docs proportionally likelier, winners rerun- and
    // layout-stable. The oracle replays the exact key arithmetic
    // (hex md5 prefix → uniform → ln(u)/w) in SQL.
    Q("q140_sample_weighted", (s, dir) =>
      Budget.sampleWeightedPerGroup(
          t(s, dir, "documents")
            .withColumn("wt", (TF.tokenCount(col("text")) + 1)
              .cast("double")),
          Seq("source"), "doc_id", "wt", n = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, source,
              |    CAST(len(${sqlTokens("text")}) + 1 AS DOUBLE) AS wt
              |  FROM documents),
              |k AS (SELECT doc_id, source,
              |    ln((CAST(concat('0x',
              |        substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))
              |      AS BIGINT) + 0.5) / 4294967296.0) / wt AS key
              |  FROM d WHERE wt > 0),
              |r AS (SELECT doc_id, source, row_number() OVER (
              |    PARTITION BY source ORDER BY key DESC, doc_id) AS rn
              |  FROM k)
              |SELECT doc_id, source FROM r WHERE rn <= 5
              |ORDER BY doc_id""".stripMargin)),

    // Token-budget LEDGER (Budget.tokenBudgetSelectLedgered /
    // ledgerBank): budgeted selection made continuous across
    // admission cycles — cycle 1 selects the per-lang best prefix
    // within 3k tokens and BANKS it; cycle 2 selects only what fits
    // the REMAINING per-lang budget. The oracle replays both cycles'
    // cumsum windows and the used/remaining arithmetic sequentially.
    Q("q141_token_budget_ledgered", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("double").as("score"),
          TF.tokenCount(col("text")).cast("long").as("toks"))
      val led = scratchTemp("graft_ledger_q141").resolve("led").toString
      val c1 = Budget.tokenBudgetSelectAndBank(
        docs.filter(col("doc_id") % 2 === 0), led,
        "lang", "doc_id", "score", "toks", budget = 3000L)
      val c2 = Budget.tokenBudgetSelectLedgered(
        docs.filter(col("doc_id") % 2 =!= 0), led,
        "lang", "doc_id", "score", "toks", budget = 3000L)
      c1.select(col("doc_id")).unionByName(c2.select(col("doc_id")))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |    CAST(length(text) AS DOUBLE) AS score,
              |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS toks
              |  FROM documents),
              |b1 AS (SELECT * FROM d WHERE doc_id % 2 = 0),
              |b2 AS (SELECT * FROM d WHERE doc_id % 2 <> 0),
              |s1 AS (SELECT doc_id, lang, toks FROM (
              |    SELECT doc_id, lang, toks, sum(toks) OVER (
              |      PARTITION BY lang ORDER BY score DESC, doc_id) AS cum
              |    FROM b1) WHERE cum <= 3000),
              |u1 AS (SELECT lang, sum(toks) AS used FROM s1 GROUP BY lang),
              |s2 AS (SELECT doc_id FROM (
              |    SELECT b2.doc_id, sum(b2.toks) OVER (
              |      PARTITION BY b2.lang ORDER BY b2.score DESC,
              |        b2.doc_id) AS cum,
              |      greatest(3000 - coalesce(u1.used, 0), 0) AS rem
              |    FROM b2 LEFT JOIN u1 USING (lang)) WHERE cum <= rem)
              |SELECT doc_id FROM s1
              |UNION ALL SELECT doc_id FROM s2 ORDER BY doc_id""".stripMargin)),

    // Portable simhash near-dup pairs (r10): the q45 md5 discipline
    // applied to the simhash family. Same bucketing + exact-verify
    // machinery as q48, but the 60-bit md5 token hash makes every
    // step integer-exact and SQL-replayable; with the bucket cap
    // lifted the pigeonhole candidates + hamming verify EQUAL the
    // exhaustive all-pairs truth, so the oracle recomputes the
    // fingerprints bit by bit (nested list lambdas) and cross-joins.
    // The xxhash64 production default stays rows-only (q48) with its
    // randomized recall pin.
    Q("q142_simhash_portable", (s, dir) =>
      Dedup.simhashPairsPortable(docsWithDups(s, dir), "doc_id", "text",
          maxDistance = 3, maxBucketSize = Int.MaxValue)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH u AS ($docsWithDupsSql),
              |h AS (SELECT doc_id, list_transform(${sqlTokens("text")},
              |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
              |  FROM u),
              |f AS (SELECT doc_id,
              |  CAST(list_sum(list_transform(range(60), b ->
              |    CASE WHEN CAST(list_sum(list_transform(hs,
              |        x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END))
              |        AS BIGINT) > 0
              |      THEN (CAST(1 AS BIGINT) << b)
              |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
              |  FROM h)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
              |FROM f a, f b WHERE a.doc_id < b.doc_id
              |  AND bit_count(xor(a.fp, b.fp)) <= 3
              |ORDER BY id_a, id_b""".stripMargin)),

    // Hybrid lexical+semantic retrieval fused by reciprocal rank
    // (Search.hybridRrf): BM25 top-10 and exact-cosine top-10 per
    // query, fused by 1/(60+rank) sums. The fixture corpus is
    // documents⋈embeddings on doc_id=vec_id (the testdata ids align
    // 1:1); queries are five corpus rows asking with their own text
    // and vector. The oracle replays BOTH retrievers (the q110 BM25
    // CTE chain and the q49 cosine ranking) and then the fusion
    // arithmetic term by term — ranks are integers and each RRF term
    // is one exact double division, so the fused scores hash-match.
    Q("q144_hybrid_rrf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      // r18 opt (guide §5): the docs⋈emb corpus feeds BOTH retrievers
      // (BM25 and cosine) plus the query-batch filter — uncached the
      // join evaluated once per reference; cached it computes once.
      val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
        .cache()
      val queries = corpus.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("text").as("qtext"),
          col("embedding").as("qvec"))
      graft.operators.Search.hybridRrf(
          corpus, "doc_id", "text", "embedding",
          queries, "qid", "qtext", "qvec", k = 5, kEach = 10)
        .select(col("qid"), col("rank"), col("doc_id"), col("rrf_score"),
          col("lex_rank").cast("int").as("lex_rank"),
          col("sem_rank").cast("int").as("sem_rank"))
        .orderBy(col("qid"), col("rank"))
    },
      Some(s"""WITH corpus AS (SELECT doc_id, text, embedding
              |  FROM documents JOIN embeddings ON doc_id = vec_id),
              |q AS (SELECT doc_id AS qid, text AS qtext, embedding AS qvec
              |  FROM corpus WHERE doc_id < 5),
              |qt AS (SELECT DISTINCT qid, unnest(${sqlTokens("qtext")}) AS term
              |  FROM q),
              |base AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM corpus),
              |stats AS (SELECT count(*) AS n,
              |   avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM base),
              |dtok AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
              |   unnest(toks) AS term FROM base),
              |tf AS (SELECT doc_id, dl, term,
              |   CAST(count(*) AS DOUBLE) AS tf FROM dtok
              |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
              |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
              |  FROM tf GROUP BY 1),
              |sc AS (SELECT qt.qid, tf.doc_id,
              |   round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
              |     * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
              |     AS score
              |  FROM tf JOIN dfq USING (term) JOIN qt USING (term), stats
              |  GROUP BY 1, 2),
              |lex AS (SELECT qid, doc_id, rnk AS lex_rank FROM (
              |   SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
              |     ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
              |  WHERE rnk <= 10),
              |cosr AS (SELECT q.qid, c.doc_id,
              |   list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
              |     CAST(c.embedding AS DOUBLE[])) AS cos
              |  FROM q, corpus c),
              |sem AS (SELECT qid, doc_id, rnk AS sem_rank FROM (
              |   SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
              |     ORDER BY cos DESC, doc_id ASC) AS rnk FROM cosr)
              |  WHERE rnk <= 10),
              |fused AS (SELECT coalesce(lex.qid, sem.qid) AS qid,
              |   coalesce(lex.doc_id, sem.doc_id) AS doc_id,
              |   round(coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
              |     + coalesce(CAST(1 AS DOUBLE) / (60 + sem_rank), 0), 6)
              |     AS rrf_score,
              |   lex_rank, sem_rank
              |  FROM lex FULL OUTER JOIN sem
              |    ON lex.qid = sem.qid AND lex.doc_id = sem.doc_id),
              |r AS (SELECT qid, row_number() OVER (PARTITION BY qid
              |     ORDER BY rrf_score DESC, doc_id ASC) AS rank,
              |   doc_id, rrf_score, CAST(lex_rank AS INT) AS lex_rank,
              |   CAST(sem_rank AS INT) AS sem_rank FROM fused)
              |SELECT * FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Product quantization, trained path (Pq.fit / encode / adcTopK):
    // like q50, the approximation IS the measurement — the emitted row
    // is ADC-top-5 recall against the exact squared-L2 top-5, plus
    // the compression arithmetic (64-dim float32 = 2048 bits -> m=8
    // 4-bit codes = 32 bits, 64x). The fit is deterministic (sorted
    // bounded sample, spread init, fixed Lloyd rounds — PqSpec pins
    // fit-twice and layout-shuffle equality), so this row is
    // rerun-stable; the spec floor is in PqSpec, the visible recall
    // here makes regressions show in the correctness dump.
    Q("q145_pq_adc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.Pq.fit(emb, "vec_id", "embedding",
        m = 8, dsub = 8, ksub = 16)
      val encoded = graft.operators.Pq.encode(emb, "embedding", model)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      val approx = graft.operators.Pq.adcTopK(encoded, q, "vec_id",
          "pq_code", "embedding", model, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val exact = graft.operators.Pq.exactL2TopK(emb, q, "vec_id",
          "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(5).as("k"), lit(10).as("n_queries"), lit(8).as("m"),
          lit(16).as("ksub"), col("hits"),
          round(col("hits") / (5 * 10.0), 4).as("recall"),
          lit(64 * 32).as("orig_bits"), lit(model.codeBits).as("code_bits"),
          round(lit(64 * 32.0 / model.codeBits), 1).as("compression"))
    },
      None), // approximate op: the emitted recall is the gate signal,
             // the codebook is k-means state no SQL replays; the
             // LITERAL-codebook variant below is fully oracled

    // Product quantization, portable path: the codebooks are four
    // LITERAL corpus rows (vec_id<4, one centroid per subspace each),
    // so encode (argmin by squared L2, ties to the lowest index) and
    // ADC (subspace-wise squared L2 against the coded centroid) are
    // integer-index + double arithmetic DuckDB replays exactly —
    // same machinery as the trained q145, with the k-means swapped
    // for a fixture the oracle can see. Proves the ENCODE/ADC
    // algebra; q145's recall row proves the trained quality.
    Q("q146_pq_portable", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = 4; val dsub = 16; val ksub = 4
      // bounded fixture model-load: 4 rows -> codebook (the PQ model
      // is driver state by nature, like any loaded model artifact)
      val cbRows = emb.filter(col("vec_id") < 4)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      val centroids = new Array[Double](m * ksub * dsub)
      for (ss <- 0 until m; c <- 0 until ksub; j <- 0 until dsub)
        centroids((ss * ksub + c) * dsub + j) = cbRows(c)(ss * dsub + j)
      val model = graft.operators.Pq.PqModel(m, dsub, ksub, centroids)
      val encoded = graft.operators.Pq.encode(emb, "embedding", model)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding"))
      graft.operators.Pq.adcTopK(encoded, q, "vec_id", "pq_code",
          "embedding", model, k = 5)
        .select(col("query_id"), col("rank").as("rnk"),
          col("neighbor_id"), col("adc"))
        .orderBy(col("query_id"), col("rnk"))
    },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |cb AS (SELECT vec_id AS cidx, v AS cv FROM e WHERE vec_id < 4),
             |dist AS (SELECT e.vec_id, t.s, cb.cidx,
             |   list_sum(list_transform(range(16), j ->
             |     (v[CAST(t.s*16+j+1 AS INT)] - cv[CAST(t.s*16+j+1 AS INT)])
             |     * (v[CAST(t.s*16+j+1 AS INT)]
             |        - cv[CAST(t.s*16+j+1 AS INT)]))) AS d2
             |  FROM e, range(4) t(s), cb),
             |codes AS (SELECT vec_id, s, cidx FROM (
             |   SELECT vec_id, s, cidx, row_number() OVER (
             |     PARTITION BY vec_id, s ORDER BY d2 ASC, cidx ASC) AS rn
             |   FROM dist) WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e
             |  WHERE vec_id < 3),
             |adc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
             |   round(sum(list_sum(list_transform(range(16), j ->
             |     (qv[CAST(c.s*16+j+1 AS INT)] - cv[CAST(c.s*16+j+1 AS INT)])
             |     * (qv[CAST(c.s*16+j+1 AS INT)]
             |        - cv[CAST(c.s*16+j+1 AS INT)])))), 6) AS adc
             |  FROM q, codes c JOIN cb USING (cidx)
             |  GROUP BY 1, 2),
             |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER (
             |   PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC)
             |   AS rnk FROM adc)
             |SELECT query_id, rnk, neighbor_id, adc FROM r WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // Z-order (Morton) values for (l_partkey, l_suppkey) — the sort
    // key behind ZOrder.saveZOrdered's multi-column-pruning layout.
    // Bounds come from the full table (one stats aggregation, exactly
    // what the writer runs); the oracle recomputes the normalization
    // with DuckDB's integer division and the 16-bit interleave with
    // the SAME shift/mask/or terms (generated by the one helper the
    // operator itself uses), so every bit of every z-value is pinned.
    // The file-level pruning effect is measured in SourcesSpec.
    Q("q147_zorder", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val zd = graft.operators.ZOrder.withZValue(li, "l_partkey",
        "l_suppkey", out = "z", bits = 16)
      zd.filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("z").cast("long").as("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      Some(s"""WITH st AS (SELECT min(l_partkey) AS plo,
              |   max(l_partkey) AS phi, min(l_suppkey) AS slo,
              |   max(l_suppkey) AS shi FROM lineitem),
              |sc AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
              |   ((l_partkey - plo) * 65535) // greatest(1, phi - plo) AS xs,
              |   ((l_suppkey - slo) * 65535) // greatest(1, shi - slo) AS ys
              |  FROM lineitem, st WHERE l_orderkey < 1000)
              |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
              | CAST(${graft.operators.ZOrder.sqlInterleave("xs", "ys")}
              |   AS BIGINT) AS z
              |FROM sc ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // IVF-PQ: the two ANN halves composed — coarse cells route
    // (nProbe/nCells of the corpus scanned), PQ codes on the
    // RESIDUALS compress what is scanned (32-64x fewer bytes). Same
    // emitted-recall contract as q50/q145: the row carries the full
    // operating point so the gate sees routing + quantization quality
    // in one number; PqSpec pins the curve (full probe >= default
    // probe, determinism, encode shape).
    Q("q148_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.Pq.fitIvfPq(emb, "vec_id", "embedding",
        nCells = 8, m = 8, dsub = 8, ksub = 16)
      val encoded = graft.operators.Pq.encodeIvfPq(emb, "vec_id",
        "embedding", model)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      val approx = graft.operators.Pq.ivfPqTopK(encoded, q, "vec_id",
          "cell", "pq_code", "embedding", model, k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val exact = graft.operators.Pq.exactL2TopK(emb, q, "vec_id",
          "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(5).as("k"), lit(10).as("n_queries"),
          lit(8).as("n_cells"), lit(4).as("n_probe"), lit(8).as("m"),
          lit(16).as("ksub"), col("hits"),
          round(col("hits") / (5 * 10.0), 4).as("recall"))
    },
      None), // approximate op: emitted recall is the gate signal
             // (k-means coarse + subquantizer state no SQL replays)

    // Deterministic synchronous label propagation (LabelProp) over
    // the bipartite orderkey<->partkey co-occurrence graph: three
    // rounds, each unrolled in the oracle as the same count +
    // row_number(ORDER BY n DESC, label ASC) pair the operator runs —
    // possible ONLY because updates are synchronous and ties break to
    // the smallest label (textbook LPA's visit order and tie
    // coin-flips would force rows-only). Census face per community.
    Q("q149_label_prop", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select((col("l_orderkey") % 100).as("src"),
        (col("l_partkey") % 100 + 1000).as("dst")).distinct()
      graft.operators.LabelProp.communitySizes(edges, "src", "dst",
          iters = 3)
        .orderBy(col("community"))
    },
      Some("""WITH re AS (SELECT DISTINCT l_orderkey % 100 AS a,
             |   l_partkey % 100 + 1000 AS b FROM lineitem),
             |e AS (SELECT a, b FROM re UNION SELECT b, a FROM re),
             |l0 AS (SELECT node, node AS label FROM
             |  (SELECT DISTINCT a AS node FROM e)),
             |n1 AS (SELECT e.a AS node, l.label, count(*) AS n
             |  FROM e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
             |l1 AS (SELECT node, label FROM (SELECT node, label,
             |   row_number() OVER (PARTITION BY node
             |     ORDER BY n DESC, label ASC) AS rn FROM n1)
             |  WHERE rn = 1),
             |n2 AS (SELECT e.a AS node, l.label, count(*) AS n
             |  FROM e JOIN l1 l ON e.b = l.node GROUP BY 1, 2),
             |l2 AS (SELECT node, label FROM (SELECT node, label,
             |   row_number() OVER (PARTITION BY node
             |     ORDER BY n DESC, label ASC) AS rn FROM n2)
             |  WHERE rn = 1),
             |n3 AS (SELECT e.a AS node, l.label, count(*) AS n
             |  FROM e JOIN l2 l ON e.b = l.node GROUP BY 1, 2),
             |l3 AS (SELECT node, label FROM (SELECT node, label,
             |   row_number() OVER (PARTITION BY node
             |     ORDER BY n DESC, label ASC) AS rn FROM n3)
             |  WHERE rn = 1)
             |SELECT label AS community, CAST(count(*) AS BIGINT)
             |   AS n_nodes, min(node) AS min_node
             |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact containment join (Dedup.containmentPairs) — the
    // quote/inclusion detector: the fixture plants 12-token EXCERPTS
    // of long documents under doc_id+20000, whose containment vs
    // their source is 1.0 while symmetric Jaccard is far below any
    // dedup threshold (the size gap swamps it — that asymmetry is the
    // operator's reason to exist, pinned in DedupSpec). The oracle
    // rebuilds the excerpts with list_slice and replays the
    // intersect-over-min arithmetic on distinct shingle sets.
    Q("q150_containment", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val excerpts = t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .filter(size(TF.tokens(col("text"))) >= 24)
        .select((col("doc_id") + 20000).as("doc_id"),
          array_join(slice(TF.tokens(col("text")), 1, 12), " ").as("text"))
      Dedup.containmentPairs(docs.union(excerpts), "doc_id", "text",
          shingleLen = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some(s"""WITH u AS (SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 20000,
              |    array_to_string(list_slice(${sqlTokens("text")}, 1, 12), ' ')
              |  FROM documents
              |  WHERE doc_id < 100 AND len(${sqlTokens("text")}) >= 24),
              |sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM u WHERE len(${sqlTokens("text")}) >= 3)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |    / least(len(a.sh), len(b.sh)), 6) AS containment
              |FROM sh a, sh b
              |WHERE a.doc_id < b.doc_id
              |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |    / least(len(a.sh), len(b.sh)) >= 0.8
              |ORDER BY id_a, id_b""".stripMargin)),

    // WordPiece encoding, whole-word-vocab face: with no "##"
    // continuation pieces in the vocab, greedy longest-match-first
    // collapses EXACTLY to `w IN vocab ? w : [UNK]` (any split
    // attempt dead-ends — BERT's whole-word-unk rule), which one
    // CASE WHEN replays. The greedy SPLIT path (not SQL-expressible)
    // is spec-pinned against an independent recursive reference on
    // randomized vocab/word inputs, the BPE q130/q132 treatment.
    Q("q151_wordpiece", (s, dir) => {
      val docs = t(s, dir, "documents")
      // the whole-word collapse needs NO continuation pieces in the
      // vocab — enforced structurally (both sides filter '##%'), not
      // assumed, so a testdata regeneration with a literal '##'
      // token cannot silently break the equivalence
      val vocab = docs.filter(col("doc_id") < 50)
        .select(explode(TF.tokens(col("text"))).as("piece")).distinct()
        .filter(!col("piece").startsWith("##"))
      graft.operators.WordPiece.encode(docs, "text", vocab)
        .select(col("lang"), explode(col("wp_tokens")).as("p"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pieces"),
          sum(when(col("p") === "[UNK]", 1L).otherwise(0L)).as("n_unk"),
          count_distinct(col("p")).as("n_distinct"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH v AS (SELECT DISTINCT piece FROM (
              |    SELECT unnest(${sqlTokens("text")}) AS piece
              |    FROM documents WHERE doc_id < 50)
              |  WHERE piece NOT LIKE '##%'),
              |tok AS (SELECT lang, unnest(${sqlTokens("text")}) AS t
              |  FROM documents),
              |enc AS (SELECT lang, CASE WHEN len(t) <= 200
              |    AND t IN (SELECT piece FROM v) THEN t
              |    ELSE '[UNK]' END AS p FROM tok)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_pieces,
              | CAST(sum(CASE WHEN p = '[UNK]' THEN 1 ELSE 0 END)
              |   AS BIGINT) AS n_unk,
              | CAST(count(DISTINCT p) AS BIGINT) AS n_distinct
              |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The dedup-graph composition LPA exists for: exact-jaccard
    // near-dup pairs (q71's oracled machinery on the planted-dup
    // fixture) become the edge list, three deterministic LPA rounds
    // cluster it, census per community. TWO oracled operators
    // composed under ONE oracle — the pair SQL feeds the unrolled
    // round CTEs exactly as the operators feed each other.
    Q("q152_dedup_communities", (s, dir) => {
      val pairs = Dedup.jaccardPairsExact(docsWithDups(s, dir),
        "doc_id", "text", shingleLen = 3, threshold = 0.5)
      graft.operators.LabelProp.communitySizes(
          pairs.select(col("id_a"), col("id_b")), "id_a", "id_b",
          iters = 3)
        .orderBy(col("community"))
    },
      Some(s"""WITH u AS ($docsWithDupsSql),
              |sh AS (SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
              |    i -> ${sqlTokens("text")}[i] || ' ' || ${sqlTokens("text")}[i+1] || ' ' || ${sqlTokens("text")}[i+2])) AS sh
              |  FROM u WHERE len(${sqlTokens("text")}) >= 3),
              |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb
              |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
              |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
              |e AS (SELECT ida AS a, idb AS b FROM p
              |  UNION SELECT idb, ida FROM p),
              |l0 AS (SELECT node, node AS label FROM
              |  (SELECT DISTINCT a AS node FROM e)),
              |n1 AS (SELECT e.a AS node, l.label, count(*) AS n
              |  FROM e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
              |l1 AS (SELECT node, label FROM (SELECT node, label,
              |   row_number() OVER (PARTITION BY node
              |     ORDER BY n DESC, label ASC) AS rn FROM n1)
              |  WHERE rn = 1),
              |n2 AS (SELECT e.a AS node, l.label, count(*) AS n
              |  FROM e JOIN l1 l ON e.b = l.node GROUP BY 1, 2),
              |l2 AS (SELECT node, label FROM (SELECT node, label,
              |   row_number() OVER (PARTITION BY node
              |     ORDER BY n DESC, label ASC) AS rn FROM n2)
              |  WHERE rn = 1),
              |n3 AS (SELECT e.a AS node, l.label, count(*) AS n
              |  FROM e JOIN l2 l ON e.b = l.node GROUP BY 1, 2),
              |l3 AS (SELECT node, label FROM (SELECT node, label,
              |   row_number() OVER (PARTITION BY node
              |     ORDER BY n DESC, label ASC) AS rn FROM n3)
              |  WHERE rn = 1)
              |SELECT label AS community, CAST(count(*) AS BIGINT)
              |   AS n_nodes, min(node) AS min_node
              |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Interval-overlap join (RangeJoin.intervalOverlap): supplier
    // balance bands vs customer balance bands — a range-x-range
    // overlap with NO equi key, rewritten to the canonical-bucket
    // equi join (q111's binning with the emit-at-overlap-start dedup
    // rule; never a nested loop). The oracle states the overlap
    // predicate directly; any duplicate emission or dropped pair
    // breaks the count census.
    Q("q153_interval_overlap", (s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_suppkey"),
        col("s_acctbal").as("s_lo"), (col("s_acctbal") + 300).as("s_hi"))
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_acctbal") - 50).as("c_lo"),
        (col("c_acctbal") + 50).as("c_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          sup, "s_lo", "s_hi", cust, "c_lo", "c_hi")
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_overlap"),
          round(avg((col("c_lo") + col("c_hi")) / 2), 2).as("avg_mid"))
        .orderBy(col("s_suppkey"))
    },
      Some("""SELECT s_suppkey, count(*) AS n_overlap,
             | round(avg((c_acctbal - 50 + c_acctbal + 50) / 2), 2)
             |   AS avg_mid
             |FROM supplier s JOIN customer c
             | ON s.s_acctbal <= c.c_acctbal + 50
             |  AND c.c_acctbal - 50 <= s.s_acctbal + 300
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Spatial radius join (Geo.withinDistance): coordinates
    // synthesized deterministically from keys (the testdata carries
    // none), customers as points vs suppliers as 150 km geofence
    // centers, grid-cell bucketed with an exact haversine verify.
    // The oracle replays the synthesis AND the haversine term by term
    // (explicit x*π/180, same op order — see Geo.haversineKm's
    // rounding note); census per supplier pins every pair.
    Q("q154_geo_radius_join", (s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") % 100).cast("double") - 50 + 0.25).as("lat"),
        ((col("c_custkey") % 340).cast("double") - 170 + 0.5).as("lon"))
      val ctr = t(s, dir, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") % 100).cast("double") - 50 + 0.75).as("clat"),
        ((col("s_suppkey") % 340).cast("double") - 170 + 0.25).as("clon"))
      graft.operators.Geo.withinDistance(pts, "lat", "lon",
          ctr, "clat", "clon", radiusKm = 150.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_within"),
          min(col("distance_km")).as("min_km"))
        .orderBy(col("s_suppkey"))
    },
      Some("""WITH p AS (SELECT c_custkey,
             |   CAST(c_custkey % 100 AS DOUBLE) - 50 + 0.25 AS lat,
             |   CAST(c_custkey % 340 AS DOUBLE) - 170 + 0.5 AS lon
             |  FROM customer),
             |c AS (SELECT s_suppkey,
             |   CAST(s_suppkey % 100 AS DOUBLE) - 50 + 0.75 AS clat,
             |   CAST(s_suppkey % 340 AS DOUBLE) - 170 + 0.25 AS clon
             |  FROM supplier),
             |d AS (SELECT s_suppkey, round(2 * 6371.0088 * asin(sqrt(
             |     sin((clat - lat) * 3.141592653589793 / 180 / 2)
             |       * sin((clat - lat) * 3.141592653589793 / 180 / 2)
             |     + cos(lat * 3.141592653589793 / 180)
             |       * cos(clat * 3.141592653589793 / 180)
             |       * sin((clon - lon) * 3.141592653589793 / 180 / 2)
             |       * sin((clon - lon) * 3.141592653589793 / 180 / 2))),
             |     4) AS km
             |  FROM p, c)
             |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_within,
             | min(km) AS min_km
             |FROM d WHERE km <= 150.0 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Ordered funnel census (EventAnalytics.funnel): greedy
    // sequential view -> click -> purchase with strict-after
    // ordering. The operator folds each user's sorted event array in
    // ONE shuffle; the oracle states the equivalent closed form —
    // per-step min-ts STRICTLY AFTER the previous step's greedy time
    // (equivalent precisely because greedy takes the earliest valid
    // occurrence at every step).
    Q("q155_funnel", (s, dir) =>
      graft.operators.EventAnalytics.funnel(events(s, dir), "user_id",
          "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("step_idx")),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
             |  JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
             |  JOIN s2 USING (user_id)
             |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
             |SELECT 1 AS step_idx, 'view' AS step,
             |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
             |UNION ALL SELECT 2, 'click',
             |  CAST((SELECT count(*) FROM s2) AS BIGINT)
             |UNION ALL SELECT 3, 'purchase',
             |  CAST((SELECT count(*) FROM s3) AS BIGINT)
             |ORDER BY step_idx""".stripMargin)),

    // Cohort retention census (EventAnalytics.cohortRetention):
    // ISO-week cohorts by first event, 7-day periods, distinct-active
    // over cohort size. Dates render as strings (oracle parity rule);
    // the oracle replays the trunc/datediff/floor arithmetic exactly.
    Q("q156_cohort_retention", (s, dir) =>
      graft.operators.EventAnalytics.cohortRetention(events(s, dir),
          "user_id", "ts", periodDays = 7)
        .orderBy(col("cohort"), col("period")),
      Some("""WITH fc AS (SELECT user_id,
             |   CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
             |  FROM events GROUP BY 1),
             |a AS (SELECT DISTINCT e.user_id, fc.cohort,
             |   CAST(floor(date_diff('day', fc.cohort,
             |     CAST(e.ts AS DATE)) / 7) AS INT) AS period
             |  FROM events e JOIN fc USING (user_id)),
             |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort
             |  FROM fc GROUP BY 1),
             |r AS (SELECT cohort, period, CAST(count(*) AS BIGINT)
             |   AS n_active FROM a GROUP BY 1, 2)
             |SELECT CAST(r.cohort AS VARCHAR) AS cohort, period,
             | n_cohort, n_active,
             | round(n_active / n_cohort, 4) AS retention
             |FROM r JOIN sz USING (cohort)
             |ORDER BY cohort, period""".stripMargin)),

    // First-order event-transition matrix (EventAnalytics
    // .transitions): consecutive pairs via lead over (ts, type) —
    // the type in the sort key pins same-instant ordering, so the
    // census is deterministic and the oracle replays the identical
    // window.
    Q("q157_transitions", (s, dir) =>
      graft.operators.EventAnalytics.transitions(events(s, dir),
          "user_id", "ts", "event_type")
        .orderBy(col("from_type"), col("to_type")),
      Some("""WITH p AS (SELECT event_type AS from_type,
             |   lead(event_type) OVER (PARTITION BY user_id
             |     ORDER BY ts, event_type) AS to_type
             |  FROM events),
             |c AS (SELECT from_type, to_type,
             |   CAST(count(*) AS BIGINT) AS n FROM p
             |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             | round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (
             |   PARTITION BY from_type) AS DOUBLE), 4) AS p
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // Two-proportion z-test (AbTest.twoProportionZ): users split into
    // variants by id parity, success = a heavy purchaser (>= 14
    // purchase events — the median is 13, so the cut genuinely
    // splits both arms; "any purchase" is degenerate on this data,
    // every user converts and the variance is zero). Every emitted
    // value is pure arithmetic (the 1.959964 two-sided α=0.05
    // quantile is a baked constant, not a CDF call), replayed term
    // for term.
    Q("q158_ab_test", (s, dir) => {
      val users = events(s, dir).groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 14).as("converted"))
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.operators.AbTest.twoProportionZ(users, "variant",
        "converted", "A", "B")
    },
      Some("""WITH u AS (SELECT user_id,
             |   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |     END) >= 14 AS converted,
             |   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
             |     AS variant
             |  FROM events GROUP BY user_id),
             |a AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
             |   CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
             |     AS BIGINT) AS x
             |  FROM u GROUP BY 1),
             |r AS (SELECT
             |  min(CASE WHEN variant = 'A' THEN n END) AS n_a,
             |  min(CASE WHEN variant = 'A' THEN x END) AS x_a,
             |  min(CASE WHEN variant = 'B' THEN n END) AS n_b,
             |  min(CASE WHEN variant = 'B' THEN x END) AS x_b FROM a),
             |z AS (SELECT *,
             |  round((CAST(x_a AS DOUBLE) / n_a
             |      - CAST(x_b AS DOUBLE) / n_b)
             |    / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)
             |        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)))
             |      * (CAST(1 AS DOUBLE) / n_a
             |        + CAST(1 AS DOUBLE) / n_b)), 6) AS zv
             |  FROM r)
             |SELECT n_a, x_a, round(CAST(x_a AS DOUBLE) / n_a, 6)
             |   AS rate_a,
             | n_b, x_b, round(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
             | zv AS z, abs(zv) >= 1.959964 AS significant
             |FROM z""".stripMargin)),

    // Funnel latency quantiles (EventAnalytics.funnelLatency): time
    // from the greedy step-1 occurrence to each later step, exact
    // interpolated percentiles over epoch-microsecond LONGS (integer
    // subtraction — no timestamp-arithmetic parity risk). The oracle
    // reuses q155's min-after-min chain for the per-user times and
    // DuckDB's quantile_cont for the same interpolation.
    Q("q159_funnel_latency", (s, dir) =>
      graft.operators.EventAnalytics.funnelLatency(events(s, dir),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy(col("step_idx")),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
             |  JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
             |  JOIN s2 USING (user_id)
             |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
             |l2 AS (SELECT epoch_us(t2) - epoch_us(t1) AS lat
             |  FROM s2 JOIN s1 USING (user_id)),
             |l3 AS (SELECT epoch_us(t3) - epoch_us(t1) AS lat
             |  FROM s3 JOIN s1 USING (user_id))
             |SELECT 2 AS step_idx, 'click' AS step,
             |  CAST(count(*) AS BIGINT) AS n_users,
             |  round(quantile_cont(lat, 0.5), 1) AS p50_us,
             |  round(quantile_cont(lat, 0.9), 1) AS p90_us FROM l2
             |UNION ALL SELECT 3, 'purchase',
             |  CAST(count(*) AS BIGINT),
             |  round(quantile_cont(lat, 0.5), 1),
             |  round(quantile_cont(lat, 0.9), 1) FROM l3
             |ORDER BY step_idx""".stripMargin)),

    // NOTE (r16): the rows-only q160_hll_digest gate entry is
    // RETIRED — q192_hll_digest_bounded runs the identical two-append
    // digest pipeline under the hash gate; see the q172 retirement
    // note. The rel_err measurement face is OperatorsSpec's "hll
    // digest" floor.

    // Nearest-center assignment (Geo.nearestCenter): q154's fixture,
    // each customer assigned to its closest supplier hub within
    // 150 km (ties to the lower s_suppkey). The oracle reuses q154's
    // haversine replay plus one argmin row_number — census of
    // assignments per hub.
    Q("q161_geo_nearest", (s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") % 100).cast("double") - 50 + 0.25).as("lat"),
        ((col("c_custkey") % 340).cast("double") - 170 + 0.5).as("lon"))
      val ctr = t(s, dir, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") % 100).cast("double") - 50 + 0.75).as("clat"),
        ((col("s_suppkey") % 340).cast("double") - 170 + 0.25).as("clon"))
      graft.operators.Geo.nearestCenter(pts, "lat", "lon",
          ctr, "clat", "clon", maxRadiusKm = 150.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_assigned"),
          round(avg(col("distance_km")), 4).as("avg_km"))
        .orderBy(col("s_suppkey"))
    },
      Some("""WITH p AS (SELECT c_custkey,
             |   CAST(c_custkey % 100 AS DOUBLE) - 50 + 0.25 AS lat,
             |   CAST(c_custkey % 340 AS DOUBLE) - 170 + 0.5 AS lon
             |  FROM customer),
             |c AS (SELECT s_suppkey,
             |   CAST(s_suppkey % 100 AS DOUBLE) - 50 + 0.75 AS clat,
             |   CAST(s_suppkey % 340 AS DOUBLE) - 170 + 0.25 AS clon
             |  FROM supplier),
             |d AS (SELECT c_custkey, s_suppkey,
             |   round(2 * 6371.0088 * asin(sqrt(
             |     sin((clat - lat) * 3.141592653589793 / 180 / 2)
             |       * sin((clat - lat) * 3.141592653589793 / 180 / 2)
             |     + cos(lat * 3.141592653589793 / 180)
             |       * cos(clat * 3.141592653589793 / 180)
             |       * sin((clon - lon) * 3.141592653589793 / 180 / 2)
             |       * sin((clon - lon) * 3.141592653589793 / 180 / 2))),
             |     4) AS km
             |  FROM p, c),
             |n AS (SELECT c_custkey, s_suppkey, km, row_number() OVER (
             |   PARTITION BY c_custkey ORDER BY km ASC, s_suppkey ASC)
             |   AS rn
             |  FROM d WHERE km <= 150.0)
             |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_assigned,
             | round(avg(km), 4) AS avg_km
             |FROM n WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Count-Min sketch (CountMin.sketch/estimate), portable md5 hash
    // family: per-user event frequencies estimated from a 4x64
    // counter grid and compared against the exact groupBy. The
    // upper-bound property (est >= exact, collisions only add) shows
    // up as nonzero overcounts at width 64 over 150 users. RARE for
    // a sketch: the md5 family makes the ENTIRE build->estimate
    // chain SQL-replayable, so this is a full [O] gate, not a
    // rows-only emission.
    Q("q162_countmin", (s, dir) => {
      val ev = events(s, dir)
      val sk = graft.operators.CountMin.sketch(ev, "user_id",
        depth = 4, width = 64, portable = true)
      val est = graft.operators.CountMin.estimate(sk, ev, "user_id",
        depth = 4, width = 64, portable = true)
      val exact = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, Seq("user_id"))
        .select(col("user_id"), col("est"), col("exact_cnt"))
        .orderBy(col("user_id"))
    },
      Some("""WITH c AS (SELECT d,
             |   CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
             |       || ':' || CAST(d AS VARCHAR)), 1, 8) AS BIGINT)
             |     % 64 AS BIGINT) AS bucket,
             |   CAST(count(*) AS BIGINT) AS cnt
             |  FROM events, range(4) t(d)
             |  WHERE user_id IS NOT NULL GROUP BY 1, 2),
             |k AS (SELECT DISTINCT user_id FROM events
             |  WHERE user_id IS NOT NULL),
             |p AS (SELECT user_id, d,
             |   CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
             |       || ':' || CAST(d AS VARCHAR)), 1, 8) AS BIGINT)
             |     % 64 AS BIGINT) AS bucket
             |  FROM k, range(4) t(d)),
             |e AS (SELECT user_id, min(coalesce(cnt, 0)) AS est
             |  FROM p LEFT JOIN c USING (d, bucket) GROUP BY 1),
             |x AS (SELECT user_id, CAST(count(*) AS BIGINT)
             |   AS exact_cnt FROM events GROUP BY 1)
             |SELECT user_id, est, exact_cnt
             |FROM e JOIN x USING (user_id) ORDER BY user_id""".stripMargin)),

    // Persisted CMS digest (CountMin.append/estimateFromPath): the
    // same estimates through TWO append cycles (events split by
    // event_id parity) and a parquet round-trip. Counters are LINEAR
    // (sketch(A+B) = sketch(A) + sketch(B) cell for cell), so the
    // oracle is q162's SQL VERBATIM — append == rebuild exactly, and
    // the oracle proves it end-to-end rather than trusting the spec.
    Q("q163_countmin_digest", (s, dir) => {
      val ev = events(s, dir)
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q163_cms")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (root.exists()) rm(root)
      val path = root.toString + "/digest"
      graft.operators.CountMin.append(
        ev.filter(col("event_id") % 2 === 0), "user_id", path,
        depth = 4, width = 64, portable = true)
      graft.operators.CountMin.append(
        ev.filter(col("event_id") % 2 === 1), "user_id", path,
        depth = 4, width = 64, portable = true)
      val est = graft.operators.CountMin.estimateFromPath(
        s, path, ev, "user_id")
      val exact = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, Seq("user_id"))
        .select(col("user_id"), col("est"), col("exact_cnt"))
        .orderBy(col("user_id"))
    },
      Some("""WITH c AS (SELECT d,
             |   CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
             |       || ':' || CAST(d AS VARCHAR)), 1, 8) AS BIGINT)
             |     % 64 AS BIGINT) AS bucket,
             |   CAST(count(*) AS BIGINT) AS cnt
             |  FROM events, range(4) t(d)
             |  WHERE user_id IS NOT NULL GROUP BY 1, 2),
             |k AS (SELECT DISTINCT user_id FROM events
             |  WHERE user_id IS NOT NULL),
             |p AS (SELECT user_id, d,
             |   CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
             |       || ':' || CAST(d AS VARCHAR)), 1, 8) AS BIGINT)
             |     % 64 AS BIGINT) AS bucket
             |  FROM k, range(4) t(d)),
             |e AS (SELECT user_id, min(coalesce(cnt, 0)) AS est
             |  FROM p LEFT JOIN c USING (d, bucket) GROUP BY 1),
             |x AS (SELECT user_id, CAST(count(*) AS BIGINT)
             |   AS exact_cnt FROM events GROUP BY 1)
             |SELECT user_id, est, exact_cnt
             |FROM e JOIN x USING (user_id) ORDER BY user_id""".stripMargin)),

    // Batch sessionization (EventAnalytics.sessions): gaps-and-
    // islands at a 1-day gap (the generator's median inter-event gap
    // is ~7 h, so this genuinely splits: ~1.2k sessions over 150
    // users at sf0.01), censused per user. Gap arithmetic runs on
    // epoch-microsecond longs; the island flag is a pure function of
    // each user's timestamp multiset (equal-ts rows gap 0), so the
    // oracle replays the identical lag + running-sum windows.
    Q("q164_sessions", (s, dir) =>
      graft.operators.EventAnalytics.sessions(events(s, dir),
          "user_id", "ts", gapSeconds = 86400L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session_events"),
          round(avg(col("duration_us")) / 1000000.0, 1)
            .as("avg_duration_s"))
        .orderBy(col("user_id")),
      Some("""WITH o AS (SELECT user_id, epoch_us(ts) AS us
             |  FROM events WHERE ts IS NOT NULL),
             |f AS (SELECT user_id, us,
             |   CASE WHEN us - coalesce(lag(us) OVER (
             |       PARTITION BY user_id ORDER BY us), us)
             |     > 86400000000 THEN 1 ELSE 0 END AS nf
             |  FROM o),
             |i AS (SELECT user_id, us, sum(nf) OVER (
             |   PARTITION BY user_id ORDER BY us
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
             |   AS session_idx
             |  FROM f),
             |se AS (SELECT user_id, session_idx,
             |   CAST(count(*) AS BIGINT) AS n_events,
             |   max(us) - min(us) AS dur
             |  FROM i GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
             | CAST(sum(n_events) AS BIGINT) AS n_events,
             | CAST(max(n_events) AS BIGINT) AS max_session_events,
             | round(avg(dur) / 1000000.0, 1) AS avg_duration_s
             |FROM se GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SCD2 interval builder (Scd.scd2): each user's event_type
    // treated as a tracked dimension attribute — the change log
    // collapses to maximal validity intervals (same-instant writes
    // to the max-struct winner, no-op changes extended, half-open
    // [from, to) bounds). Census: intervals and current rows per
    // state. The oracle replays the dedupe/collapse/lead chain
    // window for window.
    Q("q165_scd2", (s, dir) =>
      graft.operators.Scd.scd2(events(s, dir), "user_id", "ts",
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(when(col("is_current"), 1L).otherwise(0L))
            .as("n_current"))
        .orderBy(col("event_type")),
      Some("""WITH d AS (SELECT user_id, ts, max(event_type) AS a
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT user_id, ts, a, lag(a) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS pa
             |  FROM d),
             |k AS (SELECT user_id, ts, a FROM c
             |  WHERE pa IS NULL OR pa <> a),
             |v AS (SELECT user_id, a, ts AS valid_from, lead(ts) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS valid_to
             |  FROM k)
             |SELECT a AS event_type,
             | CAST(count(*) AS BIGINT) AS n_intervals,
             | CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
             |   AS BIGINT) AS n_current
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Point-in-time snapshot (Scd.snapshotAt): the dimension as of
    // mid-month — per state, how many users held it at the instant.
    // Same interval chain as q165 plus the half-open containment
    // filter; a codegen'd filter the interval table would prune by
    // valid_from partitioning at scale.
    Q("q166_scd2_snapshot", (s, dir) =>
      graft.operators.Scd.snapshotAt(
          graft.operators.Scd.scd2(events(s, dir), "user_id", "ts",
            Seq("event_type")),
          lit("2024-01-16 00:00:00").cast("timestamp_ntz"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type")),
      Some("""WITH d AS (SELECT user_id, ts, max(event_type) AS a
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT user_id, ts, a, lag(a) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS pa
             |  FROM d),
             |k AS (SELECT user_id, ts, a FROM c
             |  WHERE pa IS NULL OR pa <> a),
             |v AS (SELECT user_id, a, ts AS valid_from, lead(ts) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS valid_to
             |  FROM k)
             |SELECT a AS event_type, CAST(count(*) AS BIGINT) AS n_users
             |FROM v
             |WHERE valid_from <= TIMESTAMP '2024-01-16 00:00:00'
             |  AND (valid_to IS NULL
             |    OR TIMESTAMP '2024-01-16 00:00:00' < valid_to)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact triangle census (GraphMetrics.clusteringCoefficients)
    // over the parts-bought-together graph: edge (a, b) iff parts
    // co-occur in >= 2 orders (3.6k edges, 96 triangles at sf0.01).
    // The operator runs the degree-ORIENTED wedge join (O(m^1.5)
    // bound, hub-skew-proof); the oracle counts the same triangles
    // by the independent a<b<c three-way join — agreement across
    // formulations is the point of the gate.
    Q("q167_triangles", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val e = li.alias("l1").join(li.alias("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey")
            && col("l1.l_partkey") < col("l2.l_partkey"))
        .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).drop("w")
      graft.operators.GraphMetrics.clusteringCoefficients(e, "a", "b")
        .filter(col("n_triangles") > 0)
        .select(col("node"), col("degree"), col("n_triangles"),
          col("lcc"))
        .orderBy(col("node"))
    },
      Some("""WITH e AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
             |  FROM lineitem l1 JOIN lineitem l2
             |   ON l1.l_orderkey = l2.l_orderkey
             |    AND l1.l_partkey < l2.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
             |  FROM (SELECT a AS node FROM e
             |    UNION ALL SELECT b FROM e) GROUP BY 1),
             |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM e e1 JOIN e e2 ON e2.a = e1.b
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |tc AS (SELECT node, CAST(count(*) AS BIGINT)
             |   AS n_triangles
             |  FROM (SELECT x AS node FROM tri
             |    UNION ALL SELECT y FROM tri
             |    UNION ALL SELECT z FROM tri) GROUP BY 1)
             |SELECT node, degree, n_triangles,
             | round(n_triangles * 2.0 / (degree * (degree - 1)), 4)
             |   AS lcc
             |FROM deg JOIN tc USING (node)
             |WHERE n_triangles > 0 ORDER BY node""".stripMargin)),

    // Sorted-neighborhood blocking (Blocking.sortedNeighborPairs):
    // candidate pairs within a 4-wide window of the sort by a fuzzy
    // key (first 12 chars of the whitespace-stripped lowered text —
    // exact dups and the 'zzz'-suffixed near-dups share it, so they
    // land adjacent). Census by window distance with the exact-text
    // screen applied: the classic generate-then-screen linkage
    // pipeline, O(n*w) candidates by construction. The oracle
    // replays the global row_number and the banded self-join.
    Q("q168_sorted_neighbor", (s, dir) => {
      val docs = docsWithDups(s, dir)
      val keyed = docs.select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "\\s+", ""),
          1, 12).as("bkey"))
      val pairs = graft.operators.Blocking.sortedNeighborPairs(
        keyed, "doc_id", "bkey", window = 4)
      val texts = docs.select(col("doc_id"), col("text"))
      pairs
        .join(texts.select(col("doc_id").as("a"),
          col("text").as("__ta")), Seq("a"))
        .join(texts.select(col("doc_id").as("b"),
          col("text").as("__tb")), Seq("b"))
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__ta") === col("__tb"), 1L).otherwise(0L))
            .as("n_exact"))
        .orderBy(col("dist"))
    },
      Some(s"""WITH docs AS ($docsWithDupsSql),
             |k AS (SELECT doc_id,
             |   substr(regexp_replace(lower(text), '\\s+', '', 'g'),
             |     1, 12) AS bkey
             |  FROM docs),
             |r AS (SELECT doc_id, row_number() OVER (
             |   ORDER BY bkey, doc_id) AS rnk
             |  FROM k),
             |p AS (SELECT r1.doc_id AS a, r2.doc_id AS b,
             |   r2.rnk - r1.rnk AS dist
             |  FROM r r1 JOIN r r2
             |   ON r2.rnk > r1.rnk AND r2.rnk <= r1.rnk + 3),
             |e AS (SELECT p.dist, (da.text = db.text) AS ex
             |  FROM p JOIN docs da ON da.doc_id = p.a
             |  JOIN docs db ON db.doc_id = p.b)
             |SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs,
             | CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT)
             |   AS n_exact
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Persisted KLL quantile digest (Profile.appendKllDigest /
    // kllQuantiles): two append cycles (lineitem split by orderkey
    // parity) into one digest, per-column p50/p90/p99 merged at
    // read. Rows-only by necessity — KLL compaction is randomized,
    // so exact output values wobble run to run — and the q160/q50
    // contract applies: each row carries the estimate NEXT TO the
    // exact percentile and the measured rank error, so the gate
    // sees sketch quality numerically (spec floor: rank error 5%;
    // k=200 is ~1.65% at 99% confidence).
    Q("q169_kll_digest", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q169_kll")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (root.exists()) rm(root)
      val path = root.toString + "/digest"
      val cols = Seq("l_extendedprice", "l_quantity")
      graft.operators.Profile.appendKllDigest(
        li.filter(col("l_orderkey") % 2 === 0), cols, path)
      graft.operators.Profile.appendKllDigest(
        li.filter(col("l_orderkey") % 2 === 1), cols, path)
      val est = graft.operators.Profile.kllQuantiles(
        s, path, Seq(0.5, 0.9, 0.99))
      // r19 (guide §2.5): spread the projected input so the exact-
      // percentile count-map build and the rank-error count run at
      // session parallelism instead of inside the single-partition
      // scan task; both are partitioning-exact (integer counts; the
      // 0.0/1.0 indicator sums are exactly representable doubles)
      val longVals = graft.operators.Partitioning.spread(
          li.select(cols.map(col): _*))
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"),
            col(c).cast("double").as("v"))): _*)).as("x"))
        .select(col("x.col_name"), col("x.v"))
      val qsArr = array(lit(0.5), lit(0.9), lit(0.99))
      val exacts = longVals.groupBy(col("col_name"))
        .agg(percentile(col("v"), qsArr).as("__ex"))
        .select(col("col_name"),
          posexplode(col("__ex")).as(Seq("__i", "__e")))
        .select(col("col_name"),
          element_at(qsArr, col("__i") + 1).as("q"),
          round(col("__e"), 4).as("exact_value"))
      val ranks = est.join(longVals, Seq("col_name"))
        .groupBy(col("col_name"), col("q"), col("value_est"))
        .agg(round(abs(sum(when(col("v") <= col("value_est"), 1.0)
            .otherwise(0.0)) / count(lit(1)) - col("q")), 4)
          .as("rank_err"))
      ranks.join(exacts, Seq("col_name", "q"))
        .select(col("col_name"), col("q"),
          round(col("value_est"), 4).as("value_est"),
          col("exact_value"), col("rank_err"))
        .orderBy(col("col_name"), col("q"))
    },
      None), // KLL compaction is randomized; the emitted rank_err
             // column is the gate signal (spec floor 5%)

    // k-core decomposition (GraphMetrics.kCore): the 3-core of the
    // q167 parts-bought-together graph — simultaneous peeling to
    // fixpoint (9 rounds at sf0.01). The oracle unrolls 12 peeling
    // rounds as generated CTE pairs: peeling is IDEMPOTENT at the
    // fixpoint, so an over-unrolled replay is exact, the q58
    // PageRank-unroll trick applied to a converging loop.
    Q("q170_kcore", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val e = li.alias("l1").join(li.alias("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey")
            && col("l1.l_partkey") < col("l2.l_partkey"))
        .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).drop("w")
      graft.operators.GraphMetrics.kCore(e, "a", "b", k = 3)
        .orderBy(col("node"))
    },
      Some {
        // every CTE references its predecessor 3x — MATERIALIZED
        // stops DuckDB's default inlining from expanding the
        // 12-round chain exponentially (3^12 scans of lineitem)
        val rounds = 12
        val peel = (1 to rounds).map { i =>
          s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg
             |  FROM (SELECT a AS node FROM e${i - 1}
             |    UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
             |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
             |  JOIN d$i da ON da.node = e.a
             |  JOIN d$i db ON db.node = e.b
             |  WHERE da.deg >= 3 AND db.deg >= 3)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT l1.l_partkey AS a, l2.l_partkey AS b
           |  FROM lineitem l1 JOIN lineitem l2
           |   ON l1.l_orderkey = l2.l_orderkey
           |    AND l1.l_partkey < l2.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |$peel
           |SELECT node, CAST(count(*) AS BIGINT) AS degree
           |FROM (SELECT a AS node FROM e$rounds
           |  UNION ALL SELECT b FROM e$rounds)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Benford first-digit census (AbTest.benford) on l_extendedprice:
    // TPC-H prices are uniform-ish, NOT Benford — exactly what the
    // screen flags on synthetic data, so the chi2 terms are large and
    // the census is a real demonstration, not a vacuous pass. Digit
    // extraction is the log-free threshold ladder (log10-ulp decade
    // boundaries are the one place two engines can disagree), so the
    // oracle replays it as a literal CASE.
    Q("q171_benford", (s, dir) =>
      graft.operators.AbTest.benford(t(s, dir, "lineitem"),
          "l_extendedprice", maxMagnitude = 6)
        .orderBy(col("digit")),
      Some("""WITH v AS (SELECT abs(CAST(l_extendedprice AS DOUBLE))
             |   AS v FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL),
             |dg AS (SELECT CAST(least(9, CASE
             |   WHEN v >= 1000000.0 THEN floor(v / 1000000.0)
             |   WHEN v >= 100000.0 THEN floor(v / 100000.0)
             |   WHEN v >= 10000.0 THEN floor(v / 10000.0)
             |   WHEN v >= 1000.0 THEN floor(v / 1000.0)
             |   WHEN v >= 100.0 THEN floor(v / 100.0)
             |   WHEN v >= 10.0 THEN floor(v / 10.0)
             |   WHEN v >= 1.0 THEN floor(v)
             |   END) AS INT) AS digit
             |  FROM v WHERE v >= 1.0 AND v < 10000000.0),
             |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
             |  FROM dg GROUP BY 1),
             |ex AS (SELECT d AS digit, log10(1.0 + 1.0 / d) AS p
             |  FROM (SELECT CAST(range + 1 AS INT) AS d FROM range(9))),
             |tot AS (SELECT sum(n_obs) AS n FROM o)
             |SELECT ex.digit, coalesce(o.n_obs, 0) AS n_obs,
             | round(coalesce(o.n_obs, 0) / n, 6) AS p_obs,
             | round(ex.p, 6) AS p_benford,
             | round(pow(coalesce(o.n_obs, 0) - n * ex.p, 2)
             |   / (n * ex.p), 4) AS chi2_term
             |FROM ex LEFT JOIN o USING (digit), tot
             |ORDER BY digit""".stripMargin)),

    // NOTE (r16, VERDICT r15 item 7): the rows-only q172_hll_overlap
    // gate entry is RETIRED — q193_hll_overlap_bounded runs the
    // IDENTICAL two-digest inclusion-exclusion pipeline under the
    // hash gate (exact intersect + within_bound TRUE), and the
    // numeric rel_err face stays pinned in OperatorsSpec ("hll
    // digest" floors). Same for q160 vs q192 below. No coverage
    // lost; two no_oracle rows gone.

    // Equi-width histogram (Profile.histogram): 20 bins over
    // l_extendedprice with auto-derived bounds, empty bins included.
    // The oracle recomputes min/max and replays the identical
    // floor((v - lo) / w) assignment with the closed top edge.
    Q("q173_histogram", (s, dir) =>
      graft.operators.Profile.histogram(t(s, dir, "lineitem"),
          "l_extendedprice", bins = 20)
        .select(col("bin"), round(col("bin_lo"), 4).as("bin_lo"),
          round(col("bin_hi"), 4).as("bin_hi"), col("n"))
        .orderBy(col("bin")),
      Some("""WITH st AS (SELECT min(CAST(l_extendedprice AS DOUBLE))
             |   AS lo, max(CAST(l_extendedprice AS DOUBLE)) AS hi
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |w AS (SELECT lo, hi, (hi - lo) / 20 AS w FROM st),
             |b AS (SELECT CAST(least(floor(
             |     (CAST(l_extendedprice AS DOUBLE) - lo) / w.w), 19)
             |   AS INT) AS bin
             |  FROM lineitem, w
             |  WHERE l_extendedprice IS NOT NULL
             |   AND CAST(l_extendedprice AS DOUBLE) >= lo
             |   AND CAST(l_extendedprice AS DOUBLE) <= hi),
             |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n
             |  FROM b GROUP BY 1),
             |sp AS (SELECT CAST(range AS INT) AS bin FROM range(20))
             |SELECT sp.bin,
             | round(lo + sp.bin * w.w, 4) AS bin_lo,
             | round(CASE WHEN sp.bin = 19 THEN hi
             |   ELSE lo + (sp.bin + 1) * w.w END, 4) AS bin_hi,
             | coalesce(c.n, 0) AS n
             |FROM sp LEFT JOIN c USING (bin), w
             |ORDER BY sp.bin""".stripMargin)),

    // SCD2 as-of enrichment (Scd.enrichAsOf): every event joined to
    // the user's dimension state one hour BEFORE it happened (the
    // production face: facts get the attributes that were current at
    // fact time, not now). Census over (own type, as-of state) —
    // events before the user's first change surface with null state
    // through the left join. Key-equi join + containment residual,
    // not a binning rewrite: a key's interval count is its change
    // count.
    Q("q174_scd2_enrich", (s, dir) => {
      val ev = events(s, dir)
      val dim = graft.operators.Scd.scd2(
        ev.select(col("user_id"), col("ts"),
          col("event_type").as("state")),
        "user_id", "ts", Seq("state"))
      val facts = ev.select(col("user_id"), col("event_type"),
        (col("ts") - expr("INTERVAL 1 HOUR")).as("asof"))
      graft.operators.Scd.enrichAsOf(facts, "asof", dim, "user_id")
        .groupBy(col("event_type"), col("state"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("state"))
    },
      Some("""WITH d AS (SELECT user_id, ts, max(event_type) AS a
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT user_id, ts, a, lag(a) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS pa
             |  FROM d),
             |k AS (SELECT user_id, ts, a FROM c
             |  WHERE pa IS NULL OR pa <> a),
             |v AS (SELECT user_id, a, ts AS valid_from, lead(ts) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS valid_to
             |  FROM k),
             |f AS (SELECT user_id, event_type,
             |   ts - INTERVAL 1 HOUR AS asof
             |  FROM events WHERE ts IS NOT NULL)
             |SELECT f.event_type, v.a AS state,
             | CAST(count(*) AS BIGINT) AS n
             |FROM f LEFT JOIN v ON v.user_id = f.user_id
             |  AND v.valid_from <= f.asof
             |  AND (v.valid_to IS NULL OR f.asof < v.valid_to)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Dimension diff between two instants (Scd.changedBetween):
    // which users' state changed between Jan 10 and Jan 20, plus
    // users first seen in between ('added'). Two snapshot filters +
    // one full-outer join — the weekly dimension-audit face.
    Q("q175_scd2_diff", (s, dir) => {
      val dim = graft.operators.Scd.scd2(
        events(s, dir).select(col("user_id"), col("ts"),
          col("event_type").as("state")),
        "user_id", "ts", Seq("state"))
      graft.operators.Scd.changedBetween(dim,
          lit("2024-01-10 00:00:00").cast("timestamp_ntz"),
          lit("2024-01-20 00:00:00").cast("timestamp_ntz"), "user_id")
        .orderBy(col("user_id"))
    },
      Some("""WITH d AS (SELECT user_id, ts, max(event_type) AS a
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT user_id, ts, a, lag(a) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS pa
             |  FROM d),
             |k AS (SELECT user_id, ts, a FROM c
             |  WHERE pa IS NULL OR pa <> a),
             |v AS (SELECT user_id, a, ts AS valid_from, lead(ts) OVER (
             |   PARTITION BY user_id ORDER BY ts) AS valid_to
             |  FROM k),
             |s1 AS (SELECT user_id, a FROM v
             |  WHERE valid_from <= TIMESTAMP '2024-01-10 00:00:00'
             |   AND (valid_to IS NULL
             |    OR TIMESTAMP '2024-01-10 00:00:00' < valid_to)),
             |s2 AS (SELECT user_id, a FROM v
             |  WHERE valid_from <= TIMESTAMP '2024-01-20 00:00:00'
             |   AND (valid_to IS NULL
             |    OR TIMESTAMP '2024-01-20 00:00:00' < valid_to))
             |SELECT user_id, s1.a AS state_before, s2.a AS state_after,
             | CASE WHEN s1.a IS NULL THEN 'added'
             |   WHEN s2.a IS NULL THEN 'removed'
             |   WHEN s1.a <> s2.a THEN 'changed' END AS change
             |FROM s1 FULL OUTER JOIN s2 USING (user_id)
             |WHERE s1.a IS NULL OR s2.a IS NULL OR s1.a <> s2.a
             |ORDER BY user_id""".stripMargin)),

    // Path n-gram census (EventAnalytics.pathNgrams): every run of 3
    // consecutive events per user, counted corpus-wide — the
    // order-3 generalization of the q157 transition matrix, same
    // (ts, type) determinism pin, one window + one census agg.
    Q("q176_paths", (s, dir) =>
      graft.operators.EventAnalytics.pathNgrams(events(s, dir),
          "user_id", "ts", "event_type", n = 3)
        .orderBy(col("path")),
      Some("""WITH p AS (SELECT event_type AS t0,
             |   lead(event_type, 1) OVER w AS t1,
             |   lead(event_type, 2) OVER w AS t2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |   ORDER BY ts, event_type))
             |SELECT t0 || '>' || t1 || '>' || t2 AS path,
             | CAST(count(*) AS BIGINT) AS n
             |FROM p WHERE t1 IS NOT NULL AND t2 IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Welch's t-test (AbTest.welchT): event `value` by user-parity
    // arms — (n, mean, var) per arm, t and Welch–Satterthwaite df as
    // pure arithmetic, replayed term for term (the q158 discipline;
    // variances round to 4 — they sit near 1e1-1e4 where cross-engine
    // summation-order ulps live below that granularity).
    Q("q177_welch_t", (s, dir) =>
      graft.operators.AbTest.welchT(
        events(s, dir).withColumn("arm",
          when(col("user_id") % 2 === 0, "A").otherwise("B")),
        "arm", "value", "A", "B"),
      Some("""WITH u AS (SELECT
             |   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS g,
             |   CAST(value AS DOUBLE) AS v
             |  FROM events WHERE value IS NOT NULL
             |   AND NOT isnan(CAST(value AS DOUBLE))),
             |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |   avg(v) AS m, var_samp(v) AS s2
             |  FROM u GROUP BY 1),
             |r AS (SELECT
             |  min(CASE WHEN g = 'A' THEN n END) AS n_a,
             |  min(CASE WHEN g = 'A' THEN m END) AS m_a,
             |  min(CASE WHEN g = 'A' THEN s2 END) AS s2_a,
             |  min(CASE WHEN g = 'B' THEN n END) AS n_b,
             |  min(CASE WHEN g = 'B' THEN m END) AS m_b,
             |  min(CASE WHEN g = 'B' THEN s2 END) AS s2_b FROM a)
             |SELECT n_a, round(m_a, 6) AS mean_a,
             | round(s2_a, 6) AS var_a,
             | n_b, round(m_b, 6) AS mean_b, round(s2_b, 6) AS var_b,
             | round((m_a - m_b)
             |   / sqrt(s2_a / n_a + s2_b / n_b), 6) AS t,
             | round(pow(s2_a / n_a + s2_b / n_b, 2)
             |   / (pow(s2_a / n_a, 2) / (n_a - 1)
             |    + pow(s2_b / n_b, 2) / (n_b - 1)), 4) AS df
             |FROM r""".stripMargin)),

    // Pearson chi-square independence (AbTest.chiSquareIndependence):
    // is event_type independent of the user-parity arm? Full
    // contingency arithmetic — margins, expected counts incl. empty
    // observed cells, (o-e)^2/e — replayed in SQL.
    Q("q178_chi2_independence", (s, dir) =>
      graft.operators.AbTest.chiSquareIndependence(
        events(s, dir).withColumn("arm",
          when(col("user_id") % 2 === 0, "A").otherwise("B")),
        "event_type", "arm"),
      Some("""WITH u AS (SELECT event_type AS a,
             |   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS b
             |  FROM events WHERE event_type IS NOT NULL),
             |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
             |  FROM u GROUP BY 1, 2),
             |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra
             |  FROM cells GROUP BY 1),
             |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb
             |  FROM cells GROUP BY 1),
             |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |grid AS (SELECT ra.a, cb.b, ra.ra, cb.cb, nn.n,
             |   coalesce(cells.o, 0) AS o,
             |   ra.ra * cb.cb / CAST(nn.n AS DOUBLE) AS e
             |  FROM ra CROSS JOIN cb CROSS JOIN nn
             |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b)
             |SELECT round(sum(pow(o - e, 2) / e), 4) AS chi2,
             | CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1)
             |   AS BIGINT) AS dof,
             | CAST(max(n) AS BIGINT) AS n
             |FROM grid""".stripMargin)),

    // Mann–Whitney U (AbTest.mannWhitneyU): the rank-sum sibling on
    // the same arms — pooled midranks with the exact tie handling
    // and the tie-corrected normal approximation, every term
    // replayed via rank()/count() windows.
    Q("q179_mann_whitney", (s, dir) =>
      graft.operators.AbTest.mannWhitneyU(
        events(s, dir).withColumn("arm",
          when(col("user_id") % 2 === 0, "A").otherwise("B")),
        "arm", "value", "A", "B"),
      Some("""WITH u AS (SELECT
             |   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS g,
             |   CAST(value AS DOUBLE) AS v
             |  FROM events WHERE value IS NOT NULL
             |   AND NOT isnan(CAST(value AS DOUBLE))),
             |rk AS (SELECT g, v, rank() OVER (ORDER BY v) AS r,
             |   count(*) OVER (PARTITION BY v) AS t
             |  FROM u),
             |m AS (SELECT g, r + (t - 1) / 2.0 AS mid, t FROM rk),
             |a AS (SELECT
             |  CAST(sum(CASE WHEN g = 'A' THEN 1 END) AS BIGINT)
             |    AS n_a,
             |  CAST(sum(CASE WHEN g = 'B' THEN 1 END) AS BIGINT)
             |    AS n_b,
             |  sum(CASE WHEN g = 'A' THEN mid END) AS ra,
             |  sum((pow(t, 3) - t) / t) AS tt FROM m)
             |SELECT n_a, n_b,
             | round(ra - n_a * (n_a + 1) / 2.0, 1) AS u_a,
             | round((ra - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
             |   / sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1)
             |     - tt / (CAST(n_a + n_b AS DOUBLE)
             |       * (n_a + n_b - 1)))), 6) AS z
             |FROM a""".stripMargin)),

    // Jensen–Shannon drift (Profile.jsDrift): how far the `lang`
    // distribution moved between the doc_id-parity snapshots, in
    // bits — symmetric, bounded, defined across one-sided categories
    // (the mixture term). The oracle replays the mixture arithmetic
    // with log2.
    Q("q180_js_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Profile.jsDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang")
    },
      Some("""WITH b AS (SELECT lang AS c, CAST(count(*) AS BIGINT)
             |   AS nb FROM documents
             |  WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
             |a AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS na
             |  FROM documents
             |  WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
             |j AS (SELECT coalesce(b.nb, 0) AS nb,
             |   coalesce(a.na, 0) AS na
             |  FROM b FULL OUTER JOIN a USING (c)),
             |tt AS (SELECT CAST(sum(nb) AS BIGINT) AS tb,
             |   CAST(sum(na) AS BIGINT) AS ta,
             |   CAST(count(*) AS BIGINT) AS k FROM j),
             |terms AS (SELECT tb, ta, k,
             |   nb / CAST(tb AS DOUBLE) AS p,
             |   na / CAST(ta AS DOUBLE) AS q,
             |   (nb / CAST(tb AS DOUBLE) + na / CAST(ta AS DOUBLE))
             |     / 2.0 AS mm
             |  FROM j, tt)
             |SELECT max(tb) AS n_before, max(ta) AS n_after,
             | max(k) AS n_categories,
             | round(sum(
             |   CASE WHEN p > 0 THEN p * log2(p / mm) / 2.0
             |     ELSE 0 END
             |   + CASE WHEN q > 0 THEN q * log2(q / mm) / 2.0
             |     ELSE 0 END), 6) AS jsd_bits
             |FROM terms""".stripMargin)),

    // Gini concentration (Profile.gini): how concentrated revenue is
    // across lineitem rows — global ascending rank (range-partitioned
    // sort-rank machinery, no one-task window) folded through the
    // closed-form 2*sum(i*x)/(n*sum(x)) - (n+1)/n. Ties commute in
    // sum(i*x), so the oracle's row_number ordering is equivalent.
    Q("q181_gini", (s, dir) =>
      graft.operators.Profile.gini(t(s, dir, "lineitem"),
        "l_extendedprice"),
      Some("""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |r AS (SELECT x, row_number() OVER (ORDER BY x) AS i
             |  FROM v)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             | round(sum(x), 4) AS total,
             | round(2.0 * sum(i * x) / (count(*) * sum(x))
             |   - (count(*) + 1.0) / count(*), 6) AS gini
             |FROM r""".stripMargin)),

    // Personalized PageRank (PageRank.personalized): q58's graph,
    // restart mass on seeds {0..4} — "central RELATIVE to these
    // nodes", the seed-expansion score. Same unrolled-CTE oracle
    // trick as q58, with the restart term (1-d)*p(v) carried on the
    // vertex table. Seed 999 is absent from the graph and must be
    // ignored with the mass renormalized over the present five.
    Q("q182_pagerank_personalized", (s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 50).as("src"),
          (col("o_orderkey") % 50).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val seeds = Seq(0L, 1L, 2L, 3L, 4L, 999L).toDF("id")
      PageRank.personalized(edges, "src", "dst", seeds, "id",
          maxIters = 10)
        .select(col("id"), round(col("rank"), 8).as("rank"))
        .orderBy(col("id"))
    }, Some {
      val steps = (1 to 10).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT v.id,
           |   CAST(0.15 AS DOUBLE) * v.p
           |     + CAST(0.85 AS DOUBLE) * coalesce(s.c, 0) AS rank
           |  FROM verts v LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.rank / d.deg) AS c
           |    FROM edges e JOIN p${i - 1} p ON e.src = p.id
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON v.id = s.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 50 AS dst
         |  FROM orders WHERE o_custkey % 50 != o_orderkey % 50),
         |verts AS MATERIALIZED (
         |  SELECT id, CASE WHEN id IN (0, 1, 2, 3, 4)
         |    THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS p
         |  FROM (SELECT DISTINCT id FROM (
         |    SELECT src AS id FROM edges
         |    UNION SELECT dst AS id FROM edges))),
         |deg AS MATERIALIZED (
         |  SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |p0 AS (SELECT id, p AS rank FROM verts),
         |$steps
         |SELECT id, round(rank, 8) AS rank FROM p10 ORDER BY id""".stripMargin
    }),

    // IR ranking evaluation (Search.evalRanking): BM25 top-10 (q110's
    // three queries) judged against all-query-terms-present relevance
    // — per query recall@10 / MRR@10 / nDCG@10, every metric pure
    // arithmetic over the judged hits (the yardstick the retrieval
    // family is tuned by; 17/265/249 relevant docs per query at
    // sf0.01, so recall is genuinely partial). The oracle replays
    // q110's BM25 chain, the token-subset qrels, and the metric
    // arithmetic including the ideal-DCG prefix sum.
    Q("q183_eval_ranking", (s, dir) => {
      import s.implicits._
      val queries = Seq((1L, "dup spark"), (2L, "vector join table"),
        (3L, "the fast key")).toDF("qid", "qtext")
      val docs = t(s, dir, "documents")
      val results = graft.operators.Search.bm25Batch(docs, "doc_id",
        "text", queries, "qid", "qtext", k = 10)
      val qterms = queries.select(col("qid"),
          explode(TF.tokens(col("qtext"))).as("__term")).distinct()
      val nq = qterms.groupBy(col("qid")).agg(count(lit(1)).as("__nt"))
      val dterms = docs.select(col("doc_id"),
        explode(TF.tokens(col("text"))).as("__term")).distinct()
      val qrels = qterms.join(dterms, Seq("__term"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("__hit"))
        .join(broadcast(nq), Seq("qid"))
        .filter(col("__hit") === col("__nt"))
        .select(col("qid"), col("doc_id"))
      graft.operators.Search.evalRanking(results, "qid", "doc_id",
          "rank", qrels, "qid", "doc_id", k = 10)
        .orderBy(col("qid"))
    },
      Some(s"""WITH q(qid, qtext) AS (VALUES (1, 'dup spark'),
              |   (2, 'vector join table'), (3, 'the fast key')),
              |qt AS (SELECT DISTINCT qid, unnest(${sqlTokens("qtext")})
              |   AS term FROM q),
              |nq AS (SELECT qid, count(*) AS nt FROM qt GROUP BY 1),
              |base AS (SELECT doc_id, ${sqlTokens("text")} AS toks
              |  FROM documents),
              |stats AS (SELECT count(*) AS n,
              |   avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM base),
              |d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
              |   unnest(toks) AS term FROM base),
              |tf AS (SELECT doc_id, dl, term,
              |   CAST(count(*) AS DOUBLE) AS tf FROM d
              |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
              |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
              |  FROM tf GROUP BY 1),
              |sc AS (SELECT qt.qid, tf.doc_id,
              |   round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
              |     * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
              |     AS score
              |  FROM tf JOIN dfq USING (term) JOIN qt USING (term), stats
              |  GROUP BY 1, 2),
              |res AS (SELECT qid, doc_id, row_number() OVER (
              |   PARTITION BY qid ORDER BY score DESC, doc_id ASC)
              |   AS rnk FROM sc),
              |dd AS (SELECT DISTINCT doc_id, term FROM d),
              |qrels AS (SELECT qt.qid, dd.doc_id
              |  FROM qt JOIN dd USING (term) JOIN nq USING (qid)
              |  GROUP BY qt.qid, dd.doc_id, nq.nt
              |  HAVING count(DISTINCT dd.term) = nt),
              |nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel
              |  FROM qrels GROUP BY 1),
              |hits AS (SELECT res.qid, res.rnk FROM res
              |  JOIN qrels ON qrels.qid = res.qid
              |   AND qrels.doc_id = res.doc_id
              |  WHERE res.rnk <= 10),
              |per AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_hits,
              |   min(rnk) AS first_hit,
              |   sum(1.0 / log2(rnk + 1)) AS dcg
              |  FROM hits GROUP BY 1),
              |ic AS (SELECT qid, sum(1.0 / log2(r.range + 2)) AS idcg
              |  FROM nrel, range(10) r
              |  WHERE r.range < least(10, n_rel) GROUP BY 1)
              |SELECT nrel.qid, n_rel,
              | coalesce(n_hits, 0) AS n_hits,
              | round(coalesce(n_hits, 0) / CAST(n_rel AS DOUBLE), 6)
              |   AS recall_at_k,
              | round(coalesce(1.0 / first_hit, 0.0), 6) AS mrr_at_k,
              | round(coalesce(dcg, 0.0) / idcg, 6) AS ndcg_at_k
              |FROM nrel LEFT JOIN per USING (qid)
              |JOIN ic USING (qid)
              |ORDER BY qid""".stripMargin)),

    // Spearman rank correlation (AbTest.spearmanCorr): quantity vs
    // price — Pearson over exact midranks, tie handling shared with
    // q179. The oracle replays the two rank windows and corr().
    Q("q184_spearman", (s, dir) =>
      graft.operators.AbTest.spearmanCorr(t(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice"),
      Some("""WITH c AS (SELECT CAST(l_quantity AS DOUBLE) AS a,
             |   CAST(l_extendedprice AS DOUBLE) AS b
             |  FROM lineitem
             |  WHERE l_quantity IS NOT NULL
             |   AND l_extendedprice IS NOT NULL),
             |r AS (SELECT
             |   rank() OVER (ORDER BY a)
             |     + (count(*) OVER (PARTITION BY a) - 1) / 2.0 AS ra,
             |   rank() OVER (ORDER BY b)
             |     + (count(*) OVER (PARTITION BY b) - 1) / 2.0 AS rb
             |  FROM c)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             | round(corr(ra, rb), 6) AS rho
             |FROM r""".stripMargin)),

    // Windowed funnel (EventAnalytics.funnelWindowed): q155's steps
    // under a 7-day conversion window anchored at the FIRST-TOUCH
    // view — the attribution semantics that keeps the census
    // replayable as the min-after-min chain plus the window bound.
    Q("q185_funnel_windowed", (s, dir) =>
      graft.operators.EventAnalytics.funnelWindowed(events(s, dir),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), windowSeconds = 604800L)
        .orderBy(col("step_idx")),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
             |  JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND ts > t1
             |   AND epoch_us(ts) <= epoch_us(t1) + 604800000000
             |  GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
             |  JOIN s2 USING (user_id) JOIN s1 USING (user_id)
             |  WHERE event_type = 'purchase' AND ts > t2
             |   AND epoch_us(ts) <= epoch_us(t1) + 604800000000
             |  GROUP BY 1)
             |SELECT 1 AS step_idx, 'view' AS step,
             |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
             |UNION ALL SELECT 2, 'click',
             |  CAST((SELECT count(*) FROM s2) AS BIGINT)
             |UNION ALL SELECT 3, 'purchase',
             |  CAST((SELECT count(*) FROM s3) AS BIGINT)
             |ORDER BY step_idx""".stripMargin)),

    // Time-weighted average (EventAnalytics.timeWeightedAvg): each
    // user's `value` signal weighted by how long each observation
    // stayed current — the correct mean over irregular sampling.
    // Epoch-micros weights, (ts, value) tie order, zero-duration
    // users emit null; the oracle replays the lead window.
    Q("q186_twap", (s, dir) =>
      graft.operators.EventAnalytics.timeWeightedAvg(events(s, dir),
          "user_id", "ts", "value")
        .orderBy(col("user_id")),
      Some("""WITH o AS (SELECT user_id, epoch_us(ts) AS us,
             |   CAST(value AS DOUBLE) AS v
             |  FROM events
             |  WHERE ts IS NOT NULL AND value IS NOT NULL),
             |d AS (SELECT user_id, us, v,
             |   lead(us) OVER (PARTITION BY user_id
             |    ORDER BY us, v) - us AS dur
             |  FROM o)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
             | max(us) - min(us) AS duration_us,
             | CASE WHEN max(us) - min(us) > 0 THEN
             |   round(sum(v * dur) / (max(us) - min(us)), 6) END
             |   AS twap
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Composed: funnel conversion as an A/B readout —
    // funnelUsersWindowed's greedy per-user progression (2-day
    // first-touch window: 41/150 convert at sf0.01, a REAL split —
    // the unwindowed chain converts everyone, q158's degenerate-cut
    // lesson) feeds twoProportionZ on the user-parity arms. Two
    // independently-oracled operators under ONE oracle (the q152
    // composition discipline).
    Q("q187_funnel_ab", (s, dir) => {
      val fu = graft.operators.EventAnalytics.funnelUsersWindowed(
        events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSeconds = 172800L)
      val users = fu
        .withColumn("variant",
          when(col("user") % 2 === 0, "A").otherwise("B"))
        .withColumn("converted", col("steps_reached") >= 3)
      graft.operators.AbTest.twoProportionZ(users, "variant",
        "converted", "A", "B")
    },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
             |  JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND ts > t1
             |   AND epoch_us(ts) <= epoch_us(t1) + 172800000000
             |  GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
             |  JOIN s2 USING (user_id) JOIN s1 USING (user_id)
             |  WHERE event_type = 'purchase' AND ts > t2
             |   AND epoch_us(ts) <= epoch_us(t1) + 172800000000
             |  GROUP BY 1),
             |u AS (SELECT DISTINCT user_id FROM events
             |  WHERE event_type IN ('view', 'click', 'purchase')),
             |arms AS (SELECT
             |   CASE WHEN u.user_id % 2 = 0 THEN 'A' ELSE 'B' END
             |     AS variant,
             |   s3.user_id IS NOT NULL AS converted
             |  FROM u LEFT JOIN s3 USING (user_id)),
             |a AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
             |   CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
             |     AS BIGINT) AS x
             |  FROM arms GROUP BY 1),
             |r AS (SELECT
             |  min(CASE WHEN variant = 'A' THEN n END) AS n_a,
             |  min(CASE WHEN variant = 'A' THEN x END) AS x_a,
             |  min(CASE WHEN variant = 'B' THEN n END) AS n_b,
             |  min(CASE WHEN variant = 'B' THEN x END) AS x_b FROM a),
             |z AS (SELECT *,
             |  round((CAST(x_a AS DOUBLE) / n_a
             |      - CAST(x_b AS DOUBLE) / n_b)
             |    / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)
             |        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)))
             |      * (CAST(1 AS DOUBLE) / n_a
             |        + CAST(1 AS DOUBLE) / n_b)), 6) AS zv
             |  FROM r)
             |SELECT n_a, x_a, round(CAST(x_a AS DOUBLE) / n_a, 6)
             |   AS rate_a,
             | n_b, x_b, round(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
             | zv AS z, abs(zv) >= 1.959964 AS significant
             |FROM z""".stripMargin)),

    // Composed: Matryoshka-style dimension-truncation evaluation —
    // how much retrieval quality do the first 16 of 64 embedding
    // dims keep? results = cosine top-10 over the TRUNCATED vectors,
    // judgments = the full-dimension top-10, scored by evalRanking.
    // Everything is exact arithmetic (both rankings + the metrics),
    // so unlike the q50/q145 ANN rows this quality curve gets a FULL
    // oracle — the measurement pipeline itself is verified, then
    // reusable against any approximate retriever.
    Q("q188_matryoshka_eval", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qFull = emb.filter(col("vec_id") < 10)
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val qTrunc = trunc.filter(col("vec_id") < 10)
      val results = Similarity.bruteForceTopK(trunc, qTrunc,
        "vec_id", "embedding", k = 10)
      val qrels = Similarity.bruteForceTopK(emb, qFull,
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      graft.operators.Search.evalRanking(results, "query_id",
          "neighbor_id", "rank", qrels, "query_id", "neighbor_id",
          k = 10)
        .orderBy(col("query_id"))
    },
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id < 10),
             |fullr AS (SELECT query_id, neighbor_id, rnk FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |   row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(
             |      CAST(q.embedding AS DOUBLE[]),
             |      CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id)
             |    AS rnk
             |  FROM q, embeddings c WHERE c.vec_id != q.vec_id)
             |  WHERE rnk <= 10),
             |truncr AS (SELECT query_id, neighbor_id, rnk FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |   row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(
             |      CAST(q.embedding[1:16] AS DOUBLE[]),
             |      CAST(c.embedding[1:16] AS DOUBLE[])) DESC, c.vec_id)
             |    AS rnk
             |  FROM q, embeddings c WHERE c.vec_id != q.vec_id)
             |  WHERE rnk <= 10),
             |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT)
             |   AS n_rel FROM fullr GROUP BY 1),
             |hits AS (SELECT t.query_id, t.rnk FROM truncr t
             |  JOIN fullr f ON f.query_id = t.query_id
             |   AND f.neighbor_id = t.neighbor_id),
             |per AS (SELECT query_id, CAST(count(*) AS BIGINT)
             |   AS n_hits, min(rnk) AS first_hit,
             |   sum(1.0 / log2(rnk + 1)) AS dcg
             |  FROM hits GROUP BY 1),
             |ic AS (SELECT query_id, sum(1.0 / log2(r.range + 2))
             |   AS idcg
             |  FROM nrel, range(10) r
             |  WHERE r.range < least(10, n_rel) GROUP BY 1)
             |SELECT nrel.query_id, n_rel,
             | coalesce(n_hits, 0) AS n_hits,
             | round(coalesce(n_hits, 0) / CAST(n_rel AS DOUBLE), 6)
             |   AS recall_at_k,
             | round(coalesce(1.0 / first_hit, 0.0), 6) AS mrr_at_k,
             | round(coalesce(dcg, 0.0) / idcg, 6) AS ndcg_at_k
             |FROM nrel LEFT JOIN per USING (query_id)
             |JOIN ic USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    // Corpus remix to a target distribution (Budget.remixToTarget):
    // "make the mix 50% en / 20% de / 30% fr by characters" — the
    // achievable total binds on the scarcest stratum (fr at sf0.01),
    // budgets = floor(T*p), selection = the md5-ordered greedy
    // prefix per stratum (q140's rerun-stable draw). The oracle
    // recomputes T, the budgets, and the prefix with identical
    // double arithmetic; the census reads the realized mix back.
    Q("q189_remix", (s, dir) => {
      val sel = graft.operators.Budget.remixToTarget(
        t(s, dir, "documents"), "lang", "doc_id", "n_chars",
        Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.3))
      sel.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_selected"))
        .orderBy(col("lang"))
    },
      Some("""WITH t(lang, p) AS (VALUES ('en', 0.5), ('de', 0.2),
             |   ('fr', 0.3)),
             |av AS (SELECT lang, CAST(sum(n_chars) AS BIGINT)
             |   AS avail
             |  FROM documents JOIN t USING (lang) GROUP BY 1),
             |tot AS (SELECT min(avail / p) AS total
             |  FROM av JOIN t USING (lang)),
             |b AS (SELECT t.lang,
             |   CAST(floor(total * p) AS BIGINT) AS budget
             |  FROM t, tot),
             |o AS (SELECT d.lang, d.doc_id, d.n_chars,
             |   sum(d.n_chars) OVER (PARTITION BY d.lang
             |    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
             |    AS cum
             |  FROM documents d JOIN t USING (lang))
             |SELECT o.lang, CAST(count(*) AS BIGINT) AS n_docs,
             | CAST(sum(o.n_chars) AS BIGINT) AS chars_selected
             |FROM o JOIN b USING (lang) WHERE cum <= budget
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental connected components (Dedup
    // .connectedComponentMinLabelUpdate): q125's graph split into an
    // OLD labeling (edges from user_id < 120) plus a NEW batch (the
    // rest), folded in via the quotient contraction — and judged by
    // the FULL-GRAPH rebuild oracle VERBATIM, so update == rebuild
    // is oracle-proven, not just spec-pinned (the q115/q117 and
    // q109/q78 discipline applied to the graph family).
    Q("q191_cc_update", (s, dir) => {
      val old = events(s, dir)
        .filter(col("user_id") >= 0 && col("user_id") < 120)
        .select(col("user_id").as("id_a"),
          (col("user_id") * 7 % 200).as("id_b"))
        .filter(col("id_a") =!= col("id_b")).distinct()
      val batch = events(s, dir)
        .filter(col("user_id") >= 120 && col("user_id") < 200)
        .select(col("user_id").as("id_a"),
          (col("user_id") * 7 % 200).as("id_b"))
        .filter(col("id_a") =!= col("id_b")).distinct()
      val labels = graft.operators.Dedup
        .connectedComponentMinLabel(old)
      graft.operators.Dedup
        .connectedComponentMinLabelUpdate(labels, batch)
        .orderBy(col("id"))
    },
      Some(ccOracleSql)),

    // Per-document novelty vs a reference corpus (Dedup
    // .noveltyScore): the docsWithDups planted rows scored against
    // the originals — exact copies (+20000) read novelty 0, the
    // 'zzz'-suffixed near-dups (+10000) read the trailing-shingle
    // sliver, fresh content would read ~1. The oracle replays the
    // shingle sets and the anti-join arithmetic.
    Q("q190_novelty", (s, dir) => {
      val docs = docsWithDups(s, dir)
      val batch = docs.filter(col("doc_id") >= 10000)
      val ref = docs.filter(col("doc_id") < 10000)
      graft.operators.Dedup.noveltyScore(batch, "doc_id", "text",
          ref, "text", shingleLen = 3)
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH docs AS ($docsWithDupsSql),
              |batch AS (SELECT doc_id, text FROM docs
              |  WHERE doc_id >= 10000),
              |ref AS (SELECT doc_id, text FROM docs
              |  WHERE doc_id < 10000),
              |rsh AS (SELECT DISTINCT unnest(list_distinct(
              |   list_transform(range(1, greatest(len(toks) - 1, 1)),
              |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
              |   AS tok
              |  FROM (SELECT ${sqlTokens("text")} AS toks FROM ref)
              |  WHERE len(toks) >= 3),
              |bsh AS (SELECT doc_id, unnest(list_distinct(
              |   list_transform(range(1, greatest(len(toks) - 1, 1)),
              |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
              |   AS tok
              |  FROM (SELECT doc_id, ${sqlTokens("text")} AS toks
              |    FROM batch)
              |  WHERE len(toks) >= 3),
              |tots AS (SELECT doc_id, CAST(count(*) AS BIGINT)
              |   AS n_shingles FROM bsh GROUP BY 1),
              |nov AS (SELECT doc_id, CAST(count(*) AS BIGINT)
              |   AS n_novel FROM bsh
              |  WHERE tok NOT IN (SELECT tok FROM rsh) GROUP BY 1)
              |SELECT b.doc_id,
              | coalesce(n_shingles, 0) AS n_shingles,
              | coalesce(n_novel, 0) AS n_novel,
              | CASE WHEN coalesce(n_shingles, 0) > 0 THEN
              |   round(coalesce(n_novel, 0)
              |     / CAST(n_shingles AS DOUBLE), 4) END AS novelty
              |FROM batch b LEFT JOIN tots USING (doc_id)
              |LEFT JOIN nov USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // FULL-oracle HLL gates (VERDICT r10 item 7; since r16 the SOLE
    // gate faces — the rows-only q160/q172 twins are retired): the
    // sketch ESTIMATES are engine-specific ([R] forever), but the
    // claim "the estimate sits within the documented floor of the
    // exact value" is itself SQL-expressible — the Spark side emits
    // the EXACT value (computable in DuckDB) plus a within_bound
    // boolean, and the oracle predicts literal TRUE. A degraded
    // sketch now fails the HASH gate, not just a spec floor: the
    // q169 pattern (oracle the composition, pin the sketch by
    // measured error) promoted to the correctness harness.
    Q("q192_hll_digest_bounded", (s, dir) => {
      val docs = t(s, dir, "documents")
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q192_hll")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (root.exists()) rm(root)
      val path = root.toString + "/digest"
      val cols = Seq("doc_id", "lang", "source")
      graft.operators.Profile.appendHllDigest(
        docs.filter(col("doc_id") % 2 === 0), cols, path)
      graft.operators.Profile.appendHllDigest(
        docs.filter(col("doc_id") % 2 === 1), cols, path)
      val est = graft.operators.Profile.hllEstimates(s, path)
      val exact = graft.operators.Profile.profile(docs, cols)
        .select(col("col_name"), col("n_distinct"))
      est.join(exact, Seq("col_name"))
        .select(col("col_name"), col("n_distinct"),
          (abs(col("n_distinct_est") - col("n_distinct"))
            / col("n_distinct") < 0.05).as("within_bound"))
        .orderBy(col("col_name"))
    },
      Some("""SELECT 'doc_id' AS col_name,
             | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
             | TRUE AS within_bound FROM documents
             |UNION ALL SELECT 'lang',
             | CAST(count(DISTINCT lang) AS BIGINT), TRUE FROM documents
             |UNION ALL SELECT 'source',
             | CAST(count(DISTINCT source) AS BIGINT), TRUE FROM documents
             |ORDER BY col_name""".stripMargin)),

    Q("q193_hll_overlap_bounded", (s, dir) => {
      val docs = t(s, dir, "documents")
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q193_hll")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (root.exists()) rm(root)
      val n = docs.count()
      val aSet = docs.filter(col("doc_id") < lit(2 * n / 3))
      val bSet = docs.filter(col("doc_id") >= lit(n / 3))
      graft.operators.Profile.appendHllDigest(aSet, Seq("doc_id"),
        root + "/a")
      graft.operators.Profile.appendHllDigest(bSet, Seq("doc_id"),
        root + "/b")
      val est = graft.operators.Profile.hllOverlap(s, root + "/a",
        root + "/b")
      val exact = aSet.select(col("doc_id"))
        .intersect(bSet.select(col("doc_id"))).count()
      est.select(col("col_name"),
        lit(exact).as("exact_intersect"),
        (abs(col("est_intersect") - lit(exact.toDouble))
          / lit(exact.toDouble) < 0.10).as("within_bound"))
    },
      Some("""WITH n AS (SELECT count(*) AS n FROM documents),
             |i AS (SELECT doc_id FROM documents, n
             |   WHERE doc_id < (2 * n) // 3
             |  INTERSECT
             |  SELECT doc_id FROM documents, n WHERE doc_id >= n // 3)
             |SELECT 'doc_id' AS col_name,
             | CAST(count(*) AS BIGINT) AS exact_intersect,
             | TRUE AS within_bound FROM i""".stripMargin)),

    // Int8 scalar quantization (Quantize) — fit per-dimension ranges
    // over a corpus slice, encode, reconstruct; the whole pipeline is
    // closed-form arithmetic, so unlike the k-means PQ codebooks it
    // sits fully under the hash gate. Emits (vec_id, dim_idx, code,
    // recon) rows for the first 20 vectors.
    Q("q194_int8_quantize", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .filter(col("vec_id") < 500).select(col("vec_id"), col("embedding"))
      val m = graft.operators.Quantize.fitScalarQuantizer(
        base, "embedding", 64)
      graft.operators.Quantize.dequantize(
          graft.operators.Quantize.quantize(
            base.filter(col("vec_id") < 20), "embedding", m),
          "q8", m)
        .select(col("vec_id"),
          posexplode(arrays_zip(col("q8"), col("vec_rec"))))
        .select(col("vec_id"), col("pos").as("dim_idx"),
          col("col.q8").as("code"),
          round(col("col.vec_rec"), 6).as("recon"))
        .orderBy(col("vec_id"), col("dim_idx"))
    },
      Some("""WITH base AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id < 500),
             |st AS (SELECT i, min(CAST(x AS DOUBLE)) AS lo,
             |   max(CAST(x AS DOUBLE)) AS hi
             |  FROM (SELECT unnest(embedding) AS x,
             |     generate_subscripts(embedding, 1) AS i FROM base)
             |  GROUP BY i)
             |SELECT b.vec_id, s.i - 1 AS dim_idx,
             | CASE WHEN s.hi > s.lo THEN least(255, greatest(0,
             |   CAST(round((CAST(b.embedding[s.i] AS DOUBLE) - s.lo)
             |     / (s.hi - s.lo) * 255) AS INT)))
             |  ELSE 0 END AS code,
             | round(s.lo + (CASE WHEN s.hi > s.lo THEN
             |   least(255, greatest(0,
             |    CAST(round((CAST(b.embedding[s.i] AS DOUBLE) - s.lo)
             |      / (s.hi - s.lo) * 255) AS INT)))
             |  ELSE 0 END) / 255.0 * (s.hi - s.lo), 6) AS recon
             |FROM base b CROSS JOIN st s
             |WHERE b.vec_id < 20
             |ORDER BY vec_id, dim_idx""".stripMargin)),

    // Data-quality expectations (Expect.check): the ingestion-gate
    // census over lineitem + an orders referential check. The
    // l_discount range is chosen to VIOLATE (its domain tops out
    // above 0.05) so the frame proves it counts, not just blesses.
    Q("q195_expectations", (s, dir) =>
      graft.operators.Expect.check(t(s, dir, "lineitem"), Seq(
          graft.operators.Expect.NotNull("l_orderkey"),
          graft.operators.Expect.Unique(Seq("l_orderkey", "l_linenumber")),
          graft.operators.Expect.InRange("l_quantity", 1.0, 50.0),
          graft.operators.Expect.InRange("l_discount", 0.0, 0.05),
          graft.operators.Expect.InSet("l_returnflag", Seq("A", "N", "R")),
          graft.operators.Expect.Matches("l_linestatus", "[OF]"),
          graft.operators.Expect.ForeignKey("l_orderkey",
            t(s, dir, "orders"), "o_orderkey")))
        .orderBy(col("constraint")),
      Some("""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS v_nn,
             |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
             |    AS BIGINT) AS v_uq,
             |  CAST(sum(CASE WHEN l_quantity IS NOT NULL
             |     AND (l_quantity < 1.0 OR l_quantity > 50.0)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS v_r1,
             |  CAST(sum(CASE WHEN l_discount IS NOT NULL
             |     AND (l_discount < 0.0 OR l_discount > 0.05)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS v_r2,
             |  CAST(sum(CASE WHEN l_returnflag IS NOT NULL
             |     AND l_returnflag NOT IN ('A', 'N', 'R')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS v_st,
             |  CAST(sum(CASE WHEN l_linestatus IS NOT NULL
             |     AND NOT regexp_full_match(l_linestatus, '[OF]')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS v_m
             | FROM lineitem),
             |fk AS (SELECT CAST(count(*) AS BIGINT) AS v_fk
             |  FROM lineitem WHERE l_orderkey IS NOT NULL
             |   AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |SELECT * FROM (
             | SELECT 'not_null(l_orderkey)' AS "constraint", v_nn
             |    AS violations, n AS total, v_nn = 0 AS passed FROM t
             | UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
             |   v_uq, n, v_uq = 0 FROM t
             | UNION ALL SELECT 'in_range(l_quantity,1.0,50.0)',
             |   v_r1, n, v_r1 = 0 FROM t
             | UNION ALL SELECT 'in_range(l_discount,0.0,0.05)',
             |   v_r2, n, v_r2 = 0 FROM t
             | UNION ALL SELECT 'in_set(l_returnflag)',
             |   v_st, n, v_st = 0 FROM t
             | UNION ALL SELECT 'matches(l_linestatus)',
             |   v_m, n, v_m = 0 FROM t
             | UNION ALL SELECT 'foreign_key(l_orderkey->o_orderkey)',
             |   v_fk, n, v_fk = 0 FROM fk, t)
             |ORDER BY "constraint"""".stripMargin)),

    // Fellegi-Sunter record linkage (Linkage.classify): customer vs
    // a perturbed copy of itself (every 10th name suffixed, every
    // 7th balance shifted), blocked by nation, three evidence fields
    // (name / segment / rounded balance). Emitted: the LINK pairs at
    // upper=5 — agreement on either high-weight field survives its
    // partner's perturbation; doubly-perturbed records drop out.
    Q("q196_record_linkage", (s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val a = cust.select(col("c_custkey").as("rid"),
        col("c_nationkey").as("blk"), col("c_name").as("nm"),
        col("c_mktsegment").as("mk"),
        round(col("c_acctbal"), 0).as("ab"))
      val b = cust.select((col("c_custkey") + 100000).as("rid"),
        col("c_nationkey").as("blk"),
        when(col("c_custkey") % 10 === 0, concat(col("c_name"),
          lit(" jr"))).otherwise(col("c_name")).as("nm"),
        col("c_mktsegment").as("mk"),
        round(when(col("c_custkey") % 7 === 0, col("c_acctbal") + 1000)
          .otherwise(col("c_acctbal")), 0).as("ab"))
      Linkage.classify(a, "rid", b, "rid", Seq("blk"), Seq(
          Linkage.FieldSpec("nm", 0.95, 0.001),
          Linkage.FieldSpec("mk", 0.9, 0.2),
          Linkage.FieldSpec("ab", 0.85, 0.002)),
          lower = 0.0, upper = 5.0)
        .filter(col("decision") === "link")
        .select(col("id_a"), col("id_b"), col("n_agree"),
          round(col("score"), 4).as("score"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some("""WITH a AS (SELECT c_custkey AS ida, c_nationkey AS blk,
             |   c_name AS nm, c_mktsegment AS mk,
             |   round(c_acctbal, 0) AS ab FROM customer),
             |b AS (SELECT c_custkey + 100000 AS idb,
             |   c_nationkey AS blk,
             |   CASE WHEN c_custkey % 10 = 0 THEN c_name || ' jr'
             |    ELSE c_name END AS nm,
             |   c_mktsegment AS mk,
             |   round(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000
             |    ELSE c_acctbal END, 0) AS ab FROM customer),
             |p AS (SELECT ida, idb,
             |  (CASE WHEN a.nm = b.nm THEN 1 ELSE 0 END
             |   + CASE WHEN a.mk = b.mk THEN 1 ELSE 0 END
             |   + CASE WHEN a.ab = b.ab THEN 1 ELSE 0 END) AS n_agree,
             |  (CASE WHEN a.nm IS NULL OR b.nm IS NULL THEN 0.0
             |    WHEN a.nm = b.nm THEN log2(0.95 / 0.001)
             |    ELSE log2(0.05 / 0.999) END
             |   + CASE WHEN a.mk IS NULL OR b.mk IS NULL THEN 0.0
             |    WHEN a.mk = b.mk THEN log2(0.9 / 0.2)
             |    ELSE log2(0.1 / 0.8) END
             |   + CASE WHEN a.ab IS NULL OR b.ab IS NULL THEN 0.0
             |    WHEN a.ab = b.ab THEN log2(0.85 / 0.002)
             |    ELSE log2(0.15 / 0.998) END) AS score
             |  FROM a JOIN b ON a.blk = b.blk)
             |SELECT ida AS id_a, idb AS id_b, n_agree,
             |  round(score, 4) AS score
             |FROM p WHERE score >= 5.0
             |ORDER BY id_a, id_b""".stripMargin)),

    // Rolling z-score anomalies (TimeSeries.rollingZscore): each
    // order scored against the customer's previous <= 5 orders
    // (trailing-EXCLUSIVE window — a spike never mutes itself),
    // census of |z| >= 2 rows. One hash exchange on the key.
    Q("q197_rolling_anomaly", (s, dir) =>
      graft.operators.TimeSeries.rollingZscore(t(s, dir, "orders"),
          Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
          "o_totalprice", window = 5)
        .filter(abs(col("z")) >= 2.0)
        .select(col("o_custkey"), col("o_orderkey"), col("roll_n"),
          round(col("roll_mean"), 4).as("roll_mean"),
          round(col("z"), 4).as("z"))
        .orderBy(col("o_custkey"), col("o_orderkey")),
      Some("""WITH w AS (SELECT o_custkey, o_orderkey,
             |  count(o_totalprice) OVER fr AS roll_n,
             |  avg(o_totalprice) OVER fr AS roll_mean,
             |  stddev_samp(o_totalprice) OVER fr AS roll_std,
             |  o_totalprice AS v
             | FROM orders
             | WINDOW fr AS (PARTITION BY o_custkey
             |   ORDER BY o_orderdate, o_orderkey
             |   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
             |SELECT o_custkey, o_orderkey, roll_n,
             | round(roll_mean, 4) AS roll_mean,
             | round((v - roll_mean) / roll_std, 4) AS z
             |FROM w
             |WHERE roll_n >= 2 AND roll_std > 0
             | AND abs((v - roll_mean) / roll_std) >= 2
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Bounded-window adjusted EWMA (TimeSeries.ewma) over each
    // user's event values — the smoother face of the rolling family
    // (current row included). The oracle replays the exact weight
    // arithmetic over the same frame list.
    Q("q198_ewma", (s, dir) =>
      graft.operators.TimeSeries.ewma(
          events(s, dir)
            .filter(col("user_id") < 200 && col("value").isNotNull),
          Seq("user_id"), Seq("ts", "event_id"), "value",
          alpha = 0.25, window = 8)
        .select(col("user_id"), col("event_id"),
          round(col("ewma"), 4).as("ewma"))
        .orderBy(col("user_id"), col("event_id")),
      Some("""WITH e AS (SELECT user_id, event_id, ts,
             |   CAST(value AS DOUBLE) AS v FROM events
             |  WHERE user_id < 200 AND value IS NOT NULL),
             |w AS (SELECT user_id, event_id,
             |  list(v) OVER (PARTITION BY user_id
             |   ORDER BY ts, event_id
             |   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fr
             | FROM e)
             |SELECT user_id, event_id,
             | round(
             |  list_sum(list_transform(range(1, len(fr) + 1),
             |    i -> pow(0.75, len(fr) - i) * fr[i]))
             |  / list_sum(list_transform(range(1, len(fr) + 1),
             |    i -> pow(0.75, len(fr) - i))), 4) AS ewma
             |FROM w
             |ORDER BY user_id, event_id""".stripMargin)),

    // Zipf-law fit (Vocabulary.zipfFit): corpus-health exponent over
    // the documents vocabulary. The rank rides the range-partitioned
    // global rank, not a partition-less window; the oracle's
    // row_number() replay agrees because the (freq desc, token asc)
    // order is total.
    Q("q199_zipf_fit", (s, dir) =>
      graft.operators.Vocabulary.zipfFit(
          t(s, dir, "documents"), "doc_id", "text")
        .select(col("vocab_size"), round(col("slope"), 4).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("r2"), 4).as("r2")),
      Some(s"""WITH tok AS (SELECT unnest(${sqlTokens("text")})
             |   AS token FROM documents),
             |v AS (SELECT token, CAST(count(*) AS DOUBLE) AS c
             |  FROM tok GROUP BY 1),
             |r AS (SELECT ln(CAST(row_number()
             |    OVER (ORDER BY c DESC, token) AS DOUBLE)) AS x,
             |   ln(c) AS y FROM v),
             |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |   sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             |   sum(y * y) AS syy, sum(x * y) AS sxy FROM r)
             |SELECT n AS vocab_size,
             | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
             |   AS slope,
             | round((sy - sx * ((n * sxy - sx * sy)
             |   / (n * sxx - sx * sx))) / n, 4) AS intercept,
             | round(pow(n * sxy - sx * sy, 2)
             |   / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
             |   AS r2
             |FROM s""".stripMargin)),

    // Touch attribution (EventAnalytics.attribution): first/last
    // click-or-view within 7 days of each purchase, census over the
    // (first, last) model pair with organic conversions kept. The
    // operator is one range-framed window; the oracle replays it as
    // the quadratic join + row_number it replaces.
    Q("q200_attribution", (s, dir) =>
      graft.operators.EventAnalytics.attribution(events(s, dir),
          "user_id", "ts", "event_id", "event_type",
          "purchase", Seq("click", "view"), 604800L)
        .select(
          coalesce(col("first_type"), lit("organic")).as("first_type"),
          coalesce(col("last_type"), lit("organic")).as("last_type"))
        .groupBy(col("first_type"), col("last_type"))
        .agg(count(lit(1)).as("conversions"))
        .orderBy(col("first_type"), col("last_type")),
      Some("""WITH e AS (SELECT event_id, user_id,
             |   CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type
             |  FROM events),
             |c AS (SELECT user_id, event_id AS cid, sec AS csec
             |  FROM e WHERE event_type = 'purchase'),
             |t AS (SELECT user_id, event_id AS tid, sec AS tsec,
             |   event_type AS ttyp FROM e
             |  WHERE event_type IN ('click', 'view')),
             |j AS (SELECT c.cid, t.tid, t.ttyp,
             |   row_number() OVER (PARTITION BY c.cid
             |     ORDER BY t.tsec ASC, t.tid ASC) AS rf,
             |   row_number() OVER (PARTITION BY c.cid
             |     ORDER BY t.tsec DESC, t.tid DESC) AS rl
             |  FROM c JOIN t ON c.user_id = t.user_id
             |   AND t.tsec <= c.csec AND t.tsec >= c.csec - 604800),
             |f AS (SELECT cid, ttyp AS first_type FROM j WHERE rf = 1),
             |l AS (SELECT cid, ttyp AS last_type FROM j WHERE rl = 1)
             |SELECT coalesce(f.first_type, 'organic') AS first_type,
             | coalesce(l.last_type, 'organic') AS last_type,
             | CAST(count(*) AS BIGINT) AS conversions
             |FROM c LEFT JOIN f USING (cid) LEFT JOIN l USING (cid)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Link prediction (GraphMetrics.linkPrediction) on q167's
    // co-purchase part graph: common-neighbor / Jaccard /
    // Adamic-Adar scores for non-adjacent part pairs, cn >= 3 census.
    // The oracle replays the wedge join + degree arithmetic.
    Q("q201_link_prediction", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val e = li.alias("l1").join(li.alias("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey")
            && col("l1.l_partkey") < col("l2.l_partkey"))
        .select(col("l1.l_partkey").as("x"), col("l2.l_partkey").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).drop("w")
      graft.operators.GraphMetrics.linkPrediction(e, "x", "y")
        .filter(col("common_neighbors") >= 2)
        .select(col("a"), col("b"), col("common_neighbors"),
          round(col("jaccard"), 4).as("jaccard"),
          round(col("adamic_adar"), 4).as("adamic_adar"))
        .orderBy(col("a"), col("b"))
    },
      Some("""WITH e AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
             |  FROM lineitem l1 JOIN lineitem l2
             |   ON l1.l_orderkey = l2.l_orderkey
             |    AND l1.l_partkey < l2.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
             |  FROM (SELECT a AS node FROM e
             |    UNION ALL SELECT b FROM e) GROUP BY 1),
             |adj AS (SELECT a AS c, b AS n FROM e
             |  UNION ALL SELECT b, a FROM e),
             |w AS (SELECT m1.n AS pa, m2.n AS pb,
             |   1.0 / ln(d.degree) AS wt
             |  FROM adj m1 JOIN adj m2 ON m1.c = m2.c AND m1.n < m2.n
             |  JOIN deg d ON d.node = m1.c),
             |sc AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS cn,
             |   sum(wt) AS aa FROM w GROUP BY 1, 2),
             |nonadj AS (SELECT sc.* FROM sc
             |  LEFT JOIN e ON e.a = sc.pa AND e.b = sc.pb
             |  WHERE e.a IS NULL)
             |SELECT pa AS a, pb AS b, cn AS common_neighbors,
             | round(cn / CAST(da.degree + db.degree - cn AS DOUBLE), 4)
             |   AS jaccard,
             | round(aa, 4) AS adamic_adar
             |FROM nonadj JOIN deg da ON da.node = pa
             |JOIN deg db ON db.node = pb
             |WHERE cn >= 2
             |ORDER BY a, b""".stripMargin)),

    // PMI collocations (Vocabulary.collocations) over documents —
    // pair probability vs independence, floored at pair_count >= 40.
    Q("q202_collocations", (s, dir) =>
      graft.operators.Vocabulary.collocations(
          t(s, dir, "documents"), "doc_id", "text", minCount = 40L)
        .select(col("w1"), col("w2"), col("pair_count"),
          round(col("pmi"), 4).as("pmi"))
        .orderBy(col("w1"), col("w2")),
      Some(s"""WITH toks AS (SELECT ${sqlTokens("text")} AS t
             |   FROM documents),
             |bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
             |  FROM (SELECT t, unnest(range(1, len(t))) AS i
             |    FROM toks WHERE len(t) >= 2)),
             |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT)
             |   AS pair_count FROM bg GROUP BY 1, 2),
             |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
             |tot AS (SELECT (SELECT sum(pair_count) FROM bc) AS tb,
             |   (SELECT sum(c) FROM uni) AS tu)
             |SELECT b.w1, b.w2, b.pair_count,
             | round(ln((b.pair_count / tb)
             |   / ((u1.c / tu) * (u2.c / tu))), 4) AS pmi
             |FROM bc b JOIN uni u1 ON u1.w = b.w1
             |JOIN uni u2 ON u2.w = b.w2, tot
             |WHERE b.pair_count >= 40
             |ORDER BY w1, w2""".stripMargin)),

    // Wilson score intervals (AbTest.proportionCI): per-priority
    // fulfilled-order proportion with the interval that stays sane
    // at the p -> 0/1 boundaries (unlike the Wald bar).
    Q("q203_wilson_ci", (s, dir) =>
      graft.operators.AbTest.proportionCI(
          t(s, dir, "orders")
            .withColumn("ok", col("o_orderstatus") === "F"),
          "o_orderpriority", "ok")
        .select(col("o_orderpriority"), col("n"), col("successes"),
          round(col("p_hat"), 6).as("p_hat"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy(col("o_orderpriority")),
      Some("""WITH g AS (SELECT o_orderpriority,
             |   CAST(count(*) AS BIGINT) AS n,
             |   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0
             |     END) AS BIGINT) AS successes
             |  FROM orders GROUP BY 1),
             |c AS (SELECT o_orderpriority, n, successes,
             |   successes / CAST(n AS DOUBLE) AS p,
             |   1.959964 AS z FROM g)
             |SELECT o_orderpriority, n, successes,
             | round(p, 6) AS p_hat,
             | round((p + z*z/(2*n)) / (1 + z*z/n)
             |  - z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)) / (1 + z*z/n), 6)
             |  AS ci_lo,
             | round((p + z*z/(2*n)) / (1 + z*z/n)
             |  + z * sqrt(p*(1-p)/n + z*z/(4.0*n*n)) / (1 + z*z/n), 6)
             |  AS ci_hi
             |FROM c ORDER BY o_orderpriority""".stripMargin)),

    // CUSUM change-point statistic (TimeSeries.cusum): per-customer
    // upward drift in order totals. The operator computes the
    // recursion via the prefix-min identity; the oracle replays the
    // SAME identity — two running windows, no recursion.
    Q("q204_cusum", (s, dir) =>
      graft.operators.TimeSeries.cusum(t(s, dir, "orders"),
          Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
          "o_totalprice", target = 150000.0, slack = 10000.0,
          h = 400000.0)
        .filter(col("alarm"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("cusum"), 4).as("cusum"))
        .orderBy(col("o_custkey"), col("o_orderkey")),
      Some("""WITH s AS (SELECT o_custkey, o_orderkey, o_orderdate,
             |  sum(o_totalprice - 150000 - 10000) OVER (
             |    PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS UNBOUNDED PRECEDING) AS rs
             | FROM orders),
             |c AS (SELECT o_custkey, o_orderkey,
             |  rs - least(min(rs) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS UNBOUNDED PRECEDING), 0) AS cusum
             | FROM s)
             |SELECT o_custkey, o_orderkey, round(cusum, 4) AS cusum
             |FROM c WHERE cusum > 400000
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Join-cardinality pre-flight (Profile.joinCardinality): the
    // exact lineitem JOIN orders row count + skew diagnostics from
    // count tables alone — the 100 TB "should this join run"
    // number; the oracle computes the same products.
    Q("q205_join_cardinality", (s, dir) =>
      graft.operators.Profile.joinCardinality(
        t(s, dir, "lineitem"), t(s, dir, "orders"),
        Seq("l_orderkey"), Seq("o_orderkey")),
      Some("""WITH ca AS (SELECT l_orderkey AS k,
             |   CAST(count(*) AS BIGINT) AS c FROM lineitem
             |  WHERE l_orderkey IS NOT NULL GROUP BY 1),
             |cb AS (SELECT o_orderkey AS k,
             |   CAST(count(*) AS BIGINT) AS c FROM orders
             |  WHERE o_orderkey IS NOT NULL GROUP BY 1),
             |p AS (SELECT CAST(count(*) AS BIGINT) AS matching_keys,
             |   CAST(coalesce(sum(CAST(ca.c AS DOUBLE) * cb.c), 0)
             |     AS DOUBLE) AS join_rows,
             |   CAST(coalesce(max(CAST(ca.c AS DOUBLE) * cb.c), 0)
             |     AS DOUBLE) AS max_key_rows
             |  FROM ca JOIN cb USING (k))
             |SELECT
             | (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_a,
             | (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_b,
             | (SELECT CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1
             |    ELSE 0 END) AS BIGINT) FROM lineitem)
             |   AS n_null_key_a,
             | (SELECT CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1
             |    ELSE 0 END) AS BIGINT) FROM orders)
             |   AS n_null_key_b,
             | (SELECT CAST(count(*) AS BIGINT) FROM ca) AS distinct_a,
             | (SELECT CAST(count(*) AS BIGINT) FROM cb) AS distinct_b,
             | matching_keys, join_rows, max_key_rows
             |FROM p""".stripMargin)),

    // Shannon entropy of the corpus language mix (Profile.entropy):
    // the concentration scalar next to Gini/JS-drift. The oracle
    // replays the one-pass rearrangement H = log2 n − (Σ c·log2 c)/n.
    Q("q206_entropy", (s, dir) =>
      graft.operators.Profile.entropy(t(s, dir, "documents"), "lang")
        .select(col("n"), col("n_categories"),
          round(col("entropy_bits"), 6).as("entropy_bits"),
          round(col("entropy_norm"), 6).as("entropy_norm")),
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
             |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
             |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |   CAST(count(*) AS BIGINT) AS k,
             |   sum(c * ln(c)) AS clogc FROM c)
             |SELECT n, k AS n_categories,
             | round((ln(n) - clogc / n) / ln(2), 6) AS entropy_bits,
             | round(CASE WHEN k > 1
             |   THEN (ln(n) - clogc / n) / ln(k) END, 6)
             |  AS entropy_norm
             |FROM t""".stripMargin)),

    // Mutual information lang x source (Profile.mutualInformation):
    // the association/leakage detector — I = H(a) + H(b) − H(a,b)
    // over one joint partial agg, marginals re-aggregated from it.
    Q("q207_mutual_information", (s, dir) =>
      graft.operators.Profile.mutualInformation(
          t(s, dir, "documents"), "lang", "source")
        .select(col("n"), round(col("h_a_bits"), 6).as("h_a_bits"),
          round(col("h_b_bits"), 6).as("h_b_bits"),
          round(col("h_ab_bits"), 6).as("h_ab_bits"),
          round(col("mi_bits"), 6).as("mi_bits"),
          round(col("mi_norm"), 6).as("mi_norm")),
      Some("""WITH j AS (SELECT lang, source,
             |   CAST(count(*) AS BIGINT) AS c FROM documents
             |  WHERE lang IS NOT NULL AND source IS NOT NULL
             |  GROUP BY 1, 2),
             |ja AS (SELECT lang, sum(c) AS c FROM j GROUP BY 1),
             |jb AS (SELECT source, sum(c) AS c FROM j GROUP BY 1),
             |ea AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |   (ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2) AS h
             |  FROM ja),
             |eb AS (SELECT (ln(sum(c)) - sum(c * ln(c)) / sum(c))
             |   / ln(2) AS h FROM jb),
             |eab AS (SELECT (ln(sum(c)) - sum(c * ln(c)) / sum(c))
             |   / ln(2) AS h FROM j)
             |SELECT ea.n, round(ea.h, 6) AS h_a_bits,
             | round(eb.h, 6) AS h_b_bits,
             | round(eab.h, 6) AS h_ab_bits,
             | round(ea.h + eb.h - eab.h, 6) AS mi_bits,
             | round(CASE WHEN least(ea.h, eb.h) > 0
             |   THEN (ea.h + eb.h - eab.h) / least(ea.h, eb.h) END, 6)
             |  AS mi_norm
             |FROM ea, eb, eab""".stripMargin)),

    // ROC-AUC (Classifier.rocAuc) on a deterministic synthetic
    // scorer over orders (label = fulfilled, score = shifted
    // orderkey hash — overlapping class distributions so the AUC is
    // strictly between 0.5 and 1). The oracle replays the midrank
    // identity AUC = (R+ − n+(n+1)/2) / (n+ n−).
    Q("q208_roc_auc", (s, dir) =>
      graft.operators.Classifier.rocAuc(
          t(s, dir, "orders").select(
            ((col("o_orderkey") % 97
              + when(col("o_orderstatus") === "F", 30).otherwise(0))
              / lit(127.0)).as("score"),
            (col("o_orderstatus") === "F").as("label")),
          "score", "label")
        .select(col("n_pos"), col("n_neg"),
          round(col("auc"), 6).as("auc")),
      Some("""WITH d AS (SELECT
             |   (o_orderkey % 97 + CASE WHEN o_orderstatus = 'F'
             |     THEN 30 ELSE 0 END) / 127.0 AS s,
             |   o_orderstatus = 'F' AS y FROM orders),
             |r AS (SELECT y,
             |   rank() OVER (ORDER BY s)
             |    + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS mid
             |  FROM d),
             |a AS (SELECT
             |   CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
             |     AS np,
             |   CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
             |     AS nn,
             |   sum(CASE WHEN y THEN mid END) AS rp FROM r)
             |SELECT np AS n_pos, nn AS n_neg,
             | round((rp - np * (np + 1) / 2.0) / (np * nn), 6) AS auc
             |FROM a""".stripMargin)),

    // Calibration curve (Classifier.calibration): reliability
    // diagram of the same scorer, 10 equal-width bins, empty bins
    // omitted, 1.0 clamped into the last bin.
    Q("q209_calibration", (s, dir) =>
      graft.operators.Classifier.calibration(
          t(s, dir, "orders").select(
            ((col("o_orderkey") % 97
              + when(col("o_orderstatus") === "F", 30).otherwise(0))
              / lit(127.0)).as("score"),
            (col("o_orderstatus") === "F").as("label")),
          "score", "label", bins = 10)
        .select(col("bin"), col("n"),
          round(col("mean_score"), 6).as("mean_score"),
          round(col("frac_pos"), 6).as("frac_pos"))
        .orderBy(col("bin")),
      Some("""WITH d AS (SELECT
             |   (o_orderkey % 97 + CASE WHEN o_orderstatus = 'F'
             |     THEN 30 ELSE 0 END) / 127.0 AS s,
             |   o_orderstatus = 'F' AS y FROM orders)
             |SELECT CAST(least(9, floor(s * 10)) AS INT) AS bin,
             | CAST(count(*) AS BIGINT) AS n,
             | round(avg(s), 6) AS mean_score,
             | round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END), 6)
             |  AS frac_pos
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Markov stationary distribution of the event-transition chain
    // (EventAnalytics.stationaryDistribution): 10 synchronous
    // renormalized power-iteration rounds, the q58/q182 unrolled-CTE
    // oracle discipline — every round is generated SQL, not prose.
    Q("q210_stationary", (s, dir) =>
      graft.operators.EventAnalytics.stationaryDistribution(
          events(s, dir), "user_id", "ts", "event_type", iters = 10)
        .select(col("state"), round(col("p"), 6).as("p"))
        .orderBy(col("state")), {
      // MATERIALIZED: DuckDB inlines plain CTEs, and each round
      // references its predecessor through two paths (the step and
      // its normalizer) — inlined, round 10 re-evaluates the chain
      // 2^10 times (the q170 k-core lesson; caught live in r11 when
      // the un-materialized replay ran for minutes)
      val rounds = (1 to 10).map { i =>
        s"""m$i AS MATERIALIZED (SELECT pr.to_type AS state,
           |   sum(r${i - 1}.p * pr.pr) AS m
           |  FROM r${i - 1} JOIN pr ON pr.from_type = r${i - 1}.state
           |  GROUP BY 1),
           |t$i AS MATERIALIZED (SELECT sum(m) AS tot FROM m$i),
           |r$i AS MATERIALIZED (SELECT st.state,
           |   coalesce(m$i.m, 0) / t$i.tot AS p
           |  FROM st LEFT JOIN m$i USING (state), t$i)""".stripMargin
      }.mkString(",\n")
      Some(s"""WITH pairs AS MATERIALIZED (SELECT event_type
              |    AS from_type,
              |   lead(event_type) OVER (PARTITION BY user_id
              |     ORDER BY ts, event_type) AS to_type
              |  FROM events),
              |c AS MATERIALIZED (SELECT from_type, to_type,
              |   CAST(count(*) AS DOUBLE) AS n FROM pairs
              |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
              |st AS MATERIALIZED (SELECT from_type AS state FROM c
              |  UNION SELECT to_type FROM c),
              |pr AS MATERIALIZED (SELECT from_type, to_type,
              |   n / sum(n) OVER (PARTITION BY from_type) AS pr
              |  FROM c
              | UNION ALL SELECT state, state, 1.0 FROM st
              |  WHERE state NOT IN (SELECT DISTINCT from_type FROM c)),
              |kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM st),
              |r0 AS MATERIALIZED (SELECT state, 1.0 / k AS p
              |  FROM st, kk),
              |$rounds
              |SELECT state, round(p, 6) AS p FROM r10
              |ORDER BY state""".stripMargin)
    }),

    // FUZZY record linkage (Linkage with a Jaro-Winkler field):
    // every 10th customer's name arrives with its last two characters
    // TRANSPOSED — exact equality calls that a disagreement, the
    // jw >= 0.97 comparator does not (transposed last-two scores
    // 0.9889; a DIFFERENT customer with the same 16-char prefix tops
    // out ~0.956 — the threshold separates the two regimes). The native JaroWinkler
    // expression is pinned bit-for-bit against DuckDB's
    // jaro_winkler_similarity (TextFunctionsSpec), so the oracle
    // replays the fuzzy agreement decision exactly.
    // Blocking is COMPOSITE (r12, VERDICT item 4): nation alone has 25
    // values, so the largest block is corpus/25 and candidate pairs
    // grow quadratically with corpus size. Nation × first-16-chars
    // name prefix keeps every true pair in-block (the transposition
    // only touches chars 17–18) while bounding blocks to the handful
    // of customers sharing a nation AND a custkey-div-100 prefix —
    // candidates are corpus-linear (ScaleSmoke `lnk` measures both
    // keys' growth). The standard blocking-recall trade applies and
    // is visible in the fixture: cross-prefix near-names (custkey
    // ...099 vs ...100 differ inside the 16-char prefix yet score
    // jw >= 0.97) were candidates under nation-only blocking and are
    // not here — every real linkage deployment makes exactly this
    // trade when it picks a block key, and the oracle replays the
    // same composite block, so the gate pins the traded answer.
    Q("q211_fuzzy_linkage", (s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val pfx = substring(col("c_name"), 1, 16).as("pfx")
      val a = cust.select(col("c_custkey").as("rid"),
        col("c_nationkey").as("blk"), pfx, col("c_name").as("nm"),
        col("c_mktsegment").as("mk"))
      val swapped = concat(
        substring(col("c_name"), 1, 16),
        substring(col("c_name"), 18, 1),
        substring(col("c_name"), 17, 1))
      val b = cust.select((col("c_custkey") + 100000).as("rid"),
        col("c_nationkey").as("blk"), pfx,
        when(col("c_custkey") % 10 === 0, swapped)
          .otherwise(col("c_name")).as("nm"),
        col("c_mktsegment").as("mk"))
      Linkage.linkPairs(a, "rid", b, "rid", Seq("blk", "pfx"), Seq(
          Linkage.FieldSpec("nm", 0.95, 0.001,
            jwThreshold = Some(0.97)),
          Linkage.FieldSpec("mk", 0.9, 0.2)))
        .filter(col("score") >= 5.0)
        .select(col("id_a"), col("id_b"), col("n_agree"),
          round(col("score"), 4).as("score"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some("""WITH a AS (SELECT c_custkey AS ida, c_nationkey AS blk,
             |   substring(c_name, 1, 16) AS pfx,
             |   c_name AS nm, c_mktsegment AS mk FROM customer),
             |b AS (SELECT c_custkey + 100000 AS idb,
             |   c_nationkey AS blk,
             |   substring(c_name, 1, 16) AS pfx,
             |   CASE WHEN c_custkey % 10 = 0 THEN
             |     substring(c_name, 1, 16) || substring(c_name, 18, 1)
             |      || substring(c_name, 17, 1)
             |    ELSE c_name END AS nm,
             |   c_mktsegment AS mk FROM customer),
             |p AS (SELECT ida, idb,
             |  (CASE WHEN jaro_winkler_similarity(a.nm, b.nm) >= 0.97
             |    THEN 1 ELSE 0 END
             |   + CASE WHEN a.mk = b.mk THEN 1 ELSE 0 END) AS n_agree,
             |  (CASE WHEN a.nm IS NULL OR b.nm IS NULL THEN 0.0
             |    WHEN jaro_winkler_similarity(a.nm, b.nm) >= 0.97
             |    THEN log2(0.95 / 0.001)
             |    ELSE log2(0.05 / 0.999) END
             |   + CASE WHEN a.mk IS NULL OR b.mk IS NULL THEN 0.0
             |    WHEN a.mk = b.mk THEN log2(0.9 / 0.2)
             |    ELSE log2(0.1 / 0.8) END) AS score
             |  FROM a JOIN b ON a.blk = b.blk AND a.pfx = b.pfx)
             |SELECT ida AS id_a, idb AS id_b, n_agree,
             |  round(score, 4) AS score
             |FROM p WHERE score >= 5.0
             |ORDER BY id_a, id_b""".stripMargin)),

    // BOUNDED sibling of q145 (r12, VERDICT item 6 — the q192/q193
    // promotion pattern applied to PQ): the trained codebook is
    // k-means state no SQL replays, but TWO claims about the same run
    // are fully checkable. (a) the EXACT-L2 half (the recall
    // denominator) is plain double arithmetic — emitted row-for-row
    // (query_id, rnk, neighbor_id) and replayed in DuckDB with the
    // identical fold order and neighbor-id tie-break, putting
    // exactL2TopK itself under the hash gate for the first time;
    // (b) "trained-PQ recall@5 over these 10 queries clears the
    // floor" — a boolean the oracle predicts as literal TRUE. Floor
    // 0.15 = half the weakest measured operating point (0.30/0.34/
    // 0.34 at sf0.001/0.01/0.1, ProbeR12; fit is deterministic by the
    // id-ordered-sample contract, so the measurement is stable). A
    // degraded codebook or a broken ADC now fails the HASH gate.
    Q("q212_pq_adc_bounded", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.Pq.fit(emb, "vec_id", "embedding",
        m = 8, dsub = 8, ksub = 16)
      val encoded = graft.operators.Pq.encode(emb, "embedding", model)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      val approx = graft.operators.Pq.adcTopK(encoded, q, "vec_id",
          "pq_code", "embedding", model, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val exact = graft.operators.Pq.exactL2TopK(emb, q, "vec_id",
        "embedding", k = 5)
      val hits = approx.join(
          exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      exact.select(col("query_id"), col("rank").as("rnk"),
          col("neighbor_id"),
          lit(hits / 50.0 >= 0.15).as("recall_floor_met"))
        .orderBy(col("query_id"), col("rnk"))
    },
      Some(exactL2OracleSql)),

    // BOUNDED sibling of q148, same promotion: IVF-PQ composes the
    // coarse router with residual PQ codes — still k-means state —
    // but its recall over the q148 operating point (nCells=8,
    // nProbe=4, 32-bit residual codes) measured 0.32/0.40/0.32
    // across the three gate scales (ProbeR12), so the 0.15 floor
    // carries 2x slack. Exact side replayed as in q212; the two
    // siblings share the exact fixture deliberately — one DuckDB
    // answer, two independent ANN paths gated against it.
    Q("q213_ivfpq_bounded", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.Pq.fitIvfPq(emb, "vec_id", "embedding",
        nCells = 8, m = 8, dsub = 8, ksub = 16)
      val encoded = graft.operators.Pq.encodeIvfPq(emb, "vec_id",
        "embedding", model)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      val approx = graft.operators.Pq.ivfPqTopK(encoded, q, "vec_id",
          "cell", "pq_code", "embedding", model, k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val exact = graft.operators.Pq.exactL2TopK(emb, q, "vec_id",
        "embedding", k = 5)
      val hits = approx.join(
          exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      exact.select(col("query_id"), col("rank").as("rnk"),
          col("neighbor_id"),
          lit(hits / 50.0 >= 0.15).as("recall_floor_met"))
        .orderBy(col("query_id"), col("rnk"))
    },
      Some(exactL2OracleSql)),

    // BOUNDED sibling of q59 (r12, VERDICT item 6): the k-means
    // TRAINER is iterative RNG-initialized state no SQL replays
    // (q59 stays [R] with MLSpec's blob pin), but the ASSIGNMENT
    // step — the half of Lloyd every serving pipeline runs — is
    // closed-form: predict(x) must be the argmin over the model's
    // own centers of squared L2. The Spark side recomputes that
    // argmin as column arithmetic over the trained centers (literal
    // arrays, the q146 literal-codebook move) and emits one
    // consistency boolean per vector; the oracle predicts literal
    // TRUE for every row. Robust to trainer nondeterminism by
    // construction — ANY trained centers satisfy the invariant, so
    // the gate pins predict()'s algebra, not the RNG.
    Q("q214_kmeans_assign_bounded", (s, dir) => {
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val feats = emb.withColumn("features", array_to_vector(col("v")))
      // r18 opt (guide §1.2): this gate pins TRANSFORM == ARGMIN
      // consistency — a property of ANY fitted model, not of a
      // converged one (q59 stays the real trainer face, untouched).
      // ProbeStages r18: 55 single-task stages, exec 0.63 s — pure
      // job-count floor from 20 Lloyd iterations. 5 iterations pin
      // the identical invariant at a third of the jobs.
      val model = Models.kmeans(feats, "features", k = 8, maxIter = 5)
      def d2(center: Array[Double]) = aggregate(
        zip_with(col("v"), typedLit(center.toSeq),
          (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, x) => acc + x)
      val dists = array(model.clusterCenters.map(c => d2(c.toArray)): _*)
      model.transform(feats)
        .select(col("vec_id"),
          (element_at(dists, col("prediction").cast("int") + 1)
            <= array_min(dists) + lit(1e-9)).as("assign_consistent"))
        .orderBy(col("vec_id"))
    },
      Some("""SELECT vec_id, TRUE AS assign_consistent FROM embeddings
             |ORDER BY vec_id""".stripMargin)),

    // Salted join (Skew.saltedJoin) promoted to the full hash gate
    // (r12): salting is ANSWER-PRESERVING — the salt column only
    // splits each hot key across `salt` reducers (left rows salted
    // randomly, the small side replicated once per salt value), the
    // join's row multiset is untouched — so the oracle is the PLAIN
    // equi-join SQL and the gate proves the mitigation changes the
    // shuffle, never the answer. Fixture is hot by construction:
    // lineitem keyed mod 5 (~12k rows per key at sf0.01, every key a
    // heavy hitter) against the 5-row region dim, salt = 8. The
    // operator's reason to exist is the regime AQE's skew split
    // cannot reach: ONE key too big for any single reducer.
    Q("q215_salted_join", (s, dir) => {
      import graft.operators.Skew
      val li = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 5).as("k"), col("l_quantity"))
      val dim = t(s, dir, "region")
        .select(col("r_regionkey").as("k"), col("r_name"))
      Skew.saltedJoin(li, dim, Seq("k"), salt = 8)
        .groupBy(col("k"), col("r_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("k"))
    },
      Some("""SELECT l_orderkey % 5 AS k, r_name,
             | CAST(count(*) AS BIGINT) AS n,
             | round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem JOIN region ON l_orderkey % 5 = r_regionkey
             |GROUP BY 1, 2 ORDER BY k""".stripMargin)),

    // Bounded sibling of q169 (r12, the q192/q214 pattern): the KLL
    // estimates are randomized ([R] forever), but "each estimate's
    // measured rank error sits under the documented 5% floor" is a
    // boolean the oracle predicts TRUE, and the exact interpolated
    // percentiles ARE SQL-expressible — so a degraded digest now
    // fails the HASH gate, not just KllSpec's floor. Same two-cycle
    // append fixture as q169, fresh digest dir.
    Q("q217_kll_bounded", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val path = scratchTemp("graft_q217_kll").toString + "/digest"
      val cols = Seq("l_extendedprice", "l_quantity")
      graft.operators.Profile.appendKllDigest(
        li.filter(col("l_orderkey") % 2 === 0), cols, path)
      graft.operators.Profile.appendKllDigest(
        li.filter(col("l_orderkey") % 2 === 1), cols, path)
      val est = graft.operators.Profile.kllQuantiles(
        s, path, Seq(0.5, 0.9, 0.99))
      // r19 (guide §2.5): spread the projected input so the exact-
      // percentile count-map build and the rank-error count run at
      // session parallelism instead of inside the single-partition
      // scan task; both are partitioning-exact (integer counts; the
      // 0.0/1.0 indicator sums are exactly representable doubles)
      val longVals = graft.operators.Partitioning.spread(
          li.select(cols.map(col): _*))
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"),
            col(c).cast("double").as("v"))): _*)).as("x"))
        .select(col("x.col_name"), col("x.v"))
      val qsArr = array(lit(0.5), lit(0.9), lit(0.99))
      val exacts = longVals.groupBy(col("col_name"))
        .agg(percentile(col("v"), qsArr).as("__ex"))
        .select(col("col_name"),
          posexplode(col("__ex")).as(Seq("__i", "__e")))
        .select(col("col_name"),
          element_at(qsArr, col("__i") + 1).as("q"),
          round(col("__e"), 4).as("exact_value"))
      val ranks = est.join(longVals, Seq("col_name"))
        .groupBy(col("col_name"), col("q"), col("value_est"))
        .agg(abs(sum(when(col("v") <= col("value_est"), 1.0)
            .otherwise(0.0)) / count(lit(1)) - col("q"))
          .as("__err"))
      ranks.join(exacts, Seq("col_name", "q"))
        .select(col("col_name"), col("q"), col("exact_value"),
          (col("__err") <= 0.05).as("within_bound"))
        .orderBy(col("col_name"), col("q"))
    },
      Some("""WITH e AS (SELECT 'l_extendedprice' AS col_name,
             |   quantile_cont(CAST(l_extendedprice AS DOUBLE),
             |     [0.5, 0.9, 0.99]) AS exl
             |  FROM lineitem
             |  UNION ALL SELECT 'l_quantity',
             |   quantile_cont(CAST(l_quantity AS DOUBLE),
             |     [0.5, 0.9, 0.99])
             |  FROM lineitem),
             |u AS (SELECT col_name,
             |   unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q,
             |   unnest(exl) AS ex FROM e)
             |SELECT col_name, q, round(ex, 4) AS exact_value,
             | TRUE AS within_bound
             |FROM u ORDER BY col_name, q""".stripMargin)),

    // FULL-oracle sibling of q50 (r12): at nProbe == nCentroids the
    // IVF path prunes NOTHING, so the whole pruned machinery —
    // quantizer assignment, probe ranking, bucket join, per-query
    // top-k — must reproduce the exact brute-force answer row for
    // row. q49's oracle VERBATIM; q50 keeps measuring recall at the
    // real operating point (nProbe < nCentroids). This is the
    // SimilaritySpec full-probe==exact invariant promoted to the
    // hash gate.
    Q("q218_ivf_full_probe", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
      Some(embedTopkOracleSql)),

    // Bounded sibling of q130/q131 (r12): the merge table of an
    // iteratively-trained BPE is engine-specific ([R]), but BPE is
    // LOSSLESS by construction — concatenating a word's subword
    // tokens and stripping the end-of-word markers must reproduce
    // the normalized word, whatever merges were learned. The gate
    // re-concatenates every document's token stream and compares
    // against the same normalization (lowercase, whitespace
    // stripped) computed relationally; the oracle predicts every
    // document survives. A truncating memo, a dropped symbol, or a
    // marker-corrupting merge now fails the HASH gate. (Corpus is
    // ASCII — verified both SFs — so lower() agrees across engines;
    // unicode normalization is q135's gate.)
    Q("q219_bpe_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 60, minFreq = 2L)
      val enc = Bpe.encode(docs, "text", merges)
      val recon = array_join(transform(col("bpe_tokens"),
        tk => regexp_replace(tk, lit("</w>"), lit(""))), "")
      val expect = regexp_replace(lower(col("text")), lit("\\s+"), lit(""))
      enc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(recon === expect, 1L).otherwise(0L)).as("n_roundtrip"))
        .select(col("lang"), col("n_docs"), col("n_roundtrip"),
          (col("n_docs") === col("n_roundtrip")).as("lossless"))
        .orderBy(col("lang"))
    },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             | CAST(count(*) AS BIGINT) AS n_roundtrip,
             | TRUE AS lossless
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) under the FULL
    // hash gate: centers are the min-vec_id embedding of each of the
    // 10 labels (a bounded, relationally-expressible "fit" — the
    // serving path takes offline-fit centers the same way), the
    // corpus is embeddings plus two waves of per-component-perturbed
    // copies (+10000 for vec_id < 60 at factors 0.99/1.0/1.01 by
    // j%3; +20000 for vec_id < 25 at 1 - 0.005*(j%2) — triangles
    // with BOTH copies for vec_id < 25), and tau = 0.9 sits in a
    // measured gap: injected-dup cosines are >= 0.999 while the
    // corpus's max NATURAL pair cosine is 0.60 at sf0.1 (0.51 at
    // sf0.01), so no boundary pair can flip between engines. The
    // oracle replays assignment (argmin d2, ties to lower label),
    // within-cluster pairing, the cosine threshold, and the min_id
    // dominance rule relationally; the paper's centroid keep-rule is
    // SemDedupSpec's pin (FP priority stays within one engine).
    Q("q220_semdedup", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val corpus = semDupCorpus(e.select(col("vec_id"), col("v")))
      val centers = semCenters(e, "q220")
      // maxClusterSize deliberately UNCAPPED (the oracle's pair CTE
      // has no size guard — the cap's refusal face is SemDedupSpec's
      // pin, not this gate's); +10000/+20000 copy offsets assume
      // natural vec_ids stay below 10000 (max 1999 at sf0.1, the
      // docsWithDups convention)
      val kept = SemDedup.semDedup(corpus, "vec_id", "v", centers,
        minCosine = 0.9, maxClusterSize = Int.MaxValue,
        keep = "min_id")
      SemDedup.assign(kept, "v", centers)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    },
      Some(semDedupOracleSql)),

    // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169)
    // under the FULL hash gate: target = the English slice, raw =
    // all documents, m = 512 hashed unigram+bigram buckets on the
    // q45 md5 chain, Laplace alpha = 1. The oracle replays the whole
    // pipeline — gram construction, bucket hashing, both corpus
    // counts, the smoothed log-ratio, and every document's weight
    // sum (round 6 absorbs the engines' different summation orders).
    Q("q221_dsir_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ratios = Dsir.logRatioTable(
        docs.filter(col("lang") === "en"), docs, "text", m = 512)
      Dsir.importanceWeights(
          docs.select(col("doc_id"), col("lang"), col("text")),
          "text", ratios, m = 512)
        .select(col("doc_id"), col("lang"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy(col("doc_id"))
    },
      Some(dsirOracleCte +
        """SELECT d.doc_id, d.lang,
          | round(coalesce(w.lw, 0.0), 6) AS log_weight
          |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
          |ORDER BY d.doc_id""".stripMargin)),

    // DSIR selection: the paper's Gumbel-top-n importance resampling
    // with md5-derived uniforms (the q140 discipline) — top 50 of
    // the same weights, key = round(log_w, 6) + Gumbel(u(doc_id)).
    // Rounding the weight FIRST pins the only cross-engine FP seam
    // (summation order); the Gumbel term is pure per-id arithmetic.
    Q("q222_dsir_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ratios = Dsir.logRatioTable(
        docs.filter(col("lang") === "en"), docs, "text", m = 512)
      val weighted = Dsir.importanceWeights(
        docs.select(col("doc_id"), col("lang"), col("text")),
        "text", ratios, m = 512)
      Dsir.resampleGumbel(weighted, "doc_id", "log_weight", n = 50)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      Some(dsirSelectOracleSql)),

    // DSIR selection from a PERSISTED model (r13, the q117-vs-q115
    // pattern): the fit is saved under the __fmt + (m, alpha, hash)
    // stamp discipline, loaded back (stamps validated), and the
    // selection reproduces q222's oracle VERBATIM — proving the
    // persisted artifact carries the model exactly, so production
    // selection cycles reuse a fit instead of re-scanning target and
    // pool per run (BENCH_NOTES prices the inline refit q222 pays).
    Q("q226_dsir_persisted", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = scratchTemp("graft_q226_dsir").toString + "/model"
      Dsir.saveModel(Dsir.logRatioTable(
        docs.filter(col("lang") === "en"), docs, "text", m = 512),
        path, m = 512, alpha = 1.0)
      val weighted = Dsir.importanceWeights(
        docs.select(col("doc_id"), col("lang"), col("text")),
        "text", Dsir.loadModel(s, path, m = 512, alpha = 1.0), m = 512)
      Dsir.resampleGumbel(weighted, "doc_id", "log_weight", n = 50)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      Some(dsirSelectOracleSql)),

    // IPF raking (Deming & Stephan 1940) under the FULL hash gate:
    // fit lang x source cell fractions to simultaneous marginal
    // targets (en 0.4 / others 0.15; sources uniform 0.05) with 5
    // fixed row-then-column passes. Fixed iteration count is what
    // makes the oracle possible — every pass unrolls as a pair of
    // (marginal-sum, rescale) CTEs, the q149 label-prop discipline.
    // Round 6 absorbs the engines' summation-order drift (~1e-14
    // after 10 contractive passes).
    Q("q223_ipf_raking", (s, dir) =>
      graft.operators.Raking.ipfCellFractions(
          t(s, dir, "documents"), "lang", "source",
          rakeRowTargets, rakeColTargets, iters = 5)
        .select(col("r"), col("c"), col("n"),
          round(col("cell_frac"), 6).as("cell_frac"))
        .orderBy(col("r"), col("c")),
      Some(ipfOracleCte(5) +
        """SELECT r, c, n, round(cell_frac, 6) AS cell_frac FROM f
          |ORDER BY r, c""".stripMargin)),

    // Raked selection: 200 docs at the fitted mix — per-cell quotas
    // are largest-remainder (Hamilton) apportionments (floor + one
    // extra for the largest round-9 remainders, so the draw hits 200
    // exactly when populations allow; the epsilon and the round-9
    // remainder pin both FP seams), winners by md5(seed:id) order
    // (capPerGroup's rerun-stable discipline). r13: the oracle also
    // mirrors the engine's overshoot TRIM — if the floor epsilon
    // rounds enough cells UP that floors alone exceed totalN, the
    // smallest-remainder cells give the excess back (RakingSpec pins
    // the corner; at this fixture sh.s is positive and the branch is
    // dormant on both sides).
    Q("q224_rake_select", (s, dir) =>
      graft.operators.Raking.rakeSelect(
          t(s, dir, "documents"), "doc_id", "lang", "source",
          rakeRowTargets, rakeColTargets, totalN = 200, iters = 5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id")),
      Some(ipfOracleCte(5) +
        """, base AS (SELECT r, c,
          |   CAST(floor(200 * cell_frac + 1e-9) AS BIGINT) AS q,
          |   round(200 * cell_frac
          |     - floor(200 * cell_frac + 1e-9), 9) AS rem
          |  FROM f),
          |sh AS (SELECT 200 - sum(q) AS s FROM base),
          |rk AS (SELECT r, c, q, row_number() OVER (
          |   ORDER BY rem DESC, r, c) AS brn FROM base),
          |tk AS (SELECT r, c, row_number() OVER (
          |   ORDER BY rem ASC, r, c) AS trn FROM base WHERE q > 0),
          |qn AS (SELECT rk.r, rk.c,
          |   rk.q + (CASE WHEN sh.s > 0 AND rk.brn <= sh.s
          |           THEN 1 ELSE 0 END)
          |        - (CASE WHEN sh.s < 0 AND tk.trn <= -sh.s
          |           THEN 1 ELSE 0 END) AS q
          |  FROM rk LEFT JOIN tk ON rk.r = tk.r AND rk.c = tk.c, sh),
          |kk AS (SELECT doc_id, lang, source,
          |   CAST(concat('0x',
          |       substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))
          |     AS BIGINT) AS key
          |  FROM documents),
          |rr AS (SELECT doc_id, lang, source, row_number() OVER (
          |   PARTITION BY lang, source ORDER BY key, doc_id) AS rn
          |  FROM kk)
          |SELECT doc_id, lang, source FROM rr
          |JOIN qn ON lang = qn.r AND source = qn.c
          |WHERE rn <= q ORDER BY doc_id""".stripMargin)),

    // 3-marginal raking (r13): lang x source x length-bucket fitted
    // SIMULTANEOUSLY — the k-marginal generalization VERDICT r12
    // item 3 asked for (real data recipes rake lang x source x
    // quality at once; 2-marginal raking cannot hit a third
    // stratification's targets except by luck). Same fixed-iteration
    // discipline: every one of the 15 marginal passes (5 iters x 3
    // dims) unrolls as a (marginal-sum, rescale) CTE pair. The third
    // dimension is a DERIVED int-ish bucket (n_chars thresholds) —
    // exercising the string-cast stratification contract (ADVICE
    // r12) on the gate, not just in RakingSpec.
    Q("q225_ipf_raking_3m", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("len_bucket",
          when(col("n_chars") < 200, "short")
            .when(col("n_chars") < 400, "mid")
            .otherwise("long"))
      graft.operators.Raking.ipfCellFractionsN(docs,
          Seq("lang", "source", "len_bucket"),
          Seq(rakeRowTargets, rakeColTargets, rakeBucketTargets),
          iters = 5)
        .select(col("lang"), col("source"), col("len_bucket"),
          col("n"), round(col("cell_frac"), 6).as("cell_frac"))
        .orderBy(col("lang"), col("source"), col("len_bucket"))
    },
      Some(ipfOracleCteN(5, Seq(
        ("lang", "lang", rakeRowTargets),
        ("source", "source", rakeColTargets),
        ("len_bucket", lenBucketSql, rakeBucketTargets))) +
        """SELECT lang, source, len_bucket, n,
          | round(cell_frac, 6) AS cell_frac
          |FROM f ORDER BY lang, source, len_bucket""".stripMargin)),

    // The r12-trio FLAGSHIP recipe (r13, VERDICT item 6): SemDeDup ->
    // DSIR weighting -> raked selection composed end-to-end in ONE
    // SQL-oracled chain, each stage's CTE block the unit oracle of
    // that stage. Corpus = documents joined to their embeddings plus
    // one wave of near-dup copies (+10000 for doc_id < 40, the q220
    // perturbation); stage 1 semantically dedups (centers = min-id
    // embedding per label, tau 0.9, min_id keep), stage 2 fits DSIR
    // on the SURVIVORS (target = their English slice, m = 512) and
    // weights them, stage 3 rake-selects 100 docs at the lang x
    // source targets with each cell's quota filled by HIGHEST DSIR
    // weight (rakeSelectByN — the reason that face exists): dedup
    // decides who may enter, DSIR decides who is most target-like,
    // raking decides how many per cell. A regression in ANY stage
    // shifts the final 100 ids and fails the hash.
    Q("q227_training_recipe", (s, dir) => {
      import graft.operators.Raking
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      // r18 opt (guide §5): `joined` feeds the centers collect, BOTH
      // corpus branches (base + perturbed union), and — through
      // `corpus` — semDedup's assignment AND its final anti-join;
      // uncached every reference re-ran the docs⋈emb join from
      // parquet (ProbeStages r18: six ~32-task stages each re-reading
      // the same 1.7 MB input). One cache fill, every branch reuses it.
      val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("label"), col("v"))
        .cache()
      val f1 = typedLit(Seq.tabulate(64)(j => 1.0 + 0.01 * ((j % 3) - 1)))
      val corpus = joined.drop("label").unionByName(
        joined.filter(col("doc_id") < 40)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"),
            col("lang"), col("source"),
            zip_with(col("v"), f1, (x, f) => x * f).as("v")))
      // offline-fit centers: the min-doc_id embedding of each label
      // (bounded + relationally expressible, the q220 discipline);
      // ORDER BY label so center-index ties replay as label ties
      val centers = joined
        .join(joined.groupBy(col("label"))
          .agg(min(col("doc_id")).as("doc_id")), Seq("doc_id", "label"))
        .select(col("label"), col("v")).collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
      val kept = SemDedup.semDedup(corpus, "doc_id", "v", centers,
        minCosine = 0.9, maxClusterSize = Int.MaxValue,
        keep = "min_id").cache()
      val ratios = Dsir.logRatioTable(
        kept.filter(col("lang") === "en"), kept, "text", m = 512)
      val weighted = Dsir.importanceWeights(kept, "text", ratios, 512)
        .withColumn("prio", round(col("log_weight"), 6))
      Raking.rakeSelectByN(weighted, "doc_id", Seq("lang", "source"),
          Seq(rakeRowTargets, rakeColTargets), totalN = 100,
          priorityCol = "prio", iters = 5)
        .select(col("doc_id"), col("lang"), col("source"),
          col("prio").as("log_weight"))
        .orderBy(col("doc_id"))
    },
      Some(trioOracleSql)),

    // SemDeDup from a PERSISTED center table (r13, the q226/q117
    // pattern in center space): q220's exact fixture and dedup, with
    // the centers round-tripped through SemDedup.saveCenters /
    // loadCenters (__fmt + (k, dim) stamps, 0..k-1 idx population
    // validated — the center ORDER is part of the model, argmin ties
    // break to the lowest index) — q220's oracle VERBATIM, so the
    // persisted artifact provably carries the model exactly and the
    // Lloyd fit becomes a one-time cost across dedup/screen cycles.
    Q("q228_semdedup_persisted", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val corpus = semDupCorpus(e.select(col("vec_id"), col("v")))
      val path = scratchTemp("graft_q228_centers").toString + "/centers"
      SemDedup.saveCenters(s, semCenters(e, "q228"), path)
      val centers = SemDedup.loadCenters(s, path)
      val kept = SemDedup.semDedup(corpus, "vec_id", "v", centers,
        minCosine = 0.9, maxClusterSize = Int.MaxValue,
        keep = "min_id")
      SemDedup.assign(kept, "v", centers)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    },
      Some(semDedupOracleSql)),

    // SemDeDup incremental SCREEN (r13, the q115/q118 discipline in
    // cluster space): which batch rows near-dup the standing corpus?
    // Batch = perturbed copies of vec_id < 40 (must hit their
    // sources) + NEGATED vectors of vec_id < 10 (cosine -1 with
    // their originals — genuinely fresh, must hit nothing). The
    // blocking structure is the fixed center partition (recall 1
    // within a cluster, 0 across — deterministic and auditable), the
    // corpus is read ONCE (broadcast batch join on cluster, no
    // self-join, no shuffle), and the oracle replays assignment of
    // BOTH sides plus the exact cosine verify.
    Q("q229_semdedup_screen", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val corpus = e.select(col("vec_id"), col("v"))
      val f1 = typedLit(Seq.tabulate(64)(j => 1.0 + 0.01 * ((j % 3) - 1)))
      val batch = corpus.filter(col("vec_id") < 40)
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("v"), f1, (x, f) => x * f).as("v"))
        .unionByName(corpus.filter(col("vec_id") < 10)
          .select((col("vec_id") + 20000).as("vec_id"),
            transform(col("v"), x => -x).as("v")))
      val centers = semCenters(e, "q229")
      SemDedup.screenPairs(corpus, batch, "vec_id", "v", centers,
          minCosine = 0.9, maxClusterSize = Int.MaxValue)
        .select(col("id_new"), col("id_corpus"), col("cluster"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_new"), col("id_corpus"))
    },
      Some("""WITH e AS (SELECT vec_id, label,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |b AS (SELECT vec_id + 10000 AS id_new,
             |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
             |      * (1 + 0.01 * ((j % 3) - 1))) AS v
             |  FROM e WHERE vec_id < 40
             |  UNION ALL SELECT vec_id + 20000,
             |    list_transform(range(64), j -> -v[CAST(j+1 AS INT)])
             |  FROM e WHERE vec_id < 10),
             |c AS (SELECT e.label AS cl, e.v AS cv FROM e
             |  JOIN (SELECT label, min(vec_id) AS mv FROM e GROUP BY label) f
             |  ON e.vec_id = f.mv),
             |ac AS (SELECT vec_id, cl FROM (
             |  SELECT e.vec_id, c.cl,
             |    list_sum(list_transform(range(64), j ->
             |      (e.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
             |      * (e.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
             |  FROM e, c)
             |  QUALIFY row_number() OVER (PARTITION BY vec_id
             |    ORDER BY d2, cl) = 1),
             |ab AS (SELECT id_new, cl FROM (
             |  SELECT b.id_new, c.cl,
             |    list_sum(list_transform(range(64), j ->
             |      (b.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
             |      * (b.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
             |  FROM b, c)
             |  QUALIFY row_number() OVER (PARTITION BY id_new
             |    ORDER BY d2, cl) = 1)
             |SELECT ab.id_new, ac.vec_id AS id_corpus,
             | CAST(ab.cl AS INT) AS cluster,
             | round(list_cosine_similarity(b.v, e.v), 6) AS cosine
             |FROM ab JOIN ac ON ab.cl = ac.cl
             |JOIN b ON b.id_new = ab.id_new
             |JOIN e ON e.vec_id = ac.vec_id
             |WHERE list_cosine_similarity(b.v, e.v) >= 0.9
             |ORDER BY ab.id_new, id_corpus""".stripMargin)),

    // The paper's CENTROID keep rule under the full hash gate (r13):
    // q220's exact fixture with keep = "centroid" — the pair member
    // FARTHER from its cluster centroid survives (the paper keeps
    // edge examples for diversity), ties to the lower id. This was
    // spec-only in r12 ("FP priority stays within one engine"); the
    // oracle replays the centroid-cosine comparison exactly, which
    // is sound on THIS fixture because the minimum |cent_cos_a −
    // cent_cos_b| gap over candidate pairs is MEASURED ≥ 8.9e-8 at
    // all three scales (probed in DuckDB; cross-engine double drift
    // on a 64-term fold is ~1e-14) — no boundary pair can flip.
    Q("q230_semdedup_centroid", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val corpus = semDupCorpus(e.select(col("vec_id"), col("v")))
      val centers = semCenters(e, "q230")
      val kept = SemDedup.semDedup(corpus, "vec_id", "v", centers,
        minCosine = 0.9, maxClusterSize = Int.MaxValue,
        keep = "centroid")
      SemDedup.assign(kept, "v", centers)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    },
      Some("""WITH e AS (SELECT vec_id, label,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |u AS (SELECT vec_id, v FROM e
             |  UNION ALL SELECT vec_id + 10000,
             |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
             |      * (1 + 0.01 * ((j % 3) - 1)))
             |    FROM e WHERE vec_id < 60
             |  UNION ALL SELECT vec_id + 20000,
             |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
             |      * (1 - 0.005 * (j % 2)))
             |    FROM e WHERE vec_id < 25),
             |c AS (SELECT e.label AS cl, e.v AS cv FROM e
             |  JOIN (SELECT label, min(vec_id) AS mv FROM e GROUP BY label) f
             |  ON e.vec_id = f.mv),
             |d AS (SELECT u.vec_id, c.cl,
             |    list_sum(list_transform(range(64), j ->
             |      (u.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
             |      * (u.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
             |  FROM u, c),
             |a AS (SELECT vec_id, cl FROM d
             |  QUALIFY row_number() OVER (PARTITION BY vec_id
             |    ORDER BY d2, cl) = 1),
             |cc AS (SELECT a.vec_id, a.cl,
             |    list_cosine_similarity(u.v, c.cv) AS ccos
             |  FROM a JOIN u ON u.vec_id = a.vec_id
             |  JOIN c ON c.cl = a.cl),
             |p AS (SELECT CASE
             |    WHEN cx.ccos < cy.ccos
             |      OR (cx.ccos = cy.ccos AND x.vec_id < y.vec_id)
             |    THEN y.vec_id ELSE x.vec_id END AS ib
             |  FROM a x JOIN a y ON x.cl = y.cl AND x.vec_id < y.vec_id
             |  JOIN u ux ON ux.vec_id = x.vec_id
             |  JOIN u uy ON uy.vec_id = y.vec_id
             |  JOIN cc cx ON cx.vec_id = x.vec_id
             |  JOIN cc cy ON cy.vec_id = y.vec_id
             |  WHERE list_cosine_similarity(ux.v, uy.v) >= 0.9)
             |SELECT a.vec_id, CAST(a.cl AS INT) AS cluster FROM a
             |WHERE a.vec_id NOT IN (SELECT ib FROM p)
             |ORDER BY vec_id""".stripMargin)),

    // SEMANTIC admission (r13): one full admission cycle where the
    // near screen is cluster-blocked cosine against a persisted
    // SemDedup.assignmentIndex — the family's fifth space (minhash
    // q122/q129, embedding-LSH q124/q216, substring q138, bloom
    // q128, semantic HERE). Batch = perturbed copies of vec_id < 40
    // (near-dups — rejected wherever their copy assigns to the
    // source's cluster, which the oracle replays rather than
    // assumes), NEGATED vectors of vec_id < 10 (cosine −1, genuinely
    // fresh — admitted), and verbatim id replays of vec_id < 5
    // (dropped by the exact id screen — the at-least-once-replay
    // face). The oracle replays the whole cycle: id screen,
    // assignment of both sides, cosine verify, and the final corpus
    // id set.
    Q("q231_admission_semantic", (s, dir) => {
      import graft.streaming.Admission
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val base = e.select(col("vec_id"), col("v"))
      val centers = semCenters(e, "q231")
      val (corpusDir, indexDir, _) =
        admissionStateMemo("sem", dir) { (c, i) =>
          base.write.mode("overwrite").parquet(c)
          SemDedup.assignmentIndex(base, "vec_id", "v", centers)
            .write.mode("overwrite").parquet(i)
        }
      val f1 = typedLit(Seq.tabulate(64)(j => 1.0 + 0.01 * ((j % 3) - 1)))
      val batch = base.filter(col("vec_id") < 40)
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("v"), f1, (x, f) => x * f).as("v"))
        .unionByName(base.filter(col("vec_id") < 10)
          .select((col("vec_id") + 20000).as("vec_id"),
            transform(col("v"), x => -x).as("v")))
        .unionByName(base.filter(col("vec_id") < 5))
      // maxClusterSize UNCAPPED like q220/q229: the oracle's m CTE
      // has no cluster-size guard, and a regenerated fixture with an
      // over-10000 label cluster would otherwise diverge silently
      Admission.admitBatchSemantic(batch, corpusDir, indexDir,
        "vec_id", "v", centers, minCosine = 0.95,
        maxClusterSize = Int.MaxValue,
        dedupWithinBatch = false, batchId = 1L)
      s.read.parquet(corpusDir).select(col("vec_id"))
        .orderBy(col("vec_id"))
    },
      Some(admissionSemanticOracleSql)),

    // Unigram-LM tokenizer (Kudo 2018, arXiv:1804.10959 — the
    // SentencePiece unigram model), Viterbi face under the FULL hash
    // gate. Vocab built in-query: every observed character at
    // log-prob -10, every observed word-bigram at -15. Then a
    // segmentation with b bigrams over a len-l word scores
    // -10*l + 5*b, so Viterbi MUST discover the max-bigram tiling:
    // piece count = ceil(len/2), single-char pieces = len % 2 —
    // closed-form, and the oracle replays it per word. Every bigram
    // of every word is in the vocab by construction (built from all
    // words at all positions), so the tiling is always available;
    // the general lattice (not SQL-expressible) is UnigramSpec's
    // randomized-enumeration pin.
    Q("q232_unigram_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs.select(explode(TF.tokens(col("text"))).as("w"))
        .distinct()
      val chars = words.select(explode(transform(
          sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))).as("piece"))
        .distinct().withColumn("log_prob", lit(-10.0))
      val bigrams = words.filter(length(col("w")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("piece"))
        .distinct().withColumn("log_prob", lit(-15.0))
      graft.operators.Unigram.encode(docs, "text",
          chars.unionByName(bigrams))
        .filter(size(TF.tokens(col("text"))) > 0)
        .select(col("lang"),
          size(col("ug_tokens")).as("np"),
          size(filter(col("ug_tokens"), p => length(p) === 1)).as("ns"),
          size(TF.tokens(col("text"))).as("nw"))
        .groupBy(col("lang"))
        .agg(sum(col("np")).as("n_pieces"),
          sum(col("ns")).as("n_single"),
          sum(col("nw")).as("n_words"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH tok AS (SELECT lang,
              |    unnest(${sqlTokens("text")}) AS w FROM documents)
              |SELECT lang,
              | CAST(sum((len(w) + 1) // 2) AS BIGINT) AS n_pieces,
              | CAST(sum(len(w) % 2) AS BIGINT) AS n_single,
              | CAST(count(*) AS BIGINT) AS n_words
              |FROM tok GROUP BY lang ORDER BY lang""".stripMargin)),

    // The unigram trainer's one fully-relational stage under the FULL
    // hash gate (the q132 seedPairCounts treatment): positional
    // substring counts over the distinct-word table, weighted by word
    // frequency, top-k by (count desc, piece asc). The oracle replays
    // the substring enumeration with two unnest(range(...)) levels.
    Q("q233_unigram_seed", (s, dir) =>
      graft.operators.Unigram.seedCandidates(t(s, dir, "documents"),
          "text", maxPieceLen = 4, seedSize = 200)
        .orderBy(col("piece")),
      Some(s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS w
              |    FROM documents),
              |wc AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
              |pos AS (SELECT w, f, unnest(range(1, len(w) + 1)) AS i
              |  FROM wc),
              |ext AS (SELECT w, f, i,
              |    unnest(range(1, least(4, len(w) - i + 1) + 1)) AS l
              |  FROM pos),
              |sub AS (SELECT substring(w, CAST(i AS INT),
              |    CAST(l AS INT)) AS piece, f FROM ext),
              |agg AS (SELECT piece, CAST(sum(f) AS BIGINT) AS cnt
              |  FROM sub GROUP BY piece),
              |top AS (SELECT piece, cnt FROM agg
              |  ORDER BY cnt DESC, piece ASC LIMIT 200)
              |SELECT piece, cnt FROM top ORDER BY piece""".stripMargin)),

    // Bounded sibling of the iterative EM trainer (the q219/q130
    // pattern): whatever probabilities EM learns, unigram encoding is
    // LOSSLESS by construction — the alphabet is always retained and
    // OOV code points fall back verbatim — so concatenating every
    // document's pieces must reproduce the normalized text. A memo
    // bug, a dropped alphabet piece, or a lattice off-by-one fails
    // the HASH gate; the oracle predicts every document survives.
    Q("q234_unigram_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.operators.Unigram.train(docs, "text",
        vocabSize = 400, maxPieceLen = 6, seedSize = 1000, emIters = 2)
      val enc = graft.operators.Unigram.encode(docs, "text", vocab)
      val recon = array_join(col("ug_tokens"), "")
      val expect = regexp_replace(lower(col("text")), lit("\\s+"), lit(""))
      enc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(recon === expect, 1L).otherwise(0L)).as("n_roundtrip"))
        .select(col("lang"), col("n_docs"), col("n_roundtrip"),
          (col("n_docs") === col("n_roundtrip")).as("lossless"))
        .orderBy(col("lang"))
    },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             | CAST(count(*) AS BIGINT) AS n_roundtrip,
             | TRUE AS lossless
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Perceptual image dedup under the FULL hash gate (the q64
    // synthetic-media pattern): one deterministic PNG per doc whose
    // pixel content is a pure function of doc_id % 7 — a 32×32 image
    // with 4*(g+1) white columns, block-aligned to the 8×8 aHash
    // grid, so each group's hash has exactly 8*(g+1) set bits in a
    // distinct column pattern (groups CANNOT collide: different set-
    // bit counts). Exact-dup groups = one groupBy on the hash; the
    // oracle replays the planted partition (GROUP BY doc_id % 7).
    // The hash VALUES are real javax.imageio decodes pinned in
    // MultimodalHashSpec (resolution/brightness invariance, dHash
    // gradient); near-dup pairs ride Dedup.signaturePairs — the text-
    // simhash band machinery, spec-pinned equal.
    Q("q235_image_dedup", (s, dir) => {
      import org.apache.spark.sql.types._
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("content", BinaryType))))
      // r18 opt (guide §2.5/§8): the single-file scan gave ONE task,
      // serializing 15k PNG encode+decode rounds (ProbeStages r18:
      // one 2.44 s task on 32 idle cores). Repartition the 8-byte ids
      // BEFORE the heavy per-row image work — the shuffle moves keys,
      // the expensive opaque function runs at full parallelism. The
      // width is the session's default parallelism, not a constant.
      val media = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val g = (id % 7).toInt
            val img = new java.awt.image.BufferedImage(32, 32,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var x = 0
            while (x < 32) {
              val rgb = if (x < 4 * (g + 1)) 0xffffff else 0x000000
              var y = 0
              while (y < 32) { img.setRGB(x, y, rgb); y += 1 }
              x += 1
            }
            val out = new java.io.ByteArrayOutputStream()
            Multimodal.imageIoNoDiskCache // r18 opt: no temp-file cache
            javax.imageio.ImageIO.write(img, "png", out)
            org.apache.spark.sql.Row(id, out.toByteArray)
          }
        }(enc)
      Multimodal.imageHashes(media, "ahash")
        .groupBy(col("img_hash"))
        .agg(min(col("media_id")).as("rep_id"),
          count(lit(1)).as("n_dups"))
        .select(col("rep_id"), col("n_dups"))
        .orderBy(col("rep_id"))
    },
      Some("""SELECT min(doc_id) AS rep_id,
             | CAST(count(*) AS BIGINT) AS n_dups
             |FROM documents GROUP BY doc_id % 7
             |ORDER BY rep_id""".stripMargin)),

    // The Gopher heuristic filter set (Rae et al. 2021,
    // arXiv:2112.11446, Appendix A1.1) under the FULL hash gate:
    // every named rule — word-count band, mean word length, symbol
    // ratio, bullet/ellipsis line ratios, alpha-word fraction,
    // required-stopword hits — is an int-over-int IEEE ratio against
    // a literal threshold, so the oracle replays each rule AND the
    // conjunction exactly. minWords lowered to 20 and
    // minStopwordHits to 1 so the fixture's short synthetic-
    // vocabulary docs (only "the" from the paper's list appears)
    // exercise BOTH branches of the word-count and stopword rules —
    // the paper thresholds stay the function defaults.
    Q("q236_gopher_quality", (s, dir) => {
      val g = TF.gopherFlags(col("text"), minWords = 20,
        minStopwordHits = 1)
      def n(flag: String, as: String) =
        sum(when(col(s"g.$flag"), 1L).otherwise(0L)).as(as)
      t(s, dir, "documents").select(col("lang"), g.as("g"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          n("word_count_ok", "n_word_count"),
          n("mean_word_len_ok", "n_mean_len"),
          n("symbol_ratio_ok", "n_symbol"),
          n("bullet_ok", "n_bullet"),
          n("ellipsis_ok", "n_ellipsis"),
          n("alpha_word_ok", "n_alpha"),
          n("stopword_ok", "n_stopword"),
          n("pass", "n_pass"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH f AS (SELECT lang, ${sqlTokens("text")} AS toks,
              |    text, list_filter(string_split_regex(text, '\\r?\\n'),
              |      l -> len(trim(l)) > 0) AS lines FROM documents),
              |r AS (SELECT lang,
              |  len(toks) BETWEEN 20 AND 100000 AS c1,
              |  (coalesce(CAST(list_sum(list_transform(toks,
              |      t -> len(t))) AS DOUBLE), 0)
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0))
              |    BETWEEN 3.0 AND 10.0 AS c2,
              |  CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0) <= 0.1
              |  AND (CAST(len(text) - len(replace(text, '...', ''))
              |        AS DOUBLE) / 3.0
              |    + CAST(len(text) - len(replace(text, '…', ''))
              |        AS DOUBLE))
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0)
              |    <= 0.1 AS c3,
              |  CAST(len(list_filter(lines, l ->
              |      starts_with(trim(l), '-') OR starts_with(trim(l), '*')
              |      OR starts_with(trim(l), '•'))) AS DOUBLE)
              |    / greatest(CAST(len(lines) AS DOUBLE), 1.0)
              |    <= 0.9 AS c4,
              |  CAST(len(list_filter(lines, l -> ends_with(trim(l), '...')
              |      OR ends_with(trim(l), '…'))) AS DOUBLE)
              |    / greatest(CAST(len(lines) AS DOUBLE), 1.0)
              |    <= 0.3 AS c5,
              |  CAST(len(list_filter(toks, t ->
              |      regexp_matches(t, '\\p{L}'))) AS DOUBLE)
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0)
              |    >= 0.8 AS c6,
              |  len(list_intersect(list_distinct(toks),
              |    ['the','be','to','of','and','that','have','with']))
              |    >= 1 AS c7
              |  FROM f)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count,
              | CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_len,
              | CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
              | CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet,
              | CAST(sum(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis,
              | CAST(sum(CASE WHEN c6 THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
              | CAST(sum(CASE WHEN c7 THEN 1 ELSE 0 END) AS BIGINT) AS n_stopword,
              | CAST(sum(CASE WHEN c1 AND c2 AND c3 AND c4 AND c5
              |   AND c6 AND c7 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
              |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // The image-dedup COMPOSITION (the q152 two-operators-one-oracle
    // treatment): perceptual hashes → signaturePairs band machinery →
    // connected components → cluster census. Fixture: docs < 196 get
    // a PNG whose white columns are Fano-plane line (doc_id % 7) —
    // any two lines share exactly one point, so distinct groups are
    // ≥ 4 grid columns (32 hash bits) apart — and odd (doc_id/7)
    // parity adds column 7, an 8-bit within-group perturbation. At
    // maxDistance 8 the ONLY edges are within-group (even↔odd at
    // hamming 8, same-parity at 0), so components = the planted
    // groups exactly, with margin 32 vs 8 — no boundary pair can
    // flip. The oracle replays the planted partition.
    Q("q237_image_communities", (s, dir) => {
      val media = patternMedia(
        t(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 196),
        id => fanoLines((id % 7).toInt).toSet ++
          (if ((id / 7) % 2 == 1) Set(7) else Set.empty[Int]))
      val pairs = Dedup.signaturePairs(
        Multimodal.imageHashes(media, "ahash"), "media_id", "img_hash",
        maxDistance = 8)
      Dedup.clusterSizes(pairs.select(col("id_a"), col("id_b")))
        .orderBy(col("rep"))
    },
      Some("""SELECT min(doc_id) AS rep,
             | CAST(count(*) AS BIGINT) AS size
             |FROM documents WHERE doc_id < 196
             |GROUP BY doc_id % 7 ORDER BY rep""".stripMargin)),

    // Tokenizer → budget COMPOSITION (the q152 pattern: two oracled
    // operators, one oracle): per-doc cost = unigram tokenCount under
    // q232's bigram-face vocab — whose Viterbi optimum is the closed
    // form Σ ceil(len/2) — feeding q74's greedy per-stratum token
    // budget. Token accounting in LEARNED units instead of whitespace
    // words is exactly what the trained tokenizer exists for; the
    // oracle replays the cost closed-form AND the budget window.
    Q("q238_unigram_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs.select(explode(TF.tokens(col("text"))).as("w"))
        .distinct()
      val chars = words.select(explode(transform(
          sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))).as("piece"))
        .distinct().withColumn("log_prob", lit(-10.0))
      val bigrams = words.filter(length(col("w")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("piece"))
        .distinct().withColumn("log_prob", lit(-15.0))
      val costed = graft.operators.Unigram.tokenCount(
          docs, "text", chars.unionByName(bigrams), out = "n_tok")
        .withColumn("quality", TF.qualityScore(col("text")))
      Budget.tokenBudgetSelect(costed, "lang", "doc_id", "quality",
          "n_tok", budget = 5000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          round(min(col("quality")), 4).as("min_quality"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH q AS (SELECT doc_id, lang,
              |  ${sqlQuality("text")} AS quality,
              |  coalesce(list_sum(list_transform(${sqlTokens("text")},
              |    w -> (len(w) + 1) // 2)), 0) AS n_tok
              |FROM documents),
              |c AS (SELECT *, sum(n_tok) OVER (
              |   PARTITION BY lang ORDER BY quality DESC, doc_id) AS cum
              |  FROM q)
              |SELECT lang, count(*) AS n_docs,
              | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              | round(min(quality), 4) AS min_quality
              |FROM c WHERE cum <= 5000 GROUP BY lang ORDER BY lang""".stripMargin)),

    // Unigram vocab PERSISTENCE (the q226/q228 pattern, completing
    // the model-persistence square: PQ codebooks, DSIR ratios,
    // SemDeDup centers, unigram vocab): train → saveVocab → loadVocab
    // (__fmt + (vocabSize, maxPieceLen) stamps validated) → encode
    // reproduces q234's round-trip oracle VERBATIM — a truncated
    // write, stamp drift, or a lossy (piece, log_prob) round-trip
    // fails the HASH gate.
    Q("q239_unigram_persisted", (s, dir) => {
      val docs = t(s, dir, "documents")
      val fitted = graft.operators.Unigram.train(docs, "text",
        vocabSize = 400, maxPieceLen = 6, seedSize = 1000, emIters = 2)
      val p = scratchTemp("graft_ug_vocab_q239").toString
      graft.operators.Unigram.saveVocab(fitted, p, vocabSize = 400,
        maxPieceLen = 6)
      val vocab = graft.operators.Unigram.loadVocab(s, p,
        vocabSize = 400, maxPieceLen = 6)
      val enc = graft.operators.Unigram.encode(docs, "text", vocab)
      val recon = array_join(col("ug_tokens"), "")
      val expect = regexp_replace(lower(col("text")), lit("\\s+"), lit(""))
      enc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(recon === expect, 1L).otherwise(0L)).as("n_roundtrip"))
        .select(col("lang"), col("n_docs"), col("n_roundtrip"),
          (col("n_docs") === col("n_roundtrip")).as("lossless"))
        .orderBy(col("lang"))
    },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             | CAST(count(*) AS BIGINT) AS n_roundtrip,
             | TRUE AS lossless
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Signature incremental screen, direct face (the SIXTH screen
    // space: exact/jaccard/cosine/substring/semantic/signature) over
    // image perceptual hashes: corpus = Fano-pattern PNGs
    // (doc_id < 196), batch = odd-variant copies at +10000 (match
    // their group at hamming exactly 8) plus ALIEN-pattern decoys at
    // +20000 ({0,1,3} is ≥ 2 columns = 16 bits from every Fano line
    // — the negated-decoy face, reported with ZERO matches). The
    // oracle replays the planted relationships with one LEFT JOIN.
    Q("q240_image_screen", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val corpus = patternMedia(docs.filter(col("doc_id") < 196),
        id => fanoLines((id % 7).toInt).toSet)
      val batchIds = docs.filter(col("doc_id") < 28)
        .select((col("doc_id") + 10000).as("doc_id"))
        .unionByName(docs
          .filter(col("doc_id") >= 28 && col("doc_id") < 56)
          .select((col("doc_id") + 20000).as("doc_id")))
      val batch = patternMedia(batchIds,
        id => if (id >= 20000) Set(0, 1, 3)
              else fanoLines(((id - 10000) % 7).toInt).toSet + 7)
      val pairs = Dedup.signaturePairsAgainst(
        Multimodal.imageHashes(batch, "ahash"),
        Multimodal.imageHashes(corpus, "ahash"),
        "media_id", "img_hash", maxDistance = 8)
      val agg = pairs.groupBy(col("id_b"))
        .agg(count(lit(1)).as("nm"), min(col("id_c")).as("fm"))
      // join base = the id frame (no image work): hashing the batch
      // twice would re-render and re-decode every PNG
      batchIds.select(col("doc_id").as("id_b")).join(agg, Seq("id_b"), "left")
        .select(col("id_b").as("batch_id"),
          coalesce(col("nm"), lit(0L)).as("n_matches"),
          coalesce(col("fm"), lit(-1L)).as("first_match"))
        .orderBy(col("batch_id"))
    },
      Some("""WITH c AS (SELECT doc_id FROM documents WHERE doc_id < 196),
             |b AS (SELECT doc_id + 10000 AS batch_id, doc_id % 7 AS g
             |    FROM documents WHERE doc_id < 28
             |  UNION ALL SELECT doc_id + 20000, -1 FROM documents
             |    WHERE doc_id >= 28 AND doc_id < 56)
             |SELECT b.batch_id,
             | CAST(count(c.doc_id) AS BIGINT) AS n_matches,
             | coalesce(min(c.doc_id), -1) AS first_match
             |FROM b LEFT JOIN c ON b.g = c.doc_id % 7
             |GROUP BY b.batch_id ORDER BY b.batch_id""".stripMargin)),

    // q240 through the PERSISTED index (the q115-vs-q117 pattern,
    // same oracle VERBATIM): the index parquet round-trips with its
    // __fmt + __max_distance stamps validated, and — uniquely in the
    // screen family — the screen call takes ONLY the index: corpus
    // signatures live in the index rows, so the corpus images are
    // never re-read or re-decoded at screen time (the decode is paid
    // once at build). A stamp drift, lossy round-trip, or bucket
    // mismatch fails the HASH gate.
    Q("q241_image_screen_indexed", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val batchIds = docs.filter(col("doc_id") < 28)
        .select((col("doc_id") + 10000).as("doc_id"))
        .unionByName(docs
          .filter(col("doc_id") >= 28 && col("doc_id") < 56)
          .select((col("doc_id") + 20000).as("doc_id")))
      val batch = patternMedia(batchIds,
        id => if (id >= 20000) Set(0, 1, 3)
              else fanoLines(((id - 10000) % 7).toInt).toSet + 7)
      val pairs = Dedup.signaturePairsAgainstIndex(
        Multimodal.imageHashes(batch, "ahash"),
        s.read.parquet(sigIndexPath(s, dir)),
        "media_id", "img_hash", maxDistance = 8)
      val agg = pairs.groupBy(col("id_b"))
        .agg(count(lit(1)).as("nm"), min(col("id_c")).as("fm"))
      // join base = the id frame (no image work), the q240 treatment
      batchIds.select(col("doc_id").as("id_b")).join(agg, Seq("id_b"), "left")
        .select(col("id_b").as("batch_id"),
          coalesce(col("nm"), lit(0L)).as("n_matches"),
          coalesce(col("fm"), lit(-1L)).as("first_match"))
        .orderBy(col("batch_id"))
    },
      Some("""WITH c AS (SELECT doc_id FROM documents WHERE doc_id < 196),
             |b AS (SELECT doc_id + 10000 AS batch_id, doc_id % 7 AS g
             |    FROM documents WHERE doc_id < 28
             |  UNION ALL SELECT doc_id + 20000, -1 FROM documents
             |    WHERE doc_id >= 28 AND doc_id < 56)
             |SELECT b.batch_id,
             | CAST(count(c.doc_id) AS BIGINT) AS n_matches,
             | coalesce(min(c.doc_id), -1) AS first_match
             |FROM b LEFT JOIN c ON b.g = c.doc_id % 7
             |GROUP BY b.batch_id ORDER BY b.batch_id""".stripMargin)),

    // The admission family's SIXTH space (q231's pattern on the
    // signature screen): corpus-of-record = the fingerprint table,
    // index = the persisted signature index, one full cycle. The
    // batch exercises all three stages: odd-variant near-dups at
    // +10000 (rejected by the hamming screen), identical-pattern
    // aliens at +20000 (cross-corpus clean — only the MIN id
    // survives the within-batch min-id stage), and verbatim replays
    // of docs < 5 (dropped by the exact id screen). The oracle
    // replays the final corpus relationally.
    Q("q242_admission_signature", (s, dir) => {
      import graft.streaming.Admission
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val (corpusDir, indexDir, _) =
        admissionStateMemo("sig", dir) { (c, i) =>
          val corpusH = Multimodal.imageHashes(
            patternMedia(docs.filter(col("doc_id") < 196),
              id => fanoLines((id % 7).toInt).toSet), "ahash")
          corpusH.write.mode("overwrite").parquet(c)
          Dedup.signatureIndex(corpusH, "media_id", "img_hash",
              maxDistance = 8)
            .write.mode("overwrite").parquet(i)
        }
      val batch = Multimodal.imageHashes(patternMedia(
        docs.filter(col("doc_id") < 28)
          .select((col("doc_id") + 10000).as("doc_id"))
          .unionByName(docs
            .filter(col("doc_id") >= 28 && col("doc_id") < 56)
            .select((col("doc_id") + 20000).as("doc_id")))
          .unionByName(docs.filter(col("doc_id") < 5)),
        id => if (id >= 20000) Set(0, 1, 3)
              else if (id >= 10000)
                fanoLines(((id - 10000) % 7).toInt).toSet + 7
              else fanoLines((id % 7).toInt).toSet), "ahash")
      Admission.admitBatchSignature(batch, corpusDir, indexDir,
        "media_id", "img_hash", maxDistance = 8,
        dedupWithinBatch = true, batchId = 1L)
      s.read.parquet(corpusDir).select(col("media_id"))
        .orderBy(col("media_id"))
    },
      Some("""SELECT doc_id AS media_id FROM documents WHERE doc_id < 196
             |UNION ALL
             |SELECT min(doc_id) + 20000 FROM documents
             | WHERE doc_id >= 28 AND doc_id < 56
             |ORDER BY media_id""".stripMargin)),

    // Aho–Corasick phrase blocklist (the C4 bad-words filter shape,
    // Raffel 2020 §2.2; automaton per Aho & Corasick 1975) under the
    // FULL hash gate: the blocklist is the corpus's 30 most frequent
    // tokens (the q233 top-k tie-break), matching is case-insensitive
    // substring containment, and the oracle replays every
    // (doc, phrase) containment with one LEFT JOIN on contains() —
    // so the automaton's goto/fail/output walk is checked against
    // the semantics it must implement, phrase by phrase.
    Q("q243_phrase_tag", (s, dir) => {
      val docs = t(s, dir, "documents")
      val phrases = docs
        .select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(30)
        .select(col("w").as("phrase"))
      graft.operators.Phrases.tagPhrases(docs, "text", phrases)
        .select(col("lang"),
          size(col("matched_phrases")).as("nm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nm") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("nm")).as("n_matches"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS w
              |    FROM documents),
              |p AS (SELECT w AS phrase FROM (
              |    SELECT w, count(*) AS c FROM tok GROUP BY w
              |    ORDER BY c DESC, w ASC LIMIT 30)),
              |m AS (SELECT d.lang, d.doc_id, count(p.phrase) AS nm
              |  FROM documents d LEFT JOIN p
              |    ON contains(lower(d.text), p.phrase)
              |  GROUP BY 1, 2)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS BIGINT)
              |   AS n_flagged,
              | CAST(sum(nm) AS BIGINT) AS n_matches
              |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),

    // The C4-style CLEANING RECIPE composed end-to-end (the
    // q107/q227 flagship treatment for the r13 text-quality family):
    // Gopher rule pass (q236's parameterization) → Aho–Corasick
    // phrase blocklist (tokens ranked 31–35 by frequency — a real
    // split, unlike the top tokens which appear everywhere) → exact
    // text dedup (min-id keep) → per-lang token budget (q74's greedy
    // window). FOUR oracled operators under ONE oracle; each CTE is
    // the unit oracle of its stage.
    Q("q244_clean_recipe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val passed = docs.filter(TF.gopherFlags(col("text"),
        minWords = 20, minStopwordHits = 1).getField("pass"))
      val wc = docs.select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val top35 = wc.orderBy(col("c").desc, col("w").asc).limit(35)
        .select(col("w").as("phrase"))
      val top30 = wc.orderBy(col("c").desc, col("w").asc).limit(30)
        .select(col("w").as("phrase"))
      val clean = graft.operators.Phrases.filterPhrases(passed, "text",
        top35.exceptAll(top30))
      val deduped = Dedup.exact(clean, Seq("text"), "doc_id")
      val costed = deduped
        .withColumn("quality", TF.qualityScore(col("text")))
        .withColumn("n_tok", TF.tokenCount(col("text")))
      Budget.tokenBudgetSelect(costed, "lang", "doc_id", "quality",
          "n_tok", budget = 3000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          round(min(col("quality")), 4).as("min_quality"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH f AS (SELECT doc_id, lang, text,
              |    ${sqlTokens("text")} AS toks,
              |    list_filter(string_split(text, chr(10)),
              |      l -> len(trim(l)) > 0) AS lines FROM documents),
              |r AS (SELECT doc_id, lang, text,
              |  len(toks) BETWEEN 20 AND 100000 AS c1,
              |  (coalesce(CAST(list_sum(list_transform(toks,
              |      t -> len(t))) AS DOUBLE), 0)
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0))
              |    BETWEEN 3.0 AND 10.0 AS c2,
              |  CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0) <= 0.1
              |  AND (CAST(len(text) - len(replace(text, '...', ''))
              |        AS DOUBLE) / 3.0
              |    + CAST(len(text) - len(replace(text, '…', ''))
              |        AS DOUBLE))
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0)
              |    <= 0.1 AS c3,
              |  CAST(len(list_filter(lines, l ->
              |      starts_with(trim(l), '-') OR starts_with(trim(l), '*')
              |      OR starts_with(trim(l), '•'))) AS DOUBLE)
              |    / greatest(CAST(len(lines) AS DOUBLE), 1.0)
              |    <= 0.9 AS c4,
              |  CAST(len(list_filter(lines, l -> ends_with(trim(l), '...')
              |      OR ends_with(trim(l), '…'))) AS DOUBLE)
              |    / greatest(CAST(len(lines) AS DOUBLE), 1.0)
              |    <= 0.3 AS c5,
              |  CAST(len(list_filter(toks, t ->
              |      regexp_matches(t, '\\p{L}'))) AS DOUBLE)
              |    / greatest(CAST(len(toks) AS DOUBLE), 1.0)
              |    >= 0.8 AS c6,
              |  len(list_intersect(list_distinct(toks),
              |    ['the','be','to','of','and','that','have','with']))
              |    >= 1 AS c7
              |  FROM f),
              |pass AS (SELECT doc_id, lang, text FROM r
              |  WHERE c1 AND c2 AND c3 AND c4 AND c5 AND c6 AND c7),
              |tok AS (SELECT unnest(${sqlTokens("text")}) AS w
              |  FROM documents),
              |agg AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
              |t35 AS (SELECT w FROM agg ORDER BY c DESC, w ASC LIMIT 35),
              |t30 AS (SELECT w FROM agg ORDER BY c DESC, w ASC LIMIT 30),
              |p AS (SELECT w FROM t35 EXCEPT SELECT w FROM t30),
              |clean AS (SELECT * FROM pass d WHERE NOT EXISTS (
              |  SELECT 1 FROM p WHERE contains(lower(d.text), p.w))),
              |ded AS (SELECT doc_id, lang, text FROM (
              |  SELECT *, row_number() OVER (PARTITION BY text
              |    ORDER BY doc_id) AS rn FROM clean) WHERE rn = 1),
              |q AS (SELECT doc_id, lang, ${sqlQuality("text")} AS quality,
              |  len(${sqlTokens("text")}) AS n_tok FROM ded),
              |cum AS (SELECT *, sum(n_tok) OVER (
              |  PARTITION BY lang ORDER BY quality DESC, doc_id) AS cum
              |  FROM q)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              | round(min(quality), 4) AS min_quality
              |FROM cum WHERE cum <= 3000
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // SemDeDup through the IVF-ROUTED assignment face (r14 — the
    // scale path past the 4096 flat-argmin center ceiling VERDICT
    // r13 flagged): q220's exact fixture and dedup, but every
    // assignment (corpus, pair verify, final labeling) rides
    // assignRouted's coarse-cell broadcast join instead of the flat
    // literal fold. nCells = k with the default exhaustive probe, so
    // distances, tie-breaks and the centroid cosine are BIT-IDENTICAL
    // to the flat face (SemDedupSpec pins it) — which is exactly why
    // q220's oracle replays VERBATIM: the routed plan is a different
    // physical strategy for the same algebra, not a different answer.
    Q("q245_semdedup_routed", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val corpus = semDupCorpus(e.select(col("vec_id"), col("v")))
      val centers = semCenters(e, "q245")
      val kept = SemDedup.semDedup(corpus, "vec_id", "v", centers,
        minCosine = 0.9, maxClusterSize = Int.MaxValue,
        keep = "min_id", nCells = centers.length)
      SemDedup.assignRouted(kept, "vec_id", "v", centers,
          nCells = centers.length)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    },
      Some(semDedupOracleSql)),

    // The incremental SCREEN through the routed face (r14): q229's
    // exact fixture — batch of perturbed copies (must hit their
    // sources) + negated vectors (must hit nothing) — with both the
    // corpus and batch assignment routed (nCells = k, exhaustive
    // probe). Same oracle as q229 verbatim: the screen's candidate
    // structure (fixed center partition, broadcast batch, count-first
    // cap) is unchanged; only the argmin's physical plan differs.
    Q("q246_semdedup_screen_routed", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val corpus = e.select(col("vec_id"), col("v"))
      val f1 = typedLit(Seq.tabulate(64)(j => 1.0 + 0.01 * ((j % 3) - 1)))
      val batch = corpus.filter(col("vec_id") < 40)
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("v"), f1, (x, f) => x * f).as("v"))
        .unionByName(corpus.filter(col("vec_id") < 10)
          .select((col("vec_id") + 20000).as("vec_id"),
            transform(col("v"), x => -x).as("v")))
      val centers = semCenters(e, "q246")
      SemDedup.screenPairs(corpus, batch, "vec_id", "v", centers,
          minCosine = 0.9, maxClusterSize = Int.MaxValue,
          nCells = centers.length)
        .select(col("id_new"), col("id_corpus"), col("cluster"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_new"), col("id_corpus"))
    },
      Some("""WITH e AS (SELECT vec_id, label,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |b AS (SELECT vec_id + 10000 AS id_new,
             |    list_transform(range(64), j -> v[CAST(j+1 AS INT)]
             |      * (1 + 0.01 * ((j % 3) - 1))) AS v
             |  FROM e WHERE vec_id < 40
             |  UNION ALL SELECT vec_id + 20000,
             |    list_transform(range(64), j -> -v[CAST(j+1 AS INT)])
             |  FROM e WHERE vec_id < 10),
             |c AS (SELECT e.label AS cl, e.v AS cv FROM e
             |  JOIN (SELECT label, min(vec_id) AS mv FROM e GROUP BY label) f
             |  ON e.vec_id = f.mv),
             |ac AS (SELECT vec_id, cl FROM (
             |  SELECT e.vec_id, c.cl,
             |    list_sum(list_transform(range(64), j ->
             |      (e.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
             |      * (e.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
             |  FROM e, c)
             |  QUALIFY row_number() OVER (PARTITION BY vec_id
             |    ORDER BY d2, cl) = 1),
             |ab AS (SELECT id_new, cl FROM (
             |  SELECT b.id_new, c.cl,
             |    list_sum(list_transform(range(64), j ->
             |      (b.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)])
             |      * (b.v[CAST(j+1 AS INT)] - c.cv[CAST(j+1 AS INT)]))) AS d2
             |  FROM b, c)
             |  QUALIFY row_number() OVER (PARTITION BY id_new
             |    ORDER BY d2, cl) = 1)
             |SELECT ab.id_new, ac.vec_id AS id_corpus,
             | CAST(ab.cl AS INT) AS cluster,
             | round(list_cosine_similarity(b.v, e.v), 6) AS cosine
             |FROM ab JOIN ac ON ab.cl = ac.cl
             |JOIN b ON b.id_new = ab.id_new
             |JOIN e ON e.vec_id = ac.vec_id
             |WHERE list_cosine_similarity(b.v, e.v) >= 0.9
             |ORDER BY ab.id_new, id_corpus""".stripMargin)),

    // Salted RIGHT-outer join (r14 — the mirrored construction
    // VERDICT r13 flagged as missing): the skewed fact side sits on
    // the RIGHT (every one of its rows must be kept), so the census
    // moves there, hot RIGHT rows take the random salt and the small
    // dim side replicates salt-fold. Answer-preserving like q215: the
    // oracle is the PLAIN right-join SQL. Fixture: 25-row nation dim
    // RIGHT-joined to lineitem keyed mod 30 (~2k rows per key at
    // sf0.01 — every key census-hot), keys 25..29 unmatched on the
    // right (null dim columns must survive exactly once per row).
    Q("q247_salted_right", (s, dir) => {
      import graft.operators.Skew
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
      val li = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 30).as("k"), col("l_quantity"))
      Skew.saltedJoin(dim, li, Seq("k"), salt = 8, mode = "right")
        .groupBy(col("k"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("k"))
    },
      Some("""SELECT l_orderkey % 30 AS k, n_name,
             | CAST(count(*) AS BIGINT) AS n,
             | round(sum(l_quantity), 2) AS sum_qty
             |FROM nation RIGHT JOIN lineitem
             |  ON n_nationkey = l_orderkey % 30
             |GROUP BY 1, 2 ORDER BY k, n_name""".stripMargin)),

    // Salted FULL-outer join (r14): left-outer salted ∪ the right
    // rows whose key has no left match, null-padded (exact because a
    // replicated right key that exists on the left ALWAYS matches —
    // the replicas cover every salt). Fixture: lineitem mod 30 (keys
    // 0..29, all hot) FULL-joined to nation shifted +10 (keys
    // 10..34): keys 0..9 survive null-padded on the left side, keys
    // 30..34 on the right, 10..29 match hot. Oracle is the plain
    // full-join SQL.
    Q("q248_salted_full", (s, dir) => {
      import graft.operators.Skew
      val li = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 30).as("k"), col("l_quantity"))
      val dim = t(s, dir, "nation")
        .select((col("n_nationkey") + 10).cast("long").as("k"),
          col("n_name"))
      Skew.saltedJoin(li, dim, Seq("k"), salt = 8, mode = "full")
        .groupBy(col("k"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("k"), col("n_name"))
    },
      Some("""WITH l AS (SELECT l_orderkey % 30 AS k, l_quantity
             |  FROM lineitem),
             |r AS (SELECT n_nationkey + 10 AS k, n_name FROM nation)
             |SELECT coalesce(l.k, r.k) AS k, n_name,
             | CAST(count(*) AS BIGINT) AS n,
             | round(sum(l_quantity), 2) AS sum_qty
             |FROM l FULL JOIN r ON l.k = r.k
             |GROUP BY 1, 2 ORDER BY k, n_name""".stripMargin)),

    // Perceptual AUDIO dedup (r14 — completes the multimodal dedup
    // triangle VERDICT r13 flagged as ⅔ done: text simhash, image
    // aHash/dHash, now audio band-energy): every doc renders a REAL
    // RIFF/WAVE payload (PCM16 mono) whose planted 17-window × 4-band
    // energy image encodes group = doc_id % 8; sample rate (8 vs
    // 16 kHz) and gain (1.0 vs 0.35) vary WITHIN each group, so the
    // exact-group collapse proves the fingerprint's gain invariance
    // (energies scale by gain², comparisons frozen) and resample
    // robustness (duration-proportional windows, absolute-Hz probes)
    // on the real javax.sound decode path. Oracle replays the
    // planted group structure relationally — q235's discipline in
    // audio space.
    Q("q249_audio_dedup", (s, dir) => {
      val media = toneMedia(
        t(s, dir, "documents").select(col("doc_id")),
        group = id => (id % 8).toInt,
        rate = id => if ((id / 8) % 2 == 0) 8000f else 16000f,
        gain = id => if ((id / 8) % 3 == 0) 1.0 else 0.35)
      Multimodal.audioHashes(media)
        .groupBy(col("audio_hash"))
        .agg(min(col("media_id")).as("rep_id"),
          count(lit(1)).as("n_dups"))
        .select(col("rep_id"), col("n_dups"))
        .orderBy(col("rep_id"))
    },
      Some("""SELECT min(doc_id) AS rep_id,
             | CAST(count(*) AS BIGINT) AS n_dups
             |FROM documents GROUP BY doc_id % 8
             |ORDER BY rep_id""".stripMargin)),

    // Phrase blocklist PERSISTENCE (r14 — the q226/q228/q239 pattern
    // closing VERDICT r13 #3): the q243 blocklist is saved in
    // canonical form under __fmt + count + set-digest stamps
    // (savePhrases), loaded back (digest recomputed and validated —
    // a truncated or edited blocklist refuses to load, because it
    // would filter LESS, not slower), and tagging reproduces q243's
    // oracle VERBATIM — proving the persisted artifact carries the
    // phrase set exactly, so production filter cycles compile one
    // vetted blocklist instead of re-deriving it per run.
    Q("q250_phrase_persisted", (s, dir) => {
      val docs = t(s, dir, "documents")
      val phrases = docs
        .select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(30)
        .select(col("w").as("phrase"))
      val path = scratchTemp("graft_q250_phrases").toString + "/block"
      graft.operators.Phrases.savePhrases(s, phrases, path)
      val loaded = graft.operators.Phrases.loadPhrases(s, path)
      graft.operators.Phrases.tagPhrases(docs, "text", loaded)
        .select(col("lang"),
          size(col("matched_phrases")).as("nm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nm") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("nm")).as("n_matches"))
        .orderBy(col("lang"))
    },
      Some(s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS w
              |    FROM documents),
              |p AS (SELECT w AS phrase FROM (
              |    SELECT w, count(*) AS c FROM tok GROUP BY w
              |    ORDER BY c DESC, w ASC LIMIT 30)),
              |m AS (SELECT d.lang, d.doc_id, count(p.phrase) AS nm
              |  FROM documents d LEFT JOIN p
              |    ON contains(lower(d.text), p.phrase)
              |  GROUP BY 1, 2)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              | CAST(sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS BIGINT)
              |   AS n_flagged,
              | CAST(sum(nm) AS BIGINT) AS n_matches
              |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),

    // The STREAMING face of the semantic admission loop (r15,
    // Admission.admitStreamSemantic — closes the six-space symmetry:
    // every batch admission face now has its foreachBatch +
    // checkpoint twin). Identical fixture and cycle as q231, driven
    // through the production streaming path; gated against q231's
    // oracle VERBATIM (the q123-vs-q122 pattern in semantic space).
    Q("q251_admission_semantic_stream", (s, dir) => {
      import graft.streaming.Admission
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val base = e.select(col("vec_id"), col("v"))
      val centers = semCenters(e, "q251")
      val (corpusDir, indexDir, tmp) =
        admissionStateMemo("sem", dir) { (c, i) =>
          base.write.mode("overwrite").parquet(c)
          SemDedup.assignmentIndex(base, "vec_id", "v", centers)
            .write.mode("overwrite").parquet(i)
        }
      val f1 = typedLit(Seq.tabulate(64)(j => 1.0 + 0.01 * ((j % 3) - 1)))
      val batch = base.filter(col("vec_id") < 40)
        .select((col("vec_id") + 10000).as("vec_id"),
          zip_with(col("v"), f1, (x, f) => x * f).as("v"))
        .unionByName(base.filter(col("vec_id") < 10)
          .select((col("vec_id") + 20000).as("vec_id"),
            transform(col("v"), x => -x).as("v")))
        .unionByName(base.filter(col("vec_id") < 5))
      val inDir = tmp.resolve("in").toString
      batch.coalesce(1).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema("vec_id LONG, v ARRAY<DOUBLE>")
        .parquet(inDir)
      Admission.admitStreamSemantic(stream, corpusDir, indexDir,
        tmp.resolve("ckpt").toString, "vec_id", "v", centers,
        minCosine = 0.95, maxClusterSize = Int.MaxValue,
        dedupWithinBatch = false)
      s.read.parquet(corpusDir).select(col("vec_id"))
        .orderBy(col("vec_id"))
    },
      Some(admissionSemanticOracleSql)),

    // Gopher repetition suite part 1 (r15, Rae 2021 A1.2 —
    // Repetition.dupUnitFractions): duplicate line / paragraph
    // fractions and their character fractions. The testdata text is
    // single-line, so the fixture synthesizes multi-line docs
    // IDENTICALLY on both sides (the q122 fixture discipline): three
    // lines with the first planted twice, then a second paragraph
    // that duplicates the first for every third doc. All four
    // fractions are single int-over-int IEEE divisions, so the hash
    // gate compares them bit-exactly (the q236 treatment).
    Q("q252_rep_units", (s, dir) => {
      val docs = t(s, dir, "documents")
      val l1 = substring(col("text"), 1, 40)
      val l2 = substring(col("text"), 41, 40)
      val l3 = substring(col("text"), 81, 40)
      val para1 = concat_ws("\n", l1, l2, l1)
      val multi = docs.select(col("doc_id"),
        concat(para1, lit("\n\n"),
          when(col("doc_id") % 3 === 0, para1).otherwise(l3)).as("text"))
      graft.operators.Repetition
        .dupUnitFractions(multi, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Some("""WITH m AS (SELECT doc_id,
             |    substr(text, 1, 40) AS l1, substr(text, 41, 40) AS l2,
             |    substr(text, 81, 40) AS l3 FROM documents),
             |d AS (SELECT doc_id,
             |    l1 || chr(10) || l2 || chr(10) || l1
             |    || chr(10) || chr(10) ||
             |    CASE WHEN doc_id % 3 = 0
             |      THEN l1 || chr(10) || l2 || chr(10) || l1
             |      ELSE l3 END AS text FROM m),
             |lu AS (SELECT doc_id, trim(u) AS u FROM (
             |    SELECT doc_id, unnest(string_split_regex(text, '\r?\n')) AS u
             |    FROM d) WHERE len(trim(u)) > 0),
             |lc AS (SELECT doc_id, u, count(*) AS k FROM lu GROUP BY 1, 2),
             |lf AS (SELECT doc_id,
             |    CAST(sum(k - 1) AS DOUBLE) / CAST(sum(k) AS DOUBLE)
             |      AS dup_line_frac,
             |    CAST(sum((k - 1) * len(u)) AS DOUBLE)
             |      / CAST(sum(k * len(u)) AS DOUBLE) AS dup_line_char_frac
             |  FROM lc GROUP BY 1),
             |pu AS (SELECT doc_id, trim(u) AS u FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(text, '(\r?\n){2,}')) AS u
             |    FROM d) WHERE len(trim(u)) > 0),
             |pc AS (SELECT doc_id, u, count(*) AS k FROM pu GROUP BY 1, 2),
             |pf AS (SELECT doc_id,
             |    CAST(sum(k - 1) AS DOUBLE) / CAST(sum(k) AS DOUBLE)
             |      AS dup_para_frac,
             |    CAST(sum((k - 1) * len(u)) AS DOUBLE)
             |      / CAST(sum(k * len(u)) AS DOUBLE) AS dup_para_char_frac
             |  FROM pc GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(lf.dup_line_frac, 0.0) AS dup_line_frac,
             |  coalesce(lf.dup_line_char_frac, 0.0) AS dup_line_char_frac,
             |  coalesce(pf.dup_para_frac, 0.0) AS dup_para_frac,
             |  coalesce(pf.dup_para_char_frac, 0.0) AS dup_para_char_frac
             |FROM d LEFT JOIN lf USING (doc_id)
             |LEFT JOIN pf USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Gopher repetition suite part 2 (r15 — topNgramFractions):
    // characters covered by the single most frequent word n-gram
    // (n = 2, 3, 4), struct-max tie-break (count desc, length desc,
    // gram desc) replayed by the oracle's QUALIFY window.
    Q("q253_rep_topngrams", (s, dir) =>
      graft.operators.Repetition
        .topNgramFractions(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t
              |    FROM documents),
              |tot AS (SELECT doc_id, len(array_to_string(t, ' ')) AS total
              |  FROM tk),
              |g AS (SELECT doc_id, n,
              |    array_to_string(t[s : s + n - 1], ' ') AS gram
              |  FROM (SELECT doc_id, t, n,
              |      unnest(generate_series(1, len(t) - n + 1)) AS s
              |    FROM tk, (SELECT unnest([2, 3, 4]) AS n)
              |    WHERE len(t) >= n)),
              |c AS (SELECT doc_id, n, gram, count(*) AS k
              |  FROM g GROUP BY 1, 2, 3),
              |top AS (SELECT doc_id, n,
              |    CAST(k * len(gram) AS DOUBLE) AS num FROM c
              |  QUALIFY row_number() OVER (PARTITION BY doc_id, n
              |    ORDER BY k DESC, len(gram) DESC, gram DESC) = 1)
              |SELECT tot.doc_id,
              |  coalesce(t2.num / CAST(tot.total AS DOUBLE), 0.0)
              |    AS top2_char_frac,
              |  coalesce(t3.num / CAST(tot.total AS DOUBLE), 0.0)
              |    AS top3_char_frac,
              |  coalesce(t4.num / CAST(tot.total AS DOUBLE), 0.0)
              |    AS top4_char_frac
              |FROM tot
              |LEFT JOIN (SELECT doc_id, num FROM top WHERE n = 2) t2
              |  USING (doc_id)
              |LEFT JOIN (SELECT doc_id, num FROM top WHERE n = 3) t3
              |  USING (doc_id)
              |LEFT JOIN (SELECT doc_id, num FROM top WHERE n = 4) t4
              |  USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Gopher repetition suite part 3 (r15 — dupNgramCoverage): the
    // overlap-aware duplicated 5..10-gram character coverage — the
    // q138 island-merge arithmetic in CHARACTER space, replayed
    // interval by interval. The fixture appends each doc's first 60
    // chars to itself (both sides identically) so duplicated long
    // n-grams exist by construction.
    Q("q254_rep_dupcoverage", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" "),
          substring(col("text"), 1, 60)).as("text"))
      graft.operators.Repetition
        .dupNgramCoverage(docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH base AS (SELECT doc_id,
              |    text || ' ' || substr(text, 1, 60) AS text
              |  FROM documents),
              |tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM base),
              |tot AS (SELECT doc_id, len(array_to_string(t, ' ')) AS total
              |  FROM tk),
              |g AS (SELECT doc_id, n, s,
              |    array_to_string(t[s : s + n - 1], ' ') AS gram,
              |    CASE WHEN s = 1 THEN 0
              |      ELSE len(array_to_string(t[1 : s - 1], ' ')) + 1
              |    END AS cs
              |  FROM (SELECT doc_id, t, n,
              |      unnest(generate_series(1, len(t) - n + 1)) AS s
              |    FROM tk, (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n)
              |    WHERE len(t) >= n)),
              |gg AS (SELECT doc_id, n, cs, cs + len(gram) - 1 AS ce, gram
              |  FROM g),
              |dup AS (SELECT doc_id, n, cs, ce FROM (
              |    SELECT doc_id, n, cs, ce,
              |      count(*) OVER (PARTITION BY doc_id, n, gram) AS k
              |    FROM gg) WHERE k > 1),
              |isl AS (SELECT doc_id, n, cs, ce,
              |    sum(ni) OVER (PARTITION BY doc_id, n
              |      ORDER BY cs, ce) AS island
              |  FROM (SELECT doc_id, n, cs, ce,
              |      CASE WHEN cs > coalesce(max(ce) OVER (
              |          PARTITION BY doc_id, n ORDER BY cs, ce
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |        -10) + 1 THEN 1 ELSE 0 END AS ni
              |    FROM dup)),
              |cov AS (SELECT doc_id, n, sum(e - s2 + 1) AS covered FROM (
              |    SELECT doc_id, n, island, min(cs) AS s2, max(ce) AS e
              |    FROM isl GROUP BY 1, 2, 3) GROUP BY 1, 2)
              |SELECT tot.doc_id,
              |  coalesce(c5.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup5_char_frac,
              |  coalesce(c6.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup6_char_frac,
              |  coalesce(c7.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup7_char_frac,
              |  coalesce(c8.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup8_char_frac,
              |  coalesce(c9.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup9_char_frac,
              |  coalesce(c10.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup10_char_frac
              |FROM tot
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 5) c5
              |  USING (doc_id)
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 6) c6
              |  USING (doc_id)
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 7) c7
              |  USING (doc_id)
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 8) c8
              |  USING (doc_id)
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 9) c9
              |  USING (doc_id)
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 10) c10
              |  USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // C4 line+page cleaning (r15, Raffel 2020 §2.2 —
    // TextFunctions.c4CleanLines/c4PageFlags): the synthesized
    // multi-line fixture plants one line per rule (good /
    // too-few-words / no-terminal-punct / javascript / conditional
    // fifth sentence) plus page-level lorem-ipsum and curly-brace
    // lines on residue classes, so every rule fires on a real subset;
    // the oracle replays the whole clean in DuckDB list lambdas and
    // the flags over original + cleaned text.
    Q("q255_c4_clean", (s, dir) => {
      val docs = t(s, dir, "documents")
      val l1 = concat(substring(col("text"), 1, 40), lit("."))
      val l2 = concat(substring(col("text"), 41, 10), lit("."))
      val l3 = when(col("doc_id") % 2 === 0,
        concat(substring(col("text"), 81, 40), lit("!")))
        .otherwise(substring(col("text"), 81, 40))
      val l4 = lit("please enable javascript now then reload.")
      val l5 = when(col("doc_id") % 4 === 0,
        concat(substring(col("text"), 121, 40), lit("?")))
        .otherwise(lit("tiny."))
      val l6 = when(col("doc_id") % 5 === 0,
        lit("lorem ipsum filler")).otherwise(lit("clean filler"))
      val l7 = when(col("doc_id") % 7 === 0,
        lit("brace { line")).otherwise(lit("no brace line"))
      val multi = docs.select(col("doc_id"),
        concat_ws("\n", l1, l2, l3, l4, l5, l6, l7).as("text"))
      val cleaned = multi.select(col("doc_id"), col("text"),
        TF.c4CleanLines(col("text")).as("cleaned"))
      cleaned.select(col("doc_id"), col("cleaned"),
          TF.c4PageFlags(col("text"), col("cleaned")).as("f"))
        .select(col("doc_id"), col("cleaned"),
          col("f.sentences_ok").as("sentences_ok"),
          col("f.no_lorem").as("no_lorem"),
          col("f.no_brace").as("no_brace"),
          col("f.pass").as("page_pass"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH m AS (SELECT doc_id,
             |    substr(text, 1, 40) || '.' || chr(10) ||
             |    substr(text, 41, 10) || '.' || chr(10) ||
             |    CASE WHEN doc_id % 2 = 0
             |      THEN substr(text, 81, 40) || '!'
             |      ELSE substr(text, 81, 40) END || chr(10) ||
             |    'please enable javascript now then reload.' || chr(10) ||
             |    CASE WHEN doc_id % 4 = 0
             |      THEN substr(text, 121, 40) || '?' ELSE 'tiny.' END
             |    || chr(10) ||
             |    CASE WHEN doc_id % 5 = 0
             |      THEN 'lorem ipsum filler' ELSE 'clean filler' END
             |    || chr(10) ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN 'brace { line' ELSE 'no brace line' END AS text
             |  FROM documents),
             |c AS (SELECT doc_id, text, array_to_string(
             |    list_filter(
             |      list_transform(string_split_regex(text, '\r?\n'),
             |        l -> trim(l)),
             |      l -> len(l) > 0
             |        AND regexp_matches(l, '[.!?"]$')
             |        AND len(list_filter(string_split_regex(l, '\s+'),
             |              w -> len(w) > 0)) >= 5
             |        AND NOT contains(lower(l), 'javascript')),
             |    chr(10)) AS cleaned FROM m)
             |SELECT doc_id, cleaned,
             |  len(regexp_extract_all(cleaned, '[.!?"]')) >= 3
             |    AS sentences_ok,
             |  NOT contains(lower(text), 'lorem ipsum') AS no_lorem,
             |  NOT contains(text, '{') AS no_brace,
             |  (len(regexp_extract_all(cleaned, '[.!?"]')) >= 3
             |    AND NOT contains(lower(text), 'lorem ipsum')
             |    AND NOT contains(text, '{')) AS page_pass
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Corpus-global boilerplate line removal (r15,
    // Repetition.dropCommonLines — the RefinedWeb line-wise
    // correction / CCNet paragraph-dedup shape): lines planted at
    // three corpus frequencies — all docs (dropped), every third doc
    // (dropped), every fiftieth doc (kept at maxDocs = 20) — plus a
    // blank line and per-doc substrings; the oracle replays the
    // doc-frequency census, the trimmed-key anti-join and the
    // order-preserving reassembly with zipped unnests + string_agg.
    Q("q256_common_lines", (s, dir) => {
      val docs = t(s, dir, "documents")
      val l1 = substring(col("text"), 1, 40)
      val l2 = lit("subscribe to our newsletter today")
      val l3 = when(col("doc_id") % 3 === 0,
        lit("accept all cookies to continue"))
        .otherwise(substring(col("text"), 41, 40))
      val l4 = when(col("doc_id") % 50 === 0, lit("rare promo line"))
        .otherwise(substring(col("text"), 81, 40))
      val multi = docs.select(col("doc_id"),
        concat_ws("\n", l1, l2, lit(""), l3, l4).as("text"))
      graft.operators.Repetition
        .dropCommonLines(multi, "doc_id", "text", maxDocs = 20L)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH d AS (SELECT doc_id,
             |    substr(text, 1, 40) || chr(10) ||
             |    'subscribe to our newsletter today' || chr(10) ||
             |    '' || chr(10) ||
             |    CASE WHEN doc_id % 3 = 0
             |      THEN 'accept all cookies to continue'
             |      ELSE substr(text, 41, 40) END || chr(10) ||
             |    CASE WHEN doc_id % 50 = 0 THEN 'rare promo line'
             |      ELSE substr(text, 81, 40) END AS text
             |  FROM documents),
             |ln AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\r?\n')) AS line,
             |    unnest(range(1,
             |      len(string_split_regex(text, '\r?\n')) + 1)) AS pos
             |  FROM d),
             |cm AS (SELECT trim(line) AS key FROM ln
             |  WHERE len(trim(line)) > 0
             |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 20),
             |kept AS (SELECT doc_id, pos, line FROM ln
             |  WHERE len(trim(line)) = 0
             |    OR trim(line) NOT IN (SELECT key FROM cm)),
             |o AS (SELECT doc_id,
             |    string_agg(line, chr(10) ORDER BY pos) AS text
             |  FROM kept GROUP BY 1)
             |SELECT d.doc_id, coalesce(o.text, '') AS text
             |FROM d LEFT JOIN o USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Raw-HTML main-content extraction (r16, Extract.mainContent —
    // jusText block-density classification, Pomikálek 2011; VERDICT
    // r15 item 1): the synthesized per-doc page plants one block per
    // rule — invisible script/style/comment, all-anchor menu (link
    // density), linkful-short heading (doc_id%5), a GOOD paragraph, a
    // kept SHORT/NEARGOOD neighbor (doc_id%4), the (0.30,0.32]
    // mid-band NEARGOOD, the © rule, an isolated NEARGOOD, and a
    // low-stopword trailer — every rule fires both directions on a
    // real subset; the oracle replays tag-strip, densities, the
    // jusText CASE and the neighbor smoothing in DuckDB list lambdas.
    Q("q257_extract_main", (s, dir) =>
      graft.operators.Extract.extract(extractHtml(s, dir), "html")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")),
      Some(extractOracleSql)),

    // The WARC-to-clean-text recipe (r16): extractMain →
    // dropCommonLines — the boilerplate pad planted in every
    // doc_id%4=0 page survives extraction as a kept NEARGOOD line
    // (it sits next to a GOOD block) and only the CORPUS-global
    // census can remove it; per-doc prose lines survive. The DDF
    // fluent chain is the engine face; the oracle pipes the q257
    // extraction replay into the q256 census replay.
    Q("q258_extract_recipe", (s, dir) =>
      graft.ddf.DDF(extractHtml(s, dir))
        .extractMain("html")
        .dropCommonLines("doc_id", "text", maxDocs = 20L)
        .df.select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")),
      Some(s"""WITH $extractHtmlSql,
              |$sqlExtractCtes,
              |ln AS (SELECT doc_id,
              |    unnest(string_split_regex(text, '\\r?\\n')) AS line,
              |    unnest(range(1,
              |      len(string_split_regex(text, '\\r?\\n')) + 1)) AS pos
              |  FROM x),
              |cm AS (SELECT trim(line) AS key FROM ln
              |  WHERE len(trim(line)) > 0
              |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 20),
              |kept AS (SELECT doc_id, pos, line FROM ln
              |  WHERE len(trim(line)) = 0
              |    OR trim(line) NOT IN (SELECT key FROM cm)),
              |o AS (SELECT doc_id,
              |    string_agg(line, chr(10) ORDER BY pos) AS text
              |  FROM kept GROUP BY 1)
              |SELECT x.doc_id, coalesce(o.text, '') AS text
              |FROM x LEFT JOIN o USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // The FUSED 12-rule Gopher repetition frame (r16, VERDICT r15
    // item 4): gopherRepetitionFlags no longer joins the three
    // standalone stages (7 corpus scans+tokenizes between them) —
    // one tagged explode serves lines, paragraphs and all nine gram
    // bands in a single scan. This query puts the FUSED plan itself
    // under the hash gate on the q252 fixture (para/line dups AND
    // duplicated long grams by construction): all 13 fractions plus
    // the Table-A1 threshold conjunction, replayed by one oracle
    // combining the q252/q253/q254 SQL with the thresholds.
    Q("q259_rep_flags_fused", (s, dir) => {
      val docs = t(s, dir, "documents")
      val l1 = substring(col("text"), 1, 40)
      val l2 = substring(col("text"), 41, 40)
      val l3 = substring(col("text"), 81, 40)
      val para1 = concat_ws("\n", l1, l2, l1)
      val multi = docs.select(col("doc_id"),
        concat(para1, lit("\n\n"),
          when(col("doc_id") % 3 === 0, para1).otherwise(l3)).as("text"))
      graft.operators.Repetition
        .gopherRepetitionFlags(multi, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH m AS (SELECT doc_id,
              |    substr(text, 1, 40) AS l1, substr(text, 41, 40) AS l2,
              |    substr(text, 81, 40) AS l3 FROM documents),
              |d AS (SELECT doc_id,
              |    l1 || chr(10) || l2 || chr(10) || l1
              |    || chr(10) || chr(10) ||
              |    CASE WHEN doc_id % 3 = 0
              |      THEN l1 || chr(10) || l2 || chr(10) || l1
              |      ELSE l3 END AS text FROM m),
              |lu AS (SELECT doc_id, trim(u) AS u FROM (
              |    SELECT doc_id, unnest(string_split_regex(text, '\\r?\\n')) AS u
              |    FROM d) WHERE len(trim(u)) > 0),
              |lc AS (SELECT doc_id, u, count(*) AS k FROM lu GROUP BY 1, 2),
              |lf AS (SELECT doc_id,
              |    CAST(sum(k - 1) AS DOUBLE) / CAST(sum(k) AS DOUBLE)
              |      AS dup_line_frac,
              |    CAST(sum((k - 1) * len(u)) AS DOUBLE)
              |      / CAST(sum(k * len(u)) AS DOUBLE) AS dup_line_char_frac
              |  FROM lc GROUP BY 1),
              |pu AS (SELECT doc_id, trim(u) AS u FROM (
              |    SELECT doc_id,
              |      unnest(string_split_regex(text, '(\\r?\\n){2,}')) AS u
              |    FROM d) WHERE len(trim(u)) > 0),
              |pc AS (SELECT doc_id, u, count(*) AS k FROM pu GROUP BY 1, 2),
              |pf AS (SELECT doc_id,
              |    CAST(sum(k - 1) AS DOUBLE) / CAST(sum(k) AS DOUBLE)
              |      AS dup_para_frac,
              |    CAST(sum((k - 1) * len(u)) AS DOUBLE)
              |      / CAST(sum(k * len(u)) AS DOUBLE) AS dup_para_char_frac
              |  FROM pc GROUP BY 1),
              |tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM d),
              |tot AS (SELECT doc_id, len(array_to_string(t, ' ')) AS total
              |  FROM tk),
              |g AS (SELECT doc_id, n, s,
              |    array_to_string(t[s : s + n - 1], ' ') AS gram,
              |    CASE WHEN s = 1 THEN 0
              |      ELSE len(array_to_string(t[1 : s - 1], ' ')) + 1
              |    END AS cs
              |  FROM (SELECT doc_id, t, n,
              |      unnest(generate_series(1, len(t) - n + 1)) AS s
              |    FROM tk, (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n)
              |    WHERE len(t) >= n)),
              |c AS (SELECT doc_id, n, gram, count(*) AS k
              |  FROM g WHERE n <= 4 GROUP BY 1, 2, 3),
              |top AS (SELECT doc_id, n,
              |    CAST(k * len(gram) AS DOUBLE) AS num FROM c
              |  QUALIFY row_number() OVER (PARTITION BY doc_id, n
              |    ORDER BY k DESC, len(gram) DESC, gram DESC) = 1),
              |gg AS (SELECT doc_id, n, cs, cs + len(gram) - 1 AS ce, gram
              |  FROM g WHERE n >= 5),
              |dup AS (SELECT doc_id, n, cs, ce FROM (
              |    SELECT doc_id, n, cs, ce,
              |      count(*) OVER (PARTITION BY doc_id, n, gram) AS k
              |    FROM gg) WHERE k > 1),
              |isl AS (SELECT doc_id, n, cs, ce,
              |    sum(ni) OVER (PARTITION BY doc_id, n
              |      ORDER BY cs, ce) AS island
              |  FROM (SELECT doc_id, n, cs, ce,
              |      CASE WHEN cs > coalesce(max(ce) OVER (
              |          PARTITION BY doc_id, n ORDER BY cs, ce
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |        -10) + 1 THEN 1 ELSE 0 END AS ni
              |    FROM dup)),
              |cov AS (SELECT doc_id, n, sum(e - s2 + 1) AS covered FROM (
              |    SELECT doc_id, n, island, min(cs) AS s2, max(ce) AS e
              |    FROM isl GROUP BY 1, 2, 3) GROUP BY 1, 2),
              |f AS (SELECT d.doc_id,
              |  coalesce(lf.dup_line_frac, 0.0) AS dup_line_frac,
              |  coalesce(lf.dup_line_char_frac, 0.0) AS dup_line_char_frac,
              |  coalesce(pf.dup_para_frac, 0.0) AS dup_para_frac,
              |  coalesce(pf.dup_para_char_frac, 0.0) AS dup_para_char_frac,
              |  coalesce(t2.num / CAST(tot.total AS DOUBLE), 0.0)
              |    AS top2_char_frac,
              |  coalesce(t3.num / CAST(tot.total AS DOUBLE), 0.0)
              |    AS top3_char_frac,
              |  coalesce(t4.num / CAST(tot.total AS DOUBLE), 0.0)
              |    AS top4_char_frac,
              |  coalesce(c5.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup5_char_frac,
              |  coalesce(c6.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup6_char_frac,
              |  coalesce(c7.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup7_char_frac,
              |  coalesce(c8.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup8_char_frac,
              |  coalesce(c9.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup9_char_frac,
              |  coalesce(c10.covered / CAST(tot.total AS DOUBLE), 0.0)
              |    AS dup10_char_frac
              |FROM d LEFT JOIN lf USING (doc_id)
              |LEFT JOIN pf USING (doc_id)
              |LEFT JOIN tot ON d.doc_id = tot.doc_id
              |LEFT JOIN (SELECT doc_id, num FROM top WHERE n = 2) t2
              |  ON d.doc_id = t2.doc_id
              |LEFT JOIN (SELECT doc_id, num FROM top WHERE n = 3) t3
              |  ON d.doc_id = t3.doc_id
              |LEFT JOIN (SELECT doc_id, num FROM top WHERE n = 4) t4
              |  ON d.doc_id = t4.doc_id
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 5) c5
              |  ON d.doc_id = c5.doc_id
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 6) c6
              |  ON d.doc_id = c6.doc_id
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 7) c7
              |  ON d.doc_id = c7.doc_id
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 8) c8
              |  ON d.doc_id = c8.doc_id
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 9) c9
              |  ON d.doc_id = c9.doc_id
              |LEFT JOIN (SELECT doc_id, covered FROM cov WHERE n = 10) c10
              |  ON d.doc_id = c10.doc_id)
              |SELECT *,
              |  (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
              |    AND dup_line_char_frac <= 0.20
              |    AND dup_para_char_frac <= 0.20
              |    AND top2_char_frac <= 0.20 AND top3_char_frac <= 0.18
              |    AND top4_char_frac <= 0.16 AND dup5_char_frac <= 0.15
              |    AND dup6_char_frac <= 0.14 AND dup7_char_frac <= 0.13
              |    AND dup8_char_frac <= 0.12 AND dup9_char_frac <= 0.11
              |    AND dup10_char_frac <= 0.10) AS rep_pass
              |FROM f ORDER BY doc_id""".stripMargin)),

    // Shift-tolerant audio alignment (r16, VERDICT r15 item 6 — the
    // extension path the r15 non-goal named): overlapping-window
    // frame fingerprints (Haitsma & Kalker 2002 shape) + offset
    // voting over the pigeonhole/Hamming candidate machinery. The
    // fixture plants 60 distinct 2 s clips (absolute-time slot
    // patterns — frame hashes are pure functions of (seed, window))
    // and, for the first 30, a GAIN-SCALED copy TRIMMED by 1-3 hops;
    // audioAlignPairs must recover exactly those 30 pairs with the
    // planted hop offset and the full overlap as the match count —
    // base-base and variant-variant pairs (distinct seeds) must stay
    // silent. The exact-content face (q249) is untouched. Oracle =
    // the construction's id arithmetic.
    Q("q260_audio_align", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val base = slotMedia(ids.filter(col("doc_id") < 60),
        seed = _.toInt, gain = _ => 1.0, trimHops = _ => 0)
      val variants = slotMedia(
        ids.filter(col("doc_id") < 30)
          .select((col("doc_id") + 300).as("doc_id")),
        seed = id => (id - 300).toInt,
        gain = _ => 0.35,
        trimHops = id => ((id - 300) % 3 + 1).toInt)
      Multimodal
        .audioAlignPairs(
          Multimodal.audioFrameHashes(base.unionByName(variants)))
        .orderBy(col("id_a"), col("id_b"))
    },
      Some("""SELECT doc_id AS id_a, doc_id + 300 AS id_b,
             |  CAST(doc_id % 3 + 1 AS INTEGER) AS offset,
             |  CAST(13 - (doc_id % 3 + 1) AS BIGINT) AS matches
             |FROM documents WHERE doc_id < 30
             |ORDER BY id_a, id_b""".stripMargin)),

    // WARC ingest end to end (r16, sources/Warc.scala — ISO 28500
    // clean-room): the q257 pages wrapped in HTTP/1.1 envelopes
    // inside real WARC/1.0 records across four .warc files, read
    // through the binaryFile-based record parser, HTTP-unwrapped,
    // and main-content-extracted — and the answer must equal q257's
    // oracle VERBATIM (the q117 same-oracle-different-path pattern):
    // container + envelope handling provably content-transparent.
    Q("q261_warc_extract", (s, dir) => {
      val path = warcFixture(s, dir)
      val bodies = graft.sources.Warc.httpResponses(
        graft.sources.Warc.read(s, path + "/*.warc*"))
      bodies.select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          graft.operators.Extract.mainContent(col("body")).as("text"))
        .orderBy(col("doc_id"))
    },
      Some(extractOracleSql)),

    // Language identification (r17, operators/LangId.scala —
    // clean-room Dunning-1994 char-n-gram Naive Bayes, the CCNet
    // §3.1 post-extraction step): train on the planted-multilingual
    // fixture's % 5 != 0 docs, classify the held-out % 5 == 0 docs.
    // The oracle replays the WHOLE pipeline — fixture construction,
    // char 2/3-grams of lower(text), md5 bucket hash (m = 512),
    // add-1 smoothing, per-language log-score sums, argmax with
    // ties to the larger language — so the gate hashes the shipped
    // train AND serve arithmetic end to end.
    Q("q262_langid", (s, dir) => {
      val fix = langIdFixture(s, dir)
      val model = graft.operators.LangId.train(
        fix.filter(col("doc_id") % 5 =!= 0), "text", "true_lang",
        m = 512)
      graft.operators.LangId.classify(
          fix.filter(col("doc_id") % 5 === 0), "text", model, m = 512)
        .select(col("doc_id"), col("true_lang"), col("lang"),
          col("lang_margin").as("margin"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH $langIdCtesSql
             |SELECT f.doc_id, f.true_lang, r.lang,
             |  round(r.s - r.s2, 6) AS margin
             |FROM lrk r JOIN lf f USING (doc_id)
             |WHERE r.rn = 1 ORDER BY f.doc_id""".stripMargin)),

    // The END-TO-END web-corpus ingest recipe (r17, VERDICT r16
    // item 5): WARC container → HTTP unwrap → jusText extraction
    // under the multilingual union stoplist → language id (trained
    // on the recipe's own train split) → C4 line rules →
    // corpus-global common-line removal → quality gate → exact
    // dedup → minhash near-dup dedup, ONE oracled query in the q107
    // composition discipline — each CTE is the unit oracle of its
    // stage (q261/q257 extraction, q262 langid, q255 c4, q256
    // common lines, q43 quality, q46 exact, q47 minhash-as-
    // exhaustive-jaccard). The fixture plants one casualty per
    // stage: a link menu and a copyright line (extraction), a
    // no-punctuation paragraph (c4), an all-pages footer
    // (dropCommonLines), docs 250-299 exact copies of 0-49 (exact
    // dedup), docs 230-249 one-token near-dups of 0-19 (minhash;
    // components are disjoint PAIRS by construction, so the
    // oracle's has-a-lower-id-partner rule IS the connected-
    // component min-label rule). gopher/repetition flags keep their
    // own oracles (q236/q259) — their replay is a page of SQL each
    // and adds no composition coverage here.
    Q("q263_web_ingest_pipeline", (s, dir) => {
      val path = webWarcFixture(s, dir)
      val meta = webIngestHtml(s, dir)
        .select(col("doc_id"), col("true_lang"))
      val bodies = graft.sources.Warc.httpResponses(
        graft.sources.Warc.read(s, path + "/*.warc*"))
      // r18 opt (guide §5, §1.2): `extracted` (WARC parse + jusText —
      // the pipeline's most expensive projection) feeds BOTH the
      // LangId.train fit and the serving chain, and `cleaned` (which
      // adds the LangId scoring projection) is referenced three times
      // inside dropCommonLines' plan (lines x2 + the rebuild join).
      // Uncached, the stage profile showed the WARC+extract subtree
      // evaluated 3x (ProbeStages r18: 15.8 s + 5.3 s + 1.7 s exec on
      // identical 464 KB input). Caching both computes each heavy
      // projection once per run — from parquet, inside the timed
      // region; Bench clears the cache between passes.
      val extracted = bodies.select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          graft.operators.Extract.mainContent(col("body"),
            stopwords = webStops).as("text"))
        .join(meta, Seq("doc_id"))
        .cache()
      val model = graft.operators.LangId.train(
        extracted.filter(col("doc_id") % 5 =!= 0 &&
          col("doc_id") < 230),
        "text", "true_lang", m = 512)
      val labeled = graft.operators.LangId.classify(
        extracted, "text", model, m = 512)
      // localCheckpoint (eager), not cache: the three dropCommonLines
      // branches run CONCURRENTLY in one job, and a lazily-filled
      // cache lets each branch recompute the classify projection
      // before any partition is cached (measured: 3 identical heavy
      // stages). The eager cut materializes classify exactly once.
      val cleaned = labeled.select(col("doc_id"), col("lang"),
        TF.c4CleanLines(col("text")).as("text"))
        .localCheckpoint()
      val decommon = graft.operators.Repetition.dropCommonLines(
        cleaned, "doc_id", "text", maxDocs = 20)
      val quality = decommon.filter(
        TF.qualityScore(col("text")) >= 0.5)
      val exact = Dedup.exact(quality, Seq("text"), "doc_id")
      Dedup.minhashDedup(exact, "doc_id", "text",
          numHashes = 64, bands = 32, shingleLen = 3, threshold = 0.6)
        .select(col("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH $webIngestSqlCtes,
             |${sqlExtractCtesFor(webStops)},
             |xx AS (SELECT x.doc_id, wm.true_lang, x.text
             |  FROM x JOIN wm USING (doc_id)),
             |gg AS (SELECT doc_id, true_lang, CAST(CAST('0x' ||
             |      substr(md5(u.g), 1, 15) AS BIGINT) % 512
             |      AS BIGINT) AS bucket
             |  FROM xx, UNNEST(
             |    list_transform(range(1, len(lower(text))),
             |      i -> substr(lower(text), i, 2)) ||
             |    list_transform(range(1, len(lower(text)) - 1),
             |      i -> substr(lower(text), i, 3))) AS u(g)),
             |gcnt AS (SELECT true_lang AS lang, bucket,
             |    count(*) AS cnt FROM gg
             |  WHERE doc_id % 5 != 0 AND doc_id < 230 GROUP BY 1, 2),
             |gtot AS (SELECT lang, sum(cnt) AS tot
             |  FROM gcnt GROUP BY 1),
             |gsc AS (SELECT g.doc_id, tt.lang,
             |    sum(CASE WHEN c.cnt IS NULL
             |      THEN ln(1.0 / (tt.tot + 512.0))
             |      ELSE ln((c.cnt + 1.0) / (tt.tot + 512.0)) END) AS s
             |  FROM gg g CROSS JOIN gtot tt
             |  LEFT JOIN gcnt c ON c.lang = tt.lang
             |    AND c.bucket = g.bucket
             |  GROUP BY 1, 2),
             |gl AS (SELECT doc_id, lang FROM (SELECT doc_id, lang,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY s DESC, lang DESC) AS rn FROM gsc)
             |  WHERE rn = 1),
             |cc AS (SELECT xx.doc_id, gl.lang, array_to_string(
             |    list_filter(
             |      list_transform(string_split_regex(xx.text, '\\r?\\n'),
             |        l -> trim(l)),
             |      l -> len(l) > 0
             |        AND regexp_matches(l, '[.!?"]$$')
             |        AND len(list_filter(string_split_regex(l, '\\s+'),
             |              w -> len(w) > 0)) >= 5
             |        AND NOT contains(lower(l), 'javascript')),
             |    chr(10)) AS text
             |  FROM xx JOIN gl USING (doc_id)),
             |dlin AS (SELECT doc_id, lang,
             |    string_split_regex(text, '\\r?\\n') AS ls FROM cc),
             |dexp AS (SELECT doc_id, i, ls[i] AS l
             |  FROM dlin, UNNEST(range(1, len(ls) + 1)) AS t(i)),
             |dcom AS (SELECT trim(l) AS k FROM dexp
             |  WHERE len(trim(l)) > 0 GROUP BY 1
             |  HAVING count(DISTINCT doc_id) > 20),
             |dre AS (SELECT e.doc_id,
             |    string_agg(e.l, chr(10) ORDER BY e.i) AS text
             |  FROM dexp e LEFT JOIN dcom ON trim(e.l) = dcom.k
             |  WHERE dcom.k IS NULL GROUP BY e.doc_id),
             |dcl AS (SELECT d.doc_id, d.lang,
             |    coalesce(r.text, '') AS text
             |  FROM dlin d LEFT JOIN dre r USING (doc_id)),
             |qf AS (SELECT * FROM dcl
             |  WHERE ${sqlQuality("text")} >= 0.5),
             |ex AS (SELECT qf.* FROM qf JOIN (SELECT text,
             |    min(doc_id) AS k FROM qf GROUP BY text) m
             |  ON qf.doc_id = m.k),
             |msh AS (SELECT doc_id, list_distinct(list_transform(
             |    range(1, greatest(len(${sqlTokens("text")}) - 1, 1)),
             |    i -> ${sqlTokens("text")}[i] || ' ' ||
             |      ${sqlTokens("text")}[i+1] || ' ' ||
             |      ${sqlTokens("text")}[i+2])) AS sh
             |  FROM ex WHERE len(${sqlTokens("text")}) >= 3),
             |mdrop AS (SELECT DISTINCT b.doc_id FROM msh a, msh b
             |  WHERE a.doc_id < b.doc_id
             |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |      / len(list_distinct(list_concat(a.sh, b.sh)))
             |      >= 0.6)
             |SELECT doc_id, lang, text FROM ex
             |WHERE doc_id NOT IN (SELECT doc_id FROM mdrop)
             |ORDER BY doc_id""".stripMargin)),

    // PER-LINE language id (r17, LangId.lineLangs/keepLinesInLang —
    // CCNet §3.1's refinement: pages mix languages, so LID runs per
    // paragraph). Fixture: the q262 planted pages with an
    // English-pool boilerplate line appended to EVERY page; the
    // model is q262's (trained on the % 5 != 0 split). Output pins
    // the per-line labels ("fr,en" on a French page) AND the
    // keepLinesInLang('fr') rewrite (French pages keep their planted
    // line, everything else strips to ''). Oracle: the q262 model
    // CTEs verbatim + per-(doc, line) scoring, argmax and ordered
    // re-joins in SQL.
    Q("q264_langid_lines", (s, dir) => {
      val fix = langIdFixture(s, dir)
      // r18 opt (guide §5): lineLangs AND keepLinesInLang each
      // collect the model (two actions) — uncached, the train
      // aggregation ran twice per invocation. The model is m-bounded
      // (512 buckets x langs), so caching it is a few KB.
      val model = graft.operators.LangId.train(
        fix.filter(col("doc_id") % 5 =!= 0), "text", "true_lang",
        m = 512).cache()
      val mixed = fix.filter(col("doc_id") < 120)
        .select(col("doc_id"), col("true_lang"),
          concat(col("text"), lit("\n" + langIdBoiler)).as("text"))
      val labeled = graft.operators.LangId.lineLangs(
        mixed, "text", model, m = 512)
      val kept = graft.operators.LangId.keepLinesInLang(
        mixed, "text", model, "fr", m = 512)
      labeled.select(col("doc_id"), col("true_lang"),
          array_join(expr("transform(line_langs, s -> s.lang)"), ",")
            .as("line_langs"))
        .join(kept.select(col("doc_id"), col("text").as("fr_text")),
          Seq("doc_id"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH $langIdCtesSql,
             |bf AS (SELECT doc_id, true_lang,
             |    text || chr(10) || '$langIdBoiler' AS t2
             |  FROM lf WHERE doc_id < 120),
             |bl AS (SELECT doc_id, true_lang, t.i, ls[t.i] AS line
             |  FROM (SELECT doc_id, true_lang,
             |      string_split_regex(t2, '\\r?\\n') AS ls FROM bf),
             |    UNNEST(range(1, len(ls) + 1)) AS t(i)),
             |bg AS (SELECT doc_id, i, CAST(CAST('0x' ||
             |      substr(md5(u.g), 1, 15) AS BIGINT) % 512
             |      AS BIGINT) AS bucket
             |  FROM bl, UNNEST(
             |    list_transform(range(1, len(lower(line))),
             |      x -> substr(lower(line), x, 2)) ||
             |    list_transform(range(1, len(lower(line)) - 1),
             |      x -> substr(lower(line), x, 3))) AS u(g)),
             |bsc AS (SELECT g.doc_id, g.i, tt.lang,
             |    sum(CASE WHEN c.cnt IS NULL
             |      THEN ln(1.0 / (tt.tot + 512.0))
             |      ELSE ln((c.cnt + 1.0) / (tt.tot + 512.0)) END) AS s
             |  FROM bg g CROSS JOIN ltot tt
             |  LEFT JOIN lcnt c ON c.lang = tt.lang
             |    AND c.bucket = g.bucket
             |  GROUP BY 1, 2, 3),
             |bpl AS (SELECT doc_id, i, lang FROM (SELECT doc_id, i,
             |    lang, row_number() OVER (PARTITION BY doc_id, i
             |      ORDER BY s DESC, lang DESC) AS rn FROM bsc)
             |  WHERE rn = 1),
             |bagg AS (SELECT doc_id,
             |    string_agg(lang, ',' ORDER BY i) AS line_langs
             |  FROM bpl GROUP BY doc_id),
             |bfr AS (SELECT b.doc_id,
             |    string_agg(b.line, chr(10) ORDER BY b.i) AS fr_text
             |  FROM bl b JOIN bpl p ON p.doc_id = b.doc_id
             |    AND p.i = b.i AND p.lang = 'fr'
             |  GROUP BY b.doc_id)
             |SELECT f.doc_id, f.true_lang, a.line_langs,
             |  coalesce(x.fr_text, '') AS fr_text
             |FROM bf f JOIN bagg a USING (doc_id)
             |LEFT JOIN bfr x USING (doc_id)
             |ORDER BY f.doc_id""".stripMargin)),

    // CJK character-level quality rules (r18, VERDICT r17 item 1 —
    // functions/CjkQuality.scala): char entropy by run-length
    // grouping of the sorted char array, char-5-gram repetition,
    // and the four-rule flag struct, on a planted zh corpus with
    // one casualty per rule (char spam -> entropy, repeated
    // sentence -> char repetition — the spam word-gram rules are
    // BLIND to, CjkScopeSpec —, short doc -> char count, stripped
    // terminals -> punctuation). The oracle replays the WHOLE
    // arithmetic in DuckDB list lambdas (the q262 discipline):
    // substr char extraction, list_sort, run starts, p*log2(p)
    // sums, gram distinct counts — so the gate hashes the shipped
    // entropy/repetition math end to end.
    Q("q265_cjk_quality", (s, dir) => {
      val CQ = graft.functions.CjkQuality
      cjkFixture(s, dir)
        .select(col("doc_id"),
          CQ.charEntropy(col("text")).as("entropy"),
          CQ.charRepetitionRatio(col("text"), 5).as("rep5"),
          CQ.cjkQualityFlags(col("text")).as("f"),
          col("text"))
        .select(col("doc_id"), col("entropy"), col("rep5"),
          col("f.char_count_ok").as("char_count_ok"),
          col("f.entropy_ok").as("entropy_ok"),
          col("f.char_rep_ok").as("char_rep_ok"),
          col("f.punct_ok").as("punct_ok"),
          col("f.pass").as("q_pass"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH $cjkFixtureSql,
             |cq1 AS (SELECT doc_id, text,
             |    regexp_replace(text, '[\\s　]+', '', 'g') AS t
             |  FROM cf),
             |cq2 AS (SELECT *, length(t) AS n,
             |    list_sort(list_transform(range(1, length(t) + 1),
             |      i -> substr(t, i, 1))) AS srt FROM cq1),
             |cq3 AS (SELECT *, list_filter(range(1, n + 1),
             |      i -> i = 1 OR srt[i - 1] != srt[i]) AS starts
             |  FROM cq2),
             |cq4 AS (SELECT *, len(starts) AS k FROM cq3),
             |cq5 AS (SELECT *, list_transform(range(1, k + 1),
             |      j -> (CASE WHEN j = k THEN n + 1
             |            ELSE starts[j + 1] END) - starts[j]) AS runs
             |  FROM cq4),
             |cq6 AS (SELECT doc_id, text, n,
             |    CASE WHEN n = 0 THEN 0.0
             |      ELSE round(-list_sum(list_transform(runs,
             |        r -> r / CAST(n AS DOUBLE) *
             |          log2(r / CAST(n AS DOUBLE)))) + 0.0, 6)
             |    END AS entropy,
             |    CASE WHEN n - 4 <= 0 THEN 0.0
             |      ELSE round(1.0 - CAST(len(list_distinct(
             |        list_transform(range(1, n - 3),
             |          i -> substr(t, i, 5)))) AS DOUBLE) / (n - 4), 6)
             |    END AS rep5
             |  FROM cq5)
             |SELECT doc_id, entropy, rep5,
             |  n BETWEEN 50 AND 100000 AS char_count_ok,
             |  entropy >= 3.0 AS entropy_ok,
             |  rep5 <= 0.2 AS char_rep_ok,
             |  regexp_matches(text, '[。！？．.!?"]') AS punct_ok,
             |  (n BETWEEN 50 AND 100000 AND entropy >= 3.0
             |    AND rep5 <= 0.2
             |    AND regexp_matches(text, '[。！？．.!?"]')) AS q_pass
             |FROM cq6 ORDER BY doc_id""".stripMargin)),

    // The LangId-script DISPATCH (r18, CjkQuality.c4CleanByScript):
    // zh/ja pages clean under the character-based C4 line rules
    // (terminal 。！？, >= 10 non-whitespace chars incl. U+3000,
    // no 'javascript'), en pages under the published word-based
    // rules — one mixed corpus, both cleaners, the router that
    // turned the CjkScopeSpec fail-closed contract into
    // flow-through processing. Every page plants one casualty per
    // line rule on its script's side.
    Q("q266_cjk_c4_dispatch", (s, dir) => {
      val CQ = graft.functions.CjkQuality
      val pool = typedLit(cjkPool)
      val li = col("doc_id") % 3
      val g1 = element_at(pool, (col("doc_id") % 10 + 1).cast("int"))
      val g2 = element_at(pool,
        ((col("doc_id") + 5) % 10 + 1).cast("int"))
      val zhText = concat_ws("\n", g1, lit("短。"),
        lit("菜单 导航 登录"),
        lit("这个页面使用javascript才能正常工作。"), g2)
      val enText = concat_ws("\n",
        lit("the quick brown fox jumps over the lazy dog today."),
        lit("short line."),
        lit("cookies and javascript must be enabled to continue."),
        lit("no terminal punctuation on this line of text"),
        lit("a second clean english sentence appears right here now."))
      t(s, dir, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"),
          when(li === 0, "zh").when(li === 1, "en").otherwise("ja")
            .as("lang"),
          when(li === 1, enText).otherwise(zhText).as("text"))
        .select(col("doc_id"), col("lang"),
          CQ.scriptOf(col("lang")).as("script"),
          CQ.c4CleanByScript(col("text"), col("lang")).as("cleaned"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH cp AS (SELECT ${sqlList(cjkPool)} AS pool),
             |df AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 'zh' WHEN 1 THEN 'en'
             |      ELSE 'ja' END AS lang,
             |    CASE WHEN doc_id % 3 = 1 THEN
             |      'the quick brown fox jumps over the lazy dog today.'
             |      || chr(10) || 'short line.' || chr(10) ||
             |      'cookies and javascript must be enabled to continue.'
             |      || chr(10) ||
             |      'no terminal punctuation on this line of text'
             |      || chr(10) ||
             |      'a second clean english sentence appears right here now.'
             |    ELSE pool[doc_id % 10 + 1] || chr(10) || '短。'
             |      || chr(10) || '菜单 导航 登录' || chr(10) ||
             |      '这个页面使用javascript才能正常工作。' || chr(10) ||
             |      pool[(doc_id + 5) % 10 + 1]
             |    END AS text
             |  FROM documents CROSS JOIN cp WHERE doc_id < 120)
             |SELECT doc_id, lang,
             |  CASE WHEN lang IN ('zh', 'ja', 'ko') THEN 'cjk'
             |    ELSE 'ws' END AS script,
             |  CASE WHEN lang IN ('zh', 'ja', 'ko') THEN
             |    array_to_string(list_filter(
             |      list_transform(string_split_regex(text, '\\r?\\n'),
             |        l -> regexp_replace(regexp_replace(l,
             |          '^[\\s　]+', ''), '[\\s　]+$$', '')),
             |      l -> len(l) > 0
             |        AND regexp_matches(l, '[。！？．.!?"]$$')
             |        AND len(regexp_replace(l, '[\\s　]+', '', 'g'))
             |          >= 10
             |        AND NOT contains(lower(l), 'javascript')),
             |      chr(10))
             |  ELSE
             |    array_to_string(list_filter(
             |      list_transform(string_split_regex(text, '\\r?\\n'),
             |        l -> trim(l)),
             |      l -> len(l) > 0 AND regexp_matches(l, '[.!?"]$$')
             |        AND len(list_filter(
             |          string_split_regex(l, '\\s+'),
             |          w -> len(w) > 0)) >= 5
             |        AND NOT contains(lower(l), 'javascript')),
             |      chr(10))
             |  END AS cleaned
             |FROM df ORDER BY doc_id""".stripMargin)),

    // Order-n hashed per-language LM (r18, VERDICT r17 item 2 —
    // LanguageModel.trainNgram/scoreNgram, the CCNet §3.2 5-gram
    // KenLM signal under the DSIR hashing trick): trigram model,
    // m = 256 buckets, two pseudo-languages split by doc_id parity
    // over the REAL documents text. The oracle RETRAINS the model
    // in SQL — token split, space-joined trigram/context strings,
    // md5 bucket chain, per-(lang, bucket) counts — and re-scores
    // every document with the same add-k arithmetic, so the gate
    // hashes train AND serve end to end (q87's pattern at order 3
    // with hashed contexts). Spark-side serving is a shuffle-free
    // literal-array projection; the SQL serves by join — same math,
    // two shapes.
    Q("q267_ngram_lm", (s, dir) => {
      val LM = graft.operators.LanguageModel
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, "en").otherwise("fr")
            .as("lang"),
          col("text"))
      val model = LM.trainNgram(docs, "text", "lang", n = 3, m = 256)
      LM.scoreNgram(docs, "text", "lang", model, n = 3, m = 256,
          k = 0.5)
        .filter(col("n_ngrams").isNotNull)
        .select(col("doc_id"), col("lang"), col("n_ngrams"),
          col("nll"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH tk AS (SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'fr' END
             |      AS lang,
             |    ${sqlTokens("text")} AS t FROM documents),
             |g AS (SELECT doc_id, lang,
             |    CAST(CAST('0x' || substr(md5(
             |      t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15)
             |      AS BIGINT) % 256 AS BIGINT) AS bng,
             |    CAST(CAST('0x' || substr(md5(
             |      t[i] || ' ' || t[i+1]), 1, 15)
             |      AS BIGINT) % 256 AS BIGINT) AS bctx
             |  FROM (SELECT doc_id, lang, t,
             |      unnest(range(1, len(t) - 1)) AS i
             |    FROM tk WHERE len(t) >= 3)),
             |cn AS (SELECT lang, bng AS b, count(*) AS c
             |  FROM g GROUP BY 1, 2),
             |cc AS (SELECT lang, bctx AS b, count(*) AS c
             |  FROM g GROUP BY 1, 2),
             |sc AS (SELECT g.doc_id, g.lang,
             |    -ln((n.c + 0.5) / (x.c + 0.5 * 256)) AS nll
             |  FROM g JOIN cn n ON n.lang = g.lang AND n.b = g.bng
             |  JOIN cc x ON x.lang = g.lang AND x.b = g.bctx)
             |SELECT doc_id, lang,
             |  CAST(count(*) AS INT) AS n_ngrams,
             |  round(sum(nll) / count(*), 6) AS nll
             |FROM sc GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)),

    // DCT pHash near-dup recovery (r18, VERDICT r17 item 4 —
    // Multimodal.pHashKernel): 42 docs per scene class render as
    // REAL container bytes in three variants — original PNG, JPEG
    // recompressed at quality 0.4, rescaled 64→40 PNG — and the
    // pHash → signaturePairs(≤6) → connected-components chain must
    // recover exactly the five planted classes (aHash cannot: its
    // 8×8 cell means collide across these scenes —
    // MultimodalHashSpec pins that failure case; recompression and
    // rescaling are exactly what the DCT low-frequency crop
    // survives). Oracle: the abstract class structure (q235's
    // construction — the image arithmetic itself is pinned by
    // MultimodalHashSpec's closed forms, not SQL-expressible).
    Q("q268_phash_dedup", (s, dir) => {
      import org.apache.spark.sql.types._
      val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("content", BinaryType))))
      // r18 opt (guide §2.5/§8): repartition ids before the heavy
      // per-row render/encode work — see q235's note.
      val media = t(s, dir, "documents").filter(col("doc_id") < 210)
        .select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val orig = Multimodal.syntheticImage((id % 5).toInt)
            val bytes = (id / 5) % 3 match {
              case 0 => Multimodal.pngBytes(orig)
              case 1 => Multimodal.jpegBytes(orig, 0.4f)
              case _ => Multimodal.pngBytes(
                Multimodal.rescaled(orig, 40, 40))
            }
            org.apache.spark.sql.Row(id, bytes)
          }
        }(enc)
      val hashed = Multimodal.imageHashes(media, "phash")
        .withColumnRenamed("media_id", "id")
      graft.operators.Dedup.clusterSizes(
          graft.operators.Dedup.signaturePairs(hashed, "id",
            "img_hash", maxDistance = 6)
            .select(col("id_a"), col("id_b")))
        .select(col("rep").as("rep_id"), col("size").as("n_dups"))
        .orderBy(col("rep_id"))
    },
      Some("""SELECT min(doc_id) AS rep_id,
             | CAST(count(*) AS BIGINT) AS n_dups
             |FROM documents WHERE doc_id < 210 GROUP BY doc_id % 5
             |ORDER BY rep_id""".stripMargin)),

    // SentencePiece ▁-marker mode (r18, VERDICT r17 item 6 —
    // Unigram marker=true): whitespace is piece-internal, the
    // convention T5/Llama vocabularies assume. q232's bigram-face
    // closed form replayed on the MARKED tokens (chars −10 / 2-grams
    // −15 ⇒ exactly ceil(len/2) pieces, len % 2 singles — marker
    // chars included in len), the marked-token census, AND the
    // markerDecode round trip (every document must reconstruct its
    // ROOT-lowercased, whitespace-normalized self INCLUDING space
    // multiplicity — one ▁ per whitespace char, dummy prefix
    // dropped). The oracle re-derives the marked tokens with the
    // same regex chain and predicts the closed forms.
    Q("q269_unigram_marker", (s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs
        .select(explode(TF.markerTokens(col("text"))).as("w"))
        .distinct()
      val chars = words.select(explode(transform(
          sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))).as("piece"))
        .distinct().withColumn("log_prob", lit(-10.0))
      val bigrams = words.filter(length(col("w")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("piece"))
        .distinct().withColumn("log_prob", lit(-15.0))
      val enc = graft.operators.Unigram.encode(docs, "text",
        chars.unionByName(bigrams), marker = true)
      enc.select(col("lang"),
          size(col("ug_tokens")).as("np"),
          size(filter(col("ug_tokens"), p => length(p) === 1))
            .as("ns"),
          size(TF.markerTokens(col("text"))).as("nw"),
          when(graft.operators.Unigram.markerDecode(col("ug_tokens"))
            === regexp_replace(graft.expressions.TextExpressions
              .rootLower(col("text")), "\\s", " "), 1L)
            .otherwise(0L).as("rt"))
        .groupBy(col("lang"))
        .agg(sum(col("np")).as("n_pieces"),
          sum(col("ns")).as("n_single"),
          sum(col("nw")).as("n_words"),
          count(lit(1)).as("n_docs"),
          sum(col("rt")).as("n_roundtrip"))
        .orderBy(col("lang"))
    },
      Some("""WITH mk AS (SELECT lang, regexp_extract_all(
             |    regexp_replace(' ' || lower(text), '\s', '▁', 'g'),
             |    '▁+[^▁]*') AS ts FROM documents),
             |tok AS (SELECT lang, unnest(ts) AS w FROM mk),
             |ta AS (SELECT lang,
             |    CAST(sum((len(w) + 1) // 2) AS BIGINT) AS n_pieces,
             |    CAST(sum(len(w) % 2) AS BIGINT) AS n_single,
             |    CAST(count(*) AS BIGINT) AS n_words
             |  FROM tok GROUP BY lang),
             |dc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY lang)
             |SELECT lang, n_pieces, n_single, n_words, n_docs,
             |  n_docs AS n_roundtrip
             |FROM ta JOIN dc USING (lang) ORDER BY lang""".stripMargin)),

    // BPE in SentencePiece ▁-marker mode (r18, the BPE half of
    // VERDICT r17 item 6): same pre-tokenizer as q269 (whitespace
    // piece-internal, one ▁ per whitespace char, dummy prefix), and
    // — the convention delta — NO </w> sentinel (▁ already marks
    // every word start). The q132 discipline: the oracle replays the
    // SQL-expressible fragment (the one corpus pass + the pair-count
    // aggregation whose (f desc, l, r) argmax is train()'s first
    // merge — train rides the SAME seedWords/pairCounts code); the
    // iterative tail, the encoder, markerDecode round-trip
    // losslessness, and the __marker mode-mismatch refusal are all
    // pinned in BpeSpec against a clean-room marker trainer.
    Q("q270_bpe_marker", (s, dir) =>
      Bpe.seedPairCounts(t(s, dir, "documents"), "text", marker = true)
        .orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(20)
        .select(col("l"), col("r"), col("f")),
      Some("""WITH mk AS (SELECT regexp_extract_all(
             |    regexp_replace(' ' || lower(text), '\s', '▁', 'g'),
             |    '▁+[^▁]*') AS ts FROM documents),
             |wc AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest(ts) AS w FROM mk) GROUP BY 1),
             |syms AS (SELECT regexp_extract_all(word, '.') AS s, freq
             |  FROM wc),
             |idx AS (SELECT s, freq,
             |    unnest(generate_series(1, len(s) - 1)) AS i
             |  FROM syms WHERE len(s) >= 2)
             |SELECT s[i] AS l, s[i + 1] AS r,
             |  CAST(sum(freq) AS BIGINT) AS f
             |FROM idx GROUP BY 1, 2
             |ORDER BY f DESC, l, r LIMIT 20""".stripMargin)),

    // Decode-coverage census (r18 — the codingCoverage discipline
    // applied to the media stack, closing VERDICT r17 Missing #4's
    // second half as a MEASURED exclusion): magic-byte sniff + JDK
    // decode-claim per payload, aggregated (kind, format, status) →
    // count. The planted table covers all three statuses: real
    // PNG/JPEG/WAV (jdk_decodable), crafted WebP/AVIF/MP3 headers
    // (no_jdk_codec — the formats decodeKernel falls back on and
    // imageHashes drops; DecodeCoverageSpec proves the claims
    // against the real codecs), garbage (unknown_magic), and null
    // payloads. Oracle = construction arithmetic over doc_id % 8
    // (the q268 pattern). Payload bytes stay partition-local; only
    // the ≤ kinds×formats census rows shuffle.
    Q("q271_decode_coverage", (s, dir) => {
      // r18 opt (guide §2.5/§8): repartition ids before the per-row
      // payload synthesis + decode — see q235's note.
      val media = t(s, dir, "documents").filter(col("doc_id") < 600)
        .select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            def crafted(magic: Array[Byte], at: Int): Array[Byte] = {
              val b = Array.tabulate[Byte](32)(i =>
                (((id * 31 + i) % 97) + 1).toByte)
              java.util.Arrays.fill(b, 0, 12, 0.toByte)
              System.arraycopy(magic, 0, b, at, magic.length)
              b
            }
            val cls = (id % 8).toInt
            val bytes = cls match {
              case 0 => Multimodal.pngBytes(
                Multimodal.syntheticImage((id % 5).toInt, 16, 16))
              case 1 => Multimodal.jpegBytes(
                Multimodal.syntheticImage((id % 5).toInt, 16, 16), 0.5f)
              case 2 => Multimodal.wavBytes(
                Array.tabulate(64)(i => (i * 300).toShort), 8000f)
              case 3 => crafted("RIFF????WEBP".getBytes("US-ASCII"), 0)
              case 4 => crafted("ftypavif".getBytes("US-ASCII"), 4)
              case 5 => crafted("ID3".getBytes("US-ASCII"), 0)
              case 6 => Array.tabulate[Byte](24)(i =>
                ((((id * 31 + i) % 97) + 1).toByte))
              case _ => null
            }
            val kind = if (cls == 2 || cls == 5) "audio" else "image"
            org.apache.spark.sql.Row(id, kind, bytes,
              org.apache.spark.sql.Row(
                Option(bytes).map(_.length.toLong).getOrElse(0L),
                "application/octet-stream", "synth"))
          }
        }(org.apache.spark.sql.Encoders.row(Multimodal.mediaSchema))
      Multimodal.decodeCoverage(media)
        .select(col("kind"), col("format"), col("status"), col("n"))
        .orderBy(col("kind"), col("format"), col("status"))
    },
      Some("""SELECT
             |  CASE WHEN doc_id % 8 IN (2, 5) THEN 'audio'
             |    ELSE 'image' END AS kind,
             |  CASE doc_id % 8 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             |    WHEN 2 THEN 'wav' WHEN 3 THEN 'webp'
             |    WHEN 4 THEN 'avif' WHEN 5 THEN 'mp3'
             |    WHEN 6 THEN 'unknown' ELSE 'none' END AS format,
             |  CASE WHEN doc_id % 8 IN (0, 1, 2) THEN 'jdk_decodable'
             |    WHEN doc_id % 8 IN (3, 4, 5) THEN 'no_jdk_codec'
             |    WHEN doc_id % 8 = 6 THEN 'unknown_magic'
             |    ELSE 'no_payload' END AS status,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM documents WHERE doc_id < 600
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Encoding quality + guarded mojibake repair (r18,
    // functions/Mojibake.scala — the ftfy-class fix as pure column
    // math). The corpus is ASCII, so the query PLANTS non-ASCII via
    // translate(a→á, e→é) — replayable verbatim in DuckDB — then
    // corrupts it with the REAL latin-1 misdecode
    // (decode(encode(pt,'UTF-8'),'ISO-8859-1')) and repairs with
    // fixDoubleUtf8. The oracle's four claims: each misdecoded code
    // point yields EXACTLY one detection signature (n_moji = planted
    // non-ASCII count), detection fires iff the doc had any planted
    // accent, the guarded repair inverts the corruption on EVERY doc
    // (n_roundtrip = n_docs — ASCII docs corrupt to themselves and
    // pass through), and the planted text itself raises ZERO
    // detections (á/é are lead-class chars but never followed by a
    // continuation-class char — the false-positive control). The
    // torn-byte totality + CP1252 detect-not-repair faces are
    // spec-pinned (MojibakeSpec).
    Q("q272_mojibake_repair", (s, dir) => {
      val M = graft.functions.Mojibake
      t(s, dir, "documents")
        .withColumn("pt", translate(col("text"), "ae", "áé"))
        .withColumn("bad", M.latin1Misdecode(col("pt")))
        .withColumn("mc", M.mojibakeCount(col("bad")))
        .withColumn("fixed", M.fixDoubleUtf8(col("bad")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("mc").cast("long")).as("n_moji"),
          sum(when(col("mc") > 0, 1L).otherwise(0L)).as("n_detected"),
          sum(when(col("fixed") === col("pt"), 1L).otherwise(0L))
            .as("n_roundtrip"),
          sum(when(M.mojibakeCount(col("pt")) === 0, 1L).otherwise(0L))
            .as("n_clean_raw"))
        .orderBy(col("lang"))
    },
      Some("""WITH p AS (SELECT lang, translate(text, 'ae', 'áé') AS pt
             |  FROM documents)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(len(regexp_extract_all(pt, '[^\x00-\x7F]')))
             |    AS BIGINT) AS n_moji,
             |  CAST(count(*) FILTER (
             |    WHERE regexp_matches(pt, '[^\x00-\x7F]')) AS BIGINT)
             |    AS n_detected,
             |  CAST(count(*) AS BIGINT) AS n_roundtrip,
             |  CAST(count(*) AS BIGINT) AS n_clean_raw
             |FROM p GROUP BY lang ORDER BY lang""".stripMargin)),

    // Byte-level BPE (r18 — the GPT-2/RoBERTa convention, completing
    // the pre-tokenization trilogy: </w> word-split, ▁-marker,
    // byte-level): GPT-2 regex pre-tokens (case PRESERVED), UTF-8
    // bytes through the bytes→unicode table (space→Ġ), merges over
    // 256 seed symbols, no sentinel. The q132/q270 discipline: the
    // oracle replays the SQL-expressible fragment — pre-tokenize,
    // map, pair-count — whose (f desc, l, r) argmax is train()'s
    // first merge. The RE2 replay is EXACT here because the corpus
    // is single-space ASCII (profiled: no tab/newline/multi-space/
    // leading/trailing whitespace at any SF), so the Java-only
    // \s+(?!\S) lookahead branch never fires and [a-zA-Z]/[0-9]
    // equal \p{L}/\p{N}; the lookahead faces, the cased trainer
    // equality, the byteDecode EXACT round trip (incl. emoji +
    // controls), and the __byte stamp refusals are pinned in
    // BpeSpec against a clean-room byte-level trainer.
    Q("q273_bpe_bytelevel", (s, dir) =>
      Bpe.seedPairCounts(t(s, dir, "documents"), "text",
          byteLevel = true)
        .orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(20)
        .select(col("l"), col("r"), col("f")),
      Some("""WITH pt AS (SELECT unnest(regexp_extract_all(text,
             |    $$'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +$$)) AS w
             |  FROM documents),
             |wc AS (SELECT replace(w, ' ', 'Ġ') AS word,
             |    CAST(count(*) AS BIGINT) AS freq
             |  FROM pt GROUP BY 1),
             |syms AS (SELECT regexp_extract_all(word, '.') AS s, freq
             |  FROM wc),
             |idx AS (SELECT s, freq,
             |    unnest(generate_series(1, len(s) - 1)) AS i
             |  FROM syms WHERE len(s) >= 2)
             |SELECT s[i] AS l, s[i + 1] AS r,
             |  CAST(sum(freq) AS BIGINT) AS f
             |FROM idx GROUP BY 1, 2
             |ORDER BY f DESC, l, r LIMIT 20""".stripMargin)),

    // WordPiece TRAINER (r18 — completes the trilogy's trainer set:
    // BPE and Unigram train, WordPiece only encoded until now). The
    // likelihood-gain criterion (Schuster & Nakajima 2012): merge
    // argmax of score = (pairCount / count(left)) / count(right) —
    // double division in THAT association order on every path.
    // The q132 discipline again: the oracle replays the
    // SQL-expressible fragment (seed symbol counts, pair counts,
    // scores — whose (score desc, f desc, l, r) argmax is train()'s
    // first merge by construction, spec-pinned); the iterative tail,
    // the alphabet-covers-corpus zero-[UNK] property, and the
    // likelihood-beats-frequency delta vs BPE are pinned in BpeSpec
    // against a clean-room per-iteration-recount trainer. The score
    // is an int-over-int IEEE quotient chain — exact cross-engine
    // (the q236 ratio precedent).
    Q("q274_wordpiece_train", (s, dir) =>
      WordPiece.seedPairScores(t(s, dir, "documents"), "text")
        .orderBy(col("score").desc, col("f").desc, col("l").asc,
          col("r").asc)
        .limit(20)
        .select(col("l"), col("r"), col("f"), col("cl"), col("cr"),
          col("score")),
      Some(s"""WITH wc AS (
             |  SELECT word, CAST(count(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest(${sqlTokens("text")}) AS word
             |        FROM documents)
             |  GROUP BY word
             |), syms AS (
             |  SELECT list_prepend(word[1:1],
             |      list_transform(regexp_extract_all(word[2:], '.'),
             |        c -> '##' || c)) AS s,
             |    freq
             |  FROM wc
             |), symc AS (
             |  SELECT sym, CAST(sum(freq) AS BIGINT) AS c
             |  FROM (SELECT unnest(s) AS sym, freq FROM syms)
             |  GROUP BY sym
             |), idx AS (
             |  SELECT s, freq,
             |    unnest(generate_series(1, len(s) - 1)) AS i
             |  FROM syms WHERE len(s) >= 2
             |), pc AS (
             |  SELECT s[i] AS l, s[i + 1] AS r,
             |    CAST(sum(freq) AS BIGINT) AS f
             |  FROM idx GROUP BY 1, 2
             |)
             |SELECT l, r, f, sl.c AS cl, sr.c AS cr,
             |  (CAST(f AS DOUBLE) / sl.c) / sr.c AS score
             |FROM pc
             |JOIN symc sl ON pc.l = sl.sym
             |JOIN symc sr ON pc.r = sr.sym
             |ORDER BY score DESC, f DESC, l, r LIMIT 20""".stripMargin)),
  )

  // ---- driver contract ---------------------------------------------------

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    catalog.head.fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
