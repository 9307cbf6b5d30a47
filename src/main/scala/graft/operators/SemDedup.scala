package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** SemDeDup — semantic deduplication over an embedding column by
  * clustered cosine similarity (Abbas et al. 2023, arXiv:2303.09540,
  * public method). Cluster assignment is the BLOCKING structure: the
  * pairwise cosine work is bounded per cluster instead of n² over the
  * corpus, and a keep rule decides which end of each near-dup pair
  * survives. This complements the hyperplane-LSH screen
  * ([[Dedup.embeddingPairs]]): LSH blocks by random projections of
  * the pair itself (recall is a per-pair probability), SemDeDup
  * blocks by a FIXED partition of the space (recall is 1 for any
  * pair the partition keeps together, 0 across a boundary) — the
  * trade the paper makes to get a deterministic, auditable candidate
  * set at web scale.
  *
  * Engine shape at 100 TB:
  *  - `centers` is a LITERAL parameter, fit OFFLINE on a bounded
  *    sample (the PQ/IVF codebook discipline — never full-corpus
  *    Lloyd inline; [[graft.ml.Models.kmeans]] or [[Pq.fit]]'s
  *    deterministic Lloyd both produce one). Assignment is one
  *    codegen'd corpus pass: an array of per-center squared-L2
  *    expressions folded in index order, argmin via struct-min
  *    (ties to the lowest center index). No shuffle.
  *  - candidates come from one per-cluster aggregate that collects
  *    each member's (id, vector, centroid cosine), with a
  *    `maxClusterSize` guard applied count-first: a degenerate center
  *    that attracts a corpus-sized cluster is refused by its count
  *    before any member list is buffered, contributes NO candidate
  *    pairs instead of n_c², and the refusal is visible in
  *    [[clusterSizes]] rather than silent (callers audit / refit
  *    centers). The shuffle carries each vector exactly once.
  *  - verification runs inside the aggregation's task: one native
  *    kernel ([[graft.expressions.VectorExpressions.ClusterPairs]],
  *    [[graft.expressions.VectorExpressions.CosineSimilarity]]'s
  *    arithmetic bit for bit) scores every member pair of the cluster
  *    and emits only pairs at cosine >= `minCosine` — no candidate
  *    pair row, no join back by id, no self-join of raw vectors.
  *    Memory bound: one admitted cluster's members per task,
  *    `maxClusterSize × dim × 8 B` (5,000 × 64-d ≈ 2.6 MB at the
  *    k ∝ n default target of [[fitCenters]]).
  *
  * Keep policies (`keep`):
  *  - `"min_id"` (default for gates): the lowest id of a dup pair
  *    survives — pure integer arithmetic, no cross-engine FP
  *    tie-break hazard, fully SQL-replayable (q220's oracle).
  *  - `"centroid"` (the paper's rule): the pair member FARTHER from
  *    its cluster centroid (lower centroid cosine) survives — the
  *    paper keeps "edge" examples to preserve diversity; ties break
  *    on id. Pinned against min_id on controlled fixtures in
  *    SemDedupSpec (FP priority stays within one engine).
  */
object SemDedup {

  /** squared L2 between a vector column and a center column, folded
    * in index order (the q214 arithmetic — bit-stable across engines
    * for a given fold order, which is what lets an oracle replay the
    * argmin, and what makes the routed face's distances BIT-IDENTICAL
    * to the flat face's: same lambda, same fold). */
  private def d2To(vecCol: Column, centerCol: Column): Column =
    aggregate(
      zip_with(vecCol, centerCol,
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, v) => acc + v)

  private def d2ToCenter(vecCol: Column, center: Seq[Double]): Column =
    d2To(vecCol, typedLit(center))

  private def requireCenters(centers: Seq[Seq[Double]]): Unit = {
    require(centers.nonEmpty, "semDedup needs at least one center")
    require(centers.map(_.length).distinct.size == 1,
      s"centers must share one dimension, got ${centers.map(_.length).distinct}")
  }

  /** Assign every row to its nearest literal center: adds `cluster`
    * (int, argmin squared-L2, ties to the lowest center index) and
    * `centroid_cosine` (cosine to the OWN cluster's center — free at
    * assignment time, and the priority the `"centroid"` keep policy
    * ranks by). One codegen'd pass, no shuffle. */
  def assign(df: DataFrame, vecCol: String,
             centers: Seq[Seq[Double]]): DataFrame = {
    requireCenters(centers)
    // struct-min argmin: array_min over struct(d2, idx) orders by d2
    // first, then idx — ties land on the lowest center index without
    // a separate position lookup (and with NO double==double compare)
    val scored = array(centers.zipWithIndex.map { case (c, i) =>
      struct(d2ToCenter(col(vecCol), c).as("d"), lit(i).as("i"))
    }: _*)
    val centArr = typedLit(centers.map(_.toSeq))
    df.withColumn("cluster", array_min(scored).getField("i"))
      .withColumn("centroid_cosine",
        VectorFunctions.cosine(col(vecCol).cast("array<double>"),
          element_at(centArr, col("cluster") + 1)))
  }

  /** Flat-literal argmin ceiling: [[assign]] folds one squared-L2
    * expression PER CENTER into the plan, so past a few thousand
    * centers the expression tree itself (analysis, codegen, task
    * binary) is the binding cost — the documented reason
    * [[fitCenters]] used to clamp k at 4096. Past this ceiling the
    * dispatching faces ([[semDedupPairs]], [[screenPairs]],
    * [[assignmentIndex]], …) hand assignment to the IVF-routed path
    * ([[assignRouted]]) automatically, with IDENTICAL results: the
    * exhaustive-probe routed argmin scores every center exactly once
    * through a broadcast join instead of a literal fold
    * (SemDedupSpec pins flat == routed bit-for-bit). */
  private[graft] val FlatAssignMaxCenters = 4096

  /** Coarse routing model for [[assignRouted]], built DRIVER-SIDE
    * from the fine-center table (k centers is model-sized by
    * contract — the same boundedness that lets [[saveCenters]]
    * collect them): a deterministic Lloyd (stride init over the fine
    * centers, 10 rounds, ties to the lowest index — no RNG, so the
    * same center table always routes the same way) clusters the k
    * fine centers into ≤ `nCells` coarse cells. Empty cells are
    * compacted away so every probed cell owns ≥ 1 fine center —
    * that is what guarantees every corpus row gets ≥ 1 candidate
    * and the routed argmin never silently drops a row.
    *
    * Cost: 10 · k · nCells · dim driver flops — seconds at k = 10⁵
    * (one-time per center table; at serving cadence fit once next to
    * the centers, the [[saveCenters]] discipline).
    *
    * Returns (coarse centers, cellOf) with cellOf(i) = the compacted
    * coarse cell owning fine center i. */
  private[graft] def coarseRouting(centers: Seq[Seq[Double]],
                                   nCells: Int): (IndexedSeq[Seq[Double]], Array[Int]) = {
    val k = centers.length
    val dim = centers.head.length
    val pts = centers.map(_.toArray).toArray
    val nc = math.max(1, math.min(nCells, k))
    // stride init: coarse j seeds from fine center ⌊j·k/nc⌋ —
    // deterministic and spread across the table's order
    val coarse = Array.tabulate(nc)(j => pts(((j.toLong * k) / nc).toInt).clone())
    val cellOf = new Array[Int](k)
    def nearest(p: Array[Double]): Int = {
      var best = 0; var bd = Double.PositiveInfinity; var j = 0
      while (j < coarse.length) {
        var d = 0.0; var t = 0
        while (t < dim) { val diff = p(t) - coarse(j)(t); d += diff * diff; t += 1 }
        if (d < bd) { bd = d; best = j } // strict < ⇒ ties to lowest j
        j += 1
      }
      best
    }
    var iter = 0
    while (iter < 10) {
      var i = 0
      while (i < k) { cellOf(i) = nearest(pts(i)); i += 1 }
      val sums = Array.fill(nc)(new Array[Double](dim))
      val cnt = new Array[Int](nc)
      i = 0
      while (i < k) {
        val a = cellOf(i); cnt(a) += 1
        var t = 0
        while (t < dim) { sums(a)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var j = 0
      while (j < nc) { // empty cell keeps its seed (harmless: compacted below)
        if (cnt(j) > 0) {
          var t = 0
          while (t < dim) { coarse(j)(t) = sums(j)(t) / cnt(j); t += 1 }
        }
        j += 1
      }
      iter += 1
    }
    var i = 0
    while (i < k) { cellOf(i) = nearest(pts(i)); i += 1 }
    val used = cellOf.distinct.sorted
    val remap = used.zipWithIndex.toMap
    (used.map(j => coarse(j).toSeq).toIndexedSeq, cellOf.map(remap))
  }

  /** Routed-assignment core over (id, `vecName`) rows: coarse-probe →
    * explode probed cells → broadcast-join the fine centers of those
    * cells → per-id struct-min argmin. Returns (id, vecName, cluster,
    * centroid_cosine). See [[assignRouted]] for the contract. */
  private def routedCore(rows: DataFrame, vecName: String,
                         centers: Seq[Seq[Double]],
                         nProbe: Int, nCells: Int): DataFrame = {
    requireCenters(centers)
    require(nProbe >= 0 && nCells >= 0,
      s"nProbe/nCells must be >= 0 (0 = self-size), got $nProbe/$nCells")
    val spark = rows.sparkSession
    val k = centers.length
    val ncReq = if (nCells > 0) math.min(nCells, k)
                else math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    require(ncReq <= FlatAssignMaxCenters,
      s"nCells=$ncReq exceeds the coarse literal-argmin ceiling " +
        s"($FlatAssignMaxCenters) — the coarse stage rides the flat " +
        "fold; pick nCells <= the ceiling (the default √k stays under " +
        "it through k ≈ 16.7M centers)")
    val (coarse, cellOf) = coarseRouting(centers, ncReq)
    val nc = coarse.length
    val np = if (nProbe > 0) math.min(nProbe, nc) else nc
    val fine = broadcast(spark.createDataFrame(
        centers.zipWithIndex.map { case (c, i) => (cellOf(i), i, c) })
      .toDF("__cell", "__i", "__c"))
    // probed cells: exhaustive probe explodes every cell id without
    // scoring (exactness shortcut — candidates are then ALL k fine
    // centers, each exactly once, which is why exhaustive == flat);
    // partial probe scores the nc coarse centers with the SAME d2
    // fold and keeps the np nearest (ties to the lowest cell id)
    val cells: Column =
      if (np >= nc) typedLit((0 until nc).toList)
      else transform(
        slice(array_sort(array(coarse.zipWithIndex.map { case (cc, j) =>
          struct(d2ToCenter(col(vecName), cc).as("d"), lit(j).as("j"))
        }: _*)), 1, np),
        s => s.getField("j"))
    // the guard hash is computed ONCE per corpus row, BEFORE the
    // cell fan-out (r17, VERDICT r16 item 3): computed inside the
    // aggregation it was 2 × candidates array hashes per row — the
    // fan-out carries the 8-byte hash instead, min/max below see the
    // identical per-id multiset, so the enforced contract is
    // unchanged at a fraction of the cost
    val scored = rows
      .withColumn("__vh", xxhash64(col(vecName)))
      .withColumn("__cell", explode(cells))
      .join(fine, Seq("__cell"))
      .select(col("id"), col(vecName), col("__vh"),
        struct(
          d2To(col(vecName), col("__c")).as("d"),
          col("__i").as("i"),
          VectorFunctions.cosine(col(vecName).cast("array<double>"),
            col("__c")).as("cc")).as("__s"))
    // broadcast join ⇒ the fan-out rows stay task-local; partial
    // aggregation collapses them map-side, so the ONE shuffle here
    // carries n (id, struct, vec) rows — corpus-linear, never
    // candidate-linear.
    //
    // Duplicate-id guard (ADVICE r14): this argmin GROUPS BY id, so a
    // non-unique id column — tolerated by the flat face, which maps
    // row-wise — would silently collapse to ONE nondeterministically
    // chosen row. Rather than pay a separate count/countDistinct pass
    // (an extra corpus scan at 100 TB), the guard rides the SAME
    // aggregation: min/max of a 64-bit vector hash per id are
    // partial-agg-friendly, and a mismatch (same id, DIFFERING
    // vectors — the nondeterministic case) raises at action time.
    // Duplicate ids with BYTE-IDENTICAL vectors remain deterministic
    // (every candidate struct is equal) and dedup to one output row —
    // the documented divergence from the flat face, which preserves
    // multiplicity.
    // the guard rides EVERY output column (ADVICE r15): if it lived
    // only on centroid_cosine, a caller selecting just (id, cluster)
    // would let Catalyst prune the guarded column and the duplicate-id
    // collapse would proceed silently again — "ENFORCED" must survive
    // column pruning, so both projections raise on a hash mismatch
    def guarded(v: Column): Column =
      when(col("__h0") === col("__h1"), v)
        .otherwise(raise_error(concat(
          lit("assignRouted: duplicate id with differing vectors " +
            "(id="), col("id").cast("string"),
          lit(") — the routed argmin groups by id; make ids unique " +
            "upstream (the flat face preserves duplicate rows)"))))
    scored.groupBy(col("id"))
      .agg(min(col("__s")).as("__m"), first(col(vecName)).as(vecName),
        min(col("__vh")).as("__h0"),
        max(col("__vh")).as("__h1"))
      .select(col("id"), col(vecName),
        guarded(col("__m").getField("i")).as("cluster"),
        guarded(col("__m").getField("cc")).as("centroid_cosine"))
  }

  /** IVF-ROUTED face of [[assign]] — the at-scale assignment path
    * past [[FlatAssignMaxCenters]] (the ceiling VERDICT r13 flagged):
    * instead of folding k literal squared-L2 expressions into the
    * plan, the k fine centers are grouped into ~√k coarse cells
    * ([[coarseRouting]], driver-side, deterministic) and each row
    * (a) picks its `nProbe` nearest coarse cells via the SAME
    * flat-literal argmin (only √k expressions now), then (b) argmins
    * over just the fine centers owned by those cells via a broadcast
    * join + per-id struct-min. Distances and the centroid cosine use
    * the identical fold arithmetic as [[assign]], so with
    * `nProbe = nCells` (the default when both are 0 … i.e. an
    * exhaustive probe) the result is BIT-IDENTICAL to the flat face
    * — SemDedupSpec pins it — while the expression tree stays O(√k).
    * With `nProbe < nCells` assignment is the standard IVF
    * approximation: a row near a cell boundary may assign to the
    * best center of a probed cell rather than the global argmin —
    * the recall/cost knob that makes 10⁸-doc corpora (k ~ 10⁴–10⁵
    * centers) affordable: candidate work per row drops from k to
    * ~nProbe·k/nCells.
    *
    * Contract: `idCol` must be unique (exact dedup is upstream's
    * job). The routed argmin groups by id, so this is ENFORCED, not
    * assumed (ADVICE r14): a duplicate id carrying differing vectors
    * raises at action time — the guard rides the argmin's own
    * aggregation (min/max vector hash), costing no extra corpus
    * pass. Duplicate ids with byte-identical vectors dedup to one
    * output row (deterministically); the flat face instead preserves
    * duplicate rows — the one documented divergence between the two
    * faces, inherited by every auto-dispatching caller
    * (semDedupPairs / screenPairs / assign*-family) once k crosses
    * [[FlatAssignMaxCenters]]. Returns (idCol, cluster,
    * centroid_cosine) — the [[assignmentIndex]] shape; vectors stay
    * in the caller's frame.
    *
    * Engine shape at 100 TB: one corpus pass (coarse probe is
    * row-local), one broadcast of the k-row center table
    * (k·dim·8 B — 10 MB at k = 2·10⁴, dim = 64), one corpus-linear
    * shuffle for the per-id argmin. No center ever rides a shuffle
    * row; no corpus vector is ever collected. */
  def assignRouted(df: DataFrame, idCol: String, vecCol: String,
                   centers: Seq[Seq[Double]],
                   nProbe: Int = 0, nCells: Int = 0): DataFrame =
    routedCore(df.select(col(idCol).as("id"), col(vecCol).as("__rv")),
        "__rv", centers, nProbe, nCells)
      .select(col("id").as(idCol), col("cluster"), col("centroid_cosine"))

  /** Internal dispatch shared by every id-carrying face: flat literal
    * argmin while it is the cheapest correct plan (exact requested,
    * k within [[FlatAssignMaxCenters]]), IVF-routed otherwise —
    * exhaustive (exact) when nProbe/nCells are 0, approximate when a
    * caller sets them. Returns (idName, vecName, cluster,
    * centroid_cosine) either way. */
  private[graft] def assignWithVec(rows: DataFrame, idName: String,
                            vecName: String, centers: Seq[Seq[Double]],
                            nProbe: Int, nCells: Int): DataFrame =
    if (nProbe == 0 && nCells == 0 &&
        centers.length <= FlatAssignMaxCenters)
      assign(rows, vecName, centers)
        .select(col(idName), col(vecName), col("cluster"),
          col("centroid_cosine"))
    else
      routedCore(rows.select(col(idName).as("id"),
          col(vecName).as("__rv")), "__rv", centers, nProbe, nCells)
        .select(col("id").as(idName), col("__rv").as(vecName),
          col("cluster"), col("centroid_cosine"))

  /** Per-cluster member counts — the audit surface for the
    * `maxClusterSize` refusal (a cluster above the cap generates no
    * candidates; this is where that shows). Dispatches to the routed
    * face past [[FlatAssignMaxCenters]] (ids are synthesized — a
    * count audit needs none from the caller). */
  def clusterSizes(df: DataFrame, vecCol: String,
                   centers: Seq[Seq[Double]],
                   nProbe: Int = 0, nCells: Int = 0): DataFrame =
    if (nProbe == 0 && nCells == 0 &&
        centers.length <= FlatAssignMaxCenters)
      assign(df, vecCol, centers)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    else
      routedCore(df.select(monotonically_increasing_id().as("id"),
          col(vecCol).as("__rv")), "__rv", centers, nProbe, nCells)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))

  /** Admitted-cluster member lists: (cluster, members) for clusters
    * whose COUNT is in [2, maxClusterSize], members =
    * array<struct(id, v, centroid_cosine)>. Count-first by
    * construction: the size guard runs on a per-cluster `count`
    * aggregate (output bounded by |centers| rows — it broadcasts) and
    * over-cap clusters are semi-joined OUT before any `collect_list`
    * runs, so a degenerate center that attracts a corpus-sized
    * cluster is refused by its count and never buffers its member
    * array in an aggregation task (the filter-after-collect shape
    * would build the array first and drop it after — cap'd pair
    * explosion but unbounded executor memory). SemDedupSpec pins the
    * plan shape: the collect_list aggregate sits ABOVE the semi
    * join. */
  private[graft] def candidateBuckets(asg: DataFrame,
                                      maxClusterSize: Int): DataFrame = {
    val ok = asg.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxClusterSize))
      .select(col("cluster"))
    asg.join(broadcast(ok), Seq("cluster"), "left_semi")
      .groupBy(col("cluster"))
      .agg(collect_list(struct(col("id"), col("v"),
        col("centroid_cosine"))).as("members"))
  }

  /** Within-cluster near-dup pairs: (id_a, id_b, cluster, cosine,
    * cent_cos_a, cent_cos_b) with id_a < id_b and cosine >=
    * `minCosine`. Each admitted cluster's members are collected once
    * (size guard [2, maxClusterSize], count-first — see
    * [[candidateBuckets]]) and verified in the task that holds them
    * ([[graft.expressions.VectorExpressions.ClusterPairs]]). Both
    * ends of every pair are rows of ONE cluster — also when an id
    * occurs in several clusters, which the id-keyed join-back this
    * replaced leaked across (recall stays 0 across a boundary, as
    * documented). EAGER: the assignment is cached so the count-first
    * aggregate and the member collect read one argmin pass (measured
    * in the `curate` benchmark: assigning twice cost more than the
    * two barrier jobs), and the pair set — small next to the corpus —
    * is checkpointed before the cache is released. */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                    centers: Seq[Seq[Double]], minCosine: Double,
                    maxClusterSize: Int = 10000,
                    nProbe: Int = 0, nCells: Int = 0): DataFrame = {
    requireCenters(centers)
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1, 1], got $minCosine")
    require(maxClusterSize >= 2,
      s"maxClusterSize must be >= 2, got $maxClusterSize")
    val asg = Partitioning.spread(
      assignWithVec(df.select(col(idCol).as("id"), col(vecCol).as("v")),
        "id", "v", centers, nProbe, nCells)).cache()
    val pairs = candidateBuckets(asg, maxClusterSize)
      .select(col("cluster"), explode(
        graft.expressions.VectorExpressions.clusterPairs(col("members"),
          minCosine)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("cluster"),
        col("p.cosine"), col("p.cent_cos_a"), col("p.cent_cos_b"))
    Dedup.materializeAndRelease(pairs, asg)
  }

  /** Rows that SURVIVE semantic dedup: a row is dropped iff some
    * same-cluster neighbor at cosine >= `minCosine` outranks it
    * under the keep policy. Dominance (an EXISTS anti-join), not
    * connected components: for every dup group the unique
    * policy-best member always survives, and the rule is
    * SQL-replayable without a fixpoint. CC-style transitive grouping
    * is [[Dedup.connectedComponents]] over [[semDedupPairs]] when a
    * caller wants it. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centers: Seq[Seq[Double]], minCosine: Double,
               maxClusterSize: Int = 10000,
               keep: String = "min_id",
               nProbe: Int = 0, nCells: Int = 0): DataFrame = {
    // validate the policy BEFORE the eager pair pipeline runs — a
    // typo'd keep must not cost a full corpus pass first
    require(keep == "min_id" || keep == "centroid",
      s"keep must be min_id or centroid, got $keep")
    survivors(df, idCol, semDedupPairs(df, idCol, vecCol, centers,
      minCosine, maxClusterSize, nProbe, nCells), keep)
  }

  /** The keep rule of [[semDedup]]: `df` minus every id that loses a
    * pair of `pairs` under `keep`. */
  private[graft] def survivors(df: DataFrame, idCol: String,
                               pairs: DataFrame, keep: String): DataFrame = {
    val losers = (keep match {
      case "min_id" =>
        // pairs carry id_a < id_b, so the loser is id_b
        pairs.select(col("id_b").as("__loser"))
      case "centroid" =>
        // paper rule: LOWER centroid cosine survives (keep the edge
        // example); ties break to the lower id
        pairs.select(
          when(col("cent_cos_a") < col("cent_cos_b") ||
            (col("cent_cos_a") === col("cent_cos_b") &&
              col("id_a") < col("id_b")), col("id_b"))
            .otherwise(col("id_a")).as("__loser"))
    }).distinct()
    // loser set is bounded by the pair set — small next to the
    // corpus, and AQE broadcasts it when it is
    df.join(losers, df(idCol) === losers("__loser"), "left_anti")
  }

  /** Provision centers by the paper's k ∝ n rule (Abbas 2023 §3:
    * cluster count scales with the corpus so per-cluster population
    * — and therefore the n_c² verify work — stays FLAT as the corpus
    * grows; ScaleSmoke's `sem` section measures exactly this:
    * fixed-k walls grow ~quadratically, scaled-k stays ~linear).
    *
    * k = clamp(⌈n / targetClusterSize⌉, 1, maxCenters); the fit is
    * the bounded-sample Lloyd recipe shared with the IVF quantizer
    * ([[Similarity.fitIvfQuantizer]] — random init, 10 rounds,
    * ≤ fitCap sample rows, never a full-corpus iteration). Centers
    * within [[FlatAssignMaxCenters]] ride [[assign]]'s codegen
    * literal path; past it every id-carrying face dispatches to the
    * IVF-routed argmin ([[assignRouted]]) automatically, so since
    * r14 `maxCenters` no longer clamps at the flat ceiling — its
    * default (65536, k ∝ n through ~3·10⁸ docs at the default
    * target) bounds the FIT cost instead: spark.ml Lloyd is
    * O(k · sample · dim) per round, and k can never exceed the fit
    * sample anyway (the require below). Raise `targetClusterSize`
    * before raising `maxCenters` past that — per-cluster verify work
    * is quadratic in the target, linear in k.
    *
    * At 100 TB pass `fitFraction ≈ fitCap / n` so the sample is
    * uniform rather than a prefix (the quantizer-fit discipline).
    *
    * Fit-cost sizing at 10⁸-doc scale (r15, measured in ScaleSmoke
    * `semf` — the curve is in BENCH_NOTES): Lloyd is
    * O(k · sample · dim · rounds), ~linear in k at fixed sample
    * (measured 29.5 s at k = 16384 over a 20k-row dim-64 sample on
    * 32 threads; extrapolated ~10 min single-node at the k = 65536 /
    * fitCap = 1e5 ceiling). The sample must satisfy k ≤ sample (the
    * require below), so at the default ceiling fitCap must stay
    * ≥ 65536 — and raising fitCap beyond ~2·k buys representation,
    * not speed. The fit is ONE-TIME per corpus snapshot: persist the
    * result with [[saveCenters]] and amortize it across every
    * dedup/screen cycle (the q228 pattern); never re-fit per batch. */
  def fitCenters(df: DataFrame, vecCol: String,
                 targetClusterSize: Long = 5000L,
                 maxCenters: Int = 65536, seed: Long = 42L,
                 fitFraction: Double = 1.0,
                 fitCap: Int = 100000): Seq[Seq[Double]] = {
    require(targetClusterSize >= 1,
      s"targetClusterSize must be >= 1, got $targetClusterSize")
    require(maxCenters >= 1,
      s"maxCenters must be >= 1, got $maxCenters")
    // column-pruned count — parquet answers from footer metadata
    val n = df.count()
    require(n > 0, "fitCenters: input has no rows")
    val k = math.max(1L, math.min(maxCenters.toLong,
      (n + targetClusterSize - 1) / targetClusterSize)).toInt
    // guard against the SAMPLE, not just the cap: with fitFraction
    // < 1 the Bernoulli sample is ~n*fitFraction rows, and Lloyd
    // with fewer sample rows than k returns degenerate centers
    // silently (review r13). The expectation is a lower bound up to
    // sampling variance — callers near the boundary should raise
    // fitFraction rather than rely on luck.
    val expectedSample = math.min(fitCap.toLong,
      (n * fitFraction).toLong)
    require(k <= expectedSample,
      s"k=$k centers exceed the expected fit sample " +
        s"($expectedSample rows = min(fitCap=$fitCap, n=$n x " +
        s"fitFraction=$fitFraction)) — raise fitCap/fitFraction or " +
        "targetClusterSize (Lloyd needs >= k sample rows)")
    Similarity.fitIvfQuantizer(df, vecCol, nCentroids = k,
        seed = seed, fitFraction = fitFraction, fitCap = fitCap)
      .clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /** Center-table FORMAT version stamped as `__fmt` into every
    * persisted row (the PQ-codebook / DSIR-model discipline): the
    * center ORDER is part of the model — argmin ties break to the
    * lowest index — so a reordered or truncated file assigns
    * differently, silently. v1 = (idx, center) rows, idx 0..k-1. */
  private[graft] val CentersFormat = 1

  /** Persist fitted centers: k rows of (idx, center) with `__fmt` +
    * (k, dim) stamped constant on every row (free under parquet RLE,
    * validated on load). Centers are driver-state by nature (they
    * ride [[assign]]'s literal path); persisting them is what makes
    * the fit a ONE-TIME cost across dedup/screen cycles — the q226
    * DSIR precedent in center space. */
  def saveCenters(spark: org.apache.spark.sql.SparkSession,
                  centers: Seq[Seq[Double]], path: String): Unit = {
    requireCenters(centers)
    spark.createDataFrame(centers.zipWithIndex.map {
        case (c, i) => (i, c) })
      .toDF("idx", "center")
      .withColumn("__fmt", lit(CentersFormat))
      .withColumn("__k", lit(centers.length))
      .withColumn("__dim", lit(centers.head.length))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load centers persisted by [[saveCenters]], refusing format
    * drift, foreign files, non-constant stamps, and gaps in the
    * 0..k-1 index population — a silently reordered center table
    * would re-cluster the corpus differently on every tie. */
  def loadCenters(spark: org.apache.spark.sql.SparkSession,
                  path: String): Seq[Seq[Double]] = {
    val df = spark.read.parquet(path)
    val need = Seq("idx", "center", "__fmt", "__k", "__dim")
    val missing = need.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"not a SemDedup centers file: missing columns $missing — " +
        s"rebuild with SemDedup.saveCenters (format v$CentersFormat)")
    val rows = df.select(col("idx").cast("int"),
        col("center").cast("array<double>"),
        col("__fmt"), col("__k"), col("__dim")).collect()
    require(rows.nonEmpty, "SemDedup centers file is empty")
    val fmts = rows.map(_.getInt(2)).distinct
    require(fmts.sameElements(Array(CentersFormat)),
      s"SemDedup centers format ${fmts.mkString(",")} does not match " +
        s"this library's v$CentersFormat — refit and save again (an " +
        "incompatible layout would assign WRONG, not just miss)")
    val (k, dim) = (rows.map(_.getInt(3)).distinct,
      rows.map(_.getInt(4)).distinct) match {
      case (Array(kk), Array(dd)) => (kk, dd)
      case other => sys.error(s"centers stamps not constant: $other")
    }
    require(rows.length == k,
      s"centers file has ${rows.length} rows, expected k=$k — " +
        "truncated write? rebuild with SemDedup.saveCenters")
    val byIdx = rows.map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .toMap
    require(byIdx.keySet == (0 until k).toSet,
      s"centers idx population is not 0..${k - 1} — the order IS the " +
        "model (argmin ties); rebuild with SemDedup.saveCenters")
    val out = (0 until k).map(byIdx)
    require(out.forall(_.length == dim),
      s"centers carry mixed dimensions, expected $dim")
    out
  }

  /** Deterministic digest of a center table — the identity of a
    * semantic model for stamp validation (an assignment index built
    * under DIFFERENT centers screens silently wrong, not slow). */
  private[graft] def centersDigest(centers: Seq[Seq[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = centers.map(_.mkString(",")).mkString(";")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** Assignment-index format version (`__fmt`), bumped with any
    * change to the row layout or the digest recipe. */
  private[graft] val AssignIndexFormat = 1

  /** Persisted-index face of [[assign]]: one (id, cluster) row per
    * corpus row, stamped with `__fmt` + (k, dim, centers digest) —
    * the admission loop's semantic index. Ids-only (vectors stay in
    * the corpus), so the index is the cheapest possible corpus-
    * proportional artifact and the per-batch screen never re-assigns
    * the standing corpus. */
  def assignmentIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      centers: Seq[Seq[Double]],
                      nProbe: Int = 0, nCells: Int = 0): DataFrame = {
    requireCenters(centers)
    assignWithVec(corpus.select(col(idCol).as("id"),
        col(vecCol).as("__v")), "id", "__v", centers, nProbe, nCells)
      .select(col("id"), col("cluster"))
      .withColumn("__fmt", lit(AssignIndexFormat))
      .withColumn("__k", lit(centers.length))
      .withColumn("__dim", lit(centers.head.length))
      .withColumn("__digest", lit(centersDigest(centers)))
  }

  /** Validate an assignment index's stamps against the centers a
    * caller is about to screen with — EVERY distinct stamp tuple is
    * checked (the Dedup.validateIndexParams discipline: a head-row
    * read would pass an index accidentally assembled from two
    * different center tables, the exact silently-wrong case this
    * guard exists to refuse), and an EMPTY index passes (zero
    * distinct tuples — the legitimate empty-corpus bootstrap; the
    * screen then finds no candidates and everything admits). */
  private def validateAssignmentIndex(index: DataFrame,
                                      centers: Seq[Seq[Double]]): Unit = {
    val need = Seq("id", "cluster", "__fmt", "__k", "__dim", "__digest")
    val missing = need.filterNot(index.columns.contains)
    require(missing.isEmpty,
      s"not a SemDedup assignment index: missing columns $missing — " +
        s"rebuild with SemDedup.assignmentIndex (v$AssignIndexFormat)")
    // the one stamp tuple (distinct over RLE-constant columns, one
    // cheap aggregate; memoized per file set — throws on mixed builds)
    Dedup.indexParamTuple(index, "SemDedup assignment index")
        .foreach { h =>
      require(h("__fmt") == AssignIndexFormat,
        s"assignment index format ${h("__fmt")} does not match this " +
          s"library's v$AssignIndexFormat — rebuild (an incompatible " +
          "layout would screen WRONG, not just miss)")
      require(h("__k") == centers.length &&
        h("__dim") == centers.head.length &&
        h("__digest") == centersDigest(centers),
        s"assignment index was built under a DIFFERENT center table " +
          s"(k=${h("__k")}, dim=${h("__dim")}, digest=" +
          s"${h("__digest").toString.take(8)}…) than the caller's " +
          s"(k=${centers.length}, dim=${centers.head.length}, digest=" +
          s"${centersDigest(centers).take(8)}…) — screening would be " +
          "silently wrong; rebuild the index or load the matching " +
          "centers")
    }
  }

  /** Fold newly admitted rows into an assignment index: assign the
    * batch (one codegen pass — batch-bounded, the corpus is never
    * re-assigned) and append under the validated stamps. */
  def assignmentIndexUpdate(index: DataFrame, admitted: DataFrame,
                            idCol: String, vecCol: String,
                            centers: Seq[Seq[Double]],
                            nProbe: Int = 0, nCells: Int = 0): DataFrame = {
    validateAssignmentIndex(index, centers)
    index.unionByName(assignmentIndex(admitted, idCol, vecCol, centers,
      nProbe, nCells))
  }

  private def requireScreenParams(centers: Seq[Seq[Double]],
                                  minCosine: Double,
                                  maxClusterSize: Int): Unit = {
    requireCenters(centers)
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1, 1], got $minCosine")
    require(maxClusterSize >= 1,
      s"maxClusterSize must be >= 1, got $maxClusterSize")
  }

  /** Shared screen pipeline for [[screenPairs]] /
    * [[screenPairsIndexed]] (review r13: keeping the two faces on
    * one core means a threshold/cap/join fix cannot silently miss
    * one of them): `ca` supplies the corpus-side (id_corpus,
    * cluster) — from a live [[assign]] or a persisted index — and
    * `vecs` the (id_corpus, __vc) vectors. Count-first cap on the
    * corpus clusters, batch assigned + broadcast, cosine verified. */
  private def screenCore(ca: DataFrame, vecs: DataFrame,
                         batch: DataFrame, idCol: String,
                         vecCol: String, centers: Seq[Seq[Double]],
                         minCosine: Double, maxClusterSize: Int,
                         nProbe: Int, nCells: Int): DataFrame = {
    val ok = ca.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxClusterSize).select(col("cluster"))
    val ba = assignWithVec(batch.select(col(idCol).as("id_new"),
        col(vecCol).as("__vb")), "id_new", "__vb", centers,
        nProbe, nCells)
      .select(col("id_new"), col("__vb"), col("cluster"))
    ca.join(broadcast(ok), Seq("cluster"), "left_semi")
      .join(broadcast(ba), Seq("cluster"))
      .join(vecs, Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"), col("cluster"),
        VectorFunctions.cosine(col("__vb").cast("array<double>"),
          col("__vc").cast("array<double>")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** [[screenPairs]] against a PERSISTED assignment index (the
    * admission-loop face): the corpus side's cluster comes from the
    * index (ids-only — the standing corpus is never re-assigned),
    * vectors join back from the corpus frame by id, and the batch
    * assigns + broadcasts exactly as in [[screenPairs]]. Stamps are
    * validated against `centers` first (every distinct tuple; an
    * empty index passes — the bootstrap). The index is read twice
    * (cluster-count cap + the candidate join) — ids-only, the
    * cheapest artifact in the family, deliberately not cached. */
  def screenPairsIndexed(batch: DataFrame, corpus: DataFrame,
                         index: DataFrame, idCol: String,
                         vecCol: String, centers: Seq[Seq[Double]],
                         minCosine: Double,
                         maxClusterSize: Int = 10000,
                         nProbe: Int = 0, nCells: Int = 0): DataFrame = {
    requireScreenParams(centers, minCosine, maxClusterSize)
    validateAssignmentIndex(index, centers)
    screenCore(index.select(col("id").as("id_corpus"), col("cluster")),
      corpus.select(col(idCol).as("id_corpus"), col(vecCol).as("__vc")),
      batch, idCol, vecCol, centers, minCosine, maxClusterSize,
      nProbe, nCells)
  }

  /** Incremental SCREEN face (the q115/q118 discipline in cluster
    * space): which BATCH rows near-dup the standing corpus? Returns
    * (id_new, id_corpus, cluster, cosine) with cosine >= `minCosine`
    * and both ends in the same cluster — the blocking structure is
    * the fixed center partition, so recall is exactly semDedup's
    * (1 within a cluster, 0 across the boundary — the paper's trade,
    * auditable, deterministic).
    *
    * Engine shape: both sides assign in one shuffle-free codegen
    * pass each; the BATCH side is broadcast (a batch is small by
    * contract — the admission screens' standing assumption) and the
    * corpus is read ONCE with no self-join and no shuffle: candidate
    * work is a broadcast hash join on `cluster` + the codegen'd
    * cosine filter. Corpus clusters above `maxClusterSize` are
    * refused count-first (no array ever materializes — they don't
    * here anyway, but the refusal keeps the semDedupPairs contract:
    * an over-cap cluster contributes NO candidates and the gap is
    * visible in [[clusterSizes]], never silent). */
  def screenPairs(corpus: DataFrame, batch: DataFrame, idCol: String,
                  vecCol: String, centers: Seq[Seq[Double]],
                  minCosine: Double,
                  maxClusterSize: Int = 10000,
                  nProbe: Int = 0, nCells: Int = 0): DataFrame = {
    requireScreenParams(centers, minCosine, maxClusterSize)
    // assign + CACHE the corpus once: the cluster-count cap and the
    // candidate join both read the cached assignment — without it
    // the corpus would scan (and argmin) twice per screen (review
    // r13), the dominant cost at admission scale. EAGER like
    // semDedupPairs: the result is pair-set-sized and the cache is
    // released before returning.
    val asg = Partitioning.spread(
      assignWithVec(corpus.select(col(idCol).as("id_corpus"),
          col(vecCol).as("__vc")), "id_corpus", "__vc", centers,
          nProbe, nCells)
        .select(col("id_corpus"), col("__vc"), col("cluster"))).cache()
    val out = screenCore(asg.select(col("id_corpus"), col("cluster")),
      asg.select(col("id_corpus"), col("__vc")),
      batch, idCol, vecCol, centers, minCosine, maxClusterSize,
      nProbe, nCells)
    Dedup.materializeAndRelease(out, asg)
  }
}
