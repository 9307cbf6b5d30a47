package graft

import graft.operators.{CurationHof, SemDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkTestBase {
  import spark.implicits._

  // two well-separated center directions in R^3 plus a far third
  private val centers = Seq(
    Seq(1.0, 0.0, 0.0),
    Seq(0.0, 1.0, 0.0),
    Seq(0.0, 0.0, 1.0))

  private def vec(xs: Double*) = xs.toArray

  test("assign: argmin squared-L2, ties to the lowest center index") {
    val df = Seq(
      (1L, vec(0.9, 0.1, 0.0)),   // nearest center 0
      (2L, vec(0.0, 1.1, 0.1)),   // nearest center 1
      (3L, vec(0.1, 0.0, 0.8)),   // nearest center 2
      (4L, vec(0.5, 0.5, 0.0))    // exactly equidistant to 0 and 1 -> 0
    ).toDF("id", "v")
    val got = SemDedup.assign(df, "v", centers)
      .select($"id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 0))
  }

  test("assign: centroid_cosine is cosine to the OWN cluster center") {
    val df = Seq((1L, vec(1.0, 1.0, 0.0))).toDF("id", "v") // cluster 0 tie->0
    val row = SemDedup.assign(df, "v", centers).select($"centroid_cosine")
      .head()
    assert(math.abs(row.getDouble(0) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("pairs: within-cluster near-dups found, cross-cluster blocked") {
    val df = Seq(
      (1L, vec(1.0, 0.05, 0.0)),  // cluster 0
      (2L, vec(1.0, 0.06, 0.0)),  // cluster 0, ~dup of 1
      (3L, vec(0.05, 1.0, 0.0)),  // cluster 1
      (4L, vec(0.06, 1.0, 0.0)),  // cluster 1, ~dup of 3
      // near-dup PAIR that straddles the 0/1 boundary: blocked by
      // design (the partition trade the scaladoc documents)
      (5L, vec(0.51, 0.49, 0.0)), // cluster 0
      (6L, vec(0.49, 0.51, 0.0))  // cluster 1
    ).toDF("id", "v")
    val pairs = SemDedup.semDedupPairs(df, "id", "v", centers,
      minCosine = 0.99)
    val got = pairs.select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 4L)))
    // and the verified cosine is the real cosine, not an LSH estimate
    val c = pairs.filter($"id_a" === 1L).select($"cosine").head().getDouble(0)
    val exact = (1.0 + 0.05 * 0.06) /
      (math.sqrt(1 + 0.05 * 0.05) * math.sqrt(1 + 0.06 * 0.06))
    assert(math.abs(c - exact) < 1e-12)
  }

  test("maxClusterSize: an oversized cluster contributes no candidates") {
    val crowd = (1L to 20L).map(i => (i, vec(1.0, i * 1e-4, 0.0)))
    val df = (crowd :+ ((21L, vec(0.0, 1.0, 0.0)))).toDF("id", "v")
    val capped = SemDedup.semDedupPairs(df, "id", "v", centers,
      minCosine = 0.9, maxClusterSize = 10)
    assert(capped.count() == 0)
    val uncapped = SemDedup.semDedupPairs(df, "id", "v", centers,
      minCosine = 0.9, maxClusterSize = 1000)
    assert(uncapped.count() == 20L * 19L / 2)
  }

  test("semDedup min_id: the lowest id of every dup group survives") {
    val df = Seq(
      (10L, vec(1.0, 0.00, 0.0)),
      (11L, vec(1.0, 0.01, 0.0)),  // dup of 10
      (12L, vec(1.0, 0.02, 0.0)),  // dup of 10 and 11 (triangle)
      (20L, vec(0.0, 1.0, 0.0))    // lone
    ).toDF("id", "v")
    val kept = SemDedup.semDedup(df, "id", "v", centers, minCosine = 0.99)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L))
  }

  test("semDedup centroid: the member FARTHER from the centroid survives") {
    // both in cluster 0; id 31 is closer to the centroid than id 30,
    // so the paper rule keeps 30 (the edge example) while min_id
    // would keep 30 too — flip ids to separate the policies
    val df = Seq(
      (30L, vec(1.0, 0.0, 0.0)),   // ON the centroid direction
      (31L, vec(1.0, 0.2, 0.0))    // farther out, near-dup of 30
    ).toDF("id", "v")
    val keptCentroid = SemDedup.semDedup(df, "id", "v", centers,
      minCosine = 0.98, keep = "centroid")
      .select($"id").as[Long].collect().toSet
    assert(keptCentroid == Set(31L)) // lower centroid cosine survives
    val keptMinId = SemDedup.semDedup(df, "id", "v", centers,
      minCosine = 0.98, keep = "min_id")
      .select($"id").as[Long].collect().toSet
    assert(keptMinId == Set(30L))
  }

  test("duplicated ids never self-pair: the group dedups against " +
    "OTHERS, not itself") {
    // two rows share id 40 (copies of one vector); a third row is a
    // distinct near-dup. The id-40 group must not vanish by losing
    // to itself; it loses only where a DIFFERENT id outranks it.
    val df = Seq(
      (40L, vec(1.0, 0.01, 0.0)),
      (40L, vec(1.0, 0.01, 0.0)),   // exact copy, same id
      (41L, vec(1.0, 0.02, 0.0))    // near-dup, higher id -> loser
    ).toDF("id", "v")
    val pairs = SemDedup.semDedupPairs(df, "id", "v", centers, 0.99)
    assert(pairs.filter($"id_a" === $"id_b").count() == 0)
    val kept = SemDedup.semDedup(df, "id", "v", centers, 0.99)
      .select($"id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(40L, 40L)) // both id-40 rows survive; 41 drops
  }

  test("count-first: the collect_list aggregate sits ABOVE the " +
    "cluster-size semi join (over-cap clusters never materialize " +
    "their id arrays)") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    val df = Seq((1L, vec(1.0, 0.0, 0.0)), (2L, vec(1.0, 0.1, 0.0)))
      .toDF("id", "v")
    val asg = SemDedup.assign(
      df.select($"id", $"v".as("v")), "v", centers)
    val plan = SemDedup.candidateBuckets(asg, 10)
      .queryExecution.optimizedPlan
    val collectAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(
        _.collectFirst { case _: CollectList => () }.nonEmpty) => a
    }
    assert(collectAggs.nonEmpty, "no collect_list aggregate in plan")
    collectAggs.foreach { a =>
      val semiBelow = a.child.collectFirst {
        case j: Join if j.joinType == LeftSemi => j }
      assert(semiBelow.nonEmpty,
        "collect_list aggregate is not guarded by the count-first " +
          s"semi join — over-cap clusters would materialize:\n$plan")
    }
  }

  test("fitCenters: k ∝ n under targetClusterSize, clamped to " +
    "maxCenters, and fitted centers drive an end-to-end dedup") {
    // 40 near-identical rows in 4 loose groups around orthogonal axes
    val rows = (0 until 40).map { i =>
      val axis = i % 4
      val base = Array(0.0, 0.0, 0.0, 0.0)
      base(axis) = 1.0
      base((axis + 1) % 4) = 0.001 * (i / 4) // tiny within-group spread
      (i.toLong, base)
    }
    val df = rows.toDF("id", "v")
    val c10 = SemDedup.fitCenters(df, "v", targetClusterSize = 10L)
    assert(c10.length == 4) // ceil(40/10)
    val c7 = SemDedup.fitCenters(df, "v", targetClusterSize = 7L)
    assert(c7.length == 6) // ceil(40/7)
    val clamped = SemDedup.fitCenters(df, "v", targetClusterSize = 1L,
      maxCenters = 5)
    assert(clamped.length == 5)
    assert(c10.forall(_.length == 4)) // centers carry the data dim
    // fitted centers (k=4 ≈ the true group count) behave as dedup
    // blocking: each group collapses to one survivor
    val kept = SemDedup.semDedup(df, "id", "v", c10, minCosine = 0.999)
    assert(kept.count() >= 4 && kept.count() < 40)
    // determinism: same (corpus, params) -> same centers
    val again = SemDedup.fitCenters(df, "v", targetClusterSize = 10L)
    assert(again == c10)
    intercept[IllegalArgumentException] {
      SemDedup.fitCenters(df, "v", targetClusterSize = 0L)
    }
    intercept[IllegalArgumentException] {
      // k=40 centers but only 20 sample rows allowed
      SemDedup.fitCenters(df, "v", targetClusterSize = 1L,
        maxCenters = 4096, fitCap = 20)
    }
  }

  test("saveCenters/loadCenters: round-trip identity, order " +
    "preserved, stamp-validated refusals") {
    import graft.operators.SemDedup
    val base = java.nio.file.Files
      .createTempDirectory("graft_sem_centers").toString
    SemDedup.saveCenters(spark, centers, s"$base/ok")
    val loaded = SemDedup.loadCenters(spark, s"$base/ok")
    assert(loaded == centers) // exact values, exact ORDER
    // assignment from the loaded centers is bit-identical
    val df = Seq((1L, vec(0.9, 0.1, 0.0)), (4L, vec(0.5, 0.5, 0.0)))
      .toDF("id", "v")
    val a = SemDedup.assign(df, "v", centers)
      .select($"id", $"cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = SemDedup.assign(df, "v", loaded)
      .select($"id", $"cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a == b)
    // foreign parquet refused
    Seq((1, 2.0)).toDF("x", "y").write.parquet(s"$base/foreign")
    val e = intercept[IllegalArgumentException] {
      SemDedup.loadCenters(spark, s"$base/foreign")
    }
    assert(e.getMessage.contains("not a SemDedup centers file"))
    // a gap in the idx population is refused (order IS the model)
    spark.read.parquet(s"$base/ok").filter($"idx" =!= 1)
      .write.parquet(s"$base/gap")
    val e2 = intercept[IllegalArgumentException] {
      SemDedup.loadCenters(spark, s"$base/gap")
    }
    assert(e2.getMessage.contains("rows, expected k="))
  }

  test("screenPairs: batch near-dups of the corpus found within " +
    "clusters, blocked across, over-cap corpus clusters refused") {
    import graft.operators.SemDedup
    val corpus = Seq(
      (1L, vec(1.0, 0.05, 0.0)),  // cluster 0
      (2L, vec(0.05, 1.0, 0.0)),  // cluster 1
      (3L, vec(0.0, 0.04, 1.0))   // cluster 2
    ).toDF("id", "v")
    val batch = Seq(
      (100L, vec(1.0, 0.06, 0.0)), // ~dup of 1, same cluster
      (101L, vec(0.49, 0.51, 0.0)),// near 1 but lands cluster 1 -> blocked
      (102L, vec(0.0, 1.0, 0.05))  // cluster 1, near-dup of 2
    ).toDF("id", "v")
    val got = SemDedup.screenPairs(corpus, batch, "id", "v", centers,
        minCosine = 0.98)
      .select($"id_new", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 1L), (102L, 2L)))
    // over-cap corpus cluster contributes NO candidates
    val crowd = (1L to 20L).map(i => (i, vec(1.0, i * 1e-4, 0.0)))
      .toDF("id", "v")
    val probe = Seq((200L, vec(1.0, 0.001, 0.0))).toDF("id", "v")
    assert(SemDedup.screenPairs(crowd, probe, "id", "v", centers,
      0.9, maxClusterSize = 10).count() == 0)
    assert(SemDedup.screenPairs(crowd, probe, "id", "v", centers,
      0.9, maxClusterSize = 100).count() == 20)
  }

  test("invalid keep policy throws BEFORE any job runs") {
    val df = Seq((1L, vec(1.0, 0.0, 0.0))).toDF("id", "v")
    val n = countJobs {
      intercept[IllegalArgumentException] {
        SemDedup.semDedup(df, "id", "v", centers, 0.9, keep = "best")
      }
    }
    assert(n == 0, s"expected zero jobs before the keep check, got $n")
  }

  test("parameter validation refuses bad inputs") {
    val df = Seq((1L, vec(1.0, 0.0, 0.0))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      SemDedup.assign(df, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      SemDedup.assign(df, "v", Seq(Seq(1.0), Seq(1.0, 2.0)))
    }
    intercept[IllegalArgumentException] {
      SemDedup.semDedupPairs(df, "id", "v", centers, minCosine = 1.5)
    }
    intercept[IllegalArgumentException] {
      SemDedup.semDedupPairs(df, "id", "v", centers, 0.9,
        maxClusterSize = 1)
    }
  }

  // ---- IVF-routed assignment (the r14 face past the flat ceiling) --

  /** mixed fixture: rows scattered across the three spec centers,
    * including the flat suite's tie row (equidistant to 0 and 1). */
  private def routedFixture = Seq(
    (1L, vec(0.9, 0.1, 0.0)),
    (2L, vec(0.0, 1.1, 0.1)),
    (3L, vec(0.1, 0.0, 0.8)),
    (4L, vec(0.5, 0.5, 0.0)),   // exact tie 0/1 -> must stay 0
    (5L, vec(0.33, 0.33, 0.34)),
    (6L, vec(-1.0, -1.0, -1.0)),
    (7L, vec(0.0, 0.0, 0.0))    // zero vector: d2 ties everywhere
  ).toDF("id", "v")

  test("assignRouted exhaustive == flat assign, bit-for-bit " +
    "(cluster AND centroid_cosine), at every nCells") {
    val df = routedFixture
    val flat = SemDedup.assign(df, "v", centers)
      .select($"id", $"cluster", $"centroid_cosine").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    for (nc <- Seq(0, 1, 2, 3)) {
      val routed = SemDedup.assignRouted(df, "id", "v", centers,
          nProbe = 0, nCells = nc)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      assert(routed == flat, s"nCells=$nc diverged from flat")
    }
  }

  test("assignRouted partial probe: exact on cell-separated data, " +
    "and nProbe trades recall exactly as documented") {
    // centers are near-orthogonal; with nCells = 3 each coarse cell
    // owns one fine center, so nProbe = 1 routes every clean row to
    // its true cluster
    val df = Seq(
      (1L, vec(0.9, 0.1, 0.0)),
      (2L, vec(0.0, 1.1, 0.1)),
      (3L, vec(0.1, 0.0, 0.8))).toDF("id", "v")
    val got = SemDedup.assignRouted(df, "id", "v", centers,
        nProbe = 1, nCells = 3)
      .select($"id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("dispatch past FlatAssignMaxCenters: semDedupPairs runs routed " +
    "and still finds exactly the planted dups") {
    // k = ceiling + 4 centers along a line — the flat literal face
    // would fold 4100 aggregate expressions into one plan; the
    // dispatch must hand this to the routed join instead
    val k = SemDedup.FlatAssignMaxCenters + 4
    val cents = Seq.tabulate(k)(i => Seq(i.toDouble, 0.0, 0.0, 0.0))
    val rows = Seq(
      (10L, vec(7.0, 0.001, 0.0, 0.0)),   // cluster 7, dup pair...
      (11L, vec(7.0, 0.0011, 0.0, 0.0)),  // ...with 10
      (20L, vec(2000.0, 1.0, 0.0, 0.0)),  // lone, cluster 2000
      (30L, vec(4099.0, 0.5, 0.0, 0.0))   // lone, last cluster
    ).toDF("id", "v")
    val pairs = SemDedup.semDedupPairs(rows, "id", "v", cents,
      minCosine = 0.999)
    val got = pairs.select($"id_a", $"id_b", $"cluster").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 11L)))
    assert(got.head.getInt(2) == 7)
    // and the survivor rule rides the routed assignment unchanged
    val kept = SemDedup.semDedup(rows, "id", "v", cents,
      minCosine = 0.999).select($"id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L, 30L))
  }

  test("screenPairs under explicit routing (exhaustive) equals the " +
    "flat screen; assignmentIndex dispatch round-trips the screen") {
    val corpus = Seq(
      (1L, vec(1.0, 0.05, 0.0)),
      (2L, vec(0.05, 1.0, 0.0)),
      (3L, vec(0.0, 0.06, 1.0))).toDF("id", "v")
    val batch = Seq(
      (10L, vec(1.0, 0.06, 0.0)),
      (11L, vec(0.0, 0.0, -1.0))).toDF("id", "v")
    val flat = SemDedup.screenPairs(corpus, batch, "id", "v", centers,
        minCosine = 0.99)
      .select($"id_new", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val routed = SemDedup.screenPairs(corpus, batch, "id", "v", centers,
        minCosine = 0.99, nProbe = 2, nCells = 2)
      .select($"id_new", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed == flat && flat == Set((10L, 1L)))
    // indexed face: an index built under routed dispatch screens
    // identically (same stamps — routing is not part of the model)
    val idx = SemDedup.assignmentIndex(corpus, "id", "v", centers,
      nProbe = 2, nCells = 2)
    val viaIdx = SemDedup.screenPairsIndexed(batch, corpus, idx, "id",
        "v", centers, minCosine = 0.99)
      .select($"id_new", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIdx == flat)
  }

  test("clusterSizes routed == flat; coarseRouting compacts empty " +
    "cells and refuses an over-ceiling nCells") {
    val df = routedFixture
    val flat = SemDedup.clusterSizes(df, "v", centers)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val routed = SemDedup.clusterSizes(df, "v", centers,
        nProbe = 3, nCells = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(routed == flat)
    // duplicate centers collapse their Lloyd cells; compaction must
    // leave only non-empty cells and in-range cellOf values
    val dup = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val (coarse, cellOf) = SemDedup.coarseRouting(dup, 3)
    assert(cellOf.forall(c => c >= 0 && c < coarse.length))
    assert(cellOf.toSet.size == coarse.length) // every cell non-empty
    // the coarse stage rides the flat fold, so nCells past the
    // ceiling is refused (nCells clamps to k, so k must exceed the
    // ceiling for the guard to be reachable at all)
    val big = SemDedup.FlatAssignMaxCenters + 2
    intercept[IllegalArgumentException] {
      SemDedup.assignRouted(routedFixture.limit(1), "id", "v",
        Seq.tabulate(big)(i => Seq(i.toDouble, 0.0, 0.0)),
        nCells = big)
    }
  }

  test("assignRouted duplicate-id guard (ADVICE r14): differing " +
    "vectors under one id raise; identical vectors dedup to one row") {
    // same id, DIFFERING vectors: the routed argmin groups by id, so
    // this would collapse nondeterministically — must raise instead
    val bad = Seq((1L, vec(0.9, 0.1, 0.0)), (1L, vec(0.0, 1.1, 0.1)),
      (2L, vec(0.1, 0.0, 0.8))).toDF("id", "v")
    val e = intercept[Exception] {
      SemDedup.assignRouted(bad, "id", "v", centers, nCells = 2).collect()
    }
    assert(e.getMessage != null && (
        e.getMessage.contains("duplicate id") ||
        Option(e.getCause).exists(_.getMessage.contains("duplicate id"))),
      s"wrong error: ${e.getMessage}")
    // the guard must survive column pruning (ADVICE r15): selecting
    // only (id, cluster) lets Catalyst prune centroid_cosine, so the
    // raise must also live in the cluster projection
    val e2 = intercept[Exception] {
      SemDedup.assignRouted(bad, "id", "v", centers, nCells = 2)
        .select("id", "cluster").collect()
    }
    assert(e2.getMessage != null && (
        e2.getMessage.contains("duplicate id") ||
        Option(e2.getCause).exists(_.getMessage.contains("duplicate id"))),
      s"pruned-column guard missing: ${e2.getMessage}")
    // same id, BYTE-IDENTICAL vectors: deterministic — dedups to one
    // row with the same assignment the flat face gives that row
    val dup = Seq((1L, vec(0.9, 0.1, 0.0)), (1L, vec(0.9, 0.1, 0.0)),
      (2L, vec(0.1, 0.0, 0.8))).toDF("id", "v")
    val got = SemDedup.assignRouted(dup, "id", "v", centers, nCells = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = SemDedup.assign(dup.dropDuplicates("id"), "v", centers)
      .select($"id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == flat && got.size == 2)
  }

  // ---- per-cluster verification kernel vs the join-back spec -------

  test("an id copied into two clusters never pairs across them " +
    "(the join-back leak): recall is 0 across the boundary") {
    // 50 sits in cluster 0 AND cluster 1; 51 sits in cluster 0 and is
    // a near-dup only of 50's cluster-1 copy
    val df = Seq(
      (50L, vec(1.0, 0.0, 0.0)),     // cluster 0
      (50L, vec(0.49, 0.51, 0.0)),   // cluster 1
      (51L, vec(0.51, 0.49, 0.0))    // cluster 0
    ).toDF("id", "v")
    assert(SemDedup.semDedupPairs(df, "id", "v", centers, 0.99)
      .count() == 0)
    val kept = SemDedup.semDedup(df, "id", "v", centers, 0.99)
      .select($"id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(50L, 50L, 51L))
    // the replaced id join-back paired 51 with the cluster-1 copy of
    // 50 and labelled the pair cluster 1, so 51 was dropped
    val leaked = CurationHof.semDedupPairsHof(df, "id", "v", centers, 0.99)
      .select($"id_a", $"id_b", $"cluster").as[(Long, Long, Int)]
      .collect().toSeq
    assert(leaked == Seq((50L, 51L, 1)))
  }

  /** dim-6 rows scattered around four of six axis centers, with a
    * planted near-copy for every fifth row (ids unique) */
  private lazy val kernelCenters: Seq[Seq[Double]] =
    Seq.tabulate(4)(c => Seq.tabulate(6)(j => if (j == c) 1.0 else 0.0))
  private lazy val kernelRows: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(11)
    val base = (0 until 80).map { i =>
      val v = Array.tabulate(6)(j =>
        (if (j == i % 4) 1.0 else 0.0) + 0.3 * rnd.nextGaussian())
      (i.toLong, v)
    }
    base ++ base.filter(_._1 % 5 == 0).map { case (i, v) =>
      (i + 1000L, v.map(_ + 0.01 * rnd.nextGaussian())) }
  }

  /** pair rows as a multiset with every double bit-exact */
  private def pairRows(p: DataFrame): Seq[(String, String, Int, Long, Long, Long)] =
    p.select($"id_a".cast("string"), $"id_b".cast("string"), $"cluster",
        $"cosine", $"cent_cos_a", $"cent_cos_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(5))))
      .toSeq.sorted

  test("semDedupPairs == join-back spec bit for bit: flat and routed, " +
    "a cosine exactly at minCosine, the maxClusterSize cap") {
    val df = kernelRows.toDF("id", "v")
    val all = pairRows(SemDedup.semDedupPairs(df, "id", "v",
      kernelCenters, minCosine = -1.0))
    assert(all.size > 500, s"fixture too sparse: ${all.size} pairs")
    assert(all == pairRows(CurationHof.semDedupPairsHof(df, "id", "v",
      kernelCenters, minCosine = -1.0)))
    // the threshold lands exactly on a real pair's cosine: it must
    // survive `>=` on both paths
    val atBits = all.map(_._4).sorted.apply(all.size / 2)
    val at = java.lang.Double.longBitsToDouble(atBits)
    for ((nProbe, nCells) <- Seq((0, 0), (0, 2), (1, 2))) {
      val got = pairRows(SemDedup.semDedupPairs(df, "id", "v",
        kernelCenters, at, nProbe = nProbe, nCells = nCells))
      assert(got.exists(_._4 == atBits), s"routing ($nProbe, $nCells)")
      assert(got == pairRows(CurationHof.semDedupPairsHof(df, "id", "v",
        kernelCenters, at, nProbe = nProbe, nCells = nCells)),
        s"routing ($nProbe, $nCells) diverged from the join-back spec")
    }
    // the cap refuses some clusters and admits others identically
    val sizes = SemDedup.clusterSizes(df, "v", kernelCenters)
      .collect().map(_.getLong(1).toInt).sorted
    val cap = sizes(1)
    val capped = pairRows(SemDedup.semDedupPairs(df, "id", "v",
      kernelCenters, 0.5, maxClusterSize = cap))
    assert(capped.nonEmpty && capped.map(_._3).distinct.size < 4)
    assert(capped == pairRows(CurationHof.semDedupPairsHof(df, "id", "v",
      kernelCenters, 0.5, maxClusterSize = cap)))
  }

  test("semDedupPairs == join-back spec for string ids over float " +
    "vectors, and for id copies inside one cluster") {
    val strDf = kernelRows.map { case (i, v) =>
      (f"d$i%05d", v.map(_.toFloat)) }.toDF("id", "v")
    assert(pairRows(SemDedup.semDedupPairs(strDf, "id", "v",
        kernelCenters, 0.8)) ==
      pairRows(CurationHof.semDedupPairsHof(strDf, "id", "v",
        kernelCenters, 0.8)))
    // copies of one id (identical and differing vectors) in the same
    // cluster: every copy pairs with every other id, never with itself
    val e0 = Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val dups = kernelRows ++ Seq(
      (3000L, e0), (3000L, e0),
      (3001L, e0.updated(1, 0.02)), (3001L, e0.updated(1, 0.03)),
      (3002L, e0.updated(2, 0.01)))
    val dupDf = dups.toDF("id", "v")
    val got = pairRows(SemDedup.semDedupPairs(dupDf, "id", "v",
      kernelCenters, 0.99))
    assert(got.count(p => p._1 == "3000" && p._2 == "3001") == 4)
    assert(!got.exists(p => p._1 == p._2))
    assert(got == pairRows(CurationHof.semDedupPairsHof(dupDf, "id", "v",
      kernelCenters, 0.99)))
  }

  test("semDedup survivors == join-back spec under both keep policies") {
    val df = kernelRows.toDF("id", "v")
    for (keep <- Seq("min_id", "centroid"); cos <- Seq(0.9, 0.99)) {
      val got = SemDedup.semDedup(df, "id", "v", kernelCenters, cos,
        keep = keep).select($"id").as[Long].collect().toSeq.sorted
      val want = CurationHof.semDedupHof(df, "id", "v", kernelCenters,
        cos, keep = keep).select($"id").as[Long].collect().toSeq.sorted
      assert(got == want, s"keep=$keep minCosine=$cos")
      assert(got.size < kernelRows.size, s"keep=$keep: nothing dropped")
    }
  }

  test("job pin: semDedup runs 9 jobs under default AQE") {
    val df = kernelRows.toDF("id", "v")
    val n = jobsDuring {
      SemDedup.semDedup(df, "id", "v", kernelCenters, 0.99).collect()
    }
    assert(n == 9, s"semDedup ran $n jobs")
  }
}
