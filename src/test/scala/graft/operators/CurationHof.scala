package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Column-math formulations of the curation fits and of SemDedup's
  * pair verification, kept in test sources as the semantic specs of
  * the group-bounded implementations that replaced them (the `*Hof`
  * discipline: the new path is a performance spelling, never a
  * semantics change — SemDedupSpec, DsirSpec and LangIdSpec pin it
  * bit for bit). Each is the distributed pipeline as it shipped:
  *  - [[semDedupPairsHof]]: explode every within-cluster id pair,
  *    join both vectors back by id, verify with the codegen'd
  *    cosine, localCheckpoint. (Its id join also picks up copies of
  *    an id that sit in OTHER clusters — the cross-cluster leak the
  *    per-cluster kernel removed; SemDedupSpec pins that difference.)
  *  - [[hashedNgramCountsHof]] / [[logRatioTableHof]]: range(m) left
  *    joins to zero-fill, a t⋈r join, and a broadcast cross join of
  *    the totals.
  *  - [[langIdTrainHof]]: a localCheckpoint of the (lang, bucket)
  *    counts, a broadcast totals join and a union of the floor rows. */
object CurationHof {

  def semDedupPairsHof(df: DataFrame, idCol: String, vecCol: String,
                       centers: Seq[Seq[Double]], minCosine: Double,
                       maxClusterSize: Int = 10000,
                       nProbe: Int = 0, nCells: Int = 0): DataFrame = {
    val asg = Partitioning.spread(
      SemDedup.assignWithVec(
        df.select(col(idCol).as("id"), col(vecCol).as("v")),
        "id", "v", centers, nProbe, nCells)).cache()
    val ok = asg.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxClusterSize))
      .select(col("cluster"))
    val buckets = asg.join(broadcast(ok), Seq("cluster"), "left_semi")
      .groupBy(col("cluster")).agg(collect_list(col("id")).as("ids"))
    val cand = Dedup.pairsFromBuckets(buckets)
      .filter(col("id_a") =!= col("id_b"))
    val verified = cand
      .join(asg.select(col("id").as("id_a"), col("v").as("v_a"),
        col("cluster"), col("centroid_cosine").as("cent_cos_a")), Seq("id_a"))
      .join(asg.select(col("id").as("id_b"), col("v").as("v_b"),
        col("centroid_cosine").as("cent_cos_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cluster"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"),
        col("cent_cos_a"), col("cent_cos_b"))
      .filter(col("cosine") >= minCosine)
    Dedup.materializeAndRelease(verified, asg)
  }

  /** [[SemDedup.semDedup]]'s keep rule over [[semDedupPairsHof]]. */
  def semDedupHof(df: DataFrame, idCol: String, vecCol: String,
                  centers: Seq[Seq[Double]], minCosine: Double,
                  maxClusterSize: Int = 10000,
                  keep: String = "min_id"): DataFrame =
    SemDedup.survivors(df, idCol, semDedupPairsHof(df, idCol, vecCol,
      centers, minCosine, maxClusterSize), keep)

  def hashedNgramCountsHof(df: DataFrame, textCol: String, m: Int,
                           hash: String = "md5"): DataFrame = {
    val cnt = Partitioning.spread(
        df.select(col(textCol).as("__txt")))
      .select(explode(Dsir.bucketArr(col("__txt"), m, hash)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    df.sparkSession.range(m).select(col("id").as("bucket"))
      .join(cnt, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  def logRatioTableHof(target: DataFrame, raw: DataFrame,
                       textCol: String, m: Int, alpha: Double = 1.0,
                       hash: String = "md5"): DataFrame = {
    val t = hashedNgramCountsHof(target, textCol, m, hash)
      .select(col("bucket"), col("cnt").as("t_cnt"))
    val r = hashedNgramCountsHof(raw, textCol, m, hash)
      .select(col("bucket"), col("cnt").as("r_cnt"))
    val am = lit(alpha * m)
    val joined = t.join(r, Seq("bucket"))
    val tot = joined.agg(sum(col("t_cnt")).as("__T"),
      sum(col("r_cnt")).as("__Q"))
    joined.crossJoin(broadcast(tot)).select(col("bucket"),
      (log((col("t_cnt") + alpha) / (col("__T") + am))
        - log((col("r_cnt") + alpha) / (col("__Q") + am)))
        .as("log_ratio"))
  }

  def langIdTrainHof(df: DataFrame, textCol: String, langCol: String,
                     m: Int = 4096, alpha: Double = 1.0,
                     nMin: Int = 2, nMax: Int = 3): DataFrame = {
    val cnt = df
      .filter(col(langCol).isNotNull && col(textCol).isNotNull)
      .select(col(langCol).cast("string").as("lang"),
        explode(LangId.bucketArr(col(textCol), m, nMin, nMax)).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tot = cnt.groupBy(col("lang")).agg(sum(col("cnt")).as("__tot"))
    val am = lit(alpha * m)
    val observed = cnt.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("bucket"),
        log((col("cnt") + alpha) / (col("__tot") + am)).as("log_prob"))
    val floor = tot.select(col("lang"), lit(-1L).as("bucket"),
      log(lit(alpha) / (col("__tot") + am)).as("log_prob"))
    observed.unionAll(floor)
      .withColumn("__fmt", lit(LangId.LangIdModelFormat))
      .withColumn("__m", lit(m))
      .withColumn("__nmin", lit(nMin))
      .withColumn("__nmax", lit(nMax))
  }
}
