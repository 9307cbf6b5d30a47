package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Dsir, LangId, Repetition, SemDedup}

/** One LLM-data curation recipe over a wide multi-file corpus, call
  * by call through graft's public operators. Each call's output is
  * persisted and counted, so every call is timed on its own and the
  * next call reads settled input. */
final class Curate(spark: SparkSession, data: String, out: Path,
                   rec: Recorder) extends Workload {
  import Curate._

  private val docs = spark.read.parquet(s"$data/docs")
  private val emb = spark.read.parquet(s"$data/embeddings")
  private val centers: Seq[Seq[Double]] =
    spark.read.parquet(s"$data/centers.parquet").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1)).toSeq
  private var nDocs = 0L
  private val stageCounts = mutable.ArrayBuffer.empty[Map[String, Long]]
  // the first recipe's outputs, kept for the checks until finish()
  private var firstStages = Seq.empty[(String, DataFrame)]

  def docsPerUnit: Long = nDocs

  /** Opens the corpus: the first scan of its files. */
  override def state(): Unit = nDocs = docs.count()

  /** None: a curation recipe is a batch job in a fresh JVM, so its
    * one-time costs (generated code, JIT) are part of what it costs. */
  def warmup(): Unit = ()

  def unit(k: Int): Unit = {
    val (stages, counts) = recipe(k)
    if (stageCounts.isEmpty) firstStages = stages
    else {
      if (counts != stageCounts.head) {
        System.err.println(s"[perfbench] recipe $k: stage sizes differ from recipe 0")
        rec.ops.filter(_.unit == k).foreach(_.ok = false)
      }
      stages.foreach(unpersist)
    }
    stageCounts += counts
  }

  /** Runs the recipe, one timed operation per call; a failed call
    * ends it. Returns the settled output of each call and its row
    * count. */
  private def recipe(k: Int): (Seq[(String, DataFrame)], Map[String, Long]) = {
    val done = mutable.ArrayBuffer.empty[(String, DataFrame)]
    val counts = mutable.Map.empty[String, Long]
    def step(name: String)(f: DataFrame => DataFrame): Unit =
      if (done.size == Calls.indexOf(name)) {
        val in = done.lastOption.map(_._2).getOrElse(docs)
        rec.op(k, name) {
          val p = f(in).persist()
          counts(name) = p.count()
          p
        }.foreach(df => done += name -> df)
      }
    step("c4_clean")(_.withColumn("text", TF.c4CleanLines(col("text"))))
    step("common_lines")(Repetition.dropCommonLines(_, "doc_id", "text",
      maxDocs = CommonLineDocs))
    step("langid") { in =>
      val model = LangId.train(in.where(col("doc_id") % 10 === 0),
        "text", "true_lang", m = LangBuckets)
      LangId.classify(in, "text", model, m = LangBuckets)
        .drop("__langid", "lang_margin")
    }
    step("quality")(_.withColumn("quality", TF.qualityScore(col("text")))
      .where(col("quality") >= MinQuality))
    step("exact_dedup")(Dedup.exact(_, Seq("text"), "doc_id"))
    step("minhash_dedup")(Dedup.minhashDedup(_, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = MinJaccard))
    step("dsir") { in =>
      val ratios = Dsir.logRatioTable(in.where(col("lang") === "en"), in,
        "text", m = DsirBuckets)
      Dsir.importanceWeights(in, "text", ratios, m = DsirBuckets)
    }
    step("semdedup") { in =>
      val joined = in.select("doc_id").join(emb.select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("v")), "doc_id")
      SemDedup.semDedup(joined, "doc_id", "v", centers,
        minCosine = MinCosine, maxClusterSize = Int.MaxValue)
    }
    (done.toSeq, counts.toMap)
  }

  private def unpersist(s: (String, DataFrame)): Unit = s._2.unpersist()

  /** Writes the ids surviving each filtering call of the first
    * recipe, and the language labels, for the planted-truth checks. */
  def finish(): Map[String, Any] = {
    val dir = out.resolve("stages")
    firstStages.foreach { case (name, df) =>
      val cols = if (name == "langid") Seq("doc_id", "lang") else Seq("doc_id")
      if (Checked(name))
        df.select(cols.map(col): _*).coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(name).toString)
      unpersist(name -> df)
    }
    Map("stages_dir" -> dir.toString,
      "stage_counts" -> stageCounts.headOption.getOrElse(Map.empty),
      "params" -> Map("min_jaccard" -> MinJaccard, "num_hashes" -> 64,
        "bands" -> 16, "min_cosine" -> MinCosine, "min_quality" -> MinQuality))
  }

  def layerMetrics(t: Tracer, units: Int): Map[String, Double] =
    Calls.flatMap { c =>
      Seq(s"operators.$c.s" -> rec.ops.filter(_.name == c).map(_.seconds).sum / units,
        s"operators.$c.jobs" -> t.layers.jobsBySpan(c).toDouble / units)
    }.toMap
}

object Curate {
  val Calls = Seq("c4_clean", "common_lines", "langid", "quality",
    "exact_dedup", "minhash_dedup", "dsir", "semdedup")
  val Checked = Set("langid", "quality", "exact_dedup", "minhash_dedup",
    "dsir", "semdedup")
  val CommonLineDocs = 50L
  val LangBuckets = 512
  val DsirBuckets = 512
  val MinQuality = 0.7
  val MinJaccard = 0.8
  val MinCosine = 0.95
}
