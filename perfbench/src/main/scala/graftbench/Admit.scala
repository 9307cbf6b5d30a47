package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup
import graft.streaming.Admission

/** One writer admitting a seeded stream of batches into a durable
  * corpus and MinHash index that start in set-up and grow across the
  * run: one `Admission.admitBatch` cycle per batch. */
final class Admit(spark: SparkSession, data: String, work: Path, out: Path,
                  rec: Recorder) extends Workload {
  import Admit._

  private val stateDir = work.resolve("state")
  private val corpus = stateDir.resolve("corpus").toString
  private val index = stateDir.resolve("index").toString
  private val batches = Files.list(java.nio.file.Paths.get(data, "batches"))
    .toArray.map(_.toString).sorted.toSeq
  private val stats = mutable.ArrayBuffer.empty[Admission.AdmitStats]
  private val outBytes = mutable.Map.empty[Int, Long]

  override def minUnits: Int = MinCycles
  override def maxUnits: Int = batches.size - 1
  private var batchRows = 0L
  def docsPerUnit: Long = batchRows

  override def state(): Unit = {
    batchRows = spark.read.parquet(batches.head).count()
    spark.read.parquet(s"$data/initial").write.parquet(corpus)
    Dedup.minhashIndex(spark.read.parquet(corpus), "doc_id", "text",
      numHashes = NumHashes, bands = Bands).write.parquet(index)
  }

  /** The stream's first batch, admitted untimed: the cycle's code
    * paths and generated code. Its admissions are part of the state
    * the timed cycles start from. */
  def warmup(): Unit = stats += cycle(0)

  private def cycle(k: Int) =
    Admission.admitBatch(spark.read.parquet(batches(k)), corpus, index,
      "doc_id", "text", numHashes = NumHashes, bands = Bands,
      threshold = MinJaccard, dedupWithinBatch = false, batchId = k.toLong)

  def unit(k: Int): Unit = rec.op(k, "cycle")(cycle(k + 1)).foreach(stats += _)

  override def afterTracedUnit(t: Tracer, k: Int): Unit =
    outBytes(k) = t.layers.outputBytes - outBytes.values.sum

  def finish(): Map[String, Any] = Map(
    "corpus_dir" -> corpus,
    "cycles" -> stats.toSeq.map(s => Map("batch" -> s.batchId,
      "batch_rows" -> s.batchRows, "after_id_screen" -> s.afterIdScreen,
      "admitted" -> s.admitted)),
    "cycle_output_bytes" -> outBytes.toSeq.sortBy(_._1).map(_._2),
    "params" -> Map("min_jaccard" -> MinJaccard, "num_hashes" -> NumHashes,
      "bands" -> Bands))

  def layerMetrics(t: Tracer, units: Int): Map[String, Double] = {
    val rows = stats.map(_.batchRows).sum.toDouble
    val files = Files.list(java.nio.file.Paths.get(corpus)).toArray
      .count(_.toString.endsWith(".parquet"))
    Map(
      "streaming.cycle_jobs" -> t.layers.jobsBySpan("cycle").toDouble / units,
      "streaming.admitted_ratio" -> stats.map(_.admitted).sum / rows,
      "streaming.corpus_files" -> files.toDouble)
  }
}

object Admit {
  val MinCycles = 3
  val NumHashes = 64
  val Bands = 32
  val MinJaccard = 0.6
}
