package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A fixed list of oracled catalog queries run back to back, each
  * built (the DDF/operator calls that assemble its plan) and then
  * collected. The first pass's rows go to the DuckDB oracle after the
  * loop; every later pass must reproduce them. */
final class Analytics(spark: SparkSession, data: String, out: Path,
                      rec: Recorder, queries: Seq[String],
                      warm: Seq[String]) extends Workload {
  private val fns = graft.SparkEntry.queries
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val firstCanon = mutable.Map.empty[String, Seq[String]]
  private val buildS = mutable.Map.empty[Int, Double].withDefaultValue(0.0)

  def docsPerUnit: Long = 0L // the input size is reported by the generator

  def warmup(): Unit = warm.foreach { q =>
    val t0 = System.nanoTime()
    fns(q)(spark, data).collect()
    System.err.println(f"[warm] $q ${(System.nanoTime()-t0)/1e9}%.3f")
    spark.catalog.clearCache()
  }

  def unit(k: Int): Unit = {
    queries.foreach { q =>
      val res = rec.op(k, q) {
        val (df, b) = rec.spans.timed(s"$q/build", -1)(fns(q)(spark, data))
        buildS(k) += b
        (df.schema, df.collect())
      }
      // operators cache intermediates; each query starts from parquet
      spark.catalog.clearCache()
      res.foreach { case (schema, rows) =>
        val canon = Analytics.canonical(rows)
        firstCanon.get(q) match {
          case None =>
            first(q) = (schema, rows)
            firstCanon(q) = canon
          case Some(c0) => if (canon != c0) {
            System.err.println(s"[perfbench] $q: pass $k differs from pass 0")
            rec.ops.last.ok = false
          }
        }
      }
    }
  }

  def finish(): Map[String, Any] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = out.resolve("results")
    // one small write job per query, several at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writes = first.toSeq.map { case (q, (schema, rows)) => Future {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(q).toString)
    } }
    try Await.result(Future.sequence(writes), Duration.Inf)
    finally pool.shutdown()
    Main.writeJson(dir.resolve("oracle_sql.json"),
      graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) })
    Map("results_dir" -> dir.toString)
  }

  def layerMetrics(t: Tracer, units: Int): Map[String, Double] =
    Map("ddf.build_ms" -> buildS.values.sum * 1000 / units)
}

object Analytics {
  /** Order-free row images with doubles at 9 decimals, the precision
    * the oracle comparison uses. */
  def canonical(rows: Array[Row]): Seq[String] =
    rows.map(r => r.toSeq.map(cell).mkString("\u0001")).toSeq.sorted

  private def cell(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
    case f: Float => cell(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("<", ",", ">")
    case null => "null"
    case other => other.toString
  }
}
