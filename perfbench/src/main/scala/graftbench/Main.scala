package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation: a catalog query, a recipe call or an
  * admission cycle. */
final case class Op(unit: Int, name: String, seconds: Double, var ok: Boolean)

/** Times operations through [[Spans]] and keeps their outcomes. A
  * throwing operation is recorded as failed and yields None. */
final class Recorder(val spans: Spans) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextOp = 0

  def op[T](unit: Int, name: String)(body: => T): Option[T] = {
    val id = nextOp
    nextOp += 1
    val t0 = System.nanoTime()
    val res =
      try Some(spans.timed(name, id)(body)._1)
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    ops += Op(unit, name, (System.nanoTime() - t0) / 1e9, res.isDefined)
    res
  }
}

/** A workload: set-up steps, then whole units of work that the
  * closed loop repeats until the time budget is spent. */
trait Workload {
  /** units every run performs, whatever the time budget */
  def minUnits: Int = 1
  /** units available at most (a finite input stream) */
  def maxUnits: Int = Int.MaxValue
  def docsPerUnit: Long
  def state(): Unit = ()
  def warmup(): Unit
  def unit(k: Int): Unit
  /** untimed, after the loop: write what the output checks read */
  def finish(): Map[String, Any]
  /** called after each traced unit, once the listeners have drained */
  def afterTracedUnit(t: Tracer, k: Int): Unit = ()
  /** workload-specific per-layer metrics, per unit */
  def layerMetrics(t: Tracer, units: Int): Map[String, Double]
}

object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Paths.get(a("out"))
    Files.createDirectories(out)

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (spark, sessionS) = time(session(cores, a("work")))
    val rec = new Recorder(new Spans(spark.sparkContext))
    val w: Workload = a("workload") match {
      case "analytics" => new Analytics(spark, a("data"), out, rec,
        a("queries").split(",").toSeq, a("warmup").split(",").toSeq)
      case "curate" => new Curate(spark, a("data"), out, rec)
      case "admit" => new Admit(spark, a("data"), Paths.get(a("work")),
        out, rec)
    }
    val (_, stateS) = time(w.state())
    val (_, warmupS) = time(w.warmup())

    // Closed loop, one client: a unit starts while the budget can
    // still fit one more of the units run so far. A traced run does
    // the same work with both listeners registered.
    val heap = new HeapPeak
    val firstOpEpochS = System.currentTimeMillis() / 1000.0
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val unitS = mutable.ArrayBuffer.empty[Double]
    var spent = 0.0
    def fits = spent + spent / unitS.size.max(1) <= seconds
    while ((unitS.size < w.minUnits || fits) && unitS.size < w.maxUnits) {
      val k = unitS.size
      val (_, s) = time(w.unit(k))
      tracer.foreach { t =>
        t.drain()
        w.afterTracedUnit(t, k)
      }
      heap.sample()
      unitS += s
      spent += s
    }
    // a unit's time is the sum of its timed operations: check
    // bookkeeping between them is not part of the measurement
    val opS = rec.ops.groupBy(_.unit).view.mapValues(_.map(_.seconds).sum)
    unitS.indices.foreach(k => unitS(k) = opS.getOrElse(k, 0.0))
    // layer totals before the untimed writes the output checks read
    val layerMetrics = tracer.map(t => layers(t, unitS.size, unitS.sum, cores) ++
      w.layerMetrics(t, unitS.size))
    val checks = w.finish()

    val result = mutable.LinkedHashMap[String, Any](
      "cores" -> cores,
      "first_op_epoch_s" -> firstOpEpochS,
      "setup" -> Map("session_s" -> sessionS, "state_s" -> stateS,
        "warmup_s" -> warmupS),
      "unit_s" -> unitS.toSeq,
      "min_units" -> w.minUnits,
      "docs_per_unit" -> w.docsPerUnit,
      "ops" -> rec.ops.toSeq.map(o => Map("unit" -> o.unit, "name" -> o.name,
        "s" -> o.seconds, "ok" -> o.ok)),
      "peak_heap_mb" -> heap.peakBytes / 1048576.0,
      "checks" -> checks)
    layerMetrics.foreach { m =>
      result("layers") = m
      Files.writeString(out.resolve("spans.json"),
        mapper.writeValueAsString(rec.spans.records))
    }
    Files.writeString(out.resolve("result.json"),
      mapper.writeValueAsString(result))
    spark.stop()
    System.exit(0)
  }

  /** The layer metrics every workload reports, per traced unit. */
  private def layers(t: Tracer, units: Int, wallS: Double,
                     cores: Int): Map[String, Double] = {
    val n = units.toDouble
    val l = t.layers
    val c = t.catalyst
    val runS = l.runMs / 1000.0
    Map(
      "scheduler.jobs" -> l.jobs / n,
      "scheduler.tasks" -> l.tasks / n,
      "scheduler.non_exec_s" -> (wallS - runS / cores) / n,
      "scheduler.failed_tasks" -> l.failedTasks.toDouble,
      "catalyst.analysis_ms" -> c.analysisMs / n,
      "catalyst.optimization_ms" -> c.optimizationMs / n,
      "catalyst.planning_ms" -> c.planningMs / n,
      "catalyst.actions" -> c.actions / n,
      "executor.run_s" -> runS / n,
      "executor.cpu_s" -> l.cpuNs / 1e9 / n,
      "executor.busy_ratio" -> runS / (wallS * cores),
      "executor.task_skew" ->
        (if (l.skewWeight > 0) l.skewWeighted / l.skewWeight else 1.0),
      "executor.gc_s" -> l.gcMs / 1000.0 / n,
      "shuffle.write_bytes" -> l.shuffleWrite / n,
      "shuffle.read_bytes" -> l.shuffleRead / n,
      "shuffle.spill_bytes" -> l.spill / n,
      "io.input_bytes" -> l.inputBytes / n,
      "io.input_records" -> l.inputRecords / n,
      "io.output_bytes" -> l.outputBytes / n,
      "io.output_files" -> c.outputFiles / n)
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def writeJson(p: Path, v: Any): Unit =
    Files.writeString(p, mapper.writeValueAsString(v))
}
