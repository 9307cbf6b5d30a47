package graftbench

import scala.collection.mutable

import org.apache.spark.{ListenerDrain, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Named timing spans around calls into graft. A span has a start,
  * an end, a parent and the id of the operation it belongs to; the
  * innermost open span's name rides on the driver thread as a Spark
  * local property, so every job a call launches is attributed to it. */
final class Spans(sc: SparkContext) {
  case class Span(id: Int, op: Int, name: String, parent: Int,
                  startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 0
  val originNs: Long = System.nanoTime()

  /** Runs `body` inside a span; returns its result and duration. */
  def timed[T](name: String, op: Int)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.setLocalProperty(Spans.Prop, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      done += Span(id, op, name, parent, t0, System.nanoTime())
      open = open.tail
      sc.setLocalProperty(Spans.Prop, open.headOption.map(_._2).orNull)
    }
  }

  /** Every closed span with its self time: duration minus the part
    * covered by its direct children. */
  def records: Seq[Map[String, Any]] = {
    val childNs = done.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    done.toSeq.sortBy(_.id).map { s =>
      val dur = s.endNs - s.startNs
      Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
        "parent" -> s.parent,
        "start_ms" -> (s.startNs - originNs) / 1e6,
        "end_ms" -> (s.endNs - originNs) / 1e6,
        "self_ms" -> (dur - childNs.getOrElse(s.id, 0L)) / 1e6)
    }
  }
}

object Spans {
  val Prop = "graftbench.span"
}

/** Scheduler, executor, shuffle and IO totals from the listener bus.
  * Jobs are counted per span that launched them. */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageRunMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val jobsBySpan = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var jobs, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  // sum of (slowest / median task) x stage run time, and the weights
  var skewWeighted, skewWeight = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Spans.Prop))).getOrElse("")
    jobs += 1
    jobsBySpan(span) += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      stageRunMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageRunMs.remove(key).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        val median = sorted(sorted.size / 2).max(1L)
        skewWeighted += sorted.last.toDouble / median * ms.sum
        skewWeight += ms.sum
      }
    }
}

/** Catalyst phase times and action counts from every Dataset action,
  * plus the files each write command produced. */
final class CatalystListener extends QueryExecutionListener {
  var actions = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var outputFiles = 0L

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    record(qe)
    outputFiles += filesWritten(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = synchronized {
    record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    actions += 1
    val ph = qe.tracker.phases
    def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }

  private def filesWritten(p: SparkPlan): Long = p match {
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case c: CommandResultExec => filesWritten(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
    case other => other.children.map(filesWritten).sum
  }
}

/** The traced half of a run: both listeners, registered together. */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  val layers = new LayerListener
  val catalyst = new CatalystListener
  spark.sparkContext.addSparkListener(layers)
  spark.listenerManager.register(catalyst)

  def drain(): Unit = ListenerDrain(spark.sparkContext)
}

/** Peak live heap: the heap in use right after a full collection,
  * sampled at unit boundaries (outside the timed operations). In
  * local mode the executors share the driver's heap, so this is the
  * most the process retained between units of work. */
final class HeapPeak {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  var peakBytes = 0L

  def sample(): Unit = {
    System.gc()
    peakBytes = peakBytes.max(mem.getHeapMemoryUsage.getUsed)
  }
}
