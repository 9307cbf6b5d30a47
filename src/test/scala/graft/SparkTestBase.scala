package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** one SparkSession per JVM, shared across suites */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Count Spark jobs launched by `body`, with AQE and broadcast
    * joins disabled for determinism (AQE materializes query stages
    * as extra jobs; broadcast exchanges submit their own). Restores
    * both confs. Used by the fused-scan pins — "this used to be two
    * jobs, now it is one". */
  def countJobs(body: => Unit): Int = {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try jobsDuring(body)
    finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  /** Raw job counter — unlike [[countJobs]] it does NOT disable AQE or
    * broadcast joins: it counts what the session's default settings
    * run (adaptive stages and broadcast exchanges included). */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) /* listener bus is async */ }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }
}
