package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import graft.operators.Partitioning

/** Branch pins for Partitioning.spread (r12, ADVICE item): the r11
  * version inspected queryExecution.sparkPlan, which never contains
  * requirement-driven exchanges (EnsureRequirements runs during plan
  * preparation), so aggregate/join inputs fell through to the
  * df.rdd.getNumPartitions probe — finalizing the AQE plan and
  * running real jobs. These specs assert the branch TAKEN per plan
  * shape and that the decision itself launches zero jobs. */
class PartitioningSpec extends SparkTestBase {
  import spark.implicits._

  test("spread: shuffle-shaped (groupBy) plan is left alone, zero probe jobs") {
    val agg = spark.range(0, 1000, 1, 2).toDF("id")
      .groupBy((F.col("id") % 10).as("k"))
      .agg(F.count("*").as("n"))
    var out: DataFrame = null
    val jobs = jobsDuring { out = Partitioning.spread(agg) }
    assert(out eq agg, "shuffle branch must return the input untouched")
    assert(jobs == 0, s"deciding must not run jobs (ran $jobs)")
  }

  test("spread: broadcast-only plan gets an explicit repartition, zero probe jobs") {
    val big = spark.range(0, 1000, 1, 2).toDF("id")
    val small = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val bj = big.join(F.broadcast(small), "id")
    var out: DataFrame = null
    val jobs = jobsDuring { out = Partitioning.spread(bj) }
    assert(out ne bj, "broadcast-only branch must append a repartition")
    val target = spark.sparkContext.defaultParallelism
    val reps = out.queryExecution.logical.collect {
      case r: Repartition => r.numPartitions }
    assert(reps == Seq(target),
      s"expected one Repartition($target), got $reps")
    assert(jobs == 0, s"deciding must not run jobs (ran $jobs)")
  }

  test("spread: exchange-free narrow scan widens to defaultParallelism") {
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
      .withColumn("x", F.col("id") * 2)
    val out = Partitioning.spread(narrow)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("spread: never shrinks an already-wide exchange-free input") {
    val wide = spark.range(0, 100, 1,
      spark.sparkContext.defaultParallelism * 4).toDF("id")
    val out = Partitioning.spread(wide)
    assert(out eq wide)
  }
}
