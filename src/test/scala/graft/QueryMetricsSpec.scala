package graft

import graft.obs.QueryMetrics

/** [[graft.obs.QueryMetrics]] on fixed RDD plans, whose job, stage and
  * task counts do not depend on adaptive planning: a map-only plan is
  * one job of one 4-task stage, and a `reduceByKey` adds a 4-task
  * shuffle map stage in front of its result stage.
  */
class QueryMetricsSpec extends SparkSpec {

  private def mapOnly(): Array[Int] =
    spark.sparkContext.parallelize(1 to 1000, 4).map(_ * 2).collect()

  private def withExchange(): Array[(Int, Int)] =
    spark.sparkContext.parallelize(1 to 1000, 4)
      .map(x => (x % 7, x)).reduceByKey(_ + _).collect()

  test("jobs, stages and tasks are exact for fixed plans") {
    val (_, m) = QueryMetrics.measure(spark)(mapOnly())
    assert((m.jobs, m.stages, m.tasks) == ((1, 1, 4)))
    val (_, x) = QueryMetrics.measure(spark)(withExchange())
    assert((x.jobs, x.stages, x.tasks) == ((1, 2, 8)))
  }

  test("shuffle bytes are written only by a plan with an exchange") {
    val (sums, x) = QueryMetrics.measure(spark)(withExchange())
    assert(sums.map(_._2).sum == (1 to 1000).sum)
    assert(x.shuffleWriteBytes > 0 && x.shuffleReadBytes > 0)
    val (_, m) = QueryMetrics.measure(spark)(mapOnly())
    assert(m.shuffleWriteBytes == 0 && m.shuffleReadBytes == 0)
  }

  test("executor CPU time is recorded") {
    val (_, x) = QueryMetrics.measure(spark)(withExchange())
    assert(x.cpuNanos > 0)
  }

  test("back-to-back measurements do not leak counts into each other") {
    val (_, first) = QueryMetrics.measure(spark) {
      withExchange(); withExchange()
    }
    val (_, second) = QueryMetrics.measure(spark)(mapOnly())
    assert((first.jobs, first.stages, first.tasks) == ((2, 4, 16)))
    assert((second.jobs, second.stages, second.tasks) == ((1, 1, 4)))
    assert(second.shuffleWriteBytes == 0)
    val (_, none) = QueryMetrics.measure(spark)(())
    assert(none == graft.obs.Totals.zero)
  }
}
