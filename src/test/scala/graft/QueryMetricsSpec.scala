package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[QueryMetrics]], the listener behind Bench's per-query `metrics` and
  * PlanDump's stage count: after the query returns and the bus is
  * drained, the delta holds exactly the stages and tasks it ran.
  */
class QueryMetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a single-shuffle groupBy count runs a pinned number of stages and tasks") {
    val in = java.nio.file.Files.createTempDirectory("query-metrics").toString + "/t.parquet"
    spark.range(100).selectExpr("id % 5 AS k", "id AS v").repartition(2).write.parquet(in)
    val m = QueryMetrics.attach(spark)
    def run(): QueryMetrics.Snapshot = {
      val before = m.snapshot(spark)
      assert(spark.read.parquet(in).groupBy("k").count().collect().length === 5)
      m.snapshot(spark) - before
    }
    try {
      val first = run()
      // Schema inference reads a footer in a one-task job, then the
      // scan's map stage runs a task per file and one reduce task reads
      // the AQE-coalesced shuffle.
      assert((first.stages, first.tasks) === ((3L, 4L)))
      assert(first.cpuNs > 0 && first.runMs >= 0 && first.shuffleBytes > 0)
      val second = run()
      assert((second.stages, second.tasks) === ((first.stages, first.tasks)))
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
