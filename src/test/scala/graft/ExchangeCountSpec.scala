package graft

import org.scalatest.funsuite.AnyFunSuite

/** `PlanDump.countExchanges` (also Bench's per-query `exchanges`
  * telemetry) counts exchange NODES: one shuffle is one exchange, not
  * the two lines the formatted explain gives it (tree row plus detail
  * header).
  */
class ExchangeCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a single-shuffle groupBy count over a parquet scan has one exchange") {
    val in = java.nio.file.Files.createTempDirectory("exchange-count").toString + "/t.parquet"
    spark.range(100).selectExpr("id % 5 AS k", "id AS v").write.parquet(in)
    val df = spark.read.parquet(in).groupBy("k").count()
    assert(PlanDump.countExchanges(df) === Some(1))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.split('\n').count(_.contains("Exchange")) === 2,
      "the formatted explain no longer lists each node twice; revisit " +
        "the countExchanges scaladoc")
    assert(df.count() > 0)
    assert(PlanDump.countExchanges(df) === Some(1),
      "running the query must not change the count")
  }
}
