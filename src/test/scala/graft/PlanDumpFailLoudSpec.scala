package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** PlanDump's fail-loud contract, the one Verify keeps: a throwing or
  * unknown query is returned as failed (main exits nonzero iff the
  * list is non-empty) and writes no plan file, while the healthy
  * queries of the same run still dump their plans.
  */
class PlanDumpFailLoudSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("failing and unknown queries are returned, the rest dump their plans") {
    val planDir = java.nio.file.Files.createTempDirectory("plandump_failloud").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "good_q" -> ((s, _) => s.range(3).toDF()),
      "bad_q" -> ((_, _) => throw new IllegalStateException("deliberate failure")))
    val failed = PlanDump.run(spark, "unused", planDir, "t",
      Seq("good_q", "bad_q", "missing_q"), queries)
    assert(failed == Seq("bad_q", "missing_q"))
    assert(new java.io.File(s"$planDir/good_q_t.txt").length > 0)
    assert(!new java.io.File(s"$planDir/bad_q_t.txt").exists)
  }
}
