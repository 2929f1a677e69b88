package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, built like Bench's and
  * Verify's so specs exercise the same planner config.
  */
object SparkTestSession {
  lazy val spark: SparkSession = SparkConfs.local(4, "graft-test")
}
