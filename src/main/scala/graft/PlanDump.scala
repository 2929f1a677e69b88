package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: for each named query, time the phases — plan
  * construction (the builder fn), analysis+optimization+planning, and
  * two executions (the first pays codegen and exchange warm-up, the
  * second is steady state) — in ONE shared JVM, so later queries see a
  * warm JIT like a full bench run does, and write the formatted
  * physical plan to `<planDir>/<name>_<suffix>.txt`. This separates
  * "the data side is slow" from "the plan side is slow".
  *
  * Usage: sbt "runMain graft.PlanDump <planDir> <suffix> <name1,name2,...> <sfDir>"
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_STAGERS (optional comma list run
  * un-timed first, so phase timings measure the named queries, not
  * shared staging). Exits 1 when any named query fails.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.PlanDump <planDir> <suffix> <name1,name2,...> <sfDir>")
    val Array(planDir, suffix, names, dir) = args
    val spark = SparkConfs.local(SparkConfs.cpus, "graft-plandump")
    sys.env.get("SPARK_GRAFT_STAGERS").foreach(_.split(",").foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      System.err.println(s"[plandump] stager $n: ${ms(t0)} ms")
    })
    val failed = run(spark, dir, planDir, suffix,
      names.split(",").filter(_.nonEmpty).toSeq, SparkEntry.queries)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000

  /** Time and dump each of `names`; returns the names that failed
    * (including names missing from `queries`).
    */
  def run(
      spark: SparkSession,
      dir: String,
      planDir: String,
      suffix: String,
      names: Seq[String],
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))
    def dumped(name: String): Boolean =
      try {
        val t0 = System.nanoTime()
        val df = queries(name)(spark, dir)
        val tBuild = ms(t0)
        val t1 = System.nanoTime()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val tPlan = ms(t1)
        val t2 = System.nanoTime()
        val n = df.count()
        val tExec1 = ms(t2)
        val t3 = System.nanoTime()
        df.count()
        val tExec2 = ms(t3)
        val exch = plan.split('\n').count(l =>
          l.contains("Exchange") && !l.contains("ReusedExchange"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$planDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name rows=$n build=${tBuild}ms plan=${tPlan}ms " +
          s"exec1=${tExec1}ms exec2=${tExec2}ms exchanges=$exch")
        true
      } catch { case t: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${t.getMessage}")
        false
      }
    names.filterNot(dumped)
  }
}
