package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing query names restrict the dump (dev iteration);
    // the driver's 2-arg invocation always dumps everything.
    val only = args.drop(2).toSet
    val spark = SparkConfs.local(SparkConfs.cpus, "graft-verify")
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }.toSeq
    val errors = run(spark, sfDir, outDir, queries, SparkEntry.oracleSql)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The dump loop, separated from [[main]] so the fail-loud contract
    * is spec-exercisable END TO END (VerifyFailLoudSpec injects a
    * deliberately-throwing query and asserts the sidecars): every
    * query's result → `outDir/<name>` parquet, the oracle map →
    * `oracle_sql.json`, every failure → `_errors.json`. Returns the
    * error map; main exits nonzero iff it is non-empty. A throwing
    * query must poison the run visibly — round 8 lost 53 queries to a
    * loader regression that only printed one stderr line per query and
    * exited 0, and the partial dump read as a clean round until the
    * judge counted entries.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      oracles: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    errors.toMap
  }
}
