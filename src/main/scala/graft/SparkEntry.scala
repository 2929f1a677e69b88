package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2.2 / §7.
  *
  * `queries` is the full operator inventory; each entry with an
  * `oracleSql` row is hash-checked against DuckDB on the same parquet
  * tables at sf0.01. Entries without an oracle (XML scan, sketches,
  * UDAF goldens, streaming) are rows-only checked by the driver and
  * golden-tested in src/test.
  */
object SparkEntry {

  private def groups: Seq[Seq[QDef]] = Seq(
    Relational.all,
    SqlSurface.all,
    Scalars.all,
    Pipeline.all,
    Custom.all,
    TextAnalysis.all,
    Curation.all,
    WebCuration.all,
    Analytics.all,
    Health.all,
    Selection.all,
    Dedup.all,
    Similarity.all,
    Streaming.all,
    MultimodalQ.all)

  private lazy val defs: Seq[QDef] = groups.flatten

  /** Flagship query on the sf0.001 data; its smoke check expects rows > 0.
    * The full reference pipeline in one lazy plan: corpus -> known
    * entities -> classify -> precedence -> URIs -> graph node counts.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_node_counts")(spark, s"${SparkConfs.dataRoot}/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(o => q.name -> o.stripMargin)).toMap
}
