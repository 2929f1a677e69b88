package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text

/** XML document-corpus ingest (O1-O8): Spark 4's built-in XML source
  * with rowTag=document replaces the reference's whole-file DOM parse
  * (xml_to_json.py:54-61) with a streaming, partitionable scan.
  *
  * The element paths and null-fallback semantics mirror
  * xml_to_json.py:77-96; parenthetical strip + order-preserving
  * first-wins triple dedup (xml_to_json.py:27-42) happen per document
  * inside `transform`/`array_distinct` — order-preserving by
  * construction, unlike a shuffle-dependent dropDuplicates
  * (SURVEY §2.3-3/§2.3-6).
  */
object XmlDocs {

  /** Raw XML shape under rowTag=document (FIXTURES.md §A). */
  val xmlSchema: StructType = StructType.fromDDL(
    """documentID STRING,
       documentTitle STRING,
       projectInfo STRUCT<publicationName: STRING, seriesName: STRING,
                          volumeInfo: STRING, publisher: STRING,
                          formats: STRUCT<type: ARRAY<STRING>>>,
       authors STRUCT<author: ARRAY<STRING>>,
       recipients STRUCT<recipient: ARRAY<STRING>>,
       dates STRUCT<`date-from` STRING, `date-to` STRING>,
       location STRUCT<placeName: STRING>,
       repositories STRUCT<repository: ARRAY<STRING>>,
       indexing STRUCT<indexTerm: ARRAY<STRUCT<main: STRING, midsub: STRING, sub: STRING>>>""")

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "document")
      .schema(xmlSchema)
      .load(path)

  /** Document-model schema B1 (SURVEY §1.1 / FIXTURES.md §B). */
  val docModelSchema: StructType = StructType.fromDDL(
    """documentID STRING,
       documentTitle STRING,
       projectInfo STRUCT<publicationName: STRING, seriesName: STRING,
                          volumeInfo: STRING, publisher: STRING,
                          formats: ARRAY<STRING>>,
       authors ARRAY<STRUCT<name: STRING>>,
       recipients ARRAY<STRUCT<name: STRING>>,
       dates STRUCT<`date-from` STRING, `date-to` STRING>,
       location STRUCT<name: STRING>,
       repositories ARRAY<STRING>,
       indexing ARRAY<STRUCT<main: STRING, midsub: STRING, sub: STRING>>""")

  /** Raw XML rows -> nested document model (xml_to_json.py:77-96). */
  def toDocModel(raw: DataFrame): DataFrame = {
    def emptyIfNull(c: org.apache.spark.sql.Column) = coalesce(c, lit(""))
    val emptyStr = array().cast(ArrayType(StringType))
    raw.select(
      col("documentID"),
      col("documentTitle"),
      struct(
        col("projectInfo.publicationName").as("publicationName"),
        col("projectInfo.seriesName").as("seriesName"),
        col("projectInfo.volumeInfo").as("volumeInfo"),
        col("projectInfo.publisher").as("publisher"),
        coalesce(col("projectInfo.formats.type"), emptyStr).as("formats")).as("projectInfo"),
      transform(coalesce(col("authors.author"), emptyStr),
        a => struct(a.as("name"))).as("authors"),
      transform(coalesce(col("recipients.recipient"), emptyStr),
        r => struct(r.as("name"))).as("recipients"),
      struct(
        col("dates.`date-from`").as("date-from"),
        col("dates.`date-to`").as("date-to")).as("dates"),
      when(col("location").isNotNull,
        struct(trim(col("location.placeName")).as("name")))
        .otherwise(lit(null)).as("location"),
      coalesce(col("repositories.repository"), emptyStr).as("repositories"),
      // collect_terms_from_xml: missing midsub/sub -> "", strip parens,
      // then first-wins dedup of the (main, midsub, sub) tuple in
      // document order (array_distinct keeps first occurrences).
      array_distinct(
        transform(
          coalesce(col("indexing.indexTerm"),
            array().cast(ArrayType(StructType.fromDDL(
              "main STRING, midsub STRING, sub STRING")))),
          x => struct(
            Text.stripParens(emptyIfNull(x.getField("main"))).as("main"),
            when(emptyIfNull(x.getField("midsub")) === "", lit(""))
              .otherwise(Text.stripParens(x.getField("midsub"))).as("midsub"),
            when(emptyIfNull(x.getField("sub")) === "", lit(""))
              .otherwise(Text.stripParens(x.getField("sub"))).as("sub"))))
        .as("indexing"))
  }

  /** Flatten the nested model to the pipeline's scalar view
    * (Classify/Graph operate on this + exploded triples): one row per
    * document × author × recipient, so every author and recipient gets
    * its Person node and edge. explode_outer keeps one null row for an
    * empty or missing list, like the reference's loop over present
    * entities; Graph dedups the repeated per-document nodes.
    */
  def toFlatDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("author", explode_outer(col("authors.name")))
      .withColumn("recipient", explode_outer(col("recipients.name")))
      .select(
        col("documentID"),
        col("documentTitle"),
        col("projectInfo.publicationName").as("publicationName"),
        col("projectInfo.seriesName").as("seriesName"),
        col("projectInfo.volumeInfo").as("volumeInfo"),
        col("projectInfo.publisher").as("publisher"),
        col("author"),
        col("recipient"),
        col("location.name").as("loc"),
        col("dates.`date-from`").as("date_from"),
        col("dates.`date-to`").as("date_to"))

  /** Exploded per-document index triples from the nested model. */
  def toTriples(docs: DataFrame): DataFrame =
    docs.select(col("documentID"), explode(col("indexing")).as("t"))
      .select(col("documentID"),
        col("t.main").as("main"),
        col("t.midsub").as("midsub"),
        col("t.sub").as("sub"))

  /** Serialize the corpus as reference-shaped XML (per-file root, N
    * <document> elements) via Spark's native XML writer — the executors
    * shape and write partitions in parallel (entity escaping is the
    * StAX writer's job), so the round-trip is symmetric with [[read]]
    * and the same code path scales past test inputs; nothing passes
    * through the driver. `path` is a directory the file-source [[read]]
    * scans as-is.
    *
    * Null scalars are written as omitted elements where the old driver
    * writer emitted empty ones — both read back as null under
    * [[xmlSchema]], so the round-trip semantics are unchanged.
    */
  def writeCorpusXml(flatDocs: DataFrame, triples: DataFrame, path: String): Unit = {
    val trip = triples.groupBy("documentID")
      .agg(sort_array(collect_list(struct(col("main"), col("midsub"), col("sub")))).as("ts"))
    flatDocs.join(trip, Seq("documentID"), "left_outer")
      .select(
        col("documentID"),
        col("documentTitle"),
        struct(
          col("publicationName"), col("seriesName"),
          col("volumeInfo"), col("publisher"),
          struct(array(lit("print"), lit("digital")).as("type")).as("formats"))
          .as("projectInfo"),
        struct(array(col("author")).as("author")).as("authors"),
        struct(array(col("recipient")).as("recipient")).as("recipients"),
        struct(col("date_from").as("date-from"), col("date_to").as("date-to"))
          .as("dates"),
        struct(col("loc").as("placeName")).as("location"),
        struct(array(lit("Library")).as("repository")).as("repositories"),
        struct(col("ts").as("indexTerm")).as("indexing"))
      .write.mode("overwrite")
      .format("xml")
      .option("rootTag", "root")
      .option("rowTag", "document")
      .save(path)
  }
}
