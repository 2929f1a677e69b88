package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{ConvertNameExpr, Text}

/** Graph-build stage (json_to_db.py, SURVEY O23-O29): the labeled
  * property graph as two DataFrames — nodes(label, key, uri) and
  * edges(src, dst, type) — with MERGE semantics as key-based dedup, so
  * re-running the build is idempotent (SURVEY §2.3-7). Sinks implement
  * [[GraphSink]]: partitioned parquet ([[ParquetGraphSink]]) for the
  * offline pipeline, and [[BoltGraphSink]] — foreachPartition with
  * batched UNWIND statements behind an injected connection factory
  * (the reference's 1-tx-per-statement pattern, json_to_db.py:81-127,
  * is the anti-pattern we do not port).
  *
  * Faithful trap semantics:
  *   - Term nodes carry no uri (generate_uri.py:43-45, json_to_db.py:35-38);
  *   - every midsub/sub child is created as a Term node regardless of its
  *     classified type (json_to_db.py:121-127 create_term);
  *   - MIDSUB/SUB *edges* only materialize when the parent main term is
  *     term-typed: relate_sub_term matches the parent by a `term`
  *     property (json_to_db.py:62-68), which Person/Place/Organization
  *     nodes do not have (they are created with name+uri,
  *     json_to_db.py:17-32), so the Cypher MATCH finds nothing and the
  *     MERGE never runs for entity-typed parents.
  */
object Graph {

  private def convertedAuthor(c: String) = ConvertNameExpr.convertNameNative(col(c))

  /** Single-pass multi-emit: each input row contributes an array of
    * candidate output structs (null when its condition fails), exploded
    * and null-filtered. A union-of-filtered-branches shape would
    * re-execute the upstream labeled/docs pipeline once per branch —
    * Spark shares no common subtrees across union arms — which at sf0.1
    * multiplied the whole classify chain 6-11x per graph query.
    */
  private def emit(df: DataFrame, candidates: Seq[org.apache.spark.sql.Column],
      fields: Seq[String]): DataFrame =
    df.select(explode(array(candidates: _*)).as("x"))
      .filter(col("x").isNotNull)
      .select(fields.map(f => col(s"x.$f").as(f)): _*)

  /** All six node labels, deduplicated on (label, key, uri). */
  def nodes(flatDocs: DataFrame, labeled: DataFrame): DataFrame = {
    val nullUri = lit(null).cast("string")
    def node(label: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
        uri: org.apache.spark.sql.Column) =
      struct(label.as("label"), key.as("key"), uri.as("uri"))

    // update_json converts every author/recipient name (O21) before URIs
    // are minted from the converted form (generate_uri.py:51-57).
    // The reference loops over present entities only (empty author list /
    // missing location emit nothing, json_to_db.py:84-95) -> null guards.
    val author = convertedAuthor("author")
    val recipient = convertedAuthor("recipient")
    val fromDocs = emit(flatDocs, Seq(
      node(lit("Document"), col("documentID"), nullUri),
      when(col("author").isNotNull,
        node(lit("Person"), author, Text.uriHash(author))),
      when(col("recipient").isNotNull,
        node(lit("Person"), recipient, Text.uriHash(recipient))),
      when(col("loc").isNotNull,
        node(lit("Place"), col("loc"), Text.uriHash(col("loc")))),
      when(col("date_from").isNotNull && col("date_from") =!= "",
        node(lit("Date"), col("date_from"), nullUri)),
      when(col("date_to").isNotNull && col("date_to") =!= "",
        node(lit("Date"), col("date_to"), nullUri))),
      Seq("label", "key", "uri"))

    val mainLabel = when(col("main_type") === "person", "Person")
      .when(col("main_type") === "place", "Place")
      .when(col("main_type") === "organization", "Organization")
      .otherwise("Term")
    val fromLabeled = emit(labeled, Seq(
      node(mainLabel, col("main"),
        when(col("main_type") =!= "term", Text.uriHash(col("main")))),
      when(col("midsub").isNotNull && col("midsub") =!= "",
        node(lit("Term"), col("midsub"), nullUri)),
      when(col("sub").isNotNull && col("sub") =!= "",
        node(lit("Term"), col("sub"), nullUri))),
      Seq("label", "key", "uri"))

    fromDocs.union(fromLabeled).distinct()
  }

  /** All eleven edge types, deduplicated on (src, dst, type). */
  def edges(flatDocs: DataFrame, labeled: DataFrame): DataFrame = {
    def edge(src: org.apache.spark.sql.Column, dst: org.apache.spark.sql.Column,
        typ: org.apache.spark.sql.Column) =
      struct(src.as("src"), dst.as("dst"), typ.as("type"))

    val author = convertedAuthor("author")
    val recipient = convertedAuthor("recipient")
    val fromDocs = emit(flatDocs, Seq(
      when(col("author").isNotNull,
        edge(Text.uriHash(author), col("documentID"), lit("AUTHOR"))),
      when(col("recipient").isNotNull,
        edge(Text.uriHash(recipient), col("documentID"), lit("RECIPIENT"))),
      when(col("loc").isNotNull,
        edge(Text.uriHash(col("loc")), col("documentID"), lit("LOCATION"))),
      when(col("date_from").isNotNull && col("date_from") =!= "",
        edge(col("documentID"), col("date_from"), lit("DATE_FROM"))),
      when(col("date_to").isNotNull && col("date_to") =!= "",
        edge(col("documentID"), col("date_to"), lit("DATE_TO")))),
      Seq("src", "dst", "type"))

    // Parent matched by `term` property -> MIDSUB/SUB only under
    // term-typed mains (see class doc); child is the midsub/sub string.
    val isTerm = col("main_type") === "term"
    val fromLabeled = emit(labeled, Seq(
      when(!isTerm,
        edge(Text.uriHash(col("main")), col("documentID"),
          concat(lit("HAS_"), upper(col("main_type"))))),
      when(isTerm,
        edge(col("documentID"), col("main"), lit("HAS_TERM"))),
      when(isTerm && col("midsub").isNotNull && col("midsub") =!= "",
        edge(col("main"), col("midsub"), lit("MIDSUB"))),
      when(isTerm && col("sub").isNotNull && col("sub") =!= "",
        edge(col("main"), col("sub"), lit("SUB")))),
      Seq("src", "dst", "type"))

    fromDocs.union(fromLabeled).distinct()
  }

  /** Partitioned graph sink (O29): one parquet dataset per label/type,
    * written in save `mode` ("append" for incremental deltas).
    */
  def writeGraph(nodesDf: DataFrame, edgesDf: DataFrame, outDir: String,
      mode: String = "overwrite"): Unit = {
    nodesDf.write.mode(mode).partitionBy("label").parquet(s"$outDir/nodes")
    edgesDf.write.mode(mode).partitionBy("type").parquet(s"$outDir/edges")
  }
}
