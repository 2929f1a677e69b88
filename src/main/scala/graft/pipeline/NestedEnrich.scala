package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ConvertNameExpr, Text}

/** Nested document-model enrichment: the faithful B1 -> B2 -> B3 stage
  * contracts (SURVEY §1.1) over the §1.1 nested schema, replacing the
  * reference's in-place dict mutation (update_json,
  * json_classification.py:220-281; add_uris_to_json,
  * generate_uri.py:29-67) with immutable typed DataFrames.
  *
  * Index order inside each document is load-bearing (first-wins dedup,
  * §2.3-3): the rebuild goes posexplode -> label joins -> re-nest via
  * array_sort on the position key, so the enriched array is in the
  * original document order even though the joins shuffle.
  */
object NestedEnrich {

  private val termObjDdl = "term STRING, type STRING"
  private val termObjUriDdl = "term STRING, type STRING, uri STRING"

  /** Known-entity harvest from the nested model (O13). Single-pass
    * multi-emit over one scan of the nested docs — per-arm unions would
    * re-execute the nested-model build (join + collect_list) per arm.
    */
  def knownEntities(docs: DataFrame): DataFrame =
    docs.select(explode(concat(
        transform(col("authors"), a =>
          struct(Text.normTerm(a.getField("name")).as("norm"),
            lit("person").as("type"))),
        transform(col("recipients"), r =>
          struct(Text.normTerm(r.getField("name")).as("norm"),
            lit("person").as("type"))),
        when(col("location").isNotNull,
          array(struct(Text.normTerm(col("location.name")).as("norm"),
            lit("place").as("type"))))
          .otherwise(array().cast("array<struct<norm: string, type: string>>"))))
        .as("x"))
      .select(col("x.norm").as("norm"), col("x.type").as("type"))
      .groupBy("norm").agg(max(col("type")).as("type"))

  /** B1 -> B2: classify index terms, apply label precedence, convert
    * person names (authors/recipients always), rebuild `indexing` as
    * typed term objects.
    *
    * `maps` optionally supplies already-staged (known, api) lookup
    * tables (their content is invariant between the nested and flat
    * corpus views — same entity fields, same distinct term set), so a
    * session that staged the flat pipeline does not re-derive the
    * classify chain here.
    */
  def enrich(docs: DataFrame, classifier: Classify.Classifier,
      maps: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val known = maps.map(_._1).getOrElse(knownEntities(docs))
    val triples = docs
      .select(col("documentID"), posexplode(col("indexing")))
      .select(col("documentID"), col("pos"),
        col("col.main").as("main"),
        col("col.midsub").as("midsub"),
        col("col.sub").as("sub"))
    val api = maps.map(_._2).getOrElse(
      Classify.apiMap(Classify.allTerms(triples), known, classifier))
    val labeled = Classify.labelTriples(triples, known, api)

    def subObj(f: String): Column =
      when(col(f) =!= "",
        struct(col(f).as("term"), col(s"${f}_type").as("type")))
        .otherwise(lit(null).cast(s"struct<$termObjDdl>"))

    val objs = labeled.select(col("documentID"), col("pos"),
      struct(
        col("main").as("term"),
        col("main_type").as("type"),
        subObj("midsub").as("midsub"),
        subObj("sub").as("sub")).as("obj"))
      .groupBy("documentID")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("obj")))),
        x => x.getField("obj")).as("indexing_enriched"))

    docs.drop("indexing")
      .join(objs, Seq("documentID"), "left_outer")
      .withColumn("indexing",
        coalesce(col("indexing_enriched"),
          array().cast(s"array<struct<term: string, type: string, " +
            s"midsub: struct<$termObjDdl>, sub: struct<$termObjDdl>>>")))
      .drop("indexing_enriched")
      .withColumn("authors",
        transform(col("authors"),
          a => struct(ConvertNameExpr.convertNameNative(a.getField("name")).as("name"))))
      .withColumn("recipients",
        transform(col("recipients"),
          r => struct(ConvertNameExpr.convertNameNative(r.getField("name")).as("name"))))
  }

  /** The enriched model's index entries back as [[Classify.labelTriples]]
    * rows (documentID, main, main_type, midsub, midsub_type, sub,
    * sub_type), so the graph reads the labels the documents carry
    * instead of running the classify chain a second time. Works on B2
    * and B3 alike; an absent midsub/sub object maps back to "" typed
    * 'term', as labelTriples types an empty one.
    */
  def labeledTriples(enriched: DataFrame): DataFrame = {
    def sub(f: String): Seq[Column] = Seq(
      coalesce(col(s"t.$f.term"), lit("")).as(f),
      coalesce(col(s"t.$f.type"), lit("term")).as(s"${f}_type"))
    enriched.select(col("documentID"), explode(col("indexing")).as("t"))
      .select(Seq(col("documentID"), col("t.term").as("main"),
        col("t.type").as("main_type")) ++ sub("midsub") ++ sub("sub"): _*)
  }

  /** B2 -> B3: mint URIs (generate_uri.py:29-67) — always for
    * authors/recipients/location, for index entities only when
    * type != 'term'; midsub/sub recursed. Term nodes stay uri-less
    * (§2.3-5).
    */
  def addUris(enriched: DataFrame): DataFrame = {
    def entityArr(c: String): Column =
      transform(col(c), e => struct(
        e.getField("name").as("name"),
        Text.uriHash(e.getField("name")).as("uri")))

    def subWithUri(t: Column, f: String): Column =
      when(t.getField(f).isNotNull,
        struct(
          t.getField(f).getField("term").as("term"),
          t.getField(f).getField("type").as("type"),
          when(t.getField(f).getField("type") =!= "term",
            Text.uriHash(t.getField(f).getField("term")))
            .otherwise(lit(null).cast("string")).as("uri")))
        .otherwise(lit(null).cast(s"struct<$termObjUriDdl>"))

    enriched
      .withColumn("authors", entityArr("authors"))
      .withColumn("recipients", entityArr("recipients"))
      .withColumn("location",
        when(col("location").isNotNull,
          struct(col("location.name").as("name"),
            Text.uriHash(col("location.name")).as("uri")))
          .otherwise(lit(null).cast("struct<name: string, uri: string>")))
      .withColumn("indexing",
        transform(col("indexing"), t => struct(
          t.getField("term").as("term"),
          t.getField("type").as("type"),
          when(t.getField("type") =!= "term", Text.uriHash(t.getField("term")))
            .otherwise(lit(null).cast("string")).as("uri"),
          subWithUri(t, "midsub").as("midsub"),
          subWithUri(t, "sub").as("sub"))))
  }
}
