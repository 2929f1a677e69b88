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
  * §2.3-3): the rebuild explodes every index slot with its entry
  * position, looks the slots up, and re-nests via array_sort on the
  * (position, slot) key, so the enriched array is in the original
  * document order even though the lookup shuffles.
  */
object NestedEnrich {

  private val termObjDdl = "term STRING, type STRING"
  private val termObjUriDdl = "term STRING, type STRING, uri STRING"

  /** The label table (`norm`, `type`, `known`) of a document model.
    * One scan and one groupBy(norm) harvest the known entities and the
    * distinct index-term norms together (O13-O15,
    * json_classification.py:313-320): authors and recipients are
    * 'person', the location 'place', and 'place' wins a collision,
    * since the reference writes the location last. The classifier then
    * labels the term norms that are not known entities, each once (O17,
    * json_classification.py:160-192). Only norms some index slot looks
    * up are kept: every main, and each midsub/sub that is not empty.
    */
  def vocabulary(docs: DataFrame, classifier: Classify.Classifier): DataFrame = {
    // One row per mention, flagged by role. Boolean flags, not type
    // strings, keep the max() aggregate a hash aggregate.
    def mentions(terms: Column, role: String): Column =
      transform(terms, t => struct(Text.normTerm(t).as("norm"),
        lit(role == "person").as("person"), lit(role == "place").as("place"),
        lit(role == "slot").as("slot")))
    val slotTerms = concat(
      transform(col("indexing"), _.getField("main")),
      filter(concat(transform(col("indexing"), _.getField("midsub")),
        transform(col("indexing"), _.getField("sub"))), _ =!= ""))
    val vocab = docs.select(explode(concat(
        mentions(col("authors.name"), "person"),
        mentions(col("recipients.name"), "person"),
        mentions(when(col("location").isNotNull, array(col("location.name")))
          .otherwise(array().cast("array<string>")), "place"),
        mentions(slotTerms, "slot"))).as("x"))
      .select("x.*")
      .filter(col("norm").isNotNull)
      .groupBy("norm")
      .agg(max(col("person")).as("person"), max(col("place")).as("place"),
        max(col("slot")).as("slot"))
      .filter(col("slot"))
      .select(col("norm"),
        when(col("place"), lit("place")).when(col("person"), lit("person")).as("entity"))
    classifier.labelVocabulary(vocab)
  }

  /** B1 -> B2: label every index slot, convert person names
    * (authors/recipients always), rebuild `indexing` as typed term
    * objects. Each step runs once per call: the label table
    * ([[vocabulary]], or `labels` when the caller already staged one,
    * e.g. [[Classify.labelTable]] over the flat pipeline's maps — their
    * content is the same for the nested and flat corpus views), one
    * lookup join of every (main, midsub, sub) slot against it with
    * [[Classify.slotLabel]], and one re-nest per document.
    */
  def enrich(docs: DataFrame, classifier: Classify.Classifier,
      labels: Option[DataFrame] = None): DataFrame = {
    val table = labels.getOrElse(vocabulary(docs, classifier))
    val slots = docs
      .select(col("documentID"), posexplode(col("indexing")))
      .select(col("documentID"), col("pos"), posexplode(array(
        col("col.main"), col("col.midsub"), col("col.sub"))).as(Seq("slot", "term")))
    val looked = slots
      .join(table, Text.normTerm(col("term")) === table("norm"), "left_outer")
      .select(col("documentID"), col("pos"), col("slot"), col("term"),
        Classify.slotLabel(col("slot") === 0, col("term"), col("type"), col("known"))
          .as("label"))
      .select(col("documentID"), struct(col("pos"), col("slot"),
        Classify.convertIfPerson(col("term"), col("label")).as("term"),
        col("label").as("type")).as("s"))

    // Sorted on (pos, slot), entry i's main, midsub and sub are slots
    // 3i, 3i+1 and 3i+2.
    def subObj(s: Column): Column =
      when(s.getField("term") =!= "",
        struct(s.getField("term").as("term"), s.getField("type").as("type")))
        .otherwise(lit(null).cast(s"struct<$termObjDdl>"))
    val objs = looked
      .groupBy("documentID")
      .agg(array_sort(collect_list(col("s"))).as("slots"))
      .select(col("documentID"),
        transform(filter(col("slots"), _.getField("slot") === 0), (m, i) => struct(
          m.getField("term").as("term"),
          m.getField("type").as("type"),
          subObj(col("slots").getItem(i * 3 + 1)).as("midsub"),
          subObj(col("slots").getItem(i * 3 + 2)).as("sub"))).as("indexing_enriched"))

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
