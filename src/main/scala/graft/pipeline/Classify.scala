package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ConvertNameExpr, Text}

/** The classification stage of the reference pipeline re-expressed as
  * set-oriented Spark plans (json_classification.py, SURVEY O13-O22).
  *
  * Design for scale (SURVEY §4.1): classification is applied to the
  * DISTINCT normalized term set, never per occurrence — the
  * distinct-before-expensive-enrichment rewrite is planned in, and the
  * known-entities map prunes the classifier's input via a broadcast
  * anti join before any (potentially external) classify call.
  */
object Classify {

  /** Pluggable classifier over the distinct unknown-term set:
    * input one column `norm`, output (`norm`, `type`).
    * Mirrors O17's service boundary — the LLM batch call in the
    * reference (json_classification.py:160-192) — as a trait so tests
    * replay fixtures (MockClassifier ≙ test_mode) and offline runs use
    * the deterministic rule classifier.
    */
  trait Classifier {
    def classify(norms: DataFrame): DataFrame

    /** Labels a vocabulary (`norm`, `entity`), where `entity` is the
      * norm's known-entity type or null, as the label table
      * (`norm`, `type`, `known`): a known entity keeps its entity type,
      * and only the other norms reach [[classify]] (a norm it gives no
      * label is left out). This default reads `vocab` twice, once per
      * branch of a union; a classifier that can label row by row
      * overrides it to read `vocab` once.
      */
    def labelVocabulary(vocab: DataFrame): DataFrame =
      labelTable(
        vocab.filter(col("entity").isNotNull).select(col("norm"), col("entity").as("type")),
        classify(vocab.filter(col("entity").isNull).select("norm")))
  }

  /** Deterministic, engine-portable rule classifier: labels by an
    * md5-derived hash of the normalized term, so the DuckDB oracle can
    * reproduce it exactly. Pure column expressions — stays inside
    * whole-stage codegen; no driver round-trip, no UDF.
    */
  object RuleClassifier extends Classifier {
    def labelExpr(norm: Column): Column =
      element_at(
        array(lit("person"), lit("place"), lit("organization"), lit("term")),
        (pmod(Text.md5Hash32(norm), lit(4L)) + 1).cast("int"))

    /** DuckDB spelling of [[labelExpr]] applied to a column named `norm`. */
    val labelSql: String =
      "['person','place','organization','term']" +
        "[(CAST(('0x' || substr(md5(norm), 1, 8)) AS BIGINT) % 4) + 1]"

    override def classify(norms: DataFrame): DataFrame =
      norms.select(col("norm"), labelExpr(col("norm")).as("type"))

    override def labelVocabulary(vocab: DataFrame): DataFrame = {
      val known = col("entity").isNotNull
      vocab.select(col("norm"),
        when(known, col("entity")).otherwise(labelExpr(col("norm"))).as("type"),
        known.as("known"))
    }
  }

  /** test_mode replay (json_classification.py:11-37,104-110): a recorded
    * norm->type map joined as a broadcast lookup; unknown terms fall out
    * and downstream precedence defaults them to 'term'.
    */
  final class MockClassifier(fixture: Map[String, String]) extends Classifier {
    override def classify(norms: DataFrame): DataFrame = {
      val s = norms.sparkSession
      import scala.jdk.CollectionConverters._
      val fixtureDf = s.createDataFrame(
        fixture.toSeq.map { case (n, t) => org.apache.spark.sql.Row(n, t) }.asJava,
        org.apache.spark.sql.types.StructType.fromDDL("norm STRING, type STRING"))
      norms.join(broadcast(fixtureDf), Seq("norm"), "inner")
    }
  }

  /** Known-entity harvest (O13, json_classification.py:313-320):
    * authors/recipients -> 'person', location -> 'place', keyed by the
    * normalized name. The reference builds a dict in author, recipient,
    * location write order, so 'place' overwrites 'person' on a
    * collision — max(type) reproduces that ('place' > 'person').
    */
  def knownEntities(flatDocs: DataFrame): DataFrame =
    // Single-pass multi-emit: three union arms would re-execute the
    // flatDocs join chain once per arm (no common-subtree sharing
    // across unions).
    flatDocs.select(explode(array(
        struct(Text.normTerm(col("author")).as("norm"), lit("person").as("type")),
        struct(Text.normTerm(col("recipient")).as("norm"), lit("person").as("type")),
        struct(Text.normTerm(col("loc")).as("norm"), lit("place").as("type"))))
        .as("x"))
      .select(col("x.norm").as("norm"), col("x.type").as("type"))
      .groupBy("norm")
      .agg(max(col("type")).as("type"))

  /** DuckDB CTE equivalent of [[knownEntities]] (expects `docs`). */
  val knownEntitiesSql: String =
    """known AS (
      SELECT norm, max(type) AS type FROM (
        SELECT lower(trim(regexp_replace(author, '\s+', ' ', 'g'))) AS norm, 'person' AS type FROM docs
        UNION ALL SELECT lower(trim(regexp_replace(recipient, '\s+', ' ', 'g'))), 'person' FROM docs
        UNION ALL SELECT lower(trim(regexp_replace(loc, '\s+', ' ', 'g'))), 'place' FROM docs)
      GROUP BY 1)"""

  /** O14: the distinct raw term-string set across main/midsub/sub —
    * a 3-way unpivot (`stack`) then distinct.
    */
  def allTerms(triples: DataFrame): DataFrame =
    triples.selectExpr("stack(3, main, midsub, sub) AS term")
      .filter(col("term").isNotNull)
      .distinct()

  val allTermsSql: String =
    """terms AS (
      SELECT DISTINCT term FROM (
        SELECT main AS term FROM triples
        UNION ALL SELECT midsub FROM triples
        UNION ALL SELECT sub FROM triples)
      WHERE term IS NOT NULL)"""

  /** O15 + O17 + O19: normalize the distinct terms, prune the known set
    * with an anti join, classify the rest, key the result map by the
    * normalized term. The known set carries NO broadcast hint: it is
    * entity-vocabulary-sized (grows with the corpus), so per repo
    * policy AQE broadcasts it while it fits and shuffles on the norm
    * key at scale — where the reference's in-memory dict would OOM,
    * this plan degrades to the right strategy instead.
    */
  def apiMap(terms: DataFrame, known: DataFrame, classifier: Classifier): DataFrame = {
    val unknown = terms
      .select(Text.normTerm(col("term")).as("norm"))
      .distinct()
      .join(known.select("norm"), Seq("norm"), "left_anti")
    classifier.classify(unknown)
  }

  /** DuckDB CTE equivalent of [[apiMap]] with the rule classifier
    * (expects `known` + `terms`).
    */
  val apiMapSql: String =
    s"""api AS (
      SELECT norm, ${RuleClassifier.labelSql} AS type FROM (
        SELECT DISTINCT lower(trim(regexp_replace(term, '\\s+', ' ', 'g'))) AS norm
        FROM terms t
        WHERE NOT EXISTS (
          SELECT 1 FROM known
          WHERE known.norm = lower(trim(regexp_replace(t.term, '\\s+', ' ', 'g'))))))"""

  /** The label table (`norm`, `type`, `known`) of a known-entity map
    * and the classifier's map over the other terms ([[apiMap]]): one
    * row per norm, as [[Classifier.labelVocabulary]] gives it.
    */
  def labelTable(known: DataFrame, api: DataFrame): DataFrame =
    known.select(col("norm"), col("type"), lit(true).as("known"))
      .unionByName(api.select(col("norm"), col("type"), lit(false).as("known")))

  /** O20 label precedence (json_classification.py:258-264) of one index
    * slot whose `term` found the label-table row (`label`, `known`),
    * both null on a miss:
    *   - main: known entity first, else the classifier, else 'term';
    *   - midsub/sub: the classifier only, 'term' when empty — so a
    *     midsub that IS a known entity still labels 'term', because
    *     known terms never reach the classifier (§2.3-4).
    * The one definition both the flat ([[labelTriples]]) and the
    * nested (`NestedEnrich.enrich`) paths label with.
    */
  def slotLabel(isMain: Column, term: Column, label: Column, known: Column): Column =
    when(!isMain && (term.isNull || term === "" || known), lit("term"))
      .otherwise(lower(coalesce(label, lit("term"))))

  /** O21: person-labeled terms get convert_name applied. */
  def convertIfPerson(term: Column, label: Column): Column =
    when(label === "person", ConvertNameExpr.convertNameNative(term)).otherwise(term)

  /** O20-O21 applied to the per-document triples: each of main, midsub
    * and sub looks its norm up in the one `known ∪ api` label table
    * ([[labelTable]]) and is labeled by [[slotLabel]]. The table is
    * bounded by the distinct-term count — a VOCABULARY bound that grows
    * with the corpus, so it carries no broadcast hint (repo policy: AQE
    * broadcasts it while it fits and shuffles the lookups on the norm
    * key at scale; the reference's equivalent in-memory dicts are the
    * thing that would not survive 100 TB). The fact table streams
    * through codegen'd joins either way.
    */
  def labelTriples(triples: DataFrame, known: DataFrame, api: DataFrame): DataFrame = {
    val table = labelTable(known, api)
    val labeled = Seq("main", "midsub", "sub").foldLeft(triples) { (df, f) =>
      val t = table.select(col("norm").as(s"${f}_norm"),
        col("type").as(s"${f}_label"), col("known").as(s"${f}_known"))
      df.join(t, Text.normTerm(col(f)) === t(s"${f}_norm"), "left_outer")
        .withColumn(s"${f}_type", slotLabel(lit(f == "main"), col(f),
          col(s"${f}_label"), col(s"${f}_known")))
    }
    // Pass every non-triple input column through.
    val passthrough = triples.columns
      .filterNot(Set("main", "midsub", "sub")).toSeq.map(col)
    labeled.select(passthrough ++ Seq("main", "midsub", "sub").flatMap(f => Seq(
      convertIfPerson(col(f), col(s"${f}_type")).as(f),
      col(s"${f}_type"))): _*)
  }

  /** DuckDB CTE equivalent of [[labelTriples]] on the synthetic corpus
    * (where convert_name is the identity — no names contain ", ").
    * Expects `triples`, `known`, `api`.
    */
  val labelTriplesSql: String =
    """labeled AS (
      SELECT t.documentID,
             t.main,
             lower(coalesce(k.type, am.type, 'term')) AS main_type,
             t.midsub,
             CASE WHEN t.midsub IS NULL OR t.midsub = '' THEN 'term'
                  ELSE lower(coalesce(amid.type, 'term')) END AS midsub_type,
             t.sub,
             CASE WHEN t.sub IS NULL OR t.sub = '' THEN 'term'
                  ELSE lower(coalesce(asub.type, 'term')) END AS sub_type
      FROM triples t
      LEFT JOIN known k ON lower(trim(regexp_replace(t.main, '\s+', ' ', 'g'))) = k.norm
      LEFT JOIN api am ON lower(trim(regexp_replace(t.main, '\s+', ' ', 'g'))) = am.norm
      LEFT JOIN api amid ON lower(trim(regexp_replace(t.midsub, '\s+', ' ', 'g'))) = amid.norm
      LEFT JOIN api asub ON lower(trim(regexp_replace(t.sub, '\s+', ' ', 'g'))) = asub.norm)"""
}
