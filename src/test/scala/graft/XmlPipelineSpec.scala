package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipeline.{Classify, Graph, NestedEnrich, XmlDocs}

/** End-to-end reference semantics over a handcrafted XML fixture
  * (FIXTURES.md §A shape): paren strip, first-wins dedup in document
  * order, missing-element fallbacks, known-entity precedence, midsub
  * label isolation, convert_name on persons, URI rules, graph-build
  * traps, and MERGE idempotency (SURVEY §2.3).
  */
class XmlPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val fixtureXml =
    """<root>
      |<document>
      |  <documentID>d1</documentID>
      |  <documentTitle>Letter One</documentTitle>
      |  <projectInfo>
      |    <publicationName>Papers</publicationName>
      |    <seriesName>S1</seriesName>
      |    <volumeInfo>V1</volumeInfo>
      |    <publisher>UVA</publisher>
      |    <formats><type>print</type><type>digital</type></formats>
      |  </projectInfo>
      |  <authors><author>Washington, George</author></authors>
      |  <recipients><recipient>Adams, John</recipient></recipients>
      |  <dates><date-from>1790-05-10</date-from><date-to>1790-05-12</date-to></dates>
      |  <location><placeName> New York </placeName></location>
      |  <repositories><repository>LoC</repository></repositories>
      |  <indexing>
      |    <indexTerm><main>Congress (federal)</main><midsub>committees</midsub><sub>reports (draft)</sub></indexTerm>
      |    <indexTerm><main>Congress (federal)</main><midsub>committees</midsub><sub>reports (draft)</sub></indexTerm>
      |    <indexTerm><main>Congress (federal)</main><midsub>committees</midsub></indexTerm>
      |    <indexTerm><main>Washington, George</main></indexTerm>
      |    <indexTerm><main>Virginia</main></indexTerm>
      |    <indexTerm><main>taxes</main><midsub>New York</midsub></indexTerm>
      |  </indexing>
      |</document>
      |<document>
      |  <documentID>d2</documentID>
      |  <documentTitle>Letter Two</documentTitle>
      |  <authors><author>Steuben, Baron von</author></authors>
      |  <recipients></recipients>
      |  <dates><date-from>1791-01-01</date-from></dates>
      |  <indexing></indexing>
      |</document>
      |</root>
      |""".stripMargin

  private val mock = new Classify.MockClassifier(Map(
    "congress" -> "organization",
    "committees" -> "place", // midsub classified 'place' -> uri, still a Term node
    "virginia" -> "place",
    "reports" -> "term",
    "taxes" -> "term",
    "army" -> "organization",
    "wayne, anthony" -> "person",
    "greene, nathanael" -> "person",
    // known entities in casesXml: never asked, so never these labels
    "knox, henry" -> "organization",
    "boston" -> "organization"))
    // note: "new york" is a KNOWN entity (location) -> pruned from the
    // classifier input; as a midsub it must STILL label 'term' (§2.3-4)

  /** `xml` written to a fresh temp file; returns its path. */
  private def fixtureFile(xml: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-xml").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/fixture.xml"), xml)
    s"$dir/fixture.xml"
  }

  private lazy val docModel =
    XmlDocs.toDocModel(XmlDocs.read(spark, fixtureFile(fixtureXml))).cache()

  private lazy val b3 = NestedEnrich.addUris(NestedEnrich.enrich(docModel, mock))

  private def indexingOf(docId: String): Seq[Row] =
    b3.filter(col("documentID") === docId)
      .select(explode(col("indexing")).as("t")).select("t.*")
      .collect().toSeq

  test("doc model: paren strip + first-wins dedup in document order") {
    val terms = docModel.filter(col("documentID") === "d1")
      .select(explode(col("indexing")).as("t"))
      .select("t.main", "t.midsub", "t.sub")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(terms == Seq(
      ("Congress", "committees", "reports"),
      ("Congress", "committees", ""),
      ("Washington, George", "", ""),
      ("Virginia", "", ""),
      ("taxes", "New York", "")))
  }

  test("doc model: missing elements fall back like the reference") {
    val d2 = docModel.filter(col("documentID") === "d2").collect().head
    assert(d2.getAs[Row]("location") == null)
    assert(d2.getAs[Row]("projectInfo").getAs[String]("publisher") == null)
    assert(d2.getAs[scala.collection.Seq[Row]]("recipients").isEmpty)
    assert(d2.getAs[scala.collection.Seq[Row]]("indexing").isEmpty)
    assert(d2.getAs[Row]("dates").getAs[String]("date-to") == null)
  }

  test("enrich: precedence, midsub isolation, convert_name, uris") {
    val d1 = indexingOf("d1").map { r =>
      (r.getAs[String]("term"), r.getAs[String]("type"), r.getAs[String]("uri"),
        Option(r.getAs[Row]("midsub")).map(m =>
          (m.getString(0), m.getString(1), m.getString(2))))
    }
    // main: known beats api ('Washington, George' is a known person ->
    // converted + uri of the CONVERTED name); api labels Congress/Virginia;
    // midsub 'committees' -> api 'place' (uri attached, §2.4 recursion);
    // midsub 'New York' is known-place but midsub never consults known ->
    // pruned from api input -> falls back to 'term', NO uri.
    assert(d1 == Seq(
      ("Congress", "organization", "r35079197",
        Some(("committees", "place", "r5023761"))),
      ("Congress", "organization", "r35079197",
        Some(("committees", "place", "r5023761"))),
      ("George Washington", "person", "r88482195", None),
      ("Virginia", "place", "r72593898", None),
      ("taxes", "term", null, Some(("New York", "term", null)))))
  }

  test("enrich: authors/recipients converted incl. title quirk") {
    val rows = b3.orderBy("documentID")
      .select(expr("authors[0].name"), expr("authors[0].uri"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(
      ("George Washington", "r88482195"),
      ("Baron von  de Steuben", "r50750406")))
  }

  private lazy val flatDocs = XmlDocs.toFlatDocs(docModel)
  /** The flat path's (known, api) maps: the staged pipeline's labels. */
  private def maps(docs: org.apache.spark.sql.DataFrame) = {
    val known = Classify.knownEntities(XmlDocs.toFlatDocs(docs))
    (known, Classify.apiMap(Classify.allTerms(XmlDocs.toTriples(docs)), known, mock))
  }
  private def labeledOf(docs: org.apache.spark.sql.DataFrame) = {
    val (known, api) = maps(docs)
    Classify.labelTriples(XmlDocs.toTriples(docs), known, api)
  }
  private lazy val labeled = labeledOf(docModel)

  test("graph: Term nodes for every midsub/sub; no uri on Terms") {
    val nodes = Graph.nodes(flatDocs, labeled)
    val termKeys = nodes.filter(col("label") === "Term")
      .select("key", "uri").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // 'committees' is place-typed as a midsub but create_term still runs
    // (json_to_db.py:121-127); Terms never carry uris.
    assert(termKeys == Set(("committees", null), ("reports", null),
      ("taxes", null), ("New York", null)))
    val personKeys = nodes.filter(col("label") === "Person")
      .select("key").collect().map(_.getString(0)).toSet
    assert(personKeys == Set("George Washington", "John Adams",
      "Baron von  de Steuben"))
  }

  test("graph: MIDSUB/SUB edges only under term-typed parents") {
    val edges = Graph.edges(flatDocs, labeled)
    val subEdges = edges.filter(col("type").isin("MIDSUB", "SUB"))
      .select("src", "dst", "type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // Congress (organization) has midsub/sub children but relate_sub_term
    // matches the parent by a `term` property Person/Place/Organization
    // nodes lack -> only 'taxes' (term-typed) emits a MIDSUB edge.
    assert(subEdges == Set(("taxes", "New York", "MIDSUB")))
  }

  test("graph: MERGE idempotency — double build equals single build") {
    val n1 = Graph.nodes(flatDocs, labeled)
    val twice = Graph.nodes(flatDocs.union(flatDocs), labeled.union(labeled))
    assert(n1.count() == twice.count())
    assert(n1.exceptAll(twice).isEmpty && twice.exceptAll(n1).isEmpty)
    val e1 = Graph.edges(flatDocs, labeled)
    val eTwice = Graph.edges(flatDocs.union(flatDocs), labeled.union(labeled))
    assert(e1.exceptAll(eTwice).isEmpty && eTwice.exceptAll(e1).isEmpty)
  }

  /** Two authors; the second is also an index main term. Known entities
    * come from every author and recipient, so that term is a person.
    */
  private val twoAuthorsXml =
    """<root>
      |<document>
      |  <documentID>d3</documentID>
      |  <documentTitle>Letter Three</documentTitle>
      |  <authors><author>Hamilton, Alexander</author><author>Jefferson, Thomas</author></authors>
      |  <recipients><recipient>Madison, James</recipient></recipients>
      |  <indexing>
      |    <indexTerm><main>Jefferson, Thomas</main><midsub>letters</midsub></indexTerm>
      |    <indexTerm><main>taxes</main><midsub>Virginia</midsub><sub>reports</sub></indexTerm>
      |  </indexing>
      |</document>
      |</root>
      |""".stripMargin

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Row] = df.collect().toSet

  test("engine graph equals the graph of the nested labels, as sets") {
    val engine = new Engine(spark, mock)
    for (dm <- Seq(docModel,
        XmlDocs.toDocModel(XmlDocs.read(spark, fixtureFile(twoAuthorsXml))))) {
      val (nodes, edges) = engine.graph(dm)
      val (flat, lab) = (XmlDocs.toFlatDocs(dm), labeledOf(dm))
      assert(rowSet(nodes) == rowSet(Graph.nodes(flat, lab)))
      assert(rowSet(edges) == rowSet(Graph.edges(flat, lab)))
    }
  }

  test("graph labels an index term as the documents JSON does") {
    val out = java.nio.file.Files.createTempDirectory("graft-xml-out").toString
    new Engine(spark, mock).run(fixtureFile(twoAuthorsXml), out)
    val inJson = spark.read.json(s"$out/documents")
      .select(explode(col("indexing")).as("t"))
      .filter(col("t.term") === "Thomas Jefferson")
      .select("t.type", "t.uri").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(inJson.size == 1 && inJson.head._1 == "person" && inJson.head._2 != null)
    val inGraph = spark.read.parquet(s"$out/nodes")
      .filter(col("key") === "Thomas Jefferson")
      .select("label", "uri").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(inGraph == Seq(("Person", inJson.head._2)))
  }

  test("graph: every author has a Person node and an AUTHOR edge") {
    val out = java.nio.file.Files.createTempDirectory("graft-xml-out").toString
    new Engine(spark, mock).run(fixtureFile(twoAuthorsXml), out)
    val inJson = spark.read.json(s"$out/documents")
      .select(explode(col("authors")).as("a")).select("a.name", "a.uri").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // Names as convert_name gives them (its "de" quirk mangles Hamilton).
    assert(inJson.size == 2 && inJson.map(_._1).contains("Thomas Jefferson"))
    val persons = spark.read.parquet(s"$out/nodes").filter(col("label") === "Person")
      .select("key", "uri").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(inJson.subsetOf(persons))
    val authorSrcs = spark.read.parquet(s"$out/edges")
      .filter(col("type") === "AUTHOR" && col("dst") === "d3")
      .select("src").collect().map(_.getString(0)).toSet
    assert(authorSrcs == inJson.map(_._2))
  }

  /** The enrich cases the etlbench corpus never reaches (no index term
    * there names a known entity): entries out of alphabetical order, a
    * known author and place as main, midsub and sub, classifier-typed
    * persons as midsub and sub, empty midsub/sub, and a document with
    * no index terms.
    */
  private val casesXml =
    """<root>
      |<document>
      |  <documentID>d4</documentID>
      |  <documentTitle>Letter Four</documentTitle>
      |  <authors><author>Knox, Henry</author></authors>
      |  <location><placeName>Boston</placeName></location>
      |  <indexing>
      |    <indexTerm><main>war</main><midsub>Wayne, Anthony</midsub><sub>Greene, Nathanael</sub></indexTerm>
      |    <indexTerm><main>Knox, Henry</main></indexTerm>
      |    <indexTerm><main>army</main><midsub>Knox, Henry</midsub><sub>Boston</sub></indexTerm>
      |    <indexTerm><main>Boston</main><midsub>taxes</midsub></indexTerm>
      |  </indexing>
      |</document>
      |<document>
      |  <documentID>d5</documentID>
      |  <documentTitle>Letter Five</documentTitle>
      |  <authors><author>Knox, Henry</author></authors>
      |  <indexing></indexing>
      |</document>
      |</root>
      |""".stripMargin

  private lazy val casesModel =
    XmlDocs.toDocModel(XmlDocs.read(spark, fixtureFile(casesXml))).cache()

  /** Index entries as (term, type, midsub (term, type), sub (term, type)). */
  private def entries(enriched: org.apache.spark.sql.DataFrame, docId: String) = {
    def obj(r: Row) = Option(r).map(o => (o.getAs[String]("term"), o.getAs[String]("type")))
    enriched.filter(col("documentID") === docId).select("indexing").head()
      .getSeq[Row](0).map(r => (r.getAs[String]("term"), r.getAs[String]("type"),
        obj(r.getAs[Row]("midsub")), obj(r.getAs[Row]("sub"))))
  }

  test("enrich: known mains, term-typed known midsub/sub, converted persons, order") {
    val enriched = NestedEnrich.enrich(casesModel, mock)
    assert(entries(enriched, "d4") == Seq(
      ("war", "term", Some(("Anthony Wayne", "person")), Some(("Nathanael Greene", "person"))),
      ("Henry Knox", "person", None, None),
      ("army", "organization", Some(("Knox, Henry", "term")), Some(("Boston", "term"))),
      ("Boston", "place", Some(("taxes", "term")), None)))
    assert(entries(enriched, "d5").isEmpty)
  }

  test("enrich equals the staged-label path and the flat labels, as sets") {
    val models = Seq(docModel, casesModel,
      XmlDocs.toDocModel(XmlDocs.read(spark, fixtureFile(twoAuthorsXml))))
    for (dm <- models) {
      val enriched = NestedEnrich.enrich(dm, mock)
      val (known, api) = maps(dm)
      assert(rowSet(enriched) == rowSet(
        NestedEnrich.enrich(dm, mock, labels = Some(Classify.labelTable(known, api)))))
      assert(rowSet(NestedEnrich.labeledTriples(enriched)) == rowSet(labeledOf(dm)))
    }
  }
}
