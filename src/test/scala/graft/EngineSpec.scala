package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.pipeline.{BatchClassifier, BatchClient, Classify, Corpus, NestedEnrich, Stages, XmlDocs}
import graft.streaming.StreamRuns

/** The rule transport, recording every term submitted to it. */
object RecordingTransport {
  val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def make(): BatchClient.Transport = {
    val rule = BatchClient.ruleTransport()
    new BatchClient.Transport {
      override def submit(batch: Seq[String]): String = {
        batch.foreach(received.add)
        rule.submit(batch)
      }
      override def status(jobId: String): String = rule.status(jobId)
      override def fetch(jobId: String): Seq[(String, String)] = rule.fetch(jobId)
    }
  }
}

/** The user-facing Engine facade end-to-end on reference-shaped XML:
  * batch run produces documents + graph, re-run is idempotent, its
  * counts are the rows it wrote and its caches do not outlive it, and
  * the incremental (streaming) variant reaches the same documents and
  * graph.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def stageXml(tag: String): String = {
    val docs = Corpus.flatDocs(spark, sf).orderBy("documentID").limit(60)
    val trip = Corpus.indexTriples(spark, sf)
      .join(docs.select("documentID"), Seq("documentID"))
    val dir = StreamRuns.fresh(tag)
    XmlDocs.writeCorpusXml(docs, trip, s"$dir/corpus.xml")
    dir
  }

  test("batch run: documents + partitioned graph, idempotent re-run") {
    val xmlDir = stageXml("engine-batch")
    val out = StreamRuns.fresh("engine-out")
    val engine = new Engine(spark)
    val (d, n, e) = engine.run(s"$xmlDir/*.xml", out)
    assert(d == 60 && n > 0 && e > 0)
    // MERGE idempotency (SURVEY §2.3-7): same input, same graph.
    val (d2, n2, e2) = engine.run(s"$xmlDir/*.xml", out)
    assert((d2, n2, e2) == ((d, n, e)))
    // Partitioned sink layout (O29).
    assert(new java.io.File(s"$out/nodes").listFiles()
      .exists(_.getName.startsWith("label=")))
  }

  test("incremental run reaches the batch document set") {
    val xmlDir = stageXml("engine-inc")
    val out = StreamRuns.fresh("engine-inc-out")
    val q = new Engine(spark)
      .runIncremental(s"$xmlDir/*.xml", out, s"$out/_ckpt")
    q.awaitTermination()
    val streamed = spark.read.json(s"$out/documents")
    assert(streamed.select("documentID").distinct().count() == 60)
    assert(spark.read.parquet(s"$out/nodes")
      .filter(col("label") === "Document").count() == 60)
  }

  private def rowSet(df: DataFrame): Set[Row] = df.collect().toSet
  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("run returns the rows it wrote and drops its caches, also on failure") {
    val xmlDir = stageXml("engine-counts")
    val out = StreamRuns.fresh("engine-counts-out")
    val engine = new Engine(spark)
    val before = persisted
    val (d, n, e) = engine.run(s"$xmlDir/*.xml", out)
    assert(persisted == before)
    assert((d, n, e) == ((spark.read.json(s"$out/documents").count(),
      spark.read.parquet(s"$out/nodes").count(),
      spark.read.parquet(s"$out/edges").count())))
    // Unwritable: the output directory's parent is a regular file.
    val file = Files.createFile(Path.of(out, "plain-file"))
    intercept[Exception](engine.run(s"$xmlDir/*.xml", s"$file/out"))
    assert(persisted == before)
  }

  /** The 60-doc fixture as three XML files of 20 documents each. */
  private def stageXmlFiles(tag: String): Seq[Path] = {
    val flat = Corpus.flatDocs(spark, sf)
    val ids = flat.orderBy("documentID").limit(60).select("documentID")
      .collect().map(_.getString(0)).toSeq
    val dir = StreamRuns.fresh(tag)
    ids.grouped(20).zipWithIndex.map { case (group, i) =>
      val docs = flat.filter(col("documentID").isin(group: _*)).coalesce(1)
      val trip = Corpus.indexTriples(spark, sf)
        .filter(col("documentID").isin(group: _*))
      XmlDocs.writeCorpusXml(docs, trip, s"$dir/stage-$i")
      val parts = new java.io.File(s"$dir/stage-$i").listFiles()
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      assert(parts.length == 1, s"stage-$i: ${parts.map(_.getName).mkString(", ")}")
      Files.move(parts.head.toPath, Path.of(dir, s"corpus-$i.xml"))
    }.toSeq
  }

  test("incremental output over a restart equals the batch output") {
    val files = stageXmlFiles("engine-inc-eq")
    val in = StreamRuns.fresh("engine-inc-eq-in")
    val out = StreamRuns.fresh("engine-inc-eq-out")
    val engine = new Engine(spark)
    def arrive(f: Path): Unit = Files.move(f, Path.of(in, f.getFileName.toString))
    def stream(): Unit = {
      val q = engine.runIncremental(in, out, s"$out/_ckpt", filesPerTrigger = 2)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    files.take(2).foreach(arrive)
    stream()
    arrive(files(2))
    stream()

    val perDoc = spark.read.json(s"$out/documents").groupBy("documentID").count()
    assert(perDoc.count() == 60 && perDoc.filter(col("count") =!= 1).isEmpty)
    val batchOut = StreamRuns.fresh("engine-inc-eq-batch")
    engine.run(in, batchOut)
    for (g <- Seq("nodes", "edges"))
      assert(rowSet(spark.read.parquet(s"$out/$g").distinct()) ==
        rowSet(spark.read.parquet(s"$batchOut/$g")), g)
  }

  test("incremental labels come from each micro-batch's own known entities") {
    // Two one-document files: the first names Henry Knox as its
    // author, the second only as an index term.
    def doc(id: String, author: String, terms: String*): String =
      s"""<root><document><documentID>$id</documentID>
         |<documentTitle>$id</documentTitle>
         |<authors><author>$author</author></authors>
         |<indexing>${terms.map(t => s"<indexTerm><main>$t</main></indexTerm>").mkString}</indexing>
         |</document></root>
         |""".stripMargin
    val in = StreamRuns.fresh("engine-inc-labels-in")
    Files.writeString(Path.of(in, "a.xml"), doc("knox-author", "Knox, Henry"))
    Files.writeString(Path.of(in, "b.xml"), doc("knox-term", "Adams, John", "Knox, Henry"))
    // No classifier labels: a term's label comes from the known entities alone.
    val engine = new Engine(spark, new graft.pipeline.Classify.MockClassifier(Map.empty))
    def termsOf(out: String): Seq[(String, String)] =
      spark.read.json(s"$out/documents").filter(col("documentID") === "knox-term")
        .select(explode(col("indexing")).as("t")).select("t.term", "t.type")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq

    val batchOut = StreamRuns.fresh("engine-inc-labels-batch")
    engine.run(in, batchOut)
    assert(termsOf(batchOut) == Seq(("Henry Knox", "person")))

    val incOut = StreamRuns.fresh("engine-inc-labels-out")
    val q = engine.runIncremental(in, incOut, s"$incOut/_ckpt", filesPerTrigger = 1)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(termsOf(incOut) == Seq(("Knox, Henry", "term")))
  }

  test("enrich over the staged corpus equals its staged-label path and labels") {
    val st = Stages(spark, sf)
    val rule = Classify.RuleClassifier
    val enriched = NestedEnrich.enrich(st.nested, rule)
    assert(rowSet(enriched) == rowSet(NestedEnrich.enrich(st.nested, rule,
      labels = Some(Classify.labelTable(st.known, st.api)))))
    assert(rowSet(NestedEnrich.labeledTriples(enriched)) == rowSet(st.labeled))
  }

  /** The distinct normalized index terms of the XML at `path` that are
    * not known entities: what one batch over it should classify.
    */
  private def unknownNorms(path: String): Set[String] = {
    val docs = new Engine(spark).ingest(path)
    val triples = XmlDocs.toTriples(docs)
    val slots = triples.select(col("main").as("term")).union(triples
      .select(explode(array(col("midsub"), col("sub"))).as("term"))
      .filter(col("term") =!= ""))
    val known = Classify.knownEntities(XmlDocs.toFlatDocs(docs))
      .select("norm").collect().map(_.getString(0)).toSet
    slots.select(Text.normTerm(col("term"))).distinct()
      .collect().map(_.getString(0)).toSet -- known
  }

  private def submitted(): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    RecordingTransport.received.asScala.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
  }

  test("run and each micro-batch submit each unknown norm to the classifier once") {
    val files = stageXmlFiles("engine-classify-once")
    val in = StreamRuns.fresh("engine-classify-once-in")
    val perFile = files.map { f =>
      val moved = Files.move(f, Path.of(in, f.getFileName.toString))
      unknownNorms(moved.toString)
    }
    val engine = new Engine(spark,
      new BatchClassifier(() => RecordingTransport.make(), sleeper = _ => ()))

    RecordingTransport.received.clear()
    engine.run(in, StreamRuns.fresh("engine-classify-once-batch"))
    assert(submitted() == unknownNorms(in).map(_ -> 1).toMap)

    RecordingTransport.received.clear()
    val out = StreamRuns.fresh("engine-classify-once-inc")
    val q = engine.runIncremental(in, out, s"$out/_ckpt", filesPerTrigger = 1)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    assert(q.recentProgress.count(_.numInputRows > 0) == files.size)
    assert(submitted() == perFile.flatten.groupMapReduce(identity)(_ => 1)(_ + _))
  }
}
