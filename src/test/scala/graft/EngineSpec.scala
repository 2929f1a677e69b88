package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Corpus, XmlDocs}
import graft.streaming.StreamRuns

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
}
