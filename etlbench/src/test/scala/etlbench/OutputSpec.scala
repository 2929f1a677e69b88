package etlbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Corpus, XmlDocs}

/** Seeded inputs are reproducible, and every output check rejects a
  * deliberately corrupted output.
  */
class OutputSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = {
    val tmp = Files.createDirectories(java.nio.file.Path.of(sys.props("java.io.tmpdir")))
    Files.createTempDirectory(tmp, "etlbench-spec").toString
  }
  private lazy val spark: SparkSession = Session.start(2, work)
  private lazy val ctx = new Ctx(spark, work, 7L, "spec")

  /** A small corpus: 120 documents in 3 files. */
  private val Small = new XmlBatch(orders = 120, files = 3)
  private val SmallIncr = new XmlIncremental(orders = 120, files = 3)

  private def sameGraph(outDir: String, nodes: DataFrame, edges: DataFrame): Boolean =
    Checks.rowSet(spark.read.parquet(s"$outDir/nodes")) == Checks.rowSet(nodes) &&
      Checks.rowSet(spark.read.parquet(s"$outDir/edges")) == Checks.rowSet(edges)

  /** A pass followed by its own check, as a run makes it. */
  private def checkedPass(w: Workload, k: Int): Pass = w.check(ctx, inputs, k, w.pass(ctx, inputs, k))

  private lazy val inputs = {
    val in = s"$work/inputs"
    Small.generate(ctx, in)
    in
  }

  override def afterAll(): Unit = {
    Session.stop(spark)
    Gen.deleteTree(new File(work))
  }

  test("the same seed gives byte-identical corpora; another seed does not") {
    val again = s"$work/again"
    Small.generate(spark, 7L, again, ctx.tracer)
    assert(Gen.digest(Small.xmlDir(again)) == Gen.digest(Small.xmlDir(inputs)))
    val other = s"$work/other"
    Small.generate(spark, 8L, other, ctx.tracer)
    assert(Gen.digest(Small.xmlDir(other)) != Gen.digest(Small.xmlDir(inputs)))
    assert(new File(Small.xmlDir(inputs)).list().sorted.toSeq ==
      Seq("corpus-0.xml", "corpus-1.xml", "corpus-2.xml"))
  }

  test("the corpus reads back as the program's own XML writer writes it") {
    val viaProgram = s"$work/via-program"
    val data = Small.dataDir(inputs)
    XmlDocs.writeCorpusXml(Corpus.flatDocs(spark, data), Corpus.indexTriples(spark, data), viaProgram)
    val ours = Checks.rowSet(XmlDocs.read(spark, Small.xmlDir(inputs)))
    assert(ours.size == 120)
    assert(ours == Checks.rowSet(XmlDocs.read(spark, viaProgram)))
    // Every file holds the same number of documents.
    assert((0 until 3).map(i => XmlDocs.read(spark, s"${Small.xmlDir(inputs)}/corpus-$i.xml").count())
      .forall(_ == 40))
  }

  test("a batch pass matches the relational path, and corruption is caught") {
    val p = checkedPass(Small, 0)
    val (ref, same) = Small.verify(ctx, inputs, p)
    assert(ref.docs == 120)
    assert(p.out.contains(ref))
    assert(same)

    // Copy the output and corrupt one edge: same count, different set.
    val out = s"$work/out/batch"
    val bad = s"$work/out/bad"
    val edges = spark.read.parquet(s"$out/edges")
    val corrupted = edges.withColumn("dst",
      when(col("dst") === edges.select(min("dst")).head().getString(0), lit("x")).otherwise(col("dst")))
    spark.read.parquet(s"$out/nodes").write.partitionBy("label").parquet(s"$bad/nodes")
    corrupted.write.partitionBy("type").parquet(s"$bad/edges")
    val rel = new Checks.Relational(spark, Small.dataDir(inputs))
    assert(sameGraph(out, rel.nodes, rel.edges))
    assert(!sameGraph(bad, rel.nodes, rel.edges))
    rel.release()

    // A dropped node file changes the output.
    val label = new File(s"$out/nodes").listFiles().filter(_.getName.startsWith("label=")).head
    Gen.deleteTree(label)
    assert(!Small.verify(ctx, inputs, p)._2)
  }

  test("incremental output equals the relational reference, and corruption is caught") {
    val passes = (0 until Small.files).map(k => checkedPass(SmallIncr, k))
    assert(passes.forall(p => p.ok && p.opsS.size == 1))
    val (ref, same) = SmallIncr.verify(ctx, inputs, passes.last)
    assert(ref.docs == 120)
    assert(same)
    // A re-appended batch changes nothing once duplicates are dropped; a
    // foreign node does.
    val out = s"$work/incr/out"
    val nodes = spark.read.parquet(s"$out/nodes")
    nodes.limit(5).write.mode("append").partitionBy("label").parquet(s"$out/nodes")
    assert(SmallIncr.verify(ctx, inputs, passes.last) == (ref -> true))
    nodes.limit(1).withColumn("key", lit("not-in-the-corpus"))
      .write.mode("append").partitionBy("label").parquet(s"$out/nodes")
    assert(!SmallIncr.verify(ctx, inputs, passes.last)._2)
  }

  test("an incremental pass fails its own check when its file is not new") {
    // The file is already committed: the stream reads nothing new.
    Files.delete(java.nio.file.Path.of(s"$work/incr/in/corpus-0.xml"))
    assert(!checkedPass(SmallIncr, 0).ok)
  }

  test("rowSet compares distinct rows and column names, not column order") {
    import spark.implicits._
    val a = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    assert(Checks.rowSet(a) == Checks.rowSet(a.select("v", "k")))
    assert(Checks.rowSet(a) == Checks.rowSet(a.union(a)))
    assert(Checks.rowSet(a) != Checks.rowSet(Seq(("a", 1), ("b", 3)).toDF("k", "v")))
    assert(Checks.rowSet(a) != Checks.rowSet(a.limit(1)))
    assert(Checks.rowSet(a) != Checks.rowSet(a.withColumnRenamed("v", "w")))
  }
}
