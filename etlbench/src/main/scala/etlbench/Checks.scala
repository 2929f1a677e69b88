package etlbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Classify, Corpus, Graph}

/** Output checks. A pass whose output fails a check counts as failed. */
object Checks {

  final case class Counts(docs: Long, nodes: Long, edges: Long)

  /** The relational path over the same tables the corpus was written
    * from: Corpus -> Classify -> Graph, with the default classifier. Its
    * flat documents and labelled triples are cached, since both the
    * nodes and the edges read them; `release` drops them.
    */
  final class Relational(spark: SparkSession, dataDir: String) {
    private val flat = Corpus.flatDocs(spark, dataDir).persist()
    private val labeled = {
      val triples = Corpus.indexTriples(spark, dataDir)
      val known = Classify.knownEntities(flat)
      val api = Classify.apiMap(Classify.allTerms(triples), known, Classify.RuleClassifier)
      Classify.labelTriples(triples, known, api).persist()
    }
    def nodes: DataFrame = Graph.nodes(flat, labeled)
    def edges: DataFrame = Graph.edges(flat, labeled)
    def release(): Unit = Seq(flat, labeled).foreach(_.unpersist())
  }

  private val docIdSchema = StructType.fromDDL("documentID STRING")

  /** Distinct documents in an output directory. */
  def outputDocs(spark: SparkSession, outDir: String): Long =
    spark.read.schema(docIdSchema).json(s"$outDir/documents").distinct().count()

  /** The distinct rows of a frame, each as its (column, value) pairs in
    * column-name order, collected into this JVM. The frames checked hold
    * a few thousand rows at most.
    */
  def rowSet(df: DataFrame): Set[Seq[(String, Any)]] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(df.col): _*).collect().map(r => cols.zip(r.toSeq)).toSet
  }
}
