package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{BatchClassifier, BatchClient, XmlDocs}

/** Plan ratchet of the enrich stage, the batch body's classify chain.
  * Spark shares no subtree between two references to the same
  * aggregate over a cached relation (first test), so each step of
  * `Engine.enrich` over the persisted document model must appear in
  * its executed plan exactly once: the vocabulary aggregate, the
  * classifier, and a bounded number of exchanges.
  */
class EnrichPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Every node of an executed plan, AQE stages opened. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  private def count[T](ns: Seq[SparkPlan])(implicit t: scala.reflect.ClassTag[T]): Int =
    ns.count(t.runtimeClass.isInstance)

  test("AQE reuses a repeated aggregate's exchange, but not above a cached relation") {
    val in = java.nio.file.Files.createTempDirectory("enrich-plan").toString + "/t.parquet"
    spark.range(1000).selectExpr("id % 50 AS k", "id AS v").write.parquet(in)
    def selfJoin(src: DataFrame): Seq[SparkPlan] = {
      val agg = src.groupBy("k").count()
      executed(agg.as("a").join(agg.as("b"), "k"))
    }
    val plain = selfJoin(spark.read.parquet(in))
    assert((count[ShuffleExchangeExec](plain), count[ReusedExchangeExec](plain)) == ((1, 1)))
    val src = spark.read.parquet(in).persist()
    try {
      val cached = selfJoin(src)
      assert((count[ShuffleExchangeExec](cached), count[ReusedExchangeExec](cached)) == ((2, 0)),
        "AQE now reuses exchanges above a cached relation; revisit the Stages and Engine docs")
    } finally src.unpersist()
  }

  /** `n` documents of five index entries each, written as corpus XML:
    * one entry's main names the document's author, one its place.
    */
  private def corpusXml(n: Int): String = {
    val docs = spark.range(n).select(
      concat(lit("doc-"), col("id")).as("documentID"),
      concat(lit("Title "), col("id")).as("documentTitle"),
      lit("Papers").as("publicationName"), lit("S1").as("seriesName"),
      lit("V1").as("volumeInfo"), lit("UVA").as("publisher"),
      concat(lit("Author"), col("id") % 7, lit(", Ann")).as("author"),
      concat(lit("Recipient"), col("id") % 5, lit(", Bo")).as("recipient"),
      concat(lit("Place "), col("id") % 3).as("loc"),
      lit("1790-01-01").as("date_from"), lit("1790-01-02").as("date_to"))
    val triples = spark.range(n * 5L).select(
      concat(lit("doc-"), col("id") % n).as("documentID"),
      when(col("id") % 5 === 0, concat(lit("Author"), (col("id") % n) % 7, lit(", Ann")))
        .when(col("id") % 5 === 1, concat(lit("Place "), (col("id") % n) % 3))
        .otherwise(concat(lit("term "), col("id") % 23)).as("main"),
      concat(lit("brand "), col("id") % 11).as("midsub"),
      when(col("id") % 2 === 0, lit("")).otherwise(concat(lit("kind "), col("id") % 13)).as("sub"))
    val dir = java.nio.file.Files.createTempDirectory("enrich-plan-xml").toString
    XmlDocs.writeCorpusXml(docs, triples, s"$dir/corpus")
    s"$dir/corpus"
  }

  test("Engine.enrich runs the vocabulary aggregate and the classifier once") {
    val engine = new Engine(spark,
      new BatchClassifier(() => BatchClient.ruleTransport(), sleeper = _ => ()))
    val docs = engine.ingest(corpusXml(60)).persist()
    try {
      val plan = executed(engine.enrich(docs))
      assert(count[MapPartitionsExec](plan) == 1, "classifier")
      val vocabAggs = plan.collect {
        case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("norm") &&
            a.aggregateExpressions.exists(_.mode == Final) => a
      }
      assert(vocabAggs.size == 1, "vocabulary aggregate")
      // Five: the vocabulary shuffle, the lookup's broadcast of it, the
      // re-nest shuffle, and the re-join's shuffle of the documents
      // plus broadcast of the re-nested entries (planned as a sort-merge
      // join, since a mapPartitions classifier hides the vocabulary's
      // size, and turned into a broadcast join by AQE).
      val exchanges = count[ShuffleExchangeExec](plan) + count[BroadcastExchangeExec](plan)
      assert(exchanges <= 5, s"$exchanges exchanges")
    } finally docs.unpersist()
  }
}
