package graft

import org.apache.spark.sql.{DataFrame, GraftShim, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Classify, Graph, NestedEnrich, XmlDocs}

/** User-facing facade: the reference's whole surface
  * (`run_pipeline.py <dir> [files…]`, run_pipeline.py:34-77) as one
  * object. A reference user switches by calling `run` (batch) or
  * `runIncremental` (per-file streaming ≙ the reference's
  * ProcessPoolExecutor fan-out, run_pipeline.py:105-109):
  *
  *   ingest (xml_to_json) -> enrich + URIs (json_classification,
  *   generate_uri) -> graph build + partitioned sink (json_to_db).
  *
  * Both entry points run one batch body, `writeBatch`: `run` over the
  * whole input in overwrite mode, `runIncremental` over each
  * micro-batch in append mode. Like the reference, which hands each
  * stage the previous stage's output on disk (run_pipeline.py:50-54),
  * the body computes every stage once per batch:
  *   - the parsed document model is persisted (MEMORY_AND_DISK), so
  *     the XML is parsed once for all three writes;
  *   - the enriched model (B3) is persisted and written as the
  *     documents JSON, and the graph is built from its labels
  *     ([[NestedEnrich.labeledTriples]]), so the classify chain runs
  *     once and the graph carries exactly the documents' labels;
  *   - row counts are observed on the writes themselves
  *     (`Dataset.observe`), not read back.
  * Both caches live for one batch and are dropped in a `finally`, also
  * when a write throws.
  *
  * A micro-batch is re-homed into this engine's session before the
  * body runs. Every streaming query runs in a cloned session, and
  * foreachBatch hands over a frame of that clone. Spark keys its
  * generated-class cache on (class loader, code), and under artifact
  * isolation (`spark.sql.artifact.isolation.enabled`, on by default)
  * tasks run under one class loader per session, so each stream start
  * would compile and JIT every whole-stage class again. Re-homed, the
  * batch's jobs run under the engine's session and hit the classes
  * earlier batches (and `run`) compiled.
  */
final class Engine(
    spark: SparkSession,
    classifier: Classify.Classifier = Classify.RuleClassifier) {

  /** Stage 1 (O1-O8): XML corpus → nested document model (B1). */
  def ingest(path: String): DataFrame =
    XmlDocs.toDocModel(XmlDocs.read(spark, path))

  /** Stages 2-3 (O12-O24): classify, precedence, convert names, URIs. */
  def enrich(docs: DataFrame): DataFrame =
    NestedEnrich.addUris(NestedEnrich.enrich(docs, classifier))

  /** Stage 4 (O25-O29): labeled property graph of `enrich(docs)`. */
  def graph(docs: DataFrame): (DataFrame, DataFrame) =
    graphOf(docs, enrich(docs))

  private def graphOf(docs: DataFrame, enriched: DataFrame): (DataFrame, DataFrame) = {
    val flat = XmlDocs.toFlatDocs(docs)
    val labeled = NestedEnrich.labeledTriples(enriched)
    (Graph.nodes(flat, labeled), Graph.edges(flat, labeled))
  }

  /** Full batch pipeline: enriched doc-model JSON + partitioned graph
    * parquet under outDir; returns the (docs, nodes, edges) rows
    * written.
    */
  def run(xmlPath: String, outDir: String): (Long, Long, Long) =
    writeBatch(ingest(xmlPath), outDir, "overwrite")

  /** Incremental variant: newly arriving XML files flow through the
    * same batch body inside foreachBatch; graph deltas append to the
    * sink (MERGE-keyed dedup happens inside each batch; cross-batch
    * idempotency = downstream dropDuplicates on read, the documented
    * lakehouse-MERGE stand-in — SURVEY §1.3).
    *
    * Known entities are harvested per micro-batch, from that batch's
    * documents alone. Labels equal `run`'s over the same files only
    * when every author, recipient or place mention of an entity
    * arrives in the same micro-batch as its index-term mentions: an
    * index term that names an author of a document in another batch
    * is classified on its own (e.g. "Knox, Henry" stays a `term`
    * where `run` gives the person "Henry Knox"). Appended batches are
    * never relabelled later.
    */
  def runIncremental(xmlDir: String, outDir: String, checkpoint: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    spark.readStream
      .format("xml")
      .option("rowTag", "document")
      .option("maxFilesPerTrigger", filesPerTrigger)
      .schema(XmlDocs.xmlSchema)
      .load(xmlDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val local = GraftShim.ofRows(spark, GraftShim.analyzed(raw))
        writeBatch(XmlDocs.toDocModel(local), outDir, "append")
        ()
      }
      .start()

  /** The batch body (see the class doc): `docs` enriched, graphed and
    * written under `outDir` in `mode`; returns the rows written.
    */
  private def writeBatch(docs: DataFrame, outDir: String, mode: String): (Long, Long, Long) =
    cached(docs) { parsed =>
      cached(enrich(parsed)) { enriched =>
        val (nodes, edges) = graphOf(parsed, enriched)
        val (d, n, e) = (Observation(), Observation(), Observation())
        def counted(df: DataFrame, o: Observation) = df.observe(o, count(lit(1)).as("rows"))
        counted(enriched, d).write.mode(mode).json(s"$outDir/documents")
        Graph.writeGraph(counted(nodes, n), counted(edges, e), outDir, mode)
        def rows(o: Observation) = o.get("rows").asInstanceOf[Long]
        (rows(d), rows(n), rows(e))
      }
    }

  /** `body` over `df` persisted; the cache is dropped afterwards unless
    * the caller had already cached the same plan.
    */
  private def cached[A](df: DataFrame)(body: DataFrame => A): A = {
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(df)
    finally if (owned) df.unpersist()
  }
}

/** CLI mirror of `python3 run_pipeline.py <dir> [files…]`
  * (run_pipeline.py:117-123): `graft.RunPipeline <xmlDirOrFile> <outDir>
  * [--incremental]`. With a directory and no explicit files, globs
  * *.xml (O31, run_pipeline.py:98-102).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.RunPipeline <xmlDirOrFile> <outDir> [--incremental]")
    val (in, outDir) = (args(0), args(1))
    val spark = SparkConfs.builder("graft-pipeline").getOrCreate()
    val path =
      if (new java.io.File(in).isDirectory) s"$in/*.xml" else in
    val engine = new Engine(spark)
    if (args.contains("--incremental")) {
      val q = engine.runIncremental(path, outDir, s"$outDir/_checkpoint")
      q.awaitTermination()
    } else {
      val (d, n, e) = engine.run(path, outDir)
      println(s"""{"documents":$d,"nodes":$n,"edges":$e}""")
    }
  }
}
