package etlbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Engine
import graft.functions.Text
import graft.pipeline.{Classify, Graph, XmlDocs}

/** Everything a pass needs: the session, the probes attached to it, the
  * tracer and the run's directories.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long, runId: String) {
  val sparkCounters = new SparkCounters
  val streamCounters = new StreamCounters
  spark.sparkContext.addSparkListener(sparkCounters)
  spark.streams.addListener(streamCounters)
  val tracer = new Tracer(runId,
    (g: String, d: String) => spark.sparkContext.setJobGroup(g, d, interruptOnCancel = false),
    () => spark.sparkContext.clearJobGroup())
  val engine = new Engine(spark)
  def dir(sub: String): String = s"$work/$sub"
}

/** One pass. `pass` fills in what it measured: its wall seconds, the
  * counts of a complete output it returned, and the streaming query run
  * it started. `check` then adds, outside the measured window, the
  * seconds of each operation the pass made (the pass itself, or its
  * micro-batches), whether the pass's own checks held, and extra
  * per-pass numbers.
  */
final case class Pass(wallS: Double, out: Option[Checks.Counts] = None,
    query: Option[java.util.UUID] = None, opsS: Seq[Double] = Nil, ok: Boolean = true,
    info: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Documents in the seeded corpus and the files it is written as. */
  def orders: Int
  def files: Int
  /** Settled passes a run makes at most. */
  def maxPasses: Int = Int.MaxValue

  def dataDir(inputs: String): String = s"$inputs/tables"
  def xmlDir(inputs: String): String = s"$inputs/xml"

  /** Write the seeded tables and the XML corpus under `inputs`. */
  def generate(ctx: Ctx, inputs: String): Unit = generate(ctx.spark, ctx.seed, inputs, ctx.tracer)

  def generate(spark: SparkSession, seed: Long, inputs: String, t: Tracer): Unit = {
    val rows = new Gen.Rows(seed, Gen.Sizes(orders))
    t.span("gen.tables")(Gen.tables(spark, rows, dataDir(inputs)))
    t.span("gen.corpus")(Gen.corpus(rows, xmlDir(inputs), files))
  }

  /** Pass `k`: only the program's own work, which is measured. */
  def pass(ctx: Ctx, inputs: String, k: Int): Pass

  /** Complete pass `k`'s record and check its output. This runs after
    * the pass's telemetry is taken, so its own Spark jobs and file scans
    * are not counted as the program's.
    */
  def check(ctx: Ctx, inputs: String, k: Int, p: Pass): Pass

  /** The directory the passes write their output to. */
  def out(ctx: Ctx): String

  /** The reference is the relational path (Corpus -> Classify -> Graph)
    * over the same tables, which must hold one document per seeded
    * order. Returns its counts (distinct nodes and edges), which every
    * complete pass output must match, and whether the output the last
    * pass left equals it: its counts (the pass's own, or else the
    * output's distinct rows), and its nodes and edges as sets.
    */
  def verify(ctx: Ctx, inputs: String, last: Pass): (Checks.Counts, Boolean) = {
    val spark = ctx.spark
    val rel = new Checks.Relational(spark, dataDir(inputs))
    val (refNodes, refEdges) =
      try (Checks.rowSet(rel.nodes), Checks.rowSet(rel.edges))
      finally rel.release()
    // One Document node per document of the relational path.
    val docs = refNodes.count(_.contains("label" -> "Document")).toLong
    val nodes = Checks.rowSet(spark.read.parquet(s"${out(ctx)}/nodes"))
    val edges = Checks.rowSet(spark.read.parquet(s"${out(ctx)}/edges"))
    val ref = Checks.Counts(docs, refNodes.size.toLong, refEdges.size.toLong)
    val counts = last.out.getOrElse(
      Checks.Counts(Checks.outputDocs(spark, out(ctx)), nodes.size.toLong, edges.size.toLong))
    (ref, docs == orders && counts == ref && nodes == refNodes && edges == refEdges)
  }

  /** Input of the traced layer measurements. */
  def layerInput(inputs: String): String
}

object Workloads {
  val all: Seq[Workload] = Seq(new XmlBatch(orders = 400, files = 8),
    new XmlIncremental(orders = 100, files = 2))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Traced layer seconds: each layer's public output forced to a noop
    * sink with its input already materialized. `plan.s` is the time to
    * force the layers' executed plans before their actions.
    */
  def layers(ctx: Ctx, xmlPath: String): Map[String, Double] = {
    val t = ctx.tracer
    var planS = 0.0
    def timed(name: String)(dfs: => Seq[DataFrame]): (String, Double) = {
      val t0 = System.nanoTime()
      t.span(name) {
        dfs.foreach { df =>
          val p0 = System.nanoTime()
          t.span("plan")(df.queryExecution.executedPlan)
          planS += (System.nanoTime() - p0) / 1e9
          noop(df)
        }
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    t.span("layers") {
      val parse = timed("xmldocs.parse_s")(Seq(ctx.engine.ingest(xmlPath)))
      val docs = t.span("materialize") {
        val d = ctx.engine.ingest(xmlPath).persist()
        d.count()
        d
      }
      val flat = XmlDocs.toFlatDocs(docs)
      val triples = XmlDocs.toTriples(docs)
      val known = Classify.knownEntities(flat)
      val terms = Classify.allTerms(triples)
      val api = Classify.apiMap(terms, known, Classify.RuleClassifier)
      val classify = timed("classify.s")(Seq(Classify.labelTriples(triples, known, api)))
      val enrich = timed("enrich.s")(Seq(ctx.engine.enrich(docs)))
      val graph = timed("graph.s") {
        val (n, e) = ctx.engine.graph(docs)
        Seq(n, e)
      }
      val enriched = ctx.engine.enrich(docs).persist()
      val (n0, e0) = ctx.engine.graph(docs)
      val nodes = n0.persist()
      val edges = e0.persist()
      t.span("materialize") { enriched.count(); nodes.count(); edges.count() }
      val out = ctx.dir("layers/sink")
      val sink = {
        val t0 = System.nanoTime()
        t.span("sink.write_s") {
          enriched.write.mode("overwrite").json(s"$out/documents")
          Graph.writeGraph(nodes, edges, out)
        }
        "sink.write_s" -> (System.nanoTime() - t0) / 1e9
      }
      val unknown = t.span("count") {
        val distinctTerms = terms.select(Text.normTerm(col("term"))).distinct().count()
        api.count().toDouble / math.max(1L, distinctTerms)
      }
      Seq(enriched, nodes, edges, docs).foreach(_.unpersist(true))
      Map(parse, classify, enrich, graph, sink, "plan.s" -> planS,
        "classify.unknown_share" -> unknown)
    }
  }
}

/** `Engine.run` over the whole seeded corpus: the reference's own batch
  * job, XML files in, document JSON plus partitioned graph out.
  */
final class XmlBatch(val orders: Int, val files: Int) extends Workload {
  val name = "xml_batch"

  def out(ctx: Ctx): String = ctx.dir("out/batch")

  def pass(ctx: Ctx, inputs: String, k: Int): Pass = {
    val t0 = System.nanoTime()
    val (d, n, e) = ctx.tracer.span("engine.run")(ctx.engine.run(xmlDir(inputs), out(ctx)))
    Pass((System.nanoTime() - t0) / 1e9, out = Some(Checks.Counts(d, n, e)))
  }

  /** Its counts are checked against the reference in `verify`. */
  def check(ctx: Ctx, inputs: String, k: Int, p: Pass): Pass = {
    val (bytes, nfiles) = Gen.sizeOf(out(ctx))
    p.copy(opsS = Seq(p.wallS), info = Map(
      "xml_bytes" -> Gen.sizeOf(xmlDir(inputs))._1.toDouble,
      "sink_files" -> nfiles.toDouble, "sink_bytes" -> bytes.toDouble))
  }

  def layerInput(inputs: String): String = xmlDir(inputs)
}

/** `Engine.runIncremental` as files arrive. Every pass copies the next
  * seeded file into the watched directory and runs the stream from the
  * same checkpoint until AvailableNow has committed it, appending to the
  * same output. One pass is one micro-batch of one new file: how long a
  * new file takes to reach the graph. It runs the same stage functions
  * as [[XmlBatch]]. A run makes one pass per file, so the last pass
  * leaves every file committed.
  */
final class XmlIncremental(val orders: Int, val files: Int) extends Workload {
  val name = "xml_incremental"
  override val maxPasses: Int = files - 1

  private def in(ctx: Ctx) = ctx.dir("incr/in")
  def out(ctx: Ctx): String = ctx.dir("incr/out")
  private def ckpt(ctx: Ctx) = ctx.dir("incr/ckpt")

  def pass(ctx: Ctx, inputs: String, k: Int): Pass = {
    val file = new File(xmlDir(inputs), s"corpus-$k.xml")
    Files.createDirectories(Path.of(in(ctx)))
    Files.copy(file.toPath, Path.of(in(ctx), file.getName))
    val t0 = System.nanoTime()
    val q = ctx.tracer.span("engine.runIncremental")(
      ctx.engine.runIncremental(in(ctx), out(ctx), ckpt(ctx), filesPerTrigger = 1))
    ctx.tracer.span("stream.await")(q.awaitTermination())
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    Pass(wall, query = Some(q.runId))
  }

  /** Exactly one micro-batch read input. The output is complete only
    * after the last pass; `verify` checks it, every document included.
    */
  def check(ctx: Ctx, inputs: String, k: Int, p: Pass): Pass = {
    val trig = p.query.map(ctx.streamCounters.triggers(_)).getOrElse(Nil).filter(_.rows > 0)
    val (bytes, nfiles) = Gen.sizeOf(out(ctx))
    val ok = trig.size == 1
    p.copy(opsS = trig.map(_.triggerMs / 1000.0), ok = ok, info = Map(
      "xml_bytes" -> new File(xmlDir(inputs), s"corpus-$k.xml").length.toDouble,
      "sink_files" -> nfiles.toDouble, "sink_bytes" -> bytes.toDouble,
      "start_stop_s" -> (p.wallS - trig.map(_.triggerMs).sum / 1000.0),
      "addbatch_s" -> Stats.medianOr0(trig.map(_.addBatchMs / 1000.0)),
      "overhead_s" -> Stats.medianOr0(trig.map(t => (t.triggerMs - t.addBatchMs) / 1000.0))))
  }

  /** One file: a micro-batch's worth of input. */
  def layerInput(inputs: String): String = s"${xmlDir(inputs)}/corpus-0.xml"
}
