package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint for the EagerWrites contract (round-17). The
  * three scale guards sweep builder-side-effect plans only where they
  * are REGISTERED — [[graft.pipeline.EagerWrites.run]] for eager
  * builder writes, `Staged.spillThrough` for staged artifacts (their
  * build plans land in `Staged.recordedBuildPlans`),
  * `StreamRuns.stagedGeneration` for the stream feed trees. A future
  * `.write`/`.save` call site added to a query or pipeline builder
  * WITHOUT routing through one of those silently re-opens the
  * round-15 disclosure: the write's plan is correctness-gated but
  * never plan-swept. No runtime hook can see such a site (the write
  * executes outside every registry by definition), so this gate works
  * at the source level: it freezes the current inventory of
  * plan-executing write call sites under ALL of
  * `src/main/scala/graft` (round 18 — two hand-picked subdirectories
  * left every other package an escape hatch, per ADVICE) and fails on
  * any NEW one, forcing the author to either register the write or
  * defend a new inventory row in review.
  *
  * Every frozen entry is one of:
  *  - a sink-by-contract: the write IS the operator under test
  *    (sink_*, scan_* fixture staging, manifest/compaction queries,
  *    the graph sink O25-O29, the XML corpus fixture) and its input
  *    frame is part of the query's oracle-replayed semantics — the
  *    returned plan reads the sink back, and the written frame is the
  *    same bounded builder the oracle recomputes;
  *  - a registered staging path (Stages.spillThrough — swept via
  *    recordedBuildPlans by StagedBuildGuardSpec; `Staged.layout` —
  *    a query fixture's file layout, committed as a generation, whose
  *    frames are the sink-by-contract inputs above);
  *  - an EagerWrites.run call site itself
  *    (Pipeline.scala:pipeline_batch_envelope);
  *  - the streaming harness's foreachBatch/feed writes (stream_*
  *    queries are exempt from the three guards by disclosed scope;
  *    their staged inputs are swept at generation time through
  *    StreamRuns).
  *
  * Excluded from matching: `connector.write` (DSv2 API package
  * names), `java.nio.file.Files.write` (driver-side bytes — no plan
  * executes), comment/scaladoc lines, and `.writeStream` starts (the
  * stream itself; its batch-side writes still match).
  */
class EagerWriteLintSpec extends AnyFunSuite {

  private val Root = "src/main/scala/graft"

  /** file-basename:enclosing-context -> call-site count. Context is
    * the nearest preceding top-level construct (a `QDef("name"` row or
    * a <=4-space-indented def/object), so local helpers inside a query
    * body attribute to their query. UPDATING THIS MAP IS A REVIEW
    * EVENT: a new row must name which contract above it satisfies, or
    * the write must route through EagerWrites.run / Staged /
    * StreamRuns instead.
    */
  private val Frozen: Map[String, Int] = Map(
    "Graph.scala:writeGraph" -> 2, // graph sink by contract (O25-O29)
    "Pipeline.scala:pipeline_batch_envelope" -> 1, // the EagerWrites.run site
    "Relational.scala:bucketedTables" -> 2, // bucketed CTAS staging, plan = oracle-replayed projections
    // Query fixture layouts committed through Staged.layout (sink-by-contract):
    "Relational.scala:docsNested" -> 1,
    "Relational.scala:eventDim" -> 1,
    "Relational.scala:eventsPartitioned" -> 1,
    "Relational.scala:eventsTextlog" -> 1,
    "Relational.scala:gtsvFiles" -> 1,
    "Relational.scala:manifestGc" -> 1,
    "Relational.scala:manifestSink" -> 2,
    "Relational.scala:manifestVersions" -> 1,
    "Relational.scala:scan_csv_docs" -> 1,
    "Relational.scala:scan_fixed_width" -> 1,
    "Relational.scala:scan_json_corrupt" -> 1,
    "Relational.scala:scan_json_docs" -> 1,
    "Relational.scala:scan_orc_docs" -> 1,
    "Relational.scala:scan_parquet_schema_merge" -> 2,
    "Relational.scala:sink_compacted" -> 1,
    "Relational.scala:sink_csv_roundtrip" -> 1,
    "Relational.scala:sink_dynamic_overwrite" -> 2,
    "Relational.scala:sink_jsonl_sharded" -> 1,
    "Relational.scala:sink_parquet_partitioned" -> 1,
    "Stages.scala:spillThrough" -> 1, // registered: recordedBuildPlans sweep
    "Streaming.scala:applyFeed" -> 1, // foreachBatch CDC merge (stream scope)
    "Streaming.scala:stream_file_ingest" -> 1,
    "XmlDocs.scala:writeCorpusXml" -> 2, // deterministic XML fixture staging
    // Rows below entered with the round-18 widening to all of graft/:
    "StreamRuns.scala:stageAsFiles" -> 1, // registered: the stagedGeneration write itself (swept at generation time)
    "StreamRuns.scala:stageAsPartitionedTree" -> 1, // registered: same
    "Engine.scala:writeBatch" -> 1, // run/runIncremental's shared batch body: documents JSON sink by contract (O6); its graph goes through Graph.writeGraph
    "Verify.scala:run" -> 1, // driver-contract result dump (plan is the query under test)
    "GraftTsv.scala:write" -> 2, // DSv2 sink-by-contract writer entry point
    "GraftTsv.scala:writePartitioned" -> 2) // DSv2 key-grouped writer entry point

  private val QDefRe = """^\s{0,4}QDef\("([a-z0-9_]+)"""".r
  private val DefRe =
    """^\s{0,4}(?:private\s+|private\[[a-z]+\]\s+)?(?:def|object)\s+([A-Za-z0-9_]+)""".r
  private val CallRe = """\.(write|writeTo|save)\b""".r

  /** Extract `basename:context -> count` for one source file's text —
    * factored so the planted-bypass test can feed synthetic content.
    */
  private[graft] def sitesIn(baseName: String, content: String)
      : Map[String, Int] = {
    val lines = content.split("\n", -1)
    val hits = lines.indices.flatMap { i =>
      val l = lines(i)
      val t = l.trim
      val comment = t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      if (comment || l.contains("connector.write") ||
          l.contains("Files.write") || CallRe.findFirstIn(l).isEmpty) None
      else {
        val ctx = (i to 0 by -1).iterator.flatMap { j =>
          QDefRe.findFirstMatchIn(lines(j)).map(_.group(1))
            .orElse(DefRe.findFirstMatchIn(lines(j)).map(_.group(1)))
        }.nextOption().getOrElse("?")
        Some(s"$baseName:$ctx")
      }
    }
    hits.groupBy(identity).view.mapValues(_.size).toMap
  }

  private def scalaFilesUnder(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
      .flatMap { f =>
        if (f.isDirectory) scalaFilesUnder(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }

  private def currentInventory: Map[String, Int] =
    scalaFilesUnder(new java.io.File(Root))
      .flatMap { f =>
        sitesIn(f.getName,
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

  test("every plan-executing write call site is frozen or registered") {
    val cur = currentInventory
    val added = cur.toSeq.filter { case (k, n) => Frozen.getOrElse(k, 0) < n }
    val removed = Frozen.toSeq.filter { case (k, n) => cur.getOrElse(k, 0) < n }
    assert(added.isEmpty,
      "NEW plan-executing write call sites (route through EagerWrites.run" +
        " / Staged / StreamRuns, or defend a new inventory row):\n  " +
        added.map { case (k, n) =>
          s"$k (${n - Frozen.getOrElse(k, 0)} new)" }.mkString("\n  "))
    // Removals must shrink the frozen map too, or a later re-addition
    // at the same context would pass unreviewed.
    assert(removed.isEmpty,
      "stale inventory rows (shrink the frozen map):\n  " +
        removed.map(_._1).mkString("\n  "))
  }

  test("a planted bypass write is caught") {
    val planted =
      """object Evil {
        |  def build(df: org.apache.spark.sql.DataFrame): Unit = {
        |    df.write.mode("overwrite").parquet("/tmp/x")
        |  }
        |}""".stripMargin
    val sites = sitesIn("Evil.scala", planted)
    assert(sites == Map("Evil.scala:build" -> 1),
      s"extractor missed the planted write: $sites")
    assert(Frozen.getOrElse("Evil.scala:build", 0) == 0)
  }

  test("the extractor skips comments, NIO writes, and DSv2 API names") {
    val content =
      """object Ok {
        |  // df.write.parquet("commented out")
        |  def meta(i: org.apache.spark.sql.connector.write.LogicalWriteInfo) = i
        |  def bytes(p: java.nio.file.Path): Unit = {
        |    java.nio.file.Files.write(p, "x".getBytes)
        |    ()
        |  }
        |}""".stripMargin
    assert(sitesIn("Ok.scala", content).isEmpty)
  }
}
