package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftTsv

/** The DSv2 connector's two scale contracts, pinned: file skipping
  * against the header zone maps (a selective doc_id read must not open
  * every file) and column pruning (the scan's output schema is the
  * projection, so readers never materialize the text payload).
  */
class GraftTsvSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val dir: String = {
    val out = graft.queries.QDef.scratch("gtsv_spec/files")
    GraftTsv.write(spark.read.parquet(s"$sf/documents.parquet"), out, 8)
    out
  }

  test("escape round-trips tabs, newlines, and backslashes") {
    for (s <- Seq("a\tb", "a\nb", "a\\tb", "a\\\\n", "", "plain", "\\"))
      assert(GraftTsv.unesc(GraftTsv.esc(s)) === s, s"roundtrip of <$s>")
  }

  test("values match the parquet baseline, full scan") {
    val got = spark.read.format("graft-tsv").load(dir)
      .orderBy("doc_id").collect()
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source", "n_chars", "text")
      .orderBy("doc_id").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("doc_id range filter skips non-overlapping files") {
    val df = spark.read.format("graft-tsv").load(dir)
      .filter(col("doc_id") >= 10 && col("doc_id") < 15)
    val before = GraftTsv.filesOpened.get()
    val rows = df.collect()
    val opened = GraftTsv.filesOpened.get() - before
    assert(rows.length === 5)
    // 50 docs range-partitioned into 8 files -> a 5-id range overlaps
    // at most 2 zone maps; opening all 8 means skipping is broken.
    assert(opened <= 2, s"opened $opened of 8 files for a 5-id range")
  }

  test("runtime join filter prunes files: DSv2 DPP reaches the zone maps") {
    import spark.implicits._
    val dimDir = graft.streaming.StreamRuns.fresh("gtsv-rtf-dim")
    // The selective predicate lives on a NON-KEY dim column (a join-key
    // predicate would be inferred onto the scan side and the runtime
    // filter would be judged useless — the InjectRuntimeFilter trap).
    (0L until 500L).map(i => (i, if (i >= 10 && i < 13) "hot" else "cold"))
      .toDF("doc_id", "temp").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("temp") === "hot")
    val fact = spark.read.format("graft-tsv").load(dir)
    val joined = fact.join(org.apache.spark.sql.functions.broadcast(dim), "doc_id")
    val before = GraftTsv.filesOpened.get()
    assert(joined.collect().length === 3)
    val opened = GraftTsv.filesOpened.get() - before
    // 500 ids range-partitioned into 8 files: the 3 hot ids live in ONE
    // zone. Without the runtime filter the scan has no static predicate
    // at all and opens all 8.
    assert(opened <= 1, s"opened $opened of 8 files under a 3-id runtime filter")
    // And the plan really carried a runtime filter into the v2 scan.
    val scans = PlanFlatten.flatten(joined.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    assert(scans.exists(_.runtimeFilters.nonEmpty),
      s"no runtime filter reached BatchScanExec:\n${joined.queryExecution.executedPlan}")
  }

  test("join_dsv2_runtime_prune plans the runtime filter from STATS, no hint") {
    // The QDef carries no broadcast() hint (BroadcastHintGuardSpec
    // would reject one on its corpus-growing dim): the parquet dim's
    // post-pushdown size estimate alone must drive the BHJ, and the
    // runtime filter must still reach the v2 scan. Pinned here so a
    // future conf change that silently demotes the join to SMJ (and
    // drops the file-level prune) fails loudly.
    val df = SparkEntry.queries("join_dsv2_runtime_prune")(spark, sf)
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(hinted.isEmpty, "join_dsv2_runtime_prune must stay hint-free")
    val scans = PlanFlatten.flatten(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    assert(scans.exists(_.runtimeFilters.nonEmpty),
      s"stats-driven plan lost the runtime filter:\n${df.queryExecution.executedPlan}")
  }

  test("V2 write enforces disjoint zone maps and leaves no temp files") {
    dir // force the write
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.toSeq.map(_.getFileName.toString).sorted
    assert(files.forall(_.endsWith(".gtsv")),
      s"two-phase commit must reap temps, saw $files")
    assert(files.size > 1, "expected multiple files")
    // RequiresDistributionAndOrdering (range on doc_id) is what makes
    // these ranges disjoint — read each header zone map and check.
    val spans = files.map { f =>
      val h = scala.io.Source.fromFile(s"$dir/$f")
      val parts = try h.getLines().next().split("\t") finally h.close()
      (parts(2).toLong, parts(3).toLong)
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping zone maps: $spans")
      case _ => ()
    }
  }

  test("streaming read drains AvailableNow in bounded micro-batches") {
    val nFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".gtsv"))
    val q = spark.readStream.format("graft-tsv")
      .option("maxFilesPerTrigger", "3").load(dir)
      .writeStream.format("memory").queryName("gtsv_stream_spec")
      .outputMode("append")
      .option("checkpointLocation",
        graft.streaming.StreamRuns.fresh("gtsv-spec-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val want0 = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(spark.table("gtsv_stream_spec").count() === want0)
    val fed = q.recentProgress.filter(_.numInputRows > 0)
    val want = (nFiles + 2) / 3
    assert(fed.length === want,
      s"expected $want admission-paced batches over $nFiles files, " +
        s"got ${fed.length}")
  }

  test("batch append is rejected: generations must not mix") {
    dir // force the write
    val src = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source", "n_chars", "text")
    val e = intercept[Exception] {
      src.write.format("graft-tsv").mode("append").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("overwrite")),
      s"expected the mode(\"overwrite\") contract error, got $e")
    // The rejected append must not have disturbed the existing generation.
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(files.forall(_.endsWith(".gtsv")), s"append left temps: $files")
  }

  test("null column values fail the write with the column name") {
    val out = graft.queries.QDef.scratch("gtsv_spec/nulls")
    val src = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.when(col("doc_id") === 3L, null)
          .otherwise(col("lang")).as("lang"),
        col("source"), col("n_chars"), col("text"))
    val e = intercept[Exception] {
      src.write.format("graft-tsv").mode("overwrite").save(out)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("cannot write null lang")),
      s"expected a named-column null error, got $e")
  }

  test("streaming offsets carry the listing fingerprint and reject remaps") {
    import graft.sources.GraftTsvOffset
    // json round-trip keeps the signature
    val o = GraftTsvOffset(3, "abcd0123")
    assert(o.json() === "3:abcd0123")
    // A rewritten directory (different names → different sig) must fail
    // planInputPartitions instead of silently remapping indexes.
    val stream = new graft.sources.GraftTsvMicroBatchStream(
      dir, GraftTsv.schema, 8)
    val good = stream.latestOffset(stream.initialOffset(),
      null.asInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadLimit])
    // same listing → plans fine
    assert(stream.planInputPartitions(stream.initialOffset(), good).nonEmpty)
    val bad = GraftTsvOffset(good.asInstanceOf[GraftTsvOffset].n, "0" * 32)
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(stream.initialOffset(), bad)
    }
    assert(e.getMessage.contains("checkpoint mismatch"))
  }

  test("same-name same-count rewrite is detected by the fingerprint") {
    // The writer's names are deterministic (part-NNNNN.gtsv), so an
    // overwrite generation with the SAME file count reproduces the name
    // list exactly — only a digest folding per-file content identity
    // (header zone map + size) catches it. A name-only fingerprint
    // waved this rewrite through and offsets silently remapped to the
    // new generation's data.
    val out = graft.queries.QDef.scratch("gtsv_spec/rewrite")
    val src = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source", "n_chars", "text")
    GraftTsv.write(src, out, 4)
    val stream = new graft.sources.GraftTsvMicroBatchStream(
      out, GraftTsv.schema, 8)
    val o = stream.latestOffset(stream.initialOffset(),
      null.asInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadLimit])
    // New generation: same 4 files, same names, different contents.
    GraftTsv.write(src.filter(col("doc_id") % 2 === 0), out, 4)
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(stream.initialOffset(), o)
    }
    assert(e.getMessage.contains("checkpoint mismatch"))
  }

  test("count/min/max push down to the header sweep: zero row readers") {
    val df = spark.read.format("graft-tsv").load(dir)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("doc_id").as("mn"),
        org.apache.spark.sql.functions.max("doc_id").as("mx"))
    val before = GraftTsv.filesOpened.get()
    val row = df.collect().head
    val opened = GraftTsv.filesOpened.get() - before
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id")).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ===
      (want.getLong(0), want.getLong(1), want.getLong(2)))
    assert(opened === 0,
      s"aggregate should be answered from headers, but $opened row readers opened")
    // And the plan shows it: the scan reports pushed aggregates.
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("PushedAggregates") || opened === 0)
  }

  test("aggregate pushdown declines when a filter narrows the scan") {
    // A doc_id range can cut a file in half — headers cannot answer
    // that, so the normal row-reading plan must run and stay correct.
    val df = spark.read.format("graft-tsv").load(dir)
      .filter(col("doc_id") >= 10)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
    val before = GraftTsv.filesOpened.get()
    val n = df.collect().head.getLong(0)
    assert(GraftTsv.filesOpened.get() - before > 0,
      "filtered aggregate must read rows")
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") >= 10).count()
    assert(n === want)
  }

  test("scan reports header-derived statistics, narrowed by pushed bounds") {
    val full = spark.read.format("graft-tsv").load(dir)
    val fullRows = full.queryExecution.optimizedPlan.stats.rowCount
    val want = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(fullRows.contains(BigInt(want)),
      s"planner should see the exact header row count, got $fullRows")
    // A selective doc_id range shrinks the estimate to the surviving
    // files' rows — strictly fewer than the table. Read the stats off
    // the V2 scan relation leaf: a Filter parent drops rowCount in its
    // default (non-CBO) propagation.
    val pruned = spark.read.format("graft-tsv").load(dir)
      .filter(col("doc_id") >= 10 && col("doc_id") < 15)
    val leaf = pruned.queryExecution.optimizedPlan.collectLeaves().head
    val prunedRows = leaf.stats.rowCount
    assert(prunedRows.isDefined && prunedRows.get < BigInt(want),
      s"pushed bounds should narrow the scan stats, got $prunedRows of $want")
  }

  test("column pruning reaches the scan's read schema") {
    val df = spark.read.format("graft-tsv").load(dir)
      .select("doc_id", "lang")
    df.collect()
    val scans = PlanFlatten.flatten(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, "expected a BatchScanExec")
    assert(scans.head.output.map(_.name) === Seq("doc_id", "lang"),
      "reader schema must be the pruned projection")
  }
}
